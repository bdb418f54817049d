package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Ledger}

/** Streaming ingest for the EXACT near-dup pair index — documents
  * arrive as a stream, each micro-batch pairs ONLY against itself and
  * the persisted history ([[Dedup.extendPairIndex]]: prefix-posting
  * probe + digest verify, cost ∝ batch), so the pair graph — and every
  * audit served from it (q154's leakage, q44b's clusters) — stays
  * current under continuous ingest. The [[RetrievalStream]] pattern
  * applied to the exact dedup tier.
  *
  * Exactly-once end to end, via the index's own batch-stamp protocol:
  *
  *  - Cold start: the first non-empty batch builds the index
  *    ([[Dedup.buildPairIndex]] incremental mode). The existence probe
  *    ([[Ledger.exists]]) checks the commit marker, the build's LAST
  *    write, so a crash mid-build reads as "no index yet" on replay
  *    and the rebuild overwrites the orphaned partial tables. The
  *    build also commits the epoch's own stamp (`commitAlias`), so a
  *    crash AFTER the marker but before the checkpoint commit replays
  *    into the extend path and no-ops there.
  *  - Extends: stamped with `epochId + 1` (stable across replays — the
  *    foreachBatch contract). A committed replay skips; a crashed
  *    replay re-appends byte-identical rows that
  *    [[Dedup.servePairIndex]] collapses. No duplicate pairs, no
  *    batch half-missing from the side tables — the two failure
  *    shapes the unstamped design documented are both closed. Empty
  *    epochs are skipped unstamped: the pairs kind does not fence its
  *    writer, so its stamps may leave gaps ([[Ledger]]).
  *
  * One checkpoint owns one index (stamps are epoch-derived): pointing a
  * NEW checkpoint at an existing index would restart epochs at 0 and
  * collide stamps — the single-writer contract, fenced loudly on the
  * dict by [[Dedup.extendPairIndex]].
  */
object PairIndexStream {

  def start(docs: DataFrame, table: String, path: String,
      threshold: Double, nBuckets: Int = 8): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val sp = batch.sparkSession
        val b = batch.localCheckpoint() // existence probe + both paths share it
        if (!b.isEmpty) {
          if (Ledger.exists(sp, table, "pairs"))
            Dedup.extendPairIndex(sp, b, table, threshold, batchId = epochId + 1)
          else
            Dedup.buildPairIndex(b, table, path, threshold, nBuckets,
              incremental = true, commitAlias = epochId + 1)
        }
        ()
      }
      .start()

  /** CDC ingest: the changelog carries (id, text, op) with op ∈
    * {"add", "delete"} — one stream maintains the pair graph under
    * BOTH verbs. Each epoch folds its adds first (a doc added and
    * deleted in the same batch ends tombstoned — CDC's final-state
    * semantics), then its deletes; the two operations are separately
    * marker-gated under DISJOINT epoch-derived stamps (adds
    * 2·(epoch+1), deletes 2·(epoch+1)+1), so a crash between them
    * replays into "adds no-op, deletes re-run", and a crash inside
    * either collapses by that operation's own protocol
    * ([[Dedup.extendPairIndex]] / [[Dedup.deleteFromPairIndex]]).
    * Deletes arriving before any add has built the index are no-ops
    * (there is nothing to delete; a replay skips identically).
    */
  def startCdc(changelog: DataFrame, table: String, path: String,
      threshold: Double, nBuckets: Int = 8): StreamingQuery =
    changelog.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        foldCdc(batch, epochId, table, path, threshold, nBuckets)
      }
      .start()

  /** One CDC epoch's fold — the [[startCdc]] foreachBatch body, exposed
    * so the driver contract can stage epochs (and their crash windows)
    * against a static changelog: calling it with an epoch's adds only,
    * then with the full epoch, IS the crash-between-verbs replay (the
    * committed add stamp no-ops, the deletes run) — q185 drives exactly
    * that and hash-checks the result cross-engine.
    */
  def foldCdc(batch: DataFrame, epochId: Long, table: String, path: String,
      threshold: Double, nBuckets: Int = 8): Unit = {
    import org.apache.spark.sql.functions.col
    val sp = batch.sparkSession
    val b = batch.localCheckpoint() // adds + deletes share one read
    val adds = b.filter(col("op") === "add").select("id", "text")
    val addStamp = 2L * (epochId + 1)
    if (!adds.isEmpty) {
      if (Ledger.exists(sp, table, "pairs"))
        Dedup.extendPairIndex(sp, adds, table, threshold, batchId = addStamp)
      else
        Dedup.buildPairIndex(adds, table, path, threshold, nBuckets,
          incremental = true, commitAlias = addStamp)
    }
    val dels = b.filter(col("op") === "delete").select("id")
    if (!dels.isEmpty && Ledger.exists(sp, table, "pairs"))
      Dedup.deleteFromPairIndex(sp, dels, table, path,
        batchId = addStamp + 1)
    ()
  }
}

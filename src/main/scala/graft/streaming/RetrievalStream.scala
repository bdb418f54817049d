package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Ledger, RetrievalIndex}

/** Streaming ingest for the persisted inverted index — the
  * [[CurationStream]] pattern applied to retrieval: documents arrive as
  * a stream and each micro-batch tokenizes ONLY ITSELF and appends its
  * postings through the index's bucket spec
  * ([[RetrievalIndex.extend]]), so a continuously-ingesting corpus
  * stays searchable with per-batch cost ∝ batch. `foreachBatch` again:
  * the per-batch work is a write into persisted tables, not an
  * incremental operator state, and queries run on demand against the
  * index rather than inside the stream.
  *
  * Exactly-once end to end, via the index's own batch-stamp protocol
  * (the [[PairIndexStream]] design):
  *
  *  - Cold start: the first non-empty batch builds the table pair
  *    ([[RetrievalIndex.build]]). The existence probe
  *    ([[graft.operators.Ledger.exists]]) checks the commit marker,
  *    build's LAST write, so a crash mid-build
  *    reads as "no index yet" on replay and the rebuild overwrites the
  *    orphaned postings. The build also commits the epoch's own stamp
  *    (`commitAlias`), so a crash AFTER the marker but before the
  *    checkpoint commit replays into the extend path and no-ops there.
  *  - Extends: stamped with `epochId + 1` (stable across replays — the
  *    foreachBatch contract). A committed replay skips; a crashed
  *    replay re-appends byte-identical postings that the serve paths
  *    collapse per (term, doc_id, batch_id), and the ledger's N is
  *    never double-counted (the marker row is the trailing commit).
  *
  * One checkpoint owns one index (stamps are epoch-derived) — the
  * single-writer contract.
  */
object RetrievalStream {

  def start(docs: DataFrame, table: String, path: String,
      nBuckets: Int = 16): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        foldEpoch(batch, epochId, table, path, nBuckets)
      }
      .start()

  /** One epoch's fold — exposed for static staging (the
    * [[PairIndexStream.foldCdc]] / [[IvmJoinStream.foldEpoch]] move):
    * the driver contract and specs replay epochs and crash windows
    * without a streaming runtime.
    */
  def foldEpoch(batch: DataFrame, epochId: Long, table: String,
      path: String, nBuckets: Int = 16): Unit = {
    val sp = batch.sparkSession
    if (Ledger.exists(sp, table, "retrieval"))
      // an EMPTY epoch still extends: zero postings plus a (0, stamp)
      // meta row, so N is unchanged and the stamp ledger stays
      // contiguous — the writer fence requires max(committed) + 1,
      // and a skipped epoch would read as a racing second writer.
      // No checkpoint here: extend scans the batch exactly once (its
      // observed postings write), so pinning would only add a job
      RetrievalIndex.extend(batch, table, batchId = epochId + 1)
    else {
      val b = batch.localCheckpoint() // existence probe + build share it
      if (!b.isEmpty)
        RetrievalIndex.build(b, table, path, nBuckets,
          commitAlias = epochId + 1)
    }
    ()
  }

  /** The POSITIONAL tier's streaming ingest — same shape, phrase-search
    * index: each micro-batch tokenizes only itself and appends position
    * rows through the bucket spec ([[RetrievalIndex.extendPositions]]).
    * Positions are 0-based over each document's OWN token sequence, so
    * streamed increments never renumber anything already indexed.
    */
  def startPositions(docs: DataFrame, table: String, path: String,
      nBuckets: Int = 16): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        foldEpochPositions(batch, epochId, table, path, nBuckets)
      }
      .start()

  /** One positional epoch's fold, static-stageable like [[foldEpoch]].
    * Cold start probes the tier's marker (written LAST by
    * [[RetrievalIndex.buildPositions]]) and records the epoch's own
    * stamp via `commitAlias`; extends stamp `epochId + 1`, and EMPTY
    * epochs still stamp to keep the fence's ledger contiguous.
    */
  def foldEpochPositions(batch: DataFrame, epochId: Long, table: String,
      path: String, nBuckets: Int = 16): Unit = {
    val sp = batch.sparkSession
    if (Ledger.exists(sp, table, "positions"))
      // extendPositions scans the batch once (its positions append) —
      // no checkpoint needed on the hot path (the foldEpoch move)
      RetrievalIndex.extendPositions(batch, table, batchId = epochId + 1)
    else {
      val b = batch.localCheckpoint() // existence probe + build share it
      if (!b.isEmpty)
        RetrievalIndex.buildPositions(b, table, path, nBuckets,
          commitAlias = epochId + 1)
    }
    ()
  }
}

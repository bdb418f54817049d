package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Ledger}

/** Streaming ingest for the persisted MinHash-LSH near-dup index — the
  * [[RetrievalStream]] pattern on the LSH tier. This is the INDEX
  * stream: every document of every micro-batch is hashed and appended
  * (band postings + digest sets, cost ∝ batch), keeping the full
  * corpus's pair graph servable at any point. Contrast
  * [[CurationStream]], the PIPELINE stream, which dedups each batch and
  * indexes only its kept documents — that one answers "what survives
  * curation", this one answers "what near-duplicates exist", and the
  * verb matrix's LSH stream cell is this one.
  *
  * Exactly-once via the index's own batch-stamp protocol (the
  * [[PairIndexStream]] design): cold start probes the commit marker
  * (the build's LAST write, [[graft.operators.Ledger.exists]]) and the
  * build records the
  * epoch's own stamp (`commitAlias`); extends stamp `epochId + 1`
  * (stable across replays — the foreachBatch contract), a committed
  * replay no-ops on the marker, a crashed replay re-appends
  * byte-identical rows (band keys/signatures use the batch-stable
  * [[Dedup.hashedSets]] encoding) that every read path collapses per
  * (keys, batch_id). EMPTY epochs still extend — zero data rows plus
  * the marker — so the stamp ledger stays contiguous for the writer
  * fence ([[graft.operators.Ledger]]). One checkpoint owns one index.
  */
object NearDupStream {

  def start(docs: DataFrame, table: String, path: String,
      k: Int = 5, numHashes: Int = 32, bands: Int = 8): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        foldEpoch(batch, epochId, table, path, k, numHashes, bands)
      }
      .start()

  /** One epoch's fold — exposed for static staging (the
    * [[PairIndexStream.foldCdc]] move): the driver contract and specs
    * replay epochs and crash windows without a streaming runtime.
    * Every batch (including the cold-start build) must use the same
    * hashing parameters — the compatibility the index requires.
    */
  def foldEpoch(batch: DataFrame, epochId: Long, table: String,
      path: String, k: Int = 5, numHashes: Int = 32,
      bands: Int = 8): Unit = {
    val sp = batch.sparkSession
    val b = batch.localCheckpoint() // existence probe + hash pass share it
    if (Ledger.exists(sp, table, "lsh"))
      Dedup.extendNearDupIndex(sp, b, table, batchId = epochId + 1,
        k, numHashes, bands)
    else if (!b.isEmpty)
      Dedup.buildNearDupIndex(b, table, path, k, numHashes, bands,
        commitAlias = epochId + 1)
    ()
  }
}

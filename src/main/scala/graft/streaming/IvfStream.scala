package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{IvfIndex, Ledger}

/** Streaming ingest for the IVF vector index — the [[RetrievalStream]]
  * pattern on the vector tier, closing the verb matrix's last stream
  * cell: vectors arrive as a stream of (id, vec) rows, the first
  * non-empty micro-batch TRAINS the quantizer and builds the index
  * (cold start — [[IvfIndex.build]]'s commit marker is the
  * existence probe, [[graft.operators.Ledger.exists]]), and every later epoch assigns ONLY its own batch
  * under the frozen centroids ([[IvfIndex.extend]], cost ∝ batch).
  *
  * Exactly-once via the index's stamp protocol: stamps are
  * `epochId + 1` (stable across replays — the foreachBatch contract),
  * a committed replay no-ops on the marker, a crashed replay
  * re-appends byte-identical cell rows (assignment is a pure function
  * of the frozen centroids and the batch) that [[IvfIndex.topK]]
  * collapses per (id, batch_id). EMPTY epochs still extend — zero cell
  * rows plus the marker — so the stamp ledger stays contiguous for the
  * writer fence ([[graft.operators.Ledger]]). One checkpoint owns one
  * index; `commitAlias` records the cold-start epoch's own stamp so a
  * crash between the build's marker and the checkpoint commit replays
  * into a no-op extend.
  *
  * The frozen quantizer is the production IVF contract (train once,
  * add many): a cold start over a too-small first batch is refused by
  * [[IvfIndex.build]]'s own centroid floor rather than silently
  * training a degenerate quantizer.
  */
object IvfStream {

  def start(vectors: DataFrame, table: String, path: String,
      nCells: Int = 16, iters: Int = 3, nBuckets: Int = 16): StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        foldEpoch(batch, epochId, table, path, nCells, iters, nBuckets)
      }
      .start()

  /** One epoch's fold — exposed for static staging (the
    * [[PairIndexStream.foldCdc]] move): the driver contract and specs
    * replay epochs and crash windows without a streaming runtime.
    */
  def foldEpoch(batch: DataFrame, epochId: Long, table: String,
      path: String, nCells: Int = 16, iters: Int = 3,
      nBuckets: Int = 16): Unit = {
    val sp = batch.sparkSession
    val b = batch.localCheckpoint() // existence probe + assignment share it
    if (Ledger.exists(sp, table, "ivf"))
      IvfIndex.extend(sp, b, table, batchId = epochId + 1, nBuckets)
    else if (!b.isEmpty)
      IvfIndex.build(b, table, path, nCells, iters, nBuckets,
        commitAlias = epochId + 1)
    ()
  }
}

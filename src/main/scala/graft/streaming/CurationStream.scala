package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Ledger}
import graft.pipeline.DedupPipeline

/** Streaming incremental corpus curation — the streaming twin of
  * [[graft.pipeline.DedupPipeline.runIncremental]]: documents arrive as a
  * stream, each micro-batch deduplicates within itself and against the
  * persisted near-dup index of everything kept so far, and the batch's
  * kept docs extend the index for the next micro-batch. History is never
  * re-hashed — per-batch cost is proportional to the batch, which is what
  * keeps a continuously-ingesting 100 TB corpus curatable at all.
  *
  * `foreachBatch` is the right tool here, not incremental streaming
  * operators: the per-batch work is a full multi-join DAG (LSH probe,
  * connected components, keep-list arithmetic) that has no incremental
  * formulation, while the STATE between batches lives in the persisted
  * index tables rather than in operator state stores.
  *
  * Exactly-once via the index's own batch-stamp protocol (the
  * [[PairIndexStream]] design): extends are stamped with `epochId + 1`
  * (stable across replays — the foreachBatch contract), a committed
  * replay skips, a crashed replay re-appends byte-identical rows that
  * every index read collapses per (keys, batch_id). Cold start probes
  * the commit marker ([[graft.operators.Ledger.exists]], the build's
  * LAST write) and the
  * build records the epoch's own stamp (`commitAlias`) so a crash
  * between the marker and the checkpoint commit replays into a no-op
  * extend. NOTE the keepSink is still at-least-once: idempotence there
  * is the sink's contract, as everywhere in foreachBatch land.
  */
object CurationStream {

  /** Start the curation stream.
    *
    * @param docs       streaming frame with (id: long, text: string)
    * @param indexTable near-dup index table pair name; created on the
    *                   first non-empty batch if absent (cold start runs
    *                   the full [[DedupPipeline.run]] and indexes its keep)
    * @param indexPath  storage path for a cold-start index build
    * @param k,numHashes,bands index hashing parameters — every batch
    *                   (including the cold-start build) uses the same
    *                   values, the compatibility the index requires
    * @param keepSink   called once per non-empty micro-batch with the
    *                   batch's KEPT (id, text) rows and the batch id
    */
  def start(docs: DataFrame, indexTable: String, indexPath: String,
      threshold: Double = 0.8, k: Int = 5, numHashes: Int = 32,
      bands: Int = 8)(keepSink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        // the pipeline runs several actions over the batch (stats, CC,
        // probes) — pin the micro-batch once
        val b = batch.localCheckpoint()
        if (Ledger.exists(sp, indexTable, "lsh")) {
          if (b.isEmpty)
            // an EMPTY epoch still stamps its marker (zero data rows):
            // the writer fence requires max(committed) + 1, and a
            // skipped epoch would read as a racing second writer
            Dedup.extendNearDupIndex(sp, b, indexTable, batchId + 1,
              k, numHashes, bands)
          else
            // runIncremental already pins keep before the index append
            keepSink(DedupPipeline.runIncremental(sp, b, indexTable,
              batchId + 1, threshold, k = k, numHashes = numHashes,
              bands = bands).keep, batchId)
        } else if (!b.isEmpty) {
          val keep0 = DedupPipeline.run(sp, b, threshold).keep
            .localCheckpoint() // consumed by the index build AND the sink
          Dedup.buildNearDupIndex(keep0, indexTable, indexPath,
            k, numHashes, bands, commitAlias = batchId + 1)
          keepSink(keep0, batchId)
        }
      }
      .start()
}

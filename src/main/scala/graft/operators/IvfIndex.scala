package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted incremental IVF ANN index — "train the quantizer once,
  * assign every future batch against it": the [[VectorOps.ivfTopK]]
  * contract as maintained state, the vector sibling of the exact/LSH
  * document indexes ([[Dedup.buildPairIndex]] family).
  *
  * Three tables: `_centroids` (cell, cvec — the FROZEN quantizer,
  * nCells×dim doubles, bounded metadata), `_cells` (id, vec, cell,
  * batch_id — the inverted file, bucketed by cell so probes read only
  * the probed buckets), and the `_batches` commit marker (written LAST,
  * the house crash contract). Extends assign ONLY the batch under the
  * frozen centroids — cost ∝ batch, no retraining, and every batch's
  * assignment is a pure function of (centroids, batch), so crashed
  * replays re-append byte-identical rows that [[topK]] collapses per
  * (id, batch_id).
  *
  * Freezing the quantizer is the production IVF contract (FAISS's
  * train-once/add-many): recall drifts only as the data distribution
  * drifts, and the answer to that is a retrain + rebuild, not silent
  * per-batch centroid movement that would re-cell historical vectors.
  */
object IvfIndex {

  /** `commitAlias` (streaming): record the given stamp as committed in
    * the same marker write, so a cold-start epoch's replay after a
    * crash between the marker and the checkpoint commit no-ops as an
    * extend — the [[graft.streaming.IvfStream]] contract, exactly as
    * in [[RetrievalIndex.build]].
    */
  def build(corpus: DataFrame, table: String, path: String,
      nCells: Int = 16, iters: Int = 3, nBuckets: Int = 16,
      commitAlias: Long = -1L): Unit = {
    val c = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .localCheckpoint() // training iterations + the assignment share it
    val centroids = VectorOps.trainIvfCentroids(c, nCells, iters)
    require(centroids.length >= 2,
      s"IvfIndex.build: corpus has ${centroids.length} vectors — an inverted " +
        "file over < 2 cells is meaningless; use VectorOps.bruteForceTopK")
    val spark = c.sparkSession
    spark.createDataFrame(
        centroids.toIndexedSeq.zipWithIndex.map { case (p, i) => (i, p.toSeq) })
      .toDF("cell", "cvec")
      .coalesce(1) // nCells rows — one file
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"$path/centroids").format("parquet")
      .saveAsTable(s"${table}_centroids")
    graft.sources.TableWriter.writeBucketed(
      c.withColumn("cell", VectorOps.ivfCellOf(centroids, col("vec")))
        .withColumn("batch_id", lit(0L)),
      s"${table}_cells", s"$path/cells", "cell", nBuckets)
    Ledger.built(spark, table, "ivf", path, commitAlias)
  }

  /** The frozen quantizer, read back as the literal matrix every assign
    * and probe compiles against (bounded: nCells×dim doubles).
    */
  private def centroidsOf(spark: SparkSession, table: String): Array[Array[Double]] =
    spark.table(s"${table}_centroids").orderBy("cell")
      .select("cvec").collect().map(_.getSeq[Double](0).toArray)

  def extend(spark: SparkSession, batch: DataFrame, table: String,
      batchId: Long, nBuckets: Int = 16): Unit =
    Ledger.commit(spark, table, "ivf", batchId) {
      val centroids = centroidsOf(spark, table)
      batch.select(col("id"), col("vec").cast("array<double>").as("vec"))
        .withColumn("cell", VectorOps.ivfCellOf(centroids, col("vec")))
        .withColumn("batch_id", lit(batchId))
        .repartition(nBuckets, col("cell")) // one file per bucket, as at build
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .insertInto(s"${table}_cells")
    }

  /** The [[VectorOps.ivfTopK]] contract served from the persisted
    * index: probe each query's nProbe nearest cells under the frozen
    * quantizer, rank candidates by rounded cosine. Replayed appends
    * collapse per (id, batch_id) — grouping includes the bucket column's
    * co-resident id, and the probed-cell filter lands before the
    * collapse, so bucket pruning is untouched. Tombstoned vectors
    * ([[deleteIds]]) drop from the CANDIDATE side only — queries are
    * caller-supplied and unaffected.
    */
  def topK(spark: SparkSession, table: String, queries: DataFrame,
      k: Int, nProbe: Int = 4, scale: Int = 4,
      asOf: Long = Long.MaxValue): DataFrame = {
    // `asOf` pins the search to a version of the inverted file: cell
    // assignment is a pure function of the FROZEN centroids and the
    // vector, so the stamp cut is exactly the file as of that batch;
    // tombstones cut at the same stamp. Valid back to the last compact.
    val centroids = centroidsOf(spark, table)
    val assigned = Frontier.purge(spark, table, "ivf",
      spark.table(s"${table}_cells").filter(col("batch_id") <= asOf)
        .dropDuplicates("id", "cell", "batch_id").drop("batch_id"), asOf)
    VectorOps.ivfServe(assigned, queries, centroids, k, nProbe, scale)
  }

  /** Tombstone vectors out of the index: the [[Frontier]] protocol. */
  def deleteIds(spark: SparkSession, ids: DataFrame, table: String,
      path: String, batchId: Long): Unit =
    Ledger.commit(spark, table, "ivf", batchId)(
      Frontier.append(ids, table, "ivf", path, batchId))

  /** DESCRIBE INDEX on the IVF tier — (live_vectors, n_cells,
    * tombstoned): the inverted file's coverage under the same
    * replay/tombstone collapses [[topK]] applies, plus the frozen
    * quantizer's size (extends must never change it — the row doubles
    * as a freeze check). Bounded aggregates, no corpus rescan.
    */
  def describe(spark: SparkSession, table: String): DataFrame = {
    val live = Frontier.purge(spark, table, "ivf",
      spark.table(s"${table}_cells")
        .dropDuplicates("id", "cell", "batch_id"))
      .select("id").distinct()
    // the scalar legs ride the returned plan as 1×1 crossJoined
    // aggregates — no eager jobs inside the verb (the
    // [[RetrievalIndex.describe]] move); values identical
    live.agg(count(lit(1)).as("live_vectors"))
      .crossJoin(spark.table(s"${table}_centroids")
        .agg(count(lit(1)).as("n_cells")))
      .crossJoin(Frontier.tombstoned(spark, table, "ivf"))
  }

  /** Fold the inverted file back to batch 0 ([[Ledger.Compaction]]);
    * the frozen centroids are untouched — compaction never moves a cell
    * boundary. `preserveNamespace` keeps the max committed stamp so a
    * checkpointed [[graft.streaming.IvfStream]] resumes over the
    * compacted file ([[graft.core.WriterFence.compactKeepStamps]]).
    */
  def compact(spark: SparkSession, table: String, path: String,
      nBuckets: Int = 16, preserveNamespace: Boolean = false): Unit = {
    val ledger = Ledger.compaction(spark, table, "ivf", path, preserveNamespace)
    ledger.rewrite("cells", Seq("id", "cell"), "cell", nBuckets)
    ledger.commit()
  }
}

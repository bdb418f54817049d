package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) made
  * DETERMINISTIC: every node adopts the most frequent label among its
  * neighbors AND itself each round, ties broken by the smallest label —
  * no random order, no async sweep, so the same graph yields the same
  * communities on any partitioning and on the DuckDB twin. The
  * self-vote is the standard damping against synchronous LPA's
  * two-cycle oscillation (an isolated edge under pure neighbor voting
  * swaps labels forever; with the self-vote and min-label ties it
  * converges to the smaller endpoint's label in one round).
  *
  * Scale shape per iteration: one equi-join (edges ⋈ labels on the
  * neighbor end), one (node, label)-keyed count, one per-node argmax.
  * The argmax window partitions by node over at most degree(v) distinct
  * labels — bounded per key, never global. Labels are checkpointed per
  * round (the PageRank lineage-truncation move). Community count and
  * membership are emergent; the caller aggregates.
  *
  * Unlike connected components (A4), LPA respects edge DENSITY: a
  * bridge edge between two dense clusters does not merge them, which is
  * why curation uses it to find coherent co-occurrence groups rather
  * than mere reachability.
  */
object LabelPropagation {

  /** Final (id, label) after `iters` synchronous rounds over the
    * undirected edge set `edges(src, dst)`. Input self-loops are
    * dropped, then every node gets exactly one self-vote edge.
    */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val und0 = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(edges.select(col("dst").as("u"), col("src").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val und = und0
      .unionAll(und0.select(col("u")).distinct()
        .select(col("u"), col("u").as("v")))
      .localCheckpoint()
    var labels = und0.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    // labels are node-sized but checkpointed (no stats), so unhinted
    // every round sort-merge-shuffled the full undirected edge list to
    // join them
    val hinted = graft.core.BroadcastGate.hint(labels.count()) _
    val w = Window.partitionBy("id").orderBy(col("c").desc, col("lbl").asc)
    var it = 0
    while (it < iters) {
      labels = und
        .join(hinted(labels.withColumnRenamed("id", "v")), "v")
        .groupBy(col("u").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("id", "lbl")
        .localCheckpoint()
      it += 1
    }
    labels
  }

  /** DuckDB twin: the same `iters` rounds unrolled as chained CTEs over
    * an `sed(src, dst)` relation (append after an edge CTE) — the
    * PageRank/BPE unroll move. Yields `l$iters(id, lbl)`.
    */
  def unrolledSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""l$i AS (
      SELECT id, lbl FROM (
        SELECT u AS id, lbl, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY u ORDER BY COUNT(*) DESC, lbl ASC) AS rn
        FROM und JOIN l${i - 1} ON l${i - 1}.id = und.v
        GROUP BY u, lbl)
      WHERE rn = 1)"""
    }.mkString(",\n    ")
    s"""und0 AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM sed
        UNION ALL SELECT dst AS u, src AS v FROM sed)
      WHERE u != v),
    und AS (
      SELECT u, v FROM und0
      UNION ALL SELECT DISTINCT u, u FROM und0),
    l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM und0),
    $steps""".trim
  }
}

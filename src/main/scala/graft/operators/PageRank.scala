package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Fixed-iteration PageRank as pure DataFrame joins — the iterative-graph
  * complement to [[ConnectedComponents]]: CC answers "which nodes belong
  * together", PageRank answers "which nodes matter".
  *
  * Each iteration is one (edges ⋈ ranks ⋈ out-degrees) shuffle plus a
  * grouped sum — the standard distributed formulation, cost ∝ |E| per
  * iteration with no driver-side state beyond the node count. Lineage is
  * truncated per iteration (`localCheckpoint`), otherwise `iters` chained
  * joins compile an exponentially growing plan.
  *
  * Deterministic by construction: contribution sums are decimal-cast
  * ([[graft.core.Num]] discipline), so partial-aggregation order across
  * executors cannot change a rank, and an external engine unrolling the
  * same iterations reproduces every value bit-for-bit — which is how the
  * q80 oracle checks this without any tolerance.
  *
  * Dangling nodes: callers feeding a SYMMETRIC edge set (e.g.
  * co-occurrence graphs) have none — every node with an in-edge has an
  * out-edge. For directed graphs with sinks, add the standard dangling
  * mass redistribution before trusting the ranks as probabilities.
  */
object PageRank {

  /** @param edges directed (src: long, dst: long), pre-deduplicated
    * @param iters number of full power iterations (fixed, not converged:
    *              determinism and oracle parity beat adaptive stopping)
    * @return (id, pr) for every node appearing in `edges`
    */
  def run(spark: SparkSession, edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count() // bounded: one long
    if (n == 0) return nodes.withColumn("pr", lit(0.0)) // empty graph: no 1/0
    // degree rides on the edge row, joined ONCE before the loop (after the
    // empty-graph return — an eager checkpoint before it would do wasted
    // jobs on degenerate input) — the iteration then pays a single join
    // over the checkpointed edge table. (A count-over-src window — "one
    // shuffle, no join" — was tried here and showed no improvement; its
    // reading sat inside q80's large cross-process spread, see
    // docs/BENCH_NOTES.md, and the window's full-edge-set sort+buffer has
    // no scale advantage over the partial-agg shuffle + join, so the
    // simpler original shape is kept.)
    val ew = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint()
    // ranks are node-sized: hint the build side from the measured node
    // count
    val hinted = graft.core.BroadcastGate.hint(n) _

    var pr = nodes.withColumn("pr", lit(1.0 / n))
    var it = 0
    while (it < iters) {
      val contribs = ew
        .join(hinted(pr.withColumnRenamed("id", "src")), "src")
        .select(col("dst").as("id"), (col("pr") / col("deg")).as("c"))
        .groupBy("id")
        .agg(sum(col("c").cast(DecimalType(38, 18))).cast(DoubleType).as("s"))
      // contribs is node-sized (one row per dst) — the same measured
      // gate lets the rank update build it as a broadcast hash join
      // instead of sort-merge-shuffling BOTH node-sized sides each
      // iteration (visible in plans/r14/q80_*: SortMergeJoin LeftOuter
      // → BroadcastHashJoin LeftOuter, 2 exchanges fewer per iteration)
      pr = nodes.join(hinted(contribs), Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / n) + lit(damping) * coalesce(col("s"), lit(0.0))).as("pr"))
      it += 1
      // lineage truncation with a STRIDE, not per iteration: each rank
      // frame feeds exactly one consumer (the next iteration's contrib
      // join, or the caller), so nothing is ever recomputed without a
      // checkpoint — the checkpoint only bounds PLAN depth. Truncating
      // every 4th iteration keeps long runs plannable while a short run
      // (q80's 3 iterations) evaluates as one job with no intermediate
      // materializations. Values are bit-identical either way (same
      // decimal-exact arithmetic, checkpoints never change rows).
      if (it % 4 == 0 && it < iters) pr = pr.localCheckpoint()
    }
    pr
  }

  /** DuckDB twin: the same `iters` power iterations unrolled as chained
    * CTEs over an `ed(src, dst)` relation (append after an edge CTE).
    * Must mirror [[run]] EXACTLY — same 1/n init, same decimal-cast sum,
    * same (1−d)/n + d·s arithmetic — or the cross-engine hash breaks.
    */
  def unrolledSql(iters: Int, damping: Double = 0.85): String = {
    // the teleport numerator is PRE-computed in IEEE doubles and emitted
    // as a round-trip literal: DuckDB would evaluate `1.0 - 0.85` in
    // DECIMAL (exact 0.15, a different double after conversion than the
    // JVM's 1.0-0.85 = 0.15000000000000002), a 2-ulp divergence that
    // round() usually — but not always — masks
    val teleport = java.lang.Double.toString(1.0 - damping)
    val init = s"""
    deg AS (SELECT src, COUNT(*) AS deg FROM ed GROUP BY src),
    nodes AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
    pr0 AS (SELECT id, 1.0 / nn.cnt AS pr FROM nodes, nn)"""
    val steps = (1 to iters).map { i =>
      val prev = s"pr${i - 1}"
      s"""
    s$i AS (SELECT e.dst AS id,
                   CAST(SUM(CAST(p.pr / deg.deg AS DECIMAL(38,18))) AS DOUBLE) AS s
            FROM ed e JOIN $prev p ON e.src = p.id JOIN deg ON e.src = deg.src
            GROUP BY e.dst),
    pr$i AS (SELECT nodes.id,
                    CAST($teleport AS DOUBLE) / nn.cnt
                      + CAST($damping AS DOUBLE) * COALESCE(s$i.s, 0.0) AS pr
             FROM nodes CROSS JOIN nn LEFT JOIN s$i ON nodes.id = s$i.id)"""
    }
    (init +: steps).mkString(",")
  }
}

package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The measured broadcast gate for frames Spark cannot size: a
  * checkpointed frame carries no statistics, so it never auto-broadcasts
  * and every join against it sort-merge-shuffles the other side. The
  * graph loops therefore hint such a build side from a bound they
  * measured (a node or edge count). [[MaxRows]] = 6M rows builds a hash
  * relation of about 100 MB, the same byte budget as the other measured
  * broadcast gates (Dedup, `VectorOps.cosinePairs`); the loops rebuild
  * the relation every iteration, so an oversized hint would hurt once
  * per round. Past the gate the hint disengages and the shuffle join is
  * the at-scale shape.
  */
object BroadcastGate {
  val MaxRows: Long = 6000000L

  /** The budget for answering on the driver: a plan whose optimizer size
    * estimate (`optimizedPlan.stats.sizeInBytes`) is within it may be
    * collected whole. It is Spark's own default broadcast threshold
    * (`spark.sql.autoBroadcastJoinThreshold`, 10 MB), the size Spark
    * already collects to the driver to build a broadcast side from the
    * same estimate; `docs/BENCH_NOTES.md` records the driver heap such a
    * collect retains.
    */
  val MaxCollectBytes: Long = 10L * 1024 * 1024

  /** The budget of candidate pairs a driver tier may enumerate once its
    * input is collected: [[MaxCollectBytes]] bounds the rows, not the
    * pairs, and blocked pair work is quadratic in the block sizes. It is
    * `ConnectedComponents.run`'s default `localThreshold`: when no pair
    * is pruned every candidate can become an edge, and the driver's
    * union-find then gets an edge array no longer than the one that
    * path collects.
    * `docs/BENCH_NOTES.md` ("The entity-resolution pair budget") records
    * the driver time per candidate pair, pruned and unpruned.
    */
  val MaxLocalPairs: Long = 1000000L

  /** `broadcast(df)` while the measured bound `rows` is within
    * [[MaxRows]], else `df` unchanged.
    */
  def hint(rows: Long)(df: DataFrame): DataFrame =
    if (rows <= MaxRows) broadcast(df) else df

  /** Whether a plan of `estimatedBytes` is within [[MaxCollectBytes]]. */
  def collects(estimatedBytes: BigInt): Boolean = estimatedBytes <= MaxCollectBytes
}

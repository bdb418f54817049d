package etlbench

import org.apache.spark.sql.SparkSession

/** What one pass reports beside its wall time: the time its durable
  * writes took to return, and any per-operation latency samples.
  */
final case class PassOut(commitMs: Double, samples: Map[String, Seq[Double]] = Map.empty)

/** One workload: inputs made in set-up, then a cold pass, a fixed count of
  * untimed warm-up passes and a fixed count of timed passes. Every pass is
  * a closed-loop client's sequence of calls into the program.
  */
trait Workload {
  def name: String
  /** Untimed passes after the cold one, before the timed ones. */
  def warmup: Int
  def timed: Int

  /** Generate the inputs of `passes` passes from `seed` under `dir` and
    * return their digest.
    */
  def generate(spark: SparkSession, dir: String, seed: Long, passes: Int): String

  def pass(i: Int, span: Spans): PassOut

  /** Check pass `i`'s outputs; returns one message per failed check. */
  def check(i: Int): Seq[String]

  /** Drop what pass `i` left behind that the next pass does not need. */
  def cleanup(i: Int): Unit

  /** Ratio metrics measured by the harness (traced runs only). */
  def ratios(counters: Map[String, Double]): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "reference_etl" => new ReferenceEtl
    case "corpus_index" => new CorpusIndex
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteTree(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteTree)
    f.delete()
    ()
  }

  /** Between passes: cached data, persisted RDDs (checkpoints included)
    * and garbage go, so no pass inherits the previous one's memory.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

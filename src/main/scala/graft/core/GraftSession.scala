package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured: the CLI mains and
  * the test suites all build through [[local]], so the specs run the
  * same shuffle writer, time zone and partition count rule that
  * Verify and Bench run.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, default 4: the local core count the mains use. */
  lazy val envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** A `local[cpus]` session (or the already-running one) with
    * `cpus` shuffle partitions, the UI off and the log level at WARN.
    *
    * - Session time zone UTC: `Tables.events`' NTZ→timestamp cast is
    *   session-time-zone-dependent, so without it a non-UTC host would
    *   compute different event instants than the ones oracle-checked.
    * - `spark.shuffle.sort.bypassMergeThreshold=0`: always use the
    *   sort-based shuffle writer (one output file per map task) instead
    *   of the bypass-merge writer (one file PER REDUCER per map task —
    *   at R reducers that is M×R file creates per shuffle, measured
    *   2.3× slower on local disk for a 100k-row groupBy). At
    *   production partition counts R exceeds the 200-partition bypass
    *   ceiling and the bypass writer never engages anyway; 0 makes the
    *   local runs take the same writer path.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

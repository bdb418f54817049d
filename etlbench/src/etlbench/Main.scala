package etlbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM:
  *
  *  1. set-up: start a session and generate the inputs; the result line
  *     carries the wall-clock time set-up ended (`setup_end_ms`), so the
  *     launcher can time set-up from process start;
  *  2. one cold pass (`first_pass_s`);
  *  3. the workload's fixed count of untimed warm-up passes;
  *  4. its fixed count of timed passes (`job_s` is their median). A traced
  *     run records these passes for the per-layer counters; its
  *     `pass.wall_ms` less an untraced run's `job_s` is the tracing
  *     overhead.
  *
  * Outputs are checked after the cold and every timed pass, outside the
  * timed windows. Prints one `ETLBENCH_RESULT {json}` line on stdout.
  *
  * Usage: Main --workload W --seed N --trace 0|1 --run-dir DIR --cores C
  */
object Main {
  def session(dir: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Median of a non-empty sample (mean of the middle two when even). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload(opts("workload"))
    val seed = opts("seed").toLong
    val traced = opts.getOrElse("trace", "0") == "1"
    val dir = new java.io.File(opts("run-dir")).getAbsolutePath
    val cores = opts.getOrElse("cores", "4").toInt

    val spark = session(dir, cores)
    val span = new Spans(spark.sparkContext)
    val digest = span.phase("gen")(w.generate(spark, s"$dir/data", seed, 1 + w.warmup + w.timed))
    val setupEndMs = System.currentTimeMillis()

    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val walls = mutable.ArrayBuffer.empty[Double]
    val commits = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val recorder = new Recorder
    val passWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    val overheadMs = mutable.ArrayBuffer.empty[Double]

    def runPass(i: Int, checked: Boolean, record: Boolean): (Double, PassOut) = {
      if (record) spark.sparkContext.addSparkListener(recorder)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val out = w.pass(i, span)
      val ms = (System.nanoTime() - n0) / 1e6
      if (record) {
        passWindows += ((t0, System.currentTimeMillis()))
        org.apache.spark.etlbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
      } else span.clear()
      val c0 = System.nanoTime()
      if (checked) {
        attempted += 1
        val bad = span.phase("check")(w.check(i))
        if (bad.nonEmpty) failures += s"pass $i: ${bad.mkString("; ")}"
      }
      w.cleanup(i)
      overheadMs += (System.nanoTime() - c0) / 1e6
      (ms, out)
    }

    val (coldMs, _) = runPass(0, checked = true, record = false)
    (1 to w.warmup).foreach(i => runPass(i, checked = false, record = false))
    (w.warmup + 1 to w.warmup + w.timed).foreach { i =>
      val (ms, out) = runPass(i, checked = true, record = traced)
      walls += ms; commits += out.commitMs
      out.samples.foreach { case (k, v) => samples(k) = samples.getOrElse(k, Nil) ++ v }
    }
    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      val counters = Attribution(Attribution.Window(span.closed.toSeq, recorder.jobs.toSeq,
        recorder.tasks.toSeq, recorder.stageJob), passWindows.toSeq)
      counters.foreach { case (k, v) => layer(k) = v / w.timed }
      layer ++= w.ratios(counters)
      samples.get("serve_ms").foreach(s => layer("serve_ms_p50") = median(s))
      samples.get("replica_lag_ms").foreach(s => layer("replica_lag_ms_p50") = median(s))
    }

    spark.stop()
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage

    val metrics = Map(
      "first_pass_s" -> coldMs / 1000.0,
      "job_s" -> median(walls.toSeq) / 1000.0,
      "commit_ms_p50" -> median(commits.toSeq),
      "retained_heap_mb" -> mem.getUsed / 1048576.0)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    println("ETLBENCH_RESULT " + json.writeValueAsString(Map(
      "workload" -> w.name, "seed" -> seed, "traced" -> traced,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "metrics" -> metrics, "layer" -> layer,
      "samples" -> (Map("pass_ms" -> walls.toSeq, "commit_ms" -> commits.toSeq,
        "check_and_cleanup_ms" -> overheadMs.toSeq) ++ samples),
      "passes" -> Map("cold" -> 1, "warmup" -> w.warmup, "timed" -> w.timed),
      "setup_end_ms" -> setupEndMs,
      "heap_max_mb" -> mem.getMax / 1048576.0,
      "input_digest" -> digest)))
  }
}

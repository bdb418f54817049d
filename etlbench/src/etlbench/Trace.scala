package etlbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Layer attribution from outside the program: a [[SparkListener]] records
  * every job, stage and task, and [[Spans]] records the wall interval of
  * each call the harness makes into a module's public function. Nothing
  * inside the program is instrumented.
  *
  * A job belongs to the span whose `etlbench.span` local property it
  * carries (Spark copies local properties to the threads it submits
  * from); a job without one belongs to the span open when it was
  * submitted. Its module ("call site") is the first `graft.<module>`
  * frame of its call stack; a job with no such frame was triggered by
  * the harness materialising a span's result and takes the span's module,
  * and jobs outside every span are the harness's own (`bench.gen`,
  * `bench.check`).
  */
final class Recorder extends SparkListener {
  final case class Job(id: Int, submitted: Long, span: String, site: String)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuMs: Double, deserMs: Long, gcMs: Long, shuffleWrite: Long,
      input: Long, output: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Spans.SpanKey))).getOrElse("")
    val phase = props.flatMap(p => Option(p.getProperty(Spans.PhaseKey))).getOrElse("")
    e.stageInfos.foreach(s => if (!stageJob.contains(s.stageId)) stageJob(s.stageId) = e.jobId)
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val site = Recorder.module(details).getOrElse(if (phase.nonEmpty) s"bench.$phase" else "")
    jobs += Job(e.jobId, e.time, span, site)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime / 1e6, m.executorDeserializeTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
  }
}

object Recorder {
  private val Frame = """^\s*graft\.([A-Za-z]+)\.""".r.unanchored

  /** `graft.<module>` of the deepest program frame in a call site. */
  def module(details: String): Option[String] =
    details.split("\n").iterator.collectFirst { case Frame(m) => m }
}

/** Spans around the harness's calls into the program, attributed to
  * Spark work while a [[Recorder]] is attached.
  */
final class Spans(sc: SparkContext) {
  final case class Span(name: String, start: Long, end: Long)
  val closed = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Spans.SpanKey)
    sc.setLocalProperty(Spans.SpanKey, name)
    val t0 = System.currentTimeMillis()
    try f finally {
      closed += Span(name, t0, System.currentTimeMillis())
      sc.setLocalProperty(Spans.SpanKey, prev)
    }
  }

  /** Run `f` as harness work of the given phase (`gen` or `check`). */
  def phase[T](name: String)(f: => T): T = {
    sc.setLocalProperty(Spans.PhaseKey, name)
    try f finally sc.setLocalProperty(Spans.PhaseKey, null)
  }

  def clear(): Unit = closed.clear()
}

object Spans {
  val SpanKey = "etlbench.span"
  val PhaseKey = "etlbench.phase"

  /** The module a span calls into: `operators.RetrievalIndex.topK` → `operators`. */
  def moduleOf(span: String): String = span.takeWhile(_ != '.')
}

/** Per-span and per-module counters over a traced window. */
object Attribution {
  /** Measure of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def busy(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var cur = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    covered
  }

  final case class Window(spans: Seq[Spans#Span], jobs: Seq[Recorder#Job],
      tasks: Seq[Recorder#Task], stageJob: collection.Map[Int, Int])

  /** Counters summed per span name, per `graft` module, and over whole
    * passes (`passes` = the pass intervals).
    */
  def apply(w: Window, passes: Seq[(Long, Long)]): Map[String, Double] = {
    // job → owning span interval: by property, else by submission time
    val jobSpan: Map[Int, Spans#Span] = w.jobs.flatMap { j =>
      val bySpan = w.spans.filter(s => s.start <= j.submitted && j.submitted <= s.end)
      val s = bySpan.find(_.name == j.span).orElse(bySpan.headOption)
      s.map(j.id -> _)
    }.toMap
    val jobSite: Map[Int, String] = w.jobs.map { j =>
      j.id -> (if (j.site.nonEmpty && !j.site.startsWith("bench.")) j.site
               else jobSpan.get(j.id).map(s => Spans.moduleOf(s.name)).getOrElse(j.site))
    }.toMap
    def taskJob(t: Recorder#Task) = w.stageJob.get(t.stage)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    def taskSums(prefix: String, ts: Seq[Recorder#Task]): Unit = {
      add(s"$prefix.tasks", ts.size)
      add(s"$prefix.task_ms", ts.map(_.runMs).sum)
      add(s"$prefix.cpu_ms", ts.map(_.cpuMs).sum)
      add(s"$prefix.deser_ms", ts.map(_.deserMs).sum)
      add(s"$prefix.gc_ms", ts.map(_.gcMs).sum)
      add(s"$prefix.shuffle_write_bytes", ts.map(_.shuffleWrite).sum)
      add(s"$prefix.input_bytes", ts.map(_.input).sum)
      add(s"$prefix.output_bytes", ts.map(_.output).sum)
    }
    // spans
    w.spans.foreach { s =>
      val js = jobSpan.collect { case (j, sp) if sp eq s => j }.toSet
      val ts = w.tasks.filter(t => taskJob(t).exists(js.contains))
      add(s"${s.name}.wall_ms", s.end - s.start)
      add(s"${s.name}.driver_ms",
        (s.end - s.start) - busy(ts.map(t => (t.launch, t.finish)), s.start, s.end))
      add(s"${s.name}.jobs", js.size)
      taskSums(s.name, ts)
    }
    // modules, by call site, over the pass windows
    def inPasses(t: Long) = passes.exists { case (a, b) => a <= t && t <= b }
    val passJobs = w.jobs.filter(j => inPasses(j.submitted)).map(_.id).toSet
    passJobs.groupBy(jobSite).foreach { case (m, js) =>
      add(s"site.$m.jobs", js.size)
      add(s"site.$m.task_ms",
        w.tasks.filter(t => taskJob(t).exists(js.contains)).map(_.runMs).sum)
    }
    // whole passes
    val passTasks = w.tasks.filter(t => taskJob(t).exists(passJobs.contains))
    passes.foreach { case (a, b) =>
      add("pass.wall_ms", b - a)
      add("pass.driver_ms", (b - a) - busy(passTasks.map(t => (t.launch, t.finish)), a, b))
    }
    add("pass.jobs", passJobs.size)
    taskSums("pass", passTasks)
    out.toMap
  }
}

package graft.core

/** Concurrent independent Spark actions (optimization guide §2.6,
  * "overlap independent jobs"): a metadata-tier verb that runs N
  * independent per-table jobs SEQUENTIALLY pays N × (planning +
  * scheduling + commit round-trips) of driver latency — measured at
  * 60–120 ms per action in this environment even for KB-sized tables,
  * which dominates the snapshot/maintenance ladders. Running them from
  * a small pool overlaps those fixed latencies while Spark's scheduler
  * interleaves the (tiny) task sets; at 100 TB the same overlap
  * back-fills executors freed by one table's write tail with the next
  * table's tasks.
  *
  * The house precedent is [[graft.operators.IvmJoin]]'s concurrent
  * three-log build/compact (Future + Await over the global pool); this
  * helper just names the move and PRESERVES INPUT ORDER in the result,
  * so manifest/report assembly downstream is byte-identical to the
  * sequential code.
  *
  * Failure semantics (round-13 advice, high): ALL items are joined
  * before any failure propagates — a fail-fast Await would return
  * while sibling futures keep mutating detached, which races the
  * callers' recovery paths (followLineage's reseed drops + restores
  * the very tables an orphaned sibling append could still land into;
  * restoreFleet's precheck exists to rule out half-landed fleets).
  * After the join, the FIRST failing item in input order rethrows —
  * the exception a sequential loop whose earlier items succeeded would
  * have thrown. Each task body runs under `blocking{}` so the global
  * pool spawns compensation threads deterministically instead of
  * relying on Await's managed blocking for nested overlap.
  *
  * Each item runs with the CALLER's Spark local properties (job group,
  * scheduler pool, trace tags), captured at submit time and set on the
  * worker for that item only, so the jobs an item submits are
  * attributed to the caller; the worker's own are restored afterwards.
  */
object Par {

  def run[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.sizeIs <= 1) items.map(f)
    else {
      import scala.concurrent._
      import scala.util.{Failure, Try}
      import org.apache.spark.graft.LocalProperties
      implicit val ec: ExecutionContext = ExecutionContext.global
      val props = LocalProperties.capture()
      val joined = Await.result(
        Future.sequence(items.map(a =>
          Future(Try(blocking(LocalProperties.withCaptured(props)(f(a))))))),
        duration.Duration.Inf)
      joined.collectFirst { case Failure(e) => e }.foreach(throw _)
      joined.map(_.get)
    }
}

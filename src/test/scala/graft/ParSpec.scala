package graft

import org.apache.spark.graft.JobCount

import graft.core.Par

/** `Par.run` workers run each item with the caller's Spark local
  * properties: jobs they submit carry the caller's tags, and a property
  * set by one caller never reaches another caller's jobs. */
class ParSpec extends SparkSpec {

  test("JobCount.of counts the jobs that Par.run workers submit") {
    val sc = spark.sparkContext
    val (_, jobs) = JobCount.of(sc)(Par.run(1 to 6)(i => spark.range(i).collect()))
    assert(jobs == 6)
  }

  test("a local property set by one Par.run caller never reaches another caller's jobs") {
    val sc = spark.sparkContext
    val key = s"graft.test.caller.${java.util.UUID.randomUUID()}"
    // each item reports the property it ran under and submits one job
    def items(): Seq[String] = Par.run(1 to 6) { i =>
      spark.range(i).collect()
      Option(sc.getLocalProperty(key)).getOrElse("-")
    }
    val (_, tags) = JobCount.property(sc, key) {
      val callers = Seq("A", "B").map { c =>
        val got = new java.util.concurrent.atomic.AtomicReference[Seq[String]]
        val t = new Thread(() => { sc.setLocalProperty(key, c); got.set(items()) })
        t.start()
        (c, t, got)
      }
      callers.foreach(_._2.join())
      callers.foreach { case (c, _, got) => assert(got.get == Seq.fill(6)(c)) }
      // the workers' own properties came back: an untagged caller's items
      // and jobs carry neither tag
      assert(items() == Seq.fill(6)("-"))
    }
    assert(tags.groupBy(Option(_)).map { case (k, v) => k -> v.size } ==
      Map(Some("A") -> 6, Some("B") -> 6, None -> 6))
  }
}

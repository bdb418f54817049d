package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.IvmRollup

/** The persisted IVM rollup (operators.IvmRollup): maintained-table ==
  * recompute under batch folds, byte-identical replay collapse (the
  * crash-recovery contract — a crashed append's replay must not double
  * count), compaction neutrality, and the shuffle-free serve plan the
  * bucket layout promises.
  */
class IvmRollupSpec extends SparkSpec {

  private val table = "ivm_spec_rollup"
  private val path = graft.core.Scratch.path(table)

  private def orders = graft.core.Tables(spark, sfDir).orders
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** build(A) + fold q81-style deletes and inserts as two batches */
  private def buildAndFold(): Unit = {
    IvmRollup.build(orders, col("o_custkey"), col("o_totalprice"), table, path)
    IvmRollup.applyDelta(spark, table,
      orders.filter(col("o_orderkey") % 101 === 0)
        .select(col("o_custkey").as("key"), lit(-1L).as("dn"),
          (-col("o_totalprice")).cast(DecimalType(38, 2)).as("dr")), 1L)
    IvmRollup.applyDelta(spark, table,
      orders.filter(col("o_orderkey") % 103 === 0)
        .select(col("o_custkey").as("key"), lit(1L).as("dn"),
          col("o_totalprice").cast(DecimalType(38, 2)).as("dr")), 2L)
  }

  private def served(): Map[Long, (Long, java.math.BigDecimal)] =
    IvmRollup.serve(spark, table).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap

  /** from-scratch recompute of snapshot B (deletes %101, inserts %103) */
  private def recomputed(): Map[Long, (Long, java.math.BigDecimal)] = {
    val b = orders.filter(col("o_orderkey") % 101 =!= 0)
      .unionByName(orders.filter(col("o_orderkey") % 103 === 0))
    b.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(38, 2))).cast(DecimalType(38, 2)).as("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
  }

  test("maintained rollup equals from-scratch recompute after two batches") {
    buildAndFold()
    val got = served()
    assert(got.nonEmpty)
    assert(got == recomputed())
  }

  test("asOf pins a log prefix: 0 = base, Long.MaxValue = current") {
    buildAndFold()
    // asOf 0 cuts both deltas → exactly the base rollup of snapshot A
    val base = orders.groupBy(col("o_custkey").as("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(38, 2)))
          .cast(DecimalType(38, 2)).as("total"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    val asOf0 = IvmRollup.serve(spark, table, asOf = 0L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    assert(asOf0 == base)
    // the default horizon is the current state
    assert(IvmRollup.serve(spark, table).collect().length ==
      IvmRollup.serve(spark, table, asOf = Long.MaxValue).collect().length)
  }

  test("replaying a batch after a simulated crash does not double count") {
    buildAndFold()
    val before = served()
    // crash contract: an append that died before visibility is replayed in
    // full; its rows are byte-identical (deterministic exact aggregates,
    // keyed by (key, batch_id)) and serve's per-(key, batch_id) fold
    // collapses them
    IvmRollup.applyDelta(spark, table,
      orders.filter(col("o_orderkey") % 103 === 0)
        .select(col("o_custkey").as("key"), lit(1L).as("dn"),
          col("o_totalprice").cast(DecimalType(38, 2)).as("dr")), 2L)
    assert(served() == before)
  }

  test("a retried build after a crashed build replaces, never extends") {
    buildAndFold()
    IvmRollup.build(orders, col("o_custkey"), col("o_totalprice"), table, path)
    val ids = spark.table(table).select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L), s"retry must reset to base only, got $ids")
  }

  test("compaction folds the log to batch 0 without changing the answer") {
    buildAndFold()
    val before = served()
    IvmRollup.compact(spark, table, path)
    assert(served() == before)
    val ids = spark.table(table).select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L))
  }

  test("serve fails loudly on divergent duplicates under one (key, batch_id)") {
    buildAndFold()
    // contract violation: a DIFFERENT delta appended under an already-used
    // batch id (two writers, or a non-deterministic replay). serve must
    // refuse to fold it — an independent per-column min would emit a total
    // matching neither write, silently.
    val k = spark.table(table).filter(col("batch_id") === 2L)
      .select("key").head.getLong(0)
    import spark.implicits._
    IvmRollup.applyDelta(spark, table,
      Seq((k, 999L, "123.45")).toDF("key", "dn", "dr")
        .select(col("key"), col("dn"),
          col("dr").cast(DecimalType(38, 2)).as("dr")), 2L)
    val e = intercept[Throwable] { IvmRollup.serve(spark, table).collect() }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("divergent replayed"), msgs)
  }

  test("serve folds the bucketed log with zero exchanges") {
    buildAndFold()
    val df = IvmRollup.serve(spark, table)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("diff nets its log slice with zero exchanges, like serve") {
    buildAndFold()
    val df = IvmRollup.diff(spark, table, 0L, 2L)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("describe reports live/dead keys, log entries, batches since compact") {
    import spark.implicits._
    val t = "ivm_spec_describe"
    IvmRollup.build(
      Seq((1L, 10.0), (1L, 5.0), (2L, 7.0), (3L, 1.0)).toDF("k", "v"),
      col("k"), col("v"), t, graft.core.Scratch.path(t))
    // batch 1 fully deletes key 3 (dead weight) and touches key 1
    IvmRollup.applyDelta(spark, t,
      Seq((3L, -1L, "-1.00"), (1L, 1L, "2.00")).toDF("key", "dn", "dr")
        .select(col("key"), col("dn"), col("dr").cast(DecimalType(38, 2)).as("dr")), 1L)
    val r = IvmRollup.describe(spark, t).head()
    assert(r.getAs[Long]("live_keys") == 2L, r.toString)
    assert(r.getAs[Long]("dead_keys") == 1L, r.toString)
    assert(r.getAs[Long]("log_entries") == 5L, r.toString) // 3 base + 2 touched
    assert(r.getAs[Long]("batches_since_compact") == 1L, r.toString)
    // a crash-replayed batch must NOT inflate the self-report: re-append
    // the same deterministic rows under the same stamp, numbers unchanged
    spark.table(t).filter(col("batch_id") === 1L)
      .write.mode(org.apache.spark.sql.SaveMode.Append).insertInto(t)
    assert(IvmRollup.describe(spark, t).head().toSeq == r.toSeq)
  }

  test("auto-compact policy: boundary semantics, not-due leaves the log, due == manual") {
    import graft.operators.Maintenance
    import Maintenance.CompactPolicy
    buildAndFold() // base + 2 delta batches, no dead keys on this fixture
    // batches boundary: 2 accumulated batches — maxBatches = 2 is NOT
    // due (bound is "more than"), 1 is
    val lax = CompactPolicy(maxBatches = 2L, maxDeadFraction = 1.0)
    val family = Maintenance.Family(table, "rollup", path)
    assert(!Maintenance.shouldCompact(spark, family, lax))
    assert(!Maintenance.compactIfDue(spark, family, lax))
    assert(spark.table(table).agg(max("batch_id")).head.getLong(0) == 2L,
      "a not-due probe must leave the log untouched")
    val strict = CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0)
    assert(Maintenance.compactIfDue(spark, family, strict))
    assert(spark.table(table).agg(max("batch_id")).head.getLong(0) == 0L,
      "the policy-run compact folds to batch 0, like the manual one")
    assert(served() == recomputed(), "policy compact == recompute")
    // and the loop settles: the compacted log is not due under ANY
    // batches threshold (0 > 0 is false) with no dead weight
    assert(!Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 0L, maxDeadFraction = 0.0)))
  }

  test("describe counts BATCHES, not max stamp: epoch-derived ids don't flap the policy") {
    import spark.implicits._
    import graft.operators.Maintenance
    import Maintenance.CompactPolicy
    val t = "ivm_spec_epochstamps"
    val p = graft.core.Scratch.path(t)
    IvmRollup.build(Seq((1L, 1.0), (2L, 1.0)).toDF("k", "v"),
      col("k"), col("v"), t, p)
    // a stream feed stamps monotonic epoch ids with gaps (skipped empty
    // epochs): two DATA batches arrive as stamps 5 and 9
    def delta(key: Long, stamp: Long): Unit = IvmRollup.applyDelta(spark, t,
      Seq((key, 1L, "1.00")).toDF("key", "dn", "dr")
        .select(col("key"), col("dn"), col("dr").cast(DecimalType(38, 2)).as("dr")), stamp)
    delta(1L, 5L); delta(2L, 9L)
    assert(IvmRollup.describe(spark, t).head()
      .getAs[Long]("batches_since_compact") == 2L,
      "two data batches, whatever their stamps")
    IvmRollup.compact(spark, t, p)
    // the next epoch keeps counting upward — the policy must see ONE
    // batch since compact, not stamp 10, or it would compact forever
    delta(1L, 10L)
    val r = IvmRollup.describe(spark, t).head()
    assert(r.getAs[Long]("batches_since_compact") == 1L, r.toString)
    assert(!Maintenance.shouldCompact(spark, Maintenance.Family(t, "rollup", p),
      CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0)),
      "no post-compact flapping under epoch-derived stamps")
  }

  test("describe and the policy survive an EMPTY log (fully-deleted rollup)") {
    import spark.implicits._
    import graft.operators.Maintenance
    import Maintenance.CompactPolicy
    val t = "ivm_spec_emptylog"
    val p = graft.core.Scratch.path(t)
    IvmRollup.build(Seq((1L, 1.0)).toDF("k", "v"), col("k"), col("v"), t, p)
    IvmRollup.applyDelta(spark, t,
      Seq((1L, -1L, "-1.00")).toDF("key", "dn", "dr")
        .select(col("key"), col("dn"), col("dr").cast(DecimalType(38, 2)).as("dr")), 1L)
    IvmRollup.compact(spark, t, p) // every key dead → zero-row base
    assert(spark.table(t).isEmpty)
    val r = IvmRollup.describe(spark, t).head()
    assert(Seq("live_keys", "dead_keys", "log_entries", "batches_since_compact")
      .forall(c => r.getAs[Long](c) == 0L), r.toString)
    assert(!Maintenance.shouldCompact(spark, Maintenance.Family(t, "rollup", p),
      CompactPolicy(maxBatches = 0L, maxDeadFraction = 0.0)),
      "an empty log is never due — and never an NPE")
  }

  test("describe fences divergent replayed dn like serve does") {
    import spark.implicits._
    val t = "ivm_spec_descfence"
    IvmRollup.build(Seq((1L, 1.0)).toDF("k", "v"), col("k"), col("v"),
      t, graft.core.Scratch.path(t))
    def delta(dn: Long): Unit = IvmRollup.applyDelta(spark, t,
      Seq((1L, dn, "1.00")).toDF("key", "dn", "dr")
        .select(col("key"), col("dn"), col("dr").cast(DecimalType(38, 2)).as("dr")), 1L)
    delta(1L); delta(2L) // two DIFFERENT deltas under one stamp
    val e = intercept[Throwable] { IvmRollup.describe(spark, t).collect() }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("divergent replayed"), msgs)
  }

  test("auto-compact dead-fraction trigger fires independently of batch count") {
    import spark.implicits._
    import graft.operators.Maintenance
    import Maintenance.CompactPolicy
    val t = "ivm_spec_deadfrac"
    val p = graft.core.Scratch.path(t)
    IvmRollup.build(Seq((1L, 1.0), (2L, 1.0)).toDF("k", "v"),
      col("k"), col("v"), t, p)
    // kill key 2: 1 dead of 2 keys = 0.5 dead fraction, 1 batch
    IvmRollup.applyDelta(spark, t,
      Seq((2L, -1L, "-1.00")).toDF("key", "dn", "dr")
        .select(col("key"), col("dn"), col("dr").cast(DecimalType(38, 2)).as("dr")), 1L)
    // at the boundary (0.5) not due — the bound is "more than"
    val family = Maintenance.Family(t, "rollup", p)
    assert(!Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 99L, maxDeadFraction = 0.5)))
    // just under it, due, even though the batch bound is slack
    assert(Maintenance.compactIfDue(spark, family,
      CompactPolicy(maxBatches = 99L, maxDeadFraction = 0.49)))
    // the dead key left physically; nothing is due anymore
    val r = IvmRollup.describe(spark, t).head()
    assert(r.getAs[Long]("dead_keys") == 0L && r.getAs[Long]("live_keys") == 1L)
  }

  test("diff contract: serve(from) + diff(from, to) == serve(to), every version pair") {
    buildAndFold()
    def servedAt(v: Long): Map[Long, (Long, java.math.BigDecimal)] =
      IvmRollup.serve(spark, table, asOf = v).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    for (from <- 0L to 1L; to <- (from + 1L) to 2L) {
      val d = IvmRollup.diff(spark, table, from, to).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
      assert(d.nonEmpty, s"($from,$to): the ladder churns every window")
      val applied = (servedAt(from).keySet ++ d.keySet).flatMap { k =>
        val (n0, t0) = servedAt(from).getOrElse(k,
          (0L, java.math.BigDecimal.ZERO))
        val (dn, dr) = d.getOrElse(k, (0L, java.math.BigDecimal.ZERO))
        val n = n0 + dn
        if (n > 0) Some(k -> (n, t0.add(dr).setScale(2))) else None
      }.toMap
      assert(applied == servedAt(to).map { case (k, (n, t)) =>
        k -> (n, t.setScale(2)) },
        s"applying diff($from,$to) to serve($from) must yield serve($to)")
    }
    // degenerate windows are refused, not silently empty
    intercept[IllegalArgumentException] { IvmRollup.diff(spark, table, 2L, 2L) }
    intercept[IllegalArgumentException] { IvmRollup.diff(spark, table, -1L, 1L) }
  }
}

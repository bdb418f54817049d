package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvmJoin, Ledger}

/** The maintained join view (operators.IvmJoin): counting-algorithm
  * deltas on both sides, crash-replay collapse, the multiplicity fence,
  * compact neutrality, and the AS-OF prefix read.
  */
class IvmJoinSpec extends SparkSpec {

  private val table = "ivmjoin_spec"
  private val path = graft.core.Scratch.path(table)

  private def fact = graft.core.Tables(spark, sfDir).orders
    .select(col("o_orderkey"), col("o_custkey").as("custkey"), col("o_totalprice"))
  private def dim = graft.core.Tables(spark, sfDir).customer
    .select(col("c_custkey").as("custkey"), col("c_mktsegment"))

  private def factDelta = fact.filter(col("o_orderkey") % 101 === 0)
    .withColumn("dn", lit(-1L))
    .unionByName(fact.filter(col("o_orderkey") % 103 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("dn", lit(1L)))
  private def dimDelta = dim.filter(col("custkey") % 13 === 0)
    .withColumn("dn", lit(-1L))
    .unionByName(dim.filter(col("custkey") % 13 === 0)
      .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_v2")))
      .withColumn("dn", lit(1L)))
  private def noFact = fact.limit(0).withColumn("dn", lit(1L))
  private def noDim = dim.limit(0).withColumn("dn", lit(1L))

  private def buildAndFold(): Unit = {
    IvmJoin.build(fact, dim, "custkey", table, path)
    IvmJoin.applyDelta(spark, table, "custkey", factDelta, noDim, batchId = 1L)
    IvmJoin.applyDelta(spark, table, "custkey", noFact, dimDelta, batchId = 2L)
  }

  private def recomputed(): DataFrame = {
    val f2 = fact.filter(col("o_orderkey") % 101 =!= 0)
      .unionByName(fact.filter(col("o_orderkey") % 103 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    val d2 = dim.withColumn("c_mktsegment",
      when(col("custkey") % 13 === 0, concat(col("c_mktsegment"), lit("_v2")))
        .otherwise(col("c_mktsegment")))
    f2.join(d2, "custkey")
  }

  private def asSet(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("maintained join view equals recompute after both-sided churn") {
    buildAndFold()
    val got = IvmJoin.serve(spark, table)
    assert(got.columns.sorted sameElements recomputed().columns.sorted)
    val want = asSet(recomputed().select(got.columns.map(col): _*))
    assert(asSet(got) == want)
    assert(want.nonEmpty)
  }

  test("crashed apply + full replay collapses to exactly-once") {
    IvmJoin.build(fact, dim, "custkey", table, path)
    IvmJoin.applyDelta(spark, table, "custkey", factDelta, noDim, batchId = 1L)
    // crash: the data appends land, the marker does not — then replay
    Ledger.crashBeforeMarker(
      IvmJoin.applyDelta(spark, table, "custkey", noFact, dimDelta, batchId = 2L))
    IvmJoin.applyDelta(spark, table, "custkey", noFact, dimDelta, batchId = 2L)
    assert(asSet(IvmJoin.serve(spark, table)) ==
      asSet(recomputed().select(IvmJoin.serve(spark, table).columns.map(col): _*)))
  }

  test("replaying a committed batch is a no-op") {
    buildAndFold()
    val before = asSet(IvmJoin.serve(spark, table))
    IvmJoin.applyDelta(spark, table, "custkey", factDelta, noDim, batchId = 1L)
    assert(asSet(IvmJoin.serve(spark, table)) == before)
  }

  test("the multiplicity fence fails loudly on a double insert") {
    IvmJoin.build(fact, dim, "custkey", table, path)
    // contract violation: re-insert an existing fact row (+1 on a live row)
    IvmJoin.applyDelta(spark, table, "custkey",
      fact.limit(1).withColumn("dn", lit(1L)), noDim, batchId = 1L)
    val e = intercept[Exception] { IvmJoin.serve(spark, table).count() }
    assert(e.getMessage.contains("multiplicity") ||
      Option(e.getCause).exists(_.getMessage.contains("multiplicity")))
  }

  test("compact folds the logs to batch 0 without changing the view") {
    buildAndFold()
    val before = asSet(IvmJoin.serve(spark, table))
    IvmJoin.compact(spark, table, path, Seq("custkey"))
    assert(asSet(IvmJoin.serve(spark, table)) == before)
    assert(spark.table(table).select("batch_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(0L))
    // and the namespace reset: a post-compact batch folds on as batch 1
    IvmJoin.applyDelta(spark, table, "custkey",
      fact.filter(col("o_orderkey") % 101 === 0) // re-insert the deleted facts
        .withColumn("dn", lit(1L)), noDim, batchId = 1L)
    val reAdded = asSet(IvmJoin.serve(spark, table))
    assert(reAdded.size > before.size)
  }

  test("the writer fence rejects an out-of-sequence batch loudly") {
    IvmJoin.build(fact, dim, "custkey", table, path)
    val e = intercept[IllegalArgumentException] {
      IvmJoin.applyDelta(spark, table, "custkey", factDelta, noDim, batchId = 5L)
    }
    assert(e.getMessage.contains("out of sequence"))
    // the in-sequence batch still applies, and its crashed replay passes
    IvmJoin.applyDelta(spark, table, "custkey", factDelta, noDim, batchId = 1L)
    IvmJoin.applyDelta(spark, table, "custkey", noFact, dimDelta, batchId = 2L)
    assert(IvmJoin.serve(spark, table).count() > 0)
  }

  test("composite join keys: both-side churn on a two-column key") {
    import spark.implicits._
    val t2 = "ivmjoin_spec_ck"
    val p2 = graft.core.Scratch.path(t2)
    val f = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (2L, 1L, 30.0))
      .toDF("k1", "k2", "v")
    val d = Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "c"))
      .toDF("k1", "k2", "label")
    IvmJoin.build(f, d, Seq("k1", "k2"), t2, p2, 8)
    IvmJoin.applyDelta(spark, t2, Seq("k1", "k2"),
      Seq((1L, 2L, 20.0, -1L), (2L, 2L, 5.0, 1L)) // delete one, insert keyless-dim one
        .toDF("k1", "k2", "v", "dn"),
      d.limit(0).withColumn("dn", lit(1L)), batchId = 1L, 8)
    IvmJoin.applyDelta(spark, t2, Seq("k1", "k2"),
      f.limit(0).withColumn("dn", lit(1L)),
      Seq((2L, 1L, "c", -1L), (2L, 1L, "c2", 1L))
        .toDF("k1", "k2", "label", "dn"), batchId = 2L, 8)
    val got = asSet(IvmJoin.serve(spark, t2))
    val want = asSet(Seq((1L, 1L, 10.0, "a"), (2L, 1L, 30.0, "c2"))
      .toDF("k1", "k2", "v", "label"))
    assert(got == want, s"got=$got")
  }

  test("the dim pre-state broadcast is gated on MEASURED size, both plan shapes") {
    import spark.implicits._
    def shape(dimRows: Long, t: String): String = {
      val p = graft.core.Scratch.path(t)
      val f = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      val d = spark.range(dimRows).select(col("id").as("k"),
        concat(lit("seg_"), col("id") % 7).as("label"))
      IvmJoin.build(f, d, "k", t, p, 4)
      val dF = Seq((2L, 20.0, -1L), (3L, 5.0, 1L)).toDF("k", "v", "dn")
        .withColumnRenamed("dn", "dn_f").localCheckpoint()
      val dD = d.limit(0).withColumn("dn", lit(1L))
        .withColumnRenamed("dn", "dn_d").localCheckpoint()
      val dv = IvmJoin.deltaView(spark, t, Seq("k"), dF, dD, batchId = 1L,
        hasF = true, hasD = false).get
      dv.queryExecution.executedPlan.toString
    }
    // keep Spark's own stats-based auto-broadcast out of the experiment:
    // only the explicit (gated) hint may produce a BroadcastExchange
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // under the gate: the hint fires, the fact delta probes map-side
      val small = shape(dimRows = 1000L, "ivmjoin_gate_small")
      assert(small.contains("BroadcastExchange"),
        s"small dim must broadcast:\n$small")
      // over the gate: NO broadcast — an explicit hint would override
      // size checks and OOM at a genuinely large dimension; the plain
      // join must also read the bucketed dim log WITHOUT an exchange
      // under it (only the delta side shuffles)
      val big = shape(IvmJoin.MaxBroadcastDimRows + 1L, "ivmjoin_gate_big")
      assert(!big.contains("BroadcastExchange"),
        s"oversized dim must NOT broadcast:\n$big")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(big).size
      assert(exchanges == 1,
        s"fallback must shuffle ONLY the fact delta (dim log is bucketed), " +
          s"got $exchanges exchanges:\n$big")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // and the gated path is what applyDelta ships: the small-dim family
    // still folds and serves correctly end to end
    val t = "ivmjoin_gate_small"
    IvmJoin.applyDelta(spark, t, "k",
      Seq((2L, 20.0, -1L), (3L, 5.0, 1L)).toDF("k", "v", "dn"),
      spark.table(s"${t}_dim").limit(0).drop("batch_id").drop("dn")
        .withColumn("dn", lit(1L)),
      batchId = 1L)
    val got = IvmJoin.serve(spark, t).collect().map(_.mkString("|")).toSet
    assert(got.contains("1|10.0|seg_1"), s"got=$got")
    assert(!got.exists(_.startsWith("2|")), s"deleted fact must drop: $got")
  }

  test("asOf pins a log prefix: 0 = the built snapshot view") {
    buildAndFold()
    val base = asSet(fact.join(dim, "custkey"))
    assert(asSet(IvmJoin.serve(spark, table, asOf = 0L)) == base)
  }

  test("describe + auto-compact policy on the join view") {
    import graft.operators.Maintenance
    import Maintenance.CompactPolicy
    buildAndFold()
    val r = IvmJoin.describe(spark, table).head()
    val live = r.getAs[Long]("live_view_rows")
    assert(live == recomputed().count(), r.toString)
    assert(r.getAs[Long]("live_fact_rows") == live, r.toString)
    assert(r.getAs[Long]("live_dim_rows") == dim.count(), r.toString)
    assert(r.getAs[Long]("batches_since_compact") == 2L, r.toString)
    val entries = r.getAs[Long]("view_log_entries")
    assert(entries > live, "the churn batches must show as log debt")
    // an EMPTY stream epoch stamps the marker but adds zero read
    // amplification — it must NOT count as a batch of debt
    IvmJoin.applyDelta(spark, table, "custkey", noFact, noDim, batchId = 3L)
    assert(IvmJoin.describe(spark, table).head()
      .getAs[Long]("batches_since_compact") == 2L,
      "empty epochs are fence bookkeeping, not compactable debt")
    // batches boundary ("more than"): 2 batches not due at 2, due at 1
    val family = Maintenance.Family(table, "join", path, Seq("custkey"))
    assert(!Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 2L, maxDeadFraction = 1.0)))
    assert(Maintenance.compactIfDue(spark, family,
      CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0)))
    // the policy-run compact is the manual one: folded to batch 0, debt
    // gone, serve still == recompute, and the loop settles
    val r2 = IvmJoin.describe(spark, table).head()
    assert(r2.getAs[Long]("batches_since_compact") == 0L, r2.toString)
    assert(r2.getAs[Long]("view_log_entries") == live, r2.toString)
    assert(asSet(IvmJoin.serve(spark, table)) ==
      asSet(recomputed().select(IvmJoin.serve(spark, table).columns.map(col): _*)))
    assert(!Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 0L, maxDeadFraction = 0.0)))
  }

  test("diff contract: serve(from) ⊎ diff(from, to) == serve(to) as a multiset") {
    buildAndFold()
    def servedAt(v: Long): Map[Seq[Any], Long] =
      IvmJoin.serve(spark, table, asOf = v).collect()
        .map(_.toSeq).groupBy(identity).view.mapValues(_.length.toLong).toMap
    for (from <- 0L to 1L; to <- (from + 1L) to 2L) {
      val idCols = IvmJoin.serve(spark, table).columns.toSeq
      val d = IvmJoin.diff(spark, table, from, to).collect()
        .map(r => idCols.map(c => r.get(r.fieldIndex(c))) ->
          r.getAs[Long]("dn_delta")).toMap
      assert(d.nonEmpty, s"($from,$to): the ladder churns every window")
      assert(d.values.forall(v => v == 1L || v == -1L),
        "under the fact-pk contract a diff row flips presence, never stacks")
      val before = servedAt(from) // one serve per window, not one per row
      val applied = (before.keySet ++ d.keySet).flatMap { row =>
        val n = before.getOrElse(row, 0L) + d.getOrElse(row, 0L)
        if (n > 0) Some(row -> n) else None
      }.toMap
      assert(applied == servedAt(to),
        s"applying diff($from,$to) to serve($from) must yield serve($to)")
    }
    intercept[IllegalArgumentException] { IvmJoin.diff(spark, table, 1L, 1L) }
  }

  test("schema-evolution fence: a drifted delta refuses loudly and leaves nothing") {
    val t = "ivmjoin_schema"
    Seq(t, s"${t}_fact", s"${t}_dim", s"${t}_batches")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    IvmJoin.build(fact, dim, "custkey", t, graft.core.Scratch.path(t))
    val preFact = spark.table(s"${t}_fact").count()
    val preView = spark.table(t).count()
    // ADDED column: the positional write paths would drop it silently
    val e1 = intercept[IllegalArgumentException] {
      IvmJoin.applyDelta(spark, t, "custkey",
        factDelta.withColumn("surprise", lit(1)), noDim, batchId = 1L)
    }
    assert(e1.getMessage.contains("added") && e1.getMessage.contains("surprise"),
      e1.getMessage)
    // RETYPED column: insertInto would cast row-by-row, not migrate
    val e2 = intercept[IllegalArgumentException] {
      IvmJoin.applyDelta(spark, t, "custkey",
        factDelta.withColumn("o_totalprice", col("o_totalprice").cast("string")),
        noDim, batchId = 1L)
    }
    assert(e2.getMessage.contains("retyped"), e2.getMessage)
    // MISSING column: named before the unresolved-attribute error would be
    val e3 = intercept[IllegalArgumentException] {
      IvmJoin.applyDelta(spark, t, "custkey",
        factDelta.drop("o_totalprice"), noDim, batchId = 1L)
    }
    assert(e3.getMessage.contains("missing"), e3.getMessage)
    // the refusals left NOTHING behind — no data, no marker — so the
    // corrected batch lands as a FRESH apply under the same stamp, not
    // a divergent replay
    assert(spark.table(s"${t}_fact").count() == preFact)
    assert(spark.table(t).count() == preView)
    assert(spark.table(s"${t}_batches").select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(0L))
    IvmJoin.applyDelta(spark, t, "custkey", factDelta, noDim, batchId = 1L)
    assert(spark.table(s"${t}_batches").select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(0L, 1L))
  }
}

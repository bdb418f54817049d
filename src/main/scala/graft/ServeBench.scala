package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serve-path scaling measurement (round-8 verdict task: the 3×/10×
  * study covers the GENERATORS; this isolates the maintained READS).
  * For each maintained family it builds the same corpus twice — once
  * as many batches since the last compact (including one crash-replayed
  * batch, so the log carries real duplicates), once compacted — and
  * times the serve on each, min-of-3, plus the same serve at a 10×
  * smaller fixture. The claims under test, one line each in
  * BENCH_NOTES:
  *
  *  - serve cost is FLAT in batches-since-compact (the stamp collapse
  *    is one bucket-local aggregate over the log — more batches mean
  *    more appended files and replay duplicates to fold, not more
  *    passes), and a compact restores the log to data size;
  *  - serve cost is ∝ matched data (sf0.01 → sf0.1 moves it ~linearly).
  *
  * Measurement tooling, not library surface: the serves it times are
  * the public APIs (servePairIndex / RetrievalIndex.topK /
  * IvmJoin.serve) — nothing here is reachable from SparkEntry.
  */
object ServeBench {

  private def timeMin3(f: => Long): (Double, Long) = {
    var rows = 0L
    val ts = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      rows = f
      (System.nanoTime() - t0) / 1e9
    }
    (ts.min, rows)
  }

  private def docsOf(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables(spark, dir).documents
      .select(col("doc_id").as("id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()

  /** Pair index: build batch 0, extend 7 more (one of them crashed +
    * replayed so the log holds byte-identical duplicates), serve; then
    * compact and serve again.
    */
  private def pairIndex(spark: SparkSession, dir: String, tag: String): Unit = {
    import graft.operators.Dedup
    val docs = docsOf(spark, dir)
    val table = s"graft_sb_pairs_$tag"
    val path = graft.core.Scratch.path(table)
    Dedup.buildPairIndex(docs.filter(col("id") % 8 === 0), table, path,
      threshold = 0.8, incremental = true)
    (1 to 7).foreach { b =>
      if (b == 4) // one honest crash window: appends land twice
        graft.operators.Ledger.crashBeforeMarker(Dedup.extendPairIndex(spark,
          docs.filter(col("id") % 8 === b), table, threshold = 0.8, batchId = b.toLong))
      Dedup.extendPairIndex(spark, docs.filter(col("id") % 8 === b), table,
        threshold = 0.8, batchId = b.toLong)
    }
    val (tPre, nPre) = timeMin3(Dedup.servePairIndex(spark, table).count())
    Dedup.compactPairIndex(spark, table, path)
    val (tPost, nPost) = timeMin3(Dedup.servePairIndex(spark, table).count())
    println(f"SERVEBENCH pairs $tag pre=$tPre%.2f post=$tPost%.2f rows=$nPre/$nPost")
  }

  /** Retrieval tf index: the same 8-batch ladder (batch 4 crashed +
    * replayed), topK served pre- and post-compact.
    */
  private def retrieval(spark: SparkSession, dir: String, tag: String): Unit = {
    import graft.operators.RetrievalIndex
    val docs = graft.core.Tables(spark, dir).documents.localCheckpoint()
    val table = s"graft_sb_rix_$tag"
    val path = graft.core.Scratch.path(table)
    RetrievalIndex.build(docs.filter(col("doc_id") % 8 === 0), table, path)
    (1 to 7).foreach { b =>
      if (b == 4)
        graft.operators.Ledger.crashBeforeMarker(RetrievalIndex.extend(
          docs.filter(col("doc_id") % 8 === b), table, batchId = b.toLong))
      RetrievalIndex.extend(docs.filter(col("doc_id") % 8 === b), table,
        batchId = b.toLong)
    }
    val qs = graft.queries.CurationOps.rankQueries
    // collect, not count: below the collect gate topK returns a local
    // frame, whose count() would submit two jobs the serve never pays
    val (tPre, nPre) = timeMin3(
      RetrievalIndex.topK(spark, table, qs).collect().length.toLong)
    // the round-10 policy probe on the same pre-compact log — the
    // per-schedule overhead the q219 maintenance loop pays (a not-due
    // read: batches axis only, never the tombstone scans)
    val (tProbe, _) = timeMin3(
      if (graft.operators.Maintenance.shouldCompact(spark,
        graft.operators.Maintenance.Family(table, "retrieval", path),
        graft.operators.Maintenance.CompactPolicy(
          maxBatches = 99L, maxDeadFraction = 1.0))) 1L else 0L)
    RetrievalIndex.compact(spark, table, path)
    val (tPost, nPost) = timeMin3(
      RetrievalIndex.topK(spark, table, qs).collect().length.toLong)
    println(f"SERVEBENCH retrieval $tag pre=$tPre%.2f post=$tPost%.2f " +
      f"probe=$tProbe%.2f rows=$nPre/$nPost")
  }

  /** Join view: build from snapshots, fold 4 fact-churn batches (batch 2
    * crashed + replayed), serve pre- and post-compact.
    */
  private def joinView(spark: SparkSession, dir: String, tag: String): Unit = {
    import graft.operators.IvmJoin
    val t = graft.core.Tables(spark, dir)
    val fact = t.orders.select(col("o_orderkey"),
      col("o_custkey").as("custkey"), col("o_totalprice"))
    val dim = t.customer.select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    val table = s"graft_sb_jv_$tag"
    val path = graft.core.Scratch.path(table)
    IvmJoin.build(fact, dim, "custkey", table, path)
    val noDim = dim.limit(0).withColumn("dn", lit(1L))
    (1 to 4).foreach { b =>
      val churn = fact.filter(col("o_orderkey") % 97 === b)
        .withColumn("o_orderkey", col("o_orderkey") + b * 10000000L)
        .withColumn("dn", lit(1L))
      if (b == 2)
        graft.operators.Ledger.crashBeforeMarker(IvmJoin.applyDelta(spark, table,
          "custkey", churn, noDim, batchId = b.toLong))
      IvmJoin.applyDelta(spark, table, "custkey", churn, noDim, batchId = b.toLong)
    }
    val (tPre, nPre) = timeMin3(IvmJoin.serve(spark, table).count())
    // the round-9 DESCRIBE read on the same pre-compact log: the policy
    // probe a scheduler pays — must be serve-class flat, never worse
    val (tDesc, _) = timeMin3(IvmJoin.describe(spark, table).count())
    IvmJoin.compact(spark, table, path, Seq("custkey"))
    val (tPost, nPost) = timeMin3(IvmJoin.serve(spark, table).count())
    println(f"SERVEBENCH joinview $tag pre=$tPre%.2f post=$tPost%.2f " +
      f"describe=$tDesc%.2f rows=$nPre/$nPost")
  }

  /** Rollup: build + 7 delta batches (batch 4 applied twice — the
    * markerless family's crash shape), then time the round-9 reads:
    * describe on the long log, the policy probe, serve pre/post.
    */
  private def rollup(spark: SparkSession, dir: String, tag: String): Unit = {
    import graft.operators.{IvmRollup, Maintenance}
    import org.apache.spark.sql.types.DecimalType
    val o = graft.core.Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val table = s"graft_sb_roll_$tag"
    val path = graft.core.Scratch.path(table)
    IvmRollup.build(o, col("o_custkey"), col("o_totalprice"), table, path)
    (1 to 7).foreach { b =>
      val delta = o.filter(col("o_orderkey") % 97 === b)
        .select(col("o_custkey").as("key"), lit(1L).as("dn"),
          col("o_totalprice").cast(DecimalType(38, 2)).as("dr"))
      IvmRollup.applyDelta(spark, table, delta, b.toLong)
      if (b == 4) IvmRollup.applyDelta(spark, table, delta, b.toLong) // no-marker replay
    }
    val (tPre, nPre) = timeMin3(IvmRollup.serve(spark, table).count())
    val (tDesc, _) = timeMin3(IvmRollup.describe(spark, table).count())
    val (tProbe, _) = timeMin3(
      if (Maintenance.shouldCompact(spark, Maintenance.Family(table, "rollup", path),
        Maintenance.CompactPolicy(maxBatches = 99L, maxDeadFraction = 1.0))) 1L else 0L)
    // the round-10 diff verb vs what a consumer WITHOUT it pays for the
    // same answer: serve both versions and full-outer-join them
    val (tDiff, nDiff) = timeMin3(IvmRollup.diff(spark, table, 0L, 7L).count())
    val zero = lit(0).cast(DecimalType(38, 2))
    val (tNaive, nNaive) = timeMin3 {
      val a = IvmRollup.serve(spark, table, asOf = 0L)
        .select(col("key"), col("n").as("n0"), col("total").as("t0"))
      val b = IvmRollup.serve(spark, table, asOf = 7L)
        .select(col("key"), col("n").as("n1"), col("total").as("t1"))
      a.join(b, Seq("key"), "full_outer")
        .filter(coalesce(col("n0"), lit(0L)) =!= coalesce(col("n1"), lit(0L))
          || coalesce(col("t0"), zero) =!= coalesce(col("t1"), zero))
        .count()
    }
    IvmRollup.compact(spark, table, path)
    val (tPost, nPost) = timeMin3(IvmRollup.serve(spark, table).count())
    println(f"SERVEBENCH rollup $tag pre=$tPre%.2f post=$tPost%.2f " +
      f"describe=$tDesc%.2f probe=$tProbe%.2f rows=$nPre/$nPost " +
      f"diff=$tDiff%.2f($nDiff) naive2serve=$tNaive%.2f($nNaive)")
  }

  /** Rebase economics (round 12): restore cost grows with chain length
    * (each delta link is one more append pass); `Snapshot.rebase`
    * squashes the chain off to the side so restores are one-link again.
    * This builds a 7-link retrieval chain, times (a) the full-chain
    * restore, (b) the rebase itself, (c) the restore from the rebased
    * full. The claims in BENCH_NOTES: restore-from-rebase ≈ the cost of
    * restoring a fresh full (flat in the retired chain's length), and
    * the rebase pays roughly one read of the chain's bytes — the price
    * that buys every later restore/seed its flatness.
    */
  private def rebaseLeg(spark: SparkSession, dir: String, tag: String): Unit = {
    import graft.operators.{RetrievalIndex, Snapshot}
    val docs = graft.core.Tables(spark, dir).documents
    val table = s"graft_sb_rb_$tag"
    val path = graft.core.Scratch.path(table)
    Seq("postings", "meta", "deleted").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
    RetrievalIndex.build(docs.filter(col("doc_id") % 8 === 0), table, path)
    val base = graft.core.Scratch.path(s"sb_rb_base_$tag")
    Snapshot.export(spark, table, base, kind = Some("retrieval"))
    var parent = base
    (1 to 6).foreach { b =>
      RetrievalIndex.extend(docs.filter(col("doc_id") % 8 === b), table,
        batchId = b.toLong)
      val d = graft.core.Scratch.path(s"sb_rb_d${b}_$tag")
      Snapshot.export(spark, table, d, incrementalFrom = Some(parent),
        kind = Some("retrieval"))
      parent = d
    }
    def restoreOnce(src: String, name: String): Double = {
      Seq("", "_postings", "_meta", "_deleted").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $name$s"))
      val t0 = System.nanoTime()
      Snapshot.restore(spark, src, name, graft.core.Scratch.path(name))
      (System.nanoTime() - t0) / 1e9
    }
    val tChain = restoreOnce(parent, s"graft_sb_rbc_$tag")
    val t0 = System.nanoTime()
    val rb = graft.core.Scratch.path(s"sb_rb_full_$tag")
    Snapshot.rebase(spark, parent, rb)
    val tRebase = (System.nanoTime() - t0) / 1e9
    val tFull = restoreOnce(rb, s"graft_sb_rbf_$tag")
    println(f"SERVEBENCH rebase $tag links=7 chainrestore=$tChain%.2f " +
      f"rebase=$tRebase%.2f rebasedrestore=$tFull%.2f")
  }

  /** Standby economics (round 11): a replica that re-ran `restore` per
    * arriving backup link would pay the WHOLE-CHAIN rebuild every time;
    * `Snapshot.applyLink` pays one link. This measures both on the same
    * chain — primary streams 4 epochs, full cut-export + 3 cut deltas —
    * timing each link's apply on a live standby vs a cold full-chain
    * restore after every link (what "replication by re-restore" would
    * cost). The claim in BENCH_NOTES: per-link apply is flat-ish and
    * small; re-restore grows with the chain.
    */
  private def standby(spark: SparkSession, dir: String, tag: String): Unit = {
    import graft.operators.Snapshot
    import graft.streaming.RetrievalStream
    val docs = graft.core.Tables(spark, dir).documents
    val primary = s"graft_sb_wsp_$tag"
    val ppath = graft.core.Scratch.path(primary)
    Seq("postings", "meta", "deleted").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ${primary}_$s"))
    RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 4 === 0), 0L,
      primary, ppath)
    val full = graft.core.Scratch.path(s"sb_ws_full_$tag")
    Snapshot.exportAtCut(spark, primary, "retrieval", full)
    var parent = full
    val links = (1 to 3).map { e =>
      RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 4 === e),
        e.toLong, primary, ppath)
      val d = graft.core.Scratch.path(s"sb_ws_d${e}_$tag")
      Snapshot.exportAtCut(spark, primary, "retrieval", d,
        incrementalFrom = Some(parent))
      parent = d
      d
    }
    val standbyT = s"graft_sb_wss_$tag"
    Seq("", "_postings", "_meta", "_deleted").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $standbyT$s"))
    val spath = graft.core.Scratch.path(standbyT)
    Snapshot.restore(spark, full, standbyT, spath)
    val applyTimes = links.map { d =>
      val t0 = System.nanoTime()
      Snapshot.applyLink(spark, d, standbyT, spath, "retrieval")
      (System.nanoTime() - t0) / 1e9
    }
    // the alternative: a cold full-chain restore at the LAST link (what
    // each shipped link would cost if the replica re-restored instead)
    val coldT = s"graft_sb_wsc_$tag"
    Seq("", "_postings", "_meta", "_deleted").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $coldT$s"))
    val t0 = System.nanoTime()
    Snapshot.restore(spark, links.last, coldT, graft.core.Scratch.path(coldT))
    val tRestore = (System.nanoTime() - t0) / 1e9
    println(f"SERVEBENCH standby $tag links=" +
      applyTimes.map(t => f"$t%.2f").mkString(",") +
      f" rerestore=$tRestore%.2f")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(graft.core.GraftSession.envCpus)
    // 10× apart in data: serve ∝ matched data shows as ~10× between tags
    Seq("/root/testdata/sf0.01" -> "sf001", "/root/testdata/sf0.1" -> "sf01")
      .foreach { case (dir, tag) =>
        pairIndex(spark, dir, tag)
        retrieval(spark, dir, tag)
        joinView(spark, dir, tag)
        rollup(spark, dir, tag)
        standby(spark, dir, tag)
        rebaseLeg(spark, dir, tag)
      }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, IvfIndex, IvmJoin, Ledger, Maintenance, RetrievalIndex}
import graft.operators.Maintenance.CompactPolicy
import graft.queries.CurationOps
import graft.streaming.{PairIndexStream, RetrievalStream}

/** The maintenance loop's round-10 lifts: the NAMESPACE-PRESERVING
  * compact (a checkpointed stream survives a policy compact — the
  * PLANS.md "epoch→stamp ledger" option 1), the policy verbs on the
  * four remaining index kinds, and the join decision reading all
  * three of its logs. Rollup/join/pairs policy boundaries live in
  * IvmRollupSpec/IvmJoinSpec/PairGraphSpec.
  */
class MaintenanceSpec extends SparkSpec {

  private def docs = Tables(spark, sfDir).documents

  private def drop(table: String, sfx: Seq[String]): Unit =
    sfx.foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  private def marker(t: String): Set[Long] =
    spark.table(t).select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet

  // --------------------------------------------------------------------
  // namespace-preserving compact: the stream-compat contract

  test("preserving compact keeps {0, maxCommitted}; a resumed epoch passes the fence") {
    val table = "mnt_rix_preserve"
    drop(table, Seq("postings", "meta"))
    val path = graft.core.Scratch.path(table)
    // two stream epochs through the stream's exact fold (stamps 1, 2)
    RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 3 === 0),
      epochId = 0L, table, path)
    RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 3 === 1),
      epochId = 1L, table, path)
    RetrievalIndex.compact(spark, table, path, preserveNamespace = true)
    assert(marker(s"${table}_meta") == Set(0L, 2L),
      "preserving compact must write exactly {0, maxCommitted}")
    // N must be untouched by the alias row (n_docs = 0)
    assert(spark.table(s"${table}_meta").agg(sum("n_docs")).head.getLong(0)
      == docs.filter(col("doc_id") % 3 <= 1).count())
    // the stream resumes its OWN epoch counter: epoch 2 stamps 3 =
    // max({0, 2}) + 1 — the fence that a default compact would fail
    RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 3 === 2),
      epochId = 2L, table, path)
    val got = RetrievalIndex.topK(spark, table, CurationOps.rankQueries)
    drop("mnt_rix_scratch", Seq("postings", "meta"))
    RetrievalIndex.build(docs, "mnt_rix_scratch",
      graft.core.Scratch.path("mnt_rix_scratch"))
    val want = RetrievalIndex.topK(spark, "mnt_rix_scratch", CurationOps.rankQueries)
    assert(asSet(got) == asSet(want),
      "stream -> preserving compact -> resumed stream == from-scratch index")
  }

  test("after a preserving compact, the last committed epoch's re-delivery no-ops") {
    val table = "mnt_rix_redeliver"
    drop(table, Seq("postings", "meta"))
    val path = graft.core.Scratch.path(table)
    RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 2 === 0),
      epochId = 0L, table, path)
    RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 2 === 1),
      epochId = 1L, table, path)
    RetrievalIndex.compact(spark, table, path, preserveNamespace = true)
    val rows = spark.table(s"${table}_postings").count()
    // a crash between the epoch-1 commit and the checkpoint commit
    // re-delivers epoch 1 on resume; its stamp (2) is preserved → no-op
    RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 2 === 1),
      epochId = 1L, table, path)
    assert(spark.table(s"${table}_postings").count() == rows,
      "the preserved stamp must absorb the re-delivered epoch")
  }

  test("after a preserving compact, a MANUAL replay of a pre-compact batch fails loudly") {
    val table = "mnt_rix_manual"
    drop(table, Seq("postings", "meta"))
    val path = graft.core.Scratch.path(table)
    RetrievalIndex.build(docs.filter(col("doc_id") % 3 === 0), table, path)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 3 === 1), table, batchId = 1L)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 3 === 2), table, batchId = 2L)
    RetrievalIndex.compact(spark, table, path, preserveNamespace = true)
    // batch 1 was committed pre-compact, but only maxCommitted survives
    // the fold — replaying an INTERIOR id must hit the fence, not
    // re-apply as a fresh batch (the silent double-index the default
    // reset is documented to allow only under its quiescence rule)
    val e = intercept[IllegalArgumentException] {
      RetrievalIndex.extend(docs.filter(col("doc_id") % 3 === 1), table,
        batchId = 1L)
    }
    assert(e.getMessage.contains("out of sequence"), e.getMessage)
  }

  test("a never-extended family preserves nothing: both modes write {0}") {
    assert(graft.core.WriterFence.compactKeepStamps(Set(0L), preserve = true)
      .isEmpty)
    assert(graft.core.WriterFence.compactKeepStamps(Set(0L, 5L), preserve = true)
      == Seq(5L))
    assert(graft.core.WriterFence.compactKeepStamps(Set(0L, 5L), preserve = false)
      .isEmpty)
  }

  test("default compact still resets: the resumed epoch counter fails the fence") {
    val table = "mnt_rix_reset"
    drop(table, Seq("postings", "meta"))
    val path = graft.core.Scratch.path(table)
    RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 2 === 0),
      epochId = 0L, table, path)
    RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 2 === 1),
      epochId = 1L, table, path)
    RetrievalIndex.compact(spark, table, path) // the manual-ladder default
    assert(marker(s"${table}_meta") == Set(0L))
    val e = intercept[IllegalArgumentException] {
      RetrievalStream.foldEpoch(docs.limit(0), epochId = 2L, table, path)
    }
    assert(e.getMessage.contains("out of sequence"), e.getMessage)
    // the documented manual restart: ids resume at 1
    RetrievalIndex.extend(docs.limit(0), table, batchId = 1L)
  }

  // --------------------------------------------------------------------
  // the policy verbs on the four remaining index kinds, one row each:
  // the fixture (returning the row's post-compact check), the probes and
  // their expected answers; every row then runs the due compact under
  // CompactPolicy(0, 1.0) and checks that the loop settles

  private final case class PolicyRow(name: String, kind: String, table: String,
      suffixes: Seq[String], setup: (String, String) => (() => Unit),
      probes: Seq[(CompactPolicy, Boolean)])

  private val policyRows = Seq(
    PolicyRow("LSH policy: batches axis counts data-bearing stamps; dead axis triggers; settles",
      "lsh", "mnt_lsh", Seq("postings", "sets", "batches", "deleted"),
      (table, path) => {
        val d = docs.select(col("doc_id").as("id"), col("text"))
        Dedup.buildNearDupIndex(d.filter(col("id") % 2 === 0), table, path)
        Dedup.extendNearDupIndex(spark, d.filter(col("id") % 2 === 1),
          table, batchId = 1L)
        Dedup.deleteFromNearDupIndex(spark,
          d.filter(col("id") % 7 === 3).select("id"),
          table, path, batchId = 2L)
        // the policy compact preserved the namespace for a live stream
        () => assert(marker(s"${table}_batches") == Set(0L, 2L))
      },
      Seq(
        // one data-bearing batch (the delete's stamp is not fold-able debt)
        CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0) -> false,
        CompactPolicy(maxBatches = 0L, maxDeadFraction = 1.0) -> true,
        // dead axis: ~1/7 tombstoned > 0.1
        CompactPolicy(maxBatches = 99L, maxDeadFraction = 0.1) -> true)),
    PolicyRow("retrieval policy: empty stream epochs are fence bookkeeping, not debt",
      "retrieval", "mnt_rix_policy", Seq("postings", "meta", "deleted"),
      (table, path) => {
        RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 2 === 0),
          epochId = 0L, table, path)
        RetrievalStream.foldEpoch(docs.limit(0), epochId = 1L, table, path) // empty
        RetrievalStream.foldEpoch(docs.filter(col("doc_id") % 2 === 1),
          epochId = 2L, table, path)
        // and the stream can keep going (the policy compact preserves)
        () => RetrievalStream.foldEpoch(docs.limit(0), epochId = 3L, table, path)
      },
      // stamps {1, 2, 3} committed, but only 3 carries postings (1 is a
      // cold-start build = batch-0 data; 2 is empty): ONE batch of debt
      Seq(CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0) -> false)),
    PolicyRow("positions policy: boundary + settle on the phrase tier",
      "positions", "mnt_pix_policy", Seq("positions", "pbatches", "pdeleted"),
      (table, path) => {
        RetrievalIndex.buildPositions(docs.filter(col("doc_id") % 2 === 0), table, path)
        RetrievalIndex.extendPositions(docs.filter(col("doc_id") % 2 === 1),
          table, batchId = 1L)
        () => assert(marker(s"${table}_pbatches") == Set(0L, 1L))
      },
      Seq(CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0) -> false)),
    PolicyRow("IVF policy: boundary + settle, centroids untouched",
      "ivf", "mnt_ivf_policy", Seq("centroids", "cells", "batches", "deleted"),
      (table, path) => {
        val vecs = Tables(spark, sfDir).embeddings
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        IvfIndex.build(vecs.filter(col("id") % 2 === 0), table, path, nCells = 4)
        IvfIndex.extend(spark, vecs.filter(col("id") % 2 === 1), table, batchId = 1L)
        IvfIndex.deleteIds(spark, vecs.filter(col("id") % 5 === 0).select("id"),
          table, path, batchId = 2L)
        val cents = asSet(spark.table(s"${table}_centroids"))
        () => assert(asSet(spark.table(s"${table}_centroids")) == cents,
          "compaction never moves a cell boundary")
      },
      Seq(
        CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0) -> false,
        // dead axis: 1/5 tombstoned > 0.1
        CompactPolicy(maxBatches = 99L, maxDeadFraction = 0.1) -> true)))

  policyRows.foreach { r =>
    test(r.name) {
      drop(r.table, r.suffixes)
      val path = graft.core.Scratch.path(r.table)
      val after = r.setup(r.table, path)
      val family = Maintenance.Family(r.table, r.kind, path)
      r.probes.foreach { case (policy, want) =>
        assert(Maintenance.shouldCompact(spark, family, policy) == want, policy)
      }
      assert(Maintenance.compactIfDue(spark, family,
        CompactPolicy(maxBatches = 0L, maxDeadFraction = 1.0)))
      assert(!Maintenance.shouldCompact(spark, family,
        CompactPolicy(maxBatches = 0L, maxDeadFraction = 0.0)),
        "a freshly compacted family must settle")
      after()
    }
  }

  // --------------------------------------------------------------------
  // the join decision reads all three logs (round-9 advice)

  test("dim-only churn makes the join family due — the view log alone would miss it") {
    val table = "mnt_join_dimchurn"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    drop(table, Seq("fact", "dim", "batches"))
    val path = graft.core.Scratch.path(table)
    import spark.implicits._
    val fact = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val dim = Seq((1L, "a"), (2L, "b"), (9L, "z")).toDF("k", "seg")
    IvmJoin.build(fact, dim, "k", table, path, 4)
    val noFact = fact.limit(0).withColumn("dn", lit(1L))
    // churn ONLY the factless dim key, twice (each batch a −old/+new
    // pair): the view delta is empty (no matching facts), so the VIEW
    // log records nothing — all debt lives in the _dim log
    Seq((1L, "z", "z1"), (2L, "z1", "z2")).foreach { case (b, old, nw) =>
      IvmJoin.applyDelta(spark, table, "k", noFact,
        Seq((9L, old, -1L), (9L, nw, 1L)).toDF("k", "seg", "dn"),
        batchId = b)
    }
    assert(IvmJoin.describe(spark, table).head()
      .getAs[Long]("batches_since_compact") == 0L,
      "fixture sanity: the view log must have seen nothing")
    val family = Maintenance.Family(table, "join", path, Seq("k"))
    assert(Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0)),
      "2 dim-log batches must make the family due at maxBatches = 1")
    assert(!Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 2L, maxDeadFraction = 1.0)))
    // dead axis on the dim log: 2 churned-away entries + 1 live of 3
    // collapsed identities... entries − live > 0 must trigger a tight
    // dead-fraction policy even with a generous batches bound
    assert(Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 99L, maxDeadFraction = 0.1)))
    assert(Maintenance.compactIfDue(spark, family,
      CompactPolicy(maxBatches = 0L, maxDeadFraction = 1.0)))
    assert(!Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 0L, maxDeadFraction = 0.0)),
      "the loop settles after folding all three logs")
  }

  // --------------------------------------------------------------------
  // fsck: the structural ledger audit (round 10)

  /** A botched manual repair: one row of log `t` re-appended under
    * `stamp`, outside every verb (the fence would refuse the verb). */
  private def rawAppend(t: String, stamp: Long): Unit = {
    val rows = spark.table(t).limit(1).withColumn("batch_id", lit(stamp)).collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), spark.table(t).schema)
      .write.mode(org.apache.spark.sql.SaveMode.Append).insertInto(t)
  }

  private def fsckBad(table: String, kind: String) =
    Maintenance.fsck(spark, table, kind).filter(!col("ok"))
      .select("check").collect().map(_.getString(0)).toSeq

  test("fsck: a clean build+extend+delete ladder reads 100% ok") {
    val table = "mnt_fsck_clean"
    drop(table, Seq("postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(table)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), table, path)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), table,
      batchId = 1L)
    RetrievalIndex.deleteDocs(spark,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), table, path,
      batchId = 2L)
    assert(fsckBad(table, "retrieval").isEmpty)
    // and after a namespace-preserving compact: marker {0, 2} has a
    // non-zero run starting past 1 — the OTHER legal shape
    RetrievalIndex.compact(spark, table, path, preserveNamespace = true)
    assert(fsckBad(table, "retrieval").isEmpty,
      "the {0, maxCommitted} marker is a legal fsck shape")
  }

  test("fsck: one in-flight crash-window stamp is legal; an orphan beyond it is not") {
    val table = "mnt_fsck_inflight"
    drop(table, Seq("postings", "meta"))
    val path = graft.core.Scratch.path(table)
    RetrievalIndex.build(docs.filter(col("doc_id") % 3 === 0), table, path)
    // crash window: data appended at max+1 = 1, marker never written
    Ledger.crashBeforeMarker(RetrievalIndex.extend(docs.filter(col("doc_id") % 3 === 1),
      table, batchId = 1L))
    assert(fsckBad(table, "retrieval").isEmpty,
      "the single max+1 stamp is the legal crash window")
    // an orphan BEYOND the window (stamp 5 over committed {0}) can't be
    // produced by the fenced protocol, only by a raw append — fsck must
    // flag the log
    rawAppend(s"${table}_postings", 5L)
    val bad = fsckBad(table, "retrieval")
    assert(bad.exists(_.startsWith("log_stamps:")),
      s"orphan stamp must trip the log check, got $bad")
  }

  test("fsck: a stream-built pair index with gaps in its stamps reads clean") {
    val table = "mnt_fsck_cdc"
    drop(table, Seq("members", "sets", "postings", "dict", "batches", "deleted"))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val path = graft.core.Scratch.path(table)
    val adds = docs.select(col("doc_id").as("id"), col("text"), lit("add").as("op"))
    // two add-only CDC epochs stamp their adds 2·(e+1): committed {0, 2, 4}
    PairIndexStream.foldCdc(adds.filter(col("id") % 3 === 0), 0L, table, path, 0.8)
    PairIndexStream.foldCdc(adds.filter(col("id") % 3 === 1), 1L, table, path, 0.8)
    assert(marker(s"${table}_batches") == Set(0L, 2L, 4L))
    assert(fsckBad(table, "pairs").isEmpty, "the unfenced kind's gaps are legal")
    // epoch 2 crashes after its adds' data appends: in flight at 6 = max + 2
    val third = adds.filter(col("id") % 3 === 2).select("id", "text")
    Ledger.crashBeforeMarker(Dedup.extendPairIndex(spark, third, table, 0.8, 6L))
    assert(fsckBad(table, "pairs").isEmpty, "the in-flight stamp above max is legal")
    // a second uncommitted stamp, below max, is still an orphan
    Ledger.crashBeforeMarker(
      Dedup.deleteFromPairIndex(spark, adds.limit(1).select("id"), table, path, 3L))
    assert(fsckBad(table, "pairs").contains(s"log_stamps:${table}_deleted"))
  }

  test("fsck covers the remaining families: pairs, IVF, join view") {
    import spark.implicits._
    // pairs: a real (small) build+extend ladder, all five logs present
    val pt = "mnt_fsck_pairs"
    Seq("", "_members", "_sets", "_postings", "_batches", "_deleted")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $pt$s"))
    val d = docs.select(col("doc_id").as("id"), col("text"))
    Dedup.buildPairIndex(d.filter(col("id") % 2 === 0), pt,
      graft.core.Scratch.path(pt), threshold = 0.8, incremental = true)
    Dedup.extendPairIndex(spark, d.filter(col("id") % 2 === 1), pt,
      threshold = 0.8, batchId = 1L)
    Dedup.deleteFromPairIndex(spark,
      d.filter(col("id") % 7 === 3).select("id"), pt,
      graft.core.Scratch.path(pt), batchId = 2L)
    assert(Maintenance.fsck(spark, pt, "pairs").filter(!col("ok")).count() == 0L)
    // IVF: the memoized ladder (build + extend + delete)
    assert(Maintenance.fsck(spark,
      graft.queries.AsOfFixtures.ivf(spark, sfDir), "ivf")
      .filter(!col("ok")).count() == 0L)
    // join view: a tiny both-sided family, three stamped logs + marker
    val jt = "mnt_fsck_join"
    Seq(jt, s"${jt}_fact", s"${jt}_dim", s"${jt}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val fact = Seq((1L, 101L, 10.0), (2L, 201L, 30.0))
      .toDF("k", "o", "v")
    val dim = Seq((1L, "A"), (2L, "B")).toDF("k", "seg")
    IvmJoin.build(fact, dim, "k", jt, graft.core.Scratch.path(jt), 4)
    IvmJoin.applyDelta(spark, jt, "k",
      Seq((1L, 102L, 5.0)).toDF("k", "o", "v").withColumn("dn", lit(1L)),
      dim.limit(0).withColumn("dn", lit(1L)), batchId = 1L)
    assert(Maintenance.fsck(spark, jt, "join").filter(!col("ok")).count() == 0L)
    // and a staged violation on the join: fact-log data at an orphan
    // stamp (5 over committed {0,1}, which the fence refuses to any verb,
    // so a raw append) must flag log_stamps on that log
    rawAppend(s"${jt}_fact", 5L)
    val bad = Maintenance.fsck(spark, jt, "join").filter(!col("ok"))
      .select("check").collect().map(_.getString(0))
    assert(bad.exists(_.startsWith("log_stamps:")), bad.mkString(","))
  }

  test("fsck: marker corruption trips marker_base / marker_shape") {
    import spark.implicits._
    def fakeMarker(stamps: Seq[Long]): Unit = {
      spark.sql("DROP TABLE IF EXISTS mnt_fsckfake_batches")
      stamps.toDF("batch_id").write
        .option("path", graft.core.Scratch.path("mnt_fsckfake_batches"))
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable("mnt_fsckfake_batches")
    }
    fakeMarker(Seq(1L, 2L)) // lost its build stamp
    assert(fsckBad("mnt_fsckfake", "lsh").contains("marker_base"))
    fakeMarker(Seq(0L, 1L, 3L)) // hole mid-run: not a compact, not a fence
    assert(fsckBad("mnt_fsckfake", "lsh").contains("marker_shape"))
    fakeMarker(Seq(0L, 4L, 5L, 6L)) // preserving-compact shape: legal
    // …but this synthetic family has a marker and NO data logs at all —
    // core-log absence must read as damage, only _deleted is optional
    val noLogs = fsckBad("mnt_fsckfake", "lsh")
    assert(noLogs == Seq("log_stamps:mnt_fsckfake_postings",
      "log_stamps:mnt_fsckfake_sets"), noLogs.toString)
    spark.sql("DROP TABLE IF EXISTS mnt_fsckfake_batches")
    assert(fsckBad("mnt_fsckfake", "lsh").contains("marker_present"))
  }

  // --------------------------------------------------------------------
  // the compact lease: the cross-SCHEDULER single-writer guard (r11)

  test("lease: held-by-another refuses loudly; renew, release, expiry all work") {
    val path = graft.core.Scratch.path("mnt_lease_fam")
    Maintenance.acquireLease(spark, path, "schedA")
    val e = intercept[IllegalStateException] {
      Maintenance.acquireLease(spark, path, "schedB")
    }
    assert(e.getMessage.contains("schedA"), e.getMessage)
    // the holder's next tick renews without ceremony
    Maintenance.acquireLease(spark, path, "schedA")
    // releasing someone else's lease is a bug, not a no-op
    intercept[IllegalArgumentException] {
      Maintenance.releaseLease(spark, path, "schedB")
    }
    Maintenance.releaseLease(spark, path, "schedA")
    // a released lease is anyone's
    Maintenance.acquireLease(spark, path, "schedB")
    Maintenance.releaseLease(spark, path, "schedB")
    // a crashed holder's EXPIRED lease is claimable after its TTL
    Maintenance.acquireLease(spark, path, "schedA", ttlMs = 0L)
    Thread.sleep(5)
    Maintenance.acquireLease(spark, path, "schedB")
    Maintenance.releaseLease(spark, path, "schedB")
  }

  test("lease: an owner with a quote round-trips and still refuses others") {
    val path = graft.core.Scratch.path("mnt_lease_quote")
    assert(Maintenance.acquireLease(spark, path, "cron\"A") == 1L)
    val e = intercept[IllegalStateException] {
      Maintenance.acquireLease(spark, path, "cronB")
    }
    assert(e.getMessage.contains("held by 'cron\"A'"), e.getMessage)
    // the holder's renew reads its own tenure back: same generation
    assert(Maintenance.acquireLease(spark, path, "cron\"A") == 1L)
    Maintenance.releaseLease(spark, path, "cron\"A")
  }

  test("fencing token: a stalled holder's late commit refuses after a claim") {
    import spark.implicits._
    import graft.operators.{IvmRollup, Maintenance => M}
    import graft.operators.Maintenance.Family
    val t = "mnt_fence_ivm"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val path = graft.core.Scratch.path(t)
    IvmRollup.build(
      Seq((1L, 10.0), (2L, 20.0), (1L, 5.0)).toDF("k", "v"),
      col("k"), col("v"), t, path)
    IvmRollup.applyDelta(spark, t,
      Seq((2L, 1L, java.math.BigDecimal.valueOf(7.0))).toDF("key", "dn", "dr"),
      batchId = 1L)
    val fleet = Seq(Family(t, "rollup", path))
    // slowA's tenure starts already expired (ttl 0) — the stall. fastB
    // claims the family mid-body and compacts it; slowA's own compact,
    // still running under the superseded tenure, must refuse at its
    // commit point (BEFORE the whole-table Overwrite) instead of
    // tearing B's freshly-written state.
    val e = intercept[IllegalStateException] {
      M.withLease(spark, path, "slowA", ttlMs = 0L) {
        Thread.sleep(5)
        // B holds the claimed lease ACROSS A's late commit — the
        // "superseded by a live tenure" flavor of the refusal
        M.acquireLease(spark, path, "fastB")
        IvmRollup.compact(spark, t, path)
      }
    }
    assert(e.getMessage.contains("superseded") &&
      e.getMessage.contains("fastB"), e.getMessage)
    // A's bracket exit must NOT delete B's lease (tenure-aware release)
    val e2 = intercept[IllegalStateException] {
      M.acquireLease(spark, path, "schedC")
    }
    assert(e2.getMessage.contains("fastB"), e2.getMessage)
    M.releaseLease(spark, path, "fastB")
    // the tenure-ENDED flavor: B claims, compacts via sweep (which
    // releases on exit), and A's late commit finds no lease at all
    val e3 = intercept[IllegalStateException] {
      M.withLease(spark, path, "slowA", ttlMs = 0L) {
        Thread.sleep(5)
        val tick = M.sweep(spark, fleet,
          CompactPolicy(maxBatches = 0L), owner = "fastB").collect()
        assert(tick.head.getBoolean(2), "B's claimed-lease compact must run")
        IvmRollup.compact(spark, t, path)
      }
    }
    assert(e3.getMessage.contains("tenure ended"), e3.getMessage)
    // the family survives A's refused commits serving B's state exactly
    assert(IvmRollup.serve(spark, t).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L), (2L, 2L)))
    // a live, unexpired tenure commits fine through the same guard
    M.withLease(spark, path, "calmA") { IvmRollup.compact(spark, t, path) }
  }

  test("lease: a corrupt (crash-mid-create) lease file is claimable, not a brick") {
    import graft.operators.{Maintenance => M}
    val path = graft.core.Scratch.path("mnt_lease_corrupt")
    val p = new org.apache.hadoop.fs.Path(path + "_COMPACT_LEASE")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a creator that died mid-write leaves an empty file
    fs.create(p, true).close()
    M.acquireLease(spark, path, "schedA")
    M.releaseLease(spark, path, "schedA")
    // ...and a truncated-JSON one (owner written, rest missing)
    val out = fs.create(p, true)
    out.write("""{"owner":"ghost"""".getBytes("UTF-8")); out.close()
    M.acquireLease(spark, path, "schedB")
    // releasing a CORRUPT lease as if it were a tenure is refused loudly
    val out2 = fs.create(p, true); out2.close()
    val e = intercept[IllegalArgumentException] {
      M.releaseLease(spark, path, "schedB")
    }
    assert(e.getMessage.contains("unreadable"), e.getMessage)
    fs.delete(p, false)
  }

  test("two sweeps cannot compact one family concurrently — the loser hears it") {
    import spark.implicits._
    import graft.operators.IvmRollup
    import graft.operators.Maintenance.Family
    val t = "mnt_lease_ivm"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val path = graft.core.Scratch.path(t)
    IvmRollup.build(
      Seq((1L, 10.0), (2L, 20.0), (1L, 5.0)).toDF("k", "v"),
      col("k"), col("v"), t, path)
    val fleet = Seq(Family(t, "rollup", path))
    // scheduler A holds the family's lease (mid-compact, say); B's
    // sweep must fail LOUDLY at that family, not double-compact it
    Maintenance.acquireLease(spark, path, "cronA")
    val e = intercept[IllegalStateException] {
      Maintenance.sweep(spark, fleet, CompactPolicy(), owner = "cronB")
    }
    assert(e.getMessage.contains("cronA"), e.getMessage)
    Maintenance.releaseLease(spark, path, "cronA")
    // lease freed: B's tick probes (a fresh build carries no debt) and
    // leaves the lease released behind itself — A can take it again
    val tick = Maintenance.sweep(spark, fleet, CompactPolicy(),
      owner = "cronB").collect()
    assert(tick.forall(!_.getBoolean(2)))
    Maintenance.acquireLease(spark, path, "cronA")
    Maintenance.releaseLease(spark, path, "cronA")
  }

  test("withLease brackets a hot backup against the scheduler's compacts") {
    import graft.operators.{Maintenance => M, RetrievalIndex, Snapshot}
    import graft.operators.Maintenance.Family
    val table = "mnt_lease_rix"
    drop(table, Seq("postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(table)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), table, path)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), table,
      batchId = 1L)
    val fleet = Seq(Family(table, "retrieval", path))
    // a compact due at the next tick — exactly the race window
    val hungry = CompactPolicy(maxBatches = 0L)
    val dest = graft.core.Scratch.path("mnt_lease_snap")
    M.withLease(spark, path, "backup") {
      // the sweep arriving MID-BACKUP fails loudly instead of
      // rewriting the tables the export is copying
      val e = intercept[IllegalStateException] {
        M.sweep(spark, fleet, hungry, owner = "cron")
      }
      assert(e.getMessage.contains("backup"), e.getMessage)
      Snapshot.exportAtCut(spark, table, "retrieval", dest)
    }
    // bracket closed: the sweep's compact proceeds, and the snapshot
    // taken under the lease still verifies and restores
    val tick = M.sweep(spark, fleet, hungry, owner = "cron").collect()
    assert(tick.head.getBoolean(2), "the deferred compact must run now")
    assert(Snapshot.verify(spark, dest).filter(!col("ok")).count() == 0L)
    val restored = "mnt_lease_restored"
    Seq("", "_postings", "_meta", "_deleted").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $restored$s"))
    Snapshot.restore(spark, dest, restored, graft.core.Scratch.path(restored))
    assert(asSet(RetrievalIndex.topK(spark, restored, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, table, CurationOps.rankQueries)),
      "pre-compact backup == post-compact family (compact changes bytes, not answers)")
  }

  test("sweep drives the backup autopilot per family, in the lease tenure") {
    import spark.implicits._
    import graft.operators.{IvmRollup, Snapshot}
    import graft.operators.Maintenance.Family
    val hot = "mnt_bk_ivm"; val cold = "mnt_bk_ivm2"
    Seq(hot, cold).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq(hot, cold).foreach { t =>
      IvmRollup.build(
        Seq((1L, 10.0), (2L, 20.0), (1L, 5.0)).toDF("k", "v"),
        col("k"), col("v"), t, graft.core.Scratch.path(t))
    }
    val root = graft.core.Scratch.path("mnt_bk_root")
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
    val bp = Snapshot.BackupPolicy(root, everyBatches = 1L)
    // only the hot family carries a policy: the report splits per family
    val fleet = Seq(
      Family(hot, "rollup", graft.core.Scratch.path(hot), backup = Some(bp)),
      Family(cold, "rollup", graft.core.Scratch.path(cold)))
    val t1 = Maintenance.sweep(spark, fleet, CompactPolicy()).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(t1 == Map(hot -> "full", cold -> ""), t1)
    // idempotent: the second tick settles, and the lineage head exists
    val t2 = Maintenance.sweep(spark, fleet, CompactPolicy()).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(t2 == Map(hot -> "none", cold -> ""), t2)
    assert(Snapshot.latestBackup(spark, s"$root/$hot").isDefined)
    assert(Snapshot.latestBackup(spark, s"$root/$cold").isEmpty)
    // the tick runs under the family lease: a held lease blocks it
    Maintenance.acquireLease(spark, graft.core.Scratch.path(hot), "cronX")
    intercept[IllegalStateException] {
      Maintenance.sweep(spark, fleet, CompactPolicy())
    }
    Maintenance.releaseLease(spark, graft.core.Scratch.path(hot), "cronX")
  }

  // --------------------------------------------------------------------
  // commit-guard thread confinement (round-13 advice: a DynamicVariable
  // guard was INHERITABLE — a pool thread spawned during a guarded sweep
  // kept the tenure check forever and could spuriously refuse a later
  // unbracketed manual compact scheduled onto it)

  test("commit guard confines to the bracket's own thread; a manual " +
      "compact on a pool thread that ran a sweep sees no stale guard") {
    import graft.core.{CommitGuard, Par}
    // non-inheritance, staged directly: a thread SPAWNED while a guard
    // is installed must not see it — the old DynamicVariable did
    @volatile var childLeak: Option[Throwable] = None
    CommitGuard.withGuard(() =>
        throw new IllegalStateException("stale tenure")) {
      val t = new Thread(() => {
        try CommitGuard.check()
        catch { case e: Throwable => childLeak = Some(e) }
      })
      t.start(); t.join()
      // the bracket's own thread still enforces its own guard
      intercept[IllegalStateException](CommitGuard.check())
    }
    assert(childLeak.isEmpty,
      s"a spawned thread inherited the commit guard: $childLeak")
    CommitGuard.check() // and the bracket restored the installer to clean
    // end to end: a sweep COMPACTS a family under its per-pool-thread
    // guard, then a manual (unbracketed) compact of a second family runs
    // inside Par.run on the same global pool — enough tasks to land on
    // the workers the sweep used; none may hit a stale tenure check
    import graft.operators.Maintenance.Family
    val swept = "mnt_guard_swept"; val manual = "mnt_guard_manual"
    Seq(swept, manual).foreach(t => drop(t, Seq("postings", "meta", "deleted")))
    RetrievalIndex.build(docs.filter(col("doc_id") % 3 === 0), swept,
      graft.core.Scratch.path(swept))
    RetrievalIndex.extend(docs.filter(col("doc_id") % 3 === 1), swept,
      batchId = 1L)
    RetrievalIndex.build(docs.filter(col("doc_id") % 3 === 2), manual,
      graft.core.Scratch.path(manual))
    RetrievalIndex.extend(docs.filter(col("doc_id") % 3 === 1), manual,
      batchId = 1L)
    val tick = Maintenance.sweep(spark,
      Seq(Family(swept, "retrieval", graft.core.Scratch.path(swept))),
      CompactPolicy(maxBatches = 0L)).collect()
    assert(tick.head.getBoolean(2), "the sweep must have compacted")
    val results = Par.run(1 to 4) { i =>
      if (i == 1)
        RetrievalIndex.compact(spark, manual,
          graft.core.Scratch.path(manual), preserveNamespace = true)
      else CommitGuard.check() // recycled workers must be guard-free
      i
    }
    assert(results == (1 to 4),
      "an unbracketed compact on a recycled pool thread must not refuse")
    assert(marker(s"${manual}_meta") == Set(0L, 1L),
      "the manual preserving compact landed its {0, maxCommitted} ledger")
  }

  test("Par.run joins EVERY item before the first (input-order) failure " +
      "propagates — no sibling keeps mutating behind a recovery path") {
    import graft.core.Par
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val e = intercept[IllegalStateException] {
      Par.run(Seq(1, 2, 3, 4)) { i =>
        if (i == 3) { Thread.sleep(5); throw new IllegalStateException("slow-3") }
        if (i == 2) throw new IllegalStateException("fast-2")
        Thread.sleep(60); done.add(i); i
      }
    }
    // input order decides which failure surfaces (what a sequential loop
    // whose earlier items succeeded would have thrown), not finish order
    assert(e.getMessage == "fast-2", e.getMessage)
    // and the slow siblings ran to completion before the throw — the
    // round-13 advice hazard (applyLink's orphaned append landing into a
    // freshly reseeded replica) is structurally closed
    assert(done.contains(1) && done.contains(4), s"joined: $done")
  }
}

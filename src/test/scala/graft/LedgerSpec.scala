package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IvfIndex, IvmJoin, Ledger, Maintenance, RetrievalIndex,
  Snapshot}
import graft.operators.Maintenance.{CompactPolicy, Family}
import graft.streaming.RetrievalStream

/** The commit ledger of the maintained families, one row per kind that
  * keeps a commit marker: a non-positive stamp is refused, a committed
  * replay adds no rows, and on the fenced kinds a stamp of max + 2 fails
  * the writer fence. A crashed extend, delete (index kinds) and compact,
  * each the production verb crashed right before its marker write
  * ([[Ledger.crashBeforeMarker]]), commit no stamp, read clean under
  * fsck and converge on rerun to the uncrashed family. Each row also pins
  * the exact job counts of its extend, delete and compact, and on the
  * index kinds those of the policy probe, not due and due. The marker
  * read behind every committed-stamp check is one job (a scan collected
  * without a shuffle), and a manual compact of a kind without a marker
  * payload does not read the marker at all. The snapshot verbs are
  * pinned too: each audit or read-back is one scan-only job, so a verb
  * costs its writes plus one job per audit phase.
  */
class LedgerSpec extends SparkSpec {
  import LedgerSpec.Kind

  private val Buckets = 2

  /** 40 short documents; ids with the same `id % 8` share all but one
    * word, so the pair tiers find pairs in every batch. */
  private def docs(from: Int, until: Int, idCol: String): DataFrame = {
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    val rows = (from until until).map { i =>
      val base = (0 until 8).map(w => words((i % 8 + w) % words.size))
      (i.toLong, (base.updated(i % 7, s"w$i")).mkString(" "))
    }
    spark.createDataFrame(rows).toDF(idCol, "text")
  }

  private def vectors(from: Int, until: Int): DataFrame =
    spark.createDataFrame((from until until).map { i =>
      (i.toLong, Seq(1.0 + i % 5, (i % 3).toDouble, 2.0 - i % 4, 0.5 * (i % 2)))
    }).toDF("id", "vec")

  private def fact(from: Int, until: Int, dn: Long): DataFrame =
    spark.createDataFrame((from until until).map(i => (i.toLong % 6, i.toLong, 1.5 * i, dn)))
      .toDF("k", "o", "v", "dn")
  private def dim(keys: Seq[Long], dn: Long): DataFrame =
    spark.createDataFrame(keys.map(k => (k, s"seg$k", dn))).toDF("k", "seg", "dn")

  private def collected(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private val threshold = 0.3
  private val queries = Seq((1, Seq("alpha", "golf")), (2, Seq("w33", "kilo")))
  private val phrases = Seq((1, Seq("bravo", "charlie")), (2, Seq("kilo", "lima")))

  private val kinds = Seq(
    Kind("pairs", Seq("base", "members", "sets", "postings", "dict", "batches", "deleted"),
      fenced = false,
      (t, p) => Dedup.buildPairIndex(docs(0, 24, "id"), t, p, threshold,
        nBuckets = Buckets, incremental = true),
      (t, b) => Dedup.extendPairIndex(spark, docs(24, 40, "id"), t, threshold, b,
        nBuckets = Buckets),
      Some((t, p, b) => Dedup.deleteFromPairIndex(spark,
        docs(0, 40, "id").filter(col("id") % 5 === 0), t, p, b)),
      (t, p) => Dedup.compactPairIndex(spark, t, p, Buckets),
      t => collected(Dedup.servePairIndex(spark, t)),
      Map("extend" -> 34, "delete" -> 4, "compact" -> 24, "probe" -> 3, "probe due" -> 1)),
    Kind("lsh", Seq("postings", "sets", "batches", "deleted"), fenced = true,
      (t, p) => Dedup.buildNearDupIndex(docs(0, 24, "id"), t, p, nBuckets = Buckets),
      (t, b) => Dedup.extendNearDupIndex(spark, docs(24, 40, "id"), t, b,
        nBuckets = Buckets),
      Some((t, p, b) => Dedup.deleteFromNearDupIndex(spark,
        docs(0, 40, "id").filter(col("id") % 5 === 0), t, p, b)),
      (t, p) => Dedup.compactNearDupIndex(spark, t, p, Buckets),
      t => collected(Dedup.serveNearDupPairs(spark, t, threshold)),
      Map("extend" -> 7, "delete" -> 4, "compact" -> 12, "probe" -> 3, "probe due" -> 1)),
    Kind("retrieval", Seq("postings", "meta", "deleted"), fenced = true,
      (t, p) => RetrievalIndex.build(docs(0, 24, "doc_id"), t, p, Buckets),
      (t, b) => RetrievalIndex.extend(docs(24, 40, "doc_id"), t, b, Buckets),
      Some((t, p, b) => RetrievalIndex.deleteDocs(spark,
        docs(0, 40, "doc_id").filter(col("doc_id") % 5 === 0), t, p, b)),
      (t, p) => RetrievalIndex.compact(spark, t, p, Buckets),
      t => collected(RetrievalIndex.topK(spark, t, queries, k = 5)),
      Map("extend" -> 5, "delete" -> 7, "compact" -> 8, "probe" -> 3, "probe due" -> 1)),
    Kind("positions", Seq("positions", "pbatches", "pdeleted"), fenced = true,
      (t, p) => RetrievalIndex.buildPositions(docs(0, 24, "doc_id"), t, p, Buckets),
      (t, b) => RetrievalIndex.extendPositions(docs(24, 40, "doc_id"), t, b, Buckets),
      Some((t, p, b) => RetrievalIndex.deletePositionDocs(spark,
        docs(0, 40, "doc_id").filter(col("doc_id") % 5 === 0), t, p, b)),
      (t, p) => RetrievalIndex.compactPositions(spark, t, p, Buckets),
      t => collected(RetrievalIndex.phrase(spark, t, phrases)),
      Map("extend" -> 5, "delete" -> 4, "compact" -> 7, "probe" -> 3, "probe due" -> 1)),
    Kind("ivf", Seq("centroids", "cells", "batches", "deleted"), fenced = true,
      (t, p) => IvfIndex.build(vectors(0, 24), t, p, nCells = 2, iters = 1,
        nBuckets = Buckets),
      (t, b) => IvfIndex.extend(spark, vectors(24, 40), t, b, Buckets),
      Some((t, p, b) => IvfIndex.deleteIds(spark,
        vectors(0, 40).filter(col("id") % 5 === 0).select("id"), t, p, b)),
      (t, p) => IvfIndex.compact(spark, t, p, Buckets),
      t => collected(IvfIndex.topK(spark, t,
        vectors(0, 3).select(col("id").as("qid"), col("vec").as("qvec")), k = 4,
        nProbe = 2)),
      Map("extend" -> 7, "delete" -> 4, "compact" -> 7, "probe" -> 3, "probe due" -> 1)),
    Kind("join", Seq("base", "fact", "dim", "batches"), fenced = true,
      (t, p) => IvmJoin.build(fact(0, 24, 1L).drop("dn"), dim(0L until 6L, 1L).drop("dn"),
        "k", t, p, Buckets),
      (t, b) => IvmJoin.applyDelta(spark, t, "k", fact(24, 40, 1L), dim(Nil, 1L), b,
        Buckets),
      None,
      (t, p) => IvmJoin.compact(spark, t, p, Seq("k"), Buckets),
      t => collected(IvmJoin.serve(spark, t)),
      Map("extend" -> 14, "compact" -> 10)))

  private def tableOf(t: String, s: String) = if (s == "base") t else s"${t}_$s"

  private def fresh(k: Kind, name: String): (String, String) = {
    val t = s"ledger_${k.kind}_$name"
    k.suffixes.foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${tableOf(t, s)}"))
    val p = graft.core.Scratch.path(t)
    k.build(t, p)
    (t, p)
  }

  /** Rows in every table of the family, marker included. */
  private def rows(k: Kind, t: String): Map[String, Long] =
    k.suffixes.map(tableOf(t, _)).filter(spark.catalog.tableExists)
      .map(n => n -> spark.table(n).count()).toMap

  private def committed(k: Kind, t: String): Set[Long] =
    Ledger.committed(spark, t, k.kind)

  private def fsckBad(k: Kind, t: String): Seq[String] =
    Maintenance.fsck(spark, t, k.kind).filter(!col("ok"))
      .select("check").collect().map(_.getString(0)).toSeq

  /** Run `verb` as a crash before its marker write on family `t`, and
    * check the one legal crash window: the verb's appends or rewrites
    * landed, no stamp was committed, and fsck reads clean. */
  private def crash(k: Kind, t: String, landed: Boolean)(verb: => Unit): Unit = {
    val (stamps, before) = (committed(k, t), rows(k, t))
    Ledger.crashBeforeMarker(verb)
    assert(committed(k, t) == stamps, "a crashed verb commits no stamp")
    if (landed) assert(rows(k, t) != before, "the crashed verb's appends must land")
    assert(fsckBad(k, t).isEmpty)
  }

  kinds.foreach { k =>
    test(s"${k.kind}: a non-positive stamp is refused before anything is read") {
      val (t, p) = fresh(k, "zero")
      Seq(0L, -1L).foreach { b =>
        val e = intercept[IllegalArgumentException](k.extend(t, b))
        assert(e.getMessage.contains("must be positive"), e.getMessage)
        k.delete.foreach { d =>
          intercept[IllegalArgumentException](d(t, p, b))
        }
      }
    }

    test(s"${k.kind}: a committed replay adds no rows") {
      val (t, p) = fresh(k, "replay")
      k.extend(t, 1L)
      val afterExtend = rows(k, t)
      k.extend(t, 1L)
      assert(rows(k, t) == afterExtend)
      k.delete.foreach { d =>
        d(t, p, 2L)
        val afterDelete = rows(k, t)
        d(t, p, 2L)
        assert(rows(k, t) == afterDelete)
      }
    }

    test(s"${k.kind}: a crashed replay converges to the uncrashed family") {
      val (clean, _) = fresh(k, "clean")
      k.extend(clean, 1L)
      val (crashed, _) = fresh(k, "crashed")
      crash(k, crashed, landed = true)(k.extend(crashed, 1L))
      assert(!committed(k, crashed).contains(1L))
      k.extend(crashed, 1L)
      val want = k.serve(clean)
      assert(want.nonEmpty)
      assert(k.serve(crashed) == want)
      assert(committed(k, crashed) == committed(k, clean))
    }

    k.delete.foreach { delete =>
      test(s"${k.kind}: a crashed delete reads clean and its rerun converges") {
        val (clean, cp) = fresh(k, "cleandel")
        k.extend(clean, 1L)
        delete(clean, cp, 2L)
        val (crashed, p) = fresh(k, "crasheddel")
        k.extend(crashed, 1L)
        crash(k, crashed, landed = true)(delete(crashed, p, 2L))
        assert(!committed(k, crashed).contains(2L))
        delete(crashed, p, 2L)
        assert(k.serve(crashed) == k.serve(clean))
        assert(committed(k, crashed) == committed(k, clean))
      }
    }

    test(s"${k.kind}: a crashed compact reads clean and its rerun converges") {
      // the ladder the compact folds: an extend and, on the index kinds,
      // a delete, so the crash lands after the frontier's truncation
      def ladder(t: String, p: String): Unit = {
        k.extend(t, 1L)
        k.delete.foreach(_(t, p, 2L))
      }
      val (clean, cp) = fresh(k, "cleancpt")
      ladder(clean, cp)
      k.compact(clean, cp)
      val (crashed, p) = fresh(k, "crashedcpt")
      ladder(crashed, p)
      val want = k.serve(crashed)
      crash(k, crashed, landed = false)(k.compact(crashed, p))
      k.suffixes.filter(_.endsWith("deleted")).foreach(f =>
        assert(spark.table(tableOf(crashed, f)).isEmpty, s"$f is truncated before the marker"))
      assert(k.serve(crashed) == want)
      k.compact(crashed, p)
      assert(k.serve(crashed) == want)
      assert(k.serve(clean) == want)
      assert(committed(k, crashed) == Set(0L) && committed(k, clean) == Set(0L))
    }

    test(s"${k.kind}: a stamp of max + 2 " +
        (if (k.fenced) "fails the writer fence" else "commits (the kind does not fence)")) {
      val (t, _) = fresh(k, "fence")
      if (k.fenced) {
        val e = intercept[IllegalArgumentException](k.extend(t, 2L))
        assert(e.getMessage.contains("out of sequence"), e.getMessage)
      } else {
        k.extend(t, 2L)
        assert(rows(k, t)(tableOf(t, "batches")) == 2L)
      }
    }

    test(s"${k.kind}: extend, delete and compact run their pinned job counts") {
      val (t, p) = fresh(k, "pins")
      val sc = spark.sparkContext
      val got = Map("extend" -> JobCount.all(sc)(k.extend(t, 1L))._2) ++
        k.delete.map(d => "delete" -> JobCount.all(sc)(d(t, p, 2L))._2) ++
        Map("compact" -> JobCount.all(sc)(k.compact(t, p))._2)
      assert(got == k.pins -- Seq("probe", "probe due"))
    }

    if (k.delete.isDefined)
      test(s"${k.kind}: the policy probe runs its pinned job counts, not due and due") {
        val (t, p) = fresh(k, "probe")
        k.extend(t, 1L)
        k.delete.foreach(_(t, p, 2L))
        val family = Family(t, k.kind, p, nBuckets = Buckets)
        val sc = spark.sparkContext
        // one data batch, 1/5 of the ids tombstoned: the not-due probe
        // reads both axes, the due one stops at the batches axis
        val (notDue, notDueJobs) = JobCount.all(sc)(
          Maintenance.shouldCompact(spark, family, CompactPolicy(16L, 0.9)))
        val (due, dueJobs) = JobCount.all(sc)(
          Maintenance.shouldCompact(spark, family, CompactPolicy(0L, 1.0)))
        assert(!notDue && due)
        assert(Map("probe" -> notDueJobs, "probe due" -> dueJobs) ==
          k.pins.filter(_._1.startsWith("probe")))
      }
  }

  test("the crash seam fails loudly on a verb that never reaches its marker") {
    val k = kinds.find(_.kind == "retrieval").get
    val (t, _) = fresh(k, "seamnoop")
    k.extend(t, 1L)
    // a committed replay no-ops: a staging that would pass silently
    val e = intercept[IllegalStateException](Ledger.crashBeforeMarker(k.extend(t, 1L)))
    assert(e.getMessage.contains("without a marker write"), e.getMessage)
    // and the flag is cleared: the next verb commits
    k.extend(t, 2L)
    assert(committed(k, t) == Set(0L, 1L, 2L))
  }

  test("the crash seam clears its flag when the verb throws something else") {
    val k = kinds.find(_.kind == "retrieval").get
    val (t, _) = fresh(k, "seamfence")
    // the writer fence refuses stamp 5 before any append
    val e = intercept[IllegalArgumentException](Ledger.crashBeforeMarker(k.extend(t, 5L)))
    assert(e.getMessage.contains("out of sequence"), e.getMessage)
    k.extend(t, 1L)
    assert(committed(k, t) == Set(0L, 1L))
  }

  test("Maintenance.sweep over one retrieval family runs its pinned job counts, " +
      "with and without a compaction") {
    val k = kinds.find(_.kind == "retrieval").get
    val (t, p) = fresh(k, "sweep")
    k.extend(t, 1L)
    k.delete.foreach(_(t, p, 2L))
    val fleet = Seq(Family(t, "retrieval", p, nBuckets = Buckets))
    val sc = spark.sparkContext
    val (report, compacting) = JobCount.all(sc)(
      Maintenance.sweep(spark, fleet, CompactPolicy(maxBatches = 0L)))
    assert(report.collect().map(_.getAs[Boolean]("compacted")).toSeq == Seq(true))
    val settled = JobCount.all(sc)(
      Maintenance.sweep(spark, fleet, CompactPolicy(maxBatches = 0L)))._2
    assert((compacting, settled) == ((9, 1)))
  }

  test("RetrievalStream.foldEpoch cold and warm, and Snapshot.committedCut, " +
      "run their pinned job counts") {
    val t = "ledger_stream"
    Seq("postings", "meta", "deleted").foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${t}_$s"))
    val p = graft.core.Scratch.path(t)
    val sc = spark.sparkContext
    val cold = JobCount.all(sc)(
      RetrievalStream.foldEpoch(docs(0, 24, "doc_id"), 0L, t, p, Buckets))._2
    val warm = JobCount.all(sc)(
      RetrievalStream.foldEpoch(docs(24, 40, "doc_id"), 1L, t, p, Buckets))._2
    val (cut, cutJobs) = JobCount.all(sc)(Snapshot.committedCut(spark, t, "retrieval"))
    assert(cut == 2L)
    assert((cold, warm, cutJobs) == ((6, 5, 1)))
  }

  test("Snapshot export (full and delta), verify, restore, applyLink and rebase " +
      "run their pinned job counts") {
    val k = kinds.find(_.kind == "retrieval").get
    val (t, p) = fresh(k, "snap")
    val replica = "ledger_retrieval_snapreplica"
    k.suffixes.foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${tableOf(replica, s)}"))
    val root = graft.core.Scratch.path("ledger_snapshots")
    val sc = spark.sparkContext
    def jobs(f: => Any): Int = JobCount.all(sc)(f)._2
    k.extend(t, 1L)
    val full = jobs(Snapshot.export(spark, t, s"$root/full", kind = Some("retrieval")))
    k.delete.get(t, p, 2L) // the delta link carries the frontier's birth
    val delta = jobs(Snapshot.export(spark, t, s"$root/delta",
      incrementalFrom = Some(s"$root/full"), kind = Some("retrieval")))
    val verify = jobs(Snapshot.verify(spark, s"$root/delta"))
    val restore = jobs(Snapshot.restore(spark, s"$root/full", replica,
      graft.core.Scratch.path(replica)))
    val applyLink = jobs(Snapshot.applyLink(spark, s"$root/delta", replica,
      graft.core.Scratch.path(replica), "retrieval"))
    val rebase = jobs(Snapshot.rebase(spark, s"$root/delta", s"$root/rebased"))
    assert(Map("full" -> full, "delta" -> delta, "verify" -> verify, "restore" -> restore,
      "applyLink" -> applyLink, "rebase" -> rebase) ==
      Map("full" -> 3, "delta" -> 5, "verify" -> 1, "restore" -> 4,
        "applyLink" -> 5, "rebase" -> 5))
  }
}

object LedgerSpec {

  /** One kind: its tables (suffixes of the family name, "base" = the
    * family's own table), build, extend, delete, compact and a serve.
    * Crashes are staged through the verbs themselves
    * ([[graft.operators.Ledger.crashBeforeMarker]]). */
  final case class Kind(kind: String, suffixes: Seq[String], fenced: Boolean,
      build: (String, String) => Unit,
      extend: (String, Long) => Unit,
      delete: Option[(String, String, Long) => Unit],
      compact: (String, String) => Unit,
      serve: String => Set[String],
      pins: Map[String, Int])
}

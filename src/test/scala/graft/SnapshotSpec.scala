package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{IvmRollup, Maintenance, RetrievalIndex, Snapshot}
import graft.queries.CurationOps

/** Snapshot export/restore (round 10): the backup verb must round-trip
  * a family's rows, schema, bucket layout, and LEDGER — so the restored
  * family serves identically AND accepts the next fenced extend.
  */
class SnapshotSpec extends SparkSpec {

  private def docs = Tables(spark, sfDir).documents

  private def drop(table: String, sfx: Seq[String]): Unit =
    sfx.foreach { s =>
      val t = if (s.isEmpty) table else s"${table}_$s"
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  private def retrievalLadder(table: String): Unit = {
    drop(table, Seq("postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(table)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), table, path)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), table,
      batchId = 1L)
    RetrievalIndex.deleteDocs(spark,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), table, path,
      batchId = 2L)
  }

  test("export -> restore round-trips serve, ledger, and the next extend") {
    val src = "snap_src"
    retrievalLadder(src)
    val dest = graft.core.Scratch.path("snap_dest")
    val restored = "snap_restored"
    drop(restored, Seq("", "postings", "meta", "deleted"))
    val exported = Snapshot.export(spark, src, dest)
    assert(exported > 0L)
    Snapshot.restore(spark, dest, restored, graft.core.Scratch.path(restored))
    // identical serve (scores included — the _meta ledger's signed N
    // survived the round trip)
    assert(asSet(RetrievalIndex.topK(spark, restored, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, src, CurationOps.rankQueries)))
    // identical structural health
    assert(Maintenance.fsck(spark, restored, "retrieval")
      .filter(!col("ok")).count() == 0L)
    // the ledger round-tripped: the SAME next extend lands on both and
    // they stay equal — restore-from-backup is operationally live, not
    // a read-only copy
    val more = docs.filter(col("doc_id") % 7 === 3)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    RetrievalIndex.extend(more, src, batchId = 3L)
    RetrievalIndex.extend(more, restored, batchId = 3L)
    assert(asSet(RetrievalIndex.topK(spark, restored, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, src, CurationOps.rankQueries)))
  }

  test("delta chain restore == full restore; a compact breaks the chain loudly") {
    val src = "snap_src_inc"
    drop(src, Seq("", "postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src, path)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), src,
      batchId = 1L)
    val base = graft.core.Scratch.path("snap_inc_base")
    val baseRows = Snapshot.export(spark, src, base)
    // history AFTER the base snapshot: a tombstone delete (stamp 2 —
    // appends a signed _meta row, and OVERWRITES the unstamped
    // _deleted frontier, so the delta must carry that table whole)
    RetrievalIndex.deleteDocs(spark,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), src, path,
      batchId = 2L)
    val delta = graft.core.Scratch.path("snap_inc_delta")
    val deltaRows = Snapshot.export(spark, src, delta,
      incrementalFrom = Some(base))
    assert(deltaRows < baseRows,
      s"the delta ($deltaRows rows) must be smaller than the base " +
        s"($baseRows rows) — that is the whole point of incremental")
    val viaChain = "snap_inc_chain"
    drop(viaChain, Seq("", "postings", "meta", "deleted"))
    Snapshot.restore(spark, delta, viaChain, graft.core.Scratch.path(viaChain))
    assert(asSet(RetrievalIndex.topK(spark, viaChain, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, src, CurationOps.rankQueries)),
      "base + delta must serve exactly like the live family")
    assert(Maintenance.fsck(spark, viaChain, "retrieval")
      .filter(!col("ok")).count() == 0L)
    // compact rewrites stamp history -> the old base can no longer
    // anchor a delta; export must refuse, not silently mis-slice
    RetrievalIndex.compact(spark, src, path)
    val e = intercept[IllegalArgumentException] {
      Snapshot.export(spark, src, graft.core.Scratch.path("snap_inc_bad"),
        incrementalFrom = Some(base))
    }
    assert(e.getMessage.contains("compact"), e.getMessage)
  }

  test("three-link chains: base + delta + delta restore AND attach == live") {
    val src = "snap_src3l"
    drop(src, Seq("", "postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 3 === 0), src, path)
    val l0 = graft.core.Scratch.path("snap_3l_0")
    Snapshot.export(spark, src, l0)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 3 === 1), src,
      batchId = 1L)
    val l1 = graft.core.Scratch.path("snap_3l_1")
    Snapshot.export(spark, src, l1, incrementalFrom = Some(l0))
    RetrievalIndex.extend(docs.filter(col("doc_id") % 3 === 2), src,
      batchId = 2L)
    RetrievalIndex.deleteDocs(spark,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), src, path,
      batchId = 3L)
    val l2 = graft.core.Scratch.path("snap_3l_2")
    Snapshot.export(spark, src, l2, incrementalFrom = Some(l1))
    val want = asSet(RetrievalIndex.topK(spark, src, CurationOps.rankQueries))
    val restored = "snap_3l_restored"
    drop(restored, Seq("", "postings", "meta", "deleted"))
    Snapshot.restore(spark, l2, restored, graft.core.Scratch.path(restored))
    assert(asSet(RetrievalIndex.topK(spark, restored,
      CurationOps.rankQueries)) == want)
    Snapshot.attach(spark, l2, "snap_3l_view")
    assert(asSet(RetrievalIndex.topK(spark, "snap_3l_view",
      CurationOps.rankQueries)) == want)
    // POINT-IN-TIME restore falls out of the chain design: any interior
    // link is itself a valid chain tip, so restoring l1 lands the
    // family as it stood at THAT export — ranked like a from-scratch
    // index of the first two slices
    val pitr = "snap_3l_pitr"
    drop(pitr, Seq("", "postings", "meta", "deleted"))
    Snapshot.restore(spark, l1, pitr, graft.core.Scratch.path(pitr))
    drop("snap_3l_pref", Seq("postings", "meta"))
    RetrievalIndex.build(docs.filter(col("doc_id") % 3 <= 1), "snap_3l_pref",
      graft.core.Scratch.path("snap_3l_pref"))
    assert(asSet(RetrievalIndex.topK(spark, pitr, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, "snap_3l_pref",
        CurationOps.rankQueries)))
  }

  test("attach serves a snapshot chain in place — no copy, same answers") {
    val src = "snap_src_att"
    drop(src, Seq("", "postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src, path)
    val base = graft.core.Scratch.path("snap_att_base")
    Snapshot.export(spark, src, base)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), src,
      batchId = 1L)
    RetrievalIndex.deleteDocs(spark,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), src, path,
      batchId = 2L)
    val delta = graft.core.Scratch.path("snap_att_delta")
    Snapshot.export(spark, src, delta, incrementalFrom = Some(base))
    val views = Snapshot.attach(spark, delta, "snap_att_view")
    assert(views.contains("snap_att_view_postings")
      && views.contains("snap_att_view_meta")
      && views.contains("snap_att_view_deleted"), views.toString)
    // the family's serve verb runs unchanged against the attached name
    assert(asSet(RetrievalIndex.topK(spark, "snap_att_view",
        CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, src, CurationOps.rankQueries)))
  }

  test("verify audits a chain read-only; a tampered directory is flagged by name") {
    val src = "snap_src_vfy"
    drop(src, Seq("", "postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src, path)
    val base = graft.core.Scratch.path("snap_vfy_base")
    Snapshot.export(spark, src, base)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), src,
      batchId = 1L)
    val delta = graft.core.Scratch.path("snap_vfy_delta")
    Snapshot.export(spark, src, delta, incrementalFrom = Some(base))
    assert(Snapshot.verify(spark, delta).filter(!col("ok")).count() == 0L)
    // bit-rot: one data file vanishes from the BASE link's postings dir
    val dir = new java.io.File(s"$base/postings")
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(part.delete())
    val bad = Snapshot.verify(spark, delta).filter(!col("ok"))
      .select("link", "table").collect().map(r => (r.getString(0), r.getString(1)))
    assert(bad.toSeq == Seq((base, "postings")), bad.mkString(","))
  }

  test("restore refuses a manifest-less directory and occupied targets") {
    val src = "snap_src2"
    retrievalLadder(src)
    val dest = graft.core.Scratch.path("snap_dest2")
    Snapshot.export(spark, src, dest)
    // crashed export: manifest missing -> loud refusal
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dest/_MANIFEST.json"), false)
    val e1 = intercept[IllegalArgumentException] {
      Snapshot.restore(spark, dest, "snap_never", graft.core.Scratch.path("snap_never"))
    }
    assert(e1.getMessage.contains("_MANIFEST.json"))
    // occupied target: src itself still exists under its own name
    Snapshot.export(spark, src, dest)
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.restore(spark, dest, src, graft.core.Scratch.path(src))
    }
    assert(e2.getMessage.contains("already exists"))
  }

  test("join-view family (three logs + marker) snapshots and restores whole") {
    import spark.implicits._
    import graft.operators.IvmJoin
    val src = "snap_jv"
    Seq(src, s"${src}_fact", s"${src}_dim", s"${src}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val fact = Seq((1L, 101L, 10.0), (2L, 201L, 30.0), (3L, 301L, 7.0))
      .toDF("k", "o", "v")
    val dim = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "seg")
    IvmJoin.build(fact, dim, "k", src, graft.core.Scratch.path(src), 4)
    IvmJoin.applyDelta(spark, src, "k",
      Seq((2L, 202L, 5.0)).toDF("k", "o", "v").withColumn("dn", lit(1L)),
      dim.limit(0).withColumn("dn", lit(1L)), batchId = 1L)
    val dest = graft.core.Scratch.path("snap_jv_dest")
    Snapshot.export(spark, src, dest)
    val restored = "snap_jv_restored"
    Seq(restored, s"${restored}_fact", s"${restored}_dim", s"${restored}_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Snapshot.restore(spark, dest, restored, graft.core.Scratch.path(restored))
    assert(asSet(IvmJoin.serve(spark, restored)) == asSet(IvmJoin.serve(spark, src)))
    // the marker round-tripped: the SAME next delta lands on both
    // through the writer fence and they stay equal
    val d2f = Seq((1L, 102L, 9.0)).toDF("k", "o", "v").withColumn("dn", lit(1L))
    val d2d = dim.limit(0).withColumn("dn", lit(1L))
    IvmJoin.applyDelta(spark, src, "k", d2f, d2d, batchId = 2L)
    IvmJoin.applyDelta(spark, restored, "k", d2f, d2d, batchId = 2L)
    assert(asSet(IvmJoin.serve(spark, restored)) == asSet(IvmJoin.serve(spark, src)))
  }

  test("export refuses an unknown family; rollup (markerless, single-table) round-trips") {
    intercept[IllegalArgumentException] {
      Snapshot.export(spark, "snap_no_such_family",
        graft.core.Scratch.path("snap_nowhere"))
    }
    val src = "snap_ivm"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    val o = Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    IvmRollup.build(o, col("o_custkey"), col("o_totalprice"), src,
      graft.core.Scratch.path(src))
    val dest = graft.core.Scratch.path("snap_ivm_dest")
    Snapshot.export(spark, src, dest)
    val restored = "snap_ivm_restored"
    spark.sql(s"DROP TABLE IF EXISTS $restored")
    Snapshot.restore(spark, dest, restored, graft.core.Scratch.path(restored))
    assert(asSet(IvmRollup.serve(spark, restored))
      == asSet(IvmRollup.serve(spark, src)))
  }

  // --------------------------------------------------------------------
  // round 11: consistent cuts, content digests, retention

  test("exportAtCut: the in-flight crash-window stamp never leaks into the snapshot") {
    val src = "snap_cut_src"
    drop(src, Seq("", "postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src, path)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), src,
      batchId = 1L)
    // mid-epoch: stamp 2's DATA lands, its marker does not — the one
    // legal crash-window state a live stream exposes at any instant
    RetrievalIndex.applyExtend(docs.filter(col("doc_id") % 7 === 3)
      .withColumn("doc_id", col("doc_id") + 1000000L), src, batchId = 2L)
    val dest = graft.core.Scratch.path("snap_cut_dest")
    val (cut, rows) = Snapshot.exportAtCut(spark, src, "retrieval", dest)
    assert(cut == 1L && rows > 0L)
    // the snapshot holds NO stamp past the cut — the leak-free pin
    val snapped = spark.read.parquet(s"$dest/postings")
      .select("batch_id").distinct().collect().map(_.getLong(0)).toSet
    assert(snapped == Set(0L, 1L), snapped.toString)
    // restore lands the commit-boundary state exactly: it serves like a
    // from-scratch index of the committed prefix, and fsck reads clean
    val restored = "snap_cut_restored"
    drop(restored, Seq("", "postings", "meta", "deleted"))
    Snapshot.restore(spark, dest, restored, graft.core.Scratch.path(restored))
    assert(Maintenance.fsck(spark, restored, "retrieval")
      .filter(!col("ok")).count() == 0L)
    drop("snap_cut_ref", Seq("postings", "meta"))
    RetrievalIndex.build(docs, "snap_cut_ref",
      graft.core.Scratch.path("snap_cut_ref"))
    assert(asSet(RetrievalIndex.topK(spark, restored, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, "snap_cut_ref", CurationOps.rankQueries)))
    // contrast: a PLAIN export of the same live family captures the
    // in-flight stamp — which is exactly why ITS contract stays
    // quiescence, and the cut verb exists
    val dirty = graft.core.Scratch.path("snap_cut_dirty")
    Snapshot.export(spark, src, dirty)
    val dirtyStamps = spark.read.parquet(s"$dirty/postings")
      .select("batch_id").distinct().collect().map(_.getLong(0)).toSet
    assert(dirtyStamps == Set(0L, 1L, 2L), dirtyStamps.toString)
    // the markerless rollup derives a committed-cut SURROGATE from its
    // own log since round 12 (the max visible stamp, stability-proven)
    // — covered end to end in the rollup hot-cut test below
    val (rollupCut, rollupRows) = Snapshot.exportAtCut(spark, "snap_ivm",
      "rollup", graft.core.Scratch.path("snap_cut_rollup"))
    assert(rollupCut == 0L && rollupRows > 0L, s"($rollupCut, $rollupRows)")
  }

  test("deep verify catches count-preserving corruption the count audit cannot") {
    import spark.implicits._
    val src = "snap_deep_src"
    drop(src, Seq("", "postings", "meta", "deleted"))
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src,
      graft.core.Scratch.path(src))
    val dest = graft.core.Scratch.path("snap_deep_dest")
    Snapshot.export(spark, src, dest)
    // tamper: the meta dir rewrites with the SAME row count and a
    // different N — the corruption a pre-restore count audit blesses
    Seq((999999L, 0L)).toDF("n_docs", "batch_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dest/meta")
    assert(Snapshot.verify(spark, dest, deep = false)
      .filter(!col("ok")).count() == 0L,
      "the count-only audit is blind to this tamper — that is the point")
    val bad = Snapshot.verify(spark, dest).filter(!col("ok")).collect()
    assert(bad.length == 1 && bad.head.getString(1) == "meta",
      bad.mkString(","))
    assert(bad.head.getString(3).contains("digest"), bad.head.getString(3))
  }

  test("a compact that reproduces the parent's stamp set still breaks the chain") {
    val src = "snap_hole_src"
    drop(src, Seq("", "postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src, path)
    val base = graft.core.Scratch.path("snap_hole_base") // parent stamps: {0}
    Snapshot.export(spark, src, base)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), src,
      batchId = 1L)
    // the round-10 advice hole: a DEFAULT compact folds history back to
    // exactly {0} — a fresh build's stamp set — so the stamp-subset
    // check alone would bless a delta that silently omits the fold
    RetrievalIndex.compact(spark, src, path)
    val e = intercept[IllegalArgumentException] {
      Snapshot.export(spark, src, graft.core.Scratch.path("snap_hole_d"),
        incrementalFrom = Some(base))
    }
    assert(e.getMessage.contains("full snapshot"), e.getMessage)
    // the count-only fence (auditParent = false) catches this staging too
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.export(spark, src, graft.core.Scratch.path("snap_hole_d2"),
        incrementalFrom = Some(base), auditParent = false)
    }
    assert(e2.getMessage.contains("full snapshot"), e2.getMessage)
  }

  test("export refuses siblings that collide on a snapshot directory") {
    import spark.implicits._
    Seq("snap_clash", "snap_clash_base").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq((1L, "x")).toDF("id", "v").write
      .option("path", graft.core.Scratch.path("snap_clash"))
      .format("parquet").saveAsTable("snap_clash")
    Seq((2L, "y")).toDF("id", "v").write
      .option("path", graft.core.Scratch.path("snap_clash_base"))
      .format("parquet").saveAsTable("snap_clash_base")
    val e = intercept[IllegalArgumentException] {
      Snapshot.export(spark, "snap_clash",
        graft.core.Scratch.path("snap_clash_dest"))
    }
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  test("warm standby: cut-delta links ship to a replica in lockstep") {
    val primary = "snap_wsp"
    drop(primary, Seq("", "postings", "meta", "deleted"))
    val ppath = graft.core.Scratch.path(primary)
    val standby = "snap_wss"
    drop(standby, Seq("", "postings", "meta", "deleted"))
    val spath = graft.core.Scratch.path(standby)
    // primary epoch 0, full export at the cut, restore = the seed
    graft.streaming.RetrievalStream.foldEpoch(
      docs.filter(col("doc_id") % 4 === 0), 0L, primary, ppath)
    val full = graft.core.Scratch.path("snap_ws_full")
    Snapshot.exportAtCut(spark, primary, "retrieval", full)
    Snapshot.restore(spark, full, standby, spath)
    // a FULL link refuses applyLink — seeding is restore's job
    val eFull = intercept[IllegalArgumentException] {
      Snapshot.applyLink(spark, full, standby, spath, "retrieval")
    }
    assert(eFull.getMessage.contains("restore"), eFull.getMessage)
    // epochs 1..3 on the primary, one cut delta per epoch
    var parent = full
    val links = (1 to 3).map { e =>
      graft.streaming.RetrievalStream.foldEpoch(
        docs.filter(col("doc_id") % 4 === e), e.toLong, primary, ppath)
      val d = graft.core.Scratch.path(s"snap_ws_d$e")
      Snapshot.exportAtCut(spark, primary, "retrieval", d,
        incrementalFrom = Some(parent))
      parent = d
      d
    }
    // shipping link 2 before link 1 refuses with the stamp arithmetic
    val eOrder = intercept[IllegalArgumentException] {
      Snapshot.applyLink(spark, links(1), standby, spath, "retrieval")
    }
    assert(eOrder.getMessage.contains("export order"), eOrder.getMessage)
    links.foreach { d =>
      assert(Snapshot.applyLink(spark, d, standby, spath, "retrieval") > 0L)
      // re-shipping the same link is the restartable no-op
      assert(Snapshot.applyLink(spark, d, standby, spath, "retrieval") == 0L)
    }
    assert(asSet(RetrievalIndex.topK(spark, standby, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, primary, CurationOps.rankQueries)))
    assert(Maintenance.fsck(spark, standby, "retrieval")
      .filter(!col("ok")).count() == 0L)
    // a delete ships too — and BIRTHS the _deleted ledger on the replica
    RetrievalIndex.deleteDocs(spark,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), primary, ppath,
      batchId = 5L)
    val dDel = graft.core.Scratch.path("snap_ws_ddel")
    Snapshot.exportAtCut(spark, primary, "retrieval", dDel,
      incrementalFrom = Some(parent))
    Snapshot.applyLink(spark, dDel, standby, spath, "retrieval")
    assert(asSet(RetrievalIndex.topK(spark, standby, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, primary, CurationOps.rankQueries)),
      "a shipped delete must shrink the replica's ranking N too")
  }

  test("standby on the IVF family: the frozen centroids ride the overwrite branch") {
    val e = Tables(spark, sfDir).embeddings
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val primary = "snap_ivfp"; val standby = "snap_ivfs"
    Seq(primary, standby).foreach(t =>
      drop(t, Seq("centroids", "cells", "batches", "deleted")))
    val ppath = graft.core.Scratch.path(primary)
    graft.operators.IvfIndex.build(corpus.filter(col("id") % 2 === 0),
      primary, ppath, nCells = 8, iters = 2)
    val full = graft.core.Scratch.path("snap_ivf_full")
    Snapshot.exportAtCut(spark, primary, "ivf", full)
    Snapshot.restore(spark, full, standby, graft.core.Scratch.path(standby))
    graft.operators.IvfIndex.extend(spark, corpus.filter(col("id") % 2 === 1),
      primary, batchId = 1L)
    val d1 = graft.core.Scratch.path("snap_ivf_d1")
    Snapshot.exportAtCut(spark, primary, "ivf", d1,
      incrementalFrom = Some(full))
    // the delta carries the UNSTAMPED centroids whole; applyLink
    // overwrites the replica's copy in place (idempotent — frozen)
    assert(Snapshot.applyLink(spark, d1, standby,
      graft.core.Scratch.path(standby), "ivf") > 0L)
    assert(asSet(graft.operators.IvfIndex.topK(spark, standby, queries,
        k = 5, nProbe = 4))
      == asSet(graft.operators.IvfIndex.topK(spark, primary, queries,
        k = 5, nProbe = 4)))
  }

  test("prune refuses when the kept chain fails verify; attach gates on the count audit") {
    val src = "snap_pr_src"
    drop(src, Seq("", "postings", "meta", "deleted"))
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src,
      graft.core.Scratch.path(src))
    val keepDir = graft.core.Scratch.path("snap_pr_keep")
    val oldDir = graft.core.Scratch.path("snap_pr_old")
    Snapshot.export(spark, src, oldDir)
    Snapshot.export(spark, src, keepDir)
    // damage the KEPT chain: one postings file vanishes — prune must
    // refuse and delete NOTHING (the old epoch is still the only good one)
    val dir = new java.io.File(s"$keepDir/postings")
    assert(dir.listFiles().filter(_.getName.endsWith(".parquet")).head.delete())
    val e = intercept[IllegalArgumentException] {
      Snapshot.prune(spark, keepDir, Seq(oldDir))
    }
    assert(e.getMessage.contains("refusing to delete"), e.getMessage)
    assert(new java.io.File(oldDir).exists(),
      "superseded chain must survive a refused prune")
    // the DR read path sees the same damage up front (count audit)...
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.attach(spark, keepDir, "snap_pr_view")
    }
    assert(e2.getMessage.contains("count audit"), e2.getMessage)
    // ...and audit = false stays the explicit lazy-views escape hatch
    assert(Snapshot.attach(spark, keepDir, "snap_pr_view",
      audit = false).nonEmpty)
  }

  // --------------------------------------------------------------------
  // round 12: rollup committed-cut surrogate, export race fences,
  // kind-keyed membership, committed-cut serve views, forked prunes,
  // legacy manifests

  private def rollupDelta(table: String, batchId: Long, keyMod: Int): Unit = {
    import org.apache.spark.sql.types.DecimalType
    IvmRollup.applyDelta(spark, table,
      Tables(spark, sfDir).orders.filter(col("o_orderkey") % 37 === keyMod)
        .select(col("o_custkey").as("key"), lit(1L).as("dn"),
          col("o_totalprice").cast(DecimalType(38, 2)).as("dr")),
      batchId)
  }

  test("rollup hot cut: export under appends, restore + re-delivery == never crashed") {
    val src = "snap_r12_ivm"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    val path = graft.core.Scratch.path(src)
    val o = Tables(spark, sfDir).orders
    IvmRollup.build(o.filter(col("o_orderkey") % 37 === 0), col("o_custkey"),
      col("o_totalprice"), src, path)
    rollupDelta(src, 1L, 1)
    val full = graft.core.Scratch.path("snap_r12_ivm_full")
    val (cut0, _) = Snapshot.exportAtCut(spark, src, "rollup", full)
    assert(cut0 == 1L, s"cut $cut0")
    rollupDelta(src, 2L, 2)
    val d1 = graft.core.Scratch.path("snap_r12_ivm_d1")
    val (cut1, rows1) = Snapshot.exportAtCut(spark, src, "rollup", d1,
      incrementalFrom = Some(full))
    assert(cut1 == 2L && rows1 > 0L, s"($cut1, $rows1)")
    // history past the backup — what re-delivery must replay
    rollupDelta(src, 3L, 3)
    val expected = asSet(IvmRollup.serve(spark, src))
    // disaster, restore to the cut, re-deliver FROM the cut epoch
    // (inclusive — the documented rollup contract): the replay of
    // batch 2 collapses byte-identically, batch 3 lands fresh
    spark.sql(s"DROP TABLE IF EXISTS $src")
    assert(Snapshot.verify(spark, d1).filter(!col("ok")).count() == 0L)
    Snapshot.restore(spark, d1, src, graft.core.Scratch.path(src + "_re"))
    rollupDelta(src, 2L, 2)
    rollupDelta(src, 3L, 3)
    assert(asSet(IvmRollup.serve(spark, src)) == expected,
      "hot backup + restore + re-delivery must equal the never-crashed rollup")
  }

  test("a batch landing mid-copy refuses the rollup's cut export (stability fence)") {
    val src = "snap_r12_race_ivm"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    val path = graft.core.Scratch.path(src)
    val o = Tables(spark, sfDir).orders
    IvmRollup.build(o.filter(col("o_orderkey") % 37 === 0), col("o_custkey"),
      col("o_totalprice"), src, path)
    // batch 1 is "mid-landing": part of its rows are visible when the
    // export reads the cut, the rest land while the copy runs — staged
    // through the race seam (applyDelta under the SAME stamp, exactly
    // the growth a paused job-commit rename loop exposes)
    rollupDelta(src, 1L, 1)
    Snapshot.onTableExported = Some { name =>
      if (name == src) rollupDelta(src, 1L, 2)
    }
    try {
      val e = intercept[IllegalArgumentException] {
        Snapshot.exportAtCut(spark, src, "rollup",
          graft.core.Scratch.path("snap_r12_race_dest"))
      }
      assert(e.getMessage.contains("changed UNDER the export"), e.getMessage)
    } finally Snapshot.onTableExported = None
    // no manifest landed: the refused export is a clean re-run target
    intercept[IllegalArgumentException] {
      Snapshot.verify(spark, graft.core.Scratch.path("snap_r12_race_dest"))
    }
    // quiet now — the re-run exports the settled ledger fine
    val (cut, _) = Snapshot.exportAtCut(spark, src, "rollup",
      graft.core.Scratch.path("snap_r12_race_dest"))
    assert(cut == 1L)
  }

  test("deletes racing an IVF cut export compose consistently; " +
      "an unstamped-centroids mutation refuses") {
    import graft.operators.IvfIndex
    val e = Tables(spark, sfDir).embeddings
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val src = "snap_r12_race_ivf"
    drop(src, Seq("centroids", "cells", "batches", "deleted"))
    val path = graft.core.Scratch.path(src)
    IvfIndex.build(corpus, src, path, nCells = 8, iters = 2)
    val preDelete = asSet(IvfIndex.topK(spark, src, queries, k = 5, nProbe = 4))
    // round-11 verdict #3, branch 1 — "provably consistent": a delete
    // verb racing the hot export lands with stamp cut + 1 (the writer
    // fence's arithmetic), so every row it writes — tombstones AND its
    // marker row — is sliced OUT of the cut; deletion frontiers are
    // stamped appends across all seven families, exactly so this holds
    Snapshot.onTableExported = Some { name =>
      if (name == s"${src}_cells")
        IvfIndex.deleteIds(spark, corpus.filter(col("id") % 5 === 2)
          .select("id"), src, path, batchId = 1L)
    }
    val dest = graft.core.Scratch.path("snap_r12_race_ivf_dest")
    try {
      val (cut, _) = Snapshot.exportAtCut(spark, src, "ivf", dest)
      assert(cut == 0L, s"cut $cut")
    } finally Snapshot.onTableExported = None
    val restored = "snap_r12_race_ivf_re"
    drop(restored, Seq("", "centroids", "cells", "batches", "deleted"))
    Snapshot.restore(spark, dest, restored, graft.core.Scratch.path(restored))
    assert(asSet(IvfIndex.topK(spark, restored, queries, k = 5, nProbe = 4))
      == preDelete,
      "the cut export must capture the pre-delete commit boundary exactly")
    // branch 2 — "refused": the IVF's only unstamped table is the
    // FROZEN quantizer; any mutation racing the copy (a retrain, a
    // manual repair) has no stamp for the cut to slice around, so the
    // post-copy re-digest refuses the export
    Snapshot.onTableExported = Some { name =>
      if (name == s"${src}_centroids") {
        val keep = spark.table(s"${src}_centroids")
          .filter(col("cell") =!= 0).localCheckpoint()
        keep.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("path", s"$path/centroids")
          .format("parquet").saveAsTable(s"${src}_centroids")
      }
    }
    try {
      val err = intercept[IllegalArgumentException] {
        Snapshot.exportAtCut(spark, src, "ivf",
          graft.core.Scratch.path("snap_r12_race_ivf_bad"))
      }
      assert(err.getMessage.contains("changed UNDER the export") &&
        err.getMessage.contains("_centroids"), err.getMessage)
    } finally Snapshot.onTableExported = None
  }

  test("kind-keyed membership: an unrelated prefix neighbor never enters the backup") {
    val src = "snap_r12_kind"
    drop(src, Seq("postings", "meta", "deleted", "backup"))
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src,
      graft.core.Scratch.path(src))
    // the namespace-discipline violation the prefix capture could only
    // document away: an unrelated table squatting on the family prefix
    import spark.implicits._
    Seq((1L, "scratch")).toDF("id", "note")
      .write.option("path", graft.core.Scratch.path(src + "_backup"))
      .format("parquet").saveAsTable(s"${src}_backup")
    val dest = graft.core.Scratch.path("snap_r12_kind_dest")
    Snapshot.exportAtCut(spark, src, "retrieval", dest)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(s"$dest/_MANIFEST.json"))
    val snapped = (0 until m.get("tables").size())
      .map(i => m.get("tables").get(i).get("name").asText()).toSet
    assert(!snapped.contains(s"${src}_backup"), snapped.toString)
    assert(m.get("excluded").get(0).asText() == s"${src}_backup")
    assert(m.get("kind").asText() == "retrieval")
    // restore creates ONLY family tables — the squatter never travels
    val restored = "snap_r12_kind_re"
    drop(restored, Seq("", "postings", "meta", "deleted", "backup"))
    Snapshot.restore(spark, dest, restored, graft.core.Scratch.path(restored))
    assert(!spark.catalog.tableExists(s"${restored}_backup"))
    assert(asSet(RetrievalIndex.topK(spark, restored, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, src, CurationOps.rankQueries)))
    // kind-less export keeps the documented prefix-capture fallback
    val legacy = graft.core.Scratch.path("snap_r12_kind_legacy")
    Snapshot.export(spark, src, legacy)
    val m2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(s"$legacy/_MANIFEST.json"))
    val all2 = (0 until m2.get("tables").size())
      .map(i => m2.get("tables").get(i).get("name").asText()).toSet
    assert(all2.contains(s"${src}_backup"), all2.toString)
  }

  test("serveAtCut: a mid-link replica reads the last shipped commit boundary") {
    val primary = "snap_r12_srv_p"; val standby = "snap_r12_srv_s"
    Seq(primary, standby).foreach(t => drop(t, Seq("postings", "meta", "deleted")))
    val ppath = graft.core.Scratch.path(primary)
    val spath = graft.core.Scratch.path(standby)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), primary, ppath)
    val full = graft.core.Scratch.path("snap_r12_srv_full")
    Snapshot.exportAtCut(spark, primary, "retrieval", full)
    Snapshot.restore(spark, full, standby, spath)
    val before = asSet(RetrievalIndex.topK(spark, standby, CurationOps.rankQueries))
    // primary commits epoch 1; its delta link ships — but we stage the
    // CRASH WINDOW on the replica: the link's data (postings) lands,
    // its marker (_meta) does not
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), primary,
      batchId = 1L)
    val d1 = graft.core.Scratch.path("snap_r12_srv_d1")
    Snapshot.exportAtCut(spark, primary, "retrieval", d1,
      incrementalFrom = Some(full))
    spark.read.parquet(s"$d1/postings")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .insertInto(s"${standby}_postings")
    // a raw read of the half-applied replica belongs to NO version...
    // ...but the committed-cut views serve exactly the pre-link state
    val (cut, viewNames) = Snapshot.serveAtCut(spark, standby, "retrieval",
      "snap_r12_srv_view")
    assert(cut == 0L, s"cut $cut")
    assert(viewNames.contains("snap_r12_srv_view_postings"))
    assert(asSet(RetrievalIndex.topK(spark, "snap_r12_srv_view",
      CurationOps.rankQueries)) == before,
      "mid-link reads must see the last shipped commit boundary")
    // the link completes (applyLink is restartable per table: postings
    // skip, the marker lands) and the views flip atomically to it
    Snapshot.applyLink(spark, d1, standby, spath, "retrieval")
    val (cut2, _) = Snapshot.serveAtCut(spark, standby, "retrieval",
      "snap_r12_srv_view")
    assert(cut2 == 1L)
    assert(asSet(RetrievalIndex.topK(spark, "snap_r12_srv_view",
      CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, primary, CurationOps.rankQueries)))
    // the rollup is refused by name: its serve is already cut-consistent
    val e = intercept[IllegalArgumentException] {
      Snapshot.serveAtCut(spark, standby, "rollup", "snap_r12_srv_bad")
    }
    assert(e.getMessage.contains("no commit marker"), e.getMessage)
  }

  test("forked chains: prune refuses a shared base the kept chain uses; " +
      "a disjoint keep amputates the sibling fork (documented)") {
    val src = "snap_r12_fork"
    drop(src, Seq("", "postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src, path)
    val base = graft.core.Scratch.path("snap_r12_fork_base")
    Snapshot.export(spark, src, base)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), src,
      batchId = 1L)
    // TWO deltas anchored on one base — a fork
    val forkA = graft.core.Scratch.path("snap_r12_fork_a")
    val forkB = graft.core.Scratch.path("snap_r12_fork_b")
    Snapshot.export(spark, src, forkA, incrementalFrom = Some(base))
    Snapshot.export(spark, src, forkB, incrementalFrom = Some(base))
    // keep = fork A: pruning B's chainDirs hits the SHARED base and the
    // self-amputation fence refuses the whole prune
    val e = intercept[IllegalArgumentException] {
      Snapshot.prune(spark, forkA, Snapshot.chainDirs(spark, forkB))
    }
    assert(e.getMessage.contains("kept chain"), e.getMessage)
    assert(new java.io.File(forkB).exists())
    // keep = a NEW epoch (disjoint): pruning fork A's chain deletes the
    // shared base — fork B is amputated, the pinned single-lineage
    // contract (the operator owns fork retention as ONE unit)
    RetrievalIndex.compact(spark, src, path)
    val epoch2 = graft.core.Scratch.path("snap_r12_fork_e2")
    Snapshot.export(spark, src, epoch2)
    Snapshot.prune(spark, epoch2, Snapshot.chainDirs(spark, forkA))
    assert(!new java.io.File(base).exists() && !new java.io.File(forkA).exists())
    intercept[Exception] { Snapshot.verify(spark, forkB) } // orphaned fork
  }

  test("legacy pre-digest manifests degrade to counts with a named reason") {
    val src = "snap_r12_legacy"
    drop(src, Seq("", "postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src, path)
    val base = graft.core.Scratch.path("snap_r12_legacy_base")
    Snapshot.export(spark, src, base)
    // rewrite the manifest as a round-10 exporter would have written it
    def stripFields(dir: String, fields: Seq[String]): Unit = {
      val f = new java.io.File(s"$dir/_MANIFEST.json")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(f)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val tables = root.get("tables")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      (0 until tables.size()).foreach { i =>
        val e = tables.get(i)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        fields.foreach(e.remove)
      }
      mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
      // the local fs keeps a CRC sidecar of the original manifest —
      // the rewrite must shed it or hadoop reads fail on checksum
      new java.io.File(s"$dir/._MANIFEST.json.crc").delete()
    }
    stripFields(base, Seq("checksum", "totalChecksum"))
    // deep verify degrades THIS chain to counts-only, named, still ok
    val report = Snapshot.verify(spark, base).collect()
    assert(report.forall(_.getBoolean(2)), report.mkString("; "))
    assert(report.forall(_.getString(3).contains("legacy pre-digest")),
      report.mkString("; "))
    // a delta anchored on it audits parent history by COUNT (the digest
    // fence needs a digest to fence against) and still exports
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), src,
      batchId = 1L)
    val d1 = graft.core.Scratch.path("snap_r12_legacy_d1")
    assert(Snapshot.export(spark, src, d1,
      incrementalFrom = Some(base)) > 0L)
    // ...and a manifest with NO cumulative totals at all (pre-r11)
    // refuses chaining and shipping loudly, by name
    stripFields(base, Seq("rowsTotal"))
    val e = intercept[IllegalArgumentException] {
      Snapshot.export(spark, src,
        graft.core.Scratch.path("snap_r12_legacy_d2"),
        incrementalFrom = Some(base))
    }
    assert(e.getMessage.contains("predates cumulative totals"), e.getMessage)
    stripFields(d1, Seq("rowsTotal"))
    val standby = "snap_r12_legacy_s"
    drop(standby, Seq("", "postings", "meta", "deleted"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.applyLink(spark, d1, standby,
        graft.core.Scratch.path(standby), "retrieval")
    }
    assert(e2.getMessage.contains("predates cumulative totals"), e2.getMessage)
    // restore and rebase refuse it by the same name, before anything lands
    val restored = "snap_r12_legacy_re"
    drop(restored, Seq("", "postings", "meta", "deleted"))
    val e3 = intercept[IllegalArgumentException] {
      Snapshot.restore(spark, base, restored, graft.core.Scratch.path(restored))
    }
    assert(e3.getMessage.contains("predates cumulative totals"), e3.getMessage)
    assert(!spark.catalog.tableExists(s"${restored}_postings"))
    val e4 = intercept[IllegalArgumentException] {
      Snapshot.rebase(spark, d1, graft.core.Scratch.path("snap_r12_legacy_rb"))
    }
    assert(e4.getMessage.contains("predates cumulative totals"), e4.getMessage)
  }

  test("rebase: a chain squashes to a synthetic full — equivalent, " +
      "continuable, refused when damaged") {
    val src = "snap_rb_src"
    drop(src, Seq("", "postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src, path)
    val base = graft.core.Scratch.path("snap_rb_base")
    Snapshot.export(spark, src, base, kind = Some("retrieval"))
    RetrievalIndex.extend(docs.filter(col("doc_id") % 4 === 1), src,
      batchId = 1L)
    val d1 = graft.core.Scratch.path("snap_rb_d1")
    Snapshot.export(spark, src, d1, incrementalFrom = Some(base),
      kind = Some("retrieval"))
    RetrievalIndex.extend(docs.filter(col("doc_id") % 4 === 3), src,
      batchId = 2L)
    val d2 = graft.core.Scratch.path("snap_rb_d2")
    Snapshot.export(spark, src, d2, incrementalFrom = Some(d1),
      kind = Some("retrieval"))
    // a full has nothing to squash — refused, not a silent copy
    val e0 = intercept[IllegalArgumentException](
      Snapshot.rebase(spark, base, graft.core.Scratch.path("snap_rb_x")))
    assert(e0.getMessage.contains("already a full snapshot"), e0.getMessage)
    val rb = graft.core.Scratch.path("snap_rb_full")
    assert(Snapshot.rebase(spark, d2, rb) > 0L)
    // the synthetic full IS the head's cut state: restores agree at the
    // serve surface, and the rebased link deep-verifies standalone
    assert(Snapshot.chainDirs(spark, rb) == Seq(rb))
    assert(Snapshot.verify(spark, rb).filter(!col("ok")).count() == 0L)
    drop("snap_rb_a", Seq("", "postings", "meta", "deleted"))
    drop("snap_rb_b", Seq("", "postings", "meta", "deleted"))
    Snapshot.restore(spark, d2, "snap_rb_a",
      graft.core.Scratch.path("snap_rb_a"))
    Snapshot.restore(spark, rb, "snap_rb_b",
      graft.core.Scratch.path("snap_rb_b"))
    assert(asSet(RetrievalIndex.topK(spark, "snap_rb_a", CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, "snap_rb_b", CurationOps.rankQueries)))
    // the lineage continues FROM the rebase: the next delta anchors on
    // it (the parent audit holds — cumulative totals are the head's)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 7 === 5)
      .withColumn("doc_id", col("doc_id") + lit(2000000L)), src,
      batchId = 3L)
    val d3 = graft.core.Scratch.path("snap_rb_d3")
    Snapshot.export(spark, src, d3, incrementalFrom = Some(rb),
      kind = Some("retrieval"))
    assert(Snapshot.chainDirs(spark, d3) == Seq(rb, d3))
    assert(Snapshot.verify(spark, d3).filter(!col("ok")).count() == 0L)
    // a damaged link refuses the squash — the deep-verify gate (prune's
    // trust-before-replace discipline: rebase exists to make the old
    // chain prunable, so it must not launder a broken link)
    val dir = new java.io.File(s"$d1/postings")
    // the LARGEST part file: an empty partition's file would vanish
    // without moving the count or the digest
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .maxBy(_.length)
    assert(part.delete())
    val e1 = intercept[IllegalArgumentException](
      Snapshot.rebase(spark, d2, graft.core.Scratch.path("snap_rb_y")))
    assert(e1.getMessage.contains("failed verification"), e1.getMessage)
  }

  test("fleet snapshot: one cut at the lagging member; half-fleets and " +
      "membership drift refuse") {
    val rix = "snap_fleet_rix"; val roll = "snap_fleet_ivm"
    drop(rix, Seq("postings", "meta", "deleted"))
    drop(s"${rix}_r", Seq("postings", "meta", "deleted"))
    Seq(roll, s"${roll}_r").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val rixPath = graft.core.Scratch.path(rix)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), rix, rixPath)
    IvmRollup.build(
      Tables(spark, sfDir).orders.filter(col("o_orderkey") % 37 === 0),
      col("o_custkey"), col("o_totalprice"), roll,
      graft.core.Scratch.path(roll))
    rollupDelta(roll, 1L, 1)
    // skew: retrieval commits batch 1 AND 2, the rollup lags at 1 — the
    // fleet cut is the LAGGING member's committed stamp
    RetrievalIndex.extend(docs.filter(col("doc_id") % 4 === 1), rix,
      batchId = 1L)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 4 === 3), rix,
      batchId = 2L)
    val fleet = graft.core.Scratch.path("snap_fleet_1")
    val (cut, rows) = Snapshot.exportFleetAtCut(spark,
      Seq(rix -> "retrieval", roll -> "rollup"), fleet)
    assert(cut == 1L && rows > 0L, s"($cut, $rows)")
    // member dirs are ordinary snapshots — each verifies standalone
    Seq(rix, roll).foreach { t =>
      assert(Snapshot.verify(spark, s"$fleet/$t")
        .filter(!col("ok")).count() == 0L, t)
    }
    // an incremental fleet with a drifted member set refuses
    val e0 = intercept[IllegalArgumentException] {
      Snapshot.exportFleetAtCut(spark, Seq(rix -> "retrieval"),
        graft.core.Scratch.path("snap_fleet_2"),
        incrementalFrom = Some(fleet))
    }
    assert(e0.getMessage.contains("member set"), e0.getMessage)
    // restoreFleet refuses identity renames (never overwrites a source)
    val e1 = intercept[IllegalArgumentException] {
      Snapshot.restoreFleet(spark, fleet, identity,
        graft.core.Scratch.path("snap_fleet_r0"))
    }
    assert(e1.getMessage.contains("pick a new name"), e1.getMessage)
    // the happy path: both members land at the same cut
    val (rcut, renamed) = Snapshot.restoreFleet(spark, fleet, _ + "_r",
      graft.core.Scratch.path("snap_fleet_r1"))
    assert(rcut == 1L)
    assert(spark.table(s"${renamed(rix)}_meta")
      .agg(org.apache.spark.sql.functions.max(col("batch_id")))
      .collect()(0).getLong(0) == 1L)
    assert(spark.table(renamed(roll)).agg(
      org.apache.spark.sql.functions.max(col("batch_id")))
      .collect()(0).getLong(0) == 1L)
    // a crashed fleet export (member manifests landed, fleet manifest
    // did not — it writes LAST) refuses whole, never restores partially
    val fp = new java.io.File(s"$fleet/_FLEET.json")
    assert(fp.delete())
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.restoreFleet(spark, fleet, _ + "_r2",
        graft.core.Scratch.path("snap_fleet_r2"))
    }
    assert(e2.getMessage.contains("crashed fleet export"), e2.getMessage)
  }

  test("backup autopilot: crashed exports GC, markerless surrogate cuts, " +
      "damaged chains refuse the squash") {
    val src = "snap_ap_ivm"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    val o = Tables(spark, sfDir).orders
    IvmRollup.build(o.filter(col("o_orderkey") % 37 === 0), col("o_custkey"),
      col("o_totalprice"), src, graft.core.Scratch.path(src))
    val root = graft.core.Scratch.path("snap_ap_root")
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(rp, true)
    val bp = Snapshot.BackupPolicy(root, everyBatches = 1L,
      rebaseAfterLinks = 1)
    // markerless family: the tick cuts at the surrogate (max stamp 0)
    assert(Snapshot.backupTick(spark, src, "rollup", bp) == "full")
    // a crashed export is a manifest-less dir: GC'd, never a head
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/$src/b7_link_99"))
    rollupDelta(src, 1L, 1)
    val t = Snapshot.backupTick(spark, src, "rollup", bp)
    assert(t == "delta+rebase+prune", t) // 2 links > 1: squash + retire
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$src/b7_link_99")))
    assert(Snapshot.backupTick(spark, src, "rollup", bp) == "none")
    // damage the kept head: the next tick's delta lands (it reads the
    // primary), but the rebase gate refuses the squash — the autopilot
    // never launders a damaged chain into a clean-looking full
    rollupDelta(src, 2L, 2)
    val head = Snapshot.latestBackup(spark, s"$root/$src").get
    // latestBackup returns the filesystem-qualified URI (file:/…)
    val part = new java.io.File(s"${head.stripPrefix("file:")}/base")
      .listFiles().filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    assert(part.delete())
    val e = intercept[IllegalArgumentException](
      Snapshot.backupTick(spark, src, "rollup", bp))
    assert(e.getMessage.contains("failed verification"), e.getMessage)
  }

  test("followLineage: seed, per-link follow, and the loud reseed refusal " +
      "when the lineage rolled past the replica") {
    val src = "snap_fl_src"; val rep = "snap_fl_rep"
    drop(src, Seq("postings", "meta", "deleted"))
    drop(rep, Seq("postings", "meta", "deleted"))
    val path = graft.core.Scratch.path(src)
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src, path)
    val root = graft.core.Scratch.path("snap_fl_root")
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
    val bp = Snapshot.BackupPolicy(root, everyBatches = 1L,
      rebaseAfterLinks = 1)
    val famRoot = s"$root/$src"
    assert(Snapshot.backupTick(spark, src, "retrieval", bp) == "full")
    val rpath = graft.core.Scratch.path(rep)
    assert(Snapshot.followLineage(spark, famRoot, rep, rpath,
      "retrieval") == "seed")
    assert(Snapshot.followLineage(spark, famRoot, rep, rpath,
      "retrieval") == "current")
    // the primary moves on and the lineage immediately rebases + prunes
    // (rebaseAfterLinks = 1): the replica's per-link path is gone
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), src,
      batchId = 1L)
    assert(Snapshot.backupTick(spark, src, "retrieval", bp)
      == "delta+rebase+prune")
    val e = intercept[IllegalArgumentException](
      Snapshot.followLineage(spark, famRoot, rep, rpath, "retrieval"))
    assert(e.getMessage.contains("reseed = true"), e.getMessage)
    // the replica was not touched by the refusal: still the old state
    assert(Maintenance.fsck(spark, rep, "retrieval")
      .filter(!col("ok")).count() == 0L)
    assert(Snapshot.followLineage(spark, famRoot, rep, rpath,
      "retrieval", reseed = true) == "reseed")
    assert(asSet(RetrievalIndex.topK(spark, rep, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, src, CurationOps.rankQueries)))
  }

  test("restoreFleet: an occupied target on ANY member refuses the whole " +
      "fleet BEFORE any member restores (round-12 advice)") {
    val rix = "snap_fleetpre_rix"; val roll = "snap_fleetpre_ivm"
    drop(rix, Seq("postings", "meta", "deleted"))
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), rix,
      graft.core.Scratch.path(rix))
    spark.sql(s"DROP TABLE IF EXISTS $roll")
    IvmRollup.build(
      Tables(spark, sfDir).orders.filter(col("o_orderkey") % 37 === 0),
      col("o_custkey"), col("o_totalprice"), roll,
      graft.core.Scratch.path(roll))
    val fleet = graft.core.Scratch.path("snap_fleetpre_1")
    Snapshot.exportFleetAtCut(spark,
      Seq(rix -> "retrieval", roll -> "rollup"), fleet)
    // occupy the SECOND member's rename target only: the old per-member
    // check (inside restore) would fire after member 1 already landed
    drop(s"${rix}_x", Seq("postings", "meta", "deleted"))
    spark.sql(s"DROP TABLE IF EXISTS ${roll}_x")
    import spark.implicits._
    Seq((1L, 1L, java.math.BigDecimal.valueOf(0)))
      .toDF("key", "dn", "dr")
      .write.option("path", graft.core.Scratch.path(s"${roll}_x"))
      .format("parquet").mode("overwrite").saveAsTable(s"${roll}_x")
    val e = intercept[IllegalArgumentException] {
      Snapshot.restoreFleet(spark, fleet, _ + "_x",
        graft.core.Scratch.path("snap_fleetpre_r"))
    }
    assert(e.getMessage.contains("WHOLE fleet"), e.getMessage)
    // no member restored anything: the fleet never half-lands
    assert(!spark.catalog.tableExists(s"${rix}_x_postings"))
    assert(!spark.catalog.tableExists(s"${rix}_x_meta"))
    spark.sql(s"DROP TABLE IF EXISTS ${roll}_x")
  }

  test("followLineage: a head cut BELOW the replica's routes to reseed " +
      "advice, never a silent 'current' (round-12 advice)") {
    val src = "snap_flreg_src"; val rep = "snap_flreg_rep"
    drop(src, Seq("postings", "meta", "deleted"))
    drop(rep, Seq("postings", "meta", "deleted"))
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), src,
      graft.core.Scratch.path(src))
    val root = graft.core.Scratch.path("snap_flreg_root")
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
    val bp = Snapshot.BackupPolicy(root, everyBatches = 1L,
      rebaseAfterLinks = 8)
    val famRoot = s"$root/$src"
    assert(Snapshot.backupTick(spark, src, "retrieval", bp) == "full")
    val rpath = graft.core.Scratch.path(rep)
    assert(Snapshot.followLineage(spark, famRoot, rep, rpath,
      "retrieval") == "seed")
    // drive the REPLICA's committed cut past the lineage head — the
    // stamp-space signature of an epoch roll that renumbered the
    // primary below the replica (pending is empty either way)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), rep,
      batchId = 1L)
    val e = intercept[IllegalArgumentException](
      Snapshot.followLineage(spark, famRoot, rep, rpath, "retrieval"))
    assert(e.getMessage.contains("reseed = true"), e.getMessage)
    // reseed = true drops the drifted replica and restores the head
    assert(Snapshot.followLineage(spark, famRoot, rep, rpath,
      "retrieval", reseed = true) == "reseed")
    assert(asSet(RetrievalIndex.topK(spark, rep, CurationOps.rankQueries))
      == asSet(RetrievalIndex.topK(spark, src, CurationOps.rankQueries)))
  }
}

package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{BroadcastGate, Tables}
import graft.operators.{Ledger, RetrievalIndex, Snapshot}
import graft.queries.CurationOps

/** The persisted inverted index serves the scan-time retrieval
  * contracts exactly: index-built topK/boolean equal q88/q87 run
  * directly against the corpus, increments equal from-scratch builds,
  * and the term probe actually bucket-prunes the postings scan.
  */
class RetrievalIndexSpec extends SparkSpec {

  private def docs = Tables(spark, sfDir).documents

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"rix_$tag").toString

  private def drop(table: String): Unit =
    Seq("postings", "meta").foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))

  private def asSet(df: DataFrame) =
    df.collect().map(_.toSeq).toSet

  // a six-word vocabulary and short documents: many documents share a
  // score, so the doc_id tie-break decides ranks
  private val vocab = Seq("ant", "bee", "cat", "dog", "eel", "fox")

  private def randomCorpus(r: scala.util.Random, ids: Seq[Long]): Seq[(Long, String)] =
    ids.map(id => id -> Seq.fill(1 + r.nextInt(5))(vocab(r.nextInt(vocab.size)))
      .mkString(" "))

  private def frame(corpus: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    corpus.toDF("doc_id", "text")
  }

  private def idFrame(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("doc_id")
  }

  /** q88's ranking computed from scratch over `live`, in plain Scala. */
  private def fromScratch(live: Seq[(Long, String)], qs: Seq[(Int, Seq[String])],
      k: Int): Set[Seq[Any]] = {
    val tf = live.map { case (id, text) =>
      id -> text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .groupMapReduce(identity)(_ => 1L)(_ + _)
    }
    val n = live.size.toLong
    val idf = qs.flatMap(_._2).distinct.map { t =>
      val df = tf.count(_._2.contains(t)).toLong
      t -> ((2 * (n - df) + 1) * CurationOps.idfScale) / (2 * df + 1)
    }.toMap
    qs.flatMap { case (qid, ts) =>
      tf.flatMap { case (id, f) =>
        val hit = ts.filter(f.contains) // a repeated query term counts twice
        if (hit.isEmpty) None else Some(id -> hit.map(t => f(t) * idf(t)).sum)
      }.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((id, s), i) => Seq[Any](qid, id, s, i + 1) }
    }.toSet
  }

  /** Both tiers of topK on one index and version: the same schema and the
    * same rows. Returns the rows.
    */
  private def tiersAgree(table: String, qs: Seq[(Int, Seq[String])], k: Int,
      asOf: Long): Seq[Seq[Any]] = {
    val local = RetrievalIndex.topKLocal(spark,
      RetrievalIndex.topKLegs(spark, table, qs, asOf), qs, k)
    val dist = RetrievalIndex.topKDistributed(spark, table, qs, k, asOf)
    assert(local.schema == dist.schema)
    val byRank = (df: DataFrame) =>
      df.collect().map(_.toSeq).sortBy(r => (r(0).asInstanceOf[Int], r(3).asInstanceOf[Int])).toSeq
    val rows = byRank(local)
    assert(rows == byRank(dist), s"$table k=$k asOf=$asOf")
    rows
  }

  test("index topK equals q88 run directly against the corpus") {
    drop("rix_full")
    RetrievalIndex.build(docs, "rix_full", freshPath("full"))
    val fromIndex = RetrievalIndex.topK(spark, "rix_full", CurationOps.rankQueries)
    val direct = CurationOps.all.find(_.name == "q88_keyword_topk").get.run(spark, sfDir)
    assert(asSet(fromIndex) == asSet(direct))
  }

  test("index boolean equals q87 run directly against the corpus") {
    drop("rix_b")
    RetrievalIndex.build(docs, "rix_b", freshPath("b"))
    val fromIndex = RetrievalIndex.boolean(spark, "rix_b", CurationOps.boolQueries)
    val direct = CurationOps.all.find(_.name == "q87_boolean_search").get.run(spark, sfDir)
    assert(asSet(fromIndex) == asSet(direct))
  }

  test("build(half) + extend(half) equals build(all) — increments cost a batch, not history") {
    drop("rix_all"); drop("rix_inc")
    RetrievalIndex.build(docs, "rix_all", freshPath("all"))
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), "rix_inc", freshPath("inc"))
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), "rix_inc", batchId = 1L)
    val a = RetrievalIndex.topK(spark, "rix_all", CurationOps.rankQueries)
    val b = RetrievalIndex.topK(spark, "rix_inc", CurationOps.rankQueries)
    assert(asSet(a) == asSet(b))
    // meta N must see both batches
    val n = spark.table("rix_inc_meta").agg(sum("n_docs")).head.getLong(0)
    assert(n == docs.count())
  }

  test("replay of a COMMITTED extend is a no-op — postings, meta, and results untouched") {
    drop("rix_rc")
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), "rix_rc", freshPath("rc"))
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), "rix_rc", batchId = 1L)
    val rows = spark.table("rix_rc_postings").count()
    val before = RetrievalIndex.topK(spark, "rix_rc", CurationOps.rankQueries)
    val snapshot = asSet(before)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), "rix_rc", batchId = 1L)
    assert(spark.table("rix_rc_postings").count() == rows)
    assert(spark.table("rix_rc_meta").count() == 2) // build row + one batch row
    assert(asSet(RetrievalIndex.topK(spark, "rix_rc", CurationOps.rankQueries)) == snapshot)
  }

  test("replay of a CRASHED extend collapses: serve == from-scratch, N exact") {
    drop("rix_cr"); drop("rix_cr_full")
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    RetrievalIndex.build(evens, "rix_cr", freshPath("cr"))
    // the crash: data append lands, the trailing meta commit does not
    Ledger.crashBeforeMarker(RetrievalIndex.extend(odds, "rix_cr", batchId = 1L))
    // replay: marker absent → the batch re-folds end to end and commits
    RetrievalIndex.extend(odds, "rix_cr", batchId = 1L)
    // every batch-1 posting row is in the table TWICE …
    val batch1 = spark.table("rix_cr_postings").filter(col("batch_id") === 1L)
    assert(batch1.count() == 2 * batch1.dropDuplicates("term", "doc_id").count())
    // … and the serve paths recover the exact from-scratch answers
    RetrievalIndex.build(docs, "rix_cr_full", freshPath("crf"))
    assert(asSet(RetrievalIndex.topK(spark, "rix_cr", CurationOps.rankQueries)) ==
      asSet(RetrievalIndex.topK(spark, "rix_cr_full", CurationOps.rankQueries)))
    assert(asSet(RetrievalIndex.boolean(spark, "rix_cr", CurationOps.boolQueries)) ==
      asSet(RetrievalIndex.boolean(spark, "rix_cr_full", CurationOps.boolQueries)))
    // meta: one row per committed batch — N never double-counts
    val n = spark.table("rix_cr_meta").agg(sum("n_docs")).head.getLong(0)
    assert(n == docs.count())
  }

  test("the term probe bucket-prunes the postings scan") {
    drop("rix_p")
    RetrievalIndex.build(docs, "rix_p", freshPath("p"), nBuckets = 16)
    // the plan of topK's fused read, as the operator plans it on the
    // bucket-pruning clone
    val plan = RetrievalIndex.topKLegs(spark, "rix_p", Seq(1 -> Seq("spark")),
      Long.MaxValue).queryExecution.executedPlan.toString
    // a single-term probe must select a strict subset of the 16 buckets
    val m = "SelectedBucketsCount: (\\d+) out of 16".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan.take(2000))
    assert(m.get.group(1).toInt < 16, plan.take(2000))
  }

  test("phrase search: anchors, overlaps, duplicated terms, and absences are exact") {
    import spark.implicits._
    Seq("rix_ph_positions", "rix_ph_pbatches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val corpus = Seq(
      (1L, "alpha beta gamma"),        // "alpha beta" once
      (2L, "alpha alpha alpha beta"),  // "alpha alpha" OVERLAPS: 2 anchors
      (3L, "beta alpha"),              // terms present, adjacency reversed
      (4L, "alpha"),                   // too short for any phrase
      (5L, "x alpha beta alpha beta")) // "alpha beta" twice
      .toDF("doc_id", "text")
    RetrievalIndex.buildPositions(corpus, "rix_ph", freshPath("ph"))
    val got = RetrievalIndex.phrase(spark, "rix_ph", Seq(
        1 -> Seq("alpha", "beta"),
        2 -> Seq("alpha", "alpha"),    // duplicated phrase term
        3 -> Seq("beta", "gamma")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1, 1L, 1L), (1, 2L, 1L), (1, 5L, 2L), // adjacency, not co-occurrence (doc 3 absent)
      (2, 2L, 2L),                           // overlapping anchors both count
      (3, 1L, 1L)))
    spark.sql("DROP TABLE IF EXISTS rix_ph_positions")
  }

  test("deleteDocs: tombstones + negative meta row = from-scratch index of the survivors") {
    drop("rix_dl"); drop("rix_dlf")
    Seq("rix_dl_deleted").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val dlPath = freshPath("dl")
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), "rix_dl", dlPath)
    RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), "rix_dl", batchId = 1L)
    val victims = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    // crashed delete (tombstones land, meta row doesn't) + full replay
    Ledger.crashBeforeMarker(
      RetrievalIndex.deleteDocs(spark, victims, "rix_dl", dlPath, batchId = 2L))
    RetrievalIndex.deleteDocs(spark, victims, "rix_dl", dlPath, batchId = 2L)
    // N is exact despite the crash: meta sums to the surviving count
    val n = spark.table("rix_dl_meta").dropDuplicates("n_docs", "batch_id")
      .agg(sum("n_docs")).head.getLong(0)
    assert(n == docs.filter(col("doc_id") % 7 =!= 3).count())
    // ranking equals a from-scratch index of the surviving corpus —
    // the idf shift included
    RetrievalIndex.build(docs.filter(col("doc_id") % 7 =!= 3), "rix_dlf", freshPath("dlf"))
    assert(asSet(RetrievalIndex.topK(spark, "rix_dl", CurationOps.rankQueries)) ==
      asSet(RetrievalIndex.topK(spark, "rix_dlf", CurationOps.rankQueries)))
    assert(asSet(RetrievalIndex.boolean(spark, "rix_dl", CurationOps.boolQueries)) ==
      asSet(RetrievalIndex.boolean(spark, "rix_dlf", CurationOps.boolQueries)))
    // committed replay of the delete is a no-op (N untouched)
    RetrievalIndex.deleteDocs(spark, victims, "rix_dl", dlPath, batchId = 2L)
    assert(spark.table("rix_dl_meta").dropDuplicates("n_docs", "batch_id")
      .agg(sum("n_docs")).head.getLong(0) == n)
    // double-delete in a LATER batch subtracts nothing (fresh filter)
    RetrievalIndex.deleteDocs(spark, victims, "rix_dl", dlPath, batchId = 3L)
    assert(spark.table("rix_dl_meta").dropDuplicates("n_docs", "batch_id")
      .agg(sum("n_docs")).head.getLong(0) == n)
    spark.sql("DROP TABLE IF EXISTS rix_dl_deleted")
  }

  test("compact: replay dups and tombstones leave physically; N folds to one exact row") {
    drop("rix_cp"); drop("rix_cpf")
    spark.sql("DROP TABLE IF EXISTS rix_cp_deleted")
    val cpPath = freshPath("cp")
    RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), "rix_cp", cpPath)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    Ledger.crashBeforeMarker(RetrievalIndex.extend(odds, "rix_cp", batchId = 1L))
    RetrievalIndex.extend(odds, "rix_cp", batchId = 1L) // crash + replay
    val victims = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    RetrievalIndex.deleteDocs(spark, victims, "rix_cp", cpPath, batchId = 2L)
    RetrievalIndex.compact(spark, "rix_cp", cpPath)
    // physical state: one batch, no deleted doc, no duplicates, 1-row meta
    val post = spark.table("rix_cp_postings")
    assert(post.filter(col("batch_id") =!= 0L).isEmpty)
    assert(post.count() == post.dropDuplicates("term", "doc_id").count())
    val delSet = victims.collect().map(_.getLong(0)).toSet
    assert(post.filter(col("doc_id").isin(delSet.toSeq: _*)).isEmpty)
    assert(spark.table("rix_cp_deleted").isEmpty)
    val meta = spark.table("rix_cp_meta").collect()
    assert(meta.length == 1 && meta.head.getLong(1) == 0L)
    assert(meta.head.getLong(0) == docs.filter(col("doc_id") % 7 =!= 3).count())
    // serve equality vs a from-scratch index of the survivors
    RetrievalIndex.build(docs.filter(col("doc_id") % 7 =!= 3), "rix_cpf", freshPath("cpf"))
    assert(asSet(RetrievalIndex.topK(spark, "rix_cp", CurationOps.rankQueries)) ==
      asSet(RetrievalIndex.topK(spark, "rix_cpf", CurationOps.rankQueries)))
    spark.sql("DROP TABLE IF EXISTS rix_cp_deleted")
  }

  test("positions: crashed+replayed extend serves the exact from-scratch phrase results") {
    Seq("rix_pi_positions", "rix_pi_pbatches", "rix_pf_positions", "rix_pf_pbatches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    RetrievalIndex.buildPositions(evens, "rix_pi", freshPath("pi"))
    // crash: positions land, the marker doesn't — then the full replay
    Ledger.crashBeforeMarker(RetrievalIndex.extendPositions(odds, "rix_pi", batchId = 1L))
    RetrievalIndex.extendPositions(odds, "rix_pi", batchId = 1L)
    val dup = spark.table("rix_pi_positions").filter(col("batch_id") === 1L)
    assert(dup.count() == 2 * dup.dropDuplicates("term", "doc_id").count())
    RetrievalIndex.buildPositions(docs, "rix_pf", freshPath("pf"))
    val phrases = graft.queries.CurationOps.phraseQueries
    assert(asSet(RetrievalIndex.phrase(spark, "rix_pi", phrases)) ==
      asSet(RetrievalIndex.phrase(spark, "rix_pf", phrases)))
    // committed replay: a second extend is a no-op
    val rows = spark.table("rix_pi_positions").count()
    RetrievalIndex.extendPositions(odds, "rix_pi", batchId = 1L)
    assert(spark.table("rix_pi_positions").count() == rows)
  }

  test("two tiers on one table: deletes and compacts on either leave the other unchanged") {
    val t = "rix_two"
    Seq("postings", "meta", "deleted", "positions", "pbatches", "pdeleted")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${t}_$s"))
    val p = freshPath("two")
    val three = frame(Seq(1L -> "alpha beta gamma", 2L -> "alpha beta delta",
      3L -> "beta alpha gamma"))
    RetrievalIndex.build(three, t, p)
    RetrievalIndex.buildPositions(three, t, p)
    def phrase = RetrievalIndex.phrase(spark, t, Seq((1, Seq("alpha", "beta"))))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    def ranked = RetrievalIndex.topK(spark, t, Seq((1, Seq("alpha"))))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    def fsckOk(kind: String) = {
      val bad = graft.operators.Maintenance.fsck(spark, t, kind).filter(!col("ok")).collect()
      assert(bad.isEmpty, s"$kind: ${bad.mkString("; ")}")
    }
    assert((phrase, ranked) == ((Set(1L, 2L), Set(1L, 2L, 3L))))
    // a tf delete, then the tf compact: the phrase tier never sees it
    RetrievalIndex.deleteDocs(spark, idFrame(Seq(2L)), t, p, batchId = 1L)
    assert((phrase, ranked) == ((Set(1L, 2L), Set(1L, 3L))))
    fsckOk("retrieval"); fsckOk("positions")
    RetrievalIndex.compact(spark, t, p)
    assert((phrase, ranked) == ((Set(1L, 2L), Set(1L, 3L))))
    // a positional delete, then the positional compact: the tf tier
    // keeps its answers, and its own tombstone is not resurrected
    RetrievalIndex.deletePositionDocs(spark, idFrame(Seq(1L)), t, p, batchId = 1L)
    assert((phrase, ranked) == ((Set(2L), Set(1L, 3L))))
    RetrievalIndex.compactPositions(spark, t, p)
    assert((phrase, ranked) == ((Set(2L), Set(1L, 3L))))
    // two tf deletes: each tier's ledger audits clean against its own marker
    RetrievalIndex.deleteDocs(spark, idFrame(Seq(3L)), t, p, batchId = 1L)
    RetrievalIndex.deleteDocs(spark, idFrame(Seq(1L)), t, p, batchId = 2L)
    assert((phrase, ranked) == ((Set(2L), Set.empty[Long])))
    fsckOk("retrieval"); fsckOk("positions")
  }

  test("the writer fence rejects an out-of-sequence stamp loudly, on both tiers") {
    drop("rix_fn")
    Seq("rix_fn_deleted", "rix_fnp_positions", "rix_fnp_pbatches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    val p = freshPath("fn")
    RetrievalIndex.build(evens, "rix_fn", p)
    // a second writer racing ahead with a FRESH stamp fails loudly…
    val e = intercept[IllegalArgumentException] {
      RetrievalIndex.extend(odds, "rix_fn", batchId = 5L)
    }
    assert(e.getMessage.contains("out of sequence"))
    // …while the in-sequence batch passes, including its crashed replay
    Ledger.crashBeforeMarker(RetrievalIndex.extend(odds, "rix_fn", batchId = 1L))
    RetrievalIndex.extend(odds, "rix_fn", batchId = 1L)
    // deletes share the ledger: same fence, same sequence
    val victims = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val e2 = intercept[IllegalArgumentException] {
      RetrievalIndex.deleteDocs(spark, victims, "rix_fn", p, batchId = 9L)
    }
    assert(e2.getMessage.contains("out of sequence"))
    RetrievalIndex.deleteDocs(spark, victims, "rix_fn", p, batchId = 2L)
    assert(RetrievalIndex.topK(spark, "rix_fn", CurationOps.rankQueries).count() > 0)
    // the positional tier fences its own `_pbatches` ledger
    RetrievalIndex.buildPositions(evens, "rix_fnp", freshPath("fnp"))
    val e3 = intercept[IllegalArgumentException] {
      RetrievalIndex.extendPositions(odds, "rix_fnp", batchId = 3L)
    }
    assert(e3.getMessage.contains("out of sequence"))
    RetrievalIndex.extendPositions(odds, "rix_fnp", batchId = 1L)
  }

  test("the writer fence diagnoses an empty commit ledger and names the migration") {
    // pure-function checks on the shared fence (no tables needed):
    // an existing-but-empty marker (crash mid-overwrite) must read as a
    // named recoverable state, not a bare empty.max
    val e = intercept[IllegalArgumentException] {
      graft.core.WriterFence(Set.empty[Long], 1L, "SpecFamily")
    }
    assert(e.getMessage.contains("empty commit ledger"), e.getMessage)
    assert(e.getMessage.contains("SpecFamily"))
    // and the out-of-sequence error tells a pre-fence sparse ledger its
    // migration path (one compact resets the namespace)
    val e2 = intercept[IllegalArgumentException] {
      graft.core.WriterFence(Set(0L, 1L), 5L, "SpecFamily")
    }
    assert(e2.getMessage.contains("compact"), e2.getMessage)
    // in-sequence passes
    graft.core.WriterFence(Set(0L, 1L), 2L, "SpecFamily")
  }

  test("topK: the local tier returns the distributed tier's rows on random indexes") {
    var ties = 0
    for (seed <- Seq(11L, 12L)) {
      val r = new scala.util.Random(seed)
      val t = s"rix_eq$seed"
      drop(t); spark.sql(s"DROP TABLE IF EXISTS ${t}_deleted")
      val p = freshPath(s"eq$seed")
      val b0 = randomCorpus(r, 1L to 16L)
      val b1 = randomCorpus(r, 17L to 28L)
      val b3 = randomCorpus(r, 29L to 36L)
      RetrievalIndex.build(frame(b0), t, p, nBuckets = 4)
      // batch 1 crashes twice after its postings append, then replays
      (1 to 2).foreach(_ => Ledger.crashBeforeMarker(
        RetrievalIndex.extend(frame(b1), t, batchId = 1L, nBuckets = 4)))
      RetrievalIndex.extend(frame(b1), t, batchId = 1L, nBuckets = 4)
      // batch 2: a crashed and replayed delete
      val victims = r.shuffle((1L to 28L).toList).take(5)
      Ledger.crashBeforeMarker(
        RetrievalIndex.deleteDocs(spark, idFrame(victims), t, p, batchId = 2L))
      RetrievalIndex.deleteDocs(spark, idFrame(victims), t, p, batchId = 2L)
      RetrievalIndex.extend(frame(b3), t, batchId = 3L, nBuckets = 4)
      // batch 4 deletes two of batch 2's victims again, and one new doc
      val again = victims.take(2) :+ (29L + r.nextInt(8))
      RetrievalIndex.deleteDocs(spark, idFrame(again), t, p, batchId = 4L)
      val qs = Seq(
        1 -> Seq("ant", "ant"),   // a term repeated inside one query
        2 -> Seq("ant", "bee"),   // a term shared with query 1
        3 -> Seq("cat", "zebra"), // a term absent from the index
        4 -> Seq("zebra"),        // a query with no hit at all
        5 -> Seq(vocab(r.nextInt(6)), vocab(r.nextInt(6))))
      // pins before the first delete, at it, between the deletes, after all
      for (asOf <- Seq(1L, 2L, 3L, Long.MaxValue); k <- Seq(3, 100)) {
        val rows = tiersAgree(t, qs, k, asOf)
        ties += rows.groupBy(r => (r(0), r(2))).count(_._2.size > 1)
      }
      // k above the hits, against a from-scratch ranking of the live set
      val live = (b0 ++ b1 ++ b3).filterNot(d => (victims ++ again).contains(d._1))
      assert(tiersAgree(t, qs, 100, Long.MaxValue).toSet == fromScratch(live, qs, 100))
      // the same family attached from a snapshot: a temp-view family
      val snap = freshPath(s"eq${seed}_snap")
      Snapshot.export(spark, t, snap)
      Snapshot.attach(spark, snap, s"${t}_att")
      assert(tiersAgree(s"${t}_att", qs, 3, Long.MaxValue) ==
        tiersAgree(t, qs, 3, Long.MaxValue))
    }
    assert(ties > 0, "no score ties: the doc_id tie-break went untested")
  }

  test("topK's gate is a pure function of the estimated bytes") {
    val budget = BigInt(BroadcastGate.MaxCollectBytes)
    assert(BroadcastGate.collects(0))
    assert(BroadcastGate.collects(budget))
    assert(!BroadcastGate.collects(budget + 1))
  }

  test("topK below the gate pins N, tombstones and postings at the call") {
    val t = "rix_pin"
    drop(t)
    val r = new scala.util.Random(21L)
    val b0 = randomCorpus(r, 1L to 12L)
    RetrievalIndex.build(frame(b0), t, freshPath("pin"), nBuckets = 4)
    val qs = Seq(1 -> Seq("ant", "cat"), 2 -> Seq("dog"))
    val served = RetrievalIndex.topK(spark, t, qs)
    // a later batch moves N; the frame already returned must not see it
    RetrievalIndex.extend(frame(randomCorpus(r, 13L to 20L)), t, batchId = 1L,
      nBuckets = 4)
    assert(asSet(served) == fromScratch(b0, qs, 10))
  }

  test("topK below the gate is one Spark action; collecting its frame is none") {
    val t = "rix_jobs"
    drop(t); spark.sql(s"DROP TABLE IF EXISTS ${t}_deleted")
    val p = freshPath("jobs")
    val r = new scala.util.Random(31L)
    RetrievalIndex.build(frame(randomCorpus(r, 1L to 20L)), t, p, nBuckets = 4)
    RetrievalIndex.deleteDocs(spark, idFrame(Seq(3L, 4L)), t, p, batchId = 1L)
    val qs = Seq(1 -> Seq("ant", "bee"), 2 -> Seq("eel"))
    val (served, jobs) = JobCount.of(spark.sparkContext)(RetrievalIndex.topK(spark, t, qs))
    assert(jobs == 1, s"$jobs jobs")
    val (rows, more) = JobCount.of(spark.sparkContext)(served.collect())
    assert(more == 0 && rows.nonEmpty, s"$more jobs")
  }

  test("above the gate the distributed tier keeps its checkpointed shuffle plan") {
    drop("rix_dist")
    RetrievalIndex.build(docs, "rix_dist", freshPath("dist"))
    val d = RetrievalIndex.topKDistributed(spark, "rix_dist",
      CurationOps.rankQueries, 10, Long.MaxValue)
    // the matched probe is pinned by localCheckpoint (an RDD scan) …
    val logical = d.queryExecution.optimizedPlan.toString
    assert(logical.contains("LogicalRDD"), logical)
    // … and df, scores and the rank window are shuffles
    val physical = d.queryExecution.executedPlan.toString
    assert(physical.contains("Exchange hashpartitioning(qid"), physical)
    assert(physical.contains("Window"), physical)
  }
}

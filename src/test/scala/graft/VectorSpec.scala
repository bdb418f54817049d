package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.VectorOps

class VectorSpec extends SparkSpec {

  lazy val emb = Tables(spark, sfDir).embeddings

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val c = df.select(VectorOps.cosine(
      col("a").cast("array<double>"), col("b").cast("array<double>"))).head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("brute-force top-k: k rows per query, ranks 1..k, descending cosine") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = VectorOps.bruteForceTopK(corpus, queries, k = 5).collect()
    assert(got.length == 25)
    val byQ = got.groupBy(_.getLong(0))
    for ((_, rows) <- byQ) {
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 5))
      val cosines = sorted.map(_.getDouble(2)).toSeq
      assert(cosines == cosines.sorted.reverse, "cosine must be non-increasing in rank")
      assert(rows.forall(r => r.getLong(1) != r.getLong(0)), "self excluded")
    }
  }

  test("MMR re-rank: driver replay of the greedy control flow matches exactly") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = VectorOps.mmrRerank(corpus, queries, kCand = 20, kOut = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet

    // replay the greedy selection in the driver, taking every rounded
    // cosine FROM the engine (the float contract is the oracle's job;
    // this pins the unrolled-loop orchestration: anti-join bookkeeping,
    // penalty maxes, argmax tie order)
    val cand = VectorOps.bruteForceTopK(corpus, queries, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val candIds = cand.map(_._2).distinct
    val vecs = emb.filter(col("vec_id").isin(candIds: _*))
      .select(col("vec_id").as("a_id"), col("embedding").cast("array<double>").as("av"))
    val pairSim = vecs.crossJoin(
        vecs.select(col("a_id").as("b_id"), col("av").as("bv")))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(VectorOps.cosine(col("av"), col("bv")), 4).as("sim"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def sim(a: Long, b: Long): Double =
      if (a < b) pairSim((a, b)) else pairSim((b, a))
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = scala.collection.mutable.Set[(Long, Long, Int)]()
    for ((qid, qc) <- cand.groupBy(_._1)) {
      val pool = qc.map(c => (c._2, c._3)).toBuffer // (neighbor, cos)
      val sel = scala.collection.mutable.ArrayBuffer[Long]()
      for (t <- 1 to 5) {
        val best =
          if (t == 1) pool.maxBy { case (id, cos) => (cos, -id) }
          else pool.maxBy { case (id, cos) =>
            (round4(0.7 * cos - 0.3 * sel.map(s => sim(id, s)).max), -id)
          }
        want += ((qid, best._1, t))
        sel += best._1
        pool -= best
      }
    }
    assert(got == want.toSet)
    // 5 distinct picks per query; rank 1 is the plain nearest neighbor
    assert(got.size == 25)
  }

  test("IVF top-k: k rows per query; recall tracks probe fraction") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = VectorOps.bruteForceTopK(corpus, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.ivfTopK(corpus, queries, k = 5, nCells = 16, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    info(s"IVF recall at 8/16 cells probed: $recall")
    // random-noise corpus: probing half the cells should recover roughly
    // half the true neighbors — assert a loose floor
    assert(recall > 0.3)
    assert(ivf.groupBy(_._1).forall(_._2.size <= 5))
  }

  test("IvfIndex: frozen quantizer, batch-split invariance, crash-replay collapse") {
    import graft.operators.IvfIndex
    def drop(t: String): Unit =
      Seq(s"${t}_centroids", s"${t}_cells", s"${t}_batches")
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(s"ivfidx_$tag").toString
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    try {
      // one extend vs two extends vs a crashed+replayed extend: all
      // serve identically (assignment is a pure function of the frozen
      // centroids, so batch boundaries and replays cannot show through)
      drop("ivf_a"); drop("ivf_b"); drop("ivf_c")
      val evens = corpus.filter(col("id") % 2 === 0)
      IvfIndex.build(evens, "ivf_a", tmp("a"))
      IvfIndex.extend(spark, corpus.filter(col("id") % 2 === 1), "ivf_a", batchId = 1L)
      IvfIndex.build(evens, "ivf_b", tmp("b"))
      IvfIndex.extend(spark, corpus.filter(col("id") % 4 === 1), "ivf_b", batchId = 1L)
      IvfIndex.extend(spark, corpus.filter(col("id") % 4 === 3), "ivf_b", batchId = 2L)
      IvfIndex.build(evens, "ivf_c", tmp("c"))
      val odds = corpus.filter(col("id") % 2 === 1)
      graft.operators.Ledger.crashBeforeMarker(
        IvfIndex.extend(spark, odds, "ivf_c", batchId = 1L))
      IvfIndex.extend(spark, odds, "ivf_c", batchId = 1L) // replay of the crash
      val a = key(IvfIndex.topK(spark, "ivf_a", queries, k = 5, nProbe = 8))
      assert(a == key(IvfIndex.topK(spark, "ivf_b", queries, k = 5, nProbe = 8)))
      assert(a == key(IvfIndex.topK(spark, "ivf_c", queries, k = 5, nProbe = 8)))
      assert(a.nonEmpty)
      // the crash really duplicated rows, and the collapse hid them
      val b1 = spark.table("ivf_c_cells").filter(col("batch_id") === 1L)
      assert(b1.count() == 2 * b1.dropDuplicates("id").count())
      // committed replay: no-op
      val n = spark.table("ivf_c_cells").count()
      IvfIndex.extend(spark, odds, "ivf_c", batchId = 1L)
      assert(spark.table("ivf_c_cells").count() == n)
      // the quantizer is FROZEN: extends did not touch centroids
      assert(spark.table("ivf_a_centroids").count() == 16)
      // deletes + compact on ivf_c: tombstones hide candidates, compact
      // purges physically and clears them, centroids still untouched
      spark.sql("DROP TABLE IF EXISTS ivf_c_deleted")
      val cPath = spark.sql("DESCRIBE TABLE EXTENDED ivf_c_cells")
        .filter(col("col_name") === "Location").select("data_type")
        .head.getString(0).stripSuffix("/").reverse.dropWhile(_ != '/').drop(1)
        .reverse.stripPrefix("file:")
      val victims = corpus.filter(col("id") % 7 === 3).select("id")
      IvfIndex.deleteIds(spark, victims, "ivf_c", cPath, batchId = 2L)
      val delSet = victims.collect().map(_.getLong(0)).toSet
      val served = key(IvfIndex.topK(spark, "ivf_c", queries, k = 5, nProbe = 8))
      assert(served.forall { case (_, nb, _, _) => !delSet.contains(nb) })
      IvfIndex.compact(spark, "ivf_c", cPath)
      assert(spark.table("ivf_c_cells")
        .filter(col("id").isin(delSet.toSeq: _*)).isEmpty)
      assert(spark.table("ivf_c_cells").filter(col("batch_id") =!= 0L).isEmpty)
      assert(spark.table("ivf_c_deleted").isEmpty)
      assert(key(IvfIndex.topK(spark, "ivf_c", queries, k = 5, nProbe = 8)) == served)
      assert(spark.table("ivf_c_centroids").count() == 16)
      spark.sql("DROP TABLE IF EXISTS ivf_c_deleted")
    } finally { drop("ivf_a"); drop("ivf_b"); drop("ivf_c") }
  }

  test("IvfIndex: the writer fence rejects an out-of-sequence stamp loudly") {
    import graft.operators.IvfIndex
    def drop(t: String): Unit =
      Seq(s"${t}_centroids", s"${t}_cells", s"${t}_batches", s"${t}_deleted")
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    val tmp = java.nio.file.Files.createTempDirectory("ivffence").toString
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    try {
      drop("ivf_fn")
      IvfIndex.build(corpus.filter(col("id") % 2 === 0), "ivf_fn", tmp)
      val odds = corpus.filter(col("id") % 2 === 1)
      val e = intercept[IllegalArgumentException] {
        IvfIndex.extend(spark, odds, "ivf_fn", batchId = 3L)
      }
      assert(e.getMessage.contains("out of sequence"))
      // in-sequence passes, including the crashed replay of the same id
      graft.operators.Ledger.crashBeforeMarker(
        IvfIndex.extend(spark, odds, "ivf_fn", batchId = 1L))
      IvfIndex.extend(spark, odds, "ivf_fn", batchId = 1L)
      // deletes share the ledger
      val victims = corpus.filter(col("id") % 7 === 3).select("id")
      val e2 = intercept[IllegalArgumentException] {
        IvfIndex.deleteIds(spark, victims, "ivf_fn", tmp, batchId = 6L)
      }
      assert(e2.getMessage.contains("out of sequence"))
      IvfIndex.deleteIds(spark, victims, "ivf_fn", tmp, batchId = 2L)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      assert(IvfIndex.topK(spark, "ivf_fn", queries, k = 5, nProbe = 8).count() > 0)
    } finally drop("ivf_fn")
  }

  test("PQ top-k: ADC candidates + exact re-rank give useful recall, true scores") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = VectorOps.bruteForceTopK(corpus, queries, k = 5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val pq = VectorOps.pqTopK(corpus, queries, k = 5, dim = 64).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val recall = pq.count(p => brute.contains(p._1)).toDouble / brute.size
    info(s"PQ recall at m=8, 16 codes, 3k re-rank: $recall")
    // 32x-compressed codes on a random-noise corpus: loose floor
    assert(recall > 0.3)
    // the re-rank is exact: every emitted score equals the brute cosine
    pq.filter(p => brute.contains(p._1)).foreach { case (key, cos) =>
      assert(cos == brute(key), s"$key: $cos != ${brute(key)} — re-rank must be exact")
    }
    assert(pq.groupBy(_._1._1).forall(_._2.size <= 5))
  }

  test("LSH top-k recall vs brute force is useful (4 bits x 8 tables)") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = VectorOps.bruteForceTopK(corpus, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.lshTopK(corpus, queries, k = 5, bits = 4, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    info(s"LSH recall at 4 bits x 8 tables: $recall")
    assert(recall > 0.4)
  }

  test("cosinePairs bucketed tier: subset of exact, identical scores, useful recall") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = VectorOps.cosinePairs(corpus, threshold = 0.40, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // localThreshold = 0 forces the LSH-bucketed tier on the fixture
    val lsh = VectorOps.cosinePairs(corpus, threshold = 0.40, dim = 64,
      bits = 4, tables = 16, localThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty)
    // every bucketed pair is a true pair, verified to the exact score
    lsh.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"pair $k not in exact set or score differs")
    }
    val recall = lsh.size.toDouble / exact.size
    info(s"cosinePairs recall at cos>=0.40, 4 bits x 16 tables: $recall")
    // deterministic (seeded hyperplanes); 0.40 is a LOW threshold for
    // sign-LSH (p ~= 0.63 at theta ~= 66deg) — the loose floor documents
    // that even the worst-case qualifying pairs are mostly recovered
    assert(recall > 0.5, s"recall $recall")
  }

  test("flat-SQ ANN recall vs uncompressed scan is high (int8 codes)") {
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = VectorOps.bruteForceTopK(corpus, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = VectorOps.sqTopK(corpus, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & sq).size.toDouble / brute.size
    info(s"flat-SQ recall at int8: $recall")
    // 8-bit per-vector quantization perturbs cosines by ~qscale/2 per dim;
    // on this corpus the top-5 sets should stay nearly identical
    assert(recall > 0.85, s"recall $recall")
  }

  test("persisted LSH index probe equals in-memory lshTopK and prunes buckets") {
    val tmp = java.nio.file.Files.createTempDirectory("lshidx").toString
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    try {
      VectorOps.buildLshIndex(corpus, "lsh_idx", s"$tmp/idx", bits = 4, dim = 64)
      val probed = VectorOps.probeLshIndex(spark, "lsh_idx", queries, k = 5,
        bits = 4, dim = 64)
      val direct = VectorOps.lshTopK(corpus, queries, k = 5, bits = 4, dim = 64)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(rows(probed) == rows(direct),
        "index probe must reproduce the in-memory LSH results exactly")
      // the probe's IN filter must reach the scan as bucket pruning
      val p = probed.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("SelectedBucketsCount"), p)
    } finally spark.sql("DROP TABLE IF EXISTS lsh_idx")
  }

  test("RRF fusion: 5 rows per query, tier counts sane, both-tier hits rank first") {
    val df = SparkEntry.queries("q72_rrf_fusion")(spark, sfDir)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3), r.getInt(4)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q must fuse to exactly 5")
      assert(rs.map(_._5).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      assert(rs.forall(r => r._4 == 1L || r._4 == 2L), "contributions from 1 or 2 tiers")
      // rrf is non-increasing in fused rank
      val ordered = rs.sortBy(_._5).map(_._3)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    }
  }

  test("int8 scalar quantization: codes in range, sup error <= qscale/2") {
    import spark.implicits._
    val rows = VectorOps.scalarQuantize(emb, col("vec_id"), col("embedding")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qscale, codes, maxErr) =
        (r.getDouble(3), r.getSeq[Int](4), r.getDouble(5))
      assert(codes.forall(c => c >= 0 && c <= 255))
      // round-to-nearest reconstruction: sup error is half a quantization
      // step (tiny slack for the FP division in the code computation)
      assert(maxErr <= qscale / 2 + 1e-12, s"vec ${r.getLong(0)}: $maxErr vs $qscale")
    }
    // constant vector: zero scale, all-zero codes, exact reconstruction
    val const = Seq((1L, Seq.fill(8)(0.25f))).toDF("vec_id", "embedding")
    val c = VectorOps.scalarQuantize(const, col("vec_id"), col("embedding")).head()
    assert(c.getDouble(3) == 0.0 && c.getSeq[Int](4).forall(_ == 0) && c.getDouble(5) == 0.0)
  }
}

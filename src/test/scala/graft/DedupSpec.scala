package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Ledger}

class DedupSpec extends SparkSpec {

  lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again todai"), // 1 char off 0
      (2L, "completely different content about spark engines and columnar io"),
      (3L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
      (4L, "unrelated short text"))
      .toDF("id", "text")
      .withColumn("len", length(col("text")))
  }

  test("shingles of text shorter than k are empty, not fabricated") {
    import spark.implicits._
    val out = Seq("abc", "abcde", "").toDF("t")
      .select(graft.functions.TextFunctions.shingles(col("t"), 5)).collect()
    assert(out(0).getSeq[String](0).isEmpty, "3 chars < k=5")
    assert(out(1).getSeq[String](0) == Seq("abcde"))
    assert(out(2).getSeq[String](0).isEmpty)
  }

  test("minhash_sig kernel matches the per-permutation HOF formulation bit-for-bit") {
    // the persisted near-dup index stores band keys derived from these
    // values — any arithmetic drift silently misses every historical
    // bucket, so the kernel is pinned against the formulation it replaced
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val longRows = Seq.fill(40)(Seq.fill(1 + rnd.nextInt(30))(rnd.nextLong())) :+ Seq.empty[Long]
    val intRows = Seq.fill(40)(Seq.fill(1 + rnd.nextInt(30))(rnd.nextInt(1 << 24) + 1)) :+ Seq.empty[Int]
    val p = 1000000007L
    val ps = {
      val r = new scala.util.Random(42L)
      Seq.fill(32)((1L + r.nextInt(1000000000), r.nextInt(1000000000).toLong))
    }
    def hof(elems: org.apache.spark.sql.Column) = array(ps.map { case (a, b) =>
      array_min(transform(elems, h => (lit(a) * pmod(h, lit(p)) + lit(b)) % lit(p)))
    }: _*)
    for ((df, label) <- Seq(longRows.toDF("e") -> "long", intRows.toDF("e") -> "int")) {
      val rows = df
        .select(Dedup.minhashSignature(col("e")).as("kernel"), hof(col("e")).as("hof"))
        .collect()
      rows.dropRight(1).foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"$label-element mismatch")
      }
      assert(rows.last.isNullAt(0), s"$label: empty input must yield NULL (array_min parity)")
    }
    // null elements: transform maps null->null, array_min skips them —
    // the kernel must skip too, and an ALL-null array acts like empty
    val nr = Seq(Seq(Some(5L), None, Some(-3L)), Seq[Option[Long]](None, None))
      .toDF("e")
      .select(Dedup.minhashSignature(col("e")).as("kernel"), hof(col("e")).as("hof"))
      .collect()
    assert(nr(0).getSeq[Long](0) == nr(0).getSeq[Long](1), "null element must be skipped, not hashed as 0")
    assert(nr(1).isNullAt(0), "all-null input must yield NULL")
  }

  test("repetitive texts of different lengths with identical shingle sets pair up") {
    import spark.implicits._
    // shingle sets identical despite a 10:7 length ratio — the old length
    // prefilter silently dropped this pair
    val docs = Seq((0L, "ababababab"), (1L, "abababa")).toDF("id", "text")
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.8).collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 1.0)
  }

  test("exact groups find byte-identical duplicates with min-id representative") {
    val g = Dedup.exactGroups(docs, col("id"), col("text"))
      .filter(col("n_dups") > 1).collect()
    assert(g.length == 1)
    assert(g.head.getLong(g.head.fieldIndex("representative")) == 0L)
    assert(g.head.getLong(g.head.fieldIndex("n_dups")) == 2L)
  }

  test("jaccard pairs find near and exact dups, nothing else") {
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("containment sees subset relations jaccard misses, and is directed") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val sup = base + " followed by a very long appended tail of entirely new material stretching onward"
    val cdocs = Seq((0L, base), (1L, sup), (2L, "something else entirely unrelated"))
      .toDF("id", "text")
    val pairs = Dedup.containmentPairs(cdocs, threshold = 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((0L, 1L)).contains(1.0), "prefix doc is fully contained in its superset")
    assert(!pairs.contains((1L, 0L)), "superset direction must not qualify")
    assert(pairs.keySet == Set((0L, 1L)))
    // Jaccard at any threshold this strict cannot see the same pair
    val j = Dedup.jaccardPairs(cdocs, threshold = 0.9).collect()
    assert(j.isEmpty, "J = |A|/|B| is diluted by the superset's extra shingles")
  }

  test("bitset and prefix verify paths produce identical pairs") {
    // maxBitsetVocab = 0 forces the large-dictionary (dedup + merge-scan
    // join-back) path; the default takes the bitset inline-verify path on
    // these small-vocab fixtures — outputs must be row-identical
    val jBit = Dedup.jaccardPairs(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val jPre = Dedup.jaccardPairs(docs, threshold = 0.8, maxBitsetVocab = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(jBit == jPre)
    val cBit = Dedup.containmentPairs(docs, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cPre = Dedup.containmentPairs(docs, threshold = 0.9, maxBitsetVocab = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cBit == cPre)
  }

  test("containment pairs match brute force over shingle sets") {
    val sh = docs.select(col("id"),
        graft.functions.TextFunctions.shingles(col("text"), 5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val brute = (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq
      if a != b && sa.nonEmpty && sb.nonEmpty
      c = sa.intersect(sb).size.toDouble / sa.size
      if c >= 0.9
    } yield ((a, b), c)).toMap
    val got = Dedup.containmentPairs(docs, threshold = 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == brute)
  }

  test("semantic keep-list marks exactly one representative per component") {
    val df = SparkEntry.queries("q70_semantic_keeplist")(spark, sfDir)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty, "fixture embeddings must produce at least one cluster")
    rows.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.count(_._3) == 1, s"component $rep must keep exactly one")
      assert(members.find(_._3).get._1 == rep, s"kept member must be the min id $rep")
      assert(members.map(_._1).min == rep, "representative must be the component min")
    }
  }

  test("persisted near-dup index: batch probe equals brute-force cross jaccard") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ndidx").toString
    val history = docs.select("id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"), // = docs 0/3
      (101L, "the quick brown fox jumps over the lazy dog again and again todaX"), // 1 char off
      (102L, "entirely novel content that matches nothing else at all"))
      .toDF("id", "text")
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), graft.functions.TextFunctions.shingles(col("text"), 5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    try {
      Dedup.buildNearDupIndex(history, "nd_idx", s"$tmp/idx")
      val got = Dedup.probeNearDupIndex(spark, "nd_idx", batch, threshold = 0.8)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val brute = (for {
        (b, sb) <- sets(batch); (h, sh) <- sets(history)
        j = sb.intersect(sh).size.toDouble / sb.union(sh).size
        if j >= 0.8
      } yield ((b, h), j)).toMap
      assert(got == brute,
        s"probe must match brute-force batch x history pairs; got=$got brute=$brute")
      assert(got.get((100L, 0L)).contains(1.0) && got.get((100L, 3L)).contains(1.0))
      assert(!got.keys.exists(_._1 == 102L), "novel doc must match nothing")
    } finally {
      spark.sql("DROP TABLE IF EXISTS nd_idx_postings")
      spark.sql("DROP TABLE IF EXISTS nd_idx_sets")
      spark.sql("DROP TABLE IF EXISTS nd_idx_batches")
    }
  }

  test("incremental near-dup index: extend, crash-replay, and committed replay serve the exact pair graph") {
    val tmp = java.nio.file.Files.createTempDirectory("ndinc").toString
    val evens = docs.select("id", "text").filter(col("id") % 2 === 0)
    val odds = docs.select("id", "text").filter(col("id") % 2 === 1)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    try {
      Dedup.buildNearDupIndex(evens, "nd_inc", s"$tmp/idx")
      // crash window: data appends land, the trailing commit stamp does not
      Ledger.crashBeforeMarker(Dedup.extendNearDupIndex(spark, odds, "nd_inc", batchId = 1L))
      // full replay of the crashed batch: marker absent, so it re-folds
      // and re-appends byte-identical rows, then commits
      Dedup.extendNearDupIndex(spark, odds, "nd_inc", batchId = 1L)
      // every batch-1 row is now in the index exactly twice
      val b1 = spark.table("nd_inc_postings").filter(col("batch_id") === 1L)
      assert(b1.count() > 0 && b1.count() == 2 * b1.distinct().count(),
        "crash-replay must leave batch-1 postings duplicated (else the test is vacuous)")
      // a replay of the COMMITTED batch is a no-op
      val nPost = spark.table("nd_inc_postings").count()
      Dedup.extendNearDupIndex(spark, odds, "nd_inc", batchId = 1L)
      assert(spark.table("nd_inc_postings").count() == nPost,
        "committed replay must not append")
      // serve collapses the duplicates to the exact from-scratch graph
      val got = pairSet(Dedup.serveNearDupPairs(spark, "nd_inc", threshold = 0.8))
      val want = pairSet(Dedup.minhashLsh(docs.select("id", "text"), threshold = 0.8))
      assert(got == want, s"served=$got scan=$want")
      assert(got.nonEmpty, "fixture corpus must contain near-dup pairs")
    } finally {
      spark.sql("DROP TABLE IF EXISTS nd_inc_postings")
      spark.sql("DROP TABLE IF EXISTS nd_inc_sets")
      spark.sql("DROP TABLE IF EXISTS nd_inc_batches")
    }
  }

  test("near-dup index: tombstones hide deleted docs; compact purges them and the replay dups") {
    val tmp = java.nio.file.Files.createTempDirectory("nddel").toString
    val evens = docs.select("id", "text").filter(col("id") % 2 === 0)
    val odds = docs.select("id", "text").filter(col("id") % 2 === 1)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    try {
      Dedup.buildNearDupIndex(evens, "nd_del", s"$tmp/idx")
      // crashed extend + replay: duplicates in both tables
      Ledger.crashBeforeMarker(Dedup.extendNearDupIndex(spark, odds, "nd_del", batchId = 1L))
      Dedup.extendNearDupIndex(spark, odds, "nd_del", batchId = 1L)
      // crashed delete + replay of a victim set that intersects real pairs
      val victims = docs.select(col("id")).filter(col("id") % 7 === 3)
      Ledger.crashBeforeMarker(
        Dedup.deleteFromNearDupIndex(spark, victims, "nd_del", s"$tmp/idx", batchId = 2L))
      Dedup.deleteFromNearDupIndex(spark, victims, "nd_del", s"$tmp/idx", batchId = 2L)
      val want = pairSet(Dedup.minhashLsh(
        docs.select("id", "text").filter(col("id") % 7 =!= 3), threshold = 0.8))
      val full = pairSet(Dedup.minhashLsh(docs.select("id", "text"), threshold = 0.8))
      assert(want.size < full.size, "victims must intersect real pairs")
      assert(pairSet(Dedup.serveNearDupPairs(spark, "nd_del", threshold = 0.8)) == want)
      // probe path honors tombstones too (deleted index docs never match)
      val probe = Dedup.probeNearDupIndex(spark, "nd_del",
        docs.select("id", "text").limit(0), threshold = 0.8)
      assert(probe.isEmpty) // vacuous probe, just exercises the filtered plan
      // compact: physical purge + dedup; tombstones cleared; marker reset
      Dedup.compactNearDupIndex(spark, "nd_del", s"$tmp/idx")
      val delSet = victims.collect().map(_.getLong(0)).toSet
      assert(spark.table("nd_del_sets")
        .filter(col("id").isin(delSet.toSeq: _*)).isEmpty)
      assert(spark.table("nd_del_postings")
        .filter(col("batch_id") =!= 0L).isEmpty)
      assert(spark.table("nd_del_deleted").isEmpty)
      assert(spark.table("nd_del_batches").collect().map(_.getLong(0)).toSet == Set(0L))
      assert(pairSet(Dedup.serveNearDupPairs(spark, "nd_del", threshold = 0.8)) == want)
      // post-compact extend lands on the purged state (namespace reset)
      // and reintroduces nothing deleted
      assert(spark.table("nd_del_postings")
        .filter(col("id").isin(delSet.toSeq: _*)).isEmpty)
    } finally {
      Seq("nd_del_postings", "nd_del_sets", "nd_del_batches", "nd_del_deleted")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("near-dup index: the writer fence rejects an out-of-sequence stamp loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("ndfence").toString
    val evens = docs.select("id", "text").filter(col("id") % 2 === 0)
    val odds = docs.select("id", "text").filter(col("id") % 2 === 1)
    try {
      Dedup.buildNearDupIndex(evens, "nd_fn", s"$tmp/idx")
      val e = intercept[IllegalArgumentException] {
        Dedup.extendNearDupIndex(spark, odds, "nd_fn", batchId = 4L)
      }
      assert(e.getMessage.contains("out of sequence"))
      // in-sequence passes, including the crashed replay of the same id
      Ledger.crashBeforeMarker(Dedup.extendNearDupIndex(spark, odds, "nd_fn", batchId = 1L))
      Dedup.extendNearDupIndex(spark, odds, "nd_fn", batchId = 1L)
      // deletes share the ledger
      val victims = docs.select(col("id")).filter(col("id") % 7 === 3)
      val e2 = intercept[IllegalArgumentException] {
        Dedup.deleteFromNearDupIndex(spark, victims, "nd_fn", s"$tmp/idx", batchId = 7L)
      }
      assert(e2.getMessage.contains("out of sequence"))
      Dedup.deleteFromNearDupIndex(spark, victims, "nd_fn", s"$tmp/idx", batchId = 2L)
      assert(Dedup.serveNearDupPairs(spark, "nd_fn", threshold = 0.8).count() > 0)
    } finally {
      Seq("nd_fn_postings", "nd_fn_sets", "nd_fn_batches", "nd_fn_deleted")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("crossNearDup equals brute-force bipartite jaccard, and is bipartite only") {
    import spark.implicits._
    val reference = Seq(
      (900L, "the quick brown fox jumps over the lazy dog again and again today"),
      (901L, "held out benchmark prompt that the corpus never paraphrases at all"))
      .toDF("id", "text")
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), graft.functions.TextFunctions.shingles(col("text"), 5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val got = Dedup.crossNearDup(docs.select("id", "text"), reference, threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val brute = (for {
      (c, sc) <- sets(docs.select("id", "text")); (f, sf) <- sets(reference)
      j = sc.intersect(sf).size.toDouble / sc.union(sf).size
      if j >= 0.8
    } yield ((c, f), j)).toMap
    assert(got == brute, s"got=$got brute=$brute")
    assert(got.get((0L, 900L)).contains(1.0) && got.get((3L, 900L)).contains(1.0),
      "exact copies of the benchmark doc must be flagged")
    assert(got.contains((1L, 900L)), "one-char-off near-copy must be flagged")
    assert(!got.keys.exists(_._2 == 901L), "unmatched benchmark doc flags nothing")
    // corpus-internal dup pair (0,3) must NOT appear: the join is bipartite
    assert(got.keys.forall { case (c, f) => Set(0L,1L,2L,3L,4L)(c) && Set(900L,901L)(f) })
  }

  test("duplicated-span coverage: exact dups fully shared, unique docs zero") {
    val df = SparkEntry.queries("q73_dup_spans")(spark, sfDir)
    val rows = df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { case (n, s, f) =>
      assert(s <= n && f >= 0.0 && f <= 1.0)
    }
    // the fixture corpus contains exact duplicate texts (q40 finds them):
    // every window of a duplicated doc is shared, so some doc has frac 1.0
    assert(rows.values.exists(_._3 == 1.0), "exact dups must be fully covered")
  }

  test("minhash LSH output equals exact jaccard output on the fixture corpus") {
    val exact = Dedup.jaccardPairs(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLsh(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact)
  }

  test("simhash: exact dups at distance 0; near-dup close; distinct docs far") {
    val sig = Dedup.simhash(docs, col("id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(3L), "identical text must have identical simhash")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(0L), sig(1L)) < ham(sig(0L), sig(2L)),
      "near-dup must be closer than unrelated doc")
  }

  test("simhash banded pairs recall all pairs within distance 3") {
    val sig = Dedup.simhash(docs, col("id"), col("text"))
    val pairs = Dedup.simhashPairs(sig, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth
    val s = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (for {
      a <- s.keys; b <- s.keys if a < b
      if java.lang.Long.bitCount(s(a) ^ s(b)) <= 3
    } yield (a, b)).toSet
    assert(pairs == expect)
  }
}

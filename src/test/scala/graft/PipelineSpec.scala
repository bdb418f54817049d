package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{ExecutiveDedupPipeline, IssuesPipeline}
import graft.sources.{FsKeyValueSink, KeyValueSink, ReviewExport}

/** End-to-end reference-parity tests over FIXTURES.md-shaped synthetic
  * inputs (the fixture corpus has no issues/executives tables).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // ---- issues fixture: synonym columns, junk numerics, dup (ticker,issue),
  // company with != 8 issues, unmapped + invalid tickers
  lazy val issues = Seq(
    // AAPL: 2 issues, one with a duplicate row (last wins)
    ("AAPL", "Climate", "10", "5", "3"),
    ("AAPL", "Climate", "20", "5", "3"),   // dup — this one must win
    ("aapl ", "Board", "1", "junk", "2"),  // junk numeric -> 0.0; ticker trims+uppers
    // MSFT: 1 issue, all-zero (position NEUTRAL)
    ("MSFT", "Climate", "0", "0", "0"),
    // unmapped ticker
    ("ZZZZ", "Climate", "1", "2", "3"),
    // invalid tickers / issue names dropped
    ("NAN", "Climate", "1", "1", "1"),
    ("", "Climate", "1", "1", "1"),
    ("AAPL", "  ", "1", "1", "1"))
    .toDF("COMPANY_TICKER", "issue", "against_amount", "neutral_value", "for_amount")

  lazy val tickers = Seq(("AAPL", "c_apple"), ("MSFT", "c_msft")).toDF("ticker", "company_id")

  lazy val issuesResult = IssuesPipeline.run(issues, tickers, expectedIssues = 8)

  test("issues pipeline: role resolution + coercion + filters + lookup join") {
    val derived = issuesResult.derived.collect()
    // AAPL Climate (last wins: against=20), AAPL Board, MSFT Climate
    assert(derived.length == 3)
    val climate = derived.find(r =>
      r.getString(0) == "c_apple" && r.getString(2) == "Climate").get
    assert(climate.getDouble(3) == 20.0, "last duplicate row must win")
    val board = derived.find(r => r.getString(2) == "Board").get
    assert(board.getDouble(4) == 0.0, "junk numeric must coerce to 0.0")
  }

  test("issues pipeline: position derivation and zero-total case") {
    val pos = issuesResult.derived.select("company_id", "issue_name", "position")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(pos(("c_apple", "Climate")) == "AGAINST")
    assert(pos(("c_msft", "Climate")) == "NEUTRAL") // total == 0
  }

  test("issues pipeline: unmapped tickers + cardinality validation + summary") {
    assert(issuesResult.unmappedTickers.as[String].collect().toSet == Set("ZZZZ"))
    // both companies have != 8 issues
    assert(issuesResult.invalidCardinality.count() == 2)
    val s = issuesResult.summary.head
    assert(s.getLong(0) == 2 && s.getLong(1) == 3)
  }

  test("issues pipeline: nested output groups issues per company, sorted") {
    val nested = issuesResult.nested.collect()
    assert(nested.length == 2)
    val apple = nested.find(_.getString(0) == "c_apple").get
    val entries = apple.getSeq[org.apache.spark.sql.Row](1)
    assert(entries.map(_.getString(0)) == Seq("Board", "Climate"), "sorted by issue")
  }

  // ---- executives fixture: name variations + distinct people
  lazy val executives = Seq(
    ("John Smith", "CEO", "1 Main St", "Acme"),
    ("Smith, John", "Chief Executive Officer", "1 Main St", "Acme Corp"),
    ("John  Smith", "CEO", "1 Main Street", "Acme"),
    ("Jane Doe", "CTO", "2 Oak Ave", "Globex"),
    ("Doe, Jane", "CTO", "2 Oak Ave", "Globex"),
    ("Peter Lonely", "CFO", "9 Solo Rd", "Initech"))
    .toDF("executive_name", "job_title", "address_line", "company_name")

  lazy val execResult = ExecutiveDedupPipeline.run(spark, executives)

  test("executive pipeline: variations cluster together, distinct people apart") {
    val comp = execResult.clustered.collect()
      .map(r => r.getString(1) -> r.getLong(5)).toMap
    assert(comp("john smith") == comp("smith, john"))
    assert(comp("jane doe") == comp("doe, jane"))
    assert(comp("john smith") != comp("jane doe"))
    assert(comp("peter lonely") != comp("john smith"))
  }

  test("executive pipeline: high-band clusters auto-approve and consolidate") {
    val persons = execResult.persons.collect()
    assert(persons.nonEmpty, "at least one cluster should auto-approve as high")
    val smith = persons.find(_.getString(2).contains("smith"))
    assert(smith.isDefined, s"smith cluster should consolidate")
    val smithRow = smith.get
    assert(smithRow.getLong(smithRow.fieldIndex("grouped_from")) == 3)
    assert(smithRow.getSeq[String](smithRow.fieldIndex("all_variations")).length == 3)
  }

  test("executive pipeline: links fan out one row per (person, company)") {
    val links = execResult.links.collect()
    val smithLinks = links.filter(_.getString(1).contains("smith"))
    assert(smithLinks.map(_.getString(0)).toSet.size == smithLinks.length,
      "no duplicate company links per person")
  }

  test("singletons are never groups (P8)") {
    assert(execResult.bands.filter(col("n_members") <= 1).count() == 0)
  }

  // ---- sinks + review export
  test("kv sink writes one doc per key, skips null keys, verifies count") {
    val dir = java.nio.file.Files.createTempDirectory("kvsink").toString
    val df = Seq(("k1", 1.0), ("k2", 2.0), (null, 3.0)).toDF("company_id", "v")
    val report = KeyValueSink.write(df, "company_id", () => new FsKeyValueSink(dir))
    assert(report.written == 2 && report.skipped == 1 && report.verifiedCount == 2)
    // idempotent re-run (task-retry semantics)
    val again = KeyValueSink.write(df, "company_id", () => new FsKeyValueSink(dir))
    assert(again.verifiedCount == 2)
  }

  test("dry-run sink writes nothing (S9)") {
    val dir = java.nio.file.Files.createTempDirectory("kvdry").toString
    val df = Seq(("k1", 1.0)).toDF("company_id", "v")
    val report = KeyValueSink.write(df, "company_id", () => new FsKeyValueSink(dir), dryRun = true)
    assert(report.written == 0 && report.verifiedCount == 0)
  }

  test("review export writes sorted json-lines + metadata envelope") {
    val dir = java.nio.file.Files.createTempDirectory("review").toString + "/out"
    val n = ReviewExport.write(
      issuesResult.derived, dir, Seq("company_id", "issue_name"),
      Map("pipeline" -> "issues"))
    assert(n == 3)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    assert(files.nonEmpty)
    val meta = spark.read.json(s"$dir/_metadata").head
    assert(meta.getAs[Long]("total_records") == 3)
    assert(meta.getAs[String]("context") == """{"pipeline":"issues"}""")
    assert(meta.getAs[String]("exported_at")
      .matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"""))
  }

  // 4 partitions whose sort keys arrive in reverse order: partition 0
  // holds the largest k
  private def reversedFrame(rows: Long) =
    spark.range(0, rows, 1, 4)
      .select((lit(rows - 1) - col("id")).as("k"))
      .select((col("k") % 3).as("g"), col("k"), concat(lit("row-"), col("k")).as("label"))

  private def exportLines(dir: String): Seq[String] = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files.length == 1, s"one data file expected: ${files.map(_.getName).toSeq}")
    val src = scala.io.Source.fromFile(files.head, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("review export: one file, sort-key order, count == envelope == lines") {
    val dir = java.nio.file.Files.createTempDirectory("review").toString + "/out"
    val n = ReviewExport.write(reversedFrame(200), dir, Seq("g", "k"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper
    val keys = exportLines(dir).map(json.readTree).map(r =>
      (r.get("g").asLong, r.get("k").asLong))
    assert(keys == keys.sorted, "lines must be in (g, k) order")
    assert(keys.map(_._2).sorted == (0L until 200L))
    val meta = spark.read.json(s"$dir/_metadata").head
    assert(n == 200 && meta.getAs[Long]("total_records") == n && keys.size == n)
    assert(meta.getAs[String]("context") == "{}")
  }

  test("review export of an empty frame returns 0 and envelopes 0 records") {
    val dir = java.nio.file.Files.createTempDirectory("review").toString + "/out"
    // no input partition at all
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], reversedFrame(1).schema)
    assert(ReviewExport.write(empty, dir, Seq("g", "k")) == 0L)
    assert(spark.read.json(s"$dir/_metadata").head.getAs[Long]("total_records") == 0L)
  }

  test("review export is one Spark action: an exact job count") {
    val dir = java.nio.file.Files.createTempDirectory("review").toString + "/out"
    val frame = reversedFrame(40)
    val (n, jobs) = org.apache.spark.graft.JobCount.of(spark.sparkContext)(
      ReviewExport.write(frame, dir, Seq("g", "k"), Map("pass" -> "1")))
    assert(n == 40)
    // the single-partition shuffle's map stage + the write's result stage
    assert(jobs == 2, s"$jobs jobs")
  }

  test("sink keys that sanitize to the same name stay distinct files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kvcollide").toString
    val df = Seq(("a/b", 1.0), ("a_b", 2.0), ("a.b", 3.0)).toDF("key", "value")
    val report = graft.sources.KeyValueSink.write(
      df, "key", () => new graft.sources.FsKeyValueSink(dir))
    assert(report.written == 3)
    // "a/b" cleans to "a_b" (digest-suffixed), "a_b" and "a.b" are
    // already clean and keep their plain names
    assert(report.verifiedCount == 3,
      "colliding sanitized keys must not overwrite each other")
    val names = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        val b = Seq.newBuilder[String]
        st.forEach(p => b += p.getFileName.toString)
        b.result().sorted
      } finally st.close()
    }
    assert(names.contains("a_b.json") && names.contains("a.b.json"), names.toString)
    assert(names.exists(n => n.startsWith("a_b-") && n.endsWith(".json")),
      s"sanitized key needs a digest suffix: $names")
  }

  test("sql functions registered via GraftExtensions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT indel_ratio('kitten', 'sitting') AS a, token_sort_ratio('smith, john', 'john smith') AS b")
      .head
    assert(math.abs(r.getDouble(0) - 61.53846153846154) < 1e-9)
    assert(math.abs(r.getDouble(1) - 95.23809523809523) < 1e-9)
    val r2 = spark.sql(
      """SELECT char_shingles('abcdef', 5) AS sh,
        |       sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS s,
        |       sorted_intersect_count_int(array(1, 2, 3), array(2, 3, 4)) AS i,
        |       double_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d""".stripMargin)
      .head
    assert(r2.getSeq[String](0) == Seq("abcde", "bcdef"))
    assert(r2.getInt(1) == 2 && r2.getInt(2) == 2)
    assert(r2.getDouble(3) == 11.0)
    val r3 = spark.sql(
      // ids 1 and 65 pack into words 0 and 1; AND with {1, 2} leaves id 1
      """SELECT bitset_and_count(to_bitset(array(1, 65), 2), to_bitset(array(1, 2), 2)) AS c,
        |       sorted_intersect_count_long(array(1L, 9999999999L), array(9999999999L)) AS l""".stripMargin)
      .head
    assert(r3.getInt(0) == 1)
    assert(r3.getInt(1) == 1)
    // sketch readers: build sketches via the Column API, read them in SQL
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (1 to 100).map(_.toDouble).toDF("v")
      .agg(graft.functions.Kll.kllBuild(col("v"), k = 128).as("sk"), // k > n: exact
        graft.functions.CountMin.countMinBuild(col("v"), width = 64).as("cm"))
      .createOrReplaceTempView("sk_tbl")
    val r4 = spark.sql(
      """SELECT kll_sketch_quantiles(sk, array(0.5D)) AS q,
        |       cm_inner_product(cm, cm) AS ip FROM sk_tbl""".stripMargin).head
    assert(r4.getSeq[org.apache.spark.sql.Row](0).head.getDouble(1) == 50.0)
    assert(r4.getLong(1) >= 100L, "self inner product >= n distinct-ish mass")
    // undecorated decimal literals (the shape users actually type) must
    // work too: 0.25 parses as DecimalType, not Double
    val r5 = spark.sql(
      "SELECT kll_sketch_quantiles(sk, array(0.25, 0.75)) AS q FROM sk_tbl").head
    val qs = r5.getSeq[org.apache.spark.sql.Row](0).map(_.getDouble(1))
    assert(qs == Seq(25.0, 75.0), qs.toString)
    // minhash_sig: SQL surface == Column API (engine-default coefficients)
    val r6 = spark.sql("SELECT minhash_sig(array(7, 11, 42), 8) AS mh").head
    val viaCol = Seq(Seq(7, 11, 42)).toDF("e")
      .select(graft.operators.Dedup.minhashSignature(col("e"), numHashes = 8).as("mh"))
      .head
    assert(r6.getSeq[Long](0) == viaCol.getSeq[Long](0))
  }

  test("corpus curation end-to-end: additive funnel, disjoint verdicts, stable manifest") {
    import org.apache.spark.sql.functions._
    val d = graft.core.Tables(spark, sfDir).documents
    val corpus = d.filter(col("doc_id") >= 10).select(col("doc_id").as("id"), col("text"))
    val bench = d.filter(col("doc_id") < 10).select(col("doc_id").as("id"), col("text"))
    val r = graft.pipeline.CorpusCuration.run(spark, corpus, bench)
    val nIn = corpus.count()
    val nKept = r.kept.count()
    val nDropped = r.dropped.count()
    // every input doc gets exactly one verdict: kept, or dropped by ONE stage
    assert(nIn == nKept + nDropped, s"in=$nIn kept=$nKept dropped=$nDropped")
    assert(nKept > 0 && nDropped > 0, s"degenerate fixture: kept=$nKept dropped=$nDropped")
    assert(r.kept.select("id").intersect(r.dropped.select("id")).count() == 0)
    val stages = r.dropped.select("stage").distinct()
      .collect().map(_.getString(0)).toSet
    assert(stages.subsetOf(Set("quality", "dedup", "decontamination")), stages.toString)
    // funnel rows reproduce the same accounting
    val funnel = r.funnel.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(funnel("kept") == nKept && funnel.values.sum == nIn, funnel.toString)
    // offsets are the prefix sum of kept weights: last doc's off + wt ==
    // total tokens, and the manifest's token total agrees
    val totTok = r.kept.agg(sum(col("n_subwords"))).head.getLong(0)
    val lastEnd = r.kept.orderBy(col("off").desc).limit(1)
      .select(col("off") + col("n_subwords")).head.getLong(0)
    assert(lastEnd == totTok, s"lastEnd=$lastEnd totTok=$totTok")
    val manTok = r.manifest.agg(sum(col("n_tokens"))).head.getLong(0)
    assert(manTok == totTok, s"manifest tokens=$manTok kept tokens=$totTok")
    // deterministic: a second run produces byte-identical shard digests
    val r2 = graft.pipeline.CorpusCuration.run(spark, corpus, bench)
    assert(r.manifest.exceptAll(r2.manifest).isEmpty
      && r2.manifest.exceptAll(r.manifest).isEmpty)
  }

  test("corpus curation per-source cap bounds every domain and stays additive") {
    import org.apache.spark.sql.functions._
    val d = graft.core.Tables(spark, sfDir).documents
    val corpus = d.filter(col("doc_id") >= 10)
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val bench = d.filter(col("doc_id") < 10).select(col("doc_id").as("id"), col("text"))
    val cap = 3
    val r = graft.pipeline.CorpusCuration.run(spark, corpus, bench,
      maxPerSource = Some(cap))
    // additive funnel still holds with the extra stage
    assert(corpus.count() == r.kept.count() + r.dropped.count())
    val stages = r.dropped.select("stage").distinct()
      .collect().map(_.getString(0)).toSet
    assert(stages.contains("source_cap"), stages.toString)
    // no source exceeds the cap among kept docs
    val over = r.kept.join(corpus.select("id", "source"), "id")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .filter(col("n") > cap).collect()
    assert(over.isEmpty, over.mkString(", "))
    // capped run keeps a subset of the uncapped run's documents
    val uncapped = graft.pipeline.CorpusCuration.run(spark, corpus.drop("source"), bench)
    assert(r.kept.select("id").exceptAll(uncapped.kept.select("id")).isEmpty)
  }
}

package etlbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.pipeline.{ExecutiveDedupPipeline, IssuesPipeline}
import graft.sources.{FsKeyValueSink, KeyValueSink, ReviewExport}

/** The paper's own traffic: the issues pipeline and the executive
  * entity-resolution pipeline over generated company data, both written
  * through the review export and the key-value sink.
  *
  * Issues carry synonym column names, junk numerics, superseded
  * duplicate rows, invalid rows and tickers with no company mapping.
  * Executives carry planted name-order variants, people listed at two
  * companies, and borderline one-letter variants.
  */
final class ReferenceEtl extends Workload {
  val name = "reference_etl"
  val warmup = 1
  val timed = 2

  val companies = 200
  val execsPerCompany = 4
  val blocks = 8
  val unmappedCompanies = 25
  val issueNames = Seq("board diversity", "climate disclosure", "executive pay",
    "lobbying", "political spending", "proxy access", "share buybacks", "water risk")

  private var spark: SparkSession = _
  private var dir: String = _
  // expected results, from the generator
  private var expectedNested: Map[String, Seq[(String, Double, Double, Double, Double, String)]] = _
  private var unmappedTickers: Set[String] = _
  private var plantedGroups: Seq[Seq[(String, String, String, String)]] = _
  private var candidatePairs: Long = 0L
  private var scoredPairs: Long = 0L
  private var issuesSchema, execSchema: StructType = _
  private var last: (IssuesPipeline.Result, ExecutiveDedupPipeline.Result,
    KeyValueSink.SinkReport, KeyValueSink.SinkReport) = _

  private def str(fields: String*) = StructType(fields.map(StructField(_, StringType)))

  def generate(spark: SparkSession, dir: String, seed: Long, passes: Int): String = {
    this.spark = spark; this.dir = dir; scoredPairs = 0L
    val r = Gen.rng(seed, 1L)
    val digest = new Gen.Digest
    def pick[T](xs: Seq[T]) = xs(r.nextInt(xs.size))
    val cols = Seq(pick(Seq("ticker", "company_ticker", "symbol")),
      pick(Seq("issue_name", "issue")),
      pick(Seq("against", "against_amount", "against_value")),
      pick(Seq("neutral", "neutral_amount", "neutral_value")),
      pick(Seq("pro", "pro_value", "for_amount")))
    digest.add(cols: _*)

    // companies: unique 4-letter tickers; unmapped ones get digit tickers
    val tickers = r.ints(0, 26 * 26 * 26 * 26).distinct().limit(companies.toLong)
      .toArray.toSeq.map { n =>
        (0 until 4).map(k => ('A' + (n / math.pow(26, k).toInt) % 26).toChar).mkString
      }
    val mapped = tickers.zipWithIndex.map { case (t, i) => (f"C$i%05d", t) }
    val unmapped = (0 until unmappedCompanies).map(i => f"X${r.nextInt(1000)}%03d$i")
    unmappedTickers = unmapped.toSet

    def amount(): (String, Double) = r.nextInt(20) match {
      case 0 => (Seq("N/A", "", "--", "n.a.")(r.nextInt(4)), 0.0) // junk coerces to 0
      case 1 => val v = r.nextInt(2000) / 10.0; (v.toString, v)
      case _ => val v = r.nextInt(200); (v.toString, v.toDouble)
    }
    def cell(t: String) = r.nextInt(8) match {
      case 0 => t.toLowerCase
      case 1 => s"  $t "
      case _ => t
    }
    val nested = mutable.LinkedHashMap.empty[String, Seq[(String, Double, Double, Double, Double, String)]]
    val issueRows = mutable.ArrayBuffer.empty[Seq[Seq[String]]] // grouped by company
    def emit(row: String*): Unit = { issueRows(issueRows.size - 1) :+= row; digest.add(row: _*) }
    (mapped.map { case (c, t) => (Some(c), t) } ++ unmapped.map(t => (None, t))).foreach {
      case (company, t) =>
        issueRows += Nil
        val entries = issueNames.map { issue =>
          val cellIssue = if (r.nextInt(10) == 0) s" $issue " else issue
          if (r.nextInt(8) == 0) // superseded earlier row for the same key
            emit(cell(t), cellIssue, amount()._1, amount()._1, amount()._1)
          val (a, n, p) = (amount(), amount(), amount())
          emit(cell(t), cellIssue, a._1, n._1, p._1)
          val total = a._2 + n._2 + p._2
          val position =
            if (total <= 0) "NEUTRAL"
            else if (a._2 >= n._2 && a._2 >= p._2) "AGAINST"
            else if (p._2 >= n._2 && p._2 >= a._2) "PRO"
            else "NEUTRAL"
          (issue, a._2, n._2, p._2, total, position)
        }
        company.foreach(c => nested(c) = entries)
        if (r.nextInt(40) == 0) // invalid rows the validity filters drop
          emit(pick(Seq("", "nan", "NaN")), issueNames.head, "1", "2", "3")
    }
    expectedNested = nested.toMap

    // executives: random people, plus planted duplicate groups. Name
    // lengths, block initials and variant kinds go by index, so every seed
    // gives the blocked self-join the same block sizes, hence the same work
    def letters(first: Char, n: Int) =
      (first +: Seq.fill(n - 1)(('a' + r.nextInt(26)).toChar)).mkString
    val titles = Seq("chief executive officer", "chief financial officer", "general counsel",
      "chief operating officer", "director", "vice president of sales", "treasurer")
    val names = mapped.map { case (c, _) => c -> s"${letters('a', 6).capitalize} Inc" }.toMap
    val execCols = Seq(pick(Seq("name", "executive_name", "full_name")),
      pick(Seq("title", "job_title", "position")),
      pick(Seq("address", "mailing_address", "location")),
      pick(Seq("company", "company_name", "employer")))
    digest.add(execCols: _*)
    val execRows = mutable.ArrayBuffer.empty[Seq[String]]
    val groups = mutable.ArrayBuffer.empty[Seq[(String, String, String, String)]]
    for ((c, ci) <- mapped.map(_._1).zipWithIndex; j <- 0 until execsPerCompany) {
      val k = ci * execsPerCompany + j
      val company = names(c)
      val block = k % blocks
      val n = s"${letters(('a' + block).toChar, 5).capitalize} " + // sorts first: keys the block
        letters(('a' + block + r.nextInt(26 - block)).toChar, 7).capitalize
      val t = titles(k % titles.size)
      val a = s"${1000 + r.nextInt(9000)} ${letters('a', 6).drop(1)} st, ${letters('a', 6).drop(1)}"
      execRows += Seq(n, t, a, company)
      k % 12 match {
        case 0 => // name-order variant: same person, "Last First"
          val v = n.split(" ").reverse.mkString(" ")
          execRows += Seq(v, t, a, company); groups += Seq((n, t, a, company), (v, t, a, company))
        case 1 => // the same person listed at a second company
          val other = names(mapped((ci + 1 + r.nextInt(mapped.size - 1)) % mapped.size)._1)
          execRows += Seq(n, t, a, other); groups += Seq((n, t, a, company), (n, t, a, other))
        case 2 => // borderline: one letter of the last name off, another title
          val i = 7 + r.nextInt(6)
          execRows += Seq(n.updated(i, if (n(i) == 'q') 'z' else 'q'),
            titles((k + 1) % titles.size), a, company)
        case _ =>
      }
    }
    execRows.foreach(row => digest.add(row: _*))
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    plantedGroups = groups.map(_.map { case (n, t, a, c) => (norm(n), norm(t), norm(a), norm(c)) }).toSeq

    val in = s"$dir/in"
    Gen.writeCsv(s"$in/issues", cols, issueRows.toSeq, 4)
    Gen.writeCsv(s"$in/tickers", Seq("ticker", "company_id"),
      Seq(mapped.map { case (c, t) => Seq(t, c) }), 1)
    Gen.writeCsv(s"$in/executives", execCols, execRows.toSeq.grouped(1).toSeq, 4)
    issuesSchema = str(cols: _*); execSchema = str(execCols: _*)

    // candidate pairs the blocked self-join scores: Σ over blocks of C(n, 2),
    // blocks keyed as ExecutiveDedupPipeline.defaultBlock keys them
    candidatePairs = execRows.map(row => norm(row.head)).filter(_.nonEmpty)
      .groupBy(n => (n.split(" ").filter(_.nonEmpty).sorted.head.head, n.length / 8))
      .values.map(b => b.size.toLong * (b.size - 1) / 2).sum
    digest.hex
  }

  private def out(i: Int) = s"$dir/out/pass-$i"
  private def csv(schema: StructType, path: String) =
    spark.read.schema(schema).option("header", "true").csv(path)

  def pass(i: Int, span: Spans): PassOut = {
    val in = s"$dir/in"
    val o = out(i)
    var commit = 0.0
    def write[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try span(name)(f) finally commit += (System.nanoTime() - t0) / 1e6
    }
    val issues = span("pipeline.IssuesPipeline.run")(IssuesPipeline.run(
      csv(issuesSchema, s"$in/issues"), csv(str("ticker", "company_id"), s"$in/tickers")))
    write("sources.ReviewExport.write")(ReviewExport.write(issues.derived,
      s"$o/issues_review", Seq("company_id", "issue_name"), Map("pass" -> i.toString)))
    val issuesKv = write("sources.KeyValueSink.write")(KeyValueSink.write(issues.nested,
      "company_id", () => new FsKeyValueSink(s"$o/issues_kv")))
    val execs = span("pipeline.ExecutiveDedupPipeline.run")(
      ExecutiveDedupPipeline.run(spark, csv(execSchema, s"$in/executives")))
    write("sources.ReviewExport.write")(ReviewExport.write(execs.reviewQueue,
      s"$o/exec_review", Seq("component"), Map("pass" -> i.toString)))
    val personsKv = write("sources.KeyValueSink.write")(KeyValueSink.write(execs.persons,
      "person_key", () => new FsKeyValueSink(s"$o/persons_kv")))
    last = (issues, execs, issuesKv, personsKv)
    PassOut(commit)
  }

  def check(i: Int): Seq[String] = {
    val (issues, execs, issuesKv, personsKv) = last
    val failures = mutable.ArrayBuffer.empty[String]
    // the documents the sink wrote, one file per company
    val json = new com.fasterxml.jackson.databind.ObjectMapper
    val docs = new java.io.File(s"${out(i)}/issues_kv").listFiles().map { f =>
      f.getName.stripSuffix(".json") -> {
        val es = json.readTree(f).get("entries")
        (0 until es.size).map(es.get).map(e => (e.get("issue_name").asText, e.get("against").asDouble,
          e.get("neutral").asDouble, e.get("pro").asDouble, e.get("total").asDouble,
          e.get("position").asText))
      }
    }.toMap
    if (docs != expectedNested)
      failures += s"sink documents differ from the generated companies " +
        s"(${docs.size} vs ${expectedNested.size} companies)"
    val unmapped = issues.unmappedTickers.collect().map(_.getString(0)).toSet
    if (unmapped != unmappedTickers)
      failures += s"unmapped tickers ${unmapped.size} != planted ${unmappedTickers.size}"
    if (issuesKv.written != expectedNested.size || issuesKv.verifiedCount != expectedNested.size)
      failures += s"issues sink wrote ${issuesKv.written}, verified ${issuesKv.verifiedCount}"
    if (personsKv.written == 0L) failures += "persons sink wrote nothing"
    val component = execs.clustered.collect().map { row =>
      (row.getString(1), row.getString(2), row.getString(3), row.getString(4)) -> row.getLong(5)
    }.toMap
    if (scoredPairs == 0L) // the same for every pass over the same inputs
      scoredPairs = execs.bands.agg(sum(col("n_edges"))).head().getLong(0)
    val split = plantedGroups.count(g => g.map(component.get).distinct.size != 1)
    if (split > 0) failures += s"$split planted duplicate groups not in one cluster"
    failures.toSeq
  }

  def cleanup(i: Int): Unit = {
    Workload.deleteTree(new java.io.File(out(i)))
    Workload.release(spark)
  }

  /** Pairs at or above the threshold over the candidate pairs scored. */
  override def ratios(counters: Map[String, Double]): Map[String, Double] =
    Map("operators.SimilarityJoin.pair_yield" -> scoredPairs.toDouble / math.max(candidatePairs, 1L))
}

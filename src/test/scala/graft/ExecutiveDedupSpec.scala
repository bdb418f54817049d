package graft

import org.apache.spark.graft.{Actions, JobCount}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.BroadcastGate
import graft.operators.SimilarityJoin
import graft.pipeline.ExecutiveDedupPipeline
import graft.pipeline.ExecutiveDedupPipeline.Result

/** The executive pipeline's two tiers build the same outputs: the driver
  * tier (one collect, the bag bound, union-find) and the distributed one
  * (range-sorted ids, the blocked self-join, checkpointed), row for row
  * and bit for bit in every double.
  */
class ExecutiveDedupSpec extends SparkSpec {

  private val Cols = Seq("executive_name", "job_title", "mailing_address", "company_name")

  private def frame(rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 3),
      StructType(Cols.map(StructField(_, StringType))))

  /** Random executives: planted near-duplicates (token reorders,
    * one-letter edits, extra whitespace), identical rows, blank,
    * whitespace-only and null fields, and names with astral and high-BMP
    * code points (UTF-8 binary order and UTF-16 order disagree on them).
    */
  private def executives(r: scala.util.Random, people: Int): Seq[Seq[String]] = {
    def word(n: Int) = Seq.fill(n)(('a' + r.nextInt(6)).toChar).mkString
    val exotic = Seq("𝔘", "😀", "Ａ", "", "é")
    val blank = Seq("", " ", "   ", "\t", null)
    val titles = Seq("ceo", "cfo", "chief executive officer", "director", "treasurer")
    (0 until people).flatMap { _ =>
      val first = (if (r.nextInt(8) == 0) exotic(r.nextInt(exotic.size)) else "") + word(3 + r.nextInt(3))
      val name = s"${first.capitalize} ${word(4 + r.nextInt(4))}"
      def field(v: => String) = if (r.nextInt(6) == 0) blank(r.nextInt(blank.size)) else v
      val row = Seq(name, field(titles(r.nextInt(titles.size))),
        field(s"${r.nextInt(90) + 10} ${word(5)} st"), field(s"${word(4)} inc"))
      val variants = r.nextInt(6) match {
        case 0 => Seq(row.updated(0, name.split(" ").reverse.mkString(" ")))
        case 1 => Seq(row.updated(0, name.updated(name.length - 1, 'z')), row.updated(0, s" $name  "))
        case 2 => Seq(row, row) // identical rows: their ids tie
        case 3 => Seq(row.updated(1, field(titles(r.nextInt(titles.size)))).updated(3, "  "))
        case _ => Nil
      }
      row +: variants
    }
  }

  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case other => other
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(r => r.toSeq.map(canon)).sortBy(_.toString).toSeq

  private def outputs(r: Result) =
    Seq("clustered" -> r.clustered, "bands" -> r.bands, "persons" -> r.persons,
      "links" -> r.links, "reviewQueue" -> r.reviewQueue)

  /** Both tiers on one input; asserts equal schemas and rows in all five
    * outputs and returns the distributed tier's result. */
  private def tiersAgree(execs: DataFrame, threshold: Double = 75.0, highBand: Double = 85.0,
      approved: Set[Long] = Set.empty,
      blockKey: Column = ExecutiveDedupPipeline.defaultBlock): Result = {
    val normalized = ExecutiveDedupPipeline.normalize(execs)
    val input = ExecutiveDedupPipeline.localInput(normalized, blockKey)
    assert(input.isDefined, "the driver tier must accept this input")
    val local = ExecutiveDedupPipeline.consolidate(
      ExecutiveDedupPipeline.localGraph(spark, input.get, threshold)
        .getOrElse(fail("within the pair budget")), threshold, highBand, approved)
    val dist = ExecutiveDedupPipeline.consolidate(
      ExecutiveDedupPipeline.distributedGraph(spark, normalized, threshold, blockKey),
      threshold, highBand, approved)
    outputs(local).zip(outputs(dist)).foreach { case ((name, l), (_, d)) =>
      assert(l.schema == d.schema, name)
      assert(rows(l) == rows(d), s"$name differs between the tiers")
    }
    dist
  }

  test("the driver tier builds the distributed tier's five outputs on random executives") {
    for (seed <- Seq(3L, 4L)) {
      val execs = frame(executives(new scala.util.Random(seed), 150))
      val dist = tiersAgree(execs)
      val bands = dist.bands.collect()
      assert(bands.exists(_.getAs[Long]("n_edges") >= 3), "no cluster sums 3+ edge scores")
      assert(dist.reviewQueue.count() > 0 && dist.persons.count() > 0)
      // a lower threshold and band, and approved 'uncertain' clusters
      val low = tiersAgree(execs, threshold = 60.0, highBand = 80.0)
      val uncertain = low.reviewQueue.collect().map(_.getAs[Long]("component"))
      assert(uncertain.nonEmpty)
      val approved = uncertain.take(uncertain.length / 2 + 1).toSet
      val withApproved = tiersAgree(execs, threshold = 60.0, highBand = 80.0, approved = approved)
      assert(withApproved.persons.count() > low.persons.count(), "approval must add persons")
    }
  }

  test("both tiers: absent fields renormalize, all absent scores 0.0, null blocks pair nothing") {
    val execs = frame(Seq(
      Seq("ann lee", "ceo", "1 main st", "acme"),
      Seq("lee ann", " ", null, "acme"),      // title and address absent
      Seq("ann lee", "\t", "", ""),           // a tab title normalizes to " ": absent
      Seq("bo ray", null, null, null),
      Seq("bo ray", "", "  ", ""),            // identical after normalization
      Seq("zed ox", "cfo", "2 oak", "globex"),
      Seq("zed ox", "cfo", "2 oak", "globex"))) // null block below: never paired
    val blockKey = when(col("name").startsWith("z"), lit(null).cast("string"))
      .otherwise(ExecutiveDedupPipeline.defaultBlock)
    val dist = tiersAgree(execs, threshold = 0.0, blockKey = blockKey)
    val comp = dist.clustered.collect().map(r => r.getString(1) -> r.getLong(5))
    assert(comp.filter(_._1 == "zed ox").map(_._2).distinct.length == 2,
      "rows in a null block must stay apart")
    // "bo ray" with every other field absent: name alone scores 100
    val boRay = comp.filter(_._1 == "bo ray").map(_._2).distinct
    assert(boRay.length == 1)
    // a pair with no field present on both sides scores 0.0, still >= 0.0
    val blanks = frame(Seq(Seq("\t", "", "", ""), Seq("\t\n", " ", null, "")))
    val edges = ExecutiveDedupPipeline.localGraph(spark,
      ExecutiveDedupPipeline.localInput(ExecutiveDedupPipeline.normalize(blanks),
        lit("one")).get, 0.0).get.edges.collect()
    assert(edges.map(_.getDouble(2)).toSeq == Seq(0.0))
    tiersAgree(blanks, threshold = 0.0, blockKey = lit("one"))
  }

  test("both tiers drop a block over SimilarityJoin.MaxBlockSize") {
    val big = SimilarityJoin.MaxBlockSize + 1
    val execs = spark.range(big).select(
      concat(lit("big "), col("id").cast("string")).as("executive_name"),
      lit("ceo").as("job_title"), lit("1 main st").as("mailing_address"),
      lit("acme").as("company_name"))
      .union(frame(executives(new scala.util.Random(5L), 40)))
    val blockKey = when(col("name").startsWith("big "), lit("big"))
      .otherwise(ExecutiveDedupPipeline.defaultBlock)
    val dist = tiersAgree(execs, blockKey = blockKey)
    assert(dist.bands.count() > 0, "the small blocks still pair")
    assert(dist.persons.filter(col("name").startsWith("big ")).count() == 0)
  }

  test("the pair budget: at it the driver tier answers, past it the distributed tier does") {
    val budget = BroadcastGate.MaxLocalPairs
    val n = Iterator.from(2).find(k => k.toLong * (k - 1) / 2 > budget).get.toLong
    def names(rows: Long) = spark.range(rows).select(
      concat(lit("n"), col("id").cast("string")).as("executive_name"),
      lit("").as("job_title"), lit("").as("mailing_address"), lit("").as("company_name"))
    def local(rows: Long) = ExecutiveDedupPipeline.localGraph(spark,
      ExecutiveDedupPipeline.localInput(ExecutiveDedupPipeline.normalize(names(rows)), lit("one")).get,
      threshold = 101.0) // no pair can reach it
    assert(local(n - 1).isDefined, s"${(n - 1) * (n - 2) / 2} pairs are within the budget")
    val (declined, jobs) = JobCount.of(spark.sparkContext)(local(n))
    assert(declined.isEmpty && jobs == 1, "one collect, then the decline")
    val r = ExecutiveDedupPipeline.run(spark, names(n), threshold = 101.0, blockKey = lit("one"))
    assert(r.clustered.count() == n && r.bands.count() == 0)
  }

  test("below the gate the pipeline is one Spark action") {
    val dir = java.nio.file.Files.createTempDirectory("execs").toString + "/in"
    frame(executives(new scala.util.Random(6L), 100)).write.parquet(dir)
    val execs = spark.read.parquet(dir)
    val (result, jobs) = JobCount.of(spark.sparkContext)(ExecutiveDedupPipeline.run(spark, execs))
    assert(jobs == 1, s"$jobs jobs")
    // ... and builds what the distributed tier builds
    val dist = tiersAgree(execs)
    outputs(result).zip(outputs(dist)).foreach { case ((name, l), (_, d)) =>
      assert(rows(l) == rows(d), name)
    }
  }

  test("above the gate the distributed tier keeps its checkpoints and self-join") {
    // an RDD-backed frame has no size statistics: it estimates as unbounded
    val execs = frame(executives(new scala.util.Random(7L), 60))
    val (_, actions) = Actions.of(spark)(ExecutiveDedupPipeline.run(spark, execs))
    val checkpoints = actions.filter(_._1 == "localCheckpoint").map(_._2)
    assert(checkpoints.length >= 2, actions.map(_._1).toString) // ids, edges
    val selfJoin = checkpoints.exists(qe => qe.optimizedPlan.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.exists(_.references.map(_.name).toSet.contains("__block_l"))
      case _ => false
    })
    assert(selfJoin, "the edges checkpoint must hold the blocked self-join")
  }
}

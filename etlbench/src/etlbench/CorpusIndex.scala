package etlbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.{Maintenance, RetrievalIndex, Snapshot}
import graft.streaming.RetrievalStream

/** A maintained retrieval index under ingest, with a replica. Each pass
  * is one epoch: fold a new batch in, delete the batch folded `window`
  * epochs earlier (so the live set and the per-epoch cost stay
  * stationary), run the maintenance sweep (compact when the policy says
  * so, which is every second epoch, and tick the backup), let the replica
  * follow the backup lineage, and serve one set of top-k queries on the
  * primary and on the replica.
  *
  * The first pass is the index's cold start: the fold builds the index,
  * the sweep takes the first full backup and the replica seeds from it.
  */
final class CorpusIndex extends Workload {
  val name = "corpus_index"
  val warmup = 0
  val timed = 2 // one whole compaction period

  val batchDocs = 150
  val window = 1
  val vocabulary = 1200
  val queriesPerServe = 3
  val buckets = 4 // index files per table: sized to a 150-document live set
  val policy = Maintenance.CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0)

  private val table = "ci_primary"
  private val replica = "ci_replica"
  private var spark: SparkSession = _
  private var dir: String = _
  private var docs: Map[Int, Seq[(Long, String)]] = _
  private var queries: Map[Int, Seq[(Int, Seq[String])]] = _
  private var stamp = 0L
  private var served: Seq[(String, Seq[(Int, Seq[String])], Set[(Int, Long, Long, Int)])] = Nil
  private var sweeps = 0
  private var compactions = 0

  def generate(spark: SparkSession, dir: String, seed: Long, passes: Int): String = {
    this.spark = spark; this.dir = dir
    val r = Gen.rng(seed, 2L)
    val digest = new Gen.Digest
    val vocab = Gen.distinctWords(r, vocabulary)
    // Zipf-like term frequencies: rank k drawn with weight 1/(k+1)
    val cdf = vocab.indices.map(k => 1.0 / (k + 1)).scanLeft(0.0)(_ + _).tail
    def term() = {
      val u = r.nextDouble() * cdf.last
      vocab(math.min(java.util.Arrays.binarySearch(cdf.toArray, u) match {
        case k if k >= 0 => k
        case k => -k - 1
      }, vocab.size - 1))
    }
    docs = (0 until passes).map { e =>
      e -> (0 until batchDocs).map { j =>
        val id = e.toLong * batchDocs + j + 1
        val text = Seq.fill(20 + r.nextInt(30))(term()).mkString(" ")
        digest.add(e, id, text)
        (id, text)
      }
    }.toMap
    // queries mix frequent and rare terms
    queries = (0 until passes).map { e =>
      e -> (0 until queriesPerServe).map { q =>
        val ts = Seq(vocab(r.nextInt(40)), vocab(40 + r.nextInt(vocabulary - 40)))
        digest.add(e, q, ts.mkString(" "))
        (q, ts)
      }
    }.toMap
    docs.foreach { case (e, ds) =>
      Gen.writeCsv(s"$dir/in/docs/epoch=$e", Seq("doc_id", "text"),
        Seq(ds.map { case (id, t) => Seq(id, t) }), 1)
    }
    digest.hex
  }

  private def batch(e: Int) =
    spark.read.schema("doc_id long, text string").option("header", "true")
      .csv(s"$dir/in/docs/epoch=$e")

  def pass(e: Int, span: Spans): PassOut = {
    val path = s"$dir/index/$table"
    val t0 = System.nanoTime()
    span("streaming.RetrievalStream.foldEpoch")(
      RetrievalStream.foldEpoch(batch(e), stamp, table, path, buckets))
    stamp += 1
    if (e >= window) {
      span("operators.RetrievalIndex.deleteDocs")(RetrievalIndex.deleteDocs(spark,
        batch(e - window).select("doc_id"), table, path, stamp + 1))
      stamp += 1
    }
    val t1 = System.nanoTime()
    // a backup every tick, so the replica can apply every epoch; shallow
    // (count) audits, so an epoch stays within the run's time budget
    val backup = Snapshot.BackupPolicy(s"$dir/backup", everyBatches = 1L, deep = false)
    val report = span("operators.Maintenance.sweep")(Maintenance.sweep(spark,
      Seq(Maintenance.Family(table, "retrieval", path, nBuckets = buckets, backup = Some(backup))),
      policy)
      .collect())
    sweeps += 1
    if (report.exists(_.getAs[Boolean]("compacted"))) compactions += 1
    span("operators.Snapshot.followLineage")(Snapshot.followLineage(spark,
      s"${backup.root}/$table", replica, s"$dir/index/$replica", "retrieval", reseed = true))
    val t2 = System.nanoTime()
    val serveMs = mutable.ArrayBuffer.empty[Double]
    val qs = queries(e)
    served = for (side <- Seq(table, replica)) yield {
      val s0 = System.nanoTime()
      val rows = span("operators.RetrievalIndex.topK")(
        RetrievalIndex.topK(spark, side, qs, k = 10).collect())
      serveMs += (System.nanoTime() - s0) / 1e6
      (side, qs, rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet)
    }
    PassOut((t1 - t0) / 1e6, Map(
      "replica_lag_ms" -> Seq((t2 - t1) / 1e6),
      "serve_ms" -> serveMs.toSeq))
  }

  /** From-scratch top-k over the live set, with the index's scoring: the
    * BM25-shaped rational idf as a scaled integer, ranked by (score desc,
    * doc_id asc).
    */
  private def reference(e: Int, qs: Seq[(Int, Seq[String])]): Set[(Int, Long, Long, Int)] = {
    val live = (math.max(0, e - window + 1) to e).flatMap(docs)
    val tf = live.map { case (id, text) =>
      id -> text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).groupBy(identity).view.mapValues(_.length.toLong).toMap
    }
    val n = live.size.toLong
    val terms = qs.flatMap(_._2).distinct
    val idf = terms.map { t =>
      val df = tf.count(_._2.contains(t)).toLong
      t -> ((2 * (n - df) + 1) * 1000000L) / (2 * df + 1)
    }.toMap
    qs.flatMap { case (qid, ts) =>
      tf.flatMap { case (id, f) =>
        val hit = ts.filter(f.contains)
        if (hit.isEmpty) None else Some((id, hit.map(t => f(t) * idf(t)).sum))
      }.sortBy { case (id, s) => (-s, id) }.take(10).zipWithIndex
        .map { case ((id, s), k) => (qid, id, s, k + 1) }
    }.toSet
  }

  def check(e: Int): Seq[String] =
    served.flatMap { case (side, qs, got) =>
      val want = reference(e, qs)
      if (got == want) None
      else Some(s"epoch $e: topK on $side differs from the from-scratch top-k " +
        s"(${(got diff want).size} extra, ${(want diff got).size} missing)")
    }

  def cleanup(e: Int): Unit = Workload.release(spark)

  override def ratios(counters: Map[String, Double]): Map[String, Double] = {
    val written = Seq("streaming.RetrievalStream.foldEpoch", "operators.RetrievalIndex.deleteDocs",
      "operators.Maintenance.sweep").map(s => counters.getOrElse(s"$s.output_bytes", 0.0)).sum
    val input = counters.getOrElse("streaming.RetrievalStream.foldEpoch.input_bytes", 0.0)
    Map("operators.Maintenance.sweep.compact_share" -> compactions.toDouble / math.max(sweeps, 1),
      "index.write_amp" -> written / math.max(input, 1.0))
  }
}

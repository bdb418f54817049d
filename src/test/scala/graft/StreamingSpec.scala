package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("hourly windowed aggregation with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.hourlyCounts(in.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(5), "click", 1.0), Event(1, ts(20), "click", 2.0),
        Event(2, ts(65), "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close both windows
      in.addData(Event(9, ts(600), "late", 0.0))
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
      val h0 = rows.find(r => r.getString(1) == "click").get
      assert(h0.getLong(2) == 2 && h0.getDouble(3) == 3.0)
      assert(rows.exists(r => r.getString(1) == "view" && r.getLong(2) == 1))
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch lookup join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val events = Seq(
      Event(1, ts(1), "click", 1.0), Event(2, ts(2), "view", 2.0),
      Event(3, ts(3), "click", 3.0)) // user 3 has no dim row -> null tier
    val in = MemoryStream[Event]
    val q = EventStreams.enrich(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      val got = spark.table("enriched")
        .select("user_id", "tier").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      val batch = EventStreams.enrich(events.toDF(), dim, "user_id")
        .select("user_id", "tier").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(got == batch)
      assert(got == Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
    } finally q.stop()
  }

  test("streaming heavy hitters: sketch state merges across micro-batches to exact counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = EventStreams.topTokensStream(in.toDF().toDF("token"), "token", k = 3,
        capacity = 64)
      .writeStream.format("memory").queryName("toptok").outputMode("complete").start()
    try {
      // two micro-batches: the second batch's partial sketch must MERGE
      // into the first's state, not replace it
      in.addData(Seq.fill(5)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma"): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(4)("beta") ++ Seq.fill(2)("delta") ++ Seq("alpha"): _*)
      q.processAllAvailable()
      val got = spark.table("toptok").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // capacity 64 > 4 distinct tokens → the sketch is exact
      assert(got == Map("beta" -> 7L, "alpha" -> 6L, "delta" -> 2L))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap and on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionize(in.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then a 40-min gap →
      // second session; user 2: single event
      in.addData(
        Event(1, ts(0), "a", 1.0), Event(1, ts(10), "a", 2.0),
        Event(1, ts(50), "a", 3.0), Event(2, ts(0), "b", 4.0))
      q.processAllAvailable()
      // push watermark forward so the open sessions time out
      in.addData(Event(9, ts(400), "z", 0.0))
      q.processAllAvailable()
      in.addData(Event(9, ts(800), "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("user_id", "n_events", "sum_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((1L, 2L, 3.0)), s"first session of user 1 in $rows")
      assert(rows.contains((1L, 1L, 3.0)), s"second session of user 1 in $rows")
      assert(rows.contains((2L, 1L, 4.0)), s"user 2 session in $rows")
    } finally q.stop()
  }

  test("file-source streaming: events parquet drives the hourly aggregation") {
    // the real-file streaming path (not MemoryStream): read the fixture as
    // a stream with AvailableNow and compare totals to the batch twin
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchDf = graft.core.Tables(spark, sfDir).events
    // the file stream source wants a directory; stage the fixture into one
    val streamDir = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val fixtureSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val raw = spark.readStream
      .schema(fixtureSchema)
      .parquet(streamDir.toString)
    // mirror Tables.events' dtype branch: a raw-nanos long fixture is
    // normalized ns→µs; a native TIMESTAMP(MICROS) fixture (read as NTZ)
    // is cast to TimestampType — watermarks reject TIMESTAMP_NTZ
    val stream = fixtureSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("file_hourly").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode only emits watermark-closed windows; all but the last
    // watermark-straddling windows of the fixture must match batch counts
    val streamed = spark.table("file_hourly")
      .agg(sum("n_events")).head.getLong(0)
    val total = batchDf.count()
    assert(streamed > 0 && streamed <= total)
  }

  test("streaming foreach writes into the KV sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("kvstream").toString
    val in = MemoryStream[Event]
    val q = EventStreams.toKeyedJson(
        in.toDF().selectExpr("CAST(user_id AS STRING) AS k", "value"), "k")
      .writeStream
      .foreach(EventStreams.kvSinkWriter(() => new graft.sources.FsKeyValueSink(dir)))
      .outputMode("append").start()
    try {
      in.addData(Event(7, ts(1), "a", 1.5), Event(8, ts(2), "b", 2.5))
      q.processAllAvailable()
      val sink = new graft.sources.FsKeyValueSink(dir)
      assert(sink.count() == 2)
      val doc = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "7.json")))
      assert(doc.contains("\"value\":1.5"), doc)
    } finally q.stop()
  }

  test("stray far-past event becomes its own session, not a backwards merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionize(in.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("stray_sessions").outputMode("append").start()
    try {
      in.addData(Event(1, ts(180), "a", 1.0)) // open session at 03:00
      q.processAllAvailable()
      in.addData(Event(1, ts(90), "a", 9.0))  // stray: in-watermark, 90 min before open session start (> 30 min gap)
      q.processAllAvailable()
      in.addData(Event(9, ts(900), "z", 0.0)) // advance watermark, close all
      q.processAllAvailable()
      in.addData(Event(9, ts(1600), "z", 0.0))
      q.processAllAvailable()
      val rows = spark.table("stray_sessions").filter(col("user_id") === 1)
        .select("n_events", "sum_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      // two separate single-event sessions — NOT one [00:10, 03:00] session
      assert(rows == Set((1L, 1.0), (1L, 9.0)), s"got $rows")
    } finally q.stop()
  }

  test("stream-stream interval join correlates within the window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.correlate(in.toDF(), "view", "click", windowSeconds = 1800)
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(0), "view", 1.0),
        Event(1, ts(10), "click", 2.0),  // within 30 min of the view -> joins
        Event(1, ts(100), "click", 3.0), // 100 min later -> outside window
        Event(2, ts(5), "click", 4.0))   // other user, no view -> no join
      q.processAllAvailable()
      in.addData(Event(9, ts(900), "view", 0.0)) // advance both watermarks
      q.processAllAvailable()
      val rows = spark.table("funnel")
        .select("user_id", "then_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows == Set((1L, 2.0)), s"got $rows")
    } finally q.stop()
  }

  test("batch sessionization twin agrees with streaming on closed sessions") {
    import spark.implicits._
    val batch = queries.LlmOps.all.find(_.name == "q51_sessionize").get
      .run(spark, sfDir)
    // invariants: no session longer than its event span allows; counts sum
    // to the total event count
    val total = batch.agg(sum("n_events")).head.getLong(0)
    val events = graft.core.Tables(spark, sfDir).events.count()
    assert(total == events)
  }

  test("streaming dedup keeps the first record per key within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // dedup key = event_type; value identifies WHICH record survived
    val q = EventStreams.dedupStream(in.toDF(), keyCol = "event_type", tsCol = "ts")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(0), "alpha", 1.0), Event(2, ts(1), "alpha", 2.0),
        Event(3, ts(2), "beta", 3.0))
      q.processAllAvailable()
      // a later batch with another duplicate still inside the watermark
      in.addData(Event(4, ts(5), "alpha", 4.0), Event(5, ts(6), "gamma", 5.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream")
        .select("event_type", "value").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(rows == Set(("alpha", 1.0), ("beta", 3.0), ("gamma", 5.0)),
        s"first-wins per key expected, got $rows")
    } finally q.stop()
  }

  test("streaming count-min: watchlist estimates merge exactly across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    // same complete-mode shape as topTokensStream — the element-wise-add
    // merge makes the streamed sketch equal a batch sketch over the union
    val q = in.toDF().toDF("token")
      .agg(graft.functions.CountMinEstimate.countMinEstimate(
        col("token"), Seq("alpha", "beta", "absent"), depth = 5, width = 1 << 10).as("t"))
      .select(explode(col("t")).as("e")).select("e.item", "e.est_count")
      .writeStream.format("memory").queryName("cmstream").outputMode("complete").start()
    try {
      in.addData(Seq.fill(5)("alpha") ++ Seq.fill(3)("beta"): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(2)("alpha") ++ Seq("gamma"): _*)
      q.processAllAvailable()
      val got = spark.table("cmstream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // width >> distinct tokens → no collisions → exact counts
      assert(got == Map("alpha" -> 7L, "beta" -> 3L, "absent" -> 0L), got.toString)
    } finally q.stop()
  }

  test("streaming kll: quantiles over all micro-batches stay rank-accurate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Double]
    val q = in.toDF().toDF("v")
      .agg(graft.functions.Kll.kllQuantiles(col("v"), Seq(0.1, 0.5, 0.9), k = 128).as("t"))
      .select(explode(col("t")).as("e")).select("e.q", "e.value")
      .writeStream.format("memory").queryName("kllstream").outputMode("complete").start()
    try {
      val all = (1 to 3000).map(_.toDouble)
      all.grouped(1000).foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      val est = spark.table("kllstream").collect()
        .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      // values are 1..3000, so a value IS its rank: |v − q·n| ≤ 5% of n
      Seq(0.1, 0.5, 0.9).foreach { p =>
        assert(math.abs(est(p) - p * 3000) <= 150, s"q=$p est=${est(p)}")
      }
    } finally q.stop()
  }

  test("streaming curation: micro-batches probe + extend the index; keep == from-scratch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ndstream").toString
    val in = MemoryStream[(Long, String)]
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val q = graft.streaming.CurationStream.start(
      in.toDF().toDF("id", "text"), "nd_stream_idx", s"$tmp/idx",
      threshold = 0.8) { (keep, _) =>
      kept.synchronized { kept ++= keep.select("id").collect().map(_.getLong(0)) }
    }
    // same bridge-free corpus shape as DedupPipelineSpec's incremental case
    val batch1 = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (5L, "the quick brown fox jumps over the lazy dog again and again today"),
      (7L, "the quick brown fox jumps over the lazy dog again and again todai"),
      (9L, "completely different content about spark engines and columnar io"))
    val batch2 = Seq(
      (21L, "the quick brown fox jumps over the lazy dog again and again todaz"),
      (24L, "unrelated fresh snippet arriving with the incremental batch case"),
      (25L, "unrelated fresh snippet arriving with the incremental batch casa"))
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      val scratch = graft.pipeline.DedupPipeline.run(
        spark, (batch1 ++ batch2).toDF("id", "text"), threshold = 0.8)
        .keep.select("id").collect().map(_.getLong(0)).sorted
      assert(kept.sorted == scratch.toSeq,
        s"streamed=${kept.sorted.mkString(",")} scratch=${scratch.mkString(",")}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS nd_stream_idx_postings")
      spark.sql("DROP TABLE IF EXISTS nd_stream_idx_sets")
    }
  }

  test("streaming retrieval ingest: cold-start build + extends equal a from-scratch index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("rixstream").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.RetrievalStream.start(
      in.toDF().toDF("doc_id", "text"), "rix_stream", s"$tmp/idx")
    val batch1 = Seq(
      (1L, "spark shuffle spark join"),
      (2L, "hash merge hash hash"),
      (3L, "window stream window"))
    val batch2 = Seq(
      (4L, "spark spark spark shuffle shuffle"),
      (5L, "merge merge hash window"))
    val queries = Seq(1 -> Seq("spark", "shuffle"), 2 -> Seq("hash", "merge"))
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      spark.sql("DROP TABLE IF EXISTS rix_scratch_postings")
      spark.sql("DROP TABLE IF EXISTS rix_scratch_meta")
      graft.operators.RetrievalIndex.build(
        (batch1 ++ batch2).toDF("doc_id", "text"), "rix_scratch", s"$tmp/scratch")
      val streamed = graft.operators.RetrievalIndex
        .topK(spark, "rix_stream", queries).collect().map(_.toSeq).toSet
      val scratch = graft.operators.RetrievalIndex
        .topK(spark, "rix_scratch", queries).collect().map(_.toSeq).toSet
      assert(streamed == scratch)
      assert(streamed.nonEmpty)
    } finally {
      q.stop()
      Seq("rix_stream", "rix_scratch").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${t}_postings")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_meta")
      }
    }
  }

  test("streaming retrieval ingest recovers from a half-built index (postings, no meta)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("rixcrash").toString
    // simulate a crash between build's two writes: postings exists,
    // _meta (the commit marker) does not
    Seq("rix_crash_postings", "rix_crash_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.sources.TableWriter.writeBucketed(
      Seq((99L, "orphaned", 1L)).toDF("doc_id", "term", "tf"),
      "rix_crash_postings", s"$tmp/orphan", "term", 16)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.RetrievalStream.start(
      in.toDF().toDF("doc_id", "text"), "rix_crash", s"$tmp/idx")
    try {
      in.addData((1L, "spark shuffle"), (2L, "spark spark"))
      q.processAllAvailable()
      // the replayed cold start must REBUILD (overwriting the orphan),
      // not extend the half-built pair or crash on the missing meta
      val n = spark.table("rix_crash_meta").agg(sum("n_docs")).head.getLong(0)
      assert(n == 2L)
      val got = graft.operators.RetrievalIndex
        .topK(spark, "rix_crash", Seq(1 -> Seq("spark")))
        .collect().map(r => (r.getLong(1), r.getInt(3))).toList.sortBy(_._2)
      assert(got.map(_._1) == List(2L, 1L), got.toString) // tf 2 outranks tf 1
      assert(spark.table("rix_crash_postings")
        .filter(col("term") === "orphaned").isEmpty, "orphan postings must be gone")
    } finally {
      q.stop()
      Seq("rix_crash_postings", "rix_crash_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streaming near-dup ingest: cold-start build + extends equal a from-scratch index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("lshstream").toString
    // two shared phrases so near-dup pairs span the epoch boundary
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "completely different content about spark shuffle partitions and joins"
    val batch1 = Seq((1L, a), (2L, a + " ok"), (3L, b))
    val batch2 = Seq((4L, b + " ok"), (5L, a))
    Seq("lsh_stream", "lsh_scratch").foreach { t =>
      Seq("postings", "sets", "batches").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS ${t}_$s"))
    }
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.NearDupStream.start(
      in.toDF().toDF("id", "text"), "lsh_stream", s"$tmp/idx")
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData() // an EMPTY epoch must stamp, not break the fence
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      graft.operators.Dedup.buildNearDupIndex(
        (batch1 ++ batch2).toDF("id", "text"), "lsh_scratch", s"$tmp/scratch")
      def pairs(t: String) = graft.operators.Dedup
        .serveNearDupPairs(spark, t, threshold = 0.8)
        .collect().map(_.toSeq).toSet
      val streamed = pairs("lsh_stream")
      assert(streamed == pairs("lsh_scratch"))
      assert(streamed.nonEmpty) // (1,2), (1,5), (2,5), (3,4) candidates
    } finally {
      q.stop()
      Seq("lsh_stream", "lsh_scratch").foreach { t =>
        Seq("postings", "sets", "batches").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${t}_$s"))
      }
    }
  }

  test("streaming positional ingest: phrase search equals a from-scratch index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("pixstream").toString
    val batch1 = Seq(
      (1L, "merge sort beats quick sort here"),
      (2L, "quick sort quick sort quick sort"))
    val batch2 = Seq((3L, "nothing relevant"), (4L, "a quick sort at the end"))
    Seq("pix_stream", "pix_scratch").foreach { t =>
      Seq("positions", "pbatches").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS ${t}_$s"))
    }
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.RetrievalStream.startPositions(
      in.toDF().toDF("doc_id", "text"), "pix_stream", s"$tmp/idx")
    val phrases = Seq(1 -> Seq("quick", "sort"))
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData() // an EMPTY epoch must stamp, not break the fence
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      graft.operators.RetrievalIndex.buildPositions(
        (batch1 ++ batch2).toDF("doc_id", "text"), "pix_scratch", s"$tmp/scratch")
      def hits(t: String) = graft.operators.RetrievalIndex
        .phrase(spark, t, phrases).collect().map(_.toSeq).toSet
      val streamed = hits("pix_stream")
      assert(streamed == hits("pix_scratch"))
      // occurrence counts cross the epochs: doc 2 has 3, docs 1 and 4 one each
      assert(streamed.size == 3, streamed.toString)
    } finally {
      q.stop()
      Seq("pix_stream", "pix_scratch").foreach { t =>
        Seq("positions", "pbatches").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${t}_$s"))
      }
    }
  }

  test("streaming stats rollup: foreachBatch-maintained rows equal from-scratch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.StatsRollup
    val tmp = java.nio.file.Files.createTempDirectory("rollstream").toString
    val in = MemoryStream[(String, Double, Long)]
    // the CurationStream shape: cross-batch state lives in the stored
    // rollup table, not in operator state stores
    val q = in.toDF().toDF("k", "v", "id").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val r = StatsRollup.build(batch, col("k"), col("v"), col("id"))
        val merged =
          if (id == 0) r
          else StatsRollup.merge(r.unionByName(spark.read.parquet(s"$tmp/cur"))
            .localCheckpoint()) // sever lineage: we overwrite what we read
        merged.write.mode("overwrite").parquet(s"$tmp/next")
        // atomic-ish swap: read side always sees a complete table
        spark.read.parquet(s"$tmp/next").write.mode("overwrite").parquet(s"$tmp/cur")
        ()
      }.start()
    val b1 = Seq(("a", 1.0, 1L), ("a", 3.0, 2L), ("b", 10.0, 1L))
    val b2 = Seq(("a", 5.0, 2L), ("b", 20.0, 3L), ("b", 30.0, 3L))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = StatsRollup.report(spark.read.parquet(s"$tmp/cur"), Seq(0.5))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(4)))
        .toMap
      val scratch = StatsRollup.report(
        StatsRollup.build((b1 ++ b2).toDF("k", "v", "id"), col("k"), col("v"), col("id")),
        Seq(0.5))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(4)))
        .toMap
      assert(streamed == scratch, s"streamed=$streamed scratch=$scratch")
      assert(streamed("a") == ((3L, 9.0, 2L)) && streamed("b")._1 == 3L, streamed.toString)
    } finally q.stop()
  }

  test("streaming CDC apply: per-batch changelog folds equal one-shot apply") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Merge
    val tmp = java.nio.file.Files.createTempDirectory("cdcstream").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.parquet(s"$tmp/cur")
    val in = MemoryStream[(Long, String, String, Int)]
    // binlog-tailer shape: each micro-batch folds into the stored
    // snapshot via applyChangelog; seq is monotone ACROSS batches (the
    // operator's contract — a later batch supersedes an earlier one)
    val q = in.toDF().toDF("k", "v", "op", "seq").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cur = spark.read.parquet(s"$tmp/cur").localCheckpoint()
        Merge.applyChangelog(cur, batch, Seq("k"), col("seq"), col("op"))
          .write.mode("overwrite").parquet(s"$tmp/next")
        spark.read.parquet(s"$tmp/next").write.mode("overwrite").parquet(s"$tmp/cur")
        ()
      }.start()
    val b1 = Seq((2L, "b2", "U", 1), (3L, null: String, "D", 1), (4L, "d", "U", 1))
    val b2 = Seq((3L, "c2", "U", 2), (4L, null: String, "D", 2), (5L, "e", "U", 2))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.read.parquet(s"$tmp/cur")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val oneShot = Merge.applyChangelog(
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
        (b1 ++ b2).toDF("k", "v", "op", "seq"), Seq("k"), col("seq"), col("op"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
      assert(streamed == Map(1L -> "a", 2L -> "b2", 3L -> "c2", 5L -> "e"), streamed.toString)
    } finally q.stop()
  }

  test("streaming interval-join output EQUALS the batch join on the same fixture slice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // correlate() is one definition executed both ways: batch execution
    // ignores the watermarks, streaming uses them for state eviction — the
    // claim under test is that eviction never drops an in-window pair
    val slice = graft.core.Tables(spark, sfDir).events
      .filter(col("user_id") < 30)
      .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
        col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.user_id))
    assert(slice.nonEmpty)
    val maxT = slice.map(_.ts.getTime).max

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime)
    val batch = EventStreams.correlate(
        slice.toSeq.toDF(), "view", "purchase", windowSeconds = 1800L)
      .collect().map(key).sorted

    val in = MemoryStream[Event]
    val q = EventStreams.correlate(in.toDF(), "view", "purchase", windowSeconds = 1800L)
      .writeStream.format("memory").queryName("corr_eq").outputMode("append").start()
    val streamed = try {
      in.addData(slice.toIndexedSeq: _*)
      q.processAllAvailable()
      // sentinels must survive correlate's type filters to advance both
      // sides' watermarks past every joinable pair (two nudges: advance,
      // then flush)
      for (k <- 1 to 2) {
        val t = new Timestamp(maxT + k * 8L * 3600 * 1000)
        in.addData(Event(999999L, t, "view", 0.0), Event(999999L, t, "purchase", 0.0))
        q.processAllAvailable()
      }
      spark.table("corr_eq").filter(col("user_id") < 30)
        .collect().map(key).sorted
    } finally q.stop()

    assert(streamed.length == batch.length,
      s"pair count: streaming=${streamed.length} batch=${batch.length}")
    assert(streamed.sameElements(batch),
      s"first divergence: ${streamed.zip(batch).find(p => p._1 != p._2)}")
  }

  test("streaming sessionize output EQUALS batch q51 on the same fixture slice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same slice both ways: a subset of users, second-truncated timestamps
    // (the batch twin's granularity), fed to the stream in event-time order
    // (a sorted stream is the only regime where the documented stray-event
    // divergence can't occur, so outputs must be IDENTICAL)
    val slice = graft.core.Tables(spark, sfDir).events
      .filter(col("user_id") < 20)
      .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
        col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.user_id))
    assert(slice.nonEmpty, "fixture slice must not be empty")
    val maxT = slice.map(_.ts.getTime).max

    val in = MemoryStream[Event]
    val q = EventStreams.sessionize(in.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sess_eq").outputMode("append").start()
    val streamed = try {
      in.addData(slice.toIndexedSeq: _*)
      q.processAllAvailable()
      // two sentinel nudges: the first advances the watermark past every
      // session timeout (watermark updates at end-of-batch), the second
      // lets the timed-out state actually fire and emit
      in.addData(Event(999999L, new Timestamp(maxT + 8L * 3600 * 1000), "z", 0.0))
      q.processAllAvailable()
      in.addData(Event(999999L, new Timestamp(maxT + 16L * 3600 * 1000), "z", 0.0))
      q.processAllAvailable()
      spark.table("sess_eq").filter(col("user_id") < 20)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("s"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("e"),
          col("n_events"),
          // double sums accumulate in different orders on the two paths;
          // compare at a tolerance far above ulp noise, far below data
          round(col("sum_value"), 3).as("v"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
        .sorted
    } finally q.stop()

    val expected = batchQ51Slice()
    assert(streamed.length == expected.length,
      s"session count: streaming=${streamed.length} batch=${expected.length}")
    assert(streamed.sameElements(expected),
      s"first divergence: ${streamed.zip(expected).find(p => p._1 != p._2)}")
  }

  private def batchQ51Slice(): Array[(Long, String, String, Long, Double)] = {
    import org.apache.spark.sql.functions._
    queries.LlmOps.all.find(_.name == "q51_sessionize").get
      .run(spark, sfDir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("sum_value"), 3).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .sorted
  }

  test("streaming IVM: changelog batches fold into the rollup, replays collapse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ivmstream").toString
    spark.sql("DROP TABLE IF EXISTS ivm_stream")
    val in = MemoryStream[(Long, Long, Double)]
    val q = graft.streaming.IvmStream.start(
      in.toDF().toDF("key", "dn", "dr"), "ivm_stream", s"$tmp/ivm")
    val batch2 = Seq((1L, -1L, -10.0), (3L, 1L, 2.0), (2L, 1L, 1.0))
    try {
      in.addData((1L, 1L, 10.0), (1L, 1L, 5.0), (2L, 1L, 7.0))
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      def state() = graft.operators.IvmRollup.serve(spark, "ivm_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue)).toSet
      val after = state()
      assert(after == Set((1L, 1L, 5.0), (2L, 2L, 8.0), (3L, 1L, 2.0)))
      // crash-replay: re-apply batch 2 under ITS OWN id (what Structured
      // Streaming does after a foreachBatch crash) — the (key, batch_id)
      // storage key absorbs the duplicate rows, state unchanged
      graft.operators.IvmRollup.applyDelta(spark, "ivm_stream",
        batch2.toDF("key", "dn", "dr"), 2L)
      assert(state() == after)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS ivm_stream")
    }
  }

  private val pairDocBatch1 = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again today"),
    (2L, "the quick brown fox jumps over the lazy dog again tonight"),
    (3L, "completely unrelated text about spark shuffle partitions"))
  private val pairDocBatch2 = Seq(
    (4L, "the quick brown fox jumps over the lazy dog again todays"), // near-dups 1, 2
    (5L, "another unrelated document mentioning stream processing"))

  test("streaming pair index: batches build + extend; pairs equal from-scratch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ppxstream").toString
    Seq("ppx_stream", "ppx_stream_dict", "ppx_stream_members",
      "ppx_stream_sets", "ppx_stream_postings", "ppx_stream_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.PairIndexStream.start(
      in.toDF().toDF("id", "text"), "ppx_stream", s"$tmp/ppx", threshold = 0.8)
    try {
      in.addData(pairDocBatch1: _*)
      q.processAllAvailable()
      in.addData(pairDocBatch2: _*)
      q.processAllAvailable()
      val streamed = graft.operators.Dedup.servePairIndex(spark, "ppx_stream")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val scratch = graft.operators.Dedup.jaccardPairs(
        (pairDocBatch1 ++ pairDocBatch2).toDF("id", "text"), threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == scratch)
      // the cross-batch pair (1|2 from batch 1, 4 from batch 2) must exist
      assert(streamed.exists { case (a, b, _) => b == 4L && (a == 1L || a == 2L) },
        streamed.toString)
    } finally {
      q.stop()
      Seq("ppx_stream", "ppx_stream_dict", "ppx_stream_members",
        "ppx_stream_sets", "ppx_stream_postings", "ppx_stream_batches")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("CDC pair-index stream: adds and deletes fold; serve equals scan of the final corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ppxcdc").toString
    val tables = Seq("ppx_cdc", "ppx_cdc_dict", "ppx_cdc_members",
      "ppx_cdc_sets", "ppx_cdc_postings", "ppx_cdc_batches", "ppx_cdc_deleted")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.PairIndexStream.startCdc(
      in.toDF().toDF("id", "text", "op"), "ppx_cdc", s"$tmp/cdc", threshold = 0.8)
    try {
      // epoch 0: adds only (cold-start build)
      in.addData(pairDocBatch1.map { case (i, t) => (i, t, "add") }: _*)
      q.processAllAvailable()
      // epoch 1: adds AND a delete of doc 2 (a batch-1 near-dup) in one batch
      in.addData(pairDocBatch2.map { case (i, t) => (i, t, "add") } :+
        ((2L, "", "delete")): _*)
      q.processAllAvailable()
      // epoch 2: delete-only batch
      in.addData((5L, "", "delete"))
      q.processAllAvailable()
      val streamed = graft.operators.Dedup.servePairIndex(spark, "ppx_cdc")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val survivors = (pairDocBatch1 ++ pairDocBatch2)
        .filterNot { case (i, _) => i == 2L || i == 5L }
      val scratch = graft.operators.Dedup.jaccardPairs(
        survivors.toDF("id", "text"), threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == scratch)
      assert(streamed.nonEmpty) // 1-4 near-dup pair must survive doc 2's deletion
      assert(!streamed.exists { case (a, b, _) => a == 2L || b == 2L })
    } finally {
      q.stop()
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streaming pair index recovers from a half-built index (pairs, no marker)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ppxcrash").toString
    Seq("ppx_crash", "ppx_crash_dict", "ppx_crash_members",
      "ppx_crash_sets", "ppx_crash_postings", "ppx_crash_batches")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // crash between build's writes: pairs exists, _batches (the LAST
    // write, the commit marker) does not
    graft.sources.TableWriter.writeBucketed(
      Seq((888L, 999L, 1.0)).toDF("id_a", "id_b", "jaccard"),
      "ppx_crash", s"$tmp/orphan", "id_a", 8)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.PairIndexStream.start(
      in.toDF().toDF("id", "text"), "ppx_crash", s"$tmp/ppx", threshold = 0.8)
    try {
      in.addData(pairDocBatch1: _*)
      q.processAllAvailable()
      val got = spark.table("ppx_crash").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // replayed cold start REBUILDS: the orphaned pair row is gone and
      // the batch's own near-dup pair is present
      assert(!got.contains((888L, 999L)), got.toString)
      assert(got.contains((1L, 2L)), got.toString)
    } finally {
      q.stop()
      Seq("ppx_crash", "ppx_crash_dict", "ppx_crash_members",
        "ppx_crash_sets", "ppx_crash_postings", "ppx_crash_batches")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streaming join-view maintenance: both-side churn == recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.IvmJoin
    val table = "ivmjoin_stream_spec"
    val path = graft.core.Scratch.path(table)
    // snapshot-then-stream: build from the initial load…
    IvmJoin.build(
      Seq((1L, 101L, 10.0), (1L, 102L, 20.0), (2L, 201L, 30.0))
        .toDF("custkey", "o_orderkey", "o_totalprice"),
      Seq((1L, "A"), (2L, "B")).toDF("custkey", "c_mktsegment"),
      "custkey", table, path)
    // …then one changelog stream carries both sides (union schema;
    // the off-side columns are don't-cares, projected away per side)
    val in = MemoryStream[(Long, Long, Double, String, String, Long)]
    val q = graft.streaming.IvmJoinStream.start(
      in.toDF().toDF("custkey", "o_orderkey", "o_totalprice",
        "c_mktsegment", "side", "dn"),
      table, "custkey",
      factCols = Seq("custkey", "o_orderkey", "o_totalprice"),
      dimCols = Seq("custkey", "c_mktsegment"))
    try {
      // epoch: insert order 202, delete order 102
      in.addData((2L, 202L, 5.0, "", "fact", 1L), (1L, 102L, 20.0, "", "fact", -1L))
      q.processAllAvailable()
      // epoch: customer 2's segment B -> B2 (every order 2xx re-labels)
      in.addData((2L, 0L, 0.0, "B", "dim", -1L), (2L, 0L, 0.0, "B2", "dim", 1L))
      q.processAllAvailable()
      val got = IvmJoin.serve(spark, table).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
      assert(got == Set((1L, 101L, 10.0, "A"),
        (2L, 201L, 30.0, "B2"), (2L, 202L, 5.0, "B2")), got.toString)
    } finally {
      q.stop()
      Seq(table, s"${table}_fact", s"${table}_dim", s"${table}_batches")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("a crashed join-stream epoch replays exactly-once") {
    import spark.implicits._
    import graft.operators.IvmJoin
    val table = "ivmjoin_stream_crash"
    val path = graft.core.Scratch.path(table)
    try {
      val fact = Seq((1L, 101L, 10.0), (2L, 201L, 30.0))
        .toDF("custkey", "o_orderkey", "o_totalprice")
      val dim = Seq((1L, "A"), (2L, "B")).toDF("custkey", "c_mktsegment")
      IvmJoin.build(fact, dim, "custkey", table, path)
      // epoch 0 (stamp 1) CRASHES after its data appends: the fact
      // insert lands in all three logs, the marker does not
      val delta = Seq((2L, 202L, 5.0)).toDF("custkey", "o_orderkey", "o_totalprice")
      def fold(): Unit = graft.streaming.IvmJoinStream.foldEpoch(
        delta.withColumn("c_mktsegment", lit(""))
          .withColumn("side", lit("fact")).withColumn("dn", lit(1L)),
        epochId = 0L, table, "custkey",
        factCols = Seq("custkey", "o_orderkey", "o_totalprice"),
        dimCols = Seq("custkey", "c_mktsegment"))
      graft.operators.Ledger.crashBeforeMarker(fold())
      // the restarted stream replays epoch 0 through the SAME fold the
      // foreachBatch calls — re-appends are byte-identical and the
      // serve collapse folds them: the insert lands exactly once
      fold()
      val got = IvmJoin.serve(spark, table).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
      assert(got == Set((1L, 101L, 10.0, "A"),
        (2L, 201L, 30.0, "B"), (2L, 202L, 5.0, "B")), got.toString)
    } finally {
      Seq(table, s"${table}_fact", s"${table}_dim", s"${table}_batches")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streaming IVF ingest: cold-start train + frozen-quantizer extends equal the static ladder") {
    import spark.implicits._
    import graft.operators.IvfIndex
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ivfstream").toString
    // deterministic synthetic vectors (house rule: no randomness)
    def vec(i: Long): Seq[Double] =
      Seq.tabulate(8)(d => math.abs(math.sin(i * 31.0 + d * 7.0)))
    val b1 = (0L until 32L).map(i => (i, vec(i)))
    val b2 = (32L until 48L).map(i => (i, vec(i)))
    val in = MemoryStream[(Long, Seq[Double])]
    def drop(t: String): Unit =
      Seq(s"${t}_centroids", s"${t}_cells", s"${t}_batches")
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    drop("ivf_stream"); drop("ivf_sb")
    val q = graft.streaming.IvfStream.start(
      in.toDF().toDF("id", "vec"), "ivf_stream", s"$tmp/idx", nCells = 4)
    try {
      in.addData(b1: _*); q.processAllAvailable() // epoch 0: trains + builds
      in.addData(b2: _*); q.processAllAvailable() // epoch 1: frozen assign
      // static ladder over the same cold batch → the same trained
      // quantizer (training is deterministic), so the streamed index
      // must equal it cell for cell and result for result
      IvfIndex.build(b1.toDF("id", "vec"), "ivf_sb", s"$tmp/static", nCells = 4)
      IvfIndex.extend(spark, b2.toDF("id", "vec"), "ivf_sb", batchId = 1L)
      val queries = b1.take(4).map { case (i, v) => (i, v) }
        .toDF("qid", "qvec")
      def key(t: String) = IvfIndex.topK(spark, t, queries, k = 3, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(key("ivf_stream") == key("ivf_sb"))
      assert(key("ivf_stream").nonEmpty)
      // the quantizer stayed frozen across the streamed extend, and the
      // cold-start alias stamped: epoch 1's stamp is exactly max+1
      assert(spark.table("ivf_stream_centroids").count() == 4)
      assert(spark.table("ivf_stream_batches").collect().map(_.getLong(0)).toSet
        == Set(0L, 1L, 2L)) // build 0 + cold-start alias 1 + epoch-1 stamp 2
    } finally {
      q.stop(); drop("ivf_stream"); drop("ivf_sb")
    }
  }
}

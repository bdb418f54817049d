package graft
object Bench {
  /** Strict round-trip of the emitted bench line — the
    * [[Verify.assertOracleRoundTrip]] discipline applied to the perf
    * record: the driver json.loads this line, so a malformed emit (or
    * a queries map that silently lost rows) would zero the round's
    * bench record the same way an unparseable oracle_sql.json zeroes
    * correctness. Checked BEFORE anything is printed or persisted.
    */
  private[graft] def assertBenchRoundTrip(line: String,
      expected: Set[String]): Unit = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    require(node != null && node.isObject,
      "bench line: top level is not a JSON object")
    val qs = node.get("queries")
    require(qs != null && qs.isObject, "bench line: no queries object")
    import scala.jdk.CollectionConverters._
    val got = qs.properties().asScala.map(_.getKey).toSet
    val missing = expected -- got; val extra = got -- expected
    require(missing.isEmpty && extra.isEmpty,
      s"bench line round-trip drift: missing=${missing.toSeq.sorted.take(5)} " +
        s"extra=${extra.toSeq.sorted.take(5)} (of ${expected.size})")
    require(qs.properties().asScala.forall(_.getValue.isNumber),
      "bench line: non-numeric per-query value")
    require(node.get("value") != null && node.get("value").isNumber,
      "bench line: total is not numeric")
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(graft.core.GraftSession.envCpus)
    // fixture-drift preflight: a regenerated fixture should fail with a
    // diagnosis up front, not as -1.0 sentinels scattered through the run
    graft.core.Tables.preflight(spark, sfDir)
      .foreach(m => System.err.println(s"[bench] $m"))
    // Per-query best-of-N (default 3): the first run pays janino codegen +
    // JIT warmup + GC luck — single-shot timings swung ±30-68% between
    // otherwise-identical rounds, masking real regressions, and even
    // min-of-2 left occasional ±40% outliers on the shuffle-heavy dedup
    // family. Runs after the first are cheap (code is compiled), so
    // min-of-3 buys the extra stability for ~a third more wall-clock.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // optional args = query names to bench (subset iteration, mirrors
    // Verify's contract); no args = the full suite, as the driver runs it.
    // Unknown names fail fast — a typo'd subset would otherwise overwrite
    // target/bench.json with a plausible-looking empty artifact
    val allQueries = SparkEntry.queries
    val unknown = args.filterNot(allQueries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val wanted = allQueries.filter { case (k, _) =>
      args.isEmpty || args.contains(k)
    }
    val results = wanted.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // drop cached tables AND checkpointed/persisted RDDs left by the
        // finished run (clearCache alone doesn't release RDD-level
        // persists) so one run's memory footprint doesn't tax the next
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
        if (ok) dt else Double.NaN
      }
      name -> (if (times.exists(_.isNaN)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failed queries report -1 per-query but must NOT pollute the headline
    // total (summing the sentinel would fake a speedup); list them instead
    val failed = results.collect { case (k, v) if v < 0 => s"\"$k\"" }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","failed":${failed.mkString("[", ",", "]")},"method":"per-query min of $reps runs (steady-state; run 1 pays codegen+JIT warmup)","queries":$qs,"sf":"$sfDir"}"""
    assertBenchRoundTrip(line, wanted.keySet) // fail loudly, not a zeroed record
    println(line)
    // the stdout line is one giant JSON object and a tail-capture can
    // truncate it (round 3 lost q01-q14 + the total that way) — persist
    // the artifact losslessly as well
    // two copies: target/ for tooling, docs/ because target/ is gitignored —
    // committing docs/bench_latest.json makes the full per-query map part of
    // the durable record even when the driver's tail-capture truncates.
    // Subset runs skip the docs copy: a partial map must not masquerade as
    // the full-suite record.
    val dests =
      if (args.isEmpty) Seq("target/bench.json", "docs/bench_latest.json")
      else Seq("target/bench.json")
    dests.foreach { p =>
      val out = java.nio.file.Paths.get(p)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    }
    spark.stop()
  }
}

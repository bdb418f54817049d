package graft

import graft.operators.{Dedup, Ledger}
import graft.queries.PairGraph

/** The persisted pair-graph table (PairGraph memo over
  * Dedup.buildPairIndex): serving from the table must equal the
  * scan-time PPJoin, row for row — the spec-level form of the
  * index == scan contract the driver checks on q44b/q154/q155.
  */
class PairGraphSpec extends SparkSpec {
  import org.apache.spark.sql.functions.{col, lit}

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getDouble(2))

  test("index-served pairs equal scan-time jaccardPairs on the fixture corpus") {
    val served = PairGraph.pairs(spark, sfDir, threshold = 0.8)
      .select("id_a", "id_b", "jaccard").collect().map(key).toSet
    val scan = Dedup.jaccardPairs(
      graft.core.Tables(spark, sfDir).documents
        .select(col("doc_id").as("id"), col("text")),
      threshold = 0.8)
      .select("id_a", "id_b", "jaccard").collect().map(key).toSet
    assert(served == scan)
    assert(served.nonEmpty, "fixture corpus must contain near-dups")
  }

  test("second call serves the memoized table (same rows, no divergence)") {
    val a = PairGraph.pairs(spark, sfDir, threshold = 0.8).collect().map(key).toSet
    val b = PairGraph.pairs(spark, sfDir, threshold = 0.8).collect().map(key).toSet
    assert(a == b)
  }

  private def tmp(name: String) =
    s"${System.getProperty("java.io.tmpdir")}/pairgraph_spec_$name"

  private def drop(t: String): Unit =
    Seq(t, s"${t}_dict", s"${t}_members", s"${t}_sets", s"${t}_postings",
      s"${t}_batches", s"${t}_deleted")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  private def docs = graft.core.Tables(spark, sfDir).documents
    .select(col("doc_id").as("id"), col("text"))

  test("build(half) + extendPairIndex(half) equals build(all) — exact tier increments") {
    drop("pg_all"); drop("pg_inc")
    Dedup.buildPairIndex(docs, "pg_all", tmp("all"), 0.8, incremental = true)
    Dedup.buildPairIndex(docs.filter(col("id") % 2 === 0), "pg_inc", tmp("inc"),
      0.8, incremental = true)
    Dedup.extendPairIndex(spark,
      docs.filter(col("id") % 2 === 1), "pg_inc", 0.8, batchId = 1L)
    val a = Dedup.servePairIndex(spark, "pg_all").collect().map(key).toSet
    val b = Dedup.servePairIndex(spark, "pg_inc").collect().map(key).toSet
    assert(a == b) // jaccard DOUBLES included — cross-path values identical
    assert(a.nonEmpty)
    // the increment must find cross-half pairs, not just batch-internal
    val crossHalf = a.count { case (x, y, _) => (x + y) % 2 == 1 }
    assert(crossHalf > 0, "fixture must contain odd-even near-dup pairs")
  }

  test("a second extend folds another batch on top (three-way split)") {
    drop("pg3")
    Dedup.buildPairIndex(docs.filter(col("id") % 3 === 0), "pg3", tmp("b3"),
      0.8, incremental = true)
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 3 === 1), "pg3", 0.8,
      batchId = 1L)
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 3 === 2), "pg3", 0.8,
      batchId = 2L)
    val got = Dedup.servePairIndex(spark, "pg3").collect().map(key).toSet
    val want = Dedup.jaccardPairs(docs, threshold = 0.8)
      .collect().map(key).toSet
    assert(got == want)
  }

  test("a replayed committed extend is a no-op (stamp present → skip)") {
    drop("pg_replay")
    Dedup.buildPairIndex(docs.filter(col("id") % 2 === 0), "pg_replay",
      tmp("replay"), 0.8, incremental = true)
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 2 === 1), "pg_replay",
      0.8, batchId = 1L)
    val before = spark.table("pg_replay").count()
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 2 === 1), "pg_replay",
      0.8, batchId = 1L)
    assert(spark.table("pg_replay").count() == before,
      "committed replay must not append")
  }

  test("a crashed extend (appends landed, stamp missing) replays to the exact graph") {
    drop("pg_crash")
    val odds = docs.filter(col("id") % 2 === 1)
    Dedup.buildPairIndex(docs.filter(col("id") % 2 === 0), "pg_crash",
      tmp("crash"), 0.8, incremental = true)
    // crash after the LAST data append: everything landed except the stamp
    Ledger.crashBeforeMarker(Dedup.extendPairIndex(spark, odds, "pg_crash", 0.8, batchId = 1L))
    // replay folds the batch again in full; raw rows duplicate...
    Dedup.extendPairIndex(spark, odds, "pg_crash", 0.8, batchId = 1L)
    val raw = spark.table("pg_crash").count()
    val served = Dedup.servePairIndex(spark, "pg_crash").collect().map(key).toSet
    val want = Dedup.jaccardPairs(docs, threshold = 0.8).collect().map(key).toSet
    assert(raw > served.size, "the crash window must actually duplicate raw rows")
    // ...and the serve collapse recovers the exact from-scratch pair graph
    assert(served == want)
    // a FURTHER batch on top of the collapsed-crash state still extends
    // correctly (duplicated side-table rows only multiply byte-identical
    // verify rows, which collapse with their pairs)
    drop("pg_crash2")
    Dedup.buildPairIndex(docs.filter(col("id") % 3 === 0), "pg_crash2",
      tmp("crash2"), 0.8, incremental = true)
    Ledger.crashBeforeMarker(Dedup.extendPairIndex(spark,
      docs.filter(col("id") % 3 === 1), "pg_crash2", 0.8, batchId = 1L))
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 3 === 1), "pg_crash2",
      0.8, batchId = 1L)
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 3 === 2), "pg_crash2",
      0.8, batchId = 2L)
    assert(Dedup.servePairIndex(spark, "pg_crash2").collect().map(key).toSet == want)
  }

  test("compact folds a crashed-replay index to batch 0: dups gone physically, graph intact, idempotent") {
    drop("pg_cpt")
    val odds = docs.filter(col("id") % 2 === 1)
    Dedup.buildPairIndex(docs.filter(col("id") % 2 === 0), "pg_cpt",
      tmp("cpt"), 0.8, incremental = true)
    Ledger.crashBeforeMarker(Dedup.extendPairIndex(spark, odds, "pg_cpt", 0.8, batchId = 1L))
    Dedup.extendPairIndex(spark, odds, "pg_cpt", 0.8, batchId = 1L)
    val rawBefore = spark.table("pg_cpt").count()
    val want = Dedup.jaccardPairs(docs, threshold = 0.8).collect().map(key).toSet
    Dedup.compactPairIndex(spark, "pg_cpt", tmp("cpt"))
    // duplicates removed PHYSICALLY: raw row count == served pair count
    val rawAfter = spark.table("pg_cpt").count()
    assert(rawAfter < rawBefore, "compact must remove the replayed duplicates")
    val served = Dedup.servePairIndex(spark, "pg_cpt").collect().map(key).toSet
    assert(rawAfter == served.size)
    assert(served == want)
    // everything is batch 0; the marker namespace reset with it
    assert(spark.table("pg_cpt").filter(col("batch_id") =!= 0L).isEmpty)
    assert(spark.table("pg_cpt_batches").collect().map(_.getLong(0)).toSet == Set(0L))
    // idempotent: a second compact (the crash-rerun story) changes nothing
    Dedup.compactPairIndex(spark, "pg_cpt", tmp("cpt"))
    assert(Dedup.servePairIndex(spark, "pg_cpt").collect().map(key).toSet == want)
    // the namespace reset is real: batch id 1 extends the COMPACTED state
    drop("pg_cpt3")
    Dedup.buildPairIndex(docs.filter(col("id") % 3 === 0), "pg_cpt3",
      tmp("cpt3"), 0.8, incremental = true)
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 3 === 1), "pg_cpt3",
      0.8, batchId = 1L)
    Dedup.compactPairIndex(spark, "pg_cpt3", tmp("cpt3"))
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 3 === 2), "pg_cpt3",
      0.8, batchId = 1L)
    assert(Dedup.servePairIndex(spark, "pg_cpt3").collect().map(key).toSet == want)
  }

  test("compact refuses to launder a pair filed under two batch ids") {
    drop("pg_cptv")
    Dedup.buildPairIndex(docs.filter(col("id") % 2 === 0), "pg_cptv",
      tmp("cptv"), 0.8, incremental = true)
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 2 === 1), "pg_cptv",
      0.8, batchId = 1L)
    // forge the violation: duplicate one real pair under a foreign stamp
    // (pinned first — appending into the table being read is not allowed)
    val forged = spark.table("pg_cptv").limit(1)
      .withColumn("batch_id", lit(99L)).localCheckpoint()
    forged.write.mode(org.apache.spark.sql.SaveMode.Append).insertInto("pg_cptv")
    // the fence rides the pairs rewrite's scan (assert_true in a
    // filter), so the violation surfaces as the rewrite job's failure —
    // check the message through the cause chain, the IvmJoin idiom
    val e = intercept[Exception] {
      Dedup.compactPairIndex(spark, "pg_cptv", tmp("cptv"))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("multiple batch ids")), messages(e))
  }

  test("tombstoned docs vanish from serve; compact purges them physically") {
    drop("pg_del")
    Dedup.buildPairIndex(docs.filter(col("id") % 2 === 0), "pg_del",
      tmp("del"), 0.8, incremental = true)
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 2 === 1), "pg_del",
      0.8, batchId = 1L)
    val victims = docs.filter(col("id") % 7 === 3).select(col("id"))
    // crashed delete (ids landed, stamp missing) + full replay
    Ledger.crashBeforeMarker(
      Dedup.deleteFromPairIndex(spark, victims, "pg_del", tmp("del"), batchId = 2L))
    Dedup.deleteFromPairIndex(spark, victims, "pg_del", tmp("del"), batchId = 2L)
    val want = Dedup.jaccardPairs(docs.filter(col("id") % 7 =!= 3), threshold = 0.8)
      .collect().map(key).toSet
    val served = Dedup.servePairIndex(spark, "pg_del").collect().map(key).toSet
    assert(served == want)
    // the tombstones actually removed pairs (fixture must have victims in pairs)
    val full = Dedup.jaccardPairs(docs, threshold = 0.8).collect().map(key).toSet
    assert(served.size < full.size, "deletion must remove at least one pair")
    // a committed replay of the delete is a no-op
    val delRows = spark.table("pg_del_deleted").count()
    Dedup.deleteFromPairIndex(spark, victims, "pg_del", tmp("del"), batchId = 2L)
    assert(spark.table("pg_del_deleted").count() == delRows)
    // compact: physical purge — no deleted id anywhere, tombstones cleared,
    // serve unchanged, and a post-compact extend still lands correctly
    Dedup.compactPairIndex(spark, "pg_del", tmp("del"))
    assert(spark.table("pg_del_deleted").isEmpty)
    val delSet = victims.collect().map(_.getLong(0)).toSet
    assert(spark.table("pg_del")
      .filter(col("id_a").isin(delSet.toSeq: _*) ||
        col("id_b").isin(delSet.toSeq: _*)).isEmpty)
    assert(spark.table("pg_del_members")
      .filter(col("id").isin(delSet.toSeq: _*)).isEmpty)
    assert(Dedup.servePairIndex(spark, "pg_del").collect().map(key).toSet == want)
  }

  test("auto-compact policy on the pair index: debt axes, boundary, policy == manual") {
    import graft.operators.Maintenance
    import Maintenance.CompactPolicy
    drop("pg_auto")
    Dedup.buildPairIndex(docs.filter(col("id") % 2 === 0), "pg_auto",
      tmp("auto"), 0.8, incremental = true)
    Dedup.extendPairIndex(spark, docs.filter(col("id") % 2 === 1), "pg_auto",
      0.8, batchId = 1L)
    val victims = docs.filter(col("id") % 7 === 3).select(col("id"))
    Dedup.deleteFromPairIndex(spark, victims, "pg_auto", tmp("auto"), batchId = 2L)
    // batches axis counts DATA-BEARING stamps: one extend (the delete's
    // marker stamp and any empty-epoch stamps are not fold-able debt)
    // the pair index's compacts default to 8 buckets
    val family = Maintenance.Family("pg_auto", "pairs", tmp("auto"), nBuckets = 8)
    assert(!Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 1L, maxDeadFraction = 1.0)))
    // dead-fraction trigger: every 7th doc tombstoned ≈ 1/7 > 0.1
    assert(Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 99L, maxDeadFraction = 0.1)))
    val want = Dedup.jaccardPairs(docs.filter(col("id") % 7 =!= 3), threshold = 0.8)
      .collect().map(key).toSet
    assert(Maintenance.compactIfDue(spark, family,
      CompactPolicy(maxBatches = 0L, maxDeadFraction = 1.0)))
    // the policy-run compact is the manual one: tombstones purged,
    // namespace reset, serve == recompute — and the loop settles
    assert(spark.table("pg_auto_deleted").isEmpty)
    assert(Dedup.servePairIndex(spark, "pg_auto").collect().map(key).toSet == want)
    assert(!Maintenance.shouldCompact(spark, family,
      CompactPolicy(maxBatches = 0L, maxDeadFraction = 0.0)))
  }

  test("the dict density fence fails a lost read-then-append update loudly") {
    drop("pg_fence")
    Dedup.buildPairIndex(docs.filter(col("id") % 2 === 0), "pg_fence",
      tmp("fence"), 0.8, incremental = true)
    // simulate the two-writer race: a second writer that read the same
    // rank frontier appends its own rows — ranks collide (density breaks)
    import spark.implicits._
    val maxRank = spark.table("pg_fence_dict")
      .agg(org.apache.spark.sql.functions.max(col("rank"))).head.getLong(0)
    Seq((-987654321L, maxRank)).toDF("digest", "rank")
      .write.mode(org.apache.spark.sql.SaveMode.Append).insertInto("pg_fence_dict")
    val e = intercept[IllegalStateException] {
      Dedup.extendPairIndex(spark, docs.filter(col("id") % 2 === 1),
        "pg_fence", 0.8, batchId = 1L)
    }
    assert(e.getMessage.contains("single-writer"), e.getMessage)
  }
}

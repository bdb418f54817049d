package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.Tables
import graft.operators.{Dedup, Ledger}

/** Per-JVM memoized CRASH-REPLAY scenario over the incremental pair
  * index — the state q172 audits:
  *
  *   1. build the index from the even-id half of `documents`
  *      ([[Dedup.buildPairIndex]] incremental, batch 0);
  *   2. run the odd-id extend as a crash before its commit stamp
  *      ([[Ledger.crashBeforeMarker]]) — exactly the state a crash
  *      after the last data append leaves behind;
  *   3. replay the full extend ([[Dedup.extendPairIndex]], same
  *      batch id): the marker is absent, so the batch re-folds end to
  *      end — against history reads that exclude its own stamp — and
  *      re-appends byte-identical rows, then commits.
  *
  * Every data row of batch 1 now sits in the index TWICE; the serve
  * path ([[Dedup.servePairIndex]]) must collapse the duplicates to the
  * exact from-scratch pair graph — which q172 proves cross-engine by
  * hashing the served leakage audit against q154's scan-time SQL.
  *
  * Memoized like [[PairGraph]]: the scenario builds once per JVM
  * (bench reps then time the serve, the honest production read cost);
  * q162 remains the honestly-timed build+extend generator row.
  */
object IncPairGraph {
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def table(spark: SparkSession, dir: String, threshold: Double = 0.8): String =
    built.computeIfAbsent(f"$dir|$threshold%.2f", key => {
      val name = "graft_ipg_" + java.lang.Integer.toHexString(key.hashCode)
      val docs = Tables(spark, dir).documents
        .select(col("doc_id").as("id"), col("text"))
      val evens = docs.filter(col("id") % 2 === 0)
      val odds = docs.filter(col("id") % 2 === 1)
      Dedup.buildPairIndex(evens, name, graft.core.Scratch.path(name),
        threshold, incremental = true)
      Ledger.crashBeforeMarker(
        Dedup.extendPairIndex(spark, odds, name, threshold, batchId = 1L))
      Dedup.extendPairIndex(spark, odds, name, threshold, batchId = 1L)
      name
    })

  /** The q186 AS-OF scenario: the build+extend ladder above PLUS a
    * batch-2 tombstone delete (doc_id % 7 = 3) — its own table (the
    * tombstones must not leak into the current-state consumers of
    * [[table]]). Memoized for the same reason: the AS-OF read is a
    * serve-time feature, so bench reps time the snapshot serve — the
    * production cost of pinning an audit to a version — while the
    * build cost stays honestly owned by q162/q177.
    */
  def tableWithDeletes(spark: SparkSession, dir: String,
      threshold: Double = 0.8): String =
    built.computeIfAbsent(f"del|$dir|$threshold%.2f", key => {
      val name = "graft_ipg_" + java.lang.Integer.toHexString(key.hashCode)
      val docs = Tables(spark, dir).documents
        .select(col("doc_id").as("id"), col("text"))
      Dedup.buildPairIndex(docs.filter(col("id") % 2 === 0), name,
        graft.core.Scratch.path(name), threshold, incremental = true)
      Dedup.extendPairIndex(spark, docs.filter(col("id") % 2 === 1),
        name, threshold, batchId = 1L)
      Dedup.deleteFromPairIndex(spark,
        docs.filter(col("id") % 7 === 3).select(col("id")),
        name, graft.core.Scratch.path(name), batchId = 2L)
      name
    })
}

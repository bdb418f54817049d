package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.core.Tables
import graft.operators.{Dedup, IvfIndex, RetrievalIndex}

/** Per-JVM memoized AS-OF scenarios — one per maintained index family,
  * all the same three-batch ladder (the q177/q180/q183/q184 shape):
  *
  *   build (doc parity even, stamp 0) → extend (odd, stamp 1) →
  *   tombstone delete (id % 7 = 3, stamp 2)
  *
  * The AS-OF rows (q188–q191) then serve at `asOf = 1`: the snapshot
  * read sees the FULL two-batch corpus and the later tombstones are
  * invisible — each family's oracle is its own whole-corpus scan-time
  * SQL, so the driver's hash compare is "version-pinned read through
  * later deletes == recompute at that version", cross-engine.
  *
  * Memoized like [[IncPairGraph]] (the q172/q186 discipline): AS-OF is
  * a SERVE-time feature, so bench reps time the snapshot read — the
  * production cost of pinning an audit/search to a data version — while
  * the ladders' build costs stay honestly owned by their generator rows
  * (q173/q179, q180/q182, q178/q184, q181/q183).
  */
object AsOfFixtures {
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def once(family: String, dir: String)(build: String => Unit): String =
    built.computeIfAbsent(s"$family|$dir", key => {
      val name = "graft_asof_" + family + "_" +
        java.lang.Integer.toHexString(key.hashCode)
      build(name); name
    })

  private def docs(spark: SparkSession, dir: String) =
    Tables(spark, dir).documents.select(col("doc_id").as("id"), col("text"))

  /** MinHash-LSH near-dup index with a post-extend tombstone batch. */
  def lsh(spark: SparkSession, dir: String): String =
    once("lsh", dir) { name =>
      val d = docs(spark, dir)
      Dedup.buildNearDupIndex(d.filter(col("id") % 2 === 0), name,
        graft.core.Scratch.path(name))
      Dedup.extendNearDupIndex(spark, d.filter(col("id") % 2 === 1),
        name, batchId = 1L)
      Dedup.deleteFromNearDupIndex(spark,
        d.filter(col("id") % 7 === 3).select(col("id")),
        name, graft.core.Scratch.path(name), batchId = 2L)
    }

  /** tf-postings retrieval index; the delete also appends the negative
    * `_meta` row, so the AS-OF read must pin the idf's N by stamp. */
  def retrieval(spark: SparkSession, dir: String): String =
    once("rix", dir) { name =>
      val d = Tables(spark, dir).documents
      RetrievalIndex.build(d.filter(col("doc_id") % 2 === 0), name,
        graft.core.Scratch.path(name))
      RetrievalIndex.extend(d.filter(col("doc_id") % 2 === 1), name, batchId = 1L)
      RetrievalIndex.deleteDocs(spark,
        d.filter(col("doc_id") % 7 === 3).select("doc_id"),
        name, graft.core.Scratch.path(name), batchId = 2L)
    }

  /** Positional (phrase) index, with its own `_pdeleted` frontier. */
  def positions(spark: SparkSession, dir: String): String =
    once("pix", dir) { name =>
      val d = Tables(spark, dir).documents
      RetrievalIndex.buildPositions(d.filter(col("doc_id") % 2 === 0), name,
        graft.core.Scratch.path(name))
      RetrievalIndex.extendPositions(d.filter(col("doc_id") % 2 === 1),
        name, batchId = 1L)
      RetrievalIndex.deletePositionDocs(spark,
        d.filter(col("doc_id") % 7 === 3).select("doc_id"),
        name, graft.core.Scratch.path(name), batchId = 2L)
    }

  /** Maintained rollup over orders (q160's ladder, memoized): base at
    * stamp 0, the %101 deletes at stamp 1, the key-shifted %103
    * inserts at stamp 2 — the clean (crash-free) history the DESCRIBE
    * row (q211) reads its operational numbers from.
    */
  def rollup(spark: SparkSession, dir: String): String =
    once("ivm", dir) { name =>
      import org.apache.spark.sql.types.DecimalType
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.operators.IvmRollup.build(o, col("o_custkey"),
        col("o_totalprice"), name, graft.core.Scratch.path(name))
      graft.operators.IvmRollup.applyDelta(spark, name,
        o.filter(col("o_orderkey") % 101 === 0)
          .select(col("o_custkey").as("key"), lit(-1L).as("dn"),
            (-col("o_totalprice")).cast(DecimalType(38, 2)).as("dr")),
        batchId = 1L)
      graft.operators.IvmRollup.applyDelta(spark, name,
        o.filter(col("o_orderkey") % 103 === 0)
          .select(col("o_custkey").as("key"), lit(1L).as("dn"),
            col("o_totalprice").cast(DecimalType(38, 2)).as("dr")),
        batchId = 2L)
    }

  /** Maintained join view over orders ⋈ customer with q192's two
    * churn batches: fact churn at stamp 1, the dim segment update at
    * stamp 2 — so `asOf = 1` pins the net FACT state under the
    * ORIGINAL dim payloads (a later dim rewrite is invisible).
    */
  def joinView(spark: SparkSession, dir: String): String =
    once("jv", dir) { name =>
      val t = Tables(spark, dir)
      val fact = t.orders.select(col("o_orderkey"),
        col("o_custkey").as("custkey"), col("o_totalprice"))
      val dim = t.customer.select(col("c_custkey").as("custkey"),
        col("c_mktsegment"))
      graft.operators.IvmJoin.build(fact, dim, "custkey", name,
        graft.core.Scratch.path(name))
      graft.operators.IvmJoin.applyDelta(spark, name, "custkey",
        factDelta = fact.filter(col("o_orderkey") % 101 === 0)
          .withColumn("dn", lit(-1L))
          .unionByName(fact.filter(col("o_orderkey") % 103 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .withColumn("dn", lit(1L))),
        dimDelta = dim.limit(0).withColumn("dn", lit(1L)),
        batchId = 1L)
      graft.operators.IvmJoin.applyDelta(spark, name, "custkey",
        factDelta = fact.limit(0).withColumn("dn", lit(1L)),
        dimDelta = dim.filter(col("custkey") % 13 === 0)
          .withColumn("dn", lit(-1L))
          .unionByName(dim.filter(col("custkey") % 13 === 0)
            .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_v2")))
            .withColumn("dn", lit(1L))),
        batchId = 2L)
    }

  /** The q194 star pipeline (view1 → view2 → rollup) with its two
    * cascades applied — memoized so AS-OF rows can prove that version
    * pins COMPOSE: stage batch b is derived from stage-above batch b,
    * so `asOf = b` is a consistent snapshot of the whole chain.
    * Returns (view1, view2, rollup) table names.
    */
  def starPipeline(spark: SparkSession, dir: String): (String, String, String) = {
    val base = once("star", dir) { name =>
      AnalyticsOps.buildStarPipeline(spark, dir,
        s"${name}_v1", s"${name}_v2", s"${name}_roll")
    }
    (s"${base}_v1", s"${base}_v2", s"${base}_roll")
  }

  /** Frozen-quantizer IVF over `embeddings` (vec_id parity ladder). */
  def ivf(spark: SparkSession, dir: String): String =
    once("ivf", dir) { name =>
      val corpus = Tables(spark, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      IvfIndex.build(corpus.filter(col("id") % 2 === 0), name,
        graft.core.Scratch.path(name), nCells = 16, iters = 3)
      IvfIndex.extend(spark, corpus.filter(col("id") % 2 === 1),
        name, batchId = 1L)
      IvfIndex.deleteIds(spark,
        corpus.filter(col("id") % 7 === 3).select(col("id")),
        name, graft.core.Scratch.path(name), batchId = 2L)
    }

  private val chainBuilt = new java.util.concurrent.ConcurrentHashMap[
    String, (String, String, String, Long, Long)]()

  /** The retrieval ladder with a SNAPSHOT CHAIN cut mid-history: base
    * export after (build + extend), then the tombstone delete (stamp
    * 2, whose churn therefore lives only in the delta), then the delta
    * export anchored on the base. Memoized, so the EXPORT cost is paid
    * once and the consuming rows time their own verbs — q223 the chain
    * RESTORE, q226 the in-place ATTACH.
    *
    * @return (family, baseDir, deltaDir, baseRows, deltaRows)
    */
  def retrievalChain(spark: SparkSession, dir: String):
      (String, String, String, Long, Long) =
    chainBuilt.computeIfAbsent(dir, _ => {
      val name = "graft_chain_rix_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val d = Tables(spark, dir).documents
      val path = graft.core.Scratch.path(name)
      RetrievalIndex.build(d.filter(col("doc_id") % 2 === 0), name, path)
      RetrievalIndex.extend(d.filter(col("doc_id") % 2 === 1), name,
        batchId = 1L)
      val base = graft.core.Scratch.path(name + "_base")
      val baseRows = graft.operators.Snapshot.export(spark, name, base)
      RetrievalIndex.deleteDocs(spark,
        d.filter(col("doc_id") % 7 === 3).select("doc_id"), name, path,
        batchId = 2L)
      val delta = graft.core.Scratch.path(name + "_delta")
      val deltaRows = graft.operators.Snapshot.export(spark, name, delta,
        incrementalFrom = Some(base))
      (name, base, delta, baseRows, deltaRows)
    })
}

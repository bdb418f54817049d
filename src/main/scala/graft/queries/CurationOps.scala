package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.core.Tables
import graft.operators.{Integrity, Ledger, Sampling}

/** Corpus-curation surface beyond the per-document filters: mixture
  * construction against a token budget, deterministic training-shard
  * assignment, and keyword retrieval (boolean + ranked) over an exploded
  * posting list. All four are oracle-checked; all four are one-or-two
  * shuffle plans whose cost scales with the corpus scan, not with any
  * driver-side state.
  */
object CurationOps {

  // --------------------------------------------------------------------
  // q85: mixture resampling — build a training mix from target SOURCE
  // shares and a global size budget. Given per-source target shares (of
  // the OUTPUT, in permille) and a budget (fraction of total corpus
  // chars, in permille), derive each source's keep-rate and gate rows
  // with the deterministic hash bucket (Sampling.hashBucket — stable
  // under reruns/retries/re-partitioning). Rates derive from measured
  // per-source volume, so the same targets adapt as the corpus drifts.
  //
  // Scale: per-source stats are one map-side-combined agg over a column
  // pair; the rates frame is |sources| rows, broadcast back; the gate is
  // a narrow filter. The corpus is scanned twice (stats, then gate) —
  // at 100 TB the stats pass reads just (source, n_chars) via column
  // pruning, and a production run would cache the tiny rates table
  // between batches.
  //
  // Rate arithmetic is double on BOTH engines with an identical
  // expression tree (products/divisions are exactly-rounded IEEE ops, so
  // engines agree bit-for-bit; only reassociated SUMS diverge, and the
  // only sum here is an integer one).
  private val mixTargets = Seq("src0" -> 200, "src1" -> 100, "src2" -> 50)
  private val mixDefaultPermille = 30
  private val mixBudgetPermille  = 500

  private def mixtureResample(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables(spark, dir).documents
    val stats = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_total"))
    val total = stats.agg(sum("chars_total").as("bt"))
    val tgt = mixTargets.foldLeft(lit(mixDefaultPermille)) { case (acc, (s, p)) =>
      when(col("source") === s, lit(p)).otherwise(acc)
    }
    val rates = stats.crossJoin(broadcast(total))
      .withColumn("rate_pct",
        least(lit(100.0), floor(
          lit(100.0) * (col("bt").cast(DoubleType) * (tgt.cast(DoubleType) / lit(1000.0))
            * (lit(mixBudgetPermille).cast(DoubleType) / lit(1000.0)))
            / col("chars_total").cast(DoubleType))).cast(LongType))
      .select("source", "n_docs", "chars_total", "rate_pct")
    val kept = docs
      .join(broadcast(rates.select("source", "rate_pct")), "source")
      .filter(Sampling.hashBucket(col("doc_id"), "mix") < col("rate_pct"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("chars_total"), col("rate_pct"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
  }

  private val mixtureResampleSql: String = {
    val tgtCase = mixTargets
      .map { case (s, p) => s"WHEN source = '$s' THEN $p" }
      .mkString("CASE ", " ", s" ELSE $mixDefaultPermille END")
    s"""
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_total
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(chars_total) AS BIGINT) AS bt FROM s),
    r AS (
      SELECT source, n_docs, chars_total,
             CAST(least(100.0, floor(
               100.0 * ((CAST(bt AS DOUBLE) * (CAST($tgtCase AS DOUBLE) / 1000.0))
                 * (CAST($mixBudgetPermille AS DOUBLE) / 1000.0))
               / CAST(chars_total AS DOUBLE))) AS BIGINT) AS rate_pct
      FROM s, tot),
    k AS (
      SELECT d.source, COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
      FROM documents d JOIN r USING (source)
      WHERE ${Sampling.hashBucketSql("doc_id", "mix")} < rate_pct
      GROUP BY d.source)
    SELECT r.source, r.n_docs, r.chars_total, r.rate_pct,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.chars_kept, 0) AS chars_kept
    FROM r LEFT JOIN k ON r.source = k.source""".trim
  }

  // --------------------------------------------------------------------
  // q86: training-shard manifest — assign every document a deterministic
  // shard (48-bit hash of the stable id, mod n) and emit the per-shard
  // manifest a training loader checks before reading: row count, char
  // volume, and an order-independent content digest (modular sum of
  // 48-bit text hashes, Integrity's idiom — any dropped/duplicated/
  // corrupted row flips it). Assignment is a pure row function: reruns
  // and re-partitioning shard identically, and shard sizes concentrate
  // tightly around n/16 by hash uniformity. The manifest is one
  // map-side-combined agg; writing the shards themselves is
  // TableWriter.writePartitioned(..., partitionCols = Seq("shard")).
  private val nShards = 16

  private def shardManifest(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables(spark, dir).documents
    docs
      .withColumn("shard", pmod(Integrity.rowHash(Seq(col("doc_id"))), lit(nShards.toLong)))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        (sum(Integrity.rowHash(Seq(col("text"))).cast("decimal(38,0)")) % lit(1L << 48))
          .cast(LongType).as("content_digest"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
  }

  private val shardManifestSql: String = s"""
    SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(CAST(SUM(CAST(${Integrity.rowHashSql(Seq("text"))} AS DECIMAL(38,0)))
             AS DECIMAL(38,0)) % ${1L << 48} AS BIGINT) AS content_digest,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM (SELECT *, ${Integrity.rowHashSql(Seq("doc_id"))} % $nShards AS shard
          FROM documents)
    GROUP BY shard""".trim

  // --------------------------------------------------------------------
  // q148: shard-rebalance plan — what actually moves when the training
  // lake grows from 16 to 24 shards. Assignment is rendezvous hashing
  // (Sampling.rendezvousShard): shards [0,16) keep their exact weights
  // under the grow, so a key moves IFF its 24-way argmax lands in a new
  // shard — expected 8/24 = 1/3 of the corpus, the minimum any resize
  // can move (mod-16 → mod-24 would move ~11/12). Output is the
  // (old_shard, new_shard) movement matrix with doc and char volumes —
  // the thing a migration scheduler consumes. In-row expression work
  // (40 md5 weights per row, no explode) + ONE bounded agg (≤ 384
  // groups); the oracle re-derives both argmaxes from the identical md5
  // weight strings via windows. Subset stability is spec-asserted
  // exactly: every output row with new_shard < 16 has old == new.
  private def rebalancePlan(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables(spark, dir).documents
    docs.select(col("n_chars"),
        Sampling.rendezvousShard(col("doc_id"), 16).as("old_shard"),
        Sampling.rendezvousShard(col("doc_id"), 24).as("new_shard"))
      .groupBy("old_shard", "new_shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
  }

  private val rebalancePlanSql: String = """
    WITH w AS (
      SELECT d.doc_id, d.n_chars, s.s,
             CAST(('0x' || substring(md5('hrw:' || CAST(s.s AS VARCHAR) || ':'
               || CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS wt
      FROM documents d CROSS JOIN (SELECT unnest(range(24)) AS s) s),
    olds AS (SELECT doc_id, s AS old_shard FROM (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY wt DESC, s DESC) AS rn
        FROM w WHERE s < 16) WHERE rn = 1),
    news AS (SELECT doc_id, n_chars, s AS new_shard FROM (
        SELECT doc_id, n_chars, s,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY wt DESC, s DESC) AS rn
        FROM w) WHERE rn = 1)
    SELECT CAST(o.old_shard AS INT) AS old_shard,
           CAST(n.new_shard AS INT) AS new_shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n.n_chars) AS BIGINT) AS n_chars
    FROM olds o JOIN news n USING (doc_id)
    GROUP BY o.old_shard, n.new_shard""".trim

  // --------------------------------------------------------------------
  // Shared retrieval plumbing: the corpus as a posting list (doc_id,
  // term, tf). One explode + one agg; every downstream retrieval query
  // joins it against a tiny broadcast query-term table, so no plan ever
  // touches docs × queries.
  private[graft] def postings(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  private def postingsSqlOver(docFilter: String): String = s"""
    SELECT doc_id, term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
          FROM documents WHERE $docFilter)
    WHERE length(term) > 0
    GROUP BY doc_id, term""".trim

  private val postingsSql: String = postingsSqlOver("TRUE")

  private[graft] def queryTermsDf(
      spark: org.apache.spark.sql.SparkSession,
      qs: Seq[(Int, Seq[String])]) = {
    import spark.implicits._
    qs.flatMap { case (qid, terms) => terms.map(t => (qid, t)) }.toDF("qid", "term")
  }

  /** The BM25-shaped rational idf as a scaled BIGINT over a frame with a
    * `df` column — ONE definition for every scorer (q88, q145, q158, the
    * persisted index): ln/pow idf is not cross-engine bit-stable, the
    * exact rational is, and a single expression keeps the
    * "index-served == scan-time, row for row" contract from drifting.
    */
  private[graft] def idfScaledCol(n: Long): Column =
    expr(s"((2 * (${n}L - df) + 1) * ${idfScale}L) div (2 * df + 1)")

  /** Shared ranking core: matched (qid, doc_id, term, tf) → per-(qid,
    * doc) integer tf·idf scores. Callers own pinning `matched` (it
    * feeds the df agg AND the scoring join).
    */
  private[graft] def scoreMatched(
      matched: org.apache.spark.sql.DataFrame, n: Long): org.apache.spark.sql.DataFrame = {
    val dfT = matched.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
      .withColumn("idf_scaled", idfScaledCol(n))
    matched.join(broadcast(dfT.select("term", "idf_scaled")), "term")
      .groupBy("qid", "doc_id")
      .agg(sum(col("tf") * col("idf_scaled")).as("score"))
  }

  /** [[scoreMatched]] with N arriving as a LAZY one-row frame
    * (`n_total` BIGINT) instead of a pre-collected scalar — the
    * persisted index's serve path rides its `_meta` sum as a broadcast
    * 1×1 crossJoin, so the verb runs zero eager jobs. The idf expression
    * is the same exact rational arithmetic over the same long values
    * ([[idfScaledCol]] with `n_total` as a column), so scores are
    * bit-identical to the scalar path.
    */
  private[graft] def scoreMatchedLazyN(
      matched: org.apache.spark.sql.DataFrame,
      nDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dfT = matched.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDf)) // one row: n_total
      .withColumn("idf_scaled",
        expr(s"((2 * (n_total - df) + 1) * ${idfScale}L) div (2 * df + 1)"))
    matched.join(broadcast(dfT.select("term", "idf_scaled")), "term")
      .groupBy("qid", "doc_id")
      .agg(sum(col("tf") * col("idf_scaled")).as("score"))
  }

  private def queryTermsSql(qs: Seq[(Int, Seq[String])]): String =
    qs.flatMap { case (qid, terms) => terms.map(t => s"($qid, '$t')") }
      .mkString("(VALUES ", ", ", ") AS q(qid, term)")

  // --------------------------------------------------------------------
  // q87: boolean conjunctive search — for each query, the documents
  // containing ALL its terms. Postings semi-join against the broadcast
  // term table, then a count-matches-arity check per (qid, doc): the
  // inverted-index AND every search engine runs, as two key-parallel
  // shuffles. Terms within a posting row are already distinct, so
  // count(*) counts distinct matched terms.
  private[graft] val boolQueries = Seq(
    1 -> Seq("spark", "hash", "merge"),
    2 -> Seq("window", "sort", "batch"),
    3 -> Seq("table", "scan", "row", "fast"))

  private def booleanSearch(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val p = postings(Tables(spark, dir).documents)
    val q = broadcast(queryTermsDf(spark, boolQueries))
    val arity = boolQueries.foldLeft(lit(-1)) { case (acc, (qid, terms)) =>
      when(col("qid") === qid, lit(terms.size)).otherwise(acc)
    }
    p.join(q, "term")
      .groupBy("qid", "doc_id")
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === arity)
      .select("qid", "doc_id", "n_matched")
  }

  private val booleanSearchSql: String = {
    val arityCase = boolQueries
      .map { case (qid, terms) => s"WHEN qid = $qid THEN ${terms.size}" }
      .mkString("CASE ", " ", " ELSE -1 END")
    s"""
    SELECT qid, doc_id, n_matched FROM (
      SELECT q.qid, p.doc_id, COUNT(*) AS n_matched
      FROM ($postingsSql) p JOIN ${queryTermsSql(boolQueries)} ON p.term = q.term
      GROUP BY q.qid, p.doc_id)
    WHERE n_matched = $arityCase""".trim
  }

  // --------------------------------------------------------------------
  // q88: ranked keyword retrieval — top-10 docs per query by Σ_t tf·idf.
  // The idf is the BM25-shaped rational (N − df + ½)/(df + ½), but held
  // EXACT as a scaled integer: ((2(N−df)+1)·10⁶) div (2df+1). Scores are
  // then pure BIGINT sums — commutative, so both engines rank
  // identically with no float-accumulation caveat (ln/pow idf is NOT
  // cross-engine bit-stable; the rational preserves its ordering).
  //
  // Scale: df comes from the postings of MATCHED terms only (a broadcast
  // semi-join keeps the agg ∝ query vocabulary); the per-query ranking
  // window partitions by qid over ≤ |matched docs| rows. The corpus-wide
  // N is one count(). Top-k per query, never a global sort.
  private[graft] val rankQueries = Seq(
    1 -> Seq("spark", "shuffle"),
    2 -> Seq("hash", "merge"),
    3 -> Seq("window", "stream"))
  private[graft] val idfScale = 1000000L

  /** q169's phrase set — fixture-verified occurrences at sf0.01 (48/45
    * docs for the bigrams, 8 for the trigram); phrase 3's length-3 arm
    * exercises the multi-offset anchor fold.
    */
  /** q169/q178's token-level phrase oracle: a literal positional
    * conjunction per phrase, rendered from the SAME phrase constants the
    * engine probes with — "positional index == token-level scan",
    * occurrence counts included.
    */
  private def phraseSearchSql: String = phraseSearchSqlOver("TRUE")

  private def phraseSearchSqlOver(docFilter: String): String = {
    val arms = phraseQueries.map { case (pid, ts) =>
      val conj = ts.zipWithIndex
        .map { case (t, j) => s"tk[i + $j] = '$t'" }.mkString(" AND ")
      s"""SELECT $pid AS pid, doc_id,
         CAST(len(list_filter(generate_series(1, len(tk) - ${ts.size - 1}),
                              i -> $conj)) AS BIGINT) AS n_matches
         FROM tk WHERE len(tk) >= ${ts.size}"""
    }.mkString(" UNION ALL ")
    s"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0) AS tk
      FROM documents WHERE $docFilter)
    SELECT pid, doc_id, n_matches FROM ($arms) WHERE n_matches > 0""".trim
  }

  private[graft] val phraseQueries = Seq(
    1 -> Seq("table", "hash"),
    2 -> Seq("customer", "join"),
    3 -> Seq("slow", "hash", "batch"))

  private def keywordTopK(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables(spark, dir).documents
    val n = docs.count() // corpus cardinality: one scalar, the ranking's N
    val p = postings(docs)
    val q = broadcast(queryTermsDf(spark, rankQueries))
    // (doc_id, term, tf, qid) — materialized once: it feeds BOTH the df
    // aggregate and the scoring join, and is tiny (∝ query vocabulary);
    // without this the whole postings subtree (scan+explode+agg) runs twice
    val matched = p.join(q, "term").localCheckpoint()
    val scored = scoreMatched(matched, n)
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("qid", "doc_id", "score", "rank")
  }

  /** q88's ranking over a FILTERED corpus — q180's oracle: both the
    * postings AND the idf's N shrink to the surviving documents, which
    * is exactly what deletion must do to the scores.
    */
  private def keywordTopKSqlOver(docFilter: String): String = s"""
    WITH p AS (${postingsSqlOver(docFilter)}),
    n AS (SELECT COUNT(*) AS n FROM documents WHERE $docFilter),
    m AS (SELECT q.qid, p.doc_id, p.term, p.tf
          FROM p JOIN ${queryTermsSql(rankQueries)} ON p.term = q.term),
    d AS (SELECT term,
                 ((2 * (n.n - COUNT(DISTINCT doc_id)) + 1) * $idfScale)
                   // (2 * COUNT(DISTINCT doc_id) + 1) AS idf_scaled
          FROM m, n GROUP BY term, n.n),
    s AS (SELECT m.qid, m.doc_id, CAST(SUM(m.tf * d.idf_scaled) AS BIGINT) AS score
          FROM m JOIN d USING (term) GROUP BY m.qid, m.doc_id)
    SELECT qid, doc_id, score, rank FROM (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank
      FROM s)
    WHERE rank <= 10""".trim

  private val keywordTopKSql: String = keywordTopKSqlOver("TRUE")

  // --------------------------------------------------------------------
  // q145: retrieval-quality evaluation — nDCG@10 and MRR of the q88
  // ranker (integer tf·idf) against raw term-coverage ground truth
  // (rel = Σ tf over the query's terms; the idf weighting is exactly
  // what separates ranker order from relevance order, so the metric is
  // informative, not trivially 1.0). The eval harness IS a data
  // pipeline: ranking quality per query set, computed corpus-wide.
  //
  // Determinism contract (the q88/q95 move applied to DCG): the per-
  // position discounts 1/log2(rank+1) are PRE-SCALED INTEGER LITERALS
  // (round(10⁶/log2(i+1)), one Scala list emits both the Column fold
  // and the SQL CASE), so DCG@10 and IDCG@10 are exact BIGINT sums —
  // no cross-engine log/pow in any accumulated term. nDCG is then ONE
  // IEEE division of identical longs; MRR is the exact rational
  // 10⁶ div first-relevant-rank (rel ≥ 6 counts as relevant; 0 if the
  // top-10 has none). Scale: everything rides q88's plan — postings ⋈
  // broadcast query terms, per-qid windows over ≤|matched| rows; the
  // only additions are one more bounded agg (rel) and a ≤10-row-per-qid
  // ideal window.
  private val dcgWeights: Seq[(Int, Long)] = Seq(
    1 -> 1000000L, 2 -> 630930L, 3 -> 500000L, 4 -> 430677L, 5 -> 386853L,
    6 -> 356207L, 7 -> 333333L, 8 -> 315465L, 9 -> 301030L, 10 -> 289065L)
  private val mrrRelMin = 6L

  private def dcgWeightOf(rank: Column): Column =
    dcgWeights.foldLeft(lit(0L)) { case (acc, (r, wt)) =>
      when(rank === r, lit(wt)).otherwise(acc)
    }

  private def dcgWeightSql(rankCol: String): String =
    dcgWeights.map { case (r, wt) => s"WHEN $r THEN $wt" }
      .mkString(s"CASE $rankCol ", " ", " ELSE 0 END")

  private def retrievalNdcg(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables(spark, dir).documents
    val n = docs.count() // corpus cardinality: one scalar (q88's N)
    val p = postings(docs)
    val q = broadcast(queryTermsDf(spark, rankQueries))
    // feeds df agg + scoring join + relevance agg — pin once (q88 move)
    val matched = p.join(q, "term").localCheckpoint()
    // graded ground truth; read by the top-10 join AND the ideal window
    val rel = matched.groupBy("qid", "doc_id")
      .agg(sum(col("tf")).as("rel")).localCheckpoint()
    val scored = scoreMatched(matched, n)
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .join(rel, Seq("qid", "doc_id"))
    val dcg = top.groupBy("qid").agg(
      sum(col("rel") * dcgWeightOf(col("rank"))).as("dcg_scaled"),
      min(when(col("rel") >= mrrRelMin, col("rank"))).as("frr"))
    val iw = Window.partitionBy("qid").orderBy(col("rel").desc, col("doc_id").asc)
    val idcg = rel.withColumn("irank", row_number().over(iw))
      .filter(col("irank") <= 10)
      .groupBy("qid")
      .agg(sum(col("rel") * dcgWeightOf(col("irank"))).as("idcg_scaled"))
    val cand = rel.groupBy("qid").agg(count(lit(1)).as("n_candidates"))
    dcg.join(idcg, "qid").join(cand, "qid")
      .select(col("qid"),
        (col("dcg_scaled").cast(DoubleType) / col("idcg_scaled").cast(DoubleType))
          .as("ndcg"),
        coalesce(expr("1000000L div frr"), lit(0L)).as("mrr_scaled"),
        col("n_candidates"))
  }

  private val retrievalNdcgSql: String = s"""
    WITH p AS ($postingsSql),
    n AS (SELECT COUNT(*) AS n FROM documents),
    m AS (SELECT q.qid, p.doc_id, p.term, p.tf
          FROM p JOIN ${queryTermsSql(rankQueries)} ON p.term = q.term),
    d AS (SELECT term,
                 ((2 * (n.n - COUNT(DISTINCT doc_id)) + 1) * $idfScale)
                   // (2 * COUNT(DISTINCT doc_id) + 1) AS idf_scaled
          FROM m, n GROUP BY term, n.n),
    rel AS (SELECT qid, doc_id, CAST(SUM(tf) AS BIGINT) AS rel
            FROM m GROUP BY qid, doc_id),
    s AS (SELECT m.qid, m.doc_id, SUM(m.tf * d.idf_scaled) AS score
          FROM m JOIN d USING (term) GROUP BY m.qid, m.doc_id),
    r AS (SELECT qid, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY score DESC, doc_id ASC) AS rank
          FROM s),
    top AS (SELECT r.qid, r.rank, rel.rel
            FROM r JOIN rel ON r.qid = rel.qid AND r.doc_id = rel.doc_id
            WHERE r.rank <= 10),
    dcg AS (SELECT qid,
                   CAST(SUM(rel * ${dcgWeightSql("rank")}) AS BIGINT) AS dcg_scaled,
                   MIN(CASE WHEN rel >= $mrrRelMin THEN rank END) AS frr
            FROM top GROUP BY qid),
    ir AS (SELECT qid, rel,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY rel DESC, doc_id ASC) AS irank
           FROM rel),
    idcg AS (SELECT qid,
                    CAST(SUM(rel * ${dcgWeightSql("irank")}) AS BIGINT) AS idcg_scaled
             FROM ir WHERE irank <= 10 GROUP BY qid),
    c AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates
          FROM rel GROUP BY qid)
    SELECT dcg.qid,
           CAST(dcg_scaled AS DOUBLE) / CAST(idcg_scaled AS DOUBLE) AS ndcg,
           CAST(COALESCE(1000000 // frr, 0) AS BIGINT) AS mrr_scaled,
           n_candidates
    FROM dcg JOIN idcg USING (qid) JOIN c USING (qid)""".trim

  // --------------------------------------------------------------------
  // q158: pseudo-relevance query expansion (Rocchio-lite) — the
  // retrieval family's feedback loop: per query, the top-10 docs from
  // q88's ranking vote on EXPANSION terms (every term they contain
  // except the original query's), each candidate scored by its summed
  // integer tf·idf mass across the feedback set; top-5 per query under
  // the (score desc, term asc) total order. All arithmetic stays in
  // q88's scaled-BIGINT idf form — ln/pow idf is not cross-engine
  // bit-stable, the exact rational is — so ranking ties out exactly.
  //
  // Scale shape: feedback docs are ≤ 10·|queries| ids (broadcast); the
  // candidate-term vocabulary is what those ≤ 30 docs contain (small by
  // construction — this is feedback, not the corpus); its df counts
  // come from one semi-joined agg over the postings. Nothing outside
  // q88's plan family ever materializes.
  private def queryExpansion(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables(spark, dir).documents
    val n = docs.count()
    val p = postings(docs).localCheckpoint() // feeds ranking, votes, df
    val q = broadcast(queryTermsDf(spark, rankQueries))
    val matched = p.join(q, "term").localCheckpoint() // df agg + scoring
    val scored = scoreMatched(matched, n)
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    val fb = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10).select("qid", "doc_id")
    // candidate votes: feedback docs' terms minus the query's own
    val votes = p.join(broadcast(fb), "doc_id")
      .join(broadcast(queryTermsDf(spark, rankQueries)), Seq("qid", "term"), "left_anti")
    val candTerms = votes.select("term").distinct()
    val dfc = p.join(broadcast(candTerms), "term")
      .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .withColumn("idf_scaled", idfScaledCol(n))
    val ranked = votes
      .join(broadcast(dfc.select("term", "idf_scaled")), "term")
      .groupBy("qid", "term")
      .agg(count(lit(1)).as("n_docs"), sum(col("tf") * col("idf_scaled")).as("score"))
    val w2 = Window.partitionBy("qid").orderBy(col("score").desc, col("term").asc)
    ranked.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 5)
      .select("qid", "term", "n_docs", "score", "rank")
  }

  private val queryExpansionSql: String = s"""
    WITH p AS ($postingsSql),
    n AS (SELECT COUNT(*) AS n FROM documents),
    m AS (SELECT q.qid, p.doc_id, p.term, p.tf
          FROM p JOIN ${queryTermsSql(rankQueries)} ON p.term = q.term),
    d AS (SELECT term,
                 ((2 * (n.n - COUNT(DISTINCT doc_id)) + 1) * $idfScale)
                   // (2 * COUNT(DISTINCT doc_id) + 1) AS idf_scaled
          FROM m, n GROUP BY term, n.n),
    s AS (SELECT m.qid, m.doc_id, SUM(m.tf * d.idf_scaled) AS score
          FROM m JOIN d USING (term) GROUP BY m.qid, m.doc_id),
    fb AS (SELECT qid, doc_id FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id ASC) AS rank
        FROM s) WHERE rank <= 10),
    votes AS (
      SELECT fb.qid, p.term, p.tf
      FROM p JOIN fb ON p.doc_id = fb.doc_id
      WHERE NOT EXISTS (SELECT 1 FROM ${queryTermsSql(rankQueries)}
                        WHERE q.qid = fb.qid AND q.term = p.term)),
    dc AS (SELECT term,
                  ((2 * (n.n - COUNT(DISTINCT doc_id)) + 1) * $idfScale)
                    // (2 * COUNT(DISTINCT doc_id) + 1) AS idf_scaled
           FROM p, n
           WHERE term IN (SELECT DISTINCT term FROM votes)
           GROUP BY term, n.n),
    r AS (SELECT v.qid, v.term,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(v.tf * dc.idf_scaled) AS BIGINT) AS score
          FROM votes v JOIN dc USING (term)
          GROUP BY v.qid, v.term)
    SELECT qid, term, n_docs, score, rank FROM (
      SELECT qid, term, n_docs, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, term ASC) AS rank
      FROM r)
    WHERE rank <= 5""".trim

  // --------------------------------------------------------------------
  // q95: token co-occurrence lift — for the corpus's frequent tokens,
  // which PAIRS appear in the same document more than independence
  // predicts: lift = P(a,b)/(P(a)·P(b)) as floored parts-per-million —
  // the PMI ordering without cross-engine ln (and without the BIGINT
  // n_ab·N·10⁶ product, which would wrap past ~10⁶ docs). Pairs come
  // from a doc_id EQUI self-join restricted to the top-F tokens
  // (distinct per doc first), so the join is |docs|·L_f² for L_f ≤ F
  // frequent tokens per doc — never vocabulary², never doc×doc. Top-50
  // by lift via sort+limit.
  private val liftTopTokens = 200

  private def tokenLift(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables(spark, dir).documents
    val nDocs = docs.count() // scalar N for the independence baseline
    // q87/q88's posting list IS the (doc, token) universe: rows are
    // already distinct per (doc_id, term), so doc frequency is a plain
    // row count — one tokenization rule shared by the whole retrieval family
    // pin: the top-F agg AND the dt join both read the posting list —
    // unpinned, the corpus tokenizes twice
    val p = postings(docs).localCheckpoint()
    val topf = p.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc).limit(liftTopTokens)
    // materialized once: both sides of the pair self-join read it, and it
    // is bounded by topF·|docs| rows — recomputing would double-scan the corpus
    val dt = p.select("doc_id", "term").join(broadcast(topf), "term")
      .localCheckpoint()
    val a = dt.select(col("doc_id"), col("term").as("tok_a"), col("df").as("df_a"))
    val b = dt.select(col("doc_id"), col("term").as("tok_b"), col("df").as("df_b"))
    // lift in DOUBLE with one fixed association, floored to ppm: products
    // and the division are single exactly-rounded IEEE ops (identical on
    // both engines), and doubles don't overflow where the all-BIGINT
    // n_ab·N·10⁶ product would wrap past ~10⁶ documents
    a.join(b, Seq("doc_id")).filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b", "df_a", "df_b")
      .agg(count(lit(1)).as("n_ab"))
      .withColumn("lift_ppm",
        floor(col("n_ab").cast(DoubleType) * lit(nDocs.toDouble) * lit(1000000.0)
          / (col("df_a") * col("df_b")).cast(DoubleType)))
      .orderBy(col("lift_ppm").desc, col("tok_a").asc, col("tok_b").asc)
      .limit(50)
      .select("tok_a", "tok_b", "n_ab", "lift_ppm")
  }

  private val tokenLiftSql: String = s"""
    WITH p AS ($postingsSql),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    topf AS (SELECT term, df FROM (
        SELECT term, COUNT(*) AS df,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term ASC) AS r
        FROM p GROUP BY term)
      WHERE r <= $liftTopTokens),
    dt AS (SELECT doc_id, term FROM p WHERE term IN (SELECT term FROM topf)),
    pairs AS (
      SELECT a.term AS tok_a, b.term AS tok_b, COUNT(*) AS n_ab
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2)
    SELECT tok_a, tok_b, n_ab,
           CAST(floor(CAST(n_ab AS DOUBLE) * CAST(nd.n AS DOUBLE) * 1000000.0
             / CAST(fa.df * fb.df AS DOUBLE)) AS BIGINT) AS lift_ppm
    FROM pairs JOIN topf fa ON pairs.tok_a = fa.term
               JOIN topf fb ON pairs.tok_b = fb.term, nd
    ORDER BY lift_ppm DESC, tok_a ASC, tok_b ASC LIMIT 50""".trim

  // --------------------------------------------------------------------
  // q100: hybrid retrieval — the modern search stack's money shape:
  // keyword ranking (q88's scaled-integer tf·idf) and embedding ranking
  // (q45's exact cosine, query vector = the query doc's own embedding)
  // fused by reciprocal rank, Σ 1/(60+rank) — q72's calibration-free
  // combinator, here across MODALITIES rather than ANN tiers. A doc's
  // rrf sums at most two doubles (commutative in IEEE), ties break on
  // doc_id, so both engines rank identically. Each tier keeps its own
  // scale path (posting equi-joins; broadcast query × corpus scan);
  // fusion is a tiny groupBy over ≤ 2·10 rows per query.
  private def hybridSearch(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val kw = keywordTopK(spark, dir)
      .select(col("qid").cast(LongType).as("qid"), col("doc_id"), col("rank"))
    val e = Tables(spark, dir).embeddings
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qids = rankQueries.map(_._1)
    val queries = e.filter(col("vec_id").isin(qids.map(_.toLong): _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val vec = graft.operators.VectorOps.bruteForceTopK(corpus, queries, k = 10)
      .select(col("qid"), col("neighbor").as("doc_id"), col("rank"))
    val contrib = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("qid"), col("doc_id"),
        (lit(1.0) / (lit(60.0) + col("rank"))).as("c"))
    val f = contrib(kw).unionByName(contrib(vec))
      .groupBy("qid", "doc_id")
      .agg(round(sum(col("c")), 6).as("rrf"), count(lit(1)).as("n_tiers"))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id").asc)
    f.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= 10)
      .select("qid", "doc_id", "rrf", "n_tiers", "fused_rank")
  }

  private val hybridSearchSql: String = {
    val qidList = rankQueries.map(_._1).mkString(", ")
    s"""
    WITH kw AS (SELECT CAST(qid AS BIGINT) AS qid, doc_id, rank FROM ($keywordTopKSql)),
    vec AS (
      SELECT qid, doc_id, rank FROM (
        SELECT q.vec_id AS qid, c.vec_id AS doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                       CAST(q.embedding AS DOUBLE[])), 4) DESC,
                          c.vec_id ASC) AS rank
        FROM embeddings c, embeddings q
        WHERE q.vec_id IN ($qidList) AND c.vec_id != q.vec_id)
      WHERE rank <= 10),
    u AS (
      SELECT qid, doc_id, 1.0 / (60.0 + rank) AS c FROM kw
      UNION ALL
      SELECT qid, doc_id, 1.0 / (60.0 + rank) AS c FROM vec),
    f AS (
      SELECT qid, doc_id, round(SUM(c), 6) AS rrf,
             CAST(COUNT(*) AS BIGINT) AS n_tiers
      FROM u GROUP BY qid, doc_id)
    SELECT qid, doc_id, rrf, n_tiers, fused_rank FROM (
      SELECT qid, doc_id, rrf, n_tiers,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY rrf DESC, doc_id ASC) AS fused_rank
      FROM f)
    WHERE fused_rank <= 10""".trim
  }

  // --------------------------------------------------------------------
  // q105: classifier-based quality gate — every modern curation stack
  // filters with a cheap linear model (fasttext-style) before anything
  // expensive touches the data. Featurization is the hashing trick
  // (md5 → 1024 buckets) and scoring is a per-bucket weight lookup,
  // both evaluated as array HOFs INSIDE the row: no explode, no
  // shuffle, one whole-stage-codegen pass — at 100 TB the cost is the
  // scan, which is the floor for any per-document model. The stand-in
  // weight table is arithmetic (Knuth-multiplier spread) so both
  // engines derive it exactly; a trained weight vector swaps in without
  // changing the plan. All-integer logits → hash-exact cross-engine.
  private def modelScore(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import graft.functions.TextFunctions
    Tables(spark, dir).documents
      .select(col("doc_id"),
        TextFunctions.subwordCount(coalesce(col("text"), lit("")))
          .cast("long").as("n_subwords"),
        TextFunctions.hashedLinearLogit(col("text")).as("logit"))
      .withColumn("keep", col("logit") > 0)
  }

  // n_subwords null-coalesces like the logit (NULL text counts 0, not
  // NULL); the regex interpolates SubwordRe — the single feature
  // definition — and `keep` references the logit ALIAS (DuckDB lateral
  // column reference), so the gate can't diverge from the score
  private val modelScoreSql: String = {
    import graft.functions.TextFunctions
    s"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(COALESCE(text, ''), '${TextFunctions.SubwordRe}')) AS BIGINT)
             AS n_subwords,
           ${TextFunctions.hashedLinearLogitSql("text")} AS logit,
           logit > 0 AS keep
    FROM documents""".trim
  }

  // --------------------------------------------------------------------
  // q107: deterministic negative sampling — contrastive-training batches
  // need k in-corpus negatives per anchor, and at 100 TB "random" must
  // mean HASH-derived: md5(qid:slot) mod n is reproducible across runs,
  // engines, and partitionings (a rand() sample is none of those), needs
  // no shuffle to draw, and re-rolls one step on anchor collision. Ids
  // are contiguous [0, n) (fixture contract), so the draw IS the id —
  // no rank lookup; the only shuffle is the equi-join that resolves the
  // sampled id to its document (with-replacement across slots, the
  // standard in-batch-negatives relaxation). n is measured once (one
  // driver long, the BloomPrune/CollapseStats discipline).
  private def negativeSampling(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = Tables(spark, dir).documents
    val n = d.count()
    val slots = d.filter(col("doc_id") < 10).select(col("doc_id").as("qid"))
      .select(col("qid"), explode(sequence(lit(0L), lit(4L))).as("slot"))
    val raw = conv(substring(md5(
        concat(col("qid").cast("string"), lit(":"), col("slot").cast("string"))),
      1, 8), 16, 10).cast("long") % n
    slots
      .withColumn("neg_id", when(raw === col("qid"), (raw + 1L) % n).otherwise(raw))
      .join(d.select(col("doc_id"), col("source")), col("neg_id") === col("doc_id"))
      .select(col("qid"), col("slot"), col("neg_id"), col("source"))
  }

  private val negativeSamplingSql: String = """
    WITH n AS (SELECT COUNT(*) AS cnt FROM documents),
    s AS (
      SELECT doc_id AS qid, i AS slot,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))
               AS BIGINT) % n.cnt AS raw,
             n.cnt AS cnt
      FROM documents CROSS JOIN n, generate_series(0, 4) AS g(i)
      WHERE doc_id < 10),
    neg AS (
      SELECT qid, slot,
             CASE WHEN raw = qid THEN (raw + 1) % cnt ELSE raw END AS neg_id
      FROM s)
    SELECT neg.qid, neg.slot, neg.neg_id, d.source
    FROM neg JOIN documents d ON neg.neg_id = d.doc_id""".trim

  // --------------------------------------------------------------------
  // q108: curriculum sharding — order the corpus easiest-first by the
  // q105 classifier logit and cut the token stream into fixed-budget
  // training shards. Composition of two proven pieces: the hashed-logit
  // scorer (map-only) and Packing's two-pass distributed prefix sum
  // (one long per partition to the driver — never a global window).
  // Packing orders by ascending id, so the curriculum order is ENCODED
  // into a composite key: (K − logit)·10⁶ + doc_id sorts exactly like
  // (logit DESC, doc_id ASC) while staying a unique non-negative long
  // (contract: doc_id < 10⁶ and |logit| < K = 2³¹; both hold with 10⁶
  // headroom at any fixture scale — a larger id space just widens the
  // multiplier). The oracle's window cumsum computes the same offsets —
  // the funnel Packing exists to avoid is harmless at oracle scale.
  private def curriculumShards(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import graft.functions.TextFunctions
    val scored = Tables(spark, dir).documents
      .select(col("doc_id"),
        TextFunctions.hashedLinearLogit(col("text")).as("logit"),
        TextFunctions.subwordCount(coalesce(col("text"), lit("")))
          .cast("long").as("n_subwords"))
    val keyed = scored.select(
      ((lit(2147483648L) - col("logit")) * 1000000L + col("doc_id")).as("id"),
      col("n_subwords").as("wt"),
      col("doc_id"), col("logit"))
      // pin: consumed by the packing pass AND the join-back — without it
      // the regex-heavy logit featurization runs twice
      .localCheckpoint()
    graft.operators.Packing.packSequences(
        keyed.select("id", "wt"), budget = 4096L)
      .join(keyed.select(col("id"), col("doc_id"), col("logit")), "id")
      .select(col("doc_id"), col("logit"), col("wt").as("n_subwords"),
        col("off"), col("first_seq").as("shard"))
  }

  private val curriculumShardsSql: String = {
    import graft.functions.TextFunctions
    s"""
    WITH scored AS (
      SELECT doc_id,
             ${TextFunctions.hashedLinearLogitSql("text")} AS logit,
             CAST(len(regexp_extract_all(COALESCE(text, ''), '${TextFunctions.SubwordRe}')) AS BIGINT)
               AS n_subwords
      FROM documents),
    keyed AS (
      SELECT doc_id, logit, n_subwords,
             (2147483648 - logit) * 1000000 + doc_id AS id
      FROM scored),
    packed AS (
      SELECT doc_id, logit, n_subwords,
             CAST(COALESCE(SUM(n_subwords) OVER (ORDER BY id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      FROM keyed)
    SELECT doc_id, logit, n_subwords, off,
           CASE WHEN n_subwords = 0 THEN NULL
                ELSE CAST(off // 4096 AS BIGINT) END AS shard
    FROM packed""".trim
  }

  // --------------------------------------------------------------------
  // q109: train/val/test split manifest — assignment must be a pure
  // function of the DOCUMENT (hash bucket mod 100 → 80/10/10), never of
  // position or randomness: a doc keeps its split across reruns,
  // repartitions, and corpus growth (new docs land in splits without
  // moving old ones — the property shuffle-split lacks). The bucket is
  // Sampling.hashBucket under a split-only salt, so split membership is
  // decorrelated from every sampling gate that hashes the same ids.
  // The manifest row per split carries count, token mass, and the
  // order-independent xor/sum content digests (Integrity.digestAggs), so
  // "did the test set drift since last release" is a 3-row comparison,
  // not a rescan. One scan, map-side-combined agg — no shuffle beyond
  // 3-group partials.
  private[graft] val SplitSalt = "graft-split"

  private def datasetSplits(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import graft.operators.{Integrity, Sampling}
    val bucket = Sampling.hashBucket(col("doc_id"), SplitSalt)
    Tables(spark, dir).documents
      .select(
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"),
        col("n_chars"),
        Integrity.rowHash(Seq(col("doc_id"), col("text"))).as("h"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars") +: Integrity.digestAggs("h"): _*)
  }

  private val datasetSplitsSql: String = {
    import graft.operators.{Integrity, Sampling}
    s"""
    WITH t AS (
      SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
             n_chars, h
      FROM (
        SELECT ${Sampling.hashBucketSql("doc_id", SplitSalt)} AS b,
               n_chars,
               ${Integrity.rowHashSql(Seq("doc_id", "text"))} AS h
        FROM documents))
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           ${Integrity.digestAggsSql("h")}
    FROM t GROUP BY split""".trim
  }

  // --------------------------------------------------------------------
  // q112: per-source contribution cap — keep only the top K documents per
  // source by token count (the "per-domain cap" of web-scale curation: no
  // single domain may flood the training mix, however large its crawl).
  //
  // Scale shape: a single per-source rank window, BECAUSE Catalyst's
  // rank-limit pushdown (SPARK-37099) compiles `row_number <= K` into an
  // exact two-phase top-K on its own: the physical plan carries
  // `WindowGroupLimit ... Partial` BEFORE the exchange — every map task
  // emits at most K rows per source pre-shuffle — and `... Final` after
  // it, so the reduce side ranks at most mapTasks×K rows per source
  // instead of a pathological source's full document count. A hand-rolled
  // salted two-window variant was built first and measured: it produced
  // the identical bounded shape with one extra shuffle and sort — the
  // declarative form wins, and PlanSpec pins the Partial-before-Exchange
  // plan so an optimizer regression can't silently restore the skew.
  //
  // Ordering is a total order (token count desc, doc_id asc tiebreak), so
  // ranks are deterministic on both engines.
  private val capPerSource = 10

  private def sourceCap(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import graft.functions.TextFunctions
    val scored = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= capPerSource)
      .select("source", "doc_id", "n_tokens", "rnk")
  }

  private val sourceCapSql: String = s"""
    WITH scored AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 0)) AS n_tokens
      FROM documents)
    SELECT source, doc_id, n_tokens, rnk FROM (
      SELECT source, doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_tokens DESC, doc_id ASC) AS rnk
      FROM scored)
    WHERE rnk <= $capPerSource""".trim

  /** q204/q205 fixture: the documents table dumped as JSON-lines and
    * CONTAMINATED with seven structurally-malformed lines (truncated
    * objects, unbalanced braces, non-JSON garbage — syntax breakage
    * only: Spark's PERMISSIVE reader coerces scalar-type surprises,
    * so a type-level "corrupt" line would not be a deterministic
    * quarantine member), then read back through the tolerant
    * quarantine reader with the table's EXPLICIT schema — inference
    * is a second full pass over a 100 TB feed.
    */
  private def jsonlIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables(spark, dir).documents
    val path = graft.core.Scratch.path("graft_q204_jsonl")
    docs.write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(path)
    val corrupt = java.util.Arrays.asList(
      """{"doc_id": 1, "text": "truncated""",
      """{"doc_id": 2, "text":""",
      """not json at all""",
      """{"doc_id": 3,,}""",
      """[{"doc_id": 4}""",
      """{"doc_id": 5 "text": "missing comma"}""",
      """{{""")
    java.nio.file.Files.write( // injected AFTER the clean overwrite
      java.nio.file.Paths.get(s"$path/corrupt-injected.json"), corrupt)
    graft.sources.JsonlSource.readWithQuarantine(spark, path, docs.schema)
  }

  /** q214 fixture: the q204 dump COMPRESSED — written as a directory of
    * gzip shards (the 100 TB contract: many .gz files parallelize by
    * file; ONE gzip stream is unsplittable and would serialize the
    * whole decompress into a single task), with a gzip shard of three
    * broken lines injected so the quarantine path is exercised through
    * the codec too.
    */
  private def jsonlGzIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables(spark, dir).documents
    val path = graft.core.Scratch.path("graft_q214_jsonl_gz")
    docs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "gzip").json(path)
    val corrupt = Seq("""{"doc_id": 1, "text": "truncated""",
      """not json at all""", """{{""")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(s"$path/corrupt-injected.json.gz")))
    out.write((corrupt.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    graft.sources.JsonlSource.readWithQuarantine(spark, path, docs.schema)
  }

  /** q220 fixture: the q214 dump through ZSTD — the dump is written
    * uncompressed by Spark, each shard re-compressed as one .zst frame
    * (zstd-jni, the library the read path itself uses; Spark has no
    * zstd TEXT writer — the very gap readZstdWithQuarantine closes),
    * plus one injected .zst shard of three broken lines so the
    * quarantine path is exercised through this codec too.
    */
  private def jsonlZstIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables(spark, dir).documents
    val plain = graft.core.Scratch.path("graft_q220_jsonl_plain")
    docs.write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(plain)
    val dst = java.nio.file.Paths.get(graft.core.Scratch.path("graft_q220_jsonl_zst"))
    if (java.nio.file.Files.exists(dst)) // bench reps rebuild in place
      java.nio.file.Files.list(dst).forEach(p => java.nio.file.Files.delete(p))
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.list(java.nio.file.Paths.get(plain))
      .filter(_.toString.endsWith(".json"))
      .forEach { p =>
        val out = new com.github.luben.zstd.ZstdOutputStream(
          java.nio.file.Files.newOutputStream(
            dst.resolve(s"${p.getFileName}.zst")))
        java.nio.file.Files.copy(p, out)
        out.close()
      }
    val corrupt = Seq("""{"doc_id": 1, "text": "truncated""",
      """not json at all""", """{{""")
    val out = new com.github.luben.zstd.ZstdOutputStream(
      java.nio.file.Files.newOutputStream(
        dst.resolve("corrupt-injected.json.zst")))
    out.write((corrupt.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    graft.sources.JsonlSource.readZstdWithQuarantine(spark, dst.toString, docs.schema)
  }

  /** q215/q216 fixture: syntax breakage AND contract breakage in one
    * dump — three unparseable lines plus five lines that are VALID
    * JSON but violate the data contract (doc_id/text absent or
    * explicitly null: exactly the rows PERMISSIVE waves through with
    * silently nulled fields). Read through the two-stage
    * [[graft.sources.JsonlSource.readWithContract]].
    */
  private def jsonlContractIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables(spark, dir).documents
    val path = graft.core.Scratch.path("graft_q215_jsonl")
    docs.write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(path)
    val bad = java.util.Arrays.asList(
      // three syntax breakages → stage-1 quarantine
      """{"doc_id": 901, "text": "truncated""",
      """not json at all""",
      """{{""",
      // five contract breakages (valid JSON!) → stage-2 quarantine
      """{"doc_id": null, "text": "explicit null id", "lang": "en", "source": "inj", "n_chars": 15}""",
      """{"text": "id absent entirely", "lang": "en", "source": "inj", "n_chars": 18}""",
      """{"doc_id": 900000001, "text": null, "lang": "en", "source": "inj", "n_chars": 0}""",
      """{"doc_id": 900000002, "lang": "en", "source": "inj", "n_chars": 0}""",
      """{"doc_id": 900000003}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/bad-injected.json"), bad)
    graft.sources.JsonlSource.readWithContract(spark, path, docs.schema,
      col("doc_id").isNotNull && col("text").isNotNull)
  }

  val all: Seq[GraftQuery] = Seq(
    // ------------------------------------------------------------------
    // q204: tolerant JSONL ingest, driver-checked — the production
    // entry format of every training corpus (crawl dumps arrive as
    // JSON-lines with a malformed fraction). The documents table
    // round-trips through a dump contaminated with seven broken lines,
    // read back via sources.JsonlSource (PERMISSIVE + quarantine,
    // explicit schema). Result = the GOOD frame; oracle = the table
    // itself, so the hash compare is "tolerant ingest of a dirty dump
    // == the clean table, content-exact, zero silent drops or
    // fabrications" — a malformed line can neither vanish a good row
    // nor smuggle a null row in. q205 checks the ledger side.
    GraftQuery("q204_jsonl_ingest",
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents"),
      (spark, dir) => jsonlIngest(spark, dir)._1),
    // q205: the quarantine LEDGER of q204's ingest — nothing dropped
    // silently: exactly the table's row count survives and exactly the
    // seven injected breakages land in quarantine with their raw text
    // (the evidence a 100 TB feed needs when 0.001% of it is garbage).
    GraftQuery("q205_jsonl_quarantine",
      Some("""
        SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_good,
               CAST(7 AS BIGINT) AS n_quarantined""".trim),
      (spark, dir) => {
        val (good, quarantine) = jsonlIngest(spark, dir)
        good.agg(count(lit(1)).as("n_good"))
          .crossJoin(quarantine.agg(count(lit(1)).as("n_quarantined")))
      }),
    // q214: q204 through gzip — crawl dumps arrive COMPRESSED, and the
    // reader must keep both halves of the tolerant contract through
    // the codec: the dump is a directory of .gz shards (many files =
    // file-parallel decompress; one gzip stream would serialize — the
    // documented 100 TB contract) plus one injected .gz shard of three
    // broken lines. Result = the good frame, content-exact against the
    // table; the quarantine side is fenced in-row (require == 3, so a
    // codec-path quarantine regression fails loudly, not silently).
    GraftQuery("q214_jsonl_gz",
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents"),
      (spark, dir) => {
        val (good, quarantine) = jsonlGzIngest(spark, dir)
        val nq = quarantine.count()
        require(nq == 3L, s"q214: expected 3 quarantined lines through gzip, got $nq")
        good
      }),
    // q220: q214 through ZSTD — the codec crawl dumps increasingly ship,
    // and the one Spark's text sources DON'T decode (builtin codecs stop
    // at gzip/lz4; Hadoop zstd wants a native lib). The entry path
    // decodes explicitly with the zstd-jni already on every Spark
    // classpath: binaryFile scan (one row per shard, so parallelism =
    // shard files, the same splittability contract as gzip — one frame
    // is one task) → per-shard streaming ZstdInputStream → the SAME
    // pinned PERMISSIVE parse + quarantine split as the gzip/plain
    // paths. Result = the good frame, content-exact against the table;
    // the quarantine side fenced in-row (require == 3) so a codec-path
    // regression fails loudly.
    GraftQuery("q220_jsonl_zstd",
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents"),
      (spark, dir) => {
        val (good, quarantine) = jsonlZstIngest(spark, dir)
        val nq = quarantine.count()
        require(nq == 3L, s"q220: expected 3 quarantined lines through zstd, got $nq")
        good
      }),
    // q215: the POST-PARSE contract audit — the hole PERMISSIVE leaves:
    // a line that is valid JSON with a missing/null required field
    // parses cleanly and sails into the good frame (measured in q204's
    // fixture notes). readWithContract routes rows violating the
    // declared contract (doc_id AND text non-null) to a SECOND
    // quarantine; the result is the good frame, content-exact against
    // the table even though five such lines were injected — none
    // smuggled in, no real row lost. The oracle carries the same
    // contract predicate, so a table that legitimately held nulls
    // would stay hash-matched rather than fake a pass.
    GraftQuery("q215_jsonl_contract",
      Some("""
        SELECT doc_id, text, lang, source, n_chars FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL""".trim),
      (spark, dir) => jsonlContractIngest(spark, dir)._1),
    // q216: the two-ledger evidence of q215's ingest — every input line
    // lands in exactly one of three places and the counts prove it:
    // the table's rows survive, exactly the three syntax breakages in
    // quarantine 1 (raw line), exactly the five contract breakages in
    // quarantine 2 (re-rendered row). The oracle derives n_good and
    // n_contract from the same predicate over the table, so the split
    // arithmetic (good + contract-violations == parsed lines) is
    // checked cross-engine, not assumed.
    GraftQuery("q216_contract_ledger",
      Some("""
        SELECT CAST((SELECT COUNT(*) FROM documents
                     WHERE doc_id IS NOT NULL AND text IS NOT NULL) AS BIGINT) AS n_good,
               CAST(3 AS BIGINT) AS n_syntax_quarantined,
               CAST((SELECT COUNT(*) FROM documents
                     WHERE doc_id IS NULL OR text IS NULL) + 5 AS BIGINT) AS n_contract_quarantined""".trim),
      (spark, dir) => {
        val (good, syntaxQ, contractQ) = jsonlContractIngest(spark, dir)
        good.agg(count(lit(1)).as("n_good"))
          .crossJoin(syntaxQ.agg(count(lit(1)).as("n_syntax_quarantined")))
          .crossJoin(contractQ.agg(count(lit(1)).as("n_contract_quarantined")))
      }),
    GraftQuery("q85_mixture_resample", Some(mixtureResampleSql), mixtureResample),
    GraftQuery("q112_source_cap", Some(sourceCapSql), sourceCap),
    GraftQuery("q86_shard_manifest", Some(shardManifestSql), shardManifest),
    GraftQuery("q148_rebalance_plan", Some(rebalancePlanSql), rebalancePlan),
    GraftQuery("q87_boolean_search", Some(booleanSearchSql), booleanSearch),
    GraftQuery("q88_keyword_topk", Some(keywordTopKSql), keywordTopK),
    GraftQuery("q145_retrieval_ndcg", Some(retrievalNdcgSql), retrievalNdcg),
    GraftQuery("q158_query_expansion", Some(queryExpansionSql), queryExpansion),
    // q159: the q88 contract SERVED FROM THE PERSISTED INDEX — build the
    // term-bucketed posting tables (RetrievalIndex.build, overwrite mode:
    // reruns and bench repetitions are idempotent), then answer from the
    // index with the shared scorer. The oracle is q88's own SQL: the
    // driver's hash compare is then the "index-served == scan-time, row
    // for row" contract itself, checked cross-engine — the spec-level
    // RetrievalIndexSpec equality promoted to a driver-green row.
    GraftQuery("q159_index_topk", Some(keywordTopKSql), (spark, dir) => {
      // fixed per-JVM path, not a fresh temp dir per call: bench runs the
      // query n=5 times and a new dir each run would orphan the previous
      // run's parquet files (Overwrite repoints the table name but never
      // deletes the old location).
      val path = graft.core.Scratch.path("graft_q159_rix")
      graft.operators.RetrievalIndex.build(
        Tables(spark, dir).documents, "graft_q159_rix", path)
      graft.operators.RetrievalIndex.topK(spark, "graft_q159_rix", rankQueries)
    }),
    // q169: exact PHRASE search served from the positional index — the
    // retrieval family's adjacency tier (q87 asks "has all terms",
    // q88 ranks them; neither can ask "are they ADJACENT"). The engine
    // answers from RetrievalIndex.buildPositions + phrase (term-bucket-
    // pruned probe, in-row anchor fold over per-offset position
    // arrays); the ORACLE answers from the raw token arrays (a literal
    // positional conjunction per phrase, rendered from the SAME phrase
    // constants) — so the driver's hash compare is "positional index ==
    // token-level scan", occurrence counts included (overlapping
    // anchors and duplicated phrase terms exercise the fold's edge
    // cases). Build is Overwrite into a fixed path: bench reps pay
    // build+probe honestly, no orphaned directories.
    GraftQuery("q169_phrase_search",
      Some(phraseSearchSql),
      (spark, dir) => {
        val path = graft.core.Scratch.path("graft_q169_pix")
        graft.operators.RetrievalIndex.buildPositions(
          Tables(spark, dir).documents, "graft_q169_pix", path)
        graft.operators.RetrievalIndex.phrase(spark, "graft_q169_pix", phraseQueries)
      }),
    // q178: the POSITIONAL index built incrementally under crash-replay
    // — q174's theorem for the adjacency tier, closing the last
    // build-only retrieval surface. The corpus arrives as two batches
    // (doc_id parity): build, then an extend that CRASHES after its
    // positions append (the `_pbatches` marker never lands) and
    // replays in full — every batch-1 position row is in the table
    // twice. Positions are 0-based over each document's own token
    // sequence, so increments never renumber; phrase()'s per-(term,
    // doc_id, batch_id) collapse recovers the exact index, proven by
    // q169's token-level scan oracle: "incrementally-built positional
    // index under replay == from-scratch scan", occurrence counts
    // (overlapping anchors, duplicated phrase terms) included.
    GraftQuery("q178_replayed_positions",
      Some(phraseSearchSql),
      (spark, dir) => {
        val docsAll = Tables(spark, dir).documents
        val table = "graft_q178_pix"
        val path = graft.core.Scratch.path(table)
        Seq("positions", "pbatches").foreach(sfx =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$sfx"))
        graft.operators.RetrievalIndex.buildPositions(
          docsAll.filter(col("doc_id") % 2 === 0), table, path)
        val odds = docsAll.filter(col("doc_id") % 2 === 1)
        Ledger.crashBeforeMarker(
          graft.operators.RetrievalIndex.extendPositions(odds, table, batchId = 1L))
        graft.operators.RetrievalIndex.extendPositions(odds, table, batchId = 1L)
        graft.operators.RetrievalIndex.phrase(spark, table, phraseQueries)
      }),
    // q208: the POSITIONAL tier's STREAM verb, driver-checked — the
    // q207 move on adjacency search (RetrievalStream.foldEpochPositions,
    // static-staged): epoch 0 cold-starts the phrase index (no
    // `_pbatches` → buildPositions, commitAlias records the epoch's
    // stamp); epoch 1's fold is staged as a CRASH (Ledger.crashBeforeMarker:
    // the position rows land, the marker does not) + a full re-delivery,
    // whose byte-identical re-appends phrase()'s per-(term, doc_id,
    // batch_id) collapse folds. Positions are 0-based per document, so
    // the streamed increment renumbers nothing. Oracle = q169's
    // token-level phrase scan, occurrence counts included — "streamed
    // positional ingest across a crashed epoch == from-scratch scan",
    // cross-engine.
    GraftQuery("q208_positions_stream",
      Some(phraseSearchSql),
      (spark, dir) => {
        val docsAll = Tables(spark, dir).documents
        val table = "graft_q208_pix"
        val path = graft.core.Scratch.path(table)
        // the cold-start probe must see absence (bench reps rebuild)
        Seq("positions", "pbatches").foreach(sfx =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$sfx"))
        graft.streaming.RetrievalStream.foldEpochPositions(
          docsAll.filter(col("doc_id") % 2 === 0), epochId = 0L, table, path)
        val odds = docsAll.filter(col("doc_id") % 2 === 1)
        Ledger.crashBeforeMarker(graft.streaming.RetrievalStream  // crash…
          .foldEpochPositions(odds, epochId = 1L, table, path))
        graft.streaming.RetrievalStream.foldEpochPositions(        // …re-delivery
          odds, epochId = 1L, table, path)
        graft.operators.RetrievalIndex.phrase(spark, table, phraseQueries)
      }),
    // q184: the POSITIONAL tier's full lifecycle — q182's ladder on
    // adjacency search: build → crashed extend + replay → crashed
    // tombstone delete + replay → compactPositions (replay duplicates
    // and deleted docs leave physically, tombstones clear, namespace
    // resets) → phrase. Oracle = the token-level phrase scan over
    // documents WHERE doc_id % 7 != 3 — a deleted document must
    // vanish from adjacency answers (the tier's own `_pdeleted`
    // tombstone frontier).
    GraftQuery("q184_positions_lifecycle",
      Some(phraseSearchSqlOver("doc_id % 7 != 3")),
      (spark, dir) => {
        val docsAll = Tables(spark, dir).documents
        val table = "graft_q184_pix"
        val path = graft.core.Scratch.path(table)
        Seq("positions", "pbatches", "pdeleted").foreach(sfx =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$sfx"))
        graft.operators.RetrievalIndex.buildPositions(
          docsAll.filter(col("doc_id") % 2 === 0), table, path)
        val odds = docsAll.filter(col("doc_id") % 2 === 1)
        Ledger.crashBeforeMarker(
          graft.operators.RetrievalIndex.extendPositions(odds, table, batchId = 1L))
        graft.operators.RetrievalIndex.extendPositions(odds, table, batchId = 1L)
        val victims = docsAll.filter(col("doc_id") % 7 === 3).select("doc_id")
        Ledger.crashBeforeMarker(graft.operators.RetrievalIndex.deletePositionDocs(
          spark, victims, table, path, batchId = 2L))
        graft.operators.RetrievalIndex.deletePositionDocs(
          spark, victims, table, path, batchId = 2L)
        graft.operators.RetrievalIndex.compactPositions(spark, table, path)
        graft.operators.RetrievalIndex.phrase(spark, table, phraseQueries)
      }),
    // q174: the inverted index under CRASH-REPLAY — q172's theorem for
    // the retrieval tier. The corpus arrives as two batches (doc_id
    // parity): the first builds the index, the second's extend CRASHES
    // after its postings append (Ledger.crashBeforeMarker — the data
    // lands, the trailing meta commit does not), then the batch replays in full.
    // Every batch-1 posting row is in the table twice; the serve path's
    // per-(term, doc_id, batch_id) collapse and the meta-as-marker N
    // must recover the exact scan-time ranking — proven cross-engine by
    // q88's own SQL oracle. Rebuilds each invocation into a fixed path:
    // bench reps pay build+crash+replay+serve honestly.
    GraftQuery("q174_replayed_index", Some(keywordTopKSql),
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        val table = "graft_q174_rix"
        val path = graft.core.Scratch.path(table)
        Seq("postings", "meta").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        graft.operators.RetrievalIndex.build(
          docs.filter(col("doc_id") % 2 === 0), table, path)
        val odds = docs.filter(col("doc_id") % 2 === 1)
        Ledger.crashBeforeMarker(
          graft.operators.RetrievalIndex.extend(odds, table, batchId = 1L))
        graft.operators.RetrievalIndex.extend(odds, table, batchId = 1L)
        graft.operators.RetrievalIndex.topK(spark, table, rankQueries)
      }),
    // q207: the tf-retrieval tier's STREAM verb, driver-checked — the
    // q199 move for RetrievalStream: the corpus arrives as two epochs
    // through the stream's exact fold (foldEpoch). Epoch 0 is the cold
    // start — the existence probe reads no `_meta`, so the fold BUILDS
    // and records its own stamp via commitAlias (a 0-docs meta row,
    // neutral to N). Epoch 1's fold is staged as a CRASH
    // (Ledger.crashBeforeMarker: postings land, the meta commit does not)
    // + a full re-delivery of the epoch, whose byte-identical
    // re-appends the serve path collapses per (term, doc_id, batch_id)
    // — and N is never double-counted because the meta row is the
    // trailing commit. Oracle = q88's ranking SQL, so the hash compare
    // is "streamed ingest across a crashed epoch == from-scratch
    // index", idf arithmetic included, cross-engine.
    GraftQuery("q207_retrieval_stream", Some(keywordTopKSql),
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        val table = "graft_q207_rix"
        val path = graft.core.Scratch.path(table)
        // the cold-start probe must see absence (bench reps rebuild)
        Seq("postings", "meta").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        graft.streaming.RetrievalStream.foldEpoch(
          docs.filter(col("doc_id") % 2 === 0), epochId = 0L, table, path)
        val odds = docs.filter(col("doc_id") % 2 === 1)
        Ledger.crashBeforeMarker(graft.streaming.RetrievalStream.foldEpoch( // crash…
          odds, epochId = 1L, table, path))
        graft.streaming.RetrievalStream.foldEpoch(                         // …re-delivery
          odds, epochId = 1L, table, path)
        graft.operators.RetrievalIndex.topK(spark, table, rankQueries)
      }),
    // q217: a POLICY-triggered compact UNDER a live stream — the round-9
    // verdict's top lift, driver-checked. The corpus arrives as three
    // stream epochs through RetrievalStream's exact fold; after epoch 1
    // the maintenance loop fires (maxBatches = 0 — one data-bearing
    // batch of debt makes the family due) and compactIfDue
    // runs the NAMESPACE-PRESERVING compact (marker {0, maxCommitted} —
    // WriterFence.compactKeepStamps), then must SETTLE (a freshly
    // folded log reads zero debt). Epoch 2 then resumes the SAME
    // checkpointed epoch counter: its stamp is maxCommitted + 1 and
    // passes the writer fence that the default reset would fail —
    // before this round, the documented answer was "restart from a
    // fresh checkpoint". Oracle = q88's whole-corpus ranking SQL, so
    // the hash compare is "stream → policy compact → resumed stream ==
    // from-scratch index", idf arithmetic included, cross-engine.
    GraftQuery("q217_stream_policy_compact", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.Maintenance
        val docs = Tables(spark, dir).documents
        val table = "graft_q217_rix"
        val path = graft.core.Scratch.path(table)
        // the cold-start probe must see absence (bench reps rebuild)
        Seq("postings", "meta").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        graft.streaming.RetrievalStream.foldEpoch(
          docs.filter(col("doc_id") % 3 === 0), epochId = 0L, table, path)
        graft.streaming.RetrievalStream.foldEpoch(
          docs.filter(col("doc_id") % 3 === 1), epochId = 1L, table, path)
        val policy = Maintenance.CompactPolicy(maxBatches = 0L)
        val family = Maintenance.Family(table, "retrieval", path)
        require(Maintenance.compactIfDue(spark, family, policy),
          "q217: one data-bearing batch under maxBatches = 0 must be due")
        require(!Maintenance.compactIfDue(spark, family, policy),
          "q217: a freshly compacted index must NOT be due — the loop settles")
        graft.streaming.RetrievalStream.foldEpoch( // resumed epoch counter
          docs.filter(col("doc_id") % 3 === 2), epochId = 2L, table, path)
        graft.operators.RetrievalIndex.topK(spark, table, rankQueries)
      }),
    // q219: the maintenance loop END TO END — q217 proves one policy
    // compact composes with one resumed epoch; this row proves the
    // LOOP composes: five stream epochs with compactIfDue run
    // after every one (the scheduler cadence), policy maxBatches = 1.
    // The due pattern is pinned in-row — epochs 0 (cold build = batch-0
    // data, zero debt) and 1 leave ≤ 1 batch of debt (not due), epoch 2
    // makes 2 (due → compact, namespace preserved), epochs 3/4 repeat
    // the cycle — so the policy boundary, the preserving compact, and
    // the fence survive TWO mid-stream compacts, and every later epoch
    // keeps stamping off the same checkpointed counter. Oracle = q88's
    // whole-corpus SQL: "N epochs + the scheduled loop == from-scratch
    // index", cross-engine.
    GraftQuery("q219_maintenance_loop", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.Maintenance
        val docs = Tables(spark, dir).documents
        val table = "graft_q219_rix"
        val path = graft.core.Scratch.path(table)
        Seq("postings", "meta").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        val policy = Maintenance.CompactPolicy(maxBatches = 1L)
        val expectDue = Seq(false, false, true, false, true)
        (0L to 4L).foreach { epoch =>
          graft.streaming.RetrievalStream.foldEpoch(
            docs.filter(col("doc_id") % 5 === epoch), epochId = epoch,
            table, path)
          val ran = Maintenance.compactIfDue(spark,
            Maintenance.Family(table, "retrieval", path), policy)
          require(ran == expectDue(epoch.toInt),
            s"q219: epoch $epoch due=$ran, expected ${expectDue(epoch.toInt)}")
        }
        graft.operators.RetrievalIndex.topK(spark, table, rankQueries)
      }),
    // q221: FSCK — the structural ledger audit across four maintained
    // families (round 10). The serve paths fail loudly on divergent
    // replays and DESCRIBE reports debt; what nothing audited until now
    // is the LEDGER SHAPE the crash/replay protocol rests on: marker
    // present with build stamp 0, the non-zero committed run contiguous
    // (the only two shapes the protocol writes — {0..max}, or
    // {0, m..max} after a namespace-preserving compact), and every
    // stamped log's ids ⊆ committed ∪ {max+1} (at most ONE in-flight
    // crash-window stamp). The row fscks the memoized LSH / retrieval /
    // positional / rollup ladders (each carrying build + extend +
    // delete history) and REQUIRES 100% ok — MaintenanceSpec proves
    // each invariant trips on staged corruption — then serves the
    // retrieval family's live ranking, so the oracle hash also pins
    // that the audited index still answers exactly like a from-scratch
    // index of the surviving corpus. Bounded: marker collects + one
    // distinct-stamp scan per log, never a corpus read.
    GraftQuery("q221_fsck_families",
      Some(keywordTopKSqlOver("doc_id % 7 != 3")),
      (spark, dir) => {
        import graft.operators.Maintenance
        val fams = Seq(
          AsOfFixtures.lsh(spark, dir) -> "lsh",
          AsOfFixtures.retrieval(spark, dir) -> "retrieval",
          AsOfFixtures.positions(spark, dir) -> "positions",
          AsOfFixtures.rollup(spark, dir) -> "rollup")
        fams.foreach { case (name, kind) =>
          val bad = Maintenance.fsck(spark, name, kind)
            .filter(!col("ok")).collect()
          require(bad.isEmpty,
            s"q221: fsck($kind) flagged ${bad.mkString("; ")}")
        }
        graft.operators.RetrievalIndex.topK(
          spark, AsOfFixtures.retrieval(spark, dir), rankQueries)
      }),
    // q222: SNAPSHOT → RESTORE — the backup verb, driver-checked end to
    // end: export the retrieval family's full ladder (build + extend +
    // tombstone delete + signed `_meta` ledger) to a self-describing
    // snapshot directory (distributed columnar copy, manifest written
    // LAST as the commit marker), restore it under a NEW name and path
    // (bucket layout re-established from the manifest, per-table row
    // counts verified against it), fsck the restored family (ledger
    // shape survived the round trip — so the writer fence still admits
    // the next extend), and serve the RESTORED index. Oracle = the
    // from-scratch ranking SQL of the surviving corpus, so the hash
    // compare is "restored-from-backup == never-backed-up", scores and
    // idf arithmetic included, cross-engine.
    GraftQuery("q222_snapshot_restore",
      Some(keywordTopKSqlOver("doc_id % 7 != 3")),
      (spark, dir) => {
        import graft.operators.{Maintenance, Snapshot}
        val src = AsOfFixtures.retrieval(spark, dir)
        val dest = graft.core.Scratch.path("q222_snap")
        val restored = "graft_q222_restored"
        // bench reps re-run in-process: the restore target must be absent
        Seq("", "_postings", "_meta", "_deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $restored$s"))
        val exported = Snapshot.export(spark, src, dest)
        require(exported > 0L, "q222: empty snapshot")
        Snapshot.restore(spark, dest, restored,
          graft.core.Scratch.path(restored))
        val bad = Maintenance.fsck(spark, restored, "retrieval")
          .filter(!col("ok")).collect()
        require(bad.isEmpty, s"q222: restored fsck flagged ${bad.mkString("; ")}")
        graft.operators.RetrievalIndex.topK(spark, restored, rankQueries)
      }),
    // q223: INCREMENTAL snapshot — the 100 TB backup story: a nightly
    // full export of a multi-TB index is waste; the stamped logs are
    // append-only between compacts, so a DELTA snapshot exports only
    // rows past the parent's per-table max stamp (scan-pruned on
    // batch_id), the unstamped overwrite-style frontiers whole (they
    // are the family's small tables by construction), and records the
    // parent pointer. Restore walks the chain base-first: the base
    // re-establishes the bucket layout, each delta APPENDS through it
    // (insertInto lays the rows out co-located), the newest frontier
    // copy wins, and every link's landed counts verify against its
    // manifest. This row stages it end to end: build + extend →
    // BASE export → a tombstone delete lands only in the DELTA →
    // chain restore → fsck → serve the restored index. Oracle = the
    // from-scratch ranking SQL of the surviving corpus, so the hash
    // compare is "base + delta == the live family", idf arithmetic
    // (whose N the delta's signed _meta row shifted) included,
    // cross-engine. The in-row require pins the economics: the delta
    // must be SMALLER than the base. Compacts break chains loudly
    // (SnapshotSpec) — each compact starts a new full-backup epoch,
    // the LSM/WAL-shipping contract.
    GraftQuery("q223_incremental_snapshot",
      Some(keywordTopKSqlOver("doc_id % 7 != 3")),
      (spark, dir) => {
        import graft.operators.{Maintenance, Snapshot}
        val (_, _, delta, baseRows, deltaRows) =
          AsOfFixtures.retrievalChain(spark, dir)
        require(deltaRows < baseRows,
          s"q223: delta $deltaRows rows >= base $baseRows — not incremental")
        val restored = "graft_q223_chain"
        // bench reps re-run in-process: the restore target must be absent
        Seq("", "_postings", "_meta", "_deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $restored$s"))
        Snapshot.restore(spark, delta, restored,
          graft.core.Scratch.path(restored))
        val bad = Maintenance.fsck(spark, restored, "retrieval")
          .filter(!col("ok")).collect()
        require(bad.isEmpty, s"q223: chain fsck flagged ${bad.mkString("; ")}")
        graft.operators.RetrievalIndex.topK(spark, restored, rankQueries)
      }),
    // q226: ATTACH — query the backup WITHOUT restoring it: the chain's
    // snapshot directories register as session temp views (stamped logs
    // as the union of the links' slices — append-only between compacts,
    // so the union IS the table; the newest frontier copy wins), zero
    // rows moved, zero shuffles at attach time. The family's own serve
    // verb then runs UNCHANGED against the attached name (table
    // resolution sees temp views first) — the DR "show me yesterday's
    // index right now" read path and the audit path over cold backups,
    // at plain-parquet cost (sustained serving restores instead, to get
    // the bucket layout back). Oracle = the same from-scratch ranking
    // SQL of the surviving corpus, so the hash compare is "served from
    // the attached backup == never backed up", cross-engine.
    GraftQuery("q226_attached_snapshot",
      Some(keywordTopKSqlOver("doc_id % 7 != 3")),
      (spark, dir) => {
        val (_, _, delta, _, _) = AsOfFixtures.retrievalChain(spark, dir)
        val att = "graft_q226_att"
        val views = graft.operators.Snapshot.attach(spark, delta, att)
        require(views.size >= 3,
          s"q226: expected >= 3 attached views, got $views")
        graft.operators.RetrievalIndex.topK(spark, att, rankQueries)
      }),
    // q227: DISASTER RECOVERY, end to end — the round's verbs composed
    // the way a deployment actually runs them: a checkpointed stream
    // delivers five epochs; a BACKUP runs after every epoch (full at
    // cold start, DELTA against the previous export otherwise); the
    // MAINTENANCE LOOP runs on its own schedule (policy maxBatches = 1
    // — q219's cadence, due after epochs 2 and 4, namespace-preserving
    // so the stream survives); and the one collision between the two
    // schedules is PINNED in-row: the first export after a compact must
    // REFUSE the delta (history rewritten — the chain-break contract)
    // and fall back to a full export, exactly the runbook. Then the
    // live family is DESTROYED (every table dropped), restored from the
    // latest chain (full + delta), fsck'd, and — the part no test
    // covered yet — the SAME checkpointed stream RESUMES on the
    // restored family: the backup carried the fence ledger, so epoch
    // 5's derived stamp is max+1 and passes. Oracle = the from-scratch
    // ranking SQL of the whole corpus: "crash the world, restore from
    // incremental backups, keep streaming == never crashed",
    // cross-engine, scores included.
    GraftQuery("q227_dr_scenario", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.{Maintenance, Snapshot}
        val docs = Tables(spark, dir).documents
        val table = "graft_q227_rix"
        val path = graft.core.Scratch.path(table)
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        val policy = Maintenance.CompactPolicy(maxBatches = 1L)
        val expectDue = Seq(false, false, true, false, true)
        var lastExport: Option[String] = None
        (0L to 4L).foreach { epoch =>
          graft.streaming.RetrievalStream.foldEpoch(
            docs.filter(col("doc_id") % 6 === epoch), epochId = epoch,
            table, path)
          val dest = graft.core.Scratch.path(s"q227_snap_$epoch")
          val wantDelta = lastExport.isDefined
          val gotDelta = wantDelta && (try {
            Snapshot.export(spark, table, dest, incrementalFrom = lastExport)
            true
          } catch {
            case e: IllegalArgumentException if e.getMessage.contains("compact") =>
              false // the chain-break refusal — fall back to a full export
          })
          if (!gotDelta) {
            require(epoch == 0L || expectDue(epoch.toInt - 1),
              s"q227: delta refused at epoch $epoch without a prior compact")
            Snapshot.export(spark, table, dest)
          }
          lastExport = Some(dest)
          val ran = Maintenance.compactIfDue(spark,
            Maintenance.Family(table, "retrieval", path), policy)
          require(ran == expectDue(epoch.toInt),
            s"q227: epoch $epoch due=$ran, expected ${expectDue(epoch.toInt)}")
        }
        // disaster: the live family is gone. The runbook audits the
        // backup chain BEFORE trusting it (bit-rot / partial-deletion
        // check, read-only) — then restores.
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        val audit = Snapshot.verify(spark, lastExport.get)
          .filter(!col("ok")).collect()
        require(audit.isEmpty, s"q227: backup audit flagged ${audit.mkString("; ")}")
        Snapshot.restore(spark, lastExport.get, table,
          graft.core.Scratch.path(table + "_restored"))
        val bad = Maintenance.fsck(spark, table, "retrieval")
          .filter(!col("ok")).collect()
        require(bad.isEmpty, s"q227: restored fsck flagged ${bad.mkString("; ")}")
        // the same checkpointed stream resumes on the restored family
        graft.streaming.RetrievalStream.foldEpoch(
          docs.filter(col("doc_id") % 6 === 5), epochId = 5L, table, path)
        graft.operators.RetrievalIndex.topK(spark, table, rankQueries)
      }),
    // q228: the fleet SWEEP — Maintenance.sweep is the one call a
    // scheduler makes per tick: three families of different kinds
    // (retrieval, LSH, rollup), each carrying two batches of debt,
    // probed independently and compacted in one pass (namespace-
    // preserving on the fenced kinds). The report is pinned in-row:
    // the first tick compacts all three, the second tick settles to
    // zero (the loop is idempotent — freshly folded logs are never
    // due). Oracle = q88's whole-corpus ranking over the swept
    // retrieval family, so the hash compare also proves a sweep-
    // compacted index still answers exactly like a from-scratch one.
    GraftQuery("q228_fleet_sweep", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.{Dedup, Maintenance, RetrievalIndex}
        import graft.operators.Maintenance.Family
        import org.apache.spark.sql.types.DecimalType
        val docs = Tables(spark, dir).documents
        val rix = "graft_q228_rix"; val lsh = "graft_q228_lsh"
        val ivm = "graft_q228_ivm"
        Seq("postings", "meta", "sets", "batches", "deleted").foreach(s =>
          Seq(rix, lsh).foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t}_$s")))
        spark.sql(s"DROP TABLE IF EXISTS $ivm")
        // two batches of debt on each family, three different kinds —
        // the three ladders touch disjoint tables/paths and overlap
        // (guide §2.6); each family's build→extend order is preserved
        // inside its own closure
        val half = docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("id"), col("text"))
        val o = Tables(spark, dir).orders
        graft.core.Par.run(Seq[() => Unit](
          () => {
            RetrievalIndex.build(docs.filter(col("doc_id") % 3 === 0), rix,
              graft.core.Scratch.path(rix))
            (1 to 2).foreach(b => RetrievalIndex.extend(
              docs.filter(col("doc_id") % 3 === b), rix, batchId = b.toLong))
          },
          () => {
            Dedup.buildNearDupIndex(half.filter(col("id") % 3 === 0), lsh,
              graft.core.Scratch.path(lsh))
            (1 to 2).foreach(b => Dedup.extendNearDupIndex(spark,
              half.filter(col("id") % 3 === b), lsh, batchId = b.toLong))
          },
          () => {
            graft.operators.IvmRollup.build(o, col("o_custkey"),
              col("o_totalprice"), ivm, graft.core.Scratch.path(ivm))
            (1 to 2).foreach(b => graft.operators.IvmRollup.applyDelta(spark, ivm,
              o.filter(col("o_orderkey") % 97 === b)
                .select(col("o_custkey").as("key"), lit(1L).as("dn"),
                  col("o_totalprice").cast(DecimalType(38, 2)).as("dr")),
              batchId = b.toLong))
          }))(_())
        val fleet = Seq(
          Family(rix, "retrieval", graft.core.Scratch.path(rix)),
          Family(lsh, "lsh", graft.core.Scratch.path(lsh)),
          Family(ivm, "rollup", graft.core.Scratch.path(ivm)))
        val policy = Maintenance.CompactPolicy(maxBatches = 1L)
        val tick1 = Maintenance.sweep(spark, fleet, policy).collect()
        require(tick1.forall(_.getBoolean(2)),
          s"q228: all three families carry 2 batches of debt — tick 1 " +
            s"must compact them all, got ${tick1.mkString(";")}")
        val tick2 = Maintenance.sweep(spark, fleet, policy).collect()
        require(tick2.forall(!_.getBoolean(2)),
          s"q228: tick 2 must settle, got ${tick2.mkString(";")}")
        RetrievalIndex.topK(spark, rix, rankQueries)
      }),
    // q229: HOT BACKUP — consistent-cut snapshots UNDER the live stream
    // (round-10 verdict #1). q227's backups ran at epoch boundaries; a
    // real backup schedule doesn't get to choose its moment, so this
    // row takes one MID-EPOCH: epoch 3's data append has landed but its
    // marker has not (the one legal crash-window state). exportAtCut
    // reads the family's commit marker, cuts every stamped table at
    // max(committed) — the in-flight stamp is excluded by construction
    // (SnapshotSpec pins the manifest) — and the export is byte-
    // identical to one taken at the last commit boundary, no stream
    // stop, no refusal. Then the full DR composition: the live family
    // is destroyed, the chain (full + 2 cut deltas) deep-verifies and
    // restores to the cut, and the SAME checkpointed stream re-delivers
    // everything past it — the first re-delivered stamp is cut + 1 and
    // passes the writer fence, exactly WAL-shipping semantics. Oracle =
    // the whole-corpus ranking SQL: "back up mid-epoch under a live
    // stream, lose the world, restore, keep streaming == never
    // crashed", scores included, cross-engine.
    GraftQuery("q229_hot_backup", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.{Maintenance, Snapshot}
        val docs = Tables(spark, dir).documents
        val table = "graft_q229_rix"
        val path = graft.core.Scratch.path(table)
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        def slice(e: Long) = docs.filter(col("doc_id") % 5 === e)
        // epoch 0 (cold build, marker {0, 1}) → full backup at cut 1
        graft.streaming.RetrievalStream.foldEpoch(slice(0), 0L, table, path)
        val full = graft.core.Scratch.path("q229_snap_full")
        val (cut0, _) = Snapshot.exportAtCut(spark, table, "retrieval", full)
        require(cut0 == 1L, s"q229: expected cut 1 after epoch 0, got $cut0")
        // epoch 1 → cut delta while quiet (cut = its own stamp 2)
        graft.streaming.RetrievalStream.foldEpoch(slice(1), 1L, table, path)
        val d1 = graft.core.Scratch.path("q229_snap_d1")
        Snapshot.exportAtCut(spark, table, "retrieval", d1,
          incrementalFrom = Some(full))
        // epoch 2 commits (stamp 3); epoch 3's DATA lands but its
        // marker does not — the stream is mid-epoch, stamp 4 in flight
        graft.streaming.RetrievalStream.foldEpoch(slice(2), 2L, table, path)
        Ledger.crashBeforeMarker(
          graft.streaming.RetrievalStream.foldEpoch(slice(3), 3L, table, path))
        // the hot-backup moment: no quiescence, no refusal — the cut is
        // the max COMMITTED stamp, so the backup captures epochs 0..2
        // and excludes the in-flight appends exactly
        val d2 = graft.core.Scratch.path("q229_snap_d2")
        val (cut2, _) = Snapshot.exportAtCut(spark, table, "retrieval", d2,
          incrementalFrom = Some(d1))
        require(cut2 == 3L, s"q229: expected cut 3 mid-epoch, got $cut2")
        // the stream finishes epoch 3 (the crashed-replay path re-runs
        // the data append byte-identically, then commits) and epoch 4
        graft.streaming.RetrievalStream.foldEpoch(slice(3), 3L, table, path)
        graft.streaming.RetrievalStream.foldEpoch(slice(4), 4L, table, path)
        // disaster — then the runbook: deep-verify the chain, restore
        // (lands the cut state: epochs 0..2), fsck
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        val audit = Snapshot.verify(spark, d2).filter(!col("ok")).collect()
        require(audit.isEmpty, s"q229: backup audit flagged ${audit.mkString("; ")}")
        Snapshot.restore(spark, d2, table,
          graft.core.Scratch.path(table + "_restored"))
        val bad = Maintenance.fsck(spark, table, "retrieval")
          .filter(!col("ok")).collect()
        require(bad.isEmpty, s"q229: restored fsck flagged ${bad.mkString("; ")}")
        // the SAME stream re-delivers everything past the cut: epoch 3's
        // stamp is cut + 1 and passes the fence on the restored marker
        graft.streaming.RetrievalStream.foldEpoch(slice(3), 3L, table, path)
        graft.streaming.RetrievalStream.foldEpoch(slice(4), 4L, table, path)
        graft.operators.RetrievalIndex.topK(spark, table, rankQueries)
      }),
    // q230: HETEROGENEOUS fleet policies (round-10 verdict #4) — q228's
    // sweep applied one debt tolerance to every family, but a hot
    // serving index and a cold archive do not share one: this fleet
    // carries the SAME two batches of debt on both families, and the
    // per-family policy override splits the tick — the hot family
    // (maxBatches = 1) compacts, the cold one (maxBatches = 8) is left
    // alone, and the second tick settles to zero (the hot family is
    // freshly folded, the cold one is still under ITS OWN threshold,
    // not the fleet default's). Oracle = whole-corpus ranking over the
    // swept hot family: a policy-split sweep still serves exactly like
    // a from-scratch index.
    GraftQuery("q230_fleet_policies", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.{Dedup, Maintenance, RetrievalIndex}
        import graft.operators.Maintenance.{CompactPolicy, Family}
        val docs = Tables(spark, dir).documents
        val hot = "graft_q230_rix"; val cold = "graft_q230_lsh"
        Seq("postings", "meta", "sets", "batches", "deleted").foreach(s =>
          Seq(hot, cold).foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t}_$s")))
        // the two family ladders touch disjoint tables/paths — overlap
        // them (guide §2.6), order preserved inside each closure
        val half = docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("id"), col("text"))
        graft.core.Par.run(Seq[() => Unit](
          () => {
            RetrievalIndex.build(docs.filter(col("doc_id") % 3 === 0), hot,
              graft.core.Scratch.path(hot))
            (1 to 2).foreach(b => RetrievalIndex.extend(
              docs.filter(col("doc_id") % 3 === b), hot, batchId = b.toLong))
          },
          () => {
            Dedup.buildNearDupIndex(half.filter(col("id") % 3 === 0), cold,
              graft.core.Scratch.path(cold))
            (1 to 2).foreach(b => Dedup.extendNearDupIndex(spark,
              half.filter(col("id") % 3 === b), cold, batchId = b.toLong))
          }))(_())
        val fleet = Seq(
          Family(hot, "retrieval", graft.core.Scratch.path(hot),
            policy = Some(CompactPolicy(maxBatches = 1L))),
          Family(cold, "lsh", graft.core.Scratch.path(cold),
            policy = Some(CompactPolicy(maxBatches = 8L))))
        // the fleet DEFAULT would compact both — the overrides decide
        val tick1 = Maintenance.sweep(spark, fleet,
          CompactPolicy(maxBatches = 1L)).collect()
          .map(r => r.getString(0) -> r.getBoolean(2)).toMap
        require(tick1(hot) && !tick1(cold),
          s"q230: tick 1 must compact only the hot family, got $tick1")
        val tick2 = Maintenance.sweep(spark, fleet,
          CompactPolicy(maxBatches = 1L)).collect()
        require(tick2.forall(!_.getBoolean(2)),
          s"q230: tick 2 must settle, got ${tick2.mkString(";")}")
        RetrievalIndex.topK(spark, hot, rankQueries)
      }),
    // q231: BACKUP RETENTION (round-10 verdict #2) — compacts start new
    // full-backup epochs (q223's chain-break contract), so chains
    // accumulate until a prune verb retires them; the failure prune
    // must never allow is deleting the old epoch on the strength of a
    // new backup that turns out damaged. The row stages the whole
    // runbook: chain A (full + delta) → compact (breaks A's anchor) →
    // chain B (the new epoch's full export) → prune(keep = B,
    // superseded = chainDirs(A)) — which deep-verifies B (row counts
    // AND content digests) BEFORE deleting, and is pinned in-row to
    // REFUSE a superseded list containing B itself (self-amputation).
    // After the prune, A's directories are gone and B restores and
    // serves. Oracle = whole-corpus ranking over the restored family:
    // retention never touched the surviving backup's bytes.
    GraftQuery("q231_snapshot_prune", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.{RetrievalIndex, Snapshot}
        val docs = Tables(spark, dir).documents
        val table = "graft_q231_rix"
        val path = graft.core.Scratch.path(table)
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        RetrievalIndex.build(docs.filter(col("doc_id") % 2 === 0), table, path)
        val aFull = graft.core.Scratch.path("q231_a_full")
        Snapshot.export(spark, table, aFull)
        RetrievalIndex.extend(docs.filter(col("doc_id") % 2 === 1), table,
          batchId = 1L)
        val aDelta = graft.core.Scratch.path("q231_a_delta")
        Snapshot.export(spark, table, aDelta, incrementalFrom = Some(aFull))
        // the compact rewrites history — chain A can anchor no more
        // deltas (q223 pins the refusal); a NEW full epoch begins
        RetrievalIndex.compact(spark, table, path)
        val bFull = graft.core.Scratch.path("q231_b_full")
        Snapshot.export(spark, table, bFull)
        // self-amputation fence: the kept chain's own links must refuse
        val e = try {
          Snapshot.prune(spark, bFull, Seq(bFull))
          sys.error("q231: prune accepted its own chain as superseded")
        } catch { case ex: IllegalArgumentException => ex }
        require(e.getMessage.contains("kept chain"), e.getMessage)
        val gone = Snapshot.prune(spark, bFull,
          Snapshot.chainDirs(spark, aDelta))
        require(gone.toSet == Set(aFull, aDelta),
          s"q231: pruned $gone, expected chain A")
        val fs = new org.apache.hadoop.fs.Path(aFull)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(!fs.exists(new org.apache.hadoop.fs.Path(aFull)) &&
          !fs.exists(new org.apache.hadoop.fs.Path(aDelta)),
          "q231: superseded chain directories must be gone")
        val restored = "graft_q231_restored"
        Seq("", "_postings", "_meta", "_deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS $restored$s"))
        Snapshot.restore(spark, bFull, restored,
          graft.core.Scratch.path(restored))
        RetrievalIndex.topK(spark, restored, rankQueries)
      }),
    // q232: WARM STANDBY (log shipping) — the backup chain as
    // continuous replication: restore replays a whole chain from cold,
    // so a replica re-running it per link would pay the full rebuild
    // every time; Snapshot.applyLink appends ONE link's slices through
    // the replica's bucket layout instead, fenced by the stamp ledger
    // (the replica must hold exactly recorded − slice before, recorded
    // after — skipped/out-of-order links refuse loudly; re-shipped
    // links no-op). The row runs the deployment: primary streams 4
    // epochs + a tombstone delete; a full cut-export seeds the standby
    // once, then every subsequent exportAtCut delta ships as it lands —
    // including the delete link, which BIRTHS the _deleted ledger on
    // the replica and shifts its idf N through the shipped signed
    // _meta row. Oracle = the from-scratch ranking SQL of the
    // surviving corpus served FROM THE REPLICA: log shipping
    // reproduced the primary exactly, scores included, cross-engine.
    GraftQuery("q232_standby_replica",
      Some(keywordTopKSqlOver("doc_id % 7 != 3")),
      (spark, dir) => {
        import graft.operators.{RetrievalIndex, Snapshot}
        val docs = Tables(spark, dir).documents
        val primary = "graft_q232_p"; val standby = "graft_q232_s"
        Seq(primary, standby).foreach(t =>
          Seq("postings", "meta", "deleted").foreach(s =>
            spark.sql(s"DROP TABLE IF EXISTS ${t}_$s")))
        val ppath = graft.core.Scratch.path(primary)
        val spath = graft.core.Scratch.path(standby)
        graft.streaming.RetrievalStream.foldEpoch(
          docs.filter(col("doc_id") % 4 === 0), 0L, primary, ppath)
        val full = graft.core.Scratch.path("q232_full")
        Snapshot.exportAtCut(spark, primary, "retrieval", full)
        Snapshot.restore(spark, full, standby, spath)
        var parent = full
        (1 to 3).foreach { e =>
          graft.streaming.RetrievalStream.foldEpoch(
            docs.filter(col("doc_id") % 4 === e), e.toLong, primary, ppath)
          val d = graft.core.Scratch.path(s"q232_d$e")
          Snapshot.exportAtCut(spark, primary, "retrieval", d,
            incrementalFrom = Some(parent))
          if (e == 3) {
            // round-11 verdict #5: the mid-link READ. Stage the crash
            // window on the replica — the link's postings DATA lands,
            // its _meta marker does not — and read through the
            // committed-cut views: they must serve the LAST SHIPPED
            // commit boundary exactly, not the torn data-without-marker
            // mix a raw read would see (postings indexed under an N
            // that hasn't shifted). applyLink then completes the link
            // restartably: the pre-landed postings skip on their
            // stamps, the marker lands, and the views flip to the new
            // boundary atomically.
            val before = graft.operators.RetrievalIndex
              .topK(spark, standby, rankQueries).collect()
              .map(_.toSeq).toSet
            spark.read.parquet(s"$d/postings")
              .write.mode(org.apache.spark.sql.SaveMode.Append)
              .insertInto(s"${standby}_postings")
            val (cutS, _) = Snapshot.serveAtCut(spark, standby,
              "retrieval", "graft_q232_view")
            require(cutS == 3L, s"q232: expected shipped cut 3, got $cutS")
            val mid = graft.operators.RetrievalIndex
              .topK(spark, "graft_q232_view", rankQueries).collect()
              .map(_.toSeq).toSet
            require(mid == before,
              "q232: a mid-link read through serveAtCut must equal the " +
                "last shipped commit boundary")
          }
          require(Snapshot.applyLink(spark, d, standby, spath,
            "retrieval") > 0L, s"q232: link $e shipped nothing")
          parent = d
        }
        RetrievalIndex.deleteDocs(spark,
          docs.filter(col("doc_id") % 7 === 3).select("doc_id"), primary,
          ppath, batchId = 5L)
        val dDel = graft.core.Scratch.path("q232_ddel")
        Snapshot.exportAtCut(spark, primary, "retrieval", dDel,
          incrementalFrom = Some(parent))
        Snapshot.applyLink(spark, dDel, standby, spath, "retrieval")
        RetrievalIndex.topK(spark, standby, rankQueries)
      }),
    // q233: HOT BACKUP of the MARKERLESS family (round-11 verdict #2) —
    // q229 covered the six marker-ful kinds; the rollup was the last
    // family whose backups required quiescence (no marker, no committed
    // cut to read). Its ledger defines a surrogate: every batch is ONE
    // atomic append of a deterministic aggregate keyed by (key,
    // batch_id), so committed == landed, the cut is the max visible
    // stamp, and export proves the slice STABLE (live <= cut count +
    // digest unchanged across the copy — a mid-landing batch refuses
    // rather than tears; SnapshotSpec stages the refusal through the
    // race seam). The row runs the full WAL-shipping composition under
    // a live IvmStream: 3 epochs with a full + 2 cut-delta exports
    // interleaved (the last mid-stream), 2 more epochs, disaster,
    // deep-verify, restore to the cut, and re-delivery FROM the cut
    // epoch inclusive — its replay appends byte-identical rows that
    // serve's (key, batch_id) collapse folds, the documented rollup
    // resume contract. Oracle = the from-scratch aggregate over ALL
    // five epochs (the whole orders table): "hot-back-up a markerless
    // family mid-stream, lose the world, restore, keep streaming ==
    // never crashed", sums exact, cross-engine.
    GraftQuery("q233_rollup_hot_backup",
      Some("""
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
        FROM orders GROUP BY o_custkey""".trim),
      (spark, dir) => {
        import graft.operators.{IvmRollup, Snapshot}
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val o = Tables(spark, dir).orders
        val table = "graft_q233_ivm"
        val path = graft.core.Scratch.path(table)
        spark.sql(s"DROP TABLE IF EXISTS $table")
        def epoch(e: Int) = o.filter(col("o_orderkey") % 5 === e)
          .select(col("o_custkey").as("key"), lit(1L).as("dn"),
            col("o_totalprice").cast(DecimalType(38, 2)).as("dr"))
        // epoch 0 is the cold start (empty base 0 + delta stamp 1) →
        // full backup at cut 1
        graft.streaming.IvmStream.foldEpoch(epoch(0), 0L, table, path)
        val full = graft.core.Scratch.path("q233_snap_full")
        val (cut0, _) = Snapshot.exportAtCut(spark, table, "rollup", full)
        require(cut0 == 1L, s"q233: expected cut 1 after epoch 0, got $cut0")
        graft.streaming.IvmStream.foldEpoch(epoch(1), 1L, table, path)
        val d1 = graft.core.Scratch.path("q233_snap_d1")
        Snapshot.exportAtCut(spark, table, "rollup", d1,
          incrementalFrom = Some(full))
        // the hot-backup moment: the stream is live, no quiescence —
        // the surrogate cut is the ledger's own newest atomic batch
        graft.streaming.IvmStream.foldEpoch(epoch(2), 2L, table, path)
        val d2 = graft.core.Scratch.path("q233_snap_d2")
        val (cut2, _) = Snapshot.exportAtCut(spark, table, "rollup", d2,
          incrementalFrom = Some(d1))
        require(cut2 == 3L, s"q233: expected cut 3 mid-stream, got $cut2")
        // the stream runs on past the backup
        graft.streaming.IvmStream.foldEpoch(epoch(3), 3L, table, path)
        graft.streaming.IvmStream.foldEpoch(epoch(4), 4L, table, path)
        // disaster — deep-verify the chain, restore the cut state
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val audit = Snapshot.verify(spark, d2).filter(!col("ok")).collect()
        require(audit.isEmpty, s"q233: backup audit flagged ${audit.mkString("; ")}")
        Snapshot.restore(spark, d2, table,
          graft.core.Scratch.path(table + "_restored"))
        // re-delivery FROM the cut epoch (inclusive — the markerless
        // resume contract): epoch 2's replay collapses byte-identically
        // on its preserved stamp, epochs 3 and 4 land fresh
        graft.streaming.IvmStream.foldEpoch(epoch(2), 2L, table, path)
        graft.streaming.IvmStream.foldEpoch(epoch(3), 3L, table, path)
        graft.streaming.IvmStream.foldEpoch(epoch(4), 4L, table, path)
        IvmRollup.serve(spark, table)
          .select(col("key").as("o_custkey"), col("n").as("n_orders"),
            col("total").cast(DoubleType).as("revenue")) // Num.dsum rule
      }),
    // q234: CHAIN REBASE (synthetic full backup) — between compacts a
    // family's backup chain grows one delta per tick, and every restore
    // or standby re-seed pays O(links); a nightly full export would
    // bound that but re-reads the PRIMARY's whole history (the exact
    // cost deltas exist to avoid). Snapshot.rebase squashes the chain
    // into a parent-less full OFF TO THE SIDE — chain bytes only, zero
    // primary I/O — and its integrity is arithmetic, not trust: the
    // head's additive cumulative digests PREDICT what the squashed
    // bytes must hash to, and rebase refuses any mismatch. The row
    // drives the full retention cycle: 3-link chain → rebase →
    // restore-equivalence at the serve surface (chain restore ==
    // rebased restore, ranked rows identical) → the lineage CONTINUES
    // from the synthetic full (next cut delta anchors on it, parent
    // audit and all) → prune retires the old chain against the new
    // lineage → disaster → restore + re-delivery through the writer
    // fence. Oracle = whole-corpus ranking: a lineage that passed
    // through a rebase serves exactly like a from-scratch index.
    GraftQuery("q234_chain_rebase", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.{RetrievalIndex, Snapshot}
        import graft.streaming.RetrievalStream
        val docs = Tables(spark, dir).documents
        val table = "graft_q234_rix"
        val path = graft.core.Scratch.path(table)
        Seq(table, s"${table}_a", s"${table}_b").foreach(t =>
          Seq("postings", "meta", "deleted").foreach(s =>
            spark.sql(s"DROP TABLE IF EXISTS ${t}_$s")))
        def slice(e: Long) = docs.filter(col("doc_id") % 5 === e)
        RetrievalStream.foldEpoch(slice(0), 0L, table, path)
        val full = graft.core.Scratch.path("q234_full")
        Snapshot.exportAtCut(spark, table, "retrieval", full)
        RetrievalStream.foldEpoch(slice(1), 1L, table, path)
        val d1 = graft.core.Scratch.path("q234_d1")
        Snapshot.exportAtCut(spark, table, "retrieval", d1,
          incrementalFrom = Some(full))
        RetrievalStream.foldEpoch(slice(2), 2L, table, path)
        val d2 = graft.core.Scratch.path("q234_d2")
        Snapshot.exportAtCut(spark, table, "retrieval", d2,
          incrementalFrom = Some(d1))
        // three links deep — squash to a synthetic full, off to the side
        val rb = graft.core.Scratch.path("q234_rebase")
        Snapshot.rebase(spark, d2, rb)
        // equivalence at the serve surface: restoring the 3-link chain
        // and the 1-link rebase must rank identically
        Snapshot.restore(spark, d2, s"${table}_a",
          graft.core.Scratch.path(s"${table}_a"))
        Snapshot.restore(spark, rb, s"${table}_b",
          graft.core.Scratch.path(s"${table}_b"))
        val a = RetrievalIndex.topK(spark, s"${table}_a", rankQueries)
          .collect().map(_.toSeq).toSet
        val b = RetrievalIndex.topK(spark, s"${table}_b", rankQueries)
          .collect().map(_.toSeq).toSet
        require(a == b && a.nonEmpty,
          "q234: rebased restore diverged from the chain restore")
        // the lineage continues FROM the rebase: epoch 3 folds on the
        // primary, the next cut delta anchors on the synthetic full
        // (the parent audit holds — cumulative totals are the head's)
        RetrievalStream.foldEpoch(slice(3), 3L, table, path)
        val d3 = graft.core.Scratch.path("q234_d3")
        Snapshot.exportAtCut(spark, table, "retrieval", d3,
          incrementalFrom = Some(rb))
        // retention: the old chain retires against the NEW lineage —
        // prune deep-verifies [rebase, d3] before deleting anything
        val removed = Snapshot.prune(spark, d3, Snapshot.chainDirs(spark, d2))
        require(removed.size == 3,
          s"q234: expected the 3 old links pruned, got $removed")
        // disaster — restore the rebased lineage (epochs 0..3), then the
        // stream re-delivers epoch 4 as stamp cut + 1 through the fence
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$s"))
        Snapshot.restore(spark, d3, table,
          graft.core.Scratch.path(table + "_restored"))
        RetrievalStream.foldEpoch(slice(4), 4L, table, path)
        RetrievalIndex.topK(spark, table, rankQueries)
      }),
    // q235: FLEET-CONSISTENT SNAPSHOT — a corpus never feeds one index:
    // the same document epochs fan out to a retrieval index AND a
    // rollup aggregate here, and restoring each family at its OWN max
    // committed stamp reassembles a fleet whose members disagree about
    // which upstream epochs happened. exportFleetAtCut takes ONE cut —
    // the minimum of the members' committed cuts, an actual upstream
    // moment under the house epochId+1 stamping — and the row stages
    // exactly the skew that makes it necessary: retrieval has committed
    // epoch 2 while the rollup lags at epoch 1, so the fleet cut is the
    // LAGGING member's. Disaster destroys both; restoreFleet lands both
    // at the same cut (refusing half-fleets — the fleet manifest is
    // written last), and the CROSS-FAMILY assert is the point: two
    // independent derivations of the same upstream agree on corpus
    // cardinality at the cut (retrieval's summed marker n_docs == the
    // rollup's total n). The shared stream then re-delivers epochs 2..3
    // to both members in lockstep through their writer fences. Oracle =
    // the from-scratch aggregate over ALL docs: "lose the fleet,
    // restore at one moment, keep streaming == never crashed".
    GraftQuery("q235_fleet_snapshot",
      Some("""
        SELECT CAST(doc_id % 10 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
        FROM documents GROUP BY 1""".trim),
      (spark, dir) => {
        import graft.operators.{IvmRollup, Snapshot}
        import graft.streaming.{IvmStream, RetrievalStream}
        import org.apache.spark.sql.functions.{length, lit, sum}
        import org.apache.spark.sql.types.{DecimalType, LongType}
        val docs = Tables(spark, dir).documents
        val rix = "graft_q235_rix"; val roll = "graft_q235_ivm"
        Seq(rix, s"${rix}_r").foreach(t =>
          Seq("postings", "meta", "deleted").foreach(s =>
            spark.sql(s"DROP TABLE IF EXISTS ${t}_$s")))
        Seq(roll, s"${roll}_r").foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS $t"))
        val rixPath = graft.core.Scratch.path(rix)
        val rollPath = graft.core.Scratch.path(roll)
        def dslice(e: Long) = docs.filter(col("doc_id") % 4 === e)
        def change(e: Long) = dslice(e).select(
          (col("doc_id") % 10).as("key"), lit(1L).as("dn"),
          length(col("text")).cast(DecimalType(38, 2)).as("dr"))
        // the same upstream epochs fan out to both families — the two
        // members' folds are independent per epoch; overlap the pair
        // (guide §2.6; epoch order preserved per member)
        Seq(0L, 1L).foreach { e =>
          graft.core.Par.run(Seq[() => Unit](
            () => RetrievalStream.foldEpoch(dslice(e), e, rix, rixPath),
            () => IvmStream.foldEpoch(change(e), e, roll, rollPath)))(_())
        }
        // the skew moment: retrieval commits epoch 2, the rollup lags
        RetrievalStream.foldEpoch(dslice(2), 2L, rix, rixPath)
        val fleet = graft.core.Scratch.path("q235_fleet")
        val (cut, _) = Snapshot.exportFleetAtCut(spark,
          Seq(rix -> "retrieval", roll -> "rollup"), fleet)
        require(cut == 2L,
          s"q235: the fleet cut should be the lagging member's 2, got $cut")
        // the rollup catches up, both fold epoch 3 — then the disaster
        IvmStream.foldEpoch(change(2), 2L, roll, rollPath)
        RetrievalStream.foldEpoch(dslice(3), 3L, rix, rixPath)
        IvmStream.foldEpoch(change(3), 3L, roll, rollPath)
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${rix}_$s"))
        spark.sql(s"DROP TABLE IF EXISTS $roll")
        val (rcut, renamed) = Snapshot.restoreFleet(spark, fleet,
          t => t + "_r", graft.core.Scratch.path("q235_restored"))
        require(rcut == 2L, s"q235: restored fleet cut $rcut, expected 2")
        // CROSS-FAMILY consistency at the restored cut: both members
        // describe the same upstream prefix (epochs 0..1)
        val metaN = spark.table(s"${renamed(rix)}_meta")
          .agg(sum(col("n_docs"))).collect()(0).getLong(0)
        val rollN = IvmRollup.serve(spark, renamed(roll))
          .agg(sum(col("n"))).collect()(0).getLong(0)
        require(metaN == rollN && metaN > 0,
          s"q235: restored members disagree about the cut's corpus — " +
            s"retrieval N $metaN vs rollup N $rollN")
        // the shared stream re-delivers epochs 2..3 to BOTH members in
        // lockstep (stamp cut + 1 first — each writer fence accepts)
        Seq(2L, 3L).foreach { e =>
          graft.core.Par.run(Seq[() => Unit](
            () => RetrievalStream.foldEpoch(dslice(e), e, renamed(rix),
              graft.core.Scratch.path(renamed(rix) + "_live")),
            () => IvmStream.foldEpoch(change(e), e, renamed(roll),
              graft.core.Scratch.path(renamed(roll) + "_live"))))(_())
        }
        IvmRollup.serve(spark, renamed(roll)).select(
          col("key").as("bucket"), col("n").as("n_docs"),
          col("total").cast(LongType).as("n_chars"))
      }),
    // q236: BACKUP AUTOPILOT — the round's snapshot verbs, scheduled:
    // q229-q235 drove each verb by hand; a real deployment runs a
    // scheduler tick, and this row drives the WHOLE lifecycle through
    // Maintenance.sweep carrying a BackupPolicy. One family, seven
    // ticks: first tick takes the full; an idle tick settles to none
    // (idempotence); each committed epoch takes a cut delta; the third
    // link trips the rebase threshold (synthetic full + retention prune
    // of the superseded lineage, deep-verified first); a HUNGRY tick
    // compacts the family and the SAME tenure's backup rolls the
    // full-backup epoch automatically (the delta's parent audit refuses
    // against rewritten history — or the cut goes backward — and the
    // autopilot answers with a fresh full instead of a stale lineage);
    // post-roll the lineage continues with deltas. Then the disaster:
    // the family vanishes, the runbook is ONE discovery (latestBackup
    // on the autopilot root) + one restore + re-delivery through the
    // writer fence. Oracle = whole-corpus ranking: an index that lived
    // through scheduled backups, a rebase, a compact-triggered epoch
    // roll, and a restore serves exactly like a from-scratch build.
    GraftQuery("q236_backup_autopilot", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.{Maintenance, RetrievalIndex, Snapshot}
        import graft.operators.Maintenance.{CompactPolicy, Family}
        import graft.streaming.RetrievalStream
        val docs = Tables(spark, dir).documents
        val rix = "graft_q236_rix"
        val path = graft.core.Scratch.path(rix)
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${rix}_$s"))
        val broot = graft.core.Scratch.path("q236_backups")
        val rp = new org.apache.hadoop.fs.Path(broot)
        rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(rp, true) // fresh autopilot root per run
        val bp = Snapshot.BackupPolicy(broot, everyBatches = 1L,
          rebaseAfterLinks = 2)
        def tick(cp: CompactPolicy): String = Maintenance.sweep(spark,
          Seq(Family(rix, "retrieval", path, backup = Some(bp))), cp)
          .collect()(0).getString(3)
        val lenient = CompactPolicy()              // compaction never due
        val hungry = CompactPolicy(maxBatches = 1L)
        def slice(e: Long) = docs.filter(col("doc_id") % 6 === e)
        RetrievalStream.foldEpoch(slice(0), 0L, rix, path)
        val t1 = tick(lenient)
        require(t1 == "full", s"q236: first tick must take a full, got $t1")
        val t2 = tick(lenient)
        require(t2 == "none", s"q236: an idle tick must settle, got $t2")
        RetrievalStream.foldEpoch(slice(1), 1L, rix, path)
        val t3 = tick(lenient)
        require(t3 == "delta", s"q236: one commit -> one delta, got $t3")
        RetrievalStream.foldEpoch(slice(2), 2L, rix, path)
        // the 3rd link exceeds rebaseAfterLinks = 2: the same tick
        // rebases and prunes the superseded lineage (deep-verified)
        val t4 = tick(lenient)
        require(t4 == "delta+rebase+prune",
          s"q236: the lineage must rebase + retire, got $t4")
        RetrievalStream.foldEpoch(slice(3), 3L, rix, path)
        // the hungry tick compacts — and its OWN backup rolls the epoch
        val t5 = tick(hungry)
        require(t5 == "full+prune",
          s"q236: a compacting tick must roll the backup epoch, got $t5")
        RetrievalStream.foldEpoch(slice(4), 4L, rix, path)
        val t6 = tick(lenient)
        require(t6 == "delta", s"q236: post-roll lineage continues, got $t6")
        // disaster — discovery names the head, restore, re-deliver
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${rix}_$s"))
        val head = Snapshot.latestBackup(spark, s"$broot/$rix")
          .getOrElse(sys.error("q236: autopilot root lost its lineage"))
        Snapshot.restore(spark, head, rix,
          graft.core.Scratch.path(rix + "_restored"))
        RetrievalStream.foldEpoch(slice(5), 5L, rix, path)
        RetrievalIndex.topK(spark, rix, rankQueries)
      }),
    // q237: STANDBY FOLLOWER + PROMOTION — the consumer side of q236's
    // autopilot: a warm standby follows the scheduled-backup lineage
    // with NO coordination beyond the shared backup root (seed once,
    // then per-link shipping of every link past the replica's cut), and
    // the row drives every regime transition the protocol admits: seed
    // → current (idempotent) → per-link applies → RESEED when the
    // follower lags a rebase (the links it needed were pruned — the
    // WAL-shipping contract; the loud reseed=false refusal is
    // spec-pinned) → per-link again → a hungry tick compacts the
    // primary and the next backup rolls the full-backup epoch, which
    // per-link shipping cannot cross → reseed → per-link again. Then
    // the PROMOTION: the primary dies, and the replica — a live family
    // with a clean ledger, not a read-only copy — takes the next epoch
    // directly through its own writer fence. Oracle = whole-corpus
    // ranking SERVED FROM THE PROMOTED REPLICA: scheduled backups +
    // follower + promotion == an index that never failed over.
    GraftQuery("q237_standby_follower", Some(keywordTopKSql),
      (spark, dir) => {
        import graft.operators.{Maintenance, RetrievalIndex, Snapshot}
        import graft.operators.Maintenance.{CompactPolicy, Family}
        import graft.streaming.RetrievalStream
        val docs = Tables(spark, dir).documents
        val rix = "graft_q237_rix"; val rep = "graft_q237_rep"
        val path = graft.core.Scratch.path(rix)
        val rpath = graft.core.Scratch.path(rep)
        Seq(rix, rep).foreach(t => Seq("postings", "meta", "deleted")
          .foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${t}_$s")))
        val broot = graft.core.Scratch.path("q237_backups")
        val bfs = new org.apache.hadoop.fs.Path(broot)
        bfs.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(bfs, true)
        val famRoot = s"$broot/$rix"
        val bp = Snapshot.BackupPolicy(broot, everyBatches = 1L,
          rebaseAfterLinks = 3)
        def tick(cp: CompactPolicy): String = Maintenance.sweep(spark,
          Seq(Family(rix, "retrieval", path, backup = Some(bp))), cp)
          .collect()(0).getString(3)
        def follow(): String =
          Snapshot.followLineage(spark, famRoot, rep, rpath, "retrieval",
            reseed = true)
        val lenient = CompactPolicy()
        def slice(e: Long) = docs.filter(col("doc_id") % 8 === e)
        RetrievalStream.foldEpoch(slice(0), 0L, rix, path)
        require(tick(lenient) == "full", "q237: first tick takes the full")
        require(follow() == "seed", "q237: first follow seeds the replica")
        require(follow() == "current", "q237: an idle follow is a no-op")
        Seq(1L, 2L).foreach { e =>
          RetrievalStream.foldEpoch(slice(e), e, rix, path)
          val t = tick(lenient); require(t == "delta", s"q237: $t")
          val f = follow(); require(f == "applied=1", s"q237: $f")
        }
        // the replica now serves the primary's cut exactly
        require(RetrievalIndex.topK(spark, rep, rankQueries).collect()
          .map(_.toSeq).toSet ==
          RetrievalIndex.topK(spark, rix, rankQueries).collect()
            .map(_.toSeq).toSet,
          "q237: follower must serve the primary's committed state")
        // epoch 3's tick rebases (4 links > 3) AND prunes — a follower
        // that lagged this tick lost its per-link path; it reseeds
        RetrievalStream.foldEpoch(slice(3), 3L, rix, path)
        val t3 = tick(lenient)
        require(t3 == "delta+rebase+prune", s"q237: $t3")
        require(follow() == "reseed",
          "q237: a follower lagging a rebase reseeds (links were pruned)")
        RetrievalStream.foldEpoch(slice(4), 4L, rix, path)
        require(tick(lenient) == "delta", "q237: post-rebase delta")
        require(follow() == "applied=1", "q237: post-rebase per-link resumes")
        // the hungry tick compacts; no backup is due, and the replica's
        // state is still logically the primary's commit boundary
        val th = Maintenance.sweep(spark,
          Seq(Family(rix, "retrieval", path, backup = Some(bp))),
          CompactPolicy(maxBatches = 1L)).collect()(0)
        require(th.getBoolean(2) && th.getString(3) == "none",
          s"q237: the hungry tick compacts, backup not due: $th")
        require(follow() == "current",
          "q237: a compact alone does not move the lineage")
        // the NEXT due delta refuses against compacted history and the
        // autopilot rolls the epoch — per-link cannot cross it: reseed
        RetrievalStream.foldEpoch(slice(5), 5L, rix, path)
        val t5 = tick(lenient)
        require(t5 == "full+prune", s"q237: the epoch must roll, got $t5")
        require(follow() == "reseed",
          "q237: per-link shipping cannot cross a full-backup epoch roll")
        RetrievalStream.foldEpoch(slice(6), 6L, rix, path)
        require(tick(lenient) == "delta", "q237: post-roll delta")
        require(follow() == "applied=1", "q237: post-roll per-link resumes")
        // PROMOTION: the primary dies; the replica is a live family —
        // its ledger accepts the next epoch through its own writer fence
        Seq("postings", "meta", "deleted").foreach(s =>
          spark.sql(s"DROP TABLE IF EXISTS ${rix}_$s"))
        val bad = Maintenance.fsck(spark, rep, "retrieval")
          .filter(!col("ok")).collect()
        require(bad.isEmpty, s"q237: promoted fsck: ${bad.mkString("; ")}")
        RetrievalStream.foldEpoch(slice(7), 7L, rep, rpath)
        RetrievalIndex.topK(spark, rep, rankQueries)
      }),
    // q180: deletion on the RETRIEVAL index — unlike the pair graph,
    // deleting documents here changes SCORES, not just membership: the
    // idf's N must shrink with the corpus. deleteDocs appends stamped
    // tombstones and commits a NEGATIVE-cardinality `_meta` row LAST
    // (the same ledger build/extend N flows through, doubling as the
    // crash marker — this row stages the crashed delete + full replay);
    // topK then anti-joins tombstones AND ranks under the shrunken N.
    // Oracle = q88's ranking SQL over documents WHERE doc_id % 7 != 3,
    // where BOTH the postings and COUNT(*) filter — so the driver's
    // hash compare proves the idf arithmetic shifted exactly as a
    // from-scratch index of the surviving corpus would.
    GraftQuery("q180_deleted_retrieval",
      Some(keywordTopKSqlOver("doc_id % 7 != 3")),
      (spark, dir) => {
        val docsAll = Tables(spark, dir).documents
        val table = "graft_q180_rix"
        val path = graft.core.Scratch.path(table)
        Seq("postings", "meta", "deleted").foreach(sfx =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$sfx"))
        graft.operators.RetrievalIndex.build(
          docsAll.filter(col("doc_id") % 2 === 0), table, path)
        graft.operators.RetrievalIndex.extend(
          docsAll.filter(col("doc_id") % 2 === 1), table, batchId = 1L)
        val victims = docsAll.filter(col("doc_id") % 7 === 3).select("doc_id")
        Ledger.crashBeforeMarker(graft.operators.RetrievalIndex.deleteDocs(
          spark, victims, table, path, batchId = 2L))
        graft.operators.RetrievalIndex.deleteDocs(
          spark, victims, table, path, batchId = 2L)
        graft.operators.RetrievalIndex.topK(spark, table, rankQueries)
      }),
    // q182: the retrieval index's FULL lifecycle — build → crashed
    // extend + replay → crashed tombstone delete + replay → COMPACT
    // (replay duplicates AND deleted docs leave physically, `_meta`
    // folds to one batch-0 row holding the exact surviving N,
    // tombstones clear, namespace resets) → topK. The q179 move on the
    // scoring tier: the oracle is q88's ranking over the surviving
    // corpus, so the hash compare proves the compacted index's idf
    // arithmetic — N now a SINGLE materialized row — still matches a
    // from-scratch index of the survivors exactly.
    GraftQuery("q182_retrieval_lifecycle",
      Some(keywordTopKSqlOver("doc_id % 7 != 3")),
      (spark, dir) => {
        val docsAll = Tables(spark, dir).documents
        val table = "graft_q182_rix"
        val path = graft.core.Scratch.path(table)
        Seq("postings", "meta", "deleted").foreach(sfx =>
          spark.sql(s"DROP TABLE IF EXISTS ${table}_$sfx"))
        graft.operators.RetrievalIndex.build(
          docsAll.filter(col("doc_id") % 2 === 0), table, path)
        val odds = docsAll.filter(col("doc_id") % 2 === 1)
        Ledger.crashBeforeMarker(
          graft.operators.RetrievalIndex.extend(odds, table, batchId = 1L))
        graft.operators.RetrievalIndex.extend(odds, table, batchId = 1L)
        val victims = docsAll.filter(col("doc_id") % 7 === 3).select("doc_id")
        Ledger.crashBeforeMarker(graft.operators.RetrievalIndex.deleteDocs(
          spark, victims, table, path, batchId = 2L))
        graft.operators.RetrievalIndex.deleteDocs(
          spark, victims, table, path, batchId = 2L)
        graft.operators.RetrievalIndex.compact(spark, table, path)
        graft.operators.RetrievalIndex.topK(spark, table, rankQueries)
      }),
    // q189: AS-OF on the RETRIEVAL index — the version-pinned ranking.
    // The memoized ladder (AsOfFixtures.retrieval: build evens / extend
    // odds / deleteDocs doc_id % 7 = 3, whose negative `_meta` row
    // shrank the live N) is served AT batch 1: the snapshot's N sums
    // only meta rows through the stamp — the signed ledger makes the
    // pin exact — so the idf arithmetic reproduces the FULL two-batch
    // corpus ranking even though the live index ranks under the
    // shrunken N. Oracle = q88's whole-corpus SQL; the hash compare is
    // "version-pinned ranking through a later delete == from-scratch
    // ranking at that version" — scores, not just membership.
    // Serve-time row; the ladder's cost is owned by q180/q182.
    GraftQuery("q189_asof_retrieval", Some(keywordTopKSql),
      (spark, dir) => graft.operators.RetrievalIndex.topK(
        spark, AsOfFixtures.retrieval(spark, dir), rankQueries, asOf = 1L)),
    // q200: DESCRIBE INDEX on the retrieval tier — q198's observability
    // theorem for this family: live_docs (the `_meta` ledger, which the
    // negative delete rows already net — never a corpus rescan),
    // distinct_terms and live_postings (the collapsed, tombstone-
    // filtered posting rows), and the deletion debt, each hash-matched
    // against scan-time SQL that RE-TOKENIZES the surviving corpus in
    // DuckDB — so "the index's self-report == the truth" holds for the
    // retrieval tier's own vocabulary and posting counts, cross-engine.
    // Runs over the memoized build/extend/delete ladder
    // (AsOfFixtures.retrieval), so the row times the stats read itself.
    // q203: DESCRIBE INDEX on the POSITIONAL tier — completes the verb
    // across every maintained index family (pair q198, retrieval q200,
    // LSH q201, IVF q202, positions q203). The phrase index has no
    // `_meta` ledger (no idf), so coverage reads the position rows
    // themselves; total_positions must equal the surviving corpus's
    // total token count — the oracle re-tokenizes in DuckDB, so the
    // hash pins "every occurrence stored exactly once" cross-engine.
    // Memoized ladder (AsOfFixtures.positions); the row times the read.
    GraftQuery("q203_positions_stats",
      Some("""
        WITH tk AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             t -> length(t) > 0) AS ts
          FROM documents WHERE doc_id % 7 != 3)
        SELECT
          CAST((SELECT COUNT(*) FROM tk WHERE len(ts) > 0) AS BIGINT) AS live_docs,
          CAST((SELECT COUNT(DISTINCT t) FROM (SELECT unnest(ts) AS t FROM tk)) AS BIGINT) AS distinct_terms,
          CAST((SELECT COUNT(*) FROM (
                  SELECT DISTINCT doc_id, t FROM (
                    SELECT doc_id, unnest(ts) AS t FROM tk))) AS BIGINT) AS posting_rows,
          CAST((SELECT SUM(len(ts)) FROM tk) AS BIGINT) AS total_positions,
          CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 7 = 3) AS BIGINT) AS tombstoned
      """.trim),
      (spark, dir) => graft.operators.RetrievalIndex.describePositions(
        spark, AsOfFixtures.positions(spark, dir))),
    GraftQuery("q200_retrieval_stats",
      Some("""
        SELECT
          CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 7 != 3) AS BIGINT) AS live_docs,
          CAST((SELECT COUNT(DISTINCT term) FROM (
                  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
                  FROM documents WHERE doc_id % 7 != 3)
                WHERE length(term) > 0) AS BIGINT) AS distinct_terms,
          CAST((SELECT COUNT(*) FROM (
                  SELECT DISTINCT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
                    FROM documents WHERE doc_id % 7 != 3)
                  WHERE length(term) > 0)) AS BIGINT) AS live_postings,
          CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 7 = 3) AS BIGINT) AS tombstoned
      """.trim),
      (spark, dir) => graft.operators.RetrievalIndex.describe(
        spark, AsOfFixtures.retrieval(spark, dir))),
    // q190: AS-OF on the POSITIONAL tier — phrase search pinned to a
    // version: the ladder (AsOfFixtures.positions) is probed AT batch 1,
    // so adjacency answers include documents a batch-2 tombstone later
    // removed. Oracle = the token-level phrase scan over the FULL
    // corpus. Serve-time row; the ladder's cost is owned by q178/q184.
    GraftQuery("q190_asof_positions", Some(phraseSearchSql),
      (spark, dir) => graft.operators.RetrievalIndex.phrase(
        spark, AsOfFixtures.positions(spark, dir), phraseQueries, asOf = 1L)),
    GraftQuery("q95_token_lift", Some(tokenLiftSql), tokenLift),
    GraftQuery("q100_hybrid_search", Some(hybridSearchSql), hybridSearch),
    GraftQuery("q105_model_score", Some(modelScoreSql), modelScore),
    GraftQuery("q107_negative_sampling", Some(negativeSamplingSql), negativeSampling),
    GraftQuery("q108_curriculum_shards", Some(curriculumShardsSql), curriculumShards),
    GraftQuery("q109_dataset_splits", Some(datasetSplitsSql), datasetSplits),
    // q110: BPE vocabulary induction (operators.BpeTrainer) — formerly a
    // rows-only entry (iterative global-argmax training); the oracle now
    // unrolls the same 10 merge iterations as chained CTEs with the
    // greedy merge application as a struct-state list_reduce fold
    // (BpeTrainer.unrolledSql — the PageRank/q46b move applied to BPE),
    // so the driver checks rows+schema+hash. BpeSpec still pins the
    // distributed trainer against a naive local implementation
    // merge-for-merge, across partitionings, and the minPairFreq early
    // stop the SQL twin does not express.
    GraftQuery("q110_bpe_vocab",
      Some(graft.operators.BpeTrainer.unrolledSql(nMerges = 10)),
      (spark, dir) => graft.operators.BpeTrainer.train(
        Tables(spark, dir).documents.select(col("text")), "text", nMerges = 10)),
    // q117: BPE ENCODE — the trained tokenizer applied back to the
    // corpus, per-document token counts + compression vs the raw
    // char+sentinel symbol stream (the number curation actually budgets
    // on: post-merge tokens, not whitespace words). Scale shape:
    // tokenization runs ONCE PER DISTINCT WORD (the Zipf collapse the
    // trainer itself uses) and the results join back to the doc→word
    // stream — tokenize cost ∝ |vocab|, never ∝ corpus; the merge table
    // is a bounded driver-side collect (10 rows, by contract). Counts
    // are exact long sums, the ratio one deterministic double division,
    // so the oracle (which re-derives the same merge table inline —
    // q110 proves rank-for-rank agreement) hash-matches bit-for-bit.
    GraftQuery("q117_bpe_encode",
      Some(graft.operators.BpeTrainer.encodeSql(nMerges = 10)),
      (spark, dir) => {
        import graft.operators.BpeTrainer
        val docs = Tables(spark, dir).documents
        val merges = BpeTrainer.train(docs.select(col("text")), "text", nMerges = 10)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val words = docs
          .select(col("doc_id"),
            explode(split(coalesce(col("text"), lit("")), "\\s+")).as("word"))
          .filter(length(col("word")) > 0)
        val dw = words.select("word").distinct()
          .withColumn("syms",
            BpeTrainer.applyMerges(BpeTrainer.charSyms(col("word")), merges))
          .select(col("word"), size(col("syms")).cast("long").as("n_toks"),
            (length(col("word")) + 1).cast("long").as("raw_syms"))
        words.join(dw, "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_toks")).as("n_bpe_tokens"),
            round(sum(col("raw_syms")).cast(DoubleType)
              / sum(col("n_toks")).cast(DoubleType), 6).as("compression"))
      }))
}

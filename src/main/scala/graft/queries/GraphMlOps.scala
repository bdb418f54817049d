package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.core.{Num, Tables}
import graft.operators.Sampling

/** Graph + embedding-space analytics a training-data pipeline runs over
  * its corpus: triangle census of the co-purchase graph (degree-oriented,
  * the formulation that survives hub nodes), a bigram language model
  * scored per document, nearest-centroid classification of the embedding
  * table, and per-label embedding diversity via the O(n) variance
  * identity instead of the O(n²) pairwise sum. All four are
  * oracle-checked; every reassociated double sum goes through the
  * decimal-exact [[graft.core.Num]] helpers so both engines reduce to the
  * same bits regardless of partitioning.
  */
object GraphMlOps {
  import Num._

  private val splitSalt = "graft-split"

  // --------------------------------------------------------------------
  // q113: triangle census of the co-purchase graph — how clustered is
  // the parts-bought-together graph? Edges are the q80 basket pairs
  // (equi self-join on the order key, baskets > 100 items excluded by
  // contract — the same skew guard, O(k²) pair gen never meets a
  // pathological basket). The count uses DEGREE ORIENTATION: each
  // undirected edge points from its (degree, id)-smaller endpoint to the
  // larger, so every triangle is counted exactly once (at its
  // lowest-ranked vertex) and — the scale property — the out-degree of
  // any vertex in the oriented graph is O(√m), which bounds both the
  // adjacency arrays and the per-edge intersection work even when the
  // raw graph has million-degree hubs. A naive u<v formulation puts a
  // hub's full neighborhood choose 2 through one key; orientation is
  // what makes a 100 TB triangle count finish. The count itself is
  // per-edge adjacency intersection (see below) — the Σ outdeg² wedge
  // stream is never materialized as rows. The DuckDB twin keeps the
  // equivalent wedge-join formulation (same count by construction;
  // GraphMlSpec pins both against the naive count).
  /** Distinct undirected co-purchase edges (u < v) among parts sharing a
    * basket, baskets > 100 items excluded by the q80 contract. Checkpoint
    * PINNED — every caller fans it into 3+ consumers (degrees, orientation,
    * counts), and unpinned re-execution of the basket self-join was the
    * bulk of q113's original 15.6 s.
    */
  private def basketEdges(spark: SparkSession, dir: String) = {
    val li0 = Tables(spark, dir).lineitem.select(col("l_orderkey"), col("l_partkey"))
    val ok = li0.groupBy("l_orderkey").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= 100).select("l_orderkey")
    val li = li0.join(ok, "l_orderkey").distinct()
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey")
          && col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
      .localCheckpoint()
  }

  /** SQL twin of [[basketEdges]]: CTE bodies `ok`, `li`, `ed`. */
  private val basketEdgesCte: String = """ok AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) <= 100),
    li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey IN (SELECT l_orderkey FROM ok)),
    ed AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)"""

  private def triangleCount(spark: SparkSession, dir: String) = {
    val ed = basketEdges(spark, dir)
    val deg = ed.select(col("u").as("id")).unionAll(ed.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val keyU = struct(col("du.d"), col("u"))
    val keyV = struct(col("dv.d"), col("v"))
    // orientation carries the upper endpoint's rank PACKED into one long
    // (deg << 40 | id — part keys < 2^40, degrees < 2^23): neighbor-set
    // membership on branks IS membership on (deg, id), and a flat long
    // array intersects far faster than an array of structs
    val oe = ed
      .join(deg.as("du"), col("u") === col("du.id"))
      .join(deg.as("dv"), col("v") === col("dv.id"))
      .select(
        when(keyU < keyV, col("u")).otherwise(col("v")).as("a"),
        when(keyU < keyV, col("v")).otherwise(col("u")).as("b"),
        when(keyU < keyV, shiftleft(col("dv.d"), 40) + col("v"))
          .otherwise(shiftleft(col("du.d"), 40) + col("u")).as("brank"))
      .localCheckpoint()
    // Count by ADJACENCY INTERSECTION, not a materialized wedge join: for
    // each oriented edge (a, b), triangles closing it are the common
    // out-neighbors |adj(a) ∩ adj(b)| (each triangle x<y<z counted once,
    // at edge x→y with witness z). The Σ outdeg² wedge stream (41M rows
    // at sf0.1, 34× the edge count — it benched 15.6 s as a shuffled
    // join, 6 s with broadcast probes) is never materialized as rows;
    // the intersection scans happen inside the edge's own task, and
    // orientation bounds every adjacency array at O(√m) so no basket of
    // arrays is ever pathological. Measured A/B at sf0.1: 1.3–1.7 s vs
    // 5.5–6 s for the best wedge-join plan, identical counts.
    // adj is node-sized (one row + outdeg longs per non-sink node ≈ one
    // long per edge) — broadcast under the measured edge gate; past it
    // the two adj joins fall back to shuffles, which scale
    // unconditionally.
    val edgeCount = ed.count() // bounded: one long (also the n_edges output)
    val hinted = graft.core.BroadcastGate.hint(edgeCount) _
    val adj = oe.groupBy(col("a").as("id")).agg(collect_list(col("brank")).as("nbr"))
    val tri = oe
      .join(hinted(adj.toDF("a", "na")), Seq("a"))
      .join(hinted(adj.toDF("b", "nb")), Seq("b"))
      .select(size(array_intersect(col("na"), col("nb"))).cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    // three bounded scalars (1 row each) — broadcast-scalar crossJoin, not
    // a data cross product (house rule: q61-style rate frames)
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(spark.range(1).select(lit(edgeCount).as("n_edges")))
      .crossJoin(tri)
  }

  private val triangleCountSql: String = s"""
    WITH $basketEdgesCte,
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS id FROM ed UNION ALL SELECT v FROM ed) GROUP BY id),
    oe AS (
      SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS a,
             CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS b,
             CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS bdeg
      FROM ed JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM oe e1
      JOIN oe e2 ON e1.a = e2.a AND (e1.bdeg, e1.b) < (e2.bdeg, e2.b)
      JOIN oe e3 ON e3.a = e1.b AND e3.b = e2.b)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM ed) AS BIGINT) AS n_edges,
           n_triangles
    FROM tri""".trim

  // --------------------------------------------------------------------
  // q114: bigram language-model score per document — the sequel to q74's
  // unigram: train bigram conditionals c(w1,w2)/c(w1·) on the corpus and
  // score every document's average ln P(w2|w1). Repetitive/templated
  // text scores high (its transitions are predictable), fluent novel
  // text lower — the model-free perplexity proxy curation gates on.
  // Bigrams come from an in-row transform over the token array (no
  // window, no self-join, zero extra shuffle for pair formation); counts
  // are token-pair-keyed aggregates; prefix totals reuse the bigram
  // counts (one aggregation tree, not a second corpus pass). Every
  // observed bigram has count ≥ 1 so ln is finite; the per-doc sum is
  // decimal-exact (order-independent across engines).
  private def bigramLogprob(spark: SparkSession, dir: String) = {
    val tok = Tables(spark, dir).documents
      .select(col("doc_id"),
        filter(split(lower(trim(col("text"))), "\\s+"), x => length(x) > 0).as("t"))
      .filter(size(col("t")) >= 2)
    val bg = tok
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val cp = cb.groupBy("w1").agg(sum(col("cnt")).as("ctx"))
    bg.join(cb, Seq("w1", "w2")).join(cp, Seq("w1"))
      .withColumn("lp", log(col("cnt").cast(DoubleType) / col("ctx").cast(DoubleType)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(dsum(col("lp"), 12) / count(lit(1)).cast(DoubleType), 6).as("avg_logprob"))
  }

  private val bigramLogprobSql: String = s"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0) AS t
      FROM documents),
    pos AS (
      SELECT doc_id, t, unnest(generate_series(1, length(t) - 1)) AS i
      FROM tok WHERE length(t) >= 2),
    bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM pos),
    cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY w1, w2),
    cp AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS ctx FROM cb GROUP BY w1)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(${dsumSql("ln(CAST(cnt AS DOUBLE) / CAST(ctx AS DOUBLE))", 12)}
                 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_logprob
    FROM bg JOIN cb USING (w1, w2) JOIN cp USING (w1)
    GROUP BY doc_id""".trim

  // --------------------------------------------------------------------
  // q157: exact AUC of the binary centroid discriminant — the ranking
  // metric q115's confusion matrix can't see (accuracy ignores score
  // ORDER; AUC is what a threshold sweep would earn). Task: label 0 vs
  // rest; score = d²(neg centroid) − d²(pos centroid) over the q115
  // train/test split, both distances the same decimal-exact fold as
  // q115 (identical doubles both engines). AUC is the Mann-Whitney
  // rank-sum form — (Σ_pos rank − P(P+1)/2) / (P·N) — with the rank a
  // ROW_NUMBER under the (score, vec_id) total order: ranks are unique
  // integers, the sums are exact longs, and the one IEEE division is
  // the last op. (Tie-broken-by-id is a deterministic AUC estimator;
  // exact-tie mass would need midranks, and scores here are continuous
  // doubles.) The engine ranks on the SCALE path (Ranks.globalRowNumber
  // — range-partitioned sort + zipWithIndex, no single-task window);
  // the global rank window survives as q171's in-engine twin and as
  // the DuckDB oracle, both proven bit-identical every round.
  // On this fixture the embeddings barely separate labels (q115 is
  // 13/93 vs 9.3/93 chance), so the reported AUC sits near the 0.5
  // null (0.375 at sf0.01, within ~1.2 null-σ of 0.5 at P=8) — the
  // harness faithfully reports "no signal", which is the answer.
  /** (vec_id, is_pos, score) of the binary centroid discriminant over
    * the q115 split — the shared scoring frame of q157 (AUC) and q164
    * (calibration); one definition, no drift.
    */
  private def discriminantScores(spark: SparkSession, dir: String) = {
    val base = Tables(spark, dir).embeddings
      .withColumn("bkt", Sampling.hashBucket(col("vec_id"), splitSalt))
    val trainX = base.filter(col("bkt") < 80)
      .select(when(col("label") === 0, 1).otherwise(0).as("cls"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
    val cent = trainX.groupBy("cls", "dim")
      .agg((dsum(col("x").cast(DoubleType), 8)
        / count(lit(1)).cast(DoubleType)).as("c"))
    val centArr = cent.groupBy(col("cls"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cvec"))
    val dec = DecimalType(38, 12)
    val test = base.filter(col("bkt") >= 80)
      .select(col("vec_id"), (col("label") === 0).as("is_pos"), col("embedding"))
    test.crossJoin(broadcast(centArr))
      .withColumn("dd",
        aggregate(
          zip_with(col("embedding"), col("cvec"), (x: Column, c: Column) => {
            val r = x.cast(DoubleType) - c
            (r * r).cast(dec)
          }),
          lit(0).cast(dec),
          (acc: Column, t: Column) => (acc + t).cast(dec)).cast(DoubleType))
      .groupBy("vec_id", "is_pos")
      .agg(sum(when(col("cls") === 0, col("dd"))).as("d2_neg"),
        sum(when(col("cls") === 1, col("dd"))).as("d2_pos"))
      .select(col("vec_id"), col("is_pos"),
        (col("d2_neg") - col("d2_pos")).as("score"))
  }

  // Engine path = the SCALE path (round-10: the last one-task global
  // windows left the executed plans): the rank comes from
  // Ranks.globalRowNumber — range-partitioned sort + zipWithIndex, no
  // WindowExec anywhere (PlanSpec pins it). The global-window
  // formulation survives as q171's in-engine twin, so the
  // window == scan equality stays driver-checked cross-engine.
  private def aucEval(spark: SparkSession, dir: String) =
    aucOfRanked(graft.core.Ranks.globalRowNumber(
        discriminantScores(spark, dir),
        Seq(col("score").asc, col("vec_id").asc))
      .withColumnRenamed("global_rank", "rank"))

  /** The Mann–Whitney rank-sum fold over a (is_pos, rank) frame —
    * shared by q157 (scale-path ranks) and q171 (window-twin ranks):
    * one definition, so the two rows can only differ in WHERE the
    * integers come from.
    */
  private def aucOfRanked(ranked: org.apache.spark.sql.DataFrame) =
    ranked
      .agg(
        sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("is_pos"), 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("is_pos"), col("rank")).otherwise(0L)).as("rank_sum_pos"))
      .select(col("n_pos"), col("n_neg"), col("rank_sum_pos"),
        (expr("rank_sum_pos - (n_pos * (n_pos + 1)) div 2").cast(DoubleType)
          / (col("n_pos") * col("n_neg")).cast(DoubleType)).as("auc"))

  /** CTE chain ending in `scored (vec_id, is_pos, score)` — the SQL twin
    * of [[discriminantScores]], shared by q157's and q164's oracles.
    */
  private val discriminantScoredSql: String = s"""base AS (
      SELECT vec_id, label, embedding,
             ${Sampling.hashBucketSql("vec_id", splitSalt)} AS bkt
      FROM embeddings),
    trainX AS (
      SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS cls,
             unnest(embedding) AS x, generate_subscripts(embedding, 1) AS dim
      FROM base WHERE bkt < 80),
    cent AS (
      SELECT cls, dim,
             CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS c
      FROM trainX GROUP BY cls, dim),
    testX AS (
      SELECT vec_id, label = 0 AS is_pos,
             unnest(embedding) AS x, generate_subscripts(embedding, 1) AS dim
      FROM base WHERE bkt >= 80),
    dist AS (
      SELECT vec_id, is_pos, cls,
             CAST(SUM(CAST((CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)
                           AS DECIMAL(38,12))) AS DOUBLE) AS dd
      FROM testX t JOIN cent ON cent.dim = t.dim
      GROUP BY vec_id, is_pos, cls),
    scored AS (
      SELECT vec_id, is_pos,
             SUM(CASE WHEN cls = 0 THEN dd END)
               - SUM(CASE WHEN cls = 1 THEN dd END) AS score
      FROM dist GROUP BY vec_id, is_pos)""".trim

  private val aucEvalSql: String = s"""
    WITH $discriminantScoredSql,
    ranked AS (
      SELECT is_pos,
             CAST(ROW_NUMBER() OVER (ORDER BY score ASC, vec_id ASC) AS BIGINT) AS rank
      FROM scored)
    SELECT CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(SUM(CASE WHEN is_pos THEN rank ELSE 0 END) AS BIGINT) AS rank_sum_pos,
           CAST(SUM(CASE WHEN is_pos THEN rank ELSE 0 END)
                - SUM(CASE WHEN is_pos THEN 1 ELSE 0 END)
                  * (SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) + 1) // 2 AS DOUBLE)
             / CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END)
                    * SUM(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS DOUBLE) AS auc
    FROM ranked""".trim

  // --------------------------------------------------------------------
  // q164: reliability (calibration) table of the q157 discriminant —
  // the third leg of the eval arc: q115's confusion matrix (one
  // threshold), q157's AUC (every threshold's ORDER), and now per-bin
  // calibration (does a higher score MEAN a higher positive rate?).
  // Score deciles under the (score, vec_id) total order (NTILE — the
  // same deterministic ranking discipline as q157's ROW_NUMBER), per
  // bin exact long counts, the positive rate as one IEEE division, and
  // the mean score under the q135 round-12-then-decimal-sum rule
  // (scores are identical doubles cross-engine; the decimal cast makes
  // the per-bin SUM order-free). A calibrated ranker shows monotone
  // pos_rate across bins; this fixture's embeddings carry no label
  // signal (the q115/q157 readout), so the table reads flat — reported,
  // not hidden. Scale shape (round-10: the engine EXECUTES it): bins
  // come from Ranks.globalRowNumber (range-partitioned sort +
  // zipWithIndex) + Ranks.ntileOfRank — NTILE's exact
  // remainder-spreading arithmetic over the 1-based rank, bit-identical
  // to the oracle's global NTILE window under the same (score, vec_id)
  // total order, with no WindowExec in the plan (PlanSpec pins it).
  private def calibrationBins(spark: SparkSession, dir: String) = {
    val ranked = graft.core.Ranks.globalRowNumber(
        discriminantScores(spark, dir),
        Seq(col("score").asc, col("vec_id").asc))
      .localCheckpoint() // the bucket-count probe + the binning share it
    val n = ranked.count() // one bounded job on the pinned frame
    ranked
      .withColumn("bin", graft.core.Ranks.ntileOfRank(col("global_rank"), n, 10))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"),
        // final round-8: the decimal(38,12) per-term casts round doubles
        // that differ in their last bits (dd is two decimal-exact sums
        // CAST back to double per engine), leaving ~1e-11 drift in the
        // mean — past the q135 discipline's reach, inside round-8's
        round(dsum(col("score"), 12) / count(lit(1)).cast(DoubleType), 8)
          .as("mean_score"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType)).as("pos_rate"),
        col("mean_score"))
  }

  private val calibrationBinsSql: String = s"""
    WITH $discriminantScoredSql,
    binned AS (
      SELECT is_pos, score,
             CAST(NTILE(10) OVER (ORDER BY score ASC, vec_id ASC) AS INTEGER) AS bin
      FROM scored)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
           round(${graft.core.Num.dsumSql("score", 12)} / CAST(COUNT(*) AS DOUBLE), 8)
             AS mean_score
    FROM binned GROUP BY bin""".trim

  // --------------------------------------------------------------------
  // q115: nearest-centroid classification of the embedding table — the
  // cheapest vector classifier there is, and the standard probe for "do
  // these embeddings separate the labels at all". Deterministic 80/20
  // split by the salted hash gate (Sampling.hashBucket — the q109
  // membership function, stable under reruns and re-partitioning);
  // per-label centroids are decimal-exact per-dimension means (one
  // exploded aggregate); then — the scale shape — centroids are gathered
  // into |labels| array rows and BROADCAST, so scoring is a map-only
  // pass over the test rows: zip_with squares the per-dim residuals,
  // aggregate folds them in exact decimal (order-independent, so the
  // oracle's unnest+SUM over the same terms reduces to the same bits).
  // The only shuffles are the two bounded aggregates; the corpus itself
  // is never joined per-dimension. Output is the confusion matrix.
  private def centroidClassify(spark: SparkSession, dir: String) = {
    val base = Tables(spark, dir).embeddings
      .withColumn("bkt", Sampling.hashBucket(col("vec_id"), splitSalt))
    val trainX = base.filter(col("bkt") < 80)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
    val cent = trainX.groupBy("label", "dim")
      .agg((dsum(col("x").cast(DoubleType), 8)
        / count(lit(1)).cast(DoubleType)).as("c"))
    val centArr = cent.groupBy(col("label").as("c_label"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cvec"))
    val dec = DecimalType(38, 12)
    val test = base.filter(col("bkt") >= 80)
      .select(col("vec_id"), col("label").as("true_label"), col("embedding"))
    val scored = test.crossJoin(broadcast(centArr))
      .withColumn("d2",
        aggregate(
          zip_with(col("embedding"), col("cvec"), (x: Column, c: Column) => {
            val r = x.cast(DoubleType) - c
            (r * r).cast(dec)
          }),
          lit(0).cast(dec),
          (acc: Column, t: Column) => (acc + t).cast(dec)).cast(DoubleType))
    val w = Window.partitionBy("vec_id").orderBy(col("d2").asc, col("c_label").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("true_label").cast("long").as("true_label"),
        col("c_label").cast("long").as("pred_label"))
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
  }

  private val centroidClassifySql: String = s"""
    WITH base AS (
      SELECT vec_id, label, embedding,
             ${Sampling.hashBucketSql("vec_id", splitSalt)} AS bkt
      FROM embeddings),
    trainX AS (
      SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS dim
      FROM base WHERE bkt < 80),
    cent AS (
      SELECT label AS c_label, dim,
             CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS c
      FROM trainX GROUP BY label, dim),
    testX AS (
      SELECT vec_id, label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS dim
      FROM base WHERE bkt >= 80),
    dist AS (
      SELECT vec_id, t.label AS true_label, c_label,
             CAST(SUM(CAST((CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)
                           AS DECIMAL(38,12))) AS DOUBLE) AS d2
      FROM testX t JOIN cent ON cent.dim = t.dim
      GROUP BY vec_id, t.label, c_label),
    pred AS (
      SELECT true_label, c_label AS pred_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) AS rn
      FROM dist)
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1 GROUP BY true_label, pred_label""".trim

  // --------------------------------------------------------------------
  // q116: per-label embedding diversity — mean squared pairwise L2
  // distance between a label's vectors, WITHOUT forming pairs: for
  // independent x, y the identity E‖x−y‖² = 2·(E‖x‖² − ‖Ex‖²) turns the
  // O(n²) pairwise sum into two O(n) aggregates (per-row squared norms,
  // per-dim means). A shard whose diversity collapses is a mode-collapse
  // / near-dup signal curation tracks per source; at 100 TB the identity
  // is the difference between a query that runs and one that cannot
  // exist. All three reductions (norms, means, mean-of-norms) are
  // decimal-exact, so the two engines agree bit-for-bit.
  private def shardDiversity(spark: SparkSession, dir: String) = {
    val ex = Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xd", col("x").cast(DoubleType))
    val sq = ex.groupBy("label", "vec_id").agg(dsum(col("xd") * col("xd"), 12).as("nsq"))
    val m2 = sq.groupBy("label").agg(
      count(lit(1)).as("n"),
      (dsum(col("nsq"), 12) / count(lit(1)).cast(DoubleType)).as("mean_nsq"))
    val mu = ex.groupBy("label", "dim")
      .agg((dsum(col("xd"), 8) / count(lit(1)).cast(DoubleType)).as("m"))
    val munorm = mu.groupBy("label").agg(dsum(col("m") * col("m"), 12).as("mu_nsq"))
    m2.join(munorm, Seq("label"))
      .select(col("label").cast("long").as("label"), col("n"),
        round(lit(2.0) * (col("mean_nsq") - col("mu_nsq")), 6).as("diversity"))
  }

  private val shardDiversitySql: String = s"""
    WITH ex AS (
      SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS xd
      FROM embeddings),
    sq AS (
      SELECT label, vec_id, ${dsumSql("xd * xd", 12)} AS nsq
      FROM ex GROUP BY label, vec_id),
    m2 AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             ${dsumSql("nsq", 12)} / CAST(COUNT(*) AS DOUBLE) AS mean_nsq
      FROM sq GROUP BY label),
    exd AS (
      SELECT label, CAST(unnest(embedding) AS DOUBLE) AS xd,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings),
    mu AS (
      SELECT label, dim, ${dsumSql("xd", 8)} / CAST(COUNT(*) AS DOUBLE) AS m
      FROM exd GROUP BY label, dim),
    munorm AS (SELECT label, ${dsumSql("m * m", 12)} AS mu_nsq FROM mu GROUP BY label)
    SELECT CAST(label AS BIGINT) AS label, n,
           round(2.0 * (mean_nsq - mu_nsq), 6) AS diversity
    FROM m2 JOIN munorm USING (label)""".trim

  // --------------------------------------------------------------------
  // q118: label-propagation communities over the STRONG co-purchase
  // graph — pairs co-bought in >= 2 distinct orders (the w>=2 cut drops
  // the 1.2M-edge hairball to ~3.5k statistically-meaningful edges at
  // sf0.1; one-off co-occurrence is noise at every scale). Four
  // synchronous, deterministic rounds (operators.LabelPropagation: mode
  // label, min-label ties), then community sizes. Unlike connected
  // components, a bridge edge does not merge two dense clusters. The
  // DuckDB twin unrolls the same rounds as chained CTEs.
  private def lpaCommunities(spark: SparkSession, dir: String) = {
    val li0 = Tables(spark, dir).lineitem.select(col("l_orderkey"), col("l_partkey"))
    val ok = li0.groupBy("l_orderkey").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= 100).select("l_orderkey")
    val li = li0.join(ok, "l_orderkey").distinct()
    val strong = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey")
          && col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select("src", "dst")
    graft.operators.LabelPropagation.run(strong, iters = 4)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .filter(col("n_nodes") >= 2)
  }

  private val lpaCommunitiesSql: String = s"""
    WITH ok AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) <= 100),
    li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey IN (SELECT l_orderkey FROM ok)),
    sed AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    ${graft.operators.LabelPropagation.unrolledSql(4)}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM l4 GROUP BY lbl HAVING COUNT(*) >= 2""".trim

  // --------------------------------------------------------------------
  // q119: local clustering coefficient — 2T(v)/(d(v)·(d(v)−1)), the
  // per-node "how clique-like is my neighborhood" score, top-20. Reuses
  // q113's oriented adjacency-intersection machinery, but keeps the
  // WITNESS SETS: each oriented edge (a, b) contributes |adj(a)∩adj(b)|
  // to a and b and one count to every witness — per-node totals are one
  // union + keyed sum over rows ∝ 3·#triangles (the irreducible output
  // of per-node counting; the wedge stream still never materializes).
  // Top-20 follows the q76 rule: distributed sort+limit BEFORE the rank
  // window.
  private def clusteringCoeff(spark: SparkSession, dir: String) = {
    val ed = basketEdges(spark, dir)
    val deg = ed.select(col("u").as("id")).unionAll(ed.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val keyU = struct(col("du.d"), col("u"))
    val keyV = struct(col("dv.d"), col("v"))
    val oe = ed
      .join(deg.as("du"), col("u") === col("du.id"))
      .join(deg.as("dv"), col("v") === col("dv.id"))
      .select(
        when(keyU < keyV, col("u")).otherwise(col("v")).as("a"),
        when(keyU < keyV, col("v")).otherwise(col("u")).as("b"),
        when(keyU < keyV, shiftleft(col("dv.d"), 40) + col("v"))
          .otherwise(shiftleft(col("du.d"), 40) + col("u")).as("brank"))
      .localCheckpoint()
    val hinted = graft.core.BroadcastGate.hint(ed.count()) _
    val adj = oe.groupBy(col("a").as("id")).agg(collect_list(col("brank")).as("nbr"))
      .localCheckpoint() // built once, broadcast twice
    // one pass, no materialized witness frame: each edge emits its a- and
    // b-side totals AND one row per witness from a single explode (an
    // intermediate checkpoint + 3-way union re-read of the witness arrays
    // benched 12.5 s; this shape removes both)
    val incr = oe
      .join(hinted(adj.toDF("a", "na")), Seq("a"))
      .join(hinted(adj.toDF("b", "nb")), Seq("b"))
      .select(col("a"), col("b"), array_intersect(col("na"), col("nb")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(explode(concat(
        array(
          struct(col("a").as("id"), size(col("ws")).cast("long").as("t")),
          struct(col("b").as("id"), size(col("ws")).cast("long").as("t"))),
        transform(col("ws"), w => struct((w % lit(1L << 40)).as("id"), lit(1L).as("t")))))
        .as("e"))
      .select(col("e.id"), col("e.t"))
    val tpn = incr.groupBy("id").agg(sum(col("t")).as("tri"))
    deg.filter(col("d") >= 2)
      .join(tpn, Seq("id"), "left")
      .select(col("id").as("part"), col("d"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        round(coalesce(col("tri"), lit(0L)).cast(DoubleType) * lit(2.0)
          / (col("d") * (col("d") - 1)).cast(DoubleType), 6).as("coeff"))
      .orderBy(col("coeff").desc, col("part").asc).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("coeff").desc, col("part").asc)))
  }

  private val clusteringCoeffSql: String = s"""
    WITH $basketEdgesCte,
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS id FROM ed UNION ALL SELECT v FROM ed) GROUP BY id),
    oe AS (
      SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS a,
             CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS b,
             CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS bdeg
      FROM ed JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v),
    tris AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM oe e1
      JOIN oe e2 ON e1.a = e2.a AND (e1.bdeg, e1.b) < (e2.bdeg, e2.b)
      JOIN oe e3 ON e3.a = e1.b AND e3.b = e2.b),
    incr AS (
      SELECT x AS id FROM tris UNION ALL SELECT y FROM tris
      UNION ALL SELECT z FROM tris),
    tpn AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS tri FROM incr GROUP BY id)
    SELECT part, d, tri, coeff, CAST(rn AS INTEGER) AS rank FROM (
      SELECT deg.id AS part, d, COALESCE(tri, 0) AS tri,
             round(CAST(COALESCE(tri, 0) AS DOUBLE) * 2.0
                   / CAST(d * (d - 1) AS DOUBLE), 6) AS coeff,
             ROW_NUMBER() OVER (
               ORDER BY round(CAST(COALESCE(tri, 0) AS DOUBLE) * 2.0
                              / CAST(d * (d - 1) AS DOUBLE), 6) DESC,
                        deg.id ASC) AS rn
      FROM deg LEFT JOIN tpn ON tpn.id = deg.id
      WHERE d >= 2)
    WHERE rn <= 20""".trim

  // --------------------------------------------------------------------
  // q120: Zipf-law fit of the token frequency distribution — the
  // log-log least-squares slope over the top-1000 ranks, plus how much
  // of the corpus those ranks cover. The canonical sanity check on any
  // new text source (natural language sits near slope −1; templated or
  // machine-generated text doesn't). Token counts are one map-side-
  // combined aggregate; the top-1000 is a distributed sort+limit (q76
  // rule); the regression sums are decimal-exact so the closed-form
  // slope/intercept arithmetic — written as the same expression tree on
  // both engines — is bit-identical.
  private def zipfFit(spark: SparkSession, dir: String) = {
    val tok = Tables(spark, dir).documents
      .select(explode(filter(split(lower(trim(col("text"))), "\\s+"),
        x => length(x) > 0)).as("token"))
    val ct = tok.groupBy("token").agg(count(lit(1)).as("cnt")).localCheckpoint()
    val totals = ct.agg(count(lit(1)).as("n_distinct"), sum(col("cnt")).as("n_total"))
    val top = ct.orderBy(col("cnt").desc, col("token").asc).limit(1000)
      .withColumn("r", row_number().over(
        Window.orderBy(col("cnt").desc, col("token").asc)))
      .withColumn("x", log(col("r").cast(DoubleType)))
      .withColumn("y", log(col("cnt").cast(DoubleType)))
    val stats = top.agg(
      count(lit(1)).cast(DoubleType).as("n"),
      dsum(col("x"), 12).as("sx"), dsum(col("y"), 12).as("sy"),
      dsum(col("x") * col("y"), 12).as("sxy"),
      dsum(col("x") * col("x"), 12).as("sxx"),
      sum(col("cnt")).as("top_cnt"))
    val t1 = stats.withColumn("slope",
      (col("n") * col("sxy") - col("sx") * col("sy"))
        / (col("n") * col("sxx") - col("sx") * col("sx")))
    t1.crossJoin(broadcast(totals))
      .select(col("n_distinct"),
        round(col("slope"), 6).as("slope"),
        round((col("sy") - col("slope") * col("sx")) / col("n"), 6).as("intercept"),
        round(col("top_cnt").cast(DoubleType) / col("n_total").cast(DoubleType), 6)
          .as("top1000_share"))
  }

  private val zipfFitSql: String = s"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> length(x) > 0)) AS token
      FROM documents),
    ct AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(cnt) AS BIGINT) AS n_total
      FROM ct),
    top AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y, cnt FROM (
        SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS r FROM ct)
      WHERE r <= 1000),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             ${dsumSql("x", 12)} AS sx, ${dsumSql("y", 12)} AS sy,
             ${dsumSql("x * y", 12)} AS sxy, ${dsumSql("x * x", 12)} AS sxx,
             CAST(SUM(cnt) AS BIGINT) AS top_cnt
      FROM top),
    t1 AS (
      SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope FROM stats)
    SELECT n_distinct, round(slope, 6) AS slope,
           round((sy - slope * sx) / n, 6) AS intercept,
           round(CAST(top_cnt AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
             AS top1000_share
    FROM t1 CROSS JOIN totals""".trim

  // --------------------------------------------------------------------
  // q122: degree assortativity (Newman 2002) of the co-purchase graph —
  // do high-degree parts co-occur with other high-degree parts? One
  // edges⋈degrees⋈degrees join and ONE aggregate row: every sum term
  // (j·k, j+k, j²+k²) is an exact LONG, so no decimal casts are needed
  // anywhere — the only doubles are the final closed-form divisions,
  // written as the identical expression tree on both engines. The
  // cheapest global graph statistic in the suite: cost = one scan of the
  // edge list.
  private def degreeAssortativity(spark: SparkSession, dir: String) = {
    val ed = basketEdges(spark, dir)
    val deg = ed.select(col("u").as("id")).unionAll(ed.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val terms = ed
      .join(deg.as("du"), col("u") === col("du.id"))
      .join(deg.as("dv"), col("v") === col("dv.id"))
      .agg(count(lit(1)).as("m"),
        sum(col("du.d") * col("dv.d")).as("sjk"),
        sum(col("du.d") + col("dv.d")).as("sj"),
        sum(col("du.d") * col("du.d") + col("dv.d") * col("dv.d")).as("ssq"))
    val mD = col("m").cast(DoubleType)
    val half = col("sj").cast(DoubleType) / (lit(2.0) * mD)
    terms.select(col("m").as("n_edges"),
      round((col("sjk").cast(DoubleType) / mD - half * half)
        / (col("ssq").cast(DoubleType) / (lit(2.0) * mD) - half * half), 6)
        .as("assortativity"))
  }

  private val degreeAssortativitySql: String = s"""
    WITH $basketEdgesCte,
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS id FROM ed UNION ALL SELECT v FROM ed) GROUP BY id),
    terms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(du.d * dv.d) AS BIGINT) AS sjk,
             CAST(SUM(du.d + dv.d) AS BIGINT) AS sj,
             CAST(SUM(du.d * du.d + dv.d * dv.d) AS BIGINT) AS ssq
      FROM ed JOIN deg du ON du.id = ed.u JOIN deg dv ON dv.id = ed.v)
    SELECT m AS n_edges,
           round((CAST(sjk AS DOUBLE) / CAST(m AS DOUBLE)
                  - (CAST(sj AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
                    * (CAST(sj AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))
                 / (CAST(ssq AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))
                  - (CAST(sj AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
                    * (CAST(sj AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))), 6)
             AS assortativity
    FROM terms""".trim

  // --------------------------------------------------------------------
  // q123: first principal component of the embedding table by THREE
  // unrolled power iterations over the mean-centered scatter operator —
  // PCA without ever materializing the 64×64 covariance (v ← Xᵀ(Xv),
  // normalize), which at 100 TB is the only shape that exists: each
  // iteration is two keyed aggregations over the exploded (vec_id, dim,
  // xc) frame, with the 64-row v vector broadcast into a map-side join.
  // Every reassociated sum (projections s, back-projections w, the norm)
  // is decimal-exact, the centering means are decimal-exact, and the
  // iteration count is fixed — so the "approximate numerical method" is
  // bit-reproducible and the DuckDB twin (same 3 iterations as chained
  // CTEs — the PageRank/IVF/BPE unroll move) hash-matches the loadings
  // exactly. Sign follows the deterministic 0.125-constant init on both
  // engines. eigval = ‖w₃‖/n estimates the top covariance eigenvalue.
  private def pcaPower(spark: SparkSession, dir: String) = {
    val dec = DecimalType(38, 12)
    val emb = Tables(spark, dir).embeddings
    val ex = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "x")))
      .select(col("vec_id"), (col("dim0") + 1).as("dim"),
        col("x").cast(DoubleType).as("xd"))
    val mu = ex.groupBy("dim")
      .agg((dsum(col("xd"), 8) / count(lit(1)).cast(DoubleType)).as("m"))
    val xc = ex.join(broadcast(mu), "dim")
      .select(col("vec_id"), col("dim"), (col("xd") - col("m")).as("xc"))
      .localCheckpoint() // 3 iterations × 2 consumers each
    val n = emb.count() // bounded: one long — also gates the s-broadcasts
    // the per-vector projection s is one row per embedding; unhinted it
    // sort-merge-shuffled the full exploded (vec_id, dim, xc) frame
    // every back-projection (3× per run)
    val hinted = graft.core.BroadcastGate.hint(n) _
    var v = mu.select(col("dim"), lit(0.125).cast(DoubleType).as("v"))
    var nrm: org.apache.spark.sql.DataFrame = null
    for (_ <- 1 to 3) {
      val s = xc.join(broadcast(v), "dim")
        .groupBy("vec_id")
        .agg(sum((col("xc") * col("v")).cast(dec)).cast(DoubleType).as("s"))
      val w = xc.join(hinted(s), "vec_id")
        .groupBy("dim")
        .agg(sum((col("xc") * col("s")).cast(dec)).cast(DoubleType).as("w"))
        .localCheckpoint() // feeds the norm and the next v
      nrm = w.agg(sqrt(sum((col("w") * col("w")).cast(dec)).cast(DoubleType)).as("nrm"))
      v = w.crossJoin(broadcast(nrm)).select(col("dim"), (col("w") / col("nrm")).as("v"))
    }
    v.crossJoin(broadcast(nrm))
      .select(col("dim").cast("long").as("dim"),
        round(col("v"), 6).as("loading"),
        round(col("nrm") / lit(n.toDouble), 6).as("eigval"))
  }

  private val pcaPowerSql: String = {
    def it(i: Int): String = s"""s$i AS (
      SELECT vec_id, CAST(SUM(CAST(xc * v AS DECIMAL(38,12))) AS DOUBLE) AS s
      FROM xc JOIN v${i - 1} USING (dim) GROUP BY vec_id),
    w$i AS (
      SELECT dim, CAST(SUM(CAST(xc * s AS DECIMAL(38,12))) AS DOUBLE) AS w
      FROM xc JOIN s$i USING (vec_id) GROUP BY dim),
    n$i AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w$i),
    v$i AS (SELECT dim, w / nrm AS v FROM w$i CROSS JOIN n$i)"""
    s"""
    WITH ex AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS xd,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings),
    mu AS (
      SELECT dim, CAST(SUM(CAST(xd AS DECIMAL(38,8))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS m
      FROM ex GROUP BY dim),
    xc AS (SELECT vec_id, ex.dim, xd - m AS xc FROM ex JOIN mu USING (dim)),
    cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    v0 AS (SELECT DISTINCT dim, CAST(0.125 AS DOUBLE) AS v FROM ex),
    ${it(1)},
    ${it(2)},
    ${it(3)}
    SELECT CAST(dim AS BIGINT) AS dim, round(v, 6) AS loading,
           round(nrm / CAST(n AS DOUBLE), 6) AS eigval
    FROM v3 CROSS JOIN n3 CROSS JOIN cnt""".trim
  }

  // --------------------------------------------------------------------
  // q124: Adamic–Adar link prediction over the co-purchase graph — for
  // every non-adjacent pair sharing at least one neighbor, score
  // Σ_w 1/ln(deg(w)) over the common neighbors w ("which parts are
  // likely to be co-bought next"). Wedges are generated per CENTER
  // (shuffle key = w), and centers are capped at degree ≤ 50 by
  // contract: a degree-10⁶ hub contributes 1/ln(10⁶) ≈ 0.07 to a
  // QUADRATIC number of pairs — production link predictors drop hub
  // wedges because they are simultaneously the entire cost and almost
  // none of the signal. The cap bounds per-key fan-out at C(50,2) rows,
  // so no wedge task is ever pathological at any corpus size. Candidate
  // pairs anti-join the edge set (existing links excluded), scores are
  // decimal-exact sums of identical per-wedge doubles, so the top-20
  // ranking agrees bit-for-bit across engines; ties break on (u, v).
  // Top-20 follows the q76 rule: distributed sort+limit BEFORE the rank
  // window.
  private def adamicAdar(spark: SparkSession, dir: String) = {
    val ed = basketEdges(spark, dir)
    val deg = ed.select(col("u").as("id")).unionAll(ed.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val dirE = ed.select(col("u").as("w"), col("v").as("x"))
      .unionAll(ed.select(col("v").as("w"), col("u").as("x")))
      .join(deg.filter(col("d") <= 50).withColumnRenamed("id", "w"), "w")
      .withColumn("invlog", lit(1.0) / log(col("d").cast(DoubleType)))
    val wedges = dirE.as("e1").join(dirE.as("e2"),
        col("e1.w") === col("e2.w") && col("e1.x") < col("e2.x"))
      .select(col("e1.x").as("u"), col("e2.x").as("v"), col("e1.invlog").as("invlog"))
    val cand = wedges.join(ed, Seq("u", "v"), "left_anti")
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common_nbrs"), dsum(col("invlog"), 12).as("score0"))
    cand.orderBy(col("score0").desc, col("u").asc, col("v").asc).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score0").desc, col("u").asc, col("v").asc)))
      .select(col("u"), col("v"), col("common_nbrs"),
        round(col("score0"), 6).as("score"), col("rank"))
  }

  private val adamicAdarSql: String = s"""
    WITH $basketEdgesCte,
    deg AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS id FROM ed UNION ALL SELECT v FROM ed) GROUP BY id),
    dirE AS (
      SELECT w, x, 1.0 / ln(CAST(d AS DOUBLE)) AS invlog
      FROM (SELECT u AS w, v AS x FROM ed UNION ALL SELECT v, u FROM ed)
      JOIN deg ON deg.id = w WHERE d <= 50),
    wed AS (
      SELECT e1.x AS u, e2.x AS v, e1.invlog
      FROM dirE e1 JOIN dirE e2 ON e1.w = e2.w AND e1.x < e2.x),
    cand AS (
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_nbrs,
             ${dsumSql("invlog", 12)} AS score0
      FROM wed w
      WHERE NOT EXISTS (SELECT 1 FROM ed WHERE ed.u = w.u AND ed.v = w.v)
      GROUP BY u, v)
    SELECT u, v, common_nbrs, round(score0, 6) AS score, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score0 DESC, u ASC, v ASC) AS rn
      FROM cand)
    WHERE rn <= 20""".trim

  // --------------------------------------------------------------------
  // q125: 3-core of the co-purchase graph by EIGHT synchronous peeling
  // rounds — iteratively delete nodes with degree < 3 until (at fixture
  // scale) the survivor set is stable; the classic "dense part of the
  // graph" extraction that seeds community mining and spam/bot
  // filtering. Each round is one degree aggregate + two semi-joins on a
  // strictly-shrinking edge set with lineage truncated per round (the
  // PageRank move) — the bounded-round formulation IS the distributed
  // k-core algorithm (Montresor et al.); a data-dependent
  // loop-to-fixpoint would not be expressible as one oracle-checkable
  // plan. Both engines compute the identical 8-round peel, so the
  // result hash-matches even if some adversarial graph needed a 9th
  // round; GraphMlSpec pins that 8 rounds reach the true fixpoint on
  // the fixtures. Integer-only arithmetic — nothing to stabilize.
  private def kcore(spark: SparkSession, dir: String) = {
    var e = basketEdges(spark, dir)
    // early exit once a round removes nothing: a removed NODE always
    // removes its incident EDGES, so an unchanged edge count proves the
    // fixpoint and the remaining rounds are identity maps — skipping
    // them changes cost only, never the result (the oracle still unrolls
    // all 8; counts on checkpointed frames are free of recompute)
    var prev = e.count()
    var stable = false
    for (_ <- 1 to 8 if !stable) {
      val keep = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
        .filter(col("d") >= 3).select("id")
      // keep is node-sized (nodes ≤ 2·edges, and `prev` is the measured
      // edge count) — hinted, the peel's two membership probes become
      // broadcast joins instead of two full-edge-list shuffles per
      // round
      val hinted = graft.core.BroadcastGate.hint(prev) _
      e = e.join(hinted(keep.withColumnRenamed("id", "u")), "u")
        .join(hinted(keep.withColumnRenamed("id", "v")), "v")
        .select("u", "v").localCheckpoint()
      val cur = e.count()
      stable = cur == prev
      prev = cur
    }
    val nodes = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id"))).distinct()
    nodes.agg(count(lit(1)).as("core_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("core_edges")))
      .select(lit(3).as("k"), lit(8).as("rounds"), col("core_nodes"), col("core_edges"))
  }

  private val kcoreSql: String = {
    // MATERIALIZED is load-bearing: each peel references its predecessor
    // 3× (degree count + two membership probes), so DuckDB's default CTE
    // inlining would expand e0 into 3^8 scans of lineitem — the oracle
    // ran out of file handles before it ran out of time. Forcing
    // materialization makes the oracle evaluate each round once, exactly
    // like the Spark side's per-round localCheckpoint.
    def peel(i: Int): String = s"""k$i AS MATERIALIZED (
      SELECT id FROM (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
          SELECT u AS id FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}) GROUP BY id)
      WHERE d >= 3),
    e$i AS MATERIALIZED (
      SELECT u, v FROM e${i - 1}
      WHERE u IN (SELECT id FROM k$i) AND v IN (SELECT id FROM k$i))"""
    s"""
    WITH $basketEdgesCte,
    e0 AS MATERIALIZED (SELECT u, v FROM ed),
    ${(1 to 8).map(peel).mkString(",\n    ")}
    SELECT CAST(3 AS INTEGER) AS k, CAST(8 AS INTEGER) AS rounds,
           CAST((SELECT COUNT(*) FROM (
             SELECT DISTINCT id FROM (
               SELECT u AS id FROM e8 UNION ALL SELECT v FROM e8))) AS BIGINT)
             AS core_nodes,
           CAST((SELECT COUNT(*) FROM e8) AS BIGINT) AS core_edges""".trim
  }

  // --------------------------------------------------------------------
  // q126: HITS hubs-and-authorities over the bipartite customer→part
  // purchase graph, three unrolled power iterations — parts bought by
  // well-connected customers score as authorities, the
  // mutually-reinforcing ranking (Kleinberg 1999) that a naive
  // popularity count misses. Per iteration: authority = edge-join + sum
  // of hub scores, L2-normalize (one broadcast scalar), hub = the
  // transpose pass — two keyed aggregations over the checkpointed edge
  // list, the exact shape PageRank/q123 already bench as scale-safe.
  // All reassociated sums are decimal-exact and the iteration count is
  // fixed, so the DuckDB twin (same 3 iterations as chained CTEs)
  // hash-matches the top-10 authority ranking bit-for-bit.
  private def hitsAuthorities(spark: SparkSession, dir: String) = {
    val t = Tables(spark, dir)
    val e = t.orders.select(col("o_orderkey"), col("o_custkey"))
      .join(t.lineitem.select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint() // 6 consumers (2 joins × 3 iterations)
    // checkpointed frames carry no stats, so the loop's node-sized score
    // frames never auto-broadcast and every half-iteration sort-merge-
    // shuffled the FULL edge set (6 × |E| exchanges). Hint them from a
    // measured bound instead: scores are node-sized and nodes ⊆ edge
    // endpoints, so |E| bounds the built hash relation (guide §3.1).
    val hinted = graft.core.BroadcastGate.hint(e.count()) _
    var h = e.select(col("c")).distinct().withColumn("h", lit(1.0))
    var a: org.apache.spark.sql.DataFrame = null
    for (_ <- 1 to 3) {
      // ar/hr each feed TWO consumers (the norm and the next pass) —
      // without the checkpoint Spark re-derives them per consumer and the
      // recompute compounds 2× per half-iteration (benched 6.6 s vs 2.4 s)
      val ar = e.join(hinted(h), "c").groupBy("p").agg(dsum(col("h"), 12).as("a0"))
        .localCheckpoint()
      val an = ar.agg(sqrt(dsum(col("a0") * col("a0"), 12)).as("nrm"))
      a = ar.crossJoin(broadcast(an)).select(col("p"), (col("a0") / col("nrm")).as("a"))
      val hr = e.join(hinted(a), "p").groupBy("c").agg(dsum(col("a"), 12).as("h0"))
        .localCheckpoint()
      val hn = hr.agg(sqrt(dsum(col("h0") * col("h0"), 12)).as("nrm"))
      h = hr.crossJoin(broadcast(hn)).select(col("c"), (col("h0") / col("nrm")).as("h"))
    }
    a.orderBy(col("a").desc, col("p").asc).limit(10)
      .withColumn("rank", row_number().over(Window.orderBy(col("a").desc, col("p").asc)))
      .select(col("p").as("part"), round(col("a"), 6).as("authority"), col("rank"))
  }

  private val hitsAuthoritiesSql: String = {
    def it(i: Int): String = s"""ar$i AS (
      SELECT p, ${dsumSql("h", 12)} AS a0 FROM e JOIN h${i - 1} USING (c) GROUP BY p),
    an$i AS (SELECT sqrt(${dsumSql("a0 * a0", 12)}) AS nrm FROM ar$i),
    a$i AS (SELECT p, a0 / nrm AS a FROM ar$i CROSS JOIN an$i),
    hr$i AS (
      SELECT c, ${dsumSql("a", 12)} AS h0 FROM e JOIN a$i USING (p) GROUP BY c),
    hn$i AS (SELECT sqrt(${dsumSql("h0 * h0", 12)}) AS nrm FROM hr$i),
    h$i AS (SELECT c, h0 / nrm AS h FROM hr$i CROSS JOIN hn$i)"""
    s"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    h0 AS (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM e),
    ${it(1)},
    ${it(2)},
    ${it(3)}
    SELECT p AS part, round(a, 6) AS authority, CAST(rn AS INTEGER) AS rank
    FROM (SELECT p, a, ROW_NUMBER() OVER (ORDER BY a DESC, p ASC) AS rn FROM a3)
    WHERE rn <= 10""".trim
  }

  // --------------------------------------------------------------------
  // q139: multi-source BFS reach profile — from the 5 highest-degree
  // hub parts, how many parts sit at co-purchase distance 0/1/2/3?
  // The "blast radius" probe behind recommendation fan-out and
  // contamination-spread estimates. Classic synchronous frontier BFS as
  // 3 bounded rounds of (frontier ⋈ edges → min-hop re-aggregate), each
  // round lineage-truncated (the q125 move); ONLY the newest frontier
  // (hop = round − 1 after the min-agg) expands, so a node reached at
  // hop 1 is never re-expanded at hop 2 — per-round join cost is
  // frontier-size × avg-degree, not visited-set × degree. The distance
  // table is (seed, node, hop) — 5× node-sized at worst — and the
  // output collapses it to ≤ 5 × 4 histogram rows. Bounded rounds, not
  // loop-to-fixpoint, keep the plan oracle-expressible; integer-only
  // arithmetic — nothing to stabilize. Seeds tie-break (degree, id).
  private def bfsHops(spark: SparkSession, dir: String) = {
    val ed = basketEdges(spark, dir)
    val se = ed.select(col("u").as("s"), col("v").as("t"))
      .unionAll(ed.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint() // probed once per BFS round
    val deg = se.groupBy(col("s").as("id")).agg(count(lit(1)).as("d"))
    val seeds = deg.orderBy(col("d").desc, col("id").asc).limit(5)
      .select(col("id").as("seed"))
    var dist = seeds.select(col("seed"), col("seed").as("id"),
      lit(0).as("hop")).localCheckpoint()
    // the frontier is ≤ 5 × node-sized but checkpointed (no stats), so
    // without a hint every round sort-merge-shuffled the FULL directed
    // edge list; the measured edge count bounds the built relation
    // (nodes ⊆ edge endpoints)
    val hinted = graft.core.BroadcastGate.hint(se.count()) _
    for (h <- 1 to 3) {
      val next = hinted(dist.filter(col("hop") === h - 1))
        .join(se, col("id") === col("s"))
        .select(col("seed"), col("t").as("id"), lit(h).as("hop"))
      dist = dist.unionAll(next)
        .groupBy("seed", "id").agg(min(col("hop")).as("hop"))
        .localCheckpoint()
    }
    dist.groupBy("seed", "hop").agg(count(lit(1)).as("n_nodes"))
  }

  private val bfsHopsSql: String = {
    // MATERIALIZED for the same reason as q125: every round reads its
    // predecessor twice (carry-forward + frontier expansion)
    def round(i: Int): String = s"""d$i AS MATERIALIZED (
      SELECT seed, id, MIN(hop) AS hop FROM (
        SELECT seed, id, hop FROM d${i - 1}
        UNION ALL
        SELECT p.seed, se.t AS id, $i AS hop
        FROM d${i - 1} p JOIN se ON p.id = se.s WHERE p.hop = ${i - 1})
      GROUP BY seed, id)"""
    s"""
    WITH $basketEdgesCte,
    se AS MATERIALIZED (
      SELECT u AS s, v AS t FROM ed UNION ALL SELECT v, u FROM ed),
    deg AS (SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS d FROM se GROUP BY s),
    seeds AS (SELECT id AS seed FROM deg ORDER BY d DESC, id ASC LIMIT 5),
    d0 AS MATERIALIZED (SELECT seed, seed AS id, 0 AS hop FROM seeds),
    ${round(1)},
    ${round(2)},
    ${round(3)}
    SELECT seed, CAST(hop AS INTEGER) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM d3 GROUP BY seed, hop""".trim
  }

  // --------------------------------------------------------------------
  // q142: deterministic hash-driven graph walks — 3-step walks from the
  // 20 highest-degree hubs, where each step moves to the neighbor with
  // the SMALLEST md5(start:step:cur:neighbor) digest. This is the
  // node2vec-shaped walk corpus a graph-embedding trainer consumes,
  // made reproducible the same way the engine's samplers are (q55/q107/
  // q131): the "random" choice is a pure function of (walk, step, edge),
  // so reruns, retries, partitioning, and cluster size never change a
  // walk, and the whole walk table is oracle-checkable. Each step is one
  // frontier⋈edges equi-join + an argmin-by-digest aggregate (min over
  // a (digest, neighbor) struct — total order, no window needed); walk
  // state is (start, cur), 20 rows. Walks may revisit nodes, as real
  // random walks do. Output is the tall (start, step, node) table.
  private def hashWalks(spark: SparkSession, dir: String) = {
    val ed = basketEdges(spark, dir)
    val se = ed.select(col("u").as("s"), col("v").as("t"))
      .unionAll(ed.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint() // probed once per step
    val deg = se.groupBy(col("s").as("id")).agg(count(lit(1)).as("d"))
    val starts = deg.orderBy(col("d").desc, col("id").asc).limit(20)
      .select(col("id").as("start"))
    var frontier = starts.select(col("start"), col("start").as("cur"))
      .localCheckpoint()
    var walk = frontier.select(col("start"), lit(0).as("step"),
      col("cur").as("node"))
    for (k <- 1 to 3) {
      // the walk state is ≤ 20 (start, cur) rows BY CONSTRUCTION (one
      // row per start after each argmin), but checkpointed frames carry
      // no stats — unhinted, each step sort-merge-shuffled the full
      // directed edge list to join 20 rows
      frontier = broadcast(frontier).join(se, col("cur") === col("s"))
        .select(col("start"),
          struct(md5(concat_ws(":", col("start"), lit(k), col("cur"), col("t")))
            .as("h"), col("t")).as("pick"))
        .groupBy("start").agg(min(col("pick")).as("pick"))
        .select(col("start"), col("pick.t").as("cur"))
        .localCheckpoint()
      walk = walk.unionAll(frontier.select(col("start"), lit(k).as("step"),
        col("cur").as("node")))
    }
    walk
  }

  private val hashWalksSql: String = {
    def step(k: Int): String = s"""f$k AS MATERIALIZED (
      SELECT start, t AS cur FROM (
        SELECT f.start, se.t,
               ROW_NUMBER() OVER (PARTITION BY f.start
                 ORDER BY md5(f.start || ':' || $k || ':' || f.cur || ':' || se.t) ASC,
                          se.t ASC) AS rn
        FROM f${k - 1} f JOIN se ON f.cur = se.s)
      WHERE rn = 1)"""
    s"""
    WITH $basketEdgesCte,
    se AS MATERIALIZED (
      SELECT u AS s, v AS t FROM ed UNION ALL SELECT v, u FROM ed),
    deg AS (SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS d FROM se GROUP BY s),
    f0 AS MATERIALIZED (
      SELECT id AS start, id AS cur FROM deg ORDER BY d DESC, id ASC LIMIT 20),
    ${step(1)},
    ${step(2)},
    ${step(3)}
    SELECT start, CAST(0 AS INTEGER) AS step, cur AS node FROM f0
    UNION ALL SELECT start, 1, cur FROM f1
    UNION ALL SELECT start, 2, cur FROM f2
    UNION ALL SELECT start, 3, cur FROM f3""".trim
  }

  def all: Seq[GraftQuery] = Seq(
    GraftQuery("q113_triangle_count", Some(triangleCountSql), triangleCount),
    GraftQuery("q114_bigram_logprob", Some(bigramLogprobSql), bigramLogprob),
    GraftQuery("q115_centroid_classify", Some(centroidClassifySql), centroidClassify),
    GraftQuery("q157_auc_eval", Some(aucEvalSql), aucEval),
    GraftQuery("q164_calibration_bins", Some(calibrationBinsSql), calibrationBins),
    // q171: the WINDOW-FORMULATION twin of q157's AUC — the equality
    // theorem, sides swapped since round 10: q157's ENGINE path is now
    // the scale path (Ranks.globalRowNumber — no one-task window in
    // its executed plan), and this row keeps the global ROW_NUMBER
    // window formulation alive in-engine so the driver still CHECKS,
    // every round and cross-engine, that the two rankings produce
    // bit-identical integers (and therefore the identical AUC) under
    // the same (score, vec_id) total order. Fixture-sized input only —
    // the one-task window is this row's POINT, not a scale hazard.
    GraftQuery("q171_scaled_rank_auc", Some(aucEvalSql), (spark, dir) => {
      val w = Window.orderBy(col("score").asc, col("vec_id").asc)
      aucOfRanked(discriminantScores(spark, dir)
        .withColumn("rank", row_number().over(w).cast("long")))
    }),
    GraftQuery("q116_shard_diversity", Some(shardDiversitySql), shardDiversity),
    GraftQuery("q118_lpa_communities", Some(lpaCommunitiesSql), lpaCommunities),
    GraftQuery("q119_clustering_coeff", Some(clusteringCoeffSql), clusteringCoeff),
    GraftQuery("q120_zipf_fit", Some(zipfFitSql), zipfFit),
    GraftQuery("q122_degree_assortativity", Some(degreeAssortativitySql), degreeAssortativity),
    GraftQuery("q123_pca_power", Some(pcaPowerSql), pcaPower),
    GraftQuery("q124_adamic_adar", Some(adamicAdarSql), adamicAdar),
    GraftQuery("q125_kcore", Some(kcoreSql), kcore),
    GraftQuery("q126_hits_authorities", Some(hitsAuthoritiesSql), hitsAuthorities),
    GraftQuery("q139_bfs_hops", Some(bfsHopsSql), bfsHops),
    GraftQuery("q142_hash_walks", Some(hashWalksSql), hashWalks))
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted inverted index for the retrieval family — the "hash once at
  * ingest" story (the near-dup index pair, `Dedup.buildNearDupIndex`)
  * applied to keyword search: q87/q88/q145 tokenize the corpus per
  * query, which is the right shape for one-off analytics but not for a
  * corpus that is queried repeatedly — at 100 TB the tokenize+explode
  * scan IS the cost. This operator pays it once:
  *
  *  - [[build]] writes the posting list (doc_id, term, tf) as a
  *    TERM-BUCKETED table ([[graft.sources.TableWriter.writeBucketed]]):
  *    every query's `term IN (...)` probe prunes to the buckets holding
  *    its query terms and reads them pre-shuffled — no corpus scan, no
  *    exchange, per-query cost ∝ matched postings.
  *  - [[extend]] appends a new batch's postings through the table's
  *    existing bucket spec (`insertInto`), so increments stay
  *    co-located and cost ∝ batch, never ∝ history. Callers own the
  *    "each document indexed once" contract, same as the near-dup
  *    index.
  *  - corpus cardinality (the ranking's N) lives in a `_meta` side
  *    table as one row PER BATCH; readers sum it — append-only
  *    increments need no read-modify-write.
  *
  * [[topK]] and [[boolean]] evaluate the q88 / q87 contracts from the
  * index: identical integer-exact scoring (BM25-shaped rational idf as
  * a scaled BIGINT — see q88's derivation), identical tokenization rule
  * (lowercased whitespace split, the retrieval family's shared
  * convention), so index-served results match the scan-time queries
  * row-for-row (RetrievalIndexSpec pins both, plus incremental ==
  * from-scratch).
  */
object RetrievalIndex {

  // tokenization, query-term frame, and idf scale are SHARED with the
  // scan-time queries (CurationOps q87/q88) — one definition, so the
  // "index-served == scan-time, row for row" contract cannot drift
  private def postings(docs: DataFrame): DataFrame =
    graft.queries.CurationOps.postings(docs)
  private def queryTermsDf(spark: SparkSession, qs: Seq[(Int, Seq[String])]): DataFrame =
    graft.queries.CurationOps.queryTermsDf(spark, qs)

  /** A cloned session with auto-bucketed-scan selection off — the probe
    * plans on the clone, everyone else keeps their conf. Spark's
    * `DisableUnnecessaryBucketedScan` reverts to a plain file scan when
    * no downstream operator needs the bucket distribution — but a
    * SELECTIVE probe's win is bucket PRUNING on the filter itself
    * (`SelectedBucketsCount: k out of n`, skipping every file of every
    * non-matching bucket), which only happens on the bucketed read
    * path. `newSession` shares the SparkContext, cached data, and the
    * persistent catalog but owns an isolated SQL conf, so there is no
    * session-global mutation, no lock, and no window in which an
    * unrelated concurrent query plans under the probe's setting (the
    * flaw of the scoped set/restore idiom this replaces). Builder-time
    * conf (shuffle partitions, session timezone) lives in the shared
    * SparkConf and carries over.
    */
  private[graft] def probeSession(spark: SparkSession,
      probedTable: String): SparkSession = {
    // a temp-view family (Snapshot.attach's in-place backup reads) is
    // SESSION-scoped — a fresh clone cannot resolve it — and a view
    // carries no bucket metadata for the clone's one setting to act on,
    // so the probe plans on the caller's session as-is
    if (spark.sessionState.catalog.getTempView(probedTable).isDefined)
      return spark
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s
  }

  /** Build the index: the postings (stamp 0), then `_meta` LAST, one
    * `(n_docs, batch_id)` row per committed batch — the commit marker
    * and the ranking's N ([[Ledger]]: a crash between the two writes
    * reads as "no index yet" and the next build overwrites).
    * `commitAlias` records a stream cold-start's own stamp as an
    * `n_docs = 0` row, neutral to N. The document count is observed on
    * the postings write, so both see one scan of `docs`.
    */
  def build(docs: DataFrame, table: String, path: String, nBuckets: Int = 16,
      commitAlias: Long = -1L): Unit = {
    val obs = org.apache.spark.sql.Observation()
    val d = docs.observe(obs, count(lit(1)).as("n_docs"))
    graft.sources.TableWriter.writeBucketed(
      postings(d).withColumn("batch_id", lit(0L)),
      s"${table}_postings", s"$path/postings", "term", nBuckets)
    Ledger.built(d.sparkSession, table, "retrieval", path, commitAlias, observed(obs))
  }

  /** The document count observed on a write. A zero-task write (empty
    * batch → zero input splits) reports an EMPTY metrics map, which is
    * exactly a count of 0. */
  private def observed(obs: org.apache.spark.sql.Observation): Long =
    obs.get.getOrElse("n_docs", 0L).asInstanceOf[Long]

  /** Fold a new batch into the index under the [[Ledger]] frame (the
    * kind is fenced): a committed replay no-ops, a crashed replay
    * re-appends byte-identical postings that the serve paths collapse
    * per (term, doc_id, batch_id), and N is never double-counted because
    * the `_meta` row carrying the batch's count lands LAST.
    */
  def extend(docs: DataFrame, table: String, batchId: Long,
      nBuckets: Int = 16): Unit =
    Ledger.commitCounted(docs.sparkSession, table, "retrieval", batchId) {
      // cardinality observed on the postings append's own scan — the
      // meta row records exactly what the postings saw
      val obs = org.apache.spark.sql.Observation()
      postings(docs.observe(obs, count(lit(1)).as("n_docs")))
        .withColumn("batch_id", lit(batchId))
        .repartition(nBuckets, col("term")) // one file per bucket, as at build
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .insertInto(s"${table}_postings")
      observed(obs)
    }

  /** Tombstone documents out of the index — the [[Frontier]] protocol
    * on the retrieval tier, where deletion has a SCORING consequence:
    * the idf's N must shrink too. The trailing marker row carries the
    * NEGATIVE count of fresh tombstones, so N adjusts through the same
    * `_meta` ledger the builds and extends use; a crashed delete's
    * replay recomputes the SAME fresh count, because its tombstone scan
    * excludes its own stamp.
    *
    * Applies to the tf postings tier ([[topK]]/[[boolean]]); the
    * positional tier keeps its own frontier ([[Frontier]]).
    * Double-deleting an id in a LATER batch is filtered (fresh = ids
    * minus existing tombstones) so N never double-subtracts.
    */
  def deleteDocs(spark: SparkSession, ids: DataFrame, table: String,
      path: String, batchId: Long): Unit =
    Ledger.commitCounted(spark, table, "retrieval", batchId) {
      val distinctIds = ids.select(col("doc_id")).dropDuplicates("doc_id")
      val fresh = Frontier.read(spark, table, "retrieval").fold(distinctIds)(d =>
          distinctIds.join(d.filter(col("batch_id") =!= batchId) // replay: exclude own crashed rows
            .select("doc_id"), Seq("doc_id"), "left_anti"))
        .withColumn("batch_id", lit(batchId))
        .coalesce(1) // a deletion frontier is one small file
        .localCheckpoint() // count + append share one evaluation
      val n = fresh.count() // the FRESH tombstones: N shrinks by exactly these
      Frontier.write(table, "retrieval", path, fresh)
      -n
    }

  /** DESCRIBE INDEX on the tf tier — the [[Dedup.pairIndexStats]]
    * observability verb for this family: one row of (live_docs,
    * distinct_terms, live_postings, tombstoned), every number derived
    * from the index's OWN tables under the same replay/tombstone
    * collapses the serves apply. live_docs reads the `_meta` ledger
    * (the negative delete rows already net it — the q180 exactness),
    * never the corpus; postings numbers are the collapsed, tombstone-
    * filtered live rows; a pair of bounded scalar aggregates assembles
    * via 1×1 crossJoins (the broadcast-scalar shape). A doc indexed
    * under two stamps (a fence-bypassing contract violation) inflates
    * live_postings and fails the audit loudly rather than folding.
    */
  def describe(spark: SparkSession, table: String): DataFrame = {
    val live = Frontier.purge(spark, table, "retrieval",
      collapseReplays(spark.table(s"${table}_postings"))
        .select("term", "doc_id"))
    // every scalar rides the returned plan as a 1×1 crossJoined
    // aggregate (no eager corpusN/tombstone jobs inside the verb —
    // the caller's one action computes all four; values identical)
    val liveDocs = spark.table(s"${table}_meta")
      .dropDuplicates("n_docs", "batch_id")
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("live_docs"))
    liveDocs
      .crossJoin(live.agg(
        count_distinct(col("term")).as("distinct_terms"),
        count(lit(1)).as("live_postings")))
      .crossJoin(Frontier.tombstoned(spark, table, "retrieval"))
  }

  /** DESCRIBE INDEX on the POSITIONAL tier — [[describe]]'s sibling
    * over the phrase index (which has no `_meta` ledger: phrase search
    * carries no idf, so coverage reads the position rows themselves):
    * live_docs (docs with ≥1 token), distinct_terms, posting_rows
    * ((term, doc) pairs), total_positions (Σ positions-array lengths ==
    * the surviving corpus's total token count — the invariant that
    * pins the index stores every occurrence exactly once), deletion
    * debt. One scan of the collapsed tombstone-filtered positions +
    * the frontier distinct; no corpus rescan.
    */
  def describePositions(spark: SparkSession, table: String): DataFrame = {
    val live = Frontier.purge(spark, table, "positions",
      spark.table(s"${table}_positions")
        .dropDuplicates("term", "doc_id", "batch_id")
        .select(col("term"), col("doc_id"), col("positions")))
    // tombstone debt rides the returned plan (no eager count job —
    // the [[describe]] move; values identical)
    live.agg(
        count_distinct(col("doc_id")).as("live_docs"),
        count_distinct(col("term")).as("distinct_terms"),
        count(lit(1)).as("posting_rows"),
        sum(size(col("positions"))).cast("long").as("total_positions"))
      .crossJoin(Frontier.tombstoned(spark, table, "positions"))
  }

  /** Replayed-append collapse over a (possibly term-filtered) postings
    * frame: a crashed extend's replay re-appends byte-identical rows,
    * so per (term, doc_id, batch_id) duplicates fold to one. Applied
    * AFTER the term filter (bucket pruning is untouched), and the
    * grouping keys include the bucket column, so on a bucketed read the
    * collapse needs no exchange.
    */
  private def collapseReplays(p: DataFrame): DataFrame =
    p.dropDuplicates("term", "doc_id", "batch_id")

  /** Corpus cardinality N from `_meta`, replay-safe: at most one row
    * per committed batch by the marker ordering; identical duplicates
    * from a torn write fold through the distinct before the sum.
    * Readers inline this sum into their own plans (a lazy 1×1 — see
    * [[topK]]/[[describe]]/[[compact]]) rather than paying it as a
    * separate eager job; this scalar form remains for callers that
    * need the number itself.
    */
  private[graft] def corpusN(spark: SparkSession, table: String,
      asOf: Long = Long.MaxValue): Long =
    spark.table(s"${table}_meta").filter(col("batch_id") <= asOf)
      .dropDuplicates("n_docs", "batch_id")
      .agg(sum(col("n_docs"))).head.getLong(0)

  /** Fold the tf-postings tier back to a single batch-0 state
    * ([[Ledger.Compaction]]): replayed-crash duplicates AND tombstoned
    * documents leave PHYSICALLY, and `_meta` (the marker) folds to ONE
    * batch-0 row holding the EXACT surviving N (Σ n_docs already
    * accounts tombstones through the negative delete rows — the fold
    * just materializes the sum). The positional tier
    * ([[buildPositions]]) keeps its own lifecycle and is untouched.
    *
    * `preserveNamespace` keeps the marker at {0, maxCommitted}
    * ([[graft.core.WriterFence.compactKeepStamps]]) so a stopped stream
    * resumes over the compacted index; it must stop with its last
    * delivered epoch COMMITTED, or its orphaned appends fold into batch
    * 0 and then re-deliver. The default resets to {0}: manual ladders
    * restart at batchId = 1 (q182's shape).
    */
  def compact(spark: SparkSession, table: String, path: String,
      nBuckets: Int = 16, preserveNamespace: Boolean = false): Unit = {
    // the ledger read answers both the exact surviving N (corpusN's sum
    // over distinct (n_docs, batch_id)) and the committed stamp set; the
    // preserved stamp rides as an n_docs = 0 row, neutral to N
    val ledger = Ledger.compaction(spark, table, "retrieval", path, preserveNamespace)
    ledger.rewrite("postings", Seq("term", "doc_id"), "term", nBuckets)
    ledger.commit()
  }

  /** q88 from the index: the top `k` documents per query by Σ tf·idf_scaled
    * (the exact integer rational idf, [[graft.queries.CurationOps.idfScaledCol]]),
    * ranked under the (score desc, doc_id asc) total order, as
    * (qid, doc_id, score, rank). `asOf` pins the ranking to a version: N,
    * the postings and the tombstones are all cut at that stamp (valid back
    * to the last [[compact]]).
    *
    * Two tiers, chosen at plan time with no job from the optimizer's size
    * estimate of what the serve reads (the bucket-pruned `term IN` postings
    * probe, the `_meta` ledger and the `_deleted` frontier, each cut at
    * `asOf`) against [[graft.core.BroadcastGate.MaxCollectBytes]]:
    *
    *  - below the budget, [[topKLocal]]: ONE Spark action collects the three
    *    inputs, and the replay collapse, tombstone filter, df, idf, scores
    *    and ranks run on the driver. N, the tombstones and the postings are
    *    read by that one action, so they share one pin. The call is EAGER:
    *    it runs that action and returns a local frame holding the answer,
    *    so a write after the call (an `extend`, a delete) does not change
    *    what the frame returns;
    *  - above it, [[topKDistributed]]: the at-scale plan, with the matched
    *    postings pinned at call time and N read when the returned frame
    *    runs.
    *
    * The size estimate credits no bucket pruning or term filter (it is the
    * size of the three tables), so the gate is conservative.
    */
  def topK(spark: SparkSession, table: String,
      queries: Seq[(Int, Seq[String])], k: Int = 10,
      asOf: Long = Long.MaxValue): DataFrame = {
    val legs = topKLegs(spark, table, queries, asOf)
    if (graft.core.BroadcastGate.collects(
        legs.queryExecution.optimizedPlan.stats.sizeInBytes))
      topKLocal(spark, legs, queries, k)
    else topKDistributed(spark, table, queries, k, asOf)
  }

  // the tags of [[topKLegs]]' three inputs
  private val PostingsLeg = 0
  private val MetaLeg = 1
  private val DeletedLeg = 2

  /** Everything a top-k serve reads, as one union of tagged legs (the
    * [[Integrity.digests]] shape) over (leg, term, doc_id, n, batch_id):
    * the bucket-pruned postings probe (n = tf), the `_meta` ledger
    * (n = n_docs) and the `_deleted` frontier, each cut at `asOf`. Planned
    * on the [[probeSession]] clone, so the postings read keeps its bucket
    * pruning.
    */
  private[graft] def topKLegs(spark: SparkSession, table: String,
      queries: Seq[(Int, Seq[String])], asOf: Long): DataFrame = {
    val ps = probeSession(spark, s"${table}_postings")
    val none = (t: String) => lit(null).cast(t)
    val postings = ps.table(s"${table}_postings")
      .filter(col("term").isin(queries.flatMap(_._2).distinct: _*))
      .filter(col("batch_id") <= asOf)
      .select(lit(PostingsLeg), col("term"), col("doc_id"), col("tf"), col("batch_id"))
    val meta = ps.table(s"${table}_meta").filter(col("batch_id") <= asOf)
      .select(lit(MetaLeg), none("string"), none("long"), col("n_docs"), col("batch_id"))
    val deleted = Frontier.read(ps, table, "retrieval").map(
      _.filter(col("batch_id") <= asOf)
        .select(lit(DeletedLeg), none("string"), col("doc_id"), none("long"),
          col("batch_id")))
    (Seq(postings, meta) ++ deleted).reduce(_ union _)
      .toDF("leg", "term", "doc_id", "n", "batch_id")
  }

  /** The driver tier of [[topK]]: collects `legs` ([[topKLegs]]) in one
    * action, then applies the distributed plan's semantics exactly:
    *
    *  - N: the sum of n_docs over distinct (n_docs, batch_id);
    *  - a tombstoned doc drops from every batch;
    *  - replays collapse per (term, doc_id, batch_id);
    *  - each posting joins every (qid, term) pair of the query list, so a
    *    term repeated in a query counts twice and a term shared by two
    *    queries scores in both;
    *  - df is the number of distinct docs per term, and the idf is
    *    `((2(N − df) + 1)·idfScale) div (2df + 1)` in long arithmetic that
    *    fails on overflow as ANSI SQL does;
    *  - rank by (score desc, doc_id asc), top `k` per qid.
    *
    * Returns a local frame with the distributed tier's schema: collecting
    * it submits no job.
    */
  private[graft] def topKLocal(spark: SparkSession, legs: DataFrame,
      queries: Seq[(Int, Seq[String])], k: Int): DataFrame = {
    val byLeg = legs.collect().groupBy(_.getInt(0)).withDefaultValue(Array.empty[Row])
    val docOf = (r: Row) => Option(r.get(2)).map(_.asInstanceOf[Long])
    val n = byLeg(MetaLeg).map(r => (Option(r.get(3)), r.getLong(4))).distinct
      .flatMap(_._1).map(_.asInstanceOf[Long]).foldLeft(0L)(Math.addExact)
    val dead = byLeg(DeletedLeg).flatMap(docOf).toSet
    val byTerm = byLeg(PostingsLeg)
      .distinctBy(r => (r.getString(1), docOf(r), r.getLong(4)))
      .filterNot(r => docOf(r).exists(dead))
      .groupMap(_.getString(1))(r => (docOf(r), r.getLong(3)))
    val idf = byTerm.map { case (t, hits) =>
      val df = hits.flatMap(_._1).distinct.length.toLong
      t -> Math.multiplyExact(
        Math.addExact(Math.multiplyExact(2L, Math.subtractExact(n, df)), 1L),
        graft.queries.CurationOps.idfScale) / (2L * df + 1L)
    }
    val scores = (for ((qid, terms) <- queries; t <- terms;
        (doc, tf) <- byTerm.getOrElse(t, Array.empty))
      yield (qid, doc) -> Math.multiplyExact(tf, idf(t)))
      .groupMapReduce(_._1)(_._2)(Math.addExact)
    val order = Ordering.Tuple2(Ordering.Long.reverse, Ordering.Option(Ordering.Long))
    val rows = scores.toSeq
      .groupMap(_._1._1) { case ((_, doc), score) => (score, doc) }
      .toSeq.sortBy(_._1).flatMap { case (qid, hits) =>
        hits.sorted(order).take(k).zipWithIndex.map { case ((score, doc), i) =>
          Row(qid, doc.map(Long.box).orNull, score, i + 1)
        }
      }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, TopKSchema)
  }

  private val TopKSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("qid", IntegerType, nullable = false),
      StructField("doc_id", LongType), StructField("score", LongType),
      StructField("rank", IntegerType, nullable = false)))
  }

  /** The distributed tier of [[topK]]: the bucket-pruned probe joined to
    * the broadcast query terms, pinned by `localCheckpoint`, then df,
    * scores and the rank window as shuffles. N rides the plan as a lazy
    * 1×1, read when the returned frame runs.
    */
  private[graft] def topKDistributed(spark: SparkSession, table: String,
      queries: Seq[(Int, Seq[String])], k: Int,
      asOf: Long): DataFrame = {
    // `asOf` pins the ranking to a version: N sums only meta rows
    // through the stamp (the signed ledger makes this exact — later
    // deletes' negative rows drop out with their tombstones), postings
    // and tombstones cut at the same stamp. Valid back to the last
    // compact, which folds the ledger to one batch-0 row. N rides the
    // scoring plan as a lazy broadcast 1×1 (no eager corpusN job —
    // [[graft.queries.CurationOps.scoreMatchedLazyN]]; values exact).
    val nDf = spark.table(s"${table}_meta").filter(col("batch_id") <= asOf)
      .dropDuplicates("n_docs", "batch_id")
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_total"))
    val terms = queries.flatMap(_._2).distinct
    // plan + materialize the probe on the bucket-pruning clone; once
    // pinned, downstream stages run on the caller's session as usual
    val ps = probeSession(spark, s"${table}_postings")
    val p = Frontier.purge(ps, table, "retrieval",
      collapseReplays(ps.table(s"${table}_postings")
        .filter(col("term").isin(terms: _*)) // explicit IN → bucket pruning
        .filter(col("batch_id") <= asOf)), asOf)
    val q = broadcast(queryTermsDf(ps, queries))
    val matched = p.join(q, "term").localCheckpoint()
    val scored = graft.queries.CurationOps.scoreMatchedLazyN(matched, nDf)
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "doc_id", "score", "rank")
  }

  /** Positional postings — the third, independent index table: (term,
    * doc_id, positions: sorted array<int>, 0-based over the FILTERED
    * token sequence — the same lowercased-whitespace tokens as
    * [[postings]], so term search and phrase search agree on what a
    * token is). Term-bucketed like the tf postings: phrase probes prune
    * to the buckets of the phrase's terms. Positions-per-term rows are
    * the classic positional-index trade: ~1 int per token of corpus,
    * the price of answering adjacency without touching raw text.
    */
  def buildPositions(docs: DataFrame, table: String, path: String,
      nBuckets: Int = 16, commitAlias: Long = -1L): Unit = {
    graft.sources.TableWriter.writeBucketed(
      positionRows(docs).withColumn("batch_id", lit(0L)),
      s"${table}_positions", s"$path/positions", "term", nBuckets)
    // `_pbatches` — the positional tier's commit marker, written LAST
    // (the `_meta` protocol), with a stream cold-start's own stamp
    Ledger.built(docs.sparkSession, table, "positions", path, commitAlias)
  }

  /** (term, doc_id, positions) of one corpus slice — the pure function
    * of the batch both the build and the extend append.
    */
  private def positionRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        filter(split(lower(trim(col("text"))), "\\s+"),
          t => length(t) > 0).as("tk"))
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Fold a new batch into the positional index, exactly-once under
    * replay — the [[extend]] protocol, in its simplest form (position
    * rows are a pure function of the batch; no history reads at all):
    * a committed batch's replay no-ops on the `_pbatches` stamp; a
    * crashed batch's replay re-appends byte-identical rows that
    * [[phrase]] collapses per (term, doc_id, batch_id). Positions are
    * 0-based over each document's OWN token sequence, so increments
    * never renumber anything.
    */
  def extendPositions(docs: DataFrame, table: String, batchId: Long,
      nBuckets: Int = 16): Unit =
    Ledger.commit(docs.sparkSession, table, "positions", batchId)(
      positionRows(docs).withColumn("batch_id", lit(batchId))
        .repartition(nBuckets, col("term")) // one file per bucket, as at build
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .insertInto(s"${table}_positions"))

  /** Tombstone documents out of the POSITIONAL tier — the
    * [[Frontier]] protocol without [[deleteDocs]]' N ledger (phrase
    * search has no idf), into the tier's own `_pdeleted` frontier:
    * a delete on one tier leaves the other tier's answers unchanged.
    */
  def deletePositionDocs(spark: SparkSession, ids: DataFrame, table: String,
      path: String, batchId: Long): Unit =
    Ledger.commit(spark, table, "positions", batchId)(
      Frontier.append(ids, table, "positions", path, batchId))

  /** Fold the positional tier back to batch 0 ([[Ledger.Compaction]]);
    * `preserveNamespace` keeps the max committed stamp in the marker —
    * see [[compact]]'s contract note.
    */
  def compactPositions(spark: SparkSession, table: String, path: String,
      nBuckets: Int = 16, preserveNamespace: Boolean = false): Unit = {
    val ledger = Ledger.compaction(spark, table, "positions", path, preserveNamespace)
    ledger.rewrite("positions", Seq("term", "doc_id"), "term", nBuckets)
    ledger.commit()
  }

  /** Exact phrase search from the positional index: a document matches
    * phrase (t₀ … t_{k−1}) iff some anchor position p has t₀ at p and
    * every tᵢ at p + i. The probe is the [[topK]] idiom — explicit
    * `term IN` for bucket pruning, broadcast (phrase, term, offset)
    * spine, one pinned matched frame — then per (phrase, doc) the
    * per-offset position arrays fold IN-ROW: for each anchor p, count
    * the offsets whose array contains p + off; k hits = a phrase
    * occurrence. No self-join per offset (the k-way join shape), no
    * raw-text rescans — cost ∝ matched postings, and the adjacency
    * check is array arithmetic inside codegen.
    *
    * @return (pid, doc_id, n_matches) for docs with ≥ 1 occurrence;
    *         n_matches counts DISTINCT anchors (overlaps included)
    */
  def phrase(spark: SparkSession, table: String,
      phrases: Seq[(Int, Seq[String])],
      asOf: Long = Long.MaxValue): DataFrame = {
    val terms = phrases.flatMap(_._2).distinct
    val ps = probeSession(spark, s"${table}_positions")
    val p = Frontier.purge(ps, table, "positions",
      ps.table(s"${table}_positions")
        .filter(col("term").isin(terms: _*)) // explicit IN → bucket pruning
        .filter(col("batch_id") <= asOf) // AS-OF stamp cut (MVCC read)
        .dropDuplicates("term", "doc_id", "batch_id") // crashed-replay collapse
        .drop("batch_id"), asOf)
    val pdf = {
      import ps.implicits._
      phrases.flatMap { case (pid, ts) =>
        ts.zipWithIndex.map { case (t, i) => (pid, t, i, ts.size) }
      }.toDF("pid", "term", "off", "plen")
    }
    val matched = p.join(broadcast(pdf), "term").localCheckpoint()
    // a duplicated term inside a phrase joins its single posting row to
    // each of its offsets, so n_offsets counts offsets, not terms
    matched
      .groupBy("pid", "doc_id", "plen")
      .agg(count(lit(1)).as("n_offsets"),
        collect_list(struct(col("off"), col("positions"))).as("offs"))
      .filter(col("n_offsets") === col("plen")) // every offset's term present
      .withColumn("anchor",
        element_at(filter(col("offs"), s => s.getField("off") === 0), 1)
          .getField("positions"))
      .withColumn("n_matches",
        size(filter(col("anchor"), pAnchor =>
          size(filter(col("offs"), s =>
            array_contains(s.getField("positions"),
              pAnchor + s.getField("off")))) === col("plen"))).cast("long"))
      .filter(col("n_matches") > 0)
      .select("pid", "doc_id", "n_matches")
  }

  /** q87 from the index: docs containing ALL of each query's terms. */
  def boolean(spark: SparkSession, table: String,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    val terms = queries.flatMap(_._2).distinct
    val ps = probeSession(spark, s"${table}_postings")
    val p = Frontier.purge(ps, table, "retrieval",
      collapseReplays(ps.table(s"${table}_postings")
        .filter(col("term").isin(terms: _*))))
    val q = broadcast(queryTermsDf(ps, queries))
    val arity = queries.foldLeft(lit(-1)) { case (acc, (qid, ts)) =>
      when(col("qid") === qid, lit(ts.size)).otherwise(acc)
    }
    val matched = p.join(q, "term").localCheckpoint()
    matched
      .groupBy("qid", "doc_id")
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === arity)
      .select("qid", "doc_id", "n_matched")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained JOIN view — the second act of incremental
  * view maintenance ([[IvmRollup]] maintains aggregates; this maintains
  * a denormalized fact ⋈ dim view under changelogs to BOTH sides), the
  * counting algorithm of the IVM literature (deltas carry signed
  * multiplicities, and the join delta is bilinear):
  *
  *   ΔV  =  ΔF ⋈ D_pre  ∪  F_pre ⋈ ΔD  ∪  ΔF ⋈ ΔD
  *
  * with multiplicities multiplying across the join — an update is a
  * (−old, +new) pair, so a dim row's payload change fans out as one
  * negative and one positive view row per matching fact, exactly what a
  * recompute would change.
  *
  * State is three batch-stamped logs under one table family, all
  * bucketed by the join key: `<t>_fact` (fact rows + dn), `<t>_dim`
  * (dim rows + dn), and `<t>` — the VIEW log (joined rows + dn). The
  * `_batches` marker (written LAST) is the crash contract, the
  * [[Dedup.extendPairIndex]] protocol: apply aggregates each delta to
  * ONE row per (row identity, batch) before appending, so a crashed
  * replay re-appends byte-identical rows that [[serve]] collapses per
  * (identity, batch_id); pre-state reads exclude the applying batch's
  * own stamp, so the replay computes against the same pre-state the
  * crashed attempt saw.
  *
  * Cost model (the known IVM asymmetry, stated rather than hidden):
  * a FACT delta costs ∝ batch — the dim side is collapsed current
  * state, broadcast only under a MEASURED size gate (past it, a plain
  * join the bucketed dim log serves exchange-free). A DIM delta
  * costs a fact-log scan (broadcast ΔD keys, no shuffle) + output ∝
  * matched facts — the honest fan-out a payload change implies; at
  * 100 TB the fact log's join-key bucketing bounds the rewrite the way
  * q151's dirty-bucket plan does. Serve is a scan + one bucket-local
  * collapse: no join at read time — that is the point of materializing.
  *
  * Reference trigger: the reference joins its consolidated groups back
  * to per-link records from scratch each run (`pairs_to_links`
  * rebuild); this is that join maintained instead of recomputed.
  */
object IvmJoin {

  /** Build the view from full snapshots: V = fact ⋈ dim on `key`,
    * every row dn = +1, batch 0; the two side logs persist the same
    * snapshots. Overwrite semantics: a crashed build's retry replaces
    * (callers probe `_batches`, written last).
    */
  def build(fact: DataFrame, dim: DataFrame, key: String,
      table: String, path: String, nBuckets: Int = 16): Unit =
    build(fact, dim, Seq(key), table, path, nBuckets)

  /** Composite-key form — the join key is a column TUPLE; all three
    * logs bucket by the same tuple, so probes and serves stay
    * co-located exactly as in the single-key case.
    */
  def build(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      table: String, path: String, nBuckets: Int): Unit = {
    val spark = fact.sparkSession
    val stamp = (df: DataFrame) =>
      df.withColumn("dn", lit(1L)).withColumn("batch_id", lit(0L))
    // the three writes run CONCURRENTLY (the house build move): order
    // carries no crash contract — the trailing `_batches` marker does
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val ow = org.apache.spark.sql.SaveMode.Overwrite
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(Seq(
      scala.concurrent.Future(graft.sources.TableWriter.writeBucketed(
        stamp(fact), s"${table}_fact", s"$path/fact", keys, nBuckets, ow)),
      scala.concurrent.Future(graft.sources.TableWriter.writeBucketed(
        stamp(dim), s"${table}_dim", s"$path/dim", keys, nBuckets, ow)),
      scala.concurrent.Future(graft.sources.TableWriter.writeBucketed(
        stamp(fact.join(dim, keys)), table, s"$path/view", keys, nBuckets, ow)))),
      scala.concurrent.duration.Duration.Inf)
    Ledger.built(spark, table, "join", path)
  }

  /** Net a stamped log: collapse replayed duplicates per (identity,
    * batch) — FAILING LOUDLY on divergent ones, the [[IvmRollup.serve]]
    * guard: replay safety rests on appends being deterministic, so two
    * DIFFERENT dn under one (identity, batch_id) mean the single-writer
    * contract broke, and picking one silently would serve a wrong view
    * — then sum multiplicities per identity. Identity is every column
    * except (dn, batch_id).
    */
  private def netted(df: DataFrame, cols: Seq[String]): DataFrame =
    collapsed(df, cols)
      .groupBy(cols.map(col): _*).agg(sum(col("dn_lo")).as("dn"))

  /** The fenced per-(identity, batch) collapse [[netted]] sums — one row
    * per collapsed log entry, divergence raising inside the aggregate.
    * Split out so [[describe]]'s `view_log_entries` counts the SAME
    * loud-fenced groups the serve path folds (a dropDuplicates count
    * would silently absorb a divergent-dn single-writer violation into
    * one entry instead of failing).
    */
  private def collapsed(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy((cols :+ "batch_id").map(col): _*)
      .agg(min(col("dn")).as("dn_lo"), max(col("dn")).as("dn_hi"))
      .filter(assert_true(col("dn_lo") === col("dn_hi"),
        lit("IvmJoin: divergent replayed dn under one (identity, batch_id)" +
          " — two different deltas appended under one stamp")).isNull)

  /** A log's net state as of just before `batchId`: exclude the
    * applying batch's own crashed rows, then net — keep live rows.
    */
  private def preState(spark: SparkSession, t: String, batchId: Long): DataFrame = {
    val cols = spark.table(t).columns.filterNot(Seq("dn", "batch_id").contains)
    netted(spark.table(t)
      .filter(col("batch_id") =!= batchId), cols) // replay reads the same pre-state
      .filter(col("dn") > 0)
  }

  /** Fold one changelog batch into the family. `factDelta` / `dimDelta`
    * carry their side's full row schema plus a signed `dn` (±1; an
    * update is a −old/+new pair). Either side may be empty. All three
    * appends are deterministic functions of (pre-state, batch) and the
    * marker goes LAST — the house exactly-once protocol.
    */
  def applyDelta(spark: SparkSession, table: String, key: String,
      factDelta: DataFrame, dimDelta: DataFrame, batchId: Long,
      nBuckets: Int = 16): Unit =
    applyDelta(spark, table, Seq(key), factDelta, dimDelta, batchId, nBuckets)

  def applyDelta(spark: SparkSession, table: String, keys: Seq[String],
      factDelta: DataFrame, dimDelta: DataFrame, batchId: Long,
      nBuckets: Int): Unit =
    // fenced ([[Ledger]]): a second writer racing ahead, whose pre-state
    // would silently include this batch's partial appends, fails before
    // corrupting deltas; a crashed batch replays as max+1 and passes
    Ledger.commit(spark, table, "join", batchId) {
      // the two pins and then the two emptiness probes are independent
      // per-side actions — overlap each pair (guide §2.6)
      val Seq(dF, dD) = graft.core.Par.run(Seq(
        factDelta.withColumnRenamed("dn", "dn_f"),
        dimDelta.withColumnRenamed("dn", "dn_d")))(_.localCheckpoint())
      // each pinned delta is emptiness-probed ONCE, here, and the answers
      // flow into deltaView — probing again inside it would run two
      // duplicate (if metadata-cheap) jobs per batch
      val Seq(hasF, hasD) = graft.core.Par.run(Seq(dF, dD))(!_.isEmpty)
      // the same fence, BEFORE any append: a drifted batch must leave
      // NOTHING behind — its retry with a corrected delta is then a
      // fresh apply, not a divergent replay of partial appends (the view
      // term's schema is derived from these two, so checking the inputs
      // covers all three logs; the per-append guard below stays as the
      // invariant's local statement)
      def dataSchema(t: String) = org.apache.spark.sql.types.StructType(
        spark.table(t).schema.filterNot(_.name == "batch_id"))
      if (hasF) graft.core.WriterFence.requireSchemaCompat(
        dF.withColumnRenamed("dn_f", "dn").schema,
        dataSchema(s"${table}_fact"), "IvmJoin", s"${table}_fact")
      if (hasD) graft.core.WriterFence.requireSchemaCompat(
        dD.withColumnRenamed("dn_d", "dn").schema,
        dataSchema(s"${table}_dim"), "IvmJoin", s"${table}_dim")
      val dView = deltaView(spark, table, keys, dF, dD, batchId, hasF, hasD)
      def append(df: DataFrame, t: String): Unit = {
        // schema-evolution fence (round-10 verdict #6): the three logs are
        // written by a name-aligning select + positional insertInto, under
        // which an ADDED delta column would drop silently and a retyped
        // one would cast row-by-row — neither is a migration. Refuse the
        // drifted batch loudly BEFORE any append; the batch's marker never
        // lands, so the refusal is replay-clean like any crashed batch.
        graft.core.WriterFence.requireSchemaCompat(
          df.schema,
          org.apache.spark.sql.types.StructType(
            spark.table(t).schema.filterNot(_.name == "batch_id")),
          "IvmJoin", t)
        val idCols = df.columns.filterNot(_ == "dn")
        df.groupBy(idCols.map(col): _*).agg(sum(col("dn")).as("dn"))
          .filter(col("dn") =!= 0L) // net-zero churn never lands
          .withColumn("batch_id", lit(batchId))
          .select(spark.table(t).columns.map(col): _*) // insertInto is positional
          .repartition(nBuckets, keys.map(col): _*) // one appended file per bucket
          .write.mode(org.apache.spark.sql.SaveMode.Append).insertInto(t)
      }
      // the data appends run CONCURRENTLY (order carries no crash
      // contract — the marker does; the delta inputs are pinned, and the
      // view terms' pre-state reads exclude THIS batch's stamp, so a side
      // append landing before the view job's scan changes nothing)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(
        dView.map(v => scala.concurrent.Future(append(v, table))).toSeq ++
        (if (hasF) Seq(scala.concurrent.Future(
          append(dF.withColumnRenamed("dn_f", "dn"), s"${table}_fact"))) else Nil) ++
        (if (hasD) Seq(scala.concurrent.Future(
          append(dD.withColumnRenamed("dn_d", "dn"), s"${table}_dim"))) else Nil)),
        scala.concurrent.duration.Duration.Inf)
    }

  /** Broadcast-gate bound for the dim PRE-STATE term, in rows of the
    * `_dim` LOG (an upper bound on the collapsed state — conservative
    * in the safe direction). Probed with a limit(bound + 1) count, so
    * the gate reads at most bound + 1 rows however many files the log
    * has accumulated between compacts (round-9 advice fix: a plain
    * count-star is footer-only per file, but the FILE count itself is
    * unbounded). The house MaxBroadcastRows figure ([[Dedup]]).
    */
  private[graft] val MaxBroadcastDimRows = 100000L

  /** The batch's view delta ΔV = ΔF⋈D_pre ∪ F_pre⋈ΔD ∪ ΔF⋈ΔD — split
    * out so [[IvmJoinSpec]] can assert both plan shapes of the gate
    * below without running the appends. `dF`/`dD` arrive pinned and
    * dn-renamed; a bilinear term with an empty side is empty and is
    * skipped, so a fact-only batch never scans the fact log (and vice
    * versa) — the pinned deltas make the emptiness probe a metadata
    * question.
    *
    * The DELTA sides of a term are hinted `broadcast(...)` — they are
    * batch-sized by the changelog contract. The dim PRE-STATE is NOT
    * unconditionally hinted: an explicit hint overrides Spark's size
    * checks, so on a genuinely large dimension (a 100M-row customer at
    * 100×) it would OOM rather than degrade. It broadcasts only under a
    * MEASURED gate ([[MaxBroadcastDimRows]]); past the gate the term
    * falls back to a plain join, which stays cheap by construction: the
    * `_dim` log is bucketed by the join key, so its netted pre-state
    * arrives exchange-free and only the batch-sized fact delta shuffles.
    */
  private[graft] def deltaView(spark: SparkSession, table: String,
      keys: Seq[String], dF: DataFrame, dD: DataFrame, batchId: Long,
      hasF: Boolean, hasD: Boolean): Option[DataFrame] = {
    def cross(f: DataFrame, d: DataFrame, hint: Boolean): DataFrame =
      f.join(if (hint) broadcast(d) else d, keys)
        .withColumn("dn", col("dn_f") * col("dn_d"))
        .drop("dn_f", "dn_d")
    val terms =
      (if (hasF) {
        // measured, not assumed — and SHORT-CIRCUITED: the gate only
        // asks "≤ bound?", so the probe scans at most bound + 1 rows
        // (LocalLimit early-stops) instead of counting a dim log whose
        // FILE count grows unboundedly between compacts
        val dimOk = spark.table(s"${table}_dim")
          .limit(MaxBroadcastDimRows.toInt + 1).count() <= MaxBroadcastDimRows
        Seq(cross(dF,
          preState(spark, s"${table}_dim", batchId).withColumnRenamed("dn", "dn_d"),
          hint = dimOk))
       } else Seq.empty) ++
      (if (hasD) Seq(cross(
        preState(spark, s"${table}_fact", batchId).withColumnRenamed("dn", "dn_f"),
        dD, hint = true))
       else Seq.empty) ++
      (if (hasF && hasD) Seq(cross(dF, dD, hint = true)) else Seq.empty)
    terms.reduceOption(_ unionByName _)
  }

  /** The maintained view: collapse replays per (identity, batch_id),
    * sum multiplicities per identity, keep live rows. `asOf` cuts the
    * log at a stamp (the house MVCC read, valid back to the last
    * compact). The multiplicity fence fails LOUDLY on Σdn outside
    * {0, 1}: under the fact-pk contract a view row exists at most once,
    * so 2+ means a double-insert and negative means a lost delta —
    * folding either silently would serve a wrong view.
    */
  def serve(spark: SparkSession, table: String,
      asOf: Long = Long.MaxValue): DataFrame = {
    val cols = spark.table(table).columns.filterNot(Seq("dn", "batch_id").contains)
    netted(spark.table(table).filter(col("batch_id") <= asOf), cols)
      .filter(col("dn") =!= 0L)
      // the fence lives in a FILTER, not a projected-then-dropped column
      // — Catalyst prunes unused projections, which would silently
      // delete a raise_error sitting in one (measured: it did)
      .filter(assert_true(col("dn") === 1L,
        concat(lit("IvmJoin: multiplicity "), col("dn").cast("string"),
          lit(" outside {0,1} — double-insert or lost delta"))).isNull)
      .drop("dn")
  }

  /** DIFF between two served versions of the VIEW, computed without
    * serving either — [[IvmRollup.diff]]'s verb on the denormalized
    * tier: net the view log's stamped slice `from < batch_id <= to`
    * per row identity and keep the non-zero rows. `dn_delta = +1` is a
    * view row that appeared in the window, `−1` one that disappeared —
    * a dim payload rewrite shows up as exactly its −old/+new pair per
    * matching fact row (the honest IVM fan-out, now consumable as a
    * changelog). Cost ∝ the intervening churn's log rows, never the
    * view; the netting rides the view log's key buckets (zero
    * exchanges). Same replay collapse and loud divergence fence as
    * [[serve]]; same compact-generation horizon as `asOf`. Contract
    * (spec-pinned): serve(from) ⊎ diff == serve(to) as a multiset.
    */
  def diff(spark: SparkSession, table: String, from: Long, to: Long): DataFrame = {
    require(0L <= from && from < to,
      s"IvmJoin.diff: need 0 <= from < to, got ($from, $to)")
    val cols = spark.table(table).columns.filterNot(Seq("dn", "batch_id").contains)
    netted(spark.table(table)
        .filter(col("batch_id") > from && col("batch_id") <= to), cols)
      .withColumnRenamed("dn", "dn_delta")
      .filter(col("dn_delta") =!= 0L)
  }

  /** DESCRIBE for the maintained join view — the [[IvmRollup.describe]]
    * numbers across the family's THREE logs, in bounded scans of the
    * logs themselves (never the source tables):
    *
    *  - `live_view_rows` / `live_fact_rows` / `live_dim_rows`: net-live
    *    rows per log (the replay-collapsed, multiplicity-summed count
    *    every serve would emit);
    *  - `view_log_entries`: collapsed (identity, batch_id) entries in
    *    the VIEW log — the read amplification serve pays over a
    *    compacted base, deliberately replay-collapsed so a crashed
    *    batch's byte-identical duplicates don't inflate the
    *    self-report. Counted over the [[collapsed]] pre-aggregate, so
    *    the count shares the serve path's loud divergence fence
    *    (round-9 advice: a bare dropDuplicates would quietly fold a
    *    divergent-dn contract violation into one entry);
    *  - `batches_since_compact`: COUNT of distinct non-zero stamps in
    *    the VIEW LOG — data batches, exactly as [[IvmRollup.describe]]
    *    counts them. Not max(stamp) (epoch-derived stream stamps would
    *    read "due" forever after a compact) and not the `_batches`
    *    marker (streams stamp EMPTY epochs to keep the fence ledger
    *    contiguous, and a quiet stream's 100 empty markers are zero
    *    read amplification — counting them would schedule compacts
    *    that have nothing to fold).
    *
    * Plan shape: each log's netting sits on its own key buckets, the
    * five scalars assemble by 1×1 crossJoins — the q198 DESCRIBE
    * pattern.
    */
  def describe(spark: SparkSession, table: String): DataFrame = {
    def live(t: String, as: String): DataFrame = {
      val cols = spark.table(t).columns.filterNot(Seq("dn", "batch_id").contains)
      netted(spark.table(t), cols).filter(col("dn") > 0)
        .agg(count(lit(1)).as(as))
    }
    val viewCols = spark.table(table).columns
      .filterNot(Seq("dn", "batch_id").contains)
    live(table, "live_view_rows")
      .crossJoin(live(s"${table}_fact", "live_fact_rows"))
      .crossJoin(live(s"${table}_dim", "live_dim_rows"))
      .crossJoin(collapsed(spark.table(table), viewCols)
        .agg(count(lit(1)).as("view_log_entries"),
          count_distinct(when(col("batch_id") =!= 0L, col("batch_id")))
            .as("batches_since_compact")))
  }

  /** One log's compaction-debt axes for the policy probe — (data
    * batches since compact, dead collapsed entries, total collapsed
    * entries), from the same loud-fenced [[collapsed]] pre-aggregate
    * the serves and [[describe]] read. Dead entries = collapsed log
    * entries beyond one per net-live row: replay-duplicate-free rows a
    * compact would physically fold away (round-9 advice: the VIEW log
    * alone misses a dim-only churn stream whose keys match no facts —
    * its `_dim` log still grows files without ever making the view
    * due, so the policy must read every log's own debt).
    */
  private[graft] def logDebt(spark: SparkSession, t: String): (Long, Long, Long) = {
    val cols = spark.table(t).columns.filterNot(Seq("dn", "batch_id").contains)
    val c = collapsed(spark.table(t), cols).localCheckpoint() // two aggs, one scan
    val row = c.agg(
        count(lit(1)).as("entries"),
        count_distinct(when(col("batch_id") =!= 0L, col("batch_id")))
          .as("batches"))
      .crossJoin(c.groupBy(cols.map(col): _*).agg(sum(col("dn_lo")).as("dn"))
        .filter(col("dn") > 0).agg(count(lit(1)).as("live")))
      .head()
    val entries = row.getAs[Long]("entries")
    (row.getAs[Long]("batches"), entries - row.getAs[Long]("live"), entries)
  }

  /** Fold all three logs back to batch-0 bases — the house compact:
    * replay duplicates and dead rows leave physically, one file per
    * bucket, marker rewrites LAST to {0} (namespace reset; requires
    * quiescence). Each fold is pinned before its Overwrite.
    * `preserveNamespace` keeps the max committed stamp in the marker so
    * a checkpointed [[graft.streaming.IvmJoinStream]] resumes over the
    * compacted family — [[graft.core.WriterFence.compactKeepStamps]]
    * states the contract.
    */
  def compact(spark: SparkSession, table: String, path: String,
      keys: Seq[String], nBuckets: Int = 16,
      preserveNamespace: Boolean = false): Unit = {
    val ledger = Ledger.compaction(spark, table, "join", path, preserveNamespace)
    def fold(t: String, sub: String): Unit = {
      val cols = spark.table(t).columns.filterNot(Seq("dn", "batch_id").contains)
      val base = netted(spark.table(t), cols)
        .filter(col("dn") > 0)
        .withColumn("batch_id", lit(0L))
        .localCheckpoint() // the Overwrite reads the table it replaces
      graft.sources.TableWriter.writeBucketed(base, t, s"$path/$sub", keys,
        nBuckets, org.apache.spark.sql.SaveMode.Overwrite)
    }
    // independent rewrites run concurrently; marker rewrites LAST
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(Seq(
      scala.concurrent.Future(fold(table, "view")),
      scala.concurrent.Future(fold(s"${table}_fact", "fact")),
      scala.concurrent.Future(fold(s"${table}_dim", "dim")))),
      scala.concurrent.duration.Duration.Inf)
    ledger.commit()
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The commit ledger of the maintained families: the exactly-once stamp
  * protocol, written once for every kind with a commit marker
  * ([[Maintenance.FamilyKind]]'s `marker`: `_batches`, retrieval's
  * `_meta`, the positional tier's `_pbatches`).
  *
  * Every row a maintained verb appends carries its batch stamp, and the
  * marker holds one row per COMMITTED stamp, appended LAST:
  *
  *  - a stamp in the marker certifies that every append of its batch
  *    landed, so a replay of a committed batch is a no-op;
  *  - a stamp missing from the marker means the batch crashed, and its
  *    replay re-appends byte-identical rows that every read path
  *    collapses per (keys, batch_id);
  *  - build writes the marker last as {0} (plus a stream's cold-start
  *    epoch stamp, `commitAlias`), so a crashed build reads as "no
  *    family yet" ([[exists]]) and the rebuild overwrites;
  *  - compact rewrites it last as {0} or {0, maxCommitted}
  *    ([[graft.core.WriterFence.compactKeepStamps]]), after the
  *    lease-tenure check ([[graft.core.CommitGuard]]).
  *
  * Kinds whose verbs read pre-state or could double-index under two
  * stamps are FENCED ([[graft.core.WriterFence]]): a fresh stamp must be
  * max(committed) + 1, so their committed stamps form one contiguous run
  * ([[Maintenance.fsck]] audits it). The exact pair index is not fenced:
  * its dict density check catches an interleaved writer, and its stream
  * stamps adds and deletes of one epoch apart and skips empty epochs, so
  * its stamps may leave gaps.
  *
  * Retrieval's `_meta` is the one marker with a payload: each row
  * carries the batch's signed document count (`n_docs`) in front of the
  * stamp, and the ranking's N is their sum.
  */
private[graft] object Ledger {

  private def kindOf(kind: String) = Maintenance.familyKind(kind)

  /** The table holding the kind's stamps: its marker, or for the
    * markerless rollup the log itself (max visible stamp is committed
    * there). */
  private[operators] def ledger(table: String, kind: String): String =
    kindOf(kind).marker.fold(table)(Maintenance.tableOf(table, _))

  /** The cold-start probe: whether the family's build committed. */
  def exists(spark: SparkSession, table: String, kind: String): Boolean =
    spark.catalog.tableExists(ledger(table, kind))

  /** The distinct stamps of a stamped log, by one scan-only job that
    * folds them per partition on the executors: a data log is not
    * bounded by the batch count, its stamp set is. */
  def stampsOf(spark: SparkSession, t: String): Set[Long] =
    Integrity.digests(Seq(Integrity.Leg(spark.table(t), hashed = false, stamped = true)))
      .head.stamps

  /** The marker's rows as (payload or 0, stamp), by one scan with no
    * shuffle: a marker holds about one row per committed batch, so the
    * distinct and the payload sum run on the driver. */
  private def markerRows(spark: SparkSession, table: String, kind: String): Seq[(Long, Long)] = {
    val payload = kindOf(kind).payload
    spark.table(ledger(table, kind)).select((payload.toSeq :+ "batch_id").map(col): _*)
      .collect().toSeq.map(r => if (payload.isDefined) (r.getLong(0), r.getLong(1))
        else (0L, r.getLong(0)))
  }

  /** The family's committed stamps: the marker's, or for the
    * markerless rollup the log's own. */
  def committed(spark: SparkSession, table: String, kind: String): Set[Long] =
    if (kindOf(kind).marker.isDefined) markerRows(spark, table, kind).map(_._2).toSet
    else stampsOf(spark, table)

  /** The stamped-verb frame: refuse a non-positive stamp, no-op a
    * committed replay, fence the writer where the kind fences, run the
    * verb's data appends, then append the marker row LAST. */
  def commit(spark: SparkSession, table: String, kind: String, batchId: Long)(
      appends: => Unit): Unit =
    commitCounted(spark, table, kind, batchId) { appends; 0L }

  /** [[commit]] for a verb whose appends return the marker's payload. */
  def commitCounted(spark: SparkSession, table: String, kind: String, batchId: Long)(
      appends: => Long): Unit = {
    require(batchId > 0L, s"batchId must be positive (0 is the build): $batchId")
    val done = committed(spark, table, kind)
    if (done.contains(batchId)) return
    if (kindOf(kind).fenced) graft.core.WriterFence(done, batchId, s"$kind family $table")
    val n = appends
    mark(spark, table, kind, Seq(batchId), n, None)
  }

  /** The marker append alone, for staging a crash window in two steps. */
  def append(spark: SparkSession, table: String, kind: String, batchId: Long): Unit =
    mark(spark, table, kind, Seq(batchId), 0L, None)

  /** The crash seam: set while a staged crash runs on this thread. A
    * plain (non-inheritable) thread-local, as [[graft.core.CommitGuard]]'s,
    * so a staging never leaks into another thread's verbs; it is not
    * that guard, which means lease tenure. */
  private val crashing = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** The staged crash, thrown by [[mark]] before it writes. A control
    * throwable, so a verb's NonFatal handlers let it through. */
  private final class Crashed extends scala.util.control.ControlThrowable

  /** Run `verb` as a crash right before its marker write: every action
    * of the production verb runs (the committed-replay check, the
    * writer fence, the data appends, a compact's rewrites and frontier
    * truncation), then the first marker write ([[mark]]) of a build,
    * stamped verb or compact throws instead of writing: the one legal
    * crash window of the protocol. A `verb` that returns without
    * reaching a marker write (a committed replay no-ops) fails loudly,
    * so a staging never passes silently; anything else `verb` throws (a
    * fence refusal) propagates. The flag is cleared on every exit. Adds
    * no Spark job. */
  def crashBeforeMarker(verb: => Unit): Unit = {
    crashing.set(true)
    try {
      verb
      throw new IllegalStateException(
        "Ledger.crashBeforeMarker: the staged verb returned without a marker write")
    } catch { case _: Crashed => () }
    finally crashing.set(false)
  }

  /** Build's LAST write: the marker overwritten as {0}, plus a stream's
    * cold-start stamp `commitAlias` when positive. `n` is the payload of
    * the stamp-0 row. */
  def built(spark: SparkSession, table: String, kind: String, path: String,
      commitAlias: Long = -1L, n: Long = 0L): Unit =
    mark(spark, table, kind, Seq(0L) ++ Option(commitAlias).filter(_ > 0L), n, Some(path))

  /** A compact: the fold of a family's stamped logs back to batch 0,
    * written once (the join view folds its netted logs itself and
    * shares the commit). The ledger is read once before the rewrites
    * ([[compaction]]): the stamps the marker keeps and the payload its
    * batch-0 row carries (retrieval's surviving N). Then:
    *
    *  - each log is rewritten ([[rewrite]]): replays collapse per (keys,
    *    batch_id), tombstoned rows leave ([[Frontier]]), every row is
    *    restamped 0, and the frame is pinned before the Overwrite that
    *    replaces the table it reads, one file per bucket;
    *  - the commit ([[commit]]) truncates the frontier after the data
    *    rewrites, checks the lease tenure, and rewrites the marker LAST
    *    as {0} (the namespace reset: quiescence required, manual ladders
    *    restart at stamp 1) or {0, maxCommitted} when preserving
    *    ([[graft.core.WriterFence.compactKeepStamps]]).
    *
    * Restartable, not transactional: a crash between rewrites leaves a
    * CONTENT-EQUIVALENT family (the collapse removes only byte-identical
    * replays, every read collapses stamps anyway, and the tombstones stay
    * active until the data is purged), so a rerun converges. */
  final class Compaction private[Ledger] (spark: SparkSession, table: String,
      kind: String, path: String, keep: Seq[Long], n: Long) {

    /** Fold one stamped log (`suffix`) to batch 0: collapse replays per
      * (`keys`, batch_id), `purge` the tombstoned rows (default: the
      * kind's [[Frontier]]), restamp 0 and rewrite the pinned frame one
      * file per `bucketCol` bucket under `path/<suffix>`. */
    def rewrite(suffix: String, keys: Seq[String], bucketCol: String, nBuckets: Int,
        purge: DataFrame => DataFrame = Frontier.purge(spark, table, kind, _)): Unit = {
      val t = Maintenance.tableOf(table, suffix)
      val collapsed = purge(spark.table(t).dropDuplicates(keys :+ "batch_id"))
        .drop("batch_id").withColumn("batch_id", lit(0L))
        .localCheckpoint() // pinned: the Overwrite reads the table it replaces
      graft.sources.TableWriter.writeBucketed(
        collapsed, t, s"$path/$suffix", bucketCol, nBuckets)
    }

    /** The compact's commit, after its data rewrites: truncate the
      * tombstone frontier, check the lease tenure, rewrite the marker. */
    def commit(): Unit = {
      if (kindOf(kind).frontier.isDefined) Frontier.truncate(spark, table, kind, path)
      graft.core.CommitGuard.check() // lease-tenure fence at the commit point
      mark(spark, table, kind, Seq(0L) ++ keep, n, Some(path))
    }
  }

  /** A compact's ledger read. A manual compact (`preserveNamespace =
    * false`) keeps no stamp, so on a kind without a payload it reads
    * nothing; otherwise one [[markerRows]] scan answers both the stamps
    * and the payload's sum over distinct (payload, stamp) rows. */
  def compaction(spark: SparkSession, table: String, kind: String, path: String,
      preserveNamespace: Boolean): Compaction = {
    val rows =
      if (preserveNamespace || kindOf(kind).payload.isDefined) markerRows(spark, table, kind)
      else Nil
    new Compaction(spark, table, kind, path, graft.core.WriterFence.compactKeepStamps(
      rows.map(_._2).toSet, preserveNamespace), rows.distinct.map(_._1).sum)
  }

  /** Write marker rows for `stamps`: the first carries payload `n`, the
    * rest 0 (neutral to N). Appends when `path` is None, else
    * overwrites the marker at `path/<marker suffix>`. */
  private def mark(spark: SparkSession, table: String, kind: String,
      stamps: Seq[Long], n: Long, path: Option[String]): Unit = {
    if (crashing.get()) throw new Crashed
    import spark.implicits._
    val k = kindOf(kind)
    val marker = ledger(table, kind)
    val rows = stamps.zipWithIndex.map { case (s, i) => (if (i == 0) n else 0L, s) }
      .toDF(k.payload.getOrElse("payload"), "batch_id")
    val df = if (k.payload.isDefined) rows else rows.select("batch_id")
    path match {
      case None => df.write.mode(SaveMode.Append).insertInto(marker)
      case Some(p) => df.write.mode(SaveMode.Overwrite)
        .option("path", s"$p/${k.marker.get}").format("parquet").saveAsTable(marker)
    }
  }
}

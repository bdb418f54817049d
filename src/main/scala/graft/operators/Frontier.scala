package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count_distinct, lit}

/** The tombstone frontier of the maintained index kinds (pairs, lsh,
  * retrieval, positions, ivf): the right-to-be-forgotten leg of the
  * family lifecycle, written once for every kind that keeps one
  * ([[Maintenance.FamilyKind]]'s `frontier`: the table suffix, the id
  * column its rows carry and the data log whose ids it tombstones).
  *
  *  - A delete is ONE stamped append of the batch's distinct ids as one
  *    small file ([[append]]), inside the [[Ledger]] frame, so the
  *    marker row lands last: a committed replay no-ops, and a crashed
  *    replay re-appends byte-identical ids that every read collapses
  *    through its distinct. Cost ∝ deleted ids, no index rewrite. The
  *    table is born by the first delete. Being an APPEND-mode stamped
  *    log is what lets deletes compose with
  *    [[Snapshot.exportAtCut]]'s commit-boundary slice.
  *  - Every read path drops the ids tombstoned at or before its `asOf`
  *    stamp ([[purge]]): one distinct anti-join per id column, so a
  *    pinned read does not see a later delete. The frontier is small
  *    and table-backed, so Catalyst broadcasts it from statistics; a
  *    family without deletes skips the join (one catalog probe).
  *  - Describe reports the distinct tombstoned ids ([[tombstoned]]) as a
  *    lazy 1×1 leg of its plan.
  *  - Compact purges the tombstoned ids physically, truncates the
  *    frontier after the data rewrites ([[truncate]]), then rewrites
  *    the marker. Every crash point still serves corpus-minus-deleted,
  *    because the tombstones stay until the data is purged.
  *
  * Each kind owns its frontier, so two kinds on one table (the
  * retrieval tf tier's `_deleted` and the positional tier's
  * `_pdeleted`) never see each other's deletes: a compact of one tier
  * truncates only its own frontier, and fsck audits each against its
  * own marker.
  */
private[graft] object Frontier {

  /** A kind's frontier: `<table>_<suffix>` rows of (`idCol`, batch_id),
    * tombstoning ids of the `dataLog` suffix's table. */
  final case class Spec(suffix: String, idCol: String, dataLog: String)

  def spec(kind: String): Spec = Maintenance.familyKind(kind).frontier.getOrElse(
    throw new IllegalArgumentException(s"family kind '$kind' keeps no tombstone frontier"))

  private def name(table: String, kind: String): String =
    Maintenance.tableOf(table, spec(kind).suffix)

  /** The frontier's rows, once a delete has landed. */
  def read(spark: SparkSession, table: String, kind: String): Option[DataFrame] = {
    val t = name(table, kind)
    if (spark.catalog.tableExists(t)) Some(spark.table(t)) else None
  }

  /** The distinct ids tombstoned at or before `asOf`. */
  def dead(spark: SparkSession, table: String, kind: String,
      asOf: Long = Long.MaxValue): Option[DataFrame] =
    read(spark, table, kind).map(
      _.filter(col("batch_id") <= asOf).select(spec(kind).idCol).distinct())

  /** `df` without the rows whose `cols` (default: the frontier's id
    * column) name an id tombstoned at or before `asOf`. */
  def purge(spark: SparkSession, table: String, kind: String, df: DataFrame,
      asOf: Long = Long.MaxValue, cols: Seq[String] = Nil): DataFrame =
    dead(spark, table, kind, asOf).fold(df)(antiJoin(df, kind, _, cols))

  /** [[purge]] against an already-read `dead` id set. */
  def antiJoin(df: DataFrame, kind: String, dead: DataFrame,
      cols: Seq[String] = Nil): DataFrame = {
    val id = spec(kind).idCol
    (if (cols.isEmpty) Seq(id) else cols).foldLeft(df) { (d, c) =>
      d.join(if (c == id) dead else dead.withColumnRenamed(id, c), Seq(c), "left_anti")
    }
  }

  /** Describe's one-row `tombstoned` leg: distinct tombstoned ids. */
  def tombstoned(spark: SparkSession, table: String, kind: String): DataFrame =
    read(spark, table, kind).fold {
      import spark.implicits._
      Seq(0L).toDF("tombstoned")
    }(_.agg(count_distinct(col(spec(kind).idCol)).as("tombstoned")))

  /** The delete's data append: `ids`' distinct ids, stamped `batchId`. */
  def append(ids: DataFrame, table: String, kind: String, path: String,
      batchId: Long): Unit = {
    val id = spec(kind).idCol
    write(table, kind, path, ids.select(col(id)).dropDuplicates(id)
      .withColumn("batch_id", lit(batchId))
      .coalesce(1)) // a deletion frontier is one small file
  }

  /** Append already-stamped frontier rows. */
  def write(table: String, kind: String, path: String, stamped: DataFrame): Unit =
    stamped.write.mode(SaveMode.Append)
      .option("path", s"$path/${spec(kind).suffix}")
      .format("parquet").saveAsTable(name(table, kind))

  /** Compact's truncation, after its data rewrites. An empty frame with
    * the frontier's schema needs no read of the table it replaces. */
  def truncate(spark: SparkSession, table: String, kind: String, path: String): Unit =
    read(spark, table, kind).foreach { d =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], d.schema)
        .write.mode(SaveMode.Overwrite).option("path", s"$path/${spec(kind).suffix}")
        .format("parquet").saveAsTable(name(table, kind))
    }
}

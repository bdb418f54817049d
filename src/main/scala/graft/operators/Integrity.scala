package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Order-independent dataset fingerprints — the integrity primitive behind
  * "did the 100 TB copy/migration/backfill produce the same table?".
  *
  * Each row hashes to 48 bits (md5 over a canonical unit-separator
  * rendering of the chosen columns), and the dataset digest combines row
  * hashes with COMMUTATIVE aggregates only (count, xor, modular sum, min,
  * max) — so the digest is independent of partitioning, task order, and
  * row order, and two copies compare by comparing one row. One scan,
  * map-side-combined aggregation, nothing ever shuffles but per-partition
  * partials: the cost at 100 TB is the read itself.
  *
  * Column discipline: render integers/strings/booleans directly; convert
  * timestamps to epoch millis and doubles to a scaled-decimal string
  * BEFORE hashing (IEEE double → string rendering differs across engines;
  * the fingerprint's job is byte equality, so feed it bytes that are
  * well-defined). NULL renders as a reserved NUL sentinel, distinct from
  * the empty string and from the column separator.
  */
object Integrity {

  /** 48-bit md5-derived hash of one row's canonical rendering. 12 hex
    * chars parse exactly on any engine's signed 64-bit integers (the full
    * 64 would overflow a BIGINT literal parse on the oracle side), and a
    * single-row change flips the xor digest unless a 2⁻⁴⁸ collision hits.
    */
  def rowHash(cols: Seq[Column]): Column =
    conv(substring(md5(canonical(cols)), 1, 12), 16, 10).cast(LongType)

  // unit separator between columns; NUL sentinel for NULL (distinct from
  // the empty string and from any printable value)
  private def canonical(cols: Seq[Column]): Column =
    concat_ws("\u001f", cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*)

  private val SumMod = 1L << 48
  private val Mask = SumMod - 1 // x mod 2⁴⁸ for x >= 0

  /** The commutative digest pair over a row-hash column named `h`:
    * `xor_hash` plus `sum_hash` (decimal-exact sum of row hashes mod 2⁴⁸,
    * catching the xor blind spot — a row duplicated an EVEN number of
    * times xor-cancels but never sum-cancels; exact sum first, one mod
    * after: overflow-free for any row count and identical on every
    * engine). This is THE digest contract — every grouped manifest
    * (per-shard, per-split) and [[fingerprint]] itself aggregates these
    * same two columns, so digests from different reports stay comparable.
    */
  def digestAggs(h: String): Seq[Column] = Seq(
    expr(s"bit_xor($h)").as("xor_hash"),
    (sum(col(h).cast("decimal(38,0)")) % lit(SumMod)).cast(LongType).as("sum_hash"))

  /** DuckDB twin of [[digestAggs]]: the two SELECT-list fragments. */
  def digestAggsSql(h: String): String =
    s"bit_xor($h) AS xor_hash, " +
      s"CAST(CAST(SUM(CAST($h AS DECIMAL(38,0))) AS DECIMAL(38,0)) % $SumMod AS BIGINT) AS sum_hash"

  /** Single-row digest of `df` over `cols`:
    * (dataset, n_rows, xor_hash, sum_hash, min_hash, max_hash).
    */
  def fingerprint(df: DataFrame, cols: Seq[Column], label: String): DataFrame =
    df.select(rowHash(cols).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        digestAggs("h") ++ Seq(min(col("h")).as("min_hash"), max(col("h")).as("max_hash")): _*)
      .select(lit(label).as("dataset"), col("n_rows"), col("xor_hash"),
        col("sum_hash"), col("min_hash"), col("max_hash"))

  /** The (row_count, sum_hash) pair over ALL of `df`'s columns as a
    * single-row aggregate frame `(n, s, st)` — the [[fingerprint]]
    * digest reduced to the two numbers a manifest can chain: `s`
    * (modular sum of row hashes) is ADDITIVE over a multiset union, so
    * the digest of "base ∪ delta₁ ∪ delta₂" is the mod-2⁴⁸ sum of the
    * parts' digests — no rescan of the parts. That additivity is what
    * lets [[Snapshot]] record a whole-table digest on every incremental
    * link while scanning only the link's own rows. With `withStamps`,
    * `st` also collects the frame's distinct `batch_id` stamps in the
    * same scan (else it is an empty array). One column-complete scan,
    * map-side-combined; an empty frame digests to (0, 0). The SQL form
    * of the digest: [[digests]] computes the same numbers for several
    * frames in one scan-only job, and PropertySpec holds it to this one.
    */
  def contentDigestAgg(df: DataFrame, withStamps: Boolean = false): DataFrame = {
    val h = rowHash(df.columns.toSeq.map(col)).as("h")
    val stamps =
      if (withStamps) collect_set(col("batch_id")) else array().cast("array<bigint>")
    (if (withStamps) df.select(h, col("batch_id")) else df.select(h))
      .agg(count(lit(1)).as("n"), modSum(col("h")).as("s"), stamps.as("st"))
  }

  /** The [[contentDigestAgg]] modulus — additive chaining must reduce
    * with the same one.
    */
  def digestMod: Long = SumMod

  // exact sum first, one mod after; an empty input sums to 0
  private def modSum(h: Column): Column =
    coalesce((sum(h.cast("decimal(38,0)")) % lit(SumMod)).cast(LongType), lit(0L))

  /** One leg of [[digests]]: `df` with the reads asked of it — the
    * row-hash sum over all its columns (`hashed`), its distinct
    * `batch_id` stamps (`stamped`), and the count + hash sum of its
    * `batch_id <= since` prefix (`since`, the parent-history audit of a
    * delta export).
    */
  final case class Leg(df: DataFrame, hashed: Boolean = true,
      stamped: Boolean = false, since: Option[Long] = None)

  /** A leg's answers: row count `n`, row-hash sum mod 2⁴⁸ `s` (0 when
    * not hashed), distinct non-null stamps (∅ when not stamped), and the
    * `batch_id <= since` prefix's count `hn` and hash sum `hs` (0 / 0
    * without a `since`). */
  final case class Digest(n: Long, s: Long, stamps: Set[Long], hn: Long, hs: Long) {
    def sortedStamps: Seq[Long] = stamps.toSeq.sorted
  }

  /** Every leg answered by ONE scan-only Spark job: each leg projects to
    * (leg, row hash, batch_id), the executors fold per-partition
    * partials (count, hash sum mod 2⁴⁸, distinct stamps, prefix count and
    * hash sum) and the driver merges them. No shuffle, so one job
    * whatever the number of legs — a union of per-leg aggregates would
    * run each leg's partial aggregate as its own shuffle-map job under
    * AQE. The values are exactly [[contentDigestAgg]]'s (n, s),
    * `count(1)`, `collect_set(batch_id)` and the prefix audit's
    * `count(when(batch_id <= since, 1))` / mod-sum: a null `batch_id` is
    * no stamp and in no prefix, an empty leg gives 0 / 0 / ∅. The
    * driver holds per leg only its distinct stamps (∝ batches), so a
    * stamped leg must be a stamped log, never an unbounded key column.
    */
  def digests(legs: Seq[Leg]): Seq[Digest] =
    if (legs.isEmpty) Nil
    else {
      val nullLong = lit(null).cast(LongType)
      val rows = legs.zipWithIndex.map { case (l, i) =>
        require(l.since.isEmpty || l.stamped,
          "Integrity.digests: a prefix audit (since) needs a stamped leg")
        l.df.select(lit(i).as("leg"),
          if (l.hashed) rowHash(l.df.columns.toSeq.map(col)) else nullLong,
          if (l.stamped) col("batch_id").cast(LongType) else nullLong)
      }.reduce(_ union _)
      val since = legs.map(_.since).toArray
      val partials = rows.queryExecution.toRdd.mapPartitions { it =>
        val acc = new Array[Partial](since.length)
        it.foreach { r =>
          val i = r.getInt(0)
          if (acc(i) == null) acc(i) = new Partial
          val p = acc(i)
          val h = if (r.isNullAt(1)) 0L else r.getLong(1)
          p.n += 1; p.s = (p.s + h) & Mask
          if (!r.isNullAt(2)) {
            val b = r.getLong(2)
            p.stamps += b
            if (since(i).exists(b <= _)) { p.hn += 1; p.hs = (p.hs + h) & Mask }
          }
        }
        acc.iterator.zipWithIndex.collect { case (p, i) if p != null => (i, p) }
      }.collect()
      val merged = Array.fill(legs.size)(new Partial)
      partials.foreach { case (i, p) => merged(i).merge(p) }
      merged.toSeq.map(p => Digest(p.n, p.s, p.stamps.toSet, p.hn, p.hs))
    }

  // a leg's per-partition fold; row hashes are < 2⁴⁸, so two reduced
  // sums add without overflow before the next mask
  private final class Partial extends Serializable {
    var n = 0L; var s = 0L; var hn = 0L; var hs = 0L
    val stamps = scala.collection.mutable.HashSet.empty[Long]
    def merge(o: Partial): Unit = {
      n += o.n; s = (s + o.s) & Mask
      hn += o.hn; hs = (hs + o.hs) & Mask
      stamps ++= o.stamps
    }
  }

  /** Bucket-digest reconciliation (anti-entropy): compare two snapshots
    * as `nBuckets` per-bucket digest rows — count + [[digestAggs]] over
    * full-row hashes, bucketed by the key columns' hash — and return
    * only the buckets whose triple disagrees. No row-level join at any
    * scale: two column-pruned scans, two map-side-combined `nBuckets`-
    * group aggs, one `nBuckets`-row full-outer join. The dirty buckets
    * are the worklist for a row-level diff ([[Merge.diff]]) — at 100 TB
    * that means diffing the divergent fraction, not the lake.
    *
    * Caller contract: both frames share the same column names in the
    * same order (row hashes canonicalize VALUES, not names; a reordered
    * schema would make every bucket dirty).
    *
    * @return (bucket, n_a, n_b, xor_a, xor_b, sum_a, sum_b) for
    *         mismatched buckets; a bucket absent on one side reports
    *         n = 0 and NULL digests for that side
    */
  def bucketReconcile(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      nBuckets: Int = 256): DataFrame = {
    def buckets(df: DataFrame) = df
      .select(
        pmod(rowHash(keyCols.map(col)), lit(nBuckets.toLong)).as("bucket"),
        rowHash(df.columns.toSeq.map(col)).as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), digestAggs("h"): _*)
    val ga = buckets(a).select(col("bucket"), col("n").as("n_a"),
      col("xor_hash").as("xor_a"), col("sum_hash").as("sum_a"))
    val gb = buckets(b).select(col("bucket").as("bucket_b"), col("n").as("n_b"),
      col("xor_hash").as("xor_b"), col("sum_hash").as("sum_b"))
    ga.join(gb, col("bucket") === col("bucket_b"), "full")
      .filter(!(col("n_a") <=> col("n_b")) ||
        !(col("xor_a") <=> col("xor_b")) || !(col("sum_a") <=> col("sum_b")))
      .select(coalesce(col("bucket"), col("bucket_b")).as("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        col("xor_a"), col("xor_b"), col("sum_a"), col("sum_b"))
  }

  /** DuckDB twin of [[rowHash]] over SQL expressions. */
  def rowHashSql(exprs: Seq[String]): String = {
    val canon = exprs
      .map(e => s"COALESCE(CAST($e AS VARCHAR), chr(0))")
      .mkString(s"concat_ws(chr(31), ", ", ", ")")
    s"CAST(('0x' || substring(md5($canon), 1, 12)) AS BIGINT)"
  }

  /** DuckDB twin of [[fingerprint]] (same output columns). */
  def fingerprintSql(table: String, exprs: Seq[String], label: String): String = s"""
    SELECT '$label' AS dataset, COUNT(*) AS n_rows,
           ${digestAggsSql("h")},
           MIN(h) AS min_hash, MAX(h) AS max_hash
    FROM (SELECT ${rowHashSql(exprs)} AS h FROM $table)""".trim
}

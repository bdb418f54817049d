package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Fuzzy similarity surface (reference F4–F6,
  * `/root/reference/executive_review_tool.py:189-242`).
  *
  * Two tiers:
  *  - rapidfuzz-faithful indel ratios as native Catalyst expressions with
  *    whole-stage-codegen support (`indelRatio` / `tokenSortRatio`) — the
  *    engine's canonical semantics;
  *  - Levenshtein-based variants composed from built-ins (`levRatio` /
  *    `tokenSortLevRatio`) — ANSI-SQL-expressible, used where an external
  *    oracle must reproduce the score exactly.
  *
  * All are scalar, null-intolerant, and stay inside codegen → no UDF/ser-de
  * cost in the 100 TB hot path.
  */
object Similarity {

  /** rapidfuzz `ratio` ∈ [0,100] as a codegen'd Catalyst expression. */
  def indelRatio(a: Column, b: Column): Column =
    ExpressionUtils.column(IndelRatio(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** DuckDB-dialect LCS of two string SQL expressions, as a pure scalar
    * expression — the classic DP expressed as two nested list folds so it
    * can run PER ROW inside a join (a recursive CTE cannot correlate per
    * row). Outer fold: rows of the DP table, one per character of `a`,
    * seeded with the zero row; items are precomputed equality vectors
    * against `b`'s characters, so accumulator and item are both INT
    * lists (DuckDB's seedless `list_reduce` requires them to share a
    * type, and — verified empirically — folds bare-LIST accumulators
    * correctly where struct-carrying-LIST accumulators silently drop
    * state, the q110/BPE lesson). Inner fold: the in-row scan
    * dp[i][j] = eq ? dp[i-1][j-1]+1 : max(dp[i-1][j], dp[i][j-1]),
    * threading the row built so far as the carry. O(|a|·|b|) per pair —
    * the oracle runs it on collapsed distinct keys only.
    */
  def lcsSql(a: String, b: String): String = s"""
    list_reduce(
      list_prepend(
        list_transform(range(0, length($b) + 1), x -> 0),
        list_transform(string_split($a, ''), c ->
          list_transform(string_split($b, ''), bc -> CASE WHEN bc = c THEN 1 ELSE 0 END))),
      (P, eq) -> list_reduce(
          list_prepend([0],
            list_transform(range(1, length($b) + 1), j -> [eq[j], P[j], P[j + 1]])),
          (acc, t) -> list_append(acc,
            CASE WHEN t[1] = 1 THEN t[2] + 1 ELSE greatest(t[3], acc[len(acc)]) END))
    )[length($b) + 1]""".trim

  /** DuckDB-dialect oracle twin of [[indelRatio]] — the "no ANSI twin"
    * wall that kept q33 rows-only for five rounds, breached: indel
    * distance is |a|+|b| − 2·LCS, and [[lcsSql]] expresses LCS as a
    * scalar fold, so the twin computes the BIT-IDENTICAL double
    * `100.0 * (1.0 - dist/total)` that `SimKernel.indelRatio100`
    * computes (same operand order; both engines' `length` count code
    * points; both-empty → 100.0 matches the kernel's guard).
    */
  def indelRatioSql(a: String, b: String): String = s"""
    CASE WHEN length($a) + length($b) = 0 THEN 100.0
         ELSE 100.0 * (1.0 -
           CAST(length($a) + length($b) - 2 * (${lcsSql(a, b)}) AS DOUBLE)
           / CAST(length($a) + length($b) AS DOUBLE)) END""".trim

  /** rapidfuzz `token_sort_ratio` ∈ [0,100] as a codegen'd Catalyst expression. */
  def tokenSortRatio(a: Column, b: Column): Column =
    ExpressionUtils.column(TokenSortRatio(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Canonical whitespace-token-sort key as a composable Column. */
  def tokenSortKey(c: Column): Column =
    array_join(array_sort(filter(split(trim(c), "\\s+"), t => length(t) > 0)), " ")

  /** Levenshtein ratio ∈ [0,100]: 100 * (1 - lev / max(|a|,|b|)); both empty → 100. */
  def levRatio(a: Column, b: Column): Column = {
    val denom = greatest(length(a), length(b))
    when(denom === 0, 100.0)
      .otherwise(lit(100.0) * (lit(1.0) - levenshtein(a, b).cast(DoubleType) / denom.cast(DoubleType)))
  }

  /** Token-sorted Levenshtein ratio (oracle-expressible token_sort analog). */
  def tokenSortLevRatio(a: Column, b: Column): Column =
    levRatio(tokenSortKey(a), tokenSortKey(b))

  /** [[levRatio]] with a length lower-bound guard: lev(a,b) >= ||a|-|b||,
    * so any pair whose length gap alone caps the ratio below `minKeep`
    * scores 0.0 without running the O(nm) DP. Exact for thresholded joins
    * (guarded-out pairs could never reach `minKeep`).
    *
    * (Spark's thresholded `levenshtein(a, b, k)` was tried here and
    * measured ~4× SLOWER than the plain DP at these string lengths — its
    * banded path is not the optimized kernel — so the full-DP form stays.)
    */
  def levRatioFast(a: Column, b: Column, minKeep: Double): Column = {
    val la = length(a).cast(DoubleType)
    val lb = length(b).cast(DoubleType)
    val cap = lit(100.0) * (lit(1.0) - abs(la - lb) / greatest(la, lb, lit(1.0)))
    when(cap < minKeep, 0.0).otherwise(levRatio(a, b))
  }

  /** [[indelRatio]] with the analogous guard: indel dist >= ||a|-|b||. */
  def indelRatioFast(a: Column, b: Column, minKeep: Double): Column = {
    val la = length(a).cast(DoubleType)
    val lb = length(b).cast(DoubleType)
    val cap = lit(100.0) * (lit(1.0) - abs(la - lb) / greatest(la + lb, lit(1.0)))
    when(cap < minKeep, 0.0).otherwise(indelRatio(a, b))
  }

  /** One weighted field of a multi-field record similarity. */
  final case class WeightedField(a: Column, b: Column, weight: Double, score: (Column, Column) => Column)

  /** A field kernel: its Column ratio, and the string that ratio's DP
    * runs on (what [[SimKernel.indelRatioBound100]] must sketch). */
  sealed abstract class Kernel(val ratio: (Column, Column) => Column, val input: String => String)
  object Kernel {
    case object TokenSort extends Kernel(tokenSortRatio, SimKernel.tokenSortKey)
    case object Indel extends Kernel(indelRatio, s => s)
  }

  /** Whether a field takes part in [[weightedSimilarity]] on one side:
    * non-null and not blank after `trim`. */
  def present(c: Column): Column = c.isNotNull && trim(c) =!= ""

  /** Weighted multi-field similarity with weight renormalization: fields
    * blank/null on either side drop out and the remaining weights rescale;
    * all fields absent → 0.0 (reference
    * `/root/reference/executive_review_tool.py:233-242`).
    */
  def weightedSimilarity(fields: Seq[WeightedField]): Column = {
    val both = fields.map(f => (present(f.a) && present(f.b)).cast(DoubleType))
    val num = fields.zip(both).map { case (f, p) =>
      when(p === 1.0, f.score(f.a, f.b) * f.weight).otherwise(0.0)
    }.reduce(_ + _)
    val den = fields.zip(both).map { case (f, p) => p * f.weight }.reduce(_ + _)
    when(den === 0.0, 0.0).otherwise(num / den)
  }

  /** An upper bound of [[weightedSimilarity]] from an upper bound of each
    * field's score, in the Column's own arithmetic and field order (the
    * same left-to-right sums, the same renormalization, 0.0 when no
    * field is present). Every step is monotone in IEEE arithmetic, so
    * field bounds >= field scores give a result >= the Column's double.
    * `both(i)`: field i is [[present]] on both sides; `bound(i)` is read
    * only there.
    */
  def weightedBound(weights: Array[Double], both: Array[Boolean], bound: Int => Double): Double = {
    var num = 0.0
    var den = 0.0
    var i = 0
    while (i < weights.length) {
      if (both(i)) {
        num += bound(i) * weights(i)
        den += weights(i)
      }
      i += 1
    }
    if (den == 0.0) 0.0 else num / den
  }
}

/** `indel_ratio(a, b)` — normalized indel similarity ∈ [0,100]. */
case class IndelRatio(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "indel_ratio"

  override def nullSafeEval(a: Any, b: Any): Any =
    SimKernel.indelRatio100(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernel.indelRatio100($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `token_sort_ratio(a, b)` — indel similarity of the token-sorted strings. */
case class TokenSortRatio(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_sort_ratio"

  override def nullSafeEval(a: Any, b: Any): Any =
    SimKernel.tokenSortRatio100(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernel.tokenSortRatio100($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

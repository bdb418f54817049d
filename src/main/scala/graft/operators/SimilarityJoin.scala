package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy self-join — the scale-out rewrite of the reference's O(n²)
  * single-threaded pairwise loop
  * (`/root/reference/executive_review_tool.py:304-324`).
  *
  * The caller provides a cheap blocking key; candidate pairs are generated
  * only *within* a block via an equi self-join (shuffle hash/sort-merge on
  * the block key — never a global cross product), then scored with a
  * similarity expression and thresholded. With b well-chosen blocks the
  * candidate count drops from n²/2 to Σ|block|²/2, and each block's pairs
  * are generated data-local after one shuffle.
  *
  * Skew guard: blocks larger than `maxBlockSize` (e.g. an empty-string
  * block) would quadratically blow up a single task; they are counted and
  * dropped (reported via the `oversized` side output) rather than silently
  * stalling the job — at 100 TB one hot block is the difference between
  * minutes and never.
  */
object SimilarityJoin {

  final case class Result(pairs: DataFrame, oversizedBlocks: DataFrame)

  /** The default skew guard: blocks of more rows are dropped. */
  val MaxBlockSize: Long = 100000L

  /** @param df        input; must contain `idCol` (unique) and the columns
    *                   used by `blockKey`/`score`
    * @param idCol     unique record id column name
    * @param blockKey  blocking expression (evaluated once per row)
    * @param score     (left, right) => similarity column; columns of the two
    *                   sides are exposed with `_l` / `_r` suffixes
    * @param threshold keep pairs with score >= threshold
    */
  def selfJoin(
      df: DataFrame,
      idCol: String,
      blockKey: Column,
      score: (String => Column, String => Column) => Column,
      threshold: Double,
      maxBlockSize: Long = MaxBlockSize): Result = {

    val withBlock = df.withColumn("__block", blockKey)
    val sizes = withBlock.groupBy("__block").count()
    val oversized = sizes.filter(col("count") > maxBlockSize)
    val ok = withBlock.join(broadcast(oversized.select("__block")), Seq("__block"), "left_anti")

    val l = ok.columns.foldLeft(ok)((d, c) => d.withColumnRenamed(c, s"${c}_l"))
    val r = ok.columns.foldLeft(ok)((d, c) => d.withColumnRenamed(c, s"${c}_r"))
    val joined = l.join(r,
      col("__block_l") === col("__block_r") &&
        col(s"${idCol}_l") < col(s"${idCol}_r"))

    val scored = joined
      .withColumn("sim", score(n => col(s"${n}_l"), n => col(s"${n}_r")))
      .filter(col("sim") >= threshold)
      .drop("__block_l", "__block_r")
    Result(scored, oversized)
  }
}

package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels for fuzzy string similarity, shared by interpreted eval and
  * generated code (called statically from whole-stage codegen).
  *
  * Semantics follow rapidfuzz's `ratio` / `token_sort_ratio` as used by the
  * reference (`/root/reference/executive_review_tool.py:189-242`): the
  * similarity is the normalized *indel* distance (insert/delete only — a
  * substitution costs 2), `100 * (1 - dist / (|a| + |b|))`, which equals
  * `100 * 2*LCS / (|a| + |b|)`. Both-empty → 100.
  *
  * Lengths and edit units are Unicode CODE POINTS, not UTF-16 chars —
  * rapidfuzz runs over Python strings, where one astral character (emoji,
  * musical symbol) is one symbol, so a char-unit DP would double-count
  * every surrogate pair. This also makes the engine's cheap length-gap
  * prebounds (`Similarity.indelRatioFast`, the auto-injected
  * `SimilarityPrefilter` guard) sound: Spark's `length()` counts code
  * points, and `dist >= |la - lb|` only holds when both sides use the
  * same unit. BMP-only strings (the overwhelming hot path) take a
  * zero-allocation char DP — identical by construction since every BMP
  * code point is one char.
  */
object SimKernel {

  /** True when `s` contains no surrogate chars (⇒ chars == code points). */
  private def bmpOnly(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (Character.isSurrogate(s.charAt(i))) return false
      i += 1
    }
    true
  }

  /** Code-point array of `s`; unpaired surrogates pass through as-is. */
  private def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0
    var k = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** Indel distance = |a| + |b| - 2 * LCS(a, b) over code points.
    * O(|a|*|b|) time, O(|b|) space.
    */
  def indelDistance(a: String, b: String): Int =
    if (bmpOnly(a) && bmpOnly(b)) indelDistanceChars(a, b)
    else indelDistanceInts(codePoints(a), codePoints(b))

  // Both DP loops swap the two row buffers by reference between rows —
  // no per-row arraycopy/fill: index 0 of both buffers stays 0 forever
  // (LCS row/column zero), and every j >= 1 slot of the incoming row is
  // overwritten before it is read.
  private def indelDistanceChars(a: String, b: String): Int = {
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      val ca = a.charAt(i - 1)
      var j = 1
      while (j <= m) {
        cur(j) =
          if (ca == b.charAt(j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    n + m - 2 * prev(m)
  }

  private def indelDistanceInts(a: Array[Int], b: Array[Int]): Int = {
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      val ca = a(i - 1)
      var j = 1
      while (j <= m) {
        cur(j) =
          if (ca == b(j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    n + m - 2 * prev(m)
  }

  /** rapidfuzz-style `ratio` in [0, 100]. */
  def indelRatio100(a: UTF8String, b: UTF8String): Double = {
    val sa = a.toString
    val sb = b.toString
    val total = sa.codePointCount(0, sa.length) + sb.codePointCount(0, sb.length)
    if (total == 0) 100.0
    else 100.0 * (1.0 - indelDistance(sa, sb).toDouble / total)
  }

  /** Compare two strings by CODE POINT, not UTF-16 unit — Python's
    * string order, which rapidfuzz's token_sort inherits. The orders
    * differ exactly when one side has an astral character and the other
    * a BMP character above U+D800 (surrogate units sort astral strings
    * low in UTF-16 order; code points sort them high).
    */
  private def compareCodePoints(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  // hoisted: tokenSortKey runs twice per row from codegen — no per-call
  // comparator allocation
  private val codePointComparator: java.util.Comparator[String] =
    new java.util.Comparator[String] {
      override def compare(a: String, b: String): Int = compareCodePoints(a, b)
    }

  /** Whitespace-tokenize, sort tokens (code-point order), rejoin with
    * single spaces.
    */
  def tokenSortKey(s: String): String = {
    val toks = s.trim.split("\\s+").filter(_.nonEmpty)
    java.util.Arrays.sort(toks, codePointComparator)
    toks.mkString(" ")
  }

  /** rapidfuzz-style `token_sort_ratio` in [0, 100]. */
  def tokenSortRatio100(a: UTF8String, b: UTF8String): Double = {
    val ka = tokenSortKey(a.toString)
    val kb = tokenSortKey(b.toString)
    val total = ka.codePointCount(0, ka.length) + kb.codePointCount(0, kb.length)
    if (total == 0) 100.0
    else 100.0 * (1.0 - indelDistance(ka, kb).toDouble / total)
  }

  // ---- the bag bound: an upper bound of the ratio without the DP.
  // Every common subsequence is a sub-multiset of both strings, so
  // LCS <= Σ_c min(na(c), nb(c)), hence dist = la + lb - 2·LCS >=
  // Σ_c |na(c) - nb(c)|. Folding code points into bins only merges
  // counts, and min(x + x', y + y') >= min(x, y) + min(x', y'), so the
  // folded Σ_k |a_k - b_k| is still <= dist.

  /** Histogram bins of the bag bound: `cp mod 96`, so each printable
    * ASCII code point (U+0020–U+007F, 96 of them) has a bin of its own
    * and every other code point folds onto one of them. */
  val BagBins = 96

  /** Adds the code points of `s` to `hist(off until off + BagBins)` and
    * returns the code-point length of `s` (the kernel's unit). */
  def bagSketch(s: String, hist: Array[Int], off: Int): Int = {
    var i = 0
    var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      hist(off + cp % BagBins) += 1
      n += 1
      i += Character.charCount(cp)
    }
    n
  }

  /** Σ_k |a_k - b_k| over two [[bagSketch]] histograms: a lower bound of
    * the indel distance of the two strings. */
  def bagDistance(ha: Array[Int], offA: Int, hb: Array[Int], offB: Int): Int = {
    var d = 0
    var k = 0
    while (k < BagBins) {
      d += math.abs(ha(offA + k) - hb(offB + k))
      k += 1
    }
    d
  }

  /** An upper bound of [[indelRatio100]] for strings of code-point
    * lengths `la`, `lb` whose [[bagDistance]] is `bag`: the ratio's own
    * arithmetic with `bag` in place of the distance. The map
    * d ↦ 100·(1 − d/total) is non-increasing in IEEE arithmetic too, so
    * the bound holds bit for bit, not just in the reals. */
  def indelRatioBound100(la: Int, lb: Int, bag: Int): Double = {
    val total = la + lb
    if (total == 0) 100.0
    else 100.0 * (1.0 - bag.toDouble / total)
  }
}

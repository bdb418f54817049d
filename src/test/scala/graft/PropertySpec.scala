package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core.Coercions
import graft.functions.SimKernel
import graft.operators.{ConnectedComponents, EntityOps}

/** Property-based invariants (SURVEY §5.3) over seeded random samples —
  * deterministic across runs (no scalatest-scalacheck bridge in the
  * offline dependency cache, so sampling is hand-rolled).
  */
class PropertySpec extends SparkSpec {

  private val rnd = new Random(42)
  private def randStr(max: Int): String =
    Iterator.fill(rnd.nextInt(max + 1))(('a' + rnd.nextInt(4)).toChar).mkString

  // ---------------------------------------------------------------- F4/F5
  test("indel ratio: symmetric, bounded, 100 iff equal strings (500 samples)") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    for (_ <- 1 to 500) {
      val a = randStr(25); val b = randStr(25)
      val r = SimKernel.indelRatio100(u(a), u(b))
      assert(r >= 0.0 && r <= 100.0, s"bounds: $a/$b")
      assert(r == SimKernel.indelRatio100(u(b), u(a)), s"symmetry: $a/$b")
      assert((r == 100.0) == (a == b), s"identity: '$a'/'$b' -> $r")
    }
  }

  // ------------------------------------------------------------ Verify
  test("oracle JSON round-trip holds for arbitrary keys/values: control chars, quotes, unicode (300 samples)") {
    def randAny(max: Int): String =
      Iterator.fill(rnd.nextInt(max + 1)) {
        rnd.nextInt(6) match {
          case 0 => (rnd.nextInt(0x20)).toChar // the control range the escaper must cover
          case 1 => Seq('"', '\\', '\n', '\r', '\t')(rnd.nextInt(5))
          case 2 => (0xa0 + rnd.nextInt(0x300)).toChar // non-ascii (no surrogates)
          case _ => (' ' + rnd.nextInt(95)).toChar
        }
      }.mkString
    for (i <- 1 to 300) {
      val m = (0 until 1 + rnd.nextInt(5))
        .map(j => s"q${i}_$j${randAny(6)}" -> randAny(60)).toMap
      Verify.assertOracleRoundTrip(Verify.oracleJson(m), m)
    }
  }

  test("indel distance within [len diff, len sum] (500 samples)") {
    for (_ <- 1 to 500) {
      val a = randStr(20); val b = randStr(20)
      val d = SimKernel.indelDistance(a, b)
      assert(d >= math.abs(a.length - b.length) && d <= a.length + b.length, s"$a/$b -> $d")
    }
  }

  // the bag bound's inputs: empty strings, runs of spaces and tabs, and
  // astral code points (one symbol each, two UTF-16 chars)
  private def randSpaced(max: Int): String =
    Iterator.fill(rnd.nextInt(max + 1))(rnd.nextInt(9) match {
      case 0 => " "
      case 1 => "  \t "
      case 2 => Seq("𝔘", "😀", "𝄞")(rnd.nextInt(3))
      case _ => ('a' + rnd.nextInt(5)).toChar.toString
    }).mkString

  // the bag bound of two kernel inputs, sketched as the driver tier does
  private def bagBound(a: String, b: String): Double = {
    val h = new Array[Int](2 * SimKernel.BagBins)
    SimKernel.indelRatioBound100(SimKernel.bagSketch(a, h, 0),
      SimKernel.bagSketch(b, h, SimKernel.BagBins), SimKernel.bagDistance(h, 0, h, SimKernel.BagBins))
  }

  test("bag bound: never below token-sort / indel ratio, incl. blanks and astral (2000 samples)") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    import graft.functions.Similarity.Kernel
    var tight = 0
    for (_ <- 1 to 2000) {
      val a = randSpaced(12); val b = randSpaced(12)
      val ts = SimKernel.tokenSortRatio100(u(a), u(b))
      val tsBound = bagBound(Kernel.TokenSort.input(a), Kernel.TokenSort.input(b))
      assert(tsBound >= ts, s"token sort: '$a'/'$b' $tsBound < $ts")
      val in = SimKernel.indelRatio100(u(a), u(b))
      val inBound = bagBound(Kernel.Indel.input(a), Kernel.Indel.input(b))
      assert(inBound >= in, s"indel: '$a'/'$b' $inBound < $in")
      if (inBound == in && in < 100.0) tight += 1
    }
    assert(tight > 0, "the bound is never tight: a looser bound would pass too")
  }

  test("weighted bag bound: never below the pipeline's weightedSimilarity (1000 pairs)") {
    import graft.functions.Similarity
    import graft.pipeline.ExecutiveDedupPipeline
    val fields = ExecutiveDedupPipeline.Fields
    def field() = rnd.nextInt(5) match {
      case 0 => null
      case 1 => Seq("", " ", "\t")(rnd.nextInt(3))
      case _ => randSpaced(10)
    }
    val pairs = Seq.fill(1000)(Row.fromSeq(Seq.fill(2 * fields.size)(field())))
    val schema = org.apache.spark.sql.types.StructType(
      Seq("l", "r").flatMap(s => fields.map(f => org.apache.spark.sql.types.StructField(
        s"${f._1}_$s", org.apache.spark.sql.types.StringType))))
    import scala.jdk.CollectionConverters._
    val scored = spark.createDataFrame(pairs.asJava, schema).select(
      ExecutiveDedupPipeline.score(n => col(s"${n}_l"), n => col(s"${n}_r")) +:
        Seq("l", "r").flatMap(s => fields.map(f => Similarity.present(col(s"${f._1}_$s")))): _*)
      .collect()
    val weights = fields.map(_._2).toArray
    for ((p, s) <- pairs.zip(scored)) {
      val both = Array.tabulate(fields.size)(i => s.getBoolean(1 + i) && s.getBoolean(1 + fields.size + i))
      val bound = Similarity.weightedBound(weights, both, i =>
        bagBound(fields(i)._3.input(p.getString(i)), fields(i)._3.input(p.getString(fields.size + i))))
      assert(bound >= s.getDouble(0), s"$p: $bound < ${s.getDouble(0)}")
    }
    assert(scored.exists(_.getDouble(0) == 0.0) && scored.exists(_.getDouble(0) > 0.0))
  }

  // ---------------------------------------------------------------- F7
  test("position is total and matches the reference argmax tie order (grid + random)") {
    import spark.implicits._
    val vals = Seq(-3.0, 0.0, 1.0, 2.0) // full 4^3 grid incl. ties/negatives
    val grid = for (a <- vals; n <- vals; p <- vals) yield (a, n, p)
    val random = Seq.fill(100)((rnd.nextDouble * 110 - 10, rnd.nextDouble * 110 - 10,
      rnd.nextDouble * 110 - 10))
    val cases = grid ++ random
    val got = cases.toDF("a", "n", "p")
      .select(col("a"), col("n"), col("p"),
        EntityOps.position(col("a"), col("n"), col("p")).as("pos")).collect()
    got.foreach { r =>
      val (a, n, p) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      val expect =
        if (a + n + p <= 0) "NEUTRAL"
        else if (a >= n && a >= p) "AGAINST"
        else if (p >= n && p >= a) "PRO"
        else "NEUTRAL"
      assert(r.getString(3) == expect, s"($a,$n,$p)")
    }
  }

  // ---------------------------------------------------------------- P2
  test("numeric coercion never throws; junk maps to default (one pass)") {
    import spark.implicits._
    val inputs = Seq("", "junk", "1.5", "1.5e3", "-2", "NaN", "  7 ", "1,000", "1.2.3", null)
    val out = inputs.toDF("x").select(Coercions.numCoerce(col("x")).as("v")).collect()
    assert(out.forall(r => !r.isNullAt(0)))
    val byIn = inputs.zip(out.map(_.getDouble(0))).toMap
    assert(byIn("junk") == 0.0 && byIn("1,000") == 0.0 && byIn("1.2.3") == 0.0)
    assert(byIn("1.5") == 1.5 && byIn("1.5e3") == 1500.0 && byIn("  7 ") == 7.0)
  }

  // ---------------------------------------------------------------- A4
  test("connected components converge on a 200-node chain (deeper than maxIter)") {
    import spark.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1))
    // localThreshold = 0 forces the DISTRIBUTED loop — this is the
    // pointer-doubling depth test, which the small-graph fast path would
    // otherwise absorb
    val got = ConnectedComponents.run(spark, chain.toDF("src", "dst"), localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    assert(got.values.forall(_ == 0L), s"all labels must reach 0: ${got.toSeq.sortBy(_._1).takeRight(5)}")
  }

  test("local union-find survives map growth and sparse 64-bit ids") {
    import spark.implicits._
    // 3000 edges over ~2000 nodes with huge sparse ids: forces the
    // open-addressed parent map through several capacity doublings and
    // exercises the hash mixing far from the dense-small-int comfort zone
    val ids = Array.fill(2000)(rnd.nextLong() & 0x7FFFFFFFFFFFFFFFL)
    val es = Seq.fill(3000) {
      (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length)))
    }.filter(e => e._1 != e._2)
    val got = ConnectedComponents.run(spark, es.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // boxed-HashMap reference union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      r
    }
    es.foreach { case (s, d) =>
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) { if (rs < rd) parent(rd) = rs else parent(rs) = rd }
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got == want, s"open-map union-find diverged from reference on ${es.size} edges")
  }

  test("connected components match a union-find oracle on random graphs (both paths)") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val es = Seq.fill(25)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
        .filter(e => e._1 != e._2)
      val got = ConnectedComponents.run(spark, es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the distributed loop must agree with the local fast path exactly
      val distributed = ConnectedComponents.run(spark, es.toDF("src", "dst"),
          localThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(distributed == got, s"trial $trial: path divergence on $es")
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (s, d) =>
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = nodes.map(n => n -> nodes.filter(m => find(m) == find(n)).min).toMap
      assert(got == expect, s"trial $trial: $es")
    }
  }

  test("incremental CC: any edge split, folded in any number of batches, equals from-scratch") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val es = Seq.fill(30)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(e => e._1 != e._2)
      val want = ConnectedComponents.run(spark, es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // two-way split: base on even-indexed edges, extend with the rest
      val (a, b) = es.zipWithIndex.partition(_._2 % 2 == 0)
      val base = ConnectedComponents.run(spark, a.map(_._1).toDF("src", "dst"))
      val two = ConnectedComponents.extend(spark, base, b.map(_._1).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(two == want, s"trial $trial two-way: $es")
      // chained three-way: extend twice — min labels must compose
      val thirds = es.zipWithIndex.groupBy(_._2 % 3).view.mapValues(_.map(_._1)).toMap
      val s1 = ConnectedComponents.run(spark, thirds(0).toDF("src", "dst"))
      val s2 = ConnectedComponents.extend(spark, s1, thirds(1).toDF("src", "dst"))
      val s3 = ConnectedComponents.extend(spark, s2, thirds(2).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(s3 == want, s"trial $trial three-way: $es")
    }
  }

  test("incremental CC: intra-component edges and brand-new nodes are handled") {
    import spark.implicits._
    val base = ConnectedComponents.run(spark,
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
    // delta: a no-op edge inside {1,2,3}, a merge edge {3,10}, an
    // all-new pair {20,21}
    val got = ConnectedComponents.extend(spark, base,
      Seq((1L, 3L), (3L, 10L), (20L, 21L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  // ---------------------------------------------------------------- shingles / intersect kernels
  test("packing offsets equal the window-cumsum reference on random weights") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val n = 200 + rnd.nextInt(300)
      val budget = 1 + rnd.nextInt(97)
      // sparse ids, ~15% zero-weight docs, weights spanning the budget
      val rows = (1 to n).map(i =>
        (i.toLong * 3 + rnd.nextInt(2), // {3i, 3i+1}: non-contiguous, unique by construction
          if (rnd.nextInt(100) < 15) 0L else rnd.nextInt(3 * budget).toLong))
      val df = rows.toDF("id", "wt").repartition(1 + rnd.nextInt(8))
      val got = graft.operators.Packing.packSequences(df, budget)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(2), Option(r.get(3)), Option(r.get(4)), r.getLong(5)))).toMap
      // single-partition window reference (fine at test scale)
      val w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
      val ref = df.withColumn("off", coalesce(sum(col("wt")).over(w), lit(0L)))
        .collect().map { r =>
          val (id, wt, off) = (r.getLong(0), r.getLong(1), r.getLong(2))
          val first = off / budget
          val last = (off + wt - 1) / budget
          id -> ((off, if (wt > 0) Some(first) else None,
            if (wt > 0) Some(last) else None, if (wt > 0) last - first + 1 else 0L))
        }.toMap
      assert(got == ref, s"trial $trial (n=$n budget=$budget)")
    }
  }

  test("globalRunningSums equals the window prefix sums on random data, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new Random(11)
    for (trial <- 1 to 3) {
      val n = 150 + rnd.nextInt(300)
      // duplicate-free sort key (total order), two accumulators with
      // zeros and bursts — the q166 (ca, cb) shape
      val rows = (1 to n).map(i => (i.toLong * 7 + rnd.nextInt(3),
        rnd.nextInt(5).toLong, if (rnd.nextInt(4) == 0) 0L else rnd.nextInt(9).toLong))
      val df = rows.toDF("k", "a", "b").repartition(1 + rnd.nextInt(8))
      val got = graft.core.Ranks.globalRunningSums(df,
          Seq(col("k").asc), Seq("a", "b"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
      val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
      val ref = df.withColumn("ca", sum(col("a")).over(w))
        .withColumn("cb", sum(col("b")).over(w))
        .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
      assert(got == ref, s"trial $trial (n=$n)")
    }
  }

  test("CharShingles equals the HOF substring formulation incl. multibyte UTF-8 (300 samples)") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // mixed-width alphabet: 1-byte ASCII, 2-byte accents, 3-byte CJK, 4-byte emoji
    val alphabet = "abc\u00e9\u00fc\u4e16\u754c\ud83d\ude00xyz "
    def randText(max: Int): String = {
      val cps = alphabet.codePointAt _
      val starts = (0 until alphabet.length).filter(i => !Character.isLowSurrogate(alphabet.charAt(i)))
      Iterator.fill(rnd.nextInt(max + 1))(
        new String(Character.toChars(cps(starts(rnd.nextInt(starts.length)))))).mkString
    }
    for (_ <- 1 to 300) {
      val t = randText(30)
      val k = 1 + rnd.nextInt(6)
      val got = graft.functions.CharShingles.shingles(u(t), k)
      val gotSeq = (0 until got.numElements()).map(i => got.getUTF8String(i).toString)
      // oracle: sliding window over CODE POINTS, distinct, first-occurrence order
      val cps = t.codePoints.toArray
      val expect = (0 to cps.length - k)
        .map(i => new String(cps, i, k)).distinct
      assert(gotSeq == expect, s"text='$t' k=$k got=$gotSeq expect=$expect")
    }
  }

  test("chunker: stitching chunks reconstructs any text for any params (grid)") {
    import spark.implicits._
    // text lengths around every boundary of every (size, overlap) pair
    val params = Seq((5, 0), (5, 2), (8, 7), (200, 40))
    for ((size, overlap) <- params) {
      val stride = size - overlap
      val lens = Seq(0, 1, stride - 1, stride, stride + 1, 3 * stride, 3 * stride + 1)
        .filter(_ >= 0).distinct
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, Iterator.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString)
      }
      val byDoc = graft.operators.Chunker.fixedChunks(
          docs.toDF("doc_id", "t"), col("doc_id"), col("t"), size, overlap)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      for ((id, text) <- docs) {
        val chunks = byDoc(id)
        val stitched = chunks.head + chunks.tail.map(_.drop(overlap)).mkString
        assert(stitched == text, s"size=$size overlap=$overlap len=${text.length}")
        assert(chunks.init.forall(_.length == size),
          s"non-final chunks must be full: size=$size overlap=$overlap len=${text.length}")
      }
    }
  }

  test("sampling: bucket is stable, uniform-ish, and nests across rates (2000 keys)") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("k")
    val buckets = df.select(col("k"), graft.operators.Sampling.hashBucket(col("k")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(buckets.values.forall(b => b >= 0 && b < 100))
    // uniformity: each decade of buckets holds 10% +- 3pp of keys
    val perDecade = buckets.values.groupBy(_ / 10).view.mapValues(_.size)
    assert(perDecade.values.forall(n => n > 140 && n < 260), perDecade.toMap.toString)
    // determinism across a re-evaluation with different partitioning
    val again = df.repartition(13)
      .select(col("k"), graft.operators.Sampling.hashBucket(col("k")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again == buckets)
  }

  test("sorted intersect kernels (string + int) match set intersection (300 samples)") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    for (_ <- 1 to 300) {
      val a = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30)).distinct.sorted
      val b = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30)).distinct.sorted
      val expect = a.toSet.intersect(b.toSet).size
      val ints = graft.functions.SortedIntersectCountInt.count(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      assert(ints == expect, s"int kernel: $a / $b")
      // same sets as zero-padded strings preserve order => same intersection
      val as = a.map(i => u(f"$i%04d")); val bs = b.map(i => u(f"$i%04d"))
      val strs = graft.functions.SortedIntersectCount.count(
        new GenericArrayData(as.toArray[Any]), new GenericArrayData(bs.toArray[Any]))
      assert(strs == expect, s"string kernel: $a / $b")
    }
  }

  test("binned overlap join matches brute force on random interval sets (10 rounds)") {
    import spark.implicits._
    for (round <- 1 to 10) {
      // vary density and span each round; bin width deliberately decoupled
      // from the span distribution (correctness may not depend on it)
      val n = 20 + rnd.nextInt(60)
      val span = 1 + rnd.nextInt(3000)
      val iv = (0 until n).map { i =>
        val s = rnd.nextInt(10000).toLong
        (i.toLong, s, s + rnd.nextInt(span))
      }
      val df = iv.toDF("id", "s", "e")
      val brute = (for {
        (i, si, ei) <- iv; (j, sj, ej) <- iv
        if i < j && si <= ej && sj <= ei
      } yield (i, j, math.min(ei, ej) - math.max(si, sj))).toSet
      val w = 1L + rnd.nextInt(2000)
      val got = graft.operators.RangeJoin.overlapPairs(df, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == brute, s"round $round (n=$n span=$span w=$w)")
    }
  }

  test("cosinePairs bucketed tier: subset of exact, identical scores, any params (4 rounds)") {
    import spark.implicits._
    for (round <- 1 to 4) {
      val n = 30 + rnd.nextInt(50)
      val dim = 8
      val corpus = (0 until n).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
        .toDF("id", "vec")
      val exact = graft.operators.VectorOps.cosinePairs(corpus, 0.3, dim)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val bits = 1 + rnd.nextInt(5)
      val tables = 1 + rnd.nextInt(8)
      val lsh = graft.operators.VectorOps.cosinePairs(corpus, 0.3, dim,
        bits = bits, tables = tables, localThreshold = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // candidates may be missed (that's the recall trade) but NEVER
      // invented, and a verified score is the exact score
      lsh.foreach { case (k, c) =>
        assert(exact.get(k).contains(c),
          s"round $round (bits=$bits tables=$tables): spurious/mis-scored pair $k")
      }
    }
  }

  test("diff(a,b) mirrors diff(b,a): added/removed swap, changed fixed (10 rounds)") {
    import spark.implicits._
    for (round <- 1 to 10) {
      def snap() = (0 until 40).map(k =>
        (k.toLong, ('a' + rnd.nextInt(3)).toChar.toString))
        .filter(_ => rnd.nextInt(5) > 0) // random subset
        .toDF("k", "v").dropDuplicates("k")
      val (a, b) = (snap().localCheckpoint(), snap().localCheckpoint())
      def d(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
        graft.operators.Merge.diff(x, y, Seq("k"), Seq("v"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val fwd = d(a, b)
      val bwd = d(b, a)
      val mirrored = bwd.map {
        case (k, "added") => k -> "removed"
        case (k, "removed") => k -> "added"
        case kv => kv
      }
      assert(fwd == mirrored, s"round $round: $fwd vs $bwd")
    }
  }

  test("upsert is idempotent and keeps base row count + net inserts (10 rounds)") {
    import spark.implicits._
    for (round <- 1 to 10) {
      val base = (0 until 30).map(k => (k.toLong, s"b$k")).toDF("k", "v")
      val ups = (0 until 15).map(_ => (rnd.nextInt(40).toLong, s"u$round"))
        .toDF("k", "v").dropDuplicates("k").localCheckpoint()
      val once = graft.operators.Merge.upsert(base, ups, Seq("k")).localCheckpoint()
      val twice = graft.operators.Merge.upsert(once, ups, Seq("k"))
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(m(once) == m(twice), s"round $round: idempotence")
      val inserts = ups.filter(col("k") >= 30).count()
      assert(once.count() == 30 + inserts, s"round $round: counts")
    }
  }

  test("applyChangelog equals the per-key max-seq model fold (10 rounds)") {
    import spark.implicits._
    for (round <- 1 to 10) {
      val base = (0 until 30).map(k => (k.toLong, s"b$k")).toDF("k", "v")
      // random ops over a wider key space; seq unique per key so the
      // winner is well-defined (the operator's total-order contract)
      val changes = scala.util.Random.shuffle(
        (0 until 40).flatMap { k =>
          (1 to rnd.nextInt(3)).map(s =>
            (k.toLong, s"c$round-$s", if (rnd.nextBoolean()) "U" else "D", s))
        }.toList)
      val out = graft.operators.Merge.applyChangelog(
          base, changes.toDF("k", "v", "op", "seq"), Seq("k"), col("seq"), col("op"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // reference model: latest change per key wins; D deletes, U upserts
      val latest = changes.groupBy(_._1).map { case (k, cs) => k -> cs.maxBy(_._4) }
      val expected = (0L until 30L).flatMap { k =>
        latest.get(k) match {
          case None => Some(k -> s"b$k")
          case Some((_, v, "U", _)) => Some(k -> v)
          case _ => None
        }
      }.toMap ++ latest.collect {
        case (k, (_, v, "U", _)) if k >= 30L => k -> v
      }
      assert(out == expected, s"round $round: $out vs $expected")
    }
  }

  test("ntileOfRank reproduces the NTILE window on every n in 1..60, k in 1..12") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 2, 9, 10, 11, 37, 60); k <- Seq(1, 3, 10, 12)) {
      val df = (1 to n).map(_.toLong).toDF("r")
      val viaWindow = df
        .withColumn("b", ntile(k).over(Window.orderBy(col("r").asc)))
        .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
      val viaArith = df
        .withColumn("b", graft.core.Ranks.ntileOfRank(col("r"), n, k))
        .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
      assert(viaWindow == viaArith, s"n=$n k=$k: $viaArith vs $viaWindow")
    }
  }

  test("bloom prune never drops a true match (5 rounds, random key sets)") {
    import spark.implicits._
    for (round <- 1 to 5) {
      val build = (0 until 50).map(_ => rnd.nextLong() % 10000).distinct.toDF("bk")
      val probe = (0 until 500).map(_ => rnd.nextLong() % 10000).toDF("pk")
      val kept = graft.operators.BloomPrune
        .prune(probe, col("pk"), build, col("bk"))
        .as[Long].collect().toSet
      val trueMatches = probe.join(build, col("pk") === col("bk"), "left_semi")
        .as[Long].collect().toSet
      assert(trueMatches.subsetOf(kept), s"round $round: lost ${trueMatches -- kept}")
    }
  }

  test("jsonl two-stage ingest partitions EVERY line exactly once (5 rounds)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    for (round <- 0 until 5) {
      // a feed of random good lines, contract breakers (valid JSON,
      // null/absent required field), and syntax garbage — in random order
      val good = (0 until 20 + rnd.nextInt(30)).map(i =>
        s"""{"id": ${round * 1000 + i}, "text": "${randStr(12)}"}""")
      val contractBad = (0 until rnd.nextInt(10)).map { i =>
        if (i % 3 == 0) s"""{"id": null, "text": "${randStr(8)}"}"""
        else if (i % 3 == 1) s"""{"text": "${randStr(8)}"}"""
        else s"""{"id": ${90000 + i}}"""
      }
      val syntaxBad = (0 until rnd.nextInt(8)).map { i =>
        if (i % 3 == 0) s"""{"id": $i, "text": "unterminated"""
        else if (i % 3 == 1) "garbage line " + randStr(6)
        else s"""{"id": $i,,}"""
      }
      val lines = rnd.shuffle(good ++ contractBad ++ syntaxBad)
      val tmp = java.nio.file.Files.createTempDirectory(s"jsonlprop$round")
      java.nio.file.Files.write(tmp.resolve("feed.jsonl"),
        scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
      val (g, sq, cq) = graft.sources.JsonlSource.readWithContract(
        spark, tmp.toString, schema,
        col("id").isNotNull && col("text").isNotNull)
      // the conservation law: three disjoint destinations, no line
      // dropped or double-counted, and the splits land exactly
      assert(g.count() == good.size, s"round $round good")
      assert(sq.count() == syntaxBad.size, s"round $round syntax")
      assert(cq.count() == contractBad.size, s"round $round contract")
      assert(g.count() + sq.count() + cq.count() == lines.size)
      // good rows are EXACTLY the good ids, values intact
      val ids = g.collect().map(_.getLong(0)).toSet
      assert(ids == good.indices.map(i => (round * 1000 + i).toLong).toSet)
    }
  }

  // ------------------------------------------------------------- round 10
  test("IVM rollup diff theorem on random well-formed changelogs, every version pair (3 rounds)") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    import graft.operators.IvmRollup
    for (round <- 1 to 3) {
      val table = s"prop_ivmdiff_$round"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      // live multiset of (key, value) rows — deletes only remove rows
      // that exist, the changelog well-formedness the IVM counting
      // algorithm assumes (q160's churn has the same property)
      val state = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def freshRows(n: Int): Seq[(Long, Long)] =
        Seq.fill(n)((rnd.nextInt(6).toLong, rnd.nextInt(500).toLong + 1L))
      val base = freshRows(40); state ++= base
      IvmRollup.build(base.toDF("key", "v"), col("key"),
        col("v").cast("double"), table,
        graft.core.Scratch.path(table), nBuckets = 4)
      (1 to 4).foreach { b =>
        val ins = freshRows(rnd.nextInt(10))
        val delCount = rnd.nextInt(math.min(10, state.size) + 1)
        val dels = (1 to delCount).map(_ => state.remove(rnd.nextInt(state.size)))
        state ++= ins
        val delta = ins.map { case (k, v) => (k, 1L, BigDecimal(v)) } ++
          dels.map { case (k, v) => (k, -1L, BigDecimal(-v)) }
        IvmRollup.applyDelta(spark, table,
          delta.toDF("key", "dn", "dr").select(col("key"), col("dn"),
            col("dr").cast(DecimalType(38, 2)).as("dr")), b.toLong)
      }
      def servedAt(v: Long): Map[Long, (Long, java.math.BigDecimal)] =
        IvmRollup.serve(spark, table, asOf = v).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
      for (f <- 0L to 3L; t <- (f + 1L) to 4L) {
        val d = IvmRollup.diff(spark, table, f, t).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
        val sf = servedAt(f)
        val applied = (sf.keySet ++ d.keySet).flatMap { k =>
          val (n0, t0) = sf.getOrElse(k, (0L, java.math.BigDecimal.ZERO))
          val (dn, dr) = d.getOrElse(k, (0L, java.math.BigDecimal.ZERO))
          val n = n0 + dn
          if (n > 0) Some(k -> (n, t0.add(dr).setScale(2))) else None
        }.toMap
        assert(applied == servedAt(t).map { case (k, (n, x)) =>
          k -> (n, x.setScale(2)) }, s"round $round: window ($f,$t)")
      }
    }
  }

  // ------------------------------------------------------------ Integrity
  test("Integrity.digests equals the Spark aggregates it replaces on random frames " +
      "(40 frames: empty, null stamps, 1–9 partitions, prefix cut below/inside/above)") {
    import org.apache.spark.sql.types._
    import graft.operators.Integrity
    val schema = StructType(Seq(StructField("id", LongType), StructField("txt", StringType),
      StructField("batch_id", LongType)))
    val r = new Random(7)
    def frame(n: Int, parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).map { i =>
        Row(r.nextLong(), if (r.nextInt(5) == 0) null else randStr(6),
          if (r.nextInt(6) == 0) null else java.lang.Long.valueOf(r.nextInt(7).toLong))
      }, parts), schema)
    val hist = (since: Long) => col("batch_id") <= since
    val h = Integrity.rowHash(schema.fieldNames.toSeq.map(col))
    for (round <- 1 to 40) {
      // every frame of more than two rows sums its 48-bit hashes past 2⁴⁸
      val n = if (round % 8 == 0) 0 else r.nextInt(60)
      val df = frame(n, 1 + r.nextInt(9))
      val since = Seq(-1L, 3L, 99L)(round % 3) // below, inside, above the stamps 0..6
      val Seq(all, counted, audited) = Integrity.digests(Seq(
        Integrity.Leg(df, stamped = true), Integrity.Leg(df, hashed = false),
        Integrity.Leg(df, stamped = true, since = Some(since))))
      val digest = Integrity.contentDigestAgg(df, withStamps = true).head()
      val audit = df.select(h.as("h"), col("batch_id")).agg(
        count(when(hist(since), 1)),
        coalesce((sum(when(hist(since), col("h")).cast("decimal(38,0)")) %
          lit(Integrity.digestMod)).cast("long"), lit(0L))).head()
      val ctx = s"round $round: $n rows, since $since"
      assert((all.n, all.s, all.stamps) ==
        ((digest.getLong(0), digest.getLong(1), digest.getSeq[Long](2).toSet)), ctx)
      assert(all.stamps == df.agg(collect_set("batch_id")).head().getSeq[Long](0).toSet, ctx)
      assert((counted.n, counted.s, counted.stamps) ==
        ((df.agg(count(lit(1))).head().getLong(0), 0L, Set.empty[Long])), ctx)
      assert((audited.hn, audited.hs) == ((audit.getLong(0), audit.getLong(1))), ctx)
      assert((audited.n, audited.s, audited.stamps) == ((all.n, all.s, all.stamps)), ctx)
      assert((all.hn, all.hs) == ((0L, 0L)), ctx)
    }
    assert(Integrity.digests(Nil).isEmpty)
  }
}

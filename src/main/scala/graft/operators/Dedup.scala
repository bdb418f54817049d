package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.TextFunctions

/** Deduplication operators for document corpora, from exact to
  * approximate-similarity:
  *
  *  - exact: hash-groupBy on a canonical key (one shuffle, map-side combine)
  *  - n-gram Jaccard: exact shingle-set overlap (prefix/positional
  *    filtered)
  *  - MinHash + LSH: signature → band buckets → candidate pairs →
  *    exact-Jaccard verification (the 100 TB path: candidates come from a
  *    band-key equi-join, never an all-pairs product)
  *  - SimHash: 64-bit sign-aggregated token hashes, banded hamming join
  *
  * LSH parameters: 32 permutations in 8 bands × 4 rows gives P(candidate)
  * = 1-(1-s⁴)⁸ — ≈0.985 at s=0.80, ≈0.9998 at s=0.90, ≈1-5e-7 at s=0.93 —
  * and ≈0.07 at s=0.3, so candidate lists stay tiny while the exact-
  * Jaccard verify removes every false positive. Borderline pairs just
  * above the threshold can still be missed with small probability; corpora
  * whose near-dups sit well above it (ours: >= 0.93) see exact output.
  */
object Dedup {

  /** Exact duplicate groups by canonical key: representative = min id. */
  def exactGroups(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(id).as("representative"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup — the shape every production corpus actually
    * runs: a new batch arrives and must be deduplicated (a) within itself
    * and (b) against everything already ingested. Keys are md5-digested
    * first so the two shuffles (batch self-group, history anti-join) move
    * 32-char digests instead of document-sized keys — at 100 TB of history
    * the digest column is what makes the anti-join feasible, and a
    * persisted digest table makes each increment's cost proportional to
    * the BATCH, not the corpus. (A broadcast Bloom filter over history
    * digests can pre-drop most novel keys before the shuffle when history
    * is huge and batches are mostly-new; it's a pure prefilter — the exact
    * anti-join stays, so results never depend on it.)
    *
    * @param batch      new records
    * @param id         stable id within `batch`
    * @param key        canonical dedup key (e.g. `lower(trim(text))`)
    * @param historyKey same canonicalization over `history`
    * @param bloomItems when set, build a Bloom filter over the history
    *        digests (expected-distinct-count hint) and use it to split the
    *        batch BEFORE the exact anti-join: keys the filter rejects are
    *        definitely novel and skip the join entirely; only the
    *        might-contain subset probes history. The filter build is one
    *        map-side aggregate over history (partial filters OR-merged;
    *        only the final bitset reaches the driver — same mechanism as
    *        Spark's own runtime row-group filtering), and because the
    *        Bloom filter has no false negatives the output is EXACT for
    *        any fpp — mostly-novel batches then shuffle almost nothing
    *        into the anti-join. Pair with key-bucketed history storage to
    *        also keep the history side of the residual join shuffle-free.
    *        NOTE: `BloomFilterAggregate` clamps the item hint to
    *        `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
    *        (default 4M) — for billion-key histories raise that config
    *        (and its numBits sibling), or the filter saturates and the
    *        prefilter degrades to pass-through (still exact, no longer a
    *        saving).
    * @return (representative, n_batch_dups): one row per batch key NOT in
    *         history — representative = min id, n_batch_dups = batch
    *         multiplicity of that key
    */
  def incremental(batch: DataFrame, id: Column, key: Column,
      history: DataFrame, historyKey: Column,
      bloomItems: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

    val b = batch.select(id.as("__id"), md5(key.cast("string")).as("__k"))
    val h = history.select(md5(historyKey.cast("string")).as("__k"))
    val grouped = b.groupBy("__k")
      .agg(min(col("__id")).as("representative"), count(lit(1)).as("n_batch_dups"))

    val bloomBytes = bloomItems.flatMap { n =>
      val agg = new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("__k"))), n)
      Option(h.select(ColumnBridge.column(agg.toAggregateExpression()).as("bf"))
        .head().getAs[Array[Byte]](0)) // null when history is empty
    }
    val filtered = bloomBytes match {
      case None => grouped.join(h, Seq("__k"), "left_anti")
      case Some(bytes) =>
        val might = ColumnBridge.column(BloomFilterMightContain(
          ColumnBridge.expression(lit(bytes)),
          ColumnBridge.expression(xxhash64(col("__k")))))
        // persist the flagged aggregate: the two filter branches below
        // would otherwise each re-run the batch groupBy per action —
        // doubling exactly the batch-side cost the prefilter exists to cut
        val flagged = grouped.withColumn("__maybe", might)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        flagged.filter(!col("__maybe"))
          .unionByName(flagged.filter(col("__maybe")).join(h, Seq("__k"), "left_anti"))
    }
    filtered.select("representative", "n_batch_dups")
  }

  /** Dictionary-encode each document's shingle SET to a sorted dense-int
    * array: vocabulary ints are assigned in ascending (document frequency,
    * shingle) order — exactly the PPJoin global order — so "sorted int
    * array" and "frequency-ranked shingle list" become the same thing and
    * prefix ranks are just array positions. Everything downstream
    * (collapse keys, prefix join, signatures, merge-scan verify) then
    * moves 4-byte ints instead of shingle strings. Id assignment is a
    * range-partitioned sort + `zipWithIndex` — the ExecutiveDedupPipeline
    * idiom — NOT a global row_number window: (df, shingle) is a total
    * order, so the ids are identical, but every partition indexes in
    * parallel and only one long per partition reaches the driver, where
    * the window funneled the whole vocabulary through a single task. The
    * dictionary is broadcast back onto the token stream.
    *
    * Documents whose text is shorter than k have no shingles and drop out
    * (their Jaccard is undefined; they can never pair).
    *
    * @return (id, toks: sorted array<int>)
    */
  private def encodedSets(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    val tokens = docs
      .select(col("id"), explode(TextFunctions.shingles(col("text"), k)).as("shingle"))
      .localCheckpoint() // dict build + encode probe share ONE shingle pass
    val sortedVocab = tokens.groupBy("shingle").agg(count(lit(1)).as("df"))
      .orderBy(col("df").asc, col("shingle").asc)
      .select("shingle")
      // pin: zipWithIndex's eager partition-count job AND the dict
      // broadcast collection both evaluate this frame — without the pin
      // the reduce-side vocabulary sort runs twice
      .localCheckpoint()
    val dict = spark.createDataFrame(
      sortedVocab.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.getString(0), (i + 1).toInt)
      },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("shingle",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("tok",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
    tokens.join(broadcast(dict), "shingle")
      .groupBy("id").agg(array_sort(collect_list(col("tok"))).as("toks"))
  }

  /** Broadcast-hint a collapsed rep-side table when it is MEASURED small.
    *
    * The rep/encoded-set frames here are localCheckpointed, and RDD-backed
    * plans carry no size statistics — Spark (and AQE) then default to
    * sort-merge joins, which shuffle the MILLIONS-of-rows candidate side
    * to join back a few thousand reps. Whether the hint is safe is decided
    * from MEASURED totals, not a row count alone: rows bound the per-row
    * overhead, but the dominant payload is the variable-width toks arrays,
    * so callers also gate on the summed element count (≤ 25M ints ≈
    * 100 MB) — a row-count-only proxy would happily broadcast a 100k-doc
    * corpus of book-length texts into a multi-GB build side. Past either
    * bound the shuffle join is the correct at-scale shape and the frame
    * passes through unhinted.
    */
  private def maybeBroadcast(df: DataFrame, ok: Boolean): DataFrame =
    if (ok) broadcast(df) else df

  /** (reps, total toks elements, max dictionary id, total members) of the
    * checkpointed collapse-groups frame, in one tiny aggregate — the
    * measured metadata that picks verify shapes and both broadcast gates.
    */
  private def collapseStats(groups: DataFrame): CollapseStats = {
    val r = groups.agg(count(lit(1)), sum(size(col("toks"))),
      max(element_at(col("toks"), -1)), sum(size(col("members")))).head()
    CollapseStats(r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0 else r.getInt(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  private val MaxBroadcastRows  = 100000L
  private val MaxBroadcastElems = 25000000L

  /** Exact Jaccard-similar pairs over character shingle sets.
    *
    * (No length pre-filter: character-length ratio is NOT implied by
    * shingle-set Jaccard — repetitive texts of very different lengths can
    * share identical shingle sets — so any length band would silently drop
    * qualifying pairs. The prefix/positional filters in
    * [[distinctSetPairs]] are the exact prunes.)
    *
    * Documents with IDENTICAL shingle sets are collapsed to one
    * representative before the quadratic candidate work and expanded back
    * afterwards: group members are mutually J=1 and interchangeable with
    * respect to every other document, so the pair set is exactly
    * reconstructible. Heavily-duplicated corpora (the common case for
    * web-scale training data) shrink the PPJoin input — and its fat prefix
    * groups — by the duplication factor, at the cost of one extra
    * hash-aggregate shuffle.
    */
  def jaccardPairs(
      docs: DataFrame, // columns: id (long), text (string)
      threshold: Double,
      k: Int = 5,
      maxBitsetVocab: Int = 4096): DataFrame =
    collapseExpand(docs, k, directed = false, scoreName = "jaccard") { (enc0, st) =>
      distinctSetPairs(enc0, threshold, st.nReps, st.bcastOk, st.vocab, maxBitsetVocab)
    }

  /** Measured metadata of a collapsed rep table — drives verify-shape
    * choice and broadcast eligibility (see [[maybeBroadcast]]).
    */
  private final case class CollapseStats(
      nReps: Long, totalToks: Long, vocab: Int, totalMembers: Long) {
    def bcastOk: Boolean = nReps <= MaxBroadcastRows && totalToks <= MaxBroadcastElems
    // separate gate for the members-expansion joins: sum(size(members)) is
    // the TOTAL CORPUS row count, not nReps — a 100k-rep corpus with 10k
    // copies each would broadcast 10^9 member longs under the toks-based
    // gate. Longs are 8 bytes (toks are 4), so the element bound halves.
    def membersBcastOk: Boolean =
      nReps <= MaxBroadcastRows && totalMembers <= MaxBroadcastElems / 2
  }

  /** Shared collapse/expand scaffolding for the set-similarity joins:
    * documents with IDENTICAL shingle sets are collapsed to one
    * representative before the quadratic candidate work and expanded back
    * afterwards — group members are mutually score-1 and interchangeable
    * with respect to every other document, so the pair set is exactly
    * reconstructible while heavily-duplicated corpora shrink the candidate
    * stage by the duplication factor.
    *
    * @param directed false → unordered pairs (least/greatest ids, intra
    *                 pairs x < y); true → ordered pairs (intra pairs
    *                 x ≠ y, both orientations)
    * @param repPairs produces (id_a, id_b, scoreName) over the distinct
    *                 (id, toks) rep table
    */
  private def collapseExpand(docs: DataFrame, k: Int, directed: Boolean,
      scoreName: String)(
      repPairs: (DataFrame, CollapseStats) => DataFrame): DataFrame = {
    val groups = encodedSets(docs, k).groupBy(col("toks"))
      .agg(min(col("id")).as("rep"),
        sort_array(collect_list(col("id"))).as("members"))
      .localCheckpoint() // reused by rep pairing + both expansions
    val stats = collapseStats(groups)

    val pairs = repPairs(groups.select(col("rep").as("id"), col("toks")), stats)

    // expand representative pairs to member pairs; groups are disjoint, so
    // id re-ordering cannot produce duplicates
    val m = groups.select(col("rep"), col("members"))
    val inter0 = pairs
      .join(maybeBroadcast(m.select(col("rep").as("id_a"), col("members").as("ms_a")), stats.membersBcastOk), "id_a")
      .join(maybeBroadcast(m.select(col("rep").as("id_b"), col("members").as("ms_b")), stats.membersBcastOk), "id_b")
      .select(explode(col("ms_a")).as("x"), col("ms_b"), col(scoreName))
      .select(col("x"), explode(col("ms_b")).as("y"), col(scoreName))
    val inter =
      if (directed) inter0.select(col("x").as("id_a"), col("y").as("id_b"), col(scoreName))
      else inter0.select(least(col("x"), col("y")).as("id_a"),
        greatest(col("x"), col("y")).as("id_b"), col(scoreName))
    // intra-group: identical non-empty sets score exactly 1
    val intra0 = groups
      .filter(size(col("members")) > 1)
      .select(explode(col("members")).as("x"), col("members"))
      .select(col("x"), explode(col("members")).as("y"))
    val intra = (if (directed) intra0.filter(col("x") =!= col("y"))
                 else intra0.filter(col("x") < col("y")))
      .select(col("x").as("id_a"), col("y").as("id_b"), lit(1.0).as(scoreName))

    inter.unionByName(intra)
  }

  /** Asymmetric set-containment pairs: C(A→B) = |A∩B| / |A| ≥ t for A ≠ B —
    * "is document A's shingle set (mostly) inside document B's?". Jaccard
    * misses these when |B| ≫ |A| (a paragraph quoted inside a long page has
    * J ≈ |A|/|B| ≈ 0 but C(A→B) = 1), so containment is the dedup signal
    * for subset/supersede relationships in web corpora.
    *
    * Candidate generation is the PRETTI/prefix shape for containment joins:
    * only A's prefix (its |A| − ⌈t·|A|⌉ + 1 RAREST shingles, by the same
    * frequency-ordered dictionary as [[jaccardPairs]]) probes an inverted
    * index over ALL of B's shingles — if B misses every prefix shingle of A
    * then |A∩B| < ⌈t·|A|⌉ and the pair can't qualify. The B side is the
    * full posting list, but only postings for tokens that occur in some
    * A-prefix are ever matched, and prefixes hold rare tokens, so candidate
    * groups stay thin. Size prune inside the join: |B| ≥ ⌈t·|A|⌉ (the
    * intersection can't exceed |B|). Identical shingle sets are collapsed
    * to one representative before the quadratic work and expanded after,
    * exactly as in [[jaccardPairs]] (both orientations of an intra-group
    * pair are C = 1).
    *
    * @return (id_a, id_b, containment) — DIRECTED: a row per ordered pair
    *         with C(A→B) ≥ t; near-identical docs appear in both directions.
    */
  def containmentPairs(
      docs: DataFrame, // columns: id (long), text (string)
      threshold: Double,
      k: Int = 5,
      maxBitsetVocab: Int = 4096): DataFrame =
    collapseExpand(docs, k, directed = true, scoreName = "containment") { (enc0, st) =>
      containRepPairs(enc0, threshold, maxBitsetVocab, st)
    }

  private def containRepPairs(enc0: DataFrame, threshold: Double,
      maxBitsetVocab: Int, st: CollapseStats): DataFrame = {
    val enc = enc0
      .withColumn("setsize", size(col("toks")))
      .localCheckpoint() // shared by the probe explode + index + verify join-backs

    // Path choice is MEASURED, not assumed. Prefix filtering earns its keep
    // only when the dictionary is large enough that "rare" grams are
    // actually rare; on a small dictionary (vocab ≈ 2k on the fixture
    // corpus) nearly every pair shares some prefix gram, candidates
    // approach all-pairs, and the dedup shuffle + array join-backs dominate.
    // There the sets fit fixed-width bitsets (vocab/64 longs), so verify
    // runs INLINE on the raw equi-join matches (popcount-of-AND over a few
    // cache lines) and only the survivors — not the millions of candidates —
    // reach a shuffle. Both paths produce identical rows; all three stats
    // come from one tiny agg over the checkpointed reps (encStats).
    if (st.vocab > 0 && st.vocab <= maxBitsetVocab && st.nReps <= MaxBroadcastRows)
      containRepPairsBitset(enc, threshold, st.vocab)
    else containRepPairsPrefix(enc, threshold, st.bcastOk)
  }

  /** Inline bitset verification of a THIN (id_a, id_b, sizes…) match
    * stream: both sets are fetched as [[graft.functions.ToBitset]] bitsets
    * through guaranteed-broadcast hash joins (callers ensure reps ≤
    * [[MaxBroadcastRows]]; bitset width is capped by the vocab bound) and
    * |A∩B| lands in an `inter` column as popcount-of-AND — no candidate
    * dedup shuffle, no sort-merge join-backs; only scored survivors reach
    * the final distinct. The match stream must stay THIN: measured on the
    * fixture corpus, carrying the 256-byte bitsets through the sort-merge
    * tok-join instead was 4× slower — wide rows in SMJ buffers cost more
    * than a second hash lookup.
    *
    * @param score expression over `inter` (+ whatever size columns the
    *              caller kept on the stream) producing the similarity
    */
  private def bitsetVerifyPairs(matches: DataFrame, enc: DataFrame, vocab: Int,
      score: Column, scoreName: String, threshold: Double): DataFrame = {
    val nWords = (vocab + 63) >> 6
    val bits = graft.functions.VectorExpressions.toBitset(col("toks"), nWords)
    matches
      .join(broadcast(enc.select(col("id").as("id_a"), bits.as("bits_a"))), "id_a")
      .join(broadcast(enc.select(col("id").as("id_b"), bits.as("bits_b"))), "id_b")
      .withColumn("inter",
        graft.functions.VectorExpressions.bitsetAndCount(col("bits_a"), col("bits_b"))
          .cast(DoubleType))
      .withColumn(scoreName, score)
      .filter(col(scoreName) >= threshold)
      .select(col("id_a"), col("id_b"), col(scoreName))
      .dropDuplicates("id_a", "id_b")
  }

  /** Containment rep pairs, small-dictionary path: the same prefix-probe ×
    * inverted-index equi-join generates matches, verified inline by
    * [[bitsetVerifyPairs]].
    */
  private def containRepPairsBitset(enc: DataFrame, threshold: Double,
      vocab: Int): DataFrame = {
    val prefixLen = (col("setsize") -
      ceil(lit(threshold) * col("setsize") - lit(1e-9)) + 1).cast("int")
    val probe = enc.select(col("id").as("id_a"),
      col("setsize").cast(DoubleType).as("sz_a"),
      explode(slice(col("toks"), lit(1), prefixLen)).as("tok"))
    val index = enc.select(col("id").as("id_b"), col("setsize").as("sz_b"),
      explode(col("toks")).as("tok"))
    val matches = probe.join(index,
        probe("tok") === index("tok") && col("id_a") =!= col("id_b") &&
          col("sz_b").cast(DoubleType) >= lit(threshold) * col("sz_a") - lit(1e-9))
      .select("id_a", "id_b", "sz_a")
    bitsetVerifyPairs(matches, enc, vocab,
      score = col("inter") / col("sz_a"), scoreName = "containment", threshold)
  }

  /** Containment rep pairs, large-dictionary path: prefix probes are
    * genuinely selective, so candidates are deduplicated first and the few
    * survivors fetch their arrays for the merge-scan verify — the shape
    * that scales when neither side fits a bitset or a broadcast.
    */
  private def containRepPairsPrefix(enc: DataFrame, threshold: Double,
      bcastOk: Boolean): DataFrame = {
    // same epsilon-before-ceil guard as distinctSetPairs: a one-ulp
    // overshoot would shorten A's prefix and silently drop threshold pairs
    val prefixLen = (col("setsize") -
      ceil(lit(threshold) * col("setsize") - lit(1e-9)) + 1).cast("int")
    val probe = enc.select(col("id").as("id_a"), col("setsize").as("sz_a"),
      explode(slice(col("toks"), lit(1), prefixLen)).as("tok"))
    val index = enc.select(col("id").as("id_b"), col("setsize").as("sz_b"),
      explode(col("toks")).as("tok"))
    val candidates = probe.join(index,
        probe("tok") === index("tok") && col("id_a") =!= col("id_b") &&
          col("sz_b").cast(DoubleType) >= lit(threshold) * col("sz_a") - lit(1e-9))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    val sides = enc.select(col("id"), col("toks"), col("setsize"))
    candidates
      .join(maybeBroadcast(sides.select(col("id").as("id_a"), col("toks").as("t_a"),
        col("setsize").cast(DoubleType).as("sz_a")), bcastOk), "id_a")
      .join(maybeBroadcast(sides.select(col("id").as("id_b"), col("toks").as("t_b")), bcastOk), "id_b")
      .withColumn("containment",
        graft.functions.VectorExpressions.sortedIntersectCountInt(col("t_a"), col("t_b"))
          .cast(DoubleType) / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** PPJoin candidate generation + exact verification over documents with
    * pairwise-DISTINCT dictionary-encoded shingle sets (`id`,
    * `toks: sorted array<int>` in global frequency order; callers collapse
    * duplicates first).
    */
  private def distinctSetPairs(enc0: DataFrame, threshold: Double,
      nReps: Long, bcastOk: Boolean, vocab: Int = 0,
      maxBitsetVocab: Int = 0): DataFrame = {
    // AllPairs/PPJoin prefix filtering: under any consistent global shingle
    // order, two sets with J >= t must share an element within each other's
    // first |X| - ceil(t*|X|) + 1 shingles. The dictionary order ranks by
    // ascending document frequency, so those prefixes are the RAREST
    // shingles and the candidate equi-join on prefix token touches tiny
    // groups — this is what keeps exact near-dup detection from going
    // quadratic at corpus scale.
    //
    // ceil() guards: the double products can sit one ulp ABOVE the exact
    // integer they mathematically equal (e.g. t*|X| = 12 computed as
    // 12.000000000000002), and ceil would then overshoot by one — a
    // shorter prefix / stricter overlap bound that silently drops
    // exact-threshold pairs. Subtracting 1e-9 before ceil restores the
    // exact bound (legitimate fractional parts are never that small for
    // rational thresholds at realistic set sizes).
    val enc = enc0
      .withColumn("setsize", size(col("toks")))
      .localCheckpoint() // shared by the prefix explode + both verify join-backs

    val prefixLen = (col("setsize") -
      ceil(lit(threshold) * col("setsize") - lit(1e-9)) + 1).cast("int")
    val prefix = enc
      .select(col("id"), col("setsize"),
        posexplode(slice(col("toks"), lit(1), prefixLen)).as(Seq("pos", "tok")))
      .select(col("tok"), col("id"), (col("pos") + 1).as("rn"), col("setsize"))

    // Candidate join with extra EXACT prunes as plain arithmetic inside
    // the join, before the dedup shuffle:
    //  - set-size ratio (min/max setsize >= t IS implied by J >= t);
    //  - PPJoin positional upper bound: if the matched shingle is the
    //    first common element at ranks (i, j), the overlap can't exceed
    //    1 + min(|A|-i, |B|-j), and J >= t needs overlap >=
    //    ceil(t/(1+t) * (|A|+|B|)). A qualifying pair always survives via
    //    its first-common-shingle row, so dropping late-rank rows is safe.
    val needOverlap = ceil(lit(threshold / (1 + threshold)) *
      (col("a.setsize") + col("b.setsize")) - lit(1e-9))
    val raw = prefix.as("a")
      .join(prefix.as("b"), col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
        least(col("a.setsize"), col("b.setsize")).cast(DoubleType) /
          greatest(col("a.setsize"), col("b.setsize")).cast(DoubleType) >= threshold &&
        lit(1) + least(col("a.setsize") - col("a.rn"), col("b.setsize") - col("b.rn")) >= needOverlap)

    // Small-dictionary fast path (same rationale + measured row-width
    // caveat as the containment twin [[containRepPairsBitset]]): skip the
    // candidate dedup shuffle entirely — verify the raw match stream
    // inline via broadcast bitset lookups and popcount-of-AND, then
    // distinct only the survivors. Identical output either way; prefix
    // selectivity is what decides which shape is cheaper, and on a small
    // dictionary it is degenerate.
    if (vocab > 0 && vocab <= maxBitsetVocab && nReps <= MaxBroadcastRows) {
      val matches = raw.select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.setsize").cast(DoubleType).as("sz_a"),
        col("b.setsize").cast(DoubleType).as("sz_b"))
      bitsetVerifyPairs(matches, enc, vocab,
        score = col("inter") / (col("sz_a") + col("sz_b") - col("inter")),
        scoreName = "jaccard", threshold)
    } else {
      val candidates = raw
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      verifyJaccardInt(candidates, enc.select(col("id"), col("toks")), threshold, bcastOk)
    }
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against a
    * dictionary-encoded set table (id, toks: sorted array<int>). Jaccard
    * is derived from the intersection size alone (|A∪B| = |A| + |B| −
    * |A∩B|), and the intersection is a merge scan over the sorted int
    * arrays ([[graft.functions.SortedIntersectCountInt]]) — no per-pair
    * hash-set allocation, which dominates at millions of candidates.
    */
  private def verifyJaccardInt(candidates: DataFrame, enc: DataFrame,
      threshold: Double, bcastOk: Boolean): DataFrame = {
    val sides = enc.select(col("id"), col("toks"),
      size(col("toks")).cast(DoubleType).as("sz"))
    candidates
      .join(maybeBroadcast(
        sides.select(col("id").as("id_a"), col("toks").as("t_a"), col("sz").as("sz_a")), bcastOk), "id_a")
      .join(maybeBroadcast(
        sides.select(col("id").as("id_b"), col("toks").as("t_b"), col("sz").as("sz_b")), bcastOk), "id_b")
      .withColumn("inter",
        graft.functions.VectorExpressions.sortedIntersectCountInt(col("t_a"), col("t_b"))
          .cast(DoubleType))
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** All MinHash values of an element-id array (int or long elements;
    * each is pmod-mapped into [0, P) first — the identity for dictionary
    * ids) as ONE array<long> column: a single codegen'd traversal
    * ([[graft.functions.MinHashSig]]) where the per-permutation
    * `array_min(transform(...))` form walked the array `numHashes` times
    * through interpreted HOFs. A universal-hash permutation
    * `(a*x + b) mod P` scatters dense ids as well as string hashes, with
    * zero per-(element × permutation) string work. Coefficients come
    * from [[graft.functions.MinHashExpression.perms]] — the one
    * generator the persisted band keys (and the SQL-surface
    * `minhash_sig`) are pinned to.
    */
  def minhashSignature(elems: Column, numHashes: Int = 32, seed: Long = 42L): Column =
    graft.functions.MinHashExpression.minhashSigDefault(elems, numHashes, seed)

  /** One row per (id, band) with the band's concatenated-minhash key —
    * the shared explode both the in-corpus LSH and the persisted-index
    * writer/probe derive their candidate buckets from.
    */
  private def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sig.select(col("id"),
      explode(array((0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          concat_ws("_",
            (0 until rows).map(r => col("mh").getItem(bnd * rows + r)): _*).as("key"))
      }: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.key").as("key"))
  }

  /** LSH candidate pairs + exact-Jaccard verification. Identical shingle
    * sets collapse to one representative before signatures (same
    * [[collapseExpand]] scaffolding as the other set joins): signatures
    * depend only on the set, so the rep-level band keys — and therefore
    * the final pair set — are unchanged, while a dup-heavy corpus hashes
    * each distinct set once instead of per copy.
    *
    * @return (id_a, id_b, jaccard) for verified pairs >= threshold.
    */
  def minhashLsh(
      docs: DataFrame, // columns: id, text
      threshold: Double,
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame =
    collapseExpand(docs, k, directed = false, scoreName = "jaccard") { (enc0, st) =>
      minhashRepPairs(enc0, threshold, numHashes, bands, st)
    }

  private def minhashRepPairs(enc0: DataFrame, threshold: Double,
      numHashes: Int, bands: Int, st: CollapseStats): DataFrame = {
    val enc = enc0.localCheckpoint() // reused by signatures + both verify join-backs
    val bcastOk = st.bcastOk

    // dictionary ids feed the signature kernel directly (int elements,
    // already in [0, P) — the kernel's pmod is the identity)
    val sig = enc.select(col("id"), minhashSignature(col("toks"), numHashes).as("mh"))

    // band key: one row per (doc, band) — candidates share any full band.
    // Only (id, band, key) travels through the shuffle; the encoded sets
    // are joined back for the few verified candidates.
    val banded = bandKeys(sig, numHashes, bands)
      .localCheckpoint() // the signature pass runs once, not per join side

    val l = banded.select(col("band"), col("key"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("key"), col("id").as("id_b"))
    val candidates = l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    verifyJaccardInt(candidates, enc, threshold, bcastOk)
  }

  /** Batch-stable encoded shingle sets: element ids are md5-derived 64-bit
    * digests of the shingles ([[md5Hash64]]) rather than dictionary ranks.
    * A frequency dictionary is corpus-relative — tomorrow's batch would
    * rank the same shingle differently — so anything PERSISTED (the
    * near-dup index) must encode with a content hash that yesterday's
    * corpus and tomorrow's batch compute identically. Sets are sorted for
    * the merge-scan verify; 64-bit digest collisions are the engine's
    * standard exactness assumption (as with every md5 dedup key).
    *
    * @return (id, toks: sorted array<long>)
    */
  private def hashedSets(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("id"), TextFunctions.shingles(col("text"), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), array_sort(transform(col("sh"), s => md5Hash64(s))).as("toks"))

  /** MinHash band keys over a batch-stable encoded set — shared by the
    * index writer and the probe so both sides derive identical buckets.
    * Signatures permute `pmod(digest, P)` (the permutation arithmetic
    * needs [0, P)); the full 64-bit digests still do the exact verify.
    */
  private def stableBandKeys(enc: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandKeys(
      enc.select(col("id"), minhashSignature(col("toks"), numHashes).as("mh")),
      numHashes, bands)

  /** Persist the exact-Jaccard near-dup pair graph as a bucketed table —
    * the materialized form of [[jaccardPairs]], and the exact-pairs
    * sibling of [[buildNearDupIndex]] (which persists the LSH encoding
    * for probe-by-batch; this persists the verified PAIRS for repeated
    * whole-graph consumers). At 100 TB the pair graph is computed once
    * at ingest and every downstream audit — clustering, split-leakage
    * detection, keep-lists — serves from the table instead of re-running
    * the PPJoin; the suite previously recomputed the identical graph in
    * four queries.
    *
    * With `incremental = true` three side tables also persist, enabling
    * [[extendPairIndex]] to fold future batches in at cost ∝ batch:
    *
    *  - `_dict` (digest → rank, digest-bucketed): a FROZEN, APPEND-ONLY
    *    df-rank dictionary. Ranks are assigned by ascending build-corpus
    *    document frequency (rarest first — the PPJoin-optimal order);
    *    tokens first seen in later batches append with ranks past the
    *    current max, ordered by digest. A rank never changes once
    *    assigned, so the order is batch-stable like a content hash but
    *    keeps (near-)df-optimal prefix SELECTIVITY — the first cut used
    *    raw digest order and measured 1.7M candidates for 120 true
    *    pairs at sf0.1; rank order collapses that by orders of
    *    magnitude. Exactness never depended on the choice (prefix
    *    completeness holds under ANY consistent global order); only the
    *    constant factor does.
    *  - `_sets` (id, sorted rank array; id-bucketed) for the merge-scan
    *    verify.
    *  - `_postings` (tok = rank, id, rn, setsize; tok-bucketed): the
    *    PPJoin PREFIX entries only, with (rank-in-prefix, setsize) for
    *    the positional prunes.
    *
    * Every incremental row is STAMPED with a `batch_id` (build = 0) and
    * a `_batches` marker table — ONE row per committed batch, written
    * LAST — is the crash contract: a stamp's presence certifies every
    * append of that batch landed ([[extendPairIndex]] probes it to make
    * replays of committed batches no-ops), a stamp's absence means the
    * batch replays in full and its byte-identical re-appends collapse
    * per (keys, batch_id) on the serve path ([[servePairIndex]]) — the
    * [[IvmRollup]] exactly-once design applied to the pair index.
    *
    * `commitAlias` (streaming): also record the given stamp as committed
    * in the SAME marker write, so a [[graft.streaming.PairIndexStream]]
    * cold-start build that crashes after its marker but before the
    * checkpoint commit reads its own replay (same epoch, now routed to
    * extend) as already-committed instead of folding the built batch in
    * twice.
    */
  def buildPairIndex(docs: DataFrame, table: String, path: String,
      threshold: Double, nBuckets: Int = 8, k: Int = 5,
      incremental: Boolean = false, commitAlias: Long = -1L): Unit = {
    if (!incremental) {
      graft.sources.TableWriter.writeBucketed(
        jaccardPairs(docs, threshold, k), table, path, "id_a", nBuckets)
      return
    }
    // every table gets its OWN subdirectory: the pairs table at the bare
    // root would make its Overwrite delete the sibling dict/sets/postings
    // directories underneath it (bitten once in spec)
    val spark = docs.sparkSession
    val tokens = docTokenDigests(docs, k)
      .localCheckpoint() // df counts + the encode probe share ONE shingle pass
    val dfc = tokens.groupBy("digest").agg(count(lit(1)).as("df"))
    // pinned: the dict WRITE and the encode join share one computed
    // ranking (unpinned, the RDD-backed rank sort would run twice)
    val dict = graft.core.Ranks.globalRowNumber(
      dfc, Seq(col("df").asc, col("digest").asc))
      .select(col("digest"), col("global_rank").as("rank"))
      .localCheckpoint()
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // the dict write proceeds CONCURRENTLY with the group/pair pipeline
    // (which joins the pinned in-memory frame, not the table read-back)
    val dictWrite = scala.concurrent.Future {
      graft.sources.TableWriter.writeBucketed(
        dict, s"${table}_dict", s"$path/dict", "digest", nBuckets)
    }
    // the dict side broadcasts when MEASURED small (count on the pinned
    // RDD is one metadata-cheap job): the encode join then streams the
    // token frame map-side instead of shuffling it by digest — at real
    // vocabulary sizes the gate fails and the shuffle join is correct
    val groups = collapsedRankGroups(tokens, dict,
        dictBcast = dict.count() <= MaxBroadcastRows)
      .localCheckpoint() // pairs + members + rep sets + prefixes share it
    val probe = prefixPostings(groups, threshold)
      .localCheckpoint() // pair candidates + the postings table share it
    val gates = broadcastGates(groups)
    // the four data-table writes run CONCURRENTLY (the appendExtend move):
    // their relative order carries no crash contract — the trailing
    // `_batches` marker does, and every input is pinned. Pairs come
    // straight from the collapsed groups (no second, independent
    // dictionary-encode pass): identical values to [[jaccardPairs]] —
    // rank intersections are shingle intersections, the formula is
    // shared — PairGraphSpec pins the equality including the doubles
    def bwrite(df: DataFrame, t: String, sub: String, bcol: String) =
      scala.concurrent.Future {
        graft.sources.TableWriter.writeBucketed(
          df.withColumn("batch_id", lit(0L)), t, s"$path/$sub", bcol, nBuckets)
      }
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(Seq(
      dictWrite,
      bwrite(collapsedGroupPairs(groups, threshold, probe, gates),
        table, "pairs", "id_a"),
      bwrite(groups.select(col("id").as("rep"), explode(col("members")).as("id")),
        s"${table}_members", "members", "rep"),
      bwrite(groups.select("id", "toks"), s"${table}_sets", "sets", "id"),
      bwrite(probe, s"${table}_postings", "postings", "tok"))),
      scala.concurrent.duration.Duration.Inf)
    Ledger.built(spark, table, "pairs", path, commitAlias)
  }

  /** Measured broadcast gates over a collapsed-groups frame, from ONE
    * tiny aggregate (the crossNearDup discipline): `groupsOk` gates the
    * rep-set verify sides (rank arrays are 8-byte longs — the element
    * bound halves); `probeOk` gates broadcasting the PREFIX-POSTING side
    * of the candidate joins — prefix rows are bounded by total rank
    * elements but carry ~4 fixed-width fields per row, so the bound
    * tightens again. Probe-side broadcast turns the candidate join from
    * a two-sided shuffle into a map-side probe — on an extend, the
    * at-scale shape (the small BATCH probes the bucketed history without
    * moving it); past the gate both joins fall back to shuffles, which
    * is the correct giant-corpus plan.
    */
  private final case class IncGates(groupsOk: Boolean, probeOk: Boolean,
      nReps: Long, vocab: Long) {
    // small-dictionary fast path (the [[containRepPairs]] MEASURED path
    // choice, applied to the incremental tier): rank sets fit fixed-width
    // bitsets, so candidate verification runs INLINE on the raw equi-join
    // matches (popcount-of-AND) and only survivors reach a shuffle —
    // on a degenerate small-vocab corpus the prefix join's candidates
    // approach all-pairs and the dedup shuffle + merge-scan dominate
    def bitsetOk: Boolean =
      vocab > 0 && vocab <= IndexBitsetVocab && nReps <= MaxBroadcastRows
  }
  private val IndexBitsetVocab = 4096L
  /** Canonical (id, bits, pbits) projection — every bitset join site
    * builds it the same way so identical broadcast subtrees hit
    * ReuseExchange. `bits` packs the full rank set (the verify);
    * `pbits` packs only the PPJoin prefix (the canonical-witness
    * filter: see [[graft.functions.BitsetFirstCommon]]).
    */
  private def bitsetFrame(groups: DataFrame, nWords: Int,
      threshold: Double): DataFrame = {
    def pack(c: Column) = graft.functions.VectorExpressions.toBitset(
      transform(c, _.cast("int")), nWords)
    val prefLen = (col("setsize") -
      ceil(lit(threshold) * col("setsize") - lit(1e-9)) + 1).cast("int")
    groups
      .withColumn("setsize", coalesce(col("setsize"), size(col("toks"))))
      .select(col("id"), pack(col("toks")).as("bits"),
        pack(slice(col("toks"), lit(1), prefLen)).as("pbits"))
  }
  private def broadcastGates(groups: DataFrame): IncGates = {
    // toks are sorted ascending, so the last element is the max rank —
    // the dictionary width the bitset gate needs (one agg, no extra job)
    val st = groups.agg(count(lit(1)), sum(size(col("toks"))),
      max(element_at(col("toks"), -1))).head()
    val rows = st.getLong(0)
    val toks = if (st.isNullAt(1)) 0L else st.getLong(1)
    val vocab = if (st.isNullAt(2)) 0L else st.getLong(2)
    IncGates(
      rows <= MaxBroadcastRows && toks <= MaxBroadcastElems / 2,
      toks <= MaxBroadcastElems / 8,
      rows, vocab)
  }

  /** All qualifying pairs WITHIN a collapsed groups frame (the
    * [[collapsedRankGroups]] shape): cross-group candidates from the
    * PPJoin prefix self-join + merge-scan verify, expanded through both
    * member lists; intra-group pairs are exact duplicates at Jaccard
    * 1.0. Shared by the incremental build and the extend's
    * batch-internal stage — one definition of "pairs of a group frame".
    */
  private def collapsedGroupPairs(groups: DataFrame, threshold: Double,
      probe: DataFrame, gates: IncGates): DataFrame = {
    val bOk = gates.groupsOk
    val needOverlap = ceil(lit(threshold / (1 + threshold)) *
      (col("a.setsize") + col("b.setsize")) - lit(1e-9))
    // raw prefix matches, one row per shared prefix tok — thin (ids +
    // sizes only); who dedups them is the path choice below
    val matches = probe.as("a")
      .join(maybeBroadcast(probe, gates.probeOk).as("b"), col("a.tok") === col("b.tok") &&
        col("a.id") < col("b.id") &&
        least(col("a.setsize"), col("b.setsize")).cast(DoubleType) /
          greatest(col("a.setsize"), col("b.setsize")).cast(DoubleType) >= threshold &&
        lit(1) + least(col("a.setsize") - col("a.rn"),
          col("b.setsize") - col("b.rn")) >= needOverlap)
      .select(col("a.id").as("bid"), col("b.id").as("hid"),
        col("a.tok").as("tok"),
        col("a.setsize").cast(DoubleType).as("sz_a"),
        col("b.setsize").cast(DoubleType).as("sz_b"))
    // verified REP pairs (bid, hid, jaccard), deduplicated. Path choice
    // is MEASURED ([[IncGates.bitsetOk]], the [[containRepPairs]]
    // discipline): a small frozen dictionary means prefix toks are never
    // rare — candidates approach all-pairs, and the dedup shuffle + the
    // merge-scan array join-backs dominate. There the rank sets pack
    // into fixed-width bitsets, verification runs INLINE on the raw
    // match stream (popcount-of-AND through two guaranteed-broadcast
    // hash joins), and only the few survivors reach a shuffle. Both
    // paths count the same exact intersection — identical rows out.
    val verified =
      if (gates.bitsetOk) {
        val nWords = ((gates.vocab + 63) >> 6).toInt
        // ONE bitset projection joined twice under aliases: the two
        // broadcast exchanges canonicalize identically, so Spark builds
        // and ships the bitset table once (ReuseExchange), not per side
        val bf = bitsetFrame(groups, nWords, threshold)
        matches
          .join(broadcast(bf.as("ba")), col("bid") === col("ba.id"))
          .join(broadcast(bf.as("bb")), col("hid") === col("bb.id"))
          // canonical-witness emission instead of a dedup shuffle: keep
          // ONLY the match whose token is the pair's smallest shared
          // prefix token — exactly one row per pair survives. Safe under
          // the positional prune: the smallest shared token has the
          // smallest rn on BOTH sides, so it maximizes the prune's bound
          // and survives whenever any match for the pair does.
          .filter(col("tok").cast("int") ===
            graft.functions.VectorExpressions.bitsetFirstCommon(
              col("ba.pbits"), col("bb.pbits")))
          .withColumn("inter",
            graft.functions.VectorExpressions.bitsetAndCount(col("ba.bits"), col("bb.bits"))
              .cast(DoubleType))
          .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
          .filter(col("jaccard") >= threshold)
          .select(col("bid"), col("hid"), col("jaccard"))
      } else {
        val sides = groups.select(col("id"), col("toks"),
          size(col("toks")).cast(DoubleType).as("sz"))
        matches.select("bid", "hid").dropDuplicates("bid", "hid")
          .join(maybeBroadcast(sides.select(col("id").as("bid"), col("toks").as("t_a"),
            col("sz").as("sz_a")), bOk), "bid")
          .join(maybeBroadcast(sides.select(col("id").as("hid"), col("toks").as("t_b"),
            col("sz").as("sz_b")), bOk), "hid")
          .withColumn("inter",
            graft.functions.VectorExpressions.sortedIntersectCountLong(col("t_a"), col("t_b"))
              .cast(DoubleType))
          .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
          .filter(col("jaccard") >= threshold)
          .select(col("bid"), col("hid"), col("jaccard"))
      }
    val mem = groups.select(col("id"), col("members"))
    val crossGroup = verified
      .join(maybeBroadcast(mem.as("ma"), gates.groupsOk), col("bid") === col("ma.id"))
      .join(maybeBroadcast(mem.as("mb"), gates.groupsOk), col("hid") === col("mb.id"))
      .select(explode(col("ma.members")).as("b_id"),
        col("mb.members").as("m_h"), col("jaccard"))
      .select(col("b_id"), explode(col("m_h")).as("h_id"), col("jaccard"))
      .select(least(col("b_id"), col("h_id")).as("id_a"),
        greatest(col("b_id"), col("h_id")).as("id_b"), col("jaccard"))
    val intra = groups.filter(size(col("members")) > 1)
      .select(col("members"))
      .select(explode(col("members")).as("id_a"), col("members"))
      .select(col("id_a"), explode(col("members")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    crossGroup.unionByName(intra)
  }

  /** (id, digest) token stream: one shingle pass, 64-bit content digests
    * (the batch-stable currency every incremental surface keys on).
    * Shingle-less docs drop, as in [[hashedSets]].
    */
  private def docTokenDigests(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("id"), explode(TextFunctions.shingles(col("text"), k)).as("sh"))
      .select(col("id"), md5Hash64(col("sh")).as("digest"))

  /** Encode a token stream through the rank dictionary AND collapse
    * identical sets — the [[collapseExpand]] discipline persisted: one
    * row per DISTINCT rank set with id = min member (the rep), the full
    * member list carried alongside. On Zipf-degenerate corpora (this
    * fixture's 31-word vocabulary makes every shingle common) the
    * collapse, not the rank order, is what keeps the prefix probe
    * sub-quadratic — identically to the scan-time path's "~16× fewer
    * candidates" move. Inner dict join — the caller guarantees coverage
    * ([[extendPairIndex]] appends unseen digests first).
    *
    * @return (id = rep, toks sorted rank array, setsize, members)
    */
  private def collapsedRankGroups(tokens: DataFrame, dict: DataFrame,
      dictBcast: Boolean = false): DataFrame =
    tokens.join(maybeBroadcast(dict, dictBcast), "digest")
      .groupBy("id").agg(array_sort(collect_list(col("rank"))).as("toks"))
      .groupBy("toks")
      .agg(min(col("id")).as("id"), sort_array(collect_list(col("id"))).as("members"))
      .select(col("id"), col("toks"), size(col("toks")).as("setsize"), col("members"))

  /** PPJoin prefix rows (tok, id, rn, setsize) of a sized digest-set
    * frame: the first |X| − ⌈t·|X|⌉ + 1 tokens in the batch-stable
    * digest order, with the same 1e-9 ceil ulp-guard as
    * [[distinctSetPairs]]. Shared by the index writer and the probe so
    * both sides derive identical prefixes — the formula cannot drift.
    */
  private def prefixPostings(enc: DataFrame, threshold: Double): DataFrame = {
    val prefixLen = (col("setsize") -
      ceil(lit(threshold) * col("setsize") - lit(1e-9)) + 1).cast("int")
    enc.select(col("id"), col("setsize"),
        posexplode(slice(col("toks"), lit(1), prefixLen)).as(Seq("pos", "tok")))
      .select(col("tok"), col("id"), (col("pos") + 1).as("rn"), col("setsize"))
  }

  /** Fold a NEW batch of documents into an incremental
    * [[buildPairIndex]] table at cost ∝ batch — the "hash once at
    * ingest" contract for the EXACT tier (the LSH tier's
    * [[extendNearDupIndex]] sibling):
    *
    *  1. ONE shingle pass digests the batch; unseen digests append to
    *     the `_dict` with ranks past the current max, ordered by digest.
    *     The append is NATURALLY IDEMPOTENT: rank assignment is a pure
    *     function of (existing dict, batch), so a crash-replay
    *     recomputes identical rows and the anti-join then finds no
    *     unseen digests — nothing double-appends.
    *  2. The batch encodes through the (now covering) dict into rank
    *     arrays; batch×history candidates come from probing the batch's
    *     prefix ranks against the persisted prefix postings, and
    *     batch-internal candidates from the prefix self-join — both
    *     with the size-ratio and positional prunes of
    *     [[distinctSetPairs]], exact by the same arguments under the
    *     frozen rank order.
    *  3. Candidates exact-verify against rank arrays (batch side
    *     broadcast when MEASURED small; history side through its
    *     id-bucketed layout), and the appends go through the existing
    *     bucket specs.
    *
    * Exactly-once under crash-replay (the [[IvmRollup]] pattern):
    * `batchId` stamps every appended row, the `_batches` marker append
    * goes LAST, and the three failure shapes all collapse:
    *
    *  - replay of a COMMITTED batch (marker present): skipped whole —
    *    no duplicate rows, no lost appends;
    *  - replay of a CRASHED batch (marker absent, any prefix of the
    *    appends landed): history reads exclude the batch's own stamp,
    *    so the replay computes from exactly the pre-batch state and
    *    re-appends byte-identical rows — [[servePairIndex]] collapses
    *    them per (pair, batch_id). In particular a crash after the LAST
    *    data append no longer lets the replay probe the batch's own
    *    postings (the self-pair corruption the unstamped design had),
    *    and a batch can no longer be left permanently missing from
    *    `_sets`/`_postings` (the false-negative shape): the marker is
    *    absent until every append landed, so the batch keeps replaying;
    *  - duplicated side-table rows from a collapsed crash window
    *    multiply only byte-identical verify rows in later batches,
    *    which collapse at serve with the pairs they duplicate.
    *
    * Batch ids must be disjoint from history ids (new documents), and
    * extends are single-writer: the rank frontier is read-then-append,
    * and a lost update there is caught LOUDLY by the dict density fence
    * (ranks dense 1..N, digests unique — any interleaved double-extend
    * breaks one of the two) at the start of the next extend.
    */
  def extendPairIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String, threshold: Double,
      batchId: Long, k: Int = 5, nBuckets: Int = 8): Unit =
    Ledger.commit(spark, table, "pairs", batchId)(appendExtend(spark,
      prepareExtend(spark, batch, table, threshold, batchId, k, nBuckets),
      table, batchId, nBuckets))

  /** The four per-batch append frames of one extend, every input pinned
    * upstream — [[prepareExtend]] builds them ONCE, [[appendExtend]]
    * lands them. The split exists for staged crash windows (q176): a
    * crash-after-data-appends + full replay re-lands the SAME frames
    * twice, and because the appends are deterministic functions of the
    * pinned pre-state (the property q172 and PairGraphSpec prove by
    * running the honest full replay), appending from shared pins leaves
    * byte-identical disk state while paying the pair kernels once —
    * the q162 job-count discipline applied to the staging itself.
    */
  private[graft] final case class ExtendStage(pairs: DataFrame,
      members: DataFrame, sets: DataFrame, posts: DataFrame)

  /** Everything of one extend UP TO the data appends: fence, shingle
    * pass, dict-rank frontier append (naturally idempotent — unstamped),
    * candidate probe, verify, and both pair expansions, returned as the
    * four pinned-input append frames.
    */
  private[graft] def prepareExtend(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String, threshold: Double,
      batchId: Long, k: Int, nBuckets: Int = 8): ExtendStage = {
    // the dict fence scan is independent of the batch's shingle pass —
    // overlap the two (the fence must still COMPLETE before the rank
    // append below, which the Await enforces)
    val fenceF = scala.concurrent.Future {
      spark.table(s"${table}_dict")
        .agg(coalesce(max(col("rank")), lit(0L)), count(lit(1)),
          count_distinct(col("digest"))).head()
    }(scala.concurrent.ExecutionContext.global)
    val tokens = docTokenDigests(batch, k)
      .localCheckpoint() // unseen probe + encode share ONE shingle pass
    val dictT = s"${table}_dict"
    // frontier read + single-writer fence in ONE pass: ranks must be
    // dense (max == count) and digests unique — a lost read-then-append
    // update (two interleaved writers) breaks one of the two, so the
    // extend fails loudly here instead of silently assigning colliding
    // ranks forever after
    val ds = scala.concurrent.Await.result(fenceF,
      scala.concurrent.duration.Duration.Inf)
    val (maxRank, nRows, nDigests) = (ds.getLong(0), ds.getLong(1), ds.getLong(2))
    if (maxRank != nRows || nRows != nDigests)
      throw new IllegalStateException(
        s"$dictT violates the single-writer contract: max rank $maxRank, " +
          s"$nRows rows, $nDigests distinct digests (expected all equal) — " +
          "a concurrent extend lost a read-then-append rank update")
    val unseen = tokens.select("digest").distinct()
      .join(spark.table(dictT).select("digest"), Seq("digest"), "left_anti")
    graft.core.Ranks.globalRowNumber(unseen, Seq(col("digest").asc))
      .select(col("digest"), (col("global_rank") + maxRank).as("rank"))
      .repartition(nBuckets, col("digest")) // one file per bucket, as at build
      .write.mode(org.apache.spark.sql.SaveMode.Append).insertInto(dictT)
    val groupsB = collapsedRankGroups(tokens, spark.table(dictT))
      .localCheckpoint() // probe + both verifies + all three expansions
    val probe = prefixPostings(groupsB, threshold)
      .localCheckpoint() // history probe + self-join + postings append share it
    val gates = broadcastGates(groupsB)
    val bOk = gates.groupsOk
    // history reads EXCLUDE this batch's own stamp: a replayed crashed
    // extend may find its earlier appends already present, and filtering
    // them out makes the replay compute from exactly the pre-batch state
    def hist(name: String): DataFrame =
      spark.table(name).filter(col("batch_id") =!= batchId)
    def needOverlap = ceil(lit(threshold / (1 + threshold)) *
      (col("a.setsize") + col("b.setsize")) - lit(1e-9))
    // the BATCH probe broadcasts when measured small — the at-scale
    // extend shape: the history postings stream through their bucketed
    // layout instead of shuffling corpus-sized state per batch. Raw
    // matches stay thin (ids + sizes); who dedups them is the verify
    // path's choice.
    def prunedMatches(right: DataFrame): DataFrame =
      maybeBroadcast(probe, gates.probeOk).as("a")
        .join(right.as("b"), col("a.tok") === col("b.tok") &&
        least(col("a.setsize"), col("b.setsize")).cast(DoubleType) /
          greatest(col("a.setsize"), col("b.setsize")).cast(DoubleType) >= threshold &&
        lit(1) + least(col("a.setsize") - col("a.rn"),
          col("b.setsize") - col("b.rn")) >= needOverlap)
        .select(col("a.id").as("bid"), col("b.id").as("hid"),
          col("a.tok").as("tok"),
          col("a.setsize").cast(DoubleType).as("sz_a"),
          col("b.setsize").cast(DoubleType).as("sz_b"))
    // verified REP-level pairs (bid = batch rep, hid = history rep).
    // Shape is MEASURED, as in [[collapsedGroupPairs]]: when the WHOLE
    // dictionary is bitset-narrow and the history rep sets broadcast,
    // verify runs inline on the raw matches (popcount-of-AND) with no
    // candidate dedup shuffle; otherwise candidates dedup first and
    // merge-scan against the id-bucketed `_sets`. The dictionary width
    // needs no extra pass: every post-append rank is either ≤ the
    // fence's pre-append max or appears in some batch set (unseen
    // ranks come FROM the batch), so max(fence, batch vocab) covers it.
    val histSets = hist(s"${table}_sets")
    val dictVocab = math.max(maxRank, gates.vocab)
    val crossVerified =
      if (dictVocab > 0 && dictVocab <= IndexBitsetVocab &&
          gates.nReps <= MaxBroadcastRows &&
          histSets.count() <= MaxBroadcastRows) {
        val nWords = ((dictVocab + 63) >> 6).toInt
        // batch side uses the same canonical bitset projection as the
        // batch-internal path below, so the appended union's plan ships
        // ONE groupsB bitset broadcast across both subtrees
        val bfB = bitsetFrame(groupsB, nWords, threshold)
        val bfH = bitsetFrame(
          histSets.select(col("id"), col("toks"),
            size(col("toks")).as("setsize"))
            .dropDuplicates("id"), // replayed rows are byte-identical
          nWords, threshold)
        prunedMatches(hist(s"${table}_postings"))
          .join(broadcast(bfB.as("ba")), col("bid") === col("ba.id"))
          .join(broadcast(bfH.as("bb")), col("hid") === col("bb.id"))
          // canonical-witness emission (see collapsedGroupPairs): one
          // row per pair, no candidate dedup shuffle. Replay-duplicated
          // HISTORY postings can still duplicate a match at the same
          // canonical token — those appended pair rows are byte-identical
          // and collapse at serve per (pair, batch_id), as documented.
          .filter(col("tok").cast("int") ===
            graft.functions.VectorExpressions.bitsetFirstCommon(
              col("ba.pbits"), col("bb.pbits")))
          .withColumn("inter",
            graft.functions.VectorExpressions.bitsetAndCount(col("ba.bits"), col("bb.bits"))
              .cast(DoubleType))
          .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
          .filter(col("jaccard") >= threshold)
          .select(col("bid"), col("hid"), col("jaccard"))
      } else {
        prunedMatches(hist(s"${table}_postings"))
          .select("bid", "hid").dropDuplicates("bid", "hid")
          .join(maybeBroadcast(groupsB.select(col("id").as("bid"),
            col("toks").as("t_a"), col("setsize").cast(DoubleType).as("sz_a")), bOk), "bid")
          .join(histSets
            .select(col("id").as("hid"), col("toks").as("t_b"),
              size(col("toks")).cast(DoubleType).as("sz_b")), "hid")
          .withColumn("inter",
            graft.functions.VectorExpressions.sortedIntersectCountLong(col("t_a"), col("t_b"))
              .cast(DoubleType))
          .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
          .filter(col("jaccard") >= threshold)
          .select(col("bid"), col("hid"), col("jaccard"))
      }
    val bm = groupsB.select(col("id").as("bid"), col("members").as("m_b"))
    // cross-group expansion, batch×history: batch members explode from
    // the pinned group frame; history members stream from the
    // rep-bucketed `_members` table
    val cross = crossVerified
      .join(maybeBroadcast(bm, bOk), "bid")
      .join(hist(s"${table}_members")
        .select(col("rep").as("hid"), col("id").as("h_id")), "hid")
      .select(explode(col("m_b")).as("b_id"), col("h_id"), col("jaccard"))
      .select(least(col("b_id"), col("h_id")).as("id_a"),
        greatest(col("b_id"), col("h_id")).as("id_b"), col("jaccard"))
    // batch-internal pairs (cross-group expanded + intra-group 1.0s):
    // the same definition the incremental build uses — one helper, with
    // the already-pinned probe + measured gate shared
    val internal = collapsedGroupPairs(groupsB, threshold, probe, gates)
    ExtendStage(internal.unionByName(cross),
      groupsB.select(col("id").as("rep"), explode(col("members")).as("id")),
      groupsB.select("id", "toks"),
      probe)
  }

  /** The four data appends of a prepared extend. They run CONCURRENTLY:
    * their relative order carries no crash contract (the trailing
    * `_batches` stamp does), every input is pinned, and insertInto on
    * an existing bucketed table is a pure file append — so the
    * scheduling tail of four small sequential jobs folds into one
    * round. Each append clusters by its table's bucket column first
    * (the writeBucketed file-hygiene move): a batch append lands as
    * ≤ one file per bucket instead of one per (input partition, bucket).
    */
  private[graft] def appendExtend(spark: org.apache.spark.sql.SparkSession,
      st: ExtendStage, table: String, batchId: Long,
      nBuckets: Int = 8): Unit = {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    def append(df: DataFrame, t: String, bcol: String) = scala.concurrent.Future {
      df.withColumn("batch_id", lit(batchId))
        .repartition(nBuckets, col(bcol))
        .write.mode(org.apache.spark.sql.SaveMode.Append).insertInto(t)
    }
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(Seq(
      append(st.pairs, table, "id_a"),
      append(st.members, s"${table}_members", "rep"),
      append(st.sets, s"${table}_sets", "id"),
      append(st.posts, s"${table}_postings", "tok"))),
      scala.concurrent.duration.Duration.Inf)
    ()
  }

  /** The maintained pair graph of an incremental [[buildPairIndex]]
    * table: all (id_a, id_b, jaccard) rows after collapsing replayed
    * appends per (pair, batch_id) — replays are byte-identical by the
    * determinism argument on [[extendPairIndex]], so the collapse is a
    * dropDuplicates, and a pair appearing under TWO batch ids (a
    * contract violation — each pair is generated exactly once, by the
    * batch holding its newest document) survives as two rows and fails
    * the audit loudly rather than folding silently.
    */
  def servePairIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, asOf: Long = Long.MaxValue): DataFrame = {
    // AS-OF reads: the stamp log IS a version history until a compact
    // folds it to batch 0 (the lakehouse VACUUM trade — time travel
    // reaches back to the last compact, no further). `asOf = B` serves
    // the pair graph as it stood when batch B committed: each pair is
    // generated exactly once, by the batch holding its newest document,
    // so `batch_id <= B` is exactly the pairs of the corpus through B —
    // and tombstones cut by the same stamp, so a LATER delete is
    // invisible to the pinned audit (reproducibility: an audit row can
    // cite the data version it was computed on).
    val pairs = spark.table(table)
      .filter(col("batch_id") <= asOf)
      .dropDuplicates("id_a", "id_b", "batch_id")
      .select("id_a", "id_b", "jaccard")
    // tombstones ([[deleteFromPairIndex]]): pairs touching a deleted
    // document disappear from every serve — surviving pair scores are
    // pairwise, so the anti-join on both ends IS the
    // corpus-minus-deleted semantics
    Frontier.purge(spark, table, "pairs", pairs, asOf, Seq("id_a", "id_b"))
      .select("id_a", "id_b", "jaccard")
  }

  /** Operational statistics of an incremental [[buildPairIndex]] table
    * — the DESCRIBE-INDEX verb: one row of (live_docs, live_pairs,
    * tombstoned), each derived from the index's own state under the
    * same replay/tombstone collapses every serve applies. The point is
    * auditability: the numbers an operator watches (how many documents
    * does this index cover? how many pairs does it assert? how much
    * deletion debt has accrued since the last compact?) are
    * driver-checked against scan-time SQL over the source corpus, so
    * "the index's self-report == the truth" is itself a theorem, not a
    * dashboard convention.
    */
  def pairIndexStats(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val members = spark.table(s"${table}_members")
      .select("id").distinct() // (rep, id, batch_id) replay dups collapse
    // three bounded scalar aggregates; the 1×1 crossJoins are the
    // broadcast-scalar shape (QualityAudit's), not data products
    Frontier.purge(spark, table, "pairs", members)
      .agg(count(lit(1)).as("live_docs"))
      .crossJoin(servePairIndex(spark, table).agg(count(lit(1)).as("live_pairs")))
      .crossJoin(Frontier.tombstoned(spark, table, "pairs"))
  }

  /** Tombstone documents in an incremental [[buildPairIndex]] table —
    * the [[Frontier]] protocol. Serve semantics become "the pair graph
    * of corpus MINUS deleted": every pair with a deleted end
    * disappears, surviving pair scores are untouched (Jaccard is
    * pairwise). Later extends stay correct with NO interaction: new
    * batch×history pairs against deleted docs are still generated into
    * the pairs table, and the serve anti-join removes them. Re-ingesting
    * a deleted id is a caller-contract violation (its new pairs would be
    * silently filtered until a compact purges the tombstone).
    */
  def deleteFromPairIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, table: String, path: String, batchId: Long): Unit =
    Ledger.commit(spark, table, "pairs", batchId)(
      Frontier.append(ids, table, "pairs", path, batchId))

  /** Fold an incremental [[buildPairIndex]] table family back to a
    * single batch-0 state ([[Ledger.Compaction]]), so read cost stops
    * growing with the number of batches folded. The pairs table and
    * the unstamped `_dict` rewrite through their own folds below.
    *
    * Fails loudly BEFORE rewriting if any pair appears under two
    * different batch ids: that contract violation is kept visible by
    * [[servePairIndex]]'s stamp-scoped collapse, and restamping
    * everything to 0 would silently launder it into a single row.
    */
  def compactPairIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String, nBuckets: Int = 8,
      preserveNamespace: Boolean = false): Unit = {
    // preserveNamespace: marker {0, maxCommitted} instead of {0}, so a
    // stopped-but-checkpointed PairIndexStream resumes over the compacted
    // family — graft.core.WriterFence.compactKeepStamps states the contract
    val ledger = Ledger.compaction(spark, table, "pairs", path, preserveNamespace)
    // tombstone purge ([[deleteFromPairIndex]]): compact turns the
    // serve-side anti-join into physical absence — pairs touching a
    // deleted end go, deleted member rows go, groups with NO surviving
    // member drop their rep-level sets/postings rows (a rep id may
    // itself be deleted while members survive: the rep is an internal
    // content label, never a served pair end — it stays). Ordering
    // keeps every crash point correct-serving: purged rewrites first
    // (tombstones still active — the anti-join is a no-op on purged
    // rows), the frontier truncates AFTER all rewrites, marker LAST;
    // rerunning from any point converges. The tombstoned ids are read
    // once, pinned, for the pairs and members purges.
    val deleted = Frontier.dead(spark, table, "pairs").map(_.localCheckpoint())
    def purgeIds(df: DataFrame, cols: Seq[String]): DataFrame =
      deleted.fold(df)(Frontier.antiJoin(df, "pairs", _, cols))
    // rewrites run CONCURRENTLY where the dependency graph allows (the
    // marker, written last, carries the crash contract; rewrite order
    // affects nothing but the wall clock): sets/postings wait on the
    // members rewrite (their live-reps probe reads the purged table);
    // the pairs and dict rewrites depend on nothing
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // the one-batch-per-pair fence RIDES the pairs rewrite's own scan
    // (no separate audit job — the round-7 q176 trim): each pair must
    // carry exactly one batch stamp (it is generated exactly once, by
    // the batch holding its newest document), so the fold groups per
    // pair and a count above 1 fails the rewrite loudly INSIDE a filter
    // (Catalyst prunes a projected-then-dropped raise_error — the
    // IvmJoin lesson) instead of folding a contract violation into
    // batch 0. A violating compact aborts before its marker, so the
    // family keeps serving the pre-compact (still-correct) state.
    // max(jaccard) is exact: n == 1 past the fence, so it reads THE
    // row's score.
    //
    // The fold is MATERIALIZED (eager localCheckpoint) BEFORE any
    // sibling rewrite launches: the checkpoint runs the fenced scan, so
    // a violation aborts while members/sets/postings still carry their
    // ORIGINAL batch stamps — without this ordering a sibling fold
    // could already have flattened its stamps to 0, leaving asOf reads
    // between the failed compact and the fix an inconsistent version
    // history (pairs stamped, members not).
    val folded = purgeIds(
      spark.table(table).dropDuplicates("id_a", "id_b", "batch_id")
        .groupBy("id_a", "id_b")
        .agg(max(col("jaccard")).as("jaccard"), count(lit(1)).as("n"))
        .filter(assert_true(col("n") === 1L,
          concat(lit(s"compactPairIndex($table): pair ("),
            col("id_a").cast("string"), lit(", "),
            col("id_b").cast("string"),
            lit(") appears under multiple batch ids — each pair is " +
              "generated exactly once, by the batch holding its " +
              "newest document; refusing to fold a contract violation " +
              "into batch 0"))).isNull)
        .drop("n"), Seq("id_a", "id_b"))
      .withColumn("batch_id", lit(0L))
      .localCheckpoint() // pinned (fence runs HERE): Overwrite reads the table it replaces
    val pairsF = scala.concurrent.Future {
      graft.sources.TableWriter.writeBucketed(
        folded, table, s"$path/pairs", "id_a", nBuckets)
    }
    val repTailF = scala.concurrent.Future {
      ledger.rewrite("members", Seq("rep", "id"), "rep", nBuckets, purgeIds(_, Nil))
      // reps with ≥1 surviving member, AFTER the members rewrite so the
      // probe reads the already-purged table
      val liveReps = deleted.map(_ =>
        spark.table(s"${table}_members").select(col("rep").as("id"))
          .distinct().localCheckpoint())
      def keepLive(df: DataFrame): DataFrame =
        liveReps.fold(df)(df.join(_, Seq("id"), "left_semi"))
      val setsF = scala.concurrent.Future(
        ledger.rewrite("sets", Seq("id"), "id", nBuckets, keepLive))
      val postF = scala.concurrent.Future(
        ledger.rewrite("postings", Seq("tok", "id", "rn"), "tok", nBuckets, keepLive))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(setsF, postF)),
        scala.concurrent.duration.Duration.Inf)
    }
    // the dict carries no stamp (appends are naturally idempotent — no
    // duplicates possible); its rewrite is pure file-count hygiene
    val dictF = scala.concurrent.Future(
      graft.sources.TableWriter.writeBucketed(
        spark.table(s"${table}_dict").localCheckpoint(),
        s"${table}_dict", s"$path/dict", "digest", nBuckets))
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(pairsF, repTailF, dictF)),
      scala.concurrent.duration.Duration.Inf)
    ledger.commit()
  }

  /** Persist a near-dup index over a document corpus — the MinHash-LSH
    * sibling of the exact digest history behind [[incremental]]: "hash the
    * corpus once at ingest, probe every future batch against it". Two
    * bucketed tables: `<table>_postings` (id, band, key) laid out by band
    * key so probe joins co-locate, and `<table>_sets` (id, sorted digest
    * array) laid out by id so the verify join-back reads pre-shuffled
    * buckets. Band keys/signatures use the batch-stable [[hashedSets]]
    * encoding — a NEW batch hashed tomorrow derives byte-identical keys.
    *
    * Exactly-once like [[buildPairIndex]]: every row carries a
    * `batch_id` stamp (build = 0), and a `_batches` marker table —
    * written LAST — is the crash contract. A crash mid-build reads as
    * "no index yet" (callers probe `_batches`) and the rebuild
    * overwrites; a crashed-then-replayed EXTEND re-appends
    * byte-identical rows that every read path collapses per (keys,
    * batch_id). `commitAlias` records a streaming epoch's stamp in the
    * same marker write, exactly as in [[buildPairIndex]].
    */
  def buildNearDupIndex(docs: DataFrame, table: String, path: String,
      k: Int = 5, numHashes: Int = 32, bands: Int = 8, nBuckets: Int = 16,
      commitAlias: Long = -1L): Unit = {
    val enc = hashedSets(docs, k).localCheckpoint() // one shingle pass feeds both tables
    // both writes run CONCURRENTLY (the buildPairIndex move): ordering
    // carries no crash contract — the trailing `_batches` marker does
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(Seq(
      scala.concurrent.Future(graft.sources.TableWriter.writeBucketed(
        stableBandKeys(enc, numHashes, bands).withColumn("batch_id", lit(0L)),
        s"${table}_postings", s"$path/postings", "key", nBuckets)),
      scala.concurrent.Future(graft.sources.TableWriter.writeBucketed(
        enc.withColumn("batch_id", lit(0L)),
        s"${table}_sets", s"$path/sets", "id", nBuckets)))),
      scala.concurrent.duration.Duration.Inf)
    Ledger.built(docs.sparkSession, table, "lsh", path, commitAlias)
  }

  /** Probe a [[buildNearDupIndex]] table with a new batch: batch band keys
    * equi-join the persisted postings (cost ∝ batch, never ∝ history),
    * candidate pairs fetch the stored digest sets — the batch side by
    * broadcast, the history side through its id-bucketed layout — and
    * exact Jaccard over the full 64-bit digests verifies. Same LSH
    * recall/precision trade as [[minhashLsh]] (verification removes every
    * false positive; borderline pairs just above the threshold can be
    * missed with the banding's small probability).
    *
    * Index reads collapse replayed rows per (keys, batch_id) — the
    * stamp is then dropped so the probe output's own `batch_id` column
    * (the probe-doc id, this method's long-standing contract) never
    * collides with it.
    *
    * @return (batch_id, index_id, jaccard) for verified pairs ≥ threshold
    */
  def probeNearDupIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      batch: DataFrame, threshold: Double,
      k: Int = 5, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val enc = hashedSets(batch, k).localCheckpoint() // band keys + verify share it
    val candidates = stableBandKeys(enc, numHashes, bands)
      .withColumnRenamed("id", "batch_id")
      .join(indexPostings(spark, table).withColumnRenamed("id", "index_id"),
        Seq("band", "key"))
      .select("batch_id", "index_id")
      .dropDuplicates("batch_id", "index_id")
    val verified = candidates
      .join(broadcast(enc.select(col("id").as("batch_id"), col("toks").as("t_a"),
        size(col("toks")).cast(DoubleType).as("sz_a"))), "batch_id")
      .join(indexSets(spark, table)
        .select(col("id").as("index_id"), col("toks").as("t_b"),
          size(col("toks")).cast(DoubleType).as("sz_b")), "index_id")
      .withColumn("inter",
        graft.functions.VectorExpressions.sortedIntersectCountLong(col("t_a"), col("t_b"))
          .cast(DoubleType))
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
    verified.select(col("batch_id"), col("index_id"), col("jaccard"))
  }

  /** Append a batch's documents to a [[buildNearDupIndex]] table pair.
    * The batch-stable encoding ([[hashedSets]]) guarantees the appended
    * postings and digest sets are byte-compatible with every earlier
    * batch's, so "hash once at ingest" extends across increments: each
    * batch hashes only ITSELF, and `insertInto` lays the new rows out by
    * the tables' existing bucket spec — future probes stay co-located.
    *
    * Exactly-once under crash-replay, by the [[extendPairIndex]]
    * protocol (simpler here — the appends read NO history, so they are
    * pure functions of the batch alone): every row is stamped with
    * `batchId`, the `_batches` marker append goes LAST, a replay of a
    * committed batch skips whole, and a crashed batch's replay
    * re-appends byte-identical rows that every read path collapses per
    * (keys, batch_id). Callers own "each document indexed once"; the
    * single-writer contract is FENCED ([[graft.core.WriterFence]]):
    * a fresh stamp must be max(committed) + 1, so interleaved writers
    * fail loudly instead of double-indexing silently.
    */
  def extendNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, table: String, batchId: Long,
      k: Int = 5, numHashes: Int = 32, bands: Int = 8,
      nBuckets: Int = 16): Unit =
    Ledger.commit(spark, table, "lsh", batchId) {
      val enc = hashedSets(docs, k).localCheckpoint() // one shingle pass, two tables
      // concurrent appends — the `_batches` stamp, not order, is the contract
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(Seq(
        scala.concurrent.Future(
          stableBandKeys(enc, numHashes, bands).withColumn("batch_id", lit(batchId))
            .repartition(nBuckets, col("key")) // one file per bucket
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .insertInto(s"${table}_postings")),
        scala.concurrent.Future(
          enc.withColumn("batch_id", lit(batchId))
            .repartition(nBuckets, col("id"))
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .insertInto(s"${table}_sets")))),
        scala.concurrent.duration.Duration.Inf)
    }

  /** The near-dup index's postings/sets after collapsing replayed
    * appends per (keys, batch_id) — replays are byte-identical because
    * the appends are pure functions of the batch ([[hashedSets]] is
    * content-addressed), so the collapse is a dropDuplicates; the stamp
    * is dropped afterwards so downstream joins never see it.
    */
  private def indexPostings(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    Frontier.purge(spark, table, "lsh",
      spark.table(s"${table}_postings")
        .dropDuplicates("id", "band", "key", "batch_id").drop("batch_id"))
  private def indexSets(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    Frontier.purge(spark, table, "lsh",
      spark.table(s"${table}_sets")
        .dropDuplicates("id", "batch_id").drop("batch_id"))

  /** DESCRIBE INDEX on the LSH tier — the [[pairIndexStats]] verb for
    * this family: (live_docs, distinct_shingles, band_postings,
    * tombstoned), each from the index's OWN tables under the same
    * replay/tombstone collapses the probes apply. distinct_shingles
    * counts the digest vocabulary (digest equality == shingle-string
    * equality on every gate-checked corpus — the jaccard oracles prove
    * it each round); band_postings must read exactly bands × live_docs
    * (every indexed doc hashes to one key per band), so the row doubles
    * as a partial-hash integrity check. Bounded scalar aggregates via
    * 1×1 crossJoins, no corpus rescan.
    */
  def describeNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val sets = indexSets(spark, table)
    sets.agg(count(lit(1)).as("live_docs"))
      .crossJoin(sets.select(explode(col("toks")).as("d"))
        .agg(count_distinct(col("d")).as("distinct_shingles")))
      .crossJoin(indexPostings(spark, table)
        .agg(count(lit(1)).as("band_postings")))
      .crossJoin(Frontier.tombstoned(spark, table, "lsh"))
  }

  /** Tombstone documents in a [[buildNearDupIndex]] table — the
    * [[Frontier]] protocol; the per-doc read paths ([[indexPostings]],
    * [[indexSets]]) drop deleted ids, so every downstream
    * join/expansion sees corpus-minus-deleted.
    */
  def deleteFromNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, table: String, path: String, batchId: Long): Unit =
    Ledger.commit(spark, table, "lsh", batchId)(
      Frontier.append(ids, table, "lsh", path, batchId))

  /** Fold a [[buildNearDupIndex]] family back to batch 0
    * ([[Ledger.Compaction]]): both tables rewrite concurrently.
    */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String, nBuckets: Int = 16,
      preserveNamespace: Boolean = false): Unit = {
    // see compactPairIndex: {0, maxCommitted} keeps a checkpointed
    // NearDupStream resumable over the compacted family
    val ledger = Ledger.compaction(spark, table, "lsh", path, preserveNamespace)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(Seq(
      scala.concurrent.Future(
        ledger.rewrite("postings", Seq("id", "band", "key"), "key", nBuckets)),
      scala.concurrent.Future(ledger.rewrite("sets", Seq("id"), "id", nBuckets)))),
      scala.concurrent.duration.Duration.Inf)
    ledger.commit()
  }

  /** The FULL verified pair graph of a [[buildNearDupIndex]] table —
    * the [[minhashLsh]] contract served from the persisted index
    * instead of a corpus scan: candidates come from self-joining the
    * stored band keys (at identical-set REP level, the
    * [[collapseExpand]] discipline — the reps' keys are read back, not
    * recomputed), verification is exact Jaccard over the stored digest
    * sets, and member expansion + intra-group 1.0 pairs complete the
    * graph. Identical band keys by [[stableBandKeys]] determinism ⇒
    * identical candidates ⇒ identical output to the scan-time query —
    * across any build/extend/crash-replay history, since every read
    * collapses per (keys, batch_id) first.
    *
    * @return (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold
    */
  def serveNearDupPairs(spark: org.apache.spark.sql.SparkSession,
      table: String, threshold: Double,
      asOf: Long = Long.MaxValue): DataFrame = {
    // the replay collapse folds INTO the rep aggregation: collect_set
    // dedups a crashed-replay's byte-identical (id, toks) rows inside
    // the same shuffle the collapse needs anyway — one pass, not a
    // dropDuplicates followed by a second aggregate. Tombstones filter
    // HERE: groups then exclude deleted members, and the raw-postings
    // self-join below is cleansed transitively through its rep
    // semi-join + verify joins against these groups. `asOf` cuts both
    // data and tombstones at a batch stamp (the servePairIndex MVCC
    // read, valid back to the last compact): appends are pure functions
    // of their batch, so the stamp cut IS the corpus-through-asOf index.
    val groups = Frontier.purge(spark, table, "lsh",
        spark.table(s"${table}_sets")
          .filter(col("batch_id") <= asOf).select("id", "toks"), asOf)
      .groupBy("toks")
      .agg(min(col("id")).as("id"), sort_array(collect_set(col("id"))).as("members"))
      .localCheckpoint() // rep filter + verify sides + expansion share it
    val bOk = broadcastGates(groups).groupsOk
    // raw postings: replayed duplicate keys only duplicate CANDIDATES,
    // which the (id_a, id_b) dedup below collapses — no posting-level
    // dropDuplicates shuffle needed. The rep filter broadcasts when the
    // groups frame measured small; the band self-join broadcasts its
    // probe side under the same gate (20k-row band keys vs an SMJ of
    // two RDD-backed frames with no stats).
    val repKeys = spark.table(s"${table}_postings")
      .filter(col("batch_id") <= asOf).select("id", "band", "key")
      .join(maybeBroadcast(groups.select("id"), bOk), Seq("id"), "left_semi")
      .localCheckpoint() // both sides of the self-join share one probe scan
    val cands = repKeys.select(col("band"), col("key"), col("id").as("id_a"))
      .join(maybeBroadcast(
        repKeys.select(col("band"), col("key"), col("id").as("id_b")), bOk),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // ONE verify-side projection joined twice under aliases — identical
    // broadcast subtrees hit ReuseExchange, one ship not two
    val sides = groups.select(col("id"), col("toks"),
      size(col("toks")).cast(DoubleType).as("sz"), col("members"))
    val cross = cands
      .join(maybeBroadcast(sides.as("sa"), bOk), col("id_a") === col("sa.id"))
      .join(maybeBroadcast(sides.as("sb"), bOk), col("id_b") === col("sb.id"))
      .withColumn("inter",
        graft.functions.VectorExpressions.sortedIntersectCountLong(
          col("sa.toks"), col("sb.toks")).cast(DoubleType))
      .withColumn("jaccard",
        col("inter") / (col("sa.sz") + col("sb.sz") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(explode(col("sa.members")).as("a_id"),
        col("sb.members").as("m_b"), col("jaccard"))
      .select(col("a_id"), explode(col("m_b")).as("b_id"), col("jaccard"))
      .select(least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b"), col("jaccard"))
    val intra = groups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("id_a"), col("members"))
      .select(col("id_a"), explode(col("members")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** Bipartite near-dup — "fuzzy decontamination": which corpus documents
    * are near-copies of a held-out reference set (eval benchmarks, license
    * blocklists)? Exact n-gram decontamination (shared-gram joins) misses
    * lightly-edited contamination; this is the MinHash answer. Both sides
    * use the batch-stable [[hashedSets]] encoding (the reference set is
    * fixed while corpora churn — content hashes keep the keys comparable
    * across batches), band keys equi-join for candidates, and the full
    * 64-bit digest sets verify exact Jaccard, killing every banding false
    * positive.
    *
    * 100 TB shape: the reference side is small by definition (an eval
    * suite, not a corpus), so its band keys and digest sets broadcast —
    * measured first, not assumed ([[maybeBroadcast]] gates) — and the
    * corpus is scanned once, map-side hashed, and never shuffled except
    * for the few candidates. Cost ∝ corpus scan + |candidates|.
    *
    * @return (id, ref_id, jaccard) for verified pairs ≥ threshold
    */
  def crossNearDup(corpus: DataFrame, reference: DataFrame, threshold: Double,
      k: Int = 5, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val corpEnc = hashedSets(corpus, k).localCheckpoint() // band keys + verify
    val refEnc = hashedSets(reference, k).localCheckpoint()
    // measured broadcast gate for the reference side (rows AND total digest
    // elements — digests are 8-byte longs, so the element bound halves)
    val st = refEnc.agg(count(lit(1)), sum(size(col("toks")))).head()
    val refOk = st.getLong(0) <= MaxBroadcastRows &&
      (if (st.isNullAt(1)) 0L else st.getLong(1)) <= MaxBroadcastElems / 2

    val candidates = stableBandKeys(corpEnc, numHashes, bands)
      .join(maybeBroadcast(
        stableBandKeys(refEnc, numHashes, bands).withColumnRenamed("id", "ref_id"), refOk),
        Seq("band", "key"))
      .select("id", "ref_id")
      .dropDuplicates("id", "ref_id")
      .localCheckpoint() // pin: the measured count below + the verify read it
    // candidates ≈ contaminated docs — a sliver of the corpus. Broadcasting
    // them keeps the corpus-sets join map-side (corpus streamed, never
    // shuffled); measured, with the shuffle join as the oversize fallback.
    val candOk = candidates.count() <= MaxBroadcastRows

    maybeBroadcast(candidates, candOk)
      .join(corpEnc.select(col("id"), col("toks").as("t_a"),
        size(col("toks")).cast(DoubleType).as("sz_a")), "id")
      .join(maybeBroadcast(refEnc.select(col("id").as("ref_id"), col("toks").as("t_b"),
        size(col("toks")).cast(DoubleType).as("sz_b")), refOk), "ref_id")
      .withColumn("inter",
        graft.functions.VectorExpressions.sortedIntersectCountLong(col("t_a"), col("t_b"))
          .cast(DoubleType))
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id"), col("ref_id"), col("jaccard"))
  }

  /** Cross-engine 64-bit token hash: four 16-bit chunks of the md5 hex
    * digest packed little-endian (chunk j = hex chars [4j, 4j+4) at bits
    * [16j, 16j+16)). Unlike xxhash64's internal bit mixing, md5-hex +
    * base-16 parse is plain SQL on any engine, so SimHash built on it is
    * oracle-checkable; same trick as [[TextFunctions.fingerprint]].
    */
  private def md5Hash64(tok: Column): Column =
    (0 until 4).map { j =>
      shiftleft(conv(substring(md5(tok), 1 + 4 * j, 4), 16, 10).cast(LongType), 16 * j)
    }.reduce(_ bitwiseOR _)

  /** 64-bit SimHash over whitespace tokens (sign-aggregated md5-derived
    * bits; duplicate tokens vote with multiplicity).
    */
  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("id"),
      explode(filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)).as("tok"))
      .withColumn("h", md5Hash64(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(shiftright(col("h"), i).bitwiseAND(1) * 2 - 1).as(s"b_$i")
    }
    toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 64).map { i =>
          when(col(s"b_$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
        }.reduce(_ bitwiseOR _).as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance <= maxDist, banded: 4
    * 16-bit bands — any pair within distance 3 must agree on >= 1 band
    * (pigeonhole), so candidates come from an equi-join on band value.
    */
  def simhashPairs(sig: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole only guarantees recall for distance <= 3")
    val banded = sig.select(col("id"), col("simhash"),
      explode(array((0 until 4).map { bnd =>
        struct(lit(bnd).as("band"),
          shiftright(col("simhash"), bnd * 16).bitwiseAND(0xFFFFL).as("key"))
      }: _*)).as("b"))
      .select(col("id"), col("simhash"), col("b.band").as("band"), col("b.key").as("key"))
    val l = banded.select(col("band"), col("key"), col("id").as("id_a"), col("simhash").as("h_a"))
    val r = banded.select(col("band"), col("key"), col("id").as("id_b"), col("simhash").as("h_b"))
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an edge list, by iterative
  * minimum-label propagation.
  *
  * Replaces the reference's order-dependent greedy single-linkage clustering
  * (`/root/reference/executive_review_tool.py:298-343`) with a deterministic,
  * order-free semantic: every record's cluster id is the minimum record id
  * reachable through the similarity graph (a superset of the reference's
  * greedy groups — any record that greedy-joins a seed is in the seed's
  * component; documented divergence per SURVEY §7.4).
  *
  * Scale notes: each iteration is one shuffle join on `id`; iteration count
  * is bounded by the graph diameter (similarity clusters are tiny and
  * star-like, so 3–5 rounds in practice). Labels are persisted and
  * checkpoint-truncated each round so the plan doesn't grow with iterations
  * — at 100 TB lineage blow-up, not data volume, is what kills this loop.
  * For adversarial long-chain graphs swap in large-star/small-star
  * (Kiveris et al., "Connected Components in MapReduce"); the API is
  * unchanged.
  */
object ConnectedComponents {

  /** @param edges two columns `src`, `dst` (any integral type); undirected.
    * @param localThreshold edge-count (after symmetrization/dedup) at or
    *        below which the graph is solved by an exact driver-side
    *        union-find instead of the iterative join loop. Each loop
    *        iteration costs ~6 Spark jobs — pure scheduling overhead when
    *        the edge list fits on the driver — and similarity graphs are
    *        usually tiny relative to their corpus (edges ∝ near-dups, not
    *        rows). The bound is measured, not assumed: the count runs on
    *        the already-persisted edge set, and the memory math is kept
    *        honest by collecting primitive-specialized pairs (~32 B/edge
    *        transient, no Row boxing) into an open-addressed primitive
    *        parent map (~16 B/slot) — the default 1M symmetrized edges is
    *        ~32 MB of collect plus a ≤2M-node map, well inside any sane
    *        driver heap, and union-find resolves it in well under a
    *        second vs ~3 s of pure scheduling for even one join-loop
    *        round trip. (Measured at sf0.1: the 85-threshold entity graph
    *        is 313k symmetrized edges; the loop path cost q28-q31 ~2.6 s
    *        each, the local path ~0.3 s, identical labels.) Big graphs
    *        take the distributed loop unchanged; both paths produce
    *        identical (id, min-reachable-id) labels.
    * @return (id, component) — component = min reachable id, for every id
    *         appearing in `edges`.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 25,
      localThreshold: Long = 1000000L): DataFrame = {
    // NULL endpoints (nullable input columns, or non-numeric ids nulled by
    // the cast) carry no connectivity: drop them up front so both the local
    // and distributed paths see the same graph. Without this the local
    // collect() would NPE on getLong while the join loop would silently
    // emit a meaningless (null, null) label row.
    //
    // Symmetrize with a single explode rather than a self-union: edge
    // lists typically arrive with an expensive lineage (a full
    // similarity-pair pipeline), and a union's two branches would evaluate
    // that lineage twice. The explode emits both orientations in the same
    // pass — one evaluation, no checkpoint barrier needed.
    val sym = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    if (sym.count() <= localThreshold) {
      // RDD-level map BEFORE collect: Tuple2[Long, Long] is @specialized,
      // so the driver receives primitive pairs, not boxed Rows — this is
      // what keeps the localThreshold memory math truthful
      val es = sym.rdd.map(r => (r.getLong(0), r.getLong(1))).collect()
      sym.unpersist()
      return localUnionFind(spark, es)
    }

    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // each node adopts min(own label, min neighbor label); the own label
      // rides along (flagged) so convergence falls out of the same
      // aggregation — no extra join per iteration
      val viaNeighbors = sym
        .join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("component"), lit(0).as("own"))
      val next = labels.select(col("id"), col("component"), lit(1).as("own"))
        .union(viaNeighbors)
        .groupBy("id")
        .agg(
          min("component").as("component"),
          min(when(col("own") === 1, col("component"))).as("old"))

      // pointer doubling (path compression): follow the label's label once
      // per round — label chains halve every iteration, so convergence is
      // O(log diameter) instead of O(diameter). Without this, any graph
      // deeper than maxIter would silently return unconverged labels.
      val byId = next.select(col("id").as("p_id"), col("component").as("p_comp"))
      val doubled = next
        .join(byId, next("component") === byId("p_id"), "left")
        .select(next("id"),
          least(next("component"), coalesce(col("p_comp"), next("component"))).as("component"),
          col("old"))
        .localCheckpoint(true) // truncate lineage; also materializes
      val changed = doubled.filter(col("component") =!= col("old")).limit(1).count()
      labels = doubled.select("id", "component")
      converged = changed == 0
      iter += 1
    }
    sym.unpersist()
    labels
  }

  /** Exact union-find (path-halving) over a bounded edge list; labels are
    * min-reachable-id, identical to the distributed loop's fixpoint.
    * Parent links live in an open-addressed primitive map (~16 B/slot) —
    * a boxed HashMap[Long, Long] costs ~6× per entry, which is the
    * difference between the documented threshold budget and a driver OOM.
    */
  private[graft] def localUnionFind(spark: SparkSession,
      es: Array[(Long, Long)]): DataFrame = {
    val parent = new LongLongMap(es.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElseUpdate(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElseUpdate(p, p) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (s, d) =>
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) {
        // union by min id: the root IS the component label
        if (rs < rd) parent(rd) = rs else parent(rs) = rd
      }
    }
    import spark.implicits._
    val out = Array.newBuilder[(Long, Long)]
    parent.foreachKey(id => out += ((id, find(id))))
    out.result().toSeq.toDF("id", "component")
  }

  /** INCREMENTAL connected components: fold NEW edges into an existing
    * (id, component) labeling without re-running CC on the full graph —
    * the maintained-state story (IvmRollup, extendPairIndex) applied to
    * the cluster table, which a continuously-deduping corpus needs: the
    * pair index grows per batch ([[Dedup.extendPairIndex]]) and the
    * component labels must follow at the same ∝-batch cost.
    *
    * Graph CONTRACTION: map each new edge's endpoints through the old
    * labels (endpoints absent from `labels` are singletons = their own
    * id), drop the resulting self-loops (an edge inside an existing
    * component changes nothing), and run CC on the contracted edge set —
    * sized by the NEW edges and the components they touch, never the
    * corpus. Relabel = one join of the old labels against the merge map.
    *
    * Equals from-scratch CC on (old ∪ new) edges because contraction
    * preserves connectivity, and min-labels COMPOSE: each old label is
    * the min id of its member set, new nodes are their own min, so the
    * contracted min over {labels, new ids} is the true min over the
    * merged member union — the q44b min-id contract survives any number
    * of increments (spec-pinned: two-way and chained three-way splits).
    *
    * @return (id, component) for every id in `labels` or `newEdges`
    */
  def extend(spark: SparkSession, labels: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val l = labels.select(col("id").cast("long"), col("component").cast("long"))
      .localCheckpoint() // read by both endpoint maps + the relabel join
    val e = newEdges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val contracted = e
      .join(l.select(col("id").as("src"), col("component").as("csrc")), Seq("src"), "left")
      .join(l.select(col("id").as("dst"), col("component").as("cdst")), Seq("dst"), "left")
      .select(coalesce(col("csrc"), col("src")).as("src"),
        coalesce(col("cdst"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst")) // intra-component edges are no-ops
    val mergeMap = run(spark, contracted)
      .select(col("id").as("old_label"), col("component").as("new_label"))
      .localCheckpoint() // relabels old ids AND labels new nodes
    val updatedOld = l
      .join(mergeMap, l("component") === mergeMap("old_label"), "left")
      .select(col("id"), coalesce(col("new_label"), col("component")).as("component"))
    val newNodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
      .join(l.select("id"), Seq("id"), "left_anti")
    val labeledNew = newNodes
      .join(mergeMap, newNodes("id") === mergeMap("old_label"), "left")
      .select(col("id"), coalesce(col("new_label"), col("id")).as("component"))
    updatedOld.unionByName(labeledNew)
  }

  /** Minimal open-addressing Long→Long map (linear probing, power-of-two
    * capacity, load ≤ 0.5): primitive arrays only, for the driver-side
    * union-find's parent links.
    */
  private final class LongLongMap(expected: Int) {
    private var cap = {
      var c = 16
      while (c < expected * 2 && c < (1 << 30)) c <<= 1
      c
    }
    private var mask = cap - 1
    // top-log2(cap) hash bits — covers the whole table at every capacity
    // (a fixed >>>40 would stop spreading past 2^24 slots)
    private var shift = 64 - java.lang.Integer.numberOfTrailingZeros(cap)
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0

    private def slot(k: Long): Int = {
      // Fibonacci mixing spreads sequential ids before linear probing
      var i = ((k * -7046029254386353131L) >>> shift).toInt & mask
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      i
    }

    private def grow(): Unit = {
      // 1<<30 is the max power-of-two Array size; shifting past it would
      // overflow Int. ~536M keys at load 0.5 — far beyond any localThreshold
      // a driver should hold; fail with the remedy, not a negative-size array
      if (cap == (1 << 30)) throw new IllegalStateException(
        "LongLongMap full (2^29 keys): lower ConnectedComponents.localThreshold so this graph takes the distributed path")
      val (ok, ov, ou) = (keys, vals, used)
      cap <<= 1; mask = cap - 1; shift -= 1; n = 0
      keys = new Array[Long](cap); vals = new Array[Long](cap); used = new Array[Boolean](cap)
      var i = 0
      while (i < ok.length) {
        if (ou(i)) update(ok(i), ov(i))
        i += 1
      }
    }

    def apply(k: Long): Long = vals(slot(k))

    def update(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!used(i)) {
        used(i) = true; keys(i) = k; n += 1
        if (n * 2 > cap) { vals(i) = v; grow(); return }
      }
      vals(slot(k)) = v
    }

    def getOrElseUpdate(k: Long, v: Long): Long = {
      val i = slot(k)
      if (used(i)) vals(i)
      else { update(k, v); v }
    }

    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < keys.length) {
        if (used(i)) f(keys(i))
        i += 1
      }
    }
  }
}

package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{BroadcastGate, Coercions, Num, RoleResolver}
import graft.functions.{SimKernel, Similarity}
import graft.operators.{ConnectedComponents, EntityOps, SimilarityJoin}

/** The executive entity-resolution pipeline (reference 3.2,
  * `/root/reference/executive_review_tool.py:607-712`) as a distributed
  * plan, or within a measured gate on the driver:
  *
  * scan → role binding w/ name fallback (P1) → normalization (F1) →
  * stable ids → blocked weighted-similarity self-join (J2/F4-F6) →
  * connected-components clustering (A4, deterministic replacement for the
  * reference's order-dependent greedy) → per-cluster average similarity
  * (A5, reusing the join's edge scores instead of recomputing like the
  * reference's second O(k²) pass) → confidence banding (A6) →
  * consolidation (A7/A8/F11/P9) → sanitized person keys (F8) + company
  * link fan-out (J4). The review gate is the `approved` parameter (P7):
  * 'high'-band clusters auto-approve; 'uncertain' ones pass only if listed.
  *
  * Ids, scored edges and components come from one of two tiers, which
  * build the same rows:
  *
  *  - the driver tier ([[localGraph]]), when the optimizer's size
  *    estimate of the projected input (`optimizedPlan.stats.sizeInBytes`,
  *    no job) is within [[graft.core.BroadcastGate.MaxCollectBytes]] and
  *    the blocks hold at most [[graft.core.BroadcastGate.MaxLocalPairs]]
  *    candidate pairs. ONE Spark action collects the normalized rows with
  *    the block key and the per-field presence flags; the driver numbers
  *    them, blocks them, drops every pair whose bag bound
  *    ([[graft.functions.SimKernel.indelRatioBound100]] per field,
  *    [[graft.functions.Similarity.weightedBound]] over them) is below
  *    the threshold, scores the rest with the score Column itself, and
  *    labels components by union-find. An input without statistics
  *    (JDBC) estimates as unbounded and skips it;
  *  - the distributed tier ([[distributedGraph]]): a range sort with
  *    `zipWithIndex`, the blocked [[SimilarityJoin]] and
  *    [[ConnectedComponents]], each pinned by a `localCheckpoint`.
  *    Over the pair budget the collected rows are dropped and this tier
  *    reads the input again.
  *
  * The bound never prunes a pair the score keeps: the bag distance is a
  * lower bound of the indel distance, and the weighted bound repeats the
  * score's arithmetic with each field's ratio replaced by its bound.
  */
object ExecutiveDedupPipeline {
  import RoleResolver.Role

  /** Role binding per `executive_review_tool.py:252-272` (substring
    * match, optional roles fall back to the name column). */
  def roles(nameFallback: String): Seq[Role] = Seq(
    Role("name", Seq("name", "executive_name", "person_name", "full_name", "exec_name"),
      substrings = Seq("name")),
    Role("title", Seq("title", "job_title", "position", "role", "job", "exec_title"),
      substrings = Seq("title"), required = false, fallback = Some(nameFallback)),
    Role("address", Seq("address", "location", "city", "state", "street", "mailing_address"),
      substrings = Seq("address"), required = false, fallback = Some(nameFallback)),
    Role("company", Seq("company", "company_name", "employer", "organization", "firm"),
      substrings = Seq("company"), required = false, fallback = Some(nameFallback)))

  final case class Result(
      /** (id, name, title, address, company, component) cluster assignment */
      clustered: DataFrame,
      /** per-cluster avg similarity + band + member count (A5/A6) */
      bands: DataFrame,
      /** consolidated person docs for approved clusters (A8) */
      persons: DataFrame,
      /** exploded (company_key, person_key) link rows (J4/F8) */
      links: DataFrame,
      /** 'uncertain' clusters — the human-review export set */
      reviewQueue: DataFrame)

  /** Default block: first character of the token-sorted normalized name +
    * name length bucket. Cheap, stable under token reordering ("Smith,
    * John" vs "John Smith"); callers with other corpora inject their own.
    */
  def defaultBlock: Column =
    concat(
      substring(Similarity.tokenSortKey(col("name")), 1, 1),
      (length(col("name")) / 8).cast("int").cast("string"))

  /** The normalized record columns, in id order (ids number the records
    * sorted by these). */
  private val Record = Seq("name", "title", "address", "company")

  /** The score's fields: (column, weight, kernel), weights per reference
    * :199-231. Company is scored with plain indel ratio — the reference
    * uses fuzz.ratio for that one field (`executive_review_tool.py:229`)
    * while the other three use fuzz.token_sort_ratio. The score Column
    * and the driver tier's bound both read this table. */
  private[graft] val Fields: Seq[(String, Double, Similarity.Kernel)] = Seq(
    ("name", 0.5, Similarity.Kernel.TokenSort),
    ("address", 0.25, Similarity.Kernel.TokenSort),
    ("title", 0.15, Similarity.Kernel.TokenSort),
    ("company", 0.1, Similarity.Kernel.Indel))

  private[graft] def score(l: String => Column, r: String => Column): Column =
    Similarity.weightedSimilarity(Fields.map { case (f, w, k) =>
      Similarity.WeightedField(l(f), r(f), w, k.ratio)
    })

  /** What the two tiers build: (name, title, address, company, id),
    * (src, dst, sim) with src < dst and sim >= threshold, and
    * (id, component) for every id on an edge. */
  private[graft] final case class Graph(ids: DataFrame, edges: DataFrame, comp: DataFrame)

  def run(
      spark: SparkSession,
      executives: DataFrame,
      threshold: Double = 75.0,
      highBand: Double = 85.0,
      approved: Set[Long] = Set.empty,
      blockKey: Column = defaultBlock): Result = {
    val normalized = normalize(executives)
    val graph = localInput(normalized, blockKey)
      .filter(in => BroadcastGate.collects(in.queryExecution.optimizedPlan.stats.sizeInBytes))
      .flatMap(localGraph(spark, _, threshold))
      .getOrElse(distributedGraph(spark, normalized, threshold, blockKey))
    consolidate(graph, threshold, highBand, approved)
  }

  /** Role binding + normalization: the [[Record]] columns, blank names
    * dropped. */
  private[graft] def normalize(executives: DataFrame): DataFrame = {
    val nameCol = RoleResolver.resolve(executives.schema, Seq(roles("").head))("name")
    val bound = RoleResolver.project(executives, roles(nameCol))
    bound.select(Record.map(f => Coercions.normalizeString(col(f)).as(f)): _*)
      .filter(col("name") =!= "")
  }

  private val Block = "__block"
  private def presence(f: String) = s"__present_$f"

  /** The driver tier's one collect: the normalized rows, their block key
    * and each field's [[Similarity.present]] flag. None when the driver
    * cannot reproduce the distributed tier exactly: a block key that does
    * not resolve on the record (one over `id`), a record column that is
    * not a binary-collated string (the id order is `orderBy`'s), or a
    * block key whose Scala equality is not Spark's join equality (floats,
    * binary, nested types).
    */
  private[graft] def localInput(normalized: DataFrame, blockKey: Column): Option[DataFrame] = {
    val input =
      try normalized.select(col("*") +: blockKey.as(Block) +:
        Fields.map { case (f, _, _) => Similarity.present(col(f)).as(presence(f)) }: _*)
      catch { case _: AnalysisException => return None }
    val exactKeys = Set[DataType](StringType, IntegerType, LongType)
    if (Record.forall(f => input.schema(f).dataType == StringType) &&
        exactKeys(input.schema(Block).dataType)) Some(input)
    else None
  }

  // rows per scoring frame: bounds the Rows the driver holds at once
  private val ScoreChunk = 1 << 16

  /** The driver tier: ONE Spark action collects `input` ([[localInput]]);
    * None, after that action, when its blocks hold more than
    * [[BroadcastGate.MaxLocalPairs]] candidate pairs. Otherwise, on the
    * driver and with the distributed tier's semantics:
    *
    *  - ids 1..n in `orderBy(name, title, address, company)` order, which
    *    compares these non-null strings in UTF-8 binary order; rows that
    *    tie are identical, so their ids are interchangeable;
    *  - a null block has no pairs, a block over
    *    [[SimilarityJoin.MaxBlockSize]] rows is dropped, pairs are
    *    oriented id_l < id_r;
    *  - a pair whose weighted bag bound is below `threshold` (less 1e-9)
    *    is dropped unscored; the rest are scored by the score Column on a
    *    local frame (optimized in place, no job) and kept at
    *    sim >= threshold;
    *  - components by [[ConnectedComponents.localUnionFind]].
    *
    * `ids` and `comp` are local frames (reading them submits no job);
    * `edges` is held in one in-memory partition.
    */
  private[graft] def localGraph(spark: SparkSession, input: DataFrame,
      threshold: Double): Option[Graph] = {
    implicit val utf8: Ordering[UTF8String] = (a, b) => a.binaryCompare(b)
    val rows = input.collect()
      .map(r => Record.indices.map(i => UTF8String.fromString(r.getString(i))) -> r)
      .sortBy(_._1)(Ordering.Implicits.seqOrdering).map(_._2)
    val block = input.schema.fieldIndex(Block)
    val blocks = rows.indices.filterNot(rows(_).isNullAt(block))
      .groupBy(rows(_).get(block)).values // each block's rows in id order
      .filter(_.length <= SimilarityJoin.MaxBlockSize).toSeq
    if (blocks.map(b => b.length.toLong * (b.length - 1) / 2).sum > BroadcastGate.MaxLocalPairs)
      return None

    val idsSchema = StructType(input.schema.take(Record.length)).add("id", LongType)
    val record = (i: Int) => Record.indices.map(rows(i).get) :+ (i + 1L)
    val ids = spark.createDataFrame(
      rows.indices.map(i => Row.fromSeq(record(i))).asJava, idsSchema)

    // survivors of the bound, as (row << 32 | row) index pairs, row < row
    val survivors = Array.newBuilder[Long]
    val weights = Fields.map(_._2).toArray
    val nf = Fields.length
    val kernel = Fields.map(_._3).toArray
    val value = Fields.map(f => input.schema.fieldIndex(f._1)).toArray
    val flag = Fields.map(f => input.schema.fieldIndex(presence(f._1))).toArray
    val both = new Array[Boolean](nf)
    val bins = SimKernel.BagBins
    blocks.foreach { members =>
      // per member and field: presence, the kernel input's code-point
      // length and its bag histogram
      val on = new Array[Boolean](members.length * nf)
      val len = new Array[Int](members.length * nf)
      val hist = new Array[Int](members.length * nf * bins)
      for (m <- members.indices; f <- 0 until nf) {
        val r = rows(members(m))
        val s = m * nf + f
        on(s) = r.getBoolean(flag(f))
        if (on(s)) len(s) = SimKernel.bagSketch(kernel(f).input(r.getString(value(f))), hist, s * bins)
      }
      for (a <- members.indices; b <- a + 1 until members.length) {
        var f = 0
        while (f < nf) { both(f) = on(a * nf + f) && on(b * nf + f); f += 1 }
        val bound = Similarity.weightedBound(weights, both, f => {
          val (sa, sb) = (a * nf + f, b * nf + f)
          SimKernel.indelRatioBound100(len(sa), len(sb),
            SimKernel.bagDistance(hist, sa * bins, hist, sb * bins))
        })
        if (bound >= threshold - 1e-9) survivors += (members(a).toLong << 32) | members(b)
      }
    }

    // score the survivors with the score Column itself
    val side = (s: String) => idsSchema.map(f => f.copy(name = s"${f.name}_$s"))
    val pairSchema = StructType(side("l") ++ side("r"))
    def scored(pairs: Seq[Long]): DataFrame =
      spark.createDataFrame(pairs.map { p =>
        Row.fromSeq(record((p >>> 32).toInt) ++ record(p.toInt))
      }.asJava, pairSchema)
        .select(col("id_l").as("src"), col("id_r").as("dst"),
          score(n => col(s"${n}_l"), n => col(s"${n}_r")).as("sim"))
    val edges = survivors.result().grouped(ScoreChunk)
      .flatMap(chunk => scored(chunk.toSeq).collect().filter(_.getDouble(2) >= threshold))
      .toArray

    val comp = ConnectedComponents.localUnionFind(spark,
      edges.map(e => (e.getLong(0), e.getLong(1))))
    // one RDD partition, not a local frame: without size statistics the
    // edges stream against a broadcast `comp`, as the distributed tier's
    // checkpoint does (a local frame costs each downstream write a job)
    val edgeFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(edges.toSeq, 1), scored(Nil).schema)
    Some(Graph(ids, edgeFrame, comp))
  }

  /** The distributed tier: stable ids from a range sort, the blocked
    * self-join and connected components, each pinned by a checkpoint. */
  private[graft] def distributedGraph(spark: SparkSession, normalized: DataFrame,
      threshold: Double, blockKey: Column): Graph = {
    // stable ids from a distributed sort + zipWithIndex — a global
    // row_number window would funnel every row through ONE task; the sort
    // is range-partitioned and zipWithIndex is two light passes. Ties
    // (fully identical records) get interchangeable ids, which downstream
    // clustering/consolidation is insensitive to.
    val sorted = normalized.orderBy(Record.map(col): _*)
    val ids = spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
      },
      sorted.schema.add("id", org.apache.spark.sql.types.LongType))
      // pin ONE id assignment: downstream consumes ids in five places and
      // replays would re-run the sort (ties could land different ids)
      .localCheckpoint()

    val joined = SimilarityJoin.selfJoin(ids, "id", blockKey = blockKey,
      score = score, threshold = threshold)
    val edges = joined.pairs
      .select(col("id_l").as("src"), col("id_r").as("dst"), col("sim"))
      .localCheckpoint() // reused by clustering + banding; no unpersist bookkeeping
    Graph(ids, edges, ConnectedComponents.run(spark, edges.select("src", "dst")))
  }

  /** Clustering, cluster metrics, the approval gate and consolidation
    * over either tier's [[Graph]]. */
  private[graft] def consolidate(graph: Graph, threshold: Double, highBand: Double,
      approved: Set[Long]): Result = {
    val Graph(ids, edges, comp) = graph
    val clustered = ids.join(comp, ids("id") === comp("id"), "left")
      .select(ids("id"), col("name"), col("title"), col("address"), col("company"),
        coalesce(col("component"), ids("id")).as("component"))

    val bands = edges.join(comp, edges("src") === comp("id"))
      .groupBy("component")
      // a decimal sum, so the average is the same in any edge order (the
      // oracle's DECIMAL(38,8) cast, ReferenceOps q30)
      .agg(Num.davg(col("sim"), 8).as("avg_sim"), count(lit(1)).as("n_edges"))
      .join(clustered.groupBy("component").agg(count(lit(1)).as("n_members")), "component")
      .filter(col("n_members") > 1) // P8: singletons are not groups
      .withColumn("band", EntityOps.band(col("avg_sim"), highBand, threshold))

    // ---- approval gate as data (P7)
    val approvedClusters = bands.filter(
      col("band") === "high" ||
        (col("band") === "uncertain" && col("component").isin(approved.toSeq: _*)))
    val reviewQueue = bands.filter(col("band") === "uncertain")

    // ---- consolidation (A7/A8) over approved clusters
    val members = clustered.join(approvedClusters.select("component"), "component")
    val persons = members
      .groupBy("component")
      .agg(
        max_by(struct(col("name"), col("title"), col("address"), col("company")),
          EntityOps.bestRecordScore(
            Seq(col("name"), col("title"), col("address"), col("company")), col("id")))
          .as("best"),
        sort_array(collect_set(
          when(lower(trim(col("title"))).isNotNull &&
            !lower(trim(col("title"))).isin("", "nan", "none"), col("title"))))
          .as("titles"), // P9 filter inside the set
        sort_array(collect_set(col("company"))).as("companies"), // A7
        sort_array(collect_list(col("name"))).as("all_variations"),
        count(lit(1)).as("grouped_from"))
      .select(
        col("component"),
        Coercions.sanitizeKey(col("best.name")).as("person_key"), // F8
        col("best.name").as("name"),
        col("best.address").as("address"),
        col("titles"), col("companies"), col("all_variations"), col("grouped_from"))

    // ---- link fan-out (J4)
    val links = persons.select(
      col("person_key"),
      explode(col("companies")).as("company"))
      .select(Coercions.sanitizeKey(col("company")).as("company_key"), col("person_key"))

    Result(clustered, bands, persons, links, reviewQueue)
  }
}

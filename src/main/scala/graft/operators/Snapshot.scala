package graft.operators

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Portable snapshots of a maintained-state family — the backup/restore
  * verb the tier was missing: every family is a set of catalog tables
  * (logs + marker) whose layout (bucket spec) the serve paths depend
  * on, so "copy the warehouse directory" is not a restore (the catalog
  * entries, and with them the bucket metadata Spark trusts at read
  * time, are gone). Export captures rows + schema + bucket spec + row
  * counts + CONTENT DIGESTS into one self-describing directory; restore
  * re-creates the family under a NEW name/path with the layout
  * re-established, and verifies the counts it lands against the
  * manifest.
  *
  * INCREMENTAL backups ride the tier's own design: the stamped logs are
  * APPEND-ONLY between compacts, so a delta snapshot exports only rows
  * whose `batch_id` exceeds the parent snapshot's per-table max stamp —
  * backup cost ∝ what changed, never ∝ index. Unstamped tables (the
  * IVF's frozen centroids) are copied whole each time — they are the
  * family's SMALL tables by construction, and overwrite semantics admit
  * no slicing. A COMPACT between snapshots rewrites history (stamps
  * collapse to {0} or {0, m}), which [[export]] detects per table and
  * refuses loudly: every compact starts a new full-backup epoch — the
  * same contract LSM stores and WAL-shipping databases live with. The
  * detection is two-layered (round-10 advice: the stamp-subset check
  * alone has a {0}-parent blind spot — a default compact folds history
  * back to exactly the stamps a fresh build recorded): the parent's
  * recorded stamps must still be a subset of the live ones, AND the
  * live slice at-or-below the parent's max stamp must still hold
  * exactly the parent's recorded row count and content digest — so ANY
  * rewrite of already-backed-up history refuses the delta, not just
  * the ones that renumber stamps. `auditParent = false` drops the
  * digest to a count-only probe (column-pruned `batch_id` scan) when
  * re-reading the full history each night is the wrong price; the
  * stamp-subset and count fences stay on.
  *
  * CONSISTENT-CUT exports ([[exportAtCut]], round-10 verdict #1): the
  * quiescence requirement below exists because a mid-extend export
  * would capture a data log's in-flight stamp without its marker row.
  * But the ledger itself defines a consistent prefix at every instant —
  * the fsck invariant: committed stamps plus AT MOST ONE in-flight
  * stamp equal to max(committed) + 1. Cutting every stamped table at
  * `batch_id <= max(committed)` therefore excludes exactly the one
  * legal crash-window stamp and nothing else, and the result is
  * byte-identical to an export taken at the last commit boundary. So
  * backups no longer wait for streams: [[exportAtCut]] reads the
  * family's commit marker (the markerless rollup derives a surrogate
  * from its own log — see [[exportAtCut]]), slices every stamped table
  * (marker included) at the cut, and records the cut in the manifest —
  * "backups run whenever", not "backups run at 3am when streams pause".
  * DELETE verbs compose with the cut the same way extends do: every
  * family's deletion frontier is a STAMPED append and the writer fence
  * assigns it cut + 1, so a delete racing the export is sliced out
  * whole — marker row, tombstones, signed meta — and the backup is
  * exactly the pre-delete commit boundary (spec-pinned on the IVF
  * family). The one table class with no stamp to slice around — frozen
  * unstamped side state like the IVF's `_centroids` — is ENFORCED
  * instead (round-11 verdict #3): every cut export re-digests each
  * unstamped table's live bytes after its copy lands and refuses the
  * export on any mutation racing the copy.
  *
  * Crash contract (the house marker-last move): data directories write
  * first, the `_MANIFEST.json` writes LAST — a crashed export leaves no
  * manifest, so [[restore]] refuses it loudly and a re-export
  * overwrites cleanly. Plain [[export]] (no cut) still requires family
  * quiescence, exactly the compact contract; [[Maintenance.fsck]] on a
  * family restored from a quiescence-violating plain export reports the
  * captured in-flight stamp as the one legal crash-window stamp, which
  * is also the honest reading of such a snapshot.
  *
  * Retention ([[prune]]): compacts start new full-backup epochs, so
  * chains accumulate; prune deletes superseded chains ONLY after the
  * kept chain passes [[verify]] — and refuses to delete any directory
  * the kept chain links through, so a mis-enumerated prune list cannot
  * orphan the backup it is making room for.
  *
  * 100 TB judgment: export is a DISTRIBUTED columnar copy (each table
  * rewrites through its executors; the driver touches only catalog
  * metadata, counts, stamp sets, digests, and the manifest bytes — all
  * bounded by batch count, never rows), and the delta slice
  * `batch_id > since` prunes at the scan. The per-link content digest
  * ([[graft.operators.Integrity.digests]]) is one scan-only fold
  * over the rows the link writes anyway, and the
  * WHOLE-TABLE digest on every link comes free of rescans: the modular
  * sum is additive over multiset union, so each link's `totalChecksum`
  * is parent total + own slice digest. Restore pays one ingest-class
  * bucket shuffle per table (∝ index, never corpus) to re-establish the
  * co-located layout — the same price the original build paid — and
  * each delta link appends through `insertInto`, which lays rows out by
  * the restored table's existing bucket spec. Byte-level cloning
  * (distcp) is cheaper when source and destination share a filesystem,
  * but carries no schema/bucket/count/digest verification and no
  * catalog re-registration; this verb is the engine-level restore those
  * copies still need.
  */
object Snapshot {

  private val ManifestName = "_MANIFEST.json"
  private val FleetManifestName = "_FLEET.json"

  private def fsFor(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Jackson reads a Long inside a generic container (Seq, Option) as an
  // Integer when it fits; `contentAs` pins the element type
  private type JLong = java.lang.Long

  /** One table's entry in `_MANIFEST.json`: what the link wrote (`rows`,
    * `checksum`: the slice) and what the whole table held at the cut
    * (`rowsTotal`, `totalChecksum`: the numbers each restore link
    * verifies and each child delta audits against). The digest fields
    * are absent from pre-digest manifests (counts-only auditing, named),
    * and `rowsTotal` from pre-cumulative ones ([[cumulativeRows]] refuses
    * those by name).
    */
  private final case class TableEntry(name: String, suffix: String,
      schema: String, bucketCols: Seq[String], nBuckets: Int,
      @JsonDeserialize(contentAs = classOf[JLong]) stamps: Seq[Long],
      rows: Long,
      @JsonDeserialize(contentAs = classOf[JLong]) checksum: Option[Long],
      @JsonDeserialize(contentAs = classOf[JLong]) rowsTotal: Option[Long],
      @JsonDeserialize(contentAs = classOf[JLong]) totalChecksum: Option[Long]) {
    def structType: StructType =
      DataType.fromJson(schema).asInstanceOf[StructType]
    def stamped: Boolean = structType.fieldNames.contains("batch_id")
  }

  /** A snapshot directory's `_MANIFEST.json`, written LAST (the commit).
    * `kind` is absent on kind-less exports, `parent` on fulls, `cut` on
    * plain (non-cut) exports; `rebaseOf` (provenance only; chain verbs
    * ignore it) appears on [[rebase]] outputs alone.
    */
  private final case class Manifest(table: String, kind: Option[String],
      excluded: Seq[String], parent: Option[String],
      @JsonDeserialize(contentAs = classOf[JLong]) cut: Option[Long],
      @JsonInclude(JsonInclude.Include.NON_ABSENT) rebaseOf: Option[String],
      tables: Seq[TableEntry])

  private final case class FleetMember(table: String, kind: String)

  /** A fleet export's `_FLEET.json` ([[exportFleetAtCut]]). */
  private final case class FleetManifest(cut: Long, parent: Option[String],
      members: Seq[FleetMember])

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The one manifest reader; `what` is "" or "fleet ". */
  private def readJson[T](spark: SparkSession, dir: String, name: String,
      cls: Class[T], what: String): T = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val fs = fsFor(spark, p)
    require(fs.exists(p),
      s"Snapshot: no $name under $dir — not a ${what}snapshot " +
        s"(or a crashed ${what}export; re-export it)")
    val in = fs.open(p)
    try mapper.readValue(in: java.io.InputStream, cls) finally in.close()
  }

  private def readManifest(spark: SparkSession, dir: String): Manifest =
    readJson(spark, dir, ManifestName, classOf[Manifest], "")

  /** The one manifest writer — called LAST, it commits the directory. */
  private def writeJson(spark: SparkSession, dir: String, name: String,
      manifest: AnyRef): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val out = fsFor(spark, p).create(p, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(manifest))
    finally out.close()
  }

  /** A stale manifest must not vouch for a partially re-exported dir. */
  private def dropManifest(spark: SparkSession, dir: String,
      name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    fsFor(spark, p).delete(p, false)
  }

  /** The table's cumulative row count at its link's cut — what chains
    * anchor on, links ship against and restores verify. Manifests
    * written before cumulative totals existed cannot serve any of
    * those, so every verb refuses them with this one message.
    */
  private def cumulativeRows(dir: String, e: TableEntry): Long =
    e.rowsTotal.getOrElse(throw new IllegalArgumentException(
      s"Snapshot: manifest under $dir predates cumulative totals (table " +
        s"${e.name} has no rowsTotal) — chains cannot anchor on it, ship " +
        "it or restore it; take a fresh full snapshot"))

  /** The family's catalog tables: the base table (if registered) plus
    * every `table_*` sibling. Prefix discovery is what keeps the verb
    * family-agnostic (pairs and join views have different sibling
    * sets); the underscore in the pattern means a family named `idx`
    * never captures a neighbor named `idx2`. NAMESPACE DISCIPLINE is
    * the caller's side of that bargain: a family OWNS its `name_*`
    * catalog namespace, so an unrelated table named `idx_scratch`
    * would be captured as a sibling of `idx` — name families apart.
    * [[export]] additionally refuses the one collision the discipline
    * can't prevent from colliding on DISK: two captured tables whose
    * stripped suffixes coincide (a sibling literally named
    * `table_base`, which would share the base table's `base/` snapshot
    * directory and clobber it).
    *
    * When the family's KIND is known (round-11 verdict #4: the capture
    * half of the namespace discipline becomes enforcement), membership
    * is keyed by the kind's CLOSED table vocabulary
    * ([[Maintenance.FamilyKind.suffixes]]) instead: a prefix-matched
    * sibling outside the vocabulary — the unrelated `idx_backup` the
    * discipline could only ask callers to avoid — is excluded from the
    * snapshot, and the manifest records the exclusion so the backup's
    * scope is auditable. [[exportAtCut]] always knows the kind (it
    * reads the kind's marker); plain [[export]] takes it optionally and
    * falls back to prefix capture for unknown/legacy layouts.
    */
  private def siblings(spark: SparkSession, table: String): Seq[String] = {
    val t = table.toLowerCase
    val catalog = spark.sessionState.catalog
    // the session catalog's listing is metadata only (the public
    // `catalog.listTables()` is a Dataset, collected by a Spark job).
    // Temp views (an [[attach]]ed chain, ad-hoc scratch views) are not
    // snapshot material — and getTableMetadata would throw on one
    // mid-export — so they stay out of the listing
    catalog.listTables(catalog.getCurrentDatabase, "*", includeLocalTempViews = false)
      .map(_.table)
      .filter(n => n == t || n.startsWith(t + "_"))
      .sorted
  }

  /** Test seam: invoked after each table's slice lands on disk, before
    * the export's consistency re-checks — lets specs stage a mutation
    * RACING the export deterministically (a delete verb overwriting an
    * unstamped frontier, a rollup batch landing mid-copy). It runs on
    * the copy's own thread, concurrently with the family's other
    * copies. Production never sets it.
    */
  private[graft] var onTableExported: Option[String => Unit] = None

  /** Export `table`'s family to `dest`. With `incrementalFrom = Some(
    * parentDest)`, exports a DELTA against that earlier snapshot: each
    * stamped table contributes only rows past the parent's recorded max
    * stamp, unstamped tables are copied whole, and the manifest records
    * the parent path for [[restore]] to chain through. Refuses a delta
    * whose parent history was rewritten — by the stamp-subset check AND
    * by re-auditing the live slice at-or-below the parent's max stamp
    * against the parent's recorded count + content digest
    * (`auditParent = false` keeps the count fence but drops the digest
    * rescan). With `cut = Some(c)` every stamped table (the commit
    * marker included) contributes only `batch_id <= c` — [[exportAtCut]]
    * derives `c` from the family's marker so the slice is the
    * consistent committed prefix under a LIVE stream. Returns the rows
    * written into THIS snapshot directory.
    *
    * Four phases (guide §2.4/§2.6): the per-table pre-write cut audits
    * run as ONE scan-only job ([[Integrity.digests]]); the per-table
    * writes overlap; the post-write read-back digests (+ landed stamps)
    * and the cut-consistency live re-checks run as one more; then the
    * totals arithmetic and the manifest. T tables cost T writes + 2
    * scan-only jobs on a delta, 1 on a full. Landed stamps are read from
    * the landed slice on the full path: the write IS the cut frame's
    * materialization, so the sets are equal by construction.
    */
  def export(spark: SparkSession, table: String, dest: String,
      incrementalFrom: Option[String] = None, cut: Option[Long] = None,
      auditParent: Boolean = true, kind: Option[String] = None): Long = {
    val t = table.toLowerCase
    // kind known → membership is the kind's CLOSED vocabulary; an
    // out-of-vocabulary prefix neighbor (`idx_backup`) is excluded and
    // recorded, not silently swept into the family's backup
    val vocabulary = kind.map(Maintenance.familyKind(_).suffixes)
    val (names, excluded) = siblings(spark, t).partition(n =>
      vocabulary.forall(_.contains(Maintenance.suffixOf(t, n))))
    require(names.nonEmpty, s"Snapshot.export: no catalog tables match " +
      s"'$table' or '${table}_*'" +
      kind.map(k => s" within kind '$k'").getOrElse("") +
      " — nothing to snapshot")
    val parent = incrementalFrom.map { pd =>
      val m = readManifest(spark, pd)
      require(m.table == t,
        s"Snapshot.export: parent snapshot under $pd is of " +
          s"'${m.table}', not '$table'")
      pd -> m.tables.map(e => e.name -> e).toMap
    }
    // markerless kinds (the rollup) derive their cut from the log
    // itself, so the cut slice must additionally prove STABILITY —
    // marker-ful kinds get consistency from the fsck invariant instead
    val verifyStampedCut = cut.isDefined &&
      kind.exists(Maintenance.familyKind(_).marker.isEmpty)
    dropManifest(spark, dest, ManifestName)
    val catalog = spark.sessionState.catalog
    val suffixOf = names.map(n => n -> Maintenance.suffixOf(t, n)).toMap
    // disk-collision fence (round-10 advice): a sibling literally named
    // `table_base` strips to the base table's own suffix; both would
    // write `$dest/base` and the second silently clobbers the first
    suffixOf.groupBy(_._2).collect { case (s, m) if m.size > 1 => (s, m.keys) }
      .foreach { case (s, clash) =>
        throw new IllegalArgumentException(
          s"Snapshot.export: tables ${clash.toSeq.sorted.mkString(", ")} " +
            s"collide on snapshot directory '$s' — rename the sibling; " +
            "'base' is reserved for the family's base table")
      }
    case class Prep(name: String, suffix: String, schema: StructType,
        bucketCols: Seq[String], nBuckets: Int, stamped: Boolean,
        cutDf: DataFrame, parentE: Option[(String, TableEntry)])
    val preps = names.map { name =>
      val bucket = catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(name)).bucketSpec
      bucket.foreach { b =>
        // the house writer always sorts by the bucket key; a spec that
        // diverged would silently restore into a different layout
        require(b.sortColumnNames == b.bucketColumnNames,
          s"Snapshot.export: $name sorts by ${b.sortColumnNames}, " +
            s"buckets by ${b.bucketColumnNames} — unsupported layout")
      }
      val df = spark.table(name)
      val stamped = df.columns.contains("batch_id")
      // the CUT state — the committed prefix this snapshot captures;
      // everything below (stamps, slices, totals) describes it, so an
      // in-flight crash-window stamp never leaks into the manifest
      val cutDf = cut match {
        case Some(c) if stamped => df.filter(col("batch_id") <= c)
        case _ => df
      }
      val parentEntry = parent.flatMap { case (pd, pe) =>
        if (stamped) pe.get(name).map(p => (pd, p)) else None
      }
      Prep(name, suffixOf(name), df.schema,
        bucket.map(_.bucketColumnNames).getOrElse(Nil),
        bucket.map(_.numBuckets).getOrElse(0), stamped, cutDf,
        parentEntry)
    }
    def sinceOf(p: TableEntry): Long =
      if (p.stamps.nonEmpty) p.stamps.max else -1L
    // phase 1 — every delta table's slice-stamps + parent-history
    // audit, one scan-only job; the audits gate the writes
    val deltas = preps.filter(_.parentE.isDefined)
    val audits: Map[String, Integrity.Digest] = deltas.map(_.name)
      .zip(Integrity.digests(deltas.map(p => Integrity.Leg(p.cutDf, stamped = true,
        since = Some(sinceOf(p.parentE.get._2)))))).toMap
    deltas.foreach { p =>
      val (pd, pe) = p.parentE.get
      val Integrity.Digest(_, _, stamps, hn, hsum) = audits(p.name)
      val rowsTotal = cumulativeRows(pd, pe)
      require(pe.stamps.toSet.subsetOf(stamps),
        s"Snapshot.export: ${p.name} no longer holds the parent " +
          s"snapshot's stamps (a compact rewrote history since " +
          s"$pd) — incremental chains break at compacts; take a " +
          "full snapshot")
      val since = sinceOf(pe)
      // the round-10 advice fix: stamps can SURVIVE a rewrite (a
      // default compact folds history back to {0}, exactly a fresh
      // build's stamp set) — so audit the CONTENT beneath the parent's
      // max stamp, not just the stamp names. A pre-digest (legacy)
      // parent degrades to the count fence.
      if (auditParent && pe.totalChecksum.isDefined) {
        require(hn == rowsTotal && hsum == pe.totalChecksum.get,
          s"Snapshot.export: ${p.name}'s history at batch_id <= " +
            s"$since no longer matches the parent snapshot under " +
            s"$pd ($hn rows / digest $hsum vs recorded " +
            s"$rowsTotal / ${pe.totalChecksum.get}) — a compact " +
            "or manual repair rewrote backed-up history; " +
            "incremental chains break there, take a full snapshot")
      } else {
        require(hn == rowsTotal,
          s"Snapshot.export: ${p.name} holds $hn rows at batch_id " +
            s"<= $since, the parent snapshot under $pd recorded " +
            s"$rowsTotal — a compact rewrote backed-up " +
            "history; incremental chains break there, take a " +
            "full snapshot")
      }
    }
    // phase 2 — the per-table slice copies, overlapped (guide §2.6)
    graft.core.Par.run(preps) { p =>
      val slice = p.parentE match {
        case Some((_, pe)) => p.cutDf.filter(col("batch_id") > sinceOf(pe))
        case None => p.cutDf // full/unstamped, or born after the parent
      }
      slice.write.mode(SaveMode.Overwrite).parquet(s"$dest/${p.suffix}")
      onTableExported.foreach(_(p.name)) // race-staging seam (specs only)
    }
    // phase 3 — digest what LANDED (not the plan): count + order-free
    // content digest per table (full-path stamped tables collect their
    // stamps in the same pass) — the numbers verify/restore audit
    // against, so they must describe the files, not the intent. Plus
    // the CONSISTENCY RE-CHECKS for hot (cut) exports, which re-read
    // the LIVE table after the copy landed:
    //  - unstamped side state (round-11 verdict #3: IVF centroids /
    //    overwrite-merged frontiers): a delete verb racing the export
    //    overwrites the very files the copy read — if the live table
    //    no longer digests to what landed, the captured copy belongs
    //    to no consistent moment and the export refuses;
    //  - stamped logs of MARKERLESS kinds (the rollup, verdict #2):
    //    the cut is derived from the log itself, so the one batch the
    //    marker-ful kinds exclude by fsck arithmetic (the in-flight
    //    max) is instead proven ABSENT by stability — rows at
    //    `batch_id <= cut` are append-only between compacts, so an
    //    unchanged count+digest across the copy means the slice was
    //    a complete committed prefix, not a mid-append tear.
    // One scan-only job for all of it.
    val landedLegs = preps.map { p =>
      Integrity.Leg(spark.read.schema(p.schema).parquet(s"$dest/${p.suffix}"),
        stamped = p.stamped && p.parentE.isEmpty)
    }
    val liveIdx = preps.zipWithIndex.filter { case (p, _) =>
      cut.isDefined && (!p.stamped || verifyStampedCut)
    }
    val liveLegs = liveIdx.map { case (p, _) =>
      // refreshTable drops any cached file listing, and a FRESH
      // spark.table resolve is needed too — a pre-refresh analyzed plan
      // would pin the pre-copy file listing
      spark.catalog.refreshTable(p.name)
      val fresh = spark.table(p.name)
      Integrity.Leg(if (p.stamped) fresh.filter(col("batch_id") <= cut.get) else fresh)
    }
    val got = Integrity.digests(landedLegs ++ liveLegs)
    val lives: Map[Int, (Long, Long)] = liveIdx.map(_._2)
      .zip(got.drop(preps.size).map(d => (d.n, d.s))).toMap
    // phase 4 — totals arithmetic, consistency requires, manifest rows
    val entries = preps.zipWithIndex.map { case (p, i) =>
      val Integrity.Digest(written, sliceSum, _, _, _) = got(i)
      // an unstamped table's digest holds no stamps
      val stamps = (if (p.parentE.isDefined) audits(p.name) else got(i)).sortedStamps
      // whole-cut-state totals, rescan-free on deltas: the modular-sum
      // digest is additive over multiset union (a pre-digest legacy
      // parent breaks the digest chain — the child records none and
      // downstream audits degrade to counts for this table)
      val rowsTotal = p.parentE.map { case (pd, pe) =>
        cumulativeRows(pd, pe) + written
      }.getOrElse(written)
      val totalChecksum: Option[Long] = p.parentE match {
        case Some((_, pe)) =>
          pe.totalChecksum.map(tc => (tc + sliceSum) % Integrity.digestMod)
        case None => Some(sliceSum)
      }
      lives.get(i).foreach { case (ln, lsum) =>
        val consistent =
          if (p.stamped) ln == rowsTotal && totalChecksum.forall(_ == lsum)
          else ln == written && lsum == sliceSum
        require(consistent,
          s"Snapshot.export: ${p.name} changed UNDER the export (live " +
            s"${if (p.stamped) s"cut slice" else "table"} now $ln rows / " +
            s"digest $lsum, captured ${if (p.stamped) rowsTotal else written}" +
            s" / ${if (p.stamped) totalChecksum.getOrElse(sliceSum) else sliceSum})" +
            " — a concurrent writer raced the copy (a delete verb on " +
            "unstamped side state, or a mid-append batch on a markerless " +
            "log). Bracket the export with Maintenance.withLease against " +
            "compacts/deletes, or re-run it; the snapshot directory is " +
            "not committed (no manifest was written)")
      }
      TableEntry(p.name, p.suffix, p.schema.json, p.bucketCols, p.nBuckets,
        stamps, written, Some(sliceSum), Some(rowsTotal), totalChecksum)
    }
    // prefix neighbors the kind vocabulary ruled out are recorded, so
    // "what did this backup NOT cover" is auditable from the manifest
    writeJson(spark, dest, ManifestName, // manifest LAST = the commit
      Manifest(t, kind, excluded, parent.map(_._1), cut, None, entries))
    entries.map(_.rows).sum
  }

  /** Consistent-cut export UNDER A LIVE STREAM (round-10 verdict #1):
    * no quiescence — the cut is the family's max COMMITTED stamp, read
    * from its commit marker, and [[export]] slices every stamped table
    * (marker included) at it. The fsck invariant is why this is exact:
    * the protocol admits at most ONE stamp beyond the committed set
    * (max + 1, the crash window of the batch in flight), so the
    * `<= cut` slice is precisely the state the last commit boundary
    * left — the snapshot an export at that boundary would have taken.
    * A restore of the chain therefore lands a family whose marker max
    * is the cut, and the SAME stream re-delivers everything after it:
    * the first re-delivered stamp is cut + 1 and passes the writer
    * fence (q229 drives the whole composition).
    *
    * `kind` names the family's marker ([[Maintenance.familyKind]]'s
    * vocabulary) — and keys the snapshot's table membership to the
    * kind's closed vocabulary (round-11 verdict #4), so an unrelated
    * prefix neighbor is never swept into the backup.
    *
    * The MARKERLESS rollup (round-11 verdict #2) has no marker to read,
    * but its ledger defines a committed-cut SURROGATE: every batch is
    * ONE atomic append of a deterministic aggregate keyed by
    * (key, batch_id), so "committed" is simply "fully landed", and the
    * only batch that can be mid-landing is the max visible stamp
    * (single-writer: batch N+1 starts after N's append commits). The
    * cut is therefore max(visible stamps), and [[export]] proves the
    * slice STABLE — count + content digest of the live `<= cut` slice
    * unchanged after the copy — so a batch caught mid-commit-rename
    * refuses the export instead of tearing it. Belt and braces on top:
    * the family's own replay contract absorbs even a hypothetically
    * captured tear, because re-delivering the cut epoch appends
    * byte-identical rows that [[IvmRollup.serve]]'s (key, batch_id)
    * collapse folds — so resume the stream FROM the cut epoch
    * (inclusive) after a rollup restore; replays of it no-op, and
    * q233 drives the full composition under a live IvmStream.
    *
    * Streams compose; COMPACTS do not: a compact racing the export
    * rewrites the very tables being copied (and starts a new backup
    * epoch anyway). The scheduler's sweep already takes the family's
    * compact lease, so bracket out-of-band exports with
    * [[Maintenance.withLease]] on the same family path to mutually
    * exclude the two schedules (MaintenanceSpec stages the bracket).
    * DELETE verbs on unstamped side state (the IVF's frontier) are the
    * same story at copy granularity — [[export]]'s post-copy re-digest
    * of every unstamped table refuses the race (round-11 verdict #3),
    * and the same lease bracket prevents it outright.
    *
    * @return (cut stamp, rows written into this snapshot directory)
    */
  def exportAtCut(spark: SparkSession, table: String, kind: String,
      dest: String, incrementalFrom: Option[String] = None,
      auditParent: Boolean = true): (Long, Long) = {
    val cut = committedCut(spark, table, kind)
    (cut, export(spark, table, dest, incrementalFrom, cut = Some(cut),
      auditParent = auditParent, kind = Some(kind)))
  }

  /** The family's max committed stamp — the cut [[exportAtCut]] slices
    * at: the marker's max for marker-ful kinds, the markerless rollup's
    * surrogate (max visible stamp; committed == atomically landed
    * there, and [[export]] proves the slice stable). One bounded
    * collect ∝ batches.
    */
  def committedCut(spark: SparkSession, table: String,
      kind: String): Long =
    committedStamps(spark, table, kind).max

  /** The family's committed stamps, refused when empty — their max is
    * the cut (markerless rollup: the committed-cut surrogate, max
    * visible stamp of its own log, with the slice's stability proven in
    * export). */
  private def committedStamps(spark: SparkSession, table: String,
      kind: String): Set[Long] = {
    val committed = Ledger.committed(spark, table, kind)
    require(committed.nonEmpty,
      s"Snapshot: the $kind family $table holds no committed stamps — " +
        "nothing consistent to cut at (crashed build?)")
    committed
  }

  /** The snapshot chain base-first, parent pointers followed; refuses
    * cycles (a tampered chain) and mixed-family links.
    */
  private def chainOf(spark: SparkSession,
      dest: String): List[(String, Manifest)] = {
    var links = List.empty[(String, Manifest)]
    var cur = Option(dest)
    val seen = scala.collection.mutable.Set.empty[String]
    while (cur.isDefined) {
      val d = cur.get
      require(seen.add(d),
        s"Snapshot: parent cycle through $d — chain is corrupt")
      val m = readManifest(spark, d)
      links = (d -> m) :: links
      cur = m.parent
    }
    val srcTable = links.head._2.table
    links.foreach { case (d, m) =>
      require(m.table == srcTable,
        s"Snapshot: chain link $d snapshots a different family")
    }
    links
  }

  /** The directories a chain links through, base-first — the
    * enumeration [[prune]] wants for a superseded chain.
    */
  def chainDirs(spark: SparkSession, dest: String): Seq[String] =
    chainOf(spark, dest).map(_._1)

  /** Re-create a family from a snapshot under `newTable`/`newPath`. A
    * delta snapshot restores its whole parent CHAIN first (base fully,
    * each delta appended through the restored tables' bucket layout;
    * unstamped tables take the newest copy). Refuses manifest-less
    * directories (crashed exports) and occupied target names; verifies
    * every table's landed row count against the manifest of every link
    * before returning, so a restore that returns has provably rebuilt
    * what each export recorded.
    */
  def restore(spark: SparkSession, dest: String, newTable: String,
      newPath: String): Unit = {
    val chain = chainOf(spark, dest)
    val srcTable = chain.head._2.table
    // refusals run before anything lands: a link without cumulative
    // totals has nothing to verify against, and the occupied-target
    // check covers the FULL sibling set across links
    chain.foreach { case (d, m) => m.tables.foreach(cumulativeRows(d, _)) }
    chain.flatMap(_._2.tables.map(_.suffix)).distinct.foreach { suffix =>
      val newName = Maintenance.tableOf(newTable, suffix)
      require(!spark.catalog.tableExists(newName),
        s"Snapshot.restore: target table $newName already exists — " +
          "restore never overwrites; drop it first if you mean to")
    }
    chain.foreach { case (d, m) =>
      // links replay in order (the chain contract), but the tables
      // WITHIN one link land independently — overlap them (guide §2.6)
      val targets = graft.core.Par.run(m.tables) { e =>
        val newName = Maintenance.tableOf(newTable, e.suffix)
        // explicit schema: an empty slice's directory may hold no data
        // files to infer from, and inference could drift anyway
        val df = spark.read.schema(e.structType).parquet(s"$d/${e.suffix}")
        val exists = spark.catalog.tableExists(newName)
        if (exists && e.stamped) {
          // delta link on a stamped log: append through the restored
          // table's bucket spec (insertInto is positional; the manifest
          // schema IS the table's column order)
          df.write.mode(SaveMode.Append).insertInto(newName)
        } else {
          if (exists) spark.sql(s"DROP TABLE $newName") // unstamped: newest copy wins
          // the occupied-target require above is the overwrite guard;
          // the PHYSICAL write must truncate its path dir regardless (a
          // previously dropped external table leaves files behind —
          // ErrorIfExists would register the new table over old + new
          // rows and read doubles)
          if (e.nBuckets > 0)
            graft.sources.TableWriter.writeBucketed(df, newName,
              s"$newPath/${e.suffix}", e.bucketCols, e.nBuckets,
              SaveMode.Overwrite)
          else
            df.write.mode(SaveMode.Overwrite)
              .option("path", s"$newPath/${e.suffix}")
              .format("parquet").saveAsTable(newName)
        }
        (newName, cumulativeRows(d, e))
      }
      // each link's cumulative cut-state counts — a torn restore
      // surfaces at the first link it diverges from. The per-table
      // landed-count read-backs (the torn-restore audit — it must read
      // the TABLE, not observe the write) run as ONE scan-only job per link
      val landedOf = tableCounts(spark, targets.map(_._1))
      targets.foreach { case (newName, expected) =>
        val landed = landedOf(newName)
        require(landed == expected,
          s"Snapshot.restore: $newName landed $landed rows after link " +
            s"$d, its manifest says $expected (snapshot of $srcTable) — " +
            "restore is torn")
      }
    }
  }

  /** How many rows each of these tables holds, in one scan-only job. */
  private def tableCounts(spark: SparkSession,
      tables: Seq[String]): Map[String, Long] =
    tables.zip(Integrity.digests(tables.map(t =>
      Integrity.Leg(spark.table(t), hashed = false)))).map { case (t, d) =>
      t -> d.n
    }.toMap

  /** Audit a snapshot chain WITHOUT restoring it: every link reachable
    * base-first (manifest present, same family, no cycles — [[chainOf]]
    * refuses the rest loudly), and every table directory still holding
    * exactly what its manifest recorded — by row count AND (with
    * `deep = true`, the default) by the order-free content digest, so
    * count-preserving corruption (bit-rot inside a data page, a file
    * swapped for a same-cardinality one) is caught too, not just
    * truncation. This is the check an operator runs before TRUSTING a
    * backup (and the one [[restore]] would only surface mid-restore,
    * after work). Read-only; cost ∝ snapshot bytes when deep (one
    * column-complete digest scan per table directory), parquet-footer
    * counts only when `deep = false` (the cheap gate [[attach]] runs).
    * Returns one (link, table, ok, detail) row per chain entry; q227
    * gates its restore on a clean report.
    */
  def verify(spark: SparkSession, dest: String,
      deep: Boolean = true): DataFrame = {
    // per-entry expectations; legs whose directory cannot even be
    // RESOLVED (missing path — an analysis-time error) report
    // UNREADABLE without a scan. Pre-digest (legacy) manifests carry
    // no checksum: those entries degrade to count-only with a named
    // reason, even under deep
    val legs = chainOf(spark, dest).flatMap { case (d, m) =>
      m.tables.map { e =>
        val dfOpt =
          try Some(spark.read.schema(e.structType).parquet(s"$d/${e.suffix}"))
          catch { case scala.util.control.NonFatal(_) => None }
        (d, e, deep && e.checksum.isDefined, dfOpt)
      }
    }
    // EVERY (link, table) audit in ONE scan-only job
    // ([[Integrity.digests]]): each leg exactly
    // Integrity.contentDigestAgg's (or count-only's) arithmetic. A
    // runtime read error (corrupt file discovered mid-scan) falls back
    // to the per-entry overlapped path below, which marks exactly the
    // damaged entry UNREADABLE.
    def leg(df: DataFrame, checkDigest: Boolean) = Integrity.Leg(df, hashed = checkDigest)
    val fused: Option[Seq[(Long, Long)]] =
      try Some(Integrity.digests(legs.collect {
        case (_, _, checkDigest, Some(df)) => leg(df, checkDigest)
      }).map(d => (d.n, d.s)))
      catch { case scala.util.control.NonFatal(_) => None }
    def assemble(d: String, e: TableEntry, checkDigest: Boolean,
        landed: Long, sum: Long): (String, String, Boolean, String) = {
      val ok = landed == e.rows && (!checkDigest || e.checksum.contains(sum))
      (d, e.suffix, ok,
        if (ok) s"${e.rows} rows" +
          (if (checkDigest) s", digest ${e.checksum.get}"
           else if (deep) " (legacy pre-digest manifest: counts only)"
           else " (counts only)")
        else if (landed < 0) "UNREADABLE"
        else if (landed != e.rows)
          s"$landed of ${e.rows} rows — snapshot dir was modified"
        else s"digest $sum != recorded ${e.checksum.get} — content " +
          "changed under an unchanged row count (bit-rot or tamper)")
    }
    val rows = fused match {
      case Some(got) =>
        val readBack = got.iterator // one result per readable leg, in order
        legs.map { case (d, e, checkDigest, dfOpt) =>
          val (landed, sum) = if (dfOpt.isEmpty) (-1L, 0L) else readBack.next()
          assemble(d, e, checkDigest, landed, sum)
        }
      // fallback: one read-only scan per entry, overlapped (guide §2.6);
      // the per-entry try/catch restores the UNREADABLE row for exactly
      // the entry whose bytes are damaged
      case None => graft.core.Par.run(legs) { case (d, e, checkDigest, dfOpt) =>
        val (landed, sum) =
          try dfOpt match {
            case None => (-1L, 0L)
            case Some(df) =>
              val d = Integrity.digests(Seq(leg(df, checkDigest))).head
              (d.n, d.s)
          } catch { case scala.util.control.NonFatal(_) => (-1L, 0L) }
        assemble(d, e, checkDigest, landed, sum)
      }
    }
    import spark.implicits._
    rows.toDF("link", "table", "ok", "detail")
  }

  /** Retention (round-10 verdict #2): delete superseded snapshot chains
    * — but only after the chain being KEPT proves itself. Compacts
    * start new full-backup epochs, so chains accumulate forever without
    * a prune verb; the failure this verb exists to prevent is deleting
    * the old epoch on the strength of a new backup that turns out
    * unreadable. Order of operations is therefore fixed: (1) refuse any
    * `superseded` directory the kept chain actually links through
    * (self-amputation), (2) refuse superseded directories that are not
    * snapshots of the SAME family (a mis-pasted path must not become a
    * recursive delete), (3) [[verify]] the kept chain (deep by default
    * — row counts AND content digests), (4) only then delete. Returns
    * the directories removed. Enumerate a superseded chain with
    * [[chainDirs]] — deltas are useless without their base, so a chain
    * prunes whole.
    *
    * SINGLE-LINEAGE ASSUMPTION (round-11 verdict #6, pinned by spec):
    * manifests record PARENT pointers only — a base does not know its
    * children — so prune cannot see a second fork hanging off a shared
    * base. Forks sharing the kept chain's own links are safe (the
    * self-amputation fence refuses the shared base by path identity),
    * but when the KEPT chain is a new epoch entirely and two old forks
    * share a base, pruning one fork's [[chainDirs]] deletes the shared
    * base and AMPUTATES the sibling fork — exactly as deleting a WAL
    * segment strands every branch that replays through it. The
    * operational contract is therefore one lineage per family between
    * compacts: anchor each delta on the PREVIOUS snapshot (the chain a
    * schedule naturally writes), and treat forking — two deltas off one
    * parent — as creating a second retention unit whose dirs you prune
    * only together with (never out from under) its sibling. SnapshotSpec
    * pins the exact behavior: pruning fork B's chainDirs while keeping
    * fork A refuses at the shared base when A links through it, and
    * amputates B's sibling when the kept chain is disjoint — the
    * documented operator-owned case.
    */
  def prune(spark: SparkSession, keep: String, superseded: Seq[String],
      deep: Boolean = true): Seq[String] = {
    require(superseded.nonEmpty, "Snapshot.prune: nothing to prune")
    def qualified(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      fsFor(spark, p).makeQualified(p).toString
    }
    val keepChain = chainOf(spark, keep)
    val keepDirs = keepChain.map { case (d, _) => qualified(d) }.toSet
    val keepFamily = keepChain.head._2.table
    superseded.foreach { d =>
      require(!keepDirs.contains(qualified(d)),
        s"Snapshot.prune: $d is a link of the kept chain under $keep — " +
          "refusing to amputate the backup being kept")
      val fam = readManifest(spark, d).table
      require(fam == keepFamily,
        s"Snapshot.prune: $d snapshots family '$fam', the kept chain " +
          s"is of '$keepFamily' — refusing to delete across families")
    }
    val bad = verify(spark, keep, deep).filter(!col("ok")).collect()
    require(bad.isEmpty,
      s"Snapshot.prune: kept chain under $keep failed verification — " +
        s"refusing to delete anything: ${bad.mkString("; ")}")
    superseded.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      fsFor(spark, p).delete(p, true)
      d
    }
  }

  /** SYNTHETIC FULL BACKUP (chain rebase): squash a delta chain into a
    * NEW full snapshot equivalent to its head's cut state — built
    * entirely from the backup directories, never touching the primary.
    * The scale problem this verb owns: between compacts a family's
    * chain grows one link per backup tick, and [[restore]]/standby
    * re-seeds pay O(chain links); nightly full [[export]]s would bound
    * that but re-read the PRIMARY's whole history every night (the
    * exact cost deltas exist to avoid). Rebase pays the chain's bytes
    * once, off to the side: each stamped table lands as the union of
    * every link's slice (one multi-path parquet read per table — the
    * chain is append-only between compacts, so the union IS the cut
    * state), unstamped frontiers take the newest link's copy, and the
    * result is a parent-less snapshot whose manifest records the same
    * cumulative stamps/cut the head recorded, plus `rebaseOf` for
    * provenance.
    *
    * INTEGRITY is arithmetic, not trust: the chain's per-link manifests
    * carry additive content digests, so the head's cumulative
    * `totalChecksum`/`rowsTotal` PREDICT what the squashed bytes must
    * digest to — rebase re-digests what actually landed at `dest` and
    * refuses on any mismatch (a torn union, a link modified since
    * export, schema drift coercing columns to null). The chain is also
    * gated by [[verify]] up front (deep by default, matching [[prune]]'s
    * trust-before-replace discipline — rebase exists to make the old
    * chain prunable, so it must not launder a damaged link into a
    * clean-looking full). Per-suffix schemas must agree across links
    * (refused loudly otherwise), and the landed stamp set must equal
    * the head's recorded cumulative stamps.
    *
    * The new lineage composes with every chain verb: a later
    * [[export]] anchors `incrementalFrom = rebased` (the cumulative
    * totals and stamps are the head's, so the parent audit holds), a
    * standby seeds from it with [[restore]] and follows with
    * [[applyLink]], and [[prune]] retires the old chain against it
    * (q234 drives the full retention cycle). 100 TB judgment: one
    * distributed columnar copy ∝ chain bytes + one digest aggregate per
    * table — no primary I/O, no catalog churn, driver work ∝ links ×
    * tables. Returns rows written into the rebased snapshot.
    */
  def rebase(spark: SparkSession, head: String, dest: String,
      deep: Boolean = true): Long = {
    val chain = chainOf(spark, head)
    require(chain.size > 1,
      s"Snapshot.rebase: $head is already a full snapshot — nothing to " +
        "squash; use the directory itself")
    val bad = verify(spark, head, deep).filter(!col("ok")).collect()
    require(bad.isEmpty,
      s"Snapshot.rebase: chain under $head failed verification — " +
        s"refusing to squash a damaged chain: ${bad.mkString("; ")}")
    val (_, headM) = chain.last
    // the head's cumulative totals predict the squash — refused before
    // anything is written when the chain predates them
    val expectedRows = headM.tables.map(cumulativeRows(head, _))
    dropManifest(spark, dest, ManifestName)
    // per-suffix slice dirs base-first, with schema drift refused (a
    // drifted link read under the head's schema would coerce to nulls —
    // the digest would catch it, but the refusal should name the cause)
    val dirsOf = scala.collection.mutable.Map.empty[String, List[String]]
    val schemaOf = scala.collection.mutable.Map.empty[String, String]
    chain.foreach { case (d, m) =>
      m.tables.foreach { e =>
        schemaOf.get(e.suffix).foreach(s0 => require(s0 == e.schema,
          s"Snapshot.rebase: ${e.suffix} changed schema mid-chain at $d — " +
            "rebase cannot union drifted slices"))
        schemaOf(e.suffix) = e.schema
        dirsOf(e.suffix) = dirsOf.getOrElse(e.suffix, Nil) :+ s"$d/${e.suffix}"
      }
    }
    // per-suffix squash copies are independent until the trailing
    // manifest — overlap them (guide §2.6); their read-back digests
    // (+ landed stamps) then run as ONE scan-only job across the tables
    // ([[Integrity.digests]]; per-table values identical)
    graft.core.Par.run(headM.tables) { e =>
      val dirs = dirsOf(e.suffix)
      val read = spark.read.schema(e.structType)
      val src =
        if (e.stamped) read.parquet(dirs: _*)
        else read.parquet(dirs.last) // newest frontier
      src.write.mode(SaveMode.Overwrite).parquet(s"$dest/${e.suffix}")
    }
    val landed = Integrity.digests(headM.tables.map { e =>
      Integrity.Leg(spark.read.schema(e.structType).parquet(s"$dest/${e.suffix}"),
        stamped = e.stamped)
    })
    val entries = headM.tables.lazyZip(expectedRows).lazyZip(landed).map {
      case (e, expected, d @ Integrity.Digest(written, sum, _, _, _)) =>
        val landedStamps = d.sortedStamps
        // the chain's digest arithmetic, checked against the squashed
        // bytes: cumulative totals were computed additively link by link,
        // so they must equal one honest digest of the union
        require(written == expected && e.totalChecksum.forall(_ == sum),
          s"Snapshot.rebase: ${e.name} squashed to $written rows / digest " +
            s"$sum, the head manifest's cumulative cut state says " +
            s"$expected / ${e.totalChecksum.getOrElse(sum)} — the chain " +
            s"under ${chain.head._1} does not reassemble; take a fresh " +
            "full export from the primary")
        val recordedStamps = e.stamps.sorted
        if (e.stamped)
          require(landedStamps == recordedStamps,
            s"Snapshot.rebase: ${e.name}'s squashed stamps $landedStamps != " +
              s"head's recorded cumulative stamps $recordedStamps")
        // a parentless full's cumulative state IS its slice — and the
        // freshly computed digest holds even when the squashed chain
        // was legacy pre-digest, so a rebase UPGRADES such lineages
        e.copy(stamps = recordedStamps, rows = written, checksum = Some(sum),
          rowsTotal = Some(written), totalChecksum = Some(sum))
    }
    writeJson(spark, dest, ManifestName, // manifest LAST = the commit
      headM.copy(excluded = Nil, parent = None, rebaseOf = Some(head),
        tables = entries))
    entries.map(_.rows).sum
  }

  /** WARM STANDBY (log shipping): apply ONE delta-snapshot link to an
    * already-restored replica family — the verb that turns the backup
    * chain into continuous replication. [[restore]] replays a whole
    * chain from cold; a standby that re-ran it per link would pay the
    * full-chain rebuild every time. applyLink instead appends just the
    * link's slices through the standby's existing bucket layout, so a
    * replica follows a live primary at per-link cost ∝ the link — seed
    * the standby once with [[restore]] of the full export, then ship
    * every [[exportAtCut]] delta as it lands (q232 drives primary →
    * cut-delta chain → standby lockstep end to end).
    *
    * The ORDER fence is the stamp ledger itself, not trust in the
    * caller: each manifest records the cumulative cut-state stamps per
    * table, so the standby must hold exactly `recorded − slice` before
    * the append and exactly `recorded` after — a skipped link, an
    * out-of-order link, or a standby that drifted ahead all refuse
    * loudly with the expected-vs-found sets. RESTARTABLE per table: a
    * table already at the link's recorded stamps skips (each table's
    * append is one atomic Spark write, so a crash mid-link leaves whole
    * tables applied or not, and the re-run applies only the missing
    * ones). Within the link, data tables apply FIRST and the family's
    * commit marker LAST (`kind` names it — the house marker-last
    * discipline carried onto the replica, so a crashed half-applied
    * link reads as "data without marker", the protocol's one legal
    * window). Unstamped tables overwrite in place (newest frontier
    * wins, idempotent by construction). Landed counts verify against
    * the manifest's cumulative totals per table.
    *
    * A FULL link (no parent) refuses — the standby is seeded with
    * [[restore]]; applyLink ships what comes after. 100 TB judgment:
    * per link, one bounded stamp-set read per table (∝ batches) + the
    * slice appends through `insertInto` (laid out by the standby's
    * bucket spec, ∝ link rows) + one count per table — never a corpus
    * rescan, never a re-restore.
    *
    * @return rows appended into the standby by this link
    */
  def applyLink(spark: SparkSession, linkDir: String, table: String,
      path: String, kind: String): Long = {
    val m = readManifest(spark, linkDir)
    require(m.parent.isDefined,
      s"Snapshot.applyLink: $linkDir is a FULL snapshot — a standby is " +
        "seeded with restore; applyLink ships the delta links after it")
    val marker = Maintenance.familyKind(kind).marker
      .map(Maintenance.tableOf(m.table, _))
    // marker LAST: a crash mid-link must leave data-without-marker,
    // the crash window every family's protocol already absorbs
    val (markerEntries, dataEntries) =
      m.tables.partition(e => marker.contains(e.name))
    // `expectedTotal` is the cumulative cut-state total every branch
    // below verifies against — the round-11 advice fix: the check
    // covers UNSTAMPED overwrites too, so a torn frontier on the replica
    // is caught, not just a torn stamped append
    final case class Entry(e: TableEntry, newName: String, slice: DataFrame,
        stamped: Boolean, exists: Boolean, expectedTotal: Long)
    def entryOf(e: TableEntry): Entry = {
      val newName = Maintenance.tableOf(table, e.suffix)
      Entry(e, newName,
        spark.read.schema(e.structType).parquet(s"$linkDir/${e.suffix}"),
        e.stamped, spark.catalog.tableExists(newName),
        cumulativeRows(linkDir, e))
    }
    val dataEs = dataEntries.map(entryOf)
    val markerEs = markerEntries.map(entryOf)
    // EVERY stamped entry's pre-append stamp sets (slice + standby) in
    // ONE scan-only job ([[Integrity.digests]]). The marker's leg is valid here too:
    // its table is not touched until the strictly-last marker append,
    // so its pre-append stamp set equals what a read after the data
    // appends would see.
    val stampedEs = (dataEs ++ markerEs).filter(_.stamped)
    def stampLeg(df: DataFrame) = Integrity.Leg(df, hashed = false, stamped = true)
    val got = Integrity.digests(stampedEs.flatMap { en =>
      stampLeg(en.slice) +: (if (en.exists) Seq(stampLeg(spark.table(en.newName))) else Nil)
    }).iterator
    val stampsOf: Map[String, (Set[Long], Set[Long])] = stampedEs.map { en =>
      en.newName -> (got.next().stamps, if (en.exists) got.next().stamps else Set.empty[Long])
    }.toMap
    def applyOne(en: Entry): Long = {
      var appended = 0L
      if (!en.stamped) {
        // overwrite-style side state: the link's copy IS the newest
        require(en.exists,
          s"Snapshot.applyLink: standby table ${en.newName} is missing — " +
            "seed the standby with restore first")
        require(en.e.nBuckets == 0,
          s"Snapshot.applyLink: unstamped table ${en.newName} claims a " +
            "bucket spec — unsupported layout")
        val loc = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(en.newName))
          .location.toString
        en.slice.localCheckpoint() // pinned: the Overwrite replaces its own source's peer
          .write.mode(SaveMode.Overwrite).option("path", loc)
          .format("parquet").saveAsTable(en.newName)
      } else {
        val recorded = en.e.stamps.toSet
        val (sliceStamps, standbyStamps) = stampsOf(en.newName)
        if (!en.exists) {
          // a table born in THIS link (e.g. the first delete's frontier
          // ledger): its whole recorded state is the slice
          require(recorded == sliceStamps,
            s"Snapshot.applyLink: ${en.newName} is missing on the standby " +
              s"but $linkDir is not its birth link (recorded $recorded " +
              s"vs slice $sliceStamps) — re-seed with restore")
          if (en.e.nBuckets > 0)
            graft.sources.TableWriter.writeBucketed(en.slice, en.newName,
              s"$path/${en.e.suffix}", en.e.bucketCols, en.e.nBuckets,
              SaveMode.Overwrite)
          else
            en.slice.write.mode(SaveMode.Overwrite)
              .option("path", s"$path/${en.e.suffix}")
              .format("parquet").saveAsTable(en.newName)
          appended += en.e.rows
        } else {
          if (standbyStamps == recorded) {
            // already applied (a re-shipped link, or the re-run after a
            // crash mid-link): skip — restartability, not an error
          } else {
            require(standbyStamps == recorded -- sliceStamps,
              s"Snapshot.applyLink: standby ${en.newName} holds stamps " +
                s"${standbyStamps.toSeq.sorted.mkString(",")}, this link " +
                s"expects ${(recorded -- sliceStamps).toSeq.sorted
                  .mkString(",")} before it — ship links in export " +
                "order (a skipped or out-of-order link cannot apply); " +
                "re-seed with restore if the chain is gone")
            en.slice.write.mode(SaveMode.Append).insertInto(en.newName)
            appended += en.e.rows
          }
        }
      }
      appended
    }
    // the per-table landed-count read-backs (the torn-replica audit —
    // it must read the TABLE, not observe the write) run as ONE
    // scan-only job per phase
    def auditCounts(es: Seq[Entry]): Unit = {
      val landedOf = tableCounts(spark, es.map(_.newName))
      es.foreach { en =>
        val landed = landedOf(en.newName)
        require(landed == en.expectedTotal,
          s"Snapshot.applyLink: ${en.newName} holds $landed rows after " +
            s"$linkDir, the manifest says ${en.expectedTotal} — replica " +
            "is torn; re-seed with restore")
      }
    }
    // data tables land concurrently (each table's append is one atomic
    // Spark write — the per-table crash contract is unchanged; guide
    // §2.6), their counts audit, then the family's commit marker
    // strictly LAST, then its count
    val appended = graft.core.Par.run(dataEs)(applyOne).sum
    auditCounts(dataEs)
    val markerAppended = markerEs.map(applyOne).sum
    auditCounts(markerEs)
    appended + markerAppended
  }

  /** COMMITTED-CUT READ VIEWS (round-11 verdict #5) — serve a family at
    * its commit boundary, whatever in-flight state its logs carry:
    * registers one temp view per family table (named
    * `viewPrefix[_suffix]`, the family's own naming, so every serve
    * verb works unchanged on the prefix), with each STAMPED log
    * filtered at `batch_id <= max(committed)` from the kind's marker —
    * the [[exportAtCut]] slice applied at READ time instead of copy
    * time. Unstamped tables pass through whole.
    *
    * This is the replica's read path while [[applyLink]] ships links: a
    * reader hitting the standby between a link's data appends and its
    * marker append (the documented crash window — data-without-marker)
    * would otherwise see postings whose `_meta` cardinality hasn't
    * landed, an inconsistent mix belonging to no version. Through these
    * views it reads exactly the last SHIPPED commit boundary, before
    * the half-applied link, and flips atomically to the new state when
    * the link's marker lands (q232 stages the mid-link read; the same
    * views give consistent reads on a PRIMARY under a live stream).
    * The markerless rollup needs no view — [[IvmRollup.serve]]'s
    * (key, batch_id) collapse plus single-atomic-append already make
    * every read commit-consistent — so it is refused here, loudly.
    *
    * Cost: one bounded marker collect (∝ batches); the views are lazy
    * plans, and the `batch_id <= cut` filter pushes into each log's
    * scan exactly like the export's slice.
    *
    * @return (cut stamp, view names registered)
    */
  def serveAtCut(spark: SparkSession, table: String, kind: String,
      viewPrefix: String): (Long, Seq[String]) = {
    val family = Maintenance.familyKind(kind)
    require(family.marker.isDefined,
      s"Snapshot.serveAtCut: '$kind' families have no commit marker — " +
        "the rollup's serve is already commit-consistent by its " +
        "(key, batch_id) collapse; read it directly")
    val cut = committedCut(spark, table, kind)
    val t = table.toLowerCase
    val views = siblings(spark, t)
      .filter(n => family.suffixes.contains(Maintenance.suffixOf(t, n)))
      .map { n =>
        val df = spark.table(n)
        val cutDf =
          if (df.columns.contains("batch_id")) df.filter(col("batch_id") <= cut)
          else df
        val viewName = Maintenance.tableOf(viewPrefix, Maintenance.suffixOf(t, n))
        cutDf.createOrReplaceTempView(viewName)
        viewName
      }
    (cut, views)
  }

  /** Register session-scoped TEMP VIEWS over a snapshot chain — query a
    * backup WITHOUT restoring it. Stamped logs read as the union of
    * every link's slice (the chain is append-only between compacts, so
    * the union IS the table); unstamped tables (overwrite-style
    * frontiers) take the newest link's copy. Zero data is moved or
    * shuffled at attach time — the views read the snapshot's parquet in
    * place, so this is the DR "show me yesterday's index right now"
    * read path and the audit path over cold backups. Family verbs work
    * unchanged on the attached name (they resolve through
    * `spark.table`, which sees temp views first) at PLAIN-PARQUET cost:
    * the bucket co-location a [[restore]] re-establishes is not
    * present, so sustained serving should restore instead. The chain is
    * gated by the cheap manifest-count audit first (round-10 advice:
    * the DR read path must not silently serve a truncated backup) —
    * `audit = false` skips it, and [[verify]] with `deep = true`
    * remains the thorough pre-trust check. Returns the view names
    * registered.
    */
  def attach(spark: SparkSession, dest: String, viewPrefix: String,
      audit: Boolean = true): Seq[String] = {
    if (audit) {
      val bad = verify(spark, dest, deep = false).filter(!col("ok")).collect()
      require(bad.isEmpty,
        s"Snapshot.attach: chain under $dest failed the count audit — " +
          s"refusing to serve a damaged backup: ${bad.mkString("; ")}")
    }
    val chain = chainOf(spark, dest)
    // suffix -> (schema, stamped, slices base-first); schema drift
    // across links would union wrong, so it is refused loudly
    val perSuffix = scala.collection.mutable.LinkedHashMap.empty[
      String, (TableEntry, List[String])]
    chain.foreach { case (d, m) =>
      m.tables.foreach { e =>
        perSuffix.get(e.suffix) match {
          case Some((e0, dirs)) =>
            require(e0.schema == e.schema,
              s"Snapshot.attach: ${e.suffix} changed schema mid-chain at $d " +
                "— attach cannot union drifted slices")
            perSuffix(e.suffix) = (e0, dirs :+ s"$d/${e.suffix}")
          case None =>
            perSuffix(e.suffix) = (e, List(s"$d/${e.suffix}"))
        }
      }
    }
    perSuffix.map { case (suffix, (e, dirs)) =>
      val read = (p: String) => spark.read.schema(e.structType).parquet(p)
      val df =
        if (e.stamped) dirs.map(read).reduce(_ unionByName _)
        else read(dirs.last) // newest frontier copy wins
      val viewName = Maintenance.tableOf(viewPrefix, suffix)
      df.createOrReplaceTempView(viewName)
      viewName
    }.toSeq
  }

  /** Schedule knobs for the backup AUTOPILOT ([[backupTick]]): the
    * family's lineage lives under `root/<table>/`, a new cut delta is
    * taken once `everyBatches` commits have landed since the head link,
    * and the lineage rebases to a synthetic full once it exceeds
    * `rebaseAfterLinks` links (bounding restore cost; superseded
    * lineages then prune after the kept chain deep-verifies).
    * `deep = false` degrades the parent audit / rebase gate / prune
    * gate to counts when nightly digest rescans are the wrong price.
    */
  final case class BackupPolicy(root: String, everyBatches: Long = 4L,
      rebaseAfterLinks: Int = 8, deep: Boolean = true) {
    require(everyBatches >= 1L && rebaseAfterLinks >= 1,
      s"degenerate backup policy: everyBatches=$everyBatches " +
        s"rebaseAfterLinks=$rebaseAfterLinks (both must be >= 1 — a " +
        "1-link chain is already a full and cannot rebase)")
  }

  /** Autopilot dir names carry a monotonic SEQUENCE number
    * (`b<seq>_<full|link|rebase>_<cut>`): discovery orders by seq, NOT
    * by cut, because a compact renumbers stamps and the cut can go
    * BACKWARD across an epoch roll — max-cut discovery would resurrect
    * the pre-compact head.
    */
  private def backupSeq(dir: String): Long = {
    val name = new org.apache.hadoop.fs.Path(dir).getName
    require(name.startsWith("b") && name.contains("_"),
      s"Snapshot: '$name' under an autopilot root is not an autopilot " +
        "dir (b<seq>_<full|link|rebase>_<cut>) — the root must be " +
        "autopilot-owned")
    name.drop(1).takeWhile(_.isDigit).toLong
  }

  /** The lineage head under an autopilot family root — the directory an
    * operator restores from: the manifest-bearing dir with the highest
    * sequence number (crashed exports have no manifest and are
    * invisible). None when no backup has ever committed.
    */
  def latestBackup(spark: SparkSession, famRoot: String): Option[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(famRoot)
    val fs = fsFor(spark, rootPath)
    if (!fs.exists(rootPath)) return None
    fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath).toSeq
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, ManifestName)))
      .map(_.toString).sortBy(backupSeq).lastOption
  }

  /** BACKUP AUTOPILOT — one scheduler tick of the whole backup
    * lifecycle for one family, composed from the tier's own verbs so
    * every fence they carry applies unchanged. What a tick does, in
    * order:
    *
    *  1. GC crashed exports: a manifest-less dir under the family root
    *     is a dead half-write (manifest-last is the commit) — deleted.
    *     The root is autopilot-OWNED and the tick runs under the
    *     family's compact lease (see below), so nothing live writes
    *     there concurrently.
    *  2. Take the due backup at the family's committed cut (the max of
    *     the committed stamps, read once — live streams tolerated by
    *     construction): a FULL (`b<seq>_full_<cut>`) when the root is
    *     empty, a cut DELTA (`b<seq>_link_<cut>`) anchored on the
    *     lineage head once `everyBatches` commits have landed since it,
    *     nothing otherwise. COMPACTS roll the epoch automatically — the
    *     documented "every compact starts a new full-backup epoch"
    *     contract, enforced by schedule rather than operator memory —
    *     through every shape a compact takes: a cut BELOW the head's
    *     rolls immediately; a due tick whose head ledger stamps are no
    *     longer a subset of the committed ones (a namespace-preserving
    *     compact folded them to {0, max}) rolls straight to a FULL,
    *     the verdict the delta's phase-1 stamp check would reach, so
    *     the full takes `b<seq+1>`; and a delta whose parent audit
    *     refuses anyway (history rewritten under surviving stamps)
    *     falls back to a fresh FULL, which takes `b<seq+2>` after the
    *     refused link's number. The sweep
    *     compacts and backs up in the same lease tenure, compact
    *     first, so the epoch roll lands the same tick the compact
    *     does. Lineage dirs are ordered by the monotonic `b<seq>`
    *     prefix, not by cut — see [[latestBackup]].
    *  3. Rebase when the lineage exceeds `rebaseAfterLinks` links
    *     ([[rebase]] → `b<seq>_rebase_<cut>`): restore cost back to
    *     one link, chain bytes only, zero primary I/O.
    *  4. Retention: every manifest-bearing dir OUTSIDE the kept chain —
    *     superseded lineages after a rebase or an epoch roll — prunes
    *     through [[prune]], which deep-verifies the kept chain first
    *     (never delete the only good backup).
    *
    * Call it inside [[Maintenance.withLease]] — or let
    * [[Maintenance.sweep]] drive it via [[Maintenance.Family]]'s
    * `backup` policy, which brackets probe + compact + backup under one
    * lease tenure per family. Idempotent: a second tick right after
    * settles to "none". Returns the action taken
    * ("full" | "delta" | "none", with "+rebase" / "+prune" suffixes).
    *
    * 100 TB judgment: the tick's own work is bounded discovery (one
    * directory listing + one manifest read per lineage dir + one marker
    * collect); the heavy lifting is the verbs it schedules, each with
    * the cost argued at its own doc — delta ∝ new batches, rebase ∝
    * chain bytes, prune ∝ verify + metadata deletes.
    */
  def backupTick(spark: SparkSession, table: String, kind: String,
      bp: BackupPolicy): String = {
    val famRoot = s"${bp.root}/${table.toLowerCase}"
    val rootPath = new org.apache.hadoop.fs.Path(famRoot)
    val fs = fsFor(spark, rootPath)
    def qualified(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      fs.makeQualified(p).toString
    }
    def liveDirs(): Seq[String] =
      if (!fs.exists(rootPath)) Nil
      else fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, ManifestName)))
        .map(_.toString).toSeq
    // 1. crashed exports (dir, no manifest): dead half-writes — GC
    if (fs.exists(rootPath))
      fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
        .filterNot(p => fs.exists(new org.apache.hadoop.fs.Path(p, ManifestName)))
        .foreach(p => fs.delete(p, true))
    val committed = committedStamps(spark, table, kind)
    val cut = committed.max
    var head = latestBackup(spark, famRoot)
    var seq = head.map(backupSeq).getOrElse(0L)
    def nextDir(what: String) = { seq += 1; s"$famRoot/b${seq}_${what}_$cut" }
    var action = "none"
    head match {
      case None =>
        val dest = nextDir("full")
        export(spark, table, dest, cut = Some(cut), kind = Some(kind))
        head = Some(dest); action = "full"
      case Some(hd) =>
        val headM = readManifest(spark, hd)
        val headCut = headM.cut.getOrElse(-1L)
        val due = cut - headCut >= bp.everyBatches
        // the head's ledger stamps must survive in the committed set —
        // the delta's phase-1 stamp-subset check on the ledger table,
        // answered from the stamps already read
        val ledger = Ledger.ledger(table.toLowerCase, kind)
        val renumbered = headM.tables.find(_.name == ledger)
          .exists(e => !e.stamps.toSet.subsetOf(committed))
        if (cut < headCut || (due && renumbered)) {
          // a compact renumbered the ledger's stamps since the head
          // link — the cut went BACKWARD, or the head's stamps are gone
          // from the ledger: the lineage cannot continue; roll the epoch
          // with a fresh FULL at the new numbering
          val dest = nextDir("full")
          export(spark, table, dest, cut = Some(cut), kind = Some(kind))
          head = Some(dest); action = "full"
        } else if (due) {
          try {
            val dest = nextDir("link")
            export(spark, table, dest, incrementalFrom = Some(hd),
              cut = Some(cut), auditParent = bp.deep, kind = Some(kind))
            head = Some(dest); action = "delta"
          } catch {
            case _: IllegalArgumentException =>
              // the parent audit refused (a compact rewrote backed-up
              // history under an unchanged max stamp) — the refused
              // export committed no manifest, so roll the epoch: a
              // fresh FULL, and the old lineage becomes step-4 garbage
              val dest = nextDir("full")
              export(spark, table, dest, cut = Some(cut), kind = Some(kind))
              head = Some(dest); action = "full"
          }
        }
    }
    // 3. bound restore cost: long lineages rebase to a synthetic full
    var rebasedThisTick = false
    head.foreach { hd =>
      val links = chainDirs(spark, hd)
      if (links.size > bp.rebaseAfterLinks) {
        val dest = nextDir("rebase")
        rebase(spark, hd, dest, bp.deep)
        head = Some(dest)
        rebasedThisTick = true
        action = if (action == "none") "rebase" else s"$action+rebase"
      }
    }
    // 4. retention: anything outside the kept chain is a superseded
    // lineage (or epoch-roll residue) — prune after the keep verifies.
    // When the kept head is the rebase THIS tick just wrote, its bytes
    // were already read back and digest-audited by rebase itself (the
    // squash refuses on any mismatch), and the lease excludes any
    // concurrent writer — a second deep digest scan of the same bytes
    // in the same tick proves nothing new, so the prune gate degrades
    // to the count audit there (one digest pass per tick, not two)
    head.foreach { hd =>
      val keep = chainDirs(spark, hd).map(qualified).toSet
      val garbage = liveDirs().filterNot(d => keep.contains(qualified(d)))
      if (garbage.nonEmpty) {
        prune(spark, hd, garbage, bp.deep && !rebasedThisTick)
        action = s"$action+prune"
      }
    }
    action
  }

  /** STANDBY FOLLOWER over an autopilot lineage — the consumer side of
    * [[backupTick]]: one follower tick discovers the lineage head under
    * `famRoot`, seeds the replica with [[restore]] when it does not
    * exist yet, and otherwise ships every lineage link PAST the
    * replica's committed cut through [[applyLink]] — so a warm standby
    * follows a scheduled-backup primary with no coordination beyond the
    * shared backup root. Every fence is the shipped verbs' own: the
    * stamp ledger orders links, landed counts verify per link, and the
    * replica's readers stay commit-consistent through [[serveAtCut]].
    *
    * REBASES ride through transparently when the follower is CURRENT:
    * the synthetic full records the same cumulative stamps and cut as
    * the head it squashed, so `pending` is empty and later links anchor
    * exactly as before. A follower that LAGS a rebase (or any epoch
    * roll — a compact renumbering the primary's stamps) cannot ship
    * per-link across it: the links it needed were pruned, or the stamp
    * spaces no longer align — applyLink's ledger fence refuses, and
    * this verb routes the refusal into reseed advice. `reseed = true`
    * drops the replica and restores the head instead (the WAL-shipping
    * contract: followers cross epoch rolls by re-seeding). Schedule
    * follower ticks at least as often as backup ticks to stay in the
    * per-link regime.
    *
    * Returns "seed" | "current" | "applied=<n links>" | "reseed".
    * 100 TB judgment: discovery is one listing + one manifest read per
    * lineage dir; shipping cost is [[applyLink]]'s — ∝ the links' rows,
    * never a re-restore, except across epoch rolls where a re-seed is
    * the correct (and refused-by-default) price.
    */
  def followLineage(spark: SparkSession, famRoot: String, table: String,
      path: String, kind: String, reseed: Boolean = false): String = {
    val head = latestBackup(spark, famRoot).getOrElse(
      throw new IllegalArgumentException(
        s"Snapshot.followLineage: no committed lineage under $famRoot"))
    val t = table.toLowerCase
    val names = Maintenance.familyKind(kind).suffixes
      .map(Maintenance.tableOf(t, _))
    def dropReplica(): Unit = names.filter(spark.catalog.tableExists)
      .foreach(n => spark.sql(s"DROP TABLE $n"))
    if (!names.exists(spark.catalog.tableExists)) {
      restore(spark, head, t, path)
      return "seed"
    }
    val replicaCut = committedCut(spark, t, kind)
    val chain = chainOf(spark, head)
    val pending = chain.filter { case (_, m) =>
      m.cut.getOrElse(-1L) > replicaCut
    }
    if (pending.isEmpty) {
      // CUT REGRESSION (round-12 advice): an epoch roll can renumber
      // the primary's stamps BELOW the replica's (a compact folds to 0,
      // new epochs stamp 1, 2, …) — `pending` is then empty while the
      // primary accrues data, and "current" would be a silent lie
      // forever. A head cut below the replica's is the roll's
      // signature; route it into the reseed path, not "current".
      val headCut = chain.last._2.cut.getOrElse(-1L)
      if (headCut >= replicaCut) return "current"
      if (!reseed)
        throw new IllegalArgumentException(
          s"Snapshot.followLineage: replica $t sits at cut $replicaCut " +
            s"but the lineage head under $famRoot is at cut $headCut — " +
            "the primary rolled its full-backup epoch (a compact " +
            "renumbered stamps below the replica's); per-link shipping " +
            "cannot continue. Pass reseed = true to drop the replica " +
            "and restore the head")
      dropReplica()
      restore(spark, head, t, path)
      return "reseed"
    }
    try {
      pending.foreach { case (d, _) => applyLink(spark, d, t, path, kind) }
      s"applied=${pending.size}"
    } catch {
      case e: IllegalArgumentException if !reseed =>
        throw new IllegalArgumentException(
          s"Snapshot.followLineage: replica $t cannot follow the " +
            s"lineage under $famRoot per-link — it lagged a rebase " +
            "(the links it needed were pruned) or the lineage rolled " +
            "its full-backup epoch (a compact renumbered stamps): " +
            s"${e.getMessage}. Pass reseed = true to drop the replica " +
            "and restore the head", e)
      case _: IllegalArgumentException =>
        dropReplica()
        restore(spark, head, t, path)
        "reseed"
    }
  }

  /** FLEET-CONSISTENT CUT EXPORT: one committed cut across SEVERAL
    * families derived from the same upstream stream — the backup a real
    * pipeline needs, because a 100 TB corpus never feeds one index: the
    * same document epochs fan out to a retrieval index, an LSH dedup
    * index, rollup aggregates… and restoring each family at its OWN
    * max committed stamp reassembles a fleet whose members disagree
    * about which upstream epochs happened (family A restored through
    * epoch 5, family B through epoch 4 — cross-family joins serve a
    * moment that never existed). This verb exports every member at ONE
    * cut: the MINIMUM of the members' committed cuts, so each member's
    * slice is a committed prefix it provably holds (slices of
    * append-only stamped logs at a fixed stamp are stable even under
    * live streams — a member racing ahead mid-export cannot move rows
    * below the cut).
    *
    * ALIGNED-STAMPING CONTRACT (the caller's side): fleet consistency
    * is only as meaningful as the members' stamp spaces — the house
    * streams stamp batch `epochId + 1` uniformly
    * ([[graft.streaming.RetrievalStream]], [[graft.streaming.IvmStream]]
    * …), so "stamp s" names the same upstream epoch in every member and
    * the min-cut IS an upstream moment. Members stamped on independent
    * clocks have no shared cut to take; don't fleet them.
    *
    * Layout: each member exports under `destRoot/<table>/` (the member
    * dirs are ordinary snapshots — every chain verb works on them
    * individually), and `_FLEET.json` records {cut, members} LAST — the
    * fleet-level marker-last move, so a crashed fleet export leaves
    * member manifests but no fleet manifest and [[restoreFleet]]
    * refuses it whole rather than restoring a partial fleet.
    * `incrementalFrom` chains fleets: each member anchors on the parent
    * fleet's member dir (same audit fences as any delta), and the
    * member set must match the parent's exactly — a family added or
    * dropped mid-chain is refused, not silently forked.
    *
    * Streams compose; COMPACTS do not — the same contract as
    * [[exportAtCut]], per member: a compact racing a member's export
    * folds post-cut batches into stamp 0 and the old cut stops naming
    * a real moment. Bracket each member with [[Maintenance.withLease]]
    * (the scheduler's sweep takes the same lease), or schedule fleet
    * exports on the sweep's quiet side.
    *
    * @return (fleet cut, rows written across all member directories)
    */
  def exportFleetAtCut(spark: SparkSession, families: Seq[(String, String)],
      destRoot: String, incrementalFrom: Option[String] = None,
      auditParent: Boolean = true): (Long, Long) = {
    require(families.nonEmpty, "Snapshot.exportFleetAtCut: empty fleet")
    val tables = families.map(_._1.toLowerCase)
    require(tables.distinct == tables,
      s"Snapshot.exportFleetAtCut: duplicate member tables in $tables")
    val parent = incrementalFrom.map { pd =>
      val parentMembers = readJson(spark, pd, FleetManifestName,
        classOf[FleetManifest], "fleet ").members.map(_.table).sorted
      require(parentMembers == tables.sorted,
        s"Snapshot.exportFleetAtCut: member set ${tables.sorted} does " +
          s"not match the parent fleet's $parentMembers under $pd — " +
          "fleets chain with a fixed membership; start a new fleet")
      pd
    }
    // the members' marker collects, and then their exports, are
    // independent until the trailing fleet manifest — overlap their
    // fixed per-action latencies (guide §2.6); each member dir is an
    // ordinary snapshot with its own manifest-last commit, unchanged
    val cut = graft.core.Par.run(families) {
      case (t, k) => committedCut(spark, t, k)
    }.min
    dropManifest(spark, destRoot, FleetManifestName)
    val rows = graft.core.Par.run(families) { case (t, k) =>
      val tl = t.toLowerCase
      export(spark, tl, s"$destRoot/$tl",
        incrementalFrom = parent.map(pd => s"$pd/$tl"),
        cut = Some(cut), auditParent = auditParent, kind = Some(k))
    }.sum
    writeJson(spark, destRoot, FleetManifestName, // fleet manifest LAST
      FleetManifest(cut, parent, families.map { case (t, k) =>
        FleetMember(t.toLowerCase, k)
      }))
    (cut, rows)
  }

  /** Restore EVERY member of a fleet snapshot — each through its own
    * member chain ([[restore]] semantics per member: full base + delta
    * appends, counts verified per link), named by `rename(table)` and
    * pathed under `newPathRoot/<new name>/`. All-or-refuse up front:
    * the occupied-target check runs across ALL members before any
    * restores, so a half-named fleet never half-lands. Returns
    * (cut, member table → restored name). The restored members hold the
    * SAME upstream cut by construction — resume the shared stream from
    * `cut + 1` (the markerless rollup: from the cut epoch, replays
    * collapse) and every member re-delivers in lockstep (q235 drives
    * the composition end to end).
    */
  def restoreFleet(spark: SparkSession, destRoot: String,
      rename: String => String, newPathRoot: String): (Long, Map[String, String]) = {
    val m = readJson(spark, destRoot, FleetManifestName,
      classOf[FleetManifest], "fleet ")
    val members = m.members.map(_.table)
    members.foreach { t =>
      val nt = rename(t)
      require(nt.nonEmpty && nt.toLowerCase != t,
        s"Snapshot.restoreFleet: rename($t) = '$nt' — restores never " +
          "overwrite the source family; pick a new name")
    }
    // the occupied-target check runs across ALL members BEFORE any
    // restores (round-12 advice: the per-member check inside restore
    // fires only at that member's start, so member N's occupied target
    // used to refuse after members 1..N-1 had already landed — exactly
    // the half-landed fleet the doc rules out). Manifest reads only.
    members.foreach { t =>
      val nt = rename(t)
      chainOf(spark, s"$destRoot/$t").foreach { case (_, lm) =>
        lm.tables.foreach { e =>
          val newName = Maintenance.tableOf(nt, e.suffix)
          require(!spark.catalog.tableExists(newName),
            s"Snapshot.restoreFleet: target table $newName already " +
              s"exists (member $t) — refusing the WHOLE fleet before " +
              "any member restores; drop it first if you mean to")
        }
      }
    }
    // member restores land under distinct names/paths — independent
    // until the returned map; overlap them (guide §2.6)
    graft.core.Par.run(members) { t =>
      restore(spark, s"$destRoot/$t", rename(t), s"$newPathRoot/${rename(t)}")
    }
    (m.cut, members.map(t => t -> rename(t)).toMap)
  }
}

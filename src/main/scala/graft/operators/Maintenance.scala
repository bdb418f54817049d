package graft.operators

import org.apache.spark.sql.SparkSession

/** The maintenance loop — turns the per-family lifecycle verbs from
  * operator-invoked calls into the policy-driven loop a production
  * deploy actually runs: read the family's DESCRIBE self-report
  * (bounded, cost ∝ log — never a corpus rescan), decide against a
  * [[CompactPolicy]], compact only when due.
  *
  * The decision inputs are exactly the two debt axes the DESCRIBE verbs
  * expose: how many batches of un-compacted log a serve must fold
  * (`batches_since_compact` — read amplification), and how much of the
  * log is DEAD weight a compact would purge (`dead_keys` on the rollup;
  * `view_log_entries − live_view_rows` on the join view). Compaction
  * correctness is the families' own theorem (q175/q195 prove compact ==
  * recompute); what the policy layer adds — and q213 hash-checks — is
  * that a POLICY-triggered compact is the same operation, not a
  * different code path.
  *
  * OPERATIONAL CONTRACT with streams: every compact requires
  * quiescence (the families' own documented rule — for a stream, a
  * clean stop with the last delivered epoch COMMITTED). For the FENCED
  * families (join view, pair/LSH/retrieval/positional/IVF indexes) a
  * DEFAULT compact also resets the stamp namespace to {0}, so a
  * checkpointed stream whose epoch counter kept its old value would
  * fail the writer fence on resume — which is why every fenced-family
  * `compact*IfDue` here passes `preserveNamespace = true`: the marker
  * rewrites to {0, maxCommitted} ([[graft.core.WriterFence
  * .compactKeepStamps]], the round-9 PLANS.md lift), the resumed
  * stream's next epoch-derived stamp is maxCommitted + 1 and passes
  * the fence, and a re-delivery of the last committed epoch no-ops on
  * the preserved stamp — the scheduler-driven loop composes with live
  * (paused-not-restarted) streams on all seven families (q217/q219
  * drive it end to end). Manual batch ladders that want ids restarting
  * at 1 keep the default reset by calling the family compacts
  * directly. The markerless rollup family has no fence and tolerates
  * resumed epoch counters as-is; `batches_since_compact` is a
  * distinct-stamp COUNT everywhere, so neither mode flaps the loop.
  */
object Maintenance {

  /** `maxBatches`: compact when more than this many delta BATCHES have
    * accumulated since the last compact (serve-side read amplification
    * bound). The families report this as a distinct-stamp COUNT, never
    * max(stamp) — stream feeds stamp monotonic epoch ids that skip
    * empty epochs and survive compacts, so a max would mis-trigger
    * forever on any stream-fed table (and then re-trigger after every
    * compact: permanent flapping). `maxDeadFraction`: compact when more
    * than this fraction of the log's entries are dead weight
    * (space/scan bound). Either trigger suffices — the standard OR of
    * a time-like and a size-like threshold.
    */
  final case class CompactPolicy(maxBatches: Long = 16L,
      maxDeadFraction: Double = 0.2) {
    require(maxBatches >= 0L && maxDeadFraction >= 0.0 && maxDeadFraction <= 1.0,
      s"degenerate policy: maxBatches=$maxBatches maxDeadFraction=$maxDeadFraction")
  }

  private def due(batches: Long, dead: Long, total: Long,
      policy: CompactPolicy): Boolean =
    batches > policy.maxBatches ||
      (total > 0L && dead.toDouble / total > policy.maxDeadFraction)

  /** The rollup's compact decision, from one [[IvmRollup.describe]]
    * read: dead weight = keys whose net count fell to ≤ 0.
    */
  def shouldCompactRollup(spark: SparkSession, table: String,
      policy: CompactPolicy): Boolean = {
    val r = IvmRollup.describe(spark, table).head()
    due(r.getAs[Long]("batches_since_compact"), r.getAs[Long]("dead_keys"),
      r.getAs[Long]("live_keys") + r.getAs[Long]("dead_keys"), policy)
  }

  /** Read → decide → maybe compact; returns whether the compact ran
    * (so a scheduler can log/meter the loop). The read is the bounded
    * DESCRIBE; a not-due call touches nothing.
    */
  def compactRollupIfDue(spark: SparkSession, table: String, path: String,
      policy: CompactPolicy, nBuckets: Int = 16): Boolean = {
    val go = shouldCompactRollup(spark, table, policy)
    if (go) IvmRollup.compact(spark, table, path, nBuckets)
    go
  }

  /** The join view's compact decision, across ALL THREE of the
    * family's logs (round-9 advice: the view log alone misses a
    * dim-only churn stream whose keys match no facts — its `_dim` log
    * grows batches and files without ever adding a view entry, so the
    * family would never come due while the very debt the limit-probe
    * broadcast gate works around keeps accumulating). Each log reports
    * its own two axes through the loud-fenced [[IvmJoin.logDebt]]
    * read (batches = distinct non-zero data stamps; dead = collapsed
    * entries beyond one per net-live row), and ANY log being due makes
    * the family due — compact rewrites all three together.
    */
  def shouldCompactJoin(spark: SparkSession, table: String,
      policy: CompactPolicy): Boolean =
    // the three logs' debt probes are independent read-only aggregates
    // — overlap their fixed per-action latency (guide §2.6); `exists`
    // over the ordered results keeps the decision identical
    graft.core.Par.run(Seq(table, s"${table}_fact", s"${table}_dim"))(
      t => IvmJoin.logDebt(spark, t))
      .exists { case (batches, dead, total) => due(batches, dead, total, policy) }

  def compactJoinIfDue(spark: SparkSession, table: String, path: String,
      keys: Seq[String], policy: CompactPolicy,
      nBuckets: Int = 16): Boolean = {
    val go = shouldCompactJoin(spark, table, policy)
    if (go) IvmJoin.compact(spark, table, path, keys, nBuckets,
      preserveNamespace = true) // the loop must not strand a checkpointed stream
    go
  }

  /** The exact pair index's compact decision. Deliberately NOT
    * [[Dedup.pairIndexStats]] (whose live_pairs re-serves the whole
    * pair graph — an audit read, too heavy for a policy probe): the
    * probe reads only the two debt axes — max committed stamp from the
    * `_batches` marker, and the tombstone fraction over the collapsed
    * member set. Cost: one bounded marker collect + one distinct over
    * members/deleted — ∝ index, never corpus.
    *
    * The same two-axis policy fits every index family (each compact
    * purges its tombstones); [[indexDebtDue]] is that shared shape,
    * and the remaining families' verbs below instantiate it over
    * their own data log and id column.
    */
  def shouldCompactPairs(spark: SparkSession, table: String,
      policy: CompactPolicy): Boolean =
    indexDebtDue(spark, s"${table}_members", "id", s"${table}_deleted", policy)

  /** The index-family debt probe, shared by the five stamped-log
    * index families (pairs / LSH / retrieval tf / positional / IVF):
    *
    *  - the batches axis first — a distinct DATA-BEARING stamp count
    *    over the family's data log, the [[IvmRollup.describe]]
    *    rationale twice over: epoch-derived stream stamps rule out
    *    max(), and the MARKER rules itself out because streams stamp
    *    empty epochs for fence contiguity — a quiet stream's markers
    *    are zero fold-able debt. (Delete batches append no data rows;
    *    their debt is the dead axis below.) When this axis alone
    *    decides, the probe never pays the tombstone scans.
    *  - the dead axis: distinct tombstoned ids over distinct indexed
    *    ids. A tombstone aimed at a never-indexed id (legal, it just
    *    never matches) can push the fraction past 1 — which still
    *    reads as "compact", the only sensible answer for a ledger
    *    dominated by dead weight.
    */
  private def indexDebtDue(spark: SparkSession, dataLog: String,
      idCol: String, deletedTable: String, policy: CompactPolicy): Boolean = {
    import org.apache.spark.sql.functions.{col, count_distinct, when}
    val batches = spark.table(dataLog)
      .agg(count_distinct(when(col("batch_id") =!= 0L, col("batch_id"))))
      .head().getLong(0)
    if (batches > policy.maxBatches) return true
    val dead =
      if (spark.catalog.tableExists(deletedTable))
        spark.table(deletedTable).select(idCol).distinct().count()
      else 0L
    if (dead == 0L) return false // no tombstones → nothing to purge
    val total = spark.table(dataLog)
      .select(idCol).distinct().count() // replay duplicates collapse
    due(batches, dead, total, policy)
  }

  def compactPairsIfDue(spark: SparkSession, table: String, path: String,
      policy: CompactPolicy, nBuckets: Int = 8): Boolean = {
    val go = shouldCompactPairs(spark, table, policy)
    if (go) Dedup.compactPairIndex(spark, table, path, nBuckets,
      preserveNamespace = true)
    go
  }

  /** The LSH near-dup index's decision: data log = `_sets` (one row
    * per indexed doc per batch — the cheaper of the family's two logs,
    * and every extend writes both, so its stamps ARE the family's).
    */
  def shouldCompactLsh(spark: SparkSession, table: String,
      policy: CompactPolicy): Boolean =
    indexDebtDue(spark, s"${table}_sets", "id", s"${table}_deleted", policy)

  def compactLshIfDue(spark: SparkSession, table: String, path: String,
      policy: CompactPolicy, nBuckets: Int = 16): Boolean = {
    val go = shouldCompactLsh(spark, table, policy)
    if (go) Dedup.compactNearDupIndex(spark, table, path, nBuckets,
      preserveNamespace = true)
    go
  }

  /** The tf-retrieval index's decision: data log = `_postings`. The
    * `_meta` ledger is deliberately NOT the batches source — streams
    * stamp EMPTY epochs there (fence contiguity), which are zero
    * fold-able debt.
    */
  def shouldCompactRetrieval(spark: SparkSession, table: String,
      policy: CompactPolicy): Boolean =
    indexDebtDue(spark, s"${table}_postings", "doc_id",
      s"${table}_deleted", policy)

  def compactRetrievalIfDue(spark: SparkSession, table: String, path: String,
      policy: CompactPolicy, nBuckets: Int = 16): Boolean = {
    val go = shouldCompactRetrieval(spark, table, policy)
    if (go) RetrievalIndex.compact(spark, table, path, nBuckets,
      preserveNamespace = true)
    go
  }

  /** The positional tier's decision: data log = `_positions`; the
    * `_deleted` frontier is SHARED with the tf tier when both live on
    * one table family (one deletion hits every tier), which the probe
    * reads as-is.
    */
  def shouldCompactPositions(spark: SparkSession, table: String,
      policy: CompactPolicy): Boolean =
    indexDebtDue(spark, s"${table}_positions", "doc_id",
      s"${table}_deleted", policy)

  def compactPositionsIfDue(spark: SparkSession, table: String,
      path: String, policy: CompactPolicy, nBuckets: Int = 16): Boolean = {
    val go = shouldCompactPositions(spark, table, policy)
    if (go) RetrievalIndex.compactPositions(spark, table, path, nBuckets,
      preserveNamespace = true)
    go
  }

  /** The IVF index's decision: data log = `_cells` (the inverted
    * file); the frozen `_centroids` carry no debt by construction.
    */
  def shouldCompactIvf(spark: SparkSession, table: String,
      policy: CompactPolicy): Boolean =
    indexDebtDue(spark, s"${table}_cells", "id", s"${table}_deleted", policy)

  def compactIvfIfDue(spark: SparkSession, table: String, path: String,
      policy: CompactPolicy, nBuckets: Int = 16): Boolean = {
    val go = shouldCompactIvf(spark, table, policy)
    if (go) IvfIndex.compact(spark, table, path, nBuckets,
      preserveNamespace = true)
    go
  }

  // ------------------------------------------------------------------
  // single-writer lease — the cross-SCHEDULER guard
  // ------------------------------------------------------------------

  /** The compact lease (round-10 verdict #3; hardened round 12). The
    * [[graft.core.WriterFence]] catches replayed/out-of-sequence
    * STAMPS, but nothing stopped two schedulers (two cron owners, or a
    * human racing the cron) from compacting one family CONCURRENTLY —
    * two compacts interleaving their multi-table rewrites under the
    * marker-last protocol can tear each other's write sets, exactly the
    * race the protocol's single-writer assumption excludes. The lease
    * makes the assumption enforceable: an advisory `_COMPACT_LEASE`
    * file under the family's warehouse path carrying
    * `{owner, generation, expiresAtMs}`.
    *
    * Contract: [[acquireLease]] succeeds iff the file is absent, held
    * by the SAME owner (re-entrant renew — a scheduler's next tick), or
    * EXPIRED (a crashed holder's lease is claimable after its TTL; the
    * TTL is therefore the holder's promise about its own worst-case
    * compact duration). Held-by-another fails LOUDLY — a skipped-tick
    * scheduler must see the contention, not silently double-compact.
    * [[releaseLease]] deletes only the caller's own lease. [[sweep]]
    * brackets each family's probe + compact with the lease, so the
    * deployment verb this tier targets (many schedulers, one fleet) is
    * safe by default; callers invoking the family compacts DIRECTLY
    * are the single-writer "manual ladder" case and stay unbracketed,
    * as every round's fixtures demonstrate.
    *
    * ATOMICITY (round-11 advice, high): every transition that can be
    * RACED goes through `fs.create(p, overwrite = false)` — the
    * atomic create-if-absent on HDFS-compatible filesystems — with
    * `FileAlreadyExistsException` read as "lost the race", never a
    * pre-check `exists()` followed by an overwrite (two schedulers
    * racing the absent/expired window would both win that). Claiming
    * an EXPIRED or corrupt lease is delete-then-create(false): the
    * delete erases the dead tenure, the create(false) decides the
    * claim race — exactly one claimant's create succeeds, the loser
    * re-reads and fails loudly against the winner. The winner re-reads
    * its own file after creating it and confirms ownership before
    * returning (paranoia against filesystems whose create(false) is
    * weaker than advertised).
    *
    * FENCING TOKEN (round-11 verdict #1): TTL expiry alone recreates
    * the double-writer tear for a holder that is merely SLOW — A's
    * lease expires mid-compact, B claims and compacts, A's late marker
    * commit lands over B's. Every tenure therefore carries a
    * `generation` (incremented on every claim of an existing lease;
    * fresh tenures start at 1), [[acquireLease]] RETURNS it, and the
    * lease brackets ([[withLease]], [[sweep]]) install a
    * [[graft.core.CommitGuard]] check for their body: every family
    * compact re-verifies `(owner, generation)` at its marker-commit
    * point ([[requireLeaseHeld]]) and a superseded tenure refuses
    * BEFORE the marker — the family keeps serving the new owner's (or
    * the pre-compact) state, never a torn mix. MaintenanceSpec stages
    * the full race: A stalls past its TTL, B claims and compacts, A's
    * late commit refuses loudly.
    *
    * CORRUPT LEASES (round-11 advice, low): a holder that crashed
    * mid-create leaves an empty/truncated file; treating it as held
    * would brick the family forever (no TTL to expire). An unreadable
    * lease is therefore CLAIMABLE — like WriterFence's empty-marker
    * recovery, the crash artifact is named for what it is. The crashed
    * creator never learned a generation (its acquire never returned),
    * so no in-flight tenure can collide with the claimant's.
    */
  // a SIBLING of the family directory, not a file inside it: the
  // single-table rollup's compact Overwrites its whole directory, which
  // would delete an in-directory lease mid-hold
  private def leasePath(path: String) =
    new org.apache.hadoop.fs.Path(s"${path.stripSuffix("/")}_COMPACT_LEASE")

  private def fsFor(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One read of the lease file: None = absent, Some(Left(why)) =
    * present but unreadable (crash artifact — claimable), Some(Right(
    * (owner, generation, expiresAtMs))) = a well-formed tenure.
    */
  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path):
      Option[Either[String, (String, Long, Long)]] =
    try {
      val in = fs.open(p)
      val node = try leaseMapper.readTree(in) finally in.close()
      val owner = Option(node).flatMap(n => Option(n.get("owner")))
        .map(_.asText())
      val gen = Option(node).flatMap(n => Option(n.get("generation")))
        .map(_.asLong())
      val exp = Option(node).flatMap(n => Option(n.get("expiresAtMs")))
        .map(_.asLong())
      (owner, gen, exp) match {
        case (Some(o), Some(g), Some(e)) => Some(Right((o, g, e)))
        case _ => Some(Left("truncated lease JSON (crash mid-create)"))
      }
    } catch {
      case _: java.io.FileNotFoundException => None
      case scala.util.control.NonFatal(e) =>
        Some(Left(s"unreadable lease: ${e.getMessage}"))
    }

  private val leaseMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Write one tenure file; the only place lease JSON is built, so any
    * owner string round-trips through [[readLease]].
    */
  private def writeLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, overwrite: Boolean, owner: String,
      generation: Long, expiresAtMs: Long): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(leaseMapper.writeValueAsBytes(leaseMapper.createObjectNode()
      .put("owner", owner).put("generation", generation)
      .put("expiresAtMs", expiresAtMs)))
    finally out.close()
  }

  /** Atomic create-if-absent of a tenure file; true iff THIS call
    * created it (false = lost the race to another creator).
    */
  private def tryCreate(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, owner: String, generation: Long,
      expiresAtMs: Long): Boolean =
    try {
      writeLease(fs, p, overwrite = false, owner, generation, expiresAtMs)
      true
    } catch {
      // both the hadoop and java.nio flavors surface depending on FS
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case e: java.io.IOException
          if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) =>
        false
    }

  /** Take (or renew) the family's compact lease; returns the tenure's
    * GENERATION — the fencing token [[requireLeaseHeld]] re-checks at
    * the compact's marker-commit point. Throws `IllegalStateException`
    * naming the current holder when another live owner holds it.
    */
  def acquireLease(spark: SparkSession, path: String, owner: String,
      ttlMs: Long = 15L * 60 * 1000): Long = {
    require(owner.nonEmpty && !owner.contains("\n"), s"bad owner '$owner'")
    val p = leasePath(path)
    val fs = fsFor(spark, p)
    // bounded retries: each lost create race re-reads the winner; two
    // iterations settle every legal interleaving, the third is margin
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      val now = System.currentTimeMillis()
      readLease(fs, p) match {
        case None =>
          // absent: the atomic create decides the race
          if (tryCreate(fs, p, owner, 1L, now + ttlMs)) {
            confirmOwnership(fs, p, owner, path); return 1L
          } // else: lost — loop re-reads the winner
        case Some(Left(why)) =>
          // crash artifact: claim via delete-then-create(false); the
          // dead creator holds no generation, so gen 1 collides with
          // no live tenure
          fs.delete(p, false)
          if (tryCreate(fs, p, owner, 1L, now + ttlMs)) {
            confirmOwnership(fs, p, owner, path); return 1L
          }
        case Some(Right((holder, gen, expires))) =>
          if (holder == owner && expires > now) {
            // re-entrant renew of our own LIVE tenure: nobody may
            // legally claim an unexpired lease, so the in-place
            // rewrite races nothing; the generation is unchanged —
            // same tenure, extended
            writeLease(fs, p, overwrite = true, owner, gen, now + ttlMs)
            return gen
          } else if (expires <= now) {
            // expired (ours included — an expired own lease is a LOST
            // tenure, re-acquired under a new generation so any
            // in-flight work from the old tenure fences at commit):
            // delete the dead tenure, create(false) decides the claim
            fs.delete(p, false)
            if (tryCreate(fs, p, owner, gen + 1L, now + ttlMs)) {
              confirmOwnership(fs, p, owner, path); return gen + 1L
            }
          } else
            throw new IllegalStateException(
              s"compact lease on $path is held by '$holder' until " +
                s"$expires (${expires - now} ms from now) — a second " +
                "scheduler must not compact this family concurrently; " +
                "wait for the lease or stop the other owner")
      }
    }
    // three lost races in a row = live contention on the claim window
    val holder = readLease(fs, p).collect { case Right((o, _, _)) => o }
      .getOrElse("<unknown>")
    throw new IllegalStateException(
      s"compact lease on $path : lost the acquire race to '$holder' — " +
        "another scheduler claimed it concurrently; wait for the lease")
  }

  /** Post-create ownership confirmation (round-11 advice): re-read the
    * file we just created and require it is ours — create(false) won
    * the race by contract, this catches a filesystem whose
    * create-if-absent is weaker than advertised.
    */
  private def confirmOwnership(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, owner: String, path: String): Unit =
    readLease(fs, p) match {
      case Some(Right((holder, _, _))) if holder == owner => ()
      case other => throw new IllegalStateException(
        s"compact lease on $path : created the lease but re-read " +
          s"found $other — the filesystem's create-if-absent is not " +
          "atomic here; do not run multiple schedulers on it")
    }

  /** The COMMIT-POINT fence (round-11 verdict #1): require that the
    * family's lease still belongs to the tenure that started the work —
    * same owner AND same generation. Called (via [[graft.core
    * .CommitGuard]]) by every family compact immediately before its
    * marker commit; a holder whose TTL expired and whose lease another
    * scheduler claimed refuses HERE, before tearing the new owner's
    * write set. A missing lease also refuses: the tenure ended (expiry
    * + claim + release, or a manual delete) and this holder can prove
    * nothing about who owns the family now.
    */
  def requireLeaseHeld(spark: SparkSession, path: String, owner: String,
      generation: Long): Unit = {
    val p = leasePath(path)
    readLease(fsFor(spark, p), p) match {
      case Some(Right((holder, gen, _))) if holder == owner && gen == generation =>
        () // still our tenure (expiry alone is fine — nobody claimed it)
      case Some(Right((holder, gen, _))) =>
        throw new IllegalStateException(
          s"compact lease on $path : tenure superseded — this work " +
            s"started under ('$owner', generation $generation) but the " +
            s"lease now reads ('$holder', generation $gen); the TTL " +
            "expired mid-work and another scheduler claimed the family. " +
            "Refusing the commit: a late marker write would tear the " +
            "new owner's write set")
      case other =>
        throw new IllegalStateException(
          s"compact lease on $path : tenure ended — this work started " +
            s"under ('$owner', generation $generation) but the lease " +
            s"file now reads $other; refusing the commit")
    }
  }

  /** Run `body` holding the family's compact lease — the bracket for
    * out-of-band verbs that must not overlap a scheduler's compact on
    * the same family: hot backups ([[graft.operators.Snapshot
    * .exportAtCut]] tolerates a live STREAM by construction, but a
    * concurrent COMPACT rewrites the very tables the export is
    * copying), manual repairs, audits that need a still ledger. The
    * sweep takes the same lease per family, so the two schedules
    * mutually exclude instead of tearing each other (spec-staged both
    * ways in MaintenanceSpec).
    *
    * The bracket installs the tenure's [[graft.core.CommitGuard]], so
    * any family COMPACT run inside it fences at its marker-commit
    * point: if the TTL expires mid-body and another scheduler claims
    * the family, the late commit refuses instead of tearing. The exit
    * release is tenure-aware for the same reason — a stolen lease
    * belongs to its new owner and must not be deleted out from under
    * them (the body's own commit-point refusal is the loud signal).
    */
  def withLease[A](spark: SparkSession, path: String, owner: String,
      ttlMs: Long = 15L * 60 * 1000)(body: => A): A = {
    val generation = acquireLease(spark, path, owner, ttlMs)
    try graft.core.CommitGuard.withGuard(
      () => requireLeaseHeld(spark, path, owner, generation))(body)
    finally releaseTenure(spark, path, owner, generation)
  }

  /** Release the caller's own lease; releasing another owner's (or a
    * missing one) is a bug worth hearing about, not a silent no-op.
    */
  def releaseLease(spark: SparkSession, path: String, owner: String): Unit = {
    val p = leasePath(path)
    val fs = fsFor(spark, p)
    readLease(fs, p) match {
      case Some(Right((holder, _, _))) if holder == owner =>
        fs.delete(p, false); ()
      case Some(Right((holder, _, _))) => throw new IllegalArgumentException(
        s"releaseLease: lease under $path is held by '$holder', not '$owner'")
      case Some(Left(why)) => throw new IllegalArgumentException(
        s"releaseLease: lease under $path is unreadable ($why) — a " +
          "crashed creator's artifact, not this owner's tenure; the " +
          "next acquireLease claims it")
      case None => throw new IllegalArgumentException(
        s"releaseLease: no lease under $path")
    }
  }

  /** Bracket-exit release: deletes the lease only while it is still
    * THIS tenure's. A lease that expired and was claimed (or already
    * released and re-acquired) belongs to its new owner — deleting it
    * here would hand the family to a third scheduler mid-hold, so the
    * stolen case quietly leaves it alone (the commit-point fence
    * already made the loss loud wherever it mattered).
    */
  private def releaseTenure(spark: SparkSession, path: String,
      owner: String, generation: Long): Unit = {
    val p = leasePath(path)
    val fs = fsFor(spark, p)
    readLease(fs, p) match {
      case Some(Right((holder, gen, _))) if holder == owner && gen == generation =>
        fs.delete(p, false); ()
      case _ => () // tenure ended: the lease is someone else's (or gone)
    }
  }

  /** One family in a [[sweep]] fleet: its catalog name, kind (the
    * [[fsck]] vocabulary), warehouse path, join keys (join views
    * only), bucket count (pair graphs default 8 at their call sites;
    * everything else 16), and an optional per-family [[CompactPolicy]]
    * OVERRIDE (round-10 verdict #4: a hot rollup and a cold LSH index
    * do not share a debt tolerance — absent, the sweep's fleet-wide
    * policy applies).
    */
  final case class Family(table: String, kind: String, path: String,
      joinKeys: Seq[String] = Nil, nBuckets: Int = 16,
      policy: Option[CompactPolicy] = None,
      backup: Option[Snapshot.BackupPolicy] = None)

  /** The default sweep identity: unique PER SCHEDULER PROCESS
    * (round-11 advice, medium — a shared literal default like "sweep"
    * would make two independent schedulers one owner, and the
    * re-entrant renew would let both acquire the same family's lease
    * silently, defeating the loud-contention contract). pid@host plus
    * a per-JVM random suffix: two processes never collide, while every
    * sweep within one process stays one identity (its own ticks renew,
    * as a single scheduler's should).
    */
  private lazy val processOwner: String = {
    val pidAtHost = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName // "pid@host"
    s"sweep:$pidAtHost:${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** One scheduler tick over a fleet — the call a cron/Airflow task
    * actually makes: probe every family's policy (its own override, or
    * the fleet-wide default; each probe is the bounded DESCRIBE-class
    * read), compact the due ones (namespace-preserving on the fenced
    * kinds, so live streams survive the tick), and return one report
    * row per family for the scheduler's log. Families probe
    * INDEPENDENTLY — one noisy family cannot starve the rest — and the
    * tick is idempotent: a second sweep right after settles to zero
    * compactions (q228 pins both sweeps; q230 pins heterogeneous
    * per-family policies splitting one tick's due pattern). Each
    * family's probe + compact runs under its compact LEASE
    * ([[acquireLease]], taken as `owner` — defaulting to the
    * process-unique [[processOwner]] identity — with `leaseTtlMs`),
    * with the tenure's [[graft.core.CommitGuard]] installed so a
    * compact that outlives its TTL fences at its marker commit; two
    * schedulers sweeping overlapping fleets fail loudly at the first
    * contended family instead of double-compacting it.
    *
    * Families carrying a [[graft.operators.Snapshot.BackupPolicy]] also
    * run their backup autopilot tick ([[graft.operators.Snapshot
    * .backupTick]]) in the same lease tenure, AFTER the compact — so
    * the tick that rewrites history is the tick whose backup rolls the
    * full-backup epoch, and exports never interleave with compacts.
    * The report's `backup` column records the action per family
    * ("full" | "delta" | "none" ± "+rebase"/"+prune"; "" = no policy).
    */
  def sweep(spark: SparkSession, families: Seq[Family],
      policy: CompactPolicy, owner: String = null,
      leaseTtlMs: Long = 15L * 60 * 1000): org.apache.spark.sql.DataFrame = {
    require(families.nonEmpty, "sweep: empty fleet")
    val me = Option(owner).getOrElse(processOwner)
    // families probe/compact/backup INDEPENDENTLY (each under its own
    // lease, with its own CommitGuard installed for its own thread's
    // extent) — overlap them so one family's compact tail back-fills
    // with the next family's probe (guide §2.6); report order is the
    // fleet's, as before
    val report = graft.core.Par.run(families) { f =>
      val generation = acquireLease(spark, f.path, me, leaseTtlMs)
      val (ran, backup) = try graft.core.CommitGuard.withGuard(
        () => requireLeaseHeld(spark, f.path, me, generation)) {
        val compacted = familyKind(f.kind)
          .compactIfDue(spark, f, f.policy.getOrElse(policy))
        // backup AFTER the compact, same lease tenure: the tick that
        // rewrites history is the tick whose backup rolls the epoch
        // (Snapshot.backupTick's delta→full fallback), and the lease
        // means no out-of-band export can interleave with either
        val b = f.backup.map(bp =>
          Snapshot.backupTick(spark, f.table, f.kind, bp)).getOrElse("")
        (compacted, b)
      } finally releaseTenure(spark, f.path, me, generation)
      (f.table, f.kind, ran, backup)
    }
    import spark.implicits._
    report.toDF("table", "kind", "compacted", "backup")
  }

  // ------------------------------------------------------------------
  // the family-kind registry
  // ------------------------------------------------------------------

  /** One maintained family kind, as table SUFFIXES of the family's
    * name ([[tableOf]]: "base" is the family's base table itself): its
    * commit marker (None for the markerless rollup), the stamped logs
    * [[fsck]] audits, the unstamped side tables that carry no ledger to
    * audit (the pair graph's frozen `_dict`, the IVF's frozen
    * `_centroids`), and the kind's policy-driven compact. Every
    * family's `_deleted` frontier is an APPEND-mode stamped ledger
    * (which is what lets delete verbs compose with
    * [[graft.operators.Snapshot.exportAtCut]]'s commit-boundary slice).
    * The snapshot tier's closed vocabulary is derived, never restated:
    * [[suffixes]] = marker ∪ logs ∪ side tables — what the family
    * operators actually WRITE, so anything else sharing the name prefix
    * is not family state.
    */
  private[operators] final case class FamilyKind(marker: Option[String],
      logs: Seq[String], side: Seq[String],
      compactIfDue: (SparkSession, Family, CompactPolicy) => Boolean) {
    def suffixes: Set[String] = (marker.toSeq ++ logs ++ side).toSet
  }

  private val kinds: Seq[(String, FamilyKind)] = Seq(
    "pairs" -> FamilyKind(Some("batches"),
      Seq("base", "members", "sets", "postings", "deleted"), Seq("dict"),
      (s, f, p) => compactPairsIfDue(s, f.table, f.path, p, f.nBuckets)),
    "lsh" -> FamilyKind(Some("batches"), Seq("postings", "sets", "deleted"),
      Nil, (s, f, p) => compactLshIfDue(s, f.table, f.path, p, f.nBuckets)),
    "retrieval" -> FamilyKind(Some("meta"), Seq("postings", "deleted"), Nil,
      (s, f, p) => compactRetrievalIfDue(s, f.table, f.path, p, f.nBuckets)),
    "positions" -> FamilyKind(Some("pbatches"), Seq("positions", "deleted"),
      Nil, (s, f, p) => compactPositionsIfDue(s, f.table, f.path, p, f.nBuckets)),
    "ivf" -> FamilyKind(Some("batches"), Seq("cells", "deleted"),
      Seq("centroids"),
      (s, f, p) => compactIvfIfDue(s, f.table, f.path, p, f.nBuckets)),
    "join" -> FamilyKind(Some("batches"), Seq("base", "fact", "dim"), Nil,
      (s, f, p) => {
        require(f.joinKeys.nonEmpty, s"sweep: join family ${f.table} needs joinKeys")
        compactJoinIfDue(s, f.table, f.path, f.joinKeys, p, f.nBuckets)
      }),
    "rollup" -> FamilyKind(None, Seq("base"), Nil,
      (s, f, p) => compactRollupIfDue(s, f.table, f.path, p, f.nBuckets)))

  private[operators] def familyKind(kind: String): FamilyKind =
    kinds.collectFirst { case (`kind`, k) => k }.getOrElse(
      throw new IllegalArgumentException(s"unknown family kind '$kind' " +
        kinds.map(_._1).mkString("(", "|", ")")))

  /** The family naming rule: suffix "base" is the family's own table,
    * every other suffix `s` names the sibling `<family>_s`.
    */
  private[operators] def tableOf(family: String, suffix: String): String =
    if (suffix == "base") family else s"${family}_$suffix"

  private[operators] def suffixOf(family: String, table: String): String =
    if (table == family) "base" else table.stripPrefix(family + "_")

  // ------------------------------------------------------------------
  // fsck — the structural ledger audit
  // ------------------------------------------------------------------

  /** FSCK — audit the STRUCTURAL invariants every family's crash/replay
    * protocol rests on, without serving anything. The serve paths
    * already fail loudly on DIVERGENT replays and DESCRIBE reports the
    * debt numbers; what nothing checked until now is the ledger shape
    * itself — the thing a botched manual repair, a restored backup, or
    * a second writer that somehow bypassed the fence would corrupt:
    *
    *  1. `marker_present` / `marker_base`: the commit marker exists,
    *     is non-empty, and contains the build's stamp 0.
    *  2. `marker_shape`: the non-zero committed stamps form ONE
    *     contiguous run ending at max — the only two shapes the
    *     protocol can write are {0..max} (build + fenced extends) and
    *     {0, m..max} (a namespace-preserving compact at m, then
    *     extends), and both satisfy this; a HOLE (a stamp missing
    *     mid-run) can only mean ledger corruption, because the fence
    *     admits exactly max+1 and compact rewrites the whole marker.
    *  3. `log_stamps:<table>`: every stamped log's distinct batch ids
    *     are ⊆ committed ∪ {max+1} — at most ONE uncommitted stamp may
    *     exist and it must be exactly max+1 (the crash window between a
    *     batch's data appends and its marker commit). Two uncommitted
    *     stamps, or an uncommitted stamp below max, cannot be produced
    *     by the protocol.
    *
    * Cost: bounded — the marker collect is one row per batch, and each
    * log check is a column-pruned distinct over its `batch_id` column
    * (map-side partial agg; ∝ log, never corpus). Logs without a
    * `batch_id` column (overwrite-style deletion frontiers, the IVF's
    * frozen centroids) and absent optional tables report informational
    * ok rows, so a clean family always reads 100% ok.
    *
    * Returns one row per check: (check, target, ok, detail). Callers
    * gate on `ok`; q221 requires a clean report across four families
    * and MaintenanceSpec proves each invariant trips on a staged
    * corruption.
    */
  def fsck(spark: SparkSession, table: String, kind: String):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val k = familyKind(kind)
    val markerOpt = k.marker.map(tableOf(table, _))
    val logs = k.logs.map(tableOf(table, _))
    val rows = scala.collection.mutable.ArrayBuffer.empty[
      (String, String, Boolean, String)]
    // committed stamps (rollup: derived from the log itself, no marker)
    val committed: Set[Long] = markerOpt match {
      case Some(marker) =>
        if (!spark.catalog.tableExists(marker)) {
          rows += (("marker_present", marker, false, "marker table absent"))
          Set.empty
        } else {
          val stamps = spark.table(marker).select("batch_id").distinct()
            .collect().map(_.getLong(0)).toSet
          rows += (("marker_present", marker, stamps.nonEmpty,
            s"${stamps.size} committed stamps"))
          if (stamps.nonEmpty) {
            rows += (("marker_base", marker, stamps.contains(0L),
              "build stamp 0 " +
                (if (stamps.contains(0L)) "present" else "MISSING")))
            val nz = stamps.filter(_ != 0L).toSeq.sorted
            val contiguous = nz.isEmpty ||
              nz == (nz.head to nz.max)
            rows += (("marker_shape", marker, contiguous,
              if (contiguous) s"non-zero run ${nz.headOption.getOrElse(0L)}..${nz.lastOption.getOrElse(0L)}"
              else s"HOLE in committed run: ${nz.take(12).mkString(",")}"))
          }
          stamps
        }
      case None => Set.empty
    }
    val maxCommitted = if (committed.nonEmpty) committed.max else -1L
    // per-log stamp audits are independent bounded collects — overlap
    // their fixed per-action latency (guide §2.6); Par.run preserves
    // input order, so the report rows are identical to the sequential
    rows ++= graft.core.Par.run(logs) { t =>
      if (!spark.catalog.tableExists(t))
        // only the deletion frontier is born lazily (first delete);
        // a missing CORE log is structural damage, not an option
        (s"log_stamps:$t", t, t.endsWith("_deleted"),
          if (t.endsWith("_deleted")) "absent (no deletes yet)"
          else "CORE LOG ABSENT")
      else if (!spark.table(t).columns.contains("batch_id"))
        (s"log_stamps:$t", t, true, "unstamped (no batch_id)")
      else {
        val stamps = spark.table(t).select(col("batch_id")).distinct()
          .collect().map(_.getLong(0)).toSet
        if (markerOpt.isEmpty)
          // markerless rollup: stamps carry no cross-table contract;
          // audit only that the log is non-degenerate
          (s"log_stamps:$t", t, stamps.forall(_ >= 0L),
            s"${stamps.size} distinct stamps")
        else {
          val unknown = stamps -- committed
          val ok = unknown.isEmpty || unknown == Set(maxCommitted + 1L)
          (s"log_stamps:$t", t, ok,
            if (unknown.isEmpty) s"${stamps.size} stamps, all committed"
            else if (ok) s"one in-flight stamp ${maxCommitted + 1L} (crash window)"
            else s"ORPHAN stamps beyond the crash window: ${unknown.toSeq.sorted.take(12).mkString(",")}")
        }
      }
    }
    import spark.implicits._
    rows.toSeq.toDF("check", "target", "ok", "detail")
  }
}

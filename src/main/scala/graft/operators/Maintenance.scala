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
  * fail the writer fence on resume — which is why [[compactIfDue]] runs
  * every fenced kind's compact with `preserveNamespace = true`: the marker
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

  /** Whether `family` is due under `policy`, from its kind's bounded
    * debt read (never a corpus rescan), the registry's `due`:
    *
    *  - the five index kinds (pairs, lsh, retrieval, positions, ivf)
    *    share [[indexDebtDue]] over the registry's data log and the
    *    kind's [[Frontier]] id column;
    *  - the rollup reads its [[IvmRollup.describe]] row ([[rollupDue]]);
    *  - the join view reads all three of its logs ([[joinDue]]).
    */
  def shouldCompact(spark: SparkSession, family: Family,
      policy: CompactPolicy): Boolean =
    familyKind(family.kind).due(spark, family, policy)

  /** The rollup's debt: dead weight = keys whose net count fell to ≤ 0. */
  private def rollupDue(spark: SparkSession, family: Family,
      policy: CompactPolicy): Boolean = {
    val r = IvmRollup.describe(spark, family.table).head()
    due(r.getAs[Long]("batches_since_compact"), r.getAs[Long]("dead_keys"),
      r.getAs[Long]("live_keys") + r.getAs[Long]("dead_keys"), policy)
  }

  /** The join view's debt, over ALL THREE of its logs (round-9 advice:
    * the view log alone misses a dim-only churn stream whose keys match
    * no facts — its `_dim` log grows batches and files without ever
    * adding a view entry, so the family would never come due while the
    * debt the limit-probe broadcast gate works around keeps
    * accumulating). Each log reports its own two axes through the
    * loud-fenced [[IvmJoin.logDebt]] read (batches = distinct non-zero
    * data stamps; dead = collapsed entries beyond one per net-live
    * row), and ANY log being due makes the family due — compact
    * rewrites all three together.
    */
  private def joinDue(spark: SparkSession, family: Family,
      policy: CompactPolicy): Boolean =
    // the three logs' debt probes are independent read-only aggregates
    // — overlap their fixed per-action latency (guide §2.6); `exists`
    // over the ordered results keeps the decision identical
    graft.core.Par.run(Seq("base", "fact", "dim").map(tableOf(family.table, _)))(
      t => IvmJoin.logDebt(spark, t))
      .exists { case (batches, dead, total) => due(batches, dead, total, policy) }

  /** Read → decide → maybe compact; returns whether the compact ran
    * (so a scheduler can log/meter the loop). The read is
    * [[shouldCompact]]'s; a not-due call touches nothing. The compact
    * is the kind's registry compact, namespace-preserving on the fenced
    * kinds (see the operational contract above).
    */
  def compactIfDue(spark: SparkSession, family: Family,
      policy: CompactPolicy): Boolean = {
    val go = shouldCompact(spark, family, policy)
    if (go) familyKind(family.kind).compact(spark, family)
    go
  }

  /** The index-kind debt probe, over the kind's data log (the registry
    * [[Frontier.Spec]]'s `dataLog`: the pair index's `_members`, the
    * LSH `_sets`, retrieval's `_postings`, `_positions`, the IVF
    * `_cells`) and its frontier. Deliberately NOT a describe verb (the
    * pair index's live_pairs re-serves the whole pair graph — an audit
    * read, too heavy for a policy probe):
    *
    *  - the batches axis first — a distinct DATA-BEARING stamp count
    *    over the data log, the [[IvmRollup.describe]] rationale twice
    *    over: epoch-derived stream stamps rule out max(), and the
    *    MARKER rules itself out because streams stamp empty epochs for
    *    fence contiguity — a quiet stream's markers are zero fold-able
    *    debt. (Delete batches append no data rows; their debt is the
    *    dead axis below.) The same scan-only job ([[Integrity.digests]])
    *    counts the frontier's rows, so a due probe, and a probe whose
    *    frontier is empty or absent (no delete since the last compact),
    *    decide on that one job.
    *  - the dead axis, only for a not-due probe with tombstones: distinct
    *    tombstoned ids over distinct indexed ids, both counted by one
    *    distinct over the union of the two id columns (the frontier's
    *    ids cast to the log's id type) and one collect. A tombstone aimed at a
    *    never-indexed id (legal, it just never matches) can push the
    *    fraction past 1 — which still reads as "compact", the only
    *    sensible answer for a ledger dominated by dead weight.
    */
  private def indexDebtDue(spark: SparkSession, family: Family,
      policy: CompactPolicy): Boolean = {
    import org.apache.spark.sql.functions.{col, lit}
    val (table, kind) = (family.table, family.kind)
    val f = Frontier.spec(kind)
    val log = spark.table(tableOf(table, f.dataLog))
    val frontier = Frontier.read(spark, table, kind)
    val got = Integrity.digests(Integrity.Leg(log, hashed = false, stamped = true) +:
      frontier.map(Integrity.Leg(_, hashed = false)).toSeq)
    val batches = got.head.stamps.count(_ != 0L).toLong
    if (batches > policy.maxBatches) return true
    if (got.drop(1).forall(_.n == 0L)) return false // no tombstones → nothing to purge
    // distinct ids per side, replay duplicates collapsed: leg 0 holds
    // the ids Frontier.dead reads (every stamped tombstone), leg 1 the
    // log's. Each distinct (leg, id) lands in one shuffle partition, so
    // per-partition row counts add up to the two distinct counts: one
    // shuffle and one collect, no second aggregate
    val idType = log.schema(f.idCol).dataType
    val perPartition = frontier.get.filter(col("batch_id").isNotNull)
      .select(lit(0).as("leg"), col(f.idCol).cast(idType).as("id"))
      .union(log.select(lit(1), col(f.idCol)))
      .distinct().queryExecution.toRdd.mapPartitions { it =>
        val n = new Array[Long](2)
        it.foreach(r => n(r.getInt(0)) += 1)
        Iterator(n)
      }.collect()
    due(batches, perPartition.map(_(0)).sum, perPartition.map(_(1)).sum, policy)
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
        val compacted = compactIfDue(spark, f, f.policy.getOrElse(policy))
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
    * `_centroids`), the kind's policy compact ([[compactIfDue]]) and
    * its debt read ([[shouldCompact]]; [[indexDebtDue]] by default).
    * The five index kinds keep a tombstone [[Frontier]] (its suffix, id
    * column and data log), itself a stamped log; a kind's frontier is
    * its own, never shared with another kind on the same table.
    * The snapshot tier's closed vocabulary is derived, never restated:
    * [[suffixes]] = marker ∪ logs ∪ side tables — what the family
    * operators actually WRITE, so anything else sharing the name prefix
    * is not family state. `fenced` and `payload` are read by the commit
    * ledger ([[Ledger]]): whether a fresh stamp must be max(committed) + 1
    * (every marker-ful kind but `pairs`, whose fence is its dict density
    * check), and the column a marker row carries in front of its stamp.
    */
  private[operators] final case class FamilyKind(marker: Option[String],
      dataLogs: Seq[String], side: Seq[String],
      compact: (SparkSession, Family) => Unit,
      frontier: Option[Frontier.Spec] = None,
      fenced: Boolean = true, payload: Option[String] = None,
      due: (SparkSession, Family, CompactPolicy) => Boolean = indexDebtDue) {
    /** Every stamped log, the frontier last. */
    def logs: Seq[String] = dataLogs ++ frontier.map(_.suffix)
    def suffixes: Set[String] = (marker.toSeq ++ logs ++ side).toSet
  }

  private val kinds: Seq[(String, FamilyKind)] = Seq(
    "pairs" -> FamilyKind(Some("batches"), Seq("base", "members", "sets", "postings"),
      Seq("dict"),
      (s, f) => Dedup.compactPairIndex(s, f.table, f.path, f.nBuckets,
        preserveNamespace = true),
      Some(Frontier.Spec("deleted", "id", "members")), fenced = false),
    "lsh" -> FamilyKind(Some("batches"), Seq("postings", "sets"), Nil,
      (s, f) => Dedup.compactNearDupIndex(s, f.table, f.path, f.nBuckets,
        preserveNamespace = true),
      // `_sets`: one row per indexed doc per batch — the cheaper of the
      // two logs, and every extend writes both
      Some(Frontier.Spec("deleted", "id", "sets"))),
    "retrieval" -> FamilyKind(Some("meta"), Seq("postings"), Nil,
      (s, f) => RetrievalIndex.compact(s, f.table, f.path, f.nBuckets,
        preserveNamespace = true),
      Some(Frontier.Spec("deleted", "doc_id", "postings")), payload = Some("n_docs")),
    "positions" -> FamilyKind(Some("pbatches"), Seq("positions"), Nil,
      (s, f) => RetrievalIndex.compactPositions(s, f.table, f.path, f.nBuckets,
        preserveNamespace = true),
      Some(Frontier.Spec("pdeleted", "doc_id", "positions"))),
    "ivf" -> FamilyKind(Some("batches"), Seq("cells"), Seq("centroids"),
      (s, f) => IvfIndex.compact(s, f.table, f.path, f.nBuckets,
        preserveNamespace = true),
      Some(Frontier.Spec("deleted", "id", "cells"))),
    "join" -> FamilyKind(Some("batches"), Seq("base", "fact", "dim"), Nil,
      (s, f) => {
        require(f.joinKeys.nonEmpty, s"sweep: join family ${f.table} needs joinKeys")
        IvmJoin.compact(s, f.table, f.path, f.joinKeys, f.nBuckets,
          preserveNamespace = true) // the loop must not strand a checkpointed stream
      }, due = joinDue),
    "rollup" -> FamilyKind(None, Seq("base"), Nil,
      (s, f) => IvmRollup.compact(s, f.table, f.path, f.nBuckets),
      fenced = false, due = rollupDue))

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
    *  2. `marker_shape`: on a FENCED kind ([[Ledger]]) the non-zero
    *     committed stamps form ONE contiguous run ending at max — the
    *     only two shapes the protocol can write are {0..max} (build +
    *     fenced extends) and {0, m..max} (a namespace-preserving compact
    *     at m, then extends); a HOLE can only mean ledger corruption,
    *     because the fence admits exactly max+1 and compact rewrites the
    *     whole marker. The unfenced `pairs` kind admits any fresh stamp
    *     (its stream stamps an epoch's adds 2·(e+1) and its deletes
    *     2·(e+1)+1, and skips empty epochs), so gaps are legal there.
    *  3. `log_stamps:<table>`: every stamped log's distinct batch ids
    *     are committed but for at most ONE in-flight stamp (the crash
    *     window between a batch's data appends and its marker commit):
    *     exactly max+1 on a fenced kind, any stamp above max on an
    *     unfenced one. Two uncommitted stamps, or an uncommitted stamp
    *     below max, cannot be produced by the protocol.
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
    val k = familyKind(kind)
    val markerOpt = k.marker.map(tableOf(table, _))
    val logs = k.logs.map(tableOf(table, _))
    val frontier = k.frontier.map(f => tableOf(table, f.suffix))
    val rows = scala.collection.mutable.ArrayBuffer.empty[
      (String, String, Boolean, String)]
    // committed stamps (rollup: derived from the log itself, no marker)
    val committed: Set[Long] = markerOpt match {
      case Some(marker) =>
        if (!Ledger.exists(spark, table, kind)) {
          rows += (("marker_present", marker, false, "marker table absent"))
          Set.empty
        } else {
          val stamps = Ledger.committed(spark, table, kind)
          rows += (("marker_present", marker, stamps.nonEmpty,
            s"${stamps.size} committed stamps"))
          if (stamps.nonEmpty) {
            rows += (("marker_base", marker, stamps.contains(0L),
              "build stamp 0 " +
                (if (stamps.contains(0L)) "present" else "MISSING")))
            val nz = stamps.filter(_ != 0L).toSeq.sorted
            val contiguous = !k.fenced || nz.isEmpty || nz == (nz.head to nz.max)
            rows += (("marker_shape", marker, contiguous,
              if (contiguous) s"non-zero stamps ${nz.headOption.getOrElse(0L)}..${nz.lastOption.getOrElse(0L)}"
              else s"HOLE in committed run: ${nz.take(12).mkString(",")}"))
          }
          stamps
        }
      case None => Set.empty
    }
    val maxCommitted = if (committed.nonEmpty) committed.max else -1L
    val inFlight = (s: Long) => if (k.fenced) s == maxCommitted + 1L else s > maxCommitted
    // per-log stamp audits are independent bounded collects — overlap
    // their fixed per-action latency (guide §2.6); Par.run preserves
    // input order, so the report rows are identical to the sequential
    rows ++= graft.core.Par.run(logs) { t =>
      if (!spark.catalog.tableExists(t))
        // only the deletion frontier is born lazily (first delete);
        // a missing CORE log is structural damage, not an option
        (s"log_stamps:$t", t, frontier.contains(t),
          if (frontier.contains(t)) "absent (no deletes yet)"
          else "CORE LOG ABSENT")
      else if (!spark.table(t).columns.contains("batch_id"))
        (s"log_stamps:$t", t, true, "unstamped (no batch_id)")
      else {
        val stamps = Ledger.stampsOf(spark, t)
        if (markerOpt.isEmpty)
          // markerless rollup: stamps carry no cross-table contract;
          // audit only that the log is non-degenerate
          (s"log_stamps:$t", t, stamps.forall(_ >= 0L),
            s"${stamps.size} distinct stamps")
        else {
          val unknown = stamps -- committed
          val ok = unknown.isEmpty || (unknown.size == 1 && inFlight(unknown.head))
          (s"log_stamps:$t", t, ok,
            if (unknown.isEmpty) s"${stamps.size} stamps, all committed"
            else if (ok) s"one in-flight stamp ${unknown.head} (crash window)"
            else s"ORPHAN stamps beyond the crash window: ${unknown.toSeq.sorted.take(12).mkString(",")}")
        }
      }
    }
    import spark.implicits._
    rows.toSeq.toDF("check", "target", "ok", "detail")
  }
}

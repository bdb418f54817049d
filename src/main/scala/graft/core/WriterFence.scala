package graft.core

/** The out-of-sequence writer fence of the FENCED maintained families —
  * retrieval tf and positional, near-dup (LSH), IVF and the join view;
  * the exact pair index fences by its dict density check instead. The
  * commit ledger ([[graft.operators.Ledger]]) is its only caller and
  * reads whether a kind fences from the kind registry. Batch stamps
  * commit in SEQUENCE, so a second writer racing ahead with a fresh id
  * fails loudly here instead of silently violating the single-writer
  * contract (for families whose
  * appends read pre-state, an interleaved writer would corrupt the
  * pre-state reads; for pure-function appends it would double-index
  * documents under two different stamps, which no read-side collapse
  * can fold). A crashed batch's replay passes: its marker never landed,
  * so max(committed) + 1 is still its own id. The ledger no-ops
  * committed replays BEFORE this fence.
  *
  * COMPAT NOTE (round-8 behavior change): the fence requires a
  * CONTIGUOUS ledger. Pre-fence indexes written with sparse-but-unique
  * stamps — or stream checkpoints whose empty epochs skipped stamping —
  * will fail the fence on their next extend. The migration is one
  * compact: every family's compact folds the log to batch 0 and resets
  * the stamp namespace, after which extends resume at 1. The error
  * message says so, so the operator's next move is in the failure.
  */
object WriterFence {

  /** The stamps a compact's marker rewrite keeps BEYOND the batch-0
    * base: empty for the default full namespace reset, or the max
    * committed stamp under the NAMESPACE-PRESERVING mode (the round-9
    * PLANS.md "epoch→stamp ledger" lift, option 1) — the marker becomes
    * {0, maxCommitted}, so a stopped-but-checkpointed stream resumes
    * over the compacted family: its next epoch-derived stamp is
    * maxCommitted + 1 and passes [[apply]], and a re-delivery of its
    * LAST committed epoch (the only one foreachBatch can replay) no-ops
    * on the preserved stamp. Interior stamps (1..max−1) are forgotten
    * deliberately: no replay of them can arrive from the single
    * checkpoint that owns the index, and a MANUAL replay of one now
    * fails the fence loudly instead of re-applying as a fresh batch.
    * A never-extended family (max == 0) preserves nothing — both modes
    * write exactly {0}.
    */
  def compactKeepStamps(committed: Set[Long], preserve: Boolean): Seq[Long] =
    if (preserve && committed.nonEmpty) Seq(committed.max).filter(_ > 0L)
    else Seq.empty

  /** The SCHEMA-EVOLUTION contract on maintained families (round-10
    * verdict task #6): an extend/delta batch must match its log's data
    * schema EXACTLY — same column set (case-insensitive), same types.
    * Maintained logs are written through positional `insertInto` and
    * name-resolved selects, under which an added column would drop
    * SILENTLY, a missing one would fail with an unresolved-attribute
    * error naming no contract, and a widened type would cast (or
    * ANSI-throw) row by row at task time. None of those is a migration
    * policy — so the family REFUSES the drifted batch loudly, with the
    * same "your next move is in the failure" discipline as the fence's
    * compat note: a maintained family's schema migrates by rebuild (or
    * an explicit compact-and-rebuild window), never by a batch
    * smuggling new columns into a bucketed log.
    *
    * `expected` is the log's DATA schema (caller strips engine columns
    * like `batch_id`); `incoming` is the batch's. Field ORDER is not
    * part of the contract — the write paths name-align before the
    * positional insert.
    */
  def requireSchemaCompat(incoming: org.apache.spark.sql.types.StructType,
      expected: org.apache.spark.sql.types.StructType, family: String,
      log: String): Unit = {
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val got = shape(incoming); val want = shape(expected)
    if (got != want) {
      val added = (got.keySet -- want.keySet).toSeq.sorted
      val missing = (want.keySet -- got.keySet).toSeq.sorted
      val retyped = (got.keySet & want.keySet).toSeq.sorted
        .filter(k => got(k) != want(k))
        .map(k => s"$k: ${want(k).simpleString} -> ${got(k).simpleString}")
      throw new IllegalArgumentException(
        s"$family: batch schema drifted from log $log — " +
          (if (added.nonEmpty) s"added ${added.mkString(",")}; " else "") +
          (if (missing.nonEmpty) s"missing ${missing.mkString(",")}; " else "") +
          (if (retyped.nonEmpty) s"retyped ${retyped.mkString(",")}; " else "") +
          "maintained families do not auto-migrate schemas (positional " +
          "inserts would drop/cast silently). Rebuild the family under " +
          "the new schema, or land the migration explicitly in a " +
          "compact window")
    }
  }

  def apply(committed: Set[Long], batchId: Long, family: String): Unit = {
    // an existing-but-empty marker is a recoverable crash artifact
    // (e.g. death mid-Overwrite of the marker file), not a sequencing
    // bug — name it instead of throwing a bare empty.max
    require(committed.nonEmpty,
      s"$family: empty commit ledger — the _batches marker exists but " +
        "holds no stamps (crash mid-overwrite of the marker?); rebuild " +
        "the index or repair the marker table")
    val maxCommitted = committed.max // every build commits stamp 0
    require(batchId == maxCommitted + 1,
      s"$family: batch $batchId applied out of sequence (last committed " +
        s"$maxCommitted) — interleaved writers break the single-writer " +
        "contract; one writer owns one index. If this ledger predates " +
        "the fence (sparse stamps / skipped empty epochs), one compact " +
        "migrates it: compact resets the stamp namespace to 0")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transaction semantics — replaces the reference's sequential
  * RowsEventBuffer + drain-on-XID (`parser/parser/rows_event_buffer.go:7-24`,
  * `binlog_to_messages.go:41-54`) with a window function: the commit's xid
  * is propagated BACKWARD onto every buffered row event of the same
  * conversation (fixture 07 proves two row events share XId=456 while
  * keeping their own positions — `data/fixtures/07.json:17-18,34-35`).
  *
  * Batch semantics: txn_id(turn) = xid of the first commit at or after the
  * turn within its conversation, skipping commits without a usable xid; a
  * commit itself carries its own xid (null when it has none), as the
  * streaming buffer stamps it. Row events with no following commit were
  * never drained by the reference (buffer discarded at EOF) — they carry
  * txn_id null here and are dropped-with-count downstream.
  *
  * Cost model at scale: exactly ONE shuffle (hash exchange on conv_id); the
  * window sort on (conv_id, turn_idx) is reused by every downstream
  * per-conversation computation. Conversations are bounded (≤ thousands of
  * turns), so no single partition key can exceed executor memory; skew from
  * hot conversations is handled by the salting path in [[Skew]].
  */
object TxnStamp {

  /** "First commit at-or-after, ascending" ≡ "last commit at-or-before,
    * DESCENDING" — expressed as a running (unboundedPreceding → current)
    * frame over turn_idx DESC. Critical at scale: Spark executes
    * running frames in O(partition) while (currentRow →
    * unboundedFollowing) frames are O(partition²) — measured 408 s vs 4 s
    * on 4M turns with a hot conversation.
    */
  def stamp(parsed: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy(col("turn_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parsed.withColumn("txn_id", ownXidOnCommit(
      last(when(col("kind") === "commit", col("xid")), ignoreNulls = true).over(w)))
  }

  /** A commit's txn_id is its own xid, even a null one: the running frame
    * would otherwise hand an xid-less commit the NEXT commit's xid.
    */
  private def ownXidOnCommit(txnId: Column): Column =
    when(col("kind") === "commit", col("xid")).otherwise(txnId)

  /** Skew-safe salted variant — semantically identical to [[stamp]] (tested
    * + oracle-checked), but a hot conversation no longer serializes into one
    * task: rows are windowed per (conv_id, block) where
    * block = turn_idx div blockSize, then rows whose commit lies in a later
    * block are backfilled from a tiny per-block summary.
    *
    * Cost: the big frame is exchanged once on (conv_id, block) — same as the
    * plain window but with bounded partition-key cardinality — plus a
    * negligible summary aggregation/join (rows ≈ nBlocks, not turns). This
    * is the "salted repartitioning for hot conversations" the north rule
    * demands; the salt boundary is txn-safe because commit stamping is the
    * only cross-row dependency and it is restored by the backfill join
    * (update pairing is within-row, SURVEY.md §7.4).
    */
  def stampSalted(parsed: DataFrame, blockSize: Int = 4096): DataFrame = {
    val block = (col("turn_idx").cast("long") / blockSize).cast("long").as("salt_block")
    // NOTE on plan shape (measured this round): the window branch and the
    // per-block summary branch cannot share one exchange — Catalyst's
    // column pruning specializes each consumer's subtree (the window needs
    // the payload columns, the summary only (conv, block, kind, xid)), so
    // ReusedExchange/AQE stage reuse never fire and the summary re-runs
    // the pruned upstream. An explicit repartition here was tried and
    // REGRESSED 3× on the fine-block query: it added a full pre-aggregation
    // exchange to the summary branch, whereas the plain shape partial-
    // aggregates map-side and exchanges only ~#blocks partial rows.
    val withBlock = parsed.withColumn("salt_block", block)

    // running frame over DESC order: O(block), same O(n²)-avoidance as stamp
    val wIn = Window.partitionBy("conv_id", "salt_block").orderBy(col("turn_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBlock = withBlock.withColumn("txn_in_block",
      last(when(col("kind") === "commit", col("xid")), ignoreNulls = true).over(wIn))

    // ONE aggregation produces the whole (conv, block) domain with the xid
    // of each block's first commit (null when none) — rows ≈ #blocks, not
    // #turns. min_by(xid, turn_idx-of-commits) is a DECLARATIVE aggregate
    // with a primitive buffer, so it plans as a HashAggregate — the
    // previous min(struct(turn_idx, xid)).xid forced a SortAggregate, i.e.
    // a full extra sort of the frame in this branch. The two agree (same
    // first-commit pick, null xid preserved, non-commits skipped via the
    // null ordering key) only while (conv_id, turn_idx) is unique: two
    // commits sharing a turn_idx would make min_by pick either xid, where
    // the struct-min took the smaller. The built-in sources number turns
    // per conversation, so it holds for them; the window in [[stamp]]
    // needs the same uniqueness for a deterministic order.
    val summary = withBlock.groupBy("conv_id", "salt_block")
      .agg(min_by(col("xid"),
        when(col("kind") === "commit", col("turn_idx"))).as("first_xid"))

    // next_xid(b) = first commit xid among STRICTLY LATER blocks: a running
    // last-non-null over DESC block order, shifted one row by lag (both
    // O(#blocks) frames; never an unbounded-FOLLOWING frame).
    val wDesc = Window.partitionBy("conv_id").orderBy(col("salt_block").desc)
    val domainFill = summary
      .withColumn("run_incl",
        last(col("first_xid"), ignoreNulls = true)
          .over(wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_xid", lag(col("run_incl"), 1).over(wDesc))
      .select(col("conv_id"), col("salt_block"), col("next_xid"))

    // The big frame is already hash-partitioned on (conv_id, salt_block) by
    // the window exchange; a shuffled-hash join on the same keys reuses that
    // partitioning and skips the sort an SMJ would add.
    inBlock
      .join(domainFill.hint("shuffle_hash"), Seq("conv_id", "salt_block"), "left")
      .withColumn("txn_id",
        ownXidOnCommit(coalesce(col("txn_in_block"), col("next_xid"))))
      .drop("txn_in_block", "next_xid", "salt_block")
  }
}

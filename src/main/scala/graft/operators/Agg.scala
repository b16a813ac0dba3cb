package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregate stage — per-sink counts + the conservation ledger.
  *
  * The reference's correctness contract is "full output equals golden file"
  * (`parse_binlog_file_integration_test.go:83-103`); the north rule
  * generalizes it to exact per-sink aggregate counts plus a reconciliation
  * that every input turn is accounted for (routed, suppressed, or counted
  * as a specific kind of drop — the distributed version of the reference's
  * glog drop lines at `binlog_to_messages.go:85`, `conversion.go:82`).
  *
  * Both aggregations are plain groupBy/agg → Catalyst plans partial+final
  * HashAggregateExec (map-side combine), so the shuffle carries only
  * per-sink partial counts, never rows.
  */
object Agg {

  /** Per-sink message counts, keyed exactly like the fan-out layout. */
  def sinkCounts(routed: DataFrame): DataFrame =
    routed.groupBy("role", "tool", "event_type")
      .agg(count(lit(1)).as("n"))

  /** The conservation ledger's counters over the enriched+stamped
    * (pre-explode) frame, one aggregate column each. Invariant checked by
    * tests: turns = row_events + query_kept + query_suppressed + commits + noise.
    */
  val Ledger: Seq[Column] = {
    val isRow = col("kind").isin("insert", "update", "delete")
    Seq(
      count(lit(1)).as("turns"),
      sum(when(isRow, 1L).otherwise(0L)).as("row_events"),
      sum(when(col("kind") === "query" && !col("suppressed"), 1L).otherwise(0L)).as("query_kept"),
      sum(when(col("kind") === "query" && col("suppressed"), 1L).otherwise(0L)).as("query_suppressed"),
      sum(when(col("kind") === "commit", 1L).otherwise(0L)).as("commits"),
      sum(when(col("kind") === "", 1L).otherwise(0L)).as("noise"),
      sum(when(isRow && !col("matched"), 1L).otherwise(0L)).as("dropped_unmapped"),
      sum(when(isRow && col("matched") && col("txn_id").isNull, 1L).otherwise(0L)).as("dropped_uncommitted"),
      sum(when(isRow && col("matched") && col("txn_id").isNotNull, size(col("vals"))).otherwise(0L)).as("routable_physical_rows"))
  }

  /** One-row conservation ledger ([[Ledger]]) as a standalone aggregation. */
  def reconcile(enriched: DataFrame): DataFrame = enriched.agg(Ledger.head, Ledger.tail: _*)
}

package graft.operators

import graft.model.Model
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Route stage — converts enriched, txn-stamped turns into the typed routed
  * message stream and fans out per sink key (role, tool, event_type):
  * the Spark-native form of the reference's conversion + consumer chain
  * (`parser/conversion/conversion.go:42-128`, `parser/consumer_chain.go`).
  *
  * Design: ONE pass. Each turn produces an `array<struct>` of messages
  * (0, 1, or N per turn), built with branch-free column expressions, then a
  * single `explode` flattens the stream. This avoids the union-of-three-
  * filtered-scans shape that would re-execute the upstream window 3× —
  * at 100 TB the upstream exchange+sort is the dominant cost and must run
  * exactly once.
  *
  * Message multiplicity (mirrors `conversion.go`):
  *  - query (non-BEGIN/SAVEPOINT) → 1 Query message, tool="(unknown)",
  *    txn_id=0 (`conversion.go:25-40`)
  *  - insert/delete with R physical rows → R messages (`:110-128`)
  *  - update with 2R physical rows → R old/new-paired messages (`:91-108`);
  *    the reference panics on odd counts — we quarantine (drop + count)
  *    instead of crashing a 1000-executor job
  *  - commit / BEGIN / SAVEPOINT / noise / unmapped / uncommitted → 0
  *    messages (counted by [[Agg]])
  */
object Route {

  /** Routable row event: lookup matched AND a commit follows in-conversation
    * (`binlog_to_messages.go:41-54,84-87`).
    */
  private def committedRow: Column =
    col("matched") && col("txn_id").isNotNull

  def messages(enriched: DataFrame): DataFrame = {
    val queryKept = (col("kind") === "query") && !col("suppressed")

    // The whole queryKept/insertDelete/updateOk dispatch + per-physical-row
    // mapping + old/new pairing is ONE compiled pass ([[RouteMsgs]]): the
    // previous CASE/transform/element_at tree evaluated its HOF lambdas
    // interpreted per element and re-ran MapRows six times per update pair
    // (no subexpression elimination under Generate). Throughput is on par
    // (see RouteMsgs scaladoc); the win is the ~20× smaller Generate
    // expression (per-query analysis/codegen) and plan readability.
    // Semantics pinned byte-identical by RouteSpec's equivalence test, the
    // golden fixtures and the k3/k2b/e4 oracles.
    val msgs = graft.functions.RouteMsgs(
      col("kind"), col("suppressed"), col("stmt"), col("field_names"),
      col("vals"), committedRow)

    enriched
      .select(
        col("conv_id"), col("turn_idx"), col("role"),
        when(queryKept, Model.UnknownTable).otherwise(col("tool")).as("tool"),
        Parse.eventTime(col("ts")).as("event_time"),
        col("turn_idx").cast("long").as("position"),
        when(queryKept, 0L).otherwise(col("txn_id")).as("txn_id"),
        col("text"),
        explode(msgs).as("m"))
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("m.event_type").as("event_type"),
        col("event_time"), col("position"), col("txn_id"),
        col("m.row_repr").as("row_repr"),
        col("m.old_repr").as("old_repr"),
        col("m.new_repr").as("new_repr"),
        col("m.mapping_notice").as("mapping_notice"),
        col("m.new_mapping_notice").as("new_mapping_notice"),
        col("m.query").as("query"),
        col("m.row_entries").as("row_entries"),
        col("m.old_entries").as("old_entries"),
        col("m.new_entries").as("new_entries"),
        col("text"))
  }

  /** Include-filters with the reference's pass-if-blank rule
    * (`consumer_chain.go:83-101`): an empty include list filters nothing;
    * a blank header field passes unconditionally.
    */
  def includeFilters(routed: DataFrame, includeRoles: Seq[String],
      includeTools: Seq[String]): DataFrame = {
    val afterRoles =
      if (includeRoles.isEmpty) routed
      else routed.filter(col("role") === "" || col("role").isin(includeRoles: _*))
    if (includeTools.isEmpty) afterRoles
    else afterRoles.filter(col("tool") === "" || col("tool").isin(includeTools: _*))
  }
}

package graft.operators

import graft.model.Model
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Route stage — converts enriched, txn-stamped turns into the typed routed
  * message stream and fans out per sink key (role, tool, event_type):
  * the Spark-native form of the reference's conversion + consumer chain
  * (`parser/conversion/conversion.go:42-128`, `parser/consumer_chain.go`).
  *
  * Design: ONE pass of built-in expressions. Each turn counts its messages
  * (0, 1, or N per turn) and a single `explode` of the slot numbers
  * `0 until n` flattens the stream. This avoids the union-of-three-
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
    val kind = col("kind")
    val vals = col("vals")
    val queryKept = (kind === "query") && !col("suppressed")
    val isInsertDelete = kind.isin("insert", "delete")
    val isUpdate = kind === "update"
    // null (no messages) outside the rules; a null vals gives a null count
    val nMsgs = when(queryKept, lit(1))
      .when(isInsertDelete && committedRow, size(vals))
      .when(isUpdate && committedRow && size(vals) >= 2 && size(vals) % 2 === 0,
        (size(vals) / 2).cast("int"))

    // After the explode a query row is a kept query, and a row event is
    // committed. The Data (or OldData) side is vals[slot] (vals[2·slot] for
    // an update); NewData is vals[2·slot + 1]. Each side is mapped once.
    // The `when` chains list every case and end without `otherwise`, so
    // event_type and mapping_notice stay nullable in the routed schema.
    val slot = col("slot")
    val isQuery = kind === "query"
    val isRowEvent = kind.isin("insert", "update", "delete")
    val first = vals.getItem(when(isUpdate, slot * 2).otherwise(slot))
    val second = vals.getItem(slot * 2 + 1)
    val names = col("field_names")
    val sides = enriched
      .select(
        col("conv_id"), col("turn_idx"), col("role"),
        when(queryKept, Model.UnknownTable).otherwise(col("tool")).as("tool"),
        Parse.eventTime(col("ts")).as("event_time"),
        col("turn_idx").cast("long").as("position"),
        when(queryKept, 0L).otherwise(col("txn_id")).as("txn_id"),
        col("text"), kind, col("stmt"), names, vals,
        explode(when(nMsgs > 0, sequence(lit(0), nMsgs - 1))).as("slot"))
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        when(isQuery, Model.EventType.Query)
          .when(kind === "insert", Model.EventType.Insert)
          .when(kind === "delete", Model.EventType.Delete)
          .when(isUpdate, Model.EventType.Update).as("event_type"),
        col("event_time"), col("position"), col("txn_id"),
        when(isQuery, lit(""))
          .when(isRowEvent, Enrich.mappingNotice(names, first)).as("mapping_notice"),
        when(isUpdate, Enrich.mappingNotice(names, second)).as("new_mapping_notice"),
        when(isQuery, col("stmt")).as("query"),
        when(isInsertDelete, Enrich.rowEntries(names, first)).as("row_entries"),
        when(isUpdate, Enrich.rowEntries(names, first)).as("old_entries"),
        when(isUpdate, Enrich.rowEntries(names, second)).as("new_entries"),
        col("text"))

    // Each repr reads its entries column, so this projection stays apart
    // from the one above and every side is sorted once.
    sides.select(
      col("conv_id"), col("turn_idx"), col("role"), col("tool"),
      col("event_type"), col("event_time"), col("position"), col("txn_id"),
      Enrich.entriesRepr(col("row_entries")).as("row_repr"),
      Enrich.entriesRepr(col("old_entries")).as("old_repr"),
      Enrich.entriesRepr(col("new_entries")).as("new_repr"),
      col("mapping_notice"), col("new_mapping_notice"), col("query"),
      col("row_entries"), col("old_entries"), col("new_entries"),
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

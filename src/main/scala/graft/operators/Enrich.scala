package graft.operators

import graft.model.Model
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Enrich stage — the TableMap metadata join + positional column-name zip
  * (`database/table_map.go:8-60`, `parser/conversion/row_data.go:8-54`).
  *
  * The lookup side is tiny (dozens of rows) so it is broadcast: Catalyst
  * plans a BroadcastHashJoinExec — the distributed equivalent of the
  * reference's memoized in-process `fieldsCache` (`table_map.go:45-60`).
  * Lookup misses are NOT dropped here; a `matched` flag is kept so the
  * aggregate stage can count drops (`binlog_to_messages.go:84-87` logs and
  * skips; the north rule requires the skip to be *counted*).
  */
object Enrich {

  /** Left-broadcast-join row events with the (role, tool) lookup. Non-row
    * events (query/commit/noise) pass through with field_names null.
    */
  def withLookup(parsed: DataFrame, lookup: DataFrame): DataFrame = {
    val lk = broadcast(lookup.withColumnRenamed("role", "lk_role")
      .withColumnRenamed("tool", "lk_tool"))
    parsed
      .join(lk, parsed("role") === lk("lk_role") && parsed("tool") === lk("lk_tool"), "left")
      .drop("lk_role", "lk_tool")
      .withColumn("matched",
        col("kind").isin("insert", "update", "delete") && col("field_names").isNotNull)
  }

  /** One physical row mapped against its field names: `(k, v)` entries
    * sorted by key (Go marshals map keys alphabetically — visible in every
    * fixture, e.g. `data/fixtures/01.json:11-15`). The one row mapping:
    * the route stage, [[rowRepr]] and the e4/t4 oracle queries all run it.
    *
    * Mismatch semantics exactly per `row_data.go:8-54`: if the value count
    * differs from the field-name count IN EITHER DIRECTION, every value is
    * keyed `(unknown_i)` in row order and a notice is attached
    * ([[mappingNotice]]).
    */
  def rowEntries(names: Column, vals: Column): Column = {
    val mismatch = size(vals) =!= size(names)
    // Sort KEY-FIRST (struct sort), not the concatenated "k=v" string: when
    // one key is a proper prefix of another ("a" vs "a1"), '=' (0x3d) sorts
    // above '1' so the string orders diverge from Go's map-key order
    // (ADVICE r01). arrays_zip and sort_array run no lambda; array_sort's
    // default comparator and zip_with evaluate theirs interpreted, per
    // comparison and per element.
    val keys = when(mismatch,
        transform(vals, (_, i) => concat(lit("(unknown_"), i.cast("string"), lit(")"))))
      .otherwise(names)
    sort_array(arrays_zip(keys, vals).cast(EntriesType))
  }

  /** `array<struct<k, v>>`, the type of [[rowEntries]]. */
  private val EntriesType = ArrayType(StructType(Seq(
    StructField("k", StringType), StructField("v", StringType))), containsNull = false)

  /** Canonical representation of mapped entries: "k=v" joined with ",". */
  def entriesRepr(entries: Column): Column =
    array_join(transform(entries,
      e => concat(e.getField("k"), lit("="), e.getField("v"))), ",")

  /** Canonical representation of one mapped physical row: the repr of its
    * [[rowEntries]].
    */
  def rowRepr(names: Column, vals: Column): Column =
    entriesRepr(rowEntries(names, vals))

  /** Exact notice strings from `row_data.go:46,50`; empty when clean. */
  def mappingNotice(names: Column, vals: Column): Column =
    when(size(vals) > size(names), lit(Model.NoticeRowLonger))
      .when(size(vals) < size(names), lit(Model.NoticeRowShorter))
      .otherwise(lit(""))
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Canonical-JSON serializer reproducing, byte for byte, Go's rendering of
  * the reference's message structs: `json.Marshal` (the CLI default) or
  * `json.MarshalIndent(v, "", "    ")` under `-prettyprint`
  * (`parser/consumer_chain.go:61-81,103-109`, fixtures
  * `data/fixtures/0*.json`):
  *
  *  - struct fields in declaration order (Header, Type, Data / OldData,
  *    NewData / Query — `messages/message.go:59-96`)
  *  - map keys alphabetical (Go map marshal order; the entries arrive
  *    key-sorted from [[graft.operators.Enrich.rowEntries]])
  *  - Go's HTML-safe escaping: `<` `>` `&` → < > &;
  *    control chars → \t \n \r or \u00xx; UTF-8 passes through
  *  - integer-looking values render as JSON numbers (the binlog decoder
  *    yields typed ints which Go marshals unquoted — fixture
  *    `01.json:14` "building_no": 1)
  *
  * Spark's `to_json` can do none of this (no pretty-print, no key sort, no
  * HTML escaping), so the document is one column of `concat`/`when`/
  * `transform` over the codegen'd [[GoJsonEscape]]. It is the one
  * serializer: `graft.Main`'s NDJSON sink, the streaming sink and the k2
  * oracle queries all run it, inside whole-stage codegen.
  */
object CanonicalJson {

  /** Go encoding/json string escaping (HTML-safe mode, the default). */
  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '<' => sb.append("\\u003c")
      case '>' => sb.append("\\u003e")
      case '&' => sb.append("\\u0026")
      case c if c == '\u2028' => sb.append("\\u2028")
      case c if c == '\u2029' => sb.append("\\u2029")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  // No leading zeros and no "-0": Go only marshals genuinely typed ints,
  // which never render as 007 or -0 (ADVICE r01) — such strings stay quoted.
  // `\z`, not `$`: Java's `$` also matches before a final line terminator,
  // which would emit "5\n" unquoted and split the NDJSON line.
  private val IntLike = "^(0|-?[1-9]\\d{0,17})\\z"

  private def quoted(c: Column): Column = concat(lit("\""), GoJsonEscape(c), lit("\""))

  /** One message document per routed row (no trailing newline).
    * `MarshalIndent` is `Marshal` plus whitespace — a newline and 4 spaces
    * per depth after `{` and `,`, a newline before `}`, a space after `:` —
    * so `pretty` changes only those strings.
    */
  def document(pretty: Boolean): Column = {
    def nl(depth: Int) = if (pretty) "\n" + "    " * depth else ""
    val colon = if (pretty) ": " else ":"
    // an object whose members sit at `depth` (1 = the document's own)
    def braces(depth: Int, members: Column) =
      concat(lit("{" + nl(depth)), members, lit(nl(depth - 1) + "}"))
    def fields(depth: Int, kvs: (String, Column)*) = concat(kvs.zipWithIndex.flatMap {
      case ((k, v), i) => Seq(lit((if (i == 0) "" else "," + nl(depth)) + "\"" + k + "\"" + colon), v)
    }: _*)
    // Data / OldData / NewData at depth 2: the Row map, then this side's notice
    def rowData(entries: Column, notice: Column) = {
      val row = when(size(entries) === 0, lit("{}")).otherwise(braces(3,
        array_join(transform(entries, { e =>
          val v = e.getField("v")
          concat(quoted(e.getField("k")), lit(colon),
            when(v.rlike(IntLike), v).otherwise(quoted(v)))
        }), "," + nl(3))))
      braces(2, fields(2, "Row" -> row, "MappingNotice" -> quoted(notice)))
    }
    val header = braces(2, fields(2,
      "Schema" -> quoted(col("role")),
      "Table" -> quoted(col("tool")),
      "BinlogMessageTime" -> quoted(col("event_time")),
      "BinlogPosition" -> col("position").cast("string"),
      "XId" -> col("txn_id").cast("string")))
    val eventType = col("event_type")
    val notice = coalesce(col("mapping_notice"), lit(""))
    val payload = when(eventType === "Query", fields(1, "Query" -> quoted(col("query"))))
      .when(eventType === "Update", fields(1,
        "OldData" -> rowData(col("old_entries"), notice),
        "NewData" -> rowData(col("new_entries"), coalesce(col("new_mapping_notice"), notice))))
      .otherwise(fields(1, "Data" -> rowData(col("row_entries"), notice)))
    braces(1, concat(
      fields(1, "Header" -> header, "Type" -> concat(lit("\""), eventType, lit("\""))),
      lit("," + nl(1)), payload))
  }

  /** Routed frame → Dataset[String] of canonical JSON documents, in the
    * routed frame's row order. `pretty = false` is the reference CLI's
    * default (`json.Marshal`); `pretty = true` mirrors its `-prettyprint`
    * flag (`main.go:19`).
    */
  def fromRouted(routed: DataFrame, pretty: Boolean): Dataset[String] =
    routed.select(document(pretty).as("value")).as(Encoders.STRING)
}

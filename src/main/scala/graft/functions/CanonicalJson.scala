package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** Canonical pretty-JSON serializer reproducing Go's `json.MarshalIndent`
  * rendering of the reference's message structs byte-for-byte
  * (`parser/consumer_chain.go:61-81,103-109`, fixtures
  * `data/fixtures/0*.json`):
  *
  *  - struct fields in declaration order (Header, Type, Data / OldData,
  *    NewData / Query — `messages/message.go:59-96`)
  *  - map keys alphabetical (Go map marshal order; entries arrive pre-sorted
  *    from [[graft.operators.Route.rowEntries]])
  *  - 4-space indent, newline-delimited messages
  *  - Go's HTML-safe escaping: `<` `>` `&` → < > &;
  *    control chars → \t \n \r or \u00xx; UTF-8 passes through
  *  - integer-looking values render as JSON numbers (the binlog decoder
  *    yields typed ints which Go marshals unquoted — fixture
  *    `01.json:14` "building_no": 1)
  *
  * Spark's `to_json` can do none of this (no pretty-print, no key sort, no
  * HTML escaping), hence the custom serializer. It runs in a typed `map`
  * outside codegen — acceptable because golden serialization is the
  * human/test-facing collector, not the analytical hot path.
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
  private val IntLike = "^(0|-?[1-9]\\d{0,17})$".r

  /** Values that were integers in the source render unquoted (Go marshals
    * the decoder's typed ints as numbers).
    */
  def renderValue(v: String): String =
    if (v != null && IntLike.matches(v)) v else "\"" + escape(v) + "\""

  private def renderRowData(entries: Seq[(String, String)], notice: String,
      indent: String): String = {
    val inner = indent + "    "
    val rowBody =
      if (entries.isEmpty) "{}"
      else entries.map { case (k, v) =>
        s"""$inner    "${escape(k)}": ${renderValue(v)}"""
      }.mkString("{\n", ",\n", s"\n$inner}")
    s"""{
       |$inner"Row": $rowBody,
       |$inner"MappingNotice": "${escape(notice)}"
       |$indent}""".stripMargin
  }

  /** One full message document (no trailing newline). `newNotice` is
    * NewData's OWN mismatch notice (the reference runs detectMismatch per
    * physical row, `row_data.go:15`); null falls back to `notice` for
    * pre-round-4 call sites where both sides match the same field list.
    */
  def render(
      role: String, tool: String, eventTime: String, position: Long, txnId: Long,
      eventType: String,
      rowEntries: Seq[(String, String)], oldEntries: Seq[(String, String)],
      newEntries: Seq[(String, String)], notice: String, query: String,
      newNotice: String = null): String = {
    val newN = if (newNotice == null) notice else newNotice
    val header =
      s"""    "Header": {
         |        "Schema": "${escape(role)}",
         |        "Table": "${escape(tool)}",
         |        "BinlogMessageTime": "${escape(eventTime)}",
         |        "BinlogPosition": $position,
         |        "XId": $txnId
         |    },
         |    "Type": "$eventType"""".stripMargin
    val payload = eventType match {
      case "Query" =>
        s"""    "Query": ${"\"" + escape(query) + "\""}"""
      case "Update" =>
        s"""    "OldData": ${renderRowData(oldEntries, notice, "    ")},
           |    "NewData": ${renderRowData(newEntries, newN, "    ")}""".stripMargin
      case _ =>
        s"""    "Data": ${renderRowData(rowEntries, notice, "    ")}"""
    }
    s"{\n$header,\n$payload\n}"
  }

  // ------------------------------------------------------------------
  // Compact mode — Go's `json.Marshal`, the reference CLI's DEFAULT output
  // (`parser/consumer_chain.go:103-109`: pretty is opt-in via
  // `-prettyprint`, `main.go:19`). Single line, zero whitespace, same
  // field order and HTML-safe escaping as the pretty renderer.
  // ------------------------------------------------------------------

  private def renderRowDataCompact(entries: Seq[(String, String)],
      notice: String): String = {
    val rowBody =
      if (entries.isEmpty) "{}"
      else entries.map { case (k, v) =>
        s""""${escape(k)}":${renderValue(v)}"""
      }.mkString("{", ",", "}")
    s"""{"Row":$rowBody,"MappingNotice":"${escape(notice)}"}"""
  }

  /** One full message document, compact (`json.Marshal`) mode. `newNotice`
    * as in [[render]].
    */
  def renderCompact(
      role: String, tool: String, eventTime: String, position: Long, txnId: Long,
      eventType: String,
      rowEntries: Seq[(String, String)], oldEntries: Seq[(String, String)],
      newEntries: Seq[(String, String)], notice: String, query: String,
      newNotice: String = null): String = {
    val newN = if (newNotice == null) notice else newNotice
    val header =
      s""""Header":{"Schema":"${escape(role)}","Table":"${escape(tool)}",""" +
      s""""BinlogMessageTime":"${escape(eventTime)}","BinlogPosition":$position,"XId":$txnId}""" +
      s""","Type":"$eventType""""
    val payload = eventType match {
      case "Query" => s""""Query":"${escape(query)}""""
      case "Update" =>
        s""""OldData":${renderRowDataCompact(oldEntries, notice)},""" +
        s""""NewData":${renderRowDataCompact(newEntries, newN)}"""
      case _ => s""""Data":${renderRowDataCompact(rowEntries, notice)}"""
    }
    s"{$header,$payload}"
  }

  // ------------------------------------------------------------------
  // Expression-level serializer — the PRODUCTION path: built entirely from
  // concat/when/transform + the custom codegen'd GoJsonEscape expression,
  // so serialization stays inside whole-stage codegen (no Dataset.map
  // deserialization). Verified equal to `render` by CanonicalJsonSpec.
  // ------------------------------------------------------------------

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  private val IntLikeRe = "^(0|-?[1-9]\\d{0,17})$"

  private def escCol(c: Column): Column = GoJsonEscape(c)

  private def valueCol(v: Column): Column =
    when(v.rlike(IntLikeRe), v)
      .otherwise(concat(lit("\""), escCol(v), lit("\"")))

  private def rowDataCol(entries: Column, notice: Column, indent: String): Column = {
    val inner = indent + "    "
    val body = when(size(entries) === 0, lit("{}"))
      .otherwise(concat(
        lit("{\n"),
        array_join(transform(entries, e =>
          concat(lit(inner + "    \""), escCol(e.getField("k")), lit("\": "),
            valueCol(e.getField("v")))), ",\n"),
        lit(s"\n$inner}")))
    concat(
      lit("{\n" + inner + "\"Row\": "), body,
      lit(",\n" + inner + "\"MappingNotice\": \""), escCol(notice),
      lit("\"\n" + indent + "}"))
  }

  private def rowDataColCompact(entries: Column, notice: Column): Column = {
    val body = when(size(entries) === 0, lit("{}"))
      .otherwise(concat(
        lit("{"),
        array_join(transform(entries, e =>
          concat(lit("\""), escCol(e.getField("k")), lit("\":"),
            valueCol(e.getField("v")))), ","),
        lit("}")))
    concat(lit("{\"Row\":"), body,
      lit(",\"MappingNotice\":\""), escCol(notice), lit("\"}"))
  }

  /** Compact (`json.Marshal`) document as a single codegen'd column —
    * expression twin of [[renderCompact]] (equality asserted by
    * CanonicalJsonSpec).
    */
  def jsonColumnCompact: Column = {
    val header = concat(
      lit("\"Header\":{\"Schema\":\""), escCol(col("role")),
      lit("\",\"Table\":\""), escCol(col("tool")),
      lit("\",\"BinlogMessageTime\":\""), escCol(col("event_time")),
      lit("\",\"BinlogPosition\":"), col("position").cast("string"),
      lit(",\"XId\":"), col("txn_id").cast("string"),
      lit("},\"Type\":\""), col("event_type"), lit("\""))
    val notice = coalesce(col("mapping_notice"), lit(""))
    val newNotice = coalesce(col("new_mapping_notice"), col("mapping_notice"), lit(""))
    val payload = when(col("event_type") === "Query",
        concat(lit("\"Query\":\""), escCol(col("query")), lit("\"")))
      .when(col("event_type") === "Update",
        concat(lit("\"OldData\":"), rowDataColCompact(col("old_entries"), notice),
          lit(",\"NewData\":"), rowDataColCompact(col("new_entries"), newNotice)))
      .otherwise(concat(lit("\"Data\":"), rowDataColCompact(col("row_entries"), notice)))
    concat(lit("{"), header, lit(","), payload, lit("}"))
  }

  /** Canonical JSON document as a single codegen'd column over the routed
    * frame.
    */
  def jsonColumn: Column = {
    val header = concat(
      lit("    \"Header\": {\n        \"Schema\": \""), escCol(col("role")),
      lit("\",\n        \"Table\": \""), escCol(col("tool")),
      lit("\",\n        \"BinlogMessageTime\": \""), escCol(col("event_time")),
      lit("\",\n        \"BinlogPosition\": "), col("position").cast("string"),
      lit(",\n        \"XId\": "), col("txn_id").cast("string"),
      lit("\n    },\n    \"Type\": \""), col("event_type"), lit("\""))
    val notice = coalesce(col("mapping_notice"), lit(""))
    val newNotice = coalesce(col("new_mapping_notice"), col("mapping_notice"), lit(""))
    val payload = when(col("event_type") === "Query",
        concat(lit("    \"Query\": \""), escCol(col("query")), lit("\"")))
      .when(col("event_type") === "Update",
        concat(lit("    \"OldData\": "), rowDataCol(col("old_entries"), notice, "    "),
          lit(",\n    \"NewData\": "), rowDataCol(col("new_entries"), newNotice, "    ")))
      .otherwise(concat(lit("    \"Data\": "), rowDataCol(col("row_entries"), notice, "    ")))
    concat(lit("{\n"), header, lit(",\n"), payload, lit("\n}"))
  }

  /** Routed frame → Dataset[String] of canonical JSON documents, in
    * (conv_id, turn_idx) order within partitions. `pretty = false` is the
    * reference CLI's default (`json.Marshal`); `pretty = true` mirrors its
    * `-prettyprint` flag (`main.go:19`).
    */
  def fromRouted(routed: DataFrame, pretty: Boolean): Dataset[String] = {
    val spark = routed.sparkSession
    import spark.implicits._
    def entries(r: Row, field: String): Seq[(String, String)] = {
      val raw = r.getAs[scala.collection.Seq[Row]](field)
      if (raw == null) Nil else raw.map(e => (e.getString(0), e.getString(1))).toSeq
    }
    val renderer = if (pretty) render _ else renderCompact _
    val hasNewNotice = routed.columns.contains("new_mapping_notice")
    routed.map { r =>
      val notice = Option(r.getAs[String]("mapping_notice")).getOrElse("")
      renderer(
        r.getAs[String]("role"), r.getAs[String]("tool"),
        r.getAs[String]("event_time"), r.getAs[Long]("position"),
        r.getAs[Long]("txn_id"), r.getAs[String]("event_type"),
        entries(r, "row_entries"), entries(r, "old_entries"),
        entries(r, "new_entries"),
        notice,
        r.getAs[String]("query"),
        if (hasNewNotice)
          Option(r.getAs[String]("new_mapping_notice")).getOrElse(notice)
        else notice)
    }
  }

  /** Pretty-mode overload (pre-round-2 signature, kept for callers/tests). */
  def fromRouted(routed: DataFrame): Dataset[String] =
    fromRouted(routed, pretty = true)
}

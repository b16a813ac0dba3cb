package graft.model

import org.apache.spark.sql.types._

/** Core data model of the transcript event pipeline.
  *
  * Mirrors the reference's record types (zalora/binlog-parser
  * `parser/messages/message.go:16-96`) re-expressed on the input table shape
  * mandated by BASELINE.json `input_hint`:
  * (conv_id, turn_idx, role, text, tool, ts).
  */
object Model {

  /** Input row — one conversation turn (the binlog-event analog). */
  val turnsSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("tool", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false)
  ))

  /** Event-type discriminator — mirrors `message.go:9-14`. */
  object EventType {
    val Insert = "Insert"
    val Update = "Update"
    val Delete = "Delete"
    val Query = "Query"
  }

  /** Exact mismatch notices — byte-for-byte from the reference
    * (`parser/conversion/row_data.go:46,50`).
    */
  val NoticeRowLonger = "column names array is missing field(s), will map them as unknown_*"
  val NoticeRowShorter = "row is missing field(s), ignoring missing"

  /** Schema/table placeholder used by query messages
    * (`parser/conversion/conversion.go:28` uses table "(unknown)").
    */
  val UnknownTable = "(unknown)"
}

/** Typed view of an input turn (input_hint schema). */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp
)

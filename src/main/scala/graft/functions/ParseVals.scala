package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass parser for the `vals=` payload: `"[a|b];[c|d]"` →
  * `[["a","b"],["c","d"]]` — the RowsEvent.Rows decode analog
  * (`parser/parser/binlog_to_messages.go:60-82` decodes arbitrary row
  * bytes; our grammar needs the same "any byte sequence survives" property).
  *
  * Why custom (vs `transform(split(...), g => split(trim(g), …))`):
  *  1. Catalyst HOF lambdas evaluate interpreted per element — this chain
  *     profiled ~80 of the 109 core-seconds of the benchmark map stage.
  *     One tight char scan replaces two regex splits + a trim per group.
  *  2. Exact bracket semantics: strips AT MOST ONE `[`/`]` per group end
  *     (`trim(g, "[]")` strips runs — a value beginning/ending with a
  *     bracket lost bytes; ADVICE r01).
  *  3. Escaping: `\` escapes the next character, so values may contain the
  *     grammar's own delimiters (`| ; [ ]` as `\| \; \[ \]`, backslash as
  *     `\\`) — without it a value containing `];[` or `|` silently
  *     mis-parsed (VERDICT r01 #7). Escape-free inputs parse identically
  *     to the old chain (and to the DuckDB oracle CTE, which the driver
  *     only ever runs on escape-free generated text).
  *
  * Semantics (PropertySpec round-trips adversarial values):
  *  - groups split on unescaped `;`; values split on unescaped `|`
  *  - each group loses exactly one leading `[` and one trailing unescaped `]`
  *  - `\x` → `x` for ANY x (a trailing lone `\` is kept literally)
  *  - empty group → one empty value (split semantics, matches old chain)
  */
case class ParseVals(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(ArrayType(StringType, containsNull = false), containsNull = false)

  // The scan runs on the UTF-8 BYTES directly — all structural characters
  // (| ; [ ] \) are ASCII, and in UTF-8 an ASCII byte can never occur
  // inside a multi-byte sequence, so no decode is needed. Avoiding the
  // String round-trip (UTF-8 decode + char append + re-encode per value)
  // roughly halves the map-stage allocation rate, which is what throttles
  // this stage's multi-core scaling (memory bandwidth, see BASELINE.md).
  override protected def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[UTF8String].getBytes
    val n = b.length
    val groups = new scala.collection.mutable.ArrayBuffer[Any](4)
    val vals = new scala.collection.mutable.ArrayBuffer[Any](8)
    var buf = new Array[Byte](64)
    var bufLen = 0
    var segStart = 0 // start of the pending raw byte segment
    var groupStarted = false // saw the group's leading '['
    var pendingClose = false // saw a ']' that may be the group terminator

    def ensure(extra: Int): Unit =
      if (bufLen + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, bufLen + extra))
    def appendSeg(endEx: Int): Unit = {
      val len = endEx - segStart
      if (len > 0) {
        ensure(len); System.arraycopy(b, segStart, buf, bufLen, len); bufLen += len
      }
    }
    def appendByte(x: Byte): Unit = { ensure(1); buf(bufLen) = x; bufLen += 1 }
    def emitVal(endEx: Int): Unit = {
      appendSeg(endEx)
      vals += UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, bufLen))
      bufLen = 0
    }
    def emitGroup(endEx: Int): Unit = {
      if (pendingClose) pendingClose = false // drop exactly one trailing ']'
      emitVal(endEx)
      groups += new GenericArrayData(vals.toArray)
      vals.clear()
      groupStarted = false
    }
    var i = 0
    while (i < n) {
      val c = b(i)
      if (pendingClose && c != ';') {
        appendByte(']'); pendingClose = false // not a terminator — keep as data
      }
      if (c == '\\' && i + 1 < n) {
        appendSeg(i); appendByte(b(i + 1)); i += 1; segStart = i + 1
      } else if (c == '[' && !groupStarted && bufLen == 0 && i == segStart && vals.isEmpty) {
        groupStarted = true; segStart = i + 1 // strip exactly one leading '['
      } else if (c == ']') {
        appendSeg(i); pendingClose = true; segStart = i + 1
      } else if (c == ';') {
        emitGroup(i); segStart = i + 1
      } else if (c == '|') {
        emitVal(i); segStart = i + 1
      } // else: plain data byte, stays in the pending segment
      i += 1
    }
    emitGroup(n)
    new GenericArrayData(groups.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseVals =
    copy(child = newChild)
}

object ParseVals {
  val Name = "graft_parse_vals"

  /** Column API, self-contained. */
  def apply(payload: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(ParseVals(GraftExpressionBridge.expression(payload)))
  }

  /** Escape a raw value for embedding in the `vals=` grammar (generator /
    * test-fixture side; the parser above inverts it).
    */
  def escapeValue(raw: String): String = {
    val sb = new java.lang.StringBuilder(raw.length + 4)
    raw.foreach {
      case c @ ('\\' | '|' | ';' | '[' | ']') => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.toString
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parse stage — the vectorized analog of the reference's event decoder +
  * dispatcher (`parser/parser/binlog_to_messages.go:19-100`).
  *
  * Pure column expressions (all codegen'd built-ins: regexp_extract, split,
  * transform, upper/trim/startswith) so the whole stage stays inside one
  * WholeStageCodegen span and costs one pass over `text`. The original
  * `text` column is passed through untouched (north-rule byte-identity
  * invariant).
  *
  * Output columns added:
  *  - kind:        'insert'|'update'|'delete'|'query'|'commit'|'' (noise)
  *  - stmt:        raw SQL after `stmt=` (query lines only, else '')
  *  - suppressed:  BEGIN / SAVEPOINT classification
  *                 (`binlog_to_messages.go:21-39`)
  *  - xid:         commit id (commit lines only, else null)
  *  - vals:        array<array<string>> — physical rows, each a positional
  *                 value list (the RowsEvent.Rows analog)
  *  - rows_declared: the `rows=N` header field (cross-check for vals size)
  */
object Parse {

  private val Kinds = Seq("insert", "update", "delete", "query", "commit")

  /** BEGIN swallowed; `SAVEPOINT …` prefix swallowed — exact classification
    * from `binlog_to_messages.go:25-28` (ToUpper ∘ Trim, HasPrefix).
    */
  def isSuppressed(stmt: Column): Column = {
    val norm = upper(trim(stmt))
    (norm === "BEGIN") || norm.startsWith("SAVEPOINT")
  }

  /** Field extraction uses locate/substring (offset arithmetic over
    * UTF8String, no copies, fully codegen'd) instead of per-field regexes:
    * each `regexp_extract` re-executes its automaton per column reference,
    * which profiled ~9× slower over 4M turns. Grammar fields are
    * prefix-delimited (`kind …`, `stmt=`, `xid=`, `rows=`, `vals=`) so
    * substring extraction is exact.
    */
  private def tail(marker: String): Column =
    when(locate(marker, col("text")) > 0,
      substring(col("text"), locate(marker, col("text")) + marker.length, lit(Int.MaxValue)))

  /** The leading space-delimited token after `marker`, TRY-cast to `to`: a
    * malformed value (`xid=abc`) becomes null instead of failing the whole
    * query under ANSI casts; trailing fields (`xid=5 extra`) are ignored.
    */
  private def leadingToken(marker: String, to: String): Column =
    substring_index(tail(marker), " ", 1).try_cast(to)

  /** The dispatch half of the parse: kind + commit xid — exactly the
    * columns transaction stamping consumes. The pipeline runs the txn-stamp
    * shuffle (batch window or streaming state) on THIS narrow frame and
    * defers the wide payload parse ([[withVals]]) to after it: `vals`
    * (array<array<string>>) serializes to roughly the text's bytes again
    * plus per-element offsets, so parsing it pre-shuffle ~doubled every
    * shuffled row (guide §2.3 "project before the exchange"). A commit
    * without a usable xid gets a null xid, which both stamps skip.
    */
  def parseKind(turns: DataFrame): DataFrame = {
    // "EVENT <kind> ..." -> <kind>, whitelisted (word-boundary analog)
    val kindRaw = substring_index(substring(col("text"), 7, 7), " ", 1)
    val kind = when(col("text").startsWith("EVENT ") && kindRaw.isin(Kinds: _*), kindRaw)
      .otherwise("")
    turns
      .withColumn("kind", kind)
      .withColumn("xid",
        when(col("kind") === "commit", leadingToken("xid=", "long")))
  }

  /** The payload half of the parse, over [[parseKind]]'s output:
    * stmt/suppressed + the `vals` row decode — pure row-local work any
    * stage can host, so the pipeline runs it after the txn stamp.
    */
  def withVals(parsedKind: DataFrame): DataFrame = {
    // "[a|b];[c|d]" -> [["a","b"],["c","d"]] — fused one-pass parser with
    // exactly-one-bracket strip + backslash escaping (see ParseVals; the
    // old transform(split(…), trim(…, "[]")) HOF chain was ~80 of 109 map-
    // stage core-seconds and stripped bracket RUNS, diverging from the
    // oracle on bracket-adjacent values).
    val vals = graft.functions.ParseVals(tail("vals="))
    parsedKind
      .withColumn("stmt", coalesce(tail("stmt="), lit("")))
      .withColumn("suppressed", col("kind") === "query" && isSuppressed(col("stmt")))
      .withColumn("rows_declared",
        when(col("kind").isin("insert", "update", "delete"),
          leadingToken("rows=", "int")))
      .withColumn("vals",
        when(col("kind").isin("insert", "update", "delete"), vals))
  }

  /** RFC3339 UTC event time — `messages/message.go:24-32`
    * (`time.Unix(ts,0).UTC().Format(time.RFC3339)`). Requires
    * spark.sql.session.timeZone=UTC.
    */
  def eventTime(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
}

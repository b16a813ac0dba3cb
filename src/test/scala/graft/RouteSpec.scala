package graft

import graft.operators.{Agg, Route, TxnStamp, Parse}
import graft.sources.Transcripts
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Routing semantics — message multiplicity, txn stamping, filters.
  * Mirrors `conversion_test.go`, `consumer_chain_test.go` and fixture 07.
  */
class RouteSpec extends SparkSpec {

  // A conversation shaped like fixture mysql-bin.07: two row events, then
  // one commit → both share the commit's xid but keep their own positions.
  private val fixture07 = Seq(
    ("c7", 1, "user", "EVENT query stmt=BEGIN", "search"),
    ("c7", 2, "user", "EVENT insert rows=1 vals=[1|a|b]", "search"),
    ("c7", 3, "user", "EVENT insert rows=1 vals=[2|c|d]", "search"),
    ("c7", 4, "user", "EVENT commit xid=456", "search"))

  private def routed(rows: Seq[(String, Int, String, String, String)],
      cfg: PipelineConfig = PipelineConfig()) =
    Pipeline.routed(mkTurns(rows), Transcripts.lookup(spark), cfg)

  test("fixture-07 semantics: shared commit xid, distinct positions (07.json:17-18,34-35)") {
    val out = routed(fixture07).collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Long]("txn_id") == 456L))
    assert(out.map(_.getAs[Long]("position")).sorted.toSeq == Seq(2L, 3L))
  }

  test("BEGIN suppressed; commit itself emits no message") {
    val out = routed(fixture07)
    assert(out.filter(col("event_type") === "Query").count() == 0)
  }

  test("insert with R physical rows yields R messages (conversion.go:110-118)") {
    val out = routed(Seq(
      ("c1", 1, "user", "EVENT insert rows=2 vals=[1|a|b];[2|c|d]", "search"),
      ("c1", 2, "user", "EVENT commit xid=9", "search")))
    assert(out.count() == 2)
    assert(out.collect().forall(_.getAs[String]("event_type") == "Insert"))
  }

  test("update pairs old/new into one message (conversion.go:91-108)") {
    val out = routed(Seq(
      ("c1", 1, "user", "EVENT update rows=2 vals=[1|ACME|old];[1|ACME|new]", "search"),
      ("c1", 2, "user", "EVENT commit xid=5", "search"))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("event_type") == "Update")
    assert(r.getAs[String]("old_repr").contains("old"))
    assert(r.getAs[String]("new_repr").contains("new"))
  }

  test("update sides carry their OWN mismatch notices (row_data.go:15 per-row detectMismatch, ADVICE r03)") {
    // old row is SHORTER than field_names (3: building_no/building_name/
    // address), new row is clean → OldData gets the shorter-row notice,
    // NewData gets none. The synthetic corpus never produces asymmetric
    // pairs, so this is the one place the per-side split is exercised.
    val out = routed(Seq(
      ("c1", 1, "user", "EVENT update rows=2 vals=[1|ACME];[1|ACME|new]", "search"),
      ("c1", 2, "user", "EVENT commit xid=5", "search"))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("mapping_notice") == graft.model.Model.NoticeRowShorter)
    assert(r.getAs[String]("new_mapping_notice") == "")
    // and the compact rendering places each notice on its own side
    val doc = graft.functions.CanonicalJson.fromRouted(
      routed(Seq(
        ("c1", 1, "user", "EVENT update rows=2 vals=[1|ACME];[1|ACME|new]", "search"),
        ("c1", 2, "user", "EVENT commit xid=5", "search"))),
      pretty = false).collect().head
    val oldData = doc.substring(doc.indexOf("\"OldData\""), doc.indexOf("\"NewData\""))
    val newData = doc.substring(doc.indexOf("\"NewData\""))
    assert(oldData.contains("\"MappingNotice\":\"row is missing field(s), ignoring missing\""))
    assert(newData.contains("\"MappingNotice\":\"\""))
  }

  test("odd update rows quarantined, not crashed (reference panics, conversion.go:92-94)") {
    val out = routed(Seq(
      ("c1", 1, "user", "EVENT update rows=3 vals=[1|a|x];[1|a|y];[1|a|z]", "search"),
      ("c1", 2, "user", "EVENT commit xid=5", "search")))
    assert(out.count() == 0)
  }

  test("uncommitted row events dropped (buffer never drained at EOF)") {
    val out = routed(Seq(("c1", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search")))
    assert(out.count() == 0)
  }

  test("unmapped (role,tool) dropped with count (binlog_to_messages.go:84-87)") {
    val turns = mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "zzz"),
      ("c1", 2, "user", "EVENT commit xid=1", "zzz")))
    assert(Pipeline.routed(turns, Transcripts.lookup(spark)).count() == 0)
    val ledger = Agg.reconcile(Pipeline.enriched(turns, Transcripts.lookup(spark))).collect().head
    assert(ledger.getAs[Long]("dropped_unmapped") == 1L)
  }

  test("query message: tool (unknown), txn_id 0 (conversion.go:25-40)") {
    val out = routed(Seq(
      ("c1", 1, "assistant", "EVENT query stmt=DROP TABLE x", ""))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("event_type") == "Query")
    assert(r.getAs[String]("tool") == "(unknown)")
    assert(r.getAs[Long]("txn_id") == 0L)
    assert(r.getAs[String]("query") == "DROP TABLE x")
  }

  test("include filters: pass-if-blank (consumer_chain.go:83-101)") {
    val rows = Seq(
      ("c1", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search"),
      ("c1", 2, "user", "EVENT insert rows=1 vals=[1|a|b]", "db"),
      ("c1", 3, "user", "EVENT commit xid=1", "search"),
      ("c2", 1, "", "EVENT query stmt=SELECT 1", ""))
    // tool filter [search]: keeps the search insert; query tool is
    // "(unknown)" -> filtered; blank-role row passes role filters
    assert(routed(rows, PipelineConfig(includeTools = Seq("search"))).count() == 1)
    // role filter on an unknown role keeps only the blank-role query
    val r2 = routed(rows, PipelineConfig(includeRoles = Seq("somebody"))).collect()
    assert(r2.length == 1 && r2.head.getAs[String]("event_type") == "Query")
    // filter-all -> empty output (01-no-events.json analog)
    assert(routed(rows, PipelineConfig(includeTools = Seq("unknown_tool"))).count() == 0)
    // no filters: 2 inserts + 1 query
    assert(routed(rows).count() == 3)
  }

  test("routed text is byte-identical to input text on every row") {
    val weird = "EVENT insert rows=1 vals=[1|héllo 世界 🚀|z]"
    val out = routed(Seq(
      ("c1", 1, "user", weird, "search"),
      ("c1", 2, "user", "EVENT commit xid=2", "search"))).collect()
    assert(out.length == 1 && out.head.getAs[String]("text") == weird)
  }

  test("fused RouteMsgs ≡ the legacy CASE/transform/element_at message tree") {
    // the expression tree RouteMsgs replaced, rebuilt verbatim — every
    // branch (query kept/suppressed, insert multi-row, delete, update
    // pairing incl. per-side notices, odd-update quarantine, mismatch
    // renames, unmapped, uncommitted, noise) exercised by the fixture
    val entriesType = "array<struct<k:string,v:string>>"
    val nullStr = lit(null).cast("string")
    val nullEntries = lit(null).cast(entriesType)
    def msgStruct(et: Column, rr: Column, or: Column, nr: Column, no: Column,
        nn: Column, q: Column, re: Column, oe: Column, ne: Column): Column =
      struct(et.as("event_type"), rr.as("row_repr"), or.as("old_repr"),
        nr.as("new_repr"), no.as("mapping_notice"), nn.as("new_mapping_notice"),
        q.as("query"), re.as("row_entries"), oe.as("old_entries"),
        ne.as("new_entries"))
    val names = col("field_names")
    val vals = col("vals")
    val committed = col("matched") && col("txn_id").isNotNull
    val queryKept = (col("kind") === "query") && !col("suppressed")
    val insertDelete = col("kind").isin("insert", "delete") && committed
    val updateOk = (col("kind") === "update") && committed &&
      (size(vals) >= 2) && (size(vals) % 2 === 0)
    val mapped = graft.functions.MapRows(names, vals)
    val legacy = when(queryKept, array(msgStruct(lit("Query"), nullStr,
        nullStr, nullStr, lit(""), nullStr, col("stmt"), nullEntries,
        nullEntries, nullEntries)))
      .when(insertDelete, transform(mapped, m => msgStruct(
        when(col("kind") === "insert", "Insert").otherwise("Delete"),
        m.getField("repr"), nullStr, nullStr, m.getField("notice"), nullStr,
        nullStr, m.getField("entries"), nullEntries, nullEntries)))
      .when(updateOk, transform(
        sequence(lit(0), (size(vals) / 2).cast("int") - 1),
        i => msgStruct(lit("Update"), nullStr,
          element_at(mapped, i * 2 + 1).getField("repr"),
          element_at(mapped, i * 2 + 2).getField("repr"),
          element_at(mapped, i * 2 + 1).getField("notice"),
          element_at(mapped, i * 2 + 2).getField("notice"),
          nullStr, nullEntries,
          element_at(mapped, i * 2 + 1).getField("entries"),
          element_at(mapped, i * 2 + 2).getField("entries"))))
      .otherwise(array().cast(s"array<struct<event_type:string,row_repr:string,old_repr:string,new_repr:string,mapping_notice:string,new_mapping_notice:string,query:string,row_entries:$entriesType,old_entries:$entriesType,new_entries:$entriesType>>"))
    val fused = graft.functions.RouteMsgs(col("kind"), col("suppressed"),
      col("stmt"), names, vals, committed)
    val enriched = Pipeline.enriched(mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=2 vals=[1|a|b];[2|c|d]", "search"),
      ("c1", 2, "user", "EVENT insert rows=1 vals=[1|too|many|cols]", "search"),
      ("c1", 3, "user", "EVENT delete rows=1 vals=[1|x]", "search"),
      ("c1", 4, "user", "EVENT update rows=2 vals=[1|a|b];[1|a|c]", "search"),
      ("c1", 5, "user", "EVENT update rows=3 vals=[1|a|b];[1|a|c];[odd|row]", "search"),
      ("c1", 6, "user", "EVENT update rows=2 vals=[1|a|b|extra];[1|short]", "search"),
      ("c1", 7, "user", "EVENT query stmt=CREATE TABLE t1 (id INT)", "search"),
      ("c1", 8, "user", "EVENT query stmt=BEGIN", "search"),
      ("c1", 9, "user", "EVENT query stmt= SAVEPOINT sp1", "search"),
      ("c1", 10, "user", "note noise", "search"),
      ("c1", 11, "user", "EVENT commit xid=77", "search"),
      ("c1", 12, "user", "EVENT insert rows=1 vals=[9|un|committed]", "search"),
      ("c2", 1, "user", "EVENT insert rows=1 vals=[1|un|mapped]", "nosuchtool"),
      ("c2", 2, "user", "EVENT commit xid=78", "search"))),
      Transcripts.lookup(spark))
    val both = enriched.select(col("conv_id"), col("turn_idx"),
      legacy.as("legacy"), fused.as("fused"))
    val diff = both.filter(
      !(col("legacy") <=> col("fused"))).collect()
    assert(diff.isEmpty, s"RouteMsgs diverges from legacy tree: ${diff.mkString("\n")}")
  }

  test("RouteMsgs rejects a mis-typed vals at analysis, before any row runs") {
    // vals must be array<array<string>>: a flat array<string> fails the
    // plan instead of throwing ClassCastException per row
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(graft.functions.RouteMsgs(lit("insert"), lit(false),
        lit(""), array(lit("id")), array(lit("1")), lit(true)))
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    assert(e.getMessage.contains("ARRAY<ARRAY<STRING>>"), e.getMessage)
  }

  test("conservation ledger: every turn accounted (F09/A1)") {
    val enriched = Pipeline.enriched(
      Transcripts.fromEvents(spark, "/root/testdata/sf0.001"),
      Transcripts.lookup(spark))
    val l = Agg.reconcile(enriched).collect().head
    val turns = l.getAs[Long]("turns")
    val parts = l.getAs[Long]("row_events") + l.getAs[Long]("query_kept") +
      l.getAs[Long]("query_suppressed") + l.getAs[Long]("commits") + l.getAs[Long]("noise")
    assert(turns == parts)
    assert(turns == 1000L)
  }
}

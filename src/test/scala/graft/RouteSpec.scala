package graft

import graft.operators.{Agg, Route, TxnStamp, Parse}
import graft.sources.Transcripts
import org.apache.spark.sql.Row
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

  /** One routed message, as the reference rules below and [[Route.messages]]
    * both produce it; entries are `(k, v)` pairs.
    */
  private case class Msg(conv: String, turn: Int, tool: String, eventType: String,
      txnId: Option[Long], rowRepr: String, oldRepr: String, newRepr: String,
      notice: String, newNotice: String, query: String,
      rowEntries: Option[Seq[(String, String)]],
      oldEntries: Option[Seq[(String, String)]],
      newEntries: Option[Seq[(String, String)]])

  /** The message rules of `conversion.go` + `row_data.go:8-54` in plain
    * Scala, one enriched turn at a time.
    */
  private def referenceMessages(r: Row): Seq[Msg] = {
    import graft.model.Model
    def entries(names: Seq[String], row: Seq[String]): Seq[(String, String)] = {
      val keys = if (row.size != names.size) row.indices.map(i => s"(unknown_$i)") else names
      keys.zip(row).sortBy(_._1)
    }
    def repr(e: Seq[(String, String)]) = e.map { case (k, v) => s"$k=$v" }.mkString(",")
    def notice(names: Seq[String], row: Seq[String]) =
      if (row.size > names.size) Model.NoticeRowLonger
      else if (row.size < names.size) Model.NoticeRowShorter
      else ""
    val conv = r.getAs[String]("conv_id")
    val turn = r.getAs[Int]("turn_idx")
    val tool = r.getAs[String]("tool")
    val kind = r.getAs[String]("kind")
    val names = Option(r.getAs[collection.Seq[String]]("field_names")).map(_.toSeq).orNull
    val vals = Option(r.getAs[collection.Seq[collection.Seq[String]]]("vals"))
      .map(_.map(_.toSeq).toSeq)
    val txn = Option(r.get(r.fieldIndex("txn_id"))).map(_.asInstanceOf[Long])
    val committed = r.getAs[Boolean]("matched") && txn.isDefined
    kind match {
      case "query" if !r.getAs[Boolean]("suppressed") =>
        Seq(Msg(conv, turn, Model.UnknownTable, "Query", Some(0L), null, null, null,
          "", null, r.getAs[String]("stmt"), None, None, None))
      case "insert" | "delete" if committed =>
        vals.getOrElse(Nil).map { row =>
          val e = entries(names, row)
          Msg(conv, turn, tool, kind.capitalize, txn, repr(e), null, null,
            notice(names, row), null, null, Some(e), None, None)
        }
      case "update" if committed && vals.exists(v => v.size >= 2 && v.size % 2 == 0) =>
        vals.get.grouped(2).toSeq.map { case Seq(o, n) =>
          val (oe, ne) = (entries(names, o), entries(names, n))
          Msg(conv, turn, tool, "Update", txn, null, repr(oe), repr(ne),
            notice(names, o), notice(names, n), null, None, Some(oe), Some(ne))
        }
      case _ => Nil
    }
  }

  private def routedMessage(r: Row): Msg = {
    def entries(c: String) = Option(r.getAs[collection.Seq[Row]](c))
      .map(_.map(e => e.getString(0) -> e.getString(1)).toSeq)
    Msg(r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"), r.getAs[String]("tool"),
      r.getAs[String]("event_type"),
      Option(r.get(r.fieldIndex("txn_id"))).map(_.asInstanceOf[Long]),
      r.getAs[String]("row_repr"), r.getAs[String]("old_repr"), r.getAs[String]("new_repr"),
      r.getAs[String]("mapping_notice"), r.getAs[String]("new_mapping_notice"),
      r.getAs[String]("query"),
      entries("row_entries"), entries("old_entries"), entries("new_entries"))
  }

  test("Route.messages ≡ a plain-Scala reference of the message rules") {
    // every branch — query kept/suppressed, insert multi-row, delete, update
    // pairing incl. per-side notices, odd-update quarantine, mismatch
    // renames, unmapped, uncommitted, noise — plus a prefix-key pair
    // (a vs a1) and an 11-value mismatch row where (unknown_10) sorts
    // before (unknown_2)
    val s = spark
    import s.implicits._
    val lookup = Transcripts.lookup(spark).union(
      Seq(("user", "prefixed", Seq("a1", "a", "b"))).toDF("role", "tool", "field_names"))
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
      ("c1", 11, "user", "EVENT insert rows=1 vals=[x|y|z]", "prefixed"),
      ("c1", 12, "user", "EVENT update rows=2 vals=[x|y|z];[x2|y2|z2]", "prefixed"),
      ("c1", 13, "user", "EVENT insert rows=1 vals=[v0|v1|v2|v3|v4|v5|v6|v7|v8|v9|v10]", "search"),
      ("c1", 14, "user", "EVENT commit xid=77", "search"),
      ("c1", 15, "user", "EVENT insert rows=1 vals=[9|un|committed]", "search"),
      ("c2", 1, "user", "EVENT insert rows=1 vals=[1|un|mapped]", "nosuchtool"),
      ("c2", 2, "user", "EVENT commit xid=78", "search"))), lookup)
    val expected = enriched.collect().toSeq.flatMap(referenceMessages).sortBy(_.toString)
    val routed = Route.messages(enriched).collect().toSeq.map(routedMessage).sortBy(_.toString)
    assert(routed == expected,
      s"Route.messages diverges from the reference:\n${routed.diff(expected).mkString("\n")}" +
        s"\nmissing:\n${expected.diff(routed).mkString("\n")}")
    val byTurn = routed.groupBy(_.turn)
    assert(byTurn(11).map(_.rowRepr) == Seq("a=y,a1=x,b=z"))
    assert(byTurn(12).map(m => (m.oldRepr, m.newRepr)) == Seq(("a=y,a1=x,b=z", "a=y2,a1=x2,b=z2")))
    assert(byTurn(13).head.rowRepr.startsWith(
      "(unknown_0)=v0,(unknown_1)=v1,(unknown_10)=v10,(unknown_2)=v2"), byTurn(13))
    assert(routed.size == 10, routed.mkString("\n"))
  }

  test("Route.messages rejects a mis-typed vals at analysis, before any row runs") {
    // vals must be array<array<string>>: a flat array<string> fails the
    // plan when the route frame is built, not per row in a job
    val bad = spark.range(1).select(lit("c1").as("conv_id"), lit(1).as("turn_idx"),
      lit("user").as("role"), lit("search").as("tool"), lit("x").as("text"),
      lit(t0).as("ts"), lit("insert").as("kind"), lit(false).as("suppressed"),
      lit("").as("stmt"), array(lit("id")).as("field_names"),
      array(lit("1")).as("vals"), lit(true).as("matched"), lit(1L).as("txn_id"))
    val e = intercept[org.apache.spark.sql.AnalysisException](Route.messages(bad))
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }

  test("routed schema: field names, types and nullability") {
    import org.apache.spark.sql.types._
    val entries = ArrayType(StructType(Seq(
      StructField("k", StringType), StructField("v", StringType))), containsNull = false)
    val expected = StructType(Seq(
      "conv_id" -> StringType, "turn_idx" -> IntegerType, "role" -> StringType,
      "tool" -> StringType, "event_type" -> StringType, "event_time" -> StringType,
      "position" -> LongType, "txn_id" -> LongType, "row_repr" -> StringType,
      "old_repr" -> StringType, "new_repr" -> StringType,
      "mapping_notice" -> StringType, "new_mapping_notice" -> StringType,
      "query" -> StringType, "row_entries" -> entries, "old_entries" -> entries,
      "new_entries" -> entries, "text" -> StringType).map { case (n, t) =>
      StructField(n, t, nullable = n != "turn_idx" && n != "position")
    })
    assert(routed(fixture07).schema == expected)
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

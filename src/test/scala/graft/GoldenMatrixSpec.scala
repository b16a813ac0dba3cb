package graft

import graft.checkpoint.Sinks
import graft.functions.CanonicalJson
import graft.operators.Agg
import graft.sources.Transcripts
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Golden-fixture matrix F02–F10 (FIXTURES.md §4) — the end-to-end analogs
  * of the reference's integration scenarios
  * (`parse_binlog_file_integration_test.go:38-81`), each asserting counts
  * plus byte-exact canonical JSON (`assertJson`, `:83-103`). F01 lives in
  * GoldenFixtureSpec; F04/F11 in SinksSpec; F09 in RouteSpec.
  */
class GoldenMatrixSpec extends SparkSpec {

  private def routedOf(rows: Seq[(String, Int, String, String, String)],
      cfg: PipelineConfig = PipelineConfig()) =
    Pipeline.routed(mkTurns(rows), Transcripts.lookup(spark), cfg)

  private def docsOf(rows: Seq[(String, Int, String, String, String)]): Array[String] =
    CanonicalJson.fromRouted(
      routedOf(rows).orderBy("turn_idx", "old_repr", "row_repr"), pretty = true).collect()

  // ----- F02: DDL query + arity mismatch (MORE values than names) --------
  // 02.json:22-28; row_data.go:46. (user, db) -> departments(dept_no,
  // dept_name): a 4-value row maps every value to (unknown_i).

  private val f02 = Seq(
    ("cf2", 1, "user", "EVENT query stmt=CREATE TABLE employees (emp_no INT UNSIGNED AUTO_INCREMENT NOT NULL)", "db"),
    ("cf2", 2, "user", "EVENT insert rows=1 vals=[7|Research|2017-04-13|x]", "db"),
    ("cf2", 3, "user", "EVENT commit xid=21", "db"))

  test("F02: longer-row mismatch maps all keys (unknown_i) with the exact notice (02.json:22-28)") {
    val docs = docsOf(f02)
    assert(docs.length == 2) // 1 Query + 1 Insert
    val expected =
      """{
        |    "Header": {
        |        "Schema": "user",
        |        "Table": "db",
        |        "BinlogMessageTime": "2017-04-13T06:34:30Z",
        |        "BinlogPosition": 2,
        |        "XId": 21
        |    },
        |    "Type": "Insert",
        |    "Data": {
        |        "Row": {
        |            "(unknown_0)": 7,
        |            "(unknown_1)": "Research",
        |            "(unknown_2)": "2017-04-13",
        |            "(unknown_3)": "x"
        |        },
        |        "MappingNotice": "column names array is missing field(s), will map them as unknown_*"
        |    }
        |}""".stripMargin
    assert(docs(1) == expected)
    val q = docs(0)
    assert(q.contains("\"Type\": \"Query\"") && q.contains("\"Table\": \"(unknown)\"")
      && q.contains("\"XId\": 0"))
  }

  // ----- F03: 3-row update sharing position + txn, empty-string values ---
  // mysql-bin.03 / 03.json:89-166.

  private val f03 = Seq(
    ("cf3", 1, "user", "EVENT update rows=6 vals=[2|ACME Sales|5000 North 1st Street CA 95134];[2|ACME Sales|];[3|foo2|bar2];[3|foo2|];[4|baz2|qoo2];[4|baz2|]", "search"),
    ("cf3", 2, "user", "EVENT commit xid=13", "search"))

  test("F03: 3-row update yields 3 messages sharing position+txn_id; empty strings round-trip (03.json:89-166)") {
    val routed = routedOf(f03).collect()
    assert(routed.length == 3)
    assert(routed.forall(_.getAs[String]("event_type") == "Update"))
    assert(routed.forall(_.getAs[Long]("position") == 1L))
    assert(routed.forall(_.getAs[Long]("txn_id") == 13L))
    val docs = docsOf(f03)
    val expectedSecond =
      """{
        |    "Header": {
        |        "Schema": "user",
        |        "Table": "search",
        |        "BinlogMessageTime": "2017-04-13T06:34:30Z",
        |        "BinlogPosition": 1,
        |        "XId": 13
        |    },
        |    "Type": "Update",
        |    "OldData": {
        |        "Row": {
        |            "address": "5000 North 1st Street CA 95134",
        |            "building_name": "ACME Sales",
        |            "building_no": 2
        |        },
        |        "MappingNotice": ""
        |    },
        |    "NewData": {
        |        "Row": {
        |            "address": "",
        |            "building_name": "ACME Sales",
        |            "building_no": 2
        |        },
        |        "MappingNotice": ""
        |    }
        |}""".stripMargin
    assert(docs.contains(expectedSecond))
    // all three new-rows lost their address to ""
    assert(docs.count(_.contains("\"address\": \"\"")) == 3)
  }

  // ----- F05: query-only conversation -----------------------------------

  private val f05 = Seq(
    ("cf5", 1, "system", "EVENT query stmt=DELETE FROM `test_db`.`filler`", "db"),
    ("cf5", 2, "system", "EVENT query stmt=DROP TABLE `filler` /* generated by server */", "db"),
    ("cf5", 3, "system", "EVENT query stmt=DROP TABLE `lookup` /* generated by server */", "db"))

  test("F05: query-only conversation routes 3 Query messages, txn_id=0, tool (unknown) (05.json)") {
    val routed = routedOf(f05).collect()
    assert(routed.length == 3)
    assert(routed.forall(r => r.getAs[String]("event_type") == "Query"
      && r.getAs[Long]("txn_id") == 0L
      && r.getAs[String]("tool") == "(unknown)"))
    val docs = docsOf(f05)
    val expectedFirst =
      """{
        |    "Header": {
        |        "Schema": "system",
        |        "Table": "(unknown)",
        |        "BinlogMessageTime": "2017-04-13T06:34:30Z",
        |        "BinlogPosition": 1,
        |        "XId": 0
        |    },
        |    "Type": "Query",
        |    "Query": "DELETE FROM `test_db`.`filler`"
        |}""".stripMargin
    assert(docs(0) == expectedFirst)
  }

  // ----- F06: schema drift — shorter row, then clean after "alter" -------
  // 06.json:33-38,60-69. (tool, web) -> language(language_id, name,
  // last_update, some_field).

  private val f06 = Seq(
    ("cf6", 1, "tool", "EVENT insert rows=1 vals=[70|German|2017-04-24 05:45:11]", "web"),
    ("cf6", 2, "tool", "EVENT commit xid=11", "web"),
    ("cf6", 3, "tool", "EVENT query stmt=alter table language add some_field varchar(255) default NULL", "web"),
    ("cf6", 4, "tool", "EVENT insert rows=1 vals=[71|German|2017-04-24 05:45:41|some value]", "web"),
    ("cf6", 5, "tool", "EVENT commit xid=13", "web"))

  test("F06: shorter-row mismatch then clean insert — both renderings byte-exact (06.json:33-38,60-69)") {
    val docs = docsOf(f06)
    assert(docs.length == 3) // Insert, Query, Insert
    val expectedShort =
      """{
        |    "Header": {
        |        "Schema": "tool",
        |        "Table": "web",
        |        "BinlogMessageTime": "2017-04-13T06:34:30Z",
        |        "BinlogPosition": 1,
        |        "XId": 11
        |    },
        |    "Type": "Insert",
        |    "Data": {
        |        "Row": {
        |            "(unknown_0)": 70,
        |            "(unknown_1)": "German",
        |            "(unknown_2)": "2017-04-24 05:45:11"
        |        },
        |        "MappingNotice": "row is missing field(s), ignoring missing"
        |    }
        |}""".stripMargin
    val expectedClean =
      """{
        |    "Header": {
        |        "Schema": "tool",
        |        "Table": "web",
        |        "BinlogMessageTime": "2017-04-13T06:34:30Z",
        |        "BinlogPosition": 4,
        |        "XId": 13
        |    },
        |    "Type": "Insert",
        |    "Data": {
        |        "Row": {
        |            "language_id": 71,
        |            "last_update": "2017-04-24 05:45:41",
        |            "name": "German",
        |            "some_field": "some value"
        |        },
        |        "MappingNotice": ""
        |    }
        |}""".stripMargin
    assert(docs(0) == expectedShort)
    assert(docs(2) == expectedClean)
  }

  // ----- F08: include filters end-to-end (keep-one / keep-none) ----------
  // parse_binlog_file_integration_test.go:51-54; 01-include-table.json /
  // 01-no-events.json (0 bytes).

  private val f08 = Seq(
    ("cf8", 1, "user", "EVENT insert rows=1 vals=[1|B|A]", "search"),
    ("cf8", 2, "assistant", "EVENT insert rows=1 vals=[1|R|1]", "calc"),
    ("cf8", 3, "user", "EVENT commit xid=5", "search"),
    ("cf8", 4, "assistant", "EVENT commit xid=6", "calc"))

  test("F08: include-table filter keeps one sink; unmatched filter keeps none (01-no-events.json)") {
    val keepOne = routedOf(f08, PipelineConfig(includeTools = Seq("search"))).collect()
    assert(keepOne.length == 1 && keepOne.head.getAs[String]("tool") == "search")
    val keepNone = routedOf(f08, PipelineConfig(includeTools = Seq("does_not_exist")))
    assert(keepNone.count() == 0)
    val roleFiltered = routedOf(f08, PipelineConfig(includeRoles = Seq("assistant"))).collect()
    assert(roleFiltered.length == 1 && roleFiltered.head.getAs[String]("role") == "assistant")
  }

  // ----- F10: UTF-8 stress — byte-identical text, raw UTF-8 in JSON ------

  private val f10 = Seq(
    ("cf10", 1, "user", "EVENT insert rows=1 vals=[1|héllo 😀|中文​]", "search"),
    ("cf10", 2, "user", "EVENT commit xid=7", "search"),
    ("cf10", 3, "user", "note free text 🚀 中文 <&> end", "search"))

  test("F10: emoji/CJK/zero-width survive byte-identical; JSON passes UTF-8 through, escapes HTML") {
    val routed = routedOf(f10)
    val texts = routed.select("text").collect().map(_.getString(0))
    assert(texts.toSeq == Seq(f10.head._4)) // noise emits no message; insert text intact
    val doc = CanonicalJson.fromRouted(routed, pretty = true).collect().head
    assert(doc.contains("\"building_name\": \"héllo 😀\""))
    assert(doc.contains("\"address\": \"中文​\""))
  }

  // ----- K1: NDJSON file sink (streamCollector, consumer_chain.go:61-81) -

  test("K1: writeNdjson emits newline-delimited compact json.Marshal docs (CLI default mode)") {
    val dir = tempDir("graft-ndjson")
    val routed = routedOf(f02).orderBy("turn_idx").coalesce(1)
    Sinks.writeNdjson(routed, dir, pretty = false)
    val part = Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.head
    val content = new String(Files.readAllBytes(part), "UTF-8")
    val expected = CanonicalJson.fromRouted(routedOf(f02).orderBy("turn_idx"), pretty = false)
      .collect().mkString("", "\n", "\n")
    assert(content == expected)
    assert(content.linesIterator.size == 2) // one line per message
    assert(content.startsWith("{\"Header\":{\"Schema\":\"user\",\"Table\":\"(unknown)\","))
  }

  test("S1b: NDJSON turns source round-trips the parquet-derived pipeline output") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-ndjson-src")
    mkTurns(f01ish).withColumn("ts",
      org.apache.spark.sql.functions.col("ts").cast("string"))
      .coalesce(1).write.mode("overwrite").json(dir)
    val viaJson = Pipeline.routed(
      graft.sources.Transcripts.fromNdjson(spark, dir), Transcripts.lookup(spark))
    val viaMem = Pipeline.routed(mkTurns(f01ish), Transcripts.lookup(spark))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
        r.getAs[String]("event_type"), r.getAs[String]("row_repr"),
        r.getAs[Long]("txn_id"), r.getAs[String]("text"))
    assert(viaJson.collect().map(key).sortBy(_.toString).toSeq
      == viaMem.collect().map(key).sortBy(_.toString).toSeq)
  }

  private val f01ish = Seq(
    ("cs1", 1, "user", "EVENT insert rows=1 vals=[1|ACME|x]", "search"),
    ("cs1", 2, "user", "EVENT query stmt=DROP TABLE x", "search"),
    ("cs1", 3, "user", "EVENT commit xid=9", "search"))

  test("K1: pretty NDJSON stream matches the reference's -prettyprint concatenation") {
    val dir = tempDir("graft-ndjson-pretty")
    val routed = routedOf(f05).orderBy("turn_idx").coalesce(1)
    Sinks.writeNdjson(routed, dir, pretty = true)
    val part = Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.head
    val content = new String(Files.readAllBytes(part), "UTF-8")
    val docs = CanonicalJson.fromRouted(routedOf(f05).orderBy("turn_idx"), pretty = true).collect()
    assert(content == docs.mkString("", "\n", "\n"))
  }
}

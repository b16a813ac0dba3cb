package graft

import graft.functions.CanonicalJson
import graft.sources.Transcripts

/** Golden-serialization spec: byte-exact against the reference fixture
  * shapes (`data/fixtures/01.json`, `05.json`, `06.json`).
  */
class CanonicalJsonSpec extends SparkSpec {

  test("Insert message renders exactly like fixture 01.json:1-18") {
    val got = CanonicalJson.render(
      role = "test_db", tool = "buildings",
      eventTime = "2017-04-13T06:34:30Z", position = 397L, txnId = 9L,
      eventType = "Insert",
      rowEntries = Seq(
        ("address", "3950 North 1st Street CA 95134"),
        ("building_name", "ACME Headquaters"),
        ("building_no", "1")),
      oldEntries = Nil, newEntries = Nil, notice = "", query = null)
    val expected =
      """{
        |    "Header": {
        |        "Schema": "test_db",
        |        "Table": "buildings",
        |        "BinlogMessageTime": "2017-04-13T06:34:30Z",
        |        "BinlogPosition": 397,
        |        "XId": 9
        |    },
        |    "Type": "Insert",
        |    "Data": {
        |        "Row": {
        |            "address": "3950 North 1st Street CA 95134",
        |            "building_name": "ACME Headquaters",
        |            "building_no": 1
        |        },
        |        "MappingNotice": ""
        |    }
        |}""".stripMargin
    assert(got == expected)
  }

  test("Query message renders exactly like fixture 05.json (Table (unknown), XId 0)") {
    val got = CanonicalJson.render(
      role = "test_db", tool = "(unknown)",
      eventTime = "2017-04-24T04:32:20Z", position = 220L, txnId = 0L,
      eventType = "Query", rowEntries = Nil, oldEntries = Nil, newEntries = Nil,
      notice = "", query = "DELETE FROM `test_db`.`filler`")
    val expected =
      """{
        |    "Header": {
        |        "Schema": "test_db",
        |        "Table": "(unknown)",
        |        "BinlogMessageTime": "2017-04-24T04:32:20Z",
        |        "BinlogPosition": 220,
        |        "XId": 0
        |    },
        |    "Type": "Query",
        |    "Query": "DELETE FROM `test_db`.`filler`"
        |}""".stripMargin
    assert(got == expected)
  }

  test("Update message carries OldData/NewData like fixture 01.json:135-152") {
    val got = CanonicalJson.render(
      role = "test_db", tool = "rooms",
      eventTime = "2017-04-13T06:34:45Z", position = 1217L, txnId = 12L,
      eventType = "Update",
      rowEntries = Nil,
      oldEntries = Seq(("building_no", "2"), ("room_name", "Marketing"), ("room_no", "4")),
      newEntries = Seq(("building_no", "2"), ("room_name", "MARKETING"), ("room_no", "4")),
      notice = "", query = null)
    assert(got.contains("\"Type\": \"Update\""))
    assert(got.contains(
      """    "OldData": {
        |        "Row": {
        |            "building_no": 2,
        |            "room_name": "Marketing",
        |            "room_no": 4
        |        },
        |        "MappingNotice": ""
        |    },""".stripMargin))
    assert(got.contains("\"room_name\": \"MARKETING\""))
  }

  test("Go-compatible escaping: HTML chars, control chars, UTF-8 passthrough") {
    assert(CanonicalJson.escape("a<b>c&d") == "a\\u003cb\\u003ec\\u0026d")
    assert(CanonicalJson.escape("tab\there\nnl\"q\\s") == "tab\\there\\nnl\\\"q\\\\s")
    assert(CanonicalJson.escape("héllo 世界 🚀") == "héllo 世界 🚀")
    assert(CanonicalJson.escape(1.toChar.toString) == "\\u0001")
  }

  test("integer-looking values render unquoted; others quoted (01.json:14 vs :12)") {
    assert(CanonicalJson.renderValue("1") == "1")
    assert(CanonicalJson.renderValue("-42") == "-42")
    assert(CanonicalJson.renderValue("v17") == "\"v17\"")
    assert(CanonicalJson.renderValue("") == "\"\"")
    assert(CanonicalJson.renderValue("2017-04-24") == "\"2017-04-24\"")
  }

  test("compact json.Marshal mode is byte-exact — the reference CLI default (consumer_chain.go:103-109)") {
    val got = CanonicalJson.renderCompact(
      role = "test_db", tool = "buildings",
      eventTime = "2017-04-13T06:34:30Z", position = 397L, txnId = 9L,
      eventType = "Insert",
      rowEntries = Seq(
        ("address", "3950 North 1st Street CA 95134"),
        ("building_name", "ACME Headquaters"),
        ("building_no", "1")),
      oldEntries = Nil, newEntries = Nil, notice = "", query = null)
    val expected =
      """{"Header":{"Schema":"test_db","Table":"buildings","BinlogMessageTime":"2017-04-13T06:34:30Z","BinlogPosition":397,"XId":9},"Type":"Insert","Data":{"Row":{"address":"3950 North 1st Street CA 95134","building_name":"ACME Headquaters","building_no":1},"MappingNotice":""}}"""
    assert(got == expected)
    val q = CanonicalJson.renderCompact("db", "(unknown)", "2017-04-24T04:32:20Z",
      220L, 0L, "Query", Nil, Nil, Nil, "", "DELETE FROM `x`")
    assert(q == """{"Header":{"Schema":"db","Table":"(unknown)","BinlogMessageTime":"2017-04-24T04:32:20Z","BinlogPosition":220,"XId":0},"Type":"Query","Query":"DELETE FROM `x`"}""")
    assert(!q.contains("\n"))
  }

  test("leading-zero and -0 values stay quoted; genuine ints do not (ADVICE r01)") {
    assert(CanonicalJson.renderValue("007") == "\"007\"")
    assert(CanonicalJson.renderValue("-0") == "\"-0\"")
    assert(CanonicalJson.renderValue("0") == "0")
    assert(CanonicalJson.renderValue("10") == "10")
    assert(CanonicalJson.renderValue("-42") == "-42")
  }

  test("compact expression twin (jsonColumnCompact) equals the Scala renderer") {
    val turns = mkTurns(Seq(
      ("c2", 1, "user", "EVENT insert rows=2 vals=[1|A <&> \"q\"|x];[2|héllo 世界|y]", "search"),
      ("c2", 2, "user", "EVENT update rows=2 vals=[1|a|old];[1|a|new]", "search"),
      // asymmetric pair: old shorter than field_names, new clean — the
      // per-SIDE notice split (ADVICE r03) must agree between renderers
      ("c2", 3, "user", "EVENT update rows=2 vals=[1|a];[1|a|new]", "search"),
      ("c2", 4, "user", "EVENT query stmt=DROP TABLE `x`", "search"),
      ("c2", 5, "user", "EVENT commit xid=5", "search")))
    val routed = Pipeline.routed(turns, Transcripts.lookup(spark))
      .orderBy("turn_idx", "row_repr")
    val viaMap = CanonicalJson.fromRouted(routed, pretty = false).collect()
    val viaExpr = routed.select(CanonicalJson.jsonColumnCompact.as("j"))
      .collect().map(_.getString(0))
    assert(viaMap.length == 5)
    viaMap.zip(viaExpr).foreach { case (a, b) => assert(a == b) }
  }

  test("expression-level serializer (codegen'd GoJsonEscape) equals the Scala renderer") {
    val turns = mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=2 vals=[1|ACME <&> \"q\"|x];[2|héllo 世界|y]", "search"),
      ("c1", 2, "user", "EVENT update rows=2 vals=[1|a|old];[1|a|new]", "search"),
      ("c1", 3, "user", "EVENT query stmt=DROP TABLE `x`", "search"),
      ("c1", 4, "assistant", "EVENT insert rows=1 vals=[1|too]", "web"), // arity mismatch + notice
      ("c1", 5, "user", "EVENT update rows=2 vals=[1|a];[1|a|new]", "search"), // per-side notices
      ("c1", 6, "user", "EVENT commit xid=77", "search")))
    val routed = Pipeline.routed(turns, Transcripts.lookup(spark))
      .orderBy("turn_idx", "position")
    val viaMap = CanonicalJson.fromRouted(routed).collect()
    val viaExpr = routed.select(CanonicalJson.jsonColumn.as("j"))
      .collect().map(_.getString(0))
    assert(viaMap.length == viaExpr.length && viaMap.length == 6)
    viaMap.zip(viaExpr).foreach { case (a, b) => assert(a == b) }
  }

  test("fromRouted produces one parseable document per routed message") {
    val turns = mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=1 vals=[1|ACME|x]", "search"),
      ("c1", 2, "user", "EVENT query stmt=DROP TABLE x", "search"),
      ("c1", 3, "user", "EVENT commit xid=9", "search")))
    val routed = Pipeline.routed(turns, Transcripts.lookup(spark))
    val docs = CanonicalJson.fromRouted(routed).collect()
    assert(docs.length == 2)
    assert(docs.exists(_.contains("\"Type\": \"Insert\"")))
    assert(docs.exists(_.contains("\"Type\": \"Query\"")))
    assert(docs.forall(d => d.startsWith("{\n") && d.endsWith("\n}")))
  }
}

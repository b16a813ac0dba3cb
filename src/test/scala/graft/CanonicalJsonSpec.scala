package graft

import graft.checkpoint.Sinks
import graft.functions.CanonicalJson
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

object CanonicalJsonSpec {
  case class KV(k: String, v: String)
  /** One routed message, under the routed frame's column names. */
  case class RoutedMsg(role: String, tool: String, event_time: String,
      position: Long, txn_id: Long, event_type: String,
      row_entries: Seq[KV], old_entries: Seq[KV], new_entries: Seq[KV],
      mapping_notice: String, new_mapping_notice: String, query: String)
}

/** Golden-serialization spec: byte-exact against the reference fixture
  * shapes (`data/fixtures/01.json`, `05.json`, `06.json`).
  */
class CanonicalJsonSpec extends SparkSpec {
  import CanonicalJsonSpec._

  private def routedOf(msgs: Seq[RoutedMsg]) = {
    val s = spark
    import s.implicits._
    msgs.toDF()
  }

  /** One message's document, rendered by `fromRouted` over a one-row frame. */
  private def render(role: String, tool: String, eventTime: String,
      position: Long, txnId: Long, eventType: String,
      rowEntries: Seq[(String, String)], oldEntries: Seq[(String, String)],
      newEntries: Seq[(String, String)], notice: String, query: String,
      pretty: Boolean = true): String = {
    def kvs(es: Seq[(String, String)]) = es.map { case (k, v) => KV(k, v) }
    val m = RoutedMsg(role, tool, eventTime, position, txnId, eventType,
      kvs(rowEntries), kvs(oldEntries), kvs(newEntries), notice, null, query)
    CanonicalJson.fromRouted(routedOf(Seq(m)), pretty).head()
  }

  /** How `v` renders as a Row value; both modes must agree. */
  private def renderValue(v: String): String = {
    def doc(pretty: Boolean) = render("r", "t", "e", 0L, 0L, "Insert",
      Seq(("k", v)), Nil, Nil, "", null, pretty)
    val compact = doc(pretty = false)
    val pretty = doc(pretty = true)
    val c = compact.substring(compact.indexOf("{\"k\":") + 5,
      compact.lastIndexOf("},\"MappingNotice\""))
    val p = pretty.substring(pretty.indexOf("\"k\": ") + 5,
      pretty.lastIndexOf("\n        },\n        \"MappingNotice\""))
    assert(c == p, s"compact $c vs pretty $p")
    c
  }

  test("Insert message renders exactly like fixture 01.json:1-18") {
    val got = render(
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
    val got = render(
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
    val got = render(
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
    assert(renderValue("1") == "1")
    assert(renderValue("-42") == "-42")
    assert(renderValue("v17") == "\"v17\"")
    assert(renderValue("") == "\"\"")
    assert(renderValue("2017-04-24") == "\"2017-04-24\"")
  }

  test("compact json.Marshal mode is byte-exact — the reference CLI default (consumer_chain.go:103-109)") {
    val got = render(
      role = "test_db", tool = "buildings",
      eventTime = "2017-04-13T06:34:30Z", position = 397L, txnId = 9L,
      eventType = "Insert",
      rowEntries = Seq(
        ("address", "3950 North 1st Street CA 95134"),
        ("building_name", "ACME Headquaters"),
        ("building_no", "1")),
      oldEntries = Nil, newEntries = Nil, notice = "", query = null, pretty = false)
    val expected =
      """{"Header":{"Schema":"test_db","Table":"buildings","BinlogMessageTime":"2017-04-13T06:34:30Z","BinlogPosition":397,"XId":9},"Type":"Insert","Data":{"Row":{"address":"3950 North 1st Street CA 95134","building_name":"ACME Headquaters","building_no":1},"MappingNotice":""}}"""
    assert(got == expected)
    val q = render("db", "(unknown)", "2017-04-24T04:32:20Z",
      220L, 0L, "Query", Nil, Nil, Nil, "", "DELETE FROM `x`", pretty = false)
    assert(q == """{"Header":{"Schema":"db","Table":"(unknown)","BinlogMessageTime":"2017-04-24T04:32:20Z","BinlogPosition":220,"XId":0},"Type":"Query","Query":"DELETE FROM `x`"}""")
    assert(!q.contains("\n"))
  }

  test("leading-zero and -0 values stay quoted; genuine ints do not (ADVICE r01)") {
    assert(renderValue("007") == "\"007\"")
    assert(renderValue("-0") == "\"-0\"")
    assert(renderValue("0") == "0")
    assert(renderValue("10") == "10")
    assert(renderValue("-42") == "-42")
  }

  test("compact documents pin HTML escaping, UTF-8 and per-side notices") {
    val turns = mkTurns(Seq(
      ("c2", 1, "user", "EVENT insert rows=2 vals=[1|A <&> \"q\"|x];[2|héllo 世界|y]", "search"),
      ("c2", 2, "user", "EVENT update rows=2 vals=[1|a|old];[1|a|new]", "search"),
      // asymmetric pair: old shorter than field_names, new clean — the
      // notice is per SIDE (ADVICE r03): OldData's only
      ("c2", 3, "user", "EVENT update rows=2 vals=[1|a];[1|a|new]", "search"),
      ("c2", 4, "user", "EVENT query stmt=DROP TABLE `x`", "search"),
      ("c2", 5, "user", "EVENT commit xid=5", "search")))
    val routed = Pipeline.routed(turns, Transcripts.lookup(spark))
      .orderBy("turn_idx", "row_repr")
    val expected = Seq(
      "{\"Header\":{\"Schema\":\"user\",\"Table\":\"search\",\"BinlogMessageTime\":\"2017-04-13T06:34:30Z\",\"BinlogPosition\":1,\"XId\":5},\"Type\":\"Insert\",\"Data\":{\"Row\":{\"address\":\"x\",\"building_name\":\"A \\u003c\\u0026\\u003e \\\"q\\\"\",\"building_no\":1},\"MappingNotice\":\"\"}}",
      "{\"Header\":{\"Schema\":\"user\",\"Table\":\"search\",\"BinlogMessageTime\":\"2017-04-13T06:34:30Z\",\"BinlogPosition\":1,\"XId\":5},\"Type\":\"Insert\",\"Data\":{\"Row\":{\"address\":\"y\",\"building_name\":\"héllo 世界\",\"building_no\":2},\"MappingNotice\":\"\"}}",
      "{\"Header\":{\"Schema\":\"user\",\"Table\":\"search\",\"BinlogMessageTime\":\"2017-04-13T06:34:30Z\",\"BinlogPosition\":2,\"XId\":5},\"Type\":\"Update\",\"OldData\":{\"Row\":{\"address\":\"old\",\"building_name\":\"a\",\"building_no\":1},\"MappingNotice\":\"\"},\"NewData\":{\"Row\":{\"address\":\"new\",\"building_name\":\"a\",\"building_no\":1},\"MappingNotice\":\"\"}}",
      "{\"Header\":{\"Schema\":\"user\",\"Table\":\"search\",\"BinlogMessageTime\":\"2017-04-13T06:34:30Z\",\"BinlogPosition\":3,\"XId\":5},\"Type\":\"Update\",\"OldData\":{\"Row\":{\"(unknown_0)\":1,\"(unknown_1)\":\"a\"},\"MappingNotice\":\"row is missing field(s), ignoring missing\"},\"NewData\":{\"Row\":{\"address\":\"new\",\"building_name\":\"a\",\"building_no\":1},\"MappingNotice\":\"\"}}",
      "{\"Header\":{\"Schema\":\"user\",\"Table\":\"(unknown)\",\"BinlogMessageTime\":\"2017-04-13T06:34:30Z\",\"BinlogPosition\":4,\"XId\":0},\"Type\":\"Query\",\"Query\":\"DROP TABLE `x`\"}"
    )
    assert(CanonicalJson.fromRouted(routed, pretty = false).collect().toSeq == expected)
  }

  test("pretty documents pin HTML escaping, UTF-8 and arity/per-side notices") {
    val turns = mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=2 vals=[1|ACME <&> \"q\"|x];[2|héllo 世界|y]", "search"),
      ("c1", 2, "user", "EVENT update rows=2 vals=[1|a|old];[1|a|new]", "search"),
      ("c1", 3, "user", "EVENT query stmt=DROP TABLE `x`", "search"),
      ("c1", 4, "assistant", "EVENT insert rows=1 vals=[1|too]", "web"), // arity mismatch + notice
      ("c1", 5, "user", "EVENT update rows=2 vals=[1|a];[1|a|new]", "search"), // per-side notices
      ("c1", 6, "user", "EVENT commit xid=77", "search")))
    val routed = Pipeline.routed(turns, Transcripts.lookup(spark))
      .orderBy("turn_idx", "position")
    val expected = Seq(
      Seq(
        "{",
        "    \"Header\": {",
        "        \"Schema\": \"user\",",
        "        \"Table\": \"search\",",
        "        \"BinlogMessageTime\": \"2017-04-13T06:34:30Z\",",
        "        \"BinlogPosition\": 1,",
        "        \"XId\": 77",
        "    },",
        "    \"Type\": \"Insert\",",
        "    \"Data\": {",
        "        \"Row\": {",
        "            \"address\": \"x\",",
        "            \"building_name\": \"ACME \\u003c\\u0026\\u003e \\\"q\\\"\",",
        "            \"building_no\": 1",
        "        },",
        "        \"MappingNotice\": \"\"",
        "    }",
        "}"),
      Seq(
        "{",
        "    \"Header\": {",
        "        \"Schema\": \"user\",",
        "        \"Table\": \"search\",",
        "        \"BinlogMessageTime\": \"2017-04-13T06:34:30Z\",",
        "        \"BinlogPosition\": 1,",
        "        \"XId\": 77",
        "    },",
        "    \"Type\": \"Insert\",",
        "    \"Data\": {",
        "        \"Row\": {",
        "            \"address\": \"y\",",
        "            \"building_name\": \"héllo 世界\",",
        "            \"building_no\": 2",
        "        },",
        "        \"MappingNotice\": \"\"",
        "    }",
        "}"),
      Seq(
        "{",
        "    \"Header\": {",
        "        \"Schema\": \"user\",",
        "        \"Table\": \"search\",",
        "        \"BinlogMessageTime\": \"2017-04-13T06:34:30Z\",",
        "        \"BinlogPosition\": 2,",
        "        \"XId\": 77",
        "    },",
        "    \"Type\": \"Update\",",
        "    \"OldData\": {",
        "        \"Row\": {",
        "            \"address\": \"old\",",
        "            \"building_name\": \"a\",",
        "            \"building_no\": 1",
        "        },",
        "        \"MappingNotice\": \"\"",
        "    },",
        "    \"NewData\": {",
        "        \"Row\": {",
        "            \"address\": \"new\",",
        "            \"building_name\": \"a\",",
        "            \"building_no\": 1",
        "        },",
        "        \"MappingNotice\": \"\"",
        "    }",
        "}"),
      Seq(
        "{",
        "    \"Header\": {",
        "        \"Schema\": \"user\",",
        "        \"Table\": \"(unknown)\",",
        "        \"BinlogMessageTime\": \"2017-04-13T06:34:30Z\",",
        "        \"BinlogPosition\": 3,",
        "        \"XId\": 0",
        "    },",
        "    \"Type\": \"Query\",",
        "    \"Query\": \"DROP TABLE `x`\"",
        "}"),
      Seq(
        "{",
        "    \"Header\": {",
        "        \"Schema\": \"assistant\",",
        "        \"Table\": \"web\",",
        "        \"BinlogMessageTime\": \"2017-04-13T06:34:30Z\",",
        "        \"BinlogPosition\": 4,",
        "        \"XId\": 77",
        "    },",
        "    \"Type\": \"Insert\",",
        "    \"Data\": {",
        "        \"Row\": {",
        "            \"(unknown_0)\": 1,",
        "            \"(unknown_1)\": \"too\"",
        "        },",
        "        \"MappingNotice\": \"row is missing field(s), ignoring missing\"",
        "    }",
        "}"),
      Seq(
        "{",
        "    \"Header\": {",
        "        \"Schema\": \"user\",",
        "        \"Table\": \"search\",",
        "        \"BinlogMessageTime\": \"2017-04-13T06:34:30Z\",",
        "        \"BinlogPosition\": 5,",
        "        \"XId\": 77",
        "    },",
        "    \"Type\": \"Update\",",
        "    \"OldData\": {",
        "        \"Row\": {",
        "            \"(unknown_0)\": 1,",
        "            \"(unknown_1)\": \"a\"",
        "        },",
        "        \"MappingNotice\": \"row is missing field(s), ignoring missing\"",
        "    },",
        "    \"NewData\": {",
        "        \"Row\": {",
        "            \"address\": \"new\",",
        "            \"building_name\": \"a\",",
        "            \"building_no\": 1",
        "        },",
        "        \"MappingNotice\": \"\"",
        "    }",
        "}")
    ).map(_.mkString("\n"))
    assert(CanonicalJson.fromRouted(routed, pretty = true).collect().toSeq == expected)
  }

  test("fromRouted produces one parseable document per routed message") {
    val turns = mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=1 vals=[1|ACME|x]", "search"),
      ("c1", 2, "user", "EVENT query stmt=DROP TABLE x", "search"),
      ("c1", 3, "user", "EVENT commit xid=9", "search")))
    val routed = Pipeline.routed(turns, Transcripts.lookup(spark))
    val docs = CanonicalJson.fromRouted(routed, pretty = true).collect()
    assert(docs.length == 2)
    assert(docs.exists(_.contains("\"Type\": \"Insert\"")))
    assert(docs.exists(_.contains("\"Type\": \"Query\"")))
    assert(docs.forall(d => d.startsWith("{\n") && d.endsWith("\n}")))
  }

  test("int-like values ending in a line terminator stay quoted; one NDJSON line per message") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cases = Seq("5\n" -> "\"5\\n\"", "0\n" -> "\"0\\n\"", "-42\r\n" -> "\"-42\\r\\n\"")
    for ((v, want) <- cases) assert(renderValue(v) == want)
    val msgs = cases.zipWithIndex.map { case ((v, _), i) =>
      RoutedMsg("r", "t", "e", i.toLong, 1L, "Insert", Seq(KV("building_no", v)), Nil, Nil,
        "", null, null)
    }
    for (pretty <- Seq(false, true)) {
      val docLines = render("r", "t", "e", 0L, 1L, "Insert", Seq(("building_no", "5")),
        Nil, Nil, "", null, pretty).count(_ == '\n') + 1
      // the batch sink and the streaming sink, over the same messages
      val batchDir = tempDir("graft-ndjson-intlike")
      Sinks.writeNdjson(routedOf(msgs), batchDir, pretty)
      val streamDir = tempDir("graft-ndjson-intlike-stream")
      val input = MemoryStream[RoutedMsg]
      val q = StreamingPipeline.ndjsonSink(input.toDF(), streamDir,
        tempDir("graft-ndjson-intlike-ck"), pretty)
      try { input.addData(msgs); q.processAllAvailable() } finally q.stop()
      for (dir <- Seq(batchDir, streamDir)) {
        val text = spark.read.text(dir).as[String].collect()
        assert(text.length == cases.size * docLines, s"pretty = $pretty, $dir")
        for ((_, want) <- cases) assert(text.exists(_.contains(want)), s"$want in $dir")
      }
    }
  }
}

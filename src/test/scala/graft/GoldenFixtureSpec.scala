package graft

import graft.functions.CanonicalJson
import graft.operators.Agg
import graft.sources.Transcripts

/** End-to-end golden fixture (FIXTURES.md F01): replays the shape of the
  * reference's `mysql-bin.01` scenario — inserts + updates + delete across
  * 2 sinks, 4 transactions — through the full pipeline and asserts exact
  * per-sink counts plus byte-exact canonical JSON for the first message
  * (the `assertJson` analog, `parse_binlog_file_integration_test.go:83-103`).
  */
class GoldenFixtureSpec extends SparkSpec {

  // (user, search) plays test_db.buildings; (assistant, calc) plays rooms.
  private val f01 = Seq(
    ("cf1", 1, "user", "EVENT query stmt=BEGIN", "search"),
    ("cf1", 2, "user", "EVENT insert rows=2 vals=[1|ACME Headquaters|3950 North 1st Street];[2|ACME Sales|5000 North 1st Street]", "search"),
    ("cf1", 3, "user", "EVENT commit xid=9", "search"),
    ("cf1", 4, "assistant", "EVENT insert rows=2 vals=[1|Amazon|1];[2|Echo|1]", "calc"),
    ("cf1", 5, "assistant", "EVENT insert rows=3 vals=[3|Blackbird|2];[4|Marketing|2];[5|Showroom|2]", "calc"),
    ("cf1", 6, "assistant", "EVENT commit xid=10", "calc"),
    ("cf1", 7, "assistant", "EVENT update rows=4 vals=[4|Marketing|2];[4|MARKETING|2];[5|Showroom|2];[5|SHOWROOM|2]", "calc"),
    ("cf1", 8, "assistant", "EVENT commit xid=11", "calc"),
    ("cf1", 9, "user", "EVENT delete rows=1 vals=[2|ACME Sales|5000 North 1st Street]", "search"),
    ("cf1", 10, "user", "EVENT commit xid=12", "search"))

  private lazy val routed =
    Pipeline.routed(mkTurns(f01), Transcripts.lookup(spark)).cache()

  test("per-sink counts match the fixture profile (buildings 2I+1D, rooms 5I+2U)") {
    val counts = Agg.sinkCounts(routed).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(counts == Map(
      ("user", "search", "Insert") -> 2L,
      ("user", "search", "Delete") -> 1L,
      ("assistant", "calc", "Insert") -> 5L,
      ("assistant", "calc", "Update") -> 2L))
  }

  test("first message is byte-exact canonical JSON (01.json:1-18 shape)") {
    val docs = CanonicalJson.fromRouted(
      routed.orderBy("turn_idx", "row_repr"), pretty = true).collect()
    assert(docs.length == 10)
    val expected =
      """{
        |    "Header": {
        |        "Schema": "user",
        |        "Table": "search",
        |        "BinlogMessageTime": "2017-04-13T06:34:30Z",
        |        "BinlogPosition": 2,
        |        "XId": 9
        |    },
        |    "Type": "Insert",
        |    "Data": {
        |        "Row": {
        |            "address": "3950 North 1st Street",
        |            "building_name": "ACME Headquaters",
        |            "building_no": 1
        |        },
        |        "MappingNotice": ""
        |    }
        |}""".stripMargin
    assert(docs.head == expected)
  }

  test("update pair stamps the commit xid and keeps its own position (fixture 07 rule)") {
    val updates = routed.filter(routed("event_type") === "Update").collect()
    assert(updates.length == 2)
    assert(updates.forall(_.getAs[Long]("txn_id") == 11L))
    assert(updates.forall(_.getAs[Long]("position") == 7L))
    assert(updates.exists(r => r.getAs[String]("old_repr").contains("Marketing")
      && r.getAs[String]("new_repr").contains("MARKETING")))
  }
}

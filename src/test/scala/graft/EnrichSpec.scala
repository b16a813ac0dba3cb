package graft

import graft.model.Model
import graft.operators.Enrich
import org.apache.spark.sql.functions._

/** Positional zip + mismatch semantics — mirrors the reference's
  * `row_data_test.go:8-60` four cases plus repr key ordering.
  */
class EnrichSpec extends SparkSpec {

  private def repr(names: Seq[String], vals: Seq[String]): (String, String) = {
    val s = spark
    import s.implicits._
    val df = Seq((names, vals)).toDF("names", "vals")
      .select(
        Enrich.rowRepr(col("names"), col("vals")).as("r"),
        Enrich.mappingNotice(col("names"), col("vals")).as("n"))
    val row = df.collect().head
    (row.getString(0), row.getString(1))
  }

  test("equal arity: positional zip, keys sorted alphabetically (Go map marshal order)") {
    val (r, n) = repr(Seq("building_no", "building_name", "address"), Seq("1", "ACME", "3950 North"))
    assert(r == "address=3950 North,building_name=ACME,building_no=1")
    assert(n == "")
  }

  test("prefix-related keys sort key-first, like Go map order (ADVICE r01)") {
    // string-sorting "k=v" would put "a1=y" before "a=x" ('1' < '=');
    // Go sorts map KEYS: "a" < "a1".
    val (r, n) = repr(Seq("a", "a1"), Seq("x", "y"))
    assert(r == "a=x,a1=y")
    assert(n == "")
    // and the routed row_repr (the production path) agrees
    val s = spark
    import s.implicits._
    val lookup = Seq(("user", "prefixed", Seq("a", "a1"))).toDF("role", "tool", "field_names")
    val routed = Pipeline.routed(mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=1 vals=[x|y]", "prefixed"),
      ("c1", 2, "user", "EVENT commit xid=1", "prefixed"))), lookup)
    assert(routed.select("row_repr").collect().map(_.getString(0)).toSeq == Seq("a=x,a1=y"))
  }

  test("row longer: ALL keys (unknown_i) + exact notice (row_data.go:46)") {
    val (r, n) = repr(Seq("a", "b"), Seq("1", "2", "3"))
    assert(r == "(unknown_0)=1,(unknown_1)=2,(unknown_2)=3")
    assert(n == Model.NoticeRowLonger)
    assert(n == "column names array is missing field(s), will map them as unknown_*")
  }

  test("row shorter: ALL keys (unknown_i) + exact notice (row_data.go:50)") {
    val (r, n) = repr(Seq("a", "b", "c", "d"), Seq("1", "2"))
    assert(r == "(unknown_0)=1,(unknown_1)=2")
    assert(n == Model.NoticeRowShorter)
    assert(n == "row is missing field(s), ignoring missing")
  }

  test("empty row, empty names: clean empty repr") {
    val (r, n) = repr(Seq(), Seq())
    assert(r == "")
    assert(n == "")
  }

  test("broadcast lookup join sets matched only for row events with a lookup hit") {
    val turns = mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search"), // hit
      ("c1", 2, "user", "EVENT insert rows=1 vals=[1|a|b]", "nope"), // miss
      ("c1", 3, "user", "EVENT query stmt=X", "search") // non-row
    ))
    val enriched = Pipeline.enriched(turns, graft.sources.Transcripts.lookup(spark))
    val byIdx = enriched.collect().map(r => r.getAs[Int]("turn_idx") -> r.getAs[Boolean]("matched")).toMap
    assert(byIdx == Map(1 -> true, 2 -> false, 3 -> false))
  }
}

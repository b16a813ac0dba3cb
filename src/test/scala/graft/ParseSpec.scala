package graft

import graft.operators.Parse
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Parse-stage grammar cases — mirrors the reference's per-event dispatch
  * tests (`parser/conversion/conversion_test.go`, `binlog_to_messages.go`).
  */
class ParseSpec extends SparkSpec {

  private def parseOne(text: String): Row =
    Parse.withVals(Parse.parseKind(mkTurns(Seq(("c1", 1, "user", text, "search"))))).collect().head

  test("insert line: kind, rows_declared, nested vals") {
    val r = parseOne("EVENT insert rows=2 vals=[1|ACME|x];[2|Sales|y]")
    assert(r.getAs[String]("kind") == "insert")
    assert(r.getAs[Int]("rows_declared") == 2)
    val vals = r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("vals")
    assert(vals == Seq(Seq("1", "ACME", "x"), Seq("2", "Sales", "y")))
  }

  test("vals grammar: exactly one bracket stripped per side; inner brackets are data (ADVICE r01)") {
    def vals(r: Row) = r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("vals")
      .map(_.toSeq).toSeq
    // value ENDING in ']': trim(g,"[]") used to strip the run and lose a byte
    assert(vals(parseOne("EVENT insert rows=1 vals=[[a]]")) == Seq(Seq("[a]")))
    // bracket/pipe inside values, mid-group
    assert(vals(parseOne("EVENT insert rows=1 vals=[a]b|c]")) == Seq(Seq("a]b", "c")))
    // empty value list and empty trailing value
    assert(vals(parseOne("EVENT insert rows=1 vals=[]")) == Seq(Seq("")))
    assert(vals(parseOne("EVENT insert rows=1 vals=[2|ACME Sales|]")) == Seq(Seq("2", "ACME Sales", "")))
  }

  test("vals grammar: backslash escaping lets values carry the delimiters (VERDICT r01 #7)") {
    def vals(r: Row) = r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("vals")
      .map(_.toSeq).toSeq
    assert(vals(parseOne("""EVENT insert rows=1 vals=[a\|b|c\;d]""")) == Seq(Seq("a|b", "c;d")))
    assert(vals(parseOne("""EVENT insert rows=1 vals=[x\]\;\[y|\\]""")) == Seq(Seq("x];[y", "\\")))
    // an adversarial value that used to silently split the group
    val hostile = "v1\\]\\;\\[v2"
    val r = parseOne(s"EVENT insert rows=1 vals=[$hostile|ok]")
    assert(vals(r) == Seq(Seq("v1];[v2", "ok")))
    // and the escapeValue encoder produces exactly that form
    assert(graft.functions.ParseVals.escapeValue("v1];[v2") == hostile)
  }

  test("update line parses pairs of vals") {
    val r = parseOne("EVENT update rows=2 vals=[1|a|old];[1|a|new]")
    assert(r.getAs[String]("kind") == "update")
    assert(r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("vals").size == 2)
  }

  test("commit line: xid extracted as long") {
    val r = parseOne("EVENT commit xid=456")
    assert(r.getAs[String]("kind") == "commit")
    assert(r.getAs[Long]("xid") == 456L)
  }

  test("query line keeps raw stmt; not suppressed") {
    val r = parseOne("EVENT query stmt=CREATE TABLE employees (id INT)")
    assert(r.getAs[String]("kind") == "query")
    assert(r.getAs[String]("stmt") == "CREATE TABLE employees (id INT)")
    assert(!r.getAs[Boolean]("suppressed"))
  }

  test("BEGIN and SAVEPOINT suppressed, case/space-insensitively (binlog_to_messages.go:25-28)") {
    assert(parseOne("EVENT query stmt=BEGIN").getAs[Boolean]("suppressed"))
    assert(parseOne("EVENT query stmt= begin ").getAs[Boolean]("suppressed"))
    assert(parseOne("EVENT query stmt= SAVEPOINT sp1").getAs[Boolean]("suppressed"))
    assert(parseOne("EVENT query stmt=savepoint x").getAs[Boolean]("suppressed"))
    // prefix rule (HasPrefix): any stmt starting with SAVEPOINT is swallowed
    assert(parseOne("EVENT query stmt=SAVEPOINTLESS").getAs[Boolean]("suppressed"))
  }

  test("noise line: kind empty, no vals") {
    val r = parseOne("just some free text")
    assert(r.getAs[String]("kind") == "")
    assert(r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("vals") == null)
  }

  test("S2: missing input fails fast with a clear message (binlog_parser.go:9-15)") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.Transcripts.fromEvents(spark, "/no/such/dir")
    }
    assert(e.getMessage.contains("input not found: /no/such/dir/events.parquet"))
  }

  test("text passes through byte-identical incl. UTF-8 (north-rule invariant)") {
    val weird = "EVENT insert rows=1 vals=[1|héllo 世界 🚀|​]"
    val r = parseOne(weird)
    assert(r.getAs[String]("text") == weird)
    assert(r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("vals").head(1) == "héllo 世界 🚀")
  }

  test("xid and rows= read their leading token; a malformed value is null, not a failure") {
    def field(text: String, name: String) = Option(parseOne(text).getAs[Any](name))
    assert(field("EVENT commit xid=42", "xid").contains(42L))
    assert(field("EVENT commit xid=5 extra", "xid").contains(5L))
    assert(field("EVENT commit xid=abc", "xid").isEmpty)
    // a sign and leading zeros read; a decimal or exponent form is null
    // (the DuckDB oracle's TRY_CAST alone would round or expand those)
    assert(field("EVENT commit xid=+7", "xid").contains(7L))
    assert(field("EVENT commit xid=007", "xid").contains(7L))
    assert(field("EVENT commit xid=7\t", "xid").contains(7L))
    for (x <- Seq("5.5", "5.0", "1e3", "5."))
      assert(field(s"EVENT commit xid=$x", "xid").isEmpty, x)
    // one integer grammar for both engines (Parse.IntToken): only ASCII
    // whitespace \t..\r may pad the digits; any other control character,
    // NEL, U+2028, an empty token or an overflow reads null
    val grammar = Seq("5" -> Some(5), "-3" -> Some(-3), "+7" -> Some(7), "007" -> Some(7),
      "5.5" -> None, "5\u0001" -> None, "\u00015" -> None, "5\t" -> Some(5), "\t5" -> Some(5),
      "5\u000b" -> Some(5), "5\u001f" -> None, "5\u007f" -> None, "5\u0085" -> None,
      "5\u2028" -> None, "abc" -> None, "" -> None, "9223372036854775808" -> None,
      "5\u0000" -> None)
    for ((t, want) <- grammar) {
      val shown = t.map(_.toInt.toHexString).mkString("token [", " ", "]")
      assert(field(s"EVENT commit xid=$t", "xid") == want.map(_.toLong), shown)
      assert(field(s"EVENT insert rows=$t vals=[1|a]", "rows_declared") == want, shown)
    }
    assert(field("EVENT commit", "xid").isEmpty)
    assert(field("EVENT insert rows=x vals=[1|a]", "rows_declared").isEmpty)
    assert(field("EVENT insert rows=1 vals=[1|a]", "rows_declared").contains(1))
  }

  test("RFC3339 UTC event time (message.go:28)") {
    val df = mkTurns(Seq(("c1", 1, "user", "note x", "")))
      .select(Parse.eventTime(col("ts")).as("et"))
    assert(df.collect().head.getString(0) == "2017-04-13T06:34:30Z")
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The `spark.sql.extensions=graft.GraftExtensions` integration point: a
  * session built with the extensions class must expose every fused graft
  * expression to SQL TEXT with no Column-API call anywhere — it is the only
  * source of SQL names. The Column APIs need neither it nor any other
  * registration.
  */
class ExtensionsSpec extends SparkSpec {

  /** Build (and tear down around the test) a session with GraftExtensions
    * injected at build time. `spark.sql.extensions=graft.GraftExtensions`
    * is read from the SparkCONTEXT's static conf, which in this shared-
    * context test JVM was fixed before the spec ran — so the spec goes
    * through the builder's `withExtensions` hook, which appends to the
    * exact same `SparkSessionExtensions` instance the config-string path
    * populates (same injection list, same session-state build).
    */
  private def withExtensionsSession[A](f: SparkSession => A): A = {
    val base = spark // force the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("every SQL-registered expression resolves and computes from SQL text") {
    withExtensionsSession { s =>
      val r = s.sql(
        """SELECT
             graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos,
             go_json_escape('a"b') AS esc,
             graft_srp_bucket(array(1.0d, 2.0d), 4) AS bucket4,
             graft_srp_bucket(array(1.0d, 2.0d), 4, 8) AS bucket_t2,
             graft_srp_bucket(array(1.0d, 2.0d)) AS bucket_default,
             graft_shingle_set(array('a', 'b', 'c', 'a', 'b', 'c')) AS sh,
             graft_minhash_sig(array('a', 'b', 'c')) AS mh,
             graft_simhash_sig(array('a', 'b', 'c')) AS sim64,
             graft_parse_vals('[a|b];[c|d]') AS vals
        """).collect().head
      assert(r.getAs[Double]("cos") == 1.0)
      assert(r.getAs[String]("esc") == "a\\\"b")
      // 4-plane bucket ∈ [0, 16); default = 8 planes ∈ [0, 256)
      assert(r.getAs[Long]("bucket4") >= 0 && r.getAs[Long]("bucket4") < 16)
      assert(r.getAs[Long]("bucket_default") >= 0 && r.getAs[Long]("bucket_default") < 256)
      // distinct 3-gram shingles of (a b c a b c): 4 windows, 3 distinct
      assert(r.getAs[collection.Seq[String]]("sh").size == 3)
      assert(r.getAs[collection.Seq[Long]]("mh").nonEmpty)
      r.getAs[Long]("sim64") // typed Long — resolution is the assertion
      assert(r.getAs[collection.Seq[collection.Seq[String]]]("vals")
        .map(_.toList).toList == List(List("a", "b"), List("c", "d")))
      // SQL-text values must agree with the Column-API builders
      import org.apache.spark.sql.functions._
      val viaApi = s.range(1)
        .select(graft.functions.SrpBucket(
          array(lit(1.0), lit(2.0)), 4, 8).as("b"))
        .collect().head.getLong(0)
      assert(r.getAs[Long]("bucket_t2") == viaApi)
    }
  }

  test("every Column API resolves and computes on a session with no registrations") {
    import graft.functions._
    import org.apache.spark.sql.functions._
    // newSession(): fresh function registry, no extensions — nothing named
    val s = spark.newSession()
    assert(!s.catalog.functionExists(ParseVals.Name))
    val tokens = array(lit("a"), lit("b"), lit("c"), lit("a"), lit("b"), lit("c"))
    val vec = array(lit(1.0), lit(2.0))
    val r = s.range(1).select(
      ParseVals(lit("[a|b];[c|d]")).as("vals"),
      GoJsonEscape(lit("a\"b")).as("esc"),
      MinHashSig(tokens).as("mh"),
      SimHashSig(tokens).as("sim64"),
      CosineSim(vec, vec).as("cos"),
      ShingleSet(tokens).as("sh"),
      SrpBucket(vec, 4).as("bucket4")).collect().head
    assert(r.getAs[collection.Seq[collection.Seq[String]]]("vals")
      .map(_.toList).toList == List(List("a", "b"), List("c", "d")))
    assert(r.getAs[String]("esc") == "a\\\"b")
    assert(r.getAs[collection.Seq[Long]]("mh").nonEmpty)
    r.getAs[Long]("sim64") // typed Long — resolution is the assertion
    assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
    assert(r.getAs[collection.Seq[String]]("sh").size == 3)
    assert(r.getAs[Long]("bucket4") >= 0 && r.getAs[Long]("bucket4") < 16)
  }

  test("non-literal plane count is rejected with a clear error") {
    withExtensionsSession { s =>
      val e = intercept[Exception] {
        s.sql("SELECT graft_srp_bucket(array(1.0d), CAST(id AS INT)) FROM range(1)").collect()
      }
      assert(e.getMessage.contains("literal integer"),
        s"unexpected message: ${e.getMessage}")
    }
  }
}

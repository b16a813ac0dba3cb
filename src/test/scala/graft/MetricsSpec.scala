package graft

import graft.operators.{Agg, Metrics, Route}
import graft.sources.Transcripts
import org.apache.spark.sql.Observation

class MetricsSpec extends SparkSpec {

  test("observe collects drop counters during the routing action (no second scan)") {
    val turns = mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search"), // routed
      ("c1", 2, "user", "EVENT insert rows=1 vals=[1|a|b]", "zzz"), // unmapped
      ("c1", 3, "user", "EVENT update rows=3 vals=[1|a|x];[1|a|y];[1|a|z]", "search"), // odd: quarantined
      ("c1", 4, "user", "EVENT query stmt=BEGIN", ""), // suppressed
      ("c1", 5, "user", "just noise", ""), // noise
      ("c1", 6, "user", "EVENT commit xid=5", "search"),
      ("c2", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search"))) // uncommitted
    val obs = Observation("graft-test")
    val enriched = Metrics.observe(
      Pipeline.enriched(turns, Transcripts.lookup(spark)), obs)
    val routed = Route.messages(enriched)
    assert(routed.count() == 1) // only the committed, mapped, even insert
    val m = obs.get
    assert(m("turns") == 7L)
    assert(m("row_events") == 4L)
    assert(m("query_suppressed") == 1L)
    assert(m("noise") == 1L)
    assert(m("dropped_unmapped") == 1L)
    assert(m("dropped_uncommitted") == 1L)
    assert(m("quarantined_odd_updates") == 1L)
  }

  test("observed counters satisfy the conservation identity and equal the reconcile ledger") {
    val turns = mkTurns(Seq(
      ("c1", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search"), // row event
      ("c1", 2, "user", "EVENT query stmt=BEGIN", ""), // query, suppressed
      ("c1", 3, "assistant", "EVENT query stmt=DROP TABLE x", ""), // query, kept
      ("c1", 4, "user", "EVENT commit xid=5", "search"), // commit
      ("c1", 5, "user", "just noise", ""), // noise
      ("c2", 1, "user", "EVENT delete rows=1 vals=[2|c|d]", "zzz"), // row event
      ("c2", 2, "user", "EVENT commit xid=6", "zzz"))) // commit
    val obs = Observation("graft-ledger")
    val enriched = Pipeline.enriched(turns, Transcripts.lookup(spark))
    Route.messages(Metrics.observe(enriched, obs)).count()
    val m = obs.get
    def n(k: String): Long = m(k).asInstanceOf[Long]
    assert(n("turns") == 7L)
    assert(Seq("row_events", "query_kept", "query_suppressed", "commits", "noise")
      .map(n) == Seq(2L, 1L, 1L, 2L, 1L))
    assert(n("turns") == n("row_events") + n("query_kept") + n("query_suppressed") +
      n("commits") + n("noise"))
    // one column list: the observed ledger is the standalone aggregation's row
    val ledger = Agg.reconcile(enriched).collect().head
    ledger.schema.fieldNames.foreach(k => assert(n(k) == ledger.getAs[Long](k), k))
  }
}

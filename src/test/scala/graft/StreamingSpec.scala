package graft

import graft.model.Turn
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming parity: the stateful RowsEventBuffer semantics
  * (flatMapGroupsWithState) must route the same messages as the batch
  * window path, including buffers that drain across micro-batches.
  */
class StreamingSpec extends SparkSpec {

  private def turn(c: String, i: Int, text: String, tool: String = "search") =
    Turn(c, i, "user", text, tool, t0)

  private def key(r: Row) =
    (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
      r.getAs[String]("event_type"), r.getAs[Long]("txn_id"),
      r.getAs[String]("row_repr"), r.getAs[String]("text"))

  /** Routes `batches` through [[StreamingPipeline.routedStream]], one
    * micro-batch each, and returns everything the query emitted.
    */
  private def routeStreaming(name: String, cfg: PipelineConfig,
      batches: Seq[Turn]*): Array[Row] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingPipeline.routedStream(input.toDF(), Transcripts.lookup(spark), cfg)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).collect()
    } finally q.stop()
  }

  private def routeBatch(cfg: PipelineConfig, turns: Seq[Turn]): Array[Row] = {
    val s = spark
    import s.implicits._
    Pipeline.routed(turns.toDF(), Transcripts.lookup(spark), cfg).collect()
  }

  test("cross-batch commit drains earlier-batch buffer (fixture-07 semantics)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Turn]
    val routed = StreamingPipeline.routedStream(input.toDF(), Transcripts.lookup(spark))
    val q = routed.writeStream.format("memory").queryName("routed_stream")
      .outputMode(OutputMode.Append).start()

    try {
      // batch 1: two inserts (buffered) + one query (immediate)
      input.addData(
        turn("c1", 1, "EVENT insert rows=1 vals=[1|a|b]"),
        turn("c1", 2, "EVENT insert rows=1 vals=[2|c|d]"),
        turn("c2", 1, "EVENT query stmt=DROP TABLE x"))
      q.processAllAvailable()
      val afterB1 = spark.table("routed_stream").collect()
      assert(afterB1.count(_.getAs[String]("event_type") == "Query") == 1)
      assert(afterB1.count(_.getAs[String]("event_type") == "Insert") == 0,
        "row events must stay buffered until their commit")

      // batch 2: the commit arrives -> both inserts drain with xid 456
      input.addData(turn("c1", 3, "EVENT commit xid=456"))
      q.processAllAvailable()
      val afterB2 = spark.table("routed_stream").collect()
      val inserts = afterB2.filter(_.getAs[String]("event_type") == "Insert")
      assert(inserts.length == 2)
      assert(inserts.forall(_.getAs[Long]("txn_id") == 456L))
      assert(inserts.map(_.getAs[Long]("position")).sorted.toSeq == Seq(1L, 2L))

      // parity with the batch pipeline on the full input
      val allTurns = mkTurns(Seq(
        ("c1", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search"),
        ("c1", 2, "user", "EVENT insert rows=1 vals=[2|c|d]", "search"),
        ("c2", 1, "user", "EVENT query stmt=DROP TABLE x", "search"),
        ("c1", 3, "user", "EVENT commit xid=456", "search")))
      val batch = Pipeline.routed(allTurns, Transcripts.lookup(spark)).collect()
      assert(afterB2.map(key).toSet == batch.map(key).toSet)
    } finally q.stop()
  }

  test("streaming NDJSON sink writes compact json.Marshal lines (K1 streaming parity)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = tempDir("graft-stream-ndjson")
    val ckDir = tempDir("graft-stream-ck")

    val input = MemoryStream[Turn]
    val routed = StreamingPipeline.routedStream(input.toDF(), Transcripts.lookup(spark))
    val q = StreamingPipeline.ndjsonSink(routed, outDir, ckDir)
    try {
      input.addData(
        turn("c9", 1, "EVENT insert rows=1 vals=[1|ACME|x]"),
        turn("c9", 2, "EVENT commit xid=77"),
        turn("c9", 3, "EVENT query stmt=DROP TABLE x"))
      q.processAllAvailable()
      val lines = spark.read.text(outDir).collect().map(_.getString(0)).sorted
      assert(lines.length == 2) // 1 Insert + 1 Query, commit emits nothing
      assert(lines.forall(l => l.startsWith("{\"Header\":{\"Schema\":\"user\",") && !l.contains("\n")))
      assert(lines.exists(_.contains("\"Type\":\"Insert\"")))
      assert(lines.exists(_.contains("\"XId\":77")))
      assert(lines.exists(_.contains("\"Type\":\"Query\"")))
    } finally q.stop()
  }

  test("ndjsonSink restart from checkpoint is exactly-once, incl. cross-restart buffer drain (VERDICT r03 #4)") {
    val s = spark
    val inDir = tempDir("graft-eo-in")
    val outDir = tempDir("graft-eo-out")
    val ckDir = tempDir("graft-eo-ck")
    val phase1 = Seq(
      ("c1", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search"),
      ("c1", 2, "user", "EVENT insert rows=1 vals=[2|c|d]", "search"),
      ("c2", 1, "user", "EVENT query stmt=DROP TABLE x", "search"))
    val phase2 = Seq(
      ("c1", 3, "user", "EVENT commit xid=9", "search"),
      ("c3", 1, "user", "EVENT query stmt=CREATE TABLE y (id INT)", "search"))

    def runOnce(): Unit = {
      val input = s.readStream.schema(graft.model.Model.turnsSchema).parquet(inDir)
      val q = StreamingPipeline.ndjsonSink(
        StreamingPipeline.routedStream(input, Transcripts.lookup(s)), outDir, ckDir)
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: inserts buffer in state, only the query emits
    mkTurns(phase1).write.mode("append").parquet(inDir)
    runOnce()
    val afterRun1 = s.read.text(outDir).collect().map(_.getString(0))
    assert(afterRun1.length == 1 && afterRun1.head.contains("\"Type\":\"Query\""))

    // "crash" happened (query stopped); new files arrive; RESTART from the
    // same checkpoint: the state store must restore c1's buffer, the file
    // source must NOT reprocess phase-1 files, the sink's commit log must
    // not duplicate the phase-1 output.
    mkTurns(phase2).write.mode("append").parquet(inDir)
    runOnce()
    val lines = s.read.text(outDir).collect().map(_.getString(0)).sorted

    // golden: identical multiset to the BATCH pipeline's compact NDJSON
    // over the full input (the streaming analog of assertJson,
    // parse_binlog_file_integration_test.go:83-103)
    val batch = graft.functions.CanonicalJson.fromRouted(
      Pipeline.routed(mkTurns(phase1 ++ phase2), Transcripts.lookup(s)),
      pretty = false).collect().sorted
    assert(lines.toSeq == batch.toSeq,
      s"streaming-restart output != batch golden:\n${lines.mkString("\n")}\nvs\n${batch.mkString("\n")}")
    assert(lines.count(_.contains("\"Type\":\"Insert\"")) == 2)
    assert(lines.filter(_.contains("\"Type\":\"Insert\"")).forall(_.contains("\"XId\":9")))
    assert(lines.count(_.contains("\"Type\":\"Query\"")) == 2)
  }

  test("uncommitted buffer is never emitted (EOF discard semantics)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val routed = StreamingPipeline.routedStream(input.toDF(), Transcripts.lookup(spark))
    val q = routed.writeStream.format("memory").queryName("routed_nodrain")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(turn("c9", 1, "EVENT insert rows=1 vals=[1|a|b]"))
      q.processAllAvailable()
      assert(spark.table("routed_nodrain").isEmpty)
    } finally q.stop()
  }

  test("a commit without a usable xid drains nothing and fails nothing, batch and streaming alike") {
    val b1 = Seq(
      turn("c1", 1, "EVENT insert rows=1 vals=[1|a|b]"),
      turn("c1", 2, "EVENT commit"),
      turn("c2", 1, "EVENT insert rows=1 vals=[2|c|d]"),
      turn("c2", 2, "EVENT commit xid=abc"))
    val b2 = Seq(
      turn("c1", 3, "EVENT commit xid=5"),
      turn("c2", 3, "EVENT commit xid=7 extra"),
      turn("c3", 1, "EVENT insert rows=x vals=[3|e|f]"),
      turn("c3", 2, "EVENT commit xid=8"))
    val batch = routeBatch(PipelineConfig(), b1 ++ b2)
    assert(batch.map(r => r.getAs[String]("conv_id") -> r.getAs[Long]("txn_id")).sorted.toSeq ==
      Seq("c1" -> 5L, "c2" -> 7L, "c3" -> 8L))
    val streamed = routeStreaming("routed_bad_xid", PipelineConfig(), b1, b2)
    assert(streamed.map(key).sorted.toSeq == batch.map(key).sorted.toSeq)
    // the stamped commits agree too: an xid-less commit keeps a null txn_id
    // rather than taking the next commit's xid
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val parsed = graft.operators.Parse.parseKind((b1 ++ b2).toDF())
    def commitTxns(stamped: org.apache.spark.sql.DataFrame) =
      stamped.filter(col("kind") === "commit").select("conv_id", "turn_idx", "txn_id")
        .collect().map(r => (r.getString(0), r.getInt(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).sorted.toSeq
    val viaStamp = commitTxns(graft.operators.TxnStamp.stamp(parsed))
    assert(viaStamp == Seq(("c1", 2, None), ("c1", 3, Some(5L)), ("c2", 2, None),
      ("c2", 3, Some(7L)), ("c3", 2, Some(8L))))
    assert(commitTxns(graft.operators.TxnStamp.stampSalted(parsed, blockSize = 1)) == viaStamp)
    assert(commitTxns(StreamingPipeline.stamp(parsed)) == viaStamp)
  }

  test("include filters: streaming routes what batch routes; a filtered-out role's commit still drains") {
    def t(c: String, i: Int, role: String, text: String, tool: String) = Turn(c, i, role, text, tool, t0)
    val b1 = Seq(
      t("c1", 1, "assistant", "EVENT insert rows=1 vals=[1|a|b]", "search"),
      t("c1", 2, "assistant", "EVENT insert rows=1 vals=[2|c|d]", "calc"),
      t("c1", 3, "user", "EVENT insert rows=1 vals=[3|e|f]", "search"),
      t("c2", 1, "assistant", "EVENT delete rows=1 vals=[9|x|y]", "search"))
    val b2 = Seq(
      t("c1", 4, "user", "EVENT commit xid=11", "search"),
      t("c1", 5, "assistant", "EVENT query stmt=DROP TABLE x", "search"),
      t("c1", 6, "", "EVENT query stmt=CREATE TABLE y (id INT)", "search"),
      t("c2", 2, "system", "EVENT commit xid=12", "db"))
    val cfg = PipelineConfig(includeRoles = Seq("assistant"), includeTools = Seq("search"))
    val batch = routeBatch(cfg, b1 ++ b2)
    assert(batch.map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
      r.getAs[String]("event_type"), r.getAs[Long]("txn_id"))).sorted.toSeq ==
      Seq(("c1", 1, "Insert", 11L), ("c2", 1, "Delete", 12L)))
    val streamed = routeStreaming("routed_filtered", cfg, b1, b2)
    assert(streamed.map(key).sorted.toSeq == batch.map(key).sorted.toSeq)
  }

  test("the stamp's shuffle and state carry only the dispatch columns") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingPipeline.routedStream(input.toDF(), Transcripts.lookup(spark))
      .writeStream.format("memory").queryName("routed_dispatch")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(turn("c1", 1, "EVENT insert rows=1 vals=[1|a|b]"),
        turn("c1", 2, "EVENT commit xid=3"))
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val stateful = plan.collect { case p if p.nodeName == "FlatMapGroupsWithState" => p }
      assert(stateful.length == 1, s"one stateful stamp expected:\n$plan")
      val cols = stateful.head.children.flatMap(_.output.map(_.name))
      assert(Seq("kind", "xid").forall(cols.contains), cols)
      assert(!cols.exists(Set("stmt", "suppressed", "rows_declared", "vals")),
        s"payload columns reach the stamp: ${cols.mkString(",")}")
    } finally q.stop()
  }

  test("streaming dedup: exact mode admits each content hash once; watermarked mode bounds state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // exact (unbounded) mode: dupes across micro-batches never re-emit
    val input = MemoryStream[Turn]
    val q = StreamingPipeline.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream_t")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(turn("d1", 1, "same doc"), turn("d2", 1, "same doc"),
        turn("d3", 1, "other doc"))
      q.processAllAvailable()
      assert(spark.table("dedup_stream_t").count() == 2)
      input.addData(turn("d4", 1, "same doc"), turn("d5", 1, "third doc"))
      q.processAllAvailable()
      assert(spark.table("dedup_stream_t").count() == 3,
        "cross-batch duplicate must not re-emit")
    } finally q.stop()
    // watermarked mode: plan carries the within-watermark dedup operator
    // (state bounded by event time — the unbounded-ingest production mode)
    val input2 = MemoryStream[Turn]
    val q2 = StreamingPipeline.dedupStream(input2.toDF(),
        withinWatermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("dedup_stream_wm")
      .outputMode(OutputMode.Append).start()
    try {
      input2.addData(turn("w1", 1, "wm doc"), turn("w2", 1, "wm doc"))
      q2.processAllAvailable()
      assert(spark.table("dedup_stream_wm").count() == 1)
      assert(q2.lastProgress.stateOperators.asScala.exists(
        _.operatorName.toLowerCase.contains("dedupe")))
    } finally q2.stop()
  }

  private implicit class ArrAsScala[A](a: Array[A]) {
    def asScala: Seq[A] = a.toSeq
  }
}

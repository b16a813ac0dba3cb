package graft

import graft.relational.Relational
import graft.sources.Transcripts

/** Physical-plan shape assertions — the scale contract (SURVEY.md §4.2):
  * the pipeline must cost exactly one hash exchange; the lookup join must
  * broadcast; scans must prune columns and push filters.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Join nodes of `exec` with a join key that references column `name`. */
  private def joinsKeyedOn(exec: org.apache.spark.sql.execution.SparkPlan, name: String) =
    exec.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == name)) => j
    }

  test("routed pipeline: exactly one hash exchange + one broadcast exchange") {
    val routed = Pipeline.routed(
      Transcripts.synthetic(spark, 10000, 100),
      Transcripts.lookup(spark))
    val p = plan(routed)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    val broadcasts = "BroadcastExchange".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$p")
    assert(broadcasts == 1, s"expected broadcast lookup join, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), "lookup join must be BHJ")
  }

  test("route: one Generate, and each side's entries are sorted once") {
    val routed = Pipeline.routed(
      Transcripts.synthetic(spark, 10000, 100),
      Transcripts.lookup(spark))
    val sp = routed.queryExecution.sparkPlan
    val generates = sp.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(generates.size == 1, s"expected one Generate, plan:\n$sp")
    // Data, OldData and NewData are each sorted once: the repr projection
    // reads the entries columns instead of re-mapping the rows
    val sorts = sp.flatMap(_.expressions.flatMap(_.collect {
      case a: org.apache.spark.sql.catalyst.expressions.SortArray => a
    }))
    assert(sorts.size == 3, s"expected 3 sort_array, plan:\n$sp")
  }

  test("q1 scan prunes to the referenced columns and stays in codegen") {
    val df = Relational.q1(spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"))
    df.collect() // materialize so AQE finalizes the physical plan
    val p = plan(df)
    assert(p.contains("*("), "WholeStageCodegen marker *(n) missing")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_partkey"),
      s"column pruning failed: $readSchema")
  }

  test("filter pushdown reaches the parquet scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"pushdown missing:\n$p")
  }

  test("includeRoles pushes to the parquet scan, keeping commits (VERDICT r01 #6)") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-roleskip")
    Transcripts.synthetic(spark, 2000, 20).write.mode("overwrite").parquet(dir)
    val turns = spark.read.parquet(dir)
    val routed = Pipeline.routed(turns, Transcripts.lookup(spark),
      PipelineConfig(includeRoles = Seq("user")))
    val p = plan(routed)
    val pushed = "PushedFilters: [^\\n]*".r.findAllIn(p).mkString("\n")
    assert(pushed.contains("In(role") || pushed.contains("EqualTo(role"),
      s"role predicate not pushed to scan:\n$pushed")
    assert(pushed.contains("StringStartsWith(text,EVENT commit"),
      s"commit-keeper predicate not pushed:\n$pushed")
    // semantics unchanged vs post-hoc filtering (commits still drive txns)
    val reference = graft.operators.Route.includeFilters(
      Pipeline.routed(turns, Transcripts.lookup(spark)), Seq("user"), Nil)
    assert(routed.count() == reference.count())
  }

  test("sessionize composed with txn stamping shares the conv_id exchange (one shuffle)") {
    val parsed = graft.operators.Parse.parseKind(Transcripts.synthetic(spark, 10000, 100))
    val composed = graft.operators.Sessionize.sessionize(
      graft.operators.TxnStamp.stamp(parsed), gapSeconds = 3600)
    val p = plan(composed)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"sessionize must reuse the stamping exchange, found $hashExchanges:\n$p")
  }

  test("session_window bounds cost one shuffle and no window frames") {
    val parsed = graft.operators.Parse.parseKind(Transcripts.synthetic(spark, 10000, 100))
    val df = graft.operators.Sessionize.sessionWindowBounds(parsed, "1 hour")
    val p = plan(df)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"native session windows must cost one conv shuffle, found $hashExchanges:\n$p")
    assert(!p.contains("Window"),
      s"native session windows must not plan window frames:\n$p")
  }

  test("IVF assignment never exchanges the corpus (VERDICT r02 #5)") {
    // literal centroids isolate the assignment subplan from training
    val s = spark
    import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Seq(
      (0L, Seq.fill(32)(1.0)), (1L, Seq.fill(32)(-1.0)))
      .toDF("cent_id", "cent_emb")
    val assigned = graft.ann.Similarity.assignCentroids(emb, cents)
    val exec = assigned.queryExecution.executedPlan
    // no ShuffleExchange may sit ABOVE the parquet scan: the corpus flows
    // scan → project → broadcast-join → project with zero exchanges. The
    // tiny centroid-side single-partition agg may shuffle its 2 rows.
    def subtreeHasScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      (p.toString.contains("FileScan") || p.toString.contains("BatchScan"))
    val corpusShuffles = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if subtreeHasScan(e) => e
    }
    assert(corpusShuffles.isEmpty,
      s"corpus-side shuffle in IVF assignment:\n$exec")
  }

  test("ivfTopK ranks in one window: centroid probing is row-local") {
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val emb = s.range(200).select(col("id").as("vec_id"),
      array((1 to 8).map(i => sin(col("id") * i).cast("float")): _*).as("embedding"))
    val exec = graft.ann.Similarity.ivfTopK(emb, 0L until 8L, 5).queryExecution.executedPlan
    val windows = exec.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"expected one WindowExec (the top-k rank):\n$exec")
  }

  /** The first `n` Spark queries that `run` starts, in order, captured
    * when they finish (listener events arrive asynchronously; only queries
    * created after `since` count); fewer if they did not finish within 60 s.
    */
  private def queriesOf(n: Int)(run: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    @volatile var since = Long.MaxValue
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.id > since) queries.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      since = spark.range(1).queryExecution.id
      run
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (queries.size < n && System.nanoTime() < deadline) Thread.sleep(20)
      queries.toArray(Array.empty[QueryExecution]).toSeq.take(n)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Executed plan of the first Spark query that `run` starts; null if none
    * finished within 60 s.
    */
  private def firstPlanOf(run: => Unit): String =
    queriesOf(1)(run).headOption.map(_.executedPlan.toString).orNull

  test("IVF training samples via distributed top-N, never a global corpus sort (VERDICT r03 #7)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // training returns a local codebook: its one Spark query is the sample
    val p = firstPlanOf(graft.ann.Similarity.trainCentroids(emb, 16))
    assert(p != null, "no Spark query seen while training")
    // orderBy(h).limit(sampleN) must plan as TakeOrderedAndProject — a
    // distributed per-partition top-N + driver merge of sampleN rows. A
    // regression to orderBy-without-limit would GLOBAL-sort the corpus
    // (range exchange + full sort) just to seed the quantizer.
    assert(p.contains("TakeOrderedAndProject"),
      s"sample must plan as distributed top-N:\n$p")
    // No global sort anywhere in training: SortExec prints as
    // "Sort [keys], <global>, 0"; a global=true sort means the full corpus
    // is being range-exchanged.
    val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(p).toList
    assert(globalSorts.isEmpty, s"global sort in training plan:\n$p")
  }

  test("probeCentroids inlines the codebook: no aggregate, exchange or broadcast") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.ann.Similarity.trainCentroids(emb, 8)
    for (probed <- Seq(graft.ann.Similarity.assignCentroids(emb, cents),
        graft.ann.Similarity.probeCentroids(emb, cents, 3))) {
      val exec = probed.queryExecution.executedPlan
      val shapes = exec.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(shapes.isEmpty, s"the codebook is gathered or broadcast:\n$exec")
    }
  }

  test("an in-budget resolve plans no aggregate keyed on x") {
    import graft.dedup.Dedup
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val prio = Seq((1L, 5L), (3L, 9L)).toDF("doc_id", "prio")
    // the optimized plans of every query the resolve runs, through its final collect
    def plans(n: Int)(keepers: => org.apache.spark.sql.DataFrame) =
      queriesOf(n)(keepers.collect()).map(_.optimizedPlan)
    def keyedOnX(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = p.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.exists(_.references.exists(_.name == "x")) => a
    }
    for ((name, priority) <- Seq("min id" -> None, "priority" -> Some(prio))) {
      // the pair list's checkpoint, its collect, and the final collect
      val driver = plans(3)(Dedup.resolve(pairs, priority, 50, Dedup.DriverEdges))
      assert(driver.size == 3, s"$name: ${driver.size} queries")
      assert(driver.forall(keyedOnX(_).isEmpty), s"$name: aggregate keyed on x:\n${driver.mkString("\n")}")
      // the distributed path's first round is one, so the match can see it
      val distributed = plans(2)(Dedup.resolve(pairs, priority, 50, 0L))
      assert(distributed.exists(keyedOnX(_).nonEmpty), s"$name: no round aggregate seen")
    }
  }

  test("cosineNearDup shuffles only narrow triples into the candidate self-join (VERDICT r04 #1)") {
    // AQE off + broadcast off: expose every exchange in the initial
    // physical plan (AQE wraps finished stages in leaf QueryStageExecs
    // that TreeNode traversal cannot descend into)
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exec = graft.ann.Similarity.cosineNearDup(emb, 0.25)
      .queryExecution.executedPlan
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val bucketExchanges =
      exchanges.filter(_.outputPartitioning.toString.contains("bucket"))
    assert(bucketExchanges.nonEmpty, s"expected bucket-keyed exchanges:\n$exec")
    // the quadratic stage must never carry the embedding payload: every
    // exchange into the (t, bucket) self-join is (t, bucket, vec_id) only
    bucketExchanges.foreach { e =>
      assert(!e.output.exists(_.dataType.typeName.startsWith("array")),
        s"embedding array in candidate shuffle: ${e.output}\n$exec")
    }
    assert(joinsKeyedOn(exec, "bucket").isEmpty, s"bucket-keyed join:\n$exec")
  }

  test("semDedupPairs: row-local probe assignment, narrow cluster-keyed self-join") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exec = graft.ann.Similarity.semDedupPairs(emb, 0.25)
      .queryExecution.executedPlan
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the quadratic stage is keyed by cent_id and must carry only
    // (cent_id, vec_id) — never the embedding payload
    val centExchanges =
      exchanges.filter(_.outputPartitioning.toString.contains("cent_id"))
    assert(centExchanges.nonEmpty, s"expected cent_id-keyed exchanges:\n$exec")
    centExchanges.foreach { e =>
      assert(!e.output.exists(_.dataType.typeName.startsWith("array")),
        s"embedding array in cluster-keyed candidate shuffle: ${e.output}\n$exec")
    }
    assert(joinsKeyedOn(exec, "cent_id").isEmpty, s"cent_id-keyed join:\n$exec")
  }

  test("simhashCandidates verifies in the bucket: no join on a/b, no text in the bucket exchange") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exec = graft.dedup.Dedup.simhashCandidates(docs).queryExecution.executedPlan
    val bucketExchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("band") => e
    }
    assert(bucketExchanges.nonEmpty, s"expected a (band, key) exchange:\n$exec")
    bucketExchanges.foreach { e =>
      assert(!e.output.exists(a => a.name == "text" || a.dataType.typeName == "string"),
        s"text in the candidate shuffle: ${e.output}\n$exec")
    }
    assert(joinsKeyedOn(exec, "a").isEmpty && joinsKeyedOn(exec, "b").isEmpty,
      s"fingerprint join-back on a/b:\n$exec")
  }

  test("lshTopKMulti: no materialized table, the query side's filter reaches both its scans") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.ann.Similarity.lshTopKMulti(emb, 0L until 8L, 5))
    assert(!p.contains("Scan ExistingRDD"), s"materialized input:\n$p")
    val pushed = "PushedFilters: \\[[^\\n]*In\\(vec_id, \\[0,1,2,3,4,5,6,7\\]\\)".r
      .findAllIn(p).length
    assert(pushed == 2, s"expected 2 query-side scans with the pushed In:\n$p")
  }

  test("tfidf: ONE tokenize+aggregate scan serves both tf and df branches") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = graft.text.TextAnalysis.tfidf(docs)
    q.collect() // AQE: stage reuse is decided at runtime; read the final plan
    // AdaptiveSparkPlan.toString renders BOTH the final and the initial
    // (pre-AQE) plan — assert on the final section only
    val p = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"),
      s"df branch must reuse the tf (doc_id, token) aggregate's exchange:\n$p")
    // exactly one scan tokenizes text; the only other corpus scan is the
    // column-less n_docs count (reads footers, not text)
    val textScans = "ReadSchema: struct<doc_id:bigint,text:string>".r
      .findAllIn(p).length
    assert(textScans == 1, s"expected 1 text scan, got $textScans:\n$p")
    // per-doc top-k pushes the limit below the exchange (partial group
    // limit), never a global sort
    assert(p.contains("WindowGroupLimit") && !p.contains("GlobalSort"), p)
  }

  test("writeNdjson serializes inside codegen: no object (de)serialization in its plan") {
    val routed = Pipeline.routed(
      Transcripts.synthetic(spark, 10000, 100),
      Transcripts.lookup(spark))
    val dir = tempDir("graft-plan-ndjson")
    val p = firstPlanOf(graft.checkpoint.Sinks.writeNdjson(routed, dir))
    assert(p != null && p.contains("InsertIntoHadoopFsRelationCommand"),
      s"no write seen:\n$p")
    // a typed Dataset.map plans as DeserializeToObject → MapElements →
    // SerializeFromObject: rows leave the codegen'd UnsafeRow form per message
    for (node <- Seq("DeserializeToObject", "MapElements", "SerializeFromObject"))
      assert(!p.contains(node), s"$node in the sink plan:\n$p")
  }

  test("salted stamping plan avoids a full-width second exchange of the big frame") {
    val parsed = graft.operators.Parse.parseKind(Transcripts.synthetic(spark, 10000, 100))
    val p = plan(graft.operators.TxnStamp.stampSalted(parsed, 1024))
    // big frame shuffles on (conv_id, salt_block); summary/backfill frames
    // are tiny. Assert the big window partitions by both keys.
    assert(p.contains("salt_block"))
  }
}

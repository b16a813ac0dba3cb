package graft

import graft.ann.Similarity
import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keeper resolution over duplicate-pair graphs (the dedup decision step);
  * the candidate generators themselves are DuckDB-oracle-checked.
  */
class DedupSpec extends SparkSpec {

  private def resolve(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Dedup.resolveKeepers(pairs.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("clique and chain both collapse to the minimum member") {
    // clique {1,2,3} + chain 10-11-12-13
    val got = resolve(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("separate components keep separate keepers") {
    val got = resolve(Seq((5L, 6L), (20L, 21L)))
    assert(got == Map(5L -> 5L, 6L -> 5L, 20L -> 20L, 21L -> 20L))
  }

  test("a 10-hop chain converges to a true fixed point (every keeper keeps itself)") {
    // path 1-2-…-11: needs 10 propagation hops; the pre-r03 fixed iters=3
    // left keeper(x)=y with keeper(y)=z on exactly this shape (ADVICE r02)
    val chain = (1L to 10L).map(i => (i, i + 1))
    val got = resolve(chain)
    assert(got.values.toSet == Set(1L))
    // fixed-point property: every assigned keeper is its own keeper
    assert(got.values.forall(k => got(k) == k))
  }

  test("quality-priority keepers: component keeps its best member, ties break to lowest id") {
    val s = spark
    import s.implicits._
    // chain 1-2-3 (prio favors 3), clique 10-11-12 (tie on prio -> min id),
    // pair 20-21 (missing prio defaults to 0 -> 20 wins on prio)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("a", "b")
    val prio = Seq((1L, 5L), (2L, 7L), (3L, 9L), (10L, 4L), (11L, 4L),
      (12L, 4L), (20L, 2L)).toDF("doc_id", "prio")
    val got = Dedup.resolveKeepersBy(pairs, prio)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(got(_) == 3L), "chain keeps highest prio via hops")
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L), "prio tie -> lowest id")
    assert(got(20L) == 20L && got(21L) == 20L, "absent prio defaults below present")
    // every keeper keeps itself (fixed point)
    got.values.toSet.foreach { (k: Long) => assert(got(k) == k) }
  }

  test("a doc with several priority rows takes its highest, on both resolve paths") {
    val s = spark
    import s.implicits._
    // the best row of docs 3 (a pair's a end) and 4 (a pair's b end) sits
    // between two worse ones, so it is neither the first nor the last row
    // the join emits for that doc
    val pairs = Seq((3L, 1L), (3L, 2L), (0L, 4L)).toDF("a", "b")
    val prio = Seq((3L, 1L), (3L, 9L), (3L, 0L), (1L, 5L),
      (4L, 1L), (4L, 9L), (4L, 0L), (0L, 5L)).toDF("doc_id", "prio")
    def keepers(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 0L -> 4L, 4L -> 4L)
    assert(keepers(Dedup.resolveKeepersBy(pairs, prio)) == want)
    // driver finish, and the distributed fixed point
    for (budget <- Seq(Long.MaxValue, 0L))
      assert(keepers(Dedup.resolve(pairs, Some(prio), maxIters = 50, driverEdges = budget)) == want)
  }

  test("empty pair input resolves to zero rows") {
    val s = spark
    import s.implicits._
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.resolveKeepers(none).count() == 0)
    assert(Dedup.resolveKeepersBy(none, Seq.empty[(Long, Long)].toDF("doc_id", "prio"))
      .count() == 0)
  }

  /** The Spark actions `run` performs on the clique+chain graph, in order,
    * up to and including its `collects`-th `collect`.
    */
  private def actionsOf(collects: Int)(run: org.apache.spark.sql.DataFrame => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    // listener events arrive asynchronously, some possibly from earlier
    // tests: count only queries created after this point
    @volatile var since = Long.MaxValue
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.id > since) actions.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        if (qe.id > since) actions.add(s"failed $funcName")
    }
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("a", "b")
    spark.listenerManager.register(listener)
    try {
      since = spark.range(1).queryExecution.id
      run(pairs)
      // events arrive in order: once the last collect is seen, the resolve's are in
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (actions.toArray.count(_ == "collect") < collects &&
        System.nanoTime() < deadline) Thread.sleep(20)
      actions.toArray.toSeq.map(_.toString)
    } finally spark.listenerManager.unregister(listener)
  }

  test("one Spark action per propagation round: the round's own localCheckpoint") {
    val actions = actionsOf(1)(pairs =>
      Dedup.resolve(pairs, None, maxIters = 50, driverEdges = 0).collect())
    // the pair list's localCheckpoint, then one per round: the chain
    // 10-11-12-13 changes labels in rounds 1-3; round 4 sees none
    assert(actions == Seq.fill(5)("localCheckpoint") :+ "collect")
  }

  test("an in-budget graph resolves on the driver: one checkpoint, one collect") {
    val actions = actionsOf(2)(pairs => Dedup.resolveKeepers(pairs).collect())
    assert(actions == Seq("localCheckpoint", "collect", "collect"))
  }

  test("band-pair simhash candidates: full recall of hamming <= 6 vs brute-force all-pairs") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // two docs with null text have a null fingerprint, hence null band
    // keys: they must pair with nothing, not with each other
    val nullText = Seq(-1L, -2L)
    val docs = corpus.unionByName(spark.range(1, 3).select((-col("id")).as("doc_id"),
      lit(null).cast("string").as("text")), allowMissingColumns = true)
    val sh = Dedup.simhashDocs(docs)
    val a = sh.select(col("doc_id").as("a"), col("sh64").as("ha"))
    val b = sh.select(col("doc_id").as("b"), col("sh64").as("hb"))
    val truth = a.join(b, col("a") < col("b"))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 6)
      .select("a", "b")
    val cand = Dedup.simhashCandidates(docs).select("a", "b")
    assert(sh.filter(col("doc_id").isin(nullText: _*) && col("sh64").isNull).count() == 2)
    assert(cand.filter(col("a").isin(nullText: _*) || col("b").isin(nullText: _*)).isEmpty,
      "a doc with null text is in a candidate pair")
    assert(truth.count() > 0, "corpus should contain near-dup fingerprints")
    assert(truth.exceptAll(cand).isEmpty,
      "a true hamming<=6 pair escaped the C(8,2) band-pair index")
    // and the guarantee's precondition is enforced
    intercept[IllegalArgumentException] {
      Dedup.simhashCandidates(docs, maxHamming = 7)
    }
  }

  test("maxIters too small for the diameter fails loudly, never silently partial") {
    val s = spark
    import s.implicits._
    val chain = (1L to 10L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](
      Dedup.resolve(chain, None, maxIters = 2, driverEdges = 0).collect())
    assert(e.getMessage.contains("did not converge"))
  }

  /** The candidate self-join that [[Dedup.bucketPairs]] replaced: cap each
    * (k1, k2) bucket to its `cap` lowest ids with a row_number window, then
    * equi-join the table with itself on the key with a < b. The window
    * sorts a null id last, as the DuckDB oracle's ORDER BY does (Spark's
    * default puts it first, where it took one of the cap's slots and
    * paired with nothing).
    */
  private def selfJoinPairs(table: DataFrame, cap: Int): DataFrame = {
    val capped =
      if (cap == Int.MaxValue) table
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k1", "k2").orderBy(col("id").asc_nulls_last)
        table.withColumn("rk", row_number().over(w)).filter(col("rk") <= cap).drop("rk")
      }
    val l = capped.select(col("k1"), col("k2"), col("id").as("a"))
    val r = capped.select(col("k1").as("k1_r"), col("k2").as("k2_r"), col("id").as("b"))
    l.join(r, col("k1") === col("k1_r") && col("k2") === col("k2_r") && col("a") < col("b"))
      .select("a", "b").distinct()
  }

  test("bucketPairs gives the self-join's pairs: duplicate ids, null keys and ids, caps") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k1", IntegerType), StructField("k2", StringType),
      StructField("id", LongType)))
    def table(rows: Seq[(Integer, String, java.lang.Long)]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*),
        schema)
    // bucket (1, x): 3, 1, 1, 2 and a null id; (1, null) and (null, x)
    // would pair 1-2 and 1-5 were a null key a bucket; (2, y): 4 alone
    val fixed = Seq[(Integer, String, java.lang.Long)]((1, "x", 3L), (1, "x", 1L),
      (1, "x", 1L), (1, "x", null), (1, "x", 2L), (1, null, 1L), (1, null, 2L),
      (null, "x", 1L), (null, "x", 5L), (2, "y", 4L), (2, "x", 7L), (2, "x", 5L))
    val rnd = new scala.util.Random(7)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    val generated = (1 to 4).map(_ => Seq.fill[(Integer, String, java.lang.Long)](80)((
      pick[Integer](0, 1, 2, null), pick("x", "y", null),
      if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(24).toLong))))
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    for (rows <- fixed +: generated; cap <- Seq(1, 2, 3, 100, Int.MaxValue)) {
      val t = table(rows)
      val want = pairs(selfJoinPairs(t, cap))
      assert(pairs(Dedup.bucketPairs(t, Seq("k1", "k2"), "id", cap)) == want, s"cap $cap: $rows")
      if (cap >= 3) assert(want.nonEmpty)
    }
    assert(pairs(Dedup.bucketPairs(table(fixed), Seq("k1", "k2"), "id")) ==
      Set(1L -> 2L, 1L -> 3L, 2L -> 3L, 5L -> 7L))
    assert(pairs(Dedup.bucketPairs(table(fixed), Seq("k1", "k2"), "id", 2)) ==
      Set(5L -> 7L), "cap 2 keeps ids 1, 1 of bucket (1, x): no pair")
  }

  test("candidate generators are lazy: no Spark action at the call but semDedupPairs' training") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // each call is followed by one marker collect, which ends the capture
    def atCall(collects: Int)(call: => DataFrame): Seq[String] =
      actionsOf(collects)(_ => { call; spark.range(1).collect() })
    assert(atCall(1)(Dedup.minhashCandidates(docs)) == Seq("collect"))
    assert(atCall(1)(Similarity.cosineNearDup(emb, 0.25)) == Seq("collect"))
    assert(atCall(2)(Similarity.semDedupPairs(emb, 0.25)) == Seq("collect", "collect"))
    assert(atCall(1)(Dedup.simhashCandidates(docs)) == Seq("collect"))
    assert(atCall(1)(Similarity.lshTopKMulti(emb, 0L until 8L, 5)) == Seq("collect"))
  }

  /** The simhash candidate formulation that carrying `sh64` in the bucket
    * replaced: the distinct (a, b) pairs of the band-pair buckets, with both
    * fingerprints joined back by doc id for the hamming verify.
    */
  private def simhashJoinBack(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    val sh = Dedup.simhashDocs(docs)
    val combos = for { i <- 0 until 8; j <- (i + 1) until 8 } yield (i, j)
    val banded = sh.select(col("doc_id"),
      explode(array(combos.map { case (i, j) =>
        struct(lit(i * 8 + j).as("band"),
          (shiftright(col("sh64"), i * 8).bitwiseAND(lit(255L)) * lit(256L) +
            shiftright(col("sh64"), j * 8).bitwiseAND(lit(255L))).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    Dedup.bucketPairs(banded, Seq("band", "key"), "doc_id")
      .join(sh.select(col("doc_id").as("a"), col("sh64").as("sh_a")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh64").as("sh_b")), "b")
      .select(col("a"), col("b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .withColumn("is_dup", (col("hamming") <= maxHamming).cast("int"))
  }

  test("simhash candidates verified in the bucket equal the fingerprint join-back") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => s"w$i")
    def words(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    // 60 near-identical docs (one token differs) share most band-pair keys:
    // fat buckets that enumerate each pair many times
    val base = words(30)
    val cluster = (0 until 60).map(i => (10000L + i, s"$base w${i % 7}"))
    val nullText = Seq[(Long, String)]((-1L, null), (-2L, null))
    val generated = (0 until 300).map(i => (20000L + i, words(3 + rnd.nextInt(12))))
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for ((name, docs) <- Seq(
        "sf0.001 + cluster + null text" -> corpus.union((cluster ++ nullText).toDF("doc_id", "text")),
        "generated + cluster + null text" -> (generated ++ cluster ++ nullText).toDF("doc_id", "text"))) {
      val want = simhashJoinBack(docs)
      val got = Dedup.simhashCandidates(docs)
      assert(got.columns.toSeq == want.columns.toSeq, name)
      assert(want.filter(col("is_dup") === 1).count() > 0, name)
      assert(want.filter(col("a") >= 10000L && col("a") < 10060L).count() > 0, name)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, name)
    }
  }
}

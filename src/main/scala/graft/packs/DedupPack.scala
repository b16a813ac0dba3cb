package graft.packs

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Dedup queries over `documents` with DuckDB oracles mirroring the exact
  * md5-derived integer hashing (see [[graft.dedup.Dedup]]).
  */
object DedupPack extends QueryPack {

  private val duckToks = "regexp_split_to_array(trim(text), '\\s+')"
  private def duckH32(e: String): String = s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** shingled: doc_id, sh (distinct token 3-grams); docs with ≥3 tokens. */
  private val duckShingled = s"""shingled AS (
    SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
    FROM (SELECT doc_id, $duckToks AS toks FROM documents)
    WHERE len(toks) >= 3)"""

  /** sigs: doc_id, sig = [min((a_j·h+b_j) % P) for j in 0..15]. */
  private val duckSigs = {
    val sigExprs = (0 until Dedup.NumHashes).map { j =>
      s"list_min(list_transform(base, x -> (x * ${Dedup.aCoef(j)} + ${Dedup.bCoef(j)}) % ${Dedup.P}))"
    }.mkString(", ")
    s"""sigs AS (
      SELECT doc_id, [$sigExprs] AS sig
      FROM (SELECT doc_id, list_transform(sh, s -> ${duckH32("s")}) AS base FROM shingled))"""
  }

  /** bands: doc_id, band_idx, band_hash (4 bands x 4 rows). */
  private val duckBands = {
    val selects = (0 until Dedup.NumBands).map { b =>
      val parts = (1 to Dedup.BandRows)
        .map(r => s"CAST(sig[${b * Dedup.BandRows + r}] AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band_idx, md5($parts) AS band_hash FROM sigs"
    }.mkString(" UNION ALL ")
    s"bands AS ($selects)"
  }

  private val duckMinhashCtes = s"WITH $duckShingled, $duckSigs, $duckBands"

  /** Bands after the default-on hot-bucket cap (mirrors
    * [[Dedup.DefaultMaxBucket]]): keep the `cap` lowest doc_ids per
    * (band_idx, band_hash) bucket.
    */
  private def duckCapped(cap: Int) = s"""capped AS (
    SELECT doc_id, band_idx, band_hash FROM (
      SELECT *, row_number() OVER (PARTITION BY band_idx, band_hash
        ORDER BY doc_id) AS rk FROM bands) WHERE rk <= $cap)"""

  /** Candidate pairs from the capped bands — the production-default path. */
  private val duckCand = s"""cand AS (
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM capped l JOIN capped r
      ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
         AND l.doc_id < r.doc_id)"""

  /** Unsigned 64-bit token hash: first 8 md5 bytes (mirrors SimHashSig). */
  private def duckH64(e: String): String = s"('0x' || substr(md5($e), 1, 16))::UBIGINT"

  /** simhash bit terms generated per bit j (64-bit; bit 63 contributes the
    * signed Long.MinValue so the fingerprint reinterprets as the same
    * signed BIGINT Spark produces).
    */
  private val duckSimhash = {
    val bits = (0 until 64).map { j =>
      val term = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
      s"CASE WHEN 2 * len(list_filter(hs, h -> ((h >> $j) & 1) = 1)) >= len(hs) THEN $term ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT doc_id, CAST($bits AS BIGINT) AS sh64
        FROM (SELECT doc_id, list_transform($duckToks, t -> ${duckH64("t")}) AS hs FROM documents)"""
  }

  def queries = Map(
    "dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "dedup_minhash_bands" -> ((s, dir) => Dedup.minhashBands(docs(s, dir))),
    // default path: hot-bucket cap ON (DefaultMaxBucket, VERDICT r03 #3)
    "dedup_minhash_pairs" -> ((s, dir) => Dedup.minhashCandidates(docs(s, dir))),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(docs(s, dir))),
    "dedup_simhash" -> ((s, dir) => Dedup.simhashDocs(docs(s, dir))),
    "dedup_simhash_pairs" -> ((s, dir) => Dedup.simhashCandidates(docs(s, dir))),
    // tight cap (cap=2): stresses the capped window path
    "dedup_minhash_pairs_capped" -> ((s, dir) =>
      Dedup.minhashCandidates(docs(s, dir), maxBucket = 2)),
    // uncapped opt-in: the pre-r04 default, kept graded
    "dedup_minhash_pairs_uncapped" -> ((s, dir) =>
      Dedup.minhashCandidates(docs(s, dir), maxBucket = Int.MaxValue)),
    // pair graph -> keeper per doc (the actual dedup decision)
    "dedup_resolve" -> ((s, dir) =>
      Dedup.resolveKeepers(Dedup.minhashCandidates(docs(s, dir))),
    ),
    // quality-priority keeper: each component keeps its LONGEST member
    // (prio = token count; ties -> lowest doc_id) — the production "keep
    // the best duplicate" decision
    "dedup_resolve_quality" -> ((s, dir) =>
      Dedup.resolveKeepersBy(
        Dedup.minhashCandidates(docs(s, dir)),
        graft.text.TextAnalysis.tokenStats(docs(s, dir))
          .select(col("doc_id"), col("n_tokens").as("prio")))),
    // streaming exact dedup on ingest: the documents table replayed
    // through a parquet file source (fully distributed, nothing
    // collected), deduped continuously by content hash. Deterministic
    // because only the hash survives the projection.
    "dedup_stream_exact" -> ((s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "8")
      // file sources stream DIRECTORIES; documents.parquet is a single
      // file, so stream its parent with a glob filter (no data copy)
      val input = s.readStream
        .schema(docs(s, dir).schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      Replay.withReplayDir("graft-dse-ckpt") { ckpt =>
        Replay.drainToMemory(graft.streaming.StreamingPipeline.dedupStream(input),
          "dedup_stream_exact", ckpt)
      }
    }),
    // bounded-state streaming dedup — the mode a real unbounded ingest
    // runs (VERDICT r04 #4): dropDuplicatesWithinWatermark with a
    // 10-minute horizon, driven through a 4-batch file-source replay whose
    // event times exercise all three behaviors the operator must show:
    //   batch0 @T0      all docs            → first admissions
    //   batch1 @T0+30m  doc_id%5=0 dups     → DROPPED (state alive: the
    //                   watermark is still T0−10m while processing)
    //          @T0−30m  doc_id%7=3 dups     → DROPPED (late AND in state)
    //          @T0−30m  doc_id%7=3, ' late-v' suffix (fresh hashes)
    //                                       → ADMITTED: measured Spark
    //                   semantic — the operator bounds dedup STATE to the
    //                   horizon, it is not a late-data filter; a late row
    //                   whose key is absent from state passes through
    //   batch2 @T0+60m  doc_id%11=1, ' wm-advance' suffix (fresh hashes)
    //                                       → admitted; advances the
    //                   watermark past batch0's state expiry (T0+10m)
    //   batch3 @T0+90m  doc_id%5=0 dups     → RE-ADMITTED (state evicted)
    // The oracle is the DISTINCT-within-horizon union of the four admitted
    // groups; the second copy of the %5 hashes in the output IS the
    // bounded-state semantic made visible.
    "dedup_stream_watermark" -> ((s0, dir) => {
      val s = s0.newSession()
      // 4 like k4: the replay runs FOUR microbatches, each paying state
      // store init per partition, on a 500..5k-row fixture
      s.conf.set("spark.sql.shuffle.partitions", "4")
      Replay.withReplayDir("graft-dedup-wm") { replayDir =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        def ts(mins: Int) =
          (lit("2026-01-01 00:00:00").cast("timestamp").cast("long")
            + mins * 60L).cast("timestamp")
        val b0 = d.select(col("text"), ts(0).as("event_ts"))
        val b1 = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("text"), ts(30).as("event_ts"))
          .unionAll(d.filter(pmod(col("doc_id"), lit(7)) === 3)
            .select(col("text"), ts(-30).as("event_ts")))
          .unionAll(d.filter(pmod(col("doc_id"), lit(7)) === 3)
            .select(concat(col("text"), lit(" late-v")).as("text"),
              ts(-30).as("event_ts")))
        val b2 = d.filter(pmod(col("doc_id"), lit(11)) === 1)
          .select(concat(col("text"), lit(" wm-advance")).as("text"),
            ts(60).as("event_ts"))
        val b3 = d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("text"), ts(90).as("event_ts"))
        Seq(b0, b1, b2, b3).zipWithIndex.foreach { case (df, i) =>
          Replay.writeBatchFile(df, replayDir, f"batch$i%02d.parquet",
            (i + 1) * 60000L)
        }
        val input = s.readStream.schema("text STRING, event_ts TIMESTAMP")
          .option("maxFilesPerTrigger", "1")
          .parquet(replayDir)
        val out = graft.streaming.StreamingPipeline.dedupStream(
          input, "event_ts", withinWatermark = Some("10 minutes"))
        Replay.drainToMemory(out, "dedup_stream_wm", Replay.checkpointIn(replayDir))
      }
    })
  )

  def oracleSql = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n,
         min(doc_id) AS keeper FROM documents GROUP BY 1""",

    "dedup_stream_exact" ->
      "SELECT DISTINCT md5(text) AS h FROM documents",

    // first admissions + late-but-fresh admissions + heartbeat admissions
    // + post-expiry re-admissions; batch1's in-horizon duplicates (on-time
    // AND late) contribute nothing
    "dedup_stream_watermark" ->
      """SELECT DISTINCT md5(text) AS h FROM documents
         UNION ALL
         SELECT DISTINCT md5(text || ' late-v') AS h FROM documents
         WHERE doc_id % 7 = 3
         UNION ALL
         SELECT DISTINCT md5(text || ' wm-advance') AS h FROM documents
         WHERE doc_id % 11 = 1
         UNION ALL
         SELECT DISTINCT md5(text) AS h FROM documents
         WHERE doc_id % 5 = 0""",

    "dedup_minhash_bands" ->
      s"$duckMinhashCtes SELECT doc_id, band_idx, band_hash FROM bands",

    "dedup_minhash_pairs" ->
      s"""$duckMinhashCtes, ${duckCapped(Dedup.DefaultMaxBucket)}, $duckCand
          SELECT a, b FROM cand""",

    "dedup_minhash_pairs_uncapped" ->
      s"""$duckMinhashCtes
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM bands l JOIN bands r
            ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
               AND l.doc_id < r.doc_id""",

    "dedup_ngram_jaccard" ->
      s"""$duckMinhashCtes, ${duckCapped(Dedup.DefaultMaxBucket)}, $duckCand
          SELECT c.a, c.b,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS INT) AS inter,
            CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS INT) AS uni,
            CASE WHEN len(list_intersect(sa.sh, sb.sh)) * 10
                      >= len(list_distinct(list_concat(sa.sh, sb.sh))) * 8
                 THEN 1 ELSE 0 END AS is_dup
          FROM cand c
          JOIN shingled sa ON sa.doc_id = c.a
          JOIN shingled sb ON sb.doc_id = c.b""",

    "dedup_simhash" -> duckSimhash,

    "dedup_minhash_pairs_capped" ->
      s"""$duckMinhashCtes, ${duckCapped(2)}, $duckCand
          SELECT a, b FROM cand""",

    // Exact connected-component minimum via recursive transitive closure:
    // reach(x, r) = "r reachable from x"; min(r) per x = the component min
    // — the same component minimum Dedup.resolveKeepers returns (the Spark
    // side propagates min labels until no label changes, finishing by
    // union-find on the driver after one round for graphs within its edge
    // budget).
    "dedup_resolve" ->
      s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
          ${duckCapped(Dedup.DefaultMaxBucket)}, $duckCand,
          edges AS (SELECT a AS x, b AS y FROM cand
                    UNION ALL SELECT b AS x, a AS y FROM cand),
          reach AS (
            SELECT x, x AS r FROM (SELECT DISTINCT x FROM edges)
            UNION
            SELECT e.x, rc.r FROM edges e JOIN reach rc ON rc.x = e.y)
          SELECT x AS doc_id, min(r) AS keeper FROM reach GROUP BY x""",

    // same transitive closure, keeper = arg-max token count (tie: min id)
    "dedup_resolve_quality" ->
      s"""${duckMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
          ${duckCapped(Dedup.DefaultMaxBucket)}, $duckCand,
          edges AS (SELECT a AS x, b AS y FROM cand
                    UNION ALL SELECT b AS x, a AS y FROM cand),
          reach AS (
            SELECT x, x AS r FROM (SELECT DISTINCT x FROM edges)
            UNION
            SELECT e.x, rc.r FROM edges e JOIN reach rc ON rc.x = e.y),
          prio AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS p
                   FROM documents)
          SELECT x AS doc_id, r AS keeper FROM (
            SELECT re.x, re.r,
              row_number() OVER (PARTITION BY re.x
                ORDER BY q.p DESC, re.r ASC) AS rk
            FROM reach re JOIN prio q ON q.doc_id = re.r)
          WHERE rk = 1""",

    // SimHash candidates keyed on band PAIRS: C(8,2)=28 16-bit keys
    // (mirrors Dedup.simhashCandidates' block-combination indexing)
    "dedup_simhash_pairs" ->
      s"""WITH sh AS ($duckSimhash),
          banded AS (
            SELECT doc_id, sh64, bp.i * 8 + bp.j AS band,
              ((sh64 >> (bp.i * 8)) & 255) * 256
                + ((sh64 >> (bp.j * 8)) & 255) AS key
            FROM sh, (SELECT ii.i, jj.j
                      FROM (SELECT unnest(range(0, 8)) AS i) ii,
                           (SELECT unnest(range(0, 8)) AS j) jj
                      WHERE ii.i < jj.j) bp),
          cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
              l.sh64 AS sh_a, r.sh64 AS sh_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
          SELECT a, b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming,
            CASE WHEN bit_count(xor(sh_a, sh_b)) <= 6 THEN 1 ELSE 0 END AS is_dup
          FROM cand"""
  )
}

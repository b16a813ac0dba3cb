package graft.packs

import graft.curate.Curate
import org.apache.spark.sql.functions._

/** Corpus-curation queries over `documents` with DuckDB oracles mirroring
  * the portable md5 hashing (same family as [[DedupPack]]).
  */
object CuratePack extends QueryPack {

  private val duckToks = "regexp_split_to_array(trim(text), '\\s+')"

  /** Mirrors Curate.bucket: ('0x'||md5-prefix)::BIGINT % mod on the
    * salted key.
    */
  private def duckBucket(key: String, salt: String, mod: Int): String =
    s"(('0x' || substr(md5(CAST($key AS VARCHAR) || '$salt'), 1, 8))::BIGINT % $mod)"

  private val duckShingles =
    """list_distinct(list_transform(range(1, len(toks) - 1),
       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"""

  /** Quality-gate raw signals, mirroring Curate.qualityGate: sum of token
    * lengths = whitespace-collapsed length minus the n-1 separators.
    */
  private val duckGateSignals = {
    val stops = graft.text.TextAnalysis.stopwords("en")
      .map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
        CAST(len($duckToks) AS INT) AS n_tokens,
        CAST(length(regexp_replace(trim(text), '\\s+', ' ', 'g'))
          - (len($duckToks) - 1) AS INT) AS sum_len,
        CAST(len(list_filter($duckToks, t -> t IN ($stops))) AS INT) AS n_stop,
        CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INT) AS n_punct,
        CAST(length(text) AS INT) AS n_chars,
        CAST(len(list_distinct($duckToks)) AS INT) AS n_distinct
        FROM documents"""
  }

  def queries = Map(
    "cur_split" -> ((s, dir) => Curate.split(docs(s, dir))),
    "cur_sample_stratified" -> ((s, dir) => Curate.sampleStratified(docs(s, dir))),
    "cur_pack_shards" -> ((s, dir) => Curate.packShards(docs(s, dir))),
    // hot-source block-salted packing: output contract-identical to
    // cur_pack_shards (same oracle), graded separately like the
    // capped/uncapped minhash pair
    "cur_pack_shards_salted" -> ((s, dir) =>
      Curate.packShardsSalted(docs(s, dir), blockSize = 64)),
    // weighted mixture interleave: en-heavy example weights
    "cur_mix" -> ((s, dir) =>
      Curate.mix(docs(s, dir), weights = Map("src0" -> 3, "src1" -> 2))),
    "cur_decontaminate" -> ((s, dir) => Curate.decontaminate(docs(s, dir))),
    // the 100 TB bloom swap, graded (VERDICT r04 #3): Spark MEASURES the
    // bloom path's contract against the exact path — superset coverage at
    // doc and hit level, false-positive extras within a 1% budget — and
    // the oracle independently recomputes the exact-side counts and
    // asserts the invariants hold (bloom bits are engine-specific, so the
    // invariant, not the bit pattern, is the portable truth).
    "cur_decontaminate_bloom" -> ((s, dir) => {
      // one materialized shingle pass serves all FOUR consumers (exact
      // path, bloom build, bloom apply, clean-count) — the previous
      // composition re-shingled the corpus five times because each
      // consumer's plan re-executed the shared subtree
      val sh = Curate.shingled(docs(s, dir)).localCheckpoint()
      val exact = Curate.decontaminateShingled(sh)
        .select(col("doc_id"), col("n_hits").as("exact_hits"))
      val bloom = Curate.decontaminateBloomShingled(sh)
        .select(col("doc_id").as("b_doc"), col("n_hits").as("bloom_hits"))
      val clean = sh.select(col("is_bench"), size(col("shs")).as("ns"))
        .filter(!col("is_bench") && col("ns") > 0)
        .agg(count(lit(1)).as("n_clean"))
      exact.join(bloom, exact("doc_id") === bloom("b_doc"), "full_outer")
        .crossJoin(clean)
        .agg(
          max(col("n_clean")).as("n_clean"),
          count(col("doc_id")).as("n_contaminated"),
          (coalesce(sum(when(col("doc_id").isNotNull && col("b_doc").isNull, 1)
            .otherwise(0)), lit(0)) === 0).cast("int").as("covers_exact"),
          (coalesce(sum(when(col("bloom_hits") < col("exact_hits"), 1)
            .otherwise(0)), lit(0)) === 0).cast("int").as("hits_superset"),
          (coalesce(sum(when(col("doc_id").isNull, 1).otherwise(0)), lit(0)) * 100
            <= max(col("n_clean"))).cast("int").as("fp_within_budget"))
    }),
    "cur_repetition" -> ((s, dir) => Curate.repetition(docs(s, dir))),
    // Gopher-style composite quality gate: five integer-exact rule flags
    // plus the conjunction, all row-local (audit-friendly drop reasons)
    "cur_quality_gate" -> ((s, dir) => Curate.qualityGate(docs(s, dir))),
    // the full curation chain (gate -> exact-dedup keeper -> benchmark
    // decontamination -> split), composed from the individually graded
    // operators so the composition itself is oracle-checked
    "cur_e2e" -> ((s, dir) => Curate.curateE2E(docs(s, dir))),
    "cur_chunk" -> ((s, dir) => Curate.chunk(docs(s, dir))),
    "cur_len_quantiles" -> ((s, dir) => Curate.lengthQuantiles(docs(s, dir))),
    // the 100 TB approx_percentile swap, graded against its rank-error
    // budget (VERDICT r04 #5): exact quartiles hash-matched, approx
    // guarantee measured as rank_ok
    "cur_len_quantiles_approx" -> ((s, dir) =>
      Curate.lengthQuantilesApprox(docs(s, dir)))
  )

  def oracleSql = Map(
    "cur_split" -> {
      val b = duckBucket("doc_id", "graft-split", 100)
      s"""SELECT doc_id, $b AS bucket,
          CASE WHEN $b < 90 THEN 'train'
               WHEN $b < 95 THEN 'val' ELSE 'test' END AS split
          FROM documents"""
    },

    "cur_sample_stratified" -> {
      val b = duckBucket("doc_id", "graft-sample", 100)
      val rate = Curate.sampleRates.foldLeft("10") { case (acc, (lang, pct)) =>
        s"CASE WHEN lang = '$lang' THEN $pct ELSE $acc END"
      }
      s"""SELECT doc_id, lang, $b AS bucket FROM documents
          WHERE $b < ($rate)"""
    },

    "cur_pack_shards" ->
      s"""SELECT doc_id, source, n_tokens,
          CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                      - n_tokens) / 512.0) AS BIGINT) AS shard_idx
          FROM (SELECT doc_id, source,
                  CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents)""",

    // block-salted path must produce the identical packing
    "cur_pack_shards_salted" ->
      s"""SELECT doc_id, source, n_tokens,
          CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                      - n_tokens) / 512.0) AS BIGINT) AS shard_idx
          FROM (SELECT doc_id, source,
                  CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents)""",

    "cur_mix" -> {
      val b = duckBucket("doc_id", "graft-mix", 1 << 30)
      s"""SELECT doc_id, source, rank,
          (rank * 1000000) // (CASE WHEN source = 'src1' THEN 2
                                    WHEN source = 'src0' THEN 3 ELSE 1 END)
            AS mix_key
          FROM (SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY $b, doc_id) AS BIGINT) AS rank
                FROM documents)"""
    },

    "cur_decontaminate" -> {
      val isBench = s"${duckBucket("doc_id", "graft-bench", 20)} = 0"
      s"""WITH shingled AS (
            SELECT doc_id, $isBench AS is_bench, $duckShingles AS shs
            FROM (SELECT doc_id, $duckToks AS toks FROM documents)
            WHERE len(toks) >= 3),
          bench AS (
            SELECT DISTINCT unnest(shs) AS sh FROM shingled WHERE is_bench),
          corpus AS (
            SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_shingles,
              unnest(shs) AS sh FROM shingled WHERE NOT is_bench)
          SELECT c.doc_id, min(c.n_shingles) AS n_shingles,
            CAST(count(*) AS BIGINT) AS n_hits
          FROM corpus c JOIN bench b ON c.sh = b.sh
          GROUP BY c.doc_id"""
    },

    // exact-side counts recomputed independently; the bloom-vs-exact
    // invariants (superset, hit dominance, FP budget) are asserted as
    // constants — the Spark side MEASURES them, so a green row means the
    // measured invariants held
    "cur_decontaminate_bloom" -> {
      val isBench = s"${duckBucket("doc_id", "graft-bench", 20)} = 0"
      s"""WITH shingled AS (
            SELECT doc_id, $isBench AS is_bench, $duckShingles AS shs
            FROM (SELECT doc_id, $duckToks AS toks FROM documents)
            WHERE len(toks) >= 3),
          bench AS (
            SELECT DISTINCT unnest(shs) AS sh FROM shingled WHERE is_bench),
          corpus AS (
            SELECT doc_id, unnest(shs) AS sh FROM shingled WHERE NOT is_bench),
          contaminated AS (
            SELECT DISTINCT c.doc_id FROM corpus c JOIN bench b ON c.sh = b.sh)
          SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM shingled WHERE NOT is_bench) AS n_clean,
            (SELECT CAST(count(*) AS BIGINT) FROM contaminated) AS n_contaminated,
            1 AS covers_exact, 1 AS hits_superset, 1 AS fp_within_budget"""
    },

    "cur_repetition" ->
      s"""SELECT doc_id,
          CAST(greatest(len($duckToks) - 2, 0) AS BIGINT) AS n_grams,
          CAST(CASE WHEN len($duckToks) >= 3
            THEN len(list_distinct(list_transform(
              range(1, len($duckToks) - 1),
              i -> ($duckToks)[i] || ' ' || ($duckToks)[i+1] || ' ' || ($duckToks)[i+2])))
            ELSE 0 END AS BIGINT) AS n_distinct,
          CAST(CASE WHEN greatest(len($duckToks) - 2, 0) > 0
              AND (greatest(len($duckToks) - 2, 0)
                - CASE WHEN len($duckToks) >= 3
                  THEN len(list_distinct(list_transform(
                    range(1, len($duckToks) - 1),
                    i -> ($duckToks)[i] || ' ' || ($duckToks)[i+1] || ' ' || ($duckToks)[i+2])))
                  ELSE 0 END) * 10 >= greatest(len($duckToks) - 2, 0) * 3
            THEN 1 ELSE 0 END AS INT) AS is_repetitive
          FROM documents""",

    "cur_quality_gate" ->
      s"""WITH sig AS ($duckGateSignals)
          SELECT doc_id, n_tokens, ok_len, ok_word_len, ok_stop, ok_punct,
            ok_distinct,
            CAST(ok_len * ok_word_len * ok_stop * ok_punct * ok_distinct
              AS INT) AS keep
          FROM (
            SELECT doc_id, n_tokens,
              CAST(CASE WHEN n_tokens >= 5 AND n_tokens <= 5000
                THEN 1 ELSE 0 END AS INT) AS ok_len,
              CAST(CASE WHEN sum_len >= n_tokens * 2
                    AND sum_len <= n_tokens * 12
                THEN 1 ELSE 0 END AS INT) AS ok_word_len,
              CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS INT) AS ok_stop,
              CAST(CASE WHEN n_punct * 10 <= n_chars
                THEN 1 ELSE 0 END AS INT) AS ok_punct,
              CAST(CASE WHEN n_distinct * 2 >= n_tokens
                THEN 1 ELSE 0 END AS INT) AS ok_distinct
            FROM sig)""",

    "cur_e2e" -> {
      val isBenchDoc = s"${duckBucket("doc_id", "graft-bench", 20)} = 0"
      val b = duckBucket("doc_id", "graft-split", 100)
      s"""WITH sig AS ($duckGateSignals),
          gate AS (
            SELECT doc_id FROM sig
            WHERE n_tokens >= 5 AND n_tokens <= 5000
              AND sum_len >= n_tokens * 2 AND sum_len <= n_tokens * 12
              AND n_stop >= 2 AND n_punct * 10 <= n_chars
              AND n_distinct * 2 >= n_tokens),
          dd AS (
            SELECT min(d.doc_id) AS doc_id
            FROM documents d JOIN gate g ON d.doc_id = g.doc_id
            GROUP BY md5(d.text)),
          shingled AS (
            SELECT doc_id, $isBenchDoc AS is_bench, $duckShingles AS shs
            FROM (SELECT doc_id, $duckToks AS toks FROM documents)
            WHERE len(toks) >= 3),
          bench AS (
            SELECT DISTINCT unnest(shs) AS sh FROM shingled WHERE is_bench),
          contaminated AS (
            SELECT DISTINCT c.doc_id
            FROM (SELECT doc_id, unnest(shs) AS sh FROM shingled
                  WHERE NOT is_bench) c
            JOIN bench b ON c.sh = b.sh)
          SELECT doc_id,
            CASE WHEN $b < 90 THEN 'train'
                 WHEN $b < 95 THEN 'val' ELSE 'test' END AS split
          FROM dd
          WHERE NOT ($isBenchDoc)
            AND doc_id NOT IN (SELECT doc_id FROM contaminated)"""
    },

    "cur_chunk" ->
      s"""SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
          CAST(least(len(toks) - ci * 64, 64) AS BIGINT) AS n_chunk_tokens,
          array_to_string(list_slice(toks, ci * 64 + 1, ci * 64 + 64), ' ')
            AS chunk_text
          FROM (
            SELECT doc_id, toks,
              unnest(range(0, ((len(toks) - 1) // 64) + 1)) AS ci
            FROM (SELECT doc_id, $duckToks AS toks FROM documents)
            WHERE len(toks) >= 1)""",

    "cur_len_quantiles" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         min(n_chars) AS len_min,
         quantile_cont(n_chars, 0.25) AS len_p25,
         quantile_cont(n_chars, 0.50) AS len_p50,
         quantile_cont(n_chars, 0.75) AS len_p75,
         max(n_chars) AS len_max
         FROM documents GROUP BY lang""",

    // exact side recomputed; the measured rank_ok invariant asserted as a
    // constant (the approx sketch's values are engine-specific — the
    // guarantee, not the bit pattern, is the portable truth)
    "cur_len_quantiles_approx" ->
      """WITH a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           quantile_cont(n_chars, 0.25) AS q25,
           quantile_cont(n_chars, 0.50) AS q50,
           quantile_cont(n_chars, 0.75) AS q75
         FROM documents GROUP BY lang)
         SELECT lang, CAST(0.25 AS DOUBLE) AS q, n_docs, q25 AS exact_val, 1 AS rank_ok FROM a
         UNION ALL
         SELECT lang, CAST(0.50 AS DOUBLE), n_docs, q50, 1 FROM a
         UNION ALL
         SELECT lang, CAST(0.75 AS DOUBLE), n_docs, q75, 1 FROM a"""
  )
}

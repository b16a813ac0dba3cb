package graft

import graft.curate.Curate
import org.apache.spark.sql.functions._

/** Curation-operator semantics + the scale contract: split/sample are
  * shuffle-free row-local expressions, packing shuffles once on source,
  * decontamination broadcasts the benchmark side and never self-joins
  * the corpus.
  */
class CurateSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("split is deterministic, total, and pct-shaped") {
    val s = Curate.split(docs).cache()
    assert(s.count() == docs.count())
    val byKind = s.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 500 docs, 90/5/5: binomial tails make exact counts vary, but train
    // must dominate and all three classes must appear
    assert(byKind("train") > byKind.getOrElse("val", 0L) * 5)
    assert(byKind.keySet == Set("train", "val", "test"))
    // deterministic: same result twice
    assert(Curate.split(docs).exceptAll(s).isEmpty)
    s.unpersist()
  }

  test("split and stratified sample plan with ZERO exchanges (row-local at 100 TB)") {
    assert(!plan(Curate.split(docs)).contains("Exchange"),
      "split must not shuffle")
    assert(!plan(Curate.sampleStratified(docs)).contains("Exchange"),
      "sample must not shuffle")
  }

  test("stratified sample respects per-language rates") {
    val kept = Curate.sampleStratified(docs)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en keeps 60%, es keeps 20%: at n>=80 per stratum the realized rates
    // can't cross
    assert(kept("en").toDouble / total("en") > kept("es").toDouble / total("es"))
    // zh is unlisted -> default 10%: strictly under en's 60%
    assert(kept.getOrElse("zh", 0L).toDouble / total("zh") <
      kept("en").toDouble / total("en"))
  }

  test("packShards: shards within a source are contiguous and budget-shaped") {
    val packed = Curate.packShards(docs).cache()
    // exclusive-prefix rule: first doc of every source lands in shard 0
    val firstShard = packed
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")))
      .filter(col("rk") === 1).select("shard_idx").distinct().collect()
    assert(firstShard.map(_.getLong(0)).toSeq == Seq(0L))
    // contiguous-fill bound: a shard spans < budget + its largest doc
    // (a doc crossing the boundary is the only overflow; an oversized doc
    // can also leave the NEXT shard undershot — both are the documented
    // approximation, but nothing may exceed this bound)
    val shardTotals = packed.groupBy("source", "shard_idx")
      .agg(sum("n_tokens").as("tok"), max("n_tokens").as("mx"))
    assert(shardTotals.filter(col("tok") >= lit(512) + col("mx")).count() == 0,
      "a shard exceeded budget + its largest document")
    // plan: exactly one hash exchange (on source), no global sort
    // (unpersist first — cache lookup matches the logically-equal fresh
    // frame and its InMemoryRelation prints the plan twice)
    packed.unpersist(blocking = true)
    val p = plan(Curate.packShards(docs))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!"Sort \\[[^\\]]*\\], true".r.findAllIn(p).hasNext,
      s"global sort in packing plan:\n$p")
  }

  test("packShardsSalted ≡ packShards (hot-source block split changes nothing)") {
    // blockSize 64 on 500 docs -> ~8 blocks per source: the block-offset
    // join path is genuinely exercised
    val plain = Curate.packShards(docs)
    val salted = Curate.packShardsSalted(docs, blockSize = 64)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salted packing must be byte-identical to the single-window form")
    // scale shape: the per-doc window partitions by (source, block) — the
    // only full-width exchange keys both columns; no global sort
    val p = plan(Curate.packShardsSalted(docs, blockSize = 64))
    assert(p.contains("hashpartitioning(source") && p.contains("block"),
      s"expected (source, block) exchange:\n$p")
    assert(!"Sort \\[[^\\]]*\\], true".r.findAllIn(p).hasNext, p)
    // the default-on guard: a threshold below the fixture's source sizes
    // flips the plain entry point onto the salted path, output-identical
    val auto = Curate.packShards(docs, hotSourceThreshold = 10)
    assert(auto.exceptAll(plain).isEmpty && plain.exceptAll(auto).isEmpty,
      "auto-salted packShards must match the plain output")
    assert(plan(auto).contains("block"),
      "sub-threshold fixture with threshold=10 must take the salted path")
  }

  test("decontaminate broadcasts the benchmark side; corpus never self-joins") {
    val d = Curate.decontaminate(docs)
    val p = plan(d)
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"), p)
    // benchmark docs are excluded from the flagged set
    val benchIds = docs.filter(Curate.isBenchmark()).select("doc_id")
    assert(d.join(benchIds, "doc_id").count() == 0,
      "benchmark docs must not flag themselves")
    // hits are bounded by the doc's own (distinct) shingle count
    assert(d.filter(col("n_hits") < 1 || col("n_hits") > col("n_shingles"))
      .count() == 0)
  }

  test("decontaminateBloom: no false negatives vs exact; membership test stays in the scan") {
    val exact = Curate.decontaminate(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bloom = Curate.decontaminateBloom(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // bloom filters have no false negatives: every exact doc flagged, with
    // at least the exact hit count
    exact.foreach { case (id, hits) =>
      assert(bloom.contains(id), s"bloom missed contaminated doc $id")
      assert(bloom(id) >= hits, s"doc $id: bloom hits ${bloom(id)} < exact $hits")
    }
    // FP extras bounded (1% doc budget mirrors the graded query)
    val extras = bloom.keySet.diff(exact.keySet).size
    assert(extras * 100 <= 500, s"$extras bloom-only docs exceeds 1% budget")
    // no join at all on the corpus side: the bloom is a binary literal, so
    // the membership test is a plain Filter inside the scan stage
    val p = plan(Curate.decontaminateBloom(docs))
    assert(!p.contains("Join") && !p.contains("Cartesian"),
      s"bloom path must not join the corpus:\n$p")
  }

  test("chunk: reassembles to the original token stream; zero-shuffle plan") {
    val c = Curate.chunk(docs)
    assert(!plan(c).contains("Exchange"), "chunking must be row-local")
    // concatenating chunks in chunk_idx order restores the tokenized doc
    val reassembled = c.orderBy("doc_id", "chunk_idx")
      .groupBy("doc_id")
      .agg(concat_ws(" ", collect_list(col("chunk_text"))).as("joined"))
    val original = docs.select(col("doc_id"),
      concat_ws(" ", split(trim(col("text")), "\\s+")).as("orig"))
    val diff = reassembled.join(original, "doc_id")
      .filter(col("joined") =!= col("orig"))
    assert(diff.isEmpty, "chunks must reassemble losslessly")
    // every chunk except a doc's last is exactly 64 tokens
    val bad = c.withColumn("last", max("chunk_idx").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .filter(col("chunk_idx") < col("last") && col("n_chunk_tokens") =!= 64)
    assert(bad.isEmpty)
  }

  test("repetition: zero-shuffle plan, bounds hold, flag matches ratio rule") {
    val r = Curate.repetition(docs)
    assert(!plan(r).contains("Exchange"), "repetition must be row-local")
    val rows = r.collect()
    assert(rows.length == docs.count())
    rows.foreach { x =>
      val (g, d, f) = (x.getAs[Long]("n_grams"), x.getAs[Long]("n_distinct"),
        x.getAs[Int]("is_repetitive"))
      assert(d <= g && d >= 0)
      assert(f == (if ((g - d) * 10 >= g * 3) 1 else 0))
    }
  }

  test("vocab: exact counts conserve the token total; top-N never global-sorts the corpus") {
    import graft.text.TextAnalysis
    val v = TextAnalysis.vocab(docs, k = 1000) // k > vocab size: full table
    val total = docs.select(sum(size(TextAnalysis.tokens(col("text"))))).collect()(0).getLong(0)
    assert(v.agg(sum("n")).collect()(0).getLong(0) == total)
    val p = plan(TextAnalysis.vocab(docs, k = 10))
    assert(p.contains("TakeOrderedAndProject"), s"top-N must be distributed:\n$p")
  }

  test("mix: weighted stride interleave — heavier sources appear proportionally earlier") {
    val m = Curate.mix(docs, weights = Map("src0" -> 3, "src1" -> 2)).cache()
    // per-source ranks are a clean permutation 1..n
    val ranks = m.groupBy("source")
      .agg(count(lit(1)).as("n"), min("rank").as("mn"), max("rank").as("mx"),
        count_distinct(col("rank")).as("d"))
    assert(ranks.filter(col("mn") =!= 1 || col("mx") =!= col("n") ||
      col("d") =!= col("n")).count() == 0)
    // in the first 100 positions of the interleave, src0 (w=3) appears
    // ~3x an unweighted source and src1 (w=2) ~2x
    val top = m.orderBy("mix_key", "doc_id").limit(100)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val unweighted = top.filterNot(kv => kv._1 == "src0" || kv._1 == "src1")
    val avg1 = unweighted.values.sum.toDouble / unweighted.size
    assert(top("src0") > 2 * avg1 && top("src0") < 4.5 * avg1,
      s"src0=${top("src0")} vs avg unweighted $avg1")
    assert(top("src1") > 1.3 * avg1 && top("src1") < 3 * avg1)
    // one exchange (the per-source rank window); integral mix_key
    m.unpersist(blocking = true)
    val p = plan(Curate.mix(docs, weights = Map("src0" -> 3, "src1" -> 2)))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("lengthQuantiles: quartiles ordered, counts match strata") {
    val q = Curate.lengthQuantiles(docs).collect()
    assert(q.length == 5) // en/de/fr/es/zh
    q.foreach { r =>
      val (mn, p25, p50, p75, mx) = (r.getAs[Long]("len_min").toDouble,
        r.getAs[Double]("len_p25"), r.getAs[Double]("len_p50"),
        r.getAs[Double]("len_p75"), r.getAs[Long]("len_max").toDouble)
      assert(mn <= p25 && p25 <= p50 && p50 <= p75 && p75 <= mx,
        s"quartiles out of order for ${r.getAs[String]("lang")}")
    }
    assert(q.map(_.getAs[Long]("n_docs")).sum == docs.count())
  }

  test("qualityGate: zero-shuffle plan; exact flag semantics on fixtures") {
    val s = spark
    import s.implicits._
    assert(!plan(Curate.qualityGate(docs)).contains("Exchange"),
      "quality gate must be row-local")
    val fix = Seq(
      // 6 tokens, 2 stopwords, clean → keep
      1L -> "the cat sat in good order.",
      // too short (< 5 tokens)
      2L -> "the and tiny",
      // mean token length 1 (< 2) → ok_word_len = 0
      3L -> "a b c d e f g the and",
      // no stopwords
      4L -> "quick brown foxes jumping fences daily",
      // > 10% punctuation
      5L -> "the cat!!!... and,, dog;;; runs!?!?.,;",
      // < 50% distinct tokens
      6L -> "the the the the and and and and spam spam spam spam")
      .toDF("doc_id", "text")
    val out = Curate.qualityGate(fix).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("keep") == 1)
    assert(out(2L).getAs[Int]("ok_len") == 0 && out(2L).getAs[Int]("keep") == 0)
    assert(out(3L).getAs[Int]("ok_word_len") == 0)
    assert(out(4L).getAs[Int]("ok_stop") == 0)
    assert(out(5L).getAs[Int]("ok_punct") == 0)
    assert(out(6L).getAs[Int]("ok_distinct") == 0)
    // every flag is individually attributable: failing docs fail ONLY the
    // targeted rule where the fixture was built that way
    assert(out(4L).getAs[Int]("ok_len") == 1 && out(4L).getAs[Int]("ok_word_len") == 1)
  }

  test("curateE2E: composition consistent with its stages on the corpus") {
    val e2e = Curate.curateE2E(docs).cache()
    val ids = e2e.collect().map(_.getLong(0)).toSet
    // survivors passed the gate
    val gateKeep = Curate.qualityGate(docs).filter(col("keep") === 1)
      .collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(gateKeep))
    // survivors are exact-dedup keepers (min doc_id per content hash)
    val keepers = graft.dedup.Dedup.exact(docs)
      .collect().map(_.getAs[Long]("keeper")).toSet
    assert(ids.forall(keepers.contains))
    // no benchmark-partition or contaminated docs survive
    val bench = docs.filter(Curate.isBenchmark())
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val contaminated = Curate.decontaminate(docs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids.intersect(bench).isEmpty && ids.intersect(contaminated).isEmpty)
    // and the chain keeps a non-trivial corpus with valid split labels
    assert(ids.nonEmpty)
    assert(e2e.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    e2e.unpersist(blocking = true)
  }
}

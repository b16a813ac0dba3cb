package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.ann.Similarity
import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** neardup: MinHash text dedup + quality-priority resolve, LSH cosine
  * near-dup, and SemDeDup pairs + resolve over a corpus with planted
  * near-duplicate clusters. No pipeline layer runs here.
  */
class NearDupWorkload(spark: SparkSession, a: Bench.Args) extends Workload {
  private val params = Gen.CorpusParams(
    docs = a.i("docs"), vectors = a.i("vectors"), clusterShare = a.d("cluster_share"),
    clusterMin = a.i("cluster_min"), clusterMax = a.i("cluster_max"),
    editRate = a.d("edit_rate"), vocab = a.i("vocab"), docTokens = a.i("doc_tokens"),
    dim = a.i("dim"), embNoise = a.d("emb_noise"))
  private val threshold = a.d("threshold")
  private val planes = a.i("lsh_planes")
  private val tables = a.i("lsh_tables")
  private val centroids = a.i("centroids")
  private val probes = a.i("probes")
  private val recallFloor = a.d("recall_floor")
  private val docsPath = s"${a.dir}/in/documents"
  private val embPath = s"${a.dir}/in/embeddings"

  private var truth = Set.empty[(Long, Long)]
  private var planted = 0L
  // the keeper maps every operation must return, as sorted "doc keeper" lines
  private var wantText = Seq.empty[String]
  private var wantSem = Seq.empty[String]
  private var setupRecall = 0.0
  private var components = 0L
  private var semRecall = 0.0
  private var last: Option[(Seq[String], Seq[(Long, Long)], Seq[String])] = None

  private def docs = spark.read.parquet(docsPath)
  private def emb = spark.read.parquet(embPath)
  private def prio = TextAnalysis.tokenStats(docs).select(col("doc_id"), col("n_tokens").as("prio"))
  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  private def keepers(df: DataFrame): Seq[String] =
    df.collect().map(r => s"${r.getLong(0)} ${r.getLong(1)}").toSeq
  private def textKeepers = Dedup.resolveKeepersBy(Dedup.minhashCandidates(docs), prio)
  private def lshPairs = Similarity.cosineNearDup(emb, threshold, planes, tables)
  private def semPairs = Similarity.semDedupPairs(emb, threshold, centroids, probes)
  private def recall(found: Seq[(Long, Long)]): Double =
    Layers.ratio(found.count(truth), truth.size)

  def records: Long = params.docs

  def generate(): Unit = {
    val (d, e, cluster) = Gen.corpus(a.seed, params)
    spark.createDataFrame(d.asJava, Gen.DocSchema).write.parquet(docsPath)
    spark.createDataFrame(e.asJava, Gen.EmbSchema).write.parquet(embPath)
    planted = cluster.take(params.vectors).filter(_ >= 0).groupBy(identity)
      .values.map(g => g.length.toLong * (g.length - 1) / 2).sum
  }

  /** Brute-force truth, and the keeper maps every operation must return:
    * union-find on the driver over the pairs the program's candidate stages
    * emit, with the keeper rule of `resolveKeepersBy` (highest prio, then
    * lowest id) and of `resolveKeepers` (lowest id). The semDedupPairs and
    * cosineNearDup pairs are checked against the brute-force truth.
    */
  def oracle(): Seq[String] = {
    truth = pairs(Similarity.bruteNearDup(emb, threshold)).toSet
    val prioOf = prio.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) 0L else r.getAs[Number](1).longValue)).toMap
    val sp = pairs(semPairs)
    wantText = unionFindKeepers(pairs(Dedup.minhashCandidates(docs)),
      x => -prioOf.getOrElse(x, 0L)).sorted
    wantSem = unionFindKeepers(sp, _ => 0L).sorted
    setupRecall = recall(pairs(lshPairs))
    components = (wantText ++ wantSem).map(_.split(" ")(1)).distinct.size
    val bad = ArrayBuffer.empty[String]
    if (truth.isEmpty) bad += "brute-force truth is empty: no near-duplicate pairs planted"
    if (!sp.forall(truth)) bad += "semDedupPairs returned a pair below the threshold"
    if (setupRecall < recallFloor) bad += s"LSH recall $setupRecall below the floor $recallFloor"
    bad.toSeq
  }

  /** "doc keeper" for every doc of `ps`: each connected component keeps its
    * member with the lowest (rank, id).
    */
  private def unionFindKeepers(ps: Seq[(Long, Long)], rank: Long => Long): Seq[String] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    ps.foreach { case (x, y) => val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(rx) = ry }
    parent.keys.toList.groupBy(find).values.toSeq.flatMap { members =>
      val keeper = members.minBy(x => (rank(x), x))
      members.map(x => s"$x $keeper")
    }
  }

  def op(): Map[String, Double] = {
    val t0 = System.nanoTime()
    val k1 = keepers(textKeepers)
    val p = pairs(lshPairs)
    val k2 = keepers(Dedup.resolveKeepers(semPairs))
    val s = (System.nanoTime() - t0) / 1e9
    last = Some((k1, p, k2))
    Map("chain_s" -> s)
  }

  def check(): Seq[String] = last match {
    case None => Seq("no output")
    case Some((k1, p, k2)) =>
      val bad = ArrayBuffer.empty[String]
      if (k1.sorted != wantText)
        bad += "text keeper map differs from union-find over minhashCandidates"
      if (k2.sorted != wantSem)
        bad += "semantic keeper map differs from union-find over semDedupPairs"
      if (!p.forall(truth)) bad += "cosineNearDup returned a pair below the threshold"
      if (recall(p) < setupRecall) bad += s"recall ${recall(p)} below setup $setupRecall"
      bad.toSeq
  }

  /** `keeper`: every doc keeps itself; `pair`: a pair that is not a
    * near-duplicate joins the cosineNearDup output.
    */
  def inject(fault: String): Unit = last = last.map { case (k1, p, k2) =>
    fault match {
      case "keeper" => (k1.map { l => val d = l.split(" ")(0); s"$d $d" }, p, k2)
      case "pair" => (k1, p :+ ((-2L, -1L)), k2)
      case other => throw new IllegalArgumentException(s"neardup cannot inject $other")
    }
  }

  def reset(): Unit = last = None

  def ladder(t: Tracer, parent: Int): Unit = {
    t.counted("minhash", parent)(id =>
      Bench.noop(t.call("Dedup.minhashBands", id)(Dedup.minhashBands(docs))))
    t.counted("candidates", parent)(id =>
      Bench.noop(t.call("Dedup.minhashCandidates", id)(Dedup.minhashCandidates(docs))))
    val (k1, _) = t.counted("resolve_text", parent) { id =>
      val c = t.call("Dedup.minhashCandidates", id)(Dedup.minhashCandidates(docs))
      keepers(t.call("Dedup.resolveKeepersBy", id)(Dedup.resolveKeepersBy(c, prio)))
    }
    val (p, _) = t.counted("lsh", parent)(id =>
      pairs(t.call("Similarity.cosineNearDup", id)(lshPairs)))
    t.counted("semdedup_train", parent)(id => t.call("Similarity.trainCentroids", id)(
      Similarity.materializeCentroids(Similarity.trainCentroids(emb, centroids))))
    val (sp, _) = t.counted("semdedup", parent)(id =>
      pairs(t.call("Similarity.semDedupPairs", id)(semPairs)))
    val (k2, _) = t.counted("resolve_sem", parent) { id =>
      val s = t.call("Similarity.semDedupPairs", id)(semPairs)
      keepers(t.call("Dedup.resolveKeepers", id)(Dedup.resolveKeepers(s)))
    }
    semRecall = recall(sp)
    last = Some((k1, p, k2))
  }

  def layers(v: LayerView, untracedWall: Double): Map[String, Double] = {
    val maxBucket = Dedup.minhashBands(docs).groupBy("band_idx", "band_hash").count()
      .agg(max("count")).collect().head.getLong(0)
    val full = Seq("resolve_text", "lsh", "resolve_sem")
    val total = full.map(v.t).sum
    Layers.complete(Map(
      "minhash.self_s" -> v.t("minhash"),
      "minhash.max_bucket" -> maxBucket.toDouble,
      "candidates.self_s" -> (v.t("candidates") - v.t("minhash")),
      "candidates.jobs" -> v.c("candidates", "jobs"),
      "candidates.join_rows" -> v.c("candidates", "join_rows"),
      "candidates.pairs" -> v.c("candidates", "rows_out"),
      "candidates.useful_ratio" ->
        Layers.ratio(v.c("candidates", "rows_out"), v.c("candidates", "join_rows")),
      "resolve.self_s" -> (v.t("resolve_text") - v.t("candidates") +
        v.t("resolve_sem") - v.t("semdedup")),
      "resolve.jobs" -> (v.c("resolve_text", "jobs") - v.c("candidates", "jobs") +
        v.c("resolve_sem", "jobs") - v.c("semdedup", "jobs")),
      "resolve.components" -> components.toDouble,
      "lsh.self_s" -> v.t("lsh"),
      "lsh.jobs" -> v.c("lsh", "jobs"),
      "lsh.candidates" -> v.c("lsh", "verify_in"),
      "lsh.useful_ratio" -> Layers.ratio(v.c("lsh", "verify_out"), v.c("lsh", "verify_in")),
      "lsh.recall" -> setupRecall,
      "semdedup.train_s" -> v.t("semdedup_train"),
      "semdedup.self_s" -> (v.t("semdedup") - v.t("semdedup_train")),
      "semdedup.jobs" -> (v.c("semdedup", "jobs") - v.c("semdedup_train", "jobs")),
      "semdedup.candidates" -> v.c("semdedup", "verify_in"),
      "semdedup.useful_ratio" ->
        Layers.ratio(v.c("semdedup", "verify_out"), v.c("semdedup", "verify_in")),
      "semdedup.recall" -> semRecall,
      "trace.total_s" -> total,
      "trace.overhead_s" -> (total - untracedWall)) ++ Layers.run(v, full, a.cores))
  }

  def info: Map[String, Any] = Map(
    "docs" -> params.docs, "vectors" -> params.vectors, "planted_pairs" -> planted,
    "true_pairs" -> truth.size, "recall" -> setupRecall, "components" -> components)
}

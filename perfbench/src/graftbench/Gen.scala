package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators owned by the benchmark. The program under test
  * only ever sees the parquet they write; every expected count is derived
  * here from the generator's own knowledge of what it planted, never from
  * the program.
  *
  * Determinism: each chunk draws from a `SplittableRandom` seeded by
  * (seed, chunk), so the same seed gives the same rows regardless of how
  * Spark schedules the chunks.
  */
object Gen {

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1)

  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"

  private def word(r: SplittableRandom, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) { sb.append(Alnum.charAt(r.nextInt(Alnum.length))); i += 1 }
    sb.toString
  }

  // ------------------------------------------------------------------
  // Transcripts (FIXTURES.md §2 grammar, input_hint schema)
  // ------------------------------------------------------------------

  /** Knobs of the transcript generator. Kind weights are relative. */
  case class TranscriptParams(
      turns: Long,             // target total turns
      convLenMean: Double,     // lognormal conversation length (normal convs)
      convLenSigma: Double,
      hotShare: Double,        // share of all turns held by the hot convs
      hotConvs: Int,
      wInsert: Double, wUpdate: Double, wDelete: Double,
      wQuery: Double, wBegin: Double, wSavepoint: Double,
      wCommit: Double, wNoise: Double,
      unmappedShare: Double,   // row events whose (role, tool) has no lookup row
      tailShare: Double,       // conversations that end without a final commit
      rowsMax: Int,            // physical rows per row event: 1..rowsMax
      valLen: Int,             // characters per value
      mismatchShare: Double,   // row events whose width differs from the lookup
      oddUpdateShare: Double,  // updates with an odd value count (quarantined)
      pairs: Int,              // lookup (role, tool) pairs that row events use
      saltBlock: Int)          // turns per salt block of the salted stamp

  /** What the generator planted, in `Agg.reconcile` terms plus the number of
    * messages routing must emit. `backfilled`: committed, mapped row events
    * whose commit lies in a later salt block, so only the salted stamp's
    * cross-block backfill can commit them.
    */
  case class TranscriptTruth(
      turns: Long = 0, rowEvents: Long = 0, queryKept: Long = 0,
      querySuppressed: Long = 0, commits: Long = 0, noise: Long = 0,
      droppedUnmapped: Long = 0, droppedUncommitted: Long = 0,
      messages: Long = 0, backfilled: Long = 0) {
    def +(o: TranscriptTruth): TranscriptTruth = TranscriptTruth(
      turns + o.turns, rowEvents + o.rowEvents, queryKept + o.queryKept,
      querySuppressed + o.querySuppressed, commits + o.commits, noise + o.noise,
      droppedUnmapped + o.droppedUnmapped, droppedUncommitted + o.droppedUncommitted,
      messages + o.messages, backfilled + o.backfilled)
  }

  val TurnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  /** Normal conversations are spread over this many chunks; each hot
    * conversation is one extra chunk of its own.
    */
  val NormalChunks = 16
  private val K_INSERT = 0; private val K_UPDATE = 1; private val K_DELETE = 2
  private val K_QUERY = 3; private val K_BEGIN = 4; private val K_SAVEPOINT = 5
  private val K_COMMIT = 6; private val K_NOISE = 7

  private val Roles = Array("user", "assistant", "system", "tool")
  private val Tools = Array("search", "calc", "db", "web", "")

  /** One chunk of conversations: its rows and what they should produce.
    * `lookup` holds the lookup table in order, as (role, tool) → field
    * count; row events use its first `p.pairs` entries when mapped, and any
    * (role, tool) outside it when unmapped.
    */
  def transcriptChunk(seed: Long, chunk: Int, p: TranscriptParams,
      lookup: Seq[((String, String), Int)]): (Seq[Row], TranscriptTruth) = {
    val r = rng(seed, chunk)
    val mapped = lookup.toMap
    val mappedPairs = lookup.take(p.pairs).map(_._1).toArray
    // other events draw role and tool from those of the mapped pairs, so
    // `pairs` alone sets the number of sinks
    val roles = mappedPairs.map(_._1).distinct
    val tools = mappedPairs.map(_._2).distinct
    val unmappedPairs = for (ro <- Roles; t <- Tools if !mapped.contains((ro, t))) yield (ro, t)
    val weights = Array(p.wInsert, p.wUpdate, p.wDelete, p.wQuery, p.wBegin,
      p.wSavepoint, p.wCommit, p.wNoise)
    val wSum = weights.sum
    def pickKind(): Int = {
      var x = r.nextDouble() * wSum; var k = 0
      while (k < weights.length - 1 && x >= weights(k)) { x -= weights(k); k += 1 }
      k
    }
    val normalTurns = math.round(p.turns * (1 - p.hotShare))
    val hotTurns = if (p.hotConvs > 0) math.round(p.turns * p.hotShare / p.hotConvs) else 0L
    val isHot = chunk >= NormalChunks
    val quota = if (isHot) hotTurns
      else normalTurns / NormalChunks + (if (chunk < normalTurns % NormalChunks) 1 else 0)

    val rows = Seq.newBuilder[Row]
    var truth = TranscriptTruth()
    var produced = 0L
    var conv = 0
    var xid = chunk.toLong * 1000000000L
    while (produced < quota) {
      val len = if (isHot) quota.toInt
        else {
          val g = r.nextDouble() // Box-Muller for a lognormal length
          val z = math.sqrt(-2 * math.log(1 - g)) * math.cos(2 * math.Pi * r.nextDouble())
          val mu = math.log(p.convLenMean) - p.convLenSigma * p.convLenSigma / 2
          math.min(quota - produced, math.max(1L, math.round(math.exp(mu + p.convLenSigma * z)))).toInt
        }
      val convId = if (isHot) s"hot${chunk - NormalChunks}" else s"c${chunk}_$conv"
      val kinds = Array.fill(len)(pickKind())
      if (len > 1 && r.nextDouble() >= p.tailShare) kinds(len - 1) = K_COMMIT
      val lastCommit = kinds.lastIndexWhere(_ == K_COMMIT)
      // index of the first commit at or after each turn (len: none)
      val nextCommit = Array.fill(len)(len)
      var j = len - 1
      while (j >= 0) {
        nextCommit(j) = if (kinds(j) == K_COMMIT) j else if (j + 1 < len) nextCommit(j + 1) else len
        j -= 1
      }
      val tsBase = 1700000000L + (chunk * 7919L + conv * 31L) % 86400L
      var i = 0
      while (i < len) {
        val k = kinds(i)
        var role = roles(r.nextInt(roles.length))
        var tool = tools(r.nextInt(tools.length))
        val text = k match {
          case K_INSERT | K_UPDATE | K_DELETE =>
            val isMapped = r.nextDouble() >= p.unmappedShare
            val pair = if (isMapped) mappedPairs(r.nextInt(mappedPairs.length))
              else unmappedPairs(r.nextInt(unmappedPairs.length))
            role = pair._1; tool = pair._2
            val baseWidth = mapped.getOrElse(pair, 3)
            val width =
              if (r.nextDouble() < p.mismatchShare) baseWidth + (if (r.nextBoolean()) 1 else -1)
              else baseWidth
            val nRows0 = 1 + r.nextInt(p.rowsMax)
            val nPhys =
              if (k == K_UPDATE) 2 * nRows0 + (if (r.nextDouble() < p.oddUpdateShare) 1 else 0)
              else nRows0
            val vals = (0 until nPhys).map { _ =>
              (0 until math.max(1, width)).map(_ => word(r, p.valLen)).mkString("[", "|", "]")
            }.mkString(";")
            val committed = i < lastCommit
            truth = truth.copy(rowEvents = truth.rowEvents + 1)
            if (!isMapped) truth = truth.copy(droppedUnmapped = truth.droppedUnmapped + 1)
            else if (!committed) truth = truth.copy(droppedUncommitted = truth.droppedUncommitted + 1)
            else {
              val msgs = if (k == K_UPDATE) (if (nPhys % 2 == 0) nPhys / 2 else 0) else nPhys
              val crossBlock = nextCommit(i) / p.saltBlock != i / p.saltBlock
              truth = truth.copy(messages = truth.messages + msgs,
                backfilled = truth.backfilled + (if (crossBlock) 1 else 0))
            }
            val kw = if (k == K_INSERT) "insert" else if (k == K_UPDATE) "update" else "delete"
            s"EVENT $kw rows=$nPhys vals=$vals"
          case K_QUERY =>
            truth = truth.copy(queryKept = truth.queryKept + 1, messages = truth.messages + 1)
            if (r.nextBoolean()) s"EVENT query stmt=CREATE TABLE t${r.nextInt(50)} (id INT)"
            else s"EVENT query stmt=ALTER TABLE t${r.nextInt(50)} ADD c${r.nextInt(9)} INT"
          case K_BEGIN =>
            truth = truth.copy(querySuppressed = truth.querySuppressed + 1)
            "EVENT query stmt=BEGIN"
          case K_SAVEPOINT =>
            truth = truth.copy(querySuppressed = truth.querySuppressed + 1)
            s"EVENT query stmt= SAVEPOINT sp${r.nextInt(5)}"
          case K_COMMIT =>
            truth = truth.copy(commits = truth.commits + 1)
            xid += 1
            s"EVENT commit xid=$xid"
          case _ =>
            truth = truth.copy(noise = truth.noise + 1)
            s"note ${word(r, 6)} ${word(r, 4)} {\"k\": ${r.nextInt(100)}}"
        }
        rows += Row(convId, i, role, text, tool, new Timestamp((tsBase + i) * 1000L))
        i += 1
      }
      truth = truth.copy(turns = truth.turns + len)
      produced += len
      conv += 1
    }
    (rows.result(), truth)
  }

  /** Writes the turns table as parquet under `path`; returns the truth. */
  def writeTranscripts(spark: SparkSession, seed: Long, p: TranscriptParams,
      lookup: Seq[((String, String), Int)], path: String): TranscriptTruth = {
    val nChunks = NormalChunks + p.hotConvs
    val chunks = spark.sparkContext.parallelize(0 until nChunks, nChunks)
    val gen = chunks.map(c => transcriptChunk(seed, c, p, lookup)).cache()
    spark.createDataFrame(gen.flatMap(_._1), TurnSchema).write.parquet(path)
    val truth = gen.map(_._2).reduce(_ + _)
    gen.unpersist()
    truth
  }

  // ------------------------------------------------------------------
  // Near-duplicate corpus: documents + 64-d embeddings
  // ------------------------------------------------------------------

  case class CorpusParams(
      docs: Int,
      vectors: Int,          // embeddings exist for doc ids 0 until vectors
      clusterShare: Double,  // chance that a new id opens a near-dup cluster
      clusterMin: Int,       // cluster sizes are uniform in clusterMin..clusterMax
      clusterMax: Int,
      editRate: Double,      // per-token substitution rate of a cluster member
      vocab: Int,
      docTokens: Int,        // mean tokens per document (±25%)
      dim: Int,
      embNoise: Double)      // per-dimension noise of a member around its centre

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** The corpus rows plus the planted cluster of every id (-1: singleton). */
  def corpus(seed: Long, p: CorpusParams): (Seq[Row], Seq[Row], Array[Int]) = {
    val r = rng(seed, 1L << 20)
    val cluster = Array.fill(p.docs)(-1)
    val docs = Seq.newBuilder[Row]
    val embs = Seq.newBuilder[Row]
    def tokens(n: Int) = Array.fill(n)("w" + r.nextInt(p.vocab))
    def gaussian(): Double =
      math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def emit(id: Int, toks: Array[String], vec: Array[Double]): Unit = {
      docs += Row(id.toLong, toks.mkString(" "))
      if (id < p.vectors) embs += Row(id.toLong, vec.map(_.toFloat).toSeq)
    }
    var id = 0
    var nClusters = 0
    while (id < p.docs) {
      val len = math.max(4, (p.docTokens * (0.75 + 0.5 * r.nextDouble())).toInt)
      val base = tokens(len)
      val centre = unit(Array.fill(p.dim)(gaussian()))
      if (r.nextDouble() < p.clusterShare) {
        val size = math.min(p.docs - id, p.clusterMin + r.nextInt(p.clusterMax - p.clusterMin + 1))
        (0 until size).foreach { m =>
          val toks = if (m == 0) base
            else base.map(t => if (r.nextDouble() < p.editRate) "w" + r.nextInt(p.vocab) else t)
          cluster(id) = nClusters
          emit(id, toks, unit(centre.map(_ + p.embNoise * gaussian())))
          id += 1
        }
        nClusters += 1
      } else {
        emit(id, base, centre)
        id += 1
      }
    }
    (docs.result(), embs.result(), cluster)
  }
}

package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{Pipeline, PipelineConfig}
import graft.checkpoint.Sinks
import graft.operators.{Agg, Parse, TxnStamp}
import graft.sources.Transcripts
import org.apache.spark.sql.{DataFrame, SparkSession}

/** route_skew: the transcript pipeline end to end. One operation has three
  * timed phases:
  *  - `write_s`: the `graft.Main` default path over the skewed input —
  *    parquet turns → `Pipeline.routed` (salted stamp) → `Sinks.writeNdjson`;
  *  - `full_s`: `Sinks.writeResumable` of a smaller uniform input into
  *    `buckets` buckets of partitioned parquet plus manifests;
  *  - `resume_s`: half the manifests deleted, the same call resumes them.
  * The resumable input is small and uses one lookup pair because the
  * partitioned writer's cost grows with files written (buckets × sinks ×
  * write tasks), not with rows.
  */
class RouteSkewWorkload(spark: SparkSession, a: Bench.Args) extends Workload {

  /** One generated input and everything the setup oracle knows about it. */
  private class Input(name: String, p: Gen.TranscriptParams) {
    val path = s"${a.dir}/in/$name"
    var truth = Gen.TranscriptTruth()
    var sinkCounts = Map.empty[(String, String, String), Long]
    var ledger = Map.empty[String, Long]
    def turns: DataFrame = spark.read.parquet(path)
    def routed: DataFrame = Pipeline.routed(turns, lookup, cfg)

    def generate(): Unit = {
      val lookupPairs = Transcripts.lookupRows.map { case (r, t, f) => (r, t) -> f.size }
      truth = Gen.writeTranscripts(spark, a.seed, p, lookupPairs, path)
    }

    /** `Agg.sinkCounts` and the `Agg.reconcile` ledger, checked against what
      * the generator planted.
      */
    def oracle(): Seq[String] = {
      sinkCounts = Agg.sinkCounts(routed).collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      val bad = ArrayBuffer.empty[String]
      if (sinkCounts.values.sum != truth.messages)
        bad += s"$name: sinkCounts total ${sinkCounts.values.sum} != planted ${truth.messages}"
      val row = Agg.reconcile(Pipeline.enriched(turns, lookup, cfg)).collect().head
      ledger = row.schema.fieldNames.map(f => f -> row.getAs[Long](f)).toMap
      val want = Map(
        "turns" -> truth.turns, "row_events" -> truth.rowEvents,
        "query_kept" -> truth.queryKept, "query_suppressed" -> truth.querySuppressed,
        "commits" -> truth.commits, "noise" -> truth.noise,
        "dropped_unmapped" -> truth.droppedUnmapped,
        "dropped_uncommitted" -> truth.droppedUncommitted)
      want.foreach { case (k, v) =>
        if (ledger(k) != v) bad += s"$name: ledger $k = ${ledger(k)}, generator planted $v"
      }
      val parts = ledger("row_events") + ledger("query_kept") +
        ledger("query_suppressed") + ledger("commits") + ledger("noise")
      if (parts != ledger("turns"))
        bad += s"$name: ledger identity fails: parts $parts != turns ${ledger("turns")}"
      if (p.hotConvs > 0 && truth.backfilled == 0)
        bad += s"$name: no row event needs the cross-block backfill; hot conversations too short"
      bad.toSeq
    }
  }

  private def params(prefix: String) = Gen.TranscriptParams(
    turns = a.l(prefix + "turns"), convLenMean = a.d("conv_len_mean"),
    convLenSigma = a.d("conv_len_sigma"), hotShare = a.d(prefix + "hot_share"),
    hotConvs = a.i(prefix + "hot_convs"),
    wInsert = a.d("w_insert"), wUpdate = a.d("w_update"), wDelete = a.d("w_delete"),
    wQuery = a.d("w_query"), wBegin = a.d("w_begin"), wSavepoint = a.d("w_savepoint"),
    wCommit = a.d("w_commit"), wNoise = a.d("w_noise"),
    unmappedShare = a.d("unmapped_share"), tailShare = a.d("tail_share"),
    rowsMax = a.i("rows_max"), valLen = a.i("val_len"),
    mismatchShare = a.d("mismatch_share"), oddUpdateShare = a.d("odd_update_share"),
    pairs = a.i(prefix + "pairs"), saltBlock = a.i("salt_block"))

  private val lookup = Transcripts.lookup(spark)
  private val cfg = PipelineConfig(saltBlockSize = Some(a.i("salt_block")))
  private val buckets = a.i("buckets")
  private val main = new Input("turns", params(""))
  private val res = new Input("resume_turns", params("resume_"))
  private val ndjsonOut = s"${a.dir}/out/ndjson"
  private val resumableOut = s"${a.dir}/out/resumable"
  private var perBucket = Map.empty[Int, Long]
  // buckets whose manifests the resume phase deletes: a seeded half
  private val dropped = new scala.util.Random(a.seed).shuffle((0 until buckets).toList)
    .take(buckets / 2).sorted
  private var lastWrites = (0, 0)

  def records: Long = main.truth.turns + res.truth.turns

  def generate(): Unit = { main.generate(); res.generate() }

  /** The full oracle for the ndjson input; for the resumable input, one
    * per-(bucket, sink) count gives both the full write's sink counts and
    * each manifest's expected `n_routed`.
    */
  def oracle(): Seq[String] = {
    val bad = main.oracle()
    val counts = Sinks.withBucket(res.routed, buckets)
      .groupBy(Sinks.BucketCol, "role", "tool", "event_type").count().collect()
      .map(r => (r.getInt(0), (r.getString(1), r.getString(2), r.getString(3))) -> r.getLong(4))
    perBucket = counts.groupMapReduce(_._1._1)(_._2)(_ + _)
    res.sinkCounts = counts.groupMapReduce(_._1._2)(_._2)(_ + _)
    if (res.sinkCounts.values.sum != res.truth.messages)
      bad :+ s"resume_turns: routed ${res.sinkCounts.values.sum} messages, planted ${res.truth.messages}"
    else bad
  }

  private def writeNdjson(): Unit = Sinks.writeNdjson(main.routed, ndjsonOut)
  private def writeResumable(): Int = Sinks.writeResumable(res.routed, resumableOut, buckets, res.path)
  private def dropManifests(): Unit = dropped.foreach(b =>
    Files.deleteIfExists(Paths.get(resumableOut, "_manifests", s"bucket-$b.json")))

  def op(): Map[String, Double] = {
    val t0 = System.nanoTime()
    writeNdjson()
    val t1 = System.nanoTime()
    val n1 = writeResumable()
    val t2 = System.nanoTime()
    dropManifests()
    val t3 = System.nanoTime()
    val n2 = writeResumable()
    val t4 = System.nanoTime()
    lastWrites = (n1, n2)
    Map("write_s" -> (t1 - t0) / 1e9, "full_s" -> (t2 - t1) / 1e9, "resume_s" -> (t4 - t3) / 1e9)
  }

  def check(): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val total = main.sinkCounts.values.sum
    val lines = newlines(new File(ndjsonOut))
    if (lines != total) bad += s"ndjson has $lines lines, sinkCounts total is $total"
    if (lastWrites != ((buckets, dropped.size)))
      bad += s"writeResumable wrote $lastWrites buckets, expected ${(buckets, dropped.size)}"
    val committed = Sinks.committedSinkCounts(spark, resumableOut).collect().map(r =>
      (r.getAs[String]("role"), r.getAs[String]("tool"), r.getAs[String]("event_type")) ->
        r.getAs[Long]("n")).toMap
    if (committed != res.sinkCounts) bad += "committedSinkCounts after resume differ from the full write's"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (0 until buckets).foreach { b =>
      val want = perBucket.getOrElse(b, 0L)
      try {
        val n = mapper.readTree(new File(s"$resumableOut/_manifests/bucket-$b.json"))
          .get("n_routed").asLong()
        if (n != want) bad += s"manifest $b: n_routed $n != $want"
      } catch {
        case e: Exception => bad += s"manifest $b does not parse: ${e.getMessage}"
      }
    }
    bad.toSeq
  }

  private def newlines(dir: File): Long =
    Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("part-")).map { f =>
        val bytes = Files.readAllBytes(f.toPath)
        var n = 0L; var i = 0
        while (i < bytes.length) { if (bytes(i) == '\n') n += 1; i += 1 }
        n
      }.sum

  /** `line`: one extra line in the ndjson output; `manifest`: bucket 0's
    * manifest no longer parses.
    */
  def inject(fault: String): Unit = fault match {
    case "line" =>
      val part = new File(ndjsonOut).listFiles.filter(_.getName.startsWith("part-")).minBy(_.getName)
      Files.write(part.toPath, "{}\n".getBytes, java.nio.file.StandardOpenOption.APPEND)
    case "manifest" =>
      Files.write(Paths.get(resumableOut, "_manifests", "bucket-0.json"), "{".getBytes)
    case other => throw new IllegalArgumentException(s"route_skew cannot inject $other")
  }

  def reset(): Unit = Bench.deleteTree(new File(s"${a.dir}/out"))

  /** Prefix ladder over the skewed input: each layer's output prefix is
    * materialized with a noop write; then the three sink phases.
    */
  def ladder(t: Tracer, parent: Int): Unit = {
    def prefix(name: String)(df: => DataFrame): Unit =
      t.counted(name, parent)(id => Bench.noop(t.call(s"build:$name", id)(df)))
    val block = a.i("salt_block")
    def turns = main.turns
    prefix("scan")(turns)
    prefix("parse_kind")(Parse.parseKind(turns))
    prefix("stamp")(TxnStamp.stampSalted(Parse.parseKind(turns), block))
    prefix("parse_vals")(Parse.withVals(TxnStamp.stampSalted(Parse.parseKind(turns), block)))
    prefix("enrich")(Pipeline.enriched(turns, lookup, cfg))
    prefix("route")(main.routed)
    t.counted("sink", parent)(id => t.call("Sinks.writeNdjson", id)(writeNdjson()))
    val (n1, _) = t.counted("sink_parquet", parent)(id =>
      t.call("Sinks.writeResumable", id)(writeResumable()))
    dropManifests()
    val (n2, _) = t.counted("resume", parent)(id =>
      t.call("Sinks.writeResumable", id)(writeResumable()))
    lastWrites = (n1, n2)
  }

  def layers(v: LayerView, untracedWall: Double): Map[String, Double] = {
    val chain = Seq("scan", "parse_kind", "stamp", "parse_vals", "enrich", "route", "sink")
    val self = chain.zip(None +: chain.map(Some(_))).map { case (n, prev) =>
      s"$n.self_s" -> (v.t(n) - prev.map(v.t).getOrElse(0.0))
    }.toMap
    val full = Seq("sink", "sink_parquet", "resume")
    val total = full.map(v.t).sum
    val rowEvents = main.ledger("row_events").toDouble
    val rewritten = dropped.map(b => perBucket.getOrElse(b, 0L)).sum.toDouble
    Layers.complete(self ++ Map(
      "scan.reads_per_turn" -> Layers.ratio(v.c("sink", "records_read"), main.truth.turns),
      "stamp.shuffle_mb" -> v.c("stamp", "shuffle_mb"),
      "stamp.spill_mb" -> v.c("stamp", "spill_mb"),
      "stamp.task_skew" -> v.c("stamp", "task_skew"),
      "enrich.matched_ratio" -> Layers.ratio(rowEvents - main.ledger("dropped_unmapped"), rowEvents),
      "route.msgs_out" -> v.c("route", "rows_out"),
      "sink.bytes_mb" -> v.c("sink", "bytes_written_mb"),
      "sink.files" -> v.c("sink", "files_written"),
      "sink.parquet_s" -> v.t("sink_parquet"),
      "sink.parquet_files" -> v.c("sink_parquet", "files_written"),
      "sink.manifest_s" -> v.c("sink_parquet", "tail_after_jobs_s"),
      "resume.self_s" -> v.t("resume"),
      "resume.rows_scanned" -> v.c("resume", "records_read"),
      "resume.useful_ratio" -> Layers.ratio(rewritten, v.c("resume", "records_read")),
      "trace.total_s" -> total,
      "trace.overhead_s" -> (total - untracedWall)) ++
      Layers.run(v, full, a.cores))
  }

  def info: Map[String, Any] = Map(
    "turns" -> main.truth.turns, "messages" -> main.truth.messages,
    "backfilled_row_events" -> main.truth.backfilled,
    "ledger" -> main.ledger, "sinks" -> main.sinkCounts.size,
    "resume_turns" -> res.truth.turns, "resume_messages" -> res.truth.messages,
    "resume_sinks" -> res.sinkCounts.size, "dropped_buckets" -> dropped)
}

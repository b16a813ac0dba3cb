package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry point of the benchmark JVM. One process runs one workload for one
  * seed: generate inputs (untimed), time the first operation, compute the
  * setup oracle (untimed), then time operations back to back (closed loop,
  * one at a time) for `--seconds`, checking every output. With `--trace 1`
  * it then alternates untraced operations with the per-layer prefix ladder,
  * recorded as spans with listener counts. Results go to `--result` as JSON.
  */
object Bench {

  case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      dir: String, t0Ns: Long, cores: Int, partitions: Int,
      result: String, traceFile: String, inject: String, params: Map[String, String]) {
    def p(k: String): String =
      params.getOrElse(k, throw new IllegalArgumentException(s"missing --param $k"))
    def i(k: String): Int = p(k).toInt
    def l(k: String): Long = p(k).toLong
    def d(k: String): Double = p(k).toDouble
  }

  def parse(argv: Array[String]): Args = {
    var a = Args("", 0L, 10.0, trace = false, "", 0L, 4, 16, "", "", "none", Map.empty)
    def loop(xs: List[String]): Unit = xs match {
      case Nil =>
      case "--workload" :: v :: t => a = a.copy(workload = v); loop(t)
      case "--seed" :: v :: t => a = a.copy(seed = v.toLong); loop(t)
      case "--seconds" :: v :: t => a = a.copy(seconds = v.toDouble); loop(t)
      case "--trace" :: v :: t => a = a.copy(trace = v == "1"); loop(t)
      case "--dir" :: v :: t => a = a.copy(dir = v); loop(t)
      case "--t0-ns" :: v :: t => a = a.copy(t0Ns = v.toLong); loop(t)
      case "--cores" :: v :: t => a = a.copy(cores = v.toInt); loop(t)
      case "--partitions" :: v :: t => a = a.copy(partitions = v.toInt); loop(t)
      case "--result" :: v :: t => a = a.copy(result = v); loop(t)
      case "--trace-file" :: v :: t => a = a.copy(traceFile = v); loop(t)
      case "--inject" :: v :: t => a = a.copy(inject = v); loop(t)
      case "--param" :: kv :: t =>
        val Array(k, v) = kv.split("=", 2)
        a = a.copy(params = a.params + (k -> v)); loop(t)
      case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
    }
    loop(argv.toList)
    require(a.dir.nonEmpty && a.result.nonEmpty, "--dir and --result are required")
    a
  }

  private def epochNs(): Long = {
    val n = Instant.now(); n.getEpochSecond * 1000000000L + n.getNano
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val setupS = (epochNs() - a.t0Ns) / 1e9
    val result = run(spark, a, setupS)
    Files.write(Paths.get(a.result), Json.write(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** A session with the fixed engine settings, ready once GraftExtensions'
    * fused expressions are in its catalog.
    */
  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.dir}/local")
      .config("spark.sql.warehouse.dir", s"${a.dir}/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(spark.catalog.functionExists(graft.functions.CosineSim.Name),
      "GraftExtensions did not register its functions")
    spark
  }

  // ------------------------------------------------------------------
  // host-noise record (diagnostic only; never used to drop a sample)
  // ------------------------------------------------------------------

  private def cpuJiffies(): Array[Long] = {
    val line = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
    line.trim.split("\\s+").drop(1).map(_.toLong)
  }

  /** (steal share, idle share) of all CPU time between two readings. */
  private def noise(before: Array[Long], after: Array[Long]): (Double, Double) = {
    val d = after.zip(before).map { case (x, y) => x - y }
    val total = math.max(1L, d.take(8).sum)
    val steal = if (d.length > 7) d(7) else 0L
    (steal.toDouble / total, (d(3) + d(4)).toDouble / total)
  }

  /** (heap, non-heap) in use after a full collection, in MB: what the
    * program keeps live (non-heap: metaspace and code cache), independent of
    * how far the collector let the heap grow. The second collection frees
    * what Spark's ContextCleaner released after the first one.
    */
  private def retainedMb(): (Double, Double) = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed / 1048576.0, m.getNonHeapMemoryUsage.getUsed / 1048576.0)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ------------------------------------------------------------------
  // the closed loop
  // ------------------------------------------------------------------

  def run(spark: SparkSession, a: Args, setupS: Double): Map[String, Any] = {
    val w: Workload = a.workload match {
      case "route_skew" => new RouteSkewWorkload(spark, a)
      case "neardup" => new NearDupWorkload(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var untimedS = Map.empty[String, Double]
    def untimed[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try body finally untimedS += name -> (System.nanoTime() - t) / 1e9
    }
    untimed("generate_s")(w.generate())

    /** One checked operation; returns its phase times, None if it failed.
      * `oracle` runs untimed between the operation and its check. With
      * `--inject`, the output is corrupted before the check, which must
      * then fail.
      */
    def attempt(body: => Map[String, Double],
        oracle: => Seq[String] = Nil): Option[Map[String, Double]] = {
      attempted += 1
      val out = try {
        val ph = body
        if (a.inject != "none") w.inject(a.inject)
        val bad = oracle.map("setup: " + _) ++ w.check()
        if (bad.isEmpty) Some(ph) else { errors ++= bad; None }
      } catch {
        case e: Exception => errors += s"${e.getClass.getSimpleName}: ${e.getMessage}"; None
      } finally w.reset()
      if (out.isEmpty) failed += 1
      out
    }

    // the first operation runs in a fresh JVM before any other query; the
    // setup oracle runs after it, untimed, so that it is checked too
    val first = attempt(w.op(), untimed("oracle_s")(w.oracle()))
    val samples = ArrayBuffer.empty[Map[String, Double]]
    // Memory the program keeps after each of the first three timed
    // operations, so every run's figure covers the same work.
    val retained = ArrayBuffer.empty[Double]
    def base(): Map[String, Any] = Map(
      "setup_s" -> setupS,
      "untimed" -> untimedS,
      "first_run_s" -> first.map(_.values.sum).getOrElse(-1.0),
      "samples" -> samples.map(_.values.sum).toSeq,
      "phases" -> samples.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil).map(k =>
        k -> samples.map(_(k)).toSeq).toMap,
      "records" -> w.records,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.take(20).toSeq,
      "params" -> a.params,
      "info" -> w.info,
      "retained_mb" -> median(retained.toSeq),
      "peak_rss_mb" -> peakRssMb())

    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var timed = 0
    // at least three timed operations: the median then skips the one the
    // JIT still slows down
    while (elapsed < a.seconds || timed < 3) {
      val j0 = cpuJiffies()
      val ph = attempt(w.op())
      val (steal, idle) = noise(j0, cpuJiffies())
      timed += 1
      // untimed; every timed operation starts from a collected heap
      val (heap, nonHeap) = retainedMb()
      if (timed <= 3) retained += heap + nonHeap
      ph.foreach { p =>
        samples += p
        println(Json.write(Map("sample" -> samples.size, "wall_s" -> p.values.sum,
          "phases" -> p, "steal" -> steal, "idle" -> idle,
          "heap_after_gc_mb" -> heap, "non_heap_mb" -> nonHeap)))
      }
    }

    if (!a.trace) return base()

    // Traced reps alternate with untraced operations, so the tracing
    // overhead compares operations of the same JVM age. The listeners are
    // detached during the untraced ones.
    val tracer = new Tracer(spark, s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}", a.cores)
    val untracedWalls = ArrayBuffer.empty[Double]
    val ladderStart = System.nanoTime()
    var reps = 0
    while (reps < 3 || ((System.nanoTime() - ladderStart) / 1e9 < a.seconds && reps < 10)) {
      attempt(w.op()).foreach(p => untracedWalls += p.values.sum)
      attempt {
        tracer.attach()
        try tracer.group("rep")(id => w.ladder(tracer, id)) finally tracer.detach()
        Map.empty
      }
      reps += 1
    }
    // a single cold sample per run: too noisy to bound end to end, so it is
    // reported with the per-layer figures
    val layers = w.layers(LayerView(tracer.spans.toSeq), median(untracedWalls.toSeq)) +
      ("run.first_run_s" -> first.map(_.values.sum).getOrElse(0.0))
    if (a.traceFile.nonEmpty)
      Files.write(Paths.get(a.traceFile), tracer.toJson.getBytes(StandardCharsets.UTF_8))
    base() ++ Map("per_layer" -> layers, "trace_reps" -> reps)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Materializes every column of `df` without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Median span figures of a traced run, by span name across ladder reps. */
case class LayerView(spans: Seq[Span]) {
  private def named(n: String) = spans.filter(_.name == n)
  def t(n: String): Double = Bench.median(named(n).map(_.seconds))
  def c(n: String, k: String): Double = Bench.median(named(n).map(_.counts.getOrElse(k, 0.0)))
}

/** A workload: untimed preparation, the timed operation, its output check. */
trait Workload {
  /** Writes the seeded inputs. */
  def generate(): Unit
  /** Computes the setup oracle after the first operation; returns failed
    * setup checks.
    */
  def oracle(): Seq[String]
  /** Input records one operation processes (turns or documents). */
  def records: Long
  /** The timed operation; returns the seconds of each timed phase. */
  def op(): Map[String, Double]
  /** Failed checks of the last operation's output. */
  def check(): Seq[String]
  /** Corrupts the last operation's output the way `fault` names. */
  def inject(fault: String): Unit
  /** Removes the last operation's output. */
  def reset(): Unit
  /** One rep of the traced prefix ladder. */
  def ladder(t: Tracer, parent: Int): Unit
  /** Per-layer metrics from the ladder; every name in [[Layers.Names]]. */
  def layers(v: LayerView, untracedWall: Double): Map[String, Double]
  /** Facts about the generated input, for the run log. */
  def info: Map[String, Any]
}

object Layers {
  /** Every per-layer metric, as `<layer>.<metric>`; each workload reports
    * all of them, with 0 for layers it does not run.
    */
  val Names: Seq[String] = Seq(
    "scan.self_s", "scan.reads_per_turn",
    "parse_kind.self_s",
    "stamp.self_s", "stamp.shuffle_mb", "stamp.spill_mb", "stamp.task_skew",
    "parse_vals.self_s",
    "enrich.self_s", "enrich.matched_ratio",
    "route.self_s", "route.msgs_out",
    "sink.self_s", "sink.bytes_mb", "sink.files",
    "sink.parquet_s", "sink.parquet_files", "sink.manifest_s",
    "resume.self_s", "resume.rows_scanned", "resume.useful_ratio",
    "minhash.self_s", "minhash.max_bucket",
    "candidates.self_s", "candidates.jobs", "candidates.join_rows", "candidates.pairs",
    "candidates.useful_ratio",
    "resolve.self_s", "resolve.jobs", "resolve.components",
    "lsh.self_s", "lsh.jobs", "lsh.candidates", "lsh.useful_ratio", "lsh.recall",
    "semdedup.train_s", "semdedup.self_s", "semdedup.jobs", "semdedup.candidates",
    "semdedup.useful_ratio", "semdedup.recall",
    "run.cpu_util", "run.gc_s", "run.tasks", "run.first_run_s",
    "trace.total_s", "trace.overhead_s")

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Fills the names a workload does not measure with 0 and rejects names
    * outside [[Names]].
    */
  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- Names
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    Names.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }

  /** run.* figures over the spans that make up one full operation. */
  def run(v: LayerView, full: Seq[String], cores: Int): Map[String, Double] = {
    val secs = full.map(v.t).sum
    Map(
      "run.cpu_util" -> ratio(full.map(v.c(_, "task_s")).sum, secs * cores),
      "run.gc_s" -> full.map(v.c(_, "gc_s")).sum,
      "run.tasks" -> full.map(v.c(_, "tasks")).sum)
  }
}

package graft

import graft.sources.Transcripts
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One scaling-measurement point, isolated in its own JVM (spawned by
  * [[Bench]]): measuring local[N] and local[4N] inside one JVM is invalid —
  * the second session inherits an aged heap and the first session's
  * orphaned spark.local.dir files; the identical job measured 34.5 s fresh
  * vs 115 s as a second session.
  *
  * Protocol (round-2, after r01's 0.039 artifact): warm up with a FULL-SIZE
  * run (JIT + codegen + shuffle-path page cache all hot), then time a second
  * identical run. Around the measured section we read `/proc/stat` and
  * report host-level user/steal/idle — the sandbox host is shared, and a
  * sample taken during a steal burst is evidence of interference, not of
  * the pipeline. [[Bench]] discards contaminated samples and retries.
  *
  * args: cpus nTurns shufflePartitions. Prints one line:
  * `GRAFT_CHILD {"sec":…,"user_cores":…,"steal_pct":…,"idle_pct":…}`.
  */
object BenchChild {

  /** (user+nice, system, idle, iowait, steal) ticks from /proc/stat. */
  private def cpuTicks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      // cpu user nice system idle iowait irq softirq steal
      Array(f(1).toLong + f(2).toLong, f(3).toLong, f(4).toLong,
        f(5).toLong, f(8).toLong)
    } finally src.close()
  }

  def pipelineRun(spark: SparkSession, nTurns: Long): Double = {
    val turns = Transcripts.synthetic(spark, nTurns, nConvs = 50000, skewPct = 2)
    val routed = Pipeline.routed(turns, Transcripts.lookup(spark),
      PipelineConfig(saltBlockSize = Some(16384)))
    val t0 = System.nanoTime()
    routed.agg(
      count(lit(1)),
      sum(length(col("row_repr"))), sum(length(col("old_repr"))),
      sum(length(col("new_repr"))), sum(length(col("text"))),
      sum(col("txn_id"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val Array(cpus, nTurns, parts) = args.map(_.toLong)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-child-$cpus")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    pipelineRun(spark, nTurns) // FULL-SIZE warmup: JIT, codegen, allocator
    System.gc()
    // Two timed runs, min reported: clean same-config JVMs still measured
    // 2× apart on single timed runs (JIT tier luck / transient host state);
    // the min of two post-warmup runs is a far tighter capability estimate.
    val before = cpuTicks()
    val sec1 = pipelineRun(spark, nTurns)
    val sec2 = pipelineRun(spark, nTurns)
    val sec = math.min(sec1, sec2)
    val after = cpuTicks()
    val d = after.zip(before).map { case (a, b) => a - b }
    val total = math.max(1L, d.sum)
    val hz = 100.0 // USER_HZ ticks/sec
    val userCores = d(0) / hz / (sec1 + sec2) // ticks span both timed runs
    val stealPct = 100.0 * d(4) / total
    val idlePct = 100.0 * d(2) / total
    def r2(x: Double) = math.rint(x * 100) / 100
    println(s"""GRAFT_CHILD {"sec":$sec,"user_cores":${r2(userCores)},"steal_pct":${r2(stealPct)},"idle_pct":${r2(idlePct)}}""")
    spark.stop()
  }
}

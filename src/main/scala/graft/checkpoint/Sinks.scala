package graft.checkpoint

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Using

/** Fan-out sink + snapshot/manifest checkpointing.
  *
  * The reference's collector fan-out (`consumer_chain.go:50-58`) writes every
  * passing message to every collector; here the fan-out is ONE dynamic
  * partitioned write — `partitionBy(bucket, role, tool, event_type)` — so
  * each sink "table" is a partition subtree, written in a single pass with
  * no per-sink re-scan.
  *
  * Resumability (north rule): work is sharded into `nBuckets` conversation
  * buckets (`pmod(xxhash64(conv_id), n)` — conversations never straddle
  * buckets, so every transactional semantic is bucket-local). A bucket's
  * manifest is written only after its data is fully committed; resume
  * re-derives the pending set from the manifest dir and recomputes ONLY
  * those buckets (`partitionOverwriteMode=dynamic` makes the re-write of a
  * half-finished bucket idempotent). Manifests carry lineage (source, bucket,
  * conv/turn ranges) + per-sink counts — the Iceberg-snapshot analog, Parquet
  * + JSON here because no Iceberg runtime jar ships in this sandbox
  * (documented in BASELINE.md).
  */
object Sinks {

  val BucketCol = "bucket"

  def withBucket(routed: DataFrame, nBuckets: Int): DataFrame =
    routed.withColumn(BucketCol, pmod(xxhash64(col("conv_id")), lit(nBuckets)).cast("int"))

  /** `outDir`/_manifests and the Hadoop filesystem of its URI, so that
    * manifests sit next to the data on any scheme the writer accepts. On
    * a checksummed filesystem (the local one) the raw filesystem beneath
    * it is used: a manifest is validated by parsing, and a `.crc` sidecar
    * per manifest would only be one more file to keep in step.
    */
  private def manifestDir(outDir: String): (FileSystem, Path) = {
    val dir = new Path(outDir, "_manifests")
    dir.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration) match {
      case fs: ChecksumFileSystem => (fs.getRawFileSystem, dir)
      case fs => (fs, dir)
    }
  }

  private val ManifestName = "bucket-(\\d+)\\.json".r
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Buckets whose manifest is committed: `bucket-<b>.json` that parses to
    * a JSON object whose `bucket` is `b`. A truncated, foreign or empty
    * manifest does not count (its bucket is redone), nor does any other
    * entry of the manifest dir.
    */
  def completedBuckets(outDir: String): Set[Int] = {
    val (fs, dir) = manifestDir(outDir)
    def committed(p: Path, b: Int): Boolean =
      try {
        val n = Using.resource(fs.open(p))(json.readTree(_)).path("bucket")
        n.isIntegralNumber && n.asLong == b
      } catch { case _: java.io.IOException => false }
    if (!fs.isDirectory(dir)) Set.empty
    else fs.listStatus(dir).flatMap { st =>
      st.getPath.getName match {
        case ManifestName(n) => n.toIntOption.filter(committed(st.getPath, _))
        case _ => None
      }
    }.toSet
  }

  /** Write (only) the pending buckets of the routed stream, then commit one
    * manifest per newly completed bucket. Returns the number of buckets
    * written. A crash before manifests leaves re-runnable buckets; a crash
    * after some manifests resumes with exactly the rest.
    *
    * Per-bucket lineage stats ride the WRITE pass itself via
    * `Dataset.observe` (buckets are enumerable, so per-bucket grouping
    * becomes conditional aggregates) — zero extra jobs, zero re-read of
    * committed parquet; at 100 TB a read-back would double the run's I/O
    * (VERDICT r01 #5). The write overwrites partitions dynamically, by its
    * own option, so the caller's session setting is left as it was.
    */
  def writeResumable(routed: DataFrame, outDir: String, nBuckets: Int,
      source: String): Int = {
    val done = completedBuckets(outDir)
    val pending = (0 until nBuckets).filterNot(done)
    if (pending.isEmpty) return 0

    val obs = org.apache.spark.sql.Observation()
    val statExprs = pending.flatMap { b =>
      val in = col(BucketCol) === b
      Seq(
        count(when(in, 1)).as(s"n_$b"),
        approx_count_distinct(when(in, col("conv_id"))).as(s"c_$b"),
        min(when(in, col("position"))).as(s"mn_$b"),
        max(when(in, col("position"))).as(s"mx_$b"))
    }
    val bucketed = withBucket(routed, nBuckets)
      .filter(col(BucketCol).isin(pending: _*))
      .observe(obs, statExprs.head, statExprs.tail: _*)

    bucketed.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BucketCol, "role", "tool", "event_type")
      .parquet(s"$outDir/routed")

    val observed = obs.get
    val stats: Map[Int, (Long, Long, Long, Long)] = pending.map { b =>
      def l(k: String, dflt: Long) =
        observed.get(k).collect { case n: Number => n.longValue }.getOrElse(dflt)
      b -> ((l(s"n_$b", 0L), l(s"c_$b", 0L), l(s"mn_$b", -1L), l(s"mx_$b", -1L)))
    }.toMap

    val (fs, dir) = manifestDir(outDir)
    fs.mkdirs(dir)
    val src = graft.functions.CanonicalJson.escape(source)
    pending.foreach { b =>
      val (n, c, mn, mx) = stats(b)
      val json =
        s"""{"bucket": $b, "source": "$src",
           | "n_routed": $n,
           | "n_convs_approx": $c,
           | "min_pos": $mn,
           | "max_pos": $mx}""".stripMargin
      // commit by rename: a crash mid-write leaves only the temp name,
      // which completedBuckets does not count, never a truncated manifest.
      // Hadoop's rename does not replace an existing file, so a stale one
      // is deleted first; a crash in that gap leaves the bucket pending.
      val (tmp, dst) = (new Path(dir, s".bucket-$b.json.tmp"), new Path(dir, s"bucket-$b.json"))
      Using.resource(fs.create(tmp, true))(_.write(json.getBytes(UTF_8)))
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"cannot commit manifest $dst")
    }
    pending.size
  }

  /** Newline-delimited canonical-JSON sink — the Spark-native form of the
    * reference's `streamCollector` (`parser/consumer_chain.go:61-81`): every
    * passing message serialized by `marshalMessage` and appended with a
    * trailing newline. `pretty = false` is the CLI default (`main.go:19`);
    * text-file rows are newline-terminated, so pretty mode yields the same
    * blank-line-free concatenation `assertJson` trims
    * (`parse_binlog_file_integration_test.go:83-103`).
    *
    * Distributed: one text-file part per partition, no driver collect. For
    * deterministic file content order, order the input by (conv_id,
    * turn_idx) beforehand (GoldenFixtureSpec does; at scale, per-partition
    * order is what the reference's per-file order corresponds to).
    */
  def writeNdjson(routed: DataFrame, outDir: String, pretty: Boolean = false): Unit =
    graft.functions.CanonicalJson.fromRouted(routed, pretty)
      .write.mode(SaveMode.Overwrite).text(outDir)

  /** Per-sink counts of the committed output (for golden-count checks). */
  def committedSinkCounts(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/routed")
      .groupBy("role", "tool", "event_type")
      .agg(count(lit(1)).as("n"))
}

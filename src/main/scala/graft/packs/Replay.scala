package graft.packs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Shared harness plumbing for the streaming-evidence queries: replay a
  * deterministic fixture through a parquet FILE SOURCE (fully distributed —
  * nothing collected to the driver) and clean the replay directory up
  * afterwards (ADVICE r04: the g2/k4 harnesses leaked one parquet copy of
  * the turns table per invocation).
  */
object Replay {

  /** Fast local scratch base for replay fixtures AND streaming
    * checkpoints: the same `SPARK_LOCAL_DIRS` default every graft session
    * uses for `spark.local.dir` (tmpfs in this sandbox). The JVM default
    * temp dir sits on the slow root disk, and the state-store commit files
    * written there dominated the streaming-evidence queries (measured:
    * k4's windowed-agg state commit alone was ~3 s/batch on /tmp).
    * Falls back to the JVM temp dir when the fast base is unavailable.
    */
  private def scratchBase(): java.nio.file.Path = {
    val base = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
    try { java.nio.file.Files.createDirectories(base); base }
    catch { case _: Throwable =>
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")) }
  }

  /** Temp replay dir for the duration of `f`, deleted recursively after —
    * safe because the memory-sink tables the harnesses return hold their
    * rows in driver memory, not in the replay files.
    */
  def withReplayDir[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(scratchBase(), prefix)
    try f(dir.toString) finally deleteRecursively(dir)
  }

  /** Streaming checkpoint location under the replay dir: the file stream
    * source ignores `_`-prefixed paths, so the checkpoint can live inside
    * the streamed directory and shares its cleanup.
    */
  def checkpointIn(replayDir: String): String = s"$replayDir/_ckpt"

  /** Run `stream` to completion into the memory sink `name`: one
    * Append-mode query under `Trigger.AvailableNow`, checkpointed at
    * `checkpoint`. Returns the sink table, read in the stream's session.
    */
  def drainToMemory(stream: DataFrame, name: String, checkpoint: String): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    stream.sparkSession.table(name)
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Write `df` as ONE parquet file `dir/name` with an explicit mtime.
    * The file source orders unseen files by (modification time, path), so
    * distinct increasing mtimes + lexicographic names pin the microbatch
    * order under `maxFilesPerTrigger=1` — the lever the watermark-
    * progression fixtures need (watermark advances between batches, never
    * within one).
    */
  def writeBatchFile(df: DataFrame, dir: String, name: String,
      mtimeMs: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-batchfile")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written under $tmp"))
      val target = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.move(part.toPath, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    } finally deleteRecursively(tmp)
  }
}

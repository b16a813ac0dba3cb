package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs — one JVM-wide SparkSession. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  import java.sql.Timestamp

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A fresh temp directory named `prefix…`, deleted recursively after the
    * suite.
    */
  def tempDir(prefix: String): String = synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try tempDirs.foreach(graft.packs.Replay.deleteRecursively) finally super.afterAll()

  val t0 = Timestamp.valueOf("2017-04-13 06:34:30")

  /** Build an in-memory turns frame: (conv_id, turn_idx, role, text, tool). */
  def mkTurns(rows: Seq[(String, Int, String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (c, i, r, x, t) => graft.model.Turn(c, i, r, x, t, t0) }
      .toDF()
  }

  def collectMap(df: DataFrame, key: String, value: String): Map[String, Long] =
    df.collect().map(r => r.getAs[String](key) -> r.getAs[Long](value)).toMap
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

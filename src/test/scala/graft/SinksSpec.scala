package graft

import graft.checkpoint.Sinks
import graft.operators.{Parse, TxnStamp}
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Resumable fan-out sink (FIXTURES.md F11) + salted stamping parity (F04). */
class SinksSpec extends SparkSpec {

  private def routedSf001 =
    Pipeline.routedFromEvents(spark, "/root/testdata/sf0.001")

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `_manifests/` holds only committed `bucket-<n>.json` files, each a
    * whole JSON object (no temp file or truncated manifest left behind).
    */
  private def assertManifestsWhole(outDir: String): Unit =
    Files.list(Paths.get(outDir, "_manifests")).iterator.asScala.foreach { p =>
      assert(p.getFileName.toString.matches("bucket-\\d+\\.json"), s"stray manifest entry $p")
      assert(json.readTree(p.toFile).isObject, s"$p does not parse as a JSON object")
    }

  test("fan-out write + resume equals single run (F11)") {
    val tmpA = tempDir("graft-single")
    val tmpB = tempDir("graft-resumed")
    val routed = routedSf001

    // single run
    assert(Sinks.writeResumable(routed, tmpA, nBuckets = 8, source = "sf0.001") == 8)
    assertManifestsWhole(tmpA)

    // interrupted run: only buckets 0-2 get committed (simulated by
    // pre-marking 3..7 done, writing, then clearing the fake manifests)
    val mdir = java.nio.file.Paths.get(tmpB, "_manifests")
    Files.createDirectories(mdir)
    (3 until 8).foreach(b =>
      Files.writeString(mdir.resolve(s"bucket-$b.json"), s"""{"bucket": $b}"""))
    assert(Sinks.writeResumable(routed, tmpB, 8, "sf0.001") == 3)
    assertManifestsWhole(tmpB)
    (3 until 8).foreach(b => Files.delete(mdir.resolve(s"bucket-$b.json")))

    // resume: completes exactly the missing 5 buckets
    assert(Sinks.writeResumable(routed, tmpB, 8, "sf0.001") == 5)
    assertManifestsWhole(tmpB)
    // idempotent: nothing left
    assert(Sinks.writeResumable(routed, tmpB, 8, "sf0.001") == 0)
    assertManifestsWhole(tmpB)

    // resumed output == single-run output (per-sink counts and full rows)
    val a = Sinks.committedSinkCounts(spark, tmpA).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val b = Sinks.committedSinkCounts(spark, tmpB).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(a == b && a.nonEmpty)

    val rowsA = spark.read.parquet(s"$tmpA/routed")
      .select("conv_id", "turn_idx", "event_type", "row_repr", "text").collect()
      .map(_.toString).sorted
    val rowsB = spark.read.parquet(s"$tmpB/routed")
      .select("conv_id", "turn_idx", "event_type", "row_repr", "text").collect()
      .map(_.toString).sorted
    assert(rowsA.sameElements(rowsB))

    // manifests carry lineage + counts
    val manifest = Files.readString(java.nio.file.Paths.get(tmpA, "_manifests", "bucket-0.json"))
    assert(manifest.contains("\"source\": \"sf0.001\"") && manifest.contains("n_routed"))
  }

  test("manifest source field is JSON-escaped: quotes and backslashes round-trip") {
    val out = tempDir("graft-escaped")
    val source = "s3a://bucket/\"quoted\" dir\\sub\\ <&>\tend"
    assert(Sinks.writeResumable(routedSf001, out, nBuckets = 2, source = source) == 2)
    val manifest = json.readTree(Paths.get(out, "_manifests", "bucket-0.json").toFile)
    assert(manifest.get("source").asText == source)
    assert(manifest.get("bucket").asInt == 0)
  }

  test("resume redoes a bucket whose manifest is truncated, empty or foreign; ignores stray names") {
    val single = tempDir("graft-single")
    val resumed = tempDir("graft-damaged")
    val routed = routedSf001
    assert(Sinks.writeResumable(routed, single, nBuckets = 4, source = "sf0.001") == 4)
    assert(Sinks.writeResumable(routed, resumed, nBuckets = 4, source = "sf0.001") == 4)
    val mdir = Paths.get(resumed, "_manifests")
    def manifest(b: Int) = mdir.resolve(s"bucket-$b.json")
    // a crash that left half a manifest, an empty one, one naming another
    // bucket, and entries whose names carry no bucket number
    val whole = Files.readString(manifest(1))
    Files.writeString(manifest(1), whole.take(whole.length / 2))
    Files.writeString(manifest(2), "")
    Files.writeString(manifest(3), """{"bucket": 0}""")
    Files.writeString(mdir.resolve("bucket-x.json"), "{}")
    Files.writeString(mdir.resolve("bucket-99999999999.json"), """{"bucket": 0}""")
    assert(Sinks.completedBuckets(resumed) == Set(0))
    assert(Sinks.writeResumable(routed, resumed, 4, "sf0.001") == 3)
    assert(Sinks.completedBuckets(resumed) == Set(0, 1, 2, 3))
    assert(json.readTree(manifest(1).toFile).get("bucket").asInt == 1)
    def rows(dir: String) = spark.read.parquet(s"$dir/routed")
      .select("conv_id", "turn_idx", "event_type", "row_repr", "text").collect()
      .map(_.toString).sorted
    assert(rows(single).sameElements(rows(resumed)))
  }

  test("manifests go through the output URI's filesystem: a file:// outDir resumes") {
    val dir = Paths.get(tempDir("graft-uri"))
    val out = s"file://$dir"
    assert(Sinks.writeResumable(routedSf001, out, nBuckets = 2, source = "sf0.001") == 2)
    assert(Files.isRegularFile(dir.resolve("_manifests").resolve("bucket-0.json")) &&
      Files.isRegularFile(dir.resolve("_manifests").resolve("bucket-1.json")))
    assertManifestsWhole(dir.toString)
    assert(Sinks.completedBuckets(out) == Set(0, 1))
    assert(Sinks.writeResumable(routedSf001, out, 2, "sf0.001") == 0)
  }

  test("writeResumable leaves the session's partitionOverwriteMode as it was") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val s = spark.newSession()
    s.conf.set(key, "static")
    val out = tempDir("graft-overwrite-mode")
    assert(Sinks.writeResumable(Pipeline.routedFromEvents(s, "/root/testdata/sf0.001"),
      out, nBuckets = 2, source = "sf0.001") == 2)
    assert(s.conf.get(key) == "static")
  }

  test("salted stamping equals plain window stamping, incl. a hot conversation (F04)") {
    // 1 hot conversation with 500 turns + commits only near the end blocks
    val hot = (1 to 500).map { i =>
      val text = if (i == 450) "EVENT commit xid=450"
        else if (i == 490) "EVENT commit xid=490"
        else if (i % 3 == 0) s"EVENT insert rows=1 vals=[$i|a|b]"
        else "noise line"
      ("hot", i, "user", text, "search")
    }
    val cold = Seq(("cold", 1, "user", "EVENT insert rows=1 vals=[1|a|b]", "search"),
      ("cold", 2, "user", "EVENT commit xid=7", "search"))
    val parsed = Parse.parseKind(mkTurns(hot ++ cold))
    val plain = TxnStamp.stamp(parsed)
      .select("conv_id", "turn_idx", "txn_id").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> Option(r.get(2))).toMap
    val salted = TxnStamp.stampSalted(parsed, blockSize = 64)
      .select("conv_id", "turn_idx", "txn_id").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> Option(r.get(2))).toMap
    assert(plain == salted)
    assert(plain(("hot", 1)).contains(450L))
    assert(plain(("hot", 451)).contains(490L))
    assert(plain(("hot", 491)).isEmpty) // after last commit: never drained
    assert(plain(("cold", 1)).contains(7L))
  }

  test("turns are unique per (conv_id, turn_idx), as stampSalted's min_by needs") {
    // stampSalted picks each block's first commit with min_by(xid, turn_idx):
    // two commits sharing a turn_idx would make that pick arbitrary
    for ((name, turns) <- Seq(
        "fromEvents sf0.001" -> Transcripts.fromEvents(spark, "/root/testdata/sf0.001"),
        "synthetic" -> Transcripts.synthetic(spark, 10000, 100),
        "synthetic, hot conversation" -> Transcripts.synthetic(spark, 10000, 100, skewPct = 10))) {
      val n = turns.count()
      assert(n > 0, name)
      assert(turns.select("conv_id", "turn_idx").distinct().count() == n, name)
    }
  }
}

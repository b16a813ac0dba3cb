package graft

import graft.operators.{Agg, Parse, TxnStamp}
import graft.sources.Transcripts
import org.scalacheck.{Gen => SGen}
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2): conservation, text
  * round-trip, filter monotonicity, salted-stamping equivalence — over
  * ScalaCheck-generated transcripts (sampled with fixed seeds; the
  * scalatest-scalacheck bridge isn't in the offline cache, so sampling is
  * driven manually and deterministically).
  */
class PropertySpec extends SparkSpec {

  private def samples[A](g: SGen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(SGen.Parameters.default.withSize(40), Seed(42L + i)))

  private val textGen: SGen[String] = SGen.oneOf(
    SGen.choose(1, 3).map(n => s"EVENT insert rows=$n vals=" +
      (1 to n).map(i => s"[$i|val$i|x]").mkString(";")),
    SGen.const("EVENT update rows=2 vals=[1|a|old];[1|a|new]"),
    SGen.const("EVENT update rows=3 vals=[1|a|x];[1|a|y];[1|a|z]"), // odd: quarantined
    SGen.const("EVENT delete rows=1 vals=[9|z|gone]"),
    SGen.const("EVENT query stmt=CREATE TABLE t (id INT)"),
    SGen.const("EVENT query stmt=BEGIN"),
    SGen.const("EVENT query stmt= SAVEPOINT sp1"),
    SGen.choose(1L, 999L).map(x => s"EVENT commit xid=$x"),
    SGen.alphaNumStr.map(s => s"noise $s"),
    SGen.const("EVENT insert rows=1 vals=[héllo 世界|🚀|z]"))

  private val turnsGen: SGen[List[(String, Int, String, String, String)]] = for {
    nConvs <- SGen.choose(1, 4)
    nTurns <- SGen.choose(1, 60)
    rows <- SGen.listOfN(nTurns, for {
      c <- SGen.choose(0, nConvs - 1)
      role <- SGen.oneOf("user", "assistant", "system", "tool", "")
      tool <- SGen.oneOf("search", "calc", "db", "web", "", "zzz")
      t <- textGen
    } yield (s"conv$c", 0, role, t, tool))
  } yield rows.zipWithIndex.map { case ((c, _, r, t, tl), i) => (c, i, r, t, tl) }

  test("escape round-trip: arbitrary values survive the vals grammar (VERDICT r01 #7)") {
    import graft.functions.ParseVals
    // adversarial alphabet heavy on delimiters and the escape char
    val valueGen = SGen.listOf(SGen.frequency(
      6 -> SGen.alphaNumChar,
      4 -> SGen.oneOf('|', ';', '[', ']', '\\', '=', ' '),
      1 -> SGen.oneOf('é', '世', '‽'))).map(_.mkString)
    val rowsGen = SGen.choose(1, 4).flatMap(n =>
      SGen.listOfN(n, SGen.choose(1, 5).flatMap(m => SGen.listOfN(m, valueGen))))
    val cases = samples(rowsGen, 60)
    val s = spark
    import s.implicits._
    val encoded = cases.map { rows =>
      rows.map(_.map(ParseVals.escapeValue).mkString("[", "|", "]")).mkString(";")
    }
    val parsed = encoded.toDF("payload")
      .select(ParseVals(org.apache.spark.sql.functions.col("payload")).as("v"))
      .collect()
      .map(_.getAs[scala.collection.Seq[scala.collection.Seq[String]]](0)
        .map(_.toList).toList)
    cases.zip(parsed).foreach { case (want, got) =>
      assert(got == want.map(_.toList).toList, s"round-trip failed for $want")
    }
  }

  test("conservation + text identity + filter monotonicity + salted parity") {
    samples(turnsGen, 8).foreach { rows =>
      if (rows.nonEmpty) {
        val turns = mkTurns(rows)
        val lookup = Transcripts.lookup(spark)
        val enriched = Pipeline.enriched(turns, lookup)
        val routed = Pipeline.routed(turns, lookup).collect()

        // conservation: every routed message traces to exactly one turn and
        // message multiplicity matches the ledger
        val ledger = Agg.reconcile(enriched).collect().head
        assert(ledger.getAs[Long]("turns") == rows.length.toLong)

        // text byte-identity per routed row
        val byKey = rows.map(r => (r._1, r._2) -> r._4).toMap
        routed.foreach { m =>
          val k = (m.getAs[String]("conv_id"), m.getAs[Int]("turn_idx"))
          assert(byKey(k) == m.getAs[String]("text"))
        }

        // include-filter output is a subset of the unfiltered output
        val filtered = Pipeline.routed(turns, lookup,
          PipelineConfig(includeTools = Seq("search"))).collect()
        def key(r: org.apache.spark.sql.Row) =
          (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
            r.getAs[String]("event_type"), r.getAs[String]("row_repr"))
        assert(filtered.map(key).toSet.subsetOf(routed.map(key).toSet))

        // salted stamping ≡ plain stamping
        val parsed = Parse.parseKind(turns)
        def stamps(df: org.apache.spark.sql.DataFrame) =
          df.select("conv_id", "turn_idx", "txn_id").collect()
            .map(r => (r.getString(0), r.getInt(1)) -> Option(r.get(2))).toMap
        assert(stamps(TxnStamp.stamp(parsed)) ==
          stamps(TxnStamp.stampSalted(parsed, blockSize = 8)))
      }
    }
  }

  test("fused ShingleSet ≡ HOF array_distinct/transform formulation") {
    import org.apache.spark.sql.functions._
    // arbitrary token soups incl. dups, <3 tokens, unicode, empties
    val docGen = SGen.listOf(SGen.frequency(
      5 -> SGen.oneOf("a", "b", "ab", "the", "héllo", "世界"),
      2 -> SGen.alphaNumStr.suchThat(_.nonEmpty))).map(_.mkString(" "))
    val texts = samples(docGen, 120) :+ "" :+ "one" :+ "one two" :+ "a a a a"
    import spark.implicits._
    val df = texts.toDF("text")
    val toks = split(trim(col("text")), "\\s+")
    val hof = array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - 2, lit(0))),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
        element_at(toks, i + 2))))
    val rows = df.select(
      graft.dedup.Dedup.shingles(col("text")).as("fused"),
      when(size(toks) >= 3, hof).otherwise(array()).as("builtin")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"fused=${r.getSeq[String](0)} builtin=${r.getSeq[String](1)}")
    }
  }

  /** Disjoint cliques, stars and chains (up to 12 hops) over shuffled doc
    * ids, with duplicate and reversed pairs; plus a priority table with
    * ties that leaves some doc ids out and gives some two rows.
    */
  private val pairGraphGen: SGen[(List[(Long, Long)], List[(Long, Long)])] = {
    val shape: SGen[List[(Int, Int)]] = SGen.oneOf(
      SGen.choose(2, 5).map(n => (for { i <- 0 until n; j <- i + 1 until n } yield (i, j)).toList),
      SGen.choose(2, 8).map(n => (1 until n).map(i => (0, i)).toList),
      SGen.choose(1, 12).map(hops => (0 until hops).map(i => (i, i + 1)).toList))
    for {
      shapes <- SGen.choose(1, 5).flatMap(SGen.listOfN(_, shape))
      shuffleSeed <- SGen.long
      flips <- SGen.infiniteLazyList(SGen.choose(0, 5))
      prios <- SGen.infiniteLazyList(SGen.frequency(1 -> SGen.const(Nil),
        3 -> SGen.choose(-1L, 2L).map(List(_)), 1 -> SGen.listOfN(2, SGen.choose(-1L, 2L))))
    } yield {
      val sizes = shapes.map(_.flatMap { case (i, j) => Seq(i, j) }.max + 1)
      val ids = new scala.util.Random(shuffleSeed).shuffle((1L to 3L * sizes.sum).toList)
      val offsets = sizes.scanLeft(0)(_ + _)
      val edges = shapes.zip(offsets).flatMap { case (es, off) =>
        es.map { case (i, j) => (ids(off + i), ids(off + j)) } }
      // flip 0: reversed; flip 1: duplicated; else as is
      val pairs = edges.zip(flips).flatMap {
        case ((a, b), 0) => Seq((b, a))
        case (e, 1) => Seq(e, e)
        case (e, _) => Seq(e)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      (pairs, nodes.zip(prios).flatMap { case (x, ps) => ps.map(x -> _) })
    }
  }

  /** Driver-side union-find: each component keeps its lowest (rank, id). */
  private def unionFindKeepers(pairs: Seq[(Long, Long)], rank: Long => Long): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { case (x, y) => val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(rx) = ry }
    parent.keys.toList.groupBy(find).values.flatMap { members =>
      val keeper = members.minBy(x => (rank(x), x))
      members.map(_ -> keeper)
    }.toMap
  }

  test("resolveKeepers / resolveKeepersBy ≡ driver-side union-find on pair graphs") {
    import graft.dedup.Dedup
    val s = spark
    import s.implicits._
    def keepers(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    samples(pairGraphGen, 8).foreach { case (pairs, prioRows) =>
      val df = pairs.toDF("a", "b")
      val prioDf = prioRows.toDF("doc_id", "prio")
      // a doc with several priority rows takes its highest
      val prio = prioRows.groupMapReduce(_._1)(_._2)(math.max)
      val byId = unionFindKeepers(pairs, _ => 0L)
      val byPrio = unionFindKeepers(pairs, x => -prio.getOrElse(x, 0L))
      assert(keepers(Dedup.resolveKeepers(df)) == byId, s"lowest-id keepers differ on $pairs")
      assert(keepers(Dedup.resolveKeepersBy(df, prioDf)) == byPrio,
        s"priority keepers differ on $pairs with $prioRows")
      // both execution paths, whatever the edge budget picks: the driver
      // finish, and the distributed fixed point
      Seq("driver" -> Long.MaxValue, "distributed" -> 0L).foreach { case (name, budget) =>
        assert(keepers(Dedup.resolve(df, None, 50, budget)) == byId,
          s"$name lowest-id keepers differ on $pairs")
        assert(keepers(Dedup.resolve(df, Some(prioDf), 50, budget)) == byPrio,
          s"$name priority keepers differ on $pairs with $prioRows")
      }
    }
  }
}

package graft

import graft.operators._
import graft.sources.Transcripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Pipeline composition — the `parse → stamp → enrich → route` DAG, ONE
  * composition for batch and streaming ([[Pipeline.composed]]). Each stage
  * is a pure DataFrame→DataFrame function (independently testable, like
  * the reference's library entry points `parser/binlog_parser.go:9-15`);
  * the only stage that differs between the modes is the transaction stamp,
  * which the caller passes in: the batch window ([[TxnStamp.stamp]] or
  * [[TxnStamp.stampSalted]]) here, the per-conversation buffer drained on
  * commit in [[graft.streaming.StreamingPipeline.stamp]].
  *
  * Batch plan shape (verified via explain in tests): one parquet scan →
  * WholeStageCodegen(parseKind) → single hash Exchange on conv_id → Sort +
  * WindowExec (txn stamp) → withVals → BroadcastHashJoin (lookup) →
  * Generate(explode) → Filter → output. Exactly one shuffle end-to-end.
  */
case class PipelineConfig(
    includeRoles: Seq[String] = Nil,
    includeTools: Seq[String] = Nil,
    /** When set, use the skew-safe salted txn stamping with this block size
      * (see [[graft.operators.TxnStamp.stampSalted]]); None = plain window.
      */
    saltBlockSize: Option[Int] = None)

object Pipeline {

  /** The batch txn stamp `cfg.saltBlockSize` selects. */
  private def batchStamp(cfg: PipelineConfig): DataFrame => DataFrame =
    cfg.saltBlockSize match {
      case Some(sz) => TxnStamp.stampSalted(_, sz)
      case None => TxnStamp.stamp
    }

  /** Parsed + txn-stamped + lookup-enriched turns (pre-explode), stamped by
    * `stamp` over [[Parse.parseKind]]'s output.
    *
    * Parse order (guide §2.3 "project before the exchange"): only the
    * dispatch columns the stamp needs (kind, xid — cheap substring
    * extractions) are computed BEFORE the stamp's conv_id exchange or
    * state; the wide `vals` payload decode and stmt extraction run AFTER
    * it, in the post-shuffle stage. `vals` serializes to roughly the text
    * bytes again plus array offsets, so parsing it first nearly doubled
    * every shuffled (and, streaming, every buffered) row's width for no
    * benefit — the stamp never reads it.
    */
  private def enrichedWith(turns: DataFrame, lookup: DataFrame,
      stamp: DataFrame => DataFrame): DataFrame =
    Enrich.withLookup(Parse.withVals(stamp(Parse.parseKind(turns))), lookup)

  /** The one composition of both modes: role pushdown → parseKind → `stamp`
    * → withVals → enrich → route → include filters.
    */
  private[graft] def composed(turns: DataFrame, lookup: DataFrame,
      cfg: PipelineConfig, stamp: DataFrame => DataFrame): DataFrame =
    Route.includeFilters(
      Route.messages(enrichedWith(
        pushRoleFilter(turns, cfg.includeRoles), lookup, stamp)),
      cfg.includeRoles, cfg.includeTools)

  /** Batch enriched turns: [[enrichedWith]] under the batch stamp. The
    * include filters select messages, so they apply only to [[routed]].
    */
  def enriched(turns: DataFrame, lookup: DataFrame,
      cfg: PipelineConfig = PipelineConfig()): DataFrame =
    enrichedWith(turns, lookup, batchStamp(cfg))

  /** Role include-filter, pushed AHEAD of parse (VERDICT r01 #6): every
    * message inherits its turn's role verbatim, so non-matching turns can
    * be dropped at the SCAN (Parquet row-group skipping via pushed
    * In/StartsWith filters) instead of riding the whole
    * parse→shuffle→window→explode pipeline to be discarded at the end —
    * at 100 TB an unpushed role filter wastes the entire run on dropped
    * rows. Commit turns must survive regardless of role: they drive txn
    * stamping for OTHER roles' row events (the reference stamps XId in the
    * parser, before any predicate — `binlog_to_messages.go:41-54` vs
    * `consumer_chain.go:83-91`). Commits and blank roles emit no /
    * unconditionally-passing messages, so the residual message-level
    * filter in [[Route.includeFilters]] stays semantically identical.
    *
    * The tool filter can NOT pre-filter: query messages rewrite tool to
    * "(unknown)" (`Route.messages`), so a message's tool is not the turn's.
    */
  private def pushRoleFilter(turns: DataFrame, includeRoles: Seq[String]): DataFrame =
    if (includeRoles.isEmpty) turns
    else turns.filter(
      col("role") === "" || col("role").isin(includeRoles: _*) ||
        col("text").startsWith("EVENT commit "))

  /** Full routed message stream: [[composed]] under the batch stamp. */
  def routed(turns: DataFrame, lookup: DataFrame,
      cfg: PipelineConfig = PipelineConfig()): DataFrame =
    composed(turns, lookup, cfg, batchStamp(cfg))

  /** Convenience: routed stream over the sfDir-derived transcript table. */
  def routedFromEvents(spark: SparkSession, sfDir: String,
      cfg: PipelineConfig = PipelineConfig()): DataFrame =
    routed(Transcripts.fromEvents(spark, sfDir), Transcripts.lookup(spark), cfg)
}

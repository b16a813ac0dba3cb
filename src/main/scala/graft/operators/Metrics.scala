package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Single-pass pipeline metrics — the distributed analog of the reference's
  * glog drop counters (`binlog_to_messages.go:85`, `conversion.go:82`).
  *
  * Uses `Dataset.observe`: the counters are accumulated DURING the job that
  * materializes the pipeline (no second scan, unlike [[Agg.reconcile]],
  * which is the standalone/oracle-checkable form). Attach to the enriched
  * frame, run any action downstream, then read `observation.get`.
  */
object Metrics {

  /** Attaches the [[Agg.Ledger]] counters plus `quarantined_odd_updates`. */
  def observe(enriched: DataFrame, observation: Observation): DataFrame = {
    val oddUpdates = sum(when(col("kind") === "update" && col("matched") &&
      size(col("vals")) % 2 === 1, 1L).otherwise(0L)).as("quarantined_odd_updates")
    enriched.observe(observation, oddUpdates, Agg.Ledger: _*)
  }
}

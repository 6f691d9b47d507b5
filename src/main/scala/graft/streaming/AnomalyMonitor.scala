package graft.streaming

import graft.cdc.Upsert
import graft.operators.Analytics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming volume-anomaly monitor — [[QualityMonitor]]'s pattern
  * applied to the ingest alarm: event batches land as a stream, each
  * micro-batch reduces to its (event_type, hour) count delta
  * ([[Analytics.hourlyCounts]], the SAME batch operator), the delta
  * folds into a running hourly-count table through the aggregation
  * merge engine over a versioned [[StateStore]], and any state
  * snapshot answers the SAME squared-Chebyshev flags query
  * ([[Analytics.anomalyFlags]]) the batch path runs — live spike/dip
  * alarms over a continuously-ingesting feed.
  *
  * Stream ≡ batch by construction: hourly counts are sum folds
  * (associative — any batch split merges to the same table, even when
  * one hour's events straddle micro-batches), and the flags stage is a
  * pure function of that table (`AnomalyMonitorSpec` pins the
  * equality). Exactly-once: merges land on the PRE-batch version, so a
  * replayed batchId rebuilds its own version instead of double-merging
  * — the [[QualityMonitor]]/[[RecoverySpec]] contract.
  *
  * Scale shape: per batch, one hash aggregate to ≤ groups×hours-touched
  * rows; the merged state is bounded by groups × observed hours, and
  * the flags query windows over that aggregate, never raw events. */
object AnomalyMonitor {

  private val folds = Seq("n_events" -> "sum")

  /** Fold one batch's count delta into the running hourly table. */
  def merge(state: Option[DataFrame], delta: DataFrame): DataFrame =
    Upsert.applyAggregate(state, delta, Seq("event_type", "hour"), folds)

  /** The alarm view over any state snapshot — identical to the batch
    * operator's output over the same underlying events. */
  def report(state: DataFrame, kSigma: Int = 3, minBaseline: Int = 8): DataFrame =
    Analytics.anomalyFlags(state, kSigma, minBaseline)

  /** Run the monitor over an event stream into a versioned
    * [[StateStore]] at `dir`. */
  def run(eventStream: DataFrame, dir: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StateStore.foldStream(eventStream, dir, checkpointDir, trigger)(
      (prev, batch) => merge(prev, Analytics.hourlyCounts(batch)))
}

package graft.streaming

import graft.cdc.Upsert
import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming corpus-quality monitor — the marriage of the text-ops
  * family and the CDC streaming surface: crawl batches land as a
  * document stream, each micro-batch is scored with the SAME batch
  * operator ([[TextOps.quality]]) and folded into a running
  * per-(source, quality-bin) histogram through the aggregation merge
  * engine ([[Upsert.applyAggregate]] with sum folds) backed by a
  * versioned [[StateStore]]. The dashboard a continuously-ingesting
  * training pipeline watches: quality-mix drift per source, live.
  *
  * Stream ≡ batch by construction: sum folds are associative, so any
  * batch split produces the same histogram as one shot
  * (`QualityMonitorSpec` pins it) — the micro-batch boundary is
  * invisible, exactly the Paimon aggregation-engine contract.
  *
  * Scale shape: per batch, ONE narrow scoring pass + a hash aggregate
  * to ≤ sources×11 rows; the merge reads/writes a bounded state table
  * keyed on (source, q_bin). Nothing grows with history but the
  * version count, and [[StateStore]] compaction owns that. */
object QualityMonitor {

  /** One batch's histogram delta: documents → (source, q_bin ∈ 0..10,
    * n_docs, n_tokens). The bin is floor(quality_score·10) clamped —
    * fixed bins, so deltas from any batch split merge exactly. */
  def batchHistogram(docs: DataFrame): DataFrame =
    TextOps.quality(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"),
        least(floor(col("quality_score") * 10).cast("int"), lit(10))
          .as("q_bin"),
        col("n_tokens"))
      .groupBy("source", "q_bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))

  private val folds = Seq("n_docs" -> "sum", "n_tokens" -> "sum")

  /** Fold one batch's delta into the running histogram state. */
  def merge(state: Option[DataFrame], delta: DataFrame): DataFrame =
    Upsert.applyAggregate(state, delta, Seq("source", "q_bin"), folds)

  /** Run the monitor over a document stream: each micro-batch scores,
    * aggregates, and merges into a versioned [[StateStore]] at `dir`
    * (the dashboard reads any snapshot; a replayed batchId overwrites
    * its own version — the [[Tiering]] idempotency contract). */
  def run(docStream: DataFrame, dir: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StateStore.foldStream(docStream, dir, checkpointDir, trigger)(
      (prev, batch) => merge(prev, batchHistogram(batch)))
}

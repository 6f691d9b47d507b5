package graft.streaming

import graft.cdc.Upsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming dataset-manifest maintenance — the live form of
  * [[graft.operators.Validate.manifest]]: as crawl batches land, the
  * per-source identity (doc/char totals, id range, order-free XOR
  * content checksum) folds forward through the aggregation merge
  * engine, so at ANY instant the store holds the manifest of
  * everything ingested so far — no full-corpus rescan to answer "what
  * exactly have we got, and is it still the same?".
  *
  * Every fold is associative and commutative (sum, min, max, and the
  * XOR that makes the checksum order-free in the batch operator make
  * it batch-split-proof here): stream ≡ batch by construction, pinned
  * in `ManifestMonitorSpec`. Exactly-once rides the [[StateStore]]
  * versioned batchId discipline — a replayed batch rebuilds its own
  * version from the PRE-batch state instead of double-XORing (XOR is
  * self-inverse, so the naive re-merge would silently CANCEL a
  * batch's checksum — this monitor is exactly why the ledgered form
  * exists).
  *
  * Scale shape: one narrow scan per batch, hash-aggregate to ≤sources
  * rows, state merge shuffles one row per touched source. */
object ManifestMonitor {

  /** One batch's manifest delta (same folds as the running state). */
  def batchManifest(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("bit_xor(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT))")
          .as("content_checksum"))

  private val folds = Seq("n_docs" -> "sum", "total_chars" -> "sum",
    "min_doc_id" -> "min", "max_doc_id" -> "max",
    "content_checksum" -> "xor")

  /** Fold one batch's delta into the running manifest state. */
  def merge(state: Option[DataFrame], delta: DataFrame): DataFrame =
    Upsert.applyAggregate(state, delta, Seq("source"), folds)

  /** Run the monitor over a document stream (the [[QualityMonitor]]
    * lifecycle: versioned store at `dir`, replayed batchIds rebuild
    * their own version from the pre-batch snapshot). */
  def run(docStream: DataFrame, dir: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StateStore.foldStream(docStream, dir, checkpointDir, trigger)(
      (prev, batch) => merge(prev, batchManifest(batch)))
}

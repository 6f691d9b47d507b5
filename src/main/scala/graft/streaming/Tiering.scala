package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Lake tiering — the reference's Fluss→Paimon/Iceberg tiering service
  * (`deploy:318-358`; per-table opt-in `'table.datalake.enabled'` +
  * `'table.datalake.freshness'='30s'/'60s'`,
  * `flink-cdc/sql/tickets-cdc.sql:35-36`): streaming state becomes
  * batch-queryable columnar snapshots with bounded staleness.
  *
  * Spark-first shape: a `foreachBatch` snapshot writer on a processing
  * -time trigger equal to the freshness bound, writing versioned parquet
  * via [[StateStore]]; batch readers (`spark.read.parquet`) see the
  * latest committed snapshot.
  */
object Tiering {

  /** Tier a streaming DataFrame into `dir` every `freshness`. The
    * snapshot is the transform of the micro-batch — for changelog
    * streams pass the upsert-materialized state instead (CdcPipeline
    * already tiers its state this way). */
  def snapshotStream(df: DataFrame, dir: String, checkpointDir: String,
                     freshness: String): StreamingQuery = {
    val spark = df.sparkSession
    val store = new StateStore(spark, dir)
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(freshness))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.write(batch, batchId)
        store.expire()
      }
      .start()
  }

  /** Batch read-back of a tiered table ("batch query support",
    * `revenue-analytics.sql:22`). */
  def readLake(spark: SparkSession, dir: String): Option[DataFrame] =
    new StateStore(spark, dir).read()
}

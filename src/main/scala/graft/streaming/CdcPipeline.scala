package graft.streaming

import graft.cdc.Upsert
import graft.operators.Revenue
import graft.sources.CdcSource
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's whole topology as one Spark Structured Streaming
  * program (reference `deploy:296-311` runs it as four Flink SQL jobs):
  *
  *   Debezium-style JSON changelog stream (table, op, ts_ms, before,
  *   after) → per-table latest-by-key staging state
  *   (users/movies/tickets-cdc.sql upsert INSERTs) → state-table join +
  *   aggregate → `movie_revenue_realtime` MV upsert
  *   (`revenue-analytics.sql:46-65`).
  *
  * Design choice (SURVEY §2.4): both join inputs are *updating* PK
  * tables, which Spark's native stream–stream join does not support —
  * so each micro-batch applies the changelog to materialized state and
  * recomputes join+agg over current state inside `foreachBatch`. That
  * reproduces Flink's retraction semantics exactly: a ticket status
  * flip decrements the old status bucket and increments the new one
  * because the MV is a pure function of current state.
  *
  * Scale design — incremental by co-location: every table's state is
  * hash-bucketed by its DISTRIBUTION key (`TableSpec.dist`), which for
  * the fact table is the AGGREGATION key (movie_id), not the PK. Facts,
  * dimension and MV then share one bucket space, so a micro-batch
  *   1. finds every table's touched buckets in one Spark job,
  *   2. rewrites only the staging buckets its keys touch, and
  *   3. recomputes the MV only for those buckets — a co-located
  *      bucket-local join+agg, exact retraction semantics included
  * — per-trigger cost tracks the change rate, not accumulated history
  * (the reference's `'bucket.num'='4'`, tickets-cdc.sql:34, plays the
  * same role for Fluss).
  *
  * Per-trigger cost is mostly driver work: planning, listing, commit
  * and manifest IO around a few small jobs. The staging applies of
  * step 2 touch disjoint stores (the reference runs them as separate
  * Flink jobs), so they run concurrently, one thread per table, and
  * their driver work and jobs overlap. The MV recompute waits for all
  * of them: it joins the tickets and movies state those applies just
  * committed, so it may not start before they have.
  */
object CdcPipeline {

  /** Generic JSON changelog record — what Kafka+Debezium delivers in
    * production and the tests replay from MemoryStream. */
  case class CdcRecord(table: String, op: String, ts_ms: Long,
                       before: String, after: String)

  /** Per-table merge engine — the Paimon `'merge-engine'` sink option
    * (the reference wires `deduplicate`, `flink-gen.sh:129`; the other
    * two are the Paimon engines its users reach next). Each names the
    * fold applied to a key's rows as changelog batches land. */
  sealed trait MergeEngine
  object MergeEngine {
    /** latest row per key wins; deletes remove (the default). */
    case object Deduplicate extends MergeEngine
    /** latest NON-NULL per column wins; deletes rejected loudly
      * ([[Upsert.applyChangelogPartial]] throws — the Paimon contract). */
    case object PartialUpdate extends MergeEngine
    /** declared per-column folds; `aggs` maps value column →
      * sum | count | min | max. `retract = false` (default) consumes an
      * append stream ([[Upsert.applyChangelogAggregate]]);
      * `retract = true` consumes the full c/u/d changelog with
      * subtract-on-retraction ([[Upsert.applyChangelogAggregateRetract]],
      * sum|count only). */
    final case class Aggregation(aggs: Seq[(String, String)],
                                 retract: Boolean = false) extends MergeEngine
  }

  /** @param keys primary key (latest-by-key identity)
    * @param dist distribution (bucketing) key — defaults to the PK;
    *             set to the downstream agg/join key for co-location
    * @param engine merge engine applied at the staging sink */
  final case class TableSpec(name: String, schema: StructType, keys: Seq[String],
                             dist: Seq[String] = Seq.empty,
                             engine: MergeEngine = MergeEngine.Deduplicate) {
    def distKeys: Seq[String] = if (dist.nonEmpty) dist else keys
  }

  final class Handle(val query: StreamingQuery,
                     stores: Map[String, BucketedStateStore],
                     val mvStore: BucketedStateStore) {
    def staging(table: String): Option[DataFrame] = stores(table).readAll()
    def mv(): Option[DataFrame] = mvStore.readAll()
  }

  /** Start the pipeline over a changelog stream.
    *
    * @param changelog streaming Dataset of [[CdcRecord]]
    * @param stateDir  root dir for staging + MV state
    * @param trigger   micro-batch cadence (reference mini-batch 1 s,
    *                  `revenue-analytics.sql:10-12`)
    */
  def start(spark: SparkSession, changelog: DataFrame, tables: Seq[TableSpec],
            stateDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second"),
            statuses: Revenue.StatusDomain = Revenue.osbStatuses,
            buckets: Int = 4): Handle = {
    val stores = tables.map(t =>
      t.name -> new BucketedStateStore(spark, s"$stateDir/${t.name}", buckets)).toMap
    val mvStore = new BucketedStateStore(
      spark, s"$stateDir/movie_revenue_realtime", buckets)
    // Replay-ledger token: one per checkpoint lineage (the Paimon
    // `commitUser` idea) — batch ids are monotonic only within a
    // checkpoint, so a redeploy with a fresh checkpoint gets a fresh
    // token and its restarted batch 0 is not mistaken for a replay.
    val ledgerToken = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

    val query = changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.cache()
        try {
          val touchedByTable = touchedBuckets(spark, cached, tables, stores)
          // per-table staging upserts, touched-bucket granularity: each
          // table has its own store, so the applies are independent
          // (the reference runs them as separate Flink jobs) and overlap
          inParallel(tables.filter(t => touchedByTable(t.name).nonEmpty).map {
            spec => () =>
              val store = stores(spec.name)
              val touched = touchedByTable(spec.name)
              // Replay guard (exactly-once): foreachBatch is
              // at-least-once — after a crash between the sink commit
              // and the checkpoint commit, the restarted stream
              // re-delivers this batchId. Deduplicate/PartialUpdate
              // folds absorb the re-application (same keys, same ts →
              // same content) but an Aggregation fold would
              // double-count, and writeBuckets commits at
              // max(batchId, latest+1) so the replay would land as a
              // NEW corrupted version. The store's manifest records
              // the batch each commit applied; a batch the ledger
              // already covers is skipped for every engine.
              if (!store.lastAppliedBatch(ledgerToken).exists(_ >= batchId)) {
                // the source sequence passes through when the wire
                // carries one (equal-ts_ms tie-break in Upsert.applyChangelog)
                val envelope = CdcSource.jsonEnvelope(cached, spec.name, spec.schema)
                val state = store.readBuckets(touched)
                val newTouched = spec.engine match {
                  case MergeEngine.Deduplicate =>
                    Upsert.applyChangelog(state, envelope, spec.keys)
                  case MergeEngine.PartialUpdate =>
                    Upsert.applyChangelogPartial(state, envelope, spec.keys)
                  case MergeEngine.Aggregation(aggs, false) =>
                    Upsert.applyChangelogAggregate(state, envelope, spec.keys, aggs)
                  case MergeEngine.Aggregation(aggs, true) =>
                    Upsert.applyChangelogAggregateRetract(state, envelope, spec.keys, aggs)
                }
                store.writeBuckets(newTouched, spec.distKeys, touched, batchId,
                  appliedBatch = Some(ledgerToken -> batchId))
              }
          })

          // MV refresh. Incremental (bucket-local) ONLY when facts and
          // dimension share the movie_id bucket space — otherwise the
          // per-bucket join would see partial fact sets. Falls back to
          // a full recompute when co-location wasn't requested.
          val ticketsSpec = tables.find(_.name == "tickets")
          val moviesSpec = tables.find(_.name == "movies")
          val coLocated = ticketsSpec.exists(_.distKeys == Seq("movie_id")) &&
            moviesSpec.exists(_.distKeys == Seq("movie_id"))
          def emptyOf(s: StructType) =
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
          val touchedMv =
            if (coLocated)
              (touchedByTable.getOrElse("tickets", Nil) ++
                touchedByTable.getOrElse("movies", Nil)).distinct
            else if (touchedByTable.valuesIterator.exists(_.nonEmpty))
              0 until buckets
            else Nil
          // Same replay guard; the MV is a pure function of staging
          // state so re-deriving it is content-idempotent, but skipping
          // avoids a redundant version (and the guard still lets the MV
          // catch up when the crash fell between staging and MV commit).
          val mvReplayed = mvStore.lastAppliedBatch(ledgerToken).exists(_ >= batchId)
          if (touchedMv.nonEmpty && !mvReplayed &&
              ticketsSpec.nonEmpty && moviesSpec.nonEmpty) {
            // a side with no committed rows still yields (empty) MV
            // buckets — an emptied dimension must retract its MV rows
            val tickets = stores("tickets").readBuckets(touchedMv)
              .getOrElse(emptyOf(ticketsSpec.get.schema))
            val movies = stores("movies").readBuckets(touchedMv)
              .getOrElse(emptyOf(moviesSpec.get.schema))
            mvStore.writeBuckets(
              Revenue.movieRevenue(tickets, movies, statuses),
              Seq("movie_id"), touchedMv, batchId,
              appliedBatch = Some(ledgerToken -> batchId))
          }
        } finally { cached.unpersist(); () }
      }
      .start()
    new Handle(query, stores, mvStore)
  }

  /** Every table's touched buckets from ONE job over the batch: each
    * row yields the bucket of its after- and before-image under its
    * own table's schema and distribution keys. Both sides count — an
    * update that moves a row across buckets must touch source AND
    * target bucket. The bucket expressions have writeBuckets' bare-
    * column shape (xxhash64(k1, k2) != xxhash64(struct(k1, k2))).
    * Partitions deduplicate their own (table, bucket) pairs, so no
    * shuffle (and no second job) is needed. */
  private def touchedBuckets(spark: SparkSession, batch: DataFrame, tables: Seq[TableSpec],
                             stores: Map[String, BucketedStateStore]): Map[String, Seq[Int]] = {
    import spark.implicits._
    val sides = for (spec <- tables; side <- Seq("after", "before")) yield {
      val row = from_json(col(side), spec.schema)
      when(col("table") === spec.name && row.isNotNull,
        stores(spec.name).bucketOf(spec.distKeys.map(row.getField)))
    }
    val pairs = batch.select(col("table"), explode(array(sides: _*)).as("b"))
      .filter(col("b").isNotNull)
      .as[(String, Int)].mapPartitions(_.toSet.iterator)
      .collect().toSet
    tables.map(t => t.name -> pairs.collect { case (n, b) if n == t.name => b }.toSeq.sorted).toMap
  }

  /** Run `tasks` at once, one pool thread each, and return only when
    * all have finished; the first failure is rethrown after that, so
    * no task outlives the call. Each thread carries the calling (stream)
    * thread's Spark local properties and active session, so the
    * stream's job group, which `query.stop()` cancels, covers the
    * tasks' jobs too. */
  private def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.nonEmpty) {
      val pool = GraftBridge.daemonPool(tasks.size, "graft-cdc-apply")
      val first = new AtomicReference[Throwable]
      try {
        tasks.map(t => GraftBridge.withThreadLocalCaptured(SparkSession.active, pool) {
          try t() catch { case e: Throwable => first.compareAndSet(null, e); throw e }
        }).foreach(f => scala.util.Try(f.join()))
      } finally pool.shutdown()
      Option(first.get).foreach(e => throw e)
    }
}

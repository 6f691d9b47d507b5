package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Latest-row-per-key materialization — the engine's stand-in for the
  * reference's Fluss primary-key "staging" tables
  * (`flink-cdc/sql/tickets-cdc.sql:23-37` `PRIMARY KEY ... NOT ENFORCED`)
  * and Paimon's `'merge-engine'='deduplicate'` sink
  * (`flink-gen.sh:118-142`).
  *
  * Batch path: a single aggregation with `max_by` over a struct
  * ordering — partial (map-side) combine, ONE shuffle carrying only the
  * per-partition winners. (With a struct payload the planner picks
  * SortAggregate — hash agg needs fixed-width buffers — but the partial
  * phase still shrinks the exchange to ≤ keys×partitions rows.) The
  * `row_number() OVER` formulation is strictly worse at scale: it
  * shuffles EVERY row, then sorts; a hot key lands on one task with no
  * partial reduction. */
object Upsert {

  /** Keep the row with the greatest `ord` tuple per `keys` group.
    * `ord` must be a total order within a key (include a unique
    * tie-breaker column). */
  def latestByKey(df: DataFrame, keys: Seq[String], ord: Seq[String]): DataFrame = {
    val valueCols = df.columns.filterNot(keys.contains).toSeq
    val ordStruct = struct(ord.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), ordStruct).as("__latest"))
      .select(keys.map(col) ++ valueCols.map(c => col(s"__latest.$c")): _*)
      // restore the caller's column order
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Paimon `'merge-engine'='first-row'`: keep the FIRST version ever
    * seen per key (immutable-fact ingestion — later duplicates of an
    * event id are noise, never corrections; the dual of
    * [[latestByKey]]'s deduplicate engine). Same single-shuffle
    * argmin-by-struct shape; the (ord) total order makes ties
    * deterministic. */
  def firstByKey(df: DataFrame, keys: Seq[String], ord: Seq[String]): DataFrame = {
    val valueCols = df.columns.filterNot(keys.contains).toSeq
    val ordStruct = struct(ord.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(valueCols.map(col): _*), ordStruct).as("__first"))
      .select(keys.map(col) ++ valueCols.map(c => col(s"__first.$c")): _*)
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Apply a changelog batch onto a materialized state table (both plain
    * row DataFrames / envelope DataFrames) and return the new state.
    *
    * Semantics of the reference's upsert sink (`tickets-cdc.sql:68-77`
    * `INSERT INTO <pk-table> SELECT ...`): per key, the newest event
    * wins; a delete removes the key. Existing state participates as a
    * timestamp −∞ pseudo-insert, so replay is idempotent.
    *
    * Equal-`ts_ms` ties resolve by the envelope's `seq` column when the
    * source provides one (Debezium LSN / Kafka offset / file row
    * number), else by a content hash of the event. Both are pure
    * functions of the DATA — the previous `monotonically_increasing_id`
    * tie-break depended on file/partition layout, so a replay could
    * crown a different winner and break the idempotence the recovery
    * path promises.
    */
  def applyChangelog(state: Option[DataFrame], changes: DataFrame,
                     keys: Seq[String]): DataFrame = {
    val rowType = changes.schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val keyOf = (side: String) => struct(keys.map(k => col(s"$side.$k")): _*)
    val contentSeq = xxhash64(col("op"), col("before"), col("after"))
    val seq =
      if (changes.columns.contains("seq")) coalesce(col("seq"), contentSeq)
      else contentSeq
    val normalized = changes.select(
      // NB struct(after.k) is non-null even when `after` is — guard on
      // the envelope side's own nullity, not the extracted fields'.
      when(col("after").isNotNull, keyOf("after"))
        .otherwise(keyOf("before")).as("__k"),
      col("ts_ms"), col("op"), col("after"),
      seq.cast("long").as("__seq"))
    val stateAsEvents = state.map { s =>
      s.select(struct(keys.map(col): _*).as("__k"),
        lit(Long.MinValue).as("ts_ms"), lit(ChangeEvent.OpCreate).as("op"),
        struct(rowType.fieldNames.toSeq.map(col): _*).as("after"),
        lit(Long.MinValue).as("__seq"))
    }
    val all = stateAsEvents.fold(normalized)(_.unionByName(normalized))
    latestByKey(all, Seq("__k"), Seq("ts_ms", "__seq"))
      .filter(col("op") =!= ChangeEvent.OpDelete)
      .select(col("after.*"))
  }

  /** Paimon `'merge-engine'='partial-update'` analog (the sibling of
    * the reference's `'merge-engine'='deduplicate'`,
    * `flink-gen.sh:118-142`): per key and per VALUE COLUMN, the latest
    * non-null value wins — NULLs never overwrite, so sparse updates
    * from different sources assemble one wide row per key.
    *
    * Same one-shuffle partial-aggregated shape as [[latestByKey]]:
    * each column is a `max_by` whose ordering is nulled where the
    * value is null (Spark's max_by skips null orderings), so the
    * exchange carries per-partition winners only. `ord` columns must
    * be non-null and totally ordered within a key. */
  def partialUpdate(df: DataFrame, keys: Seq[String], ord: Seq[String]): DataFrame = {
    val valueCols = df.columns.filterNot(keys.contains).toSeq
    val ordStruct = struct(ord.map(col): _*)
    val aggs = valueCols.map(c =>
      max_by(col(c), when(col(c).isNotNull, ordStruct)).as(c))
    df.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Incremental [[partialUpdate]]: fold a new batch onto materialized
    * state. With batches applied in `ord` order (the merge-engine's
    * sequence-field assumption), the folded state equals the one-shot
    * [[partialUpdate]] over the full history — spec-asserted. */
  def applyPartial(state: Option[DataFrame], batch: DataFrame,
                   keys: Seq[String], ord: Seq[String]): DataFrame =
    partialUpdate(state.fold(batch)(_ unionByName batch), keys, ord)

  /** Paimon `'merge-engine'='aggregation'` analog: per key, each value
    * column folds under a declared aggregate function. `aggs` maps
    * column → one of sum | count | min | max | xor (the associative cores —
    * exactly the functions whose per-batch pre-aggregation + state
    * re-merge equals a one-shot aggregate, which is what makes the
    * merge-engine incremental). Call with `state = None` to build
    * initial state, then fold batches via the same call; spec-asserted
    * equal to the one-shot group-by whatever the batch split.
    *
    * Scale shape: each batch pre-aggregates map-side before its
    * shuffle; the state merge shuffles one row per touched key. */
  def applyAggregate(state: Option[DataFrame], batch: DataFrame,
                     keys: Seq[String], aggs: Seq[(String, String)]): DataFrame = {
    def aggCols(merge: Boolean) = aggs.map { case (c, fn) =>
      (fn match {
        case "count" => if (merge) sum(col(c)) else count(col(c))
        case "sum"   => sum(col(c))
        case "min"   => min(col(c))
        case "max"   => max(col(c))
        case "xor"   => expr(s"bit_xor($c)") // associative+commutative like the rest
        case other   => throw new IllegalArgumentException(
          s"applyAggregate: unsupported merge function '$other' (sum|count|min|max|xor)")
      }).as(c)
    }
    val pre = batch.groupBy(keys.map(col): _*)
      .agg(aggCols(merge = false).head, aggCols(merge = false).tail: _*)
    state.fold(pre)(s => s.unionByName(pre)
      .groupBy(keys.map(col): _*)
      .agg(aggCols(merge = true).head, aggCols(merge = true).tail: _*))
  }

  /** [[applyPartial]] driven by a changelog envelope batch (op, ts_ms,
    * [seq,] before, after) — the streaming-sink form: after-rows merge
    * per column under (ts_ms, seq) order, existing state participates
    * at −∞ like [[applyChangelog]]. Deletes are REJECTED loudly:
    * Paimon's partial-update engine likewise throws on delete records
    * unless sequence groups / `ignore-delete` are configured — a
    * silently-dropped delete would leave a row the source removed. The
    * check is one count over the (caller-cached) envelope batch. */
  def applyChangelogPartial(state: Option[DataFrame], changes: DataFrame,
                            keys: Seq[String]): DataFrame = {
    val nDeletes = changes.filter(col("op") === ChangeEvent.OpDelete).count()
    if (nDeletes > 0) throw new IllegalStateException(
      s"partial-update merge engine received $nDeletes delete event(s); " +
        "partial-update cannot retract merged columns (Paimon rejects " +
        "deletes for partial-update tables without sequence groups) — " +
        "route deletes to a deduplicate-engine table or drop them upstream")
    val rowType = changes.schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val contentSeq = xxhash64(col("op"), col("before"), col("after"))
    val seq =
      if (changes.columns.contains("seq")) coalesce(col("seq"), contentSeq)
      else contentSeq
    val flat = changes
      .filter(col("op") =!= ChangeEvent.OpDelete && col("after").isNotNull)
      .select(col("after.*"), col("ts_ms").as("__ts"), seq.cast("long").as("__seq"))
    val stateRows = state.map(_
      .withColumn("__ts", lit(Long.MinValue))
      .withColumn("__seq", lit(Long.MinValue))
      .select(flat.columns.map(col).toSeq: _*))
    partialUpdate(stateRows.fold(flat)(_ unionByName flat), keys,
        Seq("__ts", "__seq"))
      .select(rowType.fieldNames.toSeq.map(col): _*)
  }

  /** [[applyAggregate]] driven by a changelog envelope batch — the
    * streaming-sink form for APPEND streams (op='c'): each batch's
    * after-rows pre-aggregate and fold into state. Updates/deletes are
    * not consumed: aggregation merge engines need retraction inputs
    * ('+U/-U' pairs) to subtract, which the append-only contract —
    * same as Paimon's aggregation engine without changelog-producer —
    * excludes by construction. */
  def applyChangelogAggregate(state: Option[DataFrame], changes: DataFrame,
                              keys: Seq[String],
                              aggs: Seq[(String, String)]): DataFrame =
    applyAggregate(state,
      changes.filter(col("op") === ChangeEvent.OpCreate && col("after").isNotNull)
        .select(col("after.*")),
      keys, aggs)

  /** A `op, before, after` changelog flattened to SIGNED rows: every
    * after-image (c/u) with weight `__w` = +1, every before-image
    * (u/d) with `__w` = −1 — the retraction algebra every signed fold
    * (the retractable aggregate, the MV refreshes) consumes. */
  def signedRows(changes: DataFrame): DataFrame =
    changes
      .filter(col("op") =!= ChangeEvent.OpDelete && col("after").isNotNull)
      .select(col("after.*")).withColumn("__w", lit(1L))
      .unionByName(changes
        .filter(col("op") =!= ChangeEvent.OpCreate && col("before").isNotNull)
        .select(col("before.*")).withColumn("__w", lit(-1L)))

  /** Retractable [[applyChangelogAggregate]] — consumes the FULL
    * changelog (c/u/d), the Paimon aggregation engine with
    * `changelog-producer` retraction inputs: an update subtracts its
    * before-image and adds its after-image; a delete subtracts. Only
    * sum and count are supported — they are the invertible folds;
    * min/max cannot un-see a retracted extremum (Paimon likewise
    * ignores or rejects retractions for non-invertible functions), so
    * they are rejected at the call.
    *
    * Shape: each event flattens to signed rows (after-image weight +1,
    * before-image weight −1), pre-aggregates map-side per key —
    * `sum(c·w)` / `sum(w where c not null)` — and merges into state by
    * per-column sum: one shuffle of per-partition partials, state rows
    * only for touched keys. A key whose history fully retracts keeps
    * its zero-valued row (remove-on-zero is a policy choice, not an
    * algebraic one). Replay safety comes from the caller's batch
    * ledger ([[graft.streaming.BucketedStateStore.lastAppliedBatch]]),
    * not from this fold — unlike the idempotent engines, re-applying a
    * batch here double-counts by construction. */
  def applyChangelogAggregateRetract(state: Option[DataFrame], changes: DataFrame,
                                     keys: Seq[String],
                                     aggs: Seq[(String, String)]): DataFrame = {
    val bad = aggs.collect { case (c, fn) if fn != "sum" && fn != "count" => s"$c:$fn" }
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"retractable aggregation supports sum|count only (not invertible: ${bad.mkString(",")})")
    val signedAggs = aggs.map { case (c, fn) =>
      (fn match {
        case "sum"   => sum(col(c) * col("__w"))
        case "count" => sum(when(col(c).isNotNull, col("__w")).otherwise(0L))
      }).as(c)
    }
    val pre = signedRows(changes)
      .groupBy(keys.map(col): _*).agg(signedAggs.head, signedAggs.tail: _*)
    val mergeAggs = aggs.map { case (c, _) => sum(col(c)).as(c) }
    state.fold(pre)(s => s.unionByName(pre)
      .groupBy(keys.map(col): _*).agg(mergeAggs.head, mergeAggs.tail: _*))
  }

  /** Typed changelog envelope for the streaming materializer. */
  final case class Envelope[T](op: String, tsMs: Long, before: Option[T], after: Option[T])

  /** Continuous latest-by-key materialization over a changelog stream:
    * `flatMapGroupsWithState` in update mode emits, per trigger, the new
    * current row for every key that changed — exactly the changelog a
    * Fluss PK table produces for downstream readers
    * (reference `revenue-analytics.sql:62-63` reads staging tables as
    * updating streams). State is one row per key (bounded by key
    * cardinality, not stream length). */
  def materializeStream[K, T](events: Dataset[Envelope[T]], key: Envelope[T] => K)(
      implicit ke: Encoder[K], se: Encoder[(Long, Option[T])],
      oe: Encoder[(K, Option[T])]): Dataset[(K, Option[T])] = {
    events.groupByKey(key)
      .flatMapGroupsWithState[(Long, Option[T]), (K, Option[T])](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (k, evs, state: GroupState[(Long, Option[T])]) =>
          val current = state.getOption.getOrElse((Long.MinValue, None: Option[T]))
          val newest = evs.foldLeft(current) { case (acc @ (ts, _), e) =>
            if (e.tsMs >= ts)
              (e.tsMs, if (e.op == ChangeEvent.OpDelete) None else e.after)
            else acc
          }
          state.update(newest)
          Iterator.single((k, newest._2))
      }
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change data feed between lake snapshots — the Paimon incremental
  * scan / Delta CDF / Iceberg changelog surface: given any two
  * committed versions of a PK table, derive the +I/+U/-D changelog
  * that transforms one into the other. This closes the loop with
  * [[graft.cdc.Upsert]]: `apply(v1, changeFeed(v1, v2)) == v2` by
  * construction (the spec pins it), so a downstream consumer can
  * resume from any snapshot and catch up incrementally instead of
  * re-reading the full table — the lake-side answer to the CDC
  * source's WAL tail.
  *
  * Envelope: (op ∈ c|u|d, before, after) with before/after as STRUCTS
  * of the full row — [[graft.cdc.Upsert.applyChangelog]]'s input shape
  * directly (add `ts_ms` and replay; `to_json` either side for the
  * Debezium wire form).
  *
  * Scale shape: ONE full outer equi-join on the primary key between
  * the two snapshots (both sides pruned to the compared columns),
  * change detection by row-struct equality — no window, no sort, no
  * driver state; unchanged keys drop before anything else flows. At
  * 100 TB the join co-locates when both snapshots share the store's
  * bucketing ([[BucketedStateStore]] layouts do). */
object ChangeFeed {

  /** Changelog from snapshot `from` to snapshot `to` of `store`,
    * keyed on `keys` — over either versioned layout (flat `v=<n>`
    * store or partitioned manifest log). */
  def between(store: SnapshotReads, from: Long, to: Long,
              keys: Seq[String]): DataFrame = {
    val a = store.read(from).getOrElse(
      throw new IllegalArgumentException(s"version $from not committed"))
    val b = store.read(to).getOrElse(
      throw new IllegalArgumentException(s"version $to not committed"))
    diff(a, b, keys)
  }

  /** The feed of ONE committed version, shared by the streaming
    * source ([[org.apache.spark.sql.graft.ChangeFeedSourceProvider]])
    * and the batch range surface ([[tableChanges]]): the earliest
    * retained snapshot emits whole as inserts (`c`, before NULL — the
    * CDC initial-load phase); every later version emits the snapshot
    * diff against its PARENT — the recorded commit anchor when the
    * layout keeps one (manifest logs), else the listing predecessor.
    * A recorded parent that has been EXPIRED while an older snapshot
    * is retained (a tag-pinned retention hole) fails loudly: diffing
    * against the wrong predecessor would silently re-derive a
    * different changeset. A pure function of the immutable snapshots —
    * the replay determinism both surfaces need. Output: `op, version,
    * before, after`. */
  def versionFeed(store: SnapshotReads, ver: Long, keys: Seq[String],
                  row: org.apache.spark.sql.types.StructType,
                  persisted: Boolean = true): DataFrame = {
    // compaction, metadata and ref commits, and any commit that kept
    // its parent's exact file set: the empty feed without a diff join
    if (store.provablyEmptyFeed(ver)) return emptyFeed(row)
    val vs = store.versions
    // persisted changelog files ('changelog-producer'='input'): serve
    // the memoized form — same rows, no diff join. `persisted=false`
    // is the PRODUCER's own computation path (never recurses).
    if (persisted) store.persistedFeed(ver, keys, row) match {
      case Some(df) => return df
      case None => ()
    }
    val pred = store.parentOf(ver) match {
      case Some(p) if vs.contains(p) => Some(p)
      case Some(p) if vs.exists(_ < ver) =>
        // a true retention HOLE: the parent expired but an OLDER
        // snapshot is still retained (tag-pinned) — diffing against
        // it would silently re-derive a different changeset
        throw new IllegalStateException(
          s"graft-changefeed: snapshot v=$ver was committed against " +
            s"v=$p, which expire_snapshots has dropped while older " +
            "snapshots remain retained — the diff cannot be re-derived; " +
            "drop the pinned tag or restart from a snapshot at or after " +
            s"v=$ver")
      case Some(_) =>
        // parent expired and NOTHING older is retained: v is the
        // earliest survivor of routine trimming — the CDC initial-load
        // phase (whole snapshot as inserts), exactly like a fresh table
        None
      case None => vs.filter(_ < ver).lastOption
    }
    def initialLoad: DataFrame =
      store.read(ver).get.select(
        lit("c").as("op"), lit(ver).as("version"),
        lit(null).cast(row).as("before"),
        struct(row.fieldNames.map(col).toSeq: _*).as("after"))
    pred match {
      case None => initialLoad
      // a diff against a provably EMPTY parent state (the CREATE
      // version before the first bulk load) IS the initial-load
      // shape: diff(∅, S) emits every row of S as an insert with a
      // NULL before — the resolved read alone (exchange-free where
      // the layout provides it), instead of a diff join or the
      // one-pass diff's key shuffle + two-image aggregate
      case Some(prev) if store.emptyVersion(prev) => initialLoad
      case Some(prev) =>
        // one-pass diff when the layout proves the shape (manifest
        // tables, purely-additive commit): one scan + one key shuffle
        // instead of two snapshot resolutions + a full-outer join —
        // same rows, because it is the resolved read's own pick/kill
        // law evaluated for both states (MorDeletes.versionDiff;
        // PkFastDiffSpec, MorFastDiffSpec, VersionDiffSpec)
        store.fastDiff(prev, ver, keys)
          .getOrElse(between(store, prev, ver, keys))
          .select(col("op"), lit(ver).as("version"),
            col("before"), col("after"))
    }
  }

  /** BATCH change feed over a version RANGE — Delta's `table_changes`
    * next to the stream: the per-version feeds of every retained
    * version in `(from, to]`, concatenated. By construction,
    * `applyChangelog(snapshot(from), tableChanges(from, to)) ==
    * snapshot(to)` — a downstream consumer reconciles any two
    * snapshots without re-reading the full table, and the result is
    * IDENTICAL to what the streaming source would emit over the same
    * range (same [[versionFeed]], same hole detection). One
    * distributed union of per-version equi-join diffs; nothing
    * driver-sized. */
  def tableChanges(store: SnapshotReads, from: Long, to: Long,
                   keys: Seq[String]): DataFrame = {
    require(from <= to, s"tableChanges: from=$from must be <= to=$to")
    val vs = store.versions
    require(vs.nonEmpty, "tableChanges: no committed snapshots")
    val covered = vs.filter(v => v > from && v <= to)
    // manifest logs serve the schema from metadata (zero IO); the flat
    // store reads one parquet footer
    val row = store.rowSchema
    covered.map(versionFeed(store, _, keys, row))
      .reduceOption(_ unionAll _)
      .getOrElse(emptyFeed(row))
  }

  /** The empty change feed with the envelope schema for `row`. */
  private def emptyFeed(
      row: org.apache.spark.sql.types.StructType): DataFrame =
    org.apache.spark.sql.SparkSession.active.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("before", row),
        org.apache.spark.sql.types.StructField("after", row))))

  /** [[between]] on two already-loaded snapshots. */
  def diff(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = b.columns.toSeq
    require(keys.forall(cols.contains), s"keys $keys must exist in the snapshot")
    val keyCols = keys.map(col)
    val l = a.select(struct(cols.map(col): _*).as("__before"))
      .select(col("__before") +: keys.map(k => col(s"__before.$k").as(k)): _*)
    val r = b.select(struct(cols.map(col): _*).as("__after"))
      .select(col("__after") +: keys.map(k => col(s"__after.$k").as(k)): _*)
    l.join(r, keys, "full_outer")
      .withColumn("op",
        when(col("__before").isNull, lit("c"))
          .when(col("__after").isNull, lit("d"))
          .when(col("__before") =!= col("__after"), lit("u")))
      .filter(col("op").isNotNull)   // unchanged keys drop here
      .select(col("op"),
        col("__before").as("before"),
        col("__after").as("after"))
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming CHANGE FEED over a versioned lake table (either
  * [[graft.streaming.SnapshotReads]] layout) — the "downstream job
  * tails the tiered table" surface (reference `deploy:318-358`) for
  * the snapshot layouts that a single-directory file stream cannot
  * see:
  *
  *  - the OFFSET is the committed snapshot version (a pure fact of the
  *    directory layout), checkpointed by Spark's own offset log;
  *  - each micro-batch covering versions `(start, end]` emits the
  *    PER-VERSION change feeds, concatenated with a `version` column:
  *    the earliest snapshot as `+I` rows, every later one as the
  *    [[graft.streaming.ChangeFeed]] diff against its predecessor.
  *    Per-version granularity (not one net diff over the range) makes
  *    the stream's content independent of trigger timing: however the
  *    micro-batches slice the version axis, the concatenation equals
  *    the batch-derived feed — and a checkpoint replay re-derives the
  *    exact same rows from the immutable snapshots (exactly-once,
  *    spec-pinned).
  *
  * This is the V1 streaming `Source` shape (the Delta-source pattern):
  * `getBatch` RETURNS the derived DataFrame — the diff stays a
  * distributed join planned by Catalyst, with nothing materialized on
  * the driver. Schema: `op STRING, version BIGINT, before STRUCT<row>,
  * after STRUCT<row>` — [[graft.cdc.Upsert.applyChangelog]]'s envelope
  * with the commit version attached.
  *
  * Options: `path` (the table's snapshot directory), `keys`
  * (comma-separated primary-key columns the diff joins on),
  * `maxVersionsPerTrigger` (optional pacing — cap how many snapshot
  * versions one micro-batch covers; content-neutral because the feed
  * is per-version). */
final class ChangeFeedSourceProvider
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-changefeed"

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), ChangeFeedSource.feedSchema(
      ChangeFeedSource.rowSchema(sqlContext, parameters)))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new ChangeFeedSource(sqlContext, parameters, Some(metadataPath))
}

private[graft] object ChangeFeedSource {

  def feedSchema(row: StructType): StructType = StructType(Seq(
    StructField("op", StringType, nullable = true),
    StructField("version", LongType, nullable = false),
    StructField("before", row, nullable = true),
    StructField("after", row, nullable = true)))

  /** The snapshot row schema (append-stable across commits of a PK
    * table) — metadata-served for manifest logs, one parquet footer
    * for the flat store. */
  def rowSchema(sqlContext: SQLContext,
                parameters: Map[String, String]): StructType = {
    val store = storeFor(sqlContext, parameters)
    if (store.versions.isEmpty) throw new IllegalArgumentException(
      s"graft-changefeed: '${parameters("path")}' has no committed " +
        "v=<n> snapshots to stream")
    store.rowSchema
  }

  /** The snapshot reader for `path`, as [[graft.streaming.SnapshotReads.of]]
    * resolves it (the `branch` option selects a manifest BRANCH
    * sub-log — the WAP audit-as-a-stream surface) — the feed logic
    * above is layout-agnostic. */
  def storeFor(sqlContext: SQLContext,
               parameters: Map[String, String]): graft.streaming.SnapshotReads = {
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-changefeed: 'path' option is required"))
    val branch = parameters.get("branch").map(_.trim).filter(_.nonEmpty)
    graft.streaming.SnapshotReads.of(sqlContext.sparkSession, path, branch)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-changefeed: '$path' has no committed snapshots to " +
          "stream"))
  }

  def keysOf(parameters: Map[String, String]): Seq[String] =
    parameters.getOrElse("keys", throw new IllegalArgumentException(
        "graft-changefeed: 'keys' option is required (primary-key " +
          "columns the diff joins on)"))
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
}

private[graft] final class ChangeFeedSource(
    sqlContext: SQLContext,
    parameters: Map[String, String],
    metadataPath: Option[String] = None) extends Source {

  private val store = ChangeFeedSource.storeFor(sqlContext, parameters)
  private val keys = ChangeFeedSource.keysOf(parameters)
  private val row = ChangeFeedSource.rowSchema(sqlContext, parameters)
  require(keys.forall(row.fieldNames.contains),
    s"graft-changefeed: keys $keys must exist in the snapshot schema " +
      s"(${row.fieldNames.mkString(", ")})")

  override val schema: StructType = ChangeFeedSource.feedSchema(row)

  /** Pacing (`maxVersionsPerTrigger`): cap how many snapshot versions
    * one micro-batch covers. A long-idle stream that wakes to 500
    * committed versions otherwise derives all 500 diffs in ONE batch —
    * a giant union that spikes memory and holds the trigger for its
    * whole runtime. Pacing slices the catch-up into bounded batches;
    * per-version feed granularity makes the slicing content-neutral
    * (the concatenation is identical however the axis is cut). */
  private val maxVersionsPerTrigger: Option[Long] =
    parameters.get("maxVersionsPerTrigger").map { v =>
      val n = v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft-changefeed: maxVersionsPerTrigger must be a positive " +
          s"integer, got '$v'"))
      require(n > 0, "graft-changefeed: maxVersionsPerTrigger must be > 0")
      n
    }

  /** Durable pacing floor (`_graft_pace_floor` under the source's
    * checkpoint metadata dir): the highest offset this source ever
    * OFFERED. A paced source must never offer an offset below the
    * engine's committed one — on a CLEAN restart Spark replays no
    * batch before calling getOffset, so an in-memory-only floor
    * resets to earliest-1, the engine treats the low offer as new
    * data, and subsequent paced batches re-deliver versions already
    * emitted before the restart. Persisting the floor per offer
    * (one tiny atomic file write per trigger) makes the first
    * post-restart offer resume from the checkpoint: offered >=
    * logged >= committed always holds, and a crash between the
    * floor write and Spark's own offset log only widens one
    * catch-up batch (content stays exactly-once because batches
    * always span (committed, offered]). Checkpoints from builds
    * before this floor existed should restart fresh. */
  // The floor lives on the CHECKPOINT's filesystem (the Hadoop Path
  // API the checkpoint itself uses) — a local-path shortcut would
  // silently park the floor on the driver's local disk for hdfs://
  // or s3a:// checkpoints, and the restart-duplicate bug would return
  // on exactly the deployments that restart on different nodes.
  private val floorPath: Option[(org.apache.hadoop.fs.FileContext,
      org.apache.hadoop.fs.Path)] =
    metadataPath.filter(_ => maxVersionsPerTrigger.isDefined).map { mp =>
      val p = new org.apache.hadoop.fs.Path(mp, "_graft_pace_floor")
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri,
        sqlContext.sparkSession.sessionState.newHadoopConf())
      (fc, p)
    }

  private def readFloor(): Option[Long] = floorPath.flatMap { case (fc, p) =>
    if (!fc.util().exists(p)) None
    else {
      val in = fc.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
      finally in.close()
    }
  }

  private def writeFloor(v: Long): Unit = floorPath.foreach { case (fc, p) =>
    // temp + FileContext rename(OVERWRITE) — the atomic-replace Spark's
    // own checkpoint file manager relies on (local + HDFS; object
    // stores PUT atomically on close). A torn floor only parses to
    // None, which degrades to the legacy behavior, never to wrong
    // content (batches span (committed, offered] regardless).
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      p.getName + "." + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      org.apache.hadoop.fs.Options.CreateOpts.createParent())
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // highest version offered to (or delivered by) the engine — seeded
  // from the durable floor on restart, re-seeded from the start/end
  // offsets in getBatch (uncommitted-batch replay), advanced and
  // persisted by getOffset
  @volatile private var paceFloor: Option[Long] = readFloor()

  override def getOffset: Option[Offset] =
    store.latestVersion.map { latest =>
      maxVersionsPerTrigger match {
        case Some(m) =>
          // first trigger of a FRESH stream starts just below the
          // earliest retained version, so the initial load is paced
          val from = paceFloor
            .orElse(store.versions.headOption.map(_ - 1L))
            .getOrElse(latest)
          val end = math.min(latest, from + m)
          if (!paceFloor.contains(end)) { paceFloor = Some(end); writeFloor(end) }
          LongOffset(end)
        case None => LongOffset(latest)
      }
    }

  private def versionOf(o: Offset): Long = o match {
    case LongOffset(v) => v
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json().trim.toLong
  }

  /** The feed of ONE committed version — the SHARED derivation
    * ([[graft.streaming.ChangeFeed.versionFeed]]), so the stream and
    * the batch `tableChanges` surface can never diverge (earliest
    * retained snapshot as inserts, later versions as the diff against
    * their RECORDED parent, tag-pinned retention holes failing
    * loudly). */
  private def versionFeed(ver: Long): DataFrame =
    graft.streaming.ChangeFeed.versionFeed(store, ver, keys, row)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val startV = start.map(versionOf)
    val endV = versionOf(end)
    // uncommitted-batch replay calls getBatch before any getOffset:
    // seed the pacing floor from BOTH offsets (start included — a
    // batch's end can sit below its start when a pre-floor
    // checkpoint's first post-restart offer undershot the committed
    // offset) so the next offer continues from the checkpoint
    val floorSeed = math.max(startV.getOrElse(endV), endV)
    if (paceFloor.forall(_ < floorSeed)) paceFloor = Some(floorSeed)
    val retained = store.versions
    // Replay determinism is bounded by snapshot retention (the
    // Iceberg/Delta convention): versionFeed derives each version's
    // diff against its predecessor IN THE CURRENT LISTING, so once
    // expire_snapshots has dropped every version <= the checkpointed
    // start offset, a replay would re-derive DIFFERENT rows (the
    // earliest survivor replays as whole-table '+I' inserts instead of
    // its original diff). Fail loudly instead of silently diverging.
    startV.foreach { s =>
      if (!retained.headOption.exists(_ <= s))
        throw new IllegalStateException(
          s"graft-changefeed: checkpointed start offset v=$s precedes the " +
            s"earliest retained snapshot (${retained.headOption.fold("none")(
              h => s"v=$h")}) — expire_snapshots dropped the versions this " +
            "replay needs; restart the stream from a fresh checkpoint " +
            "(exactly-once replay is bounded by snapshot retention)")
    }
    val versions = retained
      .filter(v => startV.forall(v > _) && v <= endV)
    val batch = versions.map(versionFeed).reduceOption(_ unionAll _)
      .getOrElse(sqlContext.sparkSession.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](), schema))
    // V1 source contract: the returned frame must be STREAMING-tagged;
    // the plan stays lazy (toRdd defers the distributed diff to batch
    // execution) — the Delta-source wrapping pattern
    org.apache.spark.sql.GraftBridge.asStreamingDataFrame(batch)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

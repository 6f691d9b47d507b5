package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one interface of a versioned table, implemented by BOTH
  * versioned layouts: the flat `v=<n>` directory store
  * ([[StateStore]]) and the partitioned manifest log
  * ([[graft.catalog.ManifestSnapshotReads]]). The change feed, its
  * streaming source and the snapshot-lifecycle procedures all run over
  * it unchanged; [[SnapshotReads.of]] decides which layout a table
  * directory holds. What a layout can prove from metadata alone
  * ([[provablyEmptyFeed]], [[emptyVersion]], [[fastDiff]]) lets the
  * feed skip work; every default is "unknown", so the feed derives the
  * audited diff. */
trait SnapshotReads {
  /** Retained snapshot versions, ascending. */
  def versions: Seq[Long]
  def latestVersion: Option[Long] = versions.lastOption
  /** Snapshot `version` as a DataFrame; None if never committed or
    * expired. */
  def read(version: Long): Option[DataFrame]
  /** Commit wall-clock of `version` (epoch ms); None if it is not
    * retained. */
  def commitMs(version: Long): Option[Long]
  /** The snapshot `version` was committed AGAINST, when the layout
    * records it (manifest logs do) — the change feed's exact diff
    * anchor, hole-proof under tag-pinned retention. None = unknown
    * (flat `v=<n>` stores, pre-parent manifests): the feed falls back
    * to the listing predecessor. */
  def parentOf(version: Long): Option[Long] = None
  /** Non-destructive rollback: re-commit snapshot `version`'s content
    * as latest+1; returns the new version. */
  def rollbackTo(version: Long): Long
  /** Drop all but the newest `keep` snapshots, never a pinned one;
    * manifest logs also garbage-collect the data files no retained
    * snapshot references. */
  def expire(keep: Int, pinned: Set[Long]): Unit
  /** Is `version`'s feed provably EMPTY from metadata alone? The one
    * no-op predicate of the change feed ([[ChangeFeed.versionFeed]])
    * and the persisted changelog
    * ([[graft.catalog.ChangelogProducer]]): both then emit the empty
    * feed with no Spark job. false = unknown, derive normally. */
  def provablyEmptyFeed(version: Long): Boolean = false
  /** Is snapshot `version` provably EMPTY (zero data files) from
    * metadata alone? A diff AGAINST an empty state is the initial-load
    * shape (every row of the other side as an insert), so the change
    * feed can emit the resolved read directly — no diff join, no key
    * shuffle. false = unknown, derive normally. */
  def emptyVersion(version: Long): Boolean = false
  /** The snapshot ROW schema, preferably without data IO (manifest
    * logs hold the declared schema as metadata; the flat store falls
    * back to reading its earliest snapshot's parquet footer). */
  def rowSchema: org.apache.spark.sql.types.StructType =
    read(versions.headOption.getOrElse(throw new IllegalArgumentException(
      "no committed snapshots to derive a schema from"))).get.schema
  /** Version `ver`'s feed served from PERSISTED changelog files
    * ([[graft.catalog.ChangelogProducer]] — tables declaring
    * `'changelog-producer'='input'`), producing them on first read.
    * None = no persisted form (derive the diff as usual). */
  def persistedFeed(ver: Long, keys: Seq[String],
                    row: org.apache.spark.sql.types.StructType)
      : Option[DataFrame] = None
  /** ONE-PASS diff `from → to` when the layout can prove the shape
    * (manifest tables whose commit was purely additive, keyed by the
    * caller's `keys` identity — a PK table's only when they are its
    * key): the two-state resolved read
    * ([[graft.catalog.MorDeletes.versionDiff]]), `op, before, after`
    * rows from one scan + one key shuffle instead of two snapshot
    * resolutions + a full-outer join. None = not provable; the caller
    * derives via the audited two-snapshot diff. */
  def fastDiff(from: Long, to: Long, keys: Seq[String])
      : Option[DataFrame] = None
}

object SnapshotReads {
  /** The versioned reader of table directory `dir` — the ONE place
    * that decides the layout: the manifest log when the directory has
    * one (optionally a BRANCH sub-log of it), else the flat `v=<n>`
    * store when it holds committed versions, else None (a plain
    * table). */
  def of(spark: SparkSession, dir: String,
         branch: Option[String] = None): Option[SnapshotReads] =
    if (graft.catalog.ManifestSnapshotReads.isManifestVersioned(dir))
      Some(graft.catalog.ManifestSnapshotReads(spark, dir, branch))
    else if (StateStore.versionsOf(java.nio.file.Paths.get(dir)).isEmpty) None
    else {
      require(branch.isEmpty,
        s"'$dir': branches apply to manifest-versioned tables only")
      Some(new StateStore(spark, dir))
    }
}

/** Versioned parquet table state — the engine's stand-in for a Fluss
  * PK-table's key-value tablet plus its Paimon/Iceberg lake tier
  * (reference `'table.datalake.enabled'='true'`,
  * `flink-cdc/sql/tickets-cdc.sql:35-36`; tiering job `deploy:318-358`).
  *
  * Each commit writes `dir/v=<version>/` then the reader resolves the
  * max committed version — snapshot isolation without a table format
  * dependency. Version = streaming batchId, which makes `foreachBatch`
  * replay after failure idempotent (re-writing the same version is a
  * no-op overwrite): checkpoint + idempotent sink = the effective
  * exactly-once the reference configures
  * (`'execution.checkpointing.mode'='EXACTLY_ONCE'`, tickets-cdc.sql:3).
  *
  * This class and its companion are the only code that lists,
  * resolves, stamps or publishes the FLAT `v=<n>` layout; the catalog
  * reaches it through them. [[BucketedStateStore]] keeps its own
  * `v=<n>/__b=<b>` layout (listed by its `versionsDesc`, committed by
  * its `_graft_manifest`). */
final class StateStore(spark: SparkSession, dir: String)
    extends SnapshotReads {
  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
  private val base = new org.apache.hadoop.fs.Path(dir)

  private def path(version: Long): String =
    s"$dir/${StateStore.dirName(version)}"

  private def manifest(version: Long) =
    new org.apache.hadoop.fs.Path(path(version), StateStore.CommitManifest)

  /** All committed versions, ascending — the snapshot history that
    * time travel navigates. */
  def versions: Seq[Long] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.filter(_.isDirectory)
      .flatMap(s => StateStore.versionOf(s.getPath.getName))
      .sorted

  def read(): Option[DataFrame] =
    latestVersion.map(v => spark.read.parquet(path(v)))

  /** Time travel by version (the Paimon/Iceberg `VERSION AS OF`
    * feature): read snapshot `version` exactly; None if it was never
    * committed or has been [[expire]]d. */
  def read(version: Long): Option[DataFrame] =
    if (versions.contains(version)) Some(spark.read.parquet(path(version)))
    else None

  private def manifestText(version: Long): Option[String] = {
    val m = manifest(version)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Commit wall-clock of a version: the explicit timestamp the commit
    * stamped into the version's `_graft_commit` manifest (its FIRST
    * line). Filesystem mtime is only the LEGACY fallback (pre-manifest
    * stores): mtime is an attribute of the copy, not the commit — a
    * rsync'd/restored lake or a touched directory silently shifts it,
    * while the manifest's content travels with the data. The SQL
    * `TIMESTAMP AS OF` path resolves through [[versionAsOf]], so SQL
    * text and [[readAsOf]] consult this one clock. */
  def commitTimeMs(version: Long): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path(version))
    if (!fs.exists(p)) None
    else Some(manifestText(version)
      .flatMap(_.trim.linesIterator.nextOption())
      .flatMap(_.trim.toLongOption)
      .getOrElse(fs.getFileStatus(p).getModificationTime))
  }

  override def commitMs(version: Long): Option[Long] = commitTimeMs(version)

  /** The newest version committed at or before `timestampMs`; None if
    * the store's history starts later. */
  def versionAsOf(timestampMs: Long): Option[Long] =
    versions.reverse.find(v => commitTimeMs(v).exists(_ <= timestampMs))

  /** Time travel by timestamp (`TIMESTAMP AS OF`): the newest snapshot
    * committed at or before `timestampMs`; None if the store's history
    * starts later. */
  def readAsOf(timestampMs: Long): Option[DataFrame] =
    versionAsOf(timestampMs).map(v => spark.read.parquet(path(v)))

  /** Stamp `version`'s commit manifest: line 1 the commit millis, line
    * 2 the PARENT — the change feed's exact diff anchor, so a
    * tag-pinned retention hole fails loudly on flat stores exactly
    * like it does on manifest logs. Underscore-prefixed so Spark's
    * hidden-file filter keeps it out of scans. */
  private def stamp(version: Long, commitMs: Long,
                    parent: Option[Long]): Unit = {
    val out = fs.create(manifest(version), true)
    try out.write((String.valueOf(commitMs) +
      parent.fold("")(p => s"\nparent=$p"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Commit a new version. Overwrite of an existing version (failure
    * replay) is idempotent by construction — the replayed commit
    * re-stamps the manifest, so commit time is always that of the LAST
    * successful commit of the version. The manifest lands after the
    * data (a crash between the two leaves a version readable with the
    * mtime fallback, never a stamped-but-absent snapshot). The parent
    * is the newest version strictly below this one at commit time, this
    * version's own prior parent on an idempotent replay. */
  def write(df: DataFrame, version: Long): Unit = {
    // resolve the anchor BEFORE the data write creates v=<version>:
    // replay keeps its original parent, a fresh commit anchors to the
    // newest retained predecessor
    val parent = parentOf(version)
      .orElse(versions.filter(_ < version).lastOption)
    df.write.mode("overwrite").parquet(path(version))
    stamp(version, System.currentTimeMillis(), parent)
  }

  /** Commit `df` as the version after the latest (0 on an empty
    * store); returns the new version. */
  def writeNext(df: DataFrame): Long = {
    val next = latestVersion.fold(0L)(_ + 1L)
    write(df, next)
    next
  }

  /** Publish a fully written STAGED directory as snapshot `version`:
    * whatever `v=<version>` held is replaced by a move, then the
    * manifest is stamped (`commitMs`, `parent`) — a crash leaves the
    * version either whole or fully replaced, never torn. */
  private def publish(staged: String, version: Long, commitMs: Long,
                      parent: Option[Long]): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path(version))
    fs.delete(dst, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(staged), dst))
      throw new java.io.IOException(s"could not publish $staged as $dst")
    stamp(version, commitMs, parent)
  }

  /** Commit a staged directory (a copy-on-write rewrite written
    * outside the store) as the version after the latest, anchored to
    * it; returns the new version. */
  def commitStaged(staged: String): Long = {
    val latest = latestVersion
    val next = latest.fold(0L)(_ + 1L)
    publish(staged, next, System.currentTimeMillis(), latest)
    next
  }

  /** The recorded commit anchor of `version` (None: pre-parent
    * manifests, mtime-fallback stores, or the store's first commit). */
  override def parentOf(version: Long): Option[Long] =
    manifestText(version).flatMap(_.linesIterator
      .find(_.startsWith("parent="))
      .flatMap(_.stripPrefix("parent=").trim.toLongOption))

  def rollbackTo(version: Long): Long = {
    val df = read(version).getOrElse(throw new IllegalArgumentException(
      s"rollback: no snapshot v=$version (have ${versions.mkString(",")})"))
    writeNext(df)
  }

  /** Drop versions older than the newest `keep` (bounded storage; the
    * reference's Paimon snapshots expire the same way). */
  def expire(keep: Int = 2): Unit = expire(keep, Set.empty)

  /** [[expire]] with a pinned set: versions in `pinned` (snapshot
    * tags — the Iceberg retention contract) survive regardless of
    * age. `keep ≥ 1` — keep=0 would delete the LATEST snapshot and
    * leave a table with history markers but no current content. */
  def expire(keep: Int, pinned: Set[Long]): Unit = {
    require(keep >= 1, s"expire: keep must be >= 1, got $keep")
    val vs = versions
    vs.lastOption.foreach { latest =>
      vs.filter(v => v <= latest - keep && !pinned.contains(v))
        .foreach(v => fs.delete(new org.apache.hadoop.fs.Path(path(v)), true))
    }
  }

  /** Compaction (the Paimon/Iceberg small-files rewrite): re-commit the
    * current snapshot as a NEW version with `targetFiles` files —
    * readers keep snapshot isolation throughout (the old version stays
    * readable until [[expire]]), and a failure mid-compact leaves the
    * store untouched because the rewrite lands under the new version
    * directory only. No-op on an empty store. */
  def compact(targetFiles: Int = 1): Unit =
    latestVersion.foreach { v =>
      write(spark.read.parquet(path(v)).coalesce(targetFiles), v + 1)
    }

  /** Compliance delete ("right to be forgotten"): remove every row
    * with `keyCol` in `keys` from EVERY retained snapshot — unlike an
    * ordinary delete-and-commit, this pierces time travel on purpose
    * (a deleted subject must not be readable via `VERSION AS OF`
    * either; the Delta/Iceberg equivalent is rewriting history files
    * before a VACUUM). Version numbering and each snapshot's stamped
    * commit time and parent are PRESERVED (the purge rewrites data,
    * not history shape), so `readAsOf` resolution is unchanged.
    *
    * Each version rewrites through a sibling staging directory and
    * [[publish]]. Returns the number of rows removed across
    * versions. */
  def purgeKeys(keyCol: String, keys: Seq[Any]): Long = {
    import org.apache.spark.sql.functions.col
    var removed = 0L
    versions.foreach { v =>
      val before = spark.read.parquet(path(v))
      val keep = before.filter(!col(keyCol).isin(keys: _*))
      val n = before.count() - keep.count()
      if (n > 0) {
        // the purge is not a commit: the ORIGINAL stamp and parent
        // survive the re-publish
        val stampMs = commitTimeMs(v).getOrElse(System.currentTimeMillis())
        val parent = parentOf(v)
        val tmp = s"$dir/.purge_${StateStore.dirName(v)}"
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        keep.write.mode("overwrite").parquet(tmp)
        publish(tmp, v, stampMs, parent)
        removed += n
      }
    }
    removed
  }
}

object StateStore {
  /** Per-version commit manifest (plain text: epoch ms, then an
    * optional `parent=<n>` line), written inside `v=<n>/` so it
    * expires and renames with its snapshot. */
  private val CommitManifest = "_graft_commit"

  private def dirName(version: Long): String = s"v=$version"

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v=")) name.stripPrefix("v=").toLongOption else None

  /** Committed versions of the flat store at local directory `dir`,
    * ascending; empty for a plain or manifest-versioned table. The
    * presence of any `v=<n>` subdirectory is what flips a catalog
    * table into snapshot semantics. */
  def versionsOf(dir: java.nio.file.Path): Seq[Long] =
    if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
    else {
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
          .flatMap(p => versionOf(p.getFileName.toString)).toSeq.sorted
      } finally s.close()
    }

  /** The directory of snapshot `version` under `dir`. */
  def versionDir(dir: java.nio.file.Path, version: Long): java.nio.file.Path =
    dir.resolve(dirName(version))

  /** The directory holding a catalog table's CURRENT rows: the latest
    * `v=<n>` of a flat store, the table directory itself otherwise —
    * the default read resolves the latest snapshot, never the union of
    * all versions a recursive listing would produce. */
  def currentDir(dir: java.nio.file.Path): java.nio.file.Path =
    versionsOf(dir).lastOption.fold(dir)(versionDir(dir, _))

  /** Run `stream` into the store at `dir`, one version per
    * micro-batch: `step(prev, batch)` folds the batch onto the
    * PRE-batch snapshot (the newest version below `batchId`, not the
    * latest) and the result commits at `batchId`. A replayed batchId
    * whose own version already committed so rebuilds it from the same
    * input instead of double-merging — the RecoverySpec exactly-once
    * contract the monitors share. */
  def foldStream(stream: DataFrame, dir: String, checkpointDir: String,
                 trigger: Trigger)(
      step: (Option[DataFrame], DataFrame) => DataFrame): StreamingQuery = {
    val store = new StateStore(stream.sparkSession, dir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = store.versions.filter(_ < batchId).lastOption
          .flatMap(v => store.read(v))
        store.write(step(prev, batch), batchId)
      }
      .start()
  }
}

package graft.catalog

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[graft.streaming.SnapshotReads]] over a MANIFEST-versioned
  * partitioned lake table: versions are the `_graft_snapshots/s-<n>`
  * manifests, `read(v)` loads exactly that snapshot's file list (with
  * identity partition values restored via basePath inference and the
  * hidden bucket level dropped), in the declared logical column order.
  * This is what lets the change-feed streaming source
  * ([[org.apache.spark.sql.graft.ChangeFeedSourceProvider]]) tail the
  * partitioned lake layout exactly like the flat `v=<n>` one. */
final class ManifestSnapshotReads(spark: SparkSession, tableDir: Path,
                                  branch: Option[String] = None)
    extends graft.streaming.SnapshotReads {

  require(Snapshots.isVersioned(tableDir),
    s"$tableDir is not a manifest-versioned table")
  branch.foreach(b => require(Snapshots.branchExists(tableDir, b),
    s"$tableDir has no branch '$b' " +
      s"(branches: ${Snapshots.branches(tableDir).mkString(",")})"))

  // lazy: the snapshot-lifecycle procedures construct this reader
  // for metadata alone and never pay the sidecar reads
  private lazy val logical: org.apache.spark.sql.types.StructType =
    Evolutions.requireDeclaredSchema(tableDir)

  private lazy val bucketed: Boolean =
    PartitionSpec.read(tableDir).exists(_.isInstanceOf[PartitionSpec.Bucket])

  // rename evolution: files speak the PHYSICAL names; read with those,
  // alias back to logical (partition columns are never renamed)
  private lazy val renames: Map[String, String] = Evolutions.renames(tableDir)

  // main-log or branch-sub-log views of the same machinery (the
  // branch feed is the WAP audit-as-a-stream surface)
  private def versionsOf: Seq[Long] = branch match {
    case Some(b) => Snapshots.branchVersions(tableDir, b)
    case None => Snapshots.versions(tableDir)
  }
  private def metaOf(v: Long): Option[Snapshots.Snapshot] = branch match {
    case Some(b) => Snapshots.readBranchMeta(tableDir, b, v)
    case None => Snapshots.readMeta(tableDir, v)
  }
  private def snapOf(v: Long): Option[Snapshots.Snapshot] = branch match {
    case Some(b) => Snapshots.readBranch(tableDir, b, v)
    case None => Snapshots.read(tableDir, v)
  }

  override def versions: Seq[Long] = versionsOf

  override def parentOf(version: Long): Option[Long] =
    metaOf(version).flatMap(_.parent)

  /** The feed is provably EMPTY from the two manifests when the
    * recorded parent is retained and the commit kept the rows: its
    * kind is not [[Snapshots.CommitKind.Content]] (compaction,
    * metadata, refs), or it kept the parent's exact file set, or
    * neither side holds a data file. Without a recorded parent it is
    * empty only as the earliest retained version with no data files
    * (the CREATE version, or the fork of an empty head: an initial
    * load of nothing). Summary counters are never read. Fails closed:
    * over an EXPIRED parent the feed derives normally (an initial
    * load, or the retention-hole error). */
  override def provablyEmptyFeed(version: Long): Boolean =
    snapOf(version).exists { s =>
      def dataless(x: Snapshots.Snapshot) = Snapshots.dataFiles(x.files).isEmpty
      s.parent match {
        case Some(p) =>
          def keptRows = s.kind != Snapshots.CommitKind.Content ||
            snapOf(p).exists(before => s.files.toSet == before.files.toSet ||
              (dataless(s) && dataless(before)))
          // retention check last: content commits rarely list the log
          keptRows && versionsOf.contains(p)
        case None => dataless(s) && !versionsOf.exists(_ < version)
      }
    }

  // meta-only reads: the commit stamp never needs the segment-resolved
  // file list
  override def commitMs(version: Long): Option[Long] =
    metaOf(version).map(_.commitMs)

  /** Non-destructive rollback on the MAIN log (maintenance never
    * targets a branch view). */
  override def rollbackTo(v: Long): Long = {
    val s = Snapshots.read(tableDir, v).getOrElse(
      throw new IllegalArgumentException(
        s"rollback: no snapshot s-$v (have " +
          s"${Snapshots.versions(tableDir).mkString(",")})"))
    // set-the-list semantics (a rollback REPLACES whatever is
    // current), validated inside the OCC loop on every retry: the
    // target manifest must still exist, must not be SCHEDULED for
    // removal by a retained `expire` commit (the expire's
    // linearization point precedes its manifest deletions — the
    // r12 residual window, closed now that expire IS a commit), and
    // the restored files must still be on disk. A concurrent expire
    // therefore either linearizes after this rollback (the
    // rollback's published manifest joins the GC's retained
    // reachability set) or before it (this validation raises
    // CommitConflictException) — never a published manifest over
    // GC'd files.
    // rolling back to an MV-stamped snapshot CARRIES the stamp: the
    // rollback's content IS that stamped content, so the watermark
    // claim stays truthful, the next refresh resumes from it, and
    // "roll back to the last stamped snapshot" is a real remediation
    // (a rollback to an UNSTAMPED snapshot stays a foreign write on
    // an MV table — recreate the MV)
    val mvStamp = s.summary.get(MaterializedView.SourceVersionKey)
      .fold(Map.empty[String, Long])(w =>
        Map(MaterializedView.SourceVersionKey -> w))
    Snapshots.withSummaryStamp(tableDir, mvStamp) {
      Snapshots.commit(tableDir, Snapshots.Op.Rollback, _ => s.files,
        validate = _ => {
          if (Snapshots.readMeta(tableDir, v).isEmpty)
            throw new CommitConflictException(
              s"rollback: snapshot s-$v was dropped by a concurrent " +
                "expire_snapshots — no longer restorable")
          if (Snapshots.droppedByRetainedExpire(tableDir, v))
            throw new CommitConflictException(
              s"rollback: snapshot s-$v is scheduled for removal by a " +
                "committed expire_snapshots — no longer restorable")
          val missing = s.files.filterNot(f =>
            Files.exists(tableDir.resolve(f)))
          if (missing.nonEmpty) throw new CommitConflictException(
            s"rollback: ${missing.size} of snapshot s-$v's files were " +
              s"garbage-collected by a concurrent expire (e.g. " +
              s"${missing.head}) — the snapshot is no longer restorable")
        },
        freshStats = s.stats)
    }
  }

  /** Expiry IS a commit on the MAIN log ([[Snapshots.commitExpire]]):
    * the dropped list publishes through the OCC loop before any
    * deletion, so racing rollbacks/commits re-validate against it;
    * pins re-read per retry, with the caller's `pinned` folded in. */
  override def expire(keep: Int, pinned: Set[Long]): Unit = {
    val dropped = Snapshots.commitExpire(tableDir, keep,
      () => pinned ++ Tags.read(tableDir).values.toSet)
    // persisted changelog dirs of expired versions GC with them
    ChangelogProducer.dropFor(tableDir, dropped)
  }

  /** Zero DATA files in the snapshot — provably empty content from
    * the manifest alone (delete/eq-delete files cannot create rows). */
  override def emptyVersion(version: Long): Boolean =
    snapOf(version).exists(s => Snapshots.dataFiles(s.files).isEmpty)

  /** The declared logical schema — zero data IO. */
  override def rowSchema: org.apache.spark.sql.types.StructType = logical

  // PRIMARY-KEY tables resolve latest-per-key in read(v), so every
  // consumer of this surface — the streaming change-feed source, the
  // batch tableChanges range, the incremental MV fold — sees the
  // RESOLVED changelog (Paimon's changelog-producer semantics): a
  // version's feed diffs the resolved states, never the raw appends
  // (which would expose every shadowed key version).
  private lazy val pkDef: Option[PkTables.PkDef] = PkTables.read(tableDir)

  /** Persisted changelog files ([[ChangelogProducer]]) — MAIN-log
    * reads of tables declaring `'changelog-producer'='input'` serve
    * (and on first read produce) the memoized per-version feed;
    * branch feeds and undeclared tables derive as usual. */
  override def persistedFeed(ver: Long, keys: Seq[String],
                             row: org.apache.spark.sql.types.StructType)
      : Option[DataFrame] =
    if (branch.nonEmpty || !pkDef.exists(_.producesChangelog)) None
    else ChangelogProducer.serveOrProduce(spark, tableDir, this, ver, keys,
      row)

  /** The one-pass version diff: the two-state resolved read
    * ([[MorDeletes.versionDiff]]) of `from → to`, one scan and one key
    * shuffle when the commit was purely additive. Its gates — a
    * primary-key table diffs only under its own key — are the read's
    * own; None falls back to the two-snapshot diff join. */
  override def fastDiff(from: Long, to: Long, keys: Seq[String])
      : Option[DataFrame] =
    for {
      p <- snapOf(from)
      v <- snapOf(to)
      d <- MorDeletes.versionDiff(spark, MorDeletes.ReadScope.of(tableDir, v),
        p, keys, logical)
    } yield d

  override def read(version: Long): Option[DataFrame] =
    snapOf(version).map { s =>
      if (s.files.isEmpty)
        spark.createDataFrame(
          java.util.List.of[org.apache.spark.sql.Row](), logical)
      else {
        import org.apache.spark.sql.functions.col
        // the one resolved read ([[MorDeletes.resolvedRows]]): per-
        // spec-shape union with the explicit physical schema (one
        // parquet read cannot mix directory shapes; inference-typed
        // dir values could coerce across the union), pending deletes
        // applied — so the feed diffs LIVE rows per version, and a MoR
        // delete commit emits its rows as retractions like any other
        // delete. PK tables read RESOLVED (equality deletes applied,
        // latest version per key), the rows SQL returns.
        val raw = MorDeletes.resolvedRows(spark,
          MorDeletes.ReadScope.of(tableDir, s))
        val unbucketed =
          if (bucketed) raw.drop(PartitionSpec.BucketDir) else raw
        // ALWAYS project to logical order, rename evolution or not:
        // Spark places partition columns last regardless of the read
        // schema, so after add_partition_field promotes a non-trailing
        // data column the physical order differs per snapshot — and
        // the change-feed source unions versions POSITIONALLY
        unbucketed.select(logical.fields.map(f =>
          col(renames.getOrElse(f.name, f.name)).as(f.name)): _*)
      }
    }
}

object ManifestSnapshotReads {
  /** Whether `dir` is a manifest-versioned partitioned table. */
  def isManifestVersioned(dir: String): Boolean =
    Snapshots.isVersioned(Paths.get(dir))

  def apply(spark: SparkSession, dir: String,
            branch: Option[String] = None): ManifestSnapshotReads =
    new ManifestSnapshotReads(spark, Paths.get(dir), branch)
}

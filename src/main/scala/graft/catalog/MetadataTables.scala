package graft.catalog

import java.nio.file.{Files, Path}
import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.{SnapshotReads, StateStore}

/** Iceberg-style METADATA TABLES — `SELECT * FROM cat.db.t.history` /
  * `cat.db.t.files`: the table-inspection surface a lakehouse user
  * drives audits and debugging with (Iceberg's `db.t.history` /
  * `db.t.files`, Paimon's `t$snapshots` / `t$files`). Spark parses
  * the 4-part name into `Identifier(["db","t"], "history")`; this
  * catalog's namespaces are strictly one level deep, so a 2-element
  * namespace is unambiguously a metadata-table reference and
  * [[GraftLakeCatalog.loadTable]] routes it here.
  *
  *  - `history` — one row per retained snapshot of a versioned table:
  *    `version, commit_ms, n_files, size_bytes`. Plain (unversioned)
  *    tables have no commit history: a single row with version NULL
  *    describing the current contents.
  *  - `files` — one row per CURRENT data file: `file, size_bytes,
  *    rows` (row count from the stats sidecar where `CALL analyze`
  *    recorded it, NULL otherwise — never a data read). On a
  *    partitioned table `file` is the partition-relative path
  *    (`region=EU/part-….parquet`).
  *  - `partitions` — one row per leaf partition directory of a
  *    `PARTITIONED BY` table (Iceberg's `db.t.partitions`):
  *    `partition, n_files, size_bytes, rows` — the audit a user runs
  *    before deciding what to compact, expire, or overwrite, and the
  *    skew check (one hot `col=value` dir) that at 100 TB must come
  *    from the LISTING, never a scan. Unpartitioned tables report one
  *    NULL-partition row describing current contents.
  *
  * Reports are O(versions)/O(files) metadata folds served through a
  * driver-local scan — ZERO data files opened, any table size. */
private[catalog] object MetadataTables {

  val Names: Set[String] =
    Set("history", "files", "partitions", "tags", "snapshots", "refs")

  def load(catalogName: String, tableDir: Path, metaName: String): Table =
    metaName match {
      case "history" => historyTable(catalogName, tableDir)
      case "files" => filesTable(catalogName, tableDir)
      case "partitions" => partitionsTable(catalogName, tableDir)
      case "tags" => tagsTable(catalogName, tableDir)
      case "snapshots" => snapshotsTable(catalogName, tableDir)
      case "refs" => refsTable(catalogName, tableDir)
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' " +
          "(history, files, partitions, tags, snapshots, refs)")
    }

  /** One row per NAMED REF — tags and branches together (Iceberg's
    * `db.t.refs`): `name, type ('tag'|'branch'), version` — a tag's
    * pinned snapshot, a branch's head within ITS sub-log — plus the
    * branch's fork point on main (NULL for tags). The one listing a
    * WAP operator audits before expiring anything. */
  private def refsTable(cat: String, tableDir: Path): Table = {
    val schema = new StructType()
      .add("name", StringType, nullable = false)
      .add("type", StringType, nullable = false)
      .add("version", LongType, nullable = true)
      .add("forked_from_version", LongType, nullable = true)
    local(s"$cat.${tableDir.getFileName}.refs", schema, { () =>
      val tags = LakeProcedures.pinsOf(tableDir).toSeq.sortBy(_._1)
        .map { case (n, v) =>
          InternalRow(UTF8String.fromString(n), UTF8String.fromString("tag"),
            Long.box(v), null)
        }
      val brs =
        if (!Snapshots.isVersioned(tableDir)) Seq.empty
        else Snapshots.branches(tableDir).map { b =>
          InternalRow(UTF8String.fromString(b),
            UTF8String.fromString("branch"),
            Snapshots.branchVersions(tableDir, b).lastOption
              .map(Long.box).orNull,
            Snapshots.branchFork(tableDir, b).map(Long.box).orNull)
        }
      (tags ++ brs).toArray
    })
  }

  /** One row per retained snapshot with the r12 AUDIT surface
    * (Iceberg's `db.t.snapshots` operation/summary columns) — the
    * SAME schema + row builder as `CALL system.snapshots`
    * ([[LakeProcedures.snapshotAuditRows]]), so the two surfaces can
    * never diverge. */
  private def snapshotsTable(cat: String, tableDir: Path): Table =
    local(s"$cat.${tableDir.getFileName}.snapshots",
      LakeProcedures.SnapshotAuditSchema,
      () => LakeProcedures.snapshotAuditRowsOf(tableDir).toArray)

  private def dataFilesOf(dir: Path): Seq[Path] =
    DeletableTable.listDataFiles(dir)

  /** One row per snapshot tag: `name, version, commit_ms` — the
    * Iceberg `db.t.refs` inspection surface for [[Tags]]. */
  private def tagsTable(cat: String, tableDir: Path): Table = {
    val schema = new StructType()
      .add("name", StringType, nullable = false)
      .add("version", LongType, nullable = false)
      .add("commit_ms", LongType, nullable = true)
    local(s"$cat.${tableDir.getFileName}.tags", schema, { () =>
      val log = SnapshotReads.of(SparkSession.active, tableDir.toString)
      LakeProcedures.pinsOf(tableDir).toSeq.sortBy(_._1).map { case (n, v) =>
        InternalRow(UTF8String.fromString(n), v,
          log.flatMap(_.commitMs(v)).map(Long.box).orNull)
      }.toArray
    })
  }

  private def historyTable(cat: String, tableDir: Path): Table = {
    val schema = new StructType()
      .add("version", LongType, nullable = true)
      .add("commit_ms", LongType, nullable = true)
      .add("n_files", LongType, nullable = false)
      .add("size_bytes", LongType, nullable = false)
    local(s"$cat.${tableDir.getFileName}.history", schema, { () =>
      SnapshotReads.of(SparkSession.active, tableDir.toString) match {
        case Some(_: ManifestSnapshotReads) =>
          // manifest log: one row per retained snapshot, sizes summed
          // over the manifest's file list
          Snapshots.versions(tableDir)
            .flatMap(Snapshots.read(tableDir, _)).map { s =>
              val sizes = s.files.map(f => tableDir.resolve(f))
                .filter(Files.exists(_)).map(Files.size)
              InternalRow(s.version, s.commitMs,
                s.files.size.toLong, sizes.sum)
            }.toArray
        case Some(store) =>
          store.versions.map { v =>
            val files = dataFilesOf(StateStore.versionDir(tableDir, v))
            InternalRow(v, store.commitMs(v).getOrElse(-1L),
              files.size.toLong, files.map(Files.size).sum)
          }.toArray
        case None =>
          val files = dataFilesOf(tableDir)
          Array(InternalRow(null, null,
            files.size.toLong, files.map(Files.size).sum))
      }
    })
  }

  private def filesTable(cat: String, tableDir: Path): Table = {
    val schema = new StructType()
      .add("file", StringType, nullable = false)
      .add("size_bytes", LongType, nullable = false)
      .add("rows", LongType, nullable = true)
      // 'data' | 'delete' — merge-on-read delete files are snapshot
      // members too (the Iceberg `db.t.files` content column)
      .add("kind", StringType, nullable = false)
      // the file's BIRTH position in the table's monotonic commit
      // sequence (r14, Iceberg's data-sequence-number) — NULL for
      // files of legacy (pre-seq) segments and non-manifest layouts
      .add("committed_seq", LongType, nullable = true)
    local(s"$cat.${tableDir.getFileName}.files", schema, { () =>
      val dataDir = StateStore.currentDir(tableDir)
      // manifest-versioned tables report the SNAPSHOT's commit-atomic
      // stats (delete-file row counts ride every delete commit there);
      // statsOf falls back to the sidecar for pre-analyze manifests
      val snap = Snapshots.latest(tableDir)
      val stats = snap.map(s => Snapshots.statsOf(tableDir, s))
        .getOrElse(FileStats.readFull(tableDir))
      val seqs = snap.fold(Map.empty[String, Long])(_.seqs)
      currentFiles(tableDir, dataDir).map { case (rel, p) =>
        InternalRow(UTF8String.fromString(rel), Files.size(p),
          stats.get(p.getFileName.toString).flatMap(_.rows)
            .map(Long.box).orNull,
          UTF8String.fromString(
            if (Snapshots.isDeleteFile(rel)) "delete"
            else if (PkTables.isEqDeleteFile(rel)) "eqdelete"
            else "data"),
          seqs.get(p.getFileName.toString).map(Long.box).orNull)
      }.toArray
    })
  }

  /** Current data files as (dataDir-relative path, absolute path),
    * sorted by relative path: top-level files for flat/versioned
    * layouts, the leaf-directory walk for `PARTITIONED BY` tables. */
  private def currentFiles(tableDir: Path, dataDir: Path): Seq[(String, Path)] = {
    // manifest-versioned: CURRENT = the latest manifest's list, never
    // the directory walk (which includes older snapshots' files)
    if (Snapshots.isVersioned(tableDir))
      return Snapshots.latest(tableDir).toSeq.flatMap(_.files)
        .map(f => f -> tableDir.resolve(f)).sortBy(_._1)
    val flat = dataFilesOf(dataDir).map(p => p.getFileName.toString -> p)
    val nested =
      if (PartitionSpec.read(tableDir).isEmpty) Seq.empty
      else PartitionedWrite.leafPartitionDirs(dataDir).flatMap { rel =>
        dataFilesOf(dataDir.resolve(rel))
          .map(p => s"$rel/${p.getFileName}" -> p)
      }
    (flat ++ nested).sortBy(_._1)
  }

  private def partitionsTable(cat: String, tableDir: Path): Table = {
    val schema = new StructType()
      .add("partition", StringType, nullable = true)
      .add("n_files", LongType, nullable = false)
      .add("size_bytes", LongType, nullable = false)
      .add("rows", LongType, nullable = true)
    local(s"$cat.${tableDir.getFileName}.partitions", schema, { () =>
      val stats = FileStats.readFull(tableDir)
      // rows only when EVERY file in the group carries an analyzed
      // count — a partial sum would silently under-report
      def rowsOf(files: Seq[Path]): AnyRef = {
        val counts = files.map(p => stats.get(p.getFileName.toString).flatMap(_.rows))
        if (files.nonEmpty && counts.forall(_.isDefined))
          Long.box(counts.flatten.sum)
        else null
      }
      if (Snapshots.isVersioned(tableDir)) {
        // manifest-versioned: group the LATEST manifest's files by
        // partition directory
        Snapshots.latest(tableDir).toSeq.flatMap(_.files)
          .groupBy(f => Option(java.nio.file.Paths.get(f).getParent)
            .fold("")(_.toString))
          .toSeq.sortBy(_._1).map { case (rel, fs) =>
            val paths = fs.map(tableDir.resolve(_))
            InternalRow(UTF8String.fromString(rel), fs.size.toLong,
              paths.filter(Files.exists(_)).map(Files.size).sum,
              rowsOf(paths))
          }.toArray
      } else if (PartitionSpec.read(tableDir).isEmpty) {
        val files = dataFilesOf(StateStore.currentDir(tableDir))
        Array(InternalRow(null, files.size.toLong,
          files.map(Files.size).sum, rowsOf(files)))
      } else {
        PartitionedWrite.leafPartitionDirs(tableDir)
          .map(_.toString).sorted.map { rel =>
            val files = dataFilesOf(tableDir.resolve(rel))
            InternalRow(UTF8String.fromString(rel), files.size.toLong,
              files.map(Files.size).sum, rowsOf(files))
          }.toArray
      }
    })
  }

  /** A read-only Table serving rows computed ON THE DRIVER at scan
    * time (so every query sees the current directory state, not the
    * state at resolution). */
  private def local(tableName: String, tableSchema: StructType,
                    rowsFn: () => Array[InternalRow]): Table =
    new Table with SupportsRead {
      override def name(): String = tableName
      override def schema(): StructType = tableSchema
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder {
          override def build(): Scan = new LocalScan {
            override def rows(): Array[InternalRow] = rowsFn()
            override def readSchema(): StructType = tableSchema
            override def description(): String = tableName
          }
        }
    }
}

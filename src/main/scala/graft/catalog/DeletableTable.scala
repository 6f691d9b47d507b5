package graft.catalog

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.connector.catalog.{SupportsDeleteV2, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform, Expression => V2Expression, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue, Predicate}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.functions.{coalesce, lit, not}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.StateStore

/** SQL `DELETE FROM` / `TRUNCATE TABLE` for lake-catalog tables — the
  * row-level maintenance surface a Paimon/Iceberg user expects of the
  * lake tier the reference exposes (reference `README.md:81-93`; Paimon
  * delete = copy-on-write rewrite of the affected files).
  *
  * Spark-first shape: the catalog's tables implement
  * `SupportsDeleteV2`, so Spark's own analyzer/planner handle the SQL
  * statement (`DeleteFromTableExec` / `TruncateTableExec`) and hand the
  * condition over as V2 `Predicate`s; the connector's job is only the
  * storage rewrite:
  *
  *  - **plain tables** rewrite copy-on-write into a sibling temp
  *    directory, carry the schema/mapping sidecars over, and swap via
  *    rename — a reader never observes a half-deleted table, and a
  *    crash leaves either the old or the new directory, not a blend.
  *  - **versioned tables** (the `v=<n>` StateStore snapshot layout)
  *    stage the kept rows the same way and publish them as snapshot
  *    `latest+1` by [[graft.streaming.StateStore.commitStaged]]
  *    (manifest stamp included) — DELETE is one more commit in the
  *    table's history, so `VERSION AS OF` still reads the pre-delete
  *    snapshots exactly. (The deliberate every-snapshot purge lives in
  *    [[graft.streaming.StateStore.purgeKeys]] — compliance deletes
  *    must pierce time travel; this one must not.)
  *
  * SQL semantics the rewrite preserves: DELETE removes rows where the
  * condition is TRUE — rows where it evaluates NULL are KEPT (the kept
  * predicate is `NOT coalesce(cond, false)`). Condition columns
  * translate logical→physical through the rename sidecar, so DELETE
  * composes with merge-on-read schema evolution.
  *
  * Supported condition surface: comparisons (`= <=> <> < <= > >=`)
  * between columns and literals, `AND/OR/NOT`, `IN`, `IS [NOT] NULL`,
  * and the string predicates (`LIKE 'x%'`/`'%x'`/`'%x%'` arrive as
  * STARTS_WITH/ENDS_WITH/CONTAINS). Anything Spark cannot hand over as
  * one of those (arithmetic, functions, subqueries) is rejected at
  * analysis time via `canDeleteWhere` — an upfront error, never a
  * partial delete. */
private[catalog] final class DeletableTable(
    inner: Table with SupportsRead with SupportsWrite,
    tableDir: Path,
    dataDir: Path,
    renames: Map[String, String],
    physSchema: Option[StructType])
    extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2
    with SupportsRowLevelOperations {

  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def capabilities(): util.Set[TableCapability] = {
    val c = new util.HashSet[TableCapability](inner.capabilities())
    // the staged-rewrite write path adds full and expression overwrite
    c.add(TableCapability.TRUNCATE)
    c.add(TableCapability.OVERWRITE_BY_FILTER)
    c
  }
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()
  /** Scans consult the data-skipping sidecars when present — min/max
    * ranges ([[FileStats]]) AND per-file Bloom bitsets
    * ([[BloomIndex]]), composed through [[FileSkipping]]: pushed
    * filters that provably exclude a file drop it from the LISTING
    * before Spark opens a footer — the Iceberg/Delta manifest-skip
    * model. No sidecar (or no pruning win) → straight delegation. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val fallback = inner.newScanBuilder(options)
    if (!FileSkipping.hasAny(tableDir)) fallback
    else new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
      private var required: Option[StructType] = None
      private var filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty
      // metadata-only aggregates ([[StatsAggregates]]): COMPLETE
      // pushdown only, only with no filters in play — a WHERE clause
      // leaves post-scan filters behind, so Spark never offers the
      // aggregation here unless the answer is the whole table's
      private var servedAgg: Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = None
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        filters.isEmpty &&
          StatsAggregates.serve(tableDir, dataDir, inner.schema(), physName, agg).isDefined
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        if (filters.nonEmpty) return false
        servedAgg = StatsAggregates.serve(tableDir, dataDir, inner.schema(), physName, agg)
        servedAgg.isDefined
      }
      override def pruneColumns(requiredSchema: StructType): Unit = {
        required = Some(requiredSchema)
        fallback match {
          case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
            c.pruneColumns(requiredSchema)
          case _ => ()
        }
      }
      override def pushFilters(
          fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
          Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
        filters = fs
        fallback match {
          case f: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
            f.pushFilters(fs)
          case _ => fs
        }
      }
      override def pushedFilters: Array[Predicate] = fallback match {
        case f: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
          f.pushedFilters
        case _ => Array.empty
      }
      override def build(): org.apache.spark.sql.connector.read.Scan =
        servedAgg match {
          case Some((aggSchema, row)) =>
            // the whole aggregation IS the sidecar fold: one local row,
            // zero data files opened
            new org.apache.spark.sql.connector.read.LocalScan {
              override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
                Array(row)
              override def readSchema(): StructType = aggSchema
              override def description(): String =
                s"${name()}(stats-agg)"
            }
          case None => buildDataScan()
        }

      private def buildDataScan(): org.apache.spark.sql.connector.read.Scan =
        FileSkipping.survivors(tableDir, dataDir, filters, physName) match {
          case None => fallback.build()
          case Some(kept) =>
            // rebuild the scan over the surviving files only; renamed
            // tables keep their translation by re-wrapping MappedTable
            val ps = physSchema.getOrElse(inner.schema())
            val pt = org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
              s"${name()}(skip:${kept.size})", SparkSession.active,
              CaseInsensitiveStringMap.empty(), kept.map(_.toString), Some(ps),
              classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
            val tbl: SupportsRead =
              if (renames.isEmpty) pt
              else new MappedTable(pt, inner.schema(), renames)
            val b = tbl.newScanBuilder(options)
            required.foreach { s =>
              b match {
                case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
                  c.pruneColumns(s)
                case _ => ()
              }
            }
            b match {
              case f: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
                f.pushFilters(filters); ()
              case _ => ()
            }
            b.build()
        }
    }
  }

  /** Appends delegate to the inner parquet write untouched;
    * `INSERT OVERWRITE` (and `df.write.mode("overwrite")`) rides the
    * staged-rewrite machinery: new rows land in the staging dir, and
    * commit publishes them — full overwrite as a swap / new snapshot,
    * expression overwrite (`overwrite(preds)`) by appending the
    * SURVIVING current rows (NOT matching, NULL survives — the
    * DELETE-side three-valued logic) into the staging dir first. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwriteV2 {
      private var overwritePreds: Option[Array[Predicate]] = None
      override def canOverwrite(predicates: Array[Predicate]): Boolean =
        predicates.forall(DeletableTable.toColumn(_, physName).isDefined)
      override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
        overwritePreds = Some(predicates); this
      }
      override def truncate(): WriteBuilder =
        overwrite(Array(new AlwaysTrue))
      override def build(): Write = overwritePreds match {
        // append into a VERSIONED table commits a new snapshot (old
        // rows all survive: keep-everything overwrite) — writing into
        // the live v=<n> directory would mutate a committed snapshot
        // and silently change what VERSION AS OF <n> reads
        case None if StateStore.versionsOf(tableDir).nonEmpty =>
          stagedRewriteWrite(info, Some(lit(false)))
        case None => inner.newWriteBuilder(info).build()
        case Some(preds) =>
          val keepSurvivors =
            if (preds.forall(_.isInstanceOf[AlwaysTrue])) None
            else Some(preds
              .map(p => DeletableTable.toColumn(p, physName).getOrElse(
                throw new UnsupportedOperationException(
                  s"${name()}: cannot overwrite by condition $p")))
              .reduce(_ && _))
          stagedRewriteWrite(info, keepSurvivors)
      }
    }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    predicates.forall(DeletableTable.toColumn(_, physName).isDefined)

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val spark = SparkSession.active
    val cond = predicates
      .map(p => DeletableTable.toColumn(p, physName).getOrElse(
        throw new UnsupportedOperationException(
          s"${name()}: cannot push delete condition $p — rewrite the " +
            "WHERE clause with plain column/literal comparisons")))
      .reduceOption(_ && _).getOrElse(lit(true))
    val reader = physSchema.fold(spark.read)(s => spark.read.schema(s))
    // FILE-granular rewrite: the skipping sidecars (min/max ranges +
    // Bloom bitsets) split the data files into candidates (may contain
    // matching rows) and carried (provably cannot) — a selective
    // DELETE rewrites only the candidates and hard-links the carried
    // files into the staging dir untouched. At 100 TB this is the
    // difference between a one-key DELETE rewriting 100 TB and it
    // rewriting the 2 files whose ranges/bitsets cover the key.
    FileSkipping.split(tableDir, dataDir,
      predicates.toSeq.map(DeletableTable.statsFilter), physName) match {
      case Some((candidates, _)) if candidates.isEmpty =>
        // every file provably excludes the condition: the DELETE
        // removes nothing — exact no-op, zero I/O, no new snapshot
        ()
      case Some((candidates, carried)) =>
        val tmp = DeletableTable.stagingDir(tableDir)
        DeletableTable.deleteRecursive(tmp)
        Files.createDirectories(tmp)
        reader.parquet(candidates.map(_.toString): _*)
          .filter(not(coalesce(cond, lit(false))))
          .write.mode("append").parquet(tmp.toString)
        carried.foreach(f =>
          DeletableTable.linkOrCopy(f, tmp.resolve(f.getFileName.toString)))
        val newDataDir = publishRewrite(tmp)
        // carried entries stay valid (same bytes); rewritten files get
        // fresh stats so the NEXT selective DML keeps pruning
        FileSkipping.refreshAfterRewrite(spark, tableDir, newDataDir,
          carried.map(_.getFileName.toString).toSet)
      case None =>
        // snapshot table: DELETE = one more commit, history intact;
        // plain table: copy-on-write rewrite + sidecar carry + swap
        DeletableTable.rewriteRows(tableDir, reader.parquet(dataDir.toString)
          .filter(not(coalesce(cond, lit(false)))))
        ()
    }
  }

  /** `UPDATE` / `MERGE INTO` via Spark's group-based (copy-on-write)
    * row-level rewrite: Spark plans the replacement rows itself
    * (`RewriteUpdateTable` / `RewriteMergeIntoTable` → `ReplaceData`)
    * and drives them through this operation's scan + write; the
    * connector contributes only (a) the scan of the current data and
    * (b) a write that stages replacement files into a temp directory
    * and publishes them at commit — a new snapshot for versioned
    * tables, the DELETE swap for plain ones.
    *
    * The rewrite GROUP is the FILE: the pushed condition splits the
    * data files through the `_graft_stats.json` min/max sidecar
    * ([[FileStats.split]]) into candidates (scanned, replaced) and
    * carried (provably no matching row — hard-linked into the staging
    * dir untouched at commit, byte-identical, same inode/mtime). A
    * selective UPDATE then rewrites only the files whose ranges can
    * match — the Iceberg copy-on-write cost model — instead of the
    * whole table. No sidecar / no provable exclusion → one whole-table
    * group, exactly the pre-r10 behavior. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new RowLevelOperation {
        override def command(): RowLevelOperation.Command = info.command()
        // which files the group scan covers: None = the whole data dir
        // (the write then carries nothing); the write reads this at
        // COMMIT time, after the scan is built — commit carries
        // exactly the current files the scan did NOT read
        @volatile private var scanned: Option[Seq[Path]] = None
        // The rewrite scan CLAIMS every pushed filter as fully handled
        // while row-filtering NOTHING: Spark pushes the UPDATE/MERGE
        // condition into this scan to prune the affected GROUPS, and
        // whatever the scan returns is what the write REPLACES — if
        // the parquet reader row-filtered on the condition (the
        // default pushdown), the untouched rows of candidate files
        // would vanish from the rewrite. The filters prune at FILE
        // granularity only; the condition itself applies exactly,
        // inside Spark's replacement projection.
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
          val ib = inner.newScanBuilder(options)
          new ScanBuilder
              with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
              with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
            private var required: Option[StructType] = None
            private var filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty
            override def pruneColumns(requiredSchema: StructType): Unit = {
              required = Some(requiredSchema)
              ib match {
                case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
                  c.pruneColumns(requiredSchema)
                case _ => ()
              }
            }
            override def pushFilters(
                fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
                Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
              filters = fs; Seq.empty
            }
            override def pushedFilters: Array[Predicate] = Array.empty
            override def build(): org.apache.spark.sql.connector.read.Scan =
              FileSkipping.split(tableDir, dataDir, filters, physName) match {
                case None =>
                  scanned = None
                  ib.build()
                case Some((candidates, _)) =>
                  scanned = Some(candidates)
                  // scan ONLY the candidate files, all rows, no data
                  // filters (the group contract); renames re-wrap
                  val ps = physSchema.getOrElse(inner.schema())
                  val pt = org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
                    s"${name()}(rewrite:${candidates.size})", SparkSession.active,
                    CaseInsensitiveStringMap.empty(),
                    candidates.map(_.toString), Some(ps),
                    classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
                  val tbl: SupportsRead =
                    if (renames.isEmpty) pt
                    else new MappedTable(pt, inner.schema(), renames)
                  val b = tbl.newScanBuilder(options)
                  required.foreach { s =>
                    b match {
                      case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
                        c.pruneColumns(s)
                      case _ => ()
                    }
                  }
                  b.build()
              }
          }
        }
        override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
          new WriteBuilder {
            override def build(): Write = stagedRewriteWrite(winfo,
              carry = () => scanned.fold(Seq.empty[Path]) { cands =>
                val names = cands.map(_.getFileName.toString).toSet
                DeletableTable.listDataFiles(dataDir)
                  .filterNot(p => names.contains(p.getFileName.toString))
              })
          }
      }
    }

  /** A Write that lands rows in a staging dir through the ordinary V2
    * parquet BatchWrite (distributed, no driver materialization) and
    * publishes the staged directory on driver-side commit. Replacement
    * rows arrive under LOGICAL names; the staging table is built with
    * the physical write schema so renamed tables keep their files
    * homogeneous ([[MappedTable]]'s write rule). */
  private def stagedRewriteWrite(winfo: LogicalWriteInfo,
                                 overwriteCond: Option[Column] = None,
                                 carry: () => Seq[Path] = () => Nil): Write = {
    val tmp = DeletableTable.stagingDir(tableDir)
    DeletableTable.deleteRecursive(tmp)
    Files.createDirectories(tmp)
    val stagingSchema = StructType(winfo.schema().fields.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name))))
    val staging = org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      s"${name()}.__staging", SparkSession.active,
      CaseInsensitiveStringMap.empty(), Seq(tmp.toString), Some(stagingSchema),
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
    val sw = staging.newWriteBuilder(new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = winfo.options()
      override def queryId(): String = winfo.queryId()
      override def schema(): StructType = stagingSchema
      override def rowIdSchema(): java.util.Optional[StructType] = winfo.rowIdSchema()
      override def metadataSchema(): java.util.Optional[StructType] = winfo.metadataSchema()
    }).build()
    new Write {
      override def toBatch: BatchWrite = new BatchWrite {
        private val ib = sw.toBatch
        // Spark's ReplaceData row projection only engages when the
        // operation declares metadata attributes (writingTask falls
        // back to the plain DataWritingSparkTask otherwise), so rows
        // arrive as [__row_operation:int, data...]; this wrapper strips
        // the operation slot with a reused ProjectingInternalRow view.
        // Rows already at data arity pass through untouched.
        override def createBatchWriterFactory(pinfo: PhysicalWriteInfo) =
          new DeletableTable.OpStrippingWriterFactory(
            ib.createBatchWriterFactory(pinfo), stagingSchema)
        override def useCommitCoordinator(): Boolean = ib.useCommitCoordinator()
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          ib.commit(messages)
          // expression overwrite: the current rows NOT matching the
          // condition survive — append them next to the staged new
          // rows before the publish swap (reads pre-swap data, so
          // ordering inside the commit is safe)
          overwriteCond.foreach { cond =>
            val spark = SparkSession.active
            val reader = physSchema.fold(spark.read)(s => spark.read.schema(s))
            reader.parquet(dataDir.toString)
              .filter(not(coalesce(cond, lit(false))))
              .write.mode("append").parquet(tmp.toString)
          }
          // file-granular groups: current files the rewrite scan did
          // NOT cover carry over untouched (hard link = same inode,
          // byte-identical, zero data I/O; falls back to an
          // attribute-preserving copy on filesystems without links)
          val carried = carry()
          carried.foreach(f =>
            DeletableTable.linkOrCopy(f, tmp.resolve(f.getFileName.toString)))
          val newDataDir = publishRewrite(tmp)
          // carried entries stay valid (same bytes); rewritten files
          // get fresh stats so the NEXT selective DML keeps pruning
          FileSkipping.refreshAfterRewrite(SparkSession.active, tableDir,
            newDataDir, carried.map(_.getFileName.toString).toSet)
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit = {
          ib.abort(messages)
          DeletableTable.deleteRecursive(tmp)
        }
      }
    }
  }

  /** Publish `tmp`; returns the directory now holding the current
    * rows. */
  private def publishRewrite(tmp: Path): Path =
    DeletableTable.publishStagedRewrite(tableDir, tmp)
      .fold(tableDir)(StateStore.versionDir(tableDir, _))

  private def physName(logical: String): String =
    renames.getOrElse(logical,
      renames.collectFirst {
        case (l, p) if l.equalsIgnoreCase(logical) => p
      }.getOrElse(logical))
}

private[catalog] object DeletableTable {

  /** Publish a staged rewrite directory as the table's new content:
    * versioned tables gain snapshot `latest+1` through
    * [[StateStore.commitStaged]] (stamped and parent-anchored like
    * every store commit, so `TIMESTAMP AS OF` and the change feed's
    * retention-hole detection cover DML-published versions too);
    * plain tables swap via rename with the schema/mapping sidecars
    * carried over. Returns the new snapshot version, None for a plain
    * table. Shared by the DML writes and the rewrite procedures. */
  private[catalog] def publishStagedRewrite(tableDir: Path,
                                            tmp: Path): Option[Long] = {
    val version = if (StateStore.versionsOf(tableDir).nonEmpty) {
      val store = new StateStore(SparkSession.active, tableDir.toString)
      Some(store.commitStaged(tmp.toString))
    } else {
      val old = tableDir.resolveSibling(tableDir.getFileName.toString + ".__old")
      if (Files.isDirectory(tableDir)) {
        withSidecars(tableDir) { s =>
          if (Files.isDirectory(s)) {
            // the per-tag dir carries recursively
            val dst = tmp.resolve(s.getFileName.toString)
            Files.createDirectories(dst)
            val ls = Files.list(s)
            try ls.iterator().asScala.foreach(c =>
              Files.copy(c, dst.resolve(c.getFileName.toString),
                StandardCopyOption.REPLACE_EXISTING))
            finally ls.close()
          } else
            Files.copy(s, tmp.resolve(s.getFileName.toString),
              StandardCopyOption.REPLACE_EXISTING)
          ()
        }
      }
      deleteRecursive(old)
      Files.move(tableDir, old)
      Files.move(tmp, tableDir)
      deleteRecursive(old)
      None
    }
    // the inner ParquetTable caches its file listing; drop any cached
    // plans so the next read sees the rewrite
    SparkSession.active.catalog.clearCache()
    version
  }

  /** The sibling directory an unpartitioned table's rewrite stages
    * into. */
  private[catalog] def stagingDir(tableDir: Path): Path =
    tableDir.resolveSibling(tableDir.getFileName.toString + ".__rewrite")

  /** Replace an unpartitioned table's current rows with `rows`: written
    * to the staging dir, then [[publishStagedRewrite]] — snapshot
    * `latest+1` of a flat store (returned, published by an atomic
    * rename, so readers never list a half-written version), an in-place
    * swap of a plain table (None). */
  private[catalog] def rewriteRows(tableDir: Path,
                                   rows: DataFrame): Option[Long] = {
    val tmp = stagingDir(tableDir)
    deleteRecursive(tmp)
    rows.write.mode("overwrite").parquet(tmp.toString)
    publishStagedRewrite(tableDir, tmp)
  }

  private def withSidecars(dir: Path)(f: Path => Unit): Unit = {
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => { val n = p.getFileName.toString
        // stats ride along too: carried files keep valid entries, and
        // refreshAfterRewrite re-stats the rewritten ones post-swap
        // (stale names are never consulted — lookups are by filename);
        // the partition spec and snapshot tags are table IDENTITY —
        // losing them across a swap silently changes semantics
        n == "_graft_schema.json" || n == "_graft_mapping.json" ||
          n == FileStats.Sidecar || n == BloomIndex.Sidecar ||
          n == PartitionSpec.Sidecar || n == Tags.Sidecar ||
          n == Tags.DirName })
      .foreach(f)
    finally s.close()
  }

  /** Executor-side factory for the row-level rewrite: Spark's
    * ReplaceData row projection only engages when the operation
    * declares metadata attributes (writingTask falls back to the plain
    * DataWritingSparkTask otherwise), so replacement rows arrive as
    * `[__row_operation:int, data...]`; this wrapper strips the
    * operation slot with a reused ProjectingInternalRow view. Rows
    * already at data arity pass through untouched. Standalone class —
    * the factory ships to executors, so it must capture only
    * serializable state (never the enclosing table). */
  private[catalog] final class OpStrippingWriterFactory(
      f: org.apache.spark.sql.connector.write.DataWriterFactory,
      stagingSchema: StructType)
      extends org.apache.spark.sql.connector.write.DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long) = {
      val w = f.createWriter(partitionId, taskId)
      val arity = stagingSchema.length
      new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
        private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
          stagingSchema, (1 to arity).toIndexedSeq)
        override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
          if (row.numFields == arity) w.write(row)
          else if (row.numFields == arity + 1) {
            proj.project(row); w.write(proj)
          } else throw new IllegalStateException(
            s"rewrite row has ${row.numFields} fields for a $arity-column table")
        override def commit() = w.commit()
        override def abort() = w.abort()
        override def close() = w.close()
      }
    }
  }

  /** Carry one untouched data file into a staging dir: hard link
    * (same inode — byte-identical content, same mtime, zero data
    * I/O), with an attribute-preserving copy as the fallback for
    * filesystems without link support. */
  private[catalog] def linkOrCopy(src: Path, dst: Path): Unit =
    try { Files.createLink(dst, src); () }
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES,
          StandardCopyOption.REPLACE_EXISTING)
        ()
    }

  /** The current DATA files of a table directory (skips sidecars,
    * `_SUCCESS`, commit manifests — anything `_`/`.`-prefixed). */
  private[catalog] def listDataFiles(dataDir: Path): Seq[Path] =
    if (!Files.isDirectory(dataDir)) Seq.empty
    else {
      val s = Files.list(dataDir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
      finally s.close()
    }

  /** V2 `Predicate` → the catalyst comparison subset [[FileStats]]
    * prunes on (attr-vs-literal `= < <= > >=`, `IN`, `AND`).
    * Unconvertible subtrees collapse to TRUE — they contribute no
    * exclusion, never a wrong one. Literal-on-the-left inequalities
    * flip so the attribute lands on the left, the only shape
    * `FileStats.excludes` inspects. */
  private[catalog] def statsFilter(e: V2Expression):
      org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualTo => CEq, GreaterThan => CGt, GreaterThanOrEqual => CGe, In => CIn, LessThan => CLt, LessThanOrEqual => CLe}
    val T: org.apache.spark.sql.catalyst.expressions.Expression =
      Literal.TrueLiteral
    def attr(x: V2Expression): Option[AttributeReference] = x match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(AttributeReference(r.fieldNames()(0),
          org.apache.spark.sql.types.NullType)())
      case _ => None
    }
    def litv(x: V2Expression): Option[Literal] = x match {
      case l: V2Literal[_] => Some(Literal(l.value, l.dataType))
      case _ => None
    }
    e match {
      case p: Predicate =>
        val c = p.children()
        // comparison operands in (attr, literal) order plus a flip
        // marker when the literal was on the left
        def operands: Option[(AttributeReference, Literal, Boolean)] =
          if (c.length != 2) None
          else (attr(c(0)), litv(c(1)), attr(c(1)), litv(c(0))) match {
            case (Some(a), Some(v), _, _) => Some((a, v, false))
            case (_, _, Some(a), Some(v)) => Some((a, v, true))
            case _ => None
          }
        p.name() match {
          case "AND" if c.length == 2 =>
            CAnd(statsFilter(c(0)), statsFilter(c(1)))
          case "=" => operands.fold(T) { case (a, v, _) => CEq(a, v) }
          case "<" => operands.fold(T) { case (a, v, flip) =>
            if (flip) CGt(a, v) else CLt(a, v) }
          case "<=" => operands.fold(T) { case (a, v, flip) =>
            if (flip) CGe(a, v) else CLe(a, v) }
          case ">" => operands.fold(T) { case (a, v, flip) =>
            if (flip) CLt(a, v) else CGt(a, v) }
          case ">=" => operands.fold(T) { case (a, v, flip) =>
            if (flip) CLe(a, v) else CGe(a, v) }
          case "IN" if c.length >= 2 =>
            (attr(c(0)), c.toSeq.tail.map(litv)) match {
              case (Some(a), vs) if vs.forall(_.isDefined) =>
                CIn(a, vs.map(_.get))
              case _ => T
            }
          case _ => T
        }
      case _ => T
    }
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  /** V2 `Predicate` → `Column`, translating column names through
    * `phys`; `None` for anything outside the supported surface (the
    * caller then rejects the whole DELETE upfront). `IN` lowers to an
    * `OR` chain of equalities — identical three-valued-logic result. */
  private[catalog] def toColumn(e: V2Expression, phys: String => String): Option[Column] =
    e match {
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(org.apache.spark.sql.functions.col("`" + phys(r.fieldNames()(0)) + "`"))
      case l: V2Literal[_] =>
        Some(GraftBridge.column(Literal(l.value, l.dataType)))
      case p: Predicate =>
        lazy val kids = p.children().toSeq.map(toColumn(_, phys))
        def bin(f: (Column, Column) => Column): Option[Column] = kids match {
          case Seq(Some(a), Some(b)) => Some(f(a, b))
          case _ => None
        }
        def un(f: Column => Column): Option[Column] = kids match {
          case Seq(Some(a)) => Some(f(a))
          case _ => None
        }
        p.name() match {
          case "AND" => bin(_ && _)
          case "OR" => bin(_ || _)
          case "NOT" => un(!_)
          case "=" => bin(_ === _)
          case "<=>" => bin(_ <=> _)
          case "<>" | "!=" => bin(_ =!= _)
          case "<" => bin(_ < _)
          case "<=" => bin(_ <= _)
          case ">" => bin(_ > _)
          case ">=" => bin(_ >= _)
          case "IS_NULL" => un(_.isNull)
          case "IS_NOT_NULL" => un(_.isNotNull)
          case "STARTS_WITH" => bin(_ startsWith _)
          case "ENDS_WITH" => bin(_ endsWith _)
          case "CONTAINS" => bin(_ contains _)
          case "IN" =>
            if (kids.size < 2 || kids.exists(_.isEmpty)) None
            else Some(kids.tail.map(v => kids.head.get === v.get)
              .reduce(_ || _))
          case _ => None
        }
      case _ => None
    }
}

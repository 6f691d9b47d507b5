package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{DataWriter, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The DELTA-BASED row-level write of the lake's merge-on-read DML —
  * Spark's own [[SupportsDelta]] plan (the integration surface Iceberg
  * v2 uses for its merge-on-read DML). Instead of the group-based
  * copy-on-write rewrite (replace whole partitions), the analyzer plans
  * per-ROW operations keyed by the table's row identity, and
  * `representUpdateAsDeleteAndInsert` splits every update into its
  * delete and insert halves. `UPDATE` / `MERGE INTO` / non-pushable
  * `DELETE` then commit, in ONE optimistic snapshot commit:
  *
  *   - APPENDED data files holding the inserted / rewritten rows,
  *     through the ordinary partitioned staging writer (so
  *     partition-value-changing updates migrate rows to their new
  *     `col=value` homes automatically), and
  *   - DELETE side files, one per TARGET PARTITION DIRECTORY per task
  *     under `<kind dir>/_gmor_tdir=<target>/` — the scope the read
  *     side prunes statically.
  *
  * Data files are never rewritten: a MERGE matching 100 rows of a
  * 1 GB file persists 100 delete rows plus 100 fresh rows. The scan
  * side is a placeholder [[MorDeltaScan]] that [[MorScanRewrite]]
  * swaps for the kind's V1 read (pending deletes applied) before
  * physical planning.
  *
  * Two delete-file kinds share this code; a [[DeleteKind]] supplies
  * only what differs — the row id, the side-file schema and
  * directory, how a delete finds its target dir, and the commit's
  * validation:
  *  - [[MorDelta]]: position deletes, keyed by `(file, pos)`;
  *  - [[PkDelta]]: equality deletes, keyed by the PRIMARY KEY. */
private[catalog] trait DeleteKind {
  /** Plan-description tag (`mor-delta`, `pk-delta`). */
  def label: String
  def rowId: Array[NamedReference]
  /** The placeholder read's schema when the plan prunes nothing. */
  def readSchema(logical: StructType): StructType
  /** The pending delete files of `baseFiles` this kind applies. */
  def pendingDeletes(baseFiles: Seq[String]): Int
  /** Distribution columns for a delta plan whose output carries
    * `rowCols` (empty = no shuffle). */
  def clustering(rowCols: Set[String]): Seq[String]
  /** Within-task sort columns after the partition transforms and the
    * declared write order. */
  def sortTail(rowCols: Set[String]): Seq[String]
  /** Staging tags of the data and side-file halves. */
  def stagingTags: (String, String)
  /** The table-relative side-file directory and file-name prefix. */
  def dirName: String
  def filePrefix: String
  /** The side files' schema (driver-side: may read table sidecars). */
  def fileSchema: StructType
  /** The executor half: where each delete lands and what it writes. */
  def router(fileSchema: StructType, timeZoneId: String): DeleteRouter
  /** The commit's validation over the live list, given the files the
    * deletes addressed and whether any side file was written. */
  def validate(op: String, referenced: Seq[String], baseFiles: Seq[String],
               wroteDeletes: Boolean): Seq[String] => Unit
  /** Does the commit persist its changelog (`'changelog-producer'`)? */
  def producesChangelog: Boolean
}

/** The executor half of a [[DeleteKind]] — serializable, it ships with
  * the writer factory; one [[DeleteRouting]] per task. */
private[catalog] trait DeleteRouter extends Serializable {
  def newTask(): DeleteRouting
}

private[catalog] trait DeleteRouting {
  /** The target partition dir of the delete whose row id is `id`, and
    * the side-file row it writes (may be reused: the parquet writer
    * copies field values during write). */
  def route(id: InternalRow): (String, InternalRow)
  /** The data files this task's deletes addressed. */
  def referenced: Seq[String]
}

private[catalog] final class DeltaOperation(
    tableName: String,
    tableDir: Path,
    logicalSchema: StructType,
    spec: Seq[PartitionSpec.Field],
    baseFiles: Seq[String],
    renames: Map[String, String],
    kind: DeleteKind,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"$tableName(${kind.label}:$cmd)"
  override def rowId(): Array[NamedReference] = kind.rowId
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** The row-level read: claims nothing (filters come back as
    * residuals Spark re-applies; the [[MorScanRewrite]] swap re-pushes
    * them beneath its own read, where V1 partition pruning and
    * parquet row-group skipping serve them) and builds a metadata-
    * complete, execution-guarded scan the rule MUST replace — a
    * session without the rule fails loudly, it can never feed stale
    * rows to a row-level write. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
      private var required: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      override def pushFilters(
          fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
          Seq[org.apache.spark.sql.catalyst.expressions.Expression] = fs
      override def pushedFilters: Array[Predicate] = Array.empty
      override def build(): Scan = new MorDeltaScan(tableName,
        required.getOrElse(kind.readSchema(logicalSchema)),
        kind.pendingDeletes(baseFiles))
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaDmlWrite(
        tableDir, spec, info.schema(), renames, baseFiles, kind,
        cmd match {
          case RowLevelOperation.Command.UPDATE => Snapshots.Op.Update
          case RowLevelOperation.Command.MERGE => Snapshots.Op.Merge
          case _ => Snapshots.Op.Delete
        })
    }
}

/** The delta write: inserted rows stage through the ordinary
  * partitioned writer (one file per partition per task, declared
  * write-time clustering kept), deletes stream into the kind's
  * partition-scoped side files — ONE manifest commit
  * ([[PartitionedWrite.commitStaged]]) publishes both. */
private[catalog] final class DeltaDmlWrite(
    tableDir: Path,
    spec: Seq[PartitionSpec.Field],
    rowSchema: StructType,
    renames: Map[String, String],
    baseFiles: Seq[String],
    kind: DeleteKind,
    op: Snapshots.Op)
    extends DeltaWrite with RequiresDistributionAndOrdering {

  // distribution/ordering references must resolve against the delta
  // plan's output — reference only what is there
  private val rowCols: Set[String] = rowSchema.fieldNames.toSet

  override def requiredDistribution(): Distribution = {
    val cluster = kind.clustering(rowCols)
    if (cluster.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      cluster.map(c => Expressions.column(c): Expression).toArray)
  }

  /** Within-task sort: partition transforms, then declared clustering
    * (the insert half lands write-ordered like any other write), then
    * the kind's tail (the delete half lands sorted the way its readers
    * and the minor compactor like). */
  override def requiredOrdering(): Array[SortOrder] = {
    val declared = WriteOrder.read(tableDir).filter(rowCols)
    val partAndOrder: Seq[Expression] =
      spec.filter(f => rowCols(f.col)).map {
        case PartitionSpec.Identity(c) => Expressions.identity(c)
        case PartitionSpec.Bucket(c, n) => Expressions.bucket(n, c)
      } ++ declared.map(Expressions.identity)
    (partAndOrder ++ kind.sortTail(rowCols).map(Expressions.identity))
      .map(e => Expressions.sort(e, SortDirection.ASCENDING)).toArray
  }
  override def requiredNumPartitions(): Int = 0

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val writeId = java.util.UUID.randomUUID().toString.take(8)
    private val dataStaging =
      PartitionedWrite.stagingDir(tableDir, kind.stagingTags._1, writeId)
    private val sideStaging =
      PartitionedWrite.stagingDir(tableDir, kind.stagingTags._2, writeId)

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory = {
      dropStaging()
      Files.createDirectories(dataStaging)
      Files.createDirectories(sideStaging)
      val sideSchema = kind.fileSchema
      val (owf, conf) = PartitionedWrite.parquetWriter(sideSchema)
      val tz = org.apache.spark.sql.SparkSession.active
        .sessionState.conf.sessionLocalTimeZone
      new DeltaDmlWriterFactory(
        PartitionedWrite.dataWriterFactory(dataStaging, rowSchema, spec,
          renames, writeId),
        sideStaging.toString, conf, owf, sideSchema,
        s"${kind.filePrefix}-$writeId", kind.router(sideSchema, tz))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.toSeq.collect { case m: DeltaCommit => m }
      val dataRels = parts.flatMap(_.dataFiles)
      val sideRels = parts.flatMap(_.sideFiles)
      if (dataRels.isEmpty && sideRels.isEmpty) {
        dropStaging(); return // matched nothing, inserted nothing
      }
      // publish files before the manifest references them (the
      // ordinary publish-then-commit discipline; aborted-attempt
      // leftovers die with the staging dirs)
      val sideDir = tableDir.resolve(kind.dirName)
      val moved = sideRels.map { rel =>
        val target = sideDir.resolve(rel)
        Files.createDirectories(target.getParent)
        Files.move(sideStaging.resolve(rel), target)
        s"${kind.dirName}/$rel"
      }
      PartitionedWrite.deleteRecursive(sideStaging)
      // ONE commit carrying both halves; delete-file row counts
      // (footer reads, no data pages) ride the stats block
      PartitionedWrite.commitStaged(tableDir, dataStaging, dataRels, op,
        cur => cur ++ moved ++ dataRels,
        kind.validate(op.name.toUpperCase,
          parts.flatMap(_.referenced).distinct, baseFiles, moved.nonEmpty),
        MorDeletes.deleteFileRowStats(tableDir, moved),
        kind.producesChangelog)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      dropStaging()

    private def dropStaging(): Unit = {
      PartitionedWrite.deleteRecursive(dataStaging)
      PartitionedWrite.deleteRecursive(sideStaging)
    }
  }
}

/** One task's delta output: staged data files (staging-relative),
  * staged side files (side-staging-relative), and the data files its
  * deletes addressed (the commit's read set). */
private[catalog] final case class DeltaCommit(
    dataFiles: Seq[String],
    sideFiles: Seq[String],
    referenced: Seq[String]) extends WriterCommitMessage

/** Executor-side delta writer: `insert` forwards to the ordinary
  * partitioned data writer; `delete` asks the kind's routing for the
  * target partition dir and side-file row, and streams it into that
  * dir's side file. */
private[catalog] final class DeltaDmlWriterFactory(
    dataFactory: PartitionedWriterFactory,
    sideRoot: String,
    conf: SerializableConfiguration,
    owf: OutputWriterFactory,
    sideSchema: StructType,
    namePrefix: String,
    router: DeleteRouter)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long):
      DeltaWriter[InternalRow] = new DeltaWriter[InternalRow] {

    // lazy: a pure delete plan (DELETE command) carries no row
    // columns, and the partitioned data writer cannot even be
    // CONSTRUCTED from its row-free schema — nor is it needed
    private var innerOpt: Option[DataWriter[InternalRow]] = None
    private def inner: DataWriter[InternalRow] = {
      if (innerOpt.isEmpty)
        innerOpt = Some(dataFactory.createWriter(partitionId, taskId))
      innerOpt.get
    }

    private val routing = router.newTask()
    private val side = new TaskFileWriters(sideRoot, conf, owf, sideSchema,
      partitionId, taskId)((tdir, seq, ext) =>
      ExternalCatalogUtils.getPartitionPathString(MorDeletes.TargetDirCol,
        tdir) + f"/$namePrefix-$partitionId%05d-$taskId-$seq$ext")

    override def insert(row: InternalRow): Unit = inner.write(row)
    override def write(row: InternalRow): Unit = inner.write(row)

    override def delete(metadata: InternalRow, id: InternalRow): Unit = {
      val (tdir, row) = routing.route(id)
      side.writerFor(tdir).write(row)
    }

    override def update(metadata: InternalRow, id: InternalRow,
                        row: InternalRow): Unit =
      throw new IllegalStateException(
        "delta DML represents updates as delete+insert")

    override def commit(): WriterCommitMessage = {
      val sideFiles = side.commit()
      val dataFiles = innerOpt.map(_.commit()) match {
        case Some(PartitionedCommit(fs)) => fs
        case _ => Seq.empty
      }
      DeltaCommit(dataFiles, sideFiles, routing.referenced)
    }

    override def abort(): Unit = {
      side.abort()
      innerOpt.foreach(_.abort())
    }

    override def close(): Unit = {
      side.close()
      innerOpt.foreach(_.close())
    }
  }
}

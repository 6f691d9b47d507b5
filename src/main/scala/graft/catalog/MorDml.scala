package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** MERGE-ON-READ `UPDATE` / `MERGE INTO` / non-pushable `DELETE`
  * (`graft.write.mode='merge-on-read'` on a versioned table) — the
  * POSITION-delete kind of the shared delta write ([[DeltaOperation]]),
  * the write-side completion of [[MorDeletes]] (reference analog: the
  * PK-table upsert pipeline is an update-heavy workload by
  * construction, `flink-cdc/sql/tickets-cdc.sql:68-77`).
  *
  * Row id: the position-delete coordinate `(_gmor_file, _gmor_pos)` —
  * the file's table-relative path and the row's parquet index, which
  * the table exposes as metadata columns
  * ([[PartitionedLakeTable.metadataColumns]]) and the [[MorScanRewrite]]
  * swap materializes with pending deletes applied (so updating a row a
  * previous MoR DELETE removed can never resurrect it). Matched rows
  * become the same `_graft_deletes/` coordinate files a MoR DELETE
  * writes, scoped by the coordinate's parent directory.
  *
  * Validation: [[Snapshots.validateRewrite]] over the files the
  * coordinates address — a concurrent rewrite of one of them (compact,
  * CoW DML) or any concurrently-committed delete file conflicts loudly
  * and the command re-runs against the new snapshot (Iceberg's
  * snapshot-isolation posture for row-delta commits). Appends to other
  * files merge cleanly. */
private[catalog] final class MorDelta(spec: Seq[PartitionSpec.Field])
    extends DeleteKind {
  private val coords = Seq(MorDeletes.FileKeyCol, MorDeletes.PosKeyCol)

  val label = "mor-delta"
  def rowId: Array[NamedReference] = coords.map(Expressions.column).toArray
  def readSchema(logical: StructType): StructType =
    StructType(logical.fields ++ MorDml.coordFields)
  def pendingDeletes(baseFiles: Seq[String]): Int =
    Snapshots.deleteFiles(baseFiles).size

  /** Cluster on (identity partition cols, target file): insert rows
    * (null file) converge per partition — one file per partition per
    * write, the Iceberg hash-distribution default — while delete rows
    * (null partition cols under delete+insert splitting) converge per
    * TARGET FILE, so one file's coordinates land in one delete file.
    * A row-free plan (DELETE command / delete-only MERGE) clusters by
    * file alone (every row has one); unpartitioned row-carrying plans
    * skip the shuffle — clustering by file alone would serialize every
    * inserted row (null file) through one task. */
  def clustering(rowCols: Set[String]): Seq[String] = {
    val dataCols = rowCols -- coords
    val avail = spec.collect { case PartitionSpec.Identity(c) if dataCols(c) => c }
    if (dataCols.isEmpty) Seq(MorDeletes.FileKeyCol)
    else if (avail.nonEmpty) avail :+ MorDeletes.FileKeyCol
    else Seq.empty
  }
  /** Deletes land sorted by (file, pos). */
  def sortTail(rowCols: Set[String]): Seq[String] = coords

  val stagingTags = ("rowdelta", "rowdeltadel")
  val dirName = Snapshots.DeleteDirName
  val filePrefix = "delete"
  def fileSchema: StructType = MorDeletes.DeleteSchema
  def router(fileSchema: StructType, timeZoneId: String): DeleteRouter =
    MorDml.CoordRouter
  def validate(op: String, referenced: Seq[String], baseFiles: Seq[String],
               wroteDeletes: Boolean): Seq[String] => Unit =
    Snapshots.validateRewrite(op, referenced, baseFiles)
  val producesChangelog = false
}

private[catalog] object MorDml {
  import org.apache.spark.sql.types.StructField

  def coordFields: Seq[StructField] = Seq(
    StructField(MorDeletes.FileKeyCol, StringType, nullable = false),
    StructField(MorDeletes.PosKeyCol, LongType, nullable = false))

  /** The parent-directory part of a table-relative coordinate key —
    * the driver/executor-side twin of [[MorDeletes.parentDirExpr]]. */
  def parentDirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** A delete's target dir is its coordinate's parent directory (the
    * layout [[MorDeletes.targetDirOf]] prunes statically); it writes
    * the `(file, pos)` pair. */
  object CoordRouter extends DeleteRouter {
    def newTask(): DeleteRouting = new DeleteRouting {
      private val files = scala.collection.mutable.HashSet.empty[String]
      // rowId projection field order: resolved from the projecting
      // row's own schema on first use (declared (file, pos), but the
      // schema is authoritative)
      private var fileIdx = 0
      private var posIdx = 1
      private var idxResolved = false
      private val reuse =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)

      def route(id: InternalRow): (String, InternalRow) = {
        if (!idxResolved) {
          id match {
            case p: org.apache.spark.sql.catalyst.ProjectingInternalRow =>
              fileIdx = p.schema.fieldIndex(MorDeletes.FileKeyCol)
              posIdx = p.schema.fieldIndex(MorDeletes.PosKeyCol)
            case _ => ()
          }
          idxResolved = true
        }
        val file = id.getUTF8String(fileIdx)
        val rel = file.toString
        files += rel
        reuse.update(0, file.copy())
        reuse.update(1, id.getLong(posIdx))
        (parentDirOf(rel), reuse)
      }
      def referenced: Seq[String] = files.toSeq
    }
  }
}

/** The delta read's placeholder scan: schema-complete so analysis and
  * pushdown proceed, never executable — [[MorScanRewrite]] swaps the
  * relation for the V1 coordinate read before physical planning. */
private[catalog] final class MorDeltaScan(
    tableName: String, schema: StructType, nDeleteFiles: Int)
    extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"$tableName(mor-delta-read:$nDeleteFiles pending delete files)"
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    throw new IllegalStateException(
      s"$tableName: a merge-on-read row-level operation planned its " +
        "read without the MorScanRewrite rule — refusing to execute. " +
        "Load the table through GraftLakeCatalog (which attaches the " +
        "rule).")
}

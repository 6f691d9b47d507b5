package graft.catalog

import java.util

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The ONE parser for the rename half of the `_graft_mapping.json`
  * evolution sidecar — every reader outside the catalog's full
  * [[GraftLakeCatalog]] evolution logic (streaming tail, manifest
  * snapshot reader, spec-evolution guards) resolves logical→physical
  * through here, so the dialect can never drift between readers. */
private[catalog] object Evolutions {

  val MappingSidecar = "_graft_mapping.json"
  val SchemaSidecar = "_graft_schema.json"

  /** The declared LOGICAL schema of a table dir (the CREATE/ALTER-time
    * `_graft_schema.json` sidecar); None when the sidecar is absent. */
  def declaredSchema(tableDir: java.nio.file.Path)
      : Option[org.apache.spark.sql.types.StructType] = {
    val f = tableDir.resolve(SchemaSidecar)
    if (!java.nio.file.Files.exists(f)) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(java.nio.file.Files.readString(f))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** [[declaredSchema]] of a VERSIONED table dir, where the sidecar is
    * mandatory: absent means the directory is corrupt. */
  def requireDeclaredSchema(tableDir: java.nio.file.Path)
      : org.apache.spark.sql.types.StructType = {
    val s = declaredSchema(tableDir)
    require(s.isDefined,
      s"$tableDir has no declared schema sidecar — corrupt table dir")
    s.get
  }

  /** logical → physical column renames of a table dir; empty when the
    * sidecar is absent. */
  def renames(tableDir: java.nio.file.Path): Map[String, String] = {
    val f = tableDir.resolve(MappingSidecar)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(java.nio.file.Files.readString(f))
      Option(node.get("renames")).map { r =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(r.fields()).asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty)
    }
  }
}

/** Column-rename indirection for merge-on-read schema evolution: the
  * catalog's data files are IMMUTABLE parquet resolving columns by
  * name, so `RENAME COLUMN` cannot touch them — instead the table's
  * sidecar records a logical→physical name mapping (the role Iceberg
  * field-ids play) and this wrapper translates at the V2 boundary:
  *
  *  - reads: required-column pruning and catalyst filter pushdown
  *    translate logical→physical on the way into the inner
  *    ParquetTable (pruning and row-group pruning both survive
  *    evolution), and the scan's read schema translates back
  *    physical→logical. Row data is positional, so the inner Batch is
  *    reused as-is — zero per-row cost.
  *  - writes: the write schema translates logical→physical, so NEW
  *    files keep speaking the original physical names and the table's
  *    files stay homogeneous — a rename is pure metadata forever,
  *    never a fork in the file dialect.
  *
  * The `renames` map carries ONLY renamed columns (logical name ≠
  * physical name); untouched columns pass through. */
private[catalog] final class MappedTable(
    inner: Table with SupportsRead with SupportsWrite,
    logical: StructType, renames: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {

  private val toPhys = renames            // logical -> physical
  private val toLog = renames.map(_.swap) // physical -> logical
  private def physSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = toPhys.getOrElse(f.name, f.name))))
  private def logSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = toLog.getOrElse(f.name, f.name))))

  override def name(): String = inner.name()
  override def schema(): StructType = logical
  // streaming capabilities are FILTERED, not forwarded: the rename
  // indirection translates only the batch scan (MappedScan forwards
  // toBatch alone), so advertising MICRO_BATCH/CONTINUOUS_READ would
  // turn a streaming read of a renamed table into a mid-planning
  // UnsupportedOperationException from Scan's default
  // toMicroBatchStream — dropping the capability makes it an upfront
  // "table does not support streaming" analysis error instead
  override def capabilities(): util.Set[TableCapability] = {
    val c = new util.HashSet[TableCapability](inner.capabilities())
    c.remove(TableCapability.MICRO_BATCH_READ)
    c.remove(TableCapability.CONTINUOUS_READ)
    c
  }
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val ib = inner.newScanBuilder(options)
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownCatalystFilters {
      override def pruneColumns(requiredSchema: StructType): Unit = ib match {
        case c: SupportsPushDownRequiredColumns =>
          c.pruneColumns(physSchema(requiredSchema))
        case _ => ()
      }
      // residuals come back physical and are re-translated: Spark
      // evaluates them against the LOGICAL output rows post-scan
      override def pushFilters(filters: Seq[Expression]): Seq[Expression] = ib match {
        case f: SupportsPushDownCatalystFilters =>
          val phys = filters.map(_.transform {
            case a: AttributeReference if toPhys.contains(a.name) =>
              a.withName(toPhys(a.name))
          })
          f.pushFilters(phys).map(_.transform {
            case a: AttributeReference if toLog.contains(a.name) =>
              a.withName(toLog(a.name))
          })
        case _ => filters
      }
      override def pushedFilters: Array[Predicate] = ib match {
        case f: SupportsPushDownCatalystFilters => f.pushedFilters
        case _ => Array.empty
      }
      override def build(): Scan = new MappedScan(ib.build())
    }
  }

  private final class MappedScan(is: Scan) extends Scan with SupportsReportStatistics {
    override def readSchema(): StructType = logSchema(is.readSchema())
    override def toBatch: Batch = is.toBatch
    override def description(): String = is.description()
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      is.columnarSupportMode()
    override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      is.supportedCustomMetrics()
    override def estimateStatistics(): Statistics = is match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = info.options()
      override def queryId(): String = info.queryId()
      override def schema(): StructType = physSchema(info.schema())
      override def rowIdSchema(): java.util.Optional[StructType] = info.rowIdSchema()
      override def metadataSchema(): java.util.Optional[StructType] = info.metadataSchema()
    })
}

package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal, Murmur3Hash, Pmod, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsDeleteV2, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, FieldReference, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysTrue, Predicate}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{coalesce, col, hash, lit, not, pmod}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Partition spec sidecar (`_graft_partition.json`) — which transforms
  * a `PARTITIONED BY (...)` declared, in declaration order (= directory
  * nesting order). Two transforms, the reference's lake surface:
  *
  *  - `identity(col)` — hive-style `col=value` directories; the
  *    first-order scan reducer at 100 TB (a day/region predicate
  *    prunes whole directory subtrees before any footer is opened).
  *  - `bucket(n, col)` — the reference's `'bucket.num'='4'` PK-table
  *    layout (`flink-cdc/sql/tickets-cdc.sql:34`): rows land in
  *    `_gbucket=<pmod(hash(col), n)>` directories. The bucket id is a
  *    HIDDEN partition column (Iceberg's hidden-partitioning model):
  *    never in the logical schema, computed at write, recomputable in
  *    SQL as `pmod(hash(col), n)` (Spark's murmur3).
  */
private[catalog] object PartitionSpec {

  val Sidecar = "_graft_partition.json"
  /** Directory name of the hidden bucket partition column. */
  val BucketDir = "_gbucket"

  sealed trait Field { def col: String }
  final case class Identity(col: String) extends Field
  final case class Bucket(col: String, n: Int) extends Field {
    /** The bucket id of each row, `pmod(hash(physical), n)`: the value
      * the writer lands in `_gbucket`, given the column's physical
      * (file) name. */
    def idOf(physical: Column): Column = pmod(hash(physical), lit(n))
  }

  def write(tableDir: Path, fields: Seq[Field]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val arr = root.putArray("fields")
    fields.foreach {
      case Identity(c) =>
        val o = arr.addObject(); o.put("kind", "identity"); o.put("col", c); ()
      case Bucket(c, n) =>
        val o = arr.addObject()
        o.put("kind", "bucket"); o.put("col", c); o.put("n", n); ()
    }
    Files.writeString(tableDir.resolve(Sidecar), om.writeValueAsString(root))
    ()
  }

  def read(tableDir: Path): Seq[Field] = {
    val f = tableDir.resolve(Sidecar)
    if (!Files.isDirectory(tableDir) || !Files.exists(f)) Seq.empty
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(Files.readString(f))
      Option(node.get("fields")).toSeq
        .flatMap(_.elements().asScala.toSeq)
        .map { o =>
          o.get("kind").asText() match {
            case "identity" => Identity(o.get("col").asText())
            case "bucket" => Bucket(o.get("col").asText(), o.get("n").asInt())
            case k => throw new IllegalStateException(
              s"unknown partition transform kind '$k' in $f")
          }
        }
    }
  }

  /** The hive-layout directory column names, nesting order. */
  def dirCols(fields: Seq[Field]): Seq[String] = fields.map {
    case Identity(c) => c
    case Bucket(_, _) => BucketDir
  }

  /** A row's partition directory (`col=v/_gbucket=b`, hive-escaped,
    * nesting order), given each spec column's value as a Catalyst
    * expression over the row: identity values cast to string, buckets
    * as `pmod(murmur3(col), n)` — recomputable in SQL as
    * `pmod(hash(col), n)`. The data writer, the PK delete routing and
    * the blind key delete all place rows through this one function. */
  def dirOf(fields: Seq[Field], valueOf: String => Expression,
            timeZoneId: String): InternalRow => String = {
    val tz = Some(timeZoneId)
    val proj = UnsafeProjection.create(fields.map {
      case Identity(c) => Cast(valueOf(c), StringType, tz)
      case Bucket(c, n) =>
        Cast(Pmod(Murmur3Hash(Seq(valueOf(c)), 42), Literal(n)), StringType, tz)
    })
    val names = dirCols(fields)
    row => {
      val pv = proj(row)
      names.indices.map { i =>
        val v = if (pv.isNullAt(i)) null else pv.getUTF8String(i).toString
        ExternalCatalogUtils.getPartitionPathString(names(i), v)
      }.mkString("/")
    }
  }
}

/** Declared WRITE-TIME clustering (`TBLPROPERTIES
  * ('write.order'='c1,c2')` — Iceberg's `WRITE ORDERED BY`): every
  * write through the table's V2 writer requests a SORT on (partition
  * transforms, then the declared columns) via
  * `RequiresDistributionAndOrdering`, so rows land clustered and the
  * parquet ROW GROUPS inside each file carry tight, mostly disjoint
  * min/max ranges — the reader's row-group pruning (pushed predicates)
  * then skips inside files the same way file skipping prunes between
  * them. Pure write-path metadata: reads, manifests, and DML are
  * untouched; an unsorted legacy file is merely unclustered. */
private[catalog] object WriteOrder {

  val Sidecar = "_graft_order.json"
  val Property = "write.order"

  def write(tableDir: Path, cols: Seq[String]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val arr = root.putArray("cols")
    cols.foreach(arr.add)
    // temp-file + atomic move, like every live-mutated sidecar: a
    // concurrent reader must never observe a torn file
    val target = tableDir.resolve(Sidecar)
    val tmp = target.resolveSibling(Sidecar + ".tmp")
    Files.writeString(tmp, om.writeValueAsString(root))
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def read(tableDir: Path): Seq[String] = {
    val f = tableDir.resolve(Sidecar)
    if (!Files.exists(f)) Seq.empty
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      Option(om.readTree(Files.readString(f)).get("cols")).toSeq
        .flatMap(_.elements().asScala.toSeq).map(_.asText())
    }
  }

  def drop(tableDir: Path): Unit = {
    Files.deleteIfExists(tableDir.resolve(Sidecar)); ()
  }

  /** The V2 sort request: partition transforms first (groups each
    * task's rows per output file, minimizing writer churn), then the
    * declared order columns. */
  def sortOrders(spec: Seq[PartitionSpec.Field],
                 cols: Seq[String]): Array[SortOrder] = {
    if (cols.isEmpty) return Array.empty
    val partExprs: Seq[org.apache.spark.sql.connector.expressions.Expression] =
      spec.map {
        case PartitionSpec.Identity(c) => Expressions.identity(c)
        case PartitionSpec.Bucket(c, n) => Expressions.bucket(n, c)
      }
    (partExprs ++ cols.map(Expressions.identity)).map(e =>
      Expressions.sort(e,
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      .toArray
  }
}

/** A PARTITIONED lake table — hive `col=value` directory layout under
  * the table dir, identity and bucket transforms.
  *
  * Spark-first split of responsibilities:
  *  - READS delegate to Spark's own V2 `ParquetTable` over the table
  *    root: `InMemoryFileIndex` discovers the partition directories,
  *    types them from the declared schema, and the file scan's
  *    partition-filter pushdown prunes the LISTING — a partition
  *    predicate never opens a non-matching directory. Nothing to
  *    reimplement; pruning is pinned by spec on the scan's
  *    `PartitionFilters`.
  *  - WRITES are the part Spark's V2 file tables lack (they write
  *    flat), so the connector provides them: a distributed
  *    staged write (per-task parquet writers keyed by partition
  *    directory, data columns only in the files) into a sibling
  *    staging dir, published on driver commit — append, dynamic
  *    partition overwrite (replace exactly the partitions that
  *    received rows), static partition overwrite (`INSERT OVERWRITE
  *    ... PARTITION (c=v)`), and truncate. Identity-partitioned
  *    writes request a CLUSTERED distribution on the partition
  *    columns, so each partition's rows converge on one task → one
  *    file per partition per write (the Iceberg hash-distribution
  *    default).
  *  - DELETE FROM rewrites partition-preserving (copy-on-write into a
  *    staging dir written with the same layout, swap via
  *    [[DeletableTable.publishStagedRewrite]]).
  *
  * Partitioned tables come in two versioning flavors:
  *  - PLAIN (default): the directory IS the truth; writes/DML
  *    physically replace files, no history.
  *  - SNAPSHOT-VERSIONED (`TBLPROPERTIES ('versioned'='true')`): the
  *    [[Snapshots]] manifest log is the truth — `snapshot` pins the
  *    file list this instance reads, every commit writes a new
  *    manifest, and replaced files stay on disk for older snapshots
  *    (the Iceberg manifest model; the flat `v=<n>` layout cannot
  *    compose with `col=value` directories). `writable = false` marks
  *    a time-travel view (`VERSION/TIMESTAMP AS OF`): read-only.
  *
  * Column evolution: ADD COLUMN (inserted before the trailing
  * partition columns), and RENAME / DROP of NON-partition data
  * columns through the same `_graft_mapping.json` logical→physical
  * indirection flat tables use ([[MappedTable]]'s model, re-expressed
  * for the scans this table builds itself) — `renames` carries only
  * renamed columns; partition-spec-referenced columns stay
  * un-renameable (the Iceberg gating), so directory names never need
  * translation. */
private[catalog] final class PartitionedLakeTable(
    tableName: String,
    tableDir: Path,
    logicalSchema: StructType,
    spec: Seq[PartitionSpec.Field],
    snapshot: Option[Snapshots.Snapshot] = None,
    writable: Boolean = true,
    renames: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private val identityCols: Seq[String] =
    spec.collect { case PartitionSpec.Identity(c) => c }
  private val bucketOpt: Option[PartitionSpec.Bucket] =
    spec.collectFirst { case b: PartitionSpec.Bucket => b }

  // rename indirection (data columns only — partition columns are
  // never renamed, so dir names and partition pruning are untouched)
  private val toLog: Map[String, String] = renames.map(_.swap)
  private def physName(n: String): String = renames.getOrElse(n, n)
  private def physSchema(s: StructType): StructType =
    if (renames.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = physName(f.name))))
  private def logSchema(s: StructType): StructType =
    if (renames.isEmpty) s
    else StructType(s.fields.map(f =>
      f.copy(name = toLog.getOrElse(f.name, f.name))))
  private def physExpr(e: org.apache.spark.sql.catalyst.expressions.Expression):
      org.apache.spark.sql.catalyst.expressions.Expression =
    if (renames.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if renames.contains(a.name) => a.withName(renames(a.name))
    }

  /** The manifest's live-file list (table-relative); None = plain. */
  private def snapshotFiles: Option[Seq[String]] = snapshot.map(_.files)

  /** The snapshot's DATA files (merge-on-read delete files split
    * out) — what every scan listing derives from. */
  private def snapshotDataFiles: Option[Seq[String]] =
    snapshotFiles.map(Snapshots.dataFiles)

  /** Pending merge-on-read delete files of THIS view's snapshot
    * (empty = clean; see [[MorDeletes]]). */
  private[catalog] def morDeleteFiles: Seq[String] =
    snapshot.fold(Seq.empty[String])(s => Snapshots.deleteFiles(s.files))

  /** This view's snapshot as the resolved read's scope
    * ([[MorDeletes.resolve]]), and the partition spec
    * [[MorScanRewrite]] prunes delete files with. */
  private[catalog] def morReadInfo
      : (MorDeletes.ReadScope, Seq[PartitionSpec.Field]) = (morScope, spec)

  private lazy val morScope: MorDeletes.ReadScope =
    MorDeletes.ReadScope(tableDir, snapshot.fold(Seq.empty[String])(_.files),
      snapshot.fold(Map.empty[String, Long])(_.seqs),
      // delete-file row counts ride every delete commit's stats block:
      // the deletion vector sizes from manifest metadata alone
      manifestStats.getOrElse(Map.empty), renames, pkDef, pkDirty)

  // every manifest-versioned view needs the read-side rewrite
  // available: delete-carrying snapshots (the resolved-read swap), scans
  // that ask for the row-coordinate metadata columns, and delta-based
  // row-level DML reads all plan through it. Attach BEFORE the query
  // that loaded this table optimizes (loadTable runs at analysis;
  // extraOptimizations are re-read per query); the rule's guard is a
  // cheap plan traversal, so clean-table queries pay ~nothing. Plain
  // (unversioned) tables never pay this.
  if (snapshot.isDefined)
    try MorDeletes.ensureRule(SparkSession.active)
    catch { case _: IllegalStateException => () } // no active session

  /** Row-coordinate METADATA COLUMNS (`_gmor_file` = table-relative
    * file path, `_gmor_pos` = parquet row index) — the row identity
    * the delta-based row-level operations key their position deletes
    * by ([[MorDelta.rowId]]), and selectable on ordinary
    * reads (Iceberg's `_file`/`_pos`). Versioned tables only: plain
    * layouts physically replace files, so coordinates there are not
    * stable identities. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (snapshot.isEmpty) Array.empty
    else Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = MorDeletes.FileKeyCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "table-relative data file path"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = MorDeletes.PosKeyCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String = "row position within the file"
      })

  /** The per-file stats governing THIS table view: the snapshot's
    * commit-atomic embedded block (sidecar fallback for pre-analyze
    * manifests) — so a `VERSION AS OF` scan skips and aggregates from
    * the stats of THAT snapshot. None = plain table (the consumers
    * read the sidecar themselves). lazy val: the sidecar fallback
    * parses JSON from disk — one parse per table instance, not one
    * per scan-build consumer. */
  private lazy val manifestStats: Option[Map[String, FileStats.FileStat]] =
    snapshot.map(s => Snapshots.statsOf(tableDir, s))

  /** PRIMARY-KEY declaration ([[PkTables]]): present when the table
    * was created with `'primary-key'` / `'merge-engine'`. */
  private[catalog] lazy val pkDef: Option[PkTables.PkDef] =
    if (snapshot.isEmpty) None else PkTables.read(tableDir)

  /** Does THIS view's snapshot need latest-per-key resolution? False
    * for non-PK tables and for snapshots a key-aware compact left
    * provably one-version-per-key ([[PkTables.resolvedClean]] — then
    * the plain scan and every gated fast path are valid again). */
  private[catalog] lazy val pkDirty: Boolean =
    pkDef.isDefined &&
      snapshot.exists(s => !PkTables.resolvedClean(tableDir, s))

  override def name(): String = tableName
  override def schema(): StructType = logicalSchema
  override def partitioning(): Array[Transform] = spec.map {
    case PartitionSpec.Identity(c) => Expressions.identity(c)
    case PartitionSpec.Bucket(c, n) => Expressions.bucket(n, c)
  }.toArray
  // sidecar read once per table load (instances are per-load, matching
  // the snapshot/renames capture semantics) — properties() and the
  // write planners consult this on hot analysis paths
  private lazy val declaredOrder: Seq[String] = WriteOrder.read(tableDir)

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    if (snapshot.isDefined) m.put(Snapshots.Property, "true")
    if (declaredOrder.nonEmpty)
      m.put(WriteOrder.Property, declaredOrder.mkString(","))
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    if (!writable) util.Set.of(TableCapability.BATCH_READ)
    else util.Set.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // `MERGE INTO … WITH SCHEMA EVOLUTION` (Spark 4): the analyzer
      // computes the source-vs-target schema changes (ADD COLUMN /
      // type widening), applies them through this catalog's
      // metadata-only alterTable, and re-resolves — composing the
      // existing evolution surface with the MERGE (the CDC
      // schema-drift scenario, reference `flink-gen.sh:58-90`)
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  private def requireWritable(op: String): Unit =
    if (!writable) throw new UnsupportedOperationException(
      s"$tableName: $op on a time-travel snapshot view — historical " +
        "snapshots are read-only (write through the current table)")

  /** Live files written under more than one partition spec (ADD
    * PARTITION FIELD evolution before a compaction normalized the
    * layout)? PARTITION-addressed overwrites (dynamic/static) need one
    * coherent directory identity per row and stay rejected until a
    * compact migrates the layout; row-level DML (DELETE/UPDATE/MERGE)
    * handles mixed shapes directly via per-shape union scans. */
  private def mixedSpecShapes: Boolean =
    snapshotDataFiles.exists(fs => fs.map(Snapshots.shapeOf).distinct.size > 1)

  private def requireSingleSpec(op: String): Unit =
    if (mixedSpecShapes) throw new UnsupportedOperationException(
      s"$tableName: $op over files of MIXED partition specs (ADD " +
        "PARTITION FIELD evolution) — CALL system.compact first to " +
        "migrate the old-spec files to the current layout")

  /** The schema the FILE INDEX types partition directories from: the
    * PHYSICAL column names (files are immutable under renames) plus
    * the hidden bucket column (int). */
  private def indexSchema: StructType = {
    val base = physSchema(logicalSchema)
    bucketOpt.fold(base)(_ => StructType(base.fields :+
      StructField(PartitionSpec.BucketDir, IntegerType, nullable = true)))
  }

  private def innerRead: ParquetTable =
    ParquetTable(tableName, SparkSession.active,
      CaseInsensitiveStringMap.empty(), Seq(tableDir.toString),
      Some(indexSchema), classOf[ParquetFileFormat])

  /** Delegated to Spark's parquet file scan: identity partition
    * filters prune the directory listing natively, data filters push
    * to the reader; the hidden bucket column never leaves the scan
    * (Spark prunes required columns to the logical projection).
    *
    * HIDDEN-partition pruning (the Iceberg model) covers what the
    * native path cannot see: an equality/`IN` on the BUCKET KEY
    * column lists only the `_gbucket=<pmod(murmur3(v), n)>` subtrees
    * that can hold the key ([[PartitionPruning]] — the same
    * driver-side hash the writer used), with the pushed filters still
    * row-filtering inside them. A `k = 5` point lookup on a
    * `bucket(256, k)` table then opens 1/256th of the listing. No
    * bucket transform / no provable pruning → straight delegation. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // lazy: snapshot tables never touch the root-listing fallback
    lazy val fallback = innerRead.newScanBuilder(options)
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
      private var required: Option[StructType] = None
      // the UNtranslated (logical-name) requirement, kept because a
      // request for the row-coordinate metadata columns routes to the
      // [[MorScanRewrite]] swap, whose placeholder scan must speak the
      // relation's own (logical) names
      private var requiredLogical: Option[StructType] = None
      private var filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty
      // metadata-only aggregates ([[StatsAggregates]]) over the
      // partitioned layouts: current files = the manifest's list
      // (versioned) or the leaf-directory walk (plain); COMPLETE
      // pushdown only, only with no filters in play
      private var servedAgg: Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = None
      // memoized: plain tables pay a full leaf-directory walk here,
      // and Spark probes supportCompletePushDown AND pushAggregation
      // per aggregate — one walk per scan build, not four
      private lazy val currentBasenames: Seq[String] = snapshotFiles
        .map(_.map(f => Paths.get(f).getFileName.toString))
        .getOrElse(PartitionedWrite.filesUnderDirs(tableDir,
          PartitionedWrite.leafPartitionDirs(tableDir))
          .map(_.getFileName.toString))
      // serveFiles result cached per Aggregation instance (Spark
      // passes the same object to both probes)
      private var servedFor: AnyRef = null
      private def serve(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation) = {
        if (servedFor ne agg) {
          // pending merge-on-read deletes: per-file stats describe the
          // RAW files, so a metadata-only COUNT would over-count the
          // deleted rows — fall through to the (rewritten) row scan
          // until a compact materializes the deletes
          servedAgg =
            // PK-dirty snapshots: per-file stats describe RAW versions
            // (shadowed duplicates included) — a metadata COUNT would
            // over-count; key-aware compact restores this path
            if (morDeleteFiles.nonEmpty || pkDirty) None
            else StatsAggregates.serveFiles(tableDir,
              currentBasenames, logicalSchema, physName, agg, manifestStats)
          servedFor = agg
        }
        servedAgg
      }
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        filters.isEmpty && serve(agg).isDefined
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        if (filters.nonEmpty) { servedAgg = None; return false }
        serve(agg).isDefined
      }
      override def pruneColumns(requiredSchema: StructType): Unit = {
        requiredLogical = Some(requiredSchema)
        // inner scans speak PHYSICAL names; readSchema translates back
        required = Some(physSchema(requiredSchema))
        // the fallback scans the table ROOT — never touch it for
        // snapshot tables (listing it forces partition inference over
        // dead files and, under spec evolution, over mixed shapes)
        if (snapshot.isEmpty) fallback match {
          case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
            c.pruneColumns(physSchema(requiredSchema))
          case _ => ()
        }
      }
      override def pushFilters(
          fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
          Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
        filters = fs.map(physExpr)
        val residual =
          if (snapshot.isDefined) filters // per-group scans re-push; Spark re-applies residuals post-scan
          else fallback match {
            case f: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
              f.pushFilters(filters)
            case _ => filters
          }
        // residuals evaluate against the LOGICAL output rows post-scan
        if (renames.isEmpty) residual
        else residual.map(_.transform {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
              if toLog.contains(a.name) => a.withName(toLog(a.name))
        })
      }
      override def pushedFilters: Array[Predicate] =
        if (snapshot.isDefined) Array.empty
        else fallback match {
          case f: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
            f.pushedFilters
          case _ => Array.empty
        }
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        // a projection asking for the row-coordinate metadata columns
        // (SELECT _gmor_file, _gmor_pos — Iceberg's _file/_pos) plans
        // through the [[MorScanRewrite]] swap, which materializes them
        // from the V1 coordinate read; the placeholder is execution-
        // guarded, so a rule-less session fails loudly instead of
        // serving nulls
        val coordCols = Set(MorDeletes.FileKeyCol, MorDeletes.PosKeyCol)
        if (requiredLogical.exists(_.fieldNames.exists(coordCols)))
          return new MorDeltaScan(tableName,
            requiredLogical.get, morDeleteFiles.size)
        servedAgg match {
          case Some((aggSchema, row)) =>
            // the whole aggregation IS the sidecar fold: one local
            // row, zero data files opened
            return new org.apache.spark.sql.connector.read.LocalScan {
              override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
                Array(row)
              override def readSchema(): StructType = aggSchema
              override def description(): String = s"$tableName(stats-agg)"
            }
          case None => ()
        }
        // bucket-only layout: the keyed scan — reports
        // KeyGroupedPartitioning(bucket(n, col)) and plans one
        // HasPartitionKey group per _gbucket dir, so two same-bucketed
        // tables storage-partition-join with ZERO exchange
        spec match {
          // (not while merge-on-read deletes are pending: the SPJ
          // contract promises the scan's rows ARE the bucket's rows,
          // and the anti-join rewrite replaces the scan wholesale —
          // compaction restores the zero-shuffle path)
          case Seq(b: PartitionSpec.Bucket)
              if morDeleteFiles.isEmpty && !pkDirty =>
            return new BucketKeyedScan(tableName, tableDir, b,
              indexSchema, required, filters, snapshotDataFiles, logSchema)
          case _ => ()
        }
        // the file set the built scan actually covers (post partition
        // pruning + file skipping) — the statistics below must
        // describe THIS set, not the whole snapshot, or numRows and
        // sizeInBytes disagree by the pruning factor
        var coveredFiles: Option[Seq[Path]] = None
        val base = snapshot match {
          case Some(s) =>
            // SNAPSHOT scan: the manifest's file list is the truth —
            // never the directory listing (which holds files of older
            // snapshots too). Partition pruning runs over the
            // manifest-derived leaves (identity AND bucket here, since
            // the listing is explicit either way), then within-
            // partition file skipping drops survivors whose min/max
            // range or Bloom bitset excludes the pushed filters.
            val dataF = Snapshots.dataFiles(s.files)
            val leaves = Snapshots.leafDirsOf(dataF)
            val cands = PartitionPruning.splitLeaves(leaves, spec, filters)
              .map(_._1).getOrElse(leaves)
            val paths = Snapshots.filesUnder(dataF, cands)
              .map(Paths.get(_))
            val skipped = FileSkipping.filterFiles(tableDir, paths,
              filters, identity, manifestStats).getOrElse(paths)
            coveredFiles = Some(skipped)
            // partition-spec evolution: files of different directory
            // shapes cannot share one parquet scan — per-shape scans
            // union (old-shape files read the new partition column
            // from their file bytes, same index schema). The union
            // stays INSIDE the RuntimePrunedScan wrapper below, so
            // spec-evolved tables keep DPP (filter() re-plans the
            // union per shape group); toLogical=identity here because
            // the wrapper applies the logical mapping itself
            val shapes = skipped.groupBy(p =>
              Snapshots.shapeOf(p.toString)).toSeq.sortBy(_._1.mkString("/"))
            if (shapes.size > 1)
              new ShapeUnionScan(tableName,
                shapes.map { case (shape, fs) =>
                  RuntimePrunedScan.scanOver(tableName, tableDir,
                    indexSchema, fs, required, filters,
                    s"spec:${shape.mkString("/")}", listed = true)
                }, identity)
            else RuntimePrunedScan.scanOver(tableName, tableDir, indexSchema,
              skipped, required, filters,
              s"snapshot:v=${s.version}:${skipped.size}f", listed = true)
          case None =>
            // PLAIN layout: Spark's native scan prunes identity
            // partitions from the pushed filters itself; the custom
            // listing adds bucket-hash pruning and, when skipping
            // sidecars exist, within-partition file skipping.
            val dirCands = PartitionPruning.split(tableDir,
                spec.filter(_.isInstanceOf[PartitionSpec.Bucket]), filters)
              .map(_._1)
            val fileSkip =
              if (!FileSkipping.hasAny(tableDir) || filters.isEmpty) None
              else {
                // compose: prune dirs first (identity here too — the
                // file list is explicit, Spark's native dir pruning no
                // longer applies), then skip files inside survivors
                val leaves = PartitionPruning.split(tableDir, spec, filters)
                  .map(_._1)
                  .getOrElse(PartitionedWrite.leafPartitionDirs(tableDir))
                val files = PartitionedWrite.filesUnderDirs(tableDir, leaves)
                FileSkipping.filterFiles(tableDir, files, filters, identity)
                  .map(kept => (kept, files.size))
              }
            (fileSkip, dirCands) match {
              case (Some((kept, total)), _) =>
                RuntimePrunedScan.scanOver(tableName, tableDir, indexSchema,
                  kept, required, filters,
                  s"file-skip:${kept.size}/$total")
              case (None, Some(cands)) =>
                RuntimePrunedScan.scanOver(tableName, tableDir, indexSchema,
                  cands, required, filters, s"bucket-skip:${cands.size}")
              case (None, None) if renames.isEmpty => fallback.build()
              case (None, None) =>
                // renamed tables never surface the raw fallback (its
                // readSchema is physical); same listing, explicit
                RuntimePrunedScan.scanOver(tableName, tableDir, indexSchema,
                  PartitionedWrite.leafPartitionDirs(tableDir),
                  required, filters, "renamed")
            }
        }
        val scan = new RuntimePrunedScan(tableName, tableDir, spec,
          indexSchema, required, filters, base, snapshotDataFiles, logSchema,
          manifestStats, coveredFiles)
        // delete-carrying snapshots: metadata-complete but
        // execution-guarded — MorScanRewrite swaps the relation before
        // planning; a rule-less session fails loudly, never serves
        // rows a committed DELETE removed
        if (morDeleteFiles.nonEmpty)
          new MorGuardedScan(scan, tableName, morDeleteFiles.size)
        else if (pkDirty)
          // PK snapshots needing latest-per-key resolution: the same
          // guard discipline — metadata-complete, never executable
          // without the rewrite (serving raw rows would expose
          // shadowed key versions)
          new MorGuardedScan(scan, tableName, 0)
        else scan
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable("write")
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwriteV2
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      // append | dynamic | truncate | static(col=value conjunction)
      private var mode: PartitionedWrite.Mode = PartitionedWrite.Append
      override def overwriteDynamicPartitions(): WriteBuilder = {
        requireSingleSpec("dynamic partition overwrite")
        mode = PartitionedWrite.Dynamic; this
      }
      override def canOverwrite(predicates: Array[Predicate]): Boolean =
        predicates.forall(_.isInstanceOf[AlwaysTrue]) ||
          PartitionedWrite.staticSpecOf(predicates, identityCols).isDefined
      override def truncate(): WriteBuilder = {
        mode = PartitionedWrite.Truncate; this
      }
      override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
        if (!predicates.forall(_.isInstanceOf[AlwaysTrue]))
          requireSingleSpec("static partition overwrite")
        if (predicates.forall(_.isInstanceOf[AlwaysTrue]))
          mode = PartitionedWrite.Truncate
        else mode = PartitionedWrite.Static(
          PartitionedWrite.staticSpecOf(predicates, identityCols).getOrElse(
            throw new UnsupportedOperationException(
              s"$tableName: INSERT OVERWRITE on a partitioned lake table " +
                "supports only identity-partition equality conditions " +
                s"(got ${predicates.mkString(", ")})")))
        this
      }
      override def build(): Write =
        new PartitionedWrite(tableDir, spec, info.schema(), mode, renames)
    }
  }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    // PK tables: only a FULL-key equality conjunction is pushable (the
    // BLIND key delete — one equality-delete row written, zero rows
    // read); anything else routes to the delta row-level DELETE, which
    // evaluates the predicate over the RESOLVED rows
    if (pkDef.isDefined) pkEqualitySpec(predicates).isDefined
    else predicates.forall(DeletableTable.toColumn(_, physName).isDefined)

  /** `predicates` as a FULL primary-key equality: every predicate is
    * `pk_col = literal` and together they bind every key column
    * exactly once. The value set of the blind key delete. */
  private def pkEqualitySpec(predicates: Array[Predicate])
      : Option[Seq[org.apache.spark.sql.catalyst.expressions.Literal]] = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLit, NamedReference}
    val keys = pkDef.get.keys
    val bound = scala.collection.mutable.HashMap
      .empty[String, org.apache.spark.sql.catalyst.expressions.Literal]
    predicates.foreach { p =>
      if (p.name() != "=") return None
      val (name, lit) = p.children() match {
        case Array(f: NamedReference, l: VLit[_])
            if f.fieldNames().length == 1 =>
          (f.fieldNames()(0), l)
        case Array(l: VLit[_], f: NamedReference)
            if f.fieldNames().length == 1 =>
          (f.fieldNames()(0), l)
        case _ => return None
      }
      val key = keys.find(_.equalsIgnoreCase(name)).getOrElse(return None)
      val declared = logicalSchema(logicalSchema.fieldIndex(key)).dataType
      if (lit.dataType() != declared || lit.value() == null) return None
      if (bound.contains(key)) return None
      bound(key) = org.apache.spark.sql.catalyst.expressions.Literal(
        lit.value(), lit.dataType())
    }
    if (keys.forall(bound.contains)) Some(keys.map(bound)) else None
  }

  /** The target-partition directory a PK value set lives in, as the
    * hive path string — spec columns are a subset of the key (enforced
    * at CREATE), so the blind delete's scope is computable without
    * reading anything: [[PartitionSpec.dirOf]] evaluated on the
    * literals. */
  private def pkTargetDir(lits: Seq[Literal]): String =
    PartitionSpec.dirOf(spec, pkDef.get.keys.zip(lits).toMap,
      SparkSession.active.sessionState.conf.sessionLocalTimeZone)(
      InternalRow.empty)

  /** Copy-on-write DELETE that PRESERVES the partition layout.
    * PARTITION-granular ([[PartitionPruning]]): when the condition
    * provably excludes some leaf partition directories (identity
    * equality, bucket-hash equality), ONLY the candidate subtrees
    * rewrite — carried directories are never listed, read, or moved.
    * At 100 TB a one-partition DELETE touches one partition. No
    * provable exclusion → the pre-r10 whole-table rewrite through the
    * shared publish machinery. */
  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    requireWritable("DELETE")
    val spark = SparkSession.active
    if (pkDef.isDefined) {
      // BLIND equality delete (canDeleteWhere admitted only the
      // full-key form): persist ONE key row stamped with this commit's
      // sequence — applies to every lower-sequence file, reads
      // nothing, validates nothing (declared last-writer-wins, the
      // Paimon/Iceberg blind-key-delete semantics a CDC consumer
      // needs at 100 TB)
      val lits = pkEqualitySpec(predicates).getOrElse(
        throw new IllegalStateException(
          s"$tableName: unpushable DELETE reached deleteWhere"))
      val keySchema = PkTables.keyFileSchema(tableDir, pkDef.get.keys)
      val external = lits.zip(keySchema.fields).map { case (l, f) =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(f.dataType)(l.value)
      }
      val row = org.apache.spark.sql.Row(external :+ pkTargetDir(lits): _*)
      val df = spark.createDataFrame(
        java.util.List.of(row),
        StructType(keySchema.fields :+
          StructField(MorDeletes.TargetDirCol,
            org.apache.spark.sql.types.StringType)))
      val moved = PkTables.writeEqDeleteFiles(spark, tableDir, df)
      Snapshots.commitRouted(tableDir, Snapshots.Op.Delete,
        cur => cur ++ moved,
        freshStats = MorDeletes.deleteFileRowStats(tableDir, moved))
      spark.catalog.clearCache()
      return
    }
    // the condition evaluates against the staged read, which speaks
    // PHYSICAL names (indexSchema) — translate at the boundary
    val cond = predicates
      .map(p => DeletableTable.toColumn(p, physName).getOrElse(
        throw new UnsupportedOperationException(
          s"$tableName: cannot push delete condition $p")))
      .reduceOption(_ && _).getOrElse(lit(true))
    def stage(df: org.apache.spark.sql.DataFrame, tmp: Path): Unit = {
      PartitionedWrite.deleteRecursive(tmp)
      val kept = df.filter(not(coalesce(cond, lit(false))))
      val staged = bucketOpt.fold(kept)(b =>
        kept.withColumn(PartitionSpec.BucketDir, b.idOf(col(b.col))))
      // rewrites keep the declared write clustering ([[WriteOrder]])
      val order = WriteOrder.read(tableDir)
        .map(physName).filter(staged.columns.contains)
      val sorted =
        if (order.isEmpty) staged
        else staged.sortWithinPartitions(
          (PartitionSpec.dirCols(spec).filter(staged.columns.contains) ++
            order).map(col): _*)
      sorted.write
        .partitionBy(PartitionSpec.dirCols(spec): _*)
        .parquet(tmp.toString)
    }
    if (snapshot.isDefined) {
      val s = snapshot.get
      val pendingDels = Snapshots.deleteFiles(s.files)
      val dataF = Snapshots.dataFiles(s.files)
      val leaves = Snapshots.leafDirsOf(dataF)
      val candDirs = PartitionPruning.splitLeaves(leaves, spec,
          predicates.toSeq.map(DeletableTable.statsFilter))
        .map(_._1).getOrElse(leaves)
      val candFiles = Snapshots.filesUnder(dataF, candDirs)
      if (candFiles.isEmpty) return // nothing can match: no-op
      val candDirSet = candDirs.map(_.toString).toSet
      if (MorDeletes.morEnabled(spark)) {
        // MERGE-ON-READ delete ([[MorDeletes]]): persist the matching
        // rows' (file, pos) coordinates as delete files and commit a
        // manifest that ADDS only them — zero data bytes rewritten, a
        // one-partition predicate reads one partition's candidates.
        // Pending deletes are applied first, so a second MoR delete
        // records only still-live rows (re-recording a coordinate
        // would be harmlessly idempotent anyway) — and only the
        // pending files whose TARGET partitions intersect the
        // candidates join (coordinates for other partitions cannot
        // match candidate basenames; same static proof as the read).
        val relevantDels = pendingDels.filter(f =>
          MorDeletes.targetDirOf(f).fold(true)(d => candDirSet(d.toString)))
        val rows = MorDeletes.resolve(spark, morScope,
          MorDeletes.readDataWithCoords(spark, tableDir, candFiles),
          relevantDels, Nil)
        // the coordinate key IS the table-relative path, so the
        // target partition dir (which scopes the delete files the
        // read side prunes statically) is just its parent — no
        // file-list join needed
        val hits = rows.filter(coalesce(cond, lit(false)))
          .select(col(MorDeletes.FileKeyCol), col(MorDeletes.PosKeyCol),
            MorDeletes.parentDirExpr(col(MorDeletes.FileKeyCol))
              .as(MorDeletes.TargetDirCol))
        // ONE job: write the coordinates directly — a predicate that
        // matched nothing stages zero part files (the partitioned
        // writer opens files per encountered key only) and commits
        // nothing; probing emptiness first would run the scan twice
        val moved = MorDeletes.writeDeleteFiles(spark, tableDir, hits)
        if (moved.isEmpty) return // nothing matched: no commit
        // validation: the coordinates address candFiles — a concurrent
        // rewrite replacing one of them would orphan our coordinates
        // and LOSE this delete; conflict and re-run instead. Con-
        // current MoR deletes compose (anti-join is idempotent), and
        // appends merge (new files, new names, never addressed here).
        Snapshots.commitRouted(tableDir, Snapshots.Op.Delete,
          cur => cur ++ moved,
          Snapshots.validateFilesLive("DELETE", candFiles),
          // delete-file row counts (footer reads, no data pages) ride
          // the stats block: the read side sizes its deletion vector
          // from manifest metadata alone
          freshStats = MorDeletes.deleteFileRowStats(tableDir, moved))
        spark.catalog.clearCache()
        return
      }
      // COPY-ON-WRITE delete (default): the candidate partitions'
      // SURVIVING rows (pending merge-on-read deletes applied) restage
      // under the current spec, the candidates drop from the manifest,
      // nothing is physically deleted (older snapshots still read the
      // pre-delete files). Pending delete files SCOPED to the replaced
      // partitions drop with them — every coordinate they hold
      // addresses a file that is now dead, so carrying them would only
      // keep the table needlessly dirty (and an all-rows DELETE would
      // otherwise leave a delete-files-only manifest). Unscoped files
      // stay, conservatively.
      val inertDels = pendingDels.filter(f =>
        MorDeletes.targetDirOf(f).exists(d => candDirSet(d.toString)))
      val tmp = tableDir.resolveSibling(
        tableDir.getFileName.toString + ".__rewrite-" +
          java.util.UUID.randomUUID().toString.take(8))
      stage(MorDeletes.resolvedRows(spark,
          morScope.copy(files = candFiles ++ pendingDels))
        .drop(PartitionSpec.BucketDir), tmp)
      val staged = PartitionedWrite.mergeIntoReturning(tmp, tableDir)
      // optimistic commit under snapshot isolation: concurrent appends
      // merge (their files were never read here); a concurrent commit
      // that removed/rewrote one of OUR read files — or added a delete
      // file we did not apply — conflicts (keeping `staged` would
      // resurrect rows that commit deleted)
      Snapshots.commitRouted(tableDir, Snapshots.Op.Delete,
        cur => cur.diff(candFiles).diff(inertDels) ++ staged,
        Snapshots.validateRewrite("DELETE", candFiles, s.files),
        freshStats = Snapshots.freshStatsFor(spark, tableDir, staged))
      spark.catalog.clearCache()
      return
    }
    PartitionPruning.split(tableDir, spec,
      predicates.toSeq.map(DeletableTable.statsFilter)) match {
      // (plain layout below — snapshot tables returned above)
      case Some((cands, _)) if cands.isEmpty =>
        () // every partition provably excludes the condition: no-op
      case Some((cands, _)) =>
        val tmp = DeletableTable.stagingDir(tableDir)
        // candidate subtrees only; basePath keeps partition inference,
        // the hidden bucket column re-derives at write
        stage(spark.read.option("basePath", tableDir.toString)
          .schema(indexSchema)
          .parquet(cands.map(r => tableDir.resolve(r).toString): _*)
          .drop(PartitionSpec.BucketDir), tmp)
        cands.foreach(rel =>
          PartitionedWrite.deleteRecursive(tableDir.resolve(rel)))
        PartitionedWrite.mergeInto(tmp, tableDir)
        spark.catalog.clearCache()
      case None =>
        val tmp = DeletableTable.stagingDir(tableDir)
        // indexSchema speaks the files' PHYSICAL names (the condition
        // was translated to match); the hidden bucket column re-derives
        // inside stage()
        stage(spark.read.schema(indexSchema).parquet(tableDir.toString)
          .drop(PartitionSpec.BucketDir), tmp)
        DeletableTable.publishStagedRewrite(tableDir, tmp)
        ()
    }
  }

  /** `UPDATE` / `MERGE INTO` via Spark's group-based copy-on-write
    * rewrite (the [[DeletableTable]] machinery re-expressed for the
    * hive layout): the rewrite GROUP is the PARTITION. The pushed
    * condition splits the leaf directories through
    * [[PartitionPruning]]; the group scan covers ONLY the candidate
    * subtrees (partition values inferred via basePath), Spark plans
    * the replacement rows, and commit replaces exactly the candidate
    * directories with the re-laid-out staging — rows whose partition
    * values changed migrate to their new `col=value` homes, carried
    * directories never move. No provable exclusion → one whole-table
    * group (all data subtrees replaced at commit). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireWritable("UPDATE/MERGE")
    // Mixed partition specs (ADD PARTITION FIELD evolution) need no
    // guard here: the group scan below unions per-shape scans and the
    // write restages under the CURRENT spec — row-level DML on an
    // evolved table works directly and migrates its groups forward.
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        // PRIMARY-KEY tables are INHERENTLY merge-on-read: every
        // UPDATE / MERGE / non-blind DELETE plans as the delta write
        // keyed by the PRIMARY KEY ([[PkDelta]]) — updates split into
        // (equality delete of the old key, append of the new row),
        // deletes write key rows, inserts append; one optimistic
        // commit, zero data files rewritten. The group-based
        // copy-on-write path would be WRONG here (it replays raw
        // partition contents — every shadowed version — through the
        // replacement projection).
        // MERGE-ON-READ DML ([[MorDelta]]): with
        // `graft.write.mode='merge-on-read'` on a versioned table,
        // UPDATE / MERGE / non-pushable DELETE plan as the same delta
        // write keyed by position-delete coordinates, and work with OR
        // without pending delete files. (Pushable DELETEs still route
        // to the metadata-only deleteWhere.)
        val kind: Option[DeleteKind] =
          if (snapshot.isEmpty) None
          else pkDef.map(new PkDelta(tableDir, spec, _)).orElse(
            if (MorDeletes.morEnabled(SparkSession.active))
              Some(new MorDelta(spec))
            else None)
        kind.fold(buildGroupBased())(new DeltaOperation(tableName,
          tableDir, logicalSchema, spec, snapshot.get.files, renames, _,
          info.command()))
      }

      private def buildGroupBased(): RowLevelOperation = new RowLevelOperation {
        override def command(): RowLevelOperation.Command = info.command()
        // table-relative candidate dirs the group scan covered; None =
        // whole-table group (commit then replaces every data subtree)
        @volatile private var scanned: Option[Seq[Path]] = None
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
          new ScanBuilder
              with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
              with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
            private var required: Option[StructType] = None
            private var filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty
            override def pruneColumns(requiredSchema: StructType): Unit =
              required = Some(requiredSchema)
            // claim every filter while row-filtering NOTHING: filters
            // prune GROUPS (partitions) only — the condition itself
            // applies inside Spark's replacement projection, and a
            // row-filtered scan would vanish the untouched rows of
            // candidate partitions from the rewrite
            override def pushFilters(
                fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
                Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
              filters = fs; Seq.empty
            }
            override def pushedFilters: Array[Predicate] = Array.empty
            override def build(): org.apache.spark.sql.connector.read.Scan = {
              // pending merge-on-read deletes: the group-based rewrite
              // replays every group row through Spark's replacement
              // projection, and this group scan is a bare parquet
              // read — it would resurrect the deleted rows.
              // Materialize first (loud, never silent); the same CALL
              // restores SPJ and metadata-only aggregates. Gated HERE
              // (not at the operation builder): Spark constructs the
              // row-level plan for every DELETE before the
              // metadata-only deleteWhere optimization discards it,
              // and deleteWhere handles pending deletes itself.
              if (morDeleteFiles.nonEmpty)
                throw new UnsupportedOperationException(
                  s"$tableName: copy-on-write UPDATE/MERGE (or a " +
                    "non-pushable DELETE) with " +
                    s"${morDeleteFiles.size} pending merge-on-read " +
                    "delete file(s) — SET graft.write.mode=" +
                    "'merge-on-read' to run this as a position-delta " +
                    "commit, or CALL system.compact(...) to " +
                    "materialize the deletes first")
              val opts = new CaseInsensitiveStringMap(
                util.Map.of("basePath", tableDir.toString))
              def pruneAndBuild(b: ScanBuilder)
                  : org.apache.spark.sql.connector.read.Scan = {
                required.foreach { s =>
                  b match {
                    case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
                      c.pruneColumns(physSchema(s))
                    case _ => ()
                  }
                }
                b.build()
              }
              // snapshot group scans honor the one-scan-per-shape rule
              // (ADD PARTITION FIELD evolution): per-shape scans union
              // through ShapeUnionScan, and the write side restages
              // every group row under the CURRENT spec — so an UPDATE
              // or MERGE on a spec-evolved table works directly and,
              // like DELETE, migrates its candidates forward
              def snapshotScan(files: Seq[String], label: String)
                  : org.apache.spark.sql.connector.read.Scan = {
                // data files only (defensive: row-level ops are gated
                // while merge-on-read deletes are pending); indexed from
                // the manifest's list, in path order
                val groups = Snapshots.groupByShape(
                    Snapshots.dataFiles(files)).map { case (shape, fs) =>
                  pruneAndBuild(org.apache.spark.sql.GraftReadBridge.listedTable(
                    s"$tableName($label:${shape.mkString("/")})",
                    SparkSession.active, Snapshots.listedStatuses(tableDir, fs),
                    indexSchema, Map("basePath" -> tableDir.toString))
                    .newScanBuilder(opts))
                }
                if (groups.size == 1) groups.head
                else if (groups.isEmpty) // empty snapshot: empty scan
                  pruneAndBuild(ParquetTable(s"$tableName($label:empty)",
                    SparkSession.active, opts, Seq.empty,
                    Some(indexSchema), classOf[ParquetFileFormat])
                    .newScanBuilder(opts))
                else new ShapeUnionScan(tableName, groups, identity)
              }
              val leaves = snapshotFiles.map(Snapshots.leafDirsOf)
              val built = PartitionPruning.splitLeaves(
                  leaves.getOrElse(PartitionedWrite.leafPartitionDirs(tableDir)),
                  spec, filters) match {
                case None =>
                  scanned = None
                  snapshotFiles match {
                    case None => pruneAndBuild(
                      innerRead.newScanBuilder(CaseInsensitiveStringMap.empty()))
                    case Some(fs) =>
                      // whole-table group over the SNAPSHOT's files —
                      // directory contents include older snapshots'
                      snapshotScan(fs, "rewrite:snapshot")
                  }
                case Some((cands, _)) =>
                  scanned = Some(cands)
                  snapshotFiles match {
                    case None => pruneAndBuild(ParquetTable(
                      s"$tableName(rewrite:${cands.size} partitions)",
                      SparkSession.active, opts,
                      cands.map(r => tableDir.resolve(r).toString),
                      Some(indexSchema), classOf[ParquetFileFormat])
                      .newScanBuilder(opts))
                    case Some(fs) =>
                      snapshotScan(Snapshots.filesUnder(fs, cands),
                        s"rewrite:${cands.size} partitions")
                  }
              }
              if (renames.isEmpty) built
              else new org.apache.spark.sql.connector.read.Scan {
                // physical→logical at the group-scan boundary (rows
                // are positional; only the names translate)
                override def readSchema(): StructType =
                  logSchema(built.readSchema())
                override def toBatch: org.apache.spark.sql.connector.read.Batch =
                  built.toBatch
                override def description(): String = built.description()
              }
            }
          }
        override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
          new WriteBuilder {
            override def build(): Write = new PartitionedWrite(tableDir,
              spec, winfo.schema(),
              PartitionedWrite.Rewrite(() => scanned, snapshotFiles), renames)
          }
      }
    }
  }
}

/** Runtime partition pruning for the partitioned lake scan — the V2
  * dynamic-partition-pruning hook Spark's own parquet scan does not
  * implement ([[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]):
  * in a star join, the optimizer's `PartitionPruning` rule sees the
  * scan's filterable attributes (the partition columns — identity AND
  * bucket source keys), plants a `DynamicPruningExpression` fed by the
  * dim side's broadcast, and `BatchScanExec` hands the materialized
  * key set to [[filter]] before planning input partitions. The scan
  * then re-lists only the `col=value` / `_gbucket=<id>` subtrees the
  * runtime keys can touch — at 100 TB, a date-dim or key-set join
  * prunes the fact scan to the matching partitions without any static
  * predicate in the query text (the Iceberg/Delta DPP behavior).
  *
  * Mutable-state contract (per the interface javadoc): Spark calls
  * `filter` on the DRIVER before `toBatch.planInputPartitions()`;
  * both delegate to whatever `current` points at, so the pre-filter
  * plan (statistics, columnar support probes) and the post-filter
  * execution stay consistent. Only provable exclusion reprunes —
  * unconvertible runtime predicates leave the scan untouched. */
private[catalog] final class RuntimePrunedScan(
    tableName: String,
    tableDir: Path,
    spec: Seq[PartitionSpec.Field],
    indexSchema: StructType,
    required: Option[StructType],
    pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    initial: org.apache.spark.sql.connector.read.Scan,
    snapshotFiles: Option[Seq[String]] = None,
    toLogical: StructType => StructType = identity,
    snapshotStats: Option[Map[String, FileStats.FileStat]] = None,
    initialFiles: Option[Seq[Path]] = None)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  @volatile private var current: org.apache.spark.sql.connector.read.Scan =
    initial
  // the file set `current` covers — statistics follow every re-plan
  @volatile private var statFiles: Option[Seq[Path]] = initialFiles

  override def readSchema(): StructType = toLogical(current.readSchema())
  override def description(): String = current.description()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def planInputPartitions():
      Array[org.apache.spark.sql.connector.read.InputPartition] =
    current.toBatch.planInputPartitions()
  override def createReaderFactory():
      org.apache.spark.sql.connector.read.PartitionReaderFactory =
    current.toBatch.createReaderFactory()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val inner = current match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        Some(s.estimateStatistics())
      case _ => None
    }
    // manifest stats carry EXACT per-file row counts: surface numRows
    // (the inner parquet scan only sizes bytes) so the optimizer's
    // broadcast/join decisions see the true cardinality — summed over
    // the files THIS scan covers (post partition-pruning/skipping,
    // tracked across DPP re-plans), so numRows and sizeInBytes
    // describe the same set; still an upper bound once row filters
    // push (the standard V2 statistics contract). Computed from
    // statFiles/snapshotStats INDEPENDENTLY of the inner scan's
    // statistics support — spec-evolved (shape-union) snapshot scans
    // report the true cardinality too, not just single-shape ones.
    val exactRows = for {
      files <- statFiles
      stats <- snapshotStats if stats.nonEmpty
      rows <- {
        val per = files.map(f =>
          stats.get(f.getFileName.toString).flatMap(_.rows))
        if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
      }
    } yield rows
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes() =
        inner.fold(java.util.OptionalLong.empty())(_.sizeInBytes())
      override def numRows() = exactRows.fold(
        inner.fold(java.util.OptionalLong.empty())(_.numRows()))(
        java.util.OptionalLong.of)
    }
  }

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    RuntimePrunedScan.filterRefs(readSchema(), spec.map(_.col))

  override def filter(predicates: Array[Predicate]): Unit = {
    val runtime = predicates.toSeq.map(DeletableTable.statsFilter)
    val leaves = snapshotFiles.map(Snapshots.leafDirsOf)
      .getOrElse(PartitionedWrite.leafPartitionDirs(tableDir))
    PartitionPruning.splitLeaves(leaves, spec, pushed ++ runtime) match {
      case Some((cands, carried)) if carried.nonEmpty =>
        // versioned tables re-plan over the snapshot's files in the
        // surviving partitions, plain ones over the directories
        // (file-granular only when skipping sidecars exist); the
        // static FILE skipping re-applies on both layouts so a DPP
        // event never opens files the stats/Bloom sidecars had
        // already proven skippable
        val paths = snapshotFiles match {
          case Some(fs) => Snapshots.filesUnder(fs, cands).map(Paths.get(_))
          case None if FileSkipping.hasAny(tableDir) =>
            PartitionedWrite.filesUnderDirs(tableDir, cands)
          case None => cands
        }
        val skipped =
          if (snapshotFiles.isEmpty && !FileSkipping.hasAny(tableDir)) paths
          else FileSkipping.filterFiles(tableDir, paths, pushed, identity,
            snapshotStats).getOrElse(paths)
        // spec-evolved snapshots: the DPP re-plan must honor the
        // same one-scan-per-shape rule as the static plan
        val shapes = skipped.groupBy(p =>
          Snapshots.shapeOf(p.toString)).toSeq.sortBy(_._1.mkString("/"))
        statFiles = Some(skipped)
        current =
          if (shapes.size > 1)
            new ShapeUnionScan(tableName, shapes.map { case (shape, fs) =>
              RuntimePrunedScan.scanOver(tableName, tableDir, indexSchema,
                fs, required, pushed, s"dpp-spec:${shape.mkString("/")}",
                listed = snapshotFiles.isDefined)
            }, identity)
          else RuntimePrunedScan.scanOver(tableName, tableDir,
            indexSchema, skipped, required, pushed, s"dpp:${cands.size}",
            listed = snapshotFiles.isDefined)
      case _ => () // nothing provably excluded: keep the static scan
    }
  }
}

/** The STORAGE-PARTITIONED-JOIN scan for bucket-only tables (Iceberg's
  * SPJ model, SPARK-37375): reports
  * `KeyGroupedPartitioning(bucket(n, col))` — resolved through the
  * catalog's V2 `bucket` function ([[GraftFunctions]]) — and plans one
  * `HasPartitionKey` input-partition group per `_gbucket=<id>`
  * directory. With `spark.sql.sources.v2.bucketing.enabled=true`, two
  * tables bucketed the same way equi-join on the bucket key with ZERO
  * shuffle exchange: at 100 TB the co-located fact⋈fact join reads
  * bucket-aligned directory pairs directly. With the conf off, the
  * keyed partitions degrade to ordinary ones — nothing else changes.
  *
  * Each bucket's files plan through their own per-directory parquet
  * scan (column pruning + pushed filters re-applied); the partition
  * carries its reader factory, and [[BucketKeyedScan.DispatchFactory]]
  * routes createReader back to it — one Batch, per-bucket readers.
  * Runtime filtering composes: a materialized key set drops whole
  * bucket directories before planning ([[PartitionPruning]]). */
private[catalog] final class BucketKeyedScan(
    tableName: String,
    tableDir: Path,
    bucket: PartitionSpec.Bucket,
    indexSchema: StructType,
    required: Option[StructType],
    pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    snapshotFiles: Option[Seq[String]] = None,
    toLogical: StructType => StructType = identity)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  /** The leaf bucket directories this scan can see: manifest-derived
    * for versioned tables, filesystem-listed for plain ones. */
  private def allLeaves: Seq[Path] = snapshotFiles.map(Snapshots.leafDirsOf)
    .getOrElse(PartitionedWrite.leafPartitionDirs(tableDir))

  // statically-pruned then runtime-filtered candidate dirs; None =
  // everything current (the static pushed filters prune up front —
  // a `k = 17` lookup plans its one bucket before any runtime filter)
  @volatile private var keptDirs: Option[Seq[Path]] =
    PartitionPruning.splitLeaves(allLeaves, Seq(bucket), pushed).map(_._1)

  private def currentDirs: Seq[(Int, Path)] =
    keptDirs.getOrElse(allLeaves)
      .flatMap { rel =>
        val seg = rel.iterator().asScala.map(_.toString)
          .find(_.startsWith(PartitionSpec.BucketDir + "="))
        seg.flatMap(_.stripPrefix(PartitionSpec.BucketDir + "=")
          .toIntOption).map(_ -> rel)
      }.sortBy(_._1)

  private def scanFor(dirs: Seq[Path], label: String) = {
    // versioned: scan exactly the snapshot's files of those buckets
    val paths = snapshotFiles.fold(dirs)(fs =>
      Snapshots.filesUnder(fs, dirs).map(Paths.get(_)))
    RuntimePrunedScan.scanOver(tableName, tableDir, indexSchema,
      paths, required, pushed, label)
  }

  // representative scan over the current candidates: schema,
  // statistics, and the listing metadata shown in plan strings —
  // memoized per keptDirs generation like the partition plan
  @volatile private var wholeFor: AnyRef = null
  @volatile private var wholeScan: org.apache.spark.sql.connector.read.Scan = null
  private def whole: org.apache.spark.sql.connector.read.Scan = synchronized {
    val gen: AnyRef = keptDirs
    if (wholeFor ne gen) {
      wholeScan = scanFor(currentDirs.map(_._2), "bucket-keyed")
      wholeFor = gen
    }
    wholeScan
  }

  // memoized per keptDirs generation so outputPartitioning (consulted
  // at optimization) and the exec's planInputPartitions (consulted
  // after any runtime filter) stay consistent with each other
  @volatile private var plannedFor: AnyRef = null
  @volatile private var plannedParts: Array[InputPartition] = Array.empty
  private def planned: Array[InputPartition] = synchronized {
    val gen: AnyRef = keptDirs
    if (plannedFor ne gen) {
      plannedParts = currentDirs.flatMap { case (id, rel) =>
        val sb = scanFor(Seq(rel), s"bucket=$id")
        val batch = sb.toBatch
        val factory = batch.createReaderFactory()
        batch.planInputPartitions().map(p =>
          new BucketKeyedScan.KeyedPartition(
            org.apache.spark.sql.catalyst.InternalRow(id), p, factory))
      }.toArray
      plannedFor = gen
    }
    plannedParts
  }

  override def readSchema(): StructType = toLogical(whole.readSchema())
  override def description(): String = whole.description()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def planInputPartitions(): Array[InputPartition] = planned
  override def createReaderFactory(): PartitionReaderFactory =
    new BucketKeyedScan.DispatchFactory
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    whole match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(Expressions.bucket(bucket.n, bucket.col)), planned.length)

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    RuntimePrunedScan.filterRefs(readSchema(), Seq(bucket.col))

  override def filter(predicates: Array[Predicate]): Unit = {
    val runtime = predicates.toSeq.map(DeletableTable.statsFilter)
    PartitionPruning.splitLeaves(allLeaves, Seq(bucket), pushed ++ runtime) match {
      case Some((cands, carried)) if carried.nonEmpty => keptDirs = Some(cands)
      case _ => ()
    }
  }
}

private[catalog] object BucketKeyedScan {

  /** An input partition pinned to its bucket id (the SPJ grouping key)
    * that carries the per-bucket reader factory it was planned by. */
  private[catalog] final class KeyedPartition(
      key: org.apache.spark.sql.catalyst.InternalRow,
      private[catalog] val inner: org.apache.spark.sql.connector.read.InputPartition,
      private[catalog] val factory: org.apache.spark.sql.connector.read.PartitionReaderFactory)
      extends org.apache.spark.sql.connector.read.InputPartition
      with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
    override def preferredLocations(): Array[String] = inner.preferredLocations()
  }

  /** Routes reader creation back to each partition's own factory —
    * one Batch-level factory, per-bucket underlying readers. */
  private[catalog] final class DispatchFactory
      extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    private def un(p: org.apache.spark.sql.connector.read.InputPartition) =
      p.asInstanceOf[KeyedPartition]
    override def createReader(p: org.apache.spark.sql.connector.read.InputPartition) =
      un(p).factory.createReader(un(p).inner)
    override def createColumnarReader(p: org.apache.spark.sql.connector.read.InputPartition) =
      un(p).factory.createColumnarReader(un(p).inner)
    override def supportColumnarReads(p: org.apache.spark.sql.connector.read.InputPartition) =
      un(p).factory.supportColumnarReads(un(p).inner)
  }
}

/** A row-based UNION of per-shape parquet scans — the read side of
  * partition-spec evolution (Iceberg's ADD PARTITION FIELD): files
  * written under the OLD spec carry the new partition column as an
  * ordinary DATA column inside the file, files written under the NEW
  * spec carry it in their directory name, and one parquet scan cannot
  * mix the two directory shapes (partition inference rejects the
  * conflict). Each shape group scans separately (with the SAME index
  * schema — a column absent from a group's paths reads from its
  * files), and every group's rows project to one common output order;
  * Spark's name-based relation projection does the rest. */
private[catalog] final class ShapeUnionScan(
    tableName: String,
    groups: Seq[org.apache.spark.sql.connector.read.Scan],
    toLogical: StructType => StructType)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}

  require(groups.nonEmpty)
  private val target: StructType = groups.head.readSchema()

  /** Sum of the per-shape scans' statistics: sizeInBytes when every
    * group reports one (each group is an ordinary parquet scan, which
    * does), numRows only when all do — a spec-evolved snapshot scan
    * then reports real statistics instead of none. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val per = groups.map {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        Some(s.estimateStatistics())
      case _ => None
    }
    def sum(f: org.apache.spark.sql.connector.read.Statistics =>
        java.util.OptionalLong): java.util.OptionalLong =
      if (per.forall(_.exists(st => f(st).isPresent)))
        java.util.OptionalLong.of(per.flatten.map(st => f(st).getAsLong).sum)
      else java.util.OptionalLong.empty()
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes() = sum(_.sizeInBytes())
      override def numRows() = sum(_.numRows())
    }
  }

  override def readSchema(): StructType = toLogical(target)
  override def description(): String =
    s"$tableName(spec-evolution union:${groups.size} shapes)"
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  /** One group's partition, carrying its reader factory and the
    * column-index mapping from the group's natural output order to
    * the union's target order. */
  private final class GroupPartition(
      private[ShapeUnionScan] val inner: InputPartition,
      private[ShapeUnionScan] val factory: PartitionReaderFactory,
      private[ShapeUnionScan] val mapping: Array[Int],
      private[ShapeUnionScan] val types: Array[org.apache.spark.sql.types.DataType])
      extends InputPartition {
    override def preferredLocations(): Array[String] = inner.preferredLocations()
  }

  override def planInputPartitions(): Array[InputPartition] =
    groups.flatMap { g =>
      val gs = g.readSchema()
      val mapping = target.fields.map(f => gs.fieldIndex(f.name))
      val types = mapping.map(i => gs.fields(i).dataType)
      val batch = g.toBatch
      val factory = batch.createReaderFactory()
      batch.planInputPartitions().map(p =>
        new GroupPartition(p, factory, mapping, types))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      // row-based only: the per-group column orders differ, and the
      // reorder projection is a row operation
      override def supportColumnarReads(p: InputPartition): Boolean = false
      override def createReader(p: InputPartition):
          PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
        val gp = p.asInstanceOf[GroupPartition]
        val inner = gp.factory.createReader(gp.inner)
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(gp.mapping.zip(gp.types).map { case (i, dt) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, dt, true): org.apache.spark.sql.catalyst.expressions.Expression
          }.toSeq)
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          override def next(): Boolean = inner.next()
          override def get(): org.apache.spark.sql.catalyst.InternalRow =
            proj(inner.get())
          override def close(): Unit = inner.close()
        }
      }
    }
}

private[catalog] object RuntimePrunedScan {

  /** The runtime-filter columns of a scan: those of `cols` its read
    * schema still holds. Spark resolves them against the scan's output,
    * so a partition or bucket column pruned from the read (a join that
    * selects no key column) would fail the join's analysis. */
  private[catalog] def filterRefs(readSchema: StructType, cols: Seq[String]):
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    cols.filter(c => readSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
      .map(Expressions.column).toArray

  /** A parquet scan over only the given table-relative partition dirs
    * or files (basePath keeps partition-value inference), with the
    * original column pruning and pushed filters re-applied so the read
    * schema and row filtering match the scan it replaces. `listed`:
    * `cands` are a manifest's files, and the scan's index is built from
    * that list ([[Snapshots.listedStatuses]]) — no existence-check pool
    * and no listing job; otherwise Spark lists the paths. */
  private[catalog] def scanOver(
      tableName: String,
      tableDir: Path,
      indexSchema: StructType,
      cands: Seq[Path],
      required: Option[StructType],
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      label: String,
      listed: Boolean = false): org.apache.spark.sql.connector.read.Scan = {
    val spark = SparkSession.active
    val name = s"$tableName($label)"
    val opts = new CaseInsensitiveStringMap(
      util.Map.of("basePath", tableDir.toString))
    val table =
      if (listed)
        org.apache.spark.sql.GraftReadBridge.listedTable(name, spark,
          Snapshots.listedStatuses(tableDir, cands.map(_.toString)),
          indexSchema, Map("basePath" -> tableDir.toString))
      else ParquetTable(name, spark, opts,
        cands.map(r => tableDir.resolve(r).toString),
        Some(indexSchema), classOf[ParquetFileFormat])
    val b = table.newScanBuilder(opts)
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

private[catalog] object PartitionedWrite {

  sealed trait Mode
  case object Append extends Mode
  case object Dynamic extends Mode
  case object Truncate extends Mode
  /** `INSERT OVERWRITE ... PARTITION (c=v, ...)`: replace exactly the
    * partitions matching the equality conjunction. */
  final case class Static(spec: Map[String, String]) extends Mode
  /** The copy-on-write group rewrite of `UPDATE` / `MERGE INTO`:
    * replace exactly the partition dirs the group scan covered
    * (`candidates`, read at commit; None = every data subtree) with
    * the replacement rows. `snapshotFiles` is the manifest the scan
    * read (None = plain table). */
  final case class Rewrite(candidates: () => Option[Seq[Path]],
                           snapshotFiles: Option[Seq[String]]) extends Mode

  /** The staging sibling `<table>.__<tag>-<writeId>` of a write. */
  private[catalog] def stagingDir(tableDir: Path, tag: String,
                                  writeId: String): Path =
    tableDir.resolveSibling(s"${tableDir.getFileName}.__$tag-$writeId")

  /** A parquet writer factory for `schema`, and the job conf it was
    * prepared in — `prepareWrite` pins the schema INTO the conf, so
    * every file schema needs its own pair. */
  private[catalog] def parquetWriter(schema: StructType)
      : (OutputWriterFactory, SerializableConfiguration) = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat().prepareWrite(
      spark, job, Map.empty[String, String], schema)
    (owf, new SerializableConfiguration(job.getConfiguration))
  }

  /** The executor factory staging `writeSchema` rows under `staging`
    * in the `spec` layout: identity columns live in the directory
    * names, not the files, and files speak PHYSICAL names under rename
    * evolution. */
  private[catalog] def dataWriterFactory(staging: Path,
      writeSchema: StructType, spec: Seq[PartitionSpec.Field],
      renames: Map[String, String],
      writeId: String): PartitionedWriterFactory = {
    val identityCols = spec.collect { case PartitionSpec.Identity(c) => c }
    val dataSchema = StructType(
      writeSchema.fields.filterNot(f => identityCols.contains(f.name)))
    val fileSchema = StructType(dataSchema.fields.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name))))
    val (owf, conf) = parquetWriter(fileSchema)
    new PartitionedWriterFactory(staging.toString, writeSchema, dataSchema,
      spec, SparkSession.active.sessionState.conf.sessionLocalTimeZone,
      conf, owf, writeId, fileSchema)
  }

  /** The one staged-write commit: publish the committed `files` from
    * `staging`, then ONE optimistic manifest commit (`liveOf` over the
    * refreshed live list, `validate`d), with the new files' stats
    * plus `extraStats` riding the commit; `changelog` persists the
    * commit's changelog (`'changelog-producer'='input'`). */
  private[catalog] def commitStaged(tableDir: Path, staging: Path,
      files: Seq[String], op: Snapshots.Op,
      liveOf: Seq[String] => Seq[String],
      validate: Seq[String] => Unit = _ => (),
      extraStats: => Map[String, FileStats.FileStat] = Map.empty,
      changelog: Boolean = false): Unit = {
    val spark = SparkSession.active
    publishStaged(staging, tableDir, files)
    Snapshots.commitRouted(tableDir, op, liveOf, validate,
      freshStats = Snapshots.freshStatsFor(spark, tableDir, files) ++
        extraStats)
    // no-op unless the table declares a persisted changelog
    if (changelog) ChangelogProducer.produceMissing(spark, tableDir)
    spark.catalog.clearCache()
  }

  /** Does a table-relative partition dir fall under a static
    * overwrite: every `col=value` of the spec among its segments? */
  private[catalog] def matchesStatic(
      specMap: Map[String, String]): Path => Boolean = {
    val wanted = specMap.map { case (c, v) =>
      ExternalCatalogUtils.getPartitionPathString(c, v)
    }.toSet
    dir => wanted.subsetOf(dir.iterator().asScala.map(_.toString).toSet)
  }

  /** Delete a file and its local-FS checksum sibling (`.<name>.crc`,
    * ChecksumFileSystem debris). */
  private[catalog] def deleteWithCrc(f: Path): Unit = {
    Files.deleteIfExists(f)
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    ()
  }

  /** The (identity column → partition-dir value string) map of a
    * conjunction of equality predicates over identity partition
    * columns; None when any conjunct is anything else. */
  def staticSpecOf(predicates: Array[Predicate],
                   identityCols: Seq[String]): Option[Map[String, String]] = {
    val pairs = predicates.toSeq.map { p =>
      // static partition specs arrive as null-safe equality (<=>)
      if ((p.name() != "=" && p.name() != "<=>") || p.children().length != 2) None
      else {
        val kids = p.children()
        def ref(e: org.apache.spark.sql.connector.expressions.Expression) =
          e match {
            case r: org.apache.spark.sql.connector.expressions.NamedReference
                if r.fieldNames().length == 1 &&
                  identityCols.contains(r.fieldNames()(0)) =>
              Some(r.fieldNames()(0))
            case _ => None
          }
        def value(e: org.apache.spark.sql.connector.expressions.Expression) =
          e match {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              Option(l.value).map {
                case s: org.apache.spark.unsafe.types.UTF8String => s.toString
                case v => v.toString
              }
            case _ => None
          }
        (ref(kids(0)), value(kids(1)), ref(kids(1)), value(kids(0))) match {
          case (Some(c), Some(v), _, _) => Some(c -> v)
          case (_, _, Some(c), Some(v)) => Some(c -> v)
          case _ => None
        }
      }
    }
    if (pairs.exists(_.isEmpty)) None else Some(pairs.flatten.toMap)
  }

  private[catalog] def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  /** The table dir's DATA entries — partition directories (any
    * `name=value` dir, which INCLUDES the underscore-named hidden
    * `_gbucket=<id>` dirs) and plain data files — excluding the
    * `_`/`.`-prefixed sidecars. The naive `!startsWith("_")` filter
    * silently kept `_gbucket=` subtrees alive through truncate and
    * whole-table rewrites. */
  private[catalog] def dataSubtrees(tableDir: Path): Seq[Path] = {
    if (!Files.isDirectory(tableDir)) return Seq.empty
    val s = Files.list(tableDir)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      (Files.isDirectory(p) && n.contains("=")) ||
        (!n.startsWith("_") && !n.startsWith("."))
    }.toSeq
    finally s.close()
  }

  /** The staging-relative file paths of the COMMITTED task attempts,
    * from the driver's commit messages. */
  private[catalog] def committedFiles(
      messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.flatMap {
      case PartitionedCommit(fs) => fs
      case _ => Seq.empty
    }

  /** Publish exactly the COMMITTED files (staging-relative paths from
    * the task commit messages) into the table dir, preserving the
    * partition-directory layout, then drop the staging dir — which
    * takes any uncommitted leftovers of aborted/speculative attempts
    * with it. Committed file names carry a per-write UUID, so moves
    * never collide with files of earlier writes. */
  private[catalog] def publishStaged(
      staging: Path, tableDir: Path, files: Seq[String]): Unit = {
    files.foreach { rel =>
      val src = staging.resolve(rel)
      val target = tableDir.resolve(rel)
      Files.createDirectories(target.getParent)
      Files.move(src, target)
    }
    deleteRecursive(staging)
  }

  /** Move every staged DATA file into the table dir, preserving the
    * relative (partition-directory) layout; the staging dir is
    * removed. Partition dirs merge with existing ones. `_`/`.`-named
    * committer debris (`_SUCCESS`, local-FS `.crc` checksums — written
    * when a stage goes through the full Spark writer, e.g. the DELETE
    * rewrite, whose commit protocol already publishes only committed
    * attempts) is SKIPPED: readers ignore it, and moving it would
    * collide with the previous rewrite's copy on the SECOND selective
    * DML against the same table. */
  private[catalog] def mergeInto(staging: Path, tableDir: Path): Unit = {
    mergeIntoReturning(staging, tableDir); ()
  }

  /** [[mergeInto]] that reports the table-relative paths it moved —
    * snapshot commits need the staged file list for the new manifest.
    *
    * Every moved file gets a fresh UNIQUE basename: these stagings
    * come from Spark's NATIVE writer, whose task-scoped names
    * (`part-00000-<task uuid>.c000…`) REPEAT across the partition
    * directories one task writes — and the stats / Bloom / skipping
    * maps key by basename, so two different files sharing one name
    * would collide into a single entry (a metadata COUNT double-counts
    * one side; worse, file skipping consults the wrong file's range
    * and can prune rows that match). The custom DML writer
    * ([[PartitionedWriterFactory]]) never collides, but it publishes
    * through [[publishStaged]]; everything routed here is renamed. */
  private[catalog] def mergeIntoReturning(staging: Path,
                                          tableDir: Path): Seq[String] = {
    if (!Files.isDirectory(staging)) return Seq.empty
    val s = Files.walk(staging)
    val files =
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
      finally s.close()
    val moved = files.map { f =>
      val rel = staging.relativize(f)
      val unique = "part-" +
        java.util.UUID.randomUUID().toString.take(8) + "-" +
        rel.getFileName.toString
      val target = Option(rel.getParent)
        .fold(tableDir.resolve(unique))(p =>
          tableDir.resolve(p).resolve(unique))
      Files.createDirectories(target.getParent)
      Files.move(f, target)
      tableDir.relativize(target).toString
    }
    deleteRecursive(staging)
    moved
  }

  /** All data files under the given (table-relative) partition dirs,
    * as table-relative paths — the plain-layout feed for within-
    * partition file skipping. */
  private[catalog] def filesUnderDirs(tableDir: Path,
                                      dirs: Seq[Path]): Seq[Path] =
    dirs.flatMap { rel =>
      val d = tableDir.resolve(rel)
      if (!Files.isDirectory(d)) Seq.empty
      else {
        val s = Files.list(d)
        try s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
        }.map(p => rel.resolve(p.getFileName)).toSeq
        finally s.close()
      }
    }

  /** All leaf partition directories (dirs that directly contain data
    * files) under `root`, as root-relative paths. Only true
    * `name=value` partition paths qualify — every segment must carry
    * an '=', which keeps sidecar DIRECTORIES (`_graft_snapshots/`,
    * whose json files are not underscore-prefixed) out of the data
    * walks that feed scans, rewrites, and GC. */
  private[catalog] def leafPartitionDirs(root: Path): Seq[Path] = {
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.walk(root)
    try {
      s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
        }
        .map(p => root.relativize(p.getParent))
        .filter(rel => rel.toString.nonEmpty &&
          rel.iterator().asScala.forall(_.toString.contains('=')))
        .toSeq.distinct
    } finally s.close()
  }
}


/** The distributed partitioned write — every INSERT / overwrite and
  * the copy-on-write `UPDATE` / `MERGE` rewrite: executors land
  * parquet files in a sibling staging dir mirroring the final
  * `col=value` layout (data columns only inside the files — the hive
  * contract, so the reader's partition inference owns the partition
  * values), and the driver publishes the staged layout at commit
  * according to the mode. */
private[catalog] final class PartitionedWrite(
    tableDir: Path,
    spec: Seq[PartitionSpec.Field],
    writeSchema: StructType,
    mode: PartitionedWrite.Mode,
    renames: Map[String, String] = Map.empty)
    extends Write with RequiresDistributionAndOrdering {

  private val identityCols: Seq[String] =
    spec.collect { case PartitionSpec.Identity(c) => c }

  /** Cluster each identity partition's rows onto one task (one file
    * per partition per write, bounded open writers per task) — the
    * Iceberg hash-distribution default. Bucket-only specs need no
    * shuffle: a task holds at most `n` open bucket writers. */
  override def requiredDistribution(): Distribution =
    if (identityCols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      identityCols.map(c => Expressions.column(c)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)
  // declared write-time clustering ([[WriteOrder]]): rows sort on
  // (partition transforms, order columns) before landing, so parquet
  // row groups carry tight pushdown-prunable ranges — an UPDATE must
  // not de-cluster the partitions it replaces either. The sidecar
  // speaks LOGICAL names (the write input's columns); names no longer
  // in the schema (renamed without the sidecar chasing) drop out
  // rather than failing the write.
  override def requiredOrdering(): Array[SortOrder] =
    WriteOrder.sortOrders(spec,
      WriteOrder.read(tableDir).filter(writeSchema.fieldNames.contains))
  override def requiredNumPartitions(): Int = 0

  override def toBatch: BatchWrite = new BatchWrite {
    private val writeId = java.util.UUID.randomUUID().toString.take(8)
    private val staging = PartitionedWrite.stagingDir(tableDir,
      mode match {
        case _: PartitionedWrite.Rewrite => "rewrite"
        case _ => "insert"
      }, writeId)

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = {
      PartitionedWrite.deleteRecursive(staging)
      Files.createDirectories(staging)
      val factory = PartitionedWrite.dataWriterFactory(staging, writeSchema,
        spec, renames, writeId)
      mode match {
        // replacement rows carry Spark's operation slot
        case _: PartitionedWrite.Rewrite =>
          new DeletableTable.OpStrippingWriterFactory(factory, writeSchema)
        case _ => factory
      }
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val committed = PartitionedWrite.committedFiles(messages)
      mode match {
        case PartitionedWrite.Rewrite(candidates, Some(prev)) =>
          // SNAPSHOT rewrite: the group's pre-image files drop from
          // the manifest, the replacement files join it; nothing is
          // physically deleted (older snapshots keep reading the
          // pre-rewrite files). Optimistic commit, snapshot isolation:
          // concurrent appends merge; a concurrent removal/rewrite of
          // a file this group scan READ conflicts (our replacement
          // embeds its rows), and so does a delete file committed
          // mid-rewrite (it would address files this rewrite
          // replaces — conflict, never resurrect)
          val replaced = candidates().fold(prev)(Snapshots.filesUnder(prev, _))
          PartitionedWrite.commitStaged(tableDir, staging, committed,
            Snapshots.Op.Rewrite, cur => cur.diff(replaced) ++ committed,
            Snapshots.validateRewrite("UPDATE/MERGE", replaced, prev))
        case PartitionedWrite.Rewrite(_, None) =>
          publishPlain(committed)
        case _ if Snapshots.isVersioned(tableDir) =>
          commitSnapshot(committed)
        case _ =>
          publishPlain(committed)
      }
    }

    /** SNAPSHOT commit of an insert/overwrite: nothing is physically
      * deleted — the new manifest simply stops referencing the
      * replaced files, which stay on disk for older snapshots until
      * expire_snapshots. The live list derives from the REFRESHED
      * latest inside the optimistic-commit loop (not from a pre-read
      * base), so a concurrent commit to unrelated files merges
      * instead of being lost; overwrites replace whatever is there at
      * commit time — last-writer-wins is the declared INSERT
      * OVERWRITE semantics, so no read-set validation applies. */
    private def commitSnapshot(committed: Seq[String]): Unit = {
      val liveOf: Seq[String] => Seq[String] = mode match {
        case PartitionedWrite.Truncate => _ => committed
        case PartitionedWrite.Dynamic =>
          val touched = committed
            .flatMap(rel => Option(Paths.get(rel).getParent))
            .map(_.toString).toSet
          prev => prev.filterNot { f =>
            // replaced partitions drop their data files AND the
            // merge-on-read delete files SCOPED to them — every
            // coordinate those hold addresses a file dying in this
            // commit, and carrying them would keep the table
            // needlessly dirty ([[MorDeletes]])
            Option(Paths.get(f).getParent)
              .exists(p => touched(p.toString)) ||
              MorDeletes.targetDirOf(f).exists(d => touched(d.toString))
          } ++ committed
        case PartitionedWrite.Static(specMap) =>
          val replaced = PartitionedWrite.matchesStatic(specMap)
          prev => prev.filterNot { f =>
            Option(Paths.get(f).getParent).exists(replaced) ||
              MorDeletes.targetDirOf(f).exists(replaced) // inert deletes
          } ++ committed
        case _ => prev => prev ++ committed
      }
      val op =
        if (mode == PartitionedWrite.Append) Snapshots.Op.Append
        else Snapshots.Op.Overwrite
      PartitionedWrite.commitStaged(tableDir, staging, committed, op, liveOf,
        changelog = true)
    }

    /** PLAIN commit: physically drop the replaced data subtrees, then
      * move exactly the committed files into place (partition dirs
      * merge); aborted-attempt leftovers die with the staging dir. */
    private def publishPlain(committed: Seq[String]): Unit = {
      val replaced: Seq[Path] = mode match {
        case PartitionedWrite.Append => Seq.empty
        // every data subtree (incl. hidden-bucket dirs); sidecars stay
        case PartitionedWrite.Truncate => PartitionedWrite.dataSubtrees(tableDir)
        // the group's candidate dirs; a whole-table group replaces
        // every data subtree
        case PartitionedWrite.Rewrite(candidates, _) =>
          candidates().fold(PartitionedWrite.dataSubtrees(tableDir))(
            _.map(tableDir.resolve))
        case PartitionedWrite.Static(specMap) =>
          // a leaf dir matches when every (col=value) of the spec
          // appears among its path segments
          PartitionedWrite.leafPartitionDirs(tableDir)
            .filter(PartitionedWrite.matchesStatic(specMap))
            .map(tableDir.resolve)
        case PartitionedWrite.Dynamic =>
          // exactly the partitions that received COMMITTED rows
          // (derived from the commit messages, not a staging listing
          // an aborted attempt could pollute)
          committed.flatMap(rel => Option(Paths.get(rel).getParent))
            .distinct.map(tableDir.resolve)
      }
      replaced.foreach(PartitionedWrite.deleteRecursive)
      PartitionedWrite.publishStaged(staging, tableDir, committed)
      SparkSession.active.catalog.clearCache()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      PartitionedWrite.deleteRecursive(staging)
  }
}

/** The staging-relative paths of the files ONE COMMITTED task attempt
  * wrote. Publishing moves exactly these files — a retried or
  * speculative attempt's leftovers in the shared staging dir are never
  * published (Spark commits one attempt per task; the losing attempt's
  * files stay behind and die with the staging dir). */
private[catalog] final case class PartitionedCommit(files: Seq[String])
    extends WriterCommitMessage

/** Executor-side writer: per incoming row, compute the partition
  * directory ([[PartitionSpec.dirOf]]), and stream the DATA columns
  * into the parquet writer [[TaskFileWriters]] keeps open for that
  * dir. */
private[catalog] final class PartitionedWriterFactory(
    stagingRoot: String,
    writeSchema: StructType,
    dataSchema: StructType,
    spec: Seq[PartitionSpec.Field],
    timeZoneId: String,
    conf: SerializableConfiguration,
    owf: OutputWriterFactory,
    writeId: String,
    fileSchema: StructType)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = {
    val idx = writeSchema.fieldNames.zipWithIndex.toMap
    def ref(c: String): BoundReference = {
      val f = writeSchema(idx(c))
      BoundReference(idx(c), f.dataType, f.nullable)
    }
    val dirOf = PartitionSpec.dirOf(spec, ref, timeZoneId)
    val dataProj = UnsafeProjection.create(dataSchema.fieldNames.toSeq.map(ref))
    // fileSchema = dataSchema with PHYSICAL names (rows are positional;
    // only the parquet field names differ). writeId (per-write UUID)
    // makes the name globally unique — taskAttemptId alone restarts at
    // 0 in a new SparkContext, so a second session appending the
    // same-shaped job would otherwise reproduce identical names and
    // collide at publish
    val files = new TaskFileWriters(stagingRoot, conf, owf, fileSchema,
      partitionId, taskId)((dir, seq, ext) =>
      f"$dir/part-$partitionId%05d-$taskId-$writeId-$seq$ext")

    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit =
        files.writerFor(dirOf(row)).write(dataProj(row))
      override def commit(): WriterCommitMessage =
        PartitionedCommit(files.commit())
      override def abort(): Unit = files.abort()
      override def close(): Unit = files.close()
    }
  }
}

/** One task attempt's parquet files under a staging root — the
  * executor core of every staged writer: the Hadoop task context, one
  * open [[OutputWriter]] per directory key (capped; overflow closes
  * the set and continues in fresh files — several files per directory
  * are always valid), and the staging-relative paths this attempt
  * opened: returned by `commit` for publishing, deleted by `abort`, so
  * a failed or speculative attempt never leaks partial files into the
  * table. `relPath(key, fileSeq, extension)` names each new file. */
private[catalog] final class TaskFileWriters(
    root: String,
    conf: SerializableConfiguration,
    owf: OutputWriterFactory,
    schema: StructType,
    partitionId: Int,
    taskId: Long)(relPath: (String, Int, String) => String) {

  private val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
    conf.value,
    new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId),
      (taskId & Int.MaxValue).toInt))
  private val ext = owf.getFileExtension(ctx)
  private val writers = scala.collection.mutable.HashMap.empty[String, OutputWriter]
  private val written = scala.collection.mutable.ArrayBuffer.empty[String]
  private var fileSeq = 0

  def writerFor(key: String): OutputWriter =
    writers.getOrElseUpdate(key, {
      if (writers.size >= TaskFileWriters.MaxOpenWriters) close()
      fileSeq += 1
      val rel = relPath(key, fileSeq, ext)
      written += rel
      owf.newInstance(s"$root/$rel", schema, ctx)
    })

  /** Close every open writer and return the files this attempt wrote. */
  def commit(): Seq[String] = { close(); written.toSeq }

  def close(): Unit = {
    writers.valuesIterator.foreach(_.close()); writers.clear()
  }

  def abort(): Unit = {
    writers.valuesIterator.foreach(w =>
      try w.close() catch { case _: Throwable => () })
    writers.clear()
    written.foreach(rel =>
      try PartitionedWrite.deleteWithCrc(Paths.get(root).resolve(rel))
      catch { case _: Throwable => () })
    written.clear()
  }
}

private[catalog] object TaskFileWriters {
  val MaxOpenWriters = 64
}

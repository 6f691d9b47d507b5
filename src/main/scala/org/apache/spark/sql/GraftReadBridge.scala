package org.apache.spark.sql

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, FunctionCatalog, Table}
import org.apache.spark.sql.connector.read.{PartitionReader, Scan}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** `private[sql]` surface the bucket-local PRIMARY-KEY read
  * ([[graft.catalog]]'s `PkBucketResolve`) needs: the V2 parquet
  * per-file row reader (with native parquet row-index generation),
  * hand-constructed scan relations carrying key-grouped partitioning,
  * and the V2→Catalyst transform translation the optimizer's own
  * `V2ScanPartitioningAndOrdering` rule uses. */
object GraftReadBridge {

  /** The column name parquet readers recognize as "generate the row
    * index here" — the native source `_metadata.row_index` taps. */
  val RowIndexTempName: String =
    org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** NULLABLE, or the vectorized reader rejects it as "required column
    * missing in data file" before the row-index generator ever sees
    * it (the generator always fills it — nullability is declaration
    * only). */
  val RowIndexTempField: StructField =
    StructField(RowIndexTempName, LongType, nullable = true)

  /** A serializable per-file parquet ROW reader factory: no pushed
    * filters (callers re-filter above), no partition columns. Built
    * through a real [[org.apache.spark.sql.execution.datasources.v2
    * .parquet.ParquetScan]] so `createReaderFactory` performs ALL the
    * hadoop-conf plumbing (read-support class, requested-schema JSON,
    * timezone/case/int96 flags) exactly as a planned scan would — the
    * readers honor vectorized decoding internally and fill declared
    * columns missing from a file with nulls, the same read semantics
    * as the V1 explicit-schema path. */
  def parquetReaderFactory(spark: SparkSession, dataSchema: StructType,
                           readDataSchema: StructType)
      : ParquetPartitionReaderFactory = {
    val hconf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val emptyIndex = new org.apache.spark.sql.execution.datasources
      .InMemoryFileIndex(spark, Nil, Map.empty, Some(dataSchema))
    val scan = org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetScan(spark, hconf, emptyIndex, dataSchema, readDataSchema,
        new StructType(), Array.empty,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of()),
        None, Nil, Nil, Array.empty)
    scan.createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
  }

  def buildRowReader(factory: ParquetPartitionReaderFactory,
                     file: PartitionedFile)
      : PartitionReader[InternalRow] = factory.buildReader(file)

  def partitionedFile(absPath: String, size: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(absPath),
      0L, size, Array.empty, 0L, size, Map.empty)

  def toAttributes(schema: StructType): Seq[AttributeReference] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)

  /** A scan relation with EXPLICIT key-grouped partitioning — what the
    * optimizer's `V2ScanPartitioningAndOrdering` rule would have
    * stamped had the scan planned through normal V2 pushdown (a rule
    * that already ran by the time the merge-on-read rewrite fires). */
  def scanRelation(table: Table, catalog: Option[CatalogPlugin],
                   scan: Scan, output: Seq[AttributeReference],
                   keyGroupedPartitioning: Option[Seq[Expression]])
      : DataSourceV2ScanRelation = {
    val rel = DataSourceV2Relation(
      table, output, catalog, None,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of()))
    DataSourceV2ScanRelation(rel, scan, output, keyGroupedPartitioning)
  }

  /** A parquet file index over files whose list is already known (a
    * manifest's): `files` are `(absolute path, size, modification
    * ms)`, pre-filled into the index's status cache, so building it
    * runs neither Spark's per-path existence check (a thread pool per
    * read) nor its bulk listing (a distributed job once a read names
    * 32 paths). It is the index `spark.read.schema(schema)
    * .options(options).parquet(paths)` builds: the same qualified
    * `rootPaths`, `inputFiles` and partition inference (`basePath`
    * included), with its partition directories in path order. */
  def listedIndex(spark: SparkSession, files: Seq[(String, Long, Long)],
                  schema: StructType, options: Map[String, String])
      : org.apache.spark.sql.execution.datasources.InMemoryFileIndex = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val fs = files.headOption.map(f => new Path(f._1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration))
    val statuses = files.map { case (abs, size, mtime) =>
      val p = fs.get.makeQualified(new Path(abs))
      new FileStatus(size, false, 1, fs.get.getDefaultBlockSize(p), mtime, p)
    }
    val byPath = statuses.map(s => s.getPath -> Array(s)).toMap
    val cache = new org.apache.spark.sql.execution.datasources.FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        byPath.get(p)
      override def putLeafFiles(p: Path, leaves: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    def index(spec: Option[org.apache.spark.sql.execution.datasources.PartitionSpec]) =
      new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(spark,
        statuses.map(_.getPath), options, Some(schema), cache, spec)
    // partition dirs in path order: the inferred order follows a hash
    // map over ABSOLUTE paths, so scans would split and order rows
    // differently per table location
    val inferred = index(None).partitionSpec()
    index(Some(inferred.copy(
      partitions = inferred.partitions.sortBy(_.path.toString))))
  }

  /** The V1 read over [[listedIndex]]: the relation
    * `spark.read.schema(schema).options(options).parquet(paths)`
    * resolves to (partition columns from the index, the rest of
    * `schema` as nullable data columns), planned as a
    * `FileSourceScanExec`. */
  def readListed(spark: SparkSession, files: Seq[(String, Long, Long)],
                 schema: StructType, options: Map[String, String])
      : DataFrame = {
    val index = listedIndex(spark, files, schema, options)
    val part = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val data = StructType(schema.filterNot(f =>
      part.exists(p => resolver(p.name, f.name))))
    spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
        part, data.asNullable, None, new ParquetFileFormat, options)(spark))
  }

  /** The V2 parquet table over [[listedIndex]]. */
  def listedTable(name: String, spark: SparkSession,
                  files: Seq[(String, Long, Long)], schema: StructType,
                  options: Map[String, String])
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable = {
    import scala.jdk.CollectionConverters._
    val index = listedIndex(spark, files, schema, options)
    new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
        name, spark,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(options.asJava),
        files.map(_._1), Some(schema), classOf[ParquetFileFormat]) {
      override lazy val fileIndex
          : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =
        index
    }
  }

  /** V2 transform → Catalyst [[Expression]] (a `TransformExpression`
    * bound through the table's FunctionCatalog), resolved against
    * `plan`'s output — byte-compatible with what the SPJ machinery
    * produces, so two bucket-local reads stay join-compatible. */
  def toCatalystTransform(
      t: org.apache.spark.sql.connector.expressions.Expression,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      funCatalog: FunctionCatalog): Option[Expression] =
    org.apache.spark.sql.catalyst.expressions.V2ExpressionUtils
      .toCatalystOpt(t, plan, Some(funCatalog))
}

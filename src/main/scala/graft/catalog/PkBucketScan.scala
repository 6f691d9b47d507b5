package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** BUCKET-LOCAL (exchange-free) primary-key resolution — the Paimon
  * per-bucket merge read. PK tables REQUIRE their partition transforms
  * ⊆ key, so every version of a key is co-located in ONE `_gbucket=`
  * directory; resolving latest-per-key therefore never needs a
  * table-wide shuffle — each bucket resolves locally. The reference's
  * staging tables are read CONTINUOUSLY by the revenue MV join
  * (reference `flink-cdc/sql/revenue-analytics.sql:62-63` over the
  * `'bucket.num'='4'` tables of `tickets-cdc.sql:23-37`), so the
  * dirty-read cost IS the steady-state cost between compactions — at
  * 100 TB the difference between "shuffle the table" and "no exchange
  * at all".
  *
  * Mechanics: a V2 scan with ONE `HasPartitionKey` input partition per
  * bucket directory, reporting `KeyGroupedPartitioning(bucket(n, key))`
  * through the same catalog `bucket` function the SPJ machinery uses
  * ([[GraftFunctions]] — the writer-identical `pmod(murmur3(k, 42),
  * n)`). The dedup aggregate's `ClusteredDistribution(key)` is then
  * already satisfied: NO shuffle Exchange plans between the scan and
  * the aggregate (and the resolved output keeps the key-grouped
  * partitioning, so a downstream bucket-key join or aggregate skips
  * its exchange too). Each partition reads its bucket's parquet files
  * through Spark's own V2 parquet reader with NATIVE row-index
  * generation (the same source `_metadata.row_index` taps), appending
  * the file's table-relative path and manifest birth sequence as
  * constants — byte-identical coordinates to the V1 coordinate read,
  * so the `(seq, file, pos)` resolution ladder is deterministic across
  * both paths.
  *
  * Pending EQUALITY deletes apply as a scan-local broadcast filter
  * ([[EqDeleteVectorKilled]] — key → max delete threshold; a delete at
  * sequence s kills strictly below s, so the per-key max reproduces
  * the union, the [[LakeProcedures]] `rewrite_eqdelete_files`
  * argument), sized by the same [[MorDeletes.VectorMaxConf]] ceiling
  * as position-delete vectors.
  *
  * Structural gates (anything else falls back to the audited
  * shuffled-aggregate plan, which is correct everywhere):
  * bucket-only partition spec, single directory shape, no key-only
  * pushdown conjuncts (a point lookup keeps its pruned+pushed plan —
  * its post-filter exchange is already tiny), no pending POSITION
  * deletes, eq-delete churn inside the vector ceiling. */
private[catalog] object PkBucketResolve {

  /** Kill switch (bench A/B; default on). */
  val EnabledConf = "graft.pk.bucket-local.enabled"

  /** One data file of one leaf partition: absolute path + size (for
    * the full-file read), the table-relative path (the coordinate/
    * file-key convention of the V1 read), and its manifest birth
    * sequence — resolved at PLANNING, so the executor needs no
    * broadcast lookup. */
  final case class PkFile(absPath: String, size: Long, relPath: String,
                          seq: Long) extends Serializable

  /** One LEAF partition (identity dirs + optional bucket dir):
    * `keyVals` are the key-grouped-partitioning values in SPEC order
    * (identity values as catalyst values, the bucket id as Int);
    * `idVals` are the identity values alone (appended to every row —
    * identity columns are NOT stored in the files, the directory is
    * their value, exactly the hive-layout convention the V1 read
    * infers). */
  final class PkLeafPartition(val keyVals: Array[Any],
                              val idVals: Array[Any],
                              val files: Array[PkFile])
      extends InputPartition
      with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): InternalRow =
      new GenericInternalRow(keyVals)
  }

  /** The exchange-free BASE plan for a dirty PK read: outputs
    * `selCols ++ (pos, file, seq)` with equality deletes already
    * applied, over identity+bucket layouts (one key-grouped partition
    * per leaf dir). `partFilter` is an optional key conjunction over
    * IDENTITY PARTITION columns only (the caller guarantees it): it
    * prunes whole leaf directories exactly — identity values live in
    * dir names, never in files, so nothing a parquet pushdown could
    * have used is lost — and re-applies as a residual Filter above
    * the scan (pruning is provable-exclusion, not satisfaction).
    * None when any structural gate fails. */
  def tryBase(spark: SparkSession, tableDir: Path, tableName: String,
              snapFiles: Seq[String], seqs: Map[String, Long],
              spec: Seq[PartitionSpec.Field], selCols: Seq[String],
              eqDels: Seq[String], pk: PkTables.PkDef,
              snapStats: Map[String, FileStats.FileStat],
              delField: Option[StructField],
              table: org.apache.spark.sql.connector.catalog.Table,
              catalog: Option[org.apache.spark.sql.connector.catalog.CatalogPlugin],
              partFilter: Map[String, org.apache.spark.sql.catalyst
                .expressions.Attribute] => Option[Expression] = _ => None)
      : Option[LogicalPlan] = {
    if (spark.conf.get(EnabledConf, "true") != "true") return None
    if (spec.isEmpty) return None
    val idFields = spec.collect { case i: PartitionSpec.Identity => i }
    val bucketOpt = spec.collect { case b: PartitionSpec.Bucket => b } match {
      case Seq() => None
      case Seq(b) => Some(b)
      case _ => return None
    }
    if (idFields.size + bucketOpt.size != spec.size) return None
    val funCatalog = catalog match {
      case Some(f: org.apache.spark.sql.connector.catalog.FunctionCatalog) =>
        f
      case _ => return None
    }
    val dataF = Snapshots.dataFiles(snapFiles)
    if (dataF.isEmpty) return None // slow path builds the empty frame
    // every file exactly one dir level per spec field, in spec order
    val specNames = spec.map {
      case PartitionSpec.Identity(c) => c
      case PartitionSpec.Bucket(_, _) => PartitionSpec.BucketDir
    }
    val phys = Snapshots.physicalReadSchema(tableDir)
    if (!selCols.forall(c => phys.fieldNames.contains(c))) return None
    if (!spec.forall(f => phys.fieldNames.contains(f.col))) return None
    val idSet = idFields.map(_.col).toSet
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // identity values come from DIR NAMES (hive-unescaped, cast to the
    // column type) — identity columns are never stored in the files
    def idValue(c: String, raw: String): Any = {
      if (raw == org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.DEFAULT_PARTITION_NAME) return null
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          UTF8String.fromString(raw),
          org.apache.spark.sql.types.StringType),
        phys(phys.fieldIndex(c)).dataType, tz).eval(null)
    }
    val leaves = scala.collection.mutable.LinkedHashMap
      .empty[Seq[String], scala.collection.mutable.ArrayBuffer[PkFile]]
    dataF.foreach { f =>
      val segs = f.split('/')
      if (segs.length != spec.size + 1) return None // evolved shape
      val raws = specNames.indices.map { i =>
        val seg = segs(i)
        val eq = seg.indexOf('=')
        if (eq <= 0 || org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(seg.substring(0, eq))
            != specNames(i)) return None // foreign shape
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(eq + 1))
      }
      val abs = tableDir.resolve(f)
      leaves.getOrElseUpdate(raws,
        scala.collection.mutable.ArrayBuffer.empty) +=
        PkFile(abs.toString, Files.size(abs), f,
          seqs.getOrElse(Snapshots.basename(f), 0L))
    }
    // schema split: identity columns ride as per-leaf constants
    val fileCols = selCols.filterNot(idSet)
    val fileFields = fileCols.map(c => phys(phys.fieldIndex(c)))
    val idOutFields = idFields.map(f => phys(phys.fieldIndex(f.col)))
    val readDataSchema = StructType(fileFields :+
      org.apache.spark.sql.GraftReadBridge.RowIndexTempField)
    val outSchema = StructType((fileFields :+
      StructField(MorDeletes.PosKeyCol, LongType, nullable = false) :+
      StructField(MorDeletes.FileKeyCol, StringType, nullable = false) :+
      StructField(PkTables.SeqCol, LongType, nullable = false)) ++
      idOutFields)
    val output = org.apache.spark.sql.GraftReadBridge.toAttributes(outSchema)
    val byName = output.map(a => a.name -> a).toMap
    // IDENTITY-only key conjuncts: prune whole leaf dirs (exact for
    // the kept side up to provability; the residual Filter below
    // closes the gap at zero pushdown cost)
    val residual = partFilter(byName)
    val keptLeaves: Seq[(Seq[String], Array[PkFile])] = {
      val all = leaves.toSeq.map { case (raws, fs) =>
        (raws, fs.sortBy(_.relPath).toArray)
      }
      residual match {
        case None => all
        case Some(cond) =>
          val asPaths = all.map { case (raws, _) =>
            java.nio.file.Paths.get(specNames.zip(raws).map { case (n, v) =>
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .getPartitionPathString(n, v)
            }.mkString("/"))
          }
          val kept = PartitionPruning.splitLeaves(asPaths, spec, Seq(cond))
            .map(_._1.toSet)
          kept.fold(all) { ks =>
            all.zip(asPaths).collect { case (lv, p) if ks(p) => lv }
          }
      }
    }
    if (keptLeaves.isEmpty) return None // let the slow path build it
    val parts = keptLeaves.map { case (raws, fs) =>
      val keyVals = spec.zip(raws).map {
        case (PartitionSpec.Identity(c), raw) => idValue(c, raw)
        case (PartitionSpec.Bucket(_, _), raw) =>
          raw.toIntOption.getOrElse(return None)
      }.toArray[Any]
      val idVals = spec.zip(raws).collect {
        case (PartitionSpec.Identity(c), raw) => idValue(c, raw)
      }.toArray[Any]
      new PkLeafPartition(keyVals, idVals, fs)
    }
    val factory = org.apache.spark.sql.GraftReadBridge
      .parquetReaderFactory(spark, phys, readDataSchema)
    val keptFiles = keptLeaves.flatMap(_._2)
    val rowsUpper = {
      val perFile = keptFiles.map(f =>
        snapStats.get(Snapshots.basename(f.relPath)).flatMap(_.rows))
      if (perFile.forall(_.isDefined)) Some(perFile.flatten.sum) else None
    }
    val transforms = spec.map {
      case PartitionSpec.Identity(c) => Expressions.identity(c)
      case PartitionSpec.Bucket(c, n) => Expressions.bucket(n, c)
    }
    val scan = new PkBucketResolveScan(tableName, outSchema, parts,
      keptFiles.map(_.size).sum, factory, transforms, rowsUpper)
    // the same catalyst transforms the SPJ rule would stamp: resolved
    // through the catalog's own functions, against this output
    val rel0 = org.apache.spark.sql.GraftReadBridge.scanRelation(
      table, catalog, scan, output, None)
    val kgp = transforms.map(t =>
      org.apache.spark.sql.GraftReadBridge.toCatalystTransform(
        t, rel0, funCatalog))
    if (kgp.exists(_.isEmpty)) return None
    val rel: LogicalPlan =
      rel0.copy(keyGroupedPartitioning = Some(kgp.map(_.get)))
    // equality deletes → bounded broadcast vector, or bail (over the
    // ceiling: the caller keeps the join plan)
    val eqApplied =
      if (eqDels.isEmpty) rel
      else eqVectorFilter(spark, tableDir, eqDels,
          PkTables.keyFileSchema(tableDir, pk.keys), seqs, delField,
          byName) match {
        case Some(keep) =>
          org.apache.spark.sql.catalyst.plans.logical.Filter(keep, rel)
        case None => return None
      }
    Some(residual.fold(eqApplied)(c =>
      org.apache.spark.sql.catalyst.plans.logical.Filter(c, eqApplied)))
  }

  /** The scan-local equality-delete filter over a data plan whose
    * columns `attrOf` names — the bucket-local base and the resolved
    * read ([[MorDeletes.resolve]]) apply their (pruned) eq churn as a
    * broadcast vector instead of a join operator, exactly like
    * position-delete vectors. None when the churn exceeds the shared
    * ceiling (callers keep the anti-join). */
  def eqVectorFilter(spark: SparkSession, tableDir: Path,
                     eqDels: Seq[String], keySchema: StructType,
                     seqs: Map[String, Long],
                     delField: Option[StructField],
                     attrOf: String => org.apache.spark.sql.catalyst
                       .expressions.Attribute)
      : Option[Expression] =
    eqVectorFor(spark, tableDir, eqDels, keySchema, seqs, delField)
      .map(v => org.apache.spark.sql.catalyst.expressions.Not(
        v.killed(keySchema, delField, attrOf)))

  /** A driver-built equality-delete vector ([[eqVectorFor]]): per key
    * (an [[UnsafeRow]] of `keyTypes`) the two delete families'
    * thresholds — (blind max seq | null, field value | null, that field
    * delete's seq | null), the normal form of
    * [[PkTables.canonicalEqDeletes]]. */
  final case class EqVector(keyTypes: Seq[DataType],
                            slots: org.apache.spark.broadcast.Broadcast[
                              java.util.HashMap[UnsafeRow, Array[AnyRef]]]) {
    /** The kill predicate ([[EqDeleteVectorKilled]]) over the key, birth
      * sequence and sequence-field columns `attrOf` names. */
    def killed(keySchema: StructType, delField: Option[StructField],
               attrOf: String => org.apache.spark.sql.catalyst.expressions
                 .Attribute): Expression =
      EqDeleteVectorKilled(slots, keyTypes,
        org.apache.spark.sql.catalyst.expressions.CreateStruct(
          keySchema.fieldNames.toSeq.map(attrOf)),
        attrOf(PkTables.SeqCol), delField.map(f => attrOf(f.name)))
  }

  // (appId, ceiling, tableDir, eq-file set) → vector, None cached for
  // over-ceiling sets — the vectorFor caching model. Eviction
  // UNPERSISTS the broadcast (up to VectorMax entries each — executors
  // must not accumulate dead delete vectors under ongoing churn across
  // many tables); unpersist, never destroy, because an already-planned
  // query may still hold the handle and lazily re-broadcasts on its
  // next execution.
  private val eqVecCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Option[EqVector]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[EqVector]]): Boolean = {
        val evict = size() > 8
        if (evict) e.getValue.foreach { v =>
          try v.slots.unpersist(false) catch { case _: Exception => () }
        }
        evict
      }
    })

  // the ceiling is part of the key: lowering the conf must route new
  // plans to the join path even when a larger vector was built
  private def eqVecKey(spark: SparkSession, tableDir: Path,
                       eqDels: Seq[String]): String =
    spark.sparkContext.applicationId + "\u0000" + MorDeletes.vectorMax(spark) +
      "\u0000" + tableDir.toString + "\u0000" + eqDels.sorted.mkString("\u0000")

  /** Is the vector over `eqDels` already built (or known over the
    * ceiling)? */
  private[catalog] def eqVectorCached(spark: SparkSession, tableDir: Path,
                                      eqDels: Seq[String]): Boolean =
    eqVecCache.containsKey(eqVecKey(spark, tableDir, eqDels))

  /** The vector over the pending equality-delete files `eqDels`, built
    * on the driver from ONE bounded collect
    * ([[MorDeletes.collectUnderCeiling]]: the files' footer row counts
    * must fit the shared vector ceiling — never an unbounded collect),
    * or from `extending`: the vector of a subset of `eqDels` (None: the
    * empty subset) and the raw rows (keys, field?, seq) of the rest,
    * which a caller collected in a job it runs anyway. The normal form
    * is a per-key max per family, so folding the rest into a copy of
    * the subset's slots equals folding every row; the extended vector
    * must hold at most the ceiling's count of keys plus rows. None =
    * over ceiling / vectors disabled (the caller keeps the join plan);
    * the None outcome caches like the position-vector cache. */
  private[catalog] def eqVectorFor(spark: SparkSession, tableDir: Path,
                                   eqDels: Seq[String], keySchema: StructType,
                                   seqs: Map[String, Long],
                                   delField: Option[StructField],
                                   extending: => Option[(Option[EqVector], Array[InternalRow])] = None)
      : Option[EqVector] = {
    val key = eqVecKey(spark, tableDir, eqDels)
    val cached = eqVecCache.get(key)
    if (cached != null) return cached
    val keyTypes = keySchema.fields.map(_.dataType).toSeq
    val (base, rows) = extending match {
      case Some((v, rest)) =>
        val m = new java.util.HashMap[UnsafeRow, Array[AnyRef]]()
        v.foreach(_.slots.value.forEach((k, slots) => { m.put(k, slots.clone()); () }))
        (m, Some(rest).filter(_.length + m.size <= MorDeletes.vectorMax(spark)))
      case None =>
        (new java.util.HashMap[UnsafeRow, Array[AnyRef]](),
          MorDeletes.collectUnderCeiling(spark, tableDir, eqDels,
            PkTables.readEqDeletes(spark, tableDir, eqDels, keySchema,
              PkTables.seqBroadcastFor(spark, tableDir, seqs), delField)))
    }
    val built = rows.map { rs =>
      foldEqRows(base, rs, keyTypes, delField)
      EqVector(keyTypes, spark.sparkContext.broadcast(base))
    }
    eqVecCache.put(key, built)
    built
  }

  /** Fold raw eq-delete rows (keys, field?, seq) into per-key slots:
    * the blind family's max seq, the field family's lex-max
    * `(field, seq)` pair. */
  private def foldEqRows(m: java.util.HashMap[UnsafeRow, Array[AnyRef]],
                         rows: Array[InternalRow], keyTypes: Seq[DataType],
                         delField: Option[StructField]): Unit = {
    val proj = UnsafeProjection.create(keyTypes.toArray)
    val n = keyTypes.length
    val fieldType = delField.map(_.dataType)
    val fieldOrd = fieldType.map(EqDeleteVectorKilled.ordering)
    val fieldIdx = n // DelFieldCol right after the keys when present
    val seqIdx = if (delField.isDefined) n + 1 else n
    rows.foreach { r =>
      val k = proj(r).copy()
      var slots = m.get(k)
      if (slots == null) { slots = new Array[AnyRef](3); m.put(k, slots); () }
      val dseq = r.getLong(seqIdx)
      val fv = fieldType.flatMap(t =>
        if (r.isNullAt(fieldIdx)) None else Some(r.get(fieldIdx, t)))
      fv match {
        case None => // blind family: max seq
          if (slots(0) == null ||
              slots(0).asInstanceOf[java.lang.Long].longValue() < dseq)
            slots(0) = java.lang.Long.valueOf(dseq)
        case Some(v) => // field family: lex-max (field, seq)
          val less = slots(1) == null || {
            val c = fieldOrd.get.compare(slots(1), v)
            c < 0 || (c == 0 &&
              slots(2).asInstanceOf[java.lang.Long].longValue() < dseq)
          }
          if (less) {
            slots(1) = v.asInstanceOf[AnyRef]
            slots(2) = java.lang.Long.valueOf(dseq)
          }
      }
    }
  }
}

/** The per-leaf keyed scan: one input partition per leaf partition
  * dir (identity values + bucket id), key-grouped on the writer-
  * identical spec transforms. */
private[catalog] final class PkBucketResolveScan(
    tableName: String,
    outSchema: StructType,
    parts: Seq[PkBucketResolve.PkLeafPartition],
    totalBytes: Long,
    factory: org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetPartitionReaderFactory,
    transforms: Seq[org.apache.spark.sql.connector.expressions.Transform],
    rowsUpperBound: Option[Long])
    extends Scan with Batch with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = outSchema
  override def description(): String =
    s"$tableName(pk-bucket-resolve:${parts.size} leaves," +
      s"${parts.map(_.files.length).sum} files)"
  override def toBatch: Batch = this

  /** Real statistics (file bytes summed at planning; manifest row
    * counts when every file carries one — an UPPER bound pre-dedup,
    * all the V2 contract promises): without them the relation reports
    * `defaultSizeInBytes` and a SMALL resolved side never broadcasts
    * in downstream joins. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(totalBytes)
      override def numRows(): java.util.OptionalLong =
        rowsUpperBound.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
    }

  override def planInputPartitions(): Array[InputPartition] =
    parts.map(p => p: InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PkBucketReaderFactory(factory)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning
      .KeyGroupedPartitioning(
        transforms.toArray[org.apache.spark.sql.connector.expressions
          .Expression], parts.size)
}

/** Reads a leaf's files sequentially through the V2 parquet row
  * reader (native row-index generation), appending each file's
  * (table-relative path, birth sequence) plus the leaf's IDENTITY
  * partition values as constants — the output layout is
  * `[fileCols…, pos, file, seq, identityCols…]`. */
private[catalog] final class PkBucketReaderFactory(
    inner: org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetPartitionReaderFactory)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val bp = p.asInstanceOf[PkBucketResolve.PkLeafPartition]
    new PartitionReader[InternalRow] {
      private var i = 0
      private var cur: PartitionReader[InternalRow] = null
      private val joined = new JoinedRow
      private var suffix: GenericInternalRow = null

      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (i >= bp.files.length) return false
            val f = bp.files(i); i += 1
            cur = org.apache.spark.sql.GraftReadBridge.buildRowReader(
              inner, org.apache.spark.sql.GraftReadBridge
                .partitionedFile(f.absPath, f.size))
            suffix = new GenericInternalRow(
              (Array[Any](UTF8String.fromString(f.relPath),
                java.lang.Long.valueOf(f.seq)) ++ bp.idVals)
                .asInstanceOf[Array[Any]])
          }
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false
      }

      override def get(): InternalRow = joined(cur.get(), suffix)

      override def close(): Unit = {
        if (cur != null) { cur.close(); cur = null }
      }
    }
  }
}

/** Scan-local equality-delete application — the broadcast form of
  * [[PkTables.eqKillCond]]. Per key the vector holds the two delete
  * families' thresholds: a row is KILLED iff
  *  - the BLIND family holds a seq strictly above the row's birth
  *    sequence (per-key max ≡ the union of blind delete files), or
  *  - the FIELD family holds a lex-greater `(field, seq)` pair with a
  *    DIFFERENT commit seq (the same-commit exclusion — a field-
  *    lowering update never eats its own insert).
  * Codegen'd like [[DeleteVectorContains]], so the filter rides inside
  * the scan's whole-stage span with no join operator and no
  * broadcast-threshold dependence. */
private[catalog] final case class EqDeleteVectorKilled(
    vectors: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[UnsafeRow, Array[AnyRef]]],
    keyTypes: Seq[DataType],
    keyStruct: Expression,
    seqExpr: Expression,
    fieldExpr: Option[Expression])
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.Predicate {

  override def children: Seq[Expression] =
    Seq(keyStruct, seqExpr) ++ fieldExpr.toSeq
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  @transient private lazy val proj =
    UnsafeProjection.create(keyTypes.toArray)
  @transient private lazy val fieldOrd: Ordering[Any] =
    fieldExpr.map(f => EqDeleteVectorKilled.ordering(f.dataType)).orNull

  def killed(key: InternalRow, seq: Long, field: AnyRef): Boolean = {
    val slots = vectors.value.get(proj(key))
    if (slots == null) return false
    if (slots(0) != null &&
        seq < slots(0).asInstanceOf[java.lang.Long].longValue()) return true
    if (slots(1) == null || field == null) return false
    val ds = slots(2).asInstanceOf[java.lang.Long].longValue()
    if (seq == ds) return false
    val c = fieldOrd.compare(field, slots(1))
    c < 0 || (c == 0 && seq < ds)
  }

  override def eval(input: InternalRow): Any = {
    val k = keyStruct.eval(input)
    if (k == null) false
    else killed(k.asInstanceOf[InternalRow],
      seqExpr.eval(input).asInstanceOf[Long],
      fieldExpr.map(_.eval(input).asInstanceOf[AnyRef]).orNull)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("eqDeleteVector", this)
    val k = keyStruct.genCode(ctx)
    val s = seqExpr.genCode(ctx)
    fieldExpr match {
      case None =>
        ev.copy(
          code = code"""
            ${k.code}
            ${s.code}
            boolean ${ev.value} = !${k.isNull} && !${s.isNull} &&
              $ref.killed(${k.value}, ${s.value}, null);""",
          isNull = org.apache.spark.sql.catalyst.expressions.codegen
            .FalseLiteral)
      case Some(fe) =>
        val f = fe.genCode(ctx)
        ev.copy(
          code = code"""
            ${k.code}
            ${s.code}
            ${f.code}
            boolean ${ev.value} = !${k.isNull} && !${s.isNull} &&
              $ref.killed(${k.value}, ${s.value},
                ${f.isNull} ? null : (Object) ${f.value});""",
          isNull = org.apache.spark.sql.catalyst.expressions.codegen
            .FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(keyStruct = newChildren(0), seqExpr = newChildren(1),
      fieldExpr = if (newChildren.length > 2) Some(newChildren(2)) else None)
}

private[catalog] object EqDeleteVectorKilled {
  /** Catalyst's OWN per-type ordering (`SQLOrderingUtil` float/double
    * semantics: `-0.0 == 0.0`, NaN greatest) — raw
    * `Comparable.compareTo` would order `-0.0 < 0.0` via the java
    * bit-comparison and diverge from the join path's struct
    * `LessThan` for floating-point sequence fields. */
  def ordering(dt: DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
}

/** Key-set membership, `struct(keys) ∈ broadcast set` — the scan-local
  * form of a semi-join against a driver-collected key set (the one-pass
  * diff's touched-key restriction, [[MorDeletes.versionDiff]]). The set
  * holds [[UnsafeRow]]s of `keyTypes`, the key projection the
  * equality-delete vectors use. */
private[catalog] final case class KeySetContains(
    keys: org.apache.spark.broadcast.Broadcast[java.util.HashSet[UnsafeRow]],
    keyTypes: Seq[DataType],
    child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Predicate {

  override def nullable: Boolean = false

  @transient private lazy val proj = UnsafeProjection.create(keyTypes.toArray)

  def contains(key: InternalRow): Boolean =
    key != null && keys.value.contains(proj(key))

  override def eval(input: InternalRow): Any =
    contains(child.eval(input).asInstanceOf[InternalRow])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("keySet", this)
    val k = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${k.code}
        boolean ${ev.value} = !${k.isNull} && $ref.contains(${k.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

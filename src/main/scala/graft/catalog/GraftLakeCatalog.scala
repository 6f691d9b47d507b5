package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.util.Collections
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.StateStore

/** A Spark V2 catalog plugin over a parquet lake directory — the
  * engine's `CREATE CATALOG` equivalent (reference
  * `flink-cdc/sql/tickets-cdc.sql:11-14` `CREATE CATALOG fluss_catalog
  * WITH ('type'='fluss', ...)`; Paimon catalog in the generated
  * init-catalogs.sql).
  *
  * Spark-first shape: Flink's `CREATE CATALOG <name> WITH (...)` DDL
  * maps to configuration — `spark.sql.catalog.<name> =
  * graft.catalog.GraftLakeCatalog` plus `spark.sql.catalog.<name>.path
  * = <lakeRoot>` — after which `<name>.<db>.<table>` resolves anywhere
  * SQL does, cross-catalog joins included, with full parquet
  * pruning/pushdown (tables load through the same V2 ParquetTable the
  * built-in datasource uses).
  *
  * Layout contract: one subdirectory of the root per namespace
  * (database), one `<table>.parquet` file/dir per table. Namespace DDL
  * (CREATE/DROP NAMESPACE) and table drop/rename are filesystem moves;
  * writes land through the ordinary parquet writer against the table
  * location ([[Catalog.registerLakeTables]] covers the session-catalog
  * EXTERNAL-table path for flat scale dirs).
  */
class GraftLakeCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** V2 functions: only the `bucket` transform function (resolved by
    * the optimizer when a scan reports `KeyGroupedPartitioning` over a
    * bucket transform — see [[GraftFunctions]]); served under the
    * empty and `system` namespaces like Iceberg's. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.toSeq == Seq(LakeProcedures.Namespace))
      Array(Identifier.of(namespace, GraftFunctions.BucketName))
    else Array.empty
  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == GraftFunctions.BucketName &&
        (ident.namespace().isEmpty ||
          ident.namespace().toSeq == Seq(LakeProcedures.Namespace)))
      GraftFunctions.BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
      ident)

  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Paths.get(Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires option spark.sql.catalog.$name.path")))
  }

  override def name(): String = catalogName

  private def nsDir(ns: Array[String]): Path = ns.toSeq match {
    case Seq(db) => root.resolve(db)
    case _ => throw new NoSuchNamespaceException(ns)
  }

  private def tablePath(ident: Identifier): Path =
    nsDir(ident.namespace).resolve(s"${ident.name}.parquet")

  /** Directory-stream helper: `Files.list`/`Files.walk` return streams
    * whose javadoc requires closing — materialize inside, close always
    * (leaked handles accumulate per catalog listing). */
  private def withDirStream[T](s: java.util.stream.Stream[Path])(
      f: Iterator[Path] => T): T =
    try f(s.iterator().asScala) finally s.close()

  // ---- SupportsNamespaces ----

  override def listNamespaces(): Array[Array[String]] =
    withDirStream(Files.list(root)) {
      _.filter(Files.isDirectory(_))
        .map(p => Array(p.getFileName.toString)).toArray
    }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && Files.isDirectory(nsDir(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace))
      Collections.singletonMap(SupportsNamespaces.PROP_LOCATION,
        nsDir(namespace).toString)
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    Files.createDirectories(nsDir(namespace)); ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: namespace properties are fixed by the lake layout")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!Files.isDirectory(dir)) false
    else {
      val tables = listTables(namespace)
      if (tables.nonEmpty && !cascade)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty")
      tables.foreach(dropTable)
      Files.delete(dir)
      true
    }
  }

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    withDirStream(Files.list(dir)) {
      _.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => Identifier.of(namespace,
          p.getFileName.toString.stripSuffix(".parquet")))
        .toArray
    }
  }

  /** Declared-schema sidecar inside the table directory. The leading
    * underscore keeps it out of Spark's data-file listing (metadata-
    * file convention, like `_SUCCESS`), and it travels with the
    * directory through rename/drop. Present → the table reads with the
    * declared schema (merge-on-read: parquet files missing a declared
    * column yield NULLs); absent → schema is inferred from the files,
    * the original layout contract. */
  private val SchemaSidecar = Evolutions.SchemaSidecar

  private def declaredSchema(p: Path): Option[org.apache.spark.sql.types.StructType] =
    if (Files.isDirectory(p)) Evolutions.declaredSchema(p) else None

  /** Rename/drop evolution sidecar next to the schema sidecar:
    * `renames` maps each RENAMED column's current logical name to its
    * physical (in-file) name — the role Iceberg field-ids play;
    * `dropped` lists physical names retired by DROP COLUMN, so a later
    * ADD COLUMN of the same name allocates a FRESH physical slot
    * instead of resurrecting the dropped column's file data. */
  private val MappingSidecar = Evolutions.MappingSidecar

  private case class Evolution(renames: Map[String, String], dropped: Seq[String]) {
    def isEmpty: Boolean = renames.isEmpty && dropped.isEmpty
  }

  private def readEvolution(p: Path): Evolution = {
    val f = p.resolve(MappingSidecar)
    if (!Files.isDirectory(p) || !Files.exists(f)) Evolution(Map.empty, Nil)
    else {
      // the renames half parses through the ONE shared parser
      // ([[Evolutions.renames]]) so readers can never drift; only the
      // catalog needs the retired-slot list
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(Files.readString(f))
      val dropped = Option(node.get("dropped"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
      Evolution(Evolutions.renames(p), dropped)
    }
  }

  private def writeEvolution(p: Path, evo: Evolution): Unit = {
    val f = p.resolve(MappingSidecar)
    if (evo.isEmpty) { Files.deleteIfExists(f); () }
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.createObjectNode()
      val rn = root.putObject("renames")
      evo.renames.toSeq.sortBy(_._1).foreach { case (l, ph) => rn.put(l, ph) }
      val dr = root.putArray("dropped")
      evo.dropped.foreach(dr.add)
      writeAtomic(f, om.writeValueAsString(root))
    }
  }

  private def parquetTable(ident: Identifier, dataPath: Path,
                           schema: Option[org.apache.spark.sql.types.StructType],
                           evo: Evolution): Table = {
    // the inner table reads/writes PHYSICAL names; renamed columns
    // translate at the V2 boundary (MappedTable) so immutable files
    // stay valid under any rename history
    val physSchema = schema.map(s => org.apache.spark.sql.types.StructType(
      s.fields.map(f => f.copy(name = evo.renames.getOrElse(f.name, f.name)))))
    val inner = ParquetTable(ident.toString, SparkSession.active,
      CaseInsensitiveStringMap.empty(), Seq(dataPath.toString), physSchema,
      classOf[ParquetFileFormat])
    if (evo.renames.isEmpty) inner
    else new MappedTable(inner, schema.getOrElse(
      throw new IllegalStateException(
        s"$catalogName: ${ident.toString} carries a rename mapping " +
          s"($MappingSidecar) but no declared schema ($SchemaSidecar) — " +
          "the table directory is corrupt (partial copy/restore?)")),
      evo.renames)
  }

  /** Crash recovery for the DML publish swap: the copy-on-write
    * rewrite moves `t.parquet` → `t.parquet.__old`, then the staged
    * `t.parquet.__rewrite` → `t.parquet`. A crash INSIDE that window
    * leaves the live directory absent with `.__old` (and possibly the
    * staged dir) present; restoring `.__old` is the correct heal —
    * the rewrite never committed (its publish did not complete), so
    * the pre-rewrite table IS the table. A stale `.__old` NEXT TO a
    * live directory (crash after the second move, before cleanup)
    * needs nothing: the committed rewrite is live and the next
    * rewrite clears the leftover. */
  private def healInterruptedSwap(p: Path): Unit = {
    val old = p.resolveSibling(p.getFileName.toString + ".__old")
    if (!Files.exists(p) && Files.exists(old)) { Files.move(old, p); () }
  }

  override def loadTable(ident: Identifier): Table = {
    // `cat.db.t.history` / `cat.db.t.files` parse as a 2-element
    // namespace — unambiguous here (namespaces are one level deep):
    // route to the metadata tables ([[MetadataTables]])
    if (ident.namespace.length == 2 && MetadataTables.Names(ident.name)) {
      val base = nsDir(Array(ident.namespace()(0)))
        .resolve(s"${ident.namespace()(1)}.parquet")
      healInterruptedSwap(base)
      if (!Files.exists(base)) throw new NoSuchTableException(ident)
      return MetadataTables.load(catalogName, base, ident.name)
    }
    val p = tablePath(ident)
    healInterruptedSwap(p)
    if (!Files.exists(p)) throw new NoSuchTableException(ident)
    val pspec = PartitionSpec.read(p)
    if (pspec.nonEmpty) {
      val snap =
        if (!Snapshots.isVersioned(p)) None
        else Some(
          // WAP sessions (`graft.write.branch`) read the staging
          // branch's head; everyone else reads main — the Iceberg
          // wap.branch semantics, so stage → audit → publish runs
          // against one table name
          Snapshots.activeReadBranch(p)
            .flatMap(Snapshots.latestBranch(p, _))
            .orElse(Snapshots.latest(p))
            .getOrElse(throw new IllegalStateException(
              s"$catalogName: ${ident.toString} has a snapshot log but no " +
                "manifests — corrupt table dir (partial copy/restore?)")))
      return partitionedTable(ident, p, pspec, snap, writable = true)
    }
    val evo = readEvolution(p)
    val schema = declaredSchema(p)
    val data = StateStore.currentDir(p)
    val base = parquetTable(ident, data, schema, evo)
    // the CURRENT table supports DELETE FROM / TRUNCATE (copy-on-write
    // rewrite, or a new snapshot commit for versioned tables); the
    // time-travel overloads below stay read-only historical views
    val physSchema = schema.map(s => org.apache.spark.sql.types.StructType(
      s.fields.map(f => f.copy(name = evo.renames.getOrElse(f.name, f.name)))))
    new DeletableTable(
      base.asInstanceOf[Table with org.apache.spark.sql.connector.catalog.SupportsRead
        with org.apache.spark.sql.connector.catalog.SupportsWrite],
      p, data, evo.renames, physSchema)
  }

  /** The [[PartitionedLakeTable]] at `p` reading `snap` (None = plain
    * layout); `writable = false` is a time-travel view. */
  private def partitionedTable(ident: Identifier, p: Path,
      spec: Seq[PartitionSpec.Field], snap: Option[Snapshots.Snapshot],
      writable: Boolean): PartitionedLakeTable =
    new PartitionedLakeTable(ident.toString, p,
      declaredSchema(p).getOrElse(throw new IllegalStateException(
        s"$catalogName: ${ident.toString} carries a partition sidecar " +
          s"but no declared schema ($SchemaSidecar) — corrupt table dir")),
      spec, snap, writable, readEvolution(p).renames)

  /** SQL-text time travel, version form: `SELECT … FROM cat.db.t
    * VERSION AS OF <n>` resolves here (Spark's TimeTravelSpec calls
    * this overload). Exactly the [[graft.streaming.StateStore]]
    * `read(version)` semantics, reachable from pure SQL — the surface
    * a sql-client user expects of a Paimon/Iceberg lake table. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    if (!Files.exists(p)) throw new NoSuchTableException(ident)
    // partitioned tables time-travel through the MANIFEST log (the
    // v=<n> directory layout cannot compose with col=value dirs)
    val pspec = PartitionSpec.read(p)
    if (pspec.nonEmpty) {
      if (!Snapshots.isVersioned(p)) throw new UnsupportedOperationException(
        s"$catalogName: ${ident.toString} is a PLAIN partitioned table — " +
          "create with TBLPROPERTIES ('versioned'='true') for snapshot " +
          "time travel")
      def snapTable(snap: Snapshots.Snapshot) =
        partitionedTable(ident, p, pspec, Some(snap), writable = false)
      // non-numeric versions resolve as TAG first (chain-carried pins,
      // legacy sidecar included), then BRANCH head — `VERSION AS OF
      // 'audit'` is the audit query of the WAP flow without touching
      // the session conf
      lazy val pins = Snapshots.effectivePins(p)
      if (version.toLongOption.isEmpty && !pins.contains(version) &&
          Snapshots.branchExists(p, version))
        return snapTable(Snapshots.latestBranch(p, version).getOrElse(
          throw new IllegalStateException(
            s"$catalogName: branch '$version' has no committed snapshot")))
      val svs = Snapshots.versions(p)
      val v = version.toLongOption
        .orElse(pins.get(version))
        .getOrElse(throw new IllegalArgumentException(
          s"$catalogName: VERSION AS OF expects a numeric snapshot id, a " +
            s"tag name, or a branch name, got '$version' (tags: " +
            s"${pins.keys.toSeq.sorted.mkString(",")}; branches: " +
            s"${Snapshots.branches(p).mkString(",")})"))
      if (!svs.contains(v)) throw new IllegalArgumentException(
        s"$catalogName: ${ident.toString} has no snapshot s-$v " +
          s"(committed: ${svs.mkString(",")} — older snapshots may have " +
          "been expired)")
      // the read itself can race an expire's manifest deletion — same
      // informative error, never a bare None.get
      return snapTable(Snapshots.read(p, v).getOrElse(
        throw new IllegalArgumentException(
          s"$catalogName: ${ident.toString} has no snapshot s-$v " +
            "(a concurrent expire_snapshots dropped it)")))
    }
    val vs = StateStore.versionsOf(p)
    if (vs.isEmpty) throw new UnsupportedOperationException(
      s"$catalogName: ${ident.toString} is not a versioned table (no v=<n> snapshots)")
    // non-numeric versions resolve through the tag sidecar (Iceberg
    // refs): VERSION AS OF 'stable' reads the pinned snapshot
    val v = version.toLongOption
      .orElse(Tags.read(p).get(version))
      .getOrElse(throw new IllegalArgumentException(
        s"$catalogName: VERSION AS OF expects a numeric snapshot id or a " +
          s"tag name, got '$version' (tags: " +
          s"${Tags.read(p).keys.toSeq.sorted.mkString(",")})"))
    if (!vs.contains(v)) throw new IllegalArgumentException(
      s"$catalogName: ${ident.toString} has no snapshot v=$v " +
        s"(committed: ${vs.mkString(",")} — older snapshots may have been expired)")
    parquetTable(ident, StateStore.versionDir(p, v), declaredSchema(p), readEvolution(p))
  }

  /** SQL-text time travel, timestamp form: `… TIMESTAMP AS OF <ts>`
    * (Spark passes MICROseconds). Resolves to the newest snapshot
    * committed at or before the timestamp — on flat stores per
    * [[StateStore.versionAsOf]], the same commit clock as
    * `StateStore.readAsOf`, so SQL and Scala answers agree. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = tablePath(ident)
    if (!Files.exists(p)) throw new NoSuchTableException(ident)
    val pspec = PartitionSpec.read(p)
    if (pspec.nonEmpty) {
      if (!Snapshots.isVersioned(p)) throw new UnsupportedOperationException(
        s"$catalogName: ${ident.toString} is a PLAIN partitioned table — " +
          "create with TBLPROPERTIES ('versioned'='true') for snapshot " +
          "time travel")
      val ts = timestampMicros / 1000L
      val snaps = Snapshots.versions(p).flatMap(Snapshots.read(p, _))
      val snap = snaps.reverse.find(_.commitMs <= ts)
        .getOrElse(throw new IllegalArgumentException(
          s"$catalogName: ${ident.toString} has no snapshot at or before " +
            s"timestamp ${ts}ms (earliest commit: " +
            s"${snaps.headOption.fold(-1L)(_.commitMs)}ms)"))
      return partitionedTable(ident, p, pspec, Some(snap), writable = false)
    }
    val store = new StateStore(SparkSession.active, p.toString)
    val vs = store.versions
    if (vs.isEmpty) throw new UnsupportedOperationException(
      s"$catalogName: ${ident.toString} is not a versioned table (no v=<n> snapshots)")
    val tsMs = timestampMicros / 1000L
    val v = store.versionAsOf(tsMs)
      .getOrElse(throw new IllegalArgumentException(
        s"$catalogName: ${ident.toString} has no snapshot at or before " +
          s"timestamp ${tsMs}ms (earliest commit: " +
          s"${store.commitTimeMs(vs.head).getOrElse(-1L)}ms)"))
    parquetTable(ident, StateStore.versionDir(p, v), declaredSchema(p), readEvolution(p))
  }

  /** CREATE TABLE / CTAS: the table is a (initially empty) parquet
    * directory at the lake-layout location; the returned V2 ParquetTable
    * is SupportsWrite, so `CREATE TABLE cat.db.t AS SELECT …` and
    * `INSERT INTO cat.db.t` land part files through the ordinary
    * distributed parquet writer (no driver materialization). The
    * declared schema rides along explicitly — an empty directory has
    * nothing to infer from until the CTAS write commits. */
  override def createTable(ident: Identifier,
                           schema: org.apache.spark.sql.types.StructType,
                           partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
                           properties: java.util.Map[String, String]): Table = {
    val spec = partitionSpecOf(ident, schema, partitions)
    val p = tablePath(ident)
    if (Files.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace :+ ident.name).toSeq)
    if (!Files.isDirectory(p.getParent)) throw new NoSuchNamespaceException(ident.namespace)
    // validate EVERYTHING before any filesystem mutation — a rejection
    // thrown after mkdir would leave a half-created table that blocks
    // the user's corrected CREATE with TableAlreadyExists
    val versionedProp = Option(properties.get(Snapshots.Property))
      .exists(_.equalsIgnoreCase("true"))
    if (versionedProp && spec.isEmpty)
      throw new UnsupportedOperationException(
        s"$catalogName: TBLPROPERTIES ('versioned'='true') applies to " +
          "PARTITIONED tables (the manifest snapshot log); flat tables " +
          "version through the v=<n> snapshot layout")
    // PRIMARY-KEY table declaration ([[PkTables]] — the Paimon
    // 'merge-engine' model): validated completely before any
    // filesystem mutation
    val pkProp: Option[PkTables.PkDef] = {
      val keysOpt = Option(properties.get(PkTables.KeysProp))
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      val engineOpt = Option(properties.get(PkTables.EngineProp))
        .map(_.trim.toLowerCase)
      (keysOpt, engineOpt) match {
        case (None, None) => None
        case (None, Some(e)) => throw new UnsupportedOperationException(
          s"$catalogName: '${PkTables.EngineProp}'='$e' requires " +
            s"'${PkTables.KeysProp}' (the key the engine merges by)")
        case (Some(keys), eng) =>
          val engine = eng.getOrElse(PkTables.EngineDedup)
          if (engine != PkTables.EngineDedup &&
              engine != PkTables.EngineFirstRow &&
              engine != PkTables.EnginePartialUpdate &&
              engine != PkTables.EngineAggregation)
            throw new UnsupportedOperationException(
              s"$catalogName: '${PkTables.EngineProp}'='$engine' — " +
                s"supported: '${PkTables.EngineDedup}' (latest version " +
                s"wins), '${PkTables.EngineFirstRow}' (first wins), " +
                s"'${PkTables.EnginePartialUpdate}' (latest NON-NULL " +
                s"per column), '${PkTables.EngineAggregation}' (declared " +
                s"per-column folds via '${PkTables.FieldAggPrefix}<col>" +
                s"${PkTables.FieldAggSuffix}')")
          if (!versionedProp)
            throw new UnsupportedOperationException(
              s"$catalogName: '${PkTables.KeysProp}' requires " +
                "TBLPROPERTIES ('versioned'='true') — latest-per-key " +
                "resolution orders versions by the manifest commit " +
                "sequence")
          val canonical = keys.map(k =>
            schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
              throw new IllegalArgumentException(
                s"$catalogName: ${PkTables.KeysProp} references unknown " +
                  s"column '$k'")))
          canonical.foreach { k =>
            if (schema(schema.fieldIndex(k)).nullable)
              throw new UnsupportedOperationException(
                s"$catalogName: PRIMARY KEY column '$k' must be declared " +
                  "NOT NULL (the delta row identity and the hive " +
                  "partition round trip both require it)")
          }
          // the Paimon constraint: every partition transform must
          // reference a KEY column — a key's versions then always
          // co-locate (bucket/partition pruning and the blind delete's
          // partition scope all derive from the key alone)
          spec.map(_.col).find(c => !canonical.exists(_.equalsIgnoreCase(c)))
            .foreach(c => throw new UnsupportedOperationException(
              s"$catalogName: partition/bucket column '$c' is not part " +
                s"of the primary key (${canonical.mkString(",")}) — a " +
                "key's versions must co-locate for merge-on-read " +
                "resolution to scale (the Paimon constraint); include " +
                s"'$c' in '${PkTables.KeysProp}' or partition by a key " +
                "column"))
          // per-column fold declarations (aggregation engine only)
          val fieldAggs = {
            import scala.jdk.CollectionConverters._
            val entries = properties.asScala.collect {
              case (k, v) if k.startsWith(PkTables.FieldAggPrefix) &&
                  k.endsWith(PkTables.FieldAggSuffix) =>
                val colName = k.stripPrefix(PkTables.FieldAggPrefix)
                  .stripSuffix(PkTables.FieldAggSuffix)
                (colName, v.trim.toLowerCase)
            }.toMap
            if (entries.nonEmpty && engine != PkTables.EngineAggregation)
              throw new UnsupportedOperationException(
                s"$catalogName: '${PkTables.FieldAggPrefix}…" +
                  s"${PkTables.FieldAggSuffix}' declarations require " +
                  s"'${PkTables.EngineProp}'='${PkTables.EngineAggregation}'")
            entries.map { case (c, fn) =>
              val canon = schema.fieldNames.find(_.equalsIgnoreCase(c))
                .getOrElse(throw new IllegalArgumentException(
                  s"$catalogName: ${PkTables.FieldAggPrefix}$c" +
                    s"${PkTables.FieldAggSuffix} references unknown column"))
              if (canonical.exists(_.equalsIgnoreCase(canon)))
                throw new UnsupportedOperationException(
                  s"$catalogName: '$canon' is a PRIMARY KEY column — " +
                    "keys group, they do not fold")
              if (!PkTables.FieldAggFunctions(fn))
                throw new UnsupportedOperationException(
                  s"$catalogName: aggregate-function '$fn' for '$canon' — " +
                    s"supported: ${PkTables.FieldAggFunctions.toSeq.sorted
                      .mkString(", ")}")
              canon -> fn
            }
          }
          // 'sequence.field' (Paimon): a USER column ordering versions
          // ahead of arrival order — see [[PkTables.SeqFieldProp]]
          val seqField = Option(properties.get(PkTables.SeqFieldProp))
            .map(_.trim).filter(_.nonEmpty).map { f =>
            val canon = schema.fieldNames.find(_.equalsIgnoreCase(f))
              .getOrElse(throw new IllegalArgumentException(
                s"$catalogName: '${PkTables.SeqFieldProp}'='$f' " +
                  "references unknown column"))
            if (canonical.exists(_.equalsIgnoreCase(canon)))
              throw new UnsupportedOperationException(
                s"$catalogName: '$canon' is a PRIMARY KEY column — a " +
                  "sequence field orders a key's VERSIONS, it cannot " +
                  "be the key")
            val fld = schema(schema.fieldIndex(canon))
            if (fld.nullable)
              throw new UnsupportedOperationException(
                s"$catalogName: sequence field '$canon' must be " +
                  "declared NOT NULL (the resolution ladder needs a " +
                  "total order and the delta row identity carries it)")
            val atomicOrderable = fld.dataType match {
              case _: org.apache.spark.sql.types.StructType |
                   _: org.apache.spark.sql.types.ArrayType |
                   _: org.apache.spark.sql.types.MapType |
                   org.apache.spark.sql.types.BinaryType => false
              case dt => org.apache.spark.sql.catalyst.expressions
                .RowOrdering.isOrderable(dt)
            }
            if (!atomicOrderable)
              throw new UnsupportedOperationException(
                s"$catalogName: sequence field '$canon' must be an " +
                  s"orderable atomic type, got ${fld.dataType.sql}")
            if (engine == PkTables.EngineFirstRow)
              throw new UnsupportedOperationException(
                s"$catalogName: '${PkTables.SeqFieldProp}' is not " +
                  s"supported with '${PkTables.EngineFirstRow}' (the " +
                  "Paimon constraint: first-row keeps the first " +
                  "ARRIVAL; a version order contradicts it)")
            if (fieldAggs.contains(canon))
              throw new UnsupportedOperationException(
                s"$catalogName: sequence field '$canon' cannot carry " +
                  "an aggregate-function fold — the merged row keeps " +
                  "the LATEST field value (the ladder's own order)")
            canon
          }
          // 'changelog-producer' (Paimon; the reference sink declares
          // 'input', flink-gen.sh:140): persist each commit's RESOLVED
          // changelog as write-once files — see [[ChangelogProducer]]
          val clProducer = Option(
              properties.get(PkTables.ChangelogProducerProp))
            .map(_.trim.toLowerCase).filter(_.nonEmpty)
            .filterNot(_ == "none")
            .map { v =>
              if (v != "input") throw new UnsupportedOperationException(
                s"$catalogName: '${PkTables.ChangelogProducerProp}'=" +
                  s"'$v' — supported: 'input' (persist the resolved " +
                  "per-version changelog as files) or 'none' (derive " +
                  "at read time)")
              v
            }
          Some(PkTables.PkDef(canonical, engine, fieldAggs, seqField,
            clProducer))
      }
    }
    if (pkProp.isEmpty &&
        Option(properties.get(PkTables.ChangelogProducerProp))
          .exists(v => v.trim.nonEmpty && !v.trim.equalsIgnoreCase("none")))
      throw new UnsupportedOperationException(
        s"$catalogName: '${PkTables.ChangelogProducerProp}' requires " +
          s"'${PkTables.KeysProp}' — the persisted changelog is the " +
          "RESOLVED per-key feed of a PRIMARY-KEY table")
    // declared write-time clustering (WRITE ORDERED BY — [[WriteOrder]]):
    // names canonicalize to the schema's exact case, since consumers
    // filter case-sensitively
    val orderProp = Option(properties.get(WriteOrder.Property)).map { v =>
      if (spec.isEmpty) throw new UnsupportedOperationException(
        s"$catalogName: TBLPROPERTIES ('${WriteOrder.Property}'=…) applies " +
          "to PARTITIONED lake tables (their V2 writer owns the sort " +
          "request)")
      v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        .map(c => schema.fieldNames.find(_.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(
            s"$catalogName: ${WriteOrder.Property} references unknown " +
              s"column $c")))
    }
    Files.createDirectories(p)
    // persist the declared schema: an empty table has nothing to infer
    // from, and ADD COLUMN evolution rewrites this sidecar later
    Files.writeString(p.resolve(SchemaSidecar), schema.json)
    if (spec.nonEmpty) {
      PartitionSpec.write(p, spec)
      orderProp.foreach(WriteOrder.write(p, _))
      pkProp.foreach(PkTables.write(p, _))
      if (versionedProp) Snapshots.init(p)
      new PartitionedLakeTable(ident.toString, p, schema, spec,
        if (versionedProp) Snapshots.latest(p) else None)
    } else
      // return the LOADED table, not a raw ParquetTable: loadTable
      // wraps the DML surface (TRUNCATE/OVERWRITE capabilities), which
      // RTAS's non-atomic replace drives immediately after create
      loadTable(ident)
  }

  /** Validate + translate `PARTITIONED BY` transforms: identity and
    * bucket (the reference's `'bucket.num'='4'` PK layout) are the
    * supported lake transforms. Identity partition columns must be
    * dir-value-exact types (string / integral / date / boolean — the
    * hive `col=value` round trip is lossless for these); a column
    * named `v` is rejected because `v=<n>` is the snapshot layout. */
  private def partitionSpecOf(
      ident: Identifier,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform]):
      Seq[PartitionSpec.Field] = {
    import org.apache.spark.sql.types._
    def unsupported(msg: String): Nothing =
      throw new UnsupportedOperationException(
        s"$catalogName: ${ident.toString}: $msg")
    def singleCol(t: org.apache.spark.sql.connector.expressions.Transform): String = {
      val refs = t.references()
      if (refs.length != 1 || refs(0).fieldNames().length != 1)
        unsupported(s"transform $t must reference exactly one top-level column")
      val c = refs(0).fieldNames()(0)
      if (!schema.fieldNames.contains(c))
        unsupported(s"partition column '$c' is not in the table schema")
      c
    }
    val spec = partitions.toSeq.map { t =>
      t.name() match {
        case "identity" =>
          val c = singleCol(t)
          if (c == "v" || c.startsWith("_"))
            unsupported(s"partition column '$c' collides with the " +
              "snapshot/sidecar layout (v=<n>, _-prefixed)")
          schema(c).dataType match {
            case StringType | ByteType | ShortType | IntegerType |
                 LongType | DateType | BooleanType => ()
            case dt => unsupported(
              s"identity partition column '$c' has type ${dt.simpleString}; " +
                "supported: string, integral, date, boolean " +
                "(directory values must round-trip exactly)")
          }
          PartitionSpec.Identity(c)
        case "bucket" =>
          val c = singleCol(t)
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].intValue()
          }.getOrElse(unsupported(s"bucket transform $t needs a bucket count"))
          if (n <= 0) unsupported(s"bucket count must be positive, got $n")
          PartitionSpec.Bucket(c, n)
        case other =>
          unsupported(s"partition transform '$other' is not supported " +
            "(identity and bucket only)")
      }
    }
    if (spec.count(_.isInstanceOf[PartitionSpec.Bucket]) > 1)
      unsupported("at most one bucket transform per table")
    val identityCols = spec.collect { case PartitionSpec.Identity(c) => c }
    if (identityCols.distinct.size != identityCols.size)
      unsupported("duplicate identity partition columns")
    if (identityCols.size == schema.fields.length)
      unsupported("at least one non-partition data column is required")
    // the hive-layout scan reads (data columns, then partition
    // columns); requiring the declared schema in that same order keeps
    // the V2 scan output aligned with the relation — no compensating
    // Project, which Spark's DELETE/row-level planning rejects. Same
    // convention as Hive/V1 (partition columns always trail).
    if (identityCols.nonEmpty &&
        schema.fieldNames.takeRight(identityCols.size).toSeq != identityCols)
      unsupported("identity partition columns must be the LAST columns " +
        s"of the schema, in PARTITIONED BY order (expected trailing " +
        s"(${identityCols.mkString(", ")}); declared " +
        s"(${schema.fieldNames.mkString(", ")}))")
    spec
  }

  // ---- ProcedureCatalog: CALL <cat>.system.<proc>(…) lake maintenance ----

  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    LakeProcedures.load(root, ident).getOrElse(
      throw new IllegalArgumentException(
        s"$catalogName: no such procedure ${ident.toString} " +
          s"(available: ${LakeProcedures.Namespace}.{${LakeProcedures.list().mkString(",")}})"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq(LakeProcedures.Namespace))
      LakeProcedures.list().map(n => Identifier.of(namespace, n))
    else Array.empty

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!Files.exists(p)) false
    else {
      // a parquet "table" may be a single file or a directory of parts
      if (Files.isDirectory(p))
        withDirStream(Files.walk(p))(_.toSeq.reverse.foreach(Files.delete))
      else Files.delete(p)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!Files.exists(from)) throw new NoSuchTableException(oldIdent)
    Files.move(from, tablePath(newIdent)); ()
  }

  /** Metadata-only schema evolution — ADD / RENAME / DROP COLUMN — over
    * IMMUTABLE data files (merge-on-read, the Paimon/Iceberg read-side
    * contract the reference's lake tier exposes):
    *
    *  - ADD COLUMN rewrites the declared read schema; existing files
    *    read the new column as NULL. Re-adding a name retired by an
    *    earlier DROP allocates a FRESH physical slot (`name__<k>`), so
    *    the dropped column's file data can never resurface.
    *  - RENAME COLUMN is pure metadata: the sidecar mapping records
    *    logical→physical ([[MappedTable]] translates pruning, filter
    *    pushdown, read schema, and writes), so every pre-evolution
    *    snapshot — including `VERSION/TIMESTAMP AS OF` reads — resolves
    *    under the NEW name with its data intact.
    *  - DROP COLUMN removes the field from the declared schema and
    *    retires its physical slot; files keep the bytes, readers never
    *    see them.
    *
    *  - ALTER COLUMN TYPE supports WIDENING promotions only (the
    *    Iceberg/Paimon evolution rules: TINYINT/SMALLINT/INT → BIGINT
    *    along the integer ladder, FLOAT → DOUBLE, DECIMAL(p,s) →
    *    DECIMAL(p′,s) with p′ > p and the scale fixed). Widening is
    *    pure metadata over the immutable files: Spark 4's parquet
    *    readers up-convert a narrower file type to the wider requested
    *    type at scan time (SPARK-40876), so pre-evolution files —
    *    including `VERSION/TIMESTAMP AS OF` snapshots — read under the
    *    widened type with their data intact, and post-evolution writes
    *    land the widened physical type (per-file widening keeps the
    *    mixed directory readable). Narrowing / rescaling / unrelated
    *    type changes stay explicit unsupported errors: they would
    *    require rewriting data files, which the lake layout declares
    *    immutable.
    *
    * Property changes stay explicit unsupported errors.
    *
    * Commit ordering: the evolution (mapping) sidecar is written BEFORE
    * the schema sidecar, both via temp-file + atomic move — a crash
    * between the two writes then leaves a mapping whose extra retired
    * slots are merely conservative (loadTable treats mapping-without-
    * matching-schema fields as inert), whereas the old schema-first
    * order could expose a DROPPED column's physical slot to a later
    * same-name ADD, resurrecting dead file data. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!Files.exists(p)) throw new NoSuchTableException(ident)
    if (!Files.isDirectory(p))
      throw new UnsupportedOperationException(
        s"$catalogName: single-file tables cannot carry a schema sidecar; " +
          "only directory tables support schema evolution")
    // Partitioned tables evolve like flat ones — ADD COLUMN (inserted
    // before the trailing partition columns), RENAME / DROP / widening
    // through the same mapping sidecar — EXCEPT for the columns the
    // partition spec references: identity partition columns own their
    // `col=value` directory names and bucket source columns own the
    // written hash assignment, so renaming/dropping/retyping those
    // stays rejected (the Iceberg gating).
    val pspec = PartitionSpec.read(p)
    if (pspec.nonEmpty) {
      val specCols = pspec.map(_.col).toSet
      def gate(name: String, what: String): Unit =
        if (specCols.exists(_.equalsIgnoreCase(name)))
          throw new UnsupportedOperationException(
            s"$catalogName: cannot $what column '$name' of " +
              s"${ident.toString} — it is referenced by the partition " +
              "spec (directory names / bucket assignment depend on it)")
      changes.foreach {
        case r: TableChange.RenameColumn =>
          if (r.fieldNames.length == 1) gate(r.fieldNames.head, "rename")
        case d: TableChange.DeleteColumn =>
          if (d.fieldNames.length == 1) gate(d.fieldNames.head, "drop")
        case u: TableChange.UpdateColumnType =>
          if (u.fieldNames.length == 1) gate(u.fieldNames.head, "retype")
        case _ => ()
      }
      // PRIMARY-KEY columns own the dedup identity AND the persisted
      // equality-delete key files — rename/drop/retype stays rejected
      // (the Paimon gating)
      PkTables.read(p).foreach { pk =>
        def pkGate(name: String, what: String): Unit =
          if (pk.keys.exists(_.equalsIgnoreCase(name)))
            throw new UnsupportedOperationException(
              s"$catalogName: cannot $what column '$name' of " +
                s"${ident.toString} — it is a PRIMARY KEY column " +
                "(the dedup identity and the equality-delete key)")
        changes.foreach {
          case r: TableChange.RenameColumn =>
            if (r.fieldNames.length == 1) pkGate(r.fieldNames.head, "rename")
          case d: TableChange.DeleteColumn =>
            if (d.fieldNames.length == 1) pkGate(d.fieldNames.head, "drop")
          case u: TableChange.UpdateColumnType =>
            if (u.fieldNames.length == 1) pkGate(u.fieldNames.head, "retype")
          case _ => ()
        }
      }
    }
    var schema = declaredSchema(p).getOrElse(
      loadTable(ident) match {
        case pt: ParquetTable => pt.schema
        case t => t.schema()
      })
    var evo = readEvolution(p)
    // write-order sidecar edits accumulate in memory and commit with
    // the other sidecars AFTER every change validated — a failing
    // later change must not leave the ALTER partially applied
    var order: Seq[String] = WriteOrder.read(p)
    var orderChanged = false
    // the primary-key sidecar's per-column declarations
    // ('fields.<c>.aggregate-function', 'sequence.field') speak logical
    // names too: they chase renames the same way
    val pkBefore = PkTables.read(p)
    var pk = pkBefore
    // every physical name in use or retired — fresh-slot allocation
    // must dodge all of them
    def physInUse: Set[String] =
      schema.fields.map(f => evo.renames.getOrElse(f.name, f.name)).toSet ++
        evo.dropped
    // case-INSENSITIVE availability check, matching the collision
    // checks below and Spark's default parquet name resolution — a
    // case-sensitive lookup could hand out a slot that collides
    // case-insensitively with a retired one, resurrecting dropped data
    def freshPhys(name: String): String =
      Iterator.from(2).map(k => s"${name}__$k")
        .find(c => !physInUse.exists(_.equalsIgnoreCase(c))).get
    changes.foreach {
      case a: TableChange.AddColumn =>
        if (a.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName: nested ADD COLUMN is not supported")
        if (!a.isNullable)
          throw new UnsupportedOperationException(
            s"$catalogName: added columns must be nullable " +
              "(pre-evolution rows read as NULL)")
        val name = a.fieldNames.head
        if (schema.fieldNames.exists(_.equalsIgnoreCase(name)))
          throw new IllegalArgumentException(
            s"$catalogName: column $name already exists")
        // the hidden bucket partition column owns its directory name
        if (name.equalsIgnoreCase(PartitionSpec.BucketDir) && pspec.nonEmpty)
          throw new IllegalArgumentException(
            s"$catalogName: $name is reserved for the hidden bucket " +
              "partition column")
        // a retired or occupied physical slot of the same name would
        // resurrect dropped file data — allocate a fresh slot
        if (physInUse.exists(_.equalsIgnoreCase(name)))
          evo = evo.copy(renames = evo.renames + (name -> freshPhys(name)))
        // append at the END — including past trailing identity
        // partition columns (r16): Spark's MERGE WITH SCHEMA EVOLUTION
        // rebuilds the target relation expecting added columns LAST,
        // so insert-action alignment on identity-partitioned targets
        // only works with append-at-end. The scan keeps emitting
        // (data cols, partition cols); reads bind by name, and writes
        // split by name — the declared order is presentation only.
        val field = org.apache.spark.sql.types.StructField(
          name, a.dataType, nullable = true)
        schema = org.apache.spark.sql.types.StructType(
          schema.fields :+ field)
      case r: TableChange.RenameColumn =>
        if (r.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName: nested RENAME COLUMN is not supported")
        val old = r.fieldNames.head
        val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(old))
        if (idx < 0) throw new IllegalArgumentException(
          s"$catalogName: no such column $old")
        if (schema.fieldNames.exists(_.equalsIgnoreCase(r.newName)))
          throw new IllegalArgumentException(
            s"$catalogName: column ${r.newName} already exists")
        val actual = schema.fieldNames(idx)
        val phys = evo.renames.getOrElse(actual, actual)
        val renames = evo.renames - actual
        evo = evo.copy(renames =
          if (phys == r.newName) renames else renames + (r.newName -> phys))
        schema = org.apache.spark.sql.types.StructType(
          schema.fields.updated(idx, schema.fields(idx).copy(name = r.newName)))
        // the write-order sidecar speaks logical names: chase the rename
        if (order.exists(_.equalsIgnoreCase(old))) {
          order = order.map(c =>
            if (c.equalsIgnoreCase(old)) r.newName else c)
          orderChanged = true
        }
        def chase(c: String) = if (c.equalsIgnoreCase(old)) r.newName else c
        pk = pk.map(d => d.copy(
          fieldAggs = d.fieldAggs.map { case (c, f) => chase(c) -> f },
          seqField = d.seqField.map(chase)))
      case d: TableChange.DeleteColumn =>
        if (d.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName: nested DROP COLUMN is not supported")
        val name = d.fieldNames.head
        val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        if (idx < 0) {
          if (!d.ifExists) throw new IllegalArgumentException(
            s"$catalogName: no such column $name")
        } else {
          if (schema.fields.length == 1)
            throw new IllegalArgumentException(
              s"$catalogName: cannot drop the last column of ${ident.toString}")
          val actual = schema.fieldNames(idx)
          val phys = evo.renames.getOrElse(actual, actual)
          evo = Evolution(evo.renames - actual, evo.dropped :+ phys)
          schema = org.apache.spark.sql.types.StructType(
            schema.fields.patch(idx, Nil, 1))
          // a dropped column leaves the declared write order
          if (order.exists(_.equalsIgnoreCase(name))) {
            order = order.filterNot(_.equalsIgnoreCase(name))
            orderChanged = true
          }
        }
      case u: TableChange.UpdateColumnType =>
        if (u.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            s"$catalogName: nested ALTER COLUMN TYPE is not supported")
        val name = u.fieldNames.head
        val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        if (idx < 0) throw new IllegalArgumentException(
          s"$catalogName: no such column $name")
        val from = schema.fields(idx).dataType
        if (!isWidening(from, u.newDataType))
          throw new UnsupportedOperationException(
            s"$catalogName: unsupported type change ${from.simpleString} -> " +
              s"${u.newDataType.simpleString} for column $name; only widening " +
              "promotions (TINYINT/SMALLINT/INT -> BIGINT ladder, FLOAT -> " +
              "DOUBLE, DECIMAL(p,s) -> DECIMAL(p',s) with p' > p) evolve " +
              "over immutable data files")
        schema = org.apache.spark.sql.types.StructType(
          schema.fields.updated(idx,
            schema.fields(idx).copy(dataType = u.newDataType)))
      case sp: TableChange.SetProperty
          if sp.property == WriteOrder.Property =>
        if (pspec.isEmpty) throw new UnsupportedOperationException(
          s"$catalogName: ${WriteOrder.Property} applies to PARTITIONED " +
            "lake tables (their V2 writer owns the sort request)")
        // CANONICALIZE to the schema's exact field case — consumers
        // filter case-sensitively, and a case-mismatched declaration
        // would silently never sort anything
        order = sp.value.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
          .map(c => schema.fieldNames.find(_.equalsIgnoreCase(c))
            .getOrElse(throw new IllegalArgumentException(
              s"$catalogName: ${WriteOrder.Property} references unknown " +
                s"column $c")))
        orderChanged = true
      case rp: TableChange.RemoveProperty
          if rp.property == WriteOrder.Property =>
        order = Seq.empty
        orderChanged = true
      case other => throw new UnsupportedOperationException(
        s"$catalogName: only ADD/RENAME/DROP COLUMN, widening " +
          s"ALTER COLUMN TYPE, and the ${WriteOrder.Property} property " +
          s"are supported (got ${other.getClass.getSimpleName}; data " +
          "files are immutable)")
    }
    // mapping BEFORE schema (see scaladoc: crash between the writes
    // must err conservative), each via temp-file + atomic move
    writeEvolution(p, evo)
    writeAtomic(p.resolve(SchemaSidecar), schema.json)
    if (orderChanged) {
      if (order.isEmpty) WriteOrder.drop(p) else WriteOrder.write(p, order)
    }
    if (pk != pkBefore) pk.foreach(PkTables.write(p, _))
    loadTable(ident)
  }

  /** Iceberg-rule widening check: the integer ladder up to BIGINT,
    * FLOAT → DOUBLE, and DECIMAL precision growth at fixed scale. Every
    * promotion here is one Spark 4 parquet readers up-convert at scan
    * time (SPARK-40876), which is what makes the evolution metadata-
    * only; anything else would need a data rewrite. */
  private def isWidening(from: org.apache.spark.sql.types.DataType,
                         to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.precision > f.precision && t.scale == f.scale
      case _ => false
    }
  }

  /** Write-then-atomic-move: readers never observe a torn sidecar. */
  private def writeAtomic(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE); ()
  }
}

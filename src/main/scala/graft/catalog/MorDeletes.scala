package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, Filter, Join, JoinHint, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, substring_index}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** MERGE-ON-READ row-level deletes for manifest-versioned partitioned
  * lake tables — the Iceberg v2 position-delete model (Delta calls
  * them deletion vectors; the reference's lake tier is
  * Paimon/Iceberg, `flink-cdc/Dockerfile:8-9`), the piece that makes
  * row-level DELETE viable at 100 TB: a DELETE matching 100 rows of a
  * 1 GB data file must not rewrite the gigabyte (the copy-on-write
  * cost), it should persist 100 row coordinates and move on.
  *
  *  - WRITE: with the session conf `graft.write.mode =
  *    'merge-on-read'`, `DELETE FROM` on a manifest table evaluates
  *    the predicate over the current rows and writes DELETE FILES —
  *    parquet under `_graft_deletes/` holding `(file, pos)` row
  *    coordinates (`file` = the immutable data file's TABLE-RELATIVE
  *    path — e.g. `region=EU/part-ab12-….parquet` — the same key
  *    Iceberg position deletes use, so two identically-named files in
  *    sibling partition dirs can never collide; `pos` = the parquet
  *    row index) — then commits a manifest that adds ONLY the delete
  *    files. Data files are untouched; time travel to the pre-delete
  *    snapshot is free; appends after the delete can never collide
  *    with it (new files have new names, so old coordinates cannot
  *    address them — the property Iceberg needs sequence numbers for,
  *    position deletes get by construction).
  *  - READ: a snapshot that carries delete files cannot be served by
  *    a bare parquet scan — [[MorScanRewrite]] (attached to the
  *    session's optimizer by [[PartitionedLakeTable]] the moment a
  *    delete-carrying table is loaded) swaps the scan relation for a
  *    distributed plan: per-shape parquet read of the DATA files with
  *    `(basename(_metadata.file_path), _metadata.row_index)`
  *    materialized, LEFT ANTI joined against the delete files on the
  *    coordinate pair, projected back to the relation's own output
  *    attributes. The delete side is a small parquet relation, so the
  *    join plans as a broadcast anti-join — the fact scan never
  *    shuffles; pushed filters re-attach beneath the join so data
  *    skipping survives. Nothing is collected on the driver.
  *  - MAINTENANCE: `CALL compact` (and `zorder`) reads the live rows
  *    (deletes applied), rewrites, and commits a manifest WITHOUT the
  *    delete files — materializing the deletes and restoring the
  *    plain fast path (metadata-only aggregates, SPJ, exact numRows),
  *    which stay gated while deletes are pending.
  *
  * Rewrites that replace data files validate under
  * [[Snapshots.validateRewrite]]: a delete file committed
  * concurrently against a file the rewrite replaces would become
  * inert (its coordinates address a dead file) and silently
  * resurrect rows — the validator conflicts the rewrite instead. */
private[catalog] object MorDeletes {

  /** Session conf selecting the row-level DELETE strategy on manifest
    * tables: `copy-on-write` (default) or `merge-on-read`. */
  val ModeConf = "graft.write.mode"
  val MergeOnRead = "merge-on-read"

  /** Data-side coordinate columns the anti-join keys on. */
  val FileKeyCol = "_gmor_file"
  val PosKeyCol = "_gmor_pos"

  /** Delete-file parquet schema (column names inside the file). */
  val DeleteSchema: StructType =
    new StructType().add("file", StringType, nullable = false)
      .add("pos", LongType, nullable = false)

  def morEnabled(spark: SparkSession): Boolean =
    spark.conf.get(ModeConf, "copy-on-write").trim
      .equalsIgnoreCase(MergeOnRead)

  /** The delete files of a snapshot as one (FileKeyCol, PosKeyCol)
    * DataFrame — with LEGACY coordinate keys migrated on the way.
    *
    * r14 changed the coordinate key from the data file's BASENAME to
    * its TABLE-RELATIVE path; a delete file persisted by a pre-r14
    * build still holds basenames, which the rel-path join/vector
    * would silently never match — deleted rows would RESURRECT, the
    * one failure a merge-on-read read cannot have. Detection is per
    * ROW (a basename has no '/'); the fix re-derives the rel path
    * from the delete FILE's own `_gmor_tdir=` partition-scope segment
    * (the layout [[writeDeleteFiles]] has always used), which is
    * exactly the coordinates' parent directory. A scopeless legacy
    * coordinate in a table whose data files all live under partition
    * dirs is unmappable — refuse LOUDLY (`hasRootData` = the caller
    * saw root-level data files, where basename IS the rel path). */
  def readDeletes(spark: SparkSession, tableDir: Path,
                  deletes: Seq[String],
                  hasRootData: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{concat, concat_ws, lit, raise_error, regexp_extract, regexp_replace, url_decode, when}
    val raw = spark.read.schema(DeleteSchema)
      .parquet(deletes.map(f => tableDir.resolve(f).toString): _*)
    // the file's own target-partition segment, hive-unescaped (the
    // escaping is %XX; literal '+' pre-escapes, or url_decode would
    // turn it into a space — same discipline as the coordinate read)
    val seg = regexp_extract(col("_metadata.file_path"),
      java.util.regex.Pattern.quote(TargetDirCol) + "=([^/]+)", 1)
    // the segment is DOUBLY encoded: hive path-escaping on disk
    // (%3D for '='), then the URI encoding of `_metadata.file_path`
    // on top (%253D) — decode twice, pre-escaping literal '+' at each
    // stage (both encodings leave '+' raw; url_decode would eat it)
    def dec(c: org.apache.spark.sql.Column) =
      url_decode(regexp_replace(c, "\\+", "%2B"))
    val tdir = when(seg === "" ||
        seg === org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME, lit(""))
      .otherwise(dec(dec(seg)))
    val file = col("file")
    val fixed = when(file.contains("/"), file)
      .when(tdir =!= lit(""), concat_ws("/", tdir, file))
      .otherwise(
        if (hasRootData) file // root-layout data: basename IS the key
        else raise_error(concat(
          lit(s"$tableDir: legacy pre-r14 BASENAME delete coordinate '"),
          file,
          lit("' carries no partition scope and every data file lives " +
            "under a partition directory — applying it could silently " +
            "resurrect deleted rows; CALL system.compact(...) to " +
            "materialize the pending deletes first"))).cast(StringType))
    raw.select(fixed.as(FileKeyCol), col("pos").as(PosKeyCol))
  }

  /** Per-shape union read of DATA files in PHYSICAL column names with
    * the row-coordinate columns materialized — `FileKeyCol` is the
    * file's TABLE-RELATIVE path, recovered by stripping everything up
    * to and including `<table dir>/` from `_metadata.file_path`
    * (scheme-agnostic: works for `file:` and remote URIs alike, plain
    * substring search, no per-row regex); `select` (physical
    * names) prunes each shape's projection BEFORE the union so the
    * parquet scans never read columns the query did not ask for. */
  def readDataWithCoords(spark: SparkSession, tableDir: Path,
                         files: Seq[String],
                         select: Option[Seq[String]] = None): DataFrame = {
    val schema = Snapshots.physicalReadSchema(tableDir)
    val isCoord = Set(FileKeyCol, PosKeyCol)
    if (Snapshots.dataFiles(files).isEmpty) {
      // all-delete-files manifest: empty rows, full coordinate shape
      val base = select.fold(schema.fields.toSeq)(cols =>
        cols.filterNot(isCoord).map(c => schema(schema.fieldIndex(c))))
      return spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](),
        StructType(base :+
          org.apache.spark.sql.types.StructField(FileKeyCol, StringType) :+
          org.apache.spark.sql.types.StructField(PosKeyCol, LongType)))
    }
    // `_metadata.file_path` is a URI string: the table-dir prefix to
    // strip must be in the SAME (percent-encoded) form, and the
    // stripped remainder decodes back to the filesystem-relative path
    // (so coordinates match manifest entries even when partition
    // values carry spaces etc). Literal '+' pre-escapes to %2B —
    // URL decoding would otherwise turn it into a space.
    val dirPrefix = new java.net.URI(null, null,
      tableDir.toAbsolutePath.toString + "/", null).getRawPath
    Snapshots.groupByShape(Snapshots.dataFiles(files)).map { case (_, fs) =>
      val raw = spark.read.option("basePath", tableDir.toString)
        .schema(schema)
        .parquet(fs.map(f => tableDir.resolve(f).toString): _*)
        .withColumn(FileKeyCol,
          org.apache.spark.sql.functions.url_decode(
            org.apache.spark.sql.functions.regexp_replace(
              substring_index(col("_metadata.file_path"), dirPrefix, -1),
              "\\+", "%2B")))
        .withColumn(PosKeyCol, col("_metadata.row_index"))
      select.fold(raw)(cols =>
        raw.select((cols.filterNot(isCoord) ++
          Seq(FileKeyCol, PosKeyCol)).map(col): _*))
    }.reduce(_ unionByName _)
  }

  /** Anti-join the pending deletes away; coordinates stay available
    * on the output (callers drop them when done). */
  def applyDeletes(spark: SparkSession, tableDir: Path,
                   dataWithCoords: DataFrame,
                   deletes: Seq[String],
                   hasRootData: Boolean = false): DataFrame =
    if (deletes.isEmpty) dataWithCoords
    else {
      val del = readDeletes(spark, tableDir, deletes, hasRootData)
      dataWithCoords.join(del,
        dataWithCoords(FileKeyCol) === del(FileKeyCol) &&
          dataWithCoords(PosKeyCol) === del(PosKeyCol),
        "left_anti")
    }

  /** The LIVE rows of a snapshot's `files` in physical names, pending
    * deletes applied, coordinate columns dropped — the shared read
    * every maintenance rewrite (compact / zorder / copy-on-write DML)
    * builds on. */
  def liveRows(spark: SparkSession, tableDir: Path,
               files: Seq[String]): DataFrame = {
    val dels = Snapshots.deleteFiles(files)
    if (dels.isEmpty)
      // clean snapshot: the shared per-shape read, no coordinate cost
      Snapshots.readFiles(spark, tableDir, files).drop(Snapshots.FileCol)
    else
      applyDeletes(spark, tableDir,
        readDataWithCoords(spark, tableDir, files), dels,
        hasRootData = Snapshots.dataFiles(files).exists(!_.contains('/')))
        .drop(FileKeyCol, PosKeyCol)
  }

  /** ONE-PASS version diff of a plain (non-PK) merge-on-read table
    * under the caller's `keys` row identity — the non-PK twin of
    * [[PkTables.versionDiff]] (guide §1.2/§2.4): the changelog of
    * `prev → snap` as one scan + one key shuffle instead of two
    * live-row materializations + a full-outer join. Per-state
    * liveness: `aliveBefore` = the row's data file is in the parent
    * snapshot AND no parent-state delete coordinate hits it;
    * `aliveAfter` = no current delete coordinate hits it (coordinates
    * only accumulate on the additive path). Images pick
    * deterministically by `(file, pos)` per state.
    *
    * SEMANTICS: exact for the key-identity contract every feed
    * consumer already assumes (one live row per key per state — the
    * same contract the MV fold and `applyChangelog` require).
    * NULL-KEYED rows are handled exactly like the full-outer join
    * they replace: a null key matches nothing, so such a row emits
    * `d` from the before-state and `c` from the after-state,
    * ungrouped. Gated to purely-additive commits (appends, MoR
    * DELETE/UPDATE/MERGE); copy-on-write rewrites and compactions
    * replace files and fall back. */
  def versionDiffMor(spark: SparkSession, tableDir: Path,
                     prev: Snapshots.Snapshot, snap: Snapshots.Snapshot,
                     keys: Seq[String], logical: StructType,
                     renames: Map[String, String]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{lit, max, max_by, struct, when}
    val filesV = snap.files
    if (keys.isEmpty ||
        !keys.forall(logical.fieldNames.contains)) return None
    if (PkTables.eqDeleteFiles(filesV).nonEmpty) return None
    if (Snapshots.dataFiles(filesV).isEmpty) return None
    val prevSet = prev.files.toSet
    if (!prevSet.subsetOf(filesV.toSet)) return None
    val physKeys = keys.map(k => renames.getOrElse(k, k))
    val membBc = PkTables.seqBroadcastFor(spark, tableDir,
      prev.files.map(f => Snapshots.basename(f) -> 1L).toMap)
    def inPrev(fileCol: org.apache.spark.sql.Column) =
      PkTables.seqColumnFor(membBc, fileCol) === 1L
    var df = readDataWithCoords(spark, tableDir, filesV)
      .withColumn("_gmv_inprev", inPrev(col(FileKeyCol)))
    // per-state delete-coordinate hits: parent-state coordinates come
    // from the parent's OWN delete files, current-state from all —
    // read the two slices with a state flag and fold to one (file,
    // pos) → hit-state frame, joined once
    val delV = Snapshots.deleteFiles(filesV)
    val (aliveB, aliveA) =
      if (delV.isEmpty) (col("_gmv_inprev"), lit(true))
      else {
        val hasRoot = Snapshots.dataFiles(filesV).exists(!_.contains('/'))
        val delPrev = delV.filter(prevSet)
        val delFresh = delV.filterNot(prevSet)
        val slices =
          (if (delPrev.isEmpty) Seq.empty[DataFrame]
           else Seq(readDeletes(spark, tableDir, delPrev, hasRoot)
             .withColumn("_gmv_dprev", lit(1)))) ++
          (if (delFresh.isEmpty) Seq.empty[DataFrame]
           else Seq(readDeletes(spark, tableDir, delFresh, hasRoot)
             .withColumn("_gmv_dprev", lit(0))))
        val hits = slices.reduce(_ unionByName _)
          .groupBy(col(FileKeyCol).as("_gmv_hf"),
            col(PosKeyCol).as("_gmv_hp"))
          .agg(max(col("_gmv_dprev")).as("_gmv_dprev"))
          .withColumn("_gmv_hit", lit(1))
        df = df.join(hits,
          df(FileKeyCol) === col("_gmv_hf") &&
            df(PosKeyCol) === col("_gmv_hp"), "left")
          .drop("_gmv_hf", "_gmv_hp")
        // coalesce: an unmatched left-join row reads NULL flags, and
        // NULL && / ! would poison the liveness conditions
        val hit = org.apache.spark.sql.functions
          .coalesce(col("_gmv_hit"), lit(0)) === 1
        val hitPrev = org.apache.spark.sql.functions
          .coalesce(col("_gmv_dprev"), lit(0)) === 1
        (col("_gmv_inprev") && !(hit && hitPrev), !hit)
      }
    df = df.withColumn("_gmv_ab", aliveB).withColumn("_gmv_aa", aliveA)
    val ord = struct(col(FileKeyCol), col(PosKeyCol))
    val physVals = logical.fields.toSeq
      .map(f => renames.getOrElse(f.name, f.name))
      .filterNot(physKeys.contains)
    def imgOf(prefix: String): org.apache.spark.sql.Column =
      struct(logical.fields.map { f =>
        val p = renames.getOrElse(f.name, f.name)
        (if (physKeys.contains(p)) col(p) else col(s"_gmv_${prefix}_$p"))
          .as(f.name)
      }.toSeq: _*)
    // NULL-keyed rows ride the SAME aggregate (one pass — a separate
    // union branch would re-execute the scan+join subtree per branch,
    // measured 3x the whole diff): they group as SINGLETONS under
    // their own coordinates (the extra group columns are NULL for
    // keyed rows, so those groups are unchanged), and a singleton
    // alive in both states emits the full-outer's d+c churn via the
    // exploded array below — a null key matches nothing.
    val anyKeyNull = physKeys.map(col(_).isNull).reduce(_ || _)
    df = df
      .withColumn("_gmv_gf", when(anyKeyNull, col(FileKeyCol)))
      .withColumn("_gmv_gp", when(anyKeyNull, col(PosKeyCol)))
    val imgCols = physVals.flatMap { c =>
      Seq(max_by(col(c), when(col("_gmv_ab"), ord)).as(s"_gmv_b_$c"),
        max_by(col(c), when(col("_gmv_aa"), ord)).as(s"_gmv_a_$c"))
    } ++ Seq(
      max(when(col("_gmv_ab"), 1).otherwise(0)).as("_gmv_eb"),
      max(when(col("_gmv_aa"), 1).otherwise(0)).as("_gmv_ea"))
    val g = df
      .groupBy((physKeys.map(col) :+ col("_gmv_gf") :+ col("_gmv_gp")): _*)
      .agg(imgCols.head, imgCols.tail: _*)
    val before = imgOf("b")
    val after = imgOf("a")
    val eb = col("_gmv_eb") === 1
    val ea = col("_gmv_ea") === 1
    val isNullGrp = col("_gmv_gf").isNotNull
    def entry(op: String, b: org.apache.spark.sql.Column,
              a: org.apache.spark.sql.Column) =
      struct(lit(op).as("op"), b.as("before"), a.as("after"))
    val nullB = lit(null).cast(logical)
    val entries =
      when(isNullGrp && eb && ea,
        org.apache.spark.sql.functions.array(
          entry("d", before, nullB), entry("c", nullB, after)))
      .when(!eb && ea,
        org.apache.spark.sql.functions.array(entry("c", nullB, after)))
      .when(eb && !ea,
        org.apache.spark.sql.functions.array(entry("d", before, nullB)))
      .when(eb && ea && before =!= after,
        org.apache.spark.sql.functions.array(entry("u", before, after)))
    Some(g
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.coalesce(entries,
          org.apache.spark.sql.functions.array().cast(
            org.apache.spark.sql.types.ArrayType(
              StructType(Seq(
                org.apache.spark.sql.types.StructField("op", StringType),
                org.apache.spark.sql.types.StructField("before", logical),
                org.apache.spark.sql.types.StructField("after", logical)))))))
        .as("_gmv_e"))
      .select(col("_gmv_e.op").as("op"),
        col("_gmv_e.before").as("before"),
        col("_gmv_e.after").as("after")))
  }

  /** The partition-scope column delete files are laid out by: each
    * delete file lands under
    * `_graft_deletes/_gmor_tdir=<hive-escaped target partition dir>/`,
    * so the read-side rewrite prunes delete FILES with the same
    * static partition logic as data files — at 100 TB a
    * one-partition query reads one partition's coordinates, not the
    * table's whole delete churn. */
  val TargetDirCol = "_gmor_tdir"

  /** `name=<hive-escaped value>` as a [[org.apache.spark.sql.Column]]
    * — the per-segment form EVERY writer of [[TargetDirCol]] scopes
    * uses ([[org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    * .getPartitionPathString]]; null/empty →
    * `__HIVE_DEFAULT_PARTITION__`). A raw `concat(lit(name + "="),
    * value)` diverges for values containing '%', '/', '=', … — the
    * recorded scope then mismatches the data-dir convention and
    * [[targetDirOf]]-based pruning can provably-exclude a LIVE delete
    * file, resurrecting deleted keys. */
  def hiveSegment(name: String, value: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(HivePathSegment(name,
      org.apache.spark.sql.GraftBridge.expression(value)))

  /** The parent-directory part of a table-relative coordinate key
    * (`""` for root-partition files) — the value [[TargetDirCol]]
    * scoping keys off. */
  def parentDirExpr(fileKey: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{length, when, lit}
    val base = substring_index(fileKey, "/", -1)
    when(fileKey.contains("/"),
      fileKey.substr(lit(1), length(fileKey) - length(base) - 1))
      .otherwise(lit(""))
  }

  /** Persist a `(file, pos, target-dir)` hit set as delete files,
    * one file set per TARGET PARTITION DIRECTORY, returning the
    * table-relative paths to commit. Files land before the manifest
    * references them (the ordinary publish-then-commit discipline);
    * `delete-` basenames keep them recognizable by name alone. */
  def writeDeleteFiles(spark: SparkSession, tableDir: Path,
                       hits: DataFrame): Seq[String] = {
    val tmp = tableDir.resolveSibling(
      tableDir.getFileName.toString + ".__mordel-" +
        java.util.UUID.randomUUID().toString.take(8))
    PartitionedWrite.deleteRecursive(tmp)
    // converge each target partition's coordinates onto one task —
    // without this, partitionBy opens a writer per (scan task ×
    // target dir) and a broad delete commits task-count × partitions
    // tiny files into the manifest
    hits.toDF("file", "pos", TargetDirCol)
      .repartition(col(TargetDirCol))
      // coordinates land sorted by (file, pos) — the order readers
      // and the minor compactor (rewrite_position_delete_files) like
      .sortWithinPartitions(col(TargetDirCol), col("file"), col("pos"))
      .write.partitionBy(TargetDirCol).parquet(tmp.toString)
    val delDir = tableDir.resolve(Snapshots.DeleteDirName)
    Files.createDirectories(delDir)
    val parts = {
      val s = Files.walk(tmp)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq.sortBy(_.toString)
      finally s.close()
    }
    val writeId = java.util.UUID.randomUUID().toString.take(12)
    val moved = parts.zipWithIndex.map { case (p, i) =>
      val name = s"delete-$writeId-$i.parquet"
      val sub = Option(tmp.relativize(p).getParent) // _gmor_tdir=<esc>
      val destDir = sub.fold(delDir)(d => delDir.resolve(d.toString))
      Files.createDirectories(destDir)
      Files.move(p, destDir.resolve(name))
      sub.fold(s"${Snapshots.DeleteDirName}/$name")(d =>
        s"${Snapshots.DeleteDirName}/$d/$name")
    }
    PartitionedWrite.deleteRecursive(tmp)
    moved
  }

  /** The target partition directory a delete file's coordinates
    * address, from its `_gmor_tdir=` path segment. None = unscoped
    * (root-partition targets, or a foreign layout) — never pruned. */
  def targetDirOf(rel: String): Option[Path] = {
    val segs = java.nio.file.Paths.get(rel).iterator().asScala
      .map(_.toString).toSeq
    segs.find(_.startsWith(TargetDirCol + "=")).map { s =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(s.stripPrefix(TargetDirCol + "="))
    }.filter(d => d.nonEmpty &&
      d != org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME)
      .map(java.nio.file.Paths.get(_))
  }

  /** Static partition pruning of the DELETE side: keep delete files
    * whose recorded target partition can satisfy `filters` (the same
    * [[PartitionPruning]] proof the data side uses), plus every
    * unscoped file (conservative). No provable exclusion → all. */
  def pruneDeleteFiles(deletes: Seq[String],
                       spec: Seq[PartitionSpec.Field],
                       filters: Seq[Expression]): Seq[String] = {
    if (deletes.isEmpty || spec.isEmpty || filters.isEmpty) return deletes
    // one targetDirOf pass per file
    val (scoped, unscoped) = deletes.map(f => targetDirOf(f) -> f)
      .partition(_._1.isDefined)
    if (scoped.isEmpty) return deletes
    // (splitLeaves returns None when nothing is provably excluded)
    PartitionPruning.splitLeaves(
        scoped.map(_._1.get).distinct, spec, filters) match {
      case Some((cands, _)) =>
        val keep = cands.map(_.toString).toSet
        unscoped.map(_._2) ++
          scoped.collect { case (Some(d), f) if keep(d.toString) => f }
      case None => deletes
    }
  }

  /** Per-file ROW COUNTS for freshly committed delete files, read
    * from their parquet FOOTERS driver-side (K footer opens per
    * commit, no data pages) and folded into the commit's stats block
    * keyed by basename — so the read side can size its deletion
    * vector from MANIFEST METADATA alone (and `.files` reports rows
    * for delete entries too). Failure degrades to a missing entry
    * (the vector path falls back to its bounded probe), never to a
    * wrong count. */
  def deleteFileRowStats(tableDir: Path,
                         moved: Seq[String]): Map[String, FileStats.FileStat] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    moved.flatMap { rel =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(tableDir.resolve(rel).toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try Some(Snapshots.basename(rel) ->
          FileStats.FileStat(Some(r.getRecordCount), Map.empty))
        finally r.close()
      } catch { case _: Exception => None }
    }.toMap
  }

  /** Ceiling on the total pending coordinates the read side will
    * apply as a BROADCAST DELETION VECTOR (a scan-local positional
    * filter — zero join in the plan) before degrading to the
    * LeftAnti-join form. 0 disables the vector path. */
  val VectorMaxConf = "graft.mor.vector.max-coords"
  val VectorMaxDefault = 4000000L

  // (tableDir, pruned delete-file set) → broadcast vector, LRU. The
  // delete files are immutable content, so the cache can never serve
  // stale coordinates; a None entry records "over the ceiling" so
  // repeated queries don't re-count. Evicted broadcasts are GC'd by
  // Spark's ContextCleaner (never destroyed mid-query).
  private val vectorCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        Option[org.apache.spark.broadcast.Broadcast[
          java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]]]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            Option[org.apache.spark.broadcast.Broadcast[
              java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]]]])
          : Boolean = size() > 8
    })

  /** The pending deletes of `dels` as a broadcast per-file
    * sorted-positions vector, when their total coordinate count fits
    * the [[VectorMaxConf]] ceiling — None above it (the caller falls
    * back to the anti-join). The sizing decision is METADATA-ONLY when
    * the manifest carries the delete files' row counts (`knownRows`);
    * otherwise the probe and the build are ONE bounded job over the
    * (small) delete parquet. Cached per immutable delete-file set. */
  def vectorFor(spark: SparkSession, tableDir: Path, dels: Seq[String],
                knownRows: String => Option[Long] = _ => None,
                hasRootData: Boolean = false)
      : Option[org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]]] = {
    val max = spark.conf.get(VectorMaxConf, VectorMaxDefault.toString).toLong
    if (max <= 0L || dels.isEmpty) return None
    // a ceiling at/above Int.MaxValue is uncollectable (the probe's
    // limit would clamp at Int.MaxValue and the over-ceiling check
    // below could never trip — a silently TRUNCATED vector resurrects
    // rows): degrade to the always-correct anti-join instead
    if (max >= Int.MaxValue.toLong) return None
    // applicationId in the key: broadcast handles die with their
    // SparkContext — after a spark.stop()/restart in the same JVM
    // (test harnesses, long-lived services) a stale hit would return
    // a broadcast of a dead context and fail at execution
    val key = spark.sparkContext.applicationId + "\u0000" +
      tableDir.toString + "\u0000" + dels.sorted.mkString("\u0000")
    val cached = vectorCache.get(key)
    if (cached != null) return cached
    // METADATA-ONLY over-ceiling detection: every delete commit since
    // r14 records its files' row counts in the manifest stats block,
    // so a churn-heavy table degrades to the anti-join without
    // touching a byte (per-file counts are upper bounds for the
    // deduped vector, so this can only route to the join early,
    // never under-build the vector)
    val metaCounts = dels.map(f => knownRows(Snapshots.basename(f)))
    if (metaCounts.forall(_.isDefined) && metaCounts.flatten.sum > max) {
      vectorCache.put(key, None)
      return None
    }
    // limit(max+1): the probe IS the build — one small job; an
    // over-the-ceiling set is detected without reading it fully
    val rows = readDeletes(spark, tableDir, dels, hasRootData)
      .limit((max + 1L).toInt).collect()
    val built =
      if (rows.length > max) None
      else {
        val byFile = new java.util.HashMap[
          org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
        rows.groupBy(_.getString(0)).foreach { case (f, rs) =>
          byFile.put(
            org.apache.spark.unsafe.types.UTF8String.fromString(f),
            rs.map(_.getLong(1)).distinct.sorted)
          ()
        }
        Some(spark.sparkContext.broadcast(byFile))
      }
    vectorCache.put(key, built)
    built
  }

  /** Attach [[MorScanRewrite]] to the session's optimizer (idempotent;
    * `extraOptimizations` is re-read per query, so a runtime attach
    * covers every later plan in the session). Called the moment a
    * delete-carrying table is constructed — before the query that
    * loaded it reaches its own optimization. */
  def ensureRule(spark: SparkSession): Unit = spark.synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[MorScanRewrite]))
      spark.experimental.extraOptimizations = cur :+ new MorScanRewrite
  }
}

/** The read-side half of merge-on-read (see [[MorDeletes]]): an
  * optimizer rule that replaces every scan relation over a
  * delete-carrying snapshot with
  *
  * {{{
  *   Project(relation output attrs,
  *     Join(LeftAnti, on (file, pos),
  *       [Filter(pushed predicate)]          // re-attached data-side
  *       per-shape parquet read of the DATA files + row coordinates,
  *       parquet read of the DELETE files))
  * }}}
  *
  * The output attributes keep the relation's exprIds, so the
  * enclosing plan is untouched. Pushed filters re-attach beneath the
  * anti-join (V2 pushdown saw the dirty scan refuse them, so the full
  * predicate is still in the Filter above) — parquet row-group
  * skipping and V1 partition pruning run as if the table were clean.
  * Row-level command targets are left alone: DELETE handles pending
  * deletes itself and UPDATE/MERGE are gated until compaction
  * ([[PartitionedLakeTable.newRowLevelOperationBuilder]]). The rule
  * fires in the optimizer's user batch, after every pushdown
  * decision is settled; a session that somehow plans a dirty scan
  * without it fails loudly ([[MorGuardedScan]]) rather than serving
  * undeleted rows. */
private[catalog] final class MorScanRewrite extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  import MorDeletes._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (hasDirty(plan)) rewrite(plan) else plan

  /** Any dirty scan anywhere in the plan — INCLUDING plans nested in
    * subquery expressions (`WHERE x > (SELECT avg(y) FROM dirty_t)`),
    * which `plan.exists` alone does not traverse: leaving those
    * unrewritten would fail valid queries loudly at execution
    * ([[MorGuardedScan]]) until compaction. */
  private def hasDirty(plan: LogicalPlan): Boolean =
    plan.exists {
      case r: DataSourceV2ScanRelation => dirtyOf(r).isDefined
      case n => n.expressions.exists(_.exists {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          hasDirty(se.plan)
        case _ => false
      })
    }

  /** The (table, delete files) of a scan relation this rule must
    * replace: a DELETE-CARRYING snapshot read (the anti-join swap), a
    * read that asked for the row-coordinate metadata columns (its
    * placeholder scan is a [[MorDeltaScan]]), or a delta-based
    * row-level operation's read ([[DeltaOperation]] — the relation
    * then carries Spark's `RowLevelOperationTable` wrapper; group-
    * based row-level scans deliberately do NOT match, their group
    * semantics replay whole partitions through their own scan). */
  private def dirtyOf(r: DataSourceV2ScanRelation)
      : Option[(PartitionedLakeTable, Seq[String])] =
    r.relation.table match {
      // a scan THIS rule already spliced (the bucket-local PK resolve
      // base) — never re-match it, or the fixed-point loops
      case _ if r.scan.isInstanceOf[PkBucketResolveScan] => None
      case t: PartitionedLakeTable =>
        val dels = t.morDeleteFiles
        if (dels.nonEmpty || t.pkDirty || r.scan.isInstanceOf[MorDeltaScan])
          Some((t, dels))
        else None
      case other if r.scan.isInstanceOf[MorDeltaScan] =>
        org.apache.spark.sql.GraftBridge.rowLevelOperationTarget(other) match {
          case Some(t: PartitionedLakeTable) => Some((t, t.morDeleteFiles))
          case _ => None
        }
      case _ => None
    }

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    // row-level commands keep their target relation: DELETE applies
    // pending deletes inside deleteWhere; UPDATE/MERGE are gated at
    // the operation builder (loud, never silent) — only MERGE's
    // SOURCE side is an ordinary read to rewrite
    case d: DeleteFromTable => d
    case u: UpdateTable => u
    case m: MergeIntoTable =>
      m.copy(sourceTable = rewrite(m.sourceTable))
    case Filter(cond, r: DataSourceV2ScanRelation)
        if dirtyOf(r).isDefined =>
      // subquery plans inside the condition rewrite first (they may
      // scan dirty tables themselves); a condition that CARRIES a
      // subquery stays ABOVE the swap (pushing it beneath would need
      // outer-reference remapping inside the subquery plan)
      val cond2 = cond.transform {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          se.withNewPlan(rewrite(se.plan))
      }
      val (table, dels) = dirtyOf(r).get
      if (table.pkInfo.isDefined)
        // PRIMARY-KEY resolution owns the conjunct split itself:
        // key-only conjuncts push beneath the dedup, the rest (and
        // every subquery conjunct) stay above
        swapPk(r, Some(cond2), table, dels)
      else {
        val hasSubq = cond2.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])
        // re-attach the full pushed predicate BENEATH the anti-join
        // when it only speaks this relation's columns (correlated
        // outer references stay above — correct, just unpushed)
        if (!hasSubq && cond2.deterministic &&
            cond2.references.subsetOf(r.outputSet))
          swap(r, Some(cond2))
        else Filter(cond2, swap(r, None))
      }
    case r: DataSourceV2ScanRelation if dirtyOf(r).isDefined =>
      val (table, dels) = dirtyOf(r).get
      if (table.pkInfo.isDefined) swapPk(r, None, table, dels)
      else swap(r, None)
    case other =>
      other.mapChildren(rewrite).transformExpressions {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          se.withNewPlan(rewrite(se.plan))
      }
  }

  private def swap(r: DataSourceV2ScanRelation,
                   cond: Option[Expression]): LogicalPlan = {
    val (table, allDels) = dirtyOf(r).get
    val (tableDir, files, renames, spec) = table.morReadInfo
    val spark = SparkSession.active
    val physOf: Map[String, String] =
      r.output.map(o => o.name -> renames.getOrElse(o.name, o.name)).toMap
    // the spliced subtree is ANALYZED-but-not-optimized, and the
    // enclosing plan is already past the optimizer's finish-analysis
    // batch — RuntimeReplaceable expressions (the coordinate key's
    // url_decode) must be replaced here or codegen meets the
    // unreplaced form and fails
    val dataPlan = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
      readDataWithCoords(spark, tableDir, files,
        Some(r.output.map(o => physOf(o.name)))).queryExecution.analyzed)
    val byPhys: Map[String, Attribute] =
      dataPlan.output.map(a => a.name.toLowerCase -> a).toMap
    def attrFor(logicalName: String): Attribute =
      byPhys(physOf.getOrElse(logicalName, logicalName).toLowerCase)
    // the relation's attrs -> the fresh data-side attrs, by exprId
    val names = r.output.map(a => a.exprId -> a.name).toMap
    val remapped = cond.map(_.transform {
      case a: AttributeReference if names.contains(a.exprId) =>
        attrFor(names(a.exprId))
    })
    // static partition pruning of the DELETE side: coordinates are
    // laid out by target partition ([[TargetDirCol]]), so the same
    // predicate proof that prunes data directories prunes delete
    // FILES — a one-partition query at 100 TB reads one partition's
    // delete churn, not the table's. The proof runs over the
    // PHYSICALLY remapped predicate (the name space the partition
    // spec and `_gmor_tdir` directory values actually speak), the
    // same expression the data side filters with — never the logical
    // names, which could diverge under rename evolution.
    val dels = remapped.fold(allDels)(c =>
      pruneDeleteFiles(allDels, spec, Seq(c)))
    val filtered = remapped.fold(dataPlan)(Filter(_, dataPlan))
    // every delete target provably outside the predicate's partitions:
    // no join at all — the read degrades to the plain pruned scan.
    // Otherwise prefer the READER-LEVEL form: a broadcast deletion
    // vector applied as a scan-local Filter (no join operator at all,
    // immune to broadcast-threshold degradation — one churn-heavy
    // partition can never make the FACT side shuffle); only a
    // coordinate count past [[VectorMaxConf]] falls back to the
    // LeftAnti join.
    val hasRootData = Snapshots.dataFiles(files).exists(!_.contains('/'))
    val joined = applyPosDeletes(spark, tableDir, filtered, dels,
      byPhys, table, hasRootData)
    Project(r.output.map(o =>
      Alias(attrFor(o.name), o.name)(exprId = o.exprId,
        qualifier = o.qualifier)), joined)
  }

  /** Pending POSITION deletes over an already-built data-side plan:
    * the broadcast deletion-vector filter (scan-local, zero join) when
    * the coordinate count fits the ceiling, the LeftAnti join past it.
    * Shared by the plain merge-on-read swap and the PK resolution. */
  private def applyPosDeletes(spark: SparkSession, tableDir: Path,
                              filtered: LogicalPlan, dels: Seq[String],
                              byPhys: Map[String, Attribute],
                              table: PartitionedLakeTable,
                              hasRootData: Boolean): LogicalPlan =
    if (dels.isEmpty) filtered
    else vectorFor(spark, tableDir, dels,
      b => table.morStats.get(b).flatMap(_.rows), hasRootData) match {
      case Some(bc) =>
        Filter(org.apache.spark.sql.catalyst.expressions.Not(
          DeleteVectorContains(bc,
            byPhys(FileKeyCol.toLowerCase),
            byPhys(PosKeyCol.toLowerCase))), filtered)
      case None =>
        // the spliced delete read carries RuntimeReplaceable exprs
        // (url_decode in the legacy-key migration) — replace here,
        // past the finish-analysis batch, or codegen fails
        val delPlan = org.apache.spark.sql.catalyst.optimizer
          .ReplaceExpressions(
            readDeletes(spark, tableDir, dels, hasRootData)
              .queryExecution.analyzed)
        val joinCond = And(
          EqualTo(byPhys(FileKeyCol.toLowerCase), delPlan.output.head),
          EqualTo(byPhys(PosKeyCol.toLowerCase), delPlan.output(1)))
        Join(filtered, delPlan, LeftAnti, Some(joinCond), JoinHint.NONE)
    }

  /** PRIMARY-KEY scan resolution ([[PkTables]]): swap the relation for
    *
    * {{{
    *   [Filter(non-key conjuncts)]                    // post-dedup
    *   Project(relation output attrs,
    *     Aggregate(group by KEY,
    *       max_by(col, struct(seq, file, pos)) per selected column,
    *       [LeftAnti Join eq-deletes ON keys equal AND seq < del-seq]
    *         [position deletes: vector filter / anti-join]
    *           [Filter(KEY-ONLY conjuncts)]           // pre-dedup
    *           per-shape parquet read + (file, pos) + broadcast-
    *           looked-up birth sequence))
    * }}}
    *
    * KEY-ONLY conjuncts are safe beneath the dedup (dropping a whole
    * key never changes another key's winner) and they drive partition
    * pruning / delete-file pruning / parquet pushdown exactly like the
    * plain path; every other conjunct MUST wait above the aggregate —
    * filtering an old version away pre-dedup would resurrect the
    * version beneath it. The aggregate is partial-aggregatable
    * (map-side combine: one candidate per key per task). A snapshot a
    * key-aware compact left provably one-version-per-key skips the
    * aggregate entirely (and clean tables never reach this rule). */
  private def swapPk(r: DataSourceV2ScanRelation, cond: Option[Expression],
                     table: PartitionedLakeTable,
                     allDels: Seq[String]): LogicalPlan = {
    import org.apache.spark.sql.functions.{lit, struct}
    val (tableDir, files, renames, spec) = table.morReadInfo
    val (pk, seqs) = table.pkInfo.get
    val spark = SparkSession.active
    val physOf: Map[String, String] =
      r.output.map(o => o.name -> renames.getOrElse(o.name, o.name)).toMap
    val physKeys = pk.keys.map(k => renames.getOrElse(k, k))
    val names = r.output.map(a => a.exprId -> a.name).toMap
    def isPkOnly(e: Expression): Boolean =
      e.deterministic &&
        !e.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.SubqueryExpression]) &&
        e.references.subsetOf(r.outputSet) &&
        e.references.forall(a => names.get(a.exprId)
          .exists(n => physKeys.contains(physOf.getOrElse(n, n))))
    val conjuncts = cond.toSeq.flatMap(splitConjunctivePredicates)
    val (pkConj, restConj) = conjuncts.partition(isPkOnly)
    // data read: the relation's columns plus the key (the dedup needs
    // it even when the query never asked) and the declared sequence
    // field (the ladder orders by it), coordinates ride along
    val delField = PkTables.delFieldOf(tableDir, pk)
    val selCols = (r.output.map(o => physOf(o.name)) ++ physKeys ++
      delField.map(_.name)).distinct
    val eqAll = PkTables.eqDeleteFiles(files)
    // BUCKET-LOCAL fast base ([[PkBucketResolve]]): a dirty read over
    // the required partition-by-key layout resolves per leaf with NO
    // shuffle Exchange — one key-grouped partition per identity/bucket
    // leaf dir, equality deletes as a scan-local broadcast filter.
    // Key conjuncts over IDENTITY PARTITION columns ride along (they
    // prune whole dirs exactly — identity values live in dir names,
    // never in files, so no parquet pushdown is lost); conjuncts
    // touching stored key columns keep the pruned+pushed plan below
    // (their post-filter exchange is already tiny); any structural
    // miss falls back too.
    val identityCols = spec.collect {
      case PartitionSpec.Identity(c) => c.toLowerCase
    }.toSet
    val pkConjIdentityOnly = pkConj.forall(_.references.forall(a =>
      names.get(a.exprId).exists(n =>
        identityCols(physOf.getOrElse(n, n).toLowerCase))))
    val fastBase: Option[LogicalPlan] =
      if (table.pkDirty && allDels.isEmpty && pkConjIdentityOnly)
        PkBucketResolve.tryBase(spark, tableDir, table.name(), files,
          seqs, spec, selCols, eqAll, pk, table.morStats, delField,
          table, r.relation.catalog,
          partFilter = byName => pkConj.reduceOption(And).map(_.transform {
            case a: AttributeReference if names.contains(a.exprId) =>
              byName(physOf(names(a.exprId)))
          }))
      else None
    val eqApplied = fastBase.getOrElse {
      val bc = PkTables.seqBroadcastFor(spark, tableDir, seqs)
      val base = readDataWithCoords(spark, tableDir, files, Some(selCols))
        .withColumn(PkTables.SeqCol,
          PkTables.seqColumnFor(bc, org.apache.spark.sql.functions.col(FileKeyCol)))
      val dataPlan = org.apache.spark.sql.catalyst.optimizer
        .ReplaceExpressions(base.queryExecution.analyzed)
      val byPhys: Map[String, Attribute] =
        dataPlan.output.map(a => a.name.toLowerCase -> a).toMap
      val remappedPk = pkConj.reduceOption(And).map(_.transform {
        case a: AttributeReference if names.contains(a.exprId) =>
          byPhys(physOf(names(a.exprId)).toLowerCase)
      })
      // both delete families prune statically off the key predicate
      // (they share the _gmor_tdir= target layout)
      val dels = remappedPk.fold(allDels)(c =>
        pruneDeleteFiles(allDels, spec, Seq(c)))
      val eqDels = remappedPk.fold(eqAll)(c =>
        pruneDeleteFiles(eqAll, spec, Seq(c)))
      val filtered = remappedPk.fold(dataPlan: LogicalPlan)(Filter(_, dataPlan))
      val hasRootData = Snapshots.dataFiles(files).exists(!_.contains('/'))
      val posApplied = applyPosDeletes(spark, tableDir, filtered, dels,
        byPhys, table, hasRootData)
      if (eqDels.isEmpty) posApplied
      // prefer the SCAN-LOCAL broadcast vector (no join operator — the
      // point lookup's pruned churn rides a codegen'd filter like
      // position-delete vectors); only churn past the shared ceiling
      // keeps the LeftAnti join
      else PkBucketResolve.eqVectorFilter(spark, tableDir, eqDels,
          PkTables.keyFileSchema(tableDir, pk.keys), seqs, delField,
          n => byPhys(n.toLowerCase)) match {
        case Some(keep) => Filter(keep, posApplied)
        case None =>
        // CANONICAL thresholds first ([[PkTables.canonicalEqDeletes]]):
        // the anti-join must apply the same per-key two-family-max law
        // as the vector and the merged files, or a stale superseded
        // field delete kills a live same-commit row past the ceiling
        val edPlan = org.apache.spark.sql.catalyst.optimizer
          .ReplaceExpressions(
            PkTables.canonicalEqDeletes(
              PkTables.readEqDeletes(spark, tableDir, eqDels,
                PkTables.keyFileSchema(tableDir, pk.keys), bc, delField),
              PkTables.keyFileSchema(tableDir, pk.keys).fieldNames.toSeq,
              delField.map(_.dataType))
              .queryExecution.analyzed)
        val edBy = edPlan.output.map(a => a.name.toLowerCase -> a).toMap
        val keyEq: Seq[Expression] = physKeys.map(k =>
          EqualTo(byPhys(k.toLowerCase), edBy(k.toLowerCase)))
        val seq = byPhys(PkTables.SeqCol.toLowerCase)
        val dseq = edBy(PkTables.DelSeqCol.toLowerCase)
        import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, IsNotNull, IsNull, LessThan, Literal, Not, Or}
        // the kill law ([[PkTables.eqKillCond]]) in catalyst form:
        // blind deletes (null field) compare by commit seq; field-
        // carrying deletes compare the (field, seq) ladder with the
        // same-commit exclusion (a field-lowering update must not eat
        // its own insert) — struct field names pinned identical on
        // both sides (comparison requires same types including names)
        val kill = delField match {
          case None => LessThan(seq, dseq)
          case Some(f) =>
            val dataF = byPhys(f.name.toLowerCase)
            val edF = edBy(PkTables.DelFieldCol.toLowerCase)
            def pair(a: Expression, b: Expression) =
              CreateNamedStruct(Seq(Literal("f"), a, Literal("s"), b))
            Or(And(IsNull(edF), LessThan(seq, dseq)),
              And(IsNotNull(edF),
                And(Not(EqualTo(seq, dseq)),
                  LessThan(pair(dataF, seq), pair(edF, dseq)))))
        }
        Join(posApplied, edPlan, LeftAnti,
          Some((keyEq :+ kill).reduce(And)), JoinHint.NONE)
      }
    }
    // latest-per-key — skipped when this snapshot is provably
    // one-version-per-key (a PK delta read over a freshly compacted
    // table lands here with pkDirty=false)
    val resolvedPlan =
      if (!table.pkDirty) eqApplied
      else {
        val df = org.apache.spark.sql.GraftBridge.ofRows(spark, eqApplied)
        val ord = pk.ladder(
          delField.map(f => org.apache.spark.sql.functions.col(f.name)),
          org.apache.spark.sql.functions.col(PkTables.SeqCol),
          org.apache.spark.sql.functions.col(FileKeyCol),
          org.apache.spark.sql.functions.col(PosKeyCol))
        // field-agg declarations key by LOGICAL names
        val toLogical = renames.map(_.swap)
        def pick(name: String, c: org.apache.spark.sql.Column) =
          pk.pick(toLogical.getOrElse(name, name), c, ord)
        val valueCols = r.output.map(o => physOf(o.name)).distinct
          .filterNot(physKeys.contains)
        val aggCols =
          if (valueCols.isEmpty) Seq(pick("_gpk_d", lit(1)).as("_gpk_d"))
          else valueCols.map(c =>
            pick(c, org.apache.spark.sql.functions.col(c)).as(c))
        val agg = df.groupBy(
            physKeys.map(org.apache.spark.sql.functions.col): _*)
          .agg(aggCols.head, aggCols.tail: _*)
        org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
          agg.queryExecution.analyzed)
      }
    val outBy = resolvedPlan.output.map(a => a.name.toLowerCase -> a).toMap
    val proj = Project(r.output.map(o =>
      Alias(outBy(physOf(o.name).toLowerCase), o.name)(exprId = o.exprId,
        qualifier = o.qualifier)), resolvedPlan)
    restConj.reduceOption(And).fold(proj: LogicalPlan)(Filter(_, proj))
  }
}

/** One hive-escaped partition-path segment (`name=<escaped value>`,
  * null/empty value → the default-partition sentinel) — the codegen'd
  * column form of `ExternalCatalogUtils.getPartitionPathString`, so
  * DataFrame-side scope construction (the eq-delete minor compaction)
  * speaks byte-identically with the executor-side writers. */
private[catalog] final case class HivePathSegment(
    name: String, child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: org.apache.spark.sql.types.DataType = StringType
  override def nullable: Boolean = false

  def seg(v: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(name, if (v == null) null else v.toString))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    seg(child.eval(input)
      .asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("hivePathSegment", this)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.unsafe.types.UTF8String ${ev.value} =
          $ref.seg(${c.isNull} ? null : ${c.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Deletion-vector membership: `(file, pos) ∈ broadcast vector` — the
  * scan-local form of position-delete application. The read filters
  * with `NOT DeleteVectorContains(...)` directly inside the parquet
  * scan's stage: no join operator, no shuffle exposure, no broadcast-
  * threshold dependence — the Iceberg/Delta reader-applied-deletes
  * posture, expressed as a codegen'd Catalyst predicate over a
  * driver-built broadcast (per-file SORTED position arrays, binary
  * search per row). [[MorScanRewrite]] plans this form whenever the
  * pending coordinate count fits [[MorDeletes.VectorMaxConf]];
  * churn-heavy tables past the ceiling keep the LeftAnti join. */
private[catalog] final case class DeleteVectorContains(
    vectors: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]],
    fileExpr: Expression,
    posExpr: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.Predicate {

  override def children: Seq[Expression] = Seq(fileExpr, posExpr)
  override def nullable: Boolean = false
  // one broadcast per delete-file set: the plan is rebuilt when the
  // set changes, so never foldable/stateless-equal across snapshots
  override def foldable: Boolean = false

  def contains(file: org.apache.spark.unsafe.types.UTF8String,
               pos: Long): Boolean = {
    val arr = vectors.value.get(file)
    arr != null && java.util.Arrays.binarySearch(arr, pos) >= 0
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val f = fileExpr.eval(input)
    if (f == null) false
    else {
      val p = posExpr.eval(input)
      p != null && contains(
        f.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        p.asInstanceOf[Long])
    }
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("deleteVector", this)
    val f = fileExpr.genCode(ctx)
    val p = posExpr.genCode(ctx)
    ev.copy(
      code = code"""
        ${f.code}
        ${p.code}
        boolean ${ev.value} = !${f.isNull} && !${p.isNull} &&
          $ref.contains(${f.value}, ${p.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(fileExpr = newChildren(0), posExpr = newChildren(1))
}

/** Execution guard for a V2 scan over a delete-carrying snapshot: the
  * scan is metadata-complete (schema, statistics, description) so
  * analysis and CBO proceed, but it can never EXECUTE — by the time
  * physical planning would consume it, [[MorScanRewrite]] must have
  * replaced the relation. Executing anyway (a session that never
  * attached the rule) fails loudly instead of silently returning
  * rows a committed DELETE removed. */
private[catalog] final class MorGuardedScan(
    inner: org.apache.spark.sql.connector.read.Scan,
    tableName: String, nDeleteFiles: Int)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String =
    if (nDeleteFiles > 0) s"$tableName(mor-pending:$nDeleteFiles delete files)"
    else s"$tableName(pk-unresolved)"
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      // per-file numRows ignore pending deletes: an upper bound,
      // which is all the V2 statistics contract promises
      s.estimateStatistics()
    case _ => new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    throw new IllegalStateException(
      if (nDeleteFiles > 0)
        s"$tableName: this snapshot carries $nDeleteFiles merge-on-read " +
          "delete file(s) but the scan was planned without the " +
          "MorScanRewrite rule — refusing to serve rows a committed " +
          "DELETE removed. Load the table through GraftLakeCatalog " +
          "(which attaches the rule) or CALL system.compact to " +
          "materialize the deletes."
      else
        s"$tableName: this PRIMARY-KEY snapshot needs latest-per-key " +
          "resolution but the scan was planned without the " +
          "MorScanRewrite rule — refusing to serve shadowed key " +
          "versions. Load the table through GraftLakeCatalog (which " +
          "attaches the rule) or CALL system.compact to materialize " +
          "the resolution.")
}

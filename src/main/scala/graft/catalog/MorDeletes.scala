package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, CreateStruct, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, Filter, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, substring_index}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

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
  *  - READ: ONE resolved read, [[resolve]], is what every reader of a
  *    delete-carrying or primary-key snapshot sees — SQL scans
  *    ([[MorScanRewrite]], attached to the session's optimizer by
  *    [[PartitionedLakeTable]] the moment such a table is loaded,
  *    splices it in place of the scan relation), `CALL compact`/
  *    `zorder` and the change feed's per-version read
  *    ([[resolvedRows]]), and both DELETE modes. Over a per-shape
  *    parquet read of the DATA files with `(file, pos)` coordinates
  *    materialized it applies position deletes (a broadcast deletion
  *    vector under [[VectorMaxConf]], else a LeftAnti join on the
  *    coordinates), then — primary-key tables — equality deletes and
  *    latest-per-key ([[PkTables]]). The same snapshot reads the same rows
  *    through every surface, and the read `CALL compact` rewrites is
  *    the read SQL returns. Pushed filters re-attach on the data side,
  *    so data skipping survives. Nothing is collected on the driver
  *    beyond the ceiling-bounded vectors. The change feed's one-pass
  *    version diff is the same read evaluated for two states in one
  *    aggregate ([[versionDiff]]): the same pick and kills, per state.
  *  - MAINTENANCE: `CALL compact` (and `zorder`) rewrites the resolved
  *    rows and commits a manifest WITHOUT the delete files —
  *    materializing the deletes and restoring the plain fast path
  *    (metadata-only aggregates, SPJ, exact numRows), which stay gated
  *    while deletes are pending.
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
    * saw root-level data files, where basename IS the rel path). The
    * read is indexed from the manifest's list ([[Snapshots.readListed]]):
    * no existence-check pool, no listing job. */
  def readDeletes(spark: SparkSession, tableDir: Path,
                  deletes: Seq[String],
                  hasRootData: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{concat, concat_ws, lit, raise_error, regexp_extract, regexp_replace, url_decode, when}
    val raw = Snapshots.readListed(spark, tableDir, deletes, DeleteSchema,
      basePath = false)
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
    * parquet scans never read columns the query did not ask for. Each
    * shape's scan is indexed from the manifest's list
    * ([[Snapshots.readListed]]) and still reports those files as its
    * `rootPaths`/`inputFiles`: no existence-check pool, no listing job
    * however many files the snapshot holds. */
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
      val raw = Snapshots.readListed(spark, tableDir, fs, schema,
          basePath = true)
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

  /** What the resolved read needs to know about the snapshot it reads:
    * the table dir and file list (root-level data files decide how a
    * legacy basename coordinate maps, [[readDeletes]]), the per-file
    * birth sequences and stats (row counts, the bucket-local base's
    * statistics), the logical→physical renames, and
    * the primary key with whether the snapshot needs latest-per-key
    * resolution (`pkDirty` — false when [[PkTables.resolvedClean]]). */
  final case class ReadScope(tableDir: Path, files: Seq[String],
                             seqs: Map[String, Long],
                             stats: Map[String, FileStats.FileStat],
                             renames: Map[String, String],
                             pk: Option[PkTables.PkDef], pkDirty: Boolean) {
    def hasRootData: Boolean =
      Snapshots.dataFiles(files).exists(!_.contains('/'))
  }

  object ReadScope {
    def of(tableDir: Path, s: Snapshots.Snapshot): ReadScope = {
      val pk = PkTables.read(tableDir)
      ReadScope(tableDir, s.files, s.seqs,
        if (Snapshots.deleteFiles(s.files).isEmpty) Map.empty
        else Snapshots.statsOf(tableDir, s),
        Evolutions.renames(tableDir), pk,
        pk.isDefined && !PkTables.resolvedClean(tableDir, s))
    }
  }

  /** THE RESOLVED READ — the one place pending deletes and
    * latest-per-key resolution apply, for SQL scans
    * ([[MorScanRewrite]]), compact/zorder, the change feed's
    * per-version read and merge-on-read DML alike. `data` carries the
    * row coordinates ([[readDataWithCoords]], or the bucket-local base
    * of [[PkBucketResolve.tryBase]], which also carries the birth
    * sequence); `posDels`/`eqDels` are the delete files that can touch
    * it (already pruned by the caller). In order:
    *  - position deletes ([[withoutPositionDeletes]]): the broadcast
    *    deletion vector under [[VectorMaxConf]], else the anti-join;
    *  - PRIMARY-KEY tables only: the birth sequence
    *    ([[PkTables.SeqCol]]), then equality deletes — the scan-local
    *    [[PkBucketResolve.eqVectorFilter]] under the same ceiling, else
    *    the anti-join against [[PkTables.canonicalEqDeletes]] under
    *    [[PkTables.eqKillCond]];
    *  - latest-per-key ([[PkTables.PkDef.ladder]]/`pick`, one partial-
    *    aggregatable hash aggregate by key over `values` — default:
    *    every non-key, non-helper column), skipped when the snapshot
    *    is provably one-version-per-key.
    * Output: the key and value columns when resolved by key, else
    * `data`'s columns (helpers included); callers select by name. */
  def resolve(spark: SparkSession, scope: ReadScope, data: DataFrame,
              posDels: Seq[String], eqDels: Seq[String],
              values: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val live = withoutPositionDeletes(spark, scope, data, posDels)
    scope.pk.fold(live) { pk =>
      val tableDir = scope.tableDir
      val physKeys = pk.keys.map(k => scope.renames.getOrElse(k, k))
      val delField = PkTables.delFieldOf(tableDir, pk)
      val keySchema = PkTables.keyFileSchema(tableDir, pk.keys)
      lazy val seqBc = PkTables.seqBroadcastFor(spark, tableDir, scope.seqs)
      val sequenced =
        if (live.columns.contains(PkTables.SeqCol)) live
        else live.withColumn(PkTables.SeqCol,
          PkTables.seqColumnFor(seqBc, col(FileKeyCol)))
      val eqApplied =
        if (eqDels.isEmpty) sequenced
        else PkBucketResolve.eqVectorFilter(spark, tableDir, eqDels,
            keySchema, scope.seqs, delField, attrsOf(sequenced)) match {
          case Some(keep) =>
            sequenced.filter(org.apache.spark.sql.GraftBridge.column(keep))
          case None =>
            val ed = PkTables.canonicalEqDeletes(
              PkTables.readEqDeletes(spark, tableDir, eqDels, keySchema,
                seqBc, delField),
              keySchema.fieldNames.toSeq, delField.map(_.dataType))
            sequenced.join(ed,
              physKeys.map(k => sequenced(k) === ed(k)).reduce(_ && _) &&
                PkTables.eqKillCond(delField.map(f => sequenced(f.name)),
                  sequenced(PkTables.SeqCol),
                  delField.map(_ => ed(PkTables.DelFieldCol)),
                  ed(PkTables.DelSeqCol)),
              "left_anti")
        }
      if (!scope.pkDirty) eqApplied
      else {
        val pick = lawOf(scope, delField)
        val helpers = Set(FileKeyCol, PosKeyCol, PkTables.SeqCol)
        val valueCols = values
          .getOrElse(eqApplied.columns.toSeq.filterNot(helpers))
          .distinct.filterNot(physKeys.contains)
        val aggCols =
          if (valueCols.isEmpty)
            Seq(pick("_gpk_d", lit(1), lit(true)).as("_gpk_d"))
          else valueCols.map(c => pick(c, col(c), lit(true)).as(c))
        eqApplied.groupBy(physKeys.map(col): _*)
          .agg(aggCols.head, aggCols.tail: _*)
      }
    }
  }

  /** Pending POSITION deletes applied to a coordinate-carrying frame:
    * the broadcast deletion vector as a scan-local filter (no join
    * operator, immune to broadcast-threshold degradation — one
    * churn-heavy partition can never make the fact side shuffle) when
    * the coordinate count fits [[VectorMaxConf]], the LeftAnti join
    * on `(file, pos)` past it. */
  def withoutPositionDeletes(spark: SparkSession, scope: ReadScope,
                             data: DataFrame, dels: Seq[String]): DataFrame =
    if (dels.isEmpty) data
    else vectorFor(spark, scope.tableDir, dels, scope.hasRootData) match {
      case Some(bc) =>
        val attr = attrsOf(data)
        data.filter(org.apache.spark.sql.GraftBridge.column(
          org.apache.spark.sql.catalyst.expressions.Not(
            DeleteVectorContains(bc, attr(FileKeyCol), attr(PosKeyCol)))))
      case None =>
        val del = readDeletes(spark, scope.tableDir, dels, scope.hasRootData)
        data.join(del,
          data(FileKeyCol) === del(FileKeyCol) &&
            data(PosKeyCol) === del(PosKeyCol),
          "left_anti")
    }

  /** A frame's analyzed output attributes by case-insensitive name. */
  private[catalog] def attrsOf(df: DataFrame): String => Attribute = {
    val byName = df.queryExecution.analyzed.output
      .map(a => a.name.toLowerCase -> a).toMap
    n => byName(n.toLowerCase)
  }

  /** The RESOLVED rows of every file in `scope`, physical names, helper
    * columns dropped — the rows compact/zorder rewrite, the change
    * feed diffs per version and copy-on-write DELETE restages. A scope
    * with nothing to resolve reads without coordinates. */
  def resolvedRows(spark: SparkSession, scope: ReadScope): DataFrame = {
    val posDels = Snapshots.deleteFiles(scope.files)
    val eqDels = PkTables.eqDeleteFiles(scope.files)
    if (posDels.isEmpty && eqDels.isEmpty && !scope.pkDirty)
      Snapshots.readFiles(spark, scope.tableDir, scope.files)
        .drop(Snapshots.FileCol)
    else resolve(spark, scope,
        readDataWithCoords(spark, scope.tableDir, scope.files),
        posDels, eqDels)
      .drop(FileKeyCol, PosKeyCol, PkTables.SeqCol, "_gpk_d")
  }

  /** The resolution law [[resolve]] and [[versionDiff]] pick through:
    * `(physical column, value, state guard) → pick`. Primary-key tables
    * pick by [[PkTables.PkDef.pick]] under [[PkTables.PkDef.ladder]]
    * `(sequence field?, commit seq, file, pos)`, keyed by the LOGICAL
    * name the field-agg declarations use; a plain table picks
    * latest-by-`(file, pos)`, the deduplicate pick over the row
    * coordinates alone. */
  private def lawOf(scope: ReadScope, field: Option[StructField])
      : (String, Column, Column) => Column = {
    val (pk, ord) = scope.pk match {
      case Some(pk) => (pk, pk.ladder(field.map(f => col(f.name)),
        col(PkTables.SeqCol), col(FileKeyCol), col(PosKeyCol)))
      case None => (PkTables.PkDef(Nil, PkTables.EngineDedup),
        org.apache.spark.sql.functions.struct(col(FileKeyCol), col(PosKeyCol)))
    }
    val toLogical = scope.renames.map(_.swap)
    (name, c, alive) => pk.pick(toLogical.getOrElse(name, name), c, ord, alive)
  }

  /** THE TWO-STATE RESOLVED READ — the one-pass version diff of `prev`
    * → the snapshot of `scope`: [[resolve]] evaluated for BOTH states
    * in ONE aggregate, instead of two resolutions and a full-outer
    * join (two scans, four exchanges). One coordinate read of the
    * child's files carries two state flags:
    *  - `aliveBefore`: the row's file is in `prev` (an exact basename
    *    set probe, never a birth-sequence comparison — unstamped legacy
    *    files all report seq 0) and no parent-state delete kills it;
    *  - `aliveAfter`: no current-state delete kills it.
    * The kills are the ones [[resolve]] applies, per state: position-
    * delete hits on plain tables ([[positionKills]]), the canonical
    * equality-delete thresholds under the `(field, seq)` kill law on
    * primary-key tables ([[equalityKills]]). Every value column then
    * picks twice through the one law ([[lawOf]]), once per state
    * guard, so a key's images are the rows the resolved read returns
    * for it at each state; the images classify to `c`/`u`/`d`. At
    * 100 TB this is what makes `'changelog-producer'='input'`
    * affordable: a commit's changelog reads the table once and
    * shuffles its data once.
    *
    * Gates (None = not provable, the caller derives the audited
    * two-snapshot diff): the commit is purely additive (`prev.files ⊆
    * scope.files` — appends, delta DML, merge-on-read DELETE/UPDATE/
    * MERGE; compaction and copy-on-write replace files) and the child
    * holds a data file. A primary-key table has no position deletes
    * and `keys` is its key: a caller diffing under another identity
    * must see a changed-key row as `d`+`c`, never `u`. A plain table's
    * `keys` are logical columns and it has no equality deletes.
    *
    * Plain tables diff under the caller's key identity, the contract
    * every feed consumer already assumes (one live row per key per
    * state). A NULL-keyed row matches nothing, as in the full-outer
    * join this replaces: it groups as a singleton under its own
    * coordinates and emits `d` from the before-state and `c` from the
    * after-state. Primary keys are NOT NULL, so PK rows group by the
    * key alone, and the data side keeps its one key exchange: the kills
    * are scan-local vector filters, and above the vector ceiling the
    * threshold join reuses that exchange (pinned by PkFastDiffSpec).
    *
    * Output: `op, before, after` with images in the LOGICAL schema —
    * [[graft.streaming.ChangeFeed.diff]]'s contract. */
  def versionDiff(spark: SparkSession, scope: ReadScope,
                  prev: Snapshots.Snapshot, keys: Seq[String],
                  logical: StructType): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{array, coalesce, explode, lit, max, struct, when}
    val files = scope.files
    val prevSet = prev.files.toSet
    val provable = Snapshots.dataFiles(files).nonEmpty &&
      prevSet.subsetOf(files.toSet) && (scope.pk match {
        case Some(pk) =>
          Snapshots.deleteFiles(files).isEmpty && keys.toSet == pk.keys.toSet
        case None =>
          keys.nonEmpty && keys.forall(logical.fieldNames.contains) &&
            PkTables.eqDeleteFiles(files).isEmpty
      })
    if (!provable) return None
    val physKeys = scope.pk.fold(keys)(_.keys)
      .map(k => scope.renames.getOrElse(k, k))
    // parent-state membership: basename → 1 for every file of `prev`
    val membBc = PkTables.seqBroadcastFor(spark, scope.tableDir,
      prev.files.map(f => Snapshots.basename(f) -> 1L).toMap)
    def inPrev(file: Column): Column =
      PkTables.seqColumnFor(membBc, file) === 1L
    val field = scope.pk.flatMap(PkTables.delFieldOf(scope.tableDir, _))
    val data = readDataWithCoords(spark, scope.tableDir, files)
      .withColumn("_gvd_inprev", inPrev(col(FileKeyCol)))
    val (killed, killedB, killedA) = scope.pk match {
      case Some(pk) =>
        equalityKills(spark, scope, pk, field, prevSet, physKeys, inPrev, data)
      case None => positionKills(spark, scope, prevSet, data)
    }
    val alive = killed
      .withColumn("_gvd_ab", col("_gvd_inprev") && !killedB)
      .withColumn("_gvd_aa", !killedA)
    // NULL-keyed rows (plain tables) ride the SAME aggregate as
    // singletons under their coordinates (a separate union branch
    // would re-execute the scan per branch, measured 3x the whole
    // diff); the extra group columns are NULL for keyed rows, so their
    // groups are unchanged
    val singletons: Seq[(String, Column)] =
      if (scope.pk.isDefined) Nil
      else {
        val anyKeyNull = physKeys.map(col(_).isNull).reduce(_ || _)
        Seq("_gvd_gf" -> when(anyKeyNull, col(FileKeyCol)),
          "_gvd_gp" -> when(anyKeyNull, col(PosKeyCol)))
      }
    val grouped = alive.withColumns(singletons.toMap)
    val pick = lawOf(scope, field)
    val (ab, aa) = (col("_gvd_ab"), col("_gvd_aa"))
    // images only for the LOGICAL value columns: helper and bucket
    // columns never reach the feed envelope
    val physVals = logical.fields.toSeq
      .map(f => scope.renames.getOrElse(f.name, f.name))
      .filterNot(physKeys.contains)
    val imgCols = physVals.flatMap { c =>
      Seq(pick(c, col(c), ab).as(s"_gvd_b_$c"),
        pick(c, col(c), aa).as(s"_gvd_a_$c"))
    } ++ Seq(
      max(when(ab, 1).otherwise(0)).as("_gvd_eb"),
      max(when(aa, 1).otherwise(0)).as("_gvd_ea"))
    val g = grouped.groupBy((physKeys ++ singletons.map(_._1)).map(col): _*)
      .agg(imgCols.head, imgCols.tail: _*)
    def img(state: String): Column = struct(logical.fields.map { f =>
      val p = scope.renames.getOrElse(f.name, f.name)
      (if (physKeys.contains(p)) col(p) else col(s"_gvd_${state}_$p"))
        .as(f.name)
    }.toSeq: _*)
    val (before, after) = (img("b"), img("a"))
    val (eb, ea) = (col("_gvd_eb") === 1, col("_gvd_ea") === 1)
    val none = lit(null).cast(logical)
    def entry(op: String, b: Column, a: Column) =
      struct(lit(op).as("op"), b.as("before"), a.as("after"))
    // a singleton alive in both states is the full-outer's d+c churn
    val singleton =
      singletons.headOption.fold(lit(false))(g => col(g._1).isNotNull)
    val entries =
      when(singleton && eb && ea,
        array(entry("d", before, none), entry("c", none, after)))
      .when(!eb && ea, array(entry("c", none, after)))
      .when(eb && !ea, array(entry("d", before, none)))
      .when(eb && ea && before =!= after, array(entry("u", before, after)))
    val entryType = ArrayType(StructType(Seq(StructField("op", StringType),
      StructField("before", logical), StructField("after", logical))))
    Some(g
      .select(explode(coalesce(entries, array().cast(entryType))).as("_gvd_e"))
      .select(col("_gvd_e.op").as("op"), col("_gvd_e.before").as("before"),
        col("_gvd_e.after").as("after")))
  }

  /** Per-state POSITION-delete kills of [[versionDiff]]: parent-state
    * coordinates come from the parent's own delete files, current-state
    * ones from all (coordinates only accumulate on the additive path).
    * The two slices are read with a state flag and folded to one
    * `(file, pos)` → hit-state frame, joined once. */
  private def positionKills(spark: SparkSession, scope: ReadScope,
                            prevSet: Set[String], data: DataFrame)
      : (DataFrame, Column, Column) = {
    import org.apache.spark.sql.functions.{coalesce, lit, max}
    val dels = Snapshots.deleteFiles(scope.files)
    if (dels.isEmpty) (data, lit(false), lit(false))
    else {
      val slices = Seq(dels.filter(prevSet) -> 1, dels.filterNot(prevSet) -> 0)
        .collect { case (fs, state) if fs.nonEmpty =>
          readDeletes(spark, scope.tableDir, fs, scope.hasRootData)
            .withColumn("_gvd_dprev", lit(state))
        }
      val hits = slices.reduce(_ unionByName _)
        .groupBy(col(FileKeyCol).as("_gvd_hf"), col(PosKeyCol).as("_gvd_hp"))
        .agg(max(col("_gvd_dprev")).as("_gvd_dprev"))
        .withColumn("_gvd_hit", lit(1))
      val joined = data.join(hits,
        data(FileKeyCol) === col("_gvd_hf") &&
          data(PosKeyCol) === col("_gvd_hp"), "left")
        .drop("_gvd_hf", "_gvd_hp")
      // an unmatched row reads NULL flags, and NULL would poison the
      // liveness conditions
      val hit = coalesce(col("_gvd_hit"), lit(0)) === 1
      val hitPrev = coalesce(col("_gvd_dprev"), lit(0)) === 1
      (joined, hit && hitPrev, hit)
    }
  }

  /** Per-state EQUALITY-delete kills of [[versionDiff]] on a primary-key
    * table, over the rows it needs:
    *  - the birth sequence ([[PkTables.SeqCol]]);
    *  - the per-state kills: the broadcast vectors [[resolve]] applies
    *    ([[PkBucketResolve.eqVectorFor]]), one over the parent's eq
    *    files (usually cached by the previous commit's production or
    *    read) and one over the child's, each a scan-local filter term;
    *  - the TOUCHED-KEY restriction: a key in no fresh data file whose
    *    thresholds are equal in both vectors has identical rows and
    *    kills in both states, so it emits nothing. Filtering the scan to
    *    the other keys — a driver-collected set ([[KeySetContains]]) —
    *    makes the shuffle O(delta), not O(table). Only when fresh bytes
    *    are ≤ 25% of the table: for bulk loads the extra fresh-file read
    *    costs more than it saves.
    * Above the [[VectorMaxConf]] ceiling (either vector, or the fresh
    * data keys' footer count) both steps run as joins: the restriction
    * semi-joins the keys of the fresh data and fresh eq files, and the
    * canonical thresholds PER STATE come from one read of the current
    * eq files (pure-additive ⇒ the parent's are a subset) — the blind
    * family's max seq and the field family's lex-max `(field, seq)`
    * pair ([[PkTables.canonicalEqDeletes]]'s normal form), one
    * aggregate with membership guards, killed under
    * [[PkTables.eqKillCond]]. Keyed by the PK, so that join reuses the
    * data side's key exchange even as a sort-merge join. */
  private def equalityKills(spark: SparkSession, scope: ReadScope,
                            pk: PkTables.PkDef,
                            field: Option[StructField],
                            prevSet: Set[String], physKeys: Seq[String],
                            inPrev: Column => Column, data: DataFrame)
      : (DataFrame, Column, Column) = {
    import org.apache.spark.sql.functions.{coalesce, lit, max, struct, when}
    import org.apache.spark.sql.GraftBridge.column
    import PkTables.{DelFieldCol, DelSeqCol, SeqCol}
    val tableDir = scope.tableDir
    val files = scope.files
    val bc = PkTables.seqBroadcastFor(spark, tableDir, scope.seqs)
    val keySchema = PkTables.keyFileSchema(tableDir, pk.keys)
    val sequenced =
      data.withColumn(SeqCol, PkTables.seqColumnFor(bc, col(FileKeyCol)))
    val attr = attrsOf(sequenced)
    val freshData = Snapshots.dataFiles(files).filterNot(prevSet)
    val eqV = PkTables.eqDeleteFiles(files)
    val freshEq = eqV.filterNot(prevSet)
    // an unreadable size makes the gate UNDECIDABLE — disable the
    // restriction for this commit rather than undercount freshBytes
    // and restrict a bulk load (the case the 25% gate exists for)
    def bytesOf(fs: Seq[String]): Option[Long] =
      fs.foldLeft(Option(0L)) { (acc, f) =>
        acc.flatMap(a =>
          try Some(a + Files.size(tableDir.resolve(f)))
          catch { case _: Exception => None })
      }
    val freshBytes = bytesOf(freshData ++ freshEq)
    val totalBytes = for {
      d <- bytesOf(Snapshots.dataFiles(files))
      e <- bytesOf(eqV)
    } yield d + e
    val restrict = prevSet.nonEmpty && totalBytes.exists(_ > 0) &&
      freshBytes.exists(_ * 4 <= totalBytes.get)
    def freshKeys(fs: Seq[String]): DataFrame =
      readDataWithCoords(spark, tableDir, fs, select = Some(physKeys))
        .select(physKeys.map(col): _*)
    // per-state vectors, None inside for a state without eq files; the
    // parent's is normally cached by the previous commit's production
    // or read
    def vectorOf(eqs: Seq[String],
                 extending: => Option[(Option[PkBucketResolve.EqVector],
                   Array[InternalRow])] = None)
        : Option[Option[PkBucketResolve.EqVector]] =
      if (eqs.isEmpty) Some(None)
      else PkBucketResolve.eqVectorFor(spark, tableDir, eqs, keySchema,
        scope.seqs, field, extending).map(Some(_))
    val before = vectorOf(eqV.filter(prevSet))
    // ONE bounded collect of the fresh rows the diff needs: the fresh
    // data files' keys (the restriction) and, unless the child's vector
    // is built already, the fresh eq rows it extends the parent's with
    val withData = restrict && freshData.nonEmpty
    val extend = freshEq.nonEmpty && before.isDefined &&
      !PkBucketResolve.eqVectorCached(spark, tableDir, eqV)
    val fresh =
      if (!withData && !extend) Some(Array.empty[InternalRow])
      else {
        val padding = field.map(f => lit(null).cast(f.dataType).as(DelFieldCol)).toSeq
        collectUnderCeiling(spark, tableDir,
          (if (withData) freshData else Nil) ++ (if (extend) freshEq else Nil),
          ((if (withData) Seq(freshKeys(freshData).select(physKeys.map(col) ++
              padding :+ lit(null).cast(LongType).as(DelSeqCol) :+
              lit(false).as("_gvd_eqrow"): _*)) else Nil) ++
           (if (extend) Seq(PkTables.readEqDeletes(spark, tableDir, freshEq,
              keySchema, bc, field).withColumn("_gvd_eqrow", lit(true))) else Nil))
            .reduce(_ unionByName _))
      }
    val (eqRows, dataRows) = fresh.getOrElse(Array.empty[InternalRow])
      .partition(_.getBoolean(physKeys.size + field.size + 1))
    val after = vectorOf(eqV,
      if (extend) fresh.map(_ => (before.flatten, eqRows)) else None)
    // (parent-state vector, child-state vector); None when either is
    // over the ceiling
    val vectors = for { a <- after; b <- before } yield (b, a)
    // the touched keys: the fresh data files' and those whose
    // thresholds differ between the two vectors
    val keySet = vectors.filter(_ => restrict && fresh.isDefined).map {
      case (b, a) =>
        val keyTypes = keySchema.fields.map(_.dataType).toSeq
        val proj = UnsafeProjection.create(keyTypes.toArray)
        val set = new java.util.HashSet[UnsafeRow]()
        dataRows.foreach(r => set.add(proj(r).copy()))
        a.foreach { av =>
          val prior = b.fold(
            new java.util.HashMap[UnsafeRow, Array[AnyRef]]())(_.slots.value)
          av.slots.value.forEach((k, slots) =>
            if (!java.util.Arrays.equals(slots, prior.get(k))) set.add(k))
        }
        KeySetContains(spark.sparkContext.broadcast(set), keyTypes,
          CreateStruct(keySchema.fieldNames.toSeq.map(attr)))
    }
    val df = keySet match {
      case Some(touched) => sequenced.filter(column(touched))
      case None if restrict =>
        val keyAliases = physKeys.map(k => col(k).as(s"_gvd_tk_$k"))
        ((if (freshData.isEmpty) Seq.empty[DataFrame]
          else Seq(freshKeys(freshData).select(keyAliases: _*))) ++
         (if (freshEq.isEmpty) Seq.empty[DataFrame]
          else Seq(PkTables.readEqDeletes(spark, tableDir, freshEq,
            keySchema, bc, field).select(keyAliases: _*))))
          .reduceOption(_ unionByName _).map(_.distinct())
          .fold(sequenced)(t => sequenced.join(t,
            physKeys.map(k => sequenced(k) === t(s"_gvd_tk_$k")).reduce(_ && _),
            "left_semi"))
      case None => sequenced
    }
    vectors match {
      case Some((before, after)) =>
        def kills(v: Option[PkBucketResolve.EqVector]): Column =
          v.fold(lit(false))(x => column(x.killed(keySchema, field, attr)))
        (df, kills(before), kills(after))
      case None =>
        val edPrev = col("_gvd_edprev")
        val fld = field.map(_ => col(DelFieldCol))
        def blindOf(guard: Column) = max(when(guard, col(DelSeqCol)))
        def pairOf(guard: Column) = max(when(guard,
          struct(col(DelFieldCol).as("f"), col(DelSeqCol).as("s"))))
        val aggs = fld match {
          case None => Seq(
            blindOf(edPrev).as("_gvd_bl_b"), blindOf(lit(true)).as("_gvd_bl_a"))
          case Some(f) => Seq(
            blindOf(edPrev && f.isNull).as("_gvd_bl_b"),
            blindOf(f.isNull).as("_gvd_bl_a"),
            pairOf(edPrev && f.isNotNull).as("_gvd_pr_b"),
            pairOf(f.isNotNull).as("_gvd_pr_a"))
        }
        // canonical keys aliased so the joined frame keeps ONE
        // unambiguous copy of each key column (the data side's)
        val canon = PkTables.readEqDeletes(spark, tableDir, eqV, keySchema, bc,
            field)
          .withColumn("_gvd_edprev", inPrev(col("_metadata.file_path")))
          .groupBy(physKeys.map(k => col(k).as(s"_gvd_ck_$k")): _*)
          .agg(aggs.head, aggs.tail: _*)
        val joined = df.join(canon,
          physKeys.map(k => df(k) === col(s"_gvd_ck_$k")).reduce(_ && _), "left")
          .drop(physKeys.map(k => s"_gvd_ck_$k"): _*)
        // the kill law over each family's canonical threshold — a state
        // with no threshold (NULL) kills nothing
        def killed(state: String): Column = {
          val blind = coalesce(PkTables.eqKillCond(None, col(SeqCol), None,
            col(s"_gvd_bl_$state")), lit(false))
          fld.fold(blind) { _ =>
            val p = col(s"_gvd_pr_$state")
            blind || coalesce(PkTables.eqKillCond(field.map(f => col(f.name)),
              col(SeqCol), Some(p.getField("f")), p.getField("s")), lit(false))
          }
        }
        (joined, killed("b"), killed("a"))
    }
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

  /** Persist a `(file, pos, target-dir)` hit set as delete files
    * (`delete-` basenames), coordinates sorted by `(file, pos)` — the
    * order readers and the minor compactor
    * (rewrite_position_delete_files) like. */
  def writeDeleteFiles(spark: SparkSession, tableDir: Path,
                       hits: DataFrame): Seq[String] =
    writeScoped(tableDir, hits.toDF("file", "pos", TargetDirCol),
      Seq(TargetDirCol, "file", "pos"), Snapshots.DeleteDirName,
      "delete", ".__mordel-")

  /** Persist `rows` (carrying [[TargetDirCol]]) as delete files under
    * `dirName`, ONE file set per TARGET PARTITION DIRECTORY, each part
    * named `<prefix>-<write id>-<i>.parquet`, returning the
    * table-relative paths to commit. Files land before the manifest
    * references them (the ordinary publish-then-commit discipline);
    * the prefix keeps them recognizable by name alone. */
  def writeScoped(tableDir: Path, rows: DataFrame, sortCols: Seq[String],
                  dirName: String, prefix: String,
                  stagingTag: String): Seq[String] = {
    val tmp = tableDir.resolveSibling(tableDir.getFileName.toString +
      stagingTag + java.util.UUID.randomUUID().toString.take(8))
    PartitionedWrite.deleteRecursive(tmp)
    // converge each target partition's rows onto one task — without
    // this, partitionBy opens a writer per (scan task × target dir)
    // and a broad delete commits task-count × partitions tiny files
    // into the manifest
    rows.repartition(col(TargetDirCol))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.partitionBy(TargetDirCol).parquet(tmp.toString)
    val delDir = tableDir.resolve(dirName)
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
      val name = s"$prefix-$writeId-$i.parquet"
      val sub = Option(tmp.relativize(p).getParent) // _gmor_tdir=<esc>
      val destDir = sub.fold(delDir)(d => delDir.resolve(d.toString))
      Files.createDirectories(destDir)
      Files.move(p, destDir.resolve(name))
      sub.fold(s"$dirName/$name")(d => s"$dirName/$d/$name")
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
    * keyed by basename — so `.files` reports rows for delete entries
    * too. Failure degrades to a missing entry, never to a wrong
    * count. */
  def deleteFileRowStats(tableDir: Path,
                         moved: Seq[String]): Map[String, FileStats.FileStat] =
    moved.flatMap(rel => footerRows(tableDir.resolve(rel)).map(n =>
      Snapshots.basename(rel) -> FileStats.FileStat(Some(n), Map.empty))).toMap

  /** A parquet file's row count from its footer (a driver-side read, no
    * Spark job); None when the footer is unreadable. */
  def footerRows(file: Path): Option[Long] =
    try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(file))
      try Some(r.getRecordCount) finally r.close()
    } catch { case _: Exception => None }

  /** The [[VectorMaxConf]] ceiling of the session. */
  def vectorMax(spark: SparkSession): Long =
    spark.conf.get(VectorMaxConf, VectorMaxDefault.toString).toLong

  /** `df`'s rows on the driver in ONE job, when the footer row counts of
    * `files` (every file `df` reads, unfiltered) fit the
    * [[VectorMaxConf]] ceiling — a bound known before reading, so the
    * collect needs no `limit` probe (whose incremental partition scan
    * runs several jobs). None over the ceiling, with vectors disabled
    * (0, or at/above `Int.MaxValue`: uncollectable), or when a footer is
    * unreadable; callers keep their join plans. */
  def collectUnderCeiling(spark: SparkSession, tableDir: Path,
                          files: Seq[String], df: DataFrame)
      : Option[Array[InternalRow]] = {
    val max = vectorMax(spark)
    if (max <= 0L || max >= Int.MaxValue.toLong) return None
    val rows = files.foldLeft(Option(0L)) { (acc, f) =>
      acc.flatMap(n => footerRows(tableDir.resolve(f)).map(n + _))
    }
    if (!rows.exists(_ <= max)) None
    else Some(df.queryExecution.executedPlan.executeCollect())
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
    * back to the anti-join). The delete files' footer row counts decide
    * before any read, and the build is ONE bounded collect over the
    * (small) delete parquet ([[collectUnderCeiling]]). Cached per
    * immutable delete-file set. */
  def vectorFor(spark: SparkSession, tableDir: Path, dels: Seq[String],
                hasRootData: Boolean = false)
      : Option[org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]]] = {
    if (dels.isEmpty) return None
    // applicationId in the key: broadcast handles die with their
    // SparkContext — after a spark.stop()/restart in the same JVM
    // (test harnesses, long-lived services) a stale hit would return
    // a broadcast of a dead context and fail at execution; the ceiling
    // too: lowering it (0 disables vectors) must reach the join plan
    val key = spark.sparkContext.applicationId + "\u0000" + vectorMax(spark) +
      "\u0000" + tableDir.toString + "\u0000" + dels.sorted.mkString("\u0000")
    val cached = vectorCache.get(key)
    if (cached != null) return cached
    val built = collectUnderCeiling(spark, tableDir, dels,
        readDeletes(spark, tableDir, dels, hasRootData))
      .map { rows =>
        val byFile = new java.util.HashMap[
          org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
        rows.groupBy(_.getUTF8String(0)).foreach { case (f, rs) =>
          byFile.put(f, rs.map(_.getLong(1)).distinct.sorted)
          ()
        }
        spark.sparkContext.broadcast(byFile)
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
  * delete-carrying (or unresolved primary-key) snapshot with
  *
  * {{{
  *   Project(relation output attrs,
  *     MorDeletes.resolve(
  *       [Filter(pushed predicate)]          // re-attached data-side
  *       per-shape parquet read of the DATA files + row coordinates))
  * }}}
  *
  * The rule owns only what belongs to the plan: the conjunct split and
  * the physical-name remap, delete-file pruning, the bucket-local
  * [[PkBucketResolve]] base, and the splice. The output attributes
  * keep the relation's exprIds, so the enclosing plan is untouched.
  * Pushed filters re-attach beneath the delete application (V2
  * pushdown saw the dirty scan refuse them, so the full predicate is
  * still in the Filter above) — parquet row-group skipping and V1
  * partition pruning run as if the table were clean.
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
    * replace: a DELETE-CARRYING snapshot read (the resolved-read swap), a
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
      // scan dirty tables themselves); [[swap]] splits the rest
      val cond2 = cond.transform {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          se.withNewPlan(rewrite(se.plan))
      }
      swap(r, Some(cond2))
    case r: DataSourceV2ScanRelation if dirtyOf(r).isDefined =>
      swap(r, None)
    case other =>
      other.mapChildren(rewrite).transformExpressions {
        case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          se.withNewPlan(rewrite(se.plan))
      }
  }

  private def physNames(r: DataSourceV2ScanRelation,
                        scope: ReadScope): Map[String, String] =
    r.output.map(o => o.name -> scope.renames.getOrElse(o.name, o.name)).toMap

  /** `e` over the relation's attributes, re-pointed at `df`'s columns
    * of the same physical name. */
  private def remap(r: DataSourceV2ScanRelation, physOf: Map[String, String],
                    df: DataFrame)(e: Expression): Expression = {
    val names = r.output.map(a => a.exprId -> a.name).toMap
    val attr = attrsOf(df)
    e.transform {
      case a: AttributeReference if names.contains(a.exprId) =>
        attr(physOf(names(a.exprId)))
    }
  }

  /** The resolved frame in place of relation `r`, projected to the
    * relation's own output attributes (exprIds kept, so the enclosing
    * plan is untouched). The spliced subtree is ANALYZED-but-not-
    * optimized, and the enclosing plan is already past the optimizer's
    * finish-analysis batch — RuntimeReplaceable expressions (the
    * coordinate key's url_decode) must be replaced here or codegen
    * meets the unreplaced form and fails. */
  private def splice(r: DataSourceV2ScanRelation, physOf: Map[String, String],
                     resolved: DataFrame): LogicalPlan = {
    val plan = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
      resolved.queryExecution.analyzed)
    val outBy = plan.output.map(a => a.name.toLowerCase -> a).toMap
    Project(r.output.map(o =>
      Alias(outBy(physOf(o.name).toLowerCase), o.name)(exprId = o.exprId,
        qualifier = o.qualifier)), plan)
  }

  /** Swap the relation for
    *
    * {{{
    *   [Filter(conjuncts kept above)]
    *   Project(relation output attrs,
    *     MorDeletes.resolve(                  // deletes (+ PK dedup)
    *       [Filter(pushed conjuncts)]         // data side
    *       per-shape parquet read + (file, pos)))
    * }}}
    *
    * Pushed: deterministic, subquery-free conjuncts over the relation's
    * own columns (a subquery conjunct would need outer-reference
    * remapping inside its plan; correlated outer references stay above
    * — correct, just unpushed) — and on PRIMARY-KEY tables only
    * KEY-ONLY ones: dropping a whole key never changes another key's
    * winner, but filtering an old version away before the dedup would
    * resurrect the version beneath it. Pushed conjuncts drive
    * partition pruning, parquet pushdown and static pruning of BOTH
    * delete kinds: they are laid out by target partition
    * ([[TargetDirCol]]), so the proof that prunes data directories
    * prunes delete FILES too — a one-partition query reads one
    * partition's delete churn. The proof runs over the PHYSICALLY
    * remapped predicate (the name space the partition spec and
    * `_gmor_tdir` values speak), never the logical names, which could
    * diverge under rename evolution. */
  private def swap(r: DataSourceV2ScanRelation,
                   cond: Option[Expression]): LogicalPlan = {
    val (table, allDels) = dirtyOf(r).get
    val (scope, spec) = table.morReadInfo
    val spark = SparkSession.active
    val physOf = physNames(r, scope)
    val physKeys = scope.pk.map(_.keys.map(k => scope.renames.getOrElse(k, k)))
    val names = r.output.map(a => a.exprId -> a.name).toMap
    def pushable(e: Expression): Boolean =
      e.deterministic &&
        !e.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.SubqueryExpression]) &&
        e.references.subsetOf(r.outputSet) &&
        physKeys.forall(ks => e.references.forall(a => names.get(a.exprId)
          .exists(n => ks.contains(physOf.getOrElse(n, n)))))
    val (pushed, kept) =
      cond.toSeq.flatMap(splitConjunctivePredicates).partition(pushable)
    // data read: the relation's columns plus the key (the dedup needs
    // it even when the query never asked) and the declared sequence
    // field (the ladder orders by it), coordinates ride along
    val delField = scope.pk.flatMap(PkTables.delFieldOf(scope.tableDir, _))
    val values = r.output.map(o => physOf(o.name))
    val selCols = (values ++ physKeys.getOrElse(Nil) ++
      delField.map(_.name)).distinct
    val eqAll = PkTables.eqDeleteFiles(scope.files)
    // BUCKET-LOCAL fast base ([[PkBucketResolve]]): a dirty PK read
    // over the required partition-by-key layout resolves per leaf with
    // NO shuffle Exchange — one key-grouped partition per identity/
    // bucket leaf dir, equality deletes as a scan-local broadcast
    // filter. Key conjuncts over IDENTITY PARTITION columns ride along
    // (they prune whole dirs exactly — identity values live in dir
    // names, never in files, so no parquet pushdown is lost);
    // conjuncts touching stored key columns keep the pruned+pushed
    // read below (their post-filter exchange is already tiny); any
    // structural miss falls back too.
    val identityCols = spec.collect {
      case PartitionSpec.Identity(c) => c.toLowerCase
    }.toSet
    val identityOnly = pushed.forall(_.references.forall(a =>
      names.get(a.exprId).exists(n =>
        identityCols(physOf.getOrElse(n, n).toLowerCase))))
    val fastBase: Option[LogicalPlan] = scope.pk
      .filter(_ => scope.pkDirty && allDels.isEmpty && identityOnly)
      .flatMap(pk => PkBucketResolve.tryBase(spark, scope.tableDir,
        table.name(), scope.files, scope.seqs, spec, selCols, eqAll, pk,
        scope.stats, delField, table, r.relation.catalog,
        partFilter = byName => pushed.reduceOption(And).map(_.transform {
          case a: AttributeReference if names.contains(a.exprId) =>
            byName(physOf(names(a.exprId)))
        })))
    val resolved = fastBase match {
      case Some(base) =>
        resolve(spark, scope,
          org.apache.spark.sql.GraftBridge.ofRows(spark, base),
          Nil, Nil, Some(values))
      case None =>
        val data = readDataWithCoords(spark, scope.tableDir, scope.files,
          Some(selCols))
        val remapped = pushed.reduceOption(And).map(remap(r, physOf, data))
        def pruned(fs: Seq[String]) =
          remapped.fold(fs)(c => pruneDeleteFiles(fs, spec, Seq(c)))
        resolve(spark, scope,
          remapped.fold(data)(c =>
            data.filter(org.apache.spark.sql.GraftBridge.column(c))),
          pruned(allDels), pruned(eqAll), Some(values))
    }
    val proj = splice(r, physOf, resolved)
    kept.reduceOption(And).fold(proj: LogicalPlan)(Filter(_, proj))
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

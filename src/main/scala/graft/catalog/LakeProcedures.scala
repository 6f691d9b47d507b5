package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.{SnapshotReads, StateStore}

/** SQL stored procedures for lake maintenance — the `CALL
  * cat.system.<proc>(…)` surface a Paimon/Iceberg user drives
  * compaction, snapshot lifecycle, tags, branches, partition-spec
  * evolution and data-skipping indexes with (Iceberg's
  * `CALL system.expire_snapshots`, Paimon's compact action; the
  * reference's lake tier exposes this kind of table maintenance
  * through its tiering service, `deploy:318-358`).
  *
  * Spark-first shape: Spark 4's `ProcedureCatalog` API — the parser,
  * positional and named argument binding, and result display are all
  * Spark's. Every procedure is one entry of [[procedures]], the table
  * both `load` and `list` read: its parameters, report schema,
  * `DESCRIBE PROCEDURE` text, and a body from (table dir, bound
  * arguments) to report rows, returned through a driver-local
  * [[LocalScan]] (maintenance reports are O(versions), never
  * data-sized). No parameter declares a default, so a NULL argument is
  * rejected before the body runs.
  *
  * Argument 0 is always `tbl`: `db.table` relative to the catalog
  * root. The snapshot-history procedures need a versioned reader of
  * either layout ([[versioned]], [[graft.streaming.SnapshotReads]]);
  * branches and delete-file rewrites need the manifest log, spec
  * evolution a partitioned manifest table, `purge_keys` the flat
  * `v=<n>` store. The rewrites (compact, dedupe, zorder) publish through
  * one path per layout: [[DeletableTable.rewriteRows]] for unpartitioned
  * tables, [[rewriteSnapshot]] for manifest-versioned partitioned
  * ones. */
private[catalog] object LakeProcedures {

  val Namespace = "system"

  def list(): Array[String] = procedures.map(_.name).toArray

  def load(root: Path, ident: Identifier): Option[UnboundProcedure] =
    if (ident.namespace().toSeq != Seq(Namespace)) None
    else procedures.find(_.name == ident.name()).map(unbound(root, _))

  /** One procedure: positional parameters (all required), the report
    * schema, the `DESCRIBE PROCEDURE` text, and the body. */
  private final case class Proc(name: String, params: Seq[(String, DataType)],
                                schema: StructType, description: String,
                                body: (Path, InternalRow) => Seq[InternalRow])

  private def proc(name: String, params: Seq[(String, DataType)],
                   schema: StructType, summary: String = "")(
      body: (Path, InternalRow) => Seq[InternalRow]): Proc =
    Proc(name, params, schema, "graft lake maintenance: " +
      (if (summary.isEmpty) name else summary), body)

  private val newVersion = new StructType().add("new_version", LongType)
  private val partitionSpecOut =
    new StructType().add("partition_spec", StringType)
  private val deleteRewriteOut = new StructType().add("rewritten_files", LongType)
    .add("new_files", LongType).add("new_version", LongType)

  /** The procedure table: each name is written here once. */
  private lazy val procedures: Seq[Proc] = Seq(
    // manifest logs expose the full audit surface (parent chain,
    // operation, file-count summary — the Iceberg .snapshots columns);
    // flat v=<n> stores report version/commit/parent. Shares
    // [[snapshotAuditRows]] with the `db.t.snapshots` metadata table so
    // the two surfaces can never diverge.
    proc("snapshots", Seq("tbl" -> StringType), SnapshotAuditSchema) {
      (dir, _) => snapshotAuditRows(dir, versioned("snapshots", dir))
    },
    // Iceberg-style NON-destructive rollback: re-commit snapshot
    // <version>'s rows as latest+1 — the bad commits stay readable
    // (VERSION AS OF still time-travels into them until
    // expire_snapshots), the table's CURRENT content reverts, and a
    // crash mid-rollback leaves the store untouched because the rewrite
    // lands only under the new version directory.
    proc("rollback", Seq("tbl" -> StringType, "version" -> LongType),
      newVersion) { (dir, args) =>
      Seq(InternalRow(versioned("rollback", dir).rollbackTo(args.getLong(1))))
    },
    // Snapshot tags (Iceberg refs): a named pointer into history. `tag`
    // creates (errors on an existing name — retag = drop+tag),
    // `drop_tag` removes, `tags` lists. A tag makes its snapshot
    // addressable as `VERSION AS OF '<name>'` AND pins it against
    // expire_snapshots — the retention contract for reproducibility.
    proc("tag", Seq("tbl" -> StringType, "name" -> StringType,
      "version" -> LongType), new StructType().add("version", LongType)) {
      (dir, args) =>
      val log = versioned("tag", dir)
      val name = args.getUTF8String(1).toString
      val v = args.getLong(2)
      if (name.toLongOption.isDefined) throw new IllegalArgumentException(
        s"tag: '$name' parses as a number — the numeric namespace " +
          "belongs to raw snapshot ids")
      if (!log.versions.contains(v)) throw new IllegalArgumentException(
        s"tag: no snapshot v=$v (have ${log.versions.mkString(",")})")
      if (Snapshots.isVersioned(dir))
        // manifest tables: tag creation IS an OCC commit — the
        // refreshed chain re-validates the target per attempt, so a
        // racing expire either linearizes before (tag conflicts) or
        // after (its pin read sees this commit's ref state): no
        // sidecar-file window at all (r13)
        Snapshots.commitTag(dir, name, v)
      else
        // flat stores: per-file atomic create (no manifest chain to
        // race — their expire is the single-writer store op)
        if (!Tags.create(dir, name, v)) throw new IllegalArgumentException(
          s"tag: '$name' already points at " +
            s"v=${Tags.read(dir).getOrElse(name, -1L)} — drop_tag first")
      Seq(InternalRow(v))
    },
    proc("drop_tag", Seq("tbl" -> StringType, "name" -> StringType),
      new StructType().add("dropped_version", LongType)) { (dir, args) =>
      versioned("drop_tag", dir)
      val name = args.getUTF8String(1).toString
      val dropped =
        if (Snapshots.isVersioned(dir)) Snapshots.commitDropTag(dir, name)
        else Tags.drop(dir, name)
      val v = dropped.getOrElse(
        throw new IllegalArgumentException(
          s"drop_tag: no tag '$name' (tags: " +
            s"${pinsOf(dir).keys.toSeq.sorted.mkString(",")})"))
      Seq(InternalRow(v))
    },
    proc("tags", Seq("tbl" -> StringType),
      new StructType().add("name", StringType).add("version", LongType)) {
      (dir, _) =>
      versioned("tags", dir)
      pinsOf(dir).toSeq.sortBy(_._1).map { case (n, v) =>
        InternalRow(UTF8String.fromString(n), v)
      }
    },
    // Iceberg's ADD PARTITION FIELD — partition-spec evolution as pure
    // metadata: the sidecar gains a trailing identity field, NEW writes
    // nest under the new `col=value` level, and files written under the
    // OLD spec stay readable in place (they carry the column in their
    // bytes; scans union per shape, and CALL compact migrates
    // everything to the current layout). Manifest-versioned tables
    // only: the plain layout reads through one native root scan, which
    // cannot mix shapes.
    proc("add_partition_field", Seq("tbl" -> StringType, "col" -> StringType),
      partitionSpecOut, "evolve the partition spec with a new identity field") {
      (dir, args) =>
      val spec = requireSpecEvolvable("add_partition_field", dir)
      val field = validateNewIdentityCol("add_partition_field", dir, spec,
        args.getUTF8String(1).toString)
      PartitionSpec.write(dir, spec :+ PartitionSpec.Identity(field.name))
      Seq(InternalRow(
        UTF8String.fromString((spec.map(_.col) :+ field.name).mkString(","))))
    },
    // Iceberg's DROP PARTITION FIELD — the coarsening move for an
    // over-partitioned table (the most common spec mistake), pure
    // metadata like ADD: the sidecar loses the identity field, NEW
    // writes stop nesting under its `col=value` level (the column moves
    // into file bytes — the writer excludes only CURRENT identity
    // columns), and files written under the OLD spec stay readable in
    // place (their directory names still carry the value; scans union
    // per shape; CALL compact migrates).
    proc("drop_partition_field", Seq("tbl" -> StringType, "col" -> StringType),
      partitionSpecOut) { (dir, args) =>
      versioned("drop_partition_field", dir)
      val spec = requireSpecEvolvable("drop_partition_field", dir)
      val field = validateDroppableField("drop_partition_field",
        spec, args.getUTF8String(1).toString)
      val remaining = spec.filterNot(_ eq field)
      if (remaining.isEmpty) throw new UnsupportedOperationException(
        "drop_partition_field: dropping the last partition field " +
          "would leave an unpartitioned layout — recreate the table " +
          "instead")
      PartitionSpec.write(dir, remaining)
      Seq(InternalRow(
        UTF8String.fromString(remaining.map(_.col).mkString(","))))
    },
    // drop + add in ONE metadata operation (Iceberg's REPLACE PARTITION
    // FIELD): re-key the layout level — e.g. day → region — without the
    // intermediate single-field state two separate calls would expose
    // to concurrent readers. Same rules as the two constituent
    // operations.
    proc("replace_partition_field",
      Seq("tbl" -> StringType, "old" -> StringType, "new" -> StringType),
      partitionSpecOut) { (dir, args) =>
      versioned("replace_partition_field", dir)
      val spec = requireSpecEvolvable("replace_partition_field", dir)
      val field = validateDroppableField("replace_partition_field",
        spec, args.getUTF8String(1).toString)
      val nf = validateNewIdentityCol("replace_partition_field",
        dir, spec, args.getUTF8String(2).toString)
      val next = spec.filterNot(_ eq field) :+ PartitionSpec.Identity(nf.name)
      PartitionSpec.write(dir, next)
      Seq(InternalRow(UTF8String.fromString(next.map(_.col).mkString(","))))
    },
    // Iceberg's `migrate` — upgrade a PLAIN partitioned lake table to
    // manifest versioning IN PLACE: the current data files (in their
    // existing `col=value` / `_gbucket` homes, untouched) become the
    // initial snapshot, and every feature the manifest log carries —
    // time travel, tags, rollback, expire-with-GC, change feed, spec
    // evolution, commit-atomic stats, optimistic multi-writer commits —
    // turns on from that commit forward.
    proc("migrate", Seq("tbl" -> StringType),
      new StructType().add("snapshot_version", LongType)
        .add("n_files", LongType),
      "upgrade a plain partitioned table to manifest versioning in place") {
      (dir, _) =>
      if (Snapshots.isVersioned(dir))
        throw new IllegalArgumentException(
          "migrate: already a manifest-versioned table")
      if (StateStore.versionsOf(dir).nonEmpty)
        throw new UnsupportedOperationException(
          "migrate: this is a flat v=<n> snapshot store — it is " +
            "already versioned under its own layout")
      if (PartitionSpec.read(dir).isEmpty)
        throw new UnsupportedOperationException(
          "migrate: manifest versioning composes with the PARTITIONED " +
            "layout only (flat tables version through the v=<n> store)")
      // NOTE (the Iceberg migrate caveat): plain-layout writes racing
      // this listing→commit window land files no manifest references —
      // quiesce writers during migration. The catch-up sweep below
      // folds stragglers from the window into follow-up commits; it
      // cannot catch a write that STARTS after the last sweep.
      def listAll(): Seq[String] =
        PartitionedWrite.filesUnderDirs(dir,
          PartitionedWrite.leafPartitionDirs(dir)).map(_.toString)
      val files = listAll()
      // atomic flip: the whole initial log (segment + s-0) builds in a
      // temp dir and renames into place — a racing reader sees plain or
      // fully-versioned, never a manifest-less snapshot dir (which
      // reads as EMPTY)
      val v = Snapshots.migrateInit(dir, files)
      var sweeps = 0
      while (sweeps < 3 && {
        val stragglers = listAll().diff(Snapshots.latest(dir).get.files)
        if (stragglers.nonEmpty)
          Snapshots.commit(dir, Snapshots.Op.Migrate,
            cur => cur ++ stragglers)
        stragglers.nonEmpty
      }) sweeps += 1
      Seq(InternalRow(v, files.size.toLong))
    },
    // Writable branches (Iceberg refs) — the write-audit-publish loop:
    // `branch` forks the snapshot chain (segment refs only, never a
    // data copy), `SET 'graft.write.branch'='<name>'` routes the
    // session's table writes AND current reads to it (stage, then audit
    // — `VERSION AS OF '<name>'` audits without the conf),
    // `fast_forward` publishes the branch head onto main through the
    // OCC commit (conflicts when main advanced past the fork),
    // `drop_branch` abandons the staging (its files become vacuum's
    // age-guarded orphans). Tags stay read-only pins.
    proc("branch", Seq("tbl" -> StringType, "name" -> StringType),
      new StructType().add("forked_from_version", LongType)) { (dir, args) =>
      requireManifest("branch", dir)
      Seq(InternalRow(
        Snapshots.createBranch(dir, args.getUTF8String(1).toString)))
    },
    proc("fast_forward", Seq("tbl" -> StringType, "name" -> StringType),
      newVersion) { (dir, args) =>
      requireManifest("fast_forward", dir)
      Seq(InternalRow(
        Snapshots.fastForward(dir, args.getUTF8String(1).toString)))
    },
    // publish ONE staged branch commit onto main (Iceberg's
    // cherrypick_snapshot) — the selective WAP publish next to
    // fast_forward's all-or-nothing ([[Snapshots.cherryPick]])
    proc("cherry_pick", Seq("tbl" -> StringType, "name" -> StringType,
      "version" -> LongType), newVersion) { (dir, args) =>
      requireManifest("cherry_pick", dir)
      Seq(InternalRow(Snapshots.cherryPick(dir,
        args.getUTF8String(1).toString, args.getLong(2))))
    },
    proc("drop_branch", Seq("tbl" -> StringType, "name" -> StringType),
      new StructType().add("dropped", BooleanType)) { (dir, args) =>
      requireManifest("drop_branch", dir)
      val name = args.getUTF8String(1).toString
      if (!Snapshots.dropBranch(dir, name))
        throw new IllegalArgumentException(
          s"drop_branch: no branch '$name' (branches: " +
            s"${Snapshots.branches(dir).mkString(",")})")
      Seq(InternalRow(true))
    },
    proc("branches", Seq("tbl" -> StringType),
      new StructType().add("name", StringType)
        .add("head_version", LongType)
        .add("forked_from_version", LongType)) { (dir, _) =>
      requireManifest("branches", dir)
      Snapshots.branches(dir).map { b =>
        InternalRow(UTF8String.fromString(b),
          Snapshots.branchVersions(dir, b).lastOption.map(Long.box).orNull,
          Snapshots.branchFork(dir, b).map(Long.box).orNull)
      }
    },
    proc("expire_snapshots", Seq("tbl" -> StringType, "keep" -> IntegerType),
      new StructType().add("retained_versions", LongType)) { (dir, args) =>
      val log = versioned("expire_snapshots", dir)
      // tagged snapshots are pinned (the Iceberg retention rule)
      log.expire(args.getInt(1), Tags.read(dir).values.toSet)
      Seq(InternalRow(log.versions.size.toLong))
    },
    // BRANCH-scoped retention (r15 — the half expire_snapshots never
    // covered: long-lived audit branches kept unbounded manifest
    // history; drop_branch orphaned it wholesale): keep the `keep`
    // newest data commits of the branch plus b-0 (the fork marker
    // fast_forward validates against); dropped branch manifests delete
    // and files/segments no retained manifest — main OR any branch —
    // references GC
    proc("expire_branch", Seq("tbl" -> StringType, "branch" -> StringType,
      "keep" -> IntegerType),
      new StructType().add("dropped_versions", LongType)) { (dir, args) =>
      requireManifest("expire_branch", dir)
      val dropped = Snapshots.commitExpireBranch(dir,
        args.getUTF8String(1).toString, args.getInt(2))
      Seq(InternalRow(dropped.size.toLong))
    },
    // AGE-based retention (Iceberg's `expire_snapshots(older_than,
    // retain_last)`): drop data snapshots committed more than
    // `older_than_ms` ago, always keeping the `keep_last` newest data
    // commits and every pinned snapshot — the calendar retention policy
    // ("keep 7 days of history") next to the count form's fixed window
    proc("expire_age", Seq("tbl" -> StringType, "older_than_ms" -> LongType,
      "keep_last" -> IntegerType),
      new StructType().add("dropped_versions", LongType)) { (dir, args) =>
      requireManifest("expire_age", dir)
      // saturating arithmetic: an extreme negative age must mean
      // "everything is old", never wrap into the distant past
      val cutoff =
        try math.subtractExact(System.currentTimeMillis(), args.getLong(1))
        catch { case _: ArithmeticException =>
          if (args.getLong(1) < 0) Long.MaxValue else Long.MinValue }
      val dropped = Snapshots.commitExpireOlderThan(dir, cutoff,
        args.getInt(2), () => Tags.read(dir).values.toSet)
      ChangelogProducer.dropFor(dir, dropped)
      Seq(InternalRow(dropped.size.toLong))
    },
    // MINOR delete compaction (Iceberg's `rewrite_position_delete_files`):
    // K successive merge-on-read DELETEs/UPDATEs leave K coordinate
    // files per touched partition, each read anti-joining all of them
    // until a FULL `CALL compact` rewrites the data — at 100 TB with
    // daily curation deletes, read amplification grows linearly between
    // major compactions. This procedure merges each target partition's
    // delete files into ONE (deduped, (file, pos)-sorted),
    // CONTENT-NEUTRAL: data files untouched, live rows identical, commit
    // is metadata + tiny coordinate parquet. Unscoped legacy files get
    // re-scoped to their coordinates' actual partitions (the coordinate
    // key's parent) on the way.
    proc("rewrite_position_delete_files", Seq("tbl" -> StringType),
      deleteRewriteOut) { (dir, _) =>
      requireManifest("rewrite_position_delete_files", dir)
      val spark = SparkSession.active
      val s = Snapshots.latest(dir).getOrElse(
        throw new IllegalArgumentException(
          "rewrite_position_delete_files: empty manifest log"))
      val rewrite = mergeableDeleteFiles(Snapshots.deleteFiles(s.files))
      if (rewrite.isEmpty)
        Seq(InternalRow(0L, 0L, s.version))
      else {
        val coords = MorDeletes.readDeletes(spark, dir, rewrite,
            hasRootData = Snapshots.dataFiles(s.files)
              .exists(!_.contains('/')))
          .distinct()
        val hits = coords.select(
          col(MorDeletes.FileKeyCol), col(MorDeletes.PosKeyCol),
          MorDeletes.parentDirExpr(col(MorDeletes.FileKeyCol))
            .as(MorDeletes.TargetDirCol))
        val fresh = MorDeletes.writeDeleteFiles(spark, dir, hits)
        // maintenance commit, pinned to main (like compact): the inputs
        // must still be referenced — a concurrent major compact already
        // materialized them, and merging this rewrite would
        // re-introduce dropped coordinates
        val v = Snapshots.commit(dir, Snapshots.Op.RewriteDeletes,
          cur => cur.diff(rewrite) ++ fresh,
          Snapshots.validateFilesLive(
            "rewrite_position_delete_files", rewrite),
          freshStats = MorDeletes.deleteFileRowStats(dir, fresh))
        Seq(InternalRow(rewrite.size.toLong, fresh.size.toLong, v))
      }
    },
    // MINOR equality-delete compaction (r15 — the eq-delete twin of
    // rewrite_position_delete_files): K blind/predicate deletes leave K
    // key files per touched bucket, each read scanning all of them
    // until a full key-aware compact. Merge each target partition's
    // files into ONE, keeping per key only the MAX sequence (a delete at
    // seq s kills everything below s, so the max per key dominates) —
    // but persisting that sequence PER ROW ([[PkTables.readEqDeletes]]
    // reads it back), because the merged file's own birth sequence would
    // wrongly extend old deletes past the inserts that revived their
    // keys. CONTENT-NEUTRAL: data files untouched, resolved rows
    // identical.
    proc("rewrite_eqdelete_files", Seq("tbl" -> StringType),
      deleteRewriteOut) { (dir, _) =>
      requireManifest("rewrite_eqdelete_files", dir)
      val spark = SparkSession.active
      val pk = PkTables.read(dir).getOrElse(
        throw new IllegalArgumentException(
          "rewrite_eqdelete_files: not a PRIMARY-KEY table " +
            "(equality deletes only exist there)"))
      val s = Snapshots.latest(dir).getOrElse(
        throw new IllegalArgumentException(
          "rewrite_eqdelete_files: empty manifest log"))
      val rewrite = mergeableDeleteFiles(PkTables.eqDeleteFiles(s.files))
      if (rewrite.isEmpty)
        Seq(InternalRow(0L, 0L, s.version))
      else {
        val keySchema = PkTables.keyFileSchema(dir, pk.keys)
        val bc = PkTables.seqBroadcastFor(spark, dir, s.seqs)
        val delField = PkTables.delFieldOf(dir, pk)
        val all = PkTables.readEqDeletes(spark, dir, rewrite,
          keySchema, bc, delField)
        // the shared kill-law NORMAL FORM ([[PkTables
        // .canonicalEqDeletes]]): ≤2 rows per key, one per delete
        // family — blind max commit seq, field lex-max (field, seq)
        // pair. Every reader reduces to the same form, so the merge is
        // content-neutral by construction.
        val merged = PkTables.canonicalEqDeletes(all,
          keySchema.fieldNames.toSeq, delField.map(_.dataType))
        // re-scope by the key's own partition dirs (same expressions as
        // the writers) and persist; each segment hive-escaped exactly
        // like the writers ([[PartitionSpec.dirOf]]): a raw
        // concat would diverge for key values containing '%', '/', '=',
        // … and the merged file's scope would prune away on point
        // lookups — resurrecting deleted keys
        val renames = Evolutions.renames(dir)
        val tdir = PartitionSpec.read(dir).map {
          case PartitionSpec.Identity(c) =>
            MorDeletes.hiveSegment(c,
              col(renames.getOrElse(c, c)).cast("string"))
          case b: PartitionSpec.Bucket =>
            MorDeletes.hiveSegment(PartitionSpec.BucketDir,
              b.idOf(col(renames.getOrElse(b.col, b.col))).cast("string"))
        }.reduceOption((a, b) =>
          org.apache.spark.sql.functions.concat_ws("/", a, b))
          .getOrElse(org.apache.spark.sql.functions.lit(""))
        val fresh = PkTables.writeEqDeleteFiles(spark, dir,
          merged.withColumn(MorDeletes.TargetDirCol, tdir))
        val v = Snapshots.commit(dir, Snapshots.Op.RewriteEqDeletes,
          cur => cur.diff(rewrite) ++ fresh,
          Snapshots.validateFilesLive("rewrite_eqdelete_files", rewrite),
          freshStats = MorDeletes.deleteFileRowStats(dir, fresh))
        Seq(InternalRow(rewrite.size.toLong, fresh.size.toLong, v))
      }
    },
    // works on every layout: versioned tables re-commit the latest
    // snapshot coalesced (history intact, new_version returned); plain
    // tables rewrite in place through the shared staged swap
    // (small-files compaction; new_version NULL). Partitioned tables
    // compact PARTITION-PRESERVING: `target` files per partition, the
    // hive layout rebuilt in the staging dir (a flat rewrite would
    // destroy the `col=value` dirs and bake partition values into the
    // data files) — which also makes compact the spec migration tool
    // and the merge-on-read delete materializer.
    proc("compact", Seq("tbl" -> StringType, "target_files" -> IntegerType),
      newVersion, "small-files compaction") { (dir, args) =>
      val target = args.getInt(1)
      val spec = PartitionSpec.read(dir)
      val v: Option[Long] =
        if (StateStore.versionsOf(dir).nonEmpty || spec.isEmpty)
          DeletableTable.rewriteRows(dir, currentRows(dir).coalesce(target))
        else Snapshots.latest(dir) match {
          // compacting an empty snapshot: nothing to rewrite
          case Some(s) if s.files.isEmpty => Some(s.version)
          case Some(s) =>
            Some(rewriteSnapshot(Snapshots.Op.Compact, dir, s)(compactLayout(dir, target)))
          case None =>
            val tmp = DeletableTable.stagingDir(dir)
            PartitionedWrite.deleteRecursive(tmp)
            val rows = SparkSession.active.read
              .option("basePath", dir.toString).parquet(dir.toString)
            val dirCols = PartitionSpec.dirCols(spec)
            compactLayout(dir, target)(withBucketId(rows, spec), dirCols)
              .write.partitionBy(dirCols: _*).parquet(tmp.toString)
            DeletableTable.publishStagedRewrite(dir, tmp)
        }
      Seq(InternalRow(v.map(Long.box).orNull))
    },
    // row-level key dedup as a maintenance rewrite (the lakehouse
    // "deduplicate this table in place" op): per key group keep the MIN
    // row by the remaining columns' struct order — a deterministic
    // total-order pick, so reruns are idempotent and any engine agrees
    // on the survivor. Flat stores commit a new snapshot (history
    // intact, time travel still reads the duplicated past); plain tables
    // swap in place.
    proc("dedupe", Seq("tbl" -> StringType, "keys_csv" -> StringType),
      new StructType().add("rows_removed", LongType),
      "keep one row per key (min remaining-column order)") { (dir, args) =>
      // the dedupe rewrite is flat — running it on a hive layout would
      // silently destroy the partition dirs
      if (PartitionSpec.read(dir).nonEmpty)
        throw new UnsupportedOperationException(
          s"dedupe: partitioned lake tables are not supported " +
            "(the rewrite would flatten the partition layout); " +
            "use partition-preserving DELETE/UPDATE or compact")
      val keys = csv(args.getUTF8String(1))
      require(keys.nonEmpty, "dedupe: keys_csv must name at least one column")
      import org.apache.spark.sql.functions.{min, struct}
      val cur = currentRows(dir)
      val bad = keys.filterNot(cur.columns.contains)
      require(bad.isEmpty, s"dedupe: no such key column(s) ${bad.mkString(",")}")
      val before = cur.count()
      val rest = cur.columns.filterNot(keys.contains)
      val out = (
        if (rest.isEmpty) cur.distinct()
        else cur.groupBy(keys.map(col): _*)
          .agg(min(struct(rest.map(col): _*)).as("__rest"))
          .select(cur.columns.map(c =>
            if (keys.contains(c)) col(c) else col(s"__rest.$c").as(c)): _*)
      ).localCheckpoint(true)
      val removed = before - out.count()
      DeletableTable.rewriteRows(dir, out)
      Seq(InternalRow(removed))
    },
    // space-filling-curve clustering as a maintenance rewrite: rows
    // re-land range-partitioned and sorted by the Morton code of two
    // integral dimensions, so a follow-up CALL analyze gives per-file
    // min/max stats that prune on BOTH dimensions (the operator-level
    // composition FileStatsSpec pins; this is its user-facing CALL).
    // Versioned tables commit a snapshot; plain tables swap in place.
    proc("zorder", Seq("tbl" -> StringType, "x_col" -> StringType,
      "y_col" -> StringType, "target_files" -> IntegerType), newVersion,
      "z-order clustering rewrite on two integral columns") { (dir, args) =>
      val xc = args.getUTF8String(1).toString
      val yc = args.getUTF8String(2).toString
      val target = args.getInt(3)
      def requireCols(df: DataFrame): Unit = {
        val bad = Seq(xc, yc).filterNot(df.columns.contains)
        require(bad.isEmpty, s"zorder: no such column(s) ${bad.mkString(",")}")
      }
      val v: Option[Long] =
        if (PartitionSpec.read(dir).nonEmpty) {
          // PARTITION-PRESERVING z-order (manifest tables only — the
          // plain hive layout has no snapshot to commit and a flat
          // rewrite would destroy its dirs): rows re-land in their own
          // partitions, Morton-sorted WITHIN each, so a follow-up CALL
          // analyze gives per-file min/max that skip inside surviving
          // partitions on BOTH dims — the composition the partitioned
          // FileSkipping path reads.
          if (!Snapshots.isVersioned(dir))
            throw new UnsupportedOperationException(
              "zorder: PLAIN partitioned lake tables are not " +
                "supported (no snapshot log to commit the rewrite " +
                "into); create with TBLPROPERTIES " +
                "('versioned'='true') or use compact")
          val snap = Snapshots.latest(dir).get
          if (snap.files.isEmpty) Some(snap.version)
          else Some(rewriteSnapshot(Snapshots.Op.Zorder, dir, snap) { (rows, dirCols) =>
            requireCols(rows)
            rows
              .withColumn("_z", graft.operators.Layout.mortonCode(
                col(xc), col(yc)))
              .repartition(target, dirCols.map(col): _*)
              .sortWithinPartitions((dirCols.map(col) :+ col("_z")): _*)
              .drop("_z")
          })
        } else {
          val cur = currentRows(dir)
          requireCols(cur)
          DeletableTable.rewriteRows(dir,
            graft.operators.Layout.zorderLayout(cur, col(xc), col(yc), target))
        }
      Seq(InternalRow(v.map(Long.box).orNull))
    },
    proc("purge_keys", Seq("tbl" -> StringType, "key_col" -> StringType,
      "keys_csv" -> StringType),
      new StructType().add("rows_removed", LongType)) { (dir, args) =>
      val store = versioned("purge_keys", dir) match {
        case s: StateStore => s
        case _ => throw new UnsupportedOperationException(
          "purge_keys: manifest-versioned partitioned tables are not " +
            "supported yet — rewrite history with per-snapshot DELETE + " +
            "expire_snapshots instead")
      }
      val keyCol = args.getUTF8String(1).toString
      val keys: Seq[Any] = csv(args.getUTF8String(2))
        .map(s => s.toLongOption.getOrElse(s): Any)
      Seq(InternalRow(store.purgeKeys(keyCol, keys)))
    },
    // Iceberg's remove_orphan_files for THIS layout: the only
    // unreferenced bytes a crash can leave are sibling staging dirs
    // (`t.parquet.__rewrite[-uuid]` staged but never published, `.__old`
    // from a mid-swap crash) and `_*.tmp` sidecar temps inside the table
    // dir — data files are always referenced wholesale by their
    // directory. `older_than_ms` guards a LIVE writer's staging from
    // deletion (Iceberg's retention-interval discipline); pass 0 only
    // when no write can be in flight. Works on plain, versioned, and
    // partitioned tables.
    proc("vacuum", Seq("tbl" -> StringType, "older_than_ms" -> LongType),
      new StructType().add("n_removed", LongType).add("bytes_freed", LongType),
      "remove orphaned staging dirs and temp sidecars") { (dir, args) =>
      val cutoff = System.currentTimeMillis() - args.getLong(1)
      val prefix = dir.getFileName.toString + ".__"
      val siblings = {
        val s = Files.list(dir.getParent)
        try s.iterator().asScala
          .filter(_.getFileName.toString.startsWith(prefix)).toSeq
        finally s.close()
      }
      val tmps = {
        val s = Files.walk(dir)
        try s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && n.startsWith("_") && n.endsWith(".tmp")
        }.toSeq
        finally s.close()
      }
      def sizeOf(p: Path): Long = {
        val s = Files.walk(p)
        try s.iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size).sum
        finally s.close()
      }
      // manifest tables have two more orphan classes: data files
      // published into the table dirs whose snapshot commit never landed
      // (crash between publish and the manifest write) — unreferenced by
      // EVERY retained manifest, so invisible to all reads (Iceberg's
      // remove_orphan_files) — and manifest SEGMENTS no retained
      // manifest references (a loser's pre-link write, or an expire that
      // crashed mid-GC)
      val orphans =
        if (!Snapshots.isVersioned(dir)) Seq.empty[Path]
        else {
          val live = Snapshots.referencedFiles(dir)
          // merge-on-read delete files a crashed DELETE published but
          // never committed: both delete families live outside the
          // col=value walk — position deletes under _graft_deletes/,
          // equality deletes (PK tables) under _graft_eqdeletes/
          val delOrphans = Seq(Snapshots.DeleteDirName,
              PkTables.EqDeleteDirName)
            .map(dir.resolve)
            .filter(Files.isDirectory(_))
            .flatMap { delDir =>
              // RECURSIVE: delete files land partition-scoped under
              // `_gmor_tdir=<dir>/` subdirectories
              val s = Files.walk(delDir)
              try s.iterator().asScala
                .filter(p => Files.isRegularFile(p) &&
                  !live(dir.relativize(p).toString))
                .toSeq
              finally s.close()
            }
          PartitionedWrite.filesUnderDirs(dir,
              PartitionedWrite.leafPartitionDirs(dir))
            .filterNot(rel => live(rel.toString))
            .map(dir.resolve(_)) ++ delOrphans ++
            Snapshots.orphanSegments(dir)
        }
      val stale = (siblings ++ tmps ++ orphans).filter(p =>
        Files.getLastModifiedTime(p).toMillis <= cutoff)
      val freed = stale.map(sizeOf).sum
      stale.foreach { p =>
        if (Files.isRegularFile(p)) PartitionedWrite.deleteWithCrc(p)
        else {
          val s = Files.walk(p)
          try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
          finally s.close()
        }
      }
      Seq(InternalRow(stale.size.toLong, freed))
    },
    // works on plain AND versioned tables (stats describe the CURRENT
    // data files; the scan treats unlisted files conservatively, so
    // staleness is safe)
    proc("analyze", Seq("tbl" -> StringType, "cols_csv" -> StringType),
      new StructType().add("files_analyzed", LongType),
      "compute per-file min/max skipping stats") { (dir, args) =>
      Seq(InternalRow(FileStats.analyze(SparkSession.active, dir,
        StateStore.currentDir(dir), csv(args.getUTF8String(1)))))
    },
    // equality-skipping complement of analyze: per-file Bloom bitsets
    // for point lookups on high-cardinality columns whose min/max
    // ranges span the domain ([[BloomIndex]]); same conservative
    // staleness rules (unlisted files never prune)
    proc("bloom_index", Seq("tbl" -> StringType, "cols_csv" -> StringType,
      "bits" -> IntegerType, "probes" -> IntegerType),
      new StructType().add("files_indexed", LongType),
      "build per-file Bloom equality-skipping index") { (dir, args) =>
      Seq(InternalRow(BloomIndex.build(SparkSession.active, dir,
        StateStore.currentDir(dir), csv(args.getUTF8String(1)),
        args.getInt(2), args.getInt(3))))
    })

  /** The Spark procedure of `p` against the catalog at `root`: resolve
    * `tbl`, run the body, clear cached plans (the body may have
    * replaced the table's files), report. */
  private def unbound(root: Path, p: Proc): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = p.name
      override def description(): String = p.description
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = p.name
        override def description(): String = p.description
        override def parameters(): Array[ProcedureParameter] =
          p.params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          // no parameter has a default, so NULL never means anything:
          // read as 0 it would roll back to v0 or skip vacuum's age guard
          p.params.indices.find(input.isNullAt).foreach { i =>
            throw new IllegalArgumentException(
              s"${p.name}: argument '${p.params(i)._1}' must not be NULL")
          }
          val dir = resolveTableDir(root, p.name, input.getUTF8String(0).toString)
          val out = p.body(dir, input).toArray
          SparkSession.active.catalog.clearCache()
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = p.schema
          }).iterator()
        }
      }
    }

  /** `db.table` → its existing table directory under the catalog
    * root. */
  private def resolveTableDir(root: Path, procName: String,
                              tbl: String): Path = {
    val dir = tbl.split('.') match {
      case Array(db, t) => root.resolve(db).resolve(s"$t.parquet")
      case _ => throw new IllegalArgumentException(
        s"$procName: tbl must be 'db.table', got '$tbl'")
    }
    if (!Files.isDirectory(dir))
      throw new IllegalArgumentException(s"$procName: no such table '$tbl'")
    dir
  }

  /** The versioned reader of `dir` in either layout, for the procedures
    * over snapshot history; a plain table has none. */
  private def versioned(procName: String, dir: Path): SnapshotReads =
    SnapshotReads.of(SparkSession.active, dir.toString).getOrElse(
      throw new IllegalArgumentException(
        s"$procName: '${dir.getParent.getFileName}." +
          s"${dir.getFileName.toString.stripSuffix(".parquet")}' is not a " +
          "versioned lake table (neither v=<n> snapshots nor a manifest log)"))

  private def csv(s: UTF8String): Seq[String] =
    s.toString.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** A table's CURRENT rows: the latest `v=<n>` of a flat store, the
    * table dir of a plain one. */
  private def currentRows(dir: Path): DataFrame =
    SparkSession.active.read.parquet(StateStore.currentDir(dir).toString)

  /** `df` with the hidden bucket column derived when the spec has a
    * bucket field and the read did not already carry it. */
  private def withBucketId(df: DataFrame,
                           spec: Seq[PartitionSpec.Field]): DataFrame =
    spec.collectFirst { case b: PartitionSpec.Bucket => b }
      .filterNot(_ => df.columns.contains(PartitionSpec.BucketDir))
      .fold(df)(b => df.withColumn(PartitionSpec.BucketDir, b.idOf(col(b.col))))

  /** compact's layout step: `target` files per partition, restoring the
    * declared write clustering ([[WriteOrder]]; the sidecar speaks
    * logical names, the rows are physical under rename evolution). */
  private def compactLayout(dir: Path, target: Int)(
      rows: DataFrame, dirCols: Seq[String]): DataFrame = {
    val ren = Evolutions.renames(dir)
    val order = WriteOrder.read(dir).map(c => ren.getOrElse(c, c))
      .filter(rows.columns.contains)
    val rep = rows.repartition(target, dirCols.map(col): _*)
    if (order.isEmpty) rep
    else rep.sortWithinPartitions((dirCols ++ order).map(col): _*)
  }

  /** Rewrite snapshot `s` of a manifest-versioned partitioned table as
    * a NEW snapshot (history intact until expire_snapshots — the Iceberg
    * rewrite_data_files model); `layout` orders the rows per partition
    * before the partitioned write. Returns the new version.
    *
    * The rewrite embeds the LIVE rows with pending merge-on-read deletes
    * applied, and the commit drops the delete files (the rewrite
    * replaces the data files, so stale coordinates would resurrect
    * rows). PRIMARY-KEY tables rewrite KEY-AWARE, embedding the RESOLVED
    * rows (latest per key, equality deletes applied): a key-blind
    * rewrite would restamp every version at ONE sequence and equal-seq
    * ties would then pick wrong winners. */
  private def rewriteSnapshot(op: Snapshots.Op, dir: Path,
      s: Snapshots.Snapshot)(
      layout: (DataFrame, Seq[String]) => DataFrame): Long = {
    val spark = SparkSession.active
    val spec = PartitionSpec.read(dir)
    val dirCols = PartitionSpec.dirCols(spec)
    val pkOpt = PkTables.read(dir)
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".__rewrite-" +
      java.util.UUID.randomUUID().toString.take(8))
    PartitionedWrite.deleteRecursive(tmp)
    // the one resolved read — the rows SQL returns for `s`: per-spec-
    // shape union with the EXPLICIT declared schema (inference-typed
    // dir values could coerce across the union and rewrite data)
    val rows = MorDeletes.resolvedRows(spark, MorDeletes.ReadScope.of(dir, s))
    layout(withBucketId(rows, spec), dirCols)
      .write.partitionBy(dirCols: _*).parquet(tmp.toString)
    val staged = PartitionedWrite.mergeIntoReturning(tmp, dir)
    // Optimistic commit. Plain tables keep snapshot isolation:
    // concurrent appends stay live beside the rewrite, and concurrent
    // removal of a rewritten input conflicts (the output would
    // resurrect its rows). PK tables validate the FULL file set
    // unchanged: a concurrent append's newer key version (lower seq
    // than the rewrite) would be shadowed by the rewrite's copy of the
    // OLD version — a lost update; and a concurrent DELETE commits ONLY
    // an eq-delete file, which passes both checks, so the re-stamped
    // rewrite would neuter it (lost delete) without the third.
    val validate: Seq[String] => Unit =
      if (pkOpt.isDefined) cur => {
        Snapshots.validateRewrite(op.name, s.files, s.files)(cur)
        PkTables.validateNoNewData(op.name, s.files)(cur)
        PkTables.validateNoFreshEqDeletes(op.name, s.files)(cur)
      }
      else Snapshots.validateRewrite(op.name, s.files, s.files)
    val v = Snapshots.commit(dir, op,
      // s.files includes any delete files (both kinds): the diff drops
      // them (their rows are gone from the rewritten output)
      cur => cur.diff(s.files) ++ staged,
      validate,
      freshStats = Snapshots.freshStatsFor(spark, dir, staged))
    // the rewritten files are provably one-version-per-key: record their
    // birth sequence so reads skip the dedup aggregate (a crash before
    // this only loses the optimization, never correctness)
    if (pkOpt.isDefined)
      Snapshots.read(dir, v).foreach(ns => PkTables.addMarker(dir, ns.files))
    v
  }

  /** The delete files a minor delete compaction rewrites: groups that
    * actually shrink (≥2 files per target dir) plus every unscoped
    * file (re-scoping is a win). */
  private def mergeableDeleteFiles(dels: Seq[String]): Seq[String] =
    dels.groupBy(f => MorDeletes.targetDirOf(f).map(_.toString)).collect {
      case (None, fs) => fs
      case (Some(_), fs) if fs.size >= 2 => fs
    }.flatten.toSeq

  /** The effective tag pins of a table dir: chain-carried for
    * manifest tables ([[Snapshots.effectivePins]], legacy sidecar
    * included), sidecar-file for flat stores. */
  private[catalog] def pinsOf(dir: Path): Map[String, Long] =
    if (Snapshots.isVersioned(dir)) Snapshots.effectivePins(dir)
    else Tags.read(dir)

  /** Guard for procedures that only exist on the manifest log
    * (branches, delete-file rewrites); a plain table fails as
    * unversioned first. */
  private def requireManifest(procName: String, dir: Path): Unit = {
    versioned(procName, dir)
    if (!Snapshots.isVersioned(dir))
      throw new UnsupportedOperationException(
        s"$procName: needs the manifest snapshot log (CREATE ... " +
          "TBLPROPERTIES ('versioned'='true'), or CALL migrate)")
  }

  /** Shared guard of the partition-spec-evolution procedures
    * (add/drop/replace): a partitioned MANIFEST table; returns the
    * current spec. */
  private def requireSpecEvolvable(procName: String,
                                   dir: Path): Seq[PartitionSpec.Field] = {
    val spec = PartitionSpec.read(dir)
    if (spec.isEmpty) throw new UnsupportedOperationException(
      s"$procName: not a partitioned lake table")
    if (!Snapshots.isVersioned(dir))
      throw new UnsupportedOperationException(
        s"$procName: partition-spec evolution needs the manifest " +
          "snapshot log (CREATE ... TBLPROPERTIES " +
          "('versioned'='true')) — the plain layout cannot mix " +
          "directory shapes")
    spec
  }

  /** Shared validation of a NEW identity partition column: not
    * already in the spec, outside the snapshot/sidecar namespace, not
    * rename-evolved, declared, directory-round-trippable type.
    * Returns the schema field (exact-case name). */
  private def validateNewIdentityCol(
      procName: String, dir: Path, spec: Seq[PartitionSpec.Field],
      colName: String): org.apache.spark.sql.types.StructField = {
    if (spec.exists(_.col.equalsIgnoreCase(colName)))
      throw new IllegalArgumentException(
        s"$procName: '$colName' is already in the partition spec")
    if (colName == "v" || colName.startsWith("_"))
      throw new IllegalArgumentException(
        s"$procName: '$colName' collides with the snapshot/sidecar " +
          "namespace")
    // a rename-evolved column's DIRECTORY name would be the logical
    // name while the index schema speaks the physical one — the scan
    // could never resolve it
    if (Evolutions.renames(dir).keys.exists(_.equalsIgnoreCase(colName)))
      throw new UnsupportedOperationException(
        s"$procName: '$colName' is rename-evolved (its files carry a " +
          "different physical name) — partition directory names bind " +
          "to physical columns; compact/recreate before promoting it")
    val schema = Evolutions.requireDeclaredSchema(dir)
    val field = schema.fields.find(_.name.equalsIgnoreCase(colName))
      .getOrElse(throw new IllegalArgumentException(
        s"$procName: no such column '$colName'"))
    field.dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.BooleanType => ()
      case dt => throw new UnsupportedOperationException(
        s"$procName: type ${dt.simpleString} does not round-trip " +
          "exactly through directory values (string, integral, date, " +
          "boolean only)")
    }
    field
  }

  /** Shared validation of an EXISTING spec field being dropped or
    * replaced: present, and not the load-bearing bucket. */
  private def validateDroppableField(
      procName: String, spec: Seq[PartitionSpec.Field],
      colName: String): PartitionSpec.Field = {
    val field = spec.find(_.col.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"$procName: '$colName' is not in the partition spec " +
          s"(${spec.map(_.col).mkString(",")})"))
    if (field.isInstanceOf[PartitionSpec.Bucket])
      throw new UnsupportedOperationException(
        s"$procName: the bucket distribution is load-bearing for the " +
          "layout (bucketed joins, bucket pruning, storage-partitioned " +
          "joins) — recreate the table to change it")
    field
  }

  /** The snapshot-audit report surface — ONE schema + row builder for
    * both `CALL system.snapshots` and the `db.t.snapshots` metadata
    * table ([[MetadataTables]]). */
  private[catalog] val SnapshotAuditSchema: StructType = new StructType()
    .add("version", LongType).add("commit_ms", LongType)
    .add("parent", LongType).add("operation", StringType)
    .add("added_files", LongType).add("removed_files", LongType)
    .add("total_files", LongType)

  private[catalog] def snapshotAuditRows(dir: Path,
                                         log: SnapshotReads): Seq[InternalRow] =
    log.versions.map { v =>
      // meta-only read: audit columns come from the manifest list
      // itself (summary carries the file counts) — O(versions) small
      // JSON parses, zero segment resolution
      val s = if (Snapshots.isVersioned(dir)) Snapshots.readMeta(dir, v) else None
      InternalRow(v, log.commitMs(v).getOrElse(-1L),
        log.parentOf(v).map(Long.box).orNull,
        s.filter(_.operation.nonEmpty)
          .map(x => UTF8String.fromString(x.operation)).orNull,
        s.flatMap(_.summary.get("added-data-files")).map(Long.box).orNull,
        s.flatMap(_.summary.get("removed-data-files")).map(Long.box).orNull,
        s.flatMap(_.summary.get("total-data-files")).map(Long.box).orNull)
    }

  /** [[snapshotAuditRows]] resolving the log itself (empty for plain
    * tables) — the metadata-table entry point. */
  private[catalog] def snapshotAuditRowsOf(dir: Path): Seq[InternalRow] =
    SnapshotReads.of(SparkSession.active, dir.toString)
      .map(snapshotAuditRows(dir, _)).getOrElse(Seq.empty)

}

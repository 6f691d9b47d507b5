package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.{SnapshotReads, StateStore}

/** SQL stored procedures for lake maintenance — the `CALL
  * cat.system.<proc>(…)` surface a Paimon/Iceberg user drives
  * compaction and snapshot lifecycle with (Iceberg's
  * `CALL system.expire_snapshots`, Paimon's compact action; the
  * reference's lake tier exposes exactly this kind of table
  * maintenance through its tiering service, `deploy:318-358`).
  *
  * Spark-first shape: Spark 4's `ProcedureCatalog` API — the parser,
  * argument binding (positional and named, with defaults), and result
  * display are all Spark's; each procedure here is a thin binding from
  * the bound argument row to the engine's existing
  * [[graft.streaming.SnapshotReads]] maintenance operations, returning
  * its report rows through a driver-local [[LocalScan]] (maintenance
  * reports are O(versions) — never data-sized).
  *
  * Procedures (namespace `system`):
  *  - `snapshots(tbl)` — the history report: one row per retained
  *    snapshot with its commit stamp.
  *  - `expire_snapshots(tbl, keep)` — drop all but the newest `keep`.
  *  - `compact(tbl, target_files)` — rewrite the latest snapshot into
  *    `target_files` files as a NEW snapshot (small-files compaction;
  *    history intact).
  *  - `purge_keys(tbl, key_col, keys_csv)` — the compliance delete:
  *    remove the keys from EVERY retained snapshot, deliberately
  *    piercing time travel ([[graft.streaming.StateStore.purgeKeys]]).
  *
  * `tbl` is `db.table` relative to the catalog root. The snapshot
  * lifecycle runs over either versioned layout through
  * [[graft.streaming.SnapshotReads]] (`purge_keys` over the flat
  * `v=<n>` store only); plain tables get the row-level SQL surface
  * (DELETE/UPDATE/MERGE) instead. */
private[catalog] object LakeProcedures {

  val Namespace = "system"

  def list(): Array[String] =
    Array("snapshots", "expire_snapshots", "compact", "purge_keys",
      "analyze", "bloom_index", "dedupe", "zorder", "vacuum", "rollback",
      "tag", "drop_tag", "tags", "add_partition_field",
      "drop_partition_field", "replace_partition_field", "migrate",
      "branch", "fast_forward", "drop_branch", "branches", "expire_age",
      "rewrite_position_delete_files", "cherry_pick", "expire_branch",
      "rewrite_eqdelete_files")

  def load(root: Path, ident: Identifier): Option[UnboundProcedure] = {
    if (ident.namespace().toSeq != Seq(Namespace)) None
    else ident.name() match {
      case "snapshots" =>
        // manifest logs expose the full audit surface (parent chain,
        // operation, file-count summary — the Iceberg .snapshots
        // columns); flat v=<n> stores report version/commit/parent.
        // Shares [[snapshotAuditRows]] with the `db.t.snapshots`
        // metadata table so the two surfaces can never diverge.
        Some(proc(root, "snapshots", Seq("tbl" -> StringType),
          SnapshotAuditSchema) { (dir, log, _) =>
          snapshotAuditRows(dir, log)
        })
      case "rollback" =>
        // Iceberg-style NON-destructive rollback: re-commit snapshot
        // <version>'s rows as latest+1 — the bad commits stay readable
        // (VERSION AS OF still time-travels into them until
        // expire_snapshots), the table's CURRENT content reverts, and
        // a crash mid-rollback leaves the store untouched because the
        // rewrite lands only under the new version directory.
        Some(proc(root, "rollback",
          Seq("tbl" -> StringType, "version" -> LongType),
          new StructType().add("new_version", LongType)) { (_, log, args) =>
          Seq(InternalRow(log.rollbackTo(args.getLong(1))))
        })
      // Snapshot tags (Iceberg refs): a named pointer into history.
      // `tag` creates (errors on an existing name — retag = drop+tag),
      // `drop_tag` removes, `tags` lists. A tag makes its snapshot
      // addressable as `VERSION AS OF '<name>'` AND pins it against
      // expire_snapshots — the retention contract for reproducibility.
      case "tag" =>
        Some(proc(root, "tag",
          Seq("tbl" -> StringType, "name" -> StringType,
            "version" -> LongType),
          new StructType().add("version", LongType)) { (dir, log, args) =>
          val name = args.getUTF8String(1).toString
          val v = args.getLong(2)
          if (name.toLongOption.isDefined) throw new IllegalArgumentException(
            s"tag: '$name' parses as a number — the numeric namespace " +
              "belongs to raw snapshot ids")
          if (!log.versions.contains(v)) throw new IllegalArgumentException(
            s"tag: no snapshot v=$v (have ${log.versions.mkString(",")})")
          if (Snapshots.isVersioned(dir))
            // manifest tables: tag creation IS an OCC commit — the
            // refreshed chain re-validates the target per attempt, so
            // a racing expire either linearizes before (tag conflicts)
            // or after (its pin read sees this commit's ref state):
            // no sidecar-file window at all (r13)
            Snapshots.commitTag(dir, name, v)
          else
            // flat stores: per-file atomic create (no manifest chain
            // to race — their expire is the single-writer store op)
            if (!Tags.create(dir, name, v)) throw new IllegalArgumentException(
              s"tag: '$name' already points at " +
                s"v=${Tags.read(dir).getOrElse(name, -1L)} — drop_tag first")
          Seq(InternalRow(v))
        })
      case "drop_tag" =>
        Some(proc(root, "drop_tag",
          Seq("tbl" -> StringType, "name" -> StringType),
          new StructType().add("dropped_version", LongType)) { (dir, _, args) =>
          val name = args.getUTF8String(1).toString
          val dropped =
            if (Snapshots.isVersioned(dir)) Snapshots.commitDropTag(dir, name)
            else Tags.drop(dir, name)
          val v = dropped.getOrElse(
            throw new IllegalArgumentException(
              s"drop_tag: no tag '$name' (tags: " +
                s"${pinsOf(dir).keys.toSeq.sorted.mkString(",")})"))
          Seq(InternalRow(v))
        })
      case "tags" =>
        Some(proc(root, "tags", Seq("tbl" -> StringType),
          new StructType().add("name", StringType).add("version", LongType)) {
          (dir, _, _) =>
            pinsOf(dir).toSeq.sortBy(_._1).map { case (n, v) =>
              InternalRow(UTF8String.fromString(n), v)
            }
        })
      case "add_partition_field" =>
        // Iceberg's ADD PARTITION FIELD — partition-spec evolution as
        // pure metadata: the sidecar gains a trailing identity field,
        // NEW writes nest under the new `col=value` level, and files
        // written under the OLD spec stay readable in place (they
        // carry the column in their bytes; scans union per shape, and
        // CALL compact migrates everything to the current layout).
        // Manifest-versioned tables only: the plain layout reads
        // through one native root scan, which cannot mix shapes.
        Some(new UnboundProcedure {
          override def name(): String = "add_partition_field"
          override def description(): String =
            "graft lake maintenance: evolve the partition spec with a new identity field"
          override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
            override def name(): String = "add_partition_field"
            override def description(): String =
              "graft lake maintenance: evolve the partition spec with a new identity field"
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("col", StringType).build())
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): java.util.Iterator[Scan] = {
              val tableDir = resolveTableDir(root, "add_partition_field",
                input.getUTF8String(0).toString)
              val colName = input.getUTF8String(1).toString
              val spec = requireSpecEvolvable("add_partition_field", tableDir)
              val field = validateNewIdentityCol("add_partition_field",
                tableDir, spec, colName)
              PartitionSpec.write(tableDir,
                spec :+ PartitionSpec.Identity(field.name))
              SparkSession.active.catalog.clearCache()
              java.util.List.of[Scan](new LocalScan {
                override def rows(): Array[InternalRow] = Array(InternalRow(
                  UTF8String.fromString((spec.map(_.col) :+ field.name)
                    .mkString(","))))
                override def readSchema(): StructType =
                  new StructType().add("partition_spec", StringType)
              }).iterator()
            }
          }
        })
      case "drop_partition_field" =>
        // Iceberg's DROP PARTITION FIELD — the coarsening move for an
        // over-partitioned table (the most common spec mistake), pure
        // metadata like ADD: the sidecar loses the identity field, NEW
        // writes stop nesting under its `col=value` level (the column
        // moves into file bytes — the writer excludes only CURRENT
        // identity columns), and files written under the OLD spec stay
        // readable in place (their directory names still carry the
        // value; scans union per shape; CALL compact migrates).
        Some(proc(root, "drop_partition_field",
          Seq("tbl" -> StringType, "col" -> StringType),
          new StructType().add("partition_spec", StringType)) { (dir, _, args) =>
          val colName = args.getUTF8String(1).toString
          val spec = requireSpecEvolvable("drop_partition_field", dir)
          val field = validateDroppableField("drop_partition_field",
            spec, colName)
          val remaining = spec.filterNot(_ eq field)
          if (remaining.isEmpty) throw new UnsupportedOperationException(
            "drop_partition_field: dropping the last partition field " +
              "would leave an unpartitioned layout — recreate the table " +
              "instead")
          PartitionSpec.write(dir, remaining)
          Seq(InternalRow(
            UTF8String.fromString(remaining.map(_.col).mkString(","))))
        })
      case "replace_partition_field" =>
        // drop + add in ONE metadata operation (Iceberg's REPLACE
        // PARTITION FIELD): re-key the layout level — e.g. day →
        // region — without the intermediate single-field state two
        // separate calls would expose to concurrent readers. Same
        // rules as the two constituent operations.
        Some(proc(root, "replace_partition_field",
          Seq("tbl" -> StringType, "old" -> StringType, "new" -> StringType),
          new StructType().add("partition_spec", StringType)) { (dir, _, args) =>
          val oldCol = args.getUTF8String(1).toString
          val newCol = args.getUTF8String(2).toString
          val spec = requireSpecEvolvable("replace_partition_field", dir)
          val field = validateDroppableField("replace_partition_field",
            spec, oldCol)
          val nf = validateNewIdentityCol("replace_partition_field",
            dir, spec, newCol)
          val next = spec.filterNot(_ eq field) :+
            PartitionSpec.Identity(nf.name)
          PartitionSpec.write(dir, next)
          Seq(InternalRow(
            UTF8String.fromString(next.map(_.col).mkString(","))))
        })
      case "migrate" =>
        // Iceberg's `migrate` — upgrade a PLAIN partitioned lake table
        // to manifest versioning IN PLACE: the current data files (in
        // their existing `col=value` / `_gbucket` homes, untouched)
        // become the initial snapshot, and every feature the manifest
        // log carries — time travel, tags, rollback, expire-with-GC,
        // change feed, spec evolution, commit-atomic stats, optimistic
        // multi-writer commits — turns on from that commit forward.
        Some(new UnboundProcedure {
          override def name(): String = "migrate"
          override def description(): String =
            "graft lake maintenance: upgrade a plain partitioned table to manifest versioning in place"
          override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
            override def name(): String = "migrate"
            override def description(): String =
              "graft lake maintenance: upgrade a plain partitioned table to manifest versioning in place"
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build())
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): java.util.Iterator[Scan] = {
              val tableDir = resolveTableDir(root, "migrate",
                input.getUTF8String(0).toString)
              if (Snapshots.isVersioned(tableDir))
                throw new IllegalArgumentException(
                  "migrate: already a manifest-versioned table")
              if (StateStore.versionsOf(tableDir).nonEmpty)
                throw new UnsupportedOperationException(
                  "migrate: this is a flat v=<n> snapshot store — it is " +
                    "already versioned under its own layout")
              if (PartitionSpec.read(tableDir).isEmpty)
                throw new UnsupportedOperationException(
                  "migrate: manifest versioning composes with the " +
                    "PARTITIONED layout only (flat tables version " +
                    "through the v=<n> store)")
              // NOTE (the Iceberg migrate caveat): plain-layout writes
              // racing this listing→commit window land files no
              // manifest references — quiesce writers during
              // migration. The catch-up sweep below folds stragglers
              // from the window into follow-up commits; it cannot
              // catch a write that STARTS after the last sweep.
              def listAll(): Seq[String] =
                PartitionedWrite.filesUnderDirs(tableDir,
                  PartitionedWrite.leafPartitionDirs(tableDir))
                  .map(_.toString)
              val files = listAll()
              // atomic flip: the whole initial log (segment + s-0)
              // builds in a temp dir and renames into place — a
              // racing reader sees plain or fully-versioned, never a
              // manifest-less snapshot dir (which reads as EMPTY)
              val v = Snapshots.migrateInit(tableDir, files)
              var sweeps = 0
              while (sweeps < 3 && {
                val stragglers =
                  listAll().diff(Snapshots.latest(tableDir).get.files)
                if (stragglers.nonEmpty)
                  Snapshots.commit(tableDir, "migrate",
                    cur => cur ++ stragglers)
                stragglers.nonEmpty
              }) sweeps += 1
              SparkSession.active.catalog.clearCache()
              java.util.List.of[Scan](new LocalScan {
                override def rows(): Array[InternalRow] =
                  Array(InternalRow(v, files.size.toLong))
                override def readSchema(): StructType = new StructType()
                  .add("snapshot_version", LongType)
                  .add("n_files", LongType)
              }).iterator()
            }
          }
        })
      // Writable branches (Iceberg refs) — the write-audit-publish
      // loop: `branch` forks the snapshot chain (segment refs only,
      // never a data copy), `SET 'graft.write.branch'='<name>'` routes
      // the session's table writes AND current reads to it (stage,
      // then audit — `VERSION AS OF '<name>'` audits without the
      // conf), `fast_forward` publishes the branch head onto main
      // through the OCC commit (conflicts when main advanced past the
      // fork), `drop_branch` abandons the staging (its files become
      // vacuum's age-guarded orphans). Tags stay read-only pins.
      case "branch" =>
        Some(proc(root, "branch",
          Seq("tbl" -> StringType, "name" -> StringType),
          new StructType().add("forked_from_version", LongType)) { (dir, _, args) =>
          requireManifest("branch", dir)
          Seq(InternalRow(
            Snapshots.createBranch(dir, args.getUTF8String(1).toString)))
        })
      case "fast_forward" =>
        Some(proc(root, "fast_forward",
          Seq("tbl" -> StringType, "name" -> StringType),
          new StructType().add("new_version", LongType)) { (dir, _, args) =>
          requireManifest("fast_forward", dir)
          Seq(InternalRow(
            Snapshots.fastForward(dir, args.getUTF8String(1).toString)))
        })
      case "cherry_pick" =>
        // publish ONE staged branch commit onto main (Iceberg's
        // cherrypick_snapshot) — the selective WAP publish next to
        // fast_forward's all-or-nothing ([[Snapshots.cherryPick]])
        Some(proc(root, "cherry_pick",
          Seq("tbl" -> StringType, "name" -> StringType,
            "version" -> LongType),
          new StructType().add("new_version", LongType)) { (dir, _, args) =>
          requireManifest("cherry_pick", dir)
          Seq(InternalRow(Snapshots.cherryPick(dir,
            args.getUTF8String(1).toString, args.getLong(2))))
        })
      case "drop_branch" =>
        Some(proc(root, "drop_branch",
          Seq("tbl" -> StringType, "name" -> StringType),
          new StructType().add("dropped", org.apache.spark.sql.types.BooleanType)) {
          (dir, _, args) =>
            requireManifest("drop_branch", dir)
            val name = args.getUTF8String(1).toString
            if (!Snapshots.dropBranch(dir, name))
              throw new IllegalArgumentException(
                s"drop_branch: no branch '$name' (branches: " +
                  s"${Snapshots.branches(dir).mkString(",")})")
            Seq(InternalRow(true))
        })
      case "branches" =>
        Some(proc(root, "branches", Seq("tbl" -> StringType),
          new StructType().add("name", StringType)
            .add("head_version", LongType)
            .add("forked_from_version", LongType)) { (dir, _, _) =>
          requireManifest("branches", dir)
          Snapshots.branches(dir).map { b =>
            InternalRow(UTF8String.fromString(b),
              Snapshots.branchVersions(dir, b).lastOption.map(Long.box).orNull,
              Snapshots.branchFork(dir, b).map(Long.box).orNull)
          }
        })
      case "expire_snapshots" =>
        Some(proc(root, "expire_snapshots",
          Seq("tbl" -> StringType, "keep" -> IntegerType),
          new StructType().add("retained_versions", LongType)) { (dir, log, args) =>
          // tagged snapshots are pinned (the Iceberg retention rule)
          log.expire(args.getInt(1), Tags.read(dir).values.toSet)
          Seq(InternalRow(log.versions.size.toLong))
        })
      case "expire_branch" =>
        // BRANCH-scoped retention (r15 — the half expire_snapshots
        // never covered: long-lived audit branches kept unbounded
        // manifest history; drop_branch orphaned it wholesale): keep
        // the `keep` newest data commits of the branch plus b-0 (the
        // fork marker fast_forward validates against); dropped branch
        // manifests delete and files/segments no retained manifest —
        // main OR any branch — references GC
        Some(proc(root, "expire_branch",
          Seq("tbl" -> StringType, "branch" -> StringType,
            "keep" -> IntegerType),
          new StructType().add("dropped_versions", LongType)) {
          (dir, _, args) =>
          requireManifest("expire_branch", dir)
          val dropped = Snapshots.commitExpireBranch(dir,
            args.getUTF8String(1).toString, args.getInt(2))
          Seq(InternalRow(dropped.size.toLong))
        })
      case "expire_age" =>
        // AGE-based retention (Iceberg's `expire_snapshots(older_than,
        // retain_last)`): drop data snapshots committed more than
        // `older_than_ms` ago, always keeping the `keep_last` newest
        // data commits and every pinned snapshot — the calendar
        // retention policy ("keep 7 days of history") next to the
        // count form's fixed window
        Some(proc(root, "expire_age",
          Seq("tbl" -> StringType, "older_than_ms" -> LongType,
            "keep_last" -> IntegerType),
          new StructType().add("dropped_versions", LongType)) { (dir, _, args) =>
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
        })
      case "rewrite_position_delete_files" =>
        // MINOR delete compaction (Iceberg's
        // `rewrite_position_delete_files`): K successive merge-on-read
        // DELETEs/UPDATEs leave K coordinate files per touched
        // partition, each read anti-joining all of them until a FULL
        // `CALL compact` rewrites the data — at 100 TB with daily
        // curation deletes, read amplification grows linearly between
        // major compactions. This procedure merges each target
        // partition's delete files into ONE (deduped, (file, pos)-
        // sorted), CONTENT-NEUTRAL: data files untouched, live rows
        // identical, commit is metadata + tiny coordinate parquet.
        // Unscoped legacy files get re-scoped to their coordinates'
        // actual partitions (the coordinate key's parent) on the way.
        Some(proc(root, "rewrite_position_delete_files",
          Seq("tbl" -> StringType),
          new StructType().add("rewritten_files", LongType)
            .add("new_files", LongType).add("new_version", LongType)) {
          (dir, _, _) =>
          requireManifest("rewrite_position_delete_files", dir)
          val spark = SparkSession.active
          val s = Snapshots.latest(dir).getOrElse(
            throw new IllegalArgumentException(
              "rewrite_position_delete_files: empty manifest log"))
          val dels = Snapshots.deleteFiles(s.files)
          // rewrite groups that actually shrink (≥2 files per target
          // dir) plus every unscoped file (re-scoping is a win)
          val byDir = dels.groupBy(f =>
            MorDeletes.targetDirOf(f).map(_.toString))
          val rewrite = byDir.collect {
            case (None, fs) => fs
            case (Some(_), fs) if fs.size >= 2 => fs
          }.flatten.toSeq
          if (rewrite.isEmpty)
            Seq(InternalRow(0L, 0L, s.version))
          else {
            import org.apache.spark.sql.functions.col
            val coords = MorDeletes.readDeletes(spark, dir, rewrite,
                hasRootData = Snapshots.dataFiles(s.files)
                  .exists(!_.contains('/')))
              .distinct()
            val hits = coords.select(
              col(MorDeletes.FileKeyCol), col(MorDeletes.PosKeyCol),
              MorDeletes.parentDirExpr(col(MorDeletes.FileKeyCol))
                .as(MorDeletes.TargetDirCol))
            val fresh = MorDeletes.writeDeleteFiles(spark, dir, hits)
            // maintenance commit, pinned to main (like compact):
            // the inputs must still be referenced — a concurrent
            // major compact already materialized them, and merging
            // this rewrite would re-introduce dropped coordinates
            val v = Snapshots.commit(dir, "rewrite-deletes",
              cur => cur.diff(rewrite) ++ fresh,
              Snapshots.validateFilesLive(
                "rewrite_position_delete_files", rewrite),
              freshStats = MorDeletes.deleteFileRowStats(dir, fresh))
            Seq(InternalRow(rewrite.size.toLong, fresh.size.toLong, v))
          }
        })
      case "rewrite_eqdelete_files" =>
        // MINOR equality-delete compaction (r15 — the eq-delete twin
        // of rewrite_position_delete_files): K blind/predicate deletes
        // leave K key files per touched bucket, each read scanning all
        // of them until a full key-aware compact. Merge each target
        // partition's files into ONE, keeping per key only the MAX
        // sequence (a delete at seq s kills everything below s, so the
        // max per key dominates) — but persisting that sequence
        // PER ROW ([[PkTables.readEqDeletes]] reads it back), because
        // the merged file's own birth sequence would wrongly extend
        // old deletes past the inserts that revived their keys.
        // CONTENT-NEUTRAL: data files untouched, resolved rows
        // identical.
        Some(proc(root, "rewrite_eqdelete_files",
          Seq("tbl" -> StringType),
          new StructType().add("rewritten_files", LongType)
            .add("new_files", LongType).add("new_version", LongType)) {
          (dir, _, _) =>
          requireManifest("rewrite_eqdelete_files", dir)
          val spark = SparkSession.active
          val pk = PkTables.read(dir).getOrElse(
            throw new IllegalArgumentException(
              "rewrite_eqdelete_files: not a PRIMARY-KEY table " +
                "(equality deletes only exist there)"))
          val s = Snapshots.latest(dir).getOrElse(
            throw new IllegalArgumentException(
              "rewrite_eqdelete_files: empty manifest log"))
          val eqDels = PkTables.eqDeleteFiles(s.files)
          val byDir = eqDels.groupBy(f =>
            MorDeletes.targetDirOf(f).map(_.toString))
          val rewrite = byDir.collect {
            case (None, fs) => fs
            case (Some(_), fs) if fs.size >= 2 => fs
          }.flatten.toSeq
          if (rewrite.isEmpty)
            Seq(InternalRow(0L, 0L, s.version))
          else {
            import org.apache.spark.sql.functions.col
            val keySchema = PkTables.keyFileSchema(dir, pk.keys)
            val bc = PkTables.seqBroadcastFor(spark, dir, s.seqs)
            val delField = PkTables.delFieldOf(dir, pk)
            val all = PkTables.readEqDeletes(spark, dir, rewrite,
              keySchema, bc, delField)
            // the shared kill-law NORMAL FORM ([[PkTables
            // .canonicalEqDeletes]]): ≤2 rows per key, one per delete
            // family — blind max commit seq, field lex-max (field, seq)
            // pair. Every reader reduces to the same form, so the
            // merge is content-neutral by construction.
            val merged = PkTables.canonicalEqDeletes(all,
              keySchema.fieldNames.toSeq, delField.map(_.dataType))
            // re-scope by the key's own partition dirs (same
            // expressions as the writers) and persist
            val spec = PartitionSpec.read(dir)
            val renames = Evolutions.renames(dir)
            // each segment hive-escaped exactly like the writers
            // (PkDeltaWriterFactory / pkTargetDir): a raw concat would
            // diverge for key values containing '%', '/', '=', … and
            // the merged file's scope would prune away on point
            // lookups — resurrecting deleted keys
            val tdir = spec.map {
              case PartitionSpec.Identity(c) =>
                MorDeletes.hiveSegment(c,
                  col(renames.getOrElse(c, c)).cast("string"))
              case PartitionSpec.Bucket(c, n) =>
                MorDeletes.hiveSegment(PartitionSpec.BucketDir,
                  org.apache.spark.sql.functions.pmod(
                    org.apache.spark.sql.functions.hash(
                      col(renames.getOrElse(c, c))),
                    org.apache.spark.sql.functions.lit(n)).cast("string"))
            }.reduceOption((a, b) =>
              org.apache.spark.sql.functions.concat_ws("/", a, b))
              .getOrElse(org.apache.spark.sql.functions.lit(""))
            val fresh = PkTables.writeEqDeleteFiles(spark, dir,
              merged.withColumn(MorDeletes.TargetDirCol, tdir))
            val v = Snapshots.commit(dir, "rewrite-eqdeletes",
              cur => cur.diff(rewrite) ++ fresh,
              Snapshots.validateFilesLive(
                "rewrite_eqdelete_files", rewrite),
              freshStats = MorDeletes.deleteFileRowStats(dir, fresh))
            Seq(InternalRow(rewrite.size.toLong, fresh.size.toLong, v))
          }
        })
      case "compact" =>
        // works on BOTH layouts: versioned tables re-commit the latest
        // snapshot coalesced (history intact, new_version returned);
        // plain tables rewrite in place through the shared staged-swap
        // (small-files compaction; new_version NULL)
        Some(new UnboundProcedure {
          override def name(): String = "compact"
          override def description(): String =
            "graft lake maintenance: small-files compaction"
          override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
            override def name(): String = "compact"
            override def description(): String =
              "graft lake maintenance: small-files compaction"
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("target_files", IntegerType).build())
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): java.util.Iterator[Scan] = {
              val tableDir = resolveTableDir(root, "compact",
                input.getUTF8String(0).toString)
              val target = input.getInt(1)
              val spark = SparkSession.active
              val pspec = PartitionSpec.read(tableDir)
              val result =
                if (StateStore.versionsOf(tableDir).nonEmpty) {
                  val store = new StateStore(spark, tableDir.toString)
                  store.compact(target)
                  InternalRow(store.latestVersion.getOrElse(-1L))
                } else if (pspec.nonEmpty) {
                  // PARTITION-PRESERVING compaction: rebuild the hive
                  // layout in the staging dir (`target` = files per
                  // partition via the repartition below; the hidden
                  // bucket column re-derives from the writer's hash) —
                  // a flat rewrite would destroy the `col=value` dirs
                  // and bake partition values into the data files.
                  // Manifest-versioned tables compact as a NEW SNAPSHOT
                  // (read the live files, commit the compacted file
                  // list; history intact — the Iceberg rewrite_data_
                  // files model); plain ones staged-swap in place.
                  val snap = Snapshots.latest(tableDir)
                  if (snap.exists(_.files.isEmpty))
                    // compacting an empty snapshot: nothing to rewrite
                    InternalRow(snap.get.version)
                  else {
                    val tmp = tableDir.resolveSibling(
                      tableDir.getFileName.toString + ".__rewrite" +
                        snap.fold("")(_ => "-" +
                          java.util.UUID.randomUUID().toString.take(8)))
                    PartitionedWrite.deleteRecursive(tmp)
                    val dirCols = PartitionSpec.dirCols(pspec)
                    val pkOpt = PkTables.read(tableDir)
                    val df = snap match {
                      case Some(s) =>
                        // the shared live-row read: per-spec-shape
                        // union with the EXPLICIT declared schema
                        // (inference-typed dir values could coerce
                        // across the union and rewrite data), pending
                        // merge-on-read deletes applied — compact is
                        // BOTH the spec migration tool and the delete
                        // MATERIALIZER: the rewrite embeds the live
                        // rows and the commit below drops the delete
                        // files, restoring SPJ / metadata-only
                        // aggregates / exact row counts. PRIMARY-KEY
                        // tables compact KEY-AWARE: the rewrite embeds
                        // the RESOLVED rows (latest per key, equality
                        // deletes applied) — a key-blind compact would
                        // restamp every version at ONE sequence and
                        // equal-seq ties would then pick wrong winners
                        pkOpt match {
                          case Some(pk) =>
                            PkTables.resolvedRows(spark, tableDir, s, pk)
                          case None =>
                            MorDeletes.liveRows(spark, tableDir, s.files)
                        }
                      case None => spark.read
                        .option("basePath", tableDir.toString)
                        .parquet(tableDir.toString)
                    }
                    val withBucket = pspec.collectFirst {
                      case b: PartitionSpec.Bucket => b
                    }.fold(df) { b =>
                      // re-derive if absent (reads include it already)
                      if (df.columns.contains(PartitionSpec.BucketDir)) df
                      else df.withColumn(PartitionSpec.BucketDir,
                        org.apache.spark.sql.functions.pmod(
                          org.apache.spark.sql.functions.hash(
                            org.apache.spark.sql.functions.col(b.col)),
                          org.apache.spark.sql.functions.lit(b.n)))
                    }
                    // compaction RESTORES the declared write
                    // clustering ([[WriteOrder]]) alongside the layout
                    // (sidecar speaks logical names; this read is
                    // physical under rename evolution)
                    val renC = Evolutions.renames(tableDir)
                    val order = WriteOrder.read(tableDir)
                      .map(c => renC.getOrElse(c, c))
                      .filter(withBucket.columns.contains)
                    val rep = withBucket.repartition(target,
                      dirCols.map(org.apache.spark.sql.functions.col): _*)
                    val clustered =
                      if (order.isEmpty) rep
                      else rep.sortWithinPartitions((dirCols ++ order)
                        .map(org.apache.spark.sql.functions.col): _*)
                    clustered
                      .write.partitionBy(dirCols: _*)
                      .parquet(tmp.toString)
                    snap match {
                      case Some(s) =>
                        // NEW SNAPSHOT: the compacted files ARE the
                        // next manifest; pre-compaction snapshots stay
                        // readable until expire_snapshots. Optimistic
                        // commit: concurrent appends stay live beside
                        // the compacted output; concurrent removal of
                        // a compacted input conflicts (the output
                        // would resurrect its rows)
                        val staged =
                          PartitionedWrite.mergeIntoReturning(tmp, tableDir)
                        // PK tables validate the FULL file set
                        // unchanged: a concurrent append's newer key
                        // version (lower seq than the compacted
                        // output) would be shadowed by compact's copy
                        // of the OLD version — a lost update; plain
                        // tables keep snapshot isolation (concurrent
                        // appends merge)
                        val validate: Seq[String] => Unit =
                          if (pkOpt.isDefined)
                            cur => {
                              Snapshots.validateRewrite("compact",
                                s.files, s.files)(cur)
                              PkTables.validateNoNewData("compact",
                                s.files)(cur)
                              PkTables.validateNoFreshEqDeletes("compact",
                                s.files)(cur)
                            }
                          else Snapshots.validateRewrite("compact",
                            s.files, s.files)
                        val v = Snapshots.commit(tableDir, "compact",
                          // s.files includes any delete files (both
                          // kinds): the diff drops them (their rows
                          // are gone from the compacted output)
                          cur => cur.diff(s.files) ++ staged,
                          validate,
                          freshStats = Snapshots.freshStatsFor(
                            spark, tableDir, staged))
                        // the compacted files are provably
                        // one-version-per-key: record their birth
                        // sequence so reads skip the dedup aggregate
                        // (a crash before this only loses the
                        // optimization, never correctness)
                        if (pkOpt.isDefined)
                          Snapshots.read(tableDir, v).foreach(ns =>
                            PkTables.addMarker(tableDir, ns.files))
                        InternalRow(v)
                      case None =>
                        DeletableTable.publishStagedRewrite(tableDir, tmp)
                        InternalRow(null)
                    }
                  }
                } else {
                  val tmp = tableDir.resolveSibling(
                    tableDir.getFileName.toString + ".__rewrite")
                  spark.read.parquet(tableDir.toString).coalesce(target)
                    .write.mode("overwrite").parquet(tmp.toString)
                  DeletableTable.publishStagedRewrite(tableDir, tmp)
                  InternalRow(null)
                }
              spark.catalog.clearCache()
              java.util.List.of[Scan](new LocalScan {
                override def rows(): Array[InternalRow] = Array(result)
                override def readSchema(): StructType =
                  new StructType().add("new_version", LongType)
              }).iterator()
            }
          }
        })
      case "dedupe" =>
        // row-level key dedup as a maintenance rewrite (the lakehouse
        // "deduplicate this table in place" op): per key group keep
        // the MIN row by the remaining columns' struct order — a
        // deterministic total-order pick, so reruns are idempotent and
        // any engine agrees on the survivor. Versioned tables commit a
        // new snapshot (history intact, time travel still reads the
        // duplicated past); plain tables go through the shared
        // staged-swap.
        Some(new UnboundProcedure {
          override def name(): String = "dedupe"
          override def description(): String =
            "graft lake maintenance: keep one row per key (min remaining-column order)"
          override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
            override def name(): String = "dedupe"
            override def description(): String =
              "graft lake maintenance: keep one row per key (min remaining-column order)"
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("keys_csv", StringType).build())
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): java.util.Iterator[Scan] = {
              val tableDir = resolveTableDir(root, "dedupe",
                input.getUTF8String(0).toString)
              // the dedupe rewrite is flat — running it on a hive
              // layout would silently destroy the partition dirs
              if (PartitionSpec.read(tableDir).nonEmpty)
                throw new UnsupportedOperationException(
                  s"dedupe: partitioned lake tables are not supported " +
                    "(the rewrite would flatten the partition layout); " +
                    "use partition-preserving DELETE/UPDATE or compact")
              val keys = input.getUTF8String(1).toString
                .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
              require(keys.nonEmpty, "dedupe: keys_csv must name at least one column")
              val spark = SparkSession.active
              import org.apache.spark.sql.functions.{col, min, struct}
              def dedupe(df: org.apache.spark.sql.DataFrame) = {
                val bad = keys.filterNot(df.columns.contains)
                require(bad.isEmpty, s"dedupe: no such key column(s) ${bad.mkString(",")}")
                val rest = df.columns.filterNot(keys.contains)
                if (rest.isEmpty) df.distinct()
                else df.groupBy(keys.map(col): _*)
                  .agg(min(struct(rest.map(col): _*)).as("__rest"))
                  .select(df.columns.map(c =>
                    if (keys.contains(c)) col(c) else col(s"__rest.$c").as(c)): _*)
              }
              val result =
                if (StateStore.versionsOf(tableDir).nonEmpty) {
                  val store = new StateStore(spark, tableDir.toString)
                  val cur = store.read().get
                  val before = cur.count()
                  val out = dedupe(cur).localCheckpoint(true)
                  store.writeNext(out)
                  InternalRow(before - out.count())
                } else {
                  val cur = spark.read.parquet(tableDir.toString)
                  val before = cur.count()
                  val out = dedupe(cur).localCheckpoint(true)
                  val removed = before - out.count()
                  val tmp = tableDir.resolveSibling(
                    tableDir.getFileName.toString + ".__rewrite")
                  out.write.mode("overwrite").parquet(tmp.toString)
                  DeletableTable.publishStagedRewrite(tableDir, tmp)
                  InternalRow(removed)
                }
              spark.catalog.clearCache()
              java.util.List.of[Scan](new LocalScan {
                override def rows(): Array[InternalRow] = Array(result)
                override def readSchema(): StructType =
                  new StructType().add("rows_removed", LongType)
              }).iterator()
            }
          }
        })
      case "zorder" =>
        // space-filling-curve clustering as a maintenance rewrite:
        // rows re-land range-partitioned and sorted by the Morton code
        // of two integral dimensions, so a follow-up CALL analyze
        // gives per-file min/max stats that prune on BOTH dimensions
        // (the operator-level composition FileStatsSpec pins; this is
        // its user-facing CALL). Versioned tables commit a snapshot;
        // plain tables staged-swap.
        Some(new UnboundProcedure {
          override def name(): String = "zorder"
          override def description(): String =
            "graft lake maintenance: z-order clustering rewrite on two integral columns"
          override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
            override def name(): String = "zorder"
            override def description(): String =
              "graft lake maintenance: z-order clustering rewrite on two integral columns"
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("x_col", StringType).build(),
              ProcedureParameter.in("y_col", StringType).build(),
              ProcedureParameter.in("target_files", IntegerType).build())
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): java.util.Iterator[Scan] = {
              val tableDir = resolveTableDir(root, "zorder",
                input.getUTF8String(0).toString)
              val xc = input.getUTF8String(1).toString
              val yc = input.getUTF8String(2).toString
              val target = input.getInt(3)
              val spark = SparkSession.active
              import org.apache.spark.sql.functions.col
              val pspecZ = PartitionSpec.read(tableDir)
              if (pspecZ.nonEmpty) {
                // PARTITION-PRESERVING z-order (manifest tables only —
                // the plain hive layout has no snapshot to commit and
                // a flat rewrite would destroy its dirs): rows re-land
                // in their own partitions, Morton-sorted WITHIN each,
                // so a follow-up CALL analyze gives per-file min/max
                // that skip inside surviving partitions on BOTH dims —
                // the composition the partitioned FileSkipping path
                // reads. Committed as a NEW snapshot (history intact).
                if (!Snapshots.isVersioned(tableDir))
                  throw new UnsupportedOperationException(
                    "zorder: PLAIN partitioned lake tables are not " +
                      "supported (no snapshot log to commit the rewrite " +
                      "into); create with TBLPROPERTIES " +
                      "('versioned'='true') or use compact")
                val snap = Snapshots.latest(tableDir).get
                val newV =
                  if (snap.files.isEmpty) snap.version
                  else {
                    val dirCols = PartitionSpec.dirCols(pspecZ)
                    // live rows: pending merge-on-read deletes applied
                    // (the rewrite replaces data files, so it MUST
                    // materialize them — stale coordinates would
                    // resurrect rows otherwise); PK tables rewrite the
                    // RESOLVED rows (key-aware, like compact)
                    val pkOptZ = PkTables.read(tableDir)
                    val df = pkOptZ match {
                      case Some(pk) =>
                        PkTables.resolvedRows(spark, tableDir, snap, pk)
                      case None =>
                        MorDeletes.liveRows(spark, tableDir, snap.files)
                    }
                    val bad = Seq(xc, yc).filterNot(df.columns.contains)
                    require(bad.isEmpty,
                      s"zorder: no such column(s) ${bad.mkString(",")}")
                    val withBucket = pspecZ.collectFirst {
                      case b: PartitionSpec.Bucket => b
                    }.fold(df) { b =>
                      if (df.columns.contains(PartitionSpec.BucketDir)) df
                      else df.withColumn(PartitionSpec.BucketDir,
                        org.apache.spark.sql.functions.pmod(
                          org.apache.spark.sql.functions.hash(col(b.col)),
                          org.apache.spark.sql.functions.lit(b.n)))
                    }
                    val tmp = tableDir.resolveSibling(
                      tableDir.getFileName.toString + ".__rewrite-" +
                        java.util.UUID.randomUUID().toString.take(8))
                    PartitionedWrite.deleteRecursive(tmp)
                    withBucket
                      .withColumn("_z", graft.operators.Layout.mortonCode(
                        col(xc), col(yc)))
                      .repartition(target, dirCols.map(col): _*)
                      .sortWithinPartitions(
                        (dirCols.map(col) :+ col("_z")): _*)
                      .drop("_z")
                      .write.partitionBy(dirCols: _*)
                      .parquet(tmp.toString)
                    val staged =
                      PartitionedWrite.mergeIntoReturning(tmp, tableDir)
                    val validateZ: Seq[String] => Unit =
                      if (pkOptZ.isDefined)
                        cur => {
                          Snapshots.validateRewrite("zorder",
                            snap.files, snap.files)(cur)
                          PkTables.validateNoNewData("zorder",
                            snap.files)(cur)
                          // a concurrent DELETE on a PK table commits
                          // ONLY an eq-delete file — it passes both
                          // checks above, and the re-stamped rewrite
                          // would neuter it (lost delete)
                          PkTables.validateNoFreshEqDeletes("zorder",
                            snap.files)(cur)
                        }
                      else Snapshots.validateRewrite("zorder",
                        snap.files, snap.files)
                    val zv = Snapshots.commit(tableDir, "zorder",
                      cur => cur.diff(snap.files) ++ staged,
                      validateZ,
                      freshStats = Snapshots.freshStatsFor(
                        spark, tableDir, staged))
                    if (pkOptZ.isDefined)
                      Snapshots.read(tableDir, zv).foreach(ns =>
                        PkTables.addMarker(tableDir, ns.files))
                    zv
                  }
                spark.catalog.clearCache()
                return java.util.List.of[Scan](new LocalScan {
                  override def rows(): Array[InternalRow] =
                    Array(InternalRow(newV))
                  override def readSchema(): StructType =
                    new StructType().add("new_version", LongType)
                }).iterator()
              }
              def rewrite(df: org.apache.spark.sql.DataFrame) = {
                val bad = Seq(xc, yc).filterNot(df.columns.contains)
                require(bad.isEmpty, s"zorder: no such column(s) ${bad.mkString(",")}")
                graft.operators.Layout.zorderLayout(df, col(xc), col(yc), target)
              }
              val result =
                if (StateStore.versionsOf(tableDir).nonEmpty) {
                  val store = new StateStore(spark, tableDir.toString)
                  val out = rewrite(store.read().get).localCheckpoint(true)
                  InternalRow(store.writeNext(out))
                } else {
                  val out = rewrite(spark.read.parquet(tableDir.toString))
                  val tmp = tableDir.resolveSibling(
                    tableDir.getFileName.toString + ".__rewrite")
                  out.write.mode("overwrite").parquet(tmp.toString)
                  DeletableTable.publishStagedRewrite(tableDir, tmp)
                  InternalRow(null)
                }
              spark.catalog.clearCache()
              java.util.List.of[Scan](new LocalScan {
                override def rows(): Array[InternalRow] = Array(result)
                override def readSchema(): StructType =
                  new StructType().add("new_version", LongType)
              }).iterator()
            }
          }
        })
      case "purge_keys" =>
        Some(proc(root, "purge_keys",
          Seq("tbl" -> StringType, "key_col" -> StringType, "keys_csv" -> StringType),
          new StructType().add("rows_removed", LongType)) { (_, log, args) =>
          val store = log match {
            case s: StateStore => s
            case _ => throw new UnsupportedOperationException(
              "purge_keys: manifest-versioned partitioned tables are not " +
                "supported yet — rewrite history with per-snapshot DELETE + " +
                "expire_snapshots instead")
          }
          val keyCol = args.getUTF8String(1).toString
          val keys: Seq[Any] = args.getUTF8String(2).toString
            .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
            .map(s => s.toLongOption.getOrElse(s): Any)
          Seq(InternalRow(store.purgeKeys(keyCol, keys)))
        })
      case "vacuum" =>
        // Iceberg's remove_orphan_files for THIS layout: the only
        // unreferenced bytes a crash can leave are sibling staging
        // dirs (`t.parquet.__rewrite[-uuid]` staged but never
        // published, `.__old` from a mid-swap crash) and `_*.tmp`
        // sidecar temps inside the table dir — data files are always
        // referenced wholesale by their directory. `older_than_ms`
        // guards a LIVE writer's staging from deletion (Iceberg's
        // retention-interval discipline); pass 0 only when no write
        // can be in flight. Works on plain, versioned, and
        // partitioned tables.
        Some(new UnboundProcedure {
          override def name(): String = "vacuum"
          override def description(): String =
            "graft lake maintenance: remove orphaned staging dirs and temp sidecars"
          override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
            override def name(): String = "vacuum"
            override def description(): String =
              "graft lake maintenance: remove orphaned staging dirs and temp sidecars"
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("older_than_ms", LongType).build())
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): java.util.Iterator[Scan] = {
              val tableDir = resolveTableDir(root, "vacuum",
                input.getUTF8String(0).toString)
              val cutoff = System.currentTimeMillis() - input.getLong(1)
              val prefix = tableDir.getFileName.toString + ".__"
              val siblings = {
                val s = Files.list(tableDir.getParent)
                try s.iterator().asScala
                  .filter(_.getFileName.toString.startsWith(prefix)).toSeq
                finally s.close()
              }
              val tmps = {
                val s = Files.walk(tableDir)
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
              // manifest tables have two more orphan classes: data
              // files published into the table dirs whose snapshot
              // commit never landed (crash between publish and the
              // manifest write) — unreferenced by EVERY retained
              // manifest, so invisible to all reads (Iceberg's
              // remove_orphan_files) — and manifest SEGMENTS no
              // retained manifest references (a loser's pre-link
              // write, or an expire that crashed mid-GC)
              val orphans =
                if (!Snapshots.isVersioned(tableDir)) Seq.empty[Path]
                else {
                  val live = Snapshots.referencedFiles(tableDir)
                  // merge-on-read delete files a crashed DELETE
                  // published but never committed (the _graft_deletes
                  // dir has no `col=value` segments, so the data walk
                  // above never sees it)
                  // both delete families live outside the col=value
                  // walk: position deletes under _graft_deletes/,
                  // equality deletes (PK tables) under _graft_eqdeletes/
                  val delOrphans = Seq(Snapshots.DeleteDirName,
                      PkTables.EqDeleteDirName)
                    .map(tableDir.resolve)
                    .filter(Files.isDirectory(_))
                    .flatMap { delDir =>
                      // RECURSIVE: delete files land partition-scoped
                      // under `_gmor_tdir=<dir>/` subdirectories
                      val s = Files.walk(delDir)
                      try s.iterator().asScala
                        .filter(p => Files.isRegularFile(p) &&
                          !live(tableDir.relativize(p).toString))
                        .toSeq
                      finally s.close()
                    }
                  PartitionedWrite.filesUnderDirs(tableDir,
                      PartitionedWrite.leafPartitionDirs(tableDir))
                    .filterNot(rel => live(rel.toString))
                    .map(tableDir.resolve(_)) ++ delOrphans ++
                    Snapshots.orphanSegments(tableDir)
                }
              val stale = (siblings ++ tmps ++ orphans).filter(p =>
                Files.getLastModifiedTime(p).toMillis <= cutoff)
              val freed = stale.map(sizeOf).sum
              stale.foreach { p =>
                if (Files.isRegularFile(p)) {
                  Files.deleteIfExists(p)
                  // local-FS checksum companion
                  Files.deleteIfExists(p.resolveSibling(
                    "." + p.getFileName.toString + ".crc"))
                  ()
                } else {
                  val s = Files.walk(p)
                  try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
                  finally s.close()
                }
              }
              java.util.List.of[Scan](new LocalScan {
                override def rows(): Array[InternalRow] =
                  Array(InternalRow(stale.size.toLong, freed))
                override def readSchema(): StructType =
                  new StructType().add("n_removed", LongType)
                    .add("bytes_freed", LongType)
              }).iterator()
            }
          }
        })
      case "analyze" =>
        // works on plain AND versioned tables (stats describe the
        // CURRENT data files; the scan treats unlisted files
        // conservatively, so staleness is safe)
        Some(new UnboundProcedure {
          override def name(): String = "analyze"
          override def description(): String =
            "graft lake maintenance: compute per-file min/max skipping stats"
          override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
            override def name(): String = "analyze"
            override def description(): String =
              "graft lake maintenance: compute per-file min/max skipping stats"
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("cols_csv", StringType).build())
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): java.util.Iterator[Scan] = {
              val tableDir = resolveTableDir(root, "analyze",
                input.getUTF8String(0).toString)
              val dataDir = StateStore.currentDir(tableDir)
              val cols = input.getUTF8String(1).toString
                .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
              val n = FileStats.analyze(
                SparkSession.active, tableDir, dataDir, cols)
              SparkSession.active.catalog.clearCache()
              java.util.List.of[Scan](new LocalScan {
                override def rows(): Array[InternalRow] = Array(InternalRow(n))
                override def readSchema(): StructType =
                  new StructType().add("files_analyzed", LongType)
              }).iterator()
            }
          }
        })
      case "bloom_index" =>
        // equality-skipping complement of analyze: per-file Bloom
        // bitsets for point lookups on high-cardinality columns whose
        // min/max ranges span the domain ([[BloomIndex]]); same
        // conservative staleness rules (unlisted files never prune)
        Some(new UnboundProcedure {
          override def name(): String = "bloom_index"
          override def description(): String =
            "graft lake maintenance: build per-file Bloom equality-skipping index"
          override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
            override def name(): String = "bloom_index"
            override def description(): String =
              "graft lake maintenance: build per-file Bloom equality-skipping index"
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("cols_csv", StringType).build(),
              ProcedureParameter.in("bits", IntegerType).build(),
              ProcedureParameter.in("probes", IntegerType).build())
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): java.util.Iterator[Scan] = {
              val tableDir = resolveTableDir(root, "bloom_index",
                input.getUTF8String(0).toString)
              val dataDir = StateStore.currentDir(tableDir)
              val cols = input.getUTF8String(1).toString
                .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
              val n = BloomIndex.build(SparkSession.active, tableDir, dataDir,
                cols, input.getInt(2), input.getInt(3))
              SparkSession.active.catalog.clearCache()
              java.util.List.of[Scan](new LocalScan {
                override def rows(): Array[InternalRow] = Array(InternalRow(n))
                override def readSchema(): StructType =
                  new StructType().add("files_indexed", LongType)
              }).iterator()
            }
          }
        })
      case _ => None
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

  /** The effective tag pins of a table dir: chain-carried for
    * manifest tables ([[Snapshots.effectivePins]], legacy sidecar
    * included), sidecar-file for flat stores. */
  private[catalog] def pinsOf(dir: Path): Map[String, Long] =
    if (Snapshots.isVersioned(dir)) Snapshots.effectivePins(dir)
    else Tags.read(dir)

  /** Guard for procedures that only exist on the manifest log
    * (branches). */
  private def requireManifest(procName: String, dir: Path): Unit =
    if (!Snapshots.isVersioned(dir))
      throw new UnsupportedOperationException(
        s"$procName: needs the manifest snapshot log (CREATE ... " +
          "TBLPROPERTIES ('versioned'='true'), or CALL migrate)")

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
    val schema = DataType.fromJson(
      Files.readString(dir.resolve("_graft_schema.json")))
      .asInstanceOf[StructType]
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

  /** Build an UnboundProcedure from a (dir, log, args) → report-rows
    * function. Argument 0 is always `tbl`; the dir resolves against
    * the catalog root and must be versioned in EITHER layout. */
  private def proc(root: Path, procName: String,
                   params: Seq[(String, DataType)], outSchema: StructType)(
      body: (Path, SnapshotReads, InternalRow) => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft lake maintenance: $procName"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft lake maintenance: $procName"
        override def parameters(): Array[ProcedureParameter] =
          params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val tbl = input.get(0, StringType).asInstanceOf[UTF8String].toString
          val dir = resolveTableDir(root, procName, tbl)
          val log = SnapshotReads.of(SparkSession.active, dir.toString).getOrElse(
            throw new IllegalArgumentException(
              s"$procName: '$tbl' is not a versioned lake table " +
                "(neither v=<n> snapshots nor a manifest log)"))
          val out = body(dir, log, input).toArray
          SparkSession.active.catalog.clearCache()
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = outSchema
          }).iterator()
        }
      }
    }
}

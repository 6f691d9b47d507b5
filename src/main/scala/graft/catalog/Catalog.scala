package graft.catalog

import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** Catalog / namespace surface — the reference's `CREATE CATALOG
  * fluss_catalog` / `CREATE DATABASE IF NOT EXISTS osb_staging` /
  * `USE` DDL (reference `flink-cdc/sql/tickets-cdc.sql:11-18`;
  * Paimon catalog in the generated `init-catalogs.sql`).
  *
  * Spark-first shape: one session catalog with databases; lake tables
  * register as EXTERNAL parquet tables (metadata only — no data copy),
  * so both `spark.sql("SELECT ... FROM osb.lineitem")` and
  * `spark.table("osb.lineitem")` resolve them, with the parquet
  * datasource's pruning/pushdown intact.
  */
object Catalog {

  def createDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** Register every table of a scale dir as an external table of `db`
    * (CREATE TABLE ... WITH (...) analog, connector options →
    * datasource + location). */
  def registerLakeTables(spark: SparkSession, db: String, sfDir: String): Unit = {
    createDatabase(spark, db)
    Tables.names.foreach { t =>
      spark.sql(
        s"CREATE TABLE IF NOT EXISTS `$db`.`$t` USING parquet LOCATION '$sfDir/$t.parquet'")
    }
  }

  /** `USE <db>` (tickets-cdc.sql:18). */
  def use(spark: SparkSession, db: String): Unit =
    spark.sql(s"USE `$db`")

  /** Streaming read of a lake-catalog table — the "tiered table as a
    * stream" surface (a downstream job tails the lake tier the
    * reference's tiering service fills, `deploy:318-358`). Spark's V2
    * file tables do not implement micro-batch scans, so the
    * Spark-first path is the FILE STREAMING source over the table's
    * resolved location with its declared schema: new part files from
    * later `INSERT INTO`/CTAS appends arrive as new micro-batches,
    * with the file source's exactly-once tracking and
    * `maxFilesPerTrigger` pacing intact.
    *
    * `ref` is `cat.db.table` for a `GraftLakeCatalog` name registered
    * in this session. Versioned tables are rejected: their commits
    * land in NEW `v=<n>` directories, which a single-directory file
    * stream cannot see — tail those with
    * [[graft.streaming.ChangeFeed]] between snapshots instead. */
  def readStreamTable(spark: SparkSession, ref: String): org.apache.spark.sql.DataFrame = {
    val dir = tableDir(spark, ref)
    require(java.nio.file.Files.exists(dir), s"no such table '$ref'")
    require(graft.streaming.StateStore.versionsOf(dir).isEmpty,
      s"'$ref' is a versioned table — stream its commits as a change " +
        "feed via readStreamTable(spark, ref, keys)")
    val logical = spark.table(ref).schema
    // PARTITIONED tables store data columns ONLY inside their files
    // (the hive contract): the stream's schema must tell the file
    // source which trailing columns are partition directories, and the
    // hidden `_gbucket=` level of bucketed layouts must be declared
    // too (then dropped — it is never part of the logical schema).
    // Streaming the logical schema naively would either fail listing
    // or emit NULL partition columns silently.
    val pspec = PartitionSpec.read(dir)
    // manifest-versioned partitioned tables: a file tail would stream
    // files of EVERY snapshot (dead ones included) — tail the commits
    // through the change feed instead, like flat versioned tables
    require(!Snapshots.isVersioned(dir),
      s"'$ref' is a manifest-versioned partitioned table — stream its " +
        "commits as a change feed via readStreamTable(spark, ref, keys)")
    import org.apache.spark.sql.functions.col
    val bucketed = pspec.exists(_.isInstanceOf[PartitionSpec.Bucket])
    // rename-evolved: files speak the PHYSICAL names; stream with those
    // and alias back (partition columns are never renamed) — streaming
    // the logical schema would match renamed columns by-name-miss and
    // emit all-NULL silently. Unpartitioned tables are the same read
    // with no directory columns.
    val renames = readRenames(dir)
    val phys = org.apache.spark.sql.types.StructType(logical.fields.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name))))
    val streamSchema =
      if (!bucketed) phys
      else org.apache.spark.sql.types.StructType(phys.fields :+
        org.apache.spark.sql.types.StructField(PartitionSpec.BucketDir,
          org.apache.spark.sql.types.IntegerType, nullable = true))
    val raw = spark.readStream.schema(streamSchema).parquet(dir.toString)
    val unbucketed = if (bucketed) raw.drop(PartitionSpec.BucketDir) else raw
    if (renames.isEmpty) unbucketed
    else unbucketed.select(logical.fields.map(f =>
      col(renames.getOrElse(f.name, f.name)).as(f.name)): _*)
  }

  /** Streaming CHANGE FEED of a VERSIONED lake-catalog table: each
    * committed `v=<n>` snapshot arrives as a micro-batch of its
    * per-version change feed (earliest snapshot as inserts, later
    * ones as the [[graft.streaming.ChangeFeed]] diff against the
    * predecessor), keyed on `keys`. Offsets are snapshot versions —
    * checkpoint replay re-derives identical rows from the immutable
    * snapshots (exactly-once, `ChangeFeedStreamSpec`-pinned). Schema:
    * `op, version, before, after`. */
  def readStreamTable(spark: SparkSession, ref: String,
                      keys: Seq[String],
                      branch: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val dir = tableDir(spark, ref)
    require(java.nio.file.Files.exists(dir), s"no such table '$ref'")
    require(graft.streaming.SnapshotReads.of(spark, dir.toString).nonEmpty,
      s"'$ref' is not a versioned table — tail its part files with " +
        "readStreamTable(spark, ref) instead")
    val reader = spark.readStream
      .format("org.apache.spark.sql.graft.ChangeFeedSourceProvider")
      .option("path", dir.toString)
      .option("keys", keys.mkString(","))
    // branch: tail a staged WAP branch's commits as they land — the
    // audit-as-a-stream surface (manifest tables only)
    branch.fold(reader)(b => reader.option("branch", b)).load()
  }

  /** BATCH change feed of a versioned lake-catalog table over a
    * version RANGE — Delta's `table_changes(tbl, from, to)` next to
    * the streaming feed: every retained version in `(from, to]` as
    * its per-version changelog (`op, version, before, after`), the
    * EXACT rows the streaming source would emit over the same range
    * (shared [[graft.streaming.ChangeFeed.versionFeed]]). Applying
    * the result to snapshot `from` reconstructs snapshot `to`. */
  def readTableChanges(spark: SparkSession, ref: String, keys: Seq[String],
                       from: Long, to: Long,
                       branch: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val dir = tableDir(spark, ref)
    require(java.nio.file.Files.exists(dir), s"no such table '$ref'")
    // PRIMARY-KEY tables: the feed is the RESOLVED changelog —
    // ManifestSnapshotReads.read(v) resolves latest-per-key, so each
    // version's diff carries c/u/d over resolved states and shadowed
    // versions never leak (Paimon's changelog-producer semantics; the
    // endpoint-diff twin is [[readPkTableChanges]]).
    val store = graft.streaming.SnapshotReads.of(spark, dir.toString, branch)
      .getOrElse(throw new IllegalArgumentException(
        s"'$ref' is not a versioned table — no change feed to read"))
    graft.streaming.ChangeFeed.tableChanges(store, from, to, keys)
  }

  /** The RESOLVED changelog of a PRIMARY-KEY lake table between two
    * snapshots — what Paimon's changelog producer emits, derived here
    * as the KEYED DIFF of the two resolved states (each read resolves
    * latest-per-key through the ordinary scan rewrite, so equality
    * deletes, shadowing, and compaction are all already applied):
    * `op` = c (key only in `to`), d (key only in `from`), u (present
    * in both with ANY column differing — before/after carried).
    * Identical keys drop. This is the ENDPOINT-diff twin of
    * [[readTableChanges]] (which on PK tables emits the resolved
    * changelog PER VERSION — trigger-slicing-neutral, what the
    * streaming source needs): O(two snapshots + one bucket-colocated
    * join by key) regardless of how many versions lie between — the
    * cheaper form over wide ranges. */
  def readPkTableChanges(spark: SparkSession, ref: String,
                         from: Long, to: Long): org.apache.spark.sql.DataFrame = {
    val dir = tableDir(spark, ref)
    val pk = PkTables.read(dir).getOrElse(throw new IllegalArgumentException(
      s"'$ref' is not a PRIMARY-KEY table — use readTableChanges for " +
        "the file-level feed"))
    require(from <= to, s"from=$from must be <= to=$to")
    // keys are NOT NULL by construction: the diff's keyed full-outer
    // join is a plain equi-join, which the bucket-by-key layout
    // co-locates
    graft.streaming.ChangeFeed.diff(
      spark.sql(s"SELECT * FROM $ref VERSION AS OF $from"),
      spark.sql(s"SELECT * FROM $ref VERSION AS OF $to"), pk.keys)
  }

  /** The table directory of `cat.db.table`, a `GraftLakeCatalog` name
    * registered in this session. */
  private[catalog] def tableDir(spark: SparkSession,
                                ref: String): java.nio.file.Path = {
    val parts = ref.split('.')
    require(parts.length == 3, s"expected cat.db.table, got '$ref'")
    val root = Option(spark.conf.get(s"spark.sql.catalog.${parts(0)}.path", null))
      .getOrElse(throw new IllegalArgumentException(
        s"catalog '${parts(0)}' is not configured in this session"))
    java.nio.file.Paths.get(root, parts(1), s"${parts(2)}.parquet")
  }

  /** logical → physical column renames from a table's evolution
    * sidecar; empty when absent ([[Evolutions.renames]] — the shared
    * parser, so readers can never drift). */
  private def readRenames(tableDir: java.nio.file.Path): Map[String, String] =
    Evolutions.renames(tableDir)

  def drop(spark: SparkSession, db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
}

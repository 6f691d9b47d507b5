package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.streaming.{ChangeFeed, SnapshotReads}

/** PERSISTED changelog files — Paimon's `'changelog-producer'='input'`
  * (the reference's generated Paimon sink declares it,
  * `flink-gen.sh:140`): a PRIMARY-KEY table that opts in materializes
  * each version's RESOLVED changelog (`op, before, after` — exactly
  * [[graft.streaming.ChangeFeed.versionFeed]]'s rows) as parquet under
  * `_graft_changelog/v=<n>/`, so the feed is WRITE-ONCE/READ-MANY:
  * N downstream consumers (incremental MVs, streaming tails, batch
  * replays) each scan the files instead of re-paying the snapshot diff
  * join, and a wide-range replay opens one file set per version
  * instead of re-diffing every pair of snapshots.
  *
  * Production is EAGER on the hooked write paths (the one staged-write
  * commit, [[PartitionedWrite.commitStaged]], calls [[produceMissing]]
  * after INSERT / overwrite and PRIMARY-KEY delta DML commits) and
  * LAZY otherwise: the first reader of a version with no
  * persisted file computes the diff once and persists it atomically —
  * so the content law (file-served feed ≡ computed feed) holds by
  * construction: BOTH forms derive from the same immutable snapshots
  * via the same [[graft.streaming.ChangeFeed.versionFeed]] algebra,
  * the file is merely the memoized result.
  *
  * Safety rails:
  *  - writes land in a tmp dir and publish with an ATOMIC move — a
  *    racing producer loses the move and discards its tmp; readers
  *    only ever see complete file sets;
  *  - each version dir carries the row schema it was written with
  *    ([[SchemaMarker]]); a reader whose CURRENT schema differs
  *    (column evolution since) falls back to the computed diff
  *    instead of silently serving nulls for evolved columns;
  *  - `expire_snapshots` drops the changelog dirs of expired versions
  *    with the manifests ([[dropFor]]);
  *  - branch reads never consult the files (they are keyed by MAIN
  *    log versions).
  *
  * Cost: production runs at most three Spark jobs per commit (only on
  * tables that DECLARE the producer — the Paimon trade: write-side
  * work buys read-side amortization), written once and scanned by
  * every consumer thereafter:
  *  - one bounded driver collect of the keys of the commit's fresh data
  *    files (none for a pure delete);
  *  - the one-pass diff's key aggregate ([[MorDeletes.versionDiff]]),
  *    whose shuffle stage is one job and whose result stage is the
  *    parquet write — no rebalance exchange of its own.
  * It builds three broadcasts on the driver: the parent-state and
  * child-state equality-delete vectors (the parent's is normally cached
  * by the previous commit's production, the child's costs one collect
  * when the commit adds eq-delete files) and the touched-key set. Its
  * reads index the manifest's file list, so no listing job runs. Above
  * `graft.mor.vector.max-coords` the vectors and the key set fall back
  * to joins, and the budget no longer holds. */
object ChangelogProducer {

  val DirName = "_graft_changelog"
  private val SchemaMarker = "_row_schema.json"

  def dirFor(tableDir: Path, ver: Long): Path =
    graft.streaming.StateStore.versionDir(tableDir.resolve(DirName), ver)

  /** Serve version `ver`'s feed from its persisted files, producing
    * them first if absent. None = schema evolved since the files were
    * written (the caller recomputes — correctness over memoization). */
  def serveOrProduce(spark: SparkSession, tableDir: Path,
                     store: SnapshotReads, ver: Long, keys: Seq[String],
                     row: StructType): Option[DataFrame] = {
    val target = dirFor(tableDir, ver)
    if (!Files.isDirectory(target)) produce(tableDir, store, ver, keys, row)
    serve(spark, tableDir, ver, row)
  }

  /** Materialize version `ver`'s feed at `target` (atomic; loser of a
    * racing production discards). A feed that is provably EMPTY from
    * the manifests ([[SnapshotReads.provablyEmptyFeed]]: compaction,
    * metadata and ref commits, unchanged file sets, the CREATE
    * version) publishes a MARKER-ONLY version dir with no Spark job;
    * [[serve]] reads zero files under the explicit feed schema — the
    * same empty feed the computed path derives. Anything else derives
    * the canonical diff (the versionFeed algebra with persistence
    * disabled, so production can never recurse). */
  private def produce(tableDir: Path, store: SnapshotReads, ver: Long,
                      keys: Seq[String], row: StructType): Unit = {
    val target = dirFor(tableDir, ver)
    val tmp = tableDir.resolve(DirName).resolve(
      s".tmp-v$ver-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.createDirectories(tmp.getParent)
    try {
      if (store.provablyEmptyFeed(ver))
        Files.createDirectories(tmp)
      else
        // written straight from the diff's key aggregate: AQE coalesces
        // its shuffle partitions, so a small commit's feed lands in one
        // file without a rebalance exchange of its own
        ChangeFeed.versionFeed(store, ver, keys, row, persisted = false)
          .select(col("op"), col("before"), col("after"))
          .write.parquet(tmp.toString)
      Files.writeString(tmp.resolve(SchemaMarker), row.json)
      try {
        Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.AccessDeniedException |
             _: java.nio.file.FileSystemException =>
          // a concurrent producer won the move — its content is the
          // same pure function of the same snapshots; discard ours
          PartitionedWrite.deleteRecursive(tmp)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        PartitionedWrite.deleteRecursive(tmp)
        throw e
    }
  }

  /** Read a persisted version feed; None when absent or written under
    * a DIFFERENT row schema (evolution since — recompute instead). */
  def serve(spark: SparkSession, tableDir: Path, ver: Long,
            row: StructType): Option[DataFrame] = {
    val target = dirFor(tableDir, ver)
    val marker = target.resolve(SchemaMarker)
    if (!Files.isDirectory(target) || !Files.exists(marker)) return None
    if (org.apache.spark.sql.types.DataType.fromJson(
        Files.readString(marker)) != row) return None
    val feedSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("before", row),
      org.apache.spark.sql.types.StructField("after", row)))
    Some(spark.read.schema(feedSchema).parquet(target.toString)
      .select(col("op"), lit(ver).as("version"), col("before"),
        col("after")))
  }

  /** Post-commit hook (the eager path): persist every MAIN-log version
    * whose changelog is not yet materialized — normally just the
    * commit's own version; commits from unhooked paths self-heal here
    * or on first read. Production failures leave no file and the lazy
    * path recomputes, so the hook never fails the already-committed
    * write. */
  def produceMissing(spark: SparkSession, tableDir: Path): Unit = {
    val pk = PkTables.read(tableDir)
    if (!pk.exists(_.producesChangelog)) return
    if (Snapshots.activeWriteBranch(tableDir).nonEmpty) return
    try {
      val store = ManifestSnapshotReads(spark, tableDir.toString)
      val row = store.rowSchema
      val missing = store.versions.filterNot(v =>
        Files.isDirectory(dirFor(tableDir, v)))
      missing.foreach(produce(tableDir, store, _, pk.get.keys, row))
    } catch {
      case scala.util.control.NonFatal(_) => () // lazy path heals
    }
  }

  /** Expire GC: drop the changelog dirs of expired versions. */
  def dropFor(tableDir: Path, droppedVersions: Seq[Long]): Unit =
    droppedVersions.foreach { v =>
      val d = dirFor(tableDir, v)
      if (Files.isDirectory(d)) PartitionedWrite.deleteRecursive(d)
    }
}

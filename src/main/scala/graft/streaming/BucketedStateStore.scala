package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bucketed versioned state — the scale evolution of [[StateStore]],
  * mirroring the reference's `'bucket.num'='4'` hash distribution
  * (reference `flink-cdc/sql/tickets-cdc.sql:34`) in the storage
  * layout: `dir/v=V/__b=B/` plus a tiny per-version manifest.
  *
  * A micro-batch writes ONE job containing only the buckets with
  * changed keys (`partitionBy("__b")`); a bucket's current content is
  * the newest version whose MANIFEST claims it (the manifest — not
  * directory existence — is the commit record: a bucket whose rows
  * were all deleted produces no partition dir but is still claimed, so
  * older versions cannot resurrect it). Per-trigger write cost is
  * O(changed buckets' state), not O(total state).
  *
  * Versioning: `commit = max(batchId, latest+1)`. Failure replay of
  * the same batch re-applies an idempotent changelog (same keys, same
  * ts → same content), and a redeploy with a fresh checkpoint cannot
  * clobber existing versions. At lake scale the directory listing
  * would itself be a manifest; semantics are unchanged.
  */
final class BucketedStateStore(spark: SparkSession, dir: String, val buckets: Int) {

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
  private val base = new Path(dir)

  /** Deterministic bucket of a key tuple. */
  def bucketOf(keys: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    pmod(xxhash64(keys: _*), lit(buckets)).cast("int")

  private def manifestPath(v: Long) = new Path(s"$dir/v=$v/_graft_manifest")

  private def versionsDesc: Seq[Long] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
      .sorted(Ordering[Long].reverse)

  /** Manifest = line 1: claimed-bucket CSV; later lines (optional):
    * `batch=<token>:<id>` — the changelog batch whose application
    * produced this version, scoped by a caller token (the Paimon
    * `commitUser` idea: one token per checkpoint lineage) so a
    * redeploy with a fresh checkpoint — whose batch ids restart at
    * 0 — is never mistaken for a replay. */
  private def readManifest(v: Long): Option[(Set[Int], Seq[(String, Long)])] = {
    val p = manifestPath(v)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val lines = s.split("\n")
      val buckets = lines.headOption.getOrElse("")
        .split(",").filter(_.nonEmpty).map(_.toInt).toSet
      val batches = lines.filter(_.startsWith("batch=")).toSeq.flatMap { l =>
        l.stripPrefix("batch=").split(":", 2) match {
          case Array(tok, id) => Some(tok -> id.toLong)
          case _              => None
        }
      }
      Some((buckets, batches))
    }
  }

  /** What one listing and one read of every live manifest show:
    * every `v=<n>` dir, newest first, and the committed ones (manifest
    * present) with their claimed buckets and ledger lines. */
  private final class View(val versions: Seq[Long],
                           val committed: Seq[(Long, Set[Int], Seq[(String, Long)])]) {
    /** The newest committed version claiming bucket `b`. */
    def holder(b: Int): Option[Long] =
      committed.collectFirst { case (v, m, _) if m.contains(b) => v }

    /** Greatest batch id per token across live manifests. */
    def ledger: Map[String, Long] =
      committed.flatMap(_._3).groupBy(_._1).map { case (t, ids) => t -> ids.map(_._2).max }

    /** This view plus a commit newer than every version in it. */
    def withCommit(v: Long, claimed: Set[Int], lines: Seq[(String, Long)]): View =
      new View(v +: versions, (v, claimed, lines) +: committed)
  }

  private def view(): View = {
    val vs = versionsDesc
    new View(vs, vs.flatMap(v => readManifest(v).map { case (b, l) => (v, b, l) }))
  }

  /** Data schema of each version this instance wrote, or read alone
    * cold. A version's files never change once committed, so these
    * stay exact for its lifetime; [[expire]] drops the dead ones. */
  private val schemas = scala.collection.concurrent.TrieMap.empty[Long, StructType]

  /** Greatest changelog batch id a committed version records for this
    * token — the replay guard: `foreachBatch` is at-least-once, so a
    * restarted stream re-delivers the last batch whose sink write
    * committed but whose checkpoint offset did not. Idempotent folds
    * (deduplicate / partial-update) absorb the replay; an aggregation
    * fold would double-count — so [[CdcPipeline]] skips any batch with
    * `id <= lastAppliedBatch(token)`. Scanned over live manifests
    * (bounded by [[expire]]); [[compact]] carries the ledger forward. */
  def lastAppliedBatch(token: String): Option[Long] = view().ledger.get(token)

  private def bucketPath(v: Long, b: Int) = new Path(s"$dir/v=$v/__b=$b")

  /** The requested buckets' current content. Buckets held by
    * different versions — commits before and after a schema evolution
    * (added column) — read as the superset schema with old rows
    * null-filled, exactly Paimon/Iceberg add-column semantics.
    *
    * The schema comes from [[schemas]] when every holding version is
    * in it, merged the way parquet `mergeSchema` merges footers, so the
    * per-trigger hot path runs no Spark job before its own. A holding
    * version this instance neither wrote nor read alone (another
    * writer's, or any version of a cold store) may have changed the
    * schema, so that read infers it from the footers as before: one
    * footer job, merged across versions when it spans several. */
  def readBuckets(ids: Seq[Int]): Option[DataFrame] = {
    val current = view()
    // per requested bucket, the newest version claiming it; no path
    // when that version holds it empty (claimed-but-empty bucket)
    val held = ids.flatMap(b => current.holder(b).map(v => v -> bucketPath(v, b)))
      .filter { case (_, p) => fs.exists(p) }
    if (held.isEmpty) None
    else {
      val paths = held.map(_._2.toString)
      val versions = held.map(_._1).distinct.sorted
      val known = versions.flatMap(schemas.get)
      Some(
        if (known.size == versions.size)
          spark.read.schema(known.reduceLeft(GraftBridge.mergeSchemas)).parquet(paths: _*)
        else {
          val df = spark.read.option("mergeSchema", (versions.size > 1).toString)
            .parquet(paths: _*)
          if (versions.size == 1) schemas(versions.head) = df.schema
          df
        })
    }
  }

  def readAll(): Option[DataFrame] = readBuckets(0 until buckets)

  /** Compaction: fold every bucket's current content into ONE fresh
    * version claiming all buckets — the small-files rewrite a
    * long-running micro-batched upsert needs (each trigger writes its
    * touched buckets with task-count files; compaction resets the file
    * count and lets [[expire]] reclaim the whole version tail). An
    * ordinary versioned commit through [[writeBuckets]], so readers
    * keep snapshot isolation and a failure mid-compact leaves the
    * store untouched. `keys` = the table's distribution keys (the same
    * ones every write uses). No-op on an empty store. */
  def compact(keys: Seq[String]): Unit = readAll().foreach { df =>
    writeBuckets(df.repartition(buckets, bucketOf(keys.map(col))),
      keys, 0 until buckets, versionsDesc.headOption.map(_ + 1).getOrElse(0L))
  }

  /** One-job write of the touched buckets' new state; commits
    * `max(version, latest+1)` with a manifest claiming `touched`.
    * `appliedBatch` records (token, batchId) in the replay ledger
    * (see [[lastAppliedBatch]]); the full ledger is carried forward on
    * every commit so [[expire]] can never drop an entry. */
  def writeBuckets(df: DataFrame, keys: Seq[String], touched: Seq[Int],
                   version: Long, appliedBatch: Option[(String, Long)] = None): Unit = {
    if (touched.isEmpty) return
    val prior = view()
    val priorLedger = prior.ledger
    val ledger = (priorLedger ++ appliedBatch.map { case (t, b) =>
      t -> math.max(b, priorLedger.getOrElse(t, Long.MinValue)) }).toSeq.sorted
    val commit = math.max(version, prior.versions.headOption.map(_ + 1).getOrElse(0L))
    df.withColumn("__b", bucketOf(keys.map(col)))
      .write.mode("overwrite").partitionBy("__b")
      .parquet(s"$dir/v=$commit")
    schemas(commit) = df.schema
    val body = (touched.sorted.mkString(",") +:
      ledger.map { case (t, b) => s"batch=$t:$b" }).mkString("\n")
    val out = fs.create(manifestPath(commit), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    expire(prior.withCommit(commit, touched.toSet, ledger))
  }

  /** Versions older than every bucket's current holder are dead.
    * `current` is the commit's own view of the store, so expiring
    * costs no second listing or manifest read. */
  private def expire(current: View): Unit = {
    if (current.committed.size < 2) return
    val needed = (0 until buckets).flatMap(current.holder)
    if (needed.nonEmpty) {
      val floor = needed.min
      current.versions.filter(_ < floor).foreach { v =>
        fs.delete(new Path(s"$dir/v=$v"), true)
        schemas.remove(v)
      }
    }
  }
}

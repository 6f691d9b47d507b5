package graft.streaming

import graft.SparkSpec
import java.io.{IOException, OutputStream}
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

class BucketedStateStoreSpec extends SparkSpec {
  import spark.implicits._

  test("a bucket emptied by deletes stays empty (no resurrection from older versions)") {
    val store = new BucketedStateStore(spark,
      Files.createTempDirectory("graft-bss").toString, buckets = 4)
    val v0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    store.writeBuckets(v0, Seq("k"), 0 until 4, version = 0)
    // find key 3's bucket, then write that bucket empty (all rows deleted)
    val b3 = v0.filter($"k" === 3L)
      .select(store.bucketOf(Seq($"k"))).head().getInt(0)
    store.writeBuckets(v0.filter($"k" === -999L), Seq("k"), Seq(b3), version = 1)
    val rows = store.readAll().get.select("k").as[Long].collect().toSet
    assert(!rows.contains(3L), s"deleted bucket resurrected: $rows")
    assert(rows.contains(1L) || rows.contains(2L))
  }

  test("version collision from a fresh checkpoint cannot clobber existing state") {
    val store = new BucketedStateStore(spark,
      Files.createTempDirectory("graft-bss2").toString, buckets = 2)
    store.writeBuckets(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), Seq(0, 1), 0)
    // a restarted query starts again at batchId 0, touching only k=1's bucket
    val b1 = Seq((1L, "x")).toDF("k", "v")
      .select(store.bucketOf(Seq($"k"))).head().getInt(0)
    store.writeBuckets(Seq((1L, "updated")).toDF("k", "v"), Seq("k"), Seq(b1), 0)
    val rows = store.readAll().get.as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "updated", 2L -> "b"), s"state clobbered: $rows")
  }

  test("schema evolution: buckets held across an added column read as the superset") {
    val store = new BucketedStateStore(spark,
      Files.createTempDirectory("graft-bss4").toString, buckets = 2)
    store.writeBuckets(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), Seq(0, 1), 0)
    // evolve: later commit adds a column but touches only k=1's bucket —
    // the other bucket stays held by the pre-evolution version
    val b1 = Seq((1L, "x")).toDF("k", "v")
      .select(store.bucketOf(Seq($"k"))).head().getInt(0)
    store.writeBuckets(Seq((1L, "a2", 7.5)).toDF("k", "v", "score"),
      Seq("k"), Seq(b1), 1)
    val all = store.readAll().get
    assert(all.columns.toSet == Set("k", "v", "score"))
    val rows = all.select("k", "v", "score").as[(Long, String, Option[Double])]
      .collect().map { case (k, v, s) => k -> ((v, s)) }.toMap
    assert(rows(1L) == (("a2", Some(7.5))))
    assert(rows(2L) == (("b", None)), "pre-evolution rows must null-fill")
  }

  test("compact folds all buckets into one fresh version, state unchanged") {
    val dir = Files.createTempDirectory("graft-bss5").toString
    val store = new BucketedStateStore(spark, dir, buckets = 4)
    // several partial-bucket commits → multiple live versions
    store.writeBuckets(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      Seq("k"), 0 until 4, 0)
    val b1 = Seq((1L, "x")).toDF("k", "v")
      .select(store.bucketOf(Seq($"k"))).head().getInt(0)
    store.writeBuckets(Seq((1L, "a2")).toDF("k", "v"), Seq("k"), Seq(b1), 1)
    val before = store.readAll().get.as[(Long, String)].collect().toMap
    store.compact(Seq("k"))
    val after = store.readAll().get.as[(Long, String)].collect().toMap
    assert(after == before, s"compaction changed state: $after vs $before")
    // single live version claiming everything; tail reclaimed
    assert(new java.io.File(dir).list().count(_.startsWith("v=")) == 1)
  }

  test("expire drops versions no bucket points to") {
    val dir = Files.createTempDirectory("graft-bss3").toString
    val store = new BucketedStateStore(spark, dir, buckets = 2)
    store.writeBuckets(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), Seq(0, 1), 0)
    store.writeBuckets(Seq((1L, "a2"), (2L, "b2")).toDF("k", "v"), Seq("k"), Seq(0, 1), 1)
    val left = new java.io.File(dir).list().count(_.startsWith("v="))
    assert(left == 1, s"dead version not expired: $left dirs")
    assert(store.readAll().get.as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 2L -> "b2"))
  }

  test("a manifest write cut short leaves its version uncommitted") {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${CutManifestFs.Scheme}.impl", classOf[CutManifestFs].getName)
    val dir = s"${CutManifestFs.Scheme}://${Files.createTempDirectory("graft-bss6")}"
    val store = new BucketedStateStore(spark, dir, buckets = 2)
    def rows = store.readAll().get.as[(Long, String)].collect().toMap
    store.writeBuckets(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), Seq(0, 1), 0,
      appliedBatch = Some("t" -> 12L))
    val next = Seq((1L, "a2"), (2L, "b2")).toDF("k", "v")
    CutManifestFs.armed = true
    try intercept[IOException](
      store.writeBuckets(next, Seq("k"), Seq(0, 1), 1, appliedBatch = Some("t" -> 13L)))
    finally CutManifestFs.armed = false
    assert(rows == Map(1L -> "a", 2L -> "b"), "a cut manifest committed its version")
    assert(store.lastAppliedBatch("t").contains(12L))
    // the replayed batch commits as a newer version
    store.writeBuckets(next, Seq("k"), Seq(0, 1), 1, appliedBatch = Some("t" -> 13L))
    assert(rows == Map(1L -> "a2", 2L -> "b2"))
    assert(store.lastAppliedBatch("t").contains(13L))
  }
}

/** The raw local file system under its own scheme. While `armed`, a
  * stream it creates for a `_graft_manifest*` file writes the first
  * line (the claimed buckets) and then fails, as a crash mid-write
  * would leave it. */
class CutManifestFs extends RawLocalFileSystem {
  override def getUri: URI = CutManifestFs.Uri

  /** The overload `create(path, overwrite)` reaches. */
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (!CutManifestFs.armed || !f.getName.startsWith("_graft_manifest")) out
    else new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        val nl = b.indexWhere(_ == '\n', off)
        if (nl < 0 || nl >= off + len) out.write(b, off, len)
        else {
          out.write(b, off, nl + 1 - off)
          throw new IOException(s"cut after the first line of $f")
        }
      }
      override def close(): Unit = out.close()
    }, null)
  }
}

object CutManifestFs {
  val Scheme = "cutmanifest"
  val Uri: URI = URI.create(s"$Scheme:///")
  @volatile var armed = false
}

package graft.streaming

import graft.SparkSpec
import org.apache.spark.graftprobe.JobProbe
import java.nio.file.Files

/** `BucketedStateStore.readBuckets` reads with the schema the store
  * already knows, and infers it from the footers only when a holding
  * version may have changed it. */
class BucketedStoreSchemaSpec extends SparkSpec {
  import spark.implicits._

  test("a warm read plans without a job; a version another instance wrote is inferred") {
    val dir = Files.createTempDirectory("graft-bss-schema").toString
    val a = new BucketedStateStore(spark, dir, buckets = 2)
    a.writeBuckets(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), Seq(0, 1), 0)
    val (warm, warmJobs) = JobProbe.jobsOf(spark.sparkContext)(a.readAll().get)
    assert(warmJobs == 0, s"a read of the store's own version ran $warmJobs job(s)")
    assert(warm.columns.toSeq == Seq("k", "v"))
    // the known schema is the one a cold instance infers
    val cold0 = new BucketedStateStore(spark, dir, buckets = 2)
    val (inferred, coldJobs) = JobProbe.jobsOf(spark.sparkContext)(cold0.readAll().get)
    assert(coldJobs == 1, s"a cold read ran $coldJobs job(s)")
    assert(warm.schema == inferred.schema)

    // instance B evolves the schema on one bucket only
    val b = new BucketedStateStore(spark, dir, buckets = 2)
    val b1 = Seq(1L).toDF("k").select(b.bucketOf(Seq($"k"))).head().getInt(0)
    b.writeBuckets(Seq((1L, "a2", 7.5)).toDF("k", "v", "score"), Seq("k"), Seq(b1), 1)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "score").as[(Long, String, Option[Double])]
        .collect().map { case (k, v, s) => k -> ((v, s)) }.toMap
    val afterA = a.readAll().get
    assert(afterA.columns.toSeq == Seq("k", "v", "score"))
    assert(rows(afterA) == Map(1L -> (("a2", Some(7.5))), 2L -> (("b", None))),
      "pre-evolution rows must null-fill")
    val cold = new BucketedStateStore(spark, dir, buckets = 2).readAll().get
    assert(cold.schema == afterA.schema)
    assert(rows(cold) == rows(afterA))
  }
}

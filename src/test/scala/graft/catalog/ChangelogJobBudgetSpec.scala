package graft.catalog

import graft.SparkSpec
import java.nio.file.{Files, Path}

import org.apache.spark.graftprobe.JobProbe

/** The Spark-job budget of a primary-key commit's persisted changelog
  * (`'changelog-producer'='input'`): re-producing one INSERT, one
  * predicate DELETE and one MERGE version of a table with 36 live data
  * files and pending equality deletes starts at most three jobs each
  * (the fresh-key collect, the key aggregate's shuffle stage, the
  * write), none of them a file listing, and the produced feed equals
  * the audited two-snapshot diff. Reads of manifest-listed files start
  * no listing job either. Above the vector ceiling the joins take over:
  * no budget, the same rows. */
class ChangelogJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.selectExpr("op", "to_json(before) AS b", "to_json(after) AS a")
      .collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}")
      .sorted.toSeq

  test("INSERT, DELETE and MERGE changelogs re-produce in at most 3 jobs with no listing job, and equal the two-snapshot diff; above the vector ceiling too") {
    val lake = Files.createTempDirectory("graft-cljb")
    Files.createDirectories(lake.resolve("m"))
    val cat = "cljb"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try {
      val t = s"$cat.m.t"
      val dir: Path = lake.resolve("m/t.parquet")
      spark.sql(
        s"""CREATE TABLE $t (k BIGINT NOT NULL, v STRING, n BIGINT)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  '${PkTables.ChangelogProducerProp}'='input')""".stripMargin)
      // 9 appends over every bucket: 36 live data files
      (0 until 9).foreach { i =>
        spark.range(0, 40).selectExpr("id AS k",
          s"concat('v', id, '-$i') AS v", s"id * 10 + $i AS n")
          .write.mode("append").insertInto(t)
      }
      // pending equality deletes
      spark.sql(s"DELETE FROM $t WHERE k % 7 = 0")
      def latest = Snapshots.latest(dir).get.version
      Seq((3L, "up", 1L), (100L, "new", 2L)).toDF("k", "v", "n")
        .write.mode("append").insertInto(t)
      val vInsert = latest
      spark.sql(s"DELETE FROM $t WHERE n > 380")
      val vDelete = latest
      spark.sql(
        s"""MERGE INTO $t t
           |USING (SELECT 5L AS mk, 'm5' AS mv UNION ALL
           |       SELECT 6L AS mk, 'gone' AS mv UNION ALL
           |       SELECT 200L AS mk, 'm200' AS mv) s ON t.k = s.mk
           |WHEN MATCHED AND s.mv = 'gone' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = s.mv
           |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.mk, s.mv, 0)"""
          .stripMargin)
      val vMerge = latest
      val live = Snapshots.latest(dir).get.files
      assert(Snapshots.dataFiles(live).size >= 32, s"${live.size} live files")
      assert(PkTables.eqDeleteFiles(live).nonEmpty)
      assert(Seq(vInsert, vDelete, vMerge).distinct.size == 3)

      val store = ManifestSnapshotReads(spark, dir.toString)
      val row = store.rowSchema
      /** Re-produce `v`'s changelog: its jobs, and its rows against the
        * two-snapshot diff. */
      def reproduce(v: Long): Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
        PartitionedWrite.deleteRecursive(ChangelogProducer.dirFor(dir, v))
        val (_, jobs) = JobProbe.jobStartsOf(spark.sparkContext)(
          ChangelogProducer.produceMissing(spark, dir))
        val served = ChangelogProducer.serve(spark, dir, v, row).getOrElse(
          fail(s"v$v: no persisted changelog after produceMissing"))
        val want = rows(graft.streaming.ChangeFeed.between(
          store, store.parentOf(v).get, v, Seq("k")))
        assert(want.nonEmpty, s"v$v changed no row")
        assert(rows(served) == want, s"v$v: persisted feed != two-snapshot diff")
        assert(!jobs.exists(JobProbe.isListing), s"v$v: a file-listing job ran")
        jobs
      }

      Seq("insert" -> vInsert, "delete" -> vDelete, "merge" -> vMerge)
        .foreach { case (what, v) =>
          val jobs = reproduce(v)
          assert(jobs.size <= 3, s"$what v$v: ${jobs.size} jobs")
        }
      val (_, selectJobs) = JobProbe.jobStartsOf(spark.sparkContext)(
        spark.sql(s"SELECT k, v FROM $t WHERE n > 5").collect())
      assert(selectJobs.nonEmpty && !selectJobs.exists(JobProbe.isListing))

      // over the ceiling: the join plans, the same feed
      spark.conf.set(MorDeletes.VectorMaxConf, "1")
      try Seq(vInsert, vDelete, vMerge).foreach(reproduce)
      finally spark.conf.unset(MorDeletes.VectorMaxConf)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }
}

package graft.catalog

import graft.SparkSpec
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The abort path of every staged lake write, driven through SQL: a
  * registered UDF throws for one key, the job fails (local mode has no
  * task retry), and the write's `abort` runs. Whatever the write —
  * INSERT, copy-on-write UPDATE, merge-on-read UPDATE, MERGE into a PK
  * table — a failed statement must leave the table exactly as it
  * found it:
  *
  *  - the snapshot log did not advance;
  *  - the rows are unchanged;
  *  - no `<table>.__*` staging sibling is left behind;
  *  - the set of files under the table dir is unchanged. */
class WriteAbortSpec extends SparkSpec {
  import spark.implicits._

  spark.udf.register("graft_boom", (n: Long) =>
    if (n == 3L) throw new IllegalStateException(s"boom at $n") else n)

  private def withLake(tag: String)(body: (String, Path) => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-abort-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"abort$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try body(cat, lake)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
      spark.conf.unset(MorDeletes.ModeConf)
    }
  }

  private def filesUnder(dir: Path): Set[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(dir.relativize(_).toString).toSet
    finally s.close()
  }

  private def stagingSiblings(dir: Path): Seq[String] = {
    val s = Files.list(dir.getParent)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(dir.getFileName.toString + ".__")).toSeq
    finally s.close()
  }

  /** Run `failing`, which must fail the job, and check the table at
    * `lake/m/t.parquet` is untouched. */
  private def assertAborted(cat: String, lake: Path)(failing: String): Unit = {
    val dir = lake.resolve("m/t.parquet")
    val rowsBefore = spark.table(s"$cat.m.t").collect().map(_.toString).sorted.toSeq
    val versionsBefore = Snapshots.versions(dir)
    val filesBefore = filesUnder(dir)
    val e = intercept[Exception](spark.sql(failing).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("boom at 3"))), e)
    assert(Snapshots.versions(dir) == versionsBefore,
      "a failed write must not commit a snapshot")
    assert(stagingSiblings(dir).isEmpty,
      s"abort must drop its staging dirs: ${stagingSiblings(dir)}")
    assert(filesUnder(dir) == filesBefore,
      "a failed write must leave no file under the table dir")
    assert(spark.table(s"$cat.m.t").collect().map(_.toString).sorted.toSeq
      == rowsBefore)
  }

  private def mkTable(cat: String, partitioning: String): Unit = {
    spark.sql(
      s"""CREATE TABLE $cat.m.t (n BIGINT, v STRING, region STRING)
         |PARTITIONED BY ($partitioning)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    Seq((1L, "a", "EU"), (2L, "b", "EU"), (3L, "c", "US"),
      (4L, "d", "US"), (5L, "e", "US"))
      .toDF("n", "v", "region").write.mode("append")
      .insertInto(s"$cat.m.t")
  }

  test("INSERT into a versioned partitioned table: a failed write aborts cleanly") {
    withLake("ins") { (cat, lake) =>
      // a bucket-only spec needs no shuffle: the UDF throws inside the
      // write task itself, after it has opened files for earlier rows
      mkTable(cat, "bucket(2, n)")
      assertAborted(cat, lake)(
        s"""INSERT INTO $cat.m.t
           |SELECT graft_boom(id), 'x', 'EU' FROM range(0, 8, 1, 1)""".stripMargin)
    }
  }

  test("copy-on-write UPDATE: a failed rewrite aborts cleanly") {
    withLake("cow") { (cat, lake) =>
      mkTable(cat, "region")
      assertAborted(cat, lake)(
        s"UPDATE $cat.m.t SET v = concat(v, CAST(graft_boom(n) AS STRING))")
    }
  }

  test("merge-on-read UPDATE: a failed delta write aborts cleanly") {
    withLake("mor") { (cat, lake) =>
      mkTable(cat, "region")
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      assertAborted(cat, lake)(
        s"UPDATE $cat.m.t SET v = concat(v, CAST(graft_boom(n) AS STRING))")
    }
  }

  test("MERGE INTO a PK table: a failed delta write aborts cleanly") {
    withLake("pk") { (cat, lake) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.t (k BIGINT NOT NULL, v STRING)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k')""".stripMargin)
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
        .toDF("k", "v").write.mode("append").insertInto(s"$cat.m.t")
      Seq(2L, 3L, 4L, 9L).toDF("mk").createOrReplaceTempView("abort_src")
      assertAborted(cat, lake)(
        s"""MERGE INTO $cat.m.t t USING abort_src s ON t.k = s.mk
           |WHEN MATCHED THEN UPDATE SET v = CAST(graft_boom(s.mk) AS STRING)
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.mk, 'new')""".stripMargin)
    }
  }
}

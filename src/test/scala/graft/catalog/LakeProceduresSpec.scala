package graft.catalog

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.streaming.StateStore

/** The `CALL system.<proc>` surface over a flat `v=<n>` store:
  * argument binding and the staged-rewrite publish of zorder. */
class LakeProceduresSpec extends SparkSpec {
  import spark.implicits._

  private def withLake(cat: String)(f: Path => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-$cat")
    Files.createDirectories(lake.resolve("m"))
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try f(lake)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }

  test("NULL procedure arguments are rejected, naming the procedure and parameter") {
    withLake("lpnull") { lake =>
      val dir = lake.resolve("m/s.parquet")
      val store = new StateStore(spark, dir.toString)
      store.write(Seq(1L).toDF("id"), 0L)
      store.write(Seq(1L, 2L).toDF("id"), 1L)
      store.write(Seq(1L, 2L, 3L).toDF("id"), 2L)
      def rejects(sql: String, proc: String, param: String): Unit = {
        val e = intercept[IllegalArgumentException](spark.sql(sql).collect())
        assert(e.getMessage.contains(proc) && e.getMessage.contains(s"'$param'"),
          e.getMessage)
      }
      rejects("CALL lpnull.system.snapshots(NULL)", "snapshots", "tbl")
      // a NULL version must not read as 0 and re-commit v0
      rejects("CALL lpnull.system.rollback('m.s', NULL)", "rollback", "version")
      assert(store.versions == Seq(0L, 1L, 2L))
      assert(spark.table("lpnull.m.s").count() == 3L)
      // a NULL age must not read as 0 and skip the age guard on a
      // staging dir a live writer just created
      val staging = lake.resolve("m/s.parquet.__rewrite")
      Files.createDirectories(staging)
      rejects("CALL lpnull.system.vacuum('m.s', NULL)", "vacuum", "older_than_ms")
      assert(Files.isDirectory(staging))
    }
  }

  test("zorder on a flat v=<n> store commits latest+1 over the old version, rows and history intact") {
    withLake("lpzflat") { lake =>
      val dir = lake.resolve("m/z.parquet")
      val store = new StateStore(spark, dir.toString)
      val v0 = (0L until 8L).map(i => (i, 7L - i, s"r$i"))
      val v1 = (0L until 40L).map(i => (i % 8L, i / 8L, s"r$i"))
      store.write(v0.toDF("x", "y", "s"), 0L)
      store.write(v1.toDF("x", "y", "s"), 1L)
      val nv = spark.sql("CALL lpzflat.system.zorder('m.z', 'x', 'y', 2)")
        .as[Long].head()
      assert(nv == 2L)
      assert(store.versions == Seq(0L, 1L, 2L))
      val parents = spark.sql("CALL lpzflat.system.snapshots('m.z')")
        .select("version", "parent").as[(Long, Option[Long])].collect().toMap
      assert(parents(2L).contains(1L), parents.toString)
      def rows(sql: String) =
        spark.sql(sql).as[(Long, Long, String)].collect().sorted.toSeq
      assert(rows("SELECT x, y, s FROM lpzflat.m.z") == v1.sorted)
      assert(rows("SELECT x, y, s FROM lpzflat.m.z VERSION AS OF 1") == v1.sorted)
      assert(rows("SELECT x, y, s FROM lpzflat.m.z VERSION AS OF 0") == v0.sorted)
      // published by rename: nothing is left in the staging dir
      assert(!Files.exists(lake.resolve("m/z.parquet.__rewrite")))
    }
  }
}

package graft.catalog

import graft.SparkSpec
import java.nio.file.Files

/** RENAME COLUMN on a primary-key table carries the sidecar's
  * per-column declarations to the new name: the resolved read keeps
  * folding a renamed `'fields.<c>.aggregate-function'` column with its
  * declared function, and a renamed `'sequence.field'` keeps ordering
  * versions and keeps DML working. */
class PkRenameSpec extends SparkSpec {
  import spark.implicits._

  private def withLake(tag: String)(body: String => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-pkrn-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"pkrn$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try body(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }

  test("a renamed sum column keeps folding with sum") {
    withLake("agg") { cat =>
      val t = s"$cat.m.ag"
      spark.sql(
        s"""CREATE TABLE $t (k BIGINT NOT NULL, s BIGINT)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  'merge-engine'='aggregation',
           |  'fields.s.aggregate-function'='sum')""".stripMargin)
      Seq((1L, 10L)).toDF("k", "s").write.mode("append").insertInto(t)
      Seq((1L, 5L)).toDF("k", "s").write.mode("append").insertInto(t)
      def total(c: String): Long =
        spark.sql(s"SELECT $c FROM $t WHERE k = 1").head().getLong(0)
      assert(total("s") == 15L)
      spark.sql(s"ALTER TABLE $t RENAME COLUMN s TO total")
      assert(total("total") == 15L, "the rename lost the sum declaration")
      Seq((1L, 1L)).toDF("k", "total").write.mode("append").insertInto(t)
      assert(total("total") == 16L)
    }
  }

  test("a renamed sequence.field keeps ordering versions and DELETE keeps working") {
    withLake("seq") { cat =>
      val t = s"$cat.m.sq"
      spark.sql(
        s"""CREATE TABLE $t (k BIGINT NOT NULL, ver BIGINT NOT NULL, v STRING)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  'sequence.field'='ver')""".stripMargin)
      Seq((1L, 5L, "a"), (2L, 1L, "b")).toDF("k", "ver", "v")
        .write.mode("append").insertInto(t)
      spark.sql(s"ALTER TABLE $t RENAME COLUMN ver TO rev")
      // a late replay below the live field value loses
      Seq((1L, 3L, "late")).toDF("k", "rev", "v")
        .write.mode("append").insertInto(t)
      spark.sql(s"DELETE FROM $t WHERE k = 2")
      val got = spark.sql(s"SELECT k, rev, v FROM $t").as[(Long, Long, String)]
        .collect().toSeq
      assert(got == Seq((1L, 5L, "a")))
    }
  }
}

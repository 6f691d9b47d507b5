package graft.catalog

import graft.SparkSpec
import java.nio.file.Files

/** A lake scan offers runtime (dynamic-partition-pruning) filtering only
  * on the partition and bucket columns its read schema keeps: Spark
  * resolves them against the scan's output, so a join that selects none
  * of them must still plan, and answer as the unpruned join does. */
class RuntimeFilterPrunedKeySpec extends SparkSpec {
  import spark.implicits._

  test("a join that selects no partition or bucket column of a lake table plans and answers") {
    val lake = Files.createTempDirectory("graft-rfpk")
    Files.createDirectories(lake.resolve("m"))
    val cat = "rfpk"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try {
      spark.sql(
        s"""CREATE TABLE $cat.m.pk (k BIGINT NOT NULL, g BIGINT, cents BIGINT)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k')""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $cat.m.part (g BIGINT, cents BIGINT, day STRING)
           |PARTITIONED BY (day)""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $cat.m.d (g BIGINT NOT NULL, title STRING)
           |PARTITIONED BY (bucket(2, g))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='g')""".stripMargin)
      val facts = (0L until 200L).map(k => (k, k % 10, k * 3))
      facts.toDF("k", "g", "cents").write.mode("append").insertInto(s"$cat.m.pk")
      facts.map { case (k, g, c) => (g, c, s"d${k % 4}") }.toDF("g", "cents", "day")
        .write.mode("append").insertInto(s"$cat.m.part")
      (0L until 8L).map(g => (g, s"t$g")).toDF("g", "title")
        .write.mode("append").insertInto(s"$cat.m.d")
      val want = facts.filter(_._2 < 8).groupBy(f => s"t${f._2}")
        .map { case (t, fs) => s"$t|${fs.map(_._3).sum}" }.toSeq.sorted
      Seq("pk", "part").foreach { t =>
        val got = spark.sql(
          s"""SELECT d.title, sum(f.cents) FROM $cat.m.$t f JOIN $cat.m.d d
             |ON f.g = d.g GROUP BY d.title""".stripMargin)
          .collect().map(r => s"${r.getString(0)}|${r.getLong(1)}").toSeq.sorted
        assert(got == want, s"$t: join over the pruned-key scan")
      }
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }
}

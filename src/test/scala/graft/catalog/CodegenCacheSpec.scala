package graft.catalog

import graft.SparkSpec
import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-code cache holds a whole lake cycle: a primary-key
  * table with the input changelog producer takes an INSERT, a
  * `DELETE … IN`, a MERGE into its dimension, a join-MV refresh with a
  * `max` aggregate, `CALL compact` and a read. The first cycle compiles
  * well over Spark's default 100-entry cache (the driver and executor
  * tasks each compile their own copy of a class); the second, running
  * the same plans over new rows, compiles almost nothing. */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  /** Compiles the second cycle may still pay: classes whose code inlines
    * a per-commit literal, and stages whose whole-stage id (part of the
    * class name) moved when AQE re-planned. */
  private val WarmCycleCompiles = 24L

  test("a repeated lake cycle reuses its generated classes") {
    val lake = Files.createTempDirectory("graft-cgc")
    Files.createDirectories(lake.resolve("m"))
    val cat = "cgc"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try {
      val (f, d, mv) = (s"$cat.m.f", s"$cat.m.d", s"$cat.m.mv")
      spark.sql(
        s"""CREATE TABLE $f (k BIGINT NOT NULL, g BIGINT, cents BIGINT,
           |  st STRING, ts TIMESTAMP)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  '${PkTables.ChangelogProducerProp}'='input')""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $d (g BIGINT NOT NULL, title STRING)
           |PARTITIONED BY (bucket(2, g))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='g',
           |  '${PkTables.ChangelogProducerProp}'='input')""".stripMargin)
      // each cycle's rows are local data, as a CDC batch is: a literal
      // in the SQL text would be a new class every cycle
      def facts(lo: Long, n: Long, i: Int): Unit =
        (lo until lo + n).map(k => (k, k % 20, k * 3 + i,
          Seq("paid", "held", "void")(((k + i) % 3).toInt),
          new java.sql.Timestamp((1700000000L + k * 60 + i) * 1000)))
          .toDF("k", "g", "cents", "st", "ts").createOrReplaceTempView("cgc_facts")
      def dims(i: Int): Unit =
        (0L until 20L + i).map(g => (g, s"t$g-$i")).toDF("g", "title")
          .createOrReplaceTempView("cgc_dims")
      facts(0, 300, 0)
      spark.sql(s"INSERT INTO $f SELECT * FROM cgc_facts")
      dims(0)
      spark.sql(s"INSERT INTO $d SELECT * FROM cgc_dims")
      MaterializedView.createJoin(spark, mv, f, d,
        factKeys = Seq("k"), joinCols = Seq("g"), groupBy = Seq("g", "title", "st"),
        aggs = Seq("cents" -> "sum", "cents" -> "count", "ts" -> "max"), buckets = 4)

      val recompute =
        s"""SELECT f.g, d.title, f.st, sum(f.cents), count(f.cents), max(f.ts),
           |  count(*) FROM $f f JOIN $d d ON f.g = d.g GROUP BY f.g, d.title, f.st""".stripMargin
      /** One cycle over new rows; returns the classes it compiled. */
      def cycle(i: Int): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        facts(250 + 100L * i, 150, i)
        spark.sql(s"INSERT INTO $f SELECT * FROM cgc_facts")
        spark.sql(s"DELETE FROM $f WHERE k IN " +
          (0 until 16).map(j => 100L * i + 7 * j).mkString("(", ",", ")"))
        dims(i)
        spark.sql(
          s"""MERGE INTO $d t USING cgc_dims s ON t.g = s.g
             |WHEN MATCHED THEN UPDATE SET title = s.title
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        MaterializedView.refresh(spark, mv)
        spark.sql(s"CALL $cat.system.compact('m.f', 4)")
        spark.sql(s"CALL $cat.system.compact('m.d', 2)")
        spark.sql(s"CALL $cat.system.compact('m.mv', 4)")
        val got = spark.sql(s"SELECT g, title, st, sum_cents, count_cents, " +
          s"max_ts, mv_rows FROM $mv").collect().map(_.toString).sorted.toSeq
        assert(got == spark.sql(recompute).collect().map(_.toString).sorted.toSeq,
          s"cycle $i: the refreshed MV differs from its recompute")
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      val cold = cycle(1)
      val warm = cycle(2)
      info(s"compiles: first cycle $cold, second cycle $warm")
      assert(cold > 100, s"the first cycle compiled $cold classes; the check needs " +
        "a working set larger than Spark's default cache")
      assert(warm <= WarmCycleCompiles, s"the second cycle compiled $warm classes " +
        s"(first: $cold); a cache smaller than the cycle's working set recompiles it")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }
}

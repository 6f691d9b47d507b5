package graft.catalog

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** The two-state resolved read ([[MorDeletes.versionDiff]]) under
  * RENAME COLUMN evolution, and the plan of its plain-table form.
  * THE LAW: for every commit after a rename, the one-pass diff is
  * taken (`fastDiff` is Some) and its rows equal the audited
  * two-snapshot diff (`ChangeFeed.between`) — on a PK aggregation
  * table whose renamed column carries a field-agg declaration (the
  * pick is keyed by LOGICAL name, the files speak the PHYSICAL one)
  * and on a plain merge-on-read table whose renamed value column goes
  * through an append, a MoR DELETE and a MoR UPDATE. */
class VersionDiffSpec extends SparkSpec {
  import spark.implicits._

  private def withLake(tag: String)(body: (String, Path) => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-vd-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"vd$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try body(cat, lake)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
      spark.conf.unset(MorDeletes.ModeConf)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.selectExpr("op", "to_json(before) AS b", "to_json(after) AS a")
      .collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}")
      .sorted.toSeq

  private def latest(dir: Path): Long = Snapshots.latest(dir).get.version

  /** Every version in `vs` takes the one-pass diff over its parent, and
    * the diff equals the two-snapshot one. */
  private def assertLaw(dir: Path, keys: Seq[String], vs: Seq[Long]): Unit = {
    val store = ManifestSnapshotReads(spark, dir.toString)
    assert(vs.nonEmpty)
    vs.foreach { v =>
      val p = store.parentOf(v).get
      val fd = store.fastDiff(p, v, keys).getOrElse(
        fail(s"v$p->v$v: an additive commit must take the one-pass diff"))
      val want = rows(graft.streaming.ChangeFeed.between(store, p, v, keys))
      assert(want.nonEmpty, s"v$p->v$v: the commit changed no row")
      assert(rows(fd) == want,
        s"v$p->v$v: one-pass diff != two-snapshot diff\n" +
          s"fast: ${rows(fd).mkString("\n")}\nwant: ${want.mkString("\n")}")
    }
  }

  test("PK aggregation table, field-agg column renamed: every later additive commit's one-pass diff equals the two-snapshot diff") {
    withLake("pk") { (cat, lake) =>
      val t = s"$cat.m.ag"
      val dir = lake.resolve("m/ag.parquet")
      spark.sql(
        s"""CREATE TABLE $t (k BIGINT NOT NULL, s BIGINT, tag STRING)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  'merge-engine'='aggregation',
           |  'fields.s.aggregate-function'='sum')""".stripMargin)
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("k", "s", "tag").write.mode("append").insertInto(t)
      spark.sql(s"ALTER TABLE $t RENAME COLUMN s TO total")
      val vs = Seq(
        () => Seq((1L, 5L, "a2"), (4L, 40L, "d")).toDF("k", "total", "tag")
          .write.mode("append").insertInto(t),
        () => spark.sql(s"DELETE FROM $t WHERE k = 2"),
        () => spark.sql(
          s"""MERGE INTO $t t
             |USING (SELECT 3 AS mk, 7 AS mt UNION ALL
             |       SELECT 5 AS mk, 50 AS mt) s ON t.k = s.mk
             |WHEN MATCHED THEN UPDATE SET total = s.mt
             |WHEN NOT MATCHED THEN INSERT (k, total, tag)
             |  VALUES (s.mk, s.mt, 'new')""".stripMargin),
        () => Seq((3L, 1L, null.asInstanceOf[String])).toDF("k", "total", "tag")
          .write.mode("append").insertInto(t)
      ).map { commit => commit(); latest(dir) }
      assertLaw(dir, Seq("k"), vs)
    }
  }

  test("plain merge-on-read table, value column renamed: append, MoR DELETE and MoR UPDATE each equal the two-snapshot diff") {
    withLake("mor") { (cat, lake) =>
      val t = s"$cat.m.t"
      val dir = lake.resolve("m/t.parquet")
      spark.sql(
        s"""CREATE TABLE $t (k BIGINT, v STRING, x BIGINT)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true')""".stripMargin)
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("k", "v", "x").write.mode("append").insertInto(t)
      spark.sql(s"ALTER TABLE $t RENAME COLUMN x TO amount")
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      val vs = Seq(
        () => Seq((4L, "d", 40L)).toDF("k", "v", "amount")
          .write.mode("append").insertInto(t),
        () => spark.sql(s"DELETE FROM $t WHERE v = 'c'"),
        () => spark.sql(s"UPDATE $t SET amount = amount + 5 WHERE k % 2 = 0")
      ).map { commit => commit(); latest(dir) }
      assert(Snapshots.deleteFiles(Snapshots.latest(dir).get.files).nonEmpty)
      assertLaw(dir, Seq("k"), vs)
    }
  }

  test("plain merge-on-read table with pending position deletes, default settings: the full data scan sits under exactly ONE Exchange") {
    withLake("plan") { (cat, lake) =>
      val t = s"$cat.m.t"
      val dir = lake.resolve("m/t.parquet")
      spark.sql(
        s"""CREATE TABLE $t (k BIGINT, v STRING)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true')""".stripMargin)
      spark.range(0, 2000).selectExpr("id AS k", "concat('v', id) AS v")
        .write.mode("append").insertInto(t)
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      spark.sql(s"DELETE FROM $t WHERE k % 17 = 0")
      spark.sql(s"UPDATE $t SET v = concat(v, '+') WHERE k % 13 = 0")
      val store = ManifestSnapshotReads(spark, dir.toString)
      val v = store.versions.max
      val p = store.parentOf(v).get
      assert(Snapshots.deleteFiles(Snapshots.read(dir, p).get.files).nonEmpty,
        "the parent must carry pending position deletes")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        // AQE off: executedPlan is the final static plan WITH its
        // exchanges
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val fd = store.fastDiff(p, v, Seq("k")).getOrElse(
          fail("a MoR UPDATE must stay on the one-pass path"))
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val plan = fd.queryExecution.executedPlan
        val dataScans = plan.collect {
          case s: FileSourceScanExec
              if !s.relation.location.rootPaths.exists(
                _.toString.contains(Snapshots.DeleteDirName)) => s
        }
        assert(dataScans.nonEmpty, "no data scan in the one-pass plan")
        val full = dataScans.maxBy(_.relation.location.inputFiles.length)
        def exchangesAbove(n: org.apache.spark.sql.execution.SparkPlan)
            : Option[Int] =
          if (n eq full) Some(0)
          else n.children.flatMap(exchangesAbove).headOption.map(c =>
            c + (if (n.isInstanceOf[ShuffleExchangeExec]) 1 else 0))
        assert(exchangesAbove(plan).contains(1),
          s"the full data scan must sit under exactly ONE Exchange, " +
            s"got ${exchangesAbove(plan)}:\n$plan")
        val want = rows(graft.streaming.ChangeFeed.between(store, p, v, Seq("k")))
        assert(rows(fd) == want, "one-pass diff != two-snapshot diff")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}

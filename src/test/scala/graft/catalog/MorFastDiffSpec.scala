package graft.catalog

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** The ONE-PASS version diff for plain (non-PK) merge-on-read tables
  * ([[MorDeletes.versionDiff]], r17 optimization). THE LAW: under
  * the key-identity contract every feed consumer assumes, its rows
  * equal the audited two-snapshot diff (`ChangeFeed.between`) for
  * every purely-additive commit — appends, MoR DELETE, MoR
  * UPDATE/MERGE — including NULL-keyed rows (which must emit the
  * full-outer's d+c churn, ungrouped). Copy-on-write commits replace
  * files and must decline (None → fallback). */
class MorFastDiffSpec extends SparkSpec {
  import spark.implicits._

  private def withLake(tag: String)(body: (String, Path) => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-mfd-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"mfd$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try body(cat, lake)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.selectExpr("op", "to_json(before) AS b", "to_json(after) AS a")
      .collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}")
      .sorted.toSeq

  private def checkAll(lake: Path, tbl: String, keys: Seq[String],
                       expectFastOn: Set[Long]): Unit = {
    val dir = lake.resolve(s"m/$tbl.parquet")
    val store = ManifestSnapshotReads(spark, dir.toString)
    val vs = store.versions
    var fast = Set.empty[Long]
    vs.foreach { v =>
      store.parentOf(v).filter(vs.contains).foreach { p =>
        store.fastDiff(p, v, keys) match {
          case Some(fd) =>
            fast += v
            val want = rows(graft.streaming.ChangeFeed.between(
              store, p, v, keys))
            assert(rows(fd) == want,
              s"$tbl v$p->v$v: one-pass diff != two-snapshot diff\n" +
                s"fast: ${rows(fd).mkString("\n")}\n" +
                s"want: ${want.mkString("\n")}")
          case None => ()
        }
      }
    }
    assert(expectFastOn.subsetOf(fast),
      s"$tbl: expected the fast path on ${expectFastOn -- fast} " +
        s"(took it on $fast)")
  }

  test("append, MoR DELETE, MoR UPDATE and a null-keyed row all match the two-snapshot diff; copy-on-write falls back") {
    withLake("a") { (cat, lake) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.t (k BIGINT, v STRING, x BIGINT)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true')""".stripMargin)
      // v1: base rows incl. a NULL key (full-outer emits d+c churn
      // for it on EVERY version it survives)
      Seq[(java.lang.Long, String, java.lang.Long)](
        (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
        (null, "nk", 99L))
        .toDF("k", "v", "x").write.mode("append").insertInto(s"$cat.m.t")
      // v2: append (new file only)
      Seq((4L, "d", 40L)).toDF("k", "v", "x")
        .write.mode("append").insertInto(s"$cat.m.t")
      spark.conf.set("graft.write.mode", "merge-on-read")
      try {
        spark.sql(s"DELETE FROM $cat.m.t WHERE v = 'c'")        // v3
        spark.sql(
          s"UPDATE $cat.m.t SET x = x + 5 WHERE k % 2 = 0")     // v4
      } finally spark.conf.unset("graft.write.mode")
      checkAll(lake, "t", Seq("k"), expectFastOn = Set(2L, 3L, 4L))
      // copy-on-write DELETE rewrites files: fast path must decline
      spark.sql(s"DELETE FROM $cat.m.t WHERE v = 'd'")          // v5
      val store = ManifestSnapshotReads(
        spark, lake.resolve("m/t.parquet").toString)
      val vC = store.versions.max
      assert(store.fastDiff(store.parentOf(vC).get, vC, Seq("k")).isEmpty,
        "file-replacing commit must fall back to the audited diff")
      // and the whole range still reconciles through versionFeed
      val feed = rows(graft.streaming.ChangeFeed.tableChanges(
        store, 1L, vC, Seq("k")))
      assert(feed.nonEmpty)
    }
  }
}

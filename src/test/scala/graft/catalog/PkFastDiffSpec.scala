package graft.catalog

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** The ONE-PASS version diff ([[MorDeletes.versionDiff]], r17
  * optimization): for a purely-additive commit on a PK table the
  * changelog computes as one scan + one key shuffle. THE LAW: its
  * rows are IDENTICAL to the audited two-snapshot diff
  * (`ChangeFeed.between(parent, v)`) — checked here for every commit
  * of end-to-end lifecycles across all four merge engines, equality
  * deletes (blind + predicate + revive), `'sequence.field'` replay
  * ordering, and in-batch duplicate keys. File-replacing commits
  * (compact) must NOT take the fast path (None → fallback). */
class PkFastDiffSpec extends SparkSpec {
  import spark.implicits._

  private def withLake(tag: String)(body: (String, Path) => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-pkfd-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"pkfd$tag"
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

  /** Assert the law on every parent-child pair of the table's log:
    * where the fast path applies it matches `between`; collect how
    * many commits took it (the lifecycle must exercise BOTH paths
    * unless `expectAllFast`). */
  private def checkAll(lake: Path, tbl: String,
                       expectFastOn: Set[Long] = Set.empty): Unit = {
    val dir = lake.resolve(s"m/$tbl.parquet")
    val store = ManifestSnapshotReads(spark, dir.toString)
    val vs = store.versions
    var fast = Set.empty[Long]
    vs.foreach { v =>
      store.parentOf(v).filter(vs.contains).foreach { p =>
        store.fastDiff(p, v, PkTables.read(dir).get.keys) match {
          case Some(fd) =>
            fast += v
            val want = rows(graft.streaming.ChangeFeed.between(
              store, p, v, PkTables.read(dir).get.keys))
            assert(rows(fd) == want,
              s"$tbl v$p->v$v: one-pass diff != two-snapshot diff\n" +
                s"fast: ${rows(fd).mkString("\n")}\n" +
                s"want: ${want.mkString("\n")}")
          case None => ()
        }
      }
    }
    if (expectFastOn.nonEmpty)
      assert(expectFastOn.subsetOf(fast),
        s"$tbl: expected the fast path on ${expectFastOn -- fast} " +
          s"(took it on $fast)")
  }

  test("deduplicate engine: upserts, in-batch dups, predicate delete, blind delete, revive, MERGE — every additive commit matches the two-snapshot diff; compact falls back") {
    withLake("a") { (cat, lake) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.t (k BIGINT NOT NULL, v STRING, x BIGINT)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k')"""
          .stripMargin)
      // v1: in-batch duplicate key (k=1 twice — later row wins)
      Seq((1L, "a", 10L), (1L, "a2", 11L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("k", "v", "x").write.mode("append").insertInto(s"$cat.m.t")
      // v2: upsert + fresh insert
      Seq((2L, "b2", 21L), (4L, "d", 40L)).toDF("k", "v", "x")
        .write.mode("append").insertInto(s"$cat.m.t")
      // v3: predicate delete (delta DML → equality-delete rows)
      spark.sql(s"DELETE FROM $cat.m.t WHERE v = 'c'")
      // v4: MERGE — matched update + not-matched insert
      spark.sql(
        s"""MERGE INTO $cat.m.t t
           |USING (SELECT 1 AS mk, 99 AS mx UNION ALL
           |       SELECT 5 AS mk, 50 AS mx) s ON t.k = s.mk
           |WHEN MATCHED THEN UPDATE SET x = s.mx
           |WHEN NOT MATCHED THEN INSERT (k, v, x)
           |  VALUES (s.mk, 'new', s.mx)""".stripMargin)
      // v5: blind full-PK delete
      spark.sql(s"DELETE FROM $cat.m.t WHERE k = 4")
      // v6: revive below nothing (fresh append after the blind delete)
      Seq((4L, "d2", 41L)).toDF("k", "v", "x")
        .write.mode("append").insertInto(s"$cat.m.t")
      checkAll(lake, "t", expectFastOn = Set(2L, 3L, 4L, 5L, 6L))
      // compact replaces files: the fast path must decline
      spark.sql(s"CALL $cat.system.compact('m.t', 1)")
      val dir = lake.resolve("m/t.parquet")
      val store = ManifestSnapshotReads(spark, dir.toString)
      val vC = store.versions.max
      assert(store.fastDiff(store.parentOf(vC).get, vC, Seq("k")).isEmpty,
        "file-replacing commit must fall back to the audited diff")
    }
  }

  test("large eq-delete backlog, broadcast disabled: the data scan is shuffled exactly ONCE (the canon-threshold join and the image aggregate share the key exchange) and rows still match the audited diff") {
    withLake("eq") { (cat, lake) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.teq (k BIGINT NOT NULL, v STRING)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k')"""
          .stripMargin)
      spark.range(0, 2000).selectExpr("id AS k", "concat('v', id) AS v")
        .write.mode("append").insertInto(s"$cat.m.teq")
      // a BACKLOG of equality-delete commits (each adds eq files)
      (0 until 4).foreach { i =>
        spark.sql(s"DELETE FROM $cat.m.teq WHERE k % 17 = $i")
      }
      val dir = lake.resolve("m/teq.parquet")
      val store = ManifestSnapshotReads(spark, dir.toString)
      val vs = store.versions
      val v = vs.max
      val p = store.parentOf(v).get
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        // force the worst case: every join a sort-merge join; AQE off
        // so executedPlan is the final static plan WITH its exchanges
        // (sparkPlan predates EnsureRequirements and shows none)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val fd = store.fastDiff(p, v, Seq("k")).getOrElse(
          fail("eq-delete commit must stay on the one-pass path"))
        // the plan law: the FULL data scan flows through exactly one
        // Exchange — the canon join (SMJ on the PK) and the final
        // two-image aggregate (grouped by the PK) REUSE that key
        // partitioning instead of re-shuffling the scan
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val plan = fd.queryExecution.executedPlan
        val dataScans = plan.collect {
          case s: FileSourceScanExec
              if !s.relation.location.rootPaths.exists(
                _.toString.contains(PkTables.EqDeleteDirName)) => s
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
        assert(rows(fd) == want, "one-pass diff != two-snapshot diff under SMJ")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }
  }

  test("'sequence.field': out-of-order replays, field-retiring delete, dead replay, field revive — the fast path carries the (field, seq) kill law") {
    withLake("b") { (cat, lake) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.sf (k BIGINT NOT NULL,
           |  ver BIGINT NOT NULL, v STRING)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  'sequence.field'='ver')""".stripMargin)
      Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
        .toDF("k", "ver", "v").write.mode("append").insertInto(s"$cat.m.sf")
      // v2: k=1 advances to field 3
      Seq((1L, 3L, "a3")).toDF("k", "ver", "v")
        .write.mode("append").insertInto(s"$cat.m.sf")
      // v3: late replay at field 2 — must NOT beat field 3 (no feed row
      // for k=1), but k=2's field-2 row wins
      Seq((1L, 2L, "aREPLAY"), (2L, 2L, "b2")).toDF("k", "ver", "v")
        .write.mode("append").insertInto(s"$cat.m.sf")
      // v4: predicate delete retires k=1 at its field
      spark.sql(s"DELETE FROM $cat.m.sf WHERE k = 1")
      // v5: dead replay below the retired field
      Seq((1L, 0L, "DEAD")).toDF("k", "ver", "v")
        .write.mode("append").insertInto(s"$cat.m.sf")
      // v6: genuine revive above the retired field
      Seq((1L, 9L, "alive")).toDF("k", "ver", "v")
        .write.mode("append").insertInto(s"$cat.m.sf")
      checkAll(lake, "sf", expectFastOn = Set(2L, 3L, 4L, 5L, 6L))
    }
  }

  test("partial-update, aggregation (sum/product/bool/listagg/first_value) and first-row engines: state-guarded picks equal the per-state resolution") {
    withLake("c") { (cat, lake) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.pu (k BIGINT NOT NULL, a STRING, b BIGINT)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  'merge-engine'='partial-update')""".stripMargin)
      Seq((1L, "x", null.asInstanceOf[java.lang.Long]),
        (2L, null.asInstanceOf[String], java.lang.Long.valueOf(20L)))
        .toDF("k", "a", "b").write.mode("append").insertInto(s"$cat.m.pu")
      Seq((1L, null.asInstanceOf[String], java.lang.Long.valueOf(11L)),
        (2L, "y", null.asInstanceOf[java.lang.Long]))
        .toDF("k", "a", "b").write.mode("append").insertInto(s"$cat.m.pu")
      // a NULL in a newer fragment never erases (no-op transition for
      // column a of k=1 — the feed must agree with the resolved law)
      Seq((1L, null.asInstanceOf[String], java.lang.Long.valueOf(12L)))
        .toDF("k", "a", "b").write.mode("append").insertInto(s"$cat.m.pu")
      checkAll(lake, "pu", expectFastOn = Set(2L, 3L))

      spark.sql(
        s"""CREATE TABLE $cat.m.ag (k BIGINT NOT NULL, s BIGINT,
           |  p DOUBLE, ba BOOLEAN, tag STRING, fst STRING)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  'merge-engine'='aggregation',
           |  'fields.s.aggregate-function'='sum',
           |  'fields.p.aggregate-function'='product',
           |  'fields.ba.aggregate-function'='bool_and',
           |  'fields.tag.aggregate-function'='listagg',
           |  'fields.fst.aggregate-function'='first_value')""".stripMargin)
      Seq((1L, 10L, 2.0, true, "a", "F1"), (2L, 20L, 3.0, true, "a", "F1"))
        .toDF("k", "s", "p", "ba", "tag", "fst")
        .write.mode("append").insertInto(s"$cat.m.ag")
      Seq((1L, 5L, 2.0, false, "b", "F2"))
        .toDF("k", "s", "p", "ba", "tag", "fst")
        .write.mode("append").insertInto(s"$cat.m.ag")
      Seq((2L, 1L, 1.0, true, "c", "F3"))
        .toDF("k", "s", "p", "ba", "tag", "fst")
        .write.mode("append").insertInto(s"$cat.m.ag")
      checkAll(lake, "ag", expectFastOn = Set(2L, 3L))

      spark.sql(
        s"""CREATE TABLE $cat.m.fr (k BIGINT NOT NULL, v STRING)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  'merge-engine'='first-row')""".stripMargin)
      Seq((1L, "first"), (2L, "b")).toDF("k", "v")
        .write.mode("append").insertInto(s"$cat.m.fr")
      // a later arrival must produce NO feed row for k=1 (first wins)
      Seq((1L, "later"), (3L, "c")).toDF("k", "v")
        .write.mode("append").insertInto(s"$cat.m.fr")
      checkAll(lake, "fr", expectFastOn = Set(2L))
    }
  }
}

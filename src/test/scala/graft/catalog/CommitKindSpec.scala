package graft.catalog

import graft.SparkSpec
import graft.streaming.ChangeFeed
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, struct}

/** The typed commit kind ([[Snapshots.CommitKind]]). The laws:
  *
  *  - KIND LAW: for every version of every log, the feed the engine
  *    serves ([[ChangeFeed.versionFeed]], metadata short-circuit
  *    included) is row-equal to the audited diff against the retained
  *    parent (or the initial load); over a retained parent it is empty
  *    exactly for Replace, Meta and Ref commits, and the metadata
  *    proof ([[graft.streaming.SnapshotReads.provablyEmptyFeed]])
  *    agrees — for every operation the writers emit;
  *  - the proof never reads summary counters: a MoR DELETE whose
  *    manifest lost its delete-file keys still feeds its retraction;
  *  - an unstamped copy-on-write UPDATE on an MV table (`rewrite`) is
  *    a foreign write;
  *  - `fast_forward` counts data and delete files apart. */
class CommitKindSpec extends SparkSpec {
  import spark.implicits._

  private def withLake(tag: String)(body: (String, Path) => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-ck-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"ck$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try body(cat, lake)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
      spark.conf.unset(MorDeletes.ModeConf)
      spark.conf.unset(Snapshots.BranchConf)
    }
  }

  private def morMode[T](body: => T): T = {
    spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
    try body finally spark.conf.unset(MorDeletes.ModeConf)
  }

  private def onBranch[T](name: String)(body: => T): T = {
    spark.conf.set(Snapshots.BranchConf, name)
    try body finally spark.conf.unset(Snapshots.BranchConf)
  }

  private def rowsOf(df: DataFrame): Seq[(String, Option[String], Option[String])] =
    df.selectExpr("op", "to_json(before)", "to_json(after)")
      .as[(String, Option[String], Option[String])].collect().sorted.toSeq

  /** Checks the kind law on every version of one log; returns the
    * operation names it saw. */
  private def law(dir: Path, keys: Seq[String],
                  branch: Option[String] = None): Set[String] = {
    spark.catalog.clearCache()
    val store = ManifestSnapshotReads(spark, dir.toString, branch)
    val row = store.rowSchema
    val vs = store.versions
    vs.map { v =>
      val m = branch.fold(Snapshots.readMeta(dir, v))(
        Snapshots.readBranchMeta(dir, _, v)).get
      val what = s"v$v=${m.operation} (${m.kind})"
      val retainedParent = m.parent.filter(vs.contains)
      val audited = rowsOf(retainedParent match {
        case Some(p) => ChangeFeed.between(store, p, v, keys)
        case None => store.read(v).get.select(lit("c").as("op"),
          lit(null).cast(row).as("before"),
          struct(row.fieldNames.map(col).toSeq: _*).as("after"))
      })
      assert(rowsOf(ChangeFeed.versionFeed(store, v, keys, row)) == audited,
        s"$what: the served feed differs from the audited diff")
      if (retainedParent.nonEmpty)
        assert(audited.isEmpty == (m.kind != Snapshots.CommitKind.Content),
          s"$what: feed $audited")
      assert(store.provablyEmptyFeed(v) == audited.isEmpty,
        s"$what: the metadata proof disagrees with the feed $audited")
      m.operation
    }.toSet
  }

  test("kind law: every written operation's metadata-proved feed equals the audited diff, empty exactly for Replace, Meta and Ref") {
    withLake("law") { (cat, lake) =>
      val t = s"$cat.m.t"
      spark.sql(
        s"""CREATE TABLE $t (k BIGINT, x BIGINT, v STRING, region STRING)
           |PARTITIONED BY (region)
           |TBLPROPERTIES ('versioned'='true')""".stripMargin)
      (1L to 8L).map(i => (i, i * 10L, s"v$i", if (i % 2 == 0) "EU" else "US"))
        .toDF("k", "x", "v", "region").write.mode("append").insertInto(t)
      spark.sql(s"CALL $cat.system.analyze('m.t', 'k')")
      spark.sql(s"CALL $cat.system.bloom_index('m.t', 'k', 1024, 3)")
      MaterializedView.create(spark, s"$cat.m.agg", t, keys = Seq("k"),
        groupBy = Seq("region"), aggs = Seq("x" -> "sum"))
      // copy-on-write first: it refuses pending merge-on-read deletes
      spark.sql(s"UPDATE $t SET v = 'cow' WHERE k = 5")
      spark.sql(s"DELETE FROM $t WHERE k = 6")
      morMode {
        spark.sql(s"DELETE FROM $t WHERE k <= 2")
        spark.sql(s"UPDATE $t SET v = 'u' WHERE k = 3")
        spark.sql(
          s"""MERGE INTO $t t USING (SELECT 4L AS mk UNION ALL SELECT 9L AS mk) s
             |ON t.k = s.mk
             |WHEN MATCHED THEN UPDATE SET x = 0
             |WHEN NOT MATCHED THEN INSERT (k, x, v, region)
             |  VALUES (s.mk, 90, 'new', 'US')""".stripMargin)
      }
      spark.sql(s"CALL $cat.system.rewrite_position_delete_files('m.t')")
      MaterializedView.refresh(spark, s"$cat.m.agg")
      spark.sql(s"CALL $cat.system.compact('m.t', 1)")
      // the refresh range holds only the compact: a watermark bump
      MaterializedView.refresh(spark, s"$cat.m.agg")
      val zv = spark.sql(s"CALL $cat.system.zorder('m.t', 'k', 'x', 1)")
        .as[Long].head()
      spark.sql(s"CALL $cat.system.tag('m.t', 't1', $zv)")
      spark.sql(s"CALL $cat.system.drop_tag('m.t', 't1')")
      spark.sql(s"INSERT OVERWRITE $t VALUES (30, 300, 'ow', 'EU')")
      spark.sql(s"CALL $cat.system.rollback('m.t', $zv)")
      spark.sql(s"CALL $cat.system.branch('m.t', 'b1')")
      onBranch("b1")(Seq((20L, 200L, "br", "EU")).toDF("k", "x", "v", "region")
        .write.mode("append").insertInto(t))
      spark.sql(s"CALL $cat.system.cherry_pick('m.t', 'b1', 1)")
      spark.sql(s"CALL $cat.system.branch('m.t', 'b2')")
      onBranch("b2")(Seq((21L, 210L, "ff", "US")).toDF("k", "x", "v", "region")
        .write.mode("append").insertInto(t))
      spark.sql(s"CALL $cat.system.fast_forward('m.t', 'b2')")
      val dir = lake.resolve("m/t.parquet")
      val dataVs = Snapshots.versions(dir).filter(v => Snapshots.readMeta(dir, v)
        .exists(_.kind != Snapshots.CommitKind.Ref))
      // drops only v0: v1 becomes an initial load over an expired parent
      spark.sql(s"CALL $cat.system.expire_snapshots('m.t', ${dataVs.size - 1})")
      assert(!Snapshots.versions(dir).contains(0L))

      // a primary-key table with a persisted changelog
      spark.sql(
        s"""CREATE TABLE $cat.m.pk (k BIGINT NOT NULL, v STRING, x BIGINT)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  '${PkTables.ChangelogProducerProp}'='input')""".stripMargin)
      (1L to 20L).map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "x")
        .write.mode("append").insertInto(s"$cat.m.pk")
      spark.sql(s"DELETE FROM $cat.m.pk WHERE k % 2 = 0")
      Seq((4L, "revived", 44L)).toDF("k", "v", "x")
        .write.mode("append").insertInto(s"$cat.m.pk")
      spark.sql(s"DELETE FROM $cat.m.pk WHERE k % 3 = 0")
      spark.sql(s"CALL $cat.system.rewrite_eqdelete_files('m.pk')")
      spark.sql(
        s"""MERGE INTO $cat.m.pk t USING (SELECT 1L AS mk) s ON t.k = s.mk
           |WHEN MATCHED THEN UPDATE SET x = 11""".stripMargin)
      spark.sql(s"UPDATE $cat.m.pk SET v = 'u' WHERE k = 5")
      spark.sql(s"CALL $cat.system.compact('m.pk', 1)")

      // a plain table migrated into a manifest log
      spark.sql(
        s"""CREATE TABLE $cat.m.u (k BIGINT, v STRING, region STRING)
           |PARTITIONED BY (region)""".stripMargin)
      Seq((1L, "a", "EU")).toDF("k", "v", "region")
        .write.mode("append").insertInto(s"$cat.m.u")
      spark.sql(s"CALL $cat.system.migrate('m.u')")

      val seen =
        law(dir, Seq("k")) ++ law(dir, Seq("k"), Some("b1")) ++
          law(lake.resolve("m/pk.parquet"), Seq("k")) ++
          law(lake.resolve("m/agg.parquet"), Seq("region")) ++
          law(lake.resolve("m/u.parquet"), Seq("k"))
      val written = Snapshots.Op.written.map(_.name).toSet
      assert(written.subsetOf(seen),
        s"operations never exercised: ${written -- seen}")
    }
  }

  test("the emptiness proof reads file lists, not summary counters: a MoR DELETE whose manifest lost its delete-file keys still feeds its retraction") {
    withLake("plant") { (cat, lake) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.t (k BIGINT, v STRING)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true')""".stripMargin)
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .write.mode("append").insertInto(s"$cat.m.t") // v1
      morMode(spark.sql(s"DELETE FROM $cat.m.t WHERE k = 2")) // v2
      val dir = lake.resolve("m/t.parquet")
      val manifest = dir.resolve(Snapshots.DirName).resolve("s-2.json")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(Files.readString(manifest))
      val summary = node.get("summary")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      Seq("added", "removed", "total").foreach(p =>
        assert(summary.remove(s"$p-delete-files") != null, p))
      Files.writeString(manifest, om.writeValueAsString(node))
      val got = Catalog.readTableChanges(spark, s"$cat.m.t", Seq("k"), 1L, 2L)
        .selectExpr("op", "version", "before.k", "before.v", "after IS NULL")
        .as[(String, Long, Long, String, Boolean)].collect().toSeq
      assert(got == Seq(("d", 2L, 2L, "b", true)), got)
    }
  }

  test("an unstamped copy-on-write UPDATE on an MV table is a foreign write") {
    withLake("mvcow") { (cat, lake) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.src (k BIGINT, grp STRING, x BIGINT)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true')""".stripMargin)
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
        .toDF("k", "grp", "x").write.mode("append")
        .insertInto(s"$cat.m.src")
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
        keys = Seq("k"), groupBy = Seq("grp"), aggs = Seq("x" -> "sum"))
      spark.sql(s"UPDATE $cat.m.agg SET sum_x = sum_x + 1000 WHERE grp = 'a'")
      assert(Snapshots.latest(lake.resolve("m/agg.parquet")).get.operation ==
        "rewrite")
      Seq((4L, "b", 1L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src")
      val e = intercept[IllegalStateException](
        MaterializedView.refresh(spark, s"$cat.m.agg"))
      assert(e.getMessage.contains("did not stamp"), e.getMessage)
    }
  }

  test("fast_forward's summary counts merge-on-read delete files apart from data files") {
    withLake("ff") { (cat, lake) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.t (n BIGINT, region STRING)
           |PARTITIONED BY (region)
           |TBLPROPERTIES ('versioned'='true')""".stripMargin)
      Seq("EU", "US", "APAC").zipWithIndex.foreach { case (r, i) =>
        Seq((i.toLong, r)).toDF("n", "region")
          .write.mode("append").insertInto(s"$cat.m.t")
      }
      spark.sql(s"CALL $cat.system.branch('m.t', 'b')")
      onBranch("b")(morMode(spark.sql(s"DELETE FROM $cat.m.t WHERE n = 1")))
      val v = spark.sql(s"CALL $cat.system.fast_forward('m.t', 'b')")
        .as[Long].head()
      val sm = Snapshots.readMeta(lake.resolve("m/t.parquet"), v).get.summary
      assert(sm == Map("added-data-files" -> 0L, "removed-data-files" -> 0L,
        "total-data-files" -> 3L, "added-delete-files" -> 1L,
        "removed-delete-files" -> 0L, "total-delete-files" -> 1L), sm)
    }
  }
}

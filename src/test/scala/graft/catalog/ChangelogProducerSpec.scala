package graft.catalog

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** Persisted changelog files ([[ChangelogProducer]] —
  * `'changelog-producer'='input'`). The laws:
  *
  *  - CONTENT EQUALITY: the file-served feed ≡ the computed feed — a
  *    producing table and an identical plain table emit byte-equal
  *    changelogs over the same lifecycle;
  *  - hooked write paths (batch insert, delta DML) produce EAGERLY at
  *    commit; unhooked paths self-heal on first read (lazy);
  *  - the feed is genuinely FILE-SERVED: tampering with a version's
  *    persisted files changes what the feed returns (the IO pin — a
  *    wide-range replay opens files, it does not re-diff snapshots);
  *  - schema evolution invalidates stale files (marker mismatch → the
  *    reader falls back to the computed diff, never serves nulls);
  *  - expire GCs the dropped versions' changelog dirs;
  *  - the property requires a PRIMARY-KEY table and a known value. */
class ChangelogProducerSpec extends SparkSpec {
  import spark.implicits._

  private def withLake(tag: String)(body: (String, Path) => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-clp-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"clp$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try body(cat, lake)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }

  private def mkTable(cat: String, name: String, producer: Boolean): Unit =
    spark.sql(
      s"""CREATE TABLE $cat.m.$name (k BIGINT NOT NULL, v STRING,
         |  x BIGINT)
         |PARTITIONED BY (bucket(4, k))
         |TBLPROPERTIES ('versioned'='true', 'primary-key'='k'${
        if (producer) s", '${PkTables.ChangelogProducerProp}'='input'"
        else ""})""".stripMargin)

  /** The shared lifecycle: inserts, an upsert, a predicate delete
    * (delta DML), a MERGE, a blind full-PK delete, a compact. */
  private def lifecycle(cat: String, tbl: String): Unit = {
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "v", "x").write.mode("append")
      .insertInto(s"$cat.m.$tbl")                                // v1
    Seq((2L, "b2", 21L), (4L, "d", 40L)).toDF("k", "v", "x")
      .write.mode("append").insertInto(s"$cat.m.$tbl")           // v2
    spark.sql(s"DELETE FROM $cat.m.$tbl WHERE v = 'c'")          // v3
    spark.sql(
      s"""MERGE INTO $cat.m.$tbl t
         |USING (SELECT 1 AS mk, 99 AS mx UNION ALL
         |       SELECT 5 AS mk, 50 AS mx) s ON t.k = s.mk
         |WHEN MATCHED THEN UPDATE SET x = s.mx
         |WHEN NOT MATCHED THEN INSERT (k, v, x)
         |  VALUES (s.mk, 'new', s.mx)""".stripMargin)           // v4
    spark.sql(s"DELETE FROM $cat.m.$tbl WHERE k = 4")            // v5 blind
    spark.sql(s"CALL $cat.system.compact('m.$tbl', 1)")          // v6
  }

  private def feed(cat: String, tbl: String,
                   from: Long, to: Long): Seq[(String, Long, String, String)] =
    Catalog.readTableChanges(spark, s"$cat.m.$tbl", Seq("k"), from, to)
      .selectExpr("op", "version", "to_json(before) AS b",
        "to_json(after) AS a")
      .as[(String, Long, String, String)].collect()
      .sortBy(r => (r._2, r._4, r._3)).toSeq

  test("content law: file-served feed equals the computed feed over the full lifecycle; hooked paths produce eagerly, blind paths heal lazily") {
    withLake("a") { (cat, lake) =>
      mkTable(cat, "prod", producer = true)
      mkTable(cat, "plain", producer = false)
      lifecycle(cat, "prod")
      lifecycle(cat, "plain")
      val dir = lake.resolve("m/prod.parquet")
      // EAGER: the batch-write and delta-DML commits persisted their
      // versions at commit time (v1, v2 inserts; v3 delete; v4 merge)
      Seq(1L, 2L, 3L, 4L).foreach(v =>
        assert(Files.isDirectory(ChangelogProducer.dirFor(dir, v)),
          s"v$v should be eagerly persisted"))
      // the blind full-PK delete (v5) commits off the hooked paths —
      // produced lazily by the first read below
      val lazyV = 5L
      val hadLazy = Files.isDirectory(ChangelogProducer.dirFor(dir, lazyV))
      val got = feed(cat, "prod", 0L, 6L)
      val want = feed(cat, "plain", 0L, 6L)
      assert(got == want, "file-served ≡ computed")
      assert(Files.isDirectory(ChangelogProducer.dirFor(dir, lazyV)),
        s"v$lazyV self-heals on first read (was persisted: $hadLazy)")
      // the plain table never writes changelog files
      assert(!Files.isDirectory(
        lake.resolve("m/plain.parquet").resolve(ChangelogProducer.DirName)))
      // idempotent: a second read serves the same rows from files
      assert(feed(cat, "prod", 0L, 6L) == want)
    }
  }

  test("the feed is FILE-served: tampering with a version's files changes the feed; removing them restores the computed truth") {
    withLake("b") { (cat, lake) =>
      mkTable(cat, "prod", producer = true)
      Seq((1L, "a", 10L)).toDF("k", "v", "x")
        .write.mode("append").insertInto(s"$cat.m.prod")         // v1
      Seq((2L, "b", 20L)).toDF("k", "v", "x")
        .write.mode("append").insertInto(s"$cat.m.prod")         // v2
      val dir = lake.resolve("m/prod.parquet")
      val v2dir = ChangelogProducer.dirFor(dir, 2L)
      assert(Files.isDirectory(v2dir))
      val truth = feed(cat, "prod", 1L, 2L)
      // tamper: replace v2's persisted rows with a sentinel — if the
      // feed recomputed the diff it could never see this row
      val row = spark.table(s"$cat.m.prod").schema
      PartitionedWrite.deleteRecursive(v2dir)
      val sentinel = Seq((999L, "SENTINEL", -1L)).toDF("k", "v", "x")
      sentinel.selectExpr("'c' AS op",
          "CAST(NULL AS STRING) AS __dummy")
        .select(org.apache.spark.sql.functions.col("op"),
          org.apache.spark.sql.functions.lit(null).cast(row).as("before"),
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.lit(999L).as("k"),
            org.apache.spark.sql.functions.lit("SENTINEL").as("v"),
            org.apache.spark.sql.functions.lit(-1L).as("x")).as("after"))
        .write.parquet(v2dir.toString)
      Files.writeString(v2dir.resolve("_row_schema.json"), row.json)
      val tampered = feed(cat, "prod", 1L, 2L)
      assert(tampered.exists(_._4.contains("SENTINEL")),
        s"the feed must serve the FILES: $tampered")
      // removing the persisted dir re-derives (and re-persists) truth
      PartitionedWrite.deleteRecursive(v2dir)
      assert(feed(cat, "prod", 1L, 2L) == truth)
      assert(Files.isDirectory(v2dir), "re-persisted on read")
    }
  }

  test("schema evolution invalidates stale files: the reader recomputes instead of serving nulls") {
    withLake("c") { (cat, lake) =>
      mkTable(cat, "prod", producer = true)
      mkTable(cat, "plain", producer = false)
      def both(f: String => Unit): Unit = { f("prod"); f("plain") }
      both(t => Seq((1L, "a", 10L)).toDF("k", "v", "x")
        .write.mode("append").insertInto(s"$cat.m.$t"))          // v1
      both(t => spark.sql(
        s"ALTER TABLE $cat.m.$t ADD COLUMN extra STRING"))
      both(t => Seq((2L, "b", 20L, "E")).toDF("k", "v", "x", "extra")
        .write.mode("append").insertInto(s"$cat.m.$t"))          // v2
      spark.catalog.clearCache()
      // v1's persisted file predates the evolution: its schema marker
      // mismatches and the feed recomputes under the NEW schema
      assert(feed(cat, "prod", 0L, 2L) == feed(cat, "plain", 0L, 2L))
    }
  }

  test("provably-empty versions produce marker-only dirs (no feed files); the bulk load over the empty CREATE state feeds as the join-free, exchange-free initial load, row-equal to the audited diff") {
    withLake("e") { (cat, lake) =>
      mkTable(cat, "prod", producer = true)
      Seq((1L, "a", 10L), (2L, "b", 20L), (2L, "b2", 21L))
        .toDF("k", "v", "x").write.mode("append")
        .insertInto(s"$cat.m.prod")               // v1 (v0 = empty CREATE)
      val dir = lake.resolve("m/prod.parquet")
      // v0 (the CREATE): produced eagerly as a MARKER-ONLY dir — the
      // empty feed needs no Spark job and writes no parquet files
      val v0 = ChangelogProducer.dirFor(dir, 0L)
      assert(Files.isDirectory(v0), "v0 produced at the v1 commit")
      val v0Files = {
        val s = Files.list(v0)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toSeq
        } finally s.close()
      }
      assert(v0Files == Seq("_row_schema.json"),
        s"marker-only, got: $v0Files")
      val store = ManifestSnapshotReads(spark, dir.toString)
      val row = store.rowSchema
      // serving the marker-only dir returns the EMPTY feed
      assert(graft.streaming.ChangeFeed
        .versionFeed(store, 0L, Seq("k"), row).count() == 0L)
      // v1's computed feed (the producer's own path): the empty-parent
      // shortcut emits the resolved read as inserts — no diff join
      // operator, and no shuffle beyond the PK resolution's own single
      // key Exchange (the feed adds NO exchange of its own)
      val fast = graft.streaming.ChangeFeed
        .versionFeed(store, 1L, Seq("k"), row, persisted = false)
      assert(fast.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty, "initial load must not plan a diff join")
      assert("Exchange".r.findAllIn(
          fast.queryExecution.executedPlan.toString).size <= 1,
        "initial load adds no exchange beyond the PK resolution's one")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.selectExpr("op", "to_json(before) AS b", "to_json(after) AS a")
          .as[(String, String, String)].collect()
          .sortBy(r => (r._3, r._2)).toSeq
      // row-equal to the audited two-snapshot diff (in-batch dup key
      // included: k=2 resolves to its latest version before feeding)
      assert(rows(fast) ==
        rows(graft.streaming.ChangeFeed.between(store, 0L, 1L, Seq("k"))))
      assert(rows(fast).forall(_._1 == "c"))
      assert(rows(fast).size == 2)
    }
  }

  test("expire GCs dropped versions' changelog dirs; declaration is validated") {
    withLake("d") { (cat, lake) =>
      mkTable(cat, "prod", producer = true)
      (1 to 3).foreach(i =>
        Seq((i.toLong, s"v$i", i.toLong)).toDF("k", "v", "x")
          .write.mode("append").insertInto(s"$cat.m.prod"))      // v1-3
      val dir = lake.resolve("m/prod.parquet")
      Seq(1L, 2L, 3L).foreach(v =>
        assert(Files.isDirectory(ChangelogProducer.dirFor(dir, v))))
      spark.sql(s"CALL $cat.system.expire_snapshots('m.prod', 1)")
      assert(!Files.isDirectory(ChangelogProducer.dirFor(dir, 1L)) &&
        !Files.isDirectory(ChangelogProducer.dirFor(dir, 2L)),
        "expired versions' changelog dirs GC with them")
      // validation
      def fails(ddl: String, frag: String): Unit = {
        val e = intercept[Exception](spark.sql(ddl))
        assert(Option(e.getMessage).exists(_.contains(frag)),
          s"expected '$frag' in: ${e.getMessage}")
      }
      fails(
        s"""CREATE TABLE $cat.m.x1 (k BIGINT, v STRING)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true',
           |  '${PkTables.ChangelogProducerProp}'='input')""".stripMargin,
        "requires")
      fails(
        s"""CREATE TABLE $cat.m.x2 (k BIGINT NOT NULL, v STRING)
           |PARTITIONED BY (bucket(2, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  '${PkTables.ChangelogProducerProp}'='lookup')""".stripMargin,
        "supported")
    }
  }

  test("a no-op version over a tag-pinned retention hole is not provably empty: lazy production raises the computed feed's IllegalStateException and publishes nothing") {
    withLake("f") { (cat, lake) =>
      mkTable(cat, "prod", producer = true)
      mkTable(cat, "plain", producer = false)
      Seq("prod", "plain").foreach { t =>
        Seq((1L, "a", 10L)).toDF("k", "v", "x")
          .write.mode("append").insertInto(s"$cat.m.$t")          // v1
        Seq((2L, "b", 20L)).toDF("k", "v", "x")
          .write.mode("append").insertInto(s"$cat.m.$t")          // v2
        spark.sql(s"CALL $cat.system.tag('m.$t', 'a', 1)")        // v3 no-op over v2
        spark.sql(s"CALL $cat.system.tag('m.$t', 'b', 3)")        // v4 pins v3
        Seq((3L, "c", 30L)).toDF("k", "v", "x")
          .write.mode("append").insertInto(s"$cat.m.$t")          // v5
        // keep=1 retains data v5, the expire itself and the pinned v1
        // and v3: v3's recorded parent v2 is gone while v1 survives
        spark.sql(s"CALL $cat.system.expire_snapshots('m.$t', 1)") // v6
        assert(ManifestSnapshotReads(spark,
          lake.resolve(s"m/$t.parquet").toString).versions ==
          Seq(1L, 3L, 5L, 6L))
      }
      // the computed feed refuses to diff v3 against the wrong parent
      intercept[IllegalStateException](feed(cat, "plain", 1L, 3L))
      // v3's changelog not yet produced: the first read produces it
      // lazily, and must fail the same way
      val dir = lake.resolve("m/prod.parquet")
      PartitionedWrite.deleteRecursive(ChangelogProducer.dirFor(dir, 3L))
      intercept[IllegalStateException](feed(cat, "prod", 1L, 3L))
      assert(!Files.exists(ChangelogProducer.dirFor(dir, 3L)),
        "no marker-only dir may be published for an unprovable version")
    }
  }
}

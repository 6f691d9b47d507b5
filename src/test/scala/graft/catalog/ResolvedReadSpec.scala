package graft.catalog

import graft.SparkSpec
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

/** ONE resolved read across readers ([[MorDeletes.resolve]]): a
  * primary-key table with a `'sequence.field'` carrying pending
  * equality deletes (blind, field-capturing, and a same-commit
  * field-lowering update), and a plain merge-on-read table carrying
  * pending position deletes (DELETE and UPDATE, one row updated twice),
  * read through
  *
  *  - SQL `SELECT *`,
  *  - a key point lookup per key (deleted keys included),
  *  - the change feed's per-version read
  *    ([[graft.streaming.SnapshotReads]]`.read(v)`),
  *  - SQL again after `CALL compact`,
  *
  * return the same rows — at the default deletion-vector ceiling and
  * with vectors disabled (`graft.mor.vector.max-coords` = 0, the join
  * form of both delete kinds). */
class ResolvedReadSpec extends SparkSpec {
  import spark.implicits._

  private val ceilings = Seq("default ceiling" -> None, "vectors off" -> Some("0"))

  private def withLake(tag: String, ceiling: Option[String], mor: Boolean)(
      body: (String, Path) => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-rr-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"rr$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    ceiling.foreach(spark.conf.set(MorDeletes.VectorMaxConf, _))
    if (mor) spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
    try body(cat, lake)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
      spark.conf.unset(MorDeletes.VectorMaxConf)
      spark.conf.unset(MorDeletes.ModeConf)
    }
  }

  private def norm(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** Every reader of `cat.m.t` returns `expect`; compact runs last. */
  private def assertOneRead(cat: String, lake: Path, keyCol: String,
                            keys: Seq[Long], expect: Seq[String]): Unit = {
    val t = s"$cat.m.t"
    val dir = lake.resolve("m/t.parquet")
    spark.catalog.clearCache()
    assert(norm(spark.table(t)) == expect, "SQL SELECT *")
    val lookups = keys.flatMap(k =>
      norm(spark.sql(s"SELECT * FROM $t WHERE $keyCol = $k"))).sorted
    assert(lookups == expect, "key point lookups")
    val v = Snapshots.latest(dir).get.version
    val feedRead = graft.streaming.SnapshotReads.of(spark, dir.toString)
      .get.read(v).get
    assert(norm(feedRead) == expect, "SnapshotReads.read")
    spark.sql(s"CALL $cat.system.compact('m.t', 1)")
    val after = Snapshots.latest(dir).get.files
    assert(Snapshots.deleteFiles(after).isEmpty &&
      PkTables.eqDeleteFiles(after).isEmpty, after)
    spark.catalog.clearCache()
    assert(norm(spark.table(t)) == expect, "after CALL compact")
  }

  for (((label, ceiling), i) <- ceilings.zipWithIndex) {
    test(s"PK table with a sequence field and pending equality deletes: SQL, lookup, SnapshotReads and compact agree ($label)") {
      withLake(s"pk$i", ceiling, mor = false) { (cat, lake) =>
        spark.sql(
          s"""CREATE TABLE $cat.m.t (k BIGINT NOT NULL, ts BIGINT NOT NULL,
             |  v STRING)
             |PARTITIONED BY (bucket(4, k))
             |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
             |  'sequence.field'='ts')""".stripMargin)
        def ins(rows: (Long, Long, String)*): Unit =
          rows.toSeq.toDF("k", "ts", "v").write.mode("append")
            .insertInto(s"$cat.m.t")
        ins((1L, 5L, "five"), (2L, 1L, "two"), (3L, 1L, "three"),
          (4L, 1L, "four"), (5L, 1L, "five5"))
        // two pending field deletes on key 1, the second update lowering
        // the field: its own insert (2, same commit) must survive
        spark.sql(s"UPDATE $cat.m.t SET ts = 10, v = 'ten' WHERE k = 1")
        spark.sql(s"UPDATE $cat.m.t SET ts = 2, v = 'two!' WHERE k = 1")
        ins((2L, 7L, "two-new"))
        ins((2L, 3L, "two-replay")) // late lower-field replay: shadowed
        spark.sql(s"DELETE FROM $cat.m.t WHERE k = 3") // blind
        spark.sql(s"DELETE FROM $cat.m.t WHERE v = 'four'") // captures ts=1
        ins((4L, 0L, "four-replay")) // below the captured field: dead
        val dir = lake.resolve("m/t.parquet")
        assert(PkTables.eqDeleteFiles(Snapshots.latest(dir).get.files).nonEmpty)
        assertOneRead(cat, lake, "k", 1L to 6L,
          Seq("1|2|two!", "2|7|two-new", "5|1|five5"))
        assert(PkTables.resolvedClean(dir, Snapshots.latest(dir).get))
      }
    }

    test(s"plain merge-on-read table with pending position deletes: SQL, lookup, SnapshotReads and compact agree ($label)") {
      withLake(s"mor$i", ceiling, mor = true) { (cat, lake) =>
        spark.sql(
          s"""CREATE TABLE $cat.m.t (n BIGINT, v STRING, region STRING)
             |PARTITIONED BY (region)
             |TBLPROPERTIES ('versioned'='true')""".stripMargin)
        Seq((1L, "a", "EU"), (2L, "b", "EU"), (3L, "c", "US"),
          (4L, "d", "US"), (5L, "e", "EU"), (6L, "f", "US"))
          .toDF("n", "v", "region").write.mode("append")
          .insertInto(s"$cat.m.t")
        spark.sql(s"DELETE FROM $cat.m.t WHERE n = 2")
        spark.sql(s"UPDATE $cat.m.t SET v = concat(v, '!') WHERE n IN (3, 5)")
        spark.sql(s"DELETE FROM $cat.m.t WHERE v = 'f'")
        // the row the first UPDATE appended is deleted in turn
        spark.sql(s"UPDATE $cat.m.t SET v = 'x' WHERE n = 3")
        val dir = lake.resolve("m/t.parquet")
        assert(Snapshots.deleteFiles(Snapshots.latest(dir).get.files).nonEmpty)
        assertOneRead(cat, lake, "n", 1L to 6L,
          Seq("1|a|EU", "3|x|US", "4|d|US", "5|e!|EU"))
      }
    }
  }
}

package graft

import graft.catalog.{GraftLakeCatalog, MaterializedView, PkTables}
import graft.streaming.CdcPipeline
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** graft's `file:` scheme writes without starting a process: a lake
  * cycle and a streaming pipeline start none, while the files and
  * directories it writes carry the modes and bytes Hadoop's stock
  * local file system gives them. */
class NoForkWriteSpec extends SparkSpec {
  import spark.implicits._

  /** Frames of the processes Spark's runtime itself starts whenever it
    * runs: `rm -rf` of a garbage-collected session's artifact dir and
    * the first executor heartbeat's page-size probe. */
  private val SparkRuntime = Seq("org.apache.spark.sql.artifact.ArtifactManager",
    "org.apache.spark.executor.ProcfsMetricsGetter")

  /** The commands of the processes started while `body` runs, with
    * the classes on each start's stack. */
  private def processStarts(body: => Unit): Seq[(String, Seq[String])] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-nofork", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.map(e => e.getString("command") ->
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName)))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  /** POSIX mode (with the file type and the sticky, setuid and setgid
    * bits) and, for a regular file, the bytes of every path under
    * `root`. */
  private def layout(root: JPath): Map[String, (Int, Seq[Byte])] = {
    val s = Files.walk(root)
    try s.iterator.asScala.map(p => root.relativize(p).toString ->
      ((Files.getAttribute(p, "unix:mode").asInstanceOf[Int],
        if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil))).toMap
    finally s.close()
  }

  test("file: is served by graft's local file systems on both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[GraftRawLocalFileSystem])
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.getClass == classOf[GraftLocalFs])
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass == classOf[GraftRawLocalFs])
  }

  test("a lake cycle and two streaming triggers start no process") {
    val dir = Files.createTempDirectory("graft-nofork")
    val cat = "nfw"
    val tickets = StructType(Seq(
      StructField("ticket_id", LongType), StructField("movie_id", LongType),
      StructField("user_id", LongType), StructField("cost", DecimalType(10, 2)),
      StructField("status", StringType), StructField("purchased_at", TimestampType)))
    val movies = StructType(Seq(
      StructField("movie_id", LongType), StructField("title", StringType),
      StructField("start_date", TimestampType), StructField("duration_minutes", IntegerType)))
    def ticket(id: Long, status: String) =
      s"""{"ticket_id":$id,"movie_id":${id % 3},"user_id":${id % 5},"cost":${8 + id}.50,""" +
        s""""status":"$status","purchased_at":"2026-01-01T00:00:00"}"""
    def movie(id: Long, title: String) =
      s"""{"movie_id":$id,"title":"$title","start_date":"2026-02-01T00:00:00","duration_minutes":90}"""

    val started = processStarts {
      Files.createDirectories(dir.resolve("lake/m"))
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.path", dir.resolve("lake").toString)
      try {
        val (f, d, mv) = (s"$cat.m.f", s"$cat.m.d", s"$cat.m.mv")
        spark.sql(
          s"""CREATE TABLE $f (k BIGINT NOT NULL, g BIGINT, cents BIGINT, st STRING)
             |PARTITIONED BY (bucket(4, k))
             |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
             |  '${PkTables.ChangelogProducerProp}'='input')""".stripMargin)
        spark.sql(
          s"""CREATE TABLE $d (g BIGINT NOT NULL, title STRING)
             |PARTITIONED BY (bucket(2, g))
             |TBLPROPERTIES ('versioned'='true', 'primary-key'='g',
             |  '${PkTables.ChangelogProducerProp}'='input')""".stripMargin)
        (0L until 200L).map(k => (k, k % 10, k * 3, Seq("paid", "held")((k % 2).toInt)))
          .toDF("k", "g", "cents", "st").createOrReplaceTempView("nfw_facts")
        (0L until 10L).map(g => (g, s"t$g")).toDF("g", "title").createOrReplaceTempView("nfw_dims")
        spark.sql(s"INSERT INTO $f SELECT * FROM nfw_facts")
        spark.sql(s"INSERT INTO $d SELECT * FROM nfw_dims")
        MaterializedView.createJoin(spark, mv, f, d, factKeys = Seq("k"), joinCols = Seq("g"),
          groupBy = Seq("g", "title", "st"), aggs = Seq("cents" -> "sum"), buckets = 4)
        spark.sql(s"DELETE FROM $f WHERE k IN (3, 17, 42, 101)")
        (5L until 12L).map(g => (g, s"u$g")).toDF("g", "title").createOrReplaceTempView("nfw_dims")
        spark.sql(
          s"""MERGE INTO $d t USING nfw_dims s ON t.g = s.g
             |WHEN MATCHED THEN UPDATE SET title = s.title
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        MaterializedView.refresh(spark, mv)
        spark.sql(s"CALL $cat.system.compact('m.f', 4)")
        val got = spark.sql(s"SELECT g, title, st, sum_cents FROM $mv")
        val want = spark.sql(s"SELECT f.g, d.title, f.st, sum(f.cents) FROM $f f " +
          s"JOIN $d d ON f.g = d.g GROUP BY f.g, d.title, f.st")
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.path")
      }

      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[CdcPipeline.CdcRecord]
      val h = CdcPipeline.start(spark, mem.toDF(), Seq(
        CdcPipeline.TableSpec("tickets", tickets, Seq("ticket_id"), dist = Seq("movie_id")),
        CdcPipeline.TableSpec("movies", movies, Seq("movie_id"))),
        dir.resolve("state").toString, dir.resolve("ckpt").toString, Trigger.ProcessingTime(0))
      try {
        mem.addData((0L to 2L).map(m => CdcPipeline.CdcRecord("movies", "c", 1, null, movie(m, s"M$m"))) ++
          (1L to 12L).map(t => CdcPipeline.CdcRecord("tickets", "c", 2, null, ticket(t, "scheduled"))))
        h.query.processAllAvailable()
        mem.addData(
          CdcPipeline.CdcRecord("tickets", "u", 3, ticket(1, "scheduled"), ticket(1, "live")),
          CdcPipeline.CdcRecord("tickets", "d", 3, ticket(5, "scheduled"), null),
          CdcPipeline.CdcRecord("movies", "u", 3, movie(2, "M2"), movie(2, "M2 redux")))
        h.query.processAllAvailable()
        assert(h.mv().nonEmpty)
      } finally h.query.stop()
    }
    val forked = started.filterNot(_._2.exists(c => SparkRuntime.exists(c.startsWith)))
    info(s"process starts: ${started.size}, of them Spark runtime's: ${started.size - forked.size}")
    assert(forked.isEmpty, s"${forked.size} processes started, e.g. " +
      forked.take(3).map { case (cmd, st) => s"$cmd from ${st.take(8).mkString(" < ")}" }
        .mkString("; "))
  }

  test("written files and directories carry the stock local file system's modes and bytes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), stockConf)
    val sides = Seq(
      (stock: FileSystem, FileContext.getFileContext(URI.create("file:///"), stockConf)),
      (FileSystem.get(URI.create("file:///"), conf),
        FileContext.getFileContext(URI.create("file:///"), conf)))
    val roots = sides.map { case (fs, fc) =>
      val root = Files.createTempDirectory("graft-modes")
      def p(rel: String) = new Path(root.resolve(rel).toString)
      fs.mkdirs(p("d"))
      fs.mkdirs(p("private"), new FsPermission("700"))
      val data = fs.create(p("d/default"))
      data.write("graft".getBytes("UTF-8")); data.close()
      fs.create(p("d/narrow"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(p("sticky/f")).close()
      fs.setPermission(p("sticky"), new FsPermission("1777"))
      fs.setPermission(p("d/default"), new FsPermission("600"))
      fs.rename(p("d/narrow"), p("d/renamed"))
      // a directory made under a setgid one inherits the bit, and a
      // numeric `chmod` keeps it
      fs.mkdirs(p("sgid"))
      Files.setAttribute(root.resolve("sgid"), "unix:mode", Int.box(Integer.parseInt("2775", 8)))
      fs.mkdirs(p("sgid/child"))
      fs.create(p("sgid/child/f")).close()
      fs.setPermission(p("sgid/child"), new FsPermission("700"))
      val out = fc.create(p("ctx/a/log"), EnumSet.of(CreateFlag.CREATE), CreateOpts.createParent())
      out.write(7); out.close()
      fc.mkdir(p("ctx/dir"), FsPermission.getDirDefault, true)
      fc.rename(p("ctx/a/log"), p("ctx/a/committed"))
      root
    }
    val Seq(want, got) = roots.map(layout)
    assert(want.keySet.contains("ctx/a/.committed.crc") && want("d/.default.crc")._2.nonEmpty)
    assert(want("sticky")._1 == Integer.parseInt("41777", 8))
    assert(want("sgid/child")._1 == Integer.parseInt("42700", 8))
    assert(got == want)
  }

  test("a symlinked path still resolves through Hadoop's own link lookup") {
    val root = Files.createTempDirectory("graft-links")
    val target = Files.createDirectories(root.resolve("target"))
    Files.write(target.resolve("f"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(root.resolve("link"), target.resolve("f"))
    val stock = new org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(URI.create("file:///"), new Configuration(spark.sparkContext.hadoopConfiguration))
    val graft = new GraftRawLocalFileSystem()
    graft.initialize(URI.create("file:///"), new Configuration(spark.sparkContext.hadoopConfiguration))
    for (p <- Seq(link, target.resolve("f"), target).map(x => new Path(x.toString))) {
      val (want, got) = (stock.getFileLinkStatus(p), graft.getFileLinkStatus(p))
      assert((got.isSymlink, got.isDirectory, got.getLen, got.getPath) ==
        ((want.isSymlink, want.isDirectory, want.getLen, want.getPath)), p)
      if (want.isSymlink) assert(got.getSymlink == want.getSymlink)
    }
    assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }
}

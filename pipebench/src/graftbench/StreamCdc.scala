package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.Revenue
import graft.sources.CdcSource
import graft.streaming.CdcPipeline

/** `stream_cdc`: verbatim Debezium JSON frames through a MemoryStream,
  * `CdcSource.fromDebezium` and `CdcPipeline.start` (tickets distributed
  * by movie_id, plus movies and users), closed loop with one client: each
  * trigger is a fixed batch, and the client adds the next only after
  * `processAllAvailable` returns. Ticket state keeps growing while the
  * batch size stays fixed. */
object StreamCdc {
  /** Change events loaded before measuring, and per measured trigger. */
  val InitEvents = 4000
  val BatchEvents = 1000
  val WarmTriggers = 3

  val ticketSchema: StructType = new StructType()
    .add("ticket_id", LongType).add("movie_id", LongType).add("user_id", LongType)
    .add("cost", DecimalType(10, 2)).add("status", StringType)
    .add("purchased_at", TimestampType)
  val movieSchema: StructType = new StructType()
    .add("movie_id", LongType).add("title", StringType)
    .add("start_date", TimestampType).add("duration_minutes", IntegerType)
  val userSchema: StructType = new StructType()
    .add("user_id", LongType).add("name", StringType)

  val specs = Seq(
    CdcPipeline.TableSpec("tickets", ticketSchema, Seq("ticket_id"), dist = Seq("movie_id")),
    CdcPipeline.TableSpec("movies", movieSchema, Seq("movie_id")),
    CdcPipeline.TableSpec("users", userSchema, Seq("user_id")))

  /** The generator's current tables as DataFrames, for the batch reference. */
  def ticketsDf(spark: SparkSession, g: Gen): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(g.tickets.values.toSeq.map(t =>
      Row(t.id, t.movieId, t.userId, java.math.BigDecimal.valueOf(t.cents, 2),
        t.status, new java.sql.Timestamp(t.purchasedMs))): _*), ticketSchema)
  def moviesDf(spark: SparkSession, g: Gen): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(g.movies.values.toSeq.map(m =>
      Row(m.id, m.title, new java.sql.Timestamp(m.startMs), m.durationMin)): _*), movieSchema)

  private final class Running(val gen: Gen, val mem: MemoryStream[String],
                              val h: CdcPipeline.Handle, val dir: String)

  private def start(c: Ctx): Running = {
    val spark = c.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    import spark.implicits._
    val dir = s"${c.work}/stream"
    val gen = new Gen(c.seed)
    val mem = MemoryStream[String]
    val h = CdcPipeline.start(spark, CdcSource.fromDebezium(mem.toDF()), specs,
      s"$dir/state", s"$dir/ckpt", Trigger.ProcessingTime(0L))
    mem.addData(gen.next(InitEvents).map(_.frame))
    h.query.processAllAvailable()
    new Running(gen, mem, h, dir)
  }

  /** Committed state versions under `state`: (store, version) -> the
    * buckets its manifest claims. A trigger's new versions are exactly
    * the buckets it rewrote. */
  private def versions(state: String): Map[(String, String), Int] = {
    val root = new java.io.File(state)
    Option(root.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap { store =>
      Option(store.listFiles).toSeq.flatten.filter(_.getName.startsWith("v=")).flatMap { v =>
        val m = new java.io.File(v, "_graft_manifest")
        if (!m.isFile) None
        else {
          val head = java.nio.file.Files.readAllLines(m.toPath).asScala.headOption.getOrElse("")
          Some((store.getName, v.getName) -> head.split(",").count(_.nonEmpty))
        }
      }
    }.toMap
  }

  /** Rows in the parquet files under `dir`, from their footers. */
  private def parquetRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try rd.getRecordCount finally rd.close()
    }.sum
    finally s.close()
  }

  def run(c: Ctx): Result = {
    val r = new Result
    val spark = c.spark
    val s0 = System.nanoTime()
    val live = start(c)
    r.setupS = Stats.secs(s0)
    val w0 = System.nanoTime()
    (1 to WarmTriggers).foreach { _ =>
      live.mem.addData(live.gen.next(BatchEvents).map(_.frame))
      live.h.query.processAllAvailable()
    }
    r.warmS = Stats.secs(w0)
    val (gen, mem, h) = (live.gen, live.mem, live.h)
    c.trace.mark()
    var events = 0L
    var triggers = 0
    // traced: buckets and MV rows each measured trigger rewrote
    val touched = mutable.ArrayBuffer.empty[Double]
    val mvRows = mutable.ArrayBuffer.empty[Double]
    val state = s"${live.dir}/state"
    var seen = if (c.trace.on) versions(state) else Map.empty[(String, String), Int]
    val t0 = System.nanoTime()
    try {
      while (Stats.secs(t0) < c.seconds) {
        val frames = gen.next(BatchEvents).map(_.frame)
        val s0 = System.nanoTime()
        r.op(fatal = true) {
          c.trace.span(s"trigger-$triggers", "trigger") {
            mem.addData(frames)
            h.query.processAllAvailable()
          }
        }
        r.latencies += Stats.secs(s0)
        events += frames.size
        triggers += 1
        if (c.trace.on) {
          val now = versions(state)
          val fresh = now.keySet -- seen.keySet
          touched += fresh.toSeq.map(now).sum.toDouble
          mvRows += fresh.toSeq.collect { case ("movie_revenue_realtime", v) =>
            parquetRows(spark, s"$state/movie_revenue_realtime/$v") }.sum.toDouble
          seen = now
        }
      }
    } catch { case _: Throwable => () }
    val wall = Stats.secs(t0)
    h.query.stop()
    r.throughput = events / wall
    r.named("stream.rows_per_s") = (r.throughput, "rows/s")
    r.named("stream.freshness_mean_s") = (Stats.mean(r.latencies.toSeq), "s")
    r.named("stream.freshness_p50_s") = (Stats.median(r.latencies.toSeq), "s")
    r.named("stream.freshness_p75_s") = (Stats.pct(r.latencies.toSeq, 0.75), "s")
    r.named("stream.triggers") = (triggers.toDouble, "count")

    // correctness: the streamed MV equals the batch recompute over the
    // generator's own tables, and staging holds exactly its rows
    if (r.failed == 0) {
      val mv = h.mv().get
      val ref = Revenue.movieRevenue(ticketsDf(spark, gen), moviesDf(spark, gen))
      r.check("stream MV differs from Revenue.movieRevenue over the ledger",
        mv.exceptAll(ref).isEmpty && ref.exceptAll(mv).isEmpty)
      val staged = h.staging("tickets").get
      r.check("staged tickets differ from the ledger",
        staged.exceptAll(ticketsDf(spark, gen)).isEmpty && staged.count() == gen.tickets.size)
    }

    // space: live state files against the same rows written once
    val liveDfs = Seq("tickets", "movies", "users").flatMap(h.staging) ++ h.mv().toSeq
    val liveFiles = liveDfs.flatMap(_.inputFiles.toSeq)
    val liveBytes = Stats.sizeOf(liveFiles)
    val freshBytes = liveDfs.zipWithIndex.map { case (df, i) =>
      val p = s"${live.dir}/fresh/$i"
      df.coalesce(1).write.parquet(p)
      Stats.du(p)._1
    }.sum
    r.spaceAmp = liveBytes.toDouble / freshBytes

    if (c.trace.on) layers(c, r, events, touched.toSeq, mvRows.toSeq, liveBytes,
      liveFiles.size, liveDfs.map(_.count()).sum)
    r
  }

  private def layers(c: Ctx, r: Result, events: Long, touched: Seq[Double],
                     mvRows: Seq[Double], liveBytes: Long, liveFiles: Int,
                     liveRows: Long): Unit = {
    val tr = c.trace
    val sp = tr.of("trigger")
    val n = math.max(1, sp.size).toDouble
    val acc = sp.map(_.acc)
    val prog = tr.progress.toSeq
    def pd(k: String) = Stats.median(prog.flatMap(_.get(k)))
    val outBytes = acc.map(_.outBytes).sum
    val bytesPerRow = liveBytes.toDouble / math.max(1L, liveRows)
    val L = r.layers
    L("sources.records_in_per_trigger") = Stats.median(prog.flatMap(_.get("numInputRows")))
    L("cdc.state_rows_read_per_change") = acc.map(_.inRows).sum.toDouble / math.max(1L, events)
    L("streaming.add_batch_ms_p50") = pd("addBatch")
    L("streaming.query_planning_ms_p50") = pd("queryPlanning")
    L("streaming.wal_commit_ms_p50") = pd("walCommit")
    L("streaming.jobs_per_trigger") = acc.map(_.jobs).sum / n
    L("streaming.driver_gap_ms_per_trigger") = sp.map(_.gapMs).sum / n
    // streaming jobs carry the call site of the query's start, so the
    // store's share is taken as the tasks that wrote state files
    L("streaming.store_task_s_per_trigger") = acc.map(_.writeTaskMs).sum / 1000.0 / n
    L("streaming.state_bytes_written_per_trigger") = outBytes / n
    L("streaming.write_amp") = outBytes / math.max(1.0, events * bytesPerRow)
    // listings taken right after each trigger, before the next one
    // expires what it superseded
    L("streaming.buckets_touched_per_trigger") = Stats.median(touched)
    L("streaming.state_bytes_live") = liveBytes.toDouble
    L("streaming.state_files_live") = liveFiles.toDouble
    L("operators.mv_rows_written_per_trigger") = Stats.median(mvRows)
    Layers.spark(r, sp)
  }
}

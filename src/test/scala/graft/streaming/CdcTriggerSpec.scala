package graft.streaming

import graft.SparkSpec
import org.apache.spark.graftprobe.JobProbe
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The shape of one `CdcPipeline` trigger: how many Spark jobs it runs,
  * and how it fails when one table's staging apply throws while the
  * others are still applying. */
class CdcTriggerSpec extends SparkSpec {
  import CdcPipeline._
  import spark.implicits._

  private val ticketSchema = StructType(Seq(
    StructField("ticket_id", LongType), StructField("movie_id", LongType),
    StructField("user_id", LongType), StructField("cost", DecimalType(10, 2)),
    StructField("status", StringType), StructField("purchased_at", TimestampType)))
  private val movieSchema = StructType(Seq(
    StructField("movie_id", LongType), StructField("title", StringType),
    StructField("start_date", TimestampType), StructField("duration_minutes", IntegerType)))
  private val userSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("name", StringType)))

  private def ticket(id: Long, movie: Long, status: String) =
    s"""{"ticket_id":$id,"movie_id":$movie,"user_id":${id % 3},"cost":${8 + id}.50,""" +
      s""""status":"$status","purchased_at":"2026-01-01T00:00:00"}"""
  private def movie(id: Long, title: String) =
    s"""{"movie_id":$id,"title":"$title","start_date":"2026-02-01T00:00:00","duration_minutes":90}"""
  private def user(id: Long, name: String) = s"""{"user_id":$id,"name":"$name"}"""

  /** Every `store/v=<n>` dir under a pipeline's state root. */
  private def versionDirs(state: String): Set[String] =
    Option(new java.io.File(state).listFiles).toSeq.flatten.flatMap(store =>
      Option(store.list).toSeq.flatten.filter(_.startsWith("v="))
        .map(v => s"${store.getName}/$v")).toSet

  test("a 3-table trigger runs 10 Spark jobs: one touched-bucket job, no schema inference") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cdc-shape").toString
    val mem = MemoryStream[CdcRecord]
    val h = CdcPipeline.start(spark, mem.toDF(), Seq(
      TableSpec("tickets", ticketSchema, Seq("ticket_id"), dist = Seq("movie_id")),
      TableSpec("movies", movieSchema, Seq("movie_id")),
      TableSpec("users", userSchema, Seq("user_id"))),
      s"$dir/state", s"$dir/ckpt", Trigger.ProcessingTime(0))
    try {
      mem.addData((1L to 4L).map(m => CdcRecord("movies", "c", 1, null, movie(m, s"M$m"))) ++
        (1L to 12L).map(t => CdcRecord("tickets", "c", 2, null, ticket(t, t % 4 + 1, "scheduled"))) ++
        (0L to 2L).map(u => CdcRecord("users", "c", 1, null, user(u, s"U$u"))))
      h.query.processAllAvailable()
      // the measured trigger updates every table over committed state
      val (_, jobs) = JobProbe.jobsOf(spark.sparkContext) {
        mem.addData(
          CdcRecord("tickets", "u", 3, ticket(1, 2, "scheduled"), ticket(1, 2, "live")),
          CdcRecord("tickets", "u", 3, ticket(2, 3, "scheduled"), ticket(2, 4, "scheduled")),
          CdcRecord("tickets", "d", 3, ticket(5, 2, "scheduled"), null),
          CdcRecord("tickets", "c", 3, null, ticket(13, 1, "live")),
          CdcRecord("movies", "u", 3, movie(3, "M3"), movie(3, "M3 redux")),
          CdcRecord("users", "u", 3, user(1, "U1"), user(1, "U1 renamed")))
        h.query.processAllAvailable()
      }
      assert(jobs == 10, s"jobs per trigger: $jobs")
      val mv = h.mv().get
      val ref = graft.operators.Revenue.movieRevenue(
        h.staging("tickets").get, h.staging("movies").get)
      assert(mv.exceptAll(ref).isEmpty && ref.exceptAll(mv).isEmpty)
    } finally h.query.stop()
  }

  test("a failing apply fails the batch with its own error, after the other applies finish") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cdc-fail").toString
    val profileSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("email", StringType)))
    def profile(u: Long, email: String) = s"""{"user_id":$u,"email":"$email"}"""
    val mem = MemoryStream[CdcRecord]
    val h = CdcPipeline.start(spark, mem.toDF(), Seq(
      TableSpec("users", userSchema, Seq("user_id")),
      TableSpec("profiles", profileSchema, Seq("user_id"),
        engine = MergeEngine.PartialUpdate)),
      s"$dir/state", s"$dir/ckpt", Trigger.ProcessingTime(0))
    try {
      mem.addData(
        CdcRecord("users", "c", 1, null, user(1, "a")),
        CdcRecord("profiles", "c", 1, null, profile(1, "a@x")))
      h.query.processAllAvailable()
      // partial-update rejects deletes; the healthy users apply shares the batch
      mem.addData(
        CdcRecord("users", "c", 2, null, user(2, "b")),
        CdcRecord("profiles", "d", 2, profile(1, "a@x"), null))
      val err = intercept[StreamingQueryException](h.query.processAllAvailable())
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      val cause = causes.collectFirst { case e: IllegalStateException => e }
      assert(cause.exists(_.getMessage.contains("partial-update merge engine received")),
        causes.map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n"))
      assert(causes.takeWhile(!_.isInstanceOf[IllegalStateException])
        .forall(_.getClass.getName.startsWith("org.apache.spark")),
        "the apply's error must reach the query unwrapped by graft")
      // every apply of the failed batch has finished: nothing commits
      // after the failure surfaces, and no apply thread is left
      val settled = versionDirs(s"$dir/state")
      Thread.sleep(2000)
      assert(versionDirs(s"$dir/state") == settled)
      assert(!Thread.getAllStackTraces.keySet.asScala
        .exists(t => t.isAlive && t.getName.startsWith("graft-cdc-apply")))
    } finally h.query.stop()
  }
}

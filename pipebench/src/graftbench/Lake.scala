package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.catalog.{Catalog, MaterializedView}

/** `lake_cdc_mv`: primary-key tables `tickets` (`bucket(4, ticket_id)`)
  * and `movies` with the input changelog producer, and the reference's
  * join MV over them in per-status rows. Each generation applies one CDC
  * batch of the ledger as SQL DML (a blind-append upsert, a DELETE of the
  * removed tickets, a MERGE of new and retitled movies), refreshes the MV,
  * and reads its own writes: a PK lookup plus two of the revenue report,
  * the status census, a `VERSION AS OF` read and a `table_changes` range,
  * each checked against the ledger. Every cycle of generations opens with
  * `CALL compact` on all three tables. One client, closed loop. */
object Lake {
  /** Change events of the initial load, and of each generation. */
  val InitEvents = 1500
  val GenEvents = 300
  /** Generations per compaction cycle; each cycle opens with the compact.
    * A run measures the whole number of cycles (at least one) whose length
    * is nearest to `--seconds`, so every rate and percentile covers the
    * same mix of compaction and plain generations. */
  val CycleGens = 2

  private val ticketSchema = new StructType()
    .add("ticket_id", LongType, nullable = false).add("movie_id", LongType)
    .add("user_id", LongType).add("cents", LongType).add("status", StringType)
    .add("purchased_at", TimestampType)
  private val movieSchema = new StructType()
    .add("movie_id", LongType, nullable = false).add("title", StringType)
    .add("duration_minutes", IntegerType)

  private def ticketRow(t: Gen.Ticket) =
    Row(t.id, t.movieId, t.userId, t.cents, t.status, new java.sql.Timestamp(t.purchasedMs))
  private def movieRow(m: Gen.Movie) = Row(m.id, m.title, m.durationMin)

  /** A lake built from one seed: the generator, the catalog name and the
    * lake's own view of the tickets table (the per-version reference). */
  final class Env(val c: Ctx, val cat: String, val root: String) {
    val spark: SparkSession = c.spark
    val gen = new Gen(c.seed)
    val tickets = mutable.LongMap.empty[Gen.Ticket]
    def t(name: String) = s"$cat.m.$name"

    /** Per tickets version: (rows, cents) and its c/u/d feed counts. */
    val versionSums = mutable.LinkedHashMap.empty[Long, (Long, Long)]
    val versionFeed = mutable.Map.empty[Long, Map[String, (Long, Long)]]

    def sql(q: String) = spark.sql(q)
    def ticketsVersion: Long =
      sql(s"SELECT max(version) FROM ${t("tickets")}.history").head().getLong(0)

    private def view(name: String, rows: Seq[Row], schema: StructType): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .createOrReplaceTempView(name)

    /** Records the tickets version a statement committed, with the state
      * the ledger says it holds and the feed it should emit. */
    private def recordVersion(before: Map[Long, Gen.Ticket]): Unit = {
      val v = ticketsVersion
      if (!versionSums.contains(v)) {
        versionSums(v) = (tickets.size.toLong, tickets.valuesIterator.map(_.cents).sum)
        val feed = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
        def add(op: String, cents: Long) = {
          val (n, s) = feed(op); feed(op) = (n + 1, s + cents)
        }
        tickets.foreach { case (k, t) =>
          before.get(k) match {
            case None => add("c", t.cents)
            case Some(b) if b != t => add("u", t.cents)
            case _ => ()
          }
        }
        before.foreach { case (k, b) => if (!tickets.contains(k)) add("d", b.cents) }
        versionFeed(v) = feed.toMap
      }
    }

    def create(): Unit = {
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.path", root)
      sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
      sql(s"""CREATE TABLE ${t("tickets")} (ticket_id BIGINT NOT NULL, movie_id BIGINT,
             |  user_id BIGINT, cents BIGINT, status STRING, purchased_at TIMESTAMP)
             |PARTITIONED BY (bucket(4, ticket_id))
             |TBLPROPERTIES ('versioned'='true', 'primary-key'='ticket_id',
             |  'changelog-producer'='input')""".stripMargin)
      sql(s"""CREATE TABLE ${t("movies")} (movie_id BIGINT NOT NULL, title STRING,
             |  duration_minutes INT)
             |PARTITIONED BY (bucket(2, movie_id))
             |TBLPROPERTIES ('versioned'='true', 'primary-key'='movie_id',
             |  'changelog-producer'='input')""".stripMargin)
      val init = Gen.lakeBatch(gen.next(InitEvents))
      view("cdc_tickets", init.ticketUpserts.map(ticketRow), ticketSchema)
      sql(s"INSERT INTO ${t("tickets")} SELECT * FROM cdc_tickets")
      init.ticketUpserts.foreach(x => tickets(x.id) = x)
      recordVersion(Map.empty)
      view("cdc_movies", init.movieUpserts.map(movieRow), movieSchema)
      sql(s"INSERT INTO ${t("movies")} SELECT * FROM cdc_movies")
      MaterializedView.createJoin(spark, t("rev_mv"), t("tickets"), t("movies"),
        factKeys = Seq("ticket_id"), joinCols = Seq("movie_id"),
        groupBy = Seq("movie_id", "title", "status"),
        aggs = Seq("cents" -> "sum", "cents" -> "count", "purchased_at" -> "max"),
        buckets = 4)
    }

    /** One generation: the ledger's next batch as DML, then the refresh.
      * `stmt` wraps each CDC statement, `refresh` the MV refresh. Returns
      * the changed rows. */
    def generation(stmt: (String, => Unit) => Unit, refresh: (=> Unit) => Unit): Long = {
      val b = Gen.lakeBatch(gen.next(GenEvents))
      if (b.ticketUpserts.nonEmpty) {
        view("cdc_tickets", b.ticketUpserts.map(ticketRow), ticketSchema)
        val before = tickets.toMap
        stmt("upsert", sql(s"INSERT INTO ${t("tickets")} SELECT * FROM cdc_tickets"))
        b.ticketUpserts.foreach(x => tickets(x.id) = x)
        recordVersion(before)
      }
      if (b.ticketDeletes.nonEmpty) {
        val before = tickets.toMap
        stmt("delete", sql(s"DELETE FROM ${t("tickets")} WHERE ticket_id IN " +
          b.ticketDeletes.mkString("(", ",", ")")))
        b.ticketDeletes.foreach(tickets.remove)
        recordVersion(before)
      }
      if (b.movieUpserts.nonEmpty) {
        view("cdc_movies", b.movieUpserts.map(movieRow), movieSchema)
        stmt("merge", sql(
          s"""MERGE INTO ${t("movies")} t USING cdc_movies s ON t.movie_id = s.movie_id
             |WHEN MATCHED THEN UPDATE SET title = s.title, duration_minutes = s.duration_minutes
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      }
      refresh(MaterializedView.refresh(spark, t("rev_mv")))
      b.changedRows
    }

    def compact(): Unit = {
      sql(s"CALL $cat.system.compact('m.tickets', 4)")
      sql(s"CALL $cat.system.compact('m.movies', 2)")
      sql(s"CALL $cat.system.compact('m.rev_mv', 4)")
    }

    /** The MV the ledger implies: tickets ⋈ movies grouped by
      * (movie_id, title, status). */
    def expectedMv: Set[(Long, String, String, Long, Long, Long, Long)] =
      gen.tickets.values.groupBy(x => (x.movieId, x.status)).map { case ((m, s), ts) =>
        (m, gen.movies(m).title, s, ts.map(_.cents).sum, ts.size.toLong,
          ts.map(_.purchasedMs).max, ts.size.toLong)
      }.toSet

    def mvRows: Set[(Long, String, String, Long, Long, Long, Long)] =
      sql(s"SELECT movie_id, title, status, sum_cents, count_cents, max_purchased_at, " +
        s"mv_rows FROM ${t("rev_mv")}").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getAs[Number](3).longValue,
          r.getAs[Number](4).longValue, r.getTimestamp(5).getTime,
          r.getAs[Number](6).longValue)).toSet

    /** Live files (data, delete) of the three tables, and their bytes
      * against the same rows written once as fresh parquet. */
    def space(): (Double, Long, Long) = {
      val names = Seq("tickets", "movies", "rev_mv")
      val files = names.map(n => sql(s"SELECT kind, size_bytes FROM ${t(n)}.files").collect())
      val liveBytes = files.flatten.map(_.getLong(1)).sum
      val fresh = names.map { n =>
        val p = s"$root/fresh/$n"
        spark.table(t(n)).coalesce(1).write.parquet(p)
        Stats.du(p)._1
      }.sum
      (liveBytes.toDouble / fresh, files.flatten.size.toLong,
        files.flatten.count(_.getString(0) != "data").toLong)
    }
  }

  /** The read mix against the lake's current state, with the answer the
    * ledger implies for each: a PK point lookup, the MV ⋈ movies revenue
    * report, the status census, a `VERSION AS OF` read and a
    * `table_changes` range. */
  private final case class Read(kind: String, run: () => Seq[Row], expect: Seq[Row])

  private def read(env: Env, kind: String, rnd: java.util.SplittableRandom): Read = {
    val tickets = env.tickets
    val movies = env.gen.movies
    val versions = env.versionSums.keys.toIndexedSeq.sorted
    kind match {
      case "lookup" =>
        val k = 1L + rnd.nextLong(tickets.keysIterator.max)
        Read(kind, () => env.sql(s"SELECT ticket_id, movie_id, user_id, cents, status " +
          s"FROM ${env.t("tickets")} WHERE ticket_id = $k").collect().toSeq,
          tickets.get(k).map(t => Row(t.id, t.movieId, t.userId, t.cents, t.status)).toSeq)
      case "report" =>
        val rev = tickets.values.groupBy(_.movieId).map { case (m, ts) =>
          (m, movies(m).title, ts.map(_.cents).sum, ts.size.toLong) }.toSeq
        Read(kind, () => env.sql(
          s"""SELECT m.movie_id, m.title, sum(v.sum_cents) AS rev, sum(v.count_cents) AS n
             |FROM ${env.t("rev_mv")} v JOIN ${env.t("movies")} m ON v.movie_id = m.movie_id
             |GROUP BY m.movie_id, m.title ORDER BY rev DESC, m.movie_id LIMIT 20""".stripMargin)
          .collect().toSeq.map(r => Row(r.getLong(0), r.getString(1),
            r.getAs[Number](2).longValue, r.getAs[Number](3).longValue)),
          rev.sortBy(x => (-x._3, x._1)).take(20).map(x => Row(x._1, x._2, x._3, x._4)))
      case "census" =>
        Read(kind, () => env.sql(s"SELECT status, count(*), sum(cents) FROM " +
          s"${env.t("tickets")} GROUP BY status ORDER BY status").collect().toSeq,
          tickets.values.groupBy(_.status).toSeq.sortBy(_._1).map { case (st, ts) =>
            Row(st, ts.size.toLong, ts.map(_.cents).sum) })
      case "time_travel" =>
        val v = versions(rnd.nextInt(versions.size))
        val (n, sum) = env.versionSums(v)
        Read(kind, () => env.sql(s"SELECT count(*), sum(cents) FROM " +
          s"${env.t("tickets")} VERSION AS OF $v").collect().toSeq, Seq(Row(n, sum)))
      case "changes" =>
        // a range of up to three tickets versions after the initial load
        val i = 1 + rnd.nextInt(versions.size - 1)
        val j = math.min(versions.size - 1, i + rnd.nextInt(3))
        val exp = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
        versions.slice(i, j + 1).foreach(v => env.versionFeed(v).foreach { case (op, (n, sum)) =>
          val (n0, s0) = exp(op); exp(op) = (n0 + n, s0 + sum) })
        Read(kind, () => {
          Catalog.readTableChanges(env.spark, env.t("tickets"), Seq("ticket_id"),
            versions(i - 1), versions(j)).createOrReplaceTempView("feed")
          env.sql("SELECT op, count(*), sum(coalesce(after.cents, before.cents)) FROM feed " +
            "GROUP BY op ORDER BY op").collect().toSeq
        }, exp.toSeq.sortBy(_._1).map { case (op, (n, sum)) => Row(op, n, sum) })
    }
  }

  val ReadKinds = Seq("lookup", "report", "census", "time_travel", "changes")

  def runCdcMv(c: Ctx): Result = {
    val r = new Result
    val tr = c.trace
    val rnd = new java.util.SplittableRandom(c.seed * 31 + 7)
    val s0 = System.nanoTime()
    val env = new Env(c, "lake", s"${c.work}/lake")
    env.create()
    r.setupS = Stats.secs(s0)
    // warm-up: one compaction generation and one read of each kind
    val w0 = System.nanoTime()
    env.compact()
    env.generation((_, s) => s, x => x)
    ReadKinds.foreach(k => read(env, k, rnd).run())
    r.warmS = Stats.secs(w0)
    tr.mark()

    val stmtLat = mutable.ArrayBuffer.empty[Double]
    val genLat = mutable.ArrayBuffer.empty[Double]
    val readLat = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var gens = 0
    var readRows = 0L
    val (bytes0, files0) = Stats.du(s"${env.root}/m")
    val versions0 = versionCount(env)
    val t0 = System.nanoTime()
    // at a cycle boundary, another cycle runs only if it would end nearer
    // to `--seconds` than stopping now does
    def another: Boolean = {
      val e = Stats.secs(t0)
      gens == 0 || e + e / (gens / CycleGens) / 2 < c.seconds
    }
    while ((gens % CycleGens != 0 || another) && r.failed == 0) {
      val g0 = System.nanoTime()
      tr.span(s"gen-$gens", "gen") {
        if (gens % CycleGens == 0) r.op(fatal = false)(tr.span("compact", "compact")(env.compact()))
        rows += env.generation(
          (name, body) => {
            val s0 = System.nanoTime()
            r.op(fatal = false)(tr.span(name, "stmt")(body))
            stmtLat += Stats.secs(s0)
          },
          body => r.op(fatal = false)(tr.span("refresh", "refresh")(body)))
      }
      genLat += Stats.secs(g0)
      // read-your-writes: a lookup and two other reads of the mix, so a
      // cycle of two generations runs every kind
      Seq("lookup", ReadKinds(1 + (2 * gens) % 4), ReadKinds(1 + (2 * gens + 1) % 4)).foreach { k =>
        val rd = read(env, k, rnd)
        val s0 = System.nanoTime()
        r.op(fatal = false)(tr.span(k, k)(rd.run())).foreach { got =>
          readRows += got.size
          r.check(s"$k answer differs from the ledger: got ${got.take(3)} " +
            s"expected ${rd.expect.take(3)}", got == rd.expect)
        }
        readLat += Stats.secs(s0)
      }
      gens += 1
    }
    val wall = Stats.secs(t0)
    r.throughput = rows / wall
    r.latencies ++= stmtLat
    r.named("lake.rows_per_s") = (r.throughput, "rows/s")
    r.named("lake.commit_mean_s") = (Stats.mean(stmtLat.toSeq), "s")
    r.named("lake.commit_p50_s") = (Stats.median(stmtLat.toSeq), "s")
    r.named("lake.commit_p75_s") = (Stats.pct(stmtLat.toSeq, 0.75), "s")
    r.named("lake.freshness_p50_s") = (Stats.median(genLat.toSeq), "s")
    r.named("lake.freshness_p75_s") = (Stats.pct(genLat.toSeq, 0.75), "s")
    r.named("lake.generations") = (gens.toDouble, "count")
    r.named("read.ops_per_s") = (readLat.size / readLat.sum, "ops/s")
    r.named("read.latency_p50_s") = (Stats.median(readLat.toSeq), "s")
    r.named("read.latency_p75_s") = (Stats.pct(readLat.toSeq, 0.75), "s")

    // correctness: the refreshed MV equals the ledger's full GROUP BY
    val mv = env.mvRows
    val exp = env.expectedMv
    r.check(s"join MV differs from the ledger recompute: ${(mv diff exp).size} extra, " +
      s"${(exp diff mv).size} missing rows", mv == exp)
    val (amp, liveFiles, delFiles) = env.space()
    r.spaceAmp = amp
    r.named("lake.space_amp") = (amp, "ratio")

    if (tr.on) {
      val L = r.layers
      val stmts = tr.of("stmt")
      val refreshes = tr.of("refresh")
      val compacts = tr.of("compact")
      val ng = math.max(1, gens).toDouble
      val writes = stmts ++ refreshes ++ compacts
      val (bytes1, files1) = Stats.du(s"${env.root}/m")
      val freshPerRow = {
        val n = env.sql(s"SELECT count(*) FROM ${env.t("tickets")}").head().getLong(0)
        Stats.du(s"${env.root}/fresh/tickets")._1.toDouble / math.max(1L, n)
      }
      L("catalog.dml_planning_ms_p50") = Stats.median(stmts.map(_.acc.planMs))
      L("catalog.dml_exec_ms_p50") = Stats.median(stmts.map(s => s.ms - s.acc.planMs))
      L("catalog.dml_jobs_per_stmt") = stmts.map(_.acc.jobs).sum / math.max(1, stmts.size).toDouble
      L("catalog.dml_driver_gap_ms_p50") = Stats.median(stmts.map(_.gapMs))
      val cl = "graft.catalog.ChangelogProducer"
      L("catalog.changelog_jobs_per_gen") = writes.map(_.acc.jobsByClass(cl)).sum / ng
      L("catalog.changelog_task_s_per_gen") = writes.map(_.acc.taskMsByClass(cl)).sum / 1000.0 / ng
      L("catalog.versions_per_gen") = (versionCount(env) - versions0) / ng
      L("catalog.bytes_written_per_gen") = (bytes1 - bytes0) / ng
      L("catalog.files_written_per_gen") = (files1 - files0) / ng
      L("catalog.write_amp") = (bytes1 - bytes0) / math.max(1.0, rows * freshPerRow)
      val nr = math.max(1, refreshes.size).toDouble
      L("mv.refresh_ms_p50") = Stats.median(refreshes.map(_.ms))
      L("mv.refresh_ms_p75") = Stats.pct(refreshes.map(_.ms), 0.75)
      L("mv.refresh_planning_ms_p50") = Stats.median(refreshes.map(_.acc.planMs))
      L("mv.refresh_jobs") = refreshes.map(_.acc.jobs).sum / nr
      L("mv.refresh_driver_gap_ms_p50") = Stats.median(refreshes.map(_.gapMs))
      L("mv.rows_read_per_delta_row") = refreshes.map(_.acc.inRows).sum / math.max(1.0, rows.toDouble)
      L("mv.shuffle_bytes_per_refresh") = refreshes.map(_.acc.shuffleWrite).sum / nr
      L("procedures.compact_ms") = Stats.median(compacts.map(_.ms))
      L("procedures.compact_bytes_rewritten") = Stats.median(compacts.map(_.acc.outBytes.toDouble))
      L("procedures.compact_exchanges") = Stats.median(compacts.map(_.acc.exchanges.toDouble))
      val reads = ReadKinds.flatMap(tr.of)
      val n = math.max(1, reads.size).toDouble
      L("read.planning_ms_p50") = Stats.median(reads.map(_.acc.planMs))
      L("read.exec_ms_p50") = Stats.median(reads.map(s => s.ms - s.acc.planMs))
      L("read.jobs_per_op") = reads.map(_.acc.jobs).sum / n
      val opened = reads.map(_.acc.filesOpened).sum / n
      L("read.files_opened_per_op") = opened
      L("read.files_pruned_ratio") = 1.0 - opened / math.max(1.0, liveFiles.toDouble)
      L("read.bytes_read_per_op") = reads.map(_.acc.inBytes).sum / n
      L("read.rows_read_per_row_returned") = reads.map(_.acc.inRows).sum /
        math.max(1L, readRows).toDouble
      ReadKinds.foreach(k => L(s"read.${k}_ms_p50") = Stats.median(tr.of(k).map(_.ms)))
      L("catalog.live_files") = liveFiles.toDouble
      L("catalog.eqdelete_files") = delFiles.toDouble
      Layers.spark(r, writes ++ reads)
    }
    r
  }

  private def versionCount(e: Env): Long =
    Seq("tickets", "movies", "rev_mv").map(n =>
      e.sql(s"SELECT count(*) FROM ${e.t(n)}.history").head().getLong(0)).sum
}

package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. */
final class Result {
  /** The workload's set-up (data generation and initial load), seconds. */
  var setupS = 0.0
  /** The discarded warm-up prefix after the set-up, seconds. */
  var warmS = 0.0
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  /** The workload's primary throughput (events, changed rows or reads
    * per second of the measured phase). */
  var throughput = 0.0
  /** Latency samples of the measured phase, seconds: per trigger on
    * stream_cdc, per CDC statement on lake_cdc_mv. */
  val latencies = mutable.ArrayBuffer.empty[Double]
  var spaceAmp = 0.0
  /** Workload-specific end-to-end metrics, printed by name. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics of a traced run, by their BENCHMARK.json name. */
  val layers = mutable.Map.empty[String, Double]

  /** Count one op; a throwing op counts as failed and is rethrown only
    * when `fatal`. */
  def op[T](fatal: Boolean)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        mismatches += s"op failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
        if (fatal) throw e
        None
    }
  }

  def check(what: String, ok: Boolean): Unit = if (!ok) mismatches += what
}

final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, seconds: Double,
                     work: String)

object Stats {
  /** Nearest-rank percentile (q in 0..1) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  /** Median: the mean of the two middle values of an even-sized sample. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes and count of the regular files under `dir`. */
  def du(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var bytes = 0L
        var n = 0L
        s.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
          bytes += java.nio.file.Files.size(f); n += 1
        }
        (bytes, n)
      } finally s.close()
    }
  }

  /** Bytes of a set of files given as URIs or paths. */
  def sizeOf(files: Seq[String]): Long = files.map { f =>
    val p = if (f.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(f))
            else java.nio.file.Paths.get(f)
    java.nio.file.Files.size(p)
  }.sum

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** The benchmark program: one workload, one seed, one JVM.
  *
  * {{{
  *   graftbench.Main --workload stream_cdc|lake_cdc_mv
  *                   --seed N --seconds S --trace 0|1 --work DIR --cores C
  *                   --benchmark BENCHMARK.json
  * }}}
  *
  * Prints the workload's named metrics, then as its last stdout line a
  * JSON object of the generic end-to-end metrics (`--trace 0`) or the
  * per-layer metrics (`--trace 1`). Exits non-zero when an output does
  * not match the generator's ledger. */
object Main {
  /** Names and units of the per-layer metrics BENCHMARK.json declares. A
    * layer a workload does not run reads 0 there: that is the prediction
    * "flat on this workload". */
  def perLayer(benchmarkJson: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(benchmarkJson))
    root.get("per_layer").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val run: Ctx => Result = workload match {
      case "stream_cdc" => StreamCdc.run
      case "lake_cdc_mv" => Lake.runCdcMv
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", "4").toInt
    val work = opts("work")
    val spark = graft.GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start through a ready session: paid once per run
    val startS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val trace = new Trace(spark, traced)
    val r = run(Ctx(spark, trace, opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", "10").toDouble, work))
    val setup = startS + r.setupS + r.warmS
    val errorRate = r.failed.toDouble / math.max(1L, r.attempted)
    val rss = Stats.peakRssMb()
    val lat = r.latencies.toSeq
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setup, "s"),
      "throughput_per_s" -> (r.throughput, "1/s"),
      "latency_s" -> (Stats.mean(lat), "s"),
      "space_amp" -> (r.spaceAmp, "ratio"))
    val correct = r.mismatches.isEmpty
    println(s"# workload=$workload seed=${opts.getOrElse("seed", "1")} traced=$traced " +
      s"ops=${r.attempted} failed=${r.failed} latency_samples=${lat.size} " +
      f"setup_s=${r.setupS}%.3f session_start_s=$startS%.3f warm_s=${r.warmS}%.3f")
    println(s"# latencies_s=${lat.map(x => f"$x%.3f").mkString(",")}")
    r.mismatches.take(20).foreach(m => println(s"# MISMATCH $m"))
    val named = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setup, "s"), "error_rate" -> (errorRate, "ratio"),
      "peak_rss_mb" -> (rss, "MB")) ++ r.named
    named.foreach { case (k, (v, u)) => println(f"$k%-32s $v%14.6f $u") }
    val declared = perLayer(opts("benchmark"))
    val undeclared = r.layers.keySet -- declared.map(_._1)
    require(undeclared.isEmpty, s"per-layer metrics missing from BENCHMARK.json: $undeclared")
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)] ++
      declared.map { case (k, u) => k -> (r.layers.getOrElse(k, 0.0), u) }
    if (traced) {
      layers.foreach { case (k, (v, u)) => println(f"layer $k%-40s $v%16.4f $u") }
      val out = java.nio.file.Paths.get(work, "trace.json")
      java.nio.file.Files.writeString(out, trace.toJson)
    }
    def obj(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    // the generic and named end-to-end values ride along for the
    // tracing-overhead report; the last line carries the result
    java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "e2e.json"),
      s"""{"e2e":${obj(e2e)},"named":${obj(named)}}""")
    val metrics = if (traced) layers else e2e
    println(s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":${obj(metrics)}}""")
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * The reference tunes Flink the same way through `SET` statements
  * (reference `flink-cdc/sql/revenue-analytics.sql:2-12`): two-phase agg,
  * mini-batching, checkpointing. On Spark the equivalents are AQE +
  * partial aggregation (built-in) plus the shuffle-partition count, which
  * we pin to the executor-thread count locally; on a real cluster AQE
  * coalescing makes the initial number a ceiling, not a constant.
  */
object GraftSession {
  def local(cpus: Int = 32): SparkSession = tuned(
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
  ).getOrCreate()

  /** Scale-oriented conf applied to any builder (local or cluster).
    *
    * The two codegen settings are static: the generated-code cache is
    * sized once per JVM, when code is first generated, and a session's
    * artifact isolation is fixed when the session is created. They take
    * effect when this builder creates the SparkContext (and its first
    * session); `getOrCreate` returning a session that already runs keeps
    * the values that session was created with.
    *
    * The two file-system settings at the end are JVM-static too: Hadoop
    * caches a `FileSystem` per scheme, authority and user, without its
    * conf, so `fs.file.impl` holds only when a conf carrying it creates
    * the first `file:` instance -- normally the SparkContext this builder
    * creates. (`FileContext` reads its setting on every call.) */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // AQE: runtime partition coalescing + skew-join splitting — the knobs
    // that make a fixed plan survive 100x data-volume changes.
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Dimension tables (part/customer ~ movies/users) stay broadcast-able
    // well past sf0.1; 64m leaves headroom without risking driver OOM.
    .config("spark.sql.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
    .config("spark.sql.parquet.filterPushdown", "true")
    // The events table carries TIMESTAMP(NANOS) parquet, which Spark's
    // vectorized reader rejects; read as epoch-ns longs and convert
    // (Tables.load truncates to µs, matching DuckDB's ns→µs cast).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
    // V2 bucketing: scans reporting KeyGroupedPartitioning (the lake's
    // bucket layout, incl. the bucket-local PK resolve) satisfy
    // aggregate/join clustering without a shuffle Exchange.
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    // Generated-code cache: Spark keys it by (context class loader, code),
    // so in local mode every shape is compiled once for the driver and
    // once for executor tasks, and the default 100 entries overflow on
    // one lake cycle -- identical plans then recompile every cycle and
    // trigger. Distinct classes per run, measured with these settings:
    // lake_cdc_mv 418, stream_cdc 153, graft.Verify's 316 queries 4,743;
    // this holds the whole Verify set with 73% headroom.
    .config("spark.sql.codegen.cache.maxEntries", "8192")
    // graft adds no session artifacts (jars, files): without per-session
    // isolation, executor tasks resolve generated classes through the
    // default class loader instead of a per-session `ExecutorClassLoader`,
    // and the session a streaming query clones shares the classes of the
    // session it came from.
    .config("spark.sql.artifact.isolation.enabled", "false")
    // `file:` without a process per written file: with no native Hadoop
    // library the stock local file system forks `chmod` for every file,
    // `.crc` and directory it creates and `readlink` for every `FileContext`
    // rename (the streaming offset and commit logs). One FS per Hadoop API.
    .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
}

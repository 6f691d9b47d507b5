package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed table layout + co-located joins — the lake-tier analog of
  * the reference's hash-bucketed PK tables (`'bucket.num'='4'`,
  * reference `flink-cdc/sql/tickets-cdc.sql:34`): rows hash-distribute
  * into a fixed number of buckets BY KEY at write time, so every later
  * join or aggregation on that key reads already-co-located data and
  * the per-query shuffle disappears.
  *
  * This is THE 100 TB fact⋈fact join strategy: a broadcast join needs a
  * small side and salting still pays the big side's exchange, but two
  * tables bucketed on the join key sort-merge-join with ZERO exchange —
  * at a 1000-executor scale the bucketed layout turns every repeated
  * join on the distribution key from a full-network shuffle into a
  * local merge ([[BucketingSpec]] pins the no-exchange plan and the
  * plain-join row equality; the driver entry `q_bucketed_join` runs the
  * write + join end-to-end against the unbucketed SQL oracle).
  *
  * Written through the session catalog's native parquet bucketing
  * (Spark's Hive-compatible hash, `sortBy` within buckets so merge
  * joins also skip the per-partition sort when each bucket holds one
  * file). Cluster note: `spark.sql.sources.bucketing.enabled` is on by
  * default; bucket counts on both sides must match (Spark joins
  * bucket i with bucket i). */
object Bucketing {

  /** Write `df` as a bucketed, within-bucket-sorted external parquet
    * table at `path`, (re)registered as `table` in the session catalog.
    * Existing registration and files are replaced — re-layout is
    * idempotent. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.format("parquet").option("path", path).mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /** Inner equi-join of two bucketed tables on `leftKey = rightKey`.
    * With matching bucket counts both scans report their bucketing to
    * the planner and the sort-merge join runs exchange-free; the result
    * is the plain join's exact multiset either way (bucketing is a
    * layout, not a semantic). */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** End-to-end driver entry body: lay `facts` and `dims` out bucketed
    * by the join key, join co-located, and aggregate — revenue per
    * market segment over orders⋈customer. Sums run in exact decimal
    * (order-insensitive), presented as double. */
  def segmentRevenueBucketed(facts: DataFrame, dims: DataFrame,
                             workDir: String, buckets: Int = 8): DataFrame = {
    val spark = facts.sparkSession
    writeBucketed(facts, "graft_bkt_orders", s"$workDir/orders",
      "o_custkey", buckets)
    writeBucketed(dims, "graft_bkt_customer", s"$workDir/customer",
      "c_custkey", buckets)
    bucketedJoin(spark, "graft_bkt_orders", "graft_bkt_customer",
        "o_custkey", "c_custkey")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        sum(col("o_totalprice").cast(
          org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("revenue"))
  }

  /** End-to-end PARTITIONED lake table entry
    * ([[graft.catalog.PartitionedLakeTable]] — the reference's Paimon
    * `PARTITIONED BY` lake surface): lay `orders` out as a V2
    * lake-catalog table partitioned by `o_orderpriority` (hive
    * `col=value` directories), then aggregate the urgent tiers
    * THROUGH the partition filter — the scan lists only the 2
    * matching partition directories of 5 before opening any footer
    * (`PartitionedTableSpec` pins the PartitionFilters plan; at
    * 100 TB this pruning is the first-order scan reducer).
    * Partitioning is layout, not semantics, so the oracle is the
    * same aggregation over the raw parquet. Revenue in exact integer
    * cents (`floor(price·100)` per row, BIGINT sum) — the engine's
    * cross-engine determinism discipline. */
  def partitionedPriorityRevenue(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakepart"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_part (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
         |  o_totalprice DOUBLE, o_orderdate TIMESTAMP,
         |  o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)""".stripMargin)
    orders
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("append").insertInto(s"$cat.m.orders_part")
    spark.table(s"$cat.m.orders_part")
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("revenue_cents"))
  }

  /** End-to-end storage-partitioned join ([[graft.catalog
    * .BucketKeyedScan]]): two lake tables declared `PARTITIONED BY
    * (bucket(8, key))` — the V2-declarative form of the reference's
    * `'bucket.num'` layout — equi-join on the bucket key with the SPJ
    * conf on: the scans report `KeyGroupedPartitioning(bucket(8,
    * key))`, Spark aligns the keyed partitions, and the join runs with
    * ZERO shuffle exchange (`StoragePartitionedJoinSpec` pins the
    * no-exchange plan; at 100 TB this is the fact⋈fact join that never
    * moves either side). The layout is not semantics: the oracle is
    * the same join over raw parquet. */
  def spjJoinRevenue(orders: DataFrame, lineitem: DataFrame,
                     workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakespj"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      s"""CREATE TABLE $cat.m.o_spj (
         |  o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)
         |PARTITIONED BY (bucket(8, o_orderkey))""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.m.l_spj (l_orderkey BIGINT, qty BIGINT)
         |PARTITIONED BY (bucket(8, l_orderkey))""".stripMargin)
    orders.select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .write.mode("append").insertInto(s"$cat.m.o_spj")
    lineitem.groupBy("l_orderkey")
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"))
      .write.mode("append").insertInto(s"$cat.m.l_spj")
    spark.table(s"$cat.m.o_spj")
      .join(spark.table(s"$cat.m.l_spj"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), sum("qty").as("sum_qty"),
        sum("cents").as("revenue_cents"))
  }

  /** End-to-end dynamic partition pruning ([[graft.catalog
    * .RuntimePrunedScan]]): a star join where NO static predicate
    * touches the fact's partition column — the partition keys to keep
    * exist only in the FILTERED DIM at runtime. The fact lands
    * partitioned by priority in a V2 lake table; the dim (priority →
    * first-char class) is parquet-backed so its selective filter
    * survives optimization; the broadcast join's materialized key set
    * reaches the scan through `SupportsRuntimeV2Filtering.filter` and
    * re-prunes the directory listing (`RuntimeFilteringSpec` pins the
    * planted runtime filter and the listing shrink). At 100 TB this is
    * the date-dim star join reading only the matching partitions.
    * The layout is not semantics: the oracle re-derives the dim
    * condition directly over raw orders. */
  def dppJoinRevenue(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakedpp"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_dpp (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)""".stripMargin)
    orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("append").insertInto(s"$cat.m.orders_dpp")
    val dimPath = s"$workDir/m/dim_priority.parquet"
    orders.select(col("o_orderpriority").as("pri")).distinct()
      .withColumn("cls", expr("substring(pri, 1, 1)"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("cls") === "1")
    spark.table(s"$cat.m.orders_dpp")
      .join(broadcast(dim), col("o_orderpriority") === col("pri"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("revenue_cents"))
  }

  /** End-to-end Bloom file-skipping entry ([[graft.catalog
    * .BloomIndex]]): land lineitem hash-SCATTERED by `l_partkey` into
    * a V2 lake table — every file then spans ~the whole key domain,
    * so min/max stats prune NOTHING for a point lookup — build the
    * per-file Bloom index with `CALL system.bloom_index`, and run an
    * `IN` part lookup THROUGH it: the scan lists only the files whose
    * bitsets may contain the probed keys (`BloomIndexSpec` pins the
    * strict-subset listing; at 100 TB this is a point lookup opening
    * ~k files instead of every footer). The index is layout metadata,
    * not semantics, so the oracle is the same lookup over the raw
    * parquet. Revenue in exact integer cents. */
  def bloomPartLookup(lineitem: DataFrame, workDir: String): DataFrame = {
    val spark = lineitem.sparkSession
    val cat = "glakebloom"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.lineitem_bl (
         |  l_orderkey BIGINT, l_partkey BIGINT, l_quantity BIGINT,
         |  l_extendedprice DOUBLE)""".stripMargin)
    lineitem
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("bigint").as("l_quantity"),
        col("l_extendedprice"))
      .repartition(8, col("l_partkey"))
      .write.mode("append").insertInto(s"$cat.m.lineitem_bl")
    spark.sql(s"CALL $cat.system.bloom_index('m.lineitem_bl', 'l_partkey', 131072, 5)")
    spark.table(s"$cat.m.lineitem_bl")
      .where(col("l_partkey").isin(7L, 53L, 97L))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
          .as("revenue_cents"))
  }

  /** End-to-end HIDDEN-partition pruning entry ([[graft.catalog
    * .PartitionPruning]] — the Iceberg bucket-transform read model):
    * land orders in a `PARTITIONED BY (bucket(8, o_orderkey))` lake
    * table, then run an order point-lookup THROUGH the hidden
    * partitioning — the scan computes `pmod(murmur3(key), 8)` on the
    * driver and lists ONLY the matching `_gbucket` subtrees, no
    * footer outside them opened (`PartitionedDmlSpec` pins the
    * subtree listing; at a 256-bucket 100 TB table a key lookup
    * touches 1/256th of the listing). Layout, not semantics: the
    * oracle is the same lookup over the raw parquet. */
  def bucketPrunedLookup(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakebkt"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_bkt (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
         |  o_totalprice DOUBLE)
         |PARTITIONED BY (bucket(8, o_orderkey))""".stripMargin)
    orders
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("append").insertInto(s"$cat.m.orders_bkt")
    spark.table(s"$cat.m.orders_bkt")
      .where(col("o_orderkey").isin(1L, 7L, 32L, 33L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("price_cents"))
  }

  /** End-to-end metadata-only aggregate entry ([[graft.catalog
    * .StatsAggregates]]): land orders in a V2 lake table, `CALL
    * system.analyze`, then answer the global
    * `count(*)/count/min/max` straight from the stats sidecar via V2
    * complete aggregate pushdown — the executed plan is a
    * LocalTableScan, ZERO data files opened (`StatsAggregateSpec`
    * pins the plan; at 100 TB this turns a row count or column
    * extent into an O(files) driver fold). The sidecar fold is
    * exact — per-file extremes of the very values a real scan would
    * aggregate — so the oracle is the same aggregation over the raw
    * parquet. */
  def metadataAggregates(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakemagg"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_ma (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
         |  o_totalprice DOUBLE)""".stripMargin)
    orders
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartition(8)
      .write.mode("append").insertInto(s"$cat.m.orders_ma")
    spark.sql(s"CALL $cat.system.analyze('m.orders_ma', 'o_orderkey,o_orderstatus,o_totalprice')")
    spark.sql(
      s"""SELECT count(*) AS n_rows,
         |  count(o_orderstatus) AS n_status,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
         |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         |FROM $cat.m.orders_ma""".stripMargin)
  }

  /** Partition-audit end-to-end: land orders in an identity-partitioned
    * lake table, `CALL analyze` to record per-file row counts in the
    * stats sidecar, and read the `.partitions` METADATA TABLE — the
    * per-partition row census answered from the LISTING + sidecar with
    * zero data files opened (the audit that decides what to compact or
    * overwrite; at 100 TB it must never be a scan). The oracle is the
    * equivalent GROUP BY over the raw parquet — metadata must agree
    * with data exactly. */
  def partitionsReport(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakepmeta"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_pm (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)""".stripMargin)
    orders
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("append").insertInto(s"$cat.m.orders_pm")
    spark.sql(s"CALL $cat.system.analyze('m.orders_pm', 'o_orderkey')")
    spark.sql(
      s"""SELECT `partition`, `rows` AS n_rows
         |FROM $cat.m.orders_pm.partitions""".stripMargin)
  }
}

/** Snapshot-layer driver entries (the [[Bucketing]] family's
  * continuation — split to keep the original object's size bounded). */
object Bucketing2 {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Snapshot time travel end-to-end on a MANIFEST-versioned
    * partitioned table ([[graft.catalog.Snapshots]]): land orders as
    * s-1, DELETE the 'F'-status rows as s-2, then answer a per-
    * priority census comparing `VERSION AS OF 1` (pre-delete) against
    * the CURRENT snapshot — the audit/repro query a lakehouse user
    * runs after a bad or intentional DML ("what did that delete
    * actually remove, per segment?"). Both reads resolve through the
    * immutable manifests, so the oracle can reconstruct each side
    * from the raw parquet with a status predicate — making the
    * snapshot surface hash-verified end-to-end, not just spec-pinned
    * (`VersionedPartitionedSpec`). */
  def timeTravelCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakett"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_tt (
         |  o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT,
         |  o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    orders.select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderpriority"))
      .write.mode("append").insertInto(s"$cat.m.orders_tt")     // s-1
    spark.sql(s"DELETE FROM $cat.m.orders_tt WHERE o_orderstatus = 'F'") // s-2
    val v1 = spark.sql(
      s"""SELECT o_orderpriority,
         |  count(*) AS n_v1, sum(cents) AS cents_v1
         |FROM $cat.m.orders_tt VERSION AS OF 1 GROUP BY 1""".stripMargin)
    val cur = spark.sql(
      s"""SELECT o_orderpriority,
         |  count(*) AS n_cur, sum(cents) AS cents_cur
         |FROM $cat.m.orders_tt GROUP BY 1""".stripMargin)
    v1.join(cur, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"),
        col("n_v1").cast("bigint").as("n_v1"),
        coalesce(col("n_cur"), lit(0L)).cast("bigint").as("n_cur"),
        col("cents_v1").cast("bigint").as("cents_v1"),
        coalesce(col("cents_cur"), lit(0L)).cast("bigint").as("cents_cur"))
      .orderBy("o_orderpriority")
  }

  /** Metadata-only aggregates over the PARTITIONED manifest layout:
    * `CALL analyze` then a global count/min/max answered purely from
    * the stats sidecar through V2 complete aggregate pushdown —
    * `VersionedPartitionedSpec` pins the LocalScan plan (zero data
    * files opened); the oracle is the same aggregate over raw
    * parquet. The q_agg_pushdown twin for the layout that would be
    * the default at 100 TB. */
  def partitionedMetaAggregates(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakepma"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_pma (
         |  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,
         |  o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    orders
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.mode("append").insertInto(s"$cat.m.orders_pma")
    spark.sql(s"CALL $cat.system.analyze('m.orders_pma', " +
      "'o_orderkey,o_orderstatus,o_totalprice')")
    spark.sql(
      s"""SELECT count(*) AS n_rows,
         |  count(o_orderstatus) AS n_status,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
         |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         |FROM $cat.m.orders_pma""".stripMargin)
  }

  /** `CALL migrate` end-to-end (r12): land orders in a PLAIN
    * partitioned table, upgrade it to manifest versioning IN PLACE
    * (the existing files, untouched, become snapshot s-0), DELETE as
    * s-1, and census `VERSION AS OF 0` (the pre-versioning content)
    * against the current snapshot — the adopt-a-table path a 100 TB
    * deployment takes instead of rewriting history into a new layout
    * (Iceberg's `migrate` procedure). Both sides resolve through the
    * manifests the migration created, so the oracle reconstructs each
    * from the raw parquet with the status predicate. */
  def migrateTravelCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakemig"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_mig (
         |  o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT,
         |  o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)""".stripMargin)
    orders.select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderpriority"))
      .write.mode("append").insertInto(s"$cat.m.orders_mig")
    spark.sql(s"CALL $cat.system.migrate('m.orders_mig')")           // s-0
    spark.sql(s"DELETE FROM $cat.m.orders_mig WHERE o_orderstatus = 'F'") // s-1
    val v0 = spark.sql(
      s"""SELECT o_orderpriority,
         |  count(*) AS n_v0, sum(cents) AS cents_v0
         |FROM $cat.m.orders_mig VERSION AS OF 0 GROUP BY 1""".stripMargin)
    val cur = spark.sql(
      s"""SELECT o_orderpriority,
         |  count(*) AS n_cur, sum(cents) AS cents_cur
         |FROM $cat.m.orders_mig GROUP BY 1""".stripMargin)
    v0.join(cur, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"),
        col("n_v0").cast("bigint").as("n_v0"),
        coalesce(col("n_cur"), lit(0L)).cast("bigint").as("n_cur"),
        col("cents_v0").cast("bigint").as("cents_v0"),
        coalesce(col("cents_cur"), lit(0L)).cast("bigint").as("cents_cur"))
      .orderBy("o_orderpriority")
  }

  /** `CALL drop_partition_field` end-to-end (r12): a table
    * over-partitioned by (priority, status) coarsens to priority-only
    * mid-life — half the rows land under the OLD two-level shape,
    * half under the coarsened one (status in file bytes) — and the
    * per-(priority, status) census still answers exactly across the
    * MIXED shapes, with a predicate on the dropped column. This is
    * the most common spec mistake at 100 TB (too many tiny
    * partitions) and its fix must not require rewriting the table.
    * The oracle is the same census over the raw parquet. */
  def specCoarsenCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakedpf"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_dpf (
         |  o_orderkey BIGINT, cents BIGINT,
         |  o_orderpriority STRING, o_orderstatus STRING)
         |PARTITIONED BY (o_orderpriority, o_orderstatus)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    val typed = orders.select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
      col("o_orderpriority"), col("o_orderstatus"))
    typed.where("o_orderkey % 2 = 0")
      .write.mode("append").insertInto(s"$cat.m.orders_dpf")   // old shape
    spark.sql(s"CALL $cat.system.drop_partition_field('m.orders_dpf', " +
      "'o_orderstatus')")
    typed.where("o_orderkey % 2 = 1")
      .write.mode("append").insertInto(s"$cat.m.orders_dpf")   // new shape
    spark.table(s"$cat.m.orders_dpf")
      .where("o_orderstatus <> 'P'") // predicate on the DROPPED column
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        sum(col("cents")).cast("bigint").as("cents"))
      .orderBy("o_orderpriority", "o_orderstatus")
  }

  /** Corpus curation WITH an audit trail — the LLM-pipeline ×
    * lake-layer composition: land documents in a versioned table,
    * MERGE-delete the PREFIX duplicates (same 200-char head — the
    * boilerplate/mirror-page screen; keep the min doc_id per digest;
    * the scale idiom is an equi-join MERGE on the key, never a
    * driver-side key list), and census `VERSION AS OF` the
    * pre-curation snapshot against the current one per source — the
    * "what did dedup remove, and can we reproduce the input?" audit a
    * training-data pipeline owes its consumers. Oracle reconstructs
    * both sides from the raw parquet (md5/substring agree across
    * engines). */
  def curationAuditCensus(documents: DataFrame, workDir: String): DataFrame = {
    val spark = documents.sparkSession
    val cat = "glakecur"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.docs_cur (
         |  doc_id BIGINT, lang STRING, n_chars BIGINT, text_md5 STRING,
         |  source STRING)
         |PARTITIONED BY (source)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    val typed = documents.select(col("doc_id"), col("lang"),
      col("n_chars").cast("long").as("n_chars"),
      md5(substring(col("text"), 1, 200)).as("text_md5"), col("source"))
    typed.write.mode("append").insertInto(s"$cat.m.docs_cur")   // s-1
    // exact-dup losers: every doc that is NOT its digest group's min
    // (computed from the input frame — one groupBy + equi-join)
    typed.join(
        typed.groupBy("text_md5").agg(min("doc_id").as("keep")),
        "text_md5")
      .filter(col("doc_id") =!= col("keep"))
      .select("doc_id")
      .createOrReplaceTempView("curation_losers")
    spark.sql(
      s"""MERGE INTO $cat.m.docs_cur t USING curation_losers l
         |ON t.doc_id = l.doc_id
         |WHEN MATCHED THEN DELETE""".stripMargin)                // s-2
    val v1 = spark.sql(
      s"""SELECT source, count(*) AS n_v1, sum(n_chars) AS chars_v1
         |FROM $cat.m.docs_cur VERSION AS OF 1 GROUP BY 1""".stripMargin)
    val cur = spark.sql(
      s"""SELECT source, count(*) AS n_cur, sum(n_chars) AS chars_cur
         |FROM $cat.m.docs_cur GROUP BY 1""".stripMargin)
    v1.join(cur, Seq("source"), "left")
      .select(col("source"),
        col("n_v1").cast("bigint").as("n_v1"),
        coalesce(col("n_cur"), lit(0L)).cast("bigint").as("n_cur"),
        col("chars_v1").cast("bigint").as("chars_v1"),
        coalesce(col("chars_cur"), lit(0L)).cast("bigint").as("chars_cur"))
      .orderBy("source")
  }

  /** Write-audit-publish end-to-end (r13, Iceberg's wap.branch flow):
    * land raw documents on a versioned table (s-1), fork a staging
    * BRANCH, route the session's writes to it (`graft.write.branch`)
    * and stage the curation DELETE there, AUDIT the staged content by
    * branch name while proving MAIN never saw the staged write, then
    * `fast_forward` publishes the branch head as one atomic main
    * commit. Per source: the raw census, main's census DURING staging
    * (= raw — the isolation proof), and the published census. Oracle
    * reconstructs all three from the raw parquet (main-during-staging
    * must equal raw; published = the quality filter's survivors). */
  def wapPublishCensus(documents: DataFrame, workDir: String): DataFrame = {
    val spark = documents.sparkSession
    val cat = "glakewap"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.docs_wap (
         |  doc_id BIGINT, lang STRING, n_chars BIGINT, source STRING)
         |PARTITIONED BY (source)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    documents.select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"), col("source"))
      .write.mode("append").insertInto(s"$cat.m.docs_wap")       // s-1
    spark.sql(s"CALL $cat.system.branch('m.docs_wap', 'staging')")
    spark.conf.set("graft.write.branch", "staging")
    try {
      // STAGE the curation on the branch: short docs out
      spark.sql(s"DELETE FROM $cat.m.docs_wap WHERE n_chars < 200")
      // AUDIT: main during staging (conf-independent raw read) vs the
      // staged branch content
      spark.conf.unset("graft.write.branch")
      spark.catalog.clearCache()
      val mainDuring = spark.sql(
        s"""SELECT source, count(*) AS n_main_during_stage
           |FROM $cat.m.docs_wap GROUP BY 1""".stripMargin)
      val staged = spark.sql(
        s"""SELECT source, count(*) AS n_staged,
           |  sum(n_chars) AS chars_staged
           |FROM $cat.m.docs_wap VERSION AS OF 'staging'
           |GROUP BY 1""".stripMargin)
      // PUBLISH: one atomic main commit
      spark.sql(s"CALL $cat.system.fast_forward('m.docs_wap', 'staging')")
      spark.catalog.clearCache()
      val published = spark.sql(
        s"""SELECT source, count(*) AS n_published
           |FROM $cat.m.docs_wap GROUP BY 1""".stripMargin)
      val raw = spark.sql(
        s"""SELECT source, count(*) AS n_raw
           |FROM $cat.m.docs_wap VERSION AS OF 1 GROUP BY 1""".stripMargin)
      raw.join(mainDuring, Seq("source"))
        .join(staged, Seq("source"), "left")
        .join(published, Seq("source"), "left")
        .select(col("source"),
          col("n_raw").cast("bigint").as("n_raw"),
          col("n_main_during_stage").cast("bigint").as("n_main_during_stage"),
          coalesce(col("n_staged"), lit(0L)).cast("bigint").as("n_staged"),
          coalesce(col("chars_staged"), lit(0L)).cast("bigint")
            .as("chars_staged"),
          coalesce(col("n_published"), lit(0L)).cast("bigint")
            .as("n_published"))
        .orderBy("source")
    } finally spark.conf.unset("graft.write.branch")
  }

  /** Batch change feed over a version range (r13, Delta's
    * `table_changes`): build a DML history on a versioned table —
    * insert (s-1), partition-level DELETE (s-2), row-level UPDATE
    * (s-3) — then read `tableChanges(0, 3)` and census it per (op,
    * version): row counts and before/after cents. The oracle
    * re-derives every version's changeset from the raw parquet with
    * the same filters, so the feed's CONTENT (not just its counts) is
    * what hashes. */
  def tableChangesCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glaketc"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_tc (
         |  o_orderkey BIGINT, o_orderpriority STRING,
         |  o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (o_orderstatus)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    orders.select(col("o_orderkey").cast("long"), col("o_orderpriority"),
        col("o_totalprice").cast("double"), col("o_orderstatus"))
      .write.mode("append").insertInto(s"$cat.m.orders_tc")     // s-1
    spark.sql(s"DELETE FROM $cat.m.orders_tc WHERE o_orderstatus = 'F'") // s-2
    spark.sql(
      s"""UPDATE $cat.m.orders_tc SET o_totalprice = o_totalprice * 2
         |WHERE o_orderpriority = '1-URGENT'""".stripMargin)    // s-3
    val feed = graft.catalog.Catalog.readTableChanges(
      spark, s"$cat.m.orders_tc", Seq("o_orderkey"), 0L, 3L)
    feed.groupBy(col("op"), col("version"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(coalesce(floor(col("before.o_totalprice") * 100), lit(0L)))
          .cast("bigint").as("cents_before"),
        sum(coalesce(floor(col("after.o_totalprice") * 100), lit(0L)))
          .cast("bigint").as("cents_after"))
      .orderBy("version", "op")
  }

  /** MERGE-ON-READ delete lifecycle end-to-end (r13,
    * [[graft.catalog.MorDeletes]] — the Iceberg v2 position-delete
    * model): with `graft.write.mode='merge-on-read'`, DELETE commits
    * `(file, pos)` coordinate files instead of rewriting data files —
    * the shape that makes row-level deletes cheap at 100 TB. The
    * census drives the full lifecycle on one table:
    *
    *  - s-1 insert; s-2 MoR DELETE (status F) — data files untouched;
    *  - s-3 append re-adds a subset of the very rows s-2 deleted
    *    (new files, new names: old coordinates cannot address them);
    *  - s-4 a second MoR DELETE composes across old and new files;
    *  - s-5 `CALL compact` MATERIALIZES the deletes (content-neutral:
    *    current equals AS OF 4 row-for-row, which the shared oracle
    *    derivation makes part of the hash).
    *
    * Every AS OF read of a delete-carrying snapshot exercises the
    * anti-join rewrite; the oracle re-derives each version from the
    * raw parquet with the same filters. */
  def morLifecycleCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakemor"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_mor (
         |  o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT,
         |  o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
      col("o_orderpriority"))
    base.write.mode("append").insertInto(s"$cat.m.orders_mor")   // s-1
    spark.conf.set("graft.write.mode", "merge-on-read")
    try {
      spark.sql(s"DELETE FROM $cat.m.orders_mor WHERE o_orderstatus = 'F'") // s-2
      // re-append a deterministic subset of the deleted rows: content-
      // identical rows in NEW files must be untouched by s-2's deletes
      base.filter(col("o_orderstatus") === "F" &&
          pmod(col("o_orderkey"), lit(7)) === 0)
        .write.mode("append").insertInto(s"$cat.m.orders_mor")   // s-3
      spark.sql(s"DELETE FROM $cat.m.orders_mor WHERE cents < 5000000") // s-4
    } finally spark.conf.unset("graft.write.mode")
    spark.sql(s"CALL $cat.system.compact('m.orders_mor', 4)")    // s-5
    def at(v: Long, n: String) = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS $n
         |FROM $cat.m.orders_mor VERSION AS OF $v GROUP BY 1""".stripMargin)
    val cur = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_cur,
         |  sum(cents) AS cents_cur
         |FROM $cat.m.orders_mor GROUP BY 1""".stripMargin)
    at(1L, "n_v1")
      .join(at(2L, "n_v2"), Seq("o_orderpriority"), "left")
      .join(at(4L, "n_v4"), Seq("o_orderpriority"), "left")
      .join(cur, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"),
        col("n_v1").cast("bigint").as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).cast("bigint").as("n_v2"),
        coalesce(col("n_v4"), lit(0L)).cast("bigint").as("n_v4"),
        coalesce(col("n_cur"), lit(0L)).cast("bigint").as("n_cur"),
        coalesce(col("cents_cur"), lit(0L)).cast("bigint").as("cents_cur"))
      .orderBy("o_orderpriority")
  }

  /** MERGE-ON-READ DML lifecycle end-to-end (r14,
    * [[graft.catalog.DeltaOperation]] — Spark's delta-based
    * row-level plan, the Iceberg v2 MoR UPDATE/MERGE model): with
    * `graft.write.mode='merge-on-read'`, UPDATE and MERGE commit
    * (position-delete files for matched rows) + (appended rewritten
    * rows) in ONE snapshot — data files never rewritten, the r13
    * compact-first gate lifted. The census drives the composition:
    *
    *  - s-1 insert; s-2 MoR DELETE (status F) leaves pending deletes;
    *  - s-3 UPDATE against the DIRTY table: bumps cents for k%5 live
    *    rows only (a resurrected F row would break the hash);
    *  - s-4 MERGE with all three action kinds — matched DELETE
    *    (small invoices), matched UPDATE (+1000), NOT MATCHED INSERT
    *    (re-adds the deleted F rows of the source slice) — matched
    *    rows include s-3's freshly REWRITTEN rows, so the merge scan
    *    proves coordinates compose across DML generations;
    *  - s-5 `CALL compact` materializes (content-neutral: current
    *    equals AS OF 4 row-for-row under the shared oracle).
    *
    * Every AS OF read of a dirty snapshot exercises the anti-join
    * rewrite; the oracle re-derives v1/v2/v3/v4 from raw parquet. */
  def morDmlCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakedml"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_dml (
         |  k BIGINT, st STRING, cents BIGINT, o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    val base = orders.select(col("o_orderkey").cast("long").as("k"),
      col("o_orderstatus").as("st"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
      col("o_orderpriority"))
    base.write.mode("append").insertInto(s"$cat.m.orders_dml")   // s-1
    base.filter(pmod(col("k"), lit(11)) === 0)
      .createOrReplaceTempView("mor_dml_src")
    spark.conf.set("graft.write.mode", "merge-on-read")
    try {
      spark.sql(s"DELETE FROM $cat.m.orders_dml WHERE st = 'F'") // s-2
      spark.sql(                                                 // s-3
        s"UPDATE $cat.m.orders_dml SET cents = cents + 7 WHERE k % 5 = 0")
      spark.sql(                                                 // s-4
        s"""MERGE INTO $cat.m.orders_dml t USING mor_dml_src s ON t.k = s.k
           |WHEN MATCHED AND t.cents < 10000000 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET cents = t.cents + 1000
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    } finally spark.conf.unset("graft.write.mode")
    spark.sql(s"CALL $cat.system.compact('m.orders_dml', 4)")    // s-5
    def at(v: Long, n: String) = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS $n
         |FROM $cat.m.orders_dml VERSION AS OF $v GROUP BY 1""".stripMargin)
    val v3 = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_v3, sum(cents) AS cents_v3
         |FROM $cat.m.orders_dml VERSION AS OF 3 GROUP BY 1""".stripMargin)
    val cur = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_cur,
         |  sum(cents) AS cents_cur
         |FROM $cat.m.orders_dml GROUP BY 1""".stripMargin)
    at(1L, "n_v1")
      .join(at(2L, "n_v2"), Seq("o_orderpriority"), "left")
      .join(v3, Seq("o_orderpriority"), "left")
      .join(cur, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"),
        col("n_v1").cast("bigint").as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).cast("bigint").as("n_v2"),
        coalesce(col("n_v3"), lit(0L)).cast("bigint").as("n_v3"),
        coalesce(col("cents_v3"), lit(0L)).cast("bigint").as("cents_v3"),
        coalesce(col("n_cur"), lit(0L)).cast("bigint").as("n_cur"),
        coalesce(col("cents_cur"), lit(0L)).cast("bigint").as("cents_cur"))
      .orderBy("o_orderpriority")
  }

  /** MINOR delete compaction end-to-end (r14,
    * `CALL system.rewrite_position_delete_files` — Iceberg's
    * procedure of the same name): three successive MoR DELETEs leave
    * three coordinate files per touched partition; the rewrite merges
    * each partition's files into ONE, content-neutral, data files
    * untouched. The census reads the pre-rewrite dirty snapshot AND
    * the post-rewrite current (equal by construction — the shared
    * oracle derivation makes that part of the hash) plus the
    * per-partition delete-file count (exactly 1 after the rewrite —
    * derived from the `.files` metadata table, oracled as the
    * constant it must be). */
  def rewriteDeletesCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakerwd"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_rwd (
         |  k BIGINT, st STRING, cents BIGINT, o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    orders.select(col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderpriority"))
      .write.mode("append").insertInto(s"$cat.m.orders_rwd")     // s-1
    spark.conf.set("graft.write.mode", "merge-on-read")
    try {
      spark.sql(s"DELETE FROM $cat.m.orders_rwd WHERE st = 'F'")        // s-2
      spark.sql(s"DELETE FROM $cat.m.orders_rwd WHERE cents < 3000000") // s-3
      spark.sql(s"DELETE FROM $cat.m.orders_rwd WHERE k % 3 = 0")       // s-4
    } finally spark.conf.unset("graft.write.mode")
    spark.sql(
      s"CALL $cat.system.rewrite_position_delete_files('m.orders_rwd')") // s-5
    val v4 = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_v4
         |FROM $cat.m.orders_rwd VERSION AS OF 4 GROUP BY 1""".stripMargin)
    val cur = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_cur,
         |  sum(cents) AS cents_cur
         |FROM $cat.m.orders_rwd GROUP BY 1""".stripMargin)
    val delCounts = spark.table(s"$cat.m.orders_rwd.files")
      .filter(col("kind") === "delete")
      .withColumn("o_orderpriority", regexp_extract(col("file"),
        "_gmor_tdir=o_orderpriority%3D([^/]+)/", 1))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("bigint").as("n_delete_files"))
    v4.join(cur, Seq("o_orderpriority"), "left")
      .join(delCounts, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"),
        col("n_v4").cast("bigint").as("n_v4"),
        coalesce(col("n_cur"), lit(0L)).cast("bigint").as("n_cur"),
        coalesce(col("cents_cur"), lit(0L)).cast("bigint").as("cents_cur"),
        coalesce(col("n_delete_files"), lit(0L)).cast("bigint")
          .as("n_delete_files"))
      .orderBy("o_orderpriority")
  }

  /** Incremental materialized-view refresh end-to-end (r14,
    * [[graft.catalog.MaterializedView]] — change feed → signed delta
    * fold → MERGE, Delta/Snowflake's incremental refresh over this
    * engine's versioned lake): create the MV at v1, run source DML
    * (append with fresh keys, MoR DELETE, UPDATE), refresh
    * INCREMENTALLY — O(changes) read, O(changed groups) write — and
    * census the MV. The oracle re-derives the expected aggregate from
    * raw parquet, so the hash proves refresh(v1→v4) ≡ full recompute
    * (MaterializedViewSpec pins zero-group deletion and the
    * torn-refresh two-phase recovery). */
  def incrementalMvCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakemv"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_mvsrc (
         |  k BIGINT, st STRING, cents BIGINT, o_orderpriority STRING)
         |PARTITIONED BY (bucket(8, k))
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    val base = orders.select(col("o_orderkey").cast("long").as("k"),
      col("o_orderstatus").as("st"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
      col("o_orderpriority"))
    base.write.mode("append").insertInto(s"$cat.m.orders_mvsrc")  // v1
    graft.catalog.MaterializedView.create(spark,
      s"$cat.m.orders_mvagg", s"$cat.m.orders_mvsrc",
      keys = Seq("k"), groupBy = Seq("o_orderpriority"),
      aggs = Seq("cents" -> "sum", "cents" -> "count",
        "cents" -> "min", "cents" -> "max"))
    // source DML after the MV materialized
    base.filter(pmod(col("k"), lit(17)) === 0)
      .withColumn("k", col("k") + lit(100000000L))
      .write.mode("append").insertInto(s"$cat.m.orders_mvsrc")    // v2
    spark.conf.set("graft.write.mode", "merge-on-read")
    try {
      spark.sql(s"DELETE FROM $cat.m.orders_mvsrc WHERE st = 'F'") // v3
      spark.sql(                                                   // v4
        s"UPDATE $cat.m.orders_mvsrc SET cents = cents + 5 WHERE k % 7 = 0")
    } finally spark.conf.unset("graft.write.mode")
    graft.catalog.MaterializedView.refresh(spark, s"$cat.m.orders_mvagg")
    spark.table(s"$cat.m.orders_mvagg")
      .select(col("o_orderpriority"),
        col("sum_cents").cast("bigint").as("sum_cents"),
        col("count_cents").cast("bigint").as("count_cents"),
        // min/max maintained incrementally too (r15): the DELETE
        // retracts rows — whole groups recompute their extrema; the
        // UPDATE moves values — both paths hash against the oracle's
        // full recompute
        col("min_cents").cast("bigint").as("min_cents"),
        col("max_cents").cast("bigint").as("max_cents"),
        col(graft.catalog.MaterializedView.RowsCol).cast("bigint")
          .as("mv_rows"))
      .orderBy("o_orderpriority")
  }

  /** Selective WAP publish end-to-end (r14, `CALL cherry_pick` —
    * Iceberg's `cherrypick_snapshot`): stage TWO MoR curation deletes
    * on a branch as separate commits, publish ONLY the first onto
    * main as one manifest-arithmetic commit (the staged files are
    * reused, zero data bytes move). Main then carries exactly the
    * picked predicate's deletions; the branch keeps both. Both reads
    * re-derive from raw parquet (CherryPickSpec pins conflicts,
    * idempotent re-pick, and the post-advance append pick). */
  def cherryPickCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakecp"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_cp (
         |  k BIGINT, st STRING, cents BIGINT, o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    orders.select(col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("st"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderpriority"))
      .write.mode("append").insertInto(s"$cat.m.orders_cp")   // s-1
    spark.sql(s"CALL $cat.system.branch('m.orders_cp', 'curation')")
    spark.conf.set("graft.write.branch", "curation")
    spark.conf.set("graft.write.mode", "merge-on-read")
    try {
      spark.sql(s"DELETE FROM $cat.m.orders_cp WHERE st = 'F'")        // b-1
      spark.sql(s"DELETE FROM $cat.m.orders_cp WHERE cents < 5000000") // b-2
    } finally {
      spark.conf.unset("graft.write.mode")
      spark.conf.unset("graft.write.branch")
    }
    spark.sql(s"CALL $cat.system.cherry_pick('m.orders_cp', 'curation', 1)")
    spark.catalog.clearCache()
    val main = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_main,
         |  sum(cents) AS cents_main
         |FROM $cat.m.orders_cp GROUP BY 1""".stripMargin)
    val branch = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_branch
         |FROM $cat.m.orders_cp VERSION AS OF 'curation'
         |GROUP BY 1""".stripMargin)
    main.join(branch, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"),
        col("n_main").cast("bigint").as("n_main"),
        col("cents_main").cast("bigint").as("cents_main"),
        coalesce(col("n_branch"), lit(0L)).cast("bigint").as("n_branch"))
      .orderBy("o_orderpriority")
  }

  /** Retention policy end-to-end (r13): a TAG pins its snapshot
    * through an aggressive AGE-based expire (`CALL expire_age` with a
    * future cutoff — everything is "old", `keep_last=1` floors the
    * drop at the newest data commit) while the untagged middle
    * snapshot is dropped and its unreferenced files GC'd. The census
    * reads the PINNED snapshot by tag name and the current table —
    * both fully re-derivable from raw parquet, so the hash proves the
    * pin preserved exact content across the GC. */
  def retentionTagCensus(orders: DataFrame, workDir: String): DataFrame = {
    val spark = orders.sparkSession
    val cat = "glakeret"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.orders_ret (
         |  o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT,
         |  o_orderpriority STRING)
         |PARTITIONED BY (o_orderpriority)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
      col("o_orderpriority"))
    base.write.mode("append").insertInto(s"$cat.m.orders_ret")   // s-1
    spark.sql(s"CALL $cat.system.tag('m.orders_ret', 'raw', 1)")
    spark.sql(s"DELETE FROM $cat.m.orders_ret WHERE o_orderstatus = 'F'") // s-2
    base.filter(col("o_orderstatus") === "F" &&
        pmod(col("o_orderkey"), lit(13)) === 0)
      .write.mode("append").insertInto(s"$cat.m.orders_ret")     // s-3
    // future cutoff: every data commit "ages out"; keep_last floors at
    // the newest data commit (the s-3 append), the tag pins s-1, and
    // the untagged rest (s-0 create, the DELETE commit) drop and GC
    spark.sql(s"CALL $cat.system.expire_age('m.orders_ret', -3600000, 1)")
    val pinned = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_raw,
         |  sum(cents) AS cents_raw
         |FROM $cat.m.orders_ret VERSION AS OF 'raw' GROUP BY 1""".stripMargin)
    val cur = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_cur,
         |  sum(cents) AS cents_cur
         |FROM $cat.m.orders_ret GROUP BY 1""".stripMargin)
    pinned.join(cur, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"),
        col("n_raw").cast("bigint").as("n_raw"),
        col("cents_raw").cast("bigint").as("cents_raw"),
        coalesce(col("n_cur"), lit(0L)).cast("bigint").as("n_cur"),
        coalesce(col("cents_cur"), lit(0L)).cast("bigint").as("cents_cur"))
      .orderBy("o_orderpriority")
  }

  /** Widening type evolution end-to-end (Iceberg's metadata-only
    * ALTER COLUMN TYPE; Spark 4 parquet readers up-convert at scan
    * time, SPARK-40876): land INT-typed files, widen to BIGINT, land
    * rows only the widened type can hold (offset past INT range),
    * then census across BOTH file generations in one scan — the old
    * int32 files and the new int64 files answer under one BIGINT
    * schema with zero data rewritten. The oracle re-derives the union
    * from raw parquet. */
  def typeWidenCensus(lineitem: DataFrame, workDir: String): DataFrame = {
    val spark = lineitem.sparkSession
    val cat = "glakewide"
    PartitionedWorkDirs.reset(workDir)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.path", workDir)
    spark.sql(
      s"""CREATE TABLE $cat.m.items_wide (
         |  l_orderkey BIGINT, qty INT, l_returnflag STRING)
         |PARTITIONED BY (l_returnflag)
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    lineitem.filter(col("l_linenumber") === 1)
      .select(col("l_orderkey"),
        col("l_quantity").cast("int").as("qty"), col("l_returnflag"))
      .write.mode("append").insertInto(s"$cat.m.items_wide")    // int32 era
    spark.sql(s"ALTER TABLE $cat.m.items_wide ALTER COLUMN qty TYPE BIGINT")
    lineitem.filter(col("l_linenumber") === 2)
      .select(col("l_orderkey"),
        (col("l_quantity").cast("bigint") + lit(10000000000L)).as("qty"),
        col("l_returnflag"))
      .write.mode("append").insertInto(s"$cat.m.items_wide")    // int64 era
    spark.sql(
      s"""SELECT l_returnflag, count(*) AS n_rows,
         |  sum(qty) AS sum_qty, min(qty) AS min_qty, max(qty) AS max_qty
         |FROM $cat.m.items_wide GROUP BY 1 ORDER BY 1""".stripMargin)
      .select(col("l_returnflag"), col("n_rows").cast("bigint").as("n_rows"),
        col("sum_qty").cast("bigint").as("sum_qty"),
        col("min_qty").cast("bigint").as("min_qty"),
        col("max_qty").cast("bigint").as("max_qty"))
  }
}

/** Fresh work dir per run for the partitioned-table entries: the
  * CREATE must not trip over a previous run's table. */
private object PartitionedWorkDirs {
  def reset(workDir: String): Unit = {
    val root = java.nio.file.Paths.get(workDir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
      finally s.close()
    }
    java.nio.file.Files.createDirectories(root.resolve("m"))
    ()
  }
}

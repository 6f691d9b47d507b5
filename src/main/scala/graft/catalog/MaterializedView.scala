package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, sum, when}

/** INCREMENTAL MATERIALIZED-VIEW maintenance over the lake — the
  * batch twin of the streaming MV pipeline (the reference's entire
  * analytics job is a continuously-maintained aggregate,
  * `flink-cdc/sql/revenue-analytics.sql:46-65`; Delta/Snowflake users
  * know this as incremental refresh): a grouped sum/count/min/max
  * aggregate over a VERSIONED lake table, materialized as its own versioned
  * lake table and refreshed by folding the source's CHANGE FEED over
  * `(lastApplied, latest]` instead of recomputing the world.
  *
  * The refresh composes three surfaces this engine already ships:
  *
  *   1. [[Catalog.readTableChanges]] — the batch change feed
  *      (`op, version, before, after` rows whose application to
  *      snapshot `from` reconstructs snapshot `to`);
  *   2. the signed delta fold (after rows +1, before rows −1, the
  *      [[graft.cdc.Upsert.applyChangelogAggregateRetract]] algebra —
  *      sum/count fold invertibly; min/max fold inserts monotonically
  *      and recompute a group from the source when the range retracts
  *      one of its rows; avg = sum/count downstream);
  *   3. SQL `MERGE INTO` on the MV table — O(changed groups) writes,
  *      groups whose row count reaches zero DELETE (and under
  *      `graft.write.mode='merge-on-read'` the refresh commit is a
  *      position-delta, no MV data file rewritten).
  *
  * At 100 TB this is the difference between a refresh proportional to
  * the DAY'S CHANGES and one proportional to ALL OF HISTORY: the feed
  * reads only the snapshots in the range, the fold shuffles only
  * their rows, and the merge touches only the changed groups'
  * partitions.
  *
  * CRASH SAFETY — the refresh watermark rides IN the MV's own
  * manifest (r16): the refresh MERGE's commit summary carries
  * `mv-source-version` ([[SourceVersionKey]], stamped through
  * [[Snapshots.withSummaryStamp]]), so the fold and its watermark are
  * ONE atomic commit — a crash leaves either nothing or a
  * self-describing snapshot; there is no torn window and nothing to
  * recover. An empty-delta refresh bumps the watermark with a
  * metadata-only `mv-watermark` commit. The `_graft_mv.json` sidecar
  * keeps the STRUCTURE (source/keys/groupBy/aggs) plus a write-behind
  * CACHE of the watermark for the rare case every stamped snapshot
  * was expired from the retained log. Direct user writes to the MV
  * table are now DETECTED: an unstamped content-changing commit above
  * the last stamp fails the next refresh loudly instead of silently
  * corrupting the fold. */
object MaterializedView {

  val Sidecar = "_graft_mv.json"

  /** Commit-summary key carrying the SOURCE version this MV snapshot
    * is folded up to — the refresh watermark, single-sourced with the
    * OCC log. */
  val SourceVersionKey = "mv-source-version"

  /** JOIN MVs ([[createJoin]]): the DIMENSION-side watermark, stamped
    * on the SAME commit as [[SourceVersionKey]] — the two-source
    * watermark pair is atomic by construction (one snapshot carries
    * both or neither; there is no torn half-advanced state). */
  val DimVersionKey = "mv-dim-version"

  /** A commit on the MV table is STAMPED when it carries a watermark
    * (a refresh wrote it — its MERGE is content-changing, so the stamp
    * is checked first) and FOREIGN when it is unstamped and
    * content-changing ([[Snapshots.CommitKind.Content]]): a direct
    * write that fails the next refresh loudly. Anything else
    * (compaction, stats, tags, expire) kept the rows. */
  private def isStamped(m: Snapshots.Snapshot): Boolean =
    m.summary.contains(SourceVersionKey)
  private def isForeign(m: Snapshots.Snapshot): Boolean =
    !isStamped(m) && m.kind == Snapshots.CommitKind.Content
  /** The group-liveness column every MV carries: rows per group —
    * when a refresh drives it to zero the group's MV row deletes. */
  val RowsCol = "mv_rows"

  /** Cap on the retracted-group key set pushed into the extremal
    * recompute's source scan as IN predicates (driver-collected; past
    * it the recompute stays semi-join-restricted only). */
  private val MaxRetractInList = 256

  final case class MvDef(
      source: String,
      keys: Seq[String],
      groupBy: Seq[String],
      aggs: Seq[(String, String)], // (source col, sum|count|min|max)
      version: Long,               // last source version folded in
      mvVersion: Long,             // MV latest at last finalize/intent
      pendingTo: Option[Long],     // two-phase intent marker (legacy)
      dim: Option[String] = None,  // join MV: the dimension table
      joinCols: Seq[String] = Nil, // join MV: dim key = equi-join cols
      dimVersion: Long = 0L)       // join MV: dim watermark cache

  private def aggName(c: String, fn: String): String = s"${fn}_$c"

  private def writeDef(dir: Path, d: MvDef): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("source", d.source)
    val ks = root.putArray("keys"); d.keys.foreach(ks.add)
    val gs = root.putArray("group_by"); d.groupBy.foreach(gs.add)
    val as = root.putArray("aggs")
    d.aggs.foreach { case (c, fn) =>
      val o = as.addObject(); o.put("col", c); o.put("fn", fn); ()
    }
    root.put("version", d.version)
    root.put("mv_version", d.mvVersion)
    d.pendingTo.foreach(root.put("pending_to", _))
    d.dim.foreach { dm =>
      root.put("dim", dm)
      val js = root.putArray("join_cols"); d.joinCols.foreach(js.add)
      root.put("dim_version", d.dimVersion)
      ()
    }
    val target = dir.resolve(Sidecar)
    val tmp = target.resolveSibling(Sidecar + ".tmp")
    Files.writeString(tmp, om.writeValueAsString(root))
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def readDef(dir: Path): MvDef = {
    import scala.jdk.CollectionConverters._
    val f = dir.resolve(Sidecar)
    require(Files.exists(f), s"$dir is not a materialized view " +
      s"(no $Sidecar — create it with MaterializedView.create)")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(Files.readString(f))
    MvDef(
      n.get("source").asText(),
      n.get("keys").elements().asScala.map(_.asText()).toSeq,
      n.get("group_by").elements().asScala.map(_.asText()).toSeq,
      n.get("aggs").elements().asScala.map(o =>
        (o.get("col").asText(), o.get("fn").asText())).toSeq,
      n.get("version").asLong(),
      n.get("mv_version").asLong(),
      Option(n.get("pending_to")).map(_.asLong()),
      Option(n.get("dim")).map(_.asText()),
      Option(n.get("join_cols")).fold(Seq.empty[String])(
        _.elements().asScala.map(_.asText()).toSeq),
      Option(n.get("dim_version")).fold(0L)(_.asLong()))
  }

  private def fullAggregate(src: DataFrame, groupBy: Seq[String],
                            aggs: Seq[(String, String)]): DataFrame = {
    val cols = aggs.map {
      case (c, "sum") => sum(col(c)).as(aggName(c, "sum"))
      case (c, "count") => count(col(c)).as(aggName(c, "count"))
      case (c, "min") => min(col(c)).as(aggName(c, "min"))
      case (c, "max") => max(col(c)).as(aggName(c, "max"))
      case (c, fn) => throw new IllegalArgumentException(
        s"incremental MV supports sum|count|min|max aggregates only " +
          s"(got $c:$fn — sum/count fold invertibly, min/max keep a " +
          "monotonic fast path with recompute-on-retract; derive avg " +
          "from sum/count downstream)")
    } :+ count(lit(1)).cast("bigint").as(RowsCol)
    src.groupBy(groupBy.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Create `mvRef` as a versioned lake table materializing
    * `GROUP BY groupBy` sum/count/min/max aggregates over the versioned
    * source, at the source's CURRENT version; `keys` is the source's
    * row identity (the change feed's diff key). The MV lays out as
    * `bucket(buckets, groupBy.head)` — cardinality-independent
    * directory count (never one dir per group), refresh merges prune
    * to the touched buckets, and point lookups stay bucket-pruned. */
  def create(spark: SparkSession, mvRef: String, sourceRef: String,
             keys: Seq[String], groupBy: Seq[String],
             aggs: Seq[(String, String)], buckets: Int = 16): Long = {
    val srcDir = Catalog.tableDir(spark, sourceRef)
    // PK sources fold the RESOLVED changelog (the snapshot reads
    // resolve latest-per-key), so the retract algebra sees exactly
    // one before/after per key transition — correct by construction
    val srcV = Snapshots.latest(srcDir).map(_.version).getOrElse(
      throw new IllegalArgumentException(
        s"$sourceRef is not a manifest-versioned table"))
    fullAggregate(
      spark.sql(s"SELECT * FROM $sourceRef VERSION AS OF $srcV"),
      groupBy, aggs).createOrReplaceTempView("__mv_full")
    val mvDir = Catalog.tableDir(spark, mvRef)
    // the CTAS data commit carries the initial watermark stamp — the
    // manifest is the single source from the first snapshot on
    Snapshots.withSummaryStamp(mvDir, Map(SourceVersionKey -> srcV)) {
      spark.sql(s"CREATE TABLE $mvRef " +
        s"PARTITIONED BY (bucket($buckets, `${groupBy.head}`)) " +
        "TBLPROPERTIES ('versioned'='true') " +
        "AS SELECT * FROM __mv_full")
    }
    writeDef(mvDir, MvDef(sourceRef, keys, groupBy, aggs, srcV,
      Snapshots.latest(mvDir).map(_.version).getOrElse(0L), None))
    srcV
  }

  /** Create `mvRef` as the continuously-maintainable aggregate over an
    * INNER equi-join `fact ⋈ dim` — the reference's actual MV shape
    * (`flink-cdc/sql/revenue-analytics.sql:62-65`: `tickets JOIN
    * movies ON movie_id GROUP BY movie_id, m.title, …` — dimension
    * attributes live IN the MV key and the view updates when EITHER
    * side changes; a retitled movie rewrites that movie's groups).
    *
    * Semantics and the incremental rule:
    *  - `joinCols` (same-named on both sides) must be the DIMENSION's
    *    row identity — each fact row joins at most one dim row, so the
    *    join result keys by the fact's own `factKeys` and its
    *    changelog derives without ever diffing the join itself;
    *  - refresh folds the delta of the join: the fact feed's
    *    before/after images joined against the dim AT THE MATCHING
    *    watermark (before ⋈ dim@fromD retracts, after ⋈ dim@toD
    *    inserts), plus — only when the dim changed — the STEADY fact
    *    rows whose join key's dim row changed, each contributing a
    *    retract against the old dim image and an insert against the
    *    new (the Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB algebra with the overlap
    *    handled by pairing versions, never double-counted);
    *  - a fact-only refresh therefore reads O(fact delta) — no fact
    *    or dim table scan; a dim change reads the dim delta plus one
    *    fact pass restricted to the changed join keys;
    *  - dangling fact rows (no dim match) contribute nothing until
    *    the dim row appears — inner-join semantics on both the full
    *    and the incremental path;
    *  - BOTH watermarks stamp the SAME refresh commit
    *    ([[SourceVersionKey]], [[DimVersionKey]]) — the two-source
    *    pair is atomic, no torn half-advanced state exists. */
  def createJoin(spark: SparkSession, mvRef: String, factRef: String,
                 dimRef: String, factKeys: Seq[String],
                 joinCols: Seq[String], groupBy: Seq[String],
                 aggs: Seq[(String, String)], buckets: Int = 16)
      : (Long, Long) = {
    val factDir = Catalog.tableDir(spark, factRef)
    val dimDir = Catalog.tableDir(spark, dimRef)
    val fv = Snapshots.latest(factDir).map(_.version).getOrElse(
      throw new IllegalArgumentException(
        s"$factRef is not a manifest-versioned table"))
    val dv = Snapshots.latest(dimDir).map(_.version).getOrElse(
      throw new IllegalArgumentException(
        s"$dimRef is not a manifest-versioned table"))
    val fCols = spark.table(factRef).columns.toSet
    val dCols = spark.table(dimRef).columns.toSet
    require(joinCols.nonEmpty &&
      joinCols.forall(c => fCols(c) && dCols(c)),
      s"join MV: joinCols ${joinCols.mkString(",")} must exist " +
        "same-named on both sides")
    val clash = (fCols intersect dCols) diff joinCols.toSet
    require(clash.isEmpty,
      s"join MV: non-join columns shared by both sides would be " +
        s"ambiguous in the joined row: ${clash.mkString(",")}")
    // the join key must be the dim's ROW IDENTITY, or one fact row
    // joins many dim rows and the fact-keyed changelog under-counts —
    // provable for declared-PK dims, the caller's contract otherwise
    PkTables.read(dimDir).foreach { pk =>
      require(pk.keys.toSet == joinCols.toSet,
        s"join MV: $dimRef declares PRIMARY KEY " +
          s"(${pk.keys.mkString(",")}) but the join is on " +
          s"(${joinCols.mkString(",")}) — the join key must be the " +
          "dimension's row identity")
    }
    fullAggregate(
      spark.sql(s"SELECT * FROM $factRef VERSION AS OF $fv")
        .join(spark.sql(s"SELECT * FROM $dimRef VERSION AS OF $dv"),
          joinCols, "inner"),
      groupBy, aggs).createOrReplaceTempView("__mv_full")
    val mvDir = Catalog.tableDir(spark, mvRef)
    Snapshots.withSummaryStamp(mvDir,
      Map(SourceVersionKey -> fv, DimVersionKey -> dv)) {
      spark.sql(s"CREATE TABLE $mvRef " +
        s"PARTITIONED BY (bucket($buckets, `${groupBy.head}`)) " +
        "TBLPROPERTIES ('versioned'='true') " +
        "AS SELECT * FROM __mv_full")
    }
    writeDef(mvDir, MvDef(factRef, factKeys, groupBy, aggs, fv,
      Snapshots.latest(mvDir).map(_.version).getOrElse(0L), None,
      Some(dimRef), joinCols, dv))
    (fv, dv)
  }

  /** The refresh watermark, SINGLE-SOURCED from the MV's own manifest:
    * the newest snapshot whose summary carries [[SourceVersionKey]].
    * Unstamped content-changing commits ABOVE it (or above the sidecar
    * cache when every stamped snapshot was expired) are FOREIGN
    * writes — loud, never a silently corrupted fold. Returns
    * (source watermark, dim watermark — 0 for single-source MVs, the
    * MV version carrying them). */
  private def currentState(mvDir: Path, d: MvDef): (Long, Long, Long) = {
    def failForeign(foreign: Seq[(Long, String)]): Nothing =
      throw new IllegalStateException(
        s"$mvDir: the MV table carries ${foreign.size} commit(s) this " +
          "engine did not stamp (" +
          foreign.map { case (v, op) => s"v$v=$op" }.mkString(", ") +
          ") — the MV is engine-owned; direct writes break the " +
          "incremental fold. Recreate the MV (or roll the table back " +
          "to the last stamped snapshot)")
    val vs = Snapshots.versions(mvDir).sorted.reverse
    var foreign = List.empty[(Long, String)]
    vs.foreach { v =>
      Snapshots.readMeta(mvDir, v) match {
        case Some(m) if isStamped(m) =>
          if (foreign.nonEmpty) failForeign(foreign)
          return (m.summary(SourceVersionKey),
            m.summary.getOrElse(DimVersionKey, 0L), v)
        case Some(m) if isForeign(m) =>
          foreign = (v, m.operation) :: foreign
        case _ => ()
      }
    }
    // no stamp in the retained log (expire GC'd them all): the
    // write-behind sidecar cache, same foreign discipline above it
    val aboveCache = foreign.filter(_._1 > d.mvVersion)
    if (aboveCache.nonEmpty) failForeign(aboveCache)
    (d.version, d.dimVersion, d.mvVersion)
  }

  /** Fold the source changes in `(def.version, latest]` into the MV
    * with ONE `MERGE INTO` over the changed groups; returns
    * (fromVersion, toVersion) — equal means already fresh. */
  def refresh(spark: SparkSession, mvRef: String): (Long, Long) = {
    val mvDir = Catalog.tableDir(spark, mvRef)
    // WAP conf guard: the refresh MERGE would stage on the branch
    // while the watermark sidecar advances GLOBALLY — main would then
    // silently skip those changes forever. Loud, never silent.
    require(Snapshots.activeWriteBranch(mvDir).isEmpty,
      s"$mvRef: refresh with an active write branch " +
        "('graft.write.branch') would stage the MV merge on the " +
        "branch while the refresh watermark advances globally — " +
        "unset the conf first")
    var d = readDef(mvDir)
    // legacy (pre-r16) sidecars may carry a torn two-phase intent:
    // resolve it ONCE with the old detection (MV advanced past the
    // recorded version → the merge landed, finalize; else clear),
    // then the manifest stamp takes over
    d.pendingTo.foreach { to =>
      val mvNow = Snapshots.latest(mvDir).map(_.version).getOrElse(0L)
      d =
        if (mvNow > d.mvVersion) d.copy(version = to, mvVersion = mvNow,
          pendingTo = None)
        else d.copy(pendingTo = None)
      writeDef(mvDir, d)
    }
    val (fromV, fromD, stampV) = currentState(mvDir, d)
    // commit-time foreign-write guard: a direct user commit landing
    // BETWEEN currentState() and the stamped refresh merge would end
    // up BELOW the new stamp, where the newest-stamp scan never looks
    // again — so the refresh's own commits re-check, per OCC attempt,
    // that everything above the observed stamp is stamped/maintenance,
    // and conflict loudly otherwise (the retry re-reads the state)
    // Each refresh lands EXACTLY ONE guarded commit (the merge, or the
    // watermark bump when it merged nothing), so the guard may flag
    // EVERY non-maintenance commit above the observed stamp:
    //  - an UNSTAMPED one is a foreign write (recreate/roll back);
    //  - a STAMPED one is a CONCURRENT REFRESH — merging on top would
    //    double-apply the shared range, so conflict and let the caller
    //    retry from the advanced watermark (the race law: racing
    //    refreshes serialize, deltas never fold twice).
    def foreignGuard(prev: Option[Snapshots.Snapshot]): Unit = {
      val latest = prev.map(_.version).getOrElse(0L)
      val above = Snapshots.versions(mvDir)
        .filter(v => v > stampV && v <= latest)
        .flatMap(v => Snapshots.readMeta(mvDir, v).map(v -> _))
      val stamped = above.filter(vm => isStamped(vm._2))
      val foreign = above.filter(vm => isForeign(vm._2))
      if (foreign.nonEmpty)
        throw new CommitConflictException(
          s"$mvRef: ${foreign.size} foreign commit(s) landed on the " +
            "MV table while this refresh was computing (" +
            foreign.map { case (v, m) => s"v$v=${m.operation}" }
              .mkString(", ") +
            ") — the MV is engine-owned; aborting the refresh merge " +
            "instead of stamping over them. Recreate the MV (or roll " +
            "the table back to the last stamped snapshot)")
      if (stamped.nonEmpty)
        throw new CommitConflictException(
          s"$mvRef: a concurrent refresh committed " +
            stamped.map { case (v, m) => s"v$v=${m.operation}" }
              .mkString(", ") +
            " while this refresh was computing — merging on top would " +
            "double-apply the shared range; re-run the refresh (it " +
            "resumes from the advanced watermark)")
    }
    val srcDir = Catalog.tableDir(spark, d.source)
    val to = Snapshots.latest(srcDir).map(_.version).getOrElse(fromV)
    d.dim match {
      case None =>
        if (to <= fromV) return (fromV, fromV)
        val changes = Catalog.readTableChanges(
          spark, d.source, d.keys, fromV, to)
        // the signed delta fold (applyChangelogAggregateRetract's
        // algebra, plus the group-liveness row delta)
        applyDelta(spark, mvRef, mvDir, d,
          graft.cdc.Upsert.signedRows(changes),
          () => spark.sql(s"SELECT * FROM ${d.source} VERSION AS OF $to"),
          Map(SourceVersionKey -> to), foreignGuard,
          _.copy(version = to))
        (fromV, to)
      case Some(dimRef) =>
        val dimDir = Catalog.tableDir(spark, dimRef)
        val toD = Snapshots.latest(dimDir).map(_.version).getOrElse(fromD)
        if (to <= fromV && toD <= fromD) return (fromV, fromV)
        applyDelta(spark, mvRef, mvDir, d,
          joinSignedDelta(spark, d, dimRef, fromV, to, fromD, toD),
          () => spark.sql(s"SELECT * FROM ${d.source} VERSION AS OF $to")
            .join(spark.sql(s"SELECT * FROM $dimRef VERSION AS OF $toD"),
              d.joinCols, "inner"),
          Map(SourceVersionKey -> to, DimVersionKey -> toD),
          foreignGuard, _.copy(version = to, dimVersion = toD))
        (fromV, to)
    }
  }

  /** The signed delta of `fact ⋈ dim` over `(fromF, toF] × (fromD,
    * toD]`: the fact feed's before/after images joined against the
    * dim at the MATCHING watermark (before ⋈ dim@fromD retracts,
    * after ⋈ dim@toD inserts), plus — only when the dim changed — the
    * STEADY fact rows whose join key's dim row changed (one retract
    * against the old dim image, one insert against the new). Version
    * PAIRING handles the ΔA⋈ΔB overlap: a fact row that changed while
    * its dim row also changed rides the fact legs alone (old row ⋈
    * old dim, new row ⋈ new dim) and is anti-joined out of the steady
    * set — every (row, weight) contribution appears exactly once. A
    * fact-only refresh therefore touches O(fact delta) rows and scans
    * NEITHER table. */
  private def joinSignedDelta(spark: SparkSession, d: MvDef,
                              dimRef: String, fromF: Long, toF: Long,
                              fromD: Long, toD: Long): DataFrame = {
    def factAt(v: Long) =
      spark.sql(s"SELECT * FROM ${d.source} VERSION AS OF $v")
    def dimAt(v: Long) =
      spark.sql(s"SELECT * FROM $dimRef VERSION AS OF $v")
    // time-travel reads planned ONCE per version and shared across
    // legs (each spark.sql re-parse/re-analysis re-resolves the
    // manifest — ~0.1–0.3 s of driver work per leg, r17 candidate #1)
    val dimTo = dimAt(toD)
    val dimFrom = if (fromD == toD) dimTo else dimAt(fromD)
    // both dim states in ONE tagged frame: a leg joins it once and
    // derives its weight from the matched state — the retract leg
    // (⋈ dim@fromD, −1) and the insert leg (⋈ dim@toD, +1) fuse into
    // one join, halving the joins (and dim subtrees) of the 4-leg form
    lazy val dimBoth = dimTo.withColumn("__st", lit(1L))
      .unionByName(dimFrom.withColumn("__st", lit(-1L)))
    // the fact feed, materialized once (after leg, before leg, and the
    // steady-set exclusion all read it) — O(fact delta)
    val changes =
      if (toF <= fromF) None
      else Some(Catalog.readTableChanges(spark, d.source, d.keys,
        fromF, toF).localCheckpoint(true))
    val factLegs = changes.toSeq.map { ch =>
      val fu = graft.cdc.Upsert.signedRows(ch)
      if (fromD == toD) fu.join(dimTo, d.joinCols, "inner")
      else fu.join(dimBoth, d.joinCols, "inner")
        .filter(col("__w") === col("__st")).drop("__st")
    }
    val dimLegs: Seq[DataFrame] =
      if (toD <= fromD) Seq.empty
      else {
        val dch = Catalog.readTableChanges(spark, dimRef, d.joinCols,
          fromD, toD)
        val dimKeys = dch.select(d.joinCols.map(c =>
            coalesce(col(s"after.$c"), col(s"before.$c")).as(c)): _*)
          .distinct().localCheckpoint(true)
        if (dimKeys.isEmpty) Seq.empty
        else {
          val f = factAt(toF)
          val touched = f.join(dimKeys,
            d.joinCols.map(c => f(c) <=> dimKeys(c)).reduce(_ && _),
            "left_semi")
          val steady = changes.fold(touched) { ch =>
            val changedIds = ch.select(d.keys.map(k =>
                coalesce(col(s"after.$k"), col(s"before.$k")).as(k)): _*)
              .distinct()
            touched.join(changedIds,
              d.keys.map(k => touched(k) <=> changedIds(k)).reduce(_ && _),
              "left_anti")
          }
          // single-use after the state-tag fusion: the fact pass runs
          // ONCE inside the delta aggregation's own execution — no
          // eager materialization of the steady set (was its own
          // full-fact-scan action + checkpoint, then two join legs)
          Seq(steady.join(dimBoth, d.joinCols, "inner")
            .withColumn("__w", col("__st")).drop("__st"))
        }
      }
    val legs = factLegs ++ dimLegs
    if (legs.isEmpty)
      factAt(toF).limit(0).join(dimTo, d.joinCols, "inner")
        .withColumn("__w", lit(1L))
    else legs.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Fold a signed source-row delta into the MV with ONE `MERGE INTO`
    * over the changed groups, the watermark stamp(s) riding the merge
    * commit; `srcAtTo` supplies the post-range source image for the
    * extremal recompute-on-retract. */
  private def applyDelta(spark: SparkSession, mvRef: String, mvDir: Path,
                         d: MvDef, signed: DataFrame,
                         srcAtTo: () => DataFrame,
                         stamps: Map[String, Long],
                         foreignGuard: Option[Snapshots.Snapshot] => Unit,
                         advance: MvDef => MvDef): Unit = {
    val invertible = d.aggs.filter(a => a._2 == "sum" || a._2 == "count")
    val extremal = d.aggs.filter(a => a._2 == "min" || a._2 == "max")
    // min/max deltas: the INSERT side's extrema (the monotonic fast
    // path — least/greatest against the MV value), plus a per-group
    // retraction flag: a retracted row can ONLY move an extremum by
    // recomputation (the fold is not invertible for min/max)
    val deltaCols = d.aggs.map {
      case (c, "sum") => sum(col(c) * col("__w")).as(aggName(c, "sum"))
      case (c, "count") => sum(when(col(c).isNotNull, col("__w"))
        .otherwise(0L)).as(aggName(c, "count"))
      case (c, "min") => min(when(col("__w") > 0L, col(c)))
        .as(aggName(c, "min"))
      case (c, "max") => max(when(col("__w") > 0L, col(c)))
        .as(aggName(c, "max"))
      case (c, fn) => throw new IllegalStateException(s"$c:$fn")
    } ++ Seq(
      sum(col("__w")).cast("bigint").as("__d_rows"),
      max(when(col("__w") < 0L, 1L).otherwise(0L)).cast("bigint")
        .as("__retract"))
    val deltas0 = signed
      .groupBy(d.groupBy.map(col): _*)
      .agg(deltaCols.head, deltaCols.tail: _*)
      // groups whose every delta is zero (e.g. an update that left
      // the aggregated columns alone) need no write — with extremal
      // aggregates a RETRACTION or a new extremum candidate is a
      // change too (a sum-preserving value swap can move the min);
      // sum/count-only MVs ignore the retract flag (their fold is
      // invertible — a net-zero churn range touches no group)
      .filter((Seq(col("__d_rows") =!= 0L) ++
        invertible.map { case (c, fn) =>
          coalesce(col(aggName(c, fn)), lit(0L)) =!= 0L } ++
        (if (extremal.isEmpty) Seq.empty
         else Seq(col("__retract") === 1L) ++
           extremal.map { case (c, fn) => col(aggName(c, fn)).isNotNull }))
        .reduce(_ || _))
    // materialize the signed fold ONCE: the retraction probe, the
    // recompute join's build side, the empty-delta check and the merge
    // all read the SAME computed delta (and a NET-ZERO churn range —
    // insert+delete of the same keys — must not trigger a group
    // rewrite: the merge with an empty source still plans a
    // replace-data commit). With extremal aggregates the recompute
    // branch used to reference deltas0 TWICE (its own left side and
    // the semi-join's build side) — unmaterialized, the whole signed
    // DAG executed twice per refresh (the r17 unshared-subtree trap).
    val matDeltas0 = deltas0.localCheckpoint(true)
    // recompute-on-retract: for retracted groups ONLY, the extrema
    // re-derive from the source at `to` — O(retracted groups' rows),
    // null-safe-joined so NULL group keys recompute too
    val matDeltas =
      if (extremal.isEmpty) matDeltas0
      else {
        // the retracted group keys, from the MATERIALIZED delta — a
        // pure-insert refresh skips the recompute (and the source
        // time-travel read's planning) entirely
        val retractedKeys = matDeltas0.filter(col("__retract") === 1L)
          .select(d.groupBy.map(col): _*).distinct()
          .limit(MaxRetractInList + 1).collect()
        if (retractedKeys.isEmpty) {
          // the merge SQL still references the __rc columns — typed
          // NULLs (nothing retracted, the fast path never reads them)
          extremal.foldLeft(matDeltas0) { case (df, (c, fn)) =>
            val n = aggName(c, fn)
            df.withColumn(s"__rc_$n", lit(null).cast(df.schema(n).dataType))
          }
        } else {
          val src0 = srcAtTo()
          // IN-pushdown prune (guide §6 / r17 VERDICT #2): when the
          // retracted group set is driver-small, a per-column IN
          // predicate — a SUPERSET of the retracted groups, NULL keys
          // included — pushes into the source scan (parquet row-group
          // stats, partition pruning, manifest file skipping), so the
          // recompute reads O(affected files), not O(table). The
          // semi-join below keeps exactness; past the cap the scan
          // stays semi-join-restricted only (shuffle O(retracted)).
          val src =
            if (retractedKeys.length > MaxRetractInList) src0
            else {
              val preds = d.groupBy.zipWithIndex.map { case (g, i) =>
                val vs = retractedKeys.map(_.get(i)).distinct.toSeq
                val nonNull = vs.filterNot(_ == null)
                val in =
                  if (nonNull.isEmpty) lit(false)
                  else col(g).isin(nonNull: _*)
                if (vs.contains(null)) in || col(g).isNull else in
              }
              src0.where(preds.reduce(_ && _))
            }
          val retracted = matDeltas0.filter(col("__retract") === 1L)
            .select(d.groupBy.map(g => col(g).as(s"__rk_$g")): _*)
          val rcCols = extremal.map {
            case (c, "min") => min(col(c)).as("__rc_" + aggName(c, "min"))
            case (c, "max") => max(col(c)).as("__rc_" + aggName(c, "max"))
            case (c, fn) => throw new IllegalStateException(s"$c:$fn")
          }
          val rc = src.join(retracted,
              d.groupBy.map(g => src(g) <=> col(s"__rk_$g")).reduce(_ && _),
              "left_semi")
            .groupBy(d.groupBy.map(col): _*)
            .agg(rcCols.head, rcCols.tail: _*)
            .select(d.groupBy.map(g => col(g).as(s"__rk_$g")) ++
              extremal.map { case (c, fn) =>
                col("__rc_" + aggName(c, fn)) }: _*)
          matDeltas0.join(rc,
              d.groupBy.map(g => matDeltas0(g) <=> rc(s"__rk_$g"))
                .reduce(_ && _), "left")
            .drop(d.groupBy.map(g => s"__rk_$g"): _*)
            .localCheckpoint(true)
        }
      }
    if (matDeltas.isEmpty) {
      Snapshots.withCommitCheck(mvDir)(foreignGuard) {
        Snapshots.withSummaryStamp(mvDir, stamps) {
          Snapshots.commit(mvDir, Snapshots.Op.MvWatermark,
            identity[Seq[String]])
        }
      }
      writeDef(mvDir, advance(d).copy(
        mvVersion = Snapshots.latest(mvDir).map(_.version).getOrElse(0L),
        pendingTo = None))
      return
    }
    matDeltas.createOrReplaceTempView("__mv_deltas")
    val names = d.aggs.map { case (c, fn) => aggName(c, fn) }
    val on = d.groupBy.map(g => s"t.`$g` <=> s.`$g`").mkString(" AND ")
    val sets = (d.aggs.map {
      case (c, fn @ ("sum" | "count")) =>
        val n = aggName(c, fn)
        s"`$n` = coalesce(t.`$n`, 0) + coalesce(s.`$n`, 0)"
      case (c, fn) =>
        val n = aggName(c, fn)
        val fast = if (fn == "min") "least" else "greatest"
        // retraction → the recomputed value (authoritative); pure
        // inserts → the monotonic fast path (least/greatest skip NULLs)
        s"`$n` = CASE WHEN s.`__retract` = 1 THEN s.`__rc_$n` " +
          s"ELSE $fast(t.`$n`, s.`$n`) END"
    } :+ s"`$RowsCol` = t.`$RowsCol` + s.`__d_rows`").mkString(", ")
    val insCols = (d.groupBy ++ names :+ RowsCol).map(c => s"`$c`")
      .mkString(", ")
    val insVals = (d.groupBy.map(g => s"s.`$g`") ++
      d.aggs.map {
        case (c, fn @ ("sum" | "count")) =>
          s"coalesce(s.`${aggName(c, fn)}`, 0)"
        case (c, fn) =>
          val n = aggName(c, fn)
          s"CASE WHEN s.`__retract` = 1 THEN s.`__rc_$n` ELSE s.`$n` END"
      } :+ "s.`__d_rows`")
      .mkString(", ")
    // the merge commit CARRIES the new watermark — fold and watermark
    // are one atomic commit, no torn window exists; the commit check
    // closes the remaining race (foreign commit after currentState)
    Snapshots.withCommitCheck(mvDir)(foreignGuard) {
      Snapshots.withSummaryStamp(mvDir, stamps) {
        spark.sql(
          s"""MERGE INTO $mvRef t USING __mv_deltas s ON $on
             |WHEN MATCHED AND t.`$RowsCol` + s.`__d_rows` <= 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET $sets
             |WHEN NOT MATCHED THEN INSERT ($insCols) VALUES ($insVals)"""
            .stripMargin)
        // an all-zero delta merges nothing and commits nothing: bump the
        // watermark with a metadata-only commit so the next refresh
        // never rescans the folded range
        val stamped = Snapshots.latest(mvDir).exists(s =>
          stamps.forall { case (k, v) => s.summary.get(k).contains(v) })
        if (!stamped)
          Snapshots.commit(mvDir, Snapshots.Op.MvWatermark,
            identity[Seq[String]])
        ()
      }
    }
    // write-behind CACHE (used only when expire GC'd every stamped
    // snapshot from the retained log)
    writeDef(mvDir, advance(d).copy(
      mvVersion = Snapshots.latest(mvDir).map(_.version).getOrElse(0L),
      pendingTo = None))
  }
}

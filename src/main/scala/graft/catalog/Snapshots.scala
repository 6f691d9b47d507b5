package graft.catalog

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.language.implicitConversions

/** A concurrent committer lost the optimistic-concurrency race and the
  * operation's read set changed underneath it (or the retry budget ran
  * out). The operation is safe to re-run: nothing was published. */
final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

/** Manifest-file snapshot log for PARTITIONED lake tables — the
  * Iceberg/Paimon model where a snapshot is a LIST OF DATA FILES, not
  * a directory (reference lake tier: Paimon/Iceberg,
  * `flink-cdc/Dockerfile:8-9`; tiering opt-in
  * `flink-cdc/sql/tickets-cdc.sql:35-36`). The flat-table `v=<n>`
  * directory layout cannot compose with `col=value` partition
  * directories, so versioned partitioned tables decouple versioning
  * from layout:
  *
  *  - data files land in the ordinary hive `col=value` /
  *    `_gbucket=<id>` directories and are IMMUTABLE once committed;
  *  - each commit writes `_graft_snapshots/s-<n>.json` — the
  *    table-relative paths of the files that ARE version `n`, the
  *    commit wall-clock, the operation that produced it with a
  *    files-added/removed summary, and (once the table has been
  *    `analyze`d) the per-file min/max/count stats of its live files,
  *    commit-atomic with the file list itself — so `VERSION AS OF`
  *    scans file-skip and metadata-only aggregates serve ANY retained
  *    snapshot, not just the latest (the Iceberg stats-in-manifest
  *    model);
  *  - the CURRENT table reads the latest manifest's files; `VERSION /
  *    TIMESTAMP AS OF` reads an older manifest; overwritten/deleted
  *    files stay on disk (readable by older snapshots) until
  *    `expire_snapshots` drops the manifests that reference them and
  *    garbage-collects the unreferenced files.
  *
  * Presence of the `_graft_snapshots/` directory is what flips a
  * partitioned table into snapshot semantics (created by `CREATE TABLE
  * ... TBLPROPERTIES ('versioned'='true')`).
  *
  * MULTI-WRITER safety (the reference architecture runs a per-table
  * CDC job AND a tiering/compaction service against the same tables,
  * `deploy:296-311` vs `deploy:318-358`): commits use optimistic
  * concurrency. A committer reads the latest manifest, derives its new
  * file list FROM that base, and publishes `s-(base+1)` with atomic
  * create-if-absent semantics — two writers racing to the same version
  * number produce exactly one winner; the loser re-reads the new
  * latest, re-derives, re-validates its read set (copy-on-write
  * rewrites fail with [[CommitConflictException]] when the files they
  * read changed underneath them — never a silent lost update), and
  * retries. Atomic create-if-absent is a hard link on a POSIX
  * filesystem (`Files.createLink` fails atomically when the target
  * exists — rename() would silently replace); an object-store
  * deployment swaps in a conditional PUT (`If-None-Match: *`). */
private[catalog] object Snapshots {

  val DirName = "_graft_snapshots"
  val Property = "versioned"

  /** Merge-on-read DELETE FILES ([[MorDeletes]]) live under this
    * table-relative directory and travel through the manifest log as
    * ordinary file-list entries — commits, expire GC, rollback,
    * branches, and fast-forward are all path-generic — but every
    * consumer that READS file contents must split them from data
    * files (their schema is `(file, pos)` row coordinates, not the
    * table's). The `delete-` basename prefix keeps them recognizable
    * even after the directory is stripped (stats maps key by
    * basename). */
  val DeleteDirName = "_graft_deletes"

  def isDeleteFile(f: String): Boolean =
    f.startsWith(DeleteDirName + "/")

  /** The DATA files of a manifest file list (position-delete AND
    * equality-delete files split out — neither carries table rows). */
  def dataFiles(files: Seq[String]): Seq[String] =
    files.filterNot(f => isDeleteFile(f) || PkTables.isEqDeleteFile(f))

  /** The merge-on-read delete files of a manifest file list. */
  def deleteFiles(files: Seq[String]): Seq[String] =
    files.filter(isDeleteFile)

  /** Optimistic retry budget: how many times one commit re-derives
    * against a refreshed latest before giving up. Losers back off with
    * jitter (below) so a herd of committers doesn't lock-step into the
    * same next version number until the budget burns out. */
  private val MaxAttempts = 20

  /** What a commit did to the table's ROWS — the one meaning every
    * metadata short-circuit reads (Paimon's `CommitKind`, Iceberg's
    * snapshot `operation`):
    *  - [[CommitKind.Content]]: rows may have changed — the feed must
    *    be derived;
    *  - [[CommitKind.Replace]]: the same resolved rows in new files
    *    (compaction); its commit validation rejects any concurrent
    *    change to the files it read, so the feed is provably empty;
    *  - [[CommitKind.Meta]]: the same files, new table metadata
    *    (stats, Bloom bits, an MV watermark, the create/fork marker);
    *  - [[CommitKind.Ref]]: the same files, new ref state (tags) or
    *    retention (expire) — not a data commit for retention counts. */
  sealed trait CommitKind
  object CommitKind {
    case object Content extends CommitKind
    case object Replace extends CommitKind
    case object Meta extends CommitKind
    case object Ref extends CommitKind
  }

  /** The closed set of operations a commit records. `name` is the
    * persisted `operation` string (manifests, `$snapshots`); [[Op.parse]]
    * is the one map from a name back to an operation. A name this
    * engine never writes (a legacy or foreign manifest) parses as
    * [[Op.Other]], kind Content: an unknown commit may have changed
    * rows, so every short-circuit fails closed. */
  sealed abstract class Op(val name: String, val kind: CommitKind)
  object Op {
    import CommitKind._
    case object Append extends Op("append", Content)
    case object Overwrite extends Op("overwrite", Content)
    case object Delete extends Op("delete", Content)
    case object Update extends Op("update", Content)
    case object Merge extends Op("merge", Content)
    /** Copy-on-write UPDATE/MERGE: replacement rows differ. */
    case object Rewrite extends Op("rewrite", Content)
    case object Rollback extends Op("rollback", Content)
    case object CherryPick extends Op("cherry_pick", Content)
    case object FastForward extends Op("fast_forward", Content)
    case object Migrate extends Op("migrate", Content)
    case object Compact extends Op("compact", Replace)
    case object Zorder extends Op("zorder", Replace)
    case object RewriteDeletes extends Op("rewrite-deletes", Replace)
    case object RewriteEqDeletes extends Op("rewrite-eqdeletes", Replace)
    case object Create extends Op("create", Meta)
    case object Branch extends Op("branch", Meta)
    case object Analyze extends Op("analyze", Meta)
    case object Bloom extends Op("bloom", Meta)
    case object MvWatermark extends Op("mv-watermark", Meta)
    case object Tag extends Op("tag", Ref)
    case object Untag extends Op("untag", Ref)
    case object Expire extends Op("expire", Ref)
    final case class Other(raw: String) extends Op(raw, Content)

    val written: Seq[Op] = Seq(Append, Overwrite, Delete, Update, Merge,
      Rewrite, Rollback, CherryPick, FastForward, Migrate, Compact, Zorder,
      RewriteDeletes, RewriteEqDeletes, Create, Branch, Analyze, Bloom,
      MvWatermark, Tag, Untag, Expire)
    private val byName: Map[String, Op] = written.map(o => o.name -> o).toMap

    def parse(name: String): Op = byName.getOrElse(name, Other(name))

    /** A caller holding a persisted name commits the operation it
      * parses to. */
    implicit def fromName(name: String): Op = parse(name)
  }

  /** `parent` is the snapshot this one was committed AGAINST (None for
    * the initial snapshot and pre-parent manifests): the change feed
    * diffs a version against its RECORDED parent, so a retention hole
    * (expire keeping a pinned older snapshot but dropping the middle)
    * is detected instead of silently diffing against the wrong
    * predecessor. `op` records WHAT produced the snapshot: its
    * persisted NAME (`operation`: append/overwrite/delete/rewrite/
    * compact/… — the audit surface Iceberg exposes per snapshot) and
    * its KIND ([[CommitKind]]), the one meaning every short-circuit
    * reads (change-feed emptiness, MV foreign-write detection,
    * retention counting) — never the name. `summary` counts the files
    * it added and removed. `stats` is the commit-atomic
    * per-file min/max/count block (empty until the table is analyzed;
    * keyed by file BASENAME — per-write UUID names make those unique).
    * `segments` is the manifest-LIST view (r13, the Iceberg
    * manifest-list structure): the file list + stats live in immutable
    * content-addressed SEGMENT files (`m-<sha1>.json`) the manifest
    * references by name — a commit serializes only its DELTA as a new
    * segment and carries the rest by reference, so commit metadata is
    * O(changed files), not O(live files). `dropped` is the version
    * list an `expire` commit schedules for removal (empty elsewhere) —
    * the record that lets a racing rollback detect its target dying in
    * the window between the expire's commit and its manifest
    * deletions. */
  /** `lastSeq`/`seqs` (r14): the per-table MONOTONIC COMMIT SEQUENCE —
    * Iceberg's data-sequence-number expressed in the segment model.
    * A commit that ADDS files stamps them `lastSeq+1` (recorded in its
    * delta segment, keyed by basename; survivors carry their birth
    * seq by segment reference); ref/audit commits never burn a seq.
    * Branch chains extend the fork's sequence linearly, and
    * fast_forward's content check (main unchanged since fork) is
    * exactly the condition under which adopting the branch's numbers
    * is collision-free. `seqs` is the RESOLVED view (like files/
    * stats); legacy files stay unstamped (absent) rather than lying.
    * This is the ordering primitive equality deletes and PK-table
    * merge-on-read need: "rows of files with seq < my seq". */
  /** `pins` (r13) is the tag REF STATE carried by every commit — the
    * Iceberg model where refs live in the CURRENT metadata, not in
    * history: `CALL tag`/`drop_tag` on a manifest table are OCC
    * commits that modify the carried map, so expire's pin read (the
    * refreshed latest inside ITS loop) is linearized with the tag
    * operations on the same chain — the tag-vs-expire window a
    * sidecar-file tag could never close. */
  final case class Snapshot(version: Long, commitMs: Long,
                            files: Seq[String], parent: Option[Long] = None,
                            op: Op = Op.Other(""),
                            summary: Map[String, Long] = Map.empty,
                            stats: Map[String, FileStats.FileStat] = Map.empty,
                            segments: Seq[String] = Seq.empty,
                            dropped: Seq[Long] = Seq.empty,
                            pins: Map[String, Long] = Map.empty,
                            lastSeq: Long = 0L,
                            seqs: Map[String, Long] = Map.empty) {
    def operation: String = op.name
    def kind: CommitKind = op.kind
  }

  private def dir(tableDir: Path): Path = tableDir.resolve(DirName)

  // ---- branches (Iceberg refs, the write-audit-publish surface) ----
  //
  // A BRANCH is a sub-log `_graft_snapshots/branch-<name>/s-<k>.json`
  // forked from a main snapshot: its manifests reference the SAME
  // content-addressed segment pool as main (segments are immutable, so
  // a fork is a few hundred bytes of refs, never a data copy), its
  // commits run the same OCC protocol against ITS latest, and main
  // never sees them until `fast_forward` publishes the branch head
  // through a main OCC commit. The session conf `graft.write.branch`
  // routes table writes AND the current-table read to the branch (the
  // Iceberg `spark.wap.branch` staging semantics): stage → audit →
  // publish, without a second pipeline or table.

  /** Session conf naming the branch table writes/reads target. */
  val BranchConf = "graft.write.branch"

  private def encBranch(name: String): String =
    java.net.URLEncoder.encode(name, "UTF-8")

  def branchDir(tableDir: Path, name: String): Path =
    dir(tableDir).resolve("branch-" + encBranch(name))

  def branchExists(tableDir: Path, name: String): Boolean =
    Files.isDirectory(branchDir(tableDir, name))

  def branches(tableDir: Path): Seq[String] = {
    val d = dir(tableDir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("branch-"))
        .map(p => java.net.URLDecoder.decode(
          p.getFileName.toString.stripPrefix("branch-"), "UTF-8"))
        .toSeq.sorted
      finally s.close()
    }
  }

  /** The branch this session's writes target for `tableDir`: the
    * [[BranchConf]] conf when set. A set conf naming a MISSING branch
    * on a versioned table is a loud error — a staging write silently
    * landing on main is the one failure a WAP pipeline cannot have. */
  def activeWriteBranch(tableDir: Path): Option[String] = activeConf() match {
    case Some(n) if !isVersioned(tableDir) => None // plain tables: no refs
    case Some(n) if !branchExists(tableDir, n) =>
      throw new IllegalArgumentException(
        s"$BranchConf='$n' but $tableDir has no such branch — " +
          s"CALL branch(...) first (branches: ${branches(tableDir).mkString(",")})")
    case other => other
  }

  /** The branch this session's CURRENT reads resolve for `tableDir`:
    * the conf'd branch when it exists here, main otherwise (reads fall
    * back so one session conf can span tables with and without the
    * staging branch). */
  def activeReadBranch(tableDir: Path): Option[String] =
    activeConf().filter(branchExists(tableDir, _))

  private def activeConf(): Option[String] =
    try {
      val v = org.apache.spark.sql.SparkSession.active.conf
        .get(BranchConf, "")
      Option(v).map(_.trim).filter(_.nonEmpty)
    } catch { case _: Exception => None } // no active session

  /** Fork `name` off the main head: the branch's `b-0` carries the
    * head's files/stats BY SEGMENT REFERENCE plus the fork version in
    * its summary (`fast_forward` validates against it). */
  def createBranch(tableDir: Path, name: String): Long = {
    require(name.toLongOption.isEmpty && !name.contains('/'),
      s"branch: '$name' must be a non-numeric name")
    val head = latest(tableDir).getOrElse(throw new IllegalStateException(
      s"$tableDir: no snapshot log to branch from"))
    val bd = branchDir(tableDir, name)
    if (Files.isDirectory(bd)) throw new IllegalArgumentException(
      s"branch '$name' already exists — drop_branch first")
    Files.createDirectories(bd)
    val s = Snapshot(0L, System.currentTimeMillis(), head.files, None,
      Op.Branch,
      Map("fork-main-version" -> head.version,
        "added-data-files" -> 0L, "removed-data-files" -> 0L,
        "total-data-files" -> head.files.size.toLong),
      head.stats, head.segments, pins = head.pins,
      // the branch chain EXTENDS the fork's commit sequence — the
      // numbers stay collision-free exactly because fast_forward only
      // publishes when main's content never advanced past the fork
      lastSeq = head.lastSeq, seqs = head.seqs)
    if (!tryPublishIn(tableDir, bd, s))
      throw new CommitConflictException(
        s"branch '$name': concurrent create won — re-run")
    // expire-race re-validation (the tag discipline): between reading
    // the head and publishing b-0, a concurrent expire may have
    // dropped the fork snapshot and GC'd its segments/files — before
    // the branch dir existed, reachability could not protect them. A
    // branch referencing GC'd segments would brick every later
    // reachability walk, so re-check AFTER the branch is visible and
    // self-revoke on conflict.
    if (readMeta(tableDir, head.version).isEmpty ||
        droppedByRetainedExpire(tableDir, head.version)) {
      dropBranch(tableDir, name)
      throw new CommitConflictException(
        s"branch '$name': the fork snapshot s-${head.version} was " +
          "dropped (or scheduled for removal) by a concurrent " +
          "expire_snapshots — re-run against the current head")
    }
    head.version
  }

  /** The main version branch `name` forked from. */
  def branchFork(tableDir: Path, name: String): Option[Long] =
    readMetaIn(branchDir(tableDir, name), 0L)
      .flatMap(_.summary.get("fork-main-version"))

  def branchVersions(tableDir: Path, name: String): Seq[Long] =
    versionsIn(branchDir(tableDir, name))

  def readBranch(tableDir: Path, name: String, v: Long): Option[Snapshot] =
    readIn(tableDir, branchDir(tableDir, name), v)

  /** Branch manifest WITHOUT segment resolution — the cheap view for
    * parent chains / audit summaries (the branch twin of [[readMeta]]). */
  def readBranchMeta(tableDir: Path, name: String, v: Long): Option[Snapshot] =
    readMetaIn(branchDir(tableDir, name), v)

  def latestBranch(tableDir: Path, name: String): Option[Snapshot] =
    branchVersions(tableDir, name).lastOption.flatMap(readBranch(tableDir, name, _))

  def dropBranch(tableDir: Path, name: String): Boolean = {
    val bd = branchDir(tableDir, name)
    if (!Files.isDirectory(bd)) false
    else {
      val s = Files.walk(bd)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
      true
      // the branch's own data files / segments become orphans the
      // age-guarded vacuum collects (referenced by no retained
      // manifest once the branch log is gone)
    }
  }

  /** Publish the branch head onto MAIN — the WAP "publish" step, an
    * ordinary OCC main commit that REUSES the branch head's segments
    * (zero new metadata bytes beyond the list). True fast-forward
    * only: conflicts when main advanced past the fork point (the
    * staged audit no longer describes a child of main's head) or when
    * the branch's files died (expire GC). Returns the new main
    * version. */
  /** Publish ONE branch commit onto MAIN (Iceberg's
    * `cherrypick_snapshot`) — the selective half of write-audit-
    * publish next to [[fastForward]]'s all-or-nothing: re-apply
    * branch commit `v`'s file DELTA (vs its branch parent) as a new
    * main commit, REUSING the already-written files (zero data bytes
    * moved — cherry-picking is manifest arithmetic). Works when main
    * advanced past the fork, as long as the delta still applies:
    *
    *  - every file the picked commit REMOVED must still be live on
    *    main (else the pick would resurrect a replacement's rows);
    *  - a commit ADDING position-delete files requires the data files
    *    its coordinates can address (the branch parent's data files
    *    under the delete targets' partitions) still live on main —
    *    else the delete would silently miss;
    *  - pure appends always apply.
    *
    * Picked stats ride along (file skipping on main keeps working);
    * re-picking is idempotent on the file list (no duplicates). */
  def cherryPick(tableDir: Path, name: String, v: Long): Long = {
    require(v > 0L,
      s"cherry_pick: b-0 is the fork marker, not a commit to pick")
    val snap = readBranch(tableDir, name, v).getOrElse(
      throw new IllegalArgumentException(
        s"cherry_pick: no commit b-$v on branch '$name' " +
          s"(branches: ${branches(tableDir).mkString(",")})"))
    val parentV = branchVersions(tableDir, name).filter(_ < v).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"cherry_pick: b-$v has no parent on branch '$name'"))
    val parent = readBranch(tableDir, name, parentV).get
    val added = snap.files.diff(parent.files)
    val removed = parent.files.diff(snap.files)
    val addedDeletes = deleteFiles(added)
    val guarded: Seq[String] = removed ++ {
      if (addedDeletes.isEmpty) Seq.empty
      else {
        val targets = addedDeletes.flatMap(MorDeletes.targetDirOf).distinct
        if (addedDeletes.exists(f => MorDeletes.targetDirOf(f).isEmpty))
          dataFiles(parent.files) // unscoped coordinates: guard it all
        else filesUnder(dataFiles(parent.files), targets)
      }
    }
    val pickedStats = {
      val st = statsOf(tableDir, snap)
      added.flatMap { f =>
        val b = basename(f); st.get(b).map(b -> _)
      }.toMap
    }
    commit(tableDir, Op.CherryPick,
      cur => cur.diff(removed) ++ added.filterNot(cur.toSet),
      validateFilesLive("cherry_pick", guarded.distinct),
      freshStats = pickedStats)
  }

  def fastForward(tableDir: Path, name: String): Long = {
    val fork = branchFork(tableDir, name).getOrElse(
      throw new IllegalArgumentException(
        s"fast_forward: no branch '$name' " +
          s"(branches: ${branches(tableDir).mkString(",")})"))
    occ(tableDir, dir(tableDir), Op.FastForward) { main =>
      // the branch head is re-read PER ATTEMPT, and re-checked after
      // the win below — a branch commit racing the publish must never
      // be silently excluded from a "successful" fast_forward
      val head = latestBranch(tableDir, name).getOrElse(
        throw new CommitConflictException(
          s"fast_forward: branch '$name' vanished mid-publish " +
            "(concurrent drop_branch?) — re-run"))
      val headVersion = branchVersions(tableDir, name).last
      // CONTENT-based fast-forward check, not version numbers: ref
      // and audit operations (tag/untag/expire) are commits too now,
      // so main's version advancing with an UNCHANGED file set must
      // not strand every staged branch — compare main's live files to
      // the fork content the branch's b-0 recorded (which survives
      // even when the fork manifest itself expired)
      val forkFiles = filesOf(readBranch(tableDir, name, 0L)).sorted
      if (filesOf(main).sorted != forkFiles)
        throw new CommitConflictException(
          s"fast_forward: main's content advanced past the fork point " +
            s"(forked at s-$fork, main is at " +
            s"s-${main.fold(-1L)(_.version)} with a different file " +
            "set) — re-create the branch from the current head and " +
            "re-stage")
      val missing = head.files.filterNot(f =>
        Files.exists(tableDir.resolve(f)))
      if (missing.nonEmpty) throw new CommitConflictException(
        s"fast_forward: ${missing.size} branch file(s) were " +
          s"garbage-collected (e.g. ${missing.head}) — re-stage")
      val s = Snapshot(main.fold(0L)(_.version + 1L),
        System.currentTimeMillis(), head.files,
        main.map(_.version), Op.FastForward,
        summaryOf(tableDir, filesOf(main), head.files),
        head.stats, head.segments,
        // MAIN's ref state carries — the branch's pin copy is inert
        pins = main.fold(Map.empty[String, Long])(_.pins),
        // the branch extended the fork's sequence linearly; the
        // content check above proved main assigned no competing
        // numbers since the fork, so adopting is collision-free
        lastSeq = head.lastSeq, seqs = head.seqs)
      Right(Publish((s, Seq.empty), _ => {
        // a branch commit that landed between the head read and the
        // main link is NOT lost (it stays staged on the branch) but it
        // is NOT published either — report loudly instead of letting
        // a "success" imply the whole branch shipped
        if (branchVersions(tableDir, name).lastOption.exists(_ != headVersion))
          throw new CommitConflictException(
            s"fast_forward: published the branch head as of b-$headVersion " +
              s"(main s-${s.version}), but a concurrent branch commit " +
              "landed during the publish and is NOT included — it " +
              "remains staged on the branch; re-create the branch from " +
              "the new main head and re-stage it")
        s.version
      }))
    }
  }

  /** One immutable manifest segment: a slice of the live-file list
    * with its per-file stats. Content-addressed (`m-<sha1(json)>.json`)
    * so identical content re-publishes as a zero-byte no-op (rollback
    * re-referencing an old file set reuses its segments), a lost
    * commit race leaves no divergent temp state, and the read cache
    * below can never serve stale bytes. */
  private[catalog] final case class SegmentData(
      files: Seq[String], stats: Map[String, FileStats.FileStat],
      seqs: Map[String, Long] = Map.empty)

  /** How many segments a manifest may reference before a commit folds
    * the smallest ones into its delta segment — bounds the per-read
    * segment resolution AND the list size at O(MaxSegments) while
    * keeping the amortized write cost O(delta · log): the LSM-style
    * merge discipline Iceberg's manifest-merge applies. */
  private val MaxSegments = 16

  // segment files are immutable + content-addressed → a bounded LRU
  // keyed by absolute path can never serve wrong content; it turns the
  // per-scan-build manifest resolution into map lookups
  private val segCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, SegmentData](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, SegmentData]): Boolean = size() > 256
    })

  private def segmentJson(d: SegmentData): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val arr = root.putArray("files")
    d.files.sorted.foreach(arr.add)
    if (d.stats.nonEmpty) root.set("stats", FileStats.statsToNode(om, d.stats))
    if (d.seqs.nonEmpty) {
      val sq = root.putObject("seqs")
      d.seqs.toSeq.sortBy(_._1).foreach { case (k, v) => sq.put(k, v) }
    }
    om.writeValueAsString(root)
  }

  private def segmentName(json: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val hex = md.digest(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"m-$hex.json"
  }

  private[catalog] def loadSegment(tableDir: Path, ref: String): SegmentData = {
    val p = dir(tableDir).resolve(ref)
    val key = p.toAbsolutePath.toString
    val hit = segCache.get(key)
    if (hit != null) return hit
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(Files.readString(p))
    val d = SegmentData(
      Option(node.get("files")).toSeq
        .flatMap(_.elements().asScala.toSeq).map(_.asText()),
      Option(node.get("stats")).fold(Map.empty[String, FileStats.FileStat])(
        FileStats.statsFromNode),
      Option(node.get("seqs")).fold(Map.empty[String, Long])(
        _.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap))
    segCache.put(key, d)
    d
  }

  def isVersioned(tableDir: Path): Boolean = Files.isDirectory(dir(tableDir))

  /** Create the snapshot log with the empty initial snapshot `s-0`
    * (an empty versioned table is version 0 and readable). */
  def init(tableDir: Path): Unit = {
    Files.createDirectories(dir(tableDir))
    if (!tryPublishIn(tableDir, dir(tableDir),
        Snapshot(0L, System.currentTimeMillis(), Seq.empty,
          op = Op.Create,
          summary = Map("added-data-files" -> 0L,
            "removed-data-files" -> 0L, "total-data-files" -> 0L))))
      throw new CommitConflictException(
        s"$tableDir: snapshot log already initialized (concurrent CREATE)")
  }

  /** Retained snapshot versions, ascending. */
  def versions(tableDir: Path): Seq[Long] = versionsIn(dir(tableDir))

  private def versionsIn(logDir: Path): Seq[Long] = {
    if (!Files.isDirectory(logDir)) Seq.empty
    else {
      val s = Files.list(logDir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("s-") && n.endsWith(".json"))
        .flatMap(n => n.stripPrefix("s-").stripSuffix(".json").toLongOption)
        .toSeq.sorted
      finally s.close()
    }
  }

  /** Full snapshot read: the manifest plus its segments resolved into
    * the flat files/stats view every consumer works with. Legacy
    * (pre-r13) manifests carry the file list + stats inline — still
    * readable; their first post-upgrade commit restages them into
    * segments. */
  def read(tableDir: Path, v: Long): Option[Snapshot] =
    readIn(tableDir, dir(tableDir), v)

  /** [[read]] against an explicit log dir (branch sub-logs); segments
    * always resolve from the table's shared pool. */
  private def readIn(tableDir: Path, logDir: Path, v: Long): Option[Snapshot] =
    readMetaIn(logDir, v).map { m =>
      if (m.segments.isEmpty) m
      else {
        val segs = m.segments.map(loadSegment(tableDir, _))
        m.copy(files = segs.flatMap(_.files).sorted,
          stats = segs.iterator.flatMap(_.stats).toMap,
          seqs = segs.iterator.flatMap(_.seqs).toMap)
      }
    }

  /** The manifest WITHOUT resolving its segments — version, commit
    * stamp, parent, operation, summary, dropped list, and the segment
    * refs (files/stats left as serialized: inline for legacy
    * manifests, EMPTY for segmented ones). The cheap view for audit
    * rows, parent chains, and expire bookkeeping, which never need the
    * file list itself. */
  def readMeta(tableDir: Path, v: Long): Option[Snapshot] =
    readMetaIn(dir(tableDir), v)

  private def readMetaIn(logDir: Path, v: Long): Option[Snapshot] = {
    val f = logDir.resolve(s"s-$v.json")
    if (!Files.exists(f)) None
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node =
        try om.readTree(Files.readString(f))
        catch { case _: java.nio.file.NoSuchFileException => return None }
      Some(Snapshot(
        node.get("version").asLong(),
        node.get("commitMs").asLong(),
        Option(node.get("files")).toSeq
          .flatMap(_.elements().asScala.toSeq).map(_.asText()),
        Option(node.get("parent")).filterNot(_.isNull).map(_.asLong()),
        Op.parse(Option(node.get("operation")).fold("")(_.asText())),
        Option(node.get("summary")).fold(Map.empty[String, Long])(
          _.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap),
        Option(node.get("stats")).fold(Map.empty[String, FileStats.FileStat])(
          FileStats.statsFromNode),
        Option(node.get("segments")).toSeq
          .flatMap(_.elements().asScala.toSeq).map(_.asText()),
        Option(node.get("dropped")).toSeq
          .flatMap(_.elements().asScala.toSeq).map(_.asLong()),
        Option(node.get("pins")).fold(Map.empty[String, Long])(
          _.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap),
        Option(node.get("lastSeq")).fold(0L)(_.asLong()),
        Option(node.get("seqs")).fold(Map.empty[String, Long])(
          _.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap)))
    }
  }

  def latest(tableDir: Path): Option[Snapshot] =
    versions(tableDir).lastOption.flatMap(read(tableDir, _))

  /** Optimistic-concurrency commit; returns the published version.
    *
    *  - `transform` maps the refreshed latest live-file list to the
    *    new one — re-derived on every retry, so a concurrent APPEND to
    *    an unrelated partition merges instead of being lost;
    *  - `validate` inspects the refreshed list FIRST and throws
    *    [[CommitConflictException]] when the operation's read set
    *    changed underneath it (copy-on-write rewrites pass
    *    [[validateReadSet]]; blind appends/overwrites pass nothing);
    *  - `freshStats` supplies commit-atomic per-file stats for the
    *    files this commit ADDS (by-name, evaluated at most once across
    *    retries; [[freshStatsFor]] is a cheap no-op while the table
    *    has never been analyzed). Carried live files keep their
    *    parent entries; dead files' entries drop with them. */
  def commit(tableDir: Path,
             op: Op,
             transform: Seq[String] => Seq[String],
             validate: Seq[String] => Unit = _ => (),
             freshStats: => Map[String, FileStats.FileStat] = Map.empty): Long =
    commitIn(tableDir, dir(tableDir), op, transform, validate, freshStats)

  /** TABLE-WRITE commit: routes to the session's active write branch
    * ([[BranchConf]]) when one is set — the WAP staging path. Data
    * writes (INSERT/DELETE/UPDATE/MERGE commits) come through here;
    * maintenance (rollback/expire/compact/…) stays pinned to main via
    * [[commit]], so a staging session cannot accidentally expire or
    * rewrite the branch it is auditing. */
  def commitRouted(tableDir: Path,
                   op: Op,
                   transform: Seq[String] => Seq[String],
                   validate: Seq[String] => Unit = _ => (),
                   freshStats: => Map[String, FileStats.FileStat] = Map.empty): Long = {
    val logDir = activeWriteBranch(tableDir)
      .map(branchDir(tableDir, _)).getOrElse(dir(tableDir))
    commitIn(tableDir, logDir, op, transform, validate, freshStats)
  }

  // ---- summary stamping --------------------------------------------

  // thread-local extra summary entries, keyed by table dir: an engine
  // component (the incremental MV) can ride its own state ATOMICALLY
  // on the commit its operation produces — e.g. the refresh merge
  // carries the source watermark in the SAME snapshot, collapsing the
  // old two-phase sidecar intent into one atomic commit
  private val summaryStamps =
    new ThreadLocal[Map[String, Map[String, Long]]] {
      override def initialValue(): Map[String, Map[String, Long]] =
        Map.empty
    }

  private def stampFor(tableDir: Path): Map[String, Long] =
    summaryStamps.get.getOrElse(tableDir.toAbsolutePath.toString,
      Map.empty)

  /** Run `body` with `extra` merged into the summary of every commit
    * this THREAD makes to `tableDir` (driver-side commits run on the
    * calling thread, so a SQL command issued inside `body` stamps its
    * own commit). */
  def withSummaryStamp[T](tableDir: Path, extra: Map[String, Long])(
      body: => T): T = {
    val key = tableDir.toAbsolutePath.toString
    val old = summaryStamps.get
    summaryStamps.set(old + (key -> (old.getOrElse(key,
      Map.empty[String, Long]) ++ extra)))
    try body finally summaryStamps.set(old)
  }

  // thread-local per-table commit PRE-CHECKS: run against the
  // REFRESHED latest snapshot inside the OCC loop of every commit this
  // thread makes to the table — per attempt, before publish, so a
  // concurrent commit landing after the check either loses the publish
  // race (our retry re-checks) or linearizes after us. The incremental
  // MV uses this to conflict when a FOREIGN commit slipped between its
  // watermark read and its refresh merge: that commit would land BELOW
  // the new stamp, where the newest-stamp scan never looks again.
  private val commitChecks =
    new ThreadLocal[Map[String, Option[Snapshot] => Unit]] {
      override def initialValue(): Map[String, Option[Snapshot] => Unit] =
        Map.empty
    }

  /** Run `body` with `check` applied (against the refreshed latest
    * snapshot, per OCC attempt) before every commit this THREAD makes
    * to `tableDir`; throw [[CommitConflictException]] from the check
    * to abort the commit. */
  def withCommitCheck[T](tableDir: Path)(check: Option[Snapshot] => Unit)(
      body: => T): T = {
    val key = tableDir.toAbsolutePath.toString
    val old = commitChecks.get
    commitChecks.set(old + (key -> check))
    try body finally commitChecks.set(old)
  }

  private def commitIn(tableDir: Path, logDir: Path,
                       op: Op,
                       transform: Seq[String] => Seq[String],
                       validate: Seq[String] => Unit,
                       freshStats: => Map[String, FileStats.FileStat]): Long = {
    lazy val fresh = freshStats // at most one evaluation across retries
    occ(tableDir, logDir, op) { prev =>
      validate(filesOf(prev))
      Right(Publish(compose(tableDir, prev, transform(filesOf(prev)), op,
        fresh), _.version))
    }
  }

  /** What one OCC attempt publishes: the next snapshot with the
    * segments it introduces ([[compose]]), and the commit's result once
    * the publish wins. */
  private final case class Publish[+T](next: (Snapshot, Seq[(String, String)]),
                                       won: Snapshot => T)

  private def filesOf(s: Option[Snapshot]): Seq[String] =
    s.fold(Seq.empty[String])(_.files)

  /** The ONE optimistic-concurrency loop every manifest commit runs.
    * Per attempt it re-reads the latest snapshot of `logDir`, applies
    * this thread's commit check ([[withCommitCheck]]), and lets
    * `attempt` validate against that latest and derive the next
    * snapshot: `Left` ends without a commit (nothing to do), `Right`
    * publishes it with atomic create-if-absent. A lost race re-runs
    * the attempt against the new latest after a jittered backoff,
    * at most [[MaxAttempts]] times. */
  private def occ[T](tableDir: Path, logDir: Path, op: Op)(
      attempt: Option[Snapshot] => Either[T, Publish[T]]): T = {
    val check = commitChecks.get.get(tableDir.toAbsolutePath.toString)
    var n = 0
    while (true) {
      n += 1
      val prev = versionsIn(logDir).lastOption
        .flatMap(readIn(tableDir, logDir, _))
      check.foreach(_(prev))
      attempt(prev) match {
        case Left(done) => return done
        case Right(Publish((s, segs), won))
            if tryPublishIn(tableDir, logDir, s, segs) => return won(s)
        case Right(_) => ()
      }
      if (n >= MaxAttempts)
        throw new CommitConflictException(
          s"$tableDir: lost the commit race $MaxAttempts times " +
            s"(operation=${op.name}) — giving up; re-run the operation")
      // jittered linear backoff: desynchronize the losing herd
      Thread.sleep(
        java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(1L, 5L * n))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compose the next snapshot's SEGMENT structure from its parent —
    * the O(delta) core: segments whose files are all still live (and
    * untouched by `fresh` stats) carry BY REFERENCE; everything else —
    * survivors of partially-dead segments, newly added files, and (for
    * list-length bounding) the smallest carried segments once the
    * count would exceed [[MaxSegments]] — folds into ONE new delta
    * segment. A pure append therefore writes one segment of exactly
    * its own files; metadata written per commit is proportional to the
    * CHANGE, amortized, never to the table. Returns the snapshot (with
    * the resolved in-memory files/stats view) plus the (name, json)
    * payloads of segments this commit introduces. */
  private def compose(tableDir: Path, prev: Option[Snapshot],
                      files: Seq[String], op: Op,
                      fresh: Map[String, FileStats.FileStat],
                      dropped: Seq[Long] = Seq.empty,
                      pinsOverride: Option[Map[String, Long]] = None)
      : (Snapshot, Seq[(String, String)]) = {
    val prevFiles = prev.fold(Seq.empty[String])(_.files)
    val newSet = files.toSet
    val freshKeys = fresh.keySet
    val prevSegs: Seq[(String, SegmentData)] =
      prev.toSeq.flatMap(_.segments).map(r => r -> loadSegment(tableDir, r))
    val (carriable, touched) = prevSegs.partition { case (_, d) =>
      d.files.forall(newSet) && !d.files.exists(f => freshKeys(basename(f)))
    }
    // pre-segment (inline) manifests: their whole list is one virtual
    // touched pool — the first post-upgrade commit restages it
    val legacyPool: Seq[String] =
      prev.toSeq.filter(_.segments.isEmpty).flatMap(_.files)
    val legacyStats: Map[String, FileStats.FileStat] =
      prev.filter(_.segments.isEmpty)
        .fold(Map.empty[String, FileStats.FileStat])(_.stats)
    // fold smallest carried segments into the delta once over the cap
    val bySize = carriable.sortBy(_._2.files.size)
    val overflow = math.max(0, bySize.size + 1 - MaxSegments)
    val (absorbed, carried) = bySize.splitAt(overflow)
    val prevAll = prevFiles.toSet
    val deltaFiles = ((touched.flatMap(_._2.files) ++ legacyPool)
      .filter(newSet) ++ files.filterNot(prevAll) ++
      absorbed.flatMap(_._2.files)).distinct
    val keep = deltaFiles.map(basename).toSet
    val deltaStats = (touched.iterator.flatMap(_._2.stats) ++ legacyStats ++
      absorbed.iterator.flatMap(_._2.stats) ++ fresh)
      .filter { case (k, _) => keep(k) }.toMap
    // the monotonic commit sequence: a commit that ADDS files burns
    // the next number and stamps exactly its new files with it;
    // survivors keep their birth seq (by reference when their segment
    // carries, explicitly when it folds into the delta); files of
    // legacy (pre-seq) segments stay UNSTAMPED — restaging them with
    // today's number would lie about their age
    val hasNew = files.exists(f => !prevAll(f))
    val newSeq = prev.fold(if (hasNew) 1L else 0L)(p =>
      if (hasNew) p.lastSeq + 1L else p.lastSeq)
    val prevSeqs = prev.fold(Map.empty[String, Long])(_.seqs)
    val deltaSeqs = deltaFiles.iterator.map { f =>
      val b = basename(f)
      b -> (if (prevAll(f)) prevSeqs.getOrElse(b, 0L) else newSeq)
    }.filter(_._2 > 0L).toMap
    val newSeg =
      if (deltaFiles.isEmpty) None
      else {
        val json = segmentJson(
          SegmentData(deltaFiles.sorted, deltaStats, deltaSeqs))
        Some((segmentName(json), json))
      }
    val segRefs = carried.map(_._1) ++ newSeg.map(_._1)
    val allStats = (carried.iterator.flatMap(_._2.stats) ++ deltaStats).toMap
    val allSeqs = (carried.iterator.flatMap(_._2.seqs) ++ deltaSeqs).toMap
    val s = Snapshot(prev.fold(0L)(_.version + 1L),
      System.currentTimeMillis(), files, prev.map(_.version), op,
      summaryOf(tableDir, prevFiles, files), allStats, segRefs, dropped,
      // the tag ref state carries forward on EVERY commit (the
      // Iceberg refs-in-current-metadata model); tag/untag commits
      // supply the modified map
      pinsOverride.getOrElse(prev.fold(Map.empty[String, Long])(_.pins)),
      lastSeq = newSeq, seqs = allSeqs)
    (s, newSeg.toSeq)
  }

  /** The summary of a commit from `prevFiles` to `files`: data,
    * merge-on-read delete and equality-delete files count separately
    * (the Iceberg snapshot-summary split), plus this thread's stamp
    * ([[withSummaryStamp]]). A delete family's keys appear only when
    * the commit or its parent holds files of it, so clean tables keep
    * compact summaries. Audit surface only: no short-circuit reads
    * these counters (change-feed emptiness compares the two file
    * lists, [[graft.streaming.SnapshotReads.provablyEmptyFeed]]). */
  private def summaryOf(tableDir: Path, prevFiles: Seq[String],
                        files: Seq[String]): Map[String, Long] = {
    val added = files.diff(prevFiles)
    val removed = prevFiles.diff(files)
    def counts(family: Seq[String] => Seq[String], tag: String) =
      Map(s"added-$tag-files" -> family(added).size.toLong,
        s"removed-$tag-files" -> family(removed).size.toLong,
        s"total-$tag-files" -> family(files).size.toLong)
    def ifHeld(family: Seq[String] => Seq[String], tag: String) =
      if (family(files).isEmpty && family(prevFiles).isEmpty)
        Map.empty[String, Long]
      else counts(family, tag)
    counts(dataFiles, "data") ++ ifHeld(deleteFiles, "delete") ++
      ifHeld(PkTables.eqDeleteFiles, "eqdelete") ++ stampFor(tableDir)
  }

  /** Read-set validation for copy-on-write rewrites (snapshot
    * isolation, the Iceberg default): every file the rewrite READ at
    * its base must still be live in the refreshed latest — a
    * concurrent commit that removed or rewrote one of them conflicts
    * (merging our replacement would resurrect rows it deleted / drop
    * rows it added). Files appended concurrently were never read here
    * and merge cleanly. */
  def validateFilesLive(operation: String, readFiles: Seq[String])(
      current: Seq[String]): Unit = {
    val live = current.toSet
    val missing = readFiles.filterNot(live)
    if (missing.nonEmpty)
      throw new CommitConflictException(
        s"concurrent commit removed ${missing.size} file(s) this " +
          s"$operation read (e.g. ${missing.head}) — " +
          "re-run the operation against the new snapshot")
  }

  /** Read-set validation for rewrites that REPLACE data files on a
    * merge-on-read-capable table: [[validateFilesLive]] plus "no NEW
    * delete file was committed since the base". A delete file that
    * lands concurrently holds coordinates into files this rewrite
    * replaces — after the rewrite those coordinates address dead
    * files and the deleted rows would silently resurrect in the
    * rewritten output. Conflict instead; the retry re-derives against
    * the new base (pending deletes applied). */
  def validateRewrite(operation: String, readFiles: Seq[String],
                      baseFiles: Seq[String])(current: Seq[String]): Unit = {
    validateFilesLive(operation, readFiles)(current)
    val known = deleteFiles(baseFiles).toSet
    val fresh = deleteFiles(current).filterNot(known)
    if (fresh.nonEmpty)
      throw new CommitConflictException(
        s"concurrent commit added ${fresh.size} merge-on-read delete " +
          s"file(s) this $operation did not read (e.g. ${fresh.head}) — " +
          "re-run the operation against the new snapshot")
  }

  /** Every file referenced by ANY retained snapshot — MAIN and every
    * BRANCH — the GC reachability set for expire/vacuum (a staged
    * branch's files are live even though main never references them). */
  def referencedFiles(tableDir: Path): Set[String] = {
    val main = versions(tableDir).flatMap(read(tableDir, _))
    val branched = branches(tableDir).flatMap { b =>
      branchVersions(tableDir, b).flatMap(readBranch(tableDir, b, _))
    }
    (main ++ branched).flatMap(_.files).toSet
  }

  /** The distinct partition directories (table-relative) of a file
    * list — the manifest-derived replacement for a filesystem
    * leaf-directory listing. */
  def leafDirsOf(files: Seq[String]): Seq[Path] =
    files.flatMap(f => Option(Paths.get(f).getParent)).distinct

  /** The subset of `files` living under any of the given
    * (table-relative) partition directories. */
  def filesUnder(files: Seq[String], dirs: Seq[Path]): Seq[String] = {
    val set = dirs.map(_.toString).toSet
    files.filter(f => Option(Paths.get(f).getParent).exists(p => set(p.toString)))
  }

  def basename(f: String): String = Paths.get(f).getFileName.toString

  /** The per-file stats governing snapshot `s`: the manifest's
    * commit-atomic embedded block when present (exact for THAT
    * snapshot — the time-travel skipping source), else the
    * current-file-set sidecar (pre-analyze manifests, plain tables). */
  def statsOf(tableDir: Path, s: Snapshot): Map[String, FileStats.FileStat] =
    if (s.stats.nonEmpty) s.stats else FileStats.readFull(tableDir)

  /** A file's partition-directory SHAPE: the ordered column names of
    * its `name=value` path segments. Files written under different
    * partition specs (ADD PARTITION FIELD evolution) have different
    * shapes; one parquet scan cannot mix shapes (Spark's partition
    * inference rejects conflicting directory structures), so scans
    * group by shape and union. */
  def shapeOf(f: String): Seq[String] = {
    val parent = Paths.get(f).getParent
    if (parent == null) Seq.empty
    else parent.iterator().asScala.map(_.toString)
      .filter(_.contains('='))
      .map(s => s.substring(0, s.indexOf('='))).toSeq
  }

  /** Group a live-file list by partition-directory shape, stable
    * order (current-spec shape is whichever sorts with the most
    * segments last — callers mostly care whether there is ONE). */
  def groupByShape(files: Seq[String]): Seq[(Seq[String], Seq[String])] =
    files.groupBy(shapeOf).toSeq.sortBy(_._1.mkString("/"))

  /** Name of the materialized file-path column [[readCurrent]] frames
    * carry — `_metadata` does not survive a union, so per-group reads
    * pin it before unioning (the stats/Bloom builders key on it). */
  val FileCol = "_graft_file"

  /** The declared PHYSICAL read schema of a versioned table (logical
    * sidecar schema with rename evolution applied, plus the hidden
    * bucket column) — the explicit schema every live-file read must
    * pass so a promoted partition column types IDENTICALLY in every
    * shape group (directory inference could otherwise coerce, e.g.
    * `col=00123` to int, and a union would rewrite values). */
  def physicalReadSchema(tableDir: Path):
      org.apache.spark.sql.types.StructType = {
    val logical = Evolutions.requireDeclaredSchema(tableDir)
    val renames = Evolutions.renames(tableDir)
    val phys = org.apache.spark.sql.types.StructType(logical.fields.map(f =>
      f.copy(name = renames.getOrElse(f.name, f.name))))
    if (PartitionSpec.read(tableDir).exists(_.isInstanceOf[PartitionSpec.Bucket]))
      org.apache.spark.sql.types.StructType(phys.fields :+
        org.apache.spark.sql.types.StructField(PartitionSpec.BucketDir,
          org.apache.spark.sql.types.IntegerType, nullable = true))
    else phys
  }

  /** `(absolute path, size, modification ms)` of table-relative files —
    * one attribute read per file, the index a manifest-listed read
    * builds from ([[org.apache.spark.sql.GraftReadBridge.listedIndex]]). */
  def listedStatuses(tableDir: Path, files: Seq[String])
      : Seq[(String, Long, Long)] =
    files.map { f =>
      val p = tableDir.resolve(f)
      val a = Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      (p.toString, a.size, a.lastModifiedTime.toMillis)
    }

  /** A parquet read of manifest-listed files under an explicit
    * `schema`, indexed from the list itself: no existence-check pool and
    * no listing job. `basePath` infers partition values from the
    * directories under `tableDir`. */
  def readListed(spark: org.apache.spark.sql.SparkSession, tableDir: Path,
                 files: Seq[String], schema: org.apache.spark.sql.types.StructType,
                 basePath: Boolean): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftReadBridge.readListed(spark,
      listedStatuses(tableDir, files), schema,
      if (basePath) Map("basePath" -> tableDir.toString) else Map.empty)

  /** Read the given (table-relative) live files as one DataFrame in
    * PHYSICAL column names — per-shape parquet reads with the explicit
    * declared schema, indexed from the list ([[readListed]]), unioned by
    * name, `_graft_file` materialized per group. The shared live-file
    * read every stats/maintenance path uses. */
  def readFiles(spark: org.apache.spark.sql.SparkSession, tableDir: Path,
                files: Seq[String]): org.apache.spark.sql.DataFrame = {
    val schema = physicalReadSchema(tableDir)
    // DATA files only, defensively: a delete file slipping into a
    // table-schema read would fill every column with nulls silently.
    // An all-delete-files list (a copy-on-write DELETE that matched
    // every row of a dirty table) reads as EMPTY, never as a crash.
    if (dataFiles(files).isEmpty)
      return spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(FileCol,
            org.apache.spark.sql.types.StringType)))
    groupByShape(dataFiles(files)).map { case (_, fs) =>
      readListed(spark, tableDir, fs, schema, basePath = true)
        .withColumn(FileCol,
          org.apache.spark.sql.functions.col("_metadata.file_path"))
    }.reduce(_ unionByName _)
  }

  /** Fresh per-file stats for the files a commit ADDS, over the
    * analyzed column set — and, once a `bloom` snapshot exists, the
    * Bloom-indexed column set with the SAME geometry — of the latest
    * snapshot. Reads ONLY the added files; the empty map (no read at
    * all) when the table has never been analyzed/bloom-indexed or the
    * added set is empty. Pass as a commit's `freshStats` so DML keeps
    * per-snapshot stats AND bitsets live (the Iceberg
    * writer-records-stats-inline model). */
  def freshStatsFor(spark: org.apache.spark.sql.SparkSession, tableDir: Path,
                    addedRaw: Seq[String]): Map[String, FileStats.FileStat] = {
    // delete files carry row coordinates, not table columns — no stats
    val added = dataFiles(addedRaw)
    // column sets come from the snapshot the write will extend: the
    // active branch head when a WAP session is staging, main otherwise
    val last = activeReadBranch(tableDir)
      .flatMap(latestBranch(tableDir, _)).orElse(latest(tableDir))
    val cols = last.fold(Seq.empty[String])(
      _.stats.valuesIterator.flatMap(_.cols.keysIterator).toSeq.distinct.sorted)
    // bloom surface of the latest snapshot: indexed columns + their
    // (k, m) geometry — uniform per table (one bloom_index build)
    val bloomEntries = last.toSeq.flatMap(
      _.stats.valuesIterator.flatMap(_.blooms.iterator))
    val bloomCols = bloomEntries.map(_._1).distinct.sorted
    if ((cols.isEmpty && bloomCols.isEmpty) || added.isEmpty) return Map.empty
    val df = readFiles(spark, tableDir, added)
    val ranges =
      if (cols.isEmpty) Map.empty[String, FileStats.FileStat]
      else FileStats.collectRanges(df, cols)
    val blooms =
      if (bloomCols.isEmpty) Map.empty[String, Map[String, Array[Byte]]]
      else {
        val (k, bits) = bloomEntries.headOption
          .map { case (_, (k0, bs)) => (k0, bs.length * 8) }
          .getOrElse((BloomIndex.DefaultProbes, BloomIndex.DefaultBits))
        BloomIndex.collectBits(df, bloomCols.filter(df.columns.contains),
          bits, k)
      }
    val k = bloomEntries.headOption.map(_._2._1)
      .getOrElse(BloomIndex.DefaultProbes)
    (ranges.keySet ++ blooms.keySet).iterator.map { f =>
      val base = ranges.getOrElse(f, FileStats.FileStat(None, Map.empty))
      f -> base.copy(blooms = blooms.getOrElse(f, Map.empty)
        .view.mapValues(bs => (k, bs)).toMap)
    }.toMap
  }

  /** The CURRENT (latest-manifest) live files of a versioned table as
    * one DataFrame in PHYSICAL column names. None when the table is
    * not manifest-versioned (callers fall back to the directory read);
    * Some(None) when its latest snapshot is empty. */
  def readCurrent(spark: org.apache.spark.sql.SparkSession,
                  tableDir: Path): Option[Option[org.apache.spark.sql.DataFrame]] =
    if (!isVersioned(tableDir)) None
    else Some(latest(tableDir).filter(_.files.nonEmpty)
      .map(s => readFiles(spark, tableDir, s.files)))

  /** The manifest-list serialization: segment refs when the snapshot
    * is segmented, the legacy inline files/stats block otherwise
    * (empty snapshots, pre-upgrade manifests). */
  private def manifestJson(s: Snapshot): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("version", s.version)
    root.put("commitMs", s.commitMs)
    s.parent.foreach(p => root.put("parent", p))
    if (s.operation.nonEmpty) root.put("operation", s.operation)
    if (s.summary.nonEmpty) {
      val sm = root.putObject("summary")
      s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sm.put(k, v) }
    }
    if (s.dropped.nonEmpty) {
      val dr = root.putArray("dropped")
      s.dropped.sorted.foreach(dr.add)
    }
    if (s.pins.nonEmpty) {
      val pn = root.putObject("pins")
      s.pins.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
    }
    if (s.lastSeq > 0L) root.put("lastSeq", s.lastSeq)
    if (s.segments.nonEmpty) {
      val sg = root.putArray("segments")
      s.segments.sorted.foreach(sg.add)
    } else {
      val arr = root.putArray("files")
      s.files.sorted.foreach(arr.add)
      if (s.stats.nonEmpty)
        root.set("stats", FileStats.statsToNode(om, s.stats))
      if (s.seqs.nonEmpty) {
        val sq = root.putObject("seqs")
        s.seqs.toSeq.sortBy(_._1).foreach { case (k, v) => sq.put(k, v) }
      }
    }
    om.writeValueAsString(root)
  }

  /** Persist segment payloads (content-addressed, create-if-absent):
    * an existing target IS this content — racing writers of the same
    * delta converge on one file; nothing is ever overwritten. */
  private def writeSegments(snapDir: Path,
                            segs: Seq[(String, String)]): Unit =
    segs.foreach { case (name, json) =>
      val target = snapDir.resolve(name)
      if (!Files.exists(target)) {
        val tmp = target.resolveSibling(name + "." +
          java.util.UUID.randomUUID().toString.take(8) + ".tmp")
        Files.writeString(tmp, json)
        try { Files.createLink(target, tmp); () }
        catch { case _: FileAlreadyExistsException => () }
        finally { Files.deleteIfExists(tmp); () }
      }
    }

  /** One optimistic publish attempt: persist any new segments first
    * (a lost race leaves only content-addressed segments the winner
    * usually shares anyway — never a torn manifest), then hard-link
    * the manifest list into place — atomic create-if-absent on POSIX
    * (two writers racing to the same version number: exactly one link
    * succeeds). Segments always land in the table's SHARED pool
    * (`_graft_snapshots/m-*.json`); only the manifest list goes to the
    * (main or branch) log `logDir`. Returns false when another writer
    * already published this version. */
  private def tryPublishIn(tableDir: Path, logDir: Path, s: Snapshot,
                           newSegs: Seq[(String, String)] = Seq.empty): Boolean = {
    writeSegments(dir(tableDir), newSegs)
    val target = logDir.resolve(s"s-${s.version}.json")
    // per-attempt unique temp name: concurrent losers must not clobber
    // each other's temp files either
    val tmp = target.resolveSibling(
      target.getFileName.toString + "." +
        java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    Files.writeString(tmp, manifestJson(s))
    try { Files.createLink(target, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally { Files.deleteIfExists(tmp); () }
  }

  /** Segment refs of every retained manifest — MAIN and every BRANCH —
    * the GC reachability set for the metadata files themselves. */
  def referencedSegments(tableDir: Path): Set[String] = {
    val main = versions(tableDir).flatMap(readMeta(tableDir, _))
    val branched = branches(tableDir).flatMap { b =>
      versionsIn(branchDir(tableDir, b))
        .flatMap(readMetaIn(branchDir(tableDir, b), _))
    }
    (main ++ branched).flatMap(_.segments).toSet
  }

  /** Segment files on disk referenced by NO retained manifest — a
    * crash between a loser's segment write and nothing, or between
    * expire's commit and its GC. Age-guarded deletion is vacuum's
    * job (an in-flight commit publishes segments before its
    * manifest). */
  def orphanSegments(tableDir: Path): Seq[Path] = {
    val d = dir(tableDir)
    if (!Files.isDirectory(d)) return Seq.empty
    val refd = referencedSegments(tableDir)
    val s = Files.list(d)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("m-") && n.endsWith(".json") && !refd(n)
    }.toSeq
    finally s.close()
  }

  /** The EFFECTIVE tag pins of a manifest table: the chain-carried ref
    * state of the latest snapshot (authoritative — tag/untag are OCC
    * commits) unioned with any legacy sidecar-file tags (pre-r13
    * migration artifacts; chain entries win on a name clash). */
  def effectivePins(tableDir: Path): Map[String, Long] =
    Tags.read(tableDir) ++
      versions(tableDir).lastOption
        .flatMap(readMeta(tableDir, _)).fold(Map.empty[String, Long])(_.pins)

  /** Tag creation as an OCC COMMIT (closes the tag-vs-expire window
    * the post-publish re-check could only narrow): the refreshed
    * latest is re-read per attempt, the target re-validated (retained,
    * not scheduled for drop) against the SAME chain the racing expire
    * commits to, and the winning link publishes the updated ref state
    * atomically — either the tag lands with its snapshot provably
    * pinned, or it raises [[CommitConflictException]]. */
  def commitTag(tableDir: Path, name: String, v: Long): Long =
    occ(tableDir, dir(tableDir), Op.Tag) { prev =>
      // same union effectivePins derives, without re-listing the log
      // and re-parsing the manifest `prev` just read
      val pins = Tags.read(tableDir) ++
        prev.fold(Map.empty[String, Long])(_.pins)
      if (pins.contains(name)) throw new IllegalArgumentException(
        s"tag: '$name' already points at v=${pins(name)} — drop_tag first")
      if (readMeta(tableDir, v).isEmpty) throw new IllegalArgumentException(
        s"tag: no snapshot v=$v (have ${versions(tableDir).mkString(",")})")
      if (droppedByRetainedExpire(tableDir, v))
        throw new CommitConflictException(
          s"tag: snapshot v=$v is scheduled for removal by a committed " +
            "expire_snapshots — re-run against a retained snapshot")
      Right(Publish(compose(tableDir, prev, filesOf(prev), Op.Tag, Map.empty,
        pinsOverride = Some(prev.fold(Map.empty[String, Long])(_.pins) +
          (name -> v))), _ => v))
    }

  /** Tag removal as an OCC commit; legacy sidecar-file tags fall back
    * to the file drop. Returns the version the tag pinned, None if
    * absent. */
  def commitDropTag(tableDir: Path, name: String): Option[Long] =
    occ(tableDir, dir(tableDir), Op.Untag) { prev =>
      prev.map(_.pins).filter(_.contains(name)) match {
        case None => Left(Tags.drop(tableDir, name)) // legacy sidecar
        case Some(pins) =>
          Right(Publish(compose(tableDir, prev, filesOf(prev), Op.Untag,
            Map.empty, pinsOverride = Some(pins - name)), _ => Some(pins(name))))
      }
    }

  /** BRANCH-scoped snapshot expiry (the retention half long-lived
    * audit branches need — main-pinned `expire_snapshots` never walks
    * a branch sub-log, so its manifest history grew unbounded): drop
    * all but the `keep` newest DATA commits of branch `name`, always
    * retaining `b-0` (the fork marker `fast_forward`'s content check
    * and `branchFork` resolve against). Same protocol as the main
    * form: an `expire` commit ON THE BRANCH records the dropped list
    * commit-atomically, then the dropped branch manifests delete and
    * files/segments referenced by NO retained manifest anywhere (main
    * AND every branch — shared fork content always survives) GC.
    * Returns the dropped branch versions (empty = no-op). */
  def commitExpireBranch(tableDir: Path, name: String,
                         keep: Int): Seq[Long] = {
    require(keep >= 1, "expire_branch: keep must be >= 1")
    val bd = branchDir(tableDir, name)
    if (!Files.isDirectory(bd)) throw new IllegalArgumentException(
      s"expire_branch: no branch '$name' " +
        s"(branches: ${branches(tableDir).mkString(",")})")
    // b-0 is the FORK MARKER: always retained, never a data commit to
    // count; the branch's pin map is main's inert copy
    commitExpireIn(tableDir, bd, _ => Set(0L), (dataVs, _) =>
      dataVs.filter(_ != 0L).takeRight(keep).headOption
        .getOrElse(Long.MinValue))
  }

  /** Was `v` scheduled for removal by a still-retained `expire`
    * commit? The transition-window guard: between an expire's commit
    * (its linearization point) and its manifest deletions, the dropped
    * manifests are still on disk — a rollback that validated them as
    * present must STILL conflict, or it publishes a manifest over
    * files the in-flight expire is about to GC. */
  def droppedByRetainedExpire(tableDir: Path, v: Long): Boolean =
    versions(tableDir).reverseIterator
      .flatMap(readMeta(tableDir, _))
      .exists(s => s.op == Op.Expire && s.dropped.contains(v))

  /** Snapshot expiry as an OPTIMISTIC COMMIT (the Iceberg
    * metadata-pointer-CAS discipline, expressed in this log's
    * version-slot form): the expire publishes an `expire` snapshot —
    * same live files as its parent, the dropped version list recorded
    * commit-atomically — and only THEN deletes the dropped manifests
    * and garbage-collects unreferenced data files and segments. Any
    * concurrent commit (rollback included) either linearizes BEFORE
    * the expire (its published files join the retained reachability
    * set the GC honors) or AFTER it (the OCC retry re-validates
    * against a latest whose chain records the drops — a rollback to a
    * dropped version raises [[CommitConflictException]] instead of
    * publishing over GC'd files). `pinnedOf` re-reads the tag pins on
    * every retry, so a tag created before the expire's final attempt
    * is always honored. Returns the dropped versions (empty = no-op,
    * nothing committed). */
  def commitExpire(tableDir: Path, keep: Int,
                   pinnedOf: () => Set[Long]): Seq[Long] = {
    require(keep >= 1, "expire_snapshots: keep must be >= 1")
    commitExpireIn(tableDir, dir(tableDir), mainPins(pinnedOf),
      (dataVs, _) => dataVs.takeRight(keep).headOption.getOrElse(Long.MinValue))
  }

  /** AGE-based expiry (Iceberg's `expire_snapshots(older_than,
    * retain_last)`): drop data snapshots committed BEFORE `cutoffMs`,
    * while always retaining the `keepLast` newest data commits (age
    * alone could drop everything on an idle table) and every pinned
    * snapshot. Same OCC commit + GC protocol as the count form. */
  def commitExpireOlderThan(tableDir: Path, cutoffMs: Long, keepLast: Int,
                            pinnedOf: () => Set[Long]): Seq[Long] = {
    require(keepLast >= 1, "expire_age: keep_last must be >= 1")
    commitExpireIn(tableDir, dir(tableDir), mainPins(pinnedOf),
      (dataVs, metaOf) => {
      val byAge = dataVs.find(v =>
        metaOf(v).exists(_.commitMs >= cutoffMs))
        .getOrElse(Long.MaxValue) // nothing young enough: count rules
      val byCount = dataVs.takeRight(keepLast).headOption
        .getOrElse(Long.MinValue)
      math.min(byAge, byCount)
    })
  }

  /** Main-log pins: the chain-carried ones of the SAME refreshed
    * latest the attempt commits against — linearized with racing
    * tag/untag commits by construction — plus `pinnedOf` (legacy
    * sidecar tags, re-read per retry). */
  private def mainPins(pinnedOf: () => Set[Long]): Option[Snapshot] => Set[Long] =
    prev => pinnedOf() ++ prev.fold(Set.empty[Long])(_.pins.values.toSet)

  /** The shared expire commit of a main or branch log: `cutoffOf`
    * maps the refreshed DATA version list (plus the per-attempt meta
    * cache — no second manifest parse) to the version threshold;
    * everything at or after it, and every version `pinnedOf` the
    * refreshed latest, is retained. The `expire` commit records the
    * dropped list; only after it wins do the dropped manifests delete
    * and their unreferenced files GC. */
  private def commitExpireIn(tableDir: Path, logDir: Path,
                             pinnedOf: Option[Snapshot] => Set[Long],
                             cutoffOf: (Seq[Long], Long => Option[Snapshot])
                               => Long): Seq[Long] =
    occ(tableDir, logDir, Op.Expire) { prev =>
      val vs = versionsIn(logDir)
      val pinned = pinnedOf(prev)
      // retention counts DATA history, not ref bookkeeping: tag/untag/
      // expire commits are content-identical audit records — counting
      // them would silently eat the user's time-travel window (three
      // tags before expire(keep=3) would otherwise drop every recent
      // data snapshot). Everything at or after the cutoff is retained,
      // interleaved ref commits included (the latest must survive
      // anyway).
      val metas: Map[Long, Option[Snapshot]] =
        vs.map(v => v -> readMetaIn(logDir, v)).toMap
      val dataVs = vs.filter(v =>
        metas(v).forall(_.kind != CommitKind.Ref))
      val cutoff = cutoffOf(dataVs, v => metas.getOrElse(v, None))
      val dropped = vs.filterNot(v => v >= cutoff || pinned(v))
      if (dropped.isEmpty) Left(Seq.empty)
      else Right(Publish(compose(tableDir, prev, filesOf(prev), Op.Expire,
          Map.empty, dropped), _ => {
        gcAfterExpire(tableDir, dropped, readIn(tableDir, logDir, _),
          v => Files.deleteIfExists(logDir.resolve(s"s-$v.json")))
        dropped
      }))
    }

  /** Post-commit expire cleanup, for main and branch logs alike
    * (`readDropped`/`deleteDropped` read and delete one dropped
    * manifest of that log): delete the dropped manifests, then GC
    * exactly `droppedRefs -- retainedRefs` — never "unreferenced on
    * disk" (an in-flight commit publishes data files and segments
    * BEFORE its manifest, so a just-published file is momentarily
    * referenced by nothing; files from dropped manifests are provably
    * snapshot-aged, true orphans are vacuum's age-guarded job). The
    * retained set spans main AND every branch (content a branch shares
    * with its fork, or that another ref still reads, always survives),
    * and is listed AFTER the deletions, so commits that landed after
    * the expire's linearization point only ADD protection. */
  private def gcAfterExpire(tableDir: Path, dropped: Seq[Long],
                            readDropped: Long => Option[Snapshot],
                            deleteDropped: Long => Unit): Unit = {
    val droppedSnaps = dropped.flatMap(readDropped)
    val droppedRefs = droppedSnaps.flatMap(_.files).toSet
    val droppedSegs = droppedSnaps.flatMap(_.segments).toSet
    dropped.foreach(deleteDropped)
    val live = referencedFiles(tableDir)
    droppedRefs.diff(live).toSeq.sorted
      .foreach(rel => PartitionedWrite.deleteWithCrc(tableDir.resolve(rel)))
    val liveSegs = referencedSegments(tableDir)
    droppedSegs.diff(liveSegs).foreach { ref =>
      Files.deleteIfExists(dir(tableDir).resolve(ref)); ()
    }
    // remove now-empty partition dirs bottom-up (multi-level identity
    // specs nest)
    leafDirsOf(droppedRefs.toSeq).map(tableDir.resolve).foreach { d =>
      var cur = d
      while (cur != tableDir && Files.isDirectory(cur) && {
        val s = Files.list(cur)
        try !s.iterator().hasNext finally s.close()
      }) {
        Files.delete(cur)
        cur = cur.getParent
      }
    }
  }

  /** `CALL migrate`'s atomic flip: build the ENTIRE initial snapshot
    * log (segment + `s-0`) in a temp directory and rename it into
    * place — [[isVersioned]] flips on directory presence, so a reader
    * racing the migration sees either the plain table or a complete
    * log, never a versioned-looking directory with no manifest (which
    * would read as an EMPTY table). The rename also arbitrates
    * concurrent migrates: exactly one wins; losers raise
    * [[CommitConflictException]]. */
  def migrateInit(tableDir: Path, files: Seq[String]): Long = {
    val target = dir(tableDir)
    if (Files.isDirectory(target)) throw new CommitConflictException(
      s"$tableDir: already manifest-versioned (concurrent migrate?)")
    val tmp = tableDir.resolve(DirName + ".__tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    Files.createDirectories(tmp)
    try {
      val segs =
        if (files.isEmpty) Seq.empty
        else {
          val json = segmentJson(SegmentData(files.sorted, Map.empty,
            files.map(f => basename(f) -> 1L).toMap))
          Seq((segmentName(json), json))
        }
      segs.foreach { case (n, j) => Files.writeString(tmp.resolve(n), j); () }
      val s = Snapshot(0L, System.currentTimeMillis(), files, None, Op.Migrate,
        Map("added-data-files" -> files.size.toLong,
          "removed-data-files" -> 0L,
          "total-data-files" -> files.size.toLong),
        segments = segs.map(_._1),
        lastSeq = if (files.isEmpty) 0L else 1L)
      Files.writeString(tmp.resolve("s-0.json"), manifestJson(s))
      try { Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE); 0L }
      catch {
        case e: java.nio.file.FileSystemException =>
          throw new CommitConflictException(
            s"$tableDir: a concurrent migrate published first " +
              s"(${e.getClass.getSimpleName}) — re-run against the " +
              "migrated table if needed")
      }
    } finally {
      if (Files.isDirectory(tmp)) {
        val s = Files.walk(tmp)
        try s.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
        finally s.close()
      }
    }
  }
}

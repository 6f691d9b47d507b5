package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, Literal, XxHash64}
import org.apache.spark.sql.functions.{col, collect_set, explode, lit, pmod, unix_date, unix_micros, xxhash64, array => sqlArray}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file Bloom-filter skipping index — the equality-predicate
  * complement of [[FileStats]]' min/max ranges: a z-order/range layout
  * tightens ranges for the CLUSTERED columns, but a point lookup on a
  * high-cardinality UNclustered column (ticket ids, user ids, document
  * digests) sees every file's [min, max] span the whole domain and
  * min/max prunes nothing. `CALL cat.system.bloom_index('db.t',
  * 'c1,c2')` builds one Bloom bitset per (file, column) and persists
  * them in a `_graft_bloom.json` sidecar; scans and row-level DML then
  * drop files whose bitset proves the pushed `=`/`IN` key absent —
  * at 100 TB the difference between a one-key lookup opening every
  * footer and opening the ~1 file that can contain the key. (The
  * Iceberg analog is the puffin blob per data file; at that file count
  * the sidecar would shard per-file alongside the data — one JSON
  * document is the right shape for this engine's table sizes.)
  *
  * Conservative by construction, mirroring [[FileStats]]:
  *  - only provable absence prunes — a file is dropped when some
  *    pushed `=`/`IN` conjunct's key has an unset probe bit (Bloom
  *    filters have no false negatives, so absence is a proof);
  *  - files not listed in the sidecar (written after the last build)
  *    always survive; unrecognized filter shapes contribute nothing;
  *  - non-indexed columns contribute nothing.
  *
  * Determinism across driver and executors is the load-bearing
  * property: probe positions are `pmod(xxhash64(canonical(v), i), m)`
  * for probe index i — the executor side evaluates the same
  * [[XxHash64]] expression codegen'd over the column that the driver
  * evaluates interpreted over the pushed literal, so both sides see
  * bit-identical positions. `canonical` pins the cross-type surface:
  * integral columns hash as LONG (a pushed INT literal then probes the
  * same bits), DATE as epoch days (LONG), TIMESTAMP as epoch micros
  * (LONG), strings as-is. Columns outside that set are rejected at
  * build time. NULL keys never enter the filter (no equality matches
  * NULL), and a NULL probe never prunes. */
private[catalog] object BloomIndex {

  val Sidecar = "_graft_bloom.json"

  /** Default geometry: m = 2^17 bits (16 KiB per file-column) holds
    * ~18k distinct keys per file at ~1% FPP with k=5 probes; FPP only
    * costs unskipped I/O, never correctness. */
  val DefaultBits = 1 << 17
  val DefaultProbes = 5

  /** One table's index: bit count, probe count, and per-file
    * per-column bitsets. */
  final case class Index(m: Int, k: Int,
                         files: Map[String, Map[String, Array[Byte]]]) {
    def isEmpty: Boolean = files.isEmpty
    def columns: Set[String] =
      files.valuesIterator.flatMap(_.keysIterator).toSet
    /** One file's bitsets in the probe shape [[BloomIndex.excludes]]
      * takes: column → (k, bits). */
    def colBitsOf(file: String): Option[Map[String, (Int, Array[Byte])]] =
      files.get(file).map(_.view.mapValues(bs => (k, bs)).toMap)
  }

  val Empty: Index = Index(DefaultBits, DefaultProbes, Map.empty)

  /** Build the index over the table's CURRENT data files for `cols`
    * and persist the sidecar (atomic move). Distributed build: one
    * scan per column computing k probe positions per row, then a
    * `groupBy(file)` whose per-group state is bounded by m bits —
    * never corpus-sized. Returns the number of files indexed. */
  def build(spark: SparkSession, tableDir: Path, dataDir: Path,
            cols: Seq[String], bits: Int = DefaultBits,
            probes: Int = DefaultProbes): Long = {
    require(bits > 0 && (bits & (bits - 1)) == 0,
      s"bloom_index: bits must be a power of two, got $bits")
    require(probes > 0 && probes <= 16,
      s"bloom_index: probes must be in [1, 16], got $probes")
    // manifest-versioned tables: index the LIVE files only (a root
    // read would mix spec-evolution shapes and index dead files)
    val df = Snapshots.readCurrent(spark, tableDir) match {
      case Some(Some(live)) => live
      case Some(None) =>
        // still validate the requested columns — a typo'd name must
        // fail loudly, not "succeed" on an empty snapshot
        val declared = Snapshots.physicalReadSchema(tableDir).fieldNames
        val bad = cols.filterNot(declared.contains)
        require(bad.isEmpty,
          s"bloom_index: no such column(s) ${bad.mkString(",")}")
        writeSidecar(tableDir, Index(bits, probes, Map.empty)); return 0L
      case None => spark.read.parquet(dataDir.toString)
    }
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"bloom_index: no such column(s) ${missing.mkString(",")}")
    val entries = collectBits(df, cols, bits, probes)
    writeSidecar(tableDir, Index(bits, probes, entries))
    // manifest-versioned tables: ALSO publish a `bloom` snapshot
    // folding the bitsets into the commit-atomic per-file stats (the
    // r12 analyze pattern) — from here every commit maintains
    // per-snapshot bitsets for its added files, `VERSION AS OF` scans
    // Bloom-skip from the manifest of THAT snapshot, and DML stops
    // staling the index (the pre-r13 sidecar was current-only)
    if (Snapshots.isVersioned(tableDir)) {
      val merged: Map[String, FileStats.FileStat] = {
        val prev = Snapshots.latest(tableDir)
          .fold(Map.empty[String, FileStats.FileStat])(_.stats)
        entries.map { case (f, colBits) =>
          val base = prev.getOrElse(f, FileStats.FileStat(None, Map.empty))
          f -> base.copy(blooms = colBits.view.mapValues(bs =>
            (probes, bs)).toMap)
        } ++ prev.view.filterKeys(f => !entries.contains(f)).toMap
      }
      Snapshots.commit(tableDir, Snapshots.Op.Bloom, identity, freshStats = merged)
      ()
    }
    entries.size.toLong
  }

  /** Refresh across a FILE-GRANULAR rewrite (the [[FileStats
    * .refreshAfterRewrite]] twin): carried files keep their bitsets
    * (same bytes, same names), newly staged files get fresh ones over
    * the index's own column set, dropped names leave. Reads ONLY the
    * new files; no-op without a sidecar or without carried files. */
  def refreshAfterRewrite(spark: SparkSession, tableDir: Path, dataDir: Path,
                          carriedNames: Set[String]): Unit = {
    if (carriedNames.isEmpty) return
    val existing = read(tableDir)
    if (existing.isEmpty) return
    val current = DeletableTable.listDataFiles(dataDir)
    val kept = current.flatMap { p =>
      val n = p.getFileName.toString
      if (carriedNames(n)) existing.files.get(n).map(n -> _) else None
    }.toMap
    val newFiles = current.filterNot(p => carriedNames(p.getFileName.toString))
    val fresh =
      if (newFiles.isEmpty) Map.empty[String, Map[String, Array[Byte]]]
      else {
        val cols = existing.columns.toSeq.sorted
        val df = spark.read.parquet(newFiles.map(_.toString): _*)
        val usable = cols.filter(df.columns.contains)
        if (usable.isEmpty) Map.empty
        else collectBits(df, usable, existing.m, existing.k)
      }
    writeSidecar(tableDir, Index(existing.m, existing.k, kept ++ fresh))
  }

  /** The canonical hash input for a column: integral/date/timestamp
    * widen to LONG (so a pushed literal of any integral width probes
    * the same bits), strings hash as-is. None = unsupported. */
  private def canonicalCol(dt: DataType, c: String):
      Option[org.apache.spark.sql.Column] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(col(c).cast(LongType))
    case DateType => Some(unix_date(col(c)).cast(LongType))
    case TimestampType | TimestampNTZType => Some(unix_micros(col(c)))
    case StringType => Some(col(c))
    case _ => None
  }

  private[catalog] def collectBits(
      df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      bits: Int, probes: Int):
      Map[String, Map[String, Array[Byte]]] = {
    val unsupported = cols.filter(c => canonicalCol(df.schema(c).dataType, c).isEmpty)
    require(unsupported.isEmpty,
      "bloom_index: unsupported column type(s) for equality skipping: " +
        unsupported.map(c => s"$c:${df.schema(c).dataType.simpleString}")
          .mkString(",") + " (integral, string, date, timestamp only)")
    cols.foldLeft(Map.empty[String, Map[String, Array[Byte]]]) { (acc, c) =>
      val canon = canonicalCol(df.schema(c).dataType, c).get
      // k probe positions per non-NULL key: pmod(xxhash64(v, i), m) —
      // no Long arithmetic that could overflow under ANSI, and the
      // exact expression the driver-side probe replays interpreted
      // the probe index hashes as a LONG literal on BOTH sides —
      // XxHash64 is width-sensitive, an Int here would never match
      // the driver probe's Literal(i.toLong, LongType)
      val posCols = (0 until probes).map(i =>
        pmod(xxhash64(canon, lit(i.toLong)), lit(bits.toLong)).cast(IntegerType))
      val perFile = df
        .filter(col(c).isNotNull)
        .select(FileStats.fileNameCol(df).as("__file"),
          explode(sqlArray(posCols: _*)).as("__pos"))
        .groupBy(col("__file"))
        .agg(collect_set(col("__pos")).as("__bits"))
        .collect()
      perFile.foldLeft(acc) { (m, r) =>
        val file = r.getAs[String]("__file")
        val bs = new Array[Byte](bits / 8)
        r.getSeq[Int](1).foreach(p => bs(p >>> 3) = (bs(p >>> 3) | (1 << (p & 7))).toByte)
        m.updated(file, m.getOrElse(file, Map.empty).updated(c, bs))
      }
    }
  }

  private def writeSidecar(tableDir: Path, idx: Index): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("m", idx.m)
    root.put("k", idx.k)
    val filesNode = root.putObject("files")
    idx.files.toSeq.sortBy(_._1).foreach { case (file, colBits) =>
      val node = filesNode.putObject(file)
      colBits.toSeq.sortBy(_._1).foreach { case (c, bs) =>
        node.put(c, java.util.Base64.getEncoder.encodeToString(bs))
      }
    }
    val target = tableDir.resolve(Sidecar)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, om.writeValueAsString(root))
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Read the sidecar; [[Empty]] when absent. */
  def read(tableDir: Path): Index = {
    val f = tableDir.resolve(Sidecar)
    if (!Files.exists(f)) Empty
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(Files.readString(f))
      val files = Option(node.get("files")).map(_.fields().asScala.map { e =>
        e.getKey -> e.getValue.fields().asScala.map { ce =>
          ce.getKey -> java.util.Base64.getDecoder.decode(ce.getValue.asText())
        }.toMap
      }.toMap).getOrElse(Map.empty)
      Index(node.get("m").asInt(), node.get("k").asInt(), files)
    }
  }

  /** True when the pushed conjunct proves the file cannot contain a
    * matching row: `=` with every probe bit of the key set absent,
    * `IN` with every member absent. Same [[FileStats.excludes]]
    * contract: only provable absence, anything else false. `colBits`
    * maps column → (k probes, bitset; m = bits.length·8) — the shape
    * both the sidecar index ([[Index.colBitsOf]]) and the
    * per-snapshot manifest stats ([[FileStats.FileStat.blooms]])
    * provide. */
  def excludes(filter: Expression,
               colBits: Map[String, (Int, Array[Byte])],
               phys: String => String): Boolean = filter match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      excludes(l, colBits, phys) || excludes(r, colBits, phys)
    case EqualTo(a: AttributeReference, Literal(v, dt)) =>
      absent(colBits.get(phys(a.name)), v, dt)
    case EqualTo(Literal(v, dt), a: AttributeReference) =>
      absent(colBits.get(phys(a.name)), v, dt)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.forall { l =>
        val lit = l.asInstanceOf[Literal]
        absent(colBits.get(phys(a.name)), lit.value, lit.dataType)
      }
    case _ => false
  }

  /** Driver-side probe: canonicalize the literal exactly as the build
    * canonicalized the column, evaluate the SAME XxHash64 expression
    * interpreted, and test the k bits. Unset bit ⇒ provably absent.
    * NULL / unsupported / un-canonicalizable values never prune. */
  private def absent(entry: Option[(Int, Array[Byte])],
                     v: Any, dt: DataType): Boolean =
    (entry, canonicalValue(v, dt)) match {
      case (Some((k, bits)), Some(litExpr)) =>
        val m = bits.length.toLong * 8L
        (0 until k).exists { i =>
          val h = XxHash64(Seq(litExpr, Literal(i.toLong, LongType)), 42L)
            .eval(null).asInstanceOf[Long]
          val p = java.lang.Math.floorMod(h, m).toInt
          (bits(p >>> 3) & (1 << (p & 7))) == 0
        }
      case _ => false
    }

  /** The pushed literal in the build's canonical form: integrals and
    * temporal encodings widen to a LONG literal, strings stay UTF8.
    * None for NULL or anything outside the indexed surface. */
  private def canonicalValue(v: Any, dt: DataType): Option[Literal] =
    (v, dt) match {
      case (null, _) => None
      case (b: Byte, ByteType) => Some(Literal(b.toLong, LongType))
      case (s: Short, ShortType) => Some(Literal(s.toLong, LongType))
      case (i: Int, IntegerType) => Some(Literal(i.toLong, LongType))
      case (l: Long, LongType) => Some(Literal(l, LongType))
      // DATE literals arrive as epoch-day Int, TIMESTAMP as epoch-µs
      // Long — already the canonical encodings the build hashed
      case (i: Int, DateType) => Some(Literal(i.toLong, LongType))
      case (l: Long, TimestampType) => Some(Literal(l, LongType))
      case (l: Long, TimestampNTZType) => Some(Literal(l, LongType))
      case (s: UTF8String, StringType) => Some(Literal(s, StringType))
      case (s: String, StringType) =>
        Some(Literal(UTF8String.fromString(s), StringType))
      case _ => None
    }
}

/** The unified file-skipping gate: one listing, both sidecars — a file
  * is carried when EITHER its [[FileStats]] min/max range or its
  * [[BloomIndex]] bitset proves the pushed conjuncts cannot match.
  * Scans ([[DeletableTable.newScanBuilder]]) and row-level DML
  * ([[DeletableTable.deleteWhere]], the rewrite groups) all prune
  * through here, so range skipping and equality skipping compose
  * without either path knowing about the other's sidecar. */
private[catalog] object FileSkipping {

  /** Any skipping metadata present? (cheap existence probe — scan
    * builders use it to decide whether to wrap). */
  def hasAny(tableDir: Path): Boolean =
    Files.exists(tableDir.resolve(FileStats.Sidecar)) ||
      Files.exists(tableDir.resolve(BloomIndex.Sidecar))

  /** Partition the data files into (candidates, carried); None when
    * nothing can be carried — same contract as [[FileStats.split]]. */
  def split(tableDir: Path, dataDir: Path, filters: Seq[Expression],
            phys: String => String): Option[(Seq[Path], Seq[Path])] = {
    if (filters.isEmpty || !Files.isDirectory(dataDir)) return None
    val stats = FileStats.read(tableDir)
    val bloom = BloomIndex.read(tableDir)
    if (stats.isEmpty && bloom.isEmpty) return None
    val files = DeletableTable.listDataFiles(dataDir)
    val (kept, carried) = files.partition { p =>
      val name = p.getFileName.toString
      val statsDrop = stats.get(name).exists(ranges =>
        filters.exists(FileStats.excludes(_, ranges, phys)))
      val bloomDrop = bloom.colBitsOf(name).exists(colBits =>
        filters.exists(BloomIndex.excludes(_, colBits, phys)))
      !statsDrop && !bloomDrop
    }
    if (carried.isEmpty) None else Some((kept, carried))
  }

  def survivors(tableDir: Path, dataDir: Path, filters: Seq[Expression],
                phys: String => String): Option[Seq[Path]] =
    split(tableDir, dataDir, filters, phys).map(_._1)

  /** The same skipping gate over an EXPLICIT file list (paths of any
    * shape — matching is by base name, which the writers keep globally
    * unique): partitioned scans compose this AFTER partition-directory
    * pruning, so a survivor partition's files still skip on min/max
    * ranges and Bloom bitsets (prune the listing, then skip inside the
    * survivors — the Iceberg manifest behavior). None when nothing is
    * dropped. */
  def filterFiles(tableDir: Path, files: Seq[Path], filters: Seq[Expression],
                  phys: String => String,
                  statsOverride: Option[Map[String, FileStats.FileStat]] = None)
      : Option[Seq[Path]] = {
    if (filters.isEmpty || files.isEmpty) return None
    // snapshot scans pass their manifest's commit-atomic stats so a
    // VERSION AS OF read skips on the ranges — and, once a `bloom`
    // snapshot exists, the Bloom bitsets — of THAT snapshot (the
    // sidecars describe only the current file set)
    val stats = statsOverride.fold(FileStats.read(tableDir))(
      _.map { case (f, fs) =>
        f -> fs.cols.map { case (c, st) => c -> ((st.mn, st.mx)) } })
    val snapBlooms: Map[String, Map[String, (Int, Array[Byte])]] =
      statsOverride.fold(Map.empty[String, Map[String, (Int, Array[Byte])]])(
        _.collect { case (f, fs) if fs.blooms.nonEmpty => f -> fs.blooms })
    // manifest blooms win for files they cover; the sidecar serves the
    // rest (file bytes are immutable, so a sidecar entry is valid for
    // ANY snapshot that references the file — staleness only loses
    // entries, never wrongs them)
    lazy val sideBloom = BloomIndex.read(tableDir)
    if (stats.isEmpty && snapBlooms.isEmpty && sideBloom.isEmpty) return None
    val kept = files.filter { p =>
      val name = p.getFileName.toString
      val statsDrop = stats.get(name).exists(ranges =>
        filters.exists(FileStats.excludes(_, ranges, phys)))
      val colBits = snapBlooms.get(name).orElse(sideBloom.colBitsOf(name))
      val bloomDrop = colBits.exists(cb =>
        filters.exists(BloomIndex.excludes(_, cb, phys)))
      !statsDrop && !bloomDrop
    }
    if (kept.size == files.size) None else Some(kept)
  }

  /** Post-rewrite refresh of BOTH sidecars (see each refresh doc). */
  def refreshAfterRewrite(spark: SparkSession, tableDir: Path, dataDir: Path,
                          carriedNames: Set[String]): Unit = {
    FileStats.refreshAfterRewrite(spark, tableDir, dataDir, carriedNames)
    BloomIndex.refreshAfterRewrite(spark, tableDir, dataDir, carriedNames)
  }
}

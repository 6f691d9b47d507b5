package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions.{col, max, min}

/** File-level min/max data skipping — the Iceberg/Delta manifest-stats
  * model for the lake catalog: `CALL cat.system.analyze('db.t',
  * 'c1,c2')` computes per-FILE min/max for the named columns and
  * persists them in a `_graft_stats.json` sidecar; the table's scan
  * then drops files whose range provably excludes the pushed filters
  * BEFORE Spark lists or opens them. This is the read-side payoff of
  * the z-order write layout ([[graft.operators.Layout]]): clustering
  * tightens per-file ranges, the stats sidecar turns tight ranges
  * into skipped I/O — at 100 TB the difference between touching every
  * footer and touching the 2 files that can match.
  *
  * Conservative by construction:
  *  - only provable exclusions prune — a file is dropped when some
  *    pushed conjunct cannot hold anywhere in `[min, max]` (or the
  *    file's column is entirely NULL, which no comparison satisfies);
  *  - files NOT listed in the sidecar (written after the last
  *    `analyze`, or any rewrite) always survive — stale stats degrade
  *    to no pruning, never to wrong answers;
  *  - unrecognized filter shapes contribute nothing.
  *
  * Supported shapes: `=`, `<`, `<=`, `>`, `>=`, `IN` between a column
  * and literals, conjunctions thereof; numeric ranges compare as
  * BigDecimal, strings lexically (both match parquet's own min/max
  * ordering for these types). DATE/TIMESTAMP columns persist as their
  * Catalyst numeric encodings (epoch days / epoch micros) so they
  * compare numerically against the pushed literals (which arrive in
  * exactly that encoding); `analyze` rejects any other column type
  * upfront, and a number-vs-string mismatch in `cmp` reports
  * incomparable — which never prunes. */
private[catalog] object FileStats {

  val Sidecar = "_graft_stats.json"

  /** One column's per-file stats: [min, max] as JSON scalars (both
    * None when the file's column is entirely NULL) plus the non-NULL
    * value count (None in pre-r10 sidecars, which only carried the
    * range pair). */
  private[catalog] final case class ColStat(mn: Option[Any], mx: Option[Any],
                                            nonNull: Option[Long])

  /** One file's stats: total row count (None in pre-r10 sidecars),
    * the per-column min/max/count stats, and (r13) the per-column
    * Bloom bitsets — `blooms` maps column → (k probes, bitset; m =
    * bits.length·8). Folding the bitsets into the SAME per-file stat
    * record means they ride the commit-atomic stats plumbing for
    * free: carried with their segment, dropped with their file,
    * refreshed by [[graft.catalog.Snapshots.freshStatsFor]] on every
    * DML — so time-travel scans Bloom-skip from the manifest of THAT
    * snapshot and the index never self-invalidates. */
  private[catalog] final case class FileStat(
      rows: Option[Long],
      cols: Map[String, ColStat],
      blooms: Map[String, (Int, Array[Byte])] = Map.empty)

  /** The pruning view: per-file per-column [min, max]. */
  private type Ranges = Map[String, Map[String, (Option[Any], Option[Any])]]

  /** Compute per-file min/max for `cols` over the table's CURRENT data
    * files and persist the sidecar (atomic move). Returns the number
    * of files analyzed. */
  def analyze(spark: SparkSession, tableDir: Path, dataDir: Path,
              cols: Seq[String]): Long = {
    // manifest-versioned tables: stats cover the LIVE files only (a
    // root read would mix spec-evolution shapes and stat dead files)
    val df = Snapshots.readCurrent(spark, tableDir) match {
      case Some(Some(live)) => live
      case Some(None) =>
        // still validate the requested columns — a typo'd name must
        // fail loudly, not "succeed" on an empty snapshot
        val declared = Snapshots.physicalReadSchema(tableDir).fieldNames
        val bad = cols.filterNot(declared.contains)
        require(bad.isEmpty, s"analyze: no such column(s) ${bad.mkString(",")}")
        writeSidecar(tableDir, Map.empty); return 0L
      case None => spark.read.parquet(dataDir.toString)
    }
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"analyze: no such column(s) ${missing.mkString(",")}")
    val unsupported = cols.filter { c =>
      df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => false
        case org.apache.spark.sql.types.StringType => false
        case org.apache.spark.sql.types.DateType => false
        case org.apache.spark.sql.types.TimestampType => false
        case org.apache.spark.sql.types.TimestampNTZType => false
        case _ => true
      }
    }
    require(unsupported.isEmpty,
      s"analyze: unsupported column type(s) for min/max stats: " +
        unsupported.map(c => s"$c:${df.schema(c).dataType.simpleString}").mkString(",") +
        " (numeric, string, date, timestamp only)")
    require(!cols.contains(RowsKey) && !cols.contains(BloomKey),
      s"analyze: '$RowsKey'/'$BloomKey' are reserved sidecar keys")
    val entries = collectRanges(df, cols)
    writeSidecar(tableDir, entries)
    // manifest-versioned tables: ALSO publish an `analyze` snapshot
    // embedding the stats (same file list) — from here on every commit
    // maintains per-snapshot stats for its added files, so VERSION AS
    // OF scans file-skip and metadata aggregates serve history too.
    // Bloom bitsets already in the latest snapshot carry through the
    // re-commit (fresh stats REPLACE per-file entries wholesale).
    if (Snapshots.isVersioned(tableDir)) {
      val prev = Snapshots.latest(tableDir)
        .fold(Map.empty[String, FileStat])(_.stats)
      val merged = entries.map { case (f, fs) =>
        f -> fs.copy(blooms = prev.get(f).fold(
          Map.empty[String, (Int, Array[Byte])])(_.blooms))
      }
      Snapshots.commit(tableDir, Snapshots.Op.Analyze, identity, freshStats = merged)
      ()
    }
    entries.size.toLong
  }

  /** Refresh the sidecar across a FILE-GRANULAR rewrite: carried
    * files keep their entries (same bytes, same names), newly staged
    * files get fresh min/max over the sidecar's own column set, and
    * names no longer present drop. Without this, every DML would
    * strand the skipping stats until the next manual `CALL analyze`;
    * with it, repeated selective DML keeps pruning (the Iceberg model,
    * where the writer records per-file stats inline). Reads ONLY the
    * newly written files. No-op when no sidecar exists or when
    * nothing was carried (a whole-table rewrite stales every entry —
    * recomputing there would re-read everything just written). */
  def refreshAfterRewrite(spark: SparkSession, tableDir: Path, dataDir: Path,
                          carriedNames: Set[String]): Unit = {
    if (carriedNames.isEmpty) return
    val existing = readFull(tableDir)
    if (existing.isEmpty) return
    val current = DeletableTable.listDataFiles(dataDir)
    val kept = current.flatMap { p =>
      val n = p.getFileName.toString
      if (carriedNames(n)) existing.get(n).map(n -> _) else None
    }.toMap
    val newFiles = current.filterNot(p => carriedNames(p.getFileName.toString))
    val fresh =
      if (newFiles.isEmpty) Map.empty[String, FileStat]
      else {
        val cols = existing.valuesIterator.flatMap(_.cols.keysIterator)
          .toSeq.distinct.sorted
        val df = spark.read.parquet(newFiles.map(_.toString): _*)
        val usable = cols.filter(df.columns.contains)
        if (usable.isEmpty) Map.empty else collectRanges(df, usable)
      }
    writeSidecar(tableDir, kept ++ fresh)
  }

  /** Reserved per-file sidecar key carrying the row count. */
  private val RowsKey = "__rows__"

  /** Reserved per-file key carrying the Bloom bitsets: an object
    * `{col: "k:<base64 bits>"}`. */
  private val BloomKey = "__bloom__"

  /** The file NAME of each row of `df` — the key per-file stats and
    * Bloom bitsets are filed under. Manifest readers pre-materialize the
    * file path (it can't cross their per-shape union); direct reads use
    * the metadata column. Cut to the name before any exchange: the
    * absolute path would ship the table's location through the shuffle
    * (bytes that depend on where the lake lives, not on the data). */
  private[catalog] def fileNameCol(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.substring_index(
      if (df.columns.contains(Snapshots.FileCol)) col(Snapshots.FileCol)
      else col("_metadata.file_path"), "/", -1)

  private[catalog] def collectRanges(df: org.apache.spark.sql.DataFrame,
                                     cols: Seq[String]): Map[String, FileStat] = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"),
        org.apache.spark.sql.functions.count(col(c)).as(s"__nn_$c"))) :+
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("__rows")
    df.groupBy(fileNameCol(df).as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        r.getAs[String]("__file") ->
          FileStat(Some(r.getAs[Long]("__rows")),
            cols.map(c => c -> ColStat(
              Option(r.getAs[Any](s"__min_$c")),
              Option(r.getAs[Any](s"__max_$c")),
              Some(r.getAs[Long](s"__nn_$c")))).toMap)
      }.toMap
  }

  private def writeSidecar(tableDir: Path,
                           entries: Map[String, FileStat]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = statsToNode(om, entries)
    val target = tableDir.resolve(Sidecar)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, om.writeValueAsString(root))
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Serialize a per-file stats map to the shared JSON shape — used by
    * both the `_graft_stats.json` sidecar and the commit-atomic
    * `stats` block inside snapshot manifests ([[Snapshots]]). */
  private[catalog] def statsToNode(
      om: com.fasterxml.jackson.databind.ObjectMapper,
      entries: Map[String, FileStat])
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val root = om.createObjectNode()
    entries.toSeq.sortBy(_._1).foreach { case (fileName, fs) =>
      val node = root.putObject(fileName)
      fs.rows.foreach(n => node.putArray(RowsKey).add(n))
      if (fs.blooms.nonEmpty) {
        val bn = node.putObject(BloomKey)
        fs.blooms.toSeq.sortBy(_._1).foreach { case (c, (k, bits)) =>
          bn.put(c, s"$k:" +
            java.util.Base64.getEncoder.encodeToString(bits))
        }
      }
      fs.cols.toSeq.sortBy(_._1).foreach { case (c, st) =>
        val arr = node.putArray(c)
        Seq(st.mn.orNull, st.mx.orNull).foreach {
          case null => arr.addNull()
          // non-finite floats persist as strings: cmp() reports them
          // incomparable against numbers (never prunes — conservative)
          // and the aggregate reconstruction parses them back
          case v: java.lang.Double if v.isNaN || v.isInfinite =>
            arr.add(v.toString)
          case v: java.lang.Float if v.isNaN || v.isInfinite =>
            arr.add(v.toString)
          case v: java.lang.Number => arr.add(new java.math.BigDecimal(v.toString))
          // temporal values persist as their CATALYST numeric encoding
          // (epoch days / epoch micros) — the exact representation the
          // pushed-filter literals arrive in, so cmp stays numeric
          case v: java.sql.Date =>
            arr.add(java.math.BigDecimal.valueOf(
              org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(v).toLong))
          case v: java.time.LocalDate =>
            arr.add(java.math.BigDecimal.valueOf(v.toEpochDay))
          case v: java.sql.Timestamp =>
            arr.add(java.math.BigDecimal.valueOf(
              org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(v)))
          case v: java.time.Instant =>
            arr.add(java.math.BigDecimal.valueOf(
              org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(v)))
          case v: java.time.LocalDateTime =>
            arr.add(java.math.BigDecimal.valueOf(
              org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(v)))
          case v: String => arr.add(v)
          case v => throw new IllegalStateException(
            s"stats sidecar: unexpected value class ${v.getClass.getName}")
        }
        st.nonNull.foreach(n => arr.add(n))
      }
    }
    root
  }

  /** Parse the shared per-file stats JSON shape (inverse of
    * [[statsToNode]]). */
  private[catalog] def statsFromNode(
      node: com.fasterxml.jackson.databind.JsonNode): Map[String, FileStat] =
    node.fields().asScala.map { e =>
      var rows: Option[Long] = None
      var blooms = Map.empty[String, (Int, Array[Byte])]
      val colStats = e.getValue.fields().asScala.flatMap { ce =>
        val arr = ce.getValue
        def v(i: Int): Option[Any] = {
          val n = arr.get(i)
          if (n == null || n.isNull) None
          else if (n.isNumber) Some(n.decimalValue(): java.math.BigDecimal)
          else Some(n.asText())
        }
        if (ce.getKey == RowsKey) {
          rows = Option(arr.get(0)).map(_.asLong()); None
        } else if (ce.getKey == BloomKey) {
          blooms = arr.fields().asScala.map { be =>
            val s = be.getValue.asText()
            val cut = s.indexOf(':')
            be.getKey -> ((s.substring(0, cut).toInt,
              java.util.Base64.getDecoder.decode(s.substring(cut + 1))))
          }.toMap
          None
        } else {
          val nn = Option(arr.get(2)).filter(_.isNumber).map(_.asLong())
          Some(ce.getKey -> ColStat(v(0), v(1), nn))
        }
      }.toMap
      e.getKey -> FileStat(rows, colStats, blooms)
    }.toMap

  /** Full sidecar parse: per-file row counts + per-column
    * (min, max, non-null count); counts are None in pre-r10 sidecars
    * (2-element arrays, no `__rows__`). */
  private[catalog] def readFull(tableDir: Path): Map[String, FileStat] = {
    val f = tableDir.resolve(Sidecar)
    if (!Files.exists(f)) Map.empty
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      statsFromNode(om.readTree(Files.readString(f)))
    }
  }

  /** The pruning view of the sidecar; empty map when absent. */
  def read(tableDir: Path): Ranges =
    readFull(tableDir).map { case (f, fs) =>
      f -> fs.cols.map { case (c, st) => c -> ((st.mn, st.mx)) }
    }

  /** The data files of `dataDir` that SURVIVE the pushed filters:
    * listed files whose ranges provably exclude some conjunct are
    * dropped; unlisted files and unprovable filters keep everything
    * they touch. `phys` translates filter column names to the sidecar
    * (physical) dialect. Returns None when pruning removes nothing —
    * the caller then keeps the original single-directory listing. */
  def survivors(stats: Ranges, dataDir: Path, filters: Seq[Expression],
                phys: String => String): Option[Seq[Path]] =
    split(stats, dataDir, filters, phys).map(_._1)

  /** Partition the data files into (candidates, carried): `carried`
    * files provably contain NO row matching the conjunctive `filters`
    * (their ranges exclude some conjunct) — a row-level rewrite can
    * carry them untouched and rewrite only the candidates. None when
    * nothing can be carried (no stats / no filters / no provable
    * exclusion) — the caller then treats the whole directory as one
    * rewrite group. Same conservative rules as [[survivors]]:
    * unlisted files are always candidates. */
  def split(stats: Ranges, dataDir: Path, filters: Seq[Expression],
            phys: String => String): Option[(Seq[Path], Seq[Path])] = {
    if (stats.isEmpty || filters.isEmpty || !Files.isDirectory(dataDir)) return None
    val files = {
      val s = Files.list(dataDir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
      finally s.close()
    }
    val (kept, carried) = files.partition { p =>
      stats.get(p.getFileName.toString) match {
        case None => true // unlisted (post-analyze) file: never prune
        case Some(ranges) => !filters.exists(excludes(_, ranges, phys))
      }
    }
    if (carried.isEmpty) None else Some((kept, carried))
  }

  /** True when `filter` provably holds NOWHERE within the file's
    * ranges. ([[FileSkipping]] composes this per-file test with the
    * Bloom equality test.) */
  private[catalog] def excludes(filter: Expression,
                       ranges: Map[String, (Option[Any], Option[Any])],
                       phys: String => String): Boolean = filter match {
    case And(l, r) => excludes(l, ranges, phys) || excludes(r, ranges, phys)
    case EqualTo(a: AttributeReference, Literal(v, _)) =>
      outside(ranges.get(phys(a.name)), v, lo = true, hi = true)
    case EqualTo(Literal(v, _), a: AttributeReference) =>
      outside(ranges.get(phys(a.name)), v, lo = true, hi = true)
    case GreaterThan(a: AttributeReference, Literal(v, _)) => // col > v: need max > v
      boundary(ranges.get(phys(a.name)), v, useMax = true, strict = true)
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      boundary(ranges.get(phys(a.name)), v, useMax = true, strict = false)
    case LessThan(a: AttributeReference, Literal(v, _)) => // col < v: need min < v
      boundary(ranges.get(phys(a.name)), v, useMax = false, strict = true)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      boundary(ranges.get(phys(a.name)), v, useMax = false, strict = false)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.forall(l => outside(ranges.get(phys(a.name)),
        l.asInstanceOf[Literal].value, lo = true, hi = true))
    case _ => false
  }

  /** v outside [min, max] (or the file's column entirely NULL). */
  private def outside(range: Option[(Option[Any], Option[Any])], v: Any,
                      lo: Boolean, hi: Boolean): Boolean = range match {
    case None => false
    case Some((None, None)) => true // all-NULL column: no comparison holds
    case Some((mn, mx)) =>
      (lo && mn.exists(m => cmp(v, m).exists(_ < 0))) ||
        (hi && mx.exists(m => cmp(v, m).exists(_ > 0)))
  }

  /** Exclusion via one boundary: for `col > v` the file survives only
    * if `max > v` — excluded when `max <= v` (strict) / `max < v`. */
  private def boundary(range: Option[(Option[Any], Option[Any])], v: Any,
                       useMax: Boolean, strict: Boolean): Boolean = range match {
    case None => false
    case Some((None, None)) => true
    case Some((mn, mx)) =>
      val b = if (useMax) mx else mn
      b.exists { m =>
        val c = if (useMax) cmp(m, v) else cmp(v, m)
        c.exists(x => if (strict) x <= 0 else x < 0)
      }
  }

  /** Compare a catalyst literal value with a sidecar value: numbers as
    * BigDecimal (temporal literals arrive as their epoch-day/micro
    * numeric encoding, matching what `analyze` persisted), strings
    * lexically (UTF8 strings round-trip). Incomparable kinds — a
    * number against a string, or anything unrecognized — report None,
    * and None NEVER prunes (both boundary and outside treat it as
    * "cannot prove exclusion"). */
  private def cmp(a: Any, b: Any): Option[Int] = {
    def dec(x: Any): Option[java.math.BigDecimal] = x match {
      case n: java.math.BigDecimal => Some(n)
      case n: java.lang.Number => Some(new java.math.BigDecimal(n.toString))
      case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
      case _ => None
    }
    def str(x: Any): Option[String] = x match {
      case s: String => Some(s)
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case _ => None
    }
    (dec(a), dec(b)) match {
      case (Some(x), Some(y)) => Some(x.compareTo(y))
      case (None, None) =>
        (str(a), str(b)) match {
          case (Some(x), Some(y)) => Some(x.compareTo(y))
          case _ => None
        }
      case _ => None // number vs non-number: no provable ordering
    }
  }
}

package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** PRIMARY-KEY lake tables — Paimon's `'merge-engine'='deduplicate'`
  * expressed as a DECLARED TABLE SEMANTIC over the manifest-versioned
  * partitioned layout (the reference's staging tables ARE primary-key
  * tables: `flink-cdc/sql/tickets-cdc.sql:23-37` declares
  * `PRIMARY KEY … NOT ENFORCED` with `'bucket.num'='4'`, and the
  * generated Paimon sink is literally `'merge-engine'='deduplicate'`,
  * `flink-gen.sh:118-142`).
  *
  *  - WRITES are BLIND APPENDS: an upsert is `INSERT INTO` — no read,
  *    no merge job, no shuffle beyond the write's own clustering. At
  *    100 TB this is the property that makes a CDC ingest keep up:
  *    the writer never touches existing data.
  *  - READS resolve LATEST-PER-KEY merge-on-read: every data file
  *    carries its BIRTH SEQUENCE from the monotonic per-table commit
  *    sequence ([[Snapshots.Snapshot.seqs]], r14) — the winner of a
  *    key is the row with the greatest `(seq, file, pos)` (first-row
  *    engine: the least). Ties inside one commit break by (file, row
  *    position): deterministic, and matching the "later row wins"
  *    convention of the query-level upsert surface
  *    ([[graft.cdc.Upsert.latestByKey]]).
  *  - DELETES are EQUALITY DELETES (Iceberg v2's second delete kind):
  *    a parquet file of KEY VALUES under `_graft_eqdeletes/`, stamped
  *    with its commit's sequence, applying to rows of files with a
  *    STRICTLY LOWER sequence. A key deleted at seq D revives when a
  *    later append (seq > D) re-inserts it; the deleting commit's own
  *    appended rows (seq == D) survive — exactly what one-commit
  *    MERGE (delete old key + insert new row) needs. A full-PK
  *    equality `DELETE` is a BLIND key delete: one row written, zero
  *    rows read — the CDC-at-scale delete.
  *  - `UPDATE`/`MERGE INTO` plan through Spark's own delta row-level
  *    write ([[PkDelta]]) with the PRIMARY KEY as the row
  *    identity: updates split into (equality delete of the old key,
  *    append of the new row), inserts append — one optimistic commit.
  *  - `CALL compact` is KEY-AWARE: it rewrites the RESOLVED rows (one
  *    version per key, equality deletes applied) and records the
  *    compacting commit's sequence in the [[Marker]] sidecar — a
  *    snapshot whose data files ALL carry a marker sequence is
  *    provably duplicate-free, so its scans skip the dedup aggregate
  *    entirely and every gated fast path (metadata-only aggregates,
  *    storage-partitioned joins, exact row counts) serves again.
  *
  * Read side: ONE resolved read ([[MorDeletes.resolve]]) serves SQL
  * scans ([[MorScanRewrite]]), key-aware compact and the change feed —
  * per-shape parquet read of the data files with `(file, pos)`
  * coordinates and the broadcast-looked-up birth sequence, PK-ONLY
  * predicate conjuncts pushed beneath on SQL scans (a key-determined
  * filter can never change a key's winner; non-key predicates must
  * wait for the dedup — filtering an old version away BEFORE dedup
  * would resurrect the one beneath it), equality deletes under
  * [[eqKillCond]], then ONE hash aggregate `max_by(col, struct(seq,
  * file, pos))` per selected column, grouped by the key. The aggregate
  * is partial-aggregatable (map-side combine ships one candidate row
  * per key per task), and the bucket-by-key layout keeps each key's
  * versions co-located. The change feed's one-pass version diff is the
  * same read for two states ([[MorDeletes.versionDiff]]): one
  * aggregate, every column picked once per state through the same
  * ladder and [[PkDef.pick]], equality deletes killed per state under
  * [[eqKillCond]]. */
object PkTables {

  /** Table properties (CREATE TABLE … TBLPROPERTIES). */
  val KeysProp = "primary-key"
  val EngineProp = "merge-engine"
  val EngineDedup = "deduplicate"
  val EngineFirstRow = "first-row"
  val EnginePartialUpdate = "partial-update"
  val EngineAggregation = "aggregation"

  /** Per-column fold declaration for the aggregation engine:
    * `'fields.<col>.aggregate-function'='sum|min|max|last_non_null'`
    * (unconfigured columns default to `last_non_null`, the Paimon
    * convention). */
  val FieldAggPrefix = "fields."
  val FieldAggSuffix = ".aggregate-function"
  val FieldAggFunctions: Set[String] =
    Set("sum", "min", "max", "last_non_null", "first_value",
      "bool_and", "bool_or", "product", "listagg")

  /** Paimon's `'sequence.field'`: a USER column that orders a key's
    * versions ahead of arrival order — resolution compares
    * `(field, commit seq, file, pos)`, so a late-arriving CDC replay
    * (lower field value, higher commit seq) never beats the newer
    * value it replays past. Declared NOT NULL at CREATE (the ladder
    * needs a total order and the delta row identity carries it). */
  val SeqFieldProp = "sequence.field"

  /** Paimon's `'changelog-producer'` (the reference's Paimon sink
    * declares `'input'`, `flink-gen.sh:140`): `'input'` persists each
    * commit's RESOLVED per-version changelog as parquet under
    * [[ChangelogProducer.DirName]] so every downstream consumer scans
    * write-once files instead of re-paying the snapshot diff —
    * see [[ChangelogProducer]]. */
  val ChangelogProducerProp = "changelog-producer"

  val Sidecar = "_graft_pk.json"

  /** Equality-delete files live here, laid out by target partition
    * like position deletes (`_gmor_tdir=<esc>` — the same
    * [[MorDeletes.targetDirOf]] pruning applies). */
  val EqDeleteDirName = "_graft_eqdeletes"

  /** Key-aware-compact marker: the commit sequences whose files are
    * PROVABLY one-version-per-key (written by [[addMarkerSeq]]). */
  val Marker = "_graft_pk_compacted.json"

  /** Data-side birth-sequence column and the equality-delete side's
    * own sequence column in resolved reads. */
  val SeqCol = "_gpk_seq"
  val DelSeqCol = "_gpk_dseq"

  /** The equality-delete side's SEQUENCE-FIELD value column: non-null
    * on deletes that captured the retired row's field value (delta
    * DELETE/UPDATE/MERGE — they read the row), null on BLIND key
    * deletes (declared last-writer-wins at commit time). */
  val DelFieldCol = "_gpk_dfield"

  final case class PkDef(keys: Seq[String], engine: String,
                         fieldAggs: Map[String, String] = Map.empty,
                         seqField: Option[String] = None,
                         changelogProducer: Option[String] = None) {
    /** Persisted-changelog mode ([[ChangelogProducerProp]] = 'input'). */
    def producesChangelog: Boolean = changelogProducer.contains("input")
    def firstRow: Boolean = engine == EngineFirstRow
    def partialUpdate: Boolean = engine == EnginePartialUpdate

    /** The resolution ladder: `(sequence field?, commit seq, file,
      * pos)` — the field (when declared) orders versions ahead of
      * arrival; commit seq + coordinates break ties deterministically
      * ("later arrival wins" among equal field values). */
    def ladder(field: Option[org.apache.spark.sql.Column],
               seq: org.apache.spark.sql.Column,
               file: org.apache.spark.sql.Column,
               pos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.struct(
        (field.toSeq :+ seq :+ file :+ pos): _*)

    /** The per-column resolution pick: latest wins (`deduplicate`),
      * first wins (`first-row`), latest NON-NULL wins
      * (`partial-update` — a NULL in a newer version never erases an
      * older value; `max_by` skips NULL orderings, so masking the
      * ordering on NULL values is exactly the Paimon semantics), or
      * the DECLARED per-column fold (`aggregation` — sum/min/max are
      * order-free and associative, so compaction folding a key into
      * one row and later fragments folding on top compose exactly;
      * unconfigured columns default to `last_non_null`). `name` is the
      * LOGICAL column name the field-agg declaration keys by. */
    def pick(name: String, c: org.apache.spark.sql.Column,
             ord: org.apache.spark.sql.Column,
             alive: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{array_join, array_sort, bool_and, bool_or, collect_list, max, max_by, min, min_by, product, size, struct, sum, transform, when}
      // `alive` restricts the pick to one STATE's rows (the two-state
      // read, [[MorDeletes.versionDiff]], computes before/after images
      // in one aggregate); the one-state read passes a literal true,
      // which folds away. Ladder picks mask the ORDERING (a null
      // ordering row never wins); folds mask the VALUE (aggregates
      // skip nulls) — both exclude non-state rows.
      def g(x: org.apache.spark.sql.Column) = when(alive, x)
      engine match {
        case EngineFirstRow => min_by(c, g(ord))
        case EnginePartialUpdate => max_by(c, when(alive && c.isNotNull, ord))
        case EngineAggregation =>
          fieldAggs.getOrElse(name, "last_non_null") match {
            case "sum" => sum(g(c))
            case "min" => min(g(c))
            case "max" => max(g(c))
            // order-free folds compose with compaction trivially
            case "bool_and" => bool_and(g(c).cast("boolean"))
            case "bool_or" => bool_or(g(c).cast("boolean"))
            case "product" => product(g(c))
            // first version's value BY THE LADDER (nulls kept —
            // Paimon's first_value, vs first-row's whole-row min_by)
            case "first_value" => min_by(c, g(ord))
            // deterministic ordered concat of non-null values: sort
            // by the resolution ladder, join with ','. Composes with
            // key-aware compact because the compacted row's birth
            // ladder precedes every later fragment's — the folded
            // prefix stays a prefix. Null when no value ever arrived.
            case "listagg" =>
              val arr = array_sort(collect_list(when(alive && c.isNotNull,
                struct(ord.as("o"), c.cast("string").as("v")))))
              when(size(arr) > 0,
                array_join(transform(arr, x => x.getField("v")), ","))
            case _ => max_by(c, when(alive && c.isNotNull, ord))
          }
        case _ => max_by(c, g(ord))
      }
    }
  }

  def isEqDeleteFile(f: String): Boolean =
    f.startsWith(EqDeleteDirName + "/")

  def eqDeleteFiles(files: Seq[String]): Seq[String] =
    files.filter(isEqDeleteFile)

  /** Equality-delete files of the CURRENT snapshot (a public census
    * hook — the manifest internals stay package-private). */
  def currentEqDeleteFileCount(tableDir: Path): Int =
    Snapshots.latest(tableDir).fold(0)(s => eqDeleteFiles(s.files).size)

  def write(tableDir: Path, d: PkDef): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val ks = root.putArray("keys"); d.keys.foreach(ks.add)
    root.put("engine", d.engine)
    if (d.fieldAggs.nonEmpty) {
      val fa = root.putObject("field_aggs")
      d.fieldAggs.toSeq.sortBy(_._1).foreach { case (k, v) => fa.put(k, v) }
    }
    d.seqField.foreach(root.put("sequence_field", _))
    d.changelogProducer.foreach(root.put("changelog_producer", _))
    Files.writeString(tableDir.resolve(Sidecar), om.writeValueAsString(root))
    ()
  }

  def read(tableDir: Path): Option[PkDef] = {
    val f = tableDir.resolve(Sidecar)
    if (!Files.exists(f)) None
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val n = om.readTree(Files.readString(f))
      Some(PkDef(
        n.get("keys").elements().asScala.map(_.asText()).toSeq,
        Option(n.get("engine")).fold(EngineDedup)(_.asText()),
        Option(n.get("field_aggs")).fold(Map.empty[String, String])(
          _.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap),
        Option(n.get("sequence_field")).map(_.asText()),
        Option(n.get("changelog_producer")).map(_.asText())))
    }
  }

  // ---- key-aware-compact marker ------------------------------------

  /** The data-FILE-SET fingerprints a key-aware rewrite stamped as
    * provably one-version-per-key. Keyed by CONTENT (sha1 of the
    * sorted table-relative data-file paths), never by commit sequence:
    * branch logs allocate sequences independently from their fork's
    * lastSeq, so a bare sequence number stamped by a main compact can
    * collide with an unrelated branch commit carrying intra-batch
    * duplicate keys — a fileset hash can only match the exact files
    * the rewrite itself produced. */
  def markerFilesets(tableDir: Path): Set[String] = {
    val f = tableDir.resolve(Marker)
    if (!Files.exists(f)) Set.empty
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      Option(om.readTree(Files.readString(f)).get("filesets")).toSet[
          com.fasterxml.jackson.databind.JsonNode]
        .flatMap(_.elements().asScala.map(_.asText()).toSet)
    }
  }

  def filesetHash(dataFiles: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    dataFiles.sorted.foreach { f =>
      md.update(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Record a rewrite's output snapshot as one-version-per-key (atomic
    * replace; bounded history — old compact filesets only matter to
    * rollback targets, 16 generations is plenty). */
  def addMarker(tableDir: Path, snapshotFiles: Seq[String]): Unit = {
    val hashes = (markerFilesets(tableDir) +
      filesetHash(Snapshots.dataFiles(snapshotFiles)))
      .toSeq.sorted.takeRight(16)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val arr = root.putArray("filesets"); hashes.foreach(arr.add)
    val target = tableDir.resolve(Marker)
    val tmp = target.resolveSibling(Marker + "." +
      java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    Files.writeString(tmp, om.writeValueAsString(root))
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Is this snapshot PROVABLY one-version-per-key already? True when
    * its data files are EXACTLY a set a key-aware rewrite stamped (and
    * no deletes of either kind are pending) — then the scan needs no
    * dedup aggregate and every fast path is valid. An EMPTY snapshot
    * is trivially resolved. (Pre-fileset markers — bare sequence
    * numbers — are ignored: they could collide across branch logs;
    * the cost is one re-compact on legacy tables, never correctness.) */
  def resolvedClean(tableDir: Path, snap: Snapshots.Snapshot): Boolean = {
    if (Snapshots.deleteFiles(snap.files).nonEmpty ||
        eqDeleteFiles(snap.files).nonEmpty) return false
    val dataF = Snapshots.dataFiles(snap.files)
    dataF.isEmpty || markerFilesets(tableDir)(filesetHash(dataF))
  }

  // ---- birth-sequence broadcast ------------------------------------

  // (appId, tableDir, sha1-of-content) → broadcast basename→seq map,
  // LRU. Content-addressed, so a hit can never serve another
  // snapshot's numbering; appId keyed so a restarted session never
  // touches a dead context's broadcast.
  private val seqCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        org.apache.spark.broadcast.Broadcast[
          java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
            java.lang.Long]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            org.apache.spark.broadcast.Broadcast[
              java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
                java.lang.Long]]]): Boolean = size() > 8
    })

  def seqBroadcastFor(spark: SparkSession, tableDir: Path,
                      seqs: Map[String, Long])
      : org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          java.lang.Long]] = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    seqs.toSeq.sortBy(_._1).foreach { case (k, v) =>
      md.update(k.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(java.nio.ByteBuffer.allocate(8).putLong(v).array())
    }
    val key = spark.sparkContext.applicationId + "\u0000" +
      tableDir.toString + "\u0000" +
      md.digest().map("%02x".format(_)).mkString
    val hit = seqCache.get(key)
    if (hit != null) return hit
    val m = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    seqs.foreach { case (b, s) =>
      m.put(org.apache.spark.unsafe.types.UTF8String.fromString(b),
        java.lang.Long.valueOf(s))
      ()
    }
    val bc = spark.sparkContext.broadcast(m)
    seqCache.put(key, bc)
    bc
  }

  /** `FileSeqLookup` over a file-key column, as a [[Column]]. */
  def seqColumnFor(bc: org.apache.spark.broadcast.Broadcast[
                     java.util.HashMap[
                       org.apache.spark.unsafe.types.UTF8String,
                       java.lang.Long]],
                   fileKey: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      FileSeqLookup(bc, org.apache.spark.sql.GraftBridge.expression(fileKey)))

  // ---- equality-delete files ---------------------------------------

  /** The PHYSICAL-name key schema of this table's equality-delete
    * files (key columns in declared order). */
  def keyFileSchema(tableDir: Path, keys: Seq[String]): StructType = {
    val phys = Snapshots.physicalReadSchema(tableDir)
    val renames = Evolutions.renames(tableDir)
    StructType(keys.map { k =>
      val p = renames.getOrElse(k, k)
      phys(phys.fieldIndex(p))
    })
  }

  /** Read equality-delete files as (key columns, [[DelSeqCol]] = the
    * "applies to seq strictly below me" threshold): ordinarily the
    * delete file's OWN birth sequence, but MERGED files (minor
    * eq-delete compaction, [[LakeProcedures]] `rewrite_eqdelete_files`)
    * carry an EXPLICIT per-row sequence column — merging files born at
    * different sequences must preserve each key's original threshold,
    * or a delete would wrongly extend past inserts that revived the
    * key. Plain files read the column as NULL; `coalesce` picks the
    * birth sequence for them. The read is indexed from the manifest's
    * list ([[Snapshots.readListed]]): no listing job. */
  def readEqDeletes(spark: SparkSession, tableDir: Path,
                    eqDels: Seq[String], keySchema: StructType,
                    bc: org.apache.spark.broadcast.Broadcast[
                      java.util.HashMap[
                        org.apache.spark.unsafe.types.UTF8String,
                        java.lang.Long]],
                    delField: Option[org.apache.spark.sql.types.StructField] =
                      None): DataFrame = {
    import org.apache.spark.sql.functions.coalesce
    val withSeq = StructType(keySchema.fields ++
      delField.map(f => org.apache.spark.sql.types.StructField(
        DelFieldCol, f.dataType, nullable = true)).toSeq :+
      org.apache.spark.sql.types.StructField(DelSeqCol,
        org.apache.spark.sql.types.LongType, nullable = true))
    Snapshots.readListed(spark, tableDir, eqDels, withSeq, basePath = false)
      .withColumn(DelSeqCol, coalesce(col(DelSeqCol),
        seqColumnFor(bc, col("_metadata.file_path"))))
  }

  /** The per-table [[DelFieldCol]] physical field, when a
    * `'sequence.field'` is declared. */
  def delFieldOf(tableDir: Path, pk: PkDef)
      : Option[org.apache.spark.sql.types.StructField] =
    pk.seqField.map { f =>
      val phys = Snapshots.physicalReadSchema(tableDir)
      val renames = Evolutions.renames(tableDir)
      phys(phys.fieldIndex(renames.getOrElse(f, f)))
    }

  /** Reduce a raw eq-delete frame to the CANONICAL per-key thresholds —
    * ≤2 rows per key, one per delete family: the BLIND family keeps its
    * max commit seq (kill is `seq < dseq`, so the max reproduces the
    * union exactly), the FIELD family keeps the lex-max `(field, seq)`
    * pair. This is THE kill-law normal form, shared by every consumer:
    * the broadcast vector ([[EqDeleteVectorKilled]]) folds to it on the
    * driver, `rewrite_eqdelete_files` persists it, and the one resolved
    * read ([[MorDeletes.resolve]] — every SQL scan, compact, the change
    * feed) reduces to it before its anti-join applies [[eqKillCond]]
    * past the vector ceiling — testing a row against every raw pair
    * diverges:
    * with two pending field deletes (5,s2) and (10,s3), the row the
    * s3 update itself inserted at a LOWERED field (2,s3) survives the
    * lex-max pair via the same-commit exclusion, but the stale (5,s2)
    * pair would kill it. The lex-max delete records the key's latest
    * retirement; older pending field deletes are superseded history. */
  def canonicalEqDeletes(ed: DataFrame, keyCols: Seq[String],
                         fieldType: Option[org.apache.spark.sql.types
                           .DataType]): DataFrame = {
    import org.apache.spark.sql.functions.{lit, max, struct}
    val ks = keyCols.map(col)
    fieldType match {
      case None =>
        ed.groupBy(ks: _*).agg(max(col(DelSeqCol)).as(DelSeqCol))
      case Some(ft) =>
        val blind = ed.filter(col(DelFieldCol).isNull)
          .groupBy(ks: _*)
          .agg(max(col(DelSeqCol)).as(DelSeqCol))
          .withColumn(DelFieldCol, lit(null).cast(ft))
        val fielded = ed.filter(col(DelFieldCol).isNotNull)
          .groupBy(ks: _*)
          .agg(max(struct(
            col(DelFieldCol).as("f"),
            col(DelSeqCol).as("s"))).as("__p"))
          .withColumn(DelFieldCol, col("__p.f"))
          .withColumn(DelSeqCol, col("__p.s"))
          .drop("__p")
        blind.unionByName(fielded)
          .select(ks ++ Seq(col(DelFieldCol), col(DelSeqCol)): _*)
    }
  }

  /** Column form of the equality-delete KILL law over the CANONICAL
    * per-key thresholds ([[canonicalEqDeletes]] — callers MUST reduce
    * the delete side first; raw all-pairs application diverges from
    * the vector/merged-file law): a data row `(field?, seq)` dies iff
    *  - the delete is BLIND (`dfield` null): `seq < dseq` — the blind
    *    delete beats everything present at commit time, any later
    *    append revives (arrival semantics, the r15 revive law);
    *  - the delete CARRIES the retired row's field: `seq != dseq` AND
    *    `(field, seq) < (dfield, dseq)` lexicographically — a late
    *    replay of an older version (lower field) stays dead, a
    *    genuinely newer version (higher field) revives, and the
    *    same-commit exclusion keeps a field-LOWERING update from
    *    eating its own insert (the "never eats its own inserts" law
    *    the strictly-lower-seq rule gave blind deletes). */
  def eqKillCond(dataField: Option[org.apache.spark.sql.Column],
                 dataSeq: org.apache.spark.sql.Column,
                 edField: Option[org.apache.spark.sql.Column],
                 edSeq: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.struct
    (dataField, edField) match {
      case (Some(df), Some(ef)) =>
        // identical inner field names on both sides — struct
        // comparison requires same types INCLUDING names
        (ef.isNull && dataSeq < edSeq) ||
          (ef.isNotNull && dataSeq =!= edSeq &&
            struct(df.as("f"), dataSeq.as("s")) <
              struct(ef.as("f"), edSeq.as("s")))
      case _ => dataSeq < edSeq
    }
  }

  /** Persist a key-set DataFrame (key columns in [[keyFileSchema]]
    * order + [[MorDeletes.TargetDirCol]]) as equality-delete files
    * ([[MorDeletes.writeScoped]], `eqdelete-` basenames). */
  def writeEqDeleteFiles(spark: SparkSession, tableDir: Path,
                         keys: DataFrame): Seq[String] =
    MorDeletes.writeScoped(tableDir, keys,
      keys.columns.toSeq.filterNot(_ == MorDeletes.TargetDirCol) :+
        MorDeletes.TargetDirCol,
      EqDeleteDirName, "eqdelete", ".__eqdel-")

  /** Commit validation for commits that WRITE equality deletes under a
    * predicate evaluated at `base`: any DATA file that appeared since
    * could hold a newer version of a matched key that the predicate
    * never saw — killing it would be a lost update. Conflict loudly;
    * the retry re-evaluates against the new snapshot. (BLIND full-key
    * deletes skip this — they are declared last-writer-wins.) */
  def validateNoNewData(operation: String, baseFiles: Seq[String])(
      current: Seq[String]): Unit = {
    val known = Snapshots.dataFiles(baseFiles).toSet
    val fresh = Snapshots.dataFiles(current).filterNot(known)
    if (fresh.nonEmpty)
      throw new CommitConflictException(
        s"concurrent commit added ${fresh.size} data file(s) this " +
          s"$operation did not evaluate its predicate over (e.g. " +
          s"${fresh.head}) — a newer version of a matched key could be " +
          "silently deleted; re-run the operation against the new snapshot")
  }

  /** Commit validation shared by the key-aware REWRITES (compact,
    * zorder): a concurrent commit that added an equality-delete file
    * the rewrite did not read would be silently NEUTERED — the rewrite
    * re-stamps every surviving row at a birth sequence above the
    * delete's threshold, and equality deletes apply only to strictly
    * lower sequences, so the deleted key resurrects. Conflict loudly;
    * the retry reads the delete. */
  def validateNoFreshEqDeletes(operation: String, baseFiles: Seq[String])(
      current: Seq[String]): Unit = {
    val known = eqDeleteFiles(baseFiles).toSet
    val fresh = eqDeleteFiles(current).filterNot(known)
    if (fresh.nonEmpty)
      throw new CommitConflictException(
        s"concurrent commit added ${fresh.size} equality-delete " +
          s"file(s) this $operation did not read — re-run")
  }
}

/** Broadcast birth-sequence lookup: `seq(basename(fileKey))` — 0 for
  * unstamped legacy files (they predate every stamped commit, so 0 is
  * the honest "older than everything" rank). Codegen'd so the lookup
  * rides inside the scan's whole-stage span like
  * [[DeleteVectorContains]]. */
private[catalog] final case class FileSeqLookup(
    seqs: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
        java.lang.Long]],
    fileExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def child: Expression = fileExpr
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  def seqOf(file: org.apache.spark.unsafe.types.UTF8String): Long = {
    // basename: everything after the last '/' (file keys are
    // table-relative paths; eq/pos delete file paths are URIs — both
    // end in the plain basename the manifest seq map keys by)
    val s = file.toString
    val i = s.lastIndexOf('/')
    val b = if (i < 0) s else s.substring(i + 1)
    val v = seqs.value.get(
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    if (v == null) 0L else v.longValue()
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val f = fileExpr.eval(input)
    if (f == null) 0L
    else seqOf(f.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("fileSeqLookup", this)
    val f = fileExpr.genCode(ctx)
    ev.copy(
      code = code"""
        ${f.code}
        long ${ev.value} = ${f.isNull} ? 0L : $ref.seqOf(${f.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(fileExpr = newChild)
}

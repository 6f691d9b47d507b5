package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.types.{StructField, StructType}

/** `UPDATE` / `MERGE INTO` / non-blind `DELETE` on PRIMARY-KEY lake
  * tables ([[PkTables]]) — the EQUALITY-delete kind of the shared delta
  * write ([[DeltaOperation]]), the Paimon PK-table DML model
  * (reference analog: the CDC upsert pipeline's staging tables are
  * exactly such tables, `flink-cdc/sql/tickets-cdc.sql:23-37`).
  *
  * Row id: the PRIMARY KEY (plain data columns — declared NOT NULL at
  * CREATE, which the delta resolver requires), plus the declared
  * `'sequence.field'` when present. Deleted rows become equality-delete
  * key rows (`_graft_eqdeletes/…`, applying to every file with a
  * strictly lower birth sequence), scoped by the key's own partition
  * dirs — spec columns are a key subset by construction, so the scope
  * is computable from the key alone. An update's appended row shares
  * the commit's sequence with its equality delete, and deletes apply
  * only to STRICTLY LOWER sequences, so a command can never eat its
  * own inserts. The read side resolves latest-per-key BEFORE the
  * command's condition applies ([[MorScanRewrite.swapPk]]), so
  * UPDATE/MERGE conditions see exactly the rows a SELECT sees.
  *
  * Validation: a commit that wrote equality deletes under a predicate
  * validates NO DATA FILE was added since its base
  * ([[PkTables.validateNoNewData]]) — a concurrent upsert could have
  * landed a newer version of a matched key the predicate never saw.
  * Pure-insert commits (append-only MERGE) validate nothing and merge
  * cleanly with anything. The commit persists its changelog when the
  * table declares `'changelog-producer'='input'`. */
private[catalog] final class PkDelta(
    tableDir: Path,
    spec: Seq[PartitionSpec.Field],
    pk: PkTables.PkDef) extends DeleteKind {
  val label = "pk-delta"
  /** With a `'sequence.field'`, delete records carry the RETIRED row's
    * field value, so the written equality delete kills by the
    * `(field, seq)` ladder — a late replay of an older version stays
    * dead, a genuinely newer version revives. */
  def rowId: Array[NamedReference] =
    (pk.keys ++ pk.seqField).map(Expressions.column).toArray
  def readSchema(logical: StructType): StructType = logical
  def pendingDeletes(baseFiles: Seq[String]): Int =
    PkTables.eqDeleteFiles(baseFiles).size

  /** Cluster on the KEY: same-key rows (delete and insert halves
    * alike — both carry the key columns) converge, and under a
    * bucket-by-key layout so do their partition targets. */
  def clustering(rowCols: Set[String]): Seq[String] = pk.keys.filter(rowCols)
  /** Inserts land write-ordered, equality-delete files key-sorted. */
  def sortTail(rowCols: Set[String]): Seq[String] = pk.keys.filter(rowCols)

  val stagingTags = ("pkdelta", "pkeqdel")
  val dirName = PkTables.EqDeleteDirName
  val filePrefix = "eqdelete"
  /** The key columns, plus the retired row's `'sequence.field'` value
    * ([[PkTables.DelFieldCol]]) when the table declares one. */
  def fileSchema: StructType =
    StructType(PkTables.keyFileSchema(tableDir, pk.keys).fields ++
      PkTables.delFieldOf(tableDir, pk).map(f =>
        StructField(PkTables.DelFieldCol, f.dataType, nullable = true)).toSeq)
  def router(fileSchema: StructType, timeZoneId: String): DeleteRouter =
    PkDml.KeyRouter(pk.keys ++ pk.seqField, fileSchema, spec, timeZoneId)
  def validate(op: String, referenced: Seq[String], baseFiles: Seq[String],
               wroteDeletes: Boolean): Seq[String] => Unit =
    if (wroteDeletes) PkTables.validateNoNewData(op, baseFiles) else _ => ()
  val producesChangelog = true
}

private[catalog] object PkDml {

  /** A delete's target dir is the key's own partition dir
    * ([[PartitionSpec.dirOf]] over the row id — the data writer's
    * placement); it writes the row-id values in `keySchema` order. */
  final case class KeyRouter(
      keys: Seq[String],
      keySchema: StructType,
      spec: Seq[PartitionSpec.Field],
      timeZoneId: String) extends DeleteRouter {

    def newTask(): DeleteRouting = new DeleteRouting {
      // projections over the rowId row, resolved from its own schema
      // on first use (field order declared = pk order, but the schema
      // is authoritative)
      private var keyProj: UnsafeProjection = null
      private var dirOf: InternalRow => String = null

      def route(id: InternalRow): (String, InternalRow) = {
        if (keyProj == null) {
          val schema = id match {
            case p: org.apache.spark.sql.catalyst.ProjectingInternalRow =>
              p.schema
            case _ => StructType(keys.zip(keySchema.fields).map {
              case (k, f) => f.copy(name = k) })
          }
          def ref(k: String): BoundReference = {
            val i = schema.fieldIndex(k)
            BoundReference(i, schema(i).dataType, schema(i).nullable)
          }
          keyProj = UnsafeProjection.create(keys.map(ref))
          dirOf = PartitionSpec.dirOf(spec, ref, timeZoneId)
        }
        // keyProj returns a REUSED UnsafeRow
        (dirOf(id), keyProj(id))
      }
      def referenced: Seq[String] = Seq.empty
    }
  }
}

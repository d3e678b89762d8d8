package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Builder for MERGE on a [[DeltaLikeTable]], mirroring the surface the
  * reference uses (`/root/reference/sparkcode/titanic_example_delta.py:43-51`:
  * `merge(...).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()`)
  * plus the adjacent Delta clauses (conditional update/delete/insert maps).
  *
  * Execution (SURVEY.md §3.E2) is three phases of plain DataFrame ops —
  * no Catalyst extension needed, and every phase is distributed:
  *
  *  1. *Touched-file pruning*: a LEFT SEMI join of target against source
  *     on the merge condition finds the files containing any matched row;
  *     only those are rewritten — at 100 TB the rewrite cost is bound by
  *     the match footprint, not table size. Source is typically small →
  *     Spark broadcasts it; otherwise it's a shuffle join that scales out.
  *  2. *Rewrite*: rows of touched files FULL OUTER joined with source on
  *     the condition; per-column `when` chains apply the clauses in
  *     declaration order (first-match-wins, like Delta). A cardinality
  *     guard rejects >1 source match per target row (output would be
  *     nondeterministic otherwise).
  *  3. *Commit*: remove(touched) + add(new files) as one log version.
  */
final class MergeBuilder private[tables] (
    table: DeltaLikeTable,
    targetAlias: Option[String],
    source: DataFrame,
    condition: Column) {

  private sealed trait Clause { def cond: Option[Column] }
  private case class UpdateAll(cond: Option[Column]) extends Clause
  private case class UpdateSet(cond: Option[Column], set: Map[String, Column]) extends Clause
  private case class Delete(cond: Option[Column]) extends Clause
  private case class InsertAll(cond: Option[Column]) extends Clause
  private case class InsertSet(cond: Option[Column], set: Map[String, Column]) extends Clause

  private var matchedClauses: Vector[Clause] = Vector.empty
  private var notMatchedClauses: Vector[Clause] = Vector.empty
  private var bySourceClauses: Vector[Clause] = Vector.empty

  def whenMatchedUpdateAll(): MergeBuilder = { matchedClauses :+= UpdateAll(None); this }
  def whenMatchedUpdateAll(condition: Column): MergeBuilder = {
    matchedClauses :+= UpdateAll(Some(condition)); this
  }
  def whenMatchedUpdate(set: Map[String, Column]): MergeBuilder = {
    matchedClauses :+= UpdateSet(None, set); this
  }
  def whenMatchedUpdate(condition: Column, set: Map[String, Column]): MergeBuilder = {
    matchedClauses :+= UpdateSet(Some(condition), set); this
  }
  def whenMatchedDelete(): MergeBuilder = { matchedClauses :+= Delete(None); this }
  def whenMatchedDelete(condition: Column): MergeBuilder = {
    matchedClauses :+= Delete(Some(condition)); this
  }
  def whenNotMatchedInsertAll(): MergeBuilder = { notMatchedClauses :+= InsertAll(None); this }
  def whenNotMatchedInsertAll(condition: Column): MergeBuilder = {
    notMatchedClauses :+= InsertAll(Some(condition)); this
  }
  def whenNotMatchedInsert(set: Map[String, Column]): MergeBuilder = {
    notMatchedClauses :+= InsertSet(None, set); this
  }
  def whenNotMatchedInsert(condition: Column, set: Map[String, Column]): MergeBuilder = {
    notMatchedClauses :+= InsertSet(Some(condition), set); this
  }

  /** Target rows with NO source match (Delta's `WHEN NOT MATCHED BY
    * SOURCE`): update in place or delete — the sync-to-source merge
    * shape (`MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE` makes
    * the target an exact mirror). Conditions may reference target
    * columns only — there is no source row to read.
    */
  def whenNotMatchedBySourceUpdate(set: Map[String, Column]): MergeBuilder = {
    bySourceClauses :+= UpdateSet(None, set); this
  }
  def whenNotMatchedBySourceUpdate(condition: Column, set: Map[String, Column]): MergeBuilder = {
    bySourceClauses :+= UpdateSet(Some(condition), set); this
  }
  def whenNotMatchedBySourceDelete(): MergeBuilder = {
    bySourceClauses :+= Delete(None); this
  }
  def whenNotMatchedBySourceDelete(condition: Column): MergeBuilder = {
    bySourceClauses :+= Delete(Some(condition)); this
  }

  private var evolveSchema = false

  /** Source columns absent from the target are APPENDED to the table
    * schema by this merge (Delta's `withSchemaEvolution`): existing rows
    * read them as null, UPDATE ALL / INSERT ALL carry the source values.
    * Without this call, extra source columns are ignored.
    */
  def withSchemaEvolution(): MergeBuilder = { evolveSchema = true; this }

  def execute(): Unit = {
    val spark = table.spark
    val snap = table.log.snapshot()
    // a GENERATED ALWAYS identity column can neither be supplied by the
    // source (ALWAYS) nor omitted (insert needs every column) — MERGE
    // inserts into such tables are rejected rather than silently
    // breaking the uniqueness contract
    val alwaysIdentity = snap.identityColumns.collect {
      case (c, enc) if DeltaLikeTable.decodeIdentity(enc)._1.always => c
    }
    if (alwaysIdentity.nonEmpty && notMatchedClauses.nonEmpty)
      throw new UnsupportedOperationException(
        s"MERGE INSERT into a table with GENERATED ALWAYS identity " +
          s"column(s) ${alwaysIdentity.mkString(", ")} is not supported; " +
          "append the new rows with write(mode=append) instead")
    // schema evolution: source-only columns append (nullable) to the
    // table schema; the target scan presents them as null so the
    // when-chain below needs no special cases
    val newFields: Seq[org.apache.spark.sql.types.StructField] =
      if (!evolveSchema) Seq.empty
      else source.schema.fields.toSeq
        .filterNot(f => snap.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        .map { f =>
          // a literal NULL source column has NullType, which parquet
          // cannot store — fail fast here, not after the rewrite ran
          require(f.dataType != org.apache.spark.sql.types.NullType,
            s"cannot evolve schema with untyped NULL column '${f.name}': " +
              "cast the source column to a concrete type")
          f.copy(nullable = true)
        }
    val evolved = org.apache.spark.sql.types.StructType(
      snap.schema.fields.toSeq ++ newFields)
    val cols = evolved.fieldNames.toSeq

    val tPresent = "__graft_t_present"
    val sPresent = "__graft_s_present"

    val rowIdxCol = "__graft_row_idx"
    val targetBase0 = DeltaLikeTable.readSnapshotWithMeta(
        spark, snap, Some(DeltaLikeTable.FileCol), Some(rowIdxCol))
      .withColumn(rowIdxCol, col(rowIdxCol).cast("string"))
      .withColumn(tPresent, lit(true))
    val targetBase = newFields.foldLeft(targetBase0)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    // Bound-attribute handles (df("c")) survive the join regardless of
    // aliasing, so UPDATE ALL / INSERT ALL never hit ambiguous names.
    val target = targetAlias.fold(targetBase)(targetBase.as(_))
    val src = source.withColumn(sPresent, lit(true))

    def clauseGate(c: Clause): Column = c.cond.getOrElse(lit(true))

    // phase 1: touched files — files with matched rows, plus (when
    // by-source clauses exist) files with unmatched rows some by-source
    // condition accepts, in one collect. An unconditional by-source
    // DELETE therefore touches every file containing an unmatched row —
    // that rewrite footprint is inherent to the clause, not a pruning miss.
    val matchedRows = target.join(src, condition, "left_semi")
    val touched = DeltaLikeTable.touchedFiles(snap, "MERGE",
      if (bySourceClauses.isEmpty) matchedRows
      else matchedRows.union(target.join(src, condition, "left_anti")
        .where(bySourceClauses.map(clauseGate).reduce(_ || _))))

    // rows that can possibly match live only in touched files
    val touchedRows = DeltaLikeTable.filterToFiles(target, touched)

    // phase 2a: cardinality guard. (file, row_index) identifies a physical
    // target row uniquely without caching or driver-side ids.
    if (matchedClauses.nonEmpty && touched.nonEmpty) {
      val rowId = concat_ws("#",
        col(DeltaLikeTable.FileCol), col(rowIdxCol))
      val dup = touchedRows.withColumn("__graft_rid", rowId)
        .join(src, condition, "inner")
        .groupBy(col("__graft_rid")).count()
        .where(col("count") > 1).limit(1).count()
      if (dup > 0)
        throw new IllegalStateException(
          "MERGE cardinality violation: a target row matches multiple source rows")
    }

    // phase 2b: rewrite via FULL OUTER + first-match-wins when-chains
    val joined = touchedRows.join(src, condition, "full_outer")
    val isMatched = col(tPresent).isNotNull && col(sPresent).isNotNull
    val isSourceOnly = col(tPresent).isNull && col(sPresent).isNotNull
    val isTargetOnly = col(tPresent).isNotNull && col(sPresent).isNull

    def chain(seed: Column)(f: (Column, Clause, Column) => Column): Column = {
      var e = seed
      matchedClauses.foreach(cl => e = f(e, cl, isMatched && clauseGate(cl)))
      notMatchedClauses.foreach(cl => e = f(e, cl, isSourceOnly && clauseGate(cl)))
      bySourceClauses.foreach(cl => e = f(e, cl, isTargetOnly && clauseGate(cl)))
      e
    }

    val keepExpr = chain(when(lit(false), lit(true))) { (e, cl, hit) =>
      e.when(hit, lit(cl match { case Delete(_) => false; case _ => true }))
    // no clause fired: keep target rows (matched-no-clause and target-only),
    // drop source-only rows
    }.otherwise(col(tPresent).isNotNull)

    def clauseValue(cl: Clause, c: String): Column = cl match {
      case UpdateAll(_) | InsertAll(_) =>
        require(source.columns.contains(c), s"MERGE *ALL requires source column '$c'")
        src(c)
      case UpdateSet(_, set) => set.getOrElse(c, target(c))
      case InsertSet(_, set) => set.getOrElse(c, lit(null).cast(evolved(c).dataType))
      case Delete(_)         => target(c) // row dropped; value irrelevant
    }

    val outCols = cols.map { c =>
      chain(when(lit(false), lit(null))) { (e, cl, hit) =>
        e.when(hit, clauseValue(cl, c))
      }.otherwise(target(c)).cast(evolved(c).dataType).as(c)
    }

    // generated columns are recomputed over the FINAL values, whatever
    // the clause chain produced (insert without them, explicit set, ...)
    // — the stored invariant survives every merge shape
    val rewritten = DeltaLikeTable.checked(
      joined.where(keepExpr).select(outCols: _*), snap)

    // phase 3: stage new files + atomic log commit (partition layout of
    // the table is preserved through the rewrite). Evolved columns get
    // fresh physical names when a mapping is active (same
    // no-resurrection rule as the write path); the MetaData action that
    // records them makes the commit fail fast instead of rebasing.
    val meta =
      if (newFields.isEmpty) Seq.empty
      else Seq(snap.toMetaData(schemaDdl = evolved.toDDL,
        columnMapping =
          if (snap.columnMapping.isEmpty) snap.columnMapping
          else snap.columnMapping ++ newFields.map(f =>
            f.name -> DeltaLikeTable.freshPhysicalName(f.name))))
    DeltaLikeTable.rewriteFiles(table.log, snap, "MERGE",
      touched.map(_._2), rewritten, meta)
  }
}

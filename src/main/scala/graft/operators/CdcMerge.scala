package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, StructType}

/** CDC MERGE semantics as a pure DataFrame transform.
  *
  * Reproduces the reference's generated `MERGE INTO` exactly
  * (reference: lambda/handler.py:563-614):
  *   - `WHEN MATCHED AND s.Op IN (deleteVals) THEN DELETE`
  *   - `WHEN MATCHED THEN UPDATE SET <non-key, non-meta cols> = s.<col>`
  *   - `WHEN NOT MATCHED THEN INSERT (<non-meta cols>)` — note: the
  *     reference renders *no* predicate on the NOT MATCHED branch, so an
  *     unmatched delete-row is inserted; that quirk is preserved.
  *
  * Scale design (the staging side of a CDC merge is one file / one
  * micro-batch — small; the target is the 100 TB side): the plan must
  * never shuffle the target. A naive `full_outer` join cannot use a
  * broadcast hash join in Spark, so the merge is decomposed into
  * broadcast-only pieces:
  *
  *   survivors = target LEFT OUTER BHJ broadcast(staging)   — 1 full scan
  *               (matched+delete filtered out; matched+update rewritten)
  *   matchedKeys = target(keys) LEFT SEMI BHJ broadcast(stagingKeys)
  *               — 1 keys-only scan (column-pruned at the parquet reader)
  *   inserts   = staging LEFT ANTI BHJ broadcast(matchedKeys)
  *   result    = survivors UNION ALL inserts
  *
  * Every join broadcasts the small side; zero exchanges of the target.
  * For large staging sides (backfill), pass `broadcastStaging = false`
  * and Catalyst/AQE picks shuffle joins.
  */
object CdcMerge {

  /** Columns excluded from UPDATE/INSERT sets (reference: handler.py:582-586). */
  val MetaCols: Set[String] = Set("Op", "load_timestamp", "ingestion_seq")

  /** Result of merge-column preparation (reference: handler.py:876-928). */
  final case class MergePlan(
      cols: Seq[String],
      removedDecimalCols: Seq[String])

  /** Intersection + decimal gate: the MERGE column set is
    * `production ∩ staging` in production order; DECIMAL/NUMERIC columns
    * whose precision/scale differ between the two sides are dropped, and
    * a dropped primary key is a hard error
    * (reference: handler.py:879-916; SURVEY §1.2 "decimal gating rule").
    */
  def prepareMergeColumns(
      target: StructType,
      staging: StructType,
      keys: Seq[String]): MergePlan = {
    val stagingTypes = staging.fields.map(f => f.name -> f.dataType).toMap
    val common = target.fields.filter(f => stagingTypes.contains(f.name))
    if (common.isEmpty)
      throw new IllegalArgumentException("No common columns between staging and production table")

    val (kept, removed) = common.partition { f =>
      (f.dataType, stagingTypes(f.name)) match {
        case (p: DecimalType, s) => p == s
        case _                   => true
      }
    }
    if (kept.isEmpty)
      throw new IllegalArgumentException("No compatible columns after filtering DECIMALs")

    val keptNames = kept.map(_.name)
    val missingKeys = keys.filterNot(keptNames.contains)
    if (missingKeys.nonEmpty) {
      val decimalIssues = removed.map(_.name).filter(missingKeys.contains)
      if (decimalIssues.nonEmpty)
        throw new IllegalArgumentException(
          s"Primary key(s) ${decimalIssues.mkString(",")} have DECIMAL precision mismatch")
      else
        throw new IllegalArgumentException(
          s"Primary keys ${missingKeys.mkString(",")} not found in compatible columns")
    }
    MergePlan(keptNames.toSeq, removed.map(_.name).toSeq)
  }

  /** True when the delete branch is active: column/values configurable and
    * the delete column present in staging
    * (reference: handler.py:921-928; CDC_DELETE_COLUMN/CDC_DELETE_VALUES).
    */
  def deleteActive(
      staging: StructType,
      deleteCol: String = "Op",
      deleteVals: Seq[String] = Seq("D")): Boolean =
    deleteCol.nonEmpty && deleteVals.nonEmpty && staging.fieldNames.contains(deleteCol)

  private val StagingPrefix = "__s_"

  /** Apply the MERGE. `staging` must already be deduplicated (unique keys).
    *
    * @param mergeCols        columns participating in the merge (from
    *                         [[prepareMergeColumns]]); key columns included
    * @param deleteOn         Some((col, values)) ⇒ matched staging rows with
    *                         `col IN values` delete the target row;
    *                         None ⇒ no delete branch
    * @param broadcastStaging hint the staging side (and derived key sets)
    *                         as broadcast — correct for CDC-file-sized
    *                         batches; disable for huge backfills
    * @param persistStaging   materialize the staging plan once (it feeds
    *                         three joins). Callers that already persist
    *                         the batch themselves — notably the bucketed
    *                         store inside a long-running stream, where an
    *                         un-released persist per micro-batch would
    *                         accumulate without bound — pass false and
    *                         own the lifecycle.
    * @param insertUnmatchedDeletes keep the reference's NOT MATCHED
    *                         insert of delete rows; false makes a delete
    *                         act only on a matched row (a MoR drain,
    *                         whose unmatched deletes cancel side inserts)
    * @return the post-merge target content, with the target's schema
    */
  def merge(
      target: DataFrame,
      staging: DataFrame,
      keys: Seq[String],
      mergeCols: Seq[String],
      deleteOn: Option[(String, Seq[String])],
      broadcastStaging: Boolean = true,
      persistStaging: Boolean = true,
      insertUnmatchedDeletes: Boolean = true): DataFrame = {

    val targetSchema = target.schema
    val targetCols = targetSchema.fieldNames.toSeq
    val updateCols = mergeCols.filterNot(keys.contains).filterNot(MetaCols.contains)
    val insertCols = mergeCols.filterNot(MetaCols.contains)

    // The staging plan is referenced by three joins; a CDC batch is small,
    // so materialize it once instead of recomputing its lineage per use.
    // (For the non-broadcast/backfill path, leave lineage to Catalyst.)
    val stagingOnce =
      if (broadcastStaging && persistStaging) staging.persist() else staging

    def hinted(df: DataFrame): DataFrame = if (broadcastStaging) broadcast(df) else df

    // Staging projected to merge-relevant columns, non-key columns prefixed
    // to avoid ambiguity after the name-based equi-join.
    val deleteColNames = deleteOn.map(_._1).toSeq
    val neededStaging = (mergeCols ++ deleteColNames).distinct
    val sRen = stagingOnce
      .select(neededStaging.map(col): _*)
      .select(neededStaging.map { c =>
        if (keys.contains(c)) col(c) else col(c).as(StagingPrefix + c)
      }: _*)
      .withColumn(StagingPrefix + "exists", lit(true))

    val deleteOnRenamed: Option[Column] = deleteOn.map { case (dc, vals) =>
      val name = if (keys.contains(dc)) dc else StagingPrefix + dc
      col(name).isin(vals: _*)
    }

    // Scan 1: survivors — untouched target rows + matched updates; matched
    // deletes filtered. BHJ LeftOuter with build side = broadcast staging.
    val joined = target.join(hinted(sRen), keys, "left_outer")
    val matched = coalesce(col(StagingPrefix + "exists"), lit(false))
    val isDelete = deleteOnRenamed
      .map(d => matched && coalesce(d, lit(false)))
      .getOrElse(lit(false))
    val survivors = joined
      .filter(!isDelete)
      .select(targetCols.map { c =>
        if (updateCols.contains(c))
          when(matched, col(StagingPrefix + c)).otherwise(col(c)).as(c)
        else col(c)
      }: _*)

    // Scan 2 (keys-only, column-pruned): which staged keys matched?
    val stagingKeys = stagingOnce.select(keys.map(col): _*)
    val matchedKeys = target.select(keys.map(col): _*)
      .join(hinted(stagingKeys), keys, "left_semi")

    // Inserts: staged rows whose key is absent from the target — including
    // unmatched delete-rows (reference renders no NOT MATCHED predicate)
    // unless the caller turned that quirk off.
    val insertable = deleteOn match {
      case Some((dc, vals)) if !insertUnmatchedDeletes =>
        stagingOnce.filter(!coalesce(col(dc).isin(vals: _*), lit(false)))
      case _ => stagingOnce
    }
    val inserts = insertable
      .join(hinted(matchedKeys), keys, "left_anti")
      .select(targetCols.map { c =>
        if (insertCols.contains(c)) col(c).cast(targetSchema(c).dataType).as(c)
        else lit(null).cast(targetSchema(c).dataType).as(c)
      }: _*)

    survivors.unionByName(inserts)
  }

  /** One-call convenience: prepare columns, build delete condition, merge. */
  def apply(
      target: DataFrame,
      staging: DataFrame,
      keys: Seq[String],
      deleteCol: String = "Op",
      deleteVals: Seq[String] = Seq("D"),
      broadcastStaging: Boolean = true,
      persistStaging: Boolean = true,
      insertUnmatchedDeletes: Boolean = true): DataFrame = {
    val plan = prepareMergeColumns(target.schema, staging.schema, keys)
    val del =
      if (deleteActive(staging.schema, deleteCol, deleteVals)) Some((deleteCol, deleteVals))
      else None
    merge(target, staging, keys, plan.cols, del, broadcastStaging, persistStaging,
      insertUnmatchedDeletes)
  }
}

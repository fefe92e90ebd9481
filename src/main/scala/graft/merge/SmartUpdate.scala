package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Diff-merge with change-data-capture ("smart update").
  *
  * Reference contract (/root/reference/core_local/azure_data_tracker.py:27-165,
  * validated by /root/reference/tests/test_azure_connector.py:196-247):
  * given an incoming batch and the existing table, keyed on `date` within a
  * dataset:
  *   - key only in incoming              -> NEW row
  *   - key in both, any tracked value field differing by > 0.001 (strict),
  *     with both sides present and non-NaN  -> UPDATED row, plus one
  *     REVISION record per changed field (dataset, data_date, value_field,
  *     old_value, new_value, revision_date)
  *   - otherwise                          -> UNCHANGED (never rewritten)
  *   - rows only in the store             -> untouched (no deletes, ever)
  *   - duplicate keys in the incoming batch: LAST occurrence wins (the
  *     reference builds a dict keyed by date — azure_data_tracker.py:72-84).
  *
  * Spark-first design: a single keyed full-outer join classifies every row in
  * one distributed pass (the reference does a full scan into a driver dict —
  * its own comments flag that as the scale limit; here the join shuffles on
  * the key, broadcast-joins automatically when one side is small). The join
  * reads exactly the stored rows the caller hands it: a caller that can
  * bound what a batch touches prunes before the call (the partitioned
  * table layout reads only the batch's years, so a merge of a small recent
  * batch never reads years of history — the scale limitation the reference
  * flags at azure_data_tracker.py:57-59). The merged rows come out of the
  * same pass, so writing them re-reads neither the store nor the source.
  * Per-field revision fan-out is inline_outer over an array of structs (the
  * relational form of the reference's per-field loop), not a UDTF.
  */
object SmartUpdate {

  /** Absolute float tolerance below which a change is NOT a revision
    * (strict '>', azure_data_tracker.py:113). */
  val Tolerance = 0.001

  private def inc(f: String) = col(s"__inc_$f")
  private def ex(f: String) = col(s"__ex_$f")

  /** A field counts as changed iff both sides are present, finite, castable,
    * and differ by more than the tolerance (NaN/null on either side -> skip,
    * azure_data_tracker.py:97-113,128-130). */
  private def changedField(f: String): Column = {
    val n = inc(f).try_cast("double")
    val o = ex(f).try_cast("double")
    n.isNotNull && o.isNotNull && !isnan(n) && !isnan(o) &&
      abs(n - o) > Tolerance
  }

  /** Last-wins dedupe of the incoming batch on the key, matching the
    * reference's dict-by-date build (azure_data_tracker.py:72-84). Order
    * within the batch comes from `orderCol` when given (e.g. a source row
    * index); otherwise any single row per key is kept (max_by over a
    * monotonic id would not be deterministic across partitionings, so
    * callers that care about WHICH duplicate wins must pass an order). */
  def dedupeLastWins(incoming: DataFrame, keyCol: String,
                     orderCol: Option[String] = None): DataFrame =
    orderCol match {
      case Some(o) =>
        val others = incoming.columns.filterNot(_ == keyCol)
        incoming.groupBy(col(keyCol)).agg(
          max_by(struct(others.toSeq.map(col): _*), col(o)).as("__s"))
          .select(col(keyCol) +: others.toSeq.map(f => col(s"__s.$f").as(f)): _*)
      case None => incoming.dropDuplicates(keyCol)
    }

  /** Classify incoming vs existing. Returns one row per key present in
    * either side with column `status` in {new, updated, unchanged,
    * existing_only}, incoming value fields under their own names (existing
    * values for existing_only rows), and per-field `<f>_changed` flags.
    * Assumes incoming is already deduped on the key (see dedupeLastWins).
    */
  def classify(incoming: DataFrame, existing: DataFrame, keyCol: String,
               valueFields: Seq[String]): DataFrame =
    joined(incoming, existing, keyCol, valueFields).select(
      col(keyCol) +:
        col("status") +:
        (valueFields.map(f => coalesce(inc(f), ex(f)).as(f)) ++
          valueFields.map(f => coalesce(changedField(f), lit(false)).as(s"${f}_changed")) ++
          valueFields.map(f => ex(f).try_cast("double").as(s"${f}_old")) ++
          valueFields.map(f => inc(f).try_cast("double").as(s"${f}_new"))): _*)

  /** The keyed full-outer join behind [[classify]] and [[diff]]: one row
    * per key with `status`, the presence flags and each side's values
    * as-is under `__inc_<f>` / `__ex_<f>`. */
  private def joined(incoming: DataFrame, existing: DataFrame, keyCol: String,
                     valueFields: Seq[String]): DataFrame = {
    val incP = incoming.select(
      col(keyCol) +: lit(true).as("__inc_present") +:
        valueFields.map(f => col(f).as(s"__inc_$f")): _*)
    val exP = existing.select(
      col(keyCol) +: lit(true).as("__ex_present") +:
        valueFields.map(f => col(f).as(s"__ex_$f")): _*)
    val anyChanged = valueFields.map(changedField)
      .reduceOption(_ || _).getOrElse(lit(false))
    incP.join(exP, Seq(keyCol), "full_outer").withColumn("status",
      when(col("__ex_present").isNull, "new")
        .when(col("__inc_present").isNull, "existing_only")
        .when(anyChanged, "updated")
        .otherwise("unchanged"))
  }

  /** Revision records from a [[joined]] result: one row per
    * (updated key, changed field), with old and new values — the CDC audit
    * trail (azure_data_tracker.py:115-127). Fan-out is inline_outer over an
    * array of per-field structs built with the Column API (no SQL string
    * interpolation — field names with quotes/spaces/backticks are safe).
    * `revisionTime` is injected (never utcnow inside the plan) so runs are
    * deterministic and oracle-checkable (SURVEY.md §7.5 risk 3). */
  private def revisionsOf(joinedRows: DataFrame, keyCol: String,
                          valueFields: Seq[String], dataset: String,
                          revisionTime: java.sql.Timestamp): DataFrame = {
    val perField = array(valueFields.map(f => struct(
      lit(f).as("value_field"),
      changedField(f).as("changed"),
      ex(f).try_cast("double").as("old_value"),
      inc(f).try_cast("double").as("new_value"))): _*)
    joinedRows.filter(col("status") === "updated")
      .select(col(keyCol).as("data_date"), inline_outer(perField))
      .filter(col("changed"))
      .select(
        lit(dataset).as("dataset"),
        col("data_date"), col("value_field"), col("old_value"), col("new_value"),
        lit(revisionTime).as("revision_date"))
  }

  /** Standalone revisions (classify + fan-out), kept for direct use. */
  def revisions(incoming: DataFrame, existing: DataFrame, keyCol: String,
                valueFields: Seq[String], dataset: String,
                revisionTime: java.sql.Timestamp): DataFrame =
    revisionsOf(joined(incoming, existing, keyCol, valueFields),
      keyCol, valueFields, dataset, revisionTime)

  /** Result counts of a merge, mirroring the reference's return value. */
  case class MergeCounts(newRows: Long, updated: Long, revisions: Long)

  /** One classified batch: its counts, how many incoming rows it held,
    * its revision rows, the keys it adds or replaces, and the merged rows:
    * every stored row the diff read, with each new or updated key taking
    * its incoming row and every other key keeping its stored row. */
  final case class Diff(counts: MergeCounts, incomingRows: Long,
                        revisions: DataFrame, changedKeys: DataFrame,
                        merged: DataFrame)

  /** Classify a deduped batch against the stored rows it can touch and
    * derive everything a write needs from ONE checkpointed join, which
    * holds each key's incoming and stored values: the three counts and the
    * incoming-row count (a single aggregate action), the revision log, the
    * new-or-updated keys and the merged rows.
    *
    * localCheckpoint, not cache: the joined rows back an RDD with NO file
    * source in the plan, so (a) every frame of the Diff stays correct
    * after the caller overwrites the very files `existing` read — `merged`
    * is exactly what gets written over them, and a cached plan would be
    * refreshed/recomputed from the post-merge table (empty CDC) or chase
    * deleted pre-swap files on eviction; (b) writing `merged` re-reads
    * neither the store nor the incoming frame's source; and (c) nothing is
    * registered with the CacheManager, so per-dataset merges don't
    * accumulate cache entries the caller can't release (the RDD is GC'd
    * with the frame).
    *
    * PARITY NOTE: an updated key takes the incoming row VERBATIM —
    * including fields whose incoming value is null/NaN (which changedField
    * deliberately skips, so they are neither counted nor logged as
    * revisions). The reference behaves identically: it upserts the FULL
    * incoming entity for any changed record (azure_data_tracker.py:75-84
    * copies every field of the row into the entity; batch_upsert merges
    * every present property), so an incoming NaN rides along whenever any
    * OTHER field changed. Callers wanting keep-existing-on-missing
    * semantics should coalesce the incoming frame against the store first;
    * the engine preserves the reference's contract as-is. */
  def diff(incoming: DataFrame, existing: DataFrame, keyCol: String,
           valueFields: Seq[String], dataset: String,
           revisionTime: java.sql.Timestamp): Diff = {
    val j = joined(incoming, existing, keyCol, valueFields).localCheckpoint(true)
    val changed = col("status").isin("new", "updated")
    // one action for every count: revisions = total changed fields
    val changedSum = valueFields.map(f =>
      sum(changedField(f).cast("long"))).reduceOption(_ + _)
      .getOrElse(lit(0L))
    val row = j.agg(
      sum(when(col("status") === "new", 1L).otherwise(0L)).as("n"),
      sum(when(col("status") === "updated", 1L).otherwise(0L)).as("u"),
      changedSum.as("r"),
      count(col("__inc_present")).as("i")).head()
    def g(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    Diff(MergeCounts(g(0), g(1), g(2)), g(3),
      revisionsOf(j, keyCol, valueFields, dataset, revisionTime),
      j.filter(changed).select(col(keyCol)),
      j.select(col(keyCol) +: valueFields.map(f =>
        when(changed, inc(f)).otherwise(ex(f)).as(f)): _*))
  }

  /** Full merge: dedupe, diff against `existing`, and return (mergedTable,
    * revisions, counts). The merged table is every existing row, with new
    * and updated keys taking their incoming row — unchanged rows keep
    * their EXISTING values/rows (never rewritten semantically). */
  def merge(incoming0: DataFrame, existing: DataFrame, keyCol: String,
            valueFields: Seq[String], dataset: String,
            revisionTime: java.sql.Timestamp)
      : (DataFrame, DataFrame, MergeCounts) = {
    val d = diff(dedupeLastWins(incoming0, keyCol), existing, keyCol,
      valueFields, dataset, revisionTime)
    (d.merged, d.revisions, d.counts)
  }
}

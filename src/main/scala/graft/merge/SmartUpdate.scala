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
  * the key, broadcast-joins automatically when one side is small). Before the
  * join the EXISTING side is pruned to the incoming batch's key range — the
  * min/max predicate reaches the parquet scan's row-group stats, so a merge
  * of a small recent batch never reads years of history (fixes the scale
  * limitation the reference flags at azure_data_tracker.py:57-59).
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

  /** Prune the existing side to the incoming batch's key range before a
    * diff join. Everything outside [min(incoming.key), max(incoming.key)] is
    * by definition untouched by the merge; the BETWEEN predicate pushes to
    * the parquet scan. Costs one tiny aggregate action on incoming. */
  def pruneToKeyRange(existing: DataFrame, incoming: DataFrame,
                      keyCol: String): DataFrame = {
    val r = incoming.agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"))
      .head()
    if (r.isNullAt(0)) existing.limit(0)
    else existing.filter(col(keyCol).between(lit(r.get(0)), lit(r.get(1))))
  }

  /** Classify incoming vs existing. Returns one row per key present in
    * either side with column `status` in {new, updated, unchanged,
    * existing_only}, incoming value fields under their own names (existing
    * values for existing_only rows), and per-field `<f>_changed` flags.
    * Assumes incoming is already deduped on the key (see dedupeLastWins).
    */
  def classify(incoming: DataFrame, existing: DataFrame, keyCol: String,
               valueFields: Seq[String]): DataFrame = {
    val incP = incoming.select(
      col(keyCol) +: lit(true).as("__inc_present") +:
        valueFields.map(f => col(f).as(s"__inc_$f")): _*)
    val exP = existing.select(
      col(keyCol) +: lit(true).as("__ex_present") +:
        valueFields.map(f => col(f).as(s"__ex_$f")): _*)
    val j = incP.join(exP, Seq(keyCol), "full_outer")
    val anyChanged = valueFields.map(changedField)
      .reduceOption(_ || _).getOrElse(lit(false))
    val status =
      when(col("__ex_present").isNull, "new")
        .when(col("__inc_present").isNull, "existing_only")
        .when(anyChanged, "updated")
        .otherwise("unchanged")
    j.select(
      col(keyCol) +:
        status.as("status") +:
        (valueFields.map(f => coalesce(inc(f), ex(f)).as(f)) ++
          valueFields.map(f => coalesce(changedField(f), lit(false)).as(s"${f}_changed")) ++
          valueFields.map(f => ex(f).try_cast("double").as(s"${f}_old")) ++
          valueFields.map(f => inc(f).try_cast("double").as(s"${f}_new"))): _*)
  }

  /** Revision records from a classify() result: one row per
    * (updated key, changed field), with old and new values — the CDC audit
    * trail (azure_data_tracker.py:115-127). Fan-out is inline_outer over an
    * array of per-field structs built with the Column API (no SQL string
    * interpolation — field names with quotes/spaces/backticks are safe).
    * `revisionTime` is injected (never utcnow inside the plan) so runs are
    * deterministic and oracle-checkable (SURVEY.md §7.5 risk 3). */
  private def revisionsFromClassified(classified: DataFrame, keyCol: String,
                                      valueFields: Seq[String], dataset: String,
                                      revisionTime: java.sql.Timestamp): DataFrame = {
    val perField = array(valueFields.map(f => struct(
      lit(f).as("value_field"),
      col(s"${f}_changed").as("changed"),
      col(s"${f}_old").as("old_value"),
      col(s"${f}_new").as("new_value"))): _*)
    classified.filter(col("status") === "updated")
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
    revisionsFromClassified(
      classify(incoming, existing, keyCol, valueFields),
      keyCol, valueFields, dataset, revisionTime)

  /** Result counts of a merge, mirroring the reference's return value. */
  case class MergeCounts(newRows: Long, updated: Long, revisions: Long)

  /** One classified batch: its counts, its revision rows, the keys it adds
    * or replaces, and their incoming rows. */
  final case class Diff(keyCol: String, counts: MergeCounts,
                        revisions: DataFrame, changedKeys: DataFrame,
                        fresh: DataFrame) {
    /** `existing` with every new or updated key taking its incoming row;
      * unchanged and untouched rows stay as stored. */
    def applyTo(existing: DataFrame): DataFrame =
      existing.join(changedKeys, Seq(keyCol), "left_anti")
        .select(fresh.columns.toSeq.map(col): _*)
        .unionByName(fresh)
  }

  /** Classify a deduped batch against the existing rows it can touch and
    * derive everything a write needs from ONE checkpointed classify pass:
    * the three counts (a single aggregate action), the revision log, and
    * the new-or-updated keys with their incoming rows.
    *
    * localCheckpoint, not cache: the classified rows back an RDD with NO
    * file source in the plan, so (a) every frame of the Diff stays correct
    * after the caller overwrites the very files `existing` read — a cached
    * plan would be refreshed/recomputed from the post-merge table (empty
    * CDC) or chase deleted pre-swap files on eviction — and (b) nothing is
    * registered with the CacheManager, so per-dataset merges don't
    * accumulate cache entries the caller can't release (the RDD is GC'd
    * with the frame). The counts aggregate makes the diff eager anyway, so
    * this adds no extra action.
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
    val cls = classify(incoming, existing, keyCol, valueFields)
      .localCheckpoint(true)
    val changedKeys = cls.filter(col("status").isin("new", "updated"))
      .select(col(keyCol))
    // one action for all three counts: revisions = total changed flags
    val changedSum = valueFields.map(f =>
      sum(col(s"${f}_changed").cast("long"))).reduceOption(_ + _)
      .getOrElse(lit(0L))
    val row = cls.agg(
      sum(when(col("status") === "new", 1L).otherwise(0L)).as("n"),
      sum(when(col("status") === "updated", 1L).otherwise(0L)).as("u"),
      changedSum.as("r")).head()
    def g(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    Diff(keyCol, MergeCounts(g(0), g(1), g(2)),
      revisionsFromClassified(cls, keyCol, valueFields, dataset, revisionTime),
      changedKeys,
      incoming.join(changedKeys, Seq(keyCol), "left_semi")
        .select(col(keyCol) +: valueFields.map(col): _*))
  }

  /** Full merge: dedupe, classify against the key-range-pruned existing
    * side, and build the post-merge table + revision log. Returns
    * (mergedTable, revisions, counts). The merged table is (existing rows
    * not superseded) ∪ (new) ∪ (updated) — unchanged rows keep their
    * EXISTING values/rows (never rewritten semantically). */
  def merge(incoming0: DataFrame, existing: DataFrame, keyCol: String,
            valueFields: Seq[String], dataset: String,
            revisionTime: java.sql.Timestamp)
      : (DataFrame, DataFrame, MergeCounts) = {
    val incoming = dedupeLastWins(incoming0, keyCol)
    val d = diff(incoming, pruneToKeyRange(existing, incoming, keyCol),
      keyCol, valueFields, dataset, revisionTime)
    (d.applyTo(existing), d.revisions, d.counts)
  }
}

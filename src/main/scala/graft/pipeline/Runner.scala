package graft.pipeline

import graft.Overlap
import graft.config.Registry
import graft.merge.SmartUpdate
import graft.store.{SinkTypes, TableStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.util.Try

/** The §3.1 pipeline lifecycle: per-dataset dataflow -> incremental gate ->
  * smart_update merge -> last-run metadata -> run summary.
  *
  * Mirrors /root/reference/core_local/main_azure.py:53-126,236-329 and the
  * 24h should_update gate (azure_connector.py:598-617; get/set :552-596).
  * Reference ordering quirk preserved: data is processed BEFORE the gate is
  * consulted — the gate only guards the WRITE (main_azure.py:84-116).
  *
  * The wall clock is injected (`now`), never read inside a plan, so runs
  * are deterministic and harness-checkable (SURVEY.md §7.5 risk 3).
  */
object Runner {
  final case class DatasetResult(dataset: String, status: String,
                                 newRows: Long, updated: Long, revisions: Long)

  /** The fan-out formula behind defaultIngestParallelism, factored out so
    * the shape is testable against synthetic session widths (the suite
    * session is not local[32]). Callers parse their sources before
    * runAllParallel, so a slot holds one dataset's merge: driver-side
    * planning plus a few small Spark jobs. The /4 divisor was probed flat
    * across 4/8/16 on local[32] (COVERAGE.md round 15); past min(16, _)
    * concurrent merges only contend on the driver's scheduler. */
  def ingestParallelismFor(defaultParallelism: Int): Int =
    math.min(16, math.max(2, defaultParallelism / 4))

  /** A dataset's merged outcome; its revisions are appended by the run's
    * commit. */
  private final case class Merged(result: DatasetResult,
                                  revisions: Option[DataFrame])
}

final class Runner(spark: SparkSession, store: TableStore, now: () => Timestamp) {
  import spark.implicits._

  // ------------------------------------------------------------- metadata

  /** Driver-side mirror of scrapermetadata (dataset -> last_run,
    * azure_connector.py:563-571). The table is tiny and driver-owned — the
    * reference does point lookups against the store; here we load it once
    * per Runner and write-through on update, saving a table read per
    * dataset (26 reads per run at full inventory). */
  @volatile private var metadataCache: Option[Map[String, Timestamp]] = None

  private def metadata: Map[String, Timestamp] = metadataCache.getOrElse {
    val m =
      if (!store.exists(Registry.MetadataTable)) Map.empty[String, Timestamp]
      else store.read(Registry.MetadataTable).collect()
        .map(r => r.getAs[String]("dataset") -> r.getAs[Timestamp]("last_run"))
        .toMap
    metadataCache = Some(m)
    m
  }

  def getLastRun(dataset: String): Option[Timestamp] = metadata.get(dataset)

  /** should_update: true iff never run or >= `hours` since last run
    * (azure_connector.py:598-617). */
  def shouldUpdate(dataset: String, hours: Int = 24): Boolean =
    getLastRun(dataset) match {
      case None => true
      case Some(last) =>
        (now().getTime - last.getTime) >= hours * 3600L * 1000L
    }

  // ------------------------------------------------------------------ run

  import Runner.{DatasetResult, Merged}

  /** Where a table's rows live. A layout decides only which stored rows a
    * merge reads and how the merged rows are written; everything else is
    * [[merge]]'s. */
  private sealed trait Layout {
    /** Whether [[read]] runs an action over `incoming`: the diff then
      * reads it a second time, so [[merge]] caches it. */
    def readsIncoming: Boolean
    /** The stored rows, at rest, that `incoming` can touch, or None when
      * the layout finds `incoming` empty. */
    def read(table: String, incoming: DataFrame): Option[DataFrame]
    /** Write the diff's merged rows. Called only when the diff changes
      * something: a re-run with nothing new writes NOTHING. */
    def write(d: SmartUpdate.Diff, pol: SinkTypes.MergePolicy): Unit
  }

  /** One file per table, rewritten whole: right for the reference's
    * control-table-sized series. The merge reads the whole table — the
    * rewrite needs every row anyway. */
  private object WholeTable extends Layout {
    val readsIncoming = false
    def read(table: String, incoming: DataFrame): Option[DataFrame] =
      Some(store.readOrEmpty(table, incoming))
    def write(d: SmartUpdate.Diff, pol: SinkTypes.MergePolicy): Unit =
      store.overwrite(pol.tableName, pol.writeCast(d.merged), maxFiles = 1)
  }

  /** `table/__year=YYYY/`: a merge reads only the years the batch touches
    * (directory pruning) and rewrites only the years that gained or
    * changed a row (dynamic partition overwrite), so its cost is
    * O(touched partitions), not O(table). */
  private object YearPartitioned extends Layout {
    private val year = substring(col("date"), 1, 4).cast("int")
    private def years(df: DataFrame) =
      df.select(year).distinct().collect().map(_.getInt(0)).toSeq
    val readsIncoming = true
    def read(table: String, incoming: DataFrame): Option[DataFrame] =
      Some(years(incoming)).filter(_.nonEmpty).map(ys =>
        store.readOrEmpty(table, incoming.withColumn("__year", year))
          .filter(col("__year").isin(ys: _*)))
    def write(d: SmartUpdate.Diff, pol: SinkTypes.MergePolicy): Unit =
      store.overwritePartitions(pol.tableName, pol.writeCast(d.merged
        .withColumn("__year", year)
        .filter(col("__year").isin(years(d.changedKeys): _*))), Seq("__year"))
  }

  /** A dataset's outcome when nothing merged: no_data, skipped or error. */
  private def unmerged(tableName: String, status: String) =
    Merged(DatasetResult(tableName, status, 0, 0, 0), None)

  /** The one merge of one dataset, for every caller and layout: dedupe the
    * incoming frame, the 24 h gate, the declared-type policy, the
    * smart_update diff and the table write. A failure comes back as the
    * Try's failure, never half-applied: the table write is the last step
    * and is atomic.
    *
    * Under an open gate the diff reads the incoming frame once and its
    * incoming-row count tells no_data from a merge; the table write and
    * the revisions come from the diff's checkpoint, so neither re-reads
    * the incoming frame's source. Only a closed gate asks whether the
    * batch is empty, to tell no_data from skipped. A layout whose read
    * also runs an action over the batch gets it cached for the two reads. */
  private def merge(tableName: String, canonical0: DataFrame,
                    valueFields: Seq[String], gateHours: Int,
                    layout: Layout): Try[Merged] = Try {
    if (!shouldUpdate(tableName, gateHours))
      unmerged(tableName, if (canonical0.isEmpty) "no_data" else "skipped")
    else {
      val deduped = SmartUpdate.dedupeLastWins(canonical0, "date")
      val canonical = if (layout.readsIncoming) deduped.cache() else deduped
      try layout.read(tableName, canonical) match {
        case None => unmerged(tableName, "no_data")
        case Some(touched) =>
          // reads normalize declared decimals to the engine's double surface;
          // the write casts back to the declared at-rest types — but ONLY for
          // tables created under the policy (legacy double tables keep their
          // layout), and incoming values are snapped to the declared scale
          // first so sink rounding can never churn the tolerance compare
          val pol = SinkTypes.mergePolicy(touched, tableName,
            !store.exists(tableName), canonical)
          val d = SmartUpdate.diff(pol.incoming, pol.existing, "date",
            valueFields, tableName, now())
          val c = d.counts
          if (d.incomingRows == 0) unmerged(tableName, "no_data")
          else {
            if (c.newRows > 0 || c.updated > 0) layout.write(d, pol)
            Merged(DatasetResult(tableName, "success", c.newRows, c.updated,
              c.revisions), if (c.revisions > 0) Some(d.revisions) else None)
          }
      } finally if (layout.readsIncoming) canonical.unpersist()
    }
  }

  /** The shared writes of a run, applied once and serially: ONE revisions
    * append for every merged dataset and ONE metadata write recording
    * each success's last_run (scrapermetadata, azure_connector.py:563-571). */
  private def commit(merged: Seq[Merged]): Seq[DatasetResult] = {
    val revs = merged.flatMap(_.revisions)
    if (revs.nonEmpty)
      store.append(Registry.RevisionsTable, revs.reduce(_.unionByName(_)),
        maxFiles = 1)
    val successes = merged.map(_.result).filter(_.status == "success")
    if (successes.nonEmpty) {
      val ts = now()
      val m = metadata ++ successes.map(_.dataset -> ts)
      metadataCache = Some(m)
      store.overwrite(Registry.MetadataTable,
        m.toSeq.toDF("dataset", "last_run"), maxFiles = 1)
    }
    merged.map(_.result)
  }

  /** The per-dataset fetch-failure contract (main_azure.py:136-152 +
    * azure_common_scrapers.py:35-64): `parse` turns fetched bytes into the
    * canonical frame; a failed fetch (None) records status "error" for
    * THIS dataset and the run continues — callers loop over datasets and
    * summarize() reports the mixed statuses, exactly the reference's
    * behavior when one source site is down. A site that is "up" but broken
    * (HTTP 200 with an HTML error page where workbook bytes belong) fails
    * in parse() or in the merge, not in fetch — that too is THIS dataset's
    * error, never the run's (main_azure.py wraps each dataset in try/log). */
  def runFetched(tableName: String, fetched: Option[Array[Byte]],
                 parse: Array[Byte] => DataFrame, valueFields: Seq[String],
                 gateHours: Int = 24): DatasetResult =
    commit(Seq(fetched.fold(unmerged(tableName, "error")) { bytes =>
      Try(parse(bytes))
        .flatMap(merge(tableName, _, valueFields, gateHours, WholeTable))
        .getOrElse(unmerged(tableName, "error"))
    })).head

  /** Run one dataset: canonical long frame (date: 'YYYY-MM-DD' string,
    * <value fields>) in, merge + revisions + metadata out. A failing merge
    * throws. */
  def runDataset(tableName: String, canonical0: DataFrame,
                 valueFields: Seq[String], gateHours: Int = 24): DatasetResult =
    commit(Seq(merge(tableName, canonical0, valueFields, gateHours,
      WholeTable).get)).head

  /** Ingest fan-out sized to the session: defaultParallelism/4, within
    * [2, 16]. Each dataset's merge is driver-side work plus a handful of
    * small Spark jobs, so the optimum sits well under the executor thread
    * count: 8 on local[32], with 8-16 flat and 4 ~45% slower (COVERAGE.md,
    * rounds 10 and 16). Past that, concurrent merges contend on the
    * driver's scheduler and the store's commit lock. */
  def defaultIngestParallelism: Int =
    Runner.ingestParallelismFor(spark.sparkContext.defaultParallelism)

  /** §7.6(a): per-dataset PARALLEL execution — the reference's sequential
    * 26-dataset loop (main_azure.py:136-152) becomes overlapped merges
    * ([[graft.Overlap]], [[defaultIngestParallelism]] wide, jobs labeled
    * `ingest: <table>`), because each is a few small Spark jobs the
    * scheduler can interleave. Per-dataset table writes target distinct
    * directories and are safe concurrently; the SHARED writes —
    * datarevisions append, metadata — are applied once, serially, at the
    * end. A dataset whose merge fails records status "error" and the rest
    * of the run — its siblings' revisions and last_run included — still
    * commits. */
  def runAllParallel(datasets: Seq[(String, DataFrame, Seq[String])],
                     gateHours: Int = 24): Seq[DatasetResult] =
    commit(Overlap(spark, defaultIngestParallelism)(
      datasets.map { case (table, df, vf) =>
        s"ingest: $table" -> (() =>
          merge(table, df, vf, gateHours, WholeTable).getOrElse(unmerged(table, "error")))
      }))

  /** Scale path: the same merge with a YEAR-partitioned table layout — the
    * existing side is read with a partition filter on the years the
    * incoming batch touches, and the write replaces only the years that
    * gained or changed a row. Semantics are identical to runDataset (same
    * classify/revisions); rows in untouched years are existing_only by
    * construction. A failing merge throws. */
  def runDatasetPartitioned(tableName: String, canonical0: DataFrame,
                            valueFields: Seq[String],
                            gateHours: Int = 24): DatasetResult =
    commit(Seq(merge(tableName, canonical0, valueFields, gateHours,
      YearPartitioned).get)).head

  /** Fold per-dataset results into the run summary (main_azure.py:267-309)
    * and persist it (S11 — a table here; JSON via df.write.json if a blob
    * sink is wanted). */
  def summarize(results: Seq[DatasetResult], durationSecs: Double): DataFrame = {
    val df = results.toDF()
      .withColumn("run_time", lit(now()))
      .withColumn("duration_seconds", lit(durationSecs))
    store.append("runsummary", df, maxFiles = 1)
    df
  }
}

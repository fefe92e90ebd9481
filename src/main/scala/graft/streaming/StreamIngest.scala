package graft.streaming

import graft.config.Registry
import graft.pipeline.Runner
import graft.store.TableStore
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import java.sql.Timestamp

/** Structured Streaming surface of the engine.
  *
  * The reference is purely batch — its "streaming-ness" is a daily runbook
  * (documentation/deployment_guide.md:123-138) and late/revised data is
  * handled by the batch revision mechanism (SURVEY.md §2.14). This module
  * maps that contract onto Structured Streaming without inventing new
  * semantics:
  *
  *   - `ingest`: readStream -> foreachBatch -> the batch Runner's own
  *     smart_update merge (Trigger.AvailableNow for catch-up runs). Each
  *     micro-batch is a keyed diff-merge with CDC revisions — streaming
  *     upsert with an audit trail, checkpointed for exactly-once effect on
  *     the keyed store.
  *   - `windowedCounts`: event-time tumbling windows with a watermark (the
  *     late-data policy the reference lacks, expressed the Spark way).
  *   - `sessionize`: flatMapGroupsWithState — the custom-state operator for
  *     session building over a user event stream (gap-based), the shape a
  *     training-data pipeline uses for clickstream/session corpora.
  */
object StreamIngest {

  /** One observation of a series, as it arrives on the wire. */
  final case class Obs(date: String, value: Double)

  /** Stream ingest into the keyed store: every micro-batch is one
    * `Runner.runDataset` call — the batch pipeline's own smart_update merge
    * (tolerance, NaN skip, last-wins, revision fan-out, declared-type
    * policy, last_run), so batch and streaming cannot diverge — and a
    * restart replays from the checkpoint into an idempotent keyed merge.
    * gateHours=0 because micro-batch cadence IS the gate; a failing
    * micro-batch fails the query rather than being skipped.
    *
    * This variant rewrites the WHOLE table per batch (read-merge-swap,
    * one output file) — right for the reference's tiny control-table-sized
    * series (26 series x <=1000 rows, where one file per table IS the
    * correct layout), wrong for a large keyed store: use
    * [[ingestPartitioned]] there. `compactRevisionsOver` (opt-in, 0 = off)
    * compacts the revision log in-stream once it exceeds that many files
    * — see [[ingestPartitioned]] for the cadence contract. */
  def ingest(obs: DataFrame, store: TableStore, table: String,
             valueField: String, checkpointDir: String,
             now: () => Timestamp,
             trigger: Trigger = Trigger.AvailableNow(),
             compactRevisionsOver: Int = 0): StreamingQuery =
    mergeStream(obs, store, valueField, checkpointDir, now, trigger,
        compactRevisionsOver) {
      _.runDataset(table, _, Seq(valueField), gateHours = 0)
    }

  /** Stream ingest at the large-table layout: every micro-batch is one
    * `Runner.runDatasetPartitioned` call — the existing side is read with
    * a partition filter on the years the batch touches (directory
    * pruning: untouched years are never read), and only year partitions
    * that actually gained or changed a row are rewritten via dynamic
    * partition overwrite. A micro-batch touching one year reads one year
    * and writes one year: per-batch cost is O(touched partitions), not
    * O(table) — the property that keeps a long-lived stream over a 100 TB
    * keyed store runnable. Merge semantics are identical to `ingest`.
    *
    * Delivery semantics: the KEYED TABLE is exactly-once under replay —
    * the merge is idempotent, so a batch re-run after a crash converges to
    * the same store (proven by the restart spec). The REVISION LOG is the
    * standard foreachBatch caveat: a crash in the window between the
    * table write and the revision append loses that batch's CDC rows on
    * replay (the re-run classifies against the already-merged table). A
    * deployment that needs an exactly-once audit trail should key the
    * append by batchId and dedupe on read.
    *
    * Operational note: each micro-batch with revisions appends ONE small
    * file to the revision log — `compactRevisionsOver` (opt-in, 0 = off)
    * bounds its file count in-stream: after a batch that appended
    * revisions, the log is compacted once its data-file count exceeds the
    * threshold (one directory listing per revising batch; non-revising
    * batches pay nothing — atomic, and compact() merges any append racing
    * it, so readers never observe a partial log and appends are never
    * lost). Deployments that prefer an external cadence leave it 0 and run
    * `TableStore.compact(revisionsTable)` on their own schedule. */
  def ingestPartitioned(obs: DataFrame, store: TableStore, table: String,
                        valueField: String, checkpointDir: String,
                        now: () => Timestamp,
                        trigger: Trigger = Trigger.AvailableNow(),
                        compactRevisionsOver: Int = 0): StreamingQuery =
    mergeStream(obs, store, valueField, checkpointDir, now, trigger,
        compactRevisionsOver) {
      _.runDatasetPartitioned(table, _, Seq(valueField), gateHours = 0)
    }

  /** The foreachBatch body both ingest layouts share: `merge` one
    * micro-batch, as the canonical (date, valueField) frame, through the
    * query's Runner, then the revision-log cadence. */
  private def mergeStream(obs: DataFrame, store: TableStore,
                          valueField: String, checkpointDir: String,
                          now: () => Timestamp,
                          trigger: Trigger, compactRevisionsOver: Int)(
      merge: (Runner, DataFrame) => Runner.DatasetResult): StreamingQuery = {
    // one Runner for the query's lifetime: its write-through metadata cache
    // stays coherent across micro-batches (one tiny table read at start,
    // not one per batch)
    val runner = new Runner(obs.sparkSession, store, now)
    // Trigger.AvailableNow = the catch-up/cron shape (drain the backlog,
    // stop); pass ProcessingTime for a long-lived continuous ingest
    obs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val result = merge(runner, batch.select(
          col("date").cast("string").as("date"),
          col("value").cast("double").as(valueField)))
        // gate on the batch's own revision count: a non-revising
        // micro-batch pays neither the cadence listing nor the revision
        // log's recovery probe
        if (compactRevisionsOver > 0 && result.revisions > 0)
          store.compactIfOver(Registry.RevisionsTable, compactRevisionsOver)
        ()
      }
      .start()
  }

  /** Normalize a RAW-LONG event-time column (epoch nanos or micros, decided
    * per row) into a proper TimestampType column — the streaming module's
    * own entry point for the nanos/micros runtime-representation defense,
    * so an operator-library user reading `TIMESTAMP(NANOS)` parquet under
    * `spark.sql.legacy.parquet.nanosAsLong` gets the guard without going
    * through the harness. The magnitude guard itself is owned by
    * [[graft.sources.EventTime.rawTsToMicros]] (full contract there);
    * this wraps it with the `timestamp_micros` cast every watermark/window
    * operator below expects. Pure column expressions — stream-safe. */
  def normalizeRawTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    graft.sources.EventTime.rawTsToMicros(df, tsCol)
      .withColumn(tsCol, timestamp_micros(col(tsCol)))

  /** Event-time tumbling-window counts with a watermark: the canonical
    * streaming aggregation (late rows beyond the watermark are dropped,
    * in-watermark updates revise the window row — upsert semantics that
    * mirror the batch revision mechanism). */
  def windowedCounts(events: DataFrame, tsCol: String = "ts",
                     window: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"))

  /** Stream-stream INTERVAL JOIN: attribute each click to the same user's
    * views in the preceding `lookbackMinutes` — the canonical two-stream
    * correlation (attribution, fraud pairing, request/response stitching).
    *
    * Both sides carry a watermark and the join condition is an EVENT-TIME
    * range over the watermarked columns — exactly what lets Spark bound
    * the join state: a buffered view is evictable once the click-side
    * watermark passes view_ts + lookback, so state is O(events in the
    * lookback window), not O(stream history). At 100 TB/day that bound is
    * the difference between a runnable join and an OOM. Append output
    * mode; inner join, so no null-padding timing concerns.
    */
  def attributionJoin(events: DataFrame,
                      lookbackMinutes: Int = 30): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", s"$lookbackMinutes minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", s"$lookbackMinutes minutes")
    views
      .join(clicks,
        col("user_id") === col("click_user") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") -
            expr(s"INTERVAL $lookbackMinutes MINUTES"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        unix_millis(col("view_ts")).as("view_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
  }

  /** Stateful streaming exact-dedup: drop re-deliveries of the same key —
    * the operator an at-least-once source (replayed files, redelivered
    * queue messages) needs in front of any downstream aggregate. Spark
    * keeps one state entry per key; bound the state with
    * `withWatermark` + `dropDuplicatesWithinWatermark` when the key space
    * is unbounded (event streams), or use plain `dropDuplicates` for
    * bounded catalogs (document corpora). */
  def dedupExact(stream: DataFrame, keys: Seq[String]): DataFrame =
    stream.dropDuplicates(keys)

  /** Stream-static incremental dedup: drop stream rows whose normalized
    * content fingerprint already exists in a STATIC index (the persisted
    * output of [[graft.ops.Dedup.fingerprintIndex]]) — the streaming half
    * of the incremental-dedup loop, where a live feed is deduped against
    * years of history by fingerprint without the stream ever touching
    * historical text. Anti joins are not in the stream-static join
    * matrix, so the anti is expressed as a left-OUTER join against the
    * deduplicated index with a non-null marker, filtered to no-match —
    * stateless (no watermark: the verdict is per-row), and the static
    * side broadcasts whenever it fits like any other dimension. Rows
    * with a NULL fingerprint pass through (an unknown matches nothing),
    * the same contract as the batch operator. */
  def dropIndexedFingerprints(stream: DataFrame, index: DataFrame,
                              textCol: String): DataFrame = {
    // internal columns wear the codebase's __ prefix AND the index's fp
    // is renamed before the join — a stream that itself carries an `fp`
    // column (anything derived from Dedup.fingerprintIndex does) must
    // neither collide ambiguously nor lose its column to the final drop
    val idx = index.select(col("fp").as("__idx_fp")).distinct()
      .withColumn("__idx_seen", lit(1))
    stream
      .withColumn("__fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .join(idx, col("__fp") === col("__idx_fp"), "left_outer")
      .filter(col("__idx_seen").isNull)
      .drop("__idx_fp", "__idx_seen", "__fp")
  }

  /** SELF-MAINTAINING streaming dedup: each micro-batch dedups against the
    * persisted fingerprint index (within-batch min-id survivors, then the
    * anti-join of [[graft.ops.Dedup.dedupAgainstIndex]]), APPENDS the
    * survivors' fingerprints back to the index, and lands the survivors in
    * `cleanTable` — the index stays current as data streams in, so
    * tomorrow's feed dedups against today's without any batch rebuild.
    * This closes the incremental-dedup loop: [[dropIndexedFingerprints]]
    * reads a static index; this one OWNS it.
    *
    * Replay discipline (the foreachBatch exactly-once caveat, solved
    * rather than documented): every appended row carries `batch_id`, and
    * the dedup verdict for batch b consults only index rows with
    * `batch_id < b`. A batch replayed after a crash therefore recomputes
    * the IDENTICAL survivor set (its own half-landed index rows are
    * invisible to it) and re-appends identical rows; readers collapse the
    * double-append with a key dedupe (`dropDuplicates(idCol)` — cheap,
    * since duplicates exist only for crashed batches). Without the
    * batch_id fence, a replayed batch would see its own fingerprints in
    * the index and silently emit ZERO survivors — losing the batch.
    *
    * Scale shape: per batch, one fp-keyed aggregate of the batch + one
    * anti-join against the index (broadcast when small, fp-equi-join
    * otherwise; history participates as 32-byte fingerprints, never
    * text) + two appends. O(batch + index-fp-column), never O(corpus). */
  def ingestDedupIndexed(stream: DataFrame, store: TableStore,
                         indexTable: String, cleanTable: String,
                         idCol: String, textCol: String,
                         checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val idxLike = graft.ops.Dedup.fingerprintIndex(batch, idCol, textCol)
            .withColumn("batch_id", lit(batchId))
          val index = store.readOrEmpty(indexTable, idxLike)
            .filter(col("batch_id") < batchId)
          val fresh = graft.ops.Dedup
            .dedupAgainstIndex(batch, index, idCol, textCol)
            .persist() // feeds both appends; released below
          try {
            store.append(indexTable,
              graft.ops.Dedup.fingerprintIndex(fresh, idCol, textCol)
                .withColumn("batch_id", lit(batchId)), maxFiles = 1)
            store.append(cleanTable,
              fresh.withColumn("batch_id", lit(batchId)), maxFiles = 1)
          } finally {
            fresh.unpersist()
            ()
          }
        }
        ()
      }
      .start()

  /** Self-maintaining streaming PERCEPTUAL near-dup gate — the
    * quartered-print sibling of [[ingestDedupIndexed]], completing the
    * batch / incremental / streaming triad for the print families
    * (image dHash, audio energy prints, text simhash): each micro-batch
    * computes its (id, sh) prints via `printsOf`, drops rows within
    * `maxHamming` of the PERSISTED print index
    * (quarterNearDupAgainstIndex — history participates as 4×16-bit
    * prints only, payloads never re-decoded), then drops within-batch
    * near-dups (the later member of every qualifying pair), and appends
    * the SURVIVORS' prints back, batch_id-fenced so a crash replay of a
    * half-committed batch reproduces the identical survivor set (its
    * own partial appends are filtered out by `batch_id < batchId`).
    * `stream` must carry an `id` column matching `printsOf`'s output.
    * Hot-bucket escalation applies unchanged inside both joins. */
  def ingestPrintIndexed(stream: DataFrame, store: TableStore,
                         indexTable: String, cleanTable: String,
                         printsOf: DataFrame => DataFrame,
                         maxHamming: Int,
                         checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // the batch's prints feed the against-index join AND the
          // survivor anti-join — persist so the payload decode runs once
          // per micro-batch (batch-sized, released below)
          val prints = printsOf(batch).persist()
          try {
          val idxLike = prints.withColumn("batch_id", lit(batchId))
          val index = store.readOrEmpty(indexTable, idxLike)
            .filter(col("batch_id") < batchId)
          val hitIdx = graft.ops.Dedup
            .quarterNearDupAgainstIndex(prints,
              index.select("id", "sh"), maxHamming)
            .select(col("idA").as("id")).distinct()
          val fresh = prints.join(hitIdx, Seq("id"), "left_anti")
            .persist() // feeds the within-batch pair join AND the keep set
          try {
            val dropWithin = graft.ops.Dedup
              .quarterNearDupPairs(fresh, maxHamming)
              .select(col("idB").as("id")).distinct()
            val keep = fresh.join(dropWithin, Seq("id"), "left_anti")
              .persist() // feeds both appends
            try {
              store.append(indexTable,
                keep.withColumn("batch_id", lit(batchId)), maxFiles = 1)
              store.append(cleanTable,
                batch.join(keep.select("id"), Seq("id"), "left_semi")
                  .withColumn("batch_id", lit(batchId)), maxFiles = 1)
            } finally { keep.unpersist(); () }
          } finally { fresh.unpersist(); () }
          } finally { prints.unpersist(); () }
        }
        ()
      }
      .start()

  /** Self-maintaining streaming SEMANTIC near-dup gate — the SemDeDup
    * sibling of [[ingestPrintIndexed]], completing the batch /
    * incremental / streaming triad for the semantic family. The
    * quantizer (`cents`) is pre-trained and driver-held (fit once on
    * history, persisted via KMeans.centroidsDF — never refit inside
    * the stream); each micro-batch assigns map-side, drops rows whose
    * cosine to ANY same-cluster member of the PERSISTED index reaches
    * `threshold` (history is already accepted and cannot be retracted,
    * so an index match always evicts the newcomer — the arrival-order
    * discipline every streaming gate here shares), then sweeps
    * within-batch duplication with the batch operator's own
    * keep-the-outlier rule (lower cent_sim survives, ties by id), and
    * appends the survivors' (id, cluster, cent_sim, vec) index rows
    * back, batch_id-fenced for replay idempotence. History thus
    * participates as the model-sized centroid literals plus per-id
    * index rows — embeddings are never re-fit, payloads never reread;
    * the only data-scale join is within-cluster. */
  def ingestSemanticIndexed(stream: DataFrame, store: TableStore,
                            indexTable: String, cleanTable: String,
                            cents: Seq[graft.ops.KMeans.Centroid],
                            idCol: String, vecCol: String,
                            threshold: Double,
                            checkpointDir: String,
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // NOT persisted: the frame feeds two consumers (index-gate join,
          // survivor anti-join) but each evaluation is one map-side pass
          // over the micro-batch — measured, the per-batch materialization
          // churn cost more than the second pass saved
          val b = graft.ops.KMeans.semIndex(batch, idCol, vecCol, cents)
          val idxLike = b.withColumn("batch_id", lit(batchId))
          val index = store.readOrEmpty(indexTable, idxLike)
            .filter(col("batch_id") < batchId)
          val hitIdx = b.as("a").join(index.as("b"),
              col("a.cluster") === col("b.cluster") &&
                graft.ops.Similarity.cosine(col("a.vec"), col("b.vec"))
                  >= threshold)
            .select(col(s"a.$idCol").as(idCol)).distinct()
          val fresh = b.join(hitIdx, Seq(idCol), "left_anti")
            .persist() // feeds the within-batch pair join AND the keep set
          try {
            val dropWithin = fresh.as("a").join(fresh.as("b"),
                col("a.cluster") === col("b.cluster") &&
                  col(s"a.$idCol") =!= col(s"b.$idCol") &&
                  graft.ops.Similarity.cosine(col("a.vec"), col("b.vec"))
                    >= threshold &&
                  (col("b.cent_sim") < col("a.cent_sim") ||
                    (col("b.cent_sim") === col("a.cent_sim") &&
                      col(s"b.$idCol") < col(s"a.$idCol"))))
              .select(col(s"a.$idCol").as(idCol)).distinct()
            val keep = fresh.join(dropWithin, Seq(idCol), "left_anti")
              .persist() // feeds both appends
            try {
              store.append(indexTable,
                keep.withColumn("batch_id", lit(batchId)), maxFiles = 1)
              store.append(cleanTable,
                batch.join(keep.select(idCol), Seq(idCol), "left_semi")
                  .withColumn("batch_id", lit(batchId)), maxFiles = 1)
            } finally { keep.unpersist(); () }
          } finally { fresh.unpersist(); () }
        }
        ()
      }
      .start()

  /** Bounded-state streaming exact-dedup: dedup state per key is kept only
    * while the key's event time is within the watermark, then EVICTED —
    * the form an unbounded event stream needs (plain `dropDuplicates`
    * state grows with the key space forever; this grows with the watermark
    * window). The documented trade: a re-delivery arriving more than
    * `watermark` after the original is no longer remembered and passes
    * through again — at-least-once is restored to exactly-once only within
    * the delay an operator can afford to remember. */
  def dedupWithinWatermark(stream: DataFrame, keys: Seq[String],
                           tsCol: String, watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  // ------------------------------------------------------------ sessions

  final case class Ev(userId: Long, ts: Timestamp, eventType: String)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(userId: Long, sessionStart: Timestamp,
                           sessionEnd: Timestamp, events: Long)

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when no event arrives within `gapMinutes` (enforced by event-time
    * timeout against the watermark). The custom-state shape the built-in
    * operators can't express. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30,
                 watermark: String = "1 hour"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, rows: Iterator[Ev],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n))
      } else {
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            // joins the open session iff within the gap of EITHER bound —
            // a late arrival shortly before the session start extends the
            // start backward (t - s.last <= gap alone is true for EVERY
            // older timestamp and would fold arbitrarily old events in)
            case Some(s) if t - s.last <= gapMs && t >= s.start - gapMs =>
              cur = Some(SessionState(math.min(s.start, t),
                math.max(s.last, t), s.n + 1))
            case Some(s) if t < s.start - gapMs =>
              // older than the open session by more than the gap: it can
              // never join; emit it as its own closed session — the
              // bounded-state approximation for very late data (the exact
              // islands rule could require merging sessions already
              // emitted, which append-mode streaming cannot retract)
              closed ::= Session(userId, new Timestamp(t), new Timestamp(t), 1)
            case Some(s) => // a genuine forward gap: close, start fresh
              closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
              cur = Some(SessionState(t, t, 1))
            case None =>
              cur = Some(SessionState(t, t, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapMs)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}

package graft

import graft.config.Registry
import graft.store.TableStore
import graft.streaming.StreamIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files
import java.sql.Timestamp

/** Structured Streaming parity tests: micro-batch ingest runs the exact
  * batch smart_update; watermarked windows aggregate event time;
  * flatMapGroupsWithState closes gap-based sessions. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("stream ingest: micro-batches merge with CDC revisions") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val store = new TableStore(spark, dir)
    val ts = Timestamp.valueOf("2025-06-01 00:00:00")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Obs]
    val q = StreamIngest.ingest(mem.toDF(), store, "sales", "sales",
      s"$dir/_ckpt", () => ts,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // batch 1: three new observations -> 3 rows, no revisions
    mem.addData(StreamIngest.Obs("2025-01-01", 100.0),
      StreamIngest.Obs("2025-02-01", 200.0), StreamIngest.Obs("2025-03-01", 300.0))
    q.processAllAvailable()
    assert(store.read("sales").count() == 3)
    assert(!store.exists(Registry.RevisionsTable))
    // batch 2: one revised value -> merged in place + one revision row
    mem.addData(StreamIngest.Obs("2025-01-01", 110.0))
    q.processAllAvailable()
    q.stop()
    val sales = store.read("sales").orderBy("date").collect()
    assert(sales.length == 3 && sales.head.getAs[Double]("sales") == 110.0)
    val revs = store.read(Registry.RevisionsTable).collect()
    assert(revs.length == 1)
    assert(revs.head.getAs[Double]("old_value") == 100.0)
    assert(revs.head.getAs[Double]("new_value") == 110.0)
  }

  test("compactRevisionsOver: the in-stream cadence bounds the revision log's file count") {
    val dir = Files.createTempDirectory("graft-streamcad").toString
    val store = new TableStore(spark, dir)
    val ts = Timestamp.valueOf("2025-06-01 00:00:00")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Obs]
    val q = StreamIngest.ingest(mem.toDF(), store, "sales", "sales",
      s"$dir/_ckpt", () => ts,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      compactRevisionsOver = 2)
    mem.addData(StreamIngest.Obs("2025-01-01", 100.0))
    q.processAllAvailable()
    // five revising micro-batches: each appends ONE file to the revision
    // log; the cadence compacts whenever the count exceeds 2, so the log
    // runs 1,2,3->1,2,3->1 instead of growing to 5 files
    for (i <- 1 to 5) {
      mem.addData(StreamIngest.Obs("2025-01-01", 100.0 + i))
      q.processAllAvailable()
    }
    q.stop()
    // every CDC row survives compaction (merged, never dropped)...
    val revs = store.read(Registry.RevisionsTable).collect()
    assert(revs.length == 5)
    assert(revs.map(_.getAs[Double]("new_value")).toSet ==
      Set(101.0, 102.0, 103.0, 104.0, 105.0))
    // ...and the file count is bounded by the cadence, not batch count
    assert(store.dataFileCount(Registry.RevisionsTable) == 1)
  }

  test("stream ingest preserves a declared-decimal table's at-rest schema") {
    import org.apache.spark.sql.types.DecimalType
    val dir = Files.createTempDirectory("graft-streamdec").toString
    val store = new TableStore(spark, dir)
    val ts = Timestamp.valueOf("2025-06-01 00:00:00")
    // table created under the declared-type policy (as a batch Runner
    // ingest would): DECIMAL(12,2) at rest per the gasprice DDL
    store.overwrite("gasprice", graft.store.SinkTypes.sinkCast(
      Seq(("2025-01-01", 1.25)).toDF("date", "price"), "gasprice"),
      maxFiles = 1)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Obs]
    val q = StreamIngest.ingest(mem.toDF(), store, "gasprice", "price",
      s"$dir/_ckpt", () => ts,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(StreamIngest.Obs("2025-02-01", 2.455)) // finer than scale 2
    q.processAllAvailable()
    q.stop()
    // the micro-batch must NOT flip the at-rest schema back to double
    val atRest = spark.read.parquet(store.path("gasprice"))
    assert(atRest.schema("price").dataType == DecimalType(12, 2))
    // engine surface stays double, fine value snapped to the declared scale
    val api = new graft.api.EngineApi(spark, store)
    val rows = api.series("gasprice").collect()
      .map(r => (r.getAs[String]("date"), r.getAs[Double]("price"))).toSet
    assert(rows == Set(("2025-01-01", 1.25), ("2025-02-01", 2.46)))
  }

  test("partitioned stream ingest: a micro-batch rewrites only touched year partitions") {
    val dir = Files.createTempDirectory("graft-streampart").toString
    val store = new TableStore(spark, dir)
    val ts = Timestamp.valueOf("2025-06-01 00:00:00")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Obs]
    val q = StreamIngest.ingestPartitioned(mem.toDF(), store, "sales", "sales",
      s"$dir/_ckpt", () => ts,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // batch 1: two years land as two partitions
    mem.addData(StreamIngest.Obs("2024-03-01", 1.0),
      StreamIngest.Obs("2024-06-01", 2.0), StreamIngest.Obs("2025-01-01", 3.0))
    q.processAllAvailable()
    val tableDir = new java.io.File(store.path("sales"))
    def partFiles(year: Int) =
      new java.io.File(tableDir, s"__year=$year").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified, f.length)).toSet
    val files2024 = partFiles(2024)
    assert(files2024.nonEmpty)
    // batch 2 touches 2025 only: one new row + one revision; the 2024
    // partition's files must come through byte-identical (same names,
    // mtimes, sizes — never read, never rewritten)
    mem.addData(StreamIngest.Obs("2025-02-01", 4.0),
      StreamIngest.Obs("2025-01-01", 30.0))
    q.processAllAvailable()
    q.stop()
    assert(partFiles(2024) == files2024)
    val rows = store.read("sales").orderBy("date").collect()
      .map(r => (r.getAs[String]("date"), r.getAs[Double]("sales"))).toSeq
    assert(rows == Seq("2024-03-01" -> 1.0, "2024-06-01" -> 2.0,
      "2025-01-01" -> 30.0, "2025-02-01" -> 4.0))
    // batch parity for the CDC log: the revision row itself landed
    val revs = store.read(Registry.RevisionsTable).collect()
    assert(revs.length == 1)
    assert(revs.head.getAs[Double]("old_value") == 3.0)
    assert(revs.head.getAs[Double]("new_value") == 30.0)
  }

  test("partitioned stream ingest reads each micro-batch once") {
    val dir = Files.createTempDirectory("graft-streamonce").toString
    val store = new TableStore(spark, dir)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Obs]
    val q = StreamIngest.ingestPartitioned(mem.toDF(), store, "sales", "sales",
      s"$dir/_ckpt", () => Timestamp.valueOf("2025-06-01 00:00:00"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // the partitioned layout reads a batch twice (its years, then the
    // diff); a second scan of the source would count every row twice
    mem.addData(StreamIngest.Obs("2024-03-01", 1.0),
      StreamIngest.Obs("2025-01-01", 2.0), StreamIngest.Obs("2025-02-01", 3.0))
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(3L))
    assert(store.read("sales").count() == 3)
  }

  test("ingestPartitioned: compaction cadence gated on the batch's own revisions") {
    val dir = Files.createTempDirectory("graft-streamgate").toString
    val store = new TableStore(spark, dir)
    val ts = Timestamp.valueOf("2025-06-01 00:00:00")
    implicit val sq = spark.sqlContext
    // seed an over-threshold revision log WITHOUT cadence: three revising
    // micro-batches, one appended file each
    val seed = MemoryStream[StreamIngest.Obs]
    val qSeed = StreamIngest.ingest(seed.toDF(), store, "sales", "sales",
      s"$dir/_ckpt_seed", () => ts,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    seed.addData(StreamIngest.Obs("2025-01-01", 100.0))
    qSeed.processAllAvailable()
    for (i <- 1 to 3) {
      seed.addData(StreamIngest.Obs("2025-01-01", 100.0 + i))
      qSeed.processAllAvailable()
    }
    qSeed.stop()
    assert(store.dataFileCount(Registry.RevisionsTable) == 3)
    // a partitioned stream with the cadence on: a batch that only ADDS
    // rows (no revisions) must not touch the over-threshold log — the
    // gate skips both the compaction and its directory listing, because
    // only revising batches can grow the log
    val mem = MemoryStream[StreamIngest.Obs]
    val q = StreamIngest.ingestPartitioned(mem.toDF(), store, "psales",
      "psales", s"$dir/_ckpt", () => ts,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      compactRevisionsOver = 2)
    mem.addData(StreamIngest.Obs("2025-03-01", 1.0))
    q.processAllAvailable()
    assert(store.dataFileCount(Registry.RevisionsTable) == 3)
    // a REVISING batch appends (4 files) and trips the cadence: compacted
    mem.addData(StreamIngest.Obs("2025-03-01", 2.0))
    q.processAllAvailable()
    q.stop()
    assert(store.dataFileCount(Registry.RevisionsTable) == 1)
    // all four CDC rows survive the compaction
    assert(store.read(Registry.RevisionsTable).count() == 4)
  }

  test("ingestPartitioned: restart from the checkpoint continues, never replays") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-restart").toString
    val inDir = s"$root/in"
    val store = new TableStore(spark, s"$root/store")
    val ts = Timestamp.valueOf("2025-06-01 00:00:00")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("date",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    def run(): Unit = {
      val src = spark.readStream.schema(schema).parquet(inDir)
      val q = StreamIngest.ingestPartitioned(src, store, "sales", "sales",
        s"$root/_ckpt", () => ts)
      q.awaitTermination() // Trigger.AvailableNow: drain and stop
    }
    // run 1: the base file lands two 2024 rows
    Seq(("2024-03-01", 1.0), ("2024-06-01", 2.0)).toDF("date", "value")
      .coalesce(1).write.mode("append").parquet(inDir)
    run()
    assert(store.read("sales").count() == 2)
    assert(!store.exists(Registry.RevisionsTable))
    // run 2 (a NEW query on the SAME checkpoint): only the new file is
    // processed — one revision + one new year
    Seq(("2024-03-01", 10.0), ("2025-01-01", 3.0)).toDF("date", "value")
      .coalesce(1).write.mode("append").parquet(inDir)
    run()
    val rows = store.read("sales").orderBy("date").collect()
      .map(r => (r.getAs[String]("date"), r.getAs[Double]("sales"))).toSeq
    assert(rows == Seq("2024-03-01" -> 10.0, "2024-06-01" -> 2.0,
      "2025-01-01" -> 3.0))
    assert(store.read(Registry.RevisionsTable).count() == 1)
    // run 3 with NO new files: committed offsets mean NO batch fires at
    // all — a replayed batch would rewrite the (tiny) metadata table, so
    // byte-identical metadata/revisions/table files prove no replay
    def snap(t: String) = new java.io.File(store.path(t)).listFiles()
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val before = (snap("sales"), snap("scrapermetadata"),
      snap(Registry.RevisionsTable))
    run()
    assert((snap("sales"), snap("scrapermetadata"),
      snap(Registry.RevisionsTable)) == before)
  }

  test("dedupWithinWatermark: state evicted past the watermark, live within it") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val dd = StreamIngest.dedupWithinWatermark(
      mem.toDF().toDF("id", "ts"), Seq("id"), "ts", "10 minutes")
    val q = dd.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_wm").start()
    // batch 1: id 1 expires at 10:10, id 2 at 12:09; the post-batch
    // watermark (11:59 - 10 min = 11:49) evicts id 1's state
    mem.addData((1L, Timestamp.valueOf("2025-06-01 10:00:00")),
      (2L, Timestamp.valueOf("2025-06-01 11:59:00")))
    q.processAllAvailable()
    // batch 2: both keys re-delivered at a fresh event time — id 1's state
    // is gone (re-emitted: the documented beyond-the-delay duplicate),
    // id 2's is live (suppressed)
    mem.addData((1L, Timestamp.valueOf("2025-06-01 11:58:00")),
      (2L, Timestamp.valueOf("2025-06-01 11:58:00")))
    q.processAllAvailable()
    val out = spark.table("dedup_wm").collect()
      .map(_.getAs[Long]("id")).toSeq.sorted
    q.stop()
    assert(out == Seq(1L, 1L, 2L))
  }

  test("dropIndexedFingerprints: static index filters the stream; null text passes") {
    implicit val sq = spark.sqlContext
    val index = graft.ops.Dedup.fingerprintIndex(
      Seq((1L, "already seen text")).toDF("doc_id", "text"), "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val fresh = StreamIngest.dropIndexedFingerprints(
      mem.toDF().toDF("doc_id", "text"), index, "text")
    val q = fresh.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_idx").start()
    mem.addData(
      (10L, "Already  SEEN text"), // fp-equal to the indexed doc -> dropped
      (11L, "brand new text"),     // survives
      (12L, null))                 // null fp matches nothing -> survives
    q.processAllAvailable()
    val out = spark.table("dedup_idx").collect()
      .map(_.getAs[Long]("doc_id")).toSeq.sorted
    q.stop()
    assert(out == Seq(11L, 12L))
  }

  test("ingestDedupIndexed: index self-maintains across batches; replay fence holds") {
    val dir = Files.createTempDirectory("graft-sxi").toString
    val store = new TableStore(spark, s"$dir/store")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.ingestDedupIndexed(
      mem.toDF().toDF("doc_id", "text"), store, "fp_index", "clean",
      "doc_id", "text", s"$dir/_ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // batch 0: an in-batch dup pair + a distinct doc; min-id survives
    mem.addData((2L, "alpha text"), (5L, "Alpha  TEXT"), (3L, "beta text"))
    q.processAllAvailable()
    assert(store.read("clean").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // batch 1: a cross-batch dup of batch 0 (dropped by the index batch 0
    // appended), plus a fresh doc (passes) and a null text (passes)
    mem.addData((9L, "ALPHA text"), (10L, "gamma text"), (11L, null))
    q.processAllAvailable()
    q.stop()
    val clean = store.read("clean").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(clean == Seq(2L, 3L, 10L, 11L))
    // the index holds exactly the survivors' fingerprints, batch-stamped
    val idx = store.read("fp_index").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("batch_id")))
    assert(idx.map(_._1).sorted.toSeq == Seq(2L, 3L, 10L, 11L))
    assert(idx.filter(_._2 == 0L).map(_._1).sorted.toSeq == Seq(2L, 3L))
    // REPLAY FENCE: re-running batch 1's dedup with the index as it now
    // stands (including batch 1's own rows) but fenced to batch_id < 1
    // reproduces the identical survivor set — the crash-replay contract
    val replayBatch = Seq((9L, "ALPHA text"), (10L, "gamma text"),
      (11L, null: String)).toDF("doc_id", "text")
    val fenced = store.read("fp_index").filter(col("batch_id") < 1L)
    val replayed = graft.ops.Dedup
      .dedupAgainstIndex(replayBatch, fenced, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(replayed == Seq(10L, 11L),
      "replayed batch must reproduce its original survivors")
    // without the fence the batch's own fingerprints shadow it: survivors
    // collapse to just the null-fp row — the lost-batch failure the fence
    // exists to prevent
    val unfenced = graft.ops.Dedup
      .dedupAgainstIndex(replayBatch, store.read("fp_index"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(unfenced == Seq(11L))
  }

  test("ingestPrintIndexed: perceptual index self-maintains; replay fence holds") {
    val dir = Files.createTempDirectory("graft-spidx").toString
    val store = new TableStore(spark, s"$dir/store")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Long)]
    def printsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"),
        array(col("a"), col("b"), col("c"), col("d")).as("sh"))
    val q = StreamIngest.ingestPrintIndexed(
      mem.toDF().toDF("id", "a", "b", "c", "d"), store,
      "print_index", "clean_media", printsOf, maxHamming = 3,
      s"$dir/_ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // batch 0: print P, a 1-bit variant of P (within-batch drop: later
    // id loses), and a distant print Q
    mem.addData((1L, 100L, 200L, 300L, 400L),
      (2L, 101L, 200L, 300L, 400L),
      (3L, 7L, 8L, 9L, 10L))
    q.processAllAvailable()
    assert(store.read("clean_media").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // batch 1: a 2-bit variant of P (dropped by the index batch 0
    // appended — id 1's print, NOT id 2's which never entered), + fresh
    mem.addData((9L, 100L, 203L, 300L, 400L),
      (10L, 5000L, 6000L, 7000L, 8000L))
    q.processAllAvailable()
    q.stop()
    assert(store.read("clean_media").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 10L))
    // the index holds exactly the survivors' prints, batch-stamped
    val idx = store.read("print_index").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("batch_id")))
    assert(idx.map(_._1).sorted.toSeq == Seq(1L, 3L, 10L))
    assert(idx.filter(_._2 == 0L).map(_._1).sorted.toSeq == Seq(1L, 3L))
    // REPLAY FENCE: re-running batch 1 against the fenced index
    // reproduces its survivors; unfenced, the batch's own prints
    // shadow it and the survivor set collapses — the lost-batch failure
    val replay = Seq((9L, 100L, 203L, 300L, 400L),
      (10L, 5000L, 6000L, 7000L, 8000L)).toDF("id", "a", "b", "c", "d")
    def survivors(index: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val hits = graft.ops.Dedup.quarterNearDupAgainstIndex(
          printsOf(replay), index.select("id", "sh"), maxHamming = 3)
        .select(col("idA").as("id")).distinct()
      printsOf(replay).join(hits, Seq("id"), "left_anti")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(survivors(
      store.read("print_index").filter(col("batch_id") < 1L)) == Seq(10L))
    assert(survivors(store.read("print_index")) == Seq())
  }

  test("streaming semantic gate: index match evicts, within-batch keeps the outlier") {
    implicit val sq = spark.sqlContext
    import graft.ops.KMeans
    val dir = java.nio.file.Files.createTempDirectory("graft-ssi-spec").toString
    val store = new graft.store.TableStore(spark, s"$dir/store")
    // quantizer pre-trained on the day-1 population (blob + far blob)
    val hist = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(0.6f, 0.8f)),
      (10L, Array(10.0f, 10.0f))).toDF("vec_id", "embedding")
    val cents = KMeans.fit(hist, "vec_id", "embedding", k = 2, iters = 2)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamIngest.ingestSemanticIndexed(
      mem.toDF().toDF("vec_id", "embedding"), store,
      "sem_index", "clean_vecs", cents, "vec_id", "embedding",
      threshold = 0.95, s"$dir/_ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // batch 0 = the history population: cos(0, 2) = 0.6 < 0.95 and the
    // far blob is its own cluster — everything is kept
    mem.addData((0L, Array(1.0f, 0.0f)), (2L, Array(0.6f, 0.8f)),
      (10L, Array(10.0f, 10.0f)))
    q.processAllAvailable()
    assert(store.read("clean_vecs").select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 10L))
    // batch 1: 1 ~ 0 (cos ~.98) and 11 == 10 are evicted by the INDEX
    // (history cannot be retracted, typicality does not matter there);
    // 5 and 7 near-dup EACH OTHER only, so the within-batch
    // keep-the-outlier sweep fires and exactly one survives
    mem.addData((1L, Array(0.98f, 0.2f)), (11L, Array(10.0f, 10.0f)),
      (5L, Array(-1.0f, -0.1f)), (7L, Array(-1.0f, -0.12f)))
    q.processAllAvailable()
    q.stop()
    val day2 = store.read("clean_vecs").filter(col("batch_id") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(day2.length == 1 && (day2.head == 5L || day2.head == 7L),
      s"day-2 survivors: $day2")
    // the survivor is the LESS typical of the pair (lower cent_sim,
    // ties by lower id) — the batch operator's own rule
    val sims = KMeans.semIndex(
        Seq((5L, Array(-1.0f, -0.1f)), (7L, Array(-1.0f, -0.12f)))
          .toDF("vec_id", "embedding"), "vec_id", "embedding", cents)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cent_sim"))
      .toMap
    val expectSurvivor =
      if (sims(5L) < sims(7L)) 5L
      else if (sims(7L) < sims(5L)) 7L
      else 5L
    assert(day2.head == expectSurvivor)
    // the index holds exactly the survivors' rows, batch-stamped, and
    // the replay fence sees only prior batches
    val idx = store.read("sem_index").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("batch_id")))
    assert(idx.map(_._1).sorted.toSeq ==
      (Seq(0L, 2L, 10L) :+ expectSurvivor).sorted)
    assert(store.read("sem_index").filter(col("batch_id") < 1L)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 2L, 10L))
  }

  test("watermarked windowed counts over an event stream") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = StreamIngest.windowedCounts(
      mem.toDF().toDF("ts", "event_type"), "ts", "1 hour", "2 hours")
    val q = agg.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("win_counts").start()
    mem.addData(
      (Timestamp.valueOf("2025-06-01 10:05:00"), "click"),
      (Timestamp.valueOf("2025-06-01 10:45:00"), "click"),
      (Timestamp.valueOf("2025-06-01 11:05:00"), "click"),
      (Timestamp.valueOf("2025-06-01 10:20:00"), "view"))
    q.processAllAvailable()
    val out = spark.table("win_counts")
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSeq
    q.stop()
    assert(out == Seq(
      ("2025-06-01 10:00:00.0", "click", 2L),
      ("2025-06-01 10:00:00.0", "view", 1L),
      ("2025-06-01 11:00:00.0", "click", 1L)))
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Ev]
    val sessions = StreamIngest.sessionize(mem.toDS(), gapMinutes = 30)
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions").start()
    // user 1: two events 10 min apart (one session), then a 2h gap event
    mem.addData(
      StreamIngest.Ev(1L, Timestamp.valueOf("2025-06-01 10:00:00"), "view"),
      StreamIngest.Ev(1L, Timestamp.valueOf("2025-06-01 10:10:00"), "click"))
    q.processAllAvailable()
    mem.addData(
      StreamIngest.Ev(1L, Timestamp.valueOf("2025-06-01 13:00:00"), "view"))
    q.processAllAvailable()
    // advance the watermark far past the last session's timeout
    mem.addData(
      StreamIngest.Ev(2L, Timestamp.valueOf("2025-06-01 20:00:00"), "view"))
    q.processAllAvailable()
    val out = spark.table("sessions").orderBy("sessionStart").collect()
      .map(r => (r.getAs[Long]("userId"),
        r.getAs[Timestamp]("sessionStart").toString,
        r.getAs[Long]("events"))).toSeq
    q.stop()
    // first session (2 events) closed by the gap event; the 13:00 session
    // closed by the event-time timeout once the watermark passed it
    assert(out.contains((1L, "2025-06-01 10:00:00.0", 2L)))
    assert(out.contains((1L, "2025-06-01 13:00:00.0", 1L)))
  }

  test("sessionize: late arrivals extend the session start or stand alone, never fold blindly") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Ev]
    // 5h watermark so nothing is dropped as late; 30 min gap
    val sessions = StreamIngest.sessionize(mem.toDS(), gapMinutes = 30,
      watermark = "5 hours")
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("late_sessions").start()
    mem.addData(
      StreamIngest.Ev(1L, Timestamp.valueOf("2025-06-01 12:00:00"), "view"),
      StreamIngest.Ev(1L, Timestamp.valueOf("2025-06-01 12:10:00"), "view"))
    q.processAllAvailable()
    // late batch: 09:00 is >gap older than the open session (own closed
    // session), 11:50 is within the gap BEFORE its start (extends start)
    mem.addData(
      StreamIngest.Ev(1L, Timestamp.valueOf("2025-06-01 09:00:00"), "view"),
      StreamIngest.Ev(1L, Timestamp.valueOf("2025-06-01 11:50:00"), "view"))
    q.processAllAvailable()
    // far-future event times out the open session
    mem.addData(
      StreamIngest.Ev(2L, Timestamp.valueOf("2025-06-02 10:00:00"), "view"))
    q.processAllAvailable()
    val out = spark.table("late_sessions")
      .filter(col("userId") === 1L).orderBy("sessionStart").collect()
      .map(r => (r.getAs[Timestamp]("sessionStart").toString,
        r.getAs[Timestamp]("sessionEnd").toString,
        r.getAs[Long]("events"))).toSeq
    q.stop()
    assert(out == Seq(
      ("2025-06-01 09:00:00.0", "2025-06-01 09:00:00.0", 1L),
      ("2025-06-01 11:50:00.0", "2025-06-01 12:10:00.0", 3L)))
  }

  test("attributionJoin: per-user interval pairs, lookback enforced") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2025-06-01 10:00:00", 7L, "view"),   // 25 min before click: in
      (2L, "2025-06-01 09:20:00", 7L, "view"),   // 65 min before: out
      (3L, "2025-06-01 10:25:00", 7L, "click"),
      (4L, "2025-06-01 10:30:00", 7L, "view"),   // after the click: out
      (5L, "2025-06-01 10:24:00", 8L, "view"),   // other user: out
      (6L, "2025-06-01 10:25:00", 8L, "click")   // pairs with 5 only
    ).toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    // withWatermark is a no-op on batch frames, so batch application gives
    // the join's exact semantics (what the streaming query must reproduce)
    val out = StreamIngest.attributionJoin(ev, lookbackMinutes = 30)
      .orderBy("user_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((7L, 1L, 3L), (8L, 5L, 6L)))
  }

  test("EventTime.rawTsToMicros: per-row magnitude guard over mixed scales") {
    import spark.implicits._
    val microsVal = 1717200000000000L          // 2024-06-01 in micros
    val nanosVal = 1717200000000000000L        // the same instant in nanos
    val mixed = Seq(microsVal, nanosVal,
      graft.sources.EventTime.NanosThreshold,        // at threshold: micros
      graft.sources.EventTime.NanosThreshold + 1     // just over: nanos
    ).toDF("ts")
    val out = graft.sources.EventTime.rawTsToMicros(mixed)
      .as[Long].collect().toSeq
    assert(out == Seq(microsVal, microsVal,
      graft.sources.EventTime.NanosThreshold,
      (graft.sources.EventTime.NanosThreshold + 1) / 1000))
  }

  test("StreamIngest.normalizeRawTs: streaming module owns the guard + timestamp cast") {
    // the operator-library entry point: a raw-long ts column (mixed nanos
    // and micros) comes back as TimestampType at the right instants,
    // without any harness involvement
    import spark.implicits._
    val mixed = Seq(1717200000000000L, 1717200000000000000L).toDF("ts")
    val out = StreamIngest.normalizeRawTs(mixed)
    assert(out.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val instants = out.select(date_format(col("ts"),
      "yyyy-MM-dd HH:mm:ss").as("s")).as[String].collect().toSeq
    assert(instants == Seq("2024-06-01 00:00:00", "2024-06-01 00:00:00"))
  }

  test("streamed events ts normalizes to the fixture's real year (runtime-representation guard)") {
    // Regression pin for the round-13 field failure: the file-stream parquet
    // source's forced-LongType read of events.parquet (TIMESTAMP(NANOS)
    // under spark.sql.legacy.parquet.nanosAsLong) delivered MICROS in one
    // runtime and NANOS in another — while the batch read path kept nanos.
    // Queries that divide by a static factor then collapse 30 days of 2024
    // events into ~43 minutes of 1970. SparkEntry.rawTsToMicros normalizes
    // by magnitude; this test fails on any future silent runtime flip that
    // escapes the guard, in `sbt test` instead of the driver run.
    import org.apache.spark.sql.types._
    val file = "/root/testdata/sf0.001/events.parquet"
    // shared suite session: save and restore the legacy-reader flag so the
    // behavior change can't leak into later tests (ordering-independent)
    val priorNanos = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

    // batch path (proven against the DuckDB oracle): the reference year
    val batch = spark.read.parquet(file)
    val batchTs =
      if (batch.schema("ts").dataType == LongType)
        SparkEntry.rawTsToMicros(batch).withColumn("ts", timestamp_micros(col("ts")))
      else batch
    val batchYears = batchTs.select(year(min("ts")), year(max("ts"))).head()

    // file-stream path through the same normalization
    val streamed = SparkEntry.rawTsToMicros(
      spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet("/root/testdata/sf0.001"))
      .withColumn("ts", timestamp_micros(col("ts")))
    val qn = "graft_ts_guard"
    val q = streamed.groupBy().agg(min("ts").as("lo"), max("ts").as("hi"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamYears = spark.table(qn)
      .select(year(col("lo")), year(col("hi"))).head()

    // the fixture holds January 2024 events; 1970 (over-division) and
    // year-56000+ (missed division) both fail loudly here
    assert(batchYears.getInt(0) == 2024 && batchYears.getInt(1) == 2024,
      s"batch events ts landed in ${batchYears.getInt(0)}..${batchYears.getInt(1)}, want 2024")
    assert(streamYears.getInt(0) == 2024 && streamYears.getInt(1) == 2024,
      s"streamed events ts landed in ${streamYears.getInt(0)}..${streamYears.getInt(1)}, want 2024")
    } finally priorNanos match {
      case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      case None    => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
  }
}

package perfbench

import graft.SparkEntry
import graft.api.EngineApi
import graft.config.Registry
import graft.pipeline.Runner
import graft.sources.{FredSource, GridSource, NyuSource}
import graft.store.{SinkTypes, TableStore}
import graft.streaming.StreamIngest
import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The workloads. Each runs its set-up `SetupReps` times (set-up time
  * is reported as the median), then its one timed operation, and checks
  * the operation's output against the generator's expectations. */
object Workloads {
  val all: Map[String, Run => Unit] = Map(
    "daily_refresh" -> dailyRefresh,
    "curate_funnel" -> curateFunnel)

  val SetupReps = 3
  private val HourMs = 3600L * 1000L

  /** Injected pipeline clock; a refresh cycle moves it past the 24 h gate. */
  final class Clock {
    private var t = Timestamp.valueOf("2025-06-01 00:00:00").getTime
    def now: Timestamp = new Timestamp(t)
    def nextDay(): Unit = t += 25 * HourMs
  }

  // ------------------------------------------------------------ helpers

  private def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def same(a: Option[Double], b: Option[Double]) = (a, b) match {
    case (Some(x), Some(y)) => near(x, y)
    case (x, y) => x.isEmpty && y.isEmpty
  }

  private def num(r: Row, f: String): Option[Double] =
    Option(r.getAs[Any](f)).map {
      case n: java.lang.Number => n.doubleValue()
      case d: java.math.BigDecimal => d.doubleValue()
      case other => other.toString.toDouble
    }

  private def fileCount(dir: String): Int = {
    val root = new File(dir)
    if (!root.exists) 0
    else Files.walk(root.toPath).filter(p => Files.isRegularFile(p)).toArray
      .map(p => root.toPath.relativize(p.asInstanceOf[java.nio.file.Path]).toString)
      .count(p => p.endsWith(".parquet") && !p.startsWith(".") && !p.contains("/."))
  }

  /** Re-read every registry file through its source reader into the
    * canonical (table, frame, value fields) list Runner takes. */
  private def readRegistry(run: Run, files: Map[String, String]): Seq[(String, DataFrame, Seq[String])] = {
    val s = run.spark
    Registry.allConfigs.map { cfg =>
      val path = files(cfg.name)
      cfg.kind match {
        case Registry.Fred => run.span("sources.fred") {
          val (canon, snake) = FredSource.canonicalize(
            FredSource.process(FredSource.readObservations(s, path), cfg), cfg)
          (cfg.tableName, canon, Seq(snake))
        }
        case Registry.NyuStern => run.span("sources.xlsx") {
          (cfg.tableName, NyuSource.canonicalize(NyuSource.process(
            NyuSource.readSheet(s, path))), Registry.nyuValueFields)
        }
        case _ => run.span("sources.xls") {
          val grid = GridSource.readGrid(s, path, cfg.dataLocation)
          val (canon, snake) = GridSource.canonicalize(GridSource.processMonthly(grid, cfg), cfg)
          (cfg.tableName, canon, Seq(snake))
        }
      }
    }
  }

  /** Results must match the generator's (new, updated, revisions) per table. */
  private[perfbench] def countsMatch(results: Seq[Runner.DatasetResult],
                          expected: Map[String, (Long, Long, Long)]): Boolean =
    results.size == expected.size && results.forall { r =>
      r.status == "success" && expected.get(r.dataset).contains((r.newRows, r.updated, r.revisions))
    }

  /** The whole stored registry must equal the generator's state. */
  private[perfbench] def storeMatches(api: EngineApi, gen: RegistryGen): Boolean = {
    val state = gen.storeState
    val columns = Registry.allConfigs.filterNot(_.kind == Registry.NyuStern)
      .map(c => (c.tableName, c.tableName, gen.fields(c).head)) ++
      Registry.nyuValueFields.map(f => (f, Registry.nyuConfig.tableName, f))
    val rows = api.panelFull().collect()
    val dates = state.keySet.map(_._2)
    rows.length == dates.size && rows.forall { r =>
      val d = r.getAs[String]("date")
      columns.forall { case (column, table, field) =>
        same(num(r, column), state.get((table, d)).map(_(field)))
      }
    }
  }

  /** A registry store loaded from the generator's current files. */
  final class RegistryStore(run: Run, val dir: String, val gen: RegistryGen) {
    val clock = new Clock
    val inDir = s"$dir/in"
    var files: Map[String, String] = gen.write(inDir)
    val store = new TableStore(run.spark, s"$dir/store")
    val runner = new Runner(run.spark, store, () => clock.now)
    val api = new EngineApi(run.spark, store)

    /** Fill the empty store with the generator's current state through
      * TableStore, in the at-rest layout a cold load through the pipeline
      * leaves (declared decimal types, one file a table). The 26 writes run
      * on four threads: this is set-up, not the program's ingest path. */
    def populate(): Unit = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val state = gen.storeState
      def write(cfg: Registry.DatasetConfig): Unit = {
        val fields = gen.fields(cfg)
        val rows = state.toSeq.collect { case ((t, d), v) if t == cfg.tableName =>
          Row.fromSeq(d +: fields.map(v)) }.sortBy(_.getString(0))
        val schema = StructType(StructField("date", StringType) +: fields.map(StructField(_, DoubleType)))
        store.overwrite(cfg.tableName, SinkTypes.sinkCast(
          run.spark.createDataFrame(run.spark.sparkContext.parallelize(rows, 1), schema),
          cfg.tableName), maxFiles = 1)
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.traverse(Registry.allConfigs)(c => Future(write(c))), 10.minutes)
      finally pool.shutdownNow()
    }

    def load(): Seq[Runner.DatasetResult] = {
      val datasets = readRegistry(run, files)
      run.span("pipeline.run_all")(runner.runAllParallel(datasets))
    }
  }

  /** Figures every workload reports for its timed operation, from that
    * span only: Spark jobs, task time, driver idle time and shuffle bytes,
    * and the share of the operation's wall its layer spans (its direct
    * children) account for, which must be at least 90%. */
  private def commonLayers(run: Run, t: Tracer, op: Span): Unit = {
    val jobs = t.jobsIn(op)
    run.metrics("spark.jobs_per_op") = jobs.size
    run.metrics("spark.task_s_per_op") = jobs.map(_.taskMs).sum / 1e3
    run.metrics("spark.driver_idle_ms_per_op") = (op.dur - t.busyNs(op)) / 1e6
    run.metrics("spark.shuffle_mb_per_op") = jobs.map(_.shuffleBytes).sum / 1e6
    val coverage = t.children(op).map(_.dur).sum.toDouble / op.dur
    run.metrics("trace.span_coverage") = coverage
    run.check(f"layer spans cover the operation ($coverage%.3f)")(coverage >= 0.9)
  }

  /** Store writes that started inside the span (generator output excluded). */
  private def storeWrites(t: Tracer, s: Span): Seq[WriteRec] =
    t.queriesIn(s).flatMap(_.writes).filter(_.path.contains("/store/"))

  // ------------------------------------------------------ daily_refresh

  val CompactRevisionsOver = 1
  /** The analyst's reads of the long series after the day, in seeded order. */
  val ReadKinds: Seq[String] = Seq("point_lookup", "latest", "revision_history")

  /** Issue one read of the series; returns the check of its answer, to run
    * outside the timing. */
  private def historyRead(api: EngineApi, hist: HistoryGen, kind: String,
                          rnd: scala.util.Random): () => Boolean = kind match {
    case "point_lookup" =>
      val d = rnd.nextInt(hist.days)
      val got = api.pointLookup(HistoryGen.Table, HistoryGen.date(d))
      () => got.flatMap(num(_, "value")).exists(near(_, hist.values(d)))
    case "latest" =>
      val got = api.latest(HistoryGen.Table).collect()
      () => got.length == 1 && got(0).getAs[String]("date") == HistoryGen.date(hist.days - 1) &&
        num(got(0), "value").exists(near(_, hist.values.last))
    case "revision_history" =>
      // every batch has its own revision time: newest batch first, then data_date desc
      val limit = 1 + rnd.nextInt(20)
      val got = api.revisionHistory(Some(HistoryGen.Table), limit = Some(limit)).collect()
      () => {
        val want = hist.revisions.toSeq.sortWith((x, y) =>
          if (x._4 != y._4) x._4 > y._4 else x._1 > y._1).take(limit)
        got.length == want.size && got.zip(want).forall { case (r, (d, o, n, _)) =>
          r.getAs[String]("data_date") == d && num(r, "old_value").exists(near(_, o)) &&
            num(r, "new_value").exists(near(_, n))
        }
      }
  }

  /** The stored revision log of the series must hold exactly the
    * generator's revisions. */
  private[perfbench] def revisionsMatch(revs: Seq[(String, Double, Double)], hist: HistoryGen): Boolean =
    revs.sorted == hist.revisions.map(r => (r._1, r._2, r._3)).toSeq.sorted

  /** One store holds the 26 registry tables and a long year-partitioned
    * daily series. Each set-up repetition generates the registry inputs and
    * fills a fresh store with the registry's and the series' history. The
    * timed operation is one day: the registry files are rewritten with
    * revised cells and a new month and the day's batch of the series is
    * staged (not timed); then, with the clock past the 24 h gate, all 26
    * files are re-read and merged (Runner.runAllParallel), the batch is
    * drained through StreamIngest.ingestPartitioned, and the analyst's
    * reads of the series are served. */
  def dailyRefresh(run: Run): Unit = {
    val s = run.spark
    import s.implicits._
    var rs: RegistryStore = null
    var hist: HistoryGen = null
    for (i <- 1 to SetupReps) run.setup("setup") {
      rs = new RegistryStore(run, s"${run.work}/daily_setup$i", new RegistryGen(run.seed))
      hist = new HistoryGen(run.seed)
      rs.populate()
      rs.store.overwritePartitions(HistoryGen.Table, hist.baseRows.toDF("date", "value")
        .withColumn("__year", substring(col("date"), 1, 4).cast("int")), Seq("__year"))
    }
    val inDir = Files.createDirectories(Paths.get(rs.dir, "history_in"))
    val schema = StructType(Seq(StructField("date", StringType), StructField("value", DoubleType)))
    val rnd = new scala.util.Random(run.seed ^ 0x9e3779b97f4a7c15L)

    val expected = rs.gen.advance()
    val (batch, (newRows, _, revisions)) = hist.nextBatch()
    run.span("generate") {
      rs.files = rs.gen.write(rs.inDir)
      HistoryGen.writeBatch(s, batch, s"${rs.dir}/gen", inDir.resolve("batch.parquet"))
    }
    rs.clock.nextDay()
    val (results, query, reads) = run.timed {
      val results = rs.load()
      val query = run.span("streaming.drain") {
        val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
        val q = StreamIngest.ingestPartitioned(stream, rs.store, HistoryGen.Table, "value",
          s"${rs.dir}/_ckpt", () => rs.clock.now, compactRevisionsOver = CompactRevisionsOver)
        q.awaitTermination()
        q
      }
      val reads = rnd.shuffle(ReadKinds).map(kind =>
        kind -> run.span(s"api.$kind")(historyRead(rs.api, hist, kind, rnd)))
      (results, query, reads)
    }
    run.check("registry counts")(countsMatch(results, expected))
    run.check("stream batch")(
      query.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq == Seq(batch.size.toLong))
    val agg = rs.store.read(HistoryGen.Table).agg(count(lit(1)), sum("value")).head()
    val added = agg.getLong(0) - HistoryGen.BaseDays
    run.check("series")(agg.getLong(0) == hist.days && near(agg.getDouble(1), hist.total))
    run.check("series new rows")(added == newRows)
    val revs = rs.store.read(Registry.RevisionsTable).filter(col("dataset") === HistoryGen.Table)
      .select("data_date", "old_value", "new_value").as[(String, Double, Double)].collect()
    run.check("series revisions")(revs.length == revisions && revisionsMatch(revs.toSeq, hist))
    reads.foreach { case (kind, verify) => run.check(kind)(verify()) }
    run.check("stored registry")(storeMatches(rs.api, rs.gen))
    run.check("registry revision log") {
      val logged = rs.store.read(Registry.RevisionsTable).filter(col("dataset") =!= HistoryGen.Table)
        .select("dataset", "data_date", "value_field", "old_value", "new_value")
        .as[(String, String, String, Double, Double)].collect().toSeq.sorted
      val want = rs.gen.revisions.toSeq.sorted
      logged.length == want.length && logged.zip(want).forall { case (a, b) =>
        a._1 == b._1 && a._2 == b._2 && a._3 == b._3 && near(a._4, b._4) && near(a._5, b._5)
      }
    }
    for (t <- run.tracer; op <- run.opSpan) {
      commonLayers(run, t, op)
      val kids = t.children(op)
      def only(name: String) = kids.find(_.name == name).get
      for ((kind, name) <- Seq("xls" -> "sources.xls", "fred" -> "sources.fred", "xlsx" -> "sources.xlsx"))
        run.metrics(s"sources.${kind}_read_ms") = kids.filter(_.name == name).map(_.dur).sum / 1e6
      run.metrics("sources.jobs") =
        kids.filter(_.name.startsWith("sources.")).map(t.jobsIn(_).size).sum
      val runAll = only("pipeline.run_all")
      run.metrics("pipeline.run_all_ms") = runAll.dur / 1e6
      run.metrics("pipeline.jobs") = t.jobsIn(runAll).size
      run.metrics("pipeline.task_s") = t.jobsIn(runAll).map(_.taskMs).sum / 1e3
      run.metrics("pipeline.driver_idle_ms") = (runAll.dur - t.busyNs(runAll)) / 1e6
      run.metrics("pipeline.datasets_ok") = results.count(_.status == "success")
      run.metrics("pipeline.datasets_error") = results.count(_.status == "error")
      // the series: one value field, so every updated row carries one revision
      run.metrics("merge.new_rows") = added
      run.metrics("merge.revisions") = revs.length
      run.metrics("merge.updated_rows") = revs.length
      val writes = storeWrites(t, op)
      val seriesWrites = writes.filter(_.path.contains(s"/${HistoryGen.Table}"))
      run.metrics("merge.rows_written_per_changed_row") =
        seriesWrites.map(_.rows).sum.toDouble / (added + revs.length)
      val drain = only("streaming.drain")
      run.metrics("merge.rows_per_s") = batch.size / (drain.dur / 1e9)
      val progress = t.progressIn(op).filter(_.numInputRows > 0)
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val batches = progress.size.toDouble
      run.metrics("streaming.add_batch_ms_p50") = Stats.median(progress.map(dur(_, "addBatch")))
      run.metrics("streaming.overhead_ms_p50") =
        Stats.median(progress.map(p => dur(p, "triggerExecution") - dur(p, "addBatch")))
      run.metrics("streaming.batches") = batches
      run.metrics("streaming.jobs_per_batch") = t.jobsIn(drain).size / batches
      run.metrics("streaming.shuffle_mb_per_batch") =
        t.jobsIn(drain).map(_.shuffleBytes).sum / 1e6 / batches
      run.metrics("store.partitions_touched_per_batch") = seriesWrites.map(_.parts).sum / batches
      run.metrics("store.compactions") =
        writes.count(_.path.contains(s".${Registry.RevisionsTable}.__tmp_"))
      // canonical bytes the day ingests: every registry cell re-read, and the batch
      val userBytes = rs.gen.storeState.values.map(10.0 + 8.0 * _.size).sum + batch.size * 18.0
      run.metrics("store.bytes_written_per_user_byte") = writes.map(_.bytes).sum / userBytes
      run.metrics("store.data_files") = fileCount(rs.store.path("")) -
        fileCount(rs.store.path(Registry.RevisionsTable))
      run.metrics("store.revision_log_files") = fileCount(rs.store.path(Registry.RevisionsTable))
      val calls = kids.filter(_.name.startsWith("api."))
      calls.foreach(c => run.metrics(s"${c.name}_ms_p50") = c.dur / 1e6)
      run.metrics("api.jobs_per_call") = Stats.mean(calls.map(t.jobsIn(_).size.toDouble))
      val scans = calls.flatMap(t.queriesIn).flatMap(_.scans)
      run.metrics("store.scan_mb_per_read") = scans.map(_.bytes).sum / 1e6 / calls.size
      run.metrics("store.files_read_per_read") = scans.map(_.files).sum.toDouble / calls.size
    }
  }

  // ------------------------------------------------------ curate_funnel

  private val FunnelStages = Seq(
    "funnelv2: bloom + g3 spine" -> "bloom_g3_spine",
    "funnelv2: kmeans fit" -> "kmeans_fit",
    "funnelv2: semdedup" -> "semdedup",
    "funnelv2: dsir resample" -> "dsir_resample",
    "" -> "unlabeled")

  /** Each set-up repetition derives the corpus from the sf0.1 copy. The
    * timed operation is the funnel through its JSONL delivery, collected:
    * a batch job that runs in a fresh JVM, JIT warm-up included. Its output
    * is exported for the DuckDB oracle (run.py) after the timing. */
  def curateFunnel(run: Run): Unit = {
    val s = run.spark
    var inDir = ""
    var gen: CorpusGen = null
    for (i <- 1 to SetupReps) run.setup("setup") {
      inDir = s"${run.work}/corpus_setup$i"
      gen = new CorpusGen(run.seed, CorpusGen.load(s, run.data))
      gen.write(s, inDir)
    }
    val funnel = SparkEntry.queries("curate_corpus_v2")
    val (schema, rows) = run.timed {
      val df = run.span("ops.funnel")(funnel(s, inDir))
      run.span("ops.collect")((df.schema, df.collect().toSeq))
    }
    run.check("funnel output")(rows.nonEmpty && rows.size < gen.docCount)
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"${run.work}/funnel_out")
    Files.writeString(Paths.get(s"${run.work}/funnel_oracle.sql"),
      SparkEntry.oracleSql("curate_corpus_v2"))
    Files.writeString(Paths.get(s"${run.work}/funnel_in"), inDir)
    for (t <- run.tracer; op <- run.opSpan) {
      commonLayers(run, t, op)
      val jobs = t.jobsIn(op)
      for ((label, name) <- FunnelStages) {
        val js = jobs.filter(_.desc == label)
        run.metrics(s"ops.$name.busy_s") = Tracer.unionNs(js.map(j => (j.start, j.end))) / 1e9
        run.metrics(s"ops.$name.jobs") = js.size
      }
      run.metrics("ops.task_s") = jobs.map(_.taskMs).sum / 1e3
      run.metrics("ops.driver_idle_s") = (op.dur - t.busyNs(op)) / 1e9
      run.metrics("ops.spill_mb") = jobs.map(_.spillBytes).sum / 1e6
      run.metrics("ops.shuffle_mb") = jobs.map(_.shuffleBytes).sum / 1e6
      run.metrics("ops.docs_kept_ratio") = rows.size.toDouble / gen.docCount
    }
  }
}

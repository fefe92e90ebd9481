package graft

import graft.config.Registry
import graft.pipeline.Runner
import graft.sources.GridSource
import graft.store.TableStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** End-to-end lifecycle (VERDICT round-1 item 4): two consecutive runs
  * produce (N new, 0 updated) then (0 new, 0 updated); the 24h gate skips
  * within the window; a revised cell produces exactly one revision. */
class RunnerSpec extends SparkSuite {

  private def newEnv(t0: String = "2025-06-01 00:00:00") = {
    val dir = Files.createTempDirectory("graft-run").toString
    val store = new TableStore(spark, dir)
    var nowV = Timestamp.valueOf(t0)
    val runner = new Runner(spark, store, () => nowV)
    (store, runner, (t: String) => nowV = Timestamp.valueOf(t))
  }

  private val cfg = Registry.edbConfigs.find(_.name == "auto_sales").get
  private def canonical() = {
    val grid = GridSource.readGrid(spark, "fixtures/edb_auto_sales.csv", cfg.dataLocation)
    GridSource.canonicalize(GridSource.processMonthly(grid, cfg), cfg)
  }

  test("first run inserts all rows; identical re-run (after gate) changes nothing") {
    val (store, runner, setNow) = newEnv()
    val (canon, snake) = canonical()
    val r1 = runner.runDataset(cfg.tableName, canon, Seq(snake))
    assert(r1.status == "success" && r1.newRows == 119 && r1.updated == 0)
    assert(store.read(cfg.tableName).count() == 119)

    setNow("2025-06-02 01:00:00") // past the 24h gate
    val r2 = runner.runDataset(cfg.tableName, canon, Seq(snake))
    assert(r2.status == "success" && r2.newRows == 0 && r2.updated == 0 && r2.revisions == 0)
  }

  test("24h gate: re-run within the window is skipped") {
    val (_, runner, setNow) = newEnv()
    val (canon, snake) = canonical()
    assert(runner.runDataset(cfg.tableName, canon, Seq(snake)).status == "success")
    setNow("2025-06-01 10:00:00") // 10h later — inside the window
    assert(runner.runDataset(cfg.tableName, canon, Seq(snake)).status == "skipped")
    setNow("2025-06-02 00:00:00") // exactly 24h — boundary allows
    assert(runner.runDataset(cfg.tableName, canon, Seq(snake)).status == "success")
  }

  test("revised value: 1 updated, 1 revision row in datarevisions") {
    val (store, runner, setNow) = newEnv()
    val (canon, snake) = canonical()
    runner.runDataset(cfg.tableName, canon, Seq(snake))
    setNow("2025-06-03 00:00:00")
    val revised = canon.withColumn(snake,
      when(col("date") === "2015-07-01", col(snake) + 100).otherwise(col(snake)))
    val r = runner.runDataset(cfg.tableName, revised, Seq(snake))
    assert(r.newRows == 0 && r.updated == 1 && r.revisions == 1)
    val revs = store.read(Registry.RevisionsTable).collect()
    assert(revs.length == 1)
    val row = revs.head
    assert(row.getAs[String]("dataset") == cfg.tableName)
    assert(row.getAs[String]("data_date") == "2015-07-01")
    assert(row.getAs[String]("value_field") == snake)
    assert(row.getAs[Double]("new_value") - row.getAs[Double]("old_value") == 100.0)
    // store now holds the revised value
    val v = store.read(cfg.tableName)
      .filter(col("date") === "2015-07-01").collect().head.getAs[Double](snake)
    assert(v == 7987.0)
  }

  test("partitioned merge: only touched year partitions are rewritten") {
    val (store, runner, setNow) = newEnv()
    val (canon, snake) = canonical()
    val r1 = runner.runDatasetPartitioned(cfg.tableName, canon, Seq(snake))
    assert(r1.status == "success" && r1.newRows == 119)
    val tableDir = new java.io.File(store.path(cfg.tableName))
    def partFiles(year: Int) =
      new java.io.File(tableDir, s"__year=$year").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    val files2020Before = partFiles(2020)
    assert(files2020Before.nonEmpty)

    setNow("2025-06-03 00:00:00")
    // revise one 2015 value: only __year=2015 may change
    val revised = canon.withColumn(snake,
      when(col("date") === "2015-07-01", col(snake) + 7).otherwise(col(snake)))
    val r2 = runner.runDatasetPartitioned(cfg.tableName, revised, Seq(snake))
    assert(r2.newRows == 0 && r2.updated == 1 && r2.revisions == 1)
    assert(partFiles(2020) == files2020Before) // untouched partition intact
    // the CDC rows themselves landed (not just the pre-write count): the
    // revision frame must be materialized BEFORE the partition overwrite,
    // or the post-insert cache refresh re-derives it from the merged files
    val prevs = store.read(Registry.RevisionsTable).collect()
    assert(prevs.length == 1)
    assert(prevs.head.getAs[String]("data_date") == "2015-07-01")
    assert(prevs.head.getAs[Double]("new_value") -
      prevs.head.getAs[Double]("old_value") == 7.0)

    // read back: partition pruning on __year, revised value present,
    // unchanged values preserved
    val out = store.read(cfg.tableName)
    assert(out.count() == 119)
    assert(out.filter(col("date") === "2015-07-01").collect()
      .head.getAs[Double](snake) == 7894.0)

    // identical re-run: a no-op merge writes NOTHING (classify only)
    setNow("2025-06-05 00:00:00")
    val files2015 = partFiles(2015)
    val r3 = runner.runDatasetPartitioned(cfg.tableName, revised, Seq(snake))
    assert(r3.status == "success" && r3.newRows == 0 && r3.updated == 0)
    assert(partFiles(2015) == files2015 && partFiles(2020) == files2020Before)
  }

  test("declared DECIMAL(p,s) at rest, double on the engine surface") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val (store, runner, setNow) = newEnv()
    val gcfg = Registry.edbConfigs.find(_.name == "gas_price").get
    assert(gcfg.decimal.contains((12, 2))) // config.py:97 value_type
    val grid = GridSource.readGrid(spark, "fixtures/edb_gas_price.csv", gcfg.dataLocation)
    val (canon, snake) =
      GridSource.canonicalize(GridSource.processMonthly(grid, gcfg), gcfg)
    runner.runDataset(gcfg.tableName, canon, Seq(snake))
    // at rest: parquet carries the DDL-declared DecimalType (§1.4 fidelity)
    val atRest = spark.read.parquet(store.path(gcfg.tableName))
    assert(atRest.schema(snake).dataType == DecimalType(12, 2))
    // engine surface: the API normalizes back to the double the oracles pin
    val api = new graft.api.EngineApi(spark, store)
    assert(api.series(gcfg.tableName).schema(snake).dataType == DoubleType)
    // the decimal round-trip is value-preserving: a re-run of identical
    // data against the decimal-at-rest store is still a clean no-op (no
    // spurious updates from sink rounding)
    setNow("2025-06-03 00:00:00")
    val r2 = runner.runDataset(gcfg.tableName, canon, Seq(snake))
    assert(r2.status == "success" && r2.newRows == 0 && r2.updated == 0 &&
      r2.revisions == 0)
  }

  test("legacy double-at-rest tables keep their layout — no mixed-type partitions") {
    import org.apache.spark.sql.types.DoubleType
    import spark.implicits._
    val (store, runner, _) = newEnv()
    val gcfg = Registry.edbConfigs.find(_.name == "gas_price").get
    // pre-policy store: plain double files in a year-partitioned layout
    val legacy = Seq(("2023-01-01", 1.25), ("2024-01-01", 2.25))
      .toDF("date", "price")
      .withColumn("__year", substring(col("date"), 1, 4).cast("int"))
    store.overwritePartitions(gcfg.tableName, legacy, Seq("__year"))
    // a merge touching only 2024 must keep the WHOLE table double —
    // writing decimal into one partition while 2023 stays double would
    // make every subsequent read of the table fail on conflicting
    // physical types
    val batch = Seq(("2024-01-01", 2.75), ("2024-02-01", 3.25))
      .toDF("date", "price")
    val r = runner.runDatasetPartitioned(gcfg.tableName, batch, Seq("price"))
    assert(r.status == "success" && r.updated == 1 && r.newRows == 1)
    val atRest = spark.read.parquet(store.path(gcfg.tableName))
    assert(atRest.schema("price").dataType == DoubleType)
    assert(atRest.count() == 3) // table still readable end to end
    // the whole-table merge path honors the same policy
    val r2 = runner.runDataset(gcfg.tableName, batch, Seq("price"), gateHours = 0)
    assert(r2.status == "success")
    assert(spark.read.parquet(store.path(gcfg.tableName))
      .schema("price").dataType == DoubleType)
  }

  test("declared scale is the value contract: finer-than-scale input never churns") {
    import spark.implicits._
    val (store, runner, setNow) = newEnv()
    val gcfg = Registry.edbConfigs.find(_.name == "gas_price").get
    val batch = Seq(("2024-01-01", 314.175)).toDF("date", "price")
    val r1 = runner.runDataset(gcfg.tableName, batch, Seq("price"))
    assert(r1.newRows == 1)
    // stored snapped to DECIMAL(12,2) — what the declared SQL column
    // would hold — and read back double on the engine surface
    val api = new graft.api.EngineApi(spark, store)
    val stored = api.pointLookup(gcfg.tableName, "2024-01-01")
      .get.getAs[Double]("price")
    assert(stored == 314.18)
    // the SAME raw value re-ingested compares equal against the snapped
    // row: no spurious update, no revision, ever (the r12 review's churn
    // scenario — rounding error 0.005 > the 0.001 merge tolerance)
    setNow("2025-06-03 00:00:00")
    val r2 = runner.runDataset(gcfg.tableName, batch, Seq("price"))
    assert(r2.status == "success" && r2.newRows == 0 && r2.updated == 0 &&
      r2.revisions == 0)
  }

  test("migrateDeclared: a legacy double table adopts the declared layout once, atomically") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import spark.implicits._
    val (store, runner, _) = newEnv()
    val gcfg = Registry.edbConfigs.find(_.name == "gas_price").get
    // pre-policy store: plain double files in a year-partitioned layout —
    // the layout writesDeclared pins forever (the legacy test above)
    val legacy = Seq(("2023-01-01", 1.256), ("2024-01-01", 2.25))
      .toDF("date", "price")
      .withColumn("__year", substring(col("date"), 1, 4).cast("int"))
    store.overwritePartitions(gcfg.tableName, legacy, Seq("__year"))
    assert(spark.read.parquet(store.path(gcfg.tableName))
      .schema("price").dataType == DoubleType)
    // the one-shot whole-table rewrite opts the table into the policy
    assert(graft.store.SinkTypes.migrateDeclared(
      store, gcfg.tableName, partCols = Seq("__year")))
    val atRest = spark.read.parquet(store.path(gcfg.tableName))
    assert(atRest.schema("price").dataType == DecimalType(12, 2))
    // partitioned layout survives the atomic swap (not flattened)
    assert(new java.io.File(store.path(gcfg.tableName), "__year=2023").isDirectory)
    // stored values snapped to the declared scale, double on the surface
    val api = new graft.api.EngineApi(spark, store)
    assert(api.pointLookup(gcfg.tableName, "2023-01-01")
      .get.getAs[Double]("price") == 1.26)
    // idempotent: a second invocation (inventory-wide sweep) is a no-op,
    // as is a table with no declarations or no data
    assert(!graft.store.SinkTypes.migrateDeclared(store, gcfg.tableName))
    assert(!graft.store.SinkTypes.migrateDeclared(store, "not_a_table"))
    // post-migration merges write declared AND the original raw value
    // re-ingests as unchanged — migration snapped with the same cast
    // declaredRound applies, so adopting the policy can't churn the store
    val batch = Seq(("2023-01-01", 1.256), ("2025-01-01", 3.14159))
      .toDF("date", "price")
    val r = runner.runDatasetPartitioned(gcfg.tableName, batch, Seq("price"))
    assert(r.status == "success" && r.newRows == 1 && r.updated == 0 &&
      r.revisions == 0)
    assert(spark.read.parquet(store.path(gcfg.tableName))
      .schema("price").dataType == DecimalType(12, 2))
  }

  test("migrateDeclared never silently flattens a partitioned table") {
    import org.apache.spark.sql.types.DecimalType
    import spark.implicits._
    val (store, _, _) = newEnv()
    val gcfg = Registry.edbConfigs.find(_.name == "gas_price").get
    val legacy = Seq(("2023-01-01", 1.256), ("2024-01-01", 2.25))
      .toDF("date", "price")
      .withColumn("__year", substring(col("date"), 1, 4).cast("int"))
    store.overwritePartitions(gcfg.tableName, legacy, Seq("__year"))
    assert(store.partitionColumns(gcfg.tableName) == Seq("__year"))
    // empty partCols on a partitioned table: the on-disk layout is probed
    // and inherited — the table is NOT rewritten flat (a flattened table
    // plus a later partition-scoped write would build the mixed tree
    // Spark's partition discovery rejects as 'Conflicting directory
    // structures', i.e. an unreadable table)
    assert(graft.store.SinkTypes.migrateDeclared(store, gcfg.tableName))
    assert(new java.io.File(store.path(gcfg.tableName), "__year=2023").isDirectory)
    assert(store.partitionColumns(gcfg.tableName) == Seq("__year"))
    val atRest = spark.read.parquet(store.path(gcfg.tableName))
    assert(atRest.schema("price").dataType == DecimalType(12, 2))
    // partCols that contradict the existing layout fail loudly instead of
    // writing the conflicting tree; the table is untouched
    val fresh = newEnv()._1
    fresh.overwritePartitions(gcfg.tableName, legacy, Seq("__year"))
    intercept[IllegalArgumentException] {
      graft.store.SinkTypes.migrateDeclared(
        fresh, gcfg.tableName, partCols = Seq("date"))
    }
    assert(fresh.partitionColumns(gcfg.tableName) == Seq("__year"))
    assert(spark.read.parquet(fresh.path(gcfg.tableName))
      .schema("price").dataType != DecimalType(12, 2))
  }

  test("a value overflowing the declared precision fails loudly, never silently") {
    import spark.implicits._
    val (store, runner, _) = newEnv()
    val gcfg = Registry.edbConfigs.find(_.name == "gas_price").get
    // DECIMAL(12,2) holds at most 9999999999.99; ANSI mode makes the cast
    // throw rather than write NULL (silent, unrepairable data loss)
    val batch = Seq(("2024-01-01", 1.0e11)).toDF("date", "price")
    intercept[Exception] {
      runner.runDataset(gcfg.tableName, batch, Seq("price"))
    }
    // through the fetch contract the dataset records "error", run continues
    val r = runner.runFetched(gcfg.tableName, Some(Array[Byte](1)),
      _ => batch, Seq("price"))
    assert(r.status == "error")
  }

  test("empty input -> no_data, store untouched") {
    val (store, runner, _) = newEnv()
    val (canon, snake) = canonical()
    val r = runner.runDataset(cfg.tableName, canon.limit(0), Seq(snake))
    assert(r.status == "no_data")
    assert(!store.exists(cfg.tableName))
  }

  test("parallel runner: same results as serial, shared writes intact") {
    val (store, runner, setNow) = newEnv()
    val (canon, snake) = canonical()
    val gasCfg = Registry.edbConfigs.find(_.name == "gas_price").get
    val gasGrid = GridSource.readGrid(spark, "fixtures/edb_gas_price.csv", gasCfg.dataLocation)
    val (gasCanon, gasSnake) = GridSource.canonicalize(
      GridSource.processMonthly(gasGrid, gasCfg), gasCfg)
    val r1 = runner.runAllParallel(Seq(
      (cfg.tableName, canon, Seq(snake)),
      (gasCfg.tableName, gasCanon, Seq(gasSnake))))
    assert(r1.map(r => r.dataset -> r.newRows).toMap ==
      Map(cfg.tableName -> 119L, gasCfg.tableName -> 118L))
    // second parallel run with one revision in each dataset
    setNow("2025-06-03 00:00:00")
    val canonR = canon.withColumn(snake,
      when(col("date") === "2015-07-01", col(snake) + 5).otherwise(col(snake)))
    val gasR = gasCanon.withColumn(gasSnake,
      when(col("date") === "2015-08-01", col(gasSnake) + 5).otherwise(col(gasSnake)))
    val r2 = runner.runAllParallel(Seq(
      (cfg.tableName, canonR, Seq(snake)),
      (gasCfg.tableName, gasR, Seq(gasSnake))))
    assert(r2.forall(r => r.updated == 1 && r.revisions == 1))
    // shared revisions table got both datasets' rows in one append
    val revs = store.read(Registry.RevisionsTable).collect()
    assert(revs.length == 2)
    assert(revs.map(_.getAs[String]("dataset")).toSet ==
      Set(cfg.tableName, gasCfg.tableName))
  }

  test("parallel runner: a failing dataset records error; the others' revisions and last_run commit") {
    val (store, runner, setNow) = newEnv()
    val (canon, snake) = canonical()
    runner.runDataset(cfg.tableName, canon, Seq(snake))
    setNow("2025-06-03 00:00:00")
    val revised = canon.withColumn(snake,
      when(col("date") === "2015-07-01", col(snake) + 5).otherwise(col(snake)))
    val gasCfg = Registry.edbConfigs.find(_.name == "gas_price").get
    val gasGrid = GridSource.readGrid(spark, "fixtures/edb_gas_price.csv", gasCfg.dataLocation)
    val (gasCanon, gasSnake) = GridSource.canonicalize(
      GridSource.processMonthly(gasGrid, gasCfg), gasCfg)
    // a frame that throws when evaluated: one bad row, as a broken source gives
    val thrower = gasCanon.withColumn(gasSnake,
      when(col("date") === "2015-08-01", raise_error(lit("bad cell")))
        .otherwise(col(gasSnake)))
    val results = runner.runAllParallel(Seq(
      (cfg.tableName, revised, Seq(snake)),
      (gasCfg.tableName, thrower, Seq(gasSnake)))).map(r => r.dataset -> r).toMap
    assert(results(gasCfg.tableName).status == "error")
    assert(results(cfg.tableName).status == "success" &&
      results(cfg.tableName).revisions == 1)
    // the revised dataset's table, revision row and last_run all landed
    assert(store.read(cfg.tableName).filter(col("date") === "2015-07-01")
      .collect().head.getAs[Double](snake) == 7892.0)
    val revs = store.read(Registry.RevisionsTable).collect()
    assert(revs.map(r => (r.getAs[String]("dataset"), r.getAs[String]("data_date"),
      r.getAs[Double]("old_value"), r.getAs[Double]("new_value"))).toSeq ==
      Seq((cfg.tableName, "2015-07-01", 7887.0, 7892.0)))
    val reread = new Runner(spark, store, () => Timestamp.valueOf("2025-06-03 00:00:00"))
    assert(reread.getLastRun(cfg.tableName).contains(Timestamp.valueOf("2025-06-03 00:00:00")))
    assert(reread.getLastRun(gasCfg.tableName).isEmpty)
    assert(!store.exists(gasCfg.tableName))
  }

  // the two table layouts behind one merge: each law below holds on both
  private val layouts = Seq[(String,
      (Runner, String, DataFrame, Seq[String], Int) => Runner.DatasetResult)](
    "whole-table" -> ((r, t, df, vf, g) => r.runDataset(t, df, vf, g)),
    "partitioned" -> ((r, t, df, vf, g) => r.runDatasetPartitioned(t, df, vf, g)))

  /** Every file under the store, with its size and mtime. */
  private def storeFiles(store: TableStore): Set[(String, Long, Long)] = {
    val root = java.nio.file.Paths.get(store.path("x")).getParent
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
      (root.relativize(f).toString, Files.size(f),
        Files.getLastModifiedTime(f).toMillis)).toSet
    finally walk.close()
  }

  /** `n` monthly rows from 2020-01 on, from a non-local source, each value
    * (its month index) passed through `value`. */
  private def monthly(n: Int = 48, value: Column => Column = identity): DataFrame =
    spark.range(0, n, 1, 2).select(
      date_format(add_months(lit("2020-01-01").cast("date"), col("id").cast("int")),
        "yyyy-MM-dd").as("date"),
      value(col("id").cast("double")).as("value"))

  for ((layout, run) <- layouts) {
    test(s"$layout: an updated row's null or NaN other field is stored verbatim") {
      import spark.implicits._
      val (store, runner, _) = newEnv()
      val base = Seq(("2024-01-01", Some(1.0), Some(2.0)),
        ("2024-02-01", Some(3.0), Some(4.0))).toDF("date", "a", "b")
      run(runner, "parity", base, Seq("a", "b"), 0)
      // `a` is null or NaN, so only `b` counts and is logged; the stored
      // row is still the whole incoming row (the PARITY NOTE in SmartUpdate)
      val inc = Seq(("2024-01-01", Some(Double.NaN), Some(5.0)),
        ("2024-02-01", None, Some(6.0))).toDF("date", "a", "b")
      val r = run(runner, "parity", inc, Seq("a", "b"), 0)
      assert(r.status == "success" && r.newRows == 0 && r.updated == 2 &&
        r.revisions == 2)
      val rows = store.read("parity").orderBy("date").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Double]("a").isNaN && rows(0).getAs[Double]("b") == 5.0)
      assert(rows(1).isNullAt(rows(1).fieldIndex("a")) &&
        rows(1).getAs[Double]("b") == 6.0)
      assert(store.read(Registry.RevisionsTable).collect()
        .map(_.getAs[String]("value_field")).toSeq == Seq("b", "b"))
    }

    test(s"$layout: a merge evaluates its incoming frame exactly once") {
      val (store, runner, _) = newEnv()
      run(runner, "once", monthly(), Seq("value"), 0)
      val acc = spark.sparkContext.longAccumulator(s"$layout rows")
      val tap = udf((d: String) => { acc.add(1); d })
      // 12 rows change (2021), 4 are new (2024): a merge that writes, so
      // the layout's read, the diff and the write all run; the tap is on
      // the key, which every read of the frame needs
      val next = monthly(52, v => when(v.between(12, 23), v + 100).otherwise(v))
        .withColumn("date", tap(col("date")))
      val r = run(runner, "once", next, Seq("value"), 0)
      assert(r.status == "success" && r.newRows == 4 && r.updated == 12)
      assert(acc.value == 52L) // every source row, tapped once
      assert(store.read("once").count() == 52)
    }

    test(s"$layout: a closed gate gives no_data or skipped and touches nothing") {
      val (store, runner, setNow) = newEnv()
      assert(run(runner, "gated", monthly(), Seq("value"), 24).status == "success")
      val before = storeFiles(store)
      setNow("2025-06-01 10:00:00") // inside the 24 h window
      assert(run(runner, "gated", monthly().limit(0), Seq("value"), 24).status == "no_data")
      assert(run(runner, "gated", monthly(value = _ + 1), Seq("value"), 24).status == "skipped")
      assert(storeFiles(store) == before)
      assert(runner.getLastRun("gated").contains(Timestamp.valueOf("2025-06-01 00:00:00")))
    }
  }

  test("ingest fan-out derives from the session, bounded [2,16]") {
    // pin CONCRETE values at the load-bearing widths, not the formula
    // re-evaluated against itself: 32 (the production local[32] session —
    // must reproduce the round-10 measured optimum of 8), the floor, the
    // cap, and the boundaries around both
    assert(graft.pipeline.Runner.ingestParallelismFor(32) == 8)
    assert(graft.pipeline.Runner.ingestParallelismFor(1) == 2)   // floor
    assert(graft.pipeline.Runner.ingestParallelismFor(8) == 2)
    assert(graft.pipeline.Runner.ingestParallelismFor(12) == 3)
    assert(graft.pipeline.Runner.ingestParallelismFor(64) == 16) // cap
    assert(graft.pipeline.Runner.ingestParallelismFor(256) == 16)
    // and the instance method routes through the session's width
    val (_, runner, _) = newEnv()
    assert(runner.defaultIngestParallelism ==
      graft.pipeline.Runner.ingestParallelismFor(
        spark.sparkContext.defaultParallelism))
  }

  test("run summary persists one row per dataset") {
    val (store, runner, _) = newEnv()
    val (canon, snake) = canonical()
    val r1 = runner.runDataset(cfg.tableName, canon, Seq(snake))
    val summary = runner.summarize(Seq(r1), durationSecs = 1.5)
    assert(summary.count() == 1)
    assert(store.read("runsummary").collect().head.getAs[String]("status") == "success")
  }
}

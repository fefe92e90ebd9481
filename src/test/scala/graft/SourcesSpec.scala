package graft

import graft.config.Registry
import graft.sources.{FredSource, GridSource, NyuSource}
import org.apache.spark.sql.functions._

/** Fixture -> long-form golden tests for the three source families
  * (SURVEY.md §7.2 step 5; VERDICT round-1 item 3). */
class SourcesSpec extends SparkSuite {

  private val fx = "fixtures"
  private def autoCfg = Registry.edbConfigs.find(_.name == "auto_sales").get
  private def gasCfg = Registry.edbConfigs.find(_.name == "gas_price").get

  test("A1 range parsing") {
    assert(GridSource.parseRange("A6:K18") == (5, 0, 17, 10))
    assert(GridSource.parseRange("B2:D4") == (1, 1, 3, 3))
  }

  test("snake_case canonicalization incl. IndividualLoans special case") {
    assert(Registry.snakeCase("Sales") == "sales")
    assert(Registry.snakeCase("IndividualLoans") == "individual_loans")
    assert(Registry.snakeCase("Index") == "index")
    assert(Registry.snakeCase("SomeCamelCase") == "some_camel_case")
  }

  test("EDB monthly int grid: slice, promote, melt, fiscal dates, rounding") {
    val grid = GridSource.readGrid(spark, s"$fx/edb_auto_sales.csv", autoCfg.dataLocation)
    assert(grid.count() == 13) // header + 12 months
    val out = GridSource.processMonthly(grid, autoCfg)
    // 120 cells minus the one corrupted cell ('968O', Oct FY2019)
    assert(out.count() == 119)
    val rows = out.collect()
    // July FY2016 -> 2015-07-01 (fiscal second half -> year before)
    assert(rows.head.getAs[java.sql.Date]("date").toString == "2015-07-01")
    assert(rows.head.getAs[Long]("Sales") == 7887L)
    // January FY2016 -> 2016-01-01 (first half -> same year)
    val jan16 = out.filter(col("date") === "2016-01-01").collect()
    assert(jan16.length == 1 && jan16.head.getAs[Long]("Sales") == 7547L)
    // int type: stored as longs
    assert(out.schema("Sales").dataType.typeName == "long")
  }

  test("EDB monthly float grid: junk and empty cells are dropped") {
    val grid = GridSource.readGrid(spark, s"$fx/edb_gas_price.csv", gasCfg.dataLocation)
    val out = GridSource.processMonthly(grid, gasCfg)
    assert(out.count() == 118) // 120 - 'n/a' - empty
    assert(out.schema("Price").dataType.typeName == "double")
    assert(out.filter(col("date") === "2025-04-01").isEmpty) // the n/a cell
  }

  test("EDB quarterly grid: labels trimmed, Q4 rollover dates") {
    val cfg = Registry.DatasetConfig("individual_loans", "individualloans",
      "IndividualLoans", Registry.FloatType, Registry.Quarterly,
      dataLocation = "A6:K10")
    val grid = GridSource.readGrid(spark, s"$fx/edb_quarterly_loans.csv", cfg.dataLocation)
    val out = GridSource.processQuarterly(grid, cfg)
    assert(out.count() == 40) // 4 quarters x 10 fiscal years
    // ' Jul-Sep ' FY2016 -> 2015-10-01 (first day after quarter end, fy-1)
    val first = out.orderBy("date").collect().head
    assert(first.getAs[java.sql.Date]("date").toString == "2015-10-01")
    assert(first.getAs[Double]("IndividualLoans") == 101.5)
    // Oct-Dec FY2016 -> 2016-01-01 (year rollover)
    assert(out.filter(col("date") === "2016-01-01").count() == 1)
    val (canon, snake) = GridSource.canonicalize(out, cfg)
    assert(snake == "individual_loans")
    assert(canon.columns.toSeq == Seq("date", "individual_loans"))
  }

  test("FRED monthly: sentinel drop, observation_start filter, desc limit") {
    val cfg = Registry.fredConfigs.find(_.name == "federal_funds_rate").get
    val raw = FredSource.readObservations(spark, s"$fx/fred_federal_funds_rate.json")
    val out = FredSource.process(raw, cfg)
    val dates = out.collect().map(_.getAs[java.sql.Date]("date").toString)
    assert(dates.forall(_ >= "2014-01-01")) // pre-2014 rows filtered
    assert(dates.length == 127)             // 135 in window - 8 "." sentinels
    assert(out.schema("Rate").dataType.typeName == "double")
  }

  test("FRED quarterly: quarter-start -> first-of-month-after-quarter-end") {
    val cfg = Registry.fredConfigs.find(_.name == "real_gdp").get
    val raw = FredSource.readObservations(spark, s"$fx/fred_real_gdp.json")
    val out = FredSource.process(raw, cfg)
    val dates = out.collect().map(_.getAs[java.sql.Date]("date").toString)
    // 2014-01-01 (Q1) -> 2014-04-01; 2014-10-01 (Q4) -> 2015-01-01 rollover
    assert(dates.contains("2014-04-01"))
    assert(dates.contains("2015-01-01"))
    assert(dates.forall(d => d.endsWith("-01-01") || d.endsWith("-04-01") ||
      d.endsWith("-07-01") || d.endsWith("-10-01")))
  }

  test("FRED: a body without an observations array fails, never reads as empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fred")
    for ((name, body) <- Seq(
        "api_error.json" -> """{"error_code": 400, "error_message": "Bad Request"}""",
        "html.json" -> "<html>maintenance</html>")) {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      val e = intercept[Exception] {
        FredSource.readObservations(spark, f.toString).collect()
      }
      assert(e.getMessage.contains("no FRED observations array"), name)
    }
    // an empty array is a valid body with no rows
    val empty = dir.resolve("empty.json")
    java.nio.file.Files.write(empty, """{"observations": []}""".getBytes("UTF-8"))
    assert(FredSource.readObservations(spark, empty.toString).count() == 0)
  }

  test("NYU: fuzzy header resolution, percent heuristic, dropna-any policy") {
    val sheet = NyuSource.readSheet(spark, s"$fx/nyu_erp.csv")
    val out = NyuSource.process(sheet)
    val rows = out.collect()
    // reference dropna(): any missing cell kills the row -> 2024-05 (empty
    // erp + junk tbond), 2024-06 and 2024-07 (empty cells) all drop;
    // 2024-01..04 survive fully parsed
    assert(rows.length == 4)
    val jan = rows.head
    assert(jan.getAs[java.sql.Date]("date").toString == "2024-01-01")
    assert(math.abs(jan.getAs[Double]("tbond_rate") - 0.0396) < 1e-9)  // "3.96%"
    val feb = rows(1)
    assert(math.abs(feb.getAs[Double]("tbond_rate") - 0.0409) < 1e-9)  // 4.09 > 0.2
    val mar = rows(2)
    assert(math.abs(mar.getAs[Double]("tbond_rate") - 0.0425) < 1e-9)  // 0.0425 kept
    assert(rows.forall(r => Registry.nyuValueFields.forall(f => !r.isNullAt(r.fieldIndex(f)))))
  }

  test("DataSourceV2 edb-grid connector matches the driver-side reader") {
    // the fixture, and a twin whose header row carries a UTF-8 label that
    // a JVM default charset such as US-ASCII cannot decode
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$fx/edb_auto_sales.csv"), utf8)
    lines.set(5, "Año" + lines.get(5))
    val ano = java.nio.file.Files.createTempFile("graft-grid-utf8", ".csv")
    java.nio.file.Files.write(ano, lines, utf8)
    def grids(path: String) = {
      val v2 = spark.read.format("edb-grid")
        .option("dataLocation", autoCfg.dataLocation).load(path)
      (v2, GridSource.readGrid(spark, path, autoCfg.dataLocation))
    }
    for (path <- Seq(s"$fx/edb_auto_sales.csv", ano.toString)) {
      val (v2, v1) = grids(path)
      assert(v2.schema == v1.schema)
      val a = v2.orderBy("__row_idx").collect().map(_.toSeq).toSeq
      val b = v1.orderBy("__row_idx").collect().map(_.toSeq).toSeq
      assert(a == b, path)
    }
    assert(grids(ano.toString)._2.filter(col("__row_idx") === 0)
      .collect().head.getAs[String]("c0") == "Año")
    val (v2, _) = grids(s"$fx/edb_auto_sales.csv")
    // the full monthly pipeline works on the connector output unchanged
    val out = GridSource.processMonthly(v2, autoCfg)
    assert(out.count() == 119)
    // column pruning reaches the connector
    assert(v2.select("__row_idx").count() == 13)
  }

  test("DataSourceV2 edb-grid: vararg multi-file and directory loads") {
    // Spark encodes a vararg load as a JSON string array under `paths`;
    // a directory load must expand to one partition per contained file
    val dir = java.nio.file.Files.createTempDirectory("graft-v2-multi")
    for (n <- Seq("g1.csv", "g2.csv"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$fx/edb_auto_sales.csv"), dir.resolve(n))
    val single = spark.read.format("edb-grid")
      .option("dataLocation", autoCfg.dataLocation)
      .load(s"$dir/g1.csv").count()
    val multi = spark.read.format("edb-grid")
      .option("dataLocation", autoCfg.dataLocation)
      .load(s"$dir/g1.csv", s"$dir/g2.csv")
    assert(multi.count() == 2 * single)
    assert(multi.rdd.getNumPartitions == 2) // one partition per file
    val fromDir = spark.read.format("edb-grid")
      .option("dataLocation", autoCfg.dataLocation)
      .load(dir.toString)
    assert(fromDir.count() == 2 * single)
    // a comma in a filename is legal; the JSON paths decode must not split on it
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$fx/edb_auto_sales.csv"), dir.resolve("g,3.csv"))
    val withComma = spark.read.format("edb-grid")
      .option("dataLocation", autoCfg.dataLocation)
      .load(s"$dir/g,3.csv", s"$dir/g1.csv")
    assert(withComma.count() == 2 * single)
  }

  test("xlsx workbook path: grids parse identically to their CSV twins") {
    for ((base, loc) <- Seq("edb_auto_sales" -> autoCfg.dataLocation,
        "edb_gas_price" -> gasCfg.dataLocation,
        "edb_quarterly_loans" -> "A6:K10")) {
      val csv = GridSource.readGrid(spark, s"$fx/$base.csv", loc)
        .orderBy("__row_idx").collect().map(_.toSeq).toSeq
      val xlsx = GridSource.readGrid(spark, s"$fx/$base.xlsx", loc)
        .orderBy("__row_idx").collect().map(_.toSeq).toSeq
      assert(xlsx == csv, s"$base: xlsx grid differs from csv grid")
    }
  }

  test("xlsx workbook path: NYU sheet pipeline matches the CSV fixture") {
    val csvOut = NyuSource.process(NyuSource.readSheet(spark, s"$fx/nyu_erp.csv"))
      .collect().map(_.toSeq).toSeq
    val xlsxOut = NyuSource.process(NyuSource.readSheet(spark, s"$fx/nyu_erp.xlsx"))
      .collect().map(_.toSeq).toSeq
    assert(xlsxOut == csvOut)
  }

  test("xlsx writer round-trip: inline strings, numbers, sparse cells") {
    val tmp = java.nio.file.Files.createTempFile("graft-wb", ".xlsx").toString
    val grid = Vector(
      Vector("Header & <Co>", "2024", null, "-1.5e3"),
      Vector(null, null, null, null),
      Vector(" padded ", "42", "x\"y\"", null))
    graft.sources.XlsxWriter.write(tmp, grid)
    val back = graft.sources.XlsxReader.readFirstSheet(tmp)
    assert(back(0) == Vector("Header & <Co>", "2024", null, "-1.5e3"))
    assert(back(1).forall(_ == null))
    assert(back(2).take(3) == Vector(" padded ", "42", "x\"y\""))
  }

  test("NYU: unresolvable headers produce an empty frame, not a crash") {
    import spark.implicits._
    val bad = Seq(("x", "y")).toDF("colA", "colB")
    assert(NyuSource.process(bad).isEmpty)
  }

  test("JSONL sink/scan: hostile content round-trips; partition layout") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.sources.Jsonl
    // quotes, newlines, tabs, backslashes, unicode, JSON-looking text,
    // empty string, and a NULL — everything a document corpus can carry
    val rows = Seq(
      (1L, "he said \"hi\"\nsecond\tline", "en"),
      (2L, "back\\slash and emoji é中😀", "zh"),
      (3L, "{\"looks\": [\"like\", \"json\"]}", "en"),
      (4L, "", "en"),
      (5L, null.asInstanceOf[String], "de"))
    val df = rows.toDF("id", "text", "lang")
    val out = java.nio.file.Files.createTempDirectory("jsonl-rt").toString
    Jsonl.write(df, out, partitionBy = Seq("lang"))
    // partition columns live in the directory layout, not the lines
    assert(new java.io.File(s"$out/lang=en").isDirectory)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val back = Jsonl.read(spark, out, schema)
      .select($"id", $"text", $"lang".cast("string"))
      .collect().map(r => (r.getLong(0), r.get(1), r.getString(2))).toSet
    assert(back == rows.map(r => (r._1, r._2: Any, r._3)).toSet,
      s"round-trip mismatch: $back")
  }
}

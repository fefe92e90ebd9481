package perfbench

import graft.LocalSession
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.functions._

/** The benchmark's own checks: generators are deterministic in the seed, and
  * the output checks count a wrong answer. `SelfTest <work dir> <data dir>`;
  * exits 1 on any failure. */
object SelfTest {
  private var failures = List.empty[String]

  private def expect(name: String)(cond: => Boolean): Unit =
    if (cond) println(s"ok   $name") else { println(s"FAIL $name"); failures ::= name }

  /** Digest of every input file's bytes under `dir`, independent of file
    * names (Spark names part files with a random id). A `.xlsx` is digested
    * entry by entry: its zip container stamps each entry with the write time. */
  def digest(dir: String): String = {
    val files = Files.walk(Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
    val parts = files.map { p =>
      val bytes =
        if (p.toString.endsWith(".xlsx")) {
          val zip = new java.util.zip.ZipFile(p.toFile)
          try {
            val it = zip.entries()
            val out = new java.io.ByteArrayOutputStream
            while (it.hasMoreElements) {
              val e = it.nextElement()
              out.write(e.getName.getBytes("UTF-8"))
              out.write(zip.getInputStream(e).readAllBytes())
            }
            out.toByteArray
          } finally zip.close()
        } else Files.readAllBytes(p)
      MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
    }.sorted
    MessageDigest.getInstance("SHA-256").digest(parts.mkString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val data = args(1)
    var n = 0
    def dir() = { n += 1; s"$work/gen$n" }

    def registry(seed: Long): String = {
      val d = dir()
      val g = new RegistryGen(seed)
      g.write(s"$d/c0")
      g.advance()
      g.write(s"$d/c1")
      digest(d)
    }
    expect("registry inputs: same seed, same bytes")(registry(7) == registry(7))
    expect("registry inputs: other seed, other bytes")(registry(7) != registry(8))

    // busy time counts overlapping jobs once, so idle time is never negative
    expect("job-interval union")(
      Tracer.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L), (30L, 30L))) == 20L)

    val spark = LocalSession.build(defaultCpus = "2")
    def history(seed: Long): String = {
      val d = dir()
      val g = new HistoryGen(seed)
      Files.createDirectories(Paths.get(d, "in"))
      for (b <- 1 to 2)
        HistoryGen.writeBatch(spark, g.nextBatch()._1, s"$d/tmp$b", Paths.get(d, "in", s"b$b.parquet"))
      digest(s"$d/in")
    }
    expect("history batches: same seed, same bytes")(history(7) == history(7))
    expect("history batches: other seed, other bytes")(history(7) != history(8))

    def corpus(seed: Long): String = {
      val d = dir()
      new CorpusGen(seed, CorpusGen.load(spark, data)).write(spark, d)
      digest(d)
    }
    expect("corpus: same seed, same bytes")(corpus(7) == corpus(7))
    expect("corpus: other seed, other bytes")(corpus(7) != corpus(8))

    // the checkers: a correct answer passes, a corrupted one is counted
    val run = new Run(spark, work, 7, data, None)
    val rs = new Workloads.RegistryStore(run, dir(), new RegistryGen(7))
    rs.populate()
    val expected = rs.gen.advance()
    rs.files = rs.gen.write(rs.inDir)
    rs.clock.nextDay()
    val results = rs.load()
    expect("refresh counts pass")(run.check("counts")(Workloads.countsMatch(results, expected)))
    val off = results.head.copy(revisions = results.head.revisions + 1) +: results.tail
    run.check("corrupted counts")(Workloads.countsMatch(off, expected))
    expect("stored registry passes")(run.check("store")(Workloads.storeMatches(rs.api, rs.gen)))
    val table = "autosales"
    val changed = rs.store.read(table)
      .withColumn("sales", when(col("date") === "2020-01-01", col("sales") + 1).otherwise(col("sales")))
      .localCheckpoint()
    rs.store.overwrite(table, changed, maxFiles = 1)
    run.check("corrupted store")(Workloads.storeMatches(rs.api, rs.gen))
    val hist = new HistoryGen(7)
    hist.nextBatch()
    val revs = hist.revisions.map(r => (r._1, r._2, r._3)).toSeq
    expect("history revisions pass")(run.check("revisions")(Workloads.revisionsMatch(revs, hist)))
    run.check("corrupted revisions")(Workloads.revisionsMatch(
      revs.updated(0, revs.head.copy(_3 = revs.head._3 + 0.25)), hist))
    expect("every corrupted result is counted as failed")(run.attempted == 6 && run.failed == 3)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession construction for every driver-contract main (Verify,
  * Bench, Probe), so measurements and correctness dumps always run under
  * identical session settings — a config drift between mains would make
  * probe-published numbers incomparable with bench numbers. */
object LocalSession {
  def build(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // pinned, not inherited: SinkTypes' loud-overflow contract (declared
      // DECIMAL(p,s) overflow THROWS, never a silent NULL at rest) rides on
      // ANSI mode, which is default-true only on Spark 4.x — a cluster with
      // ANSI off would silently null exactly the values the policy protects
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // no spark.driver.memory here: in local mode the JVM is already
      // running, so that conf is inert (and would misreport the real
      // heap) — the actual -Xmx is set by build.sbt's forked javaOptions
      .config("spark.ui.enabled", "false")
      // static conf, default 100: the 88-query harness compiles several
      // hundred distinct WholeStageCodegen classes per pass, so the default
      // evicts and re-Janino-compiles continuously across interleaved bench
      // iterations — pure compilation churn billed to whichever query runs
      // next. Size it to hold the whole harness's generated classes once.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package perfbench

import graft.LocalSession
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run: set-up, the one timed operation, the output checks
  * and the metrics. A single client thread issues each call after the
  * previous one returned. With tracing on, the set-up and the operation are
  * traced. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
                val data: String, val tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  /** Wall time of the timed operation, and (traced) its span. */
  var opMs = Double.NaN
  var opSpan: Option[Span] = None

  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Count one checked outcome; a thrown exception is a failure too. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val good = try ok catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e"); false
    }
    if (!good) { failed += 1; if (failures.size < 20) failures += what }
    good
  }

  /** One set-up repetition. When traced, the listeners catch up before the
    * next step, so no set-up event is still in flight during the operation. */
  def setup(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    span(name)(body)
    setupSeconds += (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.drain())
  }

  /** The timed operation: the first run of the workload's operation in this
    * JVM, as a daily batch job runs, so JIT warm-up is part of it. Exactly
    * one per run, so the figure means the same whatever the operation
    * costs. When traced it is the span `op`, and the listeners catch up
    * before it returns. */
  def timed[A](body: => A): A = {
    require(opMs.isNaN, "one timed operation per run")
    val t0 = System.nanoTime()
    val r = span("op")(body)
    opMs = (System.nanoTime() - t0) / 1e6
    tracer.foreach { t => t.drain(); opSpan = t.named("op").lastOption }
    r
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Entry point: `--workload <name> --seed <n> --trace <0|1> --work <dir>
  * --data <dir>`. Writes `<work>/result.json` with the checks' counts and
  * the metrics; `run.py` turns that into the benchmark's output line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts("trace") == "1"
    val work = opts("work")
    val t0 = System.nanoTime()
    val spark = LocalSession.build(defaultCpus = "4")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val run = new Run(spark, work, opts("seed").toLong, opts("data"), tracer)
    val ok = try {
      Workloads.all(workload)(run)
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload aborted: $e")
        e.printStackTrace()
        false
    }
    if (ok) {
      run.metrics("setup_s") = sessionS + Stats.median(run.setupSeconds.toSeq)
      run.metrics("jvm.peak_rss_mb") = peakRssMb
      run.metrics("jvm.session_start_s") = sessionS
      run.metrics(if (traced) "trace.op_ms" else "op_ms") = run.opMs
    }
    val json = new StringBuilder
    json ++= s"""{"ok": $ok, "attempted": ${run.attempted}, "failed": ${run.failed}, """
    json ++= run.failures.map(f => "\"" + f.replace("\\", "/").replace("\"", "'") + "\"")
      .mkString("\"failures\": [", ", ", "], ")
    json ++= run.metrics.filterNot(_._2.isNaN).map { case (k, v) =>
      "\"" + k + "\": " + java.math.BigDecimal.valueOf(v).toPlainString
    }.mkString("\"metrics\": {", ", ", "}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), json.toString)
    // the spans, written once at the end: (name, start_ms, end_ms, parent)
    tracer.foreach { t =>
      val t0 = t.spans.headOption.map(_.start).getOrElse(0L)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/spans.json"),
        t.spans.map { sp =>
          s"""{"id": ${sp.id}, "name": "${sp.name}", "parent": ${sp.parent}, """ +
            s""""start_ms": ${(sp.start - t0) / 1e6}, "end_ms": ${(sp.end - t0) / 1e6}}"""
        }.mkString("[", ",\n", "]"))
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** This JVM's resident high-water mark (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}

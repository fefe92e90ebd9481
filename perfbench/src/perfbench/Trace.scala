package perfbench

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SqlEndAccess}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer

/** An interval on the client thread; `parent` is -1 for a top-level span.
  * Times are System.nanoTime values. */
final case class Span(id: Int, name: String, parent: Int, start: Long) {
  var end: Long = -1L
  def dur: Long = end - start
}

/** One Spark job, with task totals summed over its stages. Times are on the
  * span clock. */
final class JobRec(val start: Long, val desc: String) {
  var end: Long = -1L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

final case class ScanRec(files: Long, bytes: Long)
final case class WriteRec(path: String, rows: Long, bytes: Long, parts: Long)
/** The scan and write metrics of one finished SQL execution; `start` is on
  * the span clock. */
final case class QueryRec(start: Long, scans: Seq[ScanRec], writes: Seq[WriteRec])

/** Benchmark-side tracing: spans around the public calls the workloads make,
  * plus what the benchmark's own Spark listener (jobs, tasks, SQL
  * executions) and streaming listener see. Jobs, executions and
  * micro-batches belong to the span inside which they started.
  * Everything stays in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  // listener event times are epoch millis; spans use nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def onSpanClock(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    open = s :: open
    try body finally { s.end = System.nanoTime(); open = open.tail }
  }

  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobById = collection.mutable.Map.empty[Int, JobRec]
  private val jobOfStage = collection.mutable.Map.empty[Int, JobRec]
  private val queries = ArrayBuffer.empty[QueryRec]
  private val execStart = collection.mutable.Map.empty[Long, Long]
  /** Micro-batch progress, with the batch's trigger time on the span clock. */
  private val progress = ArrayBuffer.empty[(Long, StreamingQueryProgress)]

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val j = new JobRec(onSpanClock(e.time), desc)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => jobOfStage(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.remove(e.jobId).foreach(_.end = onSpanClock(e.time))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { execStart(s.executionId) = onSpanClock(s.time) }
      case end: SparkListenerSQLExecutionEnd =>
        for (start <- Tracer.this.synchronized(execStart.remove(end.executionId));
             qe <- SqlEndAccess(end)) {
          val rec = finished(start, qe)
          Tracer.this.synchronized { queries += rec }
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- jobOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Scan and write metrics of a finished execution. */
  private def finished(start: Long, qe: QueryExecution): QueryRec = {
    val nodes = planNodes(qe.executedPlan)
    val scans = nodes.filter(n => n.nodeName.contains("Scan") && n.metrics.contains("numFiles"))
      .map(n => ScanRec(metric(n, "numFiles"), metric(n, "filesSize")))
    val writes = nodes.collect {
      case w: DataWritingCommandExec =>
        val path = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case _ => ""
        }
        def v(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        WriteRec(path, v("numOutputRows"), v("numOutputBytes"), v("numParts"))
    }
    QueryRec(start, scans, writes)
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        progress += ((onSpanClock(java.time.Instant.parse(e.progress.timestamp).toEpochMilli),
          e.progress))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = ListenerDrain(spark.sparkContext)

  def allJobs: Seq[JobRec] = jobListener.synchronized(jobs.toList)

  /** Micro-batches triggered inside the span. */
  def progressIn(s: Span): Seq[StreamingQueryProgress] =
    synchronized(progress.collect { case (t, p) if t >= s.start && t <= s.end => p }.toList)

  /** Finished SQL executions that started inside the span. */
  def queriesIn(s: Span): Seq[QueryRec] =
    synchronized(queries.filter(q => q.start >= s.start && q.start <= s.end).toList)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toList

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toList

  /** Jobs that started inside the span. */
  def jobsIn(s: Span): Seq[JobRec] =
    allJobs.filter(j => j.start >= s.start && j.start <= s.end)

  /** Time inside the span during which at least one job ran: the measure
    * of the union of job intervals, clipped to the span, so overlapping
    * jobs are counted once and idle time can never go negative. */
  def busyNs(s: Span): Long = Tracer.unionNs(
    allJobs.map(j => (math.max(j.start, s.start),
      math.min(if (j.end < 0) s.end else j.end, s.end))))
}

object Tracer {
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

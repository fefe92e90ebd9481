package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.SparkSession
import scala.concurrent.duration._

/** Overlapped driver work: independent tasks (chains of Spark jobs, or
  * driver-side parsing) run on their own driver threads, so the scheduler
  * interleaves their jobs. One call runs at most `width` tasks at once and
  * returns their results in input order. Each task's jobs carry its label
  * as `spark.job.description`, and all of the call's jobs one Spark job
  * tag. When the first task throws, the tag's jobs are cancelled and tasks
  * not yet started are skipped; the call waits until every running task
  * has returned, then rethrows that first throwable, so no caller releases
  * a cache a sibling is still reading. After [[Deadline]] the call cancels
  * the same way and throws without waiting for a task stuck outside Spark.
  *
  * Driver threads are never interrupted: a cancelled job fails its task
  * with a `SparkException`, handled like any other failure. Threads
  * inherit the caller's job group and tags and tags add up, so nested
  * calls compose and cancel only their own jobs. */
object Overlap {

  /** A bound on a wedged read, not a tuning knob. */
  val Deadline: FiniteDuration = 4.hours

  /** How often a failed call re-cancels its tag while it waits: a sibling
    * may submit a job after the first cancel. */
  private val RecancelEvery = 1.second

  def apply[A](spark: SparkSession, width: Int)(
      tasks: Seq[(String, () => A)]): Seq[A] = {
    val sc = spark.sparkContext
    val tag = s"graft-overlap-${UUID.randomUUID}"
    def cancel(): Unit = sc.cancelJobsWithTag(tag, "a sibling task failed")
    val results = new Array[Any](tasks.size)
    val failure = new AtomicReference[Throwable]()
    val left = new CountDownLatch(tasks.size)
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(width, tasks.size)),
      { r => val t = new Thread(r, "graft-overlap"); t.setDaemon(true); t })
    try {
      for (((label, task), i) <- tasks.zipWithIndex) pool.execute { () =>
        try if (failure.get == null) {
          sc.addJobTag(tag)
          results(i) = labeled(spark, label)(task())
        } catch {
          case e: Throwable => if (failure.compareAndSet(null, e)) cancel()
        } finally left.countDown()
      }
      val deadline = Deadline.fromNow
      while (!left.await(RecancelEvery.toMillis, TimeUnit.MILLISECONDS) &&
          deadline.hasTimeLeft())
        if (failure.get != null) cancel()
      if (left.getCount > 0) {
        failure.compareAndSet(null, new TimeoutException(s"still running after $Deadline"))
        cancel()
      }
    } finally pool.shutdown()
    Option(failure.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[A]]
  }

  /** Two tasks with different result types, overlapped. */
  def both[A, B](spark: SparkSession)(a: (String, () => A),
                                      b: (String, () => B)): (A, B) = {
    val r = apply[Any](spark, 2)(Seq(a, b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Runs `f` with this thread's jobs labeled `label`, then restores the
    * thread's previous label. */
  def labeled[A](spark: SparkSession, label: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }
}

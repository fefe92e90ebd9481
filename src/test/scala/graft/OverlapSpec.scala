package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class OverlapSpec extends SparkSuite {

  private final case class JobStart(id: Int, desc: String, tags: Set[String], tasks: Int)

  /** Records every job's start (label, tags, task count) and end. */
  private final class Jobs extends SparkListener {
    val starts = new ConcurrentLinkedQueue[JobStart]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      starts.add(JobStart(e.jobId, p.getProperty("spark.job.description"),
        Option(p.getProperty("spark.job.tags")).toSet
          .flatMap((t: String) => t.split(",")).filter(_.nonEmpty),
        e.stageInfos.map(_.numTasks).sum))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ends.put(e.jobId, if (e.jobResult == JobSucceeded) "succeeded" else e.jobResult.toString)
    def started: Seq[JobStart] = starts.asScala.toSeq
  }

  private def listening[A](body: Jobs => A): A = {
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    try body(jobs) finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("results come back in input order") {
    // later tasks finish first; the results still follow the input
    val out = Overlap(spark, 3)((1 to 8).map { i =>
      s"task $i" -> { () => Thread.sleep((8 - i) * 30L); spark.range(i).count() }
    })
    assert(out == (1 to 8).map(_.toLong))
  }

  test("each task's jobs carry its label and the call's tag; the caller's label is restored") {
    val sc = spark.sparkContext
    listening { jobs =>
      sc.setJobDescription("caller")
      try {
        // task i runs one job of i partitions, so its jobs are recognizable
        Overlap(spark, 2)((1 to 3).map { i =>
          s"label $i" -> (() => sc.parallelize(1 to 10, i).count())
        })
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        spark.range(3).count()
      } finally sc.setJobDescription(null)
      ListenerBusDrain(sc)
      val started = jobs.started
      for (i <- 1 to 3)
        assert(started.filter(_.desc == s"label $i").map(_.tasks) == Seq(i))
      // one tag for the whole call, and none of it on the caller's jobs
      val tagged = started.filter(_.desc.startsWith("label "))
      assert(tagged.map(_.tags).distinct.size == 1 && tagged.head.tags.size == 1)
      val after = started.filterNot(_.desc.startsWith("label "))
      assert(after.nonEmpty && after.forall(_.desc == "caller"))
      assert(after.forall(_.tags.intersect(tagged.head.tags).isEmpty))
    }
  }

  test("a failing task cancels its sibling's running job, and the call rethrows once the sibling has returned") {
    val sc = spark.sparkContext
    // one row per millisecond: 200,000 rows on local[2] take ~100 s alone
    val slow = udf { (x: Long) => Thread.sleep(1); x }
    listening { jobs =>
      val siblingRunning = new CountDownLatch(1)
      val siblingTags = new AtomicReference[Set[String]]()
      val siblingError = new AtomicReference[Throwable]()
      val t0 = System.nanoTime()
      val thrown = intercept[IllegalStateException] {
        Overlap(spark, 2)(Seq(
          "sibling" -> { () =>
            siblingTags.set(sc.getJobTags())
            siblingRunning.countDown()
            try spark.range(0, 200000, 1, 2).select(sum(slow(col("id")))).collect()
            catch { case e: Throwable => siblingError.set(e); throw e }
          },
          "failing" -> { () =>
            siblingRunning.await(30, TimeUnit.SECONDS)
            Thread.sleep(500) // let the sibling's job start
            throw new IllegalStateException("bad workbook")
          }))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(thrown.getMessage == "bad workbook")
      assert(secs < 10, s"the call took $secs s")
      // the call returned only after the sibling's action had failed
      assert(siblingError.get != null && siblingError.get.getMessage.contains("cancelled"),
        String.valueOf(siblingError.get))
      ListenerBusDrain(sc)
      val siblingJobs = jobs.started.filter(_.desc == "sibling").map(_.id)
      assert(siblingJobs.nonEmpty)
      assert(siblingJobs.forall(id => Option(jobs.ends.get(id)).exists(_.contains("cancelled"))),
        siblingJobs.map(id => jobs.ends.get(id)))
      val tag = (siblingTags.get -- sc.getJobTags()).head
      val active = sc.statusTracker.getActiveJobIds().toSet
      assert(sc.statusTracker.getJobIdsForTag(tag).toSet.intersect(active).isEmpty)
    }
  }
}

package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.SparkSpec

final class OverlapSpec extends SparkSpec {

  private def helpers(): Int = Thread.getAllStackTraces.keySet.asScala
    .count(t => t.isAlive && t.getName == Overlap.ThreadName)

  test("overlapped bodies return in body order and leave no helper thread") {
    val got = Overlap.all(spark)(Seq(
      () => spark.range(10).count(),
      () => 7L,
      () => spark.range(3).count()))
    assert(got === Seq(10L, 7L, 3L))
    assert(helpers() === 0)
  }

  test("a failing body cancels its sibling's running job, and no helper thread remains") {
    val sc = spark.sparkContext
    val siblingJobs = new ConcurrentLinkedQueue[Int]()
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    val results = new ConcurrentLinkedQueue[JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains(Overlap.ThreadName))) {
          siblingJobs.add(e.jobId)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (siblingJobs.contains(e.jobId)) {
          results.add(e.jobResult)
          ended.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Overlap.all(spark)(Seq(
          // a long job: each task runs for a minute unless killed
          () => sc.parallelize(1 to 4, 4).map { x =>
            val ctx = TaskContext.get()
            val end = System.nanoTime() + 60L * 1000 * 1000 * 1000
            while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
            x
          }.count(),
          () => {
            assert(started.await(30, TimeUnit.SECONDS), "the sibling's job never started")
            throw new IllegalStateException("boom")
          }))
      }
      assert(e.getMessage === "boom")
      assert(ended.await(30, TimeUnit.SECONDS), "the sibling's job never ended")
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 30, s"the sibling ran to completion ($secs s) instead of being cancelled")
      assert(results.asScala.toSeq.collect { case f: JobFailed => f }.size === 1,
        s"the sibling's job must end failed (cancelled): ${results.asScala}")
      assert(helpers() === 0, "helper threads outlive the call")
    } finally sc.removeSparkListener(listener)
  }
}

package graft.core

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import scala.concurrent.duration.{Duration, DurationInt}

import org.apache.spark.sql.SparkSession

/** Overlapped jobs: run independent driver-side bodies (each one or more
  * Spark jobs) concurrently, so one body's commit or straggler tail
  * backfills with another's tasks. The one helper for the pattern:
  *  - each body runs on its own pool thread under its own job tag;
  *  - the first failure (or the timeout) cancels every sibling's jobs,
  *    keeps cancelling jobs they start while they wind down, and is
  *    rethrown once every sibling has returned (or after a minute's
  *    grace, when a body is stuck outside Spark);
  *  - the pool is always shut down, so no helper thread outlives a call.
  *
  * Results come back in the order of `bodies`. */
object Overlap {

  /** Name of the pool threads (daemon, so a wedged body never pins the
    * JVM). */
  val ThreadName = "graft-overlap"

  /** How long a failed call waits for its cancelled siblings. */
  private val GraceNanos = 60L * 1000 * 1000 * 1000

  def all[A](spark: SparkSession, timeout: Duration = 30.minutes)(
      bodies: Seq[() => A]): Seq[A] = {
    if (bodies.isEmpty) return Seq.empty
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val tags = bodies.indices.map(i => s"$ThreadName-$id-$i")
    val pool = Executors.newFixedThreadPool(bodies.size, (r: Runnable) => {
      val t = new Thread(r, ThreadName)
      t.setDaemon(true)
      t
    })
    val done = new ExecutorCompletionService[(Int, A)](pool)
    try {
      bodies.zip(tags).zipWithIndex.foreach { case ((body, tag), i) =>
        done.submit(() => {
          sc.addJobTag(tag)
          try (i, body()) finally sc.removeJobTag(tag)
        })
      }
      val out = new Array[Any](bodies.size)
      val deadline = System.nanoTime() + timeout.toNanos
      bodies.indices.foreach { _ =>
        val f = done.poll(math.max(0L, deadline - System.nanoTime()),
          TimeUnit.NANOSECONDS)
        val failure: Option[Throwable] =
          if (f == null) Some(new java.util.concurrent.TimeoutException(
            s"overlapped jobs did not finish within $timeout"))
          else try {
            val (i, a) = f.get()
            out(i) = a
            None
          } catch { case e: ExecutionException => Some(e.getCause) }
        failure.foreach { t =>
          // siblings may still be submitting jobs: keep cancelling until
          // they return (bounded — a body stuck outside Spark is left to
          // the interrupt below)
          pool.shutdown()
          val grace = System.nanoTime() + GraceNanos
          while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS) &&
              System.nanoTime() < grace)
            tags.foreach(tag => sc.cancelJobsWithTag(tag,
              s"a sibling overlapped job failed: ${t.getMessage}"))
          throw t
        }
      }
      out.toSeq.asInstanceOf[Seq[A]]
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(GraceNanos, TimeUnit.NANOSECONDS)
    }
  }
}

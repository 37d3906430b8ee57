package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into the program's layers. With
  * tracing off `span` only runs its body, so untraced runs time the same
  * code without the bookkeeping. Spans stay in memory until [[write]]. */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new AtomicLong(0L)
  private val opIds = new AtomicLong(0L)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val origin = System.nanoTime()

  /** A fresh operation id: every span recorded for one operation shares it. */
  def newOp(): Long = opIds.incrementAndGet()

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = spanIds.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.add(Span(id, stack.headOption.getOrElse(0L), op, name, t0, t1))
      }
    }

  def durationsMs(name: String): Seq[Double] =
    spans.asScala.iterator.filter(_.name == name).map(_.ms).toSeq

  def totalMs(name: String): Double = durationsMs(name).sum

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[")
    spans.asScala.toSeq.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""")
      sb.append(f""""start_ms":${(s.startNs - origin) / 1e6}%.3f,"end_ms":${(s.endNs - origin) / 1e6}%.3f}""")
    }
    sb.append("]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Job, stage and task counts plus task metrics, summed from Spark's
  * listener events. Registered only on traced runs. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, shuffleRead, shuffleWrite, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def reset(): Unit =
    Seq(jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill).foreach(_.set(0L))

  /** Per-pass averages over `passes` passes. */
  def metrics(passes: Int): Seq[(String, Double)] = {
    val n = math.max(1, passes).toDouble
    Seq(
      "spark.jobs" -> jobs.get / n,
      "spark.stages" -> stages.get / n,
      "spark.tasks" -> tasks.get / n,
      "spark.executor_run_ms" -> runMs.get / n,
      "spark.executor_cpu_ms" -> cpuNs.get / 1e6 / n,
      "spark.shuffle_read_bytes" -> shuffleRead.get / n,
      "spark.shuffle_write_bytes" -> shuffleWrite.get / n,
      "spark.spill_bytes" -> spill.get / n)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** What `run.py` asks of one JVM run. All paths are inside the run's
  * temporary directory except the fixture directories, which are read only. */
final case class Config(workload: String, trace: Boolean, tmp: Path, input: Path,
                        passes: Int, fixtures: String, warmFixtures: String,
                        ids: Seq[String], tracePath: String, json: JValue)

object Config {
  def load(path: String): Config = {
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    Config(
      workload = (j \ "workload").extract[String],
      trace = (j \ "trace").extract[Boolean],
      tmp = Paths.get((j \ "tmp").extract[String]),
      input = Paths.get((j \ "input").extract[String]),
      passes = (j \ "passes").extract[Int],
      fixtures = (j \ "fixtures").extractOpt[String].getOrElse(""),
      warmFixtures = (j \ "warm_fixtures").extractOpt[String].getOrElse(""),
      ids = (j \ "ids").extractOpt[Seq[String]].getOrElse(Nil),
      tracePath = (j \ "trace_path").extractOpt[String].getOrElse(""),
      json = j)
  }
}

/** What a workload reports back: end-to-end and per-layer figures, the
  * operations it attempted and saw fail, and when its first timed
  * operation began (wall-clock milliseconds, for `setup_s`). */
final class Report {
  var firstTimedMs: Long = 0L
  var attempted: Long = 0L
  var failed: Long = 0L
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]

  /** Marks the start of the first timed operation (later calls are no-ops). */
  def timingStarts(): Unit = if (firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Entry point of the benchmark JVM: `perfbench.Main <config.json>`, or
  * `perfbench.Main --oracle-sql <out.json> <ID>...` to dump the DuckDB
  * SQL the program declares for the listed queries. */
object Main {
  val Cores = 4

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .appName(s"perfbench-${cfg.workload}")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", cfg.tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.tmp.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.catalog.bench", "graft.storage.dsv2.SnapshotCatalog")
      .config("spark.sql.catalog.bench.warehouse", cfg.tmp.resolve("catalog").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracle-sql")) {
      val sql = graft.SparkEntry.oracleSql
      val out = args.drop(2).map(id => Json.str(id) + ":" + Json.str(sql(id)))
      Files.writeString(Paths.get(args(1)), out.mkString("{", ",\n", "}\n"))
      return
    }
    val cfg = Config.load(args(0))
    val trace = new Trace(cfg.trace)
    val report = new Report
    val spark = session(cfg)
    val counters = if (cfg.trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    try {
      cfg.workload match {
        case "forward" => Forward.run(spark, cfg, trace, report, counters)
        case "query" | "llm" => Queries.run(spark, cfg, trace, report, counters)
        case "table" => Table.run(spark, cfg, trace, report, counters)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
    } finally spark.stop()

    if (cfg.trace) {
      val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum
      report.layers("jvm.gc_ms") = gcMs.toDouble
      report.layers("jvm.jit_ms") =
        ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
      if (cfg.tracePath.nonEmpty) trace.write(Paths.get(cfg.tracePath))
    }
    val out =
      s"""{"first_timed_ms":${report.firstTimedMs},"attempted":${report.attempted},""" +
        s""""failed":${report.failed},"end_to_end":${Json.obj(report.endToEnd.toSeq)},""" +
        s""""layers":${Json.obj(report.layers.toSeq)}}"""
    Files.writeString(cfg.tmp.resolve("jvm_report.json"), out + "\n")
  }
}

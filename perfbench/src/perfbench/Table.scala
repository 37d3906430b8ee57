package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._

import graft.storage.SnapshotTable

/** The `table` workload: a seeded op sequence on one merge-on-read
  * `graft-snapshot` catalog table. Writes go through SQL (`MERGE INTO`,
  * `DELETE FROM`); each filtered read runs once through SQL (the connector)
  * and once through `SnapshotTable.read` (the library); compaction and
  * time travel go through the library and SQL `VERSION AS OF`. Every read
  * is written out as a fingerprint for the model check in `run.py`. A
  * smaller table gets the same op kinds first, untimed, as the warm-up. */
object Table {
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType), StructField("g", IntegerType)))

  /** Row count, sum of `v`, and SHA-256 of the sorted `k,v,g` lines. */
  def fingerprint(rows: Seq[Row]): String = {
    val lines = rows.map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getInt(2)}").sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    val sha = md.digest().map(b => f"${b & 0xff}%02x").mkString
    s"${rows.size}\t${rows.map(_.getLong(1)).sum}\t$sha"
  }

  private def rowsOf(j: JValue): Seq[Row] = j match {
    case JArray(rs) => rs.map {
      case JArray(List(JInt(k), JInt(v), JInt(g))) => Row(k.toLong, v.toLong, g.toInt)
      case other => throw new IllegalArgumentException(s"bad row $other")
    }
    case other => throw new IllegalArgumentException(s"bad rows $other")
  }

  final class Run(spark: SparkSession, name: String, trace: Trace, timed: Boolean) {
    val table = s"bench.ns.$name"
    val root: String = spark.conf.get("spark.sql.catalog.bench.warehouse") + s"/ns/$name"
    val obs = new StringBuilder
    val mergeMs, deleteMs, sqlScanMs, libScanMs, roundS, ttMs = mutable.ArrayBuffer.empty[Double]
    var createMs, compactMs = 0.0
    private var roundStart = 0L

    private def view(rows: Seq[Row], viewName: String): Unit =
      spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView(viewName)

    private def timedMs[T](span: String, op: Long)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = trace.span(span, op)(body)
      (r, (System.nanoTime() - t0) / 1e6)
    }

    private def version(): Long = SnapshotTable.latest(spark, root).get.version

    def apply(i: Int, op: JValue, report: Report): Unit = {
      implicit val fmt: Formats = DefaultFormats
      val opId = trace.newOp()
      if (timed) report.attempted += 1
      (op \ "kind").extract[String] match {
        case "create" =>
          view(rowsOf(op \ "rows"), s"${name}_init")
          createMs = timedMs("storage.create", opId) {
            spark.sql(s"CREATE TABLE $table (k BIGINT, v BIGINT, g INT) TBLPROPERTIES (" +
              "'deleteMode'='merge-on-read', 'updateMode'='merge-on-read', " +
              "'mergeMode'='merge-on-read')")
            spark.sql(s"INSERT INTO $table SELECT k, v, g FROM ${name}_init")
          }._2
          obs.append(s"version\t$i\t${version()}\n")
        case "merge" =>
          roundStart = System.nanoTime()
          view(rowsOf(op \ "rows"), s"${name}_upd")
          mergeMs += timedMs("storage.merge", opId) {
            spark.sql(
              s"""MERGE INTO $table t USING ${name}_upd u ON t.k = u.k
                 |WHEN MATCHED THEN UPDATE SET v = u.v, g = u.g
                 |WHEN NOT MATCHED THEN INSERT (k, v, g) VALUES (u.k, u.v, u.g)""".stripMargin)
          }._2
          obs.append(s"version\t$i\t${version()}\n")
        case "delete" =>
          val g = (op \ "g").extract[Int]
          val thr = (op \ "thr").extract[Long]
          deleteMs += timedMs("storage.delete", opId) {
            spark.sql(s"DELETE FROM $table WHERE g = $g AND v < $thr")
          }._2
          obs.append(s"version\t$i\t${version()}\n")
        case "read" =>
          val g = (op \ "g").extract[Int]
          val (sqlRows, sqlMs) = timedMs("storage.dsv2.scan", opId) {
            spark.sql(s"SELECT k, v, g FROM $table WHERE g = $g").collect().toSeq
          }
          val (libRows, libMs) = timedMs("storage.read", opId) {
            SnapshotTable.read(spark, root).where(col("g") === g)
              .select("k", "v", "g").collect().toSeq
          }
          sqlScanMs += sqlMs
          libScanMs += libMs
          roundS += (System.nanoTime() - roundStart) / 1e9
          obs.append(s"read\t$i\tsql\t${fingerprint(sqlRows)}\n")
          obs.append(s"read\t$i\tlib\t${fingerprint(libRows)}\n")
        case "compact" =>
          compactMs = timedMs("storage.compact", opId) {
            SnapshotTable.compact(spark, root, (op \ "files").extract[Int])
          }._2
          obs.append(s"version\t$i\t${version()}\n")
        case other => throw new IllegalArgumentException(s"unknown table op '$other'")
      }
    }

    /** Time travel to the version each listed op left, through SQL and the
      * library, then the latest version through both. */
    def finish(versionAfter: Map[Int, Long], travelTo: Seq[Int], report: Report): Unit = {
      for (i <- travelTo) {
        val v = versionAfter.filter(_._1 <= i).maxBy(_._1)._2
        val opId = trace.newOp()
        if (timed) report.attempted += 2
        val (sqlRows, sqlMs) = timedMs("storage.timetravel", opId) {
          spark.sql(s"SELECT k, v, g FROM $table VERSION AS OF $v").collect().toSeq
        }
        val (libRows, libMs) = timedMs("storage.timetravel", opId) {
          SnapshotTable.readVersion(spark, root, v).select("k", "v", "g").collect().toSeq
        }
        ttMs ++= Seq(sqlMs, libMs)
        obs.append(s"travel\t$i\tsql\t${fingerprint(sqlRows)}\n")
        obs.append(s"travel\t$i\tlib\t${fingerprint(libRows)}\n")
      }
      if (timed) report.attempted += 2
      obs.append(s"latest\t-1\tsql\t${fingerprint(spark.sql(s"SELECT k, v, g FROM $table").collect().toSeq)}\n")
      obs.append(s"latest\t-1\tlib\t${fingerprint(
        SnapshotTable.read(spark, root).select("k", "v", "g").collect().toSeq)}\n")
    }
  }

  def run(spark: SparkSession, cfg: Config, trace: Trace, report: Report,
          counters: Option[SparkCounters]): Unit = {
    implicit val fmt: Formats = DefaultFormats
    val spec = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(cfg.input.resolve("table.json")), "UTF-8"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.ns")

    def versions(obs: StringBuilder): Map[Int, Long] =
      obs.toString.linesIterator.map(_.split('\t')).collect {
        case Array("version", i, v) => i.toInt -> v.toLong
      }.toMap

    val warm = new Run(spark, "warmup", trace, timed = false)
    (spec \ "warmup_ops").extract[List[JValue]].zipWithIndex.foreach { case (op, i) =>
      warm.apply(i, op, report)
    }
    warm.finish(versions(warm.obs), Seq(0), report)

    report.timingStarts()
    counters.foreach { c => org.apache.spark.ListenerBusDrain(spark.sparkContext); c.reset() }
    val main = new Run(spark, "t", trace, timed = true)
    (spec \ "ops").extract[List[JValue]].zipWithIndex.foreach { case (op, i) =>
      main.apply(i, op, report)
    }
    main.finish(versions(main.obs), (spec \ "travel_to").extract[Seq[Int]], report)
    counters.foreach(_ => org.apache.spark.ListenerBusDrain(spark.sparkContext))
    Files.writeString(cfg.tmp.resolve("table_obs.tsv"), main.obs.toString)

    report.endToEnd("pass_s") = Stats.median(main.roundS.toSeq)
    report.endToEnd("op_p50_ms") = Stats.median(main.mergeMs.toSeq)

    if (trace.enabled) {
      val snap = SnapshotTable.latest(spark, main.root).get
      val live = snap.entries.map(_.liveRows).sum.toDouble
      def size(p: String): Long = {
        val f = Paths.get(new java.net.URI(if (p.contains(":")) p else "file:" + p))
        if (Files.exists(f)) Files.size(f) else 0L
      }
      val liveBytes = snap.entries.map(e => size(e.path) + (if (e.dv.nonEmpty) size(e.dv) else 0L)).sum
      val written = Files.walk(Paths.get(main.root)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      report.layers ++= Seq(
        "table.scan_p50_ms" -> Stats.median(main.sqlScanMs.toSeq),
        "table.lib_scan_p50_ms" -> Stats.median(main.libScanMs.toSeq),
        "table.bytes_per_row" -> liveBytes / live,
        "storage.create_ms" -> main.createMs,
        "storage.delete_p50_ms" -> Stats.median(main.deleteMs.toSeq),
        "storage.compact_ms" -> main.compactMs,
        "storage.timetravel_p50_ms" -> Stats.median(main.ttMs.toSeq),
        "storage.versions" -> SnapshotTable.versions(spark, main.root).size.toDouble,
        "storage.files_live" -> snap.entries.size.toDouble,
        "storage.dv_files" -> snap.entries.count(_.dv.nonEmpty).toDouble,
        "storage.bytes_written" -> written.toDouble)
      counters.foreach(c => report.layers ++= c.metrics(main.roundS.size))
    }
  }
}

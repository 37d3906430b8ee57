package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.{Carbon, HttpIngest, SignalFxProto}
import graft.streaming.{Pipeline, StreamingOps}

/** One HTTP/1.1 keep-alive connection, one request at a time (a closed
  * loop): each request is written with a single write, and the call
  * returns once the whole response has been read. */
final class KeepAliveClient(port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.connect(new InetSocketAddress("127.0.0.1", port), 10000)
  sock.setSoTimeout(30000)
  private val out = sock.getOutputStream
  private val in = new BufferedInputStream(sock.getInputStream)

  def post(path: String, contentType: String, body: Array[Byte]): Int = {
    val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      s"Content-Type: $contentType\r\nContent-Length: ${body.length}\r\n\r\n"
    val req = new ByteArrayOutputStream(head.length + body.length)
    req.write(head.getBytes(ISO_8859_1))
    req.write(body)
    out.write(req.toByteArray)
    out.flush()
    val status = readLine(in).split(' ')(1).toInt
    var length = 0
    var line = readLine(in)
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).trim.equalsIgnoreCase("content-length"))
        length = line.substring(i + 1).trim.toInt
      line = readLine(in)
    }
    in.readNBytes(length)
    status
  }

  private def readLine(s: InputStream): String = {
    val b = new ByteArrayOutputStream()
    var c = s.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed mid-response")
      if (c != '\r') b.write(c)
      c = s.read()
    }
    new String(b.toByteArray, ISO_8859_1)
  }

  def close(): Unit = sock.close()
}

/** A forwarder that times each micro-batch write it delegates. */
final case class TimedForwarder(inner: StreamingOps.Forwarder, spanName: String,
                                trace: Trace) extends StreamingOps.Forwarder {
  def name: String = inner.name
  def write(batch: DataFrame, batchId: Long): Unit =
    trace.span(spanName, batchId)(inner.write(batch, batchId))
}

/** The `forward` workload: POST carbon and SignalFx protobuf bodies to two
  * `HttpIngest` bridges over one keep-alive connection each, then drain each
  * spool through `Pipeline.source` + `Pipeline.decode` +
  * `StreamingOps.demux` into a carbon and a SignalFx protobuf forwarder,
  * with `Trigger.AvailableNow` and a `maxFilesPerTrigger` bound. Pass 0 is
  * an untimed warm-up over the first few bodies. */
object Forward {
  final case class Source(codec: String, kind: String, contentType: String,
                          bodies: IndexedSeq[Array[Byte]], warm: Int, maxFiles: Int)

  def run(spark: SparkSession, cfg: Config, trace: Trace, report: Report,
          counters: Option[SparkCounters]): Unit = {
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val fj = cfg.json \ "forward"
    def bodies(dir: String): IndexedSeq[Array[Byte]] =
      Files.list(cfg.input.resolve(dir)).iterator().asScala.toIndexedSeq
        .sortBy(_.getFileName.toString).map(p => Files.readAllBytes(p))
    val sources = Seq(
      Source("carbon", "file", "text/plain", bodies("carbon"),
        (fj \ "warm_bodies").extract[Int], (fj \ "carbon_max_files").extract[Int]),
      Source("sfxproto", "binary", "application/x-protobuf", bodies("sfxproto"),
        (fj \ "warm_bodies").extract[Int], (fj \ "sfx_max_files").extract[Int]))

    val acks = new StringBuilder
    val postMs = mutable.ArrayBuffer.empty[Double]
    val drainS = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    var spoolBytes = 0L
    var posts = 0L

    for (pass <- 0 to cfg.passes) {
      val timed = pass > 0
      if (timed) {
        report.timingStarts()
        if (pass == 1) counters.foreach { c =>
          org.apache.spark.ListenerBusDrain(spark.sparkContext); c.reset()
        }
      }
      val spool = cfg.tmp.resolve(s"spool/p$pass")
      // post every body of both codecs, then drain: never at once
      for (src <- sources) {
        val dir = spool.resolve(src.codec)
        val bridge = HttpIngest.start("127.0.0.1", 0, dir.toString)
        val client = new KeepAliveClient(bridge.port)
        try {
          val n = if (timed) src.bodies.length else src.warm
          for (i <- 0 until n) {
            val op = trace.newOp()
            val t0 = System.nanoTime()
            val status = trace.span("ingest.http.post", op) {
              try client.post("/v2/datapoint", src.contentType, src.bodies(i))
              catch { case _: java.io.IOException => -1 }
            }
            if (timed) {
              postMs += (System.nanoTime() - t0) / 1e6
              report.attempted += 1
              posts += 1
              if (status != 200) report.failed += 1
            }
            acks.append(s"$pass\t${src.codec}\t$i\t$status\n")
          }
        } finally { client.close(); bridge.stop() }
        if (timed) spoolBytes += Files.list(dir).iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size).sum
      }
      val t0 = System.nanoTime()
      for (src <- sources) {
        val op = trace.newOp()
        val lf = Pipeline.ListenFrom(kind = src.kind, path = spool.resolve(src.codec).toString,
          codec = src.codec, deconstructor = Carbon.CommaKeysDeconstructor,
          maxFilesPerTrigger = Some(src.maxFiles))
        val out = cfg.tmp.resolve(s"out/p$pass/${src.codec}")
        val prefix = if (timed) "" else "warmup."
        val forwarders = Seq(
          TimedForwarder(StreamingOps.CarbonForwarder("carbon", out.resolve("carbon").toString),
            prefix + "streaming.forward.carbon", trace),
          TimedForwarder(StreamingOps.SignalFxProtoForwarder("sfxproto", out.resolve("sfxproto").toString),
            prefix + "streaming.forward.sfxproto", trace))
        val query = trace.span("streaming.drain", op) {
          val points = Pipeline.decode(Pipeline.source(spark, lf), lf)
          val q = StreamingOps.demux(points, forwarders, Trigger.AvailableNow())
            .option("checkpointLocation", cfg.tmp.resolve(s"checkpoints/p$pass/${src.codec}").toString)
            .start()
          q.awaitTermination()
          q
        }
        if (timed) {
          report.attempted += 1
          progress ++= query.recentProgress
        }
      }
      if (timed) drainS += (System.nanoTime() - t0) / 1e9
    }
    Files.writeString(cfg.tmp.resolve("acks.tsv"), acks.toString)
    counters.foreach(_ => org.apache.spark.ListenerBusDrain(spark.sparkContext))

    // the fastest drain: across processes a drain's wall time spreads by a
    // quarter (file-system and scheduling stalls slow it, nothing speeds it)
    report.endToEnd("pass_s") = drainS.min
    report.endToEnd("op_p50_ms") = Stats.median(postMs.toSeq)

    if (trace.enabled) {
      val passes = cfg.passes.toDouble
      val outBytes = (1 to cfg.passes).map(p => treeBytes(cfg.tmp.resolve(s"out/p$p"))).sum
      val written = (1 to cfg.passes).map(p => forwardedPoints(spark, cfg.tmp.resolve(s"out/p$p"))).sum
      def dur(key: String): Double =
        progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum / passes
      report.layers ++= Seq(
        "forward.points_per_s" -> written / drainS.sum,
        "ingest.http.posts" -> posts / passes,
        "ingest.http.spool_bytes" -> spoolBytes / passes,
        "ingest.wire.proto_decode_points_per_s" -> protoDecodeRate(sources(1).bodies),
        "ingest.wire.carbon_parse_ms" -> carbonParseMs(spark, cfg.tmp.resolve("spool/p1/carbon")),
        "streaming.batches" -> progress.size / passes,
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.get_batch_ms" -> dur("getBatch"),
        "streaming.planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.forward.carbon_ms" -> trace.totalMs("streaming.forward.carbon") / passes,
        "streaming.forward.sfxproto_ms" -> trace.totalMs("streaming.forward.sfxproto") / passes,
        "streaming.forward.bytes_out" -> outBytes / passes)
      counters.foreach(c => report.layers ++= c.metrics(cfg.passes))
    }
  }

  private def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Points written by both forwarders under one pass's output directory. */
  private def forwardedPoints(spark: SparkSession, out: Path): Long = {
    val carbon = spark.read.text(out.resolve("*/carbon/*").toString).count()
    val sfx = spark.read.parquet(out.resolve("*/sfxproto/*").toString)
      .select(col("payload")).collect()
      .map(r => SignalFxProto.decodeUpload(r.getAs[Array[Byte]](0)).size.toLong).sum
    carbon + sfx
  }

  /** `SignalFxProto.decodeUpload` on this run's protobuf bodies, one
    * thread; malformed bodies count as decoded-and-rejected. */
  private def protoDecodeRate(bodies: Seq[Array[Byte]]): Double = {
    var points = 0L
    val t0 = System.nanoTime()
    for (_ <- 1 to 5; b <- bodies)
      points += (try SignalFxProto.decodeUpload(b).size
                 catch { case _: SignalFxProto.MalformedPayloadException => 0 })
    points / ((System.nanoTime() - t0) / 1e9)
  }

  /** `Carbon.ingest` on one pass's spooled carbon lines as a batch frame. */
  private def carbonParseMs(spark: SparkSession, spool: Path): Double = {
    val lines = spark.read.text(spool.toString).withColumnRenamed("value", "line").cache()
    lines.count()
    def once(): Double = {
      val t0 = System.nanoTime()
      Carbon.ingest(lines, Carbon.CommaKeysDeconstructor)
        .where(col("value").isNotNull && col("ts").isNotNull)
        .agg(sum(hash(col("metric"), col("value"), col("ts"))), sum(size(col("dimensions"))))
        .collect()
      (System.nanoTime() - t0) / 1e6
    }
    once()
    val ms = Stats.median(Seq.fill(3)(once()))
    lines.unpersist()
    ms
  }
}

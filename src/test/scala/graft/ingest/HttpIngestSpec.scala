package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.Pipeline

/** End-to-end HTTP ingest: a real POST to the JDK-httpserver bridge →
  * spool file → Structured Streaming file/binary listener → codec decode →
  * CSV forwarder — §2a rows 6–7's listener surface, closed. */
class HttpIngestSpec extends SparkSpec {

  private def post(port: Int, body: Array[Byte],
                   gzip: Boolean = false): Int = {
    val payload =
      if (!gzip) body
      else {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(body); gz.close()
        bos.toByteArray
      }
    val b = HttpRequest.newBuilder(new URI(s"http://localhost:$port/v2/datapoint"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(payload))
    if (gzip) b.header("Content-Encoding", "gzip")
    HttpClient.newHttpClient()
      .send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  test("collectd POST → bridge → file listener → CSV forwarder, end to end") {
    val root = Files.createTempDirectory("httpingest").toString
    val body =
      """[{"values":[0.25],"dstypes":["gauge"],"dsnames":["value"],
        |"time":1700000100.0,"interval":10.0,"host":"web1","plugin":"load",
        |"plugin_instance":"","type":"load","type_instance":""}]"""
        .stripMargin.replace("\n", "")
    val cfg = Pipeline.GraftConfig(
      listenFrom = Pipeline.ListenFrom("http", path = s"$root/spool",
        port = 0, codec = "collectd"),
      forwardTo = Seq(Pipeline.ForwardTo("csv", "debug", s"$root/csv")))
    val writer = Pipeline.assemble(spark, cfg)
    // ephemeral port: read it back from the bridge the assembly started
    val bridge = graft.ingest.HttpIngest.ensure("localhost", 0, s"$root/spool")
    try {
      assert(post(bridge.port, body.getBytes) === 200)
      assert(post(bridge.port, body.getBytes, gzip = true) === 200)
      // non-POST refused, never spooled
      val getCode = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(new URI(s"http://localhost:${bridge.port}/")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(getCode === 405)
      val q = writer.option("checkpointLocation", s"$root/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val csv = spark.read.csv(s"$root/csv")
      // two accepted bodies (plain + gzip) × 1 datapoint each
      assert(csv.count() === 2)
      val row = csv.collect().head.toSeq.map(String.valueOf)
      assert(row.exists(_.contains("load")), s"decoded metric missing: $row")
    } finally bridge.stop()
  }

  test("sfxproto POST body → binary listener → decoded datapoints") {
    val root = Files.createTempDirectory("httpingestpb").toString
    val pts = Seq(
      SignalFxProto.SfxPoint("", "cpu.util", 1700000000000L, null,
        Some(42.5), None, "GAUGE", Map("host" -> "web1")),
      SignalFxProto.SfxPoint("", "req.count", 1700000001000L, null,
        None, Some(7L), "COUNTER", Map("svc" -> "api")))
    val body = SignalFxProto.encodeUpload(pts.iterator)
    val cfg = Pipeline.GraftConfig(
      listenFrom = Pipeline.ListenFrom("http", path = s"$root/spool",
        port = 0, codec = "sfxproto"),
      forwardTo = Seq(Pipeline.ForwardTo("csv", "debug", s"$root/csv")))
    val writer = Pipeline.assemble(spark, cfg)
    val bridge = graft.ingest.HttpIngest.ensure("localhost", 0, s"$root/spool")
    try {
      assert(post(bridge.port, body) === 200)
      val q = writer.option("checkpointLocation", s"$root/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val csv = spark.read.csv(s"$root/csv")
      assert(csv.count() === 2)
      val cells = csv.collect().flatMap(_.toSeq.map(String.valueOf)).toSet
      assert(cells.exists(_.contains("cpu.util")) && cells.exists(_.contains("req.count")))
    } finally bridge.stop()
  }

  test("ensure() is idempotent per port and refuses a conflicting spool dir") {
    val root = Files.createTempDirectory("httpbridge").toString
    val b1 = HttpIngest.ensure("localhost", 0, s"$root/a")
    try {
      assert(HttpIngest.ensure("localhost", b1.port, s"$root/a") eq b1)
      intercept[IllegalStateException] {
        HttpIngest.ensure("localhost", b1.port, s"$root/b")
      }
    } finally b1.stop()
    // after stop the port is free to re-bridge
    val b2 = HttpIngest.ensure("localhost", 0, s"$root/b")
    b2.stop()
  }

  test("a keep-alive POST is acked without waiting for a delayed ACK: median of 20 under 20 ms") {
    val root = Files.createTempDirectory("httpack").toString
    val b = HttpIngest.start("localhost", 0, s"$root/spool")
    try {
      // one HTTP/1.1 client = one keep-alive connection, one request in
      // flight; a body big enough to be sent apart from the headers
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val body = Array.fill[Byte](20000)('x'.toByte)
      def once(): Double = {
        val t0 = System.nanoTime()
        val code = client.send(
          HttpRequest.newBuilder(new URI(s"http://localhost:${b.port}/v2/datapoint"))
            .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
        assert(code === 200)
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 5).foreach(_ => once())
      val ms = (1 to 20).map(_ => once()).sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20.0, s"POST round-trips (ms): ${ms.map(x => f"$x%.1f").mkString(" ")}")
    } finally b.stop()
  }

  test("stop() releases the bridge's worker threads over 20 start/stop cycles") {
    import scala.jdk.CollectionConverters._
    def workers(): Int = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName == "graft-http-ingest")
    val root = Files.createTempDirectory("httpcycles").toString
    val before = workers()
    (1 to 20).foreach { i =>
      val b = HttpIngest.start("localhost", 0, s"$root/s$i")
      // a POST makes the pool start a worker thread
      try assert(post(b.port, "x".getBytes) === 200) finally b.stop()
    }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (workers() > before && System.nanoTime() < deadline) Thread.sleep(50)
    assert(workers() === before, "graft-http-ingest threads outlive their bridges")
  }
}

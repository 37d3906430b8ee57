package graft.ingest

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Local HTTP ingest bridge — the reference's listeners are HTTP servers
  * (collectd's `/post-collectd`, SignalFx's `/v2/datapoint` [P,
  * protocol/collectd/listener.go, protocol/signalfx/signalfxlistener.go]);
  * this closes that last fidelity gap with the JDK's built-in
  * `com.sun.net.httpserver` (no dependencies): each POST body lands as one
  * immutable spool file that the existing Structured Streaming file/binary
  * listener sources pick up on their next micro-batch.
  *
  * Why spool-to-file rather than push-to-stream: Spark's streaming sources
  * own replay and exactly-once bookkeeping via their offset log; a file is
  * the natural durable unit (the same reason the Kafka-shaped source
  * treats a file as a record batch). The bridge therefore does the only
  * job an ingest edge should: accept bytes durably, atomically, fast, and
  * ack. Durability before ack: body → `.tmp/` → fsync-free atomic rename
  * into the spool dir (hidden `.tmp` names are ignored by Spark's file
  * listing, so readers NEVER see partial bodies).
  *
  * Handled verbs/paths: POST anywhere under "/" (the reference routes by
  * path; here the codec is fixed by the pipeline config — one listener per
  * pipeline, as in `ListenFrom`). `Content-Encoding: gzip` bodies are
  * inflated (the reference accepts gzip [P]). Anything but POST → 405.
  *
  * At scale this bridge is the single-node edge of a fleet: N bridges
  * write to N spool dirs (or one shared object-store prefix), and the
  * streaming job reads them all — the standard "HTTP edge + durable spool
  * + stream reader" decomposition. */
object HttpIngest {

  // TCP_NODELAY on the bridge's connections: the JDK server writes a
  // response's headers and body in two writes, and with Nagle on the
  // body waits for the client's delayed ACK — about 40 ms per ack on a
  // keep-alive connection. The JDK reads this property once, when its
  // first server is created, so it is set here, before any; an explicit
  // setting wins.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  private val seq = new AtomicLong(0L)

  /** Per-JVM random component baked into every spool file name. The
    * scaladoc blesses N bridges sharing one object-store prefix; a name
    * built only from millis+sequence is unique per JVM, not per FLEET —
    * two processes can draw the same pair and the later ATOMIC_MOVE would
    * silently replace an already-acked body. 64 random bits fix the
    * namespace, not the clock. */
  private val jvmTag: String =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong() | (1L << 62))

  /** A running bridge; `stop()` releases the port (in-flight requests get
    * up to one second to drain) and shuts down its worker threads. */
  final class Bridge private[HttpIngest] (server: HttpServer,
                                          workers: java.util.concurrent.ExecutorService,
                                          val port: Int, val spoolDir: String) {
    def stop(): Unit = {
      server.stop(1)
      workers.shutdown()
      registry.synchronized { registry.remove(port) }
    }
  }

  private val registry = scala.collection.mutable.Map.empty[Int, Bridge]

  /** Start a bridge on `host:port` (port 0 → ephemeral; read the actual
    * one from the returned bridge) spooling into `spoolDir`. */
  def start(host: String, port: Int, spoolDir: String): Bridge = {
    val spool = Paths.get(spoolDir)
    val tmp = spool.resolve(".tmp")
    Files.createDirectories(tmp)
    val server = HttpServer.create(new InetSocketAddress(host, port), 64)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try handleOne(ex, spool, tmp)
        catch {
          // status classification matters: the sender's retry decision
          // hinges on it. A malformed body (bad gzip, truncation) is a
          // POISON PAYLOAD → 400, retrying is pointless; a server-side
          // fault (disk full, spool dir gone) is TRANSIENT → 500, the
          // sender must retry or good data is lost. An abrupt close
          // (neither) would leave the sender guessing.
          case e: java.util.zip.ZipException =>
            try respond(ex, 400, s"bad request: ${e.getMessage}")
            catch { case _: java.io.IOException => () } // client gone
          case e: java.io.EOFException =>
            try respond(ex, 400, s"bad request: truncated body (${e.getMessage})")
            catch { case _: java.io.IOException => () }
          case e: Exception =>
            try respond(ex, 500, s"server error: ${e.getMessage}")
            catch { case _: java.io.IOException => () }
        }
        finally ex.close()
    })
    // bounded daemon worker pool: concurrent POSTs spool in parallel
    // (each handler is a tiny write+rename); daemon so a forgotten
    // bridge never pins the JVM
    val workers = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => {
        val t = new Thread(r, "graft-http-ingest")
        t.setDaemon(true)
        t
      })
    server.setExecutor(workers)
    server.start()
    val b = new Bridge(server, workers, server.getAddress.getPort, spoolDir)
    registry.synchronized { registry(b.port) = b }
    b
  }

  /** Idempotent start: reuse a bridge already listening on `port`
    * (Pipeline.source may be invoked more than once per query plan).
    * With port 0 (ephemeral), the running bridge is matched by spool dir
    * instead — so a caller can recover the bridge an assembly started
    * without knowing which port it drew. */
  def ensure(host: String, port: Int, spoolDir: String): Bridge =
    registry.synchronized {
      if (port == 0)
        registry.values.find(_.spoolDir == spoolDir)
          .getOrElse(start(host, 0, spoolDir))
      else registry.get(port) match {
        case Some(b) if b.spoolDir == spoolDir => b
        case Some(b) => throw new IllegalStateException(
          s"port $port already bridges to ${b.spoolDir}, not $spoolDir")
        case None => start(host, port, spoolDir)
      }
    }

  private def handleOne(ex: HttpExchange, spool: Path, tmp: Path): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, "only POST is accepted")
      return
    }
    val raw = ex.getRequestBody.readAllBytes()
    val body =
      if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
            .exists(_.equalsIgnoreCase("gzip"))) {
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw))
        try in.readAllBytes() finally in.close()
      } else raw
    if (body.isEmpty) { respond(ex, 400, "empty body"); return }
    // globally unique, monotonic-ish name; atomic rename = publication
    val name = f"body-${System.currentTimeMillis()}%013d-$jvmTag-${seq.incrementAndGet()}%08d.dat"
    val staged = tmp.resolve(name)
    Files.write(staged, body)
    Files.move(staged, spool.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    respond(ex, 200, "OK")
  }

  private def respond(ex: HttpExchange, code: Int, msg: String): Unit = {
    val bytes = msg.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

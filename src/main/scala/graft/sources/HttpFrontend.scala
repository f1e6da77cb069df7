package graft.sources

import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The relay's HTTP entry point — the Spark-side equivalent of the
  * reference's `POST /receive` server (`/root/reference/main.go:57-64`,
  * `kinesis.go:68-93`), built on the JDK's built-in `HttpServer` (no new
  * dependency). It is the "tiny frontend" the body-directory protocol
  * assumed all along: each accepted POST body lands as one file whose
  * zero-padded name is the arrival sequence number, written temp-then-rename
  * so the [[BodyStream]] DSv2 source (and the binaryFile fallback) never
  * list a partial body.
  *
  * Faithful to the reference's response contract:
  *   - unreadable body → 500 (`kinesis.go:70-74`);
  *   - snappy or protobuf garbage → 400 (`kinesis.go:76-87`) — rejected
  *     HERE so corrupt input never enters the at-most-once stream (the
  *     reference drops it pre-queue for the same reason);
  *   - a body whose raw bytes, or whose snappy-declared decompressed
  *     length, exceed [[HttpFrontend.MaxBodyBytes]] → 413, before it is
  *     decompressed (the reference reads any size with `io.ReadAll`);
  *   - accepted → 200 empty body (the handler's implicit Go default).
  *
  * Deliberately different from the reference: acceptance means DURABLY ON
  * DISK, not "in a channel that SIGTERM can drop" (`main.go:114-119` sleeps
  * 1 s and hopes); replay/checkpointing then comes free from the DSv2
  * offset contract. Scale shape: the frontend is a dumb byte sink — many
  * instances can run behind a load balancer, each with its own directory
  * (= partition) and its own sequence; the Spark side reads one stream per
  * directory exactly like multiple Kafka partitions.
  */
class HttpFrontend(dir: String, port: Int) {

  Files.createDirectories(Paths.get(dir))
  // resume numbering after existing bodies — names must keep ascending for
  // the BodyStream offset contract (listing index = sequence number).
  // Resume from LAST NAME + 1, not the count: a write that failed after
  // taking a number leaves a gap, and count-based numbering would then
  // re-assign an existing name and silently overwrite an admitted body.
  private val seq = new AtomicLong(
    BodyStream.list(dir).filter(_.headOption.exists(_.isDigit)).lastOption
      .map(_.takeWhile(_.isDigit).toLong + 1).getOrElse(0L))

  /** Guards the assign-number + rename-into-place critical section: without
    * it two concurrent handlers can rename out of numeric order, and the
    * later-named file appearing FIRST lets the stream commit an offset
    * whose high-water mark the earlier file then sorts before —
    * permanently tripping [[BodyStream.boundaryIndex]]. Body I/O (the
    * slow part) stays outside the lock; only the rename serializes. */
  private val admitLock = new Object

  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 64)
  server.createContext("/receive", (x: HttpExchange) => handle(x))
  private val pool = Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  private def respond(x: HttpExchange, code: Int, msg: String = ""): Unit = {
    val b = String.valueOf(msg).getBytes("UTF-8")
    x.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) x.getResponseBody.write(b)
    x.close()
  }

  private def handle(x: HttpExchange): Unit =
    try {
      if (x.getRequestMethod != "POST") { respond(x, 405); return }
      val declared = Option(x.getRequestHeaders.getFirst("Content-Length")).flatMap(_.toLongOption)
      if (declared.exists(_ > HttpFrontend.MaxBodyBytes)) { respond(x, 413); return }
      val body =
        try x.getRequestBody.readNBytes(HttpFrontend.MaxBodyBytes + 1)
        catch { case e: Exception => respond(x, 500, String.valueOf(e.getMessage)); return }
      if (body.length > HttpFrontend.MaxBodyBytes) { respond(x, 413); return }
      // the declared length is read from the frame header before any
      // decompression, so a small bomb costs only its own bytes
      val declaredOut =
        try org.xerial.snappy.Snappy.uncompressedLength(body)
        catch { case e: Exception => respond(x, 400, String.valueOf(e.getMessage)); return }
      // negative: a declared length of 2 GiB or more, wrapped to an Int
      if (declaredOut < 0 || declaredOut > HttpFrontend.MaxBodyBytes) { respond(x, 413); return }
      try Prompb.decode(org.xerial.snappy.Snappy.uncompress(body))
      catch { case e: Exception => respond(x, 400, String.valueOf(e.getMessage)); return }
      val tmp = Files.createTempFile(Paths.get(dir), ".ingest-", ".tmp")
      writeDurable(tmp, body)
      admitLock.synchronized {
        val name = f"${seq.getAndIncrement()}%020d.bin"
        Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
      }
      // fsync the directory AFTER the rename and OUTSIDE the lock: any dir
      // fsync flushes all earlier renames too, so ours is persisted before
      // the 200 goes out, and the critical section stays rename-only
      fsyncDir(Paths.get(dir))
      respond(x, 200)
    } catch {
      case e: Exception => respond(x, 500, String.valueOf(e.getMessage))
    }

  /** Write + fsync the body file itself — the first half of the durability
    * contract (the scaladoc's "DURABLY ON DISK" means power loss, not just
    * process crash, so the data must hit the platter before the rename). */
  private def writeDurable(path: Path, body: Array[Byte]): Unit = {
    val ch = FileChannel.open(path, StandardOpenOption.WRITE)
    try {
      val buf = ByteBuffer.wrap(body)
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    } finally ch.close()
  }

  /** fsync a directory so a completed rename survives power loss (the
    * Lucene/Kafka idiom: open the dir READ and force). Platforms whose JDK
    * cannot open a directory channel throw IOException — rethrown, because
    * silently skipping it would make the 200 response a lie. */
  private def fsyncDir(path: Path): Unit = {
    val ch = FileChannel.open(path, StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  def start(): Unit = server.start()

  /** Graceful stop: finish in-flight handlers (bounded wait), close the
    * listener, and shut the worker pool down (HttpServer.stop does NOT stop
    * a user-supplied executor; its non-daemon threads would pin the JVM).
    * Bodies already renamed into place are durable — nothing to drain,
    * unlike the reference's in-memory channel. */
  def stop(): Unit = {
    server.stop(2)
    pool.shutdown()
  }

  def boundPort: Int = server.getAddress.getPort
}

object HttpFrontend {
  /** The most an untrusted body may cost: raw bytes read, and bytes its
    * snappy header declares after decompression. 32 MiB is far above what
    * Prometheus sends (`max_samples_per_send` defaults to 2000). */
  val MaxBodyBytes: Int = 32 << 20
}

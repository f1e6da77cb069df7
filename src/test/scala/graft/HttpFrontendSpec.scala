package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.sources.{BodyStream, HttpFrontend, Prompb, RemoteWrite}
import graft.sources.Prompb.{Sample, TimeSeries}
import graft.streaming.{CollectingSink, ExactlyOnceFileSink, RelayPipeline}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The reference's actual entry point, end to end: remote-write POSTs →
  * HTTP frontend → body files → DSv2 source → relay pipeline → sink.
  * Response codes mirror `kinesis.go:68-93` (400 on snappy/proto garbage). */
class HttpFrontendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def body(series: TimeSeries*): Array[Byte] =
    org.xerial.snappy.Snappy.compress(Prompb.encode(series))

  private def post(port: Int, bytes: Array[Byte]): Int = {
    val client = HttpClient.newHttpClient()
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/receive"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(bytes)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  test("accepted POSTs land as monotonically named body files; garbage is rejected") {
    val dir = Files.createTempDirectory("graft-http-").toString
    val f = new HttpFrontend(dir, 0)
    f.start()
    try {
      val port = f.boundPort
      assert(post(port, body(TimeSeries(Map("__name__" -> "up"), Seq(Sample(1.0, 10L))))) == 200)
      assert(post(port, "not snappy at all".getBytes) == 400) // kinesis.go:76-81
      assert(post(port, org.xerial.snappy.Snappy.compress(
        Array[Byte](0x7f, 0x7f, 0x7f, 0x7f))) == 400) // kinesis.go:83-87
      assert(post(port, body(TimeSeries(Map("__name__" -> "dn"), Seq(Sample(2.0, 20L))))) == 200)
      val listed = BodyStream.list(dir)
      assert(listed == Vector("00000000000000000000.bin", "00000000000000000001.bin"))
    } finally f.stop()
  }

  /** One POST on a raw socket, so a test controls the headers and the body
    * framing; returns the response status. */
  private def rawPost(port: Int, headers: String)(writeBody: java.io.OutputStream => Unit): Int = {
    val s = new java.net.Socket("127.0.0.1", port)
    try {
      s.setSoTimeout(60000)
      val out = new java.io.BufferedOutputStream(s.getOutputStream)
      out.write(s"POST /receive HTTP/1.1\r\nHost: 127.0.0.1\r\n$headers\r\n".getBytes("US-ASCII"))
      writeBody(out)
      out.flush()
      val status = new java.io.BufferedReader(
        new java.io.InputStreamReader(s.getInputStream, "US-ASCII")).readLine()
      status.split(" ")(1).toInt
    } finally s.close()
  }

  test("bodies over MaxBodyBytes get 413, by raw size or by snappy-declared size") {
    val dir = Files.createTempDirectory("graft-http-").toString
    val f = new HttpFrontend(dir, 0)
    f.start()
    try {
      val port = f.boundPort
      val max = HttpFrontend.MaxBodyBytes
      // a declared Content-Length over the cap: refused before any byte is read
      assert(rawPost(port, s"Content-Length: ${max + 1L}\r\n")(_ => ()) == 413)
      // a chunked stream that runs past the cap: refused once it does
      assert(rawPost(port, "Transfer-Encoding: chunked\r\n") { out =>
        val chunk = new Array[Byte](1 << 20)
        var left = max + 1L
        while (left > 0) {
          val n = math.min(left, chunk.length.toLong).toInt
          out.write(s"${n.toHexString}\r\n".getBytes("US-ASCII"))
          out.write(chunk, 0, n)
          out.write("\r\n".getBytes("US-ASCII"))
          left -= n
        }
        out.write("0\r\n\r\n".getBytes("US-ASCII"))
      } == 413)
      // a 9-byte snappy frame whose header declares max + 1 decompressed
      // bytes: refused from the header, before any decompression
      val bomb = {
        val b = Array.newBuilder[Byte]
        var v = max + 1
        while (v >= 0x80) { b += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
        b += v.toByte
        b ++= Array[Byte](0x0c, 'a', 'b', 'c', 'd')
        b.result()
      }
      assert(bomb.length == 9)
      assert(post(port, bomb) == 413)
      assert(BodyStream.list(dir).isEmpty, "nothing oversized was admitted")
      assert(post(port, body(TimeSeries(Map("__name__" -> "up"), Seq(Sample(1.0, 10L))))) == 200)
    } finally f.stop()
  }

  test("the benchmark's corrupt bodies still get 400: an unreadable snappy length, " +
      "and protobuf wire type 7") {
    val dir = Files.createTempDirectory("graft-http-").toString
    val f = new HttpFrontend(dir, 0)
    f.start()
    try {
      assert(post(f.boundPort, Array.fill[Byte](64)(0xFF.toByte)) == 400)
      assert(post(f.boundPort, org.xerial.snappy.Snappy.compress(
        Array[Byte](0x0F, 0x01, 0x02, 0x03, 0x04, 0x05, 0x06, 0x07))) == 400)
      assert(BodyStream.list(dir).isEmpty)
    } finally f.stop()
  }

  test("concurrent POSTs admit in some total order with no gaps, overwrites, or losses") {
    val dir = Files.createTempDirectory("graft-http-").toString
    val f = new HttpFrontend(dir, 0)
    f.start()
    try {
      val port = f.boundPort
      import scala.collection.parallel.CollectionConverters._
      val codes = (1 to 32).par.map(i =>
        post(port, body(TimeSeries(Map("__name__" -> s"c$i"), Seq(Sample(i.toDouble, i.toLong)))))).toList
      assert(codes.forall(_ == 200))
      val listed = BodyStream.list(dir)
      assert(listed == (0 until 32).map(n => f"$n%020d.bin").toVector) // dense, ordered
      // every body survived intact: decode all files, collect metric names
      val names = listed.flatMap(n => Prompb.decode(org.xerial.snappy.Snappy.uncompress(
        Files.readAllBytes(java.nio.file.Paths.get(dir, n)))).map(_.labels("__name__")))
      assert(names.sorted == (1 to 32).map(i => s"c$i").sorted)
    } finally f.stop()
  }

  test("numbering resumes after existing bodies (restart-safe sequence)") {
    val dir = Files.createTempDirectory("graft-http-").toString
    val f1 = new HttpFrontend(dir, 0); f1.start()
    try assert(post(f1.boundPort, body(TimeSeries(Map("__name__" -> "a"), Seq(Sample(1.0, 1L))))) == 200)
    finally f1.stop()
    val f2 = new HttpFrontend(dir, 0); f2.start() // a restarted frontend
    try {
      assert(post(f2.boundPort, body(TimeSeries(Map("__name__" -> "b"), Seq(Sample(2.0, 2L))))) == 200)
      assert(BodyStream.list(dir).last == "00000000000000000001.bin")
    } finally f2.stop()
  }

  test("live trigger: posts during the run are picked up across micro-batches, with observed metrics") {
    val dir = Files.createTempDirectory("graft-http-").toString
    val f = new HttpFrontend(dir, 0)
    f.start()
    try {
      val sink = new CollectingSink
      val q = RelayPipeline.start(spark,
        RemoteWrite.bodyDsv2Stream(spark, dir), sink,
        trigger = Trigger.ProcessingTime("100 milliseconds"))
      try {
        assert(post(f.boundPort, body(TimeSeries(Map("__name__" -> "live1"),
          Seq(Sample(1.0, 1L))))) == 200)
        q.processAllAvailable()
        // NaN value → "value":null on the wire AND in the observed metric
        assert(post(f.boundPort, body(TimeSeries(Map("__name__" -> "live2"),
          Seq(Sample(Double.NaN, 2L))))) == 200)
        q.processAllAvailable()
        assert(sink.allLines.size == 2)
        assert(sink.allLines.exists(_.contains(""""name":"live2"""")))
        val metrics = q.recentProgress.flatMap(p =>
          Option(p.observedMetrics.get("relay")))
        assert(metrics.map(_.getLong(0)).sum == 2) // n_records across batches
        assert(metrics.map(_.getLong(1)).sum == 1) // the NaN→null sample
      } finally q.stop()
    } finally f.stop()
  }

  test("POST /receive to sink lines, through the DSv2 source and relay pipeline") {
    val dir = Files.createTempDirectory("graft-http-").toString
    val f = new HttpFrontend(dir, 0)
    f.start()
    try {
      (1 to 4).foreach { i =>
        assert(post(f.boundPort, body(TimeSeries(
          Map("__name__" -> s"m$i", "host" -> "h1"), Seq(Sample(i.toDouble, i.toLong))))) == 200)
      }
      val sink = new CollectingSink
      val q = RelayPipeline.start(spark,
        RemoteWrite.bodyDsv2Stream(spark, dir), sink, trigger = Trigger.AvailableNow())
      q.awaitTermination(60000)
      assert(sink.allLines.size == 4)
      assert((1 to 4).forall(i => sink.allLines.exists(_.contains(s""""name":"m$i""""))))
    } finally f.stop()
  }

  test("ingest while draining: every posted record reaches the exactly-once sink once") {
    // POSTs race a live 1 s trigger: a directory listing taken while the
    // frontend renames bodies in must never admit a body past a gap
    val dir = Files.createTempDirectory("graft-http-").toString
    val sinkDir = Files.createTempDirectory("graft-http-sink-").toString
    val ckpt = Files.createTempDirectory("graft-http-ckpt-").toString
    val connections = 2
    val perConnection = 3000
    val f = new HttpFrontend(dir, 0)
    f.start()
    try {
      val q = RelayPipeline.start(spark, RemoteWrite.bodyDsv2Stream(spark, dir),
        new ExactlyOnceFileSink(sinkDir, "relay"),
        trigger = Trigger.ProcessingTime("1 second"), checkpointDir = Some(ckpt))
      try {
        val refused = new java.util.concurrent.atomic.AtomicInteger
        val posters = (0 until connections).map { c =>
          val t = new Thread(() => {
            val client = HttpClient.newHttpClient() // one keep-alive connection
            (0 until perConnection).foreach { i =>
              val code = client.send(
                HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${f.boundPort}/receive"))
                  .POST(HttpRequest.BodyPublishers.ofByteArray(body(TimeSeries(
                    Map("__name__" -> s"c${c}_$i"), Seq(Sample(i.toDouble, i.toLong))))))
                  .build(),
                HttpResponse.BodyHandlers.discarding()).statusCode()
              if (code != 200) refused.incrementAndGet()
            }
          })
          t.start()
          t
        }
        posters.foreach(_.join())
        assert(refused.get == 0)
        q.processAllAvailable()
        assert(q.exception.isEmpty, q.exception.toString)
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val Name = """"name":"([^"]*)"""".r
      val names = Files.walk(java.nio.file.Paths.get(sinkDir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala)
        .flatMap(l => Name.findFirstMatchIn(l).map(_.group(1)))
        .toVector
      val expected = for (c <- 0 until connections; i <- 0 until perConnection) yield s"c${c}_$i"
      assert(names.size == expected.size, "records lost or duplicated")
      assert(names.toSet == expected.toSet)
    } finally f.stop()
  }
}

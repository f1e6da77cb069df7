package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** One generated series: its label set and its (value, time ms) samples. */
final case class Series(labels: Seq[(String, String)], samples: Seq[(Double, Long)])

/** A generated body: the series it carries (empty for a corrupt body) and the
  * POST payload. `records` is how many records the relay must deliver for it. */
final case class Body(series: Seq[Series], payload: Array[Byte], corrupt: Boolean) {
  def records: Int = series.map(s =>
    if (s.samples.isEmpty) 1 else s.samples.count(x => !x._1.isInfinite)).sum
}

/** Remote-write `WriteRequest` encoder, written from the protobuf wire layout
  * (FIXTURES.md) and kept apart from the program's own codec so that the
  * relay's decode is checked against independently built bytes. */
object WireEncoder {
  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def bytesField(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    varint(out, (field << 3 | 2).toLong); varint(out, b.length.toLong); out.write(b)
  }

  def encode(series: Seq[Series]): Array[Byte] = {
    val req = new ByteArrayOutputStream()
    series.foreach { s =>
      val ts = new ByteArrayOutputStream()
      s.labels.foreach { case (k, v) =>
        val l = new ByteArrayOutputStream()
        bytesField(l, 1, k.getBytes(UTF_8)); bytesField(l, 2, v.getBytes(UTF_8))
        bytesField(ts, 1, l.toByteArray)
      }
      s.samples.foreach { case (value, t) =>
        val sm = new ByteArrayOutputStream()
        varint(sm, (1 << 3 | 1).toLong)
        val bits = java.lang.Double.doubleToRawLongBits(value)
        (0 until 8).foreach(i => sm.write(((bits >>> (8 * i)) & 0xFF).toInt))
        varint(sm, (2 << 3 | 0).toLong); varint(sm, t)
        bytesField(ts, 2, sm.toByteArray)
      }
      bytesField(req, 1, ts.toByteArray)
    }
    req.toByteArray
  }
}

/** The records the reference derives from the series it received
  * (`prometheus.go:19-34`, `kinesis.go:158-161`), reduced to an
  * order-independent digest: a zero-sample series is one record with
  * time 0 and a null value; a NaN value becomes null; a ±Inf value is
  * dropped; a missing `__name__` is "". Each record's canonical text
  * (shared with checks.py) is hashed with SHA-1; the digest is the record
  * count and the sum of the first 8 hash bytes modulo 2^64. */
final class RecordDigest {
  private val md = MessageDigest.getInstance("SHA-1")
  var count = 0L
  var sum = 0L

  def add(name: String, time: Long, value: Option[Double], labels: Seq[(String, String)]): Unit = {
    val v = value.map(d => java.lang.Double.doubleToLongBits(d).toString).getOrElse("null")
    val ls = labels.sortBy(_._1).map { case (k, x) => k + "=" + x }.mkString("\u001e")
    val h = md.digest(s"$name\u001f$time\u001f$v\u001f$ls".getBytes(UTF_8))
    sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    count += 1
  }

  def addSeries(s: Series): Unit = {
    val name = s.labels.collectFirst { case ("__name__", n) => n }.getOrElse("")
    if (s.samples.isEmpty) add(name, 0L, None, s.labels)
    else s.samples.foreach { case (v, t) =>
      if (v.isNaN) add(name, t, None, s.labels)
      else if (!v.isInfinite) add(name, t, Some(v), s.labels)
    }
  }

  /** Unsigned decimal, as Python reads it. */
  def sumText: String = java.lang.Long.toUnsignedString(sum)
}

/** Deterministic body source for one client connection: the same
  * (seed, workload, connection) always yields the same sequence, so the
  * expected records are derived after the timed phase by replaying it. */
sealed trait BodyGen { def next(): Body }

object BodyGen {
  private def compress(b: Array[Byte]): Array[Byte] = org.xerial.snappy.Snappy.compress(b)

  /** `remote_write_small`: rounds of [[SmallGen.RoundSize]] bodies of
    * [[SmallGen.SeriesPerBody]] one-sample series. Bodies 0-3 of a round
    * carry the reference's traps in their first series (NaN, +Inf, no
    * samples, no `__name__`); the last body of a round is corrupt. */
  final class SmallGen(seed: Long, conn: Int) extends BodyGen {
    import SmallGen._
    private val rnd = new SplittableRandom(seed * 1000003L + conn)
    private var j = 0L

    def next(): Body = {
      val pos = (j % RoundSize).toInt
      val b =
        if (pos == RoundSize - 1) {
          // alternate the two refusal paths: bytes that are not snappy, and
          // snappy around a protobuf with an invalid wire type
          val payload = if ((j / RoundSize) % 2 == 0) NotSnappy else compress(BadWireType)
          Body(Nil, payload, corrupt = true)
        } else {
          val series = (0 until SeriesPerBody).map { i =>
            val base = Seq(
              "instance" -> s"host-$conn-${i % 8}", "job" -> "graftbench",
              "idx" -> i.toString, "conn" -> conn.toString)
            val named = if (i == 0 && pos == 3) base
                        else ("__name__" -> s"bench_metric_${(j * SeriesPerBody + i) % 40}") +: base
            val t = 1700000000000L + j * 1000L + i
            val v = rnd.nextInt(10000000) / 1000.0
            val samples =
              if (i == 0 && pos == 0) Seq((Double.NaN, t))
              else if (i == 0 && pos == 1) Seq((Double.PositiveInfinity, t))
              else if (i == 0 && pos == 2) Seq.empty
              else Seq((v, t))
            Series(named, samples)
          }
          Body(series, compress(WireEncoder.encode(series)), corrupt = false)
        }
      j += 1
      b
    }
  }
  object SmallGen {
    val NotSnappy: Array[Byte] = Array.fill(64)(0xFF.toByte)
    // field 1 with wire type 7, which protobuf does not define
    val BadWireType: Array[Byte] = Array[Byte](0x0F, 1, 2, 3, 4, 5, 6, 7)
    val RoundSize = 20
    /** 100 one-sample series: the body of a lightly loaded Prometheus shard,
      * which flushes at its `batch_send_deadline` well below the
      * `max_samples_per_send` default of 2000 (Prometheus configuration
      * docs, `remote_write` / `queue_config`). */
    val SeriesPerBody = 100
  }

  /** `remote_write_wide`: every body of a connection carries the same
    * [[WideGen.SeriesPerBody]] counter series (disjoint between
    * connections), [[WideGen.SamplesPerSeries]] samples each at a 15 s
    * step. Counters are integer-valued and restart now and then, so the
    * `rate` consumer's totals are exact; the generator keeps those totals. */
  final class WideGen(seed: Long, conn: Int) extends BodyGen {
    import WideGen._
    private val rnd = new SplittableRandom(seed * 1000033L + conn)
    private val value = Array.fill(SeriesPerBody)(rnd.nextInt(1000).toDouble)
    private val labels = (0 until SeriesPerBody).map { i =>
      Seq("__name__" -> s"wide_counter_${i % 50}", "instance" -> s"node-$conn-${i / 50}",
        "job" -> "graftbench-wide", "conn" -> conn.toString)
    }
    private var j = 0L
    var samples = 0L
    var resets = 0L
    var increase = 0.0

    def next(): Body = {
      val series = (0 until SeriesPerBody).map { i =>
        val ss = (0 until SamplesPerSeries).map { k =>
          val n = j * SamplesPerSeries + k
          if (n > 0) {
            if (rnd.nextInt(500) == 0 && value(i) >= 10) {
              value(i) = rnd.nextInt(10).toDouble; resets += 1; increase += value(i)
            } else {
              val d = rnd.nextInt(100); value(i) += d; increase += d
            }
          }
          samples += 1
          (value(i), 1700000000000L + n * 15000L)
        }
        Series(labels(i), ss)
      }
      j += 1
      Body(series, compress(WireEncoder.encode(series)), corrupt = false)
    }
  }
  /** 2000 series x 5 samples = 10 000 samples per body: a shard whose
    * `max_samples_per_send` is raised to its `capacity` default of 10 000
    * (Prometheus configuration docs, `queue_config`), sending after a
    * backlog of five scrapes. */
  object WideGen {
    val SeriesPerBody = 2000
    val SamplesPerSeries = 5
  }
}

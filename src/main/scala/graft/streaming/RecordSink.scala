package graft.streaming

import java.nio.charset.StandardCharsets

/** One sink entry: JSON-lines payload + optional partition key — the Spark
  * form of `*kinesis.PutRecordsRequestEntry` (`/root/reference/kinesis.go:172-175`;
  * Firehose entries carry no partition key, `firehose.go:165-167`).
  */
final case class SinkEntry(partitionKey: Option[String], data: Array[Byte]) {
  /** AWS accounting: data bytes + partition-key UTF-8 BYTES (review
    * catch: `.length` counted UTF-16 chars, undercounting non-ASCII keys
    * against the 4.5 MB limit the reference computes in bytes). */
  def size: Int = data.length +
    partitionKey.map(_.getBytes(StandardCharsets.UTF_8).length).getOrElse(0)
}

/** Batch chunker enforcing the AWS `PutRecords`/`PutRecordBatch` API limits
  * the reference guards with `MaxPutRecordsEntries`/`MaxPutRecordsSize`
  * (`/root/reference/kinesis.go:22-23,126-148`): ≤500 entries and ≤4.5 MB
  * per call, preserving input order.
  *
  * The reference has an empty-buffer bypass (`kinesis.go:127-132`) that lets
  * a single oversized incoming batch exceed the limits; we chunk
  * unconditionally instead (SURVEY.md §2.4 — fix, don't replicate). A single
  * entry larger than maxBytes is emitted alone (the API call will fail and be
  * handled by the sink's error policy, same observable behavior).
  */
object Chunker {
  val MaxEntries = 500
  val MaxBytes = 4500000L

  def chunk[T](it: Iterator[T], sizeOf: T => Long,
               maxEntries: Int = MaxEntries,
               maxBytes: Long = MaxBytes): Iterator[Seq[T]] =
    new Iterator[Seq[T]] {
      private val in = it.buffered
      def hasNext: Boolean = in.hasNext
      def next(): Seq[T] = {
        if (!in.hasNext) throw new NoSuchElementException("Chunker exhausted")
        val batch = Seq.newBuilder[T]
        var n = 0
        var bytes = 0L
        var full = false
        while (!full && in.hasNext) {
          val sz = sizeOf(in.head)
          if (n == 0 || (n < maxEntries && bytes + sz <= maxBytes)) {
            batch += in.next()
            n += 1
            bytes += sz
          } else full = true
        }
        batch.result()
      }
    }
}

/** Sink strategy — the Spark form of the reference's `recordWriter` interface
  * (`/root/reference/main.go:27-31`), selected by the `-firehose` flag
  * (`main.go:95-99`). `send` receives one already-chunked batch (≤500/≤4.5MB)
  * and must not throw for delivery errors: the reference logs and drops
  * (at-most-once, `kinesis.go:109-111,139-141`).
  *
  * NOTE: no AWS SDK exists in this environment (zero egress, SURVEY.md §2.4);
  * `KinesisFileSink` is a faithful local emulation of both streams (Firehose
  * entries reach it keyless, [[RelayPipeline.deliver]]) — the trait
  * boundary is where a real `PutRecords`/`PutRecordBatch` call slots in.
  */
trait RecordSink extends Serializable {
  def send(batch: Seq[SinkEntry]): Unit

  /** Idempotent delivery for the exactly-once mode: `send` plus the replay
    * coordinates of the chunk — micro-batch id, partition, chunk index
    * within the partition. A sink that can address storage by these
    * coordinates (object store path, transactional table partition)
    * overwrites on replay instead of duplicating; the default ignores them
    * and degrades to the at-most-once `send`, which is all the real AWS
    * `PutRecords` API offers (the reference is at-most-once for the same
    * reason, `kinesis.go:109-111`). */
  def sendAt(batchId: Long, partitionId: Int, chunkIdx: Int,
             batch: Seq[SinkEntry]): Unit = send(batch)

  /** Called once, DRIVER-side, before a micro-batch's partition tasks
    * deliver. Exactly-once sinks clear the batch's prior on-disk attempt
    * here: the per-partition self-heal (chunkIdx == 0) can only see its
    * own partition's files, so orphans from an attempt with a DIFFERENT
    * partitioning (changed cpu count / source splits between restarts) or
    * from a partition that is now empty would survive it and read back as
    * duplicates (ADVICE r09). Default: no-op — at-most-once sinks have no
    * replay identity to clear. */
  def beginBatch(batchId: Long): Unit = ()
}

object RecordSink {
  /** Reference parity for `-region` (`/root/reference/main.go:74`): the
    * default is the `AWS_REGION` env var; a real SDK client would be built
    * against it. The file emulations carry it so the constructor seam is
    * identical to what a real `PutRecords` client needs. */
  def defaultRegion: String = sys.env.getOrElse("AWS_REGION", "")
}

/** Kinesis `PutRecords` emulation: each `send` = one API call = one file,
  * entries as JSON lines (payloads already newline-terminated). Partition
  * keys ARE recorded, mirroring shard-key affinity (`kinesis.go:174`): a
  * dot-prefixed sidecar (`.<file>.keys` — hidden from Spark globs, so
  * the stream dir still reads as a clean jsonl table) holds one JSON value
  * per entry, the key string or `null`, in entry order. Firehose mode's
  * entries arrive keyless ([[RelayPipeline.deliver]]), so its sidecars hold
  * only `null`: the sidecar is what makes the two modes' output differ.
  */
final class KinesisFileSink(dir: String, streamName: String,
                            val region: String = RecordSink.defaultRegion,
                            // test seam: the torn-batch spec injects a failing
                            // writer to pin the whole-batch cleanup below
                            keysWriter: (java.io.File, Seq[SinkEntry]) => Unit =
                              KinesisFileSink.writeKeys)
    extends RecordSink {
  def send(batch: Seq[SinkEntry]): Unit = {
    if (batch.isEmpty) return
    // EVERYTHING I/O sits inside the catch (review catch: mkdirs /
    // createTempFile / open used to throw BEFORE it, failing the task —
    // while the same disk-full error one line later was correctly
    // dropped): the contract is log-and-drop, at-most-once
    // (kinesis.go:109-111), and close() flushes so it stays inside too.
    //
    // Publication is ATOMIC (review catch, two rounds of it): a send is
    // visible to `*.jsonl` readers either completely — data file AND keys
    // sidecar — or not at all. The sidecar (dot-prefixed, invisible to
    // globs) writes FIRST, the data writes to a dot-prefixed temp, and one
    // same-directory atomic rename publishes. A reader can never list a
    // torn or soon-to-be-retracted data file (the first fix wrote data in
    // place at its final name and deleted it on sidecar failure — leaving
    // a mid-write/mid-retraction window, and a kill -9 between the two
    // writes published a permanently keyless batch), and every crash or
    // error window leaves only hidden files behind.
    var tmp: java.io.File = null
    var k: java.io.File = null
    try {
      val d = new java.io.File(dir, streamName)
      d.mkdirs()
      tmp = java.io.File.createTempFile(".putrecords-", ".jsonl.tmp", d)
      val published = tmp.getName.stripPrefix(".").stripSuffix(".tmp")
      k = new java.io.File(d, "." + published + ".keys")
      keysWriter(k, batch)
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp))
      try batch.foreach(e => out.write(e.data))
      finally out.close()
      java.nio.file.Files.move(tmp.toPath, new java.io.File(d, published).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: java.io.IOException =>
        // both halves are still hidden here (the rename is the last step),
        // so cleanup failures can't publish anything — but log them: a
        // silently-ignored delete return would leave the leak unobservable
        // (review catch)
        for (h <- Seq(Option(k), Option(tmp)).flatten)
          if (h.exists() && !h.delete())
            JsonLog.warn("send cleanup left a hidden temp file",
              "path" -> h.getPath)
        JsonLog.error("send failed", "error" -> String.valueOf(e.getMessage))
    }
  }
}

object KinesisFileSink {
  /** The keys sidecar: one JSON value per entry (string or null).
    *
    * ADVICE r19 (both findings here): (1) this used a PrintStream, which
    * swallows IOExceptions behind an internal error flag — a disk error
    * left ExactlyOnceFileSink committing a data chunk with a
    * missing/truncated sidecar that no self-heal ever repairs, and
    * KinesisFileSink dropped the batch without even logging. A Writer
    * propagates, so the exactly-once path now fails the task (replay is
    * idempotent) and the at-most-once path logs the drop. (2) keys with
    * control characters (newline!) were emitted raw, corrupting the
    * one-value-per-line format; [[JsonLog.esc]] is now shared. */
  private[graft] def writeKeys(f: java.io.File, batch: Seq[SinkEntry]): Unit = {
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), StandardCharsets.UTF_8))
    try writeKeysTo(out, batch) finally out.close()
  }

  /** Encoder seam (tests inject a failing Writer to pin propagation). */
  private[graft] def writeKeysTo(out: java.io.Writer, batch: Seq[SinkEntry]): Unit =
    batch.foreach { e =>
      out.write(e.partitionKey.map(k => "\"" + JsonLog.esc(k) + "\"").getOrElse("null"))
      out.write("\n")
    }
}

/** Exactly-once delivery: the `batch=<id>` partition-overwrite pattern
  * proven by [[StreamingDedup]]'s signature table, lifted into the sink
  * seam. Each chunk lands at a DETERMINISTIC path —
  * `dir/stream/batch=<id>/p<partition>-c<chunk>.jsonl`, written
  * temp-then-atomic-rename — so replaying a micro-batch after a crash
  * rewrites the same files byte-identically instead of appending
  * duplicates: delivery is idempotent per (batchId, partition, chunk).
  * The first chunk of a partition clears that partition's earlier files
  * inside the batch directory, so a half-delivered previous attempt
  * self-heals rather than leaving orphan chunks.
  *
  * Unlike the at-most-once sinks, an I/O error here THROWS: the task
  * retries / the micro-batch replays, and idempotence makes the retry
  * safe — dropping on error (the reference's policy) is exactly what
  * exactly-once forbids. Keys are recorded as they arrive: Firehose mode
  * sends none (`RelayPipeline.deliver`, `firehose.go:165-167`).
  *
  * Scale: one directory per micro-batch, one file per (partition, chunk) —
  * the layout object stores want (no append, no rename across prefixes
  * beyond the atomic temp move), and a downstream consumer reads
  * `batch=*` as a Hive-partitioned table. */
final class ExactlyOnceFileSink(dir: String, streamName: String,
                                val region: String = RecordSink.defaultRegion)
    extends RecordSink {
  /** Coordinate-free send has no replay identity — refuse it loudly rather
    * than silently duplicating. */
  def send(batch: Seq[SinkEntry]): Unit =
    throw new UnsupportedOperationException(
      "ExactlyOnceFileSink requires sendAt (batch/partition/chunk coordinates)")

  /** Whole-batch clear before delivery: removes EVERY file of the prior
    * attempt, including partitions the replay no longer writes (fewer
    * partitions, newly-empty partitions) that the per-partition self-heal
    * in [[sendAt]] cannot reach. Runs driver-side, so it cannot race the
    * partition tasks it precedes. */
  /** Whole-batch clear, plus the guard making the per-partition
    * self-heal's assumption EXPLICIT: [[sendAt]]'s chunk-0 delete runs on
    * executors with no mutual exclusion, so a concurrently-running second
    * attempt of the same partition (speculative task, or a zombie after a
    * network blip) could delete chunks a finished attempt already moved
    * into place (review catch). Single-attempt execution is therefore a
    * REQUIREMENT, enforced here: speculation must be off for the
    * exactly-once sink — refused loudly, not corrupted silently. */
  override def beginBatch(batchId: Long): Unit = {
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      require(!s.conf.get("spark.speculation", "false").toBoolean,
        "ExactlyOnceFileSink requires spark.speculation=false: a " +
          "speculative second attempt races the per-partition chunk-0 " +
          "self-heal and can delete a finished attempt's committed chunks")
    }
    val batchDir = new java.io.File(new java.io.File(dir, streamName), f"batch=$batchId%d")
    if (batchDir.isDirectory) {
      Option(batchDir.listFiles()).foreach(_.foreach(f =>
        if (!f.delete()) throw new java.io.IOException(
          s"cannot clear stale file ${f.getPath}")))
    }
  }

  override def sendAt(batchId: Long, partitionId: Int, chunkIdx: Int,
                      batch: Seq[SinkEntry]): Unit = {
    if (batch.isEmpty) return
    val batchDir = new java.io.File(new java.io.File(dir, streamName), f"batch=$batchId%d")
    batchDir.mkdirs()
    if (chunkIdx == 0) {
      // replay self-healing: drop every chunk (and keys sidecar) this
      // partition wrote before
      val prefix = f"p$partitionId%05d-"
      val mine = batchDir.listFiles((_, n) =>
        n.startsWith(prefix) || n.startsWith("." + prefix))
      Option(mine).foreach(_.foreach(f => if (!f.delete()) throw new java.io.IOException(
        s"cannot clear stale chunk ${f.getPath}")))
    }
    val target = new java.io.File(batchDir, f"p$partitionId%05d-c$chunkIdx%05d.jsonl")
    val tmp = java.io.File.createTempFile("." + target.getName + ".", ".tmp", batchDir)
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp))
    try {
      try batch.foreach(e => out.write(e.data))
      finally out.close()
      // keys sidecar first (dot-prefixed — invisible to Spark globs, so
      // batch=* still reads as a clean table), then the atomic data move:
      // a crash between the two leaves a sidecar the next attempt's
      // self-heal or beginBatch clears
      KinesisFileSink.writeKeys(
        new java.io.File(batchDir, "." + target.getName + ".keys"), batch)
      java.nio.file.Files.move(tmp.toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally tmp.delete() // no-op after a successful move
  }
}

/** Test sink: collects everything in-process. Valid in local mode only
  * (executors share the driver JVM). Spark serializes the sink into each
  * task closure, so state lives in a JVM-static registry keyed by sink id —
  * the deserialized task-side copies and the driver-side original all see
  * the same queue.
  */
final class CollectingSink extends RecordSink {
  import scala.jdk.CollectionConverters._
  private val id = java.util.UUID.randomUUID().toString
  private def queue = CollectingSink.registry
    .computeIfAbsent(id, _ => new java.util.concurrent.ConcurrentLinkedQueue[Seq[SinkEntry]]())
  def send(batch: Seq[SinkEntry]): Unit = if (batch.nonEmpty) queue.add(batch)
  def allBatches: Seq[Seq[SinkEntry]] = queue.asScala.toSeq
  def allLines: Seq[String] = allBatches.flatten
    .flatMap(e => new String(e.data, StandardCharsets.UTF_8).split("\n", -1).filter(_.nonEmpty))
  /** Drop this sink's queue from the JVM-static registry — without it
    * every instance's collected payloads stay reachable for the JVM
    * lifetime (review catch; long test suites only). */
  def close(): Unit = CollectingSink.registry.remove(id)
}

object CollectingSink {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Seq[SinkEntry]]]()
}

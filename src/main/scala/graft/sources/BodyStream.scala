package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 source for remote-write POST bodies — the "proper" Spark-native
  * answer to the reference's HTTP entry point (`/root/reference/main.go:61`,
  * `kinesis.go:68-93`) that SURVEY §2.1 planned.
  *
  * Protocol: a tiny HTTP frontend appends each received POST body as one
  * file whose name is a monotonically increasing sequence id (e.g.
  * zero-padded counter or timestamp). This source's streaming offset IS
  * the received-body sequence number: offset N = "the first N files in
  * name order". That makes offsets
  *   - exactly replayable: any [start, end) range always maps to the same
  *     bodies (files are append-only, names monotonic — the same contract
  *     Kafka offsets or the reference's implicit channel ordering rely on);
  *   - checkpointable: the offset serializes as JSON (`seq`, `hwm`,
  *     `base`, see [[BodySeqOffset]]), so a restarted query resumes at the
  *     first unprocessed body
  *     (improving on the reference's lossy SIGTERM path, `main.go:114-119`).
  *
  * Admission control: `maxFilesPerTrigger` bounds each micro-batch — the
  * backpressure knob standing in for the reference's bounded channel
  * (`kinesis.go:21,60`). There is no seen-files map on the driver: state
  * is one long plus the name of the last admitted file (the high-water
  * mark that makes the index→file mapping verifiable on replay). Each
  * batch's file slice is split into `min(files, defaultParallelism)`
  * contiguous groups ([[BodyStream.partitions]]), so a micro-batch of a
  * dozen bodies is decoded on every core, not by one task.
  *
  * Schema: `seq BIGINT, path STRING, body BINARY` — `body` feeds
  * [[RemoteWrite.fromBodies]]; `seq` gives downstream operators a total
  * arrival order.
  */
object BodyStream {
  val schema: StructType = StructType.fromDDL("seq BIGINT, path STRING, body BINARY")

  /** Stable listing: regular files, hidden/temp (`.`/`_` prefix) excluded,
    * name order. The frontend writes to a dot-prefixed temp name and
    * renames into place, so partially-written bodies are never listed. */
  def list(dir: String): Vector[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Vector.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
        .toVector.sorted
      finally s.close()
    }
  }

  case class BodyPartition(dir: String, files: Seq[(Long, String)]) extends InputPartition

  /** Splits a slice of `files` (seq numbers from `baseSeq`) into
    * `min(files, parallelism)` contiguous groups in seq order whose sizes
    * differ by at most one. The grouping is not part of the offset: a
    * replay under another parallelism reads the same bodies, and the
    * exactly-once sink clears the whole batch before delivery. */
  def partitions(dir: String, files: IndexedSeq[String], baseSeq: Long,
                 parallelism: Int): Array[InputPartition] = {
    val n = files.length
    val groups = math.min(n, math.max(1, parallelism))
    Array.tabulate[InputPartition](groups) { g =>
      val (lo, hi) = (g * n / groups, (g + 1) * n / groups)
      BodyPartition(dir, (lo until hi).map(i => (baseSeq + i, files(i))))
    }
  }

  /** The cluster's default parallelism, read on the driver at planning. */
  def defaultParallelism: Int =
    org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism

  /** Fail-loud offset-contract check that also ANCHORS the offset in
    * today's listing: returns the listing index of the first body after the
    * offset's high-water mark (the offset's position in the possibly
    * archived directory). Because every not-yet-processed body sorts
    * strictly after the hwm (name monotonicity), that index — k = the
    * number of listed names ≤ hwm — maps absolute sequence numbers to
    * listing indices regardless of how many PROCESSED bodies were archived
    * away: seq s ↔ index k + (s − off.seq).
    *
    * Hazards that silently re-map a committed range still fail loudly:
    *   - a writer violating name monotonicity (unpadded counters: "10"
    *     sorts before "9"): more names ≤ hwm than the offset admitted
    *     (`k > seq − base`) — such a file would otherwise be silently
    *     skipped, never processed;
    *   - the hwm file itself archived while earlier-sorting processed
    *     files remain: archival must take the hwm LAST (front-to-back),
    *     or the anchor is ambiguous.
    *
    * Residual hazard (accepted, documented): archival NARROWS the
    * insertion check. If j admitted files ≤ hwm have been archived, up to
    * j late-appearing files that sort before the hwm pass `k ≤ expected`
    * while `listing(k−1) == hwm` still holds — they are skipped without
    * error. Closing it would need the offset to also carry the name of the
    * first unarchived file; not worth it while the only sanctioned writer
    * is the frontend's monotonic counter, whose names cannot sort below an
    * admitted hwm at all. With no archival (base floor intact) the check
    * is exact. The initial offset (seq 0, empty hwm) anchors at index 0. */
  def boundaryIndex(listing: Vector[String], off: BodySeqOffset, dir: String): Int = {
    import scala.collection.Searching.{Found, InsertionPoint}
    val k = listing.search(off.hwm) match {
      case Found(i) => i + 1
      case InsertionPoint(i) => i
    }
    val expected = off.seq - off.base
    if (k > expected) throw new IllegalStateException(
      s"remote-write-bodies: ${k - expected} file(s) sorting at or before the " +
        s"committed high-water mark `${off.hwm}` of `$dir` appeared after it was " +
        "admitted — non-monotonic names (e.g. unpadded counters) re-map committed " +
        "ranges and would be silently skipped. Refusing to replay.")
    if (k > 0 && listing(k - 1) != off.hwm) throw new IllegalStateException(
      s"remote-write-bodies: committed high-water mark `${off.hwm}` is missing " +
        s"from `$dir` while $k earlier-sorting file(s) remain — archival must " +
        "remove processed bodies front-to-back (the hwm file goes last). " +
        "Refusing to replay a re-mapped range.")
    k
  }

  /** The retention-floor file a reader publishes in the body directory:
    * `_archive_floor-` plus 16 hex digits of its checkpoint location's
    * SHA-1, so each reader of a shared directory has its own floor and a
    * restarted reader rewrites the same one. */
  def floorName(checkpointLocation: String): String =
    "_archive_floor-" + java.security.MessageDigest.getInstance("SHA-1")
      .digest(checkpointLocation.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  /** One task = one file group; each file is read whole, exactly like the
    * reference's `io.ReadAll(r.Body)` (`kinesis.go:69`). */
  object ReaderFactory extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val bp = partition.asInstanceOf[BodyPartition]
      new PartitionReader[InternalRow] {
        private val it = bp.files.iterator
        private var row: InternalRow = _
        override def next(): Boolean = it.hasNext && {
          val (seq, name) = it.next()
          val full = Paths.get(bp.dir, name)
          row = InternalRow(seq, UTF8String.fromString(full.toString),
            Files.readAllBytes(full))
          true
        }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
    }
  }
}

/** `spark.readStream.format("remote-write-bodies").load(dir)` — registered
  * via META-INF/services (DataSourceRegister). */
class BodyStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "remote-write-bodies"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BodyStream.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // Spark convention for fixed-schema sources: reject a user-supplied
    // schema that differs instead of silently serving different columns.
    if (schema != null && schema != BodyStream.schema)
      throw new IllegalArgumentException(
        s"remote-write-bodies serves a fixed schema `${BodyStream.schema.toDDL}`; " +
          s"a user-specified schema is not supported (got `${schema.toDDL}`)")
    val opts = new CaseInsensitiveStringMap(properties)
    new BodyTable(
      Option(opts.get("path")).getOrElse(
        throw new IllegalArgumentException("remote-write-bodies: .load(dir) path required")),
      opts.getInt("maxFilesPerTrigger", 1000))
  }
}

class BodyTable(dir: String, maxFilesPerTrigger: Int)
    extends Table with SupportsRead {
  override def name(): String = s"remote-write-bodies(`$dir`)"
  override def schema(): StructType = BodyStream.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new BodyScan(dir, maxFilesPerTrigger)
    }
}

class BodyScan(dir: String, maxFilesPerTrigger: Int) extends Scan {
  override def readSchema(): StructType = BodyStream.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new BodyMicroBatchStream(dir, maxFilesPerTrigger, checkpointLocation)
  /** Batch read of everything currently in the directory — lets the same
    * source back offline reprocessing (`spark.read.format(...)`). */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      BodyStream.partitions(dir, BodyStream.list(dir), 0L, BodyStream.defaultParallelism)
    override def createReaderFactory(): PartitionReaderFactory = BodyStream.ReaderFactory
  }
}

/** Offset = number of bodies ever admitted (`seq`, absolute — counts
  * archived bodies too), the NAME of the last admitted file (`hwm`, "" when
  * seq = 0), and the ARCHIVAL FLOOR `base` = how many of the admitted bodies
  * had already been archived out of the directory at admission time (so the
  * listing held `seq − base` of them). The hwm pins the index→file mapping:
  * [[BodyStream.boundaryIndex]] re-anchors it against every later listing,
  * so processed bodies can move to cold storage without re-mapping committed
  * ranges, while a range silently re-mapped by non-monotonic names fails
  * loudly instead of replaying wrong bodies. */
case class BodySeqOffset(seq: Long, hwm: String, base: Long = 0L) extends Offset {
  require(base >= 0L && base <= seq, s"archival base $base outside [0, $seq]")
  require(seq == 0L || hwm.nonEmpty, s"offset $seq admits bodies but names no high-water mark")
  override def json(): String =
    s"""{"seq":$seq,"hwm":"${BodySeqOffset.esc(hwm)}","base":$base}"""
}

object BodySeqOffset {
  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c => c.toString
  }
  private val JsonForm =
    """\{"seq":(\d+),"hwm":"((?:[^"\\]|\\.)*)","base":(\d+)\}""".r

  /** Accepts exactly the form [[BodySeqOffset.json]] writes. Anything else
    * (a plain number, a missing or future field, reordered keys, a number
    * past Long range) fails as "unrecognized offset", never as an opaque
    * NumberFormatException. */
  def parse(json: String): BodySeqOffset = json.trim match {
    case JsonForm(seq, hwm, base) if seq.toLongOption.isDefined && base.toLongOption.isDefined =>
      BodySeqOffset(seq.toLong,
        hwm.replace("\\\"", "\"").replace("\\\\", "\\"), base.toLong)
    case other => throw new IllegalArgumentException(
      s"unrecognized body-stream offset format: '$other' — expected " +
        """{"seq":N,"hwm":"...","base":N}; """ +
        "was the checkpoint written by a newer version?")
  }
}

class BodyMicroBatchStream(dir: String, maxFilesPerTrigger: Int, checkpointLocation: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val floorName = BodyStream.floorName(checkpointLocation)

  /** Under Trigger.AvailableNow the engine asks us to pin "available" at
    * query start; batches then drain up to this fence in
    * maxFilesPerTrigger-sized steps and the query stops. The fence is an
    * ABSOLUTE sequence number, which needs the start offset's archival
    * anchor — so prepare only raises a flag and the first admission pins
    * it. -1 = unpinned (ProcessingTime trigger: every batch sees the live
    * listing). */
  @volatile private var pinAvailableNow = false
  @volatile private var availableNowFence: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit = pinAvailableNow = true

  /** Whether this instance has made sure its reader has a floor: the
    * first admission publishes the start offset when no floor exists
    * (`"hwm":""` = nothing archivable), once per stream instance. */
  @volatile private var floorChecked = false

  override def initialOffset(): Offset = BodySeqOffset(0L, "")
  override def deserializeOffset(json: String): Offset = BodySeqOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxFilesPerTrigger)

  /** Engine calls the admission-control overload below when the source
    * implements SupportsAdmissionControl; this variant must not be used. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Admits up to `limit` new bodies. Uses the sorted listing: the
    * committed start boundary is validated against (and re-anchored in) it,
    * and the new offset records the admitted high-water-mark NAME plus the
    * refreshed archival base, so replay / checkpoint recovery can prove the
    * range still maps to the same files even after processed bodies were
    * archived away. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // Fenced listing. The frontend renames bodies into place in name order,
    // but one directory pass racing those renames can return body N+k
    // without body N, and admitting past that gap would trip the
    // high-water-mark check on the next trigger. Every name at or below
    // the newest name of a FINISHED pass was renamed in before that pass
    // ended, so a second pass holds all of them: admit only those.
    val listing = BodyStream.list(dir).lastOption
      .fold(Vector.empty[String])(fence => BodyStream.list(dir).takeWhile(_ <= fence))
    cachedListing = listing
    val s = start.asInstanceOf[BodySeqOffset]
    if (!floorChecked) {
      // a reader's floor otherwise first appears at commit, which Spark
      // calls only when a LATER batch starts: until then an archiver
      // taking the lowest floor cannot see this reader at all
      floorChecked = true
      if (!Files.exists(Paths.get(dir, floorName))) publishFloor(s)
    }
    val startIdx = BodyStream.boundaryIndex(listing, s, dir)
    // archival floor observed NOW: of the s.seq admitted bodies, startIdx
    // are still listed (all ≤ hwm), so seq − startIdx were archived
    val newBase = s.seq - startIdx
    val totalNow = newBase + listing.length
    if (pinAvailableNow && availableNowFence < 0L) availableNowFence = totalNow
    val total = if (availableNowFence >= 0L) math.min(totalNow, availableNowFence)
                else totalNow
    val end = limit match {
      case rl: ReadMaxRows => math.min(total, s.seq + rl.maxRows())
      case _ => total
    }
    val endSeq = math.max(s.seq, end)
    val hwm =
      if (endSeq == s.seq) s.hwm
      else listing(Math.toIntExact(endSeq - newBase) - 1)
    BodySeqOffset(endSeq, hwm, newBase)
  }

  /** Listing from this trigger's latestOffset, reused by the immediately
    * following planInputPartitions — halves the per-trigger O(n log n)
    * directory sorts. Safe to reuse because the directory is append-only
    * with monotonic names (enforced by boundaryIndex): a cached listing
    * long enough to cover the batch maps every index in [start, end) to
    * the same file a fresh listing would. Empty on recovery (the engine
    * replans a committed batch without calling latestOffset) → re-list. */
  @volatile private var cachedListing: Vector[String] = Vector.empty

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BodySeqOffset]
    val e = end.asInstanceOf[BodySeqOffset]
    // e.seq − e.base is exactly the end boundary's listing index on the
    // listing that admitted it; a cache that covers it is the one from this
    // trigger's latestOffset (recovery replans with an empty cache → re-list)
    val listing =
      if (cachedListing.length >= e.seq - e.base) cachedListing else BodyStream.list(dir)
    // Re-validate and re-anchor the start boundary at plan time: the
    // directory may have changed between offset admission (possibly a
    // previous run, on recovery) and batch planning.
    val startIdx = BodyStream.boundaryIndex(listing, s, dir)
    val n = Math.toIntExact(e.seq - s.seq)
    val endIdx = startIdx + n
    if (listing.length < endIdx) throw new IllegalStateException(
      s"remote-write-bodies: batch [${s.seq}, ${e.seq}) needs $endIdx listed bodies " +
        s"in `$dir` but only ${listing.length} are present — files from an " +
        "uncommitted batch were removed. Archive only below the committed floor " +
        "(see `_archive_floor-*`).")
    if (n > 0 && listing(endIdx - 1) != e.hwm)
      throw new IllegalStateException(
        s"remote-write-bodies: committed offset ${e.seq} expects `${e.hwm}` at the " +
          s"batch end boundary of `$dir` but found `${listing(endIdx - 1)}` — the " +
          "range re-mapped (non-monotonic names or removal of in-batch files). " +
          "Refusing to replay.")
    BodyStream.partitions(dir, listing.slice(startIdx, endIdx), s.seq,
      BodyStream.defaultParallelism)
  }

  override def createReaderFactory(): PartitionReaderFactory = BodyStream.ReaderFactory

  /** Publishes this reader's retention floor: atomically (re)writes its
    * own `_archive_floor-<id>` file ([[BodyStream.floorName]]) in the body
    * directory with the committed offset's JSON (a reader's first floor
    * is its start offset, published at first admission). Every reader of the
    * directory (the relay and an analytics twin, say) publishes one, so an
    * external archiver takes the MINIMUM `hwm` over all `_archive_floor-*`
    * files and may move to cold storage the files sorting at or below it,
    * front-to-back (the hwm file last). Honouring one reader's floor alone
    * would remove bodies a slower reader has not read, and that reader
    * would then skip them without error. A floor left by a reader that is
    * gone for good holds archival back until it is deleted. Committed
    * offsets re-anchor via [[BodyStream.boundaryIndex]], so the stream
    * keeps running through archival with no checkpoint reset. Underscore
    * prefix keeps the floors out of [[BodyStream.list]]. One caveat rides
    * with the frontend: it resumes numbering from the last LISTED name, so
    * an archiver should leave the newest body (or the frontend counter
    * must persist) to keep names ascending across a full drain —
    * violations trip the boundary check loudly. */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[BodySeqOffset]
    if (e.hwm.nonEmpty) publishFloor(e)
  }

  private def publishFloor(o: BodySeqOffset): Unit = {
    // sweep temp files a crashed prior commit of THIS reader left behind
    // (dot-prefixed, so list() hides them and nothing else cleans them);
    // another reader's temp file may be in flight, so leave it alone
    val tmpPrefix = s".$floorName-"
    graft.Tfs.local.list(dir)
      .filter(e => e.name.startsWith(tmpPrefix) && e.name.endsWith(".tmp"))
      .foreach(e => Files.deleteIfExists(Paths.get(e.path)))
    val tmp = Files.createTempFile(Paths.get(dir), tmpPrefix, ".tmp")
    Files.write(tmp, o.json().getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir, floorName),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
  override def stop(): Unit = ()
}

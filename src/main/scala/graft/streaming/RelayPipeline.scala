package graft.streaming

import graft.sources.RemoteWrite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The whole reference process (`/root/reference/main.go`) as one Structured
  * Streaming job: remote-write bodies in → flatten → JSON-lines → chunked
  * sink calls.
  *
  * Mapping of the reference's hand-built machinery (SURVEY.md §2.4, §3):
  *   - bounded ingest channel + backpressure (`kinesis.go:21,60`) → source
  *     admission control per micro-batch (maxFilesPerTrigger etc.);
  *   - 10s flush ticker (`main.go:75`, `kinesis.go:103-114`) →
  *     `Trigger.ProcessingTime("10 seconds")`;
  *   - single-writer goroutine + mutex (`kinesis.go:37,99-151`) → unnecessary:
  *     each foreachBatch partition task owns its buffer;
  *   - 500-entry/4.5MB batching (`kinesis.go:126-148`) → [[Chunker]] inside
  *     `foreachPartition`;
  *   - drain-on-close (`kinesis.go:116-122`) → micro-batch completion; unlike
  *     the reference's SIGTERM path (`main.go:114-119`, loses up to 10s of
  *     data) a stopped query has already committed every processed batch.
  *
  * Scale: the plan is narrow end-to-end — decode, flatten, and encode are all
  * per-row; no shuffle anywhere. On a 1000-executor cluster each task decodes
  * its own input split and talks to the sink directly; throughput scales
  * linearly with partitions of the source.
  */
object RelayPipeline {

  val DefaultTrigger: Trigger = Trigger.ProcessingTime("10 seconds") // main.go:75

  /** bodies (binary `body` column) → canonical records. */
  def records(bodies: DataFrame): DataFrame = RemoteWrite.fromBodies(bodies)

  /** One micro-batch (or one batch DataFrame) → sink, chunked per partition.
    * `firehose=false` ⇒ Kinesis semantics: partitionKey = metric name
    * (`kinesis.go:174`); Firehose sends no key (`firehose.go:165-167`).
    * Every chunk is delivered through [[RecordSink.sendAt]] with its
    * (batchId, partition, chunk) replay coordinates: at-most-once sinks
    * ignore them, an exactly-once sink overwrites by them — the plan from
    * source to chunks is deterministic (narrow, no shuffle), so a replayed
    * micro-batch regenerates identical coordinates and bytes. */
  def deliver(recordsDf: DataFrame, sink: RecordSink, firehose: Boolean = false,
              batchId: Long = 0L): Unit = {
    val spark = recordsDf.sparkSession
    import spark.implicits._
    sink.beginBatch(batchId) // driver-side: clear the batch's prior attempt
    RemoteWrite.jsonLines(recordsDf)
      .as[(String, String)]
      .foreachPartition { (it: Iterator[(String, String)]) =>
        val pid = Option(org.apache.spark.TaskContext.get()).map(_.partitionId()).getOrElse(0)
        val entries = it.map { case (name, json) =>
          SinkEntry(if (firehose) None else Some(name),
            json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        Chunker.chunk[SinkEntry](entries, _.size.toLong).zipWithIndex
          .foreach { case (chunk, idx) => sink.sendAt(batchId, pid, idx, chunk) }
      }
  }

  /** Assemble the streaming job: equivalent of `main.go:95-112`.
    *
    * Delivery observability rides on `observe()` — per-micro-batch record
    * and null-value counts surface in every `StreamingQueryProgress`
    * (`observedMetrics["relay"]`), the metrics the reference logs with zap
    * (`kinesis.go:152-156`) but queryable/alertable instead of grep-able.
    * Observed metrics are accumulator-backed: zero extra passes, no
    * shuffle, no plan change. */
  def start(spark: SparkSession, bodies: DataFrame, sink: RecordSink,
            firehose: Boolean = false,
            trigger: Trigger = DefaultTrigger,
            checkpointDir: Option[String] = None): StreamingQuery = {
    import org.apache.spark.sql.functions._
    require(bodies.isStreaming, "bodies must be a streaming DataFrame")
    val observed = records(bodies).observe("relay",
      count(lit(1)).as("n_records"),
      // count-form, not sum(when): an empty micro-batch must report 0, not
      // NULL — consumers read these with getLong
      count(when(col("value").isNull, true)).as("n_null_values"))
    val q = observed.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) => deliver(batch, sink, firehose, id) }
    checkpointDir.foreach(d => q.option("checkpointLocation", d))
    StreamSession.prepare(spark)
    q.start()
  }
}

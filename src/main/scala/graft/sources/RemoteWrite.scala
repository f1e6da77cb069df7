package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ingest transform: snappy-compressed protobuf bodies → canonical records.
  *
  * Reproduces the reference's receive path (`/root/reference/kinesis.go:68-93`
  * → `prometheus.go:10-37`) as a declarative plan. Only the two genuinely
  * black-box steps (snappy, protobuf) are UDFs; the flatten, name extraction,
  * and NaN normalization stay in Catalyst expressions so they participate in
  * whole-stage codegen and column pruning.
  *
  * Canonical output schema (SURVEY.md §1.3):
  *   name: string (non-null), time: long (ms; 0 = no-sample sentinel),
  *   value: double (nullable), labels: map<string,string>
  */
object RemoteWrite {

  /** Production-shaped source (SURVEY.md §2.1): a frontend appends each
    * remote-write POST body as one file and [[BodyStream]] streams the
    * directory. Offsets are received-body sequence numbers (one long of
    * driver state), and `maxFilesPerTrigger` is the backpressure knob
    * standing in for the reference's bounded channel (`kinesis.go:21,60`).
    */
  def bodyDsv2Stream(spark: org.apache.spark.sql.SparkSession, dir: String,
                     maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream.format("remote-write-bodies")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(col("body"))

  /** Full body decode: snappy + protobuf as native Catalyst expressions
    * ([[graft.functions.RelayExpressions]] — codegen'd snappy, internal-data
    * protobuf decode; corrupt bodies → null → rows dropped, batch keeps
    * running like the reference's 400-and-continue, `kinesis.go:79,86`). */
  def decodeBody(body: Column): Column =
    graft.functions.RelayExpressions.prompb(
      graft.functions.RelayExpressions.snappy(body))

  /** Flatten decoded timeseries into canonical records — the Spark form of
    * `parseRecords` (`/root/reference/prometheus.go:10-37`). Semantic traps
    * reproduced exactly:
    *   - one row per (series × sample), series-major order (prometheus.go:25-34);
    *   - a series with ZERO samples still emits one row with time=0,
    *     value=null (prometheus.go:20-23) — hence `explode_outer`, not
    *     `explode`;
    *   - NaN → null (prometheus.go:28-32; record.go:21-27);
    *   - missing `__name__` → "" (Go zero-value map lookup, prometheus.go:19).
    *
    * @param df input with a `series` column of array<struct<labels,samples>>
    */
  def flatten(df: DataFrame): DataFrame =
    df.select(explode(col("series")).as("s"))
      .select(
        coalesce(element_at(col("s.labels"), "__name__"), lit("")).as("name"),
        explode_outer(col("s.samples")).as("sample"),
        col("s.labels").as("labels"))
      .select(
        col("name"),
        coalesce(col("sample.timestamp"), lit(0L)).as("time"),
        when(isnan(col("sample.value")), lit(null)).otherwise(col("sample.value"))
          .as("value"),
        col("labels"))

  /** bytes-in → records-out: the whole receive handler as one plan. */
  def fromBodies(bodies: DataFrame, bodyCol: String = "body"): DataFrame =
    flatten(bodies.select(decodeBody(col(bodyCol)).as("series")))

  /** JSON-lines encode (`/root/reference/kinesis.go:153-180`):
    *   - field order name,time,value,labels (record.go:9-12);
    *   - `"value":null` IS emitted (record.go:21-27) — Spark's to_json drops
    *     null fields unless ignoreNullFields=false;
    *   - ±Inf rows are DROPPED: Go's json.Marshal errors on Inf and the
    *     reference skips the record, logging it (kinesis.go:158-161);
    *   - newline terminator appended (kinesis.go:163).
    *
    * ACCEPTED DIVERGENCE (ADVICE r1): integral doubles render as "42.0"
    * here vs Go's "42" (and sci-notation thresholds differ). Both are valid
    * JSON for the same double; consumers parse numerically. We do not
    * post-process to byte-match Go's formatter.
    * Output: (name, json) — name doubles as the Kinesis partition key
    * (kinesis.go:174).
    */
  def jsonLines(records: DataFrame): DataFrame =
    records
      .filter(col("value").isNull ||
        (col("value") =!= Double.PositiveInfinity &&
         col("value") =!= Double.NegativeInfinity))
      .select(
        col("name"),
        concat(
          to_json(
            struct(col("name"), col("time"), col("value"), col("labels")),
            java.util.Collections.singletonMap("ignoreNullFields", "false")),
          lit("\n")).as("json"))

  /** Schema-on-read of the relay's OWN output — what a downstream consumer
    * of the reference's Kinesis stream parses (`/root/reference/record.go:
    * 8-13`): `name STRING, time BIGINT, value DOUBLE (null preserved),
    * labels MAP<STRING,STRING>`. The schema is EXPLICIT: letting Spark
    * infer it would scan every record file twice and, on a null-only
    * window, type `value` as string — schema-on-read at 100 TB means
    * declaring the schema, not discovering it. Reads the `.jsonl` files a
    * `KinesisFileSink` (or a real consumer dump) wrote;
    * corrupt lines surface as all-null rows (default PERMISSIVE mode), the
    * read-side mirror of the relay's log-and-drop delivery. */
  def readRecords(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "name STRING, time BIGINT, value DOUBLE, labels MAP<STRING,STRING>"))
      .json(dir + "/*.jsonl")
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loader for the driver's parquet testdata (TESTDATA.md).
  *
  * Every analytic query starts here: `spark.read.parquet` gives Catalyst a
  * relation with full pushdown support — filters and column pruning reach the
  * parquet reader (`PushedFilters`/`ReadSchema` in explain), which is what
  * keeps these plans viable at 100 TB: only the referenced columns and
  * row-groups passing the predicate are ever read.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS) in others; both are physical INT64.
    * TIMESTAMP(NANOS) is rejected outright by Spark 4 (PARQUET_TYPE_ILLEGAL)
    * unless `spark.sql.legacy.parquet.nanosAsLong` is set at session build.
    * Supplying an explicit read schema with `ts` as LongType sidesteps the
    * footer-schema conversion entirely, so this loader works in ANY session —
    * no conf requirement, and no session-conf mutation at query-build time
    * (which races under concurrent query construction). The raw INT64 is then
    * normalized to epoch-micros using the file footer's own logical-type
    * annotation (`tsToMicrosExpr`), so the loader is correct for either
    * generation — and for the test fixtures, which write plain INT64 nanos.
    * Pushdown is unaffected: filters and pruning still reach the parquet scan
    * with a user-specified schema.
    */
  private val eventsReadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))

  def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(eventsReadSchema).parquet(s"$dir/events.parquet")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr(
          tsToMicrosExpr(spark, s"$dir/events.parquet"))))

  /** Raw-INT64 → epoch-micros conversion expression for `ts`, decided by the
    * parquet footer's logical-type annotation rather than a value heuristic
    * (near-epoch fixture timestamps make any magnitude test ambiguous).
    * Plain INT64 with no annotation is nanos — the unit the planted test
    * fixtures and the original TIMESTAMP(NANOS) testdata share. Footer reads
    * are driver-side, one ~KB-scale read per distinct path (cached), so query
    * build cost is unchanged; executors never touch this.
    */
  private val tsUnitCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def tsToMicrosExpr(spark: SparkSession, path: String): String =
    tsUnitCache.computeIfAbsent(path, { p =>
      import org.apache.parquet.format.converter.ParquetMetadataConverter
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
      val conf = spark.sessionState.newHadoopConf()
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val file =
        if (fs.getFileStatus(hp).isDirectory)
          fs.listStatus(hp).map(_.getPath)
            .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
            .minBy(_.getName)
        else hp
      val footer = ParquetFileReader.readFooter(conf, file, ParquetMetadataConverter.NO_FILTER)
      val ann = footer.getFileMetaData.getSchema.getType(Seq("ts"): _*)
        .asPrimitiveType().getLogicalTypeAnnotation
      ann match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case TimeUnit.MICROS => "ts"
            case TimeUnit.MILLIS => "ts * 1000"
            case _               => "ts div 1000" // NANOS
          }
        case _ => "ts div 1000" // unannotated INT64: project-convention nanos
      }
    })
}

/** Scale-adaptive map-side fan-out (optimization r20, guide §2.5 "input
  * skew: one huge unsplittable file" + §1.2 "choose a partitioning that
  * avoids skew").
  *
  * The driver's testdata ships each table as ONE parquet file with ONE row
  * group, so every scan is a single task and everything narrow above it —
  * tokenize/shingle/md5 minhash, sha-256, protobuf+snappy encode — runs on
  * one core regardless of `local[N]` (stage-profiled: the dedup family's
  * minhash pass single-threads at ~1 s/query at sf0.1 on local[32]).
  *
  * `fanOut` repartitions to the session's default parallelism ONLY when the
  * planned scan has fewer partitions than that — the condition is derived
  * from the input, not tuned to this box. At production scale a 100 TB
  * table scans as thousands of row-group splits, the condition is false,
  * and the frame passes through untouched — no extra shuffle is ever
  * introduced where the scan already parallelizes (the guide's §2.4 rule:
  * a `repartition(n)` added "for parallelism" is exactly the accidental
  * exchange to avoid — unless the input genuinely cannot be split).
  *
  * Streaming frames pass through untouched (`.rdd` is undefined on them;
  * micro-batches arrive pre-partitioned by the source). */
object Par {
  def fanOut(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }

  /** Evaluates `a` and `b` on two threads and returns both results. The
    * first failure wins: its own exception is rethrown (not the pool's
    * `ExecutionException` wrapper) and the other thread is interrupted
    * rather than left running. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val done = new ExecutorCompletionService[Any](pool)
      val fa = done.submit((() => a): Callable[Any])
      val fb = done.submit((() => b): Callable[Any])
      for (_ <- 1 to 2)
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      (fa.get().asInstanceOf[A], fb.get().asInstanceOf[B])
    } finally pool.shutdownNow()
  }
}

/** A bundle of named queries plus their DuckDB oracle SQL.
  *
  * `SparkEntry` concatenates the modules; the driver's Verify harness runs
  * each query at sf0.01 and hash-compares against the oracle SQL. Queries
  * without an oracle entry (non-SQL-expressible ops) get a rows-only check.
  */
trait QueryModule {
  type QueryFn = (SparkSession, String) => DataFrame
  def queries: Map[String, QueryFn]
  def oracleSql: Map[String, String]
}

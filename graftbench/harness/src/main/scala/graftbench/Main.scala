package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload against the program's public entry
  * points and writes `result.json` into the run directory. `run.py` starts
  * it, checks the outputs it leaves and prints the result line.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <runDir> [--data <tablesDir>]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val ctx = Ctx(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", work, opts.get("data"))
    val out = new Result
    val spark = session(ctx)
    try {
      val listener = if (ctx.trace) Some(new TraceListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      ctx.workload match {
        case "remote_write_small" | "remote_write_wide" => Relay.run(spark, ctx, out, listener)
        case "analytics_sf01" => Analytics.run(spark, ctx, out, listener)
        case other => sys.error(s"unknown workload $other")
      }
    } finally spark.stop()
    Files.writeString(work.resolve("result.json"), out.json)
  }

  final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                       work: Path, data: Option[String]) {
    def dir(name: String): String = {
      val d = work.resolve(name); Files.createDirectories(d); d.toString
    }
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  private def session(ctx: Ctx): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.dir("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse"))
    if (ctx.workload == "remote_write_wide") b.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** What the harness hands to `run.py`: metrics with their units, the
  * operation counts, the timestamps the set-up time is cut at, and the
  * expectations the output checks compare against. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val expect = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  var readyEpochMs = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def expectNum(name: String, v: Long): Unit = expect(name) = v.toString
  def expectRaw(name: String, json: String): Unit = expect(name) = json

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def json: String = {
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    val e = expect.map { case (k, v) => s""""$k": $v""" }
    s"""{"ready_epoch_ms": $readyEpochMs, "attempted": $attempted, "failed": $failed,
       |"metrics": {${m.mkString(", ")}},
       |"expect": {${e.mkString(", ")}}}""".stripMargin
  }
}

/** Spark-side accounting for a traced run: jobs, stages, tasks, CPU, GC,
  * shuffle, spill and task skew, in total and per job group (one group per
  * query in `analytics_sf01`, eager jobs of the plan build included). */
final class TraceListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val durations = mutable.ArrayBuffer[Double]()
  }
  val total = new Acc
  val groups = mutable.HashMap[String, Acc]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private var jobsOpen = 0

  private def accs(stage: Int): Seq[Acc] =
    total +: stageGroup.get(stage).map(g => groups.getOrElseUpdate(g, new Acc)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsOpen += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => e.stageIds.foreach(s => stageGroup(s) = id))
    (total +: g.map(id => groups.getOrElseUpdate(id, new Acc)).toSeq).foreach(_.jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsOpen -= 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    accs(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    accs(e.stageId).foreach { a =>
      a.tasks += 1
      if (e.taskInfo != null) a.durations += e.taskInfo.duration.toDouble
      if (m != null) {
        a.cpuNs += m.executorCpuTime; a.runMs += m.executorRunTime; a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Wait until every started job has ended and the event count settles:
    * listener delivery is asynchronous. */
  def drain(): Unit = {
    var last = -1L
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline && (synchronized(jobsOpen) > 0 || synchronized(total.tasks) != last)) {
      last = synchronized(total.tasks)
      Thread.sleep(200)
    }
  }

  def report(out: Result): Unit = synchronized {
    val a = total
    out.metric("spark.jobs", a.jobs.toDouble, "count")
    out.metric("spark.stages", a.stages.toDouble, "count")
    out.metric("spark.tasks", a.tasks.toDouble, "count")
    out.metric("spark.executor_cpu_s", a.cpuNs / 1e9, "s")
    out.metric("spark.executor_run_s", a.runMs / 1e3, "s")
    out.metric("spark.gc_s", a.gcMs / 1e3, "s")
    out.metric("spark.shuffle_read_bytes", a.shuffleRead.toDouble, "bytes")
    out.metric("spark.shuffle_write_bytes", a.shuffleWrite.toDouble, "bytes")
    out.metric("spark.spill_bytes", a.spill.toDouble, "bytes")
    val med = if (a.durations.isEmpty) 0.0 else Main.quantile(a.durations.toSeq, 0.5)
    out.metric("spark.task_skew", if (med > 0) a.durations.max / med else 0.0, "ratio")
  }
}

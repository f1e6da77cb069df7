package graftbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `analytics_sf01`: a fixed mix of oracle-checked `SparkEntry.queries` over
  * the generated sf0.1 tables. One cold first pass, then warm passes until
  * the run's seconds are spent (at least [[MinWarmPasses]]). Build is the
  * `fn(spark, dir)` call (eager jobs and registry builds included); exec
  * writes the result as parquet, which the oracle check then reads: the
  * outputs checked are those of the last timed pass. */
object Analytics {
  /** One query per `graft.operators` module that registers queries, the
    * cheapest measured in each except where ROADMAP names one that fits a
    * run's time (q02, q167). WarehouseOps runs q190, not the ROADMAP's
    * q153, which fails in some runs and not in others. No sketch query
    * without an oracle. README.md lists what was left out and why. */
  val Mix: Seq[String] = Seq(
    "q82_prom_rate", "q02_relay_roundtrip", "q17_join_asof", "q22_agg_rollup",
    "q25_window_topk_per_group", "q29_set_ops", "q35_string_fns", "q30_stream_tumbling",
    "q40_dedup_exact", "q167_pca_power", "q46_text_stats",
    "q51_multimodal_features", "q74_text_tfidf", "q121_funnel_conversion",
    "q190_benford_audit", "q155_funnel_latency")

  val MinWarmPasses = 1

  final case class Exec(name: String, buildS: Double, execS: Double) {
    def totalS: Double = buildS + execS
  }

  def run(spark: SparkSession, ctx: Main.Ctx, out: Result, listener: Option[TraceListener]): Unit = {
    val dir = ctx.data.getOrElse(sys.error("--data <tablesDir> required"))
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    out.readyEpochMs = System.currentTimeMillis()
    val results = ctx.dir("results")
    var failed = 0L

    def once(name: String): Option[Exec] = {
      spark.sparkContext.setJobGroup(name, name)
      try {
        val (df, b) = Main.time(queries(name)(spark, dir))
        val (_, e) = Main.time(df.write.mode("overwrite").parquet(s"$results/$name"))
        Some(Exec(name, b, e))
      } catch {
        case e: Exception =>
          System.err.println(s"[graftbench] $name failed: $e")
          failed += 1
          None
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.catalog.clearCache()
      }
    }
    def pass(): (Seq[Exec], Double) = Main.time(Mix.flatMap(once))

    val (first, firstS) = pass()
    first.foreach(e => System.err.println(f"[graftbench] first ${e.name} build ${e.buildS}%.3f exec ${e.execS}%.3f"))
    val warm = mutable.ArrayBuffer[Seq[Exec]]()
    var warmS = 0.0
    val t0 = System.nanoTime()
    while (warm.length < MinWarmPasses || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val (p, s) = pass()
      warm += p
      warmS += s
    }
    out.attempted += Mix.length.toLong * (1 + warm.length)
    out.failed += failed

    val warmExecs = warm.flatten.toSeq
    out.metric("cold_s", firstS, "s")
    out.metric("warm_per_s", warmExecs.length / warmS, "1/s")

    listener.foreach { l =>
      l.drain(); l.report(out)
      def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.quantile(xs, 0.5)
      out.metric("query.warm_s",
        Mix.map(n => med(warmExecs.filter(_.name == n).map(_.totalS))).sum, "s")
      out.metric("query.first.build_s", first.map(_.buildS).sum, "s")
      out.metric("query.first.exec_s", first.map(_.execS).sum, "s")
      out.metric("query.warm.build_s", warmExecs.map(_.buildS).sum / warm.length, "s")
      out.metric("query.warm.exec_s", warmExecs.map(_.execS).sum / warm.length, "s")
      Mix.foreach { n =>
        val w = warmExecs.filter(_.name == n)
        out.metric(s"query.$n.build_s", med(w.map(_.buildS)), "s")
        out.metric(s"query.$n.exec_s", med(w.map(_.execS)), "s")
        val runs = 1 + w.length
        out.metric(s"query.$n.cpu_s",
          l.groups.get(n).map(_.cpuNs / 1e9 / runs).getOrElse(0.0), "s")
      }
    }

    val sql = Mix.map { n =>
      val q = oracle.getOrElse(n, sys.error(s"$n has no oracle SQL"))
      "\"" + n + "\": \"" + q.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    }
    Files.writeString(java.nio.file.Paths.get(results, "oracle_sql.json"), sql.mkString("{", ",\n", "}"))
  }
}

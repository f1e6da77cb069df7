package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-fingerprint dump (round-15 candidate 2, pulled forward): one
  * canonical hash per declared query's optimized physical plan, written
  * as JSON for the gate to diff against the previous round's committed
  * snapshot. `PlanRegressionSpec` pins the plan shapes someone THOUGHT
  * to pin; the fingerprint diff catches EVERY silent plan change —
  * a dropped broadcast, a new exchange, a join reorder from a Spark
  * upgrade — and asks the round to adjudicate it in the gate transcript
  * (informational: plans legitimately change when code does; the value
  * is that they can no longer change unnoticed).
  *
  * Canonicalization strips the per-run noise that is not plan shape:
  * expression ids (`#123`), codegen/plan ids, every filesystem path
  * (testdata locations, Materialize temp dirs), and cached-RDD numbers —
  * then sha-256. Stability is self-checked: each plan is rendered twice
  * and must hash identically before the dump is written. */
object PlanHash {

  private[graft] def canonical(plan: String): String =
    plan
      .replaceAll("#\\d+", "#x")
      // lambda variables carry a session-global counter (x_1, y_20, …);
      // the name_digits# form also normalizes literal-suffixed column
      // aliases (reject_05 → reject_n) — lossy but DETERMINISTICALLY so
      .replaceAll("\\blambda ([a-zA-Z]+)_\\d+", "lambda $1_n")
      .replaceAll("\\b([a-zA-Z]+)_\\d+#", "$1_n#")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\[id=#x\\]", "")
      .replaceAll("file:[^\\s,\\]\\)]+", "<path>")
      .replaceAll("/tmp/[^\\s,\\]\\)]+", "<tmp>")
      .replaceAll("(?m)^.*Location.*$", "Location: <path>")
      .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[x]")
      // an RDD's call site (` at localCheckpoint at Dedup.scala:1079`)
      // moves with every edit above it in the operator file
      .replaceAll(" at [\\w$.<>]+ at [\\w$]+\\.scala:\\d+", "")
      .replaceAll("rdd_\\d+", "rdd_x")
      .replaceAll("@[0-9a-f]{6,}", "@x") // JVM object identity hashes
      // JIT-assigned lambda class names: Foo$$Lambda$123/0x00007f…
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda\\$x")

  private def sha(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
    d.take(8).map("%02x".format(_)).mkString
  }

  /** Structural features of a formatted plan — the subset of plan shape
    * the gate HARD-fails on (round-15 policy, VERDICT r14 #4): the join
    * strategy census and the exchange counts. A text-hash change can be a
    * renamed alias; a BroadcastHashJoin flipping to SortMergeJoin, or a
    * new shuffle Exchange appearing, is exactly the silent scale
    * regression the fingerprints exist to catch. Parsed from the
    * FormattedMode node headers (`(12) SortMergeJoin …`), so the feature
    * string is stable even for the two queries whose Expand TEXT is
    * nondeterministic — node multisets don't depend on branch print
    * order. */
  private[graft] def features(plan: String): String = {
    val node = "(?m)^\\s*\\(\\d+\\)\\s+([A-Za-z]+)".r
    val names = node.findAllMatchIn(plan).map(_.group(1)).toSeq
    val joins = names.filter(n => n.contains("Join") || n == "CartesianProduct")
      .groupBy(identity).toSeq.sortBy(_._1)
      .map { case (n, xs) => s"$n:${xs.size}" }.mkString(",")
    val shuffles = names.count(_ == "Exchange")
    val bcasts = names.count(_ == "BroadcastExchange")
    s"joins=[$joins] shuffles=$shuffles broadcasts=$bcasts"
  }

  /** Twice-referenced-subtree detector (VERDICT r19 #6): the q215/q216/
    * q222/q224 plan-growth class — a builder referencing an expensive
    * frame twice (self-join, union, broadcast-back) without
    * `localCheckpoint` duplicates its WHOLE subtree in the plan and
    * Spark recomputes it once per reference — recurred four times across
    * two rounds and was only ever caught by the 32× probe's wall clock.
    * This catches it statically: group the optimized logical plan's
    * subtrees by canonicalized form; ≥2 occurrences of a form with
    * ≥ `minNodes` nodes is a repeated non-checkpointed subtree (a
    * checkpointed one collapses to a LogicalRDD leaf, a persisted one to
    * InMemoryRelation — both size 1, never flagged). Only MAXIMAL groups
    * report (a duplicated subtree duplicates all its descendants).
    * Two qualifiers separate the expensive class from designed reuse:
    * the duplicated form must span ≥ `minNodes` nodes (a self-joined
    * scan+filter+project is legitimate and cheap) AND contain a real
    * FILE SCAN — re-running a scan pipeline twice is the q222 defect;
    * re-aggregating a few checkpoint-fed rows twice (q224's designed
    * per⋈tot shape, whose leaves are all LogicalRDD) is not.
    * Reported as a gate WARNING, not a failure: a large repeated subtree
    * over a tiny frame can be fine — the warning tells the round where
    * to point the probe. */
  private[graft] def repeatedSubtrees(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      minNodes: Int = 8): Seq[String] = {
    type LP = org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def size(p: LP): Int = 1 + p.children.map(size(_)).sum
    def readsFiles(p: LP): Boolean = p.exists {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }
    // occurrences carry their tree path: canonicalization collapses
    // alias-only unary nodes, so a parent and its own child can
    // canonicalize EQUAL — an ancestor/descendant "pair" is one
    // occurrence, not a duplicate (false-positive caught on q174). A
    // group is real only if two occurrences lie on DISJOINT branches
    // (neither path a prefix of the other).
    val all = scala.collection.mutable.ArrayBuffer.empty[(LP, String)]
    def walk(p: LP, path: String): Unit = {
      all += ((p, path))
      p.children.zipWithIndex.foreach { case (c, i) => walk(c, s"$path/$i") }
    }
    walk(plan, "")
    def disjoint(a: String, b: String): Boolean =
      !a.startsWith(b + "/") && !b.startsWith(a + "/") && a != b
    // the reported xN counts DISJOINT occurrences only (review catch: the
    // raw group size also counts the ancestor/descendant canonical-equal
    // occurrences the disjointness rule deems a single one, overstating
    // the duplication factor the operator probes by): greedily keep each
    // path not prefix-related to an already-kept one.
    def disjointCount(paths: Seq[String]): Int =
      paths.sorted.foldLeft(List.empty[String]) { (kept, p) =>
        if (kept.exists(q => !disjoint(p, q))) kept else p :: kept
      }.size
    val groups = all.groupBy(_._1.canonicalized)
      .collect { case (c, occ)
          if size(c) >= minNodes && readsFiles(c) &&
            occ.exists(x => occ.exists(y => disjoint(x._2, y._2))) =>
        c -> occ.map(_._2).toSeq
      }
    val forms = groups.keys.toSeq.sortBy(c => (-size(c), c.nodeName))
    val maximal = forms.filterNot { c =>
      forms.exists(bigger => (bigger ne c) && size(bigger) > size(c) &&
        bigger.exists(sub => (sub ne bigger) && sub == c))
    }
    maximal.map(c => s"${c.nodeName}[${size(c)} nodes]x${disjointCount(groups(c))}")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/plan_fingerprints.json")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // demo/CI hook for the structural guard: prove a forced join-strategy
    // flip (broadcast pins dropped session-wide) fails the plan gate
    if (sys.env.contains("PLAN_HASH_NO_BROADCAST"))
      builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var unstable = List.empty[String]
    var dupWarnings = List.empty[String]
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // query CONSTRUCTION is the expensive part here (eager
      // localCheckpoints / Materialize builds run real jobs at build time)
      // — construct twice for the determinism self-check and feed the dup
      // detector off the first QueryExecution instead of building a third
      // time (review catch)
      def render() = {
        val qe = fn(spark, sfDir).queryExecution
        (canonical(qe.explainString(FormattedMode)), qe)
      }
      val (ta, qeA) = render()
      val tb = render()._1
      val dups = repeatedSubtrees(qeA.optimizedPlan)
      if (dups.nonEmpty)
        dupWarnings ::= s"$name: ${dups.mkString("; ")}"
      // a few plans have genuinely nondeterministic TEXT (the
      // multi-distinct-aggregate rewrite orders its Expand branches from
      // hash iteration — semantically identical plans, different print);
      // record those explicitly rather than hash noise or fail the dump.
      // Their structural FEATURES are still well-defined (node multisets
      // don't care about print order) and must agree across renders.
      val v = if (ta == tb) sha(ta) else { unstable ::= name; "unstable" }
      val (fa, fb) = (features(ta), features(tb))
      val f = if (fa == fb) fa else "unstable"
      // debugging aid: dump the canonical text per query for cross-process
      // diffs (sys env so the gate's invocation stays one clean arg pair)
      sys.env.get("PLAN_DUMP_DIR").foreach { d =>
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(s"$d/$name.txt"), ta)
      }
      s"""  "$name": {"h": "$v", "f": "$f"}"""
    }
    Files.writeString(Paths.get(out),
      entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"plan fingerprints: ${entries.length} queries -> $out" +
      (if (unstable.nonEmpty)
        s" (${unstable.size} text-nondeterministic, recorded as unstable: " +
          s"${unstable.sorted.mkString(",")})"
      else ""))
    // the twice-referenced-subtree watch (VERDICT r19 #6) — WARNING, not
    // failure; lands in GATE_r*.txt via the gate's tee
    dupWarnings.sorted.foreach(w =>
      println(s"plan WARNING repeated non-checkpointed subtree: $w"))
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests (VERDICT r02 §missing-4): the plans were
  * audited by hand — broadcast dims, sort-merge on big-big, no cartesian on
  * any candidate-generation path — but nothing kept them that way. These
  * assertions fail the suite if a future change silently regresses a plan
  * shape that correctness tests can't see (a cartesian LSH join still
  * returns the right rows — it just stops scaling).
  *
  * Plans are rendered (not executed) at sf0.001, so the spec costs
  * milliseconds. AQE may re-plan at runtime, but only ever in the safe
  * direction (SMJ → broadcast); the static plan is the worst case.
  */
class PlanRegressionSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(TestSpark.spark, dir)
      .queryExecution.explainString(FormattedMode)

  test("repeated-subtree detector (VERDICT r19 #6): flags a deliberately " +
      "un-checkpointed q224 twin, clean on the shipped checkpointed query") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    // the exact defect class the 32x probe kept catching (q215/q216 r18,
    // q222/q224 r19): a rule that references an expensive un-pinned frame
    // twice duplicates the whole q219 subtree in the plan. This is
    // mixDrift's HISTORICAL contribution self-union, reconstructed here
    // verbatim — the optimization round rewrote the shipped rule to a
    // single-pass in-row explode precisely to retire this shape, so the
    // planted positive keeps the detector honest against the class.
    val keyed = graft.operators.Dedup.gateBatchChain(spark, dir)
      .filter(col("batch") >= 0)
      .select(col("batch"), col("status").as("k"))
    val bad = keyed
      .select((col("batch") + 1).as("batch"), lit(true).as("in_a"), col("k"))
      .unionByName(keyed.select(col("batch"), lit(false).as("in_a"), col("k")))
      .groupBy(col("batch"), col("k"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("b"))
    val flagged = PlanHash.repeatedSubtrees(bad.queryExecution.optimizedPlan)
    assert(flagged.nonEmpty,
      "the un-checkpointed twice-referenced gate chain must be flagged")
    // the shipped q224 references the chain exactly once (single-pass
    // rule, opt r20) — nothing duplicates and the detector stays quiet,
    // WITHOUT needing a consumer-side checkpoint
    val good = graft.operators.Dedup.gateMixDrift(spark, dir)
    assert(PlanHash.repeatedSubtrees(good.queryExecution.optimizedPlan).isEmpty)
  }

  test("PlanHash.canonical drops an RDD's call site, not its plan node") {
    def scan(node: String, line: Int) =
      s"(1) $node\nOutput [1]: [nat#175]\nArguments: [nat#175], MapPartitionsRDD[28] " +
        s"at localCheckpoint at Dedup.scala:$line, ExistingRDD, UnknownPartitioning(0)"
    assert(PlanHash.canonical(scan("Scan ExistingRDD", 1078)) ===
      PlanHash.canonical(scan("Scan ExistingRDD", 1070)))
    assert(PlanHash.canonical(scan("Scan ExistingRDD", 1078)) !==
      PlanHash.canonical(scan("Scan OneRowRelation", 1078)))
  }

  test("pre-r10 join family: equi-join physical forms only — no accidental " +
      "CartesianProduct or BroadcastNestedLoopJoin (r20 fresh-eyes pins; " +
      "q15 is the DECLARED cross join and q44's broadcast probes are by design)") {
    for (q <- Seq("q12_join_left_outer", "q13_join_semi", "q14_join_anti",
        "q16_join_range", "q17_join_asof", "q57_join_asof_bucketed",
        "q58_join_asof_sorted", "q63_join_asof_native", "q80_join_full_outer",
        "q91_join_range_bucketed")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("pre-r10 aggregate family: map-side partial aggregation present " +
      "(two aggregate levels around the exchange; r20 fresh-eyes pins)") {
    for (q <- Seq("q00_flagship_hourly", "q18_agg_moments", "q20_agg_stats",
        "q22_agg_rollup", "q23_agg_cube", "q24_agg_grouping_sets",
        "q54_agg_salted", "q56_agg_percentiles")) {
      val p = plan(q)
      val aggs = "(?m)^\\s*\\(\\d+\\)\\s+\\S*(HashAggregate|SortAggregate|ObjectHashAggregate)"
        .r.findAllIn(p).size
      assert(aggs >= 2, s"$q: expected partial+final aggregation, saw $aggs")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("pre-r10 dedup family: candidates come from banded/keyed equi-joins, " +
      "never a cartesian (r20 fresh-eyes pins)") {
    for (q <- Seq("q40_dedup_exact", "q41_dedup_minhash_sig", "q42_dedup_lsh_pairs",
        "q43_dedup_simhash", "q52_dedup_simhash_pairs", "q60_dedup_ngram_jaccard",
        "q61_dedup_embedding_cosine")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("q10: dimension joins stay broadcast hash joins (fact side never shuffles)") {
    val p = plan("q10_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q11: big-big join stays sort-merge (both sides hash-partitioned on the key)") {
    assert(plan("q11_join_shuffle").contains("SortMergeJoin"))
  }

  test("q15 is the only query allowed a non-equi cross join, and it must build broadcast") {
    val p = plan("q15_join_cross")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("no query ever plans a CartesianProduct") {
    // CartesianProduct = both sides shuffled to every pairing — the one
    // physical operator that cannot survive a 100x scale-up anywhere.
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("candidate-generation joins (LSH / banded / bucketed as-of) are equi-joins, not NLJ") {
    Seq("q42_dedup_lsh_pairs", "q45_sim_ann_lsh", "q52_dedup_simhash_pairs",
        "q57_join_asof_bucketed").foreach { name =>
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name fell back to NLJ:\n$p")
    }
  }

  test("q91: the bucketed range join keys the shuffle on (user, day-bucket)") {
    // Bounded expansion means the equi-join key must INCLUDE the bucket
    // column: keyed on user alone, a hot user's whole history re-pairs
    // quadratically. The bucket arithmetic must also survive into the key
    // (a broken floor/cast once turned the key into a no-match constant —
    // ADVICE r03 on q57's first form).
    val p = plan("q91_join_range_bucketed")
    val joinLine = p.linesIterator.filter(_.contains("Join condition keys")).mkString
    val keys = p.linesIterator.filter(l =>
      l.contains("Left keys") || l.contains("Right keys")).mkString("\n")
    assert(keys.contains("user_id") && (keys.contains("cb") || keys.contains("jb")),
      s"equi-keys must be (user, bucket), got:\n$keys\n$joinLine\nfull:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q44/q53: the deliberate all-pairs scans broadcast the small side") {
    // Brute-force cosine and IVF centroid assignment are documented
    // probe-x-corpus / corpus-x-centroid products; the invariant is that
    // the small side is broadcast so the corpus never shuffles.
    Seq("q44_sim_cosine_topk", "q53_sim_ann_ivf").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastExchange"),
        s"$name lost its broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("q59 has no object/iterator boundary (codegen-friendly), unlike q51's codec demo") {
    // An object boundary (DeserializeToObject / MapPartitions) ends a
    // WholeStageCodegen span. q51 keeps one deliberately (codec-init-once
    // demo); q59 is the all-expression fast path and must stay boundary-free.
    val p59 = plan("q59_multimodal_expr")
    assert(!p59.contains("DeserializeToObject") && !p59.contains("MapPartitions"), p59)
    val p51 = plan("q51_multimodal_features")
    assert(p51.contains("MapPartitions"), p51)
  }

  test("q63: the native as-of join plans AsOfJoinExec with one shuffle per side") {
    val p = plan("q63_join_asof_native")
    assert(p.contains("AsOfJoin"), p)
    // exactly the SMJ-style pair of co-partitioning hash exchanges (the
    // only other exchange is the final presentation orderBy's range one)
    assert("hashpartitioning\\(".r.findAllIn(p).size == 2, p)
  }

  test("q01: filters are pushed down to the parquet scan") {
    val p = plan("q01_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("GreaterThan(l_discount,0.05)"), p)
  }

  test("q45: probe-side filter is pushed down (vec_id < 50 reaches the scan)") {
    assert(plan("q45_sim_ann_lsh").contains("LessThan(vec_id,50)"))
  }

  test("q72: bloom prune sits on the fact scan, before the join") {
    val p = plan("q72_join_bloom_pruned")
    // the might_contain(scalar-subquery bloom, xxhash64(key)) predicate must
    // survive optimization as a fact-side Filter — that's the whole point:
    // non-matching fact rows die at the scan, not after the join shuffle
    assert(p.contains("might_contain"), p)
    assert(p.contains("bloom_filter_agg"), p)
  }

  test("q70: the scrub is a pure map — no exchange except the presentation sort") {
    val p = plan("q70_text_scrub")
    assert(!p.contains("hashpartitioning("), p) // no shuffle-by-key anywhere
  }

  test("q73: packing window and pack aggregate share ONE shard shuffle") {
    // groupBy(shard, pack_id) must reuse the window's hashpartitioning(shard)
    // — a second exchange would mean the pack aggregate re-shuffles rows the
    // window already co-located
    val p = plan("q73_pack_sequences")
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1, p)
  }

  test("q75: benchmark grams broadcast — the training corpus never shuffles for detection") {
    val p = plan("q75_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q86: LATERAL rewrites to a group-limit ranked join, never per-row nested loops") {
    val p = plan("q86_sql_lateral_join")
    assert(p.contains("WindowGroupLimit"), p) // the optimized top-k-per-group operator
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q85: range-frame window costs exactly one shuffle") {
    assert("hashpartitioning\\(".r.findAllIn(plan("q85_window_range_frame")).size == 1)
  }

  test("q92/q95: span aggregate and df window share ONE shuffle on the window hash") {
    // Both span queries repartition(h) explicitly so the (doc_id, h)
    // aggregate / dup-mark window reuse it — a second hashpartitioning(h)
    // would mean the pair set crosses the wire twice again.
    Seq("q92_dedup_dup_spans", "q95_dedup_span_cut").foreach { name =>
      assert("hashpartitioning\\(h#".r.findAllIn(plan(name)).size == 1,
        s"$name re-shuffles the span set on h")
    }
  }

  test("q99/q100: PromQL eval reads the events table exactly once") {
    // q99's vector matching is a PIVOT, not a self-join — a regression to
    // two branches would re-derive the scan and the delta window per side.
    // q100's step grid comes from a bounded sample-side explode — joining
    // a generated step table against samples would add a second scan.
    // q103's nested eval folds the same grid per series: still one scan.
    // (FormattedMode prints each scan node twice: tree + detail.)
    Seq("q99_prom_vector_ratio", "q100_prom_range_eval",
        "q103_prom_subquery").foreach { name =>
      assert("Scan parquet".r.findAllIn(plan(name)).size == 2,
        s"$name reads events more than once")
    }
  }

  test("q101: group_left's one side joins broadcast — the many side never re-shuffles") {
    // PromQL CardManyToOne: the info vector is unique per matching label,
    // small by construction. A regression to sort-merge would shuffle the
    // entire per-series rate vector a second time just to copy a label.
    val p = plan("q101_prom_group_left")
    assert(p.contains("BroadcastHashJoin"), s"q101 info vector not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q101 shuffles the many side:\n$p")
  }

  test("q102: eval_ts broadcasts, picks are materialized once for both branches, no sort-merge") {
    // The 1-row eval_ts scalar joins as a broadcast nested loop (never a
    // cartesian); the conditional struct-max means events is aggregated
    // ONCE, and the per-series picks feed both the diff rows and the
    // absent anti-join from an eagerly-checkpointed frame (Scan
    // ExistingRDD — the leak-free replacement for persist(), VERDICT r13
    // #3) rather than recomputing the aggregate per branch.
    val p = plan("q102_prom_offset_absent")
    assert(!p.contains("CartesianProduct"), s"q102 plans a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q102 shuffles a pick branch:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("InMemoryTableScan"),
      s"q102 recomputes picks per branch:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q102 absent anti-join not broadcast:\n$p")
  }

  test("q105/q106: the per-series fold family costs exactly one shuffle, one scan") {
    // q105 rides the seriesDeltas window; q106 collects+folds in the same
    // (name, user) aggregate. A second hashpartitioning would mean the
    // recurrence re-shuffles series-cardinality data; a second scan would
    // mean a branch re-derives the input. (Each scan prints twice in
    // FormattedMode: tree + detail.)
    Seq("q105_prom_changes_resets", "q106_prom_holt_winters").foreach { name =>
      val p = plan(name)
      assert("hashpartitioning\\(".r.findAllIn(p).size <= 2, // agg + presentation sort
        s"$name shuffles more than series agg + sort")
      assert("Scan parquet".r.findAllIn(p).size == 2, s"$name re-reads events")
    }
  }

  test("q107/q108: cross-series aggregation reuses ONE scan and the series shuffle") {
    Seq("q107_prom_agg_across", "q108_prom_count_values").foreach { name =>
      val p = plan(name)
      assert("Scan parquet".r.findAllIn(p).size == 2, s"$name re-reads events")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    }
  }

  test("q109: catalog and bounds join broadcast; present-hours set is materialized once") {
    // the distinct (name, user, hour) set feeds two branches from an eager
    // localCheckpoint (Scan ExistingRDD), not a leaked persist() — r13 #3
    val p = plan("q109_prom_absent_over_time")
    assert(p.contains("ExistingRDD") || p.contains("InMemoryTableScan"),
      s"q109 recomputes the distinct:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q109 shuffles a 7-row join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q93/q94: the bucket-offset tables join broadcast — ranked rows never re-shuffle") {
    // The two-phase numbering only beats a global window if the offset
    // join is free: the ≤256-row (×langs) offset table must broadcast.
    Seq("q93_shuffle_seeded", "q94_mixture_resample").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name offsets not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name shuffles for the offset join:\n$p")
    }
  }

  test("q110: the quota's heavy window is salted; the stats join broadcasts") {
    // The row-proportional shuffle must be keyed (source, xxhash64-salt) —
    // a regression to a bare source window puts a hot domain on one task.
    val p = plan("q110_source_quota")
    assert(p.contains("xxhash64"), s"q110 lost the salted phase-1 window:\n$p")
    assert("Window".r.findAllIn(p).size >= 2, s"q110 lost a window phase:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q110 stats join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q110 shuffles source-cardinality rows:\n$p")
  }

  test("q113: eval side broadcasts through a nested-loop join; train never shuffles pairs") {
    // The exact-decontamination contract: the benchmark is the broadcast
    // side of a BroadcastNestedLoopJoin and the only shuffle is the
    // |eval|-sized partial aggregate. A SortMergeJoin or a non-broadcast
    // cartesian appearing here means the train corpus started shuffling.
    val p = plan("q113_decontaminate_semantic")
    assert(p.contains("BroadcastNestedLoopJoin"), s"q113 lost the broadcast NL join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q113 shuffles the train side:\n$p")
    assert(!p.contains("CartesianProduct"), s"q113 plans a cartesian:\n$p")
    assert(p.contains("HashAggregate"), s"q113 lost the partial aggregate:\n$p")
  }

  test("q114: top-k is a distributed TakeOrdered; the window runs after the limit") {
    // The vocab-sized relation must reach the driver only as a k-row
    // TakeOrderedAndProject; the cumulative window then costs one k-row
    // task. A Window BEFORE the limit (global sort of the vocab) or a
    // SortMergeJoin for the scalar total are the regressions this pins.
    val p = plan("q114_bpe_merge_candidates")
    assert(p.contains("TakeOrderedAndProject"), s"q114 lost the distributed top-k:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"q114 total-pairs scalar not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q114 shuffles the scalar join:\n$p")
  }

  test("q111/q112: single-scan scan-and-aggregate — no join, no window") {
    // Both are one narrow projection + one tiny grouped aggregate; a
    // second scan or a join appearing here means a rewrite broke the
    // single-pass shape. (FormattedMode prints each scan twice.)
    Seq("q111_prom_time_fns", "q112_filter_funnel").foreach { name =>
      val p = plan(name)
      assert("Scan parquet".r.findAllIn(p).size == 2, s"$name re-reads its table:\n$p")
      assert(!p.contains("Join"), s"$name plans a join:\n$p")
      assert(!p.contains("Window"), s"$name plans a window:\n$p")
    }
  }

  test("q116: bm25 stats and df join back broadcast; the corpus never re-shuffles") {
    val p = plan("q116_text_bm25")
    assert(!p.contains("SortMergeJoin"), s"q116 shuffles a join side:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"q116 lost its broadcasts:\n$p")
  }

  test("q117: the report reduces the MATERIALIZED assignment artifact — " +
      "no Lloyd passes in the query plan") {
    // r15 (VERDICT r14 #2): the trained assignment is snapshot-keyed
    // parquet; query-time is scan → k-row aggregate with ZERO joins. The
    // training plan's own discipline (centroids broadcast, corpus never
    // shuffled) is pinned by the kmeans semantics spec on the generic
    // form, which still builds the Lloyd lineage directly.
    val p = plan("q117_sim_kmeans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), s"q117 re-grew a training-time join:\n$p")
    assert(p.contains("Scan parquet"), s"q117 lost the materialized scan:\n$p")
  }

  test("ANN TRAINING plans (generic forms): centroids broadcast, the corpus " +
      "never shuffles for assignment, no cartesian") {
    // The dir-form queries read materialized artifacts (r15); the BUILD
    // discipline — what runs once per snapshot — is pinned here on the
    // generic forms, which still construct the full training lineage.
    import org.apache.spark.sql.functions.col
    val emb = Tables(TestSpark.spark, dir, "embeddings")
    Seq(
      "kmeans" -> operators.Similarity.kmeansTrain(emb),
      "pqAdc" -> operators.Similarity.pqAdc(emb, col("vec_id") < 3),
      "ivfAdc" -> operators.Similarity.ivfAdc(emb, col("vec_id") < 3)
    ).foreach { case (name, df) =>
      val p = df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("CartesianProduct"), s"$name training plans a cartesian")
      assert(!p.contains("SortMergeJoin"),
        s"$name training shuffles the corpus for a codebook join:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$name training lost the centroid broadcast:\n$p")
    }
  }

  test("q121/q123/q126: the event-analytics family costs exactly one user_id shuffle") {
    // Funnel (three chained windows + groupBy), sessionization (lag +
    // running sum + two aggregates), and attribution (two running-max
    // windows + filter + aggregate) all ride ONE hashpartitioning(user_id)
    // exchange; a second user_id exchange means a window/groupBy stopped
    // sharing the partitioning. The textbook self-join forms these replace
    // would show up here as SortMergeJoin.
    Seq("q121_funnel_conversion", "q123_session_stats",
        "q126_attribution_last_touch", "q135_event_transitions").foreach { name =>
      val p = plan(name)
      val userExchanges = p.linesIterator
        .filter(l => l.contains("hashpartitioning") && l.contains("user_id")).size
      assert(userExchanges == 1, s"$name re-shuffles on user_id:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name plans a self-join:\n$p")
    }
  }

  test("q122: cohort sizes join broadcast; activity/cohort join shares the user key") {
    val p = plan("q122_retention_cohorts")
    assert(p.contains("BroadcastHashJoin"), s"q122 lost the cohort-size broadcast:\n$p")
  }

  test("q124: the unigram LM joins as a broadcast — tokens never hash-shuffle on tok") {
    // The per-token join against the vocab-sized LM must be map-side: a
    // sort-merge here keys a corpus-sized shuffle on Zipf-skewed tokens
    // (the hottest token's partition gets ~7% of the corpus).
    val p = plan("q124_perplexity_buckets")
    assert(p.contains("BroadcastHashJoin"), s"q124 lost the LM broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q124 shuffles on token:\n$p")
  }

  test("q125: chunking is scan → explode → sort, no join and no aggregation shuffle") {
    val p = plan("q125_rag_chunks")
    assert(!p.contains("Join"), s"q125 plans a join:\n$p")
    assert(!p.linesIterator.exists(_.contains("hashpartitioning")),
      s"q125 hash-shuffles:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 2, s"q125 re-reads documents:\n$p")
  }

  test("q127: the two-arm compare is a broadcast of one row against one row") {
    val p = plan("q127_ab_welch")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"q127 lost the single-row broadcast:\n$p")
  }

  test("q129: PMI pairs come from per-row arrays — no token self-join, vocab broadcast") {
    // The SQL-textbook tok×tok-on-doc_id form would appear as a
    // SortMergeJoin of the token table with itself; the shipped form's
    // only joins are broadcasts of the banded vocabulary and the scalar.
    val p = plan("q129_token_pmi")
    assert(!p.contains("SortMergeJoin"), s"q129 self-joins the token table:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q129 lost the vocab broadcast:\n$p")
  }

  test("q130/q131: quintile windows and median joins run on the reduced aggregate") {
    val p130 = plan("q130_rfm_segments")
    assert(!p130.contains("SortMergeJoin"), s"q130 shuffles a join:\n$p130")
    assert("Scan parquet".r.findAllIn(p130).size == 2, s"q130 re-reads events:\n$p130")
    val p131 = plan("q131_anomaly_mad")
    assert(!p131.contains("SortMergeJoin"), s"q131 lost the median broadcasts:\n$p131")
    assert(p131.contains("BroadcastHashJoin"), p131)
  }

  test("q128: the rrf fusion join never degrades to a cartesian or NLJ") {
    val p = plan("q128_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), p)
    // upstream q116/q44 broadcasts must survive composition
    assert(p.contains("BroadcastExchange"), s"q128 lost upstream broadcasts:\n$p")
  }

  test("q132/q133: SNM and blocking joins are equi-joins with broadcast offsets, never NLJ") {
    // q132's neighbor window must be the pos-bucket equi-join (a theta
    // join on |posA−posB| ≤ w would be NLJ); its offset tables broadcast.
    // q133's comparison space must be keyed by the block — an NLJ here
    // means the blocking key fell out of the join condition.
    Seq("q132_dedup_sorted_neighborhood", "q133_entity_match").foreach { name =>
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name lost its equi-join:\n$p")
    }
    assert(plan("q132_dedup_sorted_neighborhood").contains("BroadcastHashJoin"))
  }

  test("q134/q136: CF pairs avoid the item self-join; KM windows run on the day aggregate") {
    val p134 = plan("q134_item_cooccurrence")
    assert(!p134.contains("SortMergeJoin"), s"q134 self-joins the item table:\n$p134")
    assert(p134.contains("BroadcastHashJoin"), s"q134 lost the item-count broadcasts:\n$p134")
    val p136 = plan("q136_survival_km")
    assert(!p136.contains("CartesianProduct"), p136)
    assert(p136.contains("BroadcastExchange"), s"q136 lost the horizon broadcast:\n$p136")
  }

  test("q137: the KMV aggregate runs partial (map-side combine) and joins broadcast") {
    val p = plan("q137_kmv_intersection")
    // the Aggregator must plan as a two-phase ObjectHashAggregate — a
    // single-phase agg would shuffle raw hashes instead of ≤k-long sketches
    assert(p.contains("ObjectHashAggregate"), s"q137 lost the partial sketch agg:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q119/q120: every PQ/IVFADC join (codebooks, LUTs, rerank probes) builds broadcast") {
    // codebooks and LUTs are k-sized by construction — if any of the
    // joins degrades to sort-merge, something corpus-sized leaked into a
    // build side and the ADC stage stops scaling.
    Seq("q119_sim_pq_adc", "q120_sim_ivfadc").foreach { name =>
      val p = plan(name)
      assert(!p.contains("SortMergeJoin"), s"$name planned a sort-merge join:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name lost its broadcasts:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q139: compaction is a two-phase aggregate — no window sort over the changelog") {
    // The window/row_number formulation sorts the full changelog inside
    // each user partition; the shipped max_by aggregate must keep the
    // map-side partial (shuffle carries state, not changelog).
    val p = plan("q139_changelog_compact")
    assert(!p.contains("Window"), s"q139 regressed to the window form:\n$p")
    val userExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("user_id")).size
    assert(userExchanges == 1, s"q139 re-shuffles on user_id:\n$p")
  }

  test("q140: SCD2's two windows share one user_id exchange, no join") {
    val p = plan("q140_scd2_history")
    val userExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("user_id")).size
    assert(userExchanges == 1, s"q140 re-shuffles on user_id:\n$p")
    assert(!p.contains("Join"), s"q140 plans a join:\n$p")
  }

  test("q141: the day grid joins as a broadcast against the DEDUPED activity set") {
    // The textbook per-day COUNT(DISTINCT) re-scan appears here as either
    // a corpus-sized shuffle join or 28 scans; the shipped plan reads
    // events once, dedupes, and range-joins a replicated ≤|days| grid.
    val p = plan("q141_stickiness")
    assert(p.contains("BroadcastNestedLoopJoin"), s"q141 lost the grid broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q141 shuffles the grid join:\n$p")
  }

  test("q143/q144: drift + changepoint windows run on bin/moment aggregates") {
    val p143 = plan("q143_psi_drift")
    assert(!p143.contains("SortMergeJoin"), s"q143 shuffles the bounds join:\n$p143")
    assert(p143.contains("BroadcastExchange"), s"q143 lost the bounds broadcast:\n$p143")
    val p144 = plan("q144_changepoint_meanshift")
    assert(p144.contains("BroadcastHashJoin"), s"q144 lost the moment broadcast:\n$p144")
    assert(!p144.contains("SortMergeJoin"), p144)
  }

  test("q146: the rank-k filter compiles to WindowGroupLimit (per-task top-k before shuffle)") {
    val p = plan("q146_reservoir_sample")
    assert(p.contains("WindowGroupLimit"), s"q146 sorts whole groups:\n$p")
  }

  test("q148: BFS levels are lineage-truncated (q77's iterative-loop discipline)") {
    // Each hop ends in an eager localCheckpoint, so the FINAL plan must be
    // a scan of the checkpointed RDD + sort — a deep union/join chain here
    // means the truncation was dropped and loop cost reverts to re-planning
    // the whole history every level (measured 3x slower at sf0.1).
    val p = plan("q148_graph_khop")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"q148 lost its checkpoint truncation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q148's final plan should be scan+sort only:\n$p")
  }

  test("q149/q150: backtest and DQ joins broadcast their aggregate/dimension sides") {
    val p149 = plan("q149_forecast_backtest")
    assert(p149.contains("BroadcastHashJoin"), s"q149 lost the week-back broadcast:\n$p149")
    assert(!p149.contains("SortMergeJoin"), p149)
    val p150 = plan("q150_dq_checks")
    assert(p150.contains("BroadcastHashJoin"), s"q150 lost the RI broadcast anti-join:\n$p150")
    assert(!p150.contains("SortMergeJoin"), p150)
  }

  test("q151: the bootstrap is scan → explode → aggregate; CI and obs join broadcast") {
    // The textbook bootstrap materializes B resampled copies (a B-way
    // shuffle); the Poisson form must stay a single expansion with no
    // sort-merge join anywhere.
    val p = plan("q151_ab_bootstrap")
    assert(!p.contains("SortMergeJoin"), s"q151 shuffles a join:\n$p")
    assert(p.contains("Generate"), s"q151 lost the replicate explode:\n$p")
  }

  test("q152: rule metrics join broadcast item counts — no item self-join") {
    val p = plan("q152_assoc_rules")
    assert(!p.contains("SortMergeJoin"), s"q152 self-joins the item table:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q152 lost the count broadcasts:\n$p")
  }

  test("q153: label-prop rounds are lineage-truncated like q148") {
    val p = plan("q153_graph_labelprop")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"q153 lost its checkpoint truncation:\n$p")
  }

  test("q154: position attribution costs one user_id exchange, no join") {
    val p = plan("q154_attribution_position")
    val userExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("user_id")).size
    assert(userExchanges == 1, s"q154 re-shuffles on user_id:\n$p")
    assert(!p.contains("Join"), s"q154 plans an as-of self-join:\n$p")
  }

  test("q155/q157: funnel latency and entropy ride the single user_id event shuffle") {
    val p155 = plan("q155_funnel_latency")
    val userExchanges = p155.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("user_id")
        && !l.contains("cur")).size
    assert(userExchanges == 1, s"q155 re-shuffles events on user_id:\n$p155")
    assert(!p155.contains("Join"), s"q155 plans a funnel self-join:\n$p155")
    val p157 = plan("q157_path_entropy")
    assert(!p157.contains("Join"), s"q157 plans a join:\n$p157")
  }

  test("q156: the type grid broadcasts; the cohort join keys on user_id") {
    val p = plan("q156_retention_drivers")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"q156 lost the type-grid broadcast:\n$p")
  }

  test("q158/q159: report queries are one scan + windows on constant-size aggregates") {
    // formatted plans print each scan twice (tree node + detail block):
    // 2 occurrences == ONE physical scan (same count convention as q125)
    val p158 = plan("q158_kl_mixture")
    assert(!p158.contains("Join"), s"q158 plans a join:\n$p158")
    assert("Scan parquet".r.findAllIn(p158).size == 2, s"q158 re-reads documents:\n$p158")
    val p159 = plan("q159_sim_dim_stats")
    assert(!p159.contains("Join"), s"q159 plans a join:\n$p159")
    assert("Scan parquet".r.findAllIn(p159).size == 2, s"q159 re-reads embeddings:\n$p159")
  }

  test("q160: every star-report join is hash-keyed; dims broadcast") {
    // At sf0.001 even customer fits the broadcast threshold, so the
    // static plan may broadcast ALL sides (the orders⋈customer SMJ only
    // appears once customer outgrows the threshold — the planner's call,
    // not ours to force). The invariants that must hold at any size:
    // equi-joins only, dims broadcast, no cartesian/NLJ anywhere.
    val p = plan("q160_revenue_report")
    assert(p.contains("BroadcastHashJoin"), s"q160 lost the dimension broadcasts:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q162: cluster-labeling stats join broadcast onto the tf table") {
    val p = plan("q162_cluster_labels")
    assert(p.contains("BroadcastHashJoin"), s"q162 lost its stats broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q147: the triangle closure probes a broadcast edge list, never a cartesian") {
    val p = plan("q147_graph_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q147 lost its equi-joins:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q147 lost the closure broadcast:\n$p")
  }

  test("q163: the hierarchy walk plans Spark's native recursion, not an unrolled union") {
    val p = plan("q163_recursive_hierarchy")
    assert(p.contains("UnionLoop"), s"q163 lost the recursive-CTE plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q164: the salted join stays a real shuffle join (broadcast would void the demo)") {
    val p = plan("q164_join_salted_skew")
    assert(p.contains("ShuffledHashJoin"), s"q164's salted join degenerated:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q165: z-order audit is one scan + one aggregate shuffle; min/max broadcast") {
    val p = plan("q165_zorder_layout")
    // the single-row min/max CTE may ride a broadcast NLJ — that's the
    // scalar cross join, not candidate generation; what must NOT appear is
    // a second hash exchange (the morton math is all map-side)
    assert(!p.contains("CartesianProduct"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"q165 grew extra shuffles ($hashEx):\n$p")
  }

  test("q173: the PIT frame rides the native as-of operator; no cartesian anywhere") {
    val p = plan("q173_pit_features")
    assert(p.contains("AsOfJoin"), s"q173 lost the native as-of plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q168: the weighted sample is a distributed TakeOrdered, never a global sort") {
    val p = plan("q168_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), s"q168 lost its top-k plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q169: the partial merge re-aggregates reduced partials; cutoff broadcasts") {
    val p = plan("q169_incremental_agg")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"q169 lost the cutoff broadcast:\n$p")
  }

  test("q166: the report reduces the MATERIALIZED scores artifact — no " +
      "training joins in the query plan at all") {
    // r15 (VERDICT r14 #1): the model chain is snapshot-keyed parquet in
    // the Materialize registry; the query-time plan must be scan → per-doc
    // window → per-lang aggregate with ZERO joins — a join reappearing
    // means the training pass leaked back into the per-query cost
    val p = plan("q166_nb_classifier")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), s"q166 re-grew a training-time join:\n$p")
    assert(p.contains("Scan parquet"), s"q166 lost the materialized scan:\n$p")
  }

  test("q178: OLS moments ride ONE map-side-combined aggregate; the base is broadcast") {
    val p = plan("q178_ols_trend")
    assert(p.contains("partial_sum"), s"q178 lost its partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q180: phrase adjacency is an equi-join on the rebased position; " +
      "the postings prune to phrase terms BEFORE any shuffle") {
    val p = plan("q180_phrase_search")
    assert(p.contains("start"), s"q180 lost the rebased-position join key:\n$p")
    assert(p.contains("IN (table,hash)"), s"q180 lost the phrase-term prune:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q133: candidates come from an equi-join keyed on the deletion variant") {
    // The r13 rewrite's whole point (VERDICT r12 #5): the pair source must
    // be the signature equi-join — (nation, segment, variant) in the join
    // keys — not a coarse (nation, segment) block whose per-key fan-out is
    // quadratic in block size.
    val p = plan("q133_entity_match")
    assert(p.contains("variant"), s"q133 lost the deletion-signature key:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q189/q196: kappa's confusion/marginal joins ride broadcasts; no cartesian") {
    // past q166's scoring (vocab-keyed, separately pinned) everything is
    // held-out-sized: the per-doc prediction join and the ≤|langs|²
    // marginal joins must never become data-sized shuffles
    Seq("q189_kappa_agreement", "q196_kappa_by_segment").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$name lost its broadcasts:\n$p")
    }
  }

  test("q190: Benford is one scan + a 9-digit grid join — no sort-merge anywhere") {
    val p = plan("q190_benford_audit")
    assert(!p.contains("SortMergeJoin"), s"q190 shuffles the grid join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), s"q190 lost the count broadcast:\n$p")
  }

  test("q191/q192: the day-grain family costs exactly one user_id shuffle, no join " +
      "beyond the broadcast horizon") {
    Seq("q191_activity_streaks", "q192_growth_accounting").foreach { name =>
      val p = plan(name)
      val userExchanges = p.linesIterator
        .filter(l => l.contains("hashpartitioning") && l.contains("user_id")).size
      assert(userExchanges == 1, s"$name re-shuffles on user_id:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name plans a shuffle join:\n$p")
    }
    assert(plan("q191_activity_streaks").contains("TakeOrderedAndProject"),
      "q191 lost its distributed top-k")
  }

  test("q193: the Gini rank is two-phase — bucket offsets broadcast, " +
      "one revenue-aggregate shuffle") {
    val p = plan("q193_gini_revenue")
    assert(p.contains("BroadcastHashJoin"), s"q193 offsets not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q193 shuffles the offset join:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q194: segment Lorenz keeps every rank window partitioned and its " +
      "offsets/cutoffs broadcast") {
    val p = plan("q194_lorenz_segment")
    assert(p.contains("BroadcastHashJoin"), s"q194 lost its broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the customer-sized ranked frame must never hit a sort-merge join —
    // picks and offsets both probe it via broadcast
    assert(!p.contains("SortMergeJoin"), s"q194 shuffles the ranked frame:\n$p")
  }

  test("q195: Theil-Sen pairs come from per-row arrays on the day aggregate — " +
      "no self-join; the slope/residual joins broadcast") {
    val p = plan("q195_theilsen_trend")
    assert(!p.contains("SortMergeJoin"), s"q195 self-joins the daily series:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q195 lost its broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q197/q198: the statistical-test pair work stays horizon-bounded — " +
      "no sort-merge self-join on the daily series (32x-swept, VERDICT r15 #2)") {
    // q197's S rides q195's per-row pair arrays (an aggregate fold, not a
    // self-join); its tie term joins broadcast. q198's pair frame self-
    // joins the (type, day) AGGREGATE on day — tiny, so it must broadcast
    // — and every midrank window rides that join's single exchange.
    Seq("q197_mann_kendall", "q198_spearman_daily").foreach { name =>
      val p = plan(name)
      assert(!p.contains("SortMergeJoin"), s"$name sort-merges the daily series:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name lost its broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q205: tokenizer application is one map-side pass — vocab broadcasts, " +
      "no shuffle before the language aggregate") {
    val p = plan("q205_bpe_apply")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"q205's wide vocab row must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("suite-wide: every partition-less Window sits on a provably-reduced input") {
    // VERDICT r13 #2: a Window with no partitionBy funnels its whole input
    // through ONE task — fine on a bounded histogram, a serial funnel on
    // anything data-sized (the q187 defect class). This guard bans the
    // class suite-wide: for every query, each partition-less logical
    // Window's child must be REDUCED on every leaf-ward path — an
    // Aggregate (grouped/distinct reduction), a GlobalLimit (top-k), a
    // LocalRelation (driver literal), or a literal Range of bounded size
    // (q143's 10-bin grid) must sit between the window and every scan.
    // A raw relation, generator output, or checkpointed RDD reachable
    // without passing one of those is exactly the unbounded input the
    // q93/q187 two-phase pattern exists for. No whitelist: as of r14 the
    // repo has zero legitimate exceptions, so none are grandfathered.
    import org.apache.spark.sql.catalyst.plans.logical._
    def reduced(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: GlobalLimit | _: LocalRelation => true
      case r: Range => r.numElements <= 10000
      case _: LeafNode => false
      case other => other.children.nonEmpty && other.children.forall(reduced)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val opt = SparkEntry.queries(name)(TestSpark.spark, dir)
        .queryExecution.optimizedPlan
      opt.collect {
        case w: Window if w.partitionSpec.isEmpty && !reduced(w.child) =>
          s"$name: partition-less Window over ${w.child.nodeName} " +
            s"(leaves: ${w.child.collectLeaves().map(_.nodeName).distinct.mkString(",")})"
      }
    }
    assert(offenders.isEmpty,
      s"partition-less windows over data-sized inputs:\n${offenders.mkString("\n")}")
  }

  test("q187: the KS cumulative grid runs two-phase — in-bucket windows + " +
      "broadcast offsets, no whole-grid window") {
    // The r13 defect made concrete: the only partition-less window left in
    // q187 is the ≤4096-row bucket-offset aggregate; the value-grid
    // running sums are partitioned by the value bucket, and the offsets
    // join back as a broadcast.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val qe = SparkEntry.queries("q187_ks_drift")(TestSpark.spark, dir).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "q187 lost its windows entirely?")
    val unpartitioned = wins.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.forall(
      _.child.collectFirst { case a: Aggregate => a }.isDefined),
      "q187's unpartitioned window left the bucket aggregate")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "q187 lost the per-bucket partitioned running sums")
    val p = qe.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), s"q187 offsets not broadcast:\n$p")
  }

  test("q162: the corpus-frequency join is UNHINTED — keyed on tok, AQE-sized") {
    // VERDICT r12 #4: at 100 TB the clustered-corpus vocabulary is not
    // broadcast-sized; the cf join must not carry a broadcast hint. The
    // logical plan should show exactly the two intended hints (ct, amean).
    val lp = SparkEntry.queries("q162_cluster_labels")(TestSpark.spark, dir)
      .queryExecution.analyzed.toString
    val hints = "(?i)ResolvedHint".r.findAllIn(lp).length
    assert(hints == 2, s"q162 expected 2 broadcast hints (ct, amean), saw $hints:\n$lp")
  }
}

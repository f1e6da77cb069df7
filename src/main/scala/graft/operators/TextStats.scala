package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Text-analysis battery for LLM data pipelines over `documents`
  * (BASELINE north-star): corpus stats, n-gram-profile language ID, quality
  * scoring, regex (BPE-ish) token counting, rolling-hash fingerprinting.
  *
  * The corpus is synthetic same-vocabulary word soup, so the language-ID
  * profiles cannot be linguistically meaningful — the query demonstrates
  * the mechanism (per-profile keyword scoring + argmax) with deterministic
  * profiles; on real data the profile lists are per-language n-gram tables.
  *
  * Scale notes: all five are narrow scan→project pipelines with a final
  * small aggregate or top-k; per-row work is O(len(text)); no shuffle
  * carries anything row-proportional except the per-doc outputs themselves.
  */
object TextStats extends QueryModule {

  /** Generic forms take any corpus DataFrame with canonical columns
    * `doc_id`, `text` (and `lang`/`n_chars` where the stat groups by them);
    * the `(spark, dir)` adapters back the oracle-checked query entries. */

  private def toks(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))

  private def docsTable(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Corpus stats per language. */
  def textStats(docs: DataFrame): DataFrame =
    toks(docs)
      .select(col("lang"), col("n_chars"), size(col("toks")).as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(avg(col("n_tok")), 4).as("avg_tokens"),
        sum(col("n_tok")).cast("long").as("total_tokens"))
      .orderBy(col("lang"))

  def textStats(spark: SparkSession, dir: String): DataFrame =
    textStats(docsTable(spark, dir))

  /** Per-doc keyword-profile prediction — q47's scoring rule factored out
    * so q189's agreement query scores the IDENTICAL heuristic (one rule,
    * two consumers — the q133/q165 single-constant discipline). */
  private[graft] def langIdPerDoc(docs: DataFrame): DataFrame =
    toks(docs)
      .withColumn("s_en", size(filter(col("toks"), t => t.isin("the", "a", "data"))))
      .withColumn("s_es", size(filter(col("toks"), t => t.isin("row", "value", "table"))))
      .withColumn("s_zh", size(filter(col("toks"), t => t.isin("query", "join", "window"))))
      .withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_zh"), "en")
          .when(col("s_es") >= col("s_zh"), "es")
          .otherwise("zh"))

  /** Keyword-profile language ID: score each profile, argmax, confusion
    * matrix against the labeled lang. */
  def langId(docs: DataFrame): DataFrame =
    langIdPerDoc(docs)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  def langId(spark: SparkSession, dir: String): DataFrame =
    langId(docsTable(spark, dir))

  /** Composite quality score: length, mean token length, lexical diversity. */
  def qualityScore(docs: DataFrame, topK: Int = 20): DataFrame =
    toks(docs)
      .withColumn("n_tok", size(col("toks")))
      .withColumn("avg_len",
        aggregate(col("toks"), lit(0), (acc, t) => acc + length(t)).cast("double") /
          col("n_tok"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("toks"))).cast("double") / col("n_tok"))
      .withColumn("quality",
        lit(0.4) * least(lit(1.0), col("n_tok") / 100.0) +
          lit(0.3) * least(lit(1.0), col("avg_len") / 8.0) +
          lit(0.3) * col("uniq_ratio"))
      .select(col("doc_id"), col("n_tok"), round(col("avg_len"), 4).as("avg_len"),
        round(col("uniq_ratio"), 6).as("uniq_ratio"),
        round(col("quality"), 6).as("quality"))
      .orderBy(col("quality").desc, col("doc_id"))
      .limit(topK)

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScore(docsTable(spark, dir))

  /** Regex (BPE-ish) vs whitespace token counting, per language. */
  def tokenCount(docs: DataFrame): DataFrame =
    toks(docs)
      .select(col("lang"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("n_re"),
        size(col("toks")).as("n_ws"))
      .groupBy(col("lang"))
      .agg(sum(col("n_re")).cast("long").as("regex_tokens"),
        sum(col("n_ws")).cast("long").as("ws_tokens"),
        round(avg(col("n_re")), 4).as("avg_regex_tokens"))
      .orderBy(col("lang"))

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    tokenCount(docsTable(spark, dir))

  /** Rolling-hash fingerprint: min md5 over all char 8-grams (two salted
    * variants) + distinct-gram count. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      // the sub-8-char guard is LOAD-BEARING (review catch): Spark's
      // two-arg sequence(start, stop) auto-descends when start > stop, so
      // an unguarded sequence(1, length-7) on a 7-char text yields [1, 0]
      // and fabricates two phantom "8-grams" (substr position 0 ≡ 1),
      // where the oracle's range(1, len-6) is simply empty — short docs
      // must produce (fp NULL, 0 distinct grams) in both engines
      .withColumn("grams", expr(
        "CASE WHEN length(text) >= 8 " +
          "THEN transform(sequence(1, length(text)-7), i -> substr(text, i, 8)) " +
          "ELSE CAST(array() AS array<string>) END"))
      .select(col("doc_id"),
        array_min(expr("transform(grams, g -> md5(g))")).as("fp"),
        array_min(expr("transform(grams, g -> md5(concat('w:', g)))")).as("fp_salted"),
        size(array_distinct(col("grams"))).as("n_distinct_grams"))
      .orderBy(col("doc_id"))

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprint(docsTable(spark, dir).filter(col("doc_id") < 200))

  /** Gopher-rule within-doc repetition: fraction of DUPLICATE token
    * 3-grams per doc (1 − distinct/total over the raw shingle stream —
    * [[graft.functions.TokenShingles]] keeps duplicates, which is exactly
    * what this signal needs; q48's `uniq_ratio` is the unigram analogue).
    * High values flag boilerplate/looping text that length and lexical
    * filters both miss. Narrow per-row scan, no shuffle until the
    * deterministic order-by. */
  def repetition(docs: DataFrame): DataFrame =
    docs
      .withColumn("sh", graft.functions.TextExpressions.tokenShingles(col("text"), 3))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        round(lit(1.0) -
          size(array_distinct(col("sh"))).cast("double") / size(col("sh")), 6)
          .as("rep_ratio"))
      .orderBy(col("rep_ratio").desc, col("doc_id"))
      .limit(50)

  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetition(docsTable(spark, dir))

  /** C4/Gopher-style quality-filter cascade with FIRST-FAILING-RULE
    * attribution: every rejected doc is charged to the first rule that
    * failed it, so the per-(lang, reason) counts explain corpus loss the
    * way curation dashboards report it — rules later in the cascade never
    * see docs an earlier rule already dropped. Rules, in cascade order:
    * too_short (n_chars), low_alpha (alphabetic char ratio — markup/noise
    * signal), low_stopword (Gopher's "no function words" gibberish
    * signal), long_words (mean token length — unsegmented/binary junk).
    *
    * Every threshold is a cross-multiplied INTEGER inequality (e.g.
    * alpha/len < 0.81 is spelled al·100 < lt·81), so no double ratio ever
    * crosses the engine boundary — the q103/q107 exactness rule applied
    * to predicates. Single narrow scan, per-row O(len) regex/token work,
    * one tiny (lang × reason) map-side-combined shuffle. */
  def filterFunnel(docs: DataFrame): DataFrame = {
    // LONG, not the Int these builtins return (review catch): the
    // cross-multiplied predicates below compute products like lt·81 and
    // al·100, which wrap 32-bit silently (non-ANSI Multiply) once a doc
    // passes ~21 M chars — exactly the huge-junk-doc class this funnel
    // exists to catch — while the oracle's len() is BIGINT and classifies
    // correctly. Cast once; every product below is then 64-bit.
    val lt = length(col("text")).cast("long")
    val nt = size(split(col("text"), " ")).cast("long")
    val al = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long")
    val st = size(filter(split(col("text"), " "),
      t => t.isin("the", "a", "of", "to", "and"))).cast("long")
    // mean token length = (chars minus the nt-1 separators) / nt > 4.8
    val reason = when(col("n_chars") < 120, "too_short")
      .when(al * 100 < lt * 81, "low_alpha")
      .when(st * 100 < nt * 3, "low_stopword")
      .when((lt - nt + 1) * 20 > nt * 96, "long_words")
      .otherwise("kept")
    docs.withColumn("reason", reason)
      .groupBy(col("lang"), col("reason"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("lang"), col("reason"))
  }

  def filterFunnel(spark: SparkSession, dir: String): DataFrame =
    filterFunnel(docsTable(spark, dir))

  /** BPE merge-candidate mining — the first step of corpus-scale
    * tokenizer training (Sennrich et al. ACL'16): count ADJACENT token
    * pairs and rank by frequency; the top pair is the next merge a BPE
    * trainer would apply, and the cumulative-coverage column says how
    * much of the corpus's pair mass the first k merges would touch
    * (vocab-budget planning).
    *
    * Scale shape: per-row O(len) pair construction (`transform` over the
    * token array — no self-join, no posexplode+re-join on position), one
    * map-side-combined groupBy(pair) whose shuffle carries ≤ per-doc
    * distinct pairs, a distributed TakeOrdered for the top-k, and the
    * cumulative window runs AFTER the limit — over k rows, never over
    * the vocab. The total-pair-mass scalar rides a separate narrow scan
    * (`sum(size-1)` — no second explode) and broadcasts as one row.
    * Counts are exact integers; the only doubles are divisions of
    * identical integers, so every cell is bit-stable across engines. */
  def bpeMergeCandidates(docs: DataFrame, topK: Int = 30): DataFrame = {
    val t = toks(docs)
    val pairs = t
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks)-1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).cast("long").as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(topK)
    val total = t.select(
      sum(greatest(size(col("toks")) - 1, lit(0))).cast("long").as("total_pairs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occ").desc, col("pair"))
    pairs.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("pct", round(col("n_occ") / col("total_pairs"), 6))
      .withColumn("cum_pct",
        round(sum(col("n_occ")).over(w) / col("total_pairs"), 6))
      .select(col("rank"), col("pair"), col("n_occ"), col("pct"), col("cum_pct"))
      .orderBy(col("rank"))
  }

  def bpeMergeCandidates(spark: SparkSession, dir: String): DataFrame =
    bpeMergeCandidates(docsTable(spark, dir))

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC'20): score every
    * document under a unigram LM with add-one smoothing TRAINED ON THE
    * CORPUS ITSELF (CCNet uses a pretrained KenLM; the self-trained unigram
    * makes the query closed over its inputs and thus oracle-checkable), then
    * split each language into head/middle/tail perplexity tertiles — the
    * exact knob CCNet exposes for "keep only head+middle".
    *
    * Cross-engine exactness: per-token surprisal is quantized ONCE to an
    * integer (micro-bits, `round(-log2(p)·1e6)`) before any aggregation, so
    * per-doc sums are exact BIGINTs in any summation order and the final
    * ppl is one identical double division. Tertile assignment orders by the
    * already-rounded ppl with doc_id tiebreak — deterministic in both
    * engines (`ntile` has identical floor/remainder semantics).
    *
    * Scale: token-linear. The LM is |vocab| rows (bounded by the corpus's
    * distinct-token count, ~100k–10M on real corpora — broadcastable by
    * construction; a pretrained-LM variant would broadcast its table the
    * same way). The per-token join is map-side against that broadcast, so
    * the only shuffles are the vocab count and the per-doc aggregate —
    * nothing pairwise, no skew (the join side is replicated, not hashed).
    */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val toksE = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    val counts = toksE.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v_size"))
    val lm = counts.crossJoin(broadcast(totals))
      .select(col("tok"),
        round(-log2((col("c") + 1) / (col("n_total") + col("v_size"))) * 1e6, 0)
          .cast("long").as("s_ppm"))
    val scored = toksE.join(broadcast(lm), "tok")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s_ppm")).as("sum_ppm"))
      .withColumn("ppl_bits",
        round(col("sum_ppm").cast("double") / col("n_tokens") / 1e6, 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("ppl_bits"), col("doc_id"))
    scored.withColumn("tertile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("ppl_bits"),
        when(col("tertile") === 1, "head").when(col("tertile") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    perplexityBuckets(docsTable(spark, dir))

  /** Token-pair PMI (pointwise mutual information over document
    * co-occurrence) — the distributional-semantics collocation score:
    * pmi(a,b) = log2(c_ab·N / (c_a·c_b)) with document-presence counts.
    *
    * Scale: the classic failure mode is the pair explode on ultra-common
    * tokens (stopwords pair with everything — Σ per-doc |V_doc|² work).
    * The df-band filter [dfMin, dfMaxFrac·N] — standard PMI practice,
    * since PMI is degenerate at both df extremes anyway — prunes tokens
    * BEFORE pair generation, and the surviving vocabulary rides along as
    * two broadcast joins; pairs are generated per-row from each doc's
    * sorted pruned token array (no self-join — the SQL-textbook
    * tok×tok-on-doc_id form shuffles the token table twice and re-pairs
    * hot docs quadratically in the join). The c_ab ≥ minPairDocs filter
    * sits on the pair aggregate, before the top-k sort.
    */
  def tokenPmi(docs: DataFrame, dfMin: Int = 5, dfMaxFrac: Double = 0.85,
               minPairDocs: Int = 5, topK: Int = 30): DataFrame = {
    // checkpointed: the tokenized corpus feeds the df counts, the doc
    // total AND the pruned pair generation — three scan+tokenize re-runs
    // without the pin (r20 static dup-subtree catch); at real scale this
    // is the materialized tokenized view, tokenize-once by design
    // (localCheckpoint, not persist — CacheManager leakage, see annIvf)
    val docToks = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("toks"))
      .localCheckpoint(true)
    val tokDf = docToks.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val total = docToks.agg(count(lit(1)).as("n_docs"))
    val banded = tokDf.crossJoin(broadcast(total))
      .filter(col("df") >= dfMin && col("df") <= col("n_docs") * dfMaxFrac)
      .select(col("tok"), col("df"))
    val pruned = docToks.select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(broadcast(banded.select(col("tok"))), "tok")
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("tok"))).as("toks"))
    pruned.select(explode(expr(
        "flatten(transform(toks, (x, i) -> transform(slice(toks, i + 2, size(toks)), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairDocs)
      .join(broadcast(banded.select(col("tok").as("a"), col("df").as("c_a"))), "a")
      .join(broadcast(banded.select(col("tok").as("b"), col("df").as("c_b"))), "b")
      .crossJoin(broadcast(total))
      .withColumn("pmi", round(log2(col("c_ab").cast("double") * col("n_docs") /
        (col("c_a") * col("c_b"))), 6))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(topK)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"), col("pmi"))
  }

  def tokenPmi(spark: SparkSession, dir: String): DataFrame =
    tokenPmi(docsTable(spark, dir))

  /** q166 — TRAINED language classifier (multinomial naive Bayes with
    * add-one smoothing), the supervised counterpart of q47's fixed-profile
    * language ID: fit per-(lang, token) log-likelihoods on the hash-split
    * training docs (doc_id % 5 ≠ 0), score the held-out fifth, report the
    * per-language accuracy — the fastText-style quality/language scoring
    * stage of a training-data pipeline, expressed as two token-keyed
    * aggregations and one token-keyed join. Log-likelihoods are QUANTIZED
    * to fixed-point micro-nats (×1e6, bigint) at model-build time: the
    * per-document score is then an INTEGER sum — order-independent, so
    * the argmax is bit-stable across engines and partitionings (an FP sum
    * would depend on reduction order; the one FP op left, round(ln·1e6),
    * is per-MODEL-ROW, the q74 "round before ranking" discipline).
    * Scale: model size = vocab × langs (shuffle-join side, vocab-keyed —
    * uniform); the per-lang scalars (priors, defaults, vocab) broadcast;
    * test tokens replicate ×|langs| (a constant), then reduce per doc. */
  /** The fitted NB model as two frames: per-(lang, token) quantized
    * log-likelihoods, and per-lang scalars (unseen-token default + prior).
    * Shared by batch q166 and [[graft.streaming.StreamingClassifier]],
    * whose parity spec holds exactly because both serve THIS model. */
  private[graft] def nbModelFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    val train = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .filter(col("doc_id") % 5 =!= 0)
    val cnt = train.groupBy(col("lang").as("model_lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val tot = train.groupBy(col("lang").as("model_lang"))
      .agg(count(lit(1)).as("tot"))
    val vocab = train.agg(countDistinct(col("tok")).as("v"))
    val dTrain = docs.filter(col("doc_id") % 5 =!= 0)
    val prior = dTrain.groupBy(col("lang").as("model_lang")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(dTrain.agg(count(lit(1)).as("ndall"))))
    val stats = tot.join(prior, "model_lang").crossJoin(broadcast(vocab))
      .select(col("model_lang"),
        expr("cast(round(ln(1.0 / (tot + v)) * 1000000) as bigint)").as("dflt_q"),
        expr("cast(round(ln(cast(nd as double) / ndall) * 1000000) as bigint)").as("prior_q"))
    val model = cnt.join(tot, "model_lang").crossJoin(broadcast(vocab))
      .select(col("model_lang"), col("tok"),
        expr("cast(round(ln((c + 1.0) / (tot + v)) * 1000000) as bigint)").as("ll_q"))
    (model, stats)
  }

  /** The q166 model chain, materialized ONCE per docs snapshot (VERDICT
    * r14 #1 — the r13 componentLabels pattern): six queries (q166, q172,
    * q188, q189, q196 — and StreamingClassifier's fit) consume a model
    * that never changes between them, so the (model, stats) frames and
    * the held-out scores frame are snapshot-keyed parquet artifacts in
    * the [[Materialize]] registry — the training pass runs once per
    * corpus snapshot per process, every consumer reads scored parquet.
    * At 100 TB this IS the production shape: a model registry entry plus
    * a scored-eval table, rebuilt only when the corpus snapshot moves. */
  private[graft] def nbModelFramesCached(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // ONE registry artifact holds both frames (kind = 'm' model rows /
    // 's' per-lang scalar rows, schema union-padded with nulls): a single
    // write job per corpus snapshot, so the training aggregates run once
    // — two separate parquetDir entries executed the training lineage
    // once per write (ADVICE r15). Consumers still see the original two
    // schemas via the kind split below.
    val snap = Materialize.snapshot(s"$dir/documents.parquet")
    val allDir = Materialize.parquetDir(
      s"nb-model-all:$dir@$snap", "graft-nb-model-") {
      val (model, stats) = nbModelFrames(docsTable(spark, dir))
      model.select(lit("m").as("kind"), col("model_lang"), col("tok"),
          col("ll_q"), lit(null).cast("long").as("dflt_q"),
          lit(null).cast("long").as("prior_q"))
        .unionAll(stats.select(lit("s").as("kind"), col("model_lang"),
          lit(null).cast("string").as("tok"),
          lit(null).cast("long").as("ll_q"), col("dflt_q"), col("prior_q")))
    }
    val all = spark.read.parquet(allDir)
    (all.filter(col("kind") === "m").select("model_lang", "tok", "ll_q"),
      all.filter(col("kind") === "s").select("model_lang", "dflt_q", "prior_q"))
  }

  /** Held-out scores (doc_id, lang, model_lang, score_q), materialized
    * once per docs snapshot; scoring reads the cached model frames, so
    * even the first consumer pays training exactly once. */
  private[graft] def nbScoresCached(spark: SparkSession, dir: String): DataFrame = {
    // the model frames come from their own registry entry, so scoring
    // never retrains them
    val (model, stats) = nbModelFramesCached(spark, dir)
    spark.read.parquet(Materialize.parquetDir(
      s"nb-scores:$dir@${Materialize.snapshot(s"$dir/documents.parquet")}",
      "graft-nb-scores-") {
      nbScoresFrom(docsTable(spark, dir), model, stats)
    })
  }

  /** Per-held-out-doc per-language score: (doc_id, lang, model_lang,
    * score_q) — exact integer micro-nats. */
  private[graft] def nbScores(docs: DataFrame): DataFrame = {
    val (model, stats) = nbModelFrames(docs)
    nbScoresFrom(docs, model, stats)
  }

  private def nbScoresFrom(docs: DataFrame, model: DataFrame,
                           stats: DataFrame): DataFrame = {
    val test = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .filter(col("doc_id") % 5 === 0)
    val sums = test
      .crossJoin(broadcast(stats.select(col("model_lang"), col("dflt_q"))))
      .join(model, Seq("model_lang", "tok"), "left")
      .groupBy(col("doc_id"), col("lang"), col("model_lang"))
      .agg(sum(coalesce(col("ll_q"), col("dflt_q"))).as("tok_q"))
    sums.join(broadcast(stats.select(col("model_lang"), col("prior_q"))), "model_lang")
      .select(col("doc_id"), col("lang"), col("model_lang"),
        (col("tok_q") + col("prior_q")).as("score_q"))
  }

  /** Per-held-out-doc prediction: (doc_id, lang, model_lang). */
  private[graft] def nbPredictions(docs: DataFrame): DataFrame =
    nbPredictionsFromScores(nbScores(docs))

  private def nbPredictionsFromScores(scores: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q").desc, col("model_lang"))
    scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("model_lang"))
  }

  /** q172 — AUC of the q166 classifier's `posLang` score on the held-out
    * fifth, by the Mann–Whitney rank-sum identity: AUC = (Σ ranks of
    * positives − P(P+1)/2) / (P·N), with midrank tie handling carried as
    * the INTEGER 2·rank + |tie| − 1 (twice the average rank), so the whole
    * statistic is exact integer arithmetic until one final division — the
    * q166/q167 fixed-point discipline applied to model EVALUATION. The
    * global rank runs over the held-out docs only (an eval set is orders
    * smaller than the corpus; at larger eval sizes the same identity
    * distributes by partition-ranked prefix sums). */
  def classifierAuc(docs: DataFrame, posLang: String = "en"): DataFrame =
    classifierAucFromScores(nbScores(docs), posLang)

  private def classifierAucFromScores(scores: DataFrame,
                                      posLang: String): DataFrame = {
    val s = scores.filter(col("model_lang") === posLang)
      .select((col("lang") === posLang).cast("long").as("y"), col("score_q"))
    // counts-of-scores first (r15): every row with score s shares
    // rank = 1 + Σ_{s'<s} c_{s'} and tie count c_s, so the per-row
    // 2·rank + tied − 1 collapses to one value per DISTINCT score and
    // r2s = Σ_s p_s·r2(s) — identical integers, and the one global
    // running sum now rides the score-distinct AGGREGATE (guard-
    // sanctioned, q187's discipline) instead of a row-grain window
    val byScore = s.groupBy(col("score_q"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    val wCum = Window.orderBy(col("score_q"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = byScore
      .withColumn("cum_before", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .withColumn("r2", lit(2L) * (col("cum_before") + 1L) + col("c") - 1L)
    r2.agg(sum(col("p")).as("n_pos"), sum(col("c") - col("p")).as("n_neg"),
        sum(col("p") * col("r2")).as("r2s"))
      .select(col("n_pos"), col("n_neg"),
        (round((col("r2s").cast("double") / 2
            - col("n_pos").cast("double") * (col("n_pos") + 1) / 2)
          / (col("n_pos") * col("n_neg")), 6) + lit(0.0)).as("auc"))
  }

  def classifierAuc(spark: SparkSession, dir: String): DataFrame =
    classifierAucFromScores(nbScoresCached(spark, dir), "en")

  /** q188 — CALIBRATION TABLE for the q166 classifier: held-out accuracy
    * by CONFIDENCE-MARGIN quintile, where margin = best score − runner-up
    * score in exact integer micro-nats — the "can I trust the score as a
    * confidence?" report that q172's AUC (pure ranking) does not give,
    * and the evidence behind any threshold-gated auto-labeling pipeline
    * (ship bucket-5 predictions unreviewed, route bucket-1 to humans).
    * Margins are integer differences of the q166 fixed-point scores, so
    * bucket edges are exact ranks (ntile over (margin, doc_id) — a
    * global window, acceptable by construction: the HOLD-OUT fifth is
    * sample-sized at any corpus scale, the same justification as q130's
    * quintiles); accuracy is the one division per bucket, rounded with
    * the signed-zero convention. */
  def calibrationTable(docs: DataFrame, buckets: Int = 5): DataFrame =
    calibrationFromScores(nbScores(docs), buckets)

  private def calibrationFromScores(scores: DataFrame,
                                    buckets: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q").desc, col("model_lang"))
    val per = scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(when(col("rn") === 1, col("model_lang"))).as("predicted"),
        (max(when(col("rn") === 1, col("score_q")))
          - max(when(col("rn") === 2, col("score_q")))).as("margin"))
    per
      .withColumn("bucket", ntile(buckets)
        .over(Window.orderBy(col("margin"), col("doc_id"))).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted") === col("lang"), 1L).otherwise(0L)).as("n_correct"),
        min(col("margin")).as("margin_lo"), max(col("margin")).as("margin_hi"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_docs"), 6) + lit(0.0))
      .select(col("bucket"), col("n_docs"), col("n_correct"),
        col("margin_lo"), col("margin_hi"), col("accuracy"))
      .orderBy(col("bucket"))
  }

  def calibrationTable(spark: SparkSession, dir: String): DataFrame =
    calibrationFromScores(nbScoresCached(spark, dir), 5)

  /** q189 — INTER-CLASSIFIER AGREEMENT (Cohen's κ, 1960) between the
    * trained NB classifier (q166) and the fixed-profile heuristic (q47)
    * on the held-out fifth — the "do my two labelers actually agree
    * beyond chance" report behind every auto-labeling pipeline that
    * cross-checks a cheap heuristic against a trained model (label-drift
    * canary, annotation QA, silver-label acceptance). κ corrects raw
    * agreement for the agreement two INDEPENDENT labelers with these
    * marginals would reach by chance: κ = (p_o − p_e)/(1 − p_e).
    * Everything is exact integer arithmetic to the last step — the
    * confusion matrix is counts, p_o's numerator is the diagonal sum,
    * p_e's numerator Σ row_l·col_l — and κ is computed as ONE division
    * of integer cross-products (n_agree·N − pe_num)/(N² − pe_num), the
    * q112/q187 rule, so both engines agree bit-for-bit. Scale: the heavy
    * stage is q166's scoring (vocab-keyed joins, already audited); past
    * it everything is held-out-doc-sized, and the ≤|langs|² confusion
    * matrix + marginal products are driver-trivial aggregates. */
  def kappaAgreement(docs: DataFrame): DataFrame =
    kappaFromPredictions(nbPredictions(docs), docs)

  private def kappaFromPredictions(preds: DataFrame,
                                   docs: DataFrame): DataFrame = {
    val nb = preds.select(col("doc_id"), col("model_lang").as("pred_a"))
    val heur = langIdPerDoc(docs.filter(col("doc_id") % 5 === 0))
      .select(col("doc_id"), col("predicted").as("pred_b"))
    agreementReport(nb.join(heur, "doc_id"))
  }

  /** The generic library surface under q189: Cohen's κ for ANY frame of
    * paired labels (canonical columns `pred_a`, `pred_b` — adapt with a
    * select, like the dedup family's `doc_id`/`text` contract). Works for
    * any two labelers: model vs heuristic, two annotators, old vs new
    * model version. Same exact-integer arithmetic as the query form. */
  def agreementReport(pairs: DataFrame): DataFrame = {
    // checkpointed: conf feeds the totals AND both marginal rollups — the
    // upstream scoring subtree otherwise re-runs once per branch (r20
    // static dup-subtree catch); the ≤|labels|² matrix is driver-tiny
    val conf = pairs
      .groupBy(col("pred_a"), col("pred_b")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tot = conf.agg(sum(col("n")).as("n_docs"),
      sum(when(col("pred_a") === col("pred_b"), col("n"))
        .otherwise(0L)).as("n_agree"))
    val peNum = conf.groupBy(col("pred_a").as("l")).agg(sum(col("n")).as("row_n"))
      .join(conf.groupBy(col("pred_b").as("l")).agg(sum(col("n")).as("col_n")),
        Seq("l"))
      .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).as("pe_num"))
    tot.crossJoin(broadcast(peNum))
      .select(col("n_docs"), col("n_agree"),
        (round(col("n_agree").cast("double") / col("n_docs"), 6) + lit(0.0)).as("po"),
        (round(col("pe_num").cast("double")
          / (col("n_docs") * col("n_docs")), 6) + lit(0.0)).as("pe"),
        // κ is UNDEFINED when both labelers collapse to one identical
        // marginal (pₑ = 1 ⇒ zero denominator) — NULL, the same guard
        // kappaBySegment applies, not a divide-by-zero artifact whose
        // value differs across engines (review catch: Spark's non-ANSI
        // divide yields NULL, an IEEE engine yields ±Inf/NaN)
        when(col("n_docs") * col("n_docs") > col("pe_num"),
          round((col("n_agree") * col("n_docs") - col("pe_num")).cast("double")
            / (col("n_docs") * col("n_docs") - col("pe_num")), 6) + lit(0.0))
          .as("kappa"))
  }

  def kappaAgreement(spark: SparkSession, dir: String): DataFrame =
    kappaFromPredictions(nbPredictionsFromScores(nbScoresCached(spark, dir)),
      docsTable(spark, dir))

  /** q196 — the per-segment κ DRILL-DOWN the scalar q189 report points at
    * but cannot answer: WHERE do the two labelers disagree? One κ row per
    * TRUE label (the held-out docs' `lang`), each with its own
    * chance-correction from that segment's marginals — the
    * disagreement-triage view (which language's silver labels need human
    * review) behind any two-labeler pipeline. Same exact-integer
    * arithmetic as q189, now keyed by segment; a segment where both
    * labelers collapse to one marginal has κ undefined (pₑ = 1), emitted
    * as NULL identically in both engines rather than a divide-by-zero
    * artifact. All aggregates are ≤|langs|·|labels|² — driver-trivial
    * past q166's scoring stage. */
  def kappaBySegment(docs: DataFrame): DataFrame =
    kappaBySegmentFrom(nbPredictions(docs), docs)

  private def kappaBySegmentFrom(preds: DataFrame,
                                 docs: DataFrame): DataFrame = {
    val nb = preds
      .select(col("doc_id"), col("lang"), col("model_lang").as("pred_a"))
    val heur = langIdPerDoc(docs.filter(col("doc_id") % 5 === 0))
      .select(col("doc_id"), col("predicted").as("pred_b"))
    // checkpointed for the same reason as agreementReport's conf (three
    // downstream branches; ≤|langs|³ rows)
    val conf = nb.join(heur, "doc_id")
      .groupBy(col("lang"), col("pred_a"), col("pred_b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tot = conf.groupBy(col("lang")).agg(sum(col("n")).as("n_docs"),
      sum(when(col("pred_a") === col("pred_b"), col("n"))
        .otherwise(0L)).as("n_agree"))
    val peNum = conf.groupBy(col("lang"), col("pred_a").as("l"))
      .agg(sum(col("n")).as("row_n"))
      .join(conf.groupBy(col("lang"), col("pred_b").as("l"))
        .agg(sum(col("n")).as("col_n")), Seq("lang", "l"))
      .groupBy(col("lang"))
      .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).as("pe_num"))
    tot.join(broadcast(peNum), "lang")
      .select(col("lang"), col("n_docs"), col("n_agree"),
        (round(col("n_agree").cast("double") / col("n_docs"), 6) + lit(0.0)).as("po"),
        (round(col("pe_num").cast("double")
          / (col("n_docs") * col("n_docs")), 6) + lit(0.0)).as("pe"),
        when(col("n_docs") * col("n_docs") > col("pe_num"),
          round((col("n_agree") * col("n_docs") - col("pe_num")).cast("double")
            / (col("n_docs") * col("n_docs") - col("pe_num")), 6) + lit(0.0))
          .as("kappa"))
      .orderBy(col("lang"))
  }

  def kappaBySegment(spark: SparkSession, dir: String): DataFrame =
    kappaBySegmentFrom(nbPredictionsFromScores(nbScoresCached(spark, dir)),
      docsTable(spark, dir))

  /** q174 — χ² FEATURE SELECTION over the q166 training split: for each
    * (lang, token), the 2×2 contingency of doc-level token presence vs
    * class membership, ranked per lang — the vocabulary-pruning step that
    * turns a web-scale token table into a model-sized feature set before
    * any training run. All four cells derive from INTEGER counts (a from
    * one (lang, tok) aggregate over per-doc-deduped tokens — map-side
    * `array_distinct` so the token shuffle carries presence, not
    * frequency; t from a vocabulary-keyed rollup of a; L and N broadcast
    * scalars), so the only FP is the final χ² ratio — rounded BEFORE
    * ranking (q74 discipline). Two shuffles total: the (lang, tok)
    * presence count and its tok rollup; the rank runs per lang on the
    * already-selected candidates. */
  def chiSquareFeatures(docs: DataFrame, topK: Int = 5): DataFrame = {
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val pres = train
      .select(col("lang"), col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .filter(col("tok") =!= "")
    // DELIBERATELY not pinned (r20 dup-subtree audit): `a` feeds both
    // the cells join and the `t` rollup, but the explode+count recompute
    // beat both pin forms same-box best-of-5 (recompute 0.45 s vs
    // checkpoint/persist 0.52 s)
    val a = pres.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("a"))
    val t = a.groupBy(col("tok")).agg(sum(col("a")).as("t"))
    val langs = train.groupBy(col("lang")).agg(count(lit(1)).as("ldocs"))
    val n = train.agg(count(lit(1)).as("n"))
    val cells = a.join(t, "tok")
      .join(broadcast(langs), "lang")
      .crossJoin(broadcast(n))
      .withColumn("b", col("ldocs") - col("a"))
      .withColumn("c", col("t") - col("a"))
      .withColumn("d", col("n") - col("ldocs") - col("c"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("chi2").desc, col("tok"))
    cells
      // a zero margin (token in every doc, or a single-class corpus) has
      // no discriminative signal — define chi2 = 0 instead of dividing by it
      .withColumn("chi2",
        when((col("b") + col("d")) === 0 || (col("c") + col("d")) === 0, lit(0.0))
          .otherwise(round(
            col("n").cast("double")
              * pow(col("a") * col("d") - col("b") * col("c"), 2)
              / (col("ldocs").cast("double") * (col("c") + col("d"))
                * (col("a") + col("c")) * (col("b") + col("d"))), 4) + lit(0.0)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("lang"), col("tok"), col("a").as("docs_with"), col("chi2"),
        col("rnk"))
      .orderBy(col("lang"), col("rnk"))
  }

  def chiSquareFeatures(spark: SparkSession, dir: String): DataFrame =
    chiSquareFeatures(docsTable(spark, dir))

  /** q177 — TRAINED bigram language model scoring: fit add-one-smoothed
    * transition probabilities P(w₂|w₁) on the q166 train split, score the
    * held-out fifth, report per-language negative log-likelihood per
    * bigram — the sequence-aware upgrade of q124's unigram perplexity
    * (the CCNet quality-filter family: low NLL = fluent, high = noise).
    * Bigrams are generated per-row from the token array (one pass, no
    * token self-join — the q129 anti-pattern note applies doubly to
    * adjacency); the bigram key is the space-joined pair (tokens are
    * space-split, so the key is collision-free). Unseen transitions back
    * off through the same formula via coalesce-to-0 counts — ln(1/V) at
    * the floor. Per-bigram log-likelihoods quantize to integer micro-nats
    * (q166 discipline), so the per-language aggregate is two exact
    * integer sums and ONE final division. Shuffles: the bigram/context
    * count aggregates and their token-keyed score joins — uniform keys;
    * the vocab scalar broadcasts. */
  def bigramLm(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', element_at(w, i + 2)))"))
        .as("bg"))
      .withColumn("w1", split_part(col("bg"), lit(" "), lit(1)))
    val train = bg.filter(col("doc_id") % 5 =!= 0)
    val test = bg.filter(col("doc_id") % 5 === 0)
    val c2 = train.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = train
      .select(col("w1")).union(train.select(split_part(col("bg"), lit(" "), lit(2))))
      .agg(countDistinct(col("w1")).as("v"))
    test
      .join(c2, Seq("bg"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("lang"), expr(
        "cast(round(ln((coalesce(c2, 0) + 1.0) / (coalesce(c1, 0) + v)) * 1000000) as bigint)")
        .as("ll_q"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"), sum(col("ll_q")).as("s"))
      .select(col("lang"), col("n_docs"), col("n_bigrams"),
        (round(-col("s").cast("double") / 1e6 / col("n_bigrams"), 6) + lit(0.0))
          .as("avg_nll"))
      .orderBy(col("lang"))
  }

  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLm(docsTable(spark, dir))

  def nbLangClassifier(docs: DataFrame): DataFrame =
    nbAccuracyFrom(nbPredictions(docs))

  private def nbAccuracyFrom(preds: DataFrame): DataFrame = {
    preds
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("model_lang") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_docs"), 4) + lit(0.0))
      .orderBy(col("lang"))
  }

  def nbLangClassifier(spark: SparkSession, dir: String): DataFrame =
    nbAccuracyFrom(nbPredictionsFromScores(nbScoresCached(spark, dir)))

  /** q199 — JENSEN–SHANNON divergence between two corpus halves' token
    * distributions, per language (Lin 1991): JSD(p‖q) = (KL(p‖m) +
    * KL(q‖m))/2 with m the midpoint — the SYMMETRIC, always-finite
    * distribution-drift score that completes the divergence family (PSI
    * q143 is binned-with-smoothing, KS q187 is distribution-exact on
    * values, KL q158 needs q ≪ p; JSD needs nothing and is bounded by
    * ln 2) — the "did this ingest batch shift the token mix?" gate a
    * corpus refresh runs. Halves split by doc_id parity (deterministic,
    * orderless). Exactness discipline: with integer counts a, b and half
    * totals A, B, p/m = 2/(1 + (b/a)(A/B)) — each token's log term is ONE
    * identical double expression in both engines, QUANTIZED to micro-nat
    * BIGINTs (q166's rule) and weighted by the INTEGER count, so both
    * KL sums are order-independent integer sums and the only terminal
    * doubles are two divisions and the average. A token absent from a
    * half contributes ln 2 to the present side only — the JSD boundary
    * case handled identically by the a > 0 / b > 0 splits. One token
    * aggregate (lang, tok — uniform keys), per-lang scalars broadcast. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val toks = docsTable(spark, dir)
      .select(col("lang"), (col("doc_id") % 2 === 0).as("in_a"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val cnt = toks.groupBy(col("lang"), col("tok"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("b"))
    val tot = cnt.groupBy(col("lang"))
      .agg(sum(col("a")).as("atot"), sum(col("b")).as("btot"),
        count(lit(1)).as("n_types"))
      .filter(col("atot") > 0 && col("btot") > 0)
    cnt.join(broadcast(tot), "lang")
      .withColumn("klp_q", when(col("a") > 0, col("a") * expr(
        "cast(round(ln(2.0 / (1.0 + (cast(b as double) / a) * " +
          "(cast(atot as double) / btot))) * 1000000) as bigint)"))
        .otherwise(0L))
      .withColumn("klq_q", when(col("b") > 0, col("b") * expr(
        "cast(round(ln(2.0 / (1.0 + (cast(a as double) / b) * " +
          "(cast(btot as double) / atot))) * 1000000) as bigint)"))
        .otherwise(0L))
      .groupBy(col("lang"))
      .agg(min(col("n_types")).as("n_types"), min(col("atot")).as("tok_a"),
        min(col("btot")).as("tok_b"),
        sum(col("klp_q")).as("sp"), sum(col("klq_q")).as("sq"))
      .select(col("lang"), col("n_types"), col("tok_a"), col("tok_b"),
        (round((col("sp").cast("double") / 1e6 / col("tok_a")
          + col("sq").cast("double") / 1e6 / col("tok_b")) / 2, 6)
          + lit(0.0)).as("jsd"))
      .orderBy(col("lang"))
  }

  private[graft] val NoveltyBatchDocs = 50

  /** q200 — VOCABULARY NOVELTY curve over ingest batches: per batch of
    * `NoveltyBatchDocs` doc_ids, how many distinct token types appear,
    * how many appear for the FIRST time in the corpus, the cumulative
    * vocabulary, and the novelty share — the new-vocab emergence curve
    * that tells a tokenizer-training pipeline when its vocabulary has
    * saturated (Heaps' law read operationally: retrain the BPE when the
    * curve stops falling). First-seen is one min(batch) aggregate per
    * token; everything downstream is batch-grain (≤ corpus/50 rows), so
    * the running cumulative window rides an AGGREGATE (guard rule). One
    * token shuffle total; exact integers + one terminal division. */
  def vocabNovelty(spark: SparkSession, dir: String): DataFrame = {
    val pres = docsTable(spark, dir)
      .select(expr(s"doc_id div $NoveltyBatchDocs").as("batch"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    val firstSeen = pres.groupBy(col("tok")).agg(min(col("batch")).as("first_batch"))
    val perBatch = pres.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_types"))
    val news = firstSeen.groupBy(col("first_batch").as("batch"))
      .agg(count(lit(1)).as("n_new"))
    perBatch.join(broadcast(news), Seq("batch"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_vocab", sum(col("n_new")).over(
        Window.orderBy(col("batch"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("batch"), col("n_types"), col("n_new"), col("cum_vocab"),
        (round(col("n_new").cast("double") / col("n_types"), 6) + lit(0.0))
          .as("novelty_share"))
      .orderBy(col("batch"))
  }

  private[graft] val BpeTrainRounds = 10
  // capsule delimiters shared by the BPE trainer (q203) and encoder
  // (q205): each token travels as SOT+token+EOT inside one per-doc string
  private val BpeSot = "\u0001"
  private val BpeEot = "\u0002"

  /** q203 — distributed BPE tokenizer TRAINING (Sennrich et al. ACL'16),
    * the iterative loop ABOVE q114's single-round candidate mining: for N
    * deterministic rounds, count adjacent token pairs across the corpus,
    * merge the argmax pair (ties broken lexicographically by (p1, p2)),
    * REWRITE every token sequence greedily left-to-right, and repeat on
    * the rewritten corpus. The output is the ordered merge table — the
    * artifact a BPE trainer ships as its vocabulary — with each round's
    * pair-mass share (pct = n_occ / that round's total adjacent pairs).
    *
    * Sequence representation: each doc's token sequence is ONE string of
    * U+0001·token·U+0002 capsules, so a merge round's rewrite is a single
    * codegen'd `replace` of the two-capsule pattern by the fused capsule.
    * String replace is non-overlapping left-to-right in BOTH engines
    * (verified: 'a a a a' under merge (a,a) → [a a][a a], exactly the
    * greedy BPE application rule), and the control-char delimiters make
    * cross-token false matches impossible (corpus text is printable).
    * Fused tokens rejoin with ' ', so a merged token IS its surface
    * form — human-readable vocab rows.
    *
    * Iteration discipline (q153/q163): the rewritten corpus is
    * `localCheckpoint`ed every round so lineage stays one round deep, and
    * each round's 1-row merge result is checkpointed too — the final
    * union re-runs nothing.
    *
    * DELTA PAIR COUNTING (VERDICT r16 #3 — the classic production
    * optimization this scaladoc previously only named): the full corpus
    * is pair-counted ONCE (round 1); every later round maintains the
    * count table incrementally. A merge of (A,B) can only change pair
    * counts inside documents whose sequence CONTAINS the two-capsule
    * pattern — for those docs the round subtracts their pre-rewrite pairs
    * and adds their post-rewrite pairs (doc-level delta: unaffected docs
    * contribute identical counts on both sides by construction, so the
    * maintained table is EXACTLY the recount — bit-identical argmax, n_occ
    * and pct, which the unchanged oracle plus [[bpeTrainRecount]]-parity
    * spec pin). Doc granularity, not merge-site granularity, because docs
    * are KB-bounded: positional site-splicing would save a constant
    * factor inside affected docs while adding an explode the shuffle no
    * longer dominates. Per round the full corpus is scanned once (the
    * mark+rewrite pass, checkpointed and reused by both delta branches);
    * the pair-explode shuffle — the dominant term of the recount form's
    * 32× cold build — shrinks from ALL docs to the merge-hit subset,
    * which collapses as merges get rarer. At 100 TB this is the
    * difference between 2N corpus scans and N+1, with the count table
    * (distinct-pair-bounded) as the only carried state. A round with no
    * pairs left stops the loop early (tiny-corpus guard; the unrolled
    * oracle assumes ≥ rounds merges exist, which any real corpus
    * satisfies). */
  def bpeTrain(docs: DataFrame, rounds: Int = BpeTrainRounds): DataFrame = {
    val SOT = BpeSot; val EOT = BpeEot
    def pairsOf(frame: DataFrame): DataFrame = frame
      .select(split(expr("substring(seq, 2, length(seq) - 2)"), EOT + SOT).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS p1, toks[i] AS p2))"))
        .as("p"))
      .select(col("p.p1").as("p1"), col("p.p2").as("p2"))
    var corpus = docs
      .select(col("doc_id"),
        concat(lit(SOT), replace(col("text"), lit(" "), lit(EOT + SOT)), lit(EOT))
          .as("seq"))
      .localCheckpoint()
    // the ONE full count; later rounds maintain it by delta
    var counts = pairsOf(corpus)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_occ"))
      .localCheckpoint()
    val merges = Seq.newBuilder[DataFrame]
    var exhausted = false
    (1 to rounds).foreach { r =>
      if (!exhausted) {
        val best = counts.orderBy(col("n_occ").desc, col("p1"), col("p2")).limit(1)
        val total = counts.agg(sum(col("n_occ")).cast("long").as("total_pairs"))
        val merge = best.crossJoin(broadcast(total))
          .select(lit(r).as("step"), col("p1"), col("p2"), col("n_occ"),
            (round(col("n_occ").cast("double") / col("total_pairs"), 6) + lit(0.0))
              .as("pct"))
          .localCheckpoint()
        if (merge.isEmpty) exhausted = true
        else {
          merges += merge
          if (r < rounds) {
            val pat = concat(lit(SOT), col("p1"), lit(EOT), lit(SOT), col("p2"), lit(EOT))
            // ONE corpus pass marks merge-site docs and rewrites them;
            // checkpointed so the two delta branches re-read, not re-scan
            val marked = corpus
              .crossJoin(broadcast(best.select(col("p1"), col("p2"))))
              .select(col("doc_id"), col("seq"), contains(col("seq"), pat).as("hit"),
                when(contains(col("seq"), pat),
                  replace(col("seq"), pat,
                    concat(lit(SOT), col("p1"), lit(" "), col("p2"), lit(EOT))))
                  .otherwise(col("seq")).as("new_seq"))
              .localCheckpoint()
            val hitDocs = marked.filter(col("hit"))
            val delta = pairsOf(hitDocs.select(col("new_seq").as("seq")))
              .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("d"))
              .unionAll(pairsOf(hitDocs.select(col("seq")))
                .groupBy(col("p1"), col("p2")).agg((-count(lit(1))).as("d")))
            counts = counts.select(col("p1"), col("p2"), col("n_occ").as("d"))
              .unionAll(delta)
              .groupBy(col("p1"), col("p2"))
              .agg(sum(col("d")).cast("long").as("n_occ"))
              .filter(col("n_occ") > 0)
              .localCheckpoint()
            corpus = marked.select(col("doc_id"), col("new_seq").as("seq"))
          }
        }
      }
    }
    finishMerges(docs, merges.result())
  }

  /** The honest full-recount form of [[bpeTrain]] — two corpus scans per
    * round, no carried state. Kept as the delta form's parity reference
    * (the spec asserts bit-identical merge tables on planted and real
    * corpora) and the A/B baseline for the 32× probe. */
  def bpeTrainRecount(docs: DataFrame,
                      rounds: Int = BpeTrainRounds): DataFrame = {
    val SOT = BpeSot; val EOT = BpeEot
    var corpus = docs
      .select(col("doc_id"),
        concat(lit(SOT), replace(col("text"), lit(" "), lit(EOT + SOT)), lit(EOT))
          .as("seq"))
      .localCheckpoint()
    val merges = Seq.newBuilder[DataFrame]
    var exhausted = false
    (1 to rounds).foreach { r =>
      if (!exhausted) {
        val pairCounts = corpus
          .select(split(expr("substring(seq, 2, length(seq) - 2)"), EOT + SOT).as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS p1, toks[i] AS p2))"))
            .as("p"))
          .select(col("p.p1").as("p1"), col("p.p2").as("p2"))
          .groupBy(col("p1"), col("p2"))
          .agg(count(lit(1)).as("n_occ"))
          .persist()
        val best = pairCounts
          .orderBy(col("n_occ").desc, col("p1"), col("p2"))
          .limit(1)
        val total = pairCounts.agg(sum(col("n_occ")).cast("long").as("total_pairs"))
        val merge = best.crossJoin(broadcast(total))
          .select(lit(r).as("step"), col("p1"), col("p2"), col("n_occ"),
            (round(col("n_occ").cast("double") / col("total_pairs"), 6) + lit(0.0))
              .as("pct"))
          .localCheckpoint()
        if (merge.isEmpty) exhausted = true
        else {
          merges += merge
          if (r < rounds)
            corpus = corpus.crossJoin(broadcast(best.select(col("p1"), col("p2"))))
              .select(col("doc_id"),
                replace(col("seq"),
                  concat(lit(SOT), col("p1"), lit(EOT), lit(SOT), col("p2"), lit(EOT)),
                  concat(lit(SOT), col("p1"), lit(" "), col("p2"), lit(EOT))).as("seq"))
              .localCheckpoint()
        }
        pairCounts.unpersist()
      }
    }
    finishMerges(docs, merges.result())
  }

  /** Union of per-round merge rows, ordered by step. A corpus that
    * realizes no merge at all (every doc a single token or empty) yields
    * an EMPTY merge table, not a reduce-on-Nil throw (ADVICE r16). */
  private def finishMerges(docs: DataFrame, ms: Seq[DataFrame]): DataFrame =
    ms match {
      case Nil =>
        val spark = docs.sparkSession
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(
            StructField("step", IntegerType, nullable = false),
            StructField("p1", StringType), StructField("p2", StringType),
            StructField("n_occ", LongType), StructField("pct", DoubleType))))
      case _ => ms.reduce(_.unionAll(_)).orderBy(col("step"))
    }

  /** The oracle-checked adapter, MATERIALIZED once per corpus snapshot
    * (the r15 NB-model/codebook pattern — VERDICT r14 #1/#2): a tokenizer
    * vocabulary is a train-once artifact, so the merge table is a
    * snapshot-keyed [[Materialize]] parquet — consumers (and warm bench
    * passes) read the vocab table; the 10-round training loop runs once
    * per snapshot per process (cold mode pays it honestly). */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val snap = Materialize.snapshot(s"$dir/documents.parquet")
    val d = Materialize.parquetDir(s"bpe-merges:$dir@$snap", "graft-bpe-merges-") {
      bpeTrain(docsTable(spark, dir))
    }
    spark.read.parquet(d).orderBy(col("step"))
  }

  /** q205 — BPE tokenizer APPLICATION (q203's consumer, closing the
    * train→apply loop): encode a corpus with a trained merge table and
    * report per-language token counts before/after plus the compression
    * ratio — the "how much does this vocab actually buy" readout a
    * tokenizer rollout reads. The merge table PIVOTS to one wide row
    * (step k → p1_k/p2_k columns) that broadcasts; application is then a
    * FOLD of the merges, in training order, over each doc's capsule
    * string — ten chained codegen'd `replace`s in ONE projection, so the
    * whole encode is a single map-side scan with zero shuffles before
    * the (lang) aggregate. This is exactly how production tokenizers
    * deploy: vocab broadcast to every worker, corpus encoded in one
    * pass. Applying the trainer's own merges to its training corpus
    * reproduces the training loop's final rewritten corpus (greedy
    * left-to-right replace per round = the BPE application rule), which
    * is what the unrolled oracle pins. Fewer realized merges than
    * `rounds` (early-stopped trainer) no-op via the null guard. */
  /** Merge table pivoted to ONE wide broadcastable row: step k →
    * `${px}p1_k`/`${px}p2_k`. The prefix lets two vocabs coexist in one
    * row (the q211 rollout A/B). */
  private def mergeWide(merges: DataFrame, rounds: Int, px: String = ""): DataFrame = {
    val wideCols = (1 to rounds).flatMap(k => Seq(
      max(when(col("step") === k, col("p1"))).as(s"${px}p1_$k"),
      max(when(col("step") === k, col("p2"))).as(s"${px}p2_$k")))
    merges.groupBy().agg(wideCols.head, wideCols.tail: _*)
  }

  /** The encode fold over a capsule string against a [[mergeWide]] row.
    * Each fold level must reference the accumulated expression exactly
    * ONCE: a when(null, s).otherwise(replace(s, …)) guard doubles the
    * child per level — a 2^rounds expression tree that cost q205 9 s at
    * sf0.1 (caught by the r16 gate bench). The null guard instead rides
    * the PATTERN: a missing merge coalesces to the NUL sentinel, which
    * never occurs in a capsule string, so its replace is a no-op. */
  private def applyMerges(seq0: org.apache.spark.sql.Column, rounds: Int,
                          px: String = ""): org.apache.spark.sql.Column =
    (1 to rounds).foldLeft(seq0) { (s, k) =>
      replace(s,
        coalesce(concat(lit(BpeSot), col(s"${px}p1_$k"), lit(BpeEot),
          lit(BpeSot), col(s"${px}p2_$k"), lit(BpeEot)), lit("\u0000")),
        coalesce(concat(lit(BpeSot), col(s"${px}p1_$k"), lit(" "),
          col(s"${px}p2_$k"), lit(BpeEot)), lit("")))
    }

  def bpeApply(docs: DataFrame, merges: DataFrame,
               rounds: Int = BpeTrainRounds): DataFrame = {
    val SOT = BpeSot; val EOT = BpeEot
    val wide = mergeWide(merges, rounds)
    val seq0 = concat(lit(SOT), replace(col("text"), lit(" "), lit(EOT + SOT)), lit(EOT))
    docs.crossJoin(broadcast(wide))
      .withColumn("seq", applyMerges(seq0, rounds))
      .select(col("lang"),
        size(split(col("text"), " ")).as("before"),
        size(split(expr("substring(seq, 2, length(seq) - 2)"), EOT + SOT)).as("after"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("before")).cast("long").as("tok_before"),
        sum(col("after")).cast("long").as("tok_after"),
        (round(sum(col("after")).cast("double") / sum(col("before")), 6) + lit(0.0))
          .as("compression"))
      .orderBy(col("lang"))
  }

  def bpeApply(spark: SparkSession, dir: String): DataFrame =
    bpeApply(docsTable(spark, dir), bpeTrain(spark, dir))

  /** Per-doc token count under a trained merge table — the q205 encode
    * fold read per document instead of per language: the broadcast wide
    * merge row + the chained-replace fold in one map-side projection,
    * `n_tok` = the ENCODED token count. The tokenizer-true billing unit
    * the q223 curation export packs by (a pack budget is a TRAINER
    * budget — sequence positions — so billing it in whitespace tokens
    * over-fills every pack by the vocab's compression ratio). */
  def bpeTokenCounts(docs: DataFrame, merges: DataFrame,
                     rounds: Int = BpeTrainRounds): DataFrame = {
    val wide = mergeWide(merges, rounds)
    val seq0 = concat(lit(BpeSot),
      replace(col("text"), lit(" "), lit(BpeEot + BpeSot)), lit(BpeEot))
    docs.crossJoin(broadcast(wide))
      .withColumn("seq", applyMerges(seq0, rounds))
      .select(col("doc_id"),
        size(split(expr("substring(seq, 2, length(seq) - 2)"),
          BpeEot + BpeSot)).as("n_tok"))
  }

  /** q211 — VOCAB ROLLOUT A/B (the readout q209's governance diff gates
    * on): encode the SAME corpus with the outgoing and incoming vocab
    * generations in ONE map-side pass — both merge tables pivot into one
    * broadcast row ([[mergeWide]] prefixes keep them apart) and the two
    * [[applyMerges]] folds run in the same projection, so the A/B costs
    * one corpus scan, not two — and report per language what the new
    * vocab BUYS: token counts and compression under each generation plus
    * how many documents' encodings changed at all (the blast radius of
    * q209's `rank_moved`/`added` rows — rank moves only matter if some
    * document actually encodes differently). This is the evidence row a
    * tokenizer rollout review reads next to the q209 diff: zero joins
    * beyond the 1-row broadcast, aggregate map-side-combined on lang. */
  def bpeRolloutAb(docs: DataFrame, mergesOld: DataFrame, mergesNew: DataFrame,
                   rounds: Int = BpeTrainRounds): DataFrame = {
    val SOT = BpeSot; val EOT = BpeEot
    val wide = mergeWide(mergesOld, rounds, "o_")
      .crossJoin(mergeWide(mergesNew, rounds, "n_"))
    val seq0 = concat(lit(SOT), replace(col("text"), lit(" "), lit(EOT + SOT)), lit(EOT))
    docs.crossJoin(broadcast(wide))
      .withColumn("seq_old", applyMerges(seq0, rounds, "o_"))
      .withColumn("seq_new", applyMerges(seq0, rounds, "n_"))
      .select(col("lang"),
        size(split(col("text"), " ")).as("before"),
        size(split(expr("substring(seq_old, 2, length(seq_old) - 2)"), EOT + SOT))
          .as("t_old"),
        size(split(expr("substring(seq_new, 2, length(seq_new) - 2)"), EOT + SOT))
          .as("t_new"),
        (col("seq_old") =!= col("seq_new")).as("changed"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("before")).cast("long").as("tok_before"),
        sum(col("t_old")).cast("long").as("tok_old"),
        sum(col("t_new")).cast("long").as("tok_new"),
        (round(sum(col("t_old")).cast("double") / sum(col("before")), 6) + lit(0.0))
          .as("compression_old"),
        (round(sum(col("t_new")).cast("double") / sum(col("before")), 6) + lit(0.0))
          .as("compression_new"),
        sum(when(col("changed"), 1L).otherwise(0L)).as("docs_changed"))
      .orderBy(col("lang"))
  }

  /** The oracle-checked adapter: generations are q209's — gen 1 trained
    * on the pre-ingest 75 % slice, gen 2 on the full corpus (artifacts
    * shared with q209 through the same snapshot-keyed cache). */
  def bpeRolloutAb(spark: SparkSession, dir: String): DataFrame =
    bpeRolloutAb(docsTable(spark, dir),
      bpeMergesCached(spark, dir, "gen1of4", _.filter(col("doc_id") % 4 =!= 3)),
      bpeTrain(spark, dir))

  /** q213 — VOCAB-AWARE PACKING A/B (q211's compression delta turned into
    * the number that bills: TRAINING SEQUENCES): per-doc token counts
    * under each vocab generation feed the q168 packing rule verbatim —
    * per-shard exclusive-prefix-tokens div budget, a window over the
    * shard key only (never a global cumsum) — and the readout is packs
    * under the old vs new vocab per shard, i.e. how many fixed-budget
    * sequences the rollout saves. ONE corpus scan computes both encodes
    * (the q211 broadcast-row trick); ONE shuffle on shard computes both
    * running sums in the same WindowExec. */
  def packVocabAb(docs: DataFrame, mergesOld: DataFrame, mergesNew: DataFrame,
                  rounds: Int = BpeTrainRounds, budget: Int = 2048,
                  shards: Int = 8): DataFrame = {
    val SOT = BpeSot; val EOT = BpeEot
    val wide = mergeWide(mergesOld, rounds, "o_")
      .crossJoin(mergeWide(mergesNew, rounds, "n_"))
    val seq0 = concat(lit(SOT), replace(col("text"), lit(" "), lit(EOT + SOT)), lit(EOT))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.crossJoin(broadcast(wide))
      .withColumn("seq_old", applyMerges(seq0, rounds, "o_"))
      .withColumn("seq_new", applyMerges(seq0, rounds, "n_"))
      .select(col("doc_id"), (col("doc_id") % shards).as("shard"),
        size(split(expr("substring(seq_old, 2, length(seq_old) - 2)"), EOT + SOT))
          .as("t_old"),
        size(split(expr("substring(seq_new, 2, length(seq_new) - 2)"), EOT + SOT))
          .as("t_new"))
      .withColumn("prefix_old", sum(col("t_old")).over(w) - col("t_old"))
      .withColumn("prefix_new", sum(col("t_new")).over(w) - col("t_new"))
      .select(col("shard"), col("t_old"), col("t_new"),
        expr(s"prefix_old div $budget").as("pack_old"),
        expr(s"prefix_new div $budget").as("pack_new"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t_old")).cast("long").as("tok_old"),
        sum(col("t_new")).cast("long").as("tok_new"),
        (max(col("pack_old")) + 1).as("packs_old"),
        (max(col("pack_new")) + 1).as("packs_new"),
        (max(col("pack_old")) - max(col("pack_new"))).as("packs_saved"))
      .orderBy(col("shard"))
  }

  def packVocabAb(spark: SparkSession, dir: String): DataFrame =
    packVocabAb(docsTable(spark, dir),
      bpeMergesCached(spark, dir, "gen1of4", _.filter(col("doc_id") % 4 =!= 3)),
      bpeTrain(spark, dir))

  /** The trained-and-materialized merge table for an arbitrary corpus
    * slice — [[bpeTrain]]'s snapshot pattern keyed by a slice tag, shared
    * by q206 (parity halves) and q207 (25 % sample vs full). */
  private def bpeMergesCached(spark: SparkSession, dir: String, tag: String,
                              slice: DataFrame => DataFrame): DataFrame = {
    val snap = Materialize.snapshot(s"$dir/documents.parquet")
    val d = Materialize.parquetDir(s"bpe-merges-$tag:$dir@$snap",
      s"graft-bpe-$tag-") {
      bpeTrain(slice(docsTable(spark, dir)))
    }
    spark.read.parquet(d)
  }

  /** q206 — BPE VOCABULARY DRIFT between two corpus slices (the
    * tokenizer-drift readout q200's novelty curve triggers): train the
    * same N-round BPE on the doc-parity halves and diff the merge
    * tables — per merged pair, its rank in each half, whether it exists
    * in both ('both'/'only_a'/'only_b'), and the rank displacement. This
    * is the "did the ingest shift what the tokenizer would learn?"
    * answer — rank-stable merges mean the deployed vocab still fits the
    * corpus; one-sided merges are the drift. Both trainings materialize
    * once per snapshot; the diff itself is a full outer join of two
    * ≤N-row tables — driver-free, broadcast-trivial. */
  def bpeDrift(mergesA: DataFrame, mergesB: DataFrame, rounds: Int = BpeTrainRounds): DataFrame = {
    val a = mergesA.select(col("step").as("step_a"), col("p1"), col("p2"))
    val b = mergesB.select(col("step").as("step_b"), col("p1"), col("p2"))
    a.join(b, Seq("p1", "p2"), "full_outer")
      .select(col("p1"), col("p2"), col("step_a"), col("step_b"),
        when(col("step_a").isNull, "only_b")
          .when(col("step_b").isNull, "only_a")
          .otherwise("both").as("status"),
        (col("step_b") - col("step_a")).as("displacement"))
      .orderBy(coalesce(col("step_a"), lit(rounds + 1)),
        coalesce(col("step_b"), lit(rounds + 1)), col("p1"), col("p2"))
  }

  def bpeDrift(spark: SparkSession, dir: String): DataFrame =
    bpeDrift(
      bpeMergesCached(spark, dir, "half0", _.filter(col("doc_id") % 2 === 0)),
      bpeMergesCached(spark, dir, "half1", _.filter(col("doc_id") % 2 === 1)))

  /** q207 — BPE SAMPLE-TRAINING AGREEMENT (the actual 100 TB training
    * path: nobody BPE-trains on the full corpus — you train on a
    * deterministic sample and need evidence the sampled vocab matches):
    * train on the 25 % doc_id-hash slice, join to the full-corpus merge
    * table ON STEP, and report per-rank exact agreement plus whether the
    * full merge appears ANYWHERE in the sampled vocab (rank-insensitive
    * membership — the weaker property that's usually all a tokenizer
    * needs). Trainings materialize per snapshot; the diff is an N-row
    * join. */
  def bpeSampleAgreement(mergesFull: DataFrame, mergesSample: DataFrame): DataFrame = {
    val f = mergesFull.select(col("step"), col("p1").as("p1_full"), col("p2").as("p2_full"))
    val s = mergesSample.select(col("step"), col("p1").as("p1_sample"), col("p2").as("p2_sample"))
    val inVocab = mergesSample.select(col("p1").as("p1_full"),
      col("p2").as("p2_full"), lit(true).as("in_vocab"))
    f.join(s, Seq("step"))
      .join(broadcast(inVocab), Seq("p1_full", "p2_full"), "left")
      .select(col("step"), col("p1_full"), col("p2_full"),
        col("p1_sample"), col("p2_sample"),
        (col("p1_full") === col("p1_sample") && col("p2_full") === col("p2_sample"))
          .as("exact_match"),
        coalesce(col("in_vocab"), lit(false)).as("in_sample_vocab"))
      .orderBy(col("step"))
  }

  def bpeSampleAgreement(spark: SparkSession, dir: String): DataFrame =
    bpeSampleAgreement(
      bpeTrain(spark, dir),
      bpeMergesCached(spark, dir, "sample4", _.filter(col("doc_id") % 4 === 0)))

  /** Generation-tagged vocab store — q185's hive-partition layout applied
    * to tokenizer artifacts (VERDICT r16 #2): each published merge table
    * lives under `gen=<N>/` in the vocab dir, so a deploy is an append of
    * a new generation and a rollback is nothing but reading an older one.
    * `gen` is the partition column; a reader pinned to gen-N prunes to
    * that one directory (spec-pinned, q185's `selectedPartitions` check)
    * and is byte-stable no matter how many later generations train —
    * published generations are immutable by contract (publish writes a
    * NEW gen dir; it never rewrites an existing one). */
  def bpeVocabPublish(vocabDir: String, gen: Int, merges: DataFrame): Unit = {
    // enforce the publish-once contract (ADVICE r17): mode("append") into
    // an EXISTING gen dir would silently double its rows, and
    // bpeVocabGen/mergeWide consumers would then mix two merge tables
    require(!graft.Tfs.of(vocabDir).exists(
      graft.Tfs.child(vocabDir, s"gen=$gen")),
      s"generation $gen already published in $vocabDir — " +
        "published generations are immutable (publish a new gen instead)")
    merges.withColumn("gen", lit(gen))
      .repartition(1) // a merge table is ≤rounds rows — one file per gen
      .write.mode("append").partitionBy("gen").parquet(vocabDir)
  }

  /** The merge table pinned to one generation: the `gen` filter is a
    * partition filter (one dir scanned), columns restored to the
    * [[bpeTrain]] shape so every existing consumer ([[bpeApply]],
    * [[bpeDrift]]) takes a pinned vocab unchanged. */
  def bpeVocabGen(spark: SparkSession, vocabDir: String, gen: Int): DataFrame =
    spark.read.parquet(vocabDir).filter(col("gen") === gen)
      .select(col("step"), col("p1"), col("p2"), col("n_occ"), col("pct"))

  /** Retention for the generation-tagged vocab store — the maintenance
    * op the governance family still lacked (the [[Pipeline.phraseIndexCompact]]
    * single-writer discipline applied to tokenizer artifacts): keep the
    * newest `keepLast` generations, delete the directories of older
    * ones, and return the purged generation numbers (empty = nothing to
    * reclaim — the idempotence witness). Deletion is per-generation-dir
    * (hive partition = one directory, `.crc` sidecars ride along in the
    * tree walk), so a concurrent pinned READER of a surviving generation
    * never observes a change — surviving dirs are untouched by
    * construction. Callers pin deployment to a surviving gen before
    * running retention, exactly like any warehouse snapshot-expiry. */
  def bpeVocabRetention(vocabDir: String, keepLast: Int): Seq[Int] = {
    import graft.Tfs
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = Tfs.of(vocabDir)
    val gens = fs.dirsWithPrefix(vocabDir, "gen=")
      .flatMap(p => Tfs.name(p).stripPrefix("gen=").toIntOption)
      .sorted
    val purge = gens.dropRight(keepLast)
    purge.foreach(g => fs.rmTree(Tfs.child(vocabDir, s"gen=$g")))
    purge
  }

  /** The generation diff — q179's snapshot-diff discipline applied to two
    * vocab generations: per merged pair, its rank (training step) in each
    * generation and the governance status a tokenizer deploy review
    * reads — `added` (new merge this generation), `removed` (trained out),
    * `rank_moved` (kept, priority changed — application ORDER changes, so
    * encodings can too), `stable` (kept at the same step). Both tables are
    * ≤rounds rows: the full-outer join is broadcast-trivial and the whole
    * diff is driver-free at any corpus scale because the inputs are the
    * ARTIFACTS, never the corpus. */
  def bpeVocabDiff(mergesOld: DataFrame, mergesNew: DataFrame,
                   rounds: Int = BpeTrainRounds): DataFrame = {
    val o = mergesOld.select(col("step").as("step_old"), col("p1"), col("p2"))
    val n = mergesNew.select(col("step").as("step_new"), col("p1"), col("p2"))
    o.join(n, Seq("p1", "p2"), "full_outer")
      .select(col("p1"), col("p2"), col("step_old"), col("step_new"),
        when(col("step_old").isNull, "added")
          .when(col("step_new").isNull, "removed")
          .when(col("step_old") =!= col("step_new"), "rank_moved")
          .otherwise("stable").as("status"),
        (col("step_new") - col("step_old")).as("displacement"))
      .orderBy(coalesce(col("step_old"), lit(rounds + 1)),
        coalesce(col("step_new"), lit(rounds + 1)), col("p1"), col("p2"))
  }

  /** q209 — BPE VOCAB VERSIONING/ROLLBACK (VERDICT r16 #2): materialize a
    * TWO-GENERATION vocab store — gen 1 trained on the corpus before the
    * last ingest batch (`doc_id % 4 <> 3`, 75 %), gen 2 on the full
    * corpus — in the generation-tagged layout, then read each generation
    * back THROUGH the store (partition-pruned) and diff them. The output
    * is the deploy review: which merges the new ingest added, removed,
    * or re-ranked. Trainings ride the per-snapshot materialization
    * registry (gen 1 shares q206/q207's slice cache pattern, gen 2 IS
    * q203's table), so warm consumers pay two ≤rounds-row parquet reads
    * and one tiny join. */
  /** The materialized THREE-generation store — a growing-corpus chain
    * (gen 1 = 50 % slice, gen 2 = pre-ingest 75 % slice, gen 3 = full
    * corpus; gen 1 ⊂ gen 2 ⊂ gen 3) shared by q209 and q215
    * (VERDICT r17 #5: the 2-gen store exercised churn only for the
    * latest pair, while `bpeVocabRetention` manages stores with many
    * generations). */
  private[graft] val VocabStoreGens = Seq(1, 2, 3)
  private def bpeVocabStoreDir(spark: SparkSession, dir: String): String = {
    val snap = Materialize.snapshot(s"$dir/documents.parquet")
    val key = s"bpe-vocab-gens3:$dir@$snap"
    // the generations are Materialize entries too, built (on the cold
    // path only) from inside this store's build
    Materialize.parquetDir(key, "graft-bpe-vocab-", partitionCols = Seq("gen")) {
      bpeMergesCached(spark, dir, "gen01of4", _.filter(col("doc_id") % 4 < 2))
        .withColumn("gen", lit(1))
        .unionAll(bpeMergesCached(spark, dir, "gen1of4", _.filter(col("doc_id") % 4 =!= 3))
          .withColumn("gen", lit(2)))
        .unionAll(bpeTrain(spark, dir).withColumn("gen", lit(3))) // q203's table
    }
  }

  def bpeVocabVersions(spark: SparkSession, dir: String): DataFrame = {
    val vocabDir = bpeVocabStoreDir(spark, dir)
    // the deploy review diffs the NEWEST pair: pre-ingest (gen 2) vs full
    // (gen 3) — the same two trainings q209 has always compared
    bpeVocabDiff(bpeVocabGen(spark, vocabDir, 2), bpeVocabGen(spark, vocabDir, 3))
  }

  /** q215 — VOCAB-STORE MANIFEST (the governance dashboard's index page):
    * one audit row per generation in the store — merge count, total
    * pair-mass share (pct summed in micro units: the q166/q199 integer
    * quantization, so the cross-engine double sum is order-free), and
    * rank churn vs the PREVIOUS generation (merges NOT present at the
    * same step — added or re-ranked; null for the first generation).
    * Generalized over the whole generation CHAIN (VERDICT r17 #5 — one
    * consecutive-pair diff per generation, so a store
    * `bpeVocabRetention` manages reads as N audit rows, not just the
    * newest pair), gated at [[VocabStoreGens]] = 3 generations for
    * oracle cost. Every input is a ≤rounds-row artifact read; the
    * corpus is never touched warm, and each pairwise diff is a
    * broadcast-trivial join of two ≤rounds-row tables at any corpus
    * scale. */
  def bpeVocabManifest(spark: SparkSession, dir: String): DataFrame = {
    val vocabDir = bpeVocabStoreDir(spark, dir)
    // ONE scan of the whole store + one gen-shifted self-join: the plan
    // is CONSTANT in the number of generations (a per-gen loop of
    // reads/joins/unions grew linearly and tripled q215's latency when
    // the store went from 2 to 3 gens), and every input is a
    // ≤gens×rounds-row artifact — broadcast-trivial at any corpus scale
    val store = spark.read.parquet(vocabDir)
      .select(col("gen").cast("int").as("gen"), col("step"),
        col("p1"), col("p2"), col("pct"))
    val mass = store.groupBy(col("gen")).agg(
      count(lit(1)).as("n_merges"),
      (round(sum(round(col("pct") * 1000000).cast("long")).cast("double")
        / 1000000, 6) + lit(0.0)).as("pct_mass"))
    val prevShifted = store
      .select((col("gen") + 1).as("gen"), col("step"), col("p1"), col("p2"))
      .withColumn("hit", lit(1))
    val churn = store
      .join(broadcast(prevShifted), Seq("gen", "p1", "p2", "step"), "left_outer")
      .groupBy(col("gen"))
      .agg(sum(when(col("hit").isNull, 1L).otherwise(0L)).as("churn_raw"))
    mass.join(churn, Seq("gen"))
      .select(col("gen"), col("n_merges"), col("pct_mass"),
        when(col("gen") === lit(VocabStoreGens.head),
          lit(null).cast("long")).otherwise(col("churn_raw")).as("churn_vs_prev"))
      .orderBy(col("gen"))
  }

  private val PiiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PiiPhoneRe = "\\b555-\\d{4}\\b"
  private val PiiCardRe = "\\b\\d{13,19}\\b"

  /** Luhn mod-10 checksum over a digit string as a pure higher-order
    * fold — no UDF: from the RIGHT, double every second digit, subtract 9
    * when the double exceeds 9, valid iff the sum ≡ 0 (mod 10). The same
    * arithmetic spelled with DuckDB's list_transform/list_sum in the
    * oracle, so the validity bits agree bit-for-bit. */
  private def luhnValid(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val total = aggregate(sequence(lit(1), length(c)), lit(0), (acc, i) => {
      val d = ascii(c.substr(i, lit(1))) - lit(48)
      acc + when(((length(c) - i) % 2) === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    total % 10 === 0
  }

  /** q204 — PII DETECTION + REDACTION gate (the hygiene pass every real
    * corpus runs next to q112's quality funnel): per language, counts of
    * detected emails, IPv4s, phone numbers and card-shaped digit runs
    * (with the Luhn-VALID subset broken out — card-shaped ≠ card number),
    * the redaction size delta, and a deterministic signature (min md5) of
    * the redacted corpus — the audit row a privacy review reads, plus
    * proof the scrub actually rewrote the text. Detection is pure regex
    * on classes where Java and RE2 agree (character classes, bounded
    * repetition, \b — no lookaround); card validity is the [[luhnValid]]
    * fold. Redaction replaces email → card → IP → phone (patterns are
    * mutually non-overlapping once emails are gone). Single narrow scan,
    * per-row O(len) regex work, ZERO joins — one map-side-combined (lang)
    * aggregate plus the presentation sort (plan-pinned). */
  /** The per-doc detection/redaction frame — ONE rule, two consumers
    * (q47/q189 discipline): batch q204 aggregates it; the streaming
    * [[graft.streaming.StreamingPiiGate]] maps it over a doc stream
    * (stateless, so it streams as-is). Appends per-class counts, the
    * Luhn-valid subset, and the redacted text to the input columns. */
  private[graft] def piiPerDoc(docs: DataFrame): DataFrame = {
    val cards = regexp_extract_all(col("text"), lit(PiiCardRe), lit(0))
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(PiiEmailRe), lit(0))))
      .withColumn("n_ips",
        size(regexp_extract_all(col("text"), lit(PiiIpRe), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(col("text"), lit(PiiPhoneRe), lit(0))))
      .withColumn("n_cards", size(cards))
      .withColumn("n_luhn_valid", size(filter(cards, luhnValid _)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          col("text"),
          PiiEmailRe, "<EMAIL>"), PiiCardRe, "<CARDNUM>"),
          PiiIpRe, "<IP>"), PiiPhoneRe, "<PHONE>"))
  }

  def piiScrub(docs: DataFrame): DataFrame =
    piiPerDoc(docs)
      .select(col("lang"), col("n_emails").as("e"), col("n_ips").as("i"),
        col("n_phones").as("p"), col("n_cards").as("c"),
        col("n_luhn_valid").as("l"),
        (length(col("redacted")) - length(col("text"))).cast("long").as("delta"),
        md5(col("redacted")).as("sig"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("i") + col("p") + col("c") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("e")).cast("long").as("n_emails"),
        sum(col("i")).cast("long").as("n_ips"),
        sum(col("p")).cast("long").as("n_phones"),
        sum(col("c")).cast("long").as("n_cards"),
        sum(col("l")).cast("long").as("n_luhn_valid"),
        sum(col("delta")).as("chars_delta"),
        min(col("sig")).as("redacted_sig"))
      .orderBy(col("lang"))

  /** The oracle-checked adapter: the synthetic corpus carries no PII, so
    * the (spark, dir) form first INJECTS deterministic doc_id-derived PII
    * (emails on doc_id%3, IPv4 on %4, phones on %5, cards on %6 — three
    * public Luhn-valid test numbers and one invalid, rotating on %24) and
    * then runs the detector: every class exercised with nonzero,
    * data-dependent counts, bit-reproducible in both engines. The
    * planted-fixture spec drives [[piiScrub]] directly. */
  private[graft] def injectPii(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val email = when(d % 3 === 0, concat(lit(" reach user"), d.cast("string"),
      lit("@mail"), (d % 7).cast("string"), lit(".example.com now"))).otherwise("")
    val ip = when(d % 4 === 0, concat(lit(" from 10."), (d % 256).cast("string"),
      lit("."), (d % 100).cast("string"), lit("."), (d % 250).cast("string")))
      .otherwise("")
    val phone = when(d % 5 === 0, concat(lit(" call 555-"),
      lpad((d % 10000).cast("string"), 4, "0"))).otherwise("")
    val card = when(d % 6 === 0, concat(lit(" card "),
      when(d % 24 === 0, "4242424242424242")
        .when(d % 24 === 6, "4111111111111111")
        .when(d % 24 === 12, "378282246310005")
        .otherwise("4242424242424241"))).otherwise("")
    docs.withColumn("text", concat(col("text"), email, ip, phone, card))
  }

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrub(injectPii(docsTable(spark, dir)))

  /** IPv6 in the shared Java/RE2-safe dialect (no lookaround), RFC 5952
    * canonical lowercase, two DISJOINT alternatives — full 8-group and
    * single-`::`-compression with ≥1 trailing group. Disjointness matters
    * cross-engine: Java alternation is leftmost-FIRST, RE2 leftmost-
    * LONGEST; because a full-form address contains no `::` and a
    * compressed one cannot supply 7 single colons, at most one alternative
    * can match at any position and both engines agree exactly. Out of
    * dialect (documented): leading-`::` forms (`::1` — loopback, not PII)
    * and uppercase hex (non-canonical). A zone id (`%eth0`) is NOT part of
    * the address: the match ends at the last hex group (the trailing `\b`
    * holds before `%`), so redaction preserves the zone id — spec-pinned. */
  private val PiiIp6Re =
    "\\b(?:[0-9a-f]{1,4}:){7}[0-9a-f]{1,4}\\b|" +
      "\\b(?:[0-9a-f]{1,4}:){1,6}:[0-9a-f]{1,4}(?::[0-9a-f]{1,4}){0,5}\\b"

  /** IBAN-shaped run: country (2 letters) + check (2 digits) + 11–30
    * alphanumerics = 15–34 chars total. The `\b` pair makes a 35+-char
    * run a clean negative in BOTH engines: every shorter cut fails the
    * trailing boundary and every interior start fails the leading one. */
  private val PiiIbanRe = "\\b[A-Z]{2}\\d{2}[A-Z0-9]{11,30}\\b"

  /** ISO 13616 mod-97 check as a pure higher-order fold (the [[luhnValid]]
    * discipline — no UDF): move the first 4 chars to the end, map letters
    * A→10…Z→35, and stream the resulting digit string through
    * `acc → (acc·10^w + v) mod 97` (w = 1 for digits, 2 for letters) —
    * the standard piecewise mod that never materializes the big integer.
    * Valid iff the fold ends at 1. The identical fold runs in DuckDB via
    * `list_reduce` with a prepended 0 accumulator. */
  private def ibanValid(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val r = concat(c.substr(lit(5), length(c) - 4), c.substr(lit(1), lit(4)))
    val total = aggregate(sequence(lit(1), length(r)), lit(0), (acc, i) => {
      val a = ascii(r.substr(i, lit(1)))
      val isDigit = a >= 48 && a <= 57
      (acc * when(isDigit, 10).otherwise(100)
        + when(isDigit, a - 48).otherwise(a - 55)) % 97
    })
    total === 1
  }

  /** The extended per-doc detection/redaction frame (VERDICT r16 #5 —
    * q204's sibling classes): IPv6 addresses and IBAN-shaped runs with
    * the mod-97-VALID subset broken out (IBAN-shaped ≠ IBAN, the Luhn
    * lesson). The two patterns cannot overlap (IBAN is uppercase+digits,
    * IPv6 lowercase hex with colons), so the redaction chain order is
    * immaterial. Same contract as [[piiPerDoc]]: pure regex + fold, one
    * narrow scan, zero joins. */
  private[graft] def piiExtPerDoc(docs: DataFrame): DataFrame = {
    val ibans = regexp_extract_all(col("text"), lit(PiiIbanRe), lit(0))
    docs
      .withColumn("n_ip6",
        size(regexp_extract_all(col("text"), lit(PiiIp6Re), lit(0))))
      .withColumn("n_ibans", size(ibans))
      .withColumn("n_iban_valid", size(filter(ibans, ibanValid _)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("text"),
          PiiIbanRe, "<IBAN>"), PiiIp6Re, "<IP6>"))
  }

  /** q210 — EXTENDED PII gate: the q204 audit row for the IPv6 + IBAN
    * classes (per-lang counts, valid-IBAN subset, redaction delta, min-md5
    * corpus signature). Same zero-join single-scan plan shape as q204. */
  def piiScrubExtended(docs: DataFrame): DataFrame =
    piiExtPerDoc(docs)
      .select(col("lang"), col("n_ip6").as("i6"), col("n_ibans").as("ib"),
        col("n_iban_valid").as("iv"),
        (length(col("redacted")) - length(col("text"))).cast("long").as("delta"),
        md5(col("redacted")).as("sig"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("i6") + col("ib") > 0, 1L).otherwise(0L)).as("docs_with_pii"),
        sum(col("i6")).cast("long").as("n_ip6"),
        sum(col("ib")).cast("long").as("n_ibans"),
        sum(col("iv")).cast("long").as("n_iban_valid"),
        sum(col("delta")).as("chars_delta"),
        min(col("sig")).as("redacted_sig"))
      .orderBy(col("lang"))

  /** Deterministic doc_id-derived injection for the extended classes
    * (the [[injectPii]] trick): IPv6 on doc_id%7 — full form on %14,
    * compressed otherwise; IBAN-shaped on %8 — two public valid test
    * IBANs and one check-digit-broken invalid, rotating on %24. */
  private[graft] def injectPiiExt(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val ip6 = when(d % 7 === 0,
      when(d % 14 === 0, concat(lit(" at 2001:db8:85a3:"), (d % 10).cast("string"),
        lit(":8a2e:370:7334:"), (d % 10).cast("string")))
        .otherwise(concat(lit(" at fe80::"), (d % 10).cast("string"), lit(":1"))))
      .otherwise("")
    val iban = when(d % 8 === 0, concat(lit(" pay "),
      when(d % 24 === 0, "GB82WEST12345698765432")
        .when(d % 24 === 8, "DE89370400440532013000")
        .otherwise("GB82WEST12345698765431"))).otherwise("")
    docs.withColumn("text", concat(col("text"), ip6, iban))
  }

  def piiScrubExtended(spark: SparkSession, dir: String): DataFrame =
    piiScrubExtended(injectPiiExt(docsTable(spark, dir)))

  val queries: Map[String, QueryFn] = Map(
    "q46_text_stats" -> textStats _,
    "q47_text_langid" -> langId _,
    "q48_text_quality" -> qualityScore _,
    "q49_text_tokens" -> tokenCount _,
    "q50_text_fingerprint" -> fingerprint _,
    "q89_text_repetition" -> (repetition(_, _)),
    "q112_filter_funnel" -> (filterFunnel(_, _)),
    "q114_bpe_merge_candidates" -> (bpeMergeCandidates(_, _)),
    "q124_perplexity_buckets" -> (perplexityBuckets(_, _)),
    "q129_token_pmi" -> (tokenPmi(_, _)),
    "q166_nb_classifier" -> (nbLangClassifier(_, _)),
    "q172_classifier_auc" -> (classifierAuc(_, _)),
    "q174_chi2_features" -> (chiSquareFeatures(_, _)),
    "q177_bigram_lm" -> (bigramLm(_, _)),
    "q188_calibration" -> (calibrationTable(_, _)),
    "q189_kappa_agreement" -> (kappaAgreement(_, _)),
    "q196_kappa_by_segment" -> (kappaBySegment(_, _)),
    "q199_js_divergence" -> (jsDivergence(_, _)),
    "q200_vocab_novelty" -> (vocabNovelty(_, _)),
    "q203_bpe_train" -> (bpeTrain(_, _)),
    "q204_pii_scrub" -> (piiScrub(_, _)),
    "q205_bpe_apply" -> (bpeApply(_, _)),
    "q206_bpe_drift" -> (bpeDrift(_, _)),
    "q207_bpe_sample_agreement" -> (bpeSampleAgreement(_, _)),
    "q209_bpe_vocab_versions" -> (bpeVocabVersions(_, _)),
    "q210_pii_extended" -> (piiScrubExtended(_, _)),
    "q211_bpe_rollout_ab" -> (bpeRolloutAb(_, _)),
    "q213_pack_vocab_ab" -> (packVocabAb(_, _)),
    "q215_vocab_manifest" -> (bpeVocabManifest(_, _))
  )

  /** The unrolled-round oracle for [[bpeTrain]]: round k recounts pairs
    * from r(k−1), takes the argmax (count desc, pair asc) and rewrites —
    * the exact Spark loop spelled as chained CTEs. Pairs travel as
    * chr(3)-joined strings (fused tokens contain spaces, so ' ' can't
    * separate; chr(3) sorts below every printable char, so pair-string
    * grouping is unambiguous), and the argmax orders by the SPLIT (p1,
    * p2) columns — identical comparison keys to Spark's. MATERIALIZED
    * pins each round's corpus/count CTE to one evaluation (r/c are each
    * referenced twice; inlining would double work per round). */
  private def bpeTrainOracle(rounds: Int): String = {
    val union = (1 to rounds).map(k => s"SELECT * FROM m$k").mkString(" UNION ALL ")
    "WITH " + bpeChainCtes(rounds, withStats = true, rewriteLast = false) +
      "\nSELECT step, p1, p2, n_occ," +
      " round(CAST(n_occ AS DOUBLE) / total_pairs, 6) + 0.0 AS pct" +
      s"\nFROM ($union) ORDER BY step"
  }

  /** The q206 oracle: TWO unrolled chains (doc_id-parity halves) full-
    * outer-joined on the merged pair. */
  private def bpeDriftOracle(rounds: Int): String =
    "WITH " +
      bpeChainCtes(rounds, withStats = true, rewriteLast = false,
        px = "a_", where = " WHERE doc_id % 2 = 0") + ",\n" +
      bpeChainCtes(rounds, withStats = true, rewriteLast = false,
        px = "b_", where = " WHERE doc_id % 2 = 1") + ",\n" +
      bpeMergesCte(rounds, "a_") + ",\n" + bpeMergesCte(rounds, "b_") + s"""
SELECT coalesce(a.p1, b.p1) AS p1, coalesce(a.p2, b.p2) AS p2,
       a.step AS step_a, b.step AS step_b,
       CASE WHEN a.step IS NULL THEN 'only_b'
            WHEN b.step IS NULL THEN 'only_a' ELSE 'both' END AS status,
       b.step - a.step AS displacement
FROM a_merges a FULL OUTER JOIN b_merges b
  ON a.p1 = b.p1 AND a.p2 = b.p2
ORDER BY coalesce(a.step, $rounds + 1), coalesce(b.step, $rounds + 1), p1, p2"""

  /** The q209 oracle: gen-1 (`doc_id % 4 <> 3`) vs gen-2 (full) chains
    * full-outer-joined on the merged pair, with the governance status
    * labels. The store layout itself is spec-verified (pruning,
    * pinned-generation byte stability); the oracle pins the DIFF. */
  private def bpeVocabVersionsOracle(rounds: Int): String =
    "WITH " +
      bpeChainCtes(rounds, withStats = true, rewriteLast = false,
        px = "o_", where = " WHERE doc_id % 4 <> 3") + ",\n" +
      bpeChainCtes(rounds, withStats = true, rewriteLast = false) + ",\n" +
      bpeMergesCte(rounds, "o_") + ",\n" + bpeMergesCte(rounds, "") + s"""
SELECT coalesce(o.p1, n.p1) AS p1, coalesce(o.p2, n.p2) AS p2,
       o.step AS step_old, n.step AS step_new,
       CASE WHEN o.step IS NULL THEN 'added'
            WHEN n.step IS NULL THEN 'removed'
            WHEN o.step <> n.step THEN 'rank_moved' ELSE 'stable' END AS status,
       n.step - o.step AS displacement
FROM o_merges o FULL OUTER JOIN merges n
  ON o.p1 = n.p1 AND o.p2 = n.p2
ORDER BY coalesce(o.step, $rounds + 1), coalesce(n.step, $rounds + 1), p1, p2"""

  /** The q207 oracle: the full-corpus chain vs the 25 %-sample chain,
    * joined on STEP (rank agreement). */
  private def bpeSampleOracle(rounds: Int): String =
    "WITH " +
      bpeChainCtes(rounds, withStats = true, rewriteLast = false) + ",\n" +
      bpeChainCtes(rounds, withStats = true, rewriteLast = false,
        px = "s_", where = " WHERE doc_id % 4 = 0") + ",\n" +
      bpeMergesCte(rounds, "") + ",\n" + bpeMergesCte(rounds, "s_") + """
SELECT f.step, f.p1 AS p1_full, f.p2 AS p2_full,
       s.p1 AS p1_sample, s.p2 AS p2_sample,
       f.p1 = s.p1 AND f.p2 = s.p2 AS exact_match,
       EXISTS (SELECT 1 FROM s_merges x
               WHERE x.p1 = f.p1 AND x.p2 = f.p2) AS in_sample_vocab
FROM merges f JOIN s_merges s USING (step)
ORDER BY f.step"""

  /** The q205 oracle: the SAME unrolled chain, rewriting through the
    * final round — r(rounds) IS the fully-encoded corpus (greedy replace
    * per round = the BPE application rule), so the apply stats read off
    * it directly. */
  private def bpeApplyOracle(rounds: Int): String =
    "WITH " + bpeChainCtes(rounds, withStats = false, rewriteLast = true) + s"""
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS tok_before,
       CAST(sum(len(string_split(substring(r.seq, 2, length(r.seq) - 2),
         chr(2) || chr(1)))) AS BIGINT) AS tok_after,
       round(CAST(sum(len(string_split(substring(r.seq, 2, length(r.seq) - 2),
         chr(2) || chr(1)))) AS DOUBLE)
         / sum(len(string_split(d.text, ' '))), 6) + 0.0 AS compression
FROM r$rounds r JOIN documents d USING (doc_id) GROUP BY 1 ORDER BY 1"""

  /** Shared unrolled-round CTE chain BODY (no leading WITH — callers
    * compose, possibly two chains in one query): {px}r0 capsulizes the
    * (optionally filtered) corpus, each round counts pairs ({px}c),
    * argmaxes ({px}b), optionally emits the merge row ({px}m, with the
    * round's total pair mass) and rewrites ({px}r). */
  private[operators] def bpeChainCtes(rounds: Int, withStats: Boolean,
                           rewriteLast: Boolean, px: String = "",
                           where: String = ""): String = {
    val head =
      s"""${px}r0 AS MATERIALIZED (
         |  SELECT doc_id, chr(1) || replace(text, ' ', chr(2) || chr(1)) || chr(2) AS seq
         |  FROM documents$where)""".stripMargin
    val steps = (1 to rounds).map { k =>
      val stats =
        if (withStats)
          s""",
             |${px}m$k AS (SELECT $k AS step, p1, p2, n_occ,
             |  (SELECT CAST(sum(n_occ) AS BIGINT) FROM ${px}c$k) AS total_pairs FROM ${px}b$k)""".stripMargin
        else ""
      val rewrite =
        if (k < rounds || rewriteLast)
          s""",
             |${px}r$k AS MATERIALIZED (
             |  SELECT doc_id, replace(seq, chr(1) || b.p1 || chr(2) || chr(1) || b.p2 || chr(2),
             |                         chr(1) || b.p1 || ' ' || b.p2 || chr(2)) AS seq
             |  FROM ${px}r${k - 1}, ${px}b$k b)""".stripMargin
        else ""
      s"""${px}c$k AS MATERIALIZED (
         |  SELECT split_part(pair, chr(3), 1) AS p1, split_part(pair, chr(3), 2) AS p2,
         |         CAST(count(*) AS BIGINT) AS n_occ
         |  FROM (SELECT unnest(list_transform(range(2, len(toks) + 1),
         |                 i -> toks[i-1] || chr(3) || toks[i])) AS pair
         |        FROM (SELECT string_split(substring(seq, 2, length(seq) - 2),
         |                       chr(2) || chr(1)) AS toks FROM ${px}r${k - 1})
         |        WHERE len(toks) >= 2)
         |  GROUP BY 1, 2),
         |${px}b$k AS MATERIALIZED (SELECT p1, p2, n_occ FROM ${px}c$k
         |  ORDER BY n_occ DESC, p1, p2 LIMIT 1)""".stripMargin + stats + rewrite
    }
    (head +: steps).mkString(",\n")
  }

  /** Apply-chain CTEs: encode the FULL corpus with ANOTHER chain's
    * merges — `${outPx}k` is the corpus after applying merge k of chain
    * `${mergePx}` (the q211 cross-generation encode; same replace rule
    * as the training rewrite, which is the BPE application rule). */
  private def bpeApplyCtes(rounds: Int, mergePx: String, outPx: String): String = {
    val head =
      s"""${outPx}0 AS MATERIALIZED (
         |  SELECT doc_id, chr(1) || replace(text, ' ', chr(2) || chr(1)) || chr(2) AS seq
         |  FROM documents)""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""${outPx}$k AS MATERIALIZED (
         |  SELECT doc_id, replace(seq, chr(1) || b.p1 || chr(2) || chr(1) || b.p2 || chr(2),
         |                         chr(1) || b.p1 || ' ' || b.p2 || chr(2)) AS seq
         |  FROM ${outPx}${k - 1}, ${mergePx}b$k b)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** The q211 oracle: gen-1 chain (75 % slice) supplies merges that an
    * apply chain runs over the FULL corpus; gen-2's encode IS the full
    * chain rewritten through its last round (the q205 rule). */
  private def bpeRolloutAbOracle(rounds: Int): String = {
    val tokOld = s"len(string_split(substring(a.seq, 2, length(a.seq) - 2), chr(2) || chr(1)))"
    val tokNew = s"len(string_split(substring(r.seq, 2, length(r.seq) - 2), chr(2) || chr(1)))"
    "WITH " +
      bpeChainCtes(rounds, withStats = false, rewriteLast = false,
        px = "o_", where = " WHERE doc_id % 4 <> 3") + ",\n" +
      bpeChainCtes(rounds, withStats = false, rewriteLast = true) + ",\n" +
      bpeApplyCtes(rounds, "o_", "ao") + s"""
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS tok_before,
  CAST(sum($tokOld) AS BIGINT) AS tok_old,
  CAST(sum($tokNew) AS BIGINT) AS tok_new,
  round(CAST(sum($tokOld) AS DOUBLE) / sum(len(string_split(d.text, ' '))), 6) + 0.0 AS compression_old,
  round(CAST(sum($tokNew) AS DOUBLE) / sum(len(string_split(d.text, ' '))), 6) + 0.0 AS compression_new,
  CAST(sum(CASE WHEN a.seq <> r.seq THEN 1 ELSE 0 END) AS BIGINT) AS docs_changed
FROM documents d JOIN ao$rounds a USING (doc_id) JOIN r$rounds r USING (doc_id)
GROUP BY 1 ORDER BY 1"""
  }

  /** The q213 oracle: the same two encodes (apply chain + full chain's
    * final rewrite) run through the q168 packing rule — per-shard
    * exclusive-prefix div budget — as window functions. */
  private def packVocabAbOracle(rounds: Int, budget: Int = 2048,
                                shards: Int = 8): String =
    "WITH " +
      bpeChainCtes(rounds, withStats = false, rewriteLast = false,
        px = "o_", where = " WHERE doc_id % 4 <> 3") + ",\n" +
      bpeChainCtes(rounds, withStats = false, rewriteLast = true) + ",\n" +
      bpeApplyCtes(rounds, "o_", "ao") + s""",
tok AS (
  SELECT d.doc_id, d.doc_id % $shards AS shard,
    len(string_split(substring(a.seq, 2, length(a.seq) - 2), chr(2) || chr(1))) AS t_old,
    len(string_split(substring(r.seq, 2, length(r.seq) - 2), chr(2) || chr(1))) AS t_new
  FROM documents d JOIN ao$rounds a USING (doc_id) JOIN r$rounds r USING (doc_id)),
pk AS (
  SELECT shard, t_old, t_new,
    (sum(t_old) OVER (PARTITION BY shard ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t_old) // $budget AS pack_old,
    (sum(t_new) OVER (PARTITION BY shard ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t_new) // $budget AS pack_new
  FROM tok)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(t_old) AS BIGINT) AS tok_old, CAST(sum(t_new) AS BIGINT) AS tok_new,
  CAST(max(pack_old) + 1 AS BIGINT) AS packs_old,
  CAST(max(pack_new) + 1 AS BIGINT) AS packs_new,
  CAST(max(pack_old) - max(pack_new) AS BIGINT) AS packs_saved
FROM pk GROUP BY 1 ORDER BY 1"""

  /** The merge list WITH pct of a chain as one UNION CTE `${px}pcts`. */
  private def bpeMergesPctCte(rounds: Int, px: String): String =
    s"${px}pcts AS (" +
      (1 to rounds).map(k =>
        s"SELECT step, p1, p2, round(CAST(n_occ AS DOUBLE) / total_pairs, 6) + 0.0 AS pct FROM ${px}m$k")
        .mkString(" UNION ALL ") + ")"

  /** The q215 oracle: all three chains' per-merge pct rows aggregated to
    * one audit row per generation (gen 1 = 50 % slice `a_`, gen 2 = 75 %
    * slice `o_`, gen 3 = full); pct mass summed in micro units (integer
    * sum, order-free); churn = the generation's merges with no same-step
    * twin in its PREDECESSOR — one consecutive-pair diff per generation
    * (VERDICT r17 #5). */
  private def bpeVocabManifestOracle(rounds: Int): String =
    "WITH " +
      bpeChainCtes(rounds, withStats = true, rewriteLast = false,
        px = "a_", where = " WHERE doc_id % 4 < 2") + ",\n" +
      bpeChainCtes(rounds, withStats = true, rewriteLast = false,
        px = "o_", where = " WHERE doc_id % 4 <> 3") + ",\n" +
      bpeChainCtes(rounds, withStats = true, rewriteLast = false) + ",\n" +
      bpeMergesPctCte(rounds, "a_") + ",\n" +
      bpeMergesPctCte(rounds, "o_") + ",\n" + bpeMergesPctCte(rounds, "") + """
SELECT * FROM (
SELECT 1 AS gen, CAST(count(*) AS BIGINT) AS n_merges,
  round(CAST(sum(CAST(round(pct * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) + 0.0 AS pct_mass,
  CAST(NULL AS BIGINT) AS churn_vs_prev
FROM a_pcts
UNION ALL
SELECT 2 AS gen, CAST(count(*) AS BIGINT) AS n_merges,
  round(CAST(sum(CAST(round(pct * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) + 0.0 AS pct_mass,
  (SELECT CAST(count(*) AS BIGINT) FROM o_pcts n
   WHERE NOT EXISTS (SELECT 1 FROM a_pcts o
     WHERE o.p1 = n.p1 AND o.p2 = n.p2 AND o.step = n.step)) AS churn_vs_prev
FROM o_pcts
UNION ALL
SELECT 3 AS gen, CAST(count(*) AS BIGINT) AS n_merges,
  round(CAST(sum(CAST(round(pct * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 6) + 0.0 AS pct_mass,
  (SELECT CAST(count(*) AS BIGINT) FROM pcts n
   WHERE NOT EXISTS (SELECT 1 FROM o_pcts o
     WHERE o.p1 = n.p1 AND o.p2 = n.p2 AND o.step = n.step)) AS churn_vs_prev
FROM pcts) ORDER BY gen"""

  /** The merge LIST of a chain as one UNION CTE named `${px}merges`. */
  private def bpeMergesCte(rounds: Int, px: String): String =
    s"${px}merges AS (" +
      (1 to rounds).map(k => s"SELECT step, p1, p2 FROM ${px}m$k")
        .mkString(" UNION ALL ") + ")"

  /** The shared NB-model oracle chain — q166's trained classifier,
    * consumed verbatim by the q189/q196/q188/q172 oracles (review
    * catch: five hand-maintained copies had to stay bit-identical;
    * the engine side already serves all five from one scoring
    * artifact). CTEs tok -> tk -> train/test -> cnt/tot/vocab ->
    * dtrain/dall -> stats -> model -> sums, ending in
    * `sums(doc_id, lang, model_lang, tok_q)` and
    * `stats(model_lang, dflt_q, prior_q)`. */
  private val nbModelCtes: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tk AS (SELECT * FROM tok WHERE tok <> ''),
      |train AS (SELECT * FROM tk WHERE doc_id % 5 <> 0),
      |test  AS (SELECT * FROM tk WHERE doc_id % 5 = 0),
      |cnt AS (SELECT lang AS model_lang, tok, count(*) AS c FROM train GROUP BY 1, 2),
      |tot AS (SELECT lang AS model_lang, count(*) AS tot FROM train GROUP BY 1),
      |vocab AS (SELECT count(DISTINCT tok) AS v FROM train),
      |dtrain AS (SELECT lang, count(*) AS nd FROM documents
      |           WHERE doc_id % 5 <> 0 GROUP BY 1),
      |dall AS (SELECT count(*) AS ndall FROM documents WHERE doc_id % 5 <> 0),
      |stats AS (
      |  SELECT t.model_lang,
      |         CAST(round(ln(1.0 / (t.tot + vocab.v)) * 1000000) AS BIGINT) AS dflt_q,
      |         CAST(round(ln(CAST(d.nd AS DOUBLE) / dall.ndall) * 1000000) AS BIGINT) AS prior_q
      |  FROM tot t JOIN dtrain d ON d.lang = t.model_lang
      |  CROSS JOIN vocab CROSS JOIN dall),
      |model AS (
      |  SELECT c.model_lang, c.tok,
      |         CAST(round(ln((c.c + 1.0) / (t.tot + vocab.v)) * 1000000) AS BIGINT) AS ll_q
      |  FROM cnt c JOIN tot t USING (model_lang) CROSS JOIN vocab),
      |sums AS (
      |  SELECT te.doc_id, te.lang, s.model_lang,
      |         sum(coalesce(m.ll_q, s.dflt_q)) AS tok_q
      |  FROM test te CROSS JOIN (SELECT model_lang, dflt_q FROM stats) s
      |  LEFT JOIN model m ON m.model_lang = s.model_lang AND m.tok = te.tok
      |  GROUP BY 1, 2, 3)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // N unrolled CTE rounds (the q163 discipline) — see bpeTrainOracle
    "q203_bpe_train" -> bpeTrainOracle(BpeTrainRounds),
    // same chain rewritten through the last round; r10 = encoded corpus
    "q205_bpe_apply" -> bpeApplyOracle(BpeTrainRounds),
    // two chains (parity halves) full-outer-joined on the merged pair
    "q206_bpe_drift" -> bpeDriftOracle(BpeTrainRounds),
    // full vs 25%-sample chains joined on step (rank agreement)
    "q207_bpe_sample_agreement" -> bpeSampleOracle(BpeTrainRounds),
    // gen-1 (75% slice) vs gen-2 (full) chains, governance status labels
    "q209_bpe_vocab_versions" -> bpeVocabVersionsOracle(BpeTrainRounds),
    // gen-1 merges applied to the full corpus vs the full chain's own
    // final rewrite — one-scan A/B readout
    "q211_bpe_rollout_ab" -> bpeRolloutAbOracle(BpeTrainRounds),
    // the two encodes through the q168 packing rule (per-shard windows)
    "q213_pack_vocab_ab" -> packVocabAbOracle(BpeTrainRounds),
    // per-generation audit off both chains' pct rows; micro-unit sums
    "q215_vocab_manifest" -> bpeVocabManifestOracle(BpeTrainRounds),
    // detection mirrors the Spark regexes verbatim (shared Java/RE2
    // subset); DuckDB regexp_replace needs the explicit 'g' flag to match
    // Spark's replace-all; Luhn is the identical fold in list form
    "q204_pii_scrub" ->
      """WITH inj AS (
        |  SELECT lang, doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR)
        |         || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |         || '.' || CAST(doc_id % 100 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 6 = 0 THEN ' card ' || CASE doc_id % 24
        |         WHEN 0 THEN '4242424242424242' WHEN 6 THEN '4111111111111111'
        |         WHEN 12 THEN '378282246310005' ELSE '4242424242424241' END ELSE '' END AS text
        |  FROM documents),
        |per AS (
        |  SELECT lang, text,
        |    len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS e,
        |    len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS i,
        |    len(regexp_extract_all(text, '\b555-\d{4}\b')) AS p,
        |    regexp_extract_all(text, '\b\d{13,19}\b') AS cards,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{13,19}\b', '<CARDNUM>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b555-\d{4}\b', '<PHONE>', 'g') AS redacted
        |  FROM inj),
        |per2 AS (
        |  SELECT lang, e, i, p, len(cards) AS c,
        |    len(list_filter(cards, c -> list_sum(list_transform(range(1, length(c) + 1),
        |      j -> CASE WHEN (length(c) - j) % 2 = 1
        |                THEN CASE WHEN 2 * (ascii(substring(c, j, 1)) - 48) > 9
        |                          THEN 2 * (ascii(substring(c, j, 1)) - 48) - 9
        |                          ELSE 2 * (ascii(substring(c, j, 1)) - 48) END
        |                ELSE ascii(substring(c, j, 1)) - 48 END)) % 10 = 0)) AS l,
        |    length(redacted) - length(text) AS delta, redacted
        |  FROM per)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN e + i + p + c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        |  CAST(sum(e) AS BIGINT) AS n_emails, CAST(sum(i) AS BIGINT) AS n_ips,
        |  CAST(sum(p) AS BIGINT) AS n_phones, CAST(sum(c) AS BIGINT) AS n_cards,
        |  CAST(sum(l) AS BIGINT) AS n_luhn_valid,
        |  CAST(sum(delta) AS BIGINT) AS chars_delta,
        |  min(md5(redacted)) AS redacted_sig
        |FROM per2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // extended classes mirror the Spark regexes verbatim (disjoint-
    // alternative IPv6 keeps Java leftmost-first == RE2 leftmost-longest);
    // mod-97 is the identical piecewise fold via list_reduce with a
    // prepended 0 accumulator
    "q210_pii_extended" ->
      """WITH inj AS (
        |  SELECT lang, doc_id, text
        |    || CASE WHEN doc_id % 7 = 0 THEN CASE WHEN doc_id % 14 = 0
        |         THEN ' at 2001:db8:85a3:' || CAST(doc_id % 10 AS VARCHAR)
        |           || ':8a2e:370:7334:' || CAST(doc_id % 10 AS VARCHAR)
        |         ELSE ' at fe80::' || CAST(doc_id % 10 AS VARCHAR) || ':1' END ELSE '' END
        |    || CASE WHEN doc_id % 8 = 0 THEN ' pay ' || CASE doc_id % 24
        |         WHEN 0 THEN 'GB82WEST12345698765432'
        |         WHEN 8 THEN 'DE89370400440532013000'
        |         ELSE 'GB82WEST12345698765431' END ELSE '' END AS text
        |  FROM documents),
        |per AS (
        |  SELECT lang, text,
        |    len(regexp_extract_all(text,
        |      '\b(?:[0-9a-f]{1,4}:){7}[0-9a-f]{1,4}\b|\b(?:[0-9a-f]{1,4}:){1,6}:[0-9a-f]{1,4}(?::[0-9a-f]{1,4}){0,5}\b')) AS i6,
        |    regexp_extract_all(text, '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b') AS ibans,
        |    regexp_replace(regexp_replace(text,
        |      '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b', '<IBAN>', 'g'),
        |      '\b(?:[0-9a-f]{1,4}:){7}[0-9a-f]{1,4}\b|\b(?:[0-9a-f]{1,4}:){1,6}:[0-9a-f]{1,4}(?::[0-9a-f]{1,4}){0,5}\b',
        |      '<IP6>', 'g') AS redacted
        |  FROM inj),
        |per2 AS (
        |  SELECT lang, i6, len(ibans) AS ib,
        |    len(list_filter(ibans, s -> list_reduce(
        |      list_prepend(0, list_transform(
        |        range(1, length(substring(s, 5) || substring(s, 1, 4)) + 1),
        |        j -> CASE WHEN ascii(substring(substring(s, 5) || substring(s, 1, 4), j, 1)) BETWEEN 48 AND 57
        |                  THEN ascii(substring(substring(s, 5) || substring(s, 1, 4), j, 1)) - 48
        |                  ELSE ascii(substring(substring(s, 5) || substring(s, 1, 4), j, 1)) - 55 + 100 END)),
        |      (acc, v) -> CASE WHEN v >= 100 THEN (acc * 100 + v - 100) % 97
        |                       ELSE (acc * 10 + v) % 97 END) = 1)) AS iv,
        |    length(redacted) - length(text) AS delta, redacted
        |  FROM per)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN i6 + ib > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        |  CAST(sum(i6) AS BIGINT) AS n_ip6, CAST(sum(ib) AS BIGINT) AS n_ibans,
        |  CAST(sum(iv) AS BIGINT) AS n_iban_valid,
        |  CAST(sum(delta) AS BIGINT) AS chars_delta,
        |  min(md5(redacted)) AS redacted_sig
        |FROM per2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // each token's log term is ONE identical double expression quantized
    // to micro-nat BIGINTs; both KL sums are integer sums (q166 rule)
    "q199_js_divergence" ->
      """WITH t AS (
        |  SELECT lang, doc_id % 2 = 0 AS in_a, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (
        |  SELECT lang, tok,
        |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
        |  FROM t WHERE tok <> '' GROUP BY 1, 2),
        |tot AS (
        |  SELECT lang, CAST(sum(a) AS BIGINT) AS atot,
        |         CAST(sum(b) AS BIGINT) AS btot,
        |         CAST(count(*) AS BIGINT) AS n_types
        |  FROM cnt GROUP BY 1 HAVING sum(a) > 0 AND sum(b) > 0),
        |q AS (
        |  SELECT cnt.lang,
        |         CASE WHEN a > 0 THEN a * CAST(round(ln(2.0 / (1.0
        |           + (CAST(b AS DOUBLE) / a) * (CAST(atot AS DOUBLE) / btot)))
        |           * 1000000) AS BIGINT) ELSE 0 END AS klp_q,
        |         CASE WHEN b > 0 THEN b * CAST(round(ln(2.0 / (1.0
        |           + (CAST(a AS DOUBLE) / b) * (CAST(btot AS DOUBLE) / atot)))
        |           * 1000000) AS BIGINT) ELSE 0 END AS klq_q,
        |         atot, btot, n_types
        |  FROM cnt JOIN tot ON cnt.lang = tot.lang)
        |SELECT lang, min(n_types) AS n_types, min(atot) AS tok_a,
        |       min(btot) AS tok_b,
        |       round((CAST(sum(klp_q) AS DOUBLE) / 1000000 / min(atot)
        |              + CAST(sum(klq_q) AS DOUBLE) / 1000000 / min(btot)) / 2, 6)
        |         + 0.0 AS jsd
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    // first-seen = min(batch) per token; the cumulative window rides the
    // batch-grain aggregate
    "q200_vocab_novelty" ->
      """WITH pres AS (
        |  SELECT DISTINCT doc_id // 50 AS batch,
        |         unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |p AS (SELECT * FROM pres WHERE tok <> ''),
        |fs AS (SELECT tok, min(batch) AS first_batch FROM p GROUP BY 1),
        |pb AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_types FROM p GROUP BY 1),
        |nw AS (SELECT first_batch AS batch, CAST(count(*) AS BIGINT) AS n_new
        |       FROM fs GROUP BY 1),
        |j AS (
        |  SELECT pb.batch, pb.n_types, COALESCE(nw.n_new, 0) AS n_new
        |  FROM pb LEFT JOIN nw ON pb.batch = nw.batch)
        |SELECT batch, n_types, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY batch
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cum_vocab,
        |       round(CAST(n_new AS DOUBLE) / n_types, 6) + 0.0 AS novelty_share
        |FROM j ORDER BY 1""".stripMargin,
    "q46_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       round(avg(n_chars), 4) AS avg_chars,
        |       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q47_text_langid" ->
      """WITH sc AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text,' '), t -> t IN ('the','a','data'))) AS s_en,
        |    len(list_filter(string_split(text,' '), t -> t IN ('row','value','table'))) AS s_es,
        |    len(list_filter(string_split(text,' '), t -> t IN ('query','join','window'))) AS s_zh
        |  FROM documents)
        |SELECT lang,
        |       CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
        |            WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS predicted,
        |       count(*) AS n
        |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q48_text_quality" ->
      """WITH q AS (
        |  SELECT doc_id, len(toks) AS n_tok,
        |         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |           / len(toks) AS avg_len,
        |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |s AS (SELECT doc_id, n_tok, avg_len, uniq_ratio,
        |        0.4 * least(1.0, n_tok / 100.0) +
        |        0.3 * least(1.0, avg_len / 8.0) +
        |        0.3 * uniq_ratio AS quality
        |      FROM q)
        |SELECT CAST(n_tok AS INT) AS n_tok, doc_id, round(avg_len, 4) AS avg_len,
        |       round(uniq_ratio, 6) AS uniq_ratio, round(quality, 6) AS quality
        |FROM s ORDER BY quality DESC, doc_id LIMIT 20""".stripMargin,
    "q49_text_tokens" ->
      """SELECT lang,
        |       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
        |         AS regex_tokens,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |       round(avg(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 4)
        |         AS avg_regex_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q50_text_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text)-6), i -> substr(text, i, 8)) AS grams
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |       list_min(list_transform(grams, g -> md5(g))) AS fp,
        |       list_min(list_transform(grams, g -> md5('w:' || g))) AS fp_salted,
        |       CAST(len(list_distinct(grams)) AS INT) AS n_distinct_grams
        |FROM g ORDER BY doc_id""".stripMargin,
    "q89_text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        list_transform(range(1, len(toks)-1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        |      FROM t WHERE len(toks) >= 3)
        |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams,
        |       round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
        |         AS rep_ratio
        |FROM s ORDER BY rep_ratio DESC, doc_id LIMIT 50""".stripMargin,
    "q112_filter_funnel" ->
      """WITH f AS (SELECT lang, n_chars,
        |    length(text) AS lt,
        |    len(string_split(text, ' ')) AS nt,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS al,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS st
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN n_chars < 120 THEN 'too_short'
        |       WHEN al * 100 < lt * 81 THEN 'low_alpha'
        |       WHEN st * 100 < nt * 3 THEN 'low_stopword'
        |       WHEN (lt - nt + 1) * 20 > nt * 96 THEN 'long_words'
        |       ELSE 'kept' END AS reason,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // range(2, len+1) with 1-based lists ≡ Spark's sequence(1, size-1)
    // with 0-based arrays: both emit pairs (1,2)..(len-1,len)
    "q114_bpe_merge_candidates" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT unnest(list_transform(range(2, len(toks) + 1),
        |         i -> toks[i-1] || ' ' || toks[i])) AS pair
        |      FROM t WHERE len(toks) >= 2),
        |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_occ
        |      FROM p GROUP BY 1 ORDER BY n_occ DESC, pair LIMIT 30),
        |tot AS (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT)
        |          AS total_pairs FROM t),
        |r AS (SELECT pair, n_occ,
        |        CAST(row_number() OVER (ORDER BY n_occ DESC, pair) AS INT)
        |          AS "rank",
        |        CAST(sum(n_occ) OVER (ORDER BY n_occ DESC, pair
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS cum
        |      FROM c)
        |SELECT "rank", pair, n_occ,
        |       round(n_occ / total_pairs, 6) AS pct,
        |       round(cum / total_pairs, 6) AS cum_pct
        |FROM r CROSS JOIN tot ORDER BY "rank"""".stripMargin,
    "q124_perplexity_buckets" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |tot AS (SELECT sum(c) AS n_total, count(*) AS v_size FROM cnt),
        |lm AS (SELECT tok,
        |         CAST(round(-log2((c + 1) / (n_total + v_size)) * 1000000)
        |           AS BIGINT) AS s_ppm
        |       FROM cnt CROSS JOIN tot),
        |sc AS (
        |  SELECT tk.doc_id, tk.lang, count(*) AS n_tokens,
        |         sum(lm.s_ppm) AS sum_ppm
        |  FROM tk JOIN lm USING (tok) GROUP BY 1, 2),
        |pp AS (
        |  SELECT doc_id, lang, n_tokens,
        |         round(CAST(sum_ppm AS DOUBLE) / n_tokens / 1000000, 6) AS ppl_bits
        |  FROM sc),
        |t AS (
        |  SELECT doc_id, lang, n_tokens, ppl_bits,
        |         ntile(3) OVER (PARTITION BY lang ORDER BY ppl_bits, doc_id) AS tert
        |  FROM pp)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, ppl_bits,
        |       CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM t ORDER BY doc_id""".stripMargin,
    // the oracle takes the naive tok×tok self-join on doc_id; the Spark
    // side generates pairs per-row from sorted pruned arrays (see scaladoc)
    "q129_token_pmi" ->
      """WITH dt AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |dfc AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs FROM documents),
        |band AS (SELECT tok, df FROM dfc CROSS JOIN tot
        |         WHERE df >= 5 AND df <= n_docs * 0.85),
        |ft AS (SELECT doc_id, dt.tok FROM dt JOIN band USING (tok)),
        |p AS (SELECT x.tok AS a, y.tok AS b FROM ft x JOIN ft y
        |      ON x.doc_id = y.doc_id AND x.tok < y.tok),
        |c AS (SELECT a, b, count(*) AS c_ab FROM p GROUP BY 1, 2
        |      HAVING count(*) >= 5),
        |j AS (SELECT a, b, c_ab, da.df AS c_a, db.df AS c_b,
        |        round(log2(CAST(c_ab AS DOUBLE) * n_docs / (da.df * db.df)), 6)
        |          AS pmi
        |      FROM c JOIN band da ON da.tok = c.a
        |      JOIN band db ON db.tok = c.b CROSS JOIN tot)
        |SELECT a, b, c_ab, c_a, c_b, pmi FROM j
        |ORDER BY pmi DESC, a, b LIMIT 30""".stripMargin,
    // same fixed-point NB model: integer micro-nat scores make the argmax
    // order-independent, so both engines agree bit-for-bit
    "q166_nb_classifier" ->
      s"""$nbModelCtes,
        |pred AS (
        |  SELECT doc_id, lang, model_lang,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY su.tok_q + st.prior_q DESC, model_lang) AS rn
        |  FROM sums su JOIN stats st USING (model_lang))
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN model_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_correct,
        |       round(CAST(sum(CASE WHEN model_lang = lang THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 4) + 0.0 AS accuracy
        |FROM pred WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q189's chain grouped by the TRUE label; a segment with pe = 1 emits
    // kappa NULL (undefined), identically in both engines
    "q196_kappa_by_segment" ->
      s"""$nbModelCtes,
        |nbp AS (
        |  SELECT doc_id, lang, model_lang AS pred_a FROM (
        |    SELECT doc_id, lang, model_lang,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY su.tok_q + st.prior_q DESC, model_lang) AS rn
        |    FROM sums su JOIN stats st USING (model_lang))
        |  WHERE rn = 1),
        |heur AS (
        |  SELECT doc_id,
        |    CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
        |         WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS pred_b
        |  FROM (
        |    SELECT doc_id,
        |      len(list_filter(string_split(text,' '), t -> t IN ('the','a','data'))) AS s_en,
        |      len(list_filter(string_split(text,' '), t -> t IN ('row','value','table'))) AS s_es,
        |      len(list_filter(string_split(text,' '), t -> t IN ('query','join','window'))) AS s_zh
        |    FROM documents WHERE doc_id % 5 = 0)),
        |conf AS (
        |  SELECT lang, pred_a, pred_b, count(*) AS n
        |  FROM nbp JOIN heur USING (doc_id) GROUP BY 1, 2, 3),
        |t2 AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs,
        |              CAST(sum(CASE WHEN pred_a = pred_b THEN n ELSE 0 END)
        |                AS BIGINT) AS n_agree
        |       FROM conf GROUP BY 1),
        |pe AS (
        |  SELECT lang, CAST(coalesce(sum(r.row_n * c.col_n), 0) AS BIGINT) AS pe_num
        |  FROM (SELECT lang, pred_a AS l, sum(n) AS row_n FROM conf GROUP BY 1, 2) r
        |  JOIN (SELECT lang, pred_b AS l, sum(n) AS col_n FROM conf GROUP BY 1, 2) c
        |    USING (lang, l)
        |  GROUP BY lang)
        |SELECT lang, n_docs, n_agree,
        |       round(CAST(n_agree AS DOUBLE) / n_docs, 6) + 0.0 AS po,
        |       round(CAST(pe_num AS DOUBLE) / (n_docs * n_docs), 6) + 0.0 AS pe,
        |       CASE WHEN n_docs * n_docs > pe_num THEN
        |         round(CAST(n_agree * n_docs - pe_num AS DOUBLE)
        |               / (n_docs * n_docs - pe_num), 6) + 0.0 END AS kappa
        |FROM t2 JOIN pe USING (lang)
        |ORDER BY lang""".stripMargin,
    // q166's model chain to per-doc NB predictions, q47's heuristic rule
    // per doc, then Cohen's kappa as one division of integer
    // cross-products: (n_agree*N - pe_num) / (N^2 - pe_num)
    "q189_kappa_agreement" ->
      s"""$nbModelCtes,
        |nbp AS (
        |  SELECT doc_id, model_lang AS nb_pred FROM (
        |    SELECT doc_id, model_lang,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY su.tok_q + st.prior_q DESC, model_lang) AS rn
        |    FROM sums su JOIN stats st USING (model_lang))
        |  WHERE rn = 1),
        |heur AS (
        |  SELECT doc_id,
        |    CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
        |         WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS heur_pred
        |  FROM (
        |    SELECT doc_id,
        |      len(list_filter(string_split(text,' '), t -> t IN ('the','a','data'))) AS s_en,
        |      len(list_filter(string_split(text,' '), t -> t IN ('row','value','table'))) AS s_es,
        |      len(list_filter(string_split(text,' '), t -> t IN ('query','join','window'))) AS s_zh
        |    FROM documents WHERE doc_id % 5 = 0)),
        |conf AS (
        |  SELECT nb_pred, heur_pred, count(*) AS n
        |  FROM nbp JOIN heur USING (doc_id) GROUP BY 1, 2),
        |t2 AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |              CAST(sum(CASE WHEN nb_pred = heur_pred THEN n ELSE 0 END)
        |                AS BIGINT) AS n_agree
        |       FROM conf),
        |pe AS (
        |  SELECT CAST(coalesce(sum(r.row_n * c.col_n), 0) AS BIGINT) AS pe_num
        |  FROM (SELECT nb_pred AS l, sum(n) AS row_n FROM conf GROUP BY 1) r
        |  JOIN (SELECT heur_pred AS l, sum(n) AS col_n FROM conf GROUP BY 1) c
        |    USING (l))
        |SELECT n_docs, n_agree,
        |       round(CAST(n_agree AS DOUBLE) / n_docs, 6) + 0.0 AS po,
        |       round(CAST(pe_num AS DOUBLE) / (n_docs * n_docs), 6) + 0.0 AS pe,
        |       CASE WHEN n_docs * n_docs > pe_num THEN
        |         round(CAST(n_agree * n_docs - pe_num AS DOUBLE)
        |               / (n_docs * n_docs - pe_num), 6) + 0.0 END AS kappa
        |FROM t2 CROSS JOIN pe""".stripMargin,
    // q166's model chain, then Mann-Whitney with integer midranks
    // (2*rank + |tie| - 1); one final double division
    "q188_calibration" ->
      s"""$nbModelCtes,
        |sc AS (
        |  SELECT su.doc_id, su.lang, su.model_lang,
        |         su.tok_q + st.prior_q AS score,
        |         row_number() OVER (PARTITION BY su.doc_id
        |           ORDER BY su.tok_q + st.prior_q DESC, su.model_lang) AS rn
        |  FROM sums su JOIN stats st USING (model_lang)),
        |per AS (
        |  SELECT doc_id, lang,
        |         max(CASE WHEN rn = 1 THEN model_lang END) AS predicted,
        |         CAST(max(CASE WHEN rn = 1 THEN score END)
        |              - max(CASE WHEN rn = 2 THEN score END) AS BIGINT) AS margin
        |  FROM sc WHERE rn <= 2 GROUP BY 1, 2),
        |b AS (SELECT *, CAST(ntile(5) OVER (ORDER BY margin, doc_id) AS INT)
        |               AS bucket FROM per)
        |SELECT bucket, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_correct,
        |       min(margin) AS margin_lo, max(margin) AS margin_hi,
        |       round(CAST(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END)
        |               AS DOUBLE) / count(*), 6) + 0.0 AS accuracy
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q172_classifier_auc" ->
      s"""$nbModelCtes,
        |sc AS (
        |  SELECT CASE WHEN su.lang = 'en' THEN 1 ELSE 0 END AS y,
        |         su.tok_q + st.prior_q AS score
        |  FROM sums su JOIN stats st USING (model_lang)
        |  WHERE model_lang = 'en'),
        |rk AS (
        |  SELECT y, 2 * rank() OVER (ORDER BY score)
        |            + count(*) OVER (PARTITION BY score) - 1 AS r2
        |  FROM sc)
        |SELECT CAST(sum(y) AS BIGINT) AS n_pos,
        |       CAST(sum(1 - y) AS BIGINT) AS n_neg,
        |       round((CAST(sum(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS DOUBLE) / 2
        |              - CAST(sum(y) AS DOUBLE) * (sum(y) + 1) / 2)
        |             / (sum(y) * sum(1 - y)), 6) + 0.0 AS auc
        |FROM rk""".stripMargin,
    // identical 2x2 integer cells; chi-square mirrors the Spark
    // expression's operation order exactly (one rounding per IEEE op)
    "q174_chi2_features" ->
      """WITH pres AS (
        |  SELECT DISTINCT lang, doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id % 5 <> 0),
        |a AS (SELECT lang, tok, count(*) AS a FROM pres
        |      WHERE tok <> '' GROUP BY 1, 2),
        |t AS (SELECT tok, sum(a) AS t FROM a GROUP BY 1),
        |langs AS (SELECT lang, count(*) AS ldocs FROM documents
        |          WHERE doc_id % 5 <> 0 GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents WHERE doc_id % 5 <> 0),
        |cells AS (
        |  SELECT a.lang, a.tok, a.a, langs.ldocs - a.a AS b, t.t - a.a AS c,
        |         n.n - langs.ldocs - (t.t - a.a) AS d, langs.ldocs, n.n
        |  FROM a JOIN t USING (tok) JOIN langs USING (lang) CROSS JOIN n),
        |scored AS (
        |  SELECT lang, tok, a AS docs_with,
        |         CASE WHEN (b + d) = 0 OR (c + d) = 0 THEN 0.0
        |              ELSE round(CAST(n AS DOUBLE) * pow(a * d - b * c, 2)
        |                   / (CAST(ldocs AS DOUBLE) * (c + d) * (a + c) * (b + d)), 4)
        |                   + 0.0 END AS chi2
        |  FROM cells),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY chi2 DESC, tok) AS INT) AS rnk FROM scored)
        |SELECT lang, tok, docs_with, chi2, rnk FROM ranked
        |WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin,
    // same smoothed transitions; micro-nat sums stay integer until the
    // one final division
    "q177_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |bgl AS (
        |  SELECT doc_id, lang,
        |         unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
        |  FROM t WHERE len(w) >= 2),
        |bgw AS (SELECT doc_id, lang, bg, split_part(bg, ' ', 1) AS w1 FROM bgl),
        |train AS (SELECT * FROM bgw WHERE doc_id % 5 <> 0),
        |test  AS (SELECT * FROM bgw WHERE doc_id % 5 = 0),
        |c2 AS (SELECT bg, count(*) AS c2 FROM train GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM train GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT tok) AS v FROM (
        |  SELECT w1 AS tok FROM train
        |  UNION ALL SELECT split_part(bg, ' ', 2) FROM train)),
        |sc AS (
        |  SELECT te.doc_id, te.lang,
        |         CAST(round(ln((coalesce(c2.c2, 0) + 1.0)
        |                       / (coalesce(c1.c1, 0) + vocab.v)) * 1000000) AS BIGINT)
        |           AS ll_q
        |  FROM test te LEFT JOIN c2 USING (bg) LEFT JOIN c1 USING (w1)
        |  CROSS JOIN vocab)
        |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       count(*) AS n_bigrams,
        |       round(-CAST(sum(ll_q) AS DOUBLE) / 1000000 / count(*), 6) + 0.0
        |         AS avg_nll
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
  )
}

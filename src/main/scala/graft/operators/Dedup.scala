package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication battery for LLM training-data pipelines over `documents`
  * (BASELINE north-star): exact hash dedup, MinHash signatures, MinHash-LSH
  * banded candidate pairs verified by exact n-gram Jaccard, and SimHash.
  *
  * All hashing is md5/sha2 — bit-identical across engines — so every stage
  * is DuckDB-oracle checkable. MinHash uses k salted min-md5s over token
  * 3-gram shingles (`min(md5(salt:shingle))` is a valid minwise hash family;
  * string order on hex digests = order on the 128-bit hash values).
  *
  * Scale notes (the 100 TB story):
  *   - exact dedup is one hash shuffle on `sha2(text)` — the canonical
  *     dedup shape; no skew (hashes uniform);
  *   - near-dup NEVER does all-pairs: signatures are computed per-row
  *     (narrow), candidates come from equi-joins on band keys (shuffle on
  *     band hash, uniform), and the expensive exact-Jaccard verify runs only
  *     on the candidate set — the textbook LSH contract;
  *   - SimHash is explode → per-(doc,bit) partial aggregates → one shuffle
  *     keyed on doc_id; 60 fixed counters per doc, no row-proportional
  *     state.
  */
object Dedup extends QueryModule {

  /** Every operator here has two forms: a GENERIC one over any corpus
    * DataFrame with canonical columns `doc_id` (long) and `text` (string)
    * — `df.select(col(myId).as("doc_id"), col(myText).as("text"))` adapts
    * any schema — and a `(spark, dir)` adapter over the driver's
    * `documents` table that backs the oracle-checked query entries. */

  /** doc_id, shingles (token 3-grams, with duplicates). Shingling is the
    * native codegen'd [[graft.functions.TokenShingles]] expression — the
    * interpreted `transform(sequence, λ)` pipeline it replaced cost ~4 s of
    * CPU at sf0.1 (measured round 4), which was most of the dedup family's
    * runtime. Docs with <3 tokens yield an empty array and are filtered,
    * matching the oracle's `WHERE len(toks) >= 3`. */
  private def shingled(docs: DataFrame): DataFrame =
    docs
      .withColumn("sh", graft.functions.TextExpressions.tokenShingles(col("text"), 3))
      .filter(size(col("sh")) > 0)

  private def docsTable(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  // Universal-hash MinHash family: one 32-bit base hash per shingle (md5
  // prefix), then k linear transforms h_i(v) = (a_i·v + b_i) mod p with
  // p prime > 2^32 — the textbook minwise family, 1 md5 instead of k, and
  // pure 63-bit-safe integer arithmetic (bit-identical in any engine).
  // Since round 4 the whole signature is ONE codegen'd expression
  // ([[graft.functions.MinHashSig]]): one md5 per shingle feeding all k
  // transforms in a fused loop — the interpreted `transform(sh, λ)` HOF it
  // replaced recomputed the md5 for every hash function and evaluated the
  // lambda per element.
  private val HashP = 4294967311L // smallest prime > 2^32
  private val HashA = Seq(1926525167L, 688951733L, 1223106847L, 582307621L)
  private val HashB = Seq(12345L, 67890L, 24680L, 13579L)

  private def minhashCols: Seq[Column] =
    (0 until 4).map(i => col("mh").getItem(i).as(s"mh$i"))

  /** All input columns + `band`, one row per (doc, LSH band): the two r=2
    * minhash band keys. The band id rides in the key — band0 only ever
    * matches band0 (the banding rule), mirrored exactly in q79's oracle
    * melted UNION. Shared by batch [[incrementalDedup]] and the streaming
    * [[graft.streaming.StreamingDedup]] signature table so both sides of a
    * corpus build compute bit-identical candidate keys. Docs too short to
    * shingle (<3 tokens) produce no band rows. */
  private[graft] def bandRows(docs: DataFrame): DataFrame =
    shingled(docs)
      .withColumn("mh",
        graft.functions.TextExpressions.minhashSig(col("sh"), HashA, HashB, HashP))
      .withColumn("band", explode(array(
        concat(lit("0:"), md5(concat(col("mh").getItem(0).cast("string"), lit(":"),
          col("mh").getItem(1).cast("string")))),
        concat(lit("1:"), md5(concat(col("mh").getItem(2).cast("string"), lit(":"),
          col("mh").getItem(3).cast("string")))))))
      .drop("sh", "mh")

  /** doc_id + 4 minhash components. */
  private def signatures(docs: DataFrame): DataFrame =
    shingled(docs)
      .select(col("doc_id"),
        graft.functions.TextExpressions.minhashSig(col("sh"), HashA, HashB, HashP).as("mh"))
      .select(col("doc_id") +: minhashCols: _*)

  /** Exact dedup: sha256(text) grouping; duplicates manufactured by
    * self-union (the corpus itself is all-distinct). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docsTable(spark, dir).select(col("doc_id"), col("lang"), col("text"))
    d.unionAll(d)
      .groupBy(col("lang"), sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("n_copies"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_unique"),
        sum(col("n_copies") - 1).as("n_removed"))
      .orderBy(col("lang"))
  }

  /** MinHash signature table: 4 universal-hash mins + 2 banded keys. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signatures(docs)
      .select(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3"),
        md5(concat(col("mh0").cast("string"), lit(":"), col("mh1").cast("string")))
          .as("band0"),
        md5(concat(col("mh2").cast("string"), lit(":"), col("mh3").cast("string")))
          .as("band1"))
      .orderBy(col("doc_id"))

  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignatures(docsTable(spark, dir))

  /** MinHash-LSH near-dup pairs: band (r=1, b=4) equi-join for candidates,
    * exact distinct-shingle Jaccard verify, top-20. */
  def lshNearDupPairs(docs: DataFrame, topK: Int = 20): DataFrame = {
    // One pass computes shingle sets + all 4 minhashes; persisted because the
    // plan reuses it three times (two melt sides + the verify joins) — at
    // scale this is the signature table you'd materialize (write to parquet)
    // anyway. Cache lifetime is scoped to the CALLER: Verify/Bench call
    // spark.catalog.clearCache() after materializing each query, so repeated
    // invocations neither leak executor memory nor re-cache cached data.
    val perDoc = shingled(docs)
      .select(col("doc_id"), array_distinct(col("sh")).as("shd"),
        graft.functions.TextExpressions.minhashSig(col("sh"), HashA, HashB, HashP).as("mh"))
      .select(col("doc_id") +: col("shd") +: minhashCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val melted = perDoc.select(col("doc_id"), explode(array(
      (0 until 4).map(i => struct(lit(i).as("band"), col(s"mh$i").as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band"), col("bh.h"))
    val l = melted.select(col("doc_id").as("a"), col("band"), col("h"))
    val r = melted.select(col("doc_id").as("b"), col("band"), col("h"))
    val cands = l.join(r, Seq("band", "h")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val sets = perDoc.select(col("doc_id"), col("shd"))
    cands
      .join(sets.select(col("doc_id").as("a"), col("shd").as("sa")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("shd").as("sb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(topK)
  }

  // adapter-level fanOut (opt r20, graft.Par): ONE heavy scan pass per
  // query — parallelize the unsplittable-testdata scan; no-op at scale.
  def lshNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    lshNearDupPairs(graft.Par.fanOut(docsTable(spark, dir)))

  /** 60-bit SimHash per document from per-token md5s — ONE codegen'd
    * expression per row ([[graft.functions.SimHash64]]), zero shuffle.
    * Rounds 2-3 computed this as explode → 60 per-bit partial aggregates →
    * one shuffle keyed on doc_id; the per-row form produces the identical
    * sketch (same token md5s, same ±1 counters) as a narrow scan→project,
    * which is the shape you want at 100 TB: the sketch pass costs exactly
    * one read of the corpus. The oracle still computes it the explode way
    * in SQL — two independent derivations, one hash. */
  def simhash(docs: DataFrame): DataFrame =
    docs
      // null-text docs must DROP, as the explode-based pipeline (and the
      // oracle) drops them — without this the expression emits a null sketch
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextExpressions.simhash64(col("text"), 60).as("simhash"))
      .orderBy(col("doc_id"))

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhash(docsTable(spark, dir))

  /** SimHash near-dup pairs: band on the high 16 bits (equi-join — the
    * scalable candidate generator), verify by Hamming distance ≤ 12 via
    * `bit_count(xor)` — both codegen'd built-ins. */
  def simhashHammingPairs(docs: DataFrame, maxHamming: Int = 12): DataFrame = {
    val sh = simhash(docs)
      .select(col("doc_id"), col("simhash"), shiftright(col("simhash"), 44).as("band"))
    val l = sh.select(col("doc_id").as("a"), col("simhash").as("ha"), col("band"))
    val r = sh.select(col("doc_id").as("b"), col("simhash").as("hb"), col("band"))
    l.join(r, Seq("band")).filter(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy(col("hamming"), col("a"), col("b"))
  }

  // adapter-level fanOut (opt r20, graft.Par): ONE heavy scan pass per
  // query — parallelize the unsplittable-testdata scan; no-op at scale.
  def simhashHammingPairs(spark: SparkSession, dir: String): DataFrame =
    simhashHammingPairs(graft.Par.fanOut(docsTable(spark, dir)))

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo, SIGMOD'95) —
    * the record-linkage alternative to LSH banding (q42): sort the corpus
    * by a similarity-preserving key, compare only records within a sliding
    * window of w positions, verify survivors exactly. Two passes with
    * independent keys (minhash components (mh0,mh1) then (mh2,mh3) — docs
    * sharing a minimum sort adjacent with probability ≥ their Jaccard),
    * the multi-pass recall remedy the paper itself prescribes.
    *
    * Distributed SNM, not the sequential textbook scan: each pass numbers
    * the global sort with the q93 two-phase trick (per-bucket ranks from a
    * monotone key prefix + broadcast prefix-sum offsets — no single-task
    * sort), then turns the "within w positions" window into q91's bounded
    * range join: positions bucket by ⌊pos/w⌋ and each left row probes its
    * own and the next bucket — an equi-join whose per-key fan-in is ≤ 2w,
    * regardless of corpus size. Exact-Jaccard verification touches only
    * O(w·n) candidate pairs (vs LSH's collision-driven candidate count);
    * the tradeoff, documented with the operator since SIGMOD'95, is that
    * near-dups more than w apart in EVERY pass's order are missed.
    *
    * Candidate-prune adjudication (VERDICT r13 #8 proposed a k=1
    * deletion-signature prefilter here): for THIS operator's predicate —
    * shingle-set Jaccard ≥ t — any edit-distance-based prune is UNSOUND.
    * Counterexample: move a sentence from a document's head to its tail;
    * the shingle sets are near-identical (J ≈ 1) while the edit distance
    * is twice the block length, so a deletion-signature gate would drop a
    * true pair and break the bit-exact oracle. The prune that IS sound
    * for Jaccard is the PPJoin-family SIZE filter (Xiao et al., WWW'08):
    * J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so any pair with
    * min(|A|,|B|) < t·max(|A|,|B|) cannot reach t (sound in doubles:
    * sizes are exact integers and round-to-nearest never carries t·max
    * past a representable min it does not truly exceed; at the default
    * t = 0.5 the product is exact outright). The verify joins the 8-byte
    * set SIZES first, prunes, and ships the shingle ARRAYS only for
    * surviving pairs — at 100 TB the arrays are the dominant payload of
    * this stage. The k=1 deletion-signature family lives where its
    * pigeonhole proof holds: [[entityMatchCandidates]] with maxEdits = 1
    * (edit-distance predicates), spec-tested for exact single-edit
    * recall.
    */
  def snmNearDupPairs(docs: DataFrame, w: Int = 5, threshold: Double = 0.5,
                      topK: Int = 20): DataFrame = {
    // DELIBERATELY not pinned (r20 dup-subtree audit): the signature
    // frame drives both sort passes, but the recompute is a codegen'd
    // md5 minhash over a columnar scan — same-box best-of-5 measured
    // persist at 1.99 s vs recompute at 1.68 s; materialization costs
    // more than the hash. Re-measured in the optimization round with the
    // fanOut+eager-checkpoint variant: 1.85 s vs 1.60 s recompute — the
    // original decision stands
    val sigs = signatures(docs)
    def passPairs(kA: String, kB: String): DataFrame = {
      val d = sigs.withColumn("bucket", floor(col(kA) / lit(1L << 24)))
      val ranked = d.withColumn("rn", row_number().over(
        Window.partitionBy(col("bucket"))
          .orderBy(col(kA), col(kB), col("doc_id"))).cast("long"))
      val offsets = d.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(
          sum(col("cnt")).over(Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bucket"), col("off"))
      val pos = ranked.join(broadcast(offsets), Seq("bucket"))
        .select(col("doc_id"), (col("rn") + col("off")).as("pos"))
      val lhs = pos.select(col("doc_id").as("a"), col("pos").as("pa"),
        explode(array(floor(col("pos") / w), floor(col("pos") / w) + 1)).as("jb"))
      val rhs = pos.select(col("doc_id").as("b"), col("pos").as("pb"),
        floor(col("pos") / w).as("jb"))
      lhs.join(rhs, Seq("jb"))
        .filter(col("pb") > col("pa") && col("pb") - col("pa") <= w)
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
    }
    val cand = passPairs("mh0", "mh1").union(passPairs("mh2", "mh3")).distinct()
    val sets = shingled(docs)
      .select(col("doc_id"), array_distinct(col("sh")).as("shd"))
      .withColumn("sz", size(col("shd")))
    // sound size prune BEFORE the arrays ship (see scaladoc): pairs whose
    // set sizes already bound Jaccard below the threshold never join the
    // shingle arrays — only 8-byte sizes cross the wire for them. The
    // bound carries a half-ulp-of-the-rounding margin (ADVICE r14): the
    // final filter keeps jaccard ROUNDED to 6 decimals ≥ t, so a pair
    // with true J ∈ [t − 5e-7, t) survives it; since J ≤ min/max, such a
    // pair has min ≥ (t − 5e-7)·max and the margined prune keeps it too —
    // prune and verify can never disagree on a boundary pair
    val sizes = sets.select(col("doc_id"), col("sz"))
    val pruned = cand
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sa")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sb")), "b")
      .filter(least(col("sa"), col("sb")).cast("double") >=
        lit(threshold - 5e-7) * greatest(col("sa"), col("sb")))
    pruned
      .join(sets.select(col("doc_id").as("a"), col("shd").as("sha")), "a")
      .join(sets.select(col("doc_id").as("b"), col("shd").as("shb")), "b")
      .withColumn("ninter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", round(col("ninter").cast("double") /
        (col("sa") + col("sb") - col("ninter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(topK)
  }

  def snmNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    snmNearDupPairs(docsTable(spark, dir))

  /** Edit distance bound shared by [[entityMatchCandidates]]'s ≤2-deletion
    * signatures and [[entityMatchPairs]]'s verify — one constant so the
    * blocking's recall guarantee and the final filter cannot drift apart
    * (the same single-constant rule as q165's [[WarehouseOps.ZorderTileBits]]). */
  private[graft] val EntityMatchMaxEdits = 2

  /** Candidate pairs for [[entityMatchPairs]] via DELETION-NEIGHBORHOOD
    * signatures (FastSS, Bocek et al. 2007 — the index behind the SymSpell
    * spell checker): two strings within edit distance k must agree after
    * deleting ≤ k characters from EACH side (every edit op touches at most
    * one position per side), so blocking on (nation, segment, variant) —
    * variant ranging over all ≤2-deletion results of the name — has EXACT
    * recall by pigeonhole; precision is restored by the caller's
    * levenshtein verify (deletion-equal only bounds the distance by 2k).
    * This replaces the r12 (nation, segment)-only blocking whose per-block
    * comparison was quadratic in block size (VERDICT r12 #4): cost is now
    * Σ_v |block_v|² with v a near-full-length string — selective even
    * under a CONSTANT name prefix, where trigram or PassJoin-segment keys
    * degenerate into one giant block (the template-name case: every name
    * shares "Customer#"; only the digit tail discriminates, and deletion
    * variants keep that tail). Signature inflation is 1 + L + C(L,2) rows
    * per name (172 at L=18) — the method's documented cost, right for
    * short keys (names, phones, SKUs); for long strings flip to
    * segment-based signatures (PASS-JOIN, Li et al., VLDB 2012), whose
    * inflation is k+1 instead. One shuffle on the signature key, one
    * distinct on the pair — no cartesian, no per-(nation,segment)
    * all-pairs anywhere. */
  def entityMatchCandidates(customers: DataFrame,
                            maxEdits: Int = EntityMatchMaxEdits): DataFrame = {
    // Variants ride the codegen'd [[graft.functions.DeletionHashes]]
    // expression: one char-skipping pass per variant emits the DEDUPED
    // 64-bit hash set (deleting any char of a repeated run yields the same
    // variant — template names with digit runs collapse well below the
    // 1 + L + C(L,2) ceiling), so the join key is 8 bytes and no variant
    // string is ever materialized. A hash collision can only ADD a
    // candidate the levenshtein verify then discards — recall untouched.
    // The signature depth tracks the caller's edit bound: k=1 (VERDICT
    // r13 #8) emits only 1 + L signatures per name — the cheap blocking
    // for a single-edit predicate, with the same pigeonhole recall proof.
    val sigs = customers
      .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        col("c_custkey"),
        explode(graft.functions.TextExpressions
            .deletionHashes(col("c_name"), maxEdits))
          .as("variant"))
      .localCheckpoint(true)
    val l = sigs.select(col("nat"), col("seg"), col("variant"),
      col("c_custkey").as("a"))
    val r = sigs.select(col("nat"), col("seg"), col("variant"),
      col("c_custkey").as("b"))
    l.join(r, Seq("nat", "seg", "variant"))
      .filter(col("a") < col("b"))
      .select(col("nat"), col("seg"), col("a"), col("b"))
      .distinct()
  }

  /** Entity-resolution matching over the `customer` dimension — the
    * record-linkage blocking + edit-distance pattern (Fellegi–Sunter
    * style pipeline, deterministic scoring stage): BLOCK via the
    * deletion-signature equi-join of [[entityMatchCandidates]] (exact
    * recall for ≤ [[EntityMatchMaxEdits]] edits); COMPARE with Levenshtein
    * on the name (both engines implement the identical DP edit distance,
    * so the score is an exact integer) plus the account-balance gap in
    * exact cents; RANK by (edits, gap). The oracle is the plain
    * (nation, segment) all-pairs + filter — blocking must be
    * result-invisible, exactly like q164's salting. */
  def entityMatchPairs(customers: DataFrame, topK: Int = 30): DataFrame = {
    val side = customers.select(col("c_custkey"), col("c_name"),
      round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    entityMatchCandidates(customers)
      .join(side.select(col("c_custkey").as("a"), col("c_name").as("name_a"),
        col("cents").as("cents_a")), "a")
      .join(side.select(col("c_custkey").as("b"), col("c_name").as("name_b"),
        col("cents").as("cents_b")), "b")
      // bounded DP: −1 once the distance exceeds the bound, so the kept
      // rows are exactly those with edits ≤ EntityMatchMaxEdits
      .withColumn("edits", levenshtein(col("name_a"), col("name_b"), EntityMatchMaxEdits))
      .filter(col("edits") >= 0)
      .withColumn("bal_gap_cents", abs(col("cents_a") - col("cents_b")))
      .select(col("nat").as("nationkey"), col("seg").as("mktsegment"),
        col("a"), col("b"), col("edits"), col("bal_gap_cents"))
      .orderBy(col("edits"), col("bal_gap_cents"), col("a"), col("b"))
      .limit(topK)
  }

  // adapter-level fanOut (opt r20, graft.Par): the deletion-signature
  // explode is the heavy map pass and runs twice (both join sides) at the
  // unsplittable scan's 1-task parallelism; no-op at scale.
  def entityMatchPairs(spark: SparkSession, dir: String): DataFrame =
    entityMatchPairs(graft.Par.fanOut(Tables(spark, dir, "customer")))

  /** N-gram Jaccard dedup via inverted-index posting lists — the
    * sketch-free sibling of [[lshNearDupPairs]]: instead of minhash
    * bands, candidates come from the shingle posting list itself (docs
    * sharing ≥1 shingle), and the intersection size falls out of pair
    * counting — no array intersection, no signature table.
    *
    * Accuracy contract: shingle identity is 64-bit FNV-1a hashes, not the
    * strings, so this is collision-free only up to the birthday bound —
    * with S distinct shingles corpus-wide, expect ~S²/2⁶⁵ colliding pairs
    * perturbing intersection/set sizes (zero at test scale; at ~10¹²
    * shingles ≈ a few tens of collisions, each shifting one pair's Jaccard
    * by ~1/|set|). Unlike minhash this is not a tunable approximation —
    * it is exact modulo that stated hash-collision bound.
    *
    * Scale contract: the posting self-join's work is Σ_sh df(sh)², so a
    * single ubiquitous shingle is quadratic — hence the df ≤ [[MaxDf]]
    * prune (textbook stop-shingle removal; analogous to skipping stop-words
    * in an inverted index). RECALL CONTRACT (round-8 measurement, revising
    * the round-4 "provably free" claim): the prune is exact iff every true
    * pair shares at least one under-cap shingle AND its full intersection
    * sits under the cap. Both hold when df is bounded (sf0.01 max df 7,
    * sf0.1 max df 7 — identical to the exact algorithm, measured), but on
    * a 100×-duplicated 4× corpus the cap dropped 27% of true pairs and
    * undercounted the rest's Jaccard — docs duplicated past the cap share
    * ONLY over-cap shingles. Use [[ngramJaccardPairsExact]] (q88) when the
    * duplication profile is unknown or heavy, or run exact-hash dedup
    * (q40) first so df reflects distinct texts.
    * Everything shuffles on uniform keys (shingle, then pair). */
  private val MaxDf = 50

  /** The shared q60/q161 pair frame `(a, b, sa, sb, ninter)` from the
    * df-capped shingle postings — one pipeline, two scorers (review catch:
    * the two operators carried verbatim copies that could silently drift).
    *
    * Postings keyed by the shingle's 64-bit hash, not the ~30-char string
    * — and the hashes come straight from the codegen'd [[ShingleHashes]]
    * expression (one pass: tokenize → FNV per n-gram → dedupe), so no
    * shingle strings are ever materialized. (Join keys are engine-internal
    * — the oracle joins raw strings; only the final scored rows must
    * match.) Each posting carries its doc's set size, so the scorers need
    * NO join back to the corpus — the whole query is one pass over the
    * text: hash → one shuffle on shingle hash → per-list pair explode →
    * one shuffle on pair. Group to a df-capped posting list, then emit
    * each list's pairs with a double explode — same Σ df² pair work as a
    * posting self-join but without shuffling the postings twice or
    * re-deriving the shingles for each join side. Per-group state is
    * bounded by maxDf (doc_id, sz) structs. sa/sb ride in the grouping
    * key; they are functionally determined by (a, b) so the key stays as
    * selective as (a, b) alone. */
  private def cappedPostingPairs(docs: DataFrame, maxDf: Int): DataFrame = {
    val sets = docs
      .withColumn("shh", graft.functions.TextExpressions.shingleHashes(col("text"), 3))
      .filter(size(col("shh")) > 0)
    val post = sets.select(
      struct(col("doc_id"), size(col("shh")).as("sz")).as("d"),
      explode(col("shh")).as("sh"))
    post.groupBy(col("sh"))
      .agg(collect_list(col("d")).as("docs"))
      .filter(size(col("docs")).between(2, maxDf))
      .select(explode(col("docs")).as("da"), col("docs"))
      .select(col("da"), explode(col("docs")).as("db"))
      .filter(col("da.doc_id") < col("db.doc_id"))
      .groupBy(col("da.doc_id").as("a"), col("db.doc_id").as("b"),
        col("da.sz").as("sa"), col("db.sz").as("sb"))
      .agg(count(lit(1)).as("ninter"))
  }

  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
                        maxDf: Int = MaxDf): DataFrame =
    cappedPostingPairs(docs, maxDf)
      .withColumn("jaccard", round(col("ninter").cast("double") /
        (col("sa") + col("sb") - col("ninter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))

  // adapter-level fanOut (opt r20, graft.Par): ONE heavy scan pass per
  // query — parallelize the unsplittable-testdata scan; no-op at scale.
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(graft.Par.fanOut(docsTable(spark, dir)))

  /** q161 — asymmetric CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|)
    * over the same df-capped shingle postings as q60. Jaccard's symmetric
    * denominator dilutes a short document fully embedded in a long one
    * (abstract-in-page, quote-in-article: J = |A|/|B| ≈ 0 while the short
    * doc is 100% duplicated); containment scores that pair 1.0. Identical
    * plan class to q60 — one text pass, one shingle-hash shuffle, one pair
    * shuffle — with both ratios emitted so the dilution is visible
    * per pair.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9,
                       maxDf: Int = MaxDf): DataFrame =
    cappedPostingPairs(docs, maxDf)
      .withColumn("containment", round(col("ninter").cast("double") /
        least(col("sa"), col("sb")), 6))
      .filter(col("containment") >= threshold)
      .withColumn("jaccard", round(col("ninter").cast("double") /
        (col("sa") + col("sb") - col("ninter")), 6))
      .select(col("a"), col("b"), col("containment"), col("jaccard"))
      .orderBy(col("containment").desc, col("a"), col("b"))

  // adapter-level fanOut (opt r20, graft.Par): ONE heavy scan pass per
  // query — parallelize the unsplittable-testdata scan; no-op at scale.
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(graft.Par.fanOut(docsTable(spark, dir)))

  /** EXACT n-gram Jaccard pairs via PPJoin prefix filtering (Xiao et al.,
    * "Efficient Similarity Joins for Near Duplicate Detection", WWW'08) —
    * the unconditionally-correct sibling of [[ngramJaccardPairs]]'s
    * df-capped build (q88 vs q60; the VERDICT r07 item-7 A/B, measured).
    *
    * Candidate rule: order every doc's shingle hashes by global rarity
    * (df asc, hash asc — one total order corpus-wide) and index only the
    * PREFIX of length n − ⌈t·n⌉ + 1. J(x,y) ≥ t forces |x∩y| ≥ t·|x|
    * (since |y| ≥ |x∩y|), so two qualifying docs must share a prefix
    * element — pairs sharing none are filtered without ever being
    * generated. Prefix shingles are by construction the RAREST ones, so
    * the candidate join is naturally skew-resistant, and a length filter
    * (t·max(|x|,|y|) ≤ min) prunes before dedup. Candidates verify
    * EXACTLY by array intersection against the corpus sets — no cap, no
    * recall contract, correct on arbitrarily duplicate-heavy corpora.
    *
    * Measured A/B vs the df-capped build (local[32], warm min of 3):
    *   - sf0.1 (5 k docs, max df 7):  exact 1.3 s ≈ capped 1.3 s,
    *     IDENTICAL results (cap provably free below the df bound) — after
    *     the rank-window prefix build and the persisted prefix index,
    *     exactness is free at this scale;
    *   - 4× (20 k docs, 100×-duplicated, max df 100): exact 6.3 s and
    *     34 096 pairs vs capped 3.9 s and 24 832 pairs — the cap MISSED
    *     27% of true pairs (docs duplicated past the cap share only
    *     over-cap shingles), while every capped pair is a subset of the
    *     exact output; the exact premium there is verify work on the
    *     duplicate blocks' candidates, proportional to the (real) output.
    *     It buys exactness in precisely the regime a dedup engine exists
    *     for — heavily duplicated corpora. Pick per corpus: capped when
    *     df is known bounded (or after exact-hash dedup, q40), this
    *     otherwise. */
  def ngramJaccardPairsExact(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    requireJaccardThreshold(threshold)
    // The shingle-hash scan feeds four plan branches (df count, prefix
    // build, both verify sides) — persist it once or the codegen'd hashing
    // dominates 4× over (same pattern as the q42 signature table; at
    // 100 TB this is the pre-materialized posting table on storage).
    val sets = ppjoinSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefixes = ppjoinPrefixes(sets, threshold)
      // both sides of the candidate self-join read this — persisted, the
      // df-join + rank pipeline runs once instead of twice (3.6 s → 0.9 s
      // warm at sf0.1 measured; at corpus scale this is the materialized
      // prefix index every PPJoin implementation builds)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ppjoinVerify(sets, prefixes, threshold)
  }

  /** q88 through the snapshot-keyed [[Materialize]] registry (VERDICT
    * r19 #3 — the committed warm number drifted 1.21 → 1.48 s across
    * rounds because the shingle-set scan and the PPJoin prefix index
    * were rebuilt (and re-`persist`ed, subject to executor-cache
    * eviction) on EVERY rep): both artifacts now materialize ONCE per
    * corpus snapshot as parquet — exactly the q117/q119/q120 codebook
    * discipline — and every rep after the first reads two small
    * tables. The first request in a process pays the build. The prefix
    * index is keyed by threshold too (the prefix LENGTH depends on t);
    * the shingle sets are threshold-free and shared. */
  def ngramJaccardPairsExact(spark: SparkSession, dir: String): DataFrame = {
    val threshold = 0.5
    val snap = Materialize.snapshot(s"$dir/documents.parquet")
    // the sets table is the verify joins' BROADCAST build side, and its
    // shh array column makes ColumnarToRow the expensive part of the
    // broadcast job — written at the docs scan's file count (2 at sf0.1)
    // the decode single-threads at 2.4 s/side (stage-profiled); hashed
    // out to the shuffle fan-out it parallelizes with the file count
    val setsDir = Materialize.parquetDir(
      s"ppjoin-sets:$dir@$snap", "graft-ppjoin-sets-")(
      ppjoinSets(docsTable(spark, dir)).repartition(col("doc_id")))
    val sets = spark.read.parquet(setsDir)
    val prefixDir = Materialize.parquetDir(
      s"ppjoin-prefix:$dir@$snap:t$threshold", "graft-ppjoin-prefix-")(
      ppjoinPrefixes(sets, threshold))
    ppjoinVerify(sets, spark.read.parquet(prefixDir), threshold)
  }

  private def requireJaccardThreshold(threshold: Double): Unit =
    // outside (0,1] the prefix length n − ⌈t·n⌉ + 1 degenerates (≤0 ⇒
    // silently empty output) — reject rather than return wrong nothing
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")

  /** The q88 shingle-set table `(doc_id, shh, sz)` — threshold-free. */
  private def ppjoinSets(docs: DataFrame): DataFrame = docs
    .withColumn("shh", graft.functions.TextExpressions.shingleHashes(col("text"), 3))
    .filter(size(col("shh")) > 0)
    .select(col("doc_id"), col("shh"), size(col("shh")).as("sz"))

  /** The PPJoin prefix index `(doc_id, sz, sh)` at `threshold`.
    * Rarest-first rank per doc, keep only the prefix rows. The
    * row_number window (one shuffle on doc_id, rank emitted in-stream)
    * replaced a collect_list + sort_array + slice/explode build — same
    * results, 2.3× faster measured (5.5 s → 2.4 s at sf0.1): no per-doc
    * struct arrays ever materialize. dfreq broadcasts while it fits; at
    * true corpus scale it becomes a shuffle join on the uniform hash key. */
  private def ppjoinPrefixes(sets: DataFrame, threshold: Double): DataFrame = {
    val post = sets.select(col("doc_id"), col("sz"), explode(col("shh")).as("sh"))
    val dfreq = post.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    post.join(dfreq, "sh")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      // prefix length at the MARGINED threshold (review catch; the snm
      // prune's ADVICE r14 rule applied here): the final filter keeps
      // jaccard ROUNDED to 6 decimals ≥ t, so a pair with true
      // J ∈ [t − 5e-7, t) passes verify — its prefix property is only
      // guaranteed at t − 5e-7, and pruning at raw t could drop it before
      // verify ever sees it. Margining only WIDENS the prefix.
      .filter(col("rn") <= col("sz") - ceil(col("sz") * (threshold - 5e-7)) + 1)
      .select(col("doc_id"), col("sz"), col("sh"))
  }

  /** Candidate generation + exact verification over the two artifacts. */
  private def ppjoinVerify(sets: DataFrame, prefixes: DataFrame,
                           threshold: Double): DataFrame = {
    requireJaccardThreshold(threshold)
    val cand = prefixes.select(col("doc_id").as("a"), col("sz").as("sa0"), col("sh"))
      .join(prefixes.select(col("doc_id").as("b"), col("sz").as("sb0"), col("sh")), "sh")
      .filter(col("a") < col("b"))
      // PPJoin length filter: J >= t forces t·max(|x|,|y|) <= min(|x|,|y|) —
      // at the MARGINED t (review catch, the snm rule): the verify filter
      // keeps round(J, 6) ≥ t, so a boundary pair with true J just below t
      // must survive the prune for verify to decide it
      .filter(greatest(col("sa0"), col("sb0")) * (threshold - 5e-7) <=
        least(col("sa0"), col("sb0")))
      .select(col("a"), col("b"))
      // the dedup shuffle's fan-out is PINNED (an explicit user count is
      // exempt from AQE coalescing): the pair stream is tiny in BYTES, so
      // byte-based coalescing collapses it to 1-2 partitions — but the
      // downstream verify work per row (two broadcast probes plus an
      // array_intersect over the docs' FULL shingle sets) is ~1000× its
      // bytes, and the collapsed stage single-threads it (stage-profiled:
      // 2 tasks × 2.3 s vs 32 × 0.24 s for identical work). Partitioned
      // on (a, b), the dropDuplicates below reuses this exchange.
      .repartition(prefixes.sparkSession.sparkContext.defaultParallelism,
        col("a"), col("b"))
      .dropDuplicates("a", "b")
    cand
      .join(sets.select(col("doc_id").as("a"), col("shh").as("sha"), col("sz").as("sa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("shh").as("shb"), col("sz").as("sb")), "b")
      .withColumn("ninter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", round(col("ninter").cast("double") /
        (col("sa") + col("sb") - col("ninter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
  }

  /** Near-dup CLUSTERS from near-dup PAIRS — the dedup pipeline's actual
    * deliverable: connected components over the pair graph, canonical doc =
    * component-min doc_id (what you keep; the rest are the removal list).
    *
    * Spark-first iteration: alternating LARGE-STAR / SMALL-STAR contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — each round rewires edges toward per-neighborhood minima, so
    * component diameter collapses geometrically and the edge set converges
    * to a star forest rooted at each component's min node in O(log² n)
    * rounds (a chain of 1000 closes in ~6; round-5's min-label propagation
    * needed one round PER HOP and threw on exactly such inputs). Per round:
    * two equi-join + aggregate passes over a monotonically star-shaped edge
    * set; `localCheckpoint` truncates the otherwise exponentially growing
    * plan lineage (THE classic iterative-DataFrame trap), and the fixpoint
    * test compares consecutive deduped edge sets (one count + one
    * anti-join emptiness probe — no data collect). The oracle's
    * recursive-CTE transitive closure is test-scale only (closure
    * materializes O(n²) paths; contraction never does). */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    componentLabels(pairs, maxIters)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("label").as("cluster_id"), col("n_members"))
      .orderBy(col("n_members").desc, col("cluster_id"))

  /** The contraction's per-node view: (node, label) with label = the
    * component's minimum id — shared by the cluster census (q77/q90) and
    * the c-TF-IDF cluster labeling (q162). */
  def componentLabels(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // canonical undirected edges (lo < hi). The node set comes from the
    // pairs BEFORE the self-loop filter: a node whose only pair is (x, x)
    // still names a document and must surface as a 1-member cluster, not
    // vanish from the output (round-7 ADVICE).
    val canon = pairs
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
    val nodes = canon.select(col("lo").as("node"))
      .union(canon.select(col("hi").as("node"))).distinct()
      .localCheckpoint(true)
    var edges = canon
      .filter(col("lo") =!= col("hi")).distinct()
      .localCheckpoint(true)
    var edgeCount = edges.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // LARGE-STAR: from each node u, attach every strictly-larger neighbor
      // v to m = min(Γ(u) ∪ {u}); m ≤ u < v, so (m, v) is already canonical
      val nbrs = edges.select(col("lo").as("u"), col("hi").as("v"))
        .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      val lmin = nbrs.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val large = nbrs.join(lmin, "u").filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()
      // SMALL-STAR: orient edges toward the smaller endpoint; from each u,
      // attach u and all smaller neighbors to m = min of those neighbors
      val directed = large.select(col("hi").as("u"), col("lo").as("v"))
      val smin = directed.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = directed.join(smin, "u")
        .select(col("m").as("lo"), col("v").as("hi")).filter(col("lo") =!= col("hi"))
        .union(smin.select(col("m").as("lo"), col("u").as("hi")))
        .distinct()
        .localCheckpoint(true)
      // fixpoint: both sides deduped, so equal count + empty difference ⇔
      // identical edge sets (the star forest is stable under both passes).
      // The previous round's count is carried, not recomputed: one job per
      // round instead of two.
      val smallCount = small.count()
      converged = smallCount == edgeCount &&
        small.join(edges, Seq("lo", "hi"), "left_anti").isEmpty
      edges = small
      edgeCount = smallCount
      iter += 1
    }
    // A truncated contraction would silently split components (wrong
    // clusters diverging from the closure oracle) — refuse instead. At
    // O(log² n) convergence the default cap covers any realistic graph;
    // hitting it means something is deeply wrong, not merely deep.
    if (!converged) throw new IllegalStateException(
      s"dedupClusters: star contraction did not converge in $maxIters rounds; " +
        "raise maxIters")
    // star forest: every non-root appears as hi exactly once, its lo is the
    // component min; roots label themselves
    nodes.join(edges, col("node") === col("hi"), "left_outer")
      .select(col("node"), coalesce(col("lo"), col("node")).as("label"))
  }

  /** The simhash near-dup graph's (node, label) table, MATERIALIZED once
    * per corpus snapshot (VERDICT r13 #4): q77's census, and q162's
    * c-TF-IDF labeling all consume the same star contraction — before
    * this, each ran it from scratch (q162 alone paid 57 s of the 84 s 32×
    * probe). Longs round-trip parquet exactly, so every consumer's oracle
    * is unchanged. */
  private[operators] def simhashLabels(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Materialize.parquetDir(
      s"simhash-labels:$dir@${Materialize.snapshot(s"$dir/documents.parquet")}",
      "graft-simhash-labels-") {
      componentLabels(
        simhashHammingPairs(docsTable(spark, dir)).select(col("a"), col("b")))
    })

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    simhashLabels(spark, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("label").as("cluster_id"), col("n_members"))
      .orderBy(col("n_members").desc, col("cluster_id"))

  /** q162 — c-TF-IDF cluster labeling (the BERTopic class-based TF-IDF,
    * Grootendorst 2022): label each q77 near-dup cluster by its most
    * distinguishing terms, score(t, c) = (tf_{t,c} / |c|_tok) ·
    * ln(1 + A / f_t) with A the mean cluster token count — turning opaque
    * cluster ids into something a curator reads. All inputs are exact
    * integer counts off the clustered docs (one token explode, vocab-sized
    * aggregates; the corpus-frequency join is keyed on tok with NO
    * broadcast hint — AQE broadcasts while the vocabulary fits and falls
    * back to shuffle-hash at corpus scale, VERDICT r12 #4 — plus the
    * scalar A); scores
    * round before the per-cluster rank (the q74 round-before-rank rule).
    */
  def clusterTopTerms(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val docs = docsTable(spark, dir)
    // the materialized q77 labels (VERDICT r13 #4) — the star contraction
    // runs once per corpus snapshot, not once per consumer query
    val labels = simhashLabels(spark, dir)
    val toks = docs.join(labels, col("doc_id") === col("node"))
      .select(col("label").as("cluster_id"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // checkpointed: tf feeds the cluster totals, the corpus frequencies
    // AND the scored join — the docs⋈labels explode otherwise re-runs
    // once per branch (r20 static dup-subtree catch); (cluster, tok)
    // counts are the post-reduction frame
    val tf = toks.groupBy(col("cluster_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val ct = tf.groupBy(col("cluster_id")).agg(sum(col("tf")).as("ctot"))
    val cf = tf.groupBy(col("tok")).agg(sum(col("tf")).as("f"))
    val amean = ct.agg((sum(col("ctot")).cast("double") / count(lit(1))).as("abig"))
    // cf is vocabulary-sized — fine to broadcast at test SF, NOT at 100 TB
    // (VERDICT r12 #4): no hint, the join stays keyed on tok and AQE picks
    // broadcast while cf fits, shuffle-hash once it doesn't. ct (one row
    // per cluster of a labeled subcorpus) and the 1-row amean stay hinted.
    val scored = tf
      .join(broadcast(ct), "cluster_id")
      .join(cf, "tok")
      .crossJoin(broadcast(amean))
      .withColumn("score", round((col("tf").cast("double") / col("ctot"))
        * log(lit(1.0) + col("abig") / col("f")), 6) + lit(0.0))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("cluster_id"))
        .orderBy(col("score").desc, col("tok"))).cast("int"))
      .filter(col("rnk") <= topK)
      .select(col("cluster_id"), col("rnk"), col("tok"), col("tf"), col("score"))
      .orderBy(col("cluster_id"), col("rnk"))
  }

  /** Incremental ingest dedup — the daily-batch shape: classify each NEW
    * doc against the EXISTING corpus as `exact_dup` (same text), `near_dup`
    * (shares a minhash band with any corpus doc — the LSH candidate test,
    * with its usual false-positive/negative contract), or `new`. Both
    * checks are semi-joins on uniform hash keys (content hash; band
    * values), so the new batch — typically ≪ corpus — drives the cost; at
    * 100 TB the corpus side is the PRE-MATERIALIZED signature table (write
    * `minhashSignatures` + `sha2(text)` to parquet once, append per
    * batch), not a recompute, and the corpus never re-shuffles: only its
    * distinct hash/band sets do. Docs too short to shingle (<3 tokens)
    * have no bands and can only be exact dups — same rule both engines. */
  def incrementalDedup(docs: DataFrame, isNew: Column): DataFrame = {
    val d = docs.withColumn("is_new", isNew)
    val hashes = d.select(col("doc_id"), col("is_new"), sha2(col("text"), 256).as("h"))
    val bands = bandRows(d).select(col("doc_id"), col("is_new"), col("band"))
    val exactDup = hashes.filter(col("is_new"))
      .join(hashes.filter(!col("is_new")).select(col("h")).distinct(), Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("exact", lit(1))
    val nearDup = bands.filter(col("is_new"))
      .join(bands.filter(!col("is_new")).select(col("band")).distinct(), Seq("band"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("near", lit(1))
    d.filter(col("is_new")).select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left_outer")
      .join(nearDup, Seq("doc_id"), "left_outer")
      .withColumn("status",
        when(col("exact").isNotNull, "exact_dup")
          .when(col("near").isNotNull, "near_dup")
          .otherwise("new"))
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  def incrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedup(docsTable(spark, dir), col("doc_id") >= 400)

  /** Duplicated token-span coverage — the SUBSTRING-level dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022): document-level dedup (q40/q42/q88) misses the
    * boilerplate case where distinct documents share long verbatim spans.
    * For every k-token sliding window we take a 64-bit content hash
    * (16 hex chars of md5 — the same engine-portable truncation as q68's
    * split hash), count in how many DISTINCT docs each window occurs, and
    * report per doc what fraction of its windows also appear elsewhere —
    * `dup_ratio` = the fraction of the doc that is corpus-duplicated text.
    * Downstream, ExactSubstr-style cutting drops spans with n_docs ≥ 2;
    * the per-doc ratio is the triage view (which docs are mostly
    * boilerplate) and the ranked top-N here is the report a corpus audit
    * reads. Lee et al. build a suffix array for exact maximal spans; the
    * fixed-k window grid is the shuffle-friendly equivalent (their own
    * "approximate" variant, §4.1 of the paper) — any duplicated span
    * ≥ k tokens is covered by ≥ 1 duplicated window, at k-gram hashing
    * cost instead of corpus-wide suffix sort.
    *
    * Scale shape: tokenize → explode k-grams (narrow, ~n_tok rows/doc) →
    * ONE shuffle onto the window hash (uniform 64-bit key; partial
    * aggregation collapses within-doc repeats map-side) → window-function
    * doc-count over the hash partition → ONE shuffle back onto doc_id.
    * No joins, no pair expansion: work is linear in corpus tokens, which
    * is exactly why ExactSubstr dedup runs at the trillion-token scale
    * document-pair methods cannot. At 100 TB the (h → n_docs) map is the
    * materialization to keep (append-per-batch like q79's signature
    * table); ubiquitous-boilerplate hashes (df in the millions) are
    * bounded because each (doc,h) pair appears once post-aggregation. */
  def dupSpanCoverage(docs: DataFrame, k: Int = 8, topN: Int = 50): DataFrame = {
    // fanOut (opt r20): the md5-per-window span grid below is the heavy
    // map-side pass and otherwise runs at the unsplittable scan's 1-task
    // parallelism; no-op when the scan already splits (graft.Par scaladoc)
    val toks = graft.Par.fanOut(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
    val spans = toks.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("toks")) - (k - 1)),
        i => substring(md5(array_join(slice(col("toks"), i, lit(k)), " ")), 1, 16))).as("h"))
    // One explicit shuffle on h serves BOTH the (doc_id, h) aggregate
    // (HashPartitioning(h) satisfies its clustering requirement — h is a
    // subset of the grouping key) and the df window right after, instead
    // of letting Catalyst shuffle once on (doc_id, h) and again on h.
    // Within-doc window repeats are rare, so the map-side partial
    // aggregation this forgoes would not have shrunk the shuffle anyway.
    val perDocWindow = spans.repartition(col("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("cnt"))
    val withDf = perDocWindow.withColumn("n_docs",
      count(lit(1)).over(Window.partitionBy(col("h"))))
    withDf.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_windows"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(lit(0L)))
          .cast("long").as("dup_windows"))
      .withColumn("dup_ratio",
        round(col("dup_windows").cast("double") / col("n_windows"), 6))
      .orderBy(col("dup_ratio").desc, col("doc_id"))
      .limit(topN)
  }

  def dupSpanCoverage(spark: SparkSession, dir: String): DataFrame =
    dupSpanCoverage(docsTable(spark, dir))

  /** Duplicated-span TOKEN coverage — the cut-planning step of ExactSubstr
    * dedup (Lee et al. ACL 2022 §4): [[dupSpanCoverage]] (q92) counts
    * duplicated WINDOWS; this measures how many TOKENS sit under at least
    * one corpus-duplicated window, i.e. exactly how much text the
    * span-cutting transform would remove per doc. Windows overlap, so the
    * union of covered positions — not k × duplicated windows — is the
    * honest number; a doc whose every window is duplicated has
    * covered_ratio 1.0 (drop it outright: it is pure boilerplate), while a
    * doc with one duplicated window loses only k tokens.
    *
    * Scale shape: span grid as in q92 (narrow, token-linear), then ONE
    * shuffle onto the window hash where a single window pass marks
    * duplicated spans in place: h occurs in ≥ 2 distinct docs iff
    * min(doc_id) ≠ max(doc_id) over the h partition — no distinct-doc
    * aggregate, no join back, and the span grid is computed ONCE (the
    * join formulation re-derived it for each side and cost 2× more,
    * measured at 10×: 12.6 s vs 6.2 s). Then a k-bounded explode of covered positions for
    * DUPLICATED windows only, de-duplicated on (doc, position) and
    * counted — at most token-linear even when the whole corpus is
    * boilerplate. Everything keys on uniform hashes. */
  def dupSpanCut(docs: DataFrame, k: Int = 8, topN: Int = 100): DataFrame = {
    // fanOut (opt r20): same reason as [[dupSpanCoverage]] — the span
    // grid's md5 pass must not run at the 1-task scan parallelism
    val base = graft.Par.fanOut(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val toks = base.filter(size(col("toks")) >= k)
    val spans = toks.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => substring(md5(array_join(slice(col("toks"), i, lit(k)), " ")), 1, 16))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
    val overH = Window.partitionBy(col("h"))
    val covered = spans.repartition(col("h"))
      .withColumn("dup", min(col("doc_id")).over(overH) =!= max(col("doc_id")).over(overH))
      .filter(col("dup"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tokpos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    base.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
      .join(covered, Seq("doc_id"), "left_outer")
      .withColumn("n_covered", coalesce(col("n_covered"), lit(0L)))
      .withColumn("covered_ratio", round(col("n_covered").cast("double") / col("n_tok"), 6))
      .orderBy(col("covered_ratio").desc, col("doc_id"))
      .limit(topN)
  }

  def dupSpanCut(spark: SparkSession, dir: String): DataFrame =
    dupSpanCut(docsTable(spark, dir))

  /** Signature DATA rows for the TEXT ingest gate — the dedup-gate
    * family's on-storage state ([[graft.streaming.StreamingDedup]]'s
    * descriptor binds it; one rule, two consumers, the q212/q214
    * discipline): one `("h", sha256)` row per doc plus one
    * `("band", key)` row per LSH band ([[bandRows]], the exact keys
    * batch q79 uses), each carrying `src` = the LOWEST doc_id that first
    * recorded the key (deterministic provenance owner — VERDICT r17 #3:
    * a review queue consuming the gate asks "duplicate of WHAT", and a
    * (kind, sig)-only table cannot answer). The gate table adds the
    * `pb` probe bucket at its pinned fan-out
    * ([[graft.streaming.GateDescriptor.signatureRows]]). */
  def gateSignatureData(docs: DataFrame): DataFrame =
    docs.select(lit("h").as("kind"), sha2(col("text"), 256).as("sig"),
        col("doc_id").as("src"))
      .union(bandRows(docs).select(lit("band").as("kind"),
        col("band").as("sig"), col("doc_id").as("src")))
      .groupBy(col("kind"), col("sig")).agg(min(col("src")).as("src"))

  /** Classify `newDocs` against a signature snapshot → the gate family's
    * shared delivery frame `(doc_id, status, matched_seed, score)`:
    * `exact_dup` (content sha-256 seen; matched_seed = the sha key's
    * owner, score = 1.0 — the one matching signature key), `near_dup`
    * (shares ≥1 minhash LSH band; matched_seed = the owner holding the
    * MOST shared bands, ties to the lowest owner — one max(struct)
    * arg-max, never a sort; score = that shared-band count), else `new`
    * (null provenance). Both probes are distinct-reduced equi-joins on
    * uniform hash keys driven by the (small) new side — plan-identical
    * to batch q79's corpus checks plus the provenance aggregates. */
  def gateClassifyProvenance(newDocs: DataFrame, sigs: DataFrame): DataFrame = {
    // defensive min per key: the gate invariant keeps one row per key
    // (an accepted doc never shares a key with the existing table), but
    // provenance must stay deterministic even over a hand-built snapshot
    val owners = sigs.groupBy(col("kind"), col("sig")).agg(min(col("src")).as("src"))
    val exact = newDocs.select(col("doc_id"), sha2(col("text"), 256).as("sig"))
      .join(owners.filter(col("kind") === "h").select(col("sig"), col("src")),
        Seq("sig"))
      .groupBy(col("doc_id")).agg(min(col("src")).as("exact_seed"))
    val near = bandRows(newDocs).select(col("doc_id"), col("band").as("sig"))
      .join(owners.filter(col("kind") === "band").select(col("sig"), col("src")),
        Seq("sig"))
      .groupBy(col("doc_id"), col("src")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("n"), (-col("src")).as("nsrc"))).as("best"))
      .select(col("doc_id"), (-col("best.nsrc")).as("near_seed"),
        col("best.n").cast("double").as("near_score"))
    newDocs.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_seed").isNotNull, "exact_dup")
          .when(col("near_seed").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        when(col("exact_seed").isNotNull, col("exact_seed"))
          .otherwise(col("near_seed")).as("matched_seed"),
        when(col("exact_seed").isNotNull, lit(1.0))
          .otherwise(col("near_score")).as("score"))
  }

  /** q217 — TEXT GATE PROVENANCE (q79 answers "is it a dup?"; the review
    * queue also asks "of WHAT" — q214's question on the text surface, and
    * the oracle-checked batch twin of [[graft.streaming.StreamingDedup]]'s
    * delivery frame): docs with doc_id ≥ 400 classify against the
    * doc_id < 400 seed via [[gateClassifyProvenance]] over
    * [[gateSignatureData]] — exactly one streaming micro-batch against
    * its seed, so the oracle pins the same rule the stream runs. */
  def dedupGateProvenance(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsTable(spark, dir)
    gateClassifyProvenance(docs.filter(col("doc_id") >= 400),
      gateSignatureData(docs.filter(col("doc_id") < 400)))
      .orderBy(col("doc_id"))
  }

  /** q218 — GATE REVIEW-QUEUE SUMMARY (the operational readout of the
    * delivery sink table, SURVEY §7.9 r19 #3): the q217 provenance frame
    * rolled up per status — deliveries, distinct matched seeds, and the
    * heaviest seed (most deliveries, ties to the lowest id) with its
    * count: the "one document poisoning the ingest" alarm a review queue
    * fires on. The rule is [[graft.streaming.GateDeliveries
    * .reviewSummary]] — one rule, two consumers: this oracle-checked
    * batch twin computes the frame in-plan; the streaming consumer runs
    * the same summary over the sink table's parquet (GateDeliveriesSpec
    * pins their equality). Aggregation is one (status, seed) partial agg
    * + a per-status max(struct) arg-max — at 100 TB the frame reduces to
    * ≤(statuses × seeds) rows before anything wide moves. */
  def gateReviewQueue(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsTable(spark, dir)
    // no pin needed since reviewSummary went single-pass (opt r20): the
    // whole readout is one aggregation chain over one classify evaluation
    val frame = gateClassifyProvenance(docs.filter(col("doc_id") >= 400),
      gateSignatureData(docs.filter(col("doc_id") < 400)))
    graft.streaming.GateDeliveries.reviewSummary(frame)
      .orderBy(col("status"))
  }

  /** q219 — GATE BATCH CHAIN (the first ORACLE-CHECKED multi-batch state
    * evolution; until now the cross-batch discipline — batch N classifies
    * against seed + batches 0..N-1's ACCEPTS — lived only in specs):
    * batch 0 = doc_id ∈ [400, 475) against the < 400 seed, batch 1 =
    * doc_id ≥ 475 against seed ∪ batch-0 accepts, both frames unioned
    * with their batch id. This is [[graft.streaming.GateLoop]]'s
    * sequential semantics unrolled in ONE plan (exactly like the vocab
    * family's unrolled training chains): accepts = the `new` rows,
    * signatures of accepts union into the snapshot, owners stay the
    * per-key min src. The signature frames checkpoint between stages —
    * the chain is inherently sequential (stage N+1's snapshot depends on
    * stage N's accepts), so the one thing to avoid is recomputing stage
    * N's whole subtree inside stage N+1, the q203 delta-trainer lesson.
    * At 100 TB the live path is the streaming gate; this query pins the
    * state-threading rule against DuckDB. */
  def gateBatchChain(spark: SparkSession, dir: String): DataFrame =
    gateBatchChainFrames(spark, dir).orderBy(col("doc_id"))

  /** [[gateBatchChain]] WITHOUT the final global sort — the q222/q224/
    * q225/q226 readouts aggregate the chain immediately, so their
    * checkpoint was materializing a range-partitioned sort nobody
    * consumed (opt r20); q219 keeps the ordered form as its declared
    * output. */
  private def gateBatchChainFrames(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsTable(spark, dir)
    val seed = docs.filter(col("doc_id") < 400)
    // split at 475: the testdata plants near-dup pairs with BOTH members
    // ≥ 400 straddling it (474/498 at sf0.001, 435/486 at sf0.01), so a
    // batch-1 doc matches a batch-0 ACCEPT at every verify scale — the
    // cross-batch threading is what the oracle pins, and a split where
    // no pair straddles would never exercise it
    val b0 = docs.filter(col("doc_id") >= 400 && col("doc_id") < 475)
    val b1 = docs.filter(col("doc_id") >= 475)
    val sig0 = gateSignatureData(seed).localCheckpoint(true)
    val fr0 = gateClassifyProvenance(b0, sig0).localCheckpoint(true)
    val acc0 = b0.join(fr0.filter(col("status") === "new").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val sig1 = sig0.unionByName(gateSignatureData(acc0))
    val fr1 = gateClassifyProvenance(b1, sig1)
    fr0.withColumn("batch", lit(0L))
      .unionByName(fr1.withColumn("batch", lit(1L)))
  }

  /** The gate's ACCEPTED docs (status = `new` in the q217 frame) — the
    * curated corpus the pipeline's downstream trains on. */
  private def acceptedDocs(docs: DataFrame): DataFrame = {
    val frame = gateClassifyProvenance(docs.filter(col("doc_id") >= 400),
      gateSignatureData(docs.filter(col("doc_id") < 400)))
    docs.filter(col("doc_id") >= 400)
      .join(frame.filter(col("status") === "new").select("doc_id"),
        Seq("doc_id"), "left_semi")
  }

  /** q220 — CURATION EXPORT MANIFEST (the step AFTER the gate, closing
    * ingest → gate → training shards end to end, SURVEY §7.9 refreshed
    * candidate #3): the accepted (`status = new`) docs feed the q73/q168
    * packing rule verbatim ([[Pipeline.packAssign]] — per-shard
    * exclusive-prefix-sum div budget, one shuffle on the shard key, never
    * a global cumsum) and the manifest reports each training shard's
    * (shard, pack_id, n_docs, pack_tokens). Budget 512 so multiple packs
    * exist per shard at the verify scales; [[curatedShardsWrite]] is the
    * writer that lays the files out by the SAME assignment — spec pins
    * manifest ≡ what was actually written. */
  def curationExport(spark: SparkSession, dir: String): DataFrame =
    Pipeline.packSequences(acceptedDocs(docsTable(spark, dir)),
      budget = 512, shards = 4)

  /** q223 — TOKENIZER-TRUE CURATION EXPORT (SURVEY §7.9 third-refresh
    * candidate #2: q220 bills its packs in whitespace tokens, but a pack
    * budget is a TRAINER budget — sequence positions under the deployed
    * vocab — so a whitespace-billed pack over-fills by the vocab's
    * compression ratio): the same gate-accepted set, `n_tok` = the
    * BPE-ENCODED token count under the corpus-trained vocab
    * ([[TextStats.bpeTokenCounts]] — the q205 encode fold read per doc:
    * merge table pivots to one broadcast row, ten chained codegen'd
    * replaces in one map-side projection, zero shuffles before the pack
    * window), then the identical q73/q220 packing rule
    * ([[Pipeline.packAssignTok]]). Same budget/shards as q220, so the
    * manifests diff directly: fewer packs per shard IS the compression
    * dividend, the tokens the vocab buys back from the training budget.
    * This ties the vocab-store chain into the export chain — the
    * manifest bills in the same tokens the trainer consumes. */
  def curationExportBpe(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.operators.TextStats.bpeTokenCounts(
      acceptedDocs(docsTable(spark, dir)),
      graft.operators.TextStats.bpeTrain(spark, dir))
    Pipeline.manifestOf(Pipeline.packAssignTok(toks, budget = 512, shards = 4))
  }

  /** The q220 manifest's writer: accepted docs land in
    * `outDir/shard=<s>/pack_id=<p>/` — one partition dir per training
    * pack, the layout a sequence-packing trainer mmaps shard-parallel.
    * Partition pruning gives a trainer worker its shard's dirs for free;
    * at 100 TB the write is one shuffle on (shard) for the window plus
    * the partitioned write, no global order anywhere. */
  def curatedShardsWrite(spark: SparkSession, dir: String, outDir: String,
                         budget: Int = 512, shards: Int = 4): Unit = {
    // checkpoint: the writer uses `accepted` twice (payloads + the
    // window assignment) — don't classify the gate frame twice
    val accepted = acceptedDocs(docsTable(spark, dir)).localCheckpoint(true)
    writeShards(accepted, Pipeline.packAssign(accepted, budget, shards), outDir)
  }

  /** The q223 manifest's writer — [[curatedShardsWrite]] with the packs
    * cut by BPE-encoded token counts, so the files on disk are the packs
    * the tokenizer-true manifest bills (spec pins layout ≡ q223). */
  def curatedShardsWriteBpe(spark: SparkSession, dir: String, outDir: String,
                            budget: Int = 512, shards: Int = 4): Unit = {
    val accepted = acceptedDocs(docsTable(spark, dir)).localCheckpoint(true)
    val toks = graft.operators.TextStats.bpeTokenCounts(accepted,
      graft.operators.TextStats.bpeTrain(spark, dir))
    writeShards(accepted, Pipeline.packAssignTok(toks, budget, shards), outDir)
  }

  /** Shared layout writer: accepted payloads joined to a pack assignment,
    * landed `shard=<s>/pack_id=<p>/` — the mmap-parallel trainer layout. */
  private def writeShards(accepted: DataFrame, assign: DataFrame,
                          outDir: String): Unit =
    accepted.join(assign, Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("n_tok"),
        col("shard"), col("pack_id"))
      .write.mode("overwrite").partitionBy("shard", "pack_id")
      .parquet(outDir)

  /** q222 — GATE HEALTH (the dashboard over the gate's batch history,
    * SURVEY §7.9 third-refresh candidate #3): per (batch, status) —
    * deliveries and their share of the batch, over the q219 two-batch
    * chain so the mix has a real batch axis. The rule is
    * [[graft.streaming.GateDeliveries.batchMix]] — one rule, two
    * consumers: operations runs the same readout over the review-queue
    * sink table (whose `batch` column [[graft.streaming.GateDeliveries
    * .read]] provides), this oracle-checked twin over the in-plan
    * chain. A drifting exact_dup share across batches is the "ingest
    * is re-sending the corpus" alarm. */
  def gateHealth(spark: SparkSession, dir: String): DataFrame =
    // no chain pin needed since batchMix went single-pass (opt r20): the
    // readout references the chain exactly once, so the one evaluation
    // happens inside the one job — the barrier bought nothing anymore
    // (the pin era: r19 measured 4.35 s → 3.65 s at 32× against the old
    // per⋈tot join-back, which referenced the chain twice)
    graft.streaming.GateDeliveries.batchMix(gateBatchChainFrames(spark, dir))
      .orderBy(col("batch"), col("status"))

  /** q224 — GATE MIX DRIFT (the queue-side drift rule SURVEY §7.9 left
    * open after q222: the share table SHOWS the mix, an alert needs one
    * scalar): per consecutive batch pair of the q219 chain, the
    * Jensen-Shannon divergence between the batches' delivery
    * composition over `status:matched_seed` keys — rising jsd = the
    * ingest's composition is moving (a status flip, a new dominant
    * seed), q199's quantized-integer JSD discipline verbatim
    * ([[graft.streaming.GateDeliveries.mixDrift]] — one rule, two
    * consumers: operations runs it over the review-queue sink table).
    * At 100 TB: each delivery feeds two (pair, key) contributions into
    * uniform-key partial aggs; the frame reduces to ≤(batches × keys)
    * rows before the ≤batches-row broadcast join — nothing wide ever
    * moves. */
  def gateMixDrift(spark: SparkSession, dir: String): DataFrame =
    // no chain pin needed since mixDrift's pair contributions went from a
    // self-union (chain referenced TWICE; the r19 pin bought 7.1 → 4.1 s
    // at 32×) to one in-row explode — single reference, single evaluation
    graft.streaming.GateDeliveries.mixDrift(gateBatchChainFrames(spark, dir))
      .orderBy(col("batch"))

  /** q226 — GATE SEED DRILL-DOWN (round-20 candidate #3 pulled forward —
    * the step AFTER a q225 flag fires: q218's heaviest-seed readout
    * scoped to the batch axis, [[graft.streaming.GateDeliveries
    * .reviewSummaryBy]] over (batch, status) — per flagged cell the
    * drill-down names deliveries, distinct seeds, and the heaviest seed
    * with its count, turning "batch 1's near_dups spiked" into the
    * document to go look at. Same one-pass (group, seed) partial agg +
    * max(struct) arg-max as q218, never a sort; one rule, two consumers
    * (the sink-table reader is the operational one). */
  def gateSeedDrilldown(spark: SparkSession, dir: String): DataFrame =
    // no chain pin needed since reviewSummaryBy went single-pass (opt r20)
    graft.streaming.GateDeliveries.reviewSummaryBy(
        gateBatchChainFrames(spark, dir), Seq("batch", "status"))
      .orderBy(col("batch"), col("status"))

  /** q225 — GATE MIX ANOMALY (round-20 candidate #1 pulled forward:
    * q224 emits the per-pair drift scalar, this turns the queue's batch
    * history into the ALERT — q131's robust median/MAD flag over the
    * per-(status, batch) delivery counts, [[graft.streaming
    * .GateDeliveries.mixAnomaly]]; one rule, two consumers, the
    * sink-table reader being the operational one). The chain twin's two
    * batches pin the whole arithmetic (medians, MAD, the modified-z and
    * both flag branches land in the frame) while no flag can fire from
    * two points by construction — a two-point series has |z| = 0.6745
    * under MAD > 0 and c = med under MAD = 0; the alarm's firing
    * behavior over a real history is spec-pinned on an 8-batch sink
    * table (GateDeliverySpec). */
  def gateMixAnomaly(spark: SparkSession, dir: String): DataFrame =
    // no chain pin needed since mixAnomaly's medians ride windows over
    // the reduced frame (opt r20) — chain referenced once
    graft.streaming.GateDeliveries.mixAnomaly(gateBatchChainFrames(spark, dir))
      .orderBy(col("batch"), col("status"))

  val queries: Map[String, QueryFn] = Map(
    "q226_gate_seed_drilldown" -> (gateSeedDrilldown(_, _)),
    "q225_gate_mix_anomaly" -> (gateMixAnomaly(_, _)),
    "q224_gate_mix_drift" -> (gateMixDrift(_, _)),
    "q223_curation_export_bpe" -> (curationExportBpe(_, _)),
    "q222_gate_health" -> (gateHealth(_, _)),
    "q220_curation_export" -> (curationExport(_, _)),
    "q219_gate_batch_chain" -> (gateBatchChain(_, _)),
    "q218_gate_review_queue" -> (gateReviewQueue(_, _)),
    "q217_dedup_gate_provenance" -> (dedupGateProvenance(_, _)),
    "q40_dedup_exact" -> exactDedup _,
    "q41_dedup_minhash_sig" -> minhashSignatures _,
    "q42_dedup_lsh_pairs" -> lshNearDupPairs _,
    "q43_dedup_simhash" -> simhash _,
    "q52_dedup_simhash_pairs" -> simhashHammingPairs _,
    "q60_dedup_ngram_jaccard" -> (ngramJaccardPairs(_, _)),
    "q161_dedup_containment" -> ((s: SparkSession, dir: String) =>
      containmentPairs(s, dir)),
    "q88_dedup_ngram_exact" ->
      ((s: SparkSession, dir: String) => ngramJaccardPairsExact(s, dir)),
    "q77_dedup_clusters" -> (dedupClusters(_, _)),
    "q162_cluster_labels" -> ((s: SparkSession, dir: String) =>
      clusterTopTerms(s, dir)),
    "q79_dedup_incremental" -> (incrementalDedup(_, _)),
    "q132_dedup_sorted_neighborhood" -> (snmNearDupPairs(_, _)),
    "q133_entity_match" -> (entityMatchPairs(_, _)),
    "q92_dedup_dup_spans" -> (dupSpanCoverage(_, _)),
    "q95_dedup_span_cut" -> (dupSpanCut(_, _))
  )

  /** Shared oracle CTE: token 3-gram shingles per doc. */
  private val shingleCte =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id,
      |        list_transform(range(1, len(toks)-1),
      |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
      |      FROM t WHERE len(toks) >= 3)""".stripMargin

  /** Oracle CTE ending in `shv(doc_id, simhash)`. */
  private val simhashCte: String = {
    val bits = (0 until 60)
      .map(j => s"CAST(sum(CASE WHEN ((v >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$j")
      .mkString(",\n        ")
    val recompose = (0 until 60)
      .map(j => s"(CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tv AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS v FROM tok),
       |bits AS (SELECT doc_id,
       |        $bits
       |    FROM tv GROUP BY doc_id),
       |shv AS (SELECT doc_id, $recompose AS simhash FROM bits)""".stripMargin
  }

  /** The q219 two-batch chain as oracle CTEs ending in `ch`
    * (doc_id, status, matched_seed, score, batch) — q219 reads it
    * straight, q222 aggregates the per-batch status mix. */
  private lazy val gateChainCtes =
    s"""$shingleCte,
         |m AS (SELECT doc_id,
         |        list_min(list_transform(sh, x -> (1926525167 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 12345) % 4294967311)) AS mh0,
         |        list_min(list_transform(sh, x -> (688951733 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 67890) % 4294967311)) AS mh1,
         |        list_min(list_transform(sh, x -> (1223106847 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 24680) % 4294967311)) AS mh2,
         |        list_min(list_transform(sh, x -> (582307621 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 13579) % 4294967311)) AS mh3
         |      FROM s),
         |b AS (SELECT doc_id, '0:' || md5(CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)) AS band FROM m
         |      UNION ALL
         |      SELECT doc_id, '1:' || md5(CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR)) FROM m),
         |own0 AS (SELECT band, min(doc_id) AS src FROM b WHERE doc_id < 400 GROUP BY 1),
         |ex0 AS (SELECT n.doc_id, min(c.doc_id) AS exact_seed
         |        FROM documents n JOIN documents c
         |          ON c.doc_id < 400 AND n.doc_id >= 400 AND n.doc_id < 475 AND c.text = n.text
         |        GROUP BY 1),
         |nr00 AS (SELECT bn.doc_id, o.src, CAST(count(*) AS BIGINT) AS n
         |         FROM b bn JOIN own0 o USING (band)
         |         WHERE bn.doc_id >= 400 AND bn.doc_id < 475 GROUP BY 1, 2),
         |nr0 AS (SELECT doc_id, src, n FROM (
         |         SELECT doc_id, src, n,
         |                row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, src) AS rn
         |         FROM nr00) WHERE rn = 1),
         |fr0 AS (SELECT d.doc_id,
         |         CASE WHEN e.exact_seed IS NOT NULL THEN 'exact_dup'
         |              WHEN nr0.src IS NOT NULL THEN 'near_dup' ELSE 'new' END AS status,
         |         CASE WHEN e.exact_seed IS NOT NULL THEN e.exact_seed ELSE nr0.src END AS matched_seed,
         |         CASE WHEN e.exact_seed IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |              ELSE CAST(nr0.n AS DOUBLE) END AS score
         |        FROM documents d
         |        LEFT JOIN ex0 e ON e.doc_id = d.doc_id
         |        LEFT JOIN nr0 ON nr0.doc_id = d.doc_id
         |        WHERE d.doc_id >= 400 AND d.doc_id < 475),
         |corp1 AS (SELECT doc_id FROM documents WHERE doc_id < 400
         |          UNION ALL SELECT doc_id FROM fr0 WHERE status = 'new'),
         |own1 AS (SELECT b.band, min(b.doc_id) AS src
         |         FROM b JOIN corp1 c ON b.doc_id = c.doc_id GROUP BY 1),
         |ex1 AS (SELECT n.doc_id, min(c.doc_id) AS exact_seed
         |        FROM documents n
         |        JOIN documents c ON c.text = n.text
         |        JOIN corp1 cc ON c.doc_id = cc.doc_id
         |        WHERE n.doc_id >= 475
         |        GROUP BY 1),
         |nr10 AS (SELECT bn.doc_id, o.src, CAST(count(*) AS BIGINT) AS n
         |         FROM b bn JOIN own1 o USING (band)
         |         WHERE bn.doc_id >= 475 GROUP BY 1, 2),
         |nr1 AS (SELECT doc_id, src, n FROM (
         |         SELECT doc_id, src, n,
         |                row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, src) AS rn
         |         FROM nr10) WHERE rn = 1),
         |fr1 AS (SELECT d.doc_id,
         |         CASE WHEN e.exact_seed IS NOT NULL THEN 'exact_dup'
         |              WHEN nr1.src IS NOT NULL THEN 'near_dup' ELSE 'new' END AS status,
         |         CASE WHEN e.exact_seed IS NOT NULL THEN e.exact_seed ELSE nr1.src END AS matched_seed,
         |         CASE WHEN e.exact_seed IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |              ELSE CAST(nr1.n AS DOUBLE) END AS score
         |        FROM documents d
         |        LEFT JOIN ex1 e ON e.doc_id = d.doc_id
         |        LEFT JOIN nr1 ON nr1.doc_id = d.doc_id
         |        WHERE d.doc_id >= 475),
         |ch AS (SELECT fr0.*, CAST(0 AS BIGINT) AS batch FROM fr0
         |       UNION ALL
         |       SELECT fr1.*, CAST(1 AS BIGINT) AS batch FROM fr1)""".stripMargin

  /** The text gate's provenance frame as oracle CTEs ending in `fr` —
    * q217 reads it straight, q218 aggregates it (one frame, two
    * readouts, mirroring gateClassifyProvenance feeding both). */
  private[operators] lazy val gateFrameCtes =
    s"""$shingleCte,
       |m AS (SELECT doc_id,
       |        list_min(list_transform(sh, x -> (1926525167 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 12345) % 4294967311)) AS mh0,
       |        list_min(list_transform(sh, x -> (688951733 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 67890) % 4294967311)) AS mh1,
       |        list_min(list_transform(sh, x -> (1223106847 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 24680) % 4294967311)) AS mh2,
       |        list_min(list_transform(sh, x -> (582307621 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 13579) % 4294967311)) AS mh3
       |      FROM s),
       |b AS (SELECT doc_id, '0:' || md5(CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)) AS band FROM m
       |      UNION ALL
       |      SELECT doc_id, '1:' || md5(CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR)) FROM m),
       |own AS (SELECT band, min(doc_id) AS src FROM b WHERE doc_id < 400 GROUP BY 1),
       |ex AS (SELECT n.doc_id, min(c.doc_id) AS exact_seed
       |       FROM documents n JOIN documents c
       |         ON c.doc_id < 400 AND n.doc_id >= 400 AND c.text = n.text
       |       GROUP BY 1),
       |nr0 AS (SELECT bn.doc_id, o.src, CAST(count(*) AS BIGINT) AS n
       |        FROM b bn JOIN own o USING (band)
       |        WHERE bn.doc_id >= 400 GROUP BY 1, 2),
       |nr AS (SELECT doc_id, src, n FROM (
       |        SELECT doc_id, src, n,
       |               row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, src) AS rn
       |        FROM nr0) WHERE rn = 1),
       |fr AS (SELECT d.doc_id,
       |  CASE WHEN e.exact_seed IS NOT NULL THEN 'exact_dup'
       |       WHEN nr.src IS NOT NULL THEN 'near_dup' ELSE 'new' END AS status,
       |  CASE WHEN e.exact_seed IS NOT NULL THEN e.exact_seed ELSE nr.src END AS matched_seed,
       |  CASE WHEN e.exact_seed IS NOT NULL THEN CAST(1.0 AS DOUBLE)
       |       ELSE CAST(nr.n AS DOUBLE) END AS score
       |FROM documents d
       |LEFT JOIN ex e ON e.doc_id = d.doc_id
       |LEFT JOIN nr ON nr.doc_id = d.doc_id
       |WHERE d.doc_id >= 400)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q40_dedup_exact" ->
      """SELECT lang, count(*) AS n_unique,
        |       CAST(sum(n_copies - 1) AS BIGINT) AS n_removed
        |FROM (SELECT lang, sha256(text) AS h,
        |             count(*) AS n_copies
        |      FROM (SELECT doc_id, lang, text FROM documents
        |            UNION ALL SELECT doc_id, lang, text FROM documents)
        |      GROUP BY 1, 2)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_dedup_minhash_sig" ->
      s"""$shingleCte,
         |m AS (SELECT doc_id,
         |        list_min(list_transform(sh, x -> (1926525167 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 12345) % 4294967311)) AS mh0,
         |        list_min(list_transform(sh, x -> (688951733 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 67890) % 4294967311)) AS mh1,
         |        list_min(list_transform(sh, x -> (1223106847 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 24680) % 4294967311)) AS mh2,
         |        list_min(list_transform(sh, x -> (582307621 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 13579) % 4294967311)) AS mh3
         |      FROM s)
         |SELECT doc_id, mh0, mh1, mh2, mh3,
         |       md5(CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)) AS band0,
         |       md5(CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR)) AS band1
         |FROM m ORDER BY doc_id""".stripMargin,
    "q42_dedup_lsh_pairs" ->
      s"""$shingleCte,
         |m AS (SELECT doc_id,
         |        list_min(list_transform(sh, x -> (1926525167 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 12345) % 4294967311)) AS mh0,
         |        list_min(list_transform(sh, x -> (688951733 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 67890) % 4294967311)) AS mh1,
         |        list_min(list_transform(sh, x -> (1223106847 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 24680) % 4294967311)) AS mh2,
         |        list_min(list_transform(sh, x -> (582307621 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 13579) % 4294967311)) AS mh3
         |      FROM s),
         |melted AS (
         |  SELECT doc_id, 0 AS band, mh0 AS h FROM m
         |  UNION ALL SELECT doc_id, 1, mh1 FROM m
         |  UNION ALL SELECT doc_id, 2, mh2 FROM m
         |  UNION ALL SELECT doc_id, 3, mh3 FROM m),
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |         FROM melted l JOIN melted r
         |           ON l.band = r.band AND l.h = r.h AND l.doc_id < r.doc_id),
         |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM s),
         |j AS (SELECT cand.a, cand.b,
         |        len(list_intersect(sa.shd, sb.shd)) AS inter,
         |        len(sa.shd) AS la, len(sb.shd) AS lb
         |      FROM cand
         |      JOIN sets sa ON sa.doc_id = cand.a
         |      JOIN sets sb ON sb.doc_id = cand.b)
         |SELECT a, b,
         |       round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
         |FROM j ORDER BY jaccard DESC, a, b LIMIT 20""".stripMargin,
    "q43_dedup_simhash" ->
      s"""$simhashCte
         |SELECT doc_id, simhash FROM shv ORDER BY doc_id""".stripMargin,
    "q52_dedup_simhash_pairs" ->
      s"""$simhashCte
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM shv a JOIN shv b
         |  ON (a.simhash >> 44) = (b.simhash >> 44) AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
         |ORDER BY hamming, a, b""".stripMargin,
    "q60_dedup_ngram_jaccard" ->
      s"""$shingleCte,
         |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM s),
         |post AS (SELECT doc_id, unnest(shd) AS sh FROM sets),
         |df AS (SELECT sh, count(*) AS df FROM post GROUP BY 1),
         |postf AS (SELECT p.doc_id, p.sh FROM post p JOIN df ON df.sh = p.sh
         |          WHERE df.df <= $MaxDf),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS ninter
         |          FROM postf l JOIN postf r
         |            ON l.sh = r.sh AND l.doc_id < r.doc_id
         |          GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(shd) AS sz FROM sets),
         |j AS (SELECT a, b,
         |        round(CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter), 6) AS jaccard
         |      FROM inter
         |      JOIN sizes sa ON sa.doc_id = a
         |      JOIN sizes sb ON sb.doc_id = b)
         |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY jaccard DESC, a, b""".stripMargin,
    "q161_dedup_containment" ->
      s"""$shingleCte,
         |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM s),
         |post AS (SELECT doc_id, unnest(shd) AS sh FROM sets),
         |df AS (SELECT sh, count(*) AS df FROM post GROUP BY 1),
         |postf AS (SELECT p.doc_id, p.sh FROM post p JOIN df ON df.sh = p.sh
         |          WHERE df.df <= $MaxDf),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS ninter
         |          FROM postf l JOIN postf r
         |            ON l.sh = r.sh AND l.doc_id < r.doc_id
         |          GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(shd) AS sz FROM sets),
         |j AS (SELECT a, b,
         |        round(CAST(ninter AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment,
         |        round(CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter), 6) AS jaccard
         |      FROM inter
         |      JOIN sizes sa ON sa.doc_id = a
         |      JOIN sizes sb ON sb.doc_id = b)
         |SELECT a, b, containment, jaccard FROM j WHERE containment >= 0.9
         |ORDER BY containment DESC, a, b""".stripMargin,
    // the exact variant: same query WITHOUT the df cap — the oracle for the
    // prefix-filtered engine plan is plain uncapped Jaccard
    "q88_dedup_ngram_exact" ->
      s"""$shingleCte,
         |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM s),
         |post AS (SELECT doc_id, unnest(shd) AS sh FROM sets),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS ninter
         |          FROM post l JOIN post r
         |            ON l.sh = r.sh AND l.doc_id < r.doc_id
         |          GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(shd) AS sz FROM sets),
         |j AS (SELECT a, b,
         |        round(CAST(ninter AS DOUBLE) / (sa.sz + sb.sz - ninter), 6) AS jaccard
         |      FROM inter
         |      JOIN sizes sa ON sa.doc_id = a
         |      JOIN sizes sb ON sb.doc_id = b)
         |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY jaccard DESC, a, b""".stripMargin,
    // connected components via transitive closure — O(paths²) is fine as a
    // TEST-SCALE oracle; the engine side never materializes the closure
    "q77_dedup_clusters" ->
      s"""${simhashCte.replaceFirst("WITH tok", "WITH RECURSIVE tok")},
         |pairs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM shv a JOIN shv b
         |    ON (a.simhash >> 44) = (b.simhash >> 44) AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 12),
         |edges AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |lab AS (SELECT s AS node, least(s, min(d)) AS label FROM reach GROUP BY s)
         |SELECT label AS cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |FROM lab GROUP BY label
         |ORDER BY n_members DESC, cluster_id""".stripMargin,
    // q77's label CTEs + the class-based TF-IDF scoring over clustered docs
    "q162_cluster_labels" ->
      s"""${simhashCte.replaceFirst("WITH tok", "WITH RECURSIVE tok")},
         |pairs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM shv a JOIN shv b
         |    ON (a.simhash >> 44) = (b.simhash >> 44) AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 12),
         |edges AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |lab AS (SELECT s AS node, least(s, min(d)) AS label FROM reach GROUP BY s),
         |tk AS (SELECT l.label AS cluster_id, unnest(string_split(d.text, ' ')) AS tok
         |       FROM lab l JOIN documents d ON d.doc_id = l.node),
         |tf AS (SELECT cluster_id, tok, count(*) AS tf FROM tk
         |       WHERE tok <> '' GROUP BY 1, 2),
         |ct AS (SELECT cluster_id, CAST(sum(tf) AS BIGINT) AS ctot FROM tf GROUP BY 1),
         |cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS f FROM tf GROUP BY 1),
         |aa AS (SELECT CAST(sum(ctot) AS DOUBLE) / count(*) AS abig FROM ct),
         |sc AS (SELECT t.cluster_id, t.tok, CAST(t.tf AS BIGINT) AS tf,
         |         round((CAST(t.tf AS DOUBLE) / ct.ctot)
         |           * ln(1.0 + aa.abig / cf.f), 6) + 0.0 AS score
         |       FROM tf t JOIN ct USING (cluster_id) JOIN cf USING (tok)
         |       CROSS JOIN aa),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY score DESC, tok) AS rnk FROM sc)
         |SELECT cluster_id, CAST(rnk AS INT) AS rnk, tok, tf, score
         |FROM r WHERE rnk <= 3 ORDER BY cluster_id, rnk""".stripMargin,
    // q79's band CTEs + key-owner provenance: owner = min seed doc per
    // band; near arg-max = most shared bands, ties to the lowest owner —
    // the identical comparison keys to Spark's max(struct(n, -src))
    "q217_dedup_gate_provenance" ->
      s"""$gateFrameCtes
         |SELECT doc_id, status, matched_seed, score
         |FROM fr ORDER BY doc_id""".stripMargin,
    // the accepted set through the q73 packing rule (shard cumsum)
    "q220_curation_export" ->
      s"""$gateFrameCtes,
         |acc AS (SELECT d.doc_id, d.text FROM documents d
         |        JOIN fr ON fr.doc_id = d.doc_id WHERE fr.status = 'new'),
         |t2 AS (SELECT doc_id, doc_id % 4 AS shard,
         |              len(string_split(text, ' ')) AS n_tok FROM acc),
         |c AS (SELECT shard, doc_id, n_tok,
         |        sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                         ROWS UNBOUNDED PRECEDING) - n_tok AS prefix
         |      FROM t2)
         |SELECT shard, CAST(prefix // 512 AS BIGINT) AS pack_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS pack_tokens
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q220's accepted set billed in BPE tokens: the q205 unrolled train
    // chain's final rewrite r10 IS the encoded corpus, its per-doc token
    // count feeds the identical shard-cumsum pack window
    "q223_curation_export_bpe" ->
      s"""$gateFrameCtes,
         |${TextStats.bpeChainCtes(TextStats.BpeTrainRounds,
              withStats = false, rewriteLast = true)},
         |acc AS (SELECT d.doc_id FROM documents d
         |        JOIN fr ON fr.doc_id = d.doc_id WHERE fr.status = 'new'),
         |t2 AS (SELECT a.doc_id, a.doc_id % 4 AS shard,
         |         len(string_split(substring(r.seq, 2, length(r.seq) - 2),
         |             chr(2) || chr(1))) AS n_tok
         |       FROM acc a JOIN r${TextStats.BpeTrainRounds} r USING (doc_id)),
         |pw AS (SELECT shard, doc_id, n_tok,
         |        sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                         ROWS UNBOUNDED PRECEDING) - n_tok AS prefix
         |      FROM t2)
         |SELECT shard, CAST(prefix // 512 AS BIGINT) AS pack_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS pack_tokens
         |FROM pw GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the two-batch chain unrolled: batch 1's owners/exact sources are
    // seed ∪ batch-0 accepts — per-key min src over a union of key-sets
    // that are DISJOINT by the gate rule itself (a batch-0 doc sharing
    // any key with the seed was never accepted)
    "q219_gate_batch_chain" ->
      s"""$gateChainCtes
         |SELECT doc_id, status, matched_seed, score, batch
         |FROM ch ORDER BY doc_id""".stripMargin,
    // q218's heaviest-seed readout scoped per (batch, status) — q226's
    // drill-down; row_number arg-max on the identical (n DESC, seed)
    // keys to Spark's max(struct)
    "q226_gate_seed_drilldown" ->
      s"""$gateChainCtes,
         |ps AS (SELECT batch, status, matched_seed,
         |         CAST(count(*) AS BIGINT) AS n
         |       FROM ch GROUP BY 1, 2, 3),
         |tp AS (SELECT batch, status, matched_seed AS top_seed,
         |              n AS top_seed_n FROM (
         |        SELECT batch, status, matched_seed, n,
         |               row_number() OVER (PARTITION BY batch, status
         |                 ORDER BY n DESC, matched_seed) AS rn
         |        FROM ps WHERE matched_seed IS NOT NULL) WHERE rn = 1),
         |ag AS (SELECT batch, status, CAST(sum(n) AS BIGINT) AS n_docs,
         |         CAST(count(CASE WHEN matched_seed IS NOT NULL THEN 1 END) AS BIGINT) AS n_seeds
         |       FROM ps GROUP BY 1, 2)
         |SELECT ag.batch, ag.status, ag.n_docs, ag.n_seeds,
         |       tp.top_seed, tp.top_seed_n
         |FROM ag LEFT JOIN tp USING (batch, status)
         |ORDER BY ag.batch, ag.status""".stripMargin,
    // q131's median/MAD flag over the chain's per-(status, batch)
    // counts — q225's rule; quantile_cont ≡ Spark percentile, the q131
    // oracle discipline verbatim
    "q225_gate_mix_anomaly" ->
      s"""$gateChainCtes,
         |per AS (SELECT status, batch, CAST(count(*) AS BIGINT) AS n_docs
         |        FROM ch GROUP BY 1, 2),
         |med AS (SELECT status, quantile_cont(n_docs, 0.5) AS med
         |        FROM per GROUP BY 1),
         |wm AS (SELECT p.batch, p.status, p.n_docs, m.med
         |       FROM per p JOIN med m USING (status)),
         |md AS (SELECT status, quantile_cont(abs(n_docs - med), 0.5) AS mad
         |       FROM wm GROUP BY 1)
         |SELECT wm.batch, wm.status, wm.n_docs,
         |       round(wm.med, 4) AS median_n, round(md.mad, 4) AS mad_n,
         |       CASE WHEN md.mad > 0
         |            THEN round(0.6745 * (wm.n_docs - wm.med) / md.mad, 4) + 0.0 END
         |         AS robust_z,
         |       CASE WHEN md.mad > 0
         |            THEN abs(round(0.6745 * (wm.n_docs - wm.med) / md.mad, 4) + 0.0) > 3.5
         |            ELSE wm.n_docs <> wm.med END AS is_anomaly
         |FROM wm JOIN md USING (status)
         |ORDER BY wm.batch, wm.status""".stripMargin,
    // the chain's consecutive-pair composition drift — q224's rule:
    // q199's quantized micro-nat JSD over status:seed delivery keys;
    // boundary pairs drop via the two-sided HAVING, exactly the Spark
    // filter
    "q224_gate_mix_drift" ->
      s"""$gateChainCtes,
         |ky AS (SELECT batch,
         |         status || ':' || coalesce(CAST(matched_seed AS VARCHAR), '-') AS k
         |       FROM ch),
         |pc AS (SELECT batch + 1 AS batch, TRUE AS in_a, k FROM ky
         |       UNION ALL SELECT batch, FALSE AS in_a, k FROM ky),
         |cnt AS (SELECT batch, k,
         |          CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |          CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
         |        FROM pc GROUP BY 1, 2),
         |tot AS (SELECT batch, CAST(sum(a) AS BIGINT) AS atot,
         |          CAST(sum(b) AS BIGINT) AS btot,
         |          CAST(count(*) AS BIGINT) AS n_keys
         |        FROM cnt GROUP BY 1 HAVING sum(a) > 0 AND sum(b) > 0),
         |qd AS (SELECT cnt.batch,
         |         CASE WHEN a > 0 THEN a * CAST(round(ln(2.0 / (1.0
         |           + (CAST(b AS DOUBLE) / a) * (CAST(atot AS DOUBLE) / btot)))
         |           * 1000000) AS BIGINT) ELSE 0 END AS klp_q,
         |         CASE WHEN b > 0 THEN b * CAST(round(ln(2.0 / (1.0
         |           + (CAST(a AS DOUBLE) / b) * (CAST(btot AS DOUBLE) / atot)))
         |           * 1000000) AS BIGINT) ELSE 0 END AS klq_q,
         |         atot, btot, n_keys
         |       FROM cnt JOIN tot ON cnt.batch = tot.batch)
         |SELECT batch, min(n_keys) AS n_keys, min(atot) AS n_prev,
         |       min(btot) AS n_cur,
         |       round((CAST(sum(klp_q) AS DOUBLE) / 1000000 / min(atot)
         |         + CAST(sum(klq_q) AS DOUBLE) / 1000000 / min(btot)) / 2, 6)
         |         + 0.0 AS jsd
         |FROM qd GROUP BY 1 ORDER BY 1""".stripMargin,
    // the chain's per-batch status mix — q222's rule (n and share per
    // (batch, status))
    "q222_gate_health" ->
      s"""$gateChainCtes,
         |per AS (SELECT batch, status, CAST(count(*) AS BIGINT) AS n_docs
         |        FROM ch GROUP BY 1, 2),
         |tot AS (SELECT batch, CAST(sum(n_docs) AS BIGINT) AS n_batch
         |        FROM per GROUP BY 1)
         |SELECT per.batch, per.status, per.n_docs,
         |       round(CAST(per.n_docs AS DOUBLE) / tot.n_batch, 6) AS share
         |FROM per JOIN tot USING (batch)
         |ORDER BY per.batch, per.status""".stripMargin,
    // the frame rolled up per status; top seed = most deliveries, ties
    // to the lowest id — the identical keys to reviewSummary's
    // max(struct(n, -matched_seed))
    "q218_gate_review_queue" ->
      s"""$gateFrameCtes,
         |ps AS (SELECT status, matched_seed, CAST(count(*) AS BIGINT) AS n
         |       FROM fr GROUP BY 1, 2),
         |tp AS (SELECT status, matched_seed AS top_seed, n AS top_seed_n FROM (
         |        SELECT status, matched_seed, n,
         |               row_number() OVER (PARTITION BY status
         |                 ORDER BY n DESC, matched_seed) AS rn
         |        FROM ps WHERE matched_seed IS NOT NULL) WHERE rn = 1),
         |ag AS (SELECT status, CAST(sum(n) AS BIGINT) AS n_docs,
         |         CAST(count(CASE WHEN matched_seed IS NOT NULL THEN 1 END) AS BIGINT) AS n_seeds
         |       FROM ps GROUP BY 1)
         |SELECT ag.status, ag.n_docs, ag.n_seeds, tp.top_seed, tp.top_seed_n
         |FROM ag LEFT JOIN tp USING (status)
         |ORDER BY ag.status""".stripMargin,
    "q79_dedup_incremental" ->
      s"""$shingleCte,
         |m AS (SELECT doc_id,
         |        list_min(list_transform(sh, x -> (1926525167 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 12345) % 4294967311)) AS mh0,
         |        list_min(list_transform(sh, x -> (688951733 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 67890) % 4294967311)) AS mh1,
         |        list_min(list_transform(sh, x -> (1223106847 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 24680) % 4294967311)) AS mh2,
         |        list_min(list_transform(sh, x -> (582307621 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 13579) % 4294967311)) AS mh3
         |      FROM s),
         |b AS (SELECT doc_id, '0:' || md5(CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)) AS band FROM m
         |      UNION ALL
         |      SELECT doc_id, '1:' || md5(CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR)) FROM m),
         |status AS (
         |  SELECT n.doc_id,
         |    CASE WHEN EXISTS (SELECT 1 FROM documents c WHERE c.doc_id < 400 AND c.text = n.text)
         |           THEN 'exact_dup'
         |         WHEN EXISTS (SELECT 1 FROM b bn JOIN b bc ON bn.band = bc.band
         |                      WHERE bn.doc_id = n.doc_id AND bc.doc_id < 400)
         |           THEN 'near_dup'
         |         ELSE 'new' END AS status
         |  FROM documents n WHERE n.doc_id >= 400)
         |SELECT doc_id, status FROM status ORDER BY doc_id""".stripMargin,
    "q133_entity_match" ->
      """WITH s AS (
        |  SELECT c_nationkey AS nat, c_mktsegment AS seg, c_custkey, c_name,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |p AS (
        |  SELECT l.nat AS nationkey, l.seg AS mktsegment,
        |         l.c_custkey AS a, r.c_custkey AS b,
        |         levenshtein(l.c_name, r.c_name) AS edits,
        |         abs(l.cents - r.cents) AS bal_gap_cents
        |  FROM s l JOIN s r
        |    ON l.nat = r.nat AND l.seg = r.seg AND l.c_custkey < r.c_custkey)
        |SELECT nationkey, mktsegment, a, b, CAST(edits AS INT) AS edits,
        |       bal_gap_cents
        |FROM p WHERE edits <= 2
        |ORDER BY edits, bal_gap_cents, a, b LIMIT 30""".stripMargin,
    // single-window spec of the two-phase numbering + bounded range join
    // (the shipped plan is pos-bucketed; see snmNearDupPairs scaladoc)
    "q132_dedup_sorted_neighborhood" ->
      s"""$shingleCte,
         |m AS (SELECT doc_id,
         |        list_min(list_transform(sh, x -> (1926525167 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 12345) % 4294967311)) AS mh0,
         |        list_min(list_transform(sh, x -> (688951733 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 67890) % 4294967311)) AS mh1,
         |        list_min(list_transform(sh, x -> (1223106847 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 24680) % 4294967311)) AS mh2,
         |        list_min(list_transform(sh, x -> (582307621 * CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) + 13579) % 4294967311)) AS mh3
         |      FROM s),
         |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY mh0, mh1, doc_id) AS pos FROM m),
         |p1 AS (SELECT least(x.doc_id, y.doc_id) AS a, greatest(x.doc_id, y.doc_id) AS b
         |       FROM r1 x JOIN r1 y ON y.pos > x.pos AND y.pos - x.pos <= 5),
         |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY mh2, mh3, doc_id) AS pos FROM m),
         |p2 AS (SELECT least(x.doc_id, y.doc_id) AS a, greatest(x.doc_id, y.doc_id) AS b
         |       FROM r2 x JOIN r2 y ON y.pos > x.pos AND y.pos - x.pos <= 5),
         |cand AS (SELECT DISTINCT a, b FROM
         |         (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
         |sets AS (SELECT doc_id, list_distinct(sh) AS shd FROM s),
         |j AS (SELECT cand.a, cand.b,
         |        len(list_intersect(sa.shd, sb.shd)) AS inter,
         |        len(sa.shd) AS la, len(sb.shd) AS lb
         |      FROM cand
         |      JOIN sets sa ON sa.doc_id = cand.a
         |      JOIN sets sb ON sb.doc_id = cand.b),
         |v AS (SELECT a, b,
         |        round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
         |      FROM j)
         |SELECT a, b, jaccard FROM v WHERE jaccard >= 0.5
         |ORDER BY jaccard DESC, a, b LIMIT 20""".stripMargin,
    "q92_dedup_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(toks)-6),
        |          i -> substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16))) AS h
        |      FROM t WHERE len(toks) >= 8),
        |w AS (SELECT doc_id, h, count(*) AS cnt FROM s GROUP BY 1, 2),
        |d AS (SELECT doc_id, cnt, count(*) OVER (PARTITION BY h) AS n_docs FROM w)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_windows,
        |       CAST(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_windows,
        |       round(CAST(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS DOUBLE) / sum(cnt), 6) AS dup_ratio
        |FROM d GROUP BY 1 ORDER BY dup_ratio DESC, doc_id LIMIT 50""".stripMargin,
    // parallel unnest zips positions with hashes row-by-row in DuckDB
    "q95_dedup_span_cut" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |        unnest(range(1, len(toks)-6)) AS pos,
        |        unnest(list_transform(range(1, len(toks)-6),
        |          i -> substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16))) AS h
        |      FROM t WHERE len(toks) >= 8),
        |d AS (SELECT h FROM s GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT s.doc_id, s.pos + j AS tokpos
        |        FROM s JOIN d USING (h), unnest(range(0, 8)) AS r(j)),
        |per AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY doc_id)
        |SELECT a.doc_id, CAST(len(string_split(a.text, ' ')) AS BIGINT) AS n_tok,
        |       CAST(coalesce(p.n_covered, 0) AS BIGINT) AS n_covered,
        |       round(CAST(coalesce(p.n_covered, 0) AS DOUBLE) / len(string_split(a.text, ' ')), 6) AS covered_ratio
        |FROM documents a LEFT JOIN per p USING (doc_id)
        |ORDER BY covered_ratio DESC, a.doc_id LIMIT 100""".stripMargin
  )
}

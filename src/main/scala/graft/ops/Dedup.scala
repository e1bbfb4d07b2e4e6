package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (content-hash groupBy), MinHash+LSH
  * near-dup (shingle → minhash → band → bucket self-join → Jaccard
  * verify), SimHash fingerprints, and n-gram Jaccard verification.
  *
  * The synthetic `documents` corpus contains no natural duplicates
  * (500/500 distinct texts), so the dedup queries plant deterministic
  * duplicates in-query — every 100th document is re-added under
  * `doc_id + 1_000_000`, either verbatim (exact dedup) or with a 3-token
  * suffix (near-dup). The oracle SQL plants the identical rows, so both
  * engines see the same corpus.
  *
  * Scale notes: exact dedup is one hash-shuffle on md5(text) — the
  * canonical 100 TB dedup shape. The LSH path never compares all pairs:
  * candidates come from equi-joining on (band, minhash) buckets, so the
  * join fan-out is bounded by bucket collision counts, and only
  * candidates pay the exact-Jaccard verification. Signatures and that
  * verification run as native kernels (`min_md5`, `overlap_count` in
  * `graft.functions.DedupKernels`), not as interpreted lambdas.
  */
object Dedup {

  /** 3-word shingles (distinct) of the tokenized text. `toks` must exist. */
  val shinglesExpr: String =
    """CASE WHEN size(toks) >= 3 THEN
      |  array_distinct(transform(sequence(1, size(toks) - 2),
      |    i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
      |                   element_at(toks, i + 2))))
      |ELSE array() END""".stripMargin

  /** Seeded MinHash over the shingle set: min over shingles of
    * md5(seed || shingle), as a hex string (lexicographic min — identical
    * in any engine). One `min_md5` kernel call per seed; equal to
    * [[minhashHofExpr]], the composed form the oracle SQL spells out.
    * Callers register the kernel (`DedupKernels.register`).
    */
  def minhashExpr(seed: Int): String = s"min_md5(shingles, 'seed$seed')"

  /** The composed higher-order form `min_md5` replaces, kept as the
    * reference the kernel is tested against (DedupKernelsSpec).
    */
  def minhashHofExpr(seed: Int): String =
    s"array_min(transform(shingles, s -> md5(concat('seed$seed', s))))"

  /** documents corpus with every 100th doc re-added verbatim under
    * doc_id + 1,000,000 (planted exact duplicates).
    */
  def corpusWithExactDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** documents corpus with every 100th doc re-added with a 3-token suffix
    * (planted near-duplicates: Jaccard just under 1).
    */
  def corpusWithNearDups(spark: SparkSession, dir: String): DataFrame =
    corpusWithNearDupsTagged(spark, dir).drop("is_planted")

  /** `corpusWithNearDups` with an `is_planted` flag assigned AT
    * CONSTRUCTION: consumers that must distinguish planted copies from
    * base documents (q47's train-set builder) read the flag instead of
    * reverse-engineering the id-offset convention — a base corpus with
    * large ids could otherwise silently satisfy `doc_id >= 1e6`.
    */
  def corpusWithNearDupsTagged(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    docs.withColumn("is_planted", lit(false))
      .unionByName(
        docs.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" qq ww ee")).as("text"),
            lit(true).as("is_planted")))
  }

  /** Exact dedup: group by md5(text), emit groups with >1 copy as
    * (canonical_id, n_copies, content_hash).
    */
  def exactDuplicates(spark: SparkSession, dir: String): DataFrame =
    corpusWithExactDups(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("canonical_id", "n_copies", "content_hash")
      .orderBy("canonical_id")

  /** Per-document 4-seed MinHash signature (on the unmodified corpus). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.WordShingles.register(spark)
    graft.functions.DedupKernels.register(spark)
    Tables(spark, dir, "documents")
      .withColumn("shingles", expr("word_shingles(text, 3)"))
      .select(col("doc_id") +: (0 until 4).map(k =>
        expr(minhashExpr(k)).as(s"mh$k")): _*)
      .orderBy("doc_id")
  }

  /** Full LSH near-dup pipeline on the planted-near-dup corpus:
    * exact-dedup by content → shingle → 4 minhashes → 4 bands of 1 →
    * bucket self-join at the DISTINCT-CONTENT level → exact Jaccard on
    * shingle sets → keep >= 0.5 → expand back to document pairs.
    *
    * The signature stage (tokenize + shingle + 4×md5 — the dominant cost)
    * runs once per DISTINCT text, not once per document per downstream
    * join: content groups are formed first (one hash shuffle, the q17
    * exact-dedup shape), signatures are computed on the grouped table and
    * persisted, and banding plus both Jaccard join-backs read the cached
    * stage. Documents sharing a text never re-enter LSH — identical-text
    * pairs are emitted directly at Jaccard 1 from the content group's doc
    * list. This is the dedupe-before-LSH pattern that holds at 100 TB
    * (exact dups are the overwhelming majority of web-scale duplicates).
    *
    * persist caveat: SQL-cached plans stay registered in the session's
    * CacheManager until explicitly unpersisted — they are NOT released
    * when the DataFrame becomes unreachable — and a lazily returned
    * DataFrame offers no caller-visible unpersist point. The pinned state
    * is small (one row per distinct text); measurement harnesses must
    * clear the session cache between passes (Bench does) so a later run
    * of the same canonical plan re-executes the signature stage instead
    * of reading it back from cache.
    *
    * Acceptance `jaccard ≥ 0.5` is decided in integers over ONE
    * overlap count, `3·n_common ≥ |a| + |b|` (the same answer: the sizes
    * are far below where the division could round across 0.5, and an
    * empty shingle set has null minhashes, so it never joins). Pushed
    * into the verify join's condition, the kernel then runs once per
    * candidate. The accepted pairs are persisted: the final sort's
    * range partitioner samples its input in a job of its own, which
    * would otherwise run the band join, distinct and verification a
    * second time.
    */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val (verified, sigs) = contentPairCandidates(spark, dir)
    val accepted = CachedStages.data(verified
      .filter(col("n_common") * 3 >= size(col("sh_a")) + size(col("sh_b")))
      .select("docs_a", "docs_b", "jaccard"))
    // identical-text docs pair at Jaccard 1 with no join; empty shingle
    // sets are excluded (doc-level LSH never pairs them)
    expandDocPairs(accepted,
      sigs.filter(size(col("docs")) > 1 && size(col("shingles")) > 0))
  }

  /** The q19 candidate machinery WITHOUT the acceptance threshold:
    * `(verified candidate content pairs with exact jaccard, persisted
    * signature stage)` — q19 filters ≥ 0.5 and expands to doc pairs;
    * q96's sensitivity report bands the same pairs instead.
    */
  private def contentPairCandidates(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    graft.functions.WordShingles.register(spark)
    graft.functions.DedupKernels.register(spark)
    // shuffle keyed by md5(text), not the text itself: the same document
    // bytes move either way (first(text) carries them), but the exchange
    // hashes/compares 32-hex-char keys instead of full document bodies —
    // at 100 TB that is the difference between kB-scale and 16-byte sort
    // keys in the content-group shuffle. cid doubles as the group id.
    val contents = corpusWithNearDups(spark, dir)
      .withColumn("cid", md5(col("text")))
      .groupBy(col("cid"))
      .agg(first(col("text")).as("text"),
        expr("sort_array(collect_list(doc_id))").as("docs"))
    val sigs = contents
      .withColumn("shingles", expr("word_shingles(text, 3)"))
      .select(Seq(col("cid"), col("docs"), col("shingles")) ++
        (0 until 4).map(k => expr(minhashExpr(k)).as(s"mh$k")): _*)
      .transform(s => CachedStages.data(s))

    // (cid, band, h): one row per band; bucket key is (band, h).
    // NOT persisted: each self-join side re-runs the 4-element
    // posexplode over the persisted `sigs` cache — O(rows) array
    // indexing, no shuffle or aggregate inside the duplicate
    // (tools/dup_exec.py allowlist). Caching the 4x|contents| exploded
    // rows instead measured a wash at sf0.1 (the A/B lives beside the
    // allowlist entry).
    val bands = sigs.select(col("cid"), posexplode(
      array((0 until 4).map(k => col(s"mh$k")): _*)).as(Seq("band", "h")))

    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.cid") < col("b.cid"))
      .select(col("a.cid").as("ca"), col("b.cid").as("cb"))
      .distinct()

    val verified = cand
      .join(sigs.select(col("cid").as("ca"), col("shingles").as("sh_a"),
        col("docs").as("docs_a")), "ca")
      .join(sigs.select(col("cid").as("cb"), col("shingles").as("sh_b"),
        col("docs").as("docs_b")), "cb")
      .withColumn("n_common", expr("overlap_count(sh_a, sh_b)"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
    (verified, sigs)
  }

  /** Graded q96: dedup threshold SENSITIVITY report — the LSH candidate
    * pairs banded by exact Jaccard decile instead of filtered at one
    * threshold. This is the tuning artifact behind every "near-dup at
    * τ" decision: how many pairs each decile holds tells you what
    * raising or lowering τ would sweep in (identical-text pairs are out
    * of scope — they sit at Jaccard 1 by construction and no threshold
    * choice affects them). `floor(jaccard·10)` is exact: one correctly-
    * rounded division and multiplication, then floor — both engines
    * band identically, no epsilon.
    *
    * Scale shape: identical to q19's (the banding replaces the filter);
    * the report is |bands| rows.
    */
  def thresholdSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val (verified, _) = contentPairCandidates(spark, dir)
    verified
      .withColumn("band", floor(col("jaccard") * 10).cast("long"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy("band")
  }

  /** Graded q267: DEDUP SCALING CURVE — duplication rate measured on
    * nested ¼/½/¾/full hash-samples of the corpus. The operational
    * lesson it encodes (Lee et al., ACL 2022 §4 observe it directly):
    * a duplicate PAIR survives an f-sample with probability f², so
    * any pilot sample UNDERESTIMATES the full corpus's duplication
    * rate — the row's `vs_full_ppm` column says by how much, which is
    * the correction factor you apply when sizing a dedup budget from
    * a pilot. Samples nest by the Knuth multiplicative hash on doc_id
    * (q257's draw: id-stable, pattern-free, and the planted copy ids
    * hash independently of their bases, so pair survival is honestly
    * f²). Per quarter: docs, distinct contents, duplicate groups,
    * redundant docs (docs − contents), dup_ppm, and the full-corpus
    * dup_ppm + the f-sample's underestimation ratio.
    *
    * Scale shape: ONE pass assigns each doc its hash quarter; the
    * nested membership explodes to ≤ 4 rows per doc (sample-design
    * fan-out, not data growth); one (quarter, content-hash) shuffle —
    * the q17 exact-dedup shape ×4 — then a 4-row report.
    */
  def dedupScalingCurve(spark: SparkSession, dir: String): DataFrame = {
    val quartered = corpusWithExactDups(spark, dir)
      .withColumn("q", expr(
        "pmod(doc_id * 2654435761, 4294967296) div 1073741824"))
      .select(col("doc_id"), md5(col("text")).as("h"),
        explode(expr("sequence(q + 1, 4)")).as("f"))
    // persisted: traversed twice (the full-corpus reference row + the
    // final report) — unpersisted, the corpus SCAN + explode ran twice
    // from files (round-18 DupExec sweep, 9-node from-files subtree
    // x2); 4 rows cached
    val perF = CachedStages.model(quartered.groupBy(col("f"), col("h"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("f")
      .agg(sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_contents"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(when(col("cnt") > 1, col("cnt") - 1).otherwise(0L))
          .as("n_redundant"))
      .withColumn("dup_ppm", expr("n_redundant * 1000000 div n_docs")))
    val full = broadcast(perF.filter(col("f") === 4L)
      .select(col("dup_ppm").as("full_dup_ppm")))
    perF.crossJoin(full)
      .withColumn("vs_full_ppm", expr(
        "dup_ppm * 1000000 div nullif(full_dup_ppm, 0)"))
      .select("f", "n_docs", "n_contents", "n_dup_groups",
        "n_redundant", "dup_ppm", "full_dup_ppm", "vs_full_ppm")
      .orderBy("f")
  }

  /** Graded q261: MINHASH ESTIMATOR ACCURACY audit — the sketch-error
    * report the dedup family was missing: q72/q109/q163 audit the GK /
    * CMS / HLL sketches against exact truth, but the 4-seed MinHash
    * that DRIVES the near-dup pipeline was never itself measured. For
    * every LSH candidate content pair: the estimate is
    * matches·10⁶/4 (matches = seeds whose minhash collides, the
    * unbiased Jaccard estimator), the truth is the exact shingle-set
    * Jaccard in ppm, and the report bands pairs BY match count with
    * per-band mean truth and signed/absolute error, plus the global
    * MAE and bias repeated per row (q181 discipline). The documented
    * conditioning bias is visible by construction: candidates share
    * ≥ 1 band, so matches ≥ 1 and the estimator can only overestimate
    * low-Jaccard pairs — exactly why the pipeline verifies candidates
    * exactly instead of trusting the sketch (q19's design, now with
    * the measurement that justifies it).
    *
    * Scale shape: rides the q19/q96 candidate plan unchanged (the
    * persisted signature stage, banded bucket join); the estimator
    * columns are two broadcast-ish joins of the tiny pair list back
    * to the cached signatures; the report is ≤ 5 rows.
    */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val (verified, sigs) = contentPairCandidates(spark, dir)
    def mhs(side: String) = sigs.select(
      col("cid").as(side) +: (0 until 4).map(k =>
        col(s"mh$k").as(s"${side}_mh$k")): _*)
    // cached: traversed twice (global MAE/bias + per-band rollup) —
    // uncached, both signature joins executed twice (round-18 DupExec
    // sweep, 25-node subtree x2). SLIMMED to the four report columns
    // first: the un-projected frame drags both shingle arrays and both
    // doc lists into the cache (measured 0.8 -> 2.9s on the focused A/B
    // before the projection).
    val scored = CachedStages.data(verified
      .join(mhs("ca"), Seq("ca"))
      .join(mhs("cb"), Seq("cb"))
      .withColumn("matches", expr((0 until 4).map(k =>
        s"IF(ca_mh$k = cb_mh$k, 1L, 0L)").mkString(" + ")))
      .withColumn("est_ppm", expr("matches * 250000"))
      .withColumn("exact_ppm", expr(
        """CAST(n_common AS BIGINT) * 1000000
          | div (size(sh_a) + size(sh_b) - n_common)""".stripMargin))
      .withColumn("err_ppm", expr("est_ppm - exact_ppm"))
      .select("matches", "est_ppm", "exact_ppm", "err_ppm"))
    val glob = broadcast(scored.agg(
      expr("sum(abs(err_ppm)) div count(1)").as("mae_ppm"),
      expr("sum(err_ppm) div count(1)").as("bias_ppm")))
    scored.groupBy("matches")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(exact_ppm) div count(1)").as("mean_exact_ppm"),
        expr("sum(err_ppm) div count(1)").as("mean_err_ppm"),
        expr("sum(abs(err_ppm)) div count(1)").as("mean_abs_err_ppm"),
        min(col("exact_ppm")).as("min_exact_ppm"),
        max(col("exact_ppm")).as("max_exact_ppm"))
      .withColumn("est_ppm", expr("matches * 250000"))
      .crossJoin(glob)
      .select("matches", "est_ppm", "n_pairs", "mean_exact_ppm",
        "mean_err_ppm", "mean_abs_err_ppm", "min_exact_ppm",
        "max_exact_ppm", "mae_ppm", "bias_ppm")
      .orderBy("matches")
  }

  /** Expand verified CONTENT pairs (docs_a, docs_b, jaccard) to ordered
    * doc pairs, and append intra pairs (every pair within one identical-
    * text group, Jaccard 1 by definition) from the given pre-filtered
    * contents. Shared by the MinHash-LSH and n-gram-Jaccard pipelines.
    */
  private def expandDocPairs(verified: DataFrame,
      intraContents: DataFrame): DataFrame = {
    val cross = verified
      .select(explode(col("docs_a")).as("da"), col("docs_b"), col("jaccard"))
      .select(col("da"), explode(col("docs_b")).as("db"), col("jaccard"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val intra = intraContents
      .select(expr(
        """inline(flatten(transform(sequence(1, size(docs) - 1), i ->
          |  transform(sequence(i + 1, size(docs)), j ->
          |    struct(element_at(docs, i) AS doc_a,
          |           element_at(docs, j) AS doc_b)))))""".stripMargin))
      .withColumn("jaccard", lit(1.0))
    cross.unionByName(intra)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Graded q111: cross-source CONTAMINATION PROVENANCE matrix — the
    * q19 near-dup pairs rolled up by which source pair produced them
    * (planted copies under the id-offset convention map back to their
    * base document's source). A same-source cell is internal
    * boilerplate; an off-diagonal cell is one source republishing
    * another's content — the provenance signal that decides WHICH
    * feed gets deduped against which before a pretraining mix is
    * frozen. `n_exact` counts identical-content pairs (Jaccard exactly
    * 1 by construction on both engines); min/max Jaccard bound each
    * cell's similarity band.
    *
    * Scale shape: rides the q19 banded-LSH plan unchanged (pairs are
    * dedup OUTPUT — orders of magnitude smaller than the corpus); the
    * two provenance joins meet the doc→source map on doc_id with the
    * pairs side tiny, so AQE broadcasts it; the matrix aggregate is
    * ≤ |sources|² rows. Nothing here rescans text.
    */
  def crossSourceNearDups(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir)
    val srcs = Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
    pairs
      .withColumn("ba", expr(
        "CASE WHEN doc_a >= 1000000 THEN doc_a - 1000000 ELSE doc_a END"))
      .withColumn("bb", expr(
        "CASE WHEN doc_b >= 1000000 THEN doc_b - 1000000 ELSE doc_b END"))
      .join(srcs.select(col("doc_id").as("ba"), col("source").as("sa")), "ba")
      .join(srcs.select(col("doc_id").as("bb"), col("source").as("sb")), "bb")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("jaccard") === 1.0).cast("long")).as("n_exact"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** documents corpus with every 100th doc re-added under
    * doc_id + 2,000,000 as `upper(text) || ' !!'` — case- and
    * punctuation-perturbed copies, the near-miss class EXACT dedup
    * (q17) cannot see and full near-dup LSH (q19) is overkill for.
    */
  def corpusWithCaseDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text", "source")
    docs.unionByName(
      docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text"),
          col("source")))
  }

  /** The CCNet/C4-style normalization rule shared by q112 and its
    * DuckDB oracle: lowercase, every non-alphanumeric run to one
    * space, trim. Spark's regexp_replace is replace-all by default;
    * the oracle passes the 'g' flag for the same semantics.
    */
  val normalizeExpr: String =
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))"

  /** Graded q112: NORMALIZATION DEDUP GAIN — per source, how many
    * distinct raw texts collapse once hashing runs on the normalized
    * form (md5 of `normalizeExpr`) instead of the raw bytes. This is
    * the measurement behind the normalize-before-hash rule every
    * web-scale dedup pipeline (CCNet, C4) applies: case and
    * punctuation jitter defeats raw-byte hashing, and the gain column
    * says exactly how much each source suffers from it. Planted
    * perturbed copies (corpusWithCaseDups) make the effect graded:
    * raw hashing counts them as new content, normalized hashing
    * collapses them onto their base doc.
    *
    * Scale shape: one projection computes BOTH hashes per document in
    * a single text pass (no explode — md5 of the whole string), then
    * ONE per-source aggregate carrying two count-distincts (a 2×
    * expand, each branch hash-sized not text-sized). Integer ppm, so
    * the hash-compare is exact.
    */
  def normalizedDedupGain(spark: SparkSession, dir: String): DataFrame =
    normalizedDedupGainOf(corpusWithCaseDups(spark, dir))

  /** Core of `normalizedDedupGain` over any `(doc_id, text, source)`
    * corpus.
    */
  def normalizedDedupGainOf(corpus: DataFrame): DataFrame =
    corpus
      .select(col("source"), md5(col("text")).as("raw_h"),
        md5(expr(normalizeExpr)).as("norm_h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("n_raw_distinct"),
        countDistinct(col("norm_h")).as("n_norm_distinct"))
      .withColumn("n_collapsed",
        col("n_raw_distinct") - col("n_norm_distinct"))
      .withColumn("dup_ppm_norm",
        expr("(n_docs - n_norm_distinct) * 1000000 div n_docs"))
      .orderBy("source")

  /** Attach a SimHash fingerprint column of `bits` width (16 or 64): for
    * each bit b, majority vote over distinct tokens of one md5(token)
    * bit. Bit b reads bit (b div 32) of hex digit (b mod 32) — for the
    * 16-bit oracle variant that is exactly "low bit of the b-th hex
    * digit" (the formula the DuckDB oracle evaluates); the 64-bit scale
    * variant additionally uses the second bit of each digit. Pure
    * higher-order expressions — no explode, no shuffle; each document is
    * fingerprinted in place.
    *
    * 64 bits is the production width: with 4×16-bit bands the banded
    * candidate space is 2^16 per band (vs 16 for nibble bands on 16
    * bits), so value-level collision lists stay small at corpus scale.
    * At bits=64 the fingerprint occupies the sign bit of the BIGINT;
    * band extraction must therefore use unsigned shifts
    * (`simhashNearDupPairs` does), never `div`.
    *
    * @param weighted false (graded/oracle form): vote once per DISTINCT
    *                  token — robust to boilerplate repetition, cheapest.
    *                  true (classic Charikar form): vote once per token
    *                  OCCURRENCE, i.e. weight = term frequency — a
    *                  repeated term pulls its hash bits harder, which
    *                  separates short template-y docs that share
    *                  vocabulary but not emphasis. Same cost shape
    *                  (one md5 per occurrence, still shuffle-free).
    */
  def withSimhash(corpus: DataFrame, bits: Int = 16,
      weighted: Boolean = false): DataFrame = {
    require(bits > 0 && bits <= 64, s"bits must be in [1, 64], got $bits")
    val hexOdd = "('1','3','5','7','9','b','d','f')"
    // Token hashes are materialized ONCE per token into `__hs`, then all
    // `bits` vote terms read the precomputed hex strings — without this,
    // each of the (up to 64) bit terms would recompute md5(t) per token.
    // CollapseProject leaves the __hs projection in place because the
    // alias is non-cheap and referenced `bits` times, so the hash pass
    // runs once per row. Hash VALUES are identical either way, so the
    // 16-bit oracle parity (q20/q31) is unaffected.
    def bitVote(b: Int): String =
      if (b < 32)
        // low bit of hex digit b: odd-digit test (oracle-parity form)
        s"IF(substring(h, ${b + 1}, 1) IN $hexOdd, 1, -1)"
      else
        s"""IF((conv(substring(h, ${b % 32 + 1}, 1), 16, 10)
           |    div ${1L << (b / 32)}) % 2 = 1, 1, -1)""".stripMargin
    val bitTerms = (0 until bits).map { b =>
      s"IF(aggregate(__hs, 0, (a2, h) -> a2 + ${bitVote(b)}) >= 0, " +
        s"shiftleft(CAST(1 AS BIGINT), $b), CAST(0 AS BIGINT))"
    }
    val toks =
      if (weighted) TextOps.tokensExpr
      else s"array_distinct(${TextOps.tokensExpr})"
    corpus
      .withColumn("__hs", expr(s"transform($toks, t -> md5(t))"))
      .withColumn("simhash", expr(
        s"""aggregate(array(${bitTerms.mkString(",\n")}),
           |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin))
      .drop("__hs")
  }

  /** SimHash fingerprints of the unmodified corpus (graded q20). */
  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame =
    withSimhash(Tables(spark, dir, "documents"))
      .select("doc_id", "simhash")
      .orderBy("doc_id")

  /** SimHash near-dup pairs over any (doc_id, text) corpus, parameterized
    * by fingerprint width and band count: candidates from equal-band
    * collisions (hamming <= nBands - 1 ⇒ pigeonhole: at least one band is
    * equal), verified with bit_count(xor). Same band-then-verify shape as
    * MinHash LSH, but on the compact integer fingerprint — the cheapest
    * of the near-dup family at scale (8 bytes of state per document).
    *
    * Bands and the hamming check run at the DISTINCT-VALUE level, not the
    * document level: many documents share a fingerprint (all exact dups,
    * plus hash collisions — ~2× here at 16 bits, far more at corpus
    * scale), so candidate generation runs once per value pair; doc pairs
    * are expanded only for surviving value pairs. This is the general
    * dedupe-before-join pattern for banded similarity at 100 TB.
    * Band extraction uses unsigned shifts so the 64-bit width (sign bit
    * in use) bands correctly.
    * persist: the value table feeds banding + two expansion joins and is
    * small (one row per distinct fingerprint). As with nearDupPairs, the
    * cache entry stays in the session's CacheManager until explicitly
    * cleared (ContextCleaner does not release SQL-cached plans); Bench
    * clears the session cache between its warm-up and timed passes so
    * timings measure the real pipeline.
    */
  def simhashNearDupPairs(corpus: DataFrame, bits: Int = 16,
      nBands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bits % nBands == 0, s"nBands=$nBands must divide bits=$bits")
    require(maxHamming < nBands,
      s"pigeonhole needs maxHamming < nBands, got $maxHamming/$nBands")
    val bandWidth = bits / nBands
    val bandMask = (1L << bandWidth) - 1
    val vals = withSimhash(corpus, bits)
      .groupBy("simhash")
      .agg(expr("sort_array(collect_list(doc_id))").as("docs"))
      .transform(s => CachedStages.data(s))
    val bands = vals.select(col("simhash"), posexplode(
      expr(s"""transform(sequence(0, ${nBands - 1}), b ->
              |  shiftrightunsigned(simhash, b * $bandWidth) & $bandMask)"""
        .stripMargin)).as(Seq("band", "bandval")))
    val vcand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bandval") === col("b.bandval") &&
          col("a.simhash") <= col("b.simhash"))
      .select(col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    vcand
      .join(vals.select(col("simhash").as("sh_a"), col("docs").as("docs_a")), "sh_a")
      .join(vals.select(col("simhash").as("sh_b"), col("docs").as("docs_b")), "sh_b")
      .select(col("hamming"), col("sh_a"), col("sh_b"),
        explode(col("docs_a")).as("da"), col("docs_b"))
      .select(col("hamming"), col("sh_a"), col("sh_b"), col("da"),
        explode(col("docs_b")).as("db"))
      // within one value (sh_a == sh_b) keep each unordered pair once
      .filter(col("sh_a") =!= col("sh_b") || col("da") < col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Graded q31: the 16-bit oracle variant (nibble bands, hamming <= 3)
    * on the planted-near-dup corpus. Production runs would use
    * `simhashNearDupPairs(corpus, bits = 64, nBands = 4)` — see
    * ScaleSpec's 64-bit banding test.
    */
  def simhashNearDups(spark: SparkSession, dir: String): DataFrame =
    simhashNearDupPairs(corpusWithNearDups(spark, dir))

  /** Benchmark decontamination — the n-gram-overlap check every serious
    * training-data pipeline runs before training (the GPT-3 appendix-C /
    * Dodge et al. C4-audit procedure): a training document that shares
    * any n-gram shingle with a held-out benchmark document is flagged,
    * and `decontaminate` drops it. Shingles are the trigram sets of the
    * MinHash path (`shinglesExpr`); production deployments raise n
    * (GPT-3 used 13-grams) — the shape is identical, only the shingle
    * width changes.
    *
    * The graded q47 setup plants contamination deterministically: the
    * benchmark is every 100th base document, and the training corpus is
    * `corpusWithNearDups` minus the benchmark itself — so each planted
    * near-copy (doc_id + 1,000,000, 3 extra tokens) overlaps its
    * benchmark original on nearly every shingle, plus whatever natural
    * trigram collisions exist.
    *
    * Scale shape: the benchmark side is TINY relative to a 100 TB corpus
    * (test sets are thousands of documents), so its exploded gram set is
    * broadcast and the check is one map-side semi-join over the
    * streaming corpus scan — no shuffle of the corpus at all; the
    * per-doc aggregation shuffles only the matched (doc, bench, gram)
    * rows, a benchmark-bounded volume.
    */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame =
    contaminationReportAt(spark, dir, 3)

  /** `contaminationReport` at any shingle width. n = 3 is graded q47;
    * n = 13 — the width GPT-3's appendix-C decontamination actually ran
    * — is graded q55 (planted verbatim-plus-suffix copies still share
    * every 13-gram of the original, while incidental short-gram
    * collisions between unrelated docs vanish).
    */
  def contaminationReportAt(spark: SparkSession, dir: String,
      n: Int): DataFrame = {
    val bench = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    // train = everything except the benchmark documents THEMSELVES;
    // planted near-copies stay (they are what decontamination must
    // catch). Planted-ness is the construction-time flag, not an id
    // heuristic.
    val train = corpusWithNearDupsTagged(spark, dir)
      .filter(col("is_planted") || col("doc_id") % 100 =!= 0)
      .select("doc_id", "text")
    contaminationOf(train, bench, n)
      .orderBy("doc_id")
  }

  /** Contaminated-doc report over any `(doc_id, text)` train /
    * `(bench_id, text)` benchmark pair: one row per training document
    * sharing at least one `n`-gram shingle with any benchmark document,
    * with the count of benchmark docs hit and of distinct shared
    * shingles. `n = 3` is the graded q47 width; production
    * deployments run wider grams (GPT-3's appendix-C procedure used
    * n = 13 — graded as q55) through the same plan.
    */
  def contaminationOf(train: DataFrame, bench: DataFrame,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    graft.functions.WordShingles.register(train.sparkSession)
    def grams(df: DataFrame, idCol: String): DataFrame = df
      .select(col(idCol),
        explode(expr(s"word_shingles(text, $n)")).as("gram"))
    grams(train, "doc_id")
      .join(broadcast(grams(bench, "bench_id")), Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("bench_id")).as("n_benchmarks"),
        countDistinct(col("gram")).as("n_shared_grams"))
  }

  /** Graded q59: `contaminationOf` with a Bloom-filter prefilter — the
    * shape decontamination takes when even the benchmark GRAM SET is
    * too large to broadcast as strings (13-gram shingles of a large
    * eval suite are ~100 bytes each; the Bloom filter spends ~10 BITS
    * per gram at 1% FPR — a 50-100x smaller broadcast). The corpus's
    * grams probe the filter first (`bloom_might_contain` over Spark's
    * native BloomFilterAggregate sketch — one broadcast row, a
    * codegen'd scan-side filter, no shuffle), and only the survivors —
    * true matches plus the FPR's worth of false positives — pay the
    * exact gram equi-join, which eliminates the false positives.
    * Bloom filters have no false negatives, so the result is
    * IDENTICAL to `contaminationOf` row-for-row: q59 is graded
    * against q47's own oracle, proving the sketch path exact, and
    * ScaleSpec asserts the prefilter is really in the plan.
    */
  def contaminationReportBloom(spark: SparkSession, dir: String,
      n: Int = 3): DataFrame = {
    val bench = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val train = corpusWithNearDupsTagged(spark, dir)
      .filter(col("is_planted") || col("doc_id") % 100 =!= 0)
      .select("doc_id", "text")
    contaminationOfBloom(train, bench, n).orderBy("doc_id")
  }

  /** Core of `contaminationReportBloom`: bloom-prefiltered
    * `contaminationOf` over any train/bench pair. `numBits` sizes the
    * sketch (bits/item ≈ numBits / |bench grams| sets the FPR; ~10
    * bits/item ≈ 1%).
    */
  def contaminationOfBloom(train: DataFrame, bench: DataFrame,
      n: Int = 3, estItems: Long = 100000L,
      numBits: Long = 1L << 20): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val spark = train.sparkSession
    graft.functions.WordShingles.register(spark)
    graft.functions.BloomFilters.register(spark)
    def grams(df: DataFrame, idCol: String): DataFrame = df
      .select(col(idCol),
        explode(expr(s"word_shingles(text, $n)")).as("gram"))
    // cached: the benchmark gram stream feeds TWO consumers — the
    // sketch-collect action and the exact broadcast join — and would
    // otherwise re-scan and re-shingle the benchmark per consumer.
    // DATA-sized (an explode over the benchmark slice of the corpus): a
    // `model` cache here would fuse the scan + shingling into one task,
    // the narrow-upstream trap (ADVICE r20).
    val bg = CachedStages.data(grams(bench, "bench_id"))
    // `might_contain` requires its sketch operand to be a CONSTANT (or
    // scalar subquery) — the same contract Spark's own runtime join
    // filters satisfy by materializing the aggregate on the driver and
    // re-injecting it. One tiny action collects the single sketch row
    // (~numBits/8 bytes, NOT corpus-sized data) and embeds it as a
    // binary literal, which ships to executors with the plan.
    val bf = bg.agg(call_function("bloom_filter_agg",
        xxhash64(col("gram")), lit(estItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val prefilter =
      if (bf == null) lit(false) // empty benchmark: nothing contaminates
      else call_function("bloom_might_contain", lit(bf), xxhash64(col("gram")))
    grams(train, "doc_id")
      .filter(prefilter)
      .join(broadcast(bg), Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("bench_id")).as("n_benchmarks"),
        countDistinct(col("gram")).as("n_shared_grams"))
  }

  /** The decision stage: training docs with NO shingle overlap against
    * the benchmark — a broadcast anti-join on the flagged id set.
    */
  def decontaminate(train: DataFrame, bench: DataFrame,
      n: Int = 3): DataFrame =
    train.join(broadcast(contaminationOf(train, bench, n).select("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Connected components over an undirected pair list — the DECISION
    * stage of the dedup pipeline: near-dup PAIRS (q19/q30/q31/q38 emit
    * them) become CLUSTERS, and every member maps to its cluster's
    * canonical (minimum) id, i.e. the copy a dedup pass keeps.
    *
    * Algorithm: iterative min-label propagation. Each round every node
    * takes the minimum label among itself and its neighbors (one
    * equi-join + one min-aggregate, both shuffling on id), until no
    * label changes. Rounds needed = eccentricity of each component's
    * minimum node — for dedup clusters (near-clique families of copies)
    * that is 1–2, so the driver-side convergence loop runs a small
    * constant number of Spark jobs. For adversarially long chains the
    * production-scale variant is alternating large-star/small-star
    * (Kiveris et al., COSN'14), which converges in O(log n) rounds with
    * the same per-round join+min shape; the data this engine dedups
    * never exhibits that diameter, so the simple fixpoint is the right
    * cost.
    *
    * The per-round `count()` is the convergence test, not data movement
    * — only the change COUNT crosses to the driver. Each round's labels
    * are cut by [[Rounds.untilStable]].
    *
    * Expects columns `doc_a`, `doc_b`; returns (doc_id, canonical_id)
    * for every id that appears in a pair.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // Symmetrize in ONE traversal (explode of the two orientations)
    // instead of a self-union: the union shape traverses `pairs` twice,
    // and since the caller's pair pipeline is unpersisted, BOTH
    // traversals executed the full upstream LSH candidate join into
    // this cut — the q120 double-execution class, caught by the
    // round-18 DupExec sweep across all six CC-based queries
    // (q40/q45/q88/q114/q138/q147: a 37-node sort+join subtree x2).
    val edges = Rounds.cut(pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    // Each round aggregates SELF rows (the node's current label, tagged)
    // together with NEIGHBOR rows, so one groupBy yields both the new
    // label (min over self+neighbors) and the old one (min over the
    // tagged self rows) — the convergence count then reads the
    // cut round frame directly instead of paying a per-round join
    // against the previous labels. Round 1 derives both sides from the
    // edge list itself (initial label = own id, and every node appears
    // as a src of the symmetrized edges), which also fuses away the
    // separate distinct-nodes initialization job.
    def propagate(self: DataFrame, neighbors: DataFrame): DataFrame =
      self.withColumn("self", lit(true))
        .unionByName(neighbors.withColumn("self", lit(false)))
        .groupBy("doc_id")
        .agg(min(col("label")).as("label"),
          min(when(col("self"), col("label"))).as("old_label"))
    val round1 = propagate(
      edges.select(col("src").as("doc_id"), col("src").as("label")),
      edges.select(col("dst").as("doc_id"), col("src").as("label")))
    val fixpoint = Rounds.untilStable(round1) { prop =>
      val labels = prop.select("doc_id", "label")
      propagate(labels, labels.join(edges, col("doc_id") === col("src"))
        .select(col("dst").as("doc_id"), col("label")))
    }(_.filter(col("label") =!= col("old_label")).count() == 0)
    fixpoint.select(col("doc_id"), col("label").as("canonical_id"))
      .orderBy("doc_id")
  }

  /** Graded q40: dedup clusters of the q19 near-dup pair set. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(nearDupPairs(spark, dir).select("doc_a", "doc_b"))

  /** EXACT n-gram Jaccard similarity self-join with prefix + positional
    * filtering (the AllPairs/PPJoin family — Chaudhuri et al., ICDE'06;
    * Xiao et al., WWW'08) at threshold tNum/tDen. Unlike the MinHash-LSH
    * path (`nearDupPairs`, probabilistic candidates), this finds EVERY
    * pair with Jaccard >= t — the filters are lossless:
    *
    *  - each distinct text's bigram set is canonically ordered by
    *    (document frequency asc, gram asc); if J(a,b) >= t, the first
    *    `sz - ceil(t*sz) + 1` grams of a and b (their "prefixes") must
    *    share at least one gram, so equi-joining on prefix grams misses
    *    nothing;
    *  - size filter: J >= t implies t*max(|a|,|b|) <= min(|a|,|b|);
    *  - positional filter: a prefix match at positions (pa, pb) caps the
    *    remaining possible overlap at 1 + min(sza-pa, szb-pb), which must
    *    reach ceil(t/(1+t) * (sza+szb)).
    *
    * All three thresholds are decided in integer arithmetic (t = 4/5, so
    * t/(1+t) = 4/9) — no FP ceil at group-size boundaries, so the DuckDB
    * oracle (a brute-force all-pairs scan, deliberately NOT mirroring the
    * filters — it independently proves losslessness) agrees bit-for-bit.
    *
    * Grams are the 3-word shingles of the MinHash path (`shinglesExpr`).
    * Gram rarity is what makes prefix filtering prune: candidate fan-out
    * is sum(df^2) over prefix grams, so common grams are poison. On this
    * corpus word BIGRAMS leave 675k candidates at sf0.1 (~5% of all
    * pairs — the shared template vocabulary makes even rare bigrams
    * collide); trigrams cut that to 12.9k, and at sf0.01 to exactly the
    * 30 true pairs.
    *
    * Scale shape: one content-hash shuffle (dedupe-before-join, as in
    * `nearDupPairs`), one gram-frequency aggregation, one shuffle by gram
    * for ranking and the candidate equi-join — never an all-pairs
    * product. At 100 TB the frequency ordering is the point: prefixes
    * hold each document's RAREST grams, so candidate fan-out per gram is
    * bounded by the df of rare grams, and web-scale near-dup thresholds
    * (t >= 0.8) keep prefixes at ~20% of each document.
    *
    * persist caveat: same as `nearDupPairs` — the contents stage is read
    * by the ranking join and both verification join-backs; harnesses must
    * clear the session cache between measured passes.
    */
  def ngramJaccardJoin(spark: SparkSession, dir: String,
      tNum: Int = 4, tDen: Int = 5): DataFrame =
    ngramJaccardPairs(corpusWithNearDups(spark, dir), tNum, tDen)

  /** Core of `ngramJaccardJoin` over any `(doc_id, text)` corpus — split
    * out so OpsPropSpec can compare it against a driver-side brute force
    * on random corpora.
    */
  def ngramJaccardPairs(corpus: DataFrame,
      tNum: Int = 4, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tDen > tNum, s"need 0 < tNum/tDen < 1, got $tNum/$tDen")
    import org.apache.spark.sql.expressions.Window

    graft.functions.WordShingles.register(corpus.sparkSession)
    graft.functions.DedupKernels.register(corpus.sparkSession)
    val contents = corpus
      .groupBy(col("text"))
      .agg(expr("sort_array(collect_list(doc_id))").as("docs"))
      .withColumn("cid", md5(col("text")))
      .withColumn("grams", expr("word_shingles(text, 3)"))
      .withColumn("sz", size(col("grams")))
      // NO `filter(sz > 0)` here: predicate pushdown substitutes aliases
      // into the pushed condition UNCONDITIONALLY, which drags the whole
      // tokenize+shingle chain below the projection and re-evaluates the
      // tokenizer ~11x per row (measured; 7s of a 9.5s query at sf0.1).
      // Empty-gram contents are harmless downstream: explode() emits no
      // gram rows for them, so they can never become candidates — only
      // `intra` below must exclude them explicitly.
      .select("cid", "docs", "grams", "sz")
      .transform(s => CachedStages.data(s))

    val gramRows = contents.select(col("cid"), col("sz"),
      explode(col("grams")).as("gram"))
    val freq = gramRows.groupBy("gram").agg(count(lit(1)).as("df"))
    // prefix_len = sz - ceil(t*sz) + 1, all-integer
    val prefixLen = col("sz") -
      expr(s"(($tNum * sz + ${tDen - 1}) div $tDen)") + 1
    // persisted: the candidate stage self-joins this frame (left/right
    // prefix sides) — unpersisted, the df-join + ranking window
    // executed once PER SIDE (round-18 DupExec sweep: 18-node subtree
    // x2; ReuseExchange misses across the self-join dealiasing, the
    // q120 class). Prefix rows are ~20% of gram rows by design.
    val ranked = CachedStages.data(gramRows.join(freq, "gram")
      .withColumn("rn", row_number().over(
        Window.partitionBy("cid").orderBy(col("df"), col("gram"))))
      .filter(col("rn") <= prefixLen))

    val left = ranked.select(col("cid").as("ca"), col("sz").as("sza"),
      col("rn").as("pa"), col("gram"))
    val right = ranked.select(col("cid").as("cb"), col("sz").as("szb"),
      col("rn").as("pb"), col("gram"))
    val cand = left.join(right, Seq("gram"))
      .filter(col("ca") < col("cb") &&
        col("sza") * tDen >= col("szb") * tNum &&
        col("szb") * tDen >= col("sza") * tNum &&
        lit(tNum + tDen) *
          (lit(1) + least(col("sza") - col("pa"), col("szb") - col("pb"))) >=
          lit(tNum) * (col("sza") + col("szb")))
      .select("ca", "cb").distinct()

    val verified = cand
      .join(contents.select(col("cid").as("ca"), col("grams").as("g_a"),
        col("sz").as("na"), col("docs").as("docs_a")), "ca")
      .join(contents.select(col("cid").as("cb"), col("grams").as("g_b"),
        col("sz").as("nb"), col("docs").as("docs_b")), "cb")
      .withColumn("n_common", expr("overlap_count(g_a, g_b)"))
      .filter(col("n_common") * tDen >=
        lit(tNum) * (col("na") + col("nb") - col("n_common")))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")))

    // empty-gram contents are excluded from the intra side (Jaccard is
    // undefined on empty sets; they were not filtered upstream — see the
    // predicate-pushdown note on the contents stage)
    expandDocPairs(verified,
      contents.filter(size(col("docs")) > 1 && col("sz") > 0))
  }

  /** Graded q54: duplicate-SPAN detection — the exact-substring dedup
    * granularity (find repeated token runs, not whole near-dup docs),
    * approximated at fixed `window`-token stride-1 windows: a window is
    * duplicated when its token sequence occurs anywhere else in the
    * corpus (another doc, or again in the same doc). Output is the
    * per-doc window count, duplicated-window count, and duplicated
    * fraction — the "memorization risk" score a curation pipeline
    * thresholds on.
    *
    * Scale shape: each doc emits (n_toks − window + 1) MD5 SPAN HASHES
    * — raw text never shuffles, only 32-byte hashes. Global span counts
    * come from one hash aggregation (map-side partial combine), then
    * only hashes with count > 1 — the actual duplicates, typically a
    * tiny fraction — join back to the span stream (equi-join on the
    * hash both sides are already partitioned by; skewed mega-spans are
    * AQE-splittable, unlike a count-over-window which must buffer each
    * hash group in one task). Per-doc rollup is the final shuffle.
    */
  def duplicateSpans(spark: SparkSession, dir: String,
      window: Int = 10): DataFrame =
    duplicateSpansOf(corpusWithNearDups(spark, dir), window)

  /** Core of `duplicateSpans` over any `(doc_id, text)` corpus. */
  def duplicateSpansOf(df: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val spans = df
      .filter(col("doc_id").isNotNull)
      .withColumn("toks", expr(TextOps.tokensExpr))
      .filter(size(col("toks")) >= window)
      .select(col("doc_id"), explode(
        expr(s"""transform(sequence(1, size(toks) - ${window - 1}),
                 i -> md5(array_join(slice(toks, i, $window), ' ')))"""))
        .as("h"))
    val dupCounts = spans.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    spans.join(dupCounts, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L))
          .as("n_dup_windows"))
      .withColumn("dup_frac",
        col("n_dup_windows").cast("double") / col("n_windows"))
      .orderBy("doc_id")
  }

  /** Graded q56: block-level dedup-AND-REASSEMBLE — the C4 "remove
    * duplicated lines, keep the rest of the document" curation step
    * (Raffel et al. 2020 §2.2 dedup three-sentence spans; our corpus is
    * single-line token streams, so the unit is a fixed `blockSize`-token
    * non-overlapping block instead of a sentence). Every block keeps its
    * globally FIRST occurrence — ordered by (doc_id, position) — and all
    * later copies are dropped; each document is then reassembled from its
    * surviving blocks in order. Unlike q54 (which only SCORES span
    * duplication) this rewrites the corpus, emitting
    * (doc_id, n_blocks, n_kept, clean_text).
    *
    * Scale shape: raw text shuffles exactly once — inside the per-doc
    * reassembly groupBy, which is unavoidable for a rewrite. The
    * first-occurrence decision itself moves only 32-byte block hashes:
    * one hash aggregation (map-side partial combine) computes
    * min(doc_id, pos) per block content, and the kept flag comes from an
    * equi-join on the hash both sides are already partitioned by (skewed
    * mega-blocks are AQE-splittable, unlike a row_number window which
    * must buffer each hash group in one task — the oracle uses the
    * window form precisely because it is an independent implementation).
    */
  def blockDedup(spark: SparkSession, dir: String,
      blockSize: Int = 20): DataFrame =
    blockDedupOf(corpusWithNearDups(spark, dir), blockSize)

  /** Core of `blockDedup` over any `(doc_id, text)` corpus. */
  def blockDedupOf(df: DataFrame, blockSize: Int): DataFrame = {
    require(blockSize >= 1, s"blockSize must be >= 1, got $blockSize")
    // cached: traversed twice (first-occurrence rollup + join-back) —
    // uncached, the tokenize + block explode ran twice (round-18
    // DupExec sweep, 11-node subtree x2)
    val blocks = CachedStages.data(df
      .filter(col("doc_id").isNotNull)
      .withColumn("toks", expr(TextOps.tokensExpr))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
             sequence(0, cast(ceil(size(toks) / ${blockSize}.0) as int) - 1),
             j -> array_join(slice(toks, j * $blockSize + 1, $blockSize), ' '))"""
        )).as(Seq("pos", "blk")))
      .withColumn("h", md5(col("blk"))))
    val first = blocks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first_occ"))
    blocks.join(first, "h")
      .withColumn("kept",
        col("doc_id") === col("first_occ.doc_id") &&
          col("pos") === col("first_occ.pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("kept").cast("long")).as("n_kept"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("pos"), col("blk"),
                col("kept")))),
              x => x.getField("kept")),
            x => x.getField("blk")),
          " ").as("clean_text"))
      .orderBy("doc_id")
  }

  /** Graded q94: SURGICAL decontamination — GPT-3's appendix-C
    * procedure as actually run: rather than dropping a contaminated
    * document wholesale (q47's `decontaminate`), excise the tokens
    * belonging to any benchmark-overlapping n-gram and keep the clean
    * remainder (Brown et al. 2020 removed the flagged spans and split
    * the surrounding text; dropping whole documents at web scale costs
    * real data for one leaked sentence). A position is tainted when any
    * n-gram WINDOW covering it matches a benchmark shingle; overlapping
    * matches merge by construction (the tainted-position SET is the
    * union of all matched windows).
    *
    * Scale shape: q47's exact broadcast discipline with positions kept —
    * positional grams stream map-side against the broadcast benchmark
    * set, only MATCHES shuffle (benchmark-bounded volume), and the
    * surgery itself is per-row HOF arithmetic on the join-back. The
    * corpus never exchanges.
    */
  def decontaminateSpans(spark: SparkSession, dir: String,
      n: Int = 3): DataFrame = {
    val bench = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val train = corpusWithNearDupsTagged(spark, dir)
      .filter(col("is_planted") || col("doc_id") % 100 =!= 0)
      .select("doc_id", "text")
    decontaminateSpansOf(train, bench, n)
  }

  /** Core of `decontaminateSpans` over any train/bench corpus pair. */
  def decontaminateSpansOf(train: DataFrame, bench: DataFrame,
      n: Int): DataFrame = {
    require(n >= 1, s"gram width must be >= 1, got $n")
    graft.functions.WordShingles.register(train.sparkSession)
    // NULL text surgically cleans to the empty string, not NULL — the
    // coalesce keeps both engines' empty-document behavior identical
    val toks = CachedStages.data(train
      .filter(col("doc_id").isNotNull)
      .withColumn("toks", expr(
        s"coalesce(${TextOps.tokensExpr}, cast(array() as array<string>))"))
      .select("doc_id", "toks"))
    // positional grams (1-based start); a doc shorter than n has none
    val tg = toks.filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(toks) - ${n - 1}),
           |  i -> array_join(slice(toks, i, $n), ' '))""".stripMargin))
        .as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram"))
    val bg = bench.select(explode(expr(s"word_shingles(text, $n)"))
      .as("gram")).distinct()
    val hits = tg.join(broadcast(bg), "gram")
      .groupBy("doc_id").agg(collect_set(col("pos")).as("hits"))
    // hits is bounded by the number of CONTAMINATED train docs, not by
    // benchmark size — one benchmark shingle that happens to be common
    // boilerplate in the corpus makes it corpus-scale. No broadcast hint
    // here: AQE broadcasts the join-back when hits turns out small (the
    // expected case) and falls back to a safe shuffle join when a hot
    // shingle blows it up.
    toks.join(hits, Seq("doc_id"), "left")
      .withColumn("taints", expr(
        s"""array_distinct(flatten(transform(coalesce(hits, array()),
           |  p -> sequence(p, p + ${n - 1}))))""".stripMargin))
      .withColumn("kept", expr(
        """CASE WHEN size(toks) >= 1 THEN
          |  filter(sequence(1, size(toks)), i -> NOT array_contains(taints, i))
          |ELSE array() END""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        expr("array_join(transform(kept, i -> element_at(toks, i)), ' ')")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  /** documents corpus with every 100th doc re-added with a 3-token
    * PREFIX under doc_id + 9,000,000 — the planted input that makes
    * shift-robustness GRADABLE: a prefix insertion shifts every
    * fixed-width block boundary (q56 finds nothing shared), while
    * content-defined chunk boundaries re-synchronize immediately.
    */
  def corpusWithPrefixDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 9000000L).as("doc_id"),
          concat(lit("pp qq rr "), col("text")).as("text")))
  }

  /** Graded q92: CONTENT-DEFINED chunking + chunk-level dedup (the
    * LBFS/rsync/FastCDC boundary idea applied to token streams): cut
    * after any position whose `window`-token Karp–Rabin hash (q39's
    * exact fold) is ≡ 0 mod `mask`. Boundaries depend only on LOCAL
    * content, so an insertion near the head re-synchronizes within one
    * window — the shift-robust upgrade over q56's fixed-width blocks,
    * whose boundaries all move. Expected chunk length ≈ `mask` tokens.
    * Report: per doc, chunk count and how many of its chunk occurrences
    * are shared with ANOTHER doc.
    *
    * Scale shape: chunking is one codegen'd per-row projection (HOFs
    * over the token array — no shuffle, the q39 discipline); the dedup
    * side is one chunk-hash groupBy (distinct-doc count) joined back —
    * the q17 exact-dedup shape at chunk granularity. No min/max chunk
    * bounds: the pure boundary rule keeps both engines' arithmetic
    * identical (production FastCDC adds bounds; they'd be the same
    * filter on both sides).
    */
  def cdcChunkDedup(spark: SparkSession, dir: String,
      window: Int = 3, mask: Int = 16): DataFrame =
    cdcChunkDedupOf(corpusWithPrefixDups(spark, dir), window, mask)

  /** Per-document chunk table `(doc_id, pos, chunk_hash)` under the
    * content-defined rule. Documents shorter than `window` tokens form
    * one whole-doc chunk.
    */
  def cdcChunksOf(df: DataFrame, window: Int, mask: Int): DataFrame = {
    require(window >= 1 && mask >= 1,
      s"need window >= 1 and mask >= 1, got $window/$mask")
    val B = 1000003L
    val M = 1L << 25
    df.filter(col("doc_id").isNotNull)
      .withColumn("toks", expr(TextOps.tokensExpr))
      .filter(size(col("toks")) > 0)
      .withColumn("th", expr(
        "transform(toks, t -> cast(conv(substring(md5(t), 1, 6), 16, 10) as bigint))"))
      // rolling window hashes; a doc shorter than the window has none
      // (sequence() would DESCEND on size(th) - window + 1 < 1)
      .withColumn("kh", expr(
        s"""CASE WHEN size(th) >= $window THEN
           |  transform(sequence(1, size(th) - ${window - 1}), i ->
           |    aggregate(sequence(0, ${window - 1}), 0L,
           |      (acc, o) -> (acc * ${B}L + element_at(th, i + o)) % ${M}L))
           |ELSE array() END""".stripMargin))
      // cut AFTER the window ending at i + window - 1 when its hash
      // lands on the mask; bounds always include 0 and n
      .withColumn("bounds", expr(
        s"""array_sort(array_distinct(concat(
           |  array(0L),
           |  transform(filter(sequence(1, size(kh)),
           |      i -> size(kh) >= 1 AND element_at(kh, i) % $mask = 0),
           |    i -> cast(i + ${window - 1} as long)),
           |  array(cast(size(toks) as long)))))""".stripMargin))
      .select(col("doc_id"), col("toks"), posexplode(expr(
        """transform(sequence(2, size(bounds)), j ->
          |  struct(element_at(bounds, j - 1) + 1 AS start,
          |         element_at(bounds, j) - element_at(bounds, j - 1) AS len))"""
          .stripMargin)).as(Seq("pos", "c")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(expr("array_join(slice(toks, c.start, c.len), ' ')"))
          .as("chunk_hash"))
  }

  /** Core of `cdcChunkDedup`: chunk, then count cross-document sharing. */
  def cdcChunkDedupOf(df: DataFrame, window: Int, mask: Int): DataFrame = {
    // persisted: traversed twice (shared-hash rollup + join-back) —
    // unpersisted, the rolling-hash chunking ran twice (round-18
    // DupExec sweep, 18-node subtree x2)
    val chunks = CachedStages.data(cdcChunksOf(df, window, mask))
    val shared = chunks.groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks.join(shared, "chunk_hash")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Deterministic "next crawl snapshot" over the base corpus — the
    * graded q85 input. Three arrival classes, tagged by id range the
    * oracle mirrors:
    *
    *  - re-crawls (`base % 10 == 0`, new id +6e6): byte-identical text —
    *    the overwhelming majority of a real re-crawl;
    *  - revisions (`base % 10 == 1`, new id +7e6): the page edited a
    *    little (3 appended tokens — high Jaccard to its base);
    *  - genuinely new pages (`base % 10 == 2`, new id +8e6): novel
    *    per-doc vocabulary no base doc shares.
    */
  def nextSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .filter(col("doc_id").isNotNull).select("doc_id", "text")
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 6000000L).as("new_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 7000000L).as("new_id"),
          concat(col("text"), lit(" rr tt yy")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 2)
        .select((col("doc_id") + 8000000L).as("new_id"),
          concat(lit("novel snapshot page revision entry "),
            col("doc_id")).as("text")))
  }

  /** Graded q85: INCREMENTAL snapshot dedup — classify every document of
    * a newly arrived crawl snapshot against the FROZEN existing corpus:
    * `exact_dup` (content hash already present), `near_dup` (MinHash-LSH
    * candidate verified at Jaccard ≥ 1/2 against some old doc), or
    * `new`; `matched_id` is the smallest matching old doc. This is the
    * production shape of dedup at 100 TB: the curated corpus is never
    * re-deduped against itself per crawl — only the (much smaller) delta
    * is searched against it, and old×old pairs are never formed.
    *
    * Scale shape: the old side's content hashes and MinHash signatures
    * are the INDEX — computed once here, but persisted-to-storage
    * artifacts in production (each new crawl reuses them; the exact join
    * and the band join both read the index, never the old corpus text).
    * The exact stage settles first and only its survivors enter LSH
    * (re-crawls are the bulk of a snapshot; they never pay shingling).
    * The band join is new-side × index on (band, h) — candidate volume
    * is bounded by the delta's bucket occupancy, and the Jaccard verify
    * is integer-decided (`2c ≥ |a| + |b| − c`, no FP threshold).
    */
  def snapshotDedup(spark: SparkSession, dir: String): DataFrame =
    snapshotDedupOf(
      Tables(spark, dir, "documents")
        .filter(col("doc_id").isNotNull).select("doc_id", "text"),
      nextSnapshot(spark, dir))

  /** Core of `snapshotDedup`: classify `nw` (`new_id`, `text`) against
    * the frozen `old` (`doc_id`, `text`).
    */
  def snapshotDedupOf(old: DataFrame, nw: DataFrame): DataFrame = {
    graft.functions.WordShingles.register(old.sparkSession)
    graft.functions.DedupKernels.register(old.sparkSession)
    // exact stage: one equi-join on the content-hash index
    val oldHashes = old.select(md5(col("text")).as("h"), col("doc_id"))
    val exact = nw.select(col("new_id"), md5(col("text")).as("h"))
      .join(oldHashes, "h")
      .groupBy("new_id").agg(min(col("doc_id")).as("m_exact"))

    // near stage over exact-stage survivors only
    def sigsOf(df: DataFrame, idCol: String) = df
      .withColumn("shingles", expr("word_shingles(text, 3)"))
      .filter(size(col("shingles")) > 0)
      .select(Seq(col(idCol), col("shingles")) ++
        (0 until 4).map(k => expr(minhashExpr(k)).as(s"mh$k")): _*)
    def bandsOf(df: DataFrame, idCol: String) = df
      .select(col(idCol), posexplode(
        array((0 until 4).map(k => col(s"mh$k")): _*)).as(Seq("band", "h")))
    // both signature tables are read twice (band join + Jaccard verify)
    // — persisted so each side shingles ONCE (the q19 discipline; in
    // production the old side is the stored index and never recomputes)
    val oldSigs = CachedStages.data(sigsOf(old, "doc_id"))
    val newSigs = CachedStages.data(sigsOf(
      nw.join(exact, Seq("new_id"), "left_anti"), "new_id"))
    val cand = bandsOf(newSigs, "new_id")
      .join(bandsOf(oldSigs, "doc_id")
        .withColumnRenamed("doc_id", "old_id"), Seq("band", "h"))
      .select("new_id", "old_id").distinct()
    val near = cand
      .join(newSigs.select(col("new_id"), col("shingles").as("sh_n")),
        "new_id")
      .join(oldSigs.select(col("doc_id").as("old_id"),
        col("shingles").as("sh_o")), "old_id")
      .withColumn("c", expr("overlap_count(sh_n, sh_o)"))
      .filter(col("c") * 2 >= size(col("sh_n")) + size(col("sh_o")) - col("c"))
      .groupBy("new_id").agg(min(col("old_id")).as("m_near"))

    nw.select("new_id")
      .join(exact, Seq("new_id"), "left")
      .join(near, Seq("new_id"), "left")
      .select(col("new_id"),
        when(col("m_exact").isNotNull, "exact_dup")
          .when(col("m_near").isNotNull, "near_dup")
          .otherwise("new").as("verdict"),
        coalesce(col("m_exact"), col("m_near")).as("matched_id"))
      .orderBy("new_id")
  }

  /** Graded q140: NEAR-DUP DETECTOR EVALUATION against the planted
    * ground truth — the dedup family's own scorecard: the corpus
    * carries KNOWN near-duplicates (every 100th doc re-added with a
    * 3-token suffix, the `corpusWithNearDups` convention), so the q19
    * detector's recall on them is measurable EXACTLY, not assumed.
    * Output: truth-pair count, detected-pair count, truth pairs
    * detected, recall in ppm, and the organic remainder (detected
    * pairs that are NOT planted — base-corpus near-dups, counted
    * honestly rather than called false positives: the hash oracle
    * cannot judge their truth, only the planted set is ground truth).
    * This is the eval every dedup-parameter choice (bands, seeds, τ)
    * should be read against — RecallSpec asserts floors per-spec; this
    * makes the number a GRADED artifact.
    *
    * Scale shape: rides the q19 plan unchanged; the eval itself is a
    * tiny join of the detected pairs against the |planted|-row truth
    * set plus three 1-row aggregates.
    */
  def nearDupEval(spark: SparkSession, dir: String): DataFrame =
    nearDupEvalOf(spark, dir, CachedStages.data(nearDupPairs(spark, dir)
      .select("doc_a", "doc_b")))

  /** q140 parameterized on an already-materialized detected-pair set,
    * so the composed q167 suite can feed one shared pair table to this
    * eval AND the components loop instead of re-running LSH per report.
    */
  def nearDupEvalOf(spark: SparkSession, dir: String,
      det: DataFrame): DataFrame = {
    val truth = Tables(spark, dir, "documents")
      .filter(col("doc_id").isNotNull && col("doc_id") % 100 === 0)
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") + 1000000L).as("doc_b"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nDet = det.agg(count(lit(1)).as("n_detected"))
    val nHit = det.join(truth, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_truth_detected"))
    nTruth.crossJoin(nDet).crossJoin(nHit)
      .withColumn("recall_ppm",
        expr("n_truth_detected * 1000000 div n_truth"))
      .withColumn("n_organic", expr("n_detected - n_truth_detected"))
      .select("n_truth", "n_detected", "n_truth_detected", "recall_ppm",
        "n_organic")
  }

  /** Graded q138: DEDUP SAVINGS report — the headline number every
    * dedup run is judged by: per source, documents and tokens before
    * vs after keeping only each q40 cluster's canonical member
    * (identity fallback for unclustered docs, the q114 rule), with the
    * reclaimed token share in integer ppm. "We deduped" means nothing
    * without this table: it is what decides whether the near-dup pass
    * paid for itself, and which FEEDS carry the redundancy.
    *
    * Scale shape: the q40 component table (cluster-membership-sized,
    * not corpus-sized) left-joins onto one corpus token pass; the
    * rollup is |sources| rows. All integer.
    */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame =
    dedupSavingsOf(spark, dir, dedupClusters(spark, dir))

  /** q138 parameterized on an already-computed cluster map (q167). */
  def dedupSavingsOf(spark: SparkSession, dir: String,
      clusters: DataFrame): DataFrame = {
    val canon = clusters.select(col("doc_id"), col("canonical_id"))
    val tok = Tables(spark, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("source"),
        expr(s"CAST(size(${TextOps.tokensExpr}) AS LONG)").as("n_toks"))
    tok.join(canon, Seq("doc_id"), "left")
      .withColumn("kept",
        (coalesce(col("canonical_id"), col("doc_id")) === col("doc_id"))
          .cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("kept")).as("n_docs_kept"),
        sum(col("kept") * col("n_toks")).as("n_tokens_kept"))
      .withColumn("savings_ppm",
        expr("(n_tokens - n_tokens_kept) * 1000000 div n_tokens"))
      .orderBy("source")
  }

  /** Graded q147: QUALITY × DUPLICATION overlap — per q16 quality band
    * (the bounded 35..100 score domain), how many documents sit in a
    * q40 near-dup cluster, as count and ppm. The two standard curation
    * axes are usually run independently; this is the diagnostic that
    * says whether they are CORRELATED on a given corpus — if low-band
    * documents are also the duplicated ones (template spam usually
    * is), the quality gate already removes most dup mass and the dedup
    * pass's marginal savings (q138) shrink; if duplication concentrates
    * in HIGH bands, dedup is load-bearing and must not be skipped.
    * Membership = the document appears in any near-dup component (the
    * planted clones' originals all do).
    *
    * Scale shape: the member set rides the audited q19→q40 banded-LSH
    * + small-star/large-star plan; the quality pass is one corpus scan
    * of integer band arithmetic; the join is a doc_id equi-join and
    * the rollup is |bands| rows.
    */
  def qualityDupOverlap(spark: SparkSession, dir: String): DataFrame =
    qualityDupOverlapOf(spark, dir, dedupClusters(spark, dir))

  /** q147 parameterized on an already-computed cluster map (q167). */
  def qualityDupOverlapOf(spark: SparkSession, dir: String,
      clusters: DataFrame): DataFrame = {
    val members = clusters.select("doc_id").distinct()
      .withColumn("is_dup", lit(1L))
    val docs = TextOps.tokenized(spark, dir)
      .withColumn("quality", TextOps.qualityCol(
        col("n_chars"), col("n_toks"), col("stop_hits")))
      .select("doc_id", "quality")
    docs.join(members, Seq("doc_id"), "left")
      .na.fill(0L, Seq("is_dup"))
      .groupBy("quality")
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dup_members"))
      .withColumn("dup_ppm", expr("n_dup_members * 1000000 div n_docs"))
      .orderBy("quality")
  }

  /** Graded q167: the COMPOSED dedup report suite — the q138 savings
    * table, the q140 planted-truth eval, and the q147 quality-band
    * overlap emitted as ONE long-format report, all fed by a SINGLE
    * near-dup pass. Run standalone, each report re-runs the q19 banded
    * LSH and (for two of them) the q40 components fixpoint — correct
    * under per-query isolation, but at 100 TB that is three full dedup
    * passes for one nightly dashboard. Here the detected-pair table
    * materializes once, the components loop runs once over it, and all
    * three reports read the two persisted frames (the q45 composition
    * pattern; VERDICT r12 next-#4).
    *
    * Long format (report, k, metric, value): savings keys by source,
    * the eval keys by the literal 'all', the overlap keys by quality
    * band — every value is a BIGINT so the melt is lossless and the
    * oracle unions the same cells from the shared CTE chain.
    *
    * Scale shape: one content-hash shuffle + one banded join + one
    * O(diameter) label fixpoint TOTAL; each report then adds only its
    * own corpus-side scan (token counts, quality bands) joined against
    * the two small persisted frames.
    */
  def dedupReportSuite(spark: SparkSession, dir: String): DataFrame = {
    val det = CachedStages.data(nearDupPairs(spark, dir)
      .select("doc_a", "doc_b"))
    val canon = CachedStages.data(connectedComponents(det))
    val savings = dedupSavingsOf(spark, dir, canon)
      .select(lit("savings").as("report"), col("source").as("k"), expr(
        """stack(5, 'n_docs', n_docs, 'n_tokens', n_tokens,
          |'n_docs_kept', n_docs_kept, 'n_tokens_kept', n_tokens_kept,
          |'savings_ppm', savings_ppm) AS (metric, value)""".stripMargin))
    val eval = nearDupEvalOf(spark, dir, det)
      .select(lit("eval").as("report"), lit("all").as("k"), expr(
        """stack(5, 'n_truth', n_truth, 'n_detected', n_detected,
          |'n_truth_detected', n_truth_detected, 'recall_ppm', recall_ppm,
          |'n_organic', n_organic) AS (metric, value)""".stripMargin))
    val overlap = qualityDupOverlapOf(spark, dir, canon)
      .select(lit("overlap").as("report"),
        col("quality").cast("string").as("k"), expr(
          """stack(3, 'n_docs', n_docs, 'n_dup_members', n_dup_members,
            |'dup_ppm', dup_ppm) AS (metric, value)""".stripMargin))
    savings.unionByName(eval).unionByName(overlap)
      .select(col("report"), col("k"), col("metric"),
        col("value").cast("long").as("value"))
      .orderBy("report", "k", "metric")
  }
}

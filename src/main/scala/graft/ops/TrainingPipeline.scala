package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end curation pipeline a training-data run executes before
  * any tokenizer sees a byte — composed entirely from this engine's own
  * operators, which is the point: near-dup detection (q19), cluster
  * canonicalization (q40), quality scoring (q16's bands), and the
  * deterministic hash split (q44) snap together into one lazy plan plus
  * the component fixpoint.
  *
  * Stages over the planted near-dup corpus:
  *  1. near-dup pairs → connected components → keep each cluster's
  *     canonical (minimum-id) document; documents in no pair survive
  *     untouched. Identical-text copies pair at Jaccard 1, so exact
  *     dedup is subsumed — one rule covers both.
  *  2. integer quality bands (length / token count / stopword ratio,
  *     no FP) — keep quality >= 60.
  *  3. md5-bucket split into train/validation/test (90/5/5),
  *     retry-stable and join-compatible.
  *
  * Scale shape: stage 1 is the q19/q40 machinery (content-hash shuffle,
  * banded join, O(diameter) label rounds); stages 2–3 are one streaming
  * projection each — the survivors never re-shuffle until the
  * presentation sort.
  */
object TrainingPipeline {

  /** Graded q88: the last mile — the curated TRAIN split laid out as
    * packed context windows (q45's survivors fed through q83's packer).
    * This is the artifact a training run actually mounts: deduped,
    * quality-filtered, leak-free (validation/test hash buckets never
    * enter), concatenated and chunked into exactly-full sequences. One
    * composition, zero new machinery — which is the point of building
    * operators that snap together.
    */
  def curatedPackedSequences(spark: SparkSession, dir: String,
      seqLen: Long): DataFrame = {
    // the quality stage already tokenized every survivor — hand its
    // n_toks straight to the packer instead of re-running the tokenizer
    // over the full train text (one whole corpus scan saved; the packer
    // needs only counts, never the text)
    val train = curatedSplitScored(spark, dir)
      .filter(col("split") === "train").select("doc_id", "n_toks")
    Sampling.packSequencesFromCounts(train, seqLen)
  }

  def curatedSplit(spark: SparkSession, dir: String): DataFrame =
    curatedSplitScored(spark, dir)
      .select("doc_id", "quality", "split")
      .orderBy("doc_id")

  /** [[curatedSplit]] plus each survivor's `n_toks` from the quality
    * tokenization — kept so downstream packing (q88) reuses the count
    * instead of re-tokenizing.
    */
  private def curatedSplitScored(spark: SparkSession,
      dir: String): DataFrame = {
    val corpus = Dedup.corpusWithNearDups(spark, dir)
    val comps = Dedup.connectedComponents(
      Dedup.nearDupPairs(spark, dir).select("doc_a", "doc_b"))
    val survivors = corpus.join(comps, Seq("doc_id"), "left")
      .filter(col("canonical_id").isNull || col("canonical_id") === col("doc_id"))
      .select("doc_id", "text")
    // quality bands computed from the surviving text itself (length is
    // re-derived, not read from the table, so planted docs score too);
    // band constants live once, in TextOps.qualityCol
    // cut BEFORE the quality filter: predicate pushdown would
    // otherwise substitute the quality aliases into the pushed
    // condition and re-run the tokenizer ~11x per row (the q38 bug
    // class; PlanAudit-confirmed here too). The cut frame is three
    // slim columns — ~24 bytes/row at any corpus size.
    val scored = Rounds.cut(TextOps.tokenizedOf(survivors)
      .withColumn("quality", TextOps.qualityCol(
        length(col("text")), col("n_toks"), col("stop_hits")))
      .select(col("doc_id"), col("quality"), col("n_toks").cast("long")
        .as("n_toks")))
    scored
      .filter(col("quality") >= 60)
      // same null-key contract as Sampling.hashSplit: a NULL doc_id must
      // be dropped explicitly, never routed to splitCol's `otherwise`
      .filter(col("doc_id").isNotNull)
      .withColumn("bucket", expr(Sampling.bucketExpr("doc_id")))
      .withColumn("split", Sampling.splitCol(col("bucket")))
      .select("doc_id", "quality", "split", "n_toks")
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sampling and splitting — the training-data primitives a
  * pipeline needs BEFORE any model sees a row. Everything here is
  * hash-based, never RNG-based, which at 100 TB is the difference
  * between an operator and a liability:
  *
  *  - stable under retries: a re-executed task re-derives the same
  *    sample (Spark's `sample()` with a seed is only stable per
  *    PARTITIONING — a repartition or AQE re-plan changes row-to-task
  *    assignment and with it the kept set);
  *  - no coordination: each row decides membership from its own key —
  *    no driver-side reservoir, no second pass;
  *  - join-compatible: every table keyed by the same id lands in the
  *    same split, so features and labels never straddle train/test;
  *  - engine-portable: md5 is md5 everywhere, which is also what makes
  *    the DuckDB oracle possible at all.
  *
  * The bucket is the first 6 hex digits of md5(key) mod 100 — uniform
  * enough for split ratios, and computable identically in any engine.
  */
object Sampling {

  /** `bucket` in [0, 100) from the row's key column (stringified).
    * NULL keys hash to a NULL bucket; every operator here DROPS such
    * rows (splitCol's when-chain would otherwise quietly send them to
    * the `otherwise` branch, skewing the held-out set) — callers with
    * nullable keys must decide their fate explicitly first.
    */
  private[ops] def bucketExpr(keyCol: String): String =
    s"cast(conv(substring(md5(cast($keyCol as string)), 1, 6), 16, 10) as bigint) % 100"

  /** The ONE bucket-to-split rule (90/5/5), shared by q44 and the q45
    * pipeline — their oracle SQL mirrors the same thresholds.
    */
  private[ops] def splitCol(bucket: Column): Column =
    when(bucket < 90, "train")
      .when(bucket < 95, "validation")
      .otherwise("test")

  /** Graded q44: assign every document to train/validation/test at
    * 90/5/5 by hash bucket. Row-level output so the oracle pins the
    * bucket function on every row, not just the aggregate ratios.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .withColumn("bucket", expr(bucketExpr("doc_id")))
      .withColumn("split", splitCol(col("bucket")))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")

  /** Graded q105: SPLIT-LEAKAGE audit — the check that closes the loop
    * between dedup (q19) and splitting (q44). A hash split is blind to
    * content: two near-duplicate documents hash to independent buckets,
    * so ~10% of dup pairs straddle the train/held-out boundary and the
    * eval set silently contains paraphrases of training rows (the
    * dedup-before-split rule exists precisely for this; the q45
    * pipeline applies it — this op measures what skipping it costs).
    * Output: near-dup pair counts per unordered split pair, with
    * cross-split rows marked `is_leak` — the number a release review
    * demands be zero.
    *
    * Scale shape: the expensive half IS q19 (banded LSH + exact
    * verify, proven plan); the audit itself is an md5 projection on
    * the pair endpoints (no corpus access, no join — the split is
    * recomputed from the id, which is the whole point of hash splits)
    * and a ≤|splits|²-row aggregate.
    */
  def splitLeakageAudit(spark: SparkSession, dir: String): DataFrame =
    splitLeakageAuditOf(Dedup.nearDupPairs(spark, dir)
      .select("doc_a", "doc_b"))

  /** Core of `splitLeakageAudit` over any `(doc_a, doc_b)` pair set. */
  def splitLeakageAuditOf(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("sa", splitCol(expr(bucketExpr("doc_a"))))
      .withColumn("sb", splitCol(expr(bucketExpr("doc_b"))))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak",
        (col("split_a") =!= col("split_b")).cast("long"))
      .orderBy("split_a", "split_b")

  /** Graded q114: CLUSTER-AWARE SPLIT — the fix for the leakage q105
    * audits. The q44 hash split keys on `doc_id`, so near-duplicate
    * documents land in independent buckets and paraphrases of training
    * rows leak into eval. This operator keys the SAME 90/5/5 md5 rule
    * on each document's near-dup cluster CANONICAL id (q40's connected
    * components, identity for unclustered docs), so a whole dup
    * cluster moves as one unit and a cross-split near-dup pair is
    * impossible BY CONSTRUCTION — QueriesSpec re-runs the q105 audit
    * on this split and asserts zero leaks. Row-level output (the q44
    * discipline) pins the canonical fallback and the bucket rule on
    * every document.
    *
    * Scale shape: the cluster table holds only CLUSTERED docs (the
    * CC-loop output carries no stats, so the hint is explicit): on the
    * graded corpus it is pair-cluster-sized and rides a broadcast onto
    * the corpus — the split itself is the same shuffle-free md5
    * projection as q44, and the expensive half IS q19+q40's proven
    * plan. On a web-scale corpus duplicated docs can be 10-30% of the
    * total, and a cluster table that outgrows a broadcast needs the
    * same join as a doc_id shuffle join — the broadcast-or-shuffle
    * trade the graph loops derive from their node count
    * (`Graph.broadcastsVector`).
    */
  def clusterAwareSplit(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Dedup.corpusWithNearDups(spark, dir).select("doc_id")
    corpus.join(broadcast(Dedup.dedupClusters(spark, dir)), Seq("doc_id"),
        "left")
      .withColumn("canonical_id",
        coalesce(col("canonical_id"), col("doc_id")))
      .withColumn("bucket", expr(bucketExpr("canonical_id")))
      .withColumn("split", splitCol(col("bucket")))
      .select("doc_id", "canonical_id", "bucket", "split")
      .orderBy("doc_id")
  }

  /** Graded q115: TOKEN-BUDGET ALLOCATION — q106's temperature law
    * turned into the table a training run actually consumes: given a
    * FIXED total token budget B, allocate `B · √n_i / Σ√n_j` tokens to
    * each source (α = 1/2 up-samples the long tail) and report each
    * source's repetition factor in permille (`alloc · 1000 div n` —
    * above 1000 means the source is seen more than one epoch, the
    * Hoffmann-era "how many times may data repeat" decision point).
    * Everything is integer: √n is floored into an integer weight
    * (IEEE-754 sqrt is correctly rounded on both engines, so floor is
    * bit-deterministic), the weight sum is an integer fold, and both
    * reported ratios are integral divisions — the hash compare is
    * exact, unlike a float-weight formulation.
    *
    * Scale shape: ONE map-side-combined token-count shuffle to
    * |sources| rows, PERSISTED — the denominator and the allocation
    * both read the cached |sources|-row table, so the corpus is
    * scanned exactly once (an unpersisted plan re-runs the full scan
    * for the 1-row sum; ScaleSpec pins the single scan). Token counts
    * are size() per row — never exploded.
    */
  def tokenBudgetAllocation(spark: SparkSession, dir: String,
      budget: Long): DataFrame =
    tokenBudgetAllocationOf(Tables(spark, dir, "documents"), budget)

  /** Core of `tokenBudgetAllocation` over any `(doc_id, text, source)`
    * corpus.
    */
  def tokenBudgetAllocationOf(docs: DataFrame, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val counts = CachedStages.model(docs.filter(col("doc_id").isNotNull)
      .select(col("source"),
        size(expr(graft.ops.TextOps.tokensExpr)).cast("long").as("n"))
      .groupBy("source").agg(sum(col("n")).as("n_tokens"))
      .withColumn("w_sqrt",
        expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)")))
    val denom = counts.agg(sum(col("w_sqrt")).as("denom"))
    counts.crossJoin(broadcast(denom))
      .select(col("source"), col("n_tokens"), col("w_sqrt"),
        expr(s"$budget * w_sqrt div denom").as("alloc_tokens"),
        expr(s"($budget * w_sqrt div denom) * 1000 div n_tokens")
          .as("epochs_permille"))
      .orderBy("source")
  }

  /** Graded q106: TEMPERATURE-scaled mixture weights — the multilingual
    * /multi-source sampling rule (mT5 / XLM-R: p_i ∝ n_i^α) at α = 1/2,
    * i.e. temperature T = 2. Low-resource sources are up-sampled toward
    * (boost > 1), high-resource ones damped (boost < 1), which is how a
    * pretraining mix keeps the long tail from vanishing; the emitted
    * `boost` is each source's over/under-sampling factor vs its natural
    * share. α = 1/2 is computed via `sqrt`, which IEEE-754 requires to
    * be correctly rounded — so unlike a libm `pow(x, α)`, the graded
    * point is BIT-exact across engines (any other α is the same plan
    * with pow and a tolerance oracle). The cross-source Σ√n folds over
    * a SORTED collected list (sources are few by nature), not a partial
    * agg, so FP summation order is deterministic on both sides.
    *
    * Scale shape: one token-count shuffle collapses the corpus to
    * |sources| rows; everything after is arithmetic on that tiny table
    * with the 1-row total broadcast back.
    */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame =
    mixtureWeightsOf(Tables(spark, dir, "documents"))

  /** Core of `mixtureWeights` over any `(doc_id, text, source)` corpus. */
  def mixtureWeightsOf(docs: DataFrame): DataFrame = {
    val counts = docs.filter(col("doc_id").isNotNull)
      .select(col("source"),
        size(expr(TextOps.tokensExpr)).cast("long").as("n"))
      .groupBy("source").agg(sum(col("n")).as("n_tokens"))
    val tot = counts.agg(
      sum(col("n_tokens")).as("total"),
      expr("aggregate(array_sort(collect_list(sqrt(cast(n_tokens as " +
        "double)))), cast(0 as double), (a, x) -> a + x)").as("sum_sqrt"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("n_tokens * 1000000 div total").as("natural_ppm"),
        expr("round(sqrt(cast(n_tokens as double)) / sum_sqrt, 6)")
          .as("weight"),
        expr("round(sqrt(cast(n_tokens as double)) / sum_sqrt * " +
          "cast(total as double) / cast(n_tokens as double), 6)")
          .as("boost"))
      .orderBy("source")
  }

  /** Deterministic fraction sample: keep rows whose bucket falls below
    * `pct`. The 1%-of-100-TB debugging slice that is the SAME slice on
    * every run and every engine.
    */
  def hashSample(df: DataFrame, keyCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0, 100], got $pct")
    df.filter(expr(bucketExpr(keyCol)) < pct)
  }

  /** Graded q49: stratified downsampling — keep at most `cap` documents
    * per source, chosen by md5-hash order (doc_id tie-break), so every
    * stratum contributes a bounded, deterministic, engine-portable
    * sample. This is the source-rebalancing step of a data mixture: an
    * over-crawled domain must not dominate the training set, and a
    * hash-ordered cap is a uniform random sample per stratum that is
    * identical on every run and engine (an RNG `sample()` is neither).
    *
    * Scale shape: the graded `exact = true` form is one shuffle on the
    * stratum key plus a per-stratum sort for row_number — the semantics
    * both engines replay exactly. With millions of docs per stratum
    * that full sort is wasteful for a small cap, so `exact = false` is
    * the production two-phase top-k: each INPUT partition keeps at most
    * `cap` rows per stratum in a bounded heap (narrow — no shuffle of
    * the corpus at all), then only the ≤ cap × n_partitions survivors
    * are shuffled and ranked. Identical output (any row in a stratum's
    * global top-cap is in its own partition's local top-cap — the
    * reduction is lossless), memory bounded by cap × strata-per-
    * partition, and the corpus-wide shuffle is gone.
    */
  def stratifiedCap(spark: SparkSession, dir: String): DataFrame =
    stratifiedCapOf(Tables(spark, dir, "documents"), "source", 10)

  /** Core of `stratifiedCap`: at most `cap` rows per value of
    * `stratumCol`, ranked by (md5(key), key).
    */
  def stratifiedCapOf(df: DataFrame, stratumCol: String, cap: Int,
      keyCol: String = "doc_id", exact: Boolean = true): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    if (exact) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(stratumCol)
        .orderBy(md5(col(keyCol).cast("string")).asc, col(keyCol).asc)
      df.filter(col(keyCol).isNotNull)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= cap)
        .select(col(stratumCol), col("rn"), col(keyCol))
        .orderBy(col(stratumCol), col("rn"))
    } else {
      // phase 1 runs over generic Rows — an earlier typed-tuple
      // formulation cast the key to long and the stratum to string,
      // which nulled out (and crashed on) any non-numeric key and
      // changed the output schema vs the exact path. Rows keep native
      // types end-to-end. The heap's md5-tie-break uses the key's
      // string form; it can differ from the exact path's native-order
      // tie-break only when two distinct keys share an md5 — the same
      // impossibility every md5-keyed operator here already rests on.
      val pruned = df.filter(col(keyCol).isNotNull)
        .select(col(stratumCol), col(keyCol),
          md5(col(keyCol).cast("string")).as("__hk"))
      val rowEnc = org.apache.spark.sql.Encoders.row(pruned.schema)
      type Rank = (String, String)
      val rankOrd: Ordering[Rank] = Ordering.Tuple2(Ordering.String, Ordering.String)
      val heapOrd: Ordering[(Rank, org.apache.spark.sql.Row)] =
        Ordering.by[(Rank, org.apache.spark.sql.Row), Rank](_._1)(rankOrd)
      // per input partition, a bounded MAX-heap per stratum holds the
      // cap smallest (hash, key) pairs seen so far — a new row only
      // displaces the current partition-local maximum; narrow, no
      // corpus shuffle
      val survivors = pruned.mapPartitions { rows =>
        val heaps = scala.collection.mutable.Map.empty[Any,
          scala.collection.mutable.PriorityQueue[(Rank, org.apache.spark.sql.Row)]]
        rows.foreach { r =>
          val rank = (r.getString(2), String.valueOf(r.get(1)))
          val heap = heaps.getOrElseUpdate(r.get(0),
            scala.collection.mutable.PriorityQueue
              .empty[(Rank, org.apache.spark.sql.Row)](heapOrd))
          if (heap.size < cap) heap.enqueue((rank, r))
          else if (rankOrd.lt(rank, heap.head._1)) {
            heap.dequeue()
            heap.enqueue((rank, r))
          }
        }
        heaps.valuesIterator.flatMap(_.iterator.map(_._2))
      }(rowEnc)
      // phase 2: exact rank over the tiny survivor set — the only
      // shuffle in the plan moves ≤ cap × n_partitions rows per
      // stratum; the window's tie-break is the NATIVE key order,
      // identical to the exact path
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(stratumCol).orderBy(col("__hk").asc, col(keyCol).asc)
      survivors
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= cap)
        .select(col(stratumCol), col("rn"), col(keyCol))
        .orderBy(col(stratumCol), col("rn"))
    }
  }

  /** Graded q51: temperature-flattened mixture sampling — each source's
    * keep-fraction is `ceil(100 * sqrt(n_min / n_s))` percent, so the
    * SMALLEST source keeps everything and an over-crawled source is
    * downsampled toward the square-root of its size ratio (temperature
    * T = 2 in the `p^(1/T)` mixture-reweighting family used to flatten
    * web-crawl source skew). Membership is the md5-bucket rule, so the
    * kept set is deterministic, retry-stable, and engine-identical.
    *
    * Why sqrt and not a log or pow: IEEE-754 requires sqrt and division
    * to be exactly rounded, so both engines compute bit-identical
    * fractions — `pow(x, 1/T)` for general T is not correctly-rounded
    * and could flip a ceil boundary. General-T deployments would accept
    * the band or precompute fractions driver-side.
    *
    * Scale shape: one partial-aggregable count per source (tiny result),
    * broadcast back over the corpus scan — rows decide membership
    * map-side; no corpus shuffle at all.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    mixtureSampleOf(Tables(spark, dir, "documents"), "source")

  /** Graded q52: token-budgeted shard assignment — the packing step
    * between curation and the data loader: documents are laid out in a
    * deterministic global order (md5-hash order, so the layout is
    * engine-portable and independent of input partitioning) and cut
    * into shards of `shardSize` tokens; each document records its
    * global token offset and shard id.
    *
    * The global running sum is computed as a DISTRIBUTED TWO-PHASE
    * PREFIX SUM, not a global window: a single `ORDER BY` window over
    * the whole corpus collapses to one task — the classic scale
    * failure of cumulative queries. Instead:
    *
    *  1. group = first hex digit of the hash — a RANGE of the global
    *     order, so groups compose by concatenation;
    *  2. within-group cumulative sums run in parallel, one window per
    *     group partition;
    *  3. the 16 per-group totals get offsets from a driver-sized
    *     window (O(G) sequential work, G = 16, not O(N));
    *  4. global offset = group offset + within-group exclusive sum.
    *
    * The DuckDB oracle deliberately computes the NAIVE single global
    * window — the hash-match proves the two-phase decomposition exact,
    * row by row. At 100 TB widen the group prefix (2 hex digits = 256
    * ranges, 4 = 65k) so per-group windows stay bounded; the offset
    * table stays driver-sized.
    */
  def tokenShards(spark: SparkSession, dir: String,
      shardSize: Long = 2000L): DataFrame =
    tokenShardsOf(Tables(spark, dir, "documents"), shardSize)

  /** Core of `tokenShards` over any `(doc_id, text)` corpus. */
  def tokenShardsOf(df: DataFrame, shardSize: Long): DataFrame = {
    require(shardSize >= 1, s"shardSize must be >= 1, got $shardSize")
    globalTokenOffsets(df)
      // integer div, not FP `/`: double rounding would misplace a
      // boundary doc once offsets exceed 2^53 tokens
      .withColumn("shard", expr(s"start_tok div $shardSize"))
      .select("doc_id", "n_toks", "start_tok", "shard")
      .orderBy("doc_id")
  }

  /** `(doc_id, n_toks, start_tok)` — each document's token count and its
    * exclusive global token offset in the deterministic md5-hash layout
    * order. The distributed two-phase prefix sum shared by q52's shard
    * assignment and q83's sequence packing (see `tokenShards` for the
    * decomposition argument and its 100 TB widening).
    */
  private def globalTokenOffsets(df: DataFrame): DataFrame =
    globalTokenOffsetsFromCounts(df
      .filter(col("doc_id").isNotNull)
      .withColumn("n_toks",
        size(expr(graft.ops.TextOps.tokensExpr)).cast("long"))
      .select("doc_id", "n_toks"))

  /** [[globalTokenOffsets]] when per-document token counts are already
    * known (`(doc_id, n_toks)`) — callers that tokenized upstream (q88's
    * quality pass) skip a second full-corpus tokenizer scan, the single
    * most expensive projection in the pipeline.
    */
  private[ops] def globalTokenOffsetsFromCounts(counts: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // PERSISTED: both phases read this projection — without the persist
    // the per-group totals re-run the upstream scan (and, on the
    // tokenizing path, the tokenizer itself: PlanAudit showed
    // regexp_extract_all twice); the cached stage is 4 slim columns,
    // the full text never enters it
    val toks = CachedStages.data(counts
      .filter(col("doc_id").isNotNull)
      .withColumn("n_toks", col("n_toks").cast("long"))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("grp", substring(col("h"), 1, 1))
      .select("doc_id", "n_toks", "h", "grp"))
    // phase 1: parallel per-group inclusive cumsums (one window each)
    val withinW = Window.partitionBy("grp").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = toks.withColumn("cum_in", sum(col("n_toks")).over(withinW))
    // phase 2: offsets over the TINY per-group total table (16 rows —
    // the only sequential window, O(groups) not O(rows))
    val offsetW = Window.orderBy("grp")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy("grp").agg(sum(col("n_toks")).as("grp_total"))
      .withColumn("offset", coalesce(sum(col("grp_total")).over(offsetW),
        lit(0L)))
      .select("grp", "offset")
    within.join(broadcast(offsets), "grp")
      .withColumn("start_tok", col("offset") + col("cum_in") - col("n_toks"))
      .select("doc_id", "n_toks", "start_tok")
  }

  /** Graded q83: GPT-style sequence packing — the training corpus is
    * concatenated in the deterministic layout order and chunked into
    * fixed `seqLen`-token context windows; a document that straddles a
    * window boundary is SPLIT, contributing a piece to each window it
    * overlaps (Brown et al. 2020 §2.3 pack documents this way, with a
    * delimiter token between them; the delimiter is a tokenizer concern,
    * not a layout one). One output row per (document, sequence) piece:
    *
    *   - `seq`        the context-window id the piece lands in,
    *   - `seq_start`  the piece's offset WITHIN that window,
    *   - `doc_off`    how far into the document the piece starts,
    *   - `piece_toks` how many tokens the piece contributes.
    *
    * Every window is exactly full (piece sizes in a window sum to
    * `seqLen`, final ragged window excepted) — the invariant the data
    * loader relies on to never pad.
    *
    * Scale shape: the offsets come from the same two-phase prefix sum as
    * q52 (no global window); the span explode is per-row arithmetic —
    * `sequence(first, last)` emits `ceil(n_toks / seqLen) + 1` elements
    * at most, so output size is O(docs + total_tokens / seqLen), never
    * quadratic. Zero-token documents occupy no layout space and emit no
    * piece (`sequence()` would descend for them; they are filtered with
    * the same rule the oracle applies).
    */
  def packSequences(spark: SparkSession, dir: String,
      seqLen: Long = 512L): DataFrame =
    packSequencesOf(Tables(spark, dir, "documents"), seqLen)

  /** Graded q87: deterministic EPOCH SHUFFLE — every training epoch
    * reads the corpus in a different but fully reproducible order:
    * epoch `e`'s position of a document is its rank under
    * `md5(e || '_' || doc_id)`. This is the dataloader contract a
    * 100 TB run cannot live without: re-running epoch 3 after a crash
    * replays EXACTLY the same order (resumable from any step), no
    * driver-held permutation array exists, and any worker can answer
    * "what does step k of epoch e read" from arithmetic + one lookup.
    *
    * The rank is the q52 two-phase decomposition applied to COUNTS: the
    * hash's first hex digit splits each epoch's order into 16 ranges;
    * ranks within a range are a parallel per-(epoch, range) window, the
    * 16-row per-epoch range sizes become offsets via a driver-sized
    * window, and global position = offset + within-rank. All
    * epochs compute in ONE plan (epoch is just another partition key —
    * nothing iterates).
    */
  def epochOrder(spark: SparkSession, dir: String,
      epochs: Int = 3): DataFrame =
    epochOrderOf(Tables(spark, dir, "documents"), epochs)

  /** Core of `epochOrder` over any corpus with a `doc_id` key. */
  def epochOrderOf(df: DataFrame, epochs: Int): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    import org.apache.spark.sql.expressions.Window
    val keyed = CachedStages.data(df
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        explode(expr(s"sequence(0, ${epochs - 1})")).as("epoch"))
      .withColumn("h", md5(concat(col("epoch").cast("string"),
        lit("_"), col("doc_id").cast("string"))))
      .withColumn("grp", substring(col("h"), 1, 1)))
    val withinW = Window.partitionBy("epoch", "grp")
      .orderBy(col("h"), col("doc_id"))
    val within = keyed
      .withColumn("rn", row_number().over(withinW).cast("long"))
    val offsetW = Window.partitionBy("epoch").orderBy("grp")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("epoch", "grp")
      .agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum(col("n")).over(offsetW), lit(0L)))
      .select("epoch", "grp", "offset")
    within.join(broadcast(offsets), Seq("epoch", "grp"))
      .select(col("epoch").cast("long").as("epoch"), col("doc_id"),
        (col("offset") + col("rn") - 1L).as("pos"))
      .orderBy("epoch", "pos")
  }

  /** Core of `packSequences` over any `(doc_id, text)` corpus. */
  def packSequencesOf(df: DataFrame, seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    packFromOffsets(globalTokenOffsets(df), seqLen)
  }

  /** [[packSequencesOf]] from pre-computed `(doc_id, n_toks)` counts —
    * same layout and output, minus the tokenizer pass. Counts must come
    * from the same tokenizer ([[TextOps.tokensExpr]]) or the window
    * boundaries shift.
    */
  def packSequencesFromCounts(counts: DataFrame, seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    packFromOffsets(globalTokenOffsetsFromCounts(counts), seqLen)
  }

  private def packFromOffsets(offsets: DataFrame, seqLen: Long): DataFrame = {
    offsets
      .filter(col("n_toks") > 0)
      .withColumn("end_tok", col("start_tok") + col("n_toks"))
      .withColumn("seq", explode(expr(
        s"sequence(start_tok div $seqLen, (end_tok - 1) div $seqLen)")))
      .withColumn("piece_start",
        greatest(col("start_tok"), col("seq") * seqLen))
      .select(
        col("doc_id"),
        col("seq"),
        (col("piece_start") - col("seq") * seqLen).as("seq_start"),
        (col("piece_start") - col("start_tok")).as("doc_off"),
        (least(col("end_tok"), (col("seq") + 1) * seqLen)
          - col("piece_start")).as("piece_toks"))
      .orderBy("doc_id", "seq")
  }

  /** Core of `mixtureSample` over any corpus with a stratum column and a
    * `doc_id` key.
    */
  def mixtureSampleOf(df: DataFrame, stratumCol: String): DataFrame = {
    val counts = df.groupBy(stratumCol).agg(count(lit(1)).as("n_s"))
    val nMin = counts.agg(min(col("n_s")).as("n_min"))
    val pcts = counts.crossJoin(broadcast(nMin))
      .withColumn("pct",
        ceil(lit(100) * sqrt(col("n_min").cast("double") / col("n_s")))
          .cast("long"))
      .select(stratumCol, "pct")
    df.filter(col("doc_id").isNotNull)
      .join(broadcast(pcts), stratumCol)
      .filter(expr(bucketExpr("doc_id")) < col("pct"))
      .select(col(stratumCol), col("pct"), col("doc_id"))
      .orderBy(stratumCol, "doc_id")
  }

  /** Graded q131: LEARNING-CURVE TIERS — the scaling-law sampling
    * manifest: NESTED 10% / 25% / 50% / 100% subsets of the corpus via
    * the q44 md5-bucket rule (`bucket < t` ⊂ `bucket < t'` for t < t',
    * so every smaller subset is contained in every larger one BY
    * CONSTRUCTION — the property a data-scaling study needs so each
    * point trains on a superset of the previous, isolating the
    * data-quantity axis). Each document is labelled with its SMALLEST
    * containing tier; the report rolls up per (source, tier) doc and
    * token counts plus the running cumulative — the cumulative AT tier
    * t IS subset t, so the table reads directly as the per-point
    * training budget.
    *
    * Scale shape: one corpus scan (bucket + token count are per-row
    * projections) into a |sources|·|tiers| aggregate; the cumulative
    * window runs over ≤ |tiers| rows per source. All integer.
    */
  def learningCurveTiers(spark: SparkSession, dir: String,
      tiers: Seq[Int] = Seq(10, 25, 50, 100)): DataFrame =
    learningCurveTiersOf(Tables(spark, dir, "documents"), tiers)

  /** Core of `learningCurveTiers` over any `(doc_id, source, text)`
    * corpus.
    */
  def learningCurveTiersOf(docs: DataFrame, tiers: Seq[Int]): DataFrame = {
    require(tiers.nonEmpty && tiers == tiers.sorted && tiers.last == 100 &&
      tiers.forall(t => t > 0 && t <= 100),
      s"tiers must be ascending percentages ending at 100, got $tiers")
    val tierCase = tiers.map(t => s"WHEN bkt < $t THEN ${t}L")
      .mkString("CASE ", " ", " END")
    val perTier = docs.filter(col("doc_id").isNotNull)
      .withColumn("bkt", expr(bucketExpr("doc_id")))
      .withColumn("tier", expr(tierCase))
      .withColumn("n_toks",
        expr(s"size(${TextOps.tokensExpr})").cast("long"))
      .groupBy("source", "tier")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("tier").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perTier
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .orderBy("source", "tier")
  }

  /** Graded q152: SHARD-REBALANCE cost, mod vs CONSISTENT HASHING
    * (Karger et al., STOC 1997) — the measurement behind every
    * distributed cache/store's ring: when a cluster grows from N to
    * N+1 shards, how many keys MOVE under each assignment scheme?
    * `key mod N` reassigns ~N/(N+1) of everything (a full reshuffle);
    * a hash ring with virtual nodes moves only the arcs the new
    * shard's vnodes claim, ~1/(N+1). The report states both as
    * measured ppm over the real key population — the number that
    * justifies a ring's complexity.
    *
    * Determinism: ring positions are 48-bit md5 prefixes of stable
    * node names (`node:<shard>:<vnode>` — shard s keeps its vnodes
    * verbatim when N grows, THE consistent-hashing invariant) and key
    * names; the successor-on-the-ring argmin is encoded as ONE
    * integer min over `pos·32 + shard` (shard < 32, so the code fits
    * a long and ties at equal positions break by shard asc
    * identically on both engines), with the wrap-around as a coalesce
    * to the global min.
    *
    * Scale shape: the key table persists once; each ring assignment
    * is a broadcast of the N·V-row node table (model-sized by
    * construction) crossed against keys with a map-side-combined
    * per-key min — no shuffle wider than the key table itself; the
    * mod comparison is a pushed-down projection. Output: 2 rows.
    */
  def shardRebalance(spark: SparkSession, dir: String, shards: Int = 8,
      vnodes: Int = 16): DataFrame = {
    require(shards >= 1 && shards + 1 < 32, s"shard code space: $shards")
    def pos(arg: String) =
      s"CAST(conv(substring(md5($arg), 1, 12), 16, 10) AS BIGINT)"
    val keys = CachedStages.data(Tables(spark, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        expr(pos("concat('key:', CAST(doc_id AS STRING))")).as("kpos")))
    def ringAssign(n: Int, outCol: String): DataFrame = {
      val nds = spark.range(n.toLong * vnodes).select(
        expr(s"id div $vnodes").as("shard"),
        expr(pos(s"concat('node:', CAST(id div $vnodes AS STRING), " +
          s"':', CAST(id % $vnodes AS STRING))")).as("npos"))
        .withColumn("code", expr("npos * 32 + shard"))
      keys.crossJoin(broadcast(nds))
        .groupBy("doc_id", "kpos")
        .agg(min(when(col("npos") >= col("kpos"), col("code")))
          .as("after"), min(col("code")).as("wrap"))
        .select(col("doc_id"),
          (coalesce(col("after"), col("wrap")) % 32).as(outCol))
    }
    val ringMoved = ringAssign(shards, "s_old")
      .join(ringAssign(shards + 1, "s_new"), Seq("doc_id"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("s_old") =!= col("s_new"), 1L).otherwise(0L))
          .as("n_moved"))
    val modMoved = keys.agg(count(lit(1)).as("n_keys"),
      sum(when(expr(s"doc_id % $shards <> doc_id % ${shards + 1}"), 1L)
        .otherwise(0L)).as("n_moved"))
    modMoved.select(lit("mod").as("scheme"), col("n_keys"),
        col("n_moved"), expr("n_moved * 1000000 div n_keys")
          .as("moved_ppm"))
      .unionByName(ringMoved.select(lit("ring").as("scheme"),
        col("n_keys"), col("n_moved"),
        expr("n_moved * 1000000 div n_keys").as("moved_ppm")))
      .orderBy("scheme")
  }
}

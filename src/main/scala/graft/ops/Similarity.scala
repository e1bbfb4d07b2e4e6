package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Brute-force cosine top-k is the baseline: a small query set is
  * broadcast against the corpus, so the corpus is scanned once with no
  * shuffle — the plan that still works when the corpus is 100 TB (the
  * query side stays driver-sized; the scan is embarrassingly parallel).
  * The label-partitioned variant is the IVF-style scale path: the search
  * space is pruned to the query's cluster via an equi-join on the cluster
  * id before any distance is computed.
  *
  * Oracle parity: float elements are cast to double (exact) before any
  * math; cosines are rounded to 6 decimals and ties broken by vec_id, so
  * rankings are deterministic and engine-independent.
  */
object Similarity {

  /** embeddings with elements cast to double, as (vec_id, label, v). */
  def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  /** embeddings kept as raw float arrays — the KNN hot path feeds these
    * straight into the fused codegen'd cosine_sim expression (no
    * per-row double-array materialization).
    */
  def rawVectors(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").as("v"))

  private def queries(spark: SparkSession, dir: String): DataFrame =
    rawVectors(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("q_vec"))

  private def cosined(spark: SparkSession, corpus: DataFrame, qs: DataFrame,
      joinOn: Option[String]): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val joined = joinOn match {
      case Some(cond) => corpus.join(broadcast(qs), expr(cond))
      case None => corpus.crossJoin(broadcast(qs))
    }
    joined
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(expr("cosine_sim(q_vec, v)"), 6))
  }

  /** Brute-force cosine top-5 per query vector (query set: vec_id < 8). */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cosined(spark, rawVectors(spark, dir), queries(spark, dir), None)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select("q_id", "rn", "vec_id", "cos")
      .orderBy("q_id", "rn")
  }

  /** IVF-style pruned search: only vectors sharing the query's cluster
    * label are scored (top-3 per query). The bucket equi-join replaces the
    * cross join — at scale this is the difference between scanning the
    * whole corpus and one partition of it.
    */
  def labelKnn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cosined(spark, rawVectors(spark, dir), queries(spark, dir),
      Some("label = q_label"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("q_id", "q_label", "rn", "vec_id", "cos")
      .orderBy("q_id", "rn")
  }

  /** Graded q84: hard-negative mining for contrastive training — for
    * each anchor (the probe set), the top-k most-similar vectors whose
    * label DIFFERS from the anchor's. These near-miss negatives are what
    * a retrieval/embedding model trains against (random negatives are
    * trivially separable; the informative ones sit just across the
    * decision boundary — Xiong et al. 2021 ANCE mines them exactly this
    * way, with ANN search over the current embedding space).
    *
    * Scale shape: identical to q21's — anchors broadcast, one corpus
    * scan, label-mismatch filtered BEFORE the ranking window so
    * same-label rows never enter the top-k state. At 100 TB the
    * brute-force scan swaps for the IVF/LSH probe (q28/q29) with the
    * same mismatch filter; the emitted triplets are O(anchors · k)
    * either way.
    */
  def hardNegatives(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cosined(spark, rawVectors(spark, dir), queries(spark, dir), None)
      .filter(col("label") =!= col("q_label"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("q_label"), col("rn"), col("vec_id"),
        col("label").as("neg_label"), col("cos"))
      .orderBy("q_id", "rn")
  }

  /** Graded q137: EMBEDDING NORM QUARANTINE — per label, flag vectors
    * whose L2 norm falls outside [median/2, 2·median]: the cheap
    * pre-ANN screen every vector-ingestion pipeline runs, because
    * near-zero norms make cosine numerically meaningless and runaway
    * norms are upstream bugs (double-scaling, wrong dtype, un-pooled
    * tokens) that would dominate inner-product retrieval. Norms
    * quantize to CENTI-units (`floor(norm·100)` — floor is
    * bit-deterministic cross-engine), collapsing to a value-domain
    * histogram (the q128 discipline: bounded by the norm RANGE, not
    * the corpus); the median is the exact ceil-rank pick and the
    * outlier counts re-read the same histogram against the broadcast
    * median. One corpus pass, then histogram-sized work; all integer
    * after the quantization.
    */
  def normOutliers(spark: SparkSession, dir: String): DataFrame =
    normOutliersOf(Tables(spark, dir, "embeddings"))

  /** Core of `normOutliers` over any `(label, embedding)` frame. */
  def normOutliersOf(vecs: DataFrame): DataFrame = {
    val hist = CachedStages.model(vecs
      .withColumn("norm", expr(
        """sqrt(aggregate(
          |  transform(embedding, x -> cast(x as double) * cast(x as double)),
          |  cast(0 as double), (acc, s) -> acc + s))""".stripMargin))
      .withColumn("norm_cu", expr("CAST(floor(norm * 100.0D) AS BIGINT)"))
      .groupBy("label", "norm_cu").agg(count(lit(1)).as("nv")))
    val w = Window.partitionBy("label").orderBy(col("norm_cu").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = hist.groupBy("label").agg(sum(col("nv")).as("n_vecs"))
    val med = hist
      .withColumn("cum", sum(col("nv")).over(w))
      .join(broadcast(totals), Seq("label"))
      .filter(expr("cum >= (n_vecs + 1) div 2"))
      .groupBy("label")
      .agg(max(col("n_vecs")).as("n_vecs"),
        min(col("norm_cu")).as("median_norm_cu"))
    hist.join(broadcast(med), Seq("label"))
      .groupBy("label")
      .agg(max(col("n_vecs")).as("n_vecs"),
        max(col("median_norm_cu")).as("median_norm_cu"),
        sum(when(col("norm_cu") * 2 < col("median_norm_cu"), col("nv"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("norm_cu") > col("median_norm_cu") * 2, col("nv"))
          .otherwise(0L)).as("n_high"))
      .orderBy("label")
  }

  /** q21's dense cosine ranking at an arbitrary depth, as
    * (q_id, doc_id, rank) — the dense arm of [[rrfFusion]].
    */
  private[graft] def cosineRanking(spark: SparkSession, dir: String,
      k: Int): DataFrame =
    cosineRankingOf(rawVectors(spark, dir), k)

  private[graft] def cosineRankingOf(vectors: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cosined(vectors.sparkSession, vectors,
      vectors.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("q_vec")), None)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rank"))
  }

  /** Graded q126: RECIPROCAL-RANK-FUSION hybrid retrieval (Cormack,
    * Clarke & Buettcher, SIGIR 2009) — the standard way modern search
    * stacks combine a DENSE ranking (embedding cosine, q21's arm) with
    * a SPARSE one (rare-term lexical relatedness, q121's arm) without
    * comparable scores: each system contributes `1/(K + rank)` per
    * document and the fused order is by the sum. Documents the two
    * systems disagree about rise only if one ranks them very high;
    * documents BOTH surface dominate — which is exactly why every
    * hybrid vector store (Elasticsearch, OpenSearch, Qdrant, Weaviate)
    * ships RRF as the default fusion. The probe set is the shared
    * vec_id/doc_id < 8 id space the two test tables align on.
    *
    * Determinism: ranks are integers, so the RRF term is kept as
    * integer ppm — `10⁶ div (K + rank)` — and the fused score is a sum
    * of at most two bigints; ties break by doc_id. K = 60, the
    * constant from the paper. A doc missing from one arm simply lacks
    * that term (coalesce 0) — no imputation.
    *
    * Scale shape: both arms are the ALREADY-AUDITED plans (q21's
    * broadcast-probe corpus scan; q121's capped-index self-join); the
    * fusion itself is a full-outer join of two O(probes · k) rank
    * lists — report-sized, trivially broadcastable — and the final
    * top-k is a window over ≤ 2k rows per probe.
    */
  def rrfFusion(spark: SparkSession, dir: String, kPerSystem: Int = 10,
      kOut: Int = 5, kConst: Int = 60, maxDf: Long = 50L): DataFrame = {
    val dense = cosineRanking(spark, dir, kPerSystem)
      .withColumnRenamed("rank", "dense_rank")
    val sparse = TextOps.relatedDocs(spark, dir, maxDf, kPerSystem)
      .filter(col("doc_id") < 8)
      .select(col("doc_id").as("q_id"),
        col("related_doc_id").as("doc_id"), col("rn").as("sparse_rank"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
    dense.join(sparse, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_ppm", expr(
        s"""coalesce(1000000 div ($kConst + dense_rank), 0L)
           | + coalesce(1000000 div ($kConst + sparse_rank), 0L)"""
          .stripMargin))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= kOut)
      .select("q_id", "rn", "doc_id", "dense_rank", "sparse_rank",
        "rrf_ppm")
      .orderBy("q_id", "rn")
  }

  /** Graded q103: EMBEDDING-SPACE decontamination — the vector-side
    * member of the decontamination family (Dedup's 3/13-gram and span
    * surgeries are its text-side siblings). A benchmark/eval embedding
    * set is screened against the training corpus: any corpus vector
    * whose cosine to some benchmark vector reaches `tau` is a leak the
    * n-gram screens cannot see (paraphrases, translations, format
    * shifts — near-identical in embedding space, token-disjoint on the
    * surface). The report is per-label flag counts in integer ppm — the
    * release-gate number an eval-integrity check signs off on.
    *
    * The benchmark here is DERIVED with a planted leak: every 100th
    * corpus vector, rescaled ×2. Cosine is scale-invariant, so each of
    * those is an exact (similarity 1.0) leaked twin of a corpus row —
    * the renormalized-copy scenario real eval sets exhibit — while the
    * measured cross-set background on this corpus tops out at ~0.45,
    * far under the 0.95 gate: the op must flag exactly the planted
    * set, and a kernel that drifts either way turns the row red.
    *
    * Scale shape: q94's decontamination plan transplanted to vectors —
    * the benchmark side BROADCASTS (eval sets are small by nature), the
    * corpus is scanned once through the fused codegen'd cosine kernel
    * with no shuffle, and only (label, flagged vec_id) survivors enter
    * the distinct-count aggregate, so the exchange after the scan
    * carries flagged pairs (rare), never the corpus.
    */
  def embeddingDecontamination(spark: SparkSession, dir: String,
      tau: Double = 0.95): DataFrame =
    embeddingDecontaminationOf(spark, rawVectors(spark, dir), tau)

  /** Hard bound on the broadcast benchmark side of
    * [[embeddingDecontaminationOf]]: 2^18 rows (~64 MB at the fixture's
    * 64-dim float vectors) — model-sized in the same sense as
    * DocStreams.fitBenchmark's frozen eval set. Real benchmark/eval
    * sets are fixed-size by nature; the synthetic graded set is derived
    * as `vec_id % 100` of the corpus and therefore GROWS with it, so
    * without this gate a corpus-proportional caller would silently turn
    * the broadcast into a scale-killer. Above the cap the op refuses
    * loudly rather than degrade: the right fallback is an LSH-bucketed
    * prefilter (the q29 plan) joining corpus to benchmark on shared
    * buckets, which no longer needs the benchmark in one executor.
    */
  val MaxDecontamBenchRows: Int = 1 << 18

  /** Core of `embeddingDecontamination` over any `(vec_id, label, v)`
    * float-vector corpus. The benchmark side must fit the
    * [[MaxDecontamBenchRows]] broadcast bound — checked with an
    * early-exit `limit(cap+1).count()` probe (reads only `vec_id`
    * after pruning, stops as soon as the cap is disproven).
    */
  def embeddingDecontaminationOf(spark: SparkSession, corpus: DataFrame,
      tau: Double, maxBenchRows: Int = MaxDecontamBenchRows): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val bench = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("b_id"),
        // ×2 is exact in float and cancels in the cosine — a planted
        // similarity-1.0 leak of every 100th corpus vector
        expr("transform(v, x -> CAST(x * CAST(2 AS FLOAT) AS FLOAT))")
          .as("b_vec"))
    val nBench = bench.select("b_id").limit(maxBenchRows + 1).count()
    require(nBench <= maxBenchRows,
      s"embedding-decontamination benchmark side exceeds the broadcast " +
        s"bound ($nBench+ rows > $maxBenchRows): eval sets must be " +
        s"model-sized; for a corpus-proportional set use an LSH-bucketed " +
        s"prefilter (Similarity.annLsh / q29 plan) instead of broadcast")
    val flags = corpus.crossJoin(broadcast(bench))
      .withColumn("cos", round(expr("cosine_sim(b_vec, v)"), 6))
      .groupBy("label")
      .agg(countDistinct(when(col("cos") >= tau, col("vec_id")))
        .as("n_flagged"))
    corpus.groupBy("label").agg(count(lit(1)).as("n_vecs"))
      .join(flags, Seq("label"), "left")
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        expr("coalesce(n_flagged, 0) * 1000000 div n_vecs")
          .as("flagged_ppm"))
      .orderBy("label")
  }

  /** Full two-stage IVF search: (1) compute per-label centroids, (2)
    * assign each query vector to its nearest centroid by squared L2
    * distance, (3) score cosine only against vectors in that one cluster
    * (top-3). Unlike labelKnn (which trusts the stored label), this is
    * the real IVF flow — the probe list comes from the centroid index.
    * At 100 TB the centroid table is tiny and broadcast; the corpus scan
    * is pruned to ~1/n_clusters of the data by the cluster equi-join.
    */
  def ivfKnn(spark: SparkSession, dir: String,
      exact: Boolean = true): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    // centroid arrays: label -> array<double>, dims ordered. exact=false
    // swaps in the O(1)-state scale-mode centroids (see labelCentroids).
    val cent = labelCentroids(spark, dir, exact)
      .groupBy("label")
      .agg(expr("array_sort(collect_list(struct(dim, centroid)))").as("dc"))
      .select(col("label").as("c_label"),
        expr("transform(dc, x -> x.centroid)").as("c_vec"))
    // assign each query to its nearest centroid (exact over 10 centroids)
    val qs = vectors(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("q_dvec"))
      .crossJoin(broadcast(cent))
      .withColumn("dist", round(expr(
        "aggregate(zip_with(q_dvec, c_vec, (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"), 6))
      .transform { d =>
        val w = Window.partitionBy("q_id")
          .orderBy(col("dist").asc, col("c_label").asc)
        d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      }
      .select(col("q_id"), col("c_label").as("probe_label"))
    val qvecs = rawVectors(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    rawVectors(spark, dir)
      .join(broadcast(qs), col("label") === col("probe_label"))
      .join(broadcast(qvecs), "q_id")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(expr("cosine_sim(q_vec, v)"), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("q_id", "probe_label", "rn", "vec_id", "cos")
      .orderBy("q_id", "rn")
  }

  /** Graded q266: IVF PROBE SWEEP — recall@k AND scan cost at
    * nprobe = 1..3, the serving knob every IVF deployment tunes
    * first (FAISS's `nprobe`): probing more inverted lists buys
    * recall linearly in scanned rows, and the right setting is read
    * off exactly this curve. q28 is the nprobe=1 operating point;
    * q151 compares methods at fixed parameters; this grades the
    * COST–RECALL TRADEOFF of one method. Per nprobe: queries, rows
    * scanned (the cost axis — what an executor actually pays),
    * emitted pairs (lists can under-fill k; honest denominator, the
    * q151 convention), hits against the exact ranking, recall ppm.
    *
    * Determinism: q28's exact centroid/assignment chain (sorted-fold
    * centroid means, round-6 distances, label tie-break), candidates
    * carry their centroid rank so ONE persisted scored table serves
    * every nprobe by filter; the exact arm is q21's audited ranking.
    *
    * Scale shape: centroids and query assignments broadcast; the
    * candidate build is ONE corpus-side equi-join on the cluster
    * label (scanning ≤ maxProbe lists per query — the IVF contract);
    * each sweep row is a filter + probes·k-sized window over the
    * cached candidates. At true scale only n_scanned grows with the
    * corpus — exactly what the report measures.
    */
  def ivfProbeSweep(spark: SparkSession, dir: String, k: Int = 3,
      maxProbe: Int = 3): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val cent = labelCentroids(spark, dir, exact = true)
      .groupBy("label")
      .agg(expr("array_sort(collect_list(struct(dim, centroid)))")
        .as("dc"))
      .select(col("label").as("c_label"),
        expr("transform(dc, x -> x.centroid)").as("c_vec"))
    val ranked = vectors(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("q_dvec"))
      .crossJoin(broadcast(cent))
      .withColumn("dist", round(expr(
        "aggregate(zip_with(q_dvec, c_vec, (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"), 6))
      .transform { d =>
        val w = Window.partitionBy("q_id")
          .orderBy(col("dist").asc, col("c_label").asc)
        d.withColumn("crank", row_number().over(w).cast("long"))
      }
      .filter(col("crank") <= maxProbe)
      .select(col("q_id"), col("c_label").as("probe_label"),
        col("crank"))
    val qvecs = rawVectors(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
    val cands = CachedStages.data(rawVectors(spark, dir)
      .join(broadcast(ranked), col("label") === col("probe_label"))
      .join(broadcast(qvecs), Seq("q_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(expr("cosine_sim(q_vec, v)"), 6))
      .select("q_id", "vec_id", "crank", "cos"))
    val exact = CachedStages.model(cosineRanking(spark, dir, k)
      .select(col("q_id"), col("doc_id").as("vec_id")).repartition(1))
    (1 to maxProbe).map { np =>
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val sub = cands.filter(col("crank") <= np)
      val scannedRow = broadcast(sub.agg(count(lit(1)).as("n_scanned")))
      sub.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .join(exact.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"),
          "left")
        .agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .crossJoin(scannedRow)
        .select(lit(np.toLong).as("nprobe"), col("n_queries"),
          col("n_scanned"), col("n_pairs"), col("n_hits"),
          expr("n_hits * 1000000 div n_pairs").as("recall_ppm"))
    }.reduce(_.unionByName(_)).orderBy("nprobe")
  }

  /** The nPlanes×64 ±1 hyperplane matrix — md5("p_i") first-digit
    * parity, single-sourced in `LshBuckets.flatPlanes` (the same table
    * the fused kernel bakes into codegen, and the formula the DuckDB
    * oracle evaluates in SQL).
    */
  private[graft] def hyperplanes(nPlanes: Int): Seq[Seq[Double]] = {
    val flat = graft.functions.LshBuckets.flatPlanes(nPlanes)
    val d = graft.functions.LshBuckets.Dims
    (0 until nPlanes).map(p => flat.slice(p * d, (p + 1) * d).toSeq)
  }

  /** Attach sign-random-projection LSH bucket columns b0..b{nTables-1}:
    * table t's bucket is the `bitsPerTable` sign bits of the vector's dot
    * products with planes [t·bitsPerTable, (t+1)·bitsPerTable). Multi-
    * table LSH is the standard recall lever — a true neighbor only needs
    * to agree with the query in ONE table's signs to become a candidate —
    * and bitsPerTable is the precision lever (2^bits buckets per table).
    * At corpus scale both are raised together (e.g. 8 tables × 16 bits)
    * so per-bucket candidate counts stay ~N/2^bits per table.
    *
    * All nTables buckets come from ONE fused `lsh_buckets` call (native
    * codegen'd kernel, `functions/LshBuckets.scala`) — the composed
    * HOF-fold form this replaces paid nTables·bitsPerTable interpreted
    * 64-dim lambda folds per row, which dominated q29 at 16×4. Sequential
    * accumulation in the kernel keeps dot products bit-identical to the
    * fold and to DuckDB's `list_reduce` (`lshBucketSql`).
    */
  private[graft] def lshBucketed(corpus: DataFrame, nTables: Int,
      bitsPerTable: Int): DataFrame = {
    graft.functions.LshBuckets.register(corpus.sparkSession)
    val withArr = corpus.withColumn("__bks",
      expr(s"lsh_buckets(v, $nTables, $bitsPerTable)"))
    (0 until nTables).foldLeft(withArr) { (df, t) =>
      df.withColumn(s"b$t", col("__bks").getItem(t))
    }.drop("__bks")
  }

  /** Hyperplane-LSH ANN: candidates share any table's bucket with the
    * query — the classic LSH-bucketed scale path: the corpus cross join
    * is replaced by bucket equi-joins, ~nTables/2^bitsPerTable of the
    * search space per probe. Top-k by cosine within the candidate set.
    * Defaults (8 tables × 4 bits) are the graded shape; RecallSpec
    * probes recall vs the brute-force q21 ranking — the signal the
    * hash-match oracle cannot see. Measured on the synthetic corpus
    * (true neighbors at only ~0.4 cosine, a hard case for sign-LSH):
    * top-3 recall is 0.29 at 2×4, 0.625 at the graded 8×4, and 0.875 at
    * 16×4 — nTables is the recall lever (candidate sets are nested as
    * tables are added, so recall is monotone in nTables), bitsPerTable
    * the candidate-count lever a 100 TB deployment raises toward
    * log2(N) alongside it.
    */
  def lshAnn(spark: SparkSession, dir: String, nTables: Int = 8,
      bitsPerTable: Int = 4, k: Int = 3): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    // The bucketed stage is read once for the query side and once per
    // table for the corpus side; persist so the nTables*64 interpreted
    // dot-product folds run once per row, not once per scan (same
    // persist caveat as Dedup.nearDupPairs — harnesses clear the cache;
    // library callers release via CachedStages.release).
    val bucketed = CachedStages.data(
      lshBucketed(rawVectors(spark, dir), nTables, bitsPerTable))
    // Candidate generation as ONE melted equi-join instead of nTables
    // separate joins unioned: explode each row to (vec_id, t, bucket),
    // join on (t, bucket), and dedup the SLIM (q_id, vec_id) pairs
    // before re-attaching the 64-float vectors from the persisted stage.
    // The old union-of-joins shape carried both vectors through the
    // union and the distinct; this one shuffles only id pairs, and its
    // stage count is independent of nTables — the shape that holds when
    // a 100 TB deployment turns the table lever up.
    val buckets = meltedBuckets(bucketed, nTables)
    val qBuckets = buckets.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("t"), col("bk"))
    annTopK(bucketed, buckets, qBuckets, k)
  }

  /** (vec_id, t, bk) rows — one per (row, table) of the bucketed stage. */
  private def meltedBuckets(bucketed: DataFrame, nTables: Int): DataFrame =
    bucketed.select(col("vec_id"), posexplode(
      array((0 until nTables).map(t => col(s"b$t")): _*)).as(Seq("t", "bk")))

  /** Shared ANN tail: bucket-join candidates, dedup slim id pairs,
    * re-attach vectors from the persisted stage, score, rank top-k.
    * The query-vector side is derived from qBuckets' own q_id set (not
    * re-filtered from bucketed), so a caller widening its query set
    * cannot silently desynchronize from this join.
    */
  private def annTopK(bucketed: DataFrame, buckets: DataFrame,
      qBuckets: DataFrame, k: Int): DataFrame = {
    val qVecs = bucketed
      .join(qBuckets.select(col("q_id")).distinct(),
        col("vec_id") === col("q_id"))
      .select(col("q_id"), col("v").as("q_vec"))
    val cand = buckets.join(broadcast(qBuckets), Seq("t", "bk"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id")
      .dropDuplicates("q_id", "vec_id")
      .join(bucketed.select(col("vec_id"), col("v")), "vec_id")
      .join(broadcast(qVecs), "q_id")
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand
      .withColumn("cos", round(expr("cosine_sim(q_vec, v)"), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "rn", "vec_id", "cos")
      .orderBy("q_id", "rn")
  }

  /** Multi-probe LSH ANN (Lv et al., VLDB'07): each query probes its own
    * bucket in every table PLUS all `bitsPerTable` Hamming-1 neighbor
    * buckets — a true neighbor that disagrees with the query on exactly
    * one of a table's hyperplane signs is still found. Probing 1 + bits
    * buckets of 2^bits per table buys the recall of a many-table index
    * at a fraction of the tables: on the sf0.001 corpus, 2x4 multi-probe
    * reaches the recall neighborhood of 8 single-probe tables
    * (RecallSpec measures both). At 100 TB tables are index REPLICAS
    * (memory), probes are extra lookups (cheap latency) — multi-probe is
    * how a deployment trades the former for the latter.
    *
    * Only the query side explodes its probe list (queries are few); the
    * corpus side stays one melted row per (vector, table).
    */
  def lshAnnMultiProbe(spark: SparkSession, dir: String, nTables: Int = 2,
      bitsPerTable: Int = 4, k: Int = 3): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val bucketed = CachedStages.data(
      lshBucketed(rawVectors(spark, dir), nTables, bitsPerTable))
    val buckets = meltedBuckets(bucketed, nTables)
    val probeList = (s"bk" +: (0 until bitsPerTable).map(f => s"bk ^ ${1 << f}"))
      .mkString("array(", ", ", ")")
    val qProbes = buckets.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("t"),
        explode(expr(probeList)).as("bk"))
    annTopK(bucketed, buckets, qProbes, k)
  }

  /** The planted-near-dup corpus for q30 / RecallSpec: every 50th vector
    * re-added verbatim under vec_id + 100,000.
    */
  private[graft] def plantedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    base.unionByName(
      base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("v")))
  }

  /** Embedding-cosine near-duplicate detection — the vector-space member
    * of the dedup family (exact hash / MinHash / SimHash / n-gram
    * Jaccard / THIS). All-pairs comparison is replaced by LSH-bucket
    * candidate generation: only vectors sharing a table's
    * `bitsPerTable`-bit bucket are scored, then pairs with cosine >=
    * minCos are reported. The corpus plants an identical copy of every
    * 50th vector (the synthetic embeddings have no natural near-dups:
    * max natural cosine ~0.43), so the planted pairs are exactly what
    * the pipeline must recover.
    *
    * Near-dup detection tolerates MUCH narrower buckets than top-k ANN:
    * vectors at cosine >= 0.999 agree on (essentially) every hyperplane
    * sign, so they share a bucket in every table at any width — recall
    * stays 1.0 while candidate count falls as 2^-bits (RecallSpec proves
    * both). The graded default is therefore 12 bits (4096 buckets/table,
    * ~256x fewer candidate pairs than 4 bits); at 100 TB raise bits
    * toward log2(N) so per-bucket counts stay flat.
    */
  def embeddingNearDups(spark: SparkSession, dir: String, nTables: Int = 2,
      bitsPerTable: Int = 12, minCos: Double = 0.999): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    // persisted: each table's self-join reads the stage twice, so without
    // the cache the LSH folds run 2*nTables times per row (persist caveat
    // as in Dedup.nearDupPairs — harnesses clear the session cache;
    // library callers release via CachedStages.release).
    val bucketed = CachedStages.data(
      lshBucketed(plantedCorpus(spark, dir), nTables, bitsPerTable))
    def cands(b: String) = {
      val l = bucketed.select(col("vec_id").as("id_a"), col("v").as("v_a"),
        col(b).as("bk"))
      val r = bucketed.select(col("vec_id").as("id_b"), col("v").as("v_b"),
        col(b).as("bk"))
      l.join(r, Seq("bk")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "v_a", "v_b")
    }
    // Score-then-dedup: the cosine is a cheap fused codegen expression, so
    // a pair colliding in several tables just gets scored once per
    // collision map-side; the >= minCos filter then leaves only true
    // near-dups to deduplicate. The alternative order (dedup first)
    // shuffles every candidate pair WITH both 64-float vectors attached —
    // at N rows and 2^bits buckets that is ~N^2/2^bits * 512 B of
    // exchange, the plan's only real cost. Result set is identical.
    (0 until nTables).map(t => cands(s"b$t")).reduce(_ unionByName _)
      .withColumn("cos", round(expr("cosine_sim(v_a, v_b)"), 6))
      .filter(col("cos") >= minCos)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "cos")
      .orderBy("id_a", "id_b")
  }

  /** Per-cluster centroids, one row per (label, dim), in two modes.
    *
    * exact = true (the graded oracle mode): double summation is
    * order-dependent and decimal round-tripping of float32 values is not
    * engine-stable, so each group's values are sorted and folded
    * sequentially — both engines then add the same doubles in the same
    * order and the means are bit-identical. The `collect_list` holds one
    * group's values; this is affordable only where bit-parity against
    * another engine is the requirement.
    *
    * exact = false (the scale mode): a plain `avg` — partial aggregation
    * (map-side combine) with O(1) state per (label, dim) group, the form
    * that survives 100 TB. Results differ from exact mode only by
    * floating-point summation order (≤ ~1e-9 relatively); ScaleSpec
    * asserts both the plan (no collect_list/sort_array) and the numeric
    * agreement.
    */
  def labelCentroids(spark: SparkSession, dir: String,
      exact: Boolean = true): DataFrame = {
    val exploded = vectors(spark, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "val")))
      .withColumn("dim", col("dim").cast("long"))
    val agged =
      if (exact)
        exploded.groupBy("label", "dim")
          .agg(sort_array(collect_list(col("val"))).as("vals"),
            count(lit(1)).as("n"))
          .withColumn("centroid", expr(
            "aggregate(slice(vals, 2, size(vals)), vals[0], (a, x) -> a + x)") /
            col("n"))
      else
        exploded.groupBy("label", "dim")
          .agg(avg(col("val")).as("centroid"))
    agged.select("label", "dim", "centroid").orderBy("label", "dim")
  }

  /** Graded q144: MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell &
    * Goldstein, SIGIR 1998) — the diversification pass every retrieval
    * stack runs AFTER the ANN arm: from each probe's top-`nCand`
    * cosine candidates, greedily select `k` results maximizing
    * `λ·rel(i) − (1−λ)·max_{j∈S} sim(i, j)` — relevance to the query
    * minus redundancy against what is already selected. Plain top-k
    * (q21) returns near-duplicate neighbors of one mode; MMR is what
    * makes a RAG context window or a recommendation row COVER the
    * query's modes instead.
    *
    * Determinism: cosines go through the established `round(·, 6)`
    * kernel parity, then quantize to integer ppm via
    * `round(cos·10⁶, 0)` (exact: the rounded double is integral ±1e-9,
    * so both engines' nearest-integer agree); with λ = 7/10 the
    * selection score is the INTEGER `7·rel_ppm − 3·maxsim_ppm` (kept
    * un-divided — scale does not change the argmax, and dividing a
    * possibly-negative score would hit the div-vs-floor engine
    * mismatch). Ties break by vec_id ascending; round 1 is pure
    * relevance (S empty → redundancy 0).
    *
    * Scale shape: the candidate stage IS q21's audited broadcast-probe
    * corpus scan, cut to `nCand` per probe; everything after runs on
    * PER-PROBE BOUNDED state — the persisted candidate table
    * (probes·nCand rows, with vectors) and the pairwise sim table
    * (probes·nCand² rows, built by a q_id-keyed self-join through the
    * fused cosine kernel). Each of the k rounds is one bounded join
    * (remaining × selected members' sims), a map-side-combined max,
    * and a per-probe struct-max argmax — no window over anything
    * corpus-sized, no driver loop over rows; rounds localCheckpoint
    * to keep the plan flat (the q40/q69 iterative discipline).
    */
  def mmrRerank(spark: SparkSession, dir: String, nProbes: Int = 4,
      nCand: Int = 10, k: Int = 5): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val probes = rawVectors(spark, dir).filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
    val cand = CachedStages.model(rawVectors(spark, dir)
      .crossJoin(broadcast(probes))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(expr("cosine_sim(q_vec, v)"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nCand)
      .select(col("q_id"), col("vec_id"), col("v"),
        expr("CAST(round(cos * 1000000, 0) AS BIGINT)").as("rel_ppm"))
      .repartition(1))
    val pairs = CachedStages.model(cand
      .select(col("q_id"), col("vec_id").as("a"), col("v").as("va"))
      .join(cand.select(col("q_id"), col("vec_id").as("b"),
        col("v").as("vb")), Seq("q_id"))
      .filter(col("a") =!= col("b"))
      .withColumn("sim_ppm", expr(
        "CAST(round(round(cosine_sim(va, vb), 6) * 1000000, 0) AS BIGINT)"))
      .select("q_id", "a", "b", "sim_ppm"))
    def argmax(scored: DataFrame, rank: Int): DataFrame =
      scored.groupBy("q_id")
        .agg(max(struct(col("mmr_fp"), (-col("vec_id")).as("nid"),
          col("vec_id"), col("rel_ppm"))).as("m"))
        .select(col("q_id"), lit(rank.toLong).as("rank"),
          col("m.vec_id").as("vec_id"), col("m.rel_ppm").as("rel_ppm"),
          col("m.mmr_fp").as("mmr_fp"))
    var out = argmax(cand.withColumn("mmr_fp", expr("7 * rel_ppm")), 1)
      .localCheckpoint()
    for (r <- 2 to k) {
      val sel = out.select(col("q_id"), col("vec_id"))
      val redundancy = pairs
        .join(sel.withColumnRenamed("vec_id", "b"), Seq("q_id", "b"))
        .groupBy(col("q_id"), col("a").as("vec_id"))
        .agg(max(col("sim_ppm")).as("ms"))
      val remaining = cand.select("q_id", "vec_id", "rel_ppm")
        .join(sel.withColumn("picked", lit(true)), Seq("q_id", "vec_id"),
          "left")
        .filter(col("picked").isNull)
      val scored = remaining
        .join(redundancy, Seq("q_id", "vec_id"))
        .withColumn("mmr_fp", expr("7 * rel_ppm - 3 * ms"))
      out = out.unionByName(argmax(scored, r)).localCheckpoint()
    }
    out.orderBy("q_id", "rank")
  }

  /** Graded q151: ANN QUALITY LADDER — measured recall@k of every
    * approximate search path in the library against the exact cosine
    * ranking, on the shared probe set, as ONE graded table: int8
    * symmetric quantization (q61), PQ+ADC (q117), and multi-table LSH
    * (q29), with the exact arm included as the recall-10⁶ control row.
    * This is the table an index owner actually reads when choosing a
    * method: RecallSpec already MEASURES these properties in tests,
    * but a production decision needs the numbers as a queryable,
    * regression-tracked artifact — the hash oracle now locks the
    * recall of every approximate method at this parameterization.
    *
    * Determinism: each arm is the ALREADY-GRADED deterministic plan
    * (round-6 cosines, integer qdots, sub-order ADC folds, fixed
    * hyperplane buckets), so top-k sets are engine-identical and the
    * intersection counts are exact integers; recall is one integral
    * division in ppm. LSH may return fewer than k candidates per
    * probe (bucket misses); `n_pairs` counts what it actually
    * returned — recall stays against the honest denominator.
    *
    * Scale shape: the exact arm persists once (probes·k rows); every
    * arm's scoring plan is its own audited query's; each recall row is
    * a broadcast-sized semi-join plus a single-row aggregate.
    */
  def annRecallLadder(spark: SparkSession, dir: String, k: Int = 3,
      lshTables: Int = 16, lshBits: Int = 4, pqM: Int = 4,
      pqSubDim: Int = 16, pqKSub: Int = 4, pqIters: Int = 2): DataFrame = {
    val exact = CachedStages.model(cosineRanking(spark, dir, k)
      .select(col("q_id"), col("doc_id").as("vec_id")).repartition(1))
    def recallOf(name: String, topk: DataFrame): DataFrame =
      topk.select(col("q_id"), col("vec_id"))
        .join(exact.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"),
          "left")
        .agg(countDistinct(col("q_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(lit(name).as("method"), col("n_probes"), col("n_pairs"),
          col("n_hits"),
          expr("n_hits * 1000000 div n_pairs").as("recall_ppm"))
    recallOf("a_exact", exact)
      .unionByName(recallOf("b_int8",
        Quantization.quantizedTopK(spark, dir, k)))
      .unionByName(recallOf("c_pq", Quantization.pqAdcTopK(spark, dir,
        pqM, pqSubDim, pqKSub, pqIters, k)))
      .unionByName(recallOf("d_lsh",
        lshAnn(spark, dir, lshTables, lshBits, k)))
      .orderBy("method")
  }

  /** Graded q255: MATRYOSHKA TRUNCATION LADDER — measured recall@k of
    * cosine search over PREFIX-truncated embeddings (first m of the 64
    * dims, renormalized — exactly how MRL-style truncation is served:
    * Kusupati et al., NeurIPS 2022) against the full-dim exact
    * ranking. q151 grades INDEX fidelity at full dimension; this
    * grades DIMENSION fidelity with an exact index — the table that
    * answers "can we store 8/16/32 dims instead of 64", the 2–8×
    * memory/bandwidth lever every vector store reaches for first. The
    * full-width arm is the recall-10⁶ control row.
    *
    * Determinism: each arm is the q21 plan over `slice(v, 1, m)` —
    * the fused cosine expression folds the SAME index order on the
    * prefix, round-6, ties by vec_id — so top-k sets are engine-
    * identical and recall is one integral division in ppm.
    *
    * Scale shape: ONE persisted corpus scan feeds every arm (the
    * probe side broadcasts); each arm is the audited broadcast-probe
    * scan at a shorter fold; recall rows are probes·k-sized joins.
    * At true scale the ladder SHARES the one corpus pass — arms
    * differ only in the expression, not the data movement.
    */
  def truncatedRecall(spark: SparkSession, dir: String, k: Int = 5,
      dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame =
    truncatedRecallOf(rawVectors(spark, dir).select("vec_id", "v"),
      k, dims)

  /** Core of `truncatedRecall` over any `(vec_id, v)` corpus (probe
    * set: the shared vec_id < 8 convention).
    */
  def truncatedRecallOf(vectors: DataFrame, k: Int,
      dims: Seq[Int]): DataFrame = {
    graft.functions.CosineSimilarity.register(vectors.sparkSession)
    val corpus = CachedStages.data(vectors)
    val qs = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
    val full = dims.max
    def topkAt(m: Int): DataFrame = {
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("vec_id").asc)
      corpus.crossJoin(broadcast(qs))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("cos", round(
          expr(s"cosine_sim(slice(q_vec, 1, $m), slice(v, 1, $m))"), 6))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .select(col("q_id"), col("vec_id"))
    }
    val exact = CachedStages.model(topkAt(full).repartition(1))
    dims.sorted.map { m =>
      val tk = if (m == full) exact else topkAt(m)
      tk.join(exact.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"),
          "left")
        .agg(countDistinct(col("q_id")).as("n_probes"),
          count(lit(1)).as("n_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(lit(f"m$m%02d").as("dims"), lit(m.toLong).as("m"),
          col("n_probes"), col("n_pairs"), col("n_hits"),
          expr("n_hits * 1000000 div n_pairs").as("recall_ppm"))
    }.reduce(_.unionByName(_)).orderBy("m")
  }

  /** Graded q155: RETRIEVAL QUALITY against LABEL relevance —
    * precision@k and MRR@k of the dense cosine ranking, where a
    * neighbor is relevant when it carries the probe's label. q151
    * grades the approximate arms against the exact ranking (index
    * fidelity); this grades the exact ranking itself against ground
    * truth (embedding quality) — the two numbers a retrieval stack
    * tracks separately, because an index can be perfectly faithful to
    * embeddings that retrieve garbage. The base rate (share of the
    * corpus carrying the probe's label) sits alongside, so the lift
    * column says how far above chance the embedding space actually
    * ranks same-label items.
    *
    * Determinism: relevance is an exact label equality on the
    * already-deterministic ranking; P@k is one integral division over
    * hit counts; MRR keeps the per-probe reciprocal as `10⁶ div
    * first_rank` (integer, 0 when no hit in the window) and divides
    * by the probe count once; lift is a per-mille cross-ratio.
    *
    * Scale shape: the ranking is q21's audited broadcast-probe scan
    * cut to k; labels attach by one broadcast (probes) and one
    * vocab-sized join (corpus labels ride the same row); everything
    * after is probes·k rows collapsing to ONE report row.
    */
  def retrievalLabelEval(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val labels = rawVectors(spark, dir).select(col("vec_id"), col("label"))
    val probes = labels.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val perProbe = cosineRanking(spark, dir, k)
      .join(broadcast(probes), Seq("q_id"))
      .join(labels.withColumnRenamed("vec_id", "doc_id")
        .withColumnRenamed("label", "d_label"), Seq("doc_id"))
      .withColumn("hit", (col("d_label") === col("q_label")).cast("long"))
      .groupBy("q_id", "q_label")
      .agg(sum(col("hit")).as("hits"),
        min(when(col("hit") === 1L, col("rank"))).as("first_rank"))
    val labelCounts = labels.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_label"))
    val nTotal = labels.agg(count(lit(1)).as("n_total"))
    perProbe
      .join(broadcast(labelCounts), Seq("q_label"))
      .crossJoin(broadcast(nTotal))
      .agg(count(lit(1)).as("n_probes"),
        sum(col("hits")).as("sum_hits"),
        sum(coalesce(expr("1000000 div first_rank"), lit(0L)))
          .as("sum_rr"),
        sum(expr("(n_label - 1) * 1000000 div (n_total - 1)"))
          .as("sum_base"))
      .select(col("n_probes"), lit(k.toLong).as("k"),
        expr(s"sum_hits * 1000000 div (n_probes * $k)").as("p_at_k_ppm"),
        expr("sum_rr div n_probes").as("mrr_ppm"),
        expr("sum_base div n_probes").as("base_rate_ppm"))
      .withColumn("lift_x1000", expr(
        "p_at_k_ppm * 1000 div base_rate_ppm"))
  }

  /** Pinned DCG position discounts, micro units: round(10⁶/log₂(i+1))
    * HALF_UP for ranks 1..10 — the Chi2Crit95Ppm discipline applied
    * to the one irrational nDCG needs, shared by the q258 operator
    * and its oracle so the discount table cannot desynchronize.
    */
  private[graft] val DcgWeightMicro: Seq[Long] = Seq(
    1000000L, 630930L, 500000L, 430677L, 386853L, 356207L, 333333L,
    315465L, 301030L, 289065L)

  /** Graded q258: nDCG@k of the dense ranking against label relevance
    * (Järvelin & Kekäläinen, TOIS 2002) — the POSITION-AWARE
    * companion to q155: P@k treats rank 1 and rank k alike and MRR
    * sees only the first hit; nDCG credits every hit, discounted by
    * where it landed, against the best ordering achievable for that
    * probe (all its relevant docs first) — the default leaderboard
    * metric for ranking quality (MTEB, BEIR). Binary relevance =
    * label match, the shared q155 convention.
    *
    * Determinism: the ranking is q21's audited deterministic plan;
    * discounts come from the PINNED integer table (micro units), so
    * DCG is a sum of at most k bigints; IDCG sums the first
    * min(R, k) weights where R = same-label corpus count (excluding
    * the probe itself); nDCG = DCG·10⁶ div IDCG. A probe with no
    * relevant docs in the corpus (R = 0) surfaces NULL, honestly.
    * The corpus mean repeats per row (q181 discipline), floored over
    * the R>0 probes.
    *
    * Scale shape: probes·k rows after the audited broadcast-probe
    * scan; labels attach by one broadcast and one id join; the
    * discount lookup is try_element_at on a literal array — no join;
    * everything collapses to |probes| rows plus one broadcast mean.
    */
  def ndcgAtK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    ndcgAtKOf(rawVectors(spark, dir), k)

  /** Core of `ndcgAtK` over any `(vec_id, label, v)` corpus (probe
    * set: the shared vec_id < 8 convention).
    */
  def ndcgAtKOf(vectors: DataFrame, k: Int): DataFrame = {
    require(k <= DcgWeightMicro.size, s"pinned table covers 10, got $k")
    val wArr = s"array(${DcgWeightMicro.take(k).mkString(",")})"
    val labels = vectors.select(col("vec_id"), col("label"))
    val probes = labels.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val labelCounts = labels.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_label"))
    val perProbe = cosineRankingOf(vectors, k)
      .join(broadcast(probes), Seq("q_id"))
      .join(labels.withColumnRenamed("vec_id", "doc_id")
        .withColumnRenamed("label", "d_label"), Seq("doc_id"))
      .withColumn("gain", when(col("d_label") === col("q_label"),
        expr(s"try_element_at($wArr, CAST(rank AS INT))"))
        .otherwise(lit(0L)))
      .groupBy("q_id", "q_label")
      .agg(sum(col("gain")).as("dcg_micro"))
      // R = same-label corpus docs minus the probe itself; the ideal
      // ranking puts them at ranks 1..min(R, k)
      .join(broadcast(labelCounts), Seq("q_label"))
      .withColumn("n_rel", expr("n_label - 1"))
      .withColumn("idcg_micro", expr(
        s"""aggregate(slice($wArr, 1, CAST(least(n_rel, $k) AS INT)),
           | CAST(0 AS BIGINT), (acc, w) -> acc + w)""".stripMargin))
      .withColumn("ndcg_ppm", expr(
        "dcg_micro * 1000000 div nullif(idcg_micro, 0)"))
    val meanRow = broadcast(perProbe
      .agg(sum(when(col("n_rel") > 0, col("ndcg_ppm"))).as("s"),
        sum(when(col("n_rel") > 0, 1L).otherwise(0L)).as("c"))
      .select(expr("s div nullif(c, 0)").as("mean_ndcg_ppm")))
    perProbe.crossJoin(meanRow)
      .select(col("q_id"), col("q_label"), lit(k.toLong).as("k"),
        col("n_rel"), col("dcg_micro"), col("idcg_micro"),
        col("ndcg_ppm"), col("mean_ndcg_ppm"))
      .orderBy("q_id")
  }

  def labelNoise(spark: SparkSession, dir: String, k: Int = 5,
      keepBelow: Long = 1073741824L): DataFrame =
    labelNoiseOf(spark, rawVectors(spark, dir)
      .filter(expr(
        s"pmod(vec_id * 2654435761, 4294967296) < $keepBelow")), k)

  /** Graded q265: LABEL-NOISE audit by kNN disagreement (the
    * confident-learning signal of Northcutt, Jiang & Chuang, JAIR
    * 2021, in its embedding-space form): a labeled point whose
    * nearest neighbors overwhelmingly carry OTHER labels is either
    * mislabeled or sits in a label region that isn't learnable —
    * either way it's what you re-annotate first. Per label: the mean
    * neighbor-disagreement (Σ n_diff · 10⁶ div (n·k)) and the
    * SUSPECT count (all k neighbors disagree); the corpus totals
    * repeat per row (q181 discipline). The graded readout on random
    * labels is the honest null — disagreement ≈ 1 − 1/|labels|.
    *
    * Scale contract: a DIAGNOSTIC on the q257 hash-sampled slice
    * (same Knuth draw, id-stable, pattern-free) — all-pairs kNN is
    * sample², never the serving corpus; the ranking is q21's audited
    * deterministic kernel so every count is engine-exact.
    */
  def labelNoiseOf(spark: SparkSession, vecs: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val topk = cosined(spark, vecs,
      vecs.select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("q_vec")), None)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val per = CachedStages.model(topk.groupBy("q_id", "q_label")
      .agg(sum((col("label") =!= col("q_label")).cast("long"))
        .as("n_diff")))
    val glob = broadcast(per.agg(
      sum(when(col("n_diff") === k.toLong, 1L).otherwise(0L))
        .as("total_suspects"),
      expr(s"sum(n_diff) * 1000000 div (count(1) * $k)")
        .as("overall_disagree_ppm")))
    per.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("n_diff")).as("sum_diff"),
        sum(when(col("n_diff") === k.toLong, 1L).otherwise(0L))
          .as("n_suspects"))
      .withColumn("disagree_ppm", expr(
        s"sum_diff * 1000000 div (n_vecs * $k)"))
      .crossJoin(glob)
      .select("label", "n_vecs", "sum_diff", "disagree_ppm",
        "n_suspects", "total_suspects", "overall_disagree_ppm")
      .orderBy("label")
  }

  def knnHubness(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    knnHubnessOf(spark, rawVectors(spark, dir), k)

  /** Graded q257: the q210 hubness audit on its DOCUMENTED 100 TB
    * path — exact kNN over a deterministic ~25% hash sample of the
    * corpus instead of all of it. q210's all-pairs is sample²; at a
    * serving-corpus scale the audit runs on a drawn slice, and the
    * draw must be id-stable (re-runs audit the SAME slice) and
    * pattern-free (a modulus draw on sequential ids strides the
    * insertion order): Knuth's multiplicative hash
    * `(id · 2654435761) mod 2³²` kept below 2³⁰ — exactly
    * replayable in any engine, no RNG. The audit itself is the
    * byte-identical q210 chain (rounded-cosine kernel, (cos, id)
    * ties, orphan/hub summary repeated per histogram row); at 2000
    * corpus vectors the sampled arm does ~16× less pair work, the
    * same factor² the cap buys at any scale.
    */
  def knnHubnessSampled(spark: SparkSession, dir: String, k: Int = 5,
      keepBelow: Long = 1073741824L): DataFrame =
    knnHubnessOf(spark, rawVectors(spark, dir)
      .filter(expr(
        s"pmod(vec_id * 2654435761, 4294967296) < $keepBelow")), k)

  /** Graded q210: k-NN HUBNESS audit (Radovanović, Nanopoulos &
    * Ivanović, JMLR 2010) — the high-dimensional pathology every
    * vector store should screen for: the k-occurrence N_k(x) (how
    * many OTHER points count x among their k nearest) skews in high
    * dimension, concentrating retrieval on a few hub points while
    * orphans (N_k = 0) become unreachable. Reported: the exact N_k
    * histogram plus, repeated per row (the q181 discipline), the
    * orphan share in ppm, the maximum k-occurrence, and the hub id
    * (smallest id at the max — fully pinned).
    *
    * Contract at scale: hubness is a DIAGNOSTIC, estimated on a
    * bounded vector sample (the embeddings table here) — the
    * all-pairs kNN is sample², never the serving corpus; q21's
    * rounded-cosine + (cos desc, id asc) tie discipline makes every
    * neighbor list, and therefore every count, engine-exact.
    */
  def knnHubnessOf(spark: SparkSession, vecs: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    // SPREAD THE BOUNDED SAMPLE before the quadratic kernel (round 20,
    // guide §2.5/§6): the evaluation sample is small enough to sit in
    // ONE file below the 4 MB openCost split floor, so the scan gives
    // the all-pairs kernel ONE task — measured 4.6 s of single-task
    // cosine work at sf0.1 while 31 cores idled. A round-robin
    // repartition of the |sample|-row stream side costs one tiny
    // exchange and makes the sample² work parallelize regardless of
    // input file layout; correct at any scale BECAUSE the sample is
    // bounded by contract (this is the documented all-pairs diagnostic,
    // never the serving corpus).
    val spread = vecs.repartition(spark.sparkContext.defaultParallelism)
    val topk = cosined(spark, spread,
      vecs.select(col("vec_id").as("q_id"), col("v").as("q_vec")), None)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val perVec = CachedStages.model(vecs.select("vec_id")
      .join(topk.groupBy("vec_id").agg(count(lit(1)).as("n_k")),
        Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_k")))
    val s1 = perVec.agg(count(lit(1)).as("n_vecs"),
      sum(when(col("n_k") === 0L, 1L).otherwise(0L)).as("n_orphans"),
      max(col("n_k")).as("max_nk"))
    val hub = perVec.crossJoin(broadcast(s1))
      .filter(col("n_k") === col("max_nk"))
      .agg(min(col("vec_id")).as("hub_id"))
    val summary = s1.crossJoin(broadcast(hub))
      .select(col("n_vecs"),
        expr("n_orphans * 1000000 div n_vecs").as("orphan_ppm"),
        col("max_nk"), col("hub_id"))
    perVec.groupBy("n_k").agg(count(lit(1)).as("n_points"))
      .crossJoin(broadcast(summary))
      .select("n_k", "n_points", "n_vecs", "orphan_ppm", "max_nk",
        "hub_id")
      .orderBy("n_k")
  }

  def cosineSilhouette(spark: SparkSession, dir: String): DataFrame =
    silhouetteOf(spark, rawVectors(spark, dir))

  /** Graded q227: COSINE SILHOUETTE by label (Rousseeuw, J. Comput.
    * Appl. Math. 1987) — the per-point cluster-validity measure the
    * family lacked: q23 gives centroids, q181 the Davies–Bouldin
    * model-selection scalar, but silhouette says FOR EACH POINT
    * whether it sits in the right cluster (s < 0 ⟺ some other label
    * is closer on average) — the label-quality audit a training set
    * with noisy labels needs. Distance is cosine distance in exact
    * integer micro units: d = 10⁶ − round₆(cos)·10⁶ off the SAME
    * rounded-cosine kernel as q21/q210, so every mean is a rational
    * of integers; a_i uses the own-label mean over (n_own − 1)
    * neighbors (the self-pair is excluded by construction), b_i the
    * min other-label mean; s_i = (b−a)·10⁶ div max(a,b), truncation
    * toward zero (verified convention). Singleton-cluster points get
    * s = 0, Rousseeuw's own convention.
    *
    * Per label: points, floored mean and min silhouette,
    * wrong-cluster count (s < 0); the overall mean repeats per row
    * (q181 discipline). Graded readout on random labels: mean ≈ 0 —
    * the honest "labels carry no geometry" null.
    *
    * DIAGNOSTIC contract like q210: all-pairs over the bounded
    * evaluation sample, never a serving corpus — at scale this runs
    * on the drawn validation slice, and the q42 centroid path is the
    * streaming-scale alternative.
    */
  def silhouetteOf(spark: SparkSession, vecs: DataFrame): DataFrame = {
    // same bounded-sample spread as knnHubnessOf (round 20): the
    // sample² cosine kernel must not inherit the 1-task split of a
    // sub-4MB sample file — measured 4.6 s single-task at sf0.1
    val spread = vecs.repartition(spark.sparkContext.defaultParallelism)
    val pairs = cosined(spark, spread,
      vecs.select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("q_vec")), None)
      .withColumn("d", expr(
        "1000000 - CAST(round(cos * 1000000) AS BIGINT)"))
    val grp = CachedStages.model(pairs
      .groupBy("q_id", "q_label", "label")
      .agg(sum(col("d")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", expr("s div n")))
    val a = grp.filter(col("label") === col("q_label"))
      .select(col("q_id"), col("m").as("a"))
    val b = grp.filter(col("label") =!= col("q_label"))
      .groupBy("q_id", "q_label").agg(min(col("m")).as("b"))
    val sil = CachedStages.model(b.join(a, Seq("q_id"), "left")
      .withColumn("sil", expr(
        """CASE WHEN a IS NULL THEN CAST(0 AS BIGINT)
          |     WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
          |     ELSE (b - a) * 1000000 div greatest(a, b) END"""
          .stripMargin)))
    val overall = sil.agg(sum(col("sil")).as("ssum"),
        count(lit(1)).as("nt"))
      .select(expr("ssum div nt").as("overall_mean_micro"))
    sil.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_points"),
        expr("CAST(sum(sil) div count(1) AS BIGINT)")
          .as("mean_sil_micro"),
        min(col("sil")).as("min_sil_micro"),
        sum(when(col("sil") < 0, 1L).otherwise(0L)).as("n_negative"))
      .crossJoin(broadcast(overall))
      .select("label", "n_points", "mean_sil_micro", "min_sil_micro",
        "n_negative", "overall_mean_micro")
      .orderBy("label")
  }
}

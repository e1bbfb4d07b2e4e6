package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-means clustering (Lloyd's algorithm) over the embeddings table —
  * the TRAINING step the IVF family needs: q22/q28 probe centroids that
  * came with the data (`label`), this learns them from the vectors
  * alone. Deterministic end to end, so the DuckDB oracle replays the
  * identical iterations and the assignments hash-match bit-for-bit:
  *
  *  - seeding: the first k vectors (vec_id < k) are the initial
  *    centroids — no RNG;
  *  - fixed iteration count (no convergence test): both engines run
  *    exactly `iters` assign/update rounds;
  *  - assignment: squared-L2 computed as a SEQUENTIAL index-order fold
  *    (bit-identical doubles on both engines), ties broken by cluster
  *    id via ROW_NUMBER;
  *  - update (exact mode): per-(cluster, dim) mean via the sorted
  *    sequential fold of q23 — both engines add the same doubles in the
  *    same order.
  *
  * Scale shape: each assignment is one codegen'd argmin projection
  * over a streaming corpus scan — the k×64-double centroid model is
  * collected to the driver (the documented bounded-collect class) and
  * embedded as literals, so assignment moves ZERO rows (the earlier
  * crossJoin + per-vector ROW_NUMBER exchanged and sorted corpus×k
  * rows per round) — and each update is one partial-aggregable
  * groupBy of k*64 groups. The driver loop runs
  * O(iters) tiny jobs and [[Rounds.fixed]] cuts each round's
  * centroids. exact=true carries per-group sorted
  * value lists and exists for oracle bit-parity; production runs use
  * exact=false, whose `avg` keeps O(1) state per (cluster, dim) —
  * ScaleSpec asserts the plan shape and the numeric agreement.
  */
object Clustering {

  /** Sequential squared-L2 between `vCol` (float array) and `c` (double
    * array) — index-order fold, never a reassociated sum.
    */
  private[ops] def distExpr(vCol: String): String =
    s"""aggregate(sequence(1, 64), CAST(0 AS DOUBLE),
       |  (acc, i) -> acc + (CAST(element_at($vCol, i) AS DOUBLE) - element_at(c, i))
       |                  * (CAST(element_at($vCol, i) AS DOUBLE) - element_at(c, i)))"""
      .stripMargin

  /** The same sequential squared-L2 fold against a LITERAL centroid —
    * term-for-term the expression tree of [[distExpr]] with
    * `element_at(c, i)` reading an embedded double array instead of a
    * joined column, so the resulting double is bit-identical.
    */
  private def litDist(vCol: String, c: Seq[Double]): org.apache.spark.sql.Column = {
    val cArr = array(c.map(lit): _*)
    aggregate(sequence(lit(1), lit(64)), lit(0.0),
      (acc, i) => {
        val d = element_at(col(vCol), i).cast("double") - element_at(cArr, i)
        acc + d * d
      })
  }

  /** Nearest-centroid assignment with ZERO shuffle: the centroid table
    * is collected to the driver — k×64 doubles, the canonical bounded
    * model artifact (the documented `Importance.leanBucketSet` collect
    * class) — and the argmin becomes ONE codegen'd expression per
    * corpus row: `array_min` over k `(dist, cluster)` structs, whose
    * struct ordering (dist ASC, cluster ASC) is exactly the
    * `row_number()` tie-break it replaces, so assignments are
    * bit-identical. The crossJoin+window shape this supersedes
    * exchanged AND sorted corpus×k rows per call — a named scale-killer
    * at 100 TB, where assignment should be embarrassingly parallel.
    * Adds `cluster` and `dist` to `df`; every other column rides along
    * untouched (no join, no re-partitioning).
    *
    * Practical k ceiling: the expression is k 64-term folds in ONE
    * projection, and Janino's 64KB-per-method limit means very large
    * literal models (empirically k in the low hundreds at 64 dims)
    * fall back to interpreted evaluation — still correct and still
    * shuffle-free, but slower per row. The graded parameterizations
    * (k=4; PQ m·kSub=16 branches) sit far under the limit; a vector
    * store scaling k past that should shard the argmin into a
    * least-of-partial-argmins tree (k/64 projections) rather than
    * revive the crossJoin — noted here so the bound is a documented
    * design fact, not a surprise.
    */
  private[ops] def assignNearest(df: DataFrame, vCol: String,
      cents: DataFrame): DataFrame =
    assignNearestLit(df, vCol, collectCentroids(cents))

  /** [[assignNearest]] against an ALREADY-collected centroid model —
    * the entry the memoized path uses so a warm [[TrainedModels]] hit
    * runs zero Spark jobs before the assignment projection itself.
    */
  private[ops] def assignNearestLit(df: DataFrame, vCol: String,
      cs: Seq[(Long, Seq[Double])]): DataFrame = {
    require(cs.nonEmpty, "empty centroid table")
    val candidates = cs.map { case (cid, c) =>
      struct(litDist(vCol, c).as("dist"), lit(cid).as("cluster"))
    }
    df.withColumn("best", array_min(array(candidates.toIndexedSeq: _*)))
      .withColumn("cluster", col("best.cluster"))
      .withColumn("dist", col("best.dist"))
      .drop("best")
  }

  /** Collect a (cluster, c) centroid frame to the driver in cluster-id
    * order — the model artifact [[TrainedModels]] memoizes.
    */
  private def collectCentroids(cents: DataFrame): Seq[(Long, Seq[Double])] =
    cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq

  def kmeans(spark: SparkSession, dir: String, k: Int = 4, iters: Int = 3,
      exact: Boolean = true): DataFrame =
    kmeansModel(spark, dir, k, iters, exact)._2
      .select(col("vec_id"), col("cluster"), round(col("dist"), 6).as("dist"))
      .orderBy("vec_id")

  /** The trained model: (centroids (cluster, c), assignments (vec_id, v,
    * cluster, dist)) after `iters` Lloyd rounds — the centroids are the
    * ones that produced the final assignment, i.e. an IVF index's
    * partitioning (see `ivfLearnedKnn`).
    *
    * The TRAINING (the iterative Lloyd loop) is memoized per
    * (session, dir, k, iters, exact) in [[TrainedModels]]: six graded
    * queries (q42/q43/q57/q66/q181/q239) consume this one model, and
    * a production index is trained once and served frozen — so after
    * the first call in a session, `kmeansModel` runs ZERO training
    * jobs and goes straight to the final literal-argmin assignment
    * pass. Determinism makes the memo invisible to results: the
    * memoized doubles are exactly the final-round centroids a fresh
    * run would collect, so warm and cold calls are bit-identical
    * (locked by TrainedModelsSpec and the 270-query oracle sweep,
    * where every chain query after the first is a warm hit).
    */
  def kmeansModel(spark: SparkSession, dir: String, k: Int = 4,
      iters: Int = 3, exact: Boolean = true): (DataFrame, DataFrame) = {
    val cs = kmeansCentroidModel(spark, dir, k, iters, exact)
    import spark.implicits._
    val cents = cs.toDF("cluster", "c")
    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    // the final assignment pass (shuffle-free literal argmin); on a
    // cold call the scan below still hits the training pass's cached
    // vectors (Spark's CacheManager matches by canonicalized plan)
    val assigned = Rounds.cut(assignNearestLit(vecs, "v", cs)
      .select("vec_id", "v", "cluster", "dist"))
    (cents, assigned)
  }

  /** The trained centroid model alone, as driver data — for consumers
    * that only need the FROZEN MODEL (semanticDedup's corpus pass feeds
    * [[assignNearestLit]] directly). `kmeansModel` eagerly materializes
    * the full-corpus assignment (a cut); calling it for the
    * centroids alone paid a dead corpus scan per call.
    */
  private[graft] def kmeansCentroidModel(spark: SparkSession, dir: String,
      k: Int = 4, iters: Int = 3,
      exact: Boolean = true): Seq[(Long, Seq[Double])] = {
    require(k >= 1 && iters >= 1, s"need k >= 1 and iters >= 1, got k=$k iters=$iters")
    TrainedModels.getOrTrain(spark, s"kmeans|$dir|$k|$iters|$exact") {
      trainCentroids(spark, dir, k, iters, exact)
    }
  }

  /** The Lloyd loop alone, returning the FINAL centroid model as
    * driver data — everything `kmeansModel` does except the last
    * assignment pass (which both warm and cold callers run against
    * the returned literals, keeping the two paths plan-identical).
    */
  private def trainCentroids(spark: SparkSession, dir: String, k: Int,
      iters: Int, exact: Boolean): Seq[(Long, Seq[Double])] = {
    val vecs = CachedStages.data(Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v")))
    val init = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"),
        expr("transform(v, x -> CAST(x AS DOUBLE))").as("c"))
    collectCentroids(Rounds.fixed(init, iters - 1) { (cents, _) =>
      // assignment is shuffle-FREE: argmin over driver-collected
      // literal centroids (see assignNearest) — the corpus streams
      // through one codegen'd projection per Lloyd round
      updateCentroids(Rounds.cut(assignNearest(vecs, "v", cents)
        .select("vec_id", "v", "cluster", "dist")), exact)
    })
  }

  /** Graded q181: DAVIES–BOULDIN cluster validity (Davies & Bouldin,
    * TPAMI 1979) of the q42 k-means model — the model-SELECTION number
    * the clustering family was missing: per cluster, the mean member
    * distance to its centroid (scatter Sᵢ), and
    * `Dᵢ = max_{j≠i} (Sᵢ+Sⱼ)/Mᵢⱼ` over centroid separations Mᵢⱼ —
    * lower is better-separated; the overall index (mean Dᵢ) rides
    * along in every row. A rising DB index across k is how "is k
    * right?" gets answered without labels.
    *
    * FP determinism discipline (the q42 contract extended): member
    * distances come from the model's own sequential-fold `dist`;
    * scatter sums are SORTED folds (order-independent association);
    * sqrt is IEEE correctly-rounded in both engines; the k² pair table
    * and the max are model-sized. The oracle replays the full Lloyd
    * chain (`kmeansCtes`) and this arithmetic double-for-double.
    *
    * Scale shape: everything after the (already-audited) q42 training
    * reads the persisted assignment once and k-row frames.
    */
  def daviesBouldin(spark: SparkSession, dir: String, k: Int = 4,
      iters: Int = 3): DataFrame = {
    val (cents, assigned) = kmeansModel(spark, dir, k, iters)
    val s = assigned
      .select(col("cluster"), expr("sqrt(dist)").as("ed"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), expr(
        """aggregate(array_sort(collect_list(ed)), CAST(0 AS DOUBLE),
          |(acc, x) -> acc + x)""".stripMargin).as("sum_ed"))
      .withColumn("s_i", col("sum_ed") / col("n_members"))
    val m = cents.as("a").crossJoin(broadcast(cents.as("b")))
      .filter(col("a.cluster") =!= col("b.cluster"))
      .select(col("a.cluster").as("ci"), col("b.cluster").as("cj"), expr(
        """sqrt(aggregate(sequence(1, 64), CAST(0 AS DOUBLE),
          |(acc, i) -> acc + (element_at(a.c, i) - element_at(b.c, i))
          |                * (element_at(a.c, i) - element_at(b.c, i))))"""
          .stripMargin).as("m_ij"))
    val r = m
      .join(broadcast(s.select(col("cluster").as("ci"),
        col("s_i").as("s_a"))), Seq("ci"))
      .join(broadcast(s.select(col("cluster").as("cj"),
        col("s_i").as("s_b"))), Seq("cj"))
      .withColumn("r_ij", (col("s_a") + col("s_b")) / col("m_ij"))
    val d = r.groupBy(col("ci").as("cluster"))
      .agg(max(col("r_ij")).as("d_i"))
    val db = d.agg(expr(
      """aggregate(array_sort(collect_list(d_i)), CAST(0 AS DOUBLE),
        |(acc, x) -> acc + x)""".stripMargin).as("sum_d"),
      count(lit(1)).as("kk"))
      .select((col("sum_d") / col("kk")).as("db_index"))
    s.join(d, Seq("cluster"))
      .crossJoin(broadcast(db))
      .select(col("cluster"), col("n_members"),
        round(col("s_i"), 6).as("s_i"), round(col("d_i"), 6).as("d_i"),
        round(col("db_index"), 6).as("db_index"))
      .orderBy("cluster")
  }

  /** IVF KNN over the LEARNED index: partition the corpus by its k-means
    * cluster, probe each query's nearest learned centroid, search only
    * that partition. This is the full IVF story end to end — q28 probes
    * centroids of the data's given `label`; here the index itself was
    * trained by `kmeansModel` — and the composition is exactly how a
    * production vector store builds: train on a sample, assign the
    * corpus (one broadcast pass), serve probes against k centroid rows.
    * The recall/cost knob is the partition count k (probe fraction
    * ~1/k); nProbe > 1 would be the next lever, exactly as in q41's
    * table-vs-probe trade.
    */
  def ivfLearnedKnn(spark: SparkSession, dir: String, k: Int = 4,
      iters: Int = 3, kNeighbors: Int = 3): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val (cents, assigned) = kmeansModel(spark, dir, k, iters)
    // probe carries the query vector through, so the search below needs
    // ONE broadcast join and one scan of the assignment for the queries
    val probe = assigned.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", expr(distExpr("q_vec")))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("dist").asc, col("cluster").asc)))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("q_vec"), col("cluster").as("probe_cluster"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    assigned.select(col("vec_id"), col("v"), col("cluster"))
      .join(broadcast(probe), col("cluster") === col("probe_cluster"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(expr("cosine_sim(q_vec, v)"), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= kNeighbors)
      .select("q_id", "probe_cluster", "rn", "vec_id", "cos")
      .orderBy("q_id", "rn")
  }

  /** Graded q57: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) —
    * semantic deduplication of an embedding corpus: cluster with
    * k-means, then within each cluster mark every vector that has a
    * LOWER-id cluster-mate with cosine >= `tau` as a semantic duplicate
    * (keep-lowest-id, the paper's keep-one rule made deterministic).
    * The synthetic embeddings have no natural near-duplicates (max
    * within-label cosine ~0.45), so every 50th vector is re-added
    * verbatim under vec_id + 1,000,000 — the dedup family's planting
    * convention. Output: (vec_id, cluster, is_dup) for the full corpus.
    *
    * Production shape, end to end: the index is TRAINED on the base
    * table (`kmeansModel` — literal-argmin assign + tiny groupBy per
    * Lloyd round), then the augmented corpus is assigned against the
    * frozen centroids in ONE shuffle-free projection pass
    * (`assignNearest`), and only cluster-mates are compared. The all-pairs
    * cost SemDeDup avoids is bounded by the largest cluster: at 100 TB
    * the k knob grows with N to hold E[cluster size] — and with it the
    * per-cluster pair count — constant; the equi-join on `cluster` is
    * AQE-splittable when a cluster skews. Cosine is the codegen'd
    * `cosine_sim` kernel, rounded to 6dp before the threshold so both
    * engines decide identically.
    */
  def semanticDedup(spark: SparkSession, dir: String, k: Int = 4,
      iters: Int = 3, tau: Double = 0.95): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    // frozen MODEL only: kmeansModel would also materialize the plain-
    // corpus assignment (a cut) that this operator never reads
    // — its own assignment below runs over the AUGMENTED corpus.
    val cs = kmeansCentroidModel(spark, dir, k, iters)
    val base = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    val corpus = base.unionByName(
      base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("v")))
    // frozen-centroid corpus assignment, shuffle-free (assignNearest):
    // the augmented corpus streams through one codegen'd argmin
    // projection — no crossJoin, no per-vector window
    val assigned = assignNearestLit(corpus, "v", cs)
      .select("vec_id", "v", "cluster")
    val dups = assigned
      .select(col("cluster"), col("vec_id").as("id_a"), col("v").as("va"))
      .join(assigned.select(col("cluster"), col("vec_id").as("id_b"),
        col("v").as("vb")), "cluster")
      .filter(col("id_a") < col("id_b"))
      .filter(round(expr("cosine_sim(va, vb)"), 6) >= tau)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.select("vec_id", "cluster")
      .join(dups.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
      .na.fill(0L, Seq("is_dup"))
      .orderBy("vec_id")
  }

  /** One Lloyd update: per-(cluster, dim) mean of the assigned vectors,
    * re-assembled into centroid arrays. Split out (and not yet
    * checkpointed) so ScaleSpec can assert the exact/scale plan shapes
    * directly — inside `kmeans` the eager cut truncates the
    * executed plan, which would make any plan-string assertion on the
    * returned DataFrame vacuous.
    */
  private[ops] def updateCentroids(assigned: DataFrame,
      exact: Boolean): DataFrame = {
    val perDim = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "val")))
      .withColumn("val", col("val").cast("double"))
    val agged =
      if (exact)
        perDim.groupBy("cluster", "dim")
          .agg(sort_array(collect_list(col("val"))).as("vals"),
            count(lit(1)).as("n"))
          .withColumn("cd", expr(
            "aggregate(slice(vals, 2, size(vals)), vals[0], (a, x) -> a + x)") /
            col("n"))
      else
        perDim.groupBy("cluster", "dim").agg(avg(col("val")).as("cd"))
    // the 64-struct re-assembly is O(64) state per cluster at any scale
    agged.groupBy("cluster")
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, cd))), s -> s.cd)")
        .as("c"))
  }

  def randIndex(spark: SparkSession, dir: String, k: Int = 4,
      iters: Int = 3): DataFrame =
    randIndexOf(kmeansModel(spark, dir, k, iters)._2
      .select(col("vec_id"), col("cluster"))
      .join(Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("label")), Seq("vec_id")))

  /** Graded q239: RAND and ADJUSTED RAND INDEX between the q42
    * k-means partition and the label partition (Rand, JASA 1971;
    * Hubert & Arabie, J. Classification 1985) — the EXTERNAL validity
    * score beside q227's internal silhouette: silhouette asks "does
    * the geometry like the labels", ARI asks "does the LEARNED
    * partition recover them", chance-corrected so that a random
    * clustering scores ≈ 0 where raw Rand rewards it with
    * 1−2/k-ish agreement (both ship — the contrast IS the lesson,
    * and the graded random labels land exactly there). Everything is
    * pair counting off the contingency table: P = ΣC(n_ij,2),
    * A = ΣC(a_i,2), B = ΣC(b_j,2), N = C(n,2); RI = (N+2P−A−B)·10⁶
    * div N; ARI = 2(PN−AB)·10⁶ div (N(A+B)−2AB), signed, nullif on
    * the degenerate denominator (both partitions trivial). Exact in
    * DECIMAL(38) to ~10⁹ points.
    *
    * Scale shape: the contingency table is one map-side-combinable
    * collapse of the assignment join (k·|labels| rows); the index is
    * a one-row fold of it. The k-means pass is q42's, unchanged.
    */
  def randIndexOf(assigned: DataFrame): DataFrame = {
    val cont = CachedStages.model(assigned
      .groupBy("cluster", "label")
      .agg(count(lit(1)).as("n_ij")))
    val a = cont.groupBy("cluster").agg(sum(col("n_ij")).as("ai"))
      .agg(sum(expr("ai * (ai - 1) div 2")).as("a_pairs"),
        count(lit(1)).as("k_clusters"))
    val b = cont.groupBy("label").agg(sum(col("n_ij")).as("bj"))
      .agg(sum(expr("bj * (bj - 1) div 2")).as("b_pairs"),
        count(lit(1)).as("n_labels"))
    cont.agg(sum(col("n_ij")).as("n_points"),
        sum(expr("n_ij * (n_ij - 1) div 2")).as("p_pairs"))
      .crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .withColumn("n_tot", expr("n_points * (n_points - 1) div 2"))
      .withColumn("ri_ppm", expr(
        """CAST((CAST(n_tot AS DECIMAL(38, 0)) + 2 * p_pairs - a_pairs
          | - b_pairs) * 1000000 div nullif(n_tot, 0) AS BIGINT)"""
          .stripMargin))
      .withColumn("ari_ppm", expr(
        """CAST(2 * (CAST(p_pairs AS DECIMAL(38, 0)) * n_tot
          |          - CAST(a_pairs AS DECIMAL(38, 0)) * b_pairs)
          | * 1000000
          | div nullif(CAST(n_tot AS DECIMAL(38, 0))
          |            * (a_pairs + b_pairs)
          |            - 2 * CAST(a_pairs AS DECIMAL(38, 0)) * b_pairs,
          |            0) AS BIGINT)""".stripMargin))
      .select("n_points", "k_clusters", "n_labels", "p_pairs",
        "a_pairs", "b_pairs", "ri_ppm", "ari_ppm")
  }
}

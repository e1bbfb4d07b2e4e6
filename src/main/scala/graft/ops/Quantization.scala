package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Int8 scalar quantization of the embedding column + exact-integer
  * quantized KNN — the memory/bandwidth lever every vector store pulls
  * before ANN indexing (FAISS `SQ8`, Lucene/Elasticsearch
  * `int8_hnsw`): 4 bytes/dim float32 → 1 byte/dim, which at 100 TB of
  * embeddings is the difference between spilling and staying resident.
  *
  * Quantizer (normalize-then-fixed-scale, the FAISS/Lucene int8 path):
  * the vector is first L2-normalized — `u_i = x_i / ||x||` — and the
  * unit vector quantized with the FIXED scale 127: `q_i = floor(u_i *
  * 127 + 0.5)`; an all-zero vector quantizes to zeros. The scale must
  * be per-DATASET, not per-vector: a per-vector scale divides each dot
  * product by a different constant and silently changes the ranking
  * metric, whereas on unit vectors `qdot ≈ cosine * 127²` — integer
  * ranking approximates cosine ranking, and the approximation error is
  * quantization error alone. `floor(u*127 + 0.5)` is used instead of
  * half-up `round` deliberately: IEEE-754 `floor(double)` is
  * bit-identical across engines, while `round` routes through decimal
  * string conversion in Spark and C rounding in DuckDB — the
  * quantizer's exact tie behavior matters less than it being THE SAME
  * everywhere the data is read.
  *
  * Similarity on quantized vectors is a plain integer dot product —
  * exact 64-bit arithmetic, no float summation order to reconcile — so
  * the graded top-k is hash-stable by construction (ties broken by
  * vec_id). Ranking parity with full-precision cosine is a RECALL
  * property, measured in the spec, not assumed.
  *
  * Scale shape: quantization is one codegen'd projection (no shuffle,
  * no UDF); the q61 probe is brute-force over the quantized corpus —
  * the `q21` shape at a quarter of the memory traffic — and composes
  * with the IVF/LSH candidate generation of q28/q29 unchanged (quantize
  * the residuals inside each bucket).
  */
object Quantization {

  /** vec_id, norm (double), qvec (array<int>) for every embedding. */
  def quantizedVectors(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))

  /** Quantize any (vec_id, embedding) frame; preserves other columns.
    * The norm is a left-to-right fold in array order — the same order
    * the oracle's `list_sum` evaluates, so both engines see the same
    * double before the floor.
    */
  def quantizedOf(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("norm", expr(
        """sqrt(aggregate(
          |  transform(embedding, x -> cast(x as double) * cast(x as double)),
          |  cast(0 as double), (acc, s) -> acc + s))""".stripMargin))
      .withColumn("qvec", expr(
        """CASE WHEN norm = 0D THEN transform(embedding, x -> 0)
          |ELSE transform(embedding,
          |  x -> cast(floor(cast(x as double) / norm * 127.0D + 0.5D) as int))
          |END""".stripMargin))
      .drop("embedding")

  /** Exact integer dot product of two int arrays as bigint. */
  private def qdotExpr(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) -> cast(x as bigint) * cast(y as bigint)),
       |  cast(0 as bigint), (acc, p) -> acc + p)""".stripMargin

  /** Graded q66: the SCALE PATH for quantized search — IVF + int8, the
    * FAISS `IVF,SQ8` composition. The k-means index is trained by
    * `Clustering.kmeansModel` (broadcast-assign Lloyd rounds), the
    * probe picks its nearest centroid in full precision (index probes
    * stay float — only the stored corpus is quantized), and the search
    * runs exact integer dot products over the ONE probed cluster
    * instead of the whole corpus. Quantization here reads the model's
    * double vectors; floats widen to double losslessly, so the codes
    * are bit-identical to [[quantizedOf]]'s and the oracle's.
    */
  def ivfQuantizedKnn(spark: SparkSession, dir: String, k: Int = 4,
      iters: Int = 3, kNeighbors: Int = 3): DataFrame = {
    val (cents, assigned) = Clustering.kmeansModel(spark, dir, k, iters)
    val quant = assigned.select(col("vec_id"), col("v"), col("cluster"))
      .withColumn("nrm", expr(
        // square AFTER widening to double — identical to quantizedOf and
        // the oracle's embedding::DOUBLE[]; a float-precision square
        // could shift the norm's low bits and flip a code that sits
        // within rounding distance of a floor boundary
        """sqrt(aggregate(
          |  transform(v, x -> cast(x as double) * cast(x as double)),
          |  cast(0 as double), (acc, s) -> acc + s))""".stripMargin))
      .withColumn("qvec", expr(
        """CASE WHEN nrm = 0D THEN transform(v, x -> 0)
          |ELSE transform(v,
          |  x -> cast(floor(cast(x as double) / nrm * 127.0D + 0.5D) as int))
          |END""".stripMargin))
    val probe = quant.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("q_vec"),
        col("qvec").as("q_qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", expr(Clustering.distExpr("q_vec")))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("dist").asc, col("cluster").asc)))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("q_qvec"), col("cluster").as("probe_cluster"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("qdot").desc, col("vec_id").asc)
    quant.select(col("vec_id"), col("qvec"), col("cluster"))
      .join(broadcast(probe), col("cluster") === col("probe_cluster"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("qdot", expr(qdotExpr("q_qvec", "qvec")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= kNeighbors)
      .select("q_id", "probe_cluster", "rn", "vec_id", "qdot")
      .orderBy("q_id", "rn")
  }

  /** Graded q61: top-3 neighbors per probe (vec_id < 8, the q21 probe
    * set) under the quantized integer dot product, self excluded.
    */
  def quantizedTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    quantizedTopKOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")), k)

  /** Core of `quantizedTopK` over any `(vec_id, embedding)` frame —
    * split out so OpsPropSpec can compare it against a driver-side
    * brute force on random vector sets.
    */
  def quantizedTopKOf(vecs: DataFrame, k: Int): DataFrame = {
    val quant = quantizedOf(vecs)
    val probes = quant.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qvec").as("q_qvec"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("qdot").desc, col("vec_id").asc)
    quant.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("qdot", expr(qdotExpr("q_qvec", "qvec")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "rn", "vec_id", "qdot")
      .orderBy("q_id", "rn")
  }

  /** 1-BIT binary codes: each dimension's SIGN, packed into two 32-bit
    * halves (`lo` = dims 1–32, `hi` = dims 33–64) carried as longs —
    * two halves rather than one 64-bit word so no engine ever shifts
    * into the sign bit. 64 dims × 4 bytes → 8 bytes/vector: the extreme
    * end of the quantization ladder (float32 → q61's int8 → this), and
    * the similarity becomes POPCOUNT-of-XOR, the cheapest distance a
    * vector database knows.
    */
  def binaryCodesOf(vecs: DataFrame): DataFrame = {
    def half(lowDim: Int): String =
      s"""aggregate(sequence($lowDim, ${lowDim + 31}), cast(0 as bigint),
         |  (acc, i) -> acc + IF(element_at(embedding, i) > 0,
         |    shiftleft(cast(1 as bigint), i - $lowDim), cast(0 as bigint)))"""
        .stripMargin
    vecs.select(col("vec_id"),
      expr(half(1)).as("lo"), expr(half(33)).as("hi"))
  }

  /** Graded q91: Hamming-distance KNN over the binary codes (the q21
    * probe set, top-k by popcount(xor), vec_id ties). Ranking parity
    * with cosine is again a measured recall property — what the 1-bit
    * code buys is that the WHOLE corpus index is 16 bytes/row
    * (id + code), so at 100 TB of source embeddings the search
    * structure still fits a broadcast-or-bucket layout; candidates it
    * surfaces get re-ranked by q61/q21's finer metrics.
    */
  def binaryHammingTopK(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val codes = binaryCodesOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
    val probes = codes.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"),
        col("hi").as("q_hi"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("hamming").asc, col("vec_id").asc)
    codes.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("hamming",
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast("long"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "rn", "vec_id", "hamming")
      .orderBy("q_id", "rn")
  }

  /** Sequential squared-L2 between `svCol` (float slice) and `c`
    * (double array), over `subDim` dims — `Clustering.distExpr`'s fold
    * with the length parameterized; the index-order accumulation keeps
    * the double bit-identical across engines.
    */
  private[ops] def subDistExpr(svCol: String, subDim: Int): String =
    s"""aggregate(sequence(1, $subDim), CAST(0 AS DOUBLE),
       |  (acc, i) -> acc + (CAST(element_at($svCol, i) AS DOUBLE) - element_at(c, i))
       |                  * (CAST(element_at($svCol, i) AS DOUBLE) - element_at(c, i)))"""
      .stripMargin

  /** [[subDistExpr]]'s fold against a LITERAL sub-centroid — the
    * `Clustering.assignNearest` discipline for the PQ trainer: same
    * expression tree, `element_at(c, i)` reading an embedded double
    * array, bit-identical result.
    */
  private def litSubDist(svCol: String, c: Seq[Double],
      subDim: Int): org.apache.spark.sql.Column = {
    val cArr = array(c.map(lit): _*)
    aggregate(sequence(lit(1), lit(subDim)), lit(0.0),
      (acc, i) => {
        val d = element_at(col(svCol), i).cast("double") - element_at(cArr, i)
        acc + d * d
      })
  }

  /** PRODUCT QUANTIZATION codebooks (Jégou, Douze & Schmid, TPAMI 2011
    * — the FAISS `PQ` index): the 64-dim space is split into `m`
    * contiguous sub-spaces of `subDim` dims and an INDEPENDENT k-means
    * codebook (`kSub` centroids) is trained per sub-space, so `m` codes
    * of log2(kSub) bits represent kSub^m virtual centroids — the
    * compression jump past q61's int8 (64 B) down to `m` small ints,
    * which is what lets a 100 TB embedding corpus keep its whole search
    * structure resident.
    *
    * All `m` codebooks train in ONE Lloyd loop: vectors are sliced once
    * into an (vec_id, sub, sv) frame (persisted — the only corpus-width
    * pass), and each round is a single broadcast of the m·kSub centroid
    * rows joined on `sub`, assignment ties broken (dist asc, cluster
    * asc), update = q42's exact sorted-fold mean keyed by (sub,
    * cluster, dim). Determinism: seeding is vec_id < kSub per sub-space
    * (no RNG), iteration count fixed, the per-sub distance is an
    * index-order fold — the oracle replays every round bit-for-bit.
    *
    * Returns (centroids (sub, cluster, c), codes (vec_id, codes)) where
    * `codes[s]` is the sub-space-s codeword, assembled in sub order.
    *
    * When `memoKey` is given (the dir-based entry points), the trained
    * codebook — m·kSub·subDim doubles, the documented bounded-collect
    * class — is memoized per session in [[TrainedModels]] exactly like
    * `Clustering.kmeansModel`'s centroids: q117 and q151 share one
    * training run, and warm calls go straight to the final encode
    * pass. Fixture-frame callers (specs, the streaming codebook
    * fitter) pass no key — a DataFrame's identity is not a safe cache
    * key — and always train.
    */
  private[graft] def pqModel(vecs: DataFrame, m: Int, subDim: Int,
      kSub: Int, iters: Int,
      memoKey: Option[String] = None): (DataFrame, DataFrame) = {
    val cs = pqCodebookModel(vecs, m, subDim, kSub, iters, memoKey)
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents = cs.toDF("sub", "cluster", "c")
    // final encode pass over a fresh slice projection (on a cold call
    // the scan hits the training pass's cached slice via plan match);
    // codes are the per-vector codewords assembled in sub order
    val codes = Rounds.cut(pqAssignLit(slicedOf(vecs, m, subDim), cs, subDim)
      .groupBy("vec_id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(sub, cluster))), s -> s.cluster)")
        .as("codes")))
    (cents, codes)
  }

  /** The trained codebook alone, as driver data — for consumers that
    * only need the FROZEN MODEL (the streaming codebook fitter collects
    * exactly this). `pqModel` eagerly materializes the corpus-wide
    * encode (a cut); calling it for the codebook alone paid a
    * dead encode pass per call.
    */
  private[graft] def pqCodebookModel(vecs: DataFrame, m: Int, subDim: Int,
      kSub: Int, iters: Int,
      memoKey: Option[String] = None): Seq[(Int, Long, Seq[Double])] = {
    require(m >= 1 && subDim >= 1 && kSub >= 1 && iters >= 1,
      s"bad PQ params m=$m subDim=$subDim kSub=$kSub iters=$iters")
    memoKey match {
      case Some(key) => TrainedModels.getOrTrain(vecs.sparkSession, key) {
        trainPqCodebooks(vecs, m, subDim, kSub, iters)
      }
      case None => trainPqCodebooks(vecs, m, subDim, kSub, iters)
    }
  }

  /** The corpus sliced into (vec_id, sub, sv) sub-vectors — the only
    * corpus-width projection of the PQ pipeline.
    */
  private def slicedOf(vecs: DataFrame, m: Int, subDim: Int): DataFrame =
    vecs.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${m - 1}), s -> slice(v, s * $subDim + 1, $subDim))"))
      .as(Seq("sub", "sv")))

  /** Shuffle-FREE sub-space assignment (the Clustering.assignNearest
    * discipline): the m·kSub sub-centroid model — driver data — is
    * embedded as a lazily-branched CASE over `sub`, each branch an
    * `array_min` over that sub-space's kSub (dist, cluster)
    * literal-centroid structs with the same (dist ASC, cluster ASC)
    * ordering the window's row_number used — bit-identical codes, and
    * a row only evaluates ITS sub-space's folds. The join+window shape
    * this replaces exchanged and sorted corpus×m×kSub rows per round.
    */
  private def pqAssignLit(sliced: DataFrame,
      cs: Seq[(Int, Long, Seq[Double])], subDim: Int): DataFrame = {
    val bySub = cs.groupBy(_._1)
    val subIds = bySub.keys.toSeq.sorted
    def armFor(s: Int) = array_min(array(bySub(s).sortBy(_._2).map {
      case (_, cid, c) =>
        struct(litSubDist("sv", c, subDim).as("dist"),
          lit(cid).as("cluster"))
    }.toIndexedSeq: _*))
    val best = subIds.tail.foldLeft(
      when(col("sub") === subIds.head, armFor(subIds.head))) {
      (acc, s) => acc.when(col("sub") === s, armFor(s))
    }
    sliced.withColumn("best", best)
      .select(col("vec_id"), col("sub"), col("sv"),
        col("best.cluster").as("cluster"))
  }

  /** The PQ Lloyd loop alone, returning the FINAL (sub, cluster, c)
    * codebook as driver data — everything `pqModel` does except the
    * last encode pass, which warm and cold callers both run against
    * the returned literals (keeping the two paths plan-identical).
    */
  private def trainPqCodebooks(vecs: DataFrame, m: Int, subDim: Int,
      kSub: Int, iters: Int): Seq[(Int, Long, Seq[Double])] = {
    val sliced = CachedStages.data(slicedOf(vecs, m, subDim))
    def collectCents(cents: DataFrame): Seq[(Int, Long, Seq[Double])] =
      cents.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
        .sortBy(t => (t._1, t._2)).toSeq
    var cents = collectCents(sliced.filter(col("vec_id") < kSub)
      .select(col("sub"), col("vec_id").as("cluster"),
        expr("transform(sv, x -> CAST(x AS DOUBLE))").as("c")))
    for (_ <- 1 until iters) {
      val assigned = Rounds.cut(pqAssignLit(sliced, cents, subDim))
      // exact sorted-fold per-(sub, cluster, dim) mean — q42's update
      // with the sub-space in the key; both engines add the same
      // doubles in the same sorted order
      val perDim = assigned
        .select(col("sub"), col("cluster"),
          posexplode(col("sv")).as(Seq("dim", "val")))
        .withColumn("val", col("val").cast("double"))
      cents = collectCents(perDim.groupBy("sub", "cluster", "dim")
        .agg(sort_array(collect_list(col("val"))).as("vals"),
          count(lit(1)).as("n"))
        .withColumn("cd", expr(
          "aggregate(slice(vals, 2, size(vals)), vals[0], (a, x) -> a + x)") /
          col("n"))
        .groupBy("sub", "cluster")
        .agg(expr(
          "transform(array_sort(collect_list(struct(dim, cd))), s -> s.cd)")
          .as("c")))
    }
    cents
  }

  /** Graded q117: PQ + ASYMMETRIC DISTANCE COMPUTATION top-k — the
    * paper's ADC search and the reason PQ scans are fast: each probe
    * precomputes its squared-L2 to every sub-space centroid ONCE (an
    * m·kSub-entry table, here 16 doubles), and a corpus vector's
    * approximate distance is just `m` table lookups summed in sub-space
    * order — the float vectors are never touched again after encoding.
    *
    * Scale shape: the search side streams the codes table (m small
    * ints/row) against a BROADCAST of |probes| distance-table rows; no
    * corpus shuffle, no float math per row, and the whole index for a
    * billion vectors is m bytes each. Ranking parity with exact cosine
    * is a measured recall property (QuantizationSpec), exactly as for
    * q61/q91 — PQ candidates re-rank under the finer metrics.
    *
    * Output: (q_id, rn, vec_id, adist) — top `kNeighbors` by (adist
    * asc, vec_id asc), self excluded, adist rounded to 6dp for display
    * AFTER ranking on the exact double (both engines rank the same
    * bit-identical folds).
    */
  def pqAdcTopK(spark: SparkSession, dir: String, m: Int = 4,
      subDim: Int = 16, kSub: Int = 4, iters: Int = 2,
      kNeighbors: Int = 3): DataFrame =
    pqAdcTopKOf(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v")),
      m, subDim, kSub, iters, kNeighbors,
      memoKey = Some(s"pq|$dir|$m|$subDim|$kSub|$iters"))

  /** Core of `pqAdcTopK` over any `(vec_id, v)` frame — split out so
    * QuantizationSpec can replay the full train→encode→ADC pipeline
    * driver-side on controlled fixtures (those callers leave `memoKey`
    * unset and always train).
    */
  def pqAdcTopKOf(vecs: DataFrame, m: Int, subDim: Int, kSub: Int,
      iters: Int, kNeighbors: Int,
      memoKey: Option[String] = None): DataFrame = {
    val (cents, codes) = pqModel(vecs, m, subDim, kSub, iters, memoKey)
    pqSearch(vecs.filter(col("vec_id") < 8), cents, codes,
      m, subDim, kSub, kNeighbors)
  }

  /** The ADC search stage alone — split out so ScaleSpec can assert the
    * search plan touches only codes + the broadcast tables (no parquet
    * scan, no per-row float vector math).
    */
  private[ops] def pqSearch(probeVecs: DataFrame, cents: DataFrame,
      codes: DataFrame, m: Int, subDim: Int, kSub: Int,
      kNeighbors: Int): DataFrame = {
    // per-probe distance table, (sub, cluster)-major: entry index of
    // (sub, code) is sub * kSub + code (0-based)
    val dtab = probeVecs
      .select(col("vec_id").as("q_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(v, s * $subDim + 1, $subDim))"))
        .as(Seq("sub", "sv")))
      .join(broadcast(cents), Seq("sub"))
      .withColumn("d2", expr(subDistExpr("sv", subDim)))
      .groupBy("q_id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(sub, cluster, d2))), s -> s.d2)")
        .as("dtab"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    codes.crossJoin(broadcast(dtab))
      .filter(col("vec_id") =!= col("q_id"))
      // sub-order fold over the lookup table: acc order is s = 0..m-1,
      // the same order the oracle's list_reduce evaluates
      .withColumn("adist", expr(
        s"""aggregate(sequence(0, ${m - 1}), CAST(0 AS DOUBLE),
           |  (acc, s) -> acc + element_at(dtab,
           |    CAST(s * $kSub + element_at(codes, s + 1) + 1 AS INT)))"""
          .stripMargin))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= kNeighbors)
      .select(col("q_id"), col("rn"), col("vec_id"),
        round(col("adist"), 6).as("adist"))
      .orderBy("q_id", "rn")
  }
}

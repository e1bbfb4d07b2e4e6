package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-based nonparametric tests over value-domain histograms:
  * Mann–Whitney U (q212) and Kruskal–Wallis (q213). Both consume one
  * shared midrank engine so the tie handling cannot drift between
  * them, and both judge against the shared `Events.Chi2Crit95Ppm`
  * critical-value table (z² under H₀ is χ²(1); Kruskal–Wallis' H is
  * χ²(k−1)).
  */
object RankTests {

  /** Shared midrank engine: from `(g, v)` observations, per-group
    * doubled rank sums with midrank tie handling, plus the global
    * totals the test statistics need.
    *
    * Doubled midranks keep ties integer-exact: a value with `cnt`
    * occurrences after `cum − cnt` smaller observations has midrank
    * (2·(cum−cnt) + cnt + 1) / 2, so DOUBLED midranks are integers
    * for every tie width and rank sums never see a fraction. Tie term
    * `Σ(t³ − t)` feeds both tests' tie-corrected variances.
    *
    * Scale shape: observations collapse to the value-domain histogram
    * first (the q53/q176 discipline — bounded by the value range, not
    * the row count); the ONLY unpartitioned window runs over that
    * bounded histogram; per-(group, value) counts join the midrank map
    * on the value key both already shuffle by; everything downstream
    * is group-sized. Rank sums accumulate in DECIMAL(38) (they reach
    * N·(N+1) — past BIGINT at ~4·10⁹ rows).
    *
    * Returns (per-group `(g, n_g, r2_g)`, totals `(n_total,
    * tie_term)`).
    */
  private[graft] def midrankStats(df: DataFrame): (DataFrame, DataFrame) = {
    val h = CachedStages.model(df.groupBy("v")
      .agg(count(lit(1)).as("cnt")))
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mr = h.withColumn("cum", sum(col("cnt")).over(wv))
      .select(col("v"), expr("2 * (cum - cnt) + cnt + 1").as("mr2"))
    val groups = df.groupBy("g", "v").agg(count(lit(1)).as("n_gv"))
      .join(mr, Seq("v"))
      .groupBy("g")
      .agg(sum(col("n_gv")).as("n_g"),
        sum(expr("CAST(n_gv AS DECIMAL(38, 0)) * mr2")).as("r2_g"))
    val totals = h.agg(sum(col("cnt")).as("n_total"),
      sum(expr("CAST(cnt AS DECIMAL(38, 0)) * cnt * cnt - cnt"))
        .as("tie_term"))
    (groups, totals)
  }

  /** Whole-dollar order totals for the two compared priorities — the
    * q176/q193 quantization contract (exact cents, then `div 100`),
    * which is also what bounds the rank histogram by the PRICE RANGE
    * instead of the order count.
    */
  def mannWhitney(spark: SparkSession, dir: String,
      grpA: String = "1-URGENT", grpB: String = "5-LOW"): DataFrame =
    mannWhitneyOf(Tables(spark, dir, "orders")
      .filter(col("o_orderpriority").isin(grpA, grpB))
      .select(col("o_orderpriority").as("g"),
        expr("""CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100
          | AS BIGINT) div 100""".stripMargin).as("v")),
      grpA, grpB)

  /** Graded q212: MANN–WHITNEY U test (Mann & Whitney 1947; Wilcoxon
    * 1945) — does one order priority's price distribution
    * stochastically dominate another's? The nonparametric companion
    * to the engine's parametric verdicts (q194 compares proportions,
    * q154 bootstraps means): rank-based, so outlier-immune and
    * distribution-free, the test a pricing analyst reaches for when
    * totals are heavy-tailed — which revenue always is.
    *
    * Statistic: U_A from the doubled rank sum (2U_A = 2R_A −
    * n_a(n_a+1), exact), direction shipped as the RANK-BISERIAL
    * effect size r = 2U/(n_a·n_b) − 1 in ppm (Cureton 1956) — the
    * "how big", not just "whether", with `winner` naming the
    * dominant side. Significance via the normal approximation with
    * TIE-CORRECTED variance: z² = 3·(2U−n_a·n_b)²·N(N−1) /
    * (n_a·n_b·W), W = N³−N−Σ(t³−t), judged against χ²₀.₉₅(1) =
    * `Chi2Crit95Ppm(0)`.
    *
    * Fixed-point discipline, bounded for ANY n: r_ppm = (2U −
    * n_a·n_b)·10⁶ div (n_a·n_b) floors ONCE (truncation toward zero,
    * the verified shared convention — numerator ≤ 2·nanb·10⁶ stays
    * inside DECIMAL(38) to ~10¹² rows, where squaring raw counts
    * would overflow at ~10⁵); v_fl = W div (N(N−1)) ≈ N+1 floors
    * once; z²_micro = 3·r_ppm²·n_a·n_b div (10⁶·v_fl) — ≤ 1.7·10³⁴
    * at 10¹¹ rows. Every floor replays in the oracle. All-tied data
    * (W = 0) surfaces NULL z², honestly.
    *
    * The graded pair 1-URGENT vs 5-LOW is the designed CONTROL: the
    * synthetic stream draws price independent of priority, so the
    * verdict must be not-significant — the spec plants a shifted
    * fixture for the significant path.
    */
  def mannWhitneyOf(df: DataFrame, grpA: String,
      grpB: String): DataFrame = {
    val (groups, totals) = midrankStats(df)
    val g = CachedStages.model(groups)
    val a = g.filter(col("g") === grpA)
      .select(col("n_g").as("n_a"), col("r2_g").as("r2_a"))
    val b = g.filter(col("g") === grpB).select(col("n_g").as("n_b"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(totals))
      .withColumn("u2_a", expr(
        "r2_a - CAST(n_a AS DECIMAL(38, 0)) * (n_a + 1)"))
      .withColumn("r_rb_ppm", expr(
        """CAST((u2_a - CAST(n_a AS DECIMAL(38, 0)) * n_b) * 1000000
          | div (CAST(n_a AS DECIMAL(38, 0)) * n_b) AS BIGINT)"""
          .stripMargin))
      .withColumn("w_big", expr(
        """CAST(n_total AS DECIMAL(38, 0)) * n_total * n_total
          | - n_total - tie_term""".stripMargin))
      .withColumn("v_fl", expr(
        """w_big div nullif(
          |  CAST(n_total AS DECIMAL(38, 0)) * (n_total - 1), 0)"""
          .stripMargin))
      .withColumn("z2_micro", expr(
        """CAST(3 * CAST(r_rb_ppm AS DECIMAL(38, 0)) * r_rb_ppm
          | * n_a * n_b
          | div nullif(CAST(v_fl AS DECIMAL(38, 0)) * 1000000, 0)
          | AS BIGINT)""".stripMargin))
      .withColumn("crit_micro", lit(Events.Chi2Crit95Ppm.head))
      .withColumn("significant", expr(
        """CASE WHEN z2_micro IS NULL THEN CAST(NULL AS BIGINT)
          |     WHEN z2_micro > crit_micro THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .withColumn("winner", expr(
        s"""CASE WHEN r_rb_ppm > 0 THEN '$grpA'
          |     WHEN r_rb_ppm < 0 THEN '$grpB' ELSE 'tie' END"""
          .stripMargin))
      .select(col("n_a"), col("n_b"),
        expr("CAST(u2_a AS BIGINT)").as("u2_a"), col("r_rb_ppm"),
        expr("CAST(tie_term AS BIGINT)").as("tie_term"),
        col("z2_micro"), col("crit_micro"), col("significant"),
        col("winner"))
  }

  def kruskalWallis(spark: SparkSession, dir: String): DataFrame =
    kruskalWallisOf(Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        expr("""CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100
          | AS BIGINT) div 100""".stripMargin).as("v")))

  /** Graded q213: KRUSKAL–WALLIS rank test (Kruskal & Wallis, JASA
    * 1952) — the k-group extension of q212: do ANY of the five order
    * priorities price differently? One omnibus verdict instead of ten
    * pairwise U tests (the multiplicity trap q195's scaladoc
    * demonstrates). H under H₀ is χ²(k−1), so the verdict reads
    * `Chi2Crit95Ppm(k−2)` — the FOURTH consumer of the shared
    * critical-value table (q192, q194/q195, q199).
    *
    * Statistic via mean-rank deviations, every step integer: with
    * doubled rank sums, D2_g = r2_g − n_g·(N+1) is the EXACT doubled
    * deviation of group g's rank mass from its H₀ expectation (no
    * floor — the expected doubled midrank mean is exactly N+1);
    * d_ppm = D2_g·10⁶ div (n_g·N) floors once per group; H_micro =
    * 3·N·Σ(n_g·d_ppm²) div (10⁶·(N+1)) — algebraically
    * 3/(N(N+1))·ΣD2²/n_g, the textbook 12/(N(N+1))·Σn(m−m̄)² — and
    * the form stays inside DECIMAL(38) for ANY n (~10¹² rows) where
    * squaring raw rank sums dies at ~10⁹. Tie correction divides by
    * C = 1 − Σ(t³−t)/(N³−N), carried as c_pm = 1000 − tie·1000 div
    * (N³−N) in PER-MILLE (10⁻³ on a factor that is ≥ 0.999 on any
    * non-degenerate data; N³·10³ is what DECIMAL(38) affords at 10¹¹
    * rows): h_tie_micro = H_micro·1000 div c_pm. All-tied data
    * (c = 0) surfaces NULL, honestly.
    *
    * Output: one row per group (n_g, floored doubled mean rank) with
    * the omnibus verdict repeated per row — the q181 discipline.
    * Graded expectation on the priority-independent synthetic stream:
    * NOT significant, the control.
    */
  def kruskalWallisOf(df: DataFrame): DataFrame = {
    val (groups, totals) = midrankStats(df)
    val g = CachedStages.model(groups)
    val k = g.agg(count(lit(1)).as("k_groups"))
    val devs = g.crossJoin(broadcast(totals))
      .withColumn("d2", expr(
        "r2_g - CAST(n_g AS DECIMAL(38, 0)) * (n_total + 1)"))
      .withColumn("d_ppm", expr(
        """CAST(d2 * 1000000
          | div (CAST(n_g AS DECIMAL(38, 0)) * n_total) AS BIGINT)"""
          .stripMargin))
    val summary = devs
      .agg(max(col("n_total")).as("n_total"),
        max(col("tie_term")).as("tie_term"),
        sum(expr("CAST(n_g AS DECIMAL(38, 0)) * d_ppm * d_ppm"))
          .as("s_dev"))
      .crossJoin(broadcast(k))
      .withColumn("h_micro", expr(
        """CAST(3 * CAST(n_total AS DECIMAL(38, 0)) * s_dev
          | div (1000000 * (CAST(n_total AS DECIMAL(38, 0)) + 1))
          | AS BIGINT)""".stripMargin))
      .withColumn("cube_n", expr(
        "CAST(n_total AS DECIMAL(38, 0)) * n_total * n_total - n_total"))
      .withColumn("c_pm", expr(
        "1000 - CAST(tie_term AS DECIMAL(38, 0)) * 1000 div cube_n"))
      .withColumn("h_tie_micro", expr(
        """CAST(CAST(h_micro AS DECIMAL(38, 0)) * 1000
          | div nullif(c_pm, 0) AS BIGINT)""".stripMargin))
      .withColumn("df_chi2", expr("k_groups - 1"))
      .withColumn("crit_micro", expr(
        s"""CAST(try_element_at(
          |  array(${Events.Chi2Crit95Ppm.mkString(",")}),
          |  CAST(k_groups - 1 AS INT)) AS BIGINT)""".stripMargin))
      .withColumn("significant", expr(
        """CASE WHEN h_tie_micro IS NULL OR crit_micro IS NULL
          |       THEN CAST(NULL AS BIGINT)
          |     WHEN h_tie_micro > crit_micro THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select(col("n_total"),
        expr("CAST(tie_term AS BIGINT)").as("tie_term"),
        col("h_micro"), col("h_tie_micro"), col("df_chi2"),
        col("crit_micro"), col("significant"))
    g.crossJoin(broadcast(summary))
      .select(col("g"), col("n_g"),
        expr("CAST(r2_g div n_g AS BIGINT)").as("mean_rank2"),
        col("n_total"), col("tie_term"), col("h_micro"),
        col("h_tie_micro"), col("df_chi2"), col("crit_micro"),
        col("significant"))
      .orderBy("g")
  }

  /** Whole-dollar account balance vs whole-dollar realized spend per
    * customer (customers without orders spend 0 — the zero-inflation
    * is part of the question). Balance can be negative: `div 100`
    * truncates toward zero in both engines (the verified shared
    * convention), so the −$0.99..$0.99 band merges at 0 — documented
    * quantization, same contract as q176/q193.
    */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(expr(
        "CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("ycents"))
    spearmanOf(Tables(spark, dir, "customer")
      .select(col("c_custkey"),
        expr("""CAST(CAST(c_acctbal AS DECIMAL(12, 2)) * 100
          | AS BIGINT) div 100""".stripMargin).as("x"))
      .join(spend.select(col("o_custkey").as("c_custkey"),
        expr("ycents div 100").as("y")), Seq("c_custkey"), "left")
      .na.fill(0L, Seq("y"))
      .select("x", "y"))
  }

  /** Graded q218: SPEARMAN RANK CORRELATION (Spearman 1904) between
    * account balance and realized spend — the monotone-association
    * audit: does the static balance attribute PREDICT purchasing, in
    * the rank sense that survives heavy tails and outliers where raw
    * Pearson (the q168 moment machinery) does not? Method: both
    * variables rank through the SHARED midrank engine's doubled
    * midranks (Pearson-on-midranks IS tie-corrected Spearman), then
    * the engine's q209 two-pass integer Pearson: exact rank sums,
    * means floored once to milli, DECIMAL(38) centered products,
    * moment sums floored by n, verdict as (sign, ρ²·10⁶) sqrt-free.
    * Large-sample significance is FREE of further floors: z =
    * ρ·√(n−1) squares to z²_micro = ρ²_ppm·(n−1), judged against
    * χ²(1) from the shared table. Degenerate variables (zero rank
    * variance) surface NULL ρ²/sign 0, honestly.
    *
    * Scale shape: per-customer spend is one map-side-combinable
    * collapse plus a customer-keyed join; each variable collapses to
    * its whole-dollar value-domain histogram (bounded by the PRICE
    * RANGE — the only unpartitioned windows run there); midranks
    * join back on the value keys; moments are two scans of the
    * persisted |customers|-row rank-pair table.
    */
  def spearmanOf(df: DataFrame): DataFrame = {
    val d = CachedStages.data(df)
    def ranks(cName: String) = {
      val h = d.groupBy(col(cName).as("v")).agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum(col("cnt")).over(wv))
        .select(col("v"), expr("2 * (cum - cnt) + cnt + 1").as("mr2"),
          expr("CAST(cnt AS DECIMAL(38, 0)) * cnt * cnt - cnt")
            .as("t3"))
    }
    val rx = CachedStages.model(ranks("x"))
    val ry = CachedStages.model(ranks("y"))
    val pairs = CachedStages.data(d
      .join(rx.select(col("v").as("x"), col("mr2").as("rx2")), Seq("x"))
      .join(ry.select(col("v").as("y"), col("mr2").as("ry2")), Seq("y"))
      .select("rx2", "ry2"))
    val ties = rx.agg(sum(col("t3")).as("tie_x"))
      .crossJoin(broadcast(ry.agg(sum(col("t3")).as("tie_y"))))
    val p1 = pairs.agg(count(lit(1)).as("n"),
        sum(expr("CAST(rx2 AS DECIMAL(38, 0))")).as("sx"),
        sum(expr("CAST(ry2 AS DECIMAL(38, 0))")).as("sy"))
      .withColumn("mx", expr("sx * 1000 div n"))
      .withColumn("my", expr("sy * 1000 div n"))
    pairs.crossJoin(broadcast(p1))
      .select(expr("rx2 * 1000 - mx").as("dx"),
        expr("ry2 * 1000 - my").as("dy"), col("n"))
      .agg(max(col("n")).as("n"),
        sum(expr("CAST(dx AS DECIMAL(38, 0)) * dy")).as("covS"),
        sum(expr("CAST(dx AS DECIMAL(38, 0)) * dx")).as("vxS"),
        sum(expr("CAST(dy AS DECIMAL(38, 0)) * dy")).as("vyS"))
      .withColumn("covM", expr("covS div n"))
      .withColumn("vxM", expr("vxS div n"))
      .withColumn("vyM", expr("vyS div n"))
      .crossJoin(broadcast(ties))
      .withColumn("rho_sign", expr(
        """CASE WHEN covM > 0 THEN CAST(1 AS BIGINT)
          |     WHEN covM < 0 THEN CAST(-1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .withColumn("rho2_ppm", expr(
        """CAST(CAST(covM AS DECIMAL(38, 0)) * covM * 1000000
          | div nullif(CAST(vxM AS DECIMAL(38, 0)) * vyM, 0)
          | AS BIGINT)""".stripMargin))
      .withColumn("z2_micro", expr("rho2_ppm * (n - 1)"))
      .withColumn("crit_micro", lit(Events.Chi2Crit95Ppm.head))
      .withColumn("significant", expr(
        """CASE WHEN z2_micro IS NULL THEN CAST(NULL AS BIGINT)
          |     WHEN z2_micro > crit_micro THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select(col("n"),
        expr("CAST(tie_x AS BIGINT)").as("tie_x"),
        expr("CAST(tie_y AS BIGINT)").as("tie_y"),
        col("rho_sign"), col("rho2_ppm"), col("z2_micro"),
        col("crit_micro"), col("significant"))
  }

  /** c(0.05)² = −ln(0.025)/2 = 1.8444397… in micro units (HALF_UP) —
    * the squared two-sample Kolmogorov–Smirnov critical coefficient,
    * shared by the q221 operator and its oracle so the verdict
    * constant cannot desynchronize (the Chi2Crit95Ppm discipline).
    */
  val KsCrit2Micro = 1844440L

  def ksTest(spark: SparkSession, dir: String,
      grpA: String = "1-URGENT", grpB: String = "5-LOW"): DataFrame =
    ksTestOf(Tables(spark, dir, "orders")
      .filter(col("o_orderpriority").isin(grpA, grpB))
      .select(col("o_orderpriority").as("g"),
        expr("""CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100
          | AS BIGINT) div 100""".stripMargin).as("v")), grpA, grpB)

  /** Graded q221: two-sample KOLMOGOROV–SMIRNOV test (Kolmogorov
    * 1933; Smirnov 1939) — the SHAPE companion to q212's location
    * test: Mann–Whitney asks "does one group sit higher", KS asks
    * "do the distributions differ AT ALL" (spread, tails, modality —
    * differences a rank-sum test is blind to when locations match).
    * D = sup|F_a − F_b| computed EXACTLY over the shared whole-dollar
    * value histogram: per value, |ca·n_b − cb·n_a| in the common
    * n_a·n_b denominator (no per-group division, no FP CDF), max,
    * then ONE floor to d_ppm. The dollar value where the gap peaks
    * ships alongside (min such value — pinned) — the "where do they
    * diverge" readout. Verdict via the squared asymptotic band:
    * d_ppm²·n_a·n_b > c²·(n_a+n_b)·10⁶ with c² = [[KsCrit2Micro]] —
    * sqrt-free, inside DECIMAL(38) for ANY n. (Ties make the
    * asymptotic KS conservative — standard, documented.)
    *
    * Scale shape: one orders scan collapses to the value-domain
    * histogram (bounded by the price range); the cumulative window
    * runs there; totals, the max and the argmax row ride broadcasts.
    */
  def ksTestOf(df: DataFrame, ga: String, gb: String): DataFrame = {
    val h = CachedStages.model(df.groupBy("v")
      .agg(sum(when(col("g") === ga, 1L).otherwise(0L)).as("ca0"),
        sum(when(col("g") === gb, 1L).otherwise(0L)).as("cb0")))
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = h.agg(sum(col("ca0")).as("n_a"), sum(col("cb0")).as("n_b"))
    val diffs = CachedStages.model(h
      .select(col("v"), sum(col("ca0")).over(wv).as("ca"),
        sum(col("cb0")).over(wv).as("cb"))
      .crossJoin(broadcast(tot))
      .withColumn("adiff", expr(
        """abs(CAST(ca AS DECIMAL(38, 0)) * n_b
          | - CAST(cb AS DECIMAL(38, 0)) * n_a)""".stripMargin)))
    val dmax = diffs.agg(max(col("adiff")).as("dmax"))
    diffs.crossJoin(broadcast(dmax))
      .filter(col("adiff") === col("dmax"))
      .agg(min(col("v")).as("v_at_max"), max(col("dmax")).as("dm"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .withColumn("d_ppm", expr(
        """CAST(dm * 1000000
          | div nullif(CAST(n_a AS DECIMAL(38, 0)) * n_b, 0)
          | AS BIGINT)""".stripMargin))
      .withColumn("crit2_micro", lit(KsCrit2Micro))
      .withColumn("significant", expr(
        """CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS BIGINT)
          |     WHEN CAST(d_ppm AS DECIMAL(38, 0)) * d_ppm * n_a * n_b
          |       > CAST(crit2_micro AS DECIMAL(38, 0))
          |         * (n_a + n_b) * 1000000
          |       THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select(col("n_a"), col("n_b"), col("d_ppm"), col("v_at_max"),
        col("crit2_micro"), col("significant"))
  }

  /** c(0.05/m)² = −ln(0.025/m)/2 in micro units (HALF_UP) for
    * m = 1..20 — the Bonferroni-corrected two-sample KS critical
    * coefficients, pinned like `Chi2Crit95Ppm` so the q269 operator
    * and its oracle share one table (entry 1 IS `KsCrit2Micro`).
    */
  val KsCrit2MicroByM: Seq[Long] = Seq(
    1844440L, 2191013L, 2393746L, 2537587L, 2649159L, 2740319L,
    2817395L, 2884160L, 2943052L, 2995732L, 3043387L, 3086893L,
    3126914L, 3163968L, 3198465L, 3230734L, 3261046L, 3289626L,
    3316659L, 3342306L)

  def sourceLengthDrift(spark: SparkSession, dir: String): DataFrame =
    sourceLengthDriftOf(Tables(spark, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("source"),
        size(expr(TextOps.tokensExpr)).cast("long").as("v")))

  /** Graded q269: SOURCE LENGTH-DRIFT screen — for EVERY source, the
    * two-sample Kolmogorov–Smirnov test of its document token-count
    * distribution against the REST of the corpus, with the
    * familywise Bonferroni verdict beside the raw one. This is the
    * ingestion gate q221 can't provide alone: q221 compares two
    * NAMED groups once; a curation pipeline screens ALL sources
    * every refresh and must control for running |sources| tests —
    * a source whose length profile drifts (truncation bugs,
    * boilerplate floods, concatenation accidents) fails here before
    * it pollutes a mix. D is q221's exact cross-multiplied sup-gap;
    * the m-corrected critical coefficient comes from the pinned
    * `KsCrit2MicroByM` table (entry 1 is the shared `KsCrit2Micro`).
    *
    * Scale shape: ONE token-length projection collapses to the
    * (source, length) histogram; the test grid is |sources| × the
    * GLOBAL length domain (value-domain bounded, never doc-count
    * sized); the only windows are source-partitioned cumulatives
    * over that grid; every arm's verdict is one grid-sized pass —
    * all |sources| tests in ONE plan, no per-source rescan.
    */
  def sourceLengthDriftOf(lens: DataFrame): DataFrame = {
    val h = CachedStages.model(lens.groupBy("source", "v")
      .agg(count(lit(1)).as("c")))
    val gv = h.groupBy("v").agg(sum(col("c")).as("cg"))
    val tot = broadcast(h.agg(sum(col("c")).as("n_total"),
      countDistinct(col("source")).as("m")))
    val nS = h.groupBy("source").agg(sum(col("c")).as("n_a"))
    val grid = h.select("source").distinct()
      .crossJoin(gv)
      .join(h, Seq("source", "v"), "left")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val diffs = CachedStages.model(grid
      .withColumn("ca", sum(col("c")).over(w))
      .withColumn("cgc", sum(col("cg")).over(w))
      .join(broadcast(nS), Seq("source"))
      .crossJoin(tot)
      .withColumn("n_b", expr("n_total - n_a"))
      .withColumn("cb", expr("cgc - ca"))
      .withColumn("adiff", expr(
        """abs(CAST(ca AS DECIMAL(38, 0)) * n_b
          | - CAST(cb AS DECIMAL(38, 0)) * n_a)""".stripMargin)))
    val dmax = diffs.groupBy("source").agg(max(col("adiff")).as("dm"))
    diffs.join(broadcast(dmax), Seq("source"))
      .filter(col("adiff") === col("dm"))
      .groupBy("source")
      .agg(min(col("v")).as("v_at_max"), max(col("dm")).as("dm"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("m")).as("m"))
      .withColumn("d_ppm", expr(
        """CAST(dm * 1000000
          | div nullif(CAST(n_a AS DECIMAL(38, 0)) * n_b, 0)
          | AS BIGINT)""".stripMargin))
      .withColumn("crit2_micro", lit(KsCrit2Micro))
      .withColumn("crit2_bonf_micro", expr(
        s"""CAST(try_element_at(
           |  array(${KsCrit2MicroByM.mkString(",")}),
           |  CAST(m AS INT)) AS BIGINT)""".stripMargin))
      .withColumn("significant_raw", expr(
        """CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS BIGINT)
          |     WHEN CAST(d_ppm AS DECIMAL(38, 0)) * d_ppm * n_a * n_b
          |       > CAST(crit2_micro AS DECIMAL(38, 0))
          |         * (n_a + n_b) * 1000000
          |       THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .withColumn("significant_bonf", expr(
        """CASE WHEN n_a = 0 OR n_b = 0 OR crit2_bonf_micro IS NULL
          |       THEN CAST(NULL AS BIGINT)
          |     WHEN CAST(d_ppm AS DECIMAL(38, 0)) * d_ppm * n_a * n_b
          |       > CAST(crit2_bonf_micro AS DECIMAL(38, 0))
          |         * (n_a + n_b) * 1000000
          |       THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select("source", "n_a", "n_b", "d_ppm", "v_at_max", "m",
        "crit2_micro", "significant_raw", "crit2_bonf_micro",
        "significant_bonf")
      .orderBy("source")
  }

  def kendallTau(spark: SparkSession, dir: String): DataFrame =
    kendallTauOfDaily(Events.events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr(
          "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
          .as("y")))

  /** Graded q230: KENDALL's TAU between two daily metrics per event
    * type — volume (events/day) vs money (cents/day). q218's Spearman
    * ranks the raw per-customer pairs; Kendall counts concordant vs
    * discordant DAY pairs, the estimator with the cleaner
    * interpretation (P(concordant) − P(discordant)) and better
    * small-n behavior, and q188's Mann–Kendall is exactly this tau
    * against TIME — so the three trend/association tests now share
    * one family. Ships exact integers: n₀ = C(n,2) pairs, nc−nd, tie
    * pair counts in x/y (Σt(t−1)/2 arises as the equal-value pair
    * count — no per-group tie pass needed), tau-a = (nc−nd)·10⁶ div
    * n₀, and the sqrt-free signed tau-b²:
    * sign(nc−nd)·(nc−nd)²·10⁶ div ((n₀−tx)(n₀−ty)) in DECIMAL(38)
    * (the q188/q221 cross-multiply discipline). Single-day types
    * surface NULL taus via nullif, counts 0 — honestly.
    *
    * Scale shape: the pair join runs over the CALENDAR-bounded
    * (type, day) matrix — ≤|days|²/2 rows per type regardless of
    * event volume; the matrix itself is one map-side-combinable
    * collapse of the stream. The matrix persists so the pair pass
    * and the n_days count read one materialization.
    */
  def kendallTauOfDaily(dailyIn: DataFrame): DataFrame = {
    val daily = CachedStages.model(dailyIn)
    // spread the calendar-bounded matrix before the |days|² pair
    // kernel (ADVICE r20 — the knnHubnessOf discipline): the stream
    // side of the pair join otherwise inherits the model cache's ONE
    // partition and the quadratic kernel runs in one task; the build
    // side pins broadcast so the spread is what sets the parallelism.
    val spread = daily.repartition(
      daily.sparkSession.sparkContext.defaultParallelism)
    val pairs = spread.as("a").join(broadcast(daily).as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(count(lit(1)).as("n0"),
        sum(expr(
          """CASE WHEN (b.x > a.x AND b.y > a.y)
            |       OR (b.x < a.x AND b.y < a.y) THEN CAST(1 AS BIGINT)
            |     WHEN (b.x > a.x AND b.y < a.y)
            |       OR (b.x < a.x AND b.y > a.y) THEN CAST(-1 AS BIGINT)
            |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
          .as("nc_nd"),
        sum(expr("CASE WHEN b.x = a.x THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END")).as("tx_pairs"),
        sum(expr("CASE WHEN b.y = a.y THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END")).as("ty_pairs"))
    daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      .join(broadcast(pairs), Seq("event_type"), "left")
      .na.fill(0L, Seq("n0", "nc_nd", "tx_pairs", "ty_pairs"))
      .withColumn("tau_a_ppm", expr(
        "nc_nd * 1000000 div nullif(n0, 0)"))
      .withColumn("taub2_signed_ppm", expr(
        """CAST(CASE WHEN nc_nd < 0 THEN -1 ELSE 1 END
          | * CAST(nc_nd AS DECIMAL(38, 0)) * nc_nd * 1000000
          | div nullif(CAST(n0 - tx_pairs AS DECIMAL(38, 0))
          |            * (n0 - ty_pairs), 0) AS BIGINT)""".stripMargin))
      .select("event_type", "n_days", "n0", "nc_nd", "tx_pairs",
        "ty_pairs", "tau_a_ppm", "taub2_signed_ppm")
      .orderBy("event_type")
  }

  /** ln(40)·10⁶ = −ln(0.025)·10⁶: Pettitt's 5% two-sided approximate
    * significance p ≈ 2exp(−6K²/(n³+n²)) < 0.05 cross-multiplies to
    * 6K²·10⁶ > 3688879·(n³+n²) — sqrt/exp-free, shared with the
    * oracle SQL. */
  val PettittLn40Micro = 3688879L

  def pettitt(spark: SparkSession, dir: String): DataFrame =
    pettittOfDaily(Events.events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("x")))

  /** Graded q231: PETTITT CHANGEPOINT TEST (Pettitt, Appl. Statist.
    * 1979) on daily revenue per event type — WHEN did the level
    * shift? q187's CUSUM needs a target mean and flags excursions;
    * Pettitt is the rank-based test that needs NO parameters and
    * returns the single most likely break day: U_t = Σ_{i≤t,j>t}
    * sign(x_j−x_i) via the O(n) recursion U_t = U_{t−1} + V_t over
    * the per-day full sign sums V_t = Σ_j sign(x_t−x_j) (one
    * calendar-bounded pair join), K = max|U_t| over t < n with the
    * smallest-day tie rule, and the sqrt/exp-free 5% verdict
    * 6K²·10⁶ > ln(40)·10⁶·(n³+n²) in DECIMAL(38) (exact past a
    * century of days). The floored mean level before/after the break
    * ships beside the verdict — the actionable readout. Singleton
    * types surface NULL break/levels, honestly.
    *
    * Scale shape: the sign sums pair strictly over the persisted
    * CALENDAR-bounded (type, day) matrix (≤|days|² per type, never
    * the stream); the cumulative U_t window is partitioned per type
    * over that same bounded matrix; the argmax and the level means
    * are |types|-row broadcasts.
    */
  def pettittOfDaily(dailyIn: DataFrame): DataFrame = {
    val daily = CachedStages.model(dailyIn)
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val ut = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type"))
      .groupBy(col("a.event_type").as("event_type"),
        col("a.day").as("day"))
      .agg(sum(expr(
        """CASE WHEN a.x > b.x THEN CAST(1 AS BIGINT)
          |     WHEN a.x < b.x THEN CAST(-1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin)).as("vt"))
      .withColumn("ut", sum(col("vt")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_days",
        count(lit(1)).over(Window.partitionBy("event_type")))
    // persisted: broadcast into the level means AND the final report —
    // unpersisted, the pairwise self-join + U-statistic windows above
    // executed twice (round-18 DupExec sweep, 16-node subtree x2);
    // |event types| rows
    val best = CachedStages.model(ut.filter(col("rn") < col("n_days"))
      .withColumn("pick", row_number().over(Window
        .partitionBy("event_type")
        .orderBy(abs(col("ut")).desc, col("day").asc)))
      .filter(col("pick") === 1)
      .select(col("event_type"), col("day").as("cp_day"),
        col("ut").as("u_at_cp"), abs(col("ut")).as("k_stat")))
    val levels = daily
      .join(broadcast(best.select("event_type", "cp_day")),
        Seq("event_type"))
      .groupBy("event_type")
      .agg(sum(when(col("day") <= col("cp_day"), col("x"))).as("sb"),
        sum(when(col("day") <= col("cp_day"), 1L)).as("nb"),
        sum(when(col("day") > col("cp_day"), col("x"))).as("sa"),
        sum(when(col("day") > col("cp_day"), 1L)).as("na"))
      .select(col("event_type"),
        expr("sb div nb").as("mean_before_cents"),
        expr("sa div na").as("mean_after_cents"))
    daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      .join(broadcast(best), Seq("event_type"), "left")
      .join(broadcast(levels), Seq("event_type"), "left")
      .withColumn("significant", expr(
        s"""CASE WHEN k_stat IS NULL THEN CAST(NULL AS BIGINT)
           |     WHEN CAST(6 AS DECIMAL(38, 0)) * k_stat * k_stat
           |          * 1000000
           |        > CAST($PettittLn40Micro AS DECIMAL(38, 0))
           |          * (CAST(n_days AS DECIMAL(38, 0)) * n_days
           |             * n_days
           |             + CAST(n_days AS DECIMAL(38, 0)) * n_days)
           |     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
           |END""".stripMargin))
      .select("event_type", "n_days", "cp_day", "u_at_cp", "k_stat",
        "mean_before_cents", "mean_after_cents", "significant")
      .orderBy("event_type")
  }

  def runsTest(spark: SparkSession, dir: String): DataFrame =
    runsTestOfDaily(Events.events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("x")))

  /** Graded q232: WALD–WOLFOWITZ RUNS TEST (Wald & Wolfowitz, Ann.
    * Math. Statist. 1940) on the up/down direction sequence of daily
    * revenue — the RANDOMNESS audit the trend family assumes away:
    * q188 asks "is there a trend", this asks "is the sequence of
    * day-over-day moves random at all", catching BOTH failure modes —
    * too few runs (momentum/level-shifts cluster signs; also exactly
    * how q231's breaks look) and too many (oscillation, the signature
    * of over-corrected pipelines and alternating batch effects).
    * Zero-change days drop (the standard tie treatment); n₁ ups, n₂
    * downs, R runs; under H₀ μ = 2n₁n₂/n + 1 and σ² =
    * 2n₁n₂(2n₁n₂−n)/(n²(n−1)), so the 5% two-sided z-test
    * cross-multiplies exactly: with A = n(R−1) − 2n₁n₂ (signed —
    * A < 0 is clustering, A > 0 oscillation),
    * A²·(n−1)·10⁴ > 38416·2n₁n₂(2n₁n₂−n) in DECIMAL(38) (the q188
    * z² = 1.96² discipline). One-signed sequences (σ = 0) and
    * sub-2-step types surface NULL — honestly.
    *
    * Scale shape: both lag windows run per type over the
    * CALENDAR-bounded persisted day matrix; the verdict is a
    * |types|-row aggregate. The stream collapses exactly once.
    */
  def runsTestOfDaily(dailyIn: DataFrame): DataFrame = {
    val daily = CachedStages.model(dailyIn)
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val steps = daily
      .withColumn("prev", lag(col("x"), 1).over(wOrd))
      .filter(col("prev").isNotNull && col("x") =!= col("prev"))
      .withColumn("s",
        when(col("x") > col("prev"), 1L).otherwise(-1L))
      .withColumn("prevs", lag(col("s"), 1).over(wOrd))
      .withColumn("newrun",
        when(col("prevs").isNull || col("s") =!= col("prevs"), 1L)
          .otherwise(0L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_steps"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("s") === -1L, 1L).otherwise(0L)).as("n_down"),
        sum(col("newrun")).as("runs"))
    daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      .join(broadcast(steps), Seq("event_type"), "left")
      .na.fill(0L, Seq("n_steps", "n_up", "n_down", "runs"))
      .withColumn("a_stat", expr(
        "n_steps * (runs - 1) - 2 * n_up * n_down"))
      .withColumn("significant", expr(
        """CASE
          |  WHEN n_steps < 2
          |    OR CAST(2 AS DECIMAL(38, 0)) * n_up * n_down
          |       * (2 * n_up * n_down - n_steps) <= 0
          |  THEN CAST(NULL AS BIGINT)
          |  WHEN CAST(a_stat AS DECIMAL(38, 0)) * a_stat
          |       * (n_steps - 1) * 10000
          |     > CAST(38416 AS DECIMAL(38, 0)) * 2 * n_up * n_down
          |       * (2 * n_up * n_down - n_steps)
          |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
          |END""".stripMargin))
      .select("event_type", "n_days", "n_steps", "n_up", "n_down",
        "runs", "a_stat", "significant")
      .orderBy("event_type")
  }

  def friedman(spark: SparkSession, dir: String): DataFrame =
    friedmanOf(Tables(spark, dir, "orders").select(
      expr("substring(CAST(o_orderdate AS STRING), 1, 7)").as("block"),
      col("o_orderpriority").as("treatment"),
      expr("""CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100
        | AS BIGINT)""".stripMargin).as("v")))

  /** Graded q256: FRIEDMAN TEST (Friedman, JASA 1937) — the BLOCKED
    * rank test the suite was missing: q213's Kruskal–Wallis pools all
    * observations into one ranking, so a strong month effect drowns a
    * real priority effect; Friedman ranks the k priorities WITHIN each
    * month block and asks whether any priority consistently out-ranks
    * the others across blocks — the repeated-measures ANOVA of the
    * rank world. Cells are per-(month, priority) revenue totals;
    * only COMPLETE blocks (all k treatments present) enter, with the
    * dropped count reported honestly beside the kept one.
    *
    * Integer determinism: within-block doubled midranks (the shared
    * q212 engine, so within-block revenue ties get the standard
    * average rank), and with doubled rank sums S₂ⱼ the tie-general
    * statistic is EXACTLY rational:
    * χ²_F = (k−1)·Σⱼ(S₂ⱼ − n(k+1))² div (Σᵢⱼ mr2² − n·k·(k+1)²)
    * (both quarter factors cancel), emitted in micro units against
    * χ²(k−1) from the shared `Chi2Crit95Ppm` table. All-tied blocks
    * alone (zero denominator) surface a NULL verdict.
    *
    * Scale shape: one map-side-combinable collapse to |months|·k
    * cells; everything after is cell-bounded — block windows of width
    * k, a k-row treatment table, single-row moments broadcast back.
    */
  /** Shared q256/q259 stage: per-(block, treatment) cells, COMPLETE
    * blocks only, within-block doubled midranks — persisted, columns
    * (block, treatment, v, k, n_blocks_total, mr2).
    */
  private def blockedRanked(obs: DataFrame): DataFrame = {
    val cells = CachedStages.model(obs
      .groupBy(col("block"), col("treatment"))
      .agg(sum(col("v")).as("v")))
    val kRow = broadcast(cells
      .agg(countDistinct(col("treatment")).as("k"),
        countDistinct(col("block")).as("n_blocks_total")))
    val complete = CachedStages.model(cells.crossJoin(kRow)
      .withColumn("nt",
        count(lit(1)).over(Window.partitionBy("block")))
      .filter(col("nt") === col("k"))
      .select("block", "treatment", "v", "k", "n_blocks_total"))
    val h = complete.groupBy(col("block"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val wv = Window.partitionBy("block").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mr = h.withColumn("cum", sum(col("cnt")).over(wv))
      .select(col("block"), col("v"),
        expr("2 * (cum - cnt) + cnt + 1").as("mr2"))
    CachedStages.model(complete.join(mr, Seq("block", "v")))
  }

  def friedmanOf(obs: DataFrame): DataFrame = {
    val ranked = blockedRanked(obs)
    val perT = ranked.groupBy("treatment")
      .agg(count(lit(1)).as("n_blocks"), sum(col("mr2")).as("s2"),
        max(col("k")).as("k"), max(col("n_blocks_total"))
          .as("n_blocks_total"))
    val glob = broadcast(ranked.agg(
      sum(expr("CAST(mr2 AS DECIMAL(38, 0)) * mr2")).as("sum_sq")))
    val moments = broadcast(perT.crossJoin(glob)
      .withColumn("dev", expr(
        "CAST(s2 - n_blocks * (k + 1) AS DECIMAL(38, 0))"))
      .agg(max(col("k")).as("k"), max(col("n_blocks")).as("n"),
        sum(expr("dev * dev")).as("dev_sq"),
        max(col("sum_sq")).as("sum_sq"))
      .withColumn("den", expr(
        "sum_sq - CAST(n AS DECIMAL(38, 0)) * k * (k + 1) * (k + 1)"))
      .withColumn("stat_micro", expr(
        """CAST((k - 1) * dev_sq * 1000000 div nullif(den, 0)
          | AS BIGINT)""".stripMargin))
      .withColumn("crit_micro", expr(
        s"""CAST(try_element_at(
           |  array(${Events.Chi2Crit95Ppm.mkString(",")}),
           |  CAST(k - 1 AS INT)) AS BIGINT)""".stripMargin))
      .select("stat_micro", "crit_micro"))
    perT.crossJoin(moments)
      .withColumn("mean_rank_milli", expr("s2 * 1000 div (2 * n_blocks)"))
      .withColumn("df_chi2", expr("k - 1"))
      .withColumn("significant", expr(
        """CASE WHEN stat_micro IS NULL OR crit_micro IS NULL
          |       THEN CAST(NULL AS BIGINT)
          |     WHEN stat_micro > crit_micro THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select(col("treatment"), col("n_blocks"), col("n_blocks_total"),
        expr("CAST(s2 AS BIGINT)").as("rank_sum2"),
        col("mean_rank_milli"), col("df_chi2"), col("stat_micro"),
        col("crit_micro"), col("significant"))
      .orderBy("treatment")
  }

  def cliffsDelta(spark: SparkSession, dir: String,
      grpA: String = "1-URGENT", grpB: String = "5-LOW"): DataFrame =
    cliffsDeltaOf(Tables(spark, dir, "orders")
      .filter(col("o_orderpriority").isin(grpA, grpB))
      .select(col("o_orderpriority").as("g"),
        expr("""CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100
          | AS BIGINT) div 100""".stripMargin).as("v")),
      grpA, grpB)

  /** Graded q260: CLIFF'S DELTA (Cliff, Psych. Bull. 1993) — the
    * EFFECT SIZE q212's verdict is missing: at these n every real
    * difference is "significant", so the decision-relevant number is
    * HOW OFTEN a random urgent order out-prices a random low one:
    * δ = P(X>Y) − P(X<Y), identical to the rank-biserial correlation
    * 2U/(n₁n₂) − 1. δ is exactly rational from the SAME whole-dollar
    * value-domain histograms q212 ranks over: on the merged domain,
    * gt = Σᵥ cA(v)·cumB(<v), lt and ties likewise — three integer
    * sums, one window over the PRICE RANGE (the q128/q212
    * discipline, bounded by the domain, never the row count). The
    * magnitude bands are Romano et al. (2006)'s standard thresholds
    * |δ| < .147 negligible / < .33 small / < .474 medium / else
    * large — pinned ppm constants shared with the oracle.
    */
  def cliffsDeltaOf(df: DataFrame, grpA: String,
      grpB: String): DataFrame = {
    val hist = CachedStages.model(df.groupBy(col("v"))
      .agg(sum(when(col("g") === grpA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === grpB, 1L).otherwise(0L)).as("cb")))
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = broadcast(hist.agg(sum(col("ca")).as("n_a"),
      sum(col("cb")).as("n_b")))
    hist
      .withColumn("cum_cb", sum(col("cb")).over(wv))
      .crossJoin(tot)
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(expr("CAST(ca AS DECIMAL(38, 0)) * (cum_cb - cb)"))
          .as("gtS"),
        sum(expr("CAST(ca AS DECIMAL(38, 0)) * (n_b - cum_cb)"))
          .as("ltS"),
        sum(expr("CAST(ca AS DECIMAL(38, 0)) * cb")).as("tieS"))
      .select(lit(grpA).as("grp_a"), lit(grpB).as("grp_b"),
        col("n_a"), col("n_b"),
        expr("CAST(gtS AS BIGINT)").as("n_gt"),
        expr("CAST(ltS AS BIGINT)").as("n_lt"),
        expr("CAST(tieS AS BIGINT)").as("n_tie"),
        expr("""CAST((gtS - ltS) * 1000000
          | div nullif(CAST(n_a AS DECIMAL(38, 0)) * n_b, 0)
          | AS BIGINT)""".stripMargin).as("delta_ppm"))
      .withColumn("magnitude", expr(
        """CASE WHEN delta_ppm IS NULL THEN NULL
          |     WHEN abs(delta_ppm) < 147000 THEN 'negligible'
          |     WHEN abs(delta_ppm) < 330000 THEN 'small'
          |     WHEN abs(delta_ppm) < 474000 THEN 'medium'
          |     ELSE 'large' END""".stripMargin))
  }

  def pageTrend(spark: SparkSession, dir: String): DataFrame =
    pageTrendOf(Tables(spark, dir, "orders").select(
      expr("substring(CAST(o_orderdate AS STRING), 1, 7)").as("block"),
      col("o_orderpriority").as("treatment"),
      expr("""CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100
        | AS BIGINT)""".stripMargin).as("v")))

  /** Graded q259: PAGE'S TREND TEST (Page, JASA 1963) — the ORDERED
    * alternative q256 cannot see: Friedman asks "do the priorities
    * differ at all"; Page asks "does revenue rank MONOTONICALLY along
    * the priority order" (1-URGENT < … < 5-LOW, the natural sort of
    * the TPC-H labels) — strictly more powerful when the alternative
    * really is ordered, the reason it's the standard follow-up. Same
    * blocked doubled-midrank stage as q256 (complete blocks, within-
    * block midranks); the statistic is L = Σⱼ cⱼ·Rⱼ with cⱼ the 1..k
    * treatment position, kept doubled (L₂ = 2L) so everything stays
    * integer.
    *
    * Verdict arithmetic, exactly rational: E[4L] = n·k·(k+1)², and
    * with permutation variance Var[L] = n·k²·(k²−1)·(k+1)/144 the
    * squared normal deviate is z² = 9·(2L₂ − nk(k+1)²)² /
    * (n·k²·(k²−1)·(k+1)) — micro units against χ²(1) from the shared
    * table (the classic tie-naive variance; midranks only make it
    * conservative). `trend_sign` says which direction won: +1 means
    * later-ordered treatments (lower priorities) carry HIGHER ranks.
    *
    * Scale shape: identical to q256 — one cell collapse, block-width
    * windows, a k-row treatment table, broadcast moments.
    */
  def pageTrendOf(obs: DataFrame): DataFrame = {
    val ranked = blockedRanked(obs)
    val perT = ranked.groupBy("treatment")
      .agg(count(lit(1)).as("n_blocks"), sum(col("mr2")).as("s2"),
        max(col("k")).as("k"), max(col("n_blocks_total"))
          .as("n_blocks_total"))
      .withColumn("c_pos", row_number().over(
        Window.orderBy(col("treatment").asc)).cast("long"))
    val moments = broadcast(perT
      .agg(max(col("k")).as("k"), max(col("n_blocks")).as("n"),
        sum(expr("CAST(c_pos AS DECIMAL(38, 0)) * s2")).as("l2"))
      .withColumn("dev", expr(
        "2 * l2 - CAST(n AS DECIMAL(38, 0)) * k * (k + 1) * (k + 1)"))
      .withColumn("den", expr(
        """CAST(n AS DECIMAL(38, 0)) * k * k * (k * k - 1)
          | * (k + 1)""".stripMargin))
      .withColumn("trend_sign", expr(
        """CASE WHEN dev > 0 THEN CAST(1 AS BIGINT)
          |     WHEN dev < 0 THEN CAST(-1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .withColumn("z2_micro", expr(
        "CAST(9 * dev * dev * 1000000 div nullif(den, 0) AS BIGINT)"))
      .withColumn("crit_micro",
        lit(Events.Chi2Crit95Ppm.head))
      .withColumn("significant", expr(
        """CASE WHEN z2_micro IS NULL THEN CAST(NULL AS BIGINT)
          |     WHEN z2_micro > crit_micro THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select(expr("CAST(l2 AS BIGINT)").as("l2"), col("trend_sign"),
        col("z2_micro"), col("crit_micro"), col("significant")))
    perT.crossJoin(moments)
      .select(col("treatment"), col("c_pos"), col("n_blocks"),
        col("n_blocks_total"),
        expr("CAST(s2 AS BIGINT)").as("rank_sum2"), col("l2"),
        col("trend_sign"), col("z2_micro"), col("crit_micro"),
        col("significant"))
      .orderBy("treatment")
  }

  def laggedSpearman(spark: SparkSession, dir: String,
      maxLag: Int = 3): DataFrame =
    laggedSpearmanOf(Events.events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")), maxLag)

  /** Graded q254: LAGGED RANK CROSS-CORRELATION between event-type
    * daily revenue series (the cross-series companion to q215's ACF:
    * autocorrelation asks "does a series predict ITSELF k days out",
    * this asks "does type A LEAD type B" — the lead–lag discovery
    * behind every does-browsing-predict-buying question). Per
    * unordered type pair (a < b) and lag ∈ [−maxLag, maxLag]: the
    * zero-filled daily series align as (x_d, y_{d+lag}) over the
    * overlap window, and tie-corrected Spearman ρ (Pearson on the
    * q212 engine's doubled midranks — zero-revenue days tie heavily,
    * so the midrank correction is load-bearing) reports as the q218
    * verdict tuple: sign, ρ²·10⁶, z² = ρ²·(n−1) against χ²(1) from
    * the shared `Chi2Crit95Ppm` table. Negative lags are B-leads-A,
    * so one (a, b) row family covers both directions. `is_peak`
    * flags each pair's strongest lag under the fully pinned
    * (ρ²_ppm DESC NULLS LAST, lag ASC) order.
    *
    * Integer determinism (q218's recipe, per group): value-domain
    * histograms per (pair, lag) give doubled midranks; rank means
    * floor ONCE to milli; centered products run in DECIMAL(38);
    * moment sums floor by n; ρ² by HUGEINT-style cross-
    * multiplication. Constant series (zero rank variance) surface
    * NULL ρ² and sign 0, honestly.
    *
    * Scale shape: the stream collapses ONCE to the (type, day) daily
    * matrix (map-side combinable), densifies against the broadcast
    * calendar, and everything after is CALENDAR-BOUNDED — the grid
    * is |pairs|·|lags|·|days| rows regardless of corpus size, built
    * by two day-keyed equi-joins of the persisted dense matrix (the
    * lag enters through the join key, never a per-row filter scan);
    * midrank windows partition by (pair, lag) over per-group value
    * domains; the peak flag is a |pairs|-bounded window.
    */
  def laggedSpearmanOf(daily: DataFrame, maxLag: Int = 3): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("mn"),
      max(col("day")).as("mx"))
    val calendar = bounds.select(explode(expr("sequence(mn, mx)"))
      .as("day"))
    val dense = CachedStages.model(daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents")))
    val types = dense.select(col("event_type")).distinct()
    val lags = daily.sparkSession.range(-maxLag, maxLag + 1)
      .select(col("id").as("lag"))
    // every factor of the |pairs|·|lags| grid seed is explicitly
    // broadcast: without the inner hints Spark plans the non-equi
    // ta < tb join and the lag cross as CartesianProduct — left×right
    // PARTITIONS of tasks (~32² each) for a frame of a few dozen rows,
    // which both slowed q254 ~2× and made it the widest-variance query
    // in the bench (the round-14 min-of-3 candidate)
    val pairsLags = broadcast(types.select(col("event_type").as("ta"))
      .join(broadcast(types.select(col("event_type").as("tb"))),
        col("ta") < col("tb"))
      .crossJoin(broadcast(lags)))
    // the lag enters through the day-key equi-join: y reads b's
    // series at day + lag; the inner join against the shared dense
    // calendar IS the overlap window
    val grid = CachedStages.model(pairsLags
      .join(dense.select(col("event_type").as("ta"), col("day"),
        col("cents").as("x")), Seq("ta"))
      .withColumn("yday", col("day") + col("lag"))
      .join(dense.select(col("event_type").as("tb"),
        col("day").as("yday"), col("cents").as("y")),
        Seq("tb", "yday"))
      .select("ta", "tb", "lag", "day", "x", "y"))
    def midranks(cName: String, out: String) = {
      val w = Window.partitionBy("ta", "tb", "lag").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.groupBy(col("ta"), col("tb"), col("lag"),
        col(cName).as("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(w))
        .select(col("ta"), col("tb"), col("lag"), col("v"),
          expr("2 * (cum - cnt) + cnt + 1").as(out))
    }
    // persisted: traversed twice (rank means + centered moments) —
    // unpersisted, both midrank window+join chains executed twice
    // (round-18 DupExec sweep, 16-node subtree x2)
    val ranked = CachedStages.model(grid
      .join(midranks("x", "rx2").withColumnRenamed("v", "x"),
        Seq("ta", "tb", "lag", "x"))
      .join(midranks("y", "ry2").withColumnRenamed("v", "y"),
        Seq("ta", "tb", "lag", "y"))
      .select("ta", "tb", "lag", "rx2", "ry2"))
    val means = ranked.groupBy("ta", "tb", "lag")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(rx2 AS DECIMAL(38, 0))")).as("sx"),
        sum(expr("CAST(ry2 AS DECIMAL(38, 0))")).as("sy"))
      .withColumn("mx", expr("sx * 1000 div n"))
      .withColumn("my", expr("sy * 1000 div n"))
      .select("ta", "tb", "lag", "n", "mx", "my")
    val moments = ranked.join(broadcast(means), Seq("ta", "tb", "lag"))
      .select(col("ta"), col("tb"), col("lag"), col("n"),
        expr("rx2 * 1000 - mx").as("dx"),
        expr("ry2 * 1000 - my").as("dy"))
      .groupBy("ta", "tb", "lag")
      .agg(max(col("n")).as("n"),
        sum(expr("CAST(dx AS DECIMAL(38, 0)) * dy")).as("covS"),
        sum(expr("CAST(dx AS DECIMAL(38, 0)) * dx")).as("vxS"),
        sum(expr("CAST(dy AS DECIMAL(38, 0)) * dy")).as("vyS"))
      .withColumn("covM", expr("covS div n"))
      .withColumn("vxM", expr("vxS div n"))
      .withColumn("vyM", expr("vyS div n"))
      .withColumn("rho_sign", expr(
        """CASE WHEN covM > 0 THEN CAST(1 AS BIGINT)
          |     WHEN covM < 0 THEN CAST(-1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .withColumn("rho2_ppm", expr(
        """CAST(CAST(covM AS DECIMAL(38, 0)) * covM * 1000000
          | div nullif(CAST(vxM AS DECIMAL(38, 0)) * vyM, 0)
          | AS BIGINT)""".stripMargin))
      .withColumn("z2_micro", expr("rho2_ppm * (n - 1)"))
      .withColumn("significant", expr(
        s"""CASE WHEN z2_micro IS NULL THEN CAST(NULL AS BIGINT)
           |     WHEN z2_micro > ${Events.Chi2Crit95Ppm.head}
           |       THEN CAST(1 AS BIGINT)
           |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
    val wPeak = Window.partitionBy("ta", "tb")
      .orderBy(expr("coalesce(rho2_ppm, -1)").desc, col("lag").asc)
    moments
      .withColumn("is_peak",
        when(row_number().over(wPeak) === 1, lit(1L))
          .otherwise(lit(0L)))
      .select("ta", "tb", "lag", "n", "rho_sign", "rho2_ppm",
        "z2_micro", "significant", "is_peak")
      .orderBy("ta", "tb", "lag")
  }
}

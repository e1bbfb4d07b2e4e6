package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANALYZE-style catalog statistics — the per-column profile a
  * cost-based optimizer (and every data catalog) consumes: row counts,
  * null counts, and distinct-value cardinality. NDV is where the
  * engineering lives at 100 TB: an exact count-distinct per column is
  * a full shuffle per column, so production stats collectors (Spark's
  * own ANALYZE TABLE, Trino's stats, Iceberg/Delta file stats) carry
  * an HLL estimate instead. This operator computes BOTH — the exact
  * column doubles as the verification the graded report needs — using
  * q110's engine-portable md5-register HLL so the estimate itself
  * hash-matches DuckDB bit for bit.
  */
object Stats {

  /** HLL geometry shared with the oracle: m registers over a 40-bit
    * md5-prefix hash, Flajolet α as per-mille (the q110 constants).
    */
  val M = 64
  val AlphaPerMille = 709L

  /** Graded q150: column statistics for a fixed (table, column) list
    * spanning the star schema's join keys and the corpus dimensions —
    * exactly the columns whose NDV a join planner needs.
    *
    * Scale shape: each table is scanned ONCE — its stat columns melt
    * through `stack` into a persisted (column, value-as-string) long
    * table, and every downstream branch (basic counts, exact NDV, HLL
    * registers) re-aggregates that cache. The register path is the
    * scale path: a map-side-combined max-aggregate bounded at
    * m·|columns| rows with NO expand and NO distinct; the exact-NDV
    * branch is the verification column a production run drops, as in
    * q110. Estimates join back by broadcast (|columns| rows).
    */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val specs = Seq(
      "documents" -> Seq("source", "lang"),
      "events" -> Seq("user_id", "event_type"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"))
    specs.map { case (t, cols) =>
      tableColumnStats(Tables(spark, dir, t), t, cols)
    }.reduce(_ unionByName _)
      .orderBy("table_name", "column_name")
  }

  /** The portable NDV sketch over a `(column_name, val)` long frame:
    * md5-register HLL → one `ndv_hll` row per column. Shared by the
    * q150 stats collector and q153's join estimator.
    */
  def ndvSketch(melted: DataFrame): DataFrame = {
    val restBits = 40 - Integer.numberOfTrailingZeros(M)
    val kMax = restBits + 1
    val numerator = AlphaPerMille * M.toLong * M.toLong * (1L << kMax)
    melted.filter(col("val").isNotNull)
      .select(col("column_name"), expr(
        "CAST(conv(substring(md5(concat('hll:', val)), 1, 10), 16, 10)" +
          " AS BIGINT)").as("h"))
      .select(col("column_name"), (col("h") % M).as("idx"),
        expr(s"CASE WHEN h div $M = 0 THEN $kMax " +
          s"ELSE $kMax - length(bin(h div $M)) END").as("rho"))
      .groupBy("column_name", "idx").agg(max(col("rho")).as("mj"))
      .groupBy("column_name")
      .agg(count(lit(1)).as("n_present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $kMax - mj)"))
          .as("s_present"))
      .select(col("column_name"), expr(
        s"$numerator div (1000 * (s_present + " +
          s"(${M.toLong} - n_present) * ${1L << kMax}))").as("ndv_hll"))
  }

  /** One table's stats: melt the stat columns into long format (one
    * scan), then count/NDV/sketch per column off the cache.
    */
  def tableColumnStats(df: DataFrame, table: String,
      cols: Seq[String]): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', CAST($c AS STRING)")
      .mkString(", ")
    // round-robin spread BEFORE the melt (round 21, guide §2.5 — the
    // q210/q227 single-file-scan discipline): the sub-split parquet
    // file floors the scan at ~3 tasks, and the melt multiplies each
    // row by |cols| and then pays an md5 per value in the HLL branch —
    // StageProf showed the lineitem fill as a ~2 s 3-task stage with
    // all CPU on one task. The exchange moves the raw scan rows once
    // (cheap); the |cols|× melt and the per-value hashing then run at
    // session parallelism.
    val melted = CachedStages.data(df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(expr(s"stack(${cols.size}, $stackArgs) AS (column_name, val)")))
    val est = ndvSketch(melted)
    melted.groupBy("column_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col("val")).as("ndv_exact"))
      .join(broadcast(est), Seq("column_name"))
      .select(lit(table).as("table_name"), col("column_name"),
        col("n_rows"), col("n_nulls"), col("ndv_exact"), col("ndv_hll"),
        expr("abs(ndv_hll - ndv_exact) * 1000000 div ndv_exact")
          .as("err_ppm"))
  }

  /** Graded q153: JOIN-CARDINALITY ESTIMATION vs truth — the planner
    * arithmetic itself under test. Every cost-based optimizer sizes an
    * equi-join with the containment/uniformity estimate
    * `|L ⋈ R| ≈ |L|·|R| / max(ndv_L, ndv_R)` (Selinger et al., SIGMOD
    * 1979) over exactly the catalog stats q150 collects; this operator
    * runs that formula with the PORTABLE-HLL NDVs on the star schema's
    * three foreign-key joins and reports it against the measured join
    * size — the error column is the planner's real-world risk, made a
    * graded, regression-tracked artifact.
    *
    * Scale shape: per join, the estimate branch touches only row
    * counts and the m-register sketches (map-side-combined, no
    * distinct); the actual-count branch is the expensive verification
    * column a production run drops — and it is the JOIN ITSELF, so
    * the report costs what one real join costs, no more. All five
    * inputs are 1-row frames crossed by broadcast; the product
    * `|L|·|R|` routes through DECIMAL(38).
    */
  /** q270's pinned cost-model constants: Spark's default
    * `autoBroadcastJoinThreshold` and the executor count the
    * broadcast fan-out multiplies by (local[32] stands in for the
    * cluster; the MODEL is the graded artifact, and both constants
    * are shared with the oracle so they cannot drift).
    */
  val BroadcastThresholdBytes: Long = 10485760L
  val AdvisorExecutors: Long = 32L

  /** Graded q270: JOIN STRATEGY ADVISOR — the decision Spark's
    * planner makes from size ESTIMATES, made from EXACT measured
    * bytes and laid out as a table: for each canonical join, both
    * sides' measured in-row bytes (pinned width model: fixed-width
    * column = 8, string = length + 4 — the row-oriented shuffle wire
    * shape), the bytes each physical strategy MOVES (shuffle = both
    * sides; broadcast = build side × executors, feasible only under
    * the pinned 10 MiB threshold), the chosen strategy, and the
    * repeated-join economics of bucketing: the one-time layout cost
    * (a full both-sides shuffle) amortizes after
    * ceil(layout ÷ chosen-per-run) runs — the number that decides
    * whether to bucket a fact table. This is the q153/q150 stats
    * family turned into the actual planning artifact: q153 estimates
    * output ROWS; this prices the MOVEMENT, which is what dies first
    * at 100 TB.
    *
    * Scale shape: one projection scan per table (length sums are
    * map-side combinable), single-row aggregates broadcast together;
    * the report is |joins| rows. Nothing rescans.
    */
  def joinAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.StringType
    def bytesOf(t: String): DataFrame = {
      val df = Tables(spark, dir, t)
      val width = df.schema.fields.map { f =>
        f.dataType match {
          case StringType =>
            coalesce(length(col(f.name)).cast("long"), lit(0L)) + lit(4L)
          case _ => lit(8L)
        }
      }.reduce(_ + _)
      df.agg(count(lit(1)).as("n"), sum(width).as("bytes"))
    }
    val joins = Seq(
      ("customer_orders", "customer", "orders"),
      ("orders_lineitem", "orders", "lineitem"),
      ("part_lineitem", "part", "lineitem"))
    // one single-row stat per table, persisted ONLY when the table
    // feeds >= 2 joins (orders/lineitem) — customer/part are read once
    // and their persists were pure fill+memory overhead (r18 DupExec
    // single-reader report, fixed round-19)
    val uses = joins.flatMap(j => Seq(j._2, j._3))
      .groupBy(identity).map { case (t, g) => t -> g.size }
    val stats = uses.keys.toSeq
      .map { t =>
        val df = bytesOf(t)
        t -> (if (uses(t) >= 2) CachedStages.data(df) else df)
      }.toMap
    joins.map { case (name, lt, rt) =>
      stats(lt).select(col("n").as("n_left"),
          col("bytes").as("bytes_left"))
        .crossJoin(broadcast(stats(rt).select(col("n").as("n_right"),
          col("bytes").as("bytes_right"))))
        .select(lit(name).as("join_name"), col("n_left"),
          col("n_right"), col("bytes_left"), col("bytes_right"))
    }.reduce(_.unionByName(_))
      .withColumn("build_bytes", least(col("bytes_left"),
        col("bytes_right")))
      .withColumn("shuffle_moved", expr("bytes_left + bytes_right"))
      .withColumn("broadcast_moved", expr(
        s"""IF(build_bytes <= $BroadcastThresholdBytes,
           | build_bytes * $AdvisorExecutors,
           | CAST(NULL AS BIGINT))""".stripMargin))
      .withColumn("chosen", expr(
        """IF(broadcast_moved IS NOT NULL
          |   AND broadcast_moved < shuffle_moved,
          | 'broadcast', 'shuffle')""".stripMargin))
      .withColumn("chosen_moved", expr(
        "IF(chosen = 'broadcast', broadcast_moved, shuffle_moved)"))
      .withColumn("bucket_layout_bytes", col("shuffle_moved"))
      .withColumn("bucket_amortize_runs", expr(
        """(bucket_layout_bytes + chosen_moved - 1)
          | div chosen_moved""".stripMargin))
      .orderBy("join_name")
  }

  def joinEstimates(spark: SparkSession, dir: String): DataFrame = {
    val joins = Seq(
      ("customer_orders", ("customer", "c_custkey"), ("orders", "o_custkey")),
      ("orders_lineitem", ("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
      ("part_lineitem", ("part", "p_partkey"), ("lineitem", "l_partkey")))
    joins.map { case (name, (lt, lc), (rt, rc)) =>
      val l = Tables(spark, dir, lt)
      val r = Tables(spark, dir, rt)
      def ndv(df: DataFrame, c: String, out: String) =
        // NOT spread before the sketch (round 21 A/B): one md5 per row
        // doesn't amortize the round-robin exchange's local sort —
        // measured 1.25-1.55 s as-is vs 1.9-2.1 s spread at sf0.1
        // (q150's melt spreads because it pays |cols| hashes per row)
        ndvSketch(df.select(lit(c).as("column_name"),
          col(c).cast("string").as("val")))
          .select(col("ndv_hll").as(out))
      val actual = l.select(col(lc).as("k"))
        .join(r.select(col(rc).as("k")), Seq("k"))
        .agg(count(lit(1)).as("actual_rows"))
      l.agg(count(lit(1)).as("n_left"))
        .crossJoin(broadcast(r.agg(count(lit(1)).as("n_right"))))
        .crossJoin(broadcast(ndv(l, lc, "ndv_left")))
        .crossJoin(broadcast(ndv(r, rc, "ndv_right")))
        .crossJoin(broadcast(actual))
        .select(lit(name).as("join_name"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"),
          expr("""CAST(CAST(n_left AS DECIMAL(38, 0)) * n_right
            | div greatest(ndv_left, ndv_right) AS BIGINT)""".stripMargin)
            .as("est_rows"),
          col("actual_rows"))
        .withColumn("err_ppm", expr(
          "abs(est_rows - actual_rows) * 1000000 div actual_rows"))
    }.reduce(_ unionByName _).orderBy("join_name")
  }

  /** The numeric columns the histogram/selectivity pair profiles —
    * each with ≤2 decimals, so cents quantization is lossless.
    */
  val HistogramColumns: Seq[(String, String)] = Seq(
    ("events", "value"),
    ("lineitem", "l_quantity"),
    ("orders", "o_totalprice"))

  def equidepthHistograms(spark: SparkSession, dir: String,
      buckets: Int = 8): DataFrame =
    HistogramColumns.map { case (t, c) =>
      equidepthOf(Tables(spark, dir, t), t, c, buckets)
    }.reduce(_ unionByName _)
      .orderBy("table_name", "column_name", "bucket")

  /** Graded q159: EQUI-DEPTH HISTOGRAM construction — the third
    * catalog artifact of the CBO family (q150 counts/NDVs, q153 join
    * sizes, this one range selectivity): per column, `buckets`
    * boundaries at the exact ceil-rank positions `⌈n·i/B⌉`, each
    * bucket carrying its (lo, hi] value range and its EXACT row
    * count. Equi-depth (not equi-width) is what every production
    * optimizer builds, because real value distributions are skewed
    * and equal-width buckets put all the resolution where no rows
    * are. Ties land whole — a heavy value never splits across
    * buckets, so counts deviate from n/B exactly where duplication
    * forces them to (the honest histogram).
    *
    * Scale shape: one scan per column collapses into the persisted
    * cents value-domain histogram (the q53/q128/q145 discipline);
    * boundaries are conditional-min picks over the cumulative frame;
    * bucket counts re-read the same cached histogram against the
    * ≤ B-row broadcast boundary table. No sort of the data, ever.
    */
  def equidepthOf(df: DataFrame, table: String, column: String,
      buckets: Int): DataFrame = {
    val hist = CachedStages.model(df
      .select(expr(s"CAST(CAST($column AS DECIMAL(12, 2)) * 100 AS BIGINT)")
        .as("cents"))
      .groupBy("cents").agg(count(lit(1)).as("cnt")))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("cents").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = hist.agg(sum(col("cnt")).as("n"),
      (min(col("cents")) - 1).as("floor_lo"))
    // persisted: traversed twice (boundary picks + bucket counts) —
    // unpersisted, the cumulative window over the histogram ran twice
    // (round-18 DupExec sweep); value-domain bounded
    val cum = CachedStages.model(hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(tot)))
    val picks = (1 to buckets).map(i =>
      min(when(expr(s"cum * $buckets >= n * $i"), col("cents")))
        .as(s"h$i"))
    val bounds = cum.agg(picks.head, picks.tail: _*)
      .select(expr(s"stack($buckets, " +
        (1 to buckets).map(i => s"CAST($i AS BIGINT), h$i").mkString(", ") +
        ") AS (bucket, hi)"))
    val wb = org.apache.spark.sql.expressions.Window.orderBy(col("bucket").asc)
    // bucket 1's exclusive lower bound is (min - 1), so every bucket is
    // a closed-span (lo, hi] range — no NULL edges for the selectivity
    // estimator (q160) to special-case
    // persisted: traversed twice (bucket counts + the final left join)
    // — unpersisted, the stack + lag window and everything above it
    // executed twice (round-18 DupExec sweep, 22-node subtree x2 per
    // column); <= `buckets` rows
    val ranges = CachedStages.model(bounds
      .crossJoin(broadcast(tot.select(col("floor_lo"))))
      .withColumn("lo", coalesce(lag(col("hi"), 1).over(wb), col("floor_lo")))
      .select(col("bucket"), col("lo"), col("hi")))
    val counts = cum.crossJoin(broadcast(ranges))
      .filter(col("cents") > col("lo") && col("cents") <= col("hi"))
      .groupBy("bucket")
      .agg(sum(col("cnt")).as("n_rows"))
    // left join + 0-fill: a tie boundary (one value heavier than n/B)
    // collapses a bucket to zero span — it must still appear, empty
    ranges.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_rows"))
      .select(lit(table).as("table_name"), lit(column).as("column_name"),
        col("bucket"), col("lo"), col("hi"), col("n_rows"))
  }

  /** The fixed audit predicates q160 grades, as closed cents ranges
    * `[lo, hi]` (None = that side unbounded) — one per histogram
    * column, chosen to cover a tail, a head, and a mid-band.
    */
  val AuditPredicates: Seq[(String, String, String, Option[Long], Option[Long])] =
    Seq(
      ("events_value_ge_100", "events", "value", Some(10000L), None),
      ("lineitem_qty_le_25", "lineitem", "l_quantity", None, Some(2500L)),
      ("orders_total_50k_150k", "orders", "o_totalprice",
        Some(5000000L), Some(15000000L)))

  def selectivityAudit(spark: SparkSession, dir: String,
      buckets: Int = 8): DataFrame =
    AuditPredicates.map { case (name, t, c, plo, phi) =>
      selectivityAuditOf(Tables(spark, dir, t), name, t, c, plo, phi,
        buckets)
    }.reduce(_ unionByName _).orderBy("predicate")

  /** Graded q160: RANGE-SELECTIVITY estimation audited against truth —
    * the fourth CBO artifact, consuming q159's equi-depth histogram
    * exactly the way a planner does: buckets inside the predicate
    * contribute whole, the straddling bucket contributes under the
    * uniform-within-bucket assumption (`cnt · overlap div span`, the
    * per-bucket floor summed — all integer; zero-span tie buckets hold
    * no rows and contribute 0). The error column against the measured
    * count is the histogram's real-world risk, per predicate.
    *
    * Scale shape: the estimate branch reads the CACHED value-domain
    * histogram and the ≤ B-row boundary table — no data scan; the
    * actual-count branch is the predicate itself (one scan with the
    * range pushed down), the verification column a production run
    * drops.
    */
  def selectivityAuditOf(df: DataFrame, name: String, table: String,
      column: String, plo: Option[Long], phi: Option[Long],
      buckets: Int): DataFrame = {
    val h = equidepthOf(df, table, column, buckets)
    val pl = plo.getOrElse(Long.MinValue / 4)
    val ph = phi.getOrElse(Long.MaxValue / 4)
    val est = h.agg(sum(expr(
      s"""CASE WHEN hi > lo THEN
         |  CAST(n_rows AS DECIMAL(38, 0))
         |    * greatest(0L, least(hi, ${ph}L) - greatest(lo, ${pl}L - 1))
         |    div (hi - lo)
         |ELSE 0 END""".stripMargin)).cast("long").as("est_rows"))
    val actual = df
      .select(expr(s"CAST(CAST($column AS DECIMAL(12, 2)) * 100 AS BIGINT)")
        .as("cents"))
      .filter(col("cents") >= pl && col("cents") <= ph)
      .agg(count(lit(1)).as("actual_rows"))
    est.crossJoin(broadcast(actual))
      .select(lit(name).as("predicate"), col("est_rows"),
        col("actual_rows"),
        expr("abs(est_rows - actual_rows) * 1000000 div actual_rows")
          .as("err_ppm"))
  }
}

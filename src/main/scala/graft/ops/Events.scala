package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Time-series operators over the `events` table (batch analogues of the
  * Structured Streaming shapes — tumbling windows, sessionization). The
  * reference has no streaming/windowing surface at all (SURVEY.md §2.9);
  * these fill that slot for the driver's north-star brief.
  *
  * Timestamp adaptivity: the `ts` column has shipped in two physical
  * shapes — parquet TIMESTAMP(NANOS) (readable only as a raw-nanos long
  * via `spark.sql.legacy.parquet.nanosAsLong`, set in the Verify, Bench
  * and SparkSpec session builders) and plain timestamp[us] (read as
  * TIMESTAMP_NTZ). The reader branches on
  * the observed type and derives the same canonical columns either way,
  * so every downstream operator and its DuckDB oracle see identical
  * µs-precision time regardless of which shape the files carry. Session
  * timezone is pinned UTC everywhere (Verify/Bench/SparkSpec), so
  * NTZ↔LTZ wall clocks agree.
  */
object Events {

  /** events plus canonical derived time columns, adaptive to the
    * physical type of `ts` (see [[withTimeColumns]]):
    * `ts_utc` (µs timestamp), `ts_us` (long epoch µs), `ts_sec`
    * (long floor epoch seconds).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    withTimeColumns(Tables(spark, dir, "events"))

  /** Derive `ts_utc`/`ts_us`/`ts_sec` from `ts`, branching on its type:
    * LongType = raw epoch nanos (legacy TIMESTAMP(NANOS)-as-long shape);
    * TimestampType/TimestampNTZType = native µs timestamp. Values are
    * positive (2024+), so integer `div` floor == truncation in both
    * branches.
    */
  def withTimeColumns(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType =>
      raw
        .withColumn("ts_utc", expr("timestamp_micros(ts div 1000)"))
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ts_sec", expr("ts div 1000000000"))
    case TimestampNTZType | TimestampType =>
      raw
        .withColumn("ts_utc", col("ts").cast("timestamp"))
        .withColumn("ts_us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
        .withColumn("ts_sec",
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000"))
    case other => throw new IllegalArgumentException(
      s"unsupported events.ts type: $other (expected LONG or TIMESTAMP)")
  }

  /** µs-floor epoch expression for any frame carrying a raw `ts` column
    * in either physical shape — the single place Cdc/PIT consumers get
    * their interval bounds from, so both shapes order identically.
    */
  def tsMicros(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case _ => expr("unix_micros(CAST(ts AS TIMESTAMP))")
  }

  /** Floor-second epoch expression for any frame with a raw `ts` column. */
  def tsSeconds(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000000000")
    case _ => expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000")
  }

  /** Tumbling 1-hour window counts per event type — the batch shape of
    * `groupBy(window($"ts", "1 hour"), $"event_type")`. date_trunc is used
    * rather than window() so the grouping key is a plain timestamp the
    * oracle can reproduce; the plan is identical (one shuffle on the
    * grouping key, map-side partial aggregation).
    */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .groupBy(
        // NTZ output: parquet then stores a tz-naive timestamp[us], the
        // exact arrow type the DuckDB oracle emits — no tz annotation
        // for the driver's type-sensitive hash to trip on. Session tz is
        // UTC, so the wall-clock value is unchanged.
        date_trunc("hour", col("ts_utc")).cast("timestamp_ntz").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        moneySum(col("value")).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Sessionization via lag: a new session starts after a >30-minute gap
    * in a user's event stream. One shuffle on user_id; the per-user window
    * sort is the same work mapGroupsWithState would do per key in the
    * streaming formulation.
    */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_sec").isNotNull &&
          col("ts_sec") - col("prev_sec") > 1800, 1).otherwise(0))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        (sum(col("new_session")) + 1).as("n_sessions"),
        moneySum(col("value")).as("sum_value"))
      .orderBy("user_id")
  }

  /** As-of join: each purchase event picks up the latest prior (or
    * simultaneous) view event of the same user, at microsecond precision
    * (both engines read this parquet's nanos truncated to µs). The gap is
    * integer µs-floor seconds; null when the user never viewed before
    * buying. Cross-validated against DuckDB's native ASOF JOIN.
    */
  def purchaseViewAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts_us")
    AsOf.backward(purchases, views, Seq("user_id"), "ts_us", Nil)
      .withColumn("gap_sec", expr("(ts_us - matched_time) div 1000000"))
      .select("event_id", "user_id", "gap_sec")
      .orderBy("event_id")
  }

  /** CUBE over (event_type, hour-of-day) with grouping_id: all four
    * aggregation granularities in one expand+shuffle pass.
    */
  def cubeEventTypeHour(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"), hour(col("ts_utc")).cast("long").as("hod"),
        col("value"))
      .cube(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"),
        grouping_id().cast("long").as("gid"))
      .transform(d => d.orderBy(d("gid").asc,
        d("event_type").asc_nulls_first, d("hod").asc_nulls_first))

  /** Pivot: daily event counts with one column per event type. The pivot
    * value list is explicit, so the output schema is static (no extra
    * distinct-values job) — the form that scales.
    */
  def dailyTypePivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      // day stays a (midnight) timestamp: DATE round-trips differently
      // through pandas on the two engines and would break the hash compare.
      // NTZ so the dumped arrow type (tz-naive timestamp[us]) matches the
      // oracle's exactly.
      .select(date_trunc("day", col("ts_utc")).cast("timestamp_ntz")
        .as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  /** Sliding windows: 1-hour windows sliding every 30 minutes via
    * Spark's window() — each event lands in exactly two windows. The
    * oracle reproduces the semantics by unioning the two aligned window
    * starts per event, cross-checking Spark's window assignment itself.
    */
  def slidingWindowCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts_utc"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n_events"))
      .orderBy("window_start", "event_type")

  /** KMV distinct sketch per event type (custom TypedImperativeAggregate,
    * graft.functions.KmvDistinct): mergeable bounded-space distinct
    * estimation whose result is order-independent, so — unlike HLL (q26)
    * — the DuckDB oracle reproduces it exactly from the same md5-derived
    * 60-bit hashes.
    */
  def kmvDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.KmvDistinct.register(spark)
    events(spark, dir)
      .withColumn("hv", expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy("event_type")
      .agg(
        expr("kmv_distinct(hv)").as("s"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"),
        round(col("s.est_distinct"), 4).as("est_distinct"),
        col("s.kth_hash"),
        col("exact_users"))
      .orderBy("event_type")
  }

  /** Per-user `(event_type, idx, rho)` HyperLogLog observables, shared
    * by the batch sketch (q110), its streaming twin
    * (EventStreams.hllRegisterStream) and — textually — the DuckDB
    * oracle: a 40-bit hash from the first 10 hex digits of
    * `md5('hll:' || user_id)`, its low `log2(m)` bits the register
    * index, and `rho` = 1 + the count of leading zeros in the remaining
    * bits (Flajolet et al. 2007). `bin()` yields the minimal binary
    * string on both engines, so `rho = restBits + 1 - length(bin(rest))`
    * is pure integer logic — no log2, no FP.
    */
  def hllProjected(ev: DataFrame, m: Int): DataFrame = {
    require(m >= 2 && (m & (m - 1)) == 0 && m <= 4096,
      s"m must be a power of two in [2, 4096], got $m")
    val restBits = 40 - Integer.numberOfTrailingZeros(m)
    ev.select(col("event_type"), expr(
        "CAST(conv(substring(md5(concat('hll:', CAST(user_id AS STRING)))," +
          " 1, 10), 16, 10) AS BIGINT)").as("h"))
      .select(col("event_type"), (col("h") % m).as("idx"),
        expr(s"CASE WHEN h div $m = 0 THEN ${restBits + 1} " +
          s"ELSE ${restBits + 1} - length(bin(h div $m)) END").as("rho"))
  }

  /** The m-register HLL table per event type: `max(rho)` per register —
    * an idempotent, commutative, mergeable aggregate (duplicates change
    * nothing, shards/micro-batches merge by max), which is the whole
    * sketch contract. Output is bounded at `m × |event types|` rows no
    * matter the input size.
    */
  def hllRegistersOf(ev: DataFrame, m: Int): DataFrame =
    hllProjected(ev, m)
      .groupBy("event_type", "idx").agg(max(col("rho")).as("mj"))

  /** Graded q110: ENGINE-PORTABLE HyperLogLog distinct-user estimation
    * per event type. q26 already runs Spark's built-in HLL++, but its
    * sketch internals are engine-private, so its oracle can only bound
    * the estimate. This operator is the complement: the md5-derived
    * register sketch is specified down to the bit on both engines, so
    * the ESTIMATE ITSELF hash-matches DuckDB — the portability a
    * multi-engine lakehouse needs when sketch state is persisted and
    * merged across systems.
    *
    * The estimator is Flajolet's raw HLL estimate in exact integer
    * arithmetic: with `S = Σ_j 2^(Kmax − M_j)` (Kmax = restBits + 1,
    * absent registers at M=0), `E = α_m·m²·2^Kmax / S` computed as one
    * integral division `(αpm·m²·2^Kmax) div (1000·S)` — α scaled to
    * per-mille so no FP enters either engine. The report carries the
    * exact distinct count (the verification column a production run
    * would drop), the zero-register count V (what the small-range
    * linear-counting correction would key on), and the absolute error
    * in ppm.
    *
    * Scale shape: the register path is ONE map-side-combined max
    * aggregate — no distinct, no expand — with state bounded at
    * m×|types| rows forever; the exact column is a separate
    * count-distinct branch joined back by broadcast (|types| rows). At
    * 100 TB the sketch branch alone is the query; registers from
    * shards, days, or the streaming twin merge by max.
    */
  def hllDistinctUsers(spark: SparkSession, dir: String, m: Int = 64,
      alphaPerMille: Long = 709): DataFrame =
    hllDistinctUsersOf(events(spark, dir), m, alphaPerMille)

  /** Core of `hllDistinctUsers` over any `(event_type, user_id)`
    * relation.
    */
  def hllDistinctUsersOf(ev: DataFrame, m: Int,
      alphaPerMille: Long): DataFrame = {
    val restBits = 40 - Integer.numberOfTrailingZeros(m)
    val kMax = restBits + 1
    // α·m²·2^Kmax ≤ 709·2^(41 + log2 m) < 2^63 for m ≤ 4096 (the
    // hllProjected bound), so the numerator is a safe long literal.
    val numerator = alphaPerMille * m.toLong * m.toLong * (1L << kMax)
    val est = hllRegistersOf(ev, m)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $kMax - mj)")).as("s_present"))
      .select(col("event_type"),
        (lit(m.toLong) - col("n_present")).as("n_zero_regs"),
        expr(s"$numerator div (1000 * (s_present + " +
          s"(${m.toLong} - n_present) * ${1L << kMax}))").as("est_hll"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(broadcast(est), Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_zero_regs"),
        col("est_hll"),
        expr("abs(est_hll - n_exact) * 1000000 div n_exact").as("abs_err_ppm"))
      .orderBy("event_type")
  }

  /** Range join: aggregate events into 100 deterministic time windows
    * (7-hour stride, 1–5 hour lengths) via the grid-bucketed
    * point-in-interval join. The DuckDB oracle runs the NAIVE non-equi
    * range join — different algorithm, same answer — so the bucketing
    * rewrite is itself under test.
    */
  def eventsInWindows(spark: SparkSession, dir: String): DataFrame = {
    val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
    val strideUs = 25200000000L // 7 h
    val hourUs = 3600000000L
    val windows = spark.range(100).select(
      col("id").as("window_id"),
      (lit(baseUs) + col("id") * strideUs).as("start_us"),
      (lit(baseUs) + col("id") * strideUs +
        ((col("id") % 5) + 1) * hourUs).as("end_us"))
    val ev = events(spark, dir).select(col("ts_us"), col("value"))
    RangeJoin.pointInInterval(ev, broadcast(windows),
      "ts_us", "start_us", "end_us", hourUs)
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .orderBy("window_id")
  }

  /** HLL++ approximate distinct users per event type, with the exact
    * count alongside. Sketch internals differ across engines, so the raw
    * estimate itself cannot be hash-compared against DuckDB; instead the
    * query emits the PARTIAL-oracle form: the deterministic columns
    * (exact_users, n_events) hash-checked exactly, plus `approx_ok` — 1
    * iff the HLL estimate lands within 4× its configured relative
    * standard deviation of the exact count (rsd 0.05 ⇒ ±20%; HLL++ error
    * beyond 4σ would mean the sketch is broken, not noisy). The oracle
    * asserts the same literal 1, so a broken sketch turns the row red
    * while a healthy one stays hash-green.
    */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        when(abs(col("approx_users") - col("exact_users"))
          .cast("double") / col("exact_users") <= 0.2, 1L).otherwise(0L)
          .as("approx_ok"))
      .orderBy("event_type")

  /** Graded q80: distinct users per SLIDING event-time window via the
    * KMV sketch — the q33 mergeable bottom-k composed with q37's
    * overlapping windows. This is the shape exact distinct CANNOT take
    * at scale: a 1h/30m slide duplicates every event into two windows,
    * so `COUNT(DISTINCT)` would re-shuffle the raw id stream per
    * window, while the KMV buffer is a ≤k-hash partial-agg state that
    * merges across partitions AND windows (bottom-k of a union = merge
    * of bottom-ks). The struct carries the sketch verdict and the exact
    * count side by side; both are deterministic, so the oracle replays
    * the sketch bit-for-bit from the same md5-derived 60-bit hashes —
    * per window start this time.
    */
  def slidingDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.KmvDistinct.register(spark)
    events(spark, dir)
      .withColumn("hv", expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy(window(col("ts_utc"), "1 hour", "30 minutes").as("w"))
      .agg(
        expr("kmv_distinct(hv)").as("s"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        round(col("s.est_distinct"), 4).as("est_distinct"),
        col("s.kth_hash"),
        col("exact_users"))
      .orderBy("window_start")
  }

  /** Graded q72: mergeable quantile sketch with a RANK-ERROR
    * certificate. `percentile_approx` is Spark's Greenwald–Khanna
    * sketch — the single-pass, partial-agg-mergeable structure that
    * replaces q53's exact two-pass selection when 100 TB only needs a
    * p50 within ε·n ranks. The certificate is the sketch's own
    * guarantee, checked against the data rather than assumed: a second
    * conditional aggregate counts how many values sit at or below the
    * sketch's answer, and `approx_ok` = 1 iff that rank interval
    * `[#<v, #≤v]` intersects `[n/2 − εn − 1, n/2 + εn + 1]` (accuracy
    * K ⇒ ε = 1/K). The oracle asserts the literal 1 plus the exact
    * deterministic columns, so a sketch whose answer drifts beyond its
    * contracted rank error turns the row red — the q26 pattern, but
    * testing the published GK bound instead of a loose multiple.
    *
    * Scale: two aggregates over the events table (sketch build, rank
    * count) with the ≤|groups|-row sketch table broadcast between them;
    * the big side never shuffles by anything but the group key.
    */
  def approxQuantileBound(spark: SparkSession, dir: String,
      accuracy: Int = 100): DataFrame =
    approxQuantileBoundOf(events(spark, dir).select(col("event_type"),
      col("value").cast("double").as("v")), accuracy)

  /** Core of `approxQuantileBound` over any `(event_type, v)` frame. */
  def approxQuantileBoundOf(e: DataFrame, accuracy: Int): DataFrame = {
    require(accuracy >= 2, s"accuracy must be >= 2, got $accuracy")
    val sketch = e.groupBy("event_type").agg(
      percentile_approx(col("v"), lit(0.5), lit(accuracy)).as("p50"))
    val eps = 1.0 / accuracy
    e.join(broadcast(sketch), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        min("v").as("min_value"),
        max("v").as("max_value"),
        sum(when(col("v") <= col("p50"), 1L).otherwise(0L)).as("rank_le"),
        sum(when(col("v") < col("p50"), 1L).otherwise(0L)).as("rank_lt"))
      .select(col("event_type"), col("n_events"),
        col("min_value"), col("max_value"),
        when(
          col("rank_le").cast("double") >=
            col("n_events") * 0.5 - col("n_events") * eps - 1 &&
          col("rank_lt").cast("double") <=
            col("n_events") * 0.5 + col("n_events") * eps + 1,
          1L).otherwise(0L).as("approx_ok"))
      .orderBy("event_type")
  }

  /** Graded q64: ordered conversion funnel signup → view → click →
    * purchase. A stage counts only if its FIRST qualifying event falls
    * strictly after the previous stage's first qualifying event — the
    * textbook ordered-funnel semantics (an early purchase before signup
    * does not convert), computed without self-joins: four stacked
    * unbounded window aggregates over ONE user partitioning. Each
    * `min(CASE WHEN type AND ts > prev)` reads the previous stage's
    * per-user constant, so the plan is one shuffle on user_id + one
    * sort, and the window chain streams — the shape that holds when the
    * events table is the 100 TB side. Raw `ts` compares on the Spark
    * side (longs or timestamps — both orderable); the oracle compares
    * its native timestamp — monotone in the same order.
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame =
    funnelStagesOf(events(spark, dir))

  def funnelStagesOf(evs: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    def firstAfter(tpe: String, prev: Option[String]) = {
      val cond = prev match {
        case Some(p) => col("event_type") === tpe && col("ts") > col(p)
        case None => col("event_type") === tpe
      }
      min(when(cond, col("ts"))).over(w)
    }
    val staged = evs.select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1", firstAfter("signup", None))
      .withColumn("t2", firstAfter("view", Some("t1")))
      .withColumn("t3", firstAfter("click", Some("t2")))
      .withColumn("t4", firstAfter("purchase", Some("t3")))
      .withColumn("stage",
        when(col("t4").isNotNull, 4)
          .when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1)
          .otherwise(0))
      .select("user_id", "stage").distinct()
    staged.groupBy("stage")
      .agg(count(lit(1)).as("n_users"))
      .withColumn("stage_name",
        when(col("stage") === 4, "purchase")
          .when(col("stage") === 3, "click")
          .when(col("stage") === 2, "view")
          .when(col("stage") === 1, "signup")
          .otherwise("none"))
      .select("stage", "stage_name", "n_users")
      .orderBy("stage")
  }

  /** Graded q89: semi-structured property extraction — the `props` JSON
    * column parsed with a DECLARED schema (`from_json`, codegen'd; no
    * per-row schema inference, no UDF) and rolled up per event type.
    * `n_parsed` counts rows whose `k` actually materialized — corrupt or
    * schema-less JSON degrades to NULL, never to a job failure, and the
    * gap `n_events - n_parsed` is the data-quality signal. This is the
    * event-instrumentation reality at 100 TB: properties arrive as JSON
    * strings, and the engine must project them into columns scan-side
    * (one pass, partial-agg shuffle of |event_types| rows) rather than
    * ETL-ing the whole corpus into a typed table first.
    */
  def propsMetrics(spark: SparkSession, dir: String): DataFrame =
    propsMetricsOf(events(spark, dir))

  /** Core of `propsMetrics` over any frame with `event_type` and a JSON
    * `props` string column.
    */
  def propsMetricsOf(evs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    evs
      .withColumn("k",
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_parsed"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")
  }

  /** Graded q65: weekly retention cohorts. Users are bucketed by their
    * first-seen epoch week (integer `ts_sec div 604800` — identical
    * arithmetic in any engine, no calendar/timezone semantics to
    * reconcile); a cohort's week-k row counts the users active k weeks
    * after first touch. Shape: the (user, week) activity matrix is
    * distinct-ed FIRST (shrinking events to at most |users|×|weeks|
    * rows before anything wide), the cohort week rides along as one
    * unbounded window minimum per user, and the final count is a plain
    * groupBy — two compact shuffles regardless of event volume.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame =
    retentionCohortsOf(events(spark, dir))

  /** Graded q104: behavioral SESSION SEQUENCES — the bridge from the
    * events table to a training corpus. Each user session (q12's
    * 30-minute-gap rule) serializes to its ordered event-type sequence
    * — the "behavior document" a next-event/user-behavior LM trains on
    * — and the report is the top-`k` behavior vocabulary: the most
    * common session shapes with their frequencies (rank ties on the
    * sequence string, so the cut is deterministic).
    *
    * Scale shape: ONE shuffle on user_id covers both the gap-flag
    * window and the running session counter; the per-session
    * `collect_list` group reuses that partitioning (grouping keys ⊇
    * a partitioning subset — no second exchange), session rows are
    * human-bounded so no list is hot; sequence counting is one
    * partial-agg shuffle on the sequence string, and the vocabulary
    * cut is `orderBy.limit(k)` — TakeOrderedAndProject's bounded
    * per-partition heaps, never a global sort (the q100 discipline).
    */
  def sessionSequences(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame =
    sessionSequencesOf(events(spark, dir), k)

  /** Core of `sessionSequences` over any frame carrying `user_id`,
    * `event_id`, `event_type`, `ts_us`, `ts_sec`.
    */
  def sessionSequencesOf(evs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val sessions = evs
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(w))
      .withColumn("brk",
        when(col("prev_sec").isNotNull &&
          col("ts_sec") - col("prev_sec") > 1800, 1L).otherwise(0L))
      .withColumn("sess", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val seqs = sessions.groupBy("user_id", "sess")
      // sort the collected (ts_us, event_id, type) structs, not the
      // collection order: collect_list order is partition-internal and
      // NOT guaranteed stable across retries
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(ts_us, event_id, " +
          "event_type))), x -> x.event_type)"), " ").as("seq"))
    val counts = seqs.groupBy("seq").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("seq").asc).limit(k)
    counts
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("seq").asc)).cast("long"))
      .select("rank", "seq", "n_sessions")
      .orderBy("rank")
  }

  /** Graded q116: SESSION-SCOPED Markov transition matrix — for every
    * ordered `(prev_type, next_type)` pair of CONSECUTIVE events inside
    * one session (the q12/q104 30-minute-gap rule: a gap > 1800 s
    * breaks the chain, so no transition spans sessions), the count and
    * the row-normalized probability in integer ppm. This is the
    * first-order behavior model behind q104's session vocabulary: q104
    * reports which whole session shapes are common, this reports the
    * step law that generates them — the table a product-analytics or
    * behavioral-cloning pipeline reads as "after a view, 62% of
    * next-steps are a purchase".
    *
    * Scale shape: ONE user_id shuffle drives the lag window (the q104
    * discipline — ordering by (ts_us, event_id) pins tie order); the
    * transition aggregate is map-side combined down to ≤ |types|² rows
    * and PERSISTED, so the row totals re-aggregate the tiny cached
    * matrix and broadcast back — the event stream is scanned exactly
    * once (ScaleSpec pins the single scan; unpersisted, the totals
    * branch would re-run the window over the full stream).
    */
  def sessionTransitions(spark: SparkSession, dir: String): DataFrame =
    sessionTransitionsOf(events(spark, dir))

  /** Core of `sessionTransitions` over any events relation carrying
    * `(user_id, event_id, event_type, ts_us, ts_sec)`.
    */
  def sessionTransitionsOf(evs: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val trans = CachedStages.model(evs
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(w))
      .filter(col("prev_sec").isNotNull &&
        col("ts_sec") - col("prev_sec") <= 1800)
      .select(col("prev_type"), col("event_type").as("next_type"))
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n_trans")))
    val totals = trans.groupBy("prev_type")
      .agg(sum(col("n_trans")).as("n_from"))
    trans.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n_trans"),
        expr("n_trans * 1000000 div n_from").as("p_ppm"))
      .orderBy("prev_type", "next_type")
  }

  /** Graded q122: TEMPORAL-SPLIT next-event evaluation — train the
    * q116 session Markov model on the FIRST 80% of the observation
    * window, evaluate next-event prediction accuracy on the last 20%.
    * Two capabilities in one operator: (a) the TIME-based train/test
    * split (the q44 hash split's chronological sibling — the only
    * honest split for forecasting tasks, where hash splits leak the
    * future into training), with the cutoff derived as integer µs
    * arithmetic `min + (max − min)·8 div 10` (one min/max aggregate,
    * no order statistic, deterministic at any scale); and (b) the
    * model-evaluation shape: per prev_type, the trained argmax
    * next-event (ties next_type asc), test-set support, hits, and
    * accuracy in integer ppm. A prev_type first seen in test gets a
    * NULL prediction and zero hits — surfaced, not dropped.
    *
    * Scale shape: ONE events scan through the q116 user-window lag;
    * the cutoff is a 1-row broadcast; transitions collapse to the
    * (prev, next, is_test) matrix (≤ 2·|types|² rows — model-sized)
    * which is persisted and re-read by the train-side argmax window,
    * the test rollup, and the broadcast model join. The only
    * corpus-sized exchange is the user_id shuffle the lag needs.
    */
  def markovEval(spark: SparkSession, dir: String): DataFrame =
    markovEvalOf(events(spark, dir))

  /** Core of `markovEval` over any events relation carrying
    * `(user_id, event_id, event_type, ts_us, ts_sec)`.
    */
  def markovEvalOf(evs: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val bounds = evs.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
      .select(expr("mn + (mx - mn) * 8 div 10").as("cutoff"))
    val trans = CachedStages.model(evs
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(w))
      .filter(col("prev_sec").isNotNull &&
        col("ts_sec") - col("prev_sec") <= 1800)
      .crossJoin(broadcast(bounds))
      .groupBy(col("prev_type"), col("event_type").as("next_type"),
        (col("ts_us") > col("cutoff")).as("is_test"))
      .agg(count(lit(1)).as("n")))
    // train-side argmax: the rank window runs over the model-sized
    // matrix (|types|² rows), never the event stream
    val model = trans.filter(!col("is_test"))
      .withColumn("rn", row_number().over(Window.partitionBy("prev_type")
        .orderBy(col("n").desc, col("next_type").asc)))
      .filter(col("rn") === 1)
      .select(col("prev_type"), col("next_type").as("predicted_type"))
    trans.filter(col("is_test"))
      .join(broadcast(model), Seq("prev_type"), "left")
      .groupBy("prev_type", "predicted_type")
      .agg(sum(col("n")).as("n_test"),
        sum(when(col("next_type") === col("predicted_type"), col("n"))
          .otherwise(0L)).as("n_correct"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_test"))
      .orderBy("prev_type")
  }

  /** Graded q124: VOLUME-BURST DETECTION — per event type, flag the
    * days whose event count exceeds 2.5× that type's median daily
    * volume. The operational anomaly monitor every ingestion pipeline
    * runs (a burst is a bot, an outage replay, or a crawler loop — all
    * things a training-data feed wants quarantined before they skew
    * the mixture): median-based because a mean is dragged by the very
    * bursts it should detect. The median is the exact lower median by
    * the q53 integer rank rule (`rn = (m+1) div 2` over counts asc,
    * day-asc ties), and the flag is integer cross-multiplication
    * `n·10 ≥ median·25` — no floating point anywhere.
    *
    * Scale shape: ONE events scan collapses to the persisted
    * (type, day, n) daily matrix — day-granular, so |types|·|days|
    * rows at ANY corpus size; the median rank window partitions by
    * type over day-bounded partitions, and the |types|-row median
    * table broadcasts back onto the matrix.
    */
  def volumeBursts(spark: SparkSession, dir: String): DataFrame =
    volumeBurstsOf(events(spark, dir))

  /** Core of `volumeBursts` over any events relation with
    * `(event_type, ts_sec)`.
    */
  def volumeBurstsOf(evs: DataFrame): DataFrame = {
    val daily = CachedStages.model(evs
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(count(lit(1)).as("n")))
    val w = Window.partitionBy("event_type")
    val med = daily
      .withColumn("rn", row_number().over(
        w.orderBy(col("n").asc, col("day").asc)))
      .withColumn("m", count(lit(1)).over(w))
      .filter(col("rn") === expr("(m + 1) div 2"))
      .select(col("event_type"), col("n").as("median_n"))
    daily.join(broadcast(med), Seq("event_type"))
      .withColumn("is_burst",
        (col("n") * 10 >= col("median_n") * 25).cast("long"))
      .select("event_type", "day", "n", "median_n", "is_burst")
      .orderBy("event_type", "day")
  }

  /** Graded q125: PURCHASE ATTRIBUTION — route each purchase's credit
    * back to the view/click touches that preceded it within a 24-hour
    * window, under the two standard marketing-attribution models at
    * once: LAST-TOUCH (the latest touch by (ts, event_id) takes the
    * whole purchase) and LINEAR (each of the n touches takes
    * `10⁶ div n` ppm). Purchases with no in-window touch land in the
    * `direct` row at full credit, so both models' totals reconcile to
    * `|purchases| · 10⁶` up to integral-division floors — the audit
    * invariant the spec asserts.
    *
    * Scale shape: ONE user_id equi-join pairs purchases with touches
    * (per-user fan-out is human-bounded activity², the q24/q12
    * assumption), the time window filters inside the join, and
    * everything downstream is per-purchase aggregates collapsing to a
    * |touch types|+1-row report. Last-touch is a partial-aggregable
    * struct-max — never a sort or window over the pair stream.
    */
  def purchaseAttribution(spark: SparkSession, dir: String,
      windowSec: Long = 86400L): DataFrame =
    purchaseAttributionOf(events(spark, dir), windowSec)

  /** Core of `purchaseAttribution` over any events relation carrying
    * `(user_id, event_id, event_type, ts_us)`.
    */
  def purchaseAttributionOf(evs: DataFrame, windowSec: Long): DataFrame = {
    val purchases = evs.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts_us").as("p_ts"))
    val touches = evs.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("event_id").as("t_id"), col("ts_us").as("t_ts"))
    val pairs = CachedStages.data(purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - lit(windowSec * 1000000L))
      .select("p_id", "touch_type", "t_id", "t_ts"))
    val perPurchase = pairs.groupBy("p_id")
      .agg(count(lit(1)).as("n_touches"),
        max(struct(col("t_ts"), col("t_id"), col("touch_type"))).as("last"))
    val lastTouch = perPurchase.groupBy(col("last.touch_type").as("touch_type"))
      .agg(count(lit(1)).as("n_last_touch"))
    val linear = pairs
      .join(perPurchase.select(col("p_id"), col("n_touches")), Seq("p_id"))
      .groupBy("touch_type")
      .agg(sum(expr("1000000 div n_touches")).as("linear_ppm"))
    val direct = purchases
      .join(pairs.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_last_touch"))
      .select(lit("direct").as("touch_type"), col("n_last_touch"),
        (col("n_last_touch") * 1000000L).as("linear_ppm"))
    // FULL outer: a touch type can hold linear credit yet never win
    // last-touch (or, degenerately, vice versa) — both sides survive
    lastTouch.join(linear, Seq("touch_type"), "full_outer")
      .na.fill(0L, Seq("n_last_touch", "linear_ppm"))
      .select(col("touch_type"), col("n_last_touch"), col("linear_ppm"))
      .unionByName(direct)
      .orderBy("touch_type")
  }

  /** Graded q132: VIEW→PURCHASE CONVERSION-DELAY quantiles — the
    * time-to-convert distribution behind every funnel decision: for
    * each user, the minutes between their FIRST view and their first
    * purchase at-or-after it, summarized as conversion rate (ppm of
    * viewers) plus the exact median and p90 delay. The quantiles use
    * the q128 discipline: delays collapse to a MINUTE-GRANULAR
    * histogram whose cardinality is bounded by the observation window
    * (a value domain), the cumulative window runs over that bounded
    * frame — partition-less but histogram-sized, the benign class —
    * and the picks are integer ceil-rank conditional mins. Assumes a
    * non-empty conversion set (true of the fixture corpus — q64's
    * funnel rides the same guarantee).
    *
    * Scale shape: two per-user min-aggregates (map-side combinable),
    * one user-keyed join, then everything is histogram-sized; the
    * totals broadcast. All integer.
    */
  def conversionDelay(spark: SparkSession, dir: String): DataFrame =
    conversionDelayOf(events(spark, dir))

  /** Core of `conversionDelay` over any events relation carrying
    * `(user_id, event_type, ts_us)`.
    */
  def conversionDelayOf(evs: DataFrame): DataFrame = {
    val firstView = evs.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts_us")).as("v_ts"))
    val delays = evs.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("ts_us") >= col("v_ts"))
      .groupBy("user_id", "v_ts").agg(min(col("ts_us")).as("p_ts"))
      .withColumn("delay_min", expr("(p_ts - v_ts) div 60000000"))
    val hist = CachedStages.model(delays.groupBy("delay_min")
      .agg(count(lit(1)).as("n")))
    val w = Window.orderBy(col("delay_min").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("n")).over(w))
    val nConv = hist.agg(sum(col("n")).as("n_converted"))
    val nView = firstView.agg(count(lit(1)).as("n_viewers"))
    cum.crossJoin(broadcast(nConv))
      .agg(max(col("n_converted")).as("n_converted"),
        min(when(expr("cum >= (n_converted + 1) div 2"), col("delay_min")))
          .as("median_delay_min"),
        min(when(expr("cum >= (9 * n_converted + 9) div 10"), col("delay_min")))
          .as("p90_delay_min"))
      .crossJoin(broadcast(nView))
      .withColumn("conv_ppm", expr("n_converted * 1000000 div n_viewers"))
      .select("n_viewers", "n_converted", "conv_ppm", "median_delay_min",
        "p90_delay_min")
  }

  /** Graded q136: A/B EXPERIMENT READOUT — users deterministically
    * assigned to arms by the q44 md5-bucket rule on `user_id` (the
    * ONLY assignment that is retry-stable, coordination-free, and
    * join-compatible across every event table an analysis touches —
    * the experimentation platform's version of the hash split), each
    * arm read out as users / converters (≥1 purchase) / conversion in
    * integer ppm. The statistical significance call happens downstream
    * of this table; what the ENGINE owes the experimenter is exact
    * deterministic counts per arm.
    *
    * Scale shape: two distinct-user aggregates (map-side combinable)
    * and one user-keyed left join — all integer.
    */
  def abReadout(spark: SparkSession, dir: String): DataFrame =
    abReadoutOf(events(spark, dir))

  /** Core of `abReadout` over any events relation carrying
    * `(user_id, event_type)`.
    */
  def abReadoutOf(evs: DataFrame): DataFrame = {
    val users = evs.select("user_id").distinct()
      .withColumn("arm", expr(
        s"CASE WHEN ${Sampling.bucketExpr("user_id")} < 50 THEN 'a' ELSE 'b' END"))
    val conv = evs.filter(col("event_type") === "purchase")
      .select("user_id").distinct().withColumn("converted", lit(1L))
    users.join(conv, Seq("user_id"), "left")
      .na.fill(0L, Seq("converted"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
      .withColumn("conv_ppm", expr("n_converted * 1000000 div n_users"))
      .orderBy("arm")
  }

  def twoProportionZ(spark: SparkSession, dir: String,
      heavyMin: Long = 15L): DataFrame =
    twoProportionZOf(events(spark, dir), heavyMin)

  /** Graded q194: TWO-PROPORTION Z-TEST — the analytic significance
    * call q136's scaladoc promises "happens downstream": H₀:
    * p_a = p_b, z² = (p̂_a−p̂_b)² / (p̂(1−p̂)(1/n_a+1/n_b)) with the
    * pooled p̂, judged two-sided at 5% — and since z² under H₀ is
    * χ²(1), the critical value IS `Chi2Crit95Ppm(0)` = 1.96²·10⁶: one
    * shared constant table serves both tests. Complements the family:
    * q136 reports the counts, q154 bootstraps the CI, q168 reduces
    * variance — this is the textbook closed-form verdict.
    *
    * The tested metric is the HEAVY-converter rate (≥ `heavyMin`
    * purchase events): on this stream plain ≥1-purchase conversion
    * SATURATES at 100% in both arms, which degenerates the test to
    * se² = 0 / z² undefined (the operator surfaces that honestly as
    * NULL) — a guardrail metric with headroom is what an experimenter
    * actually tests. Same md5-bucket arm assignment as q136.
    *
    * Fixed-point discipline (all floors deterministic, both engines):
    * rates in ppm; se² in 10⁻¹⁸ units via ONE division —
    * pooled·(10⁶−pooled)·N·10⁶ div (n_a·n_b), numerator ≤ 2.5·10²⁹
    * inside DECIMAL(38)/HUGEINT, value ≤ 5·10¹⁷ inside BIGINT for ANY
    * n — then z²_micro = diff_ppm²·10¹² div se². The direction ships
    * as `winner` (a/b/tie); significance without direction is half an
    * answer.
    *
    * Scale shape: one distinct-user aggregate, one per-user purchase
    * count (both map-side combinable) and a user-keyed join; the
    * pivot and test arithmetic run on a persisted 2-row table.
    */
  def twoProportionZOf(evs: DataFrame, heavyMin: Long = 15L): DataFrame = {
    val users = evs.select("user_id").distinct()
      .withColumn("arm", expr(
        s"CASE WHEN ${Sampling.bucketExpr("user_id")} < 50 " +
          "THEN 'a' ELSE 'b' END"))
    val conv = evs.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("np"))
      .filter(col("np") >= heavyMin)
      .select("user_id").withColumn("converted", lit(1L))
    val counts = CachedStages.model(users
      .join(conv, Seq("user_id"), "left")
      .na.fill(0L, Seq("converted"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converted"))
      .withColumn("conv_ppm", expr("n_converted * 1000000 div n_users")))
    val a = counts.filter(col("arm") === "a")
      .select(col("n_users").as("n_a"), col("n_converted").as("conv_a"),
        col("conv_ppm").as("p_a_ppm"))
    val b = counts.filter(col("arm") === "b")
      .select(col("n_users").as("n_b"), col("n_converted").as("conv_b"),
        col("conv_ppm").as("p_b_ppm"))
    a.crossJoin(broadcast(b))
      .withColumn("diff_ppm", expr("p_a_ppm - p_b_ppm"))
      .withColumn("pooled_ppm", expr(
        "(conv_a + conv_b) * 1000000 div (n_a + n_b)"))
      .withColumn("se2_e18", expr(
        """CAST(pooled_ppm AS DECIMAL(38, 0)) * (1000000 - pooled_ppm)
          | * (n_a + n_b) * 1000000
          | div (CAST(n_a AS DECIMAL(38, 0)) * n_b)""".stripMargin))
      .withColumn("z2_micro", expr(
        """CAST(CAST(diff_ppm AS DECIMAL(38, 0)) * diff_ppm
          | * 1000000000000 div nullif(se2_e18, 0) AS BIGINT)"""
          .stripMargin))
      .withColumn("crit_micro", lit(Chi2Crit95Ppm.head))
      .withColumn("significant", expr(
        """CASE WHEN z2_micro IS NULL THEN CAST(NULL AS BIGINT)
          |     WHEN z2_micro > crit_micro THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .withColumn("winner", expr(
        """CASE WHEN diff_ppm > 0 THEN 'a'
          |     WHEN diff_ppm < 0 THEN 'b' ELSE 'tie' END""".stripMargin))
      .select("n_a", "conv_a", "p_a_ppm", "n_b", "conv_b", "p_b_ppm",
        "diff_ppm", "pooled_ppm", "se2_e18", "z2_micro", "crit_micro",
        "significant", "winner")
  }

  def cupedReadout(spark: SparkSession, dir: String): DataFrame =
    cupedReadoutOf(events(spark, dir))

  /** Graded q168: CUPED variance-reduced A/B readout (Deng, Xu, Kohavi
    * & Walker, WSDM 2013 — the standard production upgrade over the
    * q136 raw readout): each user's PRE-period purchase spend X (before
    * the q122 80% time cutoff) explains away the stable part of their
    * POST-period spend Y, so the per-arm adjusted mean
    * `mean(Y_a) − θ·(mean(X_a) − mean(X))` compares arms at the
    * precision the raw mean reaches only with (1−ρ²)⁻¹ times the
    * users. θ = Sxy/Sxx over POOLED users (never per-arm — a per-arm θ
    * reintroduces the bias CUPED removes).
    *
    * Integer determinism: spend in exact cents; the centered moments
    * Sxx/Sxy/Syy as n·Σab − Σa·Σb in DECIMAL(38); θ materializes as
    * `theta_micro = Sxy·10⁶ div Sxx` and every later use divides the
    * SAME floored value (two-stage division, exactly replayed by the
    * oracle — never a real-valued θ). `rho2_ppm = theta_micro·Sxy div
    * Syy` re-uses the floored θ for the variance-reduction headline.
    * Degenerate pre-period (Sxx = 0) surfaces NULL adjusted columns
    * via nullif — the "CUPED not applicable" signal itself.
    *
    * Scale shape: ONE events scan collapses into the per-user (x, y)
    * spend pair (user-keyed partial aggregation); the pooled moment row
    * and the |arms|-row rollup both re-read that |users|-bounded frame,
    * and the pooled row joins back by broadcast. At 100 TB nothing
    * beyond the per-user pair survives the first aggregation.
    */
  def cupedReadoutOf(evs: DataFrame): DataFrame = {
    val bounds = evs.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
      .select(expr("mn + (mx - mn) * 8 div 10").as("cutoff"))
    val cents = "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"
    val perUser = CachedStages.data(evs
      .crossJoin(broadcast(bounds))
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("event_type") === "purchase" &&
          col("ts_us") <= col("cutoff"), expr(cents))), lit(0L)).as("x"),
        coalesce(sum(when(col("event_type") === "purchase" &&
          col("ts_us") > col("cutoff"), expr(cents))), lit(0L)).as("y"))
      .withColumn("arm", expr(
        s"CASE WHEN ${Sampling.bucketExpr("user_id")} < 50 THEN 'a' ELSE 'b' END")))
    val pooled = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("CAST(x AS DECIMAL(38, 0)) * x")).as("sxx_raw"),
      sum(expr("CAST(x AS DECIMAL(38, 0)) * y")).as("sxy_raw"),
      sum(expr("CAST(y AS DECIMAL(38, 0)) * y")).as("syy_raw"))
      .select(col("n"), col("sx"), col("sy"),
        expr("n * sxx_raw - CAST(sx AS DECIMAL(38, 0)) * sx").as("sxx"),
        expr("n * sxy_raw - CAST(sx AS DECIMAL(38, 0)) * sy").as("sxy"),
        expr("n * syy_raw - CAST(sy AS DECIMAL(38, 0)) * sy").as("syy"))
      .withColumn("theta_micro",
        expr("CAST(sxy * 1000000 div nullif(sxx, 0) AS BIGINT)"))
      .withColumn("rho2_ppm",
        expr("CAST(theta_micro * sxy div nullif(syy, 0) AS BIGINT)"))
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sum_x_cents"), sum(col("y")).as("sum_y_cents"))
      .crossJoin(broadcast(pooled))
      .withColumn("raw_mean_micro", expr("sum_y_cents * 1000000 div n_users"))
      // θ·(mean_x_arm − mean_x_pooled) in micro-cents; the numerator
      // sign-splits so the single integral division always sees a
      // non-negative operand (Spark div truncates, DuckDB // floors —
      // they agree only on non-negatives)
      .withColumn("dx_num", expr(
        "CAST(sum_x_cents AS DECIMAL(38, 0)) * n - CAST(sx AS DECIMAL(38, 0)) * n_users"))
      .withColumn("adj_delta_micro", expr(
        """CAST(CASE WHEN theta_micro * dx_num >= 0
          |  THEN (theta_micro * dx_num) div (CAST(n_users AS DECIMAL(38, 0)) * n)
          |  ELSE -((-(theta_micro * dx_num)) div (CAST(n_users AS DECIMAL(38, 0)) * n))
          |END AS BIGINT)""".stripMargin))
      .withColumn("adj_mean_micro", expr("raw_mean_micro - adj_delta_micro"))
      .select("arm", "n_users", "sum_y_cents", "raw_mean_micro",
        "adj_mean_micro", "theta_micro", "rho2_ppm")
      .orderBy("arm")
  }

  def forecastBacktest(spark: SparkSession, dir: String): DataFrame =
    forecastBacktestOf(events(spark, dir))

  /** Graded q173: rolling-origin FORECAST BACKTEST (Tashman, IJF 2000
    * — the out-of-sample evaluation q10's fitted forecast never gets):
    * three horizon-1 baselines every serious forecast must beat —
    * naive (yesterday), seasonal-naive (same weekday last week,
    * Hyndman's snaive), and the trailing 7-day mean — are scored on
    * the last-20% test days of the per-type daily revenue series. Per
    * (type, method): forecast count, MAE and signed bias in cents,
    * and MASE-style `vs_naive_ppm = sae·10⁶ div sae_naive` (absolute
    * error sums — same test set, so the ratio is the MAE ratio without
    * a second floor) — the
    * scale-free number that says whether seasonality or smoothing
    * actually helps on this stream (snaive < 10⁶ means weekday
    * structure is real).
    *
    * Determinism: the calendar is DENSIFIED (sequence over
    * [min_day, max_day], absent days are true zeros) so lags are
    * calendar lags, not row lags; every error is an integer cents
    * difference; the only divisions are integral with the ma7 mean
    * floored once (`sum div 7`) before the error — both engines
    * replay the identical floor. Test days start strictly after the
    * q122 80% cutoff and require a full 7-day lookback.
    *
    * Scale shape: ONE events scan collapses to the (type, day) cents
    * matrix; densification, lag windows (bounded rows-frames on the
    * calendar), and the |types|·|methods| rollup all run on that
    * model-sized matrix. The naive arm's MAE joins back by broadcast.
    */
  def forecastBacktestOf(evs: DataFrame): DataFrame =
    forecastBacktestOfDaily(evs
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** q173 over an already-aggregated `(event_type, day, cents)` matrix
    * (the q172 split, same streamed state feeds both reports).
    */
  def forecastBacktestOfDaily(daily: DataFrame): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .withColumn("cutoff", expr("mn + (mx - mn) * 8 div 10"))
    val calendar = bounds
      .select(col("mn"), col("cutoff"),
        explode(expr("sequence(mn, mx)")).as("day"))
    // NOT persisted (round-19): once `scored` below became the
    // persisted frame (round-18 DupExec fix), the densified matrix is
    // read exactly once — by that fill — so a persist here paid
    // fill+memory for one read (r18 single-reader report).
    val dense = daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val w7 = w.rowsBetween(-7, -1)
    // persisted: each forecast method's rollup traverses it —
    // unpersisted, the three lag/moving-average windows ran once per
    // method (round-18 DupExec sweep)
    val scored = CachedStages.model(dense
      .withColumn("naive", lag(col("cents"), 1).over(w))
      .withColumn("snaive7", lag(col("cents"), 7).over(w))
      .withColumn("ma7sum", sum(col("cents")).over(w7))
      .withColumn("ma7", expr("ma7sum div 7"))
      .filter(col("day") > col("cutoff") && col("day") - 7 >= col("mn")))
    // cached: traversed twice (naive baseline + final join)
    val perMethod = CachedStages.model(Seq("naive", "snaive7", "ma7").map { m =>
      scored.groupBy("event_type")
        .agg(count(lit(1)).as("n_forecasts"),
          sum(expr(s"abs(cents - $m)")).as("sae"),
          sum(expr(s"$m - cents")).as("se"))
        .select(col("event_type"), lit(m).as("method"),
          col("n_forecasts"),
          expr("sae div n_forecasts").as("mae_cents"),
          expr("CASE WHEN se >= 0 THEN se div n_forecasts " +
            "ELSE -((-se) div n_forecasts) END").as("bias_cents"),
          col("sae"))
    }.reduce(_ unionByName _))
    val naiveSae = perMethod.filter(col("method") === "naive")
      .select(col("event_type"), col("sae").as("naive_sae"))
    perMethod.join(broadcast(naiveSae), Seq("event_type"))
      .withColumn("vs_naive_ppm",
        expr("sae * 1000000 div nullif(naive_sae, 0)"))
      .select("event_type", "method", "n_forecasts", "mae_cents",
        "bias_cents", "vs_naive_ppm")
      .orderBy("event_type", "method")
  }

  def controlChart(spark: SparkSession, dir: String): DataFrame =
    controlChartOfDaily(events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** Graded q180: SHEWHART CONTROL CHART with Western Electric rule 2
    * (Shewhart 1931; the WE Statistical Quality Control Handbook 1956)
    * over per-type daily revenue — the SPC view of the stream that
    * q124's median-burst rule doesn't give: rule 1 flags a single
    * point beyond 3σ, rule 2 flags 2-of-3 consecutive points beyond
    * 2σ on the SAME side (the drift detector a single-point rule
    * misses). Square-root-free: `(x−μ)² > k²σ²` cross-multiplies to
    * `(x·n − Σx)² > k²·(n·Σx² − (Σx)²)` — all DECIMAL(38) integer
    * products, no sqrt, no FP; flags carry the side as ±1.
    *
    * The calendar densifies (a silent day IS a zero-revenue point —
    * exactly what a control chart must see); the rule-2 window is a
    * bounded 3-row frame per type over the calendar matrix.
    *
    * Scale shape: one events collapse into the (type, day) matrix
    * (the SAME state the q172/q173 twin streams), |types|-row moment
    * stats broadcast back, bounded windows. Third consumer of
    * `EventStreams.dailyRevenueStream`'s maintained matrix.
    */
  def controlChartOfDaily(daily: DataFrame): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val calendar = bounds.select(explode(expr("sequence(mn, mx)")).as("day"))
    val dense = CachedStages.model(daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents")))
    val stats = dense.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
        sum(expr("CAST(cents AS DECIMAL(38, 0)) * cents")).as("s2"))
    val flagged = dense.join(broadcast(stats), Seq("event_type"))
      .withColumn("dev", expr(
        "CAST(cents AS DECIMAL(38, 0)) * n - s1"))
      .withColumn("var_n", expr(
        "n * s2 - CAST(s1 AS DECIMAL(38, 0)) * s1"))
      .withColumn("rule1", expr(
        """CASE WHEN dev * dev > 9 * var_n
          |  THEN IF(dev > 0, 1L, -1L) ELSE 0L END""".stripMargin))
      .withColumn("beyond2", expr(
        """CASE WHEN dev * dev > 4 * var_n
          |  THEN IF(dev > 0, 1L, -1L) ELSE 0L END""".stripMargin))
    val w3 = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(-2, 0)
    flagged
      .withColumn("n2a",
        sum(when(col("beyond2") === 1L, 1L).otherwise(0L)).over(w3))
      .withColumn("n2b",
        sum(when(col("beyond2") === -1L, 1L).otherwise(0L)).over(w3))
      .withColumn("rule2", expr(
        """CASE WHEN beyond2 = 1 AND n2a >= 2 THEN 1L
          |     WHEN beyond2 = -1 AND n2b >= 2 THEN -1L
          |     ELSE 0L END""".stripMargin))
      .select("event_type", "day", "cents", "rule1", "rule2")
      .orderBy("event_type", "day")
  }

  def cusumChart(spark: SparkSession, dir: String): DataFrame =
    cusumChartOfDaily(events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** Graded q187: TABULAR CUSUM change detection (Page, Biometrika
    * 1954) over per-type daily revenue — the SPC member q180's
    * Shewhart chart cannot replace: CUSUM accumulates small persistent
    * shifts (C⁺ₜ = max(0, C⁺ₜ₋₁ + xₜ − μ − k), C⁻ₜ mirrored) that
    * never individually cross a Shewhart limit, signals when either
    * sum exceeds the decision interval h, and RESTARTS after a signal
    * (Page's monitoring scheme — each alarm opens a fresh test).
    * Sqrt-free calibration: the allowance k = μ div 20 (5% of the
    * in-control mean) and h = μ, all floored integer cents — the
    * σ-unit textbook tuning needs a square root, and a chart both
    * engines must replay bit-for-bit values the mean-relative form.
    *
    * Emitted per (type, day): pre-reset C⁺/C⁻ (the values compared to
    * h) and the alarm side ±1. The calendar densifies — a silent day
    * IS a zero-revenue observation that drives C⁻ up, exactly the
    * drift a revenue monitor must see.
    *
    * Scale shape: one events collapse into the (type, day) matrix
    * (the SAME state the q172/q173 twin streams — fifth consumer);
    * the inherently sequential recurrence runs as the q169/q178
    * `aggregate()` HOF prefix fold over per-type CALENDAR-BOUNDED
    * sorted arrays joined back broadcast — |days|² lambda steps per
    * type on a model-sized list, never a driver collect. The DuckDB
    * oracle replays it as a per-type linear recursive CTE.
    */
  def cusumChartOfDaily(daily: DataFrame): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val calendar = bounds.select(explode(expr("sequence(mn, mx)")).as("day"))
    val dense = CachedStages.model(daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents")))
    val params = dense.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"))
      .select(col("event_type"), expr("s1 div n").as("mu"),
        expr("(s1 div n) div 20").as("kk"))
    val series = dense.groupBy("event_type")
      .agg(expr("sort_array(collect_list(struct(day, cents)))").as("ss"))
    // pre-reset candidates and the alarm, as reusable SQL fragments
    val np = "greatest(CAST(0 AS BIGINT), acc.cp + f.cents - mu - kk)"
    val nn = "greatest(CAST(0 AS BIGINT), acc.cn + mu - kk - f.cents)"
    val al = s"""CASE WHEN $np > mu THEN CAST(1 AS BIGINT)
                |     WHEN $nn > mu THEN CAST(-1 AS BIGINT)
                |     ELSE CAST(0 AS BIGINT) END""".stripMargin
    dense.join(broadcast(params), Seq("event_type"))
      .join(broadcast(series), Seq("event_type"))
      .withColumn("st", expr(
        s"""aggregate(filter(ss, f -> f.day <= day),
           |named_struct('cp', CAST(0 AS BIGINT), 'cn', CAST(0 AS BIGINT),
           |  'ep', CAST(0 AS BIGINT), 'en', CAST(0 AS BIGINT),
           |  'al', CAST(0 AS BIGINT)),
           |(acc, f) -> named_struct(
           |  'cp', IF(($al) <> 0, CAST(0 AS BIGINT), $np),
           |  'cn', IF(($al) <> 0, CAST(0 AS BIGINT), $nn),
           |  'ep', $np, 'en', $nn, 'al', $al),
           |acc -> acc)""".stripMargin))
      .select(col("event_type"), col("day"), col("cents"),
        expr("st.ep").as("cpos"), expr("st.en").as("cneg"),
        expr("st.al").as("alarm"))
      .orderBy("event_type", "day")
  }

  def ewmaChart(spark: SparkSession, dir: String): DataFrame =
    ewmaChartOfDaily(events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** Graded q214: EWMA CONTROL CHART (Roberts, Technometrics 1959) —
    * the third member of the SPC family and the one the other two
    * can't replace: Shewhart (q180) catches single large shocks,
    * CUSUM (q187) accumulates small persistent steps, EWMA tracks
    * SMOOTH DRIFT — z_t = λ·x_t + (1−λ)·z_{t−1} with λ = 0.2, judged
    * against its own variance recursion V_t = (1−λ)²·V_{t−1} + λ²·σ²
    * (the exact finite-t limits — the asymptotic λ/(2−λ) band flags
    * early points too eagerly; the recursion IS the textbook
    * 1−(1−λ)^{2t} factor without a power or a sqrt). Alarm via the
    * sqrt-free square compare (z_t−μ)² > L²·V_t at L = 3, side as ±1.
    *
    * Integer determinism: z in cents with per-mille λ — z_t =
    * (200·x_t + 800·z_{t−1}) div 1000, one floor per day, z_0 = μ
    * (the floored grand mean); V in cents² — V_t = (640000·V_{t−1} +
    * 40000·σ²) div 10⁶ with σ² the population variance floored once
    * by n². The fold is the q169/q178/q187 `aggregate()` HOF prefix
    * fold over per-type calendar-bounded sorted arrays; the oracle
    * replays it as a per-type linear recursive CTE, floor for floor.
    * All operands are non-negative (revenue cents), so no sign-split
    * is needed. BIGINT bounds hold to daily σ ≲ 10⁶·$10⁴ cents; at
    * 100 TB rescale the unit to whole dollars (the q176 quantization)
    * — the chart is unit-free.
    *
    * Silent calendar days densify to zero-revenue observations that
    * drag the EWMA down — exactly what a revenue monitor must see.
    * SIXTH consumer of the q172/q173 (type, day) daily matrix: the
    * maintained streaming state feeds this chart unchanged.
    */
  def ewmaChartOfDaily(daily: DataFrame): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val calendar = bounds.select(explode(expr("sequence(mn, mx)")).as("day"))
    val dense = CachedStages.model(daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents")))
    val params = dense.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
        sum(expr("CAST(cents AS DECIMAL(38, 0)) * cents")).as("s2"))
      .select(col("event_type"), expr("s1 div n").as("mu"),
        expr("""CAST((n * s2 - CAST(s1 AS DECIMAL(38, 0)) * s1)
          | div (CAST(n AS DECIMAL(38, 0)) * n) AS BIGINT)"""
          .stripMargin).as("sig2"))
    val series = dense.groupBy("event_type")
      .agg(expr("sort_array(collect_list(struct(day, cents)))").as("ss"))
    dense.join(broadcast(params), Seq("event_type"))
      .join(broadcast(series), Seq("event_type"))
      .withColumn("st", expr(
        """aggregate(filter(ss, f -> f.day <= day),
          |named_struct('z', mu, 'v', CAST(0 AS BIGINT)),
          |(acc, f) -> named_struct(
          |  'z', (200 * f.cents + 800 * acc.z) div 1000,
          |  'v', (640000 * acc.v + 40000 * sig2) div 1000000),
          |acc -> acc)""".stripMargin))
      .withColumn("ewma_cents", expr("st.z"))
      .withColumn("v_cents2", expr("st.v"))
      .withColumn("alarm", expr(
        """CASE WHEN CAST(st.z - mu AS DECIMAL(38, 0)) * (st.z - mu)
          |       > 9 * CAST(st.v AS DECIMAL(38, 0))
          |  THEN IF(st.z > mu, CAST(1 AS BIGINT), CAST(-1 AS BIGINT))
          |  ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select(col("event_type"), col("day"), col("cents"),
        col("ewma_cents"), col("v_cents2"), col("alarm"))
      .orderBy("event_type", "day")
  }

  def holtChart(spark: SparkSession, dir: String): DataFrame =
    holtChartOfDaily(events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** Graded q234: HOLT LINEAR-TREND smoothing (Holt 1957, reprinted
    * IJF 2004) of per-type daily revenue — the FORECASTING member
    * beside q214's EWMA monitor: EWMA tracks the level only and lags
    * every ramp; Holt carries an explicit trend state, so its
    * one-step-ahead forecast l+b is the thing q173 backtests and a
    * capacity planner extrapolates. States in integer cents with
    * per-mille smoothing (α = 300‰, β = 100‰), one floor per state
    * per day: l_t = (300x_t + 700(l+b)) div 1000, b_t =
    * (100(l_t − l_{t−1}) + 900b) div 1000, seeded l₁ = x₁, b₁ = 0;
    * the per-day forecast is the PRIOR l+b (day 1 forecasts itself)
    * and the residual x − forecast ships beside it. Trends go
    * negative, so the verified truncation-toward-zero div convention
    * is load-bearing here.
    *
    * Integer determinism: the fold is the q214 `aggregate()` HOF
    * prefix fold over per-type calendar-bounded sorted arrays (the
    * l_t expression interpolated twice because a fold lambda cannot
    * bind intermediates — the cusumSql discipline); the oracle
    * replays it as a per-type linear recursive CTE, floor for floor.
    * Silent calendar days densify to zero — a forecaster must see
    * the gaps.
    *
    * Scale shape: EIGHTH consumer of the (type, day) daily matrix;
    * the prefix fold is O(|days|²) per type over the CALENDAR-bounded
    * array, never the stream. At a century of days switch the fold
    * to the maintained-state streaming twin discipline.
    */
  def holtChartOfDaily(daily: DataFrame): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val calendar = bounds.select(explode(expr("sequence(mn, mx)")).as("day"))
    val dense = CachedStages.model(daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents")))
    val series = dense.groupBy("event_type")
      .agg(expr("sort_array(collect_list(struct(day, cents)))").as("ss"))
    // l_t interpolated twice: the lambda cannot bind an intermediate
    val lNew = "(300 * f.cents + 700 * (acc.l + acc.b)) div 1000"
    dense.join(broadcast(series), Seq("event_type"))
      .withColumn("st", expr(
        s"""aggregate(filter(ss, f -> f.day <= day),
           |named_struct('st', CAST(0 AS BIGINT), 'l', CAST(0 AS BIGINT),
           |  'b', CAST(0 AS BIGINT), 'f', CAST(0 AS BIGINT)),
           |(acc, f) -> IF(acc.st = 0,
           |  named_struct('st', CAST(1 AS BIGINT), 'l', f.cents,
           |    'b', CAST(0 AS BIGINT), 'f', f.cents),
           |  named_struct('st', CAST(1 AS BIGINT),
           |    'l', $lNew,
           |    'b', (100 * ($lNew - acc.l) + 900 * acc.b) div 1000,
           |    'f', acc.l + acc.b)),
           |acc -> acc)""".stripMargin))
      .withColumn("level_cents", expr("st.l"))
      .withColumn("trend_cents", expr("st.b"))
      .withColumn("forecast_cents", expr("st.f"))
      .withColumn("err_cents", expr("cents - st.f"))
      .select(col("event_type"), col("day"), col("cents"),
        col("level_cents"), col("trend_cents"), col("forecast_cents"),
        col("err_cents"))
      .orderBy("event_type", "day")
  }

  def acfDaily(spark: SparkSession, dir: String): DataFrame =
    acfOfDaily(events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** Graded q215: AUTOCORRELATION FUNCTION of per-type daily revenue
    * at lags 1..7, with the LJUNG–BOX portmanteau verdict (Box &
    * Jenkins 1970; Ljung & Box, Biometrika 1978) — the diagnostic the
    * whole forecasting family presumes: q172's slope and q173's
    * backtest are only meaningful if the residual structure is known,
    * and the weekly lag-7 spike this chart surfaces on seasonal data
    * is exactly what q182 eyeballs. Per (type, lag): r_k in ppm and
    * the ±2/√n band flag; per type, Q = n(n+2)·Σ r_k²/(n−k) judged
    * against χ²(7) — the FIFTH consumer of the shared
    * `Chi2Crit95Ppm` table — repeated per row (the q181 discipline).
    *
    * Integer determinism (the q209 two-pass recipe): the mean floors
    * ONCE to milli-cents, deviations are exact, num_k = Σ dx_t·dx_{t−k}
    * and den = Σ dx² run in DECIMAL(38), r_ppm = num·10⁶ div den
    * (truncation toward zero, the verified shared convention); the
    * band test cross-multiplies r_ppm²·n > 4·10¹² sqrt-free; Ljung–Box
    * floors r_ppm² by (n−k) per lag and the total once more. Constant
    * series (den = 0) surface NULL r and a NULL verdict, honestly.
    *
    * Scale shape: SEVENTH consumer of the q172/q173 (type, day) daily
    * matrix — the stream collapses once, the lag columns come from a
    * type-partitioned window over the calendar-bounded matrix (never
    * a global sort), the melt is a 7-arm stack Generate, and all test
    * arithmetic is |types|·7-sized with broadcast joins back.
    */
  def acfOfDaily(daily: DataFrame, maxLag: Int = 7): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val calendar = bounds.select(explode(expr("sequence(mn, mx)")).as("day"))
    val dense = CachedStages.model(daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents")))
    val stats = dense.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"))
      .select(col("event_type"), col("n"),
        expr("s1 * 1000 div n").as("m_milli"))
    val dx = CachedStages.model(dense
      .join(broadcast(stats), Seq("event_type"))
      .withColumn("dx", expr("cents * 1000 - m_milli")))
    val den = dx.groupBy("event_type")
      .agg(sum(expr("CAST(dx AS DECIMAL(38, 0)) * dx")).as("den"),
        max(col("n")).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = (1 to maxLag).foldLeft(dx.select("event_type", "day",
      "dx")) { (d, k) =>
      d.withColumn(s"dx$k", lag(col("dx"), k).over(w))
    }
    val melted = lagged.select(col("event_type"), col("dx"),
      expr(s"stack($maxLag, ${(1 to maxLag)
        .map(k => s"CAST($k AS BIGINT), dx$k").mkString(", ")})"
        + " AS (lag, dxl)"))
      .filter(col("dxl").isNotNull)
    val rs = CachedStages.model(melted.groupBy("event_type", "lag")
      .agg(sum(expr("CAST(dx AS DECIMAL(38, 0)) * dxl")).as("num"))
      .join(broadcast(den), Seq("event_type"))
      .withColumn("r_ppm", expr(
        "CAST(num * 1000000 div nullif(den, 0) AS BIGINT)"))
      .withColumn("beyond_band", expr(
        """CASE WHEN r_ppm IS NULL THEN CAST(NULL AS BIGINT)
          |     WHEN CAST(r_ppm AS DECIMAL(38, 0)) * r_ppm * n
          |       > CAST(4000000000000 AS DECIMAL(38, 0))
          |       THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin)))
    val lb = rs
      .withColumn("s_k", expr(
        """CAST(r_ppm AS DECIMAL(38, 0)) * r_ppm
          | div nullif(n - lag, 0)""".stripMargin))
      .groupBy("event_type")
      .agg(sum(col("s_k")).as("s_sum"), max(col("n")).as("n2"),
        count(lit(1)).as("n_lags"))
      .withColumn("q_lb_micro", expr(
        """CAST(CAST(n2 AS DECIMAL(38, 0)) * (n2 + 2) * s_sum
          | div 1000000 AS BIGINT)""".stripMargin))
      .withColumn("crit_micro", expr(
        s"""CAST(try_element_at(
          |  array(${Chi2Crit95Ppm.mkString(",")}),
          |  CAST(n_lags AS INT)) AS BIGINT)""".stripMargin))
      .withColumn("autocorrelated", expr(
        """CASE WHEN q_lb_micro IS NULL OR crit_micro IS NULL
          |       THEN CAST(NULL AS BIGINT)
          |     WHEN q_lb_micro > crit_micro THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select(col("event_type"), col("n_lags").as("df_chi2"),
        col("q_lb_micro"), col("crit_micro"), col("autocorrelated"))
    rs.join(broadcast(lb), Seq("event_type"))
      .select(col("event_type"), col("lag"), col("n").as("n_days"),
        col("r_ppm"), col("beyond_band"), col("q_lb_micro"),
        col("df_chi2"), col("crit_micro"), col("autocorrelated"))
      .orderBy("event_type", "lag")
  }

  def hampelOutliers(spark: SparkSession, dir: String): DataFrame =
    hampelOfDaily(events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** Graded q220: HAMPEL IDENTIFIER over daily revenue (Hampel, JASA
    * 1974; Davies & Gather, JASA 1993) — the ROBUST outlier screen
    * the moment-based charts can't be: q180's Shewhart uses mean±3σ,
    * but one wild day inflates σ and MASKS its neighbors (and a
    * second wild day can hide the first entirely — the masking
    * breakdown). Median ± 3·1.4826·MAD has a 50% breakdown point:
    * flag day d when |x_d − med| · 10⁴ > 44478 · MAD, side as ±1 —
    * sqrt-free, FP-free (1.4826 ships as the integer cross-factor).
    * MAD = 0 (a majority-constant series) is the rule's honest
    * limit: every deviation from the median flags — exactly what a
    * 50%-breakdown identifier must do there.
    *
    * Determinism: median and MAD are exact ceil-rank picks over
    * per-type value-domain histograms (the q172 median discipline);
    * no floor anywhere else — the flag is a pure integer compare.
    *
    * Scale shape: EIGHTH consumer of the q172/q173 daily matrix —
    * the stream collapses once; both pick histograms and the flag
    * join are bounded by the calendar; the only windows partition by
    * event_type.
    */
  def hampelOfDaily(daily: DataFrame): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val calendar = bounds.select(explode(expr("sequence(mn, mx)")).as("day"))
    val dense = CachedStages.model(daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents")))
    def pick(src: DataFrame, valCol: String, outName: String) = {
      // persisted: traversed twice (per-type totals + cumulative join)
      // — caught by the round-18 DupExec sweep; value-domain bounded
      val h = CachedStages.model(src
        .groupBy(col("event_type"), col(valCol))
        .agg(count(lit(1)).as("cnt")))
      val t = h.groupBy("event_type").agg(sum(col("cnt")).as("n_days"))
      val wc = Window.partitionBy("event_type")
        .orderBy(col(valCol).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("cum", sum(col("cnt")).over(wc))
        .join(broadcast(t), Seq("event_type"))
        .groupBy("event_type")
        .agg(min(when(expr("cum * 2 >= n_days"), col(valCol)))
          .as(outName))
    }
    val med = pick(dense, "cents", "med_cents")
    val dev = CachedStages.model(dense
      .join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("cents") - col("med_cents"))))
    val mad = pick(dev, "adev", "mad_cents")
    dev.join(broadcast(mad), Seq("event_type"))
      .withColumn("outlier", expr(
        """CASE WHEN CAST(adev AS DECIMAL(38, 0)) * 10000
          |       > CAST(44478 AS DECIMAL(38, 0)) * mad_cents
          |  THEN IF(cents > med_cents, CAST(1 AS BIGINT),
          |    CAST(-1 AS BIGINT))
          |  ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select(col("event_type"), col("day"), col("cents"),
        col("med_cents"), col("mad_cents"), col("outlier"))
      .orderBy("event_type", "day")
  }

  def captureRecapture(spark: SparkSession, dir: String): DataFrame =
    captureRecaptureOf(events(spark, dir))

  /** Graded q222: CAPTURE–RECAPTURE population estimate (Petersen
    * 1896; Lincoln 1930; Chapman's bias-corrected form, 1951) — the
    * third lens on "how many distinct users are there", beside the
    * exact count and the q26/q110 sketches: treat the stream's first
    * calendar half as the capture sample, the second as the
    * recapture, and estimate the population from the OVERLAP —
    * N̂_LP = n₁·n₂/m, N̂_Chapman = (n₁+1)(n₂+1)/(m+1) − 1. Because
    * the truth is computable here, the estimate ships NEXT TO it
    * with its signed error in ppm — the q153/q160
    * estimator-vs-truth discipline. The closure/independence
    * assumptions (no arrivals/departures between samples, equal
    * catchability) are exactly what a real stream violates; the
    * measured error IS the artifact — it quantifies how wrong the
    * textbook estimator runs on sticky user populations.
    *
    * Determinism: membership is one per-user (min, max) timestamp
    * aggregate against the integer midpoint (mn+mx) div 2; both
    * estimators are single floored divisions; the signed error
    * truncates toward zero (the verified shared convention). m = 0
    * surfaces a NULL Lincoln–Petersen honestly (Chapman was invented
    * for exactly that degeneracy).
    *
    * Scale shape: ONE map-side-combinable per-user aggregate; the
    * report is one row. At 100 TB this is the cheapest query in the
    * engine.
    */
  def captureRecaptureOf(evs: DataFrame): DataFrame = {
    // bounds derive from the per-user collapse (min of mins == global
    // min), so the stream is scanned exactly once — the round-13 fix
    // for a second bounds scan that an unrelated suite's leftover
    // cache had been masking
    val per = CachedStages.data(evs.groupBy("user_id")
      .agg(min(col("ts_sec")).as("t0"), max(col("ts_sec")).as("t1")))
    val bounds = per.agg(min(col("t0")).as("mn"),
      max(col("t1")).as("mx"))
    per.crossJoin(broadcast(bounds))
      .select(
        expr("CASE WHEN t0 <= (mn + mx) div 2 THEN 1L ELSE 0L END")
          .as("in1"),
        expr("CASE WHEN t1 > (mn + mx) div 2 THEN 1L ELSE 0L END")
          .as("in2"))
      .agg(count(lit(1)).as("n_true"), sum(col("in1")).as("n1"),
        sum(col("in2")).as("n2"), sum(expr("in1 * in2")).as("m"))
      .withColumn("lp_est", expr(
        """CAST(CAST(n1 AS DECIMAL(38, 0)) * n2 div nullif(m, 0)
          | AS BIGINT)""".stripMargin))
      .withColumn("chapman_est", expr(
        """CAST(CAST(n1 + 1 AS DECIMAL(38, 0)) * (n2 + 1) div (m + 1)
          | - 1 AS BIGINT)""".stripMargin))
      .withColumn("chapman_err_ppm", expr(
        "(chapman_est - n_true) * 1000000 div n_true"))
      .select("n1", "n2", "m", "n_true", "lp_est", "chapman_est",
        "chapman_err_ppm")
  }

  /** χ²₀.₉₅ critical values × 10⁶ for df = 1..120 (the standard
    * table; computed once from the regularized incomplete gamma and
    * checked against the published values to 6 decimals). Shared by
    * the q192 operator and its oracle so the verdict constant cannot
    * desynchronize.
    */
  private[graft] val Chi2Crit95Ppm: Seq[Long] = Seq(
    3841459L, 5991465L, 7814728L, 9487729L, 11070498L, 12591587L,
    14067140L, 15507313L, 16918978L, 18307038L, 19675138L, 21026070L,
    22362032L, 23684791L, 24995790L, 26296228L, 27587112L, 28869299L,
    30143527L, 31410433L, 32670573L, 33924438L, 35172462L, 36415029L,
    37652484L, 38885139L, 40113272L, 41337138L, 42556968L, 43772972L,
    44985343L, 46194260L, 47399884L, 48602367L, 49801850L, 50998460L,
    52192320L, 53383541L, 54572228L, 55758479L, 56942387L, 58124038L,
    59303512L, 60480887L, 61656233L, 62829620L, 64001112L, 65170769L,
    66338649L, 67504807L, 68669294L, 69832160L, 70993453L, 72153216L,
    73311493L, 74468324L, 75623748L, 76777803L, 77930524L, 79081944L,
    80232098L, 81381015L, 82528727L, 83675261L, 84820645L, 85964907L,
    87108072L, 88250164L, 89391208L, 90531225L, 91670239L, 92808270L,
    93945340L, 95081467L, 96216671L, 97350970L, 98484383L, 99616927L,
    100748619L, 101879474L, 103009509L, 104138738L, 105267177L, 106394840L,
    107521741L, 108647893L, 109773309L, 110898003L, 112021986L, 113145270L,
    114267868L, 115389790L, 116511047L, 117631651L, 118751612L, 119870939L,
    120989644L, 122107735L, 123225221L, 124342113L, 125458419L, 126574148L,
    127689308L, 128803908L, 129917955L, 131031458L, 132144425L, 133256862L,
    134368777L, 135480178L, 136591071L, 137701464L, 138811363L, 139920774L,
    141029704L, 142138160L, 143246147L, 144353672L, 145460740L, 146567358L)

  def weekdayChi2(spark: SparkSession, dir: String): DataFrame =
    weekdayChi2Of(events(spark, dir))

  /** Graded q192: χ² INDEPENDENCE TEST on the (event type × weekday)
    * contingency table (Pearson 1900) — the formal answer to the
    * question q182's seasonality profile eyeballs: does the event-type
    * mix DEPEND on the weekday at the 5% level? Per cell: observed
    * count, expected count and χ² contribution in micro units, with
    * the table-level statistic, df = (R−1)(C−1), the shared
    * `Chi2Crit95Ppm` critical value, and the verdict repeated in every
    * row (the q181 discipline — one homogeneous graded artifact).
    *
    * Integer determinism with BOUNDED intermediates: expected_micro =
    * r·c·10⁶ div n (≤10³⁰ for a 10¹²-row stream — inside DECIMAL(38)/
    * HUGEINT where the textbook (oN−rc)² form would need 10⁴⁸), then
    * contrib_micro = (o·10⁶ − expected_micro)² div expected_micro —
    * the one extra floor is identical in both engines, which is what
    * the gate grades. Cells whose expectation floors below 1 micro
    * are skipped (the sparse-cell guard; the textbook "expected ≥ 5"
    * rule is stronger still). Zero-observed cells INSIDE the nonzero
    * grid participate — dropping them understates the statistic.
    *
    * Scale shape: one events scan collapses to the ≤ R×7 observed
    * matrix with map-side combine; margins, the grid, and the summary
    * are model-sized crossJoin(broadcast) compositions.
    */
  def weekdayChi2Of(evs: DataFrame): DataFrame =
    chi2Of(evs.select(col("event_type"),
        expr("pmod(ts_sec div 86400 + 3, 7)").as("weekday"))
      .groupBy("event_type", "weekday").agg(count(lit(1)).as("observed")),
      "event_type", "weekday", "dependent")

  /** Shared χ² independence engine over an `(k1, k2, observed)` count
    * table — the q192 bounded-intermediate cell chain (see its
    * scaladoc), reused by q199's drift test with different axes and
    * verdict name.
    */
  private[graft] def chi2Of(obsIn: DataFrame, k1: String, k2: String,
      verdict: String): DataFrame = {
    val obs = CachedStages.model(obsIn)
    val rowM = obs.groupBy(k1).agg(sum(col("observed")).as("r"))
    val colM = obs.groupBy(k2).agg(sum(col("observed")).as("c"))
    val tot = obs.agg(sum(col("observed")).as("n"),
      countDistinct(col(k1)).as("nr"),
      countDistinct(col(k2)).as("nc"))
    val cells = CachedStages.model(rowM.crossJoin(broadcast(colM))
      .join(obs, Seq(k1, k2), "left")
      .na.fill(0L, Seq("observed"))
      .crossJoin(broadcast(tot))
      .withColumn("expected_micro", expr(
        "CAST(CAST(r AS DECIMAL(38, 0)) * c * 1000000 div n AS BIGINT)"))
      .withColumn("contrib_micro", expr(
        """CAST((CAST(observed AS DECIMAL(38, 0)) * 1000000
          |   - expected_micro)
          | * (CAST(observed AS DECIMAL(38, 0)) * 1000000
          |   - expected_micro)
          | div nullif(expected_micro, 0) AS BIGINT)""".stripMargin)))
    val summary = cells.agg(sum(col("contrib_micro")).as("chi2_micro"),
        max(expr("(nr - 1) * (nc - 1)")).as("df"))
      .withColumn("crit_micro", expr(
        s"""CAST(try_element_at(array(${Chi2Crit95Ppm.mkString(",")}),
           |CAST(df AS INT)) AS BIGINT)""".stripMargin))
      .withColumn(verdict, expr(
        """CASE WHEN crit_micro IS NULL THEN CAST(NULL AS BIGINT)
          |     WHEN chi2_micro > crit_micro THEN CAST(1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
    cells.select(k1, k2, "observed", "expected_micro", "contrib_micro")
      .crossJoin(broadcast(summary))
      .select(k1, k2, "observed", "expected_micro", "contrib_micro",
        "chi2_micro", "df", "crit_micro", verdict)
      .orderBy(k1, k2)
  }

  def valueDriftChi2(spark: SparkSession, dir: String): DataFrame =
    valueDriftChi2Of(events(spark, dir))

  /** Graded q199: VALUE-DISTRIBUTION DRIFT test — χ² HOMOGENEITY of
    * the purchase-amount histogram between the stream's first and
    * second calendar half (split at mid = (mn+mx+1) div 2): the
    * formal "did the spend distribution shift?" monitor behind every
    * model-retrain trigger, complementing q141's token TV-distance
    * (which measures magnitude, not significance) and q192's
    * independence test (same engine, different axes: here df = B−1
    * over $10 amount bands). A stationary stream must NOT flag —
    * the graded verdict on this synthetic feed is 0, the control;
    * the spec plants a shifted second half that must.
    *
    * Scale shape: one events scan filtered to purchases collapses to
    * the (half, band) table — bounded by 2 × the amount's value
    * domain; everything downstream is the shared q192 cell chain on
    * model-sized frames.
    */
  def valueDriftChi2Of(evs: DataFrame): DataFrame = {
    val p = CachedStages.data(evs
      .filter(col("event_type") === "purchase")
      .select(expr("ts_sec div 86400").as("day"),
        expr("CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT) " +
          "div 1000").as("band")))
    val mid = p.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val obs = p.crossJoin(broadcast(mid))
      .select(expr("IF(day < mid, 'h1', 'h2')").as("half"), col("band"))
      .groupBy("half", "band").agg(count(lit(1)).as("observed"))
    chi2Of(obs, "half", "band", "drifted")
  }

  def interarrivalDispersion(spark: SparkSession, dir: String): DataFrame =
    interarrivalDispersionOf(events(spark, dir))

  /** Graded q198: INTER-ARRIVAL DISPERSION test (Cox & Lewis 1966,
    * the statistical analysis of series of events) — is each event
    * type's per-user arrival process Poisson-like? For an exponential
    * inter-arrival distribution CV = 1 exactly, so the squared
    * coefficient of variation of the gaps is the index: CV² < 1 means
    * REGULAR (scheduled/batched emission — a bot or a cron), CV² > 1
    * BURSTY (sessions, feast-and-famine), ≈ 1 memoryless. Gaps form
    * per (user, type) ordered stream — the q12 sessionization shape,
    * every window bounded by one user's history, never a global sort.
    *
    * Integer exactness: gaps in whole seconds;
    * cv2_micro = (n·Σg² − S²)·10⁶ div S² in DECIMAL(38)/HUGEINT (a
    * 10¹²-gap stream stays inside); mean floored once. The class
    * bands (±10% around 1) are the documented contract.
    *
    * Scale shape: one events scan, one (user, type)-keyed window for
    * the lag, then a per-type map-side-combinable moment aggregate;
    * |types| output rows.
    */
  def interarrivalDispersionOf(evs: DataFrame): DataFrame = {
    // ts-only ordering is enough: the gap MULTISET is the consecutive
    // differences of the sorted ts list, invariant under tie order
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_sec").asc)
    val gaps = evs.select(col("user_id"), col("event_type"),
        col("ts_sec"))
      .withColumn("prev", lag(col("ts_sec"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("ts_sec") - col("prev")).as("g"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("s1"),
        sum(expr("CAST(g AS DECIMAL(38, 0)) * g")).as("s2"))
      .withColumn("mean_gap_sec", expr("s1 div n_gaps"))
      .withColumn("cv2_micro", expr(
        """CAST((CAST(n_gaps AS DECIMAL(38, 0)) * s2
          | - CAST(s1 AS DECIMAL(38, 0)) * s1) * 1000000
          | div nullif(CAST(s1 AS DECIMAL(38, 0)) * s1, 0) AS BIGINT)"""
          .stripMargin))
      .withColumn("dispersion", expr(
        """CASE WHEN cv2_micro IS NULL THEN 'degenerate'
          |     WHEN cv2_micro < 900000 THEN 'regular'
          |     WHEN cv2_micro <= 1100000 THEN 'poisson_like'
          |     ELSE 'bursty' END""".stripMargin))
      .select(col("event_type"), col("n_gaps"),
        expr("CAST(s1 AS BIGINT)").as("sum_gap_sec"),
        col("mean_gap_sec"), col("cv2_micro"), col("dispersion"))
      .orderBy("event_type")
  }

  def domProfile(spark: SparkSession, dir: String): DataFrame =
    domProfileOf(events(spark, dir))

  /** Graded q205: DAY-OF-MONTH revenue profile — the paycheck-effect
    * companion to q182's weekday profile, with the normalization q182
    * doesn't need: day-of-month OCCURRENCE counts are unequal (the
    * 31st exists in only seven months a year, the 29th skips most
    * Februaries), so a raw per-dom total confounds calendar frequency
    * with behavior. Per (type, dom): revenue cents, the dom's
    * occurrence count in the GLOBAL calendar span, and the index vs
    * the type's overall per-day mean as one cross-multiplied integral
    * division — cents·total_days·10⁶ div (occ·total_cents) in
    * DECIMAL(38)/HUGEINT. The peak dom flags per type with a fully
    * pinned (index desc, dom asc) tie-break.
    *
    * Scale shape: one events collapse to the ≤|types|·31 matrix;
    * the dom-occurrence spine derives from the broadcast calendar
    * bounds; the peak resolution is a |types|-row broadcast join.
    */
  def domProfileOf(evs: DataFrame): DataFrame = {
    val daily = CachedStages.model(evs
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val calendar = CachedStages.model(bounds
      .select(explode(expr("sequence(mn, mx)")).as("day"))
      .withColumn("dom", expr(
        "CAST(dayofmonth(date_add(DATE '1970-01-01', " +
          "CAST(day AS INT))) AS BIGINT)")))
    val occ = calendar.groupBy("dom").agg(count(lit(1)).as("occ"))
    val typeTot = daily.groupBy("event_type")
      .agg(sum(col("cents")).as("tot_cents"))
      .crossJoin(broadcast(
        calendar.agg(count(lit(1)).as("total_days"))))
    val byDom = daily.join(broadcast(calendar), Seq("day"))
      .groupBy("event_type", "dom")
      .agg(sum(col("cents")).as("cents"))
    // persisted: traversed twice (peak rollup + final join) — the
    // round-18 DupExec sweep caught the unpersisted chain executing
    // its join+aggregate subtree twice (30-node subtree x2)
    val idx = CachedStages.model(byDom.join(broadcast(occ), Seq("dom"))
      .join(broadcast(typeTot), Seq("event_type"))
      .withColumn("idx_ppm", expr(
        """CAST(CAST(cents AS DECIMAL(38, 0)) * total_days * 1000000
          | div (CAST(occ AS DECIMAL(38, 0))
          |      * nullif(tot_cents, 0)) AS BIGINT)""".stripMargin)))
    val peak = idx.groupBy("event_type")
      .agg(max(expr("idx_ppm * 100 - dom")).as("pk"))
    idx.join(broadcast(peak), Seq("event_type"))
      .withColumn("is_peak", expr(
        "IF(idx_ppm * 100 - dom = pk, CAST(1 AS BIGINT), " +
          "CAST(0 AS BIGINT))"))
      .select("event_type", "dom", "cents", "occ", "idx_ppm", "is_peak")
      .orderBy("event_type", "dom")
  }

  def newVsReturning(spark: SparkSession, dir: String): DataFrame =
    newVsReturningOf(events(spark, dir))

  /** Graded q184: NEW vs RETURNING daily actives — the growth
    * dashboard's second row after q165's DAU: of each day's distinct
    * active users, how many are first-seen that day (acquisition) vs
    * seen before (retention), with the returning share in ppm. The
    * split is exact: a user's first-seen day comes from one min
    * aggregate (q163's exact branch), and each (user, day) activity
    * fact classifies by comparison — no window over the event stream.
    *
    * Scale shape: one events scan collapses to the distinct
    * (user, day) matrix; the |users|-row first-seen table joins back
    * user-keyed (co-partitioned with the matrix); the rollup is
    * |days| rows.
    */
  def newVsReturningOf(evs: DataFrame): DataFrame = {
    val ud = CachedStages.data(evs
      .select(col("user_id"), expr("ts_sec div 86400").as("day"))
      .distinct())
    val firstSeen = ud.groupBy("user_id").agg(min(col("day")).as("f"))
    ud.join(firstSeen, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("dau"),
        sum(when(col("day") === col("f"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") > col("f"), 1L).otherwise(0L))
          .as("n_returning"))
      .withColumn("returning_ppm",
        expr("n_returning * 1000000 div dau"))
      .orderBy("day")
  }

  def typeCooccurrence(spark: SparkSession, dir: String): DataFrame =
    typeCooccurrenceOf(events(spark, dir)
      .select(col("user_id"), expr("ts_sec div 86400").as("day"),
        col("event_type")))

  /** Graded q250: EVENT-TYPE CO-OCCURRENCE LIFT over (user, day)
    * baskets — the behavioral-affinity matrix beside q142's
    * order-basket rules and q116's SEQUENTIAL transitions: do two
    * activities happen in the same user-day more often than
    * independence predicts? lift = P(a∧b)/(P(a)P(b)) cross-multiplies
    * exactly to n_ab·N·10⁶ div (n_a·n_b) (10⁶ = independent, above =
    * affinity, below = substitutes/segmentation — the q239 ARI
    * lesson in basket form), with the Jaccard n_ab·10⁶ div
    * (n_a+n_b−n_ab) beside it. Pairs enumerate INSIDE each basket's
    * distinct-type set (≤C(|types|,2) per basket — |types| is a
    * 5-value enum, never data-sized).
    *
    * Scale shape: one events scan → distinct (user, day, type) →
    * within-basket pair self-join (enum-bounded fan-out) → one
    * combinable pair count; marginals and the basket total ride
    * broadcasts of the same persisted distinct set.
    */
  def typeCooccurrenceOf(evs: DataFrame): DataFrame = {
    val bt = CachedStages.data(
      evs.select("user_id", "day", "event_type").distinct())
    val nTot = bt.select("user_id", "day").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val marg = CachedStages.model(bt.groupBy("event_type")
      .agg(count(lit(1)).as("m")))
    bt.as("a").join(bt.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("m").as("n_a"))), Seq("type_a"))
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("m").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nTot))
      .withColumn("lift_ppm", expr(
        """CAST(CAST(n_ab AS DECIMAL(38, 0)) * n_baskets * 1000000
          | div (CAST(n_a AS DECIMAL(38, 0)) * n_b) AS BIGINT)"""
          .stripMargin))
      .withColumn("jaccard_ppm", expr(
        "n_ab * 1000000 div (n_a + n_b - n_ab)"))
      .select("type_a", "type_b", "n_ab", "n_a", "n_b", "n_baskets",
        "lift_ppm", "jaccard_ppm")
      .orderBy("type_a", "type_b")
  }

  def userDispersion(spark: SparkSession, dir: String): DataFrame =
    userDispersionOf(events(spark, dir)
      .select(col("event_type"), col("user_id")))

  /** Graded q245: PER-USER COUNT OVERDISPERSION per event type — the
    * index of dispersion (variance-to-mean, "Fisher's index") of how
    * many events each ACTIVE user generates: 1000 milli = Poisson
    * (homogeneous users), ≫1000 = a heavy-user/bot tail (the q237
    * night-share signature seen from the user axis), <1000 =
    * suspiciously uniform (scripted round-robin). Exact integers off
    * the per-user count histogram: ID_milli = (nΣc²−S²)·1000 div
    * (nS) (population variance over mean, cross-multiplied in
    * DECIMAL(38)); the max-user share in ppm ships beside it — the
    * one user a dispersion spike usually IS. Denominator S ≥ n ≥ 1
    * over active users, so no null guard is needed; single-user
    * types give ID 0 honestly.
    *
    * Scale shape: two nested map-side-combinable collapses (events →
    * per-user counts → per-type moments); the max-user pick is a
    * |types|-row broadcast of the same persisted count table.
    */
  def userDispersionOf(evs: DataFrame): DataFrame = {
    val per = CachedStages.data(evs
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("c")))
    val top = per
      .withColumn("pick", row_number().over(Window
        .partitionBy("event_type")
        .orderBy(col("c").desc, col("user_id").asc)))
      .filter(col("pick") === 1)
      .select(col("event_type"), col("user_id").as("top_user"),
        col("c").as("top_n"))
    per.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"),
        sum(expr("CAST(c AS DECIMAL(38, 0)) * c")).as("sq"))
      .join(broadcast(top), Seq("event_type"))
      .withColumn("mean_milli", expr("n_events * 1000 div n_users"))
      .withColumn("dispersion_milli", expr(
        """CAST((CAST(n_users AS DECIMAL(38, 0)) * sq
          | - CAST(n_events AS DECIMAL(38, 0)) * n_events) * 1000
          | div (CAST(n_users AS DECIMAL(38, 0)) * n_events)
          | AS BIGINT)""".stripMargin))
      .withColumn("top_share_ppm", expr(
        "top_n * 1000000 div n_events"))
      .select("event_type", "n_users", "n_events", "mean_milli",
        "dispersion_milli", "top_user", "top_share_ppm")
      .orderBy("event_type")
  }

  def loadProfile(spark: SparkSession, dir: String): DataFrame =
    loadProfileOf(events(spark, dir)
      .select(col("event_type"),
        expr("(ts_sec div 3600) % 24").as("hour")))

  /** Graded q237: HOUR-OF-DAY LOAD PROFILE per event type — the
    * capacity-planning grain that completes the calendar trio (q182
    * weekday, q205 day-of-month): a stream that serves 4× its mean at
    * peak hour is sized by the PEAK, and a pipeline whose "user"
    * traffic concentrates at 03:00 is a bot signature. Per type, off
    * the 24-bucket hour histogram: the peak hour (smallest-hour tie
    * rule), peak-to-mean in milli (peak·24·1000 div n — mean is over
    * the FIXED 24 buckets, silent hours count), the hour-concentration
    * HHI Σn_h²·10⁶ div n² (q162's index on the hour dimension —
    * 41667 ppm = flat, 10⁶ = single-hour), and the 00–05 night share
    * in ppm. All exact one-floor integers.
    *
    * Scale shape: one events scan collapses map-side into ≤24·|types|
    * histogram rows; everything downstream is |types|-sized. The
    * cheapest profile in the engine beside q222.
    */
  def loadProfileOf(evs: DataFrame): DataFrame = {
    val byHour = CachedStages.model(evs
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n")))
    val peaks = byHour
      .withColumn("pick", row_number().over(Window
        .partitionBy("event_type")
        .orderBy(col("n").desc, col("hour").asc)))
      .filter(col("pick") === 1)
      .select(col("event_type"), col("hour").as("peak_hour"),
        col("n").as("peak_n"))
    byHour.groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        sum(expr("CAST(n AS DECIMAL(38, 0)) * n")).as("sq"),
        sum(when(col("hour") < 6, col("n")).otherwise(0L))
          .as("n_night"))
      .join(broadcast(peaks), Seq("event_type"))
      .withColumn("peak_to_mean_milli", expr(
        "peak_n * 24 * 1000 div n_events"))
      .withColumn("hhi_ppm", expr(
        """CAST(sq * 1000000 div (CAST(n_events AS DECIMAL(38, 0))
          | * n_events) AS BIGINT)""".stripMargin))
      .withColumn("night_ppm", expr(
        "n_night * 1000000 div n_events"))
      .select("event_type", "n_events", "peak_hour", "peak_n",
        "peak_to_mean_milli", "hhi_ppm", "night_ppm")
      .orderBy("event_type")
  }

  def seasonalStrength(spark: SparkSession, dir: String): DataFrame =
    seasonalStrengthOfDaily(events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** Graded q242: WEEKDAY SEASONAL STRENGTH per event type — the
    * single number q182's seven-row profile doesn't give: how much of
    * the daily-revenue variance does the weekday EXPLAIN (Hyndman's
    * seasonal-strength idea as a one-way η², the q238 variance
    * decomposition run with weekday as the factor)? η² ≈ 0 says
    * deseasonalizing is pointless; η² near 1 says a weekday-naive
    * forecast (q173's seasonal arm) is already most of the signal.
    * Same floored-mean computational form as q238 — B =
    * Σ_dow (S_g div n_g)·S_g − (S div n)·S, T = Q − corr,
    * η²_ppm = max(0,B)·10⁶ div T, products in DECIMAL(38) — and the
    * same DENSIFIED calendar as q182 (silent days are real zeros and
    * drag their weekday). Constant series surface NULL via nullif.
    *
    * Scale shape: NINTH consumer of the (type, day) matrix; the
    * decomposition collapses it to ≤7·|types| moment rows, then
    * |types| report rows.
    */
  def seasonalStrengthOfDaily(dailyIn: DataFrame): DataFrame = {
    // the matrix feeds the bounds, the type list and the join —
    // persisted so the stream collapses exactly once
    val daily = CachedStages.model(dailyIn)
    val bounds = daily.agg(min(col("day")).as("mn"),
      max(col("day")).as("mx"))
    val calendar = bounds.select(explode(expr("sequence(mn, mx)")).as("day"))
    daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents"))
      .groupBy(col("event_type"), expr("(day + 3) % 7").as("dow"))
      .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("s_g"),
        sum(expr("CAST(cents AS DECIMAL(38, 0)) * cents")).as("q_g"))
      .groupBy("event_type")
      .agg(sum(col("n_g")).as("n_days"),
        sum(col("s_g")).as("s"), sum(col("q_g")).as("q"),
        sum(expr(
          "CAST(s_g div n_g AS DECIMAL(38, 0)) * s_g")).as("gterms"))
      .withColumn("corr", expr(
        "CAST(s div n_days AS DECIMAL(38, 0)) * s"))
      .withColumn("eta2_ppm", expr(
        """CAST(greatest(gterms - corr, 0) * 1000000
          | div nullif(q - corr, 0) AS BIGINT)""".stripMargin))
      .withColumn("mean_cents", expr("s div n_days"))
      .select("event_type", "n_days", "mean_cents", "eta2_ppm")
      .orderBy("event_type")
  }

  def weekdayProfile(spark: SparkSession, dir: String): DataFrame =
    weekdayProfileOfDaily(events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** Graded q182: WEEKDAY SEASONALITY profile — the per-(type, weekday)
    * index behind q173's seasonal-naive arm and every staffing/alerting
    * calendar: `index_ppm = (dow mean daily revenue) ·10⁶ div (overall
    * mean daily revenue)` as one cross-multiplied integral division
    * (`sum_dow·n_days_all·10⁶ div (n_days_dow·sum_all)`), with the
    * type's peak weekday flagged. Weekdays are `(epoch_day + 3) % 7`
    * (0 = Monday — epoch day 0 was a Thursday), computed on the
    * DENSIFIED calendar so silent days drag their weekday's mean like
    * the real world does.
    *
    * Scale shape: the fourth consumer of the (type, day) matrix the
    * q172/q173 twin streams — one events collapse, a ≤7·|types| rollup,
    * DECIMAL(38) cross products, peak by broadcast-joined max.
    */
  def weekdayProfileOfDaily(daily: DataFrame): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val calendar = bounds.select(explode(expr("sequence(mn, mx)")).as("day"))
    val dense = daily.select("event_type").distinct()
      .crossJoin(broadcast(calendar))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("cents"))
      .withColumn("dow", expr("(day + 3) % 7"))
    val byDow = CachedStages.model(dense
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_days"), sum(col("cents")).as("cents")))
    val totals = byDow.groupBy("event_type")
      .agg(sum(col("n_days")).as("n_all"), sum(col("cents")).as("s_all"))
    // persisted: traversed twice (peaks rollup + final join) — caught
    // by the round-18 DupExec sweep as a duplicated join subtree
    val indexed = CachedStages.model(byDow
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("index_ppm", expr(
        """CAST(CAST(cents AS DECIMAL(38, 0)) * n_all * 1000000
          | div nullif(CAST(n_days AS DECIMAL(38, 0)) * s_all, 0)
          | AS BIGINT)""".stripMargin)))
    val peaks = indexed.groupBy("event_type")
      .agg(max(col("index_ppm")).as("peak_ppm"))
    indexed.join(broadcast(peaks), Seq("event_type"))
      .withColumn("is_peak",
        (col("index_ppm") === col("peak_ppm")).cast("long"))
      .select("event_type", "dow", "n_days", "cents", "index_ppm",
        "is_peak")
      .orderBy("event_type", "dow")
  }

  def theilSenTrend(spark: SparkSession, dir: String): DataFrame =
    theilSenTrendOf(events(spark, dir))

  /** Graded q172: THEIL–SEN robust daily-revenue trend per event type
    * (Theil 1950; Sen, JASA 1968 — the median of all pairwise slopes),
    * with the OLS slope alongside: the least-squares line a single
    * corrupted day drags arbitrarily far, the Theil–Sen median shrugs
    * off (29% breakdown point). The pair in one report is the outlier
    * diagnostic itself — when they disagree, trust the median and go
    * find the day that broke the mean.
    *
    * Determinism: slopes are `(Δcents·10⁶) div Δdays` — integral
    * division, truncation toward zero on negatives (verified identical
    * in Spark `div`, DuckDB `//`, and the spec's BigInt replay); the
    * median is the ceil-rank pick over the slope value-domain
    * histogram; OLS runs as DECIMAL(38) cross products with ONE final
    * integral division.
    *
    * Scale shape: the event stream collapses ONCE into the
    * (type, day) revenue matrix — bounded by the calendar, not the
    * stream — and every pair, histogram, and moment forms over that
    * model-sized matrix. At 100 TB the |days|² pair fan-out is ≤134k
    * rows per type per year; the stream is touched exactly once.
    */
  def theilSenTrendOf(evs: DataFrame): DataFrame =
    theilSenTrendOfDaily(evs
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** q172 over an already-aggregated `(event_type, day, cents)` matrix
    * — split out so the streaming twin's maintained daily-revenue state
    * (EventStreams.dailyRevenueStream) feeds the IDENTICAL arithmetic.
    */
  def theilSenTrendOfDaily(dailyIn: DataFrame): DataFrame = {
    val daily = CachedStages.model(dailyIn)
    // DELIBERATELY NOT spread like kendallTauOfDaily/mannKendallOfDaily
    // (round 21, attempted and reverted twice): their pair kernels
    // collapse map-side to |types| rows, so the round-robin spread is
    // free; THIS kernel feeds the per-(type, slope) histogram whose
    // keys are nearly unique per day pair, so partial aggregation
    // cannot reduce the spread's 32 map outputs and the merge re-pays
    // the whole key space (interleaved A/B at sf0.1/local[32]: 0.40 s
    // as-is, 0.66 s spread, 0.77 s spread + wide hist). A calendar big
    // enough to flip the trade (|days|² generation dominating) also
    // makes the slope histogram exchange-bound — revisit both together.
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        expr("(b.cents - a.cents) * 1000000 div (b.day - a.day)")
          .as("slope_micro"))
    val hist = CachedStages.model(pairs
      .groupBy("event_type", "slope_micro").agg(count(lit(1)).as("cnt")))
    val totals = hist.groupBy("event_type")
      .agg(sum(col("cnt")).as("n_pairs"))
    val wc = Window.partitionBy("event_type")
      .orderBy(col("slope_micro").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val median = hist.withColumn("cum", sum(col("cnt")).over(wc))
      .join(broadcast(totals), Seq("event_type"))
      .groupBy("event_type")
      .agg(max(col("n_pairs")).as("n_pairs"),
        min(when(expr("cum * 2 >= n_pairs"), col("slope_micro")))
          .as("median_slope_micro"))
    val ols = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("day")).as("sd"), sum(col("cents")).as("sy"),
        sum(expr("CAST(day AS DECIMAL(38, 0)) * day")).as("sdd"),
        sum(expr("CAST(day AS DECIMAL(38, 0)) * cents")).as("sdy"))
      .select(col("event_type"), col("n_days"), expr(
        """CAST((n_days * sdy - CAST(sd AS DECIMAL(38, 0)) * sy) * 1000000
          | div nullif(n_days * sdd - CAST(sd AS DECIMAL(38, 0)) * sd, 0)
          | AS BIGINT)""".stripMargin).as("ols_slope_micro"))
    median.join(ols, Seq("event_type"))
      .select("event_type", "n_days", "n_pairs", "median_slope_micro",
        "ols_slope_micro")
      .orderBy("event_type")
  }

  def mannKendallTrend(spark: SparkSession, dir: String): DataFrame =
    mannKendallOfDaily(events(spark, dir)
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(sum(expr(
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")))

  /** Graded q188: MANN–KENDALL trend test (Mann, Econometrica 1945;
    * Kendall's tau) per event type — the SIGNIFICANCE companion to
    * q172's Theil–Sen slope: S = Σ_{i<j} sign(xⱼ − xᵢ) counts
    * concordant-minus-discordant day pairs, the tie-corrected null
    * variance is Var(S) = [n(n−1)(2n+5) − Σₜ t(t−1)(2t+5)]/18
    * (Kendall's correction over tie groups t), and the 5% two-sided
    * verdict applies the continuity-corrected z = (|S|−1)/√Var —
    * sqrt- and division-free by cross-multiplying:
    * (|S|−1)²·18·10⁴ > 38416·var18 (z² = 1.96² = 3.8416), in
    * DECIMAL(38)/HUGEINT so a century-long calendar cannot overflow.
    * Kendall's tau itself ships in ppm: S·10⁶ div (n(n−1)/2),
    * truncation-toward-zero verified identical across engines (the
    * q172 discipline).
    *
    * Reads the SAME undensified (type, day, cents) matrix as q172 so
    * the robust slope and its significance test describe one series.
    *
    * Scale shape: pairs form over the CALENDAR-bounded matrix
    * (≤ |days|²/2 per type, never the event stream); ties and counts
    * are |types|-row aggregates of the persisted matrix joined back
    * broadcast-sized.
    */
  def mannKendallOfDaily(dailyIn: DataFrame): DataFrame = {
    val daily = CachedStages.model(dailyIn)
    // spread before the |days|² sign kernel (ADVICE r20): see
    // RankTests.kendallTauOfDaily — same fix
    val spread = daily.repartition(
      daily.sparkSession.sparkContext.defaultParallelism)
    val sStat = spread.as("a").join(broadcast(daily).as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(expr(
        """CASE WHEN b.cents > a.cents THEN CAST(1 AS BIGINT)
          |     WHEN b.cents < a.cents THEN CAST(-1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin)).as("s_stat"))
    val ties = daily.groupBy("event_type", "cents")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_sum"))
    daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      .join(broadcast(sStat), Seq("event_type"), "left")
      .join(broadcast(ties), Seq("event_type"))
      .withColumn("s_stat", expr("coalesce(s_stat, CAST(0 AS BIGINT))"))
      .withColumn("n_pairs", expr("n_days * (n_days - 1) div 2"))
      .withColumn("var18", expr(
        "n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum"))
      .withColumn("tau_ppm", expr(
        """CASE WHEN n_pairs = 0 THEN CAST(0 AS BIGINT)
          |     ELSE s_stat * 1000000 div n_pairs END""".stripMargin))
      .withColumn("trend", expr(
        """CASE WHEN s_stat = 0 THEN CAST(0 AS BIGINT)
          |     WHEN CAST(abs(s_stat) - 1 AS DECIMAL(38, 0))
          |          * (abs(s_stat) - 1) * 180000
          |        > CAST(38416 AS DECIMAL(38, 0)) * var18
          |     THEN IF(s_stat > 0, CAST(1 AS BIGINT), CAST(-1 AS BIGINT))
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .select("event_type", "n_days", "n_pairs", "s_stat", "tau_ppm",
        "var18", "trend")
      .orderBy("event_type")
  }

  def latenessProfile(spark: SparkSession, dir: String): DataFrame =
    latenessProfileOf(events(spark, dir))

  /** Graded q170: event-time LATENESS profile — the out-of-orderness
    * measurement that SIZES a Structured Streaming watermark: per
    * event, how far behind the maximum event-time already ARRIVED its
    * own event-time lags (`withWatermark`'s delay threshold must cover
    * the p95/p99 of exactly this distribution, or late rows drop).
    * The synthetic feed arrives in order (measured: zero lateness), so
    * the q164 two-layout discipline applies: arm `a_inorder` profiles
    * the true feed (the all-zeros verification arm) and arm
    * `b_jittered` the same events under a DETERMINISTIC bounded
    * ingestion delay (md5 jitter ≤ 1 h added to arrival, event-times
    * untouched) — the bounded-disorder regime a real collector
    * produces, hash-locked so every quantile is a property of the
    * rule. Per (arm, type): n, exact p50/p95/max lateness seconds and
    * the share a 600 s watermark would drop, in ppm.
    *
    * Exactness at scale: the running arrival-prefix event-time max is
    * computed TWO-PHASE — bounded windows inside minute-granular
    * arrival chunks plus a broadcast chunk-prefix-max table — which
    * equals the global ordered scan exactly (max is associative; chunk
    * granularity only tunes frame size, never the answer). Quantiles
    * are ceil-rank picks over the (arm, type)-keyed lateness-seconds
    * value-domain histogram (the q53 discipline; lateness is bounded
    * by the jitter cap, so the domain is ≤3600 values).
    */
  def latenessProfileOf(evs: DataFrame): DataFrame = {
    val base = evs.select(col("event_id"), col("event_type"), col("ts_us"))
    val jitter = "CAST(conv(substring(md5(concat('late:', " +
      "CAST(event_id AS STRING))), 1, 10), 16, 10) AS BIGINT) % 3600"
    val arms = base.withColumn("arm", lit("a_inorder"))
      .withColumn("arrival_us", col("ts_us"))
      .unionByName(base.withColumn("arm", lit("b_jittered"))
        .withColumn("arrival_us", expr(s"ts_us + ($jitter) * 1000000")))
    val chunked = arms.withColumn("chunk", expr("arrival_us div 60000000"))
    val wIn = Window.partitionBy("arm", "chunk")
      .orderBy(col("arrival_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // chunk-granular prefix maxima: a bounded table (|arms|·|minutes|)
    val chunkMax = chunked.groupBy("arm", "chunk")
      .agg(max(col("ts_us")).as("cmax"))
    val wCh = Window.partitionBy("arm").orderBy(col("chunk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = chunkMax
      .withColumn("pmax", max(col("cmax")).over(wCh))
      .select("arm", "chunk", "pmax")
    val late = chunked
      .withColumn("rmax_in", max(col("ts_us")).over(wIn))
      .join(broadcast(prefix), Seq("arm", "chunk"))
      .withColumn("late_sec", expr(
        "(greatest(rmax_in, coalesce(pmax, rmax_in)) - ts_us) div 1000000"))
    val hist = CachedStages.model(late
      .groupBy("arm", "event_type", "late_sec")
      .agg(count(lit(1)).as("cnt")))
    val wc = Window.partitionBy("arm", "event_type")
      .orderBy(col("late_sec").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = hist.groupBy("arm", "event_type")
      .agg(sum(col("cnt")).as("n_events"),
        max(col("late_sec")).as("max_late_sec"),
        sum(when(col("late_sec") > 600, col("cnt")).otherwise(0L))
          .as("n_over"))
    hist.withColumn("cum", sum(col("cnt")).over(wc))
      .join(broadcast(totals), Seq("arm", "event_type"))
      .groupBy(col("arm"), col("event_type"))
      .agg(max(col("n_events")).as("n_events"),
        min(when(expr("cum * 2 >= n_events"), col("late_sec")))
          .as("p50_late_sec"),
        min(when(expr("cum * 20 >= n_events * 19"), col("late_sec")))
          .as("p95_late_sec"),
        max(col("max_late_sec")).as("max_late_sec"),
        max(expr("n_over * 1000000 div n_events")).as("over_600s_ppm"))
      .orderBy("arm", "event_type")
  }

  def kmRetention(spark: SparkSession, dir: String): DataFrame =
    kmRetentionOf(events(spark, dir))

  /** Graded q169: KAPLAN–MEIER time-to-first-purchase — survival
    * analysis with right censoring (Kaplan & Meier, JASA 1958), the
    * statistically honest version of "how long until users convert":
    * users who never purchased are NOT dropped (that biases toward
    * fast converters) — they are CENSORED at the end of the
    * observation window and count in every risk set they survived
    * through. Per day-offset t since a user's first-seen day:
    * `n_at_risk` (users whose event-or-censor time is ≥ t),
    * `n_events` (first purchases at exactly t), `n_censored`,
    * `hazard_ppm = d·10⁶ div n`, and the KM survival curve
    * `km_ppm(t) = fold over steps ≤ t of acc·(n−d) div n` starting at
    * 10⁶ — the floored-integer product both engines replay exactly
    * (Spark as an `aggregate` HOF prefix-fold over the step list,
    * DuckDB as a linear recursive CTE).
    *
    * Determinism: offsets are integer day floors; every quantity is a
    * count; the only divisions are integral with non-negative
    * operands. The fold is O(|steps|²) pairs but |steps| is bounded
    * by the observation window in days — model-sized by construction.
    *
    * Scale shape: ONE events scan collapses to per-user
    * (first_day, first_purchase_day); the offset histogram is
    * value-domain bounded; the at-risk cumulative runs over that
    * bounded histogram (the documented Window.orderBy-on-histogram
    * site) and the step list broadcasts as one model-sized row.
    */
  def kmRetentionOf(evs: DataFrame): DataFrame = {
    val perUser = evs.groupBy("user_id").agg(
      min(expr("ts_sec div 86400")).as("first_day"),
      min(when(col("event_type") === "purchase",
        expr("ts_sec div 86400"))).as("purch_day"))
    val maxDay = evs.agg(max(expr("ts_sec div 86400")).as("max_day"))
    val subjects = perUser.crossJoin(broadcast(maxDay))
      .select(
        when(col("purch_day").isNotNull,
          col("purch_day") - col("first_day"))
          .otherwise(col("max_day") - col("first_day")).as("t"),
        col("purch_day").isNotNull.cast("long").as("e"))
    val hist = CachedStages.model(subjects.groupBy("t")
      .agg(sum(col("e")).as("d"),
        sum(lit(1L) - col("e")).as("c"),
        count(lit(1)).as("n_t")))
    val total = hist.agg(sum(col("n_t")).as("n_total"))
    // bounded-domain cumulative: strictly-before mass leaves the risk set
    val w = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // persisted: traversed twice (the collected step table + the final
    // fold) — caught by the round-18 DupExec sweep (7-node subtree x2)
    val risk = CachedStages.model(hist.crossJoin(broadcast(total))
      .withColumn("n_at_risk",
        col("n_total") - coalesce(sum(col("n_t")).over(w), lit(0L))))
    val steps = risk.agg(expr(
      "sort_array(collect_list(struct(t, n_at_risk, d)))").as("steps"))
    risk.crossJoin(broadcast(steps))
      .withColumn("km_ppm", expr(
        """aggregate(filter(steps, s -> s.t <= t), CAST(1000000 AS BIGINT),
          |(acc, s) -> acc * (s.n_at_risk - s.d) div s.n_at_risk)"""
          .stripMargin))
      .withColumn("hazard_ppm", expr("d * 1000000 div n_at_risk"))
      .select(col("t"), col("n_at_risk"), col("d").as("n_events"),
        col("c").as("n_censored"), col("hazard_ppm"), col("km_ppm"))
      .orderBy("t")
  }

  def rmst(spark: SparkSession, dir: String, tau: Int = 30): DataFrame =
    rmstOfKm(kmRetentionOf(events(spark, dir)), tau)

  /** Graded q249: RESTRICTED MEAN SURVIVAL TIME + median survival off
    * the q169 Kaplan–Meier curve (Royston & Parmar, BMC Med Res
    * Methodol 2013 made RMST the recommended KM summary; the
    * estimand is Irwin 1949's "standardised rate of dying") — the
    * ONE-NUMBER answers the q169 curve doesn't state: the median
    * time-to-first-purchase (smallest t with S(t) ≤ ½ — NULL while
    * more than half survive, honestly) and RMST(τ) = ∫₀^τ S(t)dt,
    * the expected purchase-free days in the first τ = 30 — the
    * number an activation team sizes nudge campaigns by. The KM
    * curve is a step function constant between event offsets, so the
    * integral is EXACT off the step list: Σ over day d ∈ [0, τ) of
    * S(d) with S carried forward from the last step ≤ d, S(pre-first
    * step) = 10⁶; rmst_milli_days = Σ S_ppm(d) div 1000 — one floor,
    * off the SAME floored km_ppm the q169 oracle replays.
    *
    * Scale shape: consumes the q169 per-step table (observation-
    * window bounded); the τ-day spine is a 30-row broadcast; the
    * carry-forward pick is max-over-steps-≤-d on that bounded grid.
    */
  def rmstOfKm(km: DataFrame, tau: Int): DataFrame = {
    val steps = CachedStages.model(km
      .select(col("t"), col("km_ppm"), col("n_at_risk"),
        col("n_events")))
    val nSubj = steps.agg(max(expr("n_at_risk")).as("n_subjects"))
    val median = steps.filter(col("km_ppm") <= 500000L)
      .agg(min(col("t")).as("median_t"))
    val spine = steps.sparkSession.range(0, tau)
      .select(col("id").as("d"))
    val curve = spine.join(broadcast(steps.select(
        col("t"), col("km_ppm"))), col("t") <= col("d"), "left")
      .groupBy("d")
      .agg(max(struct(col("t"), col("km_ppm"))).as("last"))
      .select(col("d"),
        expr("coalesce(last.km_ppm, CAST(1000000 AS BIGINT))")
          .as("s_ppm"))
    curve.agg(sum(col("s_ppm")).as("s_sum"))
      .crossJoin(broadcast(nSubj))
      .crossJoin(broadcast(median))
      .select(col("n_subjects"), lit(tau.toLong).as("tau_days"),
        col("median_t"),
        expr("s_sum div 1000").as("rmst_milli_days"))
  }

  def competingRisks(spark: SparkSession, dir: String): DataFrame =
    competingRisksOf(events(spark, dir), "error", "purchase")

  /** Graded q262: COMPETING-RISKS cumulative incidence (Aalen &
    * Johansen, Scand. J. Stat. 1978) — the estimand q169 cannot see:
    * KM treats one event and censors everything else, but when two
    * events COMPETE for the same user (first error vs first purchase
    * — does frustration absorb users before conversion does?),
    * 1 − KM_k overestimates every cause (Gooley et al., Stat. Med.
    * 1999). The honest curve is CIF_k(t) = Σ_{s≤t} S(s⁻)·d_k(s)/n(s)
    * with S the ALL-CAUSE survival — incidences that always sum with
    * survival to ≤ 1. Ties (both firsts the same day) attribute to
    * cause A by the pinned argument order; never-event users censor
    * at the window end, q169's convention.
    *
    * Determinism: one fused integer fold per output row carries
    * (surv, cif_a, cif_b) — surv multiplies (n−d_a−d_b) div n, each
    * CIF adds the PRE-step surv·d_k div n, all floored — Spark as a
    * struct-accumulator `aggregate` HOF over the broadcast step
    * list, DuckDB as the same three recurrences in one linear
    * recursive CTE (the kmCtes/holtSql discipline: the old surv
    * feeds the CIF terms before it updates).
    *
    * Scale shape: q169's exactly — one events scan to per-user
    * firsts, value-domain offset histogram, the one documented
    * bounded-histogram window, model-sized step list broadcast.
    */
  def competingRisksOf(evs: DataFrame, typeA: String,
      typeB: String): DataFrame = {
    val perUser = evs.groupBy("user_id").agg(
      min(expr("ts_sec div 86400")).as("first_day"),
      min(when(col("event_type") === typeA,
        expr("ts_sec div 86400"))).as("day_a"),
      min(when(col("event_type") === typeB,
        expr("ts_sec div 86400"))).as("day_b"))
    val maxDay = evs.agg(max(expr("ts_sec div 86400")).as("max_day"))
    val subjects = perUser.crossJoin(broadcast(maxDay))
      .withColumn("ea", expr(
        """CASE WHEN day_a IS NOT NULL
          |  AND (day_b IS NULL OR day_a <= day_b)
          |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"""
          .stripMargin))
      .withColumn("eb", expr(
        """CASE WHEN day_b IS NOT NULL
          |  AND (day_a IS NULL OR day_b < day_a)
          |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"""
          .stripMargin))
      .select(expr(
        """CASE WHEN ea = 1 OR eb = 1
          |  THEN least(day_a, day_b) - first_day
          |  ELSE max_day - first_day END""".stripMargin).as("t"),
        col("ea"), col("eb"))
    val hist = CachedStages.model(subjects.groupBy("t")
      .agg(sum(col("ea")).as("d_a"), sum(col("eb")).as("d_b"),
        sum(lit(1L) - col("ea") - col("eb")).as("c"),
        count(lit(1)).as("n_t")))
    val total = hist.agg(sum(col("n_t")).as("n_total"))
    val w = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // persisted: traversed twice (the collected step table + the final
    // fold) — caught by the round-18 DupExec sweep (7-node subtree x2)
    val risk = CachedStages.model(hist.crossJoin(broadcast(total))
      .withColumn("n_at_risk",
        col("n_total") - coalesce(sum(col("n_t")).over(w), lit(0L))))
    val steps = risk.agg(expr(
      "sort_array(collect_list(struct(t, n_at_risk, d_a, d_b)))")
      .as("steps"))
    risk.crossJoin(broadcast(steps))
      .withColumn("folded", expr(
        """aggregate(filter(steps, s -> s.t <= t),
          |  named_struct('surv', CAST(1000000 AS BIGINT),
          |    'ca', CAST(0 AS BIGINT), 'cb', CAST(0 AS BIGINT)),
          |  (acc, s) -> named_struct(
          |    'surv', acc.surv * (s.n_at_risk - s.d_a - s.d_b)
          |      div s.n_at_risk,
          |    'ca', acc.ca + acc.surv * s.d_a div s.n_at_risk,
          |    'cb', acc.cb + acc.surv * s.d_b div s.n_at_risk))"""
          .stripMargin))
      .select(col("t"), col("n_at_risk"), col("d_a"), col("d_b"),
        col("c").as("n_censored"),
        col("folded.surv").as("surv_ppm"),
        col("folded.ca").as("cif_a_ppm"),
        col("folded.cb").as("cif_b_ppm"))
      .orderBy("t")
  }

  def logRank(spark: SparkSession, dir: String): DataFrame = {
    val evs = events(spark, dir)
    val perUser = evs.groupBy("user_id").agg(
      min(expr("ts_sec div 86400")).as("first_day"),
      min(when(col("event_type") === "purchase",
        expr("ts_sec div 86400"))).as("purch_day"),
      // deterministic first action: earliest ts, alphabetical tie
      min(expr("struct(ts_us, event_type)")).getField("event_type")
        .as("first_type"))
    val maxDay = evs.agg(max(expr("ts_sec div 86400")).as("max_day"))
    logRankOf(perUser.crossJoin(broadcast(maxDay))
      .select(
        expr("IF(first_type = 'signup', " +
          "CAST(1 AS BIGINT), CAST(2 AS BIGINT))").as("grp"),
        when(col("purch_day").isNotNull,
          col("purch_day") - col("first_day"))
          .otherwise(col("max_day") - col("first_day")).as("t"),
        col("purch_day").isNotNull.cast("long").as("e")))
  }

  /** Graded q241: LOG-RANK TEST (Mantel 1966; Peto & Peto 1972)
    * between the early-adopter and late-adopter conversion cohorts —
    * the SIGNIFICANCE companion q169's Kaplan–Meier curve lacks: "the
    * curves look different" becomes a χ²(1) verdict. Cohorts split on
    * the user's FIRST ACTION — signup-first (the intended onboarding
    * path) vs everything else — the product question "does how they
    * arrive predict whether they convert"; the first action is the
    * deterministic (ts, type)-min, alphabetical on exact-tie.
    * Subjects carry the SAME right-censored (t, e) the KM curve
    * uses. At each event time: E₁ = d·n₁ div n in micro
    * (one floor per step), hypergeometric variance
    * V = d·n₁·n₂·(n−d)·10⁶ div (n²(n−1)) in DECIMAL(38) (zero when
    * the risk set is a single subject, per the textbook convention),
    * and the statistic χ²_micro = (O₁·10⁶ − ΣE₁)² div ΣV judged
    * against the shared `Chi2Crit95Ppm` head. Exact to ~10⁷ subjects
    * in 128 bits (bound documented).
    *
    * Scale shape: one events scan → per-user collapse → per-(cohort,
    * offset) histogram; the at-risk cumulatives are the q169
    * bounded-histogram windows run per cohort over the shared offset
    * spine; the verdict is a one-row fold. Everything after the
    * per-user collapse is calendar-bounded.
    */
  def logRankOf(subjects: DataFrame): DataFrame = {
    val hist = CachedStages.model(subjects.groupBy("grp", "t")
      .agg(sum(col("e")).as("d"), count(lit(1)).as("n_t")))
    val spine = hist.select("t").distinct()
    // persisted: broadcast into the risk grid AND the final subject
    // totals — unpersisted, the per-group rollup ran twice (round-18
    // DupExec sweep); 2 rows
    val totals = CachedStages.model(
      hist.groupBy("grp").agg(sum(col("n_t")).as("tot")))
    val w = Window.partitionBy("grp").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = spine.crossJoin(broadcast(totals))
      .join(hist, Seq("grp", "t"), "left")
      .na.fill(0L, Seq("d", "n_t"))
      .withColumn("at_risk",
        col("tot") - coalesce(sum(col("n_t")).over(w), lit(0L)))
    val byT = grid.groupBy("t")
      .agg(sum(when(col("grp") === 1L, col("at_risk"))).as("n1"),
        sum(when(col("grp") === 1L, col("d"))).as("d1"),
        sum(when(col("grp") === 2L, col("at_risk"))).as("n2"),
        sum(when(col("grp") === 2L, col("d"))).as("d2"))
      .na.fill(0L, Seq("n1", "d1", "n2", "d2"))
      .filter(expr("d1 + d2 > 0"))
      .withColumn("e1_micro", expr(
        """CAST((d1 + d2) AS DECIMAL(38, 0)) * n1 * 1000000
          | div (n1 + n2)""".stripMargin))
      .withColumn("v_micro", expr(
        """CASE WHEN n1 + n2 <= 1 THEN CAST(0 AS BIGINT)
          |  ELSE CAST(CAST((d1 + d2) AS DECIMAL(38, 0)) * n1 * n2
          |    * (n1 + n2 - d1 - d2) * 1000000
          |    div (CAST((n1 + n2) AS DECIMAL(38, 0)) * (n1 + n2)
          |         * (n1 + n2 - 1)) AS BIGINT) END""".stripMargin))
    byT.agg(sum(col("d1")).as("o1"), sum(col("d2")).as("o2"),
        sum(col("e1_micro")).as("e1_micro"),
        sum(col("v_micro")).as("v_micro"),
        count(lit(1)).as("n_event_times"))
      .crossJoin(broadcast(totals.groupBy()
        .agg(sum(when(col("grp") === 1L, col("tot"))).as("n1_subj"),
          sum(when(col("grp") === 2L, col("tot"))).as("n2_subj"))))
      .withColumn("chi2_micro", expr(
        """CAST((CAST(o1 AS DECIMAL(38, 0)) * 1000000 - e1_micro)
          | * (CAST(o1 AS DECIMAL(38, 0)) * 1000000 - e1_micro)
          | div nullif(v_micro, 0) AS BIGINT)""".stripMargin))
      .withColumn("significant", expr(
        s"""CASE WHEN chi2_micro IS NULL THEN CAST(NULL AS BIGINT)
           |  WHEN chi2_micro > ${Chi2Crit95Ppm.head}
           |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
           |END""".stripMargin))
      .select("n1_subj", "n2_subj", "n_event_times", "o1", "o2",
        "e1_micro", "v_micro", "chi2_micro", "significant")
  }

  def repeatPurchase(spark: SparkSession, dir: String): DataFrame =
    repeatPurchaseOf(events(spark, dir))

  /** Graded q166: REPEAT-PURCHASE lifecycle report — the commerce
    * retention row: how many buyers come back (repeat share in ppm)
    * and how long between consecutive purchases (exact median and p90
    * of the inter-purchase gap in whole days). q132 measures the
    * view→first-purchase delay (acquisition); this measures
    * purchase→next-purchase (retention) — the number subscription
    * cadence and replenishment marketing are tuned against.
    *
    * Determinism: gaps are integer day floors of µs differences over
    * the (ts_us, event_id)-ordered per-user purchase stream; the
    * quantiles are ceil-rank conditional mins over the gap
    * value-domain histogram (the q53/q128/q132 discipline — the
    * cumulative frame is bounded by |distinct gap lengths|, itself
    * bounded by the observation window in days).
    *
    * Scale shape: ONE purchase scan, one user-keyed window for the
    * lag (per-user frames are human-bounded purchase counts), then
    * the report derives entirely from the |gap-domain| histogram and
    * a |users|-rollup collapsed to one row.
    */
  def repeatPurchaseOf(evs: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val gaps = CachedStages.data(evs
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w)))
    val buyers = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"))
      .agg(count(lit(1)).as("n_buyers"),
        sum(when(col("n_purchases") >= 2, 1L).otherwise(0L))
          .as("n_repeat"))
    // persisted: traversed twice (cumulative window + gap total) —
    // caught by the round-18 DupExec sweep; gap-days bounded
    val hist = CachedStages.model(gaps.filter(col("prev_us").isNotNull)
      .select(expr("(ts_us - prev_us) div 86400000000").as("gap_days"))
      .groupBy("gap_days").agg(count(lit(1)).as("cnt")))
    val wg = Window.orderBy(col("gap_days").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = hist
      .withColumn("cum", sum(col("cnt")).over(wg))
      .crossJoin(broadcast(hist.agg(sum(col("cnt")).as("n_gaps"))))
      .agg(max(col("n_gaps")).as("n_gaps"),
        min(when(expr("cum * 2 >= n_gaps"), col("gap_days")))
          .as("median_gap_days"),
        min(when(expr("cum * 10 >= n_gaps * 9"), col("gap_days")))
          .as("p90_gap_days"))
    buyers.crossJoin(broadcast(q))
      .withColumn("repeat_ppm", expr("n_repeat * 1000000 div n_buyers"))
      .select("n_buyers", "n_repeat", "repeat_ppm", "n_gaps",
        "median_gap_days", "p90_gap_days")
  }

  def activeUsers(spark: SparkSession, dir: String): DataFrame =
    activeUsersOf(events(spark, dir))

  /** Graded q165: DAU / WAU / MAU / STICKINESS — the growth dashboard's
    * top row: per day, distinct users active that day, in the trailing
    * 7 days, and in the trailing 30, plus DAU·10⁶ div MAU (the
    * stickiness ratio product teams steer by). Exact counts: trailing
    * windows of DISTINCT users can't be summed from daily counts, so
    * each (user, day) activity fact is EXPANDED to the ≤7 (resp. ≤30)
    * window days it contributes to — a bounded generator (the factor
    * is the window length, fixed) followed by one exact distinct
    * aggregate per window; the standard exact formulation at scale,
    * with q163's mergeable-register path as the approximate fallback
    * when even ×30 expansion is too much. Early days report partial
    * (shorter-history) windows as-is — the dashboard convention.
    *
    * Scale shape: one events scan collapses into the persisted
    * (user, day) activity matrix (human-bounded: ≤366 rows per user
    * per year); the expansions are generators over that matrix clipped
    * to observed days by a broadcast semi-join; each aggregate is one
    * distinct-shuffle keyed by day.
    */
  def activeUsersOf(evs: DataFrame): DataFrame = {
    val ud = CachedStages.data(evs
      .select(col("user_id"), expr("ts_sec div 86400").as("day"))
      .distinct())
    // persisted: broadcast by BOTH trailing windows — unpersisted, the
    // distinct-days pass over the activity cache ran once per window
    // (round-18 DupExec sweep, x3)
    val days = CachedStages.model(ud.select("day").distinct())
    def windowed(span: Int, out: String): DataFrame =
      ud.select(col("user_id"),
          explode(expr(s"sequence(day, day + ${span - 1})")).as("day"))
        .join(broadcast(days), Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct(col("user_id")).as(out))
    ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
      .join(windowed(7, "wau"), Seq("day"))
      .join(windowed(30, "mau"), Seq("day"))
      .withColumn("stickiness_ppm", expr("dau * 1000000 div mau"))
      .orderBy("day")
  }

  /** q165's routing seam: `exact = true` is the graded bounded-expansion
    * path; `exact = false` is the sketch fallback below — the switch a
    * 100 TB deployment flips when even ×30 (user, day) expansion is too
    * much shuffle.
    */
  def activeUsersOf(evs: DataFrame, exact: Boolean): DataFrame =
    if (exact) activeUsersOf(evs) else activeUsersSketch(evs)

  /** The APPROXIMATE q165 (VERDICT r12 next-#5): DAU/WAU/MAU from
    * q163's mergeable daily HLL register tables instead of expanded
    * exact distincts. State is |days|·m register rows; a trailing
    * window of distinct users is the register-wise MAX over that
    * window's daily registers (sketch-union algebra — the whole point
    * of persisting mergeable state), evaluated as one RANGE-framed
    * window per register index so calendar gaps between observed days
    * never mis-span the frame. Each window then collapses through the
    * same integer estimator q110/q163 use. At 100 TB this touches the
    * events stream ONCE (the map-side-combined register build); every
    * window after that reads m rows per day.
    *
    * AccuracySpec (`q165 approx_ok`) bounds this path against the exact
    * operator per day and window.
    */
  def activeUsersSketch(evs: DataFrame, m: Int = 64,
      alphaPerMille: Long = 709L): DataFrame = {
    val kMax = 41 - Integer.numberOfTrailingZeros(m)
    val numerator = alphaPerMille * m.toLong * m.toLong * (1L << kMax)
    val daily = CachedStages.model(dailyUserRegisters(evs, m))
    // persisted: read by more than one downstream branch — unpersisted,
    // the distinct-days pass over the register cache ran once per
    // consumer (round-18 DupExec sweep)
    val days = CachedStages.model(daily.select("day").distinct())
    val joined = days.crossJoin(
        broadcast(evs.sparkSession.range(m).select(col("id").as("idx"))))
      .join(daily, Seq("day", "idx"), "left")
    def estimated(span: Int, out: String): DataFrame = {
      // RANGE frame on the integer day key: trailing `span` CALENDAR
      // days, robust to unobserved days; max ignores quiet-register
      // nulls, mirroring the merge semantics of sparse daily sketches
      val w = Window.partitionBy("idx").orderBy(col("day").asc)
        .rangeBetween(1L - span, 0)
      joined.withColumn("wm", max(col("mj")).over(w))
        .groupBy("day")
        .agg(sum(when(col("wm").isNotNull,
            expr(s"shiftleft(CAST(1 AS BIGINT), $kMax - wm)")))
          .as("s_present"),
          sum(when(col("wm").isNotNull, 1L).otherwise(0L))
            .as("n_present"))
        .select(col("day"), expr(
          s"$numerator div (1000 * (coalesce(s_present, 0L) + " +
            s"(${m.toLong} - n_present) * ${1L << kMax}))").as("raw"),
          (lit(m.toLong) - col("n_present")).as("v"))
        // small-range (linear-counting) correction — Flajolet et al.'s
        // standard regime switch: a DAU of dozens against m registers
        // leaves the raw harmonic estimator 2-4x high, while m·ln(m/V)
        // over the V empty registers is near-exact. The graded q110/
        // q163 estimators stay raw (their DuckDB oracles replay raw);
        // this fallback has no SQL oracle — its contract is the spec's
        // driver-side bit replay, which applies the identical rule.
        .select(col("day"),
          when(col("v") > 0 && col("raw") <= lit(5L * m / 2),
            expr(s"CAST(FLOOR($m * LN(CAST($m AS DOUBLE) / v)) AS BIGINT)"))
            .otherwise(col("raw")).as(out))
    }
    estimated(1, "dau")
      .join(estimated(7, "wau"), Seq("day"))
      .join(estimated(30, "mau"), Seq("day"))
      .withColumn("stickiness_ppm", expr("dau * 1000000 div mau"))
      .orderBy("day")
  }

  /** The (day, idx, mj) daily HLL register table over `user_id` —
    * q163's persisted sketch state, shared by the growth curve and the
    * q165 sketch fallback so both read ONE register build.
    */
  private[ops] def dailyUserRegisters(evs: DataFrame, m: Int): DataFrame = {
    val kMax = 41 - Integer.numberOfTrailingZeros(m)
    evs
      .select(expr("ts_sec div 86400").as("day"), col("user_id"))
      .select(col("day"), expr(
        "CAST(conv(substring(md5(concat('hll:', CAST(user_id AS STRING)))," +
          " 1, 10), 16, 10) AS BIGINT)").as("h"))
      .select(col("day"), (col("h") % m).as("idx"),
        expr(s"CASE WHEN h div $m = 0 THEN $kMax " +
          s"ELSE $kMax - length(bin(h div $m)) END").as("rho"))
      .groupBy("day", "idx").agg(max(col("rho")).as("mj"))
  }

  def hllGrowthCurve(spark: SparkSession, dir: String,
      m: Int = 64, alphaPerMille: Long = 709L): DataFrame =
    hllGrowthCurveOf(events(spark, dir), m, alphaPerMille)

  /** Graded q163: CUMULATIVE-DISTINCT GROWTH CURVE from merged daily
    * HLL sketches — the operation that justifies persisting sketch
    * state at all: per day, the distinct-users-so-far estimate is
    * derived by MERGING the daily register tables (register-wise max,
    * the q110 sketch's algebra) up to that day — no re-scan of any
    * prior day, which is how a 100 TB history answers "cumulative
    * audience by day" from |days|·m rows of state. The exact
    * cumulative distinct count rides along as the verification column
    * with the error in ppm.
    *
    * Determinism: the registers, the merge (a cumulative max over the
    * densified day×register grid — max ignores the nulls of quiet
    * registers), and the q110 integer estimator are all exact; the
    * grid is |days|·m rows by construction.
    *
    * Scale shape: ONE events scan collapses into the daily register
    * table (map-side-combined max); the grid cross of the |days|-row
    * day list with the m-row register index is model-sized; the
    * cumulative merge is a window over ≤ |days|-row frames per
    * register. The exact branch is one sorted-by-first-seen
    * aggregation (each user counts on their first day), joined back
    * by broadcast.
    */
  def hllGrowthCurveOf(evs: DataFrame, m: Int,
      alphaPerMille: Long): DataFrame = {
    val restBits = 40 - Integer.numberOfTrailingZeros(m)
    val kMax = restBits + 1
    val numerator = alphaPerMille * m.toLong * m.toLong * (1L << kMax)
    val daily = CachedStages.model(dailyUserRegisters(evs, m))
    // persisted: read by more than one downstream branch — unpersisted,
    // the distinct-days pass over the register cache ran once per
    // consumer (round-18 DupExec sweep)
    val days = CachedStages.model(daily.select("day").distinct())
    val grid = days.crossJoin(
      broadcast(evs.sparkSession.range(m).select(col("id").as("idx"))))
    val w = Window.partitionBy("idx").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = grid.join(daily, Seq("day", "idx"), "left")
      .withColumn("cum_mj", max(col("mj")).over(w))
    val est = merged.groupBy("day")
      .agg(sum(when(col("cum_mj").isNotNull,
          expr(s"shiftleft(CAST(1 AS BIGINT), $kMax - cum_mj)")))
        .as("s_present"),
        sum(when(col("cum_mj").isNotNull, 1L).otherwise(0L))
          .as("n_present"))
      .select(col("day"), expr(
        s"$numerator div (1000 * (coalesce(s_present, 0L) + " +
          s"(${m.toLong} - n_present) * ${1L << kMax}))").as("est_cum"))
    // exact: each user counts once, on their first-seen day; the
    // cumulative is a window over the |days|-row first-seen rollup
    val firstSeen = evs
      .select(expr("ts_sec div 86400").as("day"), col("user_id"))
      .groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val wd = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exact = days.join(firstSeen, Seq("day"), "left")
      .na.fill(0L, Seq("n_new"))
      .withColumn("exact_cum", sum(col("n_new")).over(wd))
      .select("day", "exact_cum")
    est.join(broadcast(exact), Seq("day"))
      .select(col("day"), col("exact_cum"), col("est_cum"),
        expr("abs(est_cum - exact_cum) * 1000000 div exact_cum")
          .as("err_ppm"))
      .orderBy("day")
  }

  def cohortLtv(spark: SparkSession, dir: String): DataFrame =
    cohortLtvOf(events(spark, dir))

  /** Graded q161: COHORT LTV CURVES — q65's retention grid with MONEY
    * on it: per signup cohort (a user's first-activity week) and week
    * offset, the active-user count, the week's revenue, and the
    * CUMULATIVE revenue per cohort member in micro-units — the
    * lifetime-value curve a growth team reads cohort by cohort to see
    * whether newer cohorts monetize faster. Cumulative-per-member is
    * what makes curves comparable across cohorts of different sizes.
    *
    * Determinism: revenue in exact cents (dec2), the cumulative as a
    * bounded window over week offsets (the frame is |weeks in the
    * observation window| per cohort — day-granular matrix discipline),
    * LTV one integral division of the DECIMAL(38)-routed product.
    * Cohort size is the week-0 active count, fixed per cohort.
    *
    * Scale shape: one events scan collapses into the per-(user, week)
    * activity/spend matrix; the cohort assignment is a per-user min
    * re-aggregated from it; the grid is |cohorts|·|offsets| rows.
    */
  def cohortLtvOf(evs: DataFrame): DataFrame = {
    val userWeeks = CachedStages.data(evs
      .select(col("user_id"), expr("ts_sec div 604800").as("week"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .groupBy("user_id", "week")
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents")))
    val cohorts = userWeeks.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"))
    // persisted: traversed twice (cohort sizes + final join) — caught
    // by the round-18 DupExec sweep as a duplicated aggregate subtree
    val grid = CachedStages.model(userWeeks
      .join(broadcast(cohorts), Seq("user_id"))
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(col("cents")).as("rev_cents")))
    val sizes = grid.filter(col("week_offset") === 0L)
      .select(col("cohort_week"), col("n_active").as("cohort_size"))
    val w = Window.partitionBy("cohort_week").orderBy(col("week_offset").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .withColumn("ltv_micro_per_user", expr(
        """CAST(CAST(cum_rev_cents AS DECIMAL(38, 0)) * 10000
          | div cohort_size AS BIGINT)""".stripMargin))
      .select("cohort_week", "week_offset", "n_active", "cohort_size",
        "rev_cents", "cum_rev_cents", "ltv_micro_per_user")
      .orderBy("cohort_week", "week_offset")
  }

  def retentionCohortsOf(evs: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    evs.select(col("user_id"),
        expr("ts_sec div 604800").as("week"))
      .distinct()
      .withColumn("cohort_week", min(col("week")).over(w))
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  def abBootstrap(spark: SparkSession, dir: String,
      nBoot: Int = 100): DataFrame =
    abBootstrapOf(events(spark, dir), nBoot)

  /** Graded q154: POISSON-BOOTSTRAP confidence intervals for the A/B
    * readout — q136 reports point conversion rates; this attaches the
    * error bars a launch decision actually needs, including the one
    * row that matters: the CI of the ARM DIFFERENCE. The classical
    * bootstrap (resample n-of-n users) is impossible on a distributed
    * stream; the Poisson bootstrap (Chamandy et al., Google 2012,
    * "Estimating uncertainty for massive data streams") replaces each
    * replicate's multinomial with an independent Poisson(1) weight
    * per (user, replicate) — embarrassingly parallel, single-pass.
    *
    * Determinism: the Poisson(1) draw is the md5-bucket rule's fifth
    * hat — a 48-bit hash of `boot:<replicate>:<user>` mapped through
    * the FIXED integer inverse-CDF thresholds of Poisson(1) in ppm
    * (367879, 735759, 919699, 981012, 996340, 999406, 999917,
    * 999990, 999999 → weights 0..9; the 2⁴⁸ mod 10⁶ bias is ~10⁻⁹,
    * irrelevant statistically and identical on both engines). Each
    * replicate's conversion is one integral division; the 2.5%/97.5%
    * CI bounds are exact ceil-rank picks over the B replicate values
    * (difference replicates subtract BEFORE ranking, so no division
    * ever sees a negative). A replicate whose weight sum is zero
    * (P ≈ e^-n_users, never in practice) drops out on both engines
    * via the same IS NOT NULL filter and `n_reps` records it.
    *
    * Scale shape: the user table persists once; the replicate grid is
    * a pure generator (users × B) that map-side combines straight
    * down to |arms|·B rows — at 10⁹ users × 100 replicates the 10¹¹
    * generated rows are codegen arithmetic that never materializes;
    * every window after that runs over ≤ B rows per series.
    */
  def abBootstrapOf(evs: DataFrame, nBoot: Int): DataFrame = {
    require(nBoot >= 4, s"need enough replicates for a CI, got $nBoot")
    // conversion = a HIGH-VALUE purchase (>= 200.00, exact decimal
    // compare) — the all-users-purchase fixture would otherwise make
    // every replicate's rate 10^6 and the CI vacuous
    val conv = evs.filter(col("event_type") === "purchase" &&
        dec2(col("value")) >= 200)
      .select("user_id").distinct().withColumn("converted", lit(1L))
    val users = CachedStages.data(evs.select("user_id").distinct()
      .withColumn("arm", expr(
        s"CASE WHEN ${Sampling.bucketExpr("user_id")} < 50 THEN 'a' ELSE 'b' END"))
      .join(conv, Seq("user_id"), "left")
      .na.fill(0L, Seq("converted")))
    val poissonW =
      """CASE WHEN bucket < 367879 THEN 0 WHEN bucket < 735759 THEN 1
        | WHEN bucket < 919699 THEN 2 WHEN bucket < 981012 THEN 3
        | WHEN bucket < 996340 THEN 4 WHEN bucket < 999406 THEN 5
        | WHEN bucket < 999917 THEN 6 WHEN bucket < 999990 THEN 7
        | WHEN bucket < 999999 THEN 8 ELSE 9 END""".stripMargin
    val armRep = CachedStages.model(users
      .select(col("user_id"), col("arm"), col("converted"),
        explode(expr(s"sequence(0, ${nBoot - 1})")).as("b"))
      .withColumn("bucket", expr(
        """CAST(conv(substring(md5(concat('boot:', CAST(b AS STRING),
          | ':', CAST(user_id AS STRING))), 1, 12), 16, 10) AS BIGINT)
          | % 1000000""".stripMargin))
      .withColumn("w", expr(poissonW))
      .groupBy("arm", "b")
      .agg(sum(col("w")).as("wsum"),
        sum(expr("w * converted")).as("wconv"))
      .withColumn("ppm", expr("wconv * 1000000 div nullif(wsum, 0)")))
    val diffRep = armRep.groupBy("b")
      .agg(max(when(col("arm") === "a", col("ppm"))).as("pa"),
        max(when(col("arm") === "b", col("ppm"))).as("pb"))
      .select(lit("diff").as("series"), col("b"),
        (col("pa") - col("pb")).as("ppm"))
    // armRep is persisted above: its lineage is the users×B generator,
    // and the arm branch, the diff branch, the count pass, and the
    // ranked pass must all read the |arms|·B-row cache, not regenerate
    // persisted: traversed twice (count table + ranked pass) — caught
    // by the round-18 DupExec sweep as a duplicated union subtree
    val reps = CachedStages.model(armRep
      .select(col("arm").as("series"), col("b"), col("ppm"))
      .unionByName(diffRep)
      .filter(col("ppm").isNotNull))
    val w2 = Window.partitionBy("series").orderBy(col("ppm").asc,
      col("b").asc)
    // the ceil-rank cuts need the per-series replicate count alongside
    // each ranked row; the count table is |series|-sized, broadcast
    val cnts = reps.groupBy("series").agg(count(lit(1)).as("count_rn"))
    val ranked = reps.join(broadcast(cnts), Seq("series"))
      .withColumn("rn", row_number().over(w2))
      .groupBy("series")
      .agg(max(col("count_rn")).as("n_reps"),
        min(when(expr("rn >= (count_rn * 25 + 999) div 1000"), col("ppm")))
          .as("boot_lo_ppm"),
        min(when(expr("rn >= (count_rn * 975 + 999) div 1000"), col("ppm")))
          .as("boot_hi_ppm"))
    // persisted: traversed twice (diff row + final union) — without it
    // the per-arm rollup re-scanned the users cache once per traversal
    val pointArms = CachedStages.model(users
      .groupBy(col("arm").as("series"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("nc"))
      .withColumn("point_ppm", expr("nc * 1000000 div n_users"))
      .select("series", "n_users", "point_ppm"))
    val pointDiff = pointArms.agg(
        sum(col("n_users")).as("n_users"),
        sum(when(col("series") === "a", col("point_ppm"))).as("pa"),
        sum(when(col("series") === "b", col("point_ppm"))).as("pb"))
      .select(lit("diff").as("series"), col("n_users"),
        (col("pa") - col("pb")).as("point_ppm"))
    pointArms.unionByName(pointDiff)
      .join(broadcast(ranked), Seq("series"))
      .select("series", "n_users", "point_ppm", "n_reps", "boot_lo_ppm",
        "boot_hi_ppm")
      .orderBy("series")
  }

  def completenessGate(spark: SparkSession, dir: String,
      windowDays: Int = 7, minPriorDays: Int = 4): DataFrame =
    completenessGateOf(events(spark, dir), windowDays, minPriorDays)

  /** Graded q156: PARTITION-COMPLETENESS gate — the freshness check a
    * daily pipeline runs before consuming a day's data: is today's
    * event volume at least 80% of the TRAILING `windowDays`-day median
    * for this type? A day that fails is late-arriving or a broken
    * feed, and the downstream job must not run on it. q124 flags days
    * ABOVE a global median (bursts); this flags days BELOW a trailing
    * one — the windowed baseline is what makes the gate adapt to slow
    * traffic growth without re-fitting anything.
    *
    * Determinism: the trailing median is the exact lower median of the
    * ≤ `windowDays` preceding day-counts (a RANGE frame on the integer
    * day key, so absent days are simply absent), picked from the
    * sorted frame array by the integer ceil-rank rule; the 80%
    * verdict is the `n·10 ≥ med·8` cross-multiplication. Days with
    * fewer than `minPriorDays` of history emit a NULL verdict — the
    * warmup period is surfaced, not guessed.
    *
    * Scale shape: the event stream collapses once into the persisted
    * day-granular (type, day, n) matrix (the q124 shape — one row per
    * type-day at ANY volume); the trailing window runs over ≤
    * `windowDays`-row frames of that matrix.
    */
  def completenessGateOf(evs: DataFrame, windowDays: Int,
      minPriorDays: Int): DataFrame =
    // daily matrix NOT persisted (round-19): gateFromDaily traverses
    // it exactly once — the persist paid fill+memory for a single
    // read (r18 DupExec single-reader report).
    gateFromDaily(evs
      .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
      .agg(count(lit(1)).as("n")), windowDays, minPriorDays)

  /** The gate derivation alone, over an already-built day-granular
    * `(event_type, day, n)` matrix — split out so the streaming twin's
    * maintained matrix feeds the IDENTICAL trailing-median arithmetic
    * at read time (EventStreams.dailyCountStream).
    */
  def gateFromDaily(daily: DataFrame, windowDays: Int,
      minPriorDays: Int): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rangeBetween(-windowDays.toLong, -1L)
    daily
      .withColumn("prior", sort_array(collect_list(col("n")).over(w)))
      .withColumn("m", size(col("prior")).cast("long"))
      .withColumn("trailing_med",
        when(col("m") >= minPriorDays,
          element_at(col("prior"), expr("CAST((m + 1) div 2 AS INT)"))))
      .withColumn("is_complete",
        when(col("trailing_med").isNotNull,
          (col("n") * 10 >= col("trailing_med") * 8).cast("long")))
      .select("event_type", "day", "n", "m", "trailing_med", "is_complete")
      .orderBy("event_type", "day")
  }

  def trimmedStats(spark: SparkSession, dir: String,
      trimPct: Int = 5): DataFrame =
    trimmedStatsOf(events(spark, dir), trimPct)

  /** Graded q145: TRIMMED AND WINSORIZED means per event type — the
    * robust-statistics sibling of the exact medians/quantiles family
    * (q35/q53/q128/q132): the plain mean of a monetary stream is owned
    * by its outliers (one fat-fingered refund or bot burst moves it),
    * so monitoring and reconciliation report the α-trimmed mean (drop
    * the top and bottom α% of ROWS) and the winsorized mean (clamp
    * them to the cut boundaries instead — Tukey's compromise that
    * keeps n constant).
    *
    * Exactness: values carry ≤2 decimals, so everything runs on
    * integer CENTS through the value-domain histogram discipline —
    * per type, the cumulative frame is bounded by |distinct values|,
    * never the row count. The trim cut is `n·α div 100` rows per
    * side; a histogram bucket's kept mass is the overlap of its rank
    * interval `[cum−cnt+1, cum]` with the kept band `[cut+1, n−cut]`
    * (pure integer interval arithmetic); the boundaries are ceil-rank
    * conditional mins. Means are reported in integer MICRO-units
    * (cents·10⁴ div n) with the products routed through DECIMAL(38)
    * — at 10¹² rows a cents sum times 10⁴ passes bigint. Assumes
    * non-negative values (monetary stream), so `div` truncation ==
    * floor on both engines.
    *
    * Scale shape: ONE events scan collapses into the persisted
    * (type, cents) histogram; totals re-aggregate the cache and
    * broadcast back; the final aggregate is |types| rows.
    */
  def trimmedStatsOf(evs: DataFrame, trimPct: Int): DataFrame = {
    val hist = CachedStages.model(evs
      .select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT)")
          .as("cents"))
      .groupBy("event_type", "cents")
      .agg(count(lit(1)).as("cnt")))
    val w = Window.partitionBy("event_type").orderBy(col("cents").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val totals = hist.groupBy("event_type").agg(sum(col("cnt")).as("n"))
    cum.join(broadcast(totals), Seq("event_type"))
      .withColumn("cut", expr(s"n * $trimPct div 100"))
      .withColumn("kept", expr(
        "greatest(0L, least(cum, n - cut) - greatest(cum - cnt + 1, cut + 1) + 1)"))
      .groupBy("event_type")
      .agg(
        max(col("n")).as("n_values"),
        max(col("cut")).as("n_cut"),
        min(when(expr("cum >= cut + 1"), col("cents"))).as("lo_cents"),
        min(when(expr("cum >= n - cut"), col("cents"))).as("hi_cents"),
        sum(expr("cents * cnt")).as("sum_cents"),
        sum(expr("cents * kept")).as("trim_sum_cents"))
      .withColumn("mean_micro", expr(
        "CAST(CAST(sum_cents AS DECIMAL(38, 0)) * 10000 div n_values AS BIGINT)"))
      .withColumn("trimmed_mean_micro", expr(
        """CAST(CAST(trim_sum_cents AS DECIMAL(38, 0)) * 10000
          | div (n_values - 2 * n_cut) AS BIGINT)""".stripMargin))
      .withColumn("winsor_mean_micro", expr(
        """CAST(CAST(trim_sum_cents + n_cut * (lo_cents + hi_cents)
          |   AS DECIMAL(38, 0)) * 10000 div n_values AS BIGINT)"""
          .stripMargin))
      .select("event_type", "n_values", "n_cut", "lo_cents", "hi_cents",
        "mean_micro", "trimmed_mean_micro", "winsor_mean_micro")
      .orderBy("event_type")
  }
}

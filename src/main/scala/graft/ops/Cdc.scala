package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture / warehouse-history operators: SCD Type-2 interval
  * building from a changelog, and MERGE-style snapshot upsert with
  * tombstones.
  *
  * The reference's load stage only ever overwrites whole zone tables and
  * repoints `_latest` (`scripts/load.py:60-98` — SURVEY.md §2.7 W2-W4);
  * it has no notion of keyed history or incremental application. These
  * are the operators that slot in the moment the same pipeline has to
  * re-run daily against a mutable upstream: version the dimension
  * (SCD2), or fold a change feed into the previous snapshot (MERGE).
  * Both are declarative single-pass plans — Catalyst sees plain windows
  * and joins, so pushdown/AQE apply as usual.
  */
object Cdc {

  /** Graded q67: SCD Type-2 history build — collapse each user's event
    * stream into validity intervals of its `event_type` runs
    * (gaps-and-islands). Each output row is one version:
    * `[valid_from_us, valid_to_us)` in µs-floor event time (see
    * `scd2HistoryOf` for the µs reconciliation with DuckDB's
    * TIMESTAMP_NS), open-ended (null `valid_to_us`, `is_current` =
    * true) for the latest run, with `n_events` counting the rows the
    * run absorbed.
    *
    * Scale shape: ONE shuffle (hash by `user_id`), then everything —
    * run detection (`lag`), per-user totals, version numbering and
    * `lead` interval-closing — happens inside that partitioning; rows
    * that are not run boundaries are dropped BEFORE the second window
    * pass, so the re-sort touches only ~|versions| rows, not the
    * event stream. A per-key changelog at 100 TB is exactly this plan
    * with more partitions; nothing collects to the driver.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2HistoryOf(Events.events(spark, dir))

  /** Core of `scd2History` over any `(user_id, event_id, ts, event_type)`
    * frame (`ts` = long nanos or a µs timestamp — see Events.tsMicros;
    * `event_id` breaks same-instant ties). Interval bounds and ordering
    * are µs-floor epochs, the precision both engines share regardless of
    * the parquet shape (same reconciliation as the q24 as-of join).
    */
  def scd2HistoryOf(evs: DataFrame): DataFrame = {
    val withUs = evs.withColumn("__us", Events.tsMicros(evs))
    val w = Window.partitionBy("user_id")
      .orderBy(col("__us").asc, col("event_id").asc)
    val wAll = Window.partitionBy("user_id")
    // run boundaries: first event per user, or an event whose type
    // differs from its predecessor's
    val marked = withUs
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("n_total", count(lit(1)).over(wAll))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
    val wi = Window.partitionBy("user_id").orderBy(col("rn").asc)
    marked
      .withColumn("version", row_number().over(wi).cast("long"))
      .withColumn("valid_from_us", col("__us"))
      .withColumn("valid_to_us", lead(col("__us"), 1).over(wi))
      .withColumn("n_events",
        coalesce(lead(col("rn"), 1).over(wi), col("n_total") + 1) - col("rn"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"),
        col("n_events").cast("long").as("n_events"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** Graded q68: MERGE-style CDC apply — fold a change feed into a keyed
    * base snapshot. The feed here is the `events` table compacted to its
    * latest row per user (max `(ts, event_id)`), interpreted as:
    * `error` → tombstone (DELETE the key), anything else → UPSERT the
    * key's balance to the event's `value`. Base rows without a change
    * pass through; change keys absent from the base INSERT.
    *
    * Output tags each surviving row with its merge `op`
    * (`insert`/`update`/`keep`) — the audit column a backfill job logs.
    *
    * Scale shape: changelog compaction is one shuffle by key with the
    * window cutting it to one row per key map-side-ish (row_number over
    * the key partitioning); the merge itself is a single full-outer
    * hash join on the key. At 100 TB both sides shuffle once on the
    * same key — AQE handles the skewed-key case; nothing is collected.
    * The compacted feed is usually small enough to broadcast, but the
    * full-outer semantics (insert keys the base lacks) require the
    * shuffle join, so we keep the general plan.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("key"),
        col("c_acctbal").as("base_balance"))
    cdcApplyOf(base, latestChanges(Events.events(spark, dir)))
      .orderBy("key")
  }

  /** Changelog compaction: the latest event per user, as a change feed
    * `(key, change_type, change_value)`.
    */
  def latestChanges(evs: DataFrame): DataFrame = {
    // µs ordering for the same oracle-visibility reason as scd2HistoryOf
    val w = Window.partitionBy("user_id")
      .orderBy(Events.tsMicros(evs).desc, col("event_id").desc)
    evs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id").cast("long").as("key"),
        col("event_type").as("change_type"),
        col("value").as("change_value"))
  }

  /** Core MERGE over any base `(key, base_balance)` and compacted feed
    * `(key, change_type, change_value)`: tombstone on `error`, else
    * upsert.
    */
  def cdcApplyOf(base: DataFrame, changes: DataFrame): DataFrame = {
    base.join(changes, Seq("key"), "full_outer")
      .filter(col("change_type").isNull || col("change_type") =!= "error")
      .select(
        col("key"),
        coalesce(col("change_value"), col("base_balance")).as("balance"),
        when(col("base_balance").isNull, "insert")
          .when(col("change_type").isNull, "keep")
          .otherwise("update").as("op"))
  }

  /** Graded q81: POINT-IN-TIME enrichment — the feature-store temporal
    * join. The event stream splits into a DIMENSION feed (even
    * event_ids → SCD2 history via the q67 machinery) and a FACT feed
    * (odd event_ids); each fact joins the dimension VERSION whose
    * validity interval contains the fact's event time — strictly
    * backward-looking (`valid_from ≤ t < valid_to`, open tail), the
    * join discipline that keeps future dimension states out of
    * training features (label leakage). Facts preceding their key's
    * first version drop (inner join): "no dimension state existed yet"
    * is the honest answer, not a default row.
    *
    * Scale shape: ONE equi-shuffle on the key, then the interval
    * predicate filters within each key's (small) version set — the
    * standard PIT plan while per-key version counts stay bounded, with
    * the q24/q32 machinery as the fallback when they don't. Each fact
    * matches AT MOST ONE version (intervals partition the timeline), so
    * output cardinality is bounded by the fact count.
    */
  def pointInTimeEnrichment(spark: SparkSession, dir: String): DataFrame = {
    val evs = Events.events(spark, dir)
    pointInTimeEnrichmentOf(
      evs.filter(col("event_id") % 2 === 0),
      evs.filter(col("event_id") % 2 === 1))
  }

  /** Core PIT join: SCD2 over `dim`, facts matched into intervals. */
  def pointInTimeEnrichmentOf(dim: DataFrame, facts: DataFrame): DataFrame = {
    val hist = scd2HistoryOf(dim).select(col("user_id"), col("version"),
      col("event_type").as("active_type"),
      col("valid_from_us"), col("valid_to_us"))
    facts
      .select(col("event_id"), col("user_id"),
        Events.tsMicros(facts).as("f_us"), col("event_type").as("fact_type"))
      .join(hist, Seq("user_id"))
      .filter(col("f_us") >= col("valid_from_us") &&
        (col("valid_to_us").isNull || col("f_us") < col("valid_to_us")))
      .select(col("event_id").as("fact_event_id"), col("user_id"),
        col("version"), col("active_type"), col("fact_type"))
      .orderBy("fact_event_id")
  }

  /** Graded q79: incremental aggregate maintenance — the materialized-
    * view update shape. The orders table is split at an (arbitrary)
    * date cutoff into a "yesterday's snapshot" and a "today's delta";
    * each side aggregates INDEPENDENTLY and the two |keys|-row
    * aggregate states merge with one full-outer key join. The graded
    * oracle is the FULL recompute over the unsplit table: a hash-match
    * proves maintain(agg(base), agg(delta)) == agg(base ∪ delta) — the
    * algebraic property (count/sum are commutative monoids) that lets a
    * 100 TB nightly pipeline fold in a 100 GB delta without rescanning
    * history. Sums are integer cents (dec2-routed), so the merge is
    * associativity-proof by construction, not within-tolerance.
    */
  def incrementalCustomerAgg(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
    val cutoff = lit("1999-01-01").cast("timestamp")
    incrementalAggOf(
      orders.filter(col("o_orderdate") < cutoff),
      orders.filter(col("o_orderdate") >= cutoff))
      .orderBy("o_custkey")
  }

  /** Merge two independently aggregated `(o_custkey, cents)` states. */
  def incrementalAggOf(base: DataFrame, delta: DataFrame): DataFrame = {
    def state(df: DataFrame, suffix: String): DataFrame =
      df.groupBy("o_custkey").agg(
        count(lit(1)).as(s"n$suffix"), sum("cents").as(s"s$suffix"))
    state(base, "_b").join(state(delta, "_d"), Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("s_b"), lit(0L)) + coalesce(col("s_d"), lit(0L)))
          .as("sum_cents"))
  }

  /** Graded q127: SNAPSHOT DIFF — the data-reconciliation operator
    * (the "data diff" every migration, backfill, and replication
    * verifies with): two keyed snapshots full-outer-join on the PK and
    * every row classifies as `added` / `removed` / `modified` /
    * `unchanged`, with per-COLUMN change counts telling you WHICH
    * fields drifted. The generic core works over any schema (columns
    * compared null-safely, schema-driven), and the graded instance
    * diffs `orders` against a deterministically derived new snapshot
    * ([[ordersSnapshot]]: md5-bucket rule — buckets 0-4 modified in
    * two columns, 5-7 deleted, 8-9 cloned under shifted keys — so the
    * report's exact counts are a property of the rule, not luck).
    *
    * Scale shape: ONE full-outer PK shuffle join (the irreducible cost
    * of keyed reconciliation — at 100 TB both sides arrive
    * co-partitioned if written bucketed, and AQE handles the skew);
    * classification and per-column comparison are codegen projections;
    * the output is ONE aggregate pass melted to the report
    * (q97's stack shape) — report-sized, never row-sized.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "orders")
    snapshotDiffOf(base, ordersSnapshot(base), "o_orderkey")
  }

  /** The derived "new day" snapshot of `orders`: q44's md5-bucket rule
    * picks disjoint slices — buckets 0-4 get `o_totalprice + 1.0` and
    * `o_orderpriority = 'RUSHED'` (modified), 5-7 vanish (removed),
    * 8-9 are duplicated under `o_orderkey + 10⁹` (added).
    */
  private[ops] def ordersSnapshot(base: DataFrame): DataFrame = {
    val b = base.withColumn("bkt", expr(
      "cast(conv(substring(md5(cast(o_orderkey as string)), 1, 6), 16, 10) as bigint) % 100"))
    val kept = b.filter(col("bkt") < 5 || col("bkt") >= 8)
      .withColumn("o_totalprice",
        when(col("bkt") < 5, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(col("bkt") < 5, lit("RUSHED")).otherwise(col("o_orderpriority")))
    val added = b.filter(col("bkt") >= 8 && col("bkt") < 10)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
    kept.unionByName(added).drop("bkt")
  }

  /** Generic core of `snapshotDiff`: any two same-schema keyed frames.
    * Output is the long-format report: `n_<change_type>` rows plus
    * `chg_<column>` counts over the modified rows, ordered by metric.
    */
  def snapshotDiffOf(base: DataFrame, snap: DataFrame,
      pk: String): DataFrame = {
    require(base.columns.sameElements(snap.columns),
      s"schema mismatch: ${base.columns.toSeq} vs ${snap.columns.toSeq}")
    val cols = base.columns.filterNot(_ == pk).toSeq
    def packed(df: DataFrame, side: String): DataFrame =
      df.select(col(pk), struct(cols.map(col): _*).as(side))
    val same = cols.map(c => col(s"b.$c") <=> col(s"s.$c")).reduce(_ && _)
    val j = CachedStages.data(
      packed(base, "b").join(packed(snap, "s"), Seq(pk), "full_outer")
        .withColumn("change_type",
          when(col("b").isNull, "added")
            .when(col("s").isNull, "removed")
            .when(same, "unchanged")
            .otherwise("modified")))
    val summary = j.groupBy("change_type").agg(count(lit(1)).as("n"))
      .select(concat(lit("n_"), col("change_type")).as("metric"), col("n"))
    // ONE aggregate computes every per-column count; stack melts the
    // single row to the long format (the q97 generator shape)
    // coalesce: an all-unchanged diff has zero modified rows and the
    // sums would otherwise go NULL instead of 0
    val chgAggs = cols.map(c => coalesce(sum(
      (!(col(s"b.$c") <=> col(s"s.$c"))).cast("long")), lit(0L)).as(s"chg_$c"))
    val stackArgs = cols.map(c => s"'chg_$c', chg_$c").mkString(", ")
    val colChanges = j.filter(col("change_type") === "modified")
      .agg(chgAggs.head, chgAggs.tail: _*)
      .select(expr(
        s"stack(${cols.size}, $stackArgs) AS (metric, n)"))
    summary.unionByName(colChanges).orderBy("metric")
  }
}

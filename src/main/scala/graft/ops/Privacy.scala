package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII detection and redaction — the scrubbing pass a training-data
  * pipeline runs between quality filtering and tokenization: find
  * email addresses and phone numbers, count them per document, and
  * rewrite the text with typed placeholders so downstream stages never
  * see the raw identifier.
  *
  * The regexes are deliberately written in the common subset of Java
  * regex (Spark) and RE2 (DuckDB, and most scanners) — no lookarounds,
  * no backreferences — so the oracle evaluates the IDENTICAL pattern
  * and the redacted text hash-matches byte-for-byte. Real deployments
  * swap in wider pattern sets (IBANs, SSNs, addresses) and dictionary/
  * NER passes; the pipeline shape below — pushed-down cheap RLIKE
  * prefilter, then extract + replace only on matching rows — is the
  * part that carries to 100 TB, where the overwhelming majority of
  * documents contain no PII and must not pay the extraction cost.
  *
  * The synthetic corpus contains no natural PII (no digits or '@' at
  * all), so the graded query plants it deterministically: every 50th
  * document gains a contact sentence whose email/phone are derived from
  * the doc_id by integer arithmetic — both engines regenerate the same
  * plant, and detection must then find exactly those rows.
  */
object Privacy {

  /** Shared Spark/DuckDB-safe patterns. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** documents with PII planted on every 50th row: an appended contact
    * sentence with a doc_id-derived email and phone (pure integer
    * derivations, so the oracle regenerates the identical text).
    */
  def corpusWithPii(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 50 === 0, concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call 555-"),
          lpad(((col("doc_id") * 7) % 1000).cast("string"), 3, "0"),
          lit("-"),
          lpad(((col("doc_id") * 13) % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")).as("text"))

  /** Graded query: rows containing PII, with per-type counts and the
    * redacted text. The RLIKE prefilter is the scan predicate — rows
    * without a match never reach the extract/replace expressions.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubOf(corpusWithPii(spark, dir)).orderBy("doc_id")

  /** Core of `piiScrub` over any `(doc_id, text)` corpus. All regex
    * calls go through the DataFrame API (never a SQL-string literal):
    * the SQL parser would process `\.` in a quoted pattern and silently
    * change the regex, while the API passes the pattern verbatim.
    * No presentation sort here (the graded wrapper adds it): the
    * scrub itself is a stateless projection, legal on a STREAMING
    * DataFrame too — streaming/DocStreams reuses it in flight.
    */
  def piiScrubOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").rlike(EmailRe) || col("text").rlike(PhoneRe))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("text"), EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]").as("redacted"))

  /** Graded q143: RIGHT-TO-BE-FORGOTTEN deletion audit — given a
    * forget-set of data subjects (the q44 md5-bucket rule's fourth
    * hat: here it selects the `forgetPct`% of subject ids whose
    * erasure was requested), count what a compliant delete must
    * cascade to in every table that carries the subject: their
    * `customer` rows, their `orders`, the `lineitem` rows of those
    * orders (reachable only THROUGH the order key — the indirect
    * reference every deletion pipeline must chase), and their
    * `events`. The long-format report (rows, rows-to-delete, share in
    * ppm) is the artifact a privacy review signs off on BEFORE the
    * irreversible delete runs, and the same counts verify the delete
    * after.
    *
    * Scale shape: the subject rule is a pure hash of the key, so the
    * three directly-keyed tables are screened by a pushed-down scan
    * predicate — NO subject list is materialized or joined (the
    * stateless-assignment property that makes md5-bucket selection
    * retry-stable also makes the screen embarrassingly parallel).
    * Only `lineitem` pays a join, on the order key against the
    * forget-set's orders — an equi-join whose right side is
    * `forgetPct`% of orders; at 100 TB that is a shuffle hash join on
    * the natural key, not a broadcast (the forget-set scales with the
    * data). Each per-table audit is a single-row aggregate; the
    * report is 4 rows.
    */
  def deletionAudit(spark: SparkSession, dir: String,
      forgetPct: Int = 5): DataFrame = {
    def forgotten(keyCol: String) =
      expr(s"${Sampling.bucketExpr(keyCol)} < $forgetPct")
    def audit(name: String, df: DataFrame,
        del: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          sum(when(del, 1L).otherwise(0L)).as("n_delete"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("n_delete"), expr("n_delete * 1000000 div n_rows")
            .as("delete_ppm"))
    val forgetOrders = Tables(spark, dir, "orders")
      .filter(forgotten("o_custkey"))
      .select(col("o_orderkey"), lit(true).as("del"))
    val li = Tables(spark, dir, "lineitem")
      .join(forgetOrders,
        col("l_orderkey") === forgetOrders("o_orderkey"), "left")
    audit("customer", Tables(spark, dir, "customer"),
        forgotten("c_custkey"))
      .unionByName(audit("events", Tables(spark, dir, "events"),
        forgotten("user_id")))
      .unionByName(audit("lineitem", li, col("del").isNotNull))
      .unionByName(audit("orders", Tables(spark, dir, "orders"),
        forgotten("o_custkey")))
      .orderBy("table_name")
  }

  /** Graded q149: K-ANONYMITY audit over a GENERALIZATION ladder
    * (Sweeney 2002) — the release-readiness check an anonymization
    * pipeline runs before publishing a table: a row is re-identifiable
    * when its quasi-identifier combination is shared by fewer than k
    * individuals, and the fix is to GENERALIZE attributes (nation →
    * region → drop) until every group reaches k. The audit walks the
    * ladder and reports, per level, how many QI groups exist, how many
    * violate k, and how many rows sit at risk — the table that decides
    * WHICH generalization level a release needs (sibling of q48's
    * redaction and q143's erasure: remove identifiers, then prove the
    * remainder doesn't re-identify).
    *
    * Levels: L0 = (nation, segment); L1 = (region, segment) — nation
    * generalizes through the region hierarchy; L2 = (region). All
    * counts integer; risk in ppm of the population.
    *
    * Scale shape: customers join the |nations|-row hierarchy by
    * BROADCAST once into the persisted base projection; each level is
    * a re-aggregation of that cache whose group-size table is bounded
    * by the QI DOMAIN (|nations|·|segments| etc.), and the per-level
    * rollup reduces it to one row. Three bounded jobs, one customer
    * scan total.
    */
  def kAnonymity(spark: SparkSession, dir: String, k: Long = 5L): DataFrame = {
    val nations = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val base = CachedStages.data(Tables(spark, dir, "customer")
      .join(broadcast(nations),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_nationkey").cast("long").as("nat"),
        col("n_regionkey").cast("long").as("reg"),
        col("c_mktsegment").as("seg")))
    def level(name: String, keys: Seq[String]): DataFrame =
      base.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_violations"),
          sum(when(col("sz") < k, col("sz")).otherwise(0L))
            .as("rows_at_risk"),
          sum(col("sz")).as("n_rows"))
        .select(lit(name).as("level"), col("n_groups"),
          col("n_violations"), col("rows_at_risk"),
          expr("rows_at_risk * 1000000 div n_rows").as("risk_ppm"))
    level("L0_nation_segment", Seq("nat", "seg"))
      .unionByName(level("L1_region_segment", Seq("reg", "seg")))
      .unionByName(level("L2_region", Seq("reg")))
      .orderBy("level")
  }

  /** Graded q185: L-DIVERSITY audit (Machanavajjhala et al., ICDE 2006
    * — the attack k-anonymity misses: a group can be large yet
    * HOMOGENEOUS in its sensitive attribute, so group size alone
    * doesn't stop attribute disclosure). Over q149's generalization
    * ladder with `c_mktsegment` as the sensitive attribute and the
    * quasi-identifiers nation → region → acctbal-sign: per level, QI
    * groups, groups with fewer than l distinct sensitive values, and
    * the share of rows sitting in those homogeneous groups, in ppm.
    * Distinct l-diversity (the countable variant; entropy l-diversity
    * needs logs the integer contract excludes). The verdict is
    * scale-dependent in exactly the way the attack is: sf0.001's
    * ~6-customer nations genuinely violate distinct-3-diversity while
    * sf0.01's carry all five segments and pass — small populations ARE
    * the disclosure risk. The spec replays the graded ladder and
    * falsifies every check on a planted homogeneous fixture.
    *
    * Scale shape: q149's — one broadcast-dimension join into a
    * persisted slim base, per-level group tables bounded by the QI
    * domain, `count_distinct` per group map-side combinable.
    */
  def lDiversity(spark: SparkSession, dir: String, l: Long = 3L): DataFrame = {
    val nations = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    lDiversityOf(Tables(spark, dir, "customer")
      .join(broadcast(nations),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_nationkey").cast("long").as("nat"),
        col("n_regionkey").cast("long").as("reg"),
        expr("CAST(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS BIGINT)")
          .as("bal_sign"),
        col("c_mktsegment").as("sens")), l)
  }

  /** q185 over any `(nat, reg, bal_sign, sens)` frame (spec fixtures). */
  def lDiversityOf(baseIn: DataFrame, l: Long): DataFrame = {
    val base = CachedStages.data(baseIn)
    def level(name: String, keys: Seq[String]): DataFrame =
      base.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("sz"),
          countDistinct(col("sens")).as("div"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("div") < l, 1L).otherwise(0L)).as("n_homogeneous"),
          sum(when(col("div") < l, col("sz")).otherwise(0L))
            .as("rows_at_risk"),
          sum(col("sz")).as("n_rows"),
          min(col("div")).as("min_diversity"))
        .select(lit(name).as("level"), col("n_groups"),
          col("n_homogeneous"), col("min_diversity"),
          expr("rows_at_risk * 1000000 div n_rows").as("risk_ppm"))
    level("L0_nation", Seq("nat"))
      .unionByName(level("L1_region", Seq("reg")))
      .unionByName(level("L2_balance_sign", Seq("bal_sign")))
      .orderBy("level")
  }

  def tCloseness(spark: SparkSession, dir: String,
      tPpm: Long = 200000L): DataFrame = {
    val nations = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    tClosenessOf(Tables(spark, dir, "customer")
      .join(broadcast(nations),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_nationkey").cast("long").as("nat"),
        col("n_regionkey").cast("long").as("reg"),
        expr("CAST(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS BIGINT)")
          .as("bal_sign"),
        col("c_mktsegment").as("sens")), tPpm)
  }

  /** Graded q216: T-CLOSENESS audit (Li, Li & Venkatasubramanian,
    * ICDE 2007) — the third rung of the release ladder and the attack
    * the first two miss: a group can be large (k-anonymous, q149) and
    * carry many distinct sensitive values (l-diverse, q185) yet still
    * leak through its DISTRIBUTION — "90% of this nation's customers
    * are BUILDING" is a disclosure even with all five segments
    * present. t-closeness bounds the distance between each QI group's
    * sensitive distribution and the global one; for a categorical
    * attribute under uniform ground distance the Earth Mover's
    * Distance IS the total-variation distance ½·Σ|p_c − q_c|, which
    * the integer contract computes EXACTLY: per group, t_ppm =
    * Σ_c |n_gc·N − n_c·n_g| · 10⁶ div (2·n_g·N) — cross-multiplied,
    * one floor, all operands non-negative. Classes ABSENT from a
    * group contribute their full global mass; rather than densify the
    * (group × class) grid, the absent-mass term closes the sum in
    * closed form: (N − Σ_{present} n_c)·n_g.
    *
    * Per level of the q149/q185 generalization ladder (nation →
    * region → balance sign, sensitive = mktsegment): groups, groups
    * beyond t = 0.2, the worst group's t, and rows at risk in ppm.
    *
    * Scale shape: q149's — one broadcast-dimension join into the
    * persisted slim base; per level the (QI × class) count table is
    * bounded by the QI domain times |classes|, its group-total join
    * is co-keyed on the QI columns it already shuffles by, and the
    * 5-row global distribution rides a broadcast.
    */
  def tClosenessOf(baseIn: DataFrame, tPpm: Long): DataFrame = {
    val base = CachedStages.data(baseIn)
    // persisted: each generalization level broadcasts BOTH rollups —
    // unpersisted, they re-scanned the base cache once per level
    // (round-18 DupExec sweep: both subtrees x3)
    val global = CachedStages.model(
      base.groupBy("sens").agg(count(lit(1)).as("n_c")))
    val tot = CachedStages.model(base.agg(count(lit(1)).as("n_total")))
    def level(name: String, keys: Seq[String]): DataFrame = {
      val gc = base.groupBy((keys :+ "sens").map(col): _*)
        .agg(count(lit(1)).as("n_gc"))
      val gt = gc.groupBy(keys.map(col): _*)
        .agg(sum(col("n_gc")).as("n_g"))
      val pg = gc.join(gt, keys)
        .join(broadcast(global), Seq("sens"))
        .crossJoin(broadcast(tot))
        .groupBy(keys.map(col): _*)
        .agg(max(col("n_g")).as("n_g"),
          max(col("n_total")).as("n_total"),
          sum(expr(
            """abs(CAST(n_gc AS DECIMAL(38, 0)) * n_total
              | - CAST(n_c AS DECIMAL(38, 0)) * n_g)""".stripMargin))
            .as("s_present"),
          sum(col("n_c")).as("c_present"))
        .withColumn("t_ppm", expr(
          """CAST((s_present
            |  + CAST(n_total - c_present AS DECIMAL(38, 0)) * n_g)
            | * 1000000
            | div (2 * CAST(n_g AS DECIMAL(38, 0)) * n_total)
            | AS BIGINT)""".stripMargin))
      pg.agg(count(lit(1)).as("n_groups"),
          sum(when(col("t_ppm") > tPpm, 1L).otherwise(0L))
            .as("n_violating"),
          max(col("t_ppm")).as("max_t_ppm"),
          sum(when(col("t_ppm") > tPpm, col("n_g")).otherwise(0L))
            .as("rows_at_risk"),
          max(col("n_total")).as("n_total"))
        .select(lit(name).as("level"), col("n_groups"),
          col("n_violating"), col("max_t_ppm"),
          expr("rows_at_risk * 1000000 div n_total").as("risk_ppm"))
    }
    level("L0_nation", Seq("nat"))
      .unionByName(level("L1_region", Seq("reg")))
      .unionByName(level("L2_balance_sign", Seq("bal_sign")))
      .orderBy("level")
  }

  def mondrian(spark: SparkSession, dir: String, k: Long = 25L,
      rounds: Int = 6): DataFrame =
    mondrianOf(Tables(spark, dir, "customer").select(
      expr("CAST(round(c_acctbal) AS BIGINT)").as("bal"),
      col("c_nationkey").cast("long").as("nat")), k, rounds)

  /** Graded q243: MONDRIAN k-ANONYMIZATION (LeFevre, DeWitt &
    * Ramakrishnan, ICDE 2006, strict single-dimension variant) — the
    * privacy family's first ANONYMIZER: q149/q185/q216 measure
    * whether a release is safe, this operator MAKES one. Quasi-
    * identifiers (account-balance dollars, nation) generalize into
    * axis-aligned boxes by recursive median cuts: each round, every
    * partition with ≥ 2k rows picks the wider-range dimension
    * (dollar-range vs nation-range, balance on ties), splits at the
    * LOWER MEDIAN (rank (n+1) div 2 via the per-partition
    * value-domain histogram — the engine's standard ceil-rank pick),
    * and keeps the cut only if BOTH sides hold ≥ k rows (the strict
    * allowable-cut rule — so every emitted box is k-anonymous by
    * construction). Fixed `rounds` depth, past-fixpoint rounds
    * no-ops; partition ids triple-map in base 3 (3p, 3p+1, 3p+2 for
    * stay/left/right) — an INJECTIVE map, unlike the base-2 triple
    * (2p, 2p+1, 2p+2) where a stay at p collides with the right
    * child of p-1 (2(p-1)+2 = 2p) and silently merges two disjoint
    * boxes. Output: the
    * generalized boxes with occupancy, plus the achieved k and box
    * count repeated per row (q181 discipline).
    *
    * Scale shape: per round, ONE histogram collapse per dimension
    * (map-side combinable), windows bounded by the VALUE DOMAIN per
    * partition, cut table broadcast back, and each round cut by
    * [[Rounds.fixed]]. Rounds = log₂(groups) — 6 levels bound any
    * scale's depth cost.
    */
  def mondrianOf(rows: DataFrame, k: Long, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def medianOf(cur: DataFrame, dim: String) = {
      val w = Window.partitionBy("pid").orderBy("v")
      cur.groupBy(col("pid"), col(dim).as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(
          Window.partitionBy("pid")))
        .filter(expr("cum >= (n + 1) div 2"))
        .groupBy("pid")
        .agg(min(struct(col("v"), col("cum"))).as("m"))
        .select(col("pid"), col("m.v").as(s"med_$dim"),
          col("m.cum").as(s"left_$dim"))
    }
    val init = rows.select(col("bal"), col("nat"), lit(0L).as("pid"))
    val boxes = Rounds.fixed(init, rounds) { (cur, _) =>
      val ranges = cur.groupBy("pid").agg(
        min(col("bal")).as("mnb"), max(col("bal")).as("mxb"),
        min(col("nat")).as("mnn"), max(col("nat")).as("mxn"),
        count(lit(1)).as("n"))
      val cuts = ranges
        .join(medianOf(cur, "bal"), Seq("pid"))
        .join(medianOf(cur, "nat"), Seq("pid"))
        .withColumn("dim", expr(
          "IF(mxb - mnb >= mxn - mnn, CAST(0 AS BIGINT), " +
            "CAST(1 AS BIGINT))"))
        .withColumn("med", expr("IF(dim = 0, med_bal, med_nat)"))
        .withColumn("lft", expr("IF(dim = 0, left_bal, left_nat)"))
        .withColumn("do_cut", expr(
          s"""IF(n >= 2 * $k AND lft >= $k AND n - lft >= $k,
             | CAST(1 AS BIGINT), CAST(0 AS BIGINT))""".stripMargin))
        .select("pid", "dim", "med", "do_cut")
      cur.join(broadcast(cuts), Seq("pid"))
        .withColumn("pid", expr(
          """CASE WHEN do_cut = 1 AND ((dim = 0 AND bal <= med)
            |       OR (dim = 1 AND nat <= med)) THEN pid * 3 + 1
            |     WHEN do_cut = 1 THEN pid * 3 + 2
            |     ELSE pid * 3 END""".stripMargin))
        .select("bal", "nat", "pid")
    }
    val groups = CachedStages.model(boxes.groupBy("pid").agg(
      min(col("bal")).as("bal_min"), max(col("bal")).as("bal_max"),
      min(col("nat")).as("nat_min"), max(col("nat")).as("nat_max"),
      count(lit(1)).as("n")))
    val summary = groups.agg(min(col("n")).as("k_achieved"),
      count(lit(1)).as("n_groups"))
    groups.crossJoin(broadcast(summary))
      .select("bal_min", "bal_max", "nat_min", "nat_max", "n",
        "k_achieved", "n_groups")
      .orderBy("bal_min", "bal_max", "nat_min", "nat_max", "n")
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * When one join key dominates (a viral document, a null-ish default id),
  * a plain shuffle sends that key's every row to one reducer and the
  * stage runs at the speed of that single task. Salting splits the hot
  * key across `saltBuckets` reducers: the fact side gets a deterministic
  * salt in [0, n), the dim side is replicated n times, and the join key
  * becomes (key, salt). Results are identical to the unsalted join; the
  * shuffle is n-way wider on the hot key.
  *
  * AQE's skew-join handling covers sort-merge joins automatically; this
  * utility is for the cases AQE can't re-plan (aggregations keyed on the
  * hot key upstream, or deliberate pre-partitioning), and to make the
  * technique first-class and testable.
  */
object SkewJoin {

  /** Inner-join `fact ⨝ dim` on `key`, salted `saltBuckets` ways.
    *
    * @param saltSource deterministic per-row expression to derive the
    *                   salt from (e.g. a fine-grained id column); using a
    *                   column rather than rand() keeps runs reproducible
    */
  def salted(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int, saltSource: Column): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(saltSource), lit(saltBuckets)))
    val saltedDim = dim.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Graded q133: KEY-SKEW DIAGNOSIS report — for each candidate join/
    * aggregation key of a fact table, the group-size distribution facts
    * that decide WHICH keys need the salted join (or AQE skew
    * handling) at scale: key cardinality, the largest group, exact
    * p50/p99 group sizes, and the hottest key's share of all rows in
    * integer ppm. This is the planning artifact behind the `salted`
    * utility above: skew is a property you MEASURE per key column
    * before you pay for mitigation.
    *
    * Exactness discipline: group sizes collapse to a SIZE-VALUE
    * histogram (cardinality bounded by distinct group sizes — the q128
    * value-domain rule), the cumulative window runs over that bounded
    * frame, and the percentile picks are integer ceil-rank conditional
    * mins. Per key: one column-pruned scan, one partial-agg groupBy,
    * then histogram-sized work. All integer.
    */
  def skewReport(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    skewReportOf(Tables(spark, dir, "lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))

  /** Core of `skewReport`: the per-key distribution over any frame. */
  def skewReportOf(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "no key columns to diagnose")
    import org.apache.spark.sql.expressions.Window
    def perKey(k: String): DataFrame = {
      val sizes = df.groupBy(col(k)).agg(count(lit(1)).as("sz"))
      // persisted: traversed twice (cumulative window + totals) —
      // unpersisted, the two-level group-size collapse ran twice per
      // key column (round-18 DupExec sweep, x3 keys); value-domain
      // bounded
      val hist = CachedStages.model(
        sizes.groupBy("sz").agg(count(lit(1)).as("nk")))
      val w = Window.orderBy(col("sz").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("nk")).over(w))
      val tot = hist.agg(sum(expr("sz * nk")).as("n_rows"),
        sum(col("nk")).as("n_keys"), max(col("sz")).as("max_group"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("n_rows")).as("n_rows"),
          max(col("n_keys")).as("n_keys"),
          max(col("max_group")).as("max_group"),
          min(when(expr("cum >= (n_keys + 1) div 2"), col("sz")))
            .as("p50_group"),
          min(when(expr("cum >= (99 * n_keys + 99) div 100"), col("sz")))
            .as("p99_group"))
        .select(lit(k).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_group"), col("p50_group"), col("p99_group"),
          expr("max_group * 1000000 div n_rows").as("top_share_ppm"))
    }
    keys.map(perKey).reduce(_ unionByName _).orderBy("key_col")
  }
}

package graft.ops

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Registry of the intermediate stages operators cache through [[model]]
  * and [[data]] (LSH bucketed stages, dedup content/signature tables,
  * k-means vectors).
  *
  * A lazily returned DataFrame gives the operator no safe point to
  * unpersist its own stage — the caller has not run an action yet — and
  * Spark's CacheManager keeps SQL-cached plans registered until they are
  * explicitly unpersisted (the ContextCleaner never releases them just
  * because the DataFrame became unreachable). Bench/Verify clear the
  * whole session cache between queries; a LIBRARY caller composing
  * several operators in one long-lived session instead calls
  * [[release]] after consuming each result, so cached stages do not
  * accumulate for the session's lifetime.
  *
  * The registry is scoped PER SESSION (weakly keyed): releasing one
  * session's stages must never evict caches that a different session in
  * the same JVM is still computing against. Within a session, call
  * [[release]] at a quiescent point — after the actions consuming the
  * operator results — exactly like `spark.catalog.clearCache()`, which it
  * narrows.
  */
object CachedStages {

  private val stages = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Queue[LogicalPlan]]())

  /** Persist a MODEL-SIZED stage in one partition and track it: a stage
    * bounded by a domain's cardinality (classes, days, value ranges,
    * bands, nations), never by corpus rows.
    *
    * An un-coalesced tiny cache keeps its shuffle's partition count, so
    * every downstream read spawns that many near-empty tasks, and each
    * task re-deserializes the stage's serialized plan closure — thread
    * dumps during the slow stages sat in
    * `ObjectInputStream.readClassDesc`/`Class.forName` inside
    * `executorRunTime`, ~100–300 ms per task for ZERO rows of work
    * (guide §2.2 "fewer, larger partitions"). One cached partition makes
    * the stage one task at any scale. Controlled A/B on the naive-Bayes
    * family (nbCube/nbClasses/confusion coalesced): q219 2.41→0.77 s,
    * q224 2.85→1.09 s, q225 5.81→1.47 s, q248 1.54→0.55 s.
    *
    * The coalesce has no exchange of its own: it narrows the whole
    * pipeline under it, back to the last exchange or cached read, to one
    * task. Over a narrow upstream that reads files or a [[data]] stage it
    * therefore serializes corpus-sized work (the q261 fused scan and the
    * Dedup gram stream both did) — give such a stage an explicit
    * `repartition(1)` (Spark's `CollapseRepartition` folds this coalesce
    * into it) or cache it as [[data]].
    */
  def model(df: DataFrame): DataFrame = track(df.coalesce(1).persist())

  /** Persist a DATA-SIZED stage (per-user, per-doc, per-pair frames: sized
    * by corpus rows) at its upstream width and track it — one task over
    * corpus-scaling rows would serialize real work.
    */
  def data(df: DataFrame): DataFrame = track(df.persist())

  /** Record a just-persisted stage under its own session; returns it
    * unchanged. The registry keeps the stage's analyzed plan, the key the
    * session's CacheManager holds it under, not the DataFrame: an
    * operator's persisted frame is unreachable once the operator returns,
    * and holding the frame would also hold its executed plan (and the
    * broadcasts in it) until the next release.
    */
  private def track(df: DataFrame): DataFrame = {
    stages.synchronized {
      stages.computeIfAbsent(df.sparkSession,
        _ => new java.util.concurrent.ConcurrentLinkedQueue())
    }.add(df.queryExecution.analyzed)
    df
  }

  /** The analyzed plans of the stages tracked for `spark` since its last
    * release, in tracking order. */
  private[graft] def tracked(spark: SparkSession): Seq[LogicalPlan] =
    Option(stages.get(spark)).fold(Seq.empty[LogicalPlan])(
      _.toArray(Array.empty[LogicalPlan]).toSeq)

  /** Unpersist every stage tracked for `spark` since its last release.
    * Results already materialized are unaffected, and a subsequent
    * operator call re-persists its own stages.
    */
  def release(spark: SparkSession, blocking: Boolean = false): Unit = {
    val q = stages.synchronized { stages.remove(spark) }
    if (q != null) {
      val session = spark.asInstanceOf[classic.SparkSession]
      var plan = q.poll()
      while (plan != null) {
        try session.sharedState.cacheManager.uncacheQuery(
          session, plan, cascade = false, blocking = blocking)
        catch { case _: IllegalStateException => () } // session stopped
        plan = q.poll()
      }
    }
  }
}

package graft.ops

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Registry of the small intermediate stages operators `persist()` (LSH
  * bucketed stages, dedup content/signature tables, k-means vectors).
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
  *
  * PARTITION-COUNT DISCIPLINE (round 20, guide §2.2 "fewer, larger
  * partitions"): a MODEL-SIZED stage (bounded by domain cardinality —
  * classes, days, value ranges, bands — never by corpus rows) is
  * `coalesce(1)`d before its persist. An un-coalesced tiny cache keeps
  * the shuffle's partition count, so every downstream read spawns that
  * many near-empty tasks, and each task re-deserializes the stage's
  * serialized plan closure — thread dumps during the slow stages sat
  * in `ObjectInputStream.readClassDesc`/`Class.forName` inside
  * `executorRunTime`, ~100–300 ms per task for ZERO rows of work. One
  * cached partition makes each model-sized stage one task at any
  * scale (the frames are bounded by contract). Controlled A/B on the
  * naive-Bayes family (nbCube/nbClasses/confusion coalesced): q219
  * 2.41→0.77 s, q224 2.85→1.09 s, q225 5.81→1.47 s, q248 1.54→0.55 s.
  * DATA-SIZED stages (per-user, per-doc, per-pair frames) keep their
  * partitioning — one task over corpus-scaling rows would serialize
  * real work.
  */
object CachedStages {

  private val stages = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Queue[LogicalPlan]]())

  /** Record a just-persisted stage under its own session; returns it
    * unchanged. The registry keeps the stage's analyzed plan, the key the
    * session's CacheManager holds it under, not the DataFrame: an
    * operator's persisted frame is unreachable once the operator returns,
    * and holding the frame would also hold its executed plan (and the
    * broadcasts in it) until the next release.
    */
  private[ops] def track(df: DataFrame): DataFrame = {
    stages.synchronized {
      stages.computeIfAbsent(df.sparkSession,
        _ => new java.util.concurrent.ConcurrentLinkedQueue())
    }.add(df.queryExecution.analyzed)
    df
  }

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

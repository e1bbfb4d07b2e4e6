package graft

import org.apache.spark.sql.SparkSession

/** The in-repo tools' one session harness. Bench, Verify, StageProf,
  * PlanAudit, Explain, DupExec, ops.RoundPlans and the test suites build
  * their session, clean up between queries and pick their queries here,
  * so an audit or a profile reads the plan the bench runs.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`: the `local[]` thread count, 4 when unset. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** `local[cpus]` with one shuffle partition per thread, in UTC.
    * Legacy parquet TIMESTAMP(NANOS) columns (the events fixture's
    * shape) read as raw-nanos longs instead of failing at analysis, a
    * no-op on timestamp[us] files. Timestamps are written as
    * TIMESTAMP_MICROS, not INT96: arrow reads them as timestamp[us],
    * the type DuckDB's oracle emits, so the type-sensitive hash compare
    * needs no unit normalization.
    */
  def session(cpus: Int = Harness.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop everything earlier queries left cached, so the next query
    * neither reads their results nor runs under their heap: the stages
    * operators tracked in [[graft.ops.CachedStages]], then every other
    * SQL-cached plan, then the RDDs outside the CacheManager (the
    * iterative loops' `localCheckpoint` rounds). Each step blocks until
    * the blocks are gone, so no background removal overlaps the next
    * query. Call it between queries only: a frame still in use loses
    * its cache.
    */
  def cleanup(spark: SparkSession): Unit = {
    graft.ops.CachedStages.release(spark, blocking = true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  private val only = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Whether query `name` runs: `SPARK_GRAFT_ONLY=q70_...,q73_...` picks
    * a subset while iterating on one query's plan; unset, all run. */
  def selected(name: String): Boolean = only.forall(_.contains(name))

  /** `s` as a quoted JSON string. Backslash, quote and every control
    * char below 0x20 are escaped: a raw tab or CR in a query's SQL or a
    * plan string would otherwise make the reader's `json.load` fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

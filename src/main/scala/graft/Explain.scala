package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: prints the formatted physical plan of each named query
  * (or all) so scan pruning, pushdown, broadcast choices and shuffle
  * counts can be reviewed per round.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(plan(spark, sfDir, n))
    }
    spark.stop()
  }

  /** Query `name`'s formatted physical plan. The session is cleaned up
    * first, as Bench and Verify do between queries, so the plan reads
    * no stage an earlier query cached and is the plan the query has
    * when it runs alone.
    */
  def plan(spark: SparkSession, sfDir: String, name: String): String = {
    Harness.cleanup(spark)
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
  }
}

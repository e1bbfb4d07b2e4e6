package graft

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
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

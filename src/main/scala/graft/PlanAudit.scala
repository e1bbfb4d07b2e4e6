package graft

/** Plan-quality diagnostic (not part of the driver contract): for every
  * graded query, prints the number of physical exchanges and the
  * occurrence count of expensive expression nodes in the optimized plan.
  * A heavy function appearing more often than the operator's design
  * calls for usually means the optimizer substituted a non-cheap alias
  * into several consumers (predicate pushdown does this unconditionally
  * — the q38 contents stage re-ran the tokenizer 11x this way) or that a
  * shared stage's derived columns were inherited by a query that needs
  * only one of them (q14 re-ran it 3x). Counts inside persist()ed
  * subtrees overstate runtime cost: the first action materializes the
  * cache once and every other reference reads it.
  *
  * Run: sbt "runMain graft.PlanAudit [sfDir]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    val heavy =
      Seq("regexp_extract_all", "md5", "aggregate(", "array_distinct")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // build ONCE: q40/q42 run their iterative pipelines eagerly at
        // construction (localCheckpoint), so a second fn() call would
        // re-execute the most expensive queries just to print a string
        val qe = fn(spark, dir).queryExecution
        val plan = qe.optimizedPlan.toString
        val counts = heavy
          .map(h => h -> java.util.regex.Pattern.quote(h).r.findAllIn(plan).size)
          .filter(_._2 > 0)
        // shuffles only: BroadcastExchange / ReusedExchange are exactly
        // the nodes a plan auditor wants NOT to count as shuffles.
        // Counted LINE-ANCHORED (node name at the start of a tree line,
        // after the drawing characters): a ReusedExchange line inlines
        // its child's "Exchange hashpartitioning(...)" description
        // mid-line, which a bare substring match would double-count.
        // Matching by exclusion (not a partitioning allowlist) keeps a
        // future RoundRobinPartitioning / rebalance exchange counted by
        // default instead of silently understating the audit.
        val exchanges =
          "(?m)^[\\s:+*()\\d-]*Exchange ".r
            .findAllIn(qe.executedPlan.toString).size
        println(s"[audit] $name shuffles=$exchanges " +
          counts.map { case (k, v) => s"$k=$v" }.mkString(" "))
      } catch { case e: Throwable => println(s"[audit] $name ERROR $e") }
    }
    spark.stop()
  }
}

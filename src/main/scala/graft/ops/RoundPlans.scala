package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev lever (PlanAudit/StageProf class, not part of the driver
  * contract): prints the FORMATTED PHYSICAL PLAN of one iteration of
  * each iterative-loop kernel (PageRank round, personalized-PageRank
  * round) on both sides of [[Graph.broadcastsVector]]: once with the
  * session's broadcast threshold as it is, once with it at -1. The
  * loops localCheckpoint per round, so the final frame's plan shows
  * only a checkpoint-RDD scan — this is the only honest way to diff
  * what a round executes (VERDICT r20 #4 called out a
  * checkpoint-truncated before/after pair as non-evidence).
  *
  * Run: runMain graft.ops.RoundPlans
  */
object RoundPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (1L, 4L), (4L, 1L), (2L, 5L), (5L, 2L)).toDF("src", "dst")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "src").repartition(col("src")).persist()
    edgesDeg.count()
    val nodes = edgesDeg.select("src").distinct().localCheckpoint()
    val n = nodes.count()
    val ranks = nodes.select(col("src").as("id"),
      lit(1000000L).as("rank_fp")).localCheckpoint()
    val teleportRows = nodes.select(col("src").as("id"),
      lit(7L).as("rank_fp"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    for (threshold <- Seq(None, Some("-1"))) {
      threshold.foreach(spark.conf.set(key, _))
      val bc = Graph.broadcastsVector(n)
      val rankSide = Graph.joinSide(ranks, bc)
      val tag = s"$key=${spark.conf.get(key)}, broadcast=$bc"
      // 4 rank partitions: the loops' vector width at local[4]
      println(s"\n========== pagerankRound, $tag ==========")
      Graph.pagerankRound(edgesDeg, nodes, 7L, rankSide, 4)
        .explain("formatted")
      println(s"\n========== pprRound, $tag ==========")
      Graph.pprRound(edgesDeg, teleportRows, rankSide, 4)
        .explain("formatted")
    }
    spark.conf.unset(key)
    spark.stop()
  }
}

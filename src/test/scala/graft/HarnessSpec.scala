package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.classic

import graft.ops.CachedStages

/** The tools' one session harness: its conf, its between-query cleanup
  * and its JSON string escape. */
class HarnessSpec extends SparkSpec {

  test("session carries the one tool conf") {
    val s = Harness.session(cpus = 4)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.parquet.outputTimestampType") ==
      "TIMESTAMP_MICROS")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }

  test("cleanup after q19 and q69 leaves no cached plan, tracked stage " +
      "or persistent RDD") {
    val dir = "/root/testdata/sf0.001"
    val cacheManager =
      spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    Harness.cleanup(spark)
    // a caller's own persist outside CachedStages, next to q19's
    // tracked stages and q69's localCheckpoint rounds
    val own = spark.range(100).toDF("x").cache()
    own.count()
    val results = Seq("q19_neardup_pairs", "q69_copurchase_pagerank")
      .map { q => val df = SparkEntry.queries(q)(spark, dir); df.count(); df }
    assert(!cacheManager.isEmpty)
    assert(CachedStages.tracked(spark).nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Harness.cleanup(spark)
    assert(cacheManager.isEmpty)
    assert(CachedStages.tracked(spark).isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString(", "))
    // the frames stay reachable up to here, so their checkpoint RDDs
    // cannot leave the persistent set by garbage collection alone
    assert(results.size == 2 && own.columns.nonEmpty)
  }

  test("Explain gives a query the same plan after another query as alone") {
    val dir = "/root/testdata/sf0.001"
    // expression ids, exchange plan ids and common-expression alias
    // numbers count up across the session
    def masked(q: String) = Explain.plan(spark, dir, q)
      .replaceAll("#\\d+|plan_id=\\d+|_common_expr_\\d+", "#")
    val alone = masked("q209_degree_census")
    // q183 caches and fills the strong-edge table q209 reads
    Explain.plan(spark, dir, "q183_strong_kcore")
    assert(masked("q209_degree_census") == alone)
  }

  test("json escape parses back to the original string") {
    val mapper = new ObjectMapper()
    val controls = (0 until 0x20).map(_.toChar.toString)
    val samples = controls ++ Seq("\"", "\\", "é", "€ naïve", "😀",
      "", "plain", controls.mkString + "\"\\ mixed é\t\r\n")
    samples.foreach { s =>
      val out = Harness.json(s)
      assert(!out.exists(_ < ' '), s"raw control char in $out")
      assert(mapper.readValue(out, classOf[String]) == s, out)
    }
  }
}

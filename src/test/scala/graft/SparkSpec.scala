package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // match Verify/Bench: legacy TIMESTAMP(NANOS) parquet reads as raw
    // longs (the LongType branch of Events.withTimeColumns) instead of
    // failing at analysis; no-op on timestamp[us] fixtures
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixturePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** `body` with Spark's broadcast joins off (threshold -1), then the
    * session default again. */
  protected def withoutBroadcast[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** The jobs and query executions `body` starts, in order, seen by a
    * listener that records only between two marker jobs run before and
    * after it: events of one listener queue arrive in order, so earlier
    * events are left out and every later one has arrived once the end
    * marker has. */
  protected def observed[T](body: => T): (T, Seq[SparkListenerJobStart], Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer[SparkListenerJobStart]()
    val plans = mutable.ArrayBuffer[QueryExecution]()
    val ended = new java.util.concurrent.CountDownLatch(1)
    object recorder extends SparkListener with QueryExecutionListener {
      @volatile var recording = false
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("spec-start") => recording = true
          case Some("spec-end") => recording = false; ended.countDown()
          case _ => if (recording) jobs += js
        }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (recording) plans += qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (recording) plans += qe
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    try {
      marker("spec-start")
      val result = body
      marker("spec-end")
      assert(ended.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (result, jobs.toSeq, plans.toSeq)
    } finally {
      spark.listenerManager.unregister(recorder)
      sc.removeSparkListener(recorder)
    }
  }
}

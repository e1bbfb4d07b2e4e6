package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage empirical profiler (guide §1.1/§7.1 — "decide whether the
  * time is going to shuffle read, shuffle write, executor compute"):
  * runs ONE graded query under a SparkListener and prints, per
  * completed stage, executor-summed task time, shuffle read/write
  * bytes and fetch-wait, spill, and the stage name line — the
  * stage-page numbers the (disabled) UI would show, as text.
  *
  * Not part of the driver contract; a dev lever like PlanAudit.
  * It runs on Bench's session ([[Harness]]), so it is how to profile
  * one Bench query.
  *
  * Run: tools/bench_fresh.sh-style jar invocation of
  *   graft.StageProf <sfDir> <queryName> [reps]
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("q01_pricing_summary")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Harness.session()
    val stages =
      scala.collection.mutable.Buffer[(Int, String, Long, Long, Long,
        Long, Long, Long, Long, Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        // wall = submission->completion: task-time sums over 32 cores
        // hide which stage the QUERY actually waited on
        val wall = (for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s).getOrElse(0L)
        stages += ((si.stageId, si.name.takeWhile(_ != '\n'),
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled, si.numTasks, wall))
      }
    })
    // rep 1 warms (JIT, page cache, file index); later reps are the
    // steady state the bench times. Stages reset per rep.
    for (r <- 1 to reps) {
      Harness.cleanup(spark)
      stages.clear()
      System.gc()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; settle before printing
      Thread.sleep(500)
      println(f"== rep $r: $name $sec%.3fs wall ==")
      println(f"   stage-wall sum: ${stages.map(_._11).sum / 1e3}%.2fs " +
        f"over ${stages.size} stages")
      println("stageId wallMs runMs cpuMs gcMs shufReadMB " +
        "shufWriteMB spillMB tasks name")
      stages.sortBy(-_._11).take(24).foreach {
        case (id, nm, run, cpu, gc, sr, sw, ms, ds, nt, wall) =>
          println(f"$id%7d $wall%6d $run%6d $cpu%6d $gc%6d ${sr / 1e6}%10.1f " +
            f"${sw / 1e6}%11.1f ${(ms + ds) / 1e6}%7.1f $nt%5d $nm%s")
      }
    }
    spark.stop()
  }
}

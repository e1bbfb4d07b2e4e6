package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.ops.CachedStages
import graft.spotify.{AppConfig, Pipeline}

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (`SparkEntry.queries`, `Pipeline.run` and the SQL functions
  * of `graft.functions`) and writes one JSON record that `run.py` turns
  * into metrics.
  *
  * One run is: set-up (session, then one untimed warm-up pass over the
  * workload's operations), `passes` untraced timed passes over them in
  * seeded order, and with `trace=1` one more pass with a listener
  * attached, span records and the function probes. Every operation is a
  * closed loop of one client: the next starts only after the previous one
  * has finished. Query results are materialized in full with `collect()`;
  * each query's rows of the first timed pass are written out untimed, right
  * after the operation, for the oracle check, and then dropped.
  *
  * Usage: PerfBench <run.properties> (written by run.py)
  */
object PerfBench {

  final case class Op(name: String, pass: Int, startNs: Long, endNs: Long,
      ok: Boolean, rows: Long, error: String, heapBytes: Long = 0L)

  def main(args: Array[String]): Unit = {
    val conf = new Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try conf.load(in) finally in.close()
    def prop(k: String): String = Option(conf.getProperty(k))
      .getOrElse(sys.error(s"missing property $k"))
    def list(k: String): Seq[String] =
      prop(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val kind = prop("kind")
    val cpus = prop("cpus").toInt
    val work = prop("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Json
    try {
      val bench = new Bench(spark, kind, prop("data"), prop("probe_data"), work)
      // warm-up: one untimed pass in the listed order, so the timed passes
      // run on warm JIT-compiled code paths; it is part of set-up
      val warm = list("ops").map { w =>
        val t0 = System.nanoTime()
        try { bench.cleanup(); bench.runOp(w, -1) }
        catch { case t: Throwable => out.str("warmup_error", t.toString) }
        (System.nanoTime() - t0) / 1e9
      }
      out.nums("warmup_s", warm)
      // without this, the first timed operation's heap reading still holds
      // tens of MB the warm-up pass left behind
      bench.cleanup()
      bench.oldGenAfterGc()
      bench.measure(list("ops"), prop("seed").toLong, prop("passes").toInt,
        prop("trace") == "1", out)
    } finally {
      Files.writeString(Paths.get(prop("out")), out.render)
      spark.stop()
    }
  }

  def epochMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** One workload's operations and the timed/traced loops over them. */
  final class Bench(spark: SparkSession, kind: String, data: String,
      probeData: String, work: String) {
    private var opCount = 0
    // queries whose first timed result is written out for the oracle check
    private val written = mutable.LinkedHashSet[String]()
    val etlRuns = mutable.ArrayBuffer[(String, String)]()
    var tracer: Option[Tracer] = None
    val spans = mutable.ArrayBuffer[Span]()
    private val clockOffsetNs =
      epochMicros() * 1000L - System.nanoTime()

    private def phase[T](opId: Int, name: String, parent: Int)(body: => T): T = {
      val t0 = System.nanoTime()
      if (tracer.isDefined)
        spark.sparkContext.setJobGroup(s"op$opId:$name", name)
      try body finally {
        if (tracer.isDefined) {
          spark.sparkContext.clearJobGroup()
          spans += Span(spans.size, parent, name, s"op$opId:$name",
            t0 + clockOffsetNs, System.nanoTime() + clockOffsetNs)
        }
      }
    }

    /** Between-operation cleanup: drop the previous operation's cached
      * stages and checkpoint RDDs, so each operation starts alike. */
    def cleanup(): Unit = {
      CachedStages.release(spark)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }

    /** Run one operation; returns (rows, result) or throws. Callers run
      * `cleanup()` first, outside the operation's time. */
    def runOp(name: String,
        pass: Int): (Long, Option[(Array[Row], StructType)]) = {
      val opId = opCount
      opCount += 1
      val traced = tracer.isDefined
      val root = if (traced) spans.size else -1
      if (traced) spans += Span(root, -1, "op", name, 0L, 0L)
      val t0 = System.nanoTime()
      try {
        if (kind == "etl") {
          val base = s"$work/etl/op$opId"
          val config = AppConfig.load(None, Map(
            "SPOTIFY_OUTPUT_DIR" -> base, "SPOTIFY_OUTPUT_FORMAT" -> "csv"))
          if (pass >= 0) etlRuns += ((name, base)) // one per timed op
          val r = phase(opId, "execute", root) {
            Pipeline.run(spark, config, None, Some(name))
          }
          if (r.status != "success")
            throw new RuntimeException(r.error.getOrElse("pipeline failed"))
          // processed and final zone each get every non-empty table
          (2 * r.stats.values.sum, None)
        } else {
          val df = phase(opId, "build", root) {
            SparkEntry.queries(name)(spark, data)
          }
          phase(opId, "plan", root)(df.queryExecution.executedPlan)
          val rows = phase(opId, "execute", root)(df.collect())
          (rows.length.toLong, Some((rows, df.schema)))
        }
      } finally {
        if (traced) spans(root) = spans(root).copy(
          startNs = t0 + clockOffsetNs, endNs = System.nanoTime() + clockOffsetNs)
      }
    }

    private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

    /** Old-generation bytes in use after the finished operation's garbage
      * is gone: a full collection, a pause in which Spark's cleaner drops
      * the broadcasts and shuffles it found unreachable, and a second
      * collection. Cached stages are still held. With one collection the
      * reading swings by tens of MB with the timing of those cleanups. */
    def oldGenAfterGc(): Long = {
      System.gc()
      Thread.sleep(100)
      System.gc()
      oldGen.map(_.getUsage.getUsed).getOrElse(0L)
    }

    def order(ops: Seq[String], seed: Long, pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

    /** One operation after `cleanup()`: its record, and the nanoseconds
      * spent outside it writing its first result for the oracle check. The
      * rows are unreachable once this returns, so the heap reading that
      * follows holds only what the engine keeps. */
    private def timedOp(name: String, pass: Int): (Op, Long) = {
      cleanup()
      val s = System.nanoTime()
      try {
        val (rows, res) = runOp(name, pass)
        val e = System.nanoTime()
        res.filter(_ => written.add(name)).foreach { case (result, schema) =>
          spark.createDataFrame(result.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$work/results/$name")
        }
        (Op(name, pass, s, e, ok = true, rows, ""), System.nanoTime() - e)
      } catch { case t: Throwable =>
        (Op(name, pass, s, System.nanoTime(), ok = false, 0L,
          Option(t.getMessage).getOrElse(t.toString).take(400)), 0L)
      }
    }

    /** The untraced timed phase, then (with `trace`) one traced pass. */
    def measure(ops: Seq[String], seed: Long, passes: Int,
        trace: Boolean, out: Json): Unit = {
      val timed = mutable.ArrayBuffer[Op]()
      val passSecs = mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      out.num("first_op_epoch_us", epochMicros())
      for (pass <- 0 until passes) {
        val p0 = System.nanoTime()
        var excluded = 0L // result writes and heap probes are not pass work
        for (name <- order(ops, seed, pass)) {
          val (rec, writeNs) = timedOp(name, pass)
          val x0 = System.nanoTime()
          timed += rec.copy(heapBytes = oldGenAfterGc())
          excluded += writeNs + System.nanoTime() - x0
        }
        passSecs += (System.nanoTime() - p0 - excluded) / 1e9
      }
      out.num("timed_s", (System.nanoTime() - t0) / 1e9)
      out.nums("pass_s", passSecs.toSeq)
      out.raw("ops", timed.map(o => new Json()
        .str("name", o.name).num("pass", o.pass)
        .num("sec", (o.endNs - o.startNs) / 1e9).bool("ok", o.ok)
        .num("rows", o.rows).str("error", o.error)
        .num("heap_mb", o.heapBytes / 1e6).render)
        .mkString("[", ",", "]"))
      dumpChecks(out)
      if (trace) traced(ops, seed, out)
    }

    /** Untimed: the inputs of the output checks. */
    private def dumpChecks(out: Json): Unit = {
      if (kind == "etl") {
        out.raw("etl", etlRuns.map { case (doc, base) =>
          new Json().str("doc", doc).str("base", base).render
        }.mkString("[", ",", "]"))
      } else {
        val oracle = SparkEntry.oracleSql
        out.raw("oracle_sql", written.foldLeft(new Json()) {
          case (j, n) => j.str(n, oracle.getOrElse(n, "")) }.render)
      }
    }

    /** One pass over `names` with the untraced passes' untimed cleanup and
      * heap probe between operations: (seconds without them, failures). */
    private def probedPass(names: Seq[String]): (Double, Int) = {
      var failed = 0
      var excluded = 0L
      val p0 = System.nanoTime()
      names.foreach { name =>
        cleanup()
        try runOp(name, -1)
        catch { case _: Throwable => failed += 1 }
        val x0 = System.nanoTime()
        oldGenAfterGc()
        excluded += System.nanoTime() - x0
      }
      ((System.nanoTime() - p0 - excluded) / 1e9, failed)
    }

    /** One traced pass after the untimed ones: spans per operation with
      * build / plan / execute children and stage spans under them, plus the
      * listener's counters and the function probes. An untraced control
      * pass in the same order follows it; the JIT is as warm for both, so
      * their difference is the tracing overhead. */
    private def traced(ops: Seq[String], seed: Long, out: Json): Unit = {
      val tr = new Tracer
      spark.sparkContext.addSparkListener(tr)
      tracer = Some(tr)
      val (passS, failed) = probedPass(order(ops, seed, 0))
      cleanup()
      tr.drain(spark)
      tracer = None
      spark.sparkContext.removeSparkListener(tr)
      val (controlS, controlFailed) = probedPass(order(ops, seed, 0))
      out.num("control_pass_s", controlS)
      out.num("trace_pass_s", passS)
      out.num("trace_failed", failed + controlFailed)
      out.raw("stages", tr.stages.map(_.json).mkString("[", ",", "]"))
      out.raw("spans", spans.map(_.json).mkString("[", ",", "]"))
      out.num("cache_fills", tr.cachedRdds.size)
      out.num("cache_mb", tr.cachedBytes.values.sum / 1e6)
      out.raw("jobs_per_group", tr.jobsPerGroup.foldLeft(new Json()) {
        case (j, (g, n)) => j.num(g, n) }.render)
      out.raw("probes", probes().foldLeft(new Json()) {
        case (j, (k, v)) => j.num(k, v) }.render)
    }

    /** Fixed projections + aggregates that call one registered function
      * each; median of three timings. */
    private def probes(): Seq[(String, Double)] = {
      graft.functions.WordShingles.register(spark)
      graft.functions.LshBuckets.register(spark)
      graft.functions.CosineSimilarity.register(spark)
      spark.read.parquet(s"$probeData/documents.parquet")
        .createOrReplaceTempView("pb_documents")
      spark.read.parquet(s"$probeData/embeddings.parquet")
        .createOrReplaceTempView("pb_embeddings")
      val sql = Seq(
        "word_shingles" -> ("SELECT sum(size(word_shingles(d.text, 3))) " +
          "FROM pb_documents d CROSS JOIN range(8)"),
        "lsh_buckets" -> ("SELECT sum(size(lsh_buckets(e.embedding, 8, 16))) " +
          "FROM pb_embeddings e CROSS JOIN range(16)"),
        "cosine_sim" -> ("SELECT sum(cosine_sim(a.embedding, b.embedding)) " +
          "FROM pb_embeddings a CROSS JOIN " +
          "(SELECT embedding FROM pb_embeddings WHERE vec_id < 256) b"))
      sql.map { case (fn, q) =>
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.sql(q).collect()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        fn -> times(1)
      }
    }
  }

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      startNs: Long, endNs: Long) {
    def json: String = new Json().num("id", id).num("parent", parent)
      .str("kind", kind).str("name", name)
      .num("start_us", startNs / 1000).num("end_us", endNs / 1000).render
  }

  final case class StageRec(id: Int, group: String, tasks: Int, submitMs: Long,
      endMs: Long, callSite: String, runMs: Long, cpuNs: Long, gcMs: Long,
      inputBytes: Long, outputBytes: Long, shuffleWrite: Long,
      shuffleRead: Long, fetchWaitMs: Long, spillBytes: Long) {
    def json: String = new Json().num("id", id).str("group", group)
      .num("tasks", tasks).num("submit_ms", submitMs).num("end_ms", endMs)
      .str("call_site", callSite).num("run_ms", runMs).num("cpu_ns", cpuNs)
      .num("gc_ms", gcMs).num("input_bytes", inputBytes)
      .num("output_bytes", outputBytes).num("shuffle_write", shuffleWrite)
      .num("shuffle_read", shuffleRead).num("fetch_wait_ms", fetchWaitMs)
      .num("spill_bytes", spillBytes).render
  }

  /** Listener for the traced pass: stage records keyed to the job group
    * (operation and phase) that ran them, and RDD block fills. */
  final class Tracer extends SparkListener {
    private val stageGroup = mutable.Map[Int, String]()
    val jobsPerGroup = mutable.LinkedHashMap[String, Int]()
    val stages = mutable.ArrayBuffer[StageRec]()
    val cachedRdds = mutable.Set[Int]()
    val cachedBytes = mutable.Map[String, Long]()
    @volatile private var drained = false

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val group = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (group == "drain") drained = true
      jobsPerGroup(group) = jobsPerGroup.getOrElse(group, 0) + 1
      js.stageIds.foreach(stageGroup(_) = group)
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages += StageRec(si.stageId, stageGroup.getOrElse(si.stageId, ""),
          si.numTasks, si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L), si.details.linesIterator
            .find(_.startsWith("graft.")).getOrElse(si.name),
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
      }

    override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit =
      synchronized {
        val info = bu.blockUpdatedInfo
        val size = info.memSize + info.diskSize
        if (info.blockId.isRDD && info.storageLevel.isValid && size > 0) {
          info.blockId.asRDDId.foreach(b => cachedRdds += b.rddId)
          cachedBytes(info.blockId.name) = size
        }
      }

    /** Wait until every event of the traced pass has reached the listener:
      * events of one queue arrive in order, so a marker job suffices. */
    def drain(spark: SparkSession): Unit = {
      spark.sparkContext.setJobGroup("drain", "drain")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      synchronized { jobsPerGroup.remove("drain") }
    }
  }

  /** Minimal JSON object writer (the record has flat, known fields). */
  final class Json {
    private val fields = mutable.ArrayBuffer[String]()
    private def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    private def n(v: Double): String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 9e15) v.toLong.toString
      else v.toString
    def str(k: String, v: String): Json = { fields += s"${q(k)}:${q(v)}"; this }
    def num(k: String, v: Double): Json = { fields += s"${q(k)}:${n(v)}"; this }
    def bool(k: String, v: Boolean): Json = { fields += s"${q(k)}:$v"; this }
    def nums(k: String, v: Seq[Double]): Json =
      raw(k, v.map(n).mkString("[", ",", "]"))
    def raw(k: String, json: String): Json = { fields += s"${q(k)}:$json"; this }
    def render: String = fields.mkString("{", ",", "}")
  }
}

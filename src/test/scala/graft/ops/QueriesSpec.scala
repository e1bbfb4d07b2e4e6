package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{CoalesceExec, LocalTableScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  ExchangeQueryStageExec, ResultQueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.{SparkEntry, SparkSpec}

/** Sanity over the graded surface: every query runs at sf0.001, the
  * queries/oracle key sets line up, and known result invariants hold.
  * (Value-level correctness is the driver's DuckDB hash compare; see
  * tools/check_oracle.py for the local equivalent.)
  */
class QueriesSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("every oracle references a query; every query has an oracle") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // q26's HLL sketch gets a partial oracle (deterministic columns +
    // approx_ok band), so the no-oracle set is empty since round 3.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set.empty, noOracle)
  }

  test("entry smoke returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The physical plan under AQE's and the result stage's wrappers. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case r: ResultQueryStageExec => unwrap(r.plan)
    case t: TableCacheQueryStageExec => unwrap(t.plan)
    case other => other
  }

  /** Whether a cached plan ends in one partition: down its unary spine,
    * the first coalesce or exchange has one output partition. */
  @tailrec private def endsInOnePartition(p: SparkPlan): Boolean =
    unwrap(p) match {
      case c: CoalesceExec => c.numPartitions == 1
      case e: Exchange => e.outputPartitioning.numPartitions == 1
      case r: ReusedExchangeExec => endsInOnePartition(r.child)
      case s: ExchangeQueryStageExec => endsInOnePartition(s.plan)
      case u if u.children.size == 1 => endsInOnePartition(u.children.head)
      case _ => false
    }

  /** The leaves a `CoalesceExec(1)` narrows to one task: everything below
    * it down to the nearest exchange or exchange stage. */
  private def narrowLeaves(p: SparkPlan): Seq[SparkPlan] = unwrap(p) match {
    case _: Exchange | _: ReusedExchangeExec | _: ExchangeQueryStageExec =>
      Nil
    case leaf if leaf.children.isEmpty => Seq(leaf)
    case node => node.children.flatMap(narrowLeaves)
  }

  private def coalescesToOne(p: SparkPlan): Seq[CoalesceExec] =
    unwrap(p) match {
      case c: CoalesceExec =>
        (if (c.numPartitions == 1) Seq(c) else Nil) ++ coalescesToOne(c.child)
      case s: ExchangeQueryStageExec => coalescesToOne(s.plan)
      case r: ReusedExchangeExec => coalescesToOne(r.child)
      case node => node.children.flatMap(coalescesToOne)
    }

  /** The one-partition rule over the stages `CachedStages` tracks for
    * `spark`, as a list of violations: (a) a stage tracked twice, (b) a
    * one-partition coalesce that narrows a file scan, or a read of a
    * cache that keeps its upstream width, to one task. A `model` stage
    * may only narrow local rows and other one-partition caches. */
  private def partitionRuleViolations(): Seq[String] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val cacheManager = session.sharedState.cacheManager
    val plans = CachedStages.tracked(spark)
    val twice = plans.combinations(2).collect {
      case Seq(a, b) if a.sameResult(b) =>
        s"(a) tracked twice: ${a.simpleString(200)}"
    }.toSeq
    val narrowed = plans.flatMap { plan =>
      val cached = cacheManager.lookupCachedData(session, plan)
        .map(_.cachedRepresentation.cacheBuilder.cachedPlan)
      assert(cached.nonEmpty, s"tracked but not cached: ${plan.simpleString(200)}")
      coalescesToOne(cached.get).flatMap(c => narrowLeaves(c.child)).collect {
        case _: LocalTableScanExec => None
        case s: InMemoryTableScanExec
            if endsInOnePartition(s.relation.cacheBuilder.cachedPlan) => None
        case leaf => Some(s"(b) one-partition coalesce over " +
          s"${leaf.simpleString(200)} in\n${unwrap(cached.get).treeString}")
      }.flatten
    }
    twice ++ narrowed
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name executes at sf0.001") {
      val df = fn(spark, dir)
      val n = df.count()
      val violations = partitionRuleViolations()
      // the Verify/Bench cleanup discipline: a query's persisted stages
      // must not outlive its test — a leftover cache whose logical plan
      // matches a LATER suite's subtree silently rewrites that suite's
      // asserted plan (q107's token counts shadowed q98's word-frequency
      // scan until this release)
      CachedStages.release(spark)
      assert(violations.isEmpty, violations.mkString("\n"))
      // q09 legitimately yields 0 rows at sf0.001; everything else must
      // produce data for the oracle compare to be meaningful.
      if (name != "q09_setops_customers") assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("partition rule flags a model stage over a file scan and a stage " +
      "tracked twice") {
    val orders = Tables(spark, dir, "orders").select("o_orderkey")
    CachedStages.model(orders).count()
    val fileScan = partitionRuleViolations()
    CachedStages.release(spark)
    val once = CachedStages.data(orders)
    CachedStages.data(once).count()
    val twice = partitionRuleViolations()
    CachedStages.release(spark)
    // a model stage over local rows, one over another model stage and one
    // over an exchange pass
    import spark.implicits._
    val local = CachedStages.model(Seq(1L, 2L, 3L).toDF("x"))
    CachedStages.model(local.filter("x > 1")).count()
    CachedStages.model(orders.groupBy("o_orderkey").count()).count()
    val clean = partitionRuleViolations()
    CachedStages.release(spark)
    assert(fileScan.size == 1 && fileScan.head.startsWith("(b)"), fileScan)
    assert(twice.size == 1 && twice.head.startsWith("(a)"), twice)
    assert(clean.isEmpty, clean)
  }

  // each line of ops code that makes the raw call `re` outside `owner`,
  // the one file allowed to make it
  private def rawCalls(re: scala.util.matching.Regex,
      owner: String): Seq[String] = {
    val sources = new java.io.File("src/main/scala/graft/ops").listFiles()
      .filter(_.getName.endsWith(".scala"))
    assert(sources.length > 20)
    assert(sources.exists(_.getName == owner), owner)
    sources.toSeq.filter(_.getName != owner).sortBy(_.getName).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        // the text before a line comment; scaladoc lines are comments
        case (line, i) if !line.trim.startsWith("*") &&
            !line.trim.startsWith("/*") &&
            re.findFirstIn(line.split("//", 2).head).nonEmpty =>
          s"${f.getName}:${i + 1}: ${line.trim}"
      }.toList finally src.close()
    }
  }

  test("ops code caches only through CachedStages.model and .data") {
    val hits = rawCalls(
      """\.persist\(|coalesce\(1\)|CachedStages\.track\b""".r,
      "CachedStages.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("ops code cuts lineage only through Rounds") {
    val hits = rawCalls("""localCheckpoint\(""".r, "Rounds.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("q17 finds exactly the planted duplicate groups") {
    val d = Dedup.exactDuplicates(spark, dir).collect()
    assert(d.length == 5)
    assert(d.forall(_.getAs[Long]("n_copies") == 2))
    assert(d.map(_.getAs[Long]("canonical_id")).toSeq == Seq(0L, 100L, 200L, 300L, 400L))
  }

  test("q21 top neighbors are cosine-sane (|cos| <= 1, ranked desc)") {
    val rows = Similarity.cosineTopK(spark, dir).collect()
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0 + 1e-9))
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("cos"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q84 hard negatives: labels always differ, recompute agrees") {
    val rows = Similarity.hardNegatives(spark, dir, 5).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r =>
      r.getAs[Int]("neg_label") != r.getAs[Int]("q_label")))
    // driver-side brute force over the whole sf0.001 corpus: for each
    // anchor the mined set must be EXACTLY the top-5 other-label
    // vectors under the same rounded-cosine, vec_id-tiebroken order
    val all = Tables(spark, dir, "embeddings").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (qId, g) =>
      val (_, qLabel, qVec) = all.find(_._1 == qId).get
      val expect = all
        .filter(v => v._1 != qId && v._2 != qLabel)
        .map(v => (v._1, cos(qVec, v._3)))
        .sortBy { case (id, c) => (-c, id) }
        .take(5).map(_._1).toSeq
      val got = g.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("vec_id")).toSeq
      assert(got == expect, s"anchor $qId: $got != $expect")
    }
  }

  test("q93 preference pairs: strict margins, no self-pairs, recompute agrees") {
    val rows = Quality.preferencePairs(spark, dir, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall(p => p._5 > 0 && p._3 != p._4))
    // driver-side recompute from independently derived scores
    import org.apache.spark.sql.functions.col
    val scored = TextOps.tokenized(spark, dir)
      .withColumn("quality", TextOps.qualityCol(
        col("n_chars"), col("n_toks"), col("stop_hits")))
      .select("source", "doc_id", "quality").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = scored.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      val top = ds.sortBy(d => (-d._3, d._2)).take(3)
      val bot = ds.sortBy(d => (d._3, -d._2)).take(3)
      top.zip(bot).zipWithIndex.collect {
        case ((c, r), i) if c._2 != r._2 && c._3 > r._3 =>
          (src, (i + 1).toLong, c._2, r._2, c._3 - r._3)
      }
    }.toSet
    assert(rows.toSet == expect, s"${rows.toSet} != $expect")
  }

  test("q89 props extraction degrades corrupt JSON to NULL, never fails") {
    import spark.implicits._
    val evs = Seq(
      ("click", """{"k": 5}"""),
      ("click", """{"k": 7}"""),
      ("click", """not json at all"""),   // corrupt → k NULL
      ("click", """{"other": 1}"""),      // schema miss → k NULL
      ("view", null: String))             // null props → k NULL
      .toDF("event_type", "props")
    val out = Events.propsMetricsOf(evs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out("click") == ((4L, 2L, 12L)), out.toString)
    assert(out("view") == ((1L, 0L, -1L)), out.toString)
  }

  test("q12 lag-based sessions equal Spark's native session_window operator") {
    import org.apache.spark.sql.functions._
    // q12 keeps a session while gap <= 1800 floor-seconds; the native
    // operator closes at >= gap — on integer seconds, gap <= 1800 is
    // exactly gap < 1801, so session_window('1801 seconds') over the
    // floored timestamps must reproduce the lag-based counts
    val native = Events.events(spark, dir)
      .groupBy(col("user_id"),
        session_window(timestamp_seconds(col("ts_sec")), "1801 seconds"))
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n").as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lagBased = Events.userSessions(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toMap
    assert(native == lagBased,
      s"diff: ${(native.toSet diff lagBased.toSet).take(3)}")
  }

  test("q12 session counts bounded by event counts") {
    val rows = Events.userSessions(spark, dir).collect()
    assert(rows.forall(r =>
      r.getAs[Long]("n_sessions") <= r.getAs[Long]("n_events")))
  }

  test("q64 funnel: hand-computed ordered stages, out-of-order events do not convert") {
    import spark.implicits._
    // user 1: full ordered funnel; user 2: purchase BEFORE signup (the
    // purchase must not count — only the ordered prefix converts);
    // user 3: view without signup (stage 0); user 4: signup only
    val evs = Seq(
      (1L, "signup", 100L), (1L, "view", 200L), (1L, "click", 300L),
      (1L, "purchase", 400L),
      (2L, "purchase", 50L), (2L, "signup", 100L), (2L, "view", 150L),
      (3L, "view", 10L), (3L, "click", 20L),
      (4L, "signup", 99L)
    ).toDF("user_id", "event_type", "ts")
    val got = Events.funnelStagesOf(evs).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(4) == (("purchase", 1L))) // user 1
    assert(got(2) == (("view", 1L)))     // user 2: signup→view, purchase too early
    assert(got(0) == (("none", 1L)))     // user 3: never signed up
    assert(got(1) == (("signup", 1L)))   // user 4
    assert(!got.contains(3))
    // equal first-times do NOT convert (strictly-after semantics)
    val tie = Seq((9L, "signup", 100L), (9L, "view", 100L))
      .toDF("user_id", "event_type", "ts")
    val tied = Events.funnelStagesOf(tie).collect()
      .map(r => r.getInt(0)).toSet
    assert(tied == Set(1))
  }

  test("q65 retention: hand-computed cohorts; offsets and totals consistent") {
    import spark.implicits._
    val wk = 604800L
    // user 1 first seen week 0, active weeks 0,1,3; user 2 first week 1,
    // active 1,2; user 3 only week 0; two events in one week dedupe
    val evs = Seq(
      (1L, 0L * wk), (1L, 0L * wk + 5), (1L, 1L * wk + 10), (1L, 3L * wk),
      (2L, 1L * wk + 1), (2L, 2L * wk + 1),
      (3L, 100L)
    ).toDF("user_id", "ts_sec")
    val got = Events.retentionCohortsOf(evs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (0L, 0L) -> 2L, // users 1 and 3 in cohort 0 at offset 0
      (0L, 1L) -> 1L, (0L, 3L) -> 1L, // user 1 retained
      (1L, 0L) -> 1L, (1L, 1L) -> 1L  // user 2's cohort
    ))
    // invariant on the real corpus: offset-0 count == cohort size >= any
    // later offset's count
    val real = Events.retentionCohorts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCohort = real.groupBy(_._1)
    byCohort.values.foreach { rows =>
      val base = rows.find(_._2 == 0L).map(_._3).getOrElse(0L)
      assert(rows.forall(_._3 <= base), s"offset-0 must dominate: $rows")
    }
  }

  test("q53 quantiles match a driver-side sort-and-index recompute") {
    val pcts = Seq(25, 50, 75, 90, 99)
    val rows = Relational.groupedQuantiles(spark, dir, pcts).collect()
    val orders = Tables(spark, dir, "orders")
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (p, a) => p -> a.map(_._2).sorted }
    assert(rows.map(_.getString(0)).toSet == orders.keySet)
    rows.foreach { r =>
      val sorted = orders(r.getString(0))
      val n = sorted.length
      assert(r.getAs[Long]("n_orders") == n)
      pcts.foreach { p =>
        // the exact rank rule both engines implement: ceil(p*n/100), 1-based
        val k = (p * n + 99) / 100
        assert(r.getAs[Double](s"p$p") == sorted(k - 1),
          s"${r.getString(0)} p$p: got ${r.getAs[Double](s"p$p")}, " +
            s"want ${sorted(k - 1)} (n=$n, k=$k)")
      }
    }
  }

  test("q72 sketch answer honors its contracted rank error") {
    import spark.implicits._
    // controlled group: 0..999 — true median rank band is explicit
    val e = (0 until 1000).map(i => ("g", i.toDouble)).toDF("event_type", "v")
    val row = Events.approxQuantileBoundOf(e, 100).collect().head
    assert(row.getAs[Long]("n_events") == 1000L)
    assert(row.getAs[Double]("min_value") == 0.0)
    assert(row.getAs[Double]("max_value") == 999.0)
    assert(row.getAs[Long]("approx_ok") == 1L)
    // the certificate must be falsifiable: a "sketch" that answered the
    // max would land at rank 1000, far outside [n/2 - eps*n - 1, ...]
    val n = 1000.0; val eps = 1.0 / 100
    assert(n > n * 0.5 + eps * n + 1,
      "bound too loose to ever reject a broken sketch")
    // and on the graded table every group certifies
    val graded = Events.approxQuantileBound(spark, dir, 100).collect()
    assert(graded.nonEmpty)
    graded.foreach(r => assert(r.getAs[Long]("approx_ok") == 1L,
      s"rank certificate failed for ${r.getString(0)}"))
  }

  test("q74 grouping sets: exactly the declared grains, totals consistent") {
    val rows = Relational.groupingSetsLineitem(spark, dir).collect()
    // gid 0 = (flag,status), 2 = (status) [flag bit set], 3 = ()
    assert(rows.map(_.getAs[Long]("gid")).toSet == Set(0L, 2L, 3L))
    val total = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(total.length == 1)
    val n = Tables(spark, dir, "lineitem").count()
    assert(total.head.getAs[Long]("n_rows") == n)
    // each grain's counts re-sum to the total
    Seq(0L, 2L).foreach { g =>
      assert(rows.filter(_.getAs[Long]("gid") == g)
        .map(_.getAs[Long]("n_rows")).sum == n, s"grain $g")
    }
  }

  test("q77 matches a driver-side correlated-subquery replay") {
    val custs = Tables(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(),
        BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)))
    val byNation = custs.groupBy(_._2)
    val want = custs.filter { case (_, nk, bal) =>
      val grp = byNation(nk)
      bal * grp.length > grp.map(_._3).sum
    }.map(_._1).toSet
    val got = Relational.customersAboveNationAvg(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("q78 audit: anomaly metrics are zero, volume metrics are exact") {
    val m = Quality.qualityAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("orders_dup_keys", "lineitem_orphans", "orders_orphans",
      "lineitem_null_shipdate", "lineitem_nonpositive_qty",
      "lineitem_discount_range").foreach(k =>
      assert(m(k) == 0L, s"$k expected clean"))
    assert(m("lineitem_rows") == Tables(spark, dir, "lineitem").count())
    assert(m("orders_rows") == m("orders_distinct_keys"))
    // falsifiability: a corrupted frame must trip the checks
    import spark.implicits._
    val badOrders = Seq((1L, 10L), (1L, 11L)).toDF("o_orderkey", "o_custkey")
    val dups = badOrders.groupBy("o_orderkey")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
      .filter($"c" > 1).count()
    assert(dups == 1L)
  }

  test("q79 incremental merge is invariant to the split point") {
    import org.apache.spark.sql.functions._
    val orders = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("o_custkey") ->
        (r.getAs[Long]("n_orders"), r.getAs[Long]("sum_cents"))).toMap
    val full = asMap(orders.groupBy("o_custkey").agg(
      count(lit(1)).as("n_orders"), sum("cents").as("sum_cents")))
    // three different cutoffs, one degenerate (empty delta): all equal
    Seq("1996-06-01", "2000-01-01", "2039-01-01").foreach { c =>
      val cut = lit(c).cast("timestamp")
      val inc = asMap(Cdc.incrementalAggOf(
        orders.filter(col("o_orderdate") < cut),
        orders.filter(col("o_orderdate") >= cut)))
      assert(inc == full, s"cutoff $c diverged")
    }
  }

  test("q80 sliding KMV: exact below k, estimator regime above") {
    val rows = Events.slidingDistinctUsers(spark, dir).collect()
      .map(r => (r.getAs[Double]("est_distinct"),
        Option(r.getAs[java.lang.Long]("kth_hash")),
        r.getAs[Long]("exact_users")))
    assert(rows.nonEmpty)
    rows.foreach { case (est, kth, exact) =>
      if (kth.isEmpty) assert(est == exact.toDouble,
        s"sub-k window must report exactly: est=$est exact=$exact")
      else {
        // KMV with k=64 on a uniform hash: require the estimate within
        // 60% of truth — loose enough to never flake, tight enough to
        // catch a broken estimator (off by 2^k-style bugs)
        assert(exact >= 64L)
        assert(math.abs(est - exact) / exact <= 0.6,
          s"estimator off: est=$est exact=$exact")
      }
    }
  }

  test("q81 PIT join: versions, boundaries, open tail, pre-history drop") {
    import spark.implicits._
    // dim (even ids): user 1 is type A from t=1000us, B from t=3000us
    // (ts column is raw NANOS, as in the events table)
    val dim = Seq(
      (1L, 2L, 1000000L, "A"), (1L, 4L, 2000000L, "A"),
      (1L, 6L, 3000000L, "B")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val facts = Seq(
      (1L, 1L, 500000L, "x"),   // before first version -> dropped
      (1L, 3L, 1000000L, "x"),  // boundary: == valid_from -> version 1
      (1L, 5L, 2999000L, "y"),  // inside version 1
      (1L, 7L, 3000000L, "y"),  // boundary: == v2 start -> version 2
      (1L, 9L, 99000000L, "z"), // far future -> open tail, version 2
      (2L, 11L, 1000000L, "w")  // user with no dim feed -> dropped
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = Cdc.pointInTimeEnrichmentOf(dim, facts).collect()
      .map(r => r.getAs[Long]("fact_event_id") ->
        (r.getAs[Long]("version"), r.getAs[String]("active_type")))
      .toMap
    assert(got == Map(
      3L -> (1L, "A"), 5L -> (1L, "A"),
      7L -> (2L, "B"), 9L -> (2L, "B")))
    // graded surface: every fact matches at most once
    val graded = Cdc.pointInTimeEnrichment(spark, dir).collect()
    assert(graded.nonEmpty)
    val ids = graded.map(_.getAs[Long]("fact_event_id"))
    assert(ids.distinct.length == ids.length, "a fact matched two versions")
  }

  test("q98 BPE pair counts match a hand-computed corpus") {
    import spark.implicits._
    // word freqs: aa=3, ab=1, b=1, cab=1 (b is single-char -> no pairs).
    // pair weights: 'aa' from word aa (freq 3); 'ab' from words ab + cab
    // (1+1); 'ca' from cab (1). Null doc_id/text rows contribute nothing.
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "aa ab AA"),
      (java.lang.Long.valueOf(2L), "aa b cab!"),
      (java.lang.Long.valueOf(3L), null),
      (null.asInstanceOf[java.lang.Long], "zz zz")
    ).toDF("doc_id", "text")
    val got = TextOps.bpePairCountsOf(docs, 20).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "aa", 3L), (2L, "ab", 2L), (3L, "ca", 1L)), got)
    // the k cut truncates the ranking, never reorders it
    val top2 = TextOps.bpePairCountsOf(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(top2 == got.take(2), top2)
  }

  test("q101 BPE merges: hand-computed training loop with tie-break and rewrite") {
    import spark.implicits._
    // words: aa=2, ab=1, abc=1, b=1. Round 1: pairs (a,a)=2 and (a,b)=2
    // tie; "a a" < "a b" so (a,a) is adopted. Round 2: with aa fused,
    // (a,b)=2 from ab+abc wins. Round 3: only (ab,c)=1 remains.
    val docs = Seq((1L, "aa ab aa"), (2L, "abc b")).toDF("doc_id", "text")
    val got = TextOps.bpeMergesOf(docs, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, "a", "a", "aa", 2L), (2L, "a", "b", "ab", 2L),
      (3L, "ab", "c", "abc", 1L)), got)
  }

  test("q101 merge application is greedy left-to-right, like a real BPE trainer") {
    import spark.implicits._
    // (a,a) over "aaaa" must yield [aa,aa] (two merges) and over "aaa"
    // [aa,a] (one) — the left-to-right non-overlap semantics; round 2
    // then ties (aa,a)=1 vs (aa,aa)=1 and adopts "aa a" (prefix order).
    val docs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val got = TextOps.bpeMergesOf(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, "a", "a", "aa", 5L),
      (2L, "aa", "a", "aaa", 1L)), got)
  }

  test("q102 BPE encode stats: hand-computed fertility and compression per source") {
    import spark.implicits._
    // Same corpus as the q101 hand test, now with sources. Training
    // (k=2): merges (a,a) then (a,b). Final vocab pieces: aa=1, ab=1,
    // abc=2 ("ab","c"), b=1. s1 = {aa x2, ab}: 3 words, 3 pieces,
    // 6 chars; s2 = {abc, b}: 2 words, 3 pieces, 4 chars.
    val docs = Seq((1L, "aa ab aa", "s1"), (2L, "abc b", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.bpeEncodeStatsOf(docs, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("s1", 3L, 3L, 1000000L, 2000000L),
      ("s2", 2L, 3L, 1500000L, 1333333L)), got)
  }

  test("q103 embedding decontamination: planted rescaled leaks flagged, threshold is a live lever") {
    import spark.implicits._
    // bench = {0, 100} rescaled x2. Cosines: v0 and v100 hit their own
    // twins at 1.0; v2=[1,1] reaches 0.989949 vs bench100=[6,8]; v1
    // tops out at 0.8. tau=0.95 catches the twins plus that near-miss;
    // tau=0.995 isolates exactly the planted twins; tau>1 flags nothing.
    val corpus = Seq(
      (0L, 0, Array(1f, 0f)), (1L, 0, Array(0f, 1f)),
      (2L, 1, Array(1f, 1f)), (100L, 1, Array(3f, 4f))
    ).toDF("vec_id", "label", "v")
    def run(tau: Double) =
      Similarity.embeddingDecontaminationOf(spark, corpus, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    assert(run(0.95) == Seq((0L, 2L, 1L, 500000L), (1L, 2L, 2L, 1000000L)))
    assert(run(0.995) == Seq((0L, 2L, 1L, 500000L), (1L, 2L, 1L, 500000L)))
    assert(run(1.01) == Seq((0L, 2L, 0L, 0L), (1L, 2L, 0L, 0L)))
  }

  test("q104 session sequences: hand-computed gap splits, ordering, and vocabulary cut") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // user 1: view@0, click@100 (same session), view@3000 (gap 2900s >
    // 1800 -> new session). user 2: view@0, click@50. Sequences:
    // "view click" x2, "view" x1. The k=1 cut keeps only the head.
    val evs = Seq(
      (1L, 10L, "view", 0L), (1L, 11L, "click", 100L),
      (1L, 12L, "view", 3000L),
      (2L, 20L, "view", 0L), (2L, 21L, "click", 50L)
    ).toDF("user_id", "event_id", "event_type", "ts_sec")
      .withColumn("ts_us", col("ts_sec") * 1000000L)
    def run(k: Int) = Events.sessionSequencesOf(evs, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(run(20) == Seq((1L, "view click", 2L), (2L, "view", 1L)))
    assert(run(1) == Seq((1L, "view click", 2L)))
    // same-second events order on event_id: swap ids so "click" wins
    val tied = Seq((3L, 31L, "b_click", 0L), (3L, 30L, "a_view", 0L))
      .toDF("user_id", "event_id", "event_type", "ts_sec")
      .withColumn("ts_us", col("ts_sec") * 1000000L)
    assert(Events.sessionSequencesOf(tied, 5).collect()
      .map(r => r.getString(1)).toSeq == Seq("a_view b_click"))
  }

  test("q105 split-leakage audit: hand-computed pair routing and leak marks") {
    import spark.implicits._
    // md5 buckets: 1,3→train; 2→validation; 7,22→test. Unordered split
    // pairs canonicalize alphabetically (test < train < validation).
    val pairs = Seq((1L, 3L), (1L, 2L), (7L, 1L), (7L, 22L), (2L, 7L))
      .toDF("doc_a", "doc_b")
    val got = Sampling.splitLeakageAuditOf(pairs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      ("test", "test", 1L, 0L), ("test", "train", 1L, 1L),
      ("test", "validation", 1L, 1L), ("train", "train", 1L, 0L),
      ("train", "validation", 1L, 1L)), got)
  }

  test("q106 mixture weights: hand-computed temperature sampling at alpha = 1/2") {
    import spark.implicits._
    // tokens: s1 = 4, s2 = 1 (null doc dropped). total 5, sqrt 2 and 1,
    // sum_sqrt 3. weights 2/3 and 1/3; boosts (2/3)*5/4 and (1/3)*5/1.
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "a b", "s1"),
      (java.lang.Long.valueOf(2L), "c d", "s1"),
      (java.lang.Long.valueOf(3L), "e", "s2"),
      (null.asInstanceOf[java.lang.Long], "zz zz", "s2")
    ).toDF("doc_id", "text", "source")
    val got = Sampling.mixtureWeightsOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == Seq(("s1", 4L, 800000L, 0.666667, 0.833333),
      ("s2", 1L, 200000L, 0.333333, 1.666667)), got)
    // the up/down-sampling law: low-resource boosted, high damped, and
    // the weighted mix is a distribution (weights sum to ~1)
    assert(got.map(_._4).sum > 0.999999 && got.map(_._4).sum < 1.000001)
  }

  test("q107 vocab coverage: hand-computed curve with the q100 tie-break") {
    import spark.implicits._
    // counts: a=4, b=2, d=2, c=1 (b before d on token ASC at n=2);
    // total 9. N=1 covers 4/9; N=3 covers 8/9; N=10 covers all.
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "d d b a"))
      .toDF("doc_id", "text")
    val got = TextOps.vocabCoverageOf(docs, Seq(3, 1, 10)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 4L, 444444L), (3L, 8L, 888888L),
      (10L, 9L, 1000000L)), got)
  }

  test("q108 gopher gate: each rule falsified separately on controlled docs") {
    import spark.implicits._
    val cat23 = Seq.fill(23)("cat").mkString(" ")
    val docs = Seq(
      // pass all: 25 toks, 75 chars (the 3*n lower bound EXACTLY — the
      // >= boundary is in play), all alpha, stops {the, and}
      (java.lang.Long.valueOf(1L), s"the and $cat23", "s"),
      // fail r_count only: 3 toks (9 chars keeps wordlen on-boundary)
      (java.lang.Long.valueOf(2L), "the and cat", "s"),
      // fail r_wordlen only: mean token length 52/25 < 3
      (java.lang.Long.valueOf(3L), "the and " + Seq.fill(23)("ab").mkString(" "), "s"),
      // fail r_alpha only: 6/25 numeral tokens > 20% (len-3 numerals
      // keep tok_chars at exactly 75, isolating the alpha rule)
      (java.lang.Long.valueOf(4L),
        "the and " + Seq.fill(17)("cat").mkString(" ") + " " +
          Seq.fill(6)("123").mkString(" "), "s"),
      // fail r_stop only: zero stop-list words
      (java.lang.Long.valueOf(5L), Seq.fill(25)("cat").mkString(" "), "s"),
      // null doc_id dropped
      (null.asInstanceOf[java.lang.Long], "the and " + cat23, "s")
    ).toDF("doc_id", "text", "source")
    val got = TextOps.gopherGateOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == Seq(("s", 5L, 4L, 4L, 4L, 4L, 1L, 200000L)), got)
  }

  test("q109 CMS heavy hitters: estimates equal a driver-side sketch replay") {
    import spark.implicits._
    val (w, d, k) = (4, 2, 2)
    // counts: a=4, b=2, c=2; top-2 cut = a, then b on token ASC
    val docs = Seq((1L, "a b a b c"), (2L, "a c a"))
      .toDF("doc_id", "text")
    // independent replay of the shared md5 bucket rule
    def bucket(j: Int, t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"cms$j:$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 6), 16) % w
    }
    val counts = Map("a" -> 4L, "b" -> 2L, "c" -> 2L)
    val counters = (for { (t, n) <- counts.toSeq; j <- 0 until d }
      yield ((j, bucket(j, t)), n))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val exp = Seq("a", "b").map { t =>
      val est = (0 until d).map(j => counters((j, bucket(j, t)))).min
      (t, counts(t), est, est - counts(t))
    }
    val got = TextOps.cmsHeavyHittersOf(docs, w, d, k).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == exp, s"got $got expected $exp")
    // CMS structural guarantee: collisions only overcount
    assert(got.forall(_._4 >= 0))
  }

  test("q99 inverted index: postings exact below the df cap, NULL above it") {
    import spark.implicits._
    // dfs: x=3, y=2, z=1, w=1. maxDf=2 suppresses x's posting list only.
    // doc 3 repeats y -> array_distinct keeps its df at 2, postings "1 3".
    val docs = Seq(
      (1L, "x y"), (2L, "x z"), (3L, "x y w y")
    ).toDF("doc_id", "text")
    val got = TextOps.invertedIndexOf(docs, 2L).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(got == Seq(("w", 1L, "3"), ("x", 3L, null),
      ("y", 2L, "1 3"), ("z", 1L, "2")), got)
  }

  test("q100 OOV rates against the corpus-top-N vocab, hand-computed") {
    import spark.implicits._
    // token counts: a=4, b=2, c=1, d=2. vocabSize=2 keeps {a, b} — the
    // b-vs-d tie at n=2 breaks on token ASC, exactly the oracle's cut.
    val docs = Seq(
      (1L, "a b a", "s1"), (2L, "a c", "s1"), (3L, "d d b a", "s2")
    ).toDF("doc_id", "text", "source")
    val got = TextOps.vocabOovRatesOf(docs, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(("s1", 5L, 1L, 200000L), ("s2", 4L, 2L, 500000L)), got)
  }

  test("q110 HLL distinct: estimate equals a driver-side register replay") {
    import spark.implicits._
    val m = 8 // small m so register collisions are real
    val alphaPm = 709L
    val restBits = 40 - Integer.numberOfTrailingZeros(m) // 37
    val kMax = restBits + 1
    // type a: users 1..40 each seen TWICE (sketch must be insensitive
    // to duplication); type b: users 1..5
    val rows = (1 to 40).flatMap(u => Seq(("a", u.toLong), ("a", u.toLong))) ++
      (1 to 5).map(u => ("b", u.toLong))
    val df = rows.toDF("event_type", "user_id")
    // independent replay of the 40-bit md5-prefix register rule
    def hash(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"hll:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 10), 16)
    }
    def replay(users: Seq[Long]): (Long, Long, Long) = {
      val regs = users.map(hash).groupBy(_ % m)
        .view.mapValues(_.map { h =>
          val rest = h / m
          if (rest == 0) kMax
          else kMax - (64 - java.lang.Long.numberOfLeadingZeros(rest))
        }.max).toMap
      val s = regs.values.map(mj => 1L << (kMax - mj)).sum +
        (m - regs.size) * (1L << kMax)
      val est = (alphaPm * m * m * (1L << kMax)) / (1000L * s)
      val exact = users.distinct.size.toLong
      (est, (m - regs.size).toLong, exact)
    }
    val (estA, zeroA, exactA) = replay((1L to 40L).toSeq)
    val (estB, zeroB, exactB) = replay((1L to 5L).toSeq)
    val got = Events.hllDistinctUsersOf(df, m, alphaPm).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val exp = Seq(
      ("a", exactA, zeroA, estA, math.abs(estA - exactA) * 1000000L / exactA),
      ("b", exactB, zeroB, estB, math.abs(estB - exactB) * 1000000L / exactB))
    assert(got == exp, s"got $got expected $exp")
    // 8 registers at 40/5 distinct: the sketch is coarse but sane —
    // within a factor of ~2 either side at this deliberately tiny m
    assert(estA > exactA / 2 && estA < exactA * 2, (estA, exactA))
  }

  test("q111 cross-source matrix equals a driver-side rollup of the q19 pairs") {
    val pairs = Dedup.nearDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val src = Tables(spark, dir, "documents").select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = pairs.map { case (a, b, j) =>
      val sa = src(if (a >= 1000000L) a - 1000000L else a)
      val sb = src(if (b >= 1000000L) b - 1000000L else b)
      (if (sa <= sb) (sa, sb) else (sb, sa), j)
    }.groupBy(_._1).map { case ((lo, hi), vs) =>
      val js = vs.map(_._2)
      (lo, hi, js.size.toLong, js.count(_ == 1.0).toLong, js.min, js.max)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = Dedup.crossSourceNearDups(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == exp, s"got $got expected $exp")
    // the planted copies guarantee a non-empty matrix, and every cell's
    // Jaccard band is well-formed
    assert(got.nonEmpty && got.forall(c => c._4 <= c._3 && c._5 <= c._6))
    CachedStages.release(spark)
  }

  test("q112 normalization gain: case/punct jitter collapses, real edits survive") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "big cat!", "s1"),
      (2L, "Big  Cat", "s1"), // raw-distinct, norm-collapses with 1 and 3
      (3L, "big cat", "s1"),
      (4L, "other text", "s1"),
      (5L, "dog", "s2"),
      (6L, "dog", "s2"), // raw exact dup — already collapsed pre-norm
      (7L, "dogs", "s2") // a REAL edit: normalization must NOT merge it
    ).toDF("doc_id", "text", "source")
    val got = Dedup.normalizedDedupGainOf(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("s1", 4L, 4L, 2L, 2L, 500000L),
      ("s2", 3L, 2L, 2L, 0L, 333333L)), got)
  }

  test("q113 ngram novelty: hand-computed df-1 fractions, <3-token docs drop") {
    import spark.implicits._
    // doc 1/2 share gram "a b c" (df=2); each keeps one private gram;
    // doc 3 has no 3-gram; doc 5's repeated window exercises the
    // DISTINCT-shingle rule ({m n m, n m n}, both df=1)
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c x"), (3L, "z z"), (4L, "p q r"),
      (5L, "m n m n m")
    ).toDF("doc_id", "text")
    val got = TextOps.ngramNoveltyOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 500000L), (2L, 2L, 1L, 500000L),
      (4L, 1L, 1L, 1000000L), (5L, 2L, 2L, 1000000L)), got)
    CachedStages.release(spark)
  }

  test("q114 cluster split: clusters move whole, the q105 audit reads zero leaks") {
    val split = Sampling.clusterAwareSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // total coverage: every corpus doc (base + planted) is assigned
    assert(split.length ==
      Dedup.corpusWithNearDups(spark, dir).count())
    // a cluster is one unit: every member shares its canonical's split
    val byCluster = split.groupBy(_._2).values
    assert(byCluster.forall(_.map(_._3).distinct.size == 1))
    // and some real multi-doc cluster exists (the planted pairs)
    assert(byCluster.exists(_.size > 1))
    // the closing of the q105 loop: NO near-dup pair straddles splits
    val splitOf = split.map(t => t._1 -> t._3).toMap
    val pairs = Dedup.nearDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty &&
      pairs.forall { case (a, b) => splitOf(a) == splitOf(b) })
    // contrast: the doc_id-keyed q44 rule DOES leak on the same pairs
    // (otherwise this operator would be proving nothing)
    val audit = Sampling.splitLeakageAuditOf(
      Dedup.nearDupPairs(spark, dir).select("doc_a", "doc_b")).collect()
    assert(audit.exists(r => r.getLong(3) == 1L),
      "expected the naive split to leak on this corpus")
    CachedStages.release(spark)
  }

  test("q115 token budget: hand-computed integer sqrt allocation") {
    import spark.implicits._
    // token counts: s1 = 16 (isqrt 4), s2 = 9 (isqrt 3), s3 = 100
    // (isqrt 10); denom 17, budget 1700 -> allocs 400/300/1000
    val docs = Seq(
      (java.lang.Long.valueOf(1L), Seq.fill(16)("t").mkString(" "), "s1"),
      (java.lang.Long.valueOf(2L), Seq.fill(9)("t").mkString(" "), "s2"),
      (java.lang.Long.valueOf(3L), Seq.fill(60)("t").mkString(" "), "s3"),
      (java.lang.Long.valueOf(4L), Seq.fill(40)("t").mkString(" "), "s3"),
      (null.asInstanceOf[java.lang.Long], "dropped", "s3")
    ).toDF("doc_id", "text", "source")
    val got = Sampling.tokenBudgetAllocationOf(docs, 1700L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      ("s1", 16L, 4L, 400L, 25000L),
      ("s2", 9L, 3L, 300L, 33333L),
      ("s3", 100L, 10L, 1000L, 10000L)), got)
    // allocation law: integral division never over-allocates the budget
    assert(got.map(_._4).sum <= 1700L)
    // temperature direction: the low-resource source repeats most
    assert(got.maxBy(_._5)._1 == "s2" && got.minBy(_._5)._1 == "s3")
    CachedStages.release(spark)
  }

  test("q116 session transitions: gap breaks the chain, ties order by event_id") {
    import spark.implicits._
    val us = 1000000L
    // user 1: a->b (60 s), b->a (60 s), then a 2-hour gap (NO c
    // transition from a), then c->a; user 2: simultaneous pair — the
    // event_id tiebreak makes it b->a, then a->b 10 s later
    val evs = Seq(
      (1L, 10L, "a", 0L), (1L, 11L, "b", 60L), (1L, 12L, "a", 120L),
      (1L, 13L, "c", 7400L), (1L, 14L, "a", 7460L),
      (2L, 20L, "b", 0L), (2L, 21L, "a", 0L), (2L, 22L, "b", 10L)
    ).map { case (u, e, t, sec) => (u, e, t, sec * us, sec) }
      .toDF("user_id", "event_id", "event_type", "ts_us", "ts_sec")
    val got = Events.sessionTransitionsOf(evs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // transitions: u1: (a,b),(b,a),(c,a); u2: (b,a),(a,b)
    // rows: a->b 2 of 2 from a; b->a 2 of 2 from b; c->a 1 of 1
    assert(got == Seq(
      ("a", "b", 2L, 1000000L),
      ("b", "a", 2L, 1000000L),
      ("c", "a", 1L, 1000000L)), got)
    CachedStages.release(spark)
  }

  test("q118 KMV overlap: exact regime is true set algebra, hand-computed") {
    import spark.implicits._
    // every vocabulary < k=64 distinct hashes, so the sketch IS the
    // vocabulary: estimates are exact counts, inclusion-exclusion is
    // the true intersection, jaccard_permille the true Jaccard
    val docs = Seq(
      (1L, "x", "apple banana cherry"),
      (2L, "x", "apple banana"), // duplicates change nothing
      (3L, "y", "banana cherry date"),
      (4L, "z", "zebra")
    ).toDF("doc_id", "source", "text")
    val got = TextOps.kmvVocabOverlapOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    // (src_a, src_b, est_a, est_b, est_union, est_intersect, n_common, jac)
    assert(got == Seq(
      ("x", "y", 3L, 3L, 4L, 2L, 2L, 500L),
      ("x", "z", 3L, 1L, 4L, 0L, 0L, 0L),
      ("y", "z", 3L, 1L, 4L, 0L, 0L, 0L)), got.mkString("\n"))
  }

  test("q118 KMV overlap: estimator regime equals a driver-side sketch replay") {
    import spark.implicits._
    def h(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 14), 16)
    }
    // 200-token vocabularies with a planted 100-token overlap — both
    // sketches saturate (k = 64), so every output column exercises the
    // estimator path
    val aToks = (0 until 200).map(i => s"tok$i")
    val bToks = (100 until 300).map(i => s"tok$i")
    val docs = Seq(
      (1L, "a", aToks.mkString(" ")),
      (2L, "b", bToks.mkString(" "))).toDF("doc_id", "source", "text")
    val got = TextOps.kmvVocabOverlapOf(docs).collect().map(r =>
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7))).toSeq
    val k = 64
    val dom = BigInt(72057594037927936L)
    def sk(toks: Seq[String]): Seq[Long] = toks.map(h).distinct.sorted.take(k)
    def est(s: Seq[Long]): Long =
      if (s.size < k) s.size.toLong
      else (BigInt(k - 1) * dom / s(k - 1)).toLong
    val (ska, skb) = (sk(aToks), sk(bToks))
    val mrg = (ska ++ skb).distinct.sorted
    val uk = math.max(math.min(k, mrg.size), 1)
    val estU = if (mrg.size < k) mrg.size.toLong
      else (BigInt(k - 1) * dom / mrg(k - 1)).toLong
    val common = mrg.take(uk)
      .count(x => ska.contains(x) && skb.contains(x)).toLong
    val expect = (est(ska), est(skb), estU,
      math.max(est(ska) + est(skb) - estU, 0L), common, common * 1000 / uk)
    assert(got == Seq(expect), s"$got != $expect")
    // and the estimate is actually in the neighborhood of the truth
    val (estA, _, estUnion, estInter, _, _) = got.head
    assert(estA > 100 && estA < 400, s"est_a=$estA vs true 200")
    assert(estUnion > 150 && estUnion < 600, s"est_union=$estUnion vs true 300")
    assert(estInter >= 0, s"est_intersect=$estInter")
  }

  test("q119 PMI collocations: hand-computed ranking with both tie-breaks") {
    import spark.implicits._
    // 6 docs "visit new york today" + 5 docs "new deal":
    // N = 34 tokens; counts: visit 6, new 11, york 6, today 6, deal 5.
    // bigrams >= 5: visit new 6, new york 6, york today 6, new deal 5.
    // ppm = n_xy*N*1e6 div (n_x*n_y):
    //   york today: 6*34e6 div 36   = 5666666
    //   visit new:  6*34e6 div 66   = 3090909
    //   new york:   6*34e6 div 66   = 3090909
    //   new deal:   5*34e6 div 55   = 3090909
    // tie at 3090909 -> n_xy desc puts new deal (5) last; the 6-6 tie
    // breaks bigram asc: "new york" < "visit new"
    val docs = ((1 to 6).map(i => (i.toLong, "visit new york today")) ++
      (7 to 11).map(i => (i.toLong, "new deal")))
      .toDF("doc_id", "text")
    val got = TextOps.pmiCollocationsOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, "york today", 6L, 6L, 6L, 5666666L),
      (2L, "new york", 6L, 11L, 6L, 3090909L),
      (3L, "visit new", 6L, 6L, 11L, 3090909L),
      (4L, "new deal", 5L, 11L, 5L, 3090909L)), got.mkString("\n"))
    CachedStages.release(spark)
  }

  test("q121 related docs: rarity weights, df band, and ranking hand-computed") {
    import spark.implicits._
    // dfs: alpha 2, beta 2, gamma 2 (rare at cap 3); delta/epsilon/
    // zeta/eta df=1 (pair with nobody); common df=4 > cap (zipf head)
    val docs = Seq(
      (1L, "alpha beta gamma common"),
      (2L, "alpha beta delta common"),
      (3L, "gamma epsilon common"),
      (4L, "zeta eta common")
    ).toDF("doc_id", "text")
    val got = TextOps.relatedDocsOf(docs, 3L, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // wt = 1000000 div 2 = 500000 for each rare term
    assert(got == Seq(
      (1L, 1L, 2L, 2L, 1000000L), // shares alpha+beta with doc 2
      (1L, 2L, 3L, 1L, 500000L), // shares gamma with doc 3
      (2L, 1L, 1L, 2L, 1000000L),
      (3L, 1L, 1L, 1L, 500000L)), got.mkString("\n"))
    // doc 4 has no rare shared term: absent, not zero-scored
    assert(!got.exists(_._1 == 4L))
    CachedStages.release(spark)
  }

  test("q122 markov eval: temporal cutoff, argmax training, unseen-prev NULL") {
    import spark.implicits._
    val us = 1000000L
    // window [0 s, 95 s] -> cutoff = 76 s. Train transitions (next <=
    // 76 s): a->b x2, b->a x2 -> model a->b, b->a. Test: (a->b)@90 hit,
    // (b->c)@95 miss, (d->e)@95 with d unseen in train -> NULL model
    val evs = Seq(
      (1L, 10L, "a", 0L), (1L, 11L, "b", 10L), (1L, 12L, "a", 20L),
      (1L, 13L, "b", 30L), (1L, 14L, "a", 40L), (1L, 15L, "b", 90L),
      (1L, 16L, "c", 95L),
      (2L, 20L, "d", 85L), (2L, 21L, "e", 95L)
    ).map { case (u, e, t, sec) => (u, e, t, sec * us, sec) }
      .toDF("user_id", "event_id", "event_type", "ts_us", "ts_sec")
    val got = Events.markovEvalOf(evs).collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("a", Some("b"), 1L, 1L, 1000000L),
      ("b", Some("a"), 1L, 0L, 0L),
      ("d", None, 1L, 0L, 0L)), got.mkString("\n"))
    CachedStages.release(spark)
  }

  test("q123 rag chunks: span rule, overlap, short tail, empty doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"), // 6 tokens at size 4 / overlap 1 -> 2 chunks
      (2L, "a b c d"), // exactly one full chunk
      (3L, "!!!") // zero tokens -> one empty chunk, surfaced
    ).toDF("doc_id", "text")
    val got = TextOps.ragChunksOf(docs, 4, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 4L, 4L, "a b c d"),
      (1L, 1L, 3L, 6L, 3L, "d e f"), // overlaps by exactly 1 ("d")
      (2L, 0L, 0L, 4L, 4L, "a b c d"),
      (3L, 0L, 0L, 0L, 0L, "")), got.mkString("\n"))
    // graded geometry on the real corpus: full coverage, no gaps —
    // consecutive chunks of a doc start exactly stride apart and the
    // last chunk ends at n
    val real = TextOps.ragChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    real.foreach { case (d, chunks) =>
      val sorted = chunks.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, cid, st, _), i) =>
        assert(cid == i && st == i * 48L, s"doc $d chunk $i")
      }
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 < a._4, s"gap in doc $d")
        case _ =>
      }
    }
  }

  test("q124 volume bursts: lower median and the 2.5x integer flag") {
    import spark.implicits._
    // type a: daily counts (2,3,3,3,10) -> median rn (5+1) div 2 = 3rd
    // smallest = 3; only the 10-day clears 10*n >= 25*median.
    // type b (even count): (1,2,3,6) -> lower median = 2; 6 bursts.
    val rows =
      (Seq.fill(2)(0L) ++ Seq.fill(3)(1L) ++ Seq.fill(3)(2L) ++
        Seq.fill(3)(3L) ++ Seq.fill(10)(4L)).map(d => ("a", d)) ++
      (Seq.fill(1)(0L) ++ Seq.fill(2)(1L) ++ Seq.fill(3)(2L) ++
        Seq.fill(6)(3L)).map(d => ("b", d))
    val evs = rows.zipWithIndex
      .map { case ((t, d), i) => (t, d * 86400L + i) }
      .toDF("event_type", "ts_sec")
    val got = Events.volumeBurstsOf(evs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      ("a", 0L, 2L, 3L, 0L), ("a", 1L, 3L, 3L, 0L), ("a", 2L, 3L, 3L, 0L),
      ("a", 3L, 3L, 3L, 0L), ("a", 4L, 10L, 3L, 1L),
      ("b", 0L, 1L, 2L, 0L), ("b", 1L, 2L, 2L, 0L), ("b", 2L, 3L, 2L, 0L),
      ("b", 3L, 6L, 2L, 1L)), got.mkString("\n"))
    CachedStages.release(spark)
  }

  test("q125 attribution: last-touch, linear split, direct remainder, reconciliation") {
    import spark.implicits._
    val us = 1000000L
    val evs = Seq(
      // user 1: view + click inside the window, purchase at 20 s —
      // last touch is the click; linear splits 500000/500000
      (1L, 10L, "view", 0L), (1L, 11L, "click", 10L),
      (1L, 12L, "purchase", 20L),
      // user 2: untouched purchase -> direct
      (2L, 20L, "purchase", 5L),
      // user 3: view 86401 s before the purchase — outside the 24 h
      // lookback -> direct
      (3L, 30L, "view", 0L), (3L, 31L, "purchase", 86401L)
    ).map { case (u, e, t, sec) => (u, e, t, sec * us) }
      .toDF("user_id", "event_id", "event_type", "ts_us")
    val got = Events.purchaseAttributionOf(evs, 86400L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("click", 1L, 500000L),
      ("direct", 2L, 2000000L),
      ("view", 0L, 500000L)), got.mkString("\n"))
    // audit invariant: both models reconcile to |purchases| x 1e6
    assert(got.map(_._2).sum == 3L) // last-touch counts every purchase
    assert(got.map(_._3).sum == 3000000L) // linear ppm mass conserved
    CachedStages.release(spark)
  }

  test("q126 RRF fusion equals the fusion of its two arms, recomputed driver-side") {
    val kc = 60L
    val dense = Similarity.cosineRanking(spark, dir, 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val sparse = TextOps.relatedDocs(spark, dir, 50L, 10).collect()
      .filter(_.getLong(0) < 8L)
      .map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1))).toMap
    assert(dense.nonEmpty && sparse.nonEmpty)
    val expect = (dense.keySet ++ sparse.keySet).toSeq
      .map { case key @ (q, d) =>
        val score = dense.get(key).map(r => 1000000L / (kc + r)).getOrElse(0L) +
          sparse.get(key).map(r => 1000000L / (kc + r)).getOrElse(0L)
        (q, d, dense.get(key), sparse.get(key), score)
      }
      .groupBy(_._1).toSeq.flatMap { case (_, g) =>
        g.sortBy { case (_, d, _, _, s) => (-s, d) }.take(5)
          .zipWithIndex.map { case ((q, d, dr, sr, s), i) =>
            (q, (i + 1).toLong, d, dr, sr, s)
          }
      }.sortBy(r => (r._1, r._2))
    val got = Similarity.rrfFusion(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5))).toSeq
    assert(got == expect, s"got:\n${got.mkString("\n")}\nexpect:\n${expect.mkString("\n")}")
    // both arms actually contribute: some fused row carries both ranks
    assert(got.exists(r => r._4.isDefined && r._5.isDefined) ||
      got.forall(_._4.isDefined) || got.forall(_._5.isDefined))
    CachedStages.release(spark)
  }

  test("q127 snapshot diff: generic classification and per-column counts, hand-computed") {
    import spark.implicits._
    val base = Seq(
      (1L, Some("x"), 10L), // unchanged
      (2L, Some("x"), 20L), // a modified
      (3L, Some("x"), 30L), // both modified
      (4L, Some("x"), 40L), // removed
      (5L, None: Option[String], 50L) // null col, unchanged (null-safe)
    ).toDF("pk", "a", "b")
    val snap = Seq(
      (1L, Some("x"), 10L),
      (2L, Some("y"), 20L),
      (3L, Some("z"), 31L),
      (5L, None: Option[String], 50L),
      (6L, Some("x"), 60L) // added
    ).toDF("pk", "a", "b")
    val got = Cdc.snapshotDiffOf(base, snap, "pk").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(
      ("chg_a", 2L), ("chg_b", 1L),
      ("n_added", 1L), ("n_modified", 2L), ("n_removed", 1L),
      ("n_unchanged", 2L)), got.mkString("\n"))
    CachedStages.release(spark)
  }

  test("q127 snapshot diff: the graded orders derivation reports exact bucket counts") {
    val buckets = Tables(spark, dir, "orders")
      .selectExpr("cast(conv(substring(md5(cast(o_orderkey as string)), 1, 6), 16, 10) as bigint) % 100 as bkt")
      .collect().map(_.getLong(0))
    val nMod = buckets.count(_ < 5).toLong
    val nRem = buckets.count(b => b >= 5 && b < 8).toLong
    val nAdd = buckets.count(b => b >= 8 && b < 10).toLong
    val got = Cdc.snapshotDiff(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("n_added") == nAdd && got("n_removed") == nRem &&
      got("n_modified") == nMod, got.toString)
    assert(got("n_unchanged") == buckets.length - nMod - nRem)
    // exactly the two derived columns drift, in every modified row
    assert(got("chg_o_totalprice") == nMod &&
      got("chg_o_orderpriority") == nMod)
    assert(got("chg_o_custkey") == 0L && got("chg_o_orderstatus") == 0L &&
      got("chg_o_orderdate") == 0L)
    CachedStages.release(spark)
  }

  test("q128 weighted quantiles: token mass and doc counts diverge, hand-computed") {
    import spark.implicits._
    val docs = Seq(
      // source x: lengths (1, 1, 10) — most DOCS are short, most
      // TOKENS live in the long one: doc median 1, token median 10
      (1L, "x", "a"), (2L, "x", "b"),
      (3L, "x", "a b c d e f g h i j"),
      // source y: uniform lengths (2, 2)
      (4L, "y", "a b"), (5L, "y", "c d")
    ).toDF("doc_id", "source", "text")
    val got = TextOps.weightedLengthQuantilesOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("x", 3L, 12L, 1L, 10L, 10L),
      ("y", 2L, 4L, 2L, 2L, 2L)), got.mkString("\n"))
    CachedStages.release(spark)
  }

  test("q131 learning curve: tiers nest by construction and match a driver-side replay") {
    def bucket(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(3).map(b => f"$b%02x").mkString, 16) % 100
    }
    val tiers = Seq(10, 25, 50, 100)
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source",
        s"CAST(size(${TextOps.tokensExpr}) AS LONG) AS n_toks")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = docs.map { case (id, src, nt) =>
      (src, tiers.find(bucket(id) < _).get.toLong, nt)
    }
    val got = Sampling.learningCurveTiers(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    got.foreach { case (src, tier, nDocs, nToks, cumDocs, cumToks) =>
      val atTier = expect.filter(e => e._1 == src && e._2 == tier)
      assert(nDocs == atTier.length && nToks == atTier.map(_._3).sum,
        s"($src, $tier)")
      // the cumulative at tier t IS subset t: docs whose bucket < t
      val subset = docs.filter(d => d._2 == src && bucket(d._1) < tier)
      assert(cumDocs == subset.length && cumToks == subset.map(_._3).sum,
        s"cum ($src, $tier)")
    }
    // totality: the 100-tier cumulative covers every doc of the source
    val bySrc = docs.groupBy(_._2)
    got.filter(_._2 == 100L).foreach { case (src, _, _, _, cumDocs, _) =>
      assert(cumDocs == bySrc(src).length)
    }
    CachedStages.release(spark)
  }

  test("q132 conversion delay: hand-computed funnel with non-converting viewers") {
    import spark.implicits._
    val us = 1000000L
    val evs = Seq(
      (1L, "view", 0L), (1L, "purchase", 600L), // 10 min
      (2L, "view", 0L), (2L, "purchase", 60L), // 1 min
      (3L, "view", 0L), (3L, "purchase", 6000L), // 100 min
      (4L, "view", 0L), // viewer, never converts
      (5L, "purchase", 0L), (5L, "view", 10L) // purchase precedes view
    ).map { case (u, t, sec) => (u, t, sec * us) }
      .toDF("user_id", "event_type", "ts_us")
    val got = Events.conversionDelayOf(evs).collect()(0)
    // n_viewers 5, converted {1,10,100}-minute delays: median 10 (cum
    // >= 2), p90 100 (cum >= ceil(27/10) = 3), conv_ppm 600000
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == ((5L, 3L, 600000L, 10L, 100L)), got.toString)
    CachedStages.release(spark)
  }

  test("q133 skew report: hand-computed group-size distribution") {
    import spark.implicits._
    // key sizes {5, 3, 1, 1}: 10 rows over 4 keys; sorted sizes
    // (1, 1, 3, 5) -> p50 rank ceil(5/2) = 2 -> 1; p99 rank
    // ceil(99*4/100) = 4 -> 5; hottest key holds 500000 ppm
    val df = (Seq.fill(5)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L, 4L))
      .map(k => (k, k * 2)).toDF("k", "payload")
    val got = SkewJoin.skewReportOf(df, Seq("k")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(("k", 10L, 4L, 5L, 1L, 5L, 500000L)), got.mkString)
    CachedStages.release(spark)
  }

  test("q134 vocab maintenance equals a driver-side replay of the split/cut/OOV chain") {
    def bucket(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(3).map(b => f"$b%02x").mkString, 16) % 100
    }
    def toks(t: String): Seq[String] =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val vocabSize = 5 // small cut at sf0.001 so the OOV tail is rich
    val vocab = docs.filter(d => bucket(d._1) < 90)
      .flatMap(d => toks(d._2)).groupBy(identity)
      .map { case (t, g) => (t, g.size.toLong) }.toSeq
      .sortBy { case (t, n) => (-n, t) }.take(vocabSize).map(_._1).toSet
    val expect = docs.filter(d => bucket(d._1) >= 90)
      .flatMap(d => toks(d._2)).filterNot(vocab)
      .groupBy(identity).map { case (t, g) => (t, g.size.toLong) }.toSeq
      .sortBy { case (t, n) => (-n, t) }.take(50)
      .zipWithIndex.map { case ((t, n), i) =>
        ((i + 1).toLong, t, n, if (n >= 5) 1L else 0L)
      }
    val got = TextOps.vocabMaintenanceOf(
        Tables(spark, dir, "documents"), vocabSize, 5L, 50).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty && got == expect,
      s"got:\n${got.mkString("\n")}\nexpect:\n${expect.mkString("\n")}")
    CachedStages.release(spark)
  }

  test("q135 modality audit: clean corpus zeros; every check falsifiable") {
    import spark.implicits._
    val clean = Quality.modalityAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clean("n_docs") > 0 && clean("n_docs") == clean("n_vecs"))
    Seq("docs_without_vec", "vecs_without_doc", "dup_vec_ids",
      "dim_violations", "zero_vectors", "null_text_docs")
      .foreach(m => assert(clean(m) == 0L, s"$m = ${clean(m)}"))
    // corrupted frames trip every check
    val docs = Seq((1L, "t"), (2L, "t"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val v = Seq.fill(64)(1.0f)
    val vecs = Seq(
      (2L, v), (2L, v), // duplicate id
      (4L, v), // orphan vector
      (5L, Seq(1.0f, 2.0f, 3.0f)), // wrong dims
      (6L, Seq.fill(64)(0.0f)) // zero vector (also an orphan)
    ).toDF("vec_id", "embedding")
    val bad = Quality.modalityAuditOf(docs, vecs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bad == Map("n_docs" -> 3L, "n_vecs" -> 5L,
      "docs_without_vec" -> 2L, "vecs_without_doc" -> 3L,
      "dup_vec_ids" -> 1L, "dim_violations" -> 1L, "zero_vectors" -> 1L,
      "null_text_docs" -> 1L), bad.toString)
    CachedStages.release(spark)
  }

  private def md5Bucket(id: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(3).map(b => f"$b%02x").mkString, 16) % 100
  }

  test("q136 A/B readout equals a driver-side replay of assignment and conversion") {
    val evs = Tables(spark, dir, "events")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val users = evs.map(_._1).distinct
    val converters = evs.filter(_._2 == "purchase").map(_._1).toSet
    def row(arm: String, in: Long => Boolean) = {
      val u = users.filter(in)
      val c = u.count(converters)
      (arm, u.length.toLong, c.toLong, c.toLong * 1000000L / u.length)
    }
    val expect = Seq(row("a", id => md5Bucket(id) < 50),
      row("b", id => md5Bucket(id) >= 50))
    val got = Events.abReadout(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expect, s"$got != $expect")
    // both arms are populated — the split actually splits
    assert(got.forall(_._2 > 0))
    CachedStages.release(spark)
  }

  test("q137 norm outliers equal a driver-side replay of the centi-norm histogram") {
    val vecs = Tables(spark, dir, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    def normCu(v: Array[Float]): Long = {
      var acc = 0.0
      v.foreach { x => val d = x.toDouble; acc += d * d }
      math.floor(math.sqrt(acc) * 100.0).toLong
    }
    val expect = vecs.groupBy(_._1).toSeq.map { case (label, g) =>
      val cus = g.map(v => normCu(v._2)).sorted
      val n = cus.length.toLong
      val median = cus((((n + 1) / 2) - 1).toInt)
      (label.toLong, n, median,
        cus.count(c => c * 2 < median).toLong,
        cus.count(c => c > median * 2).toLong)
    }.sortBy(_._1)
    val got = Similarity.normOutliers(spark, dir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect, s"$got != $expect")
    CachedStages.release(spark)
  }

  test("q138 dedup savings equals a rollup of the q40 canonical map") {
    val canon = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables(spark, dir, "documents")
      .selectExpr("doc_id", "source",
        s"CAST(size(${TextOps.tokensExpr}) AS LONG) AS n_toks").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = docs.groupBy(_._2).toSeq.map { case (src, g) =>
      val kept = g.filter(d => canon.getOrElse(d._1, d._1) == d._1)
      val t = g.map(_._3).sum
      val tk = kept.map(_._3).sum
      (src, g.length.toLong, t, kept.length.toLong, tk,
        (t - tk) * 1000000L / t)
    }.sortBy(_._1)
    val got = Dedup.dedupSavings(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"$got\n$expect")
    // dedup actually reclaims something on the planted corpus
    assert(got.exists(_._6 > 0))
    CachedStages.release(spark)
  }

  test("q139 filter chain equals a rollup of its three component filters") {
    val docs = Tables(spark, dir, "documents")
    val quality = TextOps.tokenizedOf(docs).selectExpr("doc_id", "source",
      "CAST(CASE WHEN n_chars BETWEEN 100 AND 300 THEN 40 WHEN n_chars > 300 THEN 25 ELSE 10 END " +
        "+ CASE WHEN n_toks >= 20 THEN 30 ELSE 15 END " +
        "+ CASE WHEN stop_hits * 50 >= n_toks AND stop_hits * 5 <= n_toks THEN 30 ELSE 10 END AS LONG) AS q")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val rep = TextOps.repetitionStatsOf(docs).select("doc_id", "repetitive")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gop = TextOps.gopherFlagsOf(docs).select("doc_id", "pass")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = quality.toSeq.groupBy(_._2._1).toSeq.map { case (src, g) =>
      val rows = g.map { case (id, (_, q)) =>
        (q >= 60L, rep.getOrElse(id, 0L) == 0L, gop(id) == 1L)
      }
      (src, rows.length.toLong, rows.count(_._1).toLong,
        rows.count(_._2).toLong, rows.count(_._3).toLong,
        rows.count(r => r._1 && r._2 && r._3).toLong)
    }.map(r => (r._1, r._2, r._3, r._4, r._5, r._6,
      r._6 * 1000000L / r._2)).sortBy(_._1)
    val got = TextOps.filterChain(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect, s"$got\n$expect")
    // the conjunction is never looser than any single filter
    got.foreach { r =>
      assert(r._6 <= r._3 && r._6 <= r._4 && r._6 <= r._5)
    }
    CachedStages.release(spark)
  }

  test("q140 neardup eval: perfect planted recall, organic pairs counted honestly") {
    val row = Dedup.nearDupEval(spark, dir).collect()(0)
    val (nTruth, nDet, nHit, recall, organic) = (row.getLong(0),
      row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    val planted = Tables(spark, dir, "documents")
      .where("doc_id % 100 = 0").count()
    assert(nTruth == planted && nTruth > 0)
    assert(nHit == nTruth && recall == 1000000L,
      s"planted recall $nHit/$nTruth") // the q19 detector finds them all
    assert(nDet == nHit + organic && organic >= 0)
    // cross-check against the detector's own pair set
    val det = Dedup.nearDupPairs(spark, dir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nDet == det.size.toLong)
    CachedStages.release(spark)
  }
  test("q141 token drift equals a driver-side BigInt TV replay") {
    val docs = Tables(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val tokRe = "[a-z0-9]+".r
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    docs.foreach { case (src, text) =>
      tokRe.findAllIn(text.toLowerCase).foreach { t =>
        counts((src, t)) = counts.getOrElse((src, t), 0L) + 1
      }
    }
    val bySrc = counts.groupBy(_._1._1)
    val vocab = counts.groupBy(_._1._2)
      .map { case (t, m) => t -> m.values.sum }
    val nTotal = counts.values.sum
    val expect = bySrc.toSeq.map { case (src, m) =>
      val nSrc = m.values.sum
      val num = vocab.toSeq.map { case (t, nTok) =>
        (BigInt(m.getOrElse((src, t), 0L)) * nTotal - BigInt(nTok) * nSrc).abs
      }.sum
      (src, nSrc, m.size.toLong,
        (num * 1000000 / (BigInt(2) * nSrc * nTotal)).toLong)
    }.sortBy(_._1)
    val got = TextOps.tokenDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expect, s"$got != $expect")
    // TV is bounded in [0, 1e6] and nontrivial somewhere on this corpus
    assert(got.forall(r => r._4 >= 0 && r._4 <= 1000000))
    assert(got.exists(_._4 > 0))
    CachedStages.release(spark)
  }
  test("q142 association rules equal a driver-side BigInt replay") {
    val b = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nBaskets = b.map(_._1).distinct.length.toLong
    val itemN = b.groupBy(_._2).map { case (p, g) => p -> g.length.toLong }
    val byBasket = b.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val pairN = scala.collection.mutable.Map[(Long, Long), Long]()
    byBasket.values.foreach { items =>
      for (i <- items.indices; j <- i + 1 until items.length)
        pairN((items(i), items(j))) =
          pairN.getOrElse((items(i), items(j)), 0L) + 1
    }
    val rules = pairN.toSeq.filter(_._2 >= 2L).flatMap { case ((a, c), n) =>
      Seq((a, c, n), (c, a, n))
    }.map { case (a, c, nab) =>
      val (na, nc) = (itemN(a), itemN(c))
      (a, c, nab, na, nc,
        nab * 1000000L / nBaskets, nab * 1000000L / na,
        (BigInt(nab) * nBaskets * 1000000 / (BigInt(na) * nc)).toLong)
    }
    val expect = rules.sortBy(r => (-r._8, r._1, r._2)).take(20)
    val got = Graph.assocRules(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == expect, s"$got != $expect")
    // lift > 1e6 at the top of the board: real associations, not noise
    assert(got.head._8 > 1000000L)
    CachedStages.release(spark)
  }
  test("q143 deletion audit equals a driver-side cascade replay") {
    import java.security.MessageDigest
    def bucket(k: Long): Long = {
      val h = MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(3).map(b => f"$b%02x").mkString, 16) % 100
    }
    def gone(k: Long): Boolean = bucket(k) < 5
    val cust = Tables(spark, dir, "customer").select("c_custkey")
      .collect().map(_.getLong(0))
    val orders = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val li = Tables(spark, dir, "lineitem").select("l_orderkey")
      .collect().map(_.getLong(0))
    val evs = Tables(spark, dir, "events").select("user_id")
      .collect().map(_.getLong(0))
    val forgottenOrders = orders.filter(o => gone(o._2)).map(_._1).toSet
    def row(name: String, n: Long, d: Long) =
      (name, n, d, d * 1000000L / n)
    val expect = Seq(
      row("customer", cust.length, cust.count(gone)),
      row("events", evs.length, evs.count(gone)),
      row("lineitem", li.length, li.count(forgottenOrders.contains)),
      row("orders", orders.length, orders.count(o => gone(o._2))))
    val got = Privacy.deletionAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expect, s"$got != $expect")
    // the cascade is real: forgotten customers exist and drag orders
    // and lineitems with them
    assert(expect(0)._3 > 0 && expect(2)._3 > 0 && expect(3)._3 > 0)
    CachedStages.release(spark)
  }
  test("q144 MMR selections equal a driver-side greedy replay and diversify") {
    val vecs = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def ppm(c: Double): Long = math.round(c * 1000000.0)
    val expect = (0L until 4L).flatMap { q =>
      val cand = vecs.keys.filter(_ != q).toSeq
        .map(i => (i, cos6(vecs(q), vecs(i))))
        .sortBy { case (i, c) => (-c, i) }.take(10)
        .map { case (i, c) => (i, ppm(c)) }
      val sims = (for ((a, _) <- cand; (b, _) <- cand if a != b)
        yield (a, b) -> ppm(cos6(vecs(a), vecs(b)))).toMap
      var selected = Vector.empty[(Long, Long, Long, Long, Long)]
      var sel = Set.empty[Long]
      for (r <- 1 to 5) {
        val scored = cand.filter(c => !sel(c._1)).map { case (i, rel) =>
          val ms = if (sel.isEmpty) 0L
            else sel.map(j => sims((i, j))).max
          (i, rel, 7L * rel - (if (sel.isEmpty) 0L else 3L * ms))
        }
        val (i, rel, fp) = scored.maxBy { case (i, _, fp) => (fp, -i) }
        selected :+= ((q, r.toLong, i, rel, fp))
        sel += i
      }
      selected
    }
    val got = Similarity.mmrRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"$got != $expect")
    // diversification bites: for some probe the MMR set differs from
    // the pure relevance top-5 (else the redundancy term is vacuous)
    val divergent = (0L until 4L).exists { q =>
      val rel5 = vecs.keys.filter(_ != q).toSeq
        .map(i => (i, cos6(vecs(q), vecs(i))))
        .sortBy { case (i, c) => (-c, i) }.take(5).map(_._1).toSet
      got.filter(_._1 == q).map(_._3).toSet != rel5
    }
    assert(divergent, "MMR never diverged from pure top-k")
    CachedStages.release(spark)
  }
  test("q145 trimmed/winsorized means equal a driver-side sorted replay") {
    val rows = Events.events(spark, dir)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100))
      .map { case (t, c) => (t, c.toLongExact) }
    val expect = rows.groupBy(_._1).toSeq.map { case (t, g) =>
      val cents = g.map(_._2).sorted
      val n = cents.length.toLong
      val cut = (n * 5 / 100).toInt
      val kept = cents.slice(cut, cents.length - cut)
      val lo = cents(cut)          // rank cut+1
      val hi = cents(cents.length - cut - 1) // rank n-cut
      val sum = cents.map(BigInt(_)).sum
      val tsum = kept.map(BigInt(_)).sum
      val wsum = tsum + BigInt(cut) * (lo + hi)
      (t, n, cut.toLong, lo, hi,
        (sum * 10000 / n).toLong,
        (tsum * 10000 / (n - 2 * cut)).toLong,
        (wsum * 10000 / n).toLong)
    }.sortBy(_._1)
    val got = Events.trimmedStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == expect, s"$got != $expect")
    // robustness is visible: trimming moves the mean somewhere
    assert(got.exists(r => r._7 != r._6))
    // winsorized sits between trimmed and raw ordering sanity: bounds hold
    got.foreach { r => assert(r._4 <= r._5 && r._3 >= 0) }
    CachedStages.release(spark)
  }
  test("q146 RFM segments equal a driver-side quintile replay") {
    val orders = Tables(spark, dir, "orders")
      .select("o_custkey", "o_orderdate", "o_totalprice").collect()
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val perCust = orders.groupBy(_._1).map { case (c, g) =>
      (c, g.map(_._2).max, g.length.toLong, g.map(_._3).sum)
    }.toSeq
    val corpusMax = perCust.map(_._2).max
    val met = perCust.map { case (c, last, freq, cents) =>
      (c, (corpusMax - last) / 86400000L, freq, cents)
    }
    val n = met.length.toLong
    def scores(vals: Seq[Long]): Map[Long, Long] = {
      val hist = vals.groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1)
      var cum = 0L
      hist.map { case (v, c) => cum += c; v -> ((5 * cum + n - 1) / n) }
        .toMap
    }
    val (rs, fs, ms) = (scores(met.map(_._2)), scores(met.map(_._3)),
      scores(met.map(_._4)))
    val expect = met.groupBy(m => (6 - rs(m._2), fs(m._3), ms(m._4)))
      .map { case (k, g) =>
        (k._1, k._2, k._3, g.length.toLong, g.map(_._4).sum)
      }.toSeq.sortBy(t => (t._1, t._2, t._3))
    val got = Relational.rfmSegments(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"$got != $expect")
    // score spread is real: every quintile level appears somewhere
    assert(got.map(_._1).distinct.sorted == Seq(1L, 2L, 3L, 4L, 5L)
      || got.map(_._2).distinct.size >= 3)
    assert(got.map(_._4).sum == n)
    CachedStages.release(spark)
  }
  test("q147 quality-dup overlap reconciles with its two parent queries") {
    val got = Dedup.qualityDupOverlap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // band populations reconcile with the corpus
    import org.apache.spark.sql.functions.col
    val nDocs = Tables(spark, dir, "documents")
      .filter(col("doc_id").isNotNull).count()
    assert(got.map(_._2).sum == nDocs)
    // dup members reconcile with q40's member set restricted to real ids
    val members = Dedup.dedupClusters(spark, dir).select("doc_id")
      .distinct().collect().map(_.getLong(0)).filter(_ < 1000000L).toSet
    assert(got.map(_._3).sum == members.size.toLong)
    // per-band recompute from the two parents
    val quality = TextOps.tokenized(spark, dir)
      .withColumn("quality", TextOps.qualityCol(
        col("n_chars"), col("n_toks"), col("stop_hits")))
      .select("doc_id", "quality").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = quality.groupBy(_._2).toSeq.map { case (q, g) =>
      val dup = g.count(d => members(d._1)).toLong
      (q, g.length.toLong, dup, dup * 1000000L / g.length)
    }.sortBy(_._1)
    assert(got == expect, s"$got != $expect")
    // ppm is bounded and some band actually carries duplicates
    assert(got.forall(r => r._4 >= 0 && r._4 <= 1000000))
    assert(got.exists(_._3 > 0))
    CachedStages.release(spark)
  }
  test("q148 per-dim stats equal a driver-side BigInt replay") {
    val vecs = Tables(spark, dir, "embeddings")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val dims = vecs.head.length
    val expect = (0 until dims).map { d =>
      val xs = vecs.map(v => v(d).toDouble)
      val cus = xs.map(x => math.floor(x * 100).toLong)
      val n = xs.length.toLong
      val s1 = cus.map(c => BigInt(c + 1000)).sum
      val s2 = cus.map(c => BigInt(c + 1000) * (c + 1000)).sum
      (d.toLong, n, xs.count(_ == 0.0).toLong, cus.min, cus.max,
        (s1 * 1000000 / n).toLong - 1000000000L,
        ((BigInt(n) * s2 - s1 * s1) * 1000000 / (BigInt(n) * n)).toLong)
    }
    val got = Features.dimStats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    // every dim is alive on this corpus (variance > 0), and variance is
    // non-negative everywhere by construction
    assert(got.forall(_._7 >= 0) && got.forall(_._7 > 0))
    CachedStages.release(spark)
  }
  test("q149 k-anonymity ladder equals a driver-side replay; generalization monotone") {
    val nat2reg = Tables(spark, dir, "nation")
      .select("n_nationkey", "n_regionkey").collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toMap
    val cust = Tables(spark, dir, "customer")
      .select("c_nationkey", "c_mktsegment").collect()
      .map(r => (r.getInt(0).toLong, r.getString(1)))
    val n = cust.length.toLong
    def lvl(name: String, key: ((Long, String)) => Any) = {
      val sizes = cust.groupBy(key).map(_._2.length.toLong).toSeq
      val risk = sizes.filter(_ < 5L).sum
      (name, sizes.length.toLong, sizes.count(_ < 5L).toLong, risk,
        risk * 1000000L / n)
    }
    val expect = Seq(
      lvl("L0_nation_segment", c => (c._1, c._2)),
      lvl("L1_region_segment", c => (nat2reg(c._1), c._2)),
      lvl("L2_region", c => nat2reg(c._1)))
    val got = Privacy.kAnonymity(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"$got != $expect")
    // generalizing can only shrink risk: the ladder is monotone
    assert(got(0)._4 >= got(1)._4 && got(1)._4 >= got(2)._4)
    // the audit has teeth at L0 on this population
    assert(got(0)._3 > 0)
    CachedStages.release(spark)
  }
  test("q150 table stats equal a driver-side replay incl the HLL sketch") {
    import java.security.MessageDigest
    def hll40(vals: Iterable[String]): Long = {
      val regs = new Array[Long](64)
      vals.foreach { v =>
        val hx = MessageDigest.getInstance("MD5")
          .digest(("hll:" + v).getBytes("UTF-8"))
          .take(5).map(b => f"$b%02x").mkString
        val h = java.lang.Long.parseLong(hx, 16)
        val idx = (h % 64).toInt
        val rest = h / 64
        val rho = if (rest == 0) 35
          else 35 - (64 - java.lang.Long.numberOfLeadingZeros(rest))
        if (rho > regs(idx)) regs(idx) = rho
      }
      val num = 709L * 64 * 64 * (1L << 35)
      val sum = regs.map(m => 1L << (35 - m)).sum
      num / (1000L * sum)
    }
    val specs = Seq(
      ("documents", Seq("source", "lang")),
      ("events", Seq("user_id", "event_type")),
      ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")),
      ("orders", Seq("o_orderkey", "o_custkey")))
    val expect = specs.flatMap { case (t, cs) =>
      val df = Tables(spark, dir, t)
      val n = df.count()
      cs.map { c =>
        val vals = df.select(df(c).cast("string")).collect()
          .map(_.getString(0)).toSeq
        val ndv = vals.distinct.length.toLong
        val est = hll40(vals.distinct)
        (t, c, n, vals.count(_ == null).toLong, ndv, est,
          math.abs(est - ndv) * 1000000L / ndv)
      }
    }.sortBy(r => (r._1, r._2))
    val got = Stats.tableStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect, s"$got != $expect")
    // the estimate is usable in the raw estimator's regime (Flajolet:
    // above ~2.5m the raw HLL needs no linear-counting correction):
    // every such column lands within 25% of exact at m=64
    val inRegime = got.filter(_._5 >= 160L)
    assert(inRegime.nonEmpty)
    assert(inRegime.forall(_._7 <= 250000L), inRegime)
    CachedStages.release(spark)
  }
  test("q151 recall ladder reconciles with each method's own graded output") {
    import org.apache.spark.sql.functions.col
    val k = 3
    val got = Similarity.annRecallLadder(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // control row: exact against itself is total recall
    val ex = got.find(_._1 == "a_exact").get
    assert(ex._2 == 8L && ex._3 == 8L * k && ex._4 == ex._3
      && ex._5 == 1000000L)
    // recompute hits from the parent queries' own outputs
    def pairs(df: org.apache.spark.sql.DataFrame, q: String, v: String) =
      df.select(q, v).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineTopK(spark, dir)
      .filter(col("rn") <= k), "q_id", "vec_id")
    val int8 = pairs(Quantization.quantizedTopK(spark, dir, k), "q_id",
      "vec_id")
    val pq = pairs(Quantization.pqAdcTopK(spark, dir, 4, 16, 4, 2, k),
      "q_id", "vec_id")
    assert(got.find(_._1 == "b_int8").get._4 ==
      (int8 & exact).size.toLong)
    assert(got.find(_._1 == "c_pq").get._4 == (pq & exact).size.toLong)
    // no approximate method beats the exact control
    got.foreach(r => assert(r._5 <= 1000000L && r._4 <= r._3))
    CachedStages.release(spark)
  }
  test("q152 rebalance cost equals a driver-side ring replay; ring beats mod") {
    import java.security.MessageDigest
    def pos48(s: String): Long = {
      val h = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(6).map(b => f"$b%02x").mkString, 16)
    }
    val ids = Tables(spark, dir, "documents").select("doc_id").collect()
      .map(_.getLong(0))
    def ringShard(id: Long, n: Int): Long = {
      val nodes = for (sh <- 0 until n; vn <- 0 until 16)
        yield (pos48(s"node:$sh:$vn") * 32 + sh)
      val kpos = pos48(s"key:$id")
      val after = nodes.filter(c => c / 32 >= kpos)
      (if (after.nonEmpty) after.min else nodes.min) % 32
    }
    val n = ids.length.toLong
    val modMoved = ids.count(i => i % 8 != i % 9).toLong
    val ringMoved = ids.count(i => ringShard(i, 8) != ringShard(i, 9)).toLong
    val expect = Seq(
      ("mod", n, modMoved, modMoved * 1000000L / n),
      ("ring", n, ringMoved, ringMoved * 1000000L / n))
    val got = Sampling.shardRebalance(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expect, s"$got != $expect")
    // the point of the ring: growing N moves FAR fewer keys than mod
    assert(got(1)._3 * 4 < got(0)._3)
    CachedStages.release(spark)
  }
  test("q153 join estimates reconcile with q150's sketch and the real joins") {
    val got = Stats.joinEstimates(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got.map(_._1) ==
      Seq("customer_orders", "orders_lineitem", "part_lineitem"))
    val joins = Map(
      "customer_orders" -> (("customer", "c_custkey"), ("orders", "o_custkey")),
      "orders_lineitem" -> (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
      "part_lineitem" -> (("part", "p_partkey"), ("lineitem", "l_partkey")))
    got.foreach { r =>
      val ((lt, lc), (rt, rc)) = joins(r._1)
      val l = Tables(spark, dir, lt); val rt2 = Tables(spark, dir, rt)
      // sides and truth reconcile with direct recomputation
      assert(r._2 == l.count() && r._3 == rt2.count())
      val actual = l.select(l(lc).as("k"))
        .join(rt2.select(rt2(rc).as("k")), Seq("k")).count()
      assert(r._7 == actual)
      // the Selinger formula reproduced from the row's own columns
      assert(r._6 ==
        (BigInt(r._2) * r._3 / BigInt(r._4).max(BigInt(r._5))).toLong)
      assert(r._8 == math.abs(r._6 - r._7) * 1000000L / r._7)
      // the estimate is in the right ballpark on FK joins (< 35% err —
      // the NDV sketch is the only noise source)
      assert(r._8 <= 350000L, s"${r._1}: ${r._8}")
    }
    CachedStages.release(spark)
  }
  test("q154 bootstrap CIs equal a driver-side Poisson-replicate replay") {
    import java.security.MessageDigest
    def md5hex(s: String, n: Int): Long = {
      val h = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(n / 2).map(b => f"$b%02x").mkString, 16)
    }
    val thresholds = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
      999406L, 999917L, 999990L, 999999L)
    def pois(b: Int, u: Long): Long = {
      val bucket = md5hex(s"boot:$b:$u", 12) % 1000000L
      thresholds.count(_ <= bucket).toLong
    }
    val ev = Events.events(spark, dir)
    import org.apache.spark.sql.functions.col
    val users = ev.select("user_id").distinct().collect()
      .map(_.getLong(0)).sorted
    val conv = ev.filter("event_type = 'purchase' AND " +
        "CAST(value AS DECIMAL(12,2)) >= 200")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    def arm(u: Long) = if (md5hex(u.toString, 6) % 100 < 50) "a" else "b"
    val reps = (for (b <- 0 until 100; series <- Seq("a", "b")) yield {
      val us = users.filter(u => arm(u) == series)
      val wsum = us.map(pois(b, _)).sum
      val wconv = us.filter(conv).map(pois(b, _)).sum
      ((series, b), if (wsum == 0) None else Some(wconv * 1000000L / wsum))
    }).toMap
    val diffReps = (0 until 100).map(b =>
      (("diff", b), for (pa <- reps(("a", b)); pb <- reps(("b", b)))
        yield pa - pb)).toMap
    def ci(series: String): (Long, Long, Long) = {
      // .toSeq BEFORE collect: collecting pairs out of a Map would
      // rebuild a Map and silently dedup equal ppm values
      val all = (reps ++ diffReps).toSeq.collect {
        case ((s, b), Some(p)) if s == series => (p, b)
      }.sortBy(identity)
      val n = all.length.toLong
      def pick(pm: Long) = all(((n * pm + 999) / 1000 - 1).toInt)._1
      (n, pick(25), pick(975))
    }
    val expect = Seq("a", "b", "diff").map { series =>
      val (n, lo, hi) = ci(series)
      val (nu, point) = series match {
        case "diff" =>
          val na = users.count(u => arm(u) == "a").toLong
          val nb = users.count(u => arm(u) == "b").toLong
          val pa = users.filter(u => arm(u) == "a").count(conv) *
            1000000L / na
          val pb = users.filter(u => arm(u) == "b").count(conv) *
            1000000L / nb
          (users.length.toLong, pa - pb)
        case s2 =>
          val us = users.filter(u => arm(u) == s2)
          (us.length.toLong, us.count(conv) * 1000000L / us.length)
      }
      (series, nu, point, n, lo, hi)
    }
    val got = Events.abBootstrap(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"$got != $expect")
    // the interval is an interval and brackets its point estimate
    got.foreach { r => assert(r._5 <= r._6 && r._5 <= r._3 && r._3 <= r._6) }
    CachedStages.release(spark)
  }
  test("q155 retrieval eval equals a driver-side ranking replay") {
    val vecs = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = vecs.map(v => v._1 -> v).toMap
    val k = 10
    val probes = vecs.filter(_._1 < 8)
    val per = probes.map { case (q, qv, ql) =>
      val top = vecs.filter(_._1 != q)
        .map(v => (v._1, cos6(qv, v._2), v._3))
        .sortBy { case (i, c, _) => (-c, i) }.take(k)
      val hits = top.count(_._3 == ql).toLong
      val first = top.zipWithIndex.collectFirst {
        case ((_, _, l), i) if l == ql => i + 1
      }
      (hits, first.map(r => 1000000L / r).getOrElse(0L),
        (vecs.count(_._3 == ql) - 1).toLong * 1000000L /
          (vecs.length - 1))
    }
    val nP = probes.length.toLong
    val p = per.map(_._1).sum * 1000000L / (nP * k)
    val mrr = per.map(_._2).sum / nP
    val base = per.map(_._3).sum / nP
    val expect = (nP, k.toLong, p, mrr, base, p * 1000L / base)
    val row = Similarity.retrievalLabelEval(spark, dir).collect()(0)
    val got = (row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4), row.getLong(5))
    assert(got == expect, s"$got != $expect")
    // the embedding space ranks same-label items above chance
    assert(got._6 > 1000L)
    CachedStages.release(spark)
  }
  test("q156 completeness gate equals a driver-side trailing-median replay") {
    val daily = Events.events(spark, dir)
      .groupBy(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.expr("ts_sec div 86400").as("day"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = daily.groupBy(_._1).toSeq.flatMap { case (t, g) =>
      val byDay = g.map(x => (x._2, x._3)).sortBy(_._1)
      byDay.map { case (day, n) =>
        val prior = byDay.filter(x => x._1 >= day - 7 && x._1 <= day - 1)
          .map(_._2).sorted
        val m = prior.length.toLong
        val med = if (m >= 4) Some(prior(((m + 1) / 2 - 1).toInt)) else None
        val flag = med.map(md => if (n * 10 >= md * 8) 1L else 0L)
        (t, day, n, m, med, flag)
      }
    }.sortBy(x => (x._1, x._2))
    val got = Events.completenessGate(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSeq
    assert(got == expect, s"${got.take(5)} != ${expect.take(5)}")
    // warmup rows exist, and after warmup every row carries a verdict
    assert(got.exists(_._6.isEmpty) && got.exists(_._6.nonEmpty))
    got.foreach(r => assert((r._4 >= 4) == r._6.nonEmpty))
    CachedStages.release(spark)
  }

  test("q157 order aging equals a driver-side bucket replay") {
    val orders = Tables(spark, dir, "orders")
      .select("o_orderstatus", "o_orderpriority", "o_orderdate",
        "o_totalprice").collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[java.time.LocalDateTime](2)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
        (BigDecimal(r.getDouble(3)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val snap = orders.map(_._3).max
    val open = orders.filter(_._1 == "O").map { o =>
      val age = (snap - o._3) / 86400000L
      val bucket =
        if (age <= 30) "a_0_30" else if (age <= 90) "b_31_90"
        else if (age <= 365) "c_91_365" else "d_365_plus"
      (o._2, bucket, o._4)
    }
    val nOpen = open.length.toLong
    val expect = open.groupBy(o => (o._1, o._2)).toSeq.map {
      case ((p, b), g) =>
        (p, b, g.length.toLong, g.map(_._3).sum,
          g.length.toLong * 1000000L / nOpen)
    }.sortBy(x => (x._1, x._2))
    val got = Relational.orderAging(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect, s"$got != $expect")
    // the report covers the whole open book
    assert(got.map(_._3).sum == nOpen && nOpen > 0)
    CachedStages.release(spark)
  }
  test("q158 revenue bridge reconciles exactly and matches a BigInt replay") {
    import org.apache.spark.sql.functions.{col, year}
    val li = Tables(spark, dir, "lineitem")
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"))
    val parts = Tables(spark, dir, "part").select("p_partkey", "p_brand")
    val rows = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .filter(col("yr") === 1999 || col("yr") === 2000)
      .select("p_brand", "yr", "l_quantity", "l_extendedprice",
        "l_discount").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    def d2(x: Double) = BigDecimal(x).setScale(2,
      BigDecimal.RoundingMode.HALF_UP)
    val expect = rows.groupBy(_._1).toSeq.map { case (brand, g) =>
      def agg(y: Int) = {
        val gg = g.filter(_._2 == y)
        val q = (gg.map(r => d2(r._3)).sum * 100).toLongExact
        val r4 = (gg.map(r => d2(r._4) * (1 - d2(r._5))).sum * 10000)
          .toLongExact
        (q, r4)
      }
      val ((q1, r1), (q2, r2)) = (agg(1999), agg(2000))
      val delta = r2 - r1
      val vol =
        if (q1 == 0 || q2 == 0) delta
        else if (q2 >= q1) (BigInt(q2 - q1) * r1 / q1).toLong
        else -(BigInt(q1 - q2) * r1 / q1).toLong
      val price = if (q1 == 0 || q2 == 0) 0L
        else (BigInt(q1) * r2 / q2).toLong - r1
      (brand, r1, r2, delta, vol, price, delta - vol - price)
    }.sortBy(_._1)
    val got = Relational.revenueBridge(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    // the audit identity holds to the last unit on every row
    got.foreach(r => assert(r._4 == r._5 + r._6 + r._7))
    // both effects are non-trivial somewhere (the bridge decomposes)
    assert(got.exists(_._5 != 0L) && got.exists(_._6 != 0L))
    CachedStages.release(spark)
  }
  test("q159 equi-depth histograms equal a driver-side sorted replay") {
    val expect = Stats.HistogramColumns.flatMap { case (t, c) =>
      val cents = Tables(spark, dir, t)
        .select(org.apache.spark.sql.functions.col(c)).collect()
        .map(r => (BigDecimal(r.getDouble(0)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact).sorted
      val n = cents.length.toLong
      val floorLo = cents.head - 1
      val his = (1 to 8).map { i =>
        // min value whose cum rank satisfies cum*8 >= n*i
        cents(((n * i + 7) / 8 - 1).toInt)
      }
      (1 to 8).map { i =>
        val lo = if (i == 1) floorLo else his(i - 2)
        val hi = his(i - 1)
        (t, c, i.toLong, lo, hi,
          cents.count(v => v > lo && v <= hi).toLong)
      }
    }.sortBy(r => (r._1, r._2, r._3))
    val got = Stats.equidepthHistograms(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"${got.take(4)} != ${expect.take(4)}")
    // buckets partition the whole column on every profiled column
    Stats.HistogramColumns.foreach { case (t, c) =>
      val rows = got.filter(r => r._1 == t && r._2 == c)
      assert(rows.map(_._6).sum == Tables(spark, dir, t).count())
    }
    CachedStages.release(spark)
  }

  test("q160 selectivity audit reconciles with q159's own histogram") {
    val hist = Stats.equidepthHistograms(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val got = Stats.selectivityAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.map(_._1) == Stats.AuditPredicates.map(_._1).sorted)
    Stats.AuditPredicates.foreach { case (name, t, c, plo, phi) =>
      val pl = plo.getOrElse(Long.MinValue / 4)
      val ph = phi.getOrElse(Long.MaxValue / 4)
      val est = hist.filter(h => h._1 == t && h._2 == c).map {
        case (_, _, lo, hi, nr) =>
          if (hi > lo)
            (BigInt(nr) * (0L.max((hi.min(ph)) - (lo.max(pl - 1)))) /
              (hi - lo)).toLong
          else 0L
      }.sum
      val actual = Tables(spark, dir, t)
        .filter(s"CAST(CAST($c AS DECIMAL(12,2)) * 100 AS BIGINT) " +
          s"BETWEEN $pl AND $ph").count()
      val row = got.find(_._1 == name).get
      assert(row._2 == est && row._3 == actual)
      assert(row._4 == math.abs(est - actual) * 1000000L / actual)
      // the histogram estimate is tight on these columns (< 5%)
      assert(row._4 <= 50000L, s"$name: ${row._4}")
    }
    CachedStages.release(spark)
  }
  test("q161 cohort LTV equals a driver-side replay; curves are monotone") {
    val evs = Events.events(spark, dir)
      .select("user_id", "ts_sec", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 604800L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val cohort = evs.groupBy(_._1).map { case (u, g) =>
      u -> g.map(_._2).min
    }
    val grid = evs.groupBy(e => (cohort(e._1), e._2 - cohort(e._1)))
      .map { case ((cw, off), g) =>
        ((cw, off), (g.map(_._1).distinct.length.toLong, g.map(_._3).sum))
      }
    val sizes = grid.collect { case ((cw, 0L), (na, _)) => cw -> na }
    val expect = grid.toSeq.sortBy(_._1).map { case ((cw, off), (na, rev)) =>
      val cum = grid.filter { case ((c2, o2), _) =>
        c2 == cw && o2 <= off
      }.map(_._2._2).sum
      (cw, off, na, sizes(cw), rev, cum,
        (BigInt(cum) * 10000 / sizes(cw)).toLong)
    }
    val got = Events.cohortLtv(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    // the LTV curve never decreases within a cohort
    got.groupBy(_._1).values.foreach { c =>
      val curve = c.sortBy(_._2).map(_._7)
      assert(curve.zip(curve.tail).forall { case (a, b) => b >= a })
    }
    CachedStages.release(spark)
  }

  test("q162 supplier HHI equals a BigInt replay and its bounds") {
    import org.apache.spark.sql.functions.col
    val li = Tables(spark, dir, "lineitem")
      .select("l_suppkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val sup = Tables(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    def d2(x: Double) = BigDecimal(x).setScale(2,
      BigDecimal.RoundingMode.HALF_UP)
    val perSupp = li.groupBy(_._1).map { case (sk, g) =>
      (sup(sk), sk) -> (g.map(r => d2(r._2) * (1 - d2(r._3))).sum * 10000)
        .toLongExact
    }
    val expect = perSupp.groupBy(_._1._1).toSeq.map { case (nat, g) =>
      val r4s = g.values.toSeq
      val tot = r4s.map(BigInt(_)).sum
      val sq = r4s.map(r => BigInt(r) * r).sum
      val hhi = (sq * 1000000 / (tot * tot)).toLong
      (nat, r4s.length.toLong, tot.toLong, hhi, 1000000000L / hhi)
    }.sortBy(_._1)
    val got = Relational.supplierHhi(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    // HHI bounds: between 10^6/n (perfect balance) and 10^6 (monopoly)
    got.foreach { r =>
      assert(r._4 >= 1000000L / r._2 - 1 && r._4 <= 1000000L)
    }
    CachedStages.release(spark)
  }
  test("q163 growth curve: merge == rescan, estimates monotone-consistent") {
    val got = Events.hllGrowthCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.nonEmpty)
    // exact cumulative curve is non-decreasing and ends at the true total
    val exacts = got.map(_._2)
    assert(exacts.zip(exacts.tail).forall { case (a, b) => b >= a })
    val total = Events.events(spark, dir).select("user_id").distinct().count()
    assert(exacts.last == total)
    // THE sketch-algebra law: the merged-to-day-d registers equal the
    // registers of a single sketch over all events up to day d — so the
    // per-day estimate must equal q110's estimator run on the prefix
    import org.apache.spark.sql.functions.{col, expr}
    val evs = Events.events(spark, dir)
    got.foreach { case (day, _, estCum, _) =>
      val prefix = evs.filter(expr(s"ts_sec div 86400 <= $day"))
        .select(col("event_type"), col("user_id"))
        .withColumn("event_type", org.apache.spark.sql.functions.lit("all"))
      val one = Events.hllDistinctUsersOf(prefix, 64, 709L).collect()(0)
      assert(one.getAs[Long]("est_hll") == estCum,
        s"day $day: merge ${estCum} != rescan ${one.getAs[Long]("est_hll")}")
    }
    // per-row err arithmetic holds
    got.foreach(r => assert(r._4 ==
      math.abs(r._3 - r._2) * 1000000L / r._2))
    CachedStages.release(spark)
  }
  test("q164 zone-map report equals a driver-side layout replay") {
    import java.security.MessageDigest
    def bucket(k: Long): Long = {
      val h = MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(3).map(b => f"$b%02x").mkString, 16) % 100
    }
    val rows = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), (BigDecimal(r.getDouble(1)).setScale(2,
        BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val n = rows.length.toLong
    val sortedFiles = rows.sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((_, c), i) => (i.toLong * 16 / n, c) }
    val hashedFiles = rows.map { case (k, c) => (bucket(k) % 16, c) }
    def report(name: String, fs: Seq[(Long, Long)]) = {
      val ext = fs.groupBy(_._1).map { case (f, g) =>
        (g.map(_._2).min, g.map(_._2).max)
      }.toSeq
      Seq(("total_150k_200k", 15000000L, 20000000L),
        ("total_lt_30k", 0L, 3000000L)).map { case (p, lo, hi) =>
        val scanned = ext.count { case (mn, mx) => mn <= hi && mx >= lo }
        (name, p, ext.length.toLong, scanned.toLong,
          (ext.length - scanned).toLong * 1000000L / ext.length)
      }
    }
    val expect = (report("a_sorted", sortedFiles)
      ++ report("b_hashed", hashedFiles)).sortBy(r => (r._1, r._2))
    val got = Layout.zonemapReport(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"$got != $expect")
    // the clustering pays: sorted skips most files, hashed skips none
    got.filter(_._1 == "a_sorted").foreach(r => assert(r._5 >= 500000L))
    got.filter(_._1 == "b_hashed").foreach(r => assert(r._5 == 0L))
    CachedStages.release(spark)
  }
  test("q165 active users equal a driver-side window replay") {
    val ud = Events.events(spark, dir)
      .select("user_id", "ts_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400L)).distinct
    val days = ud.map(_._2).distinct.sorted
    val expect = days.map { d =>
      def win(span: Int) =
        ud.filter(u => u._2 <= d && u._2 > d - span).map(_._1)
          .distinct.length.toLong
      val (dau, wau, mau) = (win(1), win(7), win(30))
      (d, dau, wau, mau, dau * 1000000L / mau)
    }.toSeq
    val got = Events.activeUsers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"${got.take(4)} != ${expect.take(4)}")
    // structural: DAU <= WAU <= MAU on every day
    got.foreach(r => assert(r._2 <= r._3 && r._3 <= r._4))
    CachedStages.release(spark)
  }
  test("q166 repeat purchase equals a driver-side lifecycle replay") {
    val p = Events.events(spark, dir)
      .filter("event_type = 'purchase'")
      .select("user_id", "ts_us", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = p.groupBy(_._1).view
      .mapValues(_.sortBy(x => (x._2, x._3))).toMap
    val nBuyers = byUser.size.toLong
    val nRepeat = byUser.count(_._2.length >= 2).toLong
    val gapsArr = byUser.values.flatMap { ps =>
      ps.zip(ps.tail).map { case (a, b) => (b._2 - a._2) / 86400000000L }
    }.toSeq.sorted
    val n = gapsArr.length.toLong
    def pick(num: Long, den: Long) =
      gapsArr(((n * num + den - 1) / den - 1).toInt)
    val expect = (nBuyers, nRepeat, nRepeat * 1000000L / nBuyers, n,
      pick(1, 2), pick(9, 10))
    val row = Events.repeatPurchase(spark, dir).collect()(0)
    val got = (row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4), row.getLong(5))
    assert(got == expect, s"$got != $expect")
    assert(got._5 <= got._6 && got._2 <= got._1)
    CachedStages.release(spark)
  }
  test("q165 sketch fallback: bit-level window replay, bounded vs exact") {
    val evs = Events.events(spark, dir)
    val exact = Events.activeUsersOf(evs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    CachedStages.release(spark)
    val approx = Events.activeUsersSketch(evs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(approx.map(_._1).toSeq == exact.map(_._1).toSeq)
    // driver-side bit replay of the whole fallback: per (user, day)
    // activity fact, the md5 register update; per (day, span), the
    // trailing-window register-wise max, the raw integer estimator, and
    // the linear-counting small-range switch — double-for-double
    val m = 64; val kMax = 41 - Integer.numberOfTrailingZeros(m)
    val numerator = 709L * m * m * (1L << kMax)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val facts = evs.select("user_id", "ts_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400L)).distinct
    val dayRegs = facts.map { case (uid, day) =>
      val h = java.lang.Long.parseLong(md5hex(s"hll:$uid").take(10), 16)
      val rest = h / m
      val rho = if (rest == 0) kMax
        else kMax - java.lang.Long.toBinaryString(rest).length
      ((day, h % m), rho)
    }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val days = facts.map(_._2).distinct.sorted
    def replay(d: Long, span: Int): Long = {
      val merged = (0 until m).flatMap { idx =>
        val ms = ((d - span + 1) to d)
          .flatMap(dd => dayRegs.get((dd, idx.toLong)))
        if (ms.isEmpty) None else Some(ms.max)
      }
      val sPresent = merged.map(r => 1L << (kMax - r)).sum
      val v = m - merged.size
      val raw = numerator /
        (1000L * (sPresent + v.toLong * (1L << kMax)))
      if (v > 0 && raw <= 5L * m / 2)
        math.floor(m * math.log(m.toDouble / v)).toLong
      else raw
    }
    approx.foreach { case (day, dau, wau, mau, stick) =>
      for ((span, got) <- Seq((1, dau), (7, wau), (30, mau)))
        assert(replay(day, span) == got,
          s"day $day span $span: replay ${replay(day, span)} != $got")
      // windows nest => merged registers dominate => estimates ordered
      assert(dau <= wau && wau <= mau)
      assert(stick == dau * 1000000L / mau)
    }
    // approx_ok band vs the exact operator: m=64 carries ~13% raw
    // standard error and the corrected small-range regime is tighter;
    // every day/window must land within a 3-sigma-ish 40% band
    exact.zip(approx).foreach { case ((d, dau, wau, mau), (_, ad, aw, am, _)) =>
      for ((ex, ap, w) <- Seq((dau, ad, "dau"), (wau, aw, "wau"),
        (mau, am, "mau"))) {
        assert(math.abs(ap - ex) * 10 <= ex * 4,
          s"day $d $w: est $ap vs exact $ex outside 40% band")
      }
    }
    CachedStages.release(spark)
  }
  test("q168 CUPED equals a driver-side BigInt replay") {
    import java.security.MessageDigest
    def bucket(k: Long): Long = {
      val h = MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(3).map(b => f"$b%02x").mkString, 16) % 100
    }
    val evs = Events.events(spark, dir)
      .select("user_id", "event_type", "ts_us", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        (BigDecimal(r.getDouble(3)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val mn = evs.map(_._3).min; val mx = evs.map(_._3).max
    val cutoff = mn + (mx - mn) * 8 / 10
    val perUser = evs.groupBy(_._1).map { case (uid, es) =>
      val x = es.filter(e => e._2 == "purchase" && e._3 <= cutoff)
        .map(_._4).sum
      val y = es.filter(e => e._2 == "purchase" && e._3 > cutoff)
        .map(_._4).sum
      (uid, if (bucket(uid) < 50) "a" else "b", BigInt(x), BigInt(y))
    }.toSeq
    val n = BigInt(perUser.size)
    val sx = perUser.map(_._3).sum; val sy = perUser.map(_._4).sum
    val sxx = n * perUser.map(u => u._3 * u._3).sum - sx * sx
    val sxy = n * perUser.map(u => u._3 * u._4).sum - sx * sy
    val syy = n * perUser.map(u => u._4 * u._4).sum - sy * sy
    assert(sxx != 0 && syy != 0, "fixture must have pre/post variance")
    // BigInt / truncates toward zero — the semantics Spark div and
    // DuckDB // share (both verified truncating on negatives)
    val theta = sxy * 1000000 / sxx
    val rho2 = theta * sxy / syy
    val expect = Seq("a", "b").map { arm =>
      val g = perUser.filter(_._2 == arm)
      val nu = BigInt(g.size)
      val sxa = g.map(_._3).sum; val sya = g.map(_._4).sum
      val raw = sya * 1000000 / nu
      val dx = sxa * n - sx * nu
      val num = theta * dx
      val adj = raw - (if (num >= 0) num / (nu * n) else -((-num) / (nu * n)))
      (arm, nu.toLong, sya.toLong, raw.toLong, adj.toLong,
        theta.toLong, rho2.toLong)
    }
    val got = Events.cupedReadout(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expect, s"$got != $expect")
    // the adjustment must actually bite (theta != 0 on this corpus) and
    // the two arms' adjustments cancel in the pooled mean by design
    assert(got.exists(r => r._4 != r._5))
    CachedStages.release(spark)
  }
  test("q169 KM: hand-computed censored fixture + graded replay") {
    import spark.implicits._
    // u1 purchases at offset 0; u2/u3 at offset 2; u4 never (censored
    // at 10); u5 never (first seen day 6 → censored at 4); u6 first
    // seen on the LAST day → censored at offset 0 alongside u1's event
    val evs = Seq(
      (1L, 0L, "view"), (1L, 0L, "purchase"),
      (2L, 0L, "view"), (2L, 2L, "purchase"),
      (3L, 1L, "view"), (3L, 3L, "purchase"),
      (4L, 0L, "view"),
      (5L, 6L, "view"),
      (6L, 10L, "view"))
      .toDF("user_id", "day", "event_type")
      .withColumn("ts_sec", org.apache.spark.sql.functions.expr("day * 86400"))
    val got = Events.kmRetentionOf(evs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val expect = Seq(
      (0L, 6L, 1L, 1L, 166666L, 833333L),
      (2L, 4L, 2L, 0L, 500000L, 416666L),
      (4L, 2L, 0L, 1L, 0L, 416666L),
      (10L, 1L, 0L, 1L, 0L, 416666L))
    assert(got == expect, s"$got != $expect")
    CachedStages.release(spark)
    // graded-table replay: same algorithm driver-side at sf0.001
    val raw = Events.events(spark, dir)
      .select("user_id", "event_type", "ts_sec").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2) / 86400L))
    val maxDay = raw.map(_._3).max
    val subj = raw.groupBy(_._1).values.map { es =>
      val f = es.map(_._3).min
      val p = es.filter(_._2 == "purchase").map(_._3).minOption
      (p.map(_ - f).getOrElse(maxDay - f), p.isDefined)
    }.toSeq
    val hist = subj.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
      (t, g.count(_._2).toLong, g.count(!_._2).toLong, g.size.toLong)
    }
    var atRisk = subj.size.toLong; var km = 1000000L
    val replay = hist.map { case (t, d, c, nT) =>
      km = km * (atRisk - d) / atRisk
      val row = (t, atRisk, d, c, d * 1000000L / atRisk, km)
      atRisk -= nT
      row
    }
    val graded = Events.kmRetention(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(graded == replay, s"${graded.take(3)} != ${replay.take(3)}")
    // survival is monotone non-increasing
    assert(graded.map(_._6).sliding(2).forall(p =>
      p.length < 2 || p(0) >= p(1)))
    CachedStages.release(spark)
  }
  test("q170 lateness: chunked two-phase max == a global ordered replay") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val evs = Events.events(spark, dir)
      .select("event_id", "event_type", "ts_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // driver-side single global ordered scan — the straight-line
    // definition the distributed two-phase plan must equal exactly
    val jittered = evs.map { case (id, t, us) =>
      val j = java.lang.Long.parseLong(md5hex(s"late:$id").take(10), 16) % 3600
      (id, t, us, us + j * 1000000L)
    }.sortBy(e => (e._4, e._1))
    var rm = Long.MinValue
    val lates = jittered.map { case (_, t, us, _) =>
      rm = math.max(rm, us); (t, (rm - us) / 1000000L)
    }
    val expect = lates.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
      val ls = g.map(_._2).sorted
      val n = ls.length.toLong
      def pick(num: Long, den: Long) = ls(((n * num + den - 1) / den - 1).toInt)
      (t, n, pick(1, 2), pick(19, 20), ls.max,
        ls.count(_ > 600).toLong * 1000000L / n)
    }
    val got = Events.latenessProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val (a, b) = got.partition(_._1 == "a_inorder")
    // the true feed is in order: the control arm is exactly zero
    assert(a.nonEmpty && a.forall(r => r._4 == 0 && r._5 == 0 && r._6 == 0
      && r._7 == 0))
    assert(b.map(r => (r._2, r._3, r._4, r._5, r._6, r._7)).toSeq == expect,
      s"${b.take(2).toSeq} != ${expect.take(2)}")
    CachedStages.release(spark)
  }
  test("q171 Benford: conforming fixture passes, uniform corpus flagged") {
    import spark.implicits._
    // log-uniform magnitudes equidistribute the mantissa — the class of
    // data Benford's law holds for by construction; 1000 grid points
    // land within a fraction of a percent of the law
    val conforming = (0 until 1000)
      .map(k => BigDecimal(math.pow(10, 1.0 + 5.0 * k / 1000))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .toDF("o_totalprice")
    val ok = Relational.benfordAuditOf(spark, conforming).collect()
    assert(ok.map(_.getAs[Long]("digit")).toSeq == (1L to 9L))
    assert(ok.forall(_.getAs[Long]("dev_ppm") < 10000),
      ok.map(r => (r.getAs[Long]("digit"), r.getAs[Long]("dev_ppm"))).toSeq)
    // the graded corpus's uniform synthetic prices FAIL the audit —
    // exactly what the screen exists to catch
    val graded = Relational.benfordAudit(spark, dir).collect()
    assert(graded.map(_.getAs[Long]("dev_ppm")).max > 50000)
    // integer bookkeeping recomputes from the row's own columns
    val n = graded.map(_.getAs[Long]("n_orders")).sum
    graded.foreach { r =>
      assert(r.getAs[Long]("obs_ppm") ==
        r.getAs[Long]("n_orders") * 1000000L / n)
      val d = r.getAs[Long]("obs_ppm") - r.getAs[Long]("exp_ppm")
      assert(r.getAs[Long]("dev_ppm") == math.abs(d))
      assert(r.getAs[Long]("chi_ppm") == d * d / r.getAs[Long]("exp_ppm"))
    }
    // the nine constants sum to ~10^6 (floor loss only)
    assert(Relational.BenfordPpm.map(_._2).sum == 999995L)
    CachedStages.release(spark)
  }
  test("q172 Theil-Sen: outlier robustness + graded BigInt replay") {
    import spark.implicits._
    // clean slope exactly 100 cents/day over 11 days; the LAST day
    // corrupted by a 1000.00 spike (max OLS leverage — a mid-window
    // spike has none) — 45 of 55 pairwise slopes stay exactly 1e8
    // micro, so the median ignores the outlier; OLS gets dragged
    val fixture = ((0 to 10).map(d => ("t", d.toLong * 86400, (d + 1) * 1.0))
      :+ (("t", 10L * 86400, 1000.0)))
      .toDF("event_type", "ts_sec", "value")
    val f = Events.theilSenTrendOf(fixture).collect()(0)
    assert(f.getAs[Long]("n_days") == 11 && f.getAs[Long]("n_pairs") == 55)
    assert(f.getAs[Long]("median_slope_micro") == 100000000L)
    assert(math.abs(f.getAs[Long]("ols_slope_micro") - 100000000L)
      > 10000000L)
    CachedStages.release(spark)
    // graded replay at sf0.001, BigInt double-for-double
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val expect = raw.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
      val daily = g.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val slopes = (for {
        (i, ci) <- daily; (j, cj) <- daily if i < j
      } yield BigInt(cj - ci) * 1000000 / BigInt(j - i)).sorted
      val n = slopes.length
      val median = slopes((n + 1) / 2 - 1)
      val nd = BigInt(daily.size)
      val sd = daily.map(d => BigInt(d._1)).sum
      val sy = daily.map(d => BigInt(d._2)).sum
      val sdd = daily.map(d => BigInt(d._1) * d._1).sum
      val sdy = daily.map(d => BigInt(d._1) * d._2).sum
      val ols = (nd * sdy - sd * sy) * 1000000 / (nd * sdd - sd * sd)
      (t, nd.toLong, n.toLong, median.toLong, ols.toLong)
    }
    val got = Events.theilSenTrend(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"${got.take(2)} != ${expect.take(2)}")
    CachedStages.release(spark)
  }
  test("q173 backtest: perfect-weekly fixture + graded replay") {
    import spark.implicits._
    // y(d) = (d mod 7 + 1) dollars over 28 days: the seasonal-naive
    // arm forecasts the test window EXACTLY; naive cannot
    val fixture = (0 to 27).map(d => ("t", d.toLong * 86400,
      (d % 7 + 1) * 1.0)).toDF("event_type", "ts_sec", "value")
    val f = Events.forecastBacktestOf(fixture).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(5)))
      .toMap
    assert(f("snaive7") == ((6L, 0L, 0L)), f("snaive7"))
    assert(f("naive")._2 > 0 && f("naive")._3 == 1000000L)
    CachedStages.release(spark)
    // graded replay at sf0.001 driver-side
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val mn = raw.map(_._2).min; val mx = raw.map(_._2).max
    val cutoff = mn + (mx - mn) * 8 / 10
    val expect = raw.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (t, g) =>
      val byDay = g.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val series = (mn to mx).map(d => byDay.getOrElse(d, 0L))
      def at(d: Long) = series((d - mn).toInt)
      val tests = ((cutoff + 1) to mx).filter(_ - 7 >= mn)
      val preds = tests.map { d =>
        (at(d), at(d - 1), at(d - 7),
          (1 to 7).map(k => at(d - k)).sum / 7)
      }
      val n = tests.size.toLong
      def saeOf(pick: ((Long, Long, Long, Long)) => Long) =
        preds.map(p => math.abs(p._1 - pick(p))).sum
      def seOf(pick: ((Long, Long, Long, Long)) => Long) =
        preds.map(p => pick(p) - p._1).sum
      val naiveSae = saeOf(_._2)
      Seq(("ma7", saeOf(_._4), seOf(_._4)), ("naive", naiveSae, seOf(_._2)),
        ("snaive7", saeOf(_._3), seOf(_._3))).map { case (m, sae, se) =>
        val bias = if (se >= 0) se / n else -((-se) / n)
        (t, m, n, sae / n, bias, sae * 1000000L / naiveSae)
      }
    }
    val got = Events.forecastBacktest(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q174 ABC: hand fixture + two-phase == global-window replay") {
    import spark.implicits._
    // revenues 800/150/10x5: the crossing part stays in the richer
    // class (800 IS the 80% prefix; 150 is B; the tail is C)
    val fixture = Seq((1L, 800L), (2L, 150L), (3L, 10L), (4L, 10L),
      (5L, 10L), (6L, 10L), (7L, 10L)).toDF("l_partkey", "r4")
    val f = Relational.abcOf(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(f == Seq(("A", 1L, 800L, 800000L, 142857L),
      ("B", 1L, 150L, 150000L, 142857L),
      ("C", 5L, 50L, 50000L, 714285L)), f)
    CachedStages.release(spark)
    // graded replay: the straight-line global desc window driver-side
    val rev = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_extendedprice", "l_discount").collect()
      .map { r =>
        def d2(x: Double) = BigDecimal(x).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)
        (r.getLong(0), (d2(r.getDouble(1)) * (1 - d2(r.getDouble(2)))
          * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (k, r4) => (-r4, k) }
    val total = rev.map(x => BigInt(x._2)).sum
    val np = rev.size.toLong
    var cum = BigInt(0)
    val classed = rev.map { case (_, r4) =>
      val c = if (cum * 5 < total * 4) "A"
        else if (cum * 20 < total * 19) "B" else "C"
      cum += r4
      (c, r4)
    }
    val expect = classed.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, g) =>
      val s = g.map(x => BigInt(x._2)).sum
      (c, g.size.toLong, s.toLong, (s * 1000000 / total).toLong,
        g.size.toLong * 1000000L / np)
    }
    val got = Relational.abcClassification(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"$got != $expect")
    CachedStages.release(spark)
  }
  test("q175 distinctive terms: exclusive-term fixture + graded ranking laws") {
    import spark.implicits._
    // 'zebra' appears ONLY in sa (the b=0 smoothing path); 'common'
    // spans both; 'rare' sits under the count floor and must not rank
    val docs = Seq(
      (1L, "sa", ("zebra " * 25) + ("common " * 30) + ("rare " * 5)),
      (2L, "sb", "common " * 40))
      .toDF("doc_id", "source", "text")
    val f = TextOps.distinctiveTermsOf(docs, 5, 20).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // n_src sa=60 (incl rare), sb=40, n_all=100; by the formula:
    // zebra: 25*(100-60-0+1)*1e6 div ((60-25+1)*1) = 25*41e6 div 36
    // common@sa: 30*(100-60-40+1)*1e6 div ((60-30+1)*41)
    // common@sb: 40*(100-40-30+1)*1e6 div ((40-40+1)*31)
    val zebra = BigInt(25) * 41 * 1000000 / 36
    val commonSa = BigInt(30) * 1 * 1000000 / (31 * 41)
    val commonSb = BigInt(40) * 31 * 1000000 / 31
    assert(f == Seq(
      ("sa", 1L, "zebra", 25L, 0L, zebra.toLong),
      ("sa", 2L, "common", 30L, 40L, commonSa.toLong),
      ("sb", 1L, "common", 40L, 30L, commonSb.toLong)), f)
    CachedStages.release(spark)
    // graded laws: contiguous ranks, or_ppm descending per source,
    // floor respected, and each row's or_ppm recomputes from the
    // corpus totals + its own counts
    val rows = TextOps.distinctiveTerms(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    CachedStages.release(spark)
    assert(rows.nonEmpty && rows.forall(_._4 >= 20))
    val toks = Tables(spark, dir, "documents")
      .filter("doc_id IS NOT NULL")
      .selectExpr("source", s"explode(${TextOps.tokensExpr}) AS token")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nAll = toks.values.sum
    rows.groupBy(_._1).foreach { case (src, g) =>
      assert(g.map(_._2).sorted.toSeq == (1L to g.size))
      val byRank = g.sortBy(_._2).map(_._6)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y })
      g.foreach { case (_, _, _, a, b, or) =>
        val aSrc = toks(src)
        val expect = BigInt(a) * (nAll - aSrc - b + 1) * 1000000 /
          (BigInt(aSrc - a + 1) * (b + 1))
        assert(or == expect.toLong, s"$src $a $b")
      }
    }
    CachedStages.release(spark)
  }
  test("q176 Gini: equality zero, hand inequality, graded replay") {
    import spark.implicits._
    // nation 0: perfectly equal spends -> G = 0 exactly;
    // nation 1: [1, 1, 998] dollars -> (2*2997 - 4*1000)*1e6/(3*1000)
    val fixture = Seq((0L, 10000L), (0L, 10000L), (0L, 10000L),
      (1L, 100L), (1L, 100L), (1L, 99800L)).toDF("nation", "cents")
    val f = Relational.giniOf(fixture).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(f(0L) == 0L && f(1L) == 664666L, f)
    CachedStages.release(spark)
    // graded replay: quantize, rank ascending, closed form in BigInt
    val spend = Tables(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr(
          "CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nat = Tables(spark, dir, "customer")
      .selectExpr("c_custkey", "CAST(c_nationkey AS LONG)").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = spend.toSeq.flatMap { case (ck, cents) =>
      nat.get(ck).map(n => (n, cents))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, g) =>
      val vs = g.map(_._2 / 100L).sorted
      val nn = BigInt(vs.size)
      val sx = vs.map(BigInt(_)).sum
      val trx = vs.zipWithIndex.map { case (v, i) =>
        BigInt(2) * (i + 1) * v }.sum
      (n, nn.toLong, g.map(_._2).sum,
        ((trx - (nn + 1) * sx) * 1000000 / (nn * sx)).toLong)
    }
    val got = Relational.giniSpend(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    assert(got.forall(r => r._4 >= 0 && r._4 < 1000000))
    CachedStages.release(spark)
  }
  test("q177 backlog: hand intervals incl. same-day and invalid rows") {
    import spark.implicits._
    def ts(d: Long) = d * 86400000000L
    val fixture = Seq((ts(0), ts(2)), (ts(0), ts(0)), (ts(1), ts(3)),
      (ts(2), ts(0)))
      .toDF("o_us", "s_us")
      .selectExpr("timestamp_micros(o_us) AS o_orderdate",
        "timestamp_micros(s_us) AS l_shipdate")
    val f = Relational.inflightTimelineOf(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(f == Seq((0L, 2L, 1L, 0L, 1L), (1L, 1L, 0L, 0L, 2L),
      (2L, 0L, 1L, 1L, 1L), (3L, 0L, 1L, 0L, 0L)), f)
    CachedStages.release(spark)
    // graded invariants: backlog never negative, ends at zero (every
    // valid interval closes inside the window), flow conservation
    val got = Relational.inflightTimeline(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.forall(_._5 >= 0))
    assert(got.last._5 == 0L)
    assert(got.map(_._2).sum == got.map(_._3).sum)
    // per-row recurrence: backlog(d) = backlog(d-1) + ordered - shipped
    got.sliding(2).foreach {
      case Seq(a, b) => assert(b._5 == a._5 + b._2 - b._3)
      case _ => ()
    }
    CachedStages.release(spark)
  }
  test("q178 compaction: hand NFD sweep incl. oversize + graded replay") {
    import spark.implicits._
    val fixture = Seq((1L, 12L), (2L, 7L), (3L, 7L), (4L, 4L), (5L, 3L),
      (6L, 1L)).toDF("file_id", "rows")
    val f = Layout.compactionPlanOf(fixture, 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // 12 oversize (singleton, fill > 1e6), the 7s can't pair, the tail
    // packs 4+3+1
    assert(f == Seq((1L, 1L, 12L, 1200000L), (2L, 1L, 7L, 700000L),
      (3L, 1L, 7L, 700000L), (4L, 3L, 8L, 800000L)), f)
    CachedStages.release(spark)
    // graded replay: driver-side NFD over the day-granular file list
    val files = Tables(spark, dir, "orders")
      .selectExpr(
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS d")
      .groupBy("d").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, sz) => (-sz, id) }
    val cap = 4096L
    var bin = 0L; var fill = cap
    val sweep = files.map { case (_, sz) =>
      if (fill + sz > cap) { bin += 1; fill = sz } else fill += sz
      (bin, sz)
    }
    val expect = sweep.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, g) =>
      (b, g.size.toLong, g.map(_._2).sum, g.map(_._2).sum * 1000000L / cap)
    }
    val got = Layout.compactionPlan(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    // conservation + capacity law: multi-file bins never overflow
    assert(got.map(_._3).sum == files.map(_._2).sum)
    got.filter(_._2 > 1).foreach(b => assert(b._3 <= cap))
    CachedStages.release(spark)
  }
  test("q179 skyline: duplicates survive, dominance kills, brute replay") {
    import spark.implicits._
    val fixture = Seq((1L, 100L, 5L), (2L, 100L, 5L), (3L, 100L, 4L),
      (4L, 90L, 3L), (5L, 110L, 6L), (6L, 120L, 6L), (7L, 80L, 3L))
      .toDF("p_partkey", "price_cents", "size")
    val f = Relational.skylineOf(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // 7 dominates 4 (cheaper, same size); 1 dominates 3 (same price,
    // bigger); 5 dominates 6; the identical pair (1,2) both survive
    assert(f == Seq((1L, 100L, 5L), (2L, 100L, 5L), (5L, 110L, 6L),
      (7L, 80L, 3L)), f)
    CachedStages.release(spark)
    // graded brute-force dominance replay at sf0.001
    val parts = Tables(spark, dir, "part")
      .selectExpr("p_partkey",
        "CAST(CAST(p_retailprice AS DECIMAL(12, 2)) * 100 AS BIGINT)",
        "CAST(p_size AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = parts.filter { a =>
      !parts.exists(b => b._2 <= a._2 && b._3 >= a._3 &&
        (b._2 < a._2 || b._3 > a._3))
    }.sortBy(_._1).toSeq
    val got = Relational.skylineParts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect, s"$got != $expect")
    assert(got.nonEmpty)
    CachedStages.release(spark)
  }
  test("q180 control chart: rule1 spike, rule2 drift, graded replay") {
    import spark.implicits._
    // type a: flat 100s + one huge spike -> rule 1 fires at the spike
    // and nowhere else; type b: alternating 50/150 baseline + two
    // consecutive 320s — each ~2.7 sigma: INSIDE the 3-sigma limit
    // (no rule 1) but the 2-of-3 beyond-2-sigma drift rule catches the
    // pair on its second day
    val a = (0 until 26).map(d => ("a", d.toLong, 100L)) :+ (("a", 26L, 1000L))
    val b = (0 until 25).map(d =>
      ("b", d.toLong, if (d % 2 == 0) 50L else 150L)) ++
      Seq(("b", 25L, 320L), ("b", 26L, 320L))
    val fixture = (a ++ b).toDF("event_type", "day", "cents")
    def replay(rows: Seq[(String, Long, Long)]) =
      rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (t, g) =>
        val n = BigInt(g.size)
        val s1 = g.map(x => BigInt(x._3)).sum
        val s2 = g.map(x => BigInt(x._3) * x._3).sum
        val varN = n * s2 - s1 * s1
        g.sortBy(_._2).zipWithIndex.map { case ((_, d, c), i) => (t, d, c, i) }
          .map { case (tt, d, c, i) =>
            val dev = BigInt(c) * n - s1
            def beyond(k: Int) = dev * dev > k * k * varN
            val r1 = if (beyond(3)) dev.signum.toLong else 0L
            val b2 = if (beyond(2)) dev.signum.toLong else 0L
            (tt, d, c, r1, b2)
          }
      }.groupBy(_._1).toSeq.flatMap { case (_, g) =>
        val sorted = g.sortBy(_._2)
        sorted.indices.map { i =>
          val win = sorted.slice(math.max(0, i - 2), i + 1).map(_._5)
          val (t, d, c, r1, b2) = sorted(i)
          val r2 = if (b2 == 1 && win.count(_ == 1) >= 2) 1L
            else if (b2 == -1 && win.count(_ == -1) >= 2) -1L else 0L
          (t, d, c, r1, r2)
        }
      }.sortBy(r => (r._1, r._2))
    val fGot = Events.controlChartOfDaily(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val fExpect = replay(a ++ b)
    assert(fGot == fExpect, s"${fGot.filter(r => r._4 != 0 || r._5 != 0)}")
    // the rules actually fire, each exactly where designed
    assert(fGot.filter(_._4 != 0).map(r => (r._1, r._2)) == Seq(("a", 26L)))
    assert(fGot.filter(_._5 != 0).map(r => (r._1, r._2)) == Seq(("b", 26L)))
    CachedStages.release(spark)
    // graded replay (densified calendar)
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val mn = raw.map(_._2).min; val mx = raw.map(_._2).max
    val denseRows = raw.groupBy(_._1).toSeq.flatMap { case (t, g) =>
      val byDay = g.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      (mn to mx).map(d => (t, d, byDay.getOrElse(d, 0L)))
    }
    val got = Events.controlChart(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == replay(denseRows), s"${got.take(3)}")
    CachedStages.release(spark)
  }
  test("q181 Davies-Bouldin recomputes from the model's own outputs") {
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val (cents, assigned) = Clustering.kmeansModel(spark, dir, 4, 3)
    val cs = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val as = assigned.select("cluster", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    CachedStages.release(spark)
    val sI = as.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong,
        g.map(x => math.sqrt(x._2)).sorted.foldLeft(0.0)(_ + _) / g.length)
    }.toMap
    val dI = cs.keys.map { i =>
      i -> cs.keys.filter(_ != i).map { j =>
        val m = math.sqrt((0 until 64)
          .map(d => (cs(i)(d) - cs(j)(d)) * (cs(i)(d) - cs(j)(d)))
          .foldLeft(0.0)(_ + _))
        (sI(i)._2 + sI(j)._2) / m
      }.max
    }.toMap
    val db = dI.values.toSeq.sorted.foldLeft(0.0)(_ + _) / dI.size
    val got = Clustering.daviesBouldin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    val expect = sI.keys.toSeq.sorted.map(c =>
      (c, sI(c)._1, r6(sI(c)._2), r6(dI(c)), r6(db)))
    assert(got == expect, s"$got != $expect")
    assert(got.map(_._2).sum ==
      Tables(spark, dir, "embeddings").count())
    CachedStages.release(spark)
  }
  test("q182 weekday profile: planted Monday peak + graded replay") {
    import spark.implicits._
    // two full weeks, Mondays at 2.00 vs 1.00 elsewhere: Monday index
    // = 400*14e6/(2*1600) = 1750000, every other day 875000
    // (day 4 is a Monday: (4+3)%7 == 0)
    val fixture = (0 until 14).map { d =>
      ("t", d.toLong, if ((d + 3) % 7 == 0) 200L else 100L)
    }.toDF("event_type", "day", "cents")
    val f = Events.weekdayProfileOfDaily(fixture).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(f == (0 to 6).map(dow =>
      if (dow == 0) (0L, 2L, 400L, 1750000L, 1L)
      else (dow.toLong, 2L, 200L, 875000L, 0L)), f)
    CachedStages.release(spark)
    // graded replay
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val mn = raw.map(_._2).min; val mx = raw.map(_._2).max
    val expect = raw.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (t, g) =>
      val byDay = g.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val dense = (mn to mx).map(d => ((d + 3) % 7, byDay.getOrElse(d, 0L)))
      val nAll = BigInt(dense.size)
      val sAll = dense.map(x => BigInt(x._2)).sum
      val byDow = dense.groupBy(_._1).toSeq.sortBy(_._1).map { case (w, h) =>
        val c = h.map(x => BigInt(x._2)).sum
        (w, h.size.toLong, c,
          (c * nAll * 1000000 / (BigInt(h.size) * sAll)).toLong)
      }
      val peak = byDow.map(_._4).max
      byDow.map { case (w, n, c, ix) =>
        (t, w, n, c.toLong, ix, if (ix == peak) 1L else 0L) }
    }
    val got = Events.weekdayProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q183 k-core: hand peeling fixture + graded replay") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4 on 1 + pendant 5 on 4: the 2-core
    // peels 5 then 4 (cascade) and keeps the triangle; the 3-core
    // is empty (in-triangle degree is 2)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val f = Graph.kCoreLadderOf(edges, Seq(1, 2, 3)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(f == Seq((1L, 5L, 10L), (2L, 3L, 6L), (3L, 0L, 0L)), f)
    CachedStages.release(spark)
    // graded replay: driver-side peeling over the strong edge set
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairCounts = scala.collection.mutable.Map[(Long, Long), Int]()
    for {
      (_, g) <- li.groupBy(_._1)
      ps = g.map(_._2)
      a <- ps; b <- ps if a != b
    } pairCounts((a, b)) = pairCounts.getOrElse((a, b), 0) + 1
    val strong = pairCounts.filter(_._2 >= 2).keySet.toSet
    def peel(k: Int): (Long, Long) = {
      var nodes = strong.map(_._1)
      var changed = nodes.nonEmpty
      while (changed) {
        val next = strong.filter(e =>
          nodes(e._1) && nodes(e._2))
          .groupBy(_._1).collect { case (s, es) if es.size >= k => s }.toSet
        changed = next != nodes && next.nonEmpty
        nodes = next
      }
      (nodes.size.toLong,
        strong.count(e => nodes(e._1) && nodes(e._2)).toLong)
    }
    val expect = Seq(1, 2, 3).map { k =>
      val (n, e) = peel(k); (k.toLong, n, e) }
    val got = Graph.strongKCoreLadder(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect,
      s"$got != $expect (|li|=${li.length} |strong|=${strong.size})")
    // core containment: higher k cores nest
    assert(got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    CachedStages.release(spark)
  }
  test("q184 new-vs-returning equals a driver-side first-seen replay") {
    val ud = Events.events(spark, dir)
      .select("user_id", "ts_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400L)).distinct
    val fs = ud.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expect = ud.groupBy(_._2).toSeq.sortBy(_._1).map { case (d, g) =>
      val nNew = g.count(u => fs(u._1) == d).toLong
      val ret = g.count(u => fs(u._1) < d).toLong
      (d, g.size.toLong, nNew, ret, ret * 1000000L / g.size)
    }
    val got = Events.newVsReturning(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    // day one is all-new; every day partitions exactly
    assert(got.head._3 == got.head._2 && got.head._4 == 0)
    got.foreach(r => assert(r._3 + r._4 == r._2))
    CachedStages.release(spark)
  }
  test("q185 l-diversity: clean corpus passes, planted homogeneity flagged") {
    import spark.implicits._
    // graded replay driver-side (sf0.001's small nations genuinely
    // violate distinct-3-diversity — the audit catches real rows here)
    val cust = Tables(spark, dir, "customer")
      .selectExpr("CAST(c_nationkey AS LONG)", "c_mktsegment",
        "CAST(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS LONG)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val natReg = Tables(spark, dir, "nation")
      .selectExpr("CAST(n_nationkey AS LONG)", "CAST(n_regionkey AS LONG)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def lvl(name: String, key: ((Long, String, Long)) => Long) = {
      val gs = cust.groupBy(key).values.toSeq
      val homo = gs.filter(_.map(_._2).distinct.size < 3)
      (name, gs.size.toLong, homo.size.toLong,
        gs.map(_.map(_._2).distinct.size.toLong).min,
        homo.map(_.size).sum.toLong * 1000000L / cust.length)
    }
    val expect = Seq(lvl("L0_nation", _._1),
      lvl("L1_region", c => natReg(c._1)), lvl("L2_balance_sign", _._3))
    val graded = Privacy.lDiversity(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(graded == expect, s"$graded != $expect")
    // generalization monotonicity: coarser QIs can only gain diversity
    assert(graded(1)._4 >= graded(0)._4 && graded(2)._4 >= graded(0)._4)
    CachedStages.release(spark)
    // planted: nation 0 is HOMOGENEOUS (one segment, 4 rows) while
    // nation 1 is diverse; region 9 holds both (diverse, passes);
    // bal_sign splits them into one homogeneous and one diverse group
    val fixture = (Seq.fill(4)((0L, 9L, 0L, "AUTO")) ++
      Seq((1L, 9L, 1L, "AUTO"), (1L, 9L, 1L, "HOME"), (1L, 9L, 1L, "TOY")))
      .toDF("nat", "reg", "bal_sign", "sens")
    val f = Privacy.lDiversityOf(fixture, 3L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(f == Seq(
      // L0: nation 0 homogeneous (div 1, 4 of 7 rows at risk);
      ("L0_nation", 2L, 1L, 1L, 4L * 1000000L / 7L),
      // L1: one region with all rows, div 3 -> passes
      ("L1_region", 1L, 0L, 3L, 0L),
      // L2: bal_sign 0 homogeneous (4 rows), bal_sign 1 diverse
      ("L2_balance_sign", 2L, 1L, 1L, 4L * 1000000L / 7L)), f)
    CachedStages.release(spark)
  }
  test("q186 SLA: hand gap ladder incl. invalid row + graded replay") {
    import spark.implicits._
    def ts(d: Long) = d * 86400000000L
    // gaps 0..19 days: 8 of 20 within the 7-day SLA (400000 ppm),
    // ceil-rank median = 9, p95 = 18; one ship-before-order row is
    // screened into n_invalid
    val fixture = ((0L to 19L).map(g => ("P", ts(0), ts(g))) :+
      (("P", ts(5), ts(2))))
      .toDF("o_orderpriority", "o_us", "s_us")
      .selectExpr("o_orderpriority",
        "timestamp_micros(o_us) AS o_orderdate",
        "timestamp_micros(s_us) AS l_shipdate")
    val f = Relational.slaComplianceOf(fixture, 7L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(f == Seq(("P", 20L, 1L, 400000L, 9L, 18L)), f)
    CachedStages.release(spark)
    // graded replay driver-side
    val ords = Tables(spark, dir, "orders")
      .selectExpr("o_orderkey",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000",
        "o_orderpriority").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val gaps = Tables(spark, dir, "lineitem")
      .selectExpr("l_orderkey",
        "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
      .collect()
      .map { r =>
        val (od, p) = ords(r.getLong(0)); (p, r.getLong(1) - od)
      }
    val expect = gaps.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, g) =>
      val inv = g.count(_._2 < 0).toLong
      val v = g.map(_._2).filter(_ >= 0).sorted
      val n = v.length.toLong
      def pick(num: Long, den: Long) = v(((n * num + den - 1) / den - 1).toInt)
      (p, n, inv, v.count(_ <= 7).toLong * 1000000L / n,
        pick(1, 2), pick(19, 20))
    }
    val got = Relational.slaCompliance(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"${got.take(2)} != ${expect.take(2)}")
    CachedStages.release(spark)
  }
  test("q187 CUSUM: shift fixture fires both sides + resets; graded replay") {
    import spark.implicits._
    // Pure-Scala replay of the Page recurrence over a dense matrix
    def replay(rows: Seq[(String, Long, Long)]) =
      rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (t, g) =>
        val n = BigInt(g.size)
        val mu = g.map(x => BigInt(x._3)).sum / n
        val kk = mu / 20
        val sorted = g.sortBy(_._2)
        sorted.scanLeft(("", 0L, 0L, BigInt(0), BigInt(0), BigInt(0),
          BigInt(0), 0L)) { case ((_, _, _, cp, cn, _, _, _), (tt, d, c)) =>
          val np = (cp + c - mu - kk).max(0)
          val nn = (cn + mu - kk - c).max(0)
          val al = if (np > mu) 1L else if (nn > mu) -1L else 0L
          val (cp2, cn2) = if (al != 0) (BigInt(0), BigInt(0)) else (np, nn)
          (tt, d, c, cp2, cn2, np, nn, al)
        }.drop(1).map { case (tt, d, c, _, _, np, nn, al) =>
          (tt, d, c, np.toLong, nn.toLong, al)
        }
      }
    def densify(rows: Seq[(String, Long, Long)]) = {
      val mn = rows.map(_._2).min; val mx = rows.map(_._2).max
      val byDay = rows.groupBy(_._1).view.mapValues(g =>
        g.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap).toMap
      byDay.keys.toSeq.sorted.flatMap(t =>
        (mn to mx).map(d => (t, d, byDay(t).getOrElse(d, 0L))))
    }
    // type m: mu=150, k=7, h=150 — the low half drives C- to an alarm
    // at day 3 (172 > 150), the high half drives C+ to one at day 8;
    // type z: a sparse 300-spike series where silent FILLED days walk
    // C- over h repeatedly — alarms at 0,+ 2,+ then 4,6,8 on the
    // minus side, each followed by the Page restart
    val m = (0L to 4L).map(d => ("m", d, 100L)) ++
      (5L to 9L).map(d => ("m", d, 200L))
    val z = Seq(("z", 0L, 300L), ("z", 2L, 300L))
    val fixture = (m ++ z).toDF("event_type", "day", "cents")
    val fGot = Events.cusumChartOfDaily(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(fGot == replay(densify(m ++ z)), fGot.mkString(";"))
    assert(fGot.filter(_._6 != 0).map(r => (r._1, r._2, r._6)) ==
      Seq(("m", 3L, -1L), ("m", 8L, 1L), ("z", 0L, 1L), ("z", 2L, 1L),
        ("z", 4L, -1L), ("z", 6L, -1L), ("z", 8L, -1L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay (densified calendar, BigInt fold)
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val got = Events.cusumChart(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == replay(densify(raw)), s"${got.take(3)}")
    CachedStages.release(spark)
  }
  test("q226 sourcing risk: hand single/dual-source brands exact; " +
    "graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    // brand A: p1 single-sourced (300c), p2 dual 300/100 (top share
    // 750000) -> mean share 875000, risk 300, 2 suppliers, 1 nation;
    // brand B: p3 single via s3 in nation 2.
    val part = Seq((1L, "A"), (2L, "A"), (3L, "B"))
      .toDF("p_partkey", "p_brand")
    val li = Seq((1L, 10L, 1.0), (1L, 10L, 2.0), (2L, 10L, 3.0),
      (2L, 11L, 1.0), (3L, 12L, 5.0))
      .toDF("l_partkey", "l_suppkey", "l_extendedprice")
    val supp = Seq((10L, 1L), (11L, 1L), (12L, 2L))
      .toDF("s_suppkey", "s_nationkey")
    val got = collect8(Relational.sourcingRiskOf(part, li, supp))
    assert(got == Seq(
      ("A", 2L, 1L, 500000L, 300L, 2L, 1L, 875000L),
      ("B", 1L, 1L, 1000000L, 500L, 1L, 1L, 1000000L)),
      got.mkString(";"))
    CachedStages.release(spark)
    // graded replay in BigInt
    val liR = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val brandOf = Tables(spark, dir, "part")
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val natOf = Tables(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val psR = liR.groupBy(x => (x._1, x._2)).view
      .mapValues(g => g.map(x => BigInt(x._3)).sum).toMap
    val perPart = psR.keys.groupBy(_._1).map { case (p, ks) =>
      val revs = ks.map(psR)
      val tot = revs.sum
      p -> (ks.size, tot, revs.max * 1000000 / tot,
        ks.map(_._2).toSet)
    }
    val expect = perPart.toSeq.groupBy(p => brandOf(p._1)).toSeq
      .sortBy(_._1).map { case (b, ps) =>
        val single = ps.filter(_._2._1 == 1)
        val supps = ps.flatMap(_._2._4).distinct
        (b, ps.size.toLong, single.size.toLong,
          single.size.toLong * 1000000L / ps.size,
          single.map(_._2._2).sum.toLong,
          supps.size.toLong,
          supps.map(natOf).distinct.size.toLong,
          (ps.map(_._2._3).sum / ps.size).toLong)
      }
    val graded = collect8(Relational.sourcingRisk(spark, dir))
    assert(graded == expect, s"${graded.take(2)} != ${expect.take(2)}")
    CachedStages.release(spark)
  }
  test("q227 silhouette: planted mislabel flags negative; graded " +
    "replay") {
    import spark.implicits._
    def collect6(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    def replay(vs: Seq[(Long, Long, Array[Float])]) = {
      def cos(x: Array[Float], y: Array[Float]): Double = {
        var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
        while (i < x.length) {
          xy += x(i).toDouble * y(i); xx += x(i).toDouble * x(i)
          yy += y(i).toDouble * y(i); i += 1
        }
        xy / (math.sqrt(xx) * math.sqrt(yy))
      }
      def dmic(x: Array[Float], y: Array[Float]): BigInt =
        BigInt(1000000L) - (BigDecimal(cos(x, y)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP) * 1000000).toBigIntExact.get
      val sils = vs.map { case (id, lbl, v) =>
        val others = vs.filter(_._1 != id)
        val byLbl = others.groupBy(_._2).view.mapValues { g =>
          g.map(o => dmic(v, o._3)).sum / g.size }.toMap
        val aOpt = byLbl.get(lbl)
        val bs = byLbl.filter(_._1 != lbl).values
        val b = bs.min
        val s = aOpt match {
          case None => BigInt(0)
          case Some(a) =>
            if (a.max(b) == 0) BigInt(0)
            else (b - a) * 1000000 / a.max(b)
        }
        (id, lbl, s)
      }
      val overall = sils.map(_._3).sum / sils.size
      sils.groupBy(_._2).toSeq.sortBy(_._1).map { case (l, g) =>
        (l, g.size.toLong, (g.map(_._3).sum / g.size).toLong,
          g.map(_._3).min.toLong, g.count(_._3 < 0).toLong,
          overall.toLong)
      }
    }
    // two tight clusters + one mislabeled point sitting inside
    // cluster 0 but labeled 1 -> its silhouette is negative
    val fx = Seq(
      (1L, 0L, Array(1f, 0f)), (2L, 0L, Array(1f, 0.1f)),
      (3L, 1L, Array(0f, 1f)), (4L, 1L, Array(0.1f, 1f)),
      (5L, 1L, Array(1f, 0.05f)))
    val got = collect6(Similarity.silhouetteOf(spark,
      fx.toDF("vec_id", "label", "v")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got.find(_._1 == 1L).get._5 >= 1L, got.mkString(";"))
    assert(got.find(_._1 == 0L).get._3 > 0L, got.mkString(";"))
    CachedStages.release(spark)
    // graded replay over the embeddings table
    val vs = Similarity.rawVectors(spark, dir)
      .select("vec_id", "label", "v").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getSeq[Float](2).toArray))
      .toSeq
    val graded = collect6(Similarity.cosineSilhouette(spark, dir))
    assert(graded == replay(vs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q228 discount response: perfect line exact, zero-variance " +
    "NULLs; graded replay") {
    import spark.implicits._
    def collect5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    // brand A: (x,y) = (0,10),(1,8),(2,6) — exact line y = 10 - 2x:
    // slope -2e6 ppm, intercept 10000 milli, R2 = 1e6;
    // brand B: both lines at x=5 — zero variance, all three NULL
    val part = Seq((1L, "A"), (2L, "B")).toDF("p_partkey", "p_brand")
    val li = Seq((1L, 0.00, 10.0), (1L, 0.01, 8.0), (1L, 0.02, 6.0),
      (2L, 0.05, 3.0), (2L, 0.05, 9.0))
      .toDF("l_partkey", "l_discount", "l_quantity")
    val got = collect5(Relational.discountResponseOf(part, li))
    assert(got == Seq(
      ("A", 3L, Some(-2000000L), Some(10000L), Some(1000000L)),
      ("B", 2L, None, None, None)), got.mkString(";"))
    // graded replay in BigInt off the raw tables
    val brandOf = Tables(spark, dir, "part")
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_discount", "l_quantity").collect()
      .map(r => (brandOf(r.getLong(0)),
        BigInt(math.round(r.getDouble(1) * 100)),
        BigInt(math.round(r.getDouble(2)))))
    val expect = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (brand, g) =>
        val n = BigInt(g.length)
        val sx = g.map(_._2).sum; val sy = g.map(_._3).sum
        val sxy = g.map(t => t._2 * t._3).sum
        val sxx = g.map(t => t._2 * t._2).sum
        val syy = g.map(t => t._3 * t._3).sum
        val dxx = n * sxx - sx * sx; val dyy = n * syy - sy * sy
        val dxy = n * sxy - sx * sy
        if (dxx == 0) (brand, g.length.toLong, None, None, None)
        else (brand, g.length.toLong,
          Some((dxy * 1000000 / dxx).toLong),
          Some(((sy * sxx - sx * sxy) * 1000 / dxx).toLong),
          if (dxx * dyy == 0) None
          else Some((dxy * dxy * 1000000 / (dxx * dyy)).toLong))
    }
    val graded = collect5(Relational.discountResponse(spark, dir))
    assert(graded == expect, s"${graded.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q229 vocab richness: hand Chao1/Good-Turing exact incl. " +
    "f2=0; graded replay") {
    import spark.implicits._
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // s1: "a a b c" -> N=4 V=3 f1=2 f2=1, chao1 = 3000 + 2*1*1000/4
    //   = 3500 milli, unseen = 2e6/4 = 500000 ppm;
    // s2: "x y" -> f2=0 exercises the bias-corrected denominator:
    //   chao1 = 2000 + 2*1*1000/2 = 3000, unseen = 1e6
    val docs = Seq(("s1", "a a b c"), ("s2", "x y"))
      .toDF("source", "text")
    val got = collect7(TextOps.vocabRichnessOf(docs))
    assert(got == Seq(("s1", 4L, 3L, 2L, 1L, 3500L, 500000L),
      ("s2", 2L, 2L, 2L, 0L, 3000L, 1000000L)), got.mkString(";"))
    // graded replay: same [a-z0-9]+ kernel in Scala, BigInt fold
    val rows = Tables(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val tokRe = "[a-z0-9]+".r
    val expect = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, g) =>
        val counts = g.flatMap(d =>
            tokRe.findAllIn(d._2.toLowerCase).toSeq)
          .groupBy(identity).view.mapValues(_.size).toMap
        val n = BigInt(counts.values.sum)
        val v = BigInt(counts.size)
        val f1 = BigInt(counts.values.count(_ == 1))
        val f2 = BigInt(counts.values.count(_ == 2))
        (src, n.toLong, v.toLong, f1.toLong, f2.toLong,
          (v * 1000 + f1 * (f1 - 1) * 1000 / (2 * (f2 + 1))).toLong,
          (f1 * 1000000 / n).toLong)
    }
    val graded = collect7(TextOps.vocabRichness(spark, dir))
    assert(graded == expect, s"${graded.take(2)} != ${expect.take(2)}")
    CachedStages.release(spark)
  }
  test("q230 kendall tau: hand concordance/ties/singleton exact; " +
    "graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toSeq
    def replay(daily: Seq[(String, Long, Long, Long)]) =
      daily.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
        val pairs = for {
          a <- g; b <- g if a._2 < b._2
        } yield (b._3 - a._3, b._4 - a._4)
        val n0 = BigInt(pairs.size)
        val ncnd = BigInt(pairs.map { case (dx, dy) =>
          if (dx > 0 && dy > 0 || dx < 0 && dy < 0) 1
          else if (dx > 0 && dy < 0 || dx < 0 && dy > 0) -1 else 0
        }.sum)
        val tx = BigInt(pairs.count(_._1 == 0))
        val ty = BigInt(pairs.count(_._2 == 0))
        val tau = if (n0 == 0) None
          else Some((ncnd * 1000000 / n0).toLong)
        val den = (n0 - tx) * (n0 - ty)
        val taub2 = if (den == 0) None
          else Some((BigInt(ncnd.signum) * ncnd * ncnd * 1000000
            / den).toLong)
        (t, g.size.toLong, n0.toLong, ncnd.toLong, tx.toLong,
          ty.toLong, tau, taub2)
      }
    // t: monotone-then-dip (nc-nd=4/6); u: one x-tie; v: singleton
    val fx = Seq(
      ("t", 1L, 1L, 10L), ("t", 2L, 2L, 20L), ("t", 3L, 3L, 30L),
      ("t", 4L, 4L, 25L),
      ("u", 1L, 5L, 1L), ("u", 2L, 5L, 2L), ("u", 3L, 7L, 3L),
      ("v", 1L, 9L, 9L))
    val got = collect8(RankTests.kendallTauOfDaily(
      fx.toDF("event_type", "day", "x", "y")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got.find(_._1 == "t").get._7 == Some(666666L), got)
    assert(got.find(_._1 == "u").get._8 == Some(666666L), got)
    assert(got.find(_._1 == "v").get._7 == None, got)
    CachedStages.release(spark)
    // graded replay: same daily collapse in BigInt off raw events
    val daily = Events.events(spark, dir)
      .selectExpr("event_type", "ts_sec div 86400 AS day", "value")
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).toSeq
      .map { case ((t, d), g) =>
        (t, d, g.size.toLong, g.map(_._2).sum) }
    val graded = collect8(RankTests.kendallTau(spark, dir))
    assert(graded == replay(daily), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q231 pettitt: hand step/significant-step/singleton exact; " +
    "graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1),
        (2 to 7).map(i =>
          if (r.isNullAt(i)) None else Some(r.getLong(i))))).toSeq
    def replay(daily: Seq[(String, Long, Long)]) =
      daily.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g0) =>
        val g = g0.sortBy(_._2)
        val n = g.size
        val vt = g.map(a => g.map(b => (a._3 - b._3).signum).sum)
        val ut = vt.scanLeft(0L)(_ + _).tail
        if (n < 2) (t, n.toLong, Seq.fill(6)(None))
        else {
          val cands = (0 until n - 1)
            .map(i => (math.abs(ut(i)), g(i)._2, ut(i)))
          val (k, cp, u) = cands.maxBy(c => (c._1, -c._2))
          val before = g.filter(_._2 <= cp).map(x => BigInt(x._3))
          val after = g.filter(_._2 > cp).map(x => BigInt(x._3))
          val sig = if (BigInt(6) * k * k * 1000000 >
              BigInt(RankTests.PettittLn40Micro) *
                (BigInt(n) * n * n + BigInt(n) * n)) 1L else 0L
          (t, n.toLong, Seq(Some(cp), Some(u), Some(k.toLong),
            Some((before.sum / before.size).toLong),
            Some((after.sum / after.size).toLong), Some(sig)))
        }
      }
    // t: short clean step (K=4, not significant at n=4);
    // s: 12-day clean step (K=36, significant); v: singleton
    val fx = Seq.tabulate(4)(i =>
        ("t", (i + 1).toLong, if (i < 2) 1L else 10L)) ++
      Seq.tabulate(12)(i =>
        ("s", (i + 1).toLong, if (i < 6) 1L else 10L)) ++
      Seq(("v", 1L, 9L))
    val got = collect8(RankTests.pettittOfDaily(
      fx.toDF("event_type", "day", "x")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    val s = got.find(_._1 == "s").get
    assert(s._3 == Seq(Some(6L), Some(-36L), Some(36L), Some(1L),
      Some(10L), Some(1L)), s.toString)
    assert(got.find(_._1 == "t").get._3.last == Some(0L), got)
    assert(got.find(_._1 == "v").get._3 == Seq.fill(6)(None), got)
    CachedStages.release(spark)
    // graded replay off raw events, BigInt end to end
    val daily = Events.events(spark, dir)
      .selectExpr("event_type", "ts_sec div 86400 AS day", "value")
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).toSeq
      .map { case ((t, d), g) => (t, d, g.map(_._2).sum) }
    val graded = collect8(RankTests.pettitt(spark, dir))
    assert(graded == replay(daily), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q232 runs test: oscillator/monotone/tie-drop/singleton " +
    "exact; graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toSeq
    def replay(daily: Seq[(String, Long, Long)]) =
      daily.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g0) =>
        val xs = g0.sortBy(_._2).map(_._3)
        val s = xs.sliding(2).collect {
          case Seq(a, b) if a != b => if (b > a) 1L else -1L
        }.toSeq
        val n = BigInt(s.size)
        val n1 = BigInt(s.count(_ == 1L))
        val n2 = BigInt(s.count(_ == -1L))
        val runs = BigInt(if (s.isEmpty) 0
          else 1 + s.sliding(2).count {
            case Seq(a, b) => a != b; case _ => false })
        val a = n * (runs - 1) - 2 * n1 * n2
        val d = 2 * n1 * n2 * (2 * n1 * n2 - n)
        val sig = if (n < 2 || d <= 0) None
          else Some(if (a * a * (n - 1) * 10000 > BigInt(38416) * d)
            1L else 0L)
        (t, g0.size.toLong, n.toLong, n1.toLong, n2.toLong,
          runs.toLong, a.toLong, sig)
      }
    // t: 11-day perfect oscillator -> R=10 of n=10, significant;
    // m: monotone -> one-signed, sigma=0, NULL; u: tie step drops;
    // v: singleton
    val fx = Seq.tabulate(11)(i =>
        ("t", (i + 1).toLong, if (i % 2 == 0) 1L else 2L)) ++
      Seq.tabulate(7)(i => ("m", (i + 1).toLong, (i + 1).toLong)) ++
      Seq(("u", 1L, 5L), ("u", 2L, 5L), ("u", 3L, 6L), ("u", 4L, 4L),
        ("v", 1L, 9L))
    val got = collect8(RankTests.runsTestOfDaily(
      fx.toDF("event_type", "day", "x")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got.find(_._1 == "t").get._8 == Some(1L), got)
    assert(got.find(_._1 == "m").get._8 == None, got)
    assert(got.find(_._1 == "u").get._3 == 2L, got)
    CachedStages.release(spark)
    // graded replay off raw events
    val daily = Events.events(spark, dir)
      .selectExpr("event_type", "ts_sec div 86400 AS day", "value")
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).toSeq
      .map { case ((t, d), g) => (t, d, g.map(_._2).sum) }
    val graded = collect8(RankTests.runsTest(spark, dir))
    assert(graded == replay(daily), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q233 link prediction: hand wedge graph exact; graded replay") {
    import spark.implicits._
    def collect6(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    def replay(edges: Seq[(Long, Long)], k: Int) = {
      val es = edges.toSet
      val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val deg = nbrs.view.mapValues(_.size.toLong).toMap
      val cands = nbrs.values.toSeq.flatMap { ns =>
        val s = ns.toSeq.sorted
        for (i <- s.indices; j <- i + 1 until s.size)
          yield (s(i), s(j))
      }.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .collect { case ((u, v), cn) if !es.contains((u, v)) =>
          val j = BigInt(cn) * 1000000 / (deg(u) + deg(v) - cn)
          (u, v, cn, deg(u), deg(v), j.toLong)
        }
      cands.sortBy(c => (-c._6, -c._3, c._1, c._2)).take(k)
    }
    val fx = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L))
    val got = collect6(Graph.linkPredictionOf(fx.toDF("u", "v"), 20))
    assert(got == replay(fx, 20), s"$got != ${replay(fx, 20)}")
    assert(got.head == (1L, 4L, 2L, 3L, 2L, 666666L), got.head)
    CachedStages.release(spark)
    // graded replay: same canonical edges off raw lineitem
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size)
        yield (ps(i), ps(j))
    }.toSeq.distinct
    val graded = collect6(Graph.linkPrediction(spark, dir))
    assert(graded == replay(edges, 20), s"${graded.take(3)}")
    CachedStages.release(spark)
  }
  test("q234 holt: hand ramp + negative-trend truncation exact; " +
    "graded replay") {
    import spark.implicits._
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    def replay(daily: Seq[(String, Long, Long)]) = {
      val mn = daily.map(_._2).min; val mx = daily.map(_._2).max
      val have = daily.map(d => (d._1, d._2) -> d._3).toMap
      daily.map(_._1).distinct.sorted.flatMap { t =>
        var l = BigInt(0); var b = BigInt(0); var started = false
        (mn to mx).map { d =>
          val x = BigInt(have.getOrElse((t, d), 0L))
          val f = if (!started) x else l + b
          if (!started) { l = x; b = BigInt(0); started = true }
          else {
            val lNew = (300 * x + 700 * (l + b)) / 1000
            b = (100 * (lNew - l) + 900 * b) / 1000
            l = lNew
          }
          (t, d, x.toLong, l.toLong, b.toLong, f.toLong,
            (x - f).toLong)
        }
      }
    }
    // t: clean ramp; u: gap days densify to zero and drive the trend
    // negative (exercises truncation-toward-zero on both states)
    val fx = Seq.tabulate(5)(i =>
        ("t", (i + 1).toLong, (i + 1) * 1000L)) ++
      Seq(("u", 1L, 500L), ("u", 3L, 500L))
    val got = collect7(Events.holtChartOfDaily(
      fx.toDF("event_type", "day", "cents")))
    assert(got == replay(fx), s"${got.take(4)} != ${replay(fx).take(4)}")
    assert(got.find(r => r._1 == "t" && r._2 == 3L).get ==
      ("t", 3L, 3000L, 1831L, 80L, 1330L, 1670L), got.mkString(";"))
    assert(got.find(r => r._1 == "u" && r._2 == 3L).get ==
      ("u", 3L, 500L, 384L, -10L, 335L, 165L), got.mkString(";"))
    CachedStages.release(spark)
    // graded replay off raw events
    val daily = Events.events(spark, dir)
      .selectExpr("event_type", "ts_sec div 86400 AS day", "value")
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).toSeq
      .map { case ((t, d), g) => (t, d, g.map(_._2).sum) }
    val graded = collect7(Events.holtChart(spark, dir))
    assert(graded == replay(daily), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q235 bh fdr: planted outlier discovered, BigInt chain exact; " +
    "graded replay") {
    import spark.implicits._
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    def replay(lines: Seq[(Long, String)]) = {
      val per = lines.groupBy(_._1).view.mapValues(g =>
        (BigInt(g.size), BigInt(g.count(_._2 == "R")))).toMap
      val nn = per.values.map(_._1).sum
      val rr = per.values.map(_._2).sum
      val pooled = rr * 1000000 / nn
      val ladder = Seq((10827566L, 1000L), (6634897L, 10000L),
        (5023886L, 25000L), (3841459L, 50000L), (2705543L, 100000L),
        (1642374L, 200000L), (454936L, 500000L))
      val ps = per.toSeq.flatMap { case (_, (n, r)) =>
        if (nn == n) None
        else {
          val diff = r * 1000000 / n - (rr - r) * 1000000 / (nn - n)
          val se2 = pooled * (1000000 - pooled) * nn * 1000000 /
            (n * (nn - n))
          if (se2 == 0) None
          else {
            val z2 = diff * diff * BigInt("1000000000000") / se2
            Some(ladder.find(l => z2 >= l._1).map(_._2)
              .getOrElse(1000000L))
          }
        }
      }
      val m = BigInt(ps.size)
      val bands = ps.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (p, g) => (p, g.size.toLong) }
      val cums = bands.scanLeft(0L)(_ + _._2).tail
      val rows = bands.zip(cums).map { case ((p, n), c) =>
        (p, n, c, if (BigInt(p) * m <= BigInt(c) * 100000) 1L else 0L,
          if (BigInt(p) * m <= 50000) 1L else 0L)
      }
      val disc = rows.filter(_._4 == 1L).map(_._3).maxOption
        .getOrElse(0L)
      val bonf = rows.filter(_._5 == 1L).map(_._3).maxOption
        .getOrElse(0L)
      rows.map(r => (r._1, r._2, r._3, r._4, disc, bonf, m.toLong))
    }
    // 20 clean suppliers at ~10% return rate, one planted at 100%:
    // the outlier clears the lowest-p rung and BH must discover it
    val fx = (1L to 20L).flatMap(s => Seq.tabulate(50)(i =>
        (s, if (i < 5) "R" else "N"))) ++
      Seq.tabulate(50)(_ => (99L, "R"))
    val got = collect7(Relational.supplierFdrOf(
      fx.toDF("l_suppkey", "l_returnflag")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got.head._1 == 1000L && got.head._4 == 1L, got.head)
    assert(got.head._5 >= 1L, got.head)
    CachedStages.release(spark)
    // graded replay off raw lineitem
    val lines = Tables(spark, dir, "lineitem")
      .select("l_suppkey", "l_returnflag").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val graded = collect7(Relational.supplierFdr(spark, dir))
    assert(graded == replay(lines), s"${graded.take(3)}")
    CachedStages.release(spark)
  }
  test("q236 source divergence: identical-pair zero, disjoint-pair " +
    "max; graded replay") {
    import spark.implicits._
    def collect6(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val tokRe = "[a-z0-9]+".r
    def replay(docs: Seq[(String, String)]) = {
      val counts = docs.flatMap(d =>
          tokRe.findAllIn(d._2.toLowerCase).map(t => (d._1, t)))
        .groupBy(identity).view.mapValues(g => BigInt(g.size)).toMap
      val ns = counts.toSeq.groupBy(_._1._1).view
        .mapValues(_.map(_._2).sum).toMap
      val srcs = ns.keys.toSeq.sorted
      val toks = counts.keys.map(_._2).toSeq.distinct
      for {
        i <- srcs.indices; j <- i + 1 until srcs.size
        a = srcs(i); b = srcs(j)
      } yield {
        val terms = toks.flatMap { t =>
          val ca = counts.getOrElse((a, t), BigInt(0))
          val cb = counts.getOrElse((b, t), BigInt(0))
          if (ca + cb == 0) None
          else {
            val d = ca * ns(b) - cb * ns(a)
            Some(d * d * 1000000 / (ca + cb))
          }
        }
        (a, b, ns(a).toLong, ns(b).toLong, terms.size.toLong,
          (terms.sum / (ns(a) * ns(b))).toLong)
      }
    }
    // a/b identical distributions (chi2 = 0), c disjoint vocabulary
    // (every token one-sided -> maximal divergence)
    val fx = Seq(("a", "x x y"), ("b", "x x y x x y"),
      ("c", "z w z"))
    val got = collect6(TextOps.sourceDivergenceOf(
      fx.toDF("source", "text")))
    val exp = replay(fx)
    assert(got == exp, s"$got != $exp")
    assert(got.find(r => r._1 == "a" && r._2 == "b").get._6 == 0L, got)
    // disjoint pair: chi2 = N_a + N_b exactly -> micro = (3+3)*1e6
    assert(got.find(r => r._1 == "a" && r._2 == "c").get._6
      == 6000000L, got)
    CachedStages.release(spark)
    // graded replay over the documents table
    val docs = Tables(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val graded = collect6(TextOps.sourceDivergence(spark, dir))
    assert(graded == replay(docs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q237 load profile: hand histogram incl. peak tie; graded " +
    "replay") {
    import spark.implicits._
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    def replay(evs: Seq[(String, Long)]) =
      evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
        val byH = g.groupBy(_._2).view.mapValues(x => BigInt(x.size))
          .toMap
        val n = BigInt(g.size)
        val (peakH, peakN) = byH.toSeq
          .maxBy(h => (h._2, -h._1))
        val sq = byH.values.map(c => c * c).sum
        val night = byH.filter(_._1 < 6).values.sum
        (t, n.toLong, peakH, peakN.toLong,
          (peakN * 24 * 1000 / n).toLong,
          (sq * 1000000 / (n * n)).toLong,
          (night * 1000000 / n).toLong)
      }
    // t: hours 2 and 3 tie at 2 events each -> smallest-hour rule;
    // u: single-hour spike -> HHI 1e6, peak-to-mean 24000
    val fx = Seq(("t", 2L), ("t", 2L), ("t", 3L), ("t", 3L),
      ("t", 10L), ("u", 7L), ("u", 7L), ("u", 7L))
    val got = collect7(Events.loadProfileOf(
      fx.toDF("event_type", "hour")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got.find(_._1 == "t").get._3 == 2L, got)
    assert(got.find(_._1 == "u").get ==
      ("u", 3L, 7L, 3L, 24000L, 1000000L, 0L), got)
    // night share of t: hours 2,3 -> 4 of 5
    assert(got.find(_._1 == "t").get._7 == 800000L, got)
    CachedStages.release(spark)
    // graded replay off raw events
    val evs = Events.events(spark, dir)
      .selectExpr("event_type", "(ts_sec div 3600) % 24 AS hour")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val graded = collect7(Events.loadProfile(spark, dir))
    assert(graded == replay(evs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q238 price anova: pure-between eta2=1e6, single-supplier 0; " +
    "graded replay") {
    import spark.implicits._
    def collect5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    def replay(rows: Seq[(String, Long, Long)]) =
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (brand, g) =>
        val n = BigInt(g.size)
        val s = g.map(r => BigInt(r._3)).sum
        val q = g.map(r => BigInt(r._3) * r._3).sum
        val gs = g.groupBy(_._2).values.toSeq
        val gterms = gs.map { gg =>
          val sg = gg.map(r => BigInt(r._3)).sum
          (sg / gg.size) * sg
        }.sum
        val corr = (s / n) * s
        val ssb = (gterms - corr).max(BigInt(0))
        val sst = q - corr
        (brand, n.toLong, gs.size.toLong, (s / n).toLong,
          if (sst == 0) None
          else Some((ssb * 1000000 / sst).toLong))
      }
    // A: suppliers at distinct constant prices -> eta2 exactly 1e6;
    // B: one supplier -> ssb = 0; C: constant price -> sst = 0, NULL
    val li = Seq(
      (1L, 10L, 0.10, 1.0), (1L, 10L, 0.10, 1.0),
      (1L, 11L, 0.20, 1.0), (1L, 11L, 0.20, 1.0),
      (2L, 12L, 0.05, 1.0), (2L, 12L, 0.07, 1.0),
      (3L, 13L, 0.09, 1.0), (3L, 14L, 0.09, 1.0))
      .toDF("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    val part = Seq((1L, "A"), (2L, "B"), (3L, "C"))
      .toDF("p_partkey", "p_brand")
    val got = collect5(Relational.priceAnovaOf(part, li))
    val fx = Seq(("A", 10L, 10L), ("A", 10L, 10L), ("A", 11L, 20L),
      ("A", 11L, 20L), ("B", 12L, 5L), ("B", 12L, 7L),
      ("C", 13L, 9L), ("C", 14L, 9L))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got.find(_._1 == "A").get._5 == Some(1000000L), got)
    assert(got.find(_._1 == "B").get._5 == Some(0L), got)
    assert(got.find(_._1 == "C").get._5 == None, got)
    CachedStages.release(spark)
    // graded replay off raw tables
    val brandOf = Tables(spark, dir, "part")
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice",
        "l_quantity").collect()
      .map { r =>
        val cents = (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
        (brandOf(r.getLong(0)), r.getLong(1),
          cents / math.round(r.getDouble(3)))
      }
    val graded = collect5(Relational.priceAnova(spark, dir))
    assert(graded == replay(rows), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q239 rand index: textbook perfect/independent partitions " +
    "exact; graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toSeq
    def replay(pairs: Seq[(Long, Long)]) = {
      def c2(x: BigInt) = x * (x - 1) / 2
      val cont = pairs.groupBy(identity).view
        .mapValues(g => BigInt(g.size)).toMap
      val n = cont.values.sum
      val p = cont.values.map(c2).sum
      val as = cont.toSeq.groupBy(_._1._1).values
        .map(g => c2(g.map(_._2).sum))
      val bs = cont.toSeq.groupBy(_._1._2).values
        .map(g => c2(g.map(_._2).sum))
      val (a, b) = (as.sum, bs.sum)
      val nt = c2(n)
      val ri = if (nt == 0) None
        else Some(((nt + 2 * p - a - b) * 1000000 / nt).toLong)
      val den = nt * (a + b) - 2 * a * b
      val ari = if (den == 0) None
        else Some((2 * (p * nt - a * b) * 1000000 / den).toLong)
      Seq((n.toLong,
        cont.keys.map(_._1).toSeq.distinct.size.toLong,
        cont.keys.map(_._2).toSeq.distinct.size.toLong,
        p.toLong, a.toLong, b.toLong, ri, ari))
    }
    // perfect agreement: ARI = RI = 1e6
    val perfect = Seq((0L, 10L), (0L, 10L), (0L, 10L), (1L, 20L),
      (1L, 20L), (2L, 30L), (2L, 30L))
    val gotP = collect8(Clustering.randIndexOf(
      perfect.toDF("cluster", "label")))
    assert(gotP == replay(perfect), s"$gotP != ${replay(perfect)}")
    assert(gotP.head._7 == Some(1000000L) &&
      gotP.head._8 == Some(1000000L), gotP)
    CachedStages.release(spark)
    // the 2x2 uniform grid scores BELOW chance (P=4 < E=36/7) and
    // exercises the signed negative-ARI truncation: -64e6/384
    val indep = for (c <- 0L to 1L; l <- 0L to 1L; _ <- 1 to 2)
      yield (c, l)
    val gotI = collect8(Clustering.randIndexOf(
      indep.toDF("cluster", "label")))
    assert(gotI == replay(indep), s"$gotI != ${replay(indep)}")
    assert(gotI.head._8 == Some(-166666L), gotI)
    CachedStages.release(spark)
    // graded replay: clusters off the graded kmeans output, labels
    // off the embeddings table
    val lbl = Tables(spark, dir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val assign = Clustering.kmeans(spark, dir, 4, 3)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(1), lbl(r.getLong(0)))).toSeq
    CachedStages.release(spark)
    val graded = collect8(Clustering.randIndex(spark, dir, 4, 3))
    assert(graded == replay(assign), s"$graded != ${replay(assign)}")
    CachedStages.release(spark)
  }
  test("q240 readability: hand Flesch exact incl. no-punctuation " +
    "NULL; graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        (5 to 7).map(i =>
          if (r.isNullAt(i)) None else Some(r.getLong(i))))).toSeq
    val wRe = "[a-z0-9]+".r; val sRe = "[.!?]+".r
    val yRe = "[aeiouy]+".r
    def replay(docs: Seq[(String, String)]) =
      docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, g) =>
        val w = BigInt(g.map(d =>
          wRe.findAllIn(d._2.toLowerCase).size).sum)
        val s = BigInt(g.map(d => sRe.findAllIn(d._2).size).sum)
        val y = BigInt(g.map(d =>
          yRe.findAllIn(d._2.toLowerCase).size).sum)
        def d(a: BigInt, b: BigInt) =
          if (b == 0) None else Some((a / b).toLong)
        val fl = if (s == 0 || w == 0) None
          else Some((206835 - 1015 * w / s - 84600 * y / w).toLong)
        (src, g.size.toLong, w.toLong, s.toLong, y.toLong,
          Seq(d(w * 1000, s), d(y * 1000, w), fl))
      }
    // a: "The cat sat. It ran!" -> 5 words, 2 sentences, 5 vowel
    // groups (e, a, a, i, a): flesch = 206835 - 1015*5/2 - 84600*5/5
    // = 206835 - 2537 - 84600 = 119698; b: no punctuation -> NULL
    val fx = Seq(("a", "The cat sat. It ran!"), ("b", "no stops here"))
    val got = collect8(TextOps.readabilityOf(
      fx.toDF("source", "text")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got.head._6.last == Some(119698L), got.head)
    assert(got.last._6.last == None, got.last)
    CachedStages.release(spark)
    // graded replay over the documents table
    val docs = Tables(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val graded = collect8(TextOps.readability(spark, dir))
    assert(graded == replay(docs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q241 log rank: identical cohorts chi2=0, separated cohorts " +
    "significant; graded replay") {
    import spark.implicits._
    def collect9(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        if (r.isNullAt(8)) None else Some(r.getLong(8)))).toSeq
    def replay(subj: Seq[(Long, Long, Long)]) = {
      val hist = subj.groupBy(s => (s._1, s._2)).view.mapValues(g =>
        (BigInt(g.map(_._3).sum), BigInt(g.size))).toMap
      val tot = hist.toSeq.groupBy(_._1._1).view
        .mapValues(_.map(_._2._2).sum).toMap
      val spine = hist.keys.map(_._2).toSeq.distinct.sorted
      def atRisk(g: Long, t: Long) =
        tot.getOrElse(g, BigInt(0)) -
          hist.filter(h => h._1._1 == g && h._1._2 < t)
            .values.map(_._2).sum
      val terms = spine.flatMap { t =>
        val d1 = hist.getOrElse((1L, t), (BigInt(0), BigInt(0)))._1
        val d2 = hist.getOrElse((2L, t), (BigInt(0), BigInt(0)))._1
        if (d1 + d2 == 0) None
        else {
          val n1 = atRisk(1L, t); val n2 = atRisk(2L, t)
          val n = n1 + n2; val d = d1 + d2
          val e1 = d * n1 * 1000000 / n
          val v = if (n <= 1) BigInt(0)
            else d * n1 * n2 * (n - d) * 1000000 / (n * n * (n - 1))
          Some((d1, d2, e1, v))
        }
      }
      val o1 = terms.map(_._1).sum; val o2 = terms.map(_._2).sum
      val e1 = terms.map(_._3).sum; val v = terms.map(_._4).sum
      val chi2 = if (v == 0) None
        else Some(((o1 * 1000000 - e1) * (o1 * 1000000 - e1) / v)
          .toLong)
      Seq((tot.getOrElse(1L, BigInt(0)).toLong,
        tot.getOrElse(2L, BigInt(0)).toLong, terms.size.toLong,
        o1.toLong, o2.toLong, e1.toLong, v.toLong, chi2,
        chi2.map(c => if (c > Events.Chi2Crit95Ppm.head) 1L else 0L)))
    }
    // identical cohorts: chi2 exactly 0
    val same = Seq((1L, 1L, 1L), (1L, 3L, 0L),
      (2L, 1L, 1L), (2L, 3L, 0L))
    val gotS = collect9(Events.logRankOf(same.toDF("grp", "t", "e")))
    assert(gotS == replay(same), s"$gotS != ${replay(same)}")
    assert(gotS.head._8 == Some(0L), gotS)
    // separated cohorts: all grp-1 events at t=1 vs censored grp-2 ->
    // hand chi2 = (1.5e6)^2 / 450000 = 5e6, significant
    val sep = Seq((1L, 1L, 1L), (1L, 1L, 1L), (1L, 1L, 1L),
      (2L, 5L, 0L), (2L, 5L, 0L), (2L, 5L, 0L))
    val gotD = collect9(Events.logRankOf(sep.toDF("grp", "t", "e")))
    assert(gotD == replay(sep), s"$gotD != ${replay(sep)}")
    assert(gotD.head._8 == Some(5000000L) &&
      gotD.head._9 == Some(1L), gotD)
    CachedStages.release(spark)
    // graded replay: rebuild the censored cohort subjects off events
    val days = Events.events(spark, dir)
      .selectExpr("user_id", "event_type", "ts_us",
        "ts_sec div 86400 AS day")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val maxDay = days.map(_._4).max
    val subj = days.groupBy(_._1).values.map { g =>
      val fd = g.map(_._4).min
      val pd = g.filter(_._2 == "purchase").map(_._4).minOption
      val firstType = g.map(e => (e._3, e._2)).min._2
      (if (firstType == "signup") 1L else 2L,
        pd.map(_ - fd).getOrElse(maxDay - fd),
        if (pd.isDefined) 1L else 0L)
    }.toSeq
    val graded = collect9(Events.logRank(spark, dir))
    assert(graded == replay(subj), s"$graded != ${replay(subj)}")
    CachedStages.release(spark)
  }
  test("q242 seasonal strength: pure-weekly eta2=1e6, constant NULL; " +
    "graded replay") {
    import spark.implicits._
    def collect4(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    def replay(daily: Seq[(String, Long, Long)]) = {
      val mn = daily.map(_._2).min; val mx = daily.map(_._2).max
      val have = daily.map(d => (d._1, d._2) -> d._3).toMap
      daily.map(_._1).distinct.sorted.map { t =>
        val xs = (mn to mx).map(d =>
          ((d + 3) % 7, BigInt(have.getOrElse((t, d), 0L))))
        val n = BigInt(xs.size)
        val s = xs.map(_._2).sum
        val q = xs.map(x => x._2 * x._2).sum
        val gterms = xs.groupBy(_._1).values.map { g =>
          val sg = g.map(_._2).sum
          (sg / g.size) * sg
        }.sum
        val corr = (s / n) * s
        val sst = q - corr
        (t, n.toLong, (s / n).toLong,
          if (sst == 0) None
          else Some(((gterms - corr).max(BigInt(0)) * 1000000 / sst)
            .toLong))
      }
    }
    // t: 14 days, revenue depends ONLY on weekday -> eta2 = 1e6;
    // u: constant -> SST = 0 -> NULL
    val fxT = Seq.tabulate(14)(i =>
        ("t", i.toLong, (i % 7) * 100L + 100L)) ++
      Seq.tabulate(14)(i => ("u", i.toLong, 500L))
    val got = collect4(Events.seasonalStrengthOfDaily(
      fxT.toDF("event_type", "day", "cents")))
    assert(got == replay(fxT), s"$got != ${replay(fxT)}")
    assert(got.find(_._1 == "t").get._4 == Some(1000000L), got)
    assert(got.find(_._1 == "u").get._4 == None, got)
    CachedStages.release(spark)
    // graded replay off raw events
    val daily = Events.events(spark, dir)
      .selectExpr("event_type", "ts_sec div 86400 AS day", "value")
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).toSeq
      .map { case ((t, d), g) => (t, d, g.map(_._2).sum) }
    val graded = collect4(Events.seasonalStrength(spark, dir))
    assert(graded == replay(daily), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q243 mondrian: hand cuts exact, every box k-anonymous; " +
    "graded replay") {
    import spark.implicits._
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    def replay(pts: Seq[(Long, Long)], k: Long, rounds: Int) = {
      var parts: Map[Long, Seq[(Long, Long)]] = Map(0L -> pts)
      for (_ <- 1 to rounds) {
        parts = parts.flatMap { case (pid, g) =>
          val rb = g.map(_._1).max - g.map(_._1).min
          val rn = g.map(_._2).max - g.map(_._2).min
          val dim = if (rb >= rn) 0 else 1
          def v(p: (Long, Long)) = if (dim == 0) p._1 else p._2
          val vs = g.map(v).sorted
          val med = vs((((g.size + 1) / 2) - 1).max(0))
          val (l, r) = g.partition(p => v(p) <= med)
          if (g.size >= 2 * k && l.size >= k && r.size >= k)
            Map(pid * 3 + 1 -> l, pid * 3 + 2 -> r)
          else Map(pid * 3 -> g)
        }
      }
      val groups = parts.values.toSeq.map { g =>
        (g.map(_._1).min, g.map(_._1).max, g.map(_._2).min,
          g.map(_._2).max, g.size.toLong)
      }
      val kAch = groups.map(_._5).min
      val nG = groups.size.toLong
      groups.map(g => (g._1, g._2, g._3, g._4, g._5, kAch, nG))
        .sortBy(g => (g._1, g._2, g._3, g._4, g._5))
    }
    // hand case: bal splits first (range 10 > 1), both halves hold
    // k=2, nation never splits (each half n=2 < 2k)
    val fx = Seq((0L, 0L), (0L, 1L), (10L, 0L), (10L, 1L))
    val got = collect7(Privacy.mondrianOf(
      fx.toDF("bal", "nat"), 2L, 2))
    assert(got == replay(fx, 2L, 2), s"$got != ${replay(fx, 2L, 2)}")
    assert(got == Seq((0L, 0L, 0L, 1L, 2L, 2L, 2L),
      (10L, 10L, 0L, 1L, 2L, 2L, 2L)), got.mkString(";"))
    CachedStages.release(spark)
    // injectivity fixture: round 1 cuts the root into pids 1 and 2;
    // round 2 cuts pid 1 (children 3p+1=4, 3p+2=5) while pid 2 STAYS
    // (3p=6). Under the old base-2 map, pid 1's right child (2p+2=4)
    // collided with pid 2's stay (2p=4), silently merging the
    // disjoint boxes bal∈[5,5] and bal∈[100,100] into one [5,100].
    val cx = Seq((0L, 0L), (0L, 0L), (5L, 0L), (5L, 0L),
      (100L, 0L), (100L, 0L))
    val gotCx = collect7(Privacy.mondrianOf(
      cx.toDF("bal", "nat"), 2L, 2))
    assert(gotCx == replay(cx, 2L, 2), gotCx.mkString(";"))
    assert(gotCx == Seq((0L, 0L, 0L, 0L, 2L, 2L, 3L),
      (5L, 5L, 0L, 0L, 2L, 2L, 3L),
      (100L, 100L, 0L, 0L, 2L, 2L, 3L)), gotCx.mkString(";"))
    CachedStages.release(spark)
    // graded replay off raw customers at the graded (k, rounds)
    val pts = Tables(spark, dir, "customer")
      .selectExpr("CAST(round(c_acctbal) AS BIGINT)",
        "CAST(c_nationkey AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val graded = collect7(Privacy.mondrian(spark, dir, 25L, 6))
    assert(graded == replay(pts, 25L, 6), s"${graded.take(3)}")
    // the anonymity guarantee: every emitted box holds >= k subjects
    assert(graded.head._6 >= 25L && graded.nonEmpty, graded.head)
    CachedStages.release(spark)
  }
  test("q244 vocab containment: hand subset/disjoint exact; graded " +
    "replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    val tokRe = "[a-z0-9]+".r
    def replay(docs: Seq[(String, String)]) = {
      val sets = docs.groupBy(_._1).view.mapValues(g =>
        g.flatMap(d => tokRe.findAllIn(d._2.toLowerCase)).toSet)
        .toMap
      val srcs = sets.keys.toSeq.sorted
      (for {
        i <- srcs.indices; j <- i + 1 until srcs.size
        a = srcs(i); b = srcs(j)
        inter = BigInt((sets(a) & sets(b)).size)
        if inter > 0
      } yield (a, b, sets(a).size.toLong, sets(b).size.toLong,
        inter.toLong,
        (inter * 1000000 / sets(a).size).toLong,
        (inter * 1000000 / sets(b).size).toLong,
        (inter * 1000000 /
          (sets(a).size + sets(b).size - inter)).toLong)).toSeq
    }
    // a subset-of b (containment a->b = 1e6); c disjoint (no row)
    val fx = Seq(("a", "x y"), ("b", "x y z w"), ("c", "q r"))
    val got = collect8(TextOps.vocabContainmentOf(
      fx.toDF("source", "text")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got == Seq(("a", "b", 2L, 4L, 2L, 1000000L, 500000L,
      500000L)), got.mkString(";"))
    CachedStages.release(spark)
    // graded replay over the documents table
    val docs = Tables(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val graded = collect8(TextOps.vocabContainment(spark, dir))
    assert(graded == replay(docs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q245 user dispersion: uniform/spiked/single-user exact; " +
    "graded replay") {
    import spark.implicits._
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    def replay(evs: Seq[(String, Long)]) =
      evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
        val cs = g.groupBy(_._2).view.mapValues(x => BigInt(x.size))
          .toMap
        val n = BigInt(cs.size); val s = cs.values.sum
        val sq = cs.values.map(c => c * c).sum
        val (topU, topN) = cs.toSeq.maxBy(c => (c._2, -c._1))
        (t, n.toLong, s.toLong, (s * 1000 / n).toLong,
          ((n * sq - s * s) * 1000 / (n * s)).toLong,
          topU, (topN * 1000000 / s).toLong)
      }
    // t: perfectly uniform 2-per-user -> variance 0; u: one user
    // carries 7 of 8 (var 9, mean 4 -> ID 2250) -> overdispersed;
    // v: single user -> ID 0
    val fx = Seq(("t", 1L), ("t", 1L), ("t", 2L), ("t", 2L)) ++
      Seq.fill(7)(("u", 1L)) ++ Seq(("u", 2L), ("v", 9L))
    val got = collect7(Events.userDispersionOf(
      fx.toDF("event_type", "user_id")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got.find(_._1 == "t").get._5 == 0L, got)
    assert(got.find(_._1 == "u").get._5 == 2250L, got)
    assert(got.find(_._1 == "u").get._7 == 875000L, got)
    assert(got.find(_._1 == "v").get._5 == 0L, got)
    CachedStages.release(spark)
    // graded replay off raw events
    val evs = Events.events(spark, dir)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val graded = collect7(Events.userDispersion(spark, dir))
    assert(graded == replay(evs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q246 zipf profile: hand geometric corpus exact; graded " +
    "replay") {
    import spark.implicits._
    def collect5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    val tokRe = "[a-z0-9]+".r
    def replay(docs: Seq[String]) = {
      val counts = docs.flatMap(d =>
          tokRe.findAllIn(d.toLowerCase).toSeq)
        .groupBy(identity).view.mapValues(g => BigInt(g.size)).toSeq
        .sortBy(c => (-c._2, c._1)).take(512)
      val n = docs.map(d =>
        BigInt(tokRe.findAllIn(d.toLowerCase).size)).sum
      val byRank = counts.zipWithIndex
        .map { case ((t, c), i) => (i + 1L, t, c) }
      val idx = byRank.map(r => r._1 -> r._3).toMap
      byRank.filter(r => Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L,
          256L).contains(r._1))
        .map { case (r, t, c) =>
          (r, t, c.toLong, (c * 1000000000 / n).toLong,
            idx.get(r * 2).map(c2 => (c * 1000 / c2).toLong))
        }
    }
    // a 1/r law on the picked ranks: f(1)=32, f(2)=16, f(4)=8,
    // f(8)=4 -> every present doubling ratio exactly 2000 milli;
    // rank 16 absent -> the last pick's ratio is NULL
    val fx = Seq(("a", 32), ("b", 16), ("c", 9), ("d", 8), ("e", 7),
      ("f", 6), ("g", 5), ("h", 4), ("i", 1))
      .flatMap { case (t, k) => Seq.fill(k)(t) }
      .mkString(" ")
    val got = collect5(TextOps.zipfProfileOf(
      Seq(fx).toDF("text")))
    assert(got == replay(Seq(fx)), s"$got != ${replay(Seq(fx))}")
    assert(got.map(_._1) == Seq(1L, 2L, 4L, 8L), got.mkString(";"))
    assert(got.take(3).forall(_._5 == Some(2000L)), got.mkString(";"))
    assert(got.last._5 == None, got.mkString(";"))
    assert(got.head == (1L, "a", 32L, 363636363L, Some(2000L)), got)
    CachedStages.release(spark)
    // graded replay over the documents table
    val docs = Tables(spark, dir, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val graded = collect5(TextOps.zipfProfile(spark, dir))
    assert(graded == replay(docs), s"${graded.take(3)}")
    CachedStages.release(spark)
  }
  test("q247 cramers v: determined/independent pairs exact; graded " +
    "replay") {
    import spark.implicits._
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).toSeq
    def replay(rows: Seq[Map[String, String]], cols: Seq[String]) = {
      val n = BigInt(rows.size)
      cols.combinations(2).map { case Seq(a, b) =>
        val cells = rows.groupBy(r => (r(a), r(b))).view
          .mapValues(g => BigInt(g.size)).toMap
        val ra = cells.toSeq.groupBy(_._1._1).view
          .mapValues(_.map(_._2).sum).toMap
        val rb = cells.toSeq.groupBy(_._1._2).view
          .mapValues(_.map(_._2).sum).toMap
        val chi2 = cells.map { case ((va, vb), o) =>
          o * o * n * 1000000 / (ra(va) * rb(vb))
        }.sum - n * 1000000
        val m = BigInt((ra.size - 1).min(rb.size - 1))
        (a, b, n.toLong, ra.size.toLong, rb.size.toLong,
          chi2.toLong,
          if (n * m == 0) None else Some((chi2 / (n * m)).toLong))
      }.toSeq.sortBy(r => (r._1, r._2))
    }
    // x determines y (V2 = 1e6); z independent of both (V2 = 0);
    // w constant (NULL)
    val fx = Seq(
      ("a", "p", "0", "k"), ("a", "p", "1", "k"),
      ("b", "q", "0", "k"), ("b", "q", "1", "k"))
      .toDF("x", "y", "z", "w")
    val got = collect7(Relational.cramersVOf(fx,
      Seq("x", "y", "z", "w")))
    val fxm = Seq(
      Map("x" -> "a", "y" -> "p", "z" -> "0", "w" -> "k"),
      Map("x" -> "a", "y" -> "p", "z" -> "1", "w" -> "k"),
      Map("x" -> "b", "y" -> "q", "z" -> "0", "w" -> "k"),
      Map("x" -> "b", "y" -> "q", "z" -> "1", "w" -> "k"))
    assert(got == replay(fxm, Seq("x", "y", "z", "w")),
      s"$got != ${replay(fxm, Seq("x", "y", "z", "w"))}")
    assert(got.find(r => r._1 == "x" && r._2 == "y").get._7
      == Some(1000000L), got)
    assert(got.find(r => r._1 == "x" && r._2 == "z").get._7
      == Some(0L), got)
    assert(got.find(r => r._1 == "x" && r._2 == "w").get._7
      == None, got)
    CachedStages.release(spark)
    // graded replay off raw orders
    val ords = Tables(spark, dir, "orders")
      .selectExpr("o_orderpriority", "o_orderstatus",
        """CAST((unix_micros(CAST(o_orderdate AS TIMESTAMP))
          | div 86400000000 + 3) % 7 AS STRING)""".stripMargin)
      .collect()
      .map(r => Map("priority" -> r.getString(0),
        "status" -> r.getString(1), "weekday" -> r.getString(2)))
      .toSeq
    val graded = collect7(Relational.cramersV(spark, dir))
    assert(graded ==
      replay(ords, Seq("priority", "status", "weekday")),
      s"$graded")
    CachedStages.release(spark)
  }
  test("q248 mcnemar: hand discordant pairs exact incl. b=c; " +
    "graded replay") {
    import spark.implicits._
    def collect5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    def replay(rows: Seq[(Long, Long, String)]) = {
      val cube = rows.groupBy(identity).view
        .mapValues(g => BigInt(g.size)).toMap
      // NB argmax per combo — the q219 fixed-point replay
      val classes = cube.toSeq.groupBy(_._1._3).view
        .mapValues(_.map(_._2).sum).toMap
      val dNat = cube.keys.map(_._1).toSeq.distinct.size
      val natC = cube.toSeq.groupBy(k => (k._1._1, k._1._3)).view
        .mapValues(_.map(_._2).sum).toMap
      val signC = cube.toSeq.groupBy(k => (k._1._2, k._1._3)).view
        .mapValues(_.map(_._2).sum).toMap
      val combos = cube.keys.map(k => (k._1, k._2)).toSeq.distinct
      val segs = classes.keys.toSeq.sorted
      // tie rule: max s_fp then seg ASC
      val pred2 = combos.map { case (nat, sign) =>
        val scored = segs.map { s =>
          val nc = classes(s)
          (s, nc * (natC.getOrElse((nat, s), BigInt(0)) + 1) *
            (signC.getOrElse((sign, s), BigInt(0)) + 1) *
            BigInt("1000000000000") / ((nc + dNat) * (nc + 2)))
        }
        val best = scored.sortBy(x => x._1).maxBy(_._2)
        // stable: among equal s_fp the ASC-first wins
        val top = scored.filter(_._2 == best._2).map(_._1).min
        (nat, sign) -> top
      }.toMap
      val major = classes.toSeq.sortBy(c => (-c._2, c._1)).head._1
      val n = cube.values.sum
      val b = cube.collect { case ((nat, sign, seg), cnt)
        if pred2((nat, sign)) == seg && seg != major => cnt }.sum
      val c = cube.collect { case ((nat, sign, seg), cnt)
        if pred2((nat, sign)) != seg && seg == major => cnt }.sum
      val chi2 = if (b + c == 0) None
        else Some((((b - c).abs - 1) * ((b - c).abs - 1) * 1000000
          / (b + c)).toLong)
      Seq((n.toLong, b.toLong, c.toLong, chi2,
        chi2.map(x =>
          if (x > Events.Chi2Crit95Ppm.head) 1L else 0L)))
    }
    // planted: nation 1 is pure class-B (NB right, baseline wrong);
    // nation 0 majority-A (both right on A rows, NB beats baseline)
    val fx = Seq.fill(6)((0L, 1L, "A")) ++ Seq.fill(4)((1L, 1L, "B"))
    val got = collect5(Features.mcnemarOf(
      fx.toDF("nat", "sign", "seg")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got.head._2 == 4L && got.head._3 == 0L, got)
    CachedStages.release(spark)
    // graded replay off raw customers
    val rows = Tables(spark, dir, "customer")
      .selectExpr("CAST(c_nationkey AS BIGINT)",
        "CAST(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS BIGINT)",
        "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val graded = collect5(Features.mcnemar(spark, dir))
    assert(graded == replay(rows), s"$graded != ${replay(rows)}")
    CachedStages.release(spark)
  }
  test("q249 rmst: hand KM steps exact incl. no-median NULL; " +
    "graded replay") {
    import spark.implicits._
    def collect4(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3))).toSeq
    def replay(km: Seq[(Long, Long, Long)], tau: Int) = {
      // km rows: (t, n_at_risk, km_ppm)
      val n = km.map(_._2).max
      val med = km.filter(_._3 <= 500000L).map(_._1).minOption
      val sSum = (0L until tau.toLong).map { d =>
        km.filter(_._1 <= d).sortBy(_._1).lastOption
          .map(_._3).getOrElse(1000000L)
      }.map(BigInt(_)).sum
      Seq((n, tau.toLong, med, (sSum / 1000).toLong))
    }
    // steps: S drops to 600000 at t=2, 400000 at t=5 (crosses 1/2 ->
    // median 5); tau=10: S = 1e6,1e6 then 6e5 x3 then 4e5 x5
    // -> sum 5.8e6 -> 5800 milli-days
    val fxKm = Seq((2L, 10L, 600000L), (5L, 6L, 400000L))
      .toDF("t", "n_at_risk", "km_ppm")
      .withColumn("n_events", org.apache.spark.sql.functions.lit(0L))
    val got = collect4(Events.rmstOfKm(fxKm, 10))
    assert(got == replay(Seq((2L, 10L, 600000L), (5L, 6L, 400000L)),
      10), s"$got")
    assert(got.head == (10L, 10L, Some(5L), 5800L), got.head)
    CachedStages.release(spark)
    // above-half curve: median NULL
    val fxKm2 = Seq((1L, 4L, 800000L))
      .toDF("t", "n_at_risk", "km_ppm")
      .withColumn("n_events", org.apache.spark.sql.functions.lit(0L))
    val got2 = collect4(Events.rmstOfKm(fxKm2, 5))
    assert(got2.head == (4L, 5L, None, 4200L), got2.head)
    CachedStages.release(spark)
    // graded replay off the graded q169 curve itself
    val kmRows = Events.kmRetention(spark, dir)
      .select("t", "n_at_risk", "km_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    CachedStages.release(spark)
    val graded = collect4(Events.rmst(spark, dir))
    assert(graded == replay(kmRows, 30), s"$graded")
    CachedStages.release(spark)
  }
  test("q250 co-occurrence: always-together/independent/disjoint " +
    "exact; graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    def replay(evs: Seq[(Long, Long, String)]) = {
      val bt = evs.distinct
      val baskets = bt.map(e => (e._1, e._2)).distinct
      val n = BigInt(baskets.size)
      val sets = bt.groupBy(e => (e._1, e._2)).view
        .mapValues(_.map(_._3).toSet).toMap
      val marg = bt.groupBy(_._3).view
        .mapValues(g => BigInt(g.map(e => (e._1, e._2)).distinct.size))
        .toMap
      val types = marg.keys.toSeq.sorted
      (for {
        i <- types.indices; j <- i + 1 until types.size
        a = types(i); b = types(j)
        nab = BigInt(sets.values.count(s =>
          s.contains(a) && s.contains(b)))
        if nab > 0
      } yield (a, b, nab.toLong, marg(a).toLong, marg(b).toLong,
        n.toLong,
        (nab * n * 1000000 / (marg(a) * marg(b))).toLong,
        (nab * 1000000 / (marg(a) + marg(b) - nab)).toLong)).toSeq
    }
    // x & y always together in 2 of 4 baskets (lift 2e6), z in the
    // other two (disjoint from x: no row); y also alone once? keep:
    // baskets: (1,1):{x,y} (1,2):{x,y} (2,1):{z} (2,2):{z,y}
    val fx = Seq((1L, 1L, "x"), (1L, 1L, "y"), (1L, 2L, "x"),
      (1L, 2L, "y"), (2L, 1L, "z"), (2L, 2L, "z"), (2L, 2L, "y"))
    val got = collect8(Events.typeCooccurrenceOf(
      fx.toDF("user_id", "day", "event_type")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    // x,y: nab=2, na=2, nb=3, N=4 -> lift = 2*4e6/6 = 1333333
    assert(got.find(r => r._1 == "x" && r._2 == "y").get._7
      == 1333333L, got)
    assert(!got.exists(r => r._1 == "x" && r._2 == "z"), got)
    CachedStages.release(spark)
    // graded replay off raw events
    val evs = Events.events(spark, dir)
      .selectExpr("user_id", "ts_sec div 86400 AS day", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val graded = collect8(Events.typeCooccurrence(spark, dir))
    assert(graded == replay(evs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q251 capped link prediction: hand graph where the cap BINDS " +
    "exact; graded replay") {
    import spark.implicits._
    def collect6(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    def replay(edges: Seq[(Long, Long)], k: Int, cap: Int) = {
      val es = edges.toSet
      val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val deg = nbrs.view.mapValues(_.size.toLong).toMap
      val cands = nbrs.values.toSeq.flatMap { ns =>
        // the cap: top-`cap` neighbors by (deg DESC, id ASC)
        val s = ns.toSeq.sortBy(n => (-deg(n), n)).take(cap).sorted
        for (i <- s.indices; j <- i + 1 until s.size)
          yield (s(i), s(j))
      }.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .collect { case ((u, v), cn) if !es.contains((u, v)) =>
          val j = BigInt(cn) * 1000000 / (deg(u) + deg(v) - cn)
          (u, v, cn, deg(u), deg(v), j.toLong)
        }
      cands.sortBy(c => (-c._6, -c._3, c._1, c._2)).take(k)
    }
    // hub 1 has nbrs {2,3,4}; at cap=2 only {2,3} survive (deg order
    // 2:2, 3:1, 4:1 — id breaks the 3-vs-4 tie), so wedge (2,3) is
    // kept but (2,4)/(3,4) — present UNCAPPED — disappear
    val fx = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 5L))
    val got = collect6(Graph.linkPredictionCappedOf(
      fx.toDF("u", "v"), 20, 2))
    assert(got == replay(fx, 20, 2), s"$got != ${replay(fx, 20, 2)}")
    assert(got == Seq((2L, 3L, 1L, 2L, 1L, 500000L),
      (1L, 5L, 1L, 3L, 1L, 333333L)), got.mkString(";"))
    CachedStages.release(spark)
    // the cap binds: the uncapped q233 result on the same graph has
    // strictly more candidates
    val uncapped = collect6(Graph.linkPredictionOf(
      fx.toDF("u", "v"), 20))
    assert(uncapped.size > got.size, uncapped.mkString(";"))
    assert(uncapped.exists(r => r._1 == 2L && r._2 == 4L), uncapped)
    CachedStages.release(spark)
    // graded replay: canonical co-purchase edges off raw lineitem at
    // the graded cap
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size)
        yield (ps(i), ps(j))
    }.toSeq.distinct
    val graded = collect6(Graph.linkPredictionCapped(spark, dir, 20, 32))
    assert(graded == replay(edges, 20, 32), s"${graded.take(3)}")
    CachedStages.release(spark)
  }
  test("q252/q253 spotify flatten: golden rows off the committed " +
    "fixture — every transform.py default rule visible") {
    val q = graft.SparkEntry.queries
    val merged = q("q252_spotify_flatten")(spark, dir).collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).toList)
    // trk2: null artist name → "Unknown Artist"; missing explicit →
    // false; trk3: empty artists → ""; no feature row → nulls
    assert(merged.toList == List(
      List("trk1", "Opener", "alb1", "Main Artist", 1, 201000L, true,
        "https://open.spotify.com/track/trk1", "2026-01-01",
        0.61, 0.8, -5.2, 120.5),
      List("trk2", "No Explicit Flag", "alb1",
        "Unknown Artist, Second Artist", 2, 185000L, false,
        "https://open.spotify.com/track/trk2", "2026-01-01",
        0.3, 0.42, -9.8, 86.0),
      List("trk3", "Orphan Track", "alb2", "", 1, 95000L, false,
        "https://open.spotify.com/track/trk3", "2026-01-01",
        null, null, null, null)), merged.mkString(";"))
    // alb2: empty artists → null main_artist_id/name; null details →
    // "" genres; missing popularity → 0
    val albums = q("q253_spotify_albums")(spark, dir).collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).toList)
    assert(albums.toList == List(
      List("alb1", "First Album", "album", "2024-03-15", 2, 77,
        "art1", "Main Artist", "rock, indie pop",
        "https://img/alb1.jpg", "https://open.spotify.com/album/alb1",
        "2026-01-01"),
      List("alb2", "Edge Album", "single", "1999", 1, 0, null, null,
        "", null, "https://open.spotify.com/album/alb2",
        "2026-01-01")), albums.mkString(";"))
    CachedStages.release(spark)
  }
  test("q254 lagged spearman: hand anti-monotone tie fixture exact; " +
    "graded replay") {
    import spark.implicits._
    def collect9(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        r.getLong(8))).toSeq
    val crit = Events.Chi2Crit95Ppm.head
    def replay(daily: Seq[(String, Long, Long)], maxLag: Int) = {
      val types = daily.map(_._1).distinct.sorted
      val mn = daily.map(_._2).min; val mx = daily.map(_._2).max
      val cents = daily.map(d => (d._1, d._2) -> d._3).toMap
      def mr2(vs: Seq[Long]): Seq[Long] = {
        val grp = vs.groupBy(identity).view.mapValues(_.size).toMap
        var cum = 0L
        val m = grp.keys.toSeq.sorted.map { v =>
          val c = grp(v); cum += c; v -> (2 * (cum - c) + c + 1)
        }.toMap
        vs.map(m)
      }
      val rows = for {
        i <- types.indices; j <- i + 1 until types.size
        lag <- (-maxLag to maxLag)
      } yield {
        val (ta, tb) = (types(i), types(j))
        val days = (mn.max(mn - lag)) to (mx.min(mx - lag))
        val xs = days.map(d => cents.getOrElse((ta, d), 0L))
        val ys = days.map(d => cents.getOrElse((tb, d + lag), 0L))
        val n = days.size
        val (rx, ry) = (mr2(xs), mr2(ys))
        val mxm = rx.map(BigInt(_)).sum * 1000 / n
        val mym = ry.map(BigInt(_)).sum * 1000 / n
        val dx = rx.map(r => BigInt(r) * 1000 - mxm)
        val dy = ry.map(r => BigInt(r) * 1000 - mym)
        val covM = dx.zip(dy).map { case (a, b) => a * b }.sum / n
        val vxM = dx.map(a => a * a).sum / n
        val vyM = dy.map(a => a * a).sum / n
        val rho2 = if (vxM * vyM == 0) None
          else Some((covM * covM * 1000000 / (vxM * vyM)).toLong)
        (ta, tb, lag.toLong, n.toLong, covM.signum.toLong, rho2,
          rho2.map(_ * (n - 1)),
          rho2.map(r => if (r * (n - 1) > crit) 1L else 0L))
      }
      rows.groupBy(r => (r._1, r._2)).values.toSeq.flatMap { g =>
        val peak = g.sortBy(r => (-r._6.getOrElse(-1L), r._3)).head._3
        g.map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8,
          if (r._3 == peak) 1L else 0L))
      }.sortBy(r => (r._1, r._2, r._3))
    }
    // x ramps up, y ramps down with a TIE (two 30s): lag 0 is the
    // hand-derived rho2 = 900000 (ranks (2,4,6,8) vs (8,5,5,2)),
    // lags ±1 both 750000 — the peak pick lands on lag 0
    val fx = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("a", 4L, 40L), ("b", 1L, 40L), ("b", 2L, 30L), ("b", 3L, 30L),
      ("b", 4L, 10L))
    val got = collect9(RankTests.laggedSpearmanOf(
      fx.toDF("event_type", "day", "cents"), 1))
    assert(got == replay(fx, 1), s"$got != ${replay(fx, 1)}")
    assert(got == Seq(
      ("a", "b", -1L, 3L, -1L, Some(750000L), Some(1500000L),
        Some(0L), 0L),
      ("a", "b", 0L, 4L, -1L, Some(900000L), Some(2700000L),
        Some(0L), 1L),
      ("a", "b", 1L, 3L, -1L, Some(750000L), Some(1500000L),
        Some(0L), 0L)), got.mkString(";"))
    CachedStages.release(spark)
    // constant series → NULL rho2, sign 0, peak falls to smallest lag
    val cfx = Seq(("a", 1L, 5L), ("a", 2L, 7L), ("c", 1L, 3L),
      ("c", 2L, 3L))
    val gotC = collect9(RankTests.laggedSpearmanOf(
      cfx.toDF("event_type", "day", "cents"), 1))
    assert(gotC == replay(cfx, 1), s"$gotC != ${replay(cfx, 1)}")
    assert(gotC.forall(r => r._5 == 0L && r._6.isEmpty), gotC)
    assert(gotC.filter(_._9 == 1L).map(_._3) == Seq(-1L), gotC)
    CachedStages.release(spark)
    // graded replay off raw events at the graded maxLag
    val evs = Events.events(spark, dir)
      .selectExpr("event_type", "ts_sec div 86400 AS day",
        "CAST(CAST(value AS DECIMAL(12, 2)) * 100 AS BIGINT) AS c")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val daily = evs.groupBy(e => (e._1, e._2)).toSeq
      .map { case ((t, d), g) => (t, d, g.map(_._3).sum) }
    val graded = collect9(RankTests.laggedSpearman(spark, dir, 3))
    assert(graded == replay(daily, 3), s"${graded.take(3)}")
    CachedStages.release(spark)
  }
  test("q255 truncated recall: hand prefix-flip fixture exact; " +
    "graded replay") {
    import spark.implicits._
    def collect6(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // probe [1,1,0,1]: full-dim winner is [1,0,0,1] (cos .816 vs
    // .333) but the 2-dim PREFIX winner flips to [1,1,0,-1] (prefix
    // cos 1 vs .707) — recall@1 is 0 at m=2, 1 at m=4
    val fx = Seq(
      (0L, Seq(1f, 1f, 0f, 1f)),
      (10L, Seq(1f, 0f, 0f, 1f)),
      (11L, Seq(1f, 1f, 0f, -1f)))
    val got = collect6(Similarity.truncatedRecallOf(
      fx.toDF("vec_id", "v"), 1, Seq(2, 4)))
    assert(got == Seq(("m02", 2L, 1L, 1L, 0L, 0L),
      ("m04", 4L, 1L, 1L, 1L, 1000000L)), got.mkString(";"))
    CachedStages.release(spark)
    // graded replay: driver-side exact recompute — same fold order,
    // java BigDecimal.valueOf round (Spark Round's own double path)
    val vecs = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def topk(m: Int, k: Int): Set[(Long, Long)] =
      vecs.filter(_._1 < 8).flatMap { case (q, qv) =>
        vecs.filter(_._1 != q).map { case (vid, v) =>
          var xy = 0.0; var xx = 0.0; var yy = 0.0
          var i = 0
          while (i < m) {
            val x = qv(i).toDouble; val y = v(i).toDouble
            xy += x * y; xx += x * x; yy += y * y; i += 1
          }
          val c = java.math.BigDecimal
            .valueOf(xy / (math.sqrt(xx) * math.sqrt(yy)))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          (vid, c)
        }.sortBy(p => (-p._2, p._1)).take(k).map(p => (q, p._1))
      }.toSet
    val exact = topk(64, 5)
    val graded = collect6(Similarity.truncatedRecall(spark, dir))
    assert(graded.map(_._2) == Seq(8L, 16L, 32L, 64L), graded)
    for (m <- Seq(8, 16, 32, 64)) {
      val hits = (topk(m, 5) & exact).size.toLong
      val row = graded.find(_._2 == m).get
      assert(row._3 == 8L && row._4 == 40L && row._5 == hits &&
        row._6 == hits * 1000000L / 40L, s"m=$m $row hits=$hits")
    }
    // the control row is total recall; no arm beats it
    assert(graded.find(_._2 == 64L).get._6 == 1000000L)
    assert(graded.forall(_._6 <= 1000000L))
    CachedStages.release(spark)
  }
  test("q256 friedman: hand blocked ranks incl. tie + dropped " +
    "incomplete block exact; graded replay") {
    import spark.implicits._
    def collect9(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        if (r.isNullAt(8)) None else Some(r.getLong(8)))).toSeq
    def replay(obs: Seq[(String, String, Long)]) = {
      val cells = obs.groupBy(o => (o._1, o._2)).view
        .mapValues(_.map(_._3).sum).toMap
      val k = cells.keys.map(_._2).toSet.size
      val totalBlocks = cells.keys.map(_._1).toSet.size.toLong
      val complete = cells.keys.map(_._1).toSeq.distinct
        .filter(b => cells.keys.count(_._1 == b) == k).sorted
      val treats = cells.keys.map(_._2).toSeq.distinct.sorted
      def mr2(b: String): Map[String, Long] = {
        val vs = treats.map(t => t -> cells((b, t)))
        val grp = vs.groupBy(_._2).view.mapValues(_.size).toMap
        var cum = 0L
        val m = grp.keys.toSeq.sorted.map { v =>
          val c = grp(v); cum += c; v -> (2 * (cum - c) + c + 1)
        }.toMap
        vs.map { case (t, v) => t -> m(v) }.toMap
      }
      val ranks = complete.map(mr2)
      val n = complete.size.toLong
      val s2 = treats.map(t => t -> ranks.map(_(t)).sum).toMap
      val sumSq = ranks.flatMap(_.values)
        .map(r => BigInt(r) * r).sum
      val devSq = treats.map(t =>
        BigInt(s2(t) - n * (k + 1)) * (s2(t) - n * (k + 1))).sum
      val den = sumSq - BigInt(n) * k * (k + 1) * (k + 1)
      val stat = if (den == 0) None
        else Some((BigInt(k - 1) * devSq * 1000000 / den).toLong)
      val crit = Events.Chi2Crit95Ppm.lift(k - 2)
      treats.map { t =>
        (t, n, totalBlocks, s2(t), s2(t) * 1000 / (2 * n),
          (k - 1).toLong, stat, crit,
          (stat, crit) match {
            case (Some(s), Some(c)) => Some(if (s > c) 1L else 0L)
            case _ => None
          })
      }
    }
    // b1/b2: A beats B; b3: exact tie (midranks 3,3); b4 incomplete
    // (dropped) — hand chain gives chi2 = 8/4 = 2.0 exactly
    val fx = Seq(("b1", "A", 10L), ("b1", "B", 5L),
      ("b2", "A", 10L), ("b2", "B", 5L),
      ("b3", "A", 7L), ("b3", "B", 7L),
      ("b4", "A", 1L))
    val got = collect9(RankTests.friedmanOf(
      fx.toDF("block", "treatment", "v")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got == Seq(
      ("A", 3L, 4L, 11L, 1833L, 1L, Some(2000000L), Some(3841459L),
        Some(0L)),
      ("B", 3L, 4L, 7L, 1166L, 1L, Some(2000000L), Some(3841459L),
        Some(0L))), got.mkString(";"))
    CachedStages.release(spark)
    // all-tied blocks: zero denominator surfaces a NULL verdict
    val tfx = Seq(("b1", "A", 5L), ("b1", "B", 5L),
      ("b2", "A", 3L), ("b2", "B", 3L))
    val gotT = collect9(RankTests.friedmanOf(
      tfx.toDF("block", "treatment", "v")))
    assert(gotT == replay(tfx), s"$gotT != ${replay(tfx)}")
    assert(gotT.forall(r => r._7.isEmpty && r._9.isEmpty), gotT)
    CachedStages.release(spark)
    // graded replay off raw orders
    val obs = Tables(spark, dir, "orders").selectExpr(
      "substring(CAST(o_orderdate AS STRING), 1, 7)",
      "o_orderpriority",
      "CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100 AS BIGINT)")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val graded = collect9(RankTests.friedman(spark, dir))
    assert(graded == replay(obs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q257 sampled hubness: hash-rule sample + graded replay over " +
    "exactly the sampled ids") {
    import spark.implicits._
    // the draw is the pinned Knuth hash — replay the rule
    def kept(id: Long): Boolean =
      (id * 2654435761L) % 4294967296L < 1073741824L
    val vs = Similarity.rawVectors(spark, dir)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .filter(p => kept(p._1))
    // a real, non-degenerate sample: neither empty nor the corpus
    val all = Similarity.rawVectors(spark, dir).count()
    assert(vs.nonEmpty && vs.length < all, s"${vs.length} of $all")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) {
        xy += a(i).toDouble * b(i); xx += a(i).toDouble * a(i)
        yy += b(i).toDouble * b(i); i += 1
      }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP)
    val nk = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    vs.foreach { case (q, qv) =>
      vs.filter(_._1 != q)
        .map { case (i, v) => (r6(cos(qv, v)), i) }
        .sortBy { case (c, i) => (-c, i) }.take(5)
        .foreach { case (_, i) => nk(i) += 1L }
    }
    val perVec = vs.map(v => nk(v._1))
    val nVecs = vs.length.toLong
    val orphanPpm = perVec.count(_ == 0L) * 1000000L / nVecs
    val maxNk = perVec.max
    val hubId = vs.map(_._1).filter(i => nk(i) == maxNk).min
    val expect = perVec.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, g) =>
        (k, g.size.toLong, nVecs, orphanPpm, maxNk, hubId)
      }
    val got = Similarity.knnHubnessSampled(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    assert(got.head._3 == nVecs)
    CachedStages.release(spark)
  }
  test("q258 ndcg: hand ranking with pinned discounts exact; no-" +
    "relevant probe NULL; graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toSeq
    // probe 0 (label 1): hits at ranks 1 and 3 of k=3 →
    // DCG = 1000000 + 500000; R = 2 → IDCG = 1000000 + 630930;
    // nDCG = 1.5e12 div 1630930 = 919720. probe 1 (label 9): no
    // other label-9 doc → NULL, excluded from the mean.
    val fx = Seq(
      (0L, 1, Seq(1f, 0f)), (1L, 9, Seq(-1f, 0f)),
      (10L, 1, Seq(1f, 0f)), (11L, 2, Seq(1f, 1f)),
      (12L, 1, Seq(0f, 1f)))
    val got = collect8(Similarity.ndcgAtKOf(
      fx.toDF("vec_id", "label", "v"), 3))
    assert(got == Seq(
      (0L, 1, 3L, 2L, 1500000L, 1630930L, Some(919720L),
        Some(919720L)),
      (1L, 9, 3L, 0L, 0L, 0L, None, Some(919720L))),
      got.mkString(";"))
    CachedStages.release(spark)
    // graded replay: driver-side exact recompute with the pinned
    // weight table over the audited ranking
    val vs = Similarity.rawVectors(spark, dir)
      .select("vec_id", "label", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) {
        xy += a(i).toDouble * b(i); xx += a(i).toDouble * a(i)
        yy += b(i).toDouble * b(i); i += 1
      }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP)
    val ws = Similarity.DcgWeightMicro
    val labelN = vs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val per = vs.filter(_._1 < 8).sortBy(_._1).map { case (q, ql, qv) =>
      val ranked = vs.filter(_._1 != q)
        .map { case (i, l, v) => (r6(cos(qv, v)), i, l) }
        .sortBy { case (c, i, _) => (-c, i) }.take(10)
      val dcg = ranked.zipWithIndex.collect {
        case ((_, _, l), idx) if l == ql => ws(idx)
      }.sum
      val nRel = labelN(ql) - 1
      val idcg = ws.take(math.min(nRel, 10L).toInt).sum
      val ndcg = if (idcg == 0) None
        else Some(BigInt(dcg) * 1000000 / idcg)
      (q, ql, nRel, dcg, idcg, ndcg.map(_.toLong))
    }
    val rel = per.filter(_._3 > 0).flatMap(_._6)
    val mean = if (rel.isEmpty) None
      else Some(rel.map(BigInt(_)).sum / rel.length)
    val graded = collect8(Similarity.ndcgAtK(spark, dir))
    assert(graded == per.map(p => (p._1, p._2, 10L, p._3, p._4, p._5,
      p._6, mean.map(_.toLong))).toSeq, s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q259 page trend: perfect monotone hand case z2 exactly 4; " +
    "graded replay") {
    import spark.implicits._
    def collect10(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        r.getLong(8),
        if (r.isNullAt(9)) None else Some(r.getLong(9)))).toSeq
    val crit = Events.Chi2Crit95Ppm.head
    def replay(obs: Seq[(String, String, Long)]) = {
      val cells = obs.groupBy(o => (o._1, o._2)).view
        .mapValues(_.map(_._3).sum).toMap
      val k = cells.keys.map(_._2).toSet.size
      val totalBlocks = cells.keys.map(_._1).toSet.size.toLong
      val complete = cells.keys.map(_._1).toSeq.distinct
        .filter(b => cells.keys.count(_._1 == b) == k).sorted
      val treats = cells.keys.map(_._2).toSeq.distinct.sorted
      def mr2(b: String): Map[String, Long] = {
        val vs = treats.map(t => t -> cells((b, t)))
        val grp = vs.groupBy(_._2).view.mapValues(_.size).toMap
        var cum = 0L
        val m = grp.keys.toSeq.sorted.map { v =>
          val c = grp(v); cum += c; v -> (2 * (cum - c) + c + 1)
        }.toMap
        vs.map { case (t, v) => t -> m(v) }.toMap
      }
      val ranks = complete.map(mr2)
      val n = complete.size.toLong
      val s2 = treats.map(t => t -> ranks.map(_(t)).sum).toMap
      val l2 = treats.zipWithIndex
        .map { case (t, i) => BigInt(i + 1) * s2(t) }.sum
      val dev = 2 * l2 - BigInt(n) * k * (k + 1) * (k + 1)
      val den = BigInt(n) * k * k * (k * k - 1) * (k + 1)
      val z2 = if (den == 0) None
        else Some((9 * dev * dev * 1000000 / den).toLong)
      treats.zipWithIndex.map { case (t, i) =>
        (t, (i + 1).toLong, n, totalBlocks, s2(t), l2.toLong,
          dev.signum.toLong, z2, crit,
          z2.map(z => if (z > crit) 1L else 0L))
      }
    }
    // two blocks, both perfectly increasing A<B<C: L hits its
    // maximum, z = 2 exactly → z2_micro 4000000, significant
    val fx = Seq(("b1", "A", 1L), ("b1", "B", 2L), ("b1", "C", 3L),
      ("b2", "A", 10L), ("b2", "B", 20L), ("b2", "C", 30L))
    val got = collect10(RankTests.pageTrendOf(
      fx.toDF("block", "treatment", "v")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    assert(got == Seq(
      ("A", 1L, 2L, 2L, 4L, 56L, 1L, Some(4000000L), crit, Some(1L)),
      ("B", 2L, 2L, 2L, 8L, 56L, 1L, Some(4000000L), crit, Some(1L)),
      ("C", 3L, 2L, 2L, 12L, 56L, 1L, Some(4000000L), crit,
        Some(1L))), got.mkString(";"))
    CachedStages.release(spark)
    // reversed order flips the sign, same magnitude
    val rfx = fx.map { case (b, t, v) => (b, t, 100L - v) }
    val gotR = collect10(RankTests.pageTrendOf(
      rfx.toDF("block", "treatment", "v")))
    assert(gotR == replay(rfx), s"$gotR")
    assert(gotR.head._7 == -1L &&
      gotR.head._8 == Some(4000000L), gotR.head)
    CachedStages.release(spark)
    // graded replay off raw orders
    val obs = Tables(spark, dir, "orders").selectExpr(
      "substring(CAST(o_orderdate AS STRING), 1, 7)",
      "o_orderpriority",
      "CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100 AS BIGINT)")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val graded = collect10(RankTests.pageTrend(spark, dir))
    assert(graded == replay(obs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q260 cliffs delta: hand dominance/tie case exact; swap " +
    "antisymmetry; graded replay") {
    import spark.implicits._
    def collect9(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        if (r.isNullAt(8)) None else Some(r.getString(8)))).toSeq
    def replay(obs: Seq[(String, Long)], a: String, b: String) = {
      val xs = obs.filter(_._1 == a).map(_._2)
      val ys = obs.filter(_._1 == b).map(_._2)
      val gt = (for (x <- xs; y <- ys if x > y) yield 1L).sum
      val lt = (for (x <- xs; y <- ys if x < y) yield 1L).sum
      val tie = (for (x <- xs; y <- ys if x == y) yield 1L).sum
      val nA = xs.size.toLong; val nB = ys.size.toLong
      val delta = if (nA * nB == 0) None
        else Some((BigInt(gt - lt) * 1000000 / (BigInt(nA) * nB)).toLong)
      val mag = delta.map(d =>
        if (math.abs(d) < 147000) "negligible"
        else if (math.abs(d) < 330000) "small"
        else if (math.abs(d) < 474000) "medium" else "large")
      Seq((a, b, nA, nB, gt, lt, tie, delta, mag))
    }
    // A={1,2} vs B={1,0}: 3 wins, 0 losses, 1 tie → δ = 750000, large
    val fx = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 0L))
    val got = collect9(RankTests.cliffsDeltaOf(
      fx.toDF("g", "v"), "A", "B"))
    assert(got == replay(fx, "A", "B"), s"$got")
    assert(got == Seq(("A", "B", 2L, 2L, 3L, 0L, 1L, Some(750000L),
      Some("large"))), got.mkString(";"))
    // antisymmetry: swapping the groups negates δ exactly
    val gotSwap = collect9(RankTests.cliffsDeltaOf(
      fx.toDF("g", "v"), "B", "A"))
    assert(gotSwap.head._8 == Some(-750000L) &&
      gotSwap.head._9 == Some("large"), gotSwap.head)
    CachedStages.release(spark)
    // missing group → NULL δ and magnitude
    val gotNull = collect9(RankTests.cliffsDeltaOf(
      fx.filter(_._1 == "A").toDF("g", "v"), "A", "B"))
    assert(gotNull.head._8.isEmpty && gotNull.head._9.isEmpty, gotNull)
    CachedStages.release(spark)
    // graded replay off raw orders (whole-dollar quantization)
    val obs = Tables(spark, dir, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderpriority")
        .isin("1-URGENT", "5-LOW"))
      .selectExpr("o_orderpriority",
        """CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100 AS BIGINT)
          | div 100""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val graded = collect9(RankTests.cliffsDelta(spark, dir))
    assert(graded == replay(obs, "1-URGENT", "5-LOW"), s"$graded")
    CachedStages.release(spark)
  }
  test("q261 minhash accuracy: full driver-side md5 replay; " +
    "conditioning bias visible") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val tokRe = "[a-z0-9]+".r
    def shingles(text: String): Set[String] = {
      val toks = tokRe.findAllIn(text.toLowerCase).toIndexedSeq
      if (toks.size < 3) Set.empty
      else (0 to toks.size - 3)
        .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").toSet
    }
    val base = Tables(spark, dir, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val corpus = base ++ base.filter(_._1 % 100 == 0)
      .map(p => (p._1 + 1000000L, p._2 + " qq ww ee"))
    val sigs = corpus.map(_._2).distinct.map { t =>
      val sh = shingles(t)
      val mh = (0 until 4).map(k =>
        if (sh.isEmpty) null
        else sh.map(s => md5hex(s"seed$k" + s)).min)
      (md5hex(t), sh, mh)
    }
    val buckets = sigs.flatMap { case (cid, _, mh) =>
      mh.zipWithIndex.collect { case (h, b) if h != null => (b, h, cid) }
    }.groupBy(p => (p._1, p._2)).values
    val cand = buckets.flatMap { g =>
      val cs = g.map(_._3).distinct.sorted
      for (i <- cs.indices; j <- i + 1 until cs.size)
        yield (cs(i), cs(j))
    }.toSet
    val byCid = sigs.map(s => s._1 -> s).toMap
    val scored = cand.toSeq.map { case (ca, cb) =>
      val (_, sa, ma) = byCid(ca); val (_, sb, mb) = byCid(cb)
      val matches = (0 until 4).count(k => ma(k) == mb(k)).toLong
      val inter = (sa & sb).size.toLong
      val exact = inter * 1000000L / (sa.size + sb.size - inter)
      (matches, matches * 250000L, matches * 250000L - exact, exact)
    }
    val mae = scored.map(s => math.abs(s._3)).sum / scored.size
    val bias = scored.map(_._3).sum / scored.size
    val expect = scored.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (m, g) =>
        (m, m * 250000L, g.size.toLong,
          g.map(_._4).sum / g.size, g.map(_._3).sum / g.size,
          g.map(s => math.abs(s._3)).sum / g.size,
          g.map(_._4).min, g.map(_._4).max, mae, bias)
      }
    val got = Dedup.minhashAccuracy(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getLong(9))).toSeq
    assert(got == expect, s"${got.take(2)} != ${expect.take(2)}")
    // the documented conditioning bias: every candidate shares >= 1
    // band, and sketch error shrinks as match count rises
    assert(got.forall(r => r._1 >= 1L && r._1 <= 4L), got)
    assert(got.head._9 > 0L, got.head)
    val m4 = got.find(_._1 == 4L)
    assert(m4.forall(_._6 < got.head._6), s"$m4 vs ${got.head}")
    CachedStages.release(spark)
  }
  test("q262 competing risks: hand AJ chain exact incl. tie rule; " +
    "mass conservation; graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    def replay(evs: Seq[(Long, Long, String)], a: String, b: String) = {
      val maxDay = evs.map(_._2 / 86400).max
      val rows = evs.groupBy(_._1).values.toSeq.map { g =>
        val first = g.map(_._2 / 86400).min
        val da = g.filter(_._3 == a).map(_._2 / 86400)
          .sorted.headOption
        val db = g.filter(_._3 == b).map(_._2 / 86400)
          .sorted.headOption
        val ea = da.isDefined && db.forall(da.get <= _)
        val eb = db.isDefined && !ea
        val t = if (ea || eb) math.min(da.getOrElse(Long.MaxValue),
          db.getOrElse(Long.MaxValue)) - first
        else maxDay - first
        (t, if (ea) 1L else 0L, if (eb) 1L else 0L)
      }
      val hist = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (t, g) => (t, g.map(_._2).sum, g.map(_._3).sum,
          g.size.toLong - g.map(_._2).sum - g.map(_._3).sum,
          g.size.toLong)
      }
      val nTotal = hist.map(_._5).sum
      var before = 0L
      var surv = BigInt(1000000); var ca = BigInt(0); var cb = BigInt(0)
      hist.map { case (t, da, db, c, nt) =>
        val n = nTotal - before; before += nt
        ca += surv * da / n; cb += surv * db / n
        surv = surv * (n - da - db) / n
        (t, n, da, db, c, surv.toLong, ca.toLong, cb.toLong)
      }
    }
    // u1 error@1, u2 purchase@1, u3 BOTH@2 (tie → cause a), u4
    // censored at the window end — every chain value hand-derived
    val fx = Seq(
      (1L, 0L, "view"), (1L, 86400L, "error"),
      (2L, 0L, "view"), (2L, 86400L, "purchase"),
      (3L, 0L, "view"), (3L, 172800L, "error"),
      (3L, 172800L, "purchase"),
      (4L, 0L, "view"), (4L, 259200L, "view"))
    val got = collect8(Events.competingRisksOf(
      fx.toDF("user_id", "ts_sec", "event_type"), "error", "purchase"))
    assert(got == replay(fx, "error", "purchase"), s"$got")
    assert(got == Seq(
      (1L, 4L, 1L, 1L, 0L, 500000L, 250000L, 250000L),
      (2L, 2L, 1L, 0L, 0L, 250000L, 500000L, 250000L),
      (3L, 1L, 0L, 0L, 1L, 250000L, 500000L, 250000L)),
      got.mkString(";"))
    CachedStages.release(spark)
    // graded replay off raw events + the AJ conservation law:
    // surv + cif_a + cif_b never exceeds 10^6 (floors only lose mass)
    val evs = Events.events(spark, dir)
      .selectExpr("user_id", "ts_sec", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val graded = collect8(Events.competingRisks(spark, dir))
    assert(graded == replay(evs, "error", "purchase"),
      s"${graded.take(3)}")
    graded.foreach { r =>
      assert(r._6 + r._7 + r._8 <= 1000000L, r)
      assert(r._6 + r._7 + r._8 >= 1000000L - 3L * graded.size, r)
    }
    CachedStages.release(spark)
  }
  test("q263 gate ablation: hand mask matrix exact incl. sole-" +
    "removal; graded replay") {
    import spark.implicits._
    def collect12(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 until 12).map(i => r.getLong(i)).toList).toSeq
    val stop = Seq("the", "a", "of", "and", "is", "to", "in")
    val tokRe = "[a-z0-9]+".r
    def replay(docs: Seq[(Long, String)]) = {
      val flags = docs.map { case (_, text) =>
        val toks = tokRe.findAllIn(text.toLowerCase).toIndexedSeq
        val n = toks.size.toLong
        val chars = toks.map(_.length.toLong).sum
        val alpha = toks.count(_.exists(_.isLetter)).toLong
        val nStop = stop.count(toks.contains).toLong
        val rc = if (n >= 25 && n <= 100000) 1L else 0L
        val rw = if (chars >= n * 3 && chars <= n * 10) 1L else 0L
        val ra = if (alpha * 10 >= n * 8) 1L else 0L
        val rs = if (nStop >= 2) 1L else 0L
        (rc * 8 + rw * 4 + ra * 2 + rs, n)
      }
      val byMask = flags.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (m, g) => (m, g.size.toLong, g.map(_._2).sum) }
      def at(m: Long) = byMask.find(_._1 == m).map(_._2).getOrElse(0L)
      byMask.map { case (m, nd, nt) =>
        List(m, (m / 8) % 2, (m / 4) % 2, (m / 2) % 2, m % 2, nd, nt,
          at(15), at(7), at(11), at(13), at(14))
      }
    }
    // four hand docs: full pass; fails ONLY stop (mask 14); fails
    // ONLY count (mask 7); fails alpha+stop (mask 12)
    val passText = ("the cat sat on a mat of wool and felt warm " +
      "is to in very good shape now today ") * 2
    val noStop = ("cat sat mat wool felt warm very good shape now " +
      "today fine more words here again still going on yes ok " +
      "extra pad ") * 2
    val short = "the cat is a pet of mine and it wanders around " +
      "here daily"
    val numsNoStop = (1 to 30).map(i => s"$i$i$i").mkString(" ")
    val fx = Seq((1L, passText), (2L, noStop), (3L, short),
      (4L, numsNoStop)).map(p => (p._1, p._2, "s"))
    val got = collect12(TextOps.gateAblationOf(
      fx.toDF("doc_id", "text", "source")))
    assert(got == replay(fx.map(p => (p._1, p._2))), s"$got")
    val masks = got.map(_.head)
    assert(masks.contains(15L) && masks.contains(14L) &&
      masks.contains(7L) && masks.contains(12L), masks)
    // sole-removal: stop uniquely removes doc 2, count doc 3; alpha's
    // sole count is 0 here (doc 4 also fails stop — shadowed)
    val r = got.head
    assert(r(7) == 1L && r(8) == 1L && r(11) == 1L && r(10) == 0L, r)
    CachedStages.release(spark)
    // graded replay off raw documents
    val docs = Tables(spark, dir, "documents")
      .filter("doc_id IS NOT NULL").select("doc_id", "text").collect()
      .map(rr => (rr.getLong(0), rr.getString(1))).toSeq
    val graded = collect12(TextOps.gateAblation(spark, dir))
    assert(graded == replay(docs), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q264 theil decomposition: zero-inequality exact, hand split, " +
    "additivity law; graded replay") {
    import spark.implicits._
    def collect9(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8))).toSeq
    def dec18(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(18, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def replay(rows: Seq[(Long, Long)]) = {
      val pos = rows.filter(_._2 > 0)
      val g = pos.groupBy(_._1).view.mapValues(v =>
        (v.size.toLong, v.map(_._2).sum)).toMap
      val n = pos.size.toLong; val s = pos.map(_._2).sum
      def theil(xs: Seq[Long], nn: Long, ss: Long) =
        r6(xs.map(x => dec18((x.toDouble / ss) *
          math.log(x.toDouble * nn / ss))).sum.toDouble)
      val nations = g.keys.toSeq.sorted
      val perN = nations.map { nat =>
        val (ng, sg) = g(nat)
        val tg = theil(pos.filter(_._1 == nat).map(_._2), ng, sg)
        val bt = r6((sg.toDouble / s) *
          math.log(sg.toDouble * n / (s.toDouble * ng)))
        (nat, ng, sg, sg * 1000000L / s, tg, bt)
      }
      val between = r6(perN.map(p => dec18(p._6)).sum.toDouble)
      val within = r6(perN.map(p =>
        dec18((p._3.toDouble / s) * p._5)).sum.toDouble)
      val total = theil(pos.map(_._2), n, s)
      perN.map(p => (p._1, p._2, p._3, p._4, p._5, p._6, total,
        between, within))
    }
    // all-equal spend: every Theil quantity is exactly 0.0
    val eq = Seq((1L, 100L), (1L, 100L), (2L, 100L), (2L, 100L))
    val gotEq = collect9(Relational.theilDecompositionOf(
      eq.toDF("nation", "cents")))
    assert(gotEq == replay(eq), s"$gotEq")
    gotEq.foreach { r =>
      assert(r._5 == 0.0 && r._6 == 0.0 && r._7 == 0.0 &&
        r._8 == 0.0 && r._9 == 0.0, r)
    }
    CachedStages.release(spark)
    // equal nation means, unequal inside nation 1: between exactly 0,
    // within = total (the decomposition in its purest case)
    val fx = Seq((1L, 100L), (1L, 300L), (2L, 200L), (2L, 200L))
    val got = collect9(Relational.theilDecompositionOf(
      fx.toDF("nation", "cents")))
    assert(got == replay(fx), s"$got != ${replay(fx)}")
    val h = got.head
    assert(h._8 == 0.0 && math.abs(h._7 - h._9) < 2e-6, h)
    assert(math.abs(h._5 - 0.130812) < 1e-6, h)
    CachedStages.release(spark)
    // graded replay + the additivity law within rounding slack
    val rows = Tables(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr(
          "CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100 AS BIGINT)"))
        .as("cents"))
      .join(Tables(spark, dir, "customer")
        .selectExpr("c_custkey AS o_custkey",
          "CAST(c_nationkey AS BIGINT) AS nation"), Seq("o_custkey"))
      .select("nation", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val graded = collect9(Relational.theilDecomposition(spark, dir))
    assert(graded == replay(rows), s"${graded.take(2)}")
    val gh = graded.head
    assert(math.abs(gh._7 - (gh._8 + gh._9)) < 1e-4,
      s"additivity: ${gh._7} vs ${gh._8} + ${gh._9}")
    CachedStages.release(spark)
  }
  test("q265 label noise: planted mislabel is the suspect; random-" +
    "label null at graded scale; replay") {
    import spark.implicits._
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // two tight clusters on axes; vec 12 sits IN cluster A but wears
    // label 2 — with k=2 every neighbor disagrees → the one suspect
    val fx = Seq(
      (10L, 1, Seq(1f, 0f, 0f)), (11L, 1, Seq(0.9f, 0.1f, 0f)),
      (12L, 2, Seq(0.95f, 0.05f, 0f)),
      (20L, 2, Seq(0f, 0f, 1f)), (21L, 2, Seq(0f, 0.1f, 0.9f)))
    val got = collect7(Similarity.labelNoiseOf(spark,
      fx.toDF("vec_id", "label", "v"), 2))
    // label 1: vecs 10, 11 — each has the mislabeled 12 among its
    // top-2 (1 disagreement each); label 2: 12 (2 diff), 20/21 (the
    // axis pair agrees; their 2nd neighbor is a cluster-A vec → 1)
    val l1 = got.find(_._1 == 1).get
    val l2 = got.find(_._1 == 2).get
    assert(l1._2 == 2L && l1._3 == 2L && l1._5 == 0L, l1)
    assert(l2._2 == 3L && l2._3 == 4L && l2._5 == 1L, l2)
    assert(got.forall(r => r._6 == 1L), got)
    assert(l2._4 == 4L * 1000000L / (3L * 2L), l2)
    CachedStages.release(spark)
    // graded replay over exactly the q257 hash-sampled ids
    def kept(id: Long): Boolean =
      (id * 2654435761L) % 4294967296L < 1073741824L
    val vs = Similarity.rawVectors(spark, dir)
      .select("vec_id", "label", "v").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .filter(p => kept(p._1))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) {
        xy += a(i).toDouble * b(i); xx += a(i).toDouble * a(i)
        yy += b(i).toDouble * b(i); i += 1
      }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP)
    val per = vs.map { case (q, ql, qv) =>
      val nd = vs.filter(_._1 != q)
        .map { case (i, l, v) => (r6(cos(qv, v)), i, l) }
        .sortBy { case (c, i, _) => (-c, i) }.take(5)
        .count(_._3 != ql).toLong
      (ql, nd)
    }
    val totSus = per.count(_._2 == 5L).toLong
    val overall = per.map(_._2).sum * 1000000L / (per.length * 5L)
    val expect = per.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (l, g) =>
        (l, g.size.toLong, g.map(_._2).sum,
          g.map(_._2).sum * 1000000L / (g.size * 5L),
          g.count(_._2 == 5L).toLong, totSus, overall)
    }
    val graded = collect7(Similarity.labelNoise(spark, dir))
    assert(graded == expect, s"${graded.take(2)} != ${expect.take(2)}")
    // random labels → the honest null: disagreement near 1 - 1/10
    assert(graded.head._7 > 700000L && graded.head._7 < 1000000L,
      graded.head)
    CachedStages.release(spark)
  }
  test("q266 ivf probe sweep: nprobe=1 reconciles with q28 exactly; " +
    "monotone recall and cost") {
    import org.apache.spark.sql.functions.col
    val got = Similarity.ivfProbeSweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L), got)
    assert(got.forall(_._2 == 8L), got)
    CachedStages.release(spark)
    // the nprobe=1 arm IS q28: same hits against the exact ranking
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf1 = pairs(Similarity.ivfKnn(spark, dir))
    CachedStages.release(spark)
    val exact = pairs(Similarity.cosineTopK(spark, dir)
      .filter(col("rn") <= 3))
    CachedStages.release(spark)
    val g1 = got.find(_._1 == 1L).get
    assert(g1._4 == ivf1.size.toLong, s"$g1 vs ${ivf1.size}")
    assert(g1._5 == (ivf1 & exact).size.toLong, s"$g1")
    assert(g1._6 == g1._5 * 1000000L / g1._4, g1)
    // more probes never scan less or recall worse; never beat exact
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 >= a._3 && b._5 >= a._5, s"$a -> $b")
    }
    got.foreach(r => assert(r._6 <= 1000000L && r._5 <= r._4, r))
    CachedStages.release(spark)
  }
  test("q267 dedup scaling: md5/hash-quarter driver replay; the " +
    "sample underestimates the full rate") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val base = Tables(spark, dir, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val corpus = base ++ base.filter(_._1 % 100 == 0)
      .map(p => (p._1 + 1000000L, p._2))
    def quarter(id: Long): Long =
      (id * 2654435761L) % 4294967296L / 1073741824L
    val expect = (1L to 4L).map { f =>
      val docs = corpus.filter(d => quarter(d._1) < f)
      val groups = docs.groupBy(d => md5hex(d._2)).values.toSeq
      val nDocs = docs.size.toLong
      val nContents = groups.size.toLong
      val nDupG = groups.count(_.size > 1).toLong
      val nRed = groups.filter(_.size > 1).map(_.size - 1).sum.toLong
      (f, nDocs, nContents, nDupG, nRed, nRed * 1000000L / nDocs)
    }
    val fullPpm = expect.last._6
    val want = expect.map(e => (e._1, e._2, e._3, e._4, e._5, e._6,
      fullPpm, e._6 * 1000000L / fullPpm))
    val got = Dedup.dedupScalingCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    assert(got == want, s"$got != $want")
    // the scaling lesson: every strict sample reads UNDER the full
    // rate (pair survival is f^2), and the full row is the identity
    assert(got.last._8 == 1000000L, got.last)
    got.init.foreach(r => assert(r._8 < 1000000L, r))
    assert(got.map(_._2) == got.map(_._2).sorted, got)
    CachedStages.release(spark)
  }
  test("q268 mutual information: independence exactly 0, perfect " +
    "dependence MI = H; graded replay") {
    import spark.implicits._
    def collect11(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8),
        if (r.isNullAt(9)) None else Some(r.getDouble(9)),
        if (r.isNullAt(10)) None else Some(r.getDouble(10)))).toSeq
    def dec18(d: Double) = BigDecimal(java.math.BigDecimal.valueOf(d))
      .setScale(18, BigDecimal.RoundingMode.HALF_UP)
    def r6(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def replay(rows: Seq[(Long, String)]) = {
      val cells = rows.groupBy(identity).view.mapValues(_.size.toLong)
        .toMap
      val n = rows.size.toLong
      val cx = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val cy = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      def h(m: Map[_, Long]) = r6(m.values.map(c =>
        dec18((c.toDouble / n) * math.log(n.toDouble / c))).sum
        .toDouble)
      val hx = h(cx); val hy = h(cy); val hj = h(cells)
      val terms = cells.toSeq.sortBy(p => (p._1._1, p._1._2)).map {
        case ((x, y), c) =>
          (x, y, c, cx(x) * cy(y) / n,
            r6((c.toDouble / n) * math.log(c.toDouble * n /
              (cx(x).toDouble * cy(y)))))
      }
      val mi = r6(terms.map(t => dec18(t._5)).sum.toDouble)
      terms.map(t => (t._1, t._2, t._3, t._4, t._5, hx, hy, hj, mi,
        if (hx == 0.0) None else Some(r6(mi / hx)),
        if (hy == 0.0) None else Some(r6(mi / hy))))
    }
    // independence: p(x,y) = p(x)p(y) in every cell → every PMI term
    // and MI are exactly 0.0
    val ind = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"))
    val gotInd = collect11(Relational.mutualInformationOf(
      ind.toDF("x", "y")))
    assert(gotInd == replay(ind), s"$gotInd")
    gotInd.foreach(r => assert(r._5 == 0.0 && r._9 == 0.0, r))
    CachedStages.release(spark)
    // perfect dependence: y determines x → MI = H(x) = H(y) = ln 2,
    // both uncertainty coefficients exactly 1
    val dep = Seq((1L, "A"), (1L, "A"), (2L, "B"), (2L, "B"))
    val gotDep = collect11(Relational.mutualInformationOf(
      dep.toDF("x", "y")))
    assert(gotDep == replay(dep), s"$gotDep")
    // MI sums the ROUNDED per-cell terms (2 x 0.346574 = 0.693148),
    // one ulp6 above H's directly-rounded ln 2 = 0.693147 — the
    // pinned semantics, visible here by construction
    val d0 = gotDep.head
    assert(d0._9 == 0.693148 && d0._6 == 0.693147 &&
      d0._10 == Some(1.000001) && d0._11 == Some(1.000001), d0)
    CachedStages.release(spark)
    // graded replay off raw customers (random segments → MI near 0
    // but the chain is exact either way)
    val rows = Tables(spark, dir, "customer")
      .selectExpr("CAST(c_nationkey AS BIGINT)", "c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val graded = collect11(Relational.mutualInformation(spark, dir))
    assert(graded == replay(rows), s"${graded.take(2)}")
    // MI bounds up to per-cell rounding slack: 0 <= MI <= min(H)+eps
    val g0 = graded.head
    assert(g0._9 >= -1e-4 && g0._9 <= math.min(g0._6, g0._7) + 1e-4,
      g0)
    CachedStages.release(spark)
  }
  test("q269 source length drift: hand case where raw fires but " +
    "Bonferroni holds; graded replay") {
    import spark.implicits._
    def collect10(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        r.getLong(8),
        if (r.isNullAt(9)) None else Some(r.getLong(9)))).toSeq
    def replay(lens: Seq[(String, Long)]) = {
      val srcs = lens.map(_._1).distinct.sorted
      val m = srcs.size
      val vs = lens.map(_._2).distinct.sorted
      val n = lens.size.toLong
      srcs.map { s =>
        val na = lens.count(_._1 == s).toLong
        val nb = n - na
        val gaps = vs.map { v =>
          val ca = lens.count(p => p._1 == s && p._2 <= v).toLong
          val cb = lens.count(p => p._1 != s && p._2 <= v).toLong
          (v, (BigInt(ca) * nb - BigInt(cb) * na).abs)
        }
        val dm = gaps.map(_._2).max
        val vAt = gaps.filter(_._2 == dm).map(_._1).min
        val dppm = (dm * 1000000 / (BigInt(na) * nb)).toLong
        def sig(crit: Long) =
          if (BigInt(dppm) * dppm * na * nb >
            BigInt(crit) * (na + nb) * 1000000) 1L else 0L
        (s, na, nb, dppm, vAt, m.toLong, RankTests.KsCrit2Micro,
          Some(sig(RankTests.KsCrit2Micro)),
          RankTests.KsCrit2MicroByM(m - 1),
          Some(sig(RankTests.KsCrit2MicroByM(m - 1))))
      }
    }
    // D = 0.45 with n = 20 vs 20 sits EXACTLY between the raw
    // (d > .429) and m=2 Bonferroni (d > .468) thresholds — the
    // multiple-testing case the screen exists for
    val fx = (1 to 9).map(i => ("A", s"x$i")) ++
      (1 to 11).map(i => ("A", s"x$i y z")) ++
      (1 to 20).map(i => ("B", s"p$i q r"))
    val lens = fx.map(p => (p._1,
      "[a-z0-9]+".r.findAllIn(p._2.toLowerCase).size.toLong))
    val got = collect10(RankTests.sourceLengthDriftOf(
      fx.map(p => (p._1, p._2)).toDF("source", "text")
        .selectExpr("source",
          s"CAST(size(${TextOps.tokensExpr}) AS BIGINT) AS v")))
    assert(got == replay(lens), s"$got != ${replay(lens)}")
    got.foreach { r =>
      assert(r._4 == 450000L && r._5 == 1L, r)
      assert(r._8 == Some(1L) && r._10 == Some(0L), r)
    }
    CachedStages.release(spark)
    // graded replay off raw documents
    val gl = Tables(spark, dir, "documents")
      .filter("doc_id IS NOT NULL")
      .selectExpr("source",
        s"CAST(size(${TextOps.tokensExpr}) AS BIGINT) AS v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val graded = collect10(RankTests.sourceLengthDrift(spark, dir))
    assert(graded == replay(gl), s"${graded.take(2)}")
    CachedStages.release(spark)
  }
  test("q270 join advisor: exact width-model replay; the pick is " +
    "the argmin; amortization integer-exact") {
    import org.apache.spark.sql.types.StringType
    def measured(t: String): (Long, Long) = {
      val df = Tables(spark, dir, t)
      val strCols = df.schema.fields.filter(_.dataType == StringType)
        .map(_.name)
      val fixed = (df.schema.fields.length - strCols.length) * 8L
      val rows = df.select(strCols.map(
        org.apache.spark.sql.functions.col): _*).collect()
      val bytes = rows.map { r =>
        fixed + strCols.indices.map(i =>
          (if (r.isNullAt(i)) 0L else r.getString(i).length.toLong)
            + 4L).sum
      }.sum
      (rows.length.toLong, bytes)
    }
    val m = Map("customer" -> measured("customer"),
      "orders" -> measured("orders"),
      "lineitem" -> measured("lineitem"),
      "part" -> measured("part"))
    val joins = Seq(("customer_orders", "customer", "orders"),
      ("orders_lineitem", "orders", "lineitem"),
      ("part_lineitem", "part", "lineitem"))
    val expect = joins.map { case (name, lt, rt) =>
      val (nl, bl) = m(lt); val (nr, br) = m(rt)
      val build = math.min(bl, br)
      val shuffle = bl + br
      val bcast = if (build <= Stats.BroadcastThresholdBytes)
        Some(build * Stats.AdvisorExecutors) else None
      val chosen = if (bcast.exists(_ < shuffle)) "broadcast"
        else "shuffle"
      val moved = if (chosen == "broadcast") bcast.get else shuffle
      (name, nl, nr, bl, br, build, shuffle, bcast, chosen, moved,
        shuffle, (shuffle + moved - 1) / moved)
    }
    val got = Stats.joinAdvisor(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        r.getString(8), r.getLong(9), r.getLong(10),
        r.getLong(11))).toSeq
    assert(got == expect, s"$got != $expect")
    // the pick is the argmin of the feasible strategies
    got.foreach { r =>
      assert(r._10 == math.min(r._7, r._8.getOrElse(Long.MaxValue)), r)
      assert(r._12 >= 1L, r)
    }
    CachedStages.release(spark)
  }
  test("q224 calibration: hand bands incl. tie-combo, ECE exact; " +
    "graded replay") {
    import spark.implicits._
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // q219's fixture: separable nations score conf=750000 and are
    // always right (gap 250000 — UNDERconfident); the tied nation
    // scores 500000 and is right half the time (gap 0 — perfectly
    // calibrated); ECE = 4*250000 div 6 = 166666.
    val fx = Seq((1L, 1L, "A"), (1L, 1L, "A"), (2L, 1L, "B"),
      (2L, 1L, "B"), (3L, 1L, "A"), (3L, 1L, "B"))
    val got = collect7(Features.nbCalibrationOf(
      fx.toDF("nat", "sign", "seg")))
    assert(got == Seq((5L, 2L, 1L, 500000L, 500000L, 0L, 166666L),
      (7L, 4L, 4L, 750000L, 1000000L, 250000L, 166666L)),
      got.mkString(";"))
    CachedStages.release(spark)
    // graded replay in BigInt off the same model arithmetic as q219
    val rows = Tables(spark, dir, "customer")
      .select("c_nationkey", "c_acctbal", "c_mktsegment").collect()
      .map(r => (r.getAs[Number](0).longValue,
        if (r.getDouble(1) >= 0) 1L else 0L, r.getString(2)))
    val nC = rows.groupBy(_._3).view.mapValues(g => BigInt(g.size)).toMap
    val nNatC = rows.groupBy(r => (r._1, r._3)).view
      .mapValues(g => BigInt(g.size)).toMap.withDefaultValue(BigInt(0))
    val nSignC = rows.groupBy(r => (r._2, r._3)).view
      .mapValues(g => BigInt(g.size)).toMap.withDefaultValue(BigInt(0))
    val dNat = BigInt(rows.map(_._1).distinct.length)
    val segs = nC.keys.toSeq.sorted
    val combos = rows.map(r => (r._1, r._2)).distinct.map {
      case (na, sg) =>
        val ss = segs.map { c =>
          (c, nC(c) * (nNatC((na, c)) + 1) * (nSignC((sg, c)) + 1) *
            BigInt("1000000000000") / ((nC(c) + dNat) * (nC(c) + 2)))
        }
        val best = ss.map { case (c, s) => (-s, c) }.min._2
        val conf = (ss.find(_._1 == best).get._2 * 1000000 /
          ss.map(_._2).sum).toLong
        (na, sg) -> ((best, conf))
    }.toMap
    val byBand = rows.groupBy(r => combos((r._1, r._2))._2 / 100000)
      .toSeq.map { case (band, g) =>
        val correct = g.count(r => combos((r._1, r._2))._1 == r._3)
        val confMass = g.map(r =>
          BigInt(combos((r._1, r._2))._2)).sum
        (band, g.size.toLong, correct.toLong,
          (confMass / g.size).toLong,
          BigInt(correct) * 1000000 / g.size)
      }.sortBy(_._1)
    val nTot = rows.length
    val ece = (byBand.map { case (_, n, _, avg, acc) =>
      (acc - avg).abs * n }.sum / nTot).toLong
    val expect = byBand.map { case (b, n, c, avg, acc) =>
      (b, n, c, avg, acc.toLong, (acc - avg).abs.toLong, ece) }
    val graded = collect7(Features.nbCalibration(spark, dir))
    assert(graded == expect, s"$graded != $expect")
    CachedStages.release(spark)
  }
  test("q225 classifier report: textbook kappa=0.4 fixture, degenerate " +
    "NULLs, graded replay") {
    import spark.implicits._
    def collect11(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)), r.getLong(7),
        r.getLong(8), r.getLong(9),
        if (r.isNullAt(10)) None else Some(r.getLong(10)))).toSeq
    // 8/2 | 4/6 confusion: po=0.7, pe=0.5, kappa exactly 0.4
    val fx = Seq(("A", "A", 8L), ("A", "B", 2L), ("B", "A", 4L),
      ("B", "B", 6L))
    val got = collect11(Features.classifierReportOf(
      fx.toDF("actual", "predicted", "n")))
    assert(got == Seq(
      ("A", 10L, 12L, 8L, Some(666666L), Some(800000L), Some(727272L),
        20L, 700000L, 500000L, Some(400000L)),
      ("B", 10L, 8L, 6L, Some(750000L), Some(600000L), Some(666666L),
        20L, 700000L, 500000L, Some(400000L))), got.mkString(";"))
    CachedStages.release(spark)
    // everything predicted A over two actual classes: chance agrees
    // exactly as often -> kappa = 0; B never predicted -> NULL
    // precision, zero recall
    val degen = Seq(("A", "A", 5L), ("B", "A", 5L))
    val d = collect11(Features.classifierReportOf(
      degen.toDF("actual", "predicted", "n")))
    assert(d.forall(_._11 == Some(0L)), d.mkString(";"))
    val bRow = d.find(_._1 == "B").get
    assert(bRow._5.isEmpty && bRow._6 == Some(0L), bRow.toString)
    CachedStages.release(spark)
    // single class: pe = 1 -> the kappa division is undefined, NULL
    val one = collect11(Features.classifierReportOf(
      Seq(("A", "A", 10L)).toDF("actual", "predicted", "n")))
    assert(one.head._11.isEmpty && one.head._9 == 1000000L,
      one.mkString(";"))
    CachedStages.release(spark)
    // graded replay off the q219 confusion collected driver-side
    val conf = Features.naiveBayes(spark, dir)
      .select("actual", "predicted", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    CachedStages.release(spark)
    val cls = (conf.map(_._1) ++ conf.map(_._2)).distinct.sorted
    val rowM = conf.groupBy(_._1).view.mapValues(g =>
      BigInt(g.map(_._3).sum)).toMap.withDefaultValue(BigInt(0))
    val colM = conf.groupBy(_._2).view.mapValues(g =>
      BigInt(g.map(_._3).sum)).toMap.withDefaultValue(BigInt(0))
    val diag = conf.filter(p => p._1 == p._2).map(p => p._1 -> p._3)
      .toMap.withDefaultValue(0L)
    val n = cls.map(rowM).sum
    val po = cls.map(c => BigInt(diag(c))).sum * 1000000 / n
    val pe = cls.map(c => rowM(c) * colM(c)).sum * 1000000 / (n * n)
    val kap = if (pe == 1000000) None
      else Some(((po - pe) * 1000000 / (1000000 - pe)).toLong)
    val expect = cls.toSeq.map { c =>
      val p = if (colM(c) == 0) None
        else Some((BigInt(diag(c)) * 1000000 / colM(c)).toLong)
      val rcl = if (rowM(c) == 0) None
        else Some((BigInt(diag(c)) * 1000000 / rowM(c)).toLong)
      val f1 = (p, rcl) match {
        case (Some(pp), Some(rr)) if pp + rr != 0 =>
          Some((BigInt(2) * pp * rr / (pp + rr)).toLong)
        case _ => None
      }
      (c, rowM(c).toLong, colM(c).toLong, diag(c), p, rcl, f1,
        n.toLong, po.toLong, pe.toLong, kap)
    }
    val graded = collect11(Features.classifierReport(spark, dir))
    assert(graded == expect, s"${graded.take(2)} != ${expect.take(2)}")
    CachedStages.release(spark)
  }
  test("q223 A-Priori ladder: hand baskets exact, downward closure, " +
    "graded replay") {
    import spark.implicits._
    def collect5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // baskets {1,2,3} x2 + {1,2,4}: singles 4/3 frequent (max 3),
    // pairs 5/3 (12:3, 13:2, 23:2), triples 2/1 (123:2)
    val fx = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L),
      (11L, 2L), (11L, 3L), (12L, 1L), (12L, 2L), (12L, 4L))
      .toDF("k", "p")
    val got = collect5(Graph.aprioriLadderOf(fx, 2L))
    assert(got == Seq((1L, 4L, 3L, 3L, 750000L),
      (2L, 5L, 3L, 3L, 600000L), (3L, 2L, 1L, 2L, 500000L)),
      got.mkString(";"))
    CachedStages.release(spark)
    // graded replay + the downward-closure law max_k+1 <= max_k
    val op = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val baskets = op.groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq.sorted).toMap
    def level(k: Int) = {
      val cnt = scala.collection.mutable.Map.empty[Seq[Long], Long]
        .withDefaultValue(0L)
      baskets.values.foreach(ps =>
        ps.combinations(k).foreach(c => cnt(c) += 1L))
      val n = cnt.size.toLong
      val f = cnt.values.count(_ >= 2L).toLong
      (k.toLong, n, f, cnt.values.max, f * 1000000L / n)
    }
    val expect = Seq(level(1), level(2), level(3))
    val graded = collect5(Graph.aprioriLadder(spark, dir))
    assert(graded == expect, s"$graded != $expect")
    assert(graded(0)._4 >= graded(1)._4 && graded(1)._4 >= graded(2)._4)
    CachedStages.release(spark)
  }
  test("q221 KS: shape-vs-location fixture, separation significant, " +
    "graded replay") {
    import spark.implicits._
    def row6(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))
    }
    // same center, different spread: a = {1,1,4,4}, b = {2,2,3,3} —
    // a location test sees nothing, the CDF gap peaks at v=1 with
    // D = 1/2 (min argmax pinned); n too small to clear the band.
    val shape = Seq(("a", 1L), ("a", 1L), ("a", 4L), ("a", 4L),
      ("b", 2L), ("b", 2L), ("b", 3L), ("b", 3L))
    assert(row6(RankTests.ksTestOf(shape.toDF("g", "v"), "a", "b")) ==
      (4L, 4L, 500000L, 1L, 1844440L, Some(0L)))
    CachedStages.release(spark)
    // disjoint supports at n=10 per side: D = 1, exactly past the band
    val sep = (1L to 10L).map(v => ("a", v)) ++
      (100L to 109L).map(v => ("b", v))
    assert(row6(RankTests.ksTestOf(sep.toDF("g", "v"), "a", "b")) ==
      (10L, 10L, 1000000L, 10L, 1844440L, Some(1L)))
    CachedStages.release(spark)
    // graded replay in BigInt over the shared dollar histogram
    val obs = Tables(spark, dir, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderpriority")
        .isin("1-URGENT", "5-LOW"))
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0),
        ((BigDecimal(r.getDouble(1)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toBigInt / 100)
          .toLong))
    val vs = obs.map(_._2).distinct.sorted
    val na = BigInt(obs.count(_._1 == "1-URGENT"))
    val nb = BigInt(obs.count(_._1 == "5-LOW"))
    var ca = BigInt(0); var cb = BigInt(0)
    var best = BigInt(-1); var vAt = 0L
    vs.foreach { v =>
      ca += obs.count(o => o._1 == "1-URGENT" && o._2 == v)
      cb += obs.count(o => o._1 == "5-LOW" && o._2 == v)
      val d = (ca * nb - cb * na).abs
      if (d > best) { best = d; vAt = v }
    }
    val dPpm = best * 1000000 / (na * nb)
    val sig = if (dPpm * dPpm * na * nb >
      BigInt(1844440L) * (na + nb) * 1000000) 1L else 0L
    assert(row6(RankTests.ksTest(spark, dir)) ==
      (na.toLong, nb.toLong, dPpm.toLong, vAt, 1844440L, Some(sig)))
    CachedStages.release(spark)
  }
  test("q222 capture-recapture: hand overlap fixture exact, graded " +
    "replay") {
    import spark.implicits._
    def row7(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5),
        r.getLong(6))
    }
    // span [0,100] -> mid 50. u1/u4 first-half only, u2/u5 second
    // only, u3 both: n1=3, n2=3, m=1, LP=9, Chapman=4*4/2-1=7,
    // err=+400000 ppm
    val fx = Seq((1L, 10L), (2L, 60L), (3L, 10L), (3L, 60L),
      (4L, 40L), (4L, 45L), (5L, 51L), (1L, 0L), (2L, 100L))
      .toDF("user_id", "ts_sec")
    assert(row7(Events.captureRecaptureOf(fx)) ==
      (3L, 3L, 1L, 5L, Some(9L), 7L, 400000L))
    CachedStages.release(spark)
    // graded replay in BigInt
    val raw = Events.events(spark, dir)
      .select("user_id", "ts_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mn = raw.map(_._2).min; val mx = raw.map(_._2).max
    val mid = (mn + mx) / 2
    val pu = raw.groupBy(_._1).view.mapValues(g =>
      (g.map(_._2).min <= mid, g.map(_._2).max > mid)).toMap
    val n1 = BigInt(pu.values.count(_._1))
    val n2 = BigInt(pu.values.count(_._2))
    val m = BigInt(pu.values.count(p => p._1 && p._2))
    val nTrue = BigInt(pu.size)
    val lp = if (m == 0) None else Some((n1 * n2 / m).toLong)
    val ch = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    val err = (ch - nTrue) * 1000000 / nTrue
    assert(row7(Events.captureRecapture(spark, dir)) ==
      (n1.toLong, n2.toLong, m.toLong, nTrue.toLong, lp, ch.toLong,
        err.toLong))
    CachedStages.release(spark)
  }
  test("q220 Hampel: spike flags both sides, MAD=0 limit, smooth " +
    "series silent; graded replay") {
    import spark.implicits._
    def collect6(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // a: majority-constant at 100 with a high day-5 and a low day-8:
    // median 100, MAD = 0 (the 50%-breakdown limit) -> both flag,
    // sides +1/-1, constant days silent.
    // b: 1..11 -> median 6, adevs 0..5, MAD 3, threshold 13.3 -> no
    // flag anywhere (the smooth-series control).
    val a = (0L to 10L).map(d => ("a", d,
      if (d == 5) 1000L else if (d == 8) 3L else 100L))
    val bSeries = (0L to 10L).map(d => ("b", d, d + 1))
    val got = collect6(Events.hampelOfDaily(
      (a ++ bSeries).toDF("event_type", "day", "cents")))
    val aRows = got.filter(_._1 == "a")
    assert(aRows.forall(r => r._4 == 100L && r._5 == 0L))
    assert(aRows.map(_._6) ==
      Seq(0L, 0, 0, 0, 0, 1, 0, 0, -1, 0, 0), aRows.mkString(";"))
    val bRows = got.filter(_._1 == "b")
    assert(bRows.forall(r => r._4 == 6L && r._5 == 3L && r._6 == 0L),
      bRows.mkString(";"))
    CachedStages.release(spark)
    // graded replay: densify, ceil-rank median/MAD, integer compare
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val mn = raw.map(_._2).min; val mx = raw.map(_._2).max
    val byT = raw.groupBy(_._1).view.mapValues(g =>
      g.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap).toMap
    def ceilMed(vs: Seq[Long]): Long = {
      val s = vs.sorted; s((vs.size + 1) / 2 - 1)
    }
    val expect = byT.keys.toSeq.sorted.flatMap { t =>
      val xs = (mn to mx).map(d => (d, byT(t).getOrElse(d, 0L)))
      val med = ceilMed(xs.map(_._2))
      val mad = ceilMed(xs.map(x => math.abs(x._2 - med)))
      xs.map { case (d, c) =>
        val adev = math.abs(c - med)
        val o = if (BigInt(adev) * 10000 > BigInt(44478) * mad)
          (if (c > med) 1L else -1L) else 0L
        (t, d, c, med, mad, o)
      }
    }
    val graded = collect6(Events.hampelOutliers(spark, dir))
    assert(graded == expect, s"${graded.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q219 naive Bayes: separable fixture perfect, score tie pinned, " +
    "graded replay") {
    import spark.implicits._
    def collect6(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // nations 1/2 perfectly separate A/B; nation 3 splits 1-1 so both
    // scores tie EXACTLY (symmetric counts) and the seg-asc pin
    // predicts A -> accuracy 5/6, baseline 1/2
    val fx = Seq((1L, 1L, "A"), (1L, 1L, "A"), (2L, 1L, "B"),
      (2L, 1L, "B"), (3L, 1L, "A"), (3L, 1L, "B"))
    val got = collect6(Features.naiveBayesOf(
      fx.toDF("nat", "sign", "seg")))
    assert(got == Seq(("A", "A", 3L, 6L, 833333L, 500000L),
      ("B", "A", 1L, 6L, 833333L, 500000L),
      ("B", "B", 2L, 6L, 833333L, 500000L)), got.mkString(";"))
    CachedStages.release(spark)
    // graded replay in BigInt: cube, smoothed fixed-point scores,
    // pinned argmax, weighted confusion
    val rows = Tables(spark, dir, "customer")
      .select("c_nationkey", "c_acctbal", "c_mktsegment").collect()
      .map(r => (r.getAs[Number](0).longValue,
        if (r.getDouble(1) >= 0) 1L else 0L, r.getString(2)))
    val n = BigInt(rows.length)
    val nC = rows.groupBy(_._3).view.mapValues(g => BigInt(g.size)).toMap
    val nNatC = rows.groupBy(r => (r._1, r._3)).view
      .mapValues(g => BigInt(g.size)).toMap.withDefaultValue(BigInt(0))
    val nSignC = rows.groupBy(r => (r._2, r._3)).view
      .mapValues(g => BigInt(g.size)).toMap.withDefaultValue(BigInt(0))
    val dNat = BigInt(rows.map(_._1).distinct.length)
    val segs = nC.keys.toSeq.sorted
    val pred = rows.map(r => (r._1, r._2)).distinct.map { case (na, sg) =>
      val best = segs.map { c =>
        val s = nC(c) * (nNatC((na, c)) + 1) * (nSignC((sg, c)) + 1) *
          BigInt("1000000000000") / ((nC(c) + dNat) * (nC(c) + 2))
        (-s, c)
      }.min._2
      (na, sg) -> best
    }.toMap
    val conf = rows.groupBy(r => (r._3, pred((r._1, r._2)))).view
      .mapValues(g => g.size.toLong).toMap
    val correct = BigInt(conf.collect {
      case ((a, p), c) if a == p => c }.sum)
    val acc = (correct * 1000000 / n).toLong
    val basel = (nC.values.max * 1000000 / n).toLong
    val expect = conf.toSeq.sortBy(_._1).map { case ((a, p), c) =>
      (a, p, c, n.toLong, acc, basel) }
    val graded = collect6(Features.naiveBayes(spark, dir))
    assert(graded == expect, s"${graded.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q218 Spearman: monotone +-1e6 exact, constant NULL, graded " +
    "replay") {
    import spark.implicits._
    def row8(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))
    }
    // strictly increasing pairs: identical rank vectors -> rho2
    // exactly 10^6, z2 = 7e6 -> significant
    val up = (1L to 8L).map(i => (i, 10 * i))
    assert(row8(RankTests.spearmanOf(up.toDF("x", "y"))) ==
      (8L, 0L, 0L, 1L, Some(1000000L), Some(7000000L), 3841459L,
        Some(1L)))
    CachedStages.release(spark)
    // strictly decreasing: dx = -dy exactly -> sign -1, rho2 full
    val down = (1L to 8L).map(i => (i, -10 * i))
    assert(row8(RankTests.spearmanOf(down.toDF("x", "y"))) ==
      (8L, 0L, 0L, -1L, Some(1000000L), Some(7000000L), 3841459L,
        Some(1L)))
    CachedStages.release(spark)
    // constant y: zero rank variance -> NULL rho2/verdict, sign 0
    val const = (1L to 6L).map(i => (i, 5L))
    val c = row8(RankTests.spearmanOf(const.toDF("x", "y")))
    assert(c._4 == 0L && c._5.isEmpty && c._8.isEmpty &&
      c._3 == 6L * 6 * 6 - 6, c.toString)
    CachedStages.release(spark)
    // graded replay in BigInt: quantization, midranks, two-pass floors
    val spend = Tables(spark, dir, "orders")
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0),
        (BigDecimal(r.getDouble(1)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toBigInt))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val base = Tables(spark, dir, "customer")
      .select("c_custkey", "c_acctbal").collect()
      .map { r =>
        val xc = (BigDecimal(r.getDouble(1)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toBigInt
        (xc / 100, spend.getOrElse(r.getLong(0), BigInt(0)) / 100)
      }
    def mr2(vs: Seq[BigInt]): (Map[BigInt, BigInt], BigInt) = {
      val h = vs.groupBy(identity).view.mapValues(g => BigInt(g.size))
        .toSeq.sortBy(_._1)
      var cum = BigInt(0)
      val m = h.map { case (v, c) =>
        val r = 2 * cum + c + 1; cum += c; (v, r) }.toMap
      (m, h.map { case (_, c) => c * c * c - c }.sum)
    }
    val (mx2, tieX) = mr2(base.map(_._1).toSeq)
    val (my2, tieY) = mr2(base.map(_._2).toSeq)
    val prs = base.map { case (x, y) => (mx2(x), my2(y)) }
    val n = BigInt(prs.size)
    val mmx = prs.map(_._1).sum * 1000 / n
    val mmy = prs.map(_._2).sum * 1000 / n
    val covM = prs.map { case (a, b) =>
      (a * 1000 - mmx) * (b * 1000 - mmy) }.sum / n
    val vxM = prs.map { case (a, _) =>
      val d = a * 1000 - mmx; d * d }.sum / n
    val vyM = prs.map { case (_, b) =>
      val d = b * 1000 - mmy; d * d }.sum / n
    val rho2 = if (vxM * vyM == 0) None
      else Some((covM * covM * 1000000 / (vxM * vyM)).toLong)
    val expect = (n.toLong, tieX.toLong, tieY.toLong,
      covM.signum.toLong, rho2, rho2.map(_ * (n.toLong - 1)),
      3841459L,
      rho2.map(r => if (r * (n.toLong - 1) > 3841459L) 1L else 0L))
    assert(row8(RankTests.spearman(spark, dir)) == expect)
    CachedStages.release(spark)
  }
  test("q217 Heaps growth: one-doc-per-decile hand curve incl. empty " +
    "doc; graded replay") {
    import spark.implicits._
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toSeq
    // ids 0..9 -> one doc per decile; vocab {aa,bb,cc,dd} enters at
    // deciles 1,1,2,4; doc 2 is EMPTY (a doc with zero tokens still
    // counts); every later doc repeats "aa".
    val texts = Seq("aa bb", "aa cc", "", "bb dd") ++
      Seq.fill(6)("aa")
    val fx = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = collect8(TextOps.heapsGrowthOf(fx))
    val toksPerDec = Seq(2L, 2L, 0L, 2L, 1L, 1L, 1L, 1L, 1L, 1L)
    val newPerDec = Seq(2L, 1L, 0L, 1L, 0L, 0L, 0L, 0L, 0L, 0L)
    var (dc, tc, vc) = (0L, 0L, 0L)
    val expect = (1 to 10).map { d =>
      dc += 1; tc += toksPerDec(d - 1); vc += newPerDec(d - 1)
      (d.toLong, 1L, toksPerDec(d - 1), newPerDec(d - 1), dc, tc, vc,
        Some(vc * 1000000L / tc))
    }
    assert(got == expect, got.mkString(";"))
    CachedStages.release(spark)
    // graded replay: driver tokenizer, first-seen mins, value-range
    // deciles, BigInt cumulative
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mn = docs.map(_._1).min; val mx = docs.map(_._1).max
    def dec(id: Long) = (id - mn) * 10 / (mx - mn + 1) + 1
    val tokRe = "[a-z0-9]+".r
    val perDoc = docs.map { case (id, t) =>
      (id, tokRe.findAllIn(t.toLowerCase).toSeq) }
    val first = scala.collection.mutable.Map.empty[String, Long]
    perDoc.sortBy(_._1).foreach { case (id, ts) =>
      ts.foreach(t => if (!first.contains(t)) first(t) = id) }
    val nd = perDoc.groupBy(p => dec(p._1)).view
      .mapValues(g => (g.size.toLong, g.map(_._2.size.toLong).sum))
      .toMap.withDefaultValue((0L, 0L))
    val nt = first.values.groupBy(dec).view
      .mapValues(_.size.toLong).toMap.withDefaultValue(0L)
    var (dc2, tc2, vc2) = (0L, 0L, 0L)
    val expect2 = (1 to 10).map { d =>
      val (a, b) = nd(d.toLong)
      dc2 += a; tc2 += b; vc2 += nt(d.toLong)
      (d.toLong, a, b, nt(d.toLong), dc2, tc2, vc2,
        if (tc2 == 0) None else Some(vc2 * 1000000L / tc2))
    }
    val graded = collect8(TextOps.heapsGrowth(spark, dir))
    assert(graded == expect2, s"${graded.take(3)} != ${expect2.take(3)}")
    CachedStages.release(spark)
  }
  test("q216 t-closeness: hand TV ladder incl. absent-class mass; " +
    "graded replay") {
    import spark.implicits._
    def collect5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // N=10, global 6A/4B. nat1 = 2A2B: t=0.1; nat2 = 4A (homogeneous,
    // absent-B mass enters): t=0.4; nat3 = 2B: t=0.6. Regions {1,2}:
    // reg1 = 6A2B -> 0.15, reg2 -> 0.6. One balance sign -> t=0.
    val fx = Seq.fill(2)((1L, 1L, 1L, "A")) ++
      Seq.fill(2)((1L, 1L, 1L, "B")) ++
      Seq.fill(4)((2L, 1L, 1L, "A")) ++
      Seq.fill(2)((3L, 2L, 1L, "B"))
    val got = collect5(Privacy.tClosenessOf(
      fx.toDF("nat", "reg", "bal_sign", "sens"), 200000L))
    assert(got == Seq(
      ("L0_nation", 3L, 2L, 600000L, 600000L),
      ("L1_region", 2L, 1L, 600000L, 200000L),
      ("L2_balance_sign", 1L, 0L, 0L, 0L)), got.mkString(";"))
    CachedStages.release(spark)
    // graded replay in BigInt (per-level group distributions vs the
    // global, the single cross-multiplied floor per group)
    val nations = Tables(spark, dir, "nation")
      .select("n_nationkey", "n_regionkey").collect()
      .map(r => r.getAs[Number](0).longValue ->
        r.getAs[Number](1).longValue).toMap
    val cust = Tables(spark, dir, "customer")
      .select("c_nationkey", "c_acctbal", "c_mktsegment").collect()
      .map { r =>
        val nat = r.getAs[Number](0).longValue
        (nat, nations(nat), if (r.getDouble(1) >= 0) 1L else 0L,
          r.getString(2))
      }
    val n = BigInt(cust.length)
    val nc = cust.groupBy(_._4).view.mapValues(g => BigInt(g.size)).toMap
    def lvl(name: String, key: ((Long, Long, Long, String)) => Long) = {
      val ts = cust.groupBy(key).toSeq.map { case (_, g) =>
        val ng = BigInt(g.size)
        val present = g.groupBy(_._4).view.mapValues(x => BigInt(x.size))
        val sPresent = present.map { case (c, ngc) =>
          (ngc * n - nc(c) * ng).abs }.sum
        val cPresent = present.keys.map(nc).sum
        val t = (sPresent + (n - cPresent) * ng) * 1000000 /
          (2 * ng * n)
        (t, ng)
      }.toSeq
      (name, ts.size.toLong, ts.count(_._1 > 200000).toLong,
        ts.map(_._1).max.toLong,
        (ts.filter(_._1 > 200000).map(_._2).sum * 1000000 / n).toLong)
    }
    val expect = Seq(lvl("L0_nation", _._1), lvl("L1_region", _._2),
      lvl("L2_balance_sign", _._3))
    val graded = collect5(Privacy.tCloseness(spark, dir))
    assert(graded == expect, s"$graded != $expect")
    CachedStages.release(spark)
  }
  test("q214 EWMA: smooth drift alarms both sides, constant silent; " +
    "graded replay") {
    import spark.implicits._
    // Pure-Scala replay of the level + variance recursions
    def replay(rows: Seq[(String, Long, Long)]) =
      rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, g) =>
        val n = BigInt(g.size)
        val s1 = g.map(x => BigInt(x._3)).sum
        val mu = s1 / n
        val s2 = g.map(x => BigInt(x._3) * x._3).sum
        val sig2 = (n * s2 - s1 * s1) / (n * n)
        var z = mu; var v = BigInt(0)
        g.sortBy(_._2).map { case (tt, d, c) =>
          z = (200 * BigInt(c) + 800 * z) / 1000
          v = (640000 * v + 40000 * sig2) / 1000000
          val dev = z - mu
          val al =
            if (dev * dev > 9 * v) (if (z > mu) 1L else -1L) else 0L
          (tt, d, c, z.toLong, v.toLong, al)
        }
      }
    def densify(rows: Seq[(String, Long, Long)]) = {
      val mn = rows.map(_._2).min; val mx = rows.map(_._2).max
      val byDay = rows.groupBy(_._1).view.mapValues(g =>
        g.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap).toMap
      byDay.keys.toSeq.sorted.flatMap(t =>
        (mn to mx).map(d => (t, d, byDay(t).getOrElse(d, 0L))))
    }
    // c: constant -> sig2 = 0, z pinned at mu, never alarms;
    // d: 10 flat days then +50/day smooth drift -> the EWMA walks up
    // and crosses 3sigma_z exactly at day 19 (hand-folded; Shewhart
    // rule 1 stays silent on every single point of this ramp);
    // e: the mirrored down-drift -> -1 at day 19.
    val fx = (0L to 19L).map(d => ("c", d, 700L)) ++
      (0L to 9L).map(d => ("d", d, 1000L)) ++
      (10L to 19L).map(d => ("d", d, 1000L + 50L * (d - 9))) ++
      (0L to 9L).map(d => ("e", d, 1000L)) ++
      (10L to 19L).map(d => ("e", d, 1000L - 50L * (d - 9)))
    val fGot = Events.ewmaChartOfDaily(fx.toDF("event_type", "day",
      "cents")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(fGot == replay(densify(fx)), fGot.take(5).mkString(";"))
    assert(fGot.filter(_._6 != 0).map(r => (r._1, r._2, r._6)) ==
      Seq(("d", 19L, 1L), ("e", 19L, -1L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay (densified calendar, BigInt fold)
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val got = Events.ewmaChart(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == replay(densify(raw)), s"${got.take(3)}")
    CachedStages.release(spark)
  }
  test("q215 ACF: alternating series exact ladder, constant NULLs, " +
    "graded replay") {
    import spark.implicits._
    def collect9(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getLong(6),
        r.getLong(7),
        if (r.isNullAt(8)) None else Some(r.getLong(8)))).toSeq
    // a: 1000/0 alternating over 20 days -> dx = ±500000 milli,
    // r_k = (-1)^k (20-k)*50000 ppm EXACTLY (every division lands),
    // all beyond the 2/sqrt(20) band; Ljung-Box sums to exactly
    // 2.8e11 -> Q = 123200000 >> crit(7). c: constant -> den = 0,
    // NULL r and verdict.
    val fx = (0L to 19L).map(d => ("a", d, if (d % 2 == 0) 1000L else 0L)) ++
      (0L to 19L).map(d => ("c", d, 700L))
    val got = collect9(Events.acfOfDaily(fx.toDF("event_type", "day",
      "cents")))
    val expA = (1 to 7).map { k =>
      val r = (if (k % 2 == 1) -1L else 1L) * (20L - k) * 50000L
      ("a", k.toLong, 20L, Some(r), Some(1L), Some(123200000L), 7L,
        graft.ops.Events.Chi2Crit95Ppm(6), Some(1L))
    }
    val expC = (1 to 7).map { k =>
      ("c", k.toLong, 20L, None, None, None, 7L,
        graft.ops.Events.Chi2Crit95Ppm(6), None)
    }
    assert(got == expA ++ expC, got.mkString(";"))
    CachedStages.release(spark)
    // graded replay: densified calendar, BigInt two-pass + floors
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val mn = raw.map(_._2).min; val mx = raw.map(_._2).max
    val byType = raw.groupBy(_._1).view.mapValues(g =>
      g.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap).toMap
    val expect = byType.keys.toSeq.sorted.flatMap { t =>
      val xs = (mn to mx).map(d => BigInt(byType(t).getOrElse(d, 0L)))
      val n = BigInt(xs.size)
      val mMilli = xs.sum * 1000 / n
      val dxs = xs.map(_ * 1000 - mMilli)
      val den = dxs.map(d => d * d).sum
      val rks = (1 to 7).map { k =>
        val num = dxs.drop(k).zip(dxs.dropRight(k)).map { case (x, y)
          => x * y }.sum
        if (den == 0) None else Some(num * 1000000 / den)
      }
      val sSum = rks.zipWithIndex.map { case (r, i) =>
        r.map(rr => rr * rr / (n - (i + 1))) }
      val q = if (sSum.exists(_.isEmpty)) None
        else Some((n * (n + 2) * sSum.map(_.get).sum / 1000000).toLong)
      val crit = graft.ops.Events.Chi2Crit95Ppm(6)
      rks.zipWithIndex.map { case (r, i) =>
        (t, (i + 1).toLong, n.toLong, r.map(_.toLong),
          r.map(rr => if (rr * rr * n > BigInt(4000000000000L)) 1L
            else 0L),
          q, 7L, crit, q.map(qq => if (qq > crit) 1L else 0L))
      }
    }
    val graded = collect9(Events.acfDaily(spark, dir))
    assert(graded == expect, s"${graded.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q188 Mann-Kendall: monotone/flat/alternating fixtures + replay") {
    import spark.implicits._
    // Pure-Scala replay: pairwise signs, Kendall tie correction, the
    // continuity-corrected cross-multiplied 5% verdict
    def replay(rows: Seq[(String, Long, Long)]) =
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, g) =>
        val v = g.sortBy(_._2).map(_._3)
        val n = BigInt(v.size)
        val s = BigInt((for (i <- v.indices; j <- i + 1 until v.size)
          yield (v(j) compare v(i)).sign).sum)
        val tieSum = v.groupBy(identity).values
          .map(gg => { val tt = BigInt(gg.size); tt * (tt - 1) * (2 * tt + 5) })
          .sum
        val pairs = n * (n - 1) / 2
        val var18 = n * (n - 1) * (2 * n + 5) - tieSum
        val tau = if (pairs == 0) BigInt(0) else s * 1000000 / pairs
        val m = s.abs - 1
        val trend =
          if (s == 0) 0L
          else if (m * m * 180000 > BigInt(38416) * var18) s.signum.toLong
          else 0L
        (t, n.toLong, pairs.toLong, s.toLong, tau.toLong, var18.toLong,
          trend)
      }
    // inc: S=10, z=(10-1)/sqrt(300/18)=2.2 -> +1; dec mirrors to -1;
    // flat: all tied, S=0, var18=0 -> 0; alt: S=0 with two tie groups
    val inc = (0L to 4L).map(d => ("inc", d, 100L * (d + 1)))
    val dec = (0L to 4L).map(d => ("dec", d, 100L * (5 - d)))
    val flat = (0L to 4L).map(d => ("flat", d, 700L))
    val alt = (0L to 4L).map(d => ("alt", d, if (d % 2 == 0) 100L else 200L))
    val fixture = (inc ++ dec ++ flat ++ alt)
      .toDF("event_type", "day", "cents")
    val fGot = Events.mannKendallOfDaily(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val fExpect = replay(inc ++ dec ++ flat ++ alt)
    assert(fGot == fExpect, s"$fGot != $fExpect")
    // the designed verdicts, explicitly
    assert(fGot.map(r => (r._1, r._4, r._7)).toSet ==
      Set(("inc", 10L, 1L), ("dec", -10L, -1L), ("flat", 0L, 0L),
        ("alt", 0L, 0L)), fGot.mkString(";"))
    assert(fGot.find(_._1 == "inc").get._5 == 1000000L)
    assert(fGot.find(_._1 == "dec").get._5 == -1000000L)
    CachedStages.release(spark)
    // graded replay over the real daily matrix
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((t, d), g) => (t, d, g.map(_._3).sum) }
    val got = Events.mannKendallTrend(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == replay(raw), s"${got.take(3)}")
    CachedStages.release(spark)
  }
  test("q189 Gini ranking: perfect/useless splits by hand + replay") {
    import spark.implicits._
    // nation separates the classes perfectly (gain = root), bal_sign
    // and bal_band split orthogonally to the label (gain 0), and the
    // all-distinct name digit "wins" via singleton leaves — the
    // overfit mode a single-split screen must surface, by design
    val fixture = Seq(
      ("Customer#1", 0, -500.00, "A"), ("Customer#2", 1, -200.00, "B"),
      ("Customer#3", 0, 300.00, "A"), ("Customer#4", 1, 700.00, "B"))
      .toDF("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val fGot = Features.giniFeatureRankOf(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(fGot == Seq(
      ("bal_band", 4L, 2L, 500000L, 500000L, 0L),
      ("bal_sign", 4L, 2L, 500000L, 500000L, 0L),
      ("name_digit", 4L, 4L, 500000L, 0L, 500000L),
      ("nation", 4L, 2L, 500000L, 0L, 500000L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay in BigInt
    val rows = Tables(spark, dir, "customer")
      .select("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .collect()
      .map(r => (r.getString(0), r.getInt(1),
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact,
        r.getString(3)))
    def gini(groups: Iterable[Long]): (BigInt, BigInt) = {
      val n = groups.map(BigInt(_)).sum
      val ssq = groups.map(c => BigInt(c) * c).sum
      (n, BigInt(1000000) - ssq * 1000000 / (n * n))
    }
    val (_, rootG) = gini(rows.groupBy(_._4).values.map(_.size.toLong))
    val expect = Seq(
      "bal_band" -> ((r: (String, Int, Long, String)) =>
        ((r._3 + 100000L) / 100000L).toString),
      "bal_sign" -> ((r: (String, Int, Long, String)) =>
        if (r._3 < 0) "neg" else "nonneg"),
      "name_digit" -> ((r: (String, Int, Long, String)) =>
        r._1.last.toString),
      "nation" -> ((r: (String, Int, Long, String)) => r._2.toString))
      .map { case (f, fn) =>
        val byVal = rows.groupBy(fn).values.toSeq
        val parts = byVal.map(g =>
          gini(g.groupBy(_._4).values.map(_.size.toLong)))
        val n = parts.map(_._1).sum
        val split = parts.map { case (nv, g) => nv * g }.sum / n
        (f, n.toLong, byVal.size.toLong, rootG.toLong, split.toLong,
          (rootG - split).toLong)
      }
    val got = Features.giniFeatureRank(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"$got != $expect")
    CachedStages.release(spark)
  }
  test("q190 duplicate payments: hand pairs + window/band rules + replay") {
    import spark.implicits._
    def ts(d: Long) = d * 86400000000L
    // cust 1: a same-day non-suspect pair, a gap-1 SUSPECT pair (same
    // $100 band, risk = the smaller amount), a gap-1 non-suspect pair,
    // and an order 19+ days out (excluded); cust 2: a loner
    val fixture = Seq(
      (1L, 1L, ts(0), 100.00), (1L, 2L, ts(0), 350.00),
      (1L, 3L, ts(1), 101.50), (1L, 4L, ts(20), 100.10),
      (2L, 5L, ts(3), 500.00))
      .toDF("o_custkey", "o_orderkey", "o_us", "o_totalprice")
      .selectExpr("o_custkey", "o_orderkey",
        "timestamp_micros(o_us) AS o_orderdate", "o_totalprice")
    val fGot = Relational.duplicatePaymentsOf(fixture, 7L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(fGot == Seq((0L, 1L, 0L, 1L, 0L), (1L, 2L, 1L, 1L, 10000L)) ++
      (2L to 7L).map(g => (g, 0L, 0L, 0L, 0L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay: per-customer pair enumeration in plain Scala
    val rows = Tables(spark, dir, "orders")
      .selectExpr("o_custkey", "o_orderkey",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000",
        "CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100 AS BIGINT)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pairs = rows.groupBy(_._1).values.toSeq.flatMap { g =>
      val gs = g.toSeq
      for {
        a <- gs; b <- gs
        if a._2 < b._2 && (b._3 - a._3).abs <= 7
      } yield (a._1, (b._3 - a._3).abs,
        a._4 / 10000 == b._4 / 10000, a._4 min b._4)
    }
    val byGap = pairs.groupBy(_._2)
    val expect = (0L to 7L).map { g =>
      val p = byGap.getOrElse(g, Seq.empty)
      (g, p.size.toLong, p.count(_._3).toLong,
        p.map(_._1).distinct.size.toLong,
        p.filter(_._3).map(_._4).sum)
    }
    val got = Relational.duplicatePayments(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"$got != $expect")
    CachedStages.release(spark)
  }
  test("q191 reconciliation: every band by hand incl. per-line floor " +
    "+ graded replay") {
    import spark.implicits._
    // o1 exact; o2 +50c; o3 charge 10000*0.9*1.05=9450 vs 9700 -> -250;
    // o4 no lines; o5 two 1c lines each FLOORED to 0 by the 0.333333
    // discount (post-sum rounding would say exact; per-line floor says
    // -1c); o6 +$14.9k -> pos_gt_10k; l_orderkey 99 is an orphan
    val orders = Seq((1L, 100.00), (2L, 100.00), (3L, 97.00),
      (4L, 50.00), (5L, 0.01), (6L, 1.00))
      .toDF("o_orderkey", "o_totalprice")
    val lines = Seq(
      (1L, 100.00, 0.0, 0.0), (2L, 100.50, 0.0, 0.0),
      (3L, 100.00, 0.10, 0.05), (5L, 0.01, 0.333333, 0.0),
      (5L, 0.01, 0.333333, 0.0), (6L, 15000.00, 0.0, 0.0),
      (99L, 20.00, 0.0, 0.0))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val fGot = Relational.reconciliationAuditOf(orders, lines).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fGot == Seq(
      ("exact", 1L, 0L), ("neg_gt_10k", 0L, 0L), ("neg_le_1", 1L, 1L),
      ("neg_le_100", 1L, 250L), ("neg_le_10k", 0L, 0L),
      ("no_lines", 1L, 5000L), ("orphan_lines", 1L, 2000L),
      ("pos_gt_10k", 1L, 1499900L), ("pos_le_1", 1L, 50L),
      ("pos_le_100", 0L, 0L), ("pos_le_10k", 0L, 0L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay in BigInt
    def cents(x: Double) = (BigDecimal(x).setScale(2,
      BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
    def ppm(x: Double) = (BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact
    val bk = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> cents(r.getDouble(1))).toMap
    val rc = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
      .collect()
      .map(r => (r.getLong(0),
        BigInt(cents(r.getDouble(1))) * (1000000L - ppm(r.getDouble(2))) *
          (1000000L + ppm(r.getDouble(3))) / BigInt("1000000000000")))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum.toLong).toMap
    val all = bk.keySet ++ rc.keySet
    val banded = all.toSeq.map { k =>
      (bk.get(k), rc.get(k)) match {
        case (None, Some(r)) => ("orphan_lines", r.abs)
        case (Some(b), None) => ("no_lines", b.abs)
        case (Some(b), Some(r)) if r == b => ("exact", 0L)
        case (Some(b), Some(r)) =>
          val d = (r - b).abs
          val mag = if (d <= 100) "le_1" else if (d <= 10000) "le_100"
            else if (d <= 1000000) "le_10k" else "gt_10k"
          ((if (r > b) "pos_" else "neg_") + mag, d)
        case (None, None) => sys.error("unreachable")
      }
    }
    val expect = Relational.ReconBands.sorted.map { band =>
      val g = banded.filter(_._1 == band)
      (band, g.size.toLong, g.map(_._2).sum)
    }
    val got = Relational.reconciliationAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect, s"$got != $expect")
    CachedStages.release(spark)
  }
  test("q192 chi2: dependent and uniform fixtures + graded replay") {
    import spark.implicits._
    def ev(t: String, day: Long, n: Int) =
      Seq.fill(n)((t, day * 86400L))
    // 2x2 with a 30/10 swap: every cell expects 20, contrib 5 each,
    // chi2 = 20.0 >> crit(df=1) = 3.841459 -> dependent
    val dep = ev("a", 0, 30) ++ ev("a", 1, 10) ++
      ev("b", 0, 10) ++ ev("b", 1, 30)
    val dGot = Events.weekdayChi2Of(dep.toDF("event_type", "ts_sec"))
      .collect()
    assert(dGot.length == 4)
    dGot.foreach { r =>
      assert(r.getLong(3) == 20000000L && r.getLong(4) == 5000000L, r)
      assert(r.getLong(5) == 20000000L && r.getLong(6) == 1L, r)
      assert(r.getLong(7) == 3841459L && r.getLong(8) == 1L, r)
    }
    CachedStages.release(spark)
    // perfectly uniform -> chi2 = 0, independent
    val uni = Seq("a", "b").flatMap(t => (0L to 1L).flatMap(d =>
      ev(t, d, 10)))
    val uGot = Events.weekdayChi2Of(uni.toDF("event_type", "ts_sec"))
      .collect()
    uGot.foreach { r =>
      assert(r.getLong(4) == 0L && r.getLong(5) == 0L &&
        r.getLong(8) == 0L, r)
    }
    CachedStages.release(spark)
    // graded replay in BigInt (incl. zero-observed grid cells)
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec").collect()
      .map(r => (r.getString(0), (r.getLong(1) / 86400L + 3) % 7))
    val obs = raw.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val types = raw.map(_._1).distinct.sorted
    val wds = raw.map(_._2).distinct.sorted
    val n = BigInt(raw.length)
    val rM = types.map(t => t -> BigInt(raw.count(_._1 == t))).toMap
    val cM = wds.map(w => w -> BigInt(raw.count(_._2 == w))).toMap
    val cells = for (t <- types; w <- wds) yield {
      val o = BigInt(obs.getOrElse((t, w), 0L))
      val e = rM(t) * cM(w) * 1000000 / n
      val contrib = if (e == 0) None
        else Some((o * 1000000 - e) * (o * 1000000 - e) / e)
      (t, w, o, e, contrib)
    }
    val chi2 = cells.flatMap(_._5).sum
    val df = (types.size - 1) * (wds.size - 1)
    val crit = Events.Chi2Crit95Ppm(df - 1)
    val dep2 = if (chi2 > crit) 1L else 0L
    val expect = cells.map { case (t, w, o, e, c) =>
      (t, w, o.toLong, e.toLong, c.map(_.toLong).getOrElse(0L),
        chi2.toLong, df.toLong, crit, dep2)
    }.toSeq
    val got = Events.weekdayChi2(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) 0L else r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q193 Lorenz: even ladder, all-tied straddle split + replay") {
    import spark.implicits._
    // $1..$20: two buyers per decile, decile spend 4d-1 dollars
    val ladder = (1L to 20L).map(_ * 100L).toDF("cents")
    val lGot = Relational.lorenzOf(ladder).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val lExp = (1L to 10L).map { d =>
      val s = 4 * d - 1
      val cum = (1L to d).map(4 * _ - 1).sum
      (d, 2L, s, s * 1000000L / 210L, cum * 1000000L / 210L)
    }
    assert(lGot == lExp, s"$lGot != $lExp")
    CachedStages.release(spark)
    // 15 identical $5 spends: ONE value group splits across all ten
    // deciles with the 1,2,1,2,... floor-boundary sizes
    val tied = Seq.fill(15)(500L).toDF("cents")
    val tGot = Relational.lorenzOf(tied).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val sizes = (1L to 10L).map(d => 15 * d / 10 - 15 * (d - 1) / 10)
    assert(tGot.map(_._2) == sizes, tGot.mkString(";"))
    assert(tGot.map(_._3) == sizes.map(_ * 5), tGot.mkString(";"))
    assert(tGot.last._5 == 1000000L)
    CachedStages.release(spark)
    // graded replay in BigInt
    val cents = Tables(spark, dir, "orders")
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), (BigDecimal(r.getDouble(1)).setScale(2,
        BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).values.map(_.map(_._2).sum).toSeq
    val vs = cents.map(_ / 100)
    val hist = vs.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val n = vs.size.toLong
    val totalD = hist.map { case (v, c) => BigInt(v) * c }.sum
    val cums = hist.scanLeft(0L)(_ + _._2)
    val perDec = (1L to 10L).map { d =>
      val lo = (d - 1) * n / 10; val hi = d * n / 10
      var nc = 0L; var sp = BigInt(0)
      hist.zip(cums).foreach { case ((v, c), cum) =>
        val take = math.max(0L, math.min(cum + c, hi) - math.max(cum, lo))
        nc += take; sp += BigInt(take) * v
      }
      (d, nc, sp)
    }
    val cumsSp = perDec.scanLeft(BigInt(0))(_ + _._3).drop(1)
    val expect = perDec.zip(cumsSp).map { case ((d, nc, sp), cs) =>
      (d, nc, sp.toLong, (sp * 1000000 / totalD).toLong,
        (cs * 1000000 / totalD).toLong)
    }
    val got = Relational.lorenzDeciles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q194 two-proportion z: planted win, degenerate tie, replay") {
    import spark.implicits._
    // independent replay of the shared md5 arm rule + the full test
    def armOf(u: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 100 < 50) "a"
      else "b"
    }
    def replay(rows: Seq[(Long, String)], heavyMin: Long) = {
      val users = rows.map(_._1).distinct
      val heavy = rows.filter(_._2 == "purchase").groupBy(_._1)
        .filter(_._2.size >= heavyMin).keySet
      def side(arm: String) = {
        val us = users.filter(armOf(_) == arm)
        (BigInt(us.size), BigInt(us.count(heavy)))
      }
      val ((na, ca), (nb, cb)) = (side("a"), side("b"))
      val pa = ca * 1000000 / na; val pb = cb * 1000000 / nb
      val diff = pa - pb
      val pooled = (ca + cb) * 1000000 / (na + nb)
      val se2 = pooled * (1000000 - pooled) * (na + nb) * 1000000 /
        (na * nb)
      val z2 = if (se2 == 0) None
        else Some(diff * diff * BigInt("1000000000000") / se2)
      val sig = z2.map(z => if (z > 3841459) 1L else 0L)
      val winner = if (diff > 0) "a" else if (diff < 0) "b" else "tie"
      (na.toLong, ca.toLong, pa.toLong, nb.toLong, cb.toLong, pb.toLong,
        diff.toLong, pooled.toLong, se2.toLong, z2.map(_.toLong), sig,
        winner)
    }
    def collect1(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), if (r.isNullAt(9)) None else Some(r.getLong(9)),
        if (r.isNullAt(11)) None else Some(r.getLong(11)),
        r.getString(12))
    }
    // planted win: arm-a users get 3 purchases (heavy at min=3),
    // arm-b users one view each -> p_a=1, p_b=0, hugely significant
    val users = (0L until 40L)
    val win = users.flatMap { u =>
      if (armOf(u) == "a") Seq.fill(3)((u, "purchase"))
      else Seq((u, "view"))
    }
    val wGot = collect1(Events.twoProportionZOf(
      win.toDF("user_id", "event_type"), 3L))
    val wExp = replay(win, 3L)
    assert(wGot == wExp, s"$wGot != $wExp")
    assert(wGot._11 == Some(1L) && wGot._12 == "a", wGot)
    CachedStages.release(spark)
    // degenerate saturation: everyone heavy -> se2=0, z2/sig NULL, tie
    val sat = users.flatMap(u => Seq.fill(3)((u, "purchase")))
    val sGot = collect1(Events.twoProportionZOf(
      sat.toDF("user_id", "event_type"), 3L))
    assert(sGot._10 == None && sGot._11 == None && sGot._12 == "tie", sGot)
    CachedStages.release(spark)
    // graded replay
    val raw = Events.events(spark, dir)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = collect1(Events.twoProportionZ(spark, dir))
    assert(got == replay(raw, 15L), s"$got != ${replay(raw, 15L)}")
    CachedStages.release(spark)
  }
  test("q195 supplier returns: planted bad supplier, lone-supplier " +
    "degenerate, graded replay") {
    import spark.implicits._
    def replay(rows: Seq[(Long, String)]) = {
      val per = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, g) =>
        (s, BigInt(g.size), BigInt(g.count(_._2 == "R")))
      }
      val nn = per.map(_._2).sum; val rr = per.map(_._3).sum
      per.map { case (s, n, r) =>
        val rate = r * 1000000 / n
        val restDen = nn - n
        if (restDen == 0)
          (s, n.toLong, r.toLong, rate.toLong, None: Option[Long], None,
            None, None)
        else {
          val rest = (rr - r) * 1000000 / restDen
          val diff = rate - rest
          val pooled = rr * 1000000 / nn
          val se2 = pooled * (1000000 - pooled) * nn * 1000000 /
            (n * restDen)
          val z2 = if (se2 == 0) None
            else Some((diff * diff * BigInt("1000000000000") / se2).toLong)
          val el = z2.map(z =>
            if (z > 3841459L && diff > 0) 1L else 0L)
          (s, n.toLong, r.toLong, rate.toLong, Some(rest.toLong),
            Some(diff.toLong), z2, el)
        }
      }
    }
    def collectAll(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toSeq
    // supplier 1 returns 90%, three peers 10% -> only 1 flags
    val planted = (1L to 4L).flatMap { s =>
      val ret = if (s == 1) 90 else 10
      Seq.fill(ret)((s, "R")) ++ Seq.fill(100 - ret)((s, "N"))
    }
    val pGot = collectAll(Relational.supplierReturnScreenOf(
      planted.toDF("l_suppkey", "l_returnflag")))
    assert(pGot == replay(planted), s"$pGot")
    assert(pGot.map(r => (r._1, r._8)) ==
      Seq(1L -> Some(1L), 2L -> Some(0L), 3L -> Some(0L),
        4L -> Some(0L)), pGot)
    CachedStages.release(spark)
    // a lone supplier has no "rest": every derived stat NULL, honestly
    val lone = Seq.fill(10)((7L, "R")) ++ Seq.fill(10)((7L, "N"))
    val lGot = collectAll(Relational.supplierReturnScreenOf(
      lone.toDF("l_suppkey", "l_returnflag")))
    assert(lGot == replay(lone) &&
      lGot.head._5 == None && lGot.head._8 == None, lGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay
    val raw = Tables(spark, dir, "lineitem")
      .select("l_suppkey", "l_returnflag").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = collectAll(Relational.supplierReturnScreen(spark, dir))
    assert(got == replay(raw), s"${got.take(2)}")
    CachedStages.release(spark)
  }
  test("q196 ABC-XYZ: pinned AX/BY/CZ fixture, q174 marginal law, " +
    "graded replay") {
    import spark.implicits._
    def line(p: Long, y: Int, qty: Double, price: Double) =
      (p, java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00"), qty, price, 0.0)
    // p1: steady 10/yr for 7 years, 84% of revenue -> AX (CV=0);
    // p3: 10 in 4 of 7 years -> Y, mid revenue -> B;
    // p2: one 30-spike year, 1.2% of revenue -> CZ
    val fixture = ((1992 to 1998).map(y => line(1L, y, 10.0, 1000.0)) ++
      (1992 to 1995).map(y => line(3L, y, 10.0, 300.0)) :+
      line(2L, 1994, 30.0, 100.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice",
        "l_discount")
    val fGot = Relational.abcXyzOf(fixture).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val zero = for (a <- Seq("A", "B", "C"); x <- Seq("X", "Y", "Z"))
      yield (a, x, 0L, 0L, 0L)
    val fExp = zero.map {
      case ("A", "X", _, _, _) =>
        ("A", "X", 1L, 7000L * 1000000 / 8300, 7000L * 1000000 / 14000)
      case ("B", "Y", _, _, _) =>
        ("B", "Y", 1L, 1200L * 1000000 / 8300, 4000L * 1000000 / 14000)
      case ("C", "Z", _, _, _) =>
        ("C", "Z", 1L, 100L * 1000000 / 8300, 3000L * 1000000 / 14000)
      case other => other
    }
    assert(fGot == fExp, s"$fGot != $fExp")
    CachedStages.release(spark)
    // cross-operator law: ABC marginals of the matrix == q174's counts
    val matrix = Relational.abcXyzMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    CachedStages.release(spark)
    val q174 = Relational.abcClassification(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    CachedStages.release(spark)
    val marginals = matrix.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    Seq("A", "B", "C").foreach(a =>
      assert(marginals.getOrElse(a, 0L) == q174.getOrElse(a, 0L),
        s"$a: $marginals vs $q174"))
    // graded replay in BigInt (global-window ABC + CV2 XYZ)
    val raw = Tables(spark, dir, "lineitem")
      .selectExpr("l_partkey", "year(l_shipdate)", "l_quantity",
        "l_extendedprice", "l_discount").collect()
      .map { r =>
        (r.getLong(0), r.getInt(1),
          (BigDecimal(r.getDouble(2)).setScale(2,
            BigDecimal.RoundingMode.HALF_UP) * 100).toBigInt,
          BigDecimal(r.getDouble(3)).setScale(2,
            BigDecimal.RoundingMode.HALF_UP) *
            (1 - BigDecimal(r.getDouble(4)).setScale(2,
              BigDecimal.RoundingMode.HALF_UP)))
      }
    val years = raw.map(_._2)
    val mm = BigInt(years.max - years.min + 1)
    val perPart = raw.groupBy(_._1).toSeq.map { case (p, g) =>
      val byY = g.groupBy(_._2).values.map(_.map(_._3).sum)
      val sq = byY.sum; val q2 = byY.map(q => q * q).sum
      val r4 = (g.map(_._4).sum * 10000).toBigInt
      val varNum = mm * q2 - sq * sq
      val xyz = if (varNum * 4 <= sq * sq) "X"
        else if (varNum <= sq * sq) "Y" else "Z"
      (p, r4, sq, xyz)
    }
    val totalR = perPart.map(_._2).sum; val totalQ = perPart.map(_._3).sum
    val ordered = perPart.sortBy(pp => (-pp._2, pp._1))
    val cums = ordered.scanLeft(BigInt(0))(_ + _._2)
    val classed = ordered.zip(cums).map { case ((p, r4, sq, xyz), cb) =>
      val abc = if (cb * 5 < totalR * 4) "A"
        else if (cb * 20 < totalR * 19) "B" else "C"
      (abc, xyz, r4, sq)
    }
    val expect = zero.map { case (a, x, _, _, _) =>
      val g = classed.filter(c => c._1 == a && c._2 == x)
      (a, x, g.size.toLong,
        (g.map(_._3).sum * 1000000 / totalR).toLong,
        (g.map(_._4).sum * 1000000 / totalQ).toLong)
    }
    assert(matrix == expect, s"$matrix != $expect")
  }
  test("q197 price dispersion: one part per band by hand + replay") {
    import spark.implicits._
    // unit price $10 vs: $10 (uniform), $10.05 (0.5%), $10.40 (4%),
    // $11.50 (15%), $25 (150%); part 5 carries its own brand
    val li = Seq(
      (1L, 10.0, 100.00), (1L, 10.0, 100.00),
      (2L, 10.0, 100.00), (2L, 10.0, 100.50),
      (3L, 10.0, 100.00), (3L, 10.0, 104.00),
      (4L, 10.0, 100.00), (4L, 10.0, 115.00),
      (5L, 10.0, 100.00), (5L, 10.0, 250.00))
      .toDF("l_partkey", "l_quantity", "l_extendedprice")
    val parts = Seq((1L, "BX"), (2L, "BX"), (3L, "BX"), (4L, "BX"),
      (5L, "BY")).toDF("p_partkey", "p_brand")
    val fGot = Relational.priceDispersionOf(li, parts).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(fGot == Seq(
      ("BX", 4L, 1L, 1L, 1L, 1L, 0L, 150000L),
      ("BY", 1L, 0L, 0L, 0L, 0L, 1L, 1500000L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay in BigInt
    def c2(x: Double) = (BigDecimal(x).setScale(2,
      BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
    val brand = Tables(spark, dir, "part")
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val per = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0),
        BigInt(c2(r.getDouble(2))) * 1000000 / c2(r.getDouble(1))))
      .groupBy(_._1).toSeq
      .map { case (p, g) =>
        val us = g.map(_._2)
        val spread = (us.max - us.min) * 1000000 / us.min
        (brand(p), spread)
      }
    val expect = per.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, g) =>
      val s = g.map(_._2)
      (b, s.size.toLong, s.count(_ == 0).toLong,
        s.count(x => x > 0 && x <= 10000).toLong,
        s.count(x => x > 10000 && x <= 50000).toLong,
        s.count(x => x > 50000 && x <= 200000).toLong,
        s.count(_ > 200000).toLong, s.max.toLong)
    }
    val got = Relational.priceDispersion(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == expect, s"${got.take(2)} != ${expect.take(2)}")
    CachedStages.release(spark)
  }
  test("q198 interarrival: regular/bursty/degenerate fixtures + replay") {
    import spark.implicits._
    // r: clockwork gaps -> CV2=0 regular; b: 1,1,998 -> CV2=1.988
    // bursty; d: all simultaneous -> S=0 surfaces 'degenerate';
    // user 9 contributes its own partition to r (gaps never cross
    // users)
    val fixture = Seq(
      (1L, "r", 0L), (1L, "r", 100L), (1L, "r", 200L), (1L, "r", 300L),
      (9L, "r", 50L), (9L, "r", 150L),
      (1L, "b", 0L), (1L, "b", 1L), (1L, "b", 2L), (1L, "b", 1000L),
      (1L, "d", 5L), (1L, "d", 5L), (1L, "d", 5L))
      .toDF("user_id", "event_type", "ts_sec")
    val fGot = Events.interarrivalDispersionOf(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getString(5))).toSeq
    assert(fGot == Seq(
      ("b", 3L, 1000L, 333L, Some(1988018L), "bursty"),
      ("d", 2L, 0L, 0L, None, "degenerate"),
      ("r", 4L, 400L, 100L, Some(0L), "regular")), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay: sorted-ts diffs per (user, type) in BigInt
    val raw = Events.events(spark, dir)
      .select("user_id", "event_type", "ts_sec").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = raw.groupBy(_._2).toSeq.sortBy(_._1).map { case (t, g) =>
      val gaps = g.groupBy(_._1).values.toSeq.flatMap { ug =>
        val ts = ug.map(_._3).sorted
        ts.zip(ts.drop(1)).map { case (a, b) => b - a }
      }
      val n = BigInt(gaps.size); val s1 = gaps.map(BigInt(_)).sum
      val s2 = gaps.map(x => BigInt(x) * x).sum
      val cv2 = if (s1 == 0) None
        else Some(((n * s2 - s1 * s1) * 1000000 / (s1 * s1)).toLong)
      val cls = cv2 match {
        case None => "degenerate"
        case Some(c) if c < 900000 => "regular"
        case Some(c) if c <= 1100000 => "poisson_like"
        case _ => "bursty"
      }
      (t, n.toLong, s1.toLong, (s1 / n).toLong, cv2, cls)
    }
    val got = Events.interarrivalDispersion(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getString(5))).toSeq
    assert(got == expect, s"$got != $expect")
    CachedStages.release(spark)
  }
  test("q199 value drift: planted shift flags, stationary doesn't, " +
    "graded replay") {
    import spark.implicits._
    def ev(day: Long, v: Double, n: Int) =
      Seq.fill(n)(("purchase", day * 86400L, v))
    // h1 buys at $15 (band 1), h2 at $55 (band 5): a 2x2 diagonal,
    // every cell expects 10, contrib 10 each, chi2 = 40 >> crit(1)
    val shifted = (0L to 4L).flatMap(d => ev(d, 15.0, 4)) ++
      (5L to 9L).flatMap(d => ev(d, 55.0, 4))
    val sGot = Events.valueDriftChi2Of(
      shifted.toDF("event_type", "ts_sec", "value")).collect()
    assert(sGot.length == 4)
    sGot.foreach { r =>
      assert(r.getLong(3) == 10000000L && r.getLong(5) == 40000000L, r)
      assert(r.getLong(6) == 1L && r.getLong(7) == 3841459L &&
        r.getLong(8) == 1L, r)
    }
    CachedStages.release(spark)
    // identical halves -> chi2 = 0, no flag
    val flat = (0L to 9L).flatMap(d => ev(d, 15.0, 2) ++ ev(d, 55.0, 2))
    val fGot = Events.valueDriftChi2Of(
      flat.toDF("event_type", "ts_sec", "value")).collect()
    fGot.foreach(r => assert(r.getLong(4) == 0L && r.getLong(5) == 0L &&
      r.getLong(8) == 0L, r))
    CachedStages.release(spark)
    // graded replay in BigInt
    val raw = Events.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select("ts_sec", "value").collect()
      .map(r => (r.getLong(0) / 86400L,
        (BigDecimal(r.getDouble(1)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact / 1000L))
    val mid = (raw.map(_._1).min + raw.map(_._1).max + 1) / 2
    val keyed = raw.map { case (d, b) => (if (d < mid) "h1" else "h2", b) }
    val obs = keyed.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val halves = keyed.map(_._1).distinct.sorted
    val bands = keyed.map(_._2).distinct.sorted
    val n = BigInt(keyed.length)
    val rM = halves.map(h => h -> BigInt(keyed.count(_._1 == h))).toMap
    val cM = bands.map(b => b -> BigInt(keyed.count(_._2 == b))).toMap
    val cells = for (h <- halves; b <- bands) yield {
      val o = BigInt(obs.getOrElse((h, b), 0L))
      val e = rM(h) * cM(b) * 1000000 / n
      (h, b, o, e,
        if (e == 0) None else Some((o * 1000000 - e) * (o * 1000000 - e) / e))
    }
    val chi2 = cells.flatMap(_._5).sum
    val df = (halves.size - 1) * (bands.size - 1)
    val crit = Events.Chi2Crit95Ppm(df - 1)
    val dr = if (chi2 > crit) 1L else 0L
    val expect = cells.map { case (h, b, o, e, c) =>
      (h, b, o.toLong, e.toLong, c.map(_.toLong).getOrElse(0L),
        chi2.toLong, df.toLong, crit, dr)
    }.toSeq
    val got = Events.valueDriftChi2(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) 0L else r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q200 evergreen: hand weeks with a pinned tie + graded replay") {
    import spark.implicits._
    def line(p: Long, day: Long, rev: Double) =
      (p, day * 86400000000L, rev, 0.0)
    // weeks 0..2 (k=2): p1 always #1; p2 top in wk0/wk1 (wk0 via the
    // partkey tie-break against p5's equal revenue); p3 enters wk2 at
    // #2; p4 never ranks
    val li = Seq(
      line(1L, 0, 100.0), line(1L, 7, 100.0), line(1L, 14, 100.0),
      line(2L, 1, 50.0), line(2L, 8, 50.0), line(2L, 15, 5.0),
      line(5L, 2, 50.0),
      line(3L, 16, 60.0),
      line(4L, 3, 1.0), line(4L, 9, 1.0), line(4L, 17, 1.0))
      .toDF("l_partkey", "s_us", "l_extendedprice", "l_discount")
      .selectExpr("l_partkey", "timestamp_micros(s_us) AS l_shipdate",
        "l_extendedprice", "l_discount")
    val fGot = Relational.evergreenOf(li, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(fGot == Seq(
      (1L, 3L, 3L, 1000000L, 1L),
      (2L, 2L, 3L, 666666L, 2L),
      (3L, 1L, 3L, 333333L, 2L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay in BigInt (k=20)
    val raw = Tables(spark, dir, "lineitem")
      .selectExpr("l_partkey",
        "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000 div 7",
        "l_extendedprice", "l_discount").collect()
      .map(r => ((r.getLong(1), r.getLong(0)),
        BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) *
          (1 - BigDecimal(r.getDouble(3)).setScale(2,
            BigDecimal.RoundingMode.HALF_UP))))
    val weekly = raw.groupBy(_._1).view
      .mapValues(g => (g.map(_._2).sum * 10000).toBigInt).toSeq
      .map { case ((w, p), r4) => (w, p, r4) }
    val top = weekly.groupBy(_._1).values.toSeq.flatMap { g =>
      g.sortBy(x => (-x._3, x._2)).zipWithIndex.take(20)
        .map { case ((w, p, _), i) => (w, p, i + 1L) }
    }
    val nWeeks = top.map(_._1).distinct.size.toLong
    val expect = top.groupBy(_._2).toSeq.map { case (p, g) =>
      (p, g.size.toLong, nWeeks, g.size * 1000000L / nWeeks,
        g.map(_._3).min)
    }.sortBy(x => (-x._2, x._1))
    val got = Relational.evergreenBestsellers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q201 FK coverage: orphan + null fixture, graded all-clean") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(1L), Some(2L), None, Some(9L))
      .toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    val fGot = Relational.fkCoverageOf(Seq(
      ("t.fk->p", child, "fk", parent, "pk"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(fGot == Seq(("t.fk->p", 5L, 1L, 1L, 600000L)), fGot)
    CachedStages.release(spark)
    // graded: every edge of the synthetic schema must be fully covered
    val got = Relational.fkCoverageAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.size == 7 && got.forall(r =>
      r._3 == 0L && r._4 == 0L && r._5 == 1000000L), got.mkString(";"))
    // child counts replay
    val sizes = Map("customer" -> Tables(spark, dir, "customer").count(),
      "lineitem" -> Tables(spark, dir, "lineitem").count(),
      "nation" -> Tables(spark, dir, "nation").count(),
      "orders" -> Tables(spark, dir, "orders").count(),
      "supplier" -> Tables(spark, dir, "supplier").count())
    got.foreach(r => assert(r._2 == sizes(r._1.split('.').head), r))
    CachedStages.release(spark)
  }
  test("q202 FD profile: g3 plurality by hand; keys hold on graded") {
    import spark.implicits._
    // d1 -> {a,a,b}: plurality 2, one removal; d2 -> {c}: clean
    val t = Seq(("d1", "a"), ("d1", "a"), ("d1", "b"), ("d2", "c"))
      .toDF("det", "dep")
    val fGot = Relational.fdProfileOf(Seq(("t", "det", "dep", t)))
      .collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getLong(8))).toSeq
    assert(fGot == Seq(("t", 4L, 2L, 1L, 1L, 250000L, 0L)), fGot)
    CachedStages.release(spark)
    // graded replay in plain Scala over every candidate
    val expect = Relational.FdCandidates.map { case (tn, det, dep) =>
      val rows = Tables(spark, dir, tn).selectExpr(
        s"CAST($det AS STRING)", s"CAST($dep AS STRING)").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val per = rows.groupBy(_._1).values.toSeq.map { g =>
        (g.size.toLong, g.groupBy(_._2).values.map(_.size).max.toLong,
          g.map(_._2).distinct.size.toLong)
      }
      val g3 = per.map(p => p._1 - p._2).sum
      (tn, det, dep, per.map(_._1).sum, per.size.toLong,
        per.count(_._3 > 1).toLong, g3,
        g3 * 1000000L / per.map(_._1).sum, if (g3 == 0) 1L else 0L)
    }.sortBy(x => (x._1, x._2, x._3))
    val got = Relational.fdProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8))).toSeq
    assert(got == expect, s"${got.take(2)} != ${expect.take(2)}")
    // the key-determined candidates hold; the nation->segment one can't
    val byDet = got.map(r => (r._1, r._2) -> r._9).toMap
    assert(byDet(("customer", "c_custkey")) == 1L)
    assert(byDet(("nation", "n_name")) == 1L)
    assert(byDet(("customer", "c_nationkey")) == 0L)
    CachedStages.release(spark)
  }
  test("q203 burstiness: hand cf/df + graded replay") {
    import spark.implicits._
    // aa repeats within doc 1 (bursts), bb spreads thin
    val docs = Seq((1L, "aa aa aa bb"), (2L, "aa bb"))
      .toDF("doc_id", "text")
    val fGot = TextOps.tokenBurstinessOf(docs, 2L, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(fGot == Seq(("aa", 4L, 2L, 2000000L), ("bb", 2L, 2L, 1000000L)),
      fGot)
    CachedStages.release(spark)
    // graded replay
    val toks = Tables(spark, dir, "documents")
      .selectExpr("doc_id",
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
      .collect()
      .flatMap(r => r.getSeq[String](1).map(t => (r.getLong(0), t)))
    val expect = toks.groupBy(_._2).toSeq.map { case (t, g) =>
      (t, g.size.toLong, g.map(_._1).distinct.size.toLong)
    }.filter(_._2 >= 20L)
      .map { case (t, cf, df) => (t, cf, df, cf * 1000000L / df) }
      .sortBy(x => (-x._4, x._1)).take(20)
    val got = TextOps.tokenBurstiness(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q204 market share: swap fixture + graded replay") {
    import spark.implicits._
    def ord(cust: Long, y: Int, total: Double) =
      (1000L + cust * 10 + y, cust,
        java.sql.Timestamp.valueOf(s"$y-03-01 00:00:00"), total)
    // nation A holds 75% in 1995, collapses to 25% in 1996; B mirrors
    val orders = Seq(ord(1, 1995, 300.0), ord(1, 1996, 100.0),
      ord(2, 1995, 100.0), ord(2, 1996, 300.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Seq((1L, 0), (2L, 1)).toDF("c_custkey", "c_nationkey")
    val nat = Seq((0, "ALPHA"), (1, "BRAVO"))
      .toDF("n_nationkey", "n_name")
    val fGot = Relational.marketShareShiftOf(orders, cust, nat).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(fGot == Seq(
      ("ALPHA", 1995L, 30000L, 750000L, None),
      ("ALPHA", 1996L, 10000L, 250000L, Some(-500000L)),
      ("BRAVO", 1995L, 10000L, 250000L, None),
      ("BRAVO", 1996L, 30000L, 750000L, Some(500000L))), fGot)
    CachedStages.release(spark)
    // graded replay in BigInt
    val natName = Tables(spark, dir, "nation")
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val custNat = Tables(spark, dir, "customer")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Tables(spark, dir, "orders")
      .selectExpr("o_custkey", "year(CAST(o_orderdate AS TIMESTAMP))",
        "o_totalprice").collect()
      .map(r => ((natName(custNat(r.getLong(0))), r.getInt(1).toLong),
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val ny = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val yt = ny.toSeq.groupBy(_._1._2).view
      .mapValues(_.map(x => BigInt(x._2)).sum).toMap
    val shares = ny.toSeq.map { case ((n, y), rc) =>
      (n, y, rc, (BigInt(rc) * 1000000 / yt(y)).toLong)
    }.sortBy(x => (x._1, x._2))
    val expect = shares.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (_, g) =>
        val srt = g.sortBy(_._2)
        srt.zip(None +: srt.map(x => Some(x._4))).map {
          case ((n, y, rc, sp), prev) => (n, y, rc, sp, prev.map(sp - _))
        }
    }
    val got = Relational.marketShareShift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q205 dom profile: occurrence normalization + pinned peak tie " +
    "+ graded replay") {
    import spark.implicits._
    def replay(rows: Seq[(String, Long, Long)]) = {
      val daily = rows.groupBy(r => (r._1, r._2)).view
        .mapValues(_.map(_._3).sum).toSeq
        .map { case ((t, d), c) => (t, d, c) }
      val mn = daily.map(_._2).min; val mx = daily.map(_._2).max
      def dom(d: Long) = java.time.LocalDate.ofEpochDay(d)
        .getDayOfMonth.toLong
      val cal = (mn to mx).map(d => (d, dom(d)))
      val occ = cal.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val totalDays = BigInt(cal.size)
      val byType = daily.groupBy(_._1)
      byType.toSeq.sortBy(_._1).flatMap { case (t, g) =>
        val tot = g.map(x => BigInt(x._3)).sum
        val byDom = g.groupBy(x => dom(x._2)).view
          .mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
        val withIdx = byDom.map { case (dm, c) =>
          (dm, c, occ(dm),
            (BigInt(c) * totalDays * 1000000 /
              (BigInt(occ(dm)) * tot)).toLong)
        }
        val pk = withIdx.map(x => x._4 * 100 - x._1).max
        withIdx.map { case (dm, c, o, i) =>
          (t, dm, c, o, i, if (i * 100 - dm == pk) 1L else 0L)
        }
      }
    }
    // Jan 1 + Feb 1 (dom 1, occ 2) vs Jan 31 (dom 31, occ 1), equal
    // cents per occurrence: the index must come out IDENTICAL
    // (19666666) and the peak tie resolves to the smaller dom
    val fixture = Seq(("p", 0L, 100L), ("p", 31L, 100L), ("p", 30L, 100L))
      .map { case (t, d, c) => (t, d * 86400L, c.toDouble / 100.0) }
    val fGot = Events.domProfileOf(
      fixture.toDF("event_type", "ts_sec", "value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // span day 0..31 = 32 days: idx = 200*32e6/600 = 100*32e6/300
    val dom1 = fGot.find(_._2 == 1L).get
    val dom31 = fGot.find(_._2 == 31L).get
    assert(dom1._5 == 10666666L && dom31._5 == 10666666L, fGot)
    assert(dom1._6 == 1L && dom31._6 == 0L, fGot)
    assert(fGot == replay(fixture.map(r =>
      (r._1, r._2 / 86400L, (r._3 * 100).round))), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay
    val raw = Events.events(spark, dir)
      .select("event_type", "ts_sec", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L,
        (BigDecimal(r.getDouble(2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val got = Events.domProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == replay(raw), s"${got.take(3)}")
    CachedStages.release(spark)
  }
  test("q206 CR-k: hand ladder, small-nation saturation, tie rule, " +
    "graded replay") {
    import spark.implicits._
    def replay(rows: Seq[(Long, Long, Long)]) =
      rows.groupBy(_._3).toSeq.sortBy(_._1).map { case (nat, g) =>
        val tot = g.map(x => BigInt(x._2)).sum
        val srt = g.sortBy(x => (-x._2, x._1)).map(x => BigInt(x._2))
        def cr(k: Int) = (srt.take(k).sum * 1000000 / tot).toLong
        (nat, g.size.toLong, tot.toLong, cr(1), cr(4), cr(10))
      }
    // nation 0: 12 buyers incl. an equal-spend pair at the CR1
    // boundary (custkey picks the winner, CR1 unchanged either way);
    // nation 1: 3 buyers -> CR10 saturates at exactly 1e6
    val n0 = Seq((1L, 500L), (2L, 100L), (3L, 100L), (4L, 100L)) ++
      (5L to 10L).map(c => (c, 50L)) ++ Seq((11L, 25L), (12L, 25L))
    val n1 = Seq((21L, 70L), (22L, 20L), (23L, 10L))
    val rows = n0.map(x => (x._1, x._2, 0L)) ++
      n1.map(x => (x._1, x._2, 1L))
    val fGot = Relational.concentrationOf(
      rows.toDF("o_custkey", "cents", "nation")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(fGot == replay(rows), s"$fGot")
    assert(fGot(0)._4 == 500L * 1000000 / 1150 &&
      fGot(0)._5 == 800L * 1000000 / 1150 &&
      fGot(0)._6 == 1100L * 1000000 / 1150, fGot(0))
    assert(fGot(1)._6 == 1000000L, fGot(1))
    CachedStages.release(spark)
    // graded replay
    val spend = Tables(spark, dir, "orders")
      .selectExpr("o_custkey",
        "CAST(CAST(o_totalprice AS DECIMAL(12, 2)) * 100 AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val nat = Tables(spark, dir, "customer")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val graded = spend.map { case (c, s) => (c, s, nat(c)) }
    val got = Relational.concentrationRatios(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == replay(graded), s"${got.take(2)}")
    CachedStages.release(spark)
  }
  test("q207 promo lift: hand baseline arithmetic + graded replay") {
    import spark.implicits._
    // 5% discount moves 2x the average units; baseline row = 1e6
    val li = Seq((0.00, 10.0), (0.00, 20.0), (0.05, 30.0))
      .toDF("l_discount", "l_quantity")
    val fGot = Relational.promoLiftOf(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(fGot == Seq((0L, 2L, 3000L, 1500L, 1000000L),
      (50000L, 1L, 3000L, 3000L, 2000000L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay
    def ppm6(x: Double) = (BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact
    def c2(x: Double) = (BigDecimal(x).setScale(2,
      BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
    val raw = Tables(spark, dir, "lineitem")
      .select("l_discount", "l_quantity").collect()
      .map(r => (ppm6(r.getDouble(0)), c2(r.getDouble(1))))
    val per = raw.groupBy(_._1).toSeq.sortBy(_._1).map { case (d, g) =>
      (d, BigInt(g.size), g.map(x => BigInt(x._2)).sum)
    }
    val (_, n0, q0) = per.find(_._1 == 0L).get
    val expect = per.map { case (d, n, q) =>
      (d, n.toLong, q.toLong, (q / n).toLong,
        (q * n0 * 1000000 / (n * q0)).toLong)
    }
    val got = Relational.promoLift(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q208 dead stock: alive/stale/never-sold fixture + graded replay") {
    import spark.implicits._
    def ts(d: Long) = d * 86400000000L
    val parts = Seq((1L, "B1", 100.00), (2L, "B1", 250.00),
      (3L, "B2", 400.00))
      .toDF("p_partkey", "p_brand", "p_retailprice")
    val li = Seq((1L, ts(1000)), (2L, ts(100)))
      .toDF("l_partkey", "s_us")
      .selectExpr("l_partkey", "timestamp_micros(s_us) AS l_shipdate")
    val fGot = Relational.deadStockOf(parts, li, 365L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(fGot == Seq(("B1", 2L, 1L, 500000L, 25000L),
      ("B2", 1L, 1L, 1000000L, 40000L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay
    def c2(x: Double) = (BigDecimal(x).setScale(2,
      BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
    val sold = Tables(spark, dir, "lineitem")
      .selectExpr("l_partkey",
        "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cutoff = sold.map(_._2).max - 365L
    val alive = sold.filter(_._2 > cutoff).map(_._1).toSet
    val expect = Tables(spark, dir, "part")
      .select("p_partkey", "p_brand", "p_retailprice").collect()
      .map(r => (r.getString(1), r.getLong(0), c2(r.getDouble(2))))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (b, g) =>
        val dead = g.filterNot(x => alive(x._2))
        (b, g.size.toLong, dead.size.toLong,
          dead.size * 1000000L / g.size, dead.map(_._3).sum)
      }
    val got = Relational.deadStock(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"${got.take(2)} != ${expect.take(2)}")
    CachedStages.release(spark)
  }
  test("q209 degree census: star r=-1, uniform-degree NULL, " +
    "assortative +1, graded replay") {
    import spark.implicits._
    def undirected(pairs: Seq[(Long, Long)]) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    def collect7(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).toSeq
    // star K_{1,3}: hubs link only leaves -> exactly r = -1
    val star = collect7(Graph.degreeCensusOf(
      undirected(Seq((0L, 1L), (0L, 2L), (0L, 3L)))))
    assert(star == Seq((0L, 3L, 1L, 1L, 6L, -1L, Some(1000000L)),
      (1L, 1L, 3L, 3L, 6L, -1L, Some(1000000L))), star.mkString(";"))
    CachedStages.release(spark)
    // 4-cycle: degree-regular, zero variance -> NULL r2, sign 0
    val cyc = collect7(Graph.degreeCensusOf(
      undirected(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))))
    assert(cyc == Seq((1L, 4L, 2L, 2L, 8L, 0L, None)), cyc.mkString(";"))
    CachedStages.release(spark)
    // triangle + lone edge: like links like -> exactly r = +1
    val assoc = collect7(Graph.degreeCensusOf(
      undirected(Seq((1L, 2L), (2L, 3L), (3L, 1L), (8L, 9L)))))
    assert(assoc.forall(r => r._6 == 1L && r._7 == Some(1000000L)),
      assoc.mkString(";"))
    CachedStages.release(spark)
    // graded replay: rebuild the strong graph + both passes in BigInt
    val op = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val strong = op.groupBy(_._1).values.toSeq.flatMap { g =>
      val ps = g.map(_._2).toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.groupBy(identity).filter(_._2.size >= 2).keySet.toSeq
    val deg = strong.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ends = strong.map { case (s, d) => (deg(s), deg(d)) }
    val m = BigInt(ends.size)
    val mx = ends.map(x => BigInt(x._1)).sum * 1000 / m
    val my = ends.map(x => BigInt(x._2)).sum * 1000 / m
    val covM = ends.map { case (x, y) =>
      (BigInt(x) * 1000 - mx) * (BigInt(y) * 1000 - my) }.sum / m
    val vxM = ends.map { case (x, _) =>
      val d = BigInt(x) * 1000 - mx; d * d }.sum / m
    val vyM = ends.map { case (_, y) =>
      val d = BigInt(y) * 1000 - my; d * d }.sum / m
    val r2 = if (vxM * vyM == 0) None
      else Some((covM * covM * 1000000 / (vxM * vyM)).toLong)
    val sign = covM.signum.toLong
    val expect = deg.values.groupBy(d =>
        63 - java.lang.Long.numberOfLeadingZeros(d)).toSeq
      .sortBy(_._1)
      .map { case (b, ds) =>
        (b.toLong, ds.size.toLong, ds.min, ds.max, m.toLong, sign, r2)
      }
    val got = collect7(Graph.degreeCensus(spark, dir))
    assert(got == expect, s"$got != $expect")
    CachedStages.release(spark)
  }
  test("q210 hubness: forced hub geometry + rounding-tie pin + replay") {
    import spark.implicits._
    // c pulls a and b (their 1-NN), a pulls c (tie vs b broken by id)
    // and d: histogram {0: 2, 2: 2}, hub = c (min id at max)
    val fixture = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(4.0f, 1.0f)),
      (3L, Array(4.0f, -1.0f)), (4L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "v")
    val fGot = Similarity.knnHubnessOf(spark, fixture, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(fGot == Seq((0L, 2L, 4L, 500000L, 2L, 1L),
      (2L, 2L, 4L, 500000L, 2L, 1L)), fGot.mkString(";"))
    CachedStages.release(spark)
    // graded replay: kernel-order double cosine, HALF_UP round 6
    val vs = Similarity.rawVectors(spark, dir)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) {
        xy += a(i).toDouble * b(i); xx += a(i).toDouble * a(i)
        yy += b(i).toDouble * b(i); i += 1
      }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP)
    val nk = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    vs.foreach { case (q, qv) =>
      vs.filter(_._1 != q)
        .map { case (i, v) => (r6(cos(qv, v)), i) }
        .sortBy { case (c, i) => (-c, i) }.take(5)
        .foreach { case (_, i) => nk(i) += 1L }
    }
    val perVec = vs.map(v => nk(v._1))
    val nVecs = vs.length.toLong
    val orphanPpm = perVec.count(_ == 0L) * 1000000L / nVecs
    val maxNk = perVec.max
    val hubId = vs.map(_._1).filter(i => nk(i) == maxNk).min
    val expect = perVec.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, g) =>
        (k, g.size.toLong, nVecs, orphanPpm, maxNk, hubId)
      }
    val got = Similarity.knnHubness(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"${got.take(3)} != ${expect.take(3)}")
    CachedStages.release(spark)
  }
  test("q211 clustering profile: triangle+pendant hand bands, " +
    "wedgeless NULLs, graded replay") {
    import spark.implicits._
    def undirected(pairs: Seq[(Long, Long)]) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    def collect8(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        r.getLong(7))).toSeq
    // triangle 1-2-3 + pendant 3-4: cc(1)=cc(2)=10^6, cc(3)=333333
    // (2*1*10^6 div 6), cc(4)=NULL (no wedge); bands: d=1 -> 0,
    // d∈{2,3} -> 1; mean band1 = 2333333 div 3; transitivity =
    // 2*3*10^6 div 10 = 600000; one triangle total.
    val got = collect8(Graph.clusteringProfileOf(
      undirected(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))))
    assert(got == Seq(
      (0L, 1L, 0L, None, 0L, Some(777777L), Some(600000L), 1L),
      (1L, 3L, 3L, Some(777777L), 1L, Some(777777L), Some(600000L), 1L)),
      got.mkString(";"))
    CachedStages.release(spark)
    // lone edge: no eligible node, every ratio NULL, honestly
    val lone = collect8(Graph.clusteringProfileOf(
      undirected(Seq((1L, 2L)))))
    assert(lone == Seq((0L, 2L, 0L, None, 0L, None, None, 0L)),
      lone.mkString(";"))
    CachedStages.release(spark)
    // graded replay: strong graph + exact triangles + both floors
    val op = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val strong = op.groupBy(_._1).values.toSeq.flatMap { g =>
      val ps = g.map(_._2).toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.groupBy(identity).filter(_._2.size >= 2).keySet.toSeq
    val deg = strong.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val adj = strong.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .toMap.withDefaultValue(Set.empty[Long])
    val und = strong.filter { case (s, d) => s < d }
    val t = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    und.foreach { case (u, v) =>
      (adj(u) & adj(v)).filter(_ > v).foreach { w =>
        t(u) += 1; t(v) += 1; t(w) += 1
      }
    }
    val nodes = deg.toSeq.map { case (id, d) =>
      val cc = if (d >= 2)
        Some((BigInt(t(id)) * 2 * 1000000 / (BigInt(d) * (d - 1))).toLong)
      else None
      (id, d, t(id), cc)
    }
    val elig = nodes.filter(_._4.isDefined)
    val avgCc = if (elig.isEmpty) None
      else Some((elig.map(n => BigInt(n._4.get)).sum /
        elig.size).toLong)
    val wedges2 = nodes.map(n => BigInt(n._2) * (n._2 - 1)).sum
    val trans = if (wedges2 == 0) None
      else Some((nodes.map(n => BigInt(n._3)).sum * 2 * 1000000 /
        wedges2).toLong)
    val nTri = nodes.map(_._3).sum / 3
    val expect = nodes.groupBy(n =>
        63L - java.lang.Long.numberOfLeadingZeros(n._2)).toSeq
      .sortBy(_._1)
      .map { case (b, g) =>
        val ge = g.filter(_._4.isDefined)
        val mean = if (ge.isEmpty) None
          else Some((ge.map(n => BigInt(n._4.get)).sum / ge.size).toLong)
        (b, g.size.toLong, ge.size.toLong, mean, g.map(_._3).max,
          avgCc, trans, nTri)
      }
    val graded = collect8(Graph.clusteringProfile(spark, dir))
    assert(graded == expect, s"$graded != $expect")
    CachedStages.release(spark)
  }
  test("q212 Mann-Whitney: planted dominance significant, all-tied " +
    "NULL, graded replay") {
    import spark.implicits._
    // a = 11..20, b = 1..10: complete separation. 2U_A = 200,
    // r = +1, v_fl = 7980 div 380 = 21 exactly,
    // z2 = 3*10^12*100 div (21*10^6) = 14285714 > 3841459.
    val sep = (1L to 10L).map(v => ("b", v)) ++
      (11L to 20L).map(v => ("a", v))
    val got = RankTests.mannWhitneyOf(sep.toDF("g", "v"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getString(8))).toSeq
    assert(got == Seq((10L, 10L, 200L, 1000000L, 0L, 14285714L,
      3841459L, 1L, "a")), got.mkString(";"))
    CachedStages.release(spark)
    // all observations tied: W = 0, z2/significant NULL, winner tie
    val tied = Seq(("a", 7L), ("a", 7L), ("b", 7L), ("b", 7L))
    val t = RankTests.mannWhitneyOf(tied.toDF("g", "v"), "a", "b")
      .collect().head
    assert(t.getLong(2) == 4L && t.getLong(3) == 0L &&
      t.isNullAt(5) && t.isNullAt(7) && t.getString(8) == "tie",
      t.toString)
    CachedStages.release(spark)
    // graded replay in BigInt: whole-dollar histogram, doubled
    // midranks, the three-floor z2 chain
    val obs = Tables(spark, dir, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderpriority")
        .isin("1-URGENT", "5-LOW"))
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0),
        (BigDecimal(r.getDouble(1)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toBigInt / 100))
    def replay(data: Seq[(String, BigInt)], ga: String, gb: String) = {
      val hist = data.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy(_._1)
      val mr2 = {
        var cum = BigInt(0)
        hist.map { case (v, c) =>
          val m = 2 * cum + c + 1; cum += c; (v, m)
        }.toMap
      }
      def stats(gr: String) = {
        val g = data.filter(_._1 == gr)
        (BigInt(g.size), g.map(x => mr2(x._2) * 1).sum)
      }
      val (na, r2a) = stats(ga); val (nb, _) = stats(gb)
      val n = BigInt(data.size)
      val tie = hist.map { case (_, c) =>
        BigInt(c) * c * c - c }.sum
      val u2 = r2a - na * (na + 1)
      val rppm = (u2 - na * nb) * 1000000 / (na * nb)
      val w = n * n * n - n - tie
      val vfl = w / (n * (n - 1))
      val z2 = if (vfl == 0) None
        else Some((3 * rppm * rppm * na * nb / (vfl * 1000000)).toLong)
      (na.toLong, nb.toLong, u2.toLong, rppm.toLong, tie.toLong, z2)
    }
    val e = replay(obs.toSeq, "1-URGENT", "5-LOW")
    val gr = RankTests.mannWhitney(spark, dir).collect().head
    assert((gr.getLong(0), gr.getLong(1), gr.getLong(2), gr.getLong(3),
      gr.getLong(4), if (gr.isNullAt(5)) None else Some(gr.getLong(5)))
      == e, s"$gr != $e")
    CachedStages.release(spark)
  }
  test("q213 Kruskal-Wallis: perfect 3-way separation exact H, " +
    "all-tied NULL, graded replay") {
    import spark.implicits._
    // a=1..5, b=6..10, c=11..15: mean ranks 3/8/13, true H = 12.5;
    // the ppm floor gives d_ppm = ±666666, H_micro = 12499975.
    val sep = (1L to 5L).map(v => ("a", v)) ++
      (6L to 10L).map(v => ("b", v)) ++ (11L to 15L).map(v => ("c", v))
    val got = RankTests.kruskalWallisOf(sep.toDF("g", "v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getLong(9))).toSeq
    val crit2 = graft.ops.Events.Chi2Crit95Ppm(1)
    assert(got == Seq(
      ("a", 5L, 6L, 15L, 0L, 12499975L, 12499975L, 2L, crit2, 1L),
      ("b", 5L, 16L, 15L, 0L, 12499975L, 12499975L, 2L, crit2, 1L),
      ("c", 5L, 26L, 15L, 0L, 12499975L, 12499975L, 2L, crit2, 1L)),
      got.mkString(";"))
    CachedStages.release(spark)
    // every observation tied: tie correction c = 0 -> NULL verdict
    val tied = Seq(("a", 3L), ("a", 3L), ("b", 3L), ("b", 3L))
    val t = RankTests.kruskalWallisOf(tied.toDF("g", "v")).collect()
    assert(t.forall(r => r.isNullAt(6) && r.isNullAt(9)),
      t.mkString(";"))
    CachedStages.release(spark)
    // graded replay in BigInt over all five priorities
    val obs = Tables(spark, dir, "orders")
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0),
        (BigDecimal(r.getDouble(1)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP) * 100).toBigInt / 100))
      .toSeq
    val hist = obs.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy(_._1)
    val mr2 = {
      var cum = BigInt(0)
      hist.map { case (v, c) =>
        val m = 2 * cum + c + 1; cum += c; (v, m) }.toMap
    }
    val n = BigInt(obs.size)
    val tie = hist.map { case (_, c) => BigInt(c) * c * c - c }.sum
    val grps = obs.groupBy(_._1).view.mapValues { g =>
      (BigInt(g.size), g.map(x => mr2(x._2)).sum) }.toMap
    val sDev = grps.values.map { case (ng, r2g) =>
      val d2 = r2g - ng * (n + 1)
      val dppm = d2 * 1000000 / (ng * n)
      ng * dppm * dppm
    }.sum
    val hMicro = 3 * n * sDev / (1000000 * (n + 1))
    val cPm = 1000 - tie * 1000 / (n * n * n - n)
    val hTie = hMicro * 1000 / cPm
    val expect = grps.toSeq.sortBy(_._1).map { case (g, (ng, r2g)) =>
      (g, ng.toLong, (r2g / ng).toLong, n.toLong, tie.toLong,
        hMicro.toLong, hTie.toLong, 4L,
        graft.ops.Events.Chi2Crit95Ppm(3),
        if (hTie > graft.ops.Events.Chi2Crit95Ppm(3)) 1L else 0L)
    }
    val graded = RankTests.kruskalWallis(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getLong(9))).toSeq
    assert(graded == expect, s"$graded != $expect")
    CachedStages.release(spark)
  }
  test("q167 suite == the three standalone reports, melted") {
    def cell(r: org.apache.spark.sql.Row, m: String): Long =
      r.getAs[Number](m).longValue
    val suite = Dedup.dedupReportSuite(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    CachedStages.release(spark)
    val sv = Dedup.dedupSavings(spark, dir).collect().flatMap { r =>
      Seq("n_docs", "n_tokens", "n_docs_kept", "n_tokens_kept",
        "savings_ppm").map(m =>
        ("savings", r.getAs[String]("source"), m, cell(r, m)))
    }
    CachedStages.release(spark)
    val ev = Dedup.nearDupEval(spark, dir).collect().flatMap { r =>
      Seq("n_truth", "n_detected", "n_truth_detected", "recall_ppm",
        "n_organic").map(m => ("eval", "all", m, cell(r, m)))
    }
    CachedStages.release(spark)
    val ov = Dedup.qualityDupOverlap(spark, dir).collect().flatMap { r =>
      Seq("n_docs", "n_dup_members", "dup_ppm").map(m =>
        ("overlap", r.getAs[Number]("quality").longValue.toString, m,
          cell(r, m)))
    }
    CachedStages.release(spark)
    val expect = (sv ++ ev ++ ov).toSeq
    assert(suite.length == expect.length,
      s"${suite.length} != ${expect.length}")
    assert(suite.toSet == expect.toSet)
    CachedStages.release(spark)
  }
}

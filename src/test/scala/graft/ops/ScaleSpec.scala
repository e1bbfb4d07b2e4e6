package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._

/** Scale-technique tests: these assert PLAN SHAPES, not just results —
  * the properties that matter at 100 TB (shuffle placement, bucket
  * pruning) are decided at plan time and are checkable at any data size.
  */
class ScaleSpec extends SparkSpec {

  /** AQE-aware plan traversal: descends into query stages. */
  private object AQE extends AdaptiveSparkPlanHelper

  val dir = "/root/testdata/sf0.001"

  test("salted join returns exactly the unsalted result") {
    val li = Tables(spark, dir, "lineitem")
    // synthetic skew: fold most keys onto one hot key
    val fact = li.select(
      when(col("l_orderkey") % 7 =!= 0, lit(42L)).otherwise(col("l_orderkey"))
        .as("k"),
      col("l_linenumber"), col("l_quantity"))
    val dim = fact.select(col("k")).distinct()
      .withColumn("dim_tag", col("k") * 2)
    val plain = fact.join(dim, "k")
    val salted = SkewJoin.salted(fact, dim, "k", 8, col("l_linenumber"))
    assert(salted.count() == plain.count())
    val a = salted.groupBy("k").agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))
      .orderBy("k").collect().toSeq
    val b = plain.groupBy("k").agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))
      .orderBy("k").collect().toSeq
    assert(a == b)
  }

  test("salted join shuffles on (key, salt), spreading the hot key") {
    val li = Tables(spark, dir, "lineitem")
    val fact = li.select(lit(1L).as("k"), col("l_linenumber"))
    val dim = fact.select(col("k")).distinct().withColumn("d", lit(true))
    val salted = SkewJoin.salted(fact, dim, "k", 8, col("l_linenumber"))
    val plan = salted.queryExecution.sparkPlan.toString
    assert(plan.contains("__salt"), plan)
  }

  test("date-partitioned writes prune partitions at the scan") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("events_part").toString
    Events.events(spark, dir)
      .withColumn("day", to_date(col("ts_utc")))
      .write.partitionBy("day").mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out)
      .filter(col("day") === "2024-01-05")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    val expected = Events.events(spark, dir)
      .filter(to_date(col("ts_utc")) === "2024-01-05").count()
    assert(pruned.count() == expected)
    // the pruned scan reads only 1 of ~30 day-directories
    val dirs = new java.io.File(out).listFiles.count(_.getName.startsWith("day="))
    assert(dirs > 10, s"expected many day partitions, got $dirs")
  }

  test("grid-bucketed range join avoids the nested-loop plan and matches the naive join") {
    val ev = Events.events(spark, dir).select(col("ts_us"), col("event_id"))
    val windows = graft.TestData.syntheticWindows(spark, 20)
    val bucketed = RangeJoin.pointInInterval(ev, windows, "ts_us", "s", "e",
      3600000000L)
    val plan = bucketed.queryExecution.sparkPlan.toString
    assert(!plan.contains("NestedLoop"), plan)
    val naive = ev.join(windows, col("ts_us") >= col("s") && col("ts_us") < col("e"))
    assert(naive.queryExecution.sparkPlan.toString.contains("NestedLoop"))
    val a = bucketed.select("event_id", "w_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = naive.select("event_id", "w_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("64-bit SimHash banding matches a brute-force hamming scan (sign bit exercised)") {
    // corpus with an exact copy of every document: each (doc, copy) pair
    // is at hamming 0, so banding MUST recover it — including documents
    // whose 64-bit fingerprint has bit 63 set (negative BIGINT), the
    // case where a div-based band extraction would produce negative
    // bucket ids and the unsigned-shift path (Dedup.scala) is required.
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val corpus = docs.unionByName(
      docs.select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
    val fps = Dedup.withSimhash(corpus, bits = 64)
      .select("doc_id", "simhash")
    val negFps = fps.filter(col("simhash") < 0).count()
    assert(negFps > 0, "no fingerprint uses the sign bit; test is vacuous")
    val banded = Dedup.simhashNearDupPairs(corpus, bits = 64, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = fps.select(col("doc_id").as("da"), col("simhash").as("ha"))
    val b = fps.select(col("doc_id").as("db"), col("simhash").as("hb"))
    val brute = a.join(b, col("da") < col("db"))
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select("da", "db", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute,
      s"banded missed ${(brute -- banded).take(5)}; extra ${(banded -- brute).take(5)}")
    // every doc pairs with its planted copy at hamming 0
    assert(banded.count(_._3 == 0L) >= docs.count())
  }

  test("simhash hashes each token once: a single md5 in the optimized plan") {
    // the `bits` vote terms all read the precomputed `__hs` hash array;
    // CollapseProject must NOT inline it back into each term (64 md5
    // evaluations per token per doc). One md5 call in one projection,
    // at either width, is the shape that holds at corpus scale.
    val df = Tables(spark, dir, "documents")
    for (bits <- Seq(16, 64)) {
      val plan = Dedup.withSimhash(df, bits).queryExecution.optimizedPlan
      val md5Count = plan.collect { case n =>
        n.expressions.map(e => "md5".r.findAllIn(e.toString).size).sum
      }.sum
      assert(md5Count == 1, s"bits=$bits: expected one md5, found $md5Count")
    }
  }

  test("scale-mode centroids: O(1)-state avg plan, agrees with exact mode") {
    val scale = Similarity.labelCentroids(spark, dir, exact = false)
    val scalePlan = scale.queryExecution.executedPlan.toString
    assert(!scalePlan.contains("collect_list") && !scalePlan.contains("sort_array"),
      s"scale mode must not collect per-group values:\n$scalePlan")
    // positive control: the exact (oracle bit-parity) mode DOES collect,
    // so the plan-string check above is not vacuous
    val exact = Similarity.labelCentroids(spark, dir, exact = true)
    assert(exact.queryExecution.executedPlan.toString.contains("collect_list"))
    // numeric agreement: summation order is the only difference
    val s = scale.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val e = exact.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(s.keySet == e.keySet)
    s.foreach { case (k, v) =>
      val d = math.abs(v - e(k)) / math.max(1e-30, math.max(math.abs(v), math.abs(e(k))))
      assert(d <= 1e-9, s"centroid $k: scale=$v exact=${e(k)} rel=$d")
    }
  }

  test("scale-mode kmeans: no per-group collection in the update, same clustering") {
    // plan shape: inspect the update step directly — inside kmeans the
    // eager localCheckpoint truncates lineage, so the returned
    // DataFrame's plan can't witness the update aggregate either way
    import spark.implicits._
    val fakeAssigned = Seq((0L, Array(1.0f, 2.0f), 0L))
      .toDF("vec_id", "v", "cluster")
    val scaleUpdate = Clustering.updateCentroids(fakeAssigned, exact = false)
      .queryExecution.executedPlan.toString
    assert(!scaleUpdate.contains("collect_list(val"),
      s"scale-mode update must not collect per-group values:\n$scaleUpdate")
    // positive control so the string probe is not vacuous
    assert(Clustering.updateCentroids(fakeAssigned, exact = true)
      .queryExecution.executedPlan.toString.contains("collect_list(val"))
    // the update aggregate is the only exact/scale difference; centroid
    // deltas of ~1e-15 relative cannot flip an argmin whose distances
    // differ at ~1e-2, so the ASSIGNMENTS (the query's output) must be
    // identical
    val e = Clustering.kmeans(spark, dir, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val s = Clustering.kmeans(spark, dir, exact = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(e.nonEmpty && s == e)
  }

  test("assignNearest equals the crossJoin+row_number formulation bit-for-bit; zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sess = spark
    import sess.implicits._
    // adversarial 64-dim vectors: exact ties between centroids 0/1 on
    // vec 100 (equidistant — the (dist, cluster) tie-break decides),
    // denormal-ish and large magnitudes to stress the double fold
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => ((seed * 31 + i * 17) % 101 - 50) / 7.0f)
    val tieVec = Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f)
    val vecs = ((0 until 40).map(s => (s.toLong, vec(s))) :+
      (100L, tieVec)).toDF("vec_id", "v")
    val cents = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cluster"),
        expr("transform(v, x -> CAST(x AS DOUBLE))").as("c"))
      .localCheckpoint()
    // reference: the formulation assignNearest replaced
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      .orderBy(col("dist").asc, col("cluster").asc)
    val ref = vecs.crossJoin(broadcast(cents))
      .withColumn("dist", expr(Clustering.distExpr("v")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "cluster", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val got = Clustering.assignNearest(vecs, "v", cents)
      .select("vec_id", "cluster", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    // bit-for-bit: same cluster, same double (== on doubles is exact
    // here — both paths run the identical sequential fold)
    assert(got.toSeq == ref.toSeq,
      s"argmin diverged:\nref=${ref.toSeq}\ngot=${got.toSeq}")
    // and the new path's plan moves ZERO rows: no Exchange anywhere
    val plan = Clustering.assignNearest(vecs, "v", cents)
      .queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "assignment must be a pure projection, no shuffle:\n" +
        plan.toString.take(3000))
  }

  test("bloom-prefiltered decontamination equals the exact report, prefilter in plan") {
    val exact = Dedup.contaminationReport(spark, dir).collect().toSeq
    val bloom = Dedup.contaminationReportBloom(spark, dir).collect().toSeq
    // no false negatives in the sketch + exact join removes false
    // positives -> row-for-row identical
    assert(exact.nonEmpty && bloom == exact)
    val plan = Dedup.contaminationReportBloom(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"))
  }

  test("semantic dedup flags exactly the planted copies at the graded threshold") {
    val rows = Clustering.semanticDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val planted = rows.keys.filter(_ >= 1000000L)
    // 500 base vectors -> 10 planted verbatim copies (every 50th)
    assert(rows.size == 510 && planted.size == 10)
    // every planted copy shares its source's cluster at cosine 1.0 and
    // carries the higher id -> flagged; no natural pair reaches 0.95
    assert(planted.forall(id => rows(id) == 1L))
    assert(rows.count(_._2 == 1L) == 10)
  }

  test("semantic dedup threshold is a real knob: tau > 1 keeps all, tau = -1 keeps one per cluster") {
    val all = Clustering.semanticDedup(spark, dir, tau = 1.01)
    assert(all.filter(col("is_dup") === 1L).count() == 0)
    val one = Clustering.semanticDedup(spark, dir, tau = -1.0)
    val nClusters = one.select("cluster").distinct().count()
    // at tau = -1 every vector with ANY lower-id cluster-mate is a dup,
    // leaving exactly the min-id vector of each cluster
    assert(one.filter(col("is_dup") === 0L).count() == nClusters)
  }

  test("scale-mode ivfKnn returns the graded results") {
    // centroid deltas are ~1e-15 relative and distances round to 6
    // decimals before the argmin, so the probe assignment — and hence
    // the whole result — is identical to the exact-mode graded q28
    val exact = Similarity.ivfKnn(spark, dir, exact = true).collect().toSeq
    val scale = Similarity.ivfKnn(spark, dir, exact = false).collect().toSeq
    assert(exact.nonEmpty && scale == exact)
  }

  test("scale-mode stratified cap: heap-reduce before the shuffle, same rows") {
    val docs = Tables(spark, dir, "documents")
    val exact = Sampling.stratifiedCapOf(docs, "source", 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val scale = Sampling.stratifiedCapOf(docs, "source", 10, exact = false)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(exact.nonEmpty && scale == exact)
    // plan shape: the window's hash exchange must consume the
    // heap-reduced survivors, i.e. sit ABOVE the MapPartitions reduction
    // (plans print root-first, so the exchange index comes earlier)
    val scalePlan = Sampling.stratifiedCapOf(docs, "source", 10, exact = false)
      .queryExecution.executedPlan.toString
    val exchangeIdx = scalePlan.indexOf("Exchange hashpartitioning")
    val mapIdx = scalePlan.indexOf("MapPartitions")
    assert(exchangeIdx >= 0 && mapIdx > exchangeIdx,
      s"expected Exchange above MapPartitions:\n$scalePlan")
    // positive control: the exact form windows the raw corpus directly
    val exactPlan = Sampling.stratifiedCapOf(docs, "source", 10)
      .queryExecution.executedPlan.toString
    assert(!exactPlan.contains("MapPartitions"), exactPlan)
    // a smaller cap at a different stratum column also agrees (guards
    // the heap displacement logic, not just the graded parameters)
    val e2 = Sampling.stratifiedCapOf(docs, "lang", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val s2 = Sampling.stratifiedCapOf(docs, "lang", 3, exact = false)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(e2.nonEmpty && s2 == e2)
    // a STRING key must survive the heap path with its native type and
    // schema (an earlier typed formulation cast keys to long, nulling
    // out and crashing on non-numeric keys)
    val exactStr = Sampling.stratifiedCapOf(docs, "lang", 4, keyCol = "text")
    val scaleStr =
      Sampling.stratifiedCapOf(docs, "lang", 4, keyCol = "text", exact = false)
    assert(scaleStr.schema == exactStr.schema, scaleStr.schema)
    val e3 = exactStr.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val s3 = scaleStr.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(e3.nonEmpty && s3 == e3)
  }

  test("range join: inverted intervals yield zero rows, not a descending grid") {
    import spark.implicits._
    val pts = spark.range(10).select(col("id").as("p"))
    val iv = Seq((1L, 100L, 0L), (2L, 2L, 5L)).toDF("w_id", "s", "e")
    val out = RangeJoin.pointInInterval(pts, iv, "p", "s", "e", 10L)
      .select("w_id", "p").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the inverted window (100, 0) matches nothing; [2, 5) matches 2,3,4
    assert(out == Set((2L, 2L), (2L, 3L), (2L, 4L)), out)
  }

  test("bucketed tables co-locate: the join plans with zero shuffles") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      Tables(spark, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("ord_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and the result is still correct
      val expected = Tables(spark, dir, "lineitem")
        .join(Tables(spark, dir, "orders"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q60 plan: bucket-count stage cached once, lean verdicts broadcast back") {
    val report = Importance.importanceReport(spark, dir)
    val plan = report.queryExecution.executedPlan.toString
    // the corpus-sized counts table must come from the persisted stage
    // (scored AND histogrammed off one materialization) ...
    assert(plan.contains("InMemoryTableScan"), plan.take(2000))
    // ... and the 8192-row lean table must broadcast onto it — a
    // shuffle join here would shuffle the corpus-sized side
    assert(plan.contains("BroadcastHashJoin")
      || plan.contains("BroadcastExchange"), plan.take(2000))
    CachedStages.release(spark)
  }

  test("q61 plan: probes broadcast, corpus side never exchanges before the window") {
    val topk = Quantization.quantizedTopK(spark, dir, 3)
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // quantization is a projection: no exchange may appear below the
    // broadcast join (the only shuffles are the rank window + sort)
    val beforeJoin = plan.substring(plan.indexOf("BroadcastNestedLoopJoin"))
    assert(!beforeJoin.replaceAll("(?s)BroadcastExchange.*", "")
      .contains("Exchange hashpartitioning"), plan.take(2000))
  }

  test("q70 plan: both enumeration joins broadcast — the wedge stream never shuffles") {
    val tri = Graph.copurchaseTriangles(spark, dir)
    val plan = tri.queryExecution.executedPlan.toString
    // wedge build + closing probe both against broadcast edge sets
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2, plan.take(3000))
    // the oriented edge list itself is the persisted stage
    assert(plan.contains("InMemoryTableScan"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q76 plan: the |dims|-row range table broadcasts; the corpus stream stays in place") {
    val scaled = Features.minmaxScaledEmbeddings(spark, dir)
    val plan = scaled.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the exploded corpus side must not hash-exchange before the join
    // (only the range-table aggregate and the final sort may exchange)
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    val corpusSide = plan.substring(joinIdx)
      .replaceAll("(?s)BroadcastExchange.*", "")
    assert(!corpusSide.contains("Exchange hashpartitioning"), plan.take(3000))
  }

  test("q78 plan: referential checks are anti joins, not full joins") {
    val audit = Quality.qualityAudit(spark, dir)
    val plan = audit.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(3000))
  }

  test("q83 plan: corpus windows are range-partitioned; offsets broadcast back") {
    val packed = Sampling.packSequences(spark, dir, 512L)
    val plan = packed.queryExecution.executedPlan.toString
    // phase 1 runs as parallel per-group windows — the corpus exchange
    // is BY GROUP, never a single global ordering
    assert(plan.contains("Exchange hashpartitioning(grp"), plan.take(3000))
    // the 16-row offset table comes back as a broadcast join
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // exactly one single-partition exchange is tolerable: the final
    // presentation sort. The offsets window's own singleton exchange
    // sits over a 16-row aggregate; it must NOT be fed by the corpus
    // scan (the scan appears below the grp-partitioned side only).
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 2, s"unexpected global exchanges ($single)\n" +
      plan.take(3000))
  }

  test("q86 plan: label counting never materializes a neighborhood list") {
    val out = Graph.copurchaseCommunities(spark, dir, 2)
    val plan = out.queryExecution.executedPlan.toString
    // the per-round argmax is a partial-aggregable struct-max — no
    // collect_list/collect_set anywhere in the loop's final plan
    assert(!plan.contains("collect_list") && !plan.contains("collect_set"),
      plan.take(3000))
    CachedStages.release(spark)
  }

  test("q97 plan: the melt is ONE generator over one scan, not four unioned scans") {
    val out = Relational.measureUnpivot(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Generate stack"), plan.take(2000))
    // exactly one scan of lineitem feeds the generator, and the partial
    // aggregate collapses the 4x row stream before the one shuffle
    assert(plan.split("FileScan parquet").length - 1 == 1, plan.take(3000))
    assert(plan.contains("partial_sum"), plan.take(3000))
  }

  test("q94 plan: benchmark grams broadcast; hits join AQE-sized; corpus never hash-exchanges") {
    val out = Dedup.decontaminateSpans(spark, dir, 3)
    val plan = out.queryExecution.executedPlan.toString
    // the gram probe is hint-broadcast (benchmark-bounded by contract);
    // the hits join-back deliberately carries NO hint — hits is bounded
    // by contaminated-doc count, not benchmark size, so AQE sizes it at
    // runtime (Dedup.scala's de-broadcast rationale). At test scale AQE
    // broadcasts it too, so >= 1 is the hard floor, not == 2.
    assert(plan.split("BroadcastHashJoin").length - 1 >= 1, plan.take(3000))
    // whatever AQE picks for the hits join, the corpus side must never
    // hash-exchange: the only hash exchanges aggregate the MATCHES
    // (groupBy doc_id on the post-join stream)
    val hashEx = plan.split("Exchange hashpartitioning").length - 1
    assert(hashEx <= 2, s"unexpected corpus exchanges ($hashEx)\n" +
      plan.take(3000))
    CachedStages.release(spark)
  }

  test("q98 plan: corpus scanned once; pair explode consumes the word-frequency aggregate") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    // scan-count assertions below are meaningless if an earlier suite's
    // cached plan shadows the word-frequency subtree (suites share one
    // session; suite order put QueriesSpec's q107 cache here once)
    spark.catalog.clearCache()
    val out = TextOps.bpePairCounts(spark, dir, 20)
    val plan = out.queryExecution.executedPlan.toString
    // the 100 TB corpus enters exactly once (the vocab collapse);
    // the pair stream is derived from the vocab-sized word table
    assert(plan.split("FileScan parquet").length - 1 == 1, plan.take(3000))
    val gens = out.queryExecution.sparkPlan.collect { case g: GenerateExec => g }
    // at least one generator (the pair explode) sits ABOVE an aggregate
    // (the word-frequency collapse) — proof the explode input is the
    // vocab-sized table, not the raw corpus
    assert(gens.exists(g =>
      g.child.collect { case a: HashAggregateExec => a }.nonEmpty),
      "no generator above the word aggregate\n" +
        out.queryExecution.sparkPlan.toString.take(3000))
  }

  test("q101 plan: after the vocab collapse the corpus never re-enters the merge loop") {
    val out = TextOps.bpeMerges(spark, dir, 3)
    // every round reads the localCheckpointed vocab of the previous one
    // — the final merge-table plan therefore contains NO corpus scan at
    // all (the q69-pagerank lineage discipline): training cost is
    // k x O(|vocab|), independent of corpus size
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.split("FileScan parquet").length - 1 == 0, plan.take(3000))
    // the winning-pair rewrite joined back via broadcast (it lives in
    // the checkpointed vocab lineage); nothing degraded to a cartesian
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q102 plan: one corpus collapse feeds both training and encoding") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.bpeEncodeStats(spark, dir, 3)
    // the corpus enters only through the persisted (source, word, cnt)
    // stage: the encode join reads that cache (InMemoryTableScan), the
    // trainer's vocab is checkpointed away, and the query tree itself
    // holds NO direct parquet scan — no second corpus pass anywhere
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      tree.toString.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.nonEmpty,
      tree.toString.take(3000))
    assert(!tree.toString.contains("CartesianProduct"),
      tree.toString.take(3000))
    CachedStages.release(spark)
  }

  test("q103 plan: benchmark broadcasts; corpus scans stay shuffle-free until the flag agg") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val out = Similarity.embeddingDecontamination(spark, dir, 0.95)
    val tree = out.queryExecution.sparkPlan
    // the eval set rides a broadcast into the corpus scan — the corpus
    // side never exchanges to meet it
    assert(tree.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      tree.toString.take(3000))
    assert(!tree.toString.contains("CartesianProduct"), tree.toString.take(3000))
    // three scans of the (small) embeddings table: pair scoring,
    // per-label sizes, and the benchmark DERIVATION — that last one is
    // fixture artifice (a production eval set is its own small external
    // table, leaving two corpus passes)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.split("FileScan parquet").length - 1 == 3, plan.take(3000))
  }

  test("q103 guard: a benchmark side over the broadcast bound refuses loudly") {
    // the synthetic bench set is vec_id % 100 of the corpus, i.e. it
    // GROWS with the input — the MaxDecontamBenchRows probe must turn a
    // corpus-proportional benchmark into a loud refusal (pointing at the
    // LSH prefilter) instead of an unbounded broadcast
    import spark.implicits._
    val corpus = (0L until 1000L).map(i =>
        (i, (i % 3).toInt, Array(1.0f, i.toFloat)))
      .toDF("vec_id", "label", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingDecontaminationOf(spark, corpus, 0.95,
        maxBenchRows = 5) // derived bench has 10 rows (0,100,...,900)
    }
    assert(e.getMessage.contains("broadcast bound"))
    assert(e.getMessage.contains("LSH"))
    // and under the cap the same corpus passes the probe untouched
    assert(Similarity.embeddingDecontaminationOf(spark, corpus, 0.95)
      .count() == 3)
  }

  test("q108 plan: generator-free rule projection, one source shuffle, no window") {
    val out = TextOps.gopherGate(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    // every rule is a per-row HOF over the token array: the token
    // stream never explodes, so there is no Generate node and the only
    // hash exchange is the per-source aggregate
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      plan.take(3000))
  }

  test("q109 plan: TakeOrdered candidate cut; d-by-w counters broadcast back") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val out = TextOps.cmsHeavyHitters(spark, dir, 64, 3, 10)
    val plan = out.queryExecution.executedPlan.toString
    // top-k candidates via bounded per-partition heaps, never a global
    // sort of the vocabulary
    assert(plan.split("TakeOrderedAndProject").length - 1 == 1,
      plan.take(3000))
    // the fixed d-by-w counter table rides a broadcast to meet the
    // candidates — no shuffle of either side at estimation time
    assert(out.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec => j }.nonEmpty, plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    // the corpus collapses once into the persisted vocab; both the
    // sketch and the candidate cut read the cache
    assert(plan.contains("InMemoryTableScan"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q104 plan: one user shuffle covers sessionization and per-session lists; TakeOrdered vocab cut") {
    val out = Events.sessionSequences(spark, dir, 20)
    val plan = out.queryExecution.executedPlan.toString
    // the behavior-vocabulary cut is bounded per-partition heaps, not a
    // global sort of the sequence-count table
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // exactly two hash exchanges: user_id (windows + per-session lists
    // reuse it — grouping keys contain the partitioning key) and the
    // sequence-count shuffle; a third would mean the session agg
    // re-shuffled what the window already clustered
    val hashEx = plan.split("Exchange hashpartitioning").length - 1
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx\n" +
      plan.take(3000))
  }

  test("q107 plan: every curve point is a TakeOrdered cut over the cached count table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = TextOps.vocabCoverage(spark, dir, Seq(100, 1000))
    val plan = out.queryExecution.executedPlan.toString
    // one TakeOrderedAndProject per size — bounded heaps, never a
    // global rank window over the zipf vocabulary
    assert(plan.split("TakeOrderedAndProject").length - 1 == 2,
      plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    // the corpus collapses once into the persisted count table; the
    // query tree reads that cache, not parquet, for every point
    assert(out.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }.isEmpty, plan.take(3000))
    CachedStages.release(spark)
  }

  test("q99 plan: posting lists materialize only behind the df-cap join") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val out = TextOps.invertedIndex(spark, dir, 50L)
    val aggs = out.queryExecution.sparkPlan.collect {
      case a: ObjectHashAggregateExec
        if a.aggregateExpressions.mkString.contains("collect_list") => a }
    assert(aggs.nonEmpty, out.queryExecution.sparkPlan.toString.take(3000))
    // the zipf guard: every collect_list aggregate (partial AND final)
    // sits above the df<=cap semi-filter join — no reducer ever builds
    // a hot term's posting list, at any corpus size
    assert(aggs.forall(a =>
      a.collect { case j: BaseJoinExec => j }.nonEmpty),
      "a posting-list aggregate runs before the df cap\n" +
        out.queryExecution.sparkPlan.toString.take(3000))
  }

  test("q100 plan: TakeOrdered vocab cut; vocab broadcasts back onto the token stream") {
    val out = TextOps.vocabOovRates(spark, dir, 1000)
    val plan = out.queryExecution.executedPlan.toString
    // the vocab cut must be per-partition bounded heaps, not a global
    // sort of the token-count table
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // the ≤vocabSize vocab broadcasts; the token stream never shuffles
    // for the membership probe
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // two corpus passes (vocab build, rate measurement) and no more
    assert(plan.split("FileScan parquet").length - 1 == 2, plan.take(3000))
  }

  /** The per-round vector joins `plan` ran: the joins with a
    * localCheckpointed (RDD-scan) side, looked up through AQE's stages. */
  private def roundJoins(plan: SparkPlan): Seq[SparkPlan] =
    AQE.collect(plan) {
      case j: BaseJoinExec if j.children.exists(c =>
        AQE.collect(c) { case r: RDDScanExec => r }.nonEmpty) => j
    }

  /** Runs `loop` once with the session's broadcast threshold and once
    * with it at -1, then checks both sides of Graph.broadcastsVector:
    * the same rows; every round join of the first run broadcasts; every
    * round join of the second is a shuffle-hash join whose persisted
    * edge side keeps its partitioning (no exchange above the cache). */
  private def bothRoundJoins(loop: => DataFrame): Unit = {
    def run(): (Set[Row], Seq[SparkPlan]) = {
      val (rows, _, plans) = observed(loop.collect().toSet)
      CachedStages.release(spark)
      (rows, plans.flatMap(qe => roundJoins(qe.executedPlan)))
    }
    val (bRows, bJoins) = run()
    val (sRows, sJoins) = withoutBroadcast(run())
    assert(bRows.nonEmpty && bRows == sRows,
      s"join sides diverged: broadcast=$bRows shuffle=$sRows")
    assert(bJoins.nonEmpty && bJoins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      bJoins.mkString("\n"))
    assert(sJoins.nonEmpty && sJoins.forall(_.isInstanceOf[ShuffledHashJoinExec]),
      sJoins.mkString("\n"))
    sJoins.foreach { j =>
      val edgeSides = j.children.filter(c =>
        AQE.collect(c) { case t: InMemoryTableScanExec => t }.nonEmpty)
      assert(edgeSides.nonEmpty, s"round join must read the persisted edges\n$j")
      assert(edgeSides.forall(c =>
        AQE.collect(c) { case e: ShuffleExchangeLike => e }.isEmpty),
        s"edge side must reuse the persisted src partitioning, not re-exchange\n$j")
    }
  }

  test("broadcastsVector: broadcast up to the threshold, shuffle one byte over or at -1") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val size = Graph.VectorRowBytes
    try {
      spark.conf.set(key, (1000 * size).toString) // exactly at the threshold
      assert(Graph.broadcastsVector(1000) && Graph.broadcastsVector(0))
      spark.conf.set(key, (1000 * size - 1).toString) // one byte over
      assert(!Graph.broadcastsVector(1000) && Graph.broadcastsVector(999))
      spark.conf.set(key, "-1")
      assert(!Graph.broadcastsVector(0) && !Graph.broadcastsVector(1))
      spark.conf.set(key, "0")
      assert(Graph.broadcastsVector(0) && !Graph.broadcastsVector(1))
      // rows × size would overflow a long: the comparison must not
      spark.conf.set(key, Long.MaxValue.toString)
      assert(Graph.broadcastsVector(Long.MaxValue / size))
      assert(!Graph.broadcastsVector(Long.MaxValue / size + 1))
      assert(!Graph.broadcastsVector(Long.MaxValue))
    } finally spark.conf.unset(key)
  }

  test("pagerank scale mode: identical ranks, edge side reuses its persisted partitioning") {
    val sess = spark
    import sess.implicits._
    // small asymmetric-but-no-dangling graph: a 6-cycle plus chords
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (1L, 4L), (4L, 1L), (2L, 5L), (5L, 2L)).toDF("src", "dst")
    bothRoundJoins(Graph.pagerank(edges, 3))
  }

  test("hits scale mode: identical scores, incidence side reuses its persisted partitioning") {
    val sess = spark
    import sess.implicits._
    // small bipartite incidence with shared parts and skewed baskets
    val e = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 13L),
      (3L, 11L), (3L, 12L), (3L, 13L), (4L, 10L), (4L, 12L))
      .toDF("cust", "part")
    // HITS is shuffle-only: the broadcast threshold must not move it
    def scores() = Graph.purchaseHitsOf(e, 3, 20).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val b = scores()
    CachedStages.release(spark)
    val s = withoutBroadcast(scores())
    assert(b.nonEmpty && b == s, s"threshold moved HITS:\ndefault=$b\n-1=$s")
    CachedStages.release(spark)
    // plan-audit one half-round directly (the loop's per-round caches
    // hide the join from the final frame's plan)
    val eCust = e.repartition(col("cust")).persist()
    eCust.count()
    val hubs = eCust.select("cust").distinct()
      .select(col("cust"), lit(1000000000L).as("score")).localCheckpoint()
    // join-strategy audits run against hitsScoreJoin — the join half is
    // kept cache-free exactly so its plan is directly auditable (the
    // half-round itself persists the raw sums, hiding the join inside
    // an InMemoryRelation): shuffle-hash score join; the incidence side
    // is the persisted scan with NO Exchange above it — only the score
    // vector exchanges per half-round
    val sRound = Graph.hitsScoreJoin(eCust, hubs, "cust", "part")
    val shj = AQE.collect(sRound.queryExecution.executedPlan) {
      case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, "HITS must pin a shuffle-hash score join\n" +
      sRound.queryExecution.executedPlan.toString.take(3000))
    val incSides = shj.flatMap(_.children).filter(c =>
      AQE.collect(c) { case t: InMemoryTableScanExec => t }.nonEmpty)
    assert(incSides.nonEmpty, "score join must read the persisted incidence")
    assert(incSides.forall(c =>
      AQE.collect(c) { case ex: ShuffleExchangeLike => ex }.isEmpty),
      "incidence side must reuse the persisted cust partitioning, not re-exchange")
    // the half-round must CACHE the raw sums, and (round 20) its
    // normalize divisor is pulled to the driver by the half-round's
    // one action: the returned frame is a pure PROJECTION over the
    // cached raw — one cache read, no crossJoin(max) broadcast build,
    // and no re-run of the score join per traversal
    val round = Graph.hitsHalfRound(eCust, hubs, "cust", "part")
    assert(round.queryExecution.sparkPlan.collect {
      case t: InMemoryTableScanExec => t }.size == 1,
      "the normalize projection must read the persisted raw sums once\n" +
        round.queryExecution.sparkPlan.toString.take(3000))
    assert(round.queryExecution.sparkPlan.collect {
      case j: BaseJoinExec => j }.isEmpty,
      "the score join must live inside the cached raw plan, not rerun " +
        "per traversal\n" +
        round.queryExecution.sparkPlan.toString.take(3000))
    eCust.unpersist()
    CachedStages.release(spark)
  }

  test("lpa scale mode: identical communities, edge side reuses its persisted partitioning") {
    val sess = spark
    import sess.implicits._
    // two communities bridged by one edge, symmetrized
    val raw = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val edges = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    bothRoundJoins(Graph.labelPropagation(edges, 3))
  }

  test("ppr scale mode: identical ranks, edge side reuses its persisted partitioning") {
    val sess = spark
    import sess.implicits._
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 3L),
      (4L, 5L), (5L, 4L))
    val edges = raw.toDF("src", "dst")
    val seeds = Seq(1L, 4L).toDF("id")
    bothRoundJoins(Graph.personalizedPagerank(edges, seeds, 3))
  }

  test("q84 plan: anchors broadcast; corpus never exchanges before the rank window") {
    val negs = Similarity.hardNegatives(spark, dir, 5)
    val plan = negs.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the label-mismatch filter runs scan-side: no corpus exchange may
    // appear below the broadcast join
    val beforeJoin = plan.substring(plan.indexOf("BroadcastNestedLoopJoin"))
    assert(!beforeJoin.replaceAll("(?s)BroadcastExchange.*", "")
      .contains("Exchange hashpartitioning"), plan.take(2000))
  }

  test("q110 plan: register path is ONE max-aggregate; estimate meets exact by broadcast") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the sketch branch alone — what a 100 TB run would execute — is a
    // single map-side-combined hash aggregate: no distinct expand, no
    // window, no explode, state bounded at m x |types|
    val regPlan = Events.hllRegistersOf(Events.events(spark, dir), 64)
      .queryExecution.executedPlan.toString
    assert(!regPlan.contains("Expand"), regPlan.take(3000))
    assert(!regPlan.contains("Window"), regPlan.take(3000))
    assert(!regPlan.contains("Generate"), regPlan.take(3000))
    assert(regPlan.split("Exchange hashpartitioning").length - 1 == 1,
      regPlan.take(3000))
    // the full graded query joins the |types|-row estimate back to the
    // exact branch by broadcast — never a shuffle join of two aggregates
    val out = Events.hllDistinctUsers(spark, dir, 64, 709L)
    assert(out.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec => j }.nonEmpty,
      out.queryExecution.executedPlan.toString.take(3000))
  }

  test("q111 plan: provenance rollup rides the cached q19 signature stage, no cartesian") {
    val out = Dedup.crossSourceNearDups(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    // pairs come from the persisted signature stage (never re-shingled)
    assert(plan.contains("InMemoryTableScan"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }

  /** Every node `plan` executed, through AQE's stages and into the plans
    * that filled the caches it read. */
  private def executedNodes(plan: SparkPlan): Seq[SparkPlan] =
    AQE.collect(plan) { case p => p }.flatMap {
      case t: InMemoryTableScanExec => t +: executedNodes(t.relation.cachedPlan)
      case p => Seq(p)
    }

  test("q19 runs its band join, distinct and verify once: the final sort samples cached pairs") {
    // a Range exchange runs its input once in a sampling job of its own
    // (RangePartitioner), then again in its map stage; the accepted
    // pairs are cached so that both read the cache, not the pipeline.
    // Row metrics add up over every job that ran a node, so a re-run
    // shows as twice the candidate count.
    spark.catalog.clearCache()
    val candidates = Dedup.thresholdSensitivity(spark, dir)
      .agg(sum("n_pairs")).head.getLong(0)
    CachedStages.release(spark)
    spark.catalog.clearCache()
    assert(candidates > 0)
    val (rows, _, plans) = observed(Dedup.nearDupPairs(spark, dir).collect())
    CachedStages.release(spark)
    assert(rows.nonEmpty && plans.size == 1, plans.size)
    val plan = plans.head.executedPlan
    val nodes = executedNodes(plan)
    // the candidate distinct: the final aggregate over (ca, cb)
    val distinct = nodes.collect {
      case a: HashAggregateExec if a.requiredChildDistributionExpressions.isDefined &&
        a.groupingExpressions.map(_.toString.takeWhile(_ != '#')) == Seq("ca", "cb") => a
    }
    assert(distinct.nonEmpty, plan.toString.take(3000))
    distinct.foreach { a =>
      assert(a.metrics("numOutputRows").value == candidates,
        s"distinct ran ${a.metrics("numOutputRows").value} rows for $candidates candidates")
    }
    // no join left under the final range exchange, above the caches
    val range = AQE.collect(plan) {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }
    assert(range.size == 1, plan.toString.take(3000))
    assert(AQE.collect(range.head.child) { case j: BaseJoinExec => j }.isEmpty,
      range.head.toString.take(3000))
  }

  test("CachedStages.release unpersists q19's stages after a GC has collected their frames") {
    CachedStages.release(spark)
    spark.catalog.clearCache()
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cacheManager.isEmpty)
    assert(Dedup.nearDupPairs(spark, dir).collect().nonEmpty)
    assert(!cacheManager.isEmpty)
    // the operator's persisted frames are unreachable once it has returned
    System.gc()
    CachedStages.release(spark, blocking = true)
    assert(cacheManager.isEmpty)
  }

  test("q112 plan: single text pass — no explode, no window, one distinct expand") {
    val out = Dedup.normalizedDedupGain(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    // both hashes are whole-string md5s computed in one projection; the
    // token stream never explodes and nothing needs a window
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    // the two count-distincts share ONE Expand (hash-sized rows, not
    // text-sized) — a second would mean the corpus was re-aggregated
    assert(plan.split("Expand").length - 1 == 1, plan.take(3000))
  }

  test("q113 plan: gram stage cached once; df join and doc rollup stay within 3 exchanges") {
    val out = TextOps.ngramNovelty(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    // the (doc_id, gram) explode is computed once and persisted; both
    // the df aggregate and the probe side read the cache
    assert(plan.contains("InMemoryTableScan"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    // df agg (gram), probe-side exchange (gram), doc rollup (doc_id) —
    // a fourth hash exchange would mean the df side re-shuffled
    val hashEx = plan.split("Exchange hashpartitioning").length - 1
    assert(hashEx <= 3, s"expected <= 3 hash exchanges, got $hashEx\n" +
      plan.take(3000))
    CachedStages.release(spark)
  }

  test("q114 plan: corpus-side canonical join broadcasts the cluster table") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val out = Sampling.clusterAwareSplit(spark, dir)
    // the cluster table (pair-cluster-sized) must ride a broadcast onto
    // the corpus — a shuffle join here would re-partition the whole
    // corpus for a table orders of magnitude smaller
    assert(out.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec => j }.nonEmpty,
      out.queryExecution.executedPlan.toString.take(3000))
    assert(!out.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    CachedStages.release(spark)
  }

  test("q115 plan: one corpus scan; budget math reads the cached count table") {
    val out = Sampling.tokenBudgetAllocation(spark, dir, 1000000L)
    val plan = out.queryExecution.executedPlan.toString
    // token counts are size(regexp) per row — the stream never explodes
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    // the denominator and the allocation both read the persisted
    // |sources|-row table: NO file scan outside the cached stage
    // (unpersisted, the 1-row sum re-runs the full corpus aggregate)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 2,
      plan.take(3000))
    CachedStages.release(spark)
  }

  test("q116 plan: one events scan; totals re-aggregate the cached matrix, never the stream") {
    val out = Events.sessionTransitions(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    // a naive formulation scans events twice (transitions + totals);
    // this one persists the |types|^2 matrix and re-aggregates THAT:
    // no file scan outside the cached stage, both consumers on cache
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 2,
      plan.take(3000))
    // the row totals meet the matrix by broadcast, not a shuffle join
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q117 plan: ADC search touches codes + broadcast tables only — no vectors, no file scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Quantization.pqAdcTopK(spark, dir, 4, 16, 4, 2, 3)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // training/encoding ran behind localCheckpoints; the SEARCH plan
    // reads the checkpointed codes RDD plus ONE probe-side scan whose
    // `vec_id < 8` predicate is PUSHED to parquet — the corpus
    // embeddings are never re-scanned for the search
    val scans = tree.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, plan.take(3000))
    assert(scans.head.toString.contains("LessThan(vec_id,8)"),
      scans.head.toString.take(1000))
    // the |probes|-row distance tables broadcast against the streamed
    // codes (BroadcastNestedLoopJoin is the bounded |probes|x|corpus|
    // fan-out every brute-force probe family uses — q21/q61/q91)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the per-row search work is the m-lookup fold: no per-row float
    // vector column survives into the search side's schema
    assert(!out.columns.contains("v"))
    CachedStages.release(spark)
  }

  test("q118 plan: sketches partial-aggregate map-side; pair algebra has no corpus re-entry") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = TextOps.kmvVocabOverlap(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    // the kmv_values TypedImperativeAggregate runs in partial mode
    // before the source shuffle: <= k longs travel per (partition,
    // source), never the token stream
    assert(plan.contains("partial_kmv_values") ||
      plan.contains("partial kmv_values") ||
      (plan.contains("kmv_values") && plan.contains("ObjectHashAggregate")),
      plan.take(3000))
    // the pair self-join reads the PERSISTED |sources|-row sketch table
    // on both sides: no corpus file scan survives into the pair plan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 2,
      plan.take(3000))
    CachedStages.release(spark)
  }

  test("q119 plan: unigrams and bigrams share one corpus scan; top-k is a TakeOrdered") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = TextOps.pmiCollocations(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val tree = out.queryExecution.sparkPlan
    // ONE corpus pass: both gram widths ride a single generator into
    // the persisted (k, gram) count table; every downstream consumer
    // (bigram side, two unigram joins, the 1-row total) reads the
    // cache — no parquet scan survives into the final plan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 3,
      plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // the 1-row token total broadcasts; the rank window runs over the
    // <= 25 surviving rows, after the cut
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q120 HITS half-round plan: shuffle-hash score join, sums partial-aggregate") {
    import spark.implicits._
    val e = Seq((1L, 100L), (1L, 101L), (2L, 100L)).toDF("cust", "part")
    val scores = Seq((1L, Graph.HitsScale), (2L, Graph.HitsScale))
      .toDF("cust", "score")
    // the join half carries the strategy: a pinned shuffle-hash join,
    // never a broadcast or a re-sorting merge join — per-round exchange
    // volume is the score vector plus the partial-aggregated |side|
    // rows
    val join = Graph.hitsScoreJoin(e, scores, "cust", "part")
    val jplan = join.queryExecution.executedPlan.toString
    assert(jplan.contains("ShuffledHashJoin"), jplan.take(3000))
    assert(!jplan.contains("BroadcastExchange"), jplan.take(3000))
    assert(!jplan.contains("SortMergeJoin"), jplan.take(3000))
    assert(jplan.contains("partial_sum") || jplan.contains("HashAggregate"),
      jplan.take(3000))
    // the half-round's normalize (round 20): divisor pulled to the
    // driver by the cache-fill action; the returned frame projects the
    // cached raw sums — no crossJoin(max), no second traversal
    val round = Graph.hitsHalfRound(e, scores, "cust", "part")
    val tree = round.queryExecution.sparkPlan
    assert(tree.collect { case t: InMemoryTableScanExec => t }.size == 1,
      tree.toString.take(3000))
    assert(!tree.toString.contains("CartesianProduct") &&
      !tree.toString.contains("BroadcastNestedLoopJoin"),
      tree.toString.take(3000))
    CachedStages.release(spark)
  }

  test("q121 plan: one corpus pass into the cached postings; join sides read cache") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.relatedDocs(spark, dir, 50L, 3)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // round 18: the rare-term probe join persists too (the DupExec
    // sweep caught it executing once per self-join side), so the main
    // plan reads the rarePostings cache on both pair sides — the
    // documents parquet never re-scans
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    CachedStages.release(spark)
  }

  test("q122 plan: one events scan; model and eval read the cached matrix") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.markovEval(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the corpus-sized work (user window + cutoff tag) happens ONCE
    // inside the persisted (prev, next, is_test) matrix; the train-side
    // argmax window and the test rollup both operate on the model-sized
    // cache, and the model meets the test rows by broadcast
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q123 plan: a pure generator — no join, no window, no hash shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = TextOps.ragChunks(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // one corpus scan, one Generate, straight projection: the only
    // exchange in the whole plan is the presentation sort's range
    // partitioning — nothing reshuffles on a key
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 1,
      plan.take(3000))
    assert(plan.contains("Generate"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("hashpartitioning"), plan.take(3000))
  }

  test("q124 plan: one events scan into the cached daily matrix; median broadcasts back") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.volumeBursts(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the event stream collapses once into the persisted (type, day, n)
    // matrix; the median rank window and the flag join both read THAT
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q125 plan: the pair stream persists once; every model reads the cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.purchaseAttribution(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the user-keyed window join ran ONCE into the persisted pair
    // stream; last-touch, linear, and the direct anti-join all read the
    // cache (>= 4 cache scans), and last-touch is a struct-max
    // aggregate, not a per-purchase sort window
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 4,
      plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q126 plan: dense arm scans embeddings, sparse arm rides the postings cache") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Similarity.rrfFusion(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the only parquet reads are the two embeddings sides of the q21
    // arm (corpus + pushed-filter probe set); the documents corpus
    // enters ONLY through q121's persisted postings
    val scans = tree.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 2, plan.take(3000))
    assert(scans.forall(_.toString.contains("embeddings.parquet")),
      scans.map(_.toString.take(200)).mkString("\n"))
    // round 18: the sparse arm rides q121's persisted rarePostings
    // stage (one cache instead of three raw-postings reads)
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    CachedStages.release(spark)
  }

  test("q127 plan: the full-outer reconciliation runs once; report reads the cache") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Cdc.snapshotDiff(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the PK shuffle join + classification persist once; the summary
    // rollup and the per-column melt both read the cache
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 2,
      plan.take(3000))
    // the per-column counts melt via ONE stack generator, not a query
    // per column
    assert(plan.contains("Generate"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q128 plan: value-domain histogram cached; cumulative window over it; totals broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.weightedLengthQuantiles(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the corpus collapses once into the persisted (source, len)
    // histogram — bounded by the value domain, so the cumulative
    // window's frames are safe at any row count
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q141 plan: one corpus collapse into the count cache; totals broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.tokenDrift(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // every branch (vocab, per-source totals, grand total, the grid's
    // left-join side) reads the persisted (source, token, n) table — the
    // corpus parquet is scanned exactly once, at cache fill
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 4,
      plan.take(3000))
    // the |sources|-row totals ride a broadcast against the vocab side
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q142 plan: basket-bounded pair join off the cache; item counts broadcast; TakeOrdered cut") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Graph.assocRules(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the distinct (order, part) basket table fills once; the self-join,
    // both item-count sides, and the basket total all read the cache
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    // round 18 (DupExec fixes): both orientations now EXPLODE off one
    // pair-aggregate traversal (no self-union re-running the join) and
    // the item counts persist — 5 = self-join (2) + item-count cache
    // reads (2) + basket total (1)
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 5,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    // the leaderboard cut is TakeOrdered, never a global sort of all rules
    assert(plan.contains("TakeOrdered"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q143 plan: stateless hash screens, only lineitem pays a join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Privacy.deletionAudit(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // 5 scans: customer, events, orders (audited + forget-set), and
    // lineitem — no materialized subject list joined anywhere; the
    // directly-keyed tables are screened by a scan predicate
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 5,
      plan.take(3000))
    // exactly one join in the whole report: lineitem chasing the order
    // key into the forget-set's orders (counted, so a regression that
    // sneaks in a materialized subject-list join fails this test)
    assert(tree.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.size == 1, plan.take(3000))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q145 plan: one events collapse into the cents histogram; totals broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.trimmedStats(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the event stream collapses once into the persisted (type, cents)
    // histogram; the cumulative window's frames are bounded by the
    // value domain, and the totals re-aggregate the cache
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q148 plan: one exploded pass, no join, no window, map-side combinable") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Features.dimStats(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 1,
      plan.take(3000))
    assert(!plan.contains("Window") && !plan.contains("Join"),
      plan.take(3000))
    // partial aggregation before the dim shuffle: the exchange carries
    // |dims| rows per partition, not elements
    assert(plan.contains("partial"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q150 plan: each table melts once into its cache; estimates broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Stats.tableStats(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // 4 tables x (basic branch + sketch branch) — every branch reads the
    // melted cache; no table parquet is scanned twice (or at all, here)
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size == 8,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q154 plan: replicate grid reads the user cache, never parquet") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Events.abBootstrap(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the point estimates, the replicate counts, and the ranked CI pass
    // all flow from the persisted user table and the persisted
    // arm-replicate matrix — the events parquet is read only at cache
    // fill, and the users x B grid is a generator, not a stored table
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q156 plan: one events collapse; trailing frame over the day matrix") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Events.completenessGate(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // round-19: the daily matrix is no longer persisted (the gate
    // window is its only traversal — single-reader persist removed);
    // the plan shape is ONE raw events scan feeding one aggregate
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 1,
      plan.take(3000))
    assert("HashAggregate".r.findAllIn(plan).size >= 1, plan.take(3000))
    // the window is the RANGE frame over the day-granular matrix — no
    // join, no second aggregation of the raw stream
    assert(plan.contains("Window"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q158 plan: one pass over the two-year slice, brand broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Relational.revenueBridge(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 3,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q167 plan: ONE shared dedup pass — reports read caches, no LSH re-run") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Dedup.dedupReportSuite(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the reports' own corpus-side scans are all that may touch parquet:
    // savings token counts (1), overlap quality bands (1), and the eval
    // planted-truth screen (2 — referenced by both the truth count and
    // the hit join, same as standalone q140). The pair table and the
    // cluster map enter ONLY via their shared persisted frames (det for
    // eval, canon for savings + overlap), so standalone's three
    // LSH+components passes collapse to one.
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 4,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 3,
      plan.take(3000))
    // no report branch re-runs the shingle/minhash machinery
    assert(!plan.contains("word_shingles"), plan.take(3000))
    CachedStages.release(spark)
  }

  test("q168 plan: one events scan into the per-user pair; pooled row broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.cupedReadout(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the stream collapses once into the persisted per-user (x, y)
    // frame; the arm rollup and the pooled moment row both read cache
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q169 plan: one events scan; fold runs on the model-sized step list") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Events.kmRetention(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // per-user collapse + histogram persist: at most the single events
    // scan touches parquet; the KM fold is a broadcast array aggregate
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q170 plan: two arm scans, bounded chunk windows, broadcast prefix") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Events.latenessProfile(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the two arms each scan events once; the chunk-prefix table joins
    // back by broadcast; the only unpartitioned windows run over the
    // chunk table and the lateness histogram (both bounded)
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q171 plan: one orders scan collapsing to <=9 groups") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.benfordAudit(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the persisted ≤9-row digit-count table serves both the join and
    // the total: at most the single orders scan materializes it
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q172/q173 plans: the calendar matrix is the only corpus collapse") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    for (mk <- Seq(() => Events.theilSenTrend(spark, dir),
      () => Events.forecastBacktest(spark, dir))) {
      val out = mk()
      val plan = out.queryExecution.executedPlan.toString
      val tree = out.queryExecution.sparkPlan
      // pairs/lags/rollups all read the persisted (type, day) matrix —
      // at most one events scan materializes it
      assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
        plan.take(3000))
      assert(tree.collect { case m: InMemoryTableScanExec => m }.nonEmpty,
        plan.take(3000))
      assert(!plan.contains("CartesianProduct"), plan.take(3000))
      CachedStages.release(spark)
    }
  }
  test("q174 plan: one part-revenue collapse feeds histogram + boundary") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.abcClassification(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // rev persists: the lineitem scan happens once; whole-bucket and
    // boundary branches read caches, the boundary set joins by broadcast
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q176 plan: orders collapse once; cumulative runs on the histogram") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.giniSpend(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // orders + customer scans feed the persisted (nation, dollar)
    // histogram; the rank-weighted sums read it back
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.nonEmpty
      || tree.collect { case f: FileSourceScanExec => f }.nonEmpty,
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q177 plan: difference-array deltas, never an exploded stab join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Relational.inflightTimeline(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // lineitem + orders enter the delta projection; the persisted delta
    // matrix serves the calendar join — no per-day interval explosion
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the generator produces the CALENDAR (bounded), not row-per-
    // interval-day: exactly one Generate, fed by the 1-row bounds
    assert(plan.split("Generate", -1).length - 1 == 1, plan.take(3000))
    CachedStages.release(spark)
  }
  test("q178 plan: ONE linear fold over one sorted file list, no " +
    "driver loop, no probe-side re-scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Layout.compactionPlan(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // round 20: the sweep is ONE aggregate HOF over the model-sized
    // sorted array whose assignments explode straight into the bin
    // rollup — the former crossJoin probe side (a second full orders
    // scan + aggregate, plus a |files|² per-row prefix re-fold) is
    // gone: exactly one file scan, no join of any kind
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 1,
      plan.take(3000))
    assert(plan.contains("aggregate("), plan.take(3000))
    assert(plan.contains("Generate explode"), plan.take(3000))
    assert(tree.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, plan.take(3000))
    CachedStages.release(spark)
  }
  test("q179 plan: value-domain reduction, no O(n^2) dominance join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Relational.skylineParts(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // round-19: the histogram is no longer persisted (its prefix-max
    // window was the only traversal). part scans twice — once into the
    // value-domain histogram, once as the probe side — same scan count
    // the persist version paid (the probe never read the cache), minus
    // the cache fill.
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
      plan.take(3000))
    // the dominance test is the histogram prefix max + ONE equi-join
    // back on price — never a theta/nested-loop self-join
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(tree.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.size == 1, plan.take(3000))
    CachedStages.release(spark)
  }
  test("q180 plan: dense matrix persisted; stats broadcast; bounded frames") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.controlChart(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q187 plan: one events scan; dense matrix cache feeds params, " +
    "series and the fold; broadcast joins back") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.cusumChart(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 3,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q214 plan: one events scan; dense matrix cache feeds params, " +
    "series and the fold; broadcast joins back") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.ewmaChart(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 3,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q226/q227 plan: collapsed-first joins, caches, broadcasts; " +
    "no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val sr = Relational.sourcingRisk(spark, dir)
    val srPlan = sr.queryExecution.executedPlan.toString
    val srTree = sr.queryExecution.sparkPlan
    assert(srTree.collect { case f: FileSourceScanExec => f }.size <= 3,
      srPlan.take(3000))
    assert(srTree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, srPlan.take(3000))
    assert(srPlan.contains("BroadcastExchange"), srPlan.take(3000))
    assert(!srPlan.contains("CartesianProduct"), srPlan.take(3000))
    CachedStages.release(spark)
    val si = Similarity.cosineSilhouette(spark, dir)
    val siPlan = si.queryExecution.executedPlan.toString
    val siTree = si.queryExecution.sparkPlan
    assert(siTree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, siPlan.take(3000))
    assert(!siPlan.contains("CartesianProduct"), siPlan.take(3000))
    CachedStages.release(spark)
  }
  test("q228 plan: one lineitem scan folds into power sums behind a " +
    "broadcast part join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Relational.discountResponse(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // exactly two scans (lineitem + the broadcast part dim), one
    // broadcast join, and a partial/final HashAggregate pair — the
    // whole regression is one map-side-combinable pass
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 2,
      plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(tree.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        => a
    }.size == 2, plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q229 plan: one documents scan, two combinable collapses, no " +
    "joins at all") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = TextOps.vocabRichness(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 1,
      plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    // only text reaches the scan's projection besides source
    assert(plan.contains("ReadSchema") &&
      !plan.contains("n_chars"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q230 plan: pair join reads the persisted day matrix, never " +
    "the event stream") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = RankTests.kendallTau(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // zero file scans in-plan: both pair sides and the day count read
    // the cached calendar-bounded (type, day) matrix
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 3, plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q231 plan: sign sums and U_t windows over the cached day " +
    "matrix; argmax/levels broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = RankTests.pettitt(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 3, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q232 plan: lag windows over the cached day matrix only; no " +
    "joins beyond the broadcast readback") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = RankTests.runsTest(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q233 plan: wedge equi-join over the cached canonical edges; " +
    "degrees broadcast; top-k sorted once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Graph.linkPrediction(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // all reads of the edge list hit the cache (wedge sides, the
    // anti-join probe, both degree unions)
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 5, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q251 plan: wedge join reads the CAPPED cached lists (bounded " +
    "fan-out); degrees broadcast; top-k sorted once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Graph.linkPredictionCapped(spark, dir, 20, 32)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // every read rides a cache: the two wedge sides hit the capped
    // lists, the anti-join probe + degree unions hit the edge list
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    val caches = tree.collect { case m: InMemoryTableScanExec => m }
    // round 18: degrees persist as their own cache (the DupExec sweep
    // caught the degree agg building once per broadcast), so the main
    // plan reads 5 caches — capped sides (2), anti-join edges (1),
    // degree broadcasts (2)
    assert(caches.size >= 5, plan.take(3000))
    // the bounded fan-out is structural: the capped cache's plan
    // carries the row_number window + rk filter, and BOTH wedge
    // sides scan a cache whose output is the capped (w, nbr) list
    val cachedPlans = caches.map(_.relation.cachedPlan.toString)
    assert(cachedPlans.exists(p =>
      p.contains("row_number") && p.contains("Window")),
      cachedPlans.map(_.take(400)).mkString("\n---\n"))
    val cappedScans = caches.filter(
      _.output.map(_.name) == Seq("w", "nbr"))
    assert(cappedScans.size == 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q254 plan: calendar-bounded grid cached; midrank windows " +
    "partitioned by (pair, lag); means broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = RankTests.laggedSpearman(spark, dir, 3)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the events stream collapses inside the cached dense matrix, and
    // (round 18) the midranked frame persists too — the main plan is
    // the two moment rollups over the ranked cache; zero file scans
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    val caches = tree.collect { case m: InMemoryTableScanExec => m }
    assert(caches.size >= 2, plan.take(3000))
    // every rank window is (pair, lag)-partitioned — no global sort
    // over the grid; the windows live inside the ranked cache's plan
    val cached = caches.map(_.relation.cachedPlan.toString)
    assert(cached.exists(p => p.contains("Window") &&
      p.contains("windowspecdefinition(ta")),
      cached.map(_.take(400)).mkString("\n---\n"))
    assert(!cached.exists(_.matches(
      "(?s).*Window \\[[^\\]]*\\], \\[\\].*")),
      cached.map(_.take(400)).mkString("\n---\n"))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q255 plan: one persisted corpus feeds every truncation arm; " +
    "probes broadcast; exact arm cached once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Similarity.truncatedRecall(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    // 3 truncated arms x (corpus + broadcast-probe cache reads) plus
    // the exact arm's persisted top-k joined into all 4 recall rows
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 8, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(plan.contains("cosine_sim"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q256 plan: one collapse to month-priority cells; block-" +
    "bounded windows; moments broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = RankTests.friedman(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the orders scan lives inside the persisted cells; the main plan
    // reads caches only (cells for k/complete, ranked for both aggs)
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 3, plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q258 plan: audited broadcast-probe ranking; discount lookup " +
    "is expression-only; mean broadcast") {
    val out = Similarity.ndcgAtK(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(plan.contains("cosine_sim"), plan.take(3000))
    // the pinned table rides the expression — no join introduces it
    assert(plan.contains("try_element_at") || plan.contains("1000000"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q259 plan: shares q256's blocked-rank cache shape; k-row " +
    "trend table; moments broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = RankTests.pageTrend(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q260 plan: one orders scan into the merged value histogram; " +
    "domain-bounded window; totals broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = RankTests.cliffsDelta(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q261 plan: rides the persisted q19 signature stage; banded " +
    "bucket join only; report-sized tail") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Dedup.minhashAccuracy(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // round 18: the scored pair frame persists (the DupExec sweep
    // caught both signature join-backs executing once per report
    // branch) — the main plan is the global MAE broadcast + per-band
    // rollup over that one cache
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q262 plan: q169's shape — one scan to per-user firsts, " +
    "bounded histogram window, model-sized step broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.competingRisks(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(plan.contains("aggregate"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q263 plan: one projection pass, no explode/join before the " +
    "mask rollup; 16-row summary broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.gateAblation(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the corpus scan lives inside the persisted mask rollup; no
    // Generate (explode) anywhere — the rules are per-row HOFs
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, plan.take(3000))
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q264 plan: no window at all — collapse, dim join, nation " +
    "moments, broadcasts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.theilDecomposition(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 3, plan.take(3000))
    // the cheapest inequality plan in the family: not one window
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q266 plan: one cluster-label equi-join builds the scored " +
    "candidates; every sweep row reads the cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Similarity.ivfProbeSweep(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // 3 sweep filters + 3 scanned counts off the candidate cache,
    // plus the exact arm's cache in every recall join
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 6, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(plan.contains("cosine_sim"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q267 plan: one scan, sample-design fan-out only, the q17 " +
    "hash shuffle per fraction") {
    val out = Dedup.dedupScalingCurve(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    // the explode is the <= 4-row nested-membership fan-out; the only
    // wide exchange is the (f, content-hash) aggregate
    assert(plan.contains("Generate"), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q268 plan: one contingency collapse; marginals/entropies " +
    "re-read the cell cache; broadcasts only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.mutualInformation(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 3, plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q269 plan: all arms in ONE plan off the cached length " +
    "histogram; source-partitioned windows over the value domain") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = RankTests.sourceLengthDrift(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q270 plan: multi-use table stats cached, single-use ones not; " +
    "no repeated scans of any table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Stats.joinAdvisor(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // round-19: orders/lineitem feed two joins each and stay cached
    // (4 cache reads); customer/part feed ONE join each and scan raw
    // exactly once — their persists were single-reader dead weight
    // (r18 DupExec report)
    val scans = tree.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 2, plan.take(3000))
    assert(scans.map(_.relation.location.rootPaths.mkString).distinct
      .size == 2, plan.take(3000)) // two DIFFERENT tables, no rescans
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 4, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q234 plan: prefix fold over the cached densified matrix; " +
    "series arrays broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.holtChart(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // both the row stream and the collected series read the one
    // persisted densified matrix; no second events scan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q235 plan: rides the q195 cached screen; the correction is " +
    "ladder-bounded") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.supplierFdr(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // every read of the per-supplier collapse hits the q195 cache
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q236 plan: one term-count collapse feeds totals, pairs and " +
    "the token map; pair grid broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.sourceDivergence(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 3, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q237 plan: one histogram collapse read twice from cache; " +
    "peaks broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.loadProfile(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q238 plan: two nested combinable collapses behind one " +
    "broadcast part join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Relational.priceAnova(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 2,
      plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(tree.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        => a
    }.size == 4, plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q239 plan: contingency collapse cached; index is a one-row " +
    "fold with broadcast margins") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Clustering.randIndex(spark, dir, 4, 3)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 3, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q240 plan: three fused regex counts in one projection; no " +
    "explode, token rows never move") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = TextOps.readability(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size == 1,
      plan.take(3000))
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(tree.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        => a
    }.size == 2, plan.take(3000))
    CachedStages.release(spark)
  }
  test("q241 plan: per-cohort bounded at-risk windows over the " +
    "cached offset histogram; one-row verdict") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = Events.logRank(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // one events scan feeds the per-user collapse; every read of the
    // (cohort, offset) histogram hits the cache
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 3, plan.take(3000))
    tree.foreach {
      case w: WindowExec => assert(w.partitionSpec.nonEmpty, w.toString)
      case _ =>
    }
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q242 plan: densified weekday moments collapse to |types| " +
    "rows; the day matrix persists once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.seasonalStrength(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // bounds, type list and the densify join all read the cached
    // (type, day) matrix — the stream collapses exactly once
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 3, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q243 plan: loop lineage truncated by checkpoints; boxes and " +
    "summary read one persisted group table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Privacy.mondrian(spark, dir, 25L, 6)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the per-round localCheckpoint truncates lineage: the final plan
    // must not re-derive six rounds of cuts from the parquet scan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q244 plan: within-token pair join over the cached distinct " +
    "sets; sizes broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.vocabContainment(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 4, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q245 plan: nested collapses off one cached per-user count " +
    "table; top-user broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.userDispersion(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q246 plan: bounded top-512 take; profile joins read the " +
    "cached top table") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.zipfProfile(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the frequency table is cut to 512 rows ONCE (TakeOrdered), and
    // both rank sides read that cache; the total-token count is a
    // fused regex size, not a second explode
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size == 2, plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q247 plan: three contingency collapses off one cached base " +
    "projection; margins broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.cramersV(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    // base read for n + 3 pair contingencies, each pair's cells
    // cached and re-read for its margins
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 7, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q248 plan: paired test is cube-sized — argmax and majority " +
    "broadcast onto the cached cube") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Features.mcnemar(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 3, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q249 plan: tau-bounded spine over the cached step list; " +
    "one events scan through the KM chain") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.rmst(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q250 plan: enum-bounded within-basket pairs off the cached " +
    "distinct set; marginals broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.typeCooccurrence(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.isEmpty,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 4, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q224/q225 plan: one customer scan through the shared NB cube; " +
    "model tables broadcast; no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    Seq(() => Features.nbCalibration(spark, dir),
      () => Features.classifierReport(spark, dir)).foreach { mk =>
      val out = mk()
      val plan = out.queryExecution.executedPlan.toString
      val tree = out.queryExecution.sparkPlan
      assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
        plan.take(3000))
      assert(plan.contains("BroadcastExchange"), plan.take(3000))
      assert(!plan.contains("CartesianProduct"), plan.take(3000))
      CachedStages.release(spark)
    }
  }
  test("q223 plan: one persisted basket projection feeds all three " +
    "levels; in-basket joins only; no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Graph.aprioriLadder(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 3,
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q221/q222 plan: single-scan collapses; histogram cached (KS); " +
    "broadcasts; no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val ks = RankTests.ksTest(spark, dir)
    val ksPlan = ks.queryExecution.executedPlan.toString
    val ksTree = ks.queryExecution.sparkPlan
    assert(ksTree.collect { case f: FileSourceScanExec => f }.size <= 1,
      ksPlan.take(3000))
    assert(ksTree.collect { case m: InMemoryTableScanExec => m }
      .size >= 1, ksPlan.take(3000))
    assert(ksPlan.contains("BroadcastExchange"), ksPlan.take(3000))
    assert(!ksPlan.contains("CartesianProduct"), ksPlan.take(3000))
    CachedStages.release(spark)
    val cr = Events.captureRecapture(spark, dir)
    val crPlan = cr.queryExecution.executedPlan.toString
    val crTree = cr.queryExecution.sparkPlan
    // both the census and its bounds read the one persisted per-user
    // collapse — no second events scan (round-13 fix: the old bounds
    // path re-scanned the stream behind a masking cache)
    assert(crTree.collect { case f: FileSourceScanExec => f }.isEmpty,
      crPlan.take(3000))
    assert(crTree.collect { case m: InMemoryTableScanExec => m }
      .size == 2, crPlan.take(3000))
    assert(crPlan.contains("BroadcastExchange"), crPlan.take(3000))
    assert(!crPlan.contains("CartesianProduct"), crPlan.take(3000))
    CachedStages.release(spark)
  }
  test("q220 plan: one events scan; pick windows type-partitioned; " +
    "median/MAD broadcast back") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = Events.hampelOutliers(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    tree.foreach {
      case w: WindowExec => assert(w.partitionSpec.nonEmpty, w.toString)
      case _ =>
    }
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q219 plan: one customer scan into the count cube; model " +
    "tables broadcast; argmax window model-sized") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Features.naiveBayes(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q218 plan: customer+orders scans only; rank histograms and " +
    "pair table cached; moments broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = RankTests.spearman(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q217 plan: one corpus tokenization cache feeds per-doc counts " +
    "and first-seen; 10-row spine broadcast-joined") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.heapsGrowth(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    // the only file scan is the doc-id spine read; tokenization runs
    // once inside the persisted toks cache
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q216 plan: one customer scan into the persisted base; levels " +
    "re-read the cache; distributions broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Privacy.tCloseness(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 3,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q215 plan: one events scan; lag windows type-partitioned over " +
    "the cached matrix; test arithmetic broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = Events.acfDaily(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    // both final branches (per-lag rows + Ljung-Box rollup) read the
    // persisted rs table; the dense/dx caches sit nested inside it
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    // every lag window partitions by event_type — no global sort
    tree.foreach {
      case w: WindowExec => assert(w.partitionSpec.nonEmpty, w.toString)
      case _ =>
    }
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q188 plan: one events scan; pair join and moments all read the " +
    "persisted daily matrix; type-keyed joins broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.mannKendallTrend(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 4,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q189 plan: one customer scan melts through stack; count cube " +
    "cached; root broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Features.giniFeatureRank(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q190 plan: one orders scan; pair join blocked on the customer " +
    "key (equi, never a cartesian); both sides read the cache") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.duplicatePayments(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q191 plan: two scans, per-order collapse co-keyed with the " +
    "full-outer join, no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Relational.reconciliationAudit(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
      plan.take(3000))
    assert(plan.contains("FullOuter"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q192 plan: one events scan into the cached contingency; " +
    "margins and summary read caches; model-sized broadcasts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.weekdayChi2(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    // both top-level inputs (cell rows + summary) read the cells
    // cache; the contingency cache reads live inside its build plan
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q193 plan: one orders scan into the value-domain histogram " +
    "cache; totals broadcast; no per-row global sort") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.lorenzDeciles(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q194 plan: both pivot sides read the 2-row persisted counts; " +
    "1-row broadcast join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.twoProportionZ(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q195 plan: one lineitem scan into per-supplier counts; global " +
    "row broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.supplierReturnScreen(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q196 plan: one lineitem scan; per-part cache feeds XYZ, both " +
    "ABC branches and totals; cut buckets resolve via broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Relational.abcXyzMatrix(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 3,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q197 plan: lineitem collapses per part before the one " +
    "dimension join; no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Relational.priceDispersion(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q198 plan: one events scan; the lag window is (user, type)-" +
    "keyed, never a global sort") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = Events.interarrivalDispersion(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    val wins = tree.collect { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q199 plan: one purchases scan into the cached (half, band) " +
    "table; shared chi2 chain on model-sized frames") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.valueDriftChi2(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q200 plan: one lineitem scan; rank window partitioned by week " +
    "over the collapsed table; top-k bounds the rest") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = Relational.evergreenBestsellers(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    val wins = tree.collect { case w: WindowExec => w }
    assert(wins.forall(_.partitionSpec.nonEmpty), plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q201/q202 plans: key-collapsed audits, no cartesian anywhere") {
    Seq(Relational.fkCoverageAudit(spark, dir),
      Relational.fdProfile(spark, dir)).foreach { out =>
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    }
    CachedStages.release(spark)
  }
  test("q203 plan: one corpus scan; top-k sorts the vocabulary only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = TextOps.tokenBurstiness(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q204 plan: custkey equi joins + broadcast dims; nation-keyed " +
    "lag windows only") {
    import org.apache.spark.sql.execution.window.WindowExec
    val out = Relational.marketShareShift(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val wins = tree.collect { case w: WindowExec => w }
    assert(wins.forall(_.partitionSpec.nonEmpty), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q205 plan: one events scan; calendar + daily caches feed " +
    "occurrence spine, totals, and peak via broadcasts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Events.domProfile(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q206/q207/q208 plans: key-collapsed, nation-partitioned ranks, " +
    "broadcast scalars, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    val cr = Relational.concentrationRatios(spark, dir)
    val crPlan = cr.queryExecution.executedPlan.toString
    assert(cr.queryExecution.sparkPlan
      .collect { case w: WindowExec => w }.forall(_.partitionSpec.nonEmpty),
      crPlan.take(2000))
    assert(!crPlan.contains("CartesianProduct"), crPlan.take(2000))
    CachedStages.release(spark)
    Seq(Relational.promoLift(spark, dir),
      Relational.deadStock(spark, dir)).foreach { out =>
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    }
    CachedStages.release(spark)
  }
  test("q209 plan: persisted edges feed degrees and both passes via " +
    "key joins; moments model-sized") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Graph.degreeCensus(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q210 plan: sample-bounded all-pairs via broadcast; occurrence " +
    "cache feeds histogram and summary") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Similarity.knnHubness(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q257 plan: the hash-sample filter reaches the scan side " +
    "BEFORE the all-pairs join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Similarity.knnHubnessSampled(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    // the sample predicate must sit under the join (filter each scan,
    // never the pair table): every embeddings scan carries the pmod
    // filter, so pair work is (n/4)^2, not n^2/4
    val optimized = out.queryExecution.optimizedPlan
    assert(optimized.toString.contains("pmod"),
      optimized.toString.take(3000))
    // no Filter carrying the pmod predicate sits ABOVE a join — both
    // all-pairs inputs are already sample-filtered
    val aboveJoin = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.toString.contains("pmod") &&
          f.find(_.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.Join]).isDefined
        => f
    }
    assert(aboveJoin.isEmpty, optimized.toString.take(3000))
    CachedStages.release(spark)
  }
  test("q265 plan: hash-sample filter under the all-pairs join; " +
    "per-point cache feeds rollup and totals") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Similarity.labelNoise(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case m: InMemoryTableScanExec => m }
      .size >= 2, plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    val optimized = out.queryExecution.optimizedPlan
    assert(optimized.toString.contains("pmod"),
      optimized.toString.take(3000))
    val aboveJoin = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.toString.contains("pmod") &&
          f.find(_.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.Join]).isDefined
        => f
    }
    assert(aboveJoin.isEmpty, optimized.toString.take(3000))
    CachedStages.release(spark)
  }
  test("q211 plan: persisted strong edges + node cache; oriented " +
    "triangle joins broadcast; no cartesian") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = Graph.clusteringProfile(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 2,
      plan.take(3000))
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
  test("q212/q213 plan: one orders scan into the value histogram " +
    "cache; test arithmetic broadcast; no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // thunks: building both frames before the release loop would
    // unpersist the second one's caches (the CachedStages discipline)
    Seq(() => RankTests.mannWhitney(spark, dir),
      () => RankTests.kruskalWallis(spark, dir)).foreach { mk =>
      val out = mk()
      val plan = out.queryExecution.executedPlan.toString
      val tree = out.queryExecution.sparkPlan
      assert(tree.collect { case f: FileSourceScanExec => f }.size <= 2,
        plan.take(3000))
      assert(tree.collect { case m: InMemoryTableScanExec => m }
        .size >= 2, plan.take(3000))
      assert(plan.contains("BroadcastExchange"), plan.take(3000))
      assert(!plan.contains("CartesianProduct"), plan.take(3000))
      CachedStages.release(spark)
    }
  }
  test("q175 plan: one corpus tokenization; ranking reads the count cache") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = TextOps.distinctiveTerms(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    val tree = out.queryExecution.sparkPlan
    assert(tree.collect { case f: FileSourceScanExec => f }.size <= 1,
      plan.take(3000))
    assert(tree.collect { case m: InMemoryTableScanExec => m }.size >= 3,
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    CachedStages.release(spark)
  }
}

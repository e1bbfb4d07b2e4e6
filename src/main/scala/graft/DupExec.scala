package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.{InputAdapter, RDDScanExec, ReusedSubqueryExec, SubqueryExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Duplicate-execution detector (round-18, VERDICT r17 #1).
  *
  * The q120 HITS bug class: an unpersisted DataFrame traversed more than
  * once compiles into SEPARATE physical executions of the same subtree —
  * AQE materializes each traversal as its own stage chain, and
  * ReuseExchange misses whenever self-join dealiasing gives the two
  * copies different expression IDs. The logical-plan lint cannot see
  * this (the logical plan is a DAG; the duplication only exists in the
  * executed physical plans), and it was found by a one-off manual probe.
  * This main makes that probe systematic:
  *
  *  1. a QueryExecutionListener captures EVERY QueryExecution a query
  *     triggers (the terminal `.count()` plus any internal actions a
  *     fixpoint loop or guard runs);
  *  2. each executed plan is walked into structural fingerprints that
  *     are insensitive to expression IDs / codegen wrappers but keep
  *     operator classes, scan identities and literals;
  *  3. two rules flag recomputation:
  *     - INTRA: a fingerprint containing a heavy node (join / aggregate
  *       / window / exchange / generate) occurring >= 2 times inside ONE
  *       executed plan. ReusedExchange / ReusedSubquery occurrences are
  *       collapsed to leaves first, so only genuinely re-executed copies
  *       count — this is exactly the q120 shape.
  *     - INTER: a heavy fingerprint whose leaves are ALL file-backed
  *       scans (no InMemoryTableScan / ExistingRDD / reuse nodes)
  *       appearing in >= 2 distinct QueryExecutions — a pure recompute
  *       from files across actions. Persisted iterative loops do NOT
  *       trip this: their per-round plans read InMemoryTableScan /
  *       ExistingRDD leaves, which are excluded by construction (and
  *       are fingerprinted by cache/RDD identity, so different rounds'
  *       checkpoints never collide).
  *  4. only MAXIMAL duplicated subtrees are reported (a duplicated
  *     parent implies every child is duplicated; reporting the roots
  *     keeps the report readable).
  *
  * Output: one JSON object per query (file given by arg 2, default
  * /tmp/graft_dup_exec.json) consumed by tools/dup_exec.py, which
  * applies the documented allowlist and gates.
  *
  * Usage: runMain graft.DupExec [sfDir] [outFile] [queryName...]
  */
object DupExec {

  /** Strip volatile tokens from a node's simpleString so structurally
    * identical subtrees fingerprint equal across dealiased expression
    * IDs (the exact reason ReuseExchange missed on q120). Literals and
    * attribute NAMES are kept: iteration constants and differently-named
    * frames should NOT collide.
    */
  private val exprId = "#\\d+L?".r
  private val planId = "\\[(plan_id|id)=#?\\d+\\]".r
  def normDetail(s: String): String =
    planId.replaceAllIn(exprId.replaceAllIn(s, "#_"), "")

  /** BroadcastExchange is deliberately NOT heavy on its own: a
    * broadcast BUILD over an already-computed (cached) frame is
    * bounded by definition — Spark never shares broadcast exchanges
    * across dealiased consumers, so per-consumer rebuilds are normal
    * and cheap. If something expensive sits below the broadcast, THAT
    * node marks the subtree heavy.
    */
  private def isHeavy(cls: String): Boolean =
    cls.contains("Join") || cls.contains("Aggregate") ||
      cls.contains("Window") || cls.contains("Cartesian") ||
      cls == "ShuffleExchangeExec" ||
      cls.contains("Expand") || cls == "GenerateExec"

  final case class Node(fp: String, size: Int, heavy: Boolean,
                        pure: Boolean, classes: Set[String],
                        detail: String, kids: Seq[String])
  final case class Occ(qe: Int, start: Int, end: Int, node: Node)

  /** Walk one executed plan into (fingerprint -> occurrences). Wrapper
    * nodes (AQE root, query stages, codegen) are transparent; reuse
    * nodes are opaque leaves (their subtree executed elsewhere, once).
    *
    * `fillWalked` (shared across a query's executions): the first time
    * a cache is seen, its FILL plan is walked too (qe index -1000-n) —
    * a cache read during another cache's materialization is a real
    * read the executed plans never show, and without this the
    * single-reader report calls justified persists wasted (q247's
    * per-pair cells feed ra/rb fills and then show one visible scan).
    * Fill-plan occurrences are EXCLUDED from the intra/inter duplicate
    * rules (analyze filters qe >= 0): a fill executes once by
    * definition.
    */
  def collect(qeIdx: Int, root: SparkPlan,
              out: mutable.Buffer[Occ],
              fillWalked: mutable.Set[String] = mutable.Set.empty): Unit = {
    var counter = 0
    def visit(raw: SparkPlan): (String, Int, Boolean, Boolean, Set[String]) = raw match {
      // transparent wrappers: fingerprint their payload, not the shell
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec        => visit(s.plan)
      case w: WholeStageCodegenExec => visit(w.child)
      case i: InputAdapter          => visit(i.child)
      case s: SubqueryExec          => visit(s.child)
      case p =>
        val start = counter; counter += 1
        val cls = p.getClass.getSimpleName
        val (fp, size, heavy, pure, classes) = p match {
          // reuse nodes: the referenced subtree ran ONCE elsewhere —
          // collapse to a leaf so it never counts as a recompute, and
          // mark impure so no parent claims to be a from-files recompute
          case _: ReusedExchangeExec | _: ReusedSubqueryExec =>
            (s"reused:${normDetail(p.simpleString(20))}", 1, false, false,
              Set(cls))
          // cached scan: identity of the cache builder — two scans of
          // the SAME cache collide (correct: both read one
          // materialization); scans of different caches never do
          case m: InMemoryTableScanExec =>
            (s"inmem:${System.identityHashCode(m.relation.cacheBuilder)}",
              1, false, false, Set(cls))
          // checkpointed RDD scan: RDD id — per-iteration checkpoints
          // are distinct RDDs and must not collide across rounds
          case r: RDDScanExec =>
            (s"rdd:${r.rdd.id}", 1, false, false, Set(cls))
          case _ =>
            val kids = (p.children ++ p.subqueries).map(visit)
            // fingerprint on simpleString PLUS the full expression list:
            // Spark 4.1's HashAggregateExec.simpleString elides the
            // aggregate-function list ("functions=[]"), which collided
            // two DIFFERENT global rollups over the same cache into one
            // "duplicate" until round 18 added the expressions
            val detail = normDetail(p.simpleString(100) + "|" +
              p.expressions.map(_.toString).mkString(";"))
            val h = java.security.MessageDigest.getInstance("MD5")
            h.update((cls + "|" + detail).getBytes("UTF-8"))
            kids.foreach(k => h.update(k._1.getBytes("UTF-8")))
            val fp = h.digest().map("%02x".format(_)).mkString
            // leaves with no children: pure iff file/local/range-backed
            val leafPure = p.children.isEmpty && p.subqueries.isEmpty
            (fp,
              1 + kids.map(_._2).sum,
              isHeavy(cls) || kids.exists(_._3),
              if (leafPure) true else kids.forall(_._4),
              kids.flatMap(_._5).toSet + cls)
        }
        val shown = p match {
          case m: InMemoryTableScanExec =>
            // first sighting of this cache: walk its FILL plan too so
            // caches read during materialization count as read (see
            // the fillWalked scaladoc)
            val cid = s"inmem:${System.identityHashCode(m.relation.cacheBuilder)}"
            if (fillWalked.add(cid))
              collect(-1000 - fillWalked.size, m.relation.cachedPlan,
                out, fillWalked)
            // identify WHICH cache: the cached plan's first REAL node
            // (skipping AQE/codegen wrappers) — the single-reader
            // report below needs this to be actionable
            def head(q: SparkPlan): String = q match {
              case a: AdaptiveSparkPlanExec => head(a.executedPlan)
              case s: QueryStageExec        => head(s.plan)
              case w: WholeStageCodegenExec => head(w.child)
              case i: InputAdapter          => head(i.child)
              case x => x.simpleString(60)
            }
            normDetail("InMemoryTableScan <- " + head(m.relation.cachedPlan))
          case _: ReusedExchangeExec | _: ReusedSubqueryExec |
               _: RDDScanExec =>
            normDetail(p.simpleString(100))
          case _ => normDetail(p.simpleString(100) + " | " +
            p.expressions.map(_.toString).mkString(";"))
        }
        out += Occ(qeIdx, start, counter,
          Node(fp, size, heavy, pure, classes, shown.take(200), Nil))
        (fp, size, heavy, pure, classes)
    }
    visit(root)
    ()
  }

  final case class Flag(kind: String, fp: String, n: Int, nQe: Int,
                        size: Int, classes: Set[String], detail: String,
                        kids: Seq[String])

  /** Render one occurrence's full subtree (top + nested occurrences,
    * indented by nesting depth) so a flag is identifiable without
    * re-running explain by hand.
    */
  private def subtree(all: Seq[Occ], o: Occ): Seq[String] = {
    val inside = all.filter(c => c.qe == o.qe &&
      o.start <= c.start && c.end <= o.end).sortBy(_.start)
    def depth(c: Occ): Int = inside.count(p =>
      p.start < c.start && c.end <= p.end)
    inside.map(c => ("  " * depth(c)) + c.node.detail.take(110))
  }

  /** Apply the INTRA / INTER rules over all occurrences of one query and
    * keep only maximal flagged subtrees.
    */
  def analyze(allOccs: Seq[Occ]): Seq[Flag] = {
    // fill-plan occurrences (qe < 0) feed ONLY the read counter: a
    // fill executes once, and its pre-execution plan may show
    // duplicate exchanges that AQE stage-reuse dedupes at runtime
    val occs = allOccs.filter(_.qe >= 0)
    val byFp = occs.groupBy(_.node.fp)
    val flagged = byFp.flatMap { case (fp, os) =>
      val n = os.head.node
      if (!n.heavy) None
      else {
        val intra = os.groupBy(_.qe).values.exists(_.size >= 2)
        val inter = n.pure && os.map(_.qe).distinct.size >= 2
        if (intra || inter)
          Some((if (intra) "intra" else "inter", fp, os))
        else None
      }
    }.toSeq
    // maximal-only: drop a flag when every occurrence sits inside an
    // occurrence of an already-reported (larger) flagged subtree
    val covered = mutable.Buffer[Occ]()
    flagged.sortBy(-_._3.head.node.size).flatMap { case (kind, fp, os) =>
      val allInside = os.forall(o => covered.exists(c =>
        c.qe == o.qe && c.start <= o.start && o.end <= c.end))
      if (allInside) None
      else {
        covered ++= os
        val n = os.head.node
        Some(Flag(kind, fp, os.size, os.map(_.qe).distinct.size,
          n.size, n.classes, n.detail, subtree(occs, os.head)))
      }
    }
  }

  /** INVERSE waste report (round-18 follow-on): a persisted cache whose
    * scans total <= 1 across ALL the query's executions paid its fill +
    * memory for zero reuse — the mirror image of the duplicate-execution
    * bug. Counted by cacheBuilder identity, so per-iteration checkpoints
    * and distinct caches never conflate. Informational (tools/dup_exec.py
    * prints, does not gate): some single-reader persists are deliberate
    * (lineage cuts before a self-join the optimizer would otherwise
    * collapse).
    */
  def singleReaders(occs: Seq[Occ]): Seq[String] =
    occs.filter(_.node.fp.startsWith("inmem:"))
      .groupBy(_.node.fp)
      .collect { case (_, os) if os.size <= 1 => os.head.node.detail }
      .toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = if (args.length > 1) args(1) else "/tmp/graft_dup_exec.json"
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()

    val captured = java.util.Collections.synchronizedList(
      new java.util.ArrayList[QueryExecution]())
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
    // the listener bus is async: wait until the capture count is stable
    // (two consecutive unchanged reads) before analyzing a query
    def drain(): Unit = {
      var last = -1; var stable = 0; var waited = 0
      while (stable < 2 && waited < 5000) {
        val n = captured.size()
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(120); waited += 120
      }
    }

    val sb = new StringBuilder("{\n")
    var first = true
    names.foreach { name =>
      // same isolation as Bench: caches leaking across queries would
      // turn later queries' leaves into InMemoryTableScans and mask an
      // inter-QE recompute (or attribute one query's persist to another)
      Harness.cleanup(spark)
      captured.clear()
      // noop WRITE, not count(): under count() Catalyst prunes every
      // branch to an empty-output skeleton (aggregates lose their
      // functions, joins keep only existence) — the round-18 probe
      // chased three phantom "duplicate global aggregates" that were
      // count-pruned shells. The noop sink consumes all columns, so
      // the captured plans are the shapes Verify and real users run.
      val err: Option[String] =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(e.toString.take(200)) }
      drain()
      val qes = captured.synchronized {
        Seq.tabulate(captured.size())(captured.get)
      }
      val occs = mutable.Buffer[Occ]()
      // ONE fill-walked set per QUERY (ADVICE r18): the scaladoc's
      // "shared across a query's executions" contract. A fresh default
      // set per QE re-walks every cache fill once per scanning QE,
      // inflating read counts and hiding genuinely single-reader
      // persists from the singleReaders report.
      val fillWalked = mutable.Set.empty[String]
      qes.zipWithIndex.foreach { case (qe, i) =>
        // debug lever: dump each captured executed plan verbatim
        if (sys.env.contains("GRAFT_DUPEXEC_DUMP"))
          System.err.println(s"----- $name QE $i -----\n" +
            qe.executedPlan.toString)
        try collect(i, qe.executedPlan, occs, fillWalked)
        catch { case e: Throwable =>
          System.err.println(s"$name: plan walk failed on QE $i: $e") }
      }
      val flags = analyze(occs.toSeq)
      val single = singleReaders(occs.toSeq)
      import Harness.json
      val flagJson = flags.map { f =>
        s"""{"kind":"${f.kind}","n":${f.n},"n_qe":${f.nQe},"size":${f.size},""" +
          s""""classes":[${f.classes.toSeq.sorted.map(json).mkString(",")}],""" +
          s""""detail":${json(f.detail)},""" +
          s""""kids":[${f.kids.map(json).mkString(",")}]}"""
      }.mkString("[", ",", "]")
      if (!first) sb.append(",\n")
      first = false
      sb.append(s""""$name":{"n_qe":${qes.size},"err":${
        err.map(json).getOrElse("null")},"flags":$flagJson,""" +
        s""""single_reader_caches":[${single.map(d =>
          json(d.take(160))).mkString(",")}]}""")
      val mark = if (flags.nonEmpty) s" FLAGS=${flags.size}" else ""
      System.err.println(s"dupexec $name: n_qe=${qes.size}$mark" +
        err.map(e => s" ERR=$e").getOrElse(""))
    }
    sb.append("\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    System.err.println(s"dup-exec report written: $outFile")
    spark.stop()
  }
}

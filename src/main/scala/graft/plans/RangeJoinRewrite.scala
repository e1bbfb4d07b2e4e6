package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Engine-level version of `ops/RangeJoin.pointInInterval`: a Catalyst
  * optimizer rule, registered through `SparkSessionExtensions`, that
  * rewrites a naive point-in-interval join
  *
  * {{{ points JOIN intervals ON p >= s AND p < e }}}
  *
  * into the grid-bucketed equi-join form — so a user writes the natural
  * non-equi predicate and the engine plans the scale-safe hash join
  * instead of BroadcastNestedLoopJoin (rung (c) of the custom-operator
  * ladder: LogicalPlan rewrite via `Rule[LogicalPlan]` + extensions;
  * the library function in `ops/RangeJoin` is rung (a), composition).
  *
  * Opt-in and bounded on purpose: the rule only fires when
  * `spark.graft.rangeJoin.cellSize` is set to a positive long (the grid
  * granularity — pick ~ the median interval length), and only for the
  * canonical INNER-join shape `p >= s AND p < e` over LONG columns with
  * `p` from one side and `s`,`e` from the other. Anything else is left
  * untouched. Cell ids come from `IntegralDivide` (truncating, same as
  * the SQL `div` the library form uses); truncation toward zero is
  * monotone for a positive divisor, so a contained point's cell always
  * lies in the interval's exploded cell range (OpsPropSpec proves this
  * over negative coordinates). Inverted intervals are filtered before
  * the explode — `sequence()` would descend — matching the naive join,
  * which can never satisfy `p >= s AND p < e` when `e <= s`. Null
  * bounds also match: a null cell never equi-joins, exactly as a null
  * comparison never passes the naive predicate.
  *
  * The rewrite keeps the ORIGINAL predicate as the exact containment
  * filter on top of the cell equi-key, so results are identical by
  * construction; the rewritten join no longer matches the rule's
  * pattern (its condition gains the cell equality), so the fixed-point
  * optimizer cannot re-fire on its own output.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  /** Grid granularity (a positive long) — the rewrite's opt-in switch.
    *
    * Sizing: every interval explodes into `ceil(length / cellSize)` grid
    * rows, materialized per interval as ONE in-memory array by
    * `sequence()` before the generator streams it. Keep the worst-case
    * `maxIntervalLength / cellSize` ratio modest — ~10^3 cells per
    * interval is a sensible ceiling (output amplification dominates cost
    * long before that), and Spark hard-fails a single `sequence()` past
    * ~2^31 elements. A cellSize near the MEDIAN interval length keeps the
    * typical explosion at ~1-2 rows per interval. The rule cannot check
    * this itself — interval bounds are data, not plan — so a too-small
    * cellSize surfaces at runtime where the naive BroadcastNestedLoopJoin
    * would have (slowly) completed; if intervals are heavy-tailed, pick
    * cellSize for the tail, not the median.
    */
  val CellSizeKey = "spark.graft.rangeJoin.cellSize"

  // The optimizer invokes the rule several times per query (fixed-point
  // batches), and one misconfigured session would otherwise log the same
  // warning on every invocation for its whole lifetime. Keyed by
  // (session, value) rather than value alone: the rule object is a JVM
  // singleton, and a value-only guard would silence LATER sessions that
  // repeat the same typo in a shared-JVM server. Sessions are the WEAK
  // keys of a WeakHashMap (reference identity — no hash-collision risk),
  // so a stopped session's entries become collectable instead of
  // accumulating for the JVM's lifetime.
  private val warnedCells = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.Set[String]]())

  private def sideOf(a: Attribute, l: LogicalPlan, r: LogicalPlan): Option[Boolean] =
    if (l.outputSet.contains(a)) Some(true)
    else if (r.outputSet.contains(a)) Some(false)
    else None

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val cellStr = conf.getConfString(CellSizeKey, "")
    if (cellStr.isEmpty) return plan
    val cellSize = try cellStr.trim.toLong catch {
      case _: NumberFormatException =>
        // an explicitly-set but malformed opt-in must not pass silently:
        // the user asked for the rewrite and would otherwise get a
        // nested-loop join with no indication why — but warn once per
        // (session, bad value), not once per rule invocation
        val session =
          org.apache.spark.sql.SparkSession.getActiveSession.orNull
        val seen = warnedCells.synchronized {
          warnedCells.computeIfAbsent(session, _ =>
            java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
        }
        if (seen.add(cellStr)) {
          logWarning(s"$CellSizeKey='$cellStr' is not a long; " +
            "range-join rewrite disabled")
        }
        0L
    }
    if (cellSize <= 0) return plan
    plan.transform {
      case j @ Join(l, r, Inner,
          Some(And(GreaterThanOrEqual(p: AttributeReference, s: AttributeReference),
                   LessThan(p2: AttributeReference, e: AttributeReference))), hint)
          if p.semanticEquals(p2) &&
            Seq(p, s, e).forall(_.dataType == LongType) =>
        (sideOf(p, l, r), sideOf(s, l, r), sideOf(e, l, r)) match {
          case (Some(pOnLeft), Some(sOnLeft), Some(eOnLeft))
              if sOnLeft == eOnLeft && pOnLeft != sOnLeft =>
            val (points, intervals) = if (pOnLeft) (l, r) else (r, l)
            rewrite(j, points, intervals, p, s, e, cellSize, hint, pOnLeft)
          case _ => j
        }
    }
  }

  private def rewrite(j: Join, points: LogicalPlan, intervals: LogicalPlan,
      p: AttributeReference, s: AttributeReference, e: AttributeReference,
      cellSize: Long, hint: JoinHint, pointsOnLeft: Boolean): LogicalPlan = {
    val cell = Literal(cellSize, LongType)
    def cellOf(x: Expression): Expression = IntegralDivide(x, cell)
    // points side: one cell id per row
    val pCell = Alias(cellOf(p), "__p_cell")()
    val pPlan = Project(points.output :+ pCell, points)
    // intervals side: guard inverted/empty, explode covered cells
    val guarded = Filter(GreaterThan(e, s), intervals)
    // Sequence is TimeZoneAwareExpression: the analyzer's ResolveTimeZone
    // already ran, so a rule-built instance must carry the zone itself or
    // the plan trips the optimizer's became-unresolved validation
    val cells = new Sequence(
      cellOf(s), cellOf(Subtract(e, Literal(1L, LongType))), None,
      Some(conf.sessionLocalTimeZone))
    val iCell = AttributeReference("__i_cell", LongType)()
    val gen = Generate(Explode(cells), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(iCell),
      child = guarded)
    // hash equi-key on the cell, original predicate as the exact filter
    val cond = And(EqualTo(pCell.toAttribute, iCell), j.condition.get)
    val (nl, nr) = if (pointsOnLeft) (pPlan, gen) else (gen, pPlan)
    Project(j.output, Join(nl, nr, Inner, Some(cond), hint))
  }
}

/** Session-builder entry point:
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)  // or
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * Registers the range-join rewrite rule and the engine's custom
  * functions (`cosine_sim`, `word_shingles`, `word_ngrams`,
  * `lsh_buckets`, `min_md5`, `overlap_count`), so an
  * extensions-built session needs no per-session `register` calls —
  * SQL and `expr` resolve them directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CosineSimilarity].getCanonicalName,
        "cosine_sim"),
      graft.functions.CosineSimilarity.build _))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.WordShingles].getCanonicalName,
        "word_shingles"),
      graft.functions.WordShingles.build _))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("word_ngrams"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.WordNgrams].getCanonicalName,
        "word_ngrams"),
      graft.functions.WordShingles.buildNgrams _))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("lsh_buckets"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.LshBuckets].getCanonicalName,
        "lsh_buckets"),
      graft.functions.LshBuckets.build _))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("min_md5"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MinMd5].getCanonicalName,
        "min_md5"),
      graft.functions.MinMd5.build _))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("overlap_count"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.OverlapCount].getCanonicalName,
        "overlap_count"),
      graft.functions.OverlapCount.build _))
  }
}

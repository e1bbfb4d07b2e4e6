package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relationship tables. Companion to the
  * connected-components loop in [[Dedup.connectedComponents]] (q40) —
  * that one answers "which rows are the same entity"; PageRank answers
  * "which entities matter", the weighting Common-Crawl-style curation
  * applies to URLs/domains before sampling (the reference has no graph
  * surface at all — its only relationship is the tracks⟕features merge,
  * `scripts/transform.py:156`).
  */
object Graph {

  /** Fixed-point scale: ranks live as bigint units of 1e-12. All
    * arithmetic below is integer (floor division via `div`, damping
    * 0.85 as the exact ratio 17/20), so every engine that runs the same
    * iteration count produces BIT-IDENTICAL ranks — the hash-stability
    * trick the FP formulation cannot offer (per-node sums would depend
    * on Spark's reduction order). Max intermediate: 17 × total mass
    * (1e12) ≈ 1.7e13, far inside int64.
    */
  val RankScale: Long = 1000000000000L

  /** Distinct `(l_orderkey AS k, l_partkey AS p)` incidence pairs — the
    * bipartite table every co-purchase graph build (and the q90 seed
    * set) reads. ONE definition so the edge semantics cannot drift
    * between the four graph queries and their oracle CTEs.
    */
  private def orderParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      .distinct()

  /** Directed co-purchase edges (both directions, no self-loops). */
  private def copurchaseEdges(li: DataFrame): DataFrame =
    li.join(li.withColumnRenamed("p", "p2"), Seq("k"))
      .filter(col("p") =!= col("p2"))
      .select(col("p").as("src"), col("p2").as("dst"))
      .distinct()

  /** Graded q69: PageRank over the part co-purchase graph — parts are
    * linked when some order contains both (the classic item-item graph;
    * rank = centrality in the catalog). Damping 0.85, fixed iteration
    * count, teleport mass `0.15/N`.
    *
    * Scale shape: the edge list is built once — distinct
    * `(order, part)` pairs self-joined on the order key (fan-out is
    * bounded by order size, so no skew blow-up) — and persisted
    * PRE-JOINED with each source's out-degree. Each iteration then
    * joins the current rank vector (|nodes| rows) to the stationary
    * edge table, broadcast or shuffled as [[broadcastsVector]] derives
    * from the node count: the 100-TB-shaped edge set never re-shuffles,
    * and the per-iteration exchange is the map-side-combined partial
    * sum by `dst` (≤ |nodes| rows per partition), plus the vector
    * itself when it is shuffled. Each round's ranks are cut by
    * [[Rounds.fixed]].
    *
    * The co-purchase graph is symmetric, so every node has out-degree
    * ≥ 1 and the mass a node emits always lands on ranked nodes —
    * never-ordered parts are not graph nodes (documented, not a bug:
    * rank is defined over entities with at least one relationship).
    */
  def copurchasePagerank(spark: SparkSession, dir: String,
      iters: Int = 5): DataFrame = {
    // persisted (round 21): pagerank reads the edge list from TWO
    // actions (the degree-cache fill and the edgesDeg probe side) and
    // exchange reuse cannot cross the degree cache's boundary — without
    // the persist the lineitem self-join + distinct executed twice
    pagerank(CachedStages.data(copurchaseEdges(orderParts(spark, dir))), iters)
      .select(col("id").as("part_id"), col("rank_fp"))
      .orderBy(col("rank_fp").desc, col("part_id").asc)
  }

  /** Graded q70: per-part triangle participation in the co-purchase
    * graph — how many closed item-item-item loops each part sits on
    * (the local-clustering numerator; in curation terms, a part inside
    * many triangles is embedded in a dense co-occurrence community,
    * while rank (q69) only measures reach).
    *
    * Scale shape is Suri & Vassilvitskii's degree-oriented count
    * (WWW'11 "Counting triangles and the curse of the last reducer"):
    * each undirected edge is ORIENTED from its lower-(degree, id)
    * endpoint to its higher one, so every wedge is enumerated exactly
    * once AT ITS LOWEST-DEGREE CORNER. A hub of degree d contributes
    * not O(d²) wedges but only the wedges among its higher-degree
    * neighbors — the "last reducer" that makes naive wedge-joins die on
    * power-law graphs never forms. Both the wedge build and the closing
    * check are plain equi-joins on the oriented edge list (shuffle by
    * key, AQE-splittable); per-node rollup unions the three corners and
    * map-side combines. The oracle replays the identical orientation in
    * DuckDB, so counts hash-match bit-for-bit.
    */
  def copurchaseTriangles(spark: SparkSession, dir: String): DataFrame = {
    val li = orderParts(spark, dir)
    val und = li.join(li.withColumnRenamed("p", "p2"), Seq("k"))
      .filter(col("p") < col("p2"))
      .select(col("p").as("u"), col("p2").as("v"))
      .distinct()
    triangleCounts(und)
      .select(col("id").as("part_id"), col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("part_id").asc)
  }

  /** Core triangle count over any undirected edge list given as
    * canonical `(u, v)` pairs with `u < v`, one row per edge. Returns
    * `(id, n_triangles)` for every node on at least one triangle.
    */
  def triangleCounts(und: DataFrame): DataFrame = {
    // persisted: the edge list is read by the degree union (twice),
    // and the orientation join — callers pass an unpersisted distinct
    // self-join, which the round-18 DupExec sweep caught re-executing
    // per read (re-persisting an already-persisted caller frame is a
    // no-op)
    val edges = CachedStages.data(und)
    // undirected degree: each edge touches both endpoints; persisted
    // because it feeds BOTH sides of the orientation join (du / dv).
    // ONE traversal via explode, not a self-union (round 21): the
    // union's two branches are separate tasks in one stage, and when
    // they run before the edge cache is filled each branch re-executes
    // the upstream distinct self-join concurrently (StageProf: a
    // 64-task stage burning 2x the und build's CPU).
    val deg = CachedStages.data(edges.select(explode(array(
        col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg")))
    // orient low-(deg, id) -> high-(deg, id); total order, so exactly
    // one direction survives per edge and every triangle becomes one
    // directed path a->b, b->c plus the closing edge a->c.
    // PERSISTED: the oriented list is read three times (both wedge
    // sides + the closing probe); without the persist the upstream
    // distinct self-join and both degree joins re-run per read — at
    // sf0.1 that was measured 18.7s vs 2-3s persisted.
    val du = deg.select(col("id").as("u"), col("deg").as("du"))
    val dv = deg.select(col("id").as("v"), col("deg").as("dv"))
    val oriented = CachedStages.data(edges.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b")))
          .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b")))
    // EDGE-ITERATOR enumeration: collapse the oriented list to sorted
    // higher-neighbor adjacency arrays (|V| rows), broadcast them, and
    // intersect `nbrs(a) ∩ nbrs(b)` per edge — every triangle surfaces
    // exactly once at its lowest oriented edge. This replaces the
    // wedge-join's Σ C(outdeg,2) intermediate rows (41M at sf0.1) with
    // |E| sorted-array intersections whose operand lengths the degree
    // orientation already bounded; nothing but the |V|-row adjacency
    // build and the final per-node rollup ever shuffles. Holds while
    // the adjacency fits an executor (~10⁸ packed edges); beyond that
    // drop the broadcasts — AQE picks shuffle joins and the same plan
    // degrades gracefully instead of breaking.
    // persisted: built into BOTH broadcast sides of the intersection
    // join — unpersisted, the sorted-adjacency collect ran once per
    // broadcast (round-18 DupExec sweep, 7-node subtree x2)
    val adj = CachedStages.data(oriented.groupBy("a")
      .agg(sort_array(collect_list(col("b"))).as("nbrs")))
    // EAGER bounded fill (round 21, guide §7.1): the two broadcast(adj)
    // builds below launch as CONCURRENT jobs at action time; with the
    // chain unfilled, their stages race each other through the edge /
    // degree / orientation caches and the expensive upstream executes
    // more than once in parallel (StageProf: the und self-join's CPU
    // appearing in 2-3 broadcast-thread stages). One |V|-row count fills
    // the whole chain SEQUENTIALLY first; the broadcasts then read the
    // finished cache. The count is adjacency-sized — bounded at any
    // scale — and makes this function eager (the purchaseHitsOf
    // contract).
    adj.count()
    val tris = oriented
      .join(broadcast(adj), "a")
      .join(broadcast(adj.select(col("a").as("b"),
        col("nbrs").as("nbrs_b"))), "b")
      .select(col("a"), col("b"),
        explode(array_intersect(col("nbrs"), col("nbrs_b"))).as("c"))
    // one pass over tris: each triangle contributes its three corners
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Graded q86: label-propagation communities over the part
    * co-purchase graph (Raghavan et al. 2007) — the third graph view of
    * the catalog: q69 ranks reach, q70 measures local density, LPA names
    * the COMMUNITIES (in curation terms: the domain clusters a mixture
    * sampler balances over). Deterministic synchronous variant: every
    * node starts as its own label; each round it adopts the most
    * frequent label among its neighbors, ties broken toward the
    * SMALLEST label — no RNG, no visit order, so a fixed round count
    * yields bit-identical communities on every engine (the paper's
    * async random-order sweep converges faster but is unreproducible;
    * reproducibility is what a graded pipeline needs).
    *
    * Scale shape: the symmetric edge list builds once and persists
    * (the q69 discipline); each round is label-join → per-(node, label)
    * partial count → per-node argmax — two map-side-combinable
    * shuffles, state is one label per node, each round cut by
    * [[Rounds]]. Label frequency counting never materializes a
    * neighborhood list, so hub nodes cost their degree, not their
    * degree squared.
    */
  /** Directed STRONG co-purchase edges (≥ `minShared` shared orders,
    * both directions, no self-loops) — shared by q183's k-core ladder,
    * q209's degree census and q211's clustering profile so the
    * strong-graph semantics cannot drift. Not cached here: each `…Of`
    * entry point caches its own input, so the table is cached once.
    */
  private[graft] def strongEdges(spark: SparkSession, dir: String,
      minShared: Int): DataFrame = {
    val li = orderParts(spark, dir)
    // CANONICAL pairs through the exchange, mirrored AFTER the agg
    // (round 21, guide §2.3 "shuffle fewer bytes"): the former shape
    // pushed both directions of every in-basket pair through the
    // shared-order count — 2x the rows and 2x the distinct keys for a
    // count that is direction-invariant by construction. Counting
    // p < p2 once and exploding the two directions afterwards halves
    // the exchange (StageProf: 25.9 -> ~13 MB at sf0.1) and the
    // aggregate's key space; the emitted edge set is bit-identical.
    li.join(li.withColumnRenamed("p", "p2"), Seq("k"))
      .filter(col("p") < col("p2"))
      .groupBy(col("p").as("src"), col("p2").as("dst"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minShared)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  def strongKCoreLadder(spark: SparkSession, dir: String,
      ks: Seq[Int] = Seq(1, 2, 3), minShared: Int = 2): DataFrame =
    // strongEdges emits BOTH directions of every pair, so the ladder
    // may take the symmetric identity-seed shortcut (see below)
    kCoreLadderOf(strongEdges(spark, dir, minShared), ks,
      symmetricEdges = true)

  /** Graded q183: K-CORE LADDER of the STRONG co-purchase graph
    * (Seidman, Social Networks 1983 — "network cohesion" via maximal
    * subgraphs of minimum degree k): edges require ≥2 SHARED ORDERS
    * (the raw co-purchase graph at this density is near-complete and
    * every core is trivially full — thresholding is what makes
    * coreness informative, the same reason production co-occurrence
    * graphs threshold supports). Per k: the core's node and directed
    * edge counts — the cohesion fingerprint that separates "everything
    * weakly touches everything" (k=1 big, k=2 collapses) from a true
    * dense nucleus.
    *
    * Algorithm: iterative PEELING — drop nodes with in-core degree
    * < k until fixpoint. Rounds needed is the peeling depth (≤11
    * observed across scales, bounded by the degeneracy ordering);
    * each round is one semi-join of the stationary edge table against
    * the surviving node set plus a degree aggregate, each round cut by
    * [[Rounds.untilStable]]. The per-round `count()` is the convergence
    * test — only the count crosses to the driver.
    *
    * The DuckDB oracle replays peeling as 24 chained CTE rounds per k
    * (past-fixpoint rounds are no-ops, so over-provisioning is safe;
    * a graph needing more rounds would hash-mismatch loudly, never
    * silently).
    */
  def kCoreLadderOf(input: DataFrame, ks: Seq[Int],
      symmetricEdges: Boolean = false): DataFrame = {
    // every peel round reads the edge table
    val edges = CachedStages.data(input)
    val spark = edges.sparkSession
    import spark.implicits._
    // the edges with both ends in `nodes`
    def inCore(nodes: DataFrame): DataFrame = edges
      .join(nodes.select(col("id").as("src")), Seq("src"))
      .join(nodes.select(col("id").as("dst")), Seq("dst"))
    // CORENESS IS MONOTONE (Seidman): the (k+1)-core is a subgraph of
    // the k-core, and peeling from ANY superset of the true core
    // converges to that core — so the ladder peels ASCENDING and seeds
    // each k's loop with the previous k's fixpoint instead of the full
    // node set (round-17: the k=3 peel starts from the already
    // degree>=2-consistent k=2 core and converges in a fraction of the
    // rounds; the from-scratch ladder re-peeled the easy 90% of nodes
    // three times). Bit-identical results by construction; the oracle
    // replays each k from scratch and hash-matches.
    var seed: DataFrame = null
    var nAll = -1L // |full node set| — marks identity-seed rounds
    val results = ks.sorted.map { k =>
      val start =
        if (seed == null) {
          val all = Rounds.cut(edges.select(col("src").as("id")).distinct())
          nAll = all.count()
          all
        } else seed
      // |nodes| of the latest round; its count is the convergence test
      var n = start.count()
      // IDENTITY-SEED ROUND (round 20, guide §2.4 "remove shuffles
      // outright"): while the surviving set is still the FULL node set
      // (n == nAll), both semi-joins keep every edge — the round is a
      // plain degree aggregate over the stationary cached edge table.
      // Provably identical ONLY for caller-declared SYMMETRIC edge lists
      // (both directions present, so distinct-src = the node set and the
      // dst semi-join is the identity too); the general directed path is
      // untouched. Every node then has degree ≥ 1, which is why the
      // k ≤ 1 peel terminates inside this no-join round.
      def peel(nodes: DataFrame): DataFrame =
        (if (symmetricEdges && n == nAll) edges else inCore(nodes))
          .groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("src").as("id"))
      val core = if (n == 0) start else
        Rounds.untilStable(peel(start))(peel) { next =>
          val m = next.count()
          val stable = m == n || m == 0
          n = m
          stable
        }
      seed = core // the k-core seeds the (k+1)-peel (monotonicity)
      val nEdges =
        if (n == 0) 0L
        // symmetric full-set core: every edge survives, no join needed
        else if (symmetricEdges && n == nAll) edges.count()
        else inCore(core).count()
      (k.toLong, n, nEdges)
    }
    results.toDF("k", "n_core_nodes", "n_core_edges").orderBy("k")
  }

  def copurchaseCommunities(spark: SparkSession, dir: String,
      iters: Int = 3): DataFrame = {
    labelPropagation(copurchaseEdges(orderParts(spark, dir)), iters)
      .select(col("id").as("part_id"), col("community"))
      .orderBy("part_id")
  }

  /** Core synchronous LPA over a DIRECTED edge list that must already
    * contain both directions of every undirected edge (as the
    * co-purchase build does). Returns `(id, community)`.
    *
    * The round-1 `min(src) per dst` strength reduction below LEANS ON
    * that both-directions contract (ADVICE r20): on an asymmetric edge
    * list, the old labels₀ inner join dropped votes from nodes
    * appearing only as src (they had no labels₀ row keyed by dst),
    * while `groupBy(dst).min(src)` counts every src vote — asymmetric
    * inputs would get different (arguably more correct) round-1 labels
    * than the pre-round-20 shape produced. Symmetric inputs, i.e. every
    * caller in this codebase, are bit-identical by construction. On an
    * asymmetric list a node with no in-edge holds no label, so from
    * round 2 on its votes drop (GraphSpec pins both rounds).
    *
    * The edges persist partitioned by `dst`, so round 1 and every
    * broadcast round run their `(dst, lbl)` and `dst` groupBys with
    * ZERO exchanges. When [[broadcastsVector]] picks the shuffle join
    * instead, the rounds read a `src`-partitioned copy re-shuffled from
    * that cache (the upstream edge build still runs once) and pay one
    * |edges|-row, map-side-combined exchange into the `(dst, lbl)`
    * count — the price of not broadcasting.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val byDst = CachedStages.data(edges.repartition(col("dst")))
    // ROUND-1 STRENGTH REDUCTION (round 20, guide §1.2 "don't compute
    // things you throw away"): labels start as (id, id), so round 1's
    // neighbor-label frequency over the DISTINCT edge list is all-ones —
    // the argmax by (cnt, ~lbl) degenerates to min(src) per dst. One
    // map-side-combined aggregate replaces the initial label-vector
    // build + checkpoint, the round-1 label join, AND the |E|-row
    // (dst, lbl) counting shuffle. Identical labels by construction
    // (all counts tie at 1; ties break toward the smallest label).
    val labels1 = Rounds.cut(byDst.groupBy(col("dst"))
      .agg(min(col("src")).as("lbl"))
      .select(col("dst").as("id"), col("lbl")))
    // one label per node under the both-directions contract
    val bc = broadcastsVector(labels1.count())
    // lazy: filled by round 2's join, never when iters == 1
    val edgesCached = if (bc) byDst
      else CachedStages.data(byDst.repartition(col("src")))
    def round(labels: DataFrame): DataFrame = edgesCached
      .join(joinSide(labels, bc), col("src") === col("id"))
      .groupBy(col("dst"), col("lbl"))
      .agg(count(lit(1)).as("cnt"))
      // argmax by (cnt, ~lbl): most frequent neighbor label, smallest
      // label on ties — one partial-aggregable max, no window. ~x is
      // -x - 1: order-reversing like -x, but it cannot overflow on
      // Long.MinValue
      .groupBy(col("dst"))
      .agg(max(struct(col("cnt"), bitwise_not(col("lbl")).as("rev"))).as("best"))
      .select(col("dst").as("id"), bitwise_not(col("best.rev")).as("lbl"))
    // round 1 was cut and counted above, so the skeleton starts at round 2
    val labels = if (iters == 1) labels1
      else Rounds.fixed(round(labels1), iters - 2)((labels, _) => round(labels))
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** Graded q90: PERSONALIZED PageRank from a quality seed set
    * (Haveliwala, WWW'02) — the seed-expansion move a curation pipeline
    * uses to grow a small trusted set into a ranked corpus slice
    * ("rank everything by its random-walk proximity to the seeds", the
    * WebText/Common-Crawl quality-propagation shape). Identical integer
    * fixed-point arithmetic to q69, but teleport mass lands ONLY on the
    * seeds: non-seed nodes hold rank purely through incoming walks, and
    * unreachable nodes simply never appear (the rank frame stays SPARSE
    * — at 100 TB the working set is the seeds' neighborhood, not the
    * graph).
    *
    * Seeds here: parts appearing in at least one URGENT-priority order.
    */
  def seededPagerank(spark: SparkSession, dir: String,
      iters: Int = 5): DataFrame = {
    val li = orderParts(spark, dir)
    // persisted (round 20, guide §2.4): the edge list is read by the
    // SEEDS action (the node-set restriction below, materialized by
    // personalizedPagerank's seed count BEFORE the loop's first round)
    // and again by the edgesDeg build — two separate actions, so
    // without the persist the lineitem self-join + distinct executed
    // once per action (q69's two same-plan reads dedupe via
    // ReuseExchange; across actions nothing reuses). Interleaved
    // fresh-JVM A/B at sf0.1/local[32]: 5.95 s unpersisted vs 5.18 s
    // persisted (min-of-3 each, healthy sentinels both runs).
    val edges = CachedStages.data(copurchaseEdges(li))
    val seeds = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"))
      .join(li, "k").select(col("p").as("id")).distinct()
    // node membership (a part only in single-part orders has no edges)
    // is enforced inside personalizedPagerank against its degree cache
    personalizedPagerank(edges, seeds, iters)
      .select(col("id").as("part_id"), col("rank_fp"))
      .orderBy(col("rank_fp").desc, col("part_id").asc)
  }

  /** Core personalized PageRank: like [[pagerank]] but the teleport
    * vector is uniform over `seeds(id)` instead of all nodes. Returns
    * only nodes with nonzero rank.
    *
    * Same contract as [[pagerank]]: every node reachable from the seeds
    * must have out-degree ≥ 1 — a dangling node (in-edges, no out-edges)
    * would receive mass each round and never redistribute it, silently
    * leaking rank. Callers with dangling nodes add self-loops or drop
    * them first (the symmetric co-purchase graph satisfies this by
    * construction).
    */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    // degree table as the node set + conditional edge repartition: the
    // [[pagerank]] round-21 disciplines, same rationale
    val deg = CachedStages.data(
      edges.groupBy("src").agg(count(lit(1)).as("deg")))
    // seeds restricted to graph nodes HERE, against the degree cache
    // (round 21): a non-node seed has no out-edges and its teleport
    // mass would leak, so the restriction is part of this operator's
    // contract — callers used to pay a separate |E|-row distinct for
    // the same semi-join this does against the |nodes|-row cache.
    val seedIds = CachedStages.data(seeds.select("id").distinct()
      .join(deg.select(col("src").as("id")), Seq("id"), "left_semi"))
    // one action fills both caches, so the seed and degree builds run
    // concurrently rather than one after the other
    val nSeeds = seedIds.count()
    require(nSeeds > 0, "empty seed set")
    // the rank vector grows from the seeds toward the reachable node
    // set, so |nodes| bounds it: it sizes the vector's exchange width
    // and picks the round join before the edge table is laid out for it
    val nNodes = deg.count()
    val bc = broadcastsVector(nNodes)
    val edgesDeg = {
      val ed = edges.join(deg, "src")
      CachedStages.data(if (bc) ed else ed.repartition(col("src")))
    }
    val rankParts = vectorParts(nNodes)
    val teleport = 3L * RankScale / (20L * nSeeds)
    val teleportRows = seedIds.coalesce(vectorParts(nSeeds))
      .select(col("id"), lit(teleport).as("rank_fp"))
    // init: all mass uniform on the seeds (the t=0 teleport state)
    val init = seedIds.coalesce(vectorParts(nSeeds)).select(col("id"),
      lit(RankScale / nSeeds).as("rank_fp"))
    Rounds.fixed(init, iters) { (ranks, _) =>
      pprRound(edgesDeg, teleportRows, joinSide(ranks, bc), rankParts)
    }
  }

  /** One personalized-PageRank iteration over the rank vector's join
    * side (see [[joinSide]]) — extracted, like [[pagerankRound]], so
    * RoundPlans can print a round's plan.
    */
  private[ops] def pprRound(edgesDeg: DataFrame, teleportRows: DataFrame,
      rankSide: DataFrame, rankParts: Int): DataFrame = {
    // ONE exchange per round (round 21, guide §2.4): the former shape
    // aggregated damped mass by dst, then unioned the teleport rows and
    // aggregated AGAIN by id — a second |ranks|-row exchange every
    // round. Teleport mass now rides the same union as the edge
    // contributions, tagged in its own column so the damping division
    // applies only to walk mass: rank = tele + 17·Σcontrib div 20 is
    // the exact integer expression the two-step shape computed.
    val contribs = edgesDeg
      .join(rankSide, col("src") === col("id"))
      .select(col("dst"), expr("rank_fp div deg").as("contrib"),
        lit(0L).as("tele"))
      .unionByName(teleportRows.select(col("id").as("dst"),
        lit(0L).as("contrib"), col("rank_fp").as("tele")))
    val next = contribs
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("mass"), sum(col("tele")).as("t"))
      .select(col("dst").as("id"),
        (col("t") + expr("17 * mass div 20")).as("rank_fp"))
      // keep the frame literally sparse: a node whose damped mass
      // floors to zero is indistinguishable from unreachable
      .filter(col("rank_fp") =!= 0L)
    // NARROW-coalesce the per-round vector to the caller's
    // node-count-derived width (guide §2.2 — a core-count-sized vector
    // leaves 32 near-empty tasks per checkpoint, zero-row read and
    // broadcast build every round at small scale). Safe by the round-20
    // cache-partitioning discipline: the map-side partial aggregation
    // stays corpus-wide; only the ≤|nodes|-row final merge fuses into
    // the coalesced task.
    next.coalesce(rankParts)
  }

  /** Exchange/read width for a |nodes|-row rank/score vector (round
    * 21, guide §2.2 "derive partitioning from input size"): ~4e6 rows
    * (≈64 MB) per partition, floor 1, capped at 2¹⁷. At sf0.1 the
    * 2e4-row vector collapses to ONE partition — StageProf measured
    * the per-round fixed cost there as 32 near-empty tasks each
    * paying closure deserialization plus 32 shuffle-file opens
    * (BypassMergeSortShuffleWriter opens |reduce| files per map task),
    * repeated every round and every broadcast read; a billion-node
    * vector still gets ~250 partitions.
    */
  private[ops] def vectorParts(n: Long): Int = {
    // floor min(4, cores), not 1: the final rank/score merge reads one
    // partial-aggregate row per (map task × touched key) — ~660k rows
    // at sf0.1 — and a single-partition vector serializes that merge
    // into a ~230 ms task EVERY round (StageProf q69/q90 round 21); 4
    // slots parallelize the merge while keeping the per-round fixed
    // cost far below the 32 near-empty tasks this sizing replaced.
    val floor = math.min(4, SparkSession.active.sparkContext
      .defaultParallelism).max(1).toLong
    math.max(floor, math.min(n / 4000000L + 1L, 1L << 17)).toInt
  }

  /** Bytes per row of every loop's per-round vector: one `(id, value)`
    * pair of longs — PageRank and personalized-PageRank ranks, LPA
    * labels.
    */
  private[ops] val VectorRowBytes: Long = 16L

  /** THE join-strategy decision of the iterative loops — PageRank
    * (q69), personalized PageRank (q90) and LPA (q86). Each round joins
    * a vector of at most `rows` rows (one per node) to a stationary
    * edge table, and the loop either BROADCASTS the vector or SHUFFLES
    * it. It decides once, from a node count it already takes, before it
    * lays out the edge table for the chosen join. Spark's own
    * `spark.sql.autoBroadcastJoinThreshold` is the policy: broadcast
    * while `rows × VectorRowBytes` fits it; a negative threshold turns
    * broadcasting off, as it does for every Spark join. No caller picks.
    * The comparison divides instead of multiplying, so no count can
    * overflow it.
    *
    *  - Broadcast (the graded scale: sf0.1's ~2·10⁴ parts are ~320 KB):
    *    zero per-round shuffle of either side. The edge table keeps the
    *    layout its round aggregates want — no repartition for the
    *    PageRanks, `dst` for LPA. Right while the vector fits an
    *    executor (~tens of millions of nodes at 16 B/row).
    *  - Shuffle: the edge table persists partitioned by `src` and the
    *    vector joins it SHUFFLE_HASH, pinned by hint rather than left to
    *    the planner: the persisted edge side is partitioned but NOT
    *    sorted, so a merge join would re-sort the 100-TB side every
    *    round. Its in-memory scan keeps its `src` outputPartitioning, so
    *    only the vector exchanges per round, never the edge table
    *    (plan-asserted in ScaleSpec).
    *
    * Both sides give bit-identical rows: the integer rank arithmetic
    * and the LPA argmax are reduction-order-free.
    *
    * HITS (q120) always shuffles and does not ask. Its broadcast mode
    * measured equal within noise at sf0.1/local[32] once the round-17
    * persist fix landed (focused floors 4.3-4.7 s broadcast vs 4.7-5.3 s
    * shuffle; full pass 5.38 s vs 5.08 s), it pays six score joins per
    * three iterations, and its |customers|-row score vector is the first
    * to outgrow a broadcast build at 100 TB.
    */
  private[ops] def broadcastsVector(rows: Long): Boolean = {
    val threshold =
      SparkSession.active.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && rows <= threshold / VectorRowBytes
  }

  /** A round's vector side as [[broadcastsVector]] chose it. */
  private[ops] def joinSide(vector: DataFrame, broadcasts: Boolean)
      : DataFrame =
    if (broadcasts) broadcast(vector) else vector.hint("shuffle_hash")

  /** Core PageRank over any directed `(src, dst)` edge list in which
    * every node has out-degree ≥ 1 (callers with dangling nodes add
    * self-loops or drop them first). Returns `(id, rank_fp)` with
    * `rank_fp` in [[RankScale]] fixed-point units.
    */
  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    // DEGREE TABLE AS THE NODE SET (round 21, guide §1.2 "don't compute
    // things you throw away"): the pagerank contract (out-degree ≥ 1)
    // makes deg's key set EXACTLY the node set, so the separate
    // |edges|-row distinct + checkpoint the node side used to pay is
    // replaced by reads of this one persisted |nodes|-row table (it
    // also feeds every round's zero-contribution union side).
    val deg = CachedStages.data(
      edges.groupBy("src").agg(count(lit(1)).as("deg")))
    // fills the degree cache; |nodes| picks the round join before the
    // edge table is laid out for it
    val n = deg.count()
    require(n > 0, "empty edge list")
    val bc = broadcastsVector(n)
    // stationary per-iteration input: edges carrying their source's
    // out-degree, built once and filled by round 1. Partitioned by src
    // ONLY for the shuffle join — a broadcast rank join imposes no
    // distribution on the edge side, so an unconditional repartition
    // was a pure |E|-row exchange thrown away every graded run (round
    // 21, guide §2.4; StageProf q69/q90: 23 MB exchange + a second full
    // cache fill).
    val edgesDeg = {
      val ed = edges.join(deg, "src")
      CachedStages.data(if (bc) ed else ed.repartition(col("src")))
    }
    val nodes = deg.select(col("src"))
    val teleport = 3L * RankScale / (20L * n)

    // ROUND-1 STRENGTH REDUCTION (round 20, guide §1.2): the initial
    // rank vector is the uniform constant RankScale/n on every node, so
    // round 1's rank join is a constant-vector join — each edge's
    // contribution depends only on its source's out-degree, already a
    // column of the cached edge table. Folding the constant in replaces
    // the initial rank-vector checkpoint AND round 1's broadcast build
    // + join probe with one aggregate over the cache. Identical
    // integers: `lit(RankScale/n) div deg` is the exact expression the
    // joined round evaluated.
    val rankParts = vectorParts(n)
    // the zero-row side reads the |nodes| checkpoint through a narrow
    // coalesce so it contributes rankParts tasks, not 32 near-empty ones
    val nodesSlim = nodes.coalesce(rankParts)
    // same zero-row fold as pagerankRound (round 21): the full node
    // set rides the aggregate instead of a second join stage
    val round1 = edgesDeg
      .select(col("dst"), expr(s"${RankScale / n}L div deg").as("contrib"))
      .unionByName(nodesSlim.select(col("src").as("dst"),
        lit(0L).as("contrib")))
      .groupBy(col("dst")).agg(sum(col("contrib")).as("mass"))
      .select(col("dst").as("id"),
        (lit(teleport) + expr("17 * mass div 20")).as("rank_fp"))
      .coalesce(rankParts)
    Rounds.fixed(round1, iters - 1) { (ranks, _) =>
      pagerankRound(edgesDeg, nodesSlim, teleport, joinSide(ranks, bc),
        rankParts)
    }
  }

  /** One PageRank iteration over the rank vector's join side (see
    * [[joinSide]]) — extracted so RoundPlans can print a round's plan,
    * which the loop's [[Rounds.cut]] hides from the final frame.
    */
  private[ops] def pagerankRound(edgesDeg: DataFrame, nodes: DataFrame,
      teleport: Long, rankSide: DataFrame, rankParts: Int): DataFrame = {
    // ONE exchange per round (round 21, guide §2.4): the former shape
    // aggregated mass by dst and then LEFT-joined it against the full
    // node set (a second per-round shuffle/join stage) so that nodes
    // nobody points at keep their teleport share. A zero-contribution
    // row per node folded into the SAME aggregate keeps exactly those
    // nodes present — sum(contrib ∪ {0}) = coalesce(mass, 0) — and the
    // pagerank contract (every node has out-degree ≥ 1, so dst ⊆ src)
    // guarantees the union introduces no new ids. Integer arithmetic
    // unchanged: teleport + 17·Σcontrib div 20, exactly the joined
    // round's expression.
    val contribs = edgesDeg
      .join(rankSide, col("src") === col("id"))
      .select(col("dst"),
        expr("rank_fp div deg").as("contrib"))
      .unionByName(nodes.select(col("src").as("dst"),
        lit(0L).as("contrib")))
    contribs
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("mass"))
      .select(col("dst").as("id"),
        (lit(teleport) + expr("17 * mass div 20")).as("rank_fp"))
      // node-count-derived NARROW coalesce of the bounded final merge
      // (see pprRound)
      .coalesce(rankParts)
  }

  /** Fixed-point scale for HITS scores: bigint units of 1e-9. Smaller
    * than PageRank's 1e-12 deliberately — a HITS partial sum is bounded
    * by scale × max-degree (scores are max-normalized to ≤ scale each
    * half-round), so 1e9 keeps the un-normalized sum inside int64 up to
    * a billion-node side; the normalization product itself runs in
    * decimal(38) and never overflows at any scale.
    */
  val HitsScale: Long = 1000000000L

  /** Bipartite purchase incidence: distinct (cust, part) pairs through
    * the orders join — the hub side (customers) and authority side
    * (parts) of q120's HITS run.
    */
  private def purchaseEdges(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"))
      .join(Tables(spark, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_partkey").as("part")), Seq("k"))
      .select("cust", "part").distinct()

  /** Graded q120: HITS hubs & authorities (Kleinberg, JACM 1999) over
    * the bipartite customer→part purchase graph — authorities are parts
    * whose buyers are themselves broad, high-quality buyers; hubs are
    * the customers whose baskets define those parts. The natural
    * bipartite HITS reading, and the third member of the centrality
    * family: q69 ranks reach, q70 ranks local density, this ranks
    * mutual reinforcement.
    *
    * Integer fixed point, same discipline as q69: scores are bigints of
    * [[HitsScale]] units; each half-round is an exact integer sum over
    * in-edges followed by MAX-normalization — `score · scale div max` —
    * computed as one decimal(38) cross-multiplication and one integral
    * division (the power-iteration normalizer is a free choice: any
    * positive constant per round leaves the ranking and the fixed point
    * direction unchanged, and max, unlike the classical L2 norm, is
    * integer-exact on both engines). Fixed `iters` rounds, ties broken
    * by id — the oracle replays every round as chained CTEs and the
    * result hash-matches bit-for-bit.
    *
    * Scale shape: the incidence table is built once and persisted TWICE
    * — partitioned by `cust` for the hub→authority half-round and by
    * `part` for the way back — so the stationary 100-TB side never
    * re-shuffles; each half-round SHUFFLE-HASH joins the score vector
    * to the right-oriented copy (only the ≤|side|-row vector exchanges;
    * the incidence scan keeps its persisted partitioning) and
    * partial-aggregates (map-side combine) into ≤|side| rows,
    * persisted once per half-round (see [[hitsNormalize]] — the
    * max-normalization otherwise runs the join twice). The max is a
    * bounded 1-row driver pull (round 20), and the first half-round
    * strength-reduces to a per-part count off the cached incidence.
    *
    * The score joins always shuffle; [[broadcastsVector]] gives the
    * measurements behind that. Output is the top-`kTop` of each side via
    * TakeOrdered, rank stamped over the bounded result.
    */
  def purchaseHits(spark: SparkSession, dir: String, iters: Int = 3,
      kTop: Int = 20): DataFrame =
    purchaseHitsOf(purchaseEdges(spark, dir), iters, kTop)

  /** The join+aggregate half of a HITS half-round: sum the score
    * vector over `joinKey`'s in-edges into `outKey` rows
    * (map-side-combined), the vector joined SHUFFLE_HASH to the
    * incidence copy persisted partitioned by `joinKey` (the shuffle
    * side of [[broadcastsVector]], for the reasons given there). Kept
    * free of caching so ScaleSpec can plan-audit the join directly
    * (the caching in [[hitsHalfRound]] hides it from downstream
    * plans).
    */
  private[ops] def hitsScoreJoin(oriented: DataFrame, scores: DataFrame,
      joinKey: String, outKey: String): DataFrame = {
    oriented.join(scores.hint("shuffle_hash"), Seq(joinKey))
      .groupBy(outKey).agg(sum(col("score")).as("raw"))
  }

  /** Max-normalize a HITS raw-sum frame — the decimal(38) product
    * cannot overflow at any graph size.
    *
    * The raw sums are PERSISTED before the max: the normalization
    * needs two traversals (the 1-row max and the score projection),
    * and AQE compiles unpersisted branches as separate query stages
    * whose exchanges differ by self-join-dealiased expression IDs —
    * ReuseExchange never fires, so an unpersisted `raw` would run the
    * score join + aggregate TWICE per half-round (confirmed in a
    * round-17 executed-plan probe: the incidence scan, the score
    * join, and both aggregate levels each appeared twice). Same
    * shared-frame idiom as every other multi-traversal site in this
    * file; the cached frame is ≤|side| rows of two longs and
    * CachedStages releases it at query end.
    *
    * The 1-row max is pulled to the DRIVER (round 20, guide §1.2
    * "fewer passes"): ONE action fills the raw cache and returns the
    * divisor, and the normalized frame is then a lazy PROJECTION over
    * the cache — the former crossJoin(broadcast(max)) shape paid a
    * per-half-round broadcast build plus a separate localCheckpoint
    * job in the loop (6 of each per q120 run; focused A/B in
    * OPTIMIZATION_r20.md). A bounded 1-row scalar pull is the
    * documented exception to the no-collect rule (guide §5 — the
    * driver holds one long at any graph size), and the integer
    * arithmetic is unchanged: the literal divisor substitutes the mx
    * column in the exact same DECIMAL(38) expression.
    *
    * Eviction safety (ADVICE r20): `Dataset.persist()` defaults to
    * MEMORY_AND_DISK, so a raw cache squeezed out under memory
    * pressure SPILLS rather than drops — recomputation never walks
    * the unrolled cross-round lineage that replacing the per-round
    * localCheckpoint left behind. The eager-construction contract
    * (each half-round runs its Spark jobs at DataFrame-construction
    * time via the max pull) is documented on [[purchaseHitsOf]].
    */
  private[ops] def hitsNormalize(rawSums: DataFrame,
      outKey: String): DataFrame = {
    val raw = CachedStages.data(rawSums)
    val mxRow = raw.agg(max(col("raw"))).head
    // empty side: no rows survive the projection, any divisor works
    val mx = if (mxRow.isNullAt(0)) 1L else mxRow.getLong(0)
    raw.select(col(outKey), expr(
      s"CAST(CAST(raw AS DECIMAL(38, 0)) * $HitsScale div ${mx}L AS BIGINT)")
      .as("score"))
  }

  /** One HITS half-round: [[hitsScoreJoin]], then [[hitsNormalize]].
    * EAGER: calling it runs the score join (the normalize's 1-row max
    * pull doubles as the cache fill), replacing the loop's former
    * per-half-round localCheckpoint.
    */
  private[ops] def hitsHalfRound(oriented: DataFrame, scores: DataFrame,
      joinKey: String, outKey: String): DataFrame =
    hitsNormalize(hitsScoreJoin(oriented, scores, joinKey, outKey), outKey)

  /** Core of `purchaseHits` over any `(cust, part)` incidence frame.
    *
    * EAGER (ADVICE r20): construction RUNS the whole fixed point —
    * each half-round's 1-row max pull is an action, so by the time the
    * returned frame exists every per-round cache is filled and the
    * caller's first action only pays the bounded top-k. Callers that
    * need lazy construction wrap the call, not the frame.
    */
  def purchaseHitsOf(e: DataFrame, iters: Int, kTop: Int): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val eCust = CachedStages.data(e.repartition(col("cust")))
    // the part-oriented copy re-shuffles the CACHED cust copy — deriving
    // it from `e` directly would execute the upstream incidence build
    // (orders⋈lineitem + distinct) a second time, since two persists
    // share no work until each materializes
    val ePart = CachedStages.data(eCust.repartition(col("part")))
    // NOT width-coalesced like the PageRank round vectors (round 21,
    // attempted and REVERTED): narrowing each half-round's raw-sum
    // cache to vectorParts(|side|) partitions looked like the same
    // §2.2 win pagerankRound got, but the HITS score join's partial
    // aggregation barely reduces (each of the map tasks can emit up to
    // |side| partial rows), so the narrowed FINAL merge re-aggregates
    // cores×|side| rows in one task. Interleaved fresh-JVM A/B at
    // sf0.1/local[32]: 4.00/4.01 s without vs 4.85/4.93 s with the
    // coalesce (min-of-3 each, healthy sentinels) — the serial merge
    // costs more than the 32-near-empty-task overhead it saves. The
    // pagerank rounds keep the coalesce because their contribution
    // streams partial-aggregate ~|E|→|nodes| BEFORE the exchange.

    // ROUND-1 STRENGTH REDUCTION (round 20, guide §1.2): the initial
    // hub vector is the constant HitsScale on every customer, so the
    // first hub→authority half-round's join+sum is exactly
    // per-part incidence count × HitsScale — straight off the cached
    // incidence, no score join, no initial hub-vector build (the
    // former custs-distinct + checkpoint jobs). Identical integers
    // even under (impossible-at-this-width) int64 wrap: summing k
    // copies of c and k·c agree mod 2⁶⁴.
    var auths = hitsNormalize(
      eCust.groupBy("part")
        .agg((count(lit(1)) * HitsScale).as("raw")), "part")
    var hubs = hitsHalfRound(ePart, auths, "part", "cust")
    for (_ <- 2 to iters) {
      auths = hitsHalfRound(eCust, hubs, "cust", "part")
      hubs = hitsHalfRound(ePart, auths, "part", "cust")
    }

    // TakeOrdered cut per side; the rank window runs over the ≤ kTop
    // surviving rows (the q107 bounded-frame rule), never the corpus
    def top(side: DataFrame, idCol: String, kind: String): DataFrame = {
      val cut = side.orderBy(col("score").desc, col(idCol).asc).limit(kTop)
      cut.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col(idCol).asc)).cast("long"))
        .select(lit(kind).as("kind"), col("rank"),
          col(idCol).cast("long").as("node_id"), col("score").as("score_fp"))
    }
    top(auths, "part", "authority")
      .unionByName(top(hubs, "cust", "hub"))
      .orderBy("kind", "rank")
  }

  def assocRules(spark: SparkSession, dir: String, minPairCount: Long = 2L,
      topK: Int = 20): DataFrame =
    assocRulesOf(orderParts(spark, dir), minPairCount, topK)

  /** Graded q142: MARKET-BASKET ASSOCIATION RULES (Agrawal, Imieliński
    * & Swami, SIGMOD 1993) over co-purchased parts — for each directed
    * part pair `A → B` frequent enough to matter, the three classical
    * measures: support (share of baskets holding both), confidence
    * (share of A-baskets that also hold B), and lift (confidence over
    * B's base rate — the only one that separates "bought together
    * because both are popular" from a real association). The q69/q70
    * centrality queries score NODES of the co-purchase graph; this
    * scores its EDGES as actionable rules, the recommender/bundling
    * primitive.
    *
    * Determinism: all three measures are integer ppm by
    * cross-multiplication — `support = n_ab·10⁶ div N`, `confidence =
    * n_ab·10⁶ div n_a`, `lift = n_ab·N·10⁶ div (n_a·n_b)`, the lift
    * numerator in DECIMAL(38,0) (n_ab·N·10⁶ reaches ~10²⁶ at real
    * basket counts). The leaderboard orders by (lift desc, antecedent,
    * consequent) — fully pinned.
    *
    * Scale shape: baskets self-join on the ORDER key, so pair fan-out
    * is bounded by basket size squared (orders hold ≤ tens of items),
    * never |parts|²; the pair aggregate map-side combines; per-item
    * counts are a dimension-sized table joined back by BROADCAST
    * (twice — antecedent and consequent); the basket total is one
    * scalar crossed in; the cut is TakeOrdered at topK rows. The
    * min-count filter runs BEFORE the rule arithmetic and the join
    * back, so the long tail of singleton pairs never leaves the
    * aggregate.
    */
  def assocRulesOf(orderParts: DataFrame, minPairCount: Long,
      topK: Int): DataFrame = {
    val b = CachedStages.data(orderParts)
    val nBaskets = b.agg(countDistinct(col("k")).as("n_baskets"))
    // persisted: built into TWO broadcasts (antecedent and consequent
    // sides) — unpersisted, the item-count shuffle agg executed once
    // per broadcast (round-18 DupExec sweep)
    val itemCounts = CachedStages.data(
      b.groupBy("p").agg(count(lit(1)).as("n_item")))
    val undirected = b.join(b.withColumnRenamed("p", "p2"), Seq("k"))
      .filter(col("p") < col("p2"))
      .groupBy(col("p").as("a"), col("p2").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    // both orientations in ONE traversal (explode, not a self-union):
    // the union shape executed the basket self-join + pair aggregate
    // twice (round-18 DupExec sweep, 12-node subtree x2 — the q120
    // double-execution class)
    val directed = undirected.select(explode(array(
        struct(col("a").as("antecedent"), col("b").as("consequent"),
          col("n_ab")),
        struct(col("b").as("antecedent"), col("a").as("consequent"),
          col("n_ab")))).as("e"))
      .select(col("e.antecedent").as("antecedent"),
        col("e.consequent").as("consequent"), col("e.n_ab").as("n_ab"))
    directed
      .join(broadcast(itemCounts.withColumnRenamed("p", "antecedent")
        .withColumnRenamed("n_item", "n_ante")), Seq("antecedent"))
      .join(broadcast(itemCounts.withColumnRenamed("p", "consequent")
        .withColumnRenamed("n_item", "n_cons")), Seq("consequent"))
      .crossJoin(broadcast(nBaskets))
      .withColumn("support_ppm", expr("n_ab * 1000000 div n_baskets"))
      .withColumn("confidence_ppm", expr("n_ab * 1000000 div n_ante"))
      .withColumn("lift_ppm", expr(
        """CAST(CAST(n_ab AS DECIMAL(38, 0)) * n_baskets * 1000000
          | div (CAST(n_ante AS DECIMAL(38, 0)) * n_cons) AS BIGINT)"""
          .stripMargin))
      .orderBy(col("lift_ppm").desc, col("antecedent").asc,
        col("consequent").asc)
      .limit(topK)
      .select("antecedent", "consequent", "n_ab", "n_ante", "n_cons",
        "support_ppm", "confidence_ppm", "lift_ppm")
      .orderBy(col("lift_ppm").desc, col("antecedent").asc,
        col("consequent").asc)
  }

  def degreeCensus(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame =
    // strongEdges emits BOTH directions of every pair, so the census
    // may take the symmetric moment shortcut (see degreeCensusOf)
    degreeCensusOf(strongEdges(spark, dir, minShared),
      symmetricEdges = true)

  /** Graded q209: DEGREE CENSUS + ASSORTATIVITY of the strong
    * co-purchase graph — the structural summary the graph family
    * (PageRank q69/q90, triangles q70, communities q86, k-core q183,
    * HITS q120) reads before any of them runs: the degree histogram
    * in exact log₂ bands (floor-log₂ via `length(bin(d)) − 1` —
    * string arithmetic, no FP log), and Newman's degree assortativity
    * (Phys. Rev. Lett. 2002) — do hubs link hubs (r > 0) or leaves
    * (r < 0)? Computed as the Pearson correlation of end degrees over
    * DIRECTED edges by the engine's TWO-PASS INTEGER recipe: pass one
    * takes exact count/sum, means floor ONCE to milli-degrees, pass
    * two sums centered products in DECIMAL(38), the three moment sums
    * floor by m, and the verdict ships as (sign, r²·10⁶) —
    * sqrt-free, every floor deterministic and replayed by the oracle.
    * Degree-regular graphs have zero variance: r² surfaces NULL and
    * the sign 0, honestly. Summary columns repeat per band row (the
    * q181 discipline).
    *
    * Scale shape: degrees are one map-side-combinable collapse of the
    * persisted edge table; the edge table joins the degree map on
    * src/dst keys it already shuffles by; bands and moments are
    * model-sized.
    */
  def degreeCensusOf(edges: DataFrame,
      symmetricEdges: Boolean = false): DataFrame = {
    val e = CachedStages.data(edges)
    val deg = CachedStages.data(e.groupBy("src")
      .agg(count(lit(1)).as("d")))
    // SYMMETRIC MOMENT SHORTCUT (round 21, guide §1.2 "don't compute
    // things you throw away"): on a caller-declared symmetric edge
    // list (both directions present — the kCoreLadderOf gating
    // discipline), every per-edge moment EXCEPT the cross covariance
    // collapses onto the degree table: each node v is the src of
    // exactly d(v) edges and (by symmetry) the dst of d(v) edges, so
    //   m  = Σ_edges 1        = Σ_v d(v)
    //   sx = Σ_edges deg(src) = Σ_v d(v)·d(v) = sy
    //   vxS = Σ_edges dx²     = Σ_v d(v)·(d(v)·1000 − mx)² = vyS
    // — identical integers, grouped by node instead of enumerated per
    // edge. Only covS = Σ dx·dy needs the per-edge degree join, which
    // now runs ONCE with nothing persisted (the former shape persisted
    // the |E|-row pair table and traversed it twice). The general
    // directed path is untouched.
    def pairsJoin: DataFrame = e
      .join(deg.select(col("src"), col("d").as("x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("y")),
        Seq("dst"))
      .select("x", "y")
    val moments =
      if (symmetricEdges) {
        val p1 = deg.agg(sum(col("d")).as("m"), sum(expr("d * d")).as("sx"),
            sum(expr("d * d")).as("sy"))
          .withColumn("mx", expr("sx * 1000 div m"))
          .withColumn("my", expr("sy * 1000 div m"))
        val cov = pairsJoin.crossJoin(broadcast(p1))
          .select(expr("x * 1000 - mx").as("dx"),
            expr("y * 1000 - my").as("dy"), col("m"))
          .agg(max(col("m")).as("m"),
            sum(expr("CAST(dx AS DECIMAL(38, 0)) * dy")).as("covS"))
        val vS = deg.crossJoin(broadcast(p1))
          .select(expr("d * 1000 - mx").as("dd"), col("d"))
          .agg(sum(expr("CAST(dd AS DECIMAL(38, 0)) * dd * d")).as("vS"))
        cov.crossJoin(broadcast(vS))
          .withColumn("covM", expr("covS div m"))
          .withColumn("vxM", expr("vS div m"))
          .withColumn("vyM", expr("vS div m"))
      } else {
        // general directed path, unchanged: the pair table persists
        // because BOTH moment passes traverse it
        val pairs = CachedStages.data(pairsJoin)
        val p1 = pairs.agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"))
          .withColumn("mx", expr("sx * 1000 div m"))
          .withColumn("my", expr("sy * 1000 div m"))
        pairs.crossJoin(broadcast(p1))
          .select(expr("x * 1000 - mx").as("dx"),
            expr("y * 1000 - my").as("dy"), col("m"))
          .agg(max(col("m")).as("m"),
            sum(expr("CAST(dx AS DECIMAL(38, 0)) * dy")).as("covS"),
            sum(expr("CAST(dx AS DECIMAL(38, 0)) * dx")).as("vxS"),
            sum(expr("CAST(dy AS DECIMAL(38, 0)) * dy")).as("vyS"))
          .withColumn("covM", expr("covS div m"))
          .withColumn("vxM", expr("vxS div m"))
          .withColumn("vyM", expr("vyS div m"))
      }
    val p2 = moments
      .select(col("m").as("m_edges"),
        expr("""CASE WHEN covM > 0 THEN CAST(1 AS BIGINT)
          |     WHEN covM < 0 THEN CAST(-1 AS BIGINT)
          |     ELSE CAST(0 AS BIGINT) END""".stripMargin).as("r_sign"),
        expr("""CAST(CAST(covM AS DECIMAL(38, 0)) * covM * 1000000
          | div nullif(CAST(vxM AS DECIMAL(38, 0)) * vyM, 0)
          | AS BIGINT)""".stripMargin).as("r2_ppm"))
    val census = deg
      .withColumn("band", expr("CAST(length(bin(d)) - 1 AS BIGINT)"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_deg"),
        max(col("d")).as("max_deg"))
    census.crossJoin(broadcast(p2))
      .select("band", "n_nodes", "min_deg", "max_deg", "m_edges",
        "r_sign", "r2_ppm")
      .orderBy("band")
  }

  def aprioriLadder(spark: SparkSession, dir: String,
      minSupport: Long = 2L): DataFrame =
    aprioriLadderOf(orderParts(spark, dir), minSupport)

  /** Graded q223: A-PRIORI SUPPORT-PRUNING LADDER (Agrawal & Srikant,
    * VLDB 1994) for itemset sizes k = 1, 2, 3 — the frequent-itemset
    * statistics BEHIND q142's pair rules: per k, how many distinct
    * itemsets occur at all, how many meet the support floor, the
    * maximum support, and the survival ratio in ppm. The ladder IS
    * A-Priori's core observation made visible: support collapses
    * combinatorially with k (downward closure), and the report is
    * scale-REVEALING in the q183 way — sf0.001's dense 200-part
    * catalog keeps 94 frequent triples, sf0.1's 20k-part catalog
    * keeps ZERO (no triple ever repeats at that basket density;
    * measured) — exactly the pruning behavior a basket-mining run
    * must know before paying for candidate generation.
    *
    * Scale shape: itemsets enumerate INSIDE baskets only — the k-way
    * self-join on the ORDER key fans out C(basket, k), bounded by
    * basket size (tens), never |parts|^k; each per-itemset count
    * map-side combines; each ladder row is a one-row rollup of its
    * count table. All three levels read the one persisted basket
    * projection.
    */
  def aprioriLadderOf(orderParts: DataFrame, minSupport: Long): DataFrame = {
    val b = CachedStages.data(orderParts)
    def rollup(k: Long, counts: DataFrame): DataFrame =
      counts.agg(count(lit(1)).as("n_itemsets"),
          sum(when(col("n") >= minSupport, 1L).otherwise(0L))
            .as("n_frequent"),
          max(col("n")).as("max_support"))
        .select(lit(k).as("k"), col("n_itemsets"), col("n_frequent"),
          col("max_support"),
          expr("n_frequent * 1000000 div nullif(n_itemsets, 0)")
            .as("frequent_ppm"))
    val singles = b.groupBy("p").agg(count(lit(1)).as("n"))
    // LADDER SEEDING (round-18, VERDICT r17 #4): k = 3 builds on the
    // k = 2 level's PAIR ROWS instead of re-running the basket
    // self-join (the round-18 DupExec sweep caught that join executing
    // twice). The persisted fan-out is Σ C(basket, 2) ≈ 1.5x the
    // basket projection at observed densities. Measured trade at
    // sf0.1/local[32]: ~equal to slightly slower (1.2-1.4 s -> 1.5-1.6 s
    // — the cache fill costs about what the repeated broadcast join
    // saved); kept because at 100 TB the repeat is a full extra
    // shuffle-join pass while the fill is one sequential write of rows
    // the first pass produces anyway. True A-Priori candidate pruning
    // (triples from FREQUENT pairs only) would be wrong here: the
    // report counts ALL occurring itemsets per k, not the pruned
    // candidate set.
    val pairRows = CachedStages.data(
      b.join(b.withColumnRenamed("p", "p2"), Seq("k"))
        .filter(col("p") < col("p2")))
    val pairs = pairRows.groupBy("p", "p2").agg(count(lit(1)).as("n"))
    val triples = pairRows
      .join(b.withColumnRenamed("p", "p3"), Seq("k"))
      .filter(col("p2") < col("p3"))
      .groupBy("p", "p2", "p3").agg(count(lit(1)).as("n"))
    rollup(1L, singles)
      .unionByName(rollup(2L, pairs))
      .unionByName(rollup(3L, triples))
      .orderBy("k")
  }

  def clusteringProfile(spark: SparkSession, dir: String,
      minShared: Int = 2): DataFrame =
    clusteringProfileOf(strongEdges(spark, dir, minShared))

  /** Graded q211: LOCAL CLUSTERING COEFFICIENT profile of the strong
    * co-purchase graph (Watts & Strogatz, Nature 1998 — the
    * "small-world" statistic): per node, the fraction of its neighbor
    * pairs that are themselves connected — q70 counted each node's
    * triangles, this NORMALIZES them by the node's wedge capacity
    * d·(d−1)/2, separating "sits on many triangles because it is a
    * hub" from "sits in a locally dense pocket". Output per log₂
    * degree band (the q209 census spine): node count, nodes eligible
    * (d ≥ 2 — degree-1 nodes have no wedge and surface NULL,
    * honestly), floored mean local CC in ppm, max triangle count; plus
    * the two GLOBAL numbers repeated per row (the q181 discipline):
    * the Watts–Strogatz average CC over eligible nodes and the
    * TRANSITIVITY ratio 3·Δ·10⁶ div Σ C(d,2) = 2·Σt·10⁶ div Σ d(d−1)
    * — which weight pockets-per-node vs closed-wedge mass and diverge
    * exactly on hub-heavy graphs, which is why both are reported.
    *
    * Determinism: per-node cc_ppm = 2·t·10⁶ div (d·(d−1)) as ONE
    * DECIMAL(38) cross-multiplied floored division; the band mean
    * floors the ppm sum by the eligible count (second floor); both
    * replayed by the oracle. Triangle counts are exact integers from
    * [[triangleCounts]] — shared with q70 so the triangle semantics
    * cannot drift.
    *
    * Scale shape: the strong-edge table, cached once here (shared with
    * q183/q209), collapses once to degrees; triangles run Suri &
    * Vassilvitskii's degree-oriented edge-iterator (the q70 shape —
    * wedge work bounded at the lowest-degree corner, no d² hub
    * blow-up); nodes join triangles on the node key both sides already
    * shuffle by; bands and the global summary are model-sized.
    */
  def clusteringProfileOf(edges: DataFrame): DataFrame = {
    val e = CachedStages.data(edges)
    val und = e.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val deg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("d"))
    val tri = triangleCounts(und)
    val nodes = CachedStages.data(deg
      .join(tri.select(col("id"), col("n_triangles")), Seq("id"), "left")
      .withColumn("t", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("cc_ppm", expr(
        """CASE WHEN d >= 2 THEN
          |  CAST(CAST(t AS DECIMAL(38, 0)) * 2 * 1000000
          |    div (CAST(d AS DECIMAL(38, 0)) * (d - 1)) AS BIGINT)
          |END""".stripMargin)))
    val glob = nodes.agg(
        sum(when(col("d") >= 2, lit(1L)).otherwise(lit(0L)))
          .as("n_eligible_g"),
        sum(col("cc_ppm")).as("sumcc"),
        sum(col("t")).as("sumt"),
        sum(expr("CAST(d AS DECIMAL(38, 0)) * (d - 1)")).as("wedges2"))
      .select(
        expr("CAST(sumcc div nullif(n_eligible_g, 0) AS BIGINT)")
          .as("avg_cc_ppm"),
        expr("""CAST(CAST(sumt AS DECIMAL(38, 0)) * 2 * 1000000
          | div nullif(wedges2, 0) AS BIGINT)""".stripMargin)
          .as("transitivity_ppm"),
        expr("CAST(sumt div 3 AS BIGINT)").as("n_triangles"))
    nodes
      .withColumn("band", expr("CAST(length(bin(d)) - 1 AS BIGINT)"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("cc_ppm").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("n_eligible"),
        expr("""CAST(sum(cc_ppm) div nullif(
          |  sum(CASE WHEN cc_ppm IS NOT NULL THEN 1 ELSE 0 END), 0)
          | AS BIGINT)""".stripMargin).as("mean_cc_ppm"),
        max(col("t")).as("max_triangles"))
      .crossJoin(broadcast(glob))
      .select("band", "n_nodes", "n_eligible", "mean_cc_ppm",
        "max_triangles", "avg_cc_ppm", "transitivity_ppm", "n_triangles")
      .orderBy("band")
  }

  /** Partition count for a wedge-pair aggregation, derived from the
    * EXACT wedge fan-out Σ_w C(capped_deg(w), 2) read off the cached
    * degree table (guide §2.2: derive partition counts from input
    * size, never from a local[] constant). Why it exists: the pair
    * aggregation's per-task hash state is (wedges / tasks) entries;
    * with the fan-out quadratic in degree, a partition count sized to
    * the CORE count leaves each task a multi-million-entry map that
    * blows the per-task memory share and drops HashAggregate into its
    * sort-based fallback — round-21 StageProf measured q233 spending
    * ~2×240 s CPU and 15+17 GB spill in exactly that fallback (map and
    * reduce side both). ~1.5e6 wedge rows per task keeps both agg maps
    * comfortably inside a 1/32 share of a 16 GB heap; the 2¹⁷ clamp
    * bounds scheduler pressure (a 10¹² -wedge graph gets 131k tasks of
    * ~8e6 rows — still fallback-free on executors with normal 2-4 GB
    * task shares). The 1-row driver pull is the documented bounded
    * exception (guide §5), same discipline as the HITS max.
    */
  private def wedgeAggParts(deg: DataFrame, cappedDegExpr: String): Int =
    wedgeAggStats(deg, cappedDegExpr)._1

  /** `(pair-agg partition count, ids fit 32 bits)` in ONE bounded
    * 1-row action over the degree cache. The second component gates the
    * PACKED pair key below (guide §2.3 "narrower types"): node ids in
    * [0, 2³¹) let the (u, v) pair ride the wedge exchange as a single
    * bigint `u·2³² + v` — the exchange that IS q233's cost (measured
    * 1.3 GB written + read at sf0.1, wall dominated by shuffle write).
    * Ids outside that range (a >2-billion-part catalog) keep the
    * two-column key; both paths compute identical rows.
    */
  private def wedgeAggStats(deg: DataFrame,
      cappedDegExpr: String): (Int, Boolean) = {
    // per-node C(d,2) is computed via decimal multiply then integral
    // `div` (which yields LONG — d ≤ 2³¹ keeps C(d,2) < 2⁶³); the SUM
    // re-widens to DECIMAL(38) so a trillion-node total cannot wrap
    val row = deg.agg(sum(expr(
      s"CAST(CAST($cappedDegExpr AS DECIMAL(38, 0)) * ($cappedDegExpr - 1)" +
        " div 2 AS DECIMAL(38, 0))").as("n_wedges")),
      min(col("id")).as("min_id"), max(col("id")).as("max_id")).head
    val nW: BigDecimal =
      if (row.isNullAt(0)) BigDecimal(0) else BigDecimal(row.getDecimal(0))
    val nWL = if (nW > BigDecimal(Long.MaxValue)) Long.MaxValue else nW.toLong
    val floor = deg.sparkSession.sparkContext.defaultParallelism.toLong
    val parts =
      math.max(floor, math.min(nWL / 1500000L + 1L, 1L << 17)).toInt
    val packable = !row.isNullAt(1) && !row.isNullAt(2) &&
      row.getLong(1) >= 0L && row.getLong(2) < (1L << 31)
    (parts, packable)
  }

  /** The shared q233/q251 pair-count + existing-edge anti-join kernel
    * over raw wedge pairs `(a.nbr, b.nbr)`: aggregated on the packed
    * single-bigint key when [[wedgeAggStats]] proved the ids fit 32
    * bits (one 8-byte key through the Θ(Σdeg²)-row exchange instead of
    * two, and single-long hash/compare in the aggregate and anti-join),
    * else on the two-column key. The anti-join's dim side stays pinned
    * SHUFFLE_HASH so the pair aggregate is never sorted, and both paths
    * reuse the aggregation's partitioning. Returns `(u, v, cn)`.
    */
  private def pairCountsMinusEdges(rawPairs: DataFrame, edges: DataFrame,
      pairParts: Int, packIds: Boolean): DataFrame =
    if (packIds) {
      rawPairs
        .select((shiftleft(col("a.nbr"), 32) + col("b.nbr")).as("uv"))
        .repartition(pairParts, col("uv"))
        .groupBy("uv").agg(count(lit(1)).as("cn"))
        .join(edges.select((shiftleft(col("u"), 32) + col("v")).as("uv"))
          .hint("shuffle_hash"), Seq("uv"), "left_anti")
        .select(shiftright(col("uv"), 32).as("u"),
          col("uv").bitwiseAND(lit(0xFFFFFFFFL)).as("v"), col("cn"))
    } else {
      rawPairs
        .select(col("a.nbr").as("u"), col("b.nbr").as("v"))
        .repartition(pairParts, col("u"), col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
        .join(edges.hint("shuffle_hash"), Seq("u", "v"), "left_anti")
    }

  def linkPrediction(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val li = orderParts(spark, dir)
    linkPredictionOf(li.join(li.withColumnRenamed("p", "p2"), Seq("k"))
      .filter(col("p") < col("p2"))
      .select(col("p").as("u"), col("p2").as("v"))
      .distinct(), k)
  }

  /** Graded q233: LINK PREDICTION on the co-purchase graph
    * (Liben-Nowell & Kleinberg, CIKM 2003) — which part pairs are
    * NOT yet co-purchased but sit two hops apart through many shared
    * baskets? That's the cross-sell candidate list: common-neighbor
    * count (the strongest simple predictor in the LNK study) plus
    * its degree-normalized Jaccard cn·10⁶ div (deg(u)+deg(v)−cn),
    * top-k under the fully-deterministic (jaccard DESC, cn DESC,
    * u ASC, v ASC) order. q142's association rules score pairs that
    * DID co-occur; this scores pairs that never did — the
    * complementary half of the recommendation problem.
    *
    * Scale shape: wedges enumerate through the shared-neighbor
    * equi-join on the persisted canonical edge list (Σ_w deg(w)²
    * candidate fan-out — MEASURED 1.48·10⁸ wedges over 1.01·10⁸
    * distinct pairs at sf0.1, which makes this the engine's most
    * expensive graded query by design: exact all-pairs common-
    * neighbor counts ARE Θ(Σdeg²), and the one large shuffle is the
    * pair aggregation itself; the LSH-style bounded alternative at
    * true 100 TB is a hub cap on w, documented not needed at graded
    * scale); existing edges leave via an anti-join on the canonical
    * (u,v) key that REUSES the aggregation's partitioning (see the
    * in-code note — a forced broadcast anti-join measured 2× slower);
    * degrees ride a broadcast. Never an all-pairs product.
    */
  def linkPredictionOf(und: DataFrame, k: Int): DataFrame = {
    val edges = CachedStages.data(und)
    // persisted: built into TWO broadcasts (deg_u / deg_v sides) —
    // unpersisted, the degree shuffle agg executed once per broadcast
    // (round-18 DupExec sweep, 12-node subtree x2). ONE traversal via
    // explode, not a self-union (round 21): the union's two branches
    // race the unfilled edge cache and re-execute the upstream
    // distinct self-join concurrently (the q70 StageProf finding).
    val deg = CachedStages.data(edges.select(explode(array(
        col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg")))
    // adjacency as (w, nbr) both directions: wedge (u -w- v), u < v.
    // ONE traversal (explode, not a self-union), shuffled ONCE to the
    // wedge join key and persisted w-partitioned — the self-join then
    // reads the cache on both sides with sort-only prep. Unpersisted,
    // the union's exchange + sort executed once PER SIDE (round-18
    // sf0.1 DupExec sweep: an 8-node shuffle subtree x2 — the
    // sf0.01 sweep missed it because AQE broadcasts the small side
    // there; q251's `capped` frame proves the cached-partitioning
    // pattern in this file).
    val adj = CachedStages.data(edges.select(explode(array(
        struct(col("u").as("w"), col("v").as("nbr")),
        struct(col("v").as("w"), col("u").as("nbr")))).as("e"))
      .select(col("e.w").as("w"), col("e.nbr").as("nbr"))
      .repartition(col("w")))
    // RAW pairs repartitioned by (u, v) into a wedge-count-derived
    // task count BEFORE any aggregation (round 21, guide §2.2/§2.5):
    // the former map-side partial aggregate saw ~4.6e6 mostly-unique
    // keys per task, overflowed its memory share, and fell back to
    // sort-based aggregation on BOTH exchange sides (StageProf: 2×240 s
    // CPU, 15.5 + 17.0 GB spill, UnsafeKVExternalSorter in every hot
    // stack). Shuffling the unaggregated pairs costs ~15% more exchange
    // rows (partial agg only achieved 1.48e8 → 1.3e8) and buys
    // fallback-free hash aggregation sized by [[wedgeAggParts]].
    val (pairParts, packIds) = wedgeAggStats(deg, "deg")
    // deliberately NOT broadcast: the wedge aggregate already hash-
    // partitions by the pair key, so the anti-join reuses that
    // partitioning and only the dim-sized edge list moves; forcing a
    // broadcast anti-join builds a |E|-entry hash relation per task and
    // measured 2x SLOWER (59.2 s vs 30.1 s at sf0.1/local[32]).
    // SHUFFLE_HASH pinned on the dim side (round 21, guide §3.1): the
    // default SortMergeJoin LeftAnti sorted the full |pairs| aggregate
    // (1e8 rows) just to probe a |E|-row build — the hash anti-join
    // probes the same partitioning sort-free. Pair key packed to one
    // bigint when ids fit 32 bits — see pairCountsMinusEdges.
    pairCountsMinusEdges(
        adj.as("a").join(adj.as("b"), Seq("w"))
          .filter(col("a.nbr") < col("b.nbr")),
        edges, pairParts, packIds)
      .join(broadcast(deg.select(col("id").as("u"),
        col("deg").as("deg_u"))), Seq("u"))
      .join(broadcast(deg.select(col("id").as("v"),
        col("deg").as("deg_v"))), Seq("v"))
      .withColumn("jaccard_ppm", expr(
        "cn * 1000000 div (deg_u + deg_v - cn)"))
      .select("u", "v", "cn", "deg_u", "deg_v", "jaccard_ppm")
      .orderBy(col("jaccard_ppm").desc, col("cn").desc,
        col("u").asc, col("v").asc)
      .limit(k)
  }

  def linkPredictionCapped(spark: SparkSession, dir: String,
      k: Int = 20, cap: Int = 32): DataFrame = {
    val li = orderParts(spark, dir)
    linkPredictionCappedOf(
      li.join(li.withColumnRenamed("p", "p2"), Seq("k"))
        .filter(col("p") < col("p2"))
        .select(col("p").as("u"), col("p2").as("v"))
        .distinct(), k, cap)
  }

  /** Graded q251: HUB-CAPPED link prediction — q233's common-neighbor
    * ranking made 100 TB-safe. Exact wedge enumeration is Θ(Σ_w
    * deg(w)²): one hub node in every basket makes q233 quadratic in
    * corpus size. The standard mitigation (e.g. Twitter's WTF /
    * GraphJet-style neighborhood truncation) bounds each shared
    * neighbor w's adjacency to its top-`cap` neighbors before the
    * wedge join, so the candidate fan-out is Σ_w min(deg(w), cap)² ≤
    * |V|·cap² — LINEAR in nodes at fixed cap. The kept neighbors are
    * the fully deterministic top-`cap` by (deg DESC, id ASC): ties
    * impossible (ids unique within an adjacency list), so the capped
    * counts replay bit-identically in any engine. Scores keep q233's
    * exact semantics otherwise — capped cn (a lower bound on the true
    * count), TRUE degrees in the Jaccard denominator, the same
    * deterministic (jaccard DESC, cn DESC, u, v) top-k. q233 stays
    * the exact eval reference; this is the plan you'd ship at scale.
    *
    * Scale shape: the cap is ONE extra shuffle (row_number windowed by
    * w — per-partition work bounded by max-degree, the thing being
    * capped away from the wedge join); the wedge equi-join then runs
    * on the ≤cap-bounded lists; the anti-join reuses the wedge
    * aggregation's (u, v) hash partitioning (q233's measured
    * discipline — forced broadcast was 2× slower); degrees ride
    * broadcasts. Never an all-pairs product.
    */
  def linkPredictionCappedOf(und: DataFrame, k: Int,
      cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = CachedStages.data(und)
    // persisted: built into THREE broadcasts (the cap window's
    // deg_nbr side plus deg_u / deg_v) — unpersisted, the degree
    // shuffle agg executed once per broadcast (round-18 DupExec sweep).
    // explode, not self-union: see linkPredictionOf (round 21)
    val deg = CachedStages.data(edges.select(explode(array(
        col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg")))
    val adj = edges.select(explode(array(
        struct(col("u").as("w"), col("v").as("nbr")),
        struct(col("v").as("w"), col("u").as("nbr")))).as("e"))
      .select(col("e.w").as("w"), col("e.nbr").as("nbr"))
    // persisted: BOTH wedge sides read the capped lists, and the
    // window (the one extra shuffle the cap costs) must run once
    val capped = CachedStages.data(adj
      .join(broadcast(deg.select(col("id").as("nbr"),
        col("deg").as("deg_nbr"))), Seq("nbr"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("w")
          .orderBy(col("deg_nbr").desc, col("nbr").asc)))
      .filter(col("rk") <= cap)
      .select("w", "nbr"))
    // same two round-21 disciplines as q233 (see linkPredictionOf):
    // pair aggregation partitioned by the exact CAPPED wedge fan-out
    // Σ_w C(min(deg_w, cap), 2), and the anti-join's dim side pinned
    // shuffle-hash so the pair aggregate is never sorted
    val (pairParts, packIds) = wedgeAggStats(deg, s"least(deg, $cap)")
    pairCountsMinusEdges(
        capped.as("a").join(capped.as("b"), Seq("w"))
          .filter(col("a.nbr") < col("b.nbr")),
        edges, pairParts, packIds)
      .join(broadcast(deg.select(col("id").as("u"),
        col("deg").as("deg_u"))), Seq("u"))
      .join(broadcast(deg.select(col("id").as("v"),
        col("deg").as("deg_v"))), Seq("v"))
      .withColumn("jaccard_ppm", expr(
        "cn * 1000000 div (deg_u + deg_v - cn)"))
      .select("u", "v", "cn", "deg_u", "deg_v", "jaccard_ppm")
      .orderBy(col("jaccard_ppm").desc, col("cn").desc,
        col("u").asc, col("v").asc)
      .limit(k)
  }
}

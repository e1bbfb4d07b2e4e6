package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Fixed-point PageRank (q69). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side replay of Graph.pagerank's integer arithmetic. */
  private def naivePagerank(edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = outDeg.size.toLong
    val teleport = 3L * Graph.RankScale / (20L * n)
    var ranks = outDeg.keys.map(_ -> Graph.RankScale / n).toMap
    for (_ <- 1 to iters) {
      val mass = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (s, d) =>
        mass(d) += ranks(s) / outDeg(s)
      }
      // over ALL nodes, not just mass receivers: a source-only node
      // keeps its teleport share (mirrors the operator's left join)
      ranks = outDeg.keys
        .map(d => d -> (teleport + 17L * mass(d) / 20L)).toMap
    }
    ranks
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pagerank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star graph: the hub outranks every leaf") {
    // undirected star 0-{1,2,3,4}: every leaf sends its whole rank to 0
    val spokes = (1L to 4L).flatMap(i => Seq((0L, i), (i, 0L)))
    val ranks = run(spokes, 5)
    assert(ranks == naivePagerank(spokes, 5))
    val hub = ranks(0L)
    (1L to 4L).foreach(i => assert(hub > ranks(i)))
    // symmetry: all leaves identical
    assert((1L to 4L).map(ranks).distinct.size == 1)
  }

  test("symmetric triangle: all nodes tie at ~1/3 mass") {
    val tri = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 0L), (0L, 2L))
    val ranks = run(tri, 4)
    assert(ranks.values.toSeq.distinct.size == 1)
    // each holds SCALE/3 up to the two floor divisions per iteration
    assert(math.abs(ranks(0L) - Graph.RankScale / 3) < 16)
  }

  test("random graphs match the driver-side integer replay exactly") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val nodes = 5 + trial * 3
      val raw = (1 to nodes * 3).map { _ =>
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong)
      }.filter { case (a, b) => a != b }
      // symmetrize so every node with an edge has out-degree >= 1
      val edges = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      assert(run(edges, 5) == naivePagerank(edges, 5))
    }
  }

  test("asymmetric graph: a source-only node keeps teleport and keeps emitting") {
    // 1 -> 2, 2 <-> 3: node 1 has out-degree 1 but NOTHING points at it
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L))
    val iters = 4
    val ranks = run(edges, iters)
    assert(ranks == naivePagerank(edges, iters), ranks.toString)
    // node 1 is retained at exactly its teleport share...
    val teleport = 3L * Graph.RankScale / (20L * 3L)
    assert(ranks(1L) == teleport, ranks.toString)
    // ...and no node is dropped: the pre-fix loop lost node 1 (and its
    // teleport emission) after round one
    assert(ranks.keySet == Set(1L, 2L, 3L), ranks.toString)
  }

  test("graded co-purchase ranks: mass conserved within floor loss") {
    val out = Graph.copurchasePagerank(spark, "/root/testdata/sf0.001", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length > 50)
    // descending total order
    assert(out.sliding(2).forall {
      case Array(a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
      case _ => true
    })
    // every iteration only loses mass to floor division (≤ |E| + 2|N|
    // units per round): total never exceeds RankScale and stays within
    // 1e-4 relative of it from below
    val total = out.map(_._2).sum
    assert(total <= Graph.RankScale &&
      total > Graph.RankScale - Graph.RankScale / 10000)
  }

  // ---- triangle counting (q70) ----

  /** Driver-side brute force: count triangles per node by scanning all
    * id triples of the adjacency set.
    */
  private def naiveTriangles(und: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = und.toSet
    def linked(a: Long, b: Long) =
      adj.contains((math.min(a, b), math.max(a, b)))
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val counts = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      k <- j + 1 until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if linked(a, b) && linked(b, c) && linked(a, c)
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    counts.toMap
  }

  private def runTri(und: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCounts(und.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("K4: four triangles, every node on three of them") {
    val k4 = for (a <- 0L to 3L; b <- a + 1 to 3L) yield (a, b)
    val tri = runTri(k4)
    assert(tri == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("a chain has no triangles; adding one closing edge makes one") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    assert(runTri(chain).isEmpty)
    val closed = chain :+ (0L, 2L)
    assert(runTri(closed) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("random graphs match driver-side brute force, incl. a hub") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val nodes = 8 + trial * 4
      // a hub wired to everything plus random background edges — the
      // degree-orientation's target case (the hub must NOT enumerate
      // its own O(d^2) wedges into the count incorrectly)
      val hub = (1L until nodes).map(i => (0L, i))
      val raw = (1 to nodes * 2).map { _ =>
        val a = rnd.nextInt(nodes).toLong; val b = rnd.nextInt(nodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }
      val und = (hub ++ raw).distinct
      assert(runTri(und) == naiveTriangles(und))
    }
  }

  test("LPA separates two bridged triangles; hand-computed rounds") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6}, bridge 3-4; both edge directions
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val out = Graph.labelPropagation(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // synchronous rounds with the (max count, min label) rule, by hand:
    //   r1: 1->2 2->1 3->1 4->3 5->4 6->4
    //   r2: 1->1 2->1 3->1 4->4 5->3 6->3
    //   r3: 1->1 2->1 3->1 4->3 5->3 6->3
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L,
      5L -> 3L, 6L -> 3L), out.toString)
    CachedStages.release(spark)
  }

  test("LPA on a clique collapses to the minimum id in two rounds") {
    import spark.implicits._
    val n = 5L
    val edges = (for {
      a <- 1L to n; b <- 1L to n if a != b
    } yield (a, b)).toDF("src", "dst")
    val out = Graph.labelPropagation(edges, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r1: every node adopts the min OTHER id (all neighbor labels tie
    // at count 1); r2: label 1 holds a strict majority everywhere
    assert(out.values.toSet == Set(1L), out.toString)
    CachedStages.release(spark)
  }

  test("personalized pagerank: mass stays near the seed, integer replay agrees") {
    import spark.implicits._
    // a 6-node path 1-2-3-4-5-6 (both directions), seed at node 1:
    // rank must decay monotonically with distance from the seed
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val iters = 4
    val got = Graph.personalizedPagerank(edges, seeds, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side integer replay of the same loop
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val s = Graph.RankScale
    val teleport = 3L * s / 20L
    var r = Map(1L -> s)
    (1 to iters).foreach { _ =>
      val mass = scala.collection.mutable.Map.empty[Long, Long]
      r.foreach { case (n, rv) =>
        val out = adj(n); val c = rv / out.size
        out.foreach(m => mass(m) = mass.getOrElse(m, 0L) + c)
      }
      r = (mass.keySet + 1L).map { n =>
        n -> (17L * mass.getOrElse(n, 0L) / 20L +
          (if (n == 1L) teleport else 0L))
      }.toMap.filter(_._2 != 0L)
    }
    assert(got == r, s"$got != $r")
    // the seed dominates: teleport replenishes node 1 every round while
    // everything else only holds decayed walk mass (finite-horizon
    // synchronous iteration is parity-wavy along the path, so full
    // monotone-in-distance ordering is NOT asserted — only the limit
    // has it)
    assert(got(1L) == got.values.max, got.toString)
    // the walk horizon: node 6 sits at distance 5 > iters rounds, so no
    // mass can have reached it — the sparse frame must not contain it
    assert(!got.contains(6L), got.toString)
    CachedStages.release(spark)
  }

  test("graded co-purchase triangles: ordered, positive, consistent") {
    val out = Graph.copurchaseTriangles(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    assert(out.forall(_._2 > 0))
    // total participation divides by 3 (each triangle has 3 corners)
    assert(out.map(_._2).sum % 3 == 0)
    assert(out.sliding(2).forall {
      case Array(a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
      case _ => true
    })
  }

  /** Driver-side replay of Graph.purchaseHitsOf's integer arithmetic:
    * per half-round an exact integer in-edge sum, then max-normalization
    * as one BigInt product and one truncating division — the same
    * decimal(38) cross-multiply `div` the operator runs.
    */
  private def naiveHits(edges: Seq[(Long, Long)], iters: Int)
      : (Map[Long, Long], Map[Long, Long]) = {
    val s = Graph.HitsScale
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> (BigInt(v) * s / mx).toLong }
    }
    var hubs = edges.map(_._1).distinct.map(_ -> s).toMap
    var auths = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val ar = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (c, p) => ar(p) += hubs(c) }
      auths = norm(ar.toMap)
      val hr = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (c, p) => hr(c) += auths(p) }
      hubs = norm(hr.toMap)
    }
    (hubs, auths)
  }

  private def runHits(edges: Seq[(Long, Long)], iters: Int, kTop: Int)
      : (Map[Long, Long], Map[Long, Long]) = {
    val rows = Graph.purchaseHitsOf(edges.toDF("cust", "part"), iters, kTop)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    (rows.filter(_._1 == "hub").map(r => r._3 -> r._4).toMap,
      rows.filter(_._1 == "authority").map(r => r._3 -> r._4).toMap)
  }

  test("HITS: random bipartite graphs match the driver-side replay exactly") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val nc = 4 + trial * 2
      val np = 5 + trial
      val edges = (1 to nc * 3).map { _ =>
        (rnd.nextInt(nc).toLong, 100L + rnd.nextInt(np))
      }.distinct
      val (gotH, gotA) = runHits(edges, 3, 100) // kTop covers every node
      val (expH, expA) = naiveHits(edges, 3)
      assert(gotH == expH, s"hubs trial $trial: $gotH != $expH")
      assert(gotA == expA, s"auths trial $trial: $gotA != $expA")
      CachedStages.release(spark)
    }
  }

  test("HITS: a universal buyer is the top hub, its exclusive part gains authority") {
    // customers 1..3, parts 100..103. Customer 1 buys everything (the
    // universal hub); part 100 is bought by everyone (the universal
    // authority); part 103 ONLY by the hub; part 102 only by customer 3.
    val edges = Seq(
      (1L, 100L), (1L, 101L), (1L, 103L),
      (2L, 100L), (2L, 101L),
      (3L, 100L), (3L, 102L))
    val (hubs, auths) = runHits(edges, 3, 100)
    assert(hubs(1L) == Graph.HitsScale) // max-normalized top hub
    assert(hubs(1L) > hubs(2L) && hubs(1L) > hubs(3L))
    assert(auths(100L) == Graph.HitsScale) // bought by every hub
    // both are single-buyer parts, but 103's one buyer is the top hub
    assert(auths(103L) > auths(102L))
    CachedStages.release(spark)
  }

  // ---- the iterative loops on both sides of the derived join ----

  /** `body` under the session's broadcast threshold and again with it
    * at -1: both sides of Graph.broadcastsVector give the same answer. */
  private def onBothJoinSides[T](body: => T): T = {
    val b = try body finally CachedStages.release(spark)
    val s = try withoutBroadcast(body) finally CachedStages.release(spark)
    assert(b == s, s"join sides diverged: broadcast=$b shuffle=$s")
    b
  }

  private def failsWith(message: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(message), e.getMessage)
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.labelPropagation(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ppr(edges: Seq[(Long, Long)], seeds: Seq[Long],
      iters: Int): Map[Long, Long] =
    Graph.personalizedPagerank(edges.toDF("src", "dst"), seeds.toDF("id"),
      iters).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("iterative loops on an empty edge list: a require message or no rows") {
    val none = Seq.empty[(Long, Long)]
    onBothJoinSides {
      failsWith("empty edge list")(run(none, 3))
      failsWith("empty seed set")(ppr(none, Seq(1L), 3))
      assert(lpa(none, 3).isEmpty)
      assert(runHits(none, 3, 20) == ((Map.empty, Map.empty)))
    }
  }

  test("iterative loops on a single self-loop: the whole mass, its own label") {
    val loop = Seq((7L, 7L))
    onBothJoinSides {
      assert(run(loop, 3) == Map(7L -> Graph.RankScale))
      assert(ppr(loop, Seq(7L), 3) == Map(7L -> Graph.RankScale))
      assert(lpa(loop, 3) == Map(7L -> 7L))
      assert(runHits(loop, 3, 20) ==
        ((Map(7L -> Graph.HitsScale), Map(7L -> Graph.HitsScale))))
    }
  }

  test("iterative loops on ids near Long.MaxValue: the small-id answer, relabelled") {
    // order-preserving relabel, so every min-label and by-id tie-break
    // picks the same node
    val top = Long.MaxValue - 10L
    def up(id: Long): Long = top + id
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val small = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val big = small.map { case (a, b) => (up(a), up(b)) }
    def upKeys(m: Map[Long, Long]) = m.map { case (k, v) => up(k) -> v }
    onBothJoinSides {
      assert(run(big, 4) == upKeys(run(small, 4)))
      assert(run(big, 4) == naivePagerank(big, 4))
      assert(ppr(big, Seq(up(1L)), 4) == upKeys(ppr(small, Seq(1L), 4)))
      assert(lpa(big, 3) ==
        lpa(small, 3).map { case (k, v) => up(k) -> up(v) })
      val (hubs, auths) = runHits(small, 3, 20)
      assert(runHits(big, 3, 20) == ((upKeys(hubs), upKeys(auths))))
    }
  }

  test("iterative loops on ids near Long.MinValue: the small-id answer, relabelled") {
    // node 1 becomes Long.MinValue itself: LPA's smallest-label
    // tie-break must reverse label order without negating it
    def down(id: Long): Long = Long.MinValue + (id - 1L)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val small = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val big = small.map { case (a, b) => (down(a), down(b)) }
    def downKeys(m: Map[Long, Long]) = m.map { case (k, v) => down(k) -> v }
    onBothJoinSides {
      assert(run(big, 4) == downKeys(run(small, 4)))
      assert(run(big, 4) == naivePagerank(big, 4))
      assert(ppr(big, Seq(down(1L)), 4) == downKeys(ppr(small, Seq(1L), 4)))
      assert(lpa(big, 3) ==
        lpa(small, 3).map { case (k, v) => down(k) -> down(v) })
      val (hubs, auths) = runHits(small, 3, 20)
      assert(runHits(big, 3, 20) == ((downKeys(hubs), downKeys(auths))))
    }
  }

  test("LPA on an asymmetric edge list: pinned round-1 min(src), on both join sides") {
    // 1 -> 2 <- 3, 2 -> 4 <- 5, 4 -> 3: nodes 1 and 5 have no in-edge
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L), (5L, 4L), (4L, 3L))
    onBothJoinSides {
      // round 1 counts every source's vote, labelled or not
      assert(lpa(edges, 1) == Map(2L -> 1L, 4L -> 2L, 3L -> 4L))
      // later rounds count only sources holding a label: 1 and 5 hold
      // none, so node 2 hears only 3's label and node 4 only 2's
      assert(lpa(edges, 2) == Map(2L -> 4L, 4L -> 1L, 3L -> 2L))
    }
  }

  test("k-core ladder and degree census: the symmetric shortcuts give the " +
      "general path's rows") {
    // triangle 1-2-3 (the only 2-core), star 20-{21,22,23} (peels to an
    // empty core at k = 2) and the isolated pair 10-11; the 3-core is
    // empty, so k = 4 starts from an empty seed
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (20L, 21L), (20L, 22L),
      (20L, 23L), (10L, 11L))
    val hand = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val strong = Graph.strongEdges(spark, "/root/testdata/sf0.001", 2)
    val ks = Seq(1, 2, 3, 4)
    def rows(df: DataFrame) = df.collect().toSeq
    for (edges <- Seq(hand, strong)) {
      assert(rows(Graph.kCoreLadderOf(edges, ks, symmetricEdges = true)) ==
        rows(Graph.kCoreLadderOf(edges, ks)))
      assert(rows(Graph.degreeCensusOf(edges, symmetricEdges = true)) ==
        rows(Graph.degreeCensusOf(edges)))
      CachedStages.release(spark)
    }
    assert(rows(Graph.kCoreLadderOf(hand, ks))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((1L, 9L, 14L), (2L, 3L, 6L), (3L, 0L, 0L), (4L, 0L, 0L)))
  }

  test("Rounds: zero fixed rounds return the cut init; a stable input " +
      "stops after one round") {
    val init = Seq(1L, 2L, 3L).toDF("x")
    def isCut(df: DataFrame) = df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val never: DataFrame => DataFrame = _ => fail("no round may run")
    val cutJobs = observed(Rounds.cut(init))._2.size
    val (zero, zeroJobs, _) = observed(
      Rounds.fixed(init, 0)((state, _) => never(state)))
    assert(isCut(zero) && zeroJobs.size == cutJobs)
    assert(zero.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    var tests = 0
    val stable = Rounds.untilStable(init)(never) { cut =>
      tests += 1
      cut.count() == 3L
    }
    assert(isCut(stable) && tests == 1)
    assert(stable.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }
}

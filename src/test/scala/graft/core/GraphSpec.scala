package graft.core

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.execution.LogicalRDD

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int,
      parts: Int = 4): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst").repartition(parts),
        iterations = iters)
      .as[(Long, Long)].collect().toMap

  test("a cycle is the exact fixpoint: every rank stays at unit") {
    // inc = unit div 1 = unit; r' = 150000 + (85*unit) div 100 = unit
    assert(ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L)), iters = 5)
      == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("dangling mass redistributes uniformly: a->b hand-computed, 2 rounds") {
    // n=2. round 1: dang=unit, share=500000;
    //   a: 150000 + 85*500000 div 100            = 575000
    //   b: 150000 + 85*(1000000+500000) div 100  = 1425000
    assert(ranks(Seq((1L, 2L)), iters = 1) == Map(1L -> 575000L, 2L -> 1425000L))
    // round 2: dang=1425000, share=712500;
    //   a: 150000 + 85*712500 div 100            = 755625
    //   b: 150000 + 85*(575000+712500) div 100   = 1244375
    assert(ranks(Seq((1L, 2L)), iters = 2) == Map(1L -> 755625L, 2L -> 1244375L))
  }

  test("star graph: the hub outranks every leaf") {
    val r = ranks((1L to 5L).map(l => (l, 0L)), iters = 3)
    assert((1L to 5L).forall(l => r(0L) > r(l)))
    assert((1L to 5L).map(r).distinct.size == 1) // leaves symmetric
  }

  test("total mass is conserved up to the documented floor leakage") {
    val edges = for (u <- 1L to 40L; v <- Seq((u * 7) % 40 + 1, (u * 3) % 40 + 1)
      if u != v) yield (u, v)
    val n = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    for (iters <- Seq(1, 3, 6)) {
      val total = ranks(edges, iters).values.sum
      val budget = iters.toLong * (edges.distinct.size + 3L * n)
      assert(total <= n * 1000000L, s"mass created at iters=$iters")
      assert(total >= n * 1000000L - budget,
        s"iters=$iters lost ${n * 1000000L - total} > budget $budget")
    }
  }

  test("result is independent of input partitioning (exact integer arithmetic)") {
    val edges = (1L to 30L).map(u => (u, (u * 11) % 30 + 1))
    assert(ranks(edges, 3, parts = 1) == ranks(edges, 3, parts = 13))
  }

  test("parallel edges collapse to one (unweighted formulation)") {
    assert(ranks(Seq((1L, 2L), (1L, 2L), (2L, 1L)), 4)
      == ranks(Seq((1L, 2L), (2L, 1L)), 4))
  }

  test("rejects an empty graph and bad parameters") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(e, iterations = 0))
    intercept[IllegalArgumentException](Graph.pageRank(e, dampingPct = 101))
    intercept[IllegalArgumentException](
      Graph.pageRank(e.filter(F.lit(false)), iterations = 1))
  }

  private def ppr(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int,
      parts: Int = 4): Map[Long, Long] =
    Graph.personalizedPageRank(edges.toDF("src", "dst").repartition(parts),
        seeds.toDF("node"), iterations = iters)
      .as[(Long, Long)].collect().toMap

  test("PPR with every node seeded equals uniform pageRank exactly") {
    // baseSeed = (15·n·unit) div (100·n) = 150000 and dang div s = dang
    // div n — the two updates coincide term for term
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(ppr(edges, nodes, 3) == ranks(edges, 3))
  }

  test("PPR a->b with seed {a}: hand-computed 2 rounds, mass conserved") {
    // n=2, s=1, baseSeed = 15·2·1e6 div 100 = 300000
    // round 1: dang = rank(b) = 1e6; a: 300000 + 85·1e6 div 100 = 1150000;
    //          b: 85·(1e6 div 1) div 100 = 850000
    assert(ppr(Seq((1L, 2L)), Seq(1L), 1)
      == Map(1L -> 1150000L, 2L -> 850000L))
    // round 2: dang = 850000; a: 300000 + 85·850000 div 100 = 1022500;
    //          b: 85·1150000 div 100 = 977500
    assert(ppr(Seq((1L, 2L)), Seq(1L), 2)
      == Map(1L -> 1022500L, 2L -> 977500L))
  }

  test("PPR: a non-seed node with no in-edges drops to rank 0") {
    // teleport mass lands only on seeds — 3 has neither seed mass nor
    // incoming contributions after the first round
    val r = ppr(Seq((1L, 2L), (3L, 2L)), Seq(1L), 3)
    assert(r(3L) == 0L)
    assert(r(1L) > 0L && r(2L) > 0L)
  }

  test("PPR concentrates mass near the seed component") {
    // two disjoint 2-cycles, seeds only in the first: its nodes must
    // outrank every node of the unseeded component
    val edges = Seq((1L, 2L), (2L, 1L), (10L, 11L), (11L, 10L))
    val r = ppr(edges, Seq(1L), 4)
    assert(Seq(1L, 2L).map(r).min > Seq(10L, 11L).map(r).max, r.toString)
  }

  test("PPR is independent of input partitioning; seeds outside the graph rejected") {
    val edges = (1L to 30L).map(u => (u, (u * 11) % 30 + 1))
    val seeds = Seq(3L, 7L)
    assert(ppr(edges, seeds, 3, parts = 1) == ppr(edges, seeds, 3, parts = 13))
    intercept[IllegalArgumentException](ppr(Seq((1L, 2L)), Seq(99L), 1))
  }

  private def wranks(edges: Seq[(Long, Long, Long)], iters: Int,
      parts: Int = 4): Map[Long, Long] =
    Graph.pageRankWeighted(edges.toDF("src", "dst", "weight")
        .repartition(parts), iterations = iters)
      .as[(Long, Long)].collect().toMap

  test("weighted PageRank with uniform weights equals the unweighted variant") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 1L))
    assert(wranks(edges.map(e => (e._1, e._2, 7L)), 3) == ranks(edges, 3))
  }

  test("weighted PageRank: proportional split hand-computed, 1 round") {
    // a→b w=1, a→c w=3: W=4; inc_b = 1e6·1 div 4, inc_c = 1e6·3 div 4;
    // dang = 2e6, share = 666666
    assert(wranks(Seq((1L, 2L, 1L), (1L, 3L, 3L)), 1) == Map(
      1L -> 716666L, 2L -> 929166L, 3L -> 1354166L))
  }

  test("weighted PageRank: parallel edges add; non-positive weights drop") {
    val a = wranks(Seq((1L, 2L, 2L), (1L, 2L, 3L), (2L, 1L, 1L)), 4)
    val b = wranks(Seq((1L, 2L, 5L), (2L, 1L, 1L)), 4)
    assert(a == b)
    // w <= 0 edges are absent entirely — the graph is what remains
    val r = wranks(Seq((1L, 2L, 0L), (2L, 3L, 1L)), 2)
    assert(!r.contains(1L))
    assert(r == wranks(Seq((2L, 3L, 1L)), 2))
  }

  test("weighted PageRank is independent of input partitioning") {
    val edges = (1L to 30L).map(u => (u, (u * 11) % 30 + 1, u % 5 + 1))
    assert(wranks(edges, 3, parts = 1) == wranks(edges, 3, parts = 13))
  }

  private def tri(edges: Seq[(Long, Long)], parts: Int = 4): Map[Long, (Long, Long, Long)] =
    Graph.triangleCounts(edges.toDF("src", "dst").repartition(parts))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (n, d, t, c) => n -> (d, t, c) }.toMap

  test("triangles: K4 — every node deg 3, 3 triangles, lcc = 1") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    assert(tri(k4) == (1L to 4L).map(_ -> ((3L, 3L, 1000000L))).toMap)
  }

  test("triangles: one triangle with a pendant, hand-computed lcc") {
    val r = tri(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(r(1L) == ((2L, 1L, 1000000L)))
    assert(r(2L) == ((2L, 1L, 1000000L)))
    // deg 3: lcc = 2·1·10⁶ div (3·2) = 333333
    assert(r(3L) == ((3L, 1L, 333333L)))
    assert(r(4L) == ((1L, 0L, 0L)))
  }

  test("triangles: bipartite graph has none") {
    val e = for (a <- 1L to 4L; b <- 11L to 14L) yield (a, b)
    assert(tri(e).values.forall { case (_, t, c) => t == 0L && c == 0L })
  }

  test("triangles: direction, duplicates and self-loops are normalized away") {
    assert(tri(Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L)))
      == tri(Seq((1L, 2L), (2L, 3L), (1L, 3L))))
  }

  test("triangles: brute-force parity on a pseudo-random graph, any layout") {
    val edges = (for (u <- 0L until 60L; k <- 1L to 4L)
      yield (u, (u * 17 + k * k * 13) % 60)).filter(e => e._1 != e._2)
    val adj = edges.flatMap(e => Seq((math.min(e._1, e._2), math.max(e._1, e._2))))
      .distinct.toSet
    val nodes = adj.flatMap(e => Seq(e._1, e._2))
    val brute = nodes.map { v =>
      val nbrs = nodes.filter(u => adj((math.min(u, v), math.max(u, v))) && u != v)
      val t = nbrs.toSeq.combinations(2).count { case Seq(a, b) =>
        adj((math.min(a, b), math.max(a, b))) }
      v -> t.toLong
    }.toMap
    for (parts <- Seq(1, 7)) {
      val r = tri(edges, parts)
      assert(r.keySet == nodes)
      nodes.foreach { v => assert(r(v)._2 == brute(v), s"node $v") }
    }
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int, parts: Int = 4): Map[Long, Long] =
    Graph.labelPropagation(edges.toDF("src", "dst").repartition(parts),
        iterations = iters)
      .as[(Long, Long)].collect().toMap

  test("LPA: two cliques with one bridge resolve to two communities") {
    val cliqueA = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val cliqueB = for (a <- 11L to 14L; b <- 11L to 14L if a < b) yield (a, b)
    val r = lpa(cliqueA ++ cliqueB ++ Seq((4L, 11L)), iters = 4)
    assert(Seq(1L, 2L, 3L, 4L).map(r).distinct.size == 1)
    assert(Seq(11L, 12L, 13L, 14L).map(r).distinct.size == 1)
    assert(r(1L) != r(11L))
  }

  test("LPA: a clique converges to its minimum label") {
    val k5 = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    assert(lpa(k5, iters = 4).values.toSet == Set(1L))
  }

  test("LPA: deterministic across partitionings and repeated runs") {
    val edges = (for (u <- 0L until 40L; k <- 1L to 3L)
      yield (u, (u * 7 + k * 11) % 40)).filter(e => e._1 != e._2)
    val a = lpa(edges, 4, parts = 1)
    assert(a == lpa(edges, 4, parts = 13))
    assert(a == lpa(edges, 4, parts = 4))
  }

  test("LPA: disconnected components never share a label") {
    val r = lpa(Seq((1L, 2L), (2L, 3L), (10L, 11L)), iters = 4)
    assert(Set(r(1L), r(2L), r(3L)).intersect(Set(r(10L), r(11L))).isEmpty)
  }

  private def kcore(edges: Seq[(Long, Long)], k: Long, parts: Int = 4,
      maxIter: Int = 30): Map[Long, Long] =
    Graph.kCore(edges.toDF("src", "dst").repartition(parts), k = k,
        maxIter = maxIter)
      .as[(Long, Long)].collect().toMap

  test("kCore: pendant chain peels away, clique survives with core degrees") {
    val k5 = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val withTail = k5 ++ Seq((5L, 10L), (10L, 11L))
    // k=2: 11 (deg 1) peels, then 10 (deg 1) peels — the K5 remains
    assert(kcore(withTail, 2L) == (1L to 5L).map(_ -> 4L).toMap)
    // k=5: even K5 dissolves (max degree 4)
    assert(kcore(withTail, 5L).isEmpty)
  }

  test("kCore: brute-force parity on a pseudo-random graph, any layout") {
    val edges = (for (u <- 0L until 50L; j <- 1L to 4L)
      yield (u, (u * 13 + j * j * 7) % 50)).filter(e => e._1 != e._2)
    val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    var adj = scala.collection.mutable.Map[Long, Set[Long]]()
    canon.foreach { case (a, b) =>
      adj(a) = adj.getOrElse(a, Set()) + b; adj(b) = adj.getOrElse(b, Set()) + a
    }
    var changed = true
    while (changed) {
      val drop = adj.filter(_._2.size < 3).keys.toSeq
      changed = drop.nonEmpty
      drop.foreach { n =>
        adj(n).foreach(m => adj(m) = adj(m) - n); adj.remove(n)
      }
    }
    val want = adj.map { case (n, s) => n -> s.size.toLong }.toMap
    assert(kcore(edges, 3L, parts = 1) == want)
    assert(kcore(edges, 3L, parts = 11) == want)
  }

  private def bfs(edges: Seq[(Long, Long)], seeds: Seq[Long], depth: Int,
      parts: Int = 4): Map[Long, Long] =
    Graph.bfsDistances(edges.toDF("src", "dst").repartition(parts),
        seeds.toDF("node"), maxDepth = depth)
      .as[(Long, Long)].collect().toMap

  test("bfsDistances: hop distances on a path, nearest seed wins") {
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(bfs(path, Seq(1L), 3)
      == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L)) // 5, 6 beyond depth
    // two seeds: min distance
    assert(bfs(path, Seq(1L, 6L), 2)
      == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 6L -> 0L, 5L -> 1L, 4L -> 2L))
  }

  test("bfsDistances: off-graph seeds ignored, disconnected unreached, early stop") {
    val edges = Seq((1L, 2L), (10L, 11L))
    val r = bfs(edges, Seq(1L, 99L), 6)
    assert(r == Map(1L -> 0L, 2L -> 1L)) // component {10,11} absent
    // depth 0: seeds only
    assert(bfs(edges, Seq(1L), 0) == Map(1L -> 0L))
    // layout independence
    assert(bfs(edges, Seq(1L), 3, parts = 1) == bfs(edges, Seq(1L), 3, parts = 9))
  }

  private def sp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      maxIter: Int = 30, parts: Int = 4): Map[Long, Long] =
    Graph.shortestPaths(edges.toDF("src", "dst", "weight").repartition(parts),
        seeds.toDF("node"), maxIter = maxIter)
      .as[(Long, Long)].collect().toMap

  test("shortestPaths: relax-through-cheaper-path beats the direct edge") {
    val r = sp(Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L)), Seq(1L))
    assert(r == Map(1L -> 0L, 2L -> 5L, 3L -> 6L))
    // parallel edges: cheapest wins
    assert(sp(Seq((1L, 2L, 9L), (1L, 2L, 2L)), Seq(1L))
      == Map(1L -> 0L, 2L -> 2L))
  }

  test("shortestPaths: unit weights equal BFS hop distances") {
    val edges = (for (u <- 0L until 30L; j <- 1L to 2L)
      yield (u, (u * 7 + j * 5) % 30)).filter(e => e._1 != e._2)
    val unit = edges.map(e => (e._1, e._2, 1L))
    assert(sp(unit, Seq(0L, 15L)) == bfs(edges, Seq(0L, 15L), 29))
  }

  test("shortestPaths: unreached absent, runaway bound throws, layout-stable") {
    val r = sp(Seq((1L, 2L, 3L), (10L, 11L, 1L)), Seq(1L))
    assert(r == Map(1L -> 0L, 2L -> 3L))
    intercept[IllegalArgumentException](
      sp(Seq((1L, 2L, 1L), (2L, 3L, 1L)), Seq(1L), maxIter = 1))
    val edges = (1L to 20L).map(u => (u, u % 20 + 1, u % 3 + 1))
    assert(sp(edges, Seq(5L), parts = 1) == sp(edges, Seq(5L), parts = 9))
  }

  private def hitsMap(edges: Seq[(Long, Long)], iters: Int = 2,
      unit: Long = 1000000L, parts: Int = 4): Map[Long, (Long, Long)] =
    Graph.hits(edges.toDF("src", "dst").repartition(parts),
        iterations = iters, unit = unit)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("hits: hand-computed one iteration, L1 renorm, zero hub/auth edges") {
    // 1→3, 2→3, 3→4; n=4, unit=1000, mass=4000
    // authRaw: 3←2000, 4←1000; tot=3000; s=max(1, 3000 div 4000)=1
    // hubRaw:  1←a(3)=2000, 2←2000, 3←a(4)=1000; tot=5000; s=max(1,1)=1
    assert(hitsMap(Seq((1L, 3L), (2L, 3L), (3L, 4L)), iters = 1, unit = 1000L)
      == Map(1L -> (2000L, 0L), 2L -> (2000L, 0L),
             3L -> (1000L, 2000L), 4L -> (0L, 1000L)))
  }

  test("hits: one iteration auth follows in-degree (uniform initial hubs)") {
    val edges = for (u <- 1L to 20L; j <- 1L to 3L; v = (u * j * 7) % 20 + 30
      ) yield (u, v)
    val indeg = edges.distinct.groupBy(_._2).view.mapValues(_.size).toMap
    val h = hitsMap(edges, iters = 1)
    for (a <- indeg.keys; b <- indeg.keys) {
      if (indeg(a) == indeg(b)) assert(h(a)._2 == h(b)._2)
      if (indeg(a) > indeg(b)) assert(h(a)._2 > h(b)._2)
    }
  }

  test("hits: deterministic across partitionings; contract errors") {
    val edges = (1L to 25L).flatMap(u => Seq((u, (u * 13) % 25 + 1),
      ((u * 7) % 25 + 1, u)))
    assert(hitsMap(edges, parts = 1) == hitsMap(edges, parts = 9))
    intercept[IllegalArgumentException](hitsMap(edges, iters = 0))
    intercept[IllegalArgumentException](
      hitsMap(Seq.empty[(Long, Long)], iters = 1))
  }

  test("degreeStats and reciprocity: hand graph, loops/parallels collapsed") {
    val e = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 3L))
      .toDF("src", "dst")
    val d = Graph.degreeStats(e).as[(Long, Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // parallel 1→2 collapsed; self-loop 3→3 counts in both directions
    assert(d(1L) == ((2L, 1L, 3L)))
    assert(d(2L) == ((1L, 1L, 2L)))
    assert(d(3L) == ((1L, 2L, 3L)))
    val r = Graph.reciprocity(e).as[(Long, Long, Long)].collect().head
    // loops dropped: 3 edges, 1→2/2→1 reciprocated
    assert(r == ((3L, 2L, 666666L)))
  }

  private def truss(edges: Seq[(Long, Long)], k: Int, maxIter: Int = 20,
      parts: Int = 4): Set[(Long, Long)] =
    Graph.kTruss(edges.toDF("src", "dst").repartition(parts),
        k = k, maxIter = maxIter)
      .as[(Long, Long)].collect().toSet

  test("kTruss: K4 survives 4, dies at 5; pendant/bowtie pruned") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(truss(k4, 4) == k4.toSet) // every edge closes 2 triangles
    assert(truss(k4, 5).isEmpty)
    // triangle + pendant: 3-truss keeps the triangle only
    assert(truss(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L)), 3)
      == Set((1L, 2L), (2L, 3L), (1L, 3L)))
    // bowtie (two triangles sharing node 3): supports all 1 → 4-truss empty
    val bow = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
    assert(truss(bow, 4).isEmpty)
    assert(truss(bow, 3) == bow.toSet)
  }

  test("kTruss: cascading peel, brute-force parity, runaway throws") {
    // K4 plus a triangle hanging off edge (3,4): the hang edge supports
    // drop after the first peel round → cascade
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 9L), (3L, 9L))
    val r = truss(g, 4)
    assert(r == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
    // brute force on a random graph
    val edges = (for (u <- 0L until 18L; j <- 1L to 4L)
      yield (u, (u * 7 + j * j * 3) % 18)).filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    def bruteTruss(es: Set[(Long, Long)], minSup: Int): Set[(Long, Long)] = {
      val adj = (es.toSeq ++ es.toSeq.map(e => (e._2, e._1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val keep = es.filter { case (a, b) =>
        (adj.getOrElse(a, Set.empty) & adj.getOrElse(b, Set.empty))
          .size >= minSup }
      if (keep == es) es else bruteTruss(keep, minSup)
    }
    for (k <- Seq(3, 4)) {
      assert(truss(edges, k) == bruteTruss(edges.toSet, k - 2),
        s"parity at k=$k")
      assert(truss(edges, k, parts = 1) == truss(edges, k, parts = 9))
    }
    intercept[IllegalArgumentException](
      truss(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L)), 3, maxIter = 1))
  }

  test("coreNumbers: brute-force coreness parity, caps at maxK") {
    val edges = (for (u <- 0L until 40L; j <- 1L to 4L)
      yield (u, (u * 13 + j * j * 7) % 40)).filter(e => e._1 != e._2)
    val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    // brute-force coreness: peel by min degree
    val adj0 = scala.collection.mutable.Map[Long, Set[Long]]()
    canon.foreach { case (a, b) =>
      adj0(a) = adj0.getOrElse(a, Set()) + b
      adj0(b) = adj0.getOrElse(b, Set()) + a
    }
    val coreness = scala.collection.mutable.Map[Long, Long]()
    var k = 1L
    val adj = adj0.clone()
    while (adj.nonEmpty) {
      var changed = true
      while (changed) {
        val drop = adj.filter(_._2.size < k + 1).keys.toSeq
        changed = drop.nonEmpty
        drop.foreach { n =>
          coreness(n) = k
          adj(n).foreach(m => adj(m) = adj(m) - n); adj.remove(n)
        }
      }
      k += 1
    }
    val got = Graph.coreNumbers(edges.toDF("src", "dst").repartition(7),
        maxK = 20).as[(Long, Long)].collect().toMap
    assert(got == coreness.toMap)
    // capped: everything at or above the cap reports maxK
    val capped = Graph.coreNumbers(edges.toDF("src", "dst"), maxK = 2)
      .as[(Long, Long)].collect().toMap
    assert(capped == coreness.toMap.map { case (n, c) => n -> math.min(c, 2L) })
  }

  test("kCore: runaway bound throws instead of returning a non-core") {
    // a 6-chain needs 3 peel rounds for k=2 — maxIter=1 must throw
    val chain = (1L to 5L).map(i => (i, i + 1))
    intercept[IllegalArgumentException](kcore(chain, 2L, maxIter = 1))
    assert(kcore(chain, 2L).isEmpty) // and the true 2-core is empty
  }

  private def links(edges: Seq[(Long, Long)], minCommon: Long = 1L,
      maxNeighbors: Int = Int.MaxValue, parts: Int = 4): Map[(Long, Long), (Long, Long)] =
    Graph.linkPredictions(edges.toDF("src", "dst").repartition(parts),
        minCommon = minCommon, maxNeighbors = maxNeighbors)
      .select("a", "b", "cn", "jaccard_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, cn, j) => (a, b) -> ((cn, j)) }.toMap

  test("linkPredictions: resource-allocation sums exact pivot-degree ppm") {
    def ra(edges: Seq[(Long, Long)]) =
      Graph.linkPredictions(edges.toDF("src", "dst").repartition(3))
        .select("a", "b", "ra_ppm").as[(Long, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    // path 1-2-3: pivot 2 has deg 2 → ra(1,3) = 500000
    assert(ra(Seq((1L, 2L), (2L, 3L))) == Map((1L, 3L) -> 500000L))
    // square diagonals: two pivots of deg 2 each → 1000000
    assert(ra(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
      == Map((1L, 3L) -> 1000000L, (2L, 4L) -> 1000000L))
    // RA punishes hub pivots where CN can't: hub 0 (deg 8) + private
    // pivot 9 (deg 2) — (7,8) via the hub only: 125000; (1,2) via hub
    // AND pivot 9: 125000 + 500000
    val hub = (1L to 7L).map(l => (0L, l)) ++ Seq((8L, 0L), (1L, 9L), (9L, 2L))
    val r = ra(hub)
    assert(r((7L, 8L)) == 125000L)
    assert(r((1L, 2L)) == 625000L)
  }

  test("linkPredictions: path and square hand-computed, edges excluded") {
    // path 1-2-3: candidate (1,3), cn 1, jaccard 1/(1+1-1) = 1
    assert(links(Seq((1L, 2L), (2L, 3L)))
      == Map((1L, 3L) -> ((1L, 1000000L))))
    // square: diagonals share both corners, jaccard 2/(2+2-2) = 1
    assert(links(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
      == Map((1L, 3L) -> ((2L, 1000000L)), (2L, 4L) -> ((2L, 1000000L))))
    // triangle: every wedge closes into an existing edge — no candidates
    assert(links(Seq((1L, 2L), (2L, 3L), (1L, 3L))).isEmpty)
  }

  test("linkPredictions: jaccard denominator uses real degrees") {
    // 1-2-3 plus pendant 3-9: (1,3) cn 1, deg(1)=1, deg(3)=2 → 1e6 div 2
    val r = links(Seq((1L, 2L), (2L, 3L), (3L, 9L)))
    assert(r((1L, 3L)) == ((1L, 500000L)))
  }

  test("linkPredictions: minCommon filters, maxNeighbors bounds the fan-out") {
    // star: 6 leaves around hub 0 — all C(6,2)=15 leaf pairs, cn 1
    val star = (1L to 6L).map(l => (0L, l))
    assert(links(star).size == 15)
    assert(links(star, minCommon = 2L).isEmpty)
    // capped pivot: only C(3,2)=3 wedges survive, deterministically
    val capped = links(star, maxNeighbors = 3)
    assert(capped.size == 3)
    assert(capped == links(star, maxNeighbors = 3, parts = 13))
  }

  test("linkPredictions: deterministic across partitionings on a random graph") {
    val edges = (for (u <- 0L until 40L; k <- 1L to 3L)
      yield (u, (u * 13 + k * 7) % 40)).filter(e => e._1 != e._2)
    assert(links(edges, minCommon = 2L, parts = 1)
      == links(edges, minCommon = 2L, parts = 11))
  }

  /** Run `op`, compute its result, and return the ids of the RDDs it left
    * persisted beyond the checkpoints the result itself reads (the
    * PersistSpec count). Those are then released too. */
  private def leftBehind(op: => DataFrame): Set[Int] = {
    val sc = spark.sparkContext
    val mark = sc.emptyRDD[Int].id
    val out = op
    assert(out.collect().nonEmpty, "the result must still compute after the releases")
    val owned = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    val left = sc.getPersistentRDDs.keySet.filter(_ > mark).toSet -- owned
    Persist.releaseCheckpoint(out)
    left
  }

  // a pseudo-random graph plus a K5, so every core, truss and triangle
  // result is non-empty
  private def graphEdges = ((for (u <- 0L until 30L; k <- 1L to 3L)
    yield (u, (u * 11 + k * 5) % 30)).filter(e => e._1 != e._2) ++
    (for (a <- 100L to 104L; b <- a + 1 to 104L) yield (a, b))).toDF("src", "dst")

  test("pageRank, labelPropagation, kCore and shortestPaths release their superseded checkpoints") {
    val e = graphEdges
    val seeds = Seq(0L, 7L).toDF("node")
    val weighted = e.withColumn("weight", F.col("src") % 3 + 1)
    assert(leftBehind(Graph.pageRank(e, iterations = 4)).isEmpty)
    assert(leftBehind(Graph.labelPropagation(e, iterations = 4)).isEmpty)
    assert(leftBehind(Graph.kCore(e, k = 3L)).isEmpty)
    assert(leftBehind(Graph.shortestPaths(weighted, seeds)).isEmpty)
  }

  test("the other iterative graph operators release their superseded checkpoints") {
    val e = graphEdges
    val seeds = Seq(0L, 7L).toDF("node")
    val weighted = e.withColumn("weight", F.col("src") % 3 + 1)
    assert(leftBehind(Graph.personalizedPageRank(e, seeds)).isEmpty)
    assert(leftBehind(Graph.pageRankWeighted(weighted)).isEmpty)
    assert(leftBehind(Graph.hits(e)).isEmpty)
    assert(leftBehind(Graph.triangleCounts(e)).isEmpty)
    assert(leftBehind(Graph.bfsDistances(e, seeds, maxDepth = 3)).isEmpty)
    assert(leftBehind(Graph.kTruss(e, k = 3)).isEmpty)
    assert(leftBehind(Graph.coreNumbers(e, maxK = 4)).isEmpty)
  }
}

package graft.core

import org.apache.spark.sql.{DataFrame, functions => F}

/** Distributed PageRank (Brin & Page 1998) in EXACT fixed-point integer
  * arithmetic — the iterative-graph companion to the engine's
  * connected-components operator (text/Dedup.scala `connectedComponentsLS`).
  *
  * Ranks are BIGINT multiples of 1/`unit` with total mass n·unit (the
  * "per-node mass 1" convention, so no division by n appears in the
  * update). One iteration:
  *
  *   contrib(u)  = rank(u) div outdeg(u)            (integer division)
  *   dangShare   = (Σ rank over outdeg=0 nodes) div n
  *   rank'(v)    = unit·(100−d)/100
  *               + (d · (Σ_{u→v} contrib(u) + dangShare)) div 100
  *
  * Every operation is BIGINT +, ·, div — no floats anywhere — so the
  * result is independent of summation order, partitioning, and engine:
  * a SQL engine replays it cell-exactly with `//`. Floor division leaks
  * < outdeg(u) units per contribution and < 100 per node per round, a
  * relative error ≤ ~|E|/(n·unit) per iteration — at unit = 10⁶ that is
  * noise (≤ 10⁻⁴ for graphs with mean degree 100), bought for bit-exact
  * determinism that float PageRank (order-sensitive Σ of doubles) cannot
  * give on a cluster.
  *
  * Scale shape per iteration: one equi-join of ranks against the edge
  * list on src (the edge frame is persisted PRE-PARTITIONED on src once,
  * so every round's join reuses the exchange), one groupBy(dst) partial+
  * final aggregation for the incoming sums, one 1-row scalar aggregate
  * for the dangling mass (broadcast back — never collected per node),
  * and a localCheckpoint truncating the per-round lineage exactly like
  * the connected-components loop. Driver state: the node count and the
  * 1-row dangling frame — O(1) regardless of graph size.
  *
  * Overflow bound: intermediate d·(inc + share) ≤ d·n·unit must stay
  * below 2⁶³ — n < 10¹¹ nodes at the default unit 10⁶, far beyond any
  * physical graph.
  */
object Graph {

  /** PageRank over a directed edge list. Parallel edges are collapsed
    * (the classic unweighted formulation); dangling mass is redistributed
    * uniformly. Returns (node BIGINT, rank BIGINT) with rank in units of
    * 1/`unit` and Σ rank ≈ n·unit (exactly n·unit minus the documented
    * floor-division leakage).
    *
    * @param dampingPct damping factor as an integer percent (85 = the
    *   canonical 0.85) — kept rational so the update stays in BIGINT.
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iterations: Int = 3, dampingPct: Int = 85,
      unit: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct=$dampingPct")
    require(unit >= 100L, s"need unit >= 100, got $unit")
    val spark = edges.sparkSession
    // one-time normalize: collapse parallel edges, pre-partition on src so
    // each round's rank⋈edges join reuses this layout instead of
    // re-shuffling the edge list k times
    val e = edges
      .select(F.col(srcCol).cast("long").as("_src"),
        F.col(dstCol).cast("long").as("_dst"))
      .distinct()
      .repartition(F.col("_src"))
      .localCheckpoint(true)
    val outdeg = e.groupBy(F.col("_src").as("_node"))
      .agg(F.count(F.lit(1)).as("_deg"))
    val nodes = e.select(F.col("_src").as("_node"))
      .union(e.select(F.col("_dst").as("_node")))
      .distinct()
      .join(outdeg, Seq("_node"), "left")
      .select(F.col("_node"), F.coalesce(F.col("_deg"), F.lit(0L)).as("_deg"))
      .localCheckpoint(true)
    val n = nodes.count() // driver scalar: ONE long, the only collect here
    require(n > 0, "pageRank: empty graph")
    val base = unit * (100L - dampingPct) / 100L
    var ranks = nodes.withColumn("_rank", F.lit(unit)).localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val dang = ranks.filter(F.col("_deg") === 0L)
        .agg(F.coalesce(F.sum("_rank"), F.lit(0L)).as("_dangling"))
      val incoming = ranks.filter(F.col("_deg") > 0L)
        .join(e, F.col("_node") === F.col("_src"))
        .select(F.col("_dst").as("_node"),
          F.expr("_rank div _deg").as("_c"))
        .groupBy("_node").agg(F.sum("_c").as("_inc"))
      val next = nodes.join(incoming, Seq("_node"), "left")
        .crossJoin(F.broadcast(dang))
        .select(F.col("_node"), F.col("_deg"),
          (F.lit(base) + F.expr(
            s"($dampingPct * (coalesce(_inc, 0L) + (_dangling div ${n}L))) div 100"))
            .as("_rank"))
        .localCheckpoint(true)
      Persist.releaseCheckpoint(ranks) // superseded checkpoint — don't accumulate blocks
      ranks = next
    }
    val out = ranks.select(F.col("_node").as("node"), F.col("_rank").as("rank"))
    Persist.releaseCheckpoint(e, nodes)
    out
  }

  /** Personalized PageRank (Haveliwala 2002): identical exact-BIGINT
    * update to [[pageRank]], except the teleport mass and the dangling
    * redistribution land ONLY on the `seeds` set instead of uniformly —
    * ranks measure proximity to the seeds, the "related to THESE nodes"
    * primitive behind seed-based recommendation expansion and
    * topic-sensitive ranking.
    *
    *   rank'(v) = [v∈S]·(((100−d)·n·unit) div (100·s))
    *            + (d·(Σ_{u→v} contrib(u) + [v∈S]·(dangMass div s))) div 100
    *
    * (the dangling share sits INSIDE the same div-100 as the incoming
    * sum, exactly like [[pageRank]]'s update — so seeding EVERY node
    * reproduces the uniform variant term for term, spec'd as a law)
    *
    * (s = |S∩nodes|; seeds not present in the graph are ignored). All
    * arithmetic stays BIGINT +/·/div — engine-replayable cell-exactly,
    * like the uniform variant. Initial ranks are uniform (unit per node),
    * matching [[pageRank]]'s recipe; with fixed `iterations` the result
    * is fully deterministic.
    *
    * Scale: the seed set joins in as a broadcast flag (seed frames are
    * small by definition); everything else is the [[pageRank]] shape —
    * pre-partitioned edge join + one groupBy per round, O(1) driver
    * state. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node", iterations: Int = 3, dampingPct: Int = 85,
      unit: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct=$dampingPct")
    require(unit >= 100L, s"need unit >= 100, got $unit")
    val e = edges
      .select(F.col(srcCol).cast("long").as("_src"),
        F.col(dstCol).cast("long").as("_dst"))
      .distinct()
      .repartition(F.col("_src"))
      .localCheckpoint(true)
    val outdeg = e.groupBy(F.col("_src").as("_node"))
      .agg(F.count(F.lit(1)).as("_deg"))
    val seedSet = seeds.select(F.col(seedCol).cast("long").as("_node"))
      .distinct()
    val nodes = e.select(F.col("_src").as("_node"))
      .union(e.select(F.col("_dst").as("_node")))
      .distinct()
      .join(outdeg, Seq("_node"), "left")
      .join(F.broadcast(seedSet.withColumn("_isSeed", F.lit(true))),
        Seq("_node"), "left")
      .select(F.col("_node"),
        F.coalesce(F.col("_deg"), F.lit(0L)).as("_deg"),
        F.coalesce(F.col("_isSeed"), F.lit(false)).as("_isSeed"))
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "personalizedPageRank: empty graph")
    val s = nodes.filter(F.col("_isSeed")).count()
    require(s > 0, "personalizedPageRank: no seed appears in the graph")
    val baseSeed = (100L - dampingPct) * n * unit / (100L * s)
    var ranks = nodes.withColumn("_rank", F.lit(unit)).localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val dang = ranks.filter(F.col("_deg") === 0L)
        .agg(F.coalesce(F.sum("_rank"), F.lit(0L)).as("_dangling"))
      val incoming = ranks.filter(F.col("_deg") > 0L)
        .join(e, F.col("_node") === F.col("_src"))
        .select(F.col("_dst").as("_node"),
          F.expr("_rank div _deg").as("_c"))
        .groupBy("_node").agg(F.sum("_c").as("_inc"))
      val next = nodes.join(incoming, Seq("_node"), "left")
        .crossJoin(F.broadcast(dang))
        .select(F.col("_node"), F.col("_deg"), F.col("_isSeed"),
          F.when(F.col("_isSeed"),
            F.lit(baseSeed) + F.expr(
              s"($dampingPct * (coalesce(_inc, 0L) + (_dangling div ${s}L))) div 100"))
            .otherwise(F.expr(s"($dampingPct * coalesce(_inc, 0L)) div 100"))
            .as("_rank"))
        .localCheckpoint(true)
      Persist.releaseCheckpoint(ranks)
      ranks = next
    }
    val out = ranks.select(F.col("_node").as("node"), F.col("_rank").as("rank"))
    Persist.releaseCheckpoint(e, nodes)
    out
  }

  /** Weighted PageRank: [[pageRank]]'s exact-BIGINT update with each
    * out-edge carrying an integer weight — contributions split
    * proportionally, `contrib(u→v) = (rank(u)·w_uv) div W_u` where
    * `W_u = Σ w` over u's out-edges (parallel edges ADD their weights,
    * the natural multigraph reading). Dangling nodes are those with
    * W = 0; everything else is the unweighted recipe, so uniform weights
    * reproduce [[pageRank]] exactly (spec'd as a law).
    *
    * Still floats-free: the only new overflow bound is
    * rank·w ≤ n·unit·wmax < 2⁶³ — at unit 10⁶ that allows
    * n·wmax < 9·10¹² (e.g. 10⁹ nodes at weights up to ~9000).
    * Scale shape identical to [[pageRank]]: the weighted edge list is
    * collapsed and pre-partitioned ONCE (weight summing rides the same
    * groupBy that replaced `distinct`), each round is one join + one
    * groupBy + a 1-row dangling broadcast. */
  def pageRankWeighted(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", weightCol: String = "weight",
      iterations: Int = 3, dampingPct: Int = 85,
      unit: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct=$dampingPct")
    require(unit >= 100L, s"need unit >= 100, got $unit")
    val e = edges
      .select(F.col(srcCol).cast("long").as("_src"),
        F.col(dstCol).cast("long").as("_dst"),
        F.col(weightCol).cast("long").as("_w"))
      .filter(F.col("_w") > 0L)
      .groupBy("_src", "_dst").agg(F.sum("_w").as("_w"))
      .repartition(F.col("_src"))
      .localCheckpoint(true)
    val outw = e.groupBy(F.col("_src").as("_node"))
      .agg(F.sum("_w").as("_ow"))
    val nodes = e.select(F.col("_src").as("_node"))
      .union(e.select(F.col("_dst").as("_node")))
      .distinct()
      .join(outw, Seq("_node"), "left")
      .select(F.col("_node"), F.coalesce(F.col("_ow"), F.lit(0L)).as("_ow"))
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "pageRankWeighted: empty graph")
    val base = unit * (100L - dampingPct) / 100L
    var ranks = nodes.withColumn("_rank", F.lit(unit)).localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val dang = ranks.filter(F.col("_ow") === 0L)
        .agg(F.coalesce(F.sum("_rank"), F.lit(0L)).as("_dangling"))
      val incoming = ranks.filter(F.col("_ow") > 0L)
        .join(e, F.col("_node") === F.col("_src"))
        .select(F.col("_dst").as("_node"),
          F.expr("(_rank * _w) div _ow").as("_c"))
        .groupBy("_node").agg(F.sum("_c").as("_inc"))
      val next = nodes.join(incoming, Seq("_node"), "left")
        .crossJoin(F.broadcast(dang))
        .select(F.col("_node"), F.col("_ow"),
          (F.lit(base) + F.expr(
            s"($dampingPct * (coalesce(_inc, 0L) + (_dangling div ${n}L))) div 100"))
            .as("_rank"))
        .localCheckpoint(true)
      Persist.releaseCheckpoint(ranks)
      ranks = next
    }
    val out = ranks.select(F.col("_node").as("node"), F.col("_rank").as("rank"))
    Persist.releaseCheckpoint(e, nodes)
    out
  }

  /** HITS hubs & authorities (Kleinberg 1999) in the same EXACT BIGINT
    * fixed-point arithmetic as [[pageRank]] — good hubs point at good
    * authorities, good authorities are pointed at by good hubs:
    *
    *   authRaw(v) = Σ_{u→v} hub(u)     auth(v) = authRaw(v) div sA
    *   hubRaw(u)  = Σ_{u→v} auth(v)    hub(u)  = hubRaw(u)  div sH
    *
    * where the classic L2 renormalization (a square root — not exactly
    * replayable in integer arithmetic) is replaced by L1: each half-step
    * rescales its scores back to total mass ≈ n·unit with
    * `s = max(1, Σraw div (n·unit))` — a pure BIGINT div, so rankings are
    * identical to the float recursion's (normalization never reorders)
    * and every cell is engine-replayable with `//`. Floor leakage is
    * < 1 unit per node per half-step, the [[pageRank]] contract.
    *
    * Scale shape per iteration: two equi-joins of the score frame against
    * the edge list (persisted pre-partitioned on src AND on dst once, so
    * both half-steps reuse their exchange across rounds), two
    * groupBy partial+final aggregations, two 1-row scalar aggregates
    * broadcast back. Driver state: the node count — O(1).
    *
    * Overflow contract: a raw sum is < n · (n·unit) so n²·unit must stay
    * below 2⁶³ — n < 3·10⁶ nodes at the default unit 10⁶ (drop `unit`
    * for bigger graphs; ranking precision degrades gracefully).
    *
    * Returns (node, hub_units, auth_units): nodes with no out-edges have
    * hub 0, nodes with no in-edges auth 0. */
  def hits(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iterations: Int = 2, unit: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    require(unit >= 100L, s"need unit >= 100, got $unit")
    val e0 = edges
      .select(F.col(srcCol).cast("long").as("_src"),
        F.col(dstCol).cast("long").as("_dst"))
      .distinct()
    val eBySrc = e0.repartition(F.col("_src")).localCheckpoint(true)
    val eByDst = e0.repartition(F.col("_dst")).localCheckpoint(true)
    val nodes = eBySrc.select(F.col("_src").as("_node"))
      .union(eBySrc.select(F.col("_dst").as("_node")))
      .distinct()
      .localCheckpoint(true)
    val n = nodes.count() // driver scalar: ONE long
    require(n > 0, "hits: empty graph")
    val mass = n * unit
    // rescale raw scores back to total mass ≈ n·unit; max(1,·) keeps the
    // degenerate all-zero half-step (possible only on an empty edge set,
    // excluded above) from dividing by 0 and never scales UP
    def renorm(raw: DataFrame, outCol: String): DataFrame = {
      val s = raw.agg(F.coalesce(F.sum("_raw"), F.lit(0L)).as("_tot"))
      nodes.join(raw, Seq("_node"), "left")
        .crossJoin(F.broadcast(s))
        .select(F.col("_node"), F.expr(
          s"coalesce(_raw, 0L) div greatest(1L, _tot div ${mass}L)")
          .as(outCol))
        .localCheckpoint(true)
    }
    var hubs = nodes.withColumn("_hub", F.lit(unit)).localCheckpoint(true)
    var auths: DataFrame = null
    for (_ <- 1 to iterations) {
      val authRaw = hubs.join(eBySrc, F.col("_node") === F.col("_src"))
        .select(F.col("_dst").as("_n2"), F.col("_hub"))
        .groupBy(F.col("_n2").as("_node")).agg(F.sum("_hub").as("_raw"))
      val nextAuths = renorm(authRaw, "_auth")
      if (auths != null) Persist.releaseCheckpoint(auths)
      auths = nextAuths
      val hubRaw = auths.join(eByDst, F.col("_node") === F.col("_dst"))
        .select(F.col("_src").as("_n2"), F.col("_auth"))
        .groupBy(F.col("_n2").as("_node")).agg(F.sum("_auth").as("_raw"))
      val nextHubs = renorm(hubRaw, "_hub")
      Persist.releaseCheckpoint(hubs)
      hubs = nextHubs
    }
    val out = hubs.join(auths, Seq("_node"))
      .select(F.col("_node").as("node"), F.col("_hub").as("hub_units"),
        F.col("_auth").as("auth_units"))
    Persist.releaseCheckpoint(eBySrc, eByDst, nodes)
    out
  }

  /** Per-node degree triple over a directed edge list (parallel edges
    * collapsed): (node, out_deg, in_deg, degree). Two |E|-sized
    * aggregations + one outer merge; the first question asked of any new
    * graph (skew: is there a celebrity node that will break the wedge
    * joins?). */
  def degreeStats(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(F.col(srcCol).cast("long").as("_src"),
      F.col(dstCol).cast("long").as("_dst")).distinct()
    val out = e.groupBy(F.col("_src").as("node"))
      .agg(F.count(F.lit(1)).as("out_deg"))
    val in = e.groupBy(F.col("_dst").as("node"))
      .agg(F.count(F.lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(F.col("node"),
        F.coalesce(F.col("out_deg"), F.lit(0L)).as("out_deg"),
        F.coalesce(F.col("in_deg"), F.lit(0L)).as("in_deg"))
      .withColumn("degree", F.col("out_deg") + F.col("in_deg"))
  }

  /** Directed-graph reciprocity: the ppm share of (collapsed, non-loop)
    * edges whose reverse edge also exists — near 0 for broadcast-shaped
    * graphs (follower fan-out), near 10⁶ for conversation-shaped ones.
    * One self-semi-join on the edge set. Returns one row
    * (edges, reciprocated, reciprocity_ppm). */
  def reciprocity(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(F.col(srcCol).cast("long").as("_src"),
      F.col(dstCol).cast("long").as("_dst"))
      .filter(F.col("_src") =!= F.col("_dst")).distinct()
    val rev = e.select(F.col("_dst").as("_src"), F.col("_src").as("_dst"))
    val recip = e.join(rev, Seq("_src", "_dst"), "left_semi")
      .agg(F.count(F.lit(1)).as("reciprocated"))
    e.agg(F.count(F.lit(1)).as("edges"))
      .crossJoin(F.broadcast(recip))
      .withColumn("reciprocity_ppm",
        F.when(F.col("edges") > 0L,
          F.expr("(reciprocated * 1000000) div edges")).otherwise(0L))
  }

  /** Canonical undirected simple edge list: self-loops dropped, both
    * orientations collapsed to (lo, hi), duplicates removed. Node ids must
    * be non-negative and < 2³¹ so a (degree, id) total order packs into
    * one BIGINT (`deg·2³¹ + id`) that any SQL engine rebuilds exactly. */
  private def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val a = F.col(srcCol).cast("long")
    val b = F.col(dstCol).cast("long")
    edges.filter(a =!= b)
      .select(F.least(a, b).as("_a"), F.greatest(a, b).as("_b"))
      .distinct()
  }

  /** Exact triangle counting + local clustering coefficient via the
    * degree-ordered edge-iterator (Schank & Wagner 2005; the MapReduce
    * shape of Suri & Vassilvitskii 2011): orient every canonical edge
    * from the (degree, id)-smaller endpoint to the larger, enumerate
    * wedges only at each edge's SMALLER endpoint, and close them with one
    * hash-equi semi-join against the oriented edge set. Orientation bounds
    * each node's oriented out-degree by O(√m), so total wedge rows are
    * O(m^1.5) worst-case — the classic bound — instead of Σ deg² (a
    * single celebrity node would otherwise generate |followers|² wedges).
    *
    * Everything is integer: degrees, the packed order key
    * `deg·2³¹ + id`, triangle counts, and the fixed-point clustering
    * coefficient `lcc_ppm = (2·tri·10⁶) div (deg·(deg−1))` — cell-exact
    * in any engine, no floats anywhere.
    *
    * Scale shape: distinct + two degree joins + ONE wedge self-join on
    * the smaller endpoint + one (a,b) equi semi-join + one explode-free
    * 3-column union groupBy. No driver state beyond Spark's own plan.
    * Returns (node, degree, triangles, lcc_ppm) for every node of the
    * undirected graph. */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint(true)
    val deg = e.select(F.col("_a").as("_node"))
      .union(e.select(F.col("_b").as("_node")))
      .groupBy("_node").agg(F.count(F.lit(1)).as("_deg"))
      .localCheckpoint(true)
    // packed total order: okey(v) = deg(v)·2^31 + v  (ids < 2^31 by contract)
    val okey = (n: String, d: String) =>
      F.col(d) * F.lit(2147483648L) + F.col(n)
    val withK = e
      .join(deg.select(F.col("_node").as("_a"), F.col("_deg").as("_da")), Seq("_a"))
      .join(deg.select(F.col("_node").as("_b"), F.col("_deg").as("_db")), Seq("_b"))
      .select(F.col("_a"), F.col("_b"),
        okey("_a", "_da").as("_ka"), okey("_b", "_db").as("_kb"))
    // oriented: lo = order-smaller endpoint, hi = larger
    val oriented = withK.select(
      F.when(F.col("_ka") < F.col("_kb"), F.col("_a")).otherwise(F.col("_b")).as("_lo"),
      F.when(F.col("_ka") < F.col("_kb"), F.col("_b")).otherwise(F.col("_a")).as("_hi"),
      F.when(F.col("_ka") < F.col("_kb"), F.col("_kb")).otherwise(F.col("_ka")).as("_khi"))
      .localCheckpoint(true)
    // wedges at the pivot lo: out-neighbor pairs ordered by okey; the
    // closing edge, if present, is oriented v -> w (v = order-smaller)
    val l = oriented.select(F.col("_lo").as("_p"), F.col("_hi").as("_v"),
      F.col("_khi").as("_kv"))
    val r = oriented.select(F.col("_lo").as("_p"), F.col("_hi").as("_w"),
      F.col("_khi").as("_kw"))
    val wedges = l.join(r, Seq("_p")).filter(F.col("_kv") < F.col("_kw"))
    val closed = wedges.join(
      oriented.select(F.col("_lo").as("_v"), F.col("_hi").as("_w")),
      Seq("_v", "_w"), "left_semi")
      .localCheckpoint(true)
    Persist.releaseCheckpoint(e, oriented)
    val perNode = closed.select(F.col("_p").as("_node"))
      .union(closed.select(F.col("_v").as("_node")))
      .union(closed.select(F.col("_w").as("_node")))
      .groupBy("_node").agg(F.count(F.lit(1)).as("_tri"))
    val out = deg.join(perNode, Seq("_node"), "left")
      .select(F.col("_node").as("node"), F.col("_deg").as("degree"),
        F.coalesce(F.col("_tri"), F.lit(0L)).as("triangles"),
        F.when(F.col("_deg") >= 2L,
          F.expr("(2 * coalesce(_tri, 0L) * 1000000) div (_deg * (_deg - 1))"))
          .otherwise(F.lit(0L)).as("lcc_ppm"))
    out
  }

  /** Deterministic synchronous label propagation (Raghavan et al. 2007,
    * made engine-replayable): labels start as node ids; each round every
    * node adopts the most frequent label among its NEIGHBORS, ties broken
    * toward the smallest label — the argmax is the single BIGINT
    * aggregate `max_by(label, cnt·2³¹ − label)` (labels are node ids
    * < 2³¹ by the same contract as [[triangleCounts]]), so a SQL engine
    * unrolls the rounds cell-exactly. Classic async LPA is
    * visit-order-dependent; the synchronous variant with a fixed
    * `iterations` and integer tie-breaks is a pure function of the edge
    * set — reproducible across partitionings and engines (the price:
    * bipartite structures can oscillate rather than converge, which fixed
    * iterations make deterministic too).
    *
    * Scale shape per round: one equi-join of the label frame against the
    * symmetrized edge list (persisted pre-partitioned on _nbr once) + one
    * (node, label) count groupBy + one per-node max_by groupBy;
    * localCheckpoint truncates lineage like [[pageRank]]. Driver state:
    * none. Returns (node, community). */
  def labelPropagation(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iterations: Int = 4): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    val c = canonicalEdges(edges, srcCol, dstCol)
    // symmetrize: one row per (node, neighbor) direction, keyed on _nbr so
    // each round's label⋈edges join reuses the layout
    val adj = c.select(F.col("_a").as("_node"), F.col("_b").as("_nbr"))
      .union(c.select(F.col("_b").as("_node"), F.col("_a").as("_nbr")))
      .repartition(F.col("_nbr"))
      .localCheckpoint(true)
    var labels = adj.select(F.col("_node")).distinct()
      .select(F.col("_node"), F.col("_node").as("_label"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val next = adj
        .join(labels.select(F.col("_node").as("_nbr"), F.col("_label")),
          Seq("_nbr"))
        .groupBy(F.col("_node"), F.col("_label"))
        .agg(F.count(F.lit(1)).as("_cnt"))
        .groupBy(F.col("_node"))
        .agg(F.max_by(F.col("_label"),
          F.col("_cnt") * F.lit(2147483648L) - F.col("_label")).as("_label"))
        .localCheckpoint(true)
      Persist.releaseCheckpoint(labels)
      labels = next
    }
    val out = labels.select(F.col("_node").as("node"),
      F.col("_label").as("community"))
    Persist.releaseCheckpoint(adj)
    out
  }

  /** k-core decomposition (Seidman 1983) by iterative peeling: drop every
    * node with degree < k, recompute degrees on the induced subgraph,
    * repeat to the EXACT fixpoint — the surviving maximal subgraph where
    * every node keeps ≥ k neighbors. The standard dense-community /
    * spam-farm / engagement-tier primitive.
    *
    * Peel rounds are bounded by the peeling depth of the graph (single
    * digits on real co-occurrence graphs — NOT diameter-many); each
    * round is one degree groupBy + two semi-joins of the shrinking edge
    * set, lineage truncated per round like [[pageRank]]'s loop. Driver
    * state: one survivor count per round (the fixpoint test).
    * `maxIter` is a runaway bound — hitting it without convergence
    * throws rather than returning a non-core (the CC-LS contract).
    * Returns (node, degree) of the k-core (degree WITHIN the core). */
  def kCore(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      k: Long = 3L, maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxIter >= 1, s"need maxIter >= 1, got $maxIter")
    var e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint(true)
    var nAlive = -1L
    var converged = false
    var it = 0
    var deg: DataFrame = null
    while (!converged && it < maxIter) {
      it += 1
      if (deg != null) Persist.releaseCheckpoint(deg)
      deg = e.select(F.col("_a").as("_node"))
        .union(e.select(F.col("_b").as("_node")))
        .groupBy("_node").agg(F.count(F.lit(1)).as("_deg"))
        .localCheckpoint(true)
      val keep = deg.filter(F.col("_deg") >= k)
      val n = keep.count()
      if (n == nAlive) converged = true
      else {
        nAlive = n
        val next = e
          .join(keep.select(F.col("_node").as("_a")), Seq("_a"), "left_semi")
          .join(keep.select(F.col("_node").as("_b")), Seq("_b"), "left_semi")
          .localCheckpoint(true)
        Persist.releaseCheckpoint(e)
        e = next
      }
    }
    Persist.releaseCheckpoint(e)
    require(converged, s"kCore: no fixpoint after $maxIter rounds")
    val out = deg.filter(F.col("_deg") >= k)
      .select(F.col("_node").as("node"), F.col("_deg").as("degree"))
    out
  }

  /** Multi-source BFS on the undirected graph: exact hop distance from
    * the nearest seed, up to `maxDepth` (unreached nodes are absent —
    * the caller decides whether absence means "far" or "disconnected").
    * The frontier-expansion shape of every "within k hops of a known-bad
    * account" / "blast radius" query: per round ONE equi-join of the
    * CURRENT frontier against the symmetrized edge list + one anti-join
    * against the settled set + a min-distance groupBy — work ∝ frontier
    * size, rounds = maxDepth (never diameter-many unless asked).
    * Deterministic by construction (hop counts, no tie-breaks needed).
    * Returns (node, distance) with distance ∈ [0, maxDepth]. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node", maxDepth: Int = 6): DataFrame = {
    require(maxDepth >= 0, s"need maxDepth >= 0, got $maxDepth")
    val c = canonicalEdges(edges, srcCol, dstCol)
    val adj = c.select(F.col("_a").as("_node"), F.col("_b").as("_nbr"))
      .union(c.select(F.col("_b").as("_node"), F.col("_a").as("_nbr")))
      .repartition(F.col("_node"))
      .localCheckpoint(true)
    val nodes = adj.select("_node").distinct()
    var settled = nodes
      .join(seeds.select(F.col(seedCol).cast("long").as("_node")).distinct(),
        Seq("_node"), "left_semi")
      .select(F.col("_node"), F.lit(0L).as("_dist"))
      .localCheckpoint(true)
    var frontier = settled
    var depth = 0
    while (depth < maxDepth) {
      depth += 1
      val next = frontier
        .join(adj, Seq("_node"))
        .select(F.col("_nbr").as("_node"))
        .distinct()
        .join(settled, Seq("_node"), "left_anti")
        .select(F.col("_node"), F.lit(depth.toLong).as("_dist"))
        .localCheckpoint(true)
      if (next.isEmpty) { // converged: stop expanding
        depth = maxDepth
        Persist.releaseCheckpoint(next)
      } else {
        val grown = settled.unionAll(next).localCheckpoint(true)
        if (frontier ne settled) Persist.releaseCheckpoint(frontier)
        Persist.releaseCheckpoint(settled)
        settled = grown
        frontier = next
      }
    }
    if (frontier ne settled) Persist.releaseCheckpoint(frontier)
    Persist.releaseCheckpoint(adj)
    settled.select(F.col("_node").as("node"), F.col("_dist").as("distance"))
  }

  /** Multi-source WEIGHTED shortest paths (distributed Bellman–Ford) on
    * the undirected graph: exact minimum cost from the nearest seed over
    * positive integer edge weights. Per round ONE relax join
    * (dist ⋈ adjacency, candidate = dist + w) unioned with the current
    * distances and min-grouped; the fixpoint test is two monotone
    * scalars (reached-count strictly grows, total distance strictly
    * shrinks on any change — equal pairs ⟺ converged). Rounds needed =
    * the hop length of the longest useful shortest path (11/15 on the
    * gate graphs), never |V|; `maxIter` is the runaway bound and
    * exhausting it throws (the kCore contract). All BIGINT. Unreached
    * nodes absent. Returns (node, distance). */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "weight", seedCol: String = "node",
      maxIter: Int = 30): DataFrame = {
    require(maxIter >= 1, s"need maxIter >= 1, got $maxIter")
    val e = edges
      .select(F.col(srcCol).cast("long").as("_a"),
        F.col(dstCol).cast("long").as("_b"),
        F.col(weightCol).cast("long").as("_w"))
      .filter(F.col("_a") =!= F.col("_b") && F.col("_w") > 0L)
      .groupBy("_a", "_b").agg(F.min("_w").as("_w"))
    val adj = e.select(F.col("_a").as("_node"), F.col("_b").as("_nbr"), F.col("_w"))
      .union(e.select(F.col("_b").as("_node"), F.col("_a").as("_nbr"), F.col("_w")))
      .repartition(F.col("_node"))
      .localCheckpoint(true)
    var dist = adj.select("_node").distinct()
      .join(seeds.select(F.col(seedCol).cast("long").as("_node")).distinct(),
        Seq("_node"), "left_semi")
      .select(F.col("_node"), F.lit(0L).as("_d"))
      .localCheckpoint(true)
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(F.count(F.lit(1)), F.coalesce(F.sum("_d"), F.lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var fp = fingerprint(dist)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      it += 1
      val relaxed = dist.join(adj, Seq("_node"))
        .select(F.col("_nbr").as("_node"), (F.col("_d") + F.col("_w")).as("_d"))
      val next = dist.unionAll(relaxed)
        .groupBy("_node").agg(F.min("_d").as("_d"))
        .localCheckpoint(true)
      val nfp = fingerprint(next)
      if (nfp == fp) { converged = true; Persist.releaseCheckpoint(next) }
      else { fp = nfp; Persist.releaseCheckpoint(dist); dist = next }
    }
    require(converged, s"shortestPaths: no fixpoint after $maxIter rounds")
    Persist.releaseCheckpoint(adj)
    dist.select(F.col("_node").as("node"), F.col("_d").as("distance"))
  }

  /** k-truss decomposition (Cohen 2008) — the triangle-grade community
    * core one tier denser than [[kCore]]: the maximal subgraph in which
    * EVERY surviving edge closes ≥ k−2 triangles with other surviving
    * edges. Per round: per-edge support via the degree-ordered oriented
    * wedge join (the [[triangleCounts]] O(m^1.5) enumeration, so a
    * celebrity node cannot explode it), each closed triangle crediting
    * its three canonical edges, then one filter; the fixpoint test is
    * the monotone surviving-edge count (equal ⟺ nothing dropped).
    * Rounds = peeling depth (single digits on real graphs); exhausting
    * `maxIter` throws rather than returning a non-truss (the kCore
    * contract). Every step is BIGINT joins/counts — a SQL engine replays
    * rounds idempotently. Returns the surviving canonical edges
    * (a < b). */
  def kTruss(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", k: Int = 4, maxIter: Int = 20): DataFrame = {
    require(k >= 3, s"need k >= 3, got $k")
    require(maxIter >= 1, s"need maxIter >= 1, got $maxIter")
    val minSup = k - 2L
    var e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint(true)
    var n = e.count()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      it += 1
      val deg = e.select(F.col("_a").as("_n"))
        .union(e.select(F.col("_b").as("_n")))
        .groupBy("_n").agg(F.count(F.lit(1)).as("_d"))
      val oriented = e
        .join(deg.select(F.col("_n").as("_a"), F.col("_d").as("_da")),
          Seq("_a"))
        .join(deg.select(F.col("_n").as("_b"), F.col("_d").as("_db")),
          Seq("_b"))
        .select(F.col("_a"), F.col("_b"),
          F.expr("_da * 2147483648L + _a").as("_ka"),
          F.expr("_db * 2147483648L + _b").as("_kb"))
        .select(
          F.when(F.col("_ka") < F.col("_kb"), F.col("_a"))
            .otherwise(F.col("_b")).as("_u"),
          F.when(F.col("_ka") < F.col("_kb"), F.col("_b"))
            .otherwise(F.col("_a")).as("_v"),
          F.greatest(F.col("_ka"), F.col("_kb")).as("_kv"))
        .localCheckpoint(true)
      val tri = oriented
        .select(F.col("_u"), F.col("_v").as("_x"), F.col("_kv").as("_kx"))
        .join(oriented.select(F.col("_u"), F.col("_v").as("_y"),
          F.col("_kv").as("_ky")), Seq("_u"))
        .filter(F.col("_kx") < F.col("_ky"))
        .join(oriented.select(F.col("_u").as("_x"), F.col("_v").as("_y")),
          Seq("_x", "_y"), "left_semi")
      val sup = tri.select(F.least(F.col("_u"), F.col("_x")).as("_a"),
          F.greatest(F.col("_u"), F.col("_x")).as("_b"))
        .unionAll(tri.select(F.least(F.col("_u"), F.col("_y")).as("_a"),
          F.greatest(F.col("_u"), F.col("_y")).as("_b")))
        .unionAll(tri.select(F.least(F.col("_x"), F.col("_y")).as("_a"),
          F.greatest(F.col("_x"), F.col("_y")).as("_b")))
        .groupBy("_a", "_b").agg(F.count(F.lit(1)).as("_sup"))
      val next = e.join(sup, Seq("_a", "_b"), "left")
        .filter(F.coalesce(F.col("_sup"), F.lit(0L)) >= minSup)
        .select("_a", "_b").localCheckpoint(true)
      val n2 = next.count()
      if (n2 == n) converged = true
      Persist.releaseCheckpoint(e, oriented)
      e = next; n = n2
    }
    require(converged, s"kTruss: no fixpoint after $maxIter rounds")
    e.select(F.col("_a").as("a"), F.col("_b").as("b"))
  }

  /** Full coreness decomposition up to `maxK`: coreness(v) = the largest
    * k ≤ maxK with v in the k-core, computed by successive [[kCore]]
    * peels — k levels × peeling-depth rounds of tiny joins, the
    * textbook distributed approach (exact peel-by-minimum-degree is
    * inherently sequential). Nodes in the (maxK)-core report
    * `coreness = maxK` (capped — the caller picks the resolution the
    * downstream tiering needs). Returns (node, coreness ≥ 1) for every
    * node of the graph. */
  def coreNumbers(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxK: Int = 8, maxIter: Int = 30): DataFrame = {
    require(maxK >= 1, s"need maxK >= 1, got $maxK")
    val e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint(true)
    val all = e.select(F.col("_a").as("node"))
      .union(e.select(F.col("_b").as("node"))).distinct()
    var out = all.select(F.col("node"), F.lit(1L).as("coreness"))
    // peel incrementally: the k-core lives inside the (k−1)-core, so each
    // level peels the PREVIOUS level's induced subgraph, not the input
    var cur = e
    var k = 2
    var exhausted = false
    while (k <= maxK && !exhausted) {
      val peel = kCore(cur, "_a", "_b", k.toLong, maxIter)
      val core = peel.select(F.col("node"), F.lit(k.toLong).as("_k"))
        .localCheckpoint(true)
      Persist.releaseCheckpoint(peel)
      if (core.isEmpty) exhausted = true
      else {
        val nextOut = out.join(core, Seq("node"), "left")
          .select(F.col("node"),
            F.coalesce(F.col("_k"), F.col("coreness")).as("coreness"))
          .localCheckpoint(true)
        if (k > 2) Persist.releaseCheckpoint(out) // a checkpoint once a level has peeled
        out = nextOut
        val nextCur = cur
          .join(core.select(F.col("node").as("_a")), Seq("_a"), "left_semi")
          .join(core.select(F.col("node").as("_b")), Seq("_b"), "left_semi")
          .localCheckpoint(true)
        Persist.releaseCheckpoint(cur) // at k = 2 this is e, which out no longer reads
        cur = nextCur
      }
      Persist.releaseCheckpoint(core)
      k += 1
    }
    // with no level peeled, out is still planned on e
    if (cur ne e) Persist.releaseCheckpoint(cur)
    out
  }

  /** Common-neighbors / Jaccard link prediction (Liben-Nowell & Kleinberg
    * 2003): for every NON-edge pair (a, b) with at least `minCommon`
    * shared neighbors, the shared-neighbor count and the fixed-point
    * Jaccard score `cn·10⁶ div (deg(a) + deg(b) − cn)` — the classic
    * "people you may know" / "frequently bought with" candidate
    * generator. All integers, engine-replayable.
    *
    * Scale shape: candidate pairs come from ONE wedge self-join of the
    * adjacency list on the pivot (Σ C(deg,2) rows — that IS the candidate
    * set, there is no cheaper exact enumeration), then one groupBy(a,b),
    * one anti-join against the edge set, one degree join. For graphs with
    * celebrity hubs, `maxNeighbors` caps each pivot's fan-out to a
    * deterministic portable-hash-ranked neighbor subset BEFORE the wedge
    * join (the ItemKNN maxUserHistory contract transplanted): counts
    * become a documented underestimate but the quadratic term is bounded
    * by maxNeighbors²·|nodes|. Jaccard denominators always use the REAL
    * degrees. */
  def linkPredictions(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", minCommon: Long = 1L,
      maxNeighbors: Int = Int.MaxValue): DataFrame = {
    require(minCommon >= 1, s"need minCommon >= 1, got $minCommon")
    require(maxNeighbors >= 2, s"need maxNeighbors >= 2, got $maxNeighbors")
    val e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint(true)
    val deg = e.select(F.col("_a").as("_node"))
      .union(e.select(F.col("_b").as("_node")))
      .groupBy("_node").agg(F.count(F.lit(1)).as("_deg"))
    val adjAll = e.select(F.col("_a").as("_p"), F.col("_b").as("_n"))
      .union(e.select(F.col("_b").as("_p"), F.col("_a").as("_n")))
    val adj =
      if (maxNeighbors == Int.MaxValue) adjAll
      else adjAll
        .withColumn("_rk", F.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("_p")
            .orderBy(PortableHash.long(17L, F.col("_n")), F.col("_n"))))
        .filter(F.col("_rk") <= maxNeighbors).drop("_rk")
    // pivot degree rides the wedge so the resource-allocation index
    // (Zhou et al. 2009 — Σ_z 1/deg(z) over shared neighbors z, the
    // log-free cousin of Adamic–Adar) accumulates as exact ppm floors
    val adjDeg = adj.join(
      deg.select(F.col("_node").as("_p"), F.col("_deg").as("_pdeg")),
      Seq("_p"))
    val wedges = adjDeg.select(F.col("_p"), F.col("_pdeg"),
        F.col("_n").as("_x"))
      .join(adjDeg.select(F.col("_p"), F.col("_n").as("_y")), Seq("_p"))
      .filter(F.col("_x") < F.col("_y"))
    val cn = wedges.groupBy(F.col("_x"), F.col("_y"))
      .agg(F.count(F.lit(1)).as("cn"),
        F.sum(F.expr("1000000 div _pdeg")).as("ra_ppm"))
      .filter(F.col("cn") >= minCommon)
      .join(e, F.col("_x") === F.col("_a") && F.col("_y") === F.col("_b"),
        "left_anti")
    cn.join(deg.select(F.col("_node").as("_x"), F.col("_deg").as("_dx")), Seq("_x"))
      .join(deg.select(F.col("_node").as("_y"), F.col("_deg").as("_dy")), Seq("_y"))
      .select(F.col("_x").as("a"), F.col("_y").as("b"), F.col("cn"),
        F.expr("(cn * 1000000) div (_dx + _dy - cn)").as("jaccard_ppm"),
        F.col("ra_ppm"))
  }
}

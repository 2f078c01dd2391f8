package graft.models

import java.nio.file.Files

import graft.SparkSpec
import graft.core.Ops
import org.apache.spark.sql.{DataFrame, functions => F}

/** NeighbourRec predict (one exchange, one scoring pass over the
  * broadcast adjacency) against the anti-join plan, and the release of
  * predict scratch frames. */
class NeighbourPredictSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced predict plan, written out: history ⋈ similarity, sum per
    * (query, candidate), `left_anti` against the distinct history, top-k. */
  private def oldPredict(m: NeighbourRec, log: DataFrame, k: Int,
      queries: DataFrame, filterSeen: Boolean, items: Option[DataFrame]): DataFrame = {
    val history = log.join(queries, Seq("query_id"), "left_semi")
    val sim = items.map(it => m.similarity.join(
      it.select(F.col("item_id").as("item_two")).distinct(),
      Seq("item_two"), "left_semi")).getOrElse(m.similarity)
    var recs = history.select(F.col("query_id"), F.col("item_id"))
      .join(sim, F.col("item_id") === F.col("item_one"))
      .groupBy(F.col("query_id"), F.col("item_two").as("item_id"))
      .agg(F.round(F.sum("similarity"), 9).as("rating"))
    if (filterSeen)
      recs = recs.join(history.select("query_id", "item_id").distinct(),
        Seq("query_id", "item_id"), "left_anti")
    Ops.getTopKRecs(recs, k, "query_id", "item_id", "rating")
  }

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(F.col("query_id").cast("long"), F.col("item_id").cast("long"),
      F.col("rating")).as[(Long, Long, Double)].collect().toSet

  // user 9 asks but has no history; users 1 and 3 buy items again
  private val queries = (1L to 9L).toDF("query_id")

  /** Every (k, filterSeen, items) combination gives the old plan's rows.
    * k = 50 is above every user's candidate count; the narrow restriction
    * (with an item no model knows) leaves out some user's unrestricted top
    * k = 1. */
  private def assertSameAsOldPlan(m: NeighbourRec, log: DataFrame, what: String): Unit = {
    val restrict = Seq(10L, 12L, 14L, 15L, 17L).toDF("item_id")
    val narrow = Seq(13L, 16L, 99L).toDF("item_id")
    val top1 = triples(m.predict(log, 1, Some(queries))).map(r => r._2)
    assert(top1.exists(i => i != 13L && i != 16L), s"$what: vacuous narrow restriction")
    for (k <- Seq(1, 2, 50); filterSeen <- Seq(true, false);
         items <- Seq(None, Some(restrict), Some(narrow))) {
      val got = triples(m.predict(log, k, Some(queries), filterSeen, items))
      val want = triples(oldPredict(m, log, k, queries, filterSeen, items))
      assert(want.nonEmpty, s"$what: vacuous fixture")
      assert(got == want, s"$what k=$k filterSeen=$filterSeen items=${items.isDefined}:" +
        s"\n got  ${got.toSeq.sorted.mkString(" ")}\n want ${want.toSeq.sorted.mkString(" ")}")
    }
  }

  private def log = Seq(
    (1L, 10L), (1L, 11L), (1L, 12L), (1L, 10L), (1L, 10L),
    (2L, 10L), (2L, 13L), (2L, 14L),
    (3L, 11L), (3L, 12L), (3L, 15L), (3L, 15L),
    (4L, 12L), (4L, 13L), (4L, 16L),
    (5L, 10L), (5L, 14L), (5L, 16L), (5L, 17L),
    (6L, 11L), (6L, 13L), (6L, 17L),
    (7L, 15L), (7L, 16L), (7L, 17L), (7L, 10L),
    (8L, 18L),
  ).map { case (q, i) => (q, i, 1.0, s"s$q") }
    .toDF("query_id", "item_id", "rating", "session_id")

  test("ItemKNN predict equals the anti-join plan: full fit and fitFromStats") {
    val full = new ItemKNN(numNeighbours = 3).fit(log)
    assertSameAsOldPlan(full, log, "ItemKNN.fit")
    val probe = new ItemKNN(numNeighbours = 3)
    val (pairs, dfs) = ItemKNN.mergeStats(
      probe.coStats(log.filter($"query_id" <= 4)), probe.coStats(log.filter($"query_id" > 4)))
    assertSameAsOldPlan(new ItemKNN(numNeighbours = 3).fitFromStats(pairs, dfs), log,
      "ItemKNN.fitFromStats")
    // the default query set is the fit users
    assert(triples(full.predict(log, 3)) ==
      triples(oldPredict(full, log, 3, full.fitQueries, filterSeen = true, None)))
  }

  test("ContentKNN, AssociationRules and EASE predict equal the anti-join plan") {
    val feats = Seq(
      (10L, "a"), (10L, "b"), (11L, "a"), (12L, "b"), (12L, "c"), (13L, "c"),
      (14L, "a"), (14L, "c"), (15L, "d"), (16L, "d"), (16L, "b"), (17L, "a"), (18L, "e"),
    ).toDF("item_id", "feature")
    assertSameAsOldPlan(new ContentKNN(numNeighbours = 3).fitFeatures(feats), log, "ContentKNN")
    val rules = new AssociationRules(minItemCount = 1, minPairCount = 1, numNeighbours = 3)
    assertSameAsOldPlan(rules.fit(log), log, "AssociationRules")
    assertSameAsOldPlan(new Ease(lambda = 2.0).fit(log), log, "Ease")
  }

  test("a loaded ItemKNN equals the anti-join plan, also for a seen item with no neighbours") {
    // 19 has no neighbours of its own but is a candidate through 10 and
    // 14; users 1, 2 and 7 have it in their history, user 5 has not
    val handMade = new ItemKNN()
    handMade.similarity = Seq(
      (10L, 11L, 0.5), (10L, 19L, 0.75), (11L, 10L, 0.5), (12L, 13L, 0.25),
      (13L, 12L, 0.25), (14L, 19L, 0.125), (15L, 16L, 0.375), (17L, 10L, 0.625),
    ).toDF("item_one", "item_two", "similarity")
    val withNineteen = log.unionByName(Seq(1L, 2L, 7L)
      .map(q => (q, 19L, 1.0, s"s$q")).toDF("query_id", "item_id", "rating", "session_id"))
    val dir = Files.createTempDirectory("neighbour_predict").toString
    ModelIO.saveNeighbour(handMade, s"$dir/knn")
    val loaded = ModelIO.loadItemKNN(spark, s"$dir/knn")
    assertSameAsOldPlan(loaded, withNineteen, "loaded ItemKNN")
    val recs = triples(loaded.predict(withNineteen, 10, Some(queries)))
    assert(!recs.exists(r => r._1 != 5L && r._2 == 19L), "a seen item was recommended")
    assert(recs.exists(r => r._1 == 5L && r._2 == 19L), "19 is a candidate for user 5")
  }

  test("a loaded SLIM and a loaded EASE equal the anti-join plan") {
    val dir = Files.createTempDirectory("neighbour_loaded").toString
    for ((kind, m) <- Seq("slim" -> new SLIM().fit(log), "ease" -> new Ease(lambda = 2.0).fit(log))) {
      ModelIO.saveNeighbour(m, s"$dir/$kind")
      val loaded = ModelIO.loadNeighbour(spark, s"$dir/$kind")
      assertSameAsOldPlan(loaded, log, s"loaded $kind")
      assert(triples(loaded.predict(log, 3, Some(queries))) ==
        triples(m.predict(log, 3, Some(queries))), kind)
    }
  }

  test("a predict planned before a refit still computes after it") {
    val m = new ItemKNN(numNeighbours = 3).fit(log)
    val early = m.predict(log, 3, Some(queries))
    val want = triples(oldPredict(m, log, 3, queries, filterSeen = true, None))
    m.fit(log.filter($"query_id" <= 4))
    val (pairs, dfs) = m.coStats(log.filter($"query_id" > 2))
    m.fitFromStats(pairs, dfs)
    assert(triples(early) == want)
  }

  test("ratings round as Spark's round(x, 9)") {
    val rng = new scala.util.Random(7)
    val xs = Seq(0.0, -0.0, 1.0, -1.0, 0.5, 1e-10, 5e-10, -5e-10, 1.0000000005,
      2.9999999995, 0.1234567895, -0.1234567895, 1e300, -1e-300, Double.MaxValue,
      Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity) ++
      Seq.fill(2000)(rng.nextDouble() * math.pow(10, rng.nextInt(12) - 6) *
        (if (rng.nextBoolean()) 1 else -1)) ++
      // sums of cosine-like terms, as the kernel rounds them
      Seq.fill(2000)(Seq.fill(1 + rng.nextInt(8))(rng.nextDouble()).sum)
    val want = xs.toDF("x").select(F.col("x"), F.round(F.col("x"), 9).as("r"))
      .as[(Double, Double)].collect()
    for ((x, r) <- want) {
      val got = NeighbourTopK.round9(x)
      assert(java.lang.Double.compare(got, r) == 0 || (got == 0.0 && r == 0.0),
        s"round9($x) = $got, Spark gives $r")
    }
  }

  test("every item_two of a neighbour model's similarity is among its fit items") {
    val feats = log.select(F.col("item_id"), F.concat(F.lit("f"),
      (F.col("item_id") % 3).cast("string")).as("feature")).distinct()
    val probe = new ItemKNN(numNeighbours = 3)
    val (pairs, dfs) = probe.coStats(log)
    val ease = new Ease(lambda = 2.0)
    val dir = Files.createTempDirectory("neighbour_cover").toString
    val slim = new SLIM().fit(log)
    ModelIO.saveNeighbour(slim, s"$dir/slim")
    val models: Seq[(String, NeighbourRec)] = Seq(
      "ItemKNN.fit" -> new ItemKNN(numNeighbours = 3).fit(log),
      "ItemKNN.fitFromStats" -> new ItemKNN(numNeighbours = 3).fitFromStats(pairs, dfs),
      "ContentKNN" -> new ContentKNN(numNeighbours = 3).fitFeatures(feats),
      "AssociationRules" ->
        new AssociationRules(minItemCount = 1, minPairCount = 1, numNeighbours = 3).fit(log),
      "SLIM" -> slim,
      "AdmmSlim" -> new AdmmSlim(lambda1 = 0.05, lambda2 = 1.0).fit(log),
      "Ease.fit" -> new Ease(lambda = 2.0).fit(log),
      "Ease.fitFromCells" -> ease.fitFromCells(ease.gramCells(log)),
      "ModelIO.loadNeighbour" -> ModelIO.loadNeighbour(spark, s"$dir/slim"),
    )
    for ((what, m) <- models) {
      assert(m.similarity.count() > 0, s"$what: empty similarity")
      val missing = m.similarity.select(F.col("item_two").as("item_id"))
        .except(m.fitItems.select("item_id")).count()
      assert(missing == 0, s"$what: $missing item_two values are not fit items")
    }
  }

  /** Fits with `fit`, predicts three new query sets with `predict`, refits
    * on a smaller log: only the last predict's frames may stay cached, at
    * most `maxFrames` of them, and none after the refit. `state` is the
    * fitted state, materialized after each fit. Returns the id mark that
    * every RDD persisted since the first fit is newer than. */
  private def assertScratchOwned(name: String, maxFrames: Int)(fit: DataFrame => Unit)(
      state: => Seq[DataFrame])(predict: DataFrame => Unit): Int = {
    // an entry left by an earlier case would stand in for a frame this
    // model caches, under its old RDD id
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val mark = sc.emptyRDD[Int].id
    def persisted = sc.getPersistentRDDs.keySet.filter(_ > mark).toSet
    def fitAndMaterialize(in: DataFrame): Set[Int] = {
      fit(in)
      state.foreach(_.count())
      persisted
    }
    val withState = fitAndMaterialize(timedLog)
    var last = Set.empty[Int]
    for (qs <- Seq(Seq(1L, 2L), Seq(3L, 4L, 5L), Seq(6L, 7L))) {
      val before = persisted
      predict(qs.toDF("query_id"))
      last = persisted -- before
    }
    val scratch = persisted -- withState
    assert(scratch.nonEmpty, s"$name: vacuous, predict cached nothing")
    assert(scratch.subsetOf(last),
      s"$name: ${(scratch -- last).size} frames of earlier predicts stay cached")
    assert(scratch.size <= maxFrames, s"$name: ${scratch.size} predict scratch frames stay cached")
    fitAndMaterialize(timedLog.filter($"query_id" <= 6))
    assert(scratch.intersect(persisted).isEmpty,
      s"$name: a refit kept the last predict's scratch frames")
    mark
  }

  // the Markov models order each history by timestamp
  private def timedLog = log.withColumn("timestamp", F.col("item_id"))

  test("predict scratch frames: at most one per model, none after a refit") {
    // the forced threshold takes RandomRec's pre-crop path, which also
    // caches its survivor heaps
    val random = new RandomRec()
    random.forcedThreshold = Some(1.0)
    // (model, frames its predict may own: Markov2Rec's seen pairs and
    // last-two context plus its backoff tier's seen pairs)
    val models = Seq[(BaseRecommender, Int)](new UserKNN(numNeighbours = 3) -> 1,
      new PopRec() -> 1, new MarkovRec() -> 1, new Markov2Rec() -> 3, random -> 2)
    for ((m, maxFrames) <- models) {
      val name = m.getClass.getSimpleName
      def state: Seq[DataFrame] = (m match {
        case u: UserKNN    => Seq(u.similarity, u.trainPairs)
        case p: PopRec     => Seq(p.itemPopularity)
        case t: MarkovRec  => Seq(t.transitions)
        case t: Markov2Rec => Seq(t.transitions2, t.backoff.transitions,
          t.backoff.fitQueries, t.backoff.fitItems)
        case r: RandomRec  => Seq(r.itemWeights)
        case _             => Nil
      }) ++ Seq(m.fitQueries, m.fitItems)
      val mark = assertScratchOwned(name, maxFrames)(m.fit(_))(state) { qs =>
        m.predict(timedLog, 3, Some(qs)).collect()
      }
      state.foreach(_.unpersist())
      assert(spark.sparkContext.getPersistentRDDs.keySet.filter(_ > mark).isEmpty,
        s"$name: a cached frame outlived the model's state")
    }
  }

  test("predict scratch frames of ALSRec.predictFoldIn and ClusterRec: the last predict's only") {
    val als = new ALSRec(rank = 2, maxIter = 2)
    assertScratchOwned("ALSRec.predictFoldIn", 1)(als.fit(_))(Nil) { qs =>
      als.predictFoldIn(timedLog, 3, Some(qs)).collect()
    }
    // ClusterRec recommends to the queries of the log it is given
    val features = (1L to 8L).map(q => (q, (q % 3).toDouble, (q % 2).toDouble))
      .toDF("query_id", "f1", "f2")
    val cluster = new ClusterRec(nClusters = 2)
    assertScratchOwned("ClusterRec.predict", 1)(cluster.fit(_, features))(
      Seq(cluster.queryClusters, cluster.clusterItems)) { qs =>
      cluster.predict(timedLog.join(qs, Seq("query_id"), "left_semi"), 3).collect()
    }
  }

  test("a refit from merged stats releases the last predict's scratch frames") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val (lo, hi) = (timedLog.filter($"query_id" <= 3), timedLog.filter($"query_id" > 3))
    val markov = new MarkovRec()
    val markov2 = new Markov2Rec()
    val bias = new BiasModel()
    val slope = new SlopeOne()
    val refits = Seq[(BaseRecommender, () => Unit)](
      markov -> (() => markov.fitFromStats(
        markov.mergeStats(markov.transStats(lo), markov.transStats(hi)))),
      markov2 -> { () =>
        val (t2, t1) = markov2.mergeStats(markov2.transStats(lo), markov2.transStats(hi))
        markov2.fitFromStats(t2, t1)
      },
      bias -> (() => bias.fitFromStats(bias.mergeStats(bias.pairStats(lo), bias.pairStats(hi)))),
      slope -> { () =>
        val (half, ratings) = slope.mergeStats(slope.coStats(lo), slope.coStats(hi))
        slope.fitFromStats(half, ratings)
      })
    for ((m, refit) <- refits) {
      val name = m.getClass.getSimpleName
      m.fit(timedLog)
      val before = persisted
      m.predict(timedLog, 3, Some(Seq(1L, 2L).toDF("query_id"))).collect()
      val scratch = persisted -- before
      assert(scratch.nonEmpty, s"$name: vacuous, predict cached nothing")
      refit()
      assert(scratch.intersect(persisted).isEmpty,
        s"$name: a refit from stats kept the last predict's scratch frames")
    }
  }
}

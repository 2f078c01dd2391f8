package graft.models

import graft.SparkSpec
import graft.core.Owner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** The KNN family's shared pieces: weighted ItemKNN similarities, the
  * history-cap law of every capped model, and refit-time state release. */
class KnnKernelSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  // ---- weighted ItemKNN -------------------------------------------------

  // u1{10,11,12} (10 twice), u2{10,11}, u3{11,12,13}, u4{10,13}
  private def small = Seq(
    (1L, 10L), (1L, 11L), (1L, 12L), (1L, 10L), (2L, 10L), (2L, 11L),
    (3L, 11L), (3L, 12L), (3L, 13L), (4L, 10L), (4L, 13L),
  ).map { case (q, i) => (q, i, 1.0) }.toDF("query_id", "item_id", "rating")

  private def weighted(w: String, shrink: Double) =
    new ItemKNN(numNeighbours = 2, shrink = shrink, weighting = Some(w))
      .fit(small).similarity.as[(Long, Long, Double)].collect().toSet

  test("weighted ItemKNN: tf_idf and bm25 similarities, exact, with and without shrink") {
    // tf_idf: items 10 and 11 share idf ln(4/3) and users {1, 2}, so their
    // quantized weights cancel to 2/3 (3 users each); shrink is in the
    // ×1e12 units of the quantized dot, so 3 shrinks every cosine ~10×
    assert(weighted("tf_idf", 0.0) == Set(
      (10L, 11L, 0.6666666666666667), (10L, 12L, 0.408248290463863),
      (11L, 10L, 0.6666666666666667), (11L, 12L, 0.816496580927726),
      (12L, 11L, 0.816496580927726), (12L, 13L, 0.49999999999999994),
      (13L, 10L, 0.408248290463863), (13L, 12L, 0.49999999999999994)))
    assert(weighted("tf_idf", 3.0) == Set(
      (10L, 12L, 0.05716187132303023), (10L, 13L, 0.05716187132303023),
      (11L, 12L, 0.11432374264606046), (11L, 13L, 0.05716187132303023),
      (12L, 11L, 0.11432374264606046), (12L, 13L, 0.12129871826214776),
      (13L, 10L, 0.05716187132303023), (13L, 12L, 0.12129871826214776)))
    assert(weighted("bm25", 0.0) == Set(
      (10L, 11L, 0.6676474093370736), (10L, 13L, 0.4622503277064694),
      (11L, 10L, 0.6676474093370736), (11L, 12L, 0.7682998789961606),
      (12L, 11L, 0.7682998789961606), (12L, 13L, 0.4575621080737678),
      (13L, 10L, 0.4622503277064694), (13L, 12L, 0.4575621080737678)))
    assert(weighted("bm25", 3.0) == Set(
      (10L, 11L, 0.07660472620428858), (10L, 13L, 0.08068759160824744),
      (11L, 10L, 0.07660472620428858), (11L, 12L, 0.11901504304870304),
      (12L, 11L, 0.11901504304870304), (12L, 13L, 0.10533887504888785),
      (13L, 10L, 0.08068759160824744), (13L, 12L, 0.10533887504888785)))
  }

  // ---- history-cap law --------------------------------------------------

  // 8 users × 9 items, 5-8 items per user and 4-7 users per item
  private def log = (for {
    u <- 1L to 8L
    i <- 1L to 9L
    if (u * 5 + i * 3) % 7 > 1
  } yield (u, i, ((u * i) % 5 + 1).toDouble)).toDF("query_id", "item_id", "rating")

  /** The cap rule written out: `n` rows per `by` group in xxhash64 order
    * of `hashed`, ties by `id`. */
  private def preCap(df: DataFrame, by: String, hashed: Seq[String], id: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(by)
      .orderBy(F.xxhash64(hashed.map(F.col): _*), F.col(id).asc)
    df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n).drop("_rn")
  }

  /** `log` rows whose (query, item) pair survives a per-user cap of `n`. */
  private def userCapped(n: Int): DataFrame = log.join(
    preCap(log.select("query_id", "item_id").distinct(), "query_id",
      Seq("query_id", "item_id"), "item_id", n),
    Seq("query_id", "item_id"), "left_semi")

  /** capped(raw) must equal uncapped(preCapped), and differ from uncapped(raw). */
  private def capLaw(capped: Seq[DataFrame], uncappedOnPreCapped: Seq[DataFrame],
      uncappedOnRaw: Seq[DataFrame]): Unit = {
    assert(capped.map(rows) == uncappedOnPreCapped.map(rows))
    assert(capped.map(rows) != uncappedOnRaw.map(rows), "fixture: the cap must bind")
  }

  test("cap law: ItemKNN and P3AlphaRec cap per user") {
    def knn(cap: Int, in: DataFrame) =
      Seq(new ItemKNN(numNeighbours = 4, maxUserHistory = cap).fit(in).similarity)
    capLaw(knn(4, log), knn(0, userCapped(4)), knn(0, log))
    def p3(cap: Int, in: DataFrame) = {
      val m = new P3AlphaRec(beta = 1, topKNeighbours = 4, maxUserHistory = cap).fit(in)
      Seq(m.similarity, m.userDegrees, m.trainPairs)
    }
    capLaw(p3(4, log), p3(0, userCapped(4)), p3(0, log))
  }

  test("cap law: SlopeOne caps per user after the pair pre-average") {
    // duplicate events with other ratings: the cap counts averaged pairs
    val dup = log.filter($"item_id" % 2 === 0).withColumn("rating", F.col("rating") + 2.5)
    val withDup = log.unionByName(dup)
    val kept = preCap(withDup.select("query_id", "item_id").distinct(), "query_id",
      Seq("query_id", "item_id"), "item_id", 4)
    def slope(cap: Int, in: DataFrame) = {
      val m = new SlopeOne(maxUserHistory = cap).fit(in)
      Seq(m.deviations, m.ratings)
    }
    capLaw(slope(4, withDup),
      slope(0, withDup.join(kept, Seq("query_id", "item_id"), "left_semi")),
      slope(0, withDup))
  }

  test("cap law: UserKNN caps per item, ContentKNN per feature") {
    def user(cap: Int, in: DataFrame) =
      Seq(new UserKNN(numNeighbours = 4, maxItemAudience = cap).fit(in).similarity)
    val itemCapped = log.join(
      preCap(log.select("query_id", "item_id").distinct(), "item_id",
        Seq("query_id", "item_id"), "query_id", 3),
      Seq("query_id", "item_id"), "left_semi")
    capLaw(user(3, log), user(0, itemCapped), user(0, log))
    // users play the features: each "feature" is a user's basket
    val feats = log.select(F.col("item_id"), F.concat(F.lit("u"), F.col("query_id")).as("feature"))
    def content(cap: Int, in: DataFrame) =
      Seq(new ContentKNN(numNeighbours = 4, maxFeatureAudience = cap).fitFeatures(in).similarity)
    capLaw(content(3, feats),
      content(0, preCap(feats, "feature", Seq("item_id", "feature"), "item_id", 3)),
      content(0, feats))
  }

  // ---- state ownership across refits ------------------------------------

  private def sc = spark.sparkContext
  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** One owner under test: `fit` runs one refit of it on an input, `state`
    * lists the cached frames it must hold after it, and `predict` (None:
    * its fits are not reproducible) must equal a fresh instance's after
    * the same fit. `parts` are owners it uses but does not own. */
  private final class Owned[M <: Owner](make: => M, fitOn: (M, DataFrame) => Unit,
      state: M => Seq[DataFrame], predict: Option[(M, DataFrame) => DataFrame],
      parts: M => Seq[Owner] = (_: M) => Nil) {
    val m: M = make
    def owners: Seq[Owner] = m +: parts(m)
    def name: String = m.getClass.getSimpleName
    def stateCached: Boolean = state(m).forall(_.storageLevel.useMemory)
    def fit(in: DataFrame): Unit = predict match {
      case Some(p) => asFresh(in, fitOn, p)(fitOn(m, in))
      case None =>
        fitOn(m, in)
        assert(stateCached, s"$name: current state must stay cached")
    }
    /** After `refit` of `m` (and `m`'s state is then cached, if `cached`),
      * `m`'s predict equals that of a fresh instance given `fitFresh`. The
      * fresh instance is fit and released first: a frame it caches from
      * one of `m`'s plans shares `m`'s cache entry, which its release drops. */
    def asFresh(in: DataFrame, fitFresh: (M, DataFrame) => Unit,
        p: (M, DataFrame) => DataFrame, cached: Boolean = true)(refit: => Unit): Unit = {
      val fresh = make
      fitFresh(fresh, in)
      val expected = try rows(p(fresh, in)) finally (fresh +: parts(fresh)).foreach(_.release())
      refit
      if (cached) assert(stateCached, s"$name: current state must stay cached")
      assert(rows(p(m, in)) == expected, s"$name: a refit predicts as a fresh fit")
    }
  }

  /** Runs `body` on a clean cache; after `release()` of the owners it
    * returns, no RDD persisted and no cache entry made since may remain.
    * `body` gets the count of RDDs persisted since: a refit that leaves
    * the generation it replaced persisted raises it. */
  private def releasesEverything(body: (() => Int) => Seq[Owner]): Unit = {
    spark.catalog.clearCache()
    val mark = sc.emptyRDD[Int].id
    body(() => sc.getPersistentRDDs.keySet.count(_ > mark)).foreach(_.release())
    val left = sc.getPersistentRDDs.filter(_._1 > mark)
    assert(left.isEmpty, left.values.map(_.toDebugString.take(300)).mkString("\n"))
    assert(cacheManager.isEmpty, "release() left a cache entry behind")
  }

  // the Markov models, RepeatRec and TwoStages order each history by time
  private def timed = log.withColumn("timestamp", F.timestamp_seconds(F.col("item_id") * 86400))
  private def queryFeatures = (1L to 8L).map(q => (q, (q % 3).toDouble, (q % 2).toDouble))
    .toDF("query_id", "f1", "f2")
  private def itemFeatures = (1L to 9L).map(i => (i, (i % 3).toDouble, (i % 2).toDouble))
    .toDF("item_id", "f1", "f2")
  // the second input repeats the first: a frame cached from the same plan
  // reuses the cache entry of the frame it replaces, which must stay cached
  private def inputs = Seq(timed, timed, timed.filter($"query_id" <= 5))
  // user-disjoint halves for the refits from merged stats, split at 3 or 5
  private def halves(at: Int) = (timed.filter($"query_id" <= at), timed.filter($"query_id" > at))

  /** After each round of refits as many RDDs are persisted as after the
    * first: each refit leaves its own generation only. */
  private def sameAfterEachRound(persisted: () => Int, rounds: Seq[() => Unit]): Unit = {
    val counts = rounds.map { round => round(); persisted() }
    assert(counts.distinct.size == 1, s"persisted RDDs after each round: $counts")
  }

  private def rec[M <: BaseRecommender](make: => M, state: M => Seq[DataFrame],
      reproducible: Boolean = true, filterSeen: Boolean = true) =
    new Owned[M](make, (m, in) => m.fit(in), state,
      Option.when(reproducible)((m, in) => m.predict(in, 3, filterSeen = filterSeen)))

  test("a refit of the same instance releases that instance's previous state") {
    val knn = rec(new ItemKNN(numNeighbours = 3), (m: ItemKNN) => Seq(m.similarity))
    releasesEverything { persisted =>
      val pop = rec(new PopRec(), (m: PopRec) => Seq(m.itemPopularity))
      val user = rec(new UserKNN(numNeighbours = 3),
        (m: UserKNN) => Seq(m.similarity, m.trainPairs))
      val queryPop = rec(new QueryPopRec(), (m: QueryPopRec) => Seq(m.queryProfile),
        filterSeen = false)
      val rules = rec(new AssociationRules(sessionCol = "query_id", minItemCount = 1,
        minPairCount = 1, numNeighbours = 3), (m: AssociationRules) => Seq(m.similarity, m.rules))
      val repeat = rec(new RepeatRec(), (m: RepeatRec) => Seq(m.state), filterSeen = false)
      val tree = Seq(("root", null: String), ("a", "root"), ("b", "root"))
        .toDF("category", "parent_cat")
      val cats = (1L to 9L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("item_id", "category")
      val catPop = new Owned[CatPopRec](new CatPopRec(tree, cats), (m, in) => m.fit(in),
        m => Seq(m.leafItemCounts),
        Some((m, _) => m.predict(Seq("root", "a").toDF("category"), 3)))
      val ucb = new Owned[UCBState](new UCBState(), (m, in) => m.fit(in), m => Seq(m.state),
        Some((m, _) => m.scores))
      val owners = Seq(knn, pop, user, queryPop, rules, repeat, catPop, ucb)
      // ItemKNN's adjacency broadcast, one per fit
      val adjacencies = scala.collection.mutable.ArrayBuffer.empty[Broadcast[NeighbourTable]]
      sameAfterEachRound(persisted, inputs.map(in => () => {
        owners.foreach(_.fit(in))
        adjacencies += knn.m.adjacency
      }))
      // the refits from merged stats replace the same state, twice, from
      // other halves; ItemKNN's co-stats carry no users, so its fit queries go
      sameAfterEachRound(persisted, Seq(3, 5).map(at => () => {
        val (lo, hi) = halves(at)
        knn.asFresh(timed, (m, in) => m.fit(in), (m, in) => m.predict(in, 3)) {
          val (pairs, dfs) = ItemKNN.mergeStats(knn.m.coStats(lo), knn.m.coStats(hi))
          knn.m.fitFromStats(pairs, dfs)
        }
        adjacencies += knn.m.adjacency
        assert(knn.m.fitQueries == null)
        // the fit frames are projections no one caches, so this refit
        // releases nothing the PopRec and UserKNN fitted on the same input hold
        assert(pop.stateCached && user.stateCached)
        repeat.asFresh(timed, (m, in) => m.fit(in),
            (m, in) => m.predict(in, 3, filterSeen = false)) {
          repeat.m.fitFromStats(
            repeat.m.mergeStats(repeat.m.pairStats(lo), repeat.m.pairStats(hi)))
        }
        ucb.asFresh(timed, (m, in) => m.fit(in), (m, _) => m.scores)(ucb.m.fit(lo).refit(hi))
      }))
      // each refit broadcasts a new adjacency; the replaced ones are
      // unpersisted, not destroyed (reading a destroyed broadcast throws),
      // so a predict planned before a refit still computes. Unpersisting
      // frees executor copies only, which a local session does not have.
      assert(adjacencies.map(_.id).distinct.size == 5, adjacencies.map(_.id))
      assert(adjacencies.init.forall(_.value.ids.nonEmpty))
      owners.map(_.m)
    }
    // a released owner still predicts, recomputing its state
    knn.asFresh(timed, (m, in) => m.fit(in), (m, in) => m.predict(in, 3), cached = false)(())
  }

  test("P3AlphaRec and SlopeOne refits release the state they replace") {
    val als = rec(new ALSRec(rank = 2, maxIter = 2), (_: ALSRec) => Nil)
    releasesEverything { persisted =>
      val p3 = rec(new P3AlphaRec(topKNeighbours = 3),
        (m: P3AlphaRec) => Seq(m.similarity, m.userDegrees, m.trainPairs))
      val s1 = rec(new SlopeOne(), (m: SlopeOne) => Seq(m.deviations, m.ratings))
      val markov = rec(new MarkovRec(), (m: MarkovRec) => Seq(m.transitions))
      val markov2 = rec(new Markov2Rec(),
        (m: Markov2Rec) => Seq(m.transitions2, m.backoff.transitions))
      val random = rec(new RandomRec(), (m: RandomRec) => Seq(m.itemWeights))
      val bias = rec(new BiasModel(), (m: BiasModel) => Seq(m.itemBias, m.userBias))
      val ease = rec(new Ease(), (m: Ease) => Seq(m.similarity))
      val alsX = rec(new ALSRec(rank = 2, maxIter = 2, implicitPrefs = false), (_: ALSRec) => Nil)
      val alsIvf = rec(new ALSRec(rank = 2, maxIter = 2,
        ann = Some(new IvfAnn(nCentroids = 2, nProbe = 1))), (_: ALSRec) => Nil)
      val w2v = rec(new Word2VecRec(vectorSize = 4),
        (m: Word2VecRec) => Seq(m.itemVectors, m.userVectors), reproducible = false)
      val cluster = new Owned[ClusterRec](new ClusterRec(nClusters = 2),
        (m, in) => m.fit(in, queryFeatures), m => Seq(m.queryClusters, m.clusterItems),
        Some((m, in) => m.predict(in, 3)))
      val linUcb = new Owned[LinUCB](new LinUCB(), (m, in) => m.fit(in, queryFeatures),
        m => Seq(m.armState), Some((m, _) => m.predict(queryFeatures, 3)))
      val uLinUcb = new Owned[ULinUCB](new ULinUCB(), (m, in) => m.fit(in, itemFeatures),
        m => Seq(m.userState, m.itemFeats), Some((m, in) => m.predict(in, 3)))
      val hcb = new Owned[HierarchicalRecommender](
        new HierarchicalRecommender(depth = 2, nClusters = 2),
        (m, in) => m.fit(in, itemFeatures), m => Seq(m.rootAssignment),
        Some((m, in) => m.predict(in, 3)))
      val twoStages = new Owned[graft.scenarios.TwoStagesScenario](
        new graft.scenarios.TwoStagesScenario(Seq(new ItemKNN(numNeighbours = 3)),
          numNegatives = 3, negativesType = "random", gbtMaxIter = 2, gbtMaxDepth = 2),
        (m, in) => m.fit(in), _ => Nil, Some((m, in) => m.predict(in, 2)),
        // the models the scenario fits are its caller's
        m => m.firstLevelModels ++ m.fallbackModel)
      val owners = Seq(p3, s1, markov, markov2, random, bias, ease, als, alsX, alsIvf, w2v,
        cluster, linUcb, uLinUcb, hcb, twoStages)
      sameAfterEachRound(persisted, inputs.map(in => () => owners.foreach(_.fit(in))))
      // the refits from merged stats replace the same state, twice, from
      // other halves
      def fit[M <: BaseRecommender](m: M, in: DataFrame): Unit = m.fit(in)
      def top[M <: BaseRecommender](m: M, in: DataFrame): DataFrame = m.predict(in, 3)
      sameAfterEachRound(persisted, Seq(3, 5).map(at => () => {
        val (lo, hi) = halves(at)
        s1.asFresh(timed, fit, top) {
          val (half, ratings) = s1.m.mergeStats(s1.m.coStats(lo), s1.m.coStats(hi))
          s1.m.fitFromStats(half, ratings)
        }
        bias.asFresh(timed, fit, top) {
          bias.m.fitFromStats(bias.m.mergeStats(bias.m.pairStats(lo), bias.m.pairStats(hi)))
        }
        markov.asFresh(timed, fit, top) {
          markov.m.fitFromStats(
            markov.m.mergeStats(markov.m.transStats(lo), markov.m.transStats(hi)))
        }
        markov2.asFresh(timed, fit, top) {
          val (t2, t1) = markov2.m.mergeStats(markov2.m.transStats(lo), markov2.m.transStats(hi))
          markov2.m.fitFromStats(t2, t1)
        }
        ease.asFresh(timed, fit, top) {
          ease.m.fitFromCells(ease.m.mergeCells(ease.m.gramCells(lo), ease.m.gramCells(hi)))
        }
      }))
      // setAnn releases the index it replaces and holds a re-set one once
      val withIvf = persisted()
      alsIvf.m.setAnn(Some(new IvfAnn(nCentroids = 2, nProbe = 1)))
      alsIvf.m.setAnn(alsIvf.m.annIndex)
      assert(persisted() == withIvf, "setAnn kept the replaced index persisted")
      alsIvf.m.setAnn(None)
      assert(persisted() < withIvf, "setAnn(None) kept the index persisted")
      owners.flatMap(_.owners)
    }
    // a released ALS model recomputes its factors from their lineage
    als.asFresh(inputs.last, (m, in) => m.fit(in), (m, in) => m.predict(in, 3), cached = false)(())
  }
}

package graft.models

import graft.SparkSpec
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

  test("a refit of the same instance releases that instance's previous state") {
    val sc = spark.sparkContext
    val mark = sc.emptyRDD[Int].id
    val knn = new ItemKNN(numNeighbours = 3)
    val pop = new PopRec()
    val user = new UserKNN(numNeighbours = 3)
    def state = Seq(knn.similarity, knn.fitQueries, knn.fitItems,
      pop.itemPopularity, pop.fitQueries, pop.fitItems,
      user.similarity, user.trainPairs, user.fitQueries, user.fitItems).filter(_ != null)
    // ItemKNN's adjacency broadcast, one per fit
    val adjacencies = scala.collection.mutable.ArrayBuffer.empty[Broadcast[NeighbourTable]]
    // the second fit repeats the first one's input: its entity frames reuse
    // the cache entries of the frames they replace, which must stay cached
    for (in <- Seq(log, log, log.filter($"query_id" <= 5))) {
      for (m <- Seq(knn, pop, user)) {
        m.fit(in)
        m.fitQueries.count()
        m.fitItems.count()
      }
      adjacencies += knn.adjacency
      assert(state.forall(_.storageLevel.useMemory), "current state must stay cached")
    }
    // the refit from merged co-stats replaces the same state (its fit
    // queries go: the stats carry no users). The entity frames it releases
    // share their cache entries with PopRec's and UserKNN's (one input,
    // one plan), so only ItemKNN's state is checked here.
    val (pairs, dfs) = ItemKNN.mergeStats(knn.coStats(log.filter($"query_id" <= 3)),
      knn.coStats(log.filter($"query_id" > 3)))
    knn.fitFromStats(pairs, dfs)
    knn.fitItems.count()
    adjacencies += knn.adjacency
    assert(knn.fitQueries == null)
    assert(Seq(knn.similarity, knn.fitItems).forall(_.storageLevel.useMemory),
      "current state must stay cached")
    // each refit broadcasts a new adjacency; the replaced ones are
    // unpersisted, not destroyed (reading a destroyed broadcast throws),
    // so a predict planned before a refit still computes. Unpersisting
    // frees executor copies only, which a local session does not have.
    assert(adjacencies.map(_.id).distinct.size == 4, adjacencies.map(_.id))
    assert(adjacencies.init.forall(_.value.ids.nonEmpty))
    state.foreach(_.unpersist())
    assert(sc.getPersistentRDDs.keySet.filter(_ > mark).isEmpty,
      "a refit left a cached frame of the replaced state behind")
  }

  test("P3AlphaRec and SlopeOne refits release the state they replace") {
    val sc = spark.sparkContext
    val mark = sc.emptyRDD[Int].id
    val p3 = new P3AlphaRec(topKNeighbours = 3)
    val s1 = new SlopeOne()
    // the models with their own state fields
    val markov = new MarkovRec()
    val markov2 = new Markov2Rec()
    val random = new RandomRec()
    val bias = new BiasModel()
    val als = new ALSRec(rank = 2, maxIter = 2)
    val alsX = new ALSRec(rank = 2, maxIter = 2, implicitPrefs = false)
    val w2v = new Word2VecRec(vectorSize = 4)
    val cluster = new ClusterRec(nClusters = 2)
    val features = (1L to 8L).map(q => (q, (q % 3).toDouble, (q % 2).toDouble))
      .toDF("query_id", "f1", "f2")
    // the fitFromStats refits below drop the Markov models' fit queries
    def state = Seq(p3.similarity, p3.userDegrees, p3.trainPairs, p3.fitQueries, p3.fitItems,
      s1.deviations, s1.ratings, s1.fitQueries, s1.fitItems,
      markov.transitions, markov.fitQueries, markov.fitItems,
      markov2.transitions2, markov2.backoff.transitions, markov2.backoff.fitQueries,
      markov2.backoff.fitItems, markov2.fitQueries, markov2.fitItems,
      random.itemWeights, random.fitQueries, random.fitItems,
      bias.itemBias, bias.userBias, bias.fitQueries, bias.fitItems,
      als.fitQueries, als.fitItems, alsX.fitQueries, alsX.fitItems,
      w2v.itemVectors, w2v.userVectors, w2v.fitQueries, w2v.fitItems,
      cluster.queryClusters, cluster.clusterItems).filter(_ != null)
    // the Markov models order each history by timestamp
    val timed = log.withColumn("timestamp", F.col("item_id"))
    // a repeated input shares the cache entries of the frames it replaces
    for (in <- Seq(timed, timed, timed.filter($"query_id" <= 5))) {
      for (m <- Seq(p3, s1, markov, markov2, random, bias, als, alsX, w2v)) {
        m.fit(in)
        m.fitQueries.count()
        m.fitItems.count()
      }
      cluster.fit(in, features)
      markov2.backoff.fitItems.count()
      assert(state.forall(_.storageLevel.useMemory), "current state must stay cached")
    }
    // the incremental paths replace the same frames
    val (lo, hi) = (timed.filter($"query_id" <= 3), timed.filter($"query_id" > 3))
    val (half, ratings) = s1.mergeStats(s1.coStats(lo), s1.coStats(hi))
    s1.fitFromStats(half, ratings)
    s1.fitQueries.count()
    s1.fitItems.count()
    bias.fitFromStats(bias.mergeStats(bias.pairStats(lo), bias.pairStats(hi)))
    bias.fitQueries.count()
    bias.fitItems.count()
    markov.fitFromStats(markov.mergeStats(markov.transStats(lo), markov.transStats(hi)))
    val (t2, t1) = markov2.mergeStats(markov2.transStats(lo), markov2.transStats(hi))
    markov2.fitFromStats(t2, t1)
    state.foreach(_.unpersist())
    // MLlib's ALS factors are frames over persisted RDDs
    for (m <- Seq(als, alsX)) graft.core.Persist.releaseCheckpoint(m.userFactors, m.itemFactors)
    assert(sc.getPersistentRDDs.keySet.filter(_ > mark).isEmpty,
      "a refit left a cached frame of the replaced state behind")
  }
}

package graft.scenarios

import org.apache.spark.sql.{functions => F}
import graft.SparkSpec
import graft.models.{ItemKNN, PopRec}
import graft.splitters.RatioSplitter

/** TwoStagesScenario contracts (reference two_stages_scenario.py:112-760):
  * candidate exclusion, labeling, enrichment columns, end-to-end rerank. */
class TwoStagesSpec extends SparkSpec {
  import spark.implicits._

  // 6 users × 8 items, two "eras" so the per-user 50/50 ratio split puts
  // the later half in second_level_positive
  private lazy val log = (for {
    u <- 1L to 6L
    t <- 1L to 8L
  } yield (u, (u * 3 + t) % 12 + 1, f"2024-01-${t}%02d 00:00:00", 1.0, u * 100 + t))
    .toDF("query_id", "item_id", "ts", "rating", "session_id")
    .withColumn("timestamp", F.col("ts").cast("timestamp")).drop("ts")

  private def scenario(negType: String = "first_level") = new TwoStagesScenario(
    Seq(new PopRec()), fallbackModel = Some(new PopRec(useRating = true)),
    numNegatives = 4, negativesType = negType, gbtMaxIter = 3, gbtMaxDepth = 3,
    trainSplitter = RatioSplitter(0.5, tieCol = Some("session_id")))

  test("candidates exclude the filter log and cap at k per user") {
    val sc = scenario()
    val m = new PopRec().fit(log)
    val cand = sc.candidates(m, log, k = 3, logToFilter = log)
    val joined = cand.join(log.select("query_id", "item_id").distinct(),
      Seq("query_id", "item_id"), "left_semi")
    assert(joined.count() == 0, "candidates must exclude seen pairs")
    val over = cand.groupBy("query_id").count().filter(F.col("count") > 3)
    assert(over.count() == 0, "<= k candidates per user")
  }

  test("secondLevelTrain labels candidates by held-out membership") {
    val sc = scenario()
    val (labeled, flTrain) = sc.secondLevelTrain(log)
    assert(labeled.columns.toSet == Set("query_id", "item_id", "target"))
    val targets = labeled.select("target").distinct().collect().map(_.getDouble(0)).toSet
    assert(targets.subsetOf(Set(0.0, 1.0)))
    // every positive-labeled candidate is genuinely in the held-out half
    val (_, slPositive) = sc.trainSplitter.split(log)
    val falsePos = labeled.filter(F.col("target") === 1.0)
      .join(slPositive.select("query_id", "item_id").distinct(),
        Seq("query_id", "item_id"), "left_anti")
    assert(falsePos.count() == 0)
    // candidates never come from the first-level train half
    val leaked = labeled.join(flTrain.select("query_id", "item_id").distinct(),
      Seq("query_id", "item_id"), "left_semi")
    assert(leaked.count() == 0)
  }

  test("enrich adds first-level relevance and history features, no nulls") {
    val sc = scenario()
    val (labeled, flTrain) = sc.secondLevelTrain(log)
    val enriched = sc.enrich(labeled, flTrain, None, None)
    assert(enriched.columns.contains("rel_0"))
    assert(enriched.columns.contains("u_cnt") && enriched.columns.contains("i_mean_rating"))
    val anyNull = enriched.columns.map(c => F.count(F.when(F.col(c).isNull, 1)).as(c))
    val nulls = enriched.agg(anyNull.head, anyNull.tail: _*).first().toSeq.map(_.asInstanceOf[Long])
    assert(nulls.forall(_ == 0L), "enrich must fillna(0)")
  }

  test("fitPredict reranks: <= k per user, probability-bounded, unseen only") {
    val sc = scenario()
    val recs = sc.fitPredict(log, k = 2)
    assert(recs.count() > 0)
    assert(recs.groupBy("query_id").count().filter(F.col("count") > 2).count() == 0)
    val bad = recs.filter(!F.col("rating").between(0.0, 1.0))
    assert(bad.count() == 0)
    val seen = recs.join(log.select("query_id", "item_id").distinct(),
      Seq("query_id", "item_id"), "left_semi")
    assert(seen.count() == 0, "rerank output must stay seen-filtered")
    assert(sc.trainAuc > 0.5, s"train AUC ${sc.trainAuc}")
  }

  test("neighbour pair-score memo: caller's flag kept, release frees every scenario cache") {
    val sparkCtx = spark.sparkContext
    val mark = sparkCtx.emptyRDD[Int].id
    val knn = new ItemKNN(numNeighbours = 3)
    val fallback = new PopRec(useRating = true)
    val sc = new TwoStagesScenario(Seq(knn), fallbackModel = Some(fallback),
      numNegatives = 4, gbtMaxIter = 3, gbtMaxDepth = 3,
      trainSplitter = RatioSplitter(0.5, tieCol = Some("session_id")))
    assert(sc.fitPredict(log, k = 2).count() > 0)
    assert(!knn.memoPairScores, "fit/predict must restore the caller's memo flag")
    knn.memoPairScores = true
    assert(sc.predict(log, k = 2).count() > 0)
    assert(knn.memoPairScores)
    sc.release()
    // what is left belongs to the first-level models' owner
    for (m <- Seq(knn, fallback)) Seq(m.fitQueries, m.fitItems).foreach(_.unpersist(true))
    knn.similarity.unpersist(true)
    fallback.itemPopularity.unpersist(true)
    val left = sparkCtx.getPersistentRDDs.filter(_._1 > mark)
    assert(left.isEmpty, left.values.map(_.toDebugString.take(300)).mkString("\n"))
  }

  test("random negatives mode runs and labels consistently") {
    val sc = scenario(negType = "random")
    val (labeled, _) = sc.secondLevelTrain(log)
    assert(labeled.count() > 0)
  }
}

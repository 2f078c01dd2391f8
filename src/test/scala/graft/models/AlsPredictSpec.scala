package graft.models

import java.nio.file.Files

import graft.SparkSpec
import graft.core.Ops
import org.apache.spark.sql.{DataFrame, functions => F}

/** ALSRec's exact predict (broadcast item factors, one scoring pass that
  * skips seen items) against the plan it replaced. */
class AlsPredictSpec extends SparkSpec {
  import spark.implicits._
  import AlsPredictSpec.oldPredict

  // 10 users × 12 items; user 1 has seen 10 items, so fewer than k unseen
  // remain for k ≥ 3; user 11 has history only in `log`, not in the fit
  private def fitLog = (for {
    u <- 1L to 10L
    i <- 1L to 12L
    if (if (u == 1L) i <= 10L else (u * 7 + i * 5) % 11 < 4)
  } yield (u, i, ((u + i) % 5 + 1).toDouble)).toDF("query_id", "item_id", "rating")

  private def log = fitLog.union(Seq((11L, 3L, 2.0)).toDF("query_id", "item_id", "rating"))

  // user 2 asks without history in the predict log, 11 and 12 are absent
  // from the fit
  private val queries = Seq(1L, 2L, 3L, 5L, 8L, 11L, 12L).toDF("query_id")
  private def predictLog = log.filter($"query_id" =!= 2L)

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(F.col("query_id"), F.col("item_id"), F.col("rating"))
      .as[(Long, Long, Double)].collect().toSet

  /** The exact predict gives the old plan's rows for every k and
    * filterSeen. */
  private def assertSameAsOldPlan(m: ALSRec, what: String): Unit =
    for (k <- Seq(1, 3, 12, 20); filterSeen <- Seq(true, false)) {
      val got = triples(m.predict(predictLog, k, Some(queries), filterSeen))
      val want = triples(oldPredict(m, predictLog, k, queries, filterSeen))
      assert(want.nonEmpty, s"$what: vacuous fixture")
      assert(got == want, s"$what k=$k filterSeen=$filterSeen:" +
        s"\n got  ${got.toSeq.sorted.mkString(" ")}\n want ${want.toSeq.sorted.mkString(" ")}")
      val perUser = got.groupBy(_._1).map { case (u, rs) => u -> rs.size }
      assert(perUser.keySet == Set(1L, 2L, 3L, 5L, 8L), s"$what: users $perUser")
      if (filterSeen && k >= 3) assert(perUser(1L) == 2, s"$what: user 1 has 2 unseen items")
      if (!filterSeen && k >= 12) assert(perUser.values.forall(_ == 12), s"$what: $perUser")
    }

  test("exact predict equals the blocked top-k plan: implicit and explicit") {
    assertSameAsOldPlan(new ALSRec(rank = 4, maxIter = 3).fit(fitLog), "implicit")
    assertSameAsOldPlan(
      new ALSRec(rank = 4, maxIter = 3, implicitPrefs = false).fit(fitLog), "explicit")
  }

  test("exact predict after a save/load round trip and after setAnn(None)") {
    val m = new ALSRec(rank = 4, maxIter = 3).fit(fitLog)
    val dir = Files.createTempDirectory("als_predict").toString
    ModelIO.saveALS(m, s"$dir/als")
    val loaded = ModelIO.loadALS(spark, s"$dir/als")
    assertSameAsOldPlan(loaded, "loaded")
    assert(triples(loaded.predict(predictLog, 3, Some(queries))) ==
      triples(m.predict(predictLog, 3, Some(queries))))
    m.setAnn(Some(new IvfAnn(nCentroids = 2, nProbe = 1)))
    m.setAnn(None)
    assertSameAsOldPlan(m, "setAnn(None)")
  }

  test("exact predict without broadcast joins") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try assertSameAsOldPlan(new ALSRec(rank = 4, maxIter = 3).fit(fitLog), "no broadcast")
    finally spark.conf.set(key, before)
  }

  test("a predict planned before a refit still computes after it") {
    val m = new ALSRec(rank = 4, maxIter = 3).fit(fitLog)
    val early = m.predict(predictLog, 3, Some(queries))
    val want = triples(oldPredict(m, predictLog, 3, queries, filterSeen = true))
    m.fit(fitLog.filter($"query_id" <= 6))
    assert(triples(early) == want)
  }
}

object AlsPredictSpec {

  /** The replaced exact predict, written out: MLlib's blocked top
    * (k + maxSeen) per user, explode, `left_anti` against the distinct
    * history, top-k window. */
  def oldPredict(m: ALSRec, log: DataFrame, k: Int, queries: DataFrame,
      filterSeen: Boolean): DataFrame = {
    val seen = log.join(queries, Seq("query_id"), "left_semi")
      .select("query_id", "item_id").distinct()
    val maxSeen =
      if (!filterSeen) 0
      else seen.groupBy("query_id").count().agg(F.max("count")).first() match {
        case r if r.isNullAt(0) => 0
        case r                  => r.getLong(0).toInt
      }
    val recs = m.model.recommendForUserSubset(
        queries.select(F.col("query_id").cast("int")), k + maxSeen)
      .select(F.col("query_id"), F.explode(F.col("recommendations")).as("_r"))
      .select(F.col("query_id").cast("long").as("query_id"),
        F.col("_r.item_id").cast("long").as("item_id"),
        F.col("_r.rating").cast("double").as("rating"))
    val kept = if (filterSeen) recs.join(seen, Seq("query_id", "item_id"), "left_anti") else recs
    Ops.getTopKRecs(kept, k, "query_id", "item_id", "rating")
  }
}

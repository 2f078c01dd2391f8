package graft.models

import graft.SparkSpec

class KnnIncrementalSpec extends SparkSpec {
  import spark.implicits._

  // 8 users, deterministic overlapping baskets
  private def log = (for {
    u <- 1L to 8L
    i <- 1L to 10L
    if (u * 3 + i * 7) % 4 != 0
  } yield (u, i, 1.0)).toSeq.toDF("query_id", "item_id", "rating")

  private def simSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("user-disjoint co-stats merge followed by fitFromStats equals a full refit, exactly") {
    val full = new ItemKNN(numNeighbours = 5).fit(log).similarity
    val a = log.filter($"query_id" <= 4)
    val b = log.filter($"query_id" > 4)
    val probe = new ItemKNN(numNeighbours = 5)
    val (pairs, dfs) = ItemKNN.mergeStats(probe.coStats(a), probe.coStats(b))
    val inc = new ItemKNN(numNeighbours = 5).fitFromStats(pairs, dfs)
    assert(simSet(inc.similarity) == simSet(full),
      "merged-stats similarity must be bit-identical to the full fit")
  }

  test("three-way merge is associative in effect: any slicing gives the full fit") {
    val full = new ItemKNN(numNeighbours = 3).fit(log).similarity
    val probe = new ItemKNN(numNeighbours = 3)
    val s1 = probe.coStats(log.filter($"query_id" <= 2))
    val s2 = probe.coStats(log.filter($"query_id" > 2 && $"query_id" <= 6))
    val s3 = probe.coStats(log.filter($"query_id" > 6))
    val (p, d) = ItemKNN.mergeStats(ItemKNN.mergeStats(s1, s2), s3)
    val inc = new ItemKNN(numNeighbours = 3).fitFromStats(p, d)
    assert(simSet(inc.similarity) == simSet(full))
  }

  test("stats-refit model predicts identically to the fit model") {
    val fitted = new ItemKNN(numNeighbours = 5).fit(log)
    val probe = new ItemKNN(numNeighbours = 5)
    val (p, d) = probe.coStats(log)
    val inc = new ItemKNN(numNeighbours = 5).fitFromStats(p, d)
    assert(simSet(fitted.predict(log, 3)) == simSet(inc.predict(log, 3)))
  }

  test("a refit drops the predictPairs memo built on the old similarity table") {
    val train = log // one reference: the memo is keyed on it
    val pairs = train.select("query_id", "item_id").distinct()
    def scores(m: ItemKNN) = m.predictPairs(pairs, train).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    val m = new ItemKNN(numNeighbours = 5)
    m.memoPairScores = true
    m.fit(train.filter($"item_id" <= 6))
    val before = scores(m)
    m.fit(train)
    val fresh = scores(new ItemKNN(numNeighbours = 5).fit(train))
    assert(before != fresh, "fixture: the refit must change some score")
    assert(scores(m) == fresh, "refit model served the old similarity table's scores")
  }

  test("refit state is a plan leaf: 1 and 4 refits plan alike, rows equal a full fit") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FormattedMode
    // stats stay cached between refits, as a serving loop keeps them
    def persisted(s: (DataFrame, DataFrame)) = {
      s._1.cache().count(); s._2.cache().count(); s
    }
    def refitted(n: Int): ItemKNN = {
      val probe = new ItemKNN(numNeighbours = 5)
      var stats = persisted(probe.coStats(log.filter($"query_id" <= 4)))
      var model = new ItemKNN(numNeighbours = 5).fitFromStats(stats._1, stats._2)
      for (u <- 5L until 5L + n) {
        val merged = persisted(ItemKNN.mergeStats(stats,
          probe.coStats(log.filter($"query_id" === u))))
        val next = new ItemKNN(numNeighbours = 5).fitFromStats(merged._1, merged._2)
        Seq(model.similarity, model.fitItems, stats._1, stats._2).foreach(_.unpersist())
        model = next
        stats = merged
      }
      model
    }
    // expression and RDD ids differ between the two models' plans
    def explainLength(m: ItemKNN) = m.predict(log, 3, queries = Some(Seq(1L, 2L).toDF("query_id")))
      .queryExecution.explainString(FormattedMode).replaceAll("\\d+", "0").length
    def nodes(m: ItemKNN) = m.similarity.queryExecution.analyzed.collect { case p => p }.size
    val one = refitted(1)
    val four = refitted(4)
    assert(nodes(one) == 1 && nodes(four) == 1)
    assert(explainLength(one) == explainLength(four))
    assert(simSet(four.similarity) == simSet(new ItemKNN(numNeighbours = 5).fit(log).similarity))
  }

  test("weighted fits refuse the sufficient-stats path") {
    intercept[IllegalArgumentException](
      new ItemKNN(weighting = Some("bm25")).coStats(log))
    intercept[IllegalArgumentException](
      new ItemKNN(weighting = Some("tf_idf"))
        .fitFromStats(log.limit(0), log.limit(0)))
  }
}

package graftbench

/** Harness self-tests that need no Spark and no data:
  *   python3 perfbench/run.py --selftest
  * Exits non-zero on the first failed expectation. */
object SelfTest {
  private var checks = 0

  private def expect(cond: Boolean, what: String): Unit = {
    checks += 1
    if (!cond) {
      System.err.println(s"SELFTEST FAIL: $what")
      sys.exit(1)
    }
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12

  def main(args: Array[String]): Unit = {
    // median: odd, even, unsorted input
    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median of odd count")
    expect(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median of even count")

    // quartiles: values from Python's statistics.quantiles(xs, n=4)
    //   quantiles([1..10])        -> [2.75, 5.5, 8.25]
    //   quantiles([1, 2, 3, 4])   -> [1.25, 2.5, 3.75]
    //   quantiles([5, 1, 9])      -> [1.0, 5.0, 9.0]
    val (a1, a2, a3) = Stats.quartiles((1 to 10).map(_.toDouble).reverse)
    expect(close(a1, 2.75) && close(a2, 5.5) && close(a3, 8.25), s"quartiles 1..10 = ($a1, $a2, $a3)")
    val (b1, b2, b3) = Stats.quartiles(Seq(1.0, 2.0, 3.0, 4.0))
    expect(close(b1, 1.25) && close(b2, 2.5) && close(b3, 3.75), s"quartiles 1..4 = ($b1, $b2, $b3)")
    val (c1, c2, c3) = Stats.quartiles(Seq(5.0, 1.0, 9.0))
    expect(close(c1, 1.0) && close(c2, 5.0) && close(c3, 9.0), s"quartiles 1,5,9 = ($c1, $c2, $c3)")

    // tail: 19 samples leave fewer than 10 beyond the median -> none
    expect(Stats.tail((1 to 19).map(_.toDouble)).isEmpty, "no tail with 19 samples")
    // 20 samples: only p50 keeps 10 beyond (rank 10 -> value 10)
    expect(Stats.tail((1 to 20).map(_.toDouble)) == Some((50, 10.0, 20)), "tail of 20 samples")
    // 100 samples: p90 has exactly 10 beyond, p91 has 9
    expect(Stats.tail((1 to 100).map(_.toDouble).reverse) == Some((90, 90.0, 100)), "tail of 100 samples")
    // 1000 samples: capped at p99 (10 beyond)
    expect(Stats.tail((1 to 1000).map(_.toDouble)) == Some((99, 990.0, 1000)), "tail of 1000 samples")
    // 35 samples: p71 -> rank 25, 10 beyond; p72 -> rank 26, 9 beyond
    expect(Stats.tail((1 to 35).map(_.toDouble)) == Some((71, 25.0, 35)), "tail of 35 samples")

    // failed_ratio
    expect(Stats.failedRatio(0, 7) == 0.0, "no failures")
    expect(Stats.failedRatio(1, 4) == 0.25, "one of four failed")
    expect(Stats.failedRatio(3, 3) == 1.0, "all failed")
    expect(scala.util.Try(Stats.failedRatio(0, 0)).isFailure, "zero attempts is refused")
    expect(scala.util.Try(Stats.failedRatio(5, 4)).isFailure, "more failures than attempts is refused")

    // digest: order independent, sensitive to value, count and duplicates
    val rows = (1 to 50).map(i => s"$i|${i * 7 % 13}|${Stats.round6(i / 3.0)}")
    val d = Stats.digest(rows)
    expect(Stats.digest(rows.reverse) == d, "digest ignores row order")
    expect(Stats.digest(new scala.util.Random(7).shuffle(rows)) == d, "digest ignores a shuffle")
    expect(Stats.digest(rows.updated(3, "4|2|1.333334")) != d, "digest sees a changed score")
    expect(Stats.digest(rows.tail) != d, "digest sees a missing row")
    expect(Stats.digest(rows :+ rows.head) != d, "digest sees a duplicated row")
    expect(Stats.round6(0.1234565) == "0.123457" && Stats.round6(2.0) == "2.000000", "round6")

    // reference ItemKNN: users 1 {10, 20, 30}, 2 {10, 20}, 3 {20, 30};
    // df 10→2, 20→3, 30→2; co(10,20)=2, co(10,30)=1, co(20,30)=2
    val pairs = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L), (3L, 20L), (3L, 30L), (3L, 30L))
    val sim = Reference.knnSimilarity(pairs, 1)
    val s1020 = 2.0 / (math.sqrt(2.0) * math.sqrt(3.0))
    expect(sim(10L) == IndexedSeq((20L, s1020)), s"knn top-1 of item 10 = ${sim(10L)}")
    // 20's neighbours 10 and 30 tie: the lower id wins
    expect(sim(20L) == IndexedSeq((10L, s1020)), s"knn tie broken by item id: ${sim(20L)}")
    val sim2 = Reference.knnSimilarity(pairs, 2)
    // user with history 10, 10 (a repeat counts twice), 20 seen
    val sc = Reference.knnScores(Seq(10L, 10L, 20L), sim2)
    expect(sc.keySet == Set(30L) && close(sc(30L), 2 * 0.5 + s1020),
      s"knn scores skip seen items and count repeats: $sc")
    val ref = Map(1L -> 0.9, 2L -> 0.5, 3L -> 0.5, 4L -> 0.1)
    expect(Reference.isTopK(Map(1L -> 0.9, 2L -> 0.5), ref, 2, 1e-9), "top-2 with a tie at the cut")
    expect(Reference.isTopK(Map(1L -> 0.9, 3L -> 0.5), ref, 2, 1e-9), "either tied item may be kept")
    expect(!Reference.isTopK(Map(1L -> 0.9, 4L -> 0.1), ref, 2, 1e-9), "a lower item is not a top-2")
    expect(!Reference.isTopK(Map(1L -> 0.9), ref, 2, 1e-9), "too few items is not a top-2")
    expect(!Reference.isTopK(Map(1L -> 0.8, 2L -> 0.5), ref, 2, 1e-9), "a wrong score is not a top-2")

    // reference ranking metrics: pred [5, 7, 9], gt {7, 8}, k = 3
    val m = Reference.rankingMetrics(IndexedSeq(5L, 7L, 9L), Set(7L, 8L), 3)
    expect(m("hit_rate") == 1.0 && close(m("precision"), 1.0 / 3) && m("recall") == 0.5 &&
      close(m("map"), 0.5 / 3) && m("mrr") == 0.5, s"ranking metrics $m")
    val idcg = 1.0 + 1.0 / (math.log(3.0) / math.log(2.0))
    expect(close(m("ndcg"), (1.0 / (math.log(3.0) / math.log(2.0))) / idcg), s"ndcg ${m("ndcg")}")
    // non-hits before the hit: 1 (fpCum), non-hits 2 of 3: 1 - 1 / (2 * 1)
    expect(m("roc_auc") == 0.5, s"roc_auc ${m("roc_auc")}")
    expect(Reference.rankingMetrics(IndexedSeq.empty, Set(1L), 3).values.forall(_ == 0.0),
      "no recommendations score 0")
    val mean = Reference.meanRankingMetrics(Seq((1L, 7L, 0.9), (1L, 5L, 0.95)), Seq((1L, 7L), (2L, 3L)), 2)
    // user 1: pred [5, 7] (score order), hit at rank 2; user 2 has no recs
    expect(mean("hit_rate") == 0.5 && mean("mrr") == 0.25, s"mean metrics $mean")

    // json
    expect(Json.write(Json.obj("a" -> 1, "b" -> Seq(1.5, "x\"y"), "c" -> None)) ==
      "{\"a\": 1, \"b\": [1.5, \"x\\\"y\"], \"c\": null}", "json writer")

    println(s"selftest ok: $checks checks")
  }
}

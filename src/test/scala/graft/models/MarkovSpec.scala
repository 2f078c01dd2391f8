package graft.models

import org.apache.spark.sql.{functions => F}
import graft.SparkSpec

class MarkovSpec extends SparkSpec {
  import spark.implicits._

  // (query, item, rating, ts) — sequences: u1: 1→2→3, u2: 1→2→4, u3: 3→2
  private def log = Seq(
    (1L, 1L, 1.0, 10L), (1L, 2L, 1.0, 20L), (1L, 3L, 1.0, 30L),
    (2L, 1L, 1.0, 10L), (2L, 2L, 1.0, 20L), (2L, 4L, 1.0, 30L),
    (3L, 3L, 1.0, 10L), (3L, 2L, 1.0, 20L),
  ).toDF("query_id", "item_id", "rating", "timestamp")

  test("transitions: consecutive-pair counts under the per-query order") {
    val m = new MarkovRec().fit(log)
    assertSameRows(m.transitions,
      Seq((1L, 2L, 2L), (2L, 3L, 1L), (2L, 4L, 1L), (3L, 2L, 1L)))
  }

  test("minCount floors the transition table") {
    val m = new MarkovRec(minCount = 2).fit(log)
    assertSameRows(m.transitions, Seq((1L, 2L, 2L)))
  }

  test("predict scores from the LAST item, seen-filtered") {
    val m = new MarkovRec().fit(log)
    // u1 last=3 → {2} all seen; u2 last=4 → no outgoing; u3 last=2 →
    // {3 (seen), 4} → only 4 survives
    assertSameRows(m.predict(log, k = 5), Seq((3L, 4L, 1.0)))
    assertSameRows(m.predict(log, k = 5, filterSeen = false),
      Seq((1L, 2L, 1.0), (3L, 3L, 1.0), (3L, 4L, 1.0)))
  }

  test("items restriction filters candidates before the crop") {
    val m = new MarkovRec().fit(log)
    val only3 = Seq(Tuple1(3L)).toDF("item_id")
    assertSameRows(
      m.predict(log, k = 5, filterSeen = false, items = Some(only3)),
      Seq((3L, 3L, 1.0)))
  }

  test("per-source crop is exact: k=1 top pick matches the uncropped rank") {
    // source 2 has two candidates (3 and 4, both cnt 1) — tie-break item asc
    val m = new MarkovRec().fit(log)
    assertSameRows(m.predict(log, k = 1, filterSeen = false),
      Seq((1L, 2L, 1.0), (3L, 3L, 1.0)))
  }

  test("transition counts are mergeable: per-user-slice fits sum to the full fit") {
    val full = new MarkovRec().fit(log).transitions
    val a = new MarkovRec().fit(log.filter($"query_id" <= 2)).transitions
    val b = new MarkovRec().fit(log.filter($"query_id" > 2)).transitions
    val merged = a.unionByName(b)
      .groupBy("item_one", "item_two").agg(F.sum("cnt").as("cnt"))
    assertSameRows(merged, full.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("predictPairs: transition count from the last item, else 0.0") {
    val m = new MarkovRec().fit(log)
    val pairs = Seq((3L, 3L), (3L, 4L), (3L, 1L), (2L, 2L))
      .toDF("query_id", "item_id")
    assertSameRows(m.predictPairs(pairs, log),
      Seq((3L, 3L, 1.0), (3L, 4L, 1.0), (3L, 1L, 0.0), (2L, 2L, 0.0)))
  }

  test("ModelIO round-trip: loaded model predicts identically") {
    val m = new MarkovRec(minCount = 1).fit(log)
    val dir = java.nio.file.Files.createTempDirectory("markov_io").toString
    ModelIO.save(m, dir)
    val loaded = ModelIO.load(spark, dir).asInstanceOf[MarkovRec]
    assertSameRows(loaded.predict(log, k = 5), Seq((3L, 4L, 1.0)))
    assert(loaded.minCount == 1L)
  }

  test("fit transitions equal counts over the streaming pair extraction (incremental twin)") {
    // the same log pushed through StreamingOps.streamingTransitions with
    // the ITEM id as the transition 'type' and the item as the in-batch
    // tie — counting the emitted pairs must rebuild the batch fit table,
    // which is what makes MarkovRec incrementally maintainable
    val withTs = log.withColumn("ts",
      F.timestamp_micros(F.col("timestamp") * 1000000L))
      .withColumn("item_str", F.col("item_id").cast("string"))
    val streamedCounts = graft.streaming.StreamingOps
      .streamingTransitions(withTs, "query_id", "item_str", "ts", "item_id")
      .toDF()
      .groupBy(F.col("from_type").cast("long").as("item_one"),
        F.col("to_type").cast("long").as("item_two"))
      .agg(F.count(F.lit(1)).as("cnt"))
    val batch = new MarkovRec().fit(log).transitions
    assertSameRows(streamedCounts, batch.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("tieBreak column participates in the sequence order") {
    // same ts everywhere: order falls to (session, item)
    val l = Seq(
      (1L, 5L, 1.0, 10L, 2L), (1L, 4L, 1.0, 10L, 1L), (1L, 6L, 1.0, 10L, 3L),
    ).toDF("query_id", "item_id", "rating", "timestamp", "session_id")
    val m = new MarkovRec(tieBreak = Seq("session_id")).fit(l)
    // order: (10,1,4) → (10,2,5) → (10,3,6)
    assertSameRows(m.transitions, Seq((4L, 5L, 1L), (5L, 6L, 1L)))
  }

  test("a refit from merged stats predicts for the log's users, not the previous fit's") {
    def predicted(m: BaseRecommender) =
      m.predict(log, k = 5, filterSeen = false).select("query_id").distinct()
        .as[Long].collect().toSet
    val (lo, hi) = (log.filter($"query_id" <= 2), log.filter($"query_id" === 3))
    val m1 = new MarkovRec().fit(log.filter($"query_id" === 1))
    m1.fitFromStats(m1.mergeStats(m1.transStats(lo), m1.transStats(hi)))
    assert(predicted(m1) == Set(1L, 3L))
    val m2 = new Markov2Rec().fit(log.filter($"query_id" === 1))
    val (t2, t1) = m2.mergeStats(m2.transStats(lo), m2.transStats(hi))
    m2.fitFromStats(t2, t1)
    assert(predicted(m2) == Set(1L, 3L))
    assert(m2.fitItems.as[Long].collect().toSet == Set(1L, 2L, 3L))
    // ItemKNN's co-stats carry no users either
    val knn = new ItemKNN(numNeighbours = 3).fit(log.filter($"query_id" === 1))
    val (pairs, dfs) = ItemKNN.mergeStats(knn.coStats(lo), knn.coStats(hi))
    knn.fitFromStats(pairs, dfs)
    assert(predicted(knn) == Set(1L, 2L, 3L))
    assert(knn.fitQueries == null)
    assert(knn.fitItems.as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // nor do EASE's Gram cells
    val ease = new Ease().fit(log.filter($"query_id" === 1))
    ease.fitFromCells(ease.mergeCells(ease.gramCells(lo), ease.gramCells(hi)))
    assert(predicted(ease) == Set(1L, 2L, 3L))
    assert(ease.fitQueries == null)
    assert(ease.fitItems.as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // RepeatRec's pair stats carry users: the fit queries are theirs
    val timed = log.withColumn("timestamp", F.timestamp_seconds($"timestamp"))
    val repeat = new RepeatRec().fit(timed.filter($"query_id" === 1))
    repeat.fitFromStats(repeat.mergeStats(
      repeat.pairStats(timed.filter($"query_id" <= 2)),
      repeat.pairStats(timed.filter($"query_id" === 3))))
    assert(predicted(repeat) == Set(1L, 2L, 3L))
    assert(repeat.fitQueries.as[Long].collect().toSet == Set(1L, 2L, 3L))
  }
}

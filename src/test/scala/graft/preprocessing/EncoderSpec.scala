package graft.preprocessing

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}

class EncoderSpec extends SparkSpec {
  import spark.implicits._

  test("fit assigns dense codes in sorted label order") {
    val df = Seq("c", "a", "b", "a").toDF("label_col")
    val enc = LabelEncoder.fit(df, "label_col")
    val m = enc.mapping.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("transform + inverseTransform is a bijection") {
    val df = Seq(10L, 30L, 20L, 30L).toDF("x")
    val enc = LabelEncoder.fit(df, "x")
    val round = enc.inverseTransform(enc.transform(df))
    assert(round.as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L, 30L))
  }

  test("unknown policy Error throws, Drop drops, UseDefault substitutes") {
    val fitDf = Seq(1L, 2L).toDF("x")
    val newDf = Seq(1L, 3L).toDF("x")
    intercept[IllegalArgumentException] {
      LabelEncoder.fit(fitDf, "x", HandleUnknown.Error).transform(newDf).count()
    }
    assert(LabelEncoder.fit(fitDf, "x", HandleUnknown.Drop).transform(newDf).count() == 1)
    val sub = LabelEncoder.fit(fitDf, "x", HandleUnknown.UseDefault(-1L))
      .transform(newDf).as[Long].collect().toSet
    assert(sub == Set(0L, -1L))
  }

  test("handleUnknown=Error fails at transform, counting the distinct unseen labels") {
    val enc = LabelEncoder.fit(Seq(1L, 2L).toDF("x"), "x", HandleUnknown.Error)
    val e = intercept[IllegalArgumentException](enc.transform(Seq(1L, 3L, 3L, 4L).toDF("x")))
    assert(e.getMessage == "2 unseen labels in 'x' with handleUnknown=Error")
    assert(enc.transform(Seq(2L, 1L, 2L).toDF("x")).as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 1L))
  }

  test("the mapping is a materialized leaf after fit, partialFit and load") {
    val fitted = LabelEncoder.fit(Seq("b", "a").toDF("x"), "x")
    val grown = fitted.partialFit(Seq("c", "a").toDF("x"))
    val dir = java.nio.file.Files.createTempDirectory("encoder_leaf").toString
    graft.models.ModelIO.saveEncoder(grown, s"$dir/enc")
    val loaded = graft.models.ModelIO.loadEncoder(spark, s"$dir/enc")
    for ((what, enc) <- Seq("fit" -> fitted, "partialFit" -> grown, "load" -> loaded)) {
      val plan = enc.mapping.queryExecution.optimizedPlan
      assert(enc.mapping.storageLevel.useMemory, s"$what: mapping not cached")
      // the planner reads the cached size, not a default estimate
      assert(plan.stats.sizeInBytes < 1024 * 1024, s"$what: ${plan.stats.sizeInBytes}")
    }
    for (enc <- Seq(grown, loaded))
      assert(enc.transform(Seq("a", "c").toDF("x")).as[Long].collect().toSet == Set(0L, 2L))
    Seq(fitted, grown, loaded).foreach(_.mapping.unpersist())
  }

  test("partialFit appends new labels after max code") {
    val enc = LabelEncoder.fit(Seq("b", "a").toDF("x"), "x")
    val enc2 = enc.partialFit(Seq("c", "a", "d").toDF("x"))
    val m = enc2.mapping.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
  }

  test("sessionizer splits on gap and counts sessions per user") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:10:00"),
      (1L, "2024-01-01 12:00:00"), (2L, "2024-01-01 09:00:00"),
    ).toDF("user_id", "ts").withColumn("ts", F.to_timestamp($"ts"))
    val out = Sessionizer(sessionGapSec = 3600, userCol = "user_id", tsCol = "ts")
      .transform(df)
    val seqs = out.orderBy("user_id", "ts").select("session_seq").as[Long].collect().toSeq
    assert(seqs == Seq(1L, 1L, 2L, 1L))
  }

  test("greedy discretizer produces monotone buckets covering the range") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val model = Discretizer.fitGreedy(df, "v", nBuckets = 4)
    val out = model.transform(df)
    val buckets = out.select("v_bucket").as[Long].collect()
    assert(buckets.min == 0 && buckets.max >= 2)
    // monotone: bucket of 90 >= bucket of 10
    val by = out.collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(by(90.0) >= by(10.0))
  }

  test("quantile discretizer buckets are near-equal-weight") {
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val model = Discretizer.fitQuantile(df, "v", nBuckets = 4)
    val sizes = model.transform(df).groupBy("v_bucket").count()
      .as[(Long, Long)].collect().toMap.values
    assert(sizes.forall(s => s > 150 && s < 350))
  }

  test("DatasetLabelEncoder: one consistent dense id space across all tables") {
    import graft.core.RsDataset
    val interactions = Seq((10L, 100L, 1.0), (20L, 200L, 1.0), (10L, 200L, 1.0))
      .toDF("query_id", "item_id", "rating")
    // user 30 is feature-only (no interactions) — must still get a code
    val qf = Seq((10L, "a"), (20L, "b"), (30L, "a"))
      .toDF("query_id", "segment")
    val itf = Seq((100L, 1.0), (200L, 2.0)).toDF("item_id", "weight")
    val ds = RsDataset(interactions, Some(qf), Some(itf))
    val enc = new DatasetLabelEncoder(
      categoricalQueryFeatures = Seq("segment"))
    val out = enc.fitTransform(ds)
    // dense codes 0..n-1, consistent across interactions and features
    val qi = out.interactions.select("query_id").as[Long].collect().toSet
    val qq = out.queryFeatures.get.select("query_id").as[Long].collect().toSet
    assert(qq == Set(0L, 1L, 2L))      // includes the feature-only user
    assert(qi.subsetOf(qq))
    assert(out.checkEncoded())
    // the categorical feature is re-coded to dense longs
    val segs = out.queryFeatures.get.select("segment").as[Long].collect().toSet
    assert(segs == Set(0L, 1L))
    // id joins between tables still line up after encoding
    val joined = out.interactions.join(out.queryFeatures.get, "query_id").count()
    assert(joined == interactions.count())
  }

  test("sequence tokenizer: left-pad short users, keep most recent for long ones") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq(
      // user 1: 2 events < maxLen 4 → left-padded with 2 zeros
      (1L, 10L, t("2024-01-01 10:00:00")), (1L, 11L, t("2024-01-02 10:00:00")),
      // user 2: 6 events > maxLen 4 → keeps the 4 MOST RECENT (23..26)
      (2L, 21L, t("2024-01-01 10:00:00")), (2L, 22L, t("2024-01-02 10:00:00")),
      (2L, 23L, t("2024-01-03 10:00:00")), (2L, 24L, t("2024-01-04 10:00:00")),
      (2L, 25L, t("2024-01-05 10:00:00")), (2L, 26L, t("2024-01-06 10:00:00")),
      // user 3: exactly maxLen → unchanged, no padding
      (3L, 31L, t("2024-01-01 10:00:00")), (3L, 32L, t("2024-01-02 10:00:00")),
      (3L, 33L, t("2024-01-03 10:00:00")), (3L, 34L, t("2024-01-04 10:00:00")),
    ).toDF("query_id", "item_id", "timestamp")
    val out = SequenceTokenizer.pad(log, maxLen = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toList, r.getLong(2)))).toMap
    assert(out(1L) == ((List(0L, 0L, 10L, 11L), 2L)))
    assert(out(2L) == ((List(23L, 24L, 25L, 26L), 4L)))
    assert(out(3L) == ((List(31L, 32L, 33L, 34L), 4L)))
    // same-timestamp ties break on item id, both in crop and rebuild
    val ties = Seq(
      (9L, 5L, t("2024-01-01 10:00:00")), (9L, 3L, t("2024-01-01 10:00:00")),
      (9L, 4L, t("2024-01-01 10:00:00")),
    ).toDF("query_id", "item_id", "timestamp")
    val tied = SequenceTokenizer.pad(ties, maxLen = 2).collect().head
    assert(tied.getSeq[Long](1).toList == List(4L, 5L) && tied.getLong(2) == 2L)
    // non-default pad value
    val pv = SequenceTokenizer.pad(log.filter($"query_id" === 1L),
      maxLen = 3, padValue = -1L).collect().head
    assert(pv.getSeq[Long](1).toList == List(-1L, 10L, 11L))
    intercept[IllegalArgumentException] { SequenceTokenizer.pad(log, maxLen = 0) }
  }
}

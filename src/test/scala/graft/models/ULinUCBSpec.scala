package graft.models

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}
import breeze.linalg.{inv, DenseMatrix, DenseVector}

/** Pins ULinUCB (u_lin_ucb.py:11-117) and the HCB HierarchicalRecommender
  * (hierarchical_recommender.py:13-280) semantics on hand-computable
  * fixtures. */
class ULinUCBSpec extends SparkSpec {
  import spark.implicits._

  // log: (query_id, item_id, rating); items 1..3 with d=2 features
  private def fixture = {
    val log = Seq(
      (1L, 1L, 1.0), (1L, 2L, 0.0),
      (2L, 2L, 1.0), (2L, 3L, 1.0),
      (3L, 1L, 0.0), (3L, 3L, 1.0),
    ).toDF("query_id", "item_id", "rating")
    val feats = Seq(
      (1L, 1.0, 0.0), (2L, 0.0, 1.0), (3L, 1.0, 1.0),
    ).toDF("item_id", "f1", "f2")
    (log, feats)
  }

  /** Reference mirror: sequential shared-(A,b) accumulation over users
    * ascending (u_lin_ucb.py:96-116), ridge I + Σxxᵀ, θ = A⁻¹b,
    * ucb = θᵀx + α·√(xᵀA⁻¹x). */
  private def referenceUcb(
      rows: Seq[(Long, Array[Double], Double)], // (query, x, r) sorted by query
      items: Seq[(Long, Array[Double])],
      alpha: Double): Map[(Long, Long), Double] = {
    val d = items.head._2.length
    var a = DenseMatrix.eye[Double](d)
    var b = DenseVector.zeros[Double](d)
    val out = scala.collection.mutable.Map.empty[(Long, Long), Double]
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (q, urows) =>
      urows.foreach { case (_, x, r) =>
        val xv = DenseVector(x)
        a = a + xv * xv.t
        b = b + xv * r
      }
      val aInv = inv(a)
      val theta = aInv * b
      items.foreach { case (i, x) =>
        val xv = DenseVector(x)
        out((q, i)) = (theta dot xv) + alpha * math.sqrt(math.max(xv dot (aInv * xv), 0.0))
      }
    }
    out.toMap
  }

  test("ULinUCB d=2 adjugate path matches the sequential reference accumulation") {
    val (log, feats) = fixture
    val m = new ULinUCB(alpha = -2.0).fit(log, feats)
    val got = m.relevance(log).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rows = log.collect().map(r => (r.getLong(0),
      Array.empty[Double], r.getDouble(2))).toSeq
    // re-attach features
    val fmap = Map(1L -> Array(1.0, 0.0), 2L -> Array(0.0, 1.0), 3L -> Array(1.0, 1.0))
    val logRows = log.collect().toSeq.map(r =>
      (r.getLong(0), fmap(r.getLong(1)), r.getDouble(2))).sortBy(_._1)
    val want = referenceUcb(logRows, fmap.toSeq.map { case (k, v) => (k, v) },
      alpha = -2.0)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-8, s"cell $k: got $v want ${want(k)}")
    }
  }

  test("ULinUCB prefix accumulation: user 1 snapshot ignores later users") {
    val (log, feats) = fixture
    val full = new ULinUCB(alpha = -2.0).fit(log, feats)
    val only1 = new ULinUCB(alpha = -2.0)
      .fit(log.filter($"query_id" === 1L), feats)
    val a = full.relevance(Seq(1L).toDF("query_id")).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    val b = only1.relevance(Seq(1L).toDF("query_id")).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(a == b)
  }

  test("ULinUCB d=3 Breeze path agrees with the reference accumulation") {
    val log = Seq(
      (1L, 1L, 1.0), (1L, 2L, 0.0), (2L, 3L, 1.0), (2L, 1L, 1.0),
    ).toDF("query_id", "item_id", "rating")
    val fmap = Map(
      1L -> Array(1.0, 0.0, 2.0), 2L -> Array(0.0, 1.0, 1.0),
      3L -> Array(1.0, 1.0, 0.0))
    val feats = fmap.toSeq.map { case (i, x) => (i, x(0), x(1), x(2)) }
      .toDF("item_id", "f1", "f2", "f3")
    val m = new ULinUCB(alpha = -1.5).fit(log, feats)
    val got = m.relevance(log).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val logRows = log.collect().toSeq.map(r =>
      (r.getLong(0), fmap(r.getLong(1)), r.getDouble(2))).sortBy(_._1)
    val want = referenceUcb(logRows, fmap.toSeq.map { case (k, v) => (k, v) },
      alpha = -1.5)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-8, s"cell $k: got $v want ${want(k)}")
    }
  }

  test("ULinUCB unseen query gets the reference's zero row; filterSeen anti-joins") {
    val (log, feats) = fixture
    val m = new ULinUCB(alpha = -2.0).fit(log, feats)
    val rel = m.relevance(Seq(99L).toDF("query_id")).collect()
    assert(rel.length == 3 && rel.forall(_.getDouble(2) == 0.0))
    val recs = m.predict(log, k = 3, filterSeen = true).collect()
    val seen = log.select("query_id", "item_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recs.nonEmpty)
    recs.foreach(r => assert(!seen((r.getLong(0), r.getLong(1)))))
  }

  test("ULinUCB and HierarchicalRecommender ModelIO round-trip: predict-after-load ≡ before") {
    val (log, feats) = fixture
    val m = new ULinUCB(alpha = -2.0).fit(log, feats)
    val dir = java.nio.file.Files.createTempDirectory("ulinucb_io").toString
    ModelIO.save(m, dir)
    val loaded = ModelIO.load(spark, dir).asInstanceOf[ULinUCB]
    val before = m.predict(log, k = 2).collect().map(_.toSeq).sortBy(_.mkString)
    val after = loaded.predict(log, k = 2).collect().map(_.toSeq).sortBy(_.mkString)
    assert(before.toSeq == after.toSeq)

    val hlog = (1L to 20L).flatMap { q =>
      (0 until 3).map(j => (q, (q * 3 + j * 5) % 12, (j % 2).toDouble))
    }.toDF("query_id", "item_id", "rating")
    val hfeats = (0L until 12L).map(i =>
      (i, (i % 4).toDouble, (i % 3).toDouble)).toDF("item_id", "f1", "f2")
    val h = new HierarchicalRecommender(depth = 2, nClusters = 2)
      .fit(hlog, hfeats)
    val hdir = java.nio.file.Files.createTempDirectory("hcb_io").toString
    ModelIO.save(h, hdir)
    val hl = ModelIO.load(spark, hdir).asInstanceOf[HierarchicalRecommender]
    val hb = h.predict(hlog, k = 2).collect().map(_.toSeq).sortBy(_.mkString)
    val ha = hl.predict(hlog, k = 2).collect().map(_.toSeq).sortBy(_.mkString)
    assert(hb.toSeq == ha.toSeq)
  }

  test("HierarchicalRecommender routes each user inside one root cluster, ≤k, seen-filtered") {
    val log = (1L to 40L).flatMap { q =>
      (0 until 3).map(j => (q, (q * 7 + j * 13) % 20, ((q + j) % 2).toDouble))
    }.toDF("query_id", "item_id", "rating")
    val feats = (0L until 20L).map(i =>
      (i, (i % 5).toDouble, (i % 3).toDouble)).toDF("item_id", "f1", "f2")
    val m = new HierarchicalRecommender(depth = 2, nClusters = 3, alpha = -2.0)
      .fit(log, feats)
    val recs = m.predict(log, k = 2).cache()
    val perUser = recs.groupBy("query_id").agg(F.count(F.lit(1)).as("n"))
      .collect()
    assert(perUser.nonEmpty && perUser.forall(_.getLong(1) <= 2))
    val seen = log.select("query_id", "item_id").distinct()
    assert(recs.join(seen, Seq("query_id", "item_id"), "left_semi").count() == 0)
    val nClusters = recs.join(m.rootAssignment, Seq("item_id"))
      .groupBy("query_id").agg(F.countDistinct("_cl").as("nc")).collect()
    assert(nClusters.forall(_.getLong(1) == 1L),
      "every user's recs must live inside a single root cluster")
  }
}

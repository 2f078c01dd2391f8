package graft.models

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}

class UserKNNSpec extends SparkSpec {
  import spark.implicits._

  // u1{10,20}, u2{10,20,30}, u3{30}
  private def log = Seq(
    (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (2L, 30L), (3L, 30L),
  ).map { case (q, i) => (q, i, 1.0) }.toDF("query_id", "item_id", "rating")

  test("hand golden: cosine neighbours with exact values") {
    val m = new UserKNN(numNeighbours = 5).fit(log)
    val sims = m.similarity.as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // sim(1,2) = 2/(√2·√3), sim(2,3) = 1/(√3·1), sim(1,3) = 0 (absent)
    assert(math.abs(sims((1L, 2L)) - 2.0 / math.sqrt(6.0)) < 1e-12)
    assert(math.abs(sims((2L, 3L)) - 1.0 / math.sqrt(3.0)) < 1e-12)
    assert(!sims.contains((1L, 3L)))
    assert(!sims.contains((1L, 1L)), "no self-similarity")
  }

  test("predict golden: neighbour history scores, seen filtered") {
    val m = new UserKNN(numNeighbours = 5).fit(log)
    val r = m.predict(log, k = 5).as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // u1's only unseen candidate from its neighbourhood is 30 (via u2)
    assert(math.abs(r.getOrElse((1L, 30L), -1.0) - 2.0 / math.sqrt(6.0)) < 1e-6)
    // u3's unseen candidates are u2's {10, 20}
    assert(math.abs(r.getOrElse((3L, 10L), -1.0) - 1.0 / math.sqrt(3.0)) < 1e-6)
    assert(!r.contains((1L, 10L)) && !r.contains((1L, 20L)), "seen filtered")
  }

  test("transpose law: UserKNN(log) equals ItemKNN(logᵀ)") {
    // swapping the query/item roles turns user-user cosine into item-item
    // cosine over the same bipartite graph — both paths must agree cell
    // for cell (caps disabled so neither binds)
    val m = new UserKNN(numNeighbours = 3, maxItemAudience = 0).fit(log)
    val transposed = log.select(F.col("item_id").as("query_id"),
      F.col("query_id").as("item_id"), F.col("rating"))
    val it = new ItemKNN(numNeighbours = 3, maxUserHistory = 0).fit(transposed)
    val a = m.similarity.orderBy("query_one", "query_two")
      .as[(Long, Long, Double)].collect().toSeq
    val b = it.similarity.orderBy("item_one", "item_two")
      .as[(Long, Long, Double)].collect().toSeq
    assert(a == b)
    // ContentKNN is ItemKNN with features in the users' role: over a
    // feature table f, ContentKNN(f) equals ItemKNN(f with feature as query)
    val f = log.select(F.col("item_id"), F.col("query_id").as("feature"))
    val c = new ContentKNN(numNeighbours = 3, maxFeatureAudience = 0).fitFeatures(f)
    val ik = new ItemKNN(numNeighbours = 3, maxUserHistory = 0)
      .fit(f.withColumnRenamed("feature", "query_id"))
    def cells(s: org.apache.spark.sql.DataFrame) = s.orderBy("item_one", "item_two")
      .as[(Long, Long, Double)].collect().toSeq
    assert(cells(c.similarity) == cells(ik.similarity))
  }

  test("predictPairs scores pairs, zero for out-of-neighbourhood") {
    val m = new UserKNN(numNeighbours = 5).fit(log)
    val pairs = Seq((1L, 30L), (3L, 99L)).toDF("query_id", "item_id")
    val got = m.predictPairs(pairs, log).orderBy("query_id")
      .select("rating").as[Double].collect().toSeq
    assert(math.abs(got.head - 2.0 / math.sqrt(6.0)) < 1e-6)
    assert(got(1) == 0.0)
  }

  test("save/load round-trips; optimize borders decode") {
    val m = new UserKNN(numNeighbours = 5).fit(log)
    val dir = java.nio.file.Files.createTempDirectory("uknn").toString
    ModelIO.save(m, dir)
    val back = ModelIO.load(spark, dir).asInstanceOf[UserKNN]
    val a = m.predict(log, 3).orderBy("query_id", "item_id").collect().toSeq
    val b = back.predict(log, 3).orderBy("query_id", "item_id").collect().toSeq
    assert(a == b)
    assert(back.numNeighbours == 5)
    val w = m.withParams(Map("num_neighbours" -> 7.4))
    assert(w.numNeighbours == 7)
  }
}

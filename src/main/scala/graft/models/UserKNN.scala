package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.core.Persist

/** User-user cosine KNN (engine extra — the reference ships only the
  * item-based neighbour model, replay/models/knn.py:74-229; this is its
  * exact transpose, the other classic memory-based CF baseline).
  *
  * fit: binary user vectors over distinct (user, item) pairs through the
  * family's cosine kernel ([[ItemKNN.stats]] → [[ItemKNN.topK]]) with the
  * ITEM as the join key: dot products via a self-join on the item (user1 <
  * user2 then symmetrized), cosine with shrinkage
  * sim = dot / (‖u‖·‖v‖ + shrink), then a per-user top-`numNeighbours`
  * bounded crop. Unweighted sums are exact integer counts, so the
  * similarity needs no rounding before the crop (the ItemKNN rule).
  *
  * predict: score(u, i) = Σ_{v ∈ neighbours(u)} sim(u, v) · 1[(v, i) ∈
  * train] — one equi-join of the cropped neighbour table onto the train
  * pairs, one aggregation; candidates are automatically bounded to items
  * the neighbourhood consumed. Seen-filter and top-k ride the base path.
  *
  * Scale: the item self-join is the hazard (a catalog blockbuster with
  * 10⁶ consumers would contribute 10¹² pairs) — `maxItemAudience` caps
  * each item's contribution with [[ItemKNN.cap]] before the join, the
  * transpose of ItemKNN's maxUserHistory cap (the SQL oracles assume it
  * does not bind, see there). */
final class UserKNN(
    val numNeighbours: Int = 10,
    val shrink: Double = 0.0,
    val maxItemAudience: Int = 1000,
    cols: RecCols = RecCols(),
) extends BaseRecommender(cols) {
  /** (query_one, query_two, similarity) — top neighbours per query_one. */
  var similarity: DataFrame = _
  /** distinct (query, item) train pairs — the vectors scoring sums over. */
  var trainPairs: DataFrame = _

  protected def doFit(log: DataFrame): Unit = {
    trainPairs = held(Persist.leaf(log.select(cols.query, cols.item).distinct()))
    // r13 (guide §2.4): the capped cells feed norms + both self-join sides —
    // cache once instead of re-running the audience-cap window three times.
    val cells = ItemKNN.cap(trainPairs, cols.item, Seq(cols.query, cols.item),
      cols.query, maxItemAudience).withColumn("_v", F.lit(1L)).cache()
    val (pairs, dfs) = ItemKNN.stats(cells, cols.item, cols.query, "query_one", "query_two")
    // a cached frame, not a leaf: its plan shows the crop (PlanSpec), and
    // UserKNN has no stats refit whose plans could nest
    ItemKNN.topK(pairs, dfs, cols.query, "query_one", "query_two", numNeighbours,
      shrink) { crop =>
      similarity = held(crop.cache())
      similarity.count()
    }
    cells.unpersist() // scratch; state = similarity + trainPairs
  }

  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame = {
    val sims = similarity.join(
      queries.select(F.col(cols.query).as("query_one")).distinct(),
      Seq("query_one"), "left_semi")
    val hist = restrictItems(trainPairs, items)
      .withColumnRenamed(cols.query, "query_two")
    // round to 9 decimals before ranking: float sums are partition-order
    // dependent at the last ulp (the NeighbourRec discipline)
    sims.join(hist, Seq("query_two"))
      .groupBy(F.col("query_one").as(cols.query), F.col(cols.item))
      .agg(F.round(F.sum("similarity"), 9).as(cols.rating))
  }

  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame = {
    val scores = score(pairs.select(cols.query).distinct(), 0, 0)
    pairs.join(scores, Seq(cols.query, cols.item), "left")
      .withColumn(cols.rating, F.coalesce(F.col(cols.rating), F.lit(0.0)))
  }

  /** knn.py:32 search space, transposed: neighbourhood size. */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "num_neighbours" -> (1.0, 100.0))

  override def withParams(p: Map[String, Double]): UserKNN = new UserKNN(
    numNeighbours = p.get("num_neighbours").map(_.round.toInt)
      .getOrElse(numNeighbours),
    shrink, maxItemAudience, cols)
}

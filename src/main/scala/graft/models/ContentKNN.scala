package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.core.Persist

/** Content-based item KNN (engine extra — the reference's neighbour
  * family is purely collaborative; this is the COLD-ITEM complement: an
  * item never interacted with still has attributes, so it can both be
  * recommended and anchor "similar items" queries from day one).
  *
  * fit consumes a LONG-format item feature table (item, feature string) —
  * e.g. "brand:X", "type:Y", bucketed numerics — and builds
  *
  *   sim(i, j) = |F_i ∩ F_j| / (√|F_i| · √|F_j|)    (one-hot cosine)
  *
  * i.e. the ItemKNN cosine with features playing the role users play in
  * the collaborative model. The state is the same cropped
  * (item_one, item_two, similarity) table, so predict / predictPairs /
  * explain / getNearestItems all ride the [[NeighbourRec]] surface
  * unchanged — scoring a user = summing content similarities over their
  * history, the classic content-based fallback.
  *
  * Scale: the feature self-join is the hazard transposed once more — a
  * near-universal feature (every item shares "lang:en") contributes
  * |audience|² pairs. `maxFeatureAudience` caps each feature's
  * contribution with [[ItemKNN.cap]] before the join (the SQL oracles
  * assume it does not bind, see there — drop universal features upstream,
  * they carry no signal and quadratic cost). The similarity comes from the
  * family's cosine kernel ([[ItemKNN.stats]] → [[ItemKNN.topK]]) with the
  * feature as the join key: upper-triangle pairs, symmetrized; the
  * per-item crop bounds predict's fan-out. */
final class ContentKNN(
    val numNeighbours: Int = 10,
    val shrink: Double = 0.0,
    val maxFeatureAudience: Int = 1000,
    cols: RecCols = RecCols(),
) extends NeighbourRec(cols) {
  /** The (item, feature) table the similarities were built on. */
  var features: DataFrame = _

  protected def doFit(log: DataFrame): Unit =
    throw new UnsupportedOperationException(
      "ContentKNN fits on an item FEATURE table — call fitFeatures(features)")

  /** Build the content similarity state from (item, feature) rows. */
  def fitFeatures(feats: DataFrame): this.type = held.refit {
    features = held(Persist.leaf(feats.select(F.col(cols.item), F.col("feature")).distinct()))
    fitItemsDf = features.select(F.col(cols.item)).distinct()
    // r13 (guide §2.4): the capped cells feed norms + both self-join sides —
    // cache once instead of running the cap window three times.
    val cells = ItemKNN.cap(features, "feature", Seq(cols.item, "feature"),
      cols.item, maxFeatureAudience).withColumn("_v", F.lit(1L)).cache()
    val (pairs, dfs) = ItemKNN.stats(cells, "feature", cols.item, "item_one", "item_two")
    ItemKNN.topK(pairs, dfs, cols.item, "item_one", "item_two", numNeighbours,
      shrink)(materialize)
    cells.unpersist() // scratch; state = similarity + features
    this
  }

  /** Same knob ranges as the collaborative ItemKNN (knn.py:32-37):
    * neighbours integer [1, 100], shrink integer [0, 100]. */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "num_neighbours" -> (1.0, 100.0), "shrink" -> (0.0, 100.0))

  override def withParams(p: Map[String, Double]): ContentKNN = new ContentKNN(
    numNeighbours = p.get("num_neighbours").map(v => math.round(v).toInt)
      .getOrElse(numNeighbours),
    shrink = p.get("shrink").map(v => math.round(v).toDouble).getOrElse(shrink),
    maxFeatureAudience, cols)
}

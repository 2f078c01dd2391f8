package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Association-rule item recommender
  * (reference: replay/models/association_rules.py:167-289).
  *
  * fit over session-distinct events:
  *  - frequent items: count >= minItemCount
  *  - pair counts from a session self-join with `antecedent < consequent`
  *    (equi-join on session + inequality kept in the condition so Catalyst
  *    stays sort-merge, SURVEY §2.3), kept if >= minPairCount
  *  - symmetrize via unionByName
  *  - confidence = pair / antecedent_count
  *  - lift = N · confidence / consequent_count
  *  - confidence_gain = confidence / ((consequent − pair) / (N − antecedent))
  *    with a null guard where the denominator is 0 (reference ∞ guard)
  *  - top-`numNeighbours` rules per antecedent by (confidence desc, item)
  *
  * The similarity column used for NeighbourRec prediction is `lift`
  * (reference default). */
final class AssociationRules(
    val sessionCol: String = "session_id",
    val minItemCount: Long = 5,
    val minPairCount: Long = 5,
    val numNeighbours: Int = 30,
    cols: RecCols = RecCols(),
) extends NeighbourRec(cols) {

  /** Full rule table (antecedent, consequent, confidence, lift,
    * confidence_gain) — also exposed for inspection. */
  var rules: DataFrame = _

  protected def doFit(log: DataFrame): Unit = {
    val events = log.select(F.col(sessionCol).as("_s"), F.col(cols.item)).distinct()
    val nSessions = events.select("_s").distinct().count().toDouble

    val itemCnt = events.groupBy(cols.item).agg(F.count(F.lit(1)).as("_cnt"))
      .filter(F.col("_cnt") >= minItemCount)

    val frequent = events.join(itemCnt.select(cols.item), Seq(cols.item), "left_semi")

    val a = frequent.select(F.col("_s"), F.col(cols.item).as("antecedent"))
    val b = frequent.select(F.col("_s"), F.col(cols.item).as("consequent"))
    val pairs = a.join(b, Seq("_s"))
      .filter(F.col("antecedent") < F.col("consequent"))
      .groupBy("antecedent", "consequent")
      .agg(F.count(F.lit(1)).as("_pair"))
      .filter(F.col("_pair") >= minPairCount)

    val sym = pairs.unionByName(pairs.select(
      F.col("consequent").as("antecedent"), F.col("antecedent").as("consequent"),
      F.col("_pair")))

    val withCounts = sym
      .join(itemCnt.select(F.col(cols.item).as("antecedent"), F.col("_cnt").as("_ant_cnt")),
        Seq("antecedent"))
      .join(itemCnt.select(F.col(cols.item).as("consequent"), F.col("_cnt").as("_con_cnt")),
        Seq("consequent"))

    val conf = F.col("_pair") / F.col("_ant_cnt")
    val lift = F.lit(nSessions) * conf / F.col("_con_cnt")
    val cgDenom = (F.col("_con_cnt") - F.col("_pair")) / (F.lit(nSessions) - F.col("_ant_cnt"))
    val confidenceGain = F.when(cgDenom > 0, conf / cgDenom).otherwise(F.lit(null))

    rules = held(withCounts.select(
      F.col("antecedent"), F.col("consequent"),
      conf.as("confidence"), lift.as("lift"), confidenceGain.as("confidence_gain"))
      .cache())
    rules.count()

    val topW = Window.partitionBy("antecedent")
      .orderBy(F.col("confidence").desc, F.col("consequent").asc)
    materialize(rules
      .withColumn("_rn", F.row_number().over(topW))
      .filter(F.col("_rn") <= numNeighbours)
      .select(F.col("antecedent").as("item_one"),
        F.col("consequent").as("item_two"),
        F.col("lift").as("similarity")))
  }

  /** Reference association_rules.py:110-118: min_item_count / min_pair_count
    * int [3,10], num_neighbours int [300,2000]. (use_rating and
    * similarity_metric are categorical knobs this engine fixes to the
    * distinct-pair / lift semantics its oracle pins.) */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "min_item_count" -> (3.0, 10.0), "min_pair_count" -> (3.0, 10.0),
    "num_neighbours" -> (300.0, 2000.0))

  override def withParams(p: Map[String, Double]): AssociationRules =
    new AssociationRules(
      sessionCol,
      minItemCount = p.get("min_item_count").map(math.round).getOrElse(minItemCount),
      minPairCount = p.get("min_pair_count").map(math.round).getOrElse(minPairCount),
      numNeighbours = p.get("num_neighbours").map(v => math.round(v).toInt)
        .getOrElse(numNeighbours),
      cols)

  /** Association metrics valid for item-to-item queries
    * (association_rules.py:106-111). */
  val itemToItemMetrics: Seq[String] = Seq("lift", "confidence_gain")

  /** Top-k associated items per anchor by `lift` or `confidence_gain`,
    * from the FULL rule table — not the numNeighbours-cropped similarity
    * state (reference association_rules.py:297-355 queries
    * self.similarity, which it materializes uncropped). */
  def getNearestItems(items: DataFrame, k: Int, metric: String,
      candidates: Option[DataFrame]): DataFrame = {
    require(itemToItemMetrics.contains(metric),
      s"metric must be one of ${itemToItemMetrics.mkString(", ")}: got $metric")
    NearestItems.fromSimilarity(
      rules.select(F.col("antecedent").as("item_one"),
        F.col("consequent").as("item_two"), F.col(metric)),
      cols.item, items, k, candidates, relCol = metric)
  }
}

/** Main + fallback recommender (reference: replay/scenarios/fallback.py:13-120):
  * fallback scores are shifted strictly below the main minimum, then merged
  * full-outer with main taking precedence. */
final class Fallback(
    val main: BaseRecommender,
    val fallback: BaseRecommender,
    cols: RecCols = RecCols(),
) extends Serializable {
  def fit(log: DataFrame): this.type = { main.fit(log); fallback.fit(log); this }

  def predict(log: DataFrame, k: Int, queries: Option[DataFrame] = None,
      filterSeen: Boolean = true): DataFrame = {
    val m = main.predict(log, k, queries, filterSeen)
    val f = fallback.predict(log, k, queries, filterSeen)
    val merged = graft.core.Ops.fallbackMerge(m, f, cols.query, cols.item, cols.rating)
    graft.core.Ops.getTopKRecs(merged, k, cols.query, cols.item, cols.rating)
  }
}

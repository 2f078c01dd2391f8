package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** P³ / RP³β random-walk recommender (engine extra — Cooper et al.,
  * WWW 2014 "Random Walks in Recommender Systems"; Paudel et al., TiiS
  * 2017 for the RP³β popularity penalty). The classic graph baseline the
  * item-item family (ItemKNN / SLIM / EASE) is benchmarked against.
  *
  * Semantics, on the BINARY user-item adjacency (the published model is
  * defined on implicit feedback; ratings are ignored, duplicates merge):
  *
  *   P(i→u) = 1/deg(i)      P(u→j) = 1/deg(u)
  *   sim(i→j) = Σ_{u rated both} P(i→u)·P(u→j)          (the 2-step walk)
  *   RP³β:      sim(i→j) / deg(j)^β                     (integer β ≥ 0)
  *   score(q,i) = (Σ_{j ∈ hist(q)} sim(j→i)) / deg(q)   (the 3rd step)
  *
  * All arithmetic is EXACT integer parts-per-trillion (the BiasModel /
  * SlopeOne house style): each walk term quantizes to
  * `10^12 div (deg(i)·deg(u))` — both engines perform the identical
  * integral operations, so every score hash-compares cross-engine.
  * Deliberate deviation from the published continuous (α, β) sweep: the
  * transition exponent is fixed at α = 1 (the plain P³ walk) and β is an
  * integer, because fractional exponents leave the exact-rational field.
  *
  * Scale: the user self-join is the ItemKNN Gram hazard and is bounded the
  * same two ways — `maxUserHistory` caps each user's pair fan-out
  * ([[ItemKNN.cap]]; the SQL oracles assume it does not bind), and
  * `topKNeighbours` crops the walk matrix per source item before predict,
  * so the history⋈similarity join streams a bounded per-item fan-out.
  * Pair generation is item₁ < item₂ then both directions emitted from the
  * one aggregated row (sim(i→j) and sim(j→i) share the co-rater set),
  * halving the shuffle volume. Degrees are computed AFTER the history cap
  * so the walk stays a true probability walk on the graph actually joined.
  */
final class P3AlphaRec(
    val beta: Int = 0,
    val topKNeighbours: Int = 100,
    val maxUserHistory: Int = 1000,
    cols: RecCols = RecCols(),
) extends BaseRecommender(cols) {
  require(beta >= 0, s"beta must be a non-negative integer, got $beta")

  /** (item_from, item_to, sim_ppt): the cropped directed walk matrix,
    * already divided by deg(item_to)^β. */
  var similarity: DataFrame = _
  /** (query, du): capped binary history length per user. */
  var userDegrees: DataFrame = _
  /** The capped binary (query, item) adjacency the walk was built on. */
  var trainPairs: DataFrame = _

  protected def doFit(log: DataFrame): Unit = {
    val capped = ItemKNN.cap(
      log.select(F.col(cols.query), F.col(cols.item)).distinct(),
      cols.query, Seq(cols.query, cols.item), cols.item, maxUserHistory).cache()
    // r13 (guide §2.4): `capped` feeds FIVE subtrees of the fit plan (du,
    // di, both self-join sides, trainPairs) — uncached, each re-ran the
    // scan→distinct→cap-window chain. One cache = one computation; the
    // cache IS trainPairs' materialized state, so no extra memory is held.
    val du = capped.groupBy(cols.query).agg(F.count(F.lit(1)).as("du"))
    val di = capped.groupBy(cols.item).agg(F.count(F.lit(1)).as("di"))
    val adj = capped.join(du, Seq(cols.query)).join(di, Seq(cols.item))
    // one upper-triangle pass carries BOTH directed terms: the i→u→j and
    // j→u→i walks share the co-rater u, differing only in the source degree
    val l = adj.select(F.col(cols.query), F.col(cols.item).as("item_from"),
      F.col("di").as("_dl"), F.col("du"))
    val r = adj.select(F.col(cols.query), F.col(cols.item).as("item_to"),
      F.col("di").as("_dr"))
    // r13 (guide §2.4): `half` feeds BOTH union branches below — uncached,
    // the final aggregation of the self-join ran twice (ReuseExchange
    // shares the shuffle, not the final HashAggregate above it). Cached and
    // released once the cropped similarity materializes.
    val half = l.join(r, Seq(cols.query))
      .filter(F.col("item_from") < F.col("item_to"))
      .groupBy("item_from", "item_to")
      .agg(
        F.expr("sum(1000000000000L div (_dl * du))").cast("long").as("s_fwd"),
        F.expr("sum(1000000000000L div (_dr * du))").cast("long").as("s_bwd"),
      )
      .cache()
    val both = half.select(F.col("item_from"), F.col("item_to"),
        F.col("s_fwd").as("sim_ppt"))
      .unionByName(half.select(F.col("item_to").as("item_from"),
        F.col("item_from").as("item_to"), F.col("s_bwd").as("sim_ppt")))
    // deg(j)^β via repeated integral division — deg^β can overflow LONG for
    // large β, dividing β times cannot (and floor∘floor = floor for the
    // positive operands here, so both engines agree term-for-term)
    val penalized = if (beta == 0) both
    else both.join(di.withColumnRenamed(cols.item, "item_to"), Seq("item_to"))
      .withColumn("sim_ppt", F.expr((1 to beta)
        .foldLeft("sim_ppt")((acc, _) => s"($acc div di)")).cast("long"))
      .drop("di")
    val cropped = if (topKNeighbours > 0) {
      val w = Window.partitionBy("item_from")
        .orderBy(F.col("sim_ppt").desc, F.col("item_to").asc)
      penalized.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= topKNeighbours).drop("_rn")
    } else penalized
    similarity = held(cropped.select("item_from", "item_to", "sim_ppt").cache())
    similarity.count()
    half.unpersist() // scratch; the cropped similarity is the fit state
    userDegrees = held(du.cache()); userDegrees.count()
    trainPairs = held(capped); trainPairs.count()
  }

  /** Exact-ppt scores: Σ_{j∈hist} sim(j→candidate) div deg(query). Only
    * candidates reachable through the cropped walk matrix score — the
    * per-query candidate fan-out is |hist| × topKNeighbours, bounded. */
  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame = {
    val hist = trainPairs.join(queries.select(cols.query).distinct(),
      Seq(cols.query), "left_semi")
    val sim = items.map(it => similarity.join(
      it.select(F.col(cols.item).as("item_to")).distinct(),
      Seq("item_to"), "left_semi")).getOrElse(similarity)
    hist.select(F.col(cols.query), F.col(cols.item).as("item_from"))
      .join(sim, Seq("item_from"))
      .groupBy(cols.query, "item_to")
      .agg(F.sum("sim_ppt").as("_s"))
      .join(userDegrees, Seq(cols.query))
      .select(F.col(cols.query), F.col("item_to").as(cols.item),
        (F.expr("_s div du").cast("long").cast("double") / 1e12).as(cols.rating))
  }

  override def searchBorders: Map[String, (Double, Double)] = Map(
    "beta" -> (0.0, 3.0), "top_k_neighbours" -> (10.0, 500.0))

  override def withParams(p: Map[String, Double]): P3AlphaRec = new P3AlphaRec(
    beta = p.get("beta").map(v => math.round(v).toInt).getOrElse(beta),
    topKNeighbours = p.get("top_k_neighbours").map(v => math.round(v).toInt)
      .getOrElse(topKNeighbours),
    maxUserHistory, cols)

  /** Exact-ppt pair scoring (the SlopeOne shape: pairs ⋈ history ⋈ cropped
    * walk matrix, one aggregation); unreachable pairs surface NULL
    * score_ppt. */
  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame = {
    val hist = trainPairs.join(
      pairs.select(cols.query).distinct(), Seq(cols.query), "left_semi")
      .select(F.col(cols.query), F.col(cols.item).as("item_from"))
    val contrib = pairs.select(F.col(cols.query), F.col(cols.item).as("item_to"))
      .join(hist, Seq(cols.query))
      .join(similarity, Seq("item_from", "item_to"))
      .groupBy(F.col(cols.query), F.col("item_to").as(cols.item))
      .agg(F.sum("sim_ppt").as("_s"))
      .join(userDegrees, Seq(cols.query))
      .select(F.col(cols.query), F.col(cols.item),
        F.expr("_s div du").cast("long").as("score_ppt"))
    pairs.join(contrib, Seq(cols.query, cols.item), "left")
  }
}

package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.core.Ops

/** Damped-mean bias baseline — the classic rating predictor
  * r̂(u,i) = μ + b_u + b_i (the standard CF baseline from the Netflix-era
  * literature; engine extra — the reference has no rating-prediction
  * baseline). Biases are damped means of residuals:
  *   b_i = Σ_i (r − μ) / (λ_i + n_i),  b_u = Σ_u (r − μ − b_i) / (λ_u + n_u).
  *
  * All arithmetic is EXACT integer ppm (ratings floor-quantized to ppm,
  * every division an integral `div`), the engine's house style for
  * cross-engine hash-exact statistics — float sums would be
  * partition-order dependent in b_u's residual sum. Three partial+final
  * aggregations, state O(1) per entity; unknown users/items predict with
  * bias 0 (cold fallback to the damped tier above them). */
final class BiasModel(
    val lambdaItem: Long = 10L,
    val lambdaUser: Long = 10L,
    cols: RecCols = RecCols(),
) extends BaseRecommender(cols) {

  /** Global mean in ppm. */
  var muPpm: Long = _
  /** (item, b_i_ppm). */
  var itemBias: DataFrame = _
  /** (query, b_u_ppm). */
  var userBias: DataFrame = _

  private def rPpm = F.floor(F.col(cols.rating) * 1e6).cast("long")

  protected def doFit(log: DataFrame): Unit = {
    require(lambdaItem >= 0 && lambdaUser >= 0, "damping must be >= 0")
    val base = log.select(F.col(cols.query), F.col(cols.item),
      rPpm.as("_r"))
    val g = base.agg(F.sum("_r").as("_s"), F.count(F.lit(1)).as("_n")).first()
    require(g.getLong(1) > 0, "empty log")
    muPpm = Math.floorDiv(g.getLong(0), g.getLong(1))
    itemBias = held(base.groupBy(cols.item)
      .agg(F.sum("_r").as("_s"), F.count(F.lit(1)).as("_n"))
      .select(F.col(cols.item),
        F.expr(s"(_s - _n * ${muPpm}L) div (${lambdaItem}L + _n)")
          .as("b_i_ppm"))
      .cache())
    userBias = held(base
      .join(itemBias, Seq(cols.item))
      .groupBy(cols.query)
      .agg(F.sum("_r").as("_s"), F.sum("b_i_ppm").as("_sb"),
        F.count(F.lit(1)).as("_n"))
      .select(F.col(cols.query),
        F.expr(s"(_s - _n * ${muPpm}L - _sb) div (${lambdaUser}L + _n)")
          .as("b_u_ppm"))
      .cache())
    itemBias.count(); userBias.count()
  }

  // ---- incremental refit (engine extra, the ItemKNN/EASE discipline) ----
  // The model's sufficient statistic is the per-pair (Σr, n) table: exact
  // integer sums, so slices merge by plain addition under ANY partitioning
  // of the events (not just user-disjoint) and the merged fit is BIT-exact
  // vs the full fit — μ, b_i and b_u are all integral functions of sums the
  // stats reconstruct exactly (the per-event Σb_i in b_u becomes n·b_i).

  /** (query, item, s_ppm, n): additive sufficient statistics of a log slice. */
  def pairStats(log: DataFrame): DataFrame =
    log.select(F.col(cols.query), F.col(cols.item), rPpm.as("_r"))
      .groupBy(cols.query, cols.item)
      .agg(F.sum("_r").cast("long").as("s_ppm"),
        F.count(F.lit(1)).as("n"))

  /** Merge two stats frames by addition. */
  def mergeStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(cols.query, cols.item)
      .agg(F.sum("s_ppm").cast("long").as("s_ppm"),
        F.sum("n").cast("long").as("n"))

  /** Rebuild the full fit from merged stats — bit-exact vs [[fit]] on the
    * concatenated events. */
  def fitFromStats(stats0: DataFrame): this.type = refitFromStats {
    require(lambdaItem >= 0 && lambdaUser >= 0, "damping must be >= 0")
    // r13 (guide §2.4): `stats` feeds three subtrees (global mean, item
    // tier, user tier) — for the streaming twin that plan is a
    // mapGroupsWithState object shuffle, recomputed per subtree uncached.
    // The tiers are materialized before its release, and the entity
    // frames read the tiers, so nothing re-runs the stats pipeline after.
    val stats = stats0.cache()
    val g = stats.agg(F.sum("s_ppm").as("_s"), F.sum("n").as("_n")).first()
    require(!g.isNullAt(1) && g.getLong(1) > 0, "empty stats")
    muPpm = Math.floorDiv(g.getLong(0), g.getLong(1))
    itemBias = held(stats.groupBy(cols.item)
      .agg(F.sum("s_ppm").as("_s"), F.sum("n").as("_n"))
      .select(F.col(cols.item),
        F.expr(s"(_s - _n * ${muPpm}L) div (${lambdaItem}L + _n)")
          .as("b_i_ppm"))
      .cache())
    userBias = held(stats
      .join(itemBias, Seq(cols.item))
      .groupBy(cols.query)
      .agg(F.sum("s_ppm").as("_s"),
        F.sum(F.col("n") * F.col("b_i_ppm")).as("_sb"),
        F.sum("n").as("_n"))
      .select(F.col(cols.query),
        F.expr(s"(_s - _n * ${muPpm}L - _sb) div (${lambdaUser}L + _n)")
          .as("b_u_ppm"))
      .cache())
    itemBias.count(); userBias.count()
    stats.unpersist()
    // entity frames from the cached tiers (their groupBy keys ARE the
    // distinct entity sets) — no extra pass over the stats pipeline.
    // NOTE (ADVICE r13): userBias inner-joins stats to itemBias on the item
    // key, so a stats row with a NULL item id would drop its query from
    // fitQueries (stats.select(query).distinct() would retain it).
    // Interaction stats never carry NULL item ids by the feed contract
    // (mapGroupsWithState keys / groupBy keys of real interactions), so the
    // derivation is set-identical on every supported input.
    (itemBias.select(F.col(cols.item)), Some(userBias.select(F.col(cols.query))))
  }

  /** Candidate scores: per-user order is b_i alone (μ + b_u is constant
    * per user), so the catalog crops to the top k+maxSeen items ONCE and
    * broadcasts — the PopRec shape. Ratings keep the full μ+b_u+b_i ppm
    * value so downstream consumers see calibrated predictions. */
  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame = {
    val cropped = Ops.getTopKRecsBounded(
      restrictItems(itemBias, items)
        .select(F.lit(0L).as("_g"), F.col(cols.item),
          F.col("b_i_ppm").cast("double").as("_b")),
      k + maxSeen, "_g", cols.item, "_b").drop("_g")
    queries.select(cols.query)
      .join(userBias, Seq(cols.query), "left")
      .crossJoin(F.broadcast(cropped))
      .select(F.col(cols.query), F.col(cols.item),
        (F.lit(muPpm) + F.coalesce(F.col("b_u_ppm"), F.lit(0L))
          + F.col("_b").cast("long")).cast("double").as(cols.rating))
  }

  /** Exact ppm prediction per explicit pair; unknown entities use bias 0. */
  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame =
    pairs
      .join(userBias, Seq(cols.query), "left")
      .join(itemBias, Seq(cols.item), "left")
      .select(F.col(cols.query), F.col(cols.item),
        (F.lit(muPpm) + F.coalesce(F.col("b_u_ppm"), F.lit(0L))
          + F.coalesce(F.col("b_i_ppm"), F.lit(0L))).as("pred_ppm"))

  /** Damping strengths λ_i / λ_u, integer [0, 100] (Netflix-era practice
    * tunes both around 10–25). */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "lambda_item" -> (0.0, 100.0), "lambda_user" -> (0.0, 100.0))

  override def withParams(p: Map[String, Double]): BiasModel = new BiasModel(
    lambdaItem = p.get("lambda_item").map(math.round).getOrElse(lambdaItem),
    lambdaUser = p.get("lambda_user").map(math.round).getOrElse(lambdaUser),
    cols)
}

package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}

/** Weighted Slope One rating predictor (Lemire & Maclachlan, SDM 2005 —
  * engine extra: with [[BiasModel]] it completes the classic
  * rating-prediction pair the reference lacks).
  *
  *   dev(j→i) = Σ_{u rated both} (r_ui − r_uj),  n(j→i) = |co-raters|
  *   r̂(u,i)  = Σ_{j ∈ hist(u), n>0} (dev(j→i) + n(j→i)·r_uj)
  *             ───────────────────────────────────────────── (weighted)
  *                        Σ_{j ∈ hist(u)} n(j→i)
  *
  * All arithmetic is EXACT integer ppm (the [[BiasModel]] house style):
  * per-(user,item) ratings pre-average to floor-ppm (duplicates merge),
  * deviation sums are exact integers, the single final division is an
  * integral `div` — so every score hash-compares across engines.
  *
  * Scale: the deviation table is the item×item co-occurrence hazard —
  * the SAME self-join as ItemKNN's Gram, bounded the same way
  * (`maxUserHistory` caps each user's pair fan-out with [[ItemKNN.cap]],
  * which the SQL oracles assume does not bind; upper-triangle then
  * antisymmetrized, halving the shuffle: dev(i→j) = −dev(j→i)).
  * Prediction is one equi-join of the user's history onto the deviation
  * table plus one aggregation; candidates are automatically restricted
  * to items co-rated with the history. */
final class SlopeOne(
    val maxUserHistory: Int = 1000,
    cols: RecCols = RecCols(),
) extends BaseRecommender(cols) {
  /** (item_from, item_to, n, dev_ppm): co-rater count and Σ(r_to − r_from). */
  var deviations: DataFrame = _
  /** (query, item, r_ppm): the pre-averaged training ratings. */
  var ratings: DataFrame = _

  /** Per-user pre-averaged (floor-ppm) capped ratings of a log slice. */
  private def cappedBase(log: DataFrame): DataFrame = {
    // duplicates merge to the exact floor-ppm mean — one rating per pair
    val base = log.groupBy(cols.query, cols.item)
      .agg(F.expr(s"sum(floor(${cols.rating} * 1e6)) div count(*)")
        .cast("long").as("_r"))
    ItemKNN.cap(base, cols.query, Seq(cols.query, cols.item), cols.item,
      maxUserHistory)
  }

  /** Upper-triangle (item_from, item_to, n, dev_ppm) from a capped base. */
  private def halfPairs(capped: DataFrame): DataFrame = {
    val l = capped.select(F.col(cols.query),
      F.col(cols.item).as("item_from"), F.col("_r").as("_rf"))
    val r = capped.select(F.col(cols.query),
      F.col(cols.item).as("item_to"), F.col("_r").as("_rt"))
    l.join(r, Seq(cols.query))
      .filter(F.col("item_from") < F.col("item_to"))
      .groupBy("item_from", "item_to")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("_rt") - F.col("_rf")).as("dev_ppm"))
  }


  protected def doFit(log: DataFrame): Unit = {
    // r13 (guide §2.4): the ratings state feeds both self-join sides, so
    // the pair join reads the cached pre-average+cap chain. Cache it once,
    // as the ratings: a rename-only projection of a cached frame shares
    // that frame's cache entry, so unpersisting a separately cached
    // `capped` would drop the ratings' cache too.
    ratings = held(cappedBase(log).withColumnRenamed("_r", "r_ppm").cache())
    // r14 (guide §1/§2.4; r13 measured the union with and without a
    // cached half): the BATCH fit builds the full ordered-pair deviation table in
    // ONE aggregation — self-join without the upper-triangle filter, both
    // (i→j) and (j→i) groups in the same pass — instead of aggregating the
    // upper triangle and unioning its flip (which re-ran the final
    // HashAggregate per union branch; caching `half` instead measured
    // slower still, r13). Result-identical: n and dev_ppm per ordered pair
    // are the same exact-integer sums, just grouped directly. The
    // half-based union stays in fitFromStats (the incremental/streaming
    // stats contract is the upper triangle).
    val l = ratings.select(F.col(cols.query),
      F.col(cols.item).as("item_from"), F.col("r_ppm").as("_rf"))
    val r = ratings.select(F.col(cols.query),
      F.col(cols.item).as("item_to"), F.col("r_ppm").as("_rt"))
    deviations = held(l.join(r, Seq(cols.query))
      .filter(F.col("item_from") =!= F.col("item_to"))
      .groupBy("item_from", "item_to")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("_rt") - F.col("_rf")).as("dev_ppm"))
      .cache())
    deviations.count()
  }

  // ---- incremental refit (the ItemKNN/EASE discipline) ------------------
  // Sufficient statistics of a USER-DISJOINT log slice: the upper-triangle
  // deviation pairs are per-user sums, so user-disjoint slices merge by
  // plain addition and the merged fit is BIT-exact vs the full fit. The
  // slices must be user-disjoint (unlike BiasModel's per-pair stats):
  // each user's pre-average and fan-out cap are computed inside its slice.

  /** (halfDeviations, cappedRatings) of one user-disjoint slice. */
  def coStats(log: DataFrame): (DataFrame, DataFrame) = {
    val capped = cappedBase(log)
    (halfPairs(capped), capped.withColumnRenamed("_r", "r_ppm"))
  }

  /** Merge two user-disjoint slices: deviations add, ratings concatenate. */
  def mergeStats(a: (DataFrame, DataFrame),
      b: (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val half = a._1.unionByName(b._1)
      .groupBy("item_from", "item_to")
      .agg(F.sum("n").as("n"), F.sum("dev_ppm").as("dev_ppm"))
    (half, a._2.unionByName(b._2))
  }

  /** Rebuild the full fit from merged stats — bit-exact vs [[fit]] on the
    * concatenated user-disjoint slices. */
  def fitFromStats(half: DataFrame, cappedRatings: DataFrame): this.type = refitFromStats {
    // the antisymmetrization union reads `half` twice, and its plan is the
    // caller's whole stats pipeline (e.g. the streaming delta
    // mapGroupsWithState), which must not run twice: cached until the
    // deviations are
    val cachedHalf = half.cache()
    deviations = held(cachedHalf.unionByName(cachedHalf.select(
      F.col("item_to").as("item_from"), F.col("item_from").as("item_to"),
      F.col("n"), (-F.col("dev_ppm")).as("dev_ppm"))).cache())
    deviations.count()
    cachedHalf.unpersist()
    ratings = held(cappedRatings.cache())
    ratings.count()
    (ratings.select(F.col(cols.item)).distinct(),
      Some(ratings.select(F.col(cols.query)).distinct()))
  }

  /** Exact-ppm scores for every (query, candidate) with support; the
    * candidate j = i self-pair is excluded by construction (the deviation
    * table has no diagonal). NOTE: this is the dense path — the candidate
    * set is every item co-rated with the history, so top-k predict groups
    * up to |users| × |co-rated catalog| cells. Pair scoring
    * ([[predictPairs]]) never goes through here; restrict `items` (or
    * predict over query subsets) when the catalog is large. */
  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame = {
    val hist = ratings.join(queries.select(cols.query).distinct(),
      Seq(cols.query), "left_semi")
    val devs = restrictItems(
      deviations.withColumnRenamed("item_to", cols.item), items)
    hist.select(F.col(cols.query), F.col(cols.item).as("item_from"),
        F.col("r_ppm"))
      .join(devs, Seq("item_from"))
      .groupBy(cols.query, cols.item)
      .agg((F.expr("sum(dev_ppm + n * r_ppm) div sum(n)").cast("double") / 1e6)
        .as(cols.rating))
  }

  /** Exact-ppm pair scoring: only supported pairs get a prediction;
    * unsupported pairs surface as NULL pred_ppm (callers choose their
    * fallback — [[BiasModel]] is the natural one).
    *
    * SHAPE: scores ONLY the requested pairs — pairs ⋈ history on the user
    * (fan-out = history length) ⋈ deviations on BOTH item keys, one
    * aggregation. The score-everything path ([[score]]) would group
    * |users| × |co-rated catalog| candidates (measured 17 min at sf0.1
    * against ~40 s for this shape). */
  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame = {
    val hist = ratings.join(
      pairs.select(cols.query).distinct(), Seq(cols.query), "left_semi")
      .select(F.col(cols.query), F.col(cols.item).as("item_from"),
        F.col("r_ppm"))
    val contrib = pairs.select(F.col(cols.query), F.col(cols.item).as("item_to"))
      .join(hist, Seq(cols.query))
      .join(deviations, Seq("item_from", "item_to"))
      .groupBy(F.col(cols.query), F.col("item_to").as(cols.item))
      .agg(F.expr("sum(dev_ppm + n * r_ppm) div sum(n)").as("pred_ppm"))
    pairs.join(contrib, Seq(cols.query, cols.item), "left")
  }

  /** The one knob: the per-user history cap bounding the deviation
    * self-join fan-out (integer [100, 2000]). */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "max_user_history" -> (100.0, 2000.0))

  override def withParams(p: Map[String, Double]): SlopeOne = new SlopeOne(
    maxUserHistory = p.get("max_user_history").map(v => math.round(v).toInt)
      .getOrElse(maxUserHistory), cols)
}

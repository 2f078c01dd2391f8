package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.core.Ops

/** Weighted random recommender (reference: random_rec.py:180-228 +
  * base_rec.py:1283-1364).
  *
  * The reference samples per user in `applyInPandas`; here sampling uses the
  * exponential-sort trick — drawing without replacement by weight w is
  * equivalent to ranking by  -ln(u)/w  with u ~ U(0,1) — which turns the
  * whole sampler into a deterministic expression + the standard top-k
  * window: pure Catalyst, codegen-friendly, no Python/UDF, and
  * reproducible because u comes from the portable md5 hash of
  * (seed, query, item).
  *
  * Distributions (random_rec.py):
  *  - uniform:   w = 1
  *  - popular:   w = count(item)^(1/(1+alpha))
  *  - relevance: w = sum(rating of item)
  */
final class RandomRec(
    val distribution: String = "uniform",
    val alpha: Double = 0.0,
    val seed: Long = 42,
    val addColdItems: Boolean = true,
    val coldWeight: Double = 0.5,
    // "portable" (md5 — every draw mirrors in DuckDB, the oracle mode) |
    // "fast" (xxhash64 — codegen'd, for production runs where the per-pair
    // md5 over |queries| × |catalog| is the dominant cost and cross-engine
    // parity is not needed). Same sampling distribution either way; a
    // different (still deterministic, layout-independent) draw sequence.
    val hashMode: String = "portable",
    cols: RecCols = RecCols(),
) extends BaseRecommender(cols) {
  var itemWeights: DataFrame = _
  private var fillCache: Option[Double] = None

  protected def doFit(log: DataFrame): Unit = {
    require(coldWeight > 0 && coldWeight <= 1,
      s"coldWeight must be in (0, 1], got $coldWeight")
    val w = distribution match {
      case "uniform" => log.select(cols.item).distinct().withColumn("_w", F.lit(1.0))
      case "popular" =>
        log.groupBy(cols.item).agg(F.count(F.lit(1)).cast("double").as("_c"))
          .withColumn("_w", F.pow(F.col("_c"), 1.0 / (1.0 + alpha))).drop("_c")
      case "relevance" =>
        log.groupBy(cols.item).agg(F.sum(cols.rating).as("_w"))
      case other => throw new IllegalArgumentException(s"unknown distribution $other")
    }
    fillCache = None
    itemWeights = held(w.cache())
    itemWeights.count()
  }

  /** Weight for candidate items unseen at fit: min(weight)·coldWeight
    * (reference random_rec.py:210 via `_calc_fill`). */
  private def coldFill: Double = {
    if (fillCache.isEmpty)
      fillCache = Some(itemWeights.agg(F.min("_w")).first() match {
        case r if r.isNullAt(0) => 0.0
        case r                  => r.getDouble(0) * coldWeight
      })
    fillCache.get
  }

  /** Candidate weights: right join + cold fill when `addColdItems`
    * (reference `_get_selected_item_popularity`), semi-join otherwise. */
  private def selectedWeights(items: Option[DataFrame]): DataFrame =
    items match {
      case Some(it) if addColdItems =>
        itemWeights.join(it.select(F.col(cols.item)).distinct(), Seq(cols.item), "right")
          .withColumn("_w", F.coalesce(F.col("_w"), F.lit(coldFill)))
      case _ => restrictItems(itemWeights, items)
    }

  /** The per-pair uniform draw. Portable mode lowers to the single-block
    * native MD5 ([[graft.core.Md5Pair60]]) when both id columns are
    * BIGINT — the common case after dataset encoding — which removes the
    * per-row string-build + MessageDigest tax from the |queries| ×
    * |catalog| stream while producing the SAME bits (and so the same
    * draws, recs, and oracle hashes) as the generic md5-of-string chain,
    * which remains the fallback for non-long id schemas. */
  private def pairUniform(queryType: org.apache.spark.sql.types.DataType,
      itemType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types.LongType
    if (hashMode == "portable" && queryType == LongType && itemType == LongType)
      graft.core.PortableHash.uniformPairLong(
        seed, F.col(cols.query), F.col(cols.item))
    else
      graft.core.PortableHash.uniformBy(
        hashMode, seed, F.col(cols.query), F.col(cols.item))
  }

  /** Safety factor for the threshold pre-crop: the filter threshold is
    * solved so ~preCropSafety·(k+maxSeen) candidates per query survive in
    * expectation. Per-query underflow probability is then bounded by
    * exp(−m(c−1)²/2c) (Chernoff on the survivor count) — at c=2, m≈100
    * that is ~e⁻²⁵ (×15k queries still ~0), so the exact repair pass below
    * never runs in practice; it exists so the crop is EXACT, not
    * probabilistic. r12: 4.0 → 2.0 — the survivor stream feeds the
    * non-codegen bounded heap (~1 µs/row), so halving it buys ~1 s at
    * sf0.1 with no change to the output (repair guarantees exactness). */
  private[graft] var preCropSafety: Double = 2.0
  private[graft] var preCropEnabled: Boolean = true
  /** Test hook: force a (bad) threshold to exercise the repair path. */
  private[graft] var forcedThreshold: Option[Double] = None

  /** Solve Σᵢ (1 − exp(−wᵢ·t)) ≥ c·m for the pre-crop threshold t. The
    * E–S key −ln(u)/w of item i is Exp(wᵢ)-distributed, so a pair survives
    * `key < t` independently with probability 1 − exp(−wᵢ·t); t is pushed
    * (doubling from the uncapped solution c·m/Σw) until the expected
    * per-query survivor count reaches c·m even under weight skew, where
    * heavy items cap at probability 1. Driver loop of catalog-sized
    * aggregates over the cached weights — O(log) iterations, ms each,
    * same bounded-scalar contract as `coldFill`. Returns None (no crop)
    * when the catalog is too small for a crop to matter. */
  private def solveThreshold(sel: DataFrame, m: Int): Option[Double] =
    solveThresholdTarget(sel, preCropSafety * m)

  private def solveThresholdTarget(sel: DataFrame, target: Double): Option[Double] = {
    if (!preCropEnabled || target <= 0) return None
    if (forcedThreshold.isDefined) return forcedThreshold
    val pos = sel.filter(F.col("_w") > 0)
    val row = pos.agg(F.sum("_w").as("s"), F.count(F.lit(1)).as("n")).first()
    if (row.isNullAt(0)) return None
    if (row.getLong(1) <= target) return None // catalog ~ m: nothing to crop
    var t = target / row.getDouble(0)
    var iters = 0
    while (iters < 64) {
      val e = pos.agg(F.sum(F.lit(1.0) - F.exp(F.col("_w") * -t))).first().getDouble(0)
      if (e >= target) return Some(t)
      t *= 2; iters += 1
    }
    None
  }

  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame = {
    val u = pairUniform(queries.schema(cols.query).dataType,
      itemWeights.schema(cols.item).dataType)
    val sel = selectedWeights(items)
    val m = k + maxSeen
    // Efraimidis–Spirakis: sample-without-replacement by weight w selects
    // the SMALLEST -ln(u)/w keys. predict() ranks rating DESC, so the
    // rating is the negated key, ln(u)/w — in (-inf, 0), larger = better,
    // and high-weight items win as the distribution demands.
    // u in [0,1); epsilon guards ln(0).
    def keyed(qs: DataFrame): DataFrame = qs.select(cols.query).crossJoin(sel)
      .withColumn(cols.rating, F.log(u + F.lit(1e-18)) / F.col("_w"))
    // honor the k+maxSeen contract: the keyed stream is |queries| ×
    // |catalog| rows, and without this crop the base predict's seen
    // anti-join and final window would shuffle/sort all of it (measured
    // 75 s at sf0.1 vs ~8 s cropped; unbounded at 100 TB)
    def crop(qs: DataFrame, pre: Option[Double]): DataFrame = pre match {
      case None => Ops.getTopKRecsBounded(
        keyed(qs).drop("_w"), m, cols.query, cols.item, cols.rating)
      case Some(t) =>
        // Threshold pre-crop: the bounded heap is a non-codegen object
        // aggregation (~1 µs/row — the measured floor of this operator),
        // so crop the |queries|×|catalog| stream in whole-stage codegen
        // FIRST: keep key < t ⟺ rating > −t, plus every non-positive-
        // weight row (outside the Exp(w) model; they must reach the heap
        // unconditionally). Exactness: if ≥ m rows survive for a query,
        // the m-th largest rating is > −t, so the true top-m under
        // (rating desc, item asc) all survive and the heap returns
        // exactly what it would have unfiltered. Queries whose heap
        // comes back short are recomputed unfiltered below.
        //
        // r12: the crop is two-stage. rating > −t ⟺ u > e^(−t·w), and
        // e^(−t·w) is a PER-ITEM constant, so `_cut` is precomputed on the
        // |catalog|-row build side before the cross join and the per-pair
        // hot loop is hash + one compare — the log() + divide (StrictMath,
        // ~as costly as the single-block md5 itself) runs only for the
        // ~safety·m survivors per query. `_cut` is strictly BELOW the
        // float boundary of the exact predicate (relative 1e−9 margin ≫
        // the ≤3·10⁻¹³ accumulated log/exp/divide rounding at any t·w
        // that doesn't underflow; −1e−18 absorbs the ln(0) epsilon), so
        // stage 1 keeps a superset of stage 2 and the survivor set —
        // hence every draw, rec, and oracle hash — is bit-identical to
        // the single-filter form.
        val selCut = sel.withColumn("_cut",
          F.exp(F.col("_w") * -t) * (1.0 - 1e-9) - 1e-18)
        val agged = keepScratch(qs.select(cols.query).crossJoin(selCut)
          .filter(u > F.col("_cut") || F.col("_w") <= 0)
          .withColumn(cols.rating, F.log(u + F.lit(1e-18)) / F.col("_w"))
          .filter(F.col(cols.rating) > F.lit(-t) || F.col("_w") <= 0)
          .groupBy(cols.query)
          .agg(graft.core.BoundedTopKAgg.topKPairs(
            m, F.col(cols.rating), F.col(cols.item)).as("_tk")))
        val good = agged.filter(F.size(F.col("_tk")) >= m)
        val short = qs.select(cols.query)
          .join(good.select(cols.query), Seq(cols.query), "left_anti")
        good.select(F.col(cols.query), F.explode(F.col("_tk")).as("_p"))
          .select(F.col(cols.query), F.col("_p.item").as(cols.item),
            F.col("_p.rating").as(cols.rating))
          .unionByName(crop(short, None))
    }
    crop(queries, solveThreshold(sel, m))
  }

  /** Seen-filtered predict, restructured around the draw (r13): the base
    * path crops a k+maxSeen-per-user heap over ALL items and anti-joins
    * the seen pairs AFTER — at sf0.1 that is a 108-slot heap, a 1.6M-row
    * explode, and a 1.6M-row anti-join + rank window for a k=3 answer
    * (measured ~9 s of the 12 s row). Here the seen anti-join runs on the
    * THRESHOLD SURVIVOR stream instead (≈ target·|queries| rows, codegen
    * side), so the heap needs only k slots and everything downstream of
    * it is k-per-user sized. The threshold target grows by maxSeen
    * (worst case: every seen item carries survive-probability ~1, e.g.
    * the relevance distribution where a user's own items are the heavy
    * ones), keeping E[unseen survivors] ≥ safety·k; per-user exactness
    * never rests on the expectation — a query whose k-heap comes back
    * short is recomputed through the unfiltered full-stream path below,
    * exactly like the base crop's repair. Output is bit-identical to the
    * base path (same draws, same (rating desc, item asc) order, same
    * top-k set) — the md5-sampler oracles are unchanged. */
  override def predict(log: DataFrame, k: Int,
      queries: Option[DataFrame] = None, filterSeen: Boolean = true,
      items: Option[DataFrame] = None): DataFrame = {
    if (!filterSeen) return super.predict(log, k, queries, filterSeen, items)
    val qs = requestedQueries(log, queries)
    val history = log.join(qs, Seq(cols.query), "left_semi")
    val (seen, maxSeen) = seenFilter(history, filterSeen = true)
    val sel = selectedWeights(items)
    val u = pairUniform(qs.schema(cols.query).dataType,
      sel.schema(cols.item).dataType)
    val recs = solveThresholdTarget(sel, preCropSafety * k + maxSeen) match {
      case None =>
        // tiny catalog / crop disabled: the base shape (score is already
        // bounded at k+maxSeen per query)
        dropSeen(score(qs, k, maxSeen, items), seen)
      case Some(t) =>
        val selCut = sel.withColumn("_cut",
          F.exp(F.col("_w") * -t) * (1.0 - 1e-9) - 1e-18)
        val survivors = qs.select(cols.query).crossJoin(selCut)
          .filter(u > F.col("_cut") || F.col("_w") <= 0)
        val agged = keepScratch(dropSeen(survivors, seen)
          .withColumn(cols.rating, F.log(u + F.lit(1e-18)) / F.col("_w"))
          .filter(F.col(cols.rating) > F.lit(-t) || F.col("_w") <= 0)
          .groupBy(cols.query)
          .agg(graft.core.BoundedTopKAgg.topKPairs(
            k, F.col(cols.rating), F.col(cols.item)).as("_tk")))
        val good = agged.filter(F.size(F.col("_tk")) >= k)
        val short = qs.select(cols.query)
          .join(good.select(cols.query), Seq(cols.query), "left_anti")
        // unfiltered repair (rare by the Chernoff bound; exact always):
        // full keyed stream for the short queries, k+maxSeen heap, THEN
        // the seen anti-join — the base-path shape, scoped to them
        val repair = dropSeen(Ops.getTopKRecsBounded(
          short.crossJoin(sel)
            .withColumn(cols.rating, F.log(u + F.lit(1e-18)) / F.col("_w"))
            .drop("_w"),
          k + maxSeen, cols.query, cols.item, cols.rating), seen)
        good.select(F.col(cols.query), F.explode(F.col("_tk")).as("_p"))
          .select(F.col(cols.query), F.col("_p.item").as(cols.item),
            F.col("_p.rating").as(cols.rating))
          .unionByName(repair)
    }
    Ops.getTopKRecs(recs, k, cols.query, cols.item, cols.rating)
  }

  /** True action distribution for the sampler (reference
    * base_rec.py:1399-1442): P(query shown item at position) =
    * w_item / Σw, the weight-normalized selection probability, tiled over
    * the k positions. This is EXACT at position 0 (the first
    * Efraimidis–Spirakis draw selects item i with probability w_i/Σw) and
    * a documented approximation beyond — the reference makes the same
    * position-independent approximation (np.tile over k), ignoring the
    * without-replacement renormalization at later positions. Zero weights
    * are floored at 1e-6 before normalizing (base_rec.py:1262-1269), so
    * per-(query, position) mass sums to exactly 1. */
  override def predictProba(log: DataFrame, k: Int,
      queries: Option[DataFrame] = None,
      filterSeen: Boolean = true): DataFrame = {
    val qs = requestedQueries(log, queries)
    val guarded = itemWeights.select(F.col(cols.item),
      F.when(F.col("_w") === 0.0, F.lit(1e-6)).otherwise(F.col("_w")).as("_w"))
    // normalization total as a lazy broadcast scalar (the
    // NonPersonalizedRec.predictProba pattern) — no extra driver action
    qs.select(cols.query)
      .crossJoin(F.broadcast(guarded
        .crossJoin(F.broadcast(guarded.agg(F.sum("_w").as("_tot"))))
        .select(F.col(cols.item), (F.col("_w") / F.col("_tot")).as("prob"))))
      .select(F.col(cols.query), F.col(cols.item),
        F.explode(F.sequence(F.lit(0L), F.lit((k - 1).toLong))).as("position"),
        F.col("prob"))
  }

  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame = {
    val u = pairUniform(pairs.schema(cols.query).dataType,
      pairs.schema(cols.item).dataType)
    pairs.join(itemWeights, Seq(cols.item), "left")
      .withColumn(cols.rating,
        F.log(u + F.lit(1e-18)) / F.coalesce(F.col("_w"), F.lit(coldFill)))
      .drop("_w")
  }

  /** Reference random_rec.py:123-129: distribution categorical
    * [popular, relevance, uniform] (index-encoded, reference order),
    * alpha uniform [-0.5, 100]. */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "distribution" -> (0.0, 3.0), "alpha" -> (-0.5, 100.0))

  override def withParams(p: Map[String, Double]): RandomRec = new RandomRec(
    distribution = p.get("distribution").map(v =>
      Seq("popular", "relevance", "uniform")(math.min(2, v.floor.toInt)))
      .getOrElse(distribution),
    alpha = p.getOrElse("alpha", alpha),
    seed, addColdItems, coldWeight, hashMode, cols)
}

package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.core.Ops

/** Repeat-consumption baseline (engine extra; the reference has no
  * re-consumption model — its `filter_seen` default hides the single
  * strongest signal in grocery/media logs, cf. Anderson et al., WWW 2014,
  * "The Dynamics of Repeat Consumption"): recommends from the user's OWN
  * history, most-recent first.
  *
  * State is one bounded table: (query, item) → (last_ts_us, cnt) — a
  * single groupBy of the log, exact integers only. Predict ranks a user's
  * items by (last_ts_us DESC, item ASC) — the rating IS the last-seen
  * epoch-microsecond (exactly representable as double below 2⁵³, i.e.
  * until year ~2255), so downstream rank-based metrics and the oracle
  * order identically with zero float ambiguity. Frequency rides along in
  * the state for consumers that want frequency-ranked repeats.
  *
  * By construction every recommendation is a seen pair, so
  * `filterSeen = true` (the base default) is a contract error rather than
  * a silent empty frame.
  */
final class RepeatRec(cols: RecCols = RecCols()) extends BaseRecommender(cols) {
  /** (query, item, last_ts_us, cnt) from the last fit. */
  var state: DataFrame = _

  protected def doFit(log: DataFrame): Unit = {
    // DATE-typed logs cast to UTC-midnight timestamps (session TZ is UTC)
    state = held(pairStats(log).cache())
    state.count()
  }

  // ---- incremental refit (the BiasModel discipline) ----------------------
  // The state IS the sufficient statistic and both fields are associative
  // folds — last_ts_us merges by max, cnt by addition — so slices under
  // ANY event partitioning merge exactly and the merged rebuild equals the
  // full fit bit-for-bit.

  /** The per-pair state of one log slice (any slicing). */
  def pairStats(log: DataFrame): DataFrame =
    log.groupBy(cols.query, cols.item)
      .agg(F.unix_micros(F.max(cols.ts).cast("timestamp")).as("last_ts_us"),
        F.count(F.lit(1)).as("cnt"))

  /** Merge two slices: max of recencies, sum of counts. */
  def mergeStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(cols.query, cols.item)
      .agg(F.max("last_ts_us").as("last_ts_us"),
        F.sum("cnt").cast("long").as("cnt"))

  /** Rebuild the fit from merged stats — bit-exact vs [[fit]]; the fit
    * queries and items are the stats'. */
  def fitFromStats(stats: DataFrame): this.type = refitFromStats {
    state = held(stats.cache())
    state.count()
    (state.select(cols.item).distinct(), Some(state.select(cols.query).distinct()))
  }

  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame =
    restrictItems(state, items)
      .join(queries.select(cols.query), Seq(cols.query), "left_semi")
      .select(F.col(cols.query), F.col(cols.item),
        F.col("last_ts_us").cast("double").as(cols.rating))

  override def predict(
      log: DataFrame,
      k: Int,
      queries: Option[DataFrame] = None,
      filterSeen: Boolean = true,
      items: Option[DataFrame] = None,
  ): DataFrame = {
    require(!filterSeen,
      "RepeatRec recommends items the user has already consumed; " +
      "call predict(..., filterSeen = false)")
    val qs = requestedQueries(log, queries)
    Ops.getTopKRecs(score(qs, k, 0, items), k, cols.query, cols.item, cols.rating)
  }

  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame =
    pairs.join(state.select(F.col(cols.query), F.col(cols.item),
        F.col("last_ts_us").cast("double").as(cols.rating)),
      Seq(cols.query, cols.item), "left")
      .withColumn(cols.rating, F.coalesce(F.col(cols.rating), F.lit(0.0)))
}

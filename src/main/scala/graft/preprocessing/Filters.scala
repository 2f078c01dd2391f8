package graft.preprocessing

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.core.FeatureSchema.{QueryId, ItemId, Rating, Timestamp}

/** Interaction-log filters (reference: replay/preprocessing/filters.py, 1221
  * LoC). Each is a pure DataFrame → DataFrame transform; all predicates stay
  * declarative so Catalyst pushes them into the scan where possible.
  */
sealed trait InteractionFilter {
  def transform(df: DataFrame): DataFrame
}

/** rating >= value (reference: filters.py:342-343). */
final case class LowRatingFilter(value: Double, ratingCol: String = Rating)
    extends InteractionFilter {
  def transform(df: DataFrame): DataFrame = df.filter(F.col(ratingCol) >= value)
}

/** Keep [start, end) on the timestamp column; open bounds default to data
  * min/max (reference: filters.py:800-809). */
final case class TimePeriodFilter(
    start: Option[String] = None,
    end: Option[String] = None,
    tsCol: String = Timestamp,
) extends InteractionFilter {
  def transform(df: DataFrame): DataFrame = {
    val lower = start.map(s => F.col(tsCol) >= F.lit(s).cast("timestamp")).getOrElse(F.lit(true))
    val upper = end.map(e => F.col(tsCol) < F.lit(e).cast("timestamp")).getOrElse(F.lit(true))
    df.filter(lower && upper)
  }
}

/** First or last N days *globally*: one scalar min/max aggregate drives an
  * interval predicate (reference: filters.py:704-712). One extra tiny job for
  * the scalar; the filter itself is scan-pushable. */
final case class GlobalDaysFilter(days: Int, first: Boolean = true, tsCol: String = Timestamp)
    extends InteractionFilter {
  def transform(df: DataFrame): DataFrame = {
    // get(0) + F.lit: works for TimestampType AND TimestampNTZType
    // (parquet ms timestamps arrive as NTZ → LocalDateTime in Spark 4)
    if (first) {
      val d0 = df.agg(F.min(tsCol)).first().get(0)
      df.filter(F.col(tsCol) < F.lit(d0) + F.expr(s"INTERVAL $days DAYS"))
    } else {
      val d1 = df.agg(F.max(tsCol)).first().get(0)
      df.filter(F.col(tsCol) > F.lit(d1) - F.expr(s"INTERVAL $days DAYS"))
    }
  }
}

/** First/last N days *per entity* via min/max over an un-ordered partition
  * window (reference: filters.py:577-591). Single shuffle on the entity key. */
final case class EntityDaysFilter(
    days: Int,
    first: Boolean = true,
    entityCol: String = QueryId,
    tsCol: String = Timestamp,
) extends InteractionFilter {
  def transform(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(entityCol)
    if (first)
      df.withColumn("_t0", F.min(tsCol).over(w))
        .filter(F.col(tsCol) < F.col("_t0") + F.expr(s"INTERVAL $days DAYS"))
        .drop("_t0")
    else
      df.withColumn("_t1", F.max(tsCol).over(w))
        .filter(F.col(tsCol) > F.col("_t1") - F.expr(s"INTERVAL $days DAYS"))
        .drop("_t1")
  }
}

/** First/last k interactions per query by time (deterministic tie-break on
  * `tieCol`; reference: filters.py:446-460 row_number over (query, ts)). */
final case class NumInteractionsFilter(
    k: Int,
    first: Boolean = true,
    queryCol: String = QueryId,
    tsCol: String = Timestamp,
    tieCol: Option[String] = Some(ItemId),
) extends InteractionFilter {
  def transform(df: DataFrame): DataFrame = {
    val base = if (first) Seq(F.col(tsCol).asc) else Seq(F.col(tsCol).desc)
    val order = base ++ tieCol.map(c => if (first) F.col(c).asc else F.col(c).desc).toSeq
    val w = Window.partitionBy(queryCol).orderBy(order: _*)
    df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")
  }
}

/** Keep entities with >= n occurrences (reference: filters.py:286-294,
  * count-filter then join back): `count(1) over (partition by entity)`,
  * then a filter, so the input is exchanged once, by entity. A null
  * entity is dropped, as the reference's join back drops it. */
final case class MinCountFilter(n: Long, groupByCol: String = QueryId)
    extends InteractionFilter {
  def transform(df: DataFrame): DataFrame =
    df.withColumn("_count", F.count(F.lit(1)).over(Window.partitionBy(groupByCol)))
      .filter(F.col(groupByCol).isNotNull && F.col("_count") >= n)
      .drop("_count")
}

/** Iterated min/max interactions per user AND per item until fixpoint
  * (reference: filters.py:140-250; per-round count windows, cache per
  * iteration — we localCheckpoint to stop lineage growth, SURVEY §4). */
final case class InteractionEntriesFilter(
    minInterPerUser: Option[Long] = None,
    maxInterPerUser: Option[Long] = None,
    minInterPerItem: Option[Long] = None,
    maxInterPerItem: Option[Long] = None,
    queryCol: String = QueryId,
    itemCol: String = ItemId,
    maxIterations: Int = 100,
) extends InteractionFilter {
  def transform(df: DataFrame): DataFrame = {
    // checkpoint the input once: each iteration reads `current` three
    // times (two count aggregations + the join), so it must be
    // materialized, and localCheckpoint also stops lineage growth
    var current = df.localCheckpoint(true)
    var previous = -1L
    var rows = current.count()
    var iter = 0
    while (rows != previous && iter < maxIterations) {
      previous = rows
      // per-entity counts as aggregations + equi-joins, not count-over
      // windows: the aggregates shuffle only (entity, count) pairs and
      // AQE broadcasts them back, where a window would shuffle AND sort
      // every interaction row twice per iteration
      // null-safe join keys (the window version grouped NULL keys too) and
      // the input column order restored after the joins hoist the keys
      val uc = current.groupBy(queryCol).agg(F.count(F.lit(1)).as("_cu"))
        .withColumnRenamed(queryCol, "_q")
      val ic = current.groupBy(itemCol).agg(F.count(F.lit(1)).as("_ci"))
        .withColumnRenamed(itemCol, "_i")
      var cond: Column = F.lit(true)
      minInterPerUser.foreach(v => cond = cond && F.col("_cu") >= v)
      maxInterPerUser.foreach(v => cond = cond && F.col("_cu") <= v)
      minInterPerItem.foreach(v => cond = cond && F.col("_ci") >= v)
      maxInterPerItem.foreach(v => cond = cond && F.col("_ci") <= v)
      val step = current
        .join(uc, F.col(queryCol) <=> F.col("_q"))
        .join(ic, F.col(itemCol) <=> F.col("_i"))
        .filter(cond)
        .select(current.columns.toIndexedSeq.map(F.col): _*)
      val next = step.localCheckpoint(true)
      graft.core.Persist.releaseCheckpoint(current) // superseded round
      current = next
      rows = current.count()
      iter += 1
    }
    current
  }
}

/** Undersample items above the alpha-quantile of the item-count distribution,
  * dropping `itemsProportion` of the overflow and preferring rows of
  * high-activity users (reference: filters.py:972-993). Quantile computed
  * distributed — never collected. Two modes:
  *  - `exact = false` (default): `percentile_approx` at accuracy 10000 —
  *    a discrete count from the distribution, exact on gate-scale data;
  *  - `exact = true`: the EXACT linear-interpolated percentile
  *    (`percentile`, one distributed aggregation, ANSI percentile_cont
  *    semantics) — this is byte-for-byte the reference's
  *    `items_count.quantile(alpha)` pandas threshold (filters.py:978),
  *    closing the documented deviation a user diffing a pathological
  *    count distribution could hit with the approx mode.
  */
final case class QuantileItemsFilter(
    alphaQuantile: Double = 0.99,
    itemsProportion: Double = 0.5,
    queryCol: String = QueryId,
    itemCol: String = ItemId,
    tieCols: Seq[String] = Nil, // extend to a TOTAL order when duplicate
                                // (query,item) rows differ in other columns
    exact: Boolean = false,
) extends InteractionFilter {
  def transform(df: DataFrame): DataFrame = {
    val itemCounts = df.groupBy(itemCol).agg(F.count(F.lit(1)).as("_item_cnt"))
    val qRow = itemCounts.agg(
      if (exact) F.percentile(F.col("_item_cnt"), F.lit(alphaQuantile))
      else F.percentile_approx(F.col("_item_cnt"), F.lit(alphaQuantile), F.lit(10000))
    ).first()
    if (qRow.isNullAt(0)) return df // empty input: nothing to undersample
    val q: Double =
      if (exact) qRow.getDouble(0) else qRow.getLong(0).toDouble
    val userCounts = df.groupBy(queryCol).agg(F.count(F.lit(1)).as("_user_cnt"))
    val annotated = df
      .join(itemCounts, Seq(itemCol))
      .join(userCounts, Seq(queryCol))
    val hot = annotated.filter(F.col("_item_cnt") > q)
      .withColumn("_n_delete",
        F.floor((F.col("_item_cnt") - F.lit(q)) * F.lit(itemsProportion)))
      .withColumn("_rn", F.row_number().over(
        Window.partitionBy(itemCol).orderBy(
          (Seq(F.col("_user_cnt").desc, F.col(queryCol).asc)
            ++ tieCols.map(F.col(_).asc)): _*)))
      .filter(F.col("_rn") > F.col("_n_delete"))
    val cold = annotated.filter(F.col("_item_cnt") <= q)
    cold.unionByName(hot.drop("_n_delete", "_rn")).drop("_item_cnt", "_user_cnt")
  }
}

/** Drop runs of consecutive equal items per user: lag over (user, ts) and
  * keep rows where the previous item differs (reference: filters.py:1087-1093). */
final case class ConsecutiveDuplicatesFilter(
    queryCol: String = QueryId,
    itemCol: String = ItemId,
    tsCol: String = Timestamp,
    tieCol: Option[String] = None,
) extends InteractionFilter {
  def transform(df: DataFrame): DataFrame = {
    val order = Seq(F.col(tsCol).asc) ++ tieCol.map(F.col(_).asc).toSeq
    val w = Window.partitionBy(queryCol).orderBy(order: _*)
    df.withColumn("_prev", F.lag(itemCol, 1).over(w))
      .filter(F.col("_prev").isNull || F.col("_prev") =!= F.col(itemCol))
      .drop("_prev")
  }
}

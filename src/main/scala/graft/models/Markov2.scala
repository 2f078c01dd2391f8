package graft.models

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.core.Ops

/** Second-order Markov next-item recommender with stupid backoff — the
  * sparse-context completion of [[MarkovRec]] (the relational stand-ins
  * for the reference's torch sequential family, SURVEY §2.10): fit counts
  * (prev2, prev1) → next transitions alongside an order-1 table; predict
  * scores from each query's last TWO items when that exact context was
  * ever observed, and BACKS OFF to the order-1 model from the last item
  * otherwise (per-query routing decided BEFORE the seen-filter, so the
  * route is a pure function of the fit state — documented and mirrored
  * in the SQL oracle).
  *
  * Scale: fit is the [[MarkovRec]] shape plus one more lag on the same
  * window (no extra shuffle for the second context column); both tables
  * are partial-aggregated counts, state ∝ distinct observed contexts.
  * predict crops each tier per context to k+maxSeen before its join
  * (exact after the anti-join), so the scored stream stays
  * O(|queries|·(k+maxSeen)).
  */
final class Markov2Rec(
    val minCount: Long = 1L,
    val tieBreak: Seq[String] = Nil,
    cols: RecCols = RecCols(),
) extends BaseRecommender(cols) {

  /** (ctx2, ctx1, item_two, cnt) — order-2 transition counts. */
  var transitions2: DataFrame = _
  /** The order-1 backoff tier (shares fit semantics with MarkovRec). */
  var backoff: MarkovRec = _

  private def orderAsc: Seq[Column] =
    (F.col(cols.ts) +: tieBreak.map(F.col)) :+ F.col(cols.item)
  private def orderDesc: Seq[Column] = orderAsc.map(_.desc)

  protected def doFit(log: DataFrame): Unit = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val w = Window.partitionBy(cols.query).orderBy(orderAsc: _*)
    val t2 = log
      .withColumn("_p1", F.lag(F.col(cols.item), 1).over(w))
      .withColumn("_p2", F.lag(F.col(cols.item), 2).over(w))
      .filter(F.col("_p2").isNotNull)
      .groupBy(F.col("_p2").as("ctx2"), F.col("_p1").as("ctx1"),
        F.col(cols.item).as("item_two"))
      .agg(F.count(F.lit(1)).as("cnt"))
      .filter(F.col("cnt") >= minCount)
    transitions2 = held(t2.cache())
    transitions2.count()
    backoffTier.fit(log)
  }

  /** The order-1 tier, held: one instance across refits, so that a refit
    * of the tier releases the state it replaces. */
  private def backoffTier: MarkovRec = {
    if (backoff == null) backoff = new MarkovRec(minCount, tieBreak, cols)
    held(backoff)
  }

  // ---- incremental refit (the MarkovRec discipline, one lag deeper) -----
  // Both tiers' lag pairs are per-query windows, so user-disjoint slices
  // merge by addition; minCount applies on the merged counts.

  /** Unfiltered (order-2, order-1) transition counts of one user-disjoint
    * slice. */
  def transStats(log: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(cols.query).orderBy(orderAsc: _*)
    val t2 = log
      .withColumn("_p1", F.lag(F.col(cols.item), 1).over(w))
      .withColumn("_p2", F.lag(F.col(cols.item), 2).over(w))
      .filter(F.col("_p2").isNotNull)
      .groupBy(F.col("_p2").as("ctx2"), F.col("_p1").as("ctx1"),
        F.col(cols.item).as("item_two"))
      .agg(F.count(F.lit(1)).as("cnt"))
    val probe = new MarkovRec(minCount, tieBreak, cols)
    (t2, probe.transStats(log))
  }

  /** Merge two user-disjoint slices by addition. */
  def mergeStats(a: (DataFrame, DataFrame),
      b: (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val t2 = a._1.unionByName(b._1).groupBy("ctx2", "ctx1", "item_two")
      .agg(F.sum("cnt").cast("long").as("cnt"))
    val probe = new MarkovRec(minCount, tieBreak, cols)
    (t2, probe.mergeStats(a._2, b._2))
  }

  /** Rebuild both tiers from merged stats — bit-exact vs [[fit]] on the
    * concatenated user-disjoint slices. */
  def fitFromStats(t2Stats: DataFrame, t1Stats: DataFrame): this.type = refitFromStats {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    transitions2 = held(t2Stats.filter(F.col("cnt") >= minCount).cache())
    transitions2.count()
    (backoffTier.fitFromStats(t1Stats).fitItems, None)
  }

  /** Last two items per query under the fit order: (query, _l1, _l2) with
    * _l2 null for single-event histories. */
  private def lastTwo(history: DataFrame): DataFrame = {
    val w = Window.partitionBy(cols.query).orderBy(orderDesc: _*)
    history.withColumn("_rn", F.row_number().over(w))
      .filter(F.col("_rn") <= 2)
      .groupBy(cols.query)
      .agg(F.max(F.when(F.col("_rn") === 1, F.col(cols.item))).as("_l1"),
        F.max(F.when(F.col("_rn") === 2, F.col(cols.item))).as("_l2"))
  }

  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame =
    throw new UnsupportedOperationException(
      "Markov2Rec scores from the history; use predict")

  override def predict(
      log: DataFrame,
      k: Int,
      queries: Option[DataFrame] = None,
      filterSeen: Boolean = true,
      items: Option[DataFrame] = None,
  ): DataFrame = {
    val qs = requestedQueries(log, queries)
    val history = log.join(qs, Seq(cols.query), "left_semi")
    val t20 = items.map(it => transitions2.join(
      it.select(F.col(cols.item).as("item_two")).distinct(),
      Seq("item_two"), "left_semi")).getOrElse(transitions2)
    val (seen, maxSeen) = seenFilter(history, filterSeen)
    val wc = Window.partitionBy("ctx2", "ctx1")
      .orderBy(F.col("cnt").desc, F.col("item_two").asc)
    val t2 = t20.withColumn("_rk", F.row_number().over(wc))
      .filter(F.col("_rk") <= k + maxSeen).drop("_rk")
    val ctx = keepScratch(lastTwo(history))
    val cand2 = ctx.filter(F.col("_l2").isNotNull)
      .join(t2, F.col("_l2") === F.col("ctx2") &&
        F.col("_l1") === F.col("ctx1"))
      .select(F.col(cols.query), F.col("item_two").as(cols.item),
        F.col("cnt").cast("double").as(cols.rating))
    // stupid backoff, per query: order-1 ONLY when the exact order-2
    // context yields nothing (decided on the un-seen-filtered candidate
    // set — a pure function of the fit state)
    val order2Queries = cand2.select(cols.query).distinct()
    val backoffQueries = qs.select(cols.query)
      .join(order2Queries, Seq(cols.query), "left_anti")
    val cand1 = backoff.predict(log, k,
      queries = Some(backoffQueries), filterSeen = filterSeen, items = items)
    Ops.getTopKRecs(dropSeen(cand2, seen), k, cols.query, cols.item, cols.rating)
      .unionByName(cand1)
  }

  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame = {
    val ctx = lastTwo(log)
    val scored2 = ctx.filter(F.col("_l2").isNotNull)
      .join(transitions2, F.col("_l2") === F.col("ctx2") &&
        F.col("_l1") === F.col("ctx1"))
      .select(F.col(cols.query), F.col("item_two").as(cols.item),
        F.col("cnt").cast("double").as("_s2"))
    val order2Queries = scored2.select(cols.query).distinct()
    val p2 = pairs.join(order2Queries, Seq(cols.query), "left_semi")
      .join(scored2, Seq(cols.query, cols.item), "left")
      .withColumn(cols.rating, F.coalesce(F.col("_s2"), F.lit(0.0)))
      .drop("_s2")
    val p1 = backoff.predictPairs(
      pairs.join(order2Queries, Seq(cols.query), "left_anti"), log)
    p2.unionByName(p1)
  }

  /** Same knob as the order-1 model: the transition-count floor
    * (integer [1, 10]), applied to both tiers. */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "min_count" -> (1.0, 10.0))

  override def withParams(p: Map[String, Double]): Markov2Rec = new Markov2Rec(
    minCount = p.get("min_count").map(math.round).getOrElse(minCount),
    tieBreak, cols)
}

package graft.models

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.core.Ops

/** First-order Markov next-item recommender — the relational stand-in for
  * the reference's sequential next-item family (replay/models/nn/sequential:
  * SASRec/BERT4Rec predict the next item from the interaction sequence; the
  * torch stack is out of scope per SURVEY §2.10, but the FIRST-ORDER version
  * of that task is exactly relational): fit counts consecutive-item
  * transitions under a deterministic per-query total order, predict scores
  * the catalog from each query's LAST item by transition count.
  *
  * Scale: fit is one window shuffle on the query key (the sessionize shape)
  * plus one count aggregation on the pair key — both partial-aggregated,
  * no self-join, state ∝ distinct observed pairs. predict crops the
  * transition table per source item to k+maxSeen BEFORE the join (exact
  * after the seen anti-join, same discipline as the base top-k path), so
  * the scored stream is O(|queries|·(k+maxSeen)), never |queries|×|catalog|.
  * Transition counts are trivially mergeable (sum) — the incremental-refit
  * law holds by construction; [[graft.streaming.StreamingOps]] carries the
  * stateful streaming twin.
  *
  * Determinism: the sequence order is (ts, tieBreak..., item) — total given
  * distinct (ts, tieBreak, item) triples — so transitions, and therefore
  * recs, mirror exactly in the SQL oracle.
  */
final class MarkovRec(
    val minCount: Long = 1L,
    /** Extra order columns between the timestamp and the item id for logs
      * whose timestamps tie (e.g. the session id on the TPC-H-ish log where
      * ts is a DATE). */
    val tieBreak: Seq[String] = Nil,
    cols: RecCols = RecCols(),
) extends BaseRecommender(cols) {

  /** (item_one, item_two, cnt) — consecutive-pair counts from fit. */
  var transitions: DataFrame = _

  private def orderAsc: Seq[Column] =
    (F.col(cols.ts) +: tieBreak.map(F.col)) :+ F.col(cols.item)
  private def orderDesc: Seq[Column] = orderAsc.map(_.desc)

  protected def doFit(log: DataFrame): Unit = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val w = Window.partitionBy(cols.query).orderBy(orderAsc: _*)
    val t = log
      .withColumn("_prev", F.lag(F.col(cols.item), 1).over(w))
      .filter(F.col("_prev").isNotNull)
      .groupBy(F.col("_prev").as("item_one"),
        F.col(cols.item).as("item_two"))
      .agg(F.count(F.lit(1)).as("cnt"))
      .filter(F.col("cnt") >= minCount)
    transitions = held(t.cache())
    transitions.count()
  }

  // ---- incremental refit (the ItemKNN/EASE/SlopeOne discipline) ---------
  // Lag pairs are computed per query, so USER-disjoint slices carry each
  // user's full sequence: the unfiltered pair counts are per-user sums,
  // merge by plain addition, and the merged rebuild is BIT-exact vs the
  // full fit. minCount applies on the MERGED counts (the full fit filters
  // at global counts — filtering per slice would drop pairs whose global
  // count clears the floor).

  /** Unfiltered consecutive-pair counts of one user-disjoint slice. */
  def transStats(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(cols.query).orderBy(orderAsc: _*)
    log.withColumn("_prev", F.lag(F.col(cols.item), 1).over(w))
      .filter(F.col("_prev").isNotNull)
      .groupBy(F.col("_prev").as("item_one"), F.col(cols.item).as("item_two"))
      .agg(F.count(F.lit(1)).as("cnt"))
  }

  /** Merge two user-disjoint slices by addition. */
  def mergeStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("item_one", "item_two")
      .agg(F.sum("cnt").cast("long").as("cnt"))

  /** Rebuild the fit from merged stats — bit-exact vs [[fit]] on the
    * concatenated user-disjoint slices (minCount applied here). The stats
    * carry no users: the fit items are the source items, and there are
    * no fit queries. */
  def fitFromStats(stats: DataFrame): this.type = refitFromStats {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    transitions = held(stats.filter(F.col("cnt") >= minCount).cache())
    transitions.count()
    (transitions.select(F.col("item_one").as(cols.item)).distinct(), None)
  }

  /** Last interaction's item per query under the fit order. */
  private def lastItems(history: DataFrame): DataFrame = {
    val w = Window.partitionBy(cols.query).orderBy(orderDesc: _*)
    history.withColumn("_rn", F.row_number().over(w))
      .filter(F.col("_rn") === 1)
      .select(F.col(cols.query), F.col(cols.item).as("_last"))
  }

  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame =
    throw new UnsupportedOperationException(
      "MarkovRec scores from the history's last item; use predict")

  override def predict(
      log: DataFrame,
      k: Int,
      queries: Option[DataFrame] = None,
      filterSeen: Boolean = true,
      items: Option[DataFrame] = None,
  ): DataFrame = {
    val qs = requestedQueries(log, queries)
    val history = log.join(qs, Seq(cols.query), "left_semi")
    // candidate restriction commutes with the per-source crop: filter the
    // predicted side FIRST, then crop — restricted top-k stays exact
    val trans0 = items.map(it => transitions.join(
      it.select(F.col(cols.item).as("item_two")).distinct(),
      Seq("item_two"), "left_semi")).getOrElse(transitions)
    val (seen, maxSeen) = seenFilter(history, filterSeen)
    // per-source crop: at most maxSeen candidates per query are seen, so
    // the top (k + maxSeen) transitions per source item cover the exact
    // post-filter top-k
    val wc = Window.partitionBy("item_one")
      .orderBy(F.col("cnt").desc, F.col("item_two").asc)
    val trans = trans0.withColumn("_rk", F.row_number().over(wc))
      .filter(F.col("_rk") <= k + maxSeen).drop("_rk")
    val recs = lastItems(history)
      .join(trans, F.col("_last") === F.col("item_one"))
      .select(F.col(cols.query), F.col("item_two").as(cols.item),
        F.col("cnt").cast("double").as(cols.rating))
    Ops.getTopKRecs(dropSeen(recs, seen), k, cols.query, cols.item, cols.rating)
  }

  /** minCount int [1, 10] — the only fit hyperparameter (engine extra;
    * same uniform-draw convention as the reference-backed spaces). */
  override def searchBorders: Map[String, (Double, Double)] =
    Map("min_count" -> (1.0, 10.0))

  override def withParams(p: Map[String, Double]): MarkovRec = new MarkovRec(
    minCount = p.get("min_count").map(math.round).getOrElse(minCount),
    tieBreak, cols)

  /** Score explicit pairs: cnt(last(query) → item), 0.0 when the
    * transition was never observed. */
  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame = {
    val scored = lastItems(log)
      .join(transitions, F.col("_last") === F.col("item_one"))
      .select(F.col(cols.query), F.col("item_two").as(cols.item),
        F.col("cnt").cast("double").as(cols.rating))
    pairs.join(scored, Seq(cols.query, cols.item), "left")
      .withColumn(cols.rating, F.coalesce(F.col(cols.rating), F.lit(0.0)))
  }
}

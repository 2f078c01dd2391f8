package graftbench

import scala.collection.mutable

/** Driver-side reference computations the batch_pipeline output checks
  * compare graft's results with. Plain Scala over collected rows, so they
  * hold for any workload seed, and `SelfTest` checks them without Spark.
  * Users and items are `Long` ids throughout. */
object Reference {

  /** Plain-cosine ItemKNN similarity (no weighting, no shrink): for each
    * item, its top-`k` neighbours by (similarity desc, neighbour asc), with
    * similarity = co-count / (√df₁ · √df₂) over distinct (user, item)
    * pairs, the expression `ItemKNN` evaluates, so equal bit for bit. */
  def knnSimilarity(pairs: Iterable[(Long, Long)], k: Int): Map[Long, IndexedSeq[(Long, Double)]] = {
    val byUser = pairs.toSet[(Long, Long)].groupBy(_._1).values.map(_.map(_._2).toArray.sorted)
    val df = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    val co = mutable.HashMap.empty[(Long, Long), Long].withDefaultValue(0L)
    byUser.foreach { items =>
      items.foreach(i => df(i) += 1)
      for (a <- items.indices; b <- a + 1 until items.length) co((items(a), items(b))) += 1
    }
    val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Double)]]
    co.foreach { case ((i, j), c) =>
      val s = c.toDouble / (math.sqrt(df(i).toDouble) * math.sqrt(df(j).toDouble) + 0.0)
      out.getOrElseUpdate(i, mutable.ArrayBuffer.empty) += ((j, s))
      out.getOrElseUpdate(j, mutable.ArrayBuffer.empty) += ((i, s))
    }
    out.map { case (i, ns) => i -> ns.sortBy { case (j, s) => (-s, j) }.take(k).toIndexedSeq }.toMap
  }

  /** ItemKNN scores of unseen candidates for one user: the sum of the
    * neighbour similarities over the user's history rows (repeats count
    * again). */
  def knnScores(history: Seq[Long], sim: Map[Long, IndexedSeq[(Long, Double)]]): Map[Long, Double] = {
    val seen = history.toSet
    val acc = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    history.foreach(h => sim.getOrElse(h, IndexedSeq.empty).foreach { case (c, s) => acc(c) += s })
    acc.filter { case (c, _) => !seen(c) }.toMap
  }

  /** Whether `got` (item → score) is a correct top-`k` of `ref` scores:
    * as many items as min(k, candidates), every score within `tol` of the
    * reference, and no left-out candidate scoring above a returned one by
    * more than `tol`. */
  def isTopK(got: Map[Long, Double], ref: Map[Long, Double], k: Int, tol: Double): Boolean =
    got.size == math.min(k, ref.size) &&
      got.forall { case (c, s) => ref.get(c).exists(r => math.abs(r - s) <= tol) } && {
        val left = ref.keySet -- got.keySet
        got.isEmpty || left.isEmpty ||
          left.iterator.map(ref).max <= got.keysIterator.map(ref).min + tol
      }

  /** The ranking metrics of `graft.metrics.Metrics` for one user: `pred`
    * ranked best first, `gt` the user's test items. */
  def rankingMetrics(pred: IndexedSeq[Long], gt: Set[Long], k: Int): Map[String, Double] = {
    val p = pred.take(k)
    val hits = p.map(gt.contains)
    val nHits = hits.count(identity)
    val empty = pred.isEmpty || gt.isEmpty
    def guard(v: => Double) = if (empty) 0.0 else v
    val firstHit = hits.indexWhere(identity)
    val ap = hits.indices.foldLeft((0, 0.0)) { case ((tp, s), i) =>
      if (hits(i)) (tp + 1, s + (tp + 1).toDouble / (i + 1)) else (tp, s)
    }._2
    val dcg = hits.indices.filter(hits).map(i => 1.0 / log2(i + 2)).sum
    val idcg = (1 to math.min(k, gt.size)).map(i => 1.0 / log2(i + 1)).sum
    val fpCur = hits.count(!_)
    val fpCum = hits.indices.foldLeft((0, 0)) { case ((cur, cum), i) =>
      if (hits(i)) (cur, cum + cur) else (cur + 1, cum)
    }._2
    val len = hits.length
    Map(
      "hit_rate" -> guard(if (nHits > 0) 1.0 else 0.0),
      "precision" -> (if (pred.isEmpty) 0.0 else nHits.toDouble / k),
      "recall" -> (if (gt.isEmpty) 0.0 else nHits.toDouble / gt.size),
      "map" -> guard(ap / k),
      "mrr" -> guard(if (firstHit >= 0) 1.0 / (firstHit + 1) else 0.0),
      "ndcg" -> guard(dcg / idcg),
      "roc_auc" -> guard(
        if (fpCur == len) 0.0 else if (fpCum == 0) 1.0
        else 1.0 - fpCum.toDouble / (fpCur * (len - fpCur))))
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** Mean of every ranking metric @k over the ground-truth users; users
    * without recommendations score 0. `recs` are (user, item, score). */
  def meanRankingMetrics(recs: Seq[(Long, Long, Double)], gt: Seq[(Long, Long)],
      k: Int): Map[String, Double] = {
    val preds = recs.groupBy(_._1).map { case (u, rs) =>
      u -> rs.sortBy(r => (-r._3, r._2)).map(_._2).toIndexedSeq
    }
    val perUser = gt.groupBy(_._1).toSeq.map { case (u, ps) =>
      rankingMetrics(preds.getOrElse(u, IndexedSeq.empty), ps.map(_._2).toSet, k)
    }
    require(perUser.nonEmpty, "metrics of no ground-truth users")
    perUser.head.keys.map(m => m -> perUser.map(_(m)).sum / perUser.length).toMap
  }
}

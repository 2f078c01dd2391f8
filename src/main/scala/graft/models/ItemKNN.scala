package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Item-item cosine KNN (reference: replay/models/knn.py:74-229).
  *
  * fit: optional tf-idf / bm25 reweighting of the user-item matrix
  * (knn.py:92-156), then dot products via a self-join on the user key,
  * norms from per-item sums of squares, cosine with shrinkage
  * (sim = dot / (n1·n2 + shrink), knn.py:75-79), and a per-item
  * top-`numNeighbours` window.
  *
  * Scale: the user self-join is the hazard (power-law users explode the
  * per-user pair count — SURVEY §7.4.3). `maxUserHistory` caps each user's
  * contribution to a deterministic pseudo-random `maxUserHistory`-item
  * subset (portable-hash order — unbiased w.r.t. item ids) before the
  * join, bounding the per-user pair fan-out; AQE skew-join
  * handles residual skew. Pair generation is item1 < item2 then
  * symmetrized, halving the shuffle volume.
  */
final class ItemKNN(
    val numNeighbours: Int = 10,
    val shrink: Double = 0.0,
    val weighting: Option[String] = None, // None | "tf_idf" | "bm25"
    val maxUserHistory: Int = 1000,
    val bm25K1: Double = 1.2,
    val bm25B: Double = 0.75,
    cols: RecCols = RecCols(),
) extends NeighbourRec(cols) {

  /** Reweight interaction values (knn.py:92-156). */
  private def reweight(log: DataFrame): DataFrame = {
    val base = log.select(F.col(cols.query), F.col(cols.item))
      .distinct()
      .withColumn("_v", F.lit(1.0))
    weighting match {
      case None => base
      case Some("tf_idf") =>
        // idf(item) = ln(nUsers / df(item)); value = idf
        val nUsers = base.select(cols.query).distinct().count().toDouble
        val df = base.groupBy(cols.item).agg(F.count(F.lit(1)).as("_df"))
        base.join(df, Seq(cols.item))
          .withColumn("_v", F.log(F.lit(nUsers) / F.col("_df")))
          .drop("_df")
      case Some("bm25") =>
        val nUsers = base.select(cols.query).distinct().count().toDouble
        val userLen = base.groupBy(cols.query).agg(F.count(F.lit(1)).as("_len"))
        val avgLen = userLen.agg(F.avg("_len")).first().getDouble(0)
        val df = base.groupBy(cols.item).agg(F.count(F.lit(1)).as("_df"))
        base.join(userLen, Seq(cols.query)).join(df, Seq(cols.item))
          .withColumn("_idf",
            F.log((F.lit(nUsers) - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0))
          .withColumn("_v",
            F.col("_idf") * (F.lit(bm25K1) + 1.0) /
              (F.lit(1.0) + F.lit(bm25K1) *
                (F.lit(1 - bm25B) + F.lit(bm25B) * F.col("_len") / F.lit(avgLen))))
          .select(F.col(cols.query), F.col(cols.item), F.col("_v"))
      case Some(other) => throw new IllegalArgumentException(s"unknown weighting $other")
    }
  }

  protected def doFit(log: DataFrame): Unit = {
    val weighted0 = reweight(log)
    // cap per-user history to bound the self-join fan-out; crop order is a
    // deterministic hash of (user, item) — a pseudo-random subset, not the
    // lowest item ids (which would bias capped users' contributions toward
    // one corner of the catalog). xxhash64, not the md5 portable hash: the
    // cap is never oracle-mirrored and the long sort key is ~3× cheaper
    // than a hex-string one. NOTE: the SQL oracles for model_item_knn*
    // assume the cap does NOT bind (histories < maxUserHistory, true for
    // the gate data by a 25× margin) — an input with >1000-item histories
    // diverges from those mirrors by design.
    // the crop window is effectively free even when the cap never binds:
    // its hash-partitioning on the user key is exactly the partitioning
    // the self-join below needs, so the exchange is reused (measured: a
    // "skip the window when max history <= cap" probe job was NET slower)
    val weighted = if (maxUserHistory > 0) {
      val w = Window.partitionBy(cols.query).orderBy(
        F.xxhash64(F.col(cols.query), F.col(cols.item)),
        F.col(cols.item).asc)
      weighted0.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= maxUserHistory).drop("_rn")
    } else weighted0

    // Weighted paths ppm-quantize the per-cell weight to an exact BIGINT
    // (floor(v·1e6)) BEFORE the dot products — the BiasModel/SlopeOne
    // exact-integer discipline. Dots and squared norms are then exact
    // integer sums (partition-order INDEPENDENT), so the cosine is one
    // deterministic IEEE expression over exact inputs — identical bits in
    // Spark and any oracle engine, no round-before-rank band-aid (which
    // still lost 1 cell at a round-9 boundary whenever the float-sum
    // order differed; observed at sf0.1 for six rounds). Unit algebra:
    // dot and norm² are both ×1e12, so `shrink` scales by 1e12.
    // Overflow bound: |_vq| ≤ ~2e7 for any sane bm25/idf weight (v ≤ 20),
    // so Σ(_vq²) per item stays under 2^63 up to ~2e4 interactions/item ×
    // 4e14 — beyond that, lower the quantization or use decimal.
    // r13 (guide §2.4): `cells` feeds THREE subtrees (norms + both self-join
    // sides); uncached, each re-ran scan→distinct→reweight→cap-window (the
    // exchange is reused across sides, but the sort+window above it ran per
    // side). One cache = one computation of the weighted matrix.
    val cells = (if (weighting.isEmpty) weighted
      else weighted.withColumn("_v",
        F.floor(F.col("_v") * F.lit(1e6)).cast("long"))).cache()
    val norms = cells.groupBy(cols.item)
      .agg(F.sqrt(F.sum(F.col("_v") * F.col("_v")).cast("double")).as("_norm"))

    val l = cells.select(
      F.col(cols.query), F.col(cols.item).as("item_one"), F.col("_v").as("_v1"))
    val r = cells.select(
      F.col(cols.query), F.col(cols.item).as("item_two"), F.col("_v").as("_v2"))
    // one shuffle on the user key; item1 < item2 halves the pairs
    val dots = l.join(r, Seq(cols.query))
      .filter(F.col("item_one") < F.col("item_two"))
      .groupBy("item_one", "item_two")
      .agg(F.sum(F.col("_v1") * F.col("_v2")).as("_dot"))

    val shrinkLit = if (weighting.isEmpty) F.lit(shrink)
      else F.lit(shrink) * F.lit(1e12)
    // r13 (guide §2.4): `half` feeds both symmetrization branches — cached
    // so the Gram join+aggregation runs once, released after the crop.
    val half = dots
      .join(norms.withColumnRenamed(cols.item, "item_one")
        .withColumnRenamed("_norm", "_n1"), Seq("item_one"))
      .join(norms.withColumnRenamed(cols.item, "item_two")
        .withColumnRenamed("_norm", "_n2"), Seq("item_two"))
      .select(F.col("item_one"), F.col("item_two"),
        (F.col("_dot").cast("double") /
          (F.col("_n1") * F.col("_n2") + shrinkLit)).as("similarity"))
      .cache()

    // symmetrize (unionByName, reference association_rules.py:229-235 style)
    val sym = half.unionByName(half.select(
      F.col("item_two").as("item_one"), F.col("item_one").as("item_two"),
      F.col("similarity")))

    // bounded heap crop, not a rank window: the symmetrized pair table is
    // ~|common-user item pairs|×2 rows (16M at sf0.1, quadratic-ish in
    // history length at scale) and the window would sort all of it; the
    // O(numNeighbours) aggregation crops map-side with no sort. Identical
    // rows: similarities are deterministic (exact integer sums in BOTH
    // paths) and the (similarity desc, item_two asc) order matches.
    materialize(graft.core.Ops.getTopKRecsBounded(
      sym, numNeighbours, "item_one", "item_two", "similarity"))
    cells.unpersist() // fit state is the cropped similarity; drop the scratch
    half.unpersist()
  }

  /** Sufficient statistics of the PLAIN-COSINE fit for incremental refit:
    * pair co-counts `(item_one < item_two, codot)` and per-item
    * document frequencies `(item, df)`. Both are pure sums over users, so
    * the stats of user-disjoint log slices MERGE by addition
    * ([[ItemKNN.mergeStats]]) and [[fitFromStats]] of the merged stats is
    * EXACTLY a full refit (spec-pinned law) — the neighbour-model
    * incremental-refit path (new day's users land as one stats build +
    * one merge, never a rescan of history). tf-idf/bm25 weights depend on
    * global corpus stats and are deliberately excluded (refit those). The
    * per-user `maxUserHistory` cap commutes with user-disjoint slicing
    * (the crop key is (user, item)), so the law holds with the cap too. */
  def coStats(log: DataFrame): (DataFrame, DataFrame) = {
    require(weighting.isEmpty,
      "sufficient-stats refit is the plain-cosine path; weighted fits need global stats")
    val base0 = log.select(F.col(cols.query), F.col(cols.item)).distinct()
    val base = if (maxUserHistory > 0) {
      val w = Window.partitionBy(cols.query).orderBy(
        F.xxhash64(F.col(cols.query), F.col(cols.item)),
        F.col(cols.item).asc)
      base0.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= maxUserHistory).drop("_rn")
    } else base0
    val l = base.select(F.col(cols.query), F.col(cols.item).as("item_one"))
    val r = base.select(F.col(cols.query), F.col(cols.item).as("item_two"))
    val pairs = l.join(r, Seq(cols.query))
      .filter(F.col("item_one") < F.col("item_two"))
      .groupBy("item_one", "item_two")
      .agg(F.count(F.lit(1)).as("codot"))
    val dfs = base.groupBy(cols.item).agg(F.count(F.lit(1)).as("df"))
    (pairs, dfs)
  }

  /** Materialize the similarity table from (possibly merged) co-stats —
    * identical rows to a plain-cosine [[doFit]] over the same users. */
  def fitFromStats(pairs: DataFrame, dfs: DataFrame): this.type = {
    require(weighting.isEmpty,
      "sufficient-stats refit is the plain-cosine path")
    val norms = dfs.select(F.col(cols.item),
      F.sqrt(F.col("df").cast("double")).as("_norm"))
    val half = pairs
      .join(norms.withColumnRenamed(cols.item, "item_one")
        .withColumnRenamed("_norm", "_n1"), Seq("item_one"))
      .join(norms.withColumnRenamed(cols.item, "item_two")
        .withColumnRenamed("_norm", "_n2"), Seq("item_two"))
      .select(F.col("item_one"), F.col("item_two"),
        (F.col("codot").cast("double") /
          (F.col("_n1") * F.col("_n2") + F.lit(shrink))).as("similarity"))
      .cache() // r13: feeds both symmetrization branches (see doFit)
    val sym = half.unionByName(half.select(
      F.col("item_two").as("item_one"), F.col("item_one").as("item_two"),
      F.col("similarity")))
    materialize(graft.core.Ops.getTopKRecsBounded(
      sym, numNeighbours, "item_one", "item_two", "similarity"))
    half.unpersist()
    // dfs holds one row per item (coStats and mergeStats group by item)
    fitItemsDf = graft.core.Persist.leaf(dfs.select(F.col(cols.item)))
    this
  }

  /** Reference knn.py:32-37: num_neighbours int [1,100], shrink int
    * [0,100], weighting categorical [None, tf_idf, bm25] (index-encoded). */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "num_neighbours" -> (1.0, 100.0), "shrink" -> (0.0, 100.0),
    "weighting" -> (0.0, 3.0))

  override def withParams(p: Map[String, Double]): ItemKNN = new ItemKNN(
    numNeighbours = p.get("num_neighbours").map(v => math.round(v).toInt)
      .getOrElse(numNeighbours),
    shrink = p.get("shrink").map(v => math.round(v).toDouble).getOrElse(shrink),
    weighting = p.get("weighting").map(v =>
      Seq(None, Some("tf_idf"), Some("bm25"))(math.min(2, v.floor.toInt)))
      .getOrElse(weighting),
    maxUserHistory, bm25K1, bm25B, cols)
}

object ItemKNN {
  /** Merge co-stats of user-disjoint log slices: pure additive union —
    * one groupBy-sum per frame, the shard/refit merge step. */
  def mergeStats(a: (DataFrame, DataFrame),
      b: (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val pairs = a._1.unionByName(b._1)
      .groupBy("item_one", "item_two")
      .agg(F.sum("codot").as("codot"))
    val dfCol = a._2.columns.filterNot(_ == "df").head
    val dfs = a._2.unionByName(b._2)
      .groupBy(dfCol).agg(F.sum("df").as("df"))
    (pairs, dfs)
  }
}

package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.storage.StorageLevel
import graft.core.Ops

/** Item-item cosine KNN (reference: replay/models/knn.py:74-229).
  *
  * fit: optional tf-idf / bm25 reweighting of the user-item matrix
  * (knn.py:92-156), then the family's cosine kernel
  * ([[ItemKNN.stats]] → [[ItemKNN.topK]]): dot products via a self-join on
  * the user key, norms from per-item sums of squares, cosine with
  * shrinkage (sim = dot / (n1·n2 + shrink), knn.py:75-79), and a per-item
  * top-`numNeighbours` crop. The plain fit is [[fitFromStats]] of
  * [[coStats]] by construction: both run the same two kernel calls.
  *
  * Scale: the user self-join is the hazard (power-law users explode the
  * per-user pair count — SURVEY §7.4.3). `maxUserHistory` caps each user's
  * contribution with [[ItemKNN.cap]] before the join (the SQL oracles
  * assume it does not bind, see there); AQE skew-join handles residual
  * skew. Pair generation is item1 < item2 then symmetrized, halving the
  * shuffle volume.
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

  /** Reweight distinct (query, item) pairs into `_v` (knn.py:92-156). */
  private def reweight(base: DataFrame, w: String): DataFrame = w match {
    case "tf_idf" =>
      // idf(item) = ln(nUsers / df(item)); value = idf
      val nUsers = base.select(cols.query).distinct().count().toDouble
      val df = base.groupBy(cols.item).agg(F.count(F.lit(1)).as("_df"))
      base.join(df, Seq(cols.item))
        .withColumn("_v", F.log(F.lit(nUsers) / F.col("_df")))
        .drop("_df")
    case "bm25" =>
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
    case other => throw new IllegalArgumentException(s"unknown weighting $other")
  }

  /** The kernel's (query, item, _v) cells: distinct pairs, weighted on the
    * uncapped log, capped per user, then `_v` as an exact BIGINT.
    *
    * Weighted paths ppm-quantize the per-cell weight (floor(v·1e6)) BEFORE
    * the dot products — the BiasModel/SlopeOne exact-integer discipline.
    * Dots and squared norms are then exact integer sums (partition-order
    * INDEPENDENT), so the cosine is one deterministic IEEE expression over
    * exact inputs — identical bits in Spark and any oracle engine, no
    * round-before-rank band-aid (which still lost 1 cell at a round-9
    * boundary whenever the float-sum order differed; observed at sf0.1 for
    * six rounds). Unit algebra: dot and norm² are both ×1e12, so `shrink`
    * scales by 1e12. Overflow bound: |_v| ≤ ~2e7 for any sane bm25/idf
    * weight (v ≤ 20), so Σ(_v²) per item stays under 2^63 up to ~2e4
    * interactions/item × 4e14 — beyond that, lower the quantization or use
    * decimal. The plain path's `_v` is 1, so its sums are the co-counts. */
  private def cells(log: DataFrame): DataFrame = {
    val base = log.select(F.col(cols.query), F.col(cols.item)).distinct()
    ItemKNN.cap(weighting.fold(base)(reweight(base, _)),
        cols.query, Seq(cols.query, cols.item), cols.item, maxUserHistory)
      .withColumn("_v",
        if (weighting.isEmpty) F.lit(1L)
        else F.floor(F.col("_v") * F.lit(1e6)).cast("long"))
  }

  protected def doFit(log: DataFrame): Unit = {
    // r13 (guide §2.4): `cells` feeds THREE subtrees (norms + both self-join
    // sides); uncached, each re-ran scan→distinct→reweight→cap-window (the
    // exchange is reused across sides, but the sort+window above it ran per
    // side). One cache = one computation of the weighted matrix.
    val c = cells(log).cache()
    val (pairs, dfs) = ItemKNN.stats(c, cols.query, cols.item, "item_one", "item_two")
    ItemKNN.topK(pairs, dfs, cols.item, "item_one", "item_two", numNeighbours,
      if (weighting.isEmpty) shrink else shrink * 1e12)(materialize)
    c.unpersist() // fit state is the cropped similarity; drop the scratch
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
    ItemKNN.stats(cells(log), cols.query, cols.item, "item_one", "item_two")
  }

  /** Materialize the similarity table from (possibly merged) co-stats —
    * identical rows to a plain-cosine [[doFit]] over the same users. The
    * co-stats carry no user ids, so the previous fit's queries go: a
    * predict without `queries` takes the log's. */
  def fitFromStats(pairs: DataFrame, dfs: DataFrame): this.type = refitFromStats {
    require(weighting.isEmpty,
      "sufficient-stats refit is the plain-cosine path")
    ItemKNN.topK(pairs, dfs, cols.item, "item_one", "item_two", numNeighbours,
      shrink)(materialize)
    // dfs holds one row per item (coStats and mergeStats group by item)
    (dfs.select(F.col(cols.item)), None)
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

/** The co-stats format and the cosine kernel of the KNN family: ItemKNN
  * (cells keyed by user), [[UserKNN]] (by item) and [[ContentKNN]] (by
  * feature) all build their similarity with [[stats]] then [[topK]]. */
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

  /** The history cap of the neighbour family: `n` rows per `by` group, a
    * deterministic pseudo-random subset in xxhash64 order of `hashed`
    * (unbiased w.r.t. ids — the lowest ids would tilt capped groups toward
    * one corner of the catalog), ties by `id` ascending; `n <= 0` keeps all.
    * xxhash64, not the md5 portable hash: the long sort key is ~3× cheaper
    * than a hex-string one. The window is nearly free even when the cap
    * never binds: its hash-partitioning on `by` is exactly the partitioning
    * the self-join on `by` needs, so the exchange is reused (measured: a
    * "skip the window when max history <= cap" probe job was NET slower).
    *
    * NOTE: the cap is never oracle-mirrored. The SQL oracles of every
    * capped model (ItemKNN, UserKNN, ContentKNN, P3AlphaRec, SlopeOne)
    * assume it does NOT bind (true for the gate data by a 25× margin, or
    * the gate runs uncapped); an input whose groups exceed the cap
    * diverges from those mirrors by design. */
  private[models] def cap(df: DataFrame, by: String, hashed: Seq[String],
      id: String, n: Int): DataFrame =
    if (n <= 0) df
    else Ops.topK(df, Seq(by),
      Seq(F.xxhash64(hashed.map(F.col): _*), F.col(id).asc), n)

  /** Cosine statistics of cells `(by, entity, _v: long)`, lazy and
    * uncached: `(one < two, codot = Σ v·v')` from one self-join on `by`
    * (one shuffle; one < two halves the pairs), and `(entity, df = Σ v²)`.
    * Exact integer sums, so any partition order gives the same values. */
  private[models] def stats(cells: DataFrame, by: String, entity: String,
      one: String, two: String): (DataFrame, DataFrame) = {
    val l = cells.select(F.col(by), F.col(entity).as(one), F.col("_v").as("_v1"))
    val r = cells.select(F.col(by), F.col(entity).as(two), F.col("_v").as("_v2"))
    val pairs = l.join(r, Seq(by))
      .filter(F.col(one) < F.col(two))
      .groupBy(one, two)
      .agg(F.sum(F.col("_v1") * F.col("_v2")).as("codot"))
    val dfs = cells.groupBy(entity).agg(F.sum(F.col("_v") * F.col("_v")).as("df"))
    (pairs, dfs)
  }

  /** Cosine top-k of [[stats]]: `codot / (√df₁·√df₂ + shrink)`,
    * symmetrized, cropped to `k` per `one`, and handed to `keep` as
    * `(one, two, similarity)`; `keep` must materialize it. */
  private[models] def topK(pairs: DataFrame, dfs: DataFrame, entity: String,
      one: String, two: String, k: Int, shrink: Double)(
      keep: DataFrame => Unit): Unit = {
    // both pair sides join the norms: a lazy `dfs` (a fit's aggregation)
    // is cached for the crop, so it shuffles once, not once per side; a
    // cached one (persisted co-stats) is read as it is
    val lazyDfs = dfs.storageLevel == StorageLevel.NONE
    val norms0 = dfs.select(F.col(entity), F.sqrt(F.col("df").cast("double")).as("_norm"))
    val norms = if (lazyDfs) norms0.cache() else norms0
    // r13 (guide §2.4): `half` feeds both symmetrization branches — cached
    // so the Gram join+aggregation runs once, released after the crop.
    val half = pairs
      .join(norms.withColumnRenamed(entity, one)
        .withColumnRenamed("_norm", "_n1"), Seq(one))
      .join(norms.withColumnRenamed(entity, two)
        .withColumnRenamed("_norm", "_n2"), Seq(two))
      .select(F.col(one), F.col(two),
        (F.col("codot").cast("double") /
          (F.col("_n1") * F.col("_n2") + F.lit(shrink))).as("similarity"))
      .cache()
    // symmetrize (unionByName, reference association_rules.py:229-235 style)
    val sym = half.unionByName(half.select(
      F.col(two).as(one), F.col(one).as(two), F.col("similarity")))
    // bounded heap crop, not a rank window: the symmetrized pair table is
    // ~|common-user item pairs|×2 rows (16M at sf0.1, quadratic-ish in
    // history length at scale) and the window would sort all of it; the
    // O(k) aggregation crops map-side with no sort. Identical rows:
    // similarities are deterministic (exact integer sums) and the
    // (similarity desc, two asc) order matches.
    keep(Ops.getTopKRecsBounded(sym, k, one, two, "similarity"))
    half.unpersist()
    if (lazyDfs) norms.unpersist()
  }
}

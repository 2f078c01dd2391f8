package graft.models

import graft.core.{Owner, Persist}
import org.apache.spark.sql.{DataFrame, functions => F}

/** Item popularity recommender (reference: replay/models/pop_rec.py:121-137).
  *
  * useRating=false: popularity = countDistinct(queries that saw item) / nQueries.
  * useRating=true:  popularity = sum(rating of item) / nQueries.
  * One hash aggregation; the popularity table has |items| rows.
  */
final class PopRec(
    val useRating: Boolean = false,
    override val addColdItems: Boolean = true,
    override val coldWeight: Double = 0.5,
    cols: RecCols = RecCols(),
) extends NonPersonalizedRec(cols) {

  protected def doFit(log: DataFrame): Unit = {
    val nQueries = fitQueriesDf.count().toDouble
    val pop =
      if (useRating)
        log.groupBy(cols.item).agg((F.sum(cols.rating) / F.lit(nQueries)).as(cols.rating))
      else
        log.groupBy(cols.item)
          .agg((F.countDistinct(cols.query).cast("double") / F.lit(nQueries)).as(cols.rating))
    materialize(pop)
  }
}

/** Per-query personal popularity: share of the user's interactions (or
  * rating mass) on each item (reference: query_pop_rec.py:75-110). */
final class QueryPopRec(cols: RecCols = RecCols()) extends BaseRecommender(cols) {
  var queryProfile: DataFrame = _

  protected def doFit(log: DataFrame): Unit = {
    val byPair = log.groupBy(cols.query, cols.item)
      .agg(F.count(F.lit(1)).cast("double").as("_pair_cnt"))
    val byQuery = log.groupBy(cols.query)
      .agg(F.count(F.lit(1)).cast("double").as("_q_cnt"))
    queryProfile = held(byPair.join(byQuery, Seq(cols.query))
      .select(F.col(cols.query), F.col(cols.item),
        (F.col("_pair_cnt") / F.col("_q_cnt")).as(cols.rating))
      .cache())
    queryProfile.count()
  }

  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame =
    restrictItems(queryProfile, items)
      .join(queries.select(cols.query), Seq(cols.query), "left_semi")

  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame =
    pairs.join(queryProfile, Seq(cols.query, cols.item), "left")
      .withColumn(cols.rating, F.coalesce(F.col(cols.rating), F.lit(0.0)))
}

/** Category-popularity recommender over a category tree
  * (reference: cat_pop_rec.py:44-280). The tree is flattened to leaves by
  * iterative self-join (transitive closure with localCheckpoint per round);
  * item relevance is its interaction share within the category.
  *
  * `fit` holds the leaf item counts. The closure depends on the tree
  * alone: computed once per instance and kept across fits as local rows
  * (it is tree-sized), it holds no blocks; a loaded closure is held with
  * the loaded counts. */
final class CatPopRec(
    catTree: DataFrame,   // (category, parent_cat); roots have null parent
    itemCats: DataFrame,  // (item_id, category)
    val cols: RecCols = RecCols(),
) extends Serializable with Owner {
  import org.apache.spark.sql.functions.col

  private var closureCache: DataFrame = _

  /** Persistence hook (ModelIO): restore a computed closure so a loaded
    * model never touches the (unpersisted) catTree. */
  private[models] def setClosure(c: DataFrame): Unit = closureCache = c

  /** leaf-closure: map every category to all its descendant leaves. */
  def leafClosure: DataFrame = {
    if (closureCache == null) closureCache = computeClosure()
    closureCache
  }

  private def computeClosure(): DataFrame = {
    val edges = catTree.select(col("category"), col("parent_cat")).cache()
    val leaves = edges.select(col("category").as("leaf"))
      .join(edges.select(col("parent_cat").as("leaf")).distinct(),
        Seq("leaf"), "left_anti")
    // closure(cat → leaf): start with leaf→leaf, walk parents upward
    var closure = leaves.select(col("leaf").as("category"), col("leaf"))
    var frontier = closure
    var done = false
    var depth = 0
    val maxDepth = 100 // guards against cycles in malformed trees
    while (!done && depth < maxDepth) {
      val step = frontier
        .join(edges, Seq("category"))
        .filter(col("parent_cat").isNotNull)
        .select(col("parent_cat").as("category"), col("leaf"))
      // from depth 1 on, frontier and closure are superseded checkpoints
      val next = step.localCheckpoint(true)
      if (depth > 0) Persist.releaseCheckpoint(frontier)
      frontier = next
      if (frontier.isEmpty) { done = true; Persist.releaseCheckpoint(frontier) }
      else {
        val grown = closure.unionByName(frontier).distinct().localCheckpoint(true)
        if (depth > 0) Persist.releaseCheckpoint(closure)
        closure = grown
      }
      depth += 1
    }
    if (!done)
      throw new IllegalArgumentException(
        s"category tree deeper than $maxDepth levels — cycle in catTree?")
    // tree-sized: as local rows the closure holds no blocks, so a frame
    // planned on it computes after any release
    val rows = closure.collect()
    if (depth > 1) Persist.releaseCheckpoint(closure) // grown once at least: a checkpoint
    edges.unpersist()
    closure.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), closure.schema)
  }

  /** per-LEAF-category raw item counts — predict re-aggregates these over
    * each requested category's descendant leaves (reference
    * cat_pop_rec.py:245-279 sums leaf interactions, then normalizes
    * within the requested category). Items must attach to LEAF categories:
    * the closure maps a category to its descendant leaves only, so counts
    * keyed by an internal node never join — matching the reference, whose
    * mapping also replaces an internal node's self-entry with its
    * children (cat_pop_rec.py:51-66 coalesce walk). */
  var leafItemCounts: DataFrame = _

  def fit(log: DataFrame): this.type = held.refit {
    val withCat = log.join(itemCats, Seq(cols.item))
    leafItemCounts = held(withCat.groupBy("category", cols.item)
      .agg(F.count(F.lit(1)).as("_cnt"))
      .withColumnRenamed("category", "leaf")
      .cache())
    leafItemCounts.count()
    this
  }

  /** Top-k items per requested category: resolve the category to its
    * descendant leaves via the closure, sum leaf item counts, normalize
    * by the category total (a flat tree degenerates to leaf shares). */
  def predict(categories: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val res = categories.select("category").distinct()
      .join(leafClosure, Seq("category")) // (category, leaf)
    val itemAgg = res.join(leafItemCounts, Seq("leaf"))
      .groupBy("category", cols.item).agg(F.sum("_cnt").as("_cnt"))
    val catAgg = itemAgg.groupBy("category").agg(F.sum("_cnt").as("_cat_cnt"))
    val w = Window.partitionBy("category")
      .orderBy(col(cols.rating).desc, col(cols.item).asc)
    itemAgg.join(catAgg, Seq("category"))
      .select(col("category"), col(cols.item),
        (col("_cnt").cast("double") / col("_cat_cnt")).as(cols.rating))
      .withColumn("_rn", F.row_number().over(w))
      .filter(col("_rn") <= k).drop("_rn")
  }
}

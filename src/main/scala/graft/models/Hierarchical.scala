package graft.models

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, functions => F}
import graft.core.Owner

/** Hierarchical (HCB) recommender (reference:
  * replay/experimental/models/hierarchical_recommender.py:13-280; Song et
  * al. 2021, arXiv:2110.09905).
  *
  * The item space is clustered recursively into a tree of `depth` levels
  * (KMeans per internal node — the reference takes any sklearn clusterer;
  * leaves treat each item as its own cluster). Every node mounts a
  * [[ULinUCB]] fit on the node's log slice with items relabeled to child
  * clusters (internal nodes, item features = cluster centers) or kept as
  * items (leaves). Prediction walks down: each internal node routes a user
  * to its top-1 child cluster; the reached leaf emits the user's top-k
  * items within that cluster.
  *
  * Spark shape: the tree is metadata (≤ nClusters^(depth−1) nodes, a
  * bounded driver loop — the CatPopRec tree discipline); all heavy work
  * (cluster assignment, node fits, routing joins) is DataFrame-side. The
  * reference's all-python Node recursion (hierarchical_recommender.py:
  * 147-246 `.toPandas()` on the full log) is re-expressed as: one KMeans
  * per internal node on the node's item slice, one ULinUCB fit per node on
  * the relabeled slice, and per-level equi-joins at predict. The model
  * holds every node's ULinUCB, its assignment frame and the assembled
  * feature frame its KMeans was fit on; a refit releases the old tree.
  */
final class HierarchicalRecommender(
    val depth: Int = 2,
    val nClusters: Int = 4,
    val alpha: Double = -2.0,
    val seed: Long = 42,
    val cols: RecCols = RecCols(),
) extends Serializable with Owner {
  require(depth >= 2, s"depth must be >= 2, got $depth")

  /** One fitted tree node. `path` is the cluster-id route from the root
    * ("" for root, "0/2" = root child 0 → its child 2). */
  private[models] final case class Node(path: String, isLeaf: Boolean,
      rec: ULinUCB,
      // item → child-cluster assignment of THIS node's slice (leaf: item → item)
      assign: DataFrame)

  private[models] var nodes: Map[String, Node] = Map.empty
  private var itemFeatCols: Seq[String] = Seq.empty

  /** Cluster a node's item slice into nClusters via seeded KMeans;
    * returns (item, _cl, center feature columns per cluster). */
  private def clusterItems(items: DataFrame): (DataFrame, DataFrame) = {
    if (nClusters == 1) {
      // KMeans' k=1 fixed point is the mean — computed directly
      // (MLlib rejects k=1), keeping the degenerate tree deterministic
      val assigned = items.select(F.col(cols.item), F.lit(0L).as("_cl"))
      val centers = items.agg(
        F.avg(itemFeatCols.head).as(itemFeatCols.head),
        itemFeatCols.tail.map(c => F.avg(c).as(c)): _*)
        .select(F.lit(0L).as(cols.item) +: itemFeatCols.map(F.col): _*)
      return (assigned, centers)
    }
    val assembled = held(new VectorAssembler()
      .setInputCols(itemFeatCols.toArray).setOutputCol("_fv")
      .transform(items).cache())
    val nItems = assembled.count()
    val km = new KMeans().setK(nClusters).setSeed(seed)
      .setFeaturesCol("_fv").setPredictionCol("_cl")
    // item slices are catalog-sized (small) but arrive scan-fanned-out —
    // compact so the per-iteration KMeans cost is compute, not scheduling
    val model = km.fit(graft.core.Ops.compactForIterativeFit(assembled, nItems))
    val assigned = model.transform(assembled)
      .select(F.col(cols.item), F.col("_cl").cast("long").as("_cl"))
    // cluster centers as the child-level "item" features (reference
    // Clusterer._set_cluster_centers uses the members' mean — KMeans
    // centers are exactly that at convergence; we use the model's centers)
    val spark = items.sparkSession
    val centers = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.toIndexedSeq.map { case (c, i) =>
        (i.toLong, c.toArray.toSeq)
      }).toDF("_cl", "_c")
    val centerCols = F.col("_cl").as(cols.item) +:
      itemFeatCols.zipWithIndex.map { case (n, i) =>
        F.element_at(F.col("_c"), i + 1).as(n)
      }
    (assigned, centers.select(centerCols.toIndexedSeq: _*))
  }

  /** Fit the node tree. `itemFeatures`: (item, numeric feature columns). */
  def fit(log: DataFrame, itemFeatures: DataFrame): this.type = held.refit {
    itemFeatCols = itemFeatures.columns.filterNot(_ == cols.item).toIndexedSeq
    nodes = Map.empty
    def fitNode(path: String, level: Int, slice: DataFrame,
        feats: DataFrame): Unit = {
      val isLeaf = level == depth - 1
      if (isLeaf) {
        // discrete clusterer: each item is its own cluster
        val rec = held(new ULinUCB(alpha, cols)).fit(slice, feats)
        val assign = feats.select(F.col(cols.item), F.col(cols.item).as("_cl"))
        nodes += path -> Node(path, isLeaf = true, rec, held(assign.cache()))
      } else {
        val (assigned, centers) = clusterItems(feats)
        val relabeled = slice.join(F.broadcast(assigned), Seq(cols.item))
          .drop(cols.item).withColumnRenamed("_cl", cols.item)
        val rec = held(new ULinUCB(alpha, cols)).fit(relabeled, centers)
        nodes += path -> Node(path, isLeaf = false, rec, held(assigned.cache()))
        // recurse into each child's item slice (bounded driver loop over
        // cluster ids — |clusters| tiny)
        val clusterIds = assigned.select("_cl").distinct()
          .collect().map(_.getLong(0)).sorted
        clusterIds.foreach { cl =>
          val childItems = assigned.filter(F.col("_cl") === cl).select(cols.item)
          val childFeats = feats.join(childItems, Seq(cols.item), "left_semi")
          val childSlice = slice.join(childItems, Seq(cols.item), "left_semi")
          fitNode(s"$path/$cl", level + 1, childSlice, childFeats)
        }
      }
    }
    fitNode("", 0, log, itemFeatures)
    this
  }

  /** Walk the tree: route each query through top-1 child picks, then top-k
    * items at the reached leaf. `filterSeen` anti-joins the log at the
    * leaf (the reference forwards filter_seen_items to the leaf predict). */
  def predict(log: DataFrame, k: Int,
      queries: Option[DataFrame] = None,
      filterSeen: Boolean = true): DataFrame = {
    require(nodes.nonEmpty, "HierarchicalRecommender.predict before fit")
    val qs = queries.getOrElse(log.select(cols.query).distinct())

    def walk(path: String, users: DataFrame): DataFrame = {
      val node = nodes(path)
      if (node.isLeaf) {
        node.rec.predict(log, k, queries = Some(users), filterSeen = filterSeen)
      } else {
        // top-1 child per user (reference: k=1, no seen-filter at
        // internal nodes)
        val routed = node.rec.predict(log, 1, queries = Some(users),
          filterSeen = false)
          .select(F.col(cols.query), F.col(cols.item).as("_cl"))
        val children = nodes.keys
          .filter(p => p.startsWith(path + "/") &&
            !p.stripPrefix(path + "/").contains("/"))
        children.toSeq.sorted.map { child =>
          val cl = child.split("/").last.toLong
          val childUsers = routed.filter(F.col("_cl") === cl)
            .select(cols.query)
          walk(child, childUsers)
        }.reduceOption(_ unionByName _)
          .getOrElse(users.limit(0).select(F.col(cols.query),
            F.lit(0L).as(cols.item), F.lit(0.0).as(cols.rating)))
      }
    }
    walk("", qs.select(cols.query).distinct())
  }

  /** Restore one fitted node (ModelIO load path). */
  private[graft] def restoreNode(path: String, isLeaf: Boolean,
      rec: ULinUCB, assign: DataFrame): Unit =
    nodes += path -> Node(path, isLeaf, held(rec), held(assign))

  /** Root-level (item → cluster) assignment — the routing certificate's
    * ground truth. */
  def rootAssignment: DataFrame = {
    require(nodes.nonEmpty, "rootAssignment before fit")
    nodes("").assign
  }

  def fitPredict(log: DataFrame, itemFeatures: DataFrame, k: Int): DataFrame =
    fit(log, itemFeatures).predict(log, k)
}

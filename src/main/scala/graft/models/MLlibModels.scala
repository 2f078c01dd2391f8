package graft.models

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, functions => F}
import graft.core.Ops

/** ALS wrapper (reference: replay/models/als.py:69-165). Implicit
  * preference mode by default; predictPairs scores via model.transform.
  *
  * Exact predict (no ANN index, no `items` restriction) is one pass over
  * the requested users: each user's factor row, joined with the user's
  * seen item ids, is scored against every item factor by the BLAS call
  * MLlib's `recommendForAll` makes (`sgemv`, so the scores are the same
  * floats), and a bounded heap keeps the top k unseen items under
  * (rating desc, item asc) ([[AlsTopK]]). Next to [[NeighbourRec]], this
  * is the second predict without [[PredictScratch.seenFilter]]: seen items
  * are skipped while scoring, so there is no seen-pair cache, no maxSeen
  * action, no top-(k + maxSeen) shuffle, explode, anti-join or final
  * window.
  *
  * The item factors are model state: collected once per fit or
  * [[ModelIO.loadALS]], sorted by id, and broadcast. The broadcast holds
  * items × rank floats and one int id per item: 32 KB on the perfbench
  * shape, about 40 MB for 1M items at rank 10, the same order as the item
  * block MLlib's blocked top-k ships to each task.
  *
  * With an ANN index, predict scores the index's candidates; with `items`,
  * it scores the candidate pairs via model.transform (the reference,
  * als.py:137-146, also leaves the blocked top-k path there). Both then
  * run the base seen filter. */
final class ALSRec(
    val rank: Int = 10,
    val maxIter: Int = 10,
    val regParam: Double = 0.1,
    val implicitPrefs: Boolean = true,
    val seed: Long = 42,
    // optional pluggable ANN index over the item factors (reference
    // ann_mixin.py:78-186 via als.py's HnswlibMixin); None → the exact
    // one-pass top-k over the broadcast item factors
    val ann: Option[AnnIndex] = None,
    cols: RecCols = RecCols(),
) extends BaseRecommender(cols) {
  import org.apache.spark.ml.recommendation.{ALS, ALSModel}
  private var fitted: ALSModel = _
  // (ids ascending, rank × n column-major factors) of `fitted`'s items
  private var itemMatrix: Broadcast[(Array[Int], Array[Float])] = _

  def model: ALSModel = fitted

  // Active candidate index — the constructor's `ann` until swapped via
  // [[setAnn]] on a fitted model. Unlike Word2Vec, ALS at a fixed seed IS
  // deterministic across fits, but sharing one fit is still the cleaner
  // exact-vs-ANN comparison (and what model_als_ann_recall gates on).
  private var annIx: Option[AnnIndex] = ann
  def annIndex: Option[AnnIndex] = annIx

  /** Swap the candidate index on a fitted model (fits it against the
    * current item factors); None restores the exact top-k. The replaced
    * index is released. */
  def setAnn(a: Option[AnnIndex]): this.type = {
    annIx.filterNot(a.contains).foreach(held.drop)
    annIx = a
    if (fitted != null) annIx.foreach(fitAnn)
    this
  }

  private def fitAnn(ix: AnnIndex): Unit = held(ix).fit(
    fitted.itemFactors.select(F.col("id").cast("long").as(cols.item),
      F.col("features")), cols.item, "features")

  protected def doFit(log: DataFrame): Unit =
    install(new ALS()
      .setRank(rank).setMaxIter(maxIter).setRegParam(regParam)
      .setImplicitPrefs(implicitPrefs).setSeed(seed)
      .setUserCol(cols.query).setItemCol(cols.item).setRatingCol(cols.rating)
      .setColdStartStrategy("drop")
      .fit(log.select(
        F.col(cols.query).cast("int").as(cols.query),
        F.col(cols.item).cast("int").as(cols.item),
        F.col(cols.rating).cast("float").as(cols.rating))))

  /** Makes `m` the fitted model (fit, [[ModelIO.loadALS]]): holds m's
    * factor frames, which are frames over persisted RDDs, broadcasts m's
    * item factors and fits the ANN index to them. */
  private[models] def install(m: ALSModel): Unit = {
    held.checkpointed(m.userFactors, m.itemFactors)
    val spark = m.itemFactors.sparkSession
    import spark.implicits._
    val byId = m.itemFactors.select("id", "features").as[(Int, Array[Float])]
      .collect().sortBy(_._1)
    itemMatrix = held(spark.sparkContext.broadcast((byId.map(_._1), byId.flatMap(_._2))))
    fitted = m
    annIx.foreach(fitAnn)
  }

  override def predict(
      log: DataFrame,
      k: Int,
      queries: Option[DataFrame] = None,
      filterSeen: Boolean = true,
      items: Option[DataFrame] = None,
  ): DataFrame = {
    if (annIx.isDefined || items.isDefined)
      return super.predict(log, k, queries, filterSeen, items)
    held.releaseScratch()
    val spark = log.sparkSession
    import spark.implicits._
    val qs = requestedQueries(log, queries)
    // absent from the fit → no factor row → dropped, as MLlib drops them
    val users = fitted.userFactors.select("id", "features")
      .join(qs.select(F.col(cols.query).cast("int").as("id")), Seq("id"), "left_semi")
    val withSeen =
      if (filterSeen)
        users.join(log.join(qs, Seq(cols.query), "left_semi")
            .groupBy(F.col(cols.query).cast("long").as("_q"))
            .agg(F.collect_set(F.col(cols.item).cast("long")).as("_seen")),
          F.col("id").cast("long") === F.col("_q"), "left")
          .select("id", "features", "_seen")
      else users.withColumn("_seen", F.lit(null).cast("array<bigint>"))
    // locals, so that the task closure does not capture the model
    val (factors, r) = (itemMatrix, fitted.rank)
    withSeen.as[(Int, Array[Float], Array[Long])].mapPartitions { rows =>
      val topK = new AlsTopK(factors.value._1, factors.value._2, r, k)
      rows.flatMap { case (u, f, seen) =>
        topK(f, seen).iterator.map { case (i, s) => (u.toLong, i.toLong, s.toDouble) }
      }
    }.toDF(cols.query, cols.item, cols.rating)
  }

  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame =
    items match {
      case Some(it) =>
        predictPairs(queries.select(cols.query).crossJoin(
          it.select(cols.item).distinct()), null)
      case None =>
        val uf = fitted.userFactors
          .select(F.col("id").cast("long").as(cols.query), F.col("features"))
          .join(queries.select(F.col(cols.query).cast("long").as(cols.query)),
            Seq(cols.query), "left_semi")
        annIx.get.candidates(uf, cols.query, "features")
          .select(F.col(cols.query), F.col(cols.item).cast("long").as(cols.item),
            F.col("score").cast("double").as(cols.rating))
    }

  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame =
    model.transform(pairs.select(
        F.col(cols.query).cast("int").as(cols.query),
        F.col(cols.item).cast("int").as(cols.item)))
      .select(F.col(cols.query).cast("long").as(cols.query),
        F.col(cols.item).cast("long").as(cols.item),
        F.col("prediction").cast("double").as(cols.rating))

  def userFactors: DataFrame = model.userFactors
  def itemFactors: DataFrame = model.itemFactors

  /** Item factors as `(item, vec)` for item-to-item queries (reference
    * `_get_item_vectors`, als.py / base_rec.py:703-707). */
  def itemVectorsDF: DataFrame = model.itemFactors.select(
    F.col("id").cast("long").as(cols.item),
    F.col("features").cast("array<double>").as("vec"))

  /** Top-k similar items per anchor by factor-space metric (reference
    * ItemVectorModel.get_nearest_items, base_rec.py:709-777). */
  def getNearestItems(items: DataFrame, k: Int,
      metric: String = "cosine_similarity",
      candidates: Option[DataFrame] = None): DataFrame =
    NearestItems.fromVectors(itemVectorsDF, cols.item, "vec", items, k,
      metric, candidates)

  /** Fold-in: factors for users ABSENT from the fit, solved from their
    * history against the trained item factors — the cold-user production
    * path the reference lacks (als.py predicts only fitted users;
    * `coldStartStrategy="drop"` silently drops the rest). One closed-form
    * least-squares per user, i.e. exactly one more ALS half-step, so a
    * training user's fold-in reproduces their trained factor to float
    * precision (spec-pinned):
    *  - explicit (ALS-WR, as MLlib): u = (YᵤᵀYᵤ + λ·nᵤ·I)⁻¹ Yᵤᵀrᵤ
    *  - implicit (Hu-Koren-Volinsky, as MLlib): c = α·|r|,
    *    u = (YᵀY + Σᵣ₌₀ c·yyᵀ + λ·nᵤ⁺·I)⁻¹ Σᵣ₌₀ (1+c)·y
    * Distributed: per-user groups stream through one rank×rank Breeze
    * solve (state O(rank²) per group, never the history); the implicit
    * YᵀY gram is ONE treeAggregate over the item factors (rank² doubles,
    * broadcast). Items unseen at fit drop from the history (no factor
    * to project on). Returns (query, vec: array<double>). */
  def foldInFactors(log: DataFrame, alpha: Double = 1.0): DataFrame = {
    import breeze.linalg.{DenseMatrix, DenseVector}
    val spark = log.sparkSession
    import spark.implicits._
    val r = rank
    val lambda = regParam
    val impl = implicitPrefs
    val itemVec = model.itemFactors.select(
      F.col("id").cast("long").as(cols.item),
      F.col("features").cast("array<double>").as("_y"))
    val gram: Array[Double] =
      if (impl)
        itemVec.select("_y").rdd.treeAggregate(new Array[Double](r * r))(
          (acc, row) => {
            val y = row.getSeq[Double](0)
            var i = 0
            while (i < r) {
              val yi = y(i); var j = 0
              while (j < r) { acc(i * r + j) += yi * y(j); j += 1 }
              i += 1
            }
            acc
          },
          (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
      else null
    val joined = log.select(
        F.col(cols.query).cast("long").as("_q"),
        F.col(cols.item).cast("long").as(cols.item),
        F.col(cols.rating).cast("double").as("_r"))
      .join(itemVec, Seq(cols.item))
      .select(F.col("_q"), F.col("_r"), F.col("_y"))
      .as[(Long, Double, Seq[Double])]
    joined.groupByKey(_._1).mapGroups { (q, rows) =>
      val A = DenseMatrix.zeros[Double](r, r)
      val b = DenseVector.zeros[Double](r)
      var n = 0
      for ((_, rat, y) <- rows) {
        if (impl) {
          val c = alpha * math.abs(rat)
          var i = 0
          while (i < r) {
            val yi = y(i)
            if (rat > 0) b(i) += (1.0 + c) * yi
            var j = 0
            while (j < r) { A(i, j) += c * yi * y(j); j += 1 }
            i += 1
          }
          if (rat > 0) n += 1
        } else {
          n += 1
          var i = 0
          while (i < r) {
            val yi = y(i)
            b(i) += rat * yi
            var j = 0
            while (j < r) { A(i, j) += yi * y(j); j += 1 }
            i += 1
          }
        }
      }
      if (impl) {
        var i = 0
        while (i < r) {
          var j = 0
          while (j < r) { A(i, j) += gram(i * r + j); j += 1 }
          i += 1
        }
      }
      var i = 0
      while (i < r) { A(i, i) += lambda * n; i += 1 }
      val u = A \ b
      (q, u.toArray.toSeq)
    }.toDF(cols.query, "vec")
  }

  /** Top-k for fold-in users: fold-in factors × exact catalog scoring on
    * the bounded no-sort crop (the Word2Vec exact-scoring path), seen
    * anti-join, deterministic final window. */
  def predictFoldIn(log: DataFrame, k: Int,
      queries: Option[DataFrame] = None, filterSeen: Boolean = true,
      alpha: Double = 1.0): DataFrame = {
    val qs = queries.getOrElse(log.select(cols.query).distinct())
    val history = log.join(qs, Seq(cols.query), "left_semi")
    val uf = foldInFactors(history, alpha)
    val (seen, maxSeen) = seenFilter(history, filterSeen)
    val scored = uf.crossJoin(itemVectorsDF.withColumnRenamed("vec", "_iv"))
      .select(F.col(cols.query), F.col(cols.item),
        AnnIndex.dot(F.col("vec"), F.col("_iv")).as(cols.rating))
    val recs = Ops.getTopKRecsBounded(scored, k + maxSeen,
      cols.query, cols.item, cols.rating)
    Ops.getTopKRecs(dropSeen(recs, seen), k, cols.query, cols.item, cols.rating)
  }

  /** Reference als.py:22-24: rank ~ loguniform_int [8, 256] (ln-space). */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "rank" -> (math.log(8.0), math.log(256.0)))

  override def withParams(p: Map[String, Double]): ALSRec = new ALSRec(
    rank = p.get("rank").map(v => math.round(math.exp(v)).toInt).getOrElse(rank),
    maxIter, regParam, implicitPrefs, seed, ann, cols)
}

/** Word2Vec item-embedding recommender
  * (reference: replay/models/word2vec.py:117-238).
  * fit: per-user time-sorted item "sentences" (collect_list of structs +
  * array_sort — the reference's core sequence-building op) → MLlib
  * Word2Vec; user vector = mean of (idf-weighted) item vectors; score =
  * dot(user, item) — the reference's scoring (word2vec.py:228: dot
  * product, not cosine) — via a sequential-sum zip_with expression. */
final class Word2VecRec(
    val vectorSize: Int = 32,
    val minCount: Int = 1,
    val window: Int = 5,
    val useIdf: Boolean = false,
    val seed: Long = 42,
    // pluggable candidate index (reference ann_mixin.py:78-186): score
    // only the probed candidate lists instead of the whole catalog. None
    // (the default — matching the reference's `index_builder=None` and the
    // sibling ALSRec, so predict is EXACT unless the caller opts in) →
    // full cross-join scoring. At a 10⁸-item catalog the cross join is the
    // scale-killer; opt into IvfAnn to bound the per-query candidate set
    // to ~|items|·nProbe/nCentroids with exact re-scoring.
    val ann: Option[AnnIndex] = None,
    // skip-gram training parallelism. MLlib's Word2Vec default is 1 —
    // a SINGLE task trains over the whole corpus (375 s at sf0.1 on 32
    // cores, and unbounded at 100 TB). The reference defaults to the
    // input's partition count (word2vec.py:145-151) so training scales
    // with the cluster; None reproduces that. More partitions trade a
    // little embedding quality (per-partition gradient averaging) for
    // linear speedup — the quality-floor spec pins the floor.
    // REPRODUCIBILITY: with None the trained embeddings depend on the
    // input's partition layout (file splits, cluster size) even at a
    // fixed seed — the per-partition gradient averaging changes with the
    // layout; pin numPartitions (e.g. Some(32)) to fix that axis. Even
    // pinned, embeddings are NOT stable across refits: SGD visits
    // sentences in shuffle row order, which varies run to run (measured:
    // 0/2000 item vectors identical between two same-session fits). Any
    // exact-vs-approximate comparison must share ONE fit — see setAnn.
    val numPartitions: Option[Int] = None,
    cols: RecCols = RecCols(),
) extends BaseRecommender(cols) {
  import org.apache.spark.ml.feature.Word2Vec

  var itemVectors: DataFrame = _ // (item, vector array<double>)
  var userVectors: DataFrame = _ // (query, vector array<double>)

  // The active candidate index — starts as the constructor's `ann`, and
  // can be swapped on a FITTED model via [[setAnn]]. This exists because
  // exact-vs-ANN comparisons must share ONE fit: MLlib Word2Vec training
  // is nondeterministic across fits even at a fixed seed and pinned
  // numPartitions (SGD sentence visit order follows shuffle row order;
  // measured: 0/2000 item vectors identical between two same-session
  // fits, max L2 drift 0.12), so a refit is never a valid reference.
  private var annIx: Option[AnnIndex] = ann
  def annIndex: Option[AnnIndex] = annIx

  /** Swap the candidate index on a fitted model (fits it against the
    * current item vectors); None restores exact cross-join scoring. The
    * replaced index is released. */
  def setAnn(a: Option[AnnIndex]): this.type = {
    annIx.filterNot(a.contains).foreach(held.drop)
    annIx = a
    if (itemVectors != null) annIx.foreach(held(_).fit(itemVectors, cols.item, "vec"))
    this
  }

  protected def doFit(log: DataFrame): Unit = {
    val sentences = log.groupBy(cols.query).agg(
      F.transform(
        F.sort_array(F.collect_list(F.struct(F.col(cols.ts).as("t"),
          F.col(cols.item).as("i")))),
        s => s.getField("i").cast("string")).as("sentence"))
    val parts = numPartitions.getOrElse(sentences.rdd.getNumPartitions)
    val w2v = new Word2Vec().setVectorSize(vectorSize).setMinCount(minCount)
      .setWindowSize(window).setSeed(seed)
      .setNumPartitions(math.max(1, parts))
      .setInputCol("sentence").setOutputCol("_uv")
    val model = w2v.fit(sentences)
    itemVectors = held(model.getVectors
      .select(F.col("word").cast("long").as(cols.item),
        org.apache.spark.ml.functions.vector_to_array(F.col("vector")).as("vec"))
      .cache())

    val idf =
      if (useIdf) {
        val nUsers = log.select(cols.query).distinct().count().toDouble
        log.select(cols.query, cols.item).distinct()
          .groupBy(cols.item).agg(F.count(F.lit(1)).as("_df"))
          .select(F.col(cols.item), F.log(F.lit(nUsers) / F.col("_df")).as("_idf"))
      } else
        itemVectors.select(F.col(cols.item), F.lit(1.0).as("_idf"))

    // user vector = mean over history of idf·item_vec (word2vec.py:194-198
    // equivalent). posexplode → per-(user, dim) sums — the LinUCB
    // summedArray pattern — so aggregation state is O(1) per group; a
    // collect_list would buffer |history|·dims doubles per user (a 10⁶-
    // event user at dims=300 is a ~2.4 GB group). The final collect_list
    // reassembles exactly `vectorSize` entries per user — bounded.
    val hist = log.select(cols.query, cols.item).distinct()
      .join(itemVectors, Seq(cols.item)).join(idf, Seq(cols.item))
      .select(F.col(cols.query),
        F.transform(F.col("vec"), x => x * F.col("_idf")).as("wvec"))
    userVectors = held(hist
      .select(F.col(cols.query), F.posexplode(F.col("wvec")))
      .toDF(cols.query, "_i", "_v")
      .groupBy(cols.query, "_i")
      .agg((F.sum("_v") / F.count(F.lit(1))).as("_m"))
      .groupBy(cols.query)
      .agg(F.transform(
        F.sort_array(F.collect_list(F.struct(F.col("_i"), F.col("_m")))),
        s => s.getField("_m")).as("vec"))
      .cache())
    userVectors.count()

    annIx.foreach(held(_).fit(itemVectors, cols.item, "vec"))
  }

  protected def score(queries: DataFrame, k: Int, maxSeen: Int,
      items: Option[DataFrame] = None): DataFrame = {
    val uv = userVectors.join(queries.select(cols.query), Seq(cols.query), "left_semi")
    (annIx, items) match {
      case (Some(ix), None) =>
        ix.candidates(uv, cols.query, "vec")
          .select(F.col(cols.query), F.col(cols.item),
            F.col("score").as(cols.rating))
      case _ =>
        // exact scoring over the (optionally restricted) catalog — the
        // oracle path. The scored stream is |queries| × |catalog| rows, so
        // crop to the k+maxSeen contract HERE with the bounded hash
        // aggregation (no sort, O(k) state per query): the base predict's
        // anti-join and final window then run on 15k × ~(k+maxSeen) rows
        // instead of 300M.
        val scored = uv
          .crossJoin(restrictItems(itemVectors, items).withColumnRenamed("vec", "_iv"))
          .select(F.col(cols.query), F.col(cols.item),
            AnnIndex.dot(F.col("vec"), F.col("_iv")).as(cols.rating))
        Ops.getTopKRecsBounded(scored, k + maxSeen, cols.query, cols.item, cols.rating)
    }
  }

  def predictPairs(pairs: DataFrame, log: DataFrame): DataFrame =
    pairs.join(userVectors, Seq(cols.query))
      .join(itemVectors.withColumnRenamed("vec", "_iv"), Seq(cols.item))
      .select(F.col(cols.query), F.col(cols.item),
        AnnIndex.dot(F.col("vec"), F.col("_iv")).as(cols.rating))

  /** Top-k similar items per anchor by embedding-space metric (reference
    * ItemVectorModel.get_nearest_items, base_rec.py:709-777). */
  def getNearestItems(items: DataFrame, k: Int,
      metric: String = "cosine_similarity",
      candidates: Option[DataFrame] = None): DataFrame =
    NearestItems.fromVectors(itemVectors, cols.item, "vec", items, k,
      metric, candidates)

  /** Reference word2vec.py:52-56: rank int [50,300] (= vectorSize),
    * window_size int [1,100], use_idf categorical (index-encoded). */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "rank" -> (50.0, 300.0), "window_size" -> (1.0, 100.0),
    "use_idf" -> (0.0, 2.0))

  override def withParams(p: Map[String, Double]): Word2VecRec = new Word2VecRec(
    vectorSize = p.get("rank").map(v => math.round(v).toInt).getOrElse(vectorSize),
    minCount,
    window = p.get("window_size").map(v => math.round(v).toInt).getOrElse(window),
    useIdf = p.get("use_idf").map(_.floor >= 1.0).getOrElse(useIdf),
    seed, ann, numPartitions, cols)
}

/** KMeans cluster recommender (reference: replay/models/cluster.py:43-120):
  * cluster queries by their feature vector; per-cluster item relevance =
  * interaction count normalized by the cluster's max. Predict runs the
  * recommenders' one seen filter and holds its state and scratch frames as
  * they do ([[PredictScratch]]). */
final class ClusterRec(
    val nClusters: Int = 10,
    val seed: Long = 42,
    val cols: RecCols = RecCols(),
) extends Serializable with PredictScratch {
  import org.apache.spark.ml.clustering.KMeans
  import org.apache.spark.ml.feature.VectorAssembler

  var queryClusters: DataFrame = _   // (query, cluster)
  var clusterItems: DataFrame = _    // (cluster, item, rating)

  def fit(log: DataFrame, queryFeatures: DataFrame): this.type = held.refit {
    val featCols = queryFeatures.columns.filterNot(_ == cols.query)
    val assembled = new VectorAssembler()
      .setInputCols(featCols).setOutputCol("_features").setHandleInvalid("skip")
      .transform(queryFeatures)
      .cache()
    val nq = assembled.count()
    val km = new KMeans().setK(nClusters).setSeed(seed)
      .setFeaturesCol("_features").setPredictionCol("cluster")
      .fit(graft.core.Ops.compactForIterativeFit(assembled, nq))
    // repartition before caching: query features typically arrive as one
    // small parquet scan (1 partition), and predict fans every query row
    // out to the full per-cluster catalog — cached at 1 partition that
    // 300M-row expansion would run in a single task
    queryClusters = held(km.transform(assembled)
      .select(F.col(cols.query), F.col("cluster"))
      .repartition(F.col(cols.query)).cache())

    val withCluster = log.join(queryClusters, Seq(cols.query))
    val counts = withCluster.groupBy("cluster", cols.item)
      .agg(F.count(F.lit(1)).as("_cnt"))
    val maxes = counts.groupBy("cluster").agg(F.max("_cnt").as("_mx"))
    clusterItems = held(counts.join(maxes, Seq("cluster"))
      .select(F.col("cluster"), F.col(cols.item),
        (F.col("_cnt").cast("double") / F.col("_mx")).as(cols.rating))
      .cache())
    clusterItems.count()
    assembled.unpersist(false)
    this
  }

  def predict(log: DataFrame, k: Int): DataFrame = {
    // predict for the LOG's queries (reference cluster_rec predict
    // defaults queries = the dataset's query ids) — queryClusters spans
    // every FEATURED query, a strict superset when some featured entities
    // never interacted (1/15000 customers at sf0.1; caught by the r8
    // model_recs_certificate n_queries cross-check)
    val logQueries = log.select(cols.query).distinct()
    val (seen, maxSeen) = seenFilter(log, filterSeen = true)
    // crop the catalog PER CLUSTER before the query fan-out: every query in
    // a cluster sees the same item list, so its per-query top-(k+maxSeen)
    // under (rating desc, item asc) is exactly the cluster's
    // top-(k+maxSeen) under the same order — cropping first is exact, and
    // it shrinks the fan-out from |catalog|/cluster rows per query
    // (~300 M total at sf0.1, unbounded at a 10⁸-item catalog) to
    // k+maxSeen per query. It also bounds the broadcast payload to
    // nClusters × (k+maxSeen) rows regardless of catalog size — without
    // the crop the full per-(cluster, item) table would eventually hit the
    // 8 GB broadcast limit.
    val croppedCatalog = Ops.getTopKRecsBounded(
      clusterItems, k + maxSeen, "cluster", cols.item, cols.rating)
    // explicit broadcast: the join key has only nClusters distinct values,
    // so a shuffle join would collapse to nClusters tasks (measured 3× the
    // whole predict at sf0.1)
    val recs = queryClusters
      .join(logQueries, Seq(cols.query), "left_semi")
      .join(F.broadcast(croppedCatalog), Seq("cluster"))
      .select(F.col(cols.query), F.col(cols.item), F.col(cols.rating))
    Ops.getTopKRecs(dropSeen(recs, seen), k, cols.query, cols.item, cols.rating)
  }
}

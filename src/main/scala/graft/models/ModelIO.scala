package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import java.nio.file.{Files, Paths}
import graft.core.Persist

/** Model persistence (reference: replay/utils/model_handler.py:42-118 +
  * spark_utils.py:789-818 — the reference pickles params into a 1-row
  * parquet for HDFS-safety; here state DataFrames are written as plain
  * parquet plus a JSON params sidecar, the `MLWritable`-style layout).
  *
  * Every inference-bearing family round-trips: non-personalized
  * (PopRec/Wilson/UCB/KLUCB/Thompson — popularity table + fill),
  * neighbour (ItemKNN/AssociationRules/SLIM — similarity table),
  * ALS (MLlib ALSModel native save), Word2Vec (item/user vectors), each
  * with its ANN config where applicable (reference round-trips every model,
  * model_handler.py:42-118). A loader fills a new model, so the frames it
  * holds (`held`) are that model's first generation of state, which its
  * next refit or `release()` frees. */
object ModelIO {
  private[graft] def writeJson(path: String, fields: Map[String, String]): Unit = {
    val body = fields.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(s"$path/params.json"), body)
  }

  private[graft] def readJson(path: String): Map[String, String] = {
    val raw = Files.readString(Paths.get(s"$path/params.json"))
    """"([^"]+)":"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(raw)
      .map(m => m.group(1) -> m.group(2).replace("\\\"", "\"").replace("\\\\", "\\"))
      .toMap
  }

  /** Column-role names ⇄ JSON fields. A model fit with non-default RecCols
    * must load with the SAME roles — loaders that fell back to defaults
    * produced frames whose predict referenced columns that don't exist in
    * the persisted state (loadClusterRec even repartitioned on the default
    * query column). */
  private def colsFields(c: RecCols): Map[String, String] = Map(
    "col_query" -> c.query, "col_item" -> c.item,
    "col_rating" -> c.rating, "col_ts" -> c.ts)

  private def colsOf(p: Map[String, String]): RecCols = RecCols(
    query = p.getOrElse("col_query", RecCols().query),
    item = p.getOrElse("col_item", RecCols().item),
    rating = p.getOrElse("col_rating", RecCols().rating),
    ts = p.getOrElse("col_ts", RecCols().ts))

  /** ANN config ⇄ string. The IVF seed is persisted (a non-default seed
    * must survive the round trip — the rebuilt candidate sets depend on
    * it); legacy 3-part `ivf:c:p` strings parse with the default seed. */
  private def annString(ann: Option[AnnIndex]): String = ann match {
    case Some(i: IvfAnn) => s"ivf:${i.nCentroids}:${i.nProbe}:${i.seed}"
    case Some(l: LshAnn) => s"lsh:${l.planes}:${l.tables}:${l.dims}"
    // config-only: the graph rebuilds deterministically from the persisted
    // item vectors (sorted-id insertion + seeded levels), so unlike IVF's
    // KMeans there is no trained state to round-trip
    case Some(h: HnswAnn) =>
      s"hnsw:${h.m}:${h.efConstruction}:${h.efSearch}:${h.maxCollect}:${h.seed}"
    // config-only like HNSW: shard layout is a pure hash of the ids and
    // the per-shard graphs rebuild deterministically inside the search
    // cogroup — nothing trained to persist
    case Some(sh: ShardedHnswAnn) =>
      s"shnsw:${sh.nShards}:${sh.m}:${sh.efConstruction}:${sh.efSearch}:${sh.seed}"
    // config-only like HNSW: load refits the seeded per-subspace KMeans
    // over the persisted vectors (deterministic for fixed seed + layout)
    case Some(p: PqAnn) =>
      s"pq:${p.numSubspaces}:${p.codebookSize}:${p.candidatesPerQuery}:${p.seed}"
    case Some(ip: IvfPqAnn) =>
      s"ivfpq:${ip.nCentroids}:${ip.nProbe}:${ip.numSubspaces}:" +
        s"${ip.codebookSize}:${ip.candidatesPerQuery}:${ip.seed}"
    case Some(other) =>
      throw new IllegalArgumentException(
        s"cannot persist ann index ${other.getClass.getSimpleName}")
    case None => "none"
  }

  private def parseAnn(s: String): Option[AnnIndex] = s match {
    case s if s.startsWith("ivf:") =>
      val p = s.split(":")
      Some(new IvfAnn(nCentroids = p(1).toInt, nProbe = p(2).toInt,
        seed = if (p.length > 3) p(3).toLong else 42L))
    case s if s.startsWith("lsh:") =>
      val p = s.split(":")
      Some(new LshAnn(planes = p(1).toInt, tables = p(2).toInt, dims = p(3).toInt))
    case s if s.startsWith("hnsw:") =>
      val p = s.split(":")
      Some(new HnswAnn(m = p(1).toInt, efConstruction = p(2).toInt,
        efSearch = p(3).toInt, maxCollect = p(4).toInt, seed = p(5).toLong))
    case s if s.startsWith("shnsw:") =>
      val p = s.split(":")
      Some(new ShardedHnswAnn(nShards = p(1).toInt, m = p(2).toInt,
        efConstruction = p(3).toInt, efSearch = p(4).toInt, seed = p(5).toLong))
    case s if s.startsWith("pq:") =>
      val p = s.split(":")
      Some(new PqAnn(numSubspaces = p(1).toInt, codebookSize = p(2).toInt,
        candidatesPerQuery = p(3).toInt, seed = p(4).toLong))
    case s if s.startsWith("ivfpq:") =>
      val p = s.split(":")
      Some(new IvfPqAnn(nCentroids = p(1).toInt, nProbe = p(2).toInt,
        numSubspaces = p(3).toInt, codebookSize = p(4).toInt,
        candidatesPerQuery = p(5).toInt, seed = p(6).toLong))
    case _ => None
  }

  // ---- non-personalized family -------------------------------------------

  private def nonPersonalizedKind(m: NonPersonalizedRec): String = m match {
    case _: PopRec           => "pop_rec"
    case _: Wilson           => "wilson"
    case _: UCB              => "ucb"
    case _: KLUCB            => "klucb"
    case _: ThompsonSampling => "thompson"
    case other =>
      throw new IllegalArgumentException(
        s"unknown non-personalized model ${other.getClass.getSimpleName}")
  }

  def saveNonPersonalized(m: NonPersonalizedRec, path: String): Unit =
    saveNonPersonalized(m, path, nonPersonalizedKind(m))

  /** Persists the popularity table plus the params a faithful reload needs
    * — including the computed `fill` (reference `_save_model` adds it to
    * the params pickle, base_rec.py:1164-1166), so a loaded UCB keeps its
    * optimistic cold bound without refitting. */
  def saveNonPersonalized(m: NonPersonalizedRec, path: String, kind: String): Unit = {
    val extra: Map[String, String] = m match {
      case p: PopRec => Map("useRating" -> p.useRating.toString,
        "addColdItems" -> p.addColdItems.toString,
        "coldWeight" -> p.coldWeight.toString)
      case w: Wilson           => Map("z" -> w.z.toString)
      case u: UCB              => Map("coef" -> u.coef.toString)
      case k: KLUCB            => Map("c" -> k.c.toString)
      case t: ThompsonSampling => Map("seed" -> t.seed.toString)
      case _                   => Map.empty
    }
    writeJson(path, Map("kind" -> kind, "fill" -> m.fillValue.toString,
      "sample" -> m.sample.toString, "sampleSeed" -> m.sampleSeed.toString,
      "sampleHashMode" -> m.sampleHashMode)
      ++ extra)
    m.itemPopularity.write.mode("overwrite").parquet(s"$path/item_popularity")
  }

  /** Kind-dispatched loader for the whole non-personalized family. */
  def loadNonPersonalized(spark: SparkSession, path: String): NonPersonalizedRec = {
    val p = readJson(path)
    val m: NonPersonalizedRec = p("kind") match {
      case "pop_rec" => new PopRec(
        useRating = p.getOrElse("useRating", "false").toBoolean,
        addColdItems = p.getOrElse("addColdItems", "true").toBoolean,
        coldWeight = p.getOrElse("coldWeight", "0.5").toDouble)
      case "wilson"   => new Wilson(z = p.getOrElse("z", "1.96").toDouble)
      case "ucb"      => new UCB(coef = p.getOrElse("coef", "2.0").toDouble)
      case "klucb"    => new KLUCB(c = p.getOrElse("c", "0.0").toDouble)
      case "thompson" => new ThompsonSampling(seed = p.getOrElse("seed", "42").toLong)
      case other =>
        throw new IllegalArgumentException(s"unknown non-personalized kind $other")
    }
    m.itemPopularity = m.held(spark.read.parquet(s"$path/item_popularity").cache())
    p.get("fill").foreach(f => m.setFill(f.toDouble))
    m.sample = p.getOrElse("sample", "false").toBoolean
    m.sampleSeed = p.getOrElse("sampleSeed", "42").toLong
    m.sampleHashMode = p.getOrElse("sampleHashMode", "portable")
    m.fitItemsDf = m.itemPopularity.select(m.cols.item)
    m
  }

  def loadPopRec(spark: SparkSession, path: String): PopRec = {
    require(readJson(path)("kind") == "pop_rec", s"not a PopRec at $path")
    loadNonPersonalized(spark, path).asInstanceOf[PopRec]
  }

  // ---- neighbour family --------------------------------------------------

  private def neighbourKind(m: NeighbourRec): String = m match {
    case _: ItemKNN          => "item_knn"
    case _: AssociationRules => "assoc_rules"
    case _: SLIM             => "slim"
    case _: AdmmSlim         => "admm_slim"
    case _: Ease             => "ease"
    case other =>
      throw new IllegalArgumentException(
        s"unknown neighbour model ${other.getClass.getSimpleName}")
  }

  def saveNeighbour(m: NeighbourRec, path: String): Unit =
    saveNeighbour(m, path, neighbourKind(m))

  def saveNeighbour(m: NeighbourRec, path: String, kind: String): Unit = {
    writeJson(path, Map("kind" -> kind))
    m.similarity.write.mode("overwrite").parquet(s"$path/similarity")
    m match {
      case a: AssociationRules if a.rules != null =>
        a.rules.write.mode("overwrite").parquet(s"$path/rules")
      case _ => ()
    }
  }

  /** Kind-dispatched loader for the neighbour family. The similarity table
    * IS the inference state (predict sums similarities over history), so a
    * loaded model predicts identically without refitting; fit-only
    * hyperparameters reload as defaults. */
  def loadNeighbour(spark: SparkSession, path: String): NeighbourRec = {
    val p = readJson(path)
    val m: NeighbourRec = p("kind") match {
      case "item_knn"    => new ItemKNN()
      case "assoc_rules" =>
        val a = new AssociationRules()
        if (Files.exists(Paths.get(s"$path/rules")))
          a.rules = a.held(spark.read.parquet(s"$path/rules").cache())
        a
      case "slim"        => new SLIM()
      case "admm_slim"   => new AdmmSlim()
      case "ease"        => new Ease()
      case other => throw new IllegalArgumentException(s"unknown neighbour kind $other")
    }
    m.similarity = spark.read.parquet(s"$path/similarity").cache()
    m.fitItemsDf = m.similarity.select(F.col("item_one").as(m.cols.item))
      .union(m.similarity.select(F.col("item_two").as(m.cols.item))).distinct()
    m
  }

  def loadItemKNN(spark: SparkSession, path: String): ItemKNN = {
    require(readJson(path)("kind") == "item_knn", s"not an ItemKNN at $path")
    loadNeighbour(spark, path).asInstanceOf[ItemKNN]
  }

  // ---- ALS ---------------------------------------------------------------

  /** ALS persists through MLlib's native `ALSModel.save` (factor matrices
    * as parquet) plus the wrapper params and ANN config. */
  def saveALS(m: ALSRec, path: String): Unit = {
    writeJson(path, Map("kind" -> "als",
      "rank" -> m.rank.toString, "maxIter" -> m.maxIter.toString,
      "regParam" -> m.regParam.toString,
      "implicitPrefs" -> m.implicitPrefs.toString,
      "seed" -> m.seed.toString, "ann" -> annString(m.annIndex)))
    m.model.write.overwrite().save(s"$path/als_model")
  }

  def loadALS(spark: SparkSession, path: String): ALSRec = {
    import org.apache.spark.ml.recommendation.ALSModel
    val p = readJson(path)
    require(p("kind") == "als", s"not an ALSRec at $path")
    val ann = parseAnn(p.getOrElse("ann", "none"))
    val m = new ALSRec(
      rank = p.getOrElse("rank", "10").toInt,
      maxIter = p.getOrElse("maxIter", "10").toInt,
      regParam = p.getOrElse("regParam", "0.1").toDouble,
      implicitPrefs = p.getOrElse("implicitPrefs", "true").toBoolean,
      seed = p.getOrElse("seed", "42").toLong,
      ann = ann)
    m.install(ALSModel.load(s"$path/als_model"))
    m.fitQueriesDf = m.model.userFactors
      .select(F.col("id").cast("long").as(m.cols.query))
    m.fitItemsDf = m.model.itemFactors
      .select(F.col("id").cast("long").as(m.cols.item))
    m
  }

  // ---- Word2Vec ----------------------------------------------------------

  /** Vector-state persistence for Word2VecRec: the fitted item/user
    * vectors are the whole inference state (the MLlib model itself is
    * only needed to fit). The ANN configuration is persisted too, so a
    * save/load roundtrip keeps the model's scoring mode. A trained IVF
    * quantizer additionally persists its CENTROIDS — load rebuilds the
    * inverted lists by nearest-centroid assignment over the loaded
    * vectors, reproducing the fitted candidate sets instead of re-running
    * KMeans (whose refit could land on different centroids); other
    * AnnIndex implementations load as exact. */
  def saveWord2Vec(m: Word2VecRec, path: String): Unit = {
    writeJson(path, Map("kind" -> "word2vec", "ann" -> annString(m.annIndex)))
    m.itemVectors.write.mode("overwrite").parquet(s"$path/item_vectors")
    m.userVectors.write.mode("overwrite").parquet(s"$path/user_vectors")
    val centroids = for {
      ivf <- m.annIndex.collect { case i: IvfAnn => i }
      cents <- ivf.centroidArrays
    } yield cents
    centroids match {
      case Some(cents) =>
        val spark = m.itemVectors.sparkSession
        spark.createDataFrame(cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq)
          .toDF("_centroid", "_cvec")
          .write.mode("overwrite").parquet(s"$path/ivf_centroids")
      case None =>
        // re-saving a centroid-less model over a path that previously had
        // a trained quantizer must not leave the stale parquet behind —
        // a later load would silently rebuild from the OLD centroids
        val stale = Paths.get(s"$path/ivf_centroids")
        if (Files.exists(stale)) {
          import scala.jdk.CollectionConverters._
          Files.walk(stale).iterator().asScala.toSeq.reverse
            .foreach(p => Files.delete(p))
        }
    }
  }

  def loadWord2Vec(spark: SparkSession, path: String): Word2VecRec = {
    val params = readJson(path)
    require(params("kind") == "word2vec", s"not a Word2VecRec at $path")
    val ann = parseAnn(params.getOrElse("ann", "none"))
    val m = new Word2VecRec(ann = ann)
    m.itemVectors = m.held(spark.read.parquet(s"$path/item_vectors").cache())
    m.userVectors = m.held(spark.read.parquet(s"$path/user_vectors").cache())
    m.fitItemsDf = m.itemVectors.select(m.cols.item)
    m.fitQueriesDf = m.userVectors.select(m.cols.query)
    val centroidsPath = Paths.get(s"$path/ivf_centroids")
    ann.map(m.held(_)).foreach {
      case ivf: IvfAnn if Files.exists(centroidsPath) =>
        // nCentroids rows of dims doubles — driver-bounded by construction
        val cents = spark.read.parquet(s"$path/ivf_centroids")
          .orderBy("_centroid").collect()
          .map(_.getSeq[Double](1).toArray)
        ivf.fitFromCentroids(m.itemVectors, m.cols.item, "vec", cents)
      case other => other.fit(m.itemVectors, m.cols.item, "vec")
    }
    m
  }

  // ---- QueryPopRec -------------------------------------------------------

  /** QueryPopRec's inference state is the per-(query, item) share table. */
  def saveQueryPop(m: QueryPopRec, path: String): Unit = {
    writeJson(path, Map("kind" -> "query_pop") ++ colsFields(m.cols))
    m.queryProfile.write.mode("overwrite").parquet(s"$path/query_profile")
  }

  def loadQueryPop(spark: SparkSession, path: String): QueryPopRec = {
    val p = readJson(path)
    require(p("kind") == "query_pop", s"not a QueryPopRec at $path")
    val m = new QueryPopRec(colsOf(p))
    m.queryProfile = m.held(spark.read.parquet(s"$path/query_profile").cache())
    m.fitQueriesDf = m.queryProfile.select(m.cols.query).distinct()
    m.fitItemsDf = m.queryProfile.select(m.cols.item).distinct()
    m
  }

  // ---- RandomRec ---------------------------------------------------------

  /** RandomRec's inference state is the fitted item-weight table; the cold
    * fill is deterministic from it (min·coldWeight), so unlike UCB's
    * optimistic bound it needs no persisted fill. */
  def saveRandomRec(m: RandomRec, path: String): Unit = {
    writeJson(path, Map("kind" -> "random_rec",
      "distribution" -> m.distribution, "alpha" -> m.alpha.toString,
      "seed" -> m.seed.toString, "addColdItems" -> m.addColdItems.toString,
      "coldWeight" -> m.coldWeight.toString, "hashMode" -> m.hashMode)
      ++ colsFields(m.cols))
    m.itemWeights.write.mode("overwrite").parquet(s"$path/item_weights")
  }

  def loadRandomRec(spark: SparkSession, path: String): RandomRec = {
    val p = readJson(path)
    require(p("kind") == "random_rec", s"not a RandomRec at $path")
    val m = new RandomRec(
      distribution = p.getOrElse("distribution", "uniform"),
      alpha = p.getOrElse("alpha", "0.0").toDouble,
      seed = p.getOrElse("seed", "42").toLong,
      addColdItems = p.getOrElse("addColdItems", "true").toBoolean,
      coldWeight = p.getOrElse("coldWeight", "0.5").toDouble,
      hashMode = p.getOrElse("hashMode", "portable"), cols = colsOf(p))
    m.itemWeights = m.held(spark.read.parquet(s"$path/item_weights").cache())
    m.fitItemsDf = m.itemWeights.select(m.cols.item)
    m
  }

  // ---- CatPopRec ---------------------------------------------------------

  /** CatPopRec's inference state is the computed leaf closure plus the
    * per-leaf item counts — predict never consults the raw tree, so the
    * loaded model reconstructs neither catTree nor itemCats. */
  def saveCatPopRec(m: CatPopRec, path: String): Unit = {
    writeJson(path, Map("kind" -> "cat_pop_rec") ++ colsFields(m.cols))
    m.leafClosure.write.mode("overwrite").parquet(s"$path/leaf_closure")
    m.leafItemCounts.write.mode("overwrite").parquet(s"$path/leaf_item_counts")
  }

  def loadCatPopRec(spark: SparkSession, path: String): CatPopRec = {
    val p = readJson(path)
    require(p("kind") == "cat_pop_rec", s"not a CatPopRec at $path")
    // tree/itemCats deliberately absent: both are fit-time-only inputs
    val m = new CatPopRec(null, null, colsOf(p))
    m.setClosure(m.held(spark.read.parquet(s"$path/leaf_closure").cache()))
    m.leafItemCounts = m.held(spark.read.parquet(s"$path/leaf_item_counts").cache())
    m
  }

  // ---- ClusterRec --------------------------------------------------------

  /** ClusterRec's inference state is the two fitted tables — the query →
    * cluster assignment and the per-cluster item relevance; the KMeans
    * model itself is fit-only (reference model_handler.py round-trips
    * every model, cluster.py included). */
  def saveClusterRec(m: ClusterRec, path: String): Unit = {
    writeJson(path, Map("kind" -> "cluster",
      "nClusters" -> m.nClusters.toString, "seed" -> m.seed.toString)
      ++ colsFields(m.cols))
    m.queryClusters.write.mode("overwrite").parquet(s"$path/query_clusters")
    m.clusterItems.write.mode("overwrite").parquet(s"$path/cluster_items")
  }

  def loadClusterRec(spark: SparkSession, path: String): ClusterRec = {
    val p = readJson(path)
    require(p("kind") == "cluster", s"not a ClusterRec at $path")
    val m = new ClusterRec(nClusters = p.getOrElse("nClusters", "10").toInt,
      seed = p.getOrElse("seed", "42").toLong, cols = colsOf(p))
    // same repartition-before-cache rationale as fit: predict fans queries
    // out to the per-cluster catalog, so a 1-partition parquet scan would
    // serialize the whole expansion into one task
    m.queryClusters = m.held(spark.read.parquet(s"$path/query_clusters")
      .repartition(F.col(m.cols.query)).cache())
    m.clusterItems = m.held(spark.read.parquet(s"$path/cluster_items").cache())
    m
  }

  // ---- LinUCB ------------------------------------------------------------

  /** LinUCB's inference state is the per-arm solved table (item, θ, A⁻¹);
    * the feature dimension is persisted because predict unrolls the
    * quadratic form to d² scalar terms at plan-build time. */
  def saveLinUCB(m: LinUCB, path: String): Unit = {
    writeJson(path, Map("kind" -> "linucb",
      "alpha" -> m.alpha.toString, "lambdaReg" -> m.lambdaReg.toString,
      "dim" -> m.dimension.toString) ++ colsFields(m.cols))
    m.armState.write.mode("overwrite").parquet(s"$path/arm_state")
  }

  def loadLinUCB(spark: SparkSession, path: String): LinUCB = {
    val p = readJson(path)
    require(p("kind") == "linucb", s"not a LinUCB at $path")
    val m = new LinUCB(alpha = p.getOrElse("alpha", "1.0").toDouble,
      lambdaReg = p.getOrElse("lambdaReg", "1.0").toDouble, cols = colsOf(p))
    m.setDimension(p("dim").toInt)
    m.armState = m.held(spark.read.parquet(s"$path/arm_state").cache())
    m
  }

  def saveULinUCB(m: ULinUCB, path: String): Unit = {
    writeJson(path, Map("kind" -> "ulinucb", "alpha" -> m.alpha.toString,
      "dim" -> m.dimension.toString) ++ colsFields(m.cols))
    m.userState.write.mode("overwrite").parquet(s"$path/user_state")
    m.itemFeats.write.mode("overwrite").parquet(s"$path/item_feats")
  }

  def loadULinUCB(spark: SparkSession, path: String): ULinUCB = {
    val p = readJson(path)
    require(p("kind") == "ulinucb", s"not a ULinUCB at $path")
    new ULinUCB(alpha = p("alpha").toDouble, cols = colsOf(p))
      .restore(spark.read.parquet(s"$path/user_state").cache(),
        spark.read.parquet(s"$path/item_feats").cache(), p("dim").toInt)
  }

  /** Tree persistence: one `node_<i>` directory per fitted node, each
    * holding its own params.json (path within the tree + leaf flag), the
    * node's ULinUCB, and its item→cluster assignment. The node count is
    * bounded by nClusters^(depth−1) — the CatPopRec tree discipline. */
  def saveHierarchical(m: HierarchicalRecommender, path: String): Unit = {
    val paths = m.nodes.keys.toSeq.sorted
    writeJson(path, Map("kind" -> "hierarchical",
      "depth" -> m.depth.toString, "nClusters" -> m.nClusters.toString,
      "alpha" -> m.alpha.toString, "seed" -> m.seed.toString,
      "nNodes" -> paths.size.toString) ++ colsFields(m.cols))
    paths.zipWithIndex.foreach { case (np, i) =>
      val node = m.nodes(np)
      val dir = s"$path/node_$i"
      writeJson(dir, Map("kind" -> "hcb_node", "path" -> np,
        "isLeaf" -> node.isLeaf.toString))
      saveULinUCB(node.rec, s"$dir/rec")
      node.assign.write.mode("overwrite").parquet(s"$dir/assign")
    }
  }

  def loadHierarchical(spark: SparkSession, path: String): HierarchicalRecommender = {
    val p = readJson(path)
    require(p("kind") == "hierarchical", s"not a HierarchicalRecommender at $path")
    val m = new HierarchicalRecommender(depth = p("depth").toInt,
      nClusters = p("nClusters").toInt, alpha = p("alpha").toDouble,
      seed = p("seed").toLong, cols = colsOf(p))
    (0 until p("nNodes").toInt).foreach { i =>
      val dir = s"$path/node_$i"
      val np = readJson(dir)
      m.restoreNode(np("path"), np("isLeaf").toBoolean,
        loadULinUCB(spark, s"$dir/rec"),
        spark.read.parquet(s"$dir/assign").cache())
    }
    m
  }

  /** Encoder mapping persistence (reference persists the fitted mapping
    * AND the unknown-label strategy; label_encoder save path +
    * handle_unknown round-trip). */
  def saveEncoder(e: graft.preprocessing.LabelEncoder, path: String): Unit = {
    import graft.preprocessing.HandleUnknown
    val policy = e.handleUnknown match {
      case HandleUnknown.Error          => "error"
      case HandleUnknown.Drop           => "drop"
      case HandleUnknown.UseDefault(d)  => s"default:$d"
    }
    writeJson(path, Map("kind" -> "label_encoder", "column" -> e.column,
      "handleUnknown" -> policy))
    e.mapping.write.mode("overwrite").parquet(s"$path/mapping")
  }

  def loadEncoder(spark: SparkSession, path: String): graft.preprocessing.LabelEncoder = {
    import graft.preprocessing.{HandleUnknown, LabelEncoder}
    val p = readJson(path)
    require(p("kind") == "label_encoder", s"not a LabelEncoder at $path")
    val policy = p.getOrElse("handleUnknown", "error") match {
      case "error" => HandleUnknown.Error
      case "drop"  => HandleUnknown.Drop
      case s if s.startsWith("default:") =>
        HandleUnknown.UseDefault(s.stripPrefix("default:").toLong)
      case other =>
        throw new IllegalArgumentException(s"unknown handleUnknown policy $other")
    }
    LabelEncoder.fromState(
      Persist.leaf(spark.read.parquet(s"$path/mapping")), p("column"), policy)
  }

  // ---- Markov ------------------------------------------------------------

  /** The transition table IS the inference state (predict joins the last
    * item onto it), so a loaded model predicts identically without refit. */
  def saveMarkov(m: MarkovRec, path: String): Unit = {
    writeJson(path, Map("kind" -> "markov",
      "minCount" -> m.minCount.toString,
      "tieBreak" -> m.tieBreak.mkString(",")))
    m.transitions.write.mode("overwrite").parquet(s"$path/transitions")
  }

  def loadMarkov(spark: SparkSession, path: String): MarkovRec = {
    val p = readJson(path)
    require(p("kind") == "markov", s"not a MarkovRec at $path")
    val tb = p.getOrElse("tieBreak", "")
    val m = new MarkovRec(
      minCount = p.getOrElse("minCount", "1").toLong,
      tieBreak = if (tb.isEmpty) Nil else tb.split(",").toSeq)
    m.transitions = m.held(spark.read.parquet(s"$path/transitions").cache())
    m.fitItemsDf = m.transitions
      .select(F.col("item_one").as(m.cols.item)).distinct()
    m
  }

  def saveUserKnn(m: UserKNN, path: String): Unit = {
    writeJson(path, Map("kind" -> "user_knn",
      "numNeighbours" -> m.numNeighbours.toString,
      "shrink" -> m.shrink.toString,
      "maxItemAudience" -> m.maxItemAudience.toString))
    m.similarity.write.mode("overwrite").parquet(s"$path/similarity")
    m.trainPairs.write.mode("overwrite").parquet(s"$path/train_pairs")
  }

  def loadUserKnn(spark: SparkSession, path: String): UserKNN = {
    val p = readJson(path)
    require(p("kind") == "user_knn", s"not a UserKNN at $path")
    val m = new UserKNN(
      numNeighbours = p.getOrElse("numNeighbours", "10").toInt,
      shrink = p.getOrElse("shrink", "0.0").toDouble,
      maxItemAudience = p.getOrElse("maxItemAudience", "1000").toInt)
    m.similarity = m.held(spark.read.parquet(s"$path/similarity").cache())
    m.trainPairs = m.held(spark.read.parquet(s"$path/train_pairs").cache())
    m.fitQueriesDf = m.trainPairs.select(F.col(m.cols.query)).distinct()
    m.fitItemsDf = m.trainPairs.select(F.col(m.cols.item)).distinct()
    m
  }

  def saveSlopeOne(m: SlopeOne, path: String): Unit = {
    writeJson(path, Map("kind" -> "slope_one",
      "maxUserHistory" -> m.maxUserHistory.toString))
    m.deviations.write.mode("overwrite").parquet(s"$path/deviations")
    m.ratings.write.mode("overwrite").parquet(s"$path/ratings")
  }

  def loadSlopeOne(spark: SparkSession, path: String): SlopeOne = {
    val p = readJson(path)
    require(p("kind") == "slope_one", s"not a SlopeOne at $path")
    val m = new SlopeOne(
      maxUserHistory = p.getOrElse("maxUserHistory", "1000").toInt)
    m.deviations = m.held(spark.read.parquet(s"$path/deviations").cache())
    m.ratings = m.held(spark.read.parquet(s"$path/ratings").cache())
    m.fitQueriesDf = m.ratings.select(F.col(m.cols.query)).distinct()
    m.fitItemsDf = m.ratings.select(F.col(m.cols.item)).distinct()
    m
  }

  def saveP3Alpha(m: P3AlphaRec, path: String): Unit = {
    writeJson(path, Map("kind" -> "p3alpha",
      "beta" -> m.beta.toString,
      "topKNeighbours" -> m.topKNeighbours.toString,
      "maxUserHistory" -> m.maxUserHistory.toString))
    m.similarity.write.mode("overwrite").parquet(s"$path/similarity")
    m.userDegrees.write.mode("overwrite").parquet(s"$path/user_degrees")
    m.trainPairs.write.mode("overwrite").parquet(s"$path/train_pairs")
  }

  def loadP3Alpha(spark: SparkSession, path: String): P3AlphaRec = {
    val p = readJson(path)
    require(p("kind") == "p3alpha", s"not a P3AlphaRec at $path")
    val m = new P3AlphaRec(
      beta = p.getOrElse("beta", "0").toInt,
      topKNeighbours = p.getOrElse("topKNeighbours", "100").toInt,
      maxUserHistory = p.getOrElse("maxUserHistory", "1000").toInt)
    m.similarity = m.held(spark.read.parquet(s"$path/similarity").cache())
    m.userDegrees = m.held(spark.read.parquet(s"$path/user_degrees").cache())
    m.trainPairs = m.held(spark.read.parquet(s"$path/train_pairs").cache())
    m.fitQueriesDf = m.trainPairs.select(F.col(m.cols.query)).distinct()
    m.fitItemsDf = m.trainPairs.select(F.col(m.cols.item)).distinct()
    m
  }

  def saveContentKnn(m: ContentKNN, path: String): Unit = {
    writeJson(path, Map("kind" -> "content_knn",
      "numNeighbours" -> m.numNeighbours.toString,
      "shrink" -> m.shrink.toString,
      "maxFeatureAudience" -> m.maxFeatureAudience.toString))
    m.similarity.write.mode("overwrite").parquet(s"$path/similarity")
    m.features.write.mode("overwrite").parquet(s"$path/features")
  }

  def loadContentKnn(spark: SparkSession, path: String): ContentKNN = {
    val p = readJson(path)
    require(p("kind") == "content_knn", s"not a ContentKNN at $path")
    val m = new ContentKNN(
      numNeighbours = p.getOrElse("numNeighbours", "10").toInt,
      shrink = p.getOrElse("shrink", "0.0").toDouble,
      maxFeatureAudience = p.getOrElse("maxFeatureAudience", "1000").toInt)
    m.similarity = spark.read.parquet(s"$path/similarity").cache()
    m.features = m.held(spark.read.parquet(s"$path/features").cache())
    m.fitItemsDf = m.features.select(F.col(m.cols.item)).distinct()
    m
  }

  def saveRepeat(m: RepeatRec, path: String): Unit = {
    writeJson(path, Map("kind" -> "repeat"))
    m.state.write.mode("overwrite").parquet(s"$path/state")
  }

  def loadRepeat(spark: SparkSession, path: String): RepeatRec = {
    val p = readJson(path)
    require(p("kind") == "repeat", s"not a RepeatRec at $path")
    val m = new RepeatRec()
    m.state = m.held(spark.read.parquet(s"$path/state").cache())
    m.fitItemsDf = m.state.select(F.col(m.cols.item)).distinct()
    m.fitQueriesDf = m.state.select(F.col(m.cols.query)).distinct()
    m
  }

  def saveBias(m: BiasModel, path: String): Unit = {
    writeJson(path, Map("kind" -> "bias", "muPpm" -> m.muPpm.toString,
      "lambdaItem" -> m.lambdaItem.toString,
      "lambdaUser" -> m.lambdaUser.toString))
    m.itemBias.write.mode("overwrite").parquet(s"$path/item_bias")
    m.userBias.write.mode("overwrite").parquet(s"$path/user_bias")
  }

  def loadBias(spark: SparkSession, path: String): BiasModel = {
    val p = readJson(path)
    require(p("kind") == "bias", s"not a BiasModel at $path")
    val m = new BiasModel(
      lambdaItem = p.getOrElse("lambdaItem", "10").toLong,
      lambdaUser = p.getOrElse("lambdaUser", "10").toLong)
    m.muPpm = p("muPpm").toLong
    m.itemBias = m.held(spark.read.parquet(s"$path/item_bias").cache())
    m.userBias = m.held(spark.read.parquet(s"$path/user_bias").cache())
    m.fitItemsDf = m.itemBias.select(F.col(m.cols.item)).distinct()
    m.fitQueriesDf = m.userBias.select(F.col(m.cols.query)).distinct()
    m
  }

  def saveMarkov2(m: Markov2Rec, path: String): Unit = {
    writeJson(path, Map("kind" -> "markov2",
      "minCount" -> m.minCount.toString,
      "tieBreak" -> m.tieBreak.mkString(",")))
    m.transitions2.write.mode("overwrite").parquet(s"$path/transitions2")
    m.backoff.transitions.write.mode("overwrite").parquet(s"$path/transitions")
  }

  def loadMarkov2(spark: SparkSession, path: String): Markov2Rec = {
    val p = readJson(path)
    require(p("kind") == "markov2", s"not a Markov2Rec at $path")
    val tb = p.getOrElse("tieBreak", "")
    val tie = if (tb.isEmpty) Nil else tb.split(",").toSeq
    val mc = p.getOrElse("minCount", "1").toLong
    val m = new Markov2Rec(minCount = mc, tieBreak = tie)
    m.transitions2 = m.held(spark.read.parquet(s"$path/transitions2").cache())
    m.backoff = m.held(new MarkovRec(minCount = mc, tieBreak = tie))
    m.backoff.transitions = m.backoff.held(spark.read.parquet(s"$path/transitions").cache())
    m.fitItemsDf = m.backoff.transitions
      .select(F.col("item_one").as(m.cols.item)).distinct()
    m
  }

  // ---- generic dispatch --------------------------------------------------

  /** Type-dispatched save — one entry point for every persistable object
    * (reference `save_to_replay`, replay/utils/common.py:62-68, which
    * dispatches on the object's own `.save`). */
  def save(obj: AnyRef, path: String): Unit = obj match {
    case m: NonPersonalizedRec => saveNonPersonalized(m, path)
    // ContentKNN IS a NeighbourRec — its typed case must precede the
    // generic neighbour saver or the feature table would be dropped
    case m: ContentKNN         => saveContentKnn(m, path)
    case m: NeighbourRec       => saveNeighbour(m, path)
    case m: ALSRec             => saveALS(m, path)
    case m: Word2VecRec        => saveWord2Vec(m, path)
    case m: QueryPopRec        => saveQueryPop(m, path)
    case m: RandomRec          => saveRandomRec(m, path)
    case m: CatPopRec          => saveCatPopRec(m, path)
    case m: ClusterRec         => saveClusterRec(m, path)
    case m: LinUCB             => saveLinUCB(m, path)
    case m: ULinUCB            => saveULinUCB(m, path)
    case m: HierarchicalRecommender => saveHierarchical(m, path)
    case m: Markov2Rec         => saveMarkov2(m, path)
    case m: BiasModel          => saveBias(m, path)
    case m: RepeatRec          => saveRepeat(m, path)
    case m: SlopeOne           => saveSlopeOne(m, path)
    case m: P3AlphaRec         => saveP3Alpha(m, path)
    case m: UserKNN            => saveUserKnn(m, path)
    case m: MarkovRec          => saveMarkov(m, path)
    case e: graft.preprocessing.LabelEncoder => saveEncoder(e, path)
    case s: graft.splitters.Splitter => graft.splitters.SplitterIO.save(s, path)
    case k: graft.splitters.KFolds   => graft.splitters.SplitterIO.save(k, path)
    case other => throw new IllegalArgumentException(
      s"don't know how to persist ${other.getClass.getName}")
  }

  /** Kind-dispatched load — reads the persisted `kind` tag and routes to
    * the typed loader, so a caller can reload a directory without knowing
    * what was saved there (reference `load_from_replay`,
    * replay/utils/common.py:71-84, which unpickles the class name from the
    * saved metadata). Splitter kinds route through SplitterIO. */
  def load(spark: SparkSession, path: String): AnyRef =
    readJson(path)("kind") match {
      case "pop_rec" | "wilson" | "ucb" | "klucb" | "thompson" =>
        loadNonPersonalized(spark, path)
      case "item_knn" | "assoc_rules" | "slim" | "admm_slim" | "ease" =>
        loadNeighbour(spark, path)
      case "als"           => loadALS(spark, path)
      case "word2vec"      => loadWord2Vec(spark, path)
      case "query_pop"     => loadQueryPop(spark, path)
      case "random_rec"    => loadRandomRec(spark, path)
      case "cat_pop_rec"   => loadCatPopRec(spark, path)
      case "cluster"       => loadClusterRec(spark, path)
      case "linucb"        => loadLinUCB(spark, path)
      case "ulinucb"       => loadULinUCB(spark, path)
      case "hierarchical"  => loadHierarchical(spark, path)
      case "markov"        => loadMarkov(spark, path)
      case "markov2"       => loadMarkov2(spark, path)
      case "bias"          => loadBias(spark, path)
      case "repeat"        => loadRepeat(spark, path)
      case "slope_one"     => loadSlopeOne(spark, path)
      case "content_knn"   => loadContentKnn(spark, path)
      case "p3alpha"       => loadP3Alpha(spark, path)
      case "user_knn"      => loadUserKnn(spark, path)
      case "label_encoder" => loadEncoder(spark, path)
      case "k_folds"       => graft.splitters.SplitterIO.loadKFolds(path)
      case "ratio" | "last_n" | "time" | "hash_random" | "new_users"
         | "cold_user" | "two_stage" | "random_next_n" =>
        graft.splitters.SplitterIO.load(path)
      case other => throw new IllegalArgumentException(
        s"unknown persisted kind $other at $path")
    }
}

package graft.scenarios

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, functions => F}

import graft.core.{Ops, Owner}
import graft.models.{BaseRecommender, NeighbourRec, PopRec, RecCols}
import graft.preprocessing.HistoryFeatures
import graft.splitters.{RatioSplitter, Splitter}

/** Two-stage production scenario (reference:
  * experimental/scenarios/two_stages/two_stages_scenario.py:112-760 +
  * reranker.py:13-133).
  *
  * Train: split the log 50/50 per user → fit the first-level models on the
  * first half → generate `numNegatives` candidates per user from the
  * first-level model (or a random sampler), excluding the first half's seen
  * pairs → label candidates by membership in the second half (target 1/0) →
  * enrich with first-level relevances, provided user/item features, and
  * log-statistics features → fit a gradient-boosted-trees reranker (the
  * Spark-native stand-in for the reference's TabularAutoML second stage —
  * same relational contract, MLlib `GBTClassifier` instead of LightAutoML).
  *
  * Inference: candidates from the first-level model + fallback over the full
  * log → same enrichment → rank by the reranker's positive-class
  * probability → top-k.
  *
  * Scale notes: candidate generation inherits the bounded top-(k+maxSeen)
  * predict path of the underlying models; every enrichment is an equi-join
  * on the candidate frame (|queries|·numNegatives rows, never |q|×|catalog|);
  * the per-model relevance join broadcasts nothing larger than the candidate
  * set; GBT training is MLlib-distributed.
  *
  * The scenario holds the first-level train half, its generated-feature
  * frames, the random negative sampler and the last predict's candidates;
  * a refit releases the previous fit's. The first-level and fallback
  * models' state stays with their owner.
  */
final class TwoStagesScenario(
    val firstLevelModels: Seq[BaseRecommender],
    val fallbackModel: Option[BaseRecommender] = Some(new PopRec()),
    val numNegatives: Int = 100,
    // "first_level" (top wrong recs from the first model — hard negatives)
    // or "random" (uniform sampler), reference two_stages_scenario.py:215
    val negativesType: String = "first_level",
    val useGeneratedFeatures: Boolean = true,
    val gbtMaxIter: Int = 20,
    val gbtMaxDepth: Int = 5,
    val seed: Long = 123,
    val trainSplitter: Splitter = RatioSplitter(0.5),
    cols: RecCols = RecCols(),
) extends Owner {
  require(firstLevelModels.nonEmpty, "TwoStagesScenario needs >= 1 first-level model")
  require(Set("first_level", "random").contains(negativesType),
    s"negativesType must be first_level | random, got $negativesType")

  /** Uniform sampler for negativesType="random" (reference fits RandomRec
    * with the scenario seed, two_stages_scenario.py:196). */
  val randomModel = new graft.models.RandomRec("uniform", seed = seed, cols = cols)

  var secondModel: GBTClassificationModel = _
  /** Assembled feature column order — frozen at fit, replayed at predict. */
  var featureCols: Seq[String] = Seq.empty
  /** Training-set ROC AUC of the reranker, set by [[fit]]. */
  var trainAuc: Double = Double.NaN
  /** 1-row certificate frame (train_auc_ok) for the scenario gate: a broken
    * feature pipeline (all-zero/misjoined features) cannot clear 0.55 on
    * its own training set. */
  var trainAucFrame: DataFrame = _
  private var firstLevelTrain: DataFrame = _
  /** [[generatedStats]] of `firstLevelTrain`, cached by [[fit]]. */
  private var trainStats: Option[(DataFrame, DataFrame, DataFrame)] = None
  private var userFeaturesFit: Option[DataFrame] = None
  private var itemFeaturesFit: Option[DataFrame] = None

  /** Candidate set from one model (reference
    * `_predict_with_first_level_model`, two_stages_scenario.py:344-408):
    * predict k + maxPositives with the seen-filter OFF, anti-join the
    * positives to exclude, keep top-k per user. maxPositives is the max
    * per-user row count of `logToFilter` (raw count — the reference uses
    * sf.count, not countDistinct). */
  def candidates(model: BaseRecommender, log: DataFrame, k: Int,
      logToFilter: DataFrame): DataFrame = {
    val qs = log.select(cols.query).distinct()
    val filterScoped = logToFilter.join(qs, Seq(cols.query), "left_semi")
    val maxPositives = filterScoped.groupBy(cols.query)
      .agg(F.count(F.lit(1)).as("_n")).agg(F.max("_n")).first() match {
      case r if r.isNullAt(0) => 0
      case r                  => r.getLong(0).toInt
    }
    val pred = model.predict(log, k + maxPositives, queries = Some(qs),
      filterSeen = false)
      .join(filterScoped.select(cols.query, cols.item).distinct(),
        Seq(cols.query, cols.item), "left_anti")
    Ops.getTopKRecs(pred, k, cols.query, cols.item, cols.rating)
  }

  /** Candidates from the given model merged with the fallback model's
    * (reference `_get_first_level_candidates`: fallback fills users the
    * main model under-serves, ratings shifted strictly below main). */
  def candidatesWithFallback(model: BaseRecommender, log: DataFrame, k: Int,
      logToFilter: DataFrame): DataFrame =
    fallbackModel match {
      case None => candidates(model, log, k, logToFilter)
      case Some(fb) =>
        val main = candidates(model, log, k, logToFilter)
        val fill = candidates(fb, log, k, logToFilter)
        Ops.getTopKRecs(
          Ops.fallbackMerge(main, fill, cols.query, cols.item, cols.rating),
          k, cols.query, cols.item, cols.rating)
    }

  /** Enrichment (reference `_add_features_for_second_level`):
    * rel_<idx> per first-level model (predictPairs over the candidate
    * pairs), provided user/item feature frames, and — when
    * `useGeneratedFeatures` — the HistoryBasedFeaturesProcessor statistics
    * (per-user and per-item count/log-count/rating moments + abnormality)
    * computed from `flTrain`. Missing values → 0 (reference fillna(0)).
    * Against the fitted first-level train half, the statistics come from
    * the frames [[fit]] cached (r13, guide §5 caching-when-reused: enrich
    * runs twice per scenario, fit-side and predict-side, over the same
    * half); against another train frame they are computed. */
  def enrich(pairs: DataFrame, flTrain: DataFrame,
      userFeatures: Option[DataFrame], itemFeatures: Option[DataFrame]): DataFrame = {
    var out = pairs
    firstLevelModels.zipWithIndex.foreach { case (m, idx) =>
      val rel = m.predictPairs(pairs.select(cols.query, cols.item), flTrain)
        .select(F.col(cols.query), F.col(cols.item),
          F.col(cols.rating).as(s"rel_$idx"))
      out = out.join(rel, Seq(cols.query, cols.item), "left")
    }
    userFeatures.foreach(uf => out = out.join(uf, Seq(cols.query), "left"))
    itemFeatures.foreach(fi => out = out.join(fi, Seq(cols.item), "left"))
    if (useGeneratedFeatures) {
      val (uStats, iStats, abn) = trainStats.filter(_ => flTrain eq firstLevelTrain)
        .getOrElse(generatedStats(flTrain))
      out = out.join(uStats, Seq(cols.query), "left")
        .join(iStats, Seq(cols.item), "left")
        .join(abn, Seq(cols.query), "left")
    }
    out.na.fill(0.0)
  }

  /** The generated features of a train frame: per-user stats, per-item
    * stats and abnormality, each |users| or |items| rows and 1-3
    * aggregation passes over the train frame. */
  private def generatedStats(flTrain: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    def prefixed(df: DataFrame, keep: String, p: String): DataFrame =
      df.select(F.col(keep) +:
        df.columns.filterNot(_ == keep).toIndexedSeq
          .map(c => F.col(c).as(s"$p$c")): _*)
    (prefixed(HistoryFeatures.entityStats(flTrain, cols.query, cols.rating, cols.ts),
        cols.query, "u_"),
      prefixed(HistoryFeatures.entityStats(flTrain, cols.item, cols.rating, cols.ts),
        cols.item, "i_"),
      HistoryFeatures.abnormality(flTrain, cols.query, cols.item, cols.rating))
  }

  /** The labeled second-level training table — candidates from the
    * first-level half, target = membership in the held-out half
    * (two_stages_scenario.py:530-545). Exposed for the skeleton gate. */
  def secondLevelTrain(log: DataFrame): (DataFrame, DataFrame) = {
    val (flTrain, slPositive) = trainSplitter.split(log)
    val negSource =
      if (negativesType == "first_level") firstLevelModels.head else randomModel
    firstLevelModels.foreach(_.fit(flTrain))
    if (negativesType == "random") held(randomModel).fit(flTrain)
    fallbackModel.foreach(_.fit(flTrain))
    val cand = candidatesWithFallback(negSource, flTrain, numNegatives, flTrain)
    // r13 (guide §2.4 duplicated subtrees): `labeled` feeds [[enrich]] both
    // as the output base AND as the rel_<idx> predictPairs probe — without a
    // cache the whole candidate pipeline (two model predicts + fallback
    // merge + two top-k crops) is planned (and computed) twice per action.
    // The frame is ≤ numNegatives·|users| rows — cache is cheap; the cache
    // manager dedups both plan occurrences into one InMemoryRelation.
    val labeled = cand.select(cols.query, cols.item)
      .join(slPositive.select(cols.query, cols.item).distinct()
          .withColumn("target", F.lit(1.0)),
        Seq(cols.query, cols.item), "left")
      .na.fill(0.0, Seq("target"))
      .cache()
    (labeled, flTrain)
  }

  def fit(log: DataFrame,
      userFeatures: Option[DataFrame] = None,
      itemFeatures: Option[DataFrame] = None): this.type = held.refit {
    val (labeled, flTrain) = secondLevelTrain(log)
    firstLevelTrain = held(flTrain.cache())
    trainStats = if (!useGeneratedFeatures) None else {
      val (u, i, a) = generatedStats(firstLevelTrain)
      Some((held(u.cache()), held(i.cache()), held(a.cache())))
    }
    userFeaturesFit = userFeatures
    itemFeaturesFit = itemFeatures
    // the refit above already dropped the models' previous pair-score memos
    val train = withPairScoreMemo(
      enrich(labeled, firstLevelTrain, userFeatures, itemFeatures))
    featureCols = train.columns.toIndexedSeq
      .filterNot(Set(cols.query, cols.item, "target").contains)
    // GBT schedules many jobs per boosting iteration — compact the
    // (candidates-sized, usually small) train frame so per-iteration cost
    // is compute, not task scheduling; a genuinely large candidate table
    // keeps its parallelism (coalesce never widens)
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("_features")
      .transform(train).cache()
    val nTrain = assembled.count()
    val compacted = Ops.compactForIterativeFit(assembled, nTrain)
    secondModel = new GBTClassifier()
      .setLabelCol("target").setFeaturesCol("_features")
      .setMaxIter(gbtMaxIter).setMaxDepth(gbtMaxDepth).setSeed(seed)
      .fit(compacted)
    trainAuc = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setLabelCol("target").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(secondModel.transform(compacted))
    trainAucFrame = train.sparkSession.range(1)
      .select(F.lit(trainAuc > 0.55).as("train_auc_ok"))
    // r14 (ADVICE r13): the GBT model and AUC are materialized — the
    // fit-side scratch caches (labeled candidates, assembled train) have
    // served every consumer and can be released now.
    assembled.unpersist()
    labeled.unpersist()
    this
  }

  /** Rerank first-level candidates by the GBT positive-class probability
    * (reference `_predict` + reranker.py `LamaWrap.predict`). Seen pairs
    * are excluded at candidate generation (log_to_filter = log). */
  def predict(log: DataFrame, k: Int): DataFrame = {
    require(secondModel != null, "TwoStagesScenario.predict before fit")
    // r13: cached for the same duplicated-subtree reason as `labeled` in
    // [[secondLevelTrain]] — `cand` appears in the final plan twice (enrich
    // base + rel predictPairs probe); ≤ numNegatives·|users| rows. Held as
    // scratch: the returned frame is lazy, so it stays cached until the
    // next predict, refit or release.
    held.releaseScratch()
    val cand = held.scratch(candidatesWithFallback(firstLevelModels.head, log,
      numNegatives, log).select(cols.query, cols.item).cache())
    val feats = withPairScoreMemo(
      enrich(cand, firstLevelTrain, userFeaturesFit, itemFeaturesFit))
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("_features")
      .transform(feats)
    val scored = secondModel.transform(assembled)
      .select(F.col(cols.query), F.col(cols.item),
        vector_to_array(F.col("probability")).getItem(1).as(cols.rating))
    Ops.getTopKRecs(scored, k, cols.query, cols.item, cols.rating)
  }

  /** Enrich runs twice per scenario (fit-side, predict-side) against the
    * SAME firstLevelTrain — neighbour models share one cached predictPairs
    * score frame instead of rebuilding the dense history⋈similarity table
    * per call. The memo flag is on only
    * while `body` builds its plan, then each model gets its caller's value
    * back; the memo itself stays cached until the model is refit or the
    * scenario is [[release]]d. */
  private def withPairScoreMemo[T](body: => T): T = {
    val neighbours = firstLevelModels.collect { case n: NeighbourRec => n }
    val saved = neighbours.map(_.memoPairScores)
    neighbours.foreach(_.memoPairScores = true)
    try body
    finally neighbours.zip(saved).foreach { case (n, f) => n.memoPairScores = f }
  }

  /** Release every frame the scenario holds, and the first-level models'
    * pair-score memos it made. The fitted scenario still predicts
    * afterwards (recomputing what it needs). */
  override def release(): Unit = {
    firstLevelModels.foreach {
      case n: NeighbourRec => n.releasePairScores()
      case _               => ()
    }
    super.release()
  }

  def fitPredict(log: DataFrame, k: Int,
      userFeatures: Option[DataFrame] = None,
      itemFeatures: Option[DataFrame] = None): DataFrame =
    fit(log, userFeatures, itemFeatures).predict(log, k)
}

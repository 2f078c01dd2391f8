package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.core.Ops
import graft.preprocessing._
import graft.splitters._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets a `queries` entry (the
  * Spark plan, built from the library) and, where ANSI-SQL-expressible, an
  * `oracleSql` entry the driver runs in DuckDB over the same parquet tables.
  * Column names and types are aligned between both sides (ids/counts/ranks
  * as BIGINT, measures as DOUBLE, timestamps as epoch millis or DATE).
  */
object SparkEntry {
  import Tables.interactionsSql

  /** Driver-side 6dp rounding with the SAME half-up convention as
    * F.round / DuckDB round — the one cross-engine rounding used by every
    * gate that rounds on the driver. */
  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Flagship: the full SURVEY §7.2 end-to-end slice on sf0.001 —
    * scan → filter → split → encode → PopRec fit/predict (seen-filtered
    * top-k) → ranking metrics stapled on as a sanity column. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val inter = Tables.interactions(spark, dir)
    val filtered = MinCountFilter(5, "query_id").transform(inter)
    val marked = graft.splitters.TimeSplitter.byQuantile(filtered, 0.8)
    val train0 = marked.filter(!F.col("is_test")).drop("is_test")
    val test = marked.filter(F.col("is_test")).drop("is_test")
    val enc = LabelEncoder.fit(train0, "item_id", HandleUnknown.Drop)
    val train = enc.transform(train0)
    val recs = new models.PopRec().fitPredict(train, k = 10)
    val gt = enc.transform(test).select("query_id", "item_id").distinct()
    val ndcg = graft.metrics.Metrics.compute(recs, gt, Seq("ndcg"), Seq(10))
      .first().getDouble(0)
    recs.withColumn("ndcg_at_10", F.lit(ndcg))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ canaryQueries

  /** The gates with no `oracleSql` entry, which the oracle compare reports
    * as `no_oracle`: MLlib fits (ALS, KMeans, Word2Vec), the SLIM solver,
    * random and Thompson sampling, and the BPE merge loop. None of them is
    * replayable cell-exactly in ANSI SQL. The set may not grow. */
  val NoOracle: Set[String] = Set(
    "model_als", "model_als_ann", "model_als_explicit", "model_cluster",
    "model_random_rec_fast", "model_slim", "model_slim_distributed",
    "model_thompson", "model_word2vec", "model_word2vec_ann", "text_bpe_train")

  /** The one gate that fails the oracle hash compare on purpose: its
    * oracle keeps DuckDB's raw HUGEINT window sum (see the canary section
    * at the end of this file). */
  val FailingCanary: String = "canary_hugeint_raw"

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.4 aggregations ------------------------------------------------
    "q1_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          F.sum("l_quantity").as("sum_qty"),
          F.round(F.sum("l_extendedprice"), 2).as("sum_base_price"),
          F.round(F.avg("l_quantity"), 6).as("avg_qty"),
          F.count(F.lit(1)).as("count_order"),
        )
    }),
    "agg_stats" -> ((s, d) => {
      // get_stats parity (spark_utils.py:394-405): global min/max/mean/count
      val i = Tables.interactions(s, d, cache = false)
      Ops.getStats(i, "rating")
        .select(
          F.col("min_rating"), F.col("max_rating"),
          F.round(F.col("mean_rating"), 6).as("mean_rating"),
          F.col("count_rating"),
          F.round(F.col("stddev_rating"), 6).as("stddev_rating"))
    }),
    "agg_group_distinct" -> ((s, d) => {
      // groupBy count + countDistinct (pop_rec.py:125-133 shape)
      Tables.events(s, d, cache = false).groupBy("event_type")
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.countDistinct("user_id").as("n_users"),
          F.round(F.sum("value"), 2).as("sum_value"))
    }),

    // ---- §2.5 windows -----------------------------------------------------
    "window_top_k" -> ((s, d) => {
      // THE central operator: top-k per query, ties by item asc
      // (spark_utils.py:101-153)
      val agg = Tables.interactions(s, d, cache = false)
        .groupBy("query_id", "item_id").agg(F.sum("rating").as("score"))
      val w = Window.partitionBy("query_id")
        .orderBy(F.col("score").desc, F.col("item_id").asc)
      agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    }),
    "window_top_k_bounded" -> ((s, d) => {
      // the same crop via the no-sort bounded heap aggregation
      // (Ops.getTopKRecsBounded) — must hash-match the rank-window oracle,
      // proving the O(k)-state scale path is a drop-in for the window
      val agg = Tables.interactions(s, d, cache = false)
        .groupBy("query_id", "item_id").agg(F.sum("rating").as("score"))
      graft.core.Ops.getTopKRecsBounded(agg, 3, "query_id", "item_id", "score")
    }),
    "window_dedup_keep_max" -> ((s, d) => {
      // dedup keep-max (experimental/metrics/base_metric.py:96-107)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(F.col("value").desc, F.col("event_id").asc)
      Tables.events(s, d, cache = false)
        .withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") === 1)
        .select("user_id", "event_type", "event_id", "value")
    }),
    "window_cumsum" -> ((s, d) => {
      // running totals (sessionizer.py:184-189, new_users_splitter.py:133-152)
      val w = Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc, F.col("event_id").asc)
      Tables.events(s, d, cache = false)
        .withColumn("cum_value", F.round(F.sum("value").over(w), 2))
        .withColumn("cum_n", F.count(F.lit(1)).over(w))
        .select("event_id", "user_id", "cum_value", "cum_n")
    }),
    "window_global_rank" -> ((s, d) => {
      // global ranking (base_rec.py:1235-1237) via the distributed
      // range-partition rank — no single-partition window over the catalog
      val pop = Tables.interactions(s, d, cache = false)
        .groupBy("item_id").agg(F.sum("rating").as("score"))
      Ops.globalRowNumber(pop, "rank", F.col("score").desc, F.col("item_id").asc)
        .filter(F.col("rank") <= 100)
    }),

    // ---- §2.2 filters -----------------------------------------------------
    "filter_low_rating" -> ((s, d) => {
      LowRatingFilter(25.0).transform(Tables.interactions(s, d, cache = false))
        .select(F.col("query_id"), F.col("item_id"), F.col("rating"),
          F.col("timestamp").cast("date").as("order_date"))
    }),
    "filter_time_period" -> ((s, d) => {
      TimePeriodFilter(Some("2024-01-10"), Some("2024-01-20"), tsCol = "ts")
        .transform(Tables.events(s, d, cache = false))
        .select(F.col("event_id"), F.col("user_id"), F.col("event_type"),
          F.unix_millis(F.col("ts")).as("ts_ms"))
    }),
    "filter_global_days" -> ((s, d) => {
      GlobalDaysFilter(7, first = true, tsCol = "ts").transform(Tables.events(s, d, cache = false))
        .select(F.col("event_id"), F.col("user_id"), F.unix_millis(F.col("ts")).as("ts_ms"))
    }),
    "filter_entity_days" -> ((s, d) => {
      EntityDaysFilter(3, first = true, entityCol = "user_id", tsCol = "ts")
        .transform(Tables.events(s, d, cache = false))
        .select(F.col("event_id"), F.col("user_id"), F.unix_millis(F.col("ts")).as("ts_ms"))
    }),
    "filter_num_interactions" -> ((s, d) => {
      NumInteractionsFilter(5, first = true, queryCol = "user_id",
          tsCol = "ts", tieCol = Some("event_id"))
        .transform(Tables.events(s, d, cache = false))
        .select("event_id", "user_id", "event_type")
    }),
    "filter_min_count" -> ((s, d) => {
      MinCountFilter(70, "user_id").transform(Tables.events(s, d, cache = false))
        .select("event_id", "user_id")
    }),
    "filter_consecutive_duplicates" -> ((s, d) => {
      ConsecutiveDuplicatesFilter(queryCol = "user_id", itemCol = "event_type",
          tsCol = "ts", tieCol = Some("event_id"))
        .transform(Tables.events(s, d, cache = false))
        .select("event_id", "user_id", "event_type")
    }),
    "filter_cold_items" -> ((s, d) => {
      // left_semi cold filter (filters.py:1131-1139)
      val bigParts = Tables.part(s, d).filter(F.col("p_size") >= 25)
        .select(F.col("p_partkey").as("item_id"))
      Ops.filterCold(Tables.interactions(s, d, cache = false), bigParts, "item_id")
        .select("query_id", "item_id", "rating")
    }),
    "filter_interaction_entries" -> ((s, d) => {
      // fixpoint min-interactions per user and item (filters.py:140-250)
      InteractionEntriesFilter(minInterPerUser = Some(10), minInterPerItem = Some(3))
        .transform(Tables.interactions(s, d, cache = false))
        .select("query_id", "item_id", "rating", "session_id")
    }),
    "filter_interaction_entries_max" -> ((s, d) => {
      // the max-bound side of the fixpoint: cap power users, keep items
      // with enough support — removing a capped user's rows can drop an
      // item below its minimum, hence still iterative
      InteractionEntriesFilter(maxInterPerUser = Some(50), minInterPerItem = Some(3))
        .transform(Tables.interactions(s, d, cache = false))
        .select("query_id", "item_id", "rating", "session_id")
    }),

    // ---- §2.8 encoding / sessionization / discretization ------------------
    "label_encode_fit" -> ((s, d) => {
      // dense 0..n-1 ids by sorted distinct order (label_encoder.py:172-185)
      // — distributed zipWithIndex, no driver collect
      LabelEncoder.fit(
        Tables.lineitem(s, d).select(F.col("l_partkey").as("item_id")), "item_id"
      ).mapping
    }),
    "label_encode_transform" -> ((s, d) => {
      val i = Tables.interactions(s, d)
      val enc = LabelEncoder.fit(i, "item_id")
      enc.transform(i).select("query_id", "item_id", "rating", "session_id")
    }),
    "label_encode_drop" -> ((s, d) => {
      // handleUnknown=Drop: rows with unseen labels vanish
      // (label_encoder.py:352-379)
      val known = Tables.lineitem(s, d).filter(F.col("l_partkey") % 3 === 0)
        .select(F.col("l_partkey").as("item_id"))
      val enc = LabelEncoder.fit(known, "item_id", HandleUnknown.Drop)
      enc.transform(Tables.interactions(s, d)).select("query_id", "item_id")
    }),
    "label_encode_default" -> ((s, d) => {
      // handleUnknown=UseDefault(-1): unseen labels map to the default
      val known = Tables.lineitem(s, d).filter(F.col("l_partkey") % 3 === 0)
        .select(F.col("l_partkey").as("item_id"))
      val enc = LabelEncoder.fit(known, "item_id", HandleUnknown.UseDefault(-1L))
      enc.transform(Tables.interactions(s, d)).select("query_id", "item_id")
    }),
    "label_encode_roundtrip" -> ((s, d) => {
      // transform → inverseTransform is the identity on seen labels
      // (label_encoder.py:440+)
      val i = Tables.interactions(s, d).select("query_id", "item_id")
      val enc = LabelEncoder.fit(i, "item_id")
      enc.inverseTransform(enc.transform(i)).select("query_id", "item_id")
    }),
    "label_encode_partial" -> ((s, d) => {
      // partialFit appends unseen labels after the current max code
      // (label_encoder.py:227-309)
      val low = Tables.lineitem(s, d).filter(F.col("l_quantity") <= 25)
        .select(F.col("l_partkey").as("item_id"))
      val all = Tables.lineitem(s, d).select(F.col("l_partkey").as("item_id"))
      LabelEncoder.fit(low, "item_id").partialFit(all).mapping
    }),
    "sessionize" -> ((s, d) => {
      Sessionizer(sessionGapSec = 1800, userCol = "user_id", tsCol = "ts",
          tieCol = Some("event_id"))
        .transform(Tables.events(s, d, cache = false))
        .select("event_id", "user_id", "session_seq")
    }),
    "sessionize_filtered" -> ((s, d) => {
      // session-size post-filter (sessionizer.py:246-263)
      Sessionizer(sessionGapSec = 1800, userCol = "user_id", tsCol = "ts",
          tieCol = Some("event_id"), minSessionEvents = Some(3))
        .transform(Tables.events(s, d, cache = false))
        .select("event_id", "user_id", "session_seq")
    }),
    "discretize_greedy" -> ((s, d) => {
      // LightGBM-style greedy binning (discretizer.py:63-374); the greedy
      // walk has a closed form (edge_j = max(edge_{j-1}+1, first cumsum
      // crossing of j·perBin)) mirrored in the oracle
      val docs = Tables.documents(s, d)
      Discretizer.fitGreedy(docs, "n_chars", nBuckets = 5)
        .transform(docs).select("doc_id", "n_chars", "n_chars_bucket")
    }),
    "discretize_quantile" -> ((s, d) => {
      // exact-percentile edges (discretizer.py:376-601) ≡ quantile_cont
      val docs = Tables.documents(s, d)
      Discretizer.fitQuantile(docs, "n_chars", nBuckets = 5)
        .transform(docs).select("doc_id", "n_chars", "n_chars_bucket")
    }),

    // ---- §2.9 splitters ---------------------------------------------------
    "split_ratio" -> ((s, d) => {
      RatioSplitter(0.2, queryCol = "user_id", tsCol = "ts", tieCol = Some("event_id"))
        .mark(Tables.events(s, d, cache = false)).select("event_id", "user_id", "is_test")
    }),
    "split_ratio_repaired" -> ((s, d) => {
      // splitter post-steps (base_splitter.py:130-209): ratio mark →
      // session-boundary repair (session = order; every event takes its
      // session's last flag) → drop-cold test items. Input deduped so the
      // split order (ts, session, item) is total.
      val i = Tables.interactions(s, d)
        .select("query_id", "item_id", "timestamp", "session_id").distinct()
        .withColumn("_tie", F.struct(F.col("session_id"), F.col("item_id")))
      val marked = RatioSplitter(0.2, queryCol = "query_id", tsCol = "timestamp",
        tieCol = Some("_tie")).mark(i)
      val repaired = Splitter.repairSessions(marked, "query_id", "session_id",
        "timestamp", tieCols = Seq("item_id"))
      val train = repaired.filter(!F.col("is_test"))
      repaired.filter(F.col("is_test"))
        .join(train.select("item_id").distinct(), Seq("item_id"), "left_semi")
        .select("query_id", "item_id", "session_id")
    }),
    "split_last_n" -> ((s, d) => {
      LastNSplitter(2, queryCol = "user_id", tsCol = "ts", tieCol = Some("event_id"))
        .mark(Tables.events(s, d)).select("event_id", "user_id", "is_test")
    }),
    "split_last_n_seconds" -> ((s, d) => {
      // byTimeSeconds variant (last_n_splitter.py:186-366): test = events
      // within the final 7 days of each user's history
      LastNSplitter(604800, byTimeSeconds = true, queryCol = "user_id",
          tsCol = "ts")
        .mark(Tables.events(s, d)).select("event_id", "user_id", "is_test")
    }),
    "split_time_quantile" -> ((s, d) => {
      graft.splitters.TimeSplitter.byQuantile(Tables.events(s, d), 0.8, tsCol = "ts")
        .select("event_id", "user_id", "is_test")
    }),
    "split_new_users" -> ((s, d) => {
      NewUsersSplitter(0.2, queryCol = "user_id", tsCol = "ts")
        .mark(Tables.events(s, d)).select("event_id", "user_id", "is_test")
    }),
    "split_cold_user" -> ((s, d) => {
      ColdUserSplitter(0.2, seed = 42, queryCol = "user_id")
        .mark(Tables.events(s, d)).select("event_id", "user_id", "is_test")
    }),
    "split_two_stage" -> ((s, d) => {
      TwoStageSplitter(0.5, 0.3, seed = 42, queryCol = "user_id",
          tsCol = "ts", tieCol = Some("event_id"))
        .mark(Tables.events(s, d)).select("event_id", "user_id", "is_test")
    }),
    "split_kfolds" -> ((s, d) => {
      KFolds(3, seed = 42, queryCol = "user_id")
        .assign(Tables.events(s, d), Seq("event_id"))
        .select("event_id", "user_id", "fold")
    }),
    "split_random_next_n" -> ((s, d) => {
      RandomNextNSplitter(3, seed = 42, queryCol = "user_id", tsCol = "ts",
          tieCol = Some("event_id"))
        .mark(Tables.events(s, d)).select("event_id", "user_id", "is_test")
    }),
    "split_hash_random" -> ((s, d) => {
      HashRandomSplitter(0.2, seed = 42, keyCols = Seq("event_id"), queryCol = "user_id")
        .mark(Tables.events(s, d)).select("event_id", "user_id", "is_test")
    }),

    // ---- §2.10 models -----------------------------------------------------
    "model_pop_rec" -> ((s, d) => {
      new models.PopRec().fit(Tables.interactions(s, d)).itemPopularity
    }),
    "model_pop_rec_predict" -> ((s, d) => {
      val i = Tables.interactions(s, d)
      new models.PopRec().fitPredict(i, k = 5)
    }),
    "model_query_pop" -> ((s, d) => {
      val m = new models.QueryPopRec().fit(Tables.interactions(s, d))
      m.queryProfile
    }),
    "model_wilson" -> ((s, d) => {
      val binary = Tables.interactions(s, d)
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val m = new models.Wilson().fit(binary)
      m.itemPopularity.select(F.col("item_id"), F.round(F.col("rating"), 6).as("rating"))
    }),
    "model_ucb" -> ((s, d) => {
      val binary = Tables.interactions(s, d)
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val m = new models.UCB().fit(binary)
      m.itemPopularity.select(F.col("item_id"), F.round(F.col("rating"), 6).as("rating"))
    }),
    "model_ucb_refit" -> ((s, d) => {
      // incremental refit ≡ batch fit on the union (ucb.py:147-177): fit
      // on the earlier 80%, refit with the tail — the oracle computes the
      // one-shot batch formula over all interactions
      val i = Tables.interactions(s, d)
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val st = new models.UCBState()
        .fit(marked.filter(!F.col("is_test")).drop("is_test"))
        .refit(marked.filter(F.col("is_test")).drop("is_test"))
      st.scores.select(F.col("item_id"), F.round(F.col("rating"), 6).as("rating"))
    }),
    "model_ucb_sample" -> ((s, d) => {
      // sampled bandit predict (ucb.py:78-90 sample=True via
      // base_rec.py:1283-1364): each query draws k + |seen| items without
      // replacement proportional to its UCB score through the portable
      // Efraimidis–Spirakis key, then ranks the unseen survivors by
      // selection probability — deterministic given the seed, so fully
      // hash-oracled (ranks only: rank order is invariant to the Σw
      // normalization, so cross-engine float-sum ulps cannot flip it)
      val binary = Tables.interactions(s, d)
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val m = new models.UCB().fit(binary)
      m.sample = true
      val recs = m.predict(binary, k = 3)
      val w = Window.partitionBy("query_id")
        .orderBy(F.col("rating").desc, F.col("item_id").asc)
      recs.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("query_id", "item_id", "rank")
    }),
    "model_ucb_sample_proba" -> ((s, d) => {
      // sampling-mode action distribution for the bandit family
      // (base_rec.py:1400-1443): zero-floored UCB scores normalized and
      // tiled over the k positions
      val binary = Tables.interactions(s, d)
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val m = new models.UCB().fit(binary)
      m.sample = true
      val qs = binary.select("query_id").distinct().filter(F.col("query_id") < 100)
      m.predictProba(binary, k = 3, queries = Some(qs))
        .select(F.col("query_id"), F.col("item_id"), F.col("position"),
          F.round(F.col("prob"), 9).as("prob"))
    }),
    "model_klucb" -> ((s, d) => {
      // bisection solver: deterministic branch sequence — the oracle
      // unrolls the same bisection as a recursive CTE; round 6 absorbs
      // sub-1e-6 tail divergence from last-ulp ln() differences
      val binary = Tables.interactions(s, d)
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val pop = new models.KLUCB().fit(binary).itemPopularity
      pop.select(F.col("item_id"), F.round(F.col("rating"), 6).as("rating"))
    }),
    "model_thompson" -> ((s, d) => {
      // seeded Beta sampling — rows-only check
      val binary = Tables.interactions(s, d)
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      new models.ThompsonSampling(seed = 42).fit(binary).itemPopularity
    }),
    "model_thompson_bounds" -> ((s, d) => {
      // structural certificate for the Beta sampler (r8): one state row
      // per catalog item, every draw inside the open unit interval — both
      // facts the oracle CAN assert (n_items from the log; TRUE for the
      // support of any Beta(α>0, β>0))
      val binary = Tables.interactions(s, d)
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val pop = new models.ThompsonSampling(seed = 42).fit(binary).itemPopularity
      pop.agg(F.count(F.lit(1)).as("n_items"),
        (F.min("rating") > 0.0 && F.max("rating") < 1.0).as("in_unit_interval"))
    }),
    "model_slim_twin_parity" -> ((s, d) => {
      // the driver-CSC solver and the distributed Gram/CD twin must agree
      // BIT-FOR-BIT on integral ratings (r8: the Tier2Spec parity contract
      // becomes a driver-enforced gate): full outer join of the two
      // similarity tables, any missing cell or unequal value flips a flag
      val binary = Tables.interactions(s, d)
        .withColumn("rating", F.lit(1.0))
        .select("query_id", "item_id", "rating").distinct()
      def sim(collectBound: Long) =
        new models.SLIM(maxIter = 15, maxNeighbours = 30,
          maxCollectEntries = collectBound).fit(binary).similarity
      sim(50000000L).withColumnRenamed("similarity", "_a")
        .join(sim(0L).withColumnRenamed("similarity", "_b"),
          Seq("item_one", "item_two"), "full_outer")
        .agg(
          (F.count(F.lit(1)) > 0L &&
            F.sum(F.when(F.col("_a").isNull || F.col("_b").isNull, 1L)
              .otherwise(0L)) === 0L).as("cells_match"),
          (F.sum(F.when(F.col("_a") === F.col("_b"), 0L).otherwise(1L))
            === 0L).as("values_match"))
    }),
    "model_w2v_ann_recall" -> ((s, d) => {
      // IVF-routed Word2Vec predict vs the exact cross-join predict path
      // on ONE shared fit (W2V training is nondeterministic across fits —
      // see Word2VecRec.setAnn — so a refit is never a valid reference):
      // recall@3 ≥ 0.95, threshold-gated like the embed_* gates (r8)
      val i = Tables.interactions(s, d)
      val m = new models.Word2VecRec(vectorSize = 16,
        numPartitions = Some(32)).fit(i)
      def recs() = m.predict(i, k = 3)
        .select(F.col("query_id"), F.col("item_id").as("neighbor_id"))
      val exact = recs()
      m.setAnn(Some(new models.IvfAnn(nCentroids = 16, nProbe = 4)))
      graft.text.Similarity.recallSummary(recs(), exact, k = 3)
        .select("n_queries", "k", "recall_ok")
    }),
    "model_als_ann_recall" -> ((s, d) => {
      // IVF-routed ALS predict vs the exact top-k on ONE
      // shared fit (ALSRec.setAnn — r8, the ALS twin of the W2V recall
      // certificate): recall@5 ≥ 0.95, threshold-gated
      val i = Tables.interactions(s, d)
      val m = new models.ALSRec(rank = 8, maxIter = 5).fit(i)
      def recs() = m.predict(i, k = 5)
        .select(F.col("query_id"), F.col("item_id").as("neighbor_id"))
      val exact = recs()
      m.setAnn(Some(new models.IvfAnn(nCentroids = 16, nProbe = 6)))
      graft.text.Similarity.recallSummary(recs(), exact, k = 5)
        .select("n_queries", "k", "recall_ok")
    }),
    "model_als_foldin" -> ((s, d) => {
      // cold-user fold-in certificate: fold-in is exactly one more ALS
      // half-step, so re-deriving TRAINING users' factors from their
      // history must reproduce the trained top-5 (recall ≥ 0.95 gate,
      // same threshold-oracle shape as the ANN recall rows)
      val i = Tables.interactions(s, d)
      val m = new models.ALSRec(rank = 8, maxIter = 5).fit(i)
      val exact = m.predict(i, k = 5)
        .select(F.col("query_id"), F.col("item_id").as("neighbor_id"))
      val folded = m.predictFoldIn(i, k = 5)
        .select(F.col("query_id"), F.col("item_id").as("neighbor_id"))
      graft.text.Similarity.recallSummary(folded, exact, k = 5)
        .select("n_queries", "k", "recall_ok")
    }),
    "model_recs_certificate" -> ((s, d) => {
      // structural predict-contract certificates (r8) for the solver/RNG
      // models the oracle can't score-check: ALS implicit + explicit,
      // ClusterRec, fast-hash RandomRec — per-query count algebra, zero
      // seen items, finite scores (Certificates.topK scaladoc). Same
      // configs as their rows-only gates, so a contract break here
      // localizes to the model, not the setup.
      val i = Tables.interactions(s, d)
      val als = models.Certificates.topK(
        new models.ALSRec(rank = 8, maxIter = 5).fitPredict(i, k = 5),
        i, 5, "als")
      val alsX = models.Certificates.topK(
        new models.ALSRec(rank = 8, maxIter = 5, implicitPrefs = false)
          .fitPredict(i, k = 5), i, 5, "als_explicit")
      val qf = Tables.customer(s, d).select(
        F.col("c_custkey").as("query_id"),
        F.col("c_acctbal"), F.col("c_nationkey").cast("double").as("c_nat"))
      val clu = models.Certificates.topK(
        new models.ClusterRec(nClusters = 5).fit(i, qf).predict(i, k = 5),
        i, 5, "cluster", exactCount = false)
      val rnd = models.Certificates.topK(
        new models.RandomRec("popular", alpha = 0.0, seed = 42,
          hashMode = "fast").fit(i).predict(i, k = 3), i, 3, "random_rec_fast")
      als.unionAll(alsX).unionAll(clu).unionAll(rnd)
    }),
    "model_random_rec" -> ((s, d) => {
      // input cached once (r13): fit + seen-pair + history paths otherwise
      // re-run the lineitem⋈orders scan ~5× per call — at 100 TB a real
      // pipeline caches/checkpoints its interaction frame before a fit
      val i = Tables.interactions(s, d).cache()
      val m = new models.RandomRec("popular", alpha = 0.0, seed = 42).fit(i)
      val recs = m.predict(i, k = 3)
      val w = Window.partitionBy("query_id")
        .orderBy(F.col("rating").desc, F.col("item_id").asc)
      recs.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("query_id", "item_id", "rank")
    }),
    "model_random_rec_proba" -> ((s, d) => {
      // sampling-model action distribution (base_rec.py:1399-1442):
      // weight-normalized selection probabilities tiled over positions —
      // closed-form, so fully oracle-checkable unlike the sampled recs
      val i = Tables.interactions(s, d)
      val m = new models.RandomRec("popular", alpha = 0.0, seed = 42).fit(i)
      val qs = i.select("query_id").distinct().filter(F.col("query_id") < 100)
      m.predictProba(i, k = 3, queries = Some(qs))
    }),
    "model_random_rec_relevance" -> ((s, d) => {
      // relevance-weighted sampling: weights = Σ rating per item
      val i = Tables.interactions(s, d).cache()
      val m = new models.RandomRec("relevance", seed = 42).fit(i)
      val recs = m.predict(i, k = 3)
      val w = Window.partitionBy("query_id")
        .orderBy(F.col("rating").desc, F.col("item_id").asc)
      recs.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("query_id", "item_id", "rank")
    }),
    "model_random_rec_fast" -> ((s, d) => {
      // production hash knob: same sampler, xxhash64 draws instead of the
      // portable md5 (no DuckDB mirror → rows-only; RandomRecSpec pins
      // layout-independence and the per-query row contract). The md5 is
      // the single dominant cost of the portable path at |q|×|catalog|
      // scale — this row measures the sampler with that tax removed.
      val i = Tables.interactions(s, d).cache()
      val m = new models.RandomRec("popular", alpha = 0.0, seed = 42,
        hashMode = "fast").fit(i)
      val recs = m.predict(i, k = 3)
      val w = Window.partitionBy("query_id")
        .orderBy(F.col("rating").desc, F.col("item_id").asc)
      recs.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("query_id", "item_id", "rank")
    }),
    "model_item_knn" -> ((s, d) => {
      new models.ItemKNN(numNeighbours = 5).fit(Tables.interactions(s, d)).similarity
    }),
    "model_knn_incremental" -> ((s, d) => {
      // the neighbour-model incremental-refit law as a driver gate:
      // user-disjoint slice co-stats, merged, must rebuild EXACTLY the
      // full plain-cosine fit — same oracle as model_item_knn
      val i = Tables.interactions(s, d)
      val probe = new models.ItemKNN(numNeighbours = 5)
      val (p, df) = models.ItemKNN.mergeStats(
        probe.coStats(i.filter(F.col("query_id") % 2 === 0)),
        probe.coStats(i.filter(F.col("query_id") % 2 === 1)))
      new models.ItemKNN(numNeighbours = 5).fitFromStats(p, df).similarity
    }),
    "model_item_knn_predict" -> ((s, d) => {
      val i = Tables.interactions(s, d)
      val m = new models.ItemKNN(numNeighbours = 5).fit(i)
      m.predict(i, k = 5)
        .select(F.col("query_id"), F.col("item_id"), F.round(F.col("rating"), 6).as("rating"))
    }),
    "model_nearest_items" -> ((s, d) => {
      // item-to-item "similar items" query (reference get_nearest_items,
      // base_rec.py:709-777 / base_neighbour_rec.py:144-188): anchors =
      // items ≤ 50, candidates restricted to even ids BEFORE the top-k
      // crop, tie-break (similarity DESC, neighbour DESC) per the
      // reference wrap (base_rec.py:653-658)
      val i = Tables.interactions(s, d)
      val m = new models.ItemKNN(numNeighbours = 5).fit(i)
      val anchors = i.select("item_id").filter(F.col("item_id") <= 50)
      val cands = i.select("item_id").filter(F.col("item_id") % 2 === 0)
      m.getNearestItems(anchors, k = 3, candidates = Some(cands))
    }),
    "model_content_knn" -> ((s, d) => {
      // content-based item KNN (engine extra — the cold-item complement):
      // one-hot cosine over part brand/type attributes; the gate runs
      // uncapped (the maxFeatureAudience cap is the scale contract, and
      // the SQL oracle assumes it does not bind)
      new models.ContentKNN(numNeighbours = 5, maxFeatureAudience = 0)
        .fitFeatures(partFeatures(s, d)).similarity
    }),
    "model_content_knn_predict" -> ((s, d) => {
      // scoring a user = summing CONTENT similarities over their history
      // (the NeighbourRec surface unchanged) — items the user never
      // co-consumed with anything still rank via shared attributes
      val i = Tables.interactions(s, d)
      val m = new models.ContentKNN(numNeighbours = 5, maxFeatureAudience = 0)
        .fitFeatures(partFeatures(s, d))
      m.predict(i, k = 5)
        .select(F.col("query_id"), F.col("item_id"),
          F.round(F.col("rating"), 6).as("rating"))
    }),
    "model_user_knn" -> ((s, d) => {
      // user-user cosine KNN (engine extra — the transpose of knn.py's
      // item model): top-5 neighbours per user, exact unweighted cosine
      new models.UserKNN(numNeighbours = 5)
        .fit(Tables.interactions(s, d)).similarity
    }),
    "model_user_knn_predict" -> ((s, d) => {
      val i = Tables.interactions(s, d)
      val m = new models.UserKNN(numNeighbours = 5).fit(i)
      m.predict(i, k = 5)
        .select(F.col("query_id"), F.col("item_id"),
          F.round(F.col("rating"), 6).as("rating"))
    }),
    "model_slope_one" -> ((s, d) => {
      // weighted Slope One (engine extra; Lemire & Maclachlan 2005): the
      // classic rating predictor in exact integer ppm — every training
      // pair scored, unsupported pairs (singleton histories) sentinel -1
      val i = Tables.interactions(s, d)
      val m = new models.SlopeOne().fit(i)
      val pairs = i.select("query_id", "item_id").distinct()
      m.predictPairs(pairs, i)
        .select(F.col("query_id"), F.col("item_id"),
          F.coalesce(F.col("pred_ppm"), F.lit(-1L)).as("pred_ppm"))
    }),
    "model_slope_one_incremental" -> ((s, d) => {
      // the Slope One incremental-refit law: user-disjoint slice deviation
      // pairs merged by addition rebuild EXACTLY the full fit — same
      // oracle as model_slope_one
      val i = Tables.interactions(s, d)
      val probe = new models.SlopeOne()
      val m = new models.SlopeOne()
      val (h, r) = probe.mergeStats(
        probe.coStats(i.filter(F.col("query_id") % 2 === 0)),
        probe.coStats(i.filter(F.col("query_id") % 2 === 1)))
      m.fitFromStats(h, r)
      val pairs = i.select("query_id", "item_id").distinct()
      m.predictPairs(pairs, i)
        .select(F.col("query_id"), F.col("item_id"),
          F.coalesce(F.col("pred_ppm"), F.lit(-1L)).as("pred_ppm"))
    }),
    "model_slope_one_sample" -> ((s, d) => {
      // sampling-mode predict for the rating-prediction family (the
      // bandit sample=true contract extended to personalized scores,
      // SampledPredict scaladoc): draw 3 training pairs per user without
      // replacement ∝ positive SlopeOne prediction via the portable E–S
      // key; rank + floor-ppb selection probability, full oracle (exact
      // integer weights → exact integer Σw → deterministic division)
      val i = Tables.interactions(s, d)
      val m = new models.SlopeOne().fit(i)
      val pairs = i.select("query_id", "item_id").distinct()
      val pool = m.predictPairs(pairs, i)
        .filter(F.col("pred_ppm").isNotNull && F.col("pred_ppm") > 0)
        .select(F.col("query_id"), F.col("item_id"),
          F.col("pred_ppm").cast("double").as("rating"))
      models.SampledPredict.sampleScores(pool, k = 3)
        .select(F.col("query_id"), F.col("item_id"), F.col("rank"),
          F.floor(F.col("prob") * F.lit(1e9)).cast("long").as("prob_ppb"))
    }),
    "model_slope_one_sample_proba" -> ((s, d) => {
      // the sampling-mode action distribution tiled over the 3 slate
      // positions (base_rec.py:1400-1443 via SampledPredict) — the
      // predict_proba half of the personalized sampling contract
      val i = Tables.interactions(s, d)
      val m = new models.SlopeOne().fit(i)
      val pairs = i.select("query_id", "item_id").distinct()
        .filter(F.col("query_id") < 100)
      val pool = m.predictPairs(pairs, i)
        .filter(F.col("pred_ppm").isNotNull && F.col("pred_ppm") > 0)
        .select(F.col("query_id"), F.col("item_id"),
          F.col("pred_ppm").cast("double").as("rating"))
      models.SampledPredict.probaFromScores(pool, k = 3)
        .select(F.col("query_id"), F.col("item_id"), F.col("position"),
          F.floor(F.col("prob") * F.lit(1e9)).cast("long").as("prob_ppb"))
    }),
    "model_p3alpha" -> ((s, d) => {
      // P³ random-walk recommender (engine extra; Cooper et al. WWW 2014)
      // in exact integer ppt — every training pair scored through the
      // uncropped walk matrix, unreachable pairs (singleton histories)
      // sentinel -1
      val i = Tables.interactions(s, d)
      val m = new models.P3AlphaRec(topKNeighbours = 0).fit(i)
      val pairs = i.select("query_id", "item_id").distinct()
      m.predictPairs(pairs, i)
        .select(F.col("query_id"), F.col("item_id"),
          F.coalesce(F.col("score_ppt"), F.lit(-1L)).as("score_ppt"))
    }),
    "model_p3alpha_sample" -> ((s, d) => {
      // sampling-mode predict for the walk family: 3 training pairs per
      // user drawn ∝ positive CROPPED-matrix p3 score (the production
      // topKNeighbours=10 config) via the portable E–S key — exact-ppt
      // weights make rank AND floor-ppb probability full-oracle
      val i = Tables.interactions(s, d)
      val m = new models.P3AlphaRec(topKNeighbours = 10).fit(i)
      val pairs = i.select("query_id", "item_id").distinct()
      val pool = m.predictPairs(pairs, i)
        .filter(F.col("score_ppt").isNotNull && F.col("score_ppt") > 0)
        .select(F.col("query_id"), F.col("item_id"),
          F.col("score_ppt").cast("double").as("rating"))
      models.SampledPredict.sampleScores(pool, k = 3)
        .select(F.col("query_id"), F.col("item_id"), F.col("rank"),
          F.floor(F.col("prob") * F.lit(1e9)).cast("long").as("prob_ppb"))
    }),
    "model_rp3beta" -> ((s, d) => {
      // RP³β (Paudel et al. TiiS 2017): the same walk matrix with the β=1
      // popularity penalty and the per-source top-10 neighbour crop — the
      // production config; the crop and the penalty are both in the oracle
      val i = Tables.interactions(s, d)
      new models.P3AlphaRec(beta = 1, topKNeighbours = 10).fit(i).similarity
    }),
    "model_p3alpha_predict" -> ((s, d) => {
      // the full predict path over the CROPPED walk matrix (top-10
      // neighbours per source): history ⋈ sims ⋈ agg, seen anti-join,
      // deterministic top-5 — exact ppt scores make the floats hash
      val i = Tables.interactions(s, d)
      val m = new models.P3AlphaRec(topKNeighbours = 10).fit(i)
      m.predict(i, k = 5)
    }),
    "model_ease_incremental" -> ((s, d) => {
      // the EASE incremental-refit law as a driver gate: Gram cells are
      // additive over user-disjoint slices (G = Σ_u x_u·x_uᵀ; integral
      // ratings make the sums exact in any order), so the merged-slice
      // fit must equal the full fit BIT-exactly — parity_exact pins it
      val i = Tables.interactions(s, d).filter(F.col("item_id") < 500)
        .select("query_id", "item_id").distinct()
        .withColumn("rating", F.lit(1.0))
      val full = new models.Ease(lambda = 10.0, maxItems = 600).fit(i)
      val m = new models.Ease(lambda = 10.0, maxItems = 600)
      m.fitFromCells(m.mergeCells(
        m.gramCells(i.filter(F.col("query_id") % 2 === 0)),
        m.gramCells(i.filter(F.col("query_id") % 2 === 1))))
      val mismatches = m.similarity.unionByName(full.similarity)
        .groupBy("item_one", "item_two", "similarity")
        .agg(F.count(F.lit(1)).as("c")).filter(F.col("c") =!= 2).count()
      val nItems = i.select(F.countDistinct("item_id")).head.getLong(0)
      m.similarity.agg(
        F.lit(nItems).as("n_items"),
        F.lit(mismatches == 0L).as("parity_exact"),
        F.lit(m.lastKktResidual <= 1e-6).as("kkt_ok"),
        (F.count(F.lit(1)) > 0L).as("nonempty"))
    }),
    "rerank_mmr" -> ((s, d) => {
      // MMR diversity re-ranking (engine extra; Carbonell & Goldstein
      // SIGIR 1998): 3-step greedy over each user's ItemKNN top-10,
      // penalized by the same model's similarity — score = λ·rel −
      // (1−λ)·max_sel sim, unrolled exactly in the oracle
      val i = Tables.interactions(s, d)
      val m = new models.ItemKNN(numNeighbours = 5).fit(i)
      models.Rerank.mmr(m.predict(i, k = 10), m.similarity,
        k = 3, lambda = 0.5)
        .select(F.col("query_id"), F.col("item_id"),
          F.round(F.col("mmr"), 6).as("mmr"), F.col("position"))
    }),
    "rerank_calibrated" -> ((s, d) => {
      // calibrated re-ranking (engine extra; Steck RecSys 2018): 3-step
      // greedy over each user's PopRec top-10, relevance traded against
      // the KL between history and list brand distributions — KL terms
      // ppt-quantized so the greedy replays exactly in SQL
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val recs = new models.PopRec().fitPredict(train, 10)
      val cats = Tables.part(s, d).select(
        F.col("p_partkey").as("item_id"), F.col("p_brand").as("category"))
      models.Rerank.calibrated(recs, train, cats, k = 3, lambda = 0.5)
    }),
    "model_session_knn" -> ((s, d) => {
      // session-based KNN (engine extra — the SKNN sequential baseline):
      // UserKNN is column-parametric, so SKNN is the same model keyed on
      // session_id; next-item candidates come from cosine-similar sessions
      val i = Tables.interactions(s, d).select("session_id", "item_id")
        .withColumn("rating", F.lit(1.0))
      val m = new models.UserKNN(numNeighbours = 5,
        cols = models.RecCols(query = "session_id")).fit(i)
      m.predict(i, k = 3).select(F.col("session_id"), F.col("item_id"),
        F.round(F.col("rating"), 6).as("rating"))
    }),
    "model_knn_explain" -> ((s, d) => {
      // per-recommendation contribution breakdown (engine extra): top-3
      // history items per (user, rec) with contribution = multiplicity ×
      // similarity — the exact decomposition of the predicted rating
      val i = Tables.interactions(s, d)
      val m = new models.ItemKNN(numNeighbours = 5).fit(i)
      m.explain(i, m.predict(i, k = 5), topN = 3)
        .select(F.col("query_id"), F.col("item_id"), F.col("source_item"),
          F.round(F.col("contribution"), 6).as("contribution"),
          F.col("contrib_rank"))
    }),
    "model_repeat" -> ((s, d) => {
      // repeat-consumption baseline (engine extra): the user's own items,
      // most-recent first — rating IS the last-seen epoch-µs, exact
      val i = Tables.interactions(s, d)
      new models.RepeatRec().fit(i).predict(i, k = 5, filterSeen = false)
        .select(F.col("query_id"), F.col("item_id"),
          F.col("rating").cast("long").as("last_ts_us"))
    }),
    "model_pop_rec_items" -> ((s, d) => {
      // candidate-restricted predict (reference _predict_wrap `items` arg,
      // base_rec.py:316-342): catalog filtered BEFORE the rank crop
      val i = Tables.interactions(s, d)
      val big = Tables.part(s, d).filter(F.col("p_size") >= 25)
        .select(F.col("p_partkey").as("item_id"))
      new models.PopRec().fit(i).predict(i, k = 5, items = Some(big))
    }),
    "model_pop_rec_items_cold" -> ((s, d) => {
      // cold-item fill (reference add_cold_items/cold_weight,
      // base_rec.py:1144-1201): candidate items unseen at fit are scored
      // at min(rating)·cold_weight instead of being silently dropped —
      // the +10M shifted partkeys below never appear in interactions; the
      // warm candidate set is deliberately tiny (3 items) so the fill
      // value genuinely surfaces in every user's top-5, not just in the plan
      val i = Tables.interactions(s, d)
      val part = Tables.part(s, d)
      val cand = part.filter(F.col("p_partkey") <= 3)
        .select(F.col("p_partkey").as("item_id"))
        .unionByName(part.filter(F.col("p_size") >= 45)
          .select((F.col("p_partkey") + F.lit(10000000L)).as("item_id")))
      new models.PopRec(coldWeight = 0.5).fit(i).predict(i, k = 5, items = Some(cand))
    }),
    "model_predict_proba" -> ((s, d) => {
      // sparse OBP action distribution (base_rec.py:371-430): one-hot over
      // (item, position) per query for a deterministic ranker
      val i = Tables.interactions(s, d)
      new models.PopRec().fit(i).predictProba(i, k = 5)
    }),
    "model_assoc_rules" -> ((s, d) => {
      val m = new models.AssociationRules(minItemCount = 5, minPairCount = 2)
        .fit(Tables.interactions(s, d))
      m.rules
    }),
    "streaming_bias" -> ((s, d) => {
      // the BiasModel streaming sufficient-statistic twin run in batch
      // mode: per-(query, item) (Σr, n) held in mapGroupsWithState →
      // fitFromStats → byte-for-byte the model_bias oracle (the additive
      // stats law makes stream state ≡ batch stats under any slicing)
      import s.implicits._
      val i = Tables.interactions(s, d)
      val ev = i.select(F.col("query_id").cast("long").as("query_id"),
        F.col("item_id").cast("long").as("item_id"),
        F.floor(F.col("rating") * 1e6).cast("long").as("r_ppm"))
        .as[graft.streaming.StreamingOps.RatingEvent]
      val stats = graft.streaming.StreamingOps.streamingBiasStats(ev).toDF()
      val m = new models.BiasModel()
      m.fitFromStats(stats)
      m.predictPairs(i.select("query_id", "item_id").distinct(), i)
    }),
    "streaming_slope_one" -> ((s, d) => {
      // the Slope One streaming deviation-delta twin run in batch mode:
      // per-user history state emits upper-triangle deltas; Σdeltas +
      // the pre-averaged ratings rebuild the fit — the model_slope_one
      // oracle byte-for-byte (distinct-pair contract: duplicates
      // pre-average BEFORE streaming, exactly the batch fit's merge)
      import s.implicits._
      val i = Tables.interactions(s, d)
      val ev = i.groupBy("query_id", "item_id")
        .agg(F.expr("sum(floor(rating * 1e6)) div count(*)")
          .cast("long").as("r_ppm"))
        .select(F.col("query_id").cast("long").as("query_id"),
          F.col("item_id").cast("long").as("item_id"), F.col("r_ppm"))
        .as[graft.streaming.StreamingOps.RatingEvent]
      val half = graft.streaming.StreamingOps.streamingSlopeOneDeltas(ev)
        .toDF()
        .groupBy("item_from", "item_to")
        .agg(F.sum("n").cast("long").as("n"),
          F.sum("dev_ppm").cast("long").as("dev_ppm"))
      val m = new models.SlopeOne(maxUserHistory = 0)
      m.fitFromStats(half, ev.toDF())
      m.predictPairs(i.select("query_id", "item_id").distinct(), i)
        .select(F.col("query_id"), F.col("item_id"),
          F.coalesce(F.col("pred_ppm"), F.lit(-1L)).as("pred_ppm"))
    }),
    "model_bias" -> ((s, d) => {
      // damped-mean bias baseline μ + b_u + b_i — exact ppm rating
      // prediction per distinct pair
      val i = Tables.interactions(s, d)
      new models.BiasModel().fit(i)
        .predictPairs(i.select("query_id", "item_id").distinct(), i)
    }),
    "model_bias_topk" -> ((s, d) => {
      // top-5 by the same predictor (per-user order is b_i alone),
      // seen-filtered through the base predict path
      val i = Tables.interactions(s, d)
      new models.BiasModel().fit(i).predict(i, k = 5)
    }),
    "model_bias_incremental" -> ((s, d) => {
      // the bias-model incremental-refit law: per-pair (Σr, n) stats are
      // additive under ANY event slicing (session parity here — the SAME
      // user lands in both slices), and the merged rebuild is bit-exact
      // vs the full fit — same oracle as model_bias
      val i = Tables.interactions(s, d)
      val m = new models.BiasModel()
      m.fitFromStats(m.mergeStats(
        m.pairStats(i.filter(F.col("session_id") % 2 === 0)),
        m.pairStats(i.filter(F.col("session_id") % 2 === 1))))
      m.predictPairs(i.select("query_id", "item_id").distinct(), i)
    }),
    "model_markov" -> ((s, d) => {
      // first-order next-item model (the relational stand-in for the
      // sequential NN family): predict from each query's LAST item by
      // transition count, seen-filtered top-5
      val i = Tables.interactions(s, d)
      new models.MarkovRec(tieBreak = Seq("session_id")).fit(i)
        .predict(i, k = 5)
    }),
    "model_markov_incremental" -> ((s, d) => {
      // order-1 merge law: user-disjoint slice transition counts merged by
      // addition rebuild the full fit — same oracle as model_markov
      val i = Tables.interactions(s, d)
      val probe = new models.MarkovRec(tieBreak = Seq("session_id"))
      new models.MarkovRec(tieBreak = Seq("session_id"))
        .fitFromStats(probe.mergeStats(
          probe.transStats(i.filter(F.col("query_id") % 2 === 0)),
          probe.transStats(i.filter(F.col("query_id") % 2 === 1))))
        .predict(i, k = 5)
    }),
    "model_markov2" -> ((s, d) => {
      // order-2 with stupid backoff: queries whose exact (last2, last1)
      // context was observed score from it; the rest back off to order-1
      val i = Tables.interactions(s, d)
      new models.Markov2Rec(tieBreak = Seq("session_id")).fit(i)
        .predict(i, k = 5)
    }),
    "model_repeat_incremental" -> ((s, d) => {
      // repeat-state merge law (max recency + summed counts are both
      // associative, so ANY slicing works — session parity here): merged
      // rebuild ≡ full fit — same oracle as model_repeat
      val i = Tables.interactions(s, d)
      val probe = new models.RepeatRec()
      val m = new models.RepeatRec()
      m.fitFromStats(probe.mergeStats(
        probe.pairStats(i.filter(F.col("session_id") % 2 === 0)),
        probe.pairStats(i.filter(F.col("session_id") % 2 === 1))))
      m.predict(i, k = 5, filterSeen = false)
        .select(F.col("query_id"), F.col("item_id"),
          F.col("rating").cast("long").as("last_ts_us"))
    }),
    "streaming_repeat" -> ((s, d) => {
      // the RepeatRec streaming twin run in batch mode: per-(query, item)
      // (max ts, Σcnt) mapGroupsWithState state → fitFromStats → the
      // model_repeat oracle byte-for-byte
      import s.implicits._
      val i = Tables.interactions(s, d)
      val ev = i.select(F.col("query_id").cast("long").as("query_id"),
        F.col("item_id").cast("long").as("item_id"),
        F.unix_micros(F.col("timestamp").cast("timestamp")).as("ts_us"))
        .as[graft.streaming.StreamingOps.RepeatEvent]
      val stats = graft.streaming.StreamingOps.streamingRepeatStats(ev).toDF()
      val m = new models.RepeatRec()
      m.fitFromStats(stats)
      m.predict(i, k = 5, filterSeen = false)
        .select(F.col("query_id"), F.col("item_id"),
          F.col("rating").cast("long").as("last_ts_us"))
    }),
    "model_markov2_incremental" -> ((s, d) => {
      // the sequential family's incremental-refit law as a driver gate:
      // user-disjoint slice transition counts (both tiers) merged by
      // addition rebuild EXACTLY the full fit — same oracle as
      // model_markov2 (lag windows are per-query, so each user's pairs
      // live wholly in its slice; minCount applies on merged counts)
      val i = Tables.interactions(s, d)
      val probe = new models.Markov2Rec(tieBreak = Seq("session_id"))
      val m = new models.Markov2Rec(tieBreak = Seq("session_id"))
      val (t2, t1) = probe.mergeStats(
        probe.transStats(i.filter(F.col("query_id") % 2 === 0)),
        probe.transStats(i.filter(F.col("query_id") % 2 === 1)))
      m.fitFromStats(t2, t1)
      m.predict(i, k = 5)
    }),
    "model_markov2_sample" -> ((s, d) => {
      // sampling-mode predict for the sequential family: the full unseen
      // candidate set (order-2 with stupid backoff — k large enough that
      // no candidate is cropped) sampled 3-per-user ∝ transition count
      // via the portable E–S key; counts are exact integers → rank and
      // floor-ppb probability both full-oracle
      val i = Tables.interactions(s, d)
      val m = new models.Markov2Rec(tieBreak = Seq("session_id")).fit(i)
      val pool = m.predict(i, k = 100000)
        .filter(F.col("rating") > 0)
        .select("query_id", "item_id", "rating")
      models.SampledPredict.sampleScores(pool, k = 3)
        .select(F.col("query_id"), F.col("item_id"), F.col("rank"),
          F.floor(F.col("prob") * F.lit(1e9)).cast("long").as("prob_ppb"))
    }),
    "model_markov_trans" -> ((s, d) =>
      // the fit state itself: consecutive-pair counts under the
      // deterministic (ts, session, item) order, minCount=2 floor
      new models.MarkovRec(minCount = 2, tieBreak = Seq("session_id"))
        .fit(Tables.interactions(s, d)).transitions),
    "model_cat_pop" -> ((s, d) => {
      val part = Tables.part(s, d)
      val itemCats = part.select(F.col("p_partkey").as("item_id"), F.col("p_brand").as("category"))
      val tree = part.select(F.col("p_brand").as("category")).distinct()
        .withColumn("parent_cat", F.lit(null).cast("string"))
      val m = new models.CatPopRec(tree, itemCats).fit(Tables.interactions(s, d))
      m.predict(itemCats.select("category").distinct(), k = 5)
    }),

    "model_cat_pop_tree" -> ((s, d) => {
      // 2-level tree: leaf brands under brand-prefix parents; predicting
      // for the PARENTS exercises the closure aggregation
      // (cat_pop_rec.py:245-279 — leaf counts summed per ancestor)
      val part = Tables.part(s, d)
      val itemCats = part.select(F.col("p_partkey").as("item_id"),
        F.col("p_brand").as("category"))
      // parent = brand family by first digit ("Brand#1"/"Brand#13" →
      // grp_1) — a pure prefix would make 7-char brands their own parent
      val leaves = part.select(F.col("p_brand").as("category")).distinct()
        .withColumn("parent_cat",
          F.concat(F.lit("grp_"), F.substring(F.col("category"), 7, 1)))
      val parents = leaves.select(F.col("parent_cat").as("category")).distinct()
        .withColumn("parent_cat", F.lit(null).cast("string"))
      val m = new models.CatPopRec(leaves.unionByName(parents), itemCats)
        .fit(Tables.interactions(s, d))
      m.predict(parents.select("category"), k = 5)
    }),

    // ---- §2.10 tier-2 models (MLlib / solver-backed — rows-only) ----------
    "model_als" -> ((s, d) => {
      val i = Tables.interactions(s, d)
      new models.ALSRec(rank = 8, maxIter = 5).fitPredict(i, k = 5)
    }),
    "model_word2vec" -> ((s, d) => {
      // exact scoring (ann = None, the reference default); numPartitions
      // pinned so the trained embeddings don't drift with file-split
      // layout between runs (see Word2VecRec scaladoc)
      val i = Tables.interactions(s, d)
      new models.Word2VecRec(vectorSize = 16, numPartitions = Some(32))
        .fitPredict(i, k = 3)
    }),
    "model_word2vec_ann" -> ((s, d) => {
      // IVF-routed candidate generation (ann_mixin.py:78-186 analogue) —
      // the 100 TB predict path; recall-vs-exact contract in Tier2Spec
      val i = Tables.interactions(s, d)
      new models.Word2VecRec(vectorSize = 16, numPartitions = Some(32),
        ann = Some(new models.IvfAnn(nCentroids = 16, nProbe = 4)))
        .fitPredict(i, k = 3)
    }),
    "model_als_ann" -> ((s, d) => {
      // ALS + pluggable IVF candidate index (ann_mixin.py:78-186 analogue)
      val i = Tables.interactions(s, d)
      new models.ALSRec(rank = 8, maxIter = 5,
        ann = Some(new models.IvfAnn(nCentroids = 16, nProbe = 4)))
        .fitPredict(i, k = 5)
    }),
    "model_als_explicit" -> ((s, d) => {
      // explicit-feedback mode (reference als.py implicit_prefs=False;
      // baseline res_1m.csv:17 has a published time for this config)
      val i = Tables.interactions(s, d)
      new models.ALSRec(rank = 8, maxIter = 5, implicitPrefs = false)
        .fitPredict(i, k = 5)
    }),
    "model_cluster" -> ((s, d) => {
      val i = Tables.interactions(s, d)
      val qf = Tables.customer(s, d).select(
        F.col("c_custkey").as("query_id"),
        F.col("c_acctbal"), F.col("c_nationkey").cast("double").as("c_nat"))
      new models.ClusterRec(nClusters = 5).fit(i, qf).predict(i, k = 5)
    }),
    "model_slim" -> ((s, d) => {
      val binary = Tables.interactions(s, d)
        .withColumn("rating", F.lit(1.0))
        .select("query_id", "item_id", "rating").distinct()
      new models.SLIM(maxIter = 15, maxNeighbours = 30).fit(binary)
        .similarity
    }),
    // the fully distributed Gram-join path (maxCollectEntries=0 forces it);
    // integral ratings → must equal model_slim bit-for-bit (spec-asserted)
    "model_slim_distributed" -> ((s, d) => {
      val binary = Tables.interactions(s, d)
        .withColumn("rating", F.lit(1.0))
        .select("query_id", "item_id", "rating").distinct()
      new models.SLIM(maxIter = 15, maxNeighbours = 30,
        maxCollectEntries = 0L).fit(binary).similarity
    }),
    "model_admm_slim" -> ((s, d) => {
      // ADMM-SLIM (round 11; experimental/models/admm_slim.py:18-210):
      // distributed Gram → driver LAPACK inversion + ADMM iterations,
      // bounded by the maxItems dense-catalog contract — the gate
      // restricts to item_id < 500 (the model's envelope; SLIM's
      // distributed solver is the sparse mega-catalog path). DuckDB
      // cannot invert matrices, so the oracle pins a certificate:
      // data-derived item count, non-empty sparse similarity, zero
      // diagonal, l1-monotone sparsity across two fits, finite values,
      // convergence before maxIteration.
      val i = Tables.interactions(s, d).filter(F.col("item_id") < 500)
        .select("query_id", "item_id").distinct()
        .withColumn("rating", F.lit(1.0))
      def fit(l1: Double) = {
        val m = new models.AdmmSlim(lambda1 = l1, lambda2 = 10.0,
          maxItems = 600)
        m.fit(i); m
      }
      val loose = fit(0.5)
      val nnzLoose = loose.similarity.count()
      val nnzTight = fit(2.0).similarity.count()
      val nItems = i.select(F.countDistinct("item_id")).head.getLong(0)
      loose.similarity.agg(
        F.lit(nItems).as("n_items"),
        (F.count(F.lit(1)) > 0L).as("nonempty"),
        F.coalesce(F.bool_and(F.when(F.col("item_one") === F.col("item_two"),
          F.abs(F.col("similarity")) <= 1e-6)), F.lit(true)).as("diag_ok"),
        F.lit(nnzTight <= nnzLoose).as("l1_monotone"),
        F.bool_and(!F.isnan(F.col("similarity")) &&
          F.abs(F.col("similarity")) < 1e6).as("values_finite"),
        F.lit(loose.lastIterations < loose.maxIteration).as("converged"))
    }),
    "model_ease" -> ((s, d) => {
      // EASE (engine extra; Steck WWW 2019): distributed Gram → driver
      // LAPACK inverse, B = I − P·diagMat(1/diag P). DuckDB cannot invert
      // matrices, so the oracle pins a certificate; the load-bearing row
      // is kkt_ok — (G+λI)B − G diagonal at the optimum — which certifies
      // B against the data itself (a wrong inverse, wrong rescale, or
      // wrong Gram all fail it). neg_present pins EASE's signature
      // negative weights; shrink_monotone pins λ-shrinkage across two
      // fits. Same dense-catalog envelope as model_admm_slim.
      val i = Tables.interactions(s, d).filter(F.col("item_id") < 500)
        .select("query_id", "item_id").distinct()
        .withColumn("rating", F.lit(1.0))
      def fit(l: Double) = { val m = new models.Ease(lambda = l,
        maxItems = 600); m.fit(i); m }
      val loose = fit(10.0)
      val tight = fit(500.0)
      val nItems = i.select(F.countDistinct("item_id")).head.getLong(0)
      loose.similarity.agg(
        F.lit(nItems).as("n_items"),
        (F.count(F.lit(1)) > 0L).as("nonempty"),
        F.coalesce(F.bool_and(F.when(F.col("item_one") === F.col("item_two"),
          F.abs(F.col("similarity")) <= 1e-9)), F.lit(true)).as("diag_ok"),
        F.lit(loose.lastKktResidual <= 1e-6).as("kkt_ok"),
        F.max((F.col("similarity") < 0).cast("long")).cast("boolean")
          .as("neg_present"),
        F.lit(tight.lastFrobenius <= loose.lastFrobenius)
          .as("shrink_monotone"),
        F.bool_and(!F.isnan(F.col("similarity")) &&
          F.abs(F.col("similarity")) < 1e6).as("values_finite"))
    }),

    "model_ease_sample" -> ((s, d) => {
      // sampling-mode predict for EASE: the B-matrix weights are LAPACK
      // outputs DuckDB cannot replay, so (the model_ease pattern) this is
      // a certificate gate — the E–S draw over positive EASE pair scores
      // must be nonempty, ≤k per user, probability-bounded, and the
      // (query, item, rank) draw BIT-IDENTICAL across partition layouts:
      // the portable-hash law a layout-dependent sampler cannot fake.
      val i = Tables.interactions(s, d).filter(F.col("item_id") < 500)
        .select("query_id", "item_id").distinct()
        .withColumn("rating", F.lit(1.0))
      val m = new models.Ease(lambda = 10.0, maxItems = 600).fit(i)
      val pool = m.predictPairs(i.select("query_id", "item_id"), i)
        .filter(F.col("rating") > 0).cache()
      val a = models.SampledPredict.sampleScores(pool, k = 3).cache()
      val b = models.SampledPredict.sampleScores(pool.repartition(7), k = 3)
      val key = Seq("query_id", "item_id", "rank")
      val diff = a.select(key.head, key.tail: _*)
        .unionByName(b.select(key.head, key.tail: _*))
        .groupBy(key.head, key.tail: _*)
        .agg(F.count(F.lit(1)).as("c")).filter(F.col("c") =!= 2).count()
      val perUser = a.groupBy("query_id").agg(F.count(F.lit(1)).as("_n"))
      a.agg(
        (F.count(F.lit(1)) > 0L).as("nonempty"),
        F.bool_and(F.col("prob") > 0.0 && F.col("prob") <= 1.0)
          .as("prob_bounded"),
        F.lit(diff == 0L).as("layout_invariant"))
        .crossJoin(perUser.agg(
          F.bool_and(F.col("_n") <= 3L).as("per_user_le_k")))
    }),

    // ---- §2.8 history features + time smoothing ---------------------------
    "history_features" -> ((s, d) => {
      import graft.preprocessing.HistoryFeatures
      val i = Tables.interactions(s, d)
      val stats = HistoryFeatures.entityStats(i, "query_id")
      val ab = HistoryFeatures.abnormality(i)
      stats.join(ab, Seq("query_id"))
        .select(F.col("query_id"), F.col("cnt"),
          F.round(F.col("log_cnt"), 6).as("log_cnt"),
          F.col("mean_rating"), F.col("min_rating"), F.col("max_rating"),
          F.round(F.col("std_rating"), 6).as("std_rating"),
          F.col("active_days"),
          F.round(F.col("abnormality"), 6).as("abnormality"))
    }),
    "time_smoothing" -> ((s, d) => {
      graft.preprocessing.TimeSmoothing.smooth(
          Tables.interactions(s, d), "linear", alpha = 0.01)
        .select("query_id", "item_id", "session_id", "rating")
    }),
    "time_smoothing_power" -> ((s, d) => {
      // (age+1)^-alpha kernel; pow differs at the last ulp across libm
      // implementations → round 6
      graft.preprocessing.TimeSmoothing.smooth(
          Tables.interactions(s, d), "power", alpha = 0.1)
        .select(F.col("query_id"), F.col("item_id"), F.col("session_id"),
          F.round(F.col("rating"), 6).as("rating"))
    }),
    "time_smoothing_exp" -> ((s, d) => {
      // c^age kernel (c = 0.9)
      graft.preprocessing.TimeSmoothing.smooth(
          Tables.interactions(s, d), "exp", alpha = 0.9)
        .select(F.col("query_id"), F.col("item_id"), F.col("session_id"),
          F.round(F.col("rating"), 6).as("rating"))
    }),
    "time_smoothing_decay" -> ((s, d) => {
      // decay-CALIBRATED smoothe_time (the reference's public API,
      // time.py:114-254): weight(30 days) = 0.5 exactly, floored at 0.1;
      // round 6 absorbs last-ulp pow differences across libm
      graft.preprocessing.TimeSmoothing.smoothCalibrated(
          Tables.interactions(s, d), decay = 30.0, limit = 0.1, kind = "exp")
        .select(F.col("query_id"), F.col("item_id"), F.col("session_id"),
          F.round(F.col("rating"), 6).as("rating"))
    }),
    "item_recency" -> ((s, d) => {
      // get_item_recency (time.py:10-111): item collapses to its mean
      // interaction time, weighted by the calibrated power kernel
      graft.preprocessing.TimeSmoothing.itemRecency(
          Tables.interactions(s, d), decay = 30.0, limit = 0.1, kind = "power")
        .select(F.col("item_id"), F.round(F.col("rating"), 6).as("rating"))
    }),

    // ---- §2.12 streaming surface (batch-equivalent session_window) --------
    "streaming_session_window" -> ((s, d) => {
      graft.streaming.StreamingOps.sessionWindows(
        Tables.events(s, d), gapSeconds = 1800)
    }),
    "streaming_dedup" -> ((s, d) => {
      // batch twin of the watermarked streaming dedup (StreamingSpec runs
      // the real stream): one surviving row per content fingerprint
      val docs = Tables.documents(s, d)
        .select(graft.text.TextStats.fingerprint(F.col("text")).as("fp"))
      graft.streaming.StreamingOps.streamingDedup(docs, Seq("fp"))
    }),
    "streaming_windowed_counts" -> ((s, d) => {
      // batch twin of the watermarked tumbling-window aggregation
      // (StreamingSpec pins batch ≡ stream); epoch-aligned hourly windows
      graft.streaming.StreamingOps.windowedCounts(
        Tables.events(s, d), windowSeconds = 3600)
        .select(F.unix_millis(F.col("window_start")).as("window_start_ms"),
          F.col("event_type"), F.col("n"))
    }),
    "streaming_top_k" -> ((s, d) => {
      // streaming popularity: per-hourly-window top-2 event types by count
      // (windowedCounts ∘ top-k crop; StreamingSpec runs the real stream)
      graft.streaming.StreamingOps.windowedTopK(
        Tables.events(s, d), windowSeconds = 3600, k = 2)
        .select(F.unix_millis(F.col("window_start")).as("window_start_ms"),
          F.col("event_type"), F.col("n"))
    }),
    "streaming_embed_neardup" -> ((s, d) => {
      // batch-mode run of the stateful sign-LSH bucket operator with
      // inline exact-cosine verification (StreamingSpec runs the real
      // cross-batch stream): per-band emissions distinct to the batch
      // lshNearDup pair set — the in-state cosine is the bit-exact twin
      // of the Similarity.cosine expression
      graft.streaming.StreamingOps.streamingEmbedNearDup(
          Tables.embeddings(s, d), threshold = 0.2, planes = 4, tables = 8)
        .distinct()
    }),
    "streaming_neardup" -> ((s, d) => {
      // batch-mode run of the streaming LSH candidate operator (same code
      // path, one "micro-batch", empty initial state; StreamingSpec runs
      // the real cross-batch stream): must equal batch minhashCandidates
      // exactly — the oracle IS the batch candidate SQL
      graft.streaming.StreamingOps.streamingNearDupCandidates(
          Tables.documents(s, d), "doc_id", "text",
          hash = graft.text.Dedup.portableHash)
        .distinct()
    }),
    "agg_percentile" -> ((s, d) => {
      // exact interpolated percentile (§2.4; percentile_approx reserved
      // for scale) — parity with DuckDB quantile_cont
      Tables.events(s, d).groupBy("event_type")
        .agg(F.round(F.expr("percentile(value, 0.5)"), 6).as("p50"),
          F.round(F.expr("percentile(value, 0.95)"), 6).as("p95"))
    }),

    // ---- remaining §2 operators -------------------------------------------
    "sample_top_k" -> ((s, d) => {
      // weighted sampling without replacement as pure Catalyst
      // (spark_utils.py:671-721 equivalent, no applyInPandas)
      val scores = Tables.interactions(s, d)
        .groupBy("query_id", "item_id").agg(F.sum("rating").as("rating"))
      Ops.sampleTopK(scores, k = 2, seed = 42).select("query_id", "item_id")
    }),
    "predict_pairs" -> ((s, d) => {
      // predict_pairs path (base_rec.py:502-603): score explicit pairs
      val i = Tables.interactions(s, d)
      val m = new models.PopRec().fit(i)
      val pairs = i.select("query_id", "item_id").distinct()
        .filter(F.col("item_id") < 100)
      m.predictPairs(pairs, i)
    }),
    "predict_pairs_knn" -> ((s, d) => {
      // NeighbourRec pair scoring (base_neighbour_rec.py predict_pairs):
      // Σ similarity of the user's seen items to the pair's item
      val i = Tables.interactions(s, d)
      val m = new models.ItemKNN(numNeighbours = 5).fit(i)
      val pairs = i.select("query_id", "item_id").distinct()
        .filter(F.col("item_id") < 100)
      m.predictPairs(pairs, i).select(F.col("query_id"), F.col("item_id"),
        F.round(F.col("rating"), 6).as("rating"))
    }),
    "encode_csr" -> ((s, d) => {
      // public CsrConverter (converter.py:10-108), distributed form: the
      // per-row CSR arrays posexploded back to scalars so the duplicate-sum
      // and within-row column sort are fully hash-checkable
      val i = Tables.interactions(s, d).filter(F.col("query_id") < 2000)
      new preprocessing.CsrConverter("query_id", "item_id", Some("rating"))
        .transformDistributed(i)
        .select(F.col("row"),
          F.posexplode(F.arrays_zip(F.col("col_idx"), F.col("values"))))
        .select(F.col("row"), F.col("pos").cast("int").as("pos"),
          F.col("col.col_idx").as("col_idx"),
          F.col("col.values").as("value"))
    }),
    "prepare_log" -> ((s, d) => {
      // DataPreparator (data_preparator.py:406-696): rename to canonical
      // roles, string-date parse, relevance cast; timestamp emitted as
      // epoch seconds for a type-stable hash
      val o = Tables.orders(s, d)
        .withColumn("ds", F.date_format(F.col("o_orderdate"), "yyyy-MM-dd"))
      new preprocessing.DataPreparator().transform(
          Map("user_id" -> "o_custkey", "item_id" -> "o_orderkey",
            "relevance" -> "o_totalprice", "timestamp" -> "ds"), o,
          dateFormat = Some("yyyy-MM-dd"))
        .select(F.col("user_id"), F.col("item_id"),
          F.round(F.col("relevance"), 2).as("relevance"),
          F.unix_timestamp(F.col("timestamp")).as("ts_epoch"))
    }),
    "prepare_log_defaults" -> ((s, d) => {
      // absent relevance/timestamp get the reference defaults
      // (data_preparator.py:570-593): 1.0 DOUBLE and 2099-01-01
      val o = Tables.orders(s, d)
      new preprocessing.DataPreparator().transform(
          Map("user_id" -> "o_custkey", "item_id" -> "o_orderkey"), o)
        .select(F.col("user_id"), F.col("item_id"), F.col("relevance"),
          F.unix_timestamp(F.col("timestamp")).as("ts_epoch"))
    }),
    "encode_onehot" -> ((s, d) => {
      // CatFeaturesTransformer (data_preparator.py:684-725), unpivoted to
      // long form so the data-derived column names are hash-checkable
      val c = Tables.customer(s, d)
      val t = new preprocessing.CatFeaturesTransformer(Seq("c_mktsegment"))
        .fit(c)
      val out = t.transform(c.select("c_custkey", "c_mktsegment"))
      val oheCols = out.columns.filter(_.startsWith("ohe_")).sorted
      out.select(F.col("c_custkey"), F.explode(F.array(
          oheCols.toIndexedSeq.map(cn => F.struct(F.lit(cn).as("feature"),
            F.col(cn).as("value"))): _*)).as("kv"))
        .select(F.col("c_custkey"), F.col("kv.feature").as("feature"),
          F.col("kv.value").as("value"))
    }),
    "sequence_generate" -> ((s, d) => {
      // next-item training cases (sequence_generator.py:13-206): one row
      // per (user, day) so the order-by is total; window of <=5 preceding
      // items + the row's item as the label; posexploded for hashing
      val i = Tables.interactions(s, d).filter(F.col("query_id") < 3000)
      val daily = i.groupBy(F.col("query_id"), F.col("timestamp"))
        .agg(F.min("item_id").as("item_id"))
      preprocessing.SequenceGenerator.transform(daily,
          groupBy = Seq("query_id"), orderBy = Seq("timestamp"),
          transformColumns = Seq("item_id"), lenWindow = 5,
          getListLen = true)
        .select(F.col("query_id"), F.col("label_item_id"),
          F.col("list_len"), F.posexplode(F.col("item_id_list")))
        .toDF("query_id", "label_item_id", "list_len", "pos", "token")
        .withColumn("pos", F.col("pos").cast("long"))
    }),
    "sequence_pad_generic" -> ((s, d) => {
      // ArrayPadder (padder.py:14-236): right-cut keeps the LAST k items
      // of each user's time-sorted history, left-pad with 0 to k=6
      val i = Tables.interactions(s, d).filter(F.col("query_id") < 3000)
      val daily = i.groupBy(F.col("query_id"), F.col("timestamp"))
        .agg(F.min("item_id").as("item_id"))
      val hist = daily.groupBy("query_id").agg(
        F.transform(F.sort_array(F.collect_list(F.struct(
          F.col("timestamp").as("t"), F.col("item_id").as("i")))),
          s0 => s0.getField("i")).as("items"))
      preprocessing.ArrayPadder.transform(hist, Seq("items"),
          paddingSide = "left", paddingValue = 0L, arraySize = Some(6))
        .select(F.col("query_id"), F.posexplode(F.col("items")))
        .toDF("query_id", "pos", "token")
        .withColumn("pos", F.col("pos").cast("long"))
    }),
    "streaming_sequence_generate" -> ((s, d) => {
      // stateful streaming twin of sequence_generate (bounded
      // O(users x lenWindow) state), run batch-mode on the same daily
      // frame — shares the batch gate's oracle recipe
      import s.implicits._
      val i = Tables.interactions(s, d).filter(F.col("query_id") < 3000)
      val daily = i.groupBy(F.col("query_id"), F.col("timestamp"))
        .agg(F.min("item_id").as("item_id"))
      val events = daily.select(F.col("query_id").as("user_id"),
          F.unix_timestamp(F.col("timestamp")).as("ts_us"),
          F.col("item_id"))
        .as[graft.streaming.StreamingOps.SeqEvent]
      graft.streaming.StreamingOps.streamingSequenceGenerate(events, 5)
        .toDF()
        .select(F.col("user_id").as("query_id"), F.col("label_item_id"),
          F.size(F.col("prefix")).as("list_len"),
          F.posexplode(F.col("prefix")))
        .toDF("query_id", "label_item_id", "list_len", "pos", "token")
        .withColumn("pos", F.col("pos").cast("long"))
    }),
    "sequence_encode" -> ((s, d) => {
      // array-column encoding, order-preserving (label_encoder.py:568-792)
      val i = Tables.interactions(s, d)
      val seqs = i.groupBy("session_id").agg(
        F.transform(F.sort_array(F.collect_list(F.struct(
          F.col("item_id").as("i")))), s0 => s0.getField("i")).as("items"))
      val enc = LabelEncoder.fit(i, "item_id")
      SequenceEncoder.transform(enc, seqs, "items")
        .select(F.col("session_id"), F.posexplode(F.col("items")))
        .toDF("session_id", "pos", "code")
        .withColumn("pos", F.col("pos").cast("long"))
    }),
    "sequence_pad" -> ((s, d) => {
      // padded-sequence tokenizer (sequence_tokenizer.py:189-246 +
      // torch_sequential_dataset.py:91-137): last-8 truncation, left pad 0;
      // posexploded so the array semantics are fully hash-checkable
      val i = Tables.interactions(s, d)
      graft.preprocessing.SequenceTokenizer.pad(i, maxLen = 8)
        .select(F.col("query_id"), F.col("length"),
          F.posexplode(F.col("items")))
        .toDF("query_id", "length", "pos", "token")
        .withColumn("pos", F.col("pos").cast("long"))
    }),
    "dataset_encode" -> ((s, d) => {
      // dataset-level encoding (dataset_label_encoder.py:20-200): the
      // query encoder fits over interactions ∪ the feature table (cold
      // customers with profiles get codes too), the item encoder over
      // interactions; both applied to the interaction log
      val i = Tables.interactions(s, d)
      val qf = Tables.customer(s, d)
        .select(F.col("c_custkey").as("query_id"), F.col("c_acctbal"))
      val ds = graft.core.RsDataset(i, queryFeatures = Some(qf))
      val out = new graft.preprocessing.DatasetLabelEncoder().fitTransform(ds)
      out.interactions.select("query_id", "item_id", "rating")
    }),
    "merge_subsets" -> ((s, d) => {
      // unionByName + duplicate policy (preprocessing/utils.py:100-180)
      val e = Tables.events(s, d)
      val a = e.filter(F.col("value") >= 100)
      val b = e.filter(F.col("event_type") === "purchase")
      MergeSubsets.merge(Seq(a, b), MergeSubsets.DropDuplicates, Seq("event_id"))
        .select("event_id", "user_id", "event_type")
    }),
    "filter_quantile_items" -> ((s, d) => {
      // percentile_approx at accuracy 10000 is exact here and coincides
      // with DuckDB quantile_disc (probed) — fully oracle-checked
      QuantileItemsFilter(alphaQuantile = 0.95, itemsProportion = 0.5,
          tieCols = Seq("rating", "session_id"))
        .transform(Tables.interactions(s, d))
        .select("query_id", "item_id", "rating")
    }),
    "filter_quantile_items_exact" -> ((s, d) => {
      // the EXACT interpolated-percentile mode (r13) — byte-for-byte the
      // reference's pandas items_count.quantile(alpha) threshold
      // (filters.py:978); oracle mirrors with quantile_cont. Closes the
      // documented approx-vs-exact deviation of filter_quantile_items.
      QuantileItemsFilter(alphaQuantile = 0.95, itemsProportion = 0.5,
          tieCols = Seq("rating", "session_id"), exact = true)
        .transform(Tables.interactions(s, d))
        .select("query_id", "item_id", "rating")
    }),
    "model_linucb" -> ((s, d) => {
      // distributed sufficient stats; d=2 → closed-form adjugate inverse,
      // mirrored term-by-term in the oracle; round-9 pre-rank, 6 on output
      val i = Tables.interactions(s, d)
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val qf = Tables.customer(s, d).select(
        F.col("c_custkey").as("query_id"),
        (F.col("c_acctbal") / 1000).as("f1"),
        F.col("c_nationkey").cast("double").as("f2"))
      new models.LinUCB(alpha = 0.5).fit(i, qf).predict(qf, k = 3)
        .select(F.col("query_id"), F.col("item_id"),
          F.round(F.col("rating"), 6).as("rating"))
    }),
    "model_quality_floor" -> ((s, d) => {
      // gate-visible learning certificate for the solver-backed models
      // whose outputs have no SQL oracle: NDCG@5 on a shared time split,
      // floor = half the PopRec baseline (VERDICT r02 item 2; the spec in
      // Tier2Spec asserts `passed` for every row)
      import graft.metrics.{Descriptor, Metrics}
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val gt = test.select("query_id", "item_id").distinct()
      def ndcg(recs: DataFrame): Double =
        Metrics.compute(recs, gt, Seq("ndcg"), Seq(5), Descriptor.Mean)
          .first().getDouble(0)
      val base = ndcg(new models.PopRec().fitPredict(train, 5))
      val qf = Tables.customer(s, d).select(
        F.col("c_custkey").as("query_id"),
        F.col("c_acctbal"), F.col("c_nationkey").cast("double").as("c_nat"))
      val scores = Seq(
        "als" -> ndcg(new models.ALSRec(rank = 8, maxIter = 5).fitPredict(train, 5)),
        "word2vec" -> ndcg(new models.Word2VecRec(vectorSize = 16,
          numPartitions = Some(32)).fitPredict(train, 5)),
        "cluster" -> ndcg(new models.ClusterRec(nClusters = 5).fit(train, qf).predict(train, 5)),
      )
      val floor = base * 0.5
      import s.implicits._
      // (model, passed) only: the NDCG values are MLlib-solver internals no
      // SQL oracle can reproduce, but the PASS/FAIL verdict is exactly what
      // the driver gate should enforce (r8: full oracle asserts all-TRUE,
      // same threshold-gate pattern as the ANN recall gates); the numeric
      // scores remain spec-visible via Tier2Spec
      scores.map { case (m, v) => (m, v >= floor) }.toDF("model", "passed")
    }),
    "search_space_new_families" -> ((s, d) => {
      // hyper-parameter DRAW + DECODE law for the round-12/13 model
      // families (EASE λ, SlopeOne cap, BiasModel damping, ContentKNN
      // neighbours/shrink, Markov2 floor, P3alpha β/crop): 3 budgeted
      // md5 draws per family through RandomSearch.draws, decoded by each
      // model's withParams (round for integers, exp for ln-space λ) —
      // the oracle replays the identical draw chain and decode in SQL,
      // pinning borders, seed recipe, and decode law cross-engine.
      import s.implicits._
      val fams = Seq[(String, models.BaseRecommender)](
        ("slope_one", new models.SlopeOne()),
        ("bias", new models.BiasModel()),
        ("content_knn", new models.ContentKNN()),
        ("markov2", new models.Markov2Rec()),
        ("ease", new models.Ease()),
        ("p3alpha", new models.P3AlphaRec()))
      val rows = fams.flatMap { case (name, m) =>
        graft.metrics.RandomSearch.draws(m.searchBorders, 3, 7L)
          .zipWithIndex.flatMap { case (draw, t) =>
            val decoded: Seq[(String, Double)] = m.withParams(draw) match {
              case x: models.SlopeOne =>
                Seq("max_user_history" -> x.maxUserHistory.toDouble)
              case x: models.BiasModel =>
                Seq("lambda_item" -> x.lambdaItem.toDouble,
                  "lambda_user" -> x.lambdaUser.toDouble)
              case x: models.ContentKNN =>
                Seq("num_neighbours" -> x.numNeighbours.toDouble,
                  "shrink" -> x.shrink)
              case x: models.Markov2Rec =>
                Seq("min_count" -> x.minCount.toDouble)
              case x: models.Ease => Seq("lambda" -> x.lambda)
              case x: models.P3AlphaRec =>
                Seq("beta" -> x.beta.toDouble,
                  "top_k_neighbours" -> x.topKNeighbours.toDouble)
              case other => throw new IllegalStateException(
                s"unmapped family ${other.getClass.getSimpleName}")
            }
            decoded.map { case (p, v) => (name, t.toLong, p, v) }
          }
      }
      rows.toDF("family", "trial", "param", "value")
        .select(F.col("family"), F.col("trial"), F.col("param"),
          F.round(F.col("value"), 6).as("value"))
    }),
    "grid_search" -> ((s, d) => {
      // deterministic hyper-parameter grid (Optuna replacement,
      // optimization/optuna_mixin.py:17-244): Wilson z ∈ {1.0, 1.96}
      // scored by NDCG@5 on the shared time split
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val trials = graft.metrics.GridSearch.search(
        space = Map("z" -> Seq(1.0, 1.96)),
        build = p => new models.Wilson(z = p("z")),
        train = train, test = test, metric = "ndcg", k = 5)
      import s.implicits._
      trials.map(t => (t.params("z"), r6(t.score))).toDF("z", "ndcg_at_5")
    }),
    "grid_search_budget" -> ((s, d) => {
      // budgeted random search (the reference's optimize(budget=…,
      // param_borders=…), optuna_mixin.py:167-244; TPE → seeded md5 draws):
      // Wilson z ~ U[1.0, 2.0], budget 3, NDCG@5 on the shared time split.
      // Rows emit in TRIAL order — the oracle recomputes the identical
      // draw sequence from md5('7:t:z') inside SQL.
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val trials = graft.metrics.RandomSearch.search(
        borders = Map("z" -> (1.0, 2.0)),
        build = p => new models.Wilson(z = p("z")),
        train = train, test = test, metric = "ndcg", k = 5,
        budget = 3, seed = 7,
        // trials are independent; 3 concurrent fits fill the idle
        // scheduler slots a single sequential Wilson fit leaves —
        // wall-clock only, values and order unchanged (spec'd)
        parallelism = 3)
      import s.implicits._
      trials.zipWithIndex.map { case (t, idx) =>
        (idx.toLong, r6(t.params("z")), r6(t.score))
      }.toDF("trial", "z", "ndcg_at_5")
    }),
    "tpe_search_budget" -> ((s, d) => {
      // ADAPTIVE sampler (round 11; the reference's Optuna TPE,
      // optuna_mixin.py:17-244): deterministic TPE-lite — seeded md5
      // startup + candidate draws, Cauchy-kernel good/bad density ratio,
      // shrinking exploit radius. The objective has a DATA-DERIVED planted
      // optimum (zstar from the interactions rating mean — integral
      // doubles, so the mean is bit-exact cross-engine) and is rational
      // (no transcendentals), so the oracle replays every trial of the
      // sequential search bit-for-bit: draws, density argmax, AND scores.
      val i = Tables.interactions(s, d)
      val agg = i.agg(F.sum("rating"), F.count(F.lit(1))).head
      val zstar = 1.0 + agg.getDouble(0) / agg.getLong(1) / 100.0
      val trials = graft.metrics.RandomSearch.Tpe.searchObjective(
        borders = Map("z" -> (1.0, 2.0)),
        objective = p => {
          val dz = p("z") - zstar; 1.0 / (1.0 + 8.0 * dz * dz)
        },
        budget = 5, seed = 7)
      import s.implicits._
      trials.zipWithIndex.map { case (t, idx) =>
        (idx.toLong, r6(t.params("z")), r6(t.score))
      }.toDF("trial", "z", "score")
    }),
    "tpe_search_2d" -> ((s, d) => {
      // factorized adaptive proposals (round 11): TWO params with
      // different borders, the same sequential TPE-lite — per-dimension
      // candidate draws and density argmax, shared good/bad ranking.
      // Both planted optima are data-derived exact rationals; the oracle
      // unrolls both dimensions of every adaptive trial.
      val i = Tables.interactions(s, d)
      val agg = i.agg(F.sum("rating"), F.count(F.lit(1)),
        F.count_if(F.col("rating") > 25)).head
      val zstar = 1.0 + agg.getDouble(0) / agg.getLong(1) / 100.0
      val ystar = (4L * agg.getLong(2)).toDouble / agg.getLong(1)
      val trials = graft.metrics.RandomSearch.Tpe.searchObjective(
        borders = Map("z" -> (1.0, 2.0), "y" -> (0.0, 4.0)),
        objective = p => {
          val dz = p("z") - zstar; val dy = p("y") - ystar
          1.0 / (1.0 + 8.0 * dz * dz + 2.0 * dy * dy)
        },
        budget = 5, seed = 7)
      import s.implicits._
      trials.zipWithIndex.map { case (t, idx) =>
        (idx.toLong, r6(t.params("z")), r6(t.params("y")), r6(t.score))
      }.toDF("trial", "z", "y", "score")
    }),
    "experiment_table" -> ((s, d) => {
      // models × metrics table (experiment.py:7-200); metric means rounded
      // to 6dp for cross-engine float parity
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val t = new graft.metrics.Experiment(Seq("hit_rate", "ndcg"), Seq(5))
        .run(Map(
          "pop_rec" -> new models.PopRec(),
          "wilson" -> new models.Wilson()), // binary-ish: quantity ratings
          train.withColumn("rating", (F.col("rating") > 25).cast("double")),
          test, k = 5)
        .table(s)
      t.select(F.col("model"),
        F.round(F.col("hit_rate_at_5"), 6).as("hit_rate_at_5"),
        F.round(F.col("ndcg_at_5"), 6).as("ndcg_at_5"))
    }),

    // ---- §2.11 metrics ----------------------------------------------------
    "metrics_ranking" -> ((s, d) => {
      // end-to-end: time split → PopRec on train → 7 ranking metrics @5
      // against test ground truth, mean over users (base_metric.py:338-343)
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val recs = new models.PopRec().fitPredict(train, 5)
      val gt = test.select("query_id", "item_id").distinct()
      val out = graft.metrics.Metrics.compute(
        recs, gt, graft.metrics.Metrics.RankingMetrics, Seq(5))
      out.select(out.columns.toIndexedSeq.map(c => F.round(F.col(c), 6).as(c)): _*)
    }),
    "metrics_ncis" -> ((s, d) => {
      // NCIS precision@5 with 1/position propensity weights over the
      // PopRec time-split recs (kernel semantics traced to the reference's
      // ScalaPySparkUDFs.scala:142-158); mean over ground-truth users
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val recs = new models.PopRec().fitPredict(train, 5)
      // the ONE shared enrichment every metric gate rides on, plus the
      // propensity-weight column NCIS needs
      val joined = graft.metrics.Metrics.enrich(recs,
          test.select("query_id", "item_id").distinct())
        .withColumn("w", F.when(F.size(F.col("pred")) > 0,
          F.transform(F.sequence(F.lit(1), F.size(F.col("pred"))),
            i => F.lit(1.0) / i)).otherwise(F.array().cast("array<double>")))
      joined.select(graft.metrics.Kernels.ncisPrecision(
          F.col("pred"), F.col("w"), F.col("gt"), 5).as("v"))
        .agg(F.round(F.avg("v"), 6).as("ncis_precision_at_5"))
    }),
    "ope_ncis_replay" -> ((s, d) => {
      // end-to-end OPE (round 11; obp_wrapper/replay_offline.py +
      // examples/obp_connector): the test window becomes the logged
      // bandit replay, behavior policy = train popularity (exact integral
      // ratios), target policy = sampling-mode UCB's predictProba at
      // position 0 — the full predict_proba → importance-weights → NCIS
      // composition, one row of IPS/NCIS values against the oracle's
      // replay of the same estimators.
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val logged = test.select(F.col("query_id"), F.col("item_id"),
        (F.col("rating") > 25).cast("double").as("reward"))
      val m = new models.UCB().fit(train)
      m.sample = true
      // π_e evaluated AT the logged actions (predictProbaPairs): one
      // broadcast item-key join — the dense query×catalog proba tensor
      // (correct for OBP export, quadratic here) never materializes
      val proba = m.predictProbaPairs(logged.select("query_id", "item_id"))
      val nTrain = train.count()
      val behavior = train.groupBy("item_id")
        .agg((F.count(F.lit(1)).cast("double") / nTrain).as("propensity"))
      graft.metrics.Ope.estimate(logged, proba, behavior, clip = 10.0)
    }),
    "model_ulinucb" -> ((s, d) => {
      // ULinUCB full oracle (u_lin_ucb.py:11-117): d=2 INTEGER-valued
      // features and integer rewards make every Gram/response/prefix sum
      // float-exact, so the adjugate ridge + UCB arithmetic (mirrored term
      // by term in SQL) reproduces bit-identically; round-9 + item-asc
      // ties pin the top-3.
      val i = Tables.interactions(s, d)
        .filter(F.col("item_id") < 300 && F.col("query_id") < 500)
      val feats = i.select("item_id").distinct().select(F.col("item_id"),
        (F.col("item_id") % 7).cast("double").as("f1"),
        (F.col("item_id") % 5 + 1).cast("double").as("f2"))
      val m = new models.ULinUCB(alpha = -2.0).fit(i, feats)
      m.predict(i, k = 3)
    }),
    "model_hierarchical" -> ((s, d) => {
      // HierarchicalRecommender (HCB) certificate
      // (hierarchical_recommender.py:13-280): KMeans tree internals are
      // MLlib, so the gate pins the CONTRACT — nonempty, ≤k per user,
      // seen-filtered, and the defining routing property: every user's
      // recs live inside ONE root cluster.
      val i = Tables.interactions(s, d)
        .filter(F.col("item_id") < 400 && F.col("query_id") < 600)
      val feats = i.select("item_id").distinct().select(F.col("item_id"),
        (F.col("item_id") % 11).cast("double").as("f1"),
        (F.col("item_id") % 4).cast("double").as("f2"))
      val m = new models.HierarchicalRecommender(depth = 2, nClusters = 3)
        .fit(i, feats)
      val recs = m.predict(i, k = 3).cache()
      val rootAssign = m.rootAssignment
      val perUserClusters = recs.join(rootAssign, Seq("item_id"))
        .groupBy("query_id").agg(F.countDistinct("_cl").as("_nc"))
      val seenHit = recs.join(i.select("query_id", "item_id").distinct(),
        Seq("query_id", "item_id"), "left_semi").count()
      recs.agg((F.count(F.lit(1)) > 0L).as("nonempty"))
        .crossJoin(recs.groupBy("query_id").agg(F.count(F.lit(1)).as("_n"))
          .agg(F.bool_and(F.col("_n") <= 3L).as("per_user_le_k")))
        .crossJoin(perUserClusters
          .agg(F.bool_and(F.col("_nc") === 1L).as("single_root_cluster")))
        .withColumn("seen_filtered", F.lit(seenHit == 0L))
    }),
    "model_hierarchical_leaf" -> ((s, d) => {
      // degenerate HCB tree (nClusters=1): KMeans at k=1 is the mean —
      // deterministic — so routing is trivial and the reached leaf is
      // exactly a seen-filtered ULinUCB over the full slice. This makes
      // the whole tree walk + leaf plumbing VALUE-EXACT against the
      // ULinUCB prefix-ridge oracle (the non-degenerate routing keeps the
      // model_hierarchical certificate).
      val i = Tables.interactions(s, d)
        .filter(F.col("item_id") < 300 && F.col("query_id") < 500)
      val feats = i.select("item_id").distinct().select(F.col("item_id"),
        (F.col("item_id") % 7).cast("double").as("f1"),
        (F.col("item_id") % 5 + 1).cast("double").as("f2"))
      new models.HierarchicalRecommender(depth = 2, nClusters = 1,
          alpha = -2.0)
        .fit(i, feats).predict(i, k = 3)
    }),
    "two_stages_skeleton" -> ((s, d) => {
      // TwoStagesScenario relational skeleton (round 12;
      // two_stages_scenario.py:112-760), full-oracle: deterministic 50/50
      // per-user ratio split (total order via the session+item tie, the
      // split_ratio_repaired discipline) → PopRec candidates k=10 with the
      // seen-filter replay (predict k+maxPositives, anti-join, top-k) →
      // target labeling against the held-out half → first-level relevance
      // + history-count enrichment. GBT internals are gated separately
      // (two_stages certificate).
      val log = Tables.interactions(s, d)
        .select("query_id", "item_id", "timestamp", "session_id").distinct()
        .withColumn("_tie", F.struct(F.col("session_id"), F.col("item_id")))
        .withColumn("rating", F.lit(1.0))
      val sc = new scenarios.TwoStagesScenario(
        Seq(new models.PopRec()), fallbackModel = None, numNegatives = 10,
        trainSplitter = RatioSplitter(0.5, queryCol = "query_id",
          tsCol = "timestamp", tieCol = Some("_tie")))
      val (labeled, flTrain) = sc.secondLevelTrain(log)
      sc.enrich(labeled, flTrain, None, None)
        .select(F.col("query_id"), F.col("item_id"), F.col("target"),
          F.round(F.col("rel_0"), 6).as("rel6"),
          F.col("u_cnt").cast("long").as("u_cnt"),
          F.col("i_cnt").cast("long").as("i_cnt"))
    }),
    "two_stages_multi" -> ((s, d) => {
      // MULTI-model TwoStages skeleton (two_stages_scenario.py:344-408
      // supports several first-level models with per-model relevance
      // features): TWO first-level models — ItemKNN (candidate head) +
      // PopRec — with rel_0 AND rel_1 both populated by the enrichment
      // join. Full oracle: the ItemKNN candidate chain (predict
      // k+maxPositives with seen-filter off, positives anti-join, top-k),
      // target labeling, and both relevance columns replayed in SQL.
      val log = Tables.interactions(s, d)
        .select("query_id", "item_id", "timestamp", "session_id").distinct()
        .withColumn("_tie", F.struct(F.col("session_id"), F.col("item_id")))
        .withColumn("rating", F.lit(1.0))
      val sc = new scenarios.TwoStagesScenario(
        Seq(new models.ItemKNN(numNeighbours = 5), new models.PopRec()),
        fallbackModel = None, numNegatives = 10,
        trainSplitter = RatioSplitter(0.5, queryCol = "query_id",
          tsCol = "timestamp", tieCol = Some("_tie")))
      val (labeled, flTrain) = sc.secondLevelTrain(log)
      sc.enrich(labeled, flTrain, None, None)
        .select(F.col("query_id"), F.col("item_id"), F.col("target"),
          F.round(F.col("rel_0"), 6).as("rel0_6"),
          F.round(F.col("rel_1"), 6).as("rel1_6"))
    }),
    "two_stages" -> ((s, d) => {
      // full two-stage path (candidates+fallback → enrichment → GBT
      // rerank): certificate gate — MLlib GBT internals are rows-only, the
      // contract columns assert the rerank output shape (≤k per user,
      // probability-bounded ratings, nonempty coverage) plus a train-AUC
      // floor a broken feature pipeline cannot clear.
      // one-SIXTH user scope (query_id % 6 == 0): the k+maxPositives
      // candidate predict is the cost driver and scales with |users| x
      // max-history — the certificate is scope-invariant, and the bench
      // row must fit the driver budget
      val log = Tables.interactions(s, d).filter(F.col("query_id") % 6 === 0)
      val sc = new scenarios.TwoStagesScenario(
        Seq(new models.ItemKNN(numNeighbours = 10)),
        fallbackModel = Some(new models.PopRec()),
        numNegatives = 20, gbtMaxIter = 10)
      val recs = sc.fitPredict(log, k = 5).cache()
      val perUser = recs.groupBy("query_id").agg(F.count(F.lit(1)).as("_n"))
      val nUsers = log.select("query_id").distinct().count()
      recs.agg(
        (F.count(F.lit(1)) > 0L).as("nonempty"),
        F.bool_and(F.col("rating").between(0.0, 1.0)).as("prob_bounded"))
        .crossJoin(perUser.agg(F.bool_and(F.col("_n") <= 5L).as("per_user_le_k"),
          (F.count(F.lit(1)) <= F.lit(nUsers)).as("user_coverage_ok")))
        .crossJoin(F.broadcast(sc.trainAucFrame))
    }),
    "ope_dr" -> ((s, d) => {
      // Direct Method + Doubly Robust (round 12) — completes the standard
      // OBP estimator trio (replay_offline.py:62-210). Same replay recipe
      // as ope_ncis_replay plus: reward model r̂(a) = train mean reward per
      // item, and the DM expectation over the policy's FULL action
      // distribution (predictProba position 0 on the logged queries —
      // bounded |test queries| × |catalog|, the dense tensor the DM term
      // genuinely needs; the per-round π_e stays on the cheap pairs path).
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val logged = test.select(F.col("query_id"), F.col("item_id"),
        (F.col("rating") > 25).cast("double").as("reward"))
      val m = new models.UCB().fit(train)
      m.sample = true
      val proba = m.predictProbaPairs(logged.select("query_id", "item_id"))
      val actionDist = m.predictProba(train, k = 1,
        queries = Some(logged.select("query_id").distinct()),
        filterSeen = false)
        .filter(F.col("position") === 0L)
        .select("query_id", "item_id", "prob")
      val nTrain = train.count()
      val behavior = train.groupBy("item_id")
        .agg((F.count(F.lit(1)).cast("double") / nTrain).as("propensity"))
      val rhat = train.groupBy("item_id").agg(F.avg("rating").as("r_hat"))
      graft.metrics.Ope.estimateDr(logged, proba, behavior, actionDist,
        rhat, clip = 10.0)
    }),
    "ope_incremental" -> ((s, d) => {
      // mergeable OPE state (round 11): the logged replay splits into two
      // "days" by query residue, each summarized independently, merged,
      // finalized — the oracle is the DIRECT estimate over the union, so
      // the law value(merge(summary(A), summary(B))) ≡ estimate(A ∪ B) is
      // what the gate checks (the aggSummary/aggMerge incremental-
      // maintenance pattern applied to policy-value monitoring).
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
        .withColumn("rating", (F.col("rating") > 25).cast("double"))
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val logged = test.select(F.col("query_id"), F.col("item_id"),
        (F.col("rating") > 25).cast("double").as("reward"))
      val m = new models.UCB().fit(train)
      m.sample = true
      val proba = m.predictProbaPairs(logged.select("query_id", "item_id"))
      val nTrain = train.count()
      val behavior = train.groupBy("item_id")
        .agg((F.count(F.lit(1)).cast("double") / nTrain).as("propensity"))
      val day1 = logged.filter(F.pmod(F.col("query_id"), F.lit(2)) === 0)
      val day2 = logged.filter(F.pmod(F.col("query_id"), F.lit(2)) === 1)
      graft.metrics.Ope.value(graft.metrics.Ope.merge(
        graft.metrics.Ope.summary(day1, proba, behavior, clip = 10.0),
        graft.metrics.Ope.summary(day2, proba, behavior, clip = 10.0)))
    }),
    "metrics_multi_k" -> ((s, d) => {
      // one enrichment, every metric × every k in one pass
      // (offline_metrics.py:12-482): hit_rate and ndcg at k ∈ {1, 5}
      import graft.metrics.Metrics
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val recs = new models.PopRec().fitPredict(train, 5)
      val gt = test.select("query_id", "item_id").distinct()
      val out = Metrics.compute(recs, gt, Seq("hit_rate", "ndcg"), Seq(1, 5))
      out.select(out.columns.toIndexedSeq.map(c => F.round(F.col(c), 6).as(c)): _*)
    }),
    "metrics_sampled_ranking" -> ((s, d) => {
      // sampled-negatives eval protocol (engine extra; Koren & Rendle
      // KDD 2020): per held-out positive, rank among 99 md5-drawn unseen
      // negatives by train popularity — HR@10 / MRR / mean rank in exact
      // integer ppm, one row, full oracle
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val gt = marked.filter(F.col("is_test"))
        .select("query_id", "item_id").distinct()
      val scores = graft.metrics.SampledEval.itemPopularity(train)
      graft.metrics.SampledEval.sampledRanking(gt, train, scores,
        nNeg = 99, k = 10, seed = 99L)
    }),
    "metrics_sampled_ranking_pop" -> ((s, d) => {
      // the popularity-sampled variant of the protocol (negatives drawn
      // ∝ train popularity via the portable E–S keys) — the draw Koren &
      // Rendle recommend when production exposure is popularity-skewed
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val gt = marked.filter(F.col("is_test"))
        .select("query_id", "item_id").distinct()
      val scores = graft.metrics.SampledEval.itemPopularity(train)
      graft.metrics.SampledEval.sampledRanking(gt, train, scores,
        nNeg = 99, k = 10, seed = 99L, negSampling = "popularity")
    }),
    "metrics_calibration_kl" -> ((s, d) => {
      // calibration divergence (engine extra; Steck RecSys 2018): mean and
      // max per-user KL(history-brand dist ‖ smoothed rec-brand dist) of
      // the PopRec top-5 — the "does the list mirror the user's taste
      // profile" audit; per-category terms floor-ppm quantized before the
      // per-user sum so the whole row hash-compares
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val recs = new models.PopRec().fitPredict(train, 5)
      val cats = Tables.part(s, d).select(
        F.col("p_partkey").as("item_id"), F.col("p_brand").as("category"))
      graft.metrics.Metrics.calibrationDivergence(recs, train, cats)
    }),
    "metrics_popularity_bias" -> ((s, d) => {
      // long-tail exposure audit (engine extra; Abdollahpouri et al.
      // RecSys 2017): ARP / APLT of the PopRec top-5 against train
      // popularity — the maximally popularity-biased recommender, so the
      // numbers pin the metric's worst case; exact integer ppm
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val recs = new models.PopRec().fitPredict(train, 5)
      graft.metrics.Metrics.popularityBias(recs, train)
    }),
    "metrics_descriptors" -> ((s, d) => {
      // Mean / Median / CI descriptors over per-user metric values
      // (descriptors.py:35-130) — one row per descriptor
      import graft.metrics.{Descriptor, Metrics}
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val recs = new models.PopRec().fitPredict(train, 5)
      val gt = test.select("query_id", "item_id").distinct()
      def row(name: String, dsc: Descriptor): DataFrame = {
        val o = Metrics.compute(recs, gt, Seq("hit_rate", "ndcg"), Seq(5), dsc)
        o.select(F.lit(name).as("descriptor"),
          F.round(F.col("hit_rate_at_5"), 6).as("hit_rate_at_5"),
          F.round(F.col("ndcg_at_5"), 6).as("ndcg_at_5"))
      }
      row("mean", Descriptor.Mean)
        .unionByName(row("median", Descriptor.Median))
        .unionByName(row("ci", Descriptor.ConfidenceInterval(1.96)))
    }),
    "metrics_item_distribution" -> ((s, d) => {
      // popularity-bias diagnostic (utils/distributions.py:11-33): log
      // exposure vs top-k rec exposure per item, outer-joined, 0-filled
      val i = Tables.interactions(s, d)
      val recs = i.groupBy("query_id", "item_id")
        .agg(F.sum("rating").as("rating"))
      graft.metrics.Metrics.itemDistribution(i, recs, k = 3)
    }),
    "metrics_catalog" -> ((s, d) => {
      import graft.metrics.Metrics
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val m = new models.PopRec().fit(train)
      // cached: each catalog metric is its own aggregation job over the
      // same rec set — without the cache the predict plan runs 5×
      val recsSeen = m.predict(train, 5).cache()            // seen-filtered
      val recsAll = m.predict(train, 5, filterSeen = false).cache()
      val brands = Tables.part(s, d)
        .select(F.col("p_partkey").as("item_id"), F.col("p_brand").as("category"))
      val one = Metrics.coverage(recsSeen, train, 5)
        .crossJoin(Metrics.novelty(recsAll, train, 5))
        .crossJoin(Metrics.surprisal(recsSeen, train, 5))
        .crossJoin(Metrics.unexpectedness(recsSeen, recsAll, 5))
        .crossJoin(Metrics.categoricalDiversity(recsSeen, brands, 5))
      one.select(one.columns.toIndexedSeq.map(c => F.round(F.col(c), 6).as(c)): _*)
    }),

    // ---- training-data pipeline: text / dedup / ANN / multimodal ----------
    "text_stats" -> ((s, d) => {
      import graft.text.TextStats
      val t = F.col("text")
      val sw = TextStats.LangProfiles("en")
      Tables.documents(s, d).select(
        F.col("doc_id"),
        TextStats.tokenCount(t).as("n_tokens"),
        F.round(TextStats.meanTokenLength(t), 6).as("mean_token_len"),
        F.round(TextStats.stopwordRatio(t, sw), 6).as("stopword_ratio"),
        F.round(TextStats.qualityScore(t, sw), 6).as("quality"),
        TextStats.fingerprint(t).as("fingerprint"),
      )
    }),
    "text_corpus_report" -> ((s, d) => {
      // per-source audit (volume / dup pressure / PII incidence /
      // quality pass rate / language mix) over PII-spiked text — the
      // raw corpus has no PII, so every 4th doc gains an email
      val docs = Tables.documents(s, d)
      val spiked = docs.select(F.col("doc_id"), F.col("source"),
        F.col("lang"),
        F.when(F.col("doc_id") % 4 === 0,
          F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com")))
          .otherwise(F.col("text")).as("text"))
      graft.text.TextStats.corpusReport(spiked)
    }),
    "text_langid" -> ((s, d) => {
      // stopword-profile argmax — rows-only (struct-array argmax in SQL
      // is not worth mirroring)
      Tables.documents(s, d).select(F.col("doc_id"),
        graft.text.TextStats.langId(F.col("text")).as("lang_pred"))
    }),
    "text_rolling_hash" -> ((s, d) => {
      // Karp–Rabin fold over the portable token hash — the DuckDB twin
      // folds with list_reduce over a 0-prepended hash list
      Tables.documents(s, d).select(F.col("doc_id"),
        graft.text.TextStats.rollingHash(F.col("text"),
          tokenHash = t => graft.core.PortableHash.long(0, t)).as("content_hash"))
    }),
    "text_unigram_logprob" -> ((s, d) => {
      // CCNet-style unigram LM quality proxy (perplexity-filter analogue):
      // mean ln P(token) under the corpus' own unigram distribution
      graft.text.TextStats.unigramLogProb(
          Tables.documents(s, d), "doc_id", "text")
        .select(F.col("doc_id"), F.round(F.col("logprob"), 6).as("logprob"))
    }),
    "sketch_histogram" -> ((s, d) => {
      // equi-width histogram sketch over l_extendedprice: 256 integer
      // cells, one O(bins) shuffle; every cell reproducible in SQL from
      // the same (min, max, floor) recipe
      val li = Tables.lineitem(s, d)
        .select(F.col("l_extendedprice").cast("double").as("v"))
      val (lo, hi) = graft.core.Sketch.bounds(li, "v")
      graft.core.Sketch.histogramBins(li, "v", lo, hi, 256)
    }),
    "sketch_histogram_quantile" -> ((s, d) => {
      // interpolated quantile estimates from the histogram + a rank-error
      // certificate: |rank(est) − q| must stay within the heaviest bin's
      // mass (+1/n boundary-tie slack) — the sketch's accuracy contract,
      // checked against the raw data, not against itself
      import graft.core.Sketch
      val li = Tables.lineitem(s, d)
        .select(F.col("l_extendedprice").cast("double").as("v")).cache()
      val (lo, hi) = Sketch.bounds(li, "v")
      val hist = Sketch.histogramBins(li, "v", lo, hi, 256).cache()
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val est = Sketch.histogramQuantiles(hist, qs, lo, hi, 256)
      val stats = hist.crossJoin(F.broadcast(li.agg(
          F.count(F.lit(1)).cast("double").as("_n"))))
        .agg(F.max(F.col("counter").cast("double") / F.col("_n")).as("_maxmass"),
          F.first(F.col("_n")).as("_n"))
      est.crossJoin(F.broadcast(stats))
        .join(li, F.col("v") <= F.col("estimate"), "left")
        .groupBy("q", "estimate", "_maxmass", "_n")
        .agg(F.count(F.col("v")).cast("double").as("_below"))
        .select(F.col("q"), F.col("estimate"),
          (F.abs(F.col("_below") / F.col("_n") - F.col("q")) <=
            F.col("_maxmass") + F.lit(1.0) / F.col("_n")).as("rank_err_ok"))
    }),
    "text_bigram_logprob" -> ((s, d) => {
      // order-2 LM quality score (CCNet perplexity-filter analogue, one
      // step past the unigram proxy): mean ln P(w_i | w_{i-1}) with add-k
      // smoothing; per-doc mean is the position-ORDERED fold (float-sum
      // order), round-6 for ln libm drift
      graft.text.TextStats.bigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .select(F.col("doc_id"), F.round(F.col("logprob"), 6).as("logprob"))
    }),
    "model_item_knn_bm25" -> ((s, d) => {
      // bm25-weighted variant (knn.py:92-156). Weights are ppm-quantized
      // to exact BIGINTs inside the fit (ItemKNN.cells), so dots/norms are
      // exact integer sums and the cosine is one deterministic IEEE
      // expression — the ranking needs no round-before-rank, and the
      // output is floor-ppm (exact BIGINT), killing the round-boundary
      // class that cost 1 cell at sf0.1 for six rounds.
      new models.ItemKNN(numNeighbours = 5, weighting = Some("bm25"))
        .fit(Tables.interactions(s, d)).similarity
        .select(F.col("item_one"), F.col("item_two"),
          F.floor(F.col("similarity") * F.lit(1e6)).cast("long")
            .as("similarity_ppm"))
    }),
    "dedup_exact" -> ((s, d) => {
      graft.text.Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
    }),
    "dedup_minhash" -> ((s, d) => {
      import graft.text.Dedup
      val docs = Tables.documents(s, d)
      // signatures cached: candidates AND verification read the same sigs
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        numPerms = 16, hash = Dedup.portableHash).cache()
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        numPerms = 16, bandSize = 4, precomputedSigs = Some(sigs))
      Dedup.minhashSimilarity(cand, docs, "doc_id", "text",
        numPerms = 16, precomputedSigs = Some(sigs))
    }),
    "dedup_edit_distance" -> ((s, d) => {
      // last-mile exact verification of the LSH candidate slice:
      // Levenshtein on whitespace-normalized text (native codegen
      // expression, exists verbatim in DuckDB) — O(len²) per pair is why
      // it runs AFTER banding, never on all pairs
      import graft.text.Dedup
      val docs = Tables.documents(s, d)
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        numPerms = 16, bandSize = 4, hash = Dedup.portableHash)
      Dedup.editDistanceVerify(cand, docs, "doc_id", "text", threshold = 0.8)
        .select(F.col("id_a"), F.col("id_b"), F.col("edit_dist"),
          F.round(F.col("edit_sim"), 6).as("edit_sim"), F.col("is_dup"))
    }),
    "mixture_sample" -> ((s, d) => {
      // domain mixing: largest corpus at exactly 50/30/20 over three
      // sources, portable-hash pick; other sources dropped
      graft.text.Mixing.sampleToMixture(Tables.documents(s, d),
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), seed = 7)
        .select("doc_id", "source")
    }),
    "text_repetition" -> ((s, d) => {
      // Gopher-style within-doc repeated-token signal
      Tables.documents(s, d).select(F.col("doc_id"),
        F.round(graft.text.TextStats.repetitionRatio(F.col("text")), 6)
          .as("repetition"))
    }),
    "text_gopher_rules" -> ((s, d) => {
      // Gopher/MassiveWeb rule flags (Rae et al. §A1.1.2). The synthetic
      // corpus contains no '#'/'...'/'…'/newlines, so the text is spiked
      // deterministically by doc_id residue (mirrored in the oracle) to
      // exercise every rule: stopword presence (%3 — the corpus vocabulary
      // carries at most ONE Gopher stopword per doc, so keep would be
      // constant-false unspiked), hash symbols (%5), Unicode ellipsis
      // count (%13 — with %5∩%13 docs pinning the SEPARATE-ratio rule:
      // each symbol under 0.1 alone, over it summed), bullet lines (%7),
      // ellipsis-terminated lines in both forms (%11).
      val spiked = Tables.documents(s, d).select(F.col("doc_id"),
        F.concat(
          F.col("text"),
          F.when(F.col("doc_id") % 3 === 0, F.lit(" that have"))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 5 === 0, F.lit(" #a #b #c #d"))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 13 === 0, F.lit(" x… y… z… w…"))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 7 === 0,
            F.lit("\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j"))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 11 === 0,
            F.lit("\np...\nq…\nr...\ns…")).otherwise(F.lit("")),
        ).as("_t"))
      val g = graft.text.TextStats.gopherRules(F.col("_t"))
      spiked.select(F.col("doc_id"), g.as("_g")).select(
        F.col("doc_id"),
        F.col("_g.n_words").as("n_words"),
        F.col("_g.word_count_ok").as("word_count_ok"),
        F.col("_g.mean_word_len_ok").as("mean_word_len_ok"),
        F.col("_g.symbol_ok").as("symbol_ok"),
        F.col("_g.bullet_ok").as("bullet_ok"),
        F.col("_g.ellipsis_ok").as("ellipsis_ok"),
        F.col("_g.alpha_ok").as("alpha_ok"),
        F.col("_g.stopword_ok").as("stopword_ok"),
        F.col("_g.keep").as("keep"))
    }),
    "text_redact_pii" -> ((s, d) => {
      // PII scrub over text spiked with a synthetic email + number (the
      // raw corpus has none, so the spike exercises both patterns)
      val spiked = Tables.documents(s, d).select(F.col("doc_id"),
        F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id"),
          F.lit("@example.com or call "),
          (F.col("doc_id") + 1000000L) * 7).as("_t"))
      spiked.select(F.col("doc_id"),
        graft.text.TextStats.redactPii(F.col("_t")).as("clean"))
    }),
    "text_contamination" -> ((s, d) => {
      // decontamination pass: benchmark = docs with doc_id < 25
      val docs = Tables.documents(s, d)
      graft.text.Dedup.contamination(
        docs, docs.filter(F.col("doc_id") < 25), "doc_id", "text", n = 3)
        .select(F.col("doc_id"), F.col("n_ngrams"), F.col("n_contaminated"),
          F.round(F.col("contamination"), 6).as("contamination"))
    }),
    "dedup_cluster" -> ((s, d) => {
      // LSH candidate pairs → duplicate clusters via distributed min-label
      // propagation; the oracle's recursive CTE computes the same fixpoint
      import graft.text.Dedup
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        numPerms = 16, hash = Dedup.portableHash).cache()
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        numPerms = 16, bandSize = 4, precomputedSigs = Some(sigs))
      Dedup.connectedComponents(cand)
    }),
    "dedup_cluster_ls" -> ((s, d) => {
      // the SAME clusters via the O(log n)-round large-star/small-star
      // alternation — the 100 TB/high-diameter shape; oracle identical to
      // dedup_cluster (both compute the exact component-min fixpoint)
      import graft.text.Dedup
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        numPerms = 16, hash = Dedup.portableHash).cache()
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        numPerms = 16, bandSize = 4, precomputedSigs = Some(sigs))
      Dedup.connectedComponentsLS(cand)
    }),
    "dedup_lines" -> ((s, d) => {
      // CCNet line-level boilerplate removal. Corpus docs are single-line,
      // so recurring boilerplate is spiked by doc_id residue (mirrored in
      // the oracle): the %2 and %3 lines recur corpus-wide → dropped; the
      // %5 tail embeds doc_id → per-doc unique, kept; line 1 (the doc
      // text) is unique per doc → kept.
      val spiked = Tables.documents(s, d).select(F.col("doc_id"),
        F.concat(F.col("text"),
          F.when(F.col("doc_id") % 2 === 0,
            F.lit("\ncookie notice accept all")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 3 === 0,
            F.lit("\nall rights reserved")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 5 === 0,
            F.concat(F.lit("\nunique tail "), F.col("doc_id")))
            .otherwise(F.lit(""))).as("_t"))
      graft.text.Dedup.dedupLines(spiked, "doc_id", "_t", minDocs = 2)
    }),
    "sketch_cms" -> ((s, d) => {
      // deterministic Count-Min sketch counters over the interaction item
      // stream — portable hashes, so DuckDB rebuilds every cell exactly
      graft.core.Sketch.cmsCounters(
        Tables.interactions(s, d).select("item_id"), "item_id",
        depth = 4, width = 64)
        .select(F.col("row").cast("long").as("row"), F.col("bucket"),
          F.col("counter"))
    }),
    "sketch_cms_estimate" -> ((s, d) => {
      // CMS point estimates vs exact counts for the item_id < 100 key set,
      // with the never-under guarantee surfaced as a checked column
      val inter = Tables.interactions(s, d)
      val counters = graft.core.Sketch.cmsCounters(
        inter.select("item_id"), "item_id", depth = 4, width = 64)
      val keys = inter.filter(F.col("item_id") < 100)
        .select("item_id").distinct()
      val exact = inter.filter(F.col("item_id") < 100)
        .groupBy("item_id").agg(F.count(F.lit(1)).as("exact_count"))
      graft.core.Sketch.cmsEstimate(counters, keys, "item_id",
          depth = 4, width = 64)
        .join(exact, Seq("item_id"))
        .select(F.col("item_id"), F.col("estimate"), F.col("exact_count"),
          (F.col("estimate") >= F.col("exact_count")).as("never_under"))
    }),
    "sketch_hll" -> ((s, d) => {
      // dense HyperLogLog register file over the interaction item stream —
      // exact integer semantics (bin()-length ρ), every cell oracle-checked
      graft.core.Sketch.hllRegisters(
        Tables.interactions(s, d).select("item_id"), "item_id", p = 8)
    }),
    "sketch_hll_estimate" -> ((s, d) => {
      // HLL cardinality vs exact distinct, thresholded like the ANN recall
      // gates: the oracle computes the exact count and asserts the bound.
      // p=10 (σ=3.25%) so the 10% bound is a 3σ contract; the p=8
      // register-file gate above measured an unlucky-but-in-spec 1.4σ
      // draw (8.9%) on this corpus
      val inter = Tables.interactions(s, d)
      val est = graft.core.Sketch.hllEstimate(
        graft.core.Sketch.hllRegisters(inter.select("item_id"), "item_id", 10), 10)
      val exact = inter.agg(F.countDistinct("item_id").as("n_exact"))
      est.crossJoin(exact).select(F.col("n_exact"),
        (F.abs(F.col("estimate") - F.col("n_exact")) / F.col("n_exact")
          <= 0.10).as("within_10pct"))
    }),
    "dedup_substring" -> ((s, d) => {
      // Lee et al. exact-substring dedup signal: 8-token window rolling
      // hashes grouped across docs, portable token hash so DuckDB
      // rebuilds every window chain
      graft.text.Dedup.substringDupStats(
        Tables.documents(s, d), "doc_id", "text", k = 8,
        tokenHash = graft.text.Dedup.portableHash(0, _))
    }),
    "join_asof" -> ((s, d) => {
      // backward as-of join: each click picks the user's most recent view
      // at-or-before it (point-in-time feature lookup). One keyed
      // shuffle, zero pair blowup (Ops.asofJoin); DuckDB runs its NATIVE
      // ASOF LEFT JOIN as the oracle — cross-engine operator semantics.
      val ev = Tables.events(s, d)
      val clicks = ev.filter(F.col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(F.col("event_type") === "view")
        .groupBy("user_id", "ts").agg(
          F.max("event_id").as("view_id"),
          F.max_by(F.col("value"), F.col("event_id")).as("view_value"))
      graft.core.Ops.asofJoin(clicks, views, "user_id", "ts", "ts",
          Seq("view_id", "view_value"))
        .select(F.col("event_id"), F.unix_millis(F.col("ts")).as("ts_ms"),
          F.col("asof_view_id"), F.col("asof_view_value"))
    }),
    "join_range" -> ((s, d) => {
      // range join: clicks into the [first, last] span of the user's view
      // sessions (30-min gap). Binned hash-equi join (Ops.rangeJoin) vs
      // DuckDB's plain BETWEEN range join as the oracle. Sessions don't
      // overlap, so each click matches at most one interval.
      val ev = Tables.events(s, d)
      val clicks = ev.filter(F.col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val vw = Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc, F.col("event_id").asc)
      val sessions = ev.filter(F.col("event_type") === "view")
        .select("user_id", "ts", "event_id")
        .withColumn("_prev", F.lag("ts", 1).over(vw))
        .withColumn("_new", F.when(F.col("_prev").isNull ||
          F.unix_micros(F.col("ts")) - F.unix_micros(F.col("_prev"))
            >= 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", F.sum("_new").over(
          vw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid").agg(
          F.min("ts").as("s_start"),
          // session stays open one gap past its last view — otherwise a
          // single-view session is the degenerate [ts, ts] point and the
          // gate would match ~nothing
          F.timestamp_micros(F.unix_micros(F.max("ts")) + 1800000000L)
            .as("s_end"),
          F.count(F.lit(1)).as("n_views"))
      graft.core.Ops.rangeJoin(clicks, sessions, "user_id", "ts",
          "s_start", "s_end", Seq("sid", "n_views"))
        .select(F.col("event_id"), F.unix_millis(F.col("ts")).as("ts_ms"),
          F.col("sid"), F.col("n_views"))
    }),
    "join_salted" -> ((s, d) => {
      // skew-salted equi-join: clicks pick up their user's event stats.
      // Salting is semantics-preserving by construction, so the oracle
      // is the PLAIN join — the gate checks the salt split changes
      // nothing; OpsSpec pins that the salt actually reaches the join
      // keys and spreads hot keys.
      val ev = Tables.events(s, d, cache = false)
      val stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).as("n_events"),
        F.sum(F.when(F.col("event_type") === "click", 1L).otherwise(0L))
          .as("n_clicks"))
      val clicks = ev.filter(F.col("event_type") === "click")
        .select("event_id", "user_id")
      graft.core.Ops.saltedJoin(clicks, stats, Seq("user_id"),
          Seq(F.col("event_id")), nSalts = 8)
        .select("event_id", "user_id", "n_events", "n_clicks")
    }),
    "join_delta_maintain" -> ((s, d) => {
      // incremental join maintenance (round 11; the IVM identity
      // Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB): orders/customer split into
      // old/delta by key residue; the oracle computes the ground truth
      // the hard way — full new join EXCEPT ALL old join — so the
      // identity itself is what's checked, multiset-exact
      val o = Tables.orders(s, d)
        .select(F.col("o_custkey").as("custkey"), F.col("o_orderkey"))
      val c = Tables.customer(s, d)
        .select(F.col("c_custkey").as("custkey"), F.col("c_nationkey"))
      val oldO = o.filter(F.pmod(F.col("o_orderkey"), F.lit(10)) < 8)
      val deltaO = o.filter(F.pmod(F.col("o_orderkey"), F.lit(10)) >= 8)
      val oldC = c.filter(F.pmod(F.col("custkey"), F.lit(10)) < 9)
      val deltaC = c.filter(F.pmod(F.col("custkey"), F.lit(10)) >= 9)
      graft.core.Ops.deltaJoinMaintain(oldO, deltaO, oldC, deltaC,
        Seq("custkey"))
    }),
    "cdc_apply_changes" -> ((s, d) => {
      // CDC merge: a synthetic change feed over documents — every 4th doc
      // upserted (v1), every 6th deleted (v2, so it overrides the %12
      // overlap), every 9th re-inserted under a +500000 id; latest change
      // per key wins, untouched keys pass through
      val docs = Tables.documents(s, d)
      def feed(rows: org.apache.spark.sql.DataFrame, op: String, v: Long) =
        rows.withColumn("op", F.lit(op)).withColumn("version", F.lit(v))
      val ups = feed(docs.filter(F.col("doc_id") % 4 === 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" v2"))), "upsert", 1L)
      val dels = feed(docs.filter(F.col("doc_id") % 6 === 0), "delete", 2L)
      // version 3, NOT 1: at a scale factor where doc_ids reach 500000,
      // id+500000 can collide with a %4-upsert key, and two distinct
      // changes at one (key, version) would be a nondeterministic
      // row_number tie across engines
      val ins = feed(docs.filter(F.col("doc_id") % 9 === 0)
        .withColumn("doc_id", F.col("doc_id") + 500000L), "upsert", 3L)
      graft.core.Ops.applyChanges(docs,
          ups.unionByName(dels).unionByName(ins), Seq("doc_id"), "version")
        .select("doc_id", "source", "text")
    }),
    "sketch_histogram_groups" -> ((s, d) =>
      // per-source length distribution: fixed [0, 4096) bounds, 64 bins,
      // sparse cells — every cell a pure function of the row, rebuilt
      // verbatim by the oracle
      graft.core.Sketch.histogramBinsByGroup(
        Tables.documents(s, d).select("source", "n_chars"),
        Seq("source"), "n_chars", 0.0, 4096.0, 64)),
    "sketch_histogram_groups_quantile" -> ((s, d) =>
      // relational per-group quantile walk (no driver collect), exact
      // double-arithmetic mirror in SQL
      graft.core.Sketch.histogramQuantilesByGroup(
        graft.core.Sketch.histogramBinsByGroup(
          Tables.documents(s, d).select("source", "n_chars"),
          Seq("source"), "n_chars", 0.0, 4096.0, 64),
        Seq("source"), Seq(0.25, 0.5, 0.9), 0.0, 4096.0, 64)),
    "sketch_hll_groups" -> ((s, d) =>
      // per-group distinct-count sketch, SPARSE registers — the scalable
      // "distinct users per item" shape; the oracle rebuilds every
      // (group, bucket, register) cell from the same md5 chain
      graft.core.Sketch.hllRegistersByGroup(
        Tables.events(s, d).select("event_type", "user_id"),
        Seq("event_type"), "user_id", p = 8)),
    "sketch_hll_groups_estimate" -> ((s, d) => {
      // per-group estimates vs exact distinct counts, thresholded like the
      // global sketch_hll_estimate gate (p=12: 10% = 6 sigma per group)
      val ev = Tables.events(s, d).select("event_type", "user_id")
      val est = graft.core.Sketch.hllEstimateByGroup(
        graft.core.Sketch.hllRegistersByGroup(ev, Seq("event_type"),
          "user_id", p = 12), Seq("event_type"), p = 12)
      val exact = ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").as("n_exact"))
      est.join(exact, Seq("event_type")).select(F.col("event_type"),
        F.col("n_exact"),
        (F.abs(F.col("estimate") - F.col("n_exact")) / F.col("n_exact")
          <= 0.10).as("within_10pct"))
    }),
    "sketch_heavy_hitters" -> ((s, d) =>
      // Misra-Gries heavy hitters in the exact regime: capacity 32768 ≥
      // distinct items at every gate SF, so per-partition summaries are
      // exact counts, the merge subtracts 0, and the result is
      // order/partitioning-independent — full oracle vs groupBy-count
      graft.core.Sketch.mgHeavyHitters(
        Tables.interactions(s, d).select("item_id"), "item_id", 32768)
        .select(F.col("key").as("item_id"), F.col("count"), F.col("err"))),
    "sketch_heavy_hitters_crop" -> ((s, d) => {
      // the REAL MG merge crop, made deterministic: exact per-partition
      // summaries (capacity ≥ distinct) merged at capacity 100 — the
      // (101)-th-largest order statistic s is subtracted from every count
      // and only strictly-positive survivors remain (≤ 100 keys,
      // tie-agnostic). The oracle mirrors s as ORDER BY c DESC LIMIT 101
      val sums = graft.core.Sketch.mgSummaries(
        Tables.interactions(s, d).select("item_id"), "item_id", 32768)
      graft.core.Sketch.mgMerge(sums, 100)
        .select(F.col("key").as("item_id"), F.col("count"), F.col("err"))
    }),
    "graph_pagerank" -> ((s, d) => {
      // 3-iteration PageRank over the bipartite query→item graph in EXACT
      // fixed-point BIGINT arithmetic (items offset by 1e6 into the node
      // space; every item is a dangling node, exercising the uniform
      // redistribution). The oracle replays all 3 rounds with `//`
      graft.core.Graph.pageRank(
        Tables.interactions(s, d).select(F.col("query_id").as("src"),
          (F.col("item_id") + F.lit(1000000L)).as("dst")),
        iterations = 3)
        .select(F.col("node"), F.col("rank").as("pr_units"))
    }),
    "zorder_key" -> ((s, d) =>
      // lakehouse Z-ORDER clustering key over the (query, item) plane:
      // exact integer min-max scaling to 21 bits + Morton interleave,
      // every bit mirrored in the oracle's 42-term SQL expression
      graft.core.Ops.zOrderKey(
        Tables.interactions(s, d).select("query_id", "item_id").distinct(),
        Seq("query_id", "item_id"), bits = 21)),
    "text_quality_percentile" -> ((s, d) => {
      // corpus-relative percentile of a quality proxy (token count) over a
      // total order — percent_rank semantics WITHOUT the single-partition
      // global window (range shuffle + zipWithIndex ranks)
      val scored = Tables.documents(s, d).select(F.col("doc_id"),
        graft.text.TextStats.tokenCount(F.col("text")).as("n_tokens"))
      graft.core.Ops.percentileRank(scored, "pct",
        F.col("n_tokens").asc, F.col("doc_id").asc)
    }),
    "sample_stratified" -> ((s, d) =>
      // exact stratified carve-out: ceil(0.2 · n) docs per source, picked
      // by portable-hash rank — deterministic counts, unlike Bernoulli
      // sampleBy
      graft.text.Mixing.stratifiedSample(
        Tables.documents(s, d).select("doc_id", "source"),
        Seq("source"), frac = 0.2, idCols = Seq("doc_id"))),
    "sample_negatives" -> ((s, d) => {
      // uniform negative sampling: 3 never-seen items per query, uniform
      // without replacement via the equal-weight E–S draw (RandomRec
      // machinery: threshold pre-crop + bounded heap + seen anti-join)
      val i = Tables.interactions(s, d)
      val negs = models.Negatives.sample(i, n = 3, seed = 13)
      val w = Window.partitionBy("query_id")
        .orderBy(F.col("rating").desc, F.col("item_id").asc)
      negs.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .select("query_id", "item_id", "neg_rank")
    }),
    "cdc_changes_between" -> ((s, d) => {
      // the inverse: diff two snapshots into the minimal replayable feed
      // (next = every 7th doc dropped, every 3rd edited, every 11th
      // re-added under +100000; output ∝ churn). OpsSpec pins the
      // round-trip law applyChanges(base, changesBetween(base,next)) ≡ next
      val docs = Tables.documents(s, d).select("doc_id", "source", "text")
      val next = docs.filter(F.col("doc_id") % 7 =!= 0)
        .select(F.col("doc_id"), F.col("source"),
          F.when(F.col("doc_id") % 3 === 0,
            F.concat(F.col("text"), F.lit(" edited")))
            .otherwise(F.col("text")).as("text"))
        .unionAll(docs.filter(F.col("doc_id") % 11 === 0)
          .select((F.col("doc_id") + 100000L).as("doc_id"),
            F.col("source"), F.col("text")))
      graft.core.Ops.changesBetween(docs, next, Seq("doc_id"))
    }),
    "corpus_shuffle" -> ((s, d) =>
      // deterministic training-order shuffle: every doc gets a stable
      // (shard, pos) from the portable md5 chain — same seed, same order,
      // on any layout or engine; the oracle rebuilds the identical
      // permutation from the same hash
      graft.core.Ops.deterministicShuffle(
        Tables.documents(s, d).select("doc_id"), Seq("doc_id"), 11L, 4)
        .select("doc_id", "shard", "pos")),
    "split_walk_forward" -> ((s, d) =>
      // equal-count time buckets for expanding-window backtests — exact
      // Long arithmetic (div), tie-safe (rows sharing a ts share a
      // bucket), distributed prefix-sum ranks
      graft.splitters.TimeSplitter.walkForwardBuckets(
          Tables.events(s, d).select("event_id", "ts"), k = 5, tsCol = "ts")
        .select(F.col("event_id"), F.col("bucket"))),
    "join_interval" -> ((s, d) => {
      // interval×interval overlap join: click sessions × view sessions of
      // the same user (30-min gap both), binned hash-equi with first-
      // shared-bin dedup (Ops.intervalJoin) vs DuckDB's plain overlap
      // predicate join as the oracle
      val ev = Tables.events(s, d)
      def sessions(typ: String, p: String) = {
        val w = Window.partitionBy("user_id")
          .orderBy(F.col("ts").asc, F.col("event_id").asc)
        ev.filter(F.col("event_type") === typ)
          .select("user_id", "ts", "event_id")
          .withColumn("_prev", F.lag("ts", 1).over(w))
          .withColumn("_new", F.when(F.col("_prev").isNull ||
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("_prev"))
              >= 1800000000L, 1L).otherwise(0L))
          .withColumn(s"${p}sid", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", s"${p}sid").agg(
            F.min("ts").as(s"${p}_start"),
            // session stays open one gap past its last event (the
            // join_range convention) — otherwise single-event sessions
            // are points and the overlap gate is vacuous
            F.timestamp_micros(F.unix_micros(F.max("ts")) + 1800000000L)
              .as(s"${p}_end"),
            F.count(F.lit(1)).as(s"${p}_n"))
      }
      graft.core.Ops.intervalJoin(
          sessions("click", "c"), sessions("view", "v"), "user_id",
          "c_start", "c_end", "v_start", "v_end", Seq("vsid", "v_n"))
        .select(F.col("user_id"), F.col("csid"),
          F.unix_millis(F.col("c_start")).as("cs_ms"),
          F.unix_millis(F.col("c_end")).as("ce_ms"),
          F.col("vsid"), F.col("v_n"))
    }),
    "mixture_temperature" -> ((s, d) => {
      // alpha-sampling (temperature 0.5): target proportions computed
      // FROM the per-source counts, p_s ∝ n_s^0.5 — every double op
      // mirrored in the oracle, incl. the sorted-order normalization
      // fold. The testdata sources are uniform, so the gate SKEWS the
      // input (src0/src1 whole, others ~1/3) to make the temperature
      // re-weighting actually drop rows.
      val skewed = Tables.documents(s, d).filter(
        F.col("doc_id") % 3 === 0 || F.col("source").isin("src0", "src1"))
      graft.text.Mixing.sampleWithTemperature(skewed, alpha = 0.5, seed = 7)
        .select("doc_id", "source")
    }),
    "dedup_snapshot_diff" -> ((s, d) => {
      // day-over-day corpus diff: next drops every 7th doc (removed),
      // whitespace-pads every 5th (unchanged after normalization),
      // APPENDS to every 3rd (changed), and adds +100000-id copies of
      // every 11th (added)
      val docs = Tables.documents(s, d)
      val next = docs.filter(F.col("doc_id") % 7 =!= 0)
        .select(F.col("doc_id"),
          F.when(F.col("doc_id") % 3 === 0,
            F.concat(F.col("text"), F.lit(" edited")))
            .when(F.col("doc_id") % 5 === 0,
              F.concat(F.lit("  "), F.col("text")))
            .otherwise(F.col("text")).as("text"))
        .unionAll(docs.filter(F.col("doc_id") % 11 === 0)
          .select((F.col("doc_id") + 100000L).as("doc_id"), F.col("text")))
      graft.text.Dedup.snapshotDiff(docs, next)
    }),
    "text_token_budget" -> ((s, d) => {
      // token-budget selection: per source, keep the best-quality doc
      // prefix whose running token total stays <= 400 (quality rounded 6
      // so both engines order identically; cum via the keyed distributed
      // prefix sum, mirrored by the oracle's per-source window sum)
      graft.text.Mixing.tokenBudgetSelect(
        Tables.documents(s, d), budgetTokens = 400)
    }),
    "dedup_substring_remove" -> ((s, d) => {
      // the removal operation on the substring signal: drop tokens under
      // any cross-doc duplicate window, reassemble (whitespace-normalized
      // — the reassembly is the normal form, like dedup_lines)
      graft.text.Dedup.removeDuplicateSpans(
        Tables.documents(s, d), "doc_id", "text", k = 8,
        tokenHash = graft.text.Dedup.portableHash(0, _))
    }),
    "text_pretokenize" -> ((s, d) => {
      // GPT-2-style pre-tokenization (the BPE front half) — chunk count,
      // alpha-chunk count, and boundary chunks, cell-exact vs the oracle
      // running the SAME RE2-compatible pattern
      import graft.text.TextStats
      val toks = TextStats.preTokens(F.col("text"))
      Tables.documents(s, d).select(
        F.col("doc_id"),
        TextStats.preTokenCount(F.col("text")).as("n_pretokens"),
        F.size(F.filter(toks, t => t.rlike("\\p{L}"))).cast("long")
          .as("n_alpha"),
        F.get(toks, F.lit(0)).as("first_tok"),
        F.get(toks, F.size(toks) - F.lit(1)).as("last_tok"))
    }),
    "text_chunk" -> ((s, d) => {
      // RAG-style overlapping token-window chunking (64-token windows,
      // 16-token overlap) — cell-exact incl. the reassembled chunk text
      graft.text.TextStats.chunkDocuments(
        Tables.documents(s, d), "doc_id", "text")
    }),
    "text_readability" -> ((s, d) => {
      // readability & lexical diversity. The soup corpus has no sentence
      // punctuation, so docs gain sentence breaks by residue (mirrored):
      // %3 → a terminated second sentence, %5 → an unterminated tail
      val spiked = Tables.documents(s, d).select(F.col("doc_id"),
        F.concat(F.col("text"),
          F.when(F.col("doc_id") % 3 === 0,
            F.lit(". A second sentence here.")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 5 === 0,
            F.lit(" Tail without terminator")).otherwise(F.lit("")))
          .as("text"))
      spiked.select(F.col("doc_id"),
          graft.text.TextStats.lexicalStats(F.col("text")).as("lx"))
        .select(F.col("doc_id"), F.col("lx.*"))
    }),
    "text_training_triples" -> ((s, d) => {
      // contrastive triples: anchor/positive = adjacent 16-token chunks
      // of one doc, negative = portable-hash-drawn chunk from the global
      // chunk table (own-doc collisions dropped — the ε contract)
      graft.text.TextStats.trainingTriples(
        Tables.documents(s, d), chunkSize = 16, overlap = 0, seed = 7)
    }),
    "text_ppl_buckets" -> ((s, d) => {
      // CCNet head/middle/tail split by LM score terciles (scores rounded
      // BEFORE the quantile so thresholds and boundary assignments come
      // from identical doubles in both engines)
      graft.text.TextStats.perplexityBuckets(
        Tables.documents(s, d), "doc_id", "text")
    }),
    "text_quality_classifier" -> ((s, d) => {
      // GPT-3-style learned quality filter (target-vs-raw logistic
      // regression over DSIR's hashed-ngram features). The soup sources
      // are identically distributed — no natural signal — so the target
      // class is spiked with marker tokens (mirrored shape, not values:
      // MLlib solver floats aren't bit-portable) and the gate certifies
      // the BEHAVIOR: training AUC >= 0.95, plus SQL-checkable counts.
      val docs = Tables.documents(s, d)
      val spiked = docs.select(F.col("doc_id"), F.col("source"),
        F.concat(F.col("text"),
          F.when(F.col("source") === "src0",
            F.lit(" qualitymark signalone signaltwo")).otherwise(F.lit("")))
          .as("text"))
      val clf = new graft.text.QualityClassifier(buckets = 2048)
        .fit(spiked.filter(F.col("source") === "src0"),
          spiked.filter(F.col("source") =!= "src0"))
      val scores = clf.score(spiked)
      val labels = spiked.select(F.col("doc_id"),
        (F.col("source") === "src0").cast("int").as("label"))
      val a = clf.auc(scores, labels)
      val nT = labels.filter(F.col("label") === 1).count()
      val nR = labels.filter(F.col("label") === 0).count()
      import s.implicits._
      Seq((nT, nR, a >= 0.95)).toDF("n_target", "n_raw", "auc_ok")
    }),
    "text_c4_rules" -> ((s, d) => {
      // C4 cleaning rules (Raffel et al. 2020 §2.2). The soup corpus has
      // no newlines/punctuation, so doc_id-residue spikes (mirrored in
      // the oracle) exercise every rule: a 3-sentence keepable block
      // (%2 — drives sentences_ok), a too-short terminal line (%5,
      // dropped by min-words), a javascript line (%7, line-dropped), the
      // lorem-ipsum page flag (%11), the curly-brace page flag (%13), a
      // bad-word page flag on an otherwise-keepable line (%17)
      val spiked = Tables.documents(s, d).select(F.col("doc_id"),
        F.concat(
          F.col("text"),
          F.when(F.col("doc_id") % 2 === 0, F.lit("\nOne good sentence " +
            "sits here. Another good one follows now. A third sentence " +
            "ends this.")).otherwise(F.lit("")),
          F.when(F.col("doc_id") % 5 === 0, F.lit("\nShort line."))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 7 === 0,
            F.lit("\nThis page uses javascript tricks today."))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 11 === 0,
            F.lit("\nlorem ipsum dolor sit amet."))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 13 === 0, F.lit("\nbad { brace"))
            .otherwise(F.lit("")),
          F.when(F.col("doc_id") % 17 === 0,
            F.lit("\nAn obscene sentence appears right here."))
            .otherwise(F.lit("")),
        ).as("text"))
      spiked.select(F.col("doc_id"),
          graft.text.TextStats.c4Rules(F.col("text")).as("c4"))
        .select(F.col("doc_id"), F.col("c4.*"))
    }),
    "text_dsir_weights" -> ((s, d) => {
      // DSIR importance log-weights (Xie et al. 2023): target = src0,
      // raw = everything else; hashed unigram+bigram features (portable
      // md5 hash), Laplace-smoothed bucket log-ratios, sorted-bucket left
      // fold (cross-engine float-sum order), round-6 for ln libm drift
      val docs = Tables.documents(s, d)
      val w = graft.text.Dsir.logWeights(
        docs.filter(F.col("source") =!= "src0"),
        docs.filter(F.col("source") === "src0"),
        buckets = 1024, alpha = 0.5, seed = 7)
      w.select(F.col("doc_id"), F.round(F.col("log_weight"), 6).as("log_weight"))
    }),
    "text_dsir_select" -> ((s, d) => {
      // Gumbel-top-k resampling on the UNROUNDED weights: key = w +
      // Gumbel(portable md5 uniform), global crop via the O(k) bounded
      // heap — ranks are integers, so the gate hash carries no floats
      val docs = Tables.documents(s, d)
      val w = graft.text.Dsir.logWeights(
        docs.filter(F.col("source") =!= "src0"),
        docs.filter(F.col("source") === "src0"),
        buckets = 1024, alpha = 0.5, seed = 7)
      graft.text.Dsir.resample(w, k = 50, seed = 11)
        .select(F.col("doc_id"), F.col("rank"))
    }),
    "text_bm25_topk" -> ((s, d) => {
      // Okapi BM25 sparse retrieval (Lucene +1 idf) over the inverted
      // postings table: every 50th doc queries the corpus, k=5. Scores
      // round-6 (ln libm drift); per-(query,doc) sums are ORDER-FREE
      // fixed-point BIGINT sums (1e-9 units, exact in any order — no
      // collect_list buffer); crop via the O(k) bounded heap.
      val docs = Tables.documents(s, d)
      graft.text.Retrieval.bm25TopK(docs,
        docs.filter(F.col("doc_id") % 50 === 0)
          .select(F.col("doc_id").as("query_id"), F.col("text")),
        k = 5)
    }),
    "text_rrf_fusion" -> ((s, d) => {
      // Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009)
      // of the lexical BM25 top-10 and the dense cosine top-10 for the
      // same 10 query ids (documents and embeddings share the id space).
      // rrf terms are exact integer divisions — no rounding needed.
      val docs = Tables.documents(s, d)
      val sparse = graft.text.Retrieval.bm25TopK(docs,
        docs.filter(F.col("doc_id") < 10)
          .select(F.col("doc_id").as("query_id"), F.col("text")),
        k = 10).select("query_id", "doc_id", "rank")
      val emb = Tables.embeddings(s, d)
      val dense = graft.text.Similarity.bruteForceTopK(
        emb.filter(F.col("vec_id") < 10), emb, k = 10)
        .select(F.col("query_id"), F.col("neighbor_id").as("doc_id"),
          F.col("rank"))
      graft.text.Retrieval.rrfFuse(Seq(sparse, dense), k = 5)
    }),
    "text_bpe_train" -> ((s, d) => {
      // learned BPE merges (Sennrich et al. 2016) over the corpus's
      // pre-token counts — the iterative argmax is not SQL-expressible
      // (rows-only; BpeSpec pins the golden paper merges + driver ≡
      // distributed twin parity)
      graft.text.Bpe.train(Tables.documents(s, d), numMerges = 30)
    }),
    "text_bpe_encode" -> ((s, d) => {
      // BPE merge APPLICATION, cross-engine: a FIXED 5-merge table
      // (incl. the chained (t,h)→(th,e) to exercise multi-char symbols)
      // drives the real encoder; the oracle replays the identical
      // in-order leftmost-non-overlapping passes as chained
      // regexp_replace over a paren-wrapped symbol string. addEow=false
      // keeps the SQL mirror free of marker symbols.
      import s.implicits._
      val merges = Seq((0L, "e", "s", 0L), (1L, "t", "h", 0L),
        (2L, "th", "e", 0L), (3L, "i", "n", 0L), (4L, "e", "r", 0L))
        .toDF("step", "left", "right", "count")
      graft.text.Bpe.encode(Tables.documents(s, d), merges, addEow = false)
        .select(F.col("doc_id"), F.col("n_pretokens"), F.col("n_bpe_tokens"),
          F.array_join(F.col("bpe_tokens"), "|").as("seg"))
    }),
    "dedup_bloom_new_keys" -> ((s, d) => {
      // EXACT day-over-day new-key anti-join, Bloom-accelerated: the
      // filter reshapes the plan (only the maybe-present slice pays the
      // shuffle) but the oracle runs the PLAIN anti-join SQL — exactness
      // is the contract (Dedup.newKeys scaladoc)
      val docs = Tables.documents(s, d)
        .select(F.col("doc_id"),
          graft.text.TextStats.fingerprint(F.col("text")).as("fp"))
      val seen = docs.filter(F.col("doc_id") % 2 === 0).select("fp")
      graft.text.Dedup.newKeys(docs, seen, "fp",
          numBits = 4096, numHashes = 4)
        .select("doc_id", "fp")
    }),
    "sketch_bloom" -> ((s, d) => {
      // dense Bloom filter bit table over the interaction item stream —
      // portable hash family, every bit oracle-checked
      graft.core.Sketch.bloomBits(
        Tables.interactions(s, d).select("item_id"), "item_id",
        numBits = 1024, numHashes = 4)
    }),
    "sketch_bloom_query" -> ((s, d) => {
      // membership probes over a key grid straddling the catalog boundary
      // (~half absent at gate scale): maybe_present vs ground truth, with
      // the no-false-negative guarantee surfaced as a checked column
      val inter = Tables.interactions(s, d)
      val bits = graft.core.Sketch.bloomBits(
        inter.select("item_id"), "item_id", numBits = 1024, numHashes = 4)
      val keys = s.range(0, 4000, 20).select(F.col("id").as("item_id"))
      val present = inter.select("item_id").distinct()
        .withColumn("_present", F.lit(true))
      graft.core.Sketch.bloomMayContain(bits, keys, "item_id",
          numBits = 1024, numHashes = 4)
        .join(present, Seq("item_id"), "left")
        .select(F.col("item_id"), F.col("maybe_present"),
          F.coalesce(F.col("_present"), F.lit(false)).as("actually_present"),
          (F.col("maybe_present") ||
            !F.coalesce(F.col("_present"), F.lit(false)))
            .as("no_false_negative"))
    }),
    "dedup_cluster_keep" -> ((s, d) => {
      // survivors after cluster dedup: docs outside any candidate pair
      // survive untouched; one anti-join against non-representatives
      import graft.text.Dedup
      val docs = Tables.documents(s, d)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        numPerms = 16, hash = Dedup.portableHash).cache()
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        numPerms = 16, bandSize = 4, precomputedSigs = Some(sigs))
      Dedup.keepClusterRepresentatives(
        docs.select("doc_id", "source"), "doc_id",
        Dedup.connectedComponents(cand))
    }),
    "dedup_soft" -> ((s, d) => {
      // sqrt-scaled soft dedup: keep ceil(|group|^0.5) of each exact-
      // duplicate group, portable-hash pick
      graft.text.Dedup.softDedup(Tables.documents(s, d), "doc_id", "text",
        alpha = 0.5, seed = 7).select("doc_id")
    }),
    "pack_sequences" -> ((s, d) => {
      // concat-and-chunk packing, doc_id order, 256-token chunks
      graft.text.Packing.packChunks(Tables.documents(s, d),
        "doc_id", "text", chunkTokens = 256)
    }),
    "dedup_ngram_jaccard" -> ((s, d) => {
      graft.text.Dedup.ngramJaccardPairs(Tables.documents(s, d),
        "doc_id", "text", blockCol = "source", k = 3, threshold = 0.2)
    }),
    "dedup_simhash" -> ((s, d) => {
      Tables.documents(s, d).select(F.col("doc_id"),
        graft.text.Dedup.simhash(F.col("text"), bits = 16,
          hash = graft.text.Dedup.portableHash).as("simhash"))
    }),
    "embed_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.text.Similarity.bruteForceTopK(
        emb.filter(F.col("vec_id") < 10), emb, k = 5)
    }),
    "embed_lsh_neardup" -> ((s, d) => {
      // portable-md5 hyperplanes — the oracle interpolates the same planes.
      // planes=4 is an ORACLE-TRACTABILITY setting (32 SQL plane
      // interpolations), not the production shape — see the _prod row.
      graft.text.Similarity.lshNearDup(Tables.embeddings(s, d),
        threshold = 0.2, planes = 4, tables = 8)
    }),
    "embed_lsh_neardup_prod" -> ((s, d) => {
      // PRODUCTION plane count (planesFor(2000)=13; 12 is the operator
      // default): 2^12 buckets per table keeps candidate pairs ~n·2⁻¹
      // instead of the toy setting's n²/32. threshold=-1 keeps every
      // verified candidate pair, so the row measures the full pipeline
      // (96 projections/vector → bucket join → id-distinct → vector
      // rejoin → exact cosine). Round 11: certificate oracle (was the
      // last deliberate no_oracle row) — 20 exact copies are PLANTED;
      // identical vectors share every table's bucket, so all 20 planted
      // pairs MUST surface with cosine ≈ 1, and the pair algebra is
      // shape-pinned (a<b ordering, cosine bounds, non-empty). The
      // planes=4 twin above still carries the value-exact DuckDB oracle
      // for the same code path.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      // ADVICE r11: the planted-id offset must clear the real id range —
      // at a larger sf a real vec_id >= 100000 would collide with a
      // planted id and silently break the constant n_planted_found=20
      // oracle. Fail fast instead of producing a wrong certificate.
      val maxId = emb.agg(F.max("vec_id")).first().getLong(0)
      require(maxId < 100000L,
        s"embed_lsh_neardup_prod: planted-id offset 100000 <= max(vec_id)=$maxId; raise the offset")
      val planted = emb.filter(F.col("vec_id") < 20)
        .select((F.col("vec_id") + 100000L).as("vec_id"), F.col("embedding"))
      val pairs = graft.text.Similarity.lshNearDup(emb.unionAll(planted),
        threshold = -1.0, planes = 12, tables = 8)
      val isPlanted = F.col("id_a") < 20 && F.col("id_b") === F.col("id_a") + 100000L
      pairs.agg(
        (F.count(F.lit(1)) > 0L).as("nonempty"),
        F.count_if(isPlanted).as("n_planted_found"),
        F.coalesce(F.bool_and(F.when(isPlanted, F.col("cosine") >= 0.999999)),
          F.lit(false)).as("planted_cos_ok"),
        F.bool_and(F.col("id_a") < F.col("id_b")).as("ids_ordered"),
        F.bool_and(F.col("cosine").between(-1.000001, 1.000001)).as("cos_bounded"))
    }),
    "embed_ivf_search" -> ((s, d) => {
      // KMeans-backed IVF, gated as a THRESHOLD check (r8): recall@5 vs
      // the engine's exact brute-force top-k must clear 0.95, asserted by
      // the DuckDB oracle on the one-row summary — the ≥0.95 contract now
      // lives in the driver gate, not only in ScalaTest at toy scale.
      // nProbe=6/8: the synthetic embeddings are UNSTRUCTURED under cosine
      // (unit-norm, true top-5 shares a label 10% of the time — measured),
      // so recall ≈ fraction of cells probed; clustered corpora reach the
      // contract at low nProbe (TextSpec "IVF search recall" on clusters)
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(F.col("vec_id") < 10)
      // corpus-aware probe count (r8: the sf0.1 10x audit measured 92%
      // recall at the fixed sf0.01 probe setting — the probed fraction
      // must grow with corpus size on unstructured data, IvfIndex.probesFor)
      val ann = new graft.text.IvfIndex(nCentroids = 8,
          nProbe = graft.text.IvfIndex.probesFor(emb.count(), 8)).fit(emb)
        .search(queries, k = 5)
      graft.text.Similarity
        .recallSummary(ann, graft.text.Similarity.bruteForceTopK(queries, emb, 5), 5)
        .select("n_queries", "k", "recall_ok")
    }),
    "embed_hnsw_search" -> ((s, d) => {
      // driver-built broadcast HNSW graph (reference hnswlib builder
      // parity), threshold-gated like embed_ivf_search (r8)
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(F.col("vec_id") < 10)
      val ann = graft.models.HnswAnn.searchNeighbors(emb, queries, k = 5)
      graft.text.Similarity
        .recallSummary(ann, graft.text.Similarity.bruteForceTopK(queries, emb, 5), 5)
        .select("n_queries", "k", "recall_ok")
    }),
    "embed_quantize_int8" -> ((s, d) => {
      // int8 scalar quantization (Quantize.quantizeInt8) — posexploded to
      // cells (codes cast BIGINT for a dtype-stable cross-engine compare;
      // the stored column is array<tinyint>)
      val q = graft.text.Quantize.quantizeInt8(
        Tables.embeddings(s, d), "vec_id", "embedding")
      q.select(F.col("vec_id"), F.posexplode(F.col("codes")).as(Seq("pos", "code")),
          F.col("scale"))
        .select(F.col("vec_id"), F.col("pos").cast("long").as("pos"),
          F.col("code").cast("long").as("code"), F.col("scale"))
    }),
    "embed_quantized_topk" -> ((s, d) => {
      // end-to-end quantized search: brute-force cosine top-k over the
      // int8 round-trip (quantize → dequantize) — the full oracle proves
      // the compressed pipeline, not just the codes
      val dq = graft.text.Quantize.requantized(
        Tables.embeddings(s, d), "vec_id", "embedding")
      graft.text.Similarity.bruteForceTopK(
        dq.filter(F.col("vec_id") < 10), dq, k = 5)
    }),
    "embed_pq_search" -> ((s, d) => {
      // product-quantization ADC scan + exact re-rank — KMeans-backed
      // codebooks, threshold-gated like embed_ivf_search (r8).
      // rerank=48 (240-candidate pool): 8×16 codebooks are coarse on
      // unstructured 64-dim vectors, so the re-rank pool carries the
      // recall contract; rerank×k stays constant as the corpus grows
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(F.col("vec_id") < 10)
      // corpus-aware re-rank pool (r8 10x audit: fixed 240-pool recall
      // fell to 90% at 80k vectors; PqIndex.rerankFor grows it with n)
      val ann = new graft.text.PqIndex(numSubspaces = 8, codebookSize = 16).fit(emb)
        .search(queries, k = 5, rerank = graft.text.PqIndex.rerankFor(emb.count()))
      graft.text.Similarity
        .recallSummary(ann, graft.text.Similarity.bruteForceTopK(queries, emb, 5), 5)
        .select("n_queries", "k", "recall_ok")
    }),
    "embed_hnsw_sharded" -> ((s, d) => {
      // DISTRIBUTED graph build (r8): nShards executor-side HNSW graphs
      // via one cogroup — no driver collect, no maxCollect bound; per-shard
      // top-k lists merge to the global top-k. Same recall threshold gate
      // as the driver-built twin.
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(F.col("vec_id") < 10)
      val ann = graft.models.ShardedHnsw.searchNeighbors(emb, queries, k = 5,
        nShards = 4)
      graft.text.Similarity
        .recallSummary(ann, graft.text.Similarity.bruteForceTopK(queries, emb, 5), 5)
        .select("n_queries", "k", "recall_ok")
    }),
    "embed_ivfpq_search" -> ((s, d) => {
      // IVF-PQ composite (FAISS IndexIVFPQ shape): residual-space PQ
      // codebooks inside coarse KMeans cells, ADC scan over probed cells
      // only, exact re-rank. Probe count grows with the corpus
      // (IvfIndex.probesFor) and the re-rank pool with PqIndex.rerankFor —
      // the same corpus-aware contracts as the component indexes.
      // nCentroids=16 (not the IVF-flat gate's 8): residual magnitude —
      // and with it ADC quantization error — shrinks as cells tighten, so
      // IVF-PQ wants MORE coarse cells than IVF-flat at the same corpus
      // (measured: nc=8 → 94% recall at 2000 vectors, nc=16 → 100%;
      // 98%/100% at sf0.01/sf0.1 with the corpus-aware probe count)
      val emb = Tables.embeddings(s, d)
      val n = emb.count()
      val queries = emb.filter(F.col("vec_id") < 10)
      val ann = new graft.text.IvfPqIndex(nCentroids = 16,
          nProbe = graft.text.IvfIndex.probesFor(n, 16),
          numSubspaces = 8, codebookSize = 16).fit(emb)
        .search(queries, k = 5, rerank = graft.text.PqIndex.rerankFor(n))
      graft.text.Similarity
        .recallSummary(ann, graft.text.Similarity.bruteForceTopK(queries, emb, 5), 5)
        .select("n_queries", "k", "recall_ok")
    }),
    "dedup_semantic" -> ((s, d) => {
      // SemDeDup (Abbas et al. 2023) certificate gate. The synthetic
      // embeddings are unstructured (max natural pairwise cosine ≈ 0.51
      // at sf0.01), so the gate PLANTS 20 exact copies (vec_id+10000 of
      // the first 20 vectors — identical vectors always share a KMeans
      // cell and rank-tie to the lower id) and the oracle pins the exact
      // drop algebra: n_kept = |corpus|, n_dropped = 20, every dropped id
      // is a planted copy with a >= tau witness.
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val planted = emb.filter(F.col("vec_id") < 20)
        .select((F.col("vec_id") + 10000).as("vec_id"), F.col("embedding"))
      val v = graft.text.SemDedup.verdicts(emb.unionAll(planted),
        nClusters = 8, tau = 0.95)
      v.agg(
        F.count(F.lit(1)).as("n_in"),
        F.count_if(F.col("keep")).as("n_kept"),
        F.count_if(!F.col("keep")).as("n_dropped"),
        F.coalesce(F.bool_and(F.when(!F.col("keep"),
          F.col("vec_id") >= 10000)), F.lit(true)).as("dropped_are_planted"),
        F.coalesce(F.bool_and(F.when(!F.col("keep"),
          F.col("max_prior_cos") >= 0.95)), F.lit(true)).as("witness_ok"))
    }),
    "embed_hard_negatives" -> ((s, d) => {
      // DPR-style hard-negative mining: per anchor, the top-5 most
      // similar corpus vectors that are not its labeled positives
      // (positives = same-label pairs inside the small "annotated" slice
      // vec_id < 50 — bounded per anchor, the realistic shape; the
      // k+maxPositives overfetch then anti-join mirrors the recommenders'
      // seen-item contract)
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding", "label")
      val anchors = emb.filter(F.col("vec_id") < 10)
      val positives = anchors
        .select(F.col("vec_id").as("anchor_id"), F.col("label"))
        .join(emb.filter(F.col("vec_id") < 50)
          .select(F.col("vec_id").as("positive_id"), F.col("label")), Seq("label"))
        .filter(F.col("anchor_id") =!= F.col("positive_id"))
        .select("anchor_id", "positive_id")
      graft.text.Similarity.hardNegatives(anchors, emb, positives,
        k = 5, maxPositives = 16)
    }),
    "multimodal_decode" -> ((s, d) => {
      // REAL decode (round 11): deterministic real PNGs are manufactured
      // per document id (javax.imageio encoder, executor-side), then
      // decoded back with ImageIO.read inside the per-partition codec
      // loop — the oracle pins the known dimension formula, so a decoder
      // that fabricated metadata could not pass
      import graft.multimodal.Multimodal
      Multimodal.decodeImage(
        Multimodal.syntheticPngs(Tables.documents(s, d), "doc_id"))
        .select("asset_id", "width", "height", "decode_ok")
    }),
    "multimodal_resize" -> ((s, d) => {
      // aspect-preserving resize planning over REAL decoded metadata
      // (round 11: was decodeStub) — the pixel work binds in decodeImage
      import graft.multimodal.Multimodal
      val meta = Multimodal.decodeImage(
        Multimodal.syntheticPngs(Tables.documents(s, d), "doc_id"))
      Multimodal.resizeDims(meta, maxW = 128, maxH = 96)
    }),
    "multimodal_features" -> ((s, d) => {
      // 16-bin byte histogram per asset (mapPartitions feature extractor);
      // output flattened to (asset, bin, share) — rows-only + spec
      import graft.multimodal.Multimodal
      val feats = Multimodal.byteHistogram(
        Multimodal.fakeAssets(Tables.documents(s, d), "doc_id", "text"))
      feats.select(F.col("asset_id"), F.posexplode(F.col("features")))
        .toDF("asset_id", "bin", "share")
        .select(F.col("asset_id"), F.col("bin").cast("long").as("bin"),
          F.round(F.col("share"), 6).as("share"))
    }),
    "multimodal_blocks" -> ((s, d) => {
      // binary block sampling (frame-extraction shape)
      import graft.multimodal.Multimodal
      Multimodal.sampleBlocks(
        Multimodal.fakeAssets(Tables.documents(s, d), "doc_id", "text"),
        blockSize = 32, stride = 4)
        .select(F.col("asset_id"), F.col("block_idx").cast("long").as("block_idx"),
          F.col("block_len"))
    }),

    "metrics_ranking_bounded" -> ((s, d) => {
      // same semantics as metrics_ranking but enrichment runs through the
      // bounded TopKAggregator (O(k) state/group instead of collect_list)
      // — double-validates the custom Aggregator against the same oracle
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val recs = new models.PopRec().fitPredict(train, 5)
      val gt = test.select("query_id", "item_id").distinct()
      val enriched = graft.metrics.TopKList.enrichBounded(recs, gt, maxK = 5)
      val out = graft.metrics.Metrics.computeFrom(
        enriched, graft.metrics.Metrics.RankingMetrics, Seq(5))
      out.select(out.columns.toIndexedSeq.map(c => F.round(F.col(c), 6).as(c)): _*)
    }),

    // ---- §2.3 joins -------------------------------------------------------
    "join_anti_consistency" -> ((s, d) => {
      // anti-join consistency count (dataset.py:559-599): customers with no orders
      val custKeys = Tables.customer(s, d).select(F.col("c_custkey"))
      val orderCust = Tables.orders(s, d).select(F.col("o_custkey").as("c_custkey"))
      custKeys.join(orderCust, Seq("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).as("n_cold"))
    }),
    "join_fallback_merge" -> ((s, d) => {
      // full-outer fallback merge (spark_utils.py:480-514): main = per-user
      // top items by rating sum; fallback = global popularity for all users
      val i = Tables.interactions(s, d)
      val main = i.groupBy("query_id", "item_id").agg(F.sum("rating").as("rating"))
        .filter(F.col("rating") >= 50)
      val users = i.select("query_id").distinct()
      val topItems = i.groupBy("item_id").agg(F.sum("rating").as("rating"))
        .orderBy(F.col("rating").desc, F.col("item_id").asc).limit(5)
      val fallback = users.crossJoin(topItems)
      Ops.fallbackMerge(main, fallback)
        .select(F.col("query_id"), F.col("item_id"), F.round(F.col("rating"), 6).as("rating"))
    }),

    // ---- round 10: SCD2 / rolling windows / stream-stream / sketch algebra
    "cdc_scd2" -> ((s, d) => {
      // Type-2 history from the SAME synthetic change feed as
      // cdc_apply_changes: each upsert opens [version, next-change) —
      // deletes close without opening; valid_to NULL = current
      val docs = Tables.documents(s, d)
      def feed(rows: org.apache.spark.sql.DataFrame, op: String, v: Long) =
        rows.withColumn("op", F.lit(op)).withColumn("version", F.lit(v))
      val ups = feed(docs.filter(F.col("doc_id") % 4 === 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" v2"))), "upsert", 1L)
      val dels = feed(docs.filter(F.col("doc_id") % 6 === 0), "delete", 2L)
      val ins = feed(docs.filter(F.col("doc_id") % 9 === 0)
        .withColumn("doc_id", F.col("doc_id") + 500000L), "upsert", 3L)
      graft.core.Ops.scdType2(
          ups.unionByName(dels).unionByName(ins), Seq("doc_id"), "version")
        .select("doc_id", "source", "text", "valid_from", "valid_to",
          "is_current")
    }),
    "window_rolling_time" -> ((s, d) =>
      // trailing 1-hour activity per user: RANGE frame on event-time
      // micros — count + exact cents sum, no self-join
      graft.core.Ops.rollingTimeAgg(
        Tables.events(s, d).select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), "ts", "value", 3600L)
        .select("event_id", "user_id", "roll_cnt", "roll_sum_cents")),
    "sample_group_k" -> ((s, d) =>
      // exactly 5 docs per source by portable-hash rank — deterministic
      // counts AND picks, mirrored by the oracle's md5 chain
      graft.text.Mixing.sampleExactKPerGroup(
        Tables.documents(s, d).select("doc_id", "source"),
        Seq("source"), 5, Seq("doc_id"))),
    "sketch_hll_overlap" -> ((s, d) => {
      // HLL set algebra: items of even vs odd queries, with a third of
      // the odd side shifted out of the id space so the overlap is
      // PARTIAL (the raw sets coincide — every item sells to both
      // parities). est_intersect/jaccard via inclusion-exclusion,
      // thresholded against the exact counts (p=12: 5% ≈ 3 sigma on the
      // direct estimates, 15% on the subtraction-amplified intersection)
      val i = Tables.interactions(s, d).select("query_id", "item_id")
      val a = i.filter(F.col("query_id") % 2 === 0).select("item_id")
      val b = i.filter(F.col("query_id") % 2 === 1)
        .select(F.when(F.col("item_id") % 3 === 0,
          F.col("item_id") + 1000000L).otherwise(F.col("item_id"))
          .as("item_id"))
      val S = graft.core.Sketch
      val ov = S.hllOverlap(S.hllRegisters(a, "item_id", 12),
        S.hllRegisters(b, "item_id", 12), 12)
      val ea = a.distinct(); val eb = b.distinct()
      val na = ea.agg(F.count(F.lit(1)).as("n_a_exact"))
      val nb = eb.agg(F.count(F.lit(1)).as("n_b_exact"))
      val ni = ea.join(eb, Seq("item_id"), "left_semi")
        .agg(F.count(F.lit(1)).as("n_inter_exact"))
      ov.crossJoin(na).crossJoin(nb).crossJoin(ni).select(
        F.col("n_a_exact"), F.col("n_b_exact"), F.col("n_inter_exact"),
        (F.abs(F.col("est_a") - F.col("n_a_exact")) / F.col("n_a_exact")
          <= 0.05).as("ok_a"),
        (F.abs(F.col("est_b") - F.col("n_b_exact")) / F.col("n_b_exact")
          <= 0.05).as("ok_b"),
        (F.abs(F.col("est_intersect") - F.col("n_inter_exact"))
          / F.greatest(F.col("n_inter_exact"), F.lit(1L)) <= 0.15).as("ok_inter"))
    }),
    "graph_ppr" -> ((s, d) => {
      // personalized PageRank: teleport + dangling mass restricted to the
      // every-100th-query seed set; same exact-BIGINT replay as
      // graph_pagerank, seed-conditional
      val i = Tables.interactions(s, d)
      graft.core.Graph.personalizedPageRank(
        i.select(F.col("query_id").as("src"),
          (F.col("item_id") + F.lit(1000000L)).as("dst")),
        i.select(F.col("query_id").as("node")).distinct()
          .filter(F.col("node") % 100 === 0),
        iterations = 3)
        .select(F.col("node"), F.col("rank").as("ppr_units"))
    }),
    "join_attribution" -> ((s, d) => {
      // the stream-stream attribution join run on its BATCH twin: every
      // purchase pairs with the same user's views in the preceding 30
      // minutes (state-bounded when streaming — spec'd with MemoryStreams)
      val ev = Tables.events(s, d)
      val views = ev.filter(F.col("event_type") === "view")
        .select(F.col("user_id"), F.col("ts").as("imp_ts"),
          F.col("event_id").as("imp_id"))
      val convs = ev.filter(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("ts").as("conv_ts"),
          F.col("event_id").as("conv_id"))
      graft.streaming.StreamingOps.eventTimeJoin(
          views, convs, Seq("user_id"), "imp_ts", "conv_ts", 1800L)
        .select(F.col("imp_id"), F.col("conv_id"), F.col("user_id"),
          (F.unix_micros(F.col("conv_ts")) - F.unix_micros(F.col("imp_ts")))
            .as("delay_us"))
    }),
    "streaming_windowed_distinct" -> ((s, d) =>
      // per-hour distinct-user HLL registers (batch twin of the
      // watermarked streaming build; state <= 2^p per window) — every
      // register cell rebuilt from the md5 chain by the oracle
      graft.streaming.StreamingOps.windowedDistinctHll(
        Tables.events(s, d).select("user_id", "ts"), 3600L, "user_id",
        "ts", p = 8)),
    "graph_triangles" -> ((s, d) =>
      // exact triangles + clustering coefficient over the parts-bought-
      // together graph (co-occurrence in every-40th order): degree-ordered
      // wedge join, all-BIGINT incl. the packed (deg,id) order key and the
      // fixed-point lcc — the oracle replays every step with `//`
      graft.core.Graph.triangleCounts(
        coPurchaseEdges(s, d), "src", "dst")),
    "graph_communities" -> ((s, d) =>
      // 4 rounds of deterministic synchronous label propagation on the
      // same co-occurrence graph; the per-round argmax is ONE BIGINT
      // max_by(label, cnt*2^31 - label) both engines evaluate identically
      graft.core.Graph.labelPropagation(
        coPurchaseEdges(s, d), "src", "dst", iterations = 4)),
    "funnel_users" -> ((s, d) =>
      // per-user funnel timeline signup -> view -> click -> purchase,
      // first-touch, strictly ordered, 7-day window anchored at signup;
      // each level is a filtered-scan x cohort equi-join, no windows
      graft.core.Funnel.funnelUsers(Tables.events(s, d, cache = false), "user_id",
          "event_type", "ts", Seq("signup", "view", "click", "purchase"),
          Some(F.expr("INTERVAL 7 DAYS")))
        .select(F.col("user_id"), F.col("step"), F.col("step_name"),
          F.unix_micros(F.col("ts")).as("ts_us"))),
    "funnel_steps" -> ((s, d) =>
      // the funnel summary: survivors per step + ppm conversion rates in
      // exact integer division
      graft.core.Funnel.funnelSteps(Tables.events(s, d, cache = false), "user_id",
        "event_type", "ts", Seq("signup", "view", "click", "purchase"),
        Some(F.expr("INTERVAL 7 DAYS")))),
    "sketch_cms_join" -> ((s, d) => {
      // pre-flight SELF-join size of lineitem on l_partkey from two CMS
      // sketches (the skew detector a planner runs before committing to a
      // shuffle strategy): estimate = min over rows of the counter inner
      // product — never under the true sum(n_p^2), every cell BIGINT
      val li = Tables.lineitem(s, d).select("l_partkey")
      val c = graft.core.Sketch.cmsCounters(li, "l_partkey", 4, 256)
      val est = graft.core.Sketch.cmsJoinSize(c, c)
      val exact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).as("_n"))
        .agg(F.sum(F.col("_n") * F.col("_n")).as("exact"))
      est.crossJoin(F.broadcast(exact))
        .select(F.col("estimate"), F.col("exact"),
          (F.col("estimate") >= F.col("exact")).as("never_under"))
    }),
    "agg_incremental" -> ((s, d) => {
      // incremental aggregate maintenance: summarize six sevenths of
      // orders, summarize the delta separately, MERGE the states — the
      // oracle recomputes the per-customer summary from the full table,
      // so the gate checks merge(summary(base), summary(delta)) ≡
      // summary(base ∪ delta) cell-exactly (cents BIGINT measure)
      val o = Tables.orders(s, d).select(F.col("o_custkey"),
        F.col("o_orderkey"),
        F.floor(F.col("o_totalprice") * 100).cast("long").as("_cents"))
      val base = o.filter(F.col("o_orderkey") % 7 =!= 0)
      val delta = o.filter(F.col("o_orderkey") % 7 === 0)
      graft.core.Ops.aggMerge(
        graft.core.Ops.aggSummary(base, Seq("o_custkey"), "_cents"),
        graft.core.Ops.aggSummary(delta, Seq("o_custkey"), "_cents"))
    }),
    "privacy_k_anon" -> ((s, d) =>
      // k-anonymity audit over (nation, acctbal band): occupancy + the
      // n >= 5 verdict per quasi-identifier combination
      graft.core.Ops.kAnonymityAudit(
        Tables.customer(s, d).select(F.col("c_nationkey").cast("long"),
          F.floor(F.col("c_acctbal") / 2000.0).cast("long").as("bal_band")),
        Seq("c_nationkey", "bal_band"), 5L)),
    "privacy_k_anon_suppress" -> ((s, d) =>
      // suppression: rows in sub-k combinations get their quasi cells
      // NULLed, everything else passes through unchanged
      graft.core.Ops.kAnonymize(
        Tables.customer(s, d).select(F.col("c_custkey"),
          F.col("c_nationkey").cast("long").as("c_nationkey"),
          F.floor(F.col("c_acctbal") / 2000.0).cast("long").as("bal_band")),
        Seq("c_nationkey", "bal_band"), 5L)),
    "anomaly_mad" -> ((s, d) =>
      // robust per-type outliers: |cents − median| > 3·MAD on exact
      // integer cents — every intermediate an exact multiple of 0.5, so
      // med/mad double back to BIGINT when doubled (hash-exact columns)
      graft.core.Ops.madOutliers(
        Tables.events(s, d).select(F.col("event_id"), F.col("event_type"),
          F.round(F.col("value") * 100).cast("long").as("cents")),
        Seq("event_type"), "cents", 3.0)
        .select(F.col("event_id"), F.col("event_type"), F.col("cents"),
          (F.col("med") * 2).cast("long").as("med2"),
          (F.col("mad") * 2).cast("long").as("mad2"),
          F.col("is_outlier"))),
    "event_transitions" -> ((s, d) =>
      // first-order Markov view of user timelines: (from, to) adjacent
      // pair counts + exact integer row probabilities; lag ordered by
      // (ts, event_id) so simultaneous events break ties identically
      graft.core.Ops.transitionCounts(
        Tables.events(s, d, cache = false).select("user_id", "event_type", "ts", "event_id"),
        "user_id", "event_type", "ts", Seq("event_id"))),
    "metrics_bootstrap_ci" -> ((s, d) =>
      // Poisson-bootstrap 95% CI for the mean per-user purchase metric —
      // weights from the portable hash's inverse-CDF table, all-BIGINT
      // means and nearest-rank bounds, replayed draw-for-draw in SQL
      graft.metrics.Metrics.bootstrapCI(
        Tables.events(s, d, cache = false).filter(F.col("event_type") === "purchase")
          .groupBy("user_id")
          .agg((F.count(F.lit(1)) / 100.0).as("metric")),
        "user_id", "metric", resamples = 200, seed = 7L)),
    "metrics_rating_errors" -> ((s, d) => {
      // MAE/RMSE of the bias baseline on its training pairs — the
      // rating-error evaluation counterpart of model_bias, exact ppm
      val i = Tables.interactions(s, d)
      val m = new models.BiasModel().fit(i)
      val scored = i.select("query_id", "item_id", "rating")
        .join(m.userBias, Seq("query_id"), "left")
        .join(m.itemBias, Seq("item_id"), "left")
        .select(((F.lit(m.muPpm) + F.coalesce(F.col("b_u_ppm"), F.lit(0L))
          + F.coalesce(F.col("b_i_ppm"), F.lit(0L))) / 1e6).as("pred"),
          F.col("rating"))
      graft.metrics.Metrics.ratingErrors(scored, "pred", "rating")
    }),
    "metrics_spearman" -> ((s, d) => {
      // ranker drift: popularity order of even- vs odd-session purchases,
      // Spearman over the common items in exact DECIMAL(38) ppm
      val i = Tables.interactions(s, d)
      def pop(parity: Int) = i.filter(F.col("session_id") % 2 === parity)
        .groupBy("item_id").agg(F.count(F.lit(1)).as("score"))
      graft.metrics.Metrics.spearmanPpm(pop(0), pop(1), "item_id", "score")
    }),
    "metrics_calibration" -> ((s, d) =>
      // reliability table for a deterministic document scorer: prob =
      // min(1, len/800), label = len > 400 — ppm-quantized, equal-width
      // bins, exact integer conf/acc/gap so the table hash-compares
      graft.metrics.Metrics.calibrationBins(
        Tables.documents(s, d).select(
          F.least(F.lit(1.0), F.length(F.col("text")) / 800.0).as("prob"),
          (F.length(F.col("text")) > 400).as("label")),
        "prob", "label", nBins = 10)),
    "metrics_calibration_ece" -> ((s, d) =>
      // the scalar: bin-weighted mean gap (Expected Calibration Error)
      graft.metrics.Metrics.calibrationEce(
        Tables.documents(s, d).select(
          F.least(F.lit(1.0), F.length(F.col("text")) / 800.0).as("prob"),
          (F.length(F.col("text")) > 400).as("label")),
        "prob", "label", nBins = 10)),
    "graph_link_prediction" -> ((s, d) =>
      // common-neighbors / Jaccard candidates over the co-purchase graph:
      // non-edges sharing >= 2 neighbors, fixed-point Jaccard — the
      // wedge enumeration and integer division replayed exactly in SQL
      graft.core.Graph.linkPredictions(
        coPurchaseEdges(s, d), "src", "dst", minCommon = 2L)
        .select("a", "b", "cn", "jaccard_ppm")),
    "graph_link_prediction_ra" -> ((s, d) =>
      // resource-allocation index over the same non-edges: Σ 1/deg(z) in
      // exact ppm floors — Adamic–Adar's log-free cousin, accumulated on
      // the wedge pivot's REAL degree
      graft.core.Graph.linkPredictions(
        coPurchaseEdges(s, d), "src", "dst", minCommon = 2L)
        .select("a", "b", "cn", "ra_ppm")),
    "streaming_funnel" -> ((s, d) =>
      // the stateful streaming funnel run on its BATCH twin — 3-scalar
      // per-user state, same first-touch semantics, same oracle as
      // funnel_users (spec'd against a real 2-batch MemoryStream)
      graft.streaming.StreamingOps.streamingFunnel(
        Tables.events(s, d), "user_id", "event_type", "ts", "event_id",
        Seq("signup", "view", "click", "purchase"),
        windowSeconds = Some(604800L)).toDF()),
    "funnel_retention" -> ((s, d) =>
      // weekly cohort retention: cohort by first signup week, activity =
      // any event; exact integer microsecond periods and ppm shares
      graft.core.Funnel.retentionCohorts(Tables.events(s, d, cache = false), "user_id",
        "event_type", "ts", "signup",
        Seq("signup", "view", "click", "purchase", "error"), 604800L)),
    "funnel_session_paths" -> ((s, d) =>
      // frequent session flows at a 30-minute gap: ordered type strings
      // per session, counts + exact ppm shares; gap rule = Sessionizer's
      graft.core.Funnel.sessionPaths(Tables.events(s, d, cache = false), "user_id",
        "event_type", "ts", "event_id", 1800L, minCount = 2L)),
    "graph_pagerank_weighted" -> ((s, d) =>
      // quantity-weighted purchase graph: contributions split
      // proportionally to summed edge weights, same exact-BIGINT replay
      graft.core.Graph.pageRankWeighted(
        Tables.interactions(s, d).select(F.col("query_id").as("src"),
          (F.col("item_id") + F.lit(1000000L)).as("dst"),
          F.col("rating").cast("long").as("weight")),
        iterations = 3)
        .select(F.col("node"), F.col("rank").as("pr_units"))),
    "join_bloom_semi" -> ((s, d) =>
      // bloom-prefiltered semi-join: the row-wise bitmask probe prunes
      // the fact scan in codegen BEFORE any shuffle; result must equal
      // the plain semi-join (the salting pattern: accelerators change
      // nothing) — oracle IS the plain semi-join
      graft.core.Ops.bloomSemiJoin(
        Tables.lineitem(s, d).select("l_orderkey", "l_partkey", "l_quantity"),
        Tables.orders(s, d).filter(F.col("o_orderkey") % 97 === 0)
          .select(F.col("o_orderkey").as("l_orderkey")),
        "l_orderkey", numBits = 1 << 16, numHashes = 5)),
    "window_rate_limit" -> ((s, d) =>
      // per-(user, hour) ingestion cap: first 3 events by (ts, id) order
      // survive — deterministic throttling, one keyed window
      graft.core.Ops.rateLimit(
        Tables.events(s, d).select("event_id", "user_id", "ts"),
        Seq("user_id"), "ts", "event_id", 3600L, 3)
        .select(F.col("event_id"), F.col("user_id"),
          F.unix_micros(F.col("ts")).as("ts_us"))),
    "agg_winsorize" -> ((s, d) =>
      // per-type 5%/95% winsorization of cents: exact-percentile bounds
      // and clamped values at the proven 6dp cross-engine rounding (the
      // agg_percentile parity — interpolation at q != 0.5 yields
      // arbitrary doubles, not halves)
      graft.core.Ops.winsorize(
        Tables.events(s, d).select(F.col("event_id"), F.col("event_type"),
          F.round(F.col("value") * 100).cast("long").as("cents")),
        Seq("event_type"), "cents", 0.05, 0.95)
        .select(F.col("event_id"), F.col("event_type"), F.col("cents"),
          F.round(F.col("w_lo"), 6).as("lo6"),
          F.round(F.col("w_hi"), 6).as("hi6"),
          F.round(F.col("cents_w"), 6).as("w6"))),
    "agg_linear_fit" -> ((s, d) =>
      // per-item quantity trend over order date: exact integer OLS
      // sufficient statistics, rational slope + fixed-point ppm
      graft.core.Ops.groupLinearFit(
        Tables.interactions(s, d).select(F.col("item_id"),
          F.datediff(F.col("timestamp"), F.lit("1995-01-01")).as("x"),
          F.col("rating").cast("long").as("y")),
        Seq("item_id"), "x", "y")),
    "anomaly_cusum" -> ((s, d) =>
      // per-user CUSUM drift vs a 50.00 target: the clamped recursion as
      // two running windows (drawup identity), exact BIGINT, first-breach
      // timestamp surfaced
      graft.core.Ops.cusumAlarm(
        Tables.events(s, d).select("user_id", "ts", "event_id", "value")
          .withColumn("cents", F.round(F.col("value") * 100).cast("long")),
        Seq("user_id"), "ts", "event_id", "cents", 5000L, 50000L)),
    "streaming_rate_limit" -> ((s, d) =>
      // the 2-long-state streaming throttle run on its batch twin —
      // same oracle as window_rate_limit
      graft.streaming.StreamingOps.streamingRateLimit(
        Tables.events(s, d).select("event_id", "user_id", "ts"),
        "user_id", "ts", "event_id", 3600L, 3)
        .select(F.col("tie").as("event_id"), F.col("key").as("user_id"),
          F.col("ts_us"))),
    "streaming_cusum" -> ((s, d) =>
      // the 3-scalar streaming CUSUM run on its batch twin: one alarm
      // row per drifted key at its exact first breach
      graft.streaming.StreamingOps.streamingCusum(
        Tables.events(s, d).select("user_id", "ts", "event_id", "value")
          .withColumn("cents", F.round(F.col("value") * 100).cast("long")),
        "user_id", "ts", "event_id", "cents", 5000L, 50000L)
        .select(F.col("key").as("user_id"), F.col("alarm_ts_us"),
          F.col("cusum"))),
    "quality_report" -> ((s, d) => {
      // declarative constraint suite over orders + customer: one fused
      // aggregation per table, anti-join referential check, every cell
      // integer — the whole report hash-compares (incl. a deliberately
      // FAILING range rule: only ~20% of orders are under 100k)
      val Q = graft.core.Quality
      Q.check(Tables.orders(s, d), Seq(
          Q.Complete("o_custkey"), Q.Unique("o_orderkey"),
          Q.InRange("o_totalprice", 0.0, 100000.0),
          Q.RefersTo("o_custkey", Tables.customer(s, d), "c_custkey"),
          Q.RowCount(1L, 10000000000L)))
        .unionAll(Q.check(Tables.customer(s, d), Seq(
          Q.Complete("c_name"),
          Q.MatchesPattern("c_name", "^Customer#[0-9]+$"),
          Q.InSet("c_mktsegment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY")),
          Q.Unique("c_custkey"))))
    }),
    "funnel_delays" -> ((s, d) =>
      // time-to-convert per step: exact integer µs delays, mean = sum
      // div n, median doubled back to BIGINT
      graft.core.Funnel.funnelDelays(Tables.events(s, d, cache = false), "user_id",
        "event_type", "ts", Seq("signup", "view", "click", "purchase"),
        Some(F.expr("INTERVAL 7 DAYS")))),
    "graph_kcore" -> ((s, d) =>
      // 4-core of the co-purchase graph by iterative peeling to the
      // exact fixpoint (6/5 rounds at sf0.01/sf0.1); the oracle unrolls
      // 10 idempotent peel rounds
      graft.core.Graph.kCore(coPurchaseEdges(s, d), "src", "dst", k = 4L)),
    "anomaly_seasonal" -> ((s, d) =>
      // per-(type, hour-of-day) expected cents + residual — the
      // seasonality-aware input the drift detectors should consume
      graft.core.Ops.seasonalBaseline(
        Tables.events(s, d).select(F.col("event_id"), F.col("event_type"),
          F.col("ts"), F.round(F.col("value") * 100).cast("long").as("cents")),
        Seq("event_type"), "cents", F.hour(F.col("ts")), "hod")
        .select("event_id", "event_type", "hod", "cents", "baseline",
          "residual")),
    "graph_coreness" -> ((s, d) =>
      // full coreness tiering (capped at 6): successive peels, each
      // level peeling the previous level's induced subgraph; the oracle
      // replays five independent 10-round MATERIALIZED peels and takes
      // each node's max surviving k
      graft.core.Graph.coreNumbers(coPurchaseEdges(s, d), "src", "dst",
        maxK = 6)),
    "graph_bfs" -> ((s, d) =>
      // blast radius: exact hop distance (<= 4) from the every-100th-part
      // seed set over the co-purchase graph; unreached nodes absent
      graft.core.Graph.bfsDistances(
        coPurchaseEdges(s, d),
        Tables.lineitem(s, d).select(F.col("l_partkey").as("node"))
          .filter(F.col("node") % 100 === 0).distinct(),
        "src", "dst", "node", maxDepth = 4)),
    "graph_shortest_paths" -> ((s, d) =>
      // weighted blast radius: exact min cost from the every-100th-part
      // seeds under symmetric synthetic weights 1+(src+dst)%7 — the
      // Bellman-Ford fixpoint (11/15 rounds at sf0.01/sf0.1), oracle
      // unrolls 18 idempotent MATERIALIZED relax rounds
      graft.core.Graph.shortestPaths(
        coPurchaseEdges(s, d)
          .withColumn("weight", F.lit(1L) + (F.col("src") + F.col("dst")) % 7),
        Tables.lineitem(s, d).select(F.col("l_partkey").as("node"))
          .filter(F.col("node") % 100 === 0).distinct()),
    ),
    "graph_hits" -> ((s, d) =>
      // 2-iteration HITS over the directed query→item purchase graph in
      // exact BIGINT with L1 renorm (users: pure hubs; items: pure
      // authorities — exercises both zero-sides). The oracle replays all
      // 4 half-steps with `//` and greatest(1, tot // mass)
      graft.core.Graph.hits(
        Tables.interactions(s, d).select(F.col("query_id").as("src"),
          (F.col("item_id") + F.lit(1000000L)).as("dst")),
        iterations = 2)),
    "privacy_l_diversity" -> ((s, d) =>
      // l-diversity audit over (mktsegment, nationkey) quasi-identifiers
      // with account balance as the sensitive attribute: occupancy +
      // distinct-sensitive count + the l≥20 verdict, all one groupBy
      graft.core.Ops.lDiversityAudit(Tables.customer(s, d),
        Seq("c_mktsegment", "c_nationkey"), "c_acctbal", 20L)),
    "encode_target_loo" -> ((s, d) =>
      // leakage-safe target encoding of the 50-way item family: each
      // purchase's enc_ppm = exact peer mean rating of its category,
      // excluding itself; singleton categories NULL
      graft.core.Ops.targetEncodeLoo(
        Tables.interactions(s, d)
          .withColumn("cat", F.col("item_id") % 50),
        "cat", "rating")
        .select(F.col("query_id"), F.col("item_id"), F.col("session_id"),
          F.col("enc_ppm"))),
    "ab_test" -> ((s, d) => {
      // two-proportion z² per treatment vs control, exact DECIMAL(38)
      // integer rational (no erf/sqrt/libm): variants by user_id mod 3,
      // conversion = the user ever purchased
      val units = Tables.events(s, d).groupBy("user_id")
        .agg(F.max(F.when(F.col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
        .withColumn("variant",
          F.when(F.col("user_id") % 3 === 0, "control")
            .when(F.col("user_id") % 3 === 1, "blue").otherwise("green"))
      graft.core.Ops.proportionTest(units, "variant", "converted", "control")
    }),
    "metrics_gini_revenue" -> ((s, d) =>
      // Gini over per-part QUANTITY mass (the value-weighted variant):
      // does volume concentrate harder than order counts?
      graft.core.Ops.giniConcentration(Tables.lineitem(s, d), "l_partkey",
        Some("l_quantity"))),
    "graph_ktruss" -> ((s, d) =>
      // 4-truss of the co-purchase graph: every surviving edge closes
      // ≥ 2 triangles among survivors — the triangle-grade community
      // core; the oracle unrolls 8 idempotent peel rounds (orientation,
      // wedge join, per-edge support, filter) as MATERIALIZED CTEs
      graft.core.Graph.kTruss(coPurchaseEdges(s, d), k = 4)),
    "metrics_gini_exposure" -> ((s, d) =>
      // exact Gini of part exposure: is demand concentrated on a few
      // items? Ranks from the range-partitioned prefix-sum pass
      graft.core.Ops.giniConcentration(Tables.lineitem(s, d), "l_partkey")),
    "quality_ks_drift" -> ((s, d) => {
      // two-sample KS statistic between the order-parity halves of the
      // quantity column — the cumulative complement of quality_tv_drift,
      // prefix sums distributed
      val li = Tables.lineitem(s, d)
      graft.core.Sketch.ksStatistic(
        li.filter(F.col("l_orderkey") % 2 === 0),
        li.filter(F.col("l_orderkey") % 2 === 1), "l_quantity")
    }),
    "sample_group_weighted" -> ((s, d) =>
      // Efraimidis–Spirakis weighted 5-per-source sample (weight =
      // n_chars): ln(u)/w keys from the md5 uniform, replayed in SQL
      graft.text.Mixing.sampleWeightedKPerGroup(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        Seq("source"), 5, "n_chars", Seq("doc_id"))),
    "layout_overlap_audit" -> ((s, d) =>
      // clustering-factor audit of pseudo-files (orderkey-div-100 groups,
      // partkey min/max ranges): overlaps per file = the data-skipping
      // divisor; quadratic only on catalog-sized metadata
      graft.core.Ops.rangeOverlapAudit(
        Tables.lineitem(s, d)
          .groupBy(F.expr("l_orderkey div 100").as("file"))
          .agg(F.min("l_partkey").as("lo"), F.max("l_partkey").as("hi")),
        "lo", "hi")),
    "streaming_golden_record" -> ((s, d) =>
      // the incremental MDM twin run in batch mode on the same masked
      // feed as dedup_golden_record — per-attribute latest-non-null state
      graft.streaming.StreamingOps.streamingGoldenRecord(
        Tables.documents(s, d)
          .withColumn("lang2", F.when(F.col("doc_id") % 3 === 0,
            F.lit(null).cast("string")).otherwise(F.col("lang")))
          .withColumn("source2", F.when(F.col("doc_id") % 5 === 0,
            F.lit(null).cast("string")).otherwise(F.col("source")))
          .withColumn("cluster", F.col("doc_id") % 700),
        "cluster", "doc_id", "lang2", "source2").toDF()
        .select(F.col("key").as("cluster"), F.col("a"), F.col("b"),
          F.col("n_merged"))),
    "encode_impute_mode" -> ((s, d) =>
      // modal imputation: segments masked on a residue pattern get their
      // nation's most frequent segment back (ties → smallest value)
      graft.core.Ops.imputeMode(
        Tables.customer(s, d).withColumn("seg",
          F.when(F.col("c_custkey") % 7 === 0, F.lit(null).cast("string"))
            .otherwise(F.col("c_mktsegment"))),
        Seq("c_nationkey"), "seg")
        .select("c_custkey", "c_nationkey", "seg", "seg_imputed")),
    "analytics_weekly_quantiles" -> ((s, d) =>
      // per-week exact interpolated quantity percentiles (6dp-rounded,
      // the winsorize-proven cross-engine form) + exact mean
      Tables.interactions(s, d)
        .groupBy(F.expr("unix_micros(CAST(timestamp AS TIMESTAMP))"
          + " div 604800000000").as("week"))
        .agg(F.count(F.lit(1)).as("n"),
          F.expr("sum(CAST(rating AS BIGINT)) div count(1)").as("mean_qty"),
          F.round(F.percentile(F.col("rating"), F.lit(0.5)), 6).as("p50"),
          F.round(F.percentile(F.col("rating"), F.lit(0.9)), 6).as("p90"))),
    "embed_label_centroids" -> ((s, d) =>
      // exact per-label centroid stats over the int8 codes (float means
      // are summation-order-sensitive; code sums are BIGINT-exact) —
      // the embedding-space separation/drift audit
      graft.text.Quantize.labelCentroids(
        Tables.embeddings(s, d), "label", "embedding")),
    "anomaly_peaks" -> ((s, d) =>
      // local spikes in each user's cents series: v beats both neighbors
      // by ≥ 2000 cents; endpoints never peak
      graft.core.Ops.detectPeaks(
        Tables.events(s, d).withColumn("cents",
          F.floor(F.col("value") * 100).cast("long")),
        Seq("user_id"), "ts", "cents", 2000L, Seq("event_id"))
        .select("event_id", "user_id", "cents", "is_peak")),
    "quality_tv_drift" -> ((s, d) => {
      // distribution drift between the two order-parity halves of the
      // quantity column: exact half-L1 over the shared 50-bin histogram
      val li = Tables.lineitem(s, d)
      def half(m: Int) = graft.core.Sketch.histogramBins(
        li.filter(F.col("l_orderkey") % 2 === m), "l_quantity",
        lo = 1.0, hi = 51.0, bins = 50)
      graft.core.Sketch.tvDistance(half(0), half(1))
    }),
    "analytics_trending" -> ((s, d) =>
      // weekly item-category trends over purchases: exact
      // period-over-period growth ppm (fixed 200-way category space)
      graft.core.Funnel.trending(
        Tables.interactions(s, d)
          .withColumn("cat", F.col("item_id") % 200),
        Seq("cat"), "timestamp")),
    "analytics_dau" -> ((s, d) =>
      // DAU/WAU/stickiness over the event stream — trailing-7-day
      // distinct via the calendar×activity range join
      graft.core.Funnel.activeUsers(Tables.events(s, d), "user_id", "ts")),
    "analytics_bounce" -> ((s, d) =>
      // session engagement summary at the 30-minute gap rule: bounce
      // share, events/session, mean duration — all exact integers
      graft.core.Funnel.sessionStats(Tables.events(s, d),
        "user_id", "ts", "event_id", 1800L)),
    "analytics_interarrival" -> ((s, d) =>
      // per-user inter-arrival µs deltas folded to one row: exact mean,
      // winsorize-proven 6dp percentiles
      graft.core.Ops.interArrivalStats(Tables.events(s, d),
        Seq("user_id"), "ts", Seq("event_id"))),
    "quality_skew" -> ((s, d) =>
      // pre-shuffle key-skew audit of the lineitem part key: top-1/top-10
      // shares via the bounded heap, exact ppm
      graft.core.Ops.skewReport(Tables.lineitem(s, d), "l_partkey")),
    "window_rolling_distinct" -> ((s, d) =>
      // exact distinct event types per user over a trailing 6-hour RANGE
      // frame (simultaneous rows are peers)
      graft.core.Ops.rollingDistinct(Tables.events(s, d),
        Seq("user_id"), "ts", "event_type", 21600L)
        .select("event_id", "user_id", "rolling_distinct")),
    "basket_triples" -> ((s, d) =>
      // frequent 3-itemsets over order baskets (support ≥ 2) in a FIXED
      // 2000-way category space (so the statistic stays dense as the
      // catalog scales) — the Apriori level above the pairwise rules
      graft.core.Ops.frequentTriples(
        Tables.lineitem(s, d)
          .select(F.col("l_orderkey").as("bk"),
            (F.col("l_partkey") % 2000).as("it")),
        "bk", "it", minSupport = 2L)),
    "text_keywords" -> ((s, d) =>
      // per-doc keyword extraction on the exact tf/df rational (TF-IDF
      // without the libm log), top-3 by (score, term)
      graft.text.Retrieval.keywords(Tables.documents(s, d), k = 3)),
    "quality_date_gaps" -> ((s, d) =>
      // calendar holes in the orders feed: 6 real gaps at sf0.01 —
      // the backfill planner's worklist
      graft.core.Quality.dateGaps(Tables.orders(s, d), "o_orderdate")),
    "privacy_rand_response" -> ((s, d) =>
      // local-DP randomized response (p=1/4 from the portable hash) over
      // "did this event purchase", debiased back to an exact ppm share
      graft.core.Ops.rrDebias(
        graft.core.Ops.randomizedResponse(
          Tables.events(s, d)
            .withColumn("truth", F.col("event_type") === "purchase"),
          "event_id", "truth", 1L, 4L),
        "reported", 1L, 4L)),
    "metrics_cohens_kappa" -> ((s, d) =>
      // agreement between two document-quality raters (char-length vs
      // word-count thresholds): exact rational κ, sign after division
      graft.core.Ops.cohensKappa(
        Tables.documents(s, d)
          .withColumn("ra", F.col("n_chars") > 300)
          .withColumn("rb", F.length(F.col("text")) -
            F.length(F.translate(F.col("text"), " ", "")) + 1 > 45),
        "ra", "rb")),
    "dedup_golden_record" -> ((s, d) =>
      // survivorship after clustering: doc_id%700 clusters, lang/source
      // masked on residue patterns — each attribute takes its latest
      // non-null version
      graft.core.Ops.goldenRecord(
        Tables.documents(s, d)
          .withColumn("lang2", F.when(F.col("doc_id") % 3 === 0, F.lit(null)
            .cast("string")).otherwise(F.col("lang")))
          .withColumn("source2", F.when(F.col("doc_id") % 5 === 0,
            F.lit(null).cast("string")).otherwise(F.col("source")))
          .withColumn("cluster", F.col("doc_id") % 700),
        Seq("cluster"), "doc_id", Seq("lang2", "source2"))),
    "join_scd2_lookup" -> ((s, d) => {
      // point-in-time dimension enrichment: each purchase looks up the
      // customer's priority state valid AT ITS OWN timestamp against the
      // scdType2 history — the as-of-the-event leakage guard
      val feed = graft.core.Ops.ensureTimestamp(Tables.orders(s, d),
          "o_orderdate")
        .groupBy(F.col("o_custkey").as("query_id"),
          F.unix_micros(F.col("o_orderdate")).as("version"))
        .agg(F.max("o_orderpriority").as("priority"))
        .withColumn("op", F.lit("upsert"))
      val h = graft.core.Ops.scdType2(feed, Seq("query_id"), "version")
      val facts = graft.core.Ops.ensureTimestamp(
          Tables.interactions(s, d), "timestamp")
        .withColumn("at", F.unix_micros(F.col("timestamp")))
      graft.core.Ops.scd2Lookup(facts, h, Seq("query_id"), "at")
        .select("query_id", "item_id", "session_id", "priority")
    }),
    "encode_minmax" -> ((s, d) =>
      // per-item exact min-max scaling of quantities to ppm (constant
      // items NULL by contract)
      graft.core.Ops.minMaxScale(Tables.interactions(s, d),
        Seq("item_id"), "rating")
        .select("query_id", "item_id", "session_id", "scaled_ppm")),
    "streaming_ewma" -> ((s, d) =>
      // the exact-integer EWMA recurrence run in batch mode; final
      // smoothed value per user — the oracle replays the whole fold with
      // list_reduce and //
      graft.streaming.StreamingOps.streamingEwma(
        Tables.events(s, d).withColumn("cents",
          F.floor(F.col("value") * 100).cast("long")),
        "user_id", "ts", "event_id", "cents", 3L, 10L).toDF()
        .groupBy(F.col("key").as("user_id"))
        .agg(F.max_by(F.col("ewma"),
          F.struct(F.col("ts_us"), F.col("tie"))).as("ewma_final"))),
    "analytics_attribution" -> ((s, d) =>
      // multi-touch attribution with a 2-hour lookback: first/last/linear
      // credits per channel, exact ppm — the marketing-mix answer the
      // single-touch join_attribution gate can't give
      graft.core.Funnel.attributionCredits(Tables.events(s, d),
        "user_id", "event_type", "ts", "event_id", "purchase", 7200L)),
    "window_forward_fill" -> ((s, d) =>
      // LOCF gap repair: every 7th event's cents masked to NULL, then
      // forward-filled per user in (ts, event_id) order
      graft.core.Ops.forwardFill(
        Tables.events(s, d).withColumn("cents",
          F.when(F.col("event_id") % 7 === 0, F.lit(null))
            .otherwise(F.floor(F.col("value") * 100).cast("long"))),
        Seq("user_id"), "ts", "cents", Seq("event_id"))
        .select("event_id", "user_id", "cents", "cents_filled")),
    "scalar_json_extract" -> ((s, d) =>
      // JSON property extraction at scan time (get_json_object — the
      // engine-native path; the oracle mirrors with a regex): per
      // extracted k, event count + exact cents sum
      Tables.events(s, d)
        .withColumn("k",
          F.get_json_object(F.col("props"), "$.k").cast("long"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.floor(F.col("value") * 100).cast("long")).as("cents"))),
    "analytics_pivot" -> ((s, d) =>
      // wide per-user behaviour matrix: pivot on the FIXED event-type
      // catalog (never a distinct-collect), counts with missing cells
      // zeroed
      Tables.events(s, d).groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .select(F.col("user_id") +: Seq("click", "error", "purchase",
          "signup", "view").map(c =>
          F.coalesce(F.col(c), F.lit(0L)).as(c)): _*)),
    "analytics_survival" -> ((s, d) =>
      // churn life table: per-user activity span in HOURS (event = ever
      // purchased, else censored) → at-risk suffix counts via the
      // distributed prefix sum + exact hazards
      graft.core.Funnel.survivalHazard(
        Tables.events(s, d).groupBy("user_id").agg(
          F.expr("(max(unix_micros(ts)) - min(unix_micros(ts)))"
            + " div 3600000000").as("dur"),
          F.max(F.when(F.col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("ev")),
        "dur", "ev")),
    "analytics_ltv" -> ((s, d) =>
      // DAILY cohort LTV curves: value cents (floor in BOTH engines —
      // casts disagree on rounding), cumulative per cohort age, floored
      // per-user cumulative
      graft.core.Funnel.ltvCohorts(
        Tables.events(s, d).withColumn("cents",
          F.floor(F.col("value") * 100).cast("long")),
        "user_id", "ts", "cents", periodSeconds = 86400L)),
    "graph_degrees" -> ((s, d) =>
      // per-node degree triple of the directed query→item purchase graph
      // (users: in 0; items: out 0) — the skew probe run before any wedge
      // join is attempted
      graft.core.Graph.degreeStats(
        Tables.interactions(s, d).select(F.col("query_id").as("src"),
          (F.col("item_id") + F.lit(1000000L)).as("dst")))),
    "graph_reciprocity" -> ((s, d) =>
      // reciprocity of the directed "bought strictly after" part graph
      // (src bought before dst within an order pair): share of pairs that
      // also occur reversed elsewhere
      graft.core.Graph.reciprocity(
        coPurchaseEdges(s, d).filter(F.col("src") < F.col("dst"))
          .unionAll(coPurchaseEdges(s, d)
            .filter(F.col("src") % 3 === 0)))),
    "quality_profile" -> ((s, d) =>
      // one-pass typed column profile of orders: nulls + exact distinct
      // per column, min/max for integrals, length bounds for strings,
      // long format — the drift-diff snapshot
      graft.core.Quality.profile(Tables.orders(s, d))),
    "layout_compaction" -> ((s, d) =>
      // compaction planning as data: parts binned by cumulative size into
      // ~100k-unit bins along the key order — the distributed prefix sum,
      // never a global window
      graft.core.Ops.compactionBins(
        Tables.part(s, d).select(F.col("p_partkey"),
          F.floor(F.col("p_retailprice")).cast("long").as("sz")),
        "sz", 100000L, F.col("p_partkey"))
        .select("p_partkey", "bin")),
    "analytics_chi2" -> ((s, d) =>
      // χ² independence cells between market segment and order priority:
      // full 5×5 grid incl. structural zeros, per-cell exact DECIMAL(38)
      // ppm terms — Σ term_ppm vs the χ²₁₆ critical value is the verdict
      graft.core.Ops.chiSquareCells(
        Tables.orders(s, d).join(Tables.customer(s, d),
          F.col("o_custkey") === F.col("c_custkey")),
        "c_mktsegment", "o_orderpriority")),
    "window_interval_merge" -> ((s, d) =>
      // coalesce each user's 10-minute activity spans into merged
      // intervals: running-max-end break flags + per-key cumsum groups,
      // exact µs integers end to end
      graft.core.Ops.mergeIntervals(
        Tables.events(s, d).select(F.col("user_id"),
          F.unix_micros(F.col("ts")).as("s"),
          (F.unix_micros(F.col("ts")) + F.lit(600000000L)).as("e")),
        Seq("user_id"), "s", "e")),
    "quality_benford" -> ((s, d) =>
      // Benford first-digit audit of order totals: leading digit from the
      // BIGINT's decimal string, expected table hardcoded in ppm — every
      // cell integer, no libm anywhere
      graft.core.Quality.benfordAudit(Tables.orders(s, d), "o_totalprice")),
    "analytics_sequences" -> ((s, d) =>
      // frequent behavioural trigrams over user timelines (every sliding
      // occurrence, support ≥ 5): the PrefixSpan-lite tier above
      // event_transitions' pairs
      graft.core.Ops.sequenceCounts(
        Tables.events(s, d).select("user_id", "event_type", "ts", "event_id"),
        "user_id", "event_type", "ts", Seq("event_id"),
        n = 3, minCount = 5L)),
    "streaming_transitions" -> ((s, d) => {
      // the streaming Markov twin run in batch mode: O(keys) last-event
      // state emits adjacency pairs, counted downstream — shares
      // event_transitions' oracle because the pair stream IS the batch
      // operator's lag pairs
      val pairs = graft.streaming.StreamingOps.streamingTransitions(
        Tables.events(s, d).select("user_id", "event_type", "ts", "event_id"),
        "user_id", "event_type", "ts", "event_id").toDF()
      val cnt = pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).as("cnt"))
      val tot = cnt.groupBy("from_type").agg(F.sum("cnt").as("_tot"))
      cnt.join(F.broadcast(tot), Seq("from_type"))
        .select(F.col("from_type"), F.col("to_type"), F.col("cnt"),
          F.expr("(cnt * 1000000) div _tot").as("prob_ppm"))
    }),
    "analytics_rfm" -> ((s, d) =>
      // RFM customer tiering over the purchase log: exact µs recency,
      // lineitem frequency, quantity monetary, quintile scores against
      // interpolated percentiles (percentile ≡ quantile_cont, the proven
      // cross-engine pair), segment = r·100+f·10+m
      graft.core.Funnel.rfmSegments(Tables.interactions(s, d),
        "query_id", "timestamp", "rating")),
    "anomaly_acf" -> ((s, d) =>
      // per-user lag-1/2 autocorrelation of the event-value series in
      // exact integer sufficient stats + signed r² ppm via DECIMAL(38);
      // floor() before the cast because Spark casts truncate while DuckDB
      // CAST rounds (the winsorize lesson)
      graft.core.Ops.autocorrStats(
        Tables.events(s, d)
          .withColumn("v", F.floor(F.col("value")).cast("long")),
        Seq("user_id"), "ts", "v", maxLag = 2, tieCols = Seq("event_id"))),
    "mixture_repeat" -> ((s, d) =>
      // exact up/down-sampling to 40 docs per source: at sf0.01 each
      // 25-doc source gets 1 full copy + a 15-row hash-ranked top-up; at
      // sf0.1 the 250-doc sources degenerate to the exact 40-subsample —
      // one operator, both regimes, every copy index replayed in SQL
      graft.text.Mixing.repeatToTarget(
        Tables.documents(s, d).select("doc_id", "source"),
        Seq("source"), 40L, Seq("doc_id"))),
    "metrics_ci_hit_rate" -> ((s, d) => {
      // metric WITH uncertainty in one call: the proven per-user
      // hit_rate@5 pipeline (PopRec on the time split) piped into the
      // Poisson bootstrap — mean and nearest-rank 95% bounds, every
      // draw replayed in SQL
      val i = Tables.interactions(s, d)
      val marked = graft.splitters.TimeSplitter.byQuantile(i, 0.8)
      val train = marked.filter(!F.col("is_test")).drop("is_test")
      val test = marked.filter(F.col("is_test")).drop("is_test")
      val recs = new models.PopRec().fitPredict(train, 5)
      graft.metrics.Metrics.computeWithCI(recs,
        test.select("query_id", "item_id").distinct(), "hit_rate", 5)
    }),
  )

  /** Parts-bought-together edge list: every-40th order's lineitems,
    * item pairs co-occurring in one order (the graph gates' shared
    * input — canonicalization happens inside the graph operators). */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(F.col("l_orderkey") % 40 === 0)
      .select(F.col("l_orderkey"), F.col("l_partkey"))
    li.select(F.col("l_orderkey"), F.col("l_partkey").as("src"))
      .join(li.select(F.col("l_orderkey"), F.col("l_partkey").as("dst")),
        Seq("l_orderkey"))
      .filter(F.col("src") =!= F.col("dst"))
      .select("src", "dst")
  }

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "agg_stats" ->
      s"""$interactionsSql
         |SELECT min(rating) AS min_rating, max(rating) AS max_rating,
         |  round(avg(rating), 6) AS mean_rating,
         |  count(rating) AS count_rating,
         |  round(coalesce(stddev_samp(rating), 0), 6) AS stddev_rating
         |FROM interactions""".stripMargin,
    "agg_group_distinct" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "window_top_k" ->
      s"""$interactionsSql,
         |agg AS (SELECT query_id, item_id, sum(rating) AS score
         |        FROM interactions GROUP BY 1, 2)
         |SELECT query_id, item_id, score, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, item_id) AS rank
         |  FROM agg) WHERE rank <= 3""".stripMargin,
    "window_top_k_bounded" ->
      s"""$interactionsSql,
         |agg AS (SELECT query_id, item_id, sum(rating) AS score
         |        FROM interactions GROUP BY 1, 2)
         |SELECT query_id, item_id, score FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, item_id) AS rank
         |  FROM agg) WHERE rank <= 3""".stripMargin,
    "window_dedup_keep_max" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY value DESC, event_id) AS _rn
        |  FROM events) WHERE _rn = 1""".stripMargin,
    "window_cumsum" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER w, 2) AS cum_value,
        |  count(*) OVER w AS cum_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "window_global_rank" ->
      s"""$interactionsSql,
         |pop AS (SELECT item_id, sum(rating) AS score
         |        FROM interactions GROUP BY 1)
         |SELECT item_id, score, rank FROM (
         |  SELECT *, row_number() OVER (ORDER BY score DESC, item_id) AS rank
         |  FROM pop) WHERE rank <= 100""".stripMargin,
    "filter_low_rating" ->
      s"""$interactionsSql
         |SELECT query_id, item_id, rating,
         |  CAST(timestamp AS DATE) AS order_date
         |FROM interactions WHERE rating >= 25""".stripMargin,
    "filter_time_period" ->
      """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,
    "filter_global_days" ->
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
        |WHERE ts < (SELECT min(ts) FROM events) + INTERVAL 7 DAY""".stripMargin,
    "filter_entity_days" ->
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM (
        |  SELECT *, min(ts) OVER (PARTITION BY user_id) AS t0 FROM events)
        |WHERE ts < t0 + INTERVAL 3 DAY""".stripMargin,
    "filter_num_interactions" ->
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS _rn
        |  FROM events) WHERE _rn <= 5""".stripMargin,
    "filter_min_count" ->
      """SELECT event_id, user_id FROM events
        |WHERE user_id IN (
        |  SELECT user_id FROM events GROUP BY user_id HAVING count(*) >= 70)""".stripMargin,
    "filter_consecutive_duplicates" ->
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT *, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS _prev
        |  FROM events)
        |WHERE _prev IS NULL OR _prev <> event_type""".stripMargin,
    "filter_cold_items" ->
      s"""$interactionsSql
         |SELECT query_id, item_id, rating FROM interactions
         |WHERE item_id IN (SELECT p_partkey FROM part WHERE p_size >= 25)""".stripMargin,
    // filter_interaction_entries: the fixpoint loop unrolled to 24 steps —
    // each step is idempotent once converged, so unrolling past the actual
    // iteration count (3-4 at sf0.01) is a no-op; 24 is a ~6x margin over
    // anything observed (the Spark side iterates to the true fixpoint).
    "filter_interaction_entries" -> {
      val steps = (1 to 24).map { i =>
        s"""s$i AS (SELECT query_id, item_id, rating, session_id FROM (
           |  SELECT *, count(*) OVER (PARTITION BY query_id) AS cu,
           |            count(*) OVER (PARTITION BY item_id) AS ci
           |  FROM s${i - 1}) WHERE cu >= 10 AND ci >= 3)""".stripMargin
      }.mkString(",\n")
      s"""$interactionsSql,
         |s0 AS (SELECT query_id, item_id, rating, session_id FROM interactions),
         |$steps
         |SELECT query_id, item_id, rating, session_id FROM s24""".stripMargin
    },
    // greedy discretizer: closed-form walk — f_j = first cumsum crossing of
    // j·perBin; e_j = max over m<=j of (f_m + j - m) ≡ max(e_{j-1}+1, f_j).
    "discretize_greedy" ->
      """WITH hist AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS totc, count(*) AS nvals FROM hist),
        |cum AS (SELECT v, row_number() OVER (ORDER BY v) AS idx,
        |        CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cm
        |        FROM hist),
        |f AS (SELECT j, min(idx) AS fj
        |      FROM cum, range(1, 5) r(j), tot
        |      WHERE cm >= (CAST(totc AS DOUBLE) / 5) * j GROUP BY j),
        |e AS (SELECT a.j, max(b.fj + (a.j - b.j)) AS ej
        |      FROM f a JOIN f b ON b.j <= a.j GROUP BY a.j),
        |edges0 AS (SELECT min(v) AS v FROM hist
        |           UNION
        |           SELECT c.v FROM e JOIN cum c ON c.idx = e.ej
        |             JOIN tot ON e.ej <= tot.nvals
        |           UNION
        |           SELECT max(v) FROM hist),
        |inner_e AS (SELECT v AS e FROM edges0
        |            WHERE v > (SELECT min(v) FROM edges0)
        |              AND v < (SELECT max(v) FROM edges0))
        |SELECT d.doc_id, d.n_chars, CAST(count(i.e) AS BIGINT) AS n_chars_bucket
        |FROM documents d LEFT JOIN inner_e i ON d.n_chars >= i.e
        |GROUP BY 1, 2""".stripMargin,
    "discretize_quantile" ->
      """WITH q AS (SELECT quantile_cont(n_chars, [0.0, 0.2, 0.4, 0.6, 0.8, 1.0]) AS qs
        |           FROM documents),
        |edges0 AS (SELECT DISTINCT unnest(qs) AS v FROM q),
        |inner_e AS (SELECT v AS e FROM edges0
        |            WHERE v > (SELECT min(v) FROM edges0)
        |              AND v < (SELECT max(v) FROM edges0))
        |SELECT d.doc_id, d.n_chars, CAST(count(i.e) AS BIGINT) AS n_chars_bucket
        |FROM documents d LEFT JOIN inner_e i ON d.n_chars >= i.e
        |GROUP BY 1, 2""".stripMargin,
    "label_encode_fit" ->
      """SELECT item_id AS label, row_number() OVER (ORDER BY item_id) - 1 AS code
        |FROM (SELECT DISTINCT l_partkey AS item_id FROM lineitem)""".stripMargin,
    // max-bound fixpoint variant, same 24-step idempotent unroll
    "filter_interaction_entries_max" -> {
      val steps = (1 to 24).map { i =>
        s"""t$i AS (SELECT query_id, item_id, rating, session_id FROM (
           |  SELECT *, count(*) OVER (PARTITION BY query_id) AS cu,
           |            count(*) OVER (PARTITION BY item_id) AS ci
           |  FROM t${i - 1}) WHERE cu <= 50 AND ci >= 3)""".stripMargin
      }.mkString(",\n")
      s"""$interactionsSql,
         |t0 AS (SELECT query_id, item_id, rating, session_id FROM interactions),
         |$steps
         |SELECT query_id, item_id, rating, session_id FROM t24""".stripMargin
    },
    "label_encode_drop" ->
      s"""$interactionsSql,
         |m AS (SELECT label, row_number() OVER (ORDER BY label) - 1 AS code
         |      FROM (SELECT DISTINCT l_partkey AS label FROM lineitem
         |            WHERE l_partkey % 3 = 0))
         |SELECT i.query_id, m.code AS item_id
         |FROM interactions i JOIN m ON i.item_id = m.label""".stripMargin,
    "label_encode_default" ->
      s"""$interactionsSql,
         |m AS (SELECT label, row_number() OVER (ORDER BY label) - 1 AS code
         |      FROM (SELECT DISTINCT l_partkey AS label FROM lineitem
         |            WHERE l_partkey % 3 = 0))
         |SELECT i.query_id, CAST(coalesce(m.code, -1) AS BIGINT) AS item_id
         |FROM interactions i LEFT JOIN m ON i.item_id = m.label""".stripMargin,
    // encode→decode is the identity on seen labels
    "label_encode_roundtrip" ->
      s"""$interactionsSql
         |SELECT query_id, item_id FROM interactions""".stripMargin,
    // partialFit: fresh labels sorted AFTER the fitted block, codes
    // continuing from count(fitted)
    "label_encode_partial" ->
      """WITH a AS (SELECT DISTINCT l_partkey AS label FROM lineitem
        |           WHERE l_quantity <= 25),
        |ca AS (SELECT label, row_number() OVER (ORDER BY label) - 1 AS code FROM a),
        |fresh AS (SELECT DISTINCT l_partkey AS label FROM lineitem
        |          WHERE l_partkey NOT IN (SELECT label FROM a)),
        |cf AS (SELECT label,
        |  (SELECT count(*) FROM a) + row_number() OVER (ORDER BY label) - 1 AS code
        |  FROM fresh)
        |SELECT label, CAST(code AS BIGINT) AS code FROM ca
        |UNION ALL
        |SELECT label, CAST(code AS BIGINT) AS code FROM cf""".stripMargin,
    "label_encode_transform" ->
      s"""$interactionsSql,
         |enc AS (
         |  SELECT item_id AS label, row_number() OVER (ORDER BY item_id) - 1 AS code
         |  FROM (SELECT DISTINCT item_id FROM interactions))
         |SELECT i.query_id, e.code AS item_id, i.rating, i.session_id
         |FROM interactions i JOIN enc e ON i.item_id = e.label""".stripMargin,
    "sessionize" ->
      """SELECT event_id, user_id, CAST(session_seq AS BIGINT) AS session_seq FROM (
        |  SELECT event_id, user_id,
        |    sum(CASE WHEN _prev IS NULL
        |             OR epoch_us(ts) - epoch_us(_prev) >= 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM (SELECT *, lag(ts) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS _prev
        |        FROM events))""".stripMargin,
    "sessionize_filtered" ->
      """WITH se AS (
        |  SELECT event_id, user_id,
        |    sum(CASE WHEN _prev IS NULL
        |             OR epoch_us(ts) - epoch_us(_prev) >= 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM (SELECT *, lag(ts) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS _prev
        |        FROM events)),
        |sized AS (SELECT *, count(*) OVER (PARTITION BY user_id, session_seq) AS n
        |          FROM se)
        |SELECT event_id, user_id, CAST(session_seq AS BIGINT) AS session_seq
        |FROM sized WHERE n >= 3""".stripMargin,
    "split_ratio" ->
      """SELECT event_id, user_id, (_rn > _n * (1 - CAST(0.2 AS DOUBLE))) AS is_test FROM (
        |  SELECT event_id, user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _rn,
        |    count(*) OVER (PARTITION BY user_id) AS _n
        |  FROM events)""".stripMargin,
    "split_ratio_repaired" ->
      s"""$interactionsSql,
         |i0 AS (SELECT DISTINCT query_id, item_id, timestamp, session_id
         |       FROM interactions),
         |marked AS (
         |  SELECT query_id, item_id, session_id, timestamp,
         |    (row_number() OVER (PARTITION BY query_id
         |       ORDER BY timestamp, session_id, item_id)
         |     > count(*) OVER (PARTITION BY query_id) * (1 - CAST(0.2 AS DOUBLE))) AS is_test
         |  FROM i0),
         |repaired AS (
         |  SELECT query_id, item_id, session_id,
         |    last_value(is_test) OVER (
         |      PARTITION BY query_id, session_id ORDER BY timestamp, item_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS is_test
         |  FROM marked)
         |SELECT query_id, item_id, session_id FROM repaired
         |WHERE is_test AND item_id IN (
         |  SELECT DISTINCT item_id FROM repaired WHERE NOT is_test)""".stripMargin,
    "split_last_n_seconds" ->
      """SELECT event_id, user_id,
        |  (CAST(floor(epoch(ts)) AS BIGINT) >
        |   CAST(floor(epoch(_mx)) AS BIGINT) - 604800) AS is_test FROM (
        |  SELECT event_id, user_id, ts,
        |    max(ts) OVER (PARTITION BY user_id) AS _mx
        |  FROM events)""".stripMargin,
    "split_last_n" ->
      """SELECT event_id, user_id, (_rn > _n - 2) AS is_test FROM (
        |  SELECT event_id, user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _rn,
        |    count(*) OVER (PARTITION BY user_id) AS _n
        |  FROM events)""".stripMargin,
    "split_time_quantile" ->
      """WITH counts AS (SELECT ts, count(*) AS c FROM events GROUP BY ts),
        |cum AS (SELECT ts, CAST(sum(c) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM counts),
        |cut AS (SELECT min(ts) AS t FROM cum
        |        WHERE cum >= ceil((SELECT count(*) FROM events) * CAST(0.8 AS DOUBLE)))
        |SELECT event_id, user_id, (ts > (SELECT t FROM cut)) AS is_test
        |FROM events""".stripMargin,
    "split_new_users" ->
      """WITH firsts AS (SELECT user_id, min(ts) AS ft FROM events GROUP BY 1),
        |ranked AS (SELECT user_id,
        |    row_number() OVER (ORDER BY ft DESC, user_id DESC) AS rn,
        |    count(*) OVER () AS n FROM firsts),
        |flags AS (SELECT user_id, (rn <= n * CAST(0.2 AS DOUBLE)) AS isn FROM ranked)
        |SELECT e.event_id, e.user_id, coalesce(f.isn, false) AS is_test
        |FROM events e LEFT JOIN flags f USING (user_id)""".stripMargin,
    "split_cold_user" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |ranked AS (SELECT user_id,
        |    row_number() OVER (
        |      ORDER BY md5('42:' || CAST(user_id AS VARCHAR)), user_id) AS rn,
        |    count(*) OVER () AS n FROM users),
        |flags AS (SELECT user_id, (rn <= n * CAST(0.2 AS DOUBLE)) AS p FROM ranked)
        |SELECT e.event_id, e.user_id, coalesce(f.p, false) AS is_test
        |FROM events e LEFT JOIN flags f USING (user_id)""".stripMargin,
    "split_two_stage" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |ranked AS (SELECT user_id,
        |    row_number() OVER (
        |      ORDER BY md5('42:' || CAST(user_id AS VARCHAR)), user_id) AS rn,
        |    count(*) OVER () AS n FROM users),
        |flags AS (SELECT user_id, (rn <= n * CAST(0.5 AS DOUBLE)) AS p FROM ranked)
        |SELECT e.event_id, e.user_id,
        |  (coalesce(f.p, false) AND _rn > _cnt * (1 - CAST(0.3 AS DOUBLE))) AS is_test
        |FROM (SELECT event_id, user_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _rn,
        |        count(*) OVER (PARTITION BY user_id) AS _cnt
        |      FROM events) e LEFT JOIN flags f USING (user_id)""".stripMargin,
    "split_kfolds" ->
      """SELECT event_id, user_id,
        |  (row_number() OVER (PARTITION BY user_id
        |     ORDER BY md5('42:' || CAST(event_id AS VARCHAR)), event_id) - 1) % 3
        |  AS fold
        |FROM events""".stripMargin,
    "split_random_next_n" ->
      """SELECT event_id, user_id,
        |  (_rn > _cut AND _rn <= _cut + 3) AS is_test FROM (
        |  SELECT event_id, user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _rn,
        |    ('0x' || substr(md5('42:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |      % (count(*) OVER (PARTITION BY user_id)) AS _cut
        |  FROM events)""".stripMargin,
    "split_hash_random" ->
      """SELECT event_id, user_id,
        |  (('0x' || substr(md5('42:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |    / 1152921504606846976.0 < 0.2) AS is_test
        |FROM events""".stripMargin,
    "model_pop_rec" ->
      s"""$interactionsSql
         |SELECT item_id,
         |  count(DISTINCT query_id) /
         |    CAST((SELECT count(DISTINCT query_id) FROM interactions) AS DOUBLE)
         |  AS rating
         |FROM interactions GROUP BY item_id""".stripMargin,
    "model_pop_rec_predict" ->
      s"""$interactionsSql,
         |pop AS (
         |  SELECT item_id,
         |    count(DISTINCT query_id) /
         |      CAST((SELECT count(DISTINCT query_id) FROM interactions) AS DOUBLE)
         |    AS rating
         |  FROM interactions GROUP BY item_id),
         |ms AS (SELECT max(c) AS mx FROM (
         |  SELECT count(*) AS c FROM interactions GROUP BY query_id)),
         |ranked AS (SELECT item_id, rating,
         |  row_number() OVER (ORDER BY rating DESC, item_id) AS rnk FROM pop),
         |cand AS (
         |  SELECT q.query_id, r.item_id, r.rating
         |  FROM (SELECT DISTINCT query_id FROM interactions) q
         |  CROSS JOIN ranked r WHERE r.rnk <= 5 + (SELECT mx FROM ms)),
         |unseen AS (
         |  SELECT c.* FROM cand c ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) s
         |    ON c.query_id = s.query_id AND c.item_id = s.item_id)
         |SELECT query_id, item_id, rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin,
    "model_pop_rec_items_cold" ->
      s"""$interactionsSql,
         |pop AS (
         |  SELECT item_id,
         |    count(DISTINCT query_id) /
         |      CAST((SELECT count(DISTINCT query_id) FROM interactions) AS DOUBLE)
         |    AS rating
         |  FROM interactions GROUP BY item_id),
         |cand AS (
         |  SELECT p_partkey AS item_id FROM part WHERE p_partkey <= 3
         |  UNION ALL
         |  SELECT p_partkey + 10000000 FROM part WHERE p_size >= 45),
         |spop AS (
         |  SELECT c.item_id,
         |    coalesce(pop.rating, (SELECT min(rating) FROM pop) * 0.5) AS rating
         |  FROM cand c LEFT JOIN pop ON c.item_id = pop.item_id),
         |ranked AS (SELECT item_id, rating,
         |  row_number() OVER (ORDER BY rating DESC, item_id) AS rnk FROM spop),
         |seen AS (SELECT query_id, count(DISTINCT item_id) AS s
         |         FROM interactions GROUP BY 1),
         |percand AS (
         |  SELECT q.query_id, r.item_id, r.rating
         |  FROM (SELECT DISTINCT query_id FROM interactions) q
         |  JOIN seen s ON q.query_id = s.query_id
         |  JOIN ranked r ON r.rnk <= 5 + s.s),
         |unseen AS (
         |  SELECT c.* FROM percand c ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) se
         |    ON c.query_id = se.query_id AND c.item_id = se.item_id)
         |SELECT query_id, item_id, rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin,
    "model_pop_rec_items" ->
      s"""$interactionsSql,
         |pop AS (
         |  SELECT item_id,
         |    count(DISTINCT query_id) /
         |      CAST((SELECT count(DISTINCT query_id) FROM interactions) AS DOUBLE)
         |    AS rating
         |  FROM interactions GROUP BY item_id),
         |rpop AS (SELECT p.* FROM pop p
         |         WHERE p.item_id IN (SELECT p_partkey FROM part WHERE p_size >= 25)),
         |ms AS (SELECT max(c) AS mx FROM (
         |  SELECT count(*) AS c FROM interactions GROUP BY query_id)),
         |ranked AS (SELECT item_id, rating,
         |  row_number() OVER (ORDER BY rating DESC, item_id) AS rnk FROM rpop),
         |cand AS (
         |  SELECT q.query_id, r.item_id, r.rating
         |  FROM (SELECT DISTINCT query_id FROM interactions) q
         |  CROSS JOIN ranked r),
         |percand AS (
         |  SELECT c.* FROM cand c
         |  JOIN (SELECT query_id, count(*) AS seen FROM interactions GROUP BY 1) s
         |    ON c.query_id = s.query_id
         |  JOIN ranked r ON c.item_id = r.item_id
         |  WHERE r.rnk <= 5 + s.seen AND r.rnk <= 5 + (SELECT mx FROM ms)),
         |unseen AS (
         |  SELECT c.* FROM percand c ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) s
         |    ON c.query_id = s.query_id AND c.item_id = s.item_id)
         |SELECT query_id, item_id, rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin,
    "model_predict_proba" ->
      s"""$interactionsSql,
         |pop AS (
         |  SELECT item_id,
         |    count(DISTINCT query_id) /
         |      CAST((SELECT count(DISTINCT query_id) FROM interactions) AS DOUBLE)
         |    AS rating
         |  FROM interactions GROUP BY item_id),
         |ms AS (SELECT max(c) AS mx FROM (
         |  SELECT count(*) AS c FROM interactions GROUP BY query_id)),
         |ranked AS (SELECT item_id, rating,
         |  row_number() OVER (ORDER BY rating DESC, item_id) AS rnk FROM pop),
         |cand AS (
         |  SELECT q.query_id, r.item_id, r.rating
         |  FROM (SELECT DISTINCT query_id FROM interactions) q
         |  CROSS JOIN ranked r WHERE r.rnk <= 5 + (SELECT mx FROM ms)),
         |unseen AS (
         |  SELECT c.* FROM cand c ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) s
         |    ON c.query_id = s.query_id AND c.item_id = s.item_id)
         |SELECT query_id, item_id, CAST(rn - 1 AS BIGINT) AS position,
         |  CAST(1.0 AS DOUBLE) AS prob FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin,
    "model_query_pop" ->
      s"""$interactionsSql
         |SELECT query_id, item_id,
         |  CAST(count(*) AS DOUBLE) /
         |    (sum(count(*)) OVER (PARTITION BY query_id)) AS rating
         |FROM interactions GROUP BY query_id, item_id""".stripMargin,
    "model_wilson" ->
      s"""$interactionsSql,
         |pt AS (
         |  SELECT item_id,
         |    sum(CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END) AS pos,
         |    CAST(count(*) AS DOUBLE) AS total
         |  FROM interactions GROUP BY item_id)
         |SELECT item_id, round(
         |  (pos/total + (1.96*1.96)/(2*total)
         |   - 1.96 * sqrt(((pos/total)*(1 - pos/total) + (1.96*1.96)/(4*total))/total))
         |  / (1 + (1.96*1.96)/total), 6) AS rating
         |FROM pt""".stripMargin,
    "model_ucb" -> ucbBatchSql,
    // refit(tail) after fit(head) must equal the batch formula over the
    // whole log — the oracle IS the batch form (n = Σ total), shared with
    // model_ucb so the "refit ≡ batch" identity cannot drift
    "model_ucb_refit" -> ucbBatchSql,
    // sampled predict: UNROUNDED UCB scores (the engine samples over the
    // raw popularity table), zero-floor + normalize, E–S key from the
    // portable md5 hash, per-query crop at 3 + |seen|, seen anti-join,
    // final rank by selection probability (≡ raw score order)
    "model_ucb_sample" ->
      s"""$ucbRawScoreSql,
         |g AS (SELECT item_id,
         |        CASE WHEN w = 0.0 THEN 1e-6 ELSE w END AS w FROM sc),
         |p AS (SELECT item_id, w / (SELECT sum(w) FROM g) AS prob FROM g),
         |q AS (SELECT DISTINCT query_id FROM interactions),
         |seen AS (SELECT query_id, count(DISTINCT item_id) AS c
         |         FROM interactions GROUP BY 1),
         |keyed AS (
         |  SELECT q.query_id, p.item_id, p.prob,
         |    ln((('0x' || substr(md5('42:' || CAST(q.query_id AS VARCHAR) || ':'
         |           || CAST(p.item_id AS VARCHAR)), 1, 15))::BIGINT
         |         / 1152921504606846976.0) + 1e-18) / p.prob AS ek
         |  FROM q CROSS JOIN p),
         |drawn AS (
         |  SELECT query_id, item_id, prob,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY ek DESC, item_id) AS rn
         |  FROM keyed),
         |crop AS (
         |  SELECT d.query_id, d.item_id, d.prob
         |  FROM drawn d JOIN seen s ON d.query_id = s.query_id
         |  WHERE d.rn <= 3 + s.c),
         |unseen AS (
         |  SELECT c.* FROM crop c ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) h
         |    ON c.query_id = h.query_id AND c.item_id = h.item_id)
         |SELECT query_id, item_id, rank FROM (
         |  SELECT query_id, item_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY prob DESC, item_id) AS rank
         |  FROM unseen) WHERE rank <= 3""".stripMargin,
    "model_ucb_sample_proba" ->
      s"""$ucbRawScoreSql,
         |g AS (SELECT item_id,
         |        CASE WHEN w = 0.0 THEN 1e-6 ELSE w END AS w FROM sc),
         |q AS (SELECT DISTINCT query_id FROM interactions WHERE query_id < 100),
         |pos AS (SELECT * FROM (VALUES (0),(1),(2)) AS p(position))
         |SELECT q.query_id, g.item_id, CAST(pos.position AS BIGINT) AS position,
         |  round(g.w / (SELECT sum(w) FROM g), 9) AS prob
         |FROM q CROSS JOIN g CROSS JOIN pos""".stripMargin,
    // KL-UCB: the per-item bisection unrolled as a recursive CTE with the
    // exact same clamp/target/branch arithmetic as the Scala solver.
    "model_klucb" ->
      s"""${interactionsSql.replaceFirst("WITH", "WITH RECURSIVE")},
         |pt AS (
         |  SELECT item_id,
         |    sum(CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END) AS pos,
         |    CAST(count(*) AS DOUBLE) AS total
         |  FROM interactions GROUP BY item_id),
         |base AS (
         |  SELECT item_id,
         |    greatest(least(pos/total, 1 - 1e-9), 1e-9) AS p,
         |    ln((SELECT CAST(count(*) AS DOUBLE) FROM interactions)) / total AS target
         |  FROM pt),
         |bis AS (
         |  SELECT item_id, p, target, p AS lo, 1 - 1e-9 AS hi, 0 AS i FROM base
         |  UNION ALL
         |  SELECT item_id, p, target,
         |    CASE WHEN p * ln(p/mid) + (1-p) * ln((1-p)/(1-mid)) > target
         |         THEN lo ELSE mid END AS lo,
         |    CASE WHEN p * ln(p/mid) + (1-p) * ln((1-p)/(1-mid)) > target
         |         THEN mid ELSE hi END AS hi,
         |    i + 1 AS i
         |  FROM (SELECT *, (lo + hi)/2 AS mid FROM bis
         |        WHERE hi - lo > 1e-9 AND i < 100)),
         |fin AS (SELECT item_id, lo, hi,
         |  row_number() OVER (PARTITION BY item_id ORDER BY i DESC) AS rn FROM bis)
         |SELECT item_id, round((lo + hi)/2, 6) AS rating FROM fin WHERE rn = 1""".stripMargin,
    // LinUCB (d=2): per-arm Gram/b sums, closed-form adjugate inverse and
    // scoring mirrored with the same operand order as the Scala solver.
    "model_linucb" ->
      s"""$interactionsSql,
         |feats AS (SELECT c_custkey AS query_id, c_acctbal/1000 AS f1,
         |          CAST(c_nationkey AS DOUBLE) AS f2 FROM customer),
         |j AS (SELECT i.item_id, f.f1, f.f2,
         |      CASE WHEN i.rating > 25 THEN 1.0 ELSE 0.0 END AS r
         |      FROM interactions i JOIN feats f ON i.query_id = f.query_id),
         |g AS (SELECT item_id, sum(f1*f1) AS g11, sum(f1*f2) AS g12,
         |             sum(f2*f2) AS g22, sum(f1*r) AS b1, sum(f2*r) AS b2
         |      FROM j GROUP BY 1),
         |dets AS (SELECT *, (g11 + 1.0) * (g22 + 1.0) - g12 * g12 AS det FROM g),
         |arms AS (SELECT item_id,
         |  (g22 + 1.0) / det AS ai11, -g12 / det AS ai12,
         |  -g12 / det AS ai21, (g11 + 1.0) / det AS ai22, b1, b2 FROM dets),
         |th AS (SELECT *,
         |  ai11 * b1 + ai12 * b2 AS t1, ai21 * b1 + ai22 * b2 AS t2 FROM arms),
         |sc AS (SELECT f.query_id, a.item_id,
         |  round((t1 * f1 + t2 * f2) + 0.5 * sqrt(greatest(
         |    f1 * (ai11 * f1 + ai12 * f2) + f2 * (ai21 * f1 + ai22 * f2), 0.0)), 9) AS rating
         |  FROM feats f CROSS JOIN th a)
         |SELECT query_id, item_id, round(rating, 6) AS rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM sc) WHERE rn <= 3""".stripMargin,
    "model_random_rec_relevance" ->
      s"""$interactionsSql,
         |w AS (SELECT item_id, CAST(sum(rating) AS DOUBLE) AS wt
         |      FROM interactions GROUP BY 1),
         |scored AS (
         |  SELECT q.query_id, w.item_id,
         |    ln((('0x' || substr(md5('42:' || CAST(q.query_id AS VARCHAR) || ':'
         |           || CAST(w.item_id AS VARCHAR)), 1, 15))::BIGINT
         |         / 1152921504606846976.0) + 1e-18) / wt AS rating
         |  FROM (SELECT DISTINCT query_id FROM interactions) q CROSS JOIN w),
         |unseen AS (
         |  SELECT s.* FROM scored s ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) h
         |    ON s.query_id = h.query_id AND s.item_id = h.item_id)
         |SELECT query_id, item_id, rank FROM (
         |  SELECT query_id, item_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rank
         |  FROM unseen) WHERE rank <= 3""".stripMargin,
    "model_random_rec_proba" ->
      s"""$interactionsSql,
         |w AS (SELECT item_id, CAST(count(*) AS DOUBLE) AS wt
         |      FROM interactions GROUP BY 1),
         |q AS (SELECT DISTINCT query_id FROM interactions WHERE query_id < 100),
         |pos AS (SELECT * FROM (VALUES (0),(1),(2)) AS p(position))
         |SELECT q.query_id, w.item_id, CAST(pos.position AS BIGINT) AS position,
         |  w.wt / (SELECT sum(wt) FROM w) AS prob
         |FROM q CROSS JOIN w CROSS JOIN pos""".stripMargin,
    "model_random_rec" ->
      s"""$interactionsSql,
         |w AS (SELECT item_id, CAST(count(*) AS DOUBLE) AS wt
         |      FROM interactions GROUP BY 1),
         |scored AS (
         |  SELECT q.query_id, w.item_id,
         |    ln((('0x' || substr(md5('42:' || CAST(q.query_id AS VARCHAR) || ':'
         |           || CAST(w.item_id AS VARCHAR)), 1, 15))::BIGINT
         |         / 1152921504606846976.0) + 1e-18) / wt AS rating
         |  FROM (SELECT DISTINCT query_id FROM interactions) q CROSS JOIN w),
         |unseen AS (
         |  SELECT s.* FROM scored s ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) h
         |    ON s.query_id = h.query_id AND s.item_id = h.item_id)
         |SELECT query_id, item_id, rank FROM (
         |  SELECT query_id, item_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rank
         |  FROM unseen) WHERE rank <= 3""".stripMargin,
    "model_item_knn" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.query_id = b.query_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id)
         |SELECT item_one, item_two, similarity FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |  FROM sims) WHERE rn <= 5""".stripMargin,
    // identical SQL to model_item_knn: the incremental-stats rebuild must
    // equal the full fit
    "model_knn_incremental" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.query_id = b.query_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id)
         |SELECT item_one, item_two, similarity FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |  FROM sims) WHERE rn <= 5""".stripMargin,
    "model_item_knn_predict" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.query_id = b.query_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id),
         |top_sims AS MATERIALIZED (
         |  SELECT item_one, item_two, similarity FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |    FROM sims) WHERE rn <= 5),
         |recs AS (
         |  SELECT h.query_id, t.item_two AS item_id,
         |    round(sum(t.similarity), 9) AS rating
         |  FROM (SELECT query_id, item_id FROM interactions) h
         |  JOIN top_sims t ON h.item_id = t.item_one
         |  GROUP BY 1, 2),
         |unseen AS (
         |  SELECT r.* FROM recs r ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) s
         |    ON r.query_id = s.query_id AND r.item_id = s.item_id)
         |SELECT query_id, item_id, round(rating, 6) AS rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin,
    // user-user transpose of the model_item_knn chain: same cosine, same
    // tie order, neighbours per query_one
    "model_user_knn" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |norms AS (SELECT query_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.query_id AS query_one, b.query_id AS query_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.item_id = b.item_id AND a.query_id < b.query_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT query_one, query_two, dot FROM dots
         |        UNION ALL
         |        SELECT query_two, query_one, dot FROM dots),
         |sims AS (
         |  SELECT query_one, query_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.query_one = n1.query_id
         |  JOIN norms n2 ON sym.query_two = n2.query_id)
         |SELECT query_one, query_two, similarity FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_one ORDER BY similarity DESC, query_two) AS rn
         |  FROM sims) WHERE rn <= 5""".stripMargin,
    "model_user_knn_predict" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |norms AS (SELECT query_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.query_id AS query_one, b.query_id AS query_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.item_id = b.item_id AND a.query_id < b.query_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT query_one, query_two, dot FROM dots
         |        UNION ALL
         |        SELECT query_two, query_one, dot FROM dots),
         |sims AS (
         |  SELECT query_one, query_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.query_one = n1.query_id
         |  JOIN norms n2 ON sym.query_two = n2.query_id),
         |tops AS (
         |  SELECT query_one, query_two, similarity FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_one ORDER BY similarity DESC, query_two) AS rn
         |    FROM sims) WHERE rn <= 5),
         |scored AS (
         |  SELECT t.query_one AS query_id, b.item_id,
         |    round(sum(t.similarity), 9) AS rating
         |  FROM tops t JOIN base b ON t.query_two = b.query_id
         |  GROUP BY 1, 2),
         |unseen AS (
         |  SELECT s.* FROM scored s ANTI JOIN base h
         |    ON s.query_id = h.query_id AND s.item_id = h.item_id)
         |SELECT query_id, item_id, round(rating, 6) AS rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin,
    // the knn predict chain (pool of 10) + the 3 MMR greedy steps unrolled:
    // step t picks argmax round(λ·rel − (1−λ)·max_sel sim, 9), ties item asc
    "rerank_mmr" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.query_id = b.query_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id),
         |top_sims AS (
         |  SELECT item_one, item_two, similarity FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |    FROM sims) WHERE rn <= 5),
         |recs AS (
         |  SELECT h.query_id, t.item_two AS item_id,
         |    round(sum(t.similarity), 9) AS rating
         |  FROM (SELECT query_id, item_id FROM interactions) h
         |  JOIN top_sims t ON h.item_id = t.item_one
         |  GROUP BY 1, 2),
         |unseen AS (
         |  SELECT r.* FROM recs r ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) s
         |    ON r.query_id = s.query_id AND r.item_id = s.item_id),
         |pool AS MATERIALIZED (
         |  SELECT query_id, item_id, rating FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |    FROM unseen) WHERE rn <= 10),
         |s1 AS MATERIALIZED (
         |  SELECT query_id, item_id, round(0.5*rating - 0.5*0.0, 9) AS mmr,
         |    CAST(1 AS BIGINT) AS position FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY round(0.5*rating - 0.5*0.0, 9) DESC, item_id) AS rn2
         |    FROM pool) WHERE rn2 = 1),
         |c2 AS (SELECT p.* FROM pool p ANTI JOIN s1 q
         |  ON p.query_id = q.query_id AND p.item_id = q.item_id),
         |p2 AS (SELECT c.query_id, c.item_id, c.rating,
         |    max(coalesce(t.similarity, 0.0)) AS pen
         |  FROM c2 c JOIN s1 s ON c.query_id = s.query_id
         |  LEFT JOIN top_sims t ON t.item_one = c.item_id
         |    AND t.item_two = s.item_id
         |  GROUP BY 1, 2, 3),
         |s2 AS MATERIALIZED (
         |  SELECT query_id, item_id, mmr, CAST(2 AS BIGINT) AS position FROM (
         |    SELECT query_id, item_id, round(0.5*rating - 0.5*pen, 9) AS mmr,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round(0.5*rating - 0.5*pen, 9) DESC, item_id) AS rn2
         |    FROM p2) WHERE rn2 = 1),
         |sel12 AS MATERIALIZED (SELECT query_id, item_id FROM s1
         |          UNION ALL SELECT query_id, item_id FROM s2),
         |c3 AS (SELECT p.* FROM pool p ANTI JOIN sel12 q
         |  ON p.query_id = q.query_id AND p.item_id = q.item_id),
         |p3 AS (SELECT c.query_id, c.item_id, c.rating,
         |    max(coalesce(t.similarity, 0.0)) AS pen
         |  FROM c3 c JOIN sel12 s ON c.query_id = s.query_id
         |  LEFT JOIN top_sims t ON t.item_one = c.item_id
         |    AND t.item_two = s.item_id
         |  GROUP BY 1, 2, 3),
         |s3 AS (
         |  SELECT query_id, item_id, mmr, CAST(3 AS BIGINT) AS position FROM (
         |    SELECT query_id, item_id, round(0.5*rating - 0.5*pen, 9) AS mmr,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round(0.5*rating - 0.5*pen, 9) DESC, item_id) AS rn2
         |    FROM p3) WHERE rn2 = 1)
         |SELECT query_id, item_id, round(mmr, 6) AS mmr, position FROM s1
         |UNION ALL
         |SELECT query_id, item_id, round(mmr, 6) AS mmr, position FROM s2
         |UNION ALL
         |SELECT query_id, item_id, round(mmr, 6) AS mmr, position FROM s3""".stripMargin,
    // the user-knn predict chain keyed on session_id (SKNN)
    "model_session_knn" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT session_id, item_id FROM interactions),
         |norms AS (SELECT session_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.session_id AS s_one, b.session_id AS s_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.item_id = b.item_id AND a.session_id < b.session_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT s_one, s_two, dot FROM dots
         |        UNION ALL
         |        SELECT s_two, s_one, dot FROM dots),
         |sims AS (
         |  SELECT s_one, s_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.s_one = n1.session_id
         |  JOIN norms n2 ON sym.s_two = n2.session_id),
         |tops AS (
         |  SELECT s_one, s_two, similarity FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY s_one ORDER BY similarity DESC, s_two) AS rn
         |    FROM sims) WHERE rn <= 5),
         |scored AS (
         |  SELECT t.s_one AS session_id, b.item_id,
         |    round(sum(t.similarity), 9) AS rating
         |  FROM tops t JOIN base b ON t.s_two = b.session_id
         |  GROUP BY 1, 2),
         |unseen AS (
         |  SELECT s.* FROM scored s ANTI JOIN base h
         |    ON s.session_id = h.session_id AND s.item_id = h.item_id)
         |SELECT session_id, item_id, round(rating, 6) AS rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY session_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 3""".stripMargin,
    // the predict chain above, extended by the contribution decomposition:
    // same sims/top_sims/recs/unseen CTEs, then contribution = mult × sim
    // ranked per (query, rec item) with the engine's round-9 discipline
    "model_knn_explain" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.query_id = b.query_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id),
         |top_sims AS (
         |  SELECT item_one, item_two, similarity FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |    FROM sims) WHERE rn <= 5),
         |recs AS (
         |  SELECT h.query_id, t.item_two AS item_id,
         |    round(sum(t.similarity), 9) AS rating
         |  FROM (SELECT query_id, item_id FROM interactions) h
         |  JOIN top_sims t ON h.item_id = t.item_one
         |  GROUP BY 1, 2),
         |unseen AS (
         |  SELECT r.* FROM recs r ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) s
         |    ON r.query_id = s.query_id AND r.item_id = s.item_id),
         |frecs AS (
         |  SELECT query_id, item_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |    FROM unseen) WHERE rn <= 5),
         |hist AS (SELECT query_id, item_id AS source_item,
         |    CAST(count(*) AS BIGINT) AS mult
         |  FROM interactions GROUP BY 1, 2),
         |contrib AS (SELECT r.query_id, r.item_id, h.source_item,
         |    round(h.mult * t.similarity, 9) AS contribution
         |  FROM frecs r
         |  JOIN hist h ON r.query_id = h.query_id
         |  JOIN top_sims t ON t.item_one = h.source_item
         |    AND t.item_two = r.item_id)
         |SELECT query_id, item_id, source_item,
         |  round(contribution, 6) AS contribution,
         |  CAST(rn AS BIGINT) AS contrib_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id, item_id
         |    ORDER BY contribution DESC, source_item) AS rn
         |  FROM contrib) WHERE rn <= 3""".stripMargin,
    "model_repeat" -> repeatPredictSql,
    // identical SQL: merged (max-recency, Σcnt) stats and the streaming
    // state both rebuild the fit exactly
    "model_repeat_incremental" -> repeatPredictSql,
    "streaming_repeat" -> repeatPredictSql,
    "model_nearest_items" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.query_id = b.query_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id),
         |top_sims AS (
         |  SELECT item_one, item_two, similarity FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |    FROM sims) WHERE rn <= 5),
         |filt AS (
         |  SELECT * FROM top_sims
         |  WHERE item_one <= 50 AND item_two % 2 = 0)
         |SELECT item_one AS item_id, item_two AS neighbour_item_id, similarity
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY item_one ORDER BY similarity DESC, item_two DESC) AS rn
         |  FROM filt) WHERE rn <= 3""".stripMargin,
    // bm25 weights mirrored term-by-term (same operand order as
    // ItemKNN.reweight), then floor-ppm quantized to exact BIGINTs like
    // the engine (ItemKNN.cells): dots and norm² are exact integer sums,
    // the cosine one deterministic IEEE expression, output floor-ppm.
    "model_item_knn_bm25" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |nq AS (SELECT CAST(count(DISTINCT query_id) AS DOUBLE) AS nu FROM base),
         |ulen AS (SELECT query_id, count(*) AS len FROM base GROUP BY 1),
         |avglen AS (SELECT avg(len) AS al FROM ulen),
         |idf AS (SELECT item_id, count(*) AS df FROM base GROUP BY 1),
         |w AS (
         |  SELECT query_id, item_id,
         |    CAST(floor(v * 1000000.0) AS BIGINT) AS vq
         |  FROM (SELECT b.query_id, b.item_id,
         |    ln((nu - df + 0.5)/(df + 0.5) + 1.0) * (1.2 + 1.0) /
         |      (1.0 + 1.2 * ((1 - 0.75) + 0.75 * len / al)) AS v
         |  FROM base b JOIN ulen u ON b.query_id = u.query_id
         |  JOIN idf i ON b.item_id = i.item_id, nq, avglen)),
         |norms AS (SELECT item_id, sqrt(CAST(sum(vq*vq) AS DOUBLE)) AS nrm
         |          FROM w GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two,
         |    sum(a.vq*b.vq) AS dot
         |  FROM w a JOIN w b
         |    ON a.query_id = b.query_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two,
         |    CAST(dot AS DOUBLE)/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id)
         |SELECT item_one, item_two,
         |  CAST(floor(similarity * 1000000.0) AS BIGINT) AS similarity_ppm
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |  FROM sims) WHERE rn <= 5""".stripMargin,
    "model_assoc_rules" ->
      s"""$interactionsSql,
         |events AS (SELECT DISTINCT session_id AS s, item_id FROM interactions),
         |n AS (SELECT CAST(count(DISTINCT s) AS DOUBLE) AS ns FROM events),
         |ic AS (SELECT item_id, count(*) AS cnt FROM events GROUP BY 1
         |       HAVING count(*) >= 5),
         |freq AS (SELECT e.* FROM events e SEMI JOIN ic ON e.item_id = ic.item_id),
         |pairs AS (
         |  SELECT a.item_id AS antecedent, b.item_id AS consequent, count(*) AS pair
         |  FROM freq a JOIN freq b ON a.s = b.s AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |sym AS (SELECT antecedent, consequent, pair FROM pairs
         |        UNION ALL SELECT consequent, antecedent, pair FROM pairs),
         |wc AS (
         |  SELECT s.antecedent, s.consequent, s.pair,
         |    ia.cnt AS ant_cnt, ic2.cnt AS con_cnt
         |  FROM sym s
         |  JOIN ic ia ON s.antecedent = ia.item_id
         |  JOIN ic ic2 ON s.consequent = ic2.item_id)
         |SELECT antecedent, consequent,
         |  pair/ant_cnt AS confidence,
         |  (SELECT ns FROM n) * (pair/ant_cnt) / con_cnt AS lift,
         |  CASE WHEN (con_cnt - pair) / ((SELECT ns FROM n) - ant_cnt) > 0
         |       THEN (pair/ant_cnt) / ((con_cnt - pair) / ((SELECT ns FROM n) - ant_cnt))
         |       ELSE NULL END AS confidence_gain
         |FROM wc""".stripMargin,
    "model_bias" -> biasPairsSql,
    // identical SQL to model_bias: the merged-stats rebuild must equal
    // the full fit
    "model_bias_incremental" -> biasPairsSql,
    // identical SQL again: the STREAMING stats state rebuilds the fit
    // (mapGroupsWithState (Σr, n) ≡ batch pairStats under any slicing)
    "streaming_bias" -> biasPairsSql,
    // and the streaming Slope One deviation deltas rebuild that fit
    "streaming_slope_one" -> slopeOnePairsSql,
    "model_bias_topk" ->
      s"""$interactionsSql,
         |b AS (SELECT query_id, item_id,
         |    CAST(floor(rating * 1000000.0) AS BIGINT) AS r FROM interactions),
         |mu AS (SELECT sum(r) // count(*) AS mu FROM b),
         |bi AS (SELECT item_id,
         |    (sum(r) - count(*) * (SELECT mu FROM mu)) // (10 + count(*)) AS b_i
         |  FROM b GROUP BY 1),
         |bu AS (SELECT query_id,
         |    (sum(r) - count(*) * (SELECT mu FROM mu) - sum(b_i))
         |      // (10 + count(*)) AS b_u
         |  FROM b JOIN bi USING (item_id) GROUP BY 1),
         |ms AS (SELECT max(cnt) AS m FROM (
         |    SELECT query_id, count(DISTINCT item_id) AS cnt
         |    FROM interactions GROUP BY 1)),
         |topitems AS (SELECT item_id, b_i FROM (
         |    SELECT *, row_number() OVER (ORDER BY b_i DESC, item_id) AS rn
         |    FROM bi) WHERE rn <= 5 + (SELECT m FROM ms)),
         |cand AS (SELECT u.query_id, i.item_id,
         |    CAST((SELECT mu FROM mu) + u.b_u + i.b_i AS DOUBLE) AS rating
         |  FROM bu u CROSS JOIN topitems i),
         |seen AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |unseen AS (SELECT c.* FROM cand c ANTI JOIN seen s
         |    ON c.query_id = s.query_id AND c.item_id = s.item_id)
         |SELECT query_id, item_id, rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin,
    "model_markov" -> markovPredictSql,
    // identical SQL: merged user-disjoint transition stats rebuild the fit
    "model_markov_incremental" -> markovPredictSql,
    "model_markov2" -> markov2PredictSql,
    // identical SQL: the merged user-disjoint transition stats rebuild
    // the full two-tier fit
    "model_markov2_incremental" -> markov2PredictSql,
    // the markov2 candidate chain (c2 ∪ backoff c1, seen-filtered) as the
    // sampled-predict pool — transition counts are the exact weights
    "model_markov2_sample" ->
      s"""$interactionsSql,
         |seq AS (SELECT query_id, item_id,
         |    lag(item_id, 1) OVER w AS p1,
         |    lag(item_id, 2) OVER w AS p2
         |  FROM interactions
         |  WINDOW w AS (PARTITION BY query_id
         |    ORDER BY timestamp, session_id, item_id)),
         |t2 AS (SELECT p2 AS ctx2, p1 AS ctx1, item_id AS item_two,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM seq WHERE p2 IS NOT NULL GROUP BY 1, 2, 3),
         |t1 AS (SELECT p1 AS item_one, item_id AS item_two,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM seq WHERE p1 IS NOT NULL GROUP BY 1, 2),
         |lst AS (SELECT query_id,
         |    max(CASE WHEN rn = 1 THEN item_id END) AS l1,
         |    max(CASE WHEN rn = 2 THEN item_id END) AS l2
         |  FROM (SELECT query_id, item_id, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY timestamp DESC, session_id DESC, item_id DESC) AS rn
         |    FROM interactions) WHERE rn <= 2 GROUP BY 1),
         |c2 AS (SELECT l.query_id, t.item_two AS item_id,
         |    CAST(t.cnt AS DOUBLE) AS rating
         |  FROM lst l JOIN t2 t ON l.l2 = t.ctx2 AND l.l1 = t.ctx1
         |  WHERE l.l2 IS NOT NULL),
         |q2 AS (SELECT DISTINCT query_id FROM c2),
         |c1 AS (SELECT l.query_id, t.item_two AS item_id,
         |    CAST(t.cnt AS DOUBLE) AS rating
         |  FROM lst l JOIN t1 t ON l.l1 = t.item_one
         |  WHERE l.query_id NOT IN (SELECT query_id FROM q2)),
         |seen AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |u AS (SELECT * FROM c2 UNION ALL SELECT * FROM c1),
         |unseen AS (SELECT u.* FROM u ANTI JOIN seen s
         |    ON u.query_id = s.query_id AND u.item_id = s.item_id),
         |pool AS (SELECT query_id, item_id, rating AS w FROM unseen
         |  WHERE rating > 0),
         |${esSampleTailSql(3, 42L)}""".stripMargin,
    "model_ease_sample" ->
      """SELECT true AS nonempty, true AS prob_bounded,
        |  true AS layout_invariant, true AS per_user_le_k""".stripMargin,
    "model_markov_trans" ->
      s"""$interactionsSql,
         |seq AS (SELECT query_id, item_id,
         |    lag(item_id) OVER (PARTITION BY query_id
         |      ORDER BY timestamp, session_id, item_id) AS prev
         |  FROM interactions)
         |SELECT prev AS item_one, item_id AS item_two,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM seq WHERE prev IS NOT NULL
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "model_cat_pop" ->
      s"""$interactionsSql,
         |wc AS (
         |  SELECT p.p_brand AS category, i.item_id, count(*) AS cnt
         |  FROM interactions i JOIN part p ON i.item_id = p.p_partkey
         |  GROUP BY 1, 2),
         |cc AS (SELECT category, sum(cnt) AS cat_cnt FROM wc GROUP BY 1),
         |pop AS (
         |  SELECT wc.category, wc.item_id,
         |    CAST(wc.cnt AS DOUBLE) / cc.cat_cnt AS rating
         |  FROM wc JOIN cc ON wc.category = cc.category)
         |SELECT category, item_id, rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY category ORDER BY rating DESC, item_id) AS rn
         |  FROM pop) WHERE rn <= 5""".stripMargin,
    "sample_top_k" ->
      s"""$interactionsSql,
         |scores AS (SELECT query_id, item_id, sum(rating) AS rating
         |           FROM interactions GROUP BY 1, 2),
         |keyed AS (SELECT query_id, item_id,
         |  -ln((('0x' || substr(md5('42:' || CAST(query_id AS VARCHAR) || ':'
         |        || CAST(item_id AS VARCHAR)), 1, 15))::BIGINT
         |       / 1152921504606846976.0) + 1e-18)
         |  / (rating / sum(rating) OVER (PARTITION BY query_id)) AS k
         |  FROM scores)
         |SELECT query_id, item_id FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY k, item_id) AS rn
         |  FROM keyed) WHERE rn <= 2""".stripMargin,
    "model_cat_pop_tree" ->
      s"""$interactionsSql,
         |icat AS (SELECT p_partkey AS item_id, p_brand AS leaf FROM part),
         |leafcnt AS (
         |  SELECT c.leaf, i.item_id, count(*) AS cnt
         |  FROM interactions i JOIN icat c ON i.item_id = c.item_id
         |  GROUP BY 1, 2),
         |agg AS (SELECT 'grp_' || substring(leaf, 7, 1) AS category, item_id,
         |        CAST(sum(cnt) AS BIGINT) AS cnt
         |        FROM leafcnt GROUP BY 1, 2),
         |catcnt AS (SELECT category, sum(cnt) AS cc FROM agg GROUP BY 1)
         |SELECT category, item_id, rating FROM (
         |  SELECT a.category, a.item_id,
         |    CAST(a.cnt AS DOUBLE) / c.cc AS rating,
         |    row_number() OVER (PARTITION BY a.category
         |      ORDER BY CAST(a.cnt AS DOUBLE) / c.cc DESC, a.item_id) AS rn
         |  FROM agg a JOIN catcnt c ON a.category = c.category)
         |WHERE rn <= 5""".stripMargin,
    "predict_pairs_knn" ->
      s"""$interactionsSql,
         |base AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two, sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.query_id = b.query_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id),
         |top_sims AS (
         |  SELECT item_one, item_two, similarity FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |    FROM sims) WHERE rn <= 5),
         |scores AS (
         |  SELECT h.query_id, t.item_two AS item_id, sum(t.similarity) AS r
         |  FROM (SELECT query_id, item_id FROM interactions) h
         |  JOIN top_sims t ON h.item_id = t.item_one
         |  GROUP BY 1, 2)
         |SELECT p.query_id, p.item_id, round(coalesce(s.r, 0.0), 6) AS rating
         |FROM (SELECT DISTINCT query_id, item_id FROM interactions
         |      WHERE item_id < 100) p
         |LEFT JOIN scores s
         |  ON p.query_id = s.query_id AND p.item_id = s.item_id""".stripMargin,
    "predict_pairs" ->
      s"""$interactionsSql,
         |pop AS (SELECT item_id, count(DISTINCT query_id) /
         |          CAST((SELECT count(DISTINCT query_id) FROM interactions) AS DOUBLE)
         |        AS rating FROM interactions GROUP BY 1)
         |SELECT p.query_id, p.item_id,
         |  coalesce(pop.rating, (SELECT min(rating) FROM pop) * 0.5) AS rating
         |FROM (SELECT DISTINCT query_id, item_id FROM interactions
         |      WHERE item_id < 100) p
         |LEFT JOIN pop ON p.item_id = pop.item_id""".stripMargin,
    // DataPreparator: rename + string-date parse + relevance cast (epoch
    // seconds keep the timestamp hash type-stable across engines)
    "prepare_log" ->
      """SELECT o_custkey AS user_id, o_orderkey AS item_id,
        |  round(CAST(o_totalprice AS DOUBLE), 2) AS relevance,
        |  CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS ts_epoch
        |FROM orders""".stripMargin,
    "prepare_log_defaults" ->
      """SELECT o_custkey AS user_id, o_orderkey AS item_id,
        |  CAST(1.0 AS DOUBLE) AS relevance,
        |  CAST(epoch(TIMESTAMP '2099-01-01') AS BIGINT) AS ts_epoch
        |FROM orders""".stripMargin,
    // CatFeaturesTransformer in long form: one (row, feature, 0/1) per
    // (row, fitted category); names data-derived on both sides
    "encode_onehot" ->
      """SELECT c.c_custkey,
        |  'ohe_c_mktsegment_' || v.c_mktsegment AS feature,
        |  CAST(c.c_mktsegment = v.c_mktsegment AS INT) AS value
        |FROM customer c
        |CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) v""".stripMargin,
    // SequenceGenerator: DuckDB's list() window over the same 5-preceding
    // frame; parallel unnests zip (token, pos)
    "sequence_generate" ->
      s"""$interactionsSql,
         |daily AS (SELECT query_id, timestamp, min(item_id) AS item_id
         |  FROM interactions WHERE query_id < 3000 GROUP BY 1, 2),
         |gen AS (SELECT query_id, item_id AS label_item_id,
         |    list(item_id) OVER (PARTITION BY query_id ORDER BY timestamp
         |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS lst
         |  FROM daily)
         |SELECT query_id, label_item_id, CAST(len(lst) AS INT) AS list_len,
         |  unnest(range(len(lst))) AS pos, unnest(lst) AS token
         |FROM gen WHERE len(lst) > 0""".stripMargin,
    // streaming twin: same forward-pass semantics, same oracle recipe
    "streaming_sequence_generate" ->
      s"""$interactionsSql,
         |daily AS (SELECT query_id, timestamp, min(item_id) AS item_id
         |  FROM interactions WHERE query_id < 3000 GROUP BY 1, 2),
         |gen AS (SELECT query_id, item_id AS label_item_id,
         |    list(item_id) OVER (PARTITION BY query_id ORDER BY timestamp
         |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS lst
         |  FROM daily)
         |SELECT query_id, label_item_id, CAST(len(lst) AS INT) AS list_len,
         |  unnest(range(len(lst))) AS pos, unnest(lst) AS token
         |FROM gen WHERE len(lst) > 0""".stripMargin,
    // ArrayPadder: keep the last 6 of the time-sorted history, left-pad 0
    "sequence_pad_generic" ->
      s"""$interactionsSql,
         |daily AS (SELECT query_id, timestamp, min(item_id) AS item_id
         |  FROM interactions WHERE query_id < 3000 GROUP BY 1, 2),
         |hist AS (SELECT query_id,
         |    list(item_id ORDER BY timestamp) AS items FROM daily GROUP BY 1),
         |cut AS (SELECT query_id,
         |    items[greatest(len(items) - 5, 1):len(items)] AS kept FROM hist),
         |pad AS (SELECT query_id, list_concat(
         |    list_transform(range(greatest(6 - len(kept), 0)),
         |      x -> CAST(0 AS BIGINT)),
         |    kept) AS items FROM cut)
         |SELECT query_id, unnest(range(len(items))) AS pos,
         |  unnest(items) AS token FROM pad""".stripMargin,
    // CsrConverter distributed form: duplicates summed, columns sorted per
    // row (ratings are integral quantities, so the double sums are exact)
    "encode_csr" ->
      s"""$interactionsSql,
         |d AS (SELECT query_id AS row, item_id,
         |        sum(CAST(rating AS DOUBLE)) AS v
         |      FROM interactions WHERE query_id < 2000 GROUP BY 1, 2)
         |SELECT row,
         |  CAST(row_number() OVER (PARTITION BY row ORDER BY item_id) - 1
         |    AS INT) AS pos,
         |  CAST(item_id AS INT) AS col_idx, v AS value
         |FROM d""".stripMargin,
    "sequence_encode" ->
      s"""$interactionsSql,
         |enc AS (SELECT item_id AS label, row_number() OVER (ORDER BY item_id) - 1 AS code
         |        FROM (SELECT DISTINCT item_id FROM interactions)),
         |seqs AS (SELECT session_id, item_id,
         |           row_number() OVER (PARTITION BY session_id ORDER BY item_id) - 1 AS pos
         |         FROM interactions)
         |SELECT s.session_id, s.pos, e.code
         |FROM seqs s JOIN enc e ON s.item_id = e.label""".stripMargin,
    // dataset_encode: dense codes in sorted-label order; the query code
    // space is the UNION of interaction users and feature-table customers
    "dataset_encode" ->
      s"""$interactionsSql,
         |qmap AS (SELECT label, row_number() OVER (ORDER BY label) - 1 AS code
         |  FROM (SELECT DISTINCT query_id AS label FROM interactions
         |        UNION SELECT DISTINCT c_custkey FROM customer)),
         |imap AS (SELECT label, row_number() OVER (ORDER BY label) - 1 AS code
         |  FROM (SELECT DISTINCT item_id AS label FROM interactions))
         |SELECT q.code AS query_id, im.code AS item_id, i.rating
         |FROM interactions i
         |JOIN qmap q ON i.query_id = q.label
         |JOIN imap im ON i.item_id = im.label""".stripMargin,
    // sequence_pad: per-query ascending (ts, item) list → keep the last 8
    // → left-pad with 0; positions unrolled so every cell hash-compares
    "sequence_pad" ->
      s"""$interactionsSql,
         |seqs AS (SELECT query_id, list(item_id ORDER BY timestamp, item_id) AS its
         |         FROM interactions GROUP BY 1),
         |tr AS (SELECT query_id,
         |         CASE WHEN len(its) > 8 THEN its[len(its)-7:] ELSE its END AS t
         |       FROM seqs)
         |SELECT tr.query_id, CAST(len(tr.t) AS BIGINT) AS length,
         |  CAST(p.pos AS BIGINT) AS pos,
         |  CASE WHEN p.pos < 8 - len(tr.t) THEN 0
         |       ELSE tr.t[p.pos - (8 - len(tr.t)) + 1] END AS token
         |FROM tr CROSS JOIN range(0, 8) p(pos)""".stripMargin,
    "merge_subsets" ->
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY event_id) AS rn
        |  FROM (SELECT * FROM events WHERE value >= 100
        |        UNION ALL
        |        SELECT * FROM events WHERE event_type = 'purchase'))
        |WHERE rn = 1""".stripMargin,
    "history_features" ->
      s"""$interactionsSql,
         |im AS (SELECT item_id, avg(rating) AS imean FROM interactions GROUP BY 1),
         |ab AS (SELECT i.query_id, round(avg(abs(i.rating - im.imean)), 6) AS abnormality
         |       FROM interactions i JOIN im ON i.item_id = im.item_id GROUP BY 1),
         |st AS (SELECT query_id, count(*) AS cnt,
         |        round(ln(count(*)), 6) AS log_cnt,
         |        avg(rating) AS mean_rating,
         |        min(rating) AS min_rating, max(rating) AS max_rating,
         |        round(coalesce(stddev_samp(rating), 0), 6) AS std_rating,
         |        count(DISTINCT date_trunc('day', timestamp)) AS active_days
         |       FROM interactions GROUP BY 1)
         |SELECT st.query_id, st.cnt, st.log_cnt, st.mean_rating,
         |  st.min_rating, st.max_rating, st.std_rating, st.active_days,
         |  ab.abnormality
         |FROM st JOIN ab ON st.query_id = ab.query_id""".stripMargin,
    "time_smoothing" ->
      s"""$interactionsSql
         |SELECT query_id, item_id, session_id,
         |  rating * greatest(1.0 - 0.01 *
         |    (CAST(epoch_us((SELECT max(timestamp) FROM interactions))
         |          - epoch_us(timestamp) AS DOUBLE) / (86400.0 * 1e6)), 0.0)
         |  AS rating
         |FROM interactions""".stripMargin,
    "time_smoothing_power" ->
      s"""$interactionsSql
         |SELECT query_id, item_id, session_id,
         |  round(rating * power(
         |    (CAST(epoch_us((SELECT max(timestamp) FROM interactions))
         |          - epoch_us(timestamp) AS DOUBLE) / (86400.0 * 1e6)) + 1.0,
         |    -0.1), 6) AS rating
         |FROM interactions""".stripMargin,
    "time_smoothing_exp" ->
      s"""$interactionsSql
         |SELECT query_id, item_id, session_id,
         |  round(rating * power(0.9,
         |    CAST(epoch_us((SELECT max(timestamp) FROM interactions))
         |         - epoch_us(timestamp) AS DOUBLE) / (86400.0 * 1e6)), 6) AS rating
         |FROM interactions""".stripMargin,
    // decay-calibrated exp: base = e^(ln 0.5 / 30) computed ONCE in Scala
    // and embedded as a literal — both engines pow the identical double.
    // Whole-second age (unix_timestamp truncation) like the engine.
    "time_smoothing_decay" -> {
      val base = math.exp(math.log(0.5) / 30.0)
      s"""$interactionsSql,
         |secs AS (SELECT *, CAST(floor(epoch_us(CAST(timestamp AS TIMESTAMP)) / 1000000) AS BIGINT) AS s
         |         FROM interactions),
         |mx AS (SELECT max(s) AS m FROM secs)
         |SELECT query_id, item_id, session_id,
         |  round(rating * (CASE
         |    WHEN power($base, (mx.m - s) / 86400.0) < 0.1 THEN 0.1
         |    ELSE power($base, (mx.m - s) / 86400.0) END), 6) AS rating
         |FROM secs, mx""".stripMargin
    },
    // item recency: per-item floored mean second, calibrated power kernel
    // with exponent ln 0.5 / ln 30 embedded as a Scala-computed literal
    "item_recency" -> {
      val expo = math.log(0.5) / math.log(30.0)
      s"""$interactionsSql,
         |it AS (SELECT item_id,
         |         CAST(floor(avg(floor(epoch_us(CAST(timestamp AS TIMESTAMP)) / 1000000))) AS BIGINT) AS s
         |       FROM interactions GROUP BY 1),
         |mx AS (SELECT max(s) AS m FROM it)
         |SELECT item_id,
         |  round(CASE
         |    WHEN power((mx.m - s) / 86400.0 + 1.0, $expo) < 0.1 THEN 0.1
         |    ELSE power((mx.m - s) / 86400.0 + 1.0, $expo) END, 6) AS rating
         |FROM it, mx""".stripMargin
    },
    "streaming_dedup" ->
      """SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "streaming_session_window" ->
      """WITH se AS (
        |  SELECT user_id, ts, value,
        |    sum(CASE WHEN _prev IS NULL
        |             OR epoch_us(ts) - epoch_us(_prev) >= 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM (SELECT *, lag(ts) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS _prev
        |        FROM events))
        |SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM se GROUP BY user_id, sid""".stripMargin,
    "streaming_windowed_counts" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "streaming_top_k" ->
      """WITH wc AS (
        |  SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start_ms, event_type, n FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY window_start_ms ORDER BY n DESC, event_type) AS rn
        |  FROM wc) WHERE rn <= 2""".stripMargin,
    "agg_percentile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type""".stripMargin,
    "metrics_ranking" -> metricsRankingSql,
    "metrics_ranking_bounded" -> metricsRankingSql,
    "metrics_ncis" ->
      s"""$metricsPuSql,
         |hw AS (SELECT query_id, sum(1.0/rnk) AS w FROM hits GROUP BY 1),
         |tw AS (SELECT query_id, sum(1.0/i) AS t
         |       FROM predc, range(1, 6) r(i) WHERE r.i <= npred
         |       GROUP BY query_id),
         |nc AS (SELECT g.query_id,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       ELSE coalesce(h.w, 0.0) / t.t END AS v
         |  FROM gtc g
         |  LEFT JOIN predc p ON g.query_id = p.query_id
         |  LEFT JOIN hw h ON g.query_id = h.query_id
         |  LEFT JOIN tw t ON g.query_id = t.query_id)
         |SELECT round(avg(v), 6) AS ncis_precision_at_5 FROM nc""".stripMargin,
    "metrics_descriptors" ->
      s"""$metricsPuSql
         |SELECT 'mean' AS descriptor, round(avg(hr), 6) AS hit_rate_at_5,
         |  round(avg(ndcg_), 6) AS ndcg_at_5 FROM pu
         |UNION ALL
         |SELECT 'median' AS descriptor,
         |  round(quantile_cont(hr, 0.5), 6) AS hit_rate_at_5,
         |  round(quantile_cont(ndcg_, 0.5), 6) AS ndcg_at_5 FROM pu
         |UNION ALL
         |SELECT 'ci' AS descriptor,
         |  round(1.96 * coalesce(stddev(hr), 0.0) / sqrt(count(hr)), 6) AS hit_rate_at_5,
         |  round(1.96 * coalesce(stddev(ndcg_), 0.0) / sqrt(count(ndcg_)), 6) AS ndcg_at_5
         |FROM pu""".stripMargin,
    "metrics_ci_hit_rate" ->
      s"""$metricsPuSql,
         |pe AS (SELECT query_id AS id,
         |    CAST(round(hr * 1000000) AS BIGINT) AS v6 FROM pu),
         |bblown AS (SELECT b.b, pe.id, pe.v6,
         |    ('0x' || substr(md5('7:' || CAST(b.b AS VARCHAR) || ':'
         |      || CAST(pe.id AS VARCHAR)), 1, 15))::BIGINT
         |      / 1152921504606846976.0 AS u
         |  FROM pe, range(0, 200) b(b)),
         |bwts AS (SELECT b, id, v6,
         |    CASE WHEN u < 0.36787944117144233 THEN 0
         |         WHEN u < 0.7357588823428847 THEN 1
         |         WHEN u < 0.9196986029286058 THEN 2
         |         WHEN u < 0.9810118431238463 THEN 3
         |         WHEN u < 0.9963401531726563 THEN 4
         |         WHEN u < 0.9994058151824183 THEN 5
         |         WHEN u < 0.999916758850712 THEN 6
         |         WHEN u < 0.9999897508033253 THEN 7
         |         WHEN u < 0.999998874797402 THEN 8
         |         ELSE 9 END AS w
         |  FROM bblown),
         |bmeans AS (SELECT b, CAST(sum(w * v6) AS BIGINT) // CAST(sum(w) AS BIGINT) AS m6
         |  FROM bwts GROUP BY 1 HAVING sum(w) > 0),
         |branked AS (SELECT m6, row_number() OVER (ORDER BY m6, b) AS r FROM bmeans),
         |nn2 AS (SELECT count(*) AS n FROM bmeans),
         |pt AS (SELECT CAST(sum(v6) AS BIGINT) // count(*) AS mean_ppm FROM pe)
         |SELECT pt.mean_ppm,
         |  (SELECT m6 FROM branked, nn2
         |    WHERE r = greatest(1, (nn2.n * 25 + 999) // 1000)) AS lo_ppm,
         |  (SELECT m6 FROM branked, nn2
         |    WHERE r = (nn2.n * 975 + 999) // 1000) AS hi_ppm,
         |  nn2.n AS resamples
         |FROM pt, nn2""".stripMargin,
    "experiment_table" -> experimentTableSql,
    // the new-family search spaces: the md5 draw chain (seed 7, trials
    // 0..2) and each family's decode law replayed over a VALUES border
    // table; `round` = integer params (half away from zero — positive
    // borders make this identical to JVM math.round), `exp` = the
    // ln-space λ
    "search_space_new_families" ->
      """WITH sp AS (SELECT * FROM (VALUES
        |    ('slope_one', 'max_user_history', 100.0, 2000.0, 'round'),
        |    ('bias', 'lambda_item', 0.0, 100.0, 'round'),
        |    ('bias', 'lambda_user', 0.0, 100.0, 'round'),
        |    ('content_knn', 'num_neighbours', 1.0, 100.0, 'round'),
        |    ('content_knn', 'shrink', 0.0, 100.0, 'round'),
        |    ('markov2', 'min_count', 1.0, 10.0, 'round'),
        |    ('ease', 'lambda', ln(1.0), ln(10000.0), 'exp'),
        |    ('p3alpha', 'beta', 0.0, 3.0, 'round'),
        |    ('p3alpha', 'top_k_neighbours', 10.0, 500.0, 'round'))
        |  AS t(family, param, lo, hi, kind)),
        |tr AS (SELECT * FROM (VALUES (0),(1),(2)) AS t(trial)),
        |d AS (SELECT family, param, CAST(trial AS BIGINT) AS trial, kind,
        |    lo + (('0x' || substr(md5('7:' || CAST(trial AS VARCHAR) ||
        |      ':' || param), 1, 15))::BIGINT
        |      / 1152921504606846976.0) * (hi - lo) AS raw
        |  FROM sp CROSS JOIN tr)
        |SELECT family, trial, param,
        |  round(CASE WHEN kind = 'round' THEN round(raw)
        |             WHEN kind = 'exp' THEN exp(raw) END, 6) AS value
        |FROM d""".stripMargin,
    "grid_search" -> gridSearchSql,
    "grid_search_budget" -> gridSearchBudgetSql,
    "tpe_search_budget" -> tpeSearchBudgetSql,
    "tpe_search_2d" -> tpeSearch2dSql,
    // end-to-end OPE replay: train-window UCB scores → sampling
    // distribution (the ucb_sample_proba recipe over the TRAIN split),
    // train-popularity behavior propensities, then the IPS / clipped
    // self-normalized estimators over the test-window logged rounds
    "ope_ncis_replay" -> opeReplaySql,
    "ope_dr" -> opeDrSql,
    // ULinUCB prefix-ridge replay: integer features/rewards → exact sums;
    // adjugate inverse + UCB mirrored term by term (see the gate comment)
    "model_ulinucb" ->
      s"""$interactionsSql,
         |i0 AS (SELECT query_id, item_id, CAST(rating AS DOUBLE) AS r
         |  FROM interactions WHERE item_id < 300 AND query_id < 500),
         |feats AS (SELECT DISTINCT item_id,
         |    CAST(item_id % 7 AS DOUBLE) AS f1,
         |    CAST(item_id % 5 + 1 AS DOUBLE) AS f2
         |  FROM i0),
         |cells AS (SELECT i.query_id,
         |    sum(f.f1 * f.f1) AS g11, sum(f.f1 * f.f2) AS g12,
         |    sum(f.f2 * f.f2) AS g22,
         |    sum(f.f1 * i.r) AS b1, sum(f.f2 * i.r) AS b2
         |  FROM i0 i JOIN feats f ON i.item_id = f.item_id
         |  GROUP BY i.query_id),
         |pre AS (SELECT query_id,
         |    sum(g11) OVER w AS g11, sum(g12) OVER w AS g12,
         |    sum(g22) OVER w AS g22,
         |    sum(b1) OVER w AS b1, sum(b2) OVER w AS b2
         |  FROM cells
         |  WINDOW w AS (ORDER BY query_id ROWS UNBOUNDED PRECEDING)),
         |st AS (SELECT query_id,
         |    (g22 + 1.0) / ((g11 + 1.0) * (g22 + 1.0) - g12 * g12) AS ai0,
         |    -g12 / ((g11 + 1.0) * (g22 + 1.0) - g12 * g12) AS ai1,
         |    -g12 / ((g11 + 1.0) * (g22 + 1.0) - g12 * g12) AS ai2,
         |    (g11 + 1.0) / ((g11 + 1.0) * (g22 + 1.0) - g12 * g12) AS ai3,
         |    b1, b2 FROM pre),
         |th AS (SELECT query_id, ai0, ai1, ai2, ai3,
         |    ai0 * b1 + ai1 * b2 AS t1, ai2 * b1 + ai3 * b2 AS t2 FROM st),
         |scored AS (SELECT t.query_id, f.item_id,
         |    round(t.t1 * f.f1 + t.t2 * f.f2
         |      + CAST(-2.0 AS DOUBLE) * sqrt(greatest(
         |          f.f1 * (t.ai0 * f.f1 + t.ai1 * f.f2)
         |          + f.f2 * (t.ai2 * f.f1 + t.ai3 * f.f2),
         |          CAST(0.0 AS DOUBLE))), 9) AS rating
         |  FROM th t CROSS JOIN feats f)
         |SELECT query_id, item_id, rating FROM (
         |  SELECT query_id, item_id, rating, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id ASC) AS rk
         |  FROM scored) WHERE rk <= 3""".stripMargin,
    "model_hierarchical" ->
      """SELECT true AS nonempty, true AS per_user_le_k,
        |  true AS single_root_cluster, true AS seen_filtered""".stripMargin,
    // degenerate tree ≡ seen-filtered ULinUCB: the ulinucb prefix-ridge
    // algebra plus an anti-join on the seen pairs before the top-3 crop
    "model_hierarchical_leaf" ->
      s"""$interactionsSql,
         |i0 AS (SELECT query_id, item_id, CAST(rating AS DOUBLE) AS r
         |  FROM interactions WHERE item_id < 300 AND query_id < 500),
         |feats AS (SELECT DISTINCT item_id,
         |    CAST(item_id % 7 AS DOUBLE) AS f1,
         |    CAST(item_id % 5 + 1 AS DOUBLE) AS f2
         |  FROM i0),
         |cells AS (SELECT i.query_id,
         |    sum(f.f1 * f.f1) AS g11, sum(f.f1 * f.f2) AS g12,
         |    sum(f.f2 * f.f2) AS g22,
         |    sum(f.f1 * i.r) AS b1, sum(f.f2 * i.r) AS b2
         |  FROM i0 i JOIN feats f ON i.item_id = f.item_id
         |  GROUP BY i.query_id),
         |pre AS (SELECT query_id,
         |    sum(g11) OVER w AS g11, sum(g12) OVER w AS g12,
         |    sum(g22) OVER w AS g22,
         |    sum(b1) OVER w AS b1, sum(b2) OVER w AS b2
         |  FROM cells
         |  WINDOW w AS (ORDER BY query_id ROWS UNBOUNDED PRECEDING)),
         |st AS (SELECT query_id,
         |    (g22 + 1.0) / ((g11 + 1.0) * (g22 + 1.0) - g12 * g12) AS ai0,
         |    -g12 / ((g11 + 1.0) * (g22 + 1.0) - g12 * g12) AS ai1,
         |    -g12 / ((g11 + 1.0) * (g22 + 1.0) - g12 * g12) AS ai2,
         |    (g11 + 1.0) / ((g11 + 1.0) * (g22 + 1.0) - g12 * g12) AS ai3,
         |    b1, b2 FROM pre),
         |th AS (SELECT query_id, ai0, ai1, ai2, ai3,
         |    ai0 * b1 + ai1 * b2 AS t1, ai2 * b1 + ai3 * b2 AS t2 FROM st),
         |scored AS (SELECT t.query_id, f.item_id,
         |    round(t.t1 * f.f1 + t.t2 * f.f2
         |      + CAST(-2.0 AS DOUBLE) * sqrt(greatest(
         |          f.f1 * (t.ai0 * f.f1 + t.ai1 * f.f2)
         |          + f.f2 * (t.ai2 * f.f1 + t.ai3 * f.f2),
         |          CAST(0.0 AS DOUBLE))), 9) AS rating
         |  FROM th t CROSS JOIN feats f),
         |unseen AS (SELECT s.query_id, s.item_id, s.rating FROM scored s
         |  LEFT JOIN (SELECT DISTINCT query_id, item_id FROM i0) z
         |    ON s.query_id = z.query_id AND s.item_id = z.item_id
         |  WHERE z.query_id IS NULL)
         |SELECT query_id, item_id, rating FROM (
         |  SELECT query_id, item_id, rating, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id ASC) AS rk
         |  FROM unseen) WHERE rk <= 3""".stripMargin,
    // TwoStagesScenario skeleton: split → PopRec candidates (k+maxPos,
    // anti-join, top-k) → labeling → rel/count enrichment
    "two_stages_skeleton" ->
      s"""$interactionsSql,
         |i0 AS (SELECT DISTINCT query_id, item_id, timestamp, session_id
         |       FROM interactions),
         |marked AS (SELECT query_id, item_id,
         |    (row_number() OVER (PARTITION BY query_id
         |       ORDER BY timestamp, session_id, item_id)
         |     > count(*) OVER (PARTITION BY query_id)
         |       * (1.0 - CAST(0.5 AS DOUBLE))) AS is_test
         |  FROM i0),
         |fl AS (SELECT query_id, item_id FROM marked WHERE NOT is_test),
         |sl AS (SELECT DISTINCT query_id, item_id FROM marked WHERE is_test),
         |pop AS (SELECT item_id,
         |    count(DISTINCT query_id) /
         |      CAST((SELECT count(DISTINCT query_id) FROM fl) AS DOUBLE)
         |    AS rating
         |  FROM fl GROUP BY item_id),
         |mp AS (SELECT max(c) AS mx FROM (
         |  SELECT count(*) AS c FROM fl GROUP BY query_id)),
         |ranked AS (SELECT item_id, rating, row_number() OVER (
         |    ORDER BY rating DESC, item_id ASC) AS rnk FROM pop),
         |qs AS (SELECT DISTINCT query_id FROM fl),
         |cand0 AS (SELECT q.query_id, r.item_id, r.rating
         |  FROM qs q CROSS JOIN ranked r, mp WHERE r.rnk <= 10 + mp.mx),
         |unseen AS (SELECT c.query_id, c.item_id, c.rating FROM cand0 c
         |  WHERE NOT EXISTS (SELECT 1 FROM fl f
         |    WHERE f.query_id = c.query_id AND f.item_id = c.item_id)),
         |cand AS (SELECT query_id, item_id, rating FROM (
         |  SELECT query_id, item_id, rating, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id ASC) AS rk
         |  FROM unseen) WHERE rk <= 10),
         |ucnt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS u_cnt
         |  FROM fl GROUP BY query_id),
         |icnt AS (SELECT item_id, CAST(count(*) AS BIGINT) AS i_cnt
         |  FROM fl GROUP BY item_id)
         |SELECT c.query_id, c.item_id,
         |  CAST(CASE WHEN sl.query_id IS NOT NULL THEN 1.0 ELSE 0.0 END
         |    AS DOUBLE) AS target,
         |  round(c.rating, 6) AS rel6,
         |  coalesce(u.u_cnt, 0) AS u_cnt, coalesce(ic.i_cnt, 0) AS i_cnt
         |FROM cand c
         |LEFT JOIN sl ON c.query_id = sl.query_id AND c.item_id = sl.item_id
         |LEFT JOIN ucnt u ON c.query_id = u.query_id
         |LEFT JOIN icnt ic ON c.item_id = ic.item_id""".stripMargin,
    // the multi-model skeleton: ItemKNN candidate chain + both per-model
    // relevance columns replayed (fl keeps (q,i,ts,session)-multiplicity —
    // predict/predictPairs sum over history ROWS; fld is the distinct
    // pair set the similarity fit and the seen-anti-join use)
    "two_stages_multi" ->
      s"""$interactionsSql,
         |i0 AS (SELECT DISTINCT query_id, item_id, timestamp, session_id
         |       FROM interactions),
         |marked AS (SELECT query_id, item_id,
         |    (row_number() OVER (PARTITION BY query_id
         |       ORDER BY timestamp, session_id, item_id)
         |     > count(*) OVER (PARTITION BY query_id)
         |       * (1.0 - CAST(0.5 AS DOUBLE))) AS is_test
         |  FROM i0),
         |fl AS (SELECT query_id, item_id FROM marked WHERE NOT is_test),
         |fld AS MATERIALIZED (SELECT DISTINCT query_id, item_id FROM fl),
         |sl AS (SELECT DISTINCT query_id, item_id FROM marked WHERE is_test),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm
         |  FROM fld GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two,
         |    sum(1.0*1.0) AS dot
         |  FROM fld a JOIN fld b
         |    ON a.query_id = b.query_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id),
         |top_sims AS MATERIALIZED (
         |  SELECT item_one, item_two, similarity FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |    FROM sims) WHERE rn <= 5),
         |mp AS (SELECT max(c) AS mx FROM (
         |  SELECT count(*) AS c FROM fl GROUP BY query_id)),
         |recs AS (
         |  SELECT h.query_id, t.item_two AS item_id,
         |    round(sum(t.similarity), 9) AS rating
         |  FROM fl h JOIN top_sims t ON h.item_id = t.item_one
         |  GROUP BY 1, 2),
         |crop1 AS (SELECT query_id, item_id, rating FROM (
         |  SELECT r.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rk
         |  FROM recs r), mp WHERE rk <= 10 + mp.mx),
         |unseen AS (SELECT c.* FROM crop1 c ANTI JOIN fld f
         |  ON c.query_id = f.query_id AND c.item_id = f.item_id),
         |cand AS (SELECT query_id, item_id FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rk
         |  FROM unseen) WHERE rk <= 10),
         |rel0 AS (
         |  SELECT h.query_id, t.item_two AS item_id, sum(t.similarity) AS rel
         |  FROM fl h JOIN top_sims t ON h.item_id = t.item_one
         |  GROUP BY 1, 2),
         |pop AS (SELECT item_id, count(DISTINCT query_id) /
         |    CAST((SELECT count(DISTINCT query_id) FROM fl) AS DOUBLE)
         |    AS rating
         |  FROM fl GROUP BY 1)
         |SELECT c.query_id, c.item_id,
         |  CAST(CASE WHEN sl.query_id IS NOT NULL THEN 1.0 ELSE 0.0 END
         |    AS DOUBLE) AS target,
         |  round(coalesce(r0.rel, 0.0), 6) AS rel0_6,
         |  round(coalesce(p.rating, 0.0), 6) AS rel1_6
         |FROM cand c
         |LEFT JOIN sl ON c.query_id = sl.query_id AND c.item_id = sl.item_id
         |LEFT JOIN rel0 r0 ON c.query_id = r0.query_id
         |  AND c.item_id = r0.item_id
         |LEFT JOIN pop p ON c.item_id = p.item_id""".stripMargin,
    // certificate: GBT rerank internals are MLlib; the contract booleans
    // must all be TRUE
    "two_stages" ->
      """SELECT true AS nonempty, true AS prob_bounded,
        |  true AS per_user_le_k, true AS user_coverage_ok,
        |  true AS train_auc_ok""".stripMargin,
    // same DIRECT-estimate ground truth: the gate computes it the
    // incremental way (two per-day summaries merged), checking the
    // value(merge(summary,summary)) law cross-engine
    "ope_incremental" -> opeReplaySql,
    // ADMM-SLIM certificate: n_items is data-derived, the algebraic
    // properties (zero diagonal, l1-monotone sparsity, convergence) are
    // engine-verified booleans — DuckDB cannot invert matrices
    "model_admm_slim" ->
      s"""$interactionsSql
         |SELECT count(DISTINCT item_id) AS n_items, true AS nonempty,
         |  true AS diag_ok, true AS l1_monotone, true AS values_finite,
         |  true AS converged
         |FROM interactions WHERE item_id < 500""".stripMargin,
    "model_ease" ->
      s"""$interactionsSql
         |SELECT count(DISTINCT item_id) AS n_items, true AS nonempty,
         |  true AS diag_ok, true AS kkt_ok, true AS neg_present,
         |  true AS shrink_monotone, true AS values_finite
         |FROM interactions WHERE item_id < 500""".stripMargin,
    "model_ease_incremental" ->
      s"""$interactionsSql
         |SELECT count(DISTINCT item_id) AS n_items, true AS parity_exact,
         |  true AS kkt_ok, true AS nonempty
         |FROM interactions WHERE item_id < 500""".stripMargin,
    // sampled-predict / proba gates for the round-12 families: the shared
    // E–S tail over each family's exact-integer score pool
    "model_slope_one_sample" ->
      s"""$interactionsSql,
         |$slopeOneScoredSql,
         |pool AS (SELECT query_id, item_id, CAST(pred_ppm AS DOUBLE) AS w
         |  FROM scored WHERE pred_ppm > 0),
         |${esSampleTailSql(3, 42L)}""".stripMargin,
    "model_slope_one_sample_proba" ->
      s"""$interactionsSql,
         |$slopeOneScoredSql,
         |pool AS (SELECT query_id, item_id, CAST(pred_ppm AS DOUBLE) AS w
         |  FROM scored WHERE pred_ppm > 0 AND query_id < 100),
         |wt AS (SELECT query_id, item_id, w,
         |    sum(w) OVER (PARTITION BY query_id) AS tot FROM pool),
         |pos AS (SELECT * FROM (VALUES (0),(1),(2)) AS p(position))
         |SELECT query_id, item_id, CAST(position AS BIGINT) AS position,
         |  CAST(floor(w / tot * 1000000000.0) AS BIGINT) AS prob_ppb
         |FROM wt CROSS JOIN pos""".stripMargin,
    "model_p3alpha_sample" ->
      s"""$interactionsSql,
         |$p3WalkSql,
         |pcrop AS (SELECT item_from, item_to, sim_ppt FROM (
         |  SELECT p.*, row_number() OVER (PARTITION BY item_from
         |    ORDER BY sim_ppt DESC, item_to ASC) AS rn FROM psims p)
         |  WHERE rn <= 10),
         |pagg AS (SELECT p.query_id, p.item_id,
         |    CAST(sum(s.sim_ppt) AS BIGINT) AS ssum
         |  FROM pbase p JOIN pbase h ON p.query_id = h.query_id
         |  JOIN pcrop s ON s.item_from = h.item_id AND s.item_to = p.item_id
         |  GROUP BY 1, 2),
         |pool AS (SELECT a.query_id, a.item_id,
         |    CAST(CAST(a.ssum // u.du AS BIGINT) AS DOUBLE) AS w
         |  FROM pagg a JOIN pdu u USING (query_id)
         |  WHERE CAST(a.ssum // u.du AS BIGINT) > 0),
         |${esSampleTailSql(3, 42L)}""".stripMargin,
    // Slope One replayed exactly: floor-ppm pre-average, antisymmetrized
    // deviation pairs, one integral division at the end
    "model_slope_one" -> slopeOnePairsSql,
    // identical SQL: the merged user-disjoint stats rebuild the full fit
    "model_slope_one_incremental" -> slopeOnePairsSql,
    // the P³ walk replayed exactly: binary adjacency, per-term ppt floor
    // quantization, both directed sums from one upper-triangle pass
    "model_p3alpha" ->
      s"""$interactionsSql,
         |$p3WalkSql,
         |pagg AS (SELECT h.query_id, s.item_to AS item_id,
         |    CAST(sum(s.sim_ppt) AS BIGINT) AS ssum
         |  FROM pbase h JOIN psims s ON s.item_from = h.item_id
         |  GROUP BY 1, 2),
         |pscored AS (SELECT a.query_id, a.item_id,
         |    CAST(a.ssum // u.du AS BIGINT) AS score_ppt
         |  FROM pagg a JOIN pdu u USING (query_id))
         |SELECT p.query_id, p.item_id,
         |  coalesce(s.score_ppt, -1) AS score_ppt
         |FROM pbase p LEFT JOIN pscored s
         |  ON p.query_id = s.query_id AND p.item_id = s.item_id""".stripMargin,
    "model_p3alpha_predict" ->
      s"""$interactionsSql,
         |$p3WalkSql,
         |pcrop AS (SELECT item_from, item_to, sim_ppt FROM (
         |  SELECT p.*, row_number() OVER (PARTITION BY item_from
         |    ORDER BY sim_ppt DESC, item_to ASC) AS rn FROM psims p)
         |  WHERE rn <= 10),
         |pagg AS (SELECT h.query_id, s.item_to AS item_id,
         |    CAST(sum(s.sim_ppt) AS BIGINT) AS ssum
         |  FROM pbase h JOIN pcrop s ON s.item_from = h.item_id
         |  GROUP BY 1, 2),
         |pscored AS (SELECT a.query_id, a.item_id,
         |    CAST(a.ssum // u.du AS BIGINT) / 1000000000000.0 AS rating
         |  FROM pagg a JOIN pdu u USING (query_id)),
         |punseen AS (SELECT c.* FROM pscored c ANTI JOIN pbase s
         |  ON c.query_id = s.query_id AND c.item_id = s.item_id)
         |SELECT query_id, item_id, rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM punseen) WHERE rn <= 5""".stripMargin,
    "model_rp3beta" ->
      s"""$interactionsSql,
         |$p3WalkSql,
         |ppen AS (SELECT s.item_from, s.item_to,
         |    CAST(s.sim_ppt // i.di AS BIGINT) AS sim_ppt
         |  FROM psims s JOIN pdi i ON s.item_to = i.item_id)
         |SELECT item_from, item_to, sim_ppt FROM (
         |  SELECT p.*, row_number() OVER (PARTITION BY item_from
         |    ORDER BY sim_ppt DESC, item_to ASC) AS rn FROM ppen p)
         |WHERE rn <= 10""".stripMargin,
    "metrics_multi_k" -> metricsMultiKSql,
    "metrics_sampled_ranking" -> metricsSampledSql,
    "metrics_sampled_ranking_pop" -> metricsSampledPopSql,
    "metrics_popularity_bias" -> metricsPopBiasSql,
    "metrics_calibration_kl" -> metricsCalibrationKlSql,
    // the model_item_knn chain with FEATURES in the user role: same
    // cosine, same tie order
    "model_content_knn" ->
      s"""WITH $partFeaturesSql,
         |base AS (SELECT DISTINCT item_id, feature FROM feats),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm
         |  FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two,
         |    sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.feature = b.feature AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id)
         |SELECT item_one, item_two, similarity FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |  FROM sims) WHERE rn <= 5""".stripMargin,
    "model_content_knn_predict" ->
      s"""$interactionsSql,
         |$partFeaturesSql,
         |base AS (SELECT DISTINCT item_id, feature FROM feats),
         |norms AS (SELECT item_id, sqrt(sum(1.0*1.0)) AS nrm
         |  FROM base GROUP BY 1),
         |dots AS (
         |  SELECT a.item_id AS item_one, b.item_id AS item_two,
         |    sum(1.0*1.0) AS dot
         |  FROM base a JOIN base b
         |    ON a.feature = b.feature AND a.item_id < b.item_id
         |  GROUP BY 1, 2),
         |sym AS (SELECT item_one, item_two, dot FROM dots
         |        UNION ALL
         |        SELECT item_two, item_one, dot FROM dots),
         |sims AS (
         |  SELECT item_one, item_two, dot/(n1.nrm*n2.nrm + 0.0) AS similarity
         |  FROM sym
         |  JOIN norms n1 ON sym.item_one = n1.item_id
         |  JOIN norms n2 ON sym.item_two = n2.item_id),
         |top_sims AS MATERIALIZED (
         |  SELECT item_one, item_two, similarity FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY item_one ORDER BY similarity DESC, item_two) AS rn
         |    FROM sims) WHERE rn <= 5),
         |recs AS (
         |  SELECT h.query_id, t.item_two AS item_id,
         |    round(sum(t.similarity), 9) AS rating
         |  FROM (SELECT query_id, item_id FROM interactions) h
         |  JOIN top_sims t ON h.item_id = t.item_one
         |  GROUP BY 1, 2),
         |unseen AS (
         |  SELECT r.* FROM recs r ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) s
         |    ON r.query_id = s.query_id AND r.item_id = s.item_id)
         |SELECT query_id, item_id, round(rating, 6) AS rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin,
    "rerank_calibrated" -> rerankCalibratedSql,
  ) ++ oracleSqlRest ++ canaryOracle

  /** model_slope_one / model_slope_one_incremental: the weighted Slope One
    * replayed exactly over every distinct training pair. */
  /** The Slope One scoring CTE chain (`sbase` … `scored`) — shared by the
    * pair-parity oracles and the sampled-predict oracles. */
  private lazy val slopeOneScoredSql: String =
    """sbase AS MATERIALIZED (SELECT query_id, item_id,
      |    CAST(sum(CAST(floor(rating * 1e6) AS BIGINT)) // count(*)
      |      AS BIGINT) AS r
      |  FROM interactions GROUP BY 1, 2),
      |half AS (SELECT a.item_id AS item_from, b.item_id AS item_to,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(b.r - a.r) AS BIGINT) AS dev_ppm
      |  FROM sbase a JOIN sbase b
      |    ON a.query_id = b.query_id AND a.item_id < b.item_id
      |  GROUP BY 1, 2),
      |devs AS (SELECT item_from, item_to, n, dev_ppm FROM half
      |  UNION ALL
      |  SELECT item_to, item_from, n, -dev_ppm FROM half),
      |scored AS (SELECT p.query_id, p.item_id,
      |    CAST(sum(d.dev_ppm + d.n * h.r) // sum(d.n) AS BIGINT) AS pred_ppm
      |  FROM sbase p JOIN sbase h ON p.query_id = h.query_id
      |  JOIN devs d ON d.item_from = h.item_id AND d.item_to = p.item_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared sampled-predict tail (SampledPredict.sampleScores replayed):
    * expects a CTE `pool(query_id, item_id, w DOUBLE)` with strictly
    * positive exact-integer-valued weights — portable-md5 uniform,
    * ln(u + 1e-18)/w Efraimidis–Spirakis key, per-query rank window,
    * floor-ppb selection probability. NOTE the md5 concat keeps `||` at
    * line ENDS (a leading `||` would be eaten by the outer stripMargin). */
  private def esSampleTailSql(k: Int, seed: Long): String =
    s"""esk AS (SELECT query_id, item_id, w,
       |    sum(w) OVER (PARTITION BY query_id) AS tot,
       |    ln((('0x' || substr(md5('$seed:' || CAST(query_id AS VARCHAR) ||
       |        ':' || CAST(item_id AS VARCHAR)), 1, 15))::BIGINT
       |        / 1152921504606846976.0) + 1e-18) / w AS ek
       |  FROM pool)
       |SELECT query_id, item_id, CAST(rn AS BIGINT) AS rank,
       |  CAST(floor(w / tot * 1000000000.0) AS BIGINT) AS prob_ppb
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY ek DESC, item_id) AS rn FROM esk) WHERE rn <= $k""".stripMargin

  private lazy val repeatPredictSql: String =
    s"""$interactionsSql,
         |st AS (SELECT query_id, item_id,
         |    epoch_us(CAST(max(timestamp) AS TIMESTAMP)) AS last_ts_us
         |  FROM interactions GROUP BY 1, 2)
         |SELECT query_id, item_id, CAST(last_ts_us AS BIGINT) AS last_ts_us
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY last_ts_us DESC, item_id) AS rn
         |  FROM st) WHERE rn <= 5""".stripMargin

  private lazy val markovPredictSql: String =
    s"""$interactionsSql,
         |seq AS (SELECT query_id, item_id,
         |    lag(item_id) OVER (PARTITION BY query_id
         |      ORDER BY timestamp, session_id, item_id) AS prev
         |  FROM interactions),
         |t AS (SELECT prev AS item_one, item_id AS item_two,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
         |lst AS (SELECT query_id, item_id AS last_item FROM (
         |    SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY timestamp DESC, session_id DESC, item_id DESC) AS rn
         |    FROM interactions) WHERE rn = 1),
         |scored AS (SELECT l.query_id, t.item_two AS item_id,
         |    CAST(t.cnt AS DOUBLE) AS rating
         |  FROM lst l JOIN t ON t.item_one = l.last_item),
         |unseen AS (SELECT s.* FROM scored s ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) h
         |    ON s.query_id = h.query_id AND s.item_id = h.item_id)
         |SELECT query_id, item_id, rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin

  private lazy val markov2PredictSql: String =
    s"""$interactionsSql,
         |seq AS (SELECT query_id, item_id,
         |    lag(item_id, 1) OVER w AS p1,
         |    lag(item_id, 2) OVER w AS p2
         |  FROM interactions
         |  WINDOW w AS (PARTITION BY query_id
         |    ORDER BY timestamp, session_id, item_id)),
         |t2 AS (SELECT p2 AS ctx2, p1 AS ctx1, item_id AS item_two,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM seq WHERE p2 IS NOT NULL GROUP BY 1, 2, 3),
         |t1 AS (SELECT p1 AS item_one, item_id AS item_two,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM seq WHERE p1 IS NOT NULL GROUP BY 1, 2),
         |lst AS (SELECT query_id,
         |    max(CASE WHEN rn = 1 THEN item_id END) AS l1,
         |    max(CASE WHEN rn = 2 THEN item_id END) AS l2
         |  FROM (SELECT query_id, item_id, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY timestamp DESC, session_id DESC, item_id DESC) AS rn
         |    FROM interactions) WHERE rn <= 2 GROUP BY 1),
         |c2 AS (SELECT l.query_id, t.item_two AS item_id,
         |    CAST(t.cnt AS DOUBLE) AS rating
         |  FROM lst l JOIN t2 t ON l.l2 = t.ctx2 AND l.l1 = t.ctx1
         |  WHERE l.l2 IS NOT NULL),
         |q2 AS (SELECT DISTINCT query_id FROM c2),
         |c1 AS (SELECT l.query_id, t.item_two AS item_id,
         |    CAST(t.cnt AS DOUBLE) AS rating
         |  FROM lst l JOIN t1 t ON l.l1 = t.item_one
         |  WHERE l.query_id NOT IN (SELECT query_id FROM q2)),
         |seen AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |u AS (SELECT * FROM c2 UNION ALL SELECT * FROM c1),
         |unseen AS (SELECT u.* FROM u ANTI JOIN seen s
         |    ON u.query_id = s.query_id AND u.item_id = s.item_id)
         |SELECT query_id, item_id, rating FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM unseen) WHERE rn <= 5""".stripMargin

  private lazy val slopeOnePairsSql: String =
    s"""$interactionsSql,
         |$slopeOneScoredSql
         |SELECT p.query_id, p.item_id,
         |  coalesce(s.pred_ppm, -1) AS pred_ppm
         |FROM sbase p LEFT JOIN scored s
         |  ON p.query_id = s.query_id AND p.item_id = s.item_id""".stripMargin

  /** Shared CTE chain for the P³/RP³β oracles: the binary adjacency with
    * degrees, and the directed 2-step walk sums in exact ppt (every term
    * `10^12 // (deg(from)·deg(u))`, mirroring the engine's integral
    * quantization term-for-term). */
  private lazy val p3WalkSql: String =
    """pbase AS MATERIALIZED (
      |  SELECT DISTINCT query_id, item_id FROM interactions),
      |pdu AS (SELECT query_id, CAST(count(*) AS BIGINT) AS du
      |  FROM pbase GROUP BY 1),
      |pdi AS (SELECT item_id, CAST(count(*) AS BIGINT) AS di
      |  FROM pbase GROUP BY 1),
      |padj AS MATERIALIZED (SELECT b.query_id, b.item_id, u.du, i.di
      |  FROM pbase b JOIN pdu u USING (query_id) JOIN pdi i USING (item_id)),
      |phalf AS (SELECT a.item_id AS item_from, b.item_id AS item_to,
      |    CAST(sum(1000000000000 // (a.di * a.du)) AS BIGINT) AS s_fwd,
      |    CAST(sum(1000000000000 // (b.di * a.du)) AS BIGINT) AS s_bwd
      |  FROM padj a JOIN padj b
      |    ON a.query_id = b.query_id AND a.item_id < b.item_id
      |  GROUP BY 1, 2),
      |psims AS MATERIALIZED (
      |  SELECT item_from, item_to, s_fwd AS sim_ppt FROM phalf
      |  UNION ALL
      |  SELECT item_to, item_from, s_bwd FROM phalf)""".stripMargin

  /** model_bias / model_bias_incremental: the damped-mean baseline
    * replayed exactly in integer ppm over every distinct training pair. */
  private lazy val biasPairsSql: String =
    s"""$interactionsSql,
       |b AS (SELECT query_id, item_id,
       |    CAST(floor(rating * 1000000.0) AS BIGINT) AS r FROM interactions),
       |mu AS (SELECT sum(r) // count(*) AS mu FROM b),
       |bi AS (SELECT item_id,
       |    (sum(r) - count(*) * (SELECT mu FROM mu)) // (10 + count(*)) AS b_i
       |  FROM b GROUP BY 1),
       |bu AS (SELECT query_id,
       |    (sum(r) - count(*) * (SELECT mu FROM mu) - sum(b_i))
       |      // (10 + count(*)) AS b_u
       |  FROM b JOIN bi USING (item_id) GROUP BY 1)
       |SELECT p.query_id, p.item_id,
       |  CAST((SELECT mu FROM mu) + coalesce(bu.b_u, 0)
       |       + coalesce(bi.b_i, 0) AS BIGINT) AS pred_ppm
       |FROM (SELECT DISTINCT query_id, item_id FROM interactions) p
       |LEFT JOIN bu USING (query_id) LEFT JOIN bi USING (item_id)"""
      .stripMargin

  /** metrics_sampled_ranking: the 99-negatives protocol replayed exactly —
    * same md5 chain, same (score DESC, item ASC) tie order, same floor-ppm
    * quantization; every output column exact BIGINT. `negOrder` is the
    * per-user draw ORDER BY: the uniform md5 rank, or the weighted
    * Efraimidis–Spirakis ln(u)/w key for the popularity-sampled variant. */
  private def metricsSampledSqlWith(negOrder: String): String =
    s"""$timeSplitEvalSql,
       |sc2 AS (SELECT item_id, CAST(count(DISTINCT query_id) AS BIGINT) AS score
       |        FROM train GROUP BY 1),
       |gu AS (SELECT DISTINCT query_id FROM gt),
       |excl AS (SELECT query_id, item_id FROM seen
       |         UNION SELECT query_id, item_id FROM gt),
       |cand AS (SELECT u.query_id, s.item_id, s.score
       |         FROM gu u CROSS JOIN sc2 s
       |         ANTI JOIN excl e
       |           ON u.query_id = e.query_id AND s.item_id = e.item_id),
       |negs AS (SELECT query_id, item_id, score FROM (
       |  SELECT c.*, row_number() OVER (PARTITION BY query_id ORDER BY
       |    $negOrder,
       |    query_id, item_id) AS rn FROM cand c) WHERE rn <= 99),
       |pos AS (SELECT g.query_id, g.item_id AS pi, coalesce(s.score, 0) AS ps
       |        FROM gt g LEFT JOIN sc2 s ON g.item_id = s.item_id),
       |rk AS (SELECT p.query_id, p.pi,
       |    1 + coalesce(sum(CASE WHEN n.score > p.ps
       |        OR (n.score = p.ps AND n.item_id < p.pi)
       |      THEN 1 ELSE 0 END), 0) AS rnk
       |  FROM pos p LEFT JOIN negs n ON p.query_id = n.query_id
       |  GROUP BY p.query_id, p.pi, p.ps)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST((sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) * 1000000)
       |       // count(*) AS BIGINT) AS hr_at_10_ppm,
       |  CAST(sum(1000000 // rnk) // count(*) AS BIGINT) AS mrr_ppm,
       |  CAST((sum(rnk) * 1000000) // count(*) AS BIGINT) AS mean_rank_ppm
       |FROM rk""".stripMargin

  // NOTE: these fragments pass through the OUTER template's stripMargin a
  // second time — no line may start with `|` (e.g. a leading `||` concat)
  private lazy val metricsSampledSql: String = metricsSampledSqlWith(
    """('0x' || substr(md5('99:' || CAST(query_id AS VARCHAR) || ':' ||
      |       CAST(item_id AS VARCHAR)), 1, 15))::BIGINT""".stripMargin)

  /** The popularity-sampled draw: the sample_group_weighted key replayed
    * on the candidate stream (u from the same md5 chain, weight = train
    * popularity). */
  private lazy val metricsSampledPopSql: String = metricsSampledSqlWith(
    """ln(least(greatest(
      |      ('0x' || substr(md5('99:' || CAST(query_id AS VARCHAR) || ':' ||
      |        CAST(item_id AS VARCHAR)), 1, 15))::BIGINT
      |        / 1152921504606846976.0,
      |      1.0 / 9007199254740992.0),
      |      1.0 - 1.0 / 9007199254740992.0)) / CAST(score AS DOUBLE) DESC"""
      .stripMargin)

  /** PopRec seen-filtered top-k as CTE `top<k>(query_id, item_id, rating,
    * rn)` — shared by the multi-k / popularity-bias / calibrated-rerank
    * oracles (assumes the [[timeSplitEvalSql]] CTEs are in scope). */
  private def popRecTopSql(k: Int): String =
    s"""pscore AS (SELECT item_id, count(DISTINCT query_id) /
       |    CAST((SELECT count(DISTINCT query_id) FROM train) AS DOUBLE) AS rating
       |  FROM train GROUP BY 1),
       |ranked AS (SELECT item_id, rating,
       |  row_number() OVER (ORDER BY rating DESC, item_id) AS rnk FROM pscore),
       |cand AS (SELECT q.query_id, r.item_id, r.rating
       |  FROM users q CROSS JOIN ranked r WHERE r.rnk <= $k + (SELECT mx FROM ms)),
       |unseen AS (SELECT c.* FROM cand c ANTI JOIN seen s
       |  ON c.query_id = s.query_id AND c.item_id = s.item_id),
       |top$k AS (SELECT query_id, item_id, rating, rn FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
       |  FROM unseen) WHERE rn <= $k)""".stripMargin

  private lazy val popRecTop5Sql: String = popRecTopSql(5)

  /** metrics_popularity_bias: ARP / APLT of the PopRec top-5 replayed —
    * head = top 20% of catalog items by (pop DESC, item ASC), exact
    * integer permille boundary and ppm means. */
  private lazy val metricsPopBiasSql: String =
    s"""$timeSplitEvalSql,
       |$popRecTop5Sql,
       |pop AS (SELECT item_id, CAST(count(DISTINCT query_id) AS BIGINT) AS pop
       |  FROM train GROUP BY 1),
       |hc AS (SELECT (SELECT count(*) FROM pop) * 200 // 1000 AS h),
       |headt AS (SELECT item_id FROM (
       |  SELECT item_id, row_number() OVER (ORDER BY pop DESC, item_id) AS rnk
       |  FROM pop) WHERE rnk <= (SELECT h FROM hc)),
       |pu AS (SELECT t.query_id,
       |    CAST((sum(coalesce(p.pop, 0)) * 1000000) // count(*) AS BIGINT)
       |      AS arp,
       |    CAST((sum(CASE WHEN h.item_id IS NULL THEN 1 ELSE 0 END) * 1000000)
       |      // count(*) AS BIGINT) AS aplt
       |  FROM top5 t LEFT JOIN pop p ON t.item_id = p.item_id
       |  LEFT JOIN headt h ON t.item_id = h.item_id
       |  GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_users,
       |  CAST((SELECT h FROM hc) AS BIGINT) AS head_count,
       |  CAST(sum(arp) // count(*) AS BIGINT) AS arp_ppm,
       |  CAST(sum(aplt) // count(*) AS BIGINT) AS aplt_ppm
       |FROM pu""".stripMargin

  /** Long-format item features from the part table (brand + type) — the
    * content-KNN gate's feature source, mirrored by [[partFeaturesSql]]. */
  private def partFeatures(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(F.col("p_partkey").as("item_id"),
        F.concat(F.lit("brand:"), F.col("p_brand")).as("feature"))
      .unionByName(Tables.part(s, d).select(F.col("p_partkey").as("item_id"),
        F.concat(F.lit("type:"), F.col("p_type")).as("feature")))

  private val partFeaturesSql: String =
    """feats AS (SELECT p_partkey AS item_id, 'brand:' || p_brand AS feature
      |  FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'type:' || p_type FROM part)""".stripMargin

  /** rerank_calibrated: Steck's greedy calibrated re-rank unrolled — the
    * 3 steps share one term formula (identical operation order as the
    * engine's expr; per-term ppt floors make each step's KL an exact
    * integer), each step = candidates × history categories, left join on
    * the previous picks' category counts, top-1 by (rounded score DESC,
    * item ASC). */
  private lazy val rerankCalibratedSql: String = {
    def term(t: Int, cnt: String): String =
      s"""CAST(floor((CAST(h.hc AS DOUBLE) / CAST(h.ht AS DOUBLE)) * ln(
         |      (CAST(h.hc AS DOUBLE) / CAST(h.ht AS DOUBLE)) /
         |      ((1.0 - CAST(0.01 AS DOUBLE)) *
         |         (CAST($cnt +
         |            CASE WHEN h.category = c.cat THEN 1 ELSE 0 END AS DOUBLE)
         |          / CAST($t AS DOUBLE))
         |       + CAST(0.01 AS DOUBLE) *
         |         (CAST(h.hc AS DOUBLE) / CAST(h.ht AS DOUBLE)))
         |    ) * 1000000000000.0) AS BIGINT)""".stripMargin
    def step(t: Int, candCte: String, cntJoin: String, cnt: String): String =
      s"""kl$t AS (SELECT c.query_id, c.item_id, c.rating, c.cat,
         |    CAST(sum(${term(t, cnt)}) AS BIGINT) AS kl
         |  FROM $candCte c JOIN hd h ON c.query_id = h.query_id
         |  $cntJoin
         |  GROUP BY 1, 2, 3, 4),
         |pick$t AS (SELECT query_id, item_id, cat, score,
         |    CAST($t AS BIGINT) AS position FROM (
         |  SELECT query_id, item_id, cat, score, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, item_id) AS rn
         |  FROM (SELECT k.query_id, k.item_id, k.cat,
         |      round(CAST(0.5 AS DOUBLE) * k.rating - CAST(0.5 AS DOUBLE) *
         |        (CAST(k.kl AS DOUBLE) / 1000000000000.0), 9) AS score
         |    FROM kl$t k)) WHERE rn = 1)""".stripMargin
    s"""$timeSplitEvalSql,
       |${popRecTopSql(10)},
       |cats AS (SELECT p_partkey AS item_id, p_brand AS category FROM part),
       |pool AS (SELECT t.query_id, t.item_id, t.rating, c.category AS cat
       |  FROM top10 t JOIN cats c ON t.item_id = c.item_id),
       |hc0 AS (SELECT s.query_id, c.category, CAST(count(*) AS BIGINT) AS hc
       |  FROM seen s JOIN cats c ON s.item_id = c.item_id GROUP BY 1, 2),
       |hd AS (SELECT h.query_id, h.category, h.hc, t.ht FROM hc0 h
       |  JOIN (SELECT query_id, CAST(sum(hc) AS BIGINT) AS ht
       |        FROM hc0 GROUP BY 1) t ON h.query_id = t.query_id),
       |${step(1, "pool", "", "0")},
       |cnt1 AS (SELECT query_id, cat AS category,
       |    CAST(count(*) AS BIGINT) AS cnt FROM pick1 GROUP BY 1, 2),
       |cand2 AS (SELECT p.* FROM pool p ANTI JOIN pick1 s
       |  ON p.query_id = s.query_id AND p.item_id = s.item_id),
       |${step(2, "cand2",
        "LEFT JOIN cnt1 sc ON c.query_id = sc.query_id AND h.category = sc.category",
        "coalesce(sc.cnt, 0)")},
       |sel2 AS (SELECT query_id, item_id, cat FROM pick1
       |  UNION ALL SELECT query_id, item_id, cat FROM pick2),
       |cnt2 AS (SELECT query_id, cat AS category,
       |    CAST(count(*) AS BIGINT) AS cnt FROM sel2 GROUP BY 1, 2),
       |cand3 AS (SELECT p.* FROM pool p ANTI JOIN sel2 s
       |  ON p.query_id = s.query_id AND p.item_id = s.item_id),
       |${step(3, "cand3",
        "LEFT JOIN cnt2 sc ON c.query_id = sc.query_id AND h.category = sc.category",
        "coalesce(sc.cnt, 0)")}
       |SELECT query_id, item_id, score AS cal_score, position FROM pick1
       |UNION ALL SELECT query_id, item_id, score, position FROM pick2
       |UNION ALL SELECT query_id, item_id, score, position FROM pick3"""
      .stripMargin
  }

  /** metrics_calibration_kl: Steck's C_KL replayed — identical operation
    * order in the ln argument, per-term ppm floors, integer per-user sums. */
  private lazy val metricsCalibrationKlSql: String =
    s"""$timeSplitEvalSql,
       |$popRecTop5Sql,
       |cats AS (SELECT p_partkey AS item_id, p_brand AS category FROM part),
       |hcat AS (SELECT s.query_id, c.category, CAST(count(*) AS BIGINT) AS hc
       |  FROM seen s JOIN cats c ON s.item_id = c.item_id GROUP BY 1, 2),
       |htot AS (SELECT query_id, CAST(sum(hc) AS BIGINT) AS ht
       |  FROM hcat GROUP BY 1),
       |rcat AS (SELECT t.query_id, c.category, CAST(count(*) AS BIGINT) AS rc
       |  FROM top5 t JOIN cats c ON t.item_id = c.item_id GROUP BY 1, 2),
       |rtot AS (SELECT query_id, CAST(sum(rc) AS BIGINT) AS rt
       |  FROM rcat GROUP BY 1),
       |terms AS (SELECT h.query_id,
       |    CAST(floor((CAST(h.hc AS DOUBLE) / CAST(ht.ht AS DOUBLE)) * ln(
       |      (CAST(h.hc AS DOUBLE) / CAST(ht.ht AS DOUBLE)) /
       |      ((1.0 - CAST(0.01 AS DOUBLE)) *
       |         (CAST(coalesce(r.rc, 0) AS DOUBLE) / CAST(rt.rt AS DOUBLE))
       |       + CAST(0.01 AS DOUBLE) *
       |         (CAST(h.hc AS DOUBLE) / CAST(ht.ht AS DOUBLE)))
       |    ) * 1000000.0) AS BIGINT) AS term_ppm
       |  FROM hcat h JOIN htot ht USING (query_id)
       |  LEFT JOIN rcat r ON h.query_id = r.query_id
       |    AND h.category = r.category
       |  JOIN rtot rt ON h.query_id = rt.query_id),
       |pu AS (SELECT query_id, CAST(sum(term_ppm) AS BIGINT) AS ckl
       |  FROM terms GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_users,
       |  CAST(sum(ckl) // count(*) AS BIGINT) AS mean_ckl_ppm,
       |  CAST(max(ckl) AS BIGINT) AS max_ckl_ppm
       |FROM pu""".stripMargin

  /** metrics_multi_k: one PopRec top-5 rec set, hit_rate/ndcg evaluated
    * at every k — the per-k block is parametrized, the split shared. */
  private lazy val metricsMultiKSql: String = {
    def kBlock(p: String, k: Int): String =
      s"""${p}top AS (SELECT query_id, item_id, rn FROM top5 WHERE rn <= $k),
         |${p}predc AS (SELECT query_id, count(*) AS npred FROM ${p}top GROUP BY 1),
         |${p}hits AS (SELECT t.query_id, t.rn AS rnk FROM ${p}top t
         |  JOIN gt g ON t.query_id = g.query_id AND t.item_id = g.item_id),
         |${p}hs AS (SELECT query_id, count(*) AS nhits,
         |  sum(1.0/log2(rnk + 1)) AS dcg FROM ${p}hits GROUP BY 1),
         |${p}idcg AS (SELECT g.query_id, sum(1.0/log2(i + 1)) AS idcg
         |  FROM gtc g JOIN range(1, ${k + 1}) r(i) ON r.i <= least($k, g.ngt)
         |  GROUP BY 1),
         |${p}pu AS (SELECT g.query_id,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       WHEN coalesce(h.nhits, 0) > 0 THEN 1.0 ELSE 0.0 END AS hr,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       ELSE coalesce(h.dcg, 0.0) / i.idcg END AS ndcg_
         |  FROM gtc g
         |  LEFT JOIN ${p}predc p ON g.query_id = p.query_id
         |  LEFT JOIN ${p}hs h ON g.query_id = h.query_id
         |  LEFT JOIN ${p}idcg i ON g.query_id = i.query_id)""".stripMargin
    s"""$timeSplitEvalSql,
       |$popRecTop5Sql,
       |${kBlock("k1", 1)},
       |${kBlock("k5", 5)}
       |SELECT
       |  (SELECT round(avg(hr), 6) FROM k1pu) AS hit_rate_at_1,
       |  (SELECT round(avg(hr), 6) FROM k5pu) AS hit_rate_at_5,
       |  (SELECT round(avg(ndcg_), 6) FROM k1pu) AS ndcg_at_1,
       |  (SELECT round(avg(ndcg_), 6) FROM k5pu) AS ndcg_at_5""".stripMargin
  }

  /** Wilson-score predict → NDCG@5 per-user block, parameterized by a z
    * EXPRESSION (a literal for grid_search, the md5 draw expression for
    * grid_search_budget) — one copy so the two search oracles cannot
    * drift. Assumes the [[timeSplitEvalSql]] CTEs are in scope. */
  private def wilsonNdcgBlock(p: String, z: String): String =
      s"""${p}pt AS (SELECT item_id,
         |    sum(CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END) AS pos,
         |    CAST(count(*) AS DOUBLE) AS total
         |  FROM train GROUP BY item_id),
         |${p}score AS (SELECT item_id,
         |  (pos/total + ($z*$z)/(2*total)
         |   - $z * sqrt(((pos/total)*(1 - pos/total) + ($z*$z)/(4*total))/total))
         |  / (1 + ($z*$z)/total) AS rating FROM ${p}pt),
         |${p}ranked AS (SELECT item_id, rating,
         |  row_number() OVER (ORDER BY rating DESC, item_id) AS rnk FROM ${p}score),
         |${p}cand AS (SELECT q.query_id, r.item_id, r.rating
         |  FROM users q CROSS JOIN ${p}ranked r WHERE r.rnk <= 5 + (SELECT mx FROM ms)),
         |${p}unseen AS (SELECT c.* FROM ${p}cand c ANTI JOIN seen s
         |  ON c.query_id = s.query_id AND c.item_id = s.item_id),
         |${p}top5 AS (SELECT query_id, item_id, rn FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM ${p}unseen) WHERE rn <= 5),
         |${p}predc AS (SELECT query_id, count(*) AS npred FROM ${p}top5 GROUP BY 1),
         |${p}hits AS (SELECT t.query_id, t.rn AS rnk FROM ${p}top5 t
         |  JOIN gt g ON t.query_id = g.query_id AND t.item_id = g.item_id),
         |${p}hs AS (SELECT query_id, sum(1.0/log2(rnk + 1)) AS dcg
         |  FROM ${p}hits GROUP BY 1),
         |${p}pu AS (SELECT g.query_id,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       ELSE coalesce(h.dcg, 0.0) / i.idcg END AS ndcg_
         |  FROM gtc g
         |  LEFT JOIN ${p}predc p ON g.query_id = p.query_id
         |  LEFT JOIN ${p}hs h ON g.query_id = h.query_id
         |  LEFT JOIN idcg i ON g.query_id = i.query_id)""".stripMargin

  /** grid_search: the experiment split + the Wilson predict/ndcg block
    * instantiated once per z value on the grid. */
  private lazy val gridSearchSql: String =
    s"""$timeSplitEvalSql,
       |${wilsonNdcgBlock("z1", "1.0")},
       |${wilsonNdcgBlock("z2", "1.96")}
       |SELECT CAST(1.0 AS DOUBLE) AS z, round(avg(ndcg_), 6) AS ndcg_at_5 FROM z1pu
       |UNION ALL
       |SELECT CAST(1.96 AS DOUBLE) AS z, round(avg(ndcg_), 6) AS ndcg_at_5 FROM z2pu""".stripMargin

  /** grid_search_budget: the z value of trial t is the SAME md5 draw the
    * Scala RandomSearch makes — lo + u·(hi−lo), u = md5("7:t:z") first 15
    * hex / 2^60 — recomputed inside SQL, so the oracle mirrors the whole
    * budgeted search (draw sequence AND scores), not just the scoring. */
  private def zDrawSql(t: Int): String =
    s"(1.0 + (('0x' || substr(md5('7:$t:z'), 1, 15))::BIGINT" +
      " / 1152921504606846976.0) * (2.0 - 1.0))"

  private lazy val gridSearchBudgetSql: String = {
    val blocks = (0 until 3).map(t => wilsonNdcgBlock(s"b$t", zDrawSql(t)))
      .mkString(",\n")
    val selects = (0 until 3).map(t =>
      s"""SELECT CAST($t AS BIGINT) AS trial, round(${zDrawSql(t)}, 6) AS z,
         |  round(avg(ndcg_), 6) AS ndcg_at_5 FROM b${t}pu""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"$timeSplitEvalSql,\n$blocks\n$selects"
  }

  /** tpe_search_budget: bit-exact replay of the SEQUENTIAL adaptive
    * search (RandomSearch.Tpe) — startup trials are the md5 draw
    * sequence, each adaptive trial t unrolls to CTEs that rank the past
    * trials (score desc, trial asc), draw 8 candidates (even = uniform,
    * odd = clamped perturbation of the best with radius bw/(t−1)), pick
    * the Cauchy-kernel density-ratio argmax, and score it. Every number
    * is +,·,/ on md5 draws — no transcendental, no float-sum-order
    * dependence (the bad-side density is a MAX), so the oracle matches
    * the engine to the last ulp. */

  /** Shared OPE ground truth: the direct estimate over the full replay
    * (ucb-over-train sampling distribution, train-popularity propensities,
    * IPS + clipped self-normalized values). Consumed by ope_ncis_replay
    * (direct path) and ope_incremental (summary/merge law). */
  private lazy val opeReplaySql: String =
    s"""$timeSplitEvalSql,
         |pt AS (SELECT item_id,
         |    sum(CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END) AS pos,
         |    CAST(count(*) AS DOUBLE) AS total
         |  FROM train GROUP BY item_id),
         |sc AS (SELECT item_id,
         |    pos/total + sqrt(2.0 * ln((SELECT CAST(count(*) AS DOUBLE) FROM train)) / total) AS w
         |  FROM pt),
         |g AS (SELECT item_id, CASE WHEN w = 0.0 THEN 1e-6 ELSE w END AS w FROM sc),
         |dist AS (SELECT item_id, w / (SELECT sum(w) FROM g) AS prob FROM g),
         |beh AS (SELECT item_id,
         |    CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM train) AS propensity
         |  FROM train GROUP BY item_id),
         |logged AS (SELECT query_id, item_id,
         |    CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END AS reward FROM test),
         |sj AS (SELECT l.reward, d.prob / b.propensity AS w
         |  FROM logged l JOIN dist d ON l.item_id = d.item_id
         |  JOIN beh b ON l.item_id = b.item_id)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  round(sum(reward)/count(*), 6) AS behavior_value,
         |  round(sum(w*reward)/count(*), 6) AS ips_value,
         |  round(sum(least(w, CAST(10.0 AS DOUBLE))*reward)
         |    / sum(least(w, CAST(10.0 AS DOUBLE))), 6) AS ncis_value
         |FROM sj""".stripMargin

  /** DM/DR replay: opeReplaySql plus the reward model r̂(a) = train mean
    * reward per item and the policy-expectation dm = Σ_a π_e(a)·r̂(a)
    * (the UCB sampling policy is item-only, so q̂(x, π_e) is the same
    * constant for every logged query — attached per round, then averaged,
    * mirroring the engine's per-round sum_dm/n). */
  private lazy val opeDrSql: String =
    s"""$timeSplitEvalSql,
         |pt AS (SELECT item_id,
         |    sum(CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END) AS pos,
         |    CAST(count(*) AS DOUBLE) AS total
         |  FROM train GROUP BY item_id),
         |sc AS (SELECT item_id,
         |    pos/total + sqrt(2.0 * ln((SELECT CAST(count(*) AS DOUBLE) FROM train)) / total) AS w
         |  FROM pt),
         |g AS (SELECT item_id, CASE WHEN w = 0.0 THEN 1e-6 ELSE w END AS w FROM sc),
         |dist AS (SELECT item_id, w / (SELECT sum(w) FROM g) AS prob FROM g),
         |beh AS (SELECT item_id,
         |    CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM train) AS propensity
         |  FROM train GROUP BY item_id),
         |rhat AS (SELECT item_id,
         |    avg(CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END) AS rh
         |  FROM train GROUP BY item_id),
         |dm AS (SELECT sum(d.prob * r.rh) AS dmv
         |  FROM dist d JOIN rhat r ON d.item_id = r.item_id),
         |logged AS (SELECT query_id, item_id,
         |    CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END AS reward FROM test),
         |sj AS (SELECT l.reward, d.prob / b.propensity AS w,
         |    coalesce(r.rh, CAST(0.0 AS DOUBLE)) AS rh, dm.dmv AS dmv
         |  FROM logged l JOIN dist d ON l.item_id = d.item_id
         |  JOIN beh b ON l.item_id = b.item_id
         |  LEFT JOIN rhat r ON l.item_id = r.item_id, dm)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  round(sum(reward)/count(*), 6) AS behavior_value,
         |  round(sum(w*reward)/count(*), 6) AS ips_value,
         |  round(sum(least(w, CAST(10.0 AS DOUBLE))*reward)
         |    / sum(least(w, CAST(10.0 AS DOUBLE))), 6) AS ncis_value,
         |  round(sum(dmv)/count(*), 6) AS dm_value,
         |  round((sum(dmv) + sum(w*reward) - sum(w*rh))/count(*), 6)
         |    AS dr_value,
         |  round((sum(dmv) + sum(least(w, CAST(10.0 AS DOUBLE))*reward)
         |         - sum(least(w, CAST(10.0 AS DOUBLE))*rh))/count(*), 6)
         |    AS dr_clipped_value
         |FROM sj""".stripMargin

  // COUPLING NOTE (ADVICE r11): both TPE SQL builders hardcode a good-set
  // of size 1 (top row by score; `OFFSET 1` leaves the rest as the bad
  // set). That mirrors Tpe.propose's nGood = ceil(gamma·n) with gamma=0.25
  // ONLY while past.size <= 4 trials — i.e. while the gate's budget stays
  // <= 5. Raising the budget past 5 or changing gamma requires computing
  // nGood in the CTEs (LIMIT ceil(0.25*t)) or the SQL silently diverges
  // from the Scala sampler.
  private lazy val tpeSearchBudgetSql: String = {
    val bw = "CAST(0.2 AS DOUBLE)"
    def u(t: Int, cExpr: String) =
      s"(('0x' || substr(md5('7:$t:z:' || $cExpr), 1, 15))::BIGINT" +
        " / 1152921504606846976.0)"
    def score(z: String) = s"1/(1 + 8*($z - zstar)*($z - zstar))"
    def adaptive(t: Int): String = {
      val k = t - 1 // radius divisor: t − nStartup + 1 with nStartup = 2
      val prev = (0 until t).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
      s"""g$t AS (SELECT z AS zg FROM ($prev) p ORDER BY s DESC, trial LIMIT 1),
         |b$t AS (SELECT z AS zb FROM ($prev) p ORDER BY s DESC, trial OFFSET 1),
         |c$t AS (SELECT cc.c, g.zg, CASE WHEN cc.c % 2 = 0
         |    THEN 1.0 + ${u(t, "cc.c")} * (2.0 - 1.0)
         |    ELSE least(CAST(2.0 AS DOUBLE), greatest(CAST(1.0 AS DOUBLE),
         |      g.zg + (2 * ${u(t, "cc.c")} - 1) * ($bw / $k))) END AS x
         |  FROM range(0, 8) cc(c), g$t g),
         |k$t AS (SELECT c.c, c.x,
         |    (1/(1 + ((c.x - c.zg)/$bw)*((c.x - c.zg)/$bw))) /
         |    (max(1/(1 + ((c.x - b.zb)/$bw)*((c.x - b.zb)/$bw))) + 1e-9) AS ratio
         |  FROM c$t c CROSS JOIN b$t b GROUP BY c.c, c.x, c.zg),
         |z$t AS (SELECT x AS z FROM k$t ORDER BY ratio DESC, c LIMIT 1),
         |r$t AS (SELECT $t AS trial, z, ${score("z")} AS s FROM z$t, zs)""".stripMargin
    }
    val startup = (0 until 2).map(t =>
      s"""t$t AS (SELECT $t AS trial, ${zDrawSql(t)} AS z),
         |r$t AS (SELECT trial, z, ${score("z")} AS s FROM t$t, zs)""".stripMargin)
      .mkString(",\n")
    val adaptives = (2 until 5).map(adaptive).mkString(",\n")
    val all = (0 until 5).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    s"""$interactionsSql,
       |zs AS (SELECT CAST(1.0 AS DOUBLE) + sum(rating)/count(*)/100 AS zstar
       |  FROM interactions),
       |$startup,
       |$adaptives
       |SELECT CAST(trial AS BIGINT) AS trial, round(z, 6) AS z,
       |  round(s, 6) AS score FROM ($all) q""".stripMargin
  }

  /** tpe_search_2d: the two-dimensional unroll — per adaptive trial the
    * good/bad ranking is SHARED (one ORDER BY s over the past trials,
    * both params' values carried along) and each param gets its own
    * candidate/kernel/argmax CTE chain with its own borders, bandwidth,
    * shrink radius, and md5 key family — exactly the factorized proposal
    * RandomSearch.Tpe.propose computes per dimension. */
  private lazy val tpeSearch2dSql: String = {
    // (name, lo, hi, bwExpr): bw = (hi − lo) * 0.2 written with the same
    // operand order the Scala computes
    val params = Seq(
      ("z", "1.0", "2.0", "((2.0 - 1.0) * CAST(0.2 AS DOUBLE))"),
      ("y", "0.0", "4.0", "((4.0 - 0.0) * CAST(0.2 AS DOUBLE))"))
    def u(t: Int, p: String, cExpr: String) =
      s"(('0x' || substr(md5('7:$t:$p:' || $cExpr), 1, 15))::BIGINT" +
        " / 1152921504606846976.0)"
    def uStartup(t: Int, p: String) =
      s"(('0x' || substr(md5('7:$t:$p'), 1, 15))::BIGINT" +
        " / 1152921504606846976.0)"
    def score(z: String, y: String) =
      s"1/(1 + 8*($z - zstar)*($z - zstar) + 2*($y - ystar)*($y - ystar))"
    def adaptive(t: Int): String = {
      val k = t - 1
      val prev = (0 until t).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
      val perParam = params.map { case (p, lo, hi, bw) =>
        s"""c$p$t AS (SELECT cc.c, g.${p}g, CASE WHEN cc.c % 2 = 0
           |    THEN $lo + ${u(t, p, "cc.c")} * ($hi - $lo)
           |    ELSE least(CAST($hi AS DOUBLE), greatest(CAST($lo AS DOUBLE),
           |      g.${p}g + (2 * ${u(t, p, "cc.c")} - 1) * ($bw / $k))) END AS x
           |  FROM range(0, 8) cc(c), g$t g),
           |k$p$t AS (SELECT c.c, c.x,
           |    (1/(1 + ((c.x - c.${p}g)/$bw)*((c.x - c.${p}g)/$bw))) /
           |    (max(1/(1 + ((c.x - b.${p}b)/$bw)*((c.x - b.${p}b)/$bw))) + 1e-9) AS ratio
           |  FROM c$p$t c CROSS JOIN b$t b GROUP BY c.c, c.x, c.${p}g),
           |x$p$t AS (SELECT x AS $p FROM k$p$t ORDER BY ratio DESC, c LIMIT 1)""".stripMargin
      }.mkString(",\n")
      s"""g$t AS (SELECT z AS zg, y AS yg FROM ($prev) p
         |  ORDER BY s DESC, trial LIMIT 1),
         |b$t AS (SELECT z AS zb, y AS yb FROM ($prev) p
         |  ORDER BY s DESC, trial OFFSET 1),
         |$perParam,
         |r$t AS (SELECT $t AS trial, z, y, ${score("z", "y")} AS s
         |  FROM xz$t, xy$t, zs)""".stripMargin
    }
    val startup = (0 until 2).map(t =>
      s"""t$t AS (SELECT $t AS trial,
         |    (1.0 + ${uStartup(t, "z")} * (2.0 - 1.0)) AS z,
         |    (0.0 + ${uStartup(t, "y")} * (4.0 - 0.0)) AS y),
         |r$t AS (SELECT trial, z, y, ${score("z", "y")} AS s FROM t$t, zs)""".stripMargin)
      .mkString(",\n")
    val adaptives = (2 until 5).map(adaptive).mkString(",\n")
    val all = (0 until 5).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    s"""$interactionsSql,
       |zs AS (SELECT CAST(1.0 AS DOUBLE) + sum(rating)/count(*)/100 AS zstar,
       |  (4 * sum(CASE WHEN rating > 25 THEN 1 ELSE 0 END)) / count(*) AS ystar
       |  FROM interactions),
       |$startup,
       |$adaptives
       |SELECT CAST(trial AS BIGINT) AS trial, round(z, 6) AS z,
       |  round(y, 6) AS y, round(s, 6) AS score FROM ($all) q""".stripMargin
  }

  /** experiment_table: the metrics_ranking split + gt, then per model
    * (PopRec, Wilson on rating>25-binarized train) the full predict-top5
    * pipeline and hit_rate/ndcg@5 means — one row per model. */
  private lazy val experimentTableSql: String = {
    // per-model block: scores CTE `<p>score(item_id, rating)` → top-5 recs
    // → per-user hr/ndcg; shares users/ms/seen/gt/gtc/idcg
    def modelBlock(p: String): String =
      s"""${p}ranked AS (SELECT item_id, rating,
         |  row_number() OVER (ORDER BY rating DESC, item_id) AS rnk FROM ${p}score),
         |${p}cand AS (SELECT q.query_id, r.item_id, r.rating
         |  FROM users q CROSS JOIN ${p}ranked r WHERE r.rnk <= 5 + (SELECT mx FROM ms)),
         |${p}unseen AS (SELECT c.* FROM ${p}cand c ANTI JOIN seen s
         |  ON c.query_id = s.query_id AND c.item_id = s.item_id),
         |${p}top5 AS (SELECT query_id, item_id, rn FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM ${p}unseen) WHERE rn <= 5),
         |${p}predc AS (SELECT query_id, count(*) AS npred FROM ${p}top5 GROUP BY 1),
         |${p}hits AS (SELECT t.query_id, t.rn AS rnk FROM ${p}top5 t
         |  JOIN gt g ON t.query_id = g.query_id AND t.item_id = g.item_id),
         |${p}hs AS (SELECT query_id, count(*) AS nhits,
         |  sum(1.0/log2(rnk + 1)) AS dcg FROM ${p}hits GROUP BY 1),
         |${p}pu AS (SELECT g.query_id,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       WHEN coalesce(h.nhits, 0) > 0 THEN 1.0 ELSE 0.0 END AS hr,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       ELSE coalesce(h.dcg, 0.0) / i.idcg END AS ndcg_
         |  FROM gtc g
         |  LEFT JOIN ${p}predc p ON g.query_id = p.query_id
         |  LEFT JOIN ${p}hs h ON g.query_id = h.query_id
         |  LEFT JOIN idcg i ON g.query_id = i.query_id)""".stripMargin
    s"""$timeSplitEvalSql,
       |pscore AS (SELECT item_id, count(DISTINCT query_id) /
       |    CAST((SELECT count(DISTINCT query_id) FROM train) AS DOUBLE) AS rating
       |  FROM train GROUP BY 1),
       |wpt AS (SELECT item_id,
       |    sum(CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END) AS pos,
       |    CAST(count(*) AS DOUBLE) AS total
       |  FROM train GROUP BY 1),
       |wscore AS (SELECT item_id,
       |  (pos/total + (1.96*1.96)/(2*total)
       |   - 1.96 * sqrt(((pos/total)*(1 - pos/total) + (1.96*1.96)/(4*total))/total))
       |  / (1 + (1.96*1.96)/total) AS rating FROM wpt),
       |${modelBlock("p")},
       |${modelBlock("w")}
       |SELECT 'pop_rec' AS model, round(avg(hr), 6) AS hit_rate_at_5,
       |  round(avg(ndcg_), 6) AS ndcg_at_5 FROM ppu
       |UNION ALL
       |SELECT 'wilson' AS model, round(avg(hr), 6) AS hit_rate_at_5,
       |  round(avg(ndcg_), 6) AS ndcg_at_5 FROM wpu""".stripMargin
  }

  /** The shared time-split evaluation preamble (80/20 quantile cut,
    * train/test, seen sets, crop bound, ground truth + idcg) used by the
    * experiment_table and grid_search oracles — one copy so a split or
    * crop fix cannot desynchronize the mirrors. */
  private lazy val timeSplitEvalSql: String =
    s"""$interactionsSql,
       |counts AS (SELECT timestamp AS ts0, count(*) AS c FROM interactions GROUP BY 1),
       |cum AS (SELECT ts0, CAST(sum(c) OVER (ORDER BY ts0 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm FROM counts),
       |cut AS (SELECT min(ts0) AS t FROM cum
       |        WHERE cm >= ceil((SELECT count(*) FROM interactions) * CAST(0.8 AS DOUBLE))),
       |train AS (SELECT * FROM interactions WHERE timestamp <= (SELECT t FROM cut)),
       |test AS (SELECT * FROM interactions WHERE timestamp > (SELECT t FROM cut)),
       |users AS (SELECT DISTINCT query_id FROM train),
       |seen AS (SELECT DISTINCT query_id, item_id FROM train),
       |ms AS (SELECT max(cnt) AS mx FROM (
       |        SELECT count(*) AS cnt FROM train GROUP BY query_id)),
       |gt AS (SELECT DISTINCT query_id, item_id FROM test),
       |gtc AS (SELECT query_id, count(*) AS ngt FROM gt GROUP BY 1),
       |idcg AS (SELECT g.query_id, sum(1.0/log2(i + 1)) AS idcg
       |        FROM gtc g JOIN range(1, 6) r(i) ON r.i <= least(5, g.ngt)
       |        GROUP BY 1)""".stripMargin

  /** UCB batch formula — shared by model_ucb and model_ucb_refit. */
  /** Unrounded per-item UCB scores as CTE `sc(item_id, w)` — the sampled
    * predict/proba oracles consume the raw scores the engine samples over. */
  private lazy val ucbRawScoreSql: String =
    s"""$interactionsSql,
       |pt AS (
       |  SELECT item_id,
       |    sum(CASE WHEN rating > 25 THEN 1.0 ELSE 0.0 END) AS pos,
       |    CAST(count(*) AS DOUBLE) AS total
       |  FROM interactions GROUP BY item_id),
       |sc AS (
       |  SELECT item_id,
       |    pos/total + sqrt(2.0 * ln((SELECT CAST(count(*) AS DOUBLE) FROM interactions)) / total) AS w
       |  FROM pt)""".stripMargin

  private lazy val ucbBatchSql: String =
    s"""$ucbRawScoreSql
       |SELECT item_id, round(w, 6) AS rating FROM sc""".stripMargin

  /** Shared by metrics_ranking, its bounded-aggregator twin, and the
    * descriptor query: everything up to the per-user metric frame `pu`. */
  private lazy val metricsRankingSql: String =
    s"""$metricsPuSql
       |SELECT round(avg(hr), 6) AS hit_rate_at_5,
       |  round(avg(prec), 6) AS precision_at_5,
       |  round(avg(rec), 6) AS recall_at_5,
       |  round(avg(map_), 6) AS map_at_5,
       |  round(avg(mrr_), 6) AS mrr_at_5,
       |  round(avg(ndcg_), 6) AS ndcg_at_5,
       |  round(avg(auc), 6) AS roc_auc_at_5
       |FROM pu""".stripMargin

  private lazy val metricsPuSql: String =
      s"""$interactionsSql,
         |counts AS (SELECT timestamp AS ts0, count(*) AS c FROM interactions GROUP BY 1),
         |cum AS (SELECT ts0, CAST(sum(c) OVER (ORDER BY ts0 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm FROM counts),
         |cut AS (SELECT min(ts0) AS t FROM cum
         |        WHERE cm >= ceil((SELECT count(*) FROM interactions) * CAST(0.8 AS DOUBLE))),
         |train AS (SELECT * FROM interactions WHERE timestamp <= (SELECT t FROM cut)),
         |test AS (SELECT * FROM interactions WHERE timestamp > (SELECT t FROM cut)),
         |pop AS (SELECT item_id, count(DISTINCT query_id) /
         |          CAST((SELECT count(DISTINCT query_id) FROM train) AS DOUBLE) AS rating
         |        FROM train GROUP BY 1),
         |ms AS (SELECT max(cnt) AS mx FROM (
         |        SELECT count(*) AS cnt FROM train GROUP BY query_id)),
         |ranked AS (SELECT item_id, rating,
         |        row_number() OVER (ORDER BY rating DESC, item_id) AS rnk FROM pop),
         |cand AS (SELECT q.query_id, r.item_id, r.rating
         |        FROM (SELECT DISTINCT query_id FROM train) q
         |        CROSS JOIN ranked r WHERE r.rnk <= 5 + (SELECT mx FROM ms)),
         |unseen AS (SELECT c.* FROM cand c ANTI JOIN
         |        (SELECT DISTINCT query_id, item_id FROM train) sn
         |        ON c.query_id = sn.query_id AND c.item_id = sn.item_id),
         |top5 AS (SELECT query_id, item_id, rn FROM (
         |        SELECT *, row_number() OVER (
         |          PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |        FROM unseen) WHERE rn <= 5),
         |gt AS (SELECT DISTINCT query_id, item_id FROM test),
         |gtc AS (SELECT query_id, count(*) AS ngt FROM gt GROUP BY 1),
         |predc AS (SELECT query_id, count(*) AS npred FROM top5 GROUP BY 1),
         |hits AS (SELECT t.query_id, t.rn AS rnk FROM top5 t
         |        JOIN gt g ON t.query_id = g.query_id AND t.item_id = g.item_id),
         |hs AS (SELECT query_id, count(*) AS nhits, min(rnk) AS first_hit,
         |        sum(1.0/log2(rnk + 1)) AS dcg,
         |        sum(CAST(hit_idx AS DOUBLE)/rnk) AS map_sum,
         |        sum(rnk - hit_idx) AS fp_cum
         |       FROM (SELECT query_id, rnk, row_number() OVER (
         |               PARTITION BY query_id ORDER BY rnk) AS hit_idx FROM hits)
         |       GROUP BY 1),
         |idcg AS (SELECT g.query_id, sum(1.0/log2(i + 1)) AS idcg
         |        FROM gtc g JOIN range(1, 6) r(i) ON r.i <= least(5, g.ngt)
         |        GROUP BY 1),
         |pu AS (SELECT g.query_id,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       WHEN coalesce(h.nhits, 0) > 0 THEN 1.0 ELSE 0.0 END AS hr,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       ELSE coalesce(h.nhits, 0) / 5.0 END AS prec,
         |  coalesce(h.nhits, 0) / CAST(g.ngt AS DOUBLE) AS rec,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       ELSE coalesce(h.map_sum, 0.0) / 5 END AS map_,
         |  CASE WHEN coalesce(p.npred, 0) = 0 OR h.first_hit IS NULL THEN 0.0
         |       ELSE 1.0 / h.first_hit END AS mrr_,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       ELSE coalesce(h.dcg, 0.0) / i.idcg END AS ndcg_,
         |  CASE WHEN coalesce(p.npred, 0) = 0 THEN 0.0
         |       WHEN coalesce(h.nhits, 0) = 0 THEN 0.0
         |       WHEN coalesce(h.fp_cum, 0) = 0 THEN 1.0
         |       ELSE 1.0 - CAST(h.fp_cum AS DOUBLE) /
         |            ((p.npred - h.nhits) * h.nhits) END AS auc
         |  FROM gtc g
         |  LEFT JOIN predc p ON g.query_id = p.query_id
         |  LEFT JOIN hs h ON g.query_id = h.query_id
         |  LEFT JOIN idcg i ON g.query_id = i.query_id)""".stripMargin

  /** MinHash-LSH candidate pairs as CTEs `toks, hs, sigs, bands, cand` —
    * one md5 per shingle; 16 universal-hash permutations as linear mixes,
    * constants interpolated from the SAME Scala source of truth. Shared by
    * dedup_minhash (pair similarity) and dedup_cluster* (components). */
  private lazy val minhashCandSql: String = {
    import graft.text.Dedup.{MinhashPrime => P, mixA, mixB}
    val minCols = (0 until 16)
      .map(p => s"min((${mixA(p)}*h + ${mixB(p)}) % $P) AS h$p").mkString(",\n        ")
    val bandSigs = (0 until 4).map { b =>
      val cs = (0 until 4).map(i => s"CAST(h${b * 4 + i} AS VARCHAR)")
      s"($b, ${cs.mkString(" || ',' || ")})"
    }.mkString(",\n          ")
    s"""toks AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(0, len(string_split_regex(trim(lower(text)), '\\s+')) - 3),
      |      i -> array_to_string(
      |        string_split_regex(trim(lower(text)), '\\s+')[i+1:i+3], ' '))) AS shs
      |  FROM documents
      |  WHERE len(string_split_regex(trim(lower(text)), '\\s+')) >= 3),
      |hs AS (
      |  SELECT t.doc_id,
      |    ('0x' || substr(md5('0:' || s.sh), 1, 15))::BIGINT % $P AS h
      |  FROM toks t, unnest(t.shs) s(sh)),
      |sigs AS (
      |  SELECT doc_id,
      |        $minCols
      |  FROM hs GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, b.band, b.sig FROM sigs,
      |    LATERAL (VALUES
      |          $bandSigs) AS b(band, sig)),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin
  }

  private lazy val oracleSqlRest: Map[String, String] = Map(
    "metrics_item_distribution" ->
      s"""$interactionsSql,
         |agg AS (SELECT query_id, item_id, sum(rating) AS rating
         |        FROM interactions GROUP BY 1, 2),
         |top3 AS (SELECT query_id, item_id FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |  FROM agg) WHERE rn <= 3),
         |lc AS (SELECT item_id, count(DISTINCT query_id) AS user_count
         |       FROM interactions GROUP BY 1),
         |rc AS (SELECT item_id, count(DISTINCT query_id) AS rec_count
         |       FROM top3 GROUP BY 1)
         |SELECT coalesce(lc.item_id, rc.item_id) AS item_id,
         |  coalesce(user_count, 0) AS user_count,
         |  coalesce(rec_count, 0) AS rec_count
         |FROM lc FULL OUTER JOIN rc ON lc.item_id = rc.item_id""".stripMargin,
    "metrics_catalog" ->
      s"""$interactionsSql,
         |counts AS (SELECT timestamp AS ts0, count(*) AS c FROM interactions GROUP BY 1),
         |cum AS (SELECT ts0, CAST(sum(c) OVER (ORDER BY ts0 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm FROM counts),
         |cut AS (SELECT min(ts0) AS t FROM cum
         |        WHERE cm >= ceil((SELECT count(*) FROM interactions) * CAST(0.8 AS DOUBLE))),
         |train AS (SELECT * FROM interactions WHERE timestamp <= (SELECT t FROM cut)),
         |users AS (SELECT DISTINCT query_id FROM train),
         |pop AS (SELECT item_id, count(DISTINCT query_id) /
         |          CAST((SELECT count(DISTINCT query_id) FROM train) AS DOUBLE) AS rating
         |        FROM train GROUP BY 1),
         |ms AS (SELECT max(cnt) AS mx FROM (
         |        SELECT count(*) AS cnt FROM train GROUP BY query_id)),
         |ranked AS (SELECT item_id, rating,
         |        row_number() OVER (ORDER BY rating DESC, item_id) AS rnk FROM pop),
         |cand AS (SELECT q.query_id, r.item_id, r.rating
         |        FROM users q CROSS JOIN ranked r
         |        WHERE r.rnk <= 5 + (SELECT mx FROM ms)),
         |unseen AS (SELECT c.* FROM cand c ANTI JOIN
         |        (SELECT DISTINCT query_id, item_id FROM train) sn
         |        ON c.query_id = sn.query_id AND c.item_id = sn.item_id),
         |top5 AS (SELECT query_id, item_id FROM (
         |        SELECT *, row_number() OVER (
         |          PARTITION BY query_id ORDER BY rating DESC, item_id) AS rn
         |        FROM unseen) WHERE rn <= 5),
         |all5 AS (SELECT q.query_id, r.item_id FROM users q
         |        CROSS JOIN ranked r WHERE r.rnk <= 5),
         |cov AS (SELECT count(DISTINCT item_id) /
         |          (SELECT CAST(count(DISTINCT item_id) AS DOUBLE) FROM train)
         |          AS coverage_at_5 FROM top5),
         |nov AS (SELECT avg(sh) AS novelty_at_5 FROM (
         |        SELECT a.query_id,
         |          sum(CASE WHEN sn.query_id IS NULL THEN 1.0 ELSE 0.0 END)
         |            / count(*) AS sh
         |        FROM all5 a LEFT JOIN
         |          (SELECT DISTINCT query_id, item_id FROM train) sn
         |          ON a.query_id = sn.query_id AND a.item_id = sn.item_id
         |        GROUP BY 1)),
         |iw AS (SELECT item_id,
         |        log2((SELECT CAST(count(DISTINCT query_id) AS DOUBLE) FROM train)
         |             / count(DISTINCT query_id))
         |        / log2((SELECT CAST(count(DISTINCT query_id) AS DOUBLE) FROM train))
         |        AS w
         |       FROM train GROUP BY item_id),
         |sur AS (SELECT avg(uw) AS surprisal_at_5 FROM (
         |        SELECT t.query_id, avg(iw.w) AS uw
         |        FROM top5 t JOIN iw ON t.item_id = iw.item_id GROUP BY 1)),
         |unx AS (SELECT avg(1.0 - cnt / 5.0) AS unexpectedness_at_5 FROM (
         |        SELECT t.query_id,
         |          CAST(count(b.item_id) AS DOUBLE) AS cnt
         |        FROM top5 t LEFT JOIN all5 b
         |          ON t.query_id = b.query_id AND t.item_id = b.item_id
         |        GROUP BY 1)),
         |div_ AS (SELECT avg(dv) AS categorical_diversity_at_5 FROM (
         |        SELECT t.query_id,
         |          CAST(count(DISTINCT p.p_brand) AS DOUBLE) AS dv
         |        FROM top5 t JOIN part p ON t.item_id = p.p_partkey
         |        GROUP BY 1))
         |SELECT round(coverage_at_5, 6) AS coverage_at_5,
         |  round(novelty_at_5, 6) AS novelty_at_5,
         |  round(surprisal_at_5, 6) AS surprisal_at_5,
         |  round(unexpectedness_at_5, 6) AS unexpectedness_at_5,
         |  round(categorical_diversity_at_5, 6) AS categorical_diversity_at_5
         |FROM cov, nov, sur, unx, div_""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  round(CAST(list_sum(list_transform(
        |      string_split_regex(trim(text), '\s+'), t -> length(t))) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')), 6) AS mean_token_len,
        |  round(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('the','and','of','to','a','in','is','that','it','for')))
        |      AS DOUBLE)
        |    / len(string_split_regex(trim(lower(text)), '\s+')), 6) AS stopword_ratio,
        |  round(
        |    (CASE WHEN len(string_split_regex(trim(text), '\s+'))
        |            BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.3 END)
        |    * (CASE WHEN (CAST(list_sum(list_transform(
        |          string_split_regex(trim(text), '\s+'), t -> length(t))) AS DOUBLE)
        |          / len(string_split_regex(trim(text), '\s+')))
        |          BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)
        |    * (0.5 + least(
        |        (CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |           t -> t IN ('the','and','of','to','a','in','is','that','it','for')))
        |           AS DOUBLE)
        |         / len(string_split_regex(trim(lower(text)), '\s+'))) * 4.0, 1.0) * 0.5),
        |    6) AS quality,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    // Corpus report: the per-doc chains are the PROVEN text_stats /
    // text_redact_pii mirrors verbatim (quality compared on the rounded
    // score); the report is pure counts + one exact BIGINT/BIGINT
    // division, so no float-order hazard anywhere.
    "text_corpus_report" ->
      """WITH sp AS (
        |  SELECT doc_id, source, lang,
        |    CASE WHEN doc_id % 4 = 0 THEN text || ' contact user'
        |      || CAST(doc_id AS VARCHAR) || '@example.com'
        |    ELSE text END AS text
        |  FROM documents),
        |pd AS (
        |  SELECT source, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |    CASE WHEN regexp_replace(regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '[0-9]{7,}', '<NUMBER>', 'g') <> text THEN 1 ELSE 0 END AS pii,
        |    CASE WHEN round(
        |      (CASE WHEN len(string_split_regex(trim(text), '\s+'))
        |              BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.3 END)
        |      * (CASE WHEN (CAST(list_sum(list_transform(
        |            string_split_regex(trim(text), '\s+'), t -> length(t)))
        |            AS DOUBLE)
        |            / len(string_split_regex(trim(text), '\s+')))
        |            BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)
        |      * (0.5 + least(
        |          (CAST(len(list_filter(
        |             string_split_regex(trim(lower(text)), '\s+'),
        |             t -> t IN ('the','and','of','to','a','in','is','that',
        |                        'it','for'))) AS DOUBLE)
        |           / len(string_split_regex(trim(lower(text)), '\s+')))
        |          * 4.0, 1.0) * 0.5),
        |      6) >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END AS q
        |  FROM sp),
        |agg AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(nt) AS BIGINT) AS total_tokens,
        |    CAST(sum(nc) AS BIGINT) AS total_chars,
        |    CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_docs,
        |    CAST(sum(pii) AS BIGINT) AS n_pii_docs,
        |    CAST(sum(q) AS BIGINT) AS n_quality_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM pd GROUP BY 1),
        |tl AS (
        |  SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang, count(*) AS lc FROM sp GROUP BY 1, 2)
        |  QUALIFY row_number() OVER (
        |    PARTITION BY source ORDER BY lc DESC, lang) = 1)
        |SELECT a.source, n_docs, total_tokens, total_chars, n_dup_docs,
        |  n_pii_docs, n_quality_docs, n_langs,
        |  CAST(total_tokens AS DOUBLE) / n_docs AS mean_tokens, top_lang
        |FROM agg a JOIN tl ON a.source = tl.source""".stripMargin,
    // Threshold/structural certificates (r8): the oracle cannot reproduce
    // MLlib-solver or RNG internals, but it CAN assert the verdicts — the
    // quality floor, the driver-vs-distributed SLIM bit parity, the Beta
    // sampler's support and state shape, and the W2V ANN recall contract.
    "model_quality_floor" ->
      """SELECT 'als' AS model, TRUE AS passed
        |UNION ALL SELECT 'word2vec', TRUE
        |UNION ALL SELECT 'cluster', TRUE""".stripMargin,
    "model_thompson_bounds" ->
      s"""$interactionsSql
        |SELECT CAST(count(DISTINCT item_id) AS BIGINT) AS n_items,
        |  TRUE AS in_unit_interval
        |FROM interactions""".stripMargin,
    "model_slim_twin_parity" ->
      "SELECT TRUE AS cells_match, TRUE AS values_match",
    "model_w2v_ann_recall" ->
      s"""$interactionsSql
        |SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
        |  CAST(3 AS BIGINT) AS k, TRUE AS recall_ok
        |FROM interactions""".stripMargin,
    "model_als_ann_recall" ->
      s"""$interactionsSql
        |SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
        |  CAST(5 AS BIGINT) AS k, TRUE AS recall_ok
        |FROM interactions""".stripMargin,
    "model_als_foldin" ->
      s"""$interactionsSql
        |SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
        |  CAST(5 AS BIGINT) AS k, TRUE AS recall_ok
        |FROM interactions""".stripMargin,
    "model_recs_certificate" ->
      s"""$interactionsSql,
        |nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n
        |       FROM interactions)
        |SELECT 'als' AS model, n AS n_queries, TRUE AS k_ok,
        |  TRUE AS unseen_ok, TRUE AS scores_finite FROM nq
        |UNION ALL SELECT 'als_explicit', n, TRUE, TRUE, TRUE FROM nq
        |UNION ALL SELECT 'cluster', n, TRUE, TRUE, TRUE FROM nq
        |UNION ALL SELECT 'random_rec_fast', n, TRUE, TRUE, TRUE FROM nq""".stripMargin,
    // Gopher rules: the spike CASEs mirror the Spark gate exactly; every
    // flag is integer/boolean arithmetic except the IEEE ratio divisions,
    // which both engines compute identically (CAST thresholds AS DOUBLE —
    // bare decimals are exact DECIMALs in DuckDB, the r6 lesson).
    "text_gopher_rules" ->
      """WITH sp AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' that have' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' #a #b #c #d' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN ' x… y… z… w…' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN e'\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN e'\np...\nq…\nr...\ns…' ELSE '' END
        |    AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, t,
        |    string_split_regex(trim(t), '\s+') AS toks,
        |    CAST(len(string_split_regex(trim(t), '\s+')) AS BIGINT) AS nw,
        |    string_split(t, chr(10)) AS lines,
        |    length(t) - length(replace(t, '#', '')) AS hashes,
        |    (length(t) - length(replace(t, '...', ''))) / 3.0
        |      + (length(t) - length(replace(t, '…', ''))) AS ellipses
        |  FROM sp),
        |f AS (
        |  SELECT doc_id, nw,
        |    nw BETWEEN 50 AND 100000 AS word_count_ok,
        |    (CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / nw)
        |      BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE) AS mean_word_len_ok,
        |    (CAST(hashes AS DOUBLE) / nw <= CAST(0.1 AS DOUBLE)
        |      AND CAST(ellipses AS DOUBLE) / nw <= CAST(0.1 AS DOUBLE)) AS symbol_ok,
        |    (CAST(len(list_filter(lines, l -> starts_with(trim(l), '- ')
        |        OR starts_with(trim(l), '* ') OR starts_with(trim(l), '•'))) AS DOUBLE)
        |      / len(lines)) <= CAST(0.9 AS DOUBLE) AS bullet_ok,
        |    (CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')
        |        OR ends_with(rtrim(l), '…'))) AS DOUBLE)
        |      / len(lines)) <= CAST(0.3 AS DOUBLE) AS ellipsis_ok,
        |    (CAST(len(list_filter(toks, x -> regexp_matches(x, '\p{L}'))) AS DOUBLE)
        |      / nw) >= CAST(0.8 AS DOUBLE) AS alpha_ok,
        |    len(list_filter(list_distinct(string_split_regex(trim(lower(t)), '\s+')),
        |      x -> x IN ('the','be','to','of','and','that','have','with'))) >= 2
        |      AS stopword_ok
        |  FROM m)
        |SELECT doc_id, nw AS n_words, word_count_ok, mean_word_len_ok,
        |  symbol_ok, bullet_ok, ellipsis_ok, alpha_ok, stopword_ok,
        |  (word_count_ok AND mean_word_len_ok AND symbol_ok AND bullet_ok
        |    AND ellipsis_ok AND alpha_ok AND stopword_ok) AS keep
        |FROM f""".stripMargin,
    "text_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(trim(text), '\s+'),
        |        t -> ('0x' || substr(md5('0:' || t), 1, 15))::BIGINT % 2147483647)),
        |    (acc, x) -> (acc * 257 + x) % 2147483647) AS content_hash
        |FROM documents""".stripMargin,
    "text_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |freqs AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM freqs),
        |sc AS (SELECT t.doc_id, avg(ln(CAST(f.cnt AS DOUBLE) / n.n)) AS lp
        |       FROM toks t JOIN freqs f ON t.tok = f.tok, n GROUP BY 1)
        |SELECT d.doc_id, round(coalesce(sc.lp, 0.0), 6) AS logprob
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    // Histogram sketch: every cell from the same (min, max, floor) recipe;
    // Spark floor is LONG, DuckDB floor DOUBLE — CAST pins the type.
    "sketch_histogram" ->
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
        |b AS (SELECT min(v) AS lo, max(v) AS hi FROM v)
        |SELECT CAST(least(greatest(floor((v - (SELECT lo FROM b)) /
        |    (((SELECT hi FROM b) - (SELECT lo FROM b)) / 256)), 0), 255)
        |  AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS counter
        |FROM v GROUP BY 1""".stripMargin,
    // Quantile estimates: identical cumulative walk (first populated bin
    // whose inclusive cum reaches q*n, linear interpolation inside it);
    // the rank-error certificate is driver-enforced, oracle asserts TRUE.
    "sketch_histogram_quantile" ->
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
        |b AS (SELECT min(v) AS lo, max(v) AS hi FROM v),
        |w AS (SELECT ((SELECT hi FROM b) - (SELECT lo FROM b)) / 256 AS w),
        |hist AS (
        |  SELECT CAST(least(greatest(floor((v - (SELECT lo FROM b)) /
        |      (SELECT w FROM w)), 0), 255) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS counter
        |  FROM v GROUP BY 1),
        |cum AS (
        |  SELECT bin, counter, sum(counter) OVER (ORDER BY bin) AS cum
        |  FROM hist),
        |n AS (SELECT CAST(sum(counter) AS DOUBLE) AS n FROM hist),
        |qs(q) AS (VALUES (CAST(0.1 AS DOUBLE)), (CAST(0.25 AS DOUBLE)),
        |  (CAST(0.5 AS DOUBLE)), (CAST(0.75 AS DOUBLE)),
        |  (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))),
        |pick AS (
        |  SELECT q.q, c.bin, c.counter, c.cum
        |  FROM qs q JOIN cum c
        |    ON CAST(c.cum AS DOUBLE) >= q.q * (SELECT n FROM n)
        |  QUALIFY row_number() OVER (PARTITION BY q.q ORDER BY c.bin) = 1)
        |SELECT q,
        |  (SELECT lo FROM b) + (SELECT w FROM w) *
        |    (bin + (q * (SELECT n FROM n) - CAST(cum - counter AS DOUBLE)) /
        |      CAST(counter AS DOUBLE)) AS estimate,
        |  TRUE AS rank_err_ok
        |FROM pick""".stripMargin,
    // bigram LM: parallel unnests zip (pos, prev, cur); add-k smoothing
    // with CAST(... AS DOUBLE) literals; position-ordered left fold.
    "text_bigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
        |  FROM documents),
        |big AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(ts))) AS pos,
        |    unnest(ts[1:len(ts) - 1]) AS prev,
        |    unnest(ts[2:len(ts)]) AS cur
        |  FROM t WHERE len(ts) >= 2),
        |uc AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS uc
        |  FROM (SELECT unnest(ts) AS tok FROM t) GROUP BY 1),
        |bcnt AS (
        |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS bc
        |  FROM big GROUP BY 1, 2),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
        |terms AS (
        |  SELECT b.doc_id, b.pos,
        |    ln((CAST(bc AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |       (CAST(uc AS DOUBLE) + CAST(0.5 AS DOUBLE) * (SELECT v FROM v)))
        |      AS term
        |  FROM big b
        |  JOIN bcnt ON b.prev = bcnt.prev AND b.cur = bcnt.cur
        |  JOIN uc ON b.prev = uc.tok),
        |sc AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(term ORDER BY pos)), (a, b) -> a + b) / count(*) AS lp
        |  FROM terms GROUP BY doc_id)
        |SELECT d.doc_id, round(coalesce(sc.lp, 0.0), 6) AS logprob
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    // Snapshot diff: both sides' fingerprints are the proven text_stats
    // md5-normalization chain; the %3 edit beats the %5 pad (whitespace
    // collapse makes the pad an "unchanged") and the %7 drop beats both.
    "dedup_snapshot_diff" ->
      """WITH nextv AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' edited'
        |         WHEN doc_id % 5 = 0 THEN '  ' || text
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text
        |  FROM documents WHERE doc_id % 11 = 0),
        |fp AS (
        |  SELECT p.doc_id AS pid,
        |    md5(lower(regexp_replace(trim(p.text), '\s+', ' ', 'g'))) AS fpp,
        |    n.doc_id AS nid,
        |    md5(lower(regexp_replace(trim(n.text), '\s+', ' ', 'g'))) AS fpn
        |  FROM documents p FULL OUTER JOIN nextv n ON p.doc_id = n.doc_id)
        |SELECT COALESCE(pid, nid) AS doc_id,
        |  CASE WHEN fpp IS NULL THEN 'added'
        |       WHEN fpn IS NULL THEN 'removed'
        |       WHEN fpp <> fpn THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM fp""".stripMargin,
    // Token-budget selection: quality chain = the proven text_stats
    // mirror rounded 6 (so the per-source order is the same double on
    // both engines); the running total is an exact BIGINT window sum.
    "text_token_budget" ->
      """WITH pd AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    round(
        |      (CASE WHEN len(string_split_regex(trim(text), '\s+'))
        |              BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.3 END)
        |      * (CASE WHEN (CAST(list_sum(list_transform(
        |            string_split_regex(trim(text), '\s+'), t -> length(t)))
        |            AS DOUBLE)
        |            / len(string_split_regex(trim(text), '\s+')))
        |            BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)
        |      * (0.5 + least(
        |          (CAST(len(list_filter(
        |             string_split_regex(trim(lower(text)), '\s+'),
        |             t -> t IN ('the','and','of','to','a','in','is','that',
        |                        'it','for'))) AS DOUBLE)
        |           / len(string_split_regex(trim(lower(text)), '\s+')))
        |          * 4.0, 1.0) * 0.5),
        |      6) AS quality
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens, quality,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM pd)
        |SELECT source, doc_id, n_tokens, quality, cum_tokens
        |FROM c WHERE cum_tokens <= 400""".stripMargin,
    "mixture_sample" ->
      """WITH tgt(src, p) AS (VALUES
        |    ('src0', CAST(0.5 AS DOUBLE)),
        |    ('src1', CAST(0.3 AS DOUBLE)),
        |    ('src2', CAST(0.2 AS DOUBLE))),
        |cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT min(floor(n / p)) AS t
        |      FROM cnt JOIN tgt ON cnt.source = tgt.src),
        |lim AS (SELECT src, CAST(floor(p * (SELECT t FROM t)) AS BIGINT) AS lim
        |        FROM tgt),
        |r AS (SELECT d.doc_id, d.source,
        |        row_number() OVER (PARTITION BY d.source ORDER BY
        |          ('0x' || substr(md5('7:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |          d.doc_id) AS rn
        |      FROM documents d JOIN tgt ON d.source = tgt.src)
        |SELECT r.doc_id, r.source
        |FROM r JOIN lim ON r.source = lim.src WHERE r.rn <= lim.lim""".stripMargin,
    "text_repetition" ->
      """SELECT doc_id,
        |  round(1.0 - len(list_distinct(
        |      string_split_regex(trim(lower(text)), '\s+')))::DOUBLE
        |    / len(string_split_regex(trim(lower(text)), '\s+')), 6) AS repetition
        |FROM documents""".stripMargin,
    "text_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || CAST(doc_id AS VARCHAR)
        |           || '@example.com or call '
        |           || CAST((doc_id + 1000000) * 7 AS VARCHAR),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUMBER>', 'g') AS clean
        |FROM documents""".stripMargin,
    "text_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) >= 3 THEN list_distinct(list_transform(
        |      generate_series(0, len(ts) - 3),
        |      i -> array_to_string(ts[i+1:i+3], ' ')))
        |    ELSE [] END AS shs
        |  FROM toks),
        |bench AS (SELECT DISTINCT s.s AS sgl FROM sh, unnest(shs) s(s)
        |          WHERE doc_id < 25),
        |ex AS (SELECT doc_id, s.s AS sgl FROM sh, unnest(shs) s(s)),
        |hits AS (
        |  SELECT ex.doc_id,
        |    sum(CASE WHEN b.sgl IS NOT NULL THEN 1 ELSE 0 END) AS n_c
        |  FROM ex LEFT JOIN bench b ON ex.sgl = b.sgl GROUP BY ex.doc_id)
        |SELECT sh.doc_id, CAST(len(sh.shs) AS BIGINT) AS n_ngrams,
        |  CAST(coalesce(h.n_c, 0) AS BIGINT) AS n_contaminated,
        |  round(CASE WHEN len(sh.shs) > 0
        |        THEN coalesce(h.n_c, 0)::DOUBLE / len(sh.shs)
        |        ELSE 0.0 END, 6) AS contamination
        |FROM sh LEFT JOIN hits h ON sh.doc_id = h.doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  min(doc_id) AS canonical_id, count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    // CCNet line dedup: parallel unnests zip (line, position); the
    // fingerprint is the engine's normalize+md5; string_agg ORDER BY pos
    // mirrors the array_sort-by-position reassembly.
    "dedup_lines" ->
      """WITH sp AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 2 = 0 THEN e'\ncookie notice accept all' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN e'\nall rights reserved' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN e'\nunique tail ' || doc_id ELSE '' END
        |    AS t
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos,
        |    unnest(string_split(t, chr(10))) AS line
        |  FROM sp),
        |fp AS (
        |  SELECT doc_id, pos, line,
        |    md5(lower(regexp_replace(trim(line), '\s+', ' ', 'g'))) AS f
        |  FROM ln),
        |freq AS (SELECT f FROM fp GROUP BY f HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT doc_id, pos, line FROM fp
        |         WHERE f NOT IN (SELECT f FROM freq))
        |SELECT d.doc_id,
        |  coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS clean_text,
        |  CAST(count(k.line) AS BIGINT) AS n_lines_kept
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id""".stripMargin,
    // Count-Min sketch: every cell is reproducible from the portable
    // md5-prefix hash recipe; range(0,4) is the hash-row family.
    "sketch_cms" ->
      s"""$interactionsSql,
        |cells AS (
        |  SELECT r.r AS row,
        |    ('0x' || substr(md5(r.r || ':' || item_id), 1, 15))::BIGINT % 64 AS bucket
        |  FROM interactions, range(0, 4) r(r))
        |SELECT CAST(row AS BIGINT) AS row, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS counter
        |FROM cells GROUP BY 1, 2""".stripMargin,
    // HLL registers: ρ from length(bin(w)) — integer string arithmetic,
    // identical across engines (float log2 is libm-dependent at 2^j−1
    // boundaries). Dense 256-bucket output via range left join.
    "sketch_hll" ->
      s"""$interactionsSql,
        |hh AS (
        |  SELECT ('0x' || substr(md5('0:' || item_id), 1, 15))::BIGINT AS h
        |  FROM interactions),
        |rr AS (
        |  SELECT h >> 52 AS bucket,
        |    CASE WHEN (h & ((1::BIGINT << 52) - 1)) = 0 THEN 53
        |         ELSE 52 - (length(bin(h & ((1::BIGINT << 52) - 1))) - 1)
        |    END AS rho
        |  FROM hh),
        |ag AS (SELECT bucket, max(rho) AS register FROM rr GROUP BY 1)
        |SELECT CAST(b.b AS BIGINT) AS bucket,
        |  CAST(coalesce(ag.register, 0) AS BIGINT) AS register
        |FROM range(0, 256) b(b) LEFT JOIN ag ON b.b = ag.bucket""".stripMargin,
    "sketch_hll_estimate" ->
      s"""$interactionsSql
        |SELECT CAST(count(DISTINCT item_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_10pct
        |FROM interactions""".stripMargin,
    "sketch_cms_estimate" ->
      s"""$interactionsSql,
        |cnt AS (
        |  SELECT item_id, CAST(count(*) AS BIGINT) AS exact_count
        |  FROM interactions WHERE item_id < 100 GROUP BY 1),
        |cells AS (
        |  SELECT row, bucket, CAST(count(*) AS BIGINT) AS counter FROM (
        |    SELECT r.r AS row,
        |      ('0x' || substr(md5(r.r || ':' || item_id), 1, 15))::BIGINT % 64 AS bucket
        |    FROM interactions, range(0, 4) r(r))
        |  GROUP BY 1, 2),
        |qc AS (
        |  SELECT t.item_id, r.r AS row,
        |    ('0x' || substr(md5(r.r || ':' || t.item_id), 1, 15))::BIGINT % 64 AS bucket
        |  FROM (SELECT DISTINCT item_id FROM interactions WHERE item_id < 100) t,
        |    range(0, 4) r(r)),
        |est AS (
        |  SELECT qc.item_id, min(coalesce(ce.counter, 0)) AS estimate
        |  FROM qc LEFT JOIN cells ce ON qc.row = ce.row AND qc.bucket = ce.bucket
        |  GROUP BY 1)
        |SELECT e.item_id, CAST(e.estimate AS BIGINT) AS estimate,
        |  cnt.exact_count, e.estimate >= cnt.exact_count AS never_under
        |FROM est e JOIN cnt ON e.item_id = cnt.item_id""".stripMargin,
    // Substring-dedup signal: every 8-token window's Karp-Rabin chain
    // rebuilt in SQL from the portable md5 token hash; a window hash
    // spanning >= 2 distinct docs is a repeated span.
    "dedup_substring" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      t -> ('0x' || substr(md5('0:' || t), 1, 15))::BIGINT % 2147483647) AS th
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, unnest(
        |    list_transform(range(0, greatest(len(th) - 7, 0)),
        |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[i+1:i+8]),
        |        (acc, x) -> (acc * 257 + x) % 2147483647))) AS wh
        |  FROM toks),
        |dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
        |st AS (
        |  SELECT w.doc_id AS sid, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(CASE WHEN d.wh IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_dup_windows
        |  FROM wins w LEFT JOIN dup d ON w.wh = d.wh GROUP BY 1)
        |SELECT dd.doc_id, coalesce(st.n_windows, 0) AS n_windows,
        |  coalesce(st.n_dup_windows, 0) AS n_dup_windows,
        |  coalesce(st.n_dup_windows, 0) > 0 AS has_dup
        |FROM (SELECT DISTINCT doc_id FROM documents) dd
        |LEFT JOIN st ON dd.doc_id = st.sid""".stripMargin,
    // Range join: DuckDB's plain BETWEEN range join is the oracle.
    "join_range" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _prev
        |  FROM events WHERE event_type = 'view'),
        |se AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN _prev IS NULL
        |             OR epoch_us(ts) - epoch_us(_prev) >= 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM v),
        |sess AS (
        |  SELECT user_id, CAST(sid AS BIGINT) AS sid, min(ts) AS s_start,
        |    max(ts) + INTERVAL 30 MINUTE AS s_end,
        |    CAST(count(*) AS BIGINT) AS n_views
        |  FROM se GROUP BY 1, 2)
        |SELECT l.event_id, epoch_ms(l.ts) AS ts_ms, s.sid, s.n_views
        |FROM events l JOIN sess s
        |  ON l.user_id = s.user_id AND l.ts BETWEEN s.s_start AND s.s_end
        |WHERE l.event_type = 'click'""".stripMargin,
    // bucket = ((cum_at_ts − 1) · k) // n, integer floor division both sides
    "split_walk_forward" ->
      """WITH c AS (
        |  SELECT ts, sum(count(*)) OVER (ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM events GROUP BY ts)
        |SELECT e.event_id, CAST(((c.cum - 1) * 5) // CAST(
        |    (SELECT count(*) FROM events) AS BIGINT) AS BIGINT) AS bucket
        |FROM events e JOIN c ON e.ts = c.ts""".stripMargin,
    // interval overlap: plain predicate join as the oracle
    "join_interval" ->
      """WITH sess AS (
        |  SELECT event_type, user_id, CAST(sid AS BIGINT) AS sid,
        |    min(ts) AS s_start, max(ts) + INTERVAL 30 MINUTE AS s_end,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT event_type, user_id, ts,
        |      sum(CASE WHEN _prev IS NULL
        |               OR epoch_us(ts) - epoch_us(_prev) >= 1800000000
        |               THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY event_type, user_id ORDER BY ts, event_id
        |              ROWS UNBOUNDED PRECEDING) AS sid
        |    FROM (
        |      SELECT event_type, user_id, ts, event_id,
        |        lag(ts) OVER (PARTITION BY event_type, user_id
        |                      ORDER BY ts, event_id) AS _prev
        |      FROM events WHERE event_type IN ('click', 'view')))
        |  GROUP BY 1, 2, 3)
        |SELECT c.user_id, c.sid AS csid,
        |  epoch_ms(c.s_start) AS cs_ms, epoch_ms(c.s_end) AS ce_ms,
        |  v.sid AS vsid, v.n AS v_n
        |FROM (SELECT * FROM sess WHERE event_type = 'click') c
        |JOIN (SELECT * FROM sess WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND c.s_start <= v.s_end AND v.s_start <= c.s_end""".stripMargin,
    // As-of join: DuckDB's native ASOF LEFT JOIN is the oracle.
    "join_asof" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (
        |  SELECT user_id, ts, max(event_id) AS view_id,
        |    arg_max("value", event_id) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.event_id, epoch_ms(l.ts) AS ts_ms,
        |  r.view_id AS asof_view_id, r.view_value AS asof_view_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    // salting is semantics-preserving: the oracle is the PLAIN join
    "join_salted" ->
      """WITH stats AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_clicks
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, s.n_events, s.n_clicks
        |FROM events e JOIN stats s USING (user_id)
        |WHERE e.event_type = 'click'""".stripMargin,
    // ground truth for the IVM identity: new join EXCEPT ALL old join
    "join_delta_maintain" ->
      """WITH o AS (SELECT o_custkey AS custkey, o_orderkey FROM orders),
        |c AS (SELECT c_custkey AS custkey, c_nationkey FROM customer),
        |full_j AS (SELECT custkey, o_orderkey, c_nationkey
        |  FROM o JOIN c USING (custkey)),
        |old_j AS (SELECT custkey, o_orderkey, c_nationkey
        |  FROM o JOIN c USING (custkey)
        |  WHERE o_orderkey % 10 < 8 AND custkey % 10 < 9)
        |SELECT * FROM full_j EXCEPT ALL SELECT * FROM old_j""".stripMargin,
    // merge-into semantics: latest change per key wins (version desc,
    // op asc tie-break — mirrors Ops.applyChanges' topK ordering)
    "cdc_apply_changes" ->
      """WITH changes AS (
        |  SELECT doc_id, text || ' v2' AS text, source,
        |    'upsert' AS op, CAST(1 AS BIGINT) AS version
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id, text, source, 'delete', CAST(2 AS BIGINT)
        |  FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 500000, text, source, 'upsert', CAST(3 AS BIGINT)
        |  FROM documents WHERE doc_id % 9 = 0),
        |latest AS (
        |  SELECT doc_id, text, source, op FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY version DESC, op ASC) AS rn
        |    FROM changes) WHERE rn = 1)
        |SELECT b.doc_id, b.source, b.text FROM documents b
        |WHERE b.doc_id NOT IN (SELECT doc_id FROM latest)
        |UNION ALL
        |SELECT doc_id, source, text FROM latest WHERE op = 'upsert'""".stripMargin,
    // grouped histogram cells: pure row function, fixed bounds
    "sketch_histogram_groups" ->
      """SELECT source,
        |  CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0.0) / 64.0),
        |    0), 63) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS counter
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // the per-group quantile walk, operation-for-operation double mirror
    "sketch_histogram_groups_quantile" ->
      """WITH hist AS (
        |  SELECT source,
        |    CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0.0) / 64.0),
        |      0), 63) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS counter
        |  FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, bin, counter,
        |    sum(counter) OVER (PARTITION BY source ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM hist),
        |n AS (SELECT source, CAST(sum(counter) AS DOUBLE) AS n
        |      FROM hist GROUP BY 1),
        |qs(q) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
        |  (CAST(0.9 AS DOUBLE))),
        |pick AS (
        |  SELECT c.source, q.q, c.bin, c.counter, c.cum, n.n
        |  FROM qs q CROSS JOIN cum c JOIN n ON c.source = n.source
        |  WHERE CAST(c.cum AS DOUBLE) >= q.q * n.n
        |  QUALIFY row_number() OVER (PARTITION BY c.source, q.q
        |    ORDER BY c.bin) = 1)
        |SELECT source, q,
        |  0.0 + 64.0 * (bin + (q * n - CAST(cum - counter AS DOUBLE))
        |    / CAST(counter AS DOUBLE)) AS estimate
        |FROM pick""".stripMargin,
    // grouped HLL: same register recipe as sketch_hll, keyed by group,
    // sparse (observed buckets only)
    "sketch_hll_groups" ->
      """WITH hh AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5('0:' || user_id), 1, 15))::BIGINT AS h
        |  FROM events),
        |rr AS (
        |  SELECT event_type, h >> 52 AS bucket,
        |    CASE WHEN (h & ((1::BIGINT << 52) - 1)) = 0 THEN 53
        |         ELSE 52 - (length(bin(h & ((1::BIGINT << 52) - 1))) - 1)
        |    END AS rho
        |  FROM hh)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(max(rho) AS BIGINT) AS register
        |FROM rr GROUP BY 1, 2""".stripMargin,
    "sketch_hll_groups_estimate" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_10pct
        |FROM events GROUP BY 1""".stripMargin,
    // MG exact regime: capacity above distinct → plain counts, zero error
    "sketch_heavy_hitters" ->
      s"""$interactionsSql
         |SELECT item_id, CAST(count(*) AS BIGINT) AS count,
         |  CAST(0 AS BIGINT) AS err
         |FROM interactions GROUP BY 1""".stripMargin,
    // MG merge crop: subtract the (cap+1)-th largest count (an order
    // statistic — the multiset of the top-101 VALUES is unique even when
    // row identity under ties is not), keep strict positives
    "sketch_heavy_hitters_crop" ->
      s"""$interactionsSql,
         |cnt AS (SELECT item_id, CAST(count(*) AS BIGINT) AS c
         |        FROM interactions GROUP BY 1),
         |th AS (SELECT CASE WHEN count(*) > 100 THEN min(c) ELSE 0 END AS s
         |       FROM (SELECT c FROM cnt ORDER BY c DESC LIMIT 101))
         |SELECT item_id, CAST(c - th.s AS BIGINT) AS count,
         |  CAST(th.s AS BIGINT) AS err
         |FROM cnt, th WHERE c - th.s > 0""".stripMargin,
    // 3 unrolled PageRank rounds in BIGINT fixed point: contrib = rk//deg,
    // dangling mass // n shared to all, rk' = 150000 + (85·inflow)//100 —
    // `//` mirrors Spark's `div` exactly on non-negative integers
    "graph_pagerank" ->
      s"""$interactionsSql,
         |e AS (SELECT DISTINCT query_id AS src, item_id + 1000000 AS dst
         |      FROM interactions),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM e GROUP BY 1),
         |nodes AS (
         |  SELECT n.node, coalesce(d.deg, 0) AS deg
         |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
         |  LEFT JOIN deg d ON n.node = d.node),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node, deg, CAST(1000000 AS BIGINT) AS rk FROM nodes),
         |d1 AS (SELECT coalesce(sum(rk), 0) AS dang FROM r0 WHERE deg = 0),
         |i1 AS (SELECT e.dst AS node, sum(r.rk // r.deg) AS inc
         |       FROM r0 r JOIN e ON r.node = e.src WHERE r.deg > 0 GROUP BY 1),
         |r1 AS (SELECT n.node, n.deg,
         |         150000 + (85 * (coalesce(i.inc, 0) + (d.dang // nn.n))) // 100 AS rk
         |       FROM nodes n LEFT JOIN i1 i ON n.node = i.node, d1 d, nn),
         |d2 AS (SELECT coalesce(sum(rk), 0) AS dang FROM r1 WHERE deg = 0),
         |i2 AS (SELECT e.dst AS node, sum(r.rk // r.deg) AS inc
         |       FROM r1 r JOIN e ON r.node = e.src WHERE r.deg > 0 GROUP BY 1),
         |r2 AS (SELECT n.node, n.deg,
         |         150000 + (85 * (coalesce(i.inc, 0) + (d.dang // nn.n))) // 100 AS rk
         |       FROM nodes n LEFT JOIN i2 i ON n.node = i.node, d2 d, nn),
         |d3 AS (SELECT coalesce(sum(rk), 0) AS dang FROM r2 WHERE deg = 0),
         |i3 AS (SELECT e.dst AS node, sum(r.rk // r.deg) AS inc
         |       FROM r2 r JOIN e ON r.node = e.src WHERE r.deg > 0 GROUP BY 1),
         |r3 AS (SELECT n.node, n.deg,
         |         150000 + (85 * (coalesce(i.inc, 0) + (d.dang // nn.n))) // 100 AS rk
         |       FROM nodes n LEFT JOIN i3 i ON n.node = i.node, d3 d, nn)
         |SELECT node, CAST(rk AS BIGINT) AS pr_units FROM r3""".stripMargin,
    // Morton key: exact integer min-max scale to 21 bits, then the
    // 42-term bit interleave generated to mirror Ops.zOrderValue
    "zorder_key" -> {
      val terms = (0 until 21).flatMap(b => Seq(
        s"(((sa >> $b) & 1) << ${2 * b})",
        s"(((sb >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")
      s"""$interactionsSql,
         |pairs AS (SELECT DISTINCT query_id, item_id FROM interactions),
         |bounds AS (SELECT min(query_id) AS la, max(query_id) AS ha,
         |                  min(item_id) AS lb, max(item_id) AS hb FROM pairs),
         |scaled AS (SELECT query_id, item_id,
         |    ((query_id - la) * 2097151) // (ha - la) AS sa,
         |    ((item_id - lb) * 2097151) // (hb - lb) AS sb
         |  FROM pairs, bounds)
         |SELECT query_id, item_id, CAST($terms AS BIGINT) AS zvalue
         |FROM scaled""".stripMargin
    },
    // percent_rank over a unique total order == (row_number−1)/(n−1)
    "text_quality_percentile" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  percent_rank() OVER (
        |    ORDER BY len(string_split_regex(trim(text), '\s+')), doc_id) AS pct
        |FROM documents""".stripMargin,
    // exact per-stratum counts: ceil(frac · n) by md5-chain rank
    "sample_stratified" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source FROM r
        |WHERE rn <= CAST(ceil(CAST(0.2 AS DOUBLE) * n - 1e-9) AS BIGINT)""".stripMargin,
    // uniform E–S draw: wt = 1, same md5 chain as model_random_rec
    "sample_negatives" ->
      s"""$interactionsSql,
         |items AS (SELECT DISTINCT item_id FROM interactions),
         |scored AS (
         |  SELECT q.query_id, i.item_id,
         |    ln((('0x' || substr(md5('13:' || CAST(q.query_id AS VARCHAR) || ':'
         |           || CAST(i.item_id AS VARCHAR)), 1, 15))::BIGINT
         |         / 1152921504606846976.0) + 1e-18) AS rating
         |  FROM (SELECT DISTINCT query_id FROM interactions) q CROSS JOIN items i),
         |unseen AS (
         |  SELECT s.* FROM scored s ANTI JOIN
         |    (SELECT DISTINCT query_id, item_id FROM interactions) h
         |    ON s.query_id = h.query_id AND s.item_id = h.item_id)
         |SELECT query_id, item_id, neg_rank FROM (
         |  SELECT query_id, item_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rating DESC, item_id) AS neg_rank
         |  FROM unseen) WHERE neg_rank <= 3""".stripMargin,
    // snapshot diff → minimal CDC feed via one full outer join
    "cdc_changes_between" ->
      """WITH base AS (SELECT doc_id, source, text FROM documents),
        |nxt AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' edited' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text
        |  FROM documents WHERE doc_id % 11 = 0),
        |j AS (
        |  SELECT coalesce(b.doc_id, n.doc_id) AS doc_id,
        |    b.source AS bs, b.text AS bt, n.source AS ns, n.text AS nt,
        |    b.doc_id IS NOT NULL AS in_b, n.doc_id IS NOT NULL AS in_n
        |  FROM base b FULL OUTER JOIN nxt n ON b.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN NOT in_n THEN bs ELSE ns END AS source,
        |  CASE WHEN NOT in_n THEN bt ELSE nt END AS text,
        |  CASE WHEN NOT in_n THEN 'delete' ELSE 'upsert' END AS op,
        |  CAST(1 AS BIGINT) AS version
        |FROM j
        |WHERE (NOT in_b) OR (NOT in_n)
        |   OR bs IS DISTINCT FROM ns OR bt IS DISTINCT FROM nt""".stripMargin,
    // the identical md5-chain permutation, rebuilt oracle-side
    "corpus_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      AS hv
        |  FROM documents)
        |SELECT doc_id, hv % 4 AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY hv % 4 ORDER BY hv ASC, doc_id ASC) AS BIGINT) AS pos
        |FROM h""".stripMargin,
    // alpha-sampling: target computed from counts, normalization via a
    // sorted-order left fold (float-sum order, the r6 lesson).
    "mixture_temperature" ->
      """WITH sk AS (
        |  SELECT doc_id, source FROM documents
        |  WHERE doc_id % 3 = 0 OR source IN ('src0', 'src1')),
        |cnt AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sk GROUP BY 1),
        |pws AS (SELECT source, n,
        |  pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE)) AS pw FROM cnt),
        |z AS (SELECT list_reduce(
        |    list_prepend(CAST(0 AS DOUBLE), list(pw ORDER BY source)),
        |    (a, b) -> a + b) AS z FROM pws),
        |tgt AS (SELECT source, n, pw / (SELECT z FROM z) AS p FROM pws),
        |tot AS (SELECT min(floor(CAST(n AS DOUBLE) / p)) AS t FROM tgt),
        |lim AS (SELECT source,
        |  CAST(floor(p * (SELECT t FROM tot)) AS BIGINT) AS lim FROM tgt),
        |r AS (SELECT d.doc_id, d.source,
        |    row_number() OVER (PARTITION BY d.source ORDER BY
        |      ('0x' || substr(md5('7:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      d.doc_id) AS rn
        |  FROM sk d)
        |SELECT r.doc_id, r.source
        |FROM r JOIN lim ON r.source = lim.source WHERE r.rn <= lim.lim""".stripMargin,
    // ExactSubstr removal: kept-token reassembly, ORDER BY position.
    "dedup_substring_remove" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk,
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      t -> ('0x' || substr(md5('0:' || t), 1, 15))::BIGINT % 2147483647) AS th
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i.i+1:i.i+8]),
        |      (acc, x) -> (acc * 257 + x) % 2147483647) AS wh
        |  FROM base, LATERAL UNNEST(range(0, greatest(len(th) - 7, 0))) AS i(i)),
        |dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
        |covered AS (
        |  SELECT DISTINCT w.doc_id, CAST(c.c AS BIGINT) AS ti
        |  FROM wins w JOIN dup d ON w.wh = d.wh,
        |    LATERAL UNNEST(range(w.pos, w.pos + 8)) AS c(c)),
        |toks AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS ti, tk[i.i+1] AS tok
        |  FROM base, LATERAL UNNEST(range(0, len(tk))) AS i(i)),
        |kept AS (
        |  SELECT t.doc_id, t.ti, t.tok FROM toks t
        |  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.ti = c.ti
        |  WHERE c.ti IS NULL),
        |rebuilt AS (
        |  SELECT doc_id AS rid, string_agg(tok, ' ' ORDER BY ti) AS cleaned,
        |    CAST(count(*) AS BIGINT) AS nkept
        |  FROM kept GROUP BY 1),
        |counts AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM base)
        |SELECT c.doc_id, coalesce(r.cleaned, '') AS text, c.n_tokens,
        |  c.n_tokens - coalesce(r.nkept, 0) AS n_removed
        |FROM counts c LEFT JOIN rebuilt r ON c.doc_id = r.rid""".stripMargin,
    // GPT-2 pre-tokenizer: the SAME pattern runs in DuckDB's RE2 (the
    // pattern deliberately avoids lookahead — TextStats.PreTokenPattern).
    "text_pretokenize" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text,
        |    '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
        |  ) AS toks FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_pretokens,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, '\p{L}'))) AS BIGINT)
        |    AS n_alpha,
        |  toks[1] AS first_tok, toks[-1] AS last_tok
        |FROM t""".stripMargin,
    // Chunking: identical start arithmetic (ceil((n-overlap)/step), >=1
    // windows), slice + space re-join mirrored.
    "text_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents WHERE trim(text) <> ''),
        |m AS (
        |  SELECT doc_id, ts,
        |    greatest(CAST(ceil(CAST(len(ts) - 16 AS DOUBLE) / 48) AS BIGINT),
        |      1) AS nc
        |  FROM t),
        |e AS (SELECT doc_id, ts, unnest(range(0, nc)) AS c FROM m)
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
        |  array_to_string(ts[c * 48 + 1 : c * 48 + 64], ' ') AS chunk_text,
        |  CAST(len(ts[c * 48 + 1 : c * 48 + 64]) AS BIGINT) AS n_tokens
        |FROM e""".stripMargin,
    // Readability: every count is exact-integer (words / non-empty
    // sentence splits / vowel-group runs per lowercased word); ttr and
    // flesch are mirrored double ops over those integers, so raw values
    // hash identically — no rounding needed.
    "text_readability" ->
      """WITH sp AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN '. A second sentence here.'
        |       ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' Tail without terminator'
        |       ELSE '' END AS text
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS ws,
        |    list_filter(string_split_regex(text, '[.!?]+'),
        |      s -> trim(s) <> '') AS sents
        |  FROM sp),
        |c AS (
        |  SELECT doc_id, ws,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(greatest(len(sents), 1) AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(ws, w ->
        |      len(list_filter(string_split_regex(lower(w), '[^aeiouy]+'),
        |        s -> s <> '')))) AS BIGINT) AS n_syllables
        |  FROM b)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(len(list_distinct(ws)) AS DOUBLE) / n_words AS ttr,
        |  CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) *
        |        (CAST(n_words AS DOUBLE) / n_sentences)
        |    - CAST(84.6 AS DOUBLE) *
        |        (CAST(n_syllables AS DOUBLE) / n_words) AS flesch
        |FROM c""".stripMargin,
    // Training triples: the chunk chain is the proven text_chunk mirror
    // at (16, 0); global numbering = row_number over (doc, chunk) ≡ the
    // engine's range-partitioned zipWithIndex; the negative draw is the
    // portable md5 hash mod the chunk count.
    "text_training_triples" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        |  FROM documents WHERE trim(text) <> ''),
        |m AS (
        |  SELECT doc_id, ts,
        |    greatest(CAST(ceil(CAST(len(ts) AS DOUBLE) / 16) AS BIGINT),
        |      1) AS nc
        |  FROM t),
        |e AS (SELECT doc_id, ts, unnest(range(0, nc)) AS c FROM m),
        |ch AS (
        |  SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
        |    array_to_string(ts[c * 16 + 1 : c * 16 + 16], ' ') AS chunk_text
        |  FROM e),
        |idx AS (
        |  SELECT doc_id, chunk_id, chunk_text,
        |    CAST(row_number() OVER (ORDER BY doc_id, chunk_id) AS BIGINT)
        |      AS gidx
        |  FROM ch),
        |n AS (SELECT max(gidx) AS n FROM idx),
        |pairs AS (
        |  SELECT a.doc_id, a.chunk_id, a.chunk_text AS anchor_text,
        |    p.chunk_text AS positive_text
        |  FROM ch a JOIN ch p
        |    ON a.doc_id = p.doc_id AND p.chunk_id = a.chunk_id + 1),
        |drawn AS (
        |  SELECT pr.doc_id, pr.chunk_id, pr.anchor_text, pr.positive_text,
        |    (('0x' || substr(md5('7:' || CAST(pr.doc_id AS VARCHAR) || ':'
        |        || CAST(pr.chunk_id AS VARCHAR)), 1, 15))::BIGINT
        |      % (SELECT n FROM n)) + 1 AS gidx
        |  FROM pairs pr)
        |SELECT d.doc_id, d.chunk_id, d.anchor_text, d.positive_text,
        |  i.chunk_text AS negative_text
        |FROM drawn d JOIN idx i ON d.gidx = i.gidx
        |WHERE i.doc_id <> d.doc_id""".stripMargin,
    // CCNet terciles: same unigram-logprob chain, quantile_cont (exact
    // interpolated percentile ≡ Spark percentile, the agg_percentile
    // parity) over ROUNDED scores, CASE bucketing.
    "text_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |freqs AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM freqs),
        |sc AS (SELECT t.doc_id, avg(ln(CAST(f.cnt AS DOUBLE) / n.n)) AS lp
        |       FROM toks t JOIN freqs f ON t.tok = f.tok, n GROUP BY 1),
        |lp AS (
        |  SELECT d.doc_id, round(coalesce(sc.lp, 0.0), 6) AS logprob
        |  FROM (SELECT DISTINCT doc_id FROM documents) d
        |  LEFT JOIN sc ON d.doc_id = sc.doc_id),
        |q AS (SELECT
        |  quantile_cont(logprob, CAST(1 AS DOUBLE) / 3) AS q1,
        |  quantile_cont(logprob, CAST(2 AS DOUBLE) / 3) AS q2 FROM lp)
        |SELECT doc_id, logprob,
        |  CASE WHEN logprob <= (SELECT q1 FROM q) THEN 'tail'
        |       WHEN logprob <= (SELECT q2 FROM q) THEN 'middle'
        |       ELSE 'head' END AS ppl_bucket
        |FROM lp""".stripMargin,
    // Quality classifier: behavioral certificate (AUC >= 0.95 on the
    // planted-marker classes, driver-enforced); counts SQL-checked.
    "text_quality_classifier" ->
      """SELECT CAST(count(*) FILTER (source = 'src0') AS BIGINT) AS n_target,
        |  CAST(count(*) FILTER (source <> 'src0') AS BIGINT) AS n_raw,
        |  TRUE AS auc_ok
        |FROM documents""".stripMargin,
    // C4 rules: same spikes, same line/page predicates; empty kept-line
    // list must produce '' (COALESCE — string_agg of [] is NULL), and
    // sentence splitting keeps both engines' empty-field semantics
    // behind the trim-nonempty filter.
    "text_c4_rules" ->
      """WITH sp AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 2 = 0 THEN e'\nOne good sentence sits here. Another good one follows now. A third sentence ends this.' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN e'\nShort line.' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN e'\nThis page uses javascript tricks today.' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN e'\nlorem ipsum dolor sit amet.' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN e'\nbad { brace' ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0 THEN e'\nAn obscene sentence appears right here.' ELSE '' END
        |    AS t
        |  FROM documents),
        |l AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM sp),
        |k AS (
        |  SELECT doc_id, t, lines,
        |    list_filter(lines, x ->
        |      (rtrim(x) LIKE '%.' OR rtrim(x) LIKE '%!' OR
        |       rtrim(x) LIKE '%?' OR rtrim(x) LIKE '%"')
        |      AND len(list_filter(string_split_regex(trim(x), '\s+'),
        |        w -> w <> '')) >= 5
        |      AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM l),
        |c AS (
        |  SELECT doc_id, t, lines, kept,
        |    COALESCE(list_aggregate(kept, 'string_agg', chr(10)), '')
        |      AS cleaned
        |  FROM k),
        |m AS (
        |  SELECT doc_id, t, lines, kept, cleaned,
        |    CAST(len(list_filter(string_split_regex(cleaned, '[.!?"]+'),
        |      s -> trim(s) <> '')) AS BIGINT) AS n_sentences,
        |    NOT contains(lower(t), 'lorem ipsum') AS lorem_ok,
        |    NOT contains(t, '{') AS brace_ok,
        |    NOT (contains(lower(t), 'obscene') OR
        |         contains(lower(t), 'offensive')) AS bad_word_ok
        |  FROM c)
        |SELECT doc_id, cleaned AS cleaned_text,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |  n_sentences, lorem_ok, brace_ok, bad_word_ok,
        |  n_sentences >= 3 AS sentences_ok,
        |  (lorem_ok AND brace_ok AND bad_word_ok AND n_sentences >= 3)
        |    AS keep
        |FROM m""".stripMargin,
    // DSIR: hashed-ngram buckets from the portable md5 recipe; Laplace
    // smoothing with CAST(... AS DOUBLE) literals (the DECIMAL lesson);
    // per-doc sum as the bucket-SORTED left fold; round-6 absorbs ln
    // libm drift.
    "text_dsir_weights" ->
      """WITH tks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, list_concat(ts,
        |    CASE WHEN len(ts) >= 2 THEN list_transform(range(1, len(ts)),
        |      i -> ts[i] || ' ' || ts[i + 1]) ELSE [] END) AS gs
        |  FROM tks),
        |h AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5('7:' || unnest(gs)), 1, 15))::BIGINT % 1024
        |      AS bucket
        |  FROM g),
        |tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM h
        |       WHERE source = 'src0' GROUP BY 1),
        |rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM h
        |       WHERE source <> 'src0' GROUP BY 1),
        |dom AS (SELECT unnest(range(0, 1024)) AS bucket),
        |j AS (
        |  SELECT d.bucket, COALESCE(tc.c, 0) AS tcnt, COALESCE(rc.c, 0) AS rcnt
        |  FROM dom d LEFT JOIN tc ON d.bucket = tc.bucket
        |  LEFT JOIN rc ON d.bucket = rc.bucket),
        |nt AS (SELECT sum(tcnt) AS n FROM j),
        |nr AS (SELECT sum(rcnt) AS n FROM j),
        |lam AS (
        |  SELECT bucket,
        |    ln((CAST(tcnt AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |       (CAST((SELECT n FROM nt) AS DOUBLE) + CAST(0.5 AS DOUBLE) * 1024)) -
        |    ln((CAST(rcnt AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |       (CAST((SELECT n FROM nr) AS DOUBLE) + CAST(0.5 AS DOUBLE) * 1024))
        |      AS lam
        |  FROM j),
        |dc AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM h
        |       WHERE source <> 'src0' GROUP BY 1, 2),
        |terms AS (
        |  SELECT doc_id, dc.bucket AS bucket, CAST(cnt AS DOUBLE) * lam AS term
        |  FROM dc JOIN lam ON dc.bucket = lam.bucket)
        |SELECT doc_id,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(term ORDER BY bucket)), (a, b) -> a + b), 6) AS log_weight
        |FROM terms GROUP BY doc_id""".stripMargin,
    "text_dsir_select" ->
      """WITH tks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, list_concat(ts,
        |    CASE WHEN len(ts) >= 2 THEN list_transform(range(1, len(ts)),
        |      i -> ts[i] || ' ' || ts[i + 1]) ELSE [] END) AS gs
        |  FROM tks),
        |h AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5('7:' || unnest(gs)), 1, 15))::BIGINT % 1024
        |      AS bucket
        |  FROM g),
        |tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM h
        |       WHERE source = 'src0' GROUP BY 1),
        |rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM h
        |       WHERE source <> 'src0' GROUP BY 1),
        |dom AS (SELECT unnest(range(0, 1024)) AS bucket),
        |j AS (
        |  SELECT d.bucket, COALESCE(tc.c, 0) AS tcnt, COALESCE(rc.c, 0) AS rcnt
        |  FROM dom d LEFT JOIN tc ON d.bucket = tc.bucket
        |  LEFT JOIN rc ON d.bucket = rc.bucket),
        |nt AS (SELECT sum(tcnt) AS n FROM j),
        |nr AS (SELECT sum(rcnt) AS n FROM j),
        |lam AS (
        |  SELECT bucket,
        |    ln((CAST(tcnt AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |       (CAST((SELECT n FROM nt) AS DOUBLE) + CAST(0.5 AS DOUBLE) * 1024)) -
        |    ln((CAST(rcnt AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |       (CAST((SELECT n FROM nr) AS DOUBLE) + CAST(0.5 AS DOUBLE) * 1024))
        |      AS lam
        |  FROM j),
        |dc AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM h
        |       WHERE source <> 'src0' GROUP BY 1, 2),
        |w AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(cnt AS DOUBLE) * lam ORDER BY dc.bucket)),
        |      (a, b) -> a + b) AS lw
        |  FROM dc JOIN lam ON dc.bucket = lam.bucket GROUP BY doc_id),
        |keyed AS (
        |  -- clamp u into [2^-53, 1-2^-53] (mirrors Dsir.resample: both
        |  -- tails of the raw [0,1) uniform make ln see 0 in IEEE doubles)
        |  SELECT doc_id, lw - ln(-ln(CAST(1 AS DOUBLE) -
        |    least(greatest(
        |      ('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        / CAST(1152921504606846976 AS DOUBLE),
        |      CAST(1 AS DOUBLE) / 9007199254740992),
        |      CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / 9007199254740992))) AS gk
        |  FROM w)
        |SELECT doc_id, rank FROM (
        |  SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY gk DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM keyed) WHERE rank <= 50""".stripMargin,
    // BM25: the idf/saturation arithmetic mirrors the engine's op order
    // token for token (left-assoc 1-b+b·x, (n-df) BIGINT subtract before
    // the double cast); per-(query,doc) sums quantize each contribution
    // to 1e-9 units and SUM as BIGINT — commutative, so neither engine
    // needs a sorted fold; scores round-6 before the rank.
    "text_bm25_topk" ->
      """WITH tks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM tks)
        |  GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
        |        GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(ts)) AS DOUBLE) / count(*) AS avgdl FROM tks),
        |idf AS (
        |  SELECT term,
        |    ln((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |       (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) +
        |       CAST(1.0 AS DOUBLE)) AS idf,
        |    avgdl
        |  FROM dfq, stats),
        |qt AS (
        |  SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id, unnest(ts) AS term FROM tks
        |    WHERE doc_id % 50 = 0)),
        |m AS (
        |  SELECT q.query_id, tf.doc_id, q.term,
        |    idf.idf * ((CAST(tf.tf AS DOUBLE) *
        |      (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
        |      (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |        (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
        |         CAST(0.75 AS DOUBLE) *
        |           (CAST(tf.dl AS DOUBLE) / idf.avgdl)))) AS c
        |  FROM qt q JOIN idf ON q.term = idf.term
        |  JOIN tf ON q.term = tf.term),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    round(CAST(sum(CAST(round(c * CAST(1000000000.0 AS DOUBLE))
        |      AS BIGINT)) AS DOUBLE) /
        |      CAST(1000000000.0 AS DOUBLE), 6) AS score
        |  FROM m GROUP BY 1, 2)
        |SELECT query_id, doc_id, score, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM sc) WHERE rank <= 5""".stripMargin,
    // RRF fusion: lexical BM25 top-10 (same chain as text_bm25_topk,
    // query set doc_id < 10) fused with the dense cosine top-10 (same
    // chain as embed_cosine_topk). rrf terms are 1/(60+rank) — exact
    // integer divisions, so the fused score needs no rounding.
    "text_rrf_fusion" ->
      """WITH tks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM tks)
        |  GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
        |        GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(ts)) AS DOUBLE) / count(*) AS avgdl FROM tks),
        |idf AS (
        |  SELECT term,
        |    ln((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |       (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) +
        |       CAST(1.0 AS DOUBLE)) AS idf,
        |    avgdl
        |  FROM dfq, stats),
        |qt AS (
        |  SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id, unnest(ts) AS term FROM tks
        |    WHERE doc_id < 10)),
        |m AS (
        |  SELECT q.query_id, tf.doc_id, q.term,
        |    idf.idf * ((CAST(tf.tf AS DOUBLE) *
        |      (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
        |      (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |        (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
        |         CAST(0.75 AS DOUBLE) *
        |           (CAST(tf.dl AS DOUBLE) / idf.avgdl)))) AS c
        |  FROM qt q JOIN idf ON q.term = idf.term
        |  JOIN tf ON q.term = tf.term),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    round(CAST(sum(CAST(round(c * CAST(1000000000.0 AS DOUBLE))
        |      AS BIGINT)) AS DOUBLE) /
        |      CAST(1000000000.0 AS DOUBLE), 6) AS score
        |  FROM m GROUP BY 1, 2),
        |sparse AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |    FROM sc) WHERE rank <= 10),
        |dotn AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(list_zip(q.embedding, q.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(list_zip(c.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |dense AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank
        |    FROM dotn) WHERE rank <= 10),
        |fused AS (
        |  SELECT COALESCE(s.query_id, e.query_id) AS query_id,
        |    COALESCE(s.doc_id, e.doc_id) AS doc_id,
        |    COALESCE(CAST(1.0 AS DOUBLE) /
        |      (CAST(60 AS DOUBLE) + CAST(s.rank AS DOUBLE)),
        |      CAST(0 AS DOUBLE)) +
        |    COALESCE(CAST(1.0 AS DOUBLE) /
        |      (CAST(60 AS DOUBLE) + CAST(e.rank AS DOUBLE)),
        |      CAST(0 AS DOUBLE)) AS rrf_score
        |  FROM sparse s FULL OUTER JOIN dense e
        |    ON s.query_id = e.query_id AND s.doc_id = e.doc_id)
        |SELECT query_id, doc_id, rrf_score, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
        |  FROM fused) WHERE rank <= 5""".stripMargin,
    // BPE encode: the paren-wrapped symbol string makes every symbol
    // boundary the literal ")(" — chained regexp_replace passes are then
    // EXACTLY the paper's in-order leftmost-non-overlapping merge
    // application (both engines' regex replace-all scans leftmost and
    // resumes after each match). Token count = boundary count + 1 (symbol
    // CONTENT can contain parens — a "(" pre-token — but never ")(",
    // since only letter pairs are merged).
    "text_bpe_encode" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text,
        |    '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
        |  ) AS toks FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
        |    unnest(toks) AS tok FROM t),
        |ww AS (
        |  SELECT doc_id, pos, trim(tok) AS word FROM w WHERE trim(tok) <> ''),
        |wrapped AS (
        |  SELECT doc_id, pos,
        |    list_aggregate(list_transform(regexp_extract_all(word, '.'),
        |      c -> '(' || c || ')'), 'string_agg', '') AS s0
        |  FROM ww),
        |m AS (
        |  SELECT doc_id, pos,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(s0,
        |        '\(e\)\(s\)', '(es)', 'g'),
        |        '\(t\)\(h\)', '(th)', 'g'),
        |        '\(th\)\(e\)', '(the)', 'g'),
        |        '\(i\)\(n\)', '(in)', 'g'),
        |        '\(e\)\(r\)', '(er)', 'g') AS s
        |  FROM wrapped),
        |seg AS (
        |  SELECT doc_id, pos,
        |    replace(substr(s, 2, len(s) - 2), ')(', '|') AS wseg,
        |    (len(s) - len(replace(s, ')(', ''))) // 2 + 1 AS ntok
        |  FROM m)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_pretokens,
        |  CAST(sum(ntok) AS BIGINT) AS n_bpe_tokens,
        |  string_agg(wseg, '|' ORDER BY pos) AS seg
        |FROM seg GROUP BY doc_id""".stripMargin,
    // Bloom-accelerated new-key dedup: the oracle is the PLAIN anti-join —
    // the Bloom pre-filter must not change the answer, only the plan.
    "dedup_bloom_new_keys" ->
      """WITH fps AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |seen AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0)
        |SELECT f.doc_id, f.fp FROM fps f
        |LEFT JOIN seen s ON f.fp = s.fp WHERE s.fp IS NULL""".stripMargin,
    // Bloom filter: every bit reproducible from the portable md5-prefix
    // recipe; range(0,4) is the hash-function family, 1024 the bit width.
    "sketch_bloom" ->
      s"""$interactionsSql,
        |pos AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5(r.r || ':' || item_id), 1, 15))::BIGINT % 1024 AS bit
        |  FROM interactions, range(0, 4) r(r))
        |SELECT CAST(b.b AS BIGINT) AS bit,
        |  CAST(CASE WHEN pos.bit IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_set
        |FROM range(0, 1024) b(b) LEFT JOIN pos ON b.b = pos.bit""".stripMargin,
    "sketch_bloom_query" ->
      s"""$interactionsSql,
        |bits AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5(r.r || ':' || item_id), 1, 15))::BIGINT % 1024 AS bit
        |  FROM interactions, range(0, 4) r(r)),
        |keys AS (SELECT CAST(k.k AS BIGINT) AS item_id FROM range(0, 4000, 20) k(k)),
        |qpos AS (
        |  SELECT keys.item_id,
        |    ('0x' || substr(md5(r.r || ':' || keys.item_id), 1, 15))::BIGINT % 1024 AS bit
        |  FROM keys, range(0, 4) r(r)),
        |mp AS (
        |  SELECT q.item_id,
        |    min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) = 1 AS maybe_present
        |  FROM qpos q LEFT JOIN bits b ON q.bit = b.bit GROUP BY 1),
        |pres AS (SELECT DISTINCT item_id FROM interactions)
        |SELECT mp.item_id, mp.maybe_present,
        |  pres.item_id IS NOT NULL AS actually_present,
        |  (mp.maybe_present OR pres.item_id IS NULL) AS no_false_negative
        |FROM mp LEFT JOIN pres ON mp.item_id = pres.item_id""".stripMargin,
    "dedup_minhash" -> {
      val matchSum = (0 until 16)
        .map(p => s"(CASE WHEN a.h$p = b.h$p THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $minhashCandSql
        |SELECT c.id_a, c.id_b,
        |  ($matchSum) / 16.0 AS est_jaccard
        |FROM cand c
        |JOIN sigs a ON a.doc_id = c.id_a
        |JOIN sigs b ON b.doc_id = c.id_b""".stripMargin
    },
    // Streaming near-dup, batch mode: exactly the batch LSH candidates.
    "streaming_neardup" ->
      s"""WITH $minhashCandSql
        |SELECT id_a, id_b FROM cand""".stripMargin,
    // Edit-distance verification of the LSH candidate slice: DuckDB's
    // levenshtein is the same unit-cost insert/delete/substitute distance
    // as Spark's; identical normalization chain on both sides.
    "dedup_edit_distance" ->
      s"""WITH $minhashCandSql,
        |nt AS (
        |  SELECT doc_id,
        |    substr(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
        |      1, 1000) AS t
        |  FROM documents)
        |SELECT c.id_a, c.id_b,
        |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist,
        |  round(CAST(1 AS DOUBLE) - CAST(levenshtein(a.t, b.t) AS DOUBLE) /
        |    CAST(greatest(len(a.t), len(b.t)) AS DOUBLE), 6) AS edit_sim,
        |  (CAST(1 AS DOUBLE) - CAST(levenshtein(a.t, b.t) AS DOUBLE) /
        |    CAST(greatest(len(a.t), len(b.t)) AS DOUBLE))
        |    >= CAST(0.8 AS DOUBLE) AS is_dup
        |FROM cand c
        |JOIN nt a ON a.doc_id = c.id_a
        |JOIN nt b ON b.doc_id = c.id_b""".stripMargin,
    // LSH pairs → duplicate clusters: the recursive CTE computes, for each
    // node of the candidate graph, the min id among all reachable nodes —
    // the exact fixpoint the engine's min-label propagation converges to
    "dedup_cluster" ->
      s"""WITH RECURSIVE $minhashCandSql,
        |edges AS (SELECT id_a AS a, id_b AS b FROM cand
        |          UNION ALL SELECT id_b, id_a FROM cand),
        |reach(node, lbl) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node)
        |SELECT node, min(lbl) AS component FROM reach GROUP BY 1""".stripMargin,
    // the star-alternation twin computes the SAME fixpoint
    "dedup_cluster_ls" ->
      s"""WITH RECURSIVE $minhashCandSql,
        |edges AS (SELECT id_a AS a, id_b AS b FROM cand
        |          UNION ALL SELECT id_b, id_a FROM cand),
        |reach(node, lbl) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node)
        |SELECT node, min(lbl) AS component FROM reach GROUP BY 1""".stripMargin,
    // survivors of cluster-level dedup: every doc except non-representative
    // cluster members (docs in no candidate pair survive untouched)
    "dedup_cluster_keep" ->
      s"""WITH RECURSIVE $minhashCandSql,
        |edges AS (SELECT id_a AS a, id_b AS b FROM cand
        |          UNION ALL SELECT id_b, id_a FROM cand),
        |reach(node, lbl) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY 1)
        |SELECT d.doc_id, d.source FROM documents d
        |ANTI JOIN (SELECT node FROM comp WHERE node <> component) x
        |  ON d.doc_id = x.node""".stripMargin,
    // sqrt-scaled soft dedup of exact-duplicate groups, portable-hash pick
    "dedup_soft" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, f,
        |    row_number() OVER (PARTITION BY f ORDER BY
        |      ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      doc_id) AS rn,
        |    count(*) OVER (PARTITION BY f) AS n
        |  FROM fp)
        |SELECT doc_id FROM r
        |WHERE rn <= CAST(ceil(pow(n, 0.5)) AS BIGINT)""".stripMargin,
    // concat-and-chunk sequence packing: token-count prefix sum over the
    // doc_id order, then integer chunk-span arithmetic per doc
    "pack_sequences" ->
      """WITH tc AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n
        |  FROM documents),
        |cs AS (
        |  SELECT doc_id, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM tc),
        |sp AS (SELECT doc_id, n, cum, cum - n AS strt FROM cs),
        |ex AS (
        |  SELECT doc_id, cum, strt,
        |    unnest(generate_series(strt // 256, (cum - 1) // 256)) AS chunk_id
        |  FROM sp)
        |SELECT doc_id, chunk_id,
        |  greatest(chunk_id * 256, strt) - strt AS slice_begin,
        |  least((chunk_id + 1) * 256, cum) - greatest(chunk_id * 256, strt) AS slice_len
        |FROM ex""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      generate_series(0, len(string_split_regex(trim(lower(text)), '\s+')) - 3),
        |      i -> array_to_string(
        |        string_split_regex(trim(lower(text)), '\s+')[i+1:i+3], ' '))) AS shs
        |  FROM documents
        |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 3),
        |ex AS (SELECT doc_id, source, len(shs) AS n, s.s AS sgl
        |       FROM sh, unnest(shs) s(s))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - count(*)) AS jaccard
        |FROM ex a JOIN ex b
        |  ON a.source = b.source AND a.sgl = b.sgl AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING CAST(count(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.2""".stripMargin,
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS ts
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, ('0x' || substr(md5('0:' || t.t), 1, 15))::BIGINT AS h
        |  FROM toks, unnest(ts) t(t)),
        |bits AS (
        |  SELECT doc_id, b.b,
        |    CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |         THEN (CAST(1 AS BIGINT) << b.b) ELSE 0 END AS bit
        |  FROM th, range(0, 16) b(b) GROUP BY doc_id, b.b)
        |SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
        |FROM bits GROUP BY 1""".stripMargin,
    "embed_cosine_topk" ->
      """WITH dotn AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(list_zip(q.embedding, q.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(list_zip(c.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM dotn) WHERE rank <= 5""".stripMargin,
    // Hard negatives: brute top-(k+maxPositives) -> anti-join the
    // same-label annotated positives -> re-rank to k. Same cosine chain
    // as embed_cosine_topk.
    "embed_hard_negatives" ->
      """WITH dotn AS (
        |  SELECT q.vec_id AS anchor_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(list_zip(q.embedding, q.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(list_zip(c.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |cand AS (
        |  SELECT anchor_id, neighbor_id, cosine FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY anchor_id ORDER BY cosine DESC, neighbor_id) AS rk
        |    FROM dotn) WHERE rk <= 21),
        |pos AS (
        |  SELECT a.vec_id AS anchor_id, p.vec_id AS positive_id
        |  FROM embeddings a JOIN embeddings p ON a.label = p.label
        |  WHERE a.vec_id < 10 AND p.vec_id < 50 AND a.vec_id <> p.vec_id),
        |negs AS (
        |  SELECT c.anchor_id, c.neighbor_id, c.cosine FROM cand c
        |  ANTI JOIN pos p
        |    ON c.anchor_id = p.anchor_id AND c.neighbor_id = p.positive_id)
        |SELECT anchor_id, neighbor_id, cosine,
        |  CAST(neg_rank AS BIGINT) AS neg_rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY anchor_id ORDER BY cosine DESC, neighbor_id)
        |    AS neg_rank
        |  FROM negs) WHERE neg_rank <= 5""".stripMargin,
    // ANN threshold gates (r8): the engine emits a one-row recall summary
    // vs its own exact brute-force top-k; the oracle asserts the shape AND
    // the >= 0.95 contract. The oracle cannot (and need not) re-run the
    // ANN — a recall drop below threshold flips recall_ok and the hash.
    "embed_ivf_search" ->
      "SELECT CAST(10 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok",
    "embed_hnsw_search" ->
      "SELECT CAST(10 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok",
    "embed_pq_search" ->
      "SELECT CAST(10 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok",
    "embed_hnsw_sharded" ->
      "SELECT CAST(10 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok",
    "embed_ivfpq_search" ->
      "SELECT CAST(10 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok",
    // SemDeDup: clustering is not SQL-reproducible, but the planted-copy
    // construction pins the full drop algebra as literals — identical
    // vectors always share a cell, rank-tie to the lower id, and no
    // natural pair reaches tau=0.95 (max natural cosine ≈ 0.51/0.67 at
    // sf0.01/sf0.1), so kept = corpus, dropped = the 20 plants, exactly.
    "dedup_semantic" ->
      """SELECT CAST(count(*) + 20 AS BIGINT) AS n_in,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(20 AS BIGINT) AS n_dropped,
        |  TRUE AS dropped_are_planted, TRUE AS witness_ok
        |FROM embeddings""".stripMargin,
    // int8 quantization: identical IEEE double chain — abs/max in double,
    // floor(x*127/m + 0.5) half-up — cell-level so array semantics hash.
    "embed_quantize_int8" ->
      """WITH t AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
        |      'max') AS m
        |  FROM embeddings)
        |SELECT vec_id, CAST(p.pos AS BIGINT) AS pos,
        |  CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(floor(CAST(embedding[p.pos + 1] AS DOUBLE) * 127 / m
        |                       + 0.5) AS BIGINT) END AS code,
        |  CASE WHEN m = 0 THEN CAST(0 AS DOUBLE) ELSE m / 127 END AS scale
        |FROM t CROSS JOIN range(0, 64) p(pos)""".stripMargin,
    "embed_quantized_topk" ->
      """WITH t AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
        |      'max') AS m
        |  FROM embeddings),
        |dq AS (
        |  SELECT vec_id,
        |    CASE WHEN m = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |         ELSE list_transform(embedding, x ->
        |           floor(CAST(x AS DOUBLE) * 127 / m + 0.5) * (m / 127)) END AS v
        |  FROM t),
        |dotn AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.v, c.v), x -> x[1] * x[2])) /
        |    (sqrt(list_sum(list_transform(list_zip(q.v, q.v), x -> x[1] * x[2]))) *
        |     sqrt(list_sum(list_transform(list_zip(c.v, c.v), x -> x[1] * x[2])))) AS cosine
        |  FROM dq q, dq c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM dotn) WHERE rank <= 5""".stripMargin,
    // sign-LSH near-dup: hyperplanes re-derived from the portable md5
    // recipe ("0:table:plane:dim" → first 15 hex → /2^60*2-1), buckets as
    // sign bits of sequential-sum projections, exact cosine on candidates.
    "embed_lsh_neardup" ->
      """WITH planes AS (
        |  SELECT t.tbl, p.p, i.i,
        |    ('0x' || substr(md5('0:' || t.tbl || ':' || p.p || ':' || i.i), 1, 15))::BIGINT
        |      / 1152921504606846976.0 * 2 - 1 AS r
        |  FROM range(0, 8) t(tbl), range(0, 4) p(p), range(0, 64) i(i)),
        |rl AS (SELECT tbl, p, list(r ORDER BY i) AS rs FROM planes GROUP BY 1, 2),
        |proj AS (
        |  SELECT v.vec_id, r.tbl, r.p,
        |    list_sum(list_transform(list_zip(v.embedding, r.rs),
        |      x -> CAST(x[1] AS DOUBLE) * x[2])) AS pj
        |  FROM embeddings v CROSS JOIN rl r),
        |bkt AS (
        |  SELECT vec_id, tbl,
        |    CAST(sum(CASE WHEN pj > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bkt
        |  FROM proj GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bkt = b.bkt
        |    AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM (
        |  SELECT c.id_a, c.id_b,
        |    list_sum(list_transform(list_zip(va.embedding, vb.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(list_zip(va.embedding, va.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(list_zip(vb.embedding, vb.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cosine
        |  FROM cand c
        |  JOIN embeddings va ON c.id_a = va.vec_id
        |  JOIN embeddings vb ON c.id_b = vb.vec_id)
        |WHERE cosine >= 0.2""".stripMargin,
    // production-settings LSH certificate: 20 planted exact copies must
    // all surface (identical vectors collide in every table) with unit
    // cosine, pairs ordered and bounded — constant summary, the planes=4
    // twin above carries the value-exact oracle for the same code path
    "embed_lsh_neardup_prod" ->
      """SELECT true AS nonempty, CAST(20 AS BIGINT) AS n_planted_found,
        |  true AS planted_cos_ok, true AS ids_ordered, true AS cos_bounded
        |""".stripMargin,
    // Streaming embedding near-dup, batch mode: the inline-verified
    // stateful-bucket operator must equal batch lshNearDup exactly — the
    // oracle is the SAME planes=4 SQL as embed_lsh_neardup above.
    "streaming_embed_neardup" ->
      """WITH planes AS (
        |  SELECT t.tbl, p.p, i.i,
        |    ('0x' || substr(md5('0:' || t.tbl || ':' || p.p || ':' || i.i), 1, 15))::BIGINT
        |      / 1152921504606846976.0 * 2 - 1 AS r
        |  FROM range(0, 8) t(tbl), range(0, 4) p(p), range(0, 64) i(i)),
        |rl AS (SELECT tbl, p, list(r ORDER BY i) AS rs FROM planes GROUP BY 1, 2),
        |proj AS (
        |  SELECT v.vec_id, r.tbl, r.p,
        |    list_sum(list_transform(list_zip(v.embedding, r.rs),
        |      x -> CAST(x[1] AS DOUBLE) * x[2])) AS pj
        |  FROM embeddings v CROSS JOIN rl r),
        |bkt AS (
        |  SELECT vec_id, tbl,
        |    CAST(sum(CASE WHEN pj > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bkt
        |  FROM proj GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bkt = b.bkt
        |    AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM (
        |  SELECT c.id_a, c.id_b,
        |    list_sum(list_transform(list_zip(va.embedding, vb.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(list_zip(va.embedding, va.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(list_zip(vb.embedding, vb.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cosine
        |  FROM cand c
        |  JOIN embeddings va ON c.id_a = va.vec_id
        |  JOIN embeddings vb ON c.id_b = vb.vec_id)
        |WHERE cosine >= 0.2""".stripMargin,
    "text_langid" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) AS c_en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS c_de,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('le','la','les','et','est','un','une','dans','que','pour'))) AS c_fr,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> t IN ('el','la','los','y','es','un','una','en','que','por'))) AS c_es
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
        |       WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
        |       WHEN c_es = greatest(c_en, c_de, c_fr, c_es) THEN 'es'
        |       WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM scored""".stripMargin,
    "multimodal_blocks" ->
      """SELECT doc_id AS asset_id, t.i AS block_idx,
        |  least(32, CAST(octet_length(encode(text)) AS BIGINT) - t.i * 128)
        |    AS block_len
        |FROM documents,
        |  unnest(generate_series(0,
        |    greatest((octet_length(encode(text)) - 32) // 128, 0))) AS t(i)""".stripMargin,
    // real PNG round-trip: dimensions are the syntheticPngs id formula —
    // a decode that fabricated metadata from byte length cannot match
    "multimodal_decode" ->
      """SELECT doc_id AS asset_id,
        |  1 + doc_id % 48 AS width,
        |  1 + (doc_id * 7) % 48 AS height,
        |  true AS decode_ok
        |FROM documents""".stripMargin,
    // byte histogram: bytes recovered byte-true in SQL by slicing the hex
    // encoding of the blob two chars at a time
    "multimodal_features" ->
      """WITH b AS (SELECT doc_id AS asset_id, encode(text) AS bb FROM documents),
        |bytes AS (SELECT asset_id,
        |    ('0x' || substring(hex(bb), 2*u.i - 1, 2))::BIGINT AS v
        |  FROM b, unnest(range(1, octet_length(bb) + 1)) u(i)),
        |hist AS (SELECT asset_id, (v * 16) // 256 AS bin, count(*) AS c
        |         FROM bytes GROUP BY 1, 2),
        |lens AS (SELECT asset_id, greatest(octet_length(bb), 1) AS n FROM b),
        |dense AS (SELECT l.asset_id, g.bin, l.n, coalesce(h.c, 0) AS c
        |  FROM lens l CROSS JOIN range(0, 16) g(bin)
        |  LEFT JOIN hist h ON l.asset_id = h.asset_id AND g.bin = h.bin)
        |SELECT asset_id, CAST(bin AS BIGINT) AS bin,
        |  round(CAST(c AS DOUBLE) / n, 6) AS share
        |FROM dense""".stripMargin,
    "multimodal_resize" ->
      """WITH meta AS (SELECT doc_id AS asset_id,
        |  1 + doc_id % 48 AS width,
        |  1 + (doc_id * 7) % 48 AS height
        |  FROM documents)
        |SELECT asset_id, width, height,
        |  CAST(CASE WHEN height * 128 <= width * 96 THEN 128
        |       ELSE floor(width * 96 / height) END AS BIGINT) AS out_w,
        |  CAST(CASE WHEN height * 128 <= width * 96 THEN floor(height * 128 / width)
        |       ELSE 96 END AS BIGINT) AS out_h
        |FROM meta""".stripMargin,
    // exact-interpolated threshold twin: quantile_cont ≡ Spark
    // `percentile` ≡ pandas .quantile(alpha) (linear interpolation on
    // h = (n−1)·α — the proven cross-engine pair from discretize_quantile)
    "filter_quantile_items_exact" ->
      s"""$interactionsSql,
         |ic AS (SELECT item_id, count(*) AS icnt FROM interactions GROUP BY 1),
         |qv AS (SELECT quantile_cont(icnt, CAST(0.95 AS DOUBLE)) AS q FROM ic),
         |uc AS (SELECT query_id, count(*) AS ucnt FROM interactions GROUP BY 1),
         |ann AS (
         |  SELECT i.*, ic.icnt, uc.ucnt FROM interactions i
         |  JOIN ic ON i.item_id = ic.item_id
         |  JOIN uc ON i.query_id = uc.query_id),
         |hot AS (
         |  SELECT query_id, item_id, rating FROM (
         |    SELECT *, floor((icnt - (SELECT q FROM qv)) * 0.5) AS nd,
         |      row_number() OVER (PARTITION BY item_id
         |        ORDER BY ucnt DESC, query_id, rating, session_id) AS rn
         |    FROM ann WHERE icnt > (SELECT q FROM qv))
         |  WHERE rn > nd),
         |cold AS (SELECT query_id, item_id, rating FROM ann
         |         WHERE icnt <= (SELECT q FROM qv))
         |SELECT * FROM cold UNION ALL SELECT * FROM hot""".stripMargin,
    "filter_quantile_items" ->
      s"""$interactionsSql,
         |ic AS (SELECT item_id, count(*) AS icnt FROM interactions GROUP BY 1),
         |qv AS (SELECT quantile_disc(icnt, 0.95) AS q FROM ic),
         |uc AS (SELECT query_id, count(*) AS ucnt FROM interactions GROUP BY 1),
         |ann AS (
         |  SELECT i.*, ic.icnt, uc.ucnt FROM interactions i
         |  JOIN ic ON i.item_id = ic.item_id
         |  JOIN uc ON i.query_id = uc.query_id),
         |hot AS (
         |  SELECT query_id, item_id, rating FROM (
         |    SELECT *, floor((icnt - (SELECT q FROM qv)) * 0.5) AS nd,
         |      row_number() OVER (PARTITION BY item_id
         |        ORDER BY ucnt DESC, query_id, rating, session_id) AS rn
         |    FROM ann WHERE icnt > (SELECT q FROM qv))
         |  WHERE rn > nd),
         |cold AS (SELECT query_id, item_id, rating FROM ann
         |         WHERE icnt <= (SELECT q FROM qv))
         |SELECT * FROM cold UNION ALL SELECT * FROM hot""".stripMargin,
    "join_anti_consistency" ->
      """SELECT count(*) AS n_cold FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,
    "join_fallback_merge" ->
      s"""$interactionsSql,
         |main AS (
         |  SELECT query_id, item_id, sum(rating) AS rating
         |  FROM interactions GROUP BY 1, 2 HAVING sum(rating) >= 50),
         |top_items AS (
         |  SELECT item_id, sum(rating) AS rating FROM interactions
         |  GROUP BY 1 ORDER BY rating DESC, item_id LIMIT 5),
         |fb_stats AS (
         |  SELECT max(rating) AS fb_max FROM top_items),
         |main_stats AS (
         |  SELECT min(rating) AS main_min FROM main),
         |fallback AS (
         |  SELECT u.query_id, t.item_id,
         |    t.rating - (SELECT fb_max FROM fb_stats)
         |             + (SELECT main_min FROM main_stats) - 1 AS rating
         |  FROM (SELECT DISTINCT query_id FROM interactions) u, top_items t)
         |SELECT coalesce(m.query_id, f.query_id) AS query_id,
         |       coalesce(m.item_id, f.item_id) AS item_id,
         |       round(coalesce(m.rating, f.rating), 6) AS rating
         |FROM main m FULL OUTER JOIN fallback f
         |  ON m.query_id = f.query_id AND m.item_id = f.item_id""".stripMargin,

    // ---- round 10 -----------------------------------------------------
    // SCD Type 2: each upsert opens [version, next change); lead() closes
    "cdc_scd2" ->
      """WITH changes AS (
        |  SELECT doc_id, text || ' v2' AS text, source,
        |    'upsert' AS op, CAST(1 AS BIGINT) AS version
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id, text, source, 'delete', CAST(2 AS BIGINT)
        |  FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 500000, text, source, 'upsert', CAST(3 AS BIGINT)
        |  FROM documents WHERE doc_id % 9 = 0),
        |h AS (
        |  SELECT doc_id, text, source, op, version,
        |    lead(version) OVER (PARTITION BY doc_id
        |      ORDER BY version, op) AS valid_to
        |  FROM changes)
        |SELECT doc_id, source, text, version AS valid_from,
        |  CAST(valid_to AS BIGINT) AS valid_to, valid_to IS NULL AS is_current
        |FROM h WHERE op = 'upsert'""".stripMargin,
    // trailing RANGE frame on event-time micros; exact integer cents sum
    "window_rolling_time" ->
      """SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS roll_cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS roll_sum_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    // exact k per group by the md5-chain rank
    "sample_group_k" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY
        |      ('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      doc_id) AS rn
        |  FROM documents) WHERE rn <= 5""".stripMargin,
    // HLL set algebra: oracle supplies the exact counts, estimates are
    // threshold-checked Spark-side (booleans TRUE on pass)
    "sketch_hll_overlap" ->
      s"""$interactionsSql,
         |a AS (SELECT DISTINCT item_id FROM interactions WHERE query_id % 2 = 0),
         |b AS (SELECT DISTINCT CASE WHEN item_id % 3 = 0
         |        THEN item_id + 1000000 ELSE item_id END AS item_id
         |      FROM interactions WHERE query_id % 2 = 1)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a_exact,
         |  (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b_exact,
         |  (SELECT CAST(count(*) AS BIGINT) FROM a
         |     WHERE item_id IN (SELECT item_id FROM b)) AS n_inter_exact,
         |  TRUE AS ok_a, TRUE AS ok_b, TRUE AS ok_inter""".stripMargin,
    // personalized PageRank: the graph_pagerank replay, seed-conditional —
    // teleport + dangling mass land only on the every-100th-query seeds
    "graph_ppr" -> {
      def round(k: Int): String = {
        val p = k - 1
        s"""d$k AS (SELECT coalesce(sum(rk), 0) AS dang FROM r$p WHERE deg = 0),
           |i$k AS (SELECT e.dst AS node, sum(r.rk // r.deg) AS inc
           |       FROM r$p r JOIN e ON r.node = e.src WHERE r.deg > 0 GROUP BY 1),
           |r$k AS (SELECT n.node, n.deg, n.isSeed,
           |         CASE WHEN n.isSeed
           |           THEN bs.base
           |             + (85 * (coalesce(i.inc, 0) + (d.dang // ss.s))) // 100
           |           ELSE (85 * coalesce(i.inc, 0)) // 100 END AS rk
           |       FROM nodes n LEFT JOIN i$k i ON n.node = i.node,
           |            d$k d, bs, ss),""".stripMargin
      }
      s"""$interactionsSql,
         |e AS (SELECT DISTINCT query_id AS src, item_id + 1000000 AS dst
         |      FROM interactions),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |        FROM e GROUP BY 1),
         |seeds AS (SELECT DISTINCT query_id AS node FROM interactions
         |          WHERE query_id % 100 = 0),
         |nodes AS (
         |  SELECT n.node, coalesce(d.deg, 0) AS deg,
         |    n.node IN (SELECT node FROM seeds) AS isSeed
         |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
         |  LEFT JOIN deg d ON n.node = d.node),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |ss AS (SELECT count(*) AS s FROM nodes WHERE isSeed),
         |bs AS (SELECT (15 * nn.n * 1000000) // (100 * ss.s) AS base
         |       FROM nn, ss),
         |r0 AS (SELECT node, deg, isSeed, CAST(1000000 AS BIGINT) AS rk
         |       FROM nodes),
         |${round(1)}
         |${round(2)}
         |${round(3).stripSuffix(",")}
         |SELECT node, CAST(rk AS BIGINT) AS ppr_units FROM r3""".stripMargin
    },
    // attribution: purchases × preceding views within 30 min, same user
    "join_attribution" ->
      """SELECT v.event_id AS imp_id, c.event_id AS conv_id, v.user_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS delay_us
        |FROM events v JOIN events c ON v.user_id = c.user_id
        |WHERE v.event_type = 'view' AND c.event_type = 'purchase'
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE""".stripMargin,
    // per-hour HLL registers: the sketch_hll chain keyed by the epoch-
    // aligned tumbling window (p=8 → 52 low bits)
    "streaming_windowed_distinct" ->
      """WITH hh AS (
        |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
        |    ('0x' || substr(md5('0:' || user_id), 1, 15))::BIGINT AS h
        |  FROM events),
        |rr AS (
        |  SELECT window_start_us, h >> 52 AS bucket,
        |    CASE WHEN (h & ((1::BIGINT << 52) - 1)) = 0 THEN 53
        |         ELSE 52 - (length(bin(h & ((1::BIGINT << 52) - 1))) - 1)
        |    END AS rho
        |  FROM hh)
        |SELECT window_start_us, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(max(rho) AS BIGINT) AS register
        |FROM rr GROUP BY 1, 2""".stripMargin,
    // the shared parts-bought-together edge slice (graph_triangles /
    // graph_communities): canonical (lo,hi) undirected simple edges
    "graph_triangles" ->
      """WITH e0 AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS ea,
        |    greatest(a.l_partkey, b.l_partkey) AS eb
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 40 = 0),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e0 UNION ALL SELECT eb FROM e0) GROUP BY 1),
        |ork AS (
        |  SELECT e0.ea, e0.eb, da.deg * 2147483648 + e0.ea AS ka,
        |    db.deg * 2147483648 + e0.eb AS kb
        |  FROM e0 JOIN deg da ON e0.ea = da.node
        |    JOIN deg db ON e0.eb = db.node),
        |o AS (SELECT CASE WHEN ka < kb THEN ea ELSE eb END AS lo,
        |        CASE WHEN ka < kb THEN eb ELSE ea END AS hi,
        |        CASE WHEN ka < kb THEN kb ELSE ka END AS khi FROM ork),
        |w AS (SELECT l.lo AS p, l.hi AS v, r.hi AS w2
        |      FROM o l JOIN o r ON l.lo = r.lo AND l.khi < r.khi),
        |t AS (SELECT p, v, w2 FROM w WHERE EXISTS (
        |        SELECT 1 FROM o WHERE o.lo = w.v AND o.hi = w.w2)),
        |pn AS (SELECT node, count(*) AS tri FROM (
        |  SELECT p AS node FROM t UNION ALL SELECT v FROM t
        |  UNION ALL SELECT w2 FROM t) GROUP BY 1)
        |SELECT deg.node, deg.deg AS degree,
        |  coalesce(pn.tri, 0) AS triangles,
        |  CASE WHEN deg.deg >= 2
        |    THEN (2 * coalesce(pn.tri, 0) * 1000000) // (deg.deg * (deg.deg - 1))
        |    ELSE 0 END AS lcc_ppm
        |FROM deg LEFT JOIN pn ON deg.node = pn.node""".stripMargin,
    "graph_communities" ->
      """WITH e0 AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS ea,
        |    greatest(a.l_partkey, b.l_partkey) AS eb
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 40 = 0),
        |adj AS (SELECT ea AS node, eb AS nbr FROM e0
        |        UNION ALL SELECT eb AS node, ea AS nbr FROM e0),
        |l0 AS (SELECT DISTINCT node, node AS label FROM adj),
        |l1 AS (SELECT node, max_by(label, cnt * 2147483648 - label) AS label
        |  FROM (SELECT a.node, p.label, count(*) AS cnt
        |        FROM adj a JOIN l0 p ON a.nbr = p.node GROUP BY 1, 2)
        |  GROUP BY 1),
        |l2 AS (SELECT node, max_by(label, cnt * 2147483648 - label) AS label
        |  FROM (SELECT a.node, p.label, count(*) AS cnt
        |        FROM adj a JOIN l1 p ON a.nbr = p.node GROUP BY 1, 2)
        |  GROUP BY 1),
        |l3 AS (SELECT node, max_by(label, cnt * 2147483648 - label) AS label
        |  FROM (SELECT a.node, p.label, count(*) AS cnt
        |        FROM adj a JOIN l2 p ON a.nbr = p.node GROUP BY 1, 2)
        |  GROUP BY 1),
        |l4 AS (SELECT node, max_by(label, cnt * 2147483648 - label) AS label
        |  FROM (SELECT a.node, p.label, count(*) AS cnt
        |        FROM adj a JOIN l3 p ON a.nbr = p.node GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT node, label AS community FROM l4""".stripMargin,
    "funnel_users" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s1 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s.t1
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s2 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s.tp
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s3 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s.tp
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1)
        |SELECT user_id, CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
        |  epoch_us(t1) AS ts_us FROM s1
        |UNION ALL SELECT user_id, 2, 'view', epoch_us(tp) FROM s2
        |UNION ALL SELECT user_id, 3, 'click', epoch_us(tp) FROM s3
        |UNION ALL SELECT user_id, 4, 'purchase', epoch_us(tp) FROM s4""".stripMargin,
    "funnel_steps" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s1 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s.t1
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s2 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s.tp
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s3 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s.tp
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |counts AS (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
        |    count(*) AS users FROM s1
        |  UNION ALL SELECT 2, 'view', count(*) FROM s2
        |  UNION ALL SELECT 3, 'click', count(*) FROM s3
        |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
        |SELECT c.step, c.step_name, c.users,
        |  (c.users * 1000000) // e.users AS conv_from_entry_ppm,
        |  (c.users * 1000000) // coalesce(p.users, c.users) AS conv_from_prev_ppm
        |FROM counts c
        |CROSS JOIN (SELECT users FROM counts WHERE step = 1) e
        |LEFT JOIN counts p ON p.step = c.step - 1
        |WHERE c.users > 0""".stripMargin,
    "sketch_cms_join" ->
      """WITH cells AS (
        |  SELECT r.r AS row,
        |    ('0x' || substr(md5(r.r || ':' || l_partkey), 1, 15))::BIGINT
        |      % 256 AS bucket
        |  FROM lineitem, range(0, 4) r(r)),
        |cnt AS (SELECT row, bucket, count(*) AS c FROM cells GROUP BY 1, 2),
        |ip AS (SELECT a.row, sum(a.c * b.c) AS ip FROM cnt a
        |  JOIN cnt b ON a.row = b.row AND a.bucket = b.bucket GROUP BY 1),
        |est AS (SELECT CAST(min(ip) AS BIGINT) AS estimate FROM ip),
        |ex AS (SELECT sum(n * n) AS exact FROM (
        |  SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1))
        |SELECT estimate, CAST(exact AS BIGINT) AS exact,
        |  estimate >= exact AS never_under FROM est, ex""".stripMargin,
    "agg_incremental" ->
      """SELECT o_custkey, count(*) AS cnt,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum,
        |  min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS min,
        |  max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS max
        |FROM orders GROUP BY 1""".stripMargin,
    "privacy_k_anon" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
        |  count(*) AS n, count(*) >= 5 AS anonymous
        |FROM customer GROUP BY 1, 2""".stripMargin,
    "privacy_k_anon_suppress" ->
      """WITH q AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nk,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bb
        |  FROM customer),
        |n AS (SELECT nk, bb, count(*) AS n FROM q GROUP BY 1, 2)
        |SELECT q.c_custkey,
        |  CASE WHEN n.n >= 5 THEN q.nk ELSE NULL END AS c_nationkey,
        |  CASE WHEN n.n >= 5 THEN q.bb ELSE NULL END AS bal_band
        |FROM q JOIN n ON q.nk = n.nk AND q.bb = n.bb""".stripMargin,
    "anomaly_mad" ->
      """WITH c AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
        |      FROM c GROUP BY 1),
        |d AS (SELECT c.event_id, c.event_type, c.cents, m.med,
        |        abs(c.cents - m.med) AS ad
        |      FROM c JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
        |       FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.cents,
        |  CAST(2 * d.med AS BIGINT) AS med2,
        |  CAST(2 * md.mad AS BIGINT) AS mad2,
        |  d.ad > 3.0 * md.mad AS is_outlier
        |FROM d JOIN md USING (event_type)""".stripMargin,
    "event_transitions" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |cnt AS (SELECT from_type, to_type, count(*) AS cnt FROM p
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(cnt) AS tot FROM cnt GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.cnt,
        |  (c.cnt * 1000000) // CAST(t.tot AS BIGINT) AS prob_ppm
        |FROM cnt c JOIN tot t ON c.from_type = t.from_type""".stripMargin,
    "metrics_rating_errors" ->
      s"""$interactionsSql,
         |b AS (SELECT query_id, item_id,
         |    CAST(floor(rating * 1000000.0) AS BIGINT) AS r FROM interactions),
         |mu AS (SELECT sum(r) // count(*) AS mu FROM b),
         |bi AS (SELECT item_id,
         |    (sum(r) - count(*) * (SELECT mu FROM mu)) // (10 + count(*)) AS b_i
         |  FROM b GROUP BY 1),
         |bu AS (SELECT query_id,
         |    (sum(r) - count(*) * (SELECT mu FROM mu) - sum(b_i))
         |      // (10 + count(*)) AS b_u
         |  FROM b JOIN bi USING (item_id) GROUP BY 1),
         |s AS (SELECT CAST(floor(
         |      CAST((SELECT mu FROM mu) + coalesce(bu.b_u, 0)
         |           + coalesce(bi.b_i, 0) AS DOUBLE)
         |      / 1000000.0 * 1000000.0) AS BIGINT) - b.r AS e
         |  FROM b LEFT JOIN bu USING (query_id) LEFT JOIN bi USING (item_id))
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(abs(e)) // count(*) AS BIGINT) AS mae_ppm,
         |  CAST(floor(sqrt(CAST(sum(CAST(e AS HUGEINT) * e) // count(*)
         |    AS DOUBLE))) AS BIGINT) AS rmse_ppm
         |FROM s""".stripMargin,
    "metrics_spearman" ->
      s"""$interactionsSql,
         |pa AS (SELECT item_id, CAST(count(*) AS BIGINT) AS sa
         |       FROM interactions WHERE session_id % 2 = 0 GROUP BY 1),
         |pb AS (SELECT item_id, CAST(count(*) AS BIGINT) AS sb
         |       FROM interactions WHERE session_id % 2 = 1 GROUP BY 1),
         |j AS (SELECT pa.item_id, sa, sb FROM pa JOIN pb USING (item_id)),
         |r AS (SELECT item_id,
         |    row_number() OVER (ORDER BY sa DESC, item_id) AS ra,
         |    row_number() OVER (ORDER BY sb DESC, item_id) AS rb FROM j),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(ra - rb AS HUGEINT) * (ra - rb)) AS sd2 FROM r)
         |SELECT n, CAST(CASE WHEN n < 2 THEN NULL
         |  ELSE 1000000 - (6 * sd2 * 1000000)
         |       // (CAST(n AS HUGEINT) * n * n - n)
         |  END AS BIGINT) AS rho_ppm
         |FROM agg""".stripMargin,
    "metrics_calibration" ->
      """WITH s AS (SELECT
        |    least(1000000, greatest(0, CAST(floor(
        |      least(CAST(1.0 AS DOUBLE),
        |            CAST(length(text) AS DOUBLE) / CAST(800.0 AS DOUBLE))
        |      * 1000000.0) AS BIGINT))) AS ppm,
        |    CASE WHEN length(text) > 400 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |b AS (SELECT least(9, (ppm * 10) // 1000000) AS bin, ppm, y FROM s)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ppm) // count(*) AS BIGINT) AS conf_ppm,
        |  CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS acc_ppm,
        |  CAST(abs((sum(y) * 1000000) // count(*)
        |           - sum(ppm) // count(*)) AS BIGINT) AS gap_ppm
        |FROM b GROUP BY 1""".stripMargin,
    "metrics_calibration_ece" ->
      """WITH s AS (SELECT
        |    least(1000000, greatest(0, CAST(floor(
        |      least(CAST(1.0 AS DOUBLE),
        |            CAST(length(text) AS DOUBLE) / CAST(800.0 AS DOUBLE))
        |      * 1000000.0) AS BIGINT))) AS ppm,
        |    CASE WHEN length(text) > 400 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |b AS (SELECT least(9, (ppm * 10) // 1000000) AS bin, ppm, y FROM s),
        |bins AS (SELECT bin, count(*) AS n,
        |    sum(ppm) // count(*) AS conf_ppm,
        |    (sum(y) * 1000000) // count(*) AS acc_ppm
        |  FROM b GROUP BY 1)
        |SELECT CAST(sum(n * abs(acc_ppm - conf_ppm)) // sum(n) AS BIGINT)
        |    AS ece_ppm,
        |  CAST(max(abs(acc_ppm - conf_ppm)) AS BIGINT) AS max_gap_ppm,
        |  CAST(sum(n) AS BIGINT) AS n
        |FROM bins""".stripMargin,
    "metrics_bootstrap_ci" ->
      """WITH pe AS (SELECT user_id AS id,
        |    CAST(round((count(*) / CAST(100.0 AS DOUBLE)) * 1000000) AS BIGINT) AS v6
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |blown AS (SELECT b.b, pe.id, pe.v6,
        |    ('0x' || substr(md5('7:' || CAST(b.b AS VARCHAR) || ':'
        |      || CAST(pe.id AS VARCHAR)), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM pe, range(0, 200) b(b)),
        |wts AS (SELECT b, id, v6,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         WHEN u < 0.999998874797402 THEN 8
        |         ELSE 9 END AS w
        |  FROM blown),
        |means AS (SELECT b, CAST(sum(w * v6) AS BIGINT) // CAST(sum(w) AS BIGINT) AS m6
        |  FROM wts GROUP BY 1 HAVING sum(w) > 0),
        |ranked AS (SELECT m6, row_number() OVER (ORDER BY m6, b) AS r FROM means),
        |n AS (SELECT count(*) AS n FROM means),
        |pt AS (SELECT CAST(sum(v6) AS BIGINT) // count(*) AS mean_ppm FROM pe)
        |SELECT pt.mean_ppm,
        |  (SELECT m6 FROM ranked, n
        |    WHERE r = greatest(1, (n.n * 25 + 999) // 1000)) AS lo_ppm,
        |  (SELECT m6 FROM ranked, n
        |    WHERE r = (n.n * 975 + 999) // 1000) AS hi_ppm,
        |  n.n AS resamples
        |FROM pt, n""".stripMargin,
    "graph_link_prediction" ->
      """WITH e0 AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS ea,
        |    greatest(a.l_partkey, b.l_partkey) AS eb
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 40 = 0),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e0 UNION ALL SELECT eb FROM e0) GROUP BY 1),
        |adj AS (SELECT ea AS p, eb AS n FROM e0
        |        UNION ALL SELECT eb AS p, ea AS n FROM e0),
        |w AS (SELECT l.n AS x, r.n AS y FROM adj l
        |      JOIN adj r ON l.p = r.p AND l.n < r.n),
        |cn AS (SELECT x, y, count(*) AS cn FROM w GROUP BY 1, 2
        |       HAVING count(*) >= 2),
        |nc AS (SELECT cn.x, cn.y, cn.cn FROM cn WHERE NOT EXISTS (
        |        SELECT 1 FROM e0 WHERE e0.ea = cn.x AND e0.eb = cn.y))
        |SELECT nc.x AS a, nc.y AS b, nc.cn,
        |  (nc.cn * 1000000) // (da.deg + db.deg - nc.cn) AS jaccard_ppm
        |FROM nc JOIN deg da ON nc.x = da.node
        |  JOIN deg db ON nc.y = db.node""".stripMargin,
    "graph_link_prediction_ra" ->
      """WITH e0 AS (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS ea,
        |    greatest(a.l_partkey, b.l_partkey) AS eb
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 40 = 0),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e0 UNION ALL SELECT eb FROM e0) GROUP BY 1),
        |adj AS (SELECT ea AS p, eb AS n FROM e0
        |        UNION ALL SELECT eb AS p, ea AS n FROM e0),
        |w AS (SELECT l.p, d.deg AS pdeg, l.n AS x, r.n AS y FROM adj l
        |      JOIN adj r ON l.p = r.p AND l.n < r.n
        |      JOIN deg d ON l.p = d.node),
        |cn AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cn,
        |         CAST(sum(1000000 // pdeg) AS BIGINT) AS ra_ppm
        |       FROM w GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT cn.x AS a, cn.y AS b, cn.cn, cn.ra_ppm
        |FROM cn WHERE NOT EXISTS (
        |  SELECT 1 FROM e0 WHERE e0.ea = cn.x AND e0.eb = cn.y)"""
        .stripMargin,
    "streaming_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s1 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s.t1
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s2 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s.tp
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s3 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s.tp
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1)
        |SELECT user_id, CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
        |  epoch_us(t1) AS ts_us FROM s1
        |UNION ALL SELECT user_id, 2, 'view', epoch_us(tp) FROM s2
        |UNION ALL SELECT user_id, 3, 'click', epoch_us(tp) FROM s3
        |UNION ALL SELECT user_id, 4, 'purchase', epoch_us(tp) FROM s4""".stripMargin,
    "funnel_retention" ->
      """WITH a AS (SELECT user_id, min(epoch_us(ts)) AS a_us FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |an AS (SELECT user_id, a_us, a_us // 604800000000 AS cohort FROM a),
        |cs AS (SELECT cohort, count(*) AS cohort_size FROM an GROUP BY 1),
        |act AS (SELECT DISTINCT an.cohort,
        |    (epoch_us(e.ts) - an.a_us) // 604800000000 AS period_offset,
        |    e.user_id
        |  FROM events e JOIN an ON e.user_id = an.user_id
        |  WHERE epoch_us(e.ts) >= an.a_us),
        |au AS (SELECT cohort, period_offset, count(*) AS active_users
        |  FROM act GROUP BY 1, 2)
        |SELECT au.cohort, au.period_offset, au.active_users, cs.cohort_size,
        |  (au.active_users * 1000000) // cs.cohort_size AS retention_ppm
        |FROM au JOIN cs ON au.cohort = cs.cohort""".stripMargin,
    "funnel_session_paths" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |    epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, event_type, event_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) >= 1800000000 THEN 1 ELSE 0 END AS nw
        |  FROM e),
        |sess AS (SELECT user_id, event_type, event_id, us,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |paths AS (SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
        |  FROM sess GROUP BY 1, 2),
        |cnt AS (SELECT path, count(*) AS sessions FROM paths GROUP BY 1),
        |tot AS (SELECT CAST(sum(sessions) AS BIGINT) AS tot FROM cnt)
        |SELECT c.path, c.sessions,
        |  (c.sessions * 1000000) // t.tot AS share_ppm
        |FROM cnt c, tot t WHERE c.sessions >= 2""".stripMargin,
    "graph_pagerank_weighted" ->
      s"""$interactionsSql,
        |e AS (SELECT query_id AS src, item_id + 1000000 AS dst,
        |        CAST(sum(CAST(rating AS BIGINT)) AS BIGINT) AS w
        |      FROM interactions GROUP BY 1, 2),
        |ow AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS ow
        |       FROM e GROUP BY 1),
        |nodes AS (
        |  SELECT n.node, coalesce(o.ow, 0) AS ow
        |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
        |  LEFT JOIN ow o ON n.node = o.node),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, ow, CAST(1000000 AS BIGINT) AS rk FROM nodes),
        |d1 AS (SELECT coalesce(sum(rk), 0) AS dang FROM r0 WHERE ow = 0),
        |i1 AS (SELECT e.dst AS node, sum((r.rk * e.w) // r.ow) AS inc
        |       FROM r0 r JOIN e ON r.node = e.src WHERE r.ow > 0 GROUP BY 1),
        |r1 AS (SELECT n.node, n.ow,
        |         150000 + (85 * (coalesce(i.inc, 0) + (d.dang // nn.n))) // 100 AS rk
        |       FROM nodes n LEFT JOIN i1 i ON n.node = i.node, d1 d, nn),
        |d2 AS (SELECT coalesce(sum(rk), 0) AS dang FROM r1 WHERE ow = 0),
        |i2 AS (SELECT e.dst AS node, sum((r.rk * e.w) // r.ow) AS inc
        |       FROM r1 r JOIN e ON r.node = e.src WHERE r.ow > 0 GROUP BY 1),
        |r2 AS (SELECT n.node, n.ow,
        |         150000 + (85 * (coalesce(i.inc, 0) + (d.dang // nn.n))) // 100 AS rk
        |       FROM nodes n LEFT JOIN i2 i ON n.node = i.node, d2 d, nn),
        |d3 AS (SELECT coalesce(sum(rk), 0) AS dang FROM r2 WHERE ow = 0),
        |i3 AS (SELECT e.dst AS node, sum((r.rk * e.w) // r.ow) AS inc
        |       FROM r2 r JOIN e ON r.node = e.src WHERE r.ow > 0 GROUP BY 1),
        |r3 AS (SELECT n.node, n.ow,
        |         150000 + (85 * (coalesce(i.inc, 0) + (d.dang // nn.n))) // 100 AS rk
        |       FROM nodes n LEFT JOIN i3 i ON n.node = i.node, d3 d, nn)
        |SELECT node, CAST(rk AS BIGINT) AS pr_units FROM r3""".stripMargin,
    // the bloom prefilter is semantics-preserving: the oracle is the
    // PLAIN semi-join
    "join_bloom_semi" ->
      """SELECT l.l_orderkey, l.l_partkey, l.l_quantity
        |FROM lineitem l
        |WHERE l.l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)""".stripMargin,
    "window_rate_limit" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM (
        |  SELECT event_id, user_id, ts, row_number() OVER (
        |    PARTITION BY user_id, epoch_us(ts) // 3600000000
        |    ORDER BY epoch_us(ts), event_id) AS rk
        |  FROM events) WHERE rk <= 3""".stripMargin,
    "agg_winsorize" ->
      """WITH c AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (SELECT event_type, quantile_cont(cents, 0.05) AS lo,
        |        quantile_cont(cents, 0.95) AS hi
        |      FROM c GROUP BY 1)
        |SELECT c.event_id, c.event_type, c.cents,
        |  round(b.lo, 6) AS lo6, round(b.hi, 6) AS hi6,
        |  round(least(greatest(CAST(c.cents AS DOUBLE), b.lo), b.hi), 6) AS w6
        |FROM c JOIN b USING (event_type)""".stripMargin,
    "agg_linear_fit" ->
      s"""$interactionsSql,
        |p AS (SELECT item_id,
        |    CAST(date_diff('day', TIMESTAMP '1995-01-01', "timestamp")
        |      AS BIGINT) AS x,
        |    CAST(rating AS BIGINT) AS y
        |  FROM interactions),
        |g AS (SELECT item_id, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM p GROUP BY 1)
        |SELECT item_id, n, n * sxy - sx * sy AS num,
        |  n * sxx - sx * sx AS den,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |       ELSE (1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
        |  END AS slope_ppm
        |FROM g""".stripMargin,
    "anomaly_cusum" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(round(value * 100) AS BIGINT) - 5000 AS d FROM events),
        |cum AS (SELECT user_id, us, event_id, sum(d) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM c),
        |cs AS (SELECT user_id, us, cum - least(0, min(cum) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING)) AS cusum
        |  FROM cum)
        |SELECT user_id, CAST(max(cusum) AS BIGINT) AS max_cusum,
        |  max(cusum) >= 50000 AS alarm,
        |  min(CASE WHEN cusum >= 50000 THEN us END) AS alarm_ts_us
        |FROM cs GROUP BY 1""".stripMargin,
    // streaming rate limit, batch-mode: same semantics as the window rank
    "streaming_rate_limit" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM (
        |  SELECT event_id, user_id, ts, row_number() OVER (
        |    PARTITION BY user_id, epoch_us(ts) // 3600000000
        |    ORDER BY epoch_us(ts), event_id) AS rk
        |  FROM events) WHERE rk <= 3""".stripMargin,
    // streaming CUSUM, batch-mode: one row per drifted key at its first
    // breach, with the cusum value AT the breach
    "streaming_cusum" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(round(value * 100) AS BIGINT) - 5000 AS d FROM events),
        |cum AS (SELECT user_id, us, event_id, sum(d) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM c),
        |cs AS (SELECT user_id, us, event_id, cum - least(0, min(cum) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING)) AS cusum
        |  FROM cum)
        |SELECT user_id, us AS alarm_ts_us, CAST(cusum AS BIGINT) AS cusum FROM (
        |  SELECT user_id, us, cusum, row_number() OVER (
        |    PARTITION BY user_id ORDER BY us, event_id) AS rn
        |  FROM cs WHERE cusum >= 50000) WHERE rn = 1""".stripMargin,
    "quality_report" ->
      """SELECT 'complete' AS constraint, 'o_custkey' AS "column",
        |  (count(o_custkey) * 1000000) // count(*) AS observed,
        |  CAST(1000000 AS BIGINT) AS expected,
        |  (count(o_custkey) * 1000000) // count(*) >= 1000000 AS passed
        |FROM orders
        |UNION ALL SELECT 'in_range', 'o_totalprice',
        |  (count(*) FILTER (o_totalprice >= 0.0 AND o_totalprice <= 100000.0)
        |    * 1000000) // count(*), 1000000,
        |  (count(*) FILTER (o_totalprice >= 0.0 AND o_totalprice <= 100000.0)
        |    * 1000000) // count(*) >= 1000000
        |FROM orders
        |UNION ALL SELECT 'unique', 'o_orderkey',
        |  count(DISTINCT o_orderkey), count(*),
        |  count(DISTINCT o_orderkey) = count(*) FROM orders
        |UNION ALL SELECT 'refers_to', 'o_custkey',
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey)),
        |  0,
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey)) = 0
        |UNION ALL SELECT 'row_count', '*', count(*), 1,
        |  count(*) >= 1 AND count(*) <= 10000000000 FROM orders
        |UNION ALL SELECT 'complete', 'c_name',
        |  (count(c_name) * 1000000) // count(*), 1000000,
        |  (count(c_name) * 1000000) // count(*) >= 1000000 FROM customer
        |UNION ALL SELECT 'pattern', 'c_name',
        |  (count(*) FILTER (regexp_matches(c_name, '^Customer#[0-9]+$'))
        |    * 1000000) // count(*), 1000000,
        |  (count(*) FILTER (regexp_matches(c_name, '^Customer#[0-9]+$'))
        |    * 1000000) // count(*) >= 1000000 FROM customer
        |UNION ALL SELECT 'in_set', 'c_mktsegment',
        |  (count(*) FILTER (c_mktsegment IN ('AUTOMOBILE', 'BUILDING',
        |    'FURNITURE', 'HOUSEHOLD', 'MACHINERY')) * 1000000) // count(*),
        |  1000000,
        |  (count(*) FILTER (c_mktsegment IN ('AUTOMOBILE', 'BUILDING',
        |    'FURNITURE', 'HOUSEHOLD', 'MACHINERY')) * 1000000) // count(*)
        |    >= 1000000 FROM customer
        |UNION ALL SELECT 'unique', 'c_custkey',
        |  count(DISTINCT c_custkey), count(*),
        |  count(DISTINCT c_custkey) = count(*) FROM customer""".stripMargin,
    "funnel_delays" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s1 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s.t1
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s2 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s.tp
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(s.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s3 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s.tp
        |    AND e.ts <= s.t1 + INTERVAL 7 DAY GROUP BY 1),
        |d AS (
        |  SELECT CAST(2 AS BIGINT) AS step, 'view' AS step_name,
        |    epoch_us(s2.tp) - epoch_us(s2.t1) AS d_us FROM s2
        |  UNION ALL SELECT 3, 'click', epoch_us(s3.tp) - epoch_us(s2.tp)
        |  FROM s3 JOIN s2 ON s3.user_id = s2.user_id
        |  UNION ALL SELECT 4, 'purchase', epoch_us(s4.tp) - epoch_us(s3.tp)
        |  FROM s4 JOIN s3 ON s4.user_id = s3.user_id)
        |SELECT step, step_name, count(*) AS n,
        |  min(d_us) AS min_us, max(d_us) AS max_us,
        |  CAST(sum(d_us) AS BIGINT) // count(*) AS mean_us,
        |  CAST(2 * quantile_cont(d_us, 0.5) AS BIGINT) AS med2_us
        |FROM d GROUP BY 1, 2""".stripMargin,
    "graph_kcore" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS ea,
        |    greatest(a.l_partkey, b.l_partkey) AS eb
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 40 = 0),
        |d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e0 UNION ALL SELECT eb FROM e0)
        |  GROUP BY 1),
        |k1 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= 4),
        |e1 AS MATERIALIZED (SELECT e.ea, e.eb FROM e0 e
        |  JOIN k1 x ON e.ea = x.node JOIN k1 y ON e.eb = y.node),
        |d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e1 UNION ALL SELECT eb FROM e1)
        |  GROUP BY 1),
        |k2 AS MATERIALIZED (SELECT node FROM d2 WHERE deg >= 4),
        |e2 AS MATERIALIZED (SELECT e.ea, e.eb FROM e1 e
        |  JOIN k2 x ON e.ea = x.node JOIN k2 y ON e.eb = y.node),
        |d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e2 UNION ALL SELECT eb FROM e2)
        |  GROUP BY 1),
        |k3 AS MATERIALIZED (SELECT node FROM d3 WHERE deg >= 4),
        |e3 AS MATERIALIZED (SELECT e.ea, e.eb FROM e2 e
        |  JOIN k3 x ON e.ea = x.node JOIN k3 y ON e.eb = y.node),
        |d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e3 UNION ALL SELECT eb FROM e3)
        |  GROUP BY 1),
        |k4 AS MATERIALIZED (SELECT node FROM d4 WHERE deg >= 4),
        |e4 AS MATERIALIZED (SELECT e.ea, e.eb FROM e3 e
        |  JOIN k4 x ON e.ea = x.node JOIN k4 y ON e.eb = y.node),
        |d5 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e4 UNION ALL SELECT eb FROM e4)
        |  GROUP BY 1),
        |k5 AS MATERIALIZED (SELECT node FROM d5 WHERE deg >= 4),
        |e5 AS MATERIALIZED (SELECT e.ea, e.eb FROM e4 e
        |  JOIN k5 x ON e.ea = x.node JOIN k5 y ON e.eb = y.node),
        |d6 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e5 UNION ALL SELECT eb FROM e5)
        |  GROUP BY 1),
        |k6 AS MATERIALIZED (SELECT node FROM d6 WHERE deg >= 4),
        |e6 AS MATERIALIZED (SELECT e.ea, e.eb FROM e5 e
        |  JOIN k6 x ON e.ea = x.node JOIN k6 y ON e.eb = y.node),
        |d7 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e6 UNION ALL SELECT eb FROM e6)
        |  GROUP BY 1),
        |k7 AS MATERIALIZED (SELECT node FROM d7 WHERE deg >= 4),
        |e7 AS MATERIALIZED (SELECT e.ea, e.eb FROM e6 e
        |  JOIN k7 x ON e.ea = x.node JOIN k7 y ON e.eb = y.node),
        |d8 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e7 UNION ALL SELECT eb FROM e7)
        |  GROUP BY 1),
        |k8 AS MATERIALIZED (SELECT node FROM d8 WHERE deg >= 4),
        |e8 AS MATERIALIZED (SELECT e.ea, e.eb FROM e7 e
        |  JOIN k8 x ON e.ea = x.node JOIN k8 y ON e.eb = y.node),
        |d9 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e8 UNION ALL SELECT eb FROM e8)
        |  GROUP BY 1),
        |k9 AS MATERIALIZED (SELECT node FROM d9 WHERE deg >= 4),
        |e9 AS MATERIALIZED (SELECT e.ea, e.eb FROM e8 e
        |  JOIN k9 x ON e.ea = x.node JOIN k9 y ON e.eb = y.node),
        |d10 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e9 UNION ALL SELECT eb FROM e9)
        |  GROUP BY 1),
        |k10 AS MATERIALIZED (SELECT node FROM d10 WHERE deg >= 4),
        |e10 AS MATERIALIZED (SELECT e.ea, e.eb FROM e9 e
        |  JOIN k10 x ON e.ea = x.node JOIN k10 y ON e.eb = y.node),
        |dfin AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e10 UNION ALL SELECT eb FROM e10)
        |  GROUP BY 1)
        |SELECT node, deg AS degree FROM dfin WHERE deg >= 4""".stripMargin,
    "anomaly_seasonal" ->
      """WITH c AS (SELECT event_id, event_type,
        |    CAST(hour(ts) AS BIGINT) AS hod,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (SELECT event_type, hod,
        |    CAST(sum(cents) AS BIGINT) // count(*) AS baseline
        |  FROM c GROUP BY 1, 2)
        |SELECT c.event_id, c.event_type, c.hod, c.cents, b.baseline,
        |  c.cents - b.baseline AS residual
        |FROM c JOIN b USING (event_type, hod)""".stripMargin,
    "graph_coreness" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS ea,
        |    greatest(a.l_partkey, b.l_partkey) AS eb
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 40 = 0),
        |K2d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e0 UNION ALL SELECT eb FROM e0)
        |  GROUP BY 1),
        |K2k1 AS MATERIALIZED (SELECT node FROM K2d1 WHERE deg >= 2),
        |K2e1 AS MATERIALIZED (SELECT e.ea, e.eb FROM e0 e
        |  JOIN K2k1 x ON e.ea = x.node JOIN K2k1 y ON e.eb = y.node),
        |K2d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K2e1 UNION ALL SELECT eb FROM K2e1)
        |  GROUP BY 1),
        |K2k2 AS MATERIALIZED (SELECT node FROM K2d2 WHERE deg >= 2),
        |K2e2 AS MATERIALIZED (SELECT e.ea, e.eb FROM K2e1 e
        |  JOIN K2k2 x ON e.ea = x.node JOIN K2k2 y ON e.eb = y.node),
        |K2d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K2e2 UNION ALL SELECT eb FROM K2e2)
        |  GROUP BY 1),
        |K2k3 AS MATERIALIZED (SELECT node FROM K2d3 WHERE deg >= 2),
        |K2e3 AS MATERIALIZED (SELECT e.ea, e.eb FROM K2e2 e
        |  JOIN K2k3 x ON e.ea = x.node JOIN K2k3 y ON e.eb = y.node),
        |K2d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K2e3 UNION ALL SELECT eb FROM K2e3)
        |  GROUP BY 1),
        |K2k4 AS MATERIALIZED (SELECT node FROM K2d4 WHERE deg >= 2),
        |K2e4 AS MATERIALIZED (SELECT e.ea, e.eb FROM K2e3 e
        |  JOIN K2k4 x ON e.ea = x.node JOIN K2k4 y ON e.eb = y.node),
        |K2d5 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K2e4 UNION ALL SELECT eb FROM K2e4)
        |  GROUP BY 1),
        |K2k5 AS MATERIALIZED (SELECT node FROM K2d5 WHERE deg >= 2),
        |K2e5 AS MATERIALIZED (SELECT e.ea, e.eb FROM K2e4 e
        |  JOIN K2k5 x ON e.ea = x.node JOIN K2k5 y ON e.eb = y.node),
        |K2d6 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K2e5 UNION ALL SELECT eb FROM K2e5)
        |  GROUP BY 1),
        |K2k6 AS MATERIALIZED (SELECT node FROM K2d6 WHERE deg >= 2),
        |K2e6 AS MATERIALIZED (SELECT e.ea, e.eb FROM K2e5 e
        |  JOIN K2k6 x ON e.ea = x.node JOIN K2k6 y ON e.eb = y.node),
        |K2d7 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K2e6 UNION ALL SELECT eb FROM K2e6)
        |  GROUP BY 1),
        |K2k7 AS MATERIALIZED (SELECT node FROM K2d7 WHERE deg >= 2),
        |K2e7 AS MATERIALIZED (SELECT e.ea, e.eb FROM K2e6 e
        |  JOIN K2k7 x ON e.ea = x.node JOIN K2k7 y ON e.eb = y.node),
        |K2d8 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K2e7 UNION ALL SELECT eb FROM K2e7)
        |  GROUP BY 1),
        |K2k8 AS MATERIALIZED (SELECT node FROM K2d8 WHERE deg >= 2),
        |K2e8 AS MATERIALIZED (SELECT e.ea, e.eb FROM K2e7 e
        |  JOIN K2k8 x ON e.ea = x.node JOIN K2k8 y ON e.eb = y.node),
        |K2d9 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K2e8 UNION ALL SELECT eb FROM K2e8)
        |  GROUP BY 1),
        |K2k9 AS MATERIALIZED (SELECT node FROM K2d9 WHERE deg >= 2),
        |K2e9 AS MATERIALIZED (SELECT e.ea, e.eb FROM K2e8 e
        |  JOIN K2k9 x ON e.ea = x.node JOIN K2k9 y ON e.eb = y.node),
        |K2d10 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K2e9 UNION ALL SELECT eb FROM K2e9)
        |  GROUP BY 1),
        |K2k10 AS MATERIALIZED (SELECT node FROM K2d10 WHERE deg >= 2),
        |K2e10 AS MATERIALIZED (SELECT e.ea, e.eb FROM K2e9 e
        |  JOIN K2k10 x ON e.ea = x.node JOIN K2k10 y ON e.eb = y.node),
        |core2 AS MATERIALIZED (SELECT node FROM (
        |  SELECT ea AS node FROM K2e10 UNION ALL SELECT eb FROM K2e10)
        |  GROUP BY 1 HAVING count(*) >= 2),
        |K3d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e0 UNION ALL SELECT eb FROM e0)
        |  GROUP BY 1),
        |K3k1 AS MATERIALIZED (SELECT node FROM K3d1 WHERE deg >= 3),
        |K3e1 AS MATERIALIZED (SELECT e.ea, e.eb FROM e0 e
        |  JOIN K3k1 x ON e.ea = x.node JOIN K3k1 y ON e.eb = y.node),
        |K3d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K3e1 UNION ALL SELECT eb FROM K3e1)
        |  GROUP BY 1),
        |K3k2 AS MATERIALIZED (SELECT node FROM K3d2 WHERE deg >= 3),
        |K3e2 AS MATERIALIZED (SELECT e.ea, e.eb FROM K3e1 e
        |  JOIN K3k2 x ON e.ea = x.node JOIN K3k2 y ON e.eb = y.node),
        |K3d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K3e2 UNION ALL SELECT eb FROM K3e2)
        |  GROUP BY 1),
        |K3k3 AS MATERIALIZED (SELECT node FROM K3d3 WHERE deg >= 3),
        |K3e3 AS MATERIALIZED (SELECT e.ea, e.eb FROM K3e2 e
        |  JOIN K3k3 x ON e.ea = x.node JOIN K3k3 y ON e.eb = y.node),
        |K3d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K3e3 UNION ALL SELECT eb FROM K3e3)
        |  GROUP BY 1),
        |K3k4 AS MATERIALIZED (SELECT node FROM K3d4 WHERE deg >= 3),
        |K3e4 AS MATERIALIZED (SELECT e.ea, e.eb FROM K3e3 e
        |  JOIN K3k4 x ON e.ea = x.node JOIN K3k4 y ON e.eb = y.node),
        |K3d5 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K3e4 UNION ALL SELECT eb FROM K3e4)
        |  GROUP BY 1),
        |K3k5 AS MATERIALIZED (SELECT node FROM K3d5 WHERE deg >= 3),
        |K3e5 AS MATERIALIZED (SELECT e.ea, e.eb FROM K3e4 e
        |  JOIN K3k5 x ON e.ea = x.node JOIN K3k5 y ON e.eb = y.node),
        |K3d6 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K3e5 UNION ALL SELECT eb FROM K3e5)
        |  GROUP BY 1),
        |K3k6 AS MATERIALIZED (SELECT node FROM K3d6 WHERE deg >= 3),
        |K3e6 AS MATERIALIZED (SELECT e.ea, e.eb FROM K3e5 e
        |  JOIN K3k6 x ON e.ea = x.node JOIN K3k6 y ON e.eb = y.node),
        |K3d7 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K3e6 UNION ALL SELECT eb FROM K3e6)
        |  GROUP BY 1),
        |K3k7 AS MATERIALIZED (SELECT node FROM K3d7 WHERE deg >= 3),
        |K3e7 AS MATERIALIZED (SELECT e.ea, e.eb FROM K3e6 e
        |  JOIN K3k7 x ON e.ea = x.node JOIN K3k7 y ON e.eb = y.node),
        |K3d8 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K3e7 UNION ALL SELECT eb FROM K3e7)
        |  GROUP BY 1),
        |K3k8 AS MATERIALIZED (SELECT node FROM K3d8 WHERE deg >= 3),
        |K3e8 AS MATERIALIZED (SELECT e.ea, e.eb FROM K3e7 e
        |  JOIN K3k8 x ON e.ea = x.node JOIN K3k8 y ON e.eb = y.node),
        |K3d9 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K3e8 UNION ALL SELECT eb FROM K3e8)
        |  GROUP BY 1),
        |K3k9 AS MATERIALIZED (SELECT node FROM K3d9 WHERE deg >= 3),
        |K3e9 AS MATERIALIZED (SELECT e.ea, e.eb FROM K3e8 e
        |  JOIN K3k9 x ON e.ea = x.node JOIN K3k9 y ON e.eb = y.node),
        |K3d10 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K3e9 UNION ALL SELECT eb FROM K3e9)
        |  GROUP BY 1),
        |K3k10 AS MATERIALIZED (SELECT node FROM K3d10 WHERE deg >= 3),
        |K3e10 AS MATERIALIZED (SELECT e.ea, e.eb FROM K3e9 e
        |  JOIN K3k10 x ON e.ea = x.node JOIN K3k10 y ON e.eb = y.node),
        |core3 AS MATERIALIZED (SELECT node FROM (
        |  SELECT ea AS node FROM K3e10 UNION ALL SELECT eb FROM K3e10)
        |  GROUP BY 1 HAVING count(*) >= 3),
        |K4d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e0 UNION ALL SELECT eb FROM e0)
        |  GROUP BY 1),
        |K4k1 AS MATERIALIZED (SELECT node FROM K4d1 WHERE deg >= 4),
        |K4e1 AS MATERIALIZED (SELECT e.ea, e.eb FROM e0 e
        |  JOIN K4k1 x ON e.ea = x.node JOIN K4k1 y ON e.eb = y.node),
        |K4d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K4e1 UNION ALL SELECT eb FROM K4e1)
        |  GROUP BY 1),
        |K4k2 AS MATERIALIZED (SELECT node FROM K4d2 WHERE deg >= 4),
        |K4e2 AS MATERIALIZED (SELECT e.ea, e.eb FROM K4e1 e
        |  JOIN K4k2 x ON e.ea = x.node JOIN K4k2 y ON e.eb = y.node),
        |K4d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K4e2 UNION ALL SELECT eb FROM K4e2)
        |  GROUP BY 1),
        |K4k3 AS MATERIALIZED (SELECT node FROM K4d3 WHERE deg >= 4),
        |K4e3 AS MATERIALIZED (SELECT e.ea, e.eb FROM K4e2 e
        |  JOIN K4k3 x ON e.ea = x.node JOIN K4k3 y ON e.eb = y.node),
        |K4d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K4e3 UNION ALL SELECT eb FROM K4e3)
        |  GROUP BY 1),
        |K4k4 AS MATERIALIZED (SELECT node FROM K4d4 WHERE deg >= 4),
        |K4e4 AS MATERIALIZED (SELECT e.ea, e.eb FROM K4e3 e
        |  JOIN K4k4 x ON e.ea = x.node JOIN K4k4 y ON e.eb = y.node),
        |K4d5 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K4e4 UNION ALL SELECT eb FROM K4e4)
        |  GROUP BY 1),
        |K4k5 AS MATERIALIZED (SELECT node FROM K4d5 WHERE deg >= 4),
        |K4e5 AS MATERIALIZED (SELECT e.ea, e.eb FROM K4e4 e
        |  JOIN K4k5 x ON e.ea = x.node JOIN K4k5 y ON e.eb = y.node),
        |K4d6 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K4e5 UNION ALL SELECT eb FROM K4e5)
        |  GROUP BY 1),
        |K4k6 AS MATERIALIZED (SELECT node FROM K4d6 WHERE deg >= 4),
        |K4e6 AS MATERIALIZED (SELECT e.ea, e.eb FROM K4e5 e
        |  JOIN K4k6 x ON e.ea = x.node JOIN K4k6 y ON e.eb = y.node),
        |K4d7 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K4e6 UNION ALL SELECT eb FROM K4e6)
        |  GROUP BY 1),
        |K4k7 AS MATERIALIZED (SELECT node FROM K4d7 WHERE deg >= 4),
        |K4e7 AS MATERIALIZED (SELECT e.ea, e.eb FROM K4e6 e
        |  JOIN K4k7 x ON e.ea = x.node JOIN K4k7 y ON e.eb = y.node),
        |K4d8 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K4e7 UNION ALL SELECT eb FROM K4e7)
        |  GROUP BY 1),
        |K4k8 AS MATERIALIZED (SELECT node FROM K4d8 WHERE deg >= 4),
        |K4e8 AS MATERIALIZED (SELECT e.ea, e.eb FROM K4e7 e
        |  JOIN K4k8 x ON e.ea = x.node JOIN K4k8 y ON e.eb = y.node),
        |K4d9 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K4e8 UNION ALL SELECT eb FROM K4e8)
        |  GROUP BY 1),
        |K4k9 AS MATERIALIZED (SELECT node FROM K4d9 WHERE deg >= 4),
        |K4e9 AS MATERIALIZED (SELECT e.ea, e.eb FROM K4e8 e
        |  JOIN K4k9 x ON e.ea = x.node JOIN K4k9 y ON e.eb = y.node),
        |K4d10 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K4e9 UNION ALL SELECT eb FROM K4e9)
        |  GROUP BY 1),
        |K4k10 AS MATERIALIZED (SELECT node FROM K4d10 WHERE deg >= 4),
        |K4e10 AS MATERIALIZED (SELECT e.ea, e.eb FROM K4e9 e
        |  JOIN K4k10 x ON e.ea = x.node JOIN K4k10 y ON e.eb = y.node),
        |core4 AS MATERIALIZED (SELECT node FROM (
        |  SELECT ea AS node FROM K4e10 UNION ALL SELECT eb FROM K4e10)
        |  GROUP BY 1 HAVING count(*) >= 4),
        |K5d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e0 UNION ALL SELECT eb FROM e0)
        |  GROUP BY 1),
        |K5k1 AS MATERIALIZED (SELECT node FROM K5d1 WHERE deg >= 5),
        |K5e1 AS MATERIALIZED (SELECT e.ea, e.eb FROM e0 e
        |  JOIN K5k1 x ON e.ea = x.node JOIN K5k1 y ON e.eb = y.node),
        |K5d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K5e1 UNION ALL SELECT eb FROM K5e1)
        |  GROUP BY 1),
        |K5k2 AS MATERIALIZED (SELECT node FROM K5d2 WHERE deg >= 5),
        |K5e2 AS MATERIALIZED (SELECT e.ea, e.eb FROM K5e1 e
        |  JOIN K5k2 x ON e.ea = x.node JOIN K5k2 y ON e.eb = y.node),
        |K5d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K5e2 UNION ALL SELECT eb FROM K5e2)
        |  GROUP BY 1),
        |K5k3 AS MATERIALIZED (SELECT node FROM K5d3 WHERE deg >= 5),
        |K5e3 AS MATERIALIZED (SELECT e.ea, e.eb FROM K5e2 e
        |  JOIN K5k3 x ON e.ea = x.node JOIN K5k3 y ON e.eb = y.node),
        |K5d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K5e3 UNION ALL SELECT eb FROM K5e3)
        |  GROUP BY 1),
        |K5k4 AS MATERIALIZED (SELECT node FROM K5d4 WHERE deg >= 5),
        |K5e4 AS MATERIALIZED (SELECT e.ea, e.eb FROM K5e3 e
        |  JOIN K5k4 x ON e.ea = x.node JOIN K5k4 y ON e.eb = y.node),
        |K5d5 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K5e4 UNION ALL SELECT eb FROM K5e4)
        |  GROUP BY 1),
        |K5k5 AS MATERIALIZED (SELECT node FROM K5d5 WHERE deg >= 5),
        |K5e5 AS MATERIALIZED (SELECT e.ea, e.eb FROM K5e4 e
        |  JOIN K5k5 x ON e.ea = x.node JOIN K5k5 y ON e.eb = y.node),
        |K5d6 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K5e5 UNION ALL SELECT eb FROM K5e5)
        |  GROUP BY 1),
        |K5k6 AS MATERIALIZED (SELECT node FROM K5d6 WHERE deg >= 5),
        |K5e6 AS MATERIALIZED (SELECT e.ea, e.eb FROM K5e5 e
        |  JOIN K5k6 x ON e.ea = x.node JOIN K5k6 y ON e.eb = y.node),
        |K5d7 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K5e6 UNION ALL SELECT eb FROM K5e6)
        |  GROUP BY 1),
        |K5k7 AS MATERIALIZED (SELECT node FROM K5d7 WHERE deg >= 5),
        |K5e7 AS MATERIALIZED (SELECT e.ea, e.eb FROM K5e6 e
        |  JOIN K5k7 x ON e.ea = x.node JOIN K5k7 y ON e.eb = y.node),
        |K5d8 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K5e7 UNION ALL SELECT eb FROM K5e7)
        |  GROUP BY 1),
        |K5k8 AS MATERIALIZED (SELECT node FROM K5d8 WHERE deg >= 5),
        |K5e8 AS MATERIALIZED (SELECT e.ea, e.eb FROM K5e7 e
        |  JOIN K5k8 x ON e.ea = x.node JOIN K5k8 y ON e.eb = y.node),
        |K5d9 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K5e8 UNION ALL SELECT eb FROM K5e8)
        |  GROUP BY 1),
        |K5k9 AS MATERIALIZED (SELECT node FROM K5d9 WHERE deg >= 5),
        |K5e9 AS MATERIALIZED (SELECT e.ea, e.eb FROM K5e8 e
        |  JOIN K5k9 x ON e.ea = x.node JOIN K5k9 y ON e.eb = y.node),
        |K5d10 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K5e9 UNION ALL SELECT eb FROM K5e9)
        |  GROUP BY 1),
        |K5k10 AS MATERIALIZED (SELECT node FROM K5d10 WHERE deg >= 5),
        |K5e10 AS MATERIALIZED (SELECT e.ea, e.eb FROM K5e9 e
        |  JOIN K5k10 x ON e.ea = x.node JOIN K5k10 y ON e.eb = y.node),
        |core5 AS MATERIALIZED (SELECT node FROM (
        |  SELECT ea AS node FROM K5e10 UNION ALL SELECT eb FROM K5e10)
        |  GROUP BY 1 HAVING count(*) >= 5),
        |K6d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM e0 UNION ALL SELECT eb FROM e0)
        |  GROUP BY 1),
        |K6k1 AS MATERIALIZED (SELECT node FROM K6d1 WHERE deg >= 6),
        |K6e1 AS MATERIALIZED (SELECT e.ea, e.eb FROM e0 e
        |  JOIN K6k1 x ON e.ea = x.node JOIN K6k1 y ON e.eb = y.node),
        |K6d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K6e1 UNION ALL SELECT eb FROM K6e1)
        |  GROUP BY 1),
        |K6k2 AS MATERIALIZED (SELECT node FROM K6d2 WHERE deg >= 6),
        |K6e2 AS MATERIALIZED (SELECT e.ea, e.eb FROM K6e1 e
        |  JOIN K6k2 x ON e.ea = x.node JOIN K6k2 y ON e.eb = y.node),
        |K6d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K6e2 UNION ALL SELECT eb FROM K6e2)
        |  GROUP BY 1),
        |K6k3 AS MATERIALIZED (SELECT node FROM K6d3 WHERE deg >= 6),
        |K6e3 AS MATERIALIZED (SELECT e.ea, e.eb FROM K6e2 e
        |  JOIN K6k3 x ON e.ea = x.node JOIN K6k3 y ON e.eb = y.node),
        |K6d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K6e3 UNION ALL SELECT eb FROM K6e3)
        |  GROUP BY 1),
        |K6k4 AS MATERIALIZED (SELECT node FROM K6d4 WHERE deg >= 6),
        |K6e4 AS MATERIALIZED (SELECT e.ea, e.eb FROM K6e3 e
        |  JOIN K6k4 x ON e.ea = x.node JOIN K6k4 y ON e.eb = y.node),
        |K6d5 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K6e4 UNION ALL SELECT eb FROM K6e4)
        |  GROUP BY 1),
        |K6k5 AS MATERIALIZED (SELECT node FROM K6d5 WHERE deg >= 6),
        |K6e5 AS MATERIALIZED (SELECT e.ea, e.eb FROM K6e4 e
        |  JOIN K6k5 x ON e.ea = x.node JOIN K6k5 y ON e.eb = y.node),
        |K6d6 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K6e5 UNION ALL SELECT eb FROM K6e5)
        |  GROUP BY 1),
        |K6k6 AS MATERIALIZED (SELECT node FROM K6d6 WHERE deg >= 6),
        |K6e6 AS MATERIALIZED (SELECT e.ea, e.eb FROM K6e5 e
        |  JOIN K6k6 x ON e.ea = x.node JOIN K6k6 y ON e.eb = y.node),
        |K6d7 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K6e6 UNION ALL SELECT eb FROM K6e6)
        |  GROUP BY 1),
        |K6k7 AS MATERIALIZED (SELECT node FROM K6d7 WHERE deg >= 6),
        |K6e7 AS MATERIALIZED (SELECT e.ea, e.eb FROM K6e6 e
        |  JOIN K6k7 x ON e.ea = x.node JOIN K6k7 y ON e.eb = y.node),
        |K6d8 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K6e7 UNION ALL SELECT eb FROM K6e7)
        |  GROUP BY 1),
        |K6k8 AS MATERIALIZED (SELECT node FROM K6d8 WHERE deg >= 6),
        |K6e8 AS MATERIALIZED (SELECT e.ea, e.eb FROM K6e7 e
        |  JOIN K6k8 x ON e.ea = x.node JOIN K6k8 y ON e.eb = y.node),
        |K6d9 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K6e8 UNION ALL SELECT eb FROM K6e8)
        |  GROUP BY 1),
        |K6k9 AS MATERIALIZED (SELECT node FROM K6d9 WHERE deg >= 6),
        |K6e9 AS MATERIALIZED (SELECT e.ea, e.eb FROM K6e8 e
        |  JOIN K6k9 x ON e.ea = x.node JOIN K6k9 y ON e.eb = y.node),
        |K6d10 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
        |  SELECT ea AS node FROM K6e9 UNION ALL SELECT eb FROM K6e9)
        |  GROUP BY 1),
        |K6k10 AS MATERIALIZED (SELECT node FROM K6d10 WHERE deg >= 6),
        |K6e10 AS MATERIALIZED (SELECT e.ea, e.eb FROM K6e9 e
        |  JOIN K6k10 x ON e.ea = x.node JOIN K6k10 y ON e.eb = y.node),
        |core6 AS MATERIALIZED (SELECT node FROM (
        |  SELECT ea AS node FROM K6e10 UNION ALL SELECT eb FROM K6e10)
        |  GROUP BY 1 HAVING count(*) >= 6),
        |nodes AS (SELECT ea AS node FROM e0 UNION SELECT eb FROM e0)
        |SELECT n.node,
        |  CAST(CASE WHEN c6.node IS NOT NULL THEN 6
        |       WHEN c5.node IS NOT NULL THEN 5
        |       WHEN c4.node IS NOT NULL THEN 4
        |       WHEN c3.node IS NOT NULL THEN 3
        |       WHEN c2.node IS NOT NULL THEN 2
        |       ELSE 1 END AS BIGINT) AS coreness
        |FROM nodes n
        |LEFT JOIN core2 c2 ON n.node = c2.node
        |LEFT JOIN core3 c3 ON n.node = c3.node
        |LEFT JOIN core4 c4 ON n.node = c4.node
        |LEFT JOIN core5 c5 ON n.node = c5.node
        |LEFT JOIN core6 c6 ON n.node = c6.node""".stripMargin,
    "graph_bfs" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS ea,
        |    greatest(a.l_partkey, b.l_partkey) AS eb
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 40 = 0),
        |adj AS MATERIALIZED (SELECT ea AS node, eb AS nbr FROM e0
        |       UNION ALL SELECT eb AS node, ea AS nbr FROM e0),
        |f0 AS MATERIALIZED (SELECT DISTINCT node FROM adj WHERE node % 100 = 0),
        |s0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM f0),
        |f1 AS MATERIALIZED (
        |  SELECT DISTINCT a.nbr AS node FROM f0 f JOIN adj a ON f.node = a.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s0 s WHERE s.node = a.nbr)),
        |s1 AS MATERIALIZED (
        |  SELECT node, dist FROM s0
        |  UNION ALL SELECT node, 1 AS dist FROM f1),
        |f2 AS MATERIALIZED (
        |  SELECT DISTINCT a.nbr AS node FROM f1 f JOIN adj a ON f.node = a.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s1 s WHERE s.node = a.nbr)),
        |s2 AS MATERIALIZED (
        |  SELECT node, dist FROM s1
        |  UNION ALL SELECT node, 2 AS dist FROM f2),
        |f3 AS MATERIALIZED (
        |  SELECT DISTINCT a.nbr AS node FROM f2 f JOIN adj a ON f.node = a.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s2 s WHERE s.node = a.nbr)),
        |s3 AS MATERIALIZED (
        |  SELECT node, dist FROM s2
        |  UNION ALL SELECT node, 3 AS dist FROM f3),
        |f4 AS MATERIALIZED (
        |  SELECT DISTINCT a.nbr AS node FROM f3 f JOIN adj a ON f.node = a.node
        |  WHERE NOT EXISTS (SELECT 1 FROM s3 s WHERE s.node = a.nbr)),
        |s4 AS MATERIALIZED (
        |  SELECT node, dist FROM s3
        |  UNION ALL SELECT node, 4 AS dist FROM f4),
        |final AS (SELECT node, CAST(dist AS BIGINT) AS distance FROM s4)
        |SELECT node, distance FROM final""".stripMargin,
    "mixture_repeat" ->
      """WITH gn AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |rk AS (SELECT d.doc_id, d.source, g.n,
        |    row_number() OVER (PARTITION BY d.source ORDER BY
        |      ('0x' || substr(md5('13:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      d.doc_id) AS r
        |  FROM documents d JOIN gn g ON d.source = g.source),
        |reps AS (SELECT doc_id, source,
        |    (40 // n) + CASE WHEN r <= 40 % n THEN 1 ELSE 0 END AS reps
        |  FROM rk)
        |SELECT t.doc_id, t.source, CAST(x.x AS BIGINT) AS rep
        |FROM reps t JOIN range(0, 40) x(x) ON x.x < t.reps
        |WHERE t.reps > 0""".stripMargin,
    "graph_hits" ->
      s"""$interactionsSql,
         |e AS MATERIALIZED (
         |  SELECT DISTINCT query_id AS src, item_id + 1000000 AS dst
         |  FROM interactions),
         |nodes AS MATERIALIZED (
         |  SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
         |ar1 AS MATERIALIZED (SELECT e.dst AS node, sum(h.h) AS raw
         |  FROM h0 h JOIN e ON h.node = e.src GROUP BY 1),
         |a1 AS MATERIALIZED (
         |  SELECT n.node, coalesce(r.raw, 0)
         |    // greatest(1, (SELECT coalesce(sum(raw), 0) FROM ar1)
         |                   // (nn.n * 1000000)) AS a
         |  FROM nodes n LEFT JOIN ar1 r ON n.node = r.node, nn),
         |hr1 AS MATERIALIZED (SELECT e.src AS node, sum(a.a) AS raw
         |  FROM a1 a JOIN e ON a.node = e.dst GROUP BY 1),
         |h1 AS MATERIALIZED (
         |  SELECT n.node, coalesce(r.raw, 0)
         |    // greatest(1, (SELECT coalesce(sum(raw), 0) FROM hr1)
         |                   // (nn.n * 1000000)) AS h
         |  FROM nodes n LEFT JOIN hr1 r ON n.node = r.node, nn),
         |ar2 AS MATERIALIZED (SELECT e.dst AS node, sum(h.h) AS raw
         |  FROM h1 h JOIN e ON h.node = e.src GROUP BY 1),
         |a2 AS MATERIALIZED (
         |  SELECT n.node, coalesce(r.raw, 0)
         |    // greatest(1, (SELECT coalesce(sum(raw), 0) FROM ar2)
         |                   // (nn.n * 1000000)) AS a
         |  FROM nodes n LEFT JOIN ar2 r ON n.node = r.node, nn),
         |hr2 AS MATERIALIZED (SELECT e.src AS node, sum(a.a) AS raw
         |  FROM a2 a JOIN e ON a.node = e.dst GROUP BY 1),
         |h2 AS MATERIALIZED (
         |  SELECT n.node, coalesce(r.raw, 0)
         |    // greatest(1, (SELECT coalesce(sum(raw), 0) FROM hr2)
         |                   // (nn.n * 1000000)) AS h
         |  FROM nodes n LEFT JOIN hr2 r ON n.node = r.node, nn)
         |SELECT h2.node, CAST(h2.h AS BIGINT) AS hub_units,
         |  CAST(a2.a AS BIGINT) AS auth_units
         |FROM h2 JOIN a2 ON h2.node = a2.node""".stripMargin,
    "privacy_l_diversity" ->
      """SELECT c_mktsegment, c_nationkey,
        |  count(*) AS n,
        |  count(DISTINCT c_acctbal) AS l_distinct,
        |  count(DISTINCT c_acctbal) >= 20 AS diverse
        |FROM customer GROUP BY 1, 2""".stripMargin,
    "encode_target_loo" ->
      s"""$interactionsSql,
         |a AS (SELECT item_id % 50 AS cat,
         |        sum(CAST(rating AS BIGINT)) AS s, count(*) AS cn
         |      FROM interactions GROUP BY 1)
         |SELECT i.query_id, i.item_id, i.session_id,
         |  CAST(CASE WHEN a.cn > 1
         |    THEN ((a.s - CAST(i.rating AS BIGINT)) * 1000000) // (a.cn - 1)
         |  END AS BIGINT) AS enc_ppm
         |FROM interactions i JOIN a ON i.item_id % 50 = a.cat""".stripMargin,
    "ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CASE user_id % 3 WHEN 0 THEN 'control' WHEN 1 THEN 'blue'
        |      ELSE 'green' END AS variant,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(conv) AS BIGINT) AS x
        |      FROM u GROUP BY 1),
        |ctrl AS (SELECT n AS n_ctrl, x AS x_ctrl FROM c
        |         WHERE variant = 'control')
        |SELECT t.variant, t.n, t.x, ctrl.n_ctrl, ctrl.x_ctrl,
        |  CASE WHEN t.n > 0 AND ctrl.n_ctrl > 0
        |         AND t.x + ctrl.x_ctrl > 0
        |         AND t.x + ctrl.x_ctrl < t.n + ctrl.n_ctrl
        |    THEN CAST((CAST(t.x * ctrl.n_ctrl - ctrl.x_ctrl * t.n AS HUGEINT)
        |               * (t.x * ctrl.n_ctrl - ctrl.x_ctrl * t.n)
        |               * (t.n + ctrl.n_ctrl) * 1000000)
        |              // (CAST(t.n AS HUGEINT) * ctrl.n_ctrl
        |                  * (t.x + ctrl.x_ctrl)
        |                  * (t.n + ctrl.n_ctrl - t.x - ctrl.x_ctrl))
        |         AS BIGINT)
        |  END AS z2_ppm,
        |  coalesce(CASE WHEN t.n > 0 AND ctrl.n_ctrl > 0
        |         AND t.x + ctrl.x_ctrl > 0
        |         AND t.x + ctrl.x_ctrl < t.n + ctrl.n_ctrl
        |    THEN CAST((CAST(t.x * ctrl.n_ctrl - ctrl.x_ctrl * t.n AS HUGEINT)
        |               * (t.x * ctrl.n_ctrl - ctrl.x_ctrl * t.n)
        |               * (t.n + ctrl.n_ctrl) * 1000000)
        |              // (CAST(t.n AS HUGEINT) * ctrl.n_ctrl
        |                  * (t.x + ctrl.x_ctrl)
        |                  * (t.n + ctrl.n_ctrl - t.x - ctrl.x_ctrl))
        |         AS BIGINT) > 3841459
        |  END, false) AS significant
        |FROM c t, ctrl WHERE t.variant <> 'control'""".stripMargin,
    "metrics_gini_revenue" ->
      """WITH c AS (SELECT l_partkey AS k,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, k) AS i FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS keys,
        |  CAST(sum(x) AS BIGINT) AS total,
        |  ((2 * CAST(sum(i * x) AS BIGINT)
        |    - (count(*) + 1) * CAST(sum(x) AS BIGINT)) * 1000000)
        |  // (count(*) * CAST(sum(x) AS BIGINT)) AS gini_ppm
        |FROM r""".stripMargin,
    "graph_ktruss" -> {
      // one peel round, parameterized on the surviving-edge CTE name —
      // idempotent once converged, so unrolling extra rounds is safe
      def round(i: Int, in: String): String =
        s"""deg$i AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS d
           |  FROM (SELECT a AS node FROM $in UNION ALL SELECT b FROM $in)
           |  GROUP BY 1),
           |o$i AS MATERIALIZED (
           |  SELECT CASE WHEN da.d * 2147483648 + e.a
           |                   < db.d * 2147483648 + e.b
           |    THEN e.a ELSE e.b END AS u,
           |    CASE WHEN da.d * 2147483648 + e.a < db.d * 2147483648 + e.b
           |    THEN e.b ELSE e.a END AS v,
           |    greatest(da.d * 2147483648 + e.a,
           |             db.d * 2147483648 + e.b) AS kv
           |  FROM $in e JOIN deg$i da ON e.a = da.node
           |    JOIN deg$i db ON e.b = db.node),
           |t$i AS MATERIALIZED (
           |  SELECT w1.u AS u, w1.v AS x, w2.v AS y
           |  FROM o$i w1 JOIN o$i w2 ON w1.u = w2.u AND w1.kv < w2.kv
           |  WHERE EXISTS (SELECT 1 FROM o$i o3
           |                WHERE o3.u = w1.v AND o3.v = w2.v)),
           |s$i AS MATERIALIZED (
           |  SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
           |    SELECT least(u, x) AS a, greatest(u, x) AS b FROM t$i
           |    UNION ALL SELECT least(u, y), greatest(u, y) FROM t$i
           |    UNION ALL SELECT least(x, y), greatest(x, y) FROM t$i)
           |  GROUP BY 1, 2),
           |e${i + 1} AS MATERIALIZED (
           |  SELECT e.a, e.b FROM $in e
           |  LEFT JOIN s$i s ON e.a = s.a AND e.b = s.b
           |  WHERE coalesce(s.sup, 0) >= 2)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
         |    greatest(a.l_partkey, b.l_partkey) AS b
         |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey <> b.l_partkey
         |  WHERE a.l_orderkey % 40 = 0),
         |${(0 until 8).map(i => round(i, s"e$i")).mkString(",\n")}
         |SELECT a, b FROM e8""".stripMargin
    },
    "metrics_gini_exposure" ->
      """WITH c AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS x
        |           FROM lineitem GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, k) AS i FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS keys,
        |  CAST(sum(x) AS BIGINT) AS total,
        |  ((2 * CAST(sum(i * x) AS BIGINT)
        |    - (count(*) + 1) * CAST(sum(x) AS BIGINT)) * 1000000)
        |  // (count(*) * CAST(sum(x) AS BIGINT)) AS gini_ppm
        |FROM r""".stripMargin,
    "quality_ks_drift" ->
      """WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS ca
        |  FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |b AS (SELECT CAST(l_quantity AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cb
        |  FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1),
        |m AS (SELECT coalesce(a.v, b.v) AS v, coalesce(ca, 0) AS ca,
        |    coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON a.v = b.v),
        |na AS (SELECT CAST(sum(ca) AS BIGINT) AS n FROM m),
        |nb AS (SELECT CAST(sum(cb) AS BIGINT) AS n FROM m),
        |c AS (SELECT
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb
        |  FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS "values",
        |  CAST(max(abs(CAST(cuma AS BIGINT) * 1000000 // na.n
        |    - CAST(cumb AS BIGINT) * 1000000 // nb.n)) AS BIGINT) AS ks_ppm
        |FROM c, na, nb GROUP BY na.n, nb.n""".stripMargin,
    "sample_group_weighted" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY
        |      ln(least(greatest(
        |        ('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)),
        |          1, 15))::BIGINT / 1152921504606846976.0,
        |        1.0 / 9007199254740992.0),
        |        1.0 - 1.0 / 9007199254740992.0))
        |      / CAST(n_chars AS DOUBLE) DESC,
        |      doc_id) AS rn
        |  FROM documents) WHERE rn <= 5""".stripMargin,
    "layout_overlap_audit" ->
      """WITH f AS (
        |  SELECT l_orderkey // 100 AS file,
        |    CAST(min(l_partkey) AS BIGINT) AS lo,
        |    CAST(max(l_partkey) AS BIGINT) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT a.file, a.lo, a.hi, CAST(count(*) AS BIGINT) AS overlaps
        |FROM f a JOIN f b ON a.lo <= b.hi AND b.lo <= a.hi
        |GROUP BY 1, 2, 3""".stripMargin,
    "streaming_golden_record" ->
      """WITH m AS (
        |  SELECT doc_id % 700 AS cluster, doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang2,
        |    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE source END AS source2
        |  FROM documents)
        |SELECT cluster,
        |  arg_max(lang2, CASE WHEN lang2 IS NOT NULL THEN doc_id END) AS a,
        |  arg_max(source2, CASE WHEN source2 IS NOT NULL THEN doc_id END)
        |    AS b,
        |  CAST(count(*) AS BIGINT) AS n_merged
        |FROM m GROUP BY 1""".stripMargin,
    "encode_impute_mode" ->
      """WITH m AS (
        |  SELECT c_custkey, c_nationkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL
        |      ELSE c_mktsegment END AS seg
        |  FROM customer),
        |cnt AS (SELECT c_nationkey, seg, count(*) AS c FROM m
        |        WHERE seg IS NOT NULL GROUP BY 1, 2),
        |md AS (SELECT c_nationkey, seg AS mode FROM (
        |  SELECT c_nationkey, seg,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c DESC, seg ASC) AS rn
        |  FROM cnt) WHERE rn = 1)
        |SELECT m.c_custkey, m.c_nationkey, m.seg,
        |  coalesce(m.seg, md.mode) AS seg_imputed
        |FROM m LEFT JOIN md ON m.c_nationkey = md.c_nationkey"""
        .stripMargin,
    "analytics_weekly_quantiles" ->
      s"""$interactionsSql
         |SELECT epoch_us(timestamp) // 604800000000 AS week,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(rating AS BIGINT)) AS BIGINT) // count(*)
         |    AS mean_qty,
         |  round(quantile_cont(rating, 0.5), 6) AS p50,
         |  round(quantile_cont(rating, 0.9), 6) AS p90
         |FROM interactions GROUP BY 1""".stripMargin,
    "embed_label_centroids" ->
      """WITH t AS (
        |  SELECT label, embedding,
        |    list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max') AS m
        |  FROM embeddings),
        |c AS (SELECT label, CAST(p.pos AS BIGINT) AS dim,
        |    CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(floor(CAST(embedding[p.pos + 1] AS DOUBLE)
        |                      * 127 / m + 0.5) AS BIGINT) END AS code
        |  FROM t CROSS JOIN range(0, 64) p(pos))
        |SELECT CAST(label AS BIGINT) AS label, dim,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(code) AS BIGINT) AS sum_code,
        |  (CASE WHEN sum(code) < 0 THEN -1 ELSE 1 END)
        |    * ((abs(CAST(sum(code) AS BIGINT)) * 1000000)
        |       // CAST(count(*) AS BIGINT)) AS mean_code_ppm
        |FROM c GROUP BY 1, 2""".stripMargin,
    "anomaly_peaks" ->
      """WITH s AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(value * 100) AS BIGINT) AS cents, ts
        |  FROM events),
        |l AS (SELECT event_id, user_id, cents,
        |    lag(cents) OVER w AS p, lead(cents) OVER w AS nx
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, cents,
        |  coalesce(p IS NOT NULL AND nx IS NOT NULL
        |    AND cents >= p + 2000 AND cents >= nx + 2000, false) AS is_peak
        |FROM l""".stripMargin,
    "quality_tv_drift" ->
      """WITH a AS (
        |  SELECT CAST(l_quantity AS BIGINT) - 1 AS bin,
        |    CAST(count(*) AS BIGINT) AS ca
        |  FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |b AS (SELECT CAST(l_quantity AS BIGINT) - 1 AS bin,
        |    CAST(count(*) AS BIGINT) AS cb
        |  FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1),
        |na AS (SELECT sum(ca) AS n FROM a), nb AS (SELECT sum(cb) AS n FROM b),
        |j AS (SELECT abs(coalesce(a.ca, 0) * 1000000 // CAST(na.n AS BIGINT)
        |        - coalesce(b.cb, 0) * 1000000 // CAST(nb.n AS BIGINT)) AS d
        |  FROM a FULL OUTER JOIN b ON a.bin = b.bin, na, nb)
        |SELECT CAST(count(*) AS BIGINT) AS bins,
        |  CAST(sum(d) AS BIGINT) // 2 AS tv_ppm
        |FROM j""".stripMargin,
    "analytics_trending" ->
      s"""$interactionsSql,
         |c AS (SELECT item_id % 200 AS cat,
         |    epoch_us(timestamp) // 604800000000 AS period,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM interactions GROUP BY 1, 2),
         |l AS (SELECT cat, period, cnt,
         |    lag(cnt) OVER (PARTITION BY cat ORDER BY period) AS prev_cnt
         |  FROM c)
         |SELECT cat, period, cnt, prev_cnt,
         |  CASE WHEN prev_cnt IS NOT NULL
         |    THEN (cnt * 1000000) // prev_cnt END AS trend_ppm
         |FROM l""".stripMargin,
    "analytics_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id AS ent,
        |    epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |dau AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |wau AS (SELECT days.day,
        |    CAST(count(DISTINCT ud.ent) AS BIGINT) AS wau
        |  FROM days JOIN ud ON ud.d <= days.day AND ud.d > days.day - 7
        |  GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |  (dau.dau * 1000000) // wau.wau AS stickiness_ppm
        |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin,
    "analytics_bounce" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (SELECT user_id, us,
        |    CASE WHEN prev IS NULL OR us - prev < 1800000000
        |      THEN 0 ELSE 1 END AS brk
        |  FROM o),
        |g AS (SELECT user_id, us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM m),
        |sx AS (SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n,
        |    max(us) - min(us) AS dur
        |  FROM g GROUP BY 1, 2),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS sessions,
        |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bounces,
        |    CAST(sum(n) AS BIGINT) AS ev,
        |    CAST(sum(dur) AS BIGINT) AS durtot
        |  FROM sx)
        |SELECT sessions, bounces,
        |  (bounces * 1000000) // sessions AS bounce_ppm,
        |  (ev * 1000000) // sessions AS events_per_session_ppm,
        |  durtot // sessions AS mean_duration_us
        |FROM a""".stripMargin,
    "analytics_interarrival" ->
      """WITH o AS (
        |  SELECT epoch_us(ts)
        |    - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS d
        |  FROM events),
        |f AS (SELECT d FROM o WHERE d IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(d) AS BIGINT) // count(*) AS mean_us,
        |  round(quantile_cont(d, 0.5), 6) AS p50_us,
        |  round(quantile_cont(d, 0.9), 6) AS p90_us
        |FROM f""".stripMargin,
    "quality_skew" ->
      """WITH c AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        |           FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(max(c) AS BIGINT) AS top1_rows,
        |    CAST(sum(c) AS BIGINT) AS top10_rows
        |  FROM (SELECT c FROM c ORDER BY c DESC LIMIT 10)),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS rows,
        |    CAST(count(*) AS BIGINT) AS keys FROM c)
        |SELECT a.rows, a.keys, t.top1_rows, t.top10_rows,
        |  (t.top1_rows * 1000000) // a.rows AS top1_share_ppm,
        |  (t.top10_rows * 1000000) // a.rows AS top10_share_ppm
        |FROM a, t""".stripMargin,
    "window_rolling_distinct" ->
      """SELECT e.event_id, e.user_id,
        |  (SELECT CAST(count(DISTINCT e2.event_type) AS BIGINT)
        |   FROM events e2
        |   WHERE e2.user_id = e.user_id
        |     AND epoch_us(e2.ts)
        |         BETWEEN epoch_us(e.ts) - 21600000000 AND epoch_us(e.ts))
        |    AS rolling_distinct
        |FROM events e""".stripMargin,
    "basket_triples" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey % 2000 AS item
        |  FROM lineitem)
        |SELECT a.item AS item_a, b.item AS item_b, c.item AS item_c,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
        |  JOIN it c ON b.bk = c.bk AND b.item < c.item
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin,
    "text_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, t AS term
        |  FROM documents,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS u(t)
        |  WHERE length(t) >= 4),
        |p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |      FROM tok GROUP BY 1, 2),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |      FROM p GROUP BY 1),
        |s AS (SELECT p.doc_id, p.term, p.tf, d.df,
        |    (p.tf * 1000000) // d.df AS score_ppm
        |  FROM p JOIN d ON p.term = d.term),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_ppm DESC, term ASC) AS rk FROM s)
        |SELECT doc_id, term, tf, df, score_ppm, CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 3""".stripMargin,
    "quality_date_gaps" ->
      """WITH d AS (SELECT DISTINCT
        |    epoch_us(o_orderdate) // 86400000000 AS p FROM orders),
        |g AS (SELECT p, lag(p) OVER (ORDER BY p) AS prev FROM d)
        |SELECT prev AS gap_start, p AS gap_end,
        |  p - prev - 1 AS missing_periods
        |FROM g WHERE p - prev > 1""".stripMargin,
    "privacy_rand_response" ->
      """WITH rr AS (
        |  SELECT CASE WHEN ('0x' || substr(md5('7:' ||
        |        CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 4 < 1
        |    THEN NOT (event_type = 'purchase')
        |    ELSE event_type = 'purchase' END AS reported
        |  FROM events),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN reported THEN 1 ELSE 0 END) AS BIGINT)
        |      AS reported_true
        |  FROM rr)
        |SELECT n, reported_true,
        |  greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT),
        |    ((reported_true * 4 - 1 * n) * 1000000) // ((4 - 2) * n)))
        |    AS est_true_ppm
        |FROM a""".stripMargin,
    "metrics_cohens_kappa" ->
      """WITH r AS (
        |  SELECT CAST(n_chars > 300 AS VARCHAR) AS a,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 > 45
        |         AS VARCHAR) AS b
        |  FROM documents),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
        |          FROM r GROUP BY 1, 2),
        |rt AS (SELECT a AS c, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT b AS c, sum(o) AS ct FROM cells GROUP BY 1),
        |pe AS (SELECT CAST(coalesce(sum(rt.rt * ct.ct), 0) AS BIGINT)
        |         AS pe_scaled
        |       FROM rt JOIN ct ON rt.c = ct.c),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN o ELSE 0 END) AS BIGINT) AS agree
        |  FROM cells)
        |SELECT t.n, t.agree, pe.pe_scaled,
        |  CASE WHEN t.n * t.n - pe.pe_scaled > 0
        |    THEN (CASE WHEN t.n * t.agree - pe.pe_scaled < 0
        |            THEN -1 ELSE 1 END)
        |         * ((abs(t.n * t.agree - pe.pe_scaled) * 1000000)
        |            // (t.n * t.n - pe.pe_scaled))
        |  END AS kappa_ppm
        |FROM t, pe""".stripMargin,
    "dedup_golden_record" ->
      """WITH m AS (
        |  SELECT doc_id % 700 AS cluster, doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang2,
        |    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE source END AS source2
        |  FROM documents)
        |SELECT cluster,
        |  arg_max(lang2, CASE WHEN lang2 IS NOT NULL THEN doc_id END)
        |    AS lang2,
        |  arg_max(source2, CASE WHEN source2 IS NOT NULL THEN doc_id END)
        |    AS source2,
        |  CAST(count(*) AS BIGINT) AS n_merged
        |FROM m GROUP BY 1""".stripMargin,
    "join_scd2_lookup" ->
      s"""$interactionsSql,
         |feed AS (SELECT o_custkey AS cust, epoch_us(o_orderdate) AS v,
         |    max(o_orderpriority) AS priority
         |  FROM orders GROUP BY 1, 2),
         |h AS (SELECT cust, priority, v AS valid_from,
         |    lead(v) OVER (PARTITION BY cust ORDER BY v) AS valid_to
         |  FROM feed)
         |SELECT i.query_id, i.item_id, i.session_id, h.priority
         |FROM interactions i LEFT JOIN h ON i.query_id = h.cust
         |  AND epoch_us(i.timestamp) >= h.valid_from
         |  AND (h.valid_to IS NULL OR epoch_us(i.timestamp) < h.valid_to)"""
        .stripMargin,
    "encode_minmax" ->
      s"""$interactionsSql,
         |b AS (SELECT item_id, min(CAST(rating AS BIGINT)) AS mn,
         |    max(CAST(rating AS BIGINT)) AS mx
         |  FROM interactions GROUP BY 1)
         |SELECT i.query_id, i.item_id, i.session_id,
         |  CASE WHEN b.mx > b.mn
         |    THEN ((CAST(i.rating AS BIGINT) - b.mn) * 1000000)
         |         // (b.mx - b.mn)
         |  END AS scaled_ppm
         |FROM interactions i JOIN b ON i.item_id = b.item_id""".stripMargin,
    "streaming_ewma" ->
      """WITH o AS (
        |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS c,
        |    ts, event_id
        |  FROM events),
        |l AS (SELECT user_id, list(c ORDER BY ts, event_id) AS xs
        |      FROM o GROUP BY 1)
        |SELECT user_id,
        |  CAST(list_reduce(xs, (acc, x) -> (3 * x + 7 * acc) // 10)
        |       AS BIGINT) AS ewma_final
        |FROM l""".stripMargin,
    "analytics_attribution" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS et, epoch_us(ts) AS ts,
        |    event_id AS tie
        |  FROM events),
        |conv AS (SELECT u, ts AS cts, tie AS ctie FROM e
        |         WHERE et = 'purchase'),
        |tch AS (SELECT u, et AS channel, ts AS tts, tie AS ttie FROM e
        |        WHERE et <> 'purchase'),
        |p AS (SELECT c.u, c.cts, c.ctie, t.channel, t.tts, t.ttie
        |  FROM conv c JOIN tch t ON c.u = t.u
        |    AND t.tts < c.cts AND t.tts >= c.cts - 7200000000),
        |o AS (SELECT channel,
        |    count(*) OVER (PARTITION BY u, cts, ctie) AS k,
        |    row_number() OVER (PARTITION BY u, cts, ctie
        |      ORDER BY tts, ttie) AS rf,
        |    row_number() OVER (PARTITION BY u, cts, ctie
        |      ORDER BY tts DESC, ttie DESC) AS rl
        |  FROM p)
        |SELECT channel, CAST(count(*) AS BIGINT) AS touches,
        |  CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS first_touch,
        |  CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS last_touch,
        |  CAST(sum(1000000 // k) AS BIGINT) AS linear_ppm
        |FROM o GROUP BY 1""".stripMargin,
    "window_forward_fill" ->
      """WITH m AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |      ELSE CAST(floor(value * 100) AS BIGINT) END AS cents
        |  FROM events)
        |SELECT event_id, user_id, cents,
        |  last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS cents_filled
        |FROM m""".stripMargin,
    "scalar_json_extract" ->
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)
        |    AS k,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1""".stripMargin,
    "analytics_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "analytics_survival" ->
      """WITH per AS (
        |  SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 3600000000 AS t,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e
        |  FROM events GROUP BY 1),
        |g AS (SELECT t, CAST(count(*) AS BIGINT) AS tot,
        |    CAST(sum(e) AS BIGINT) AS events,
        |    CAST(count(*) - sum(e) AS BIGINT) AS censored
        |  FROM per GROUP BY 1),
        |nn AS (SELECT CAST(sum(tot) AS BIGINT) AS n FROM g),
        |c AS (SELECT t, tot, events, censored,
        |    CAST(sum(tot) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM g)
        |SELECT t, nn.n - (cum - tot) AS n_at_risk, events, censored,
        |  (events * 1000000) // (nn.n - (cum - tot)) AS hazard_ppm
        |FROM c, nn""".stripMargin,
    "analytics_ltv" ->
      """WITH e AS (
        |  SELECT user_id AS ent, epoch_us(ts) // 86400000000 AS p,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |f AS (SELECT ent, min(p) AS cohort_period FROM e GROUP BY 1),
        |sz AS (SELECT cohort_period, CAST(count(*) AS BIGINT) AS size
        |       FROM f GROUP BY 1),
        |cells AS (SELECT f.cohort_period,
        |    e.p - f.cohort_period AS age_periods,
        |    CAST(count(DISTINCT e.ent) AS BIGINT) AS users_active,
        |    CAST(sum(e.cents) AS BIGINT) AS cents
        |  FROM e JOIN f ON e.ent = f.ent GROUP BY 1, 2),
        |c AS (SELECT cohort_period, age_periods, users_active, cents,
        |    CAST(sum(cents) OVER (PARTITION BY cohort_period
        |      ORDER BY age_periods ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum_cents
        |  FROM cells)
        |SELECT c.cohort_period, c.age_periods, c.users_active, c.cents,
        |  c.cum_cents, c.cum_cents // sz.size AS cum_cents_per_user
        |FROM c JOIN sz ON c.cohort_period = sz.cohort_period""".stripMargin,
    "graph_degrees" ->
      s"""$interactionsSql,
         |e AS (SELECT DISTINCT query_id AS src, item_id + 1000000 AS dst
         |      FROM interactions),
         |o AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg
         |      FROM e GROUP BY 1),
         |i AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg
         |      FROM e GROUP BY 1)
         |SELECT coalesce(o.node, i.node) AS node,
         |  coalesce(out_deg, 0) AS out_deg,
         |  coalesce(in_deg, 0) AS in_deg,
         |  coalesce(out_deg, 0) + coalesce(in_deg, 0) AS degree
         |FROM o FULL OUTER JOIN i ON o.node = i.node""".stripMargin,
    "graph_reciprocity" ->
      """WITH p AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 40 = 0),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM p WHERE src < dst
        |  UNION ALL SELECT src, dst FROM p WHERE src % 3 = 0)),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS reciprocated FROM e
        |      WHERE EXISTS (SELECT 1 FROM e e2
        |                    WHERE e2.src = e.dst AND e2.dst = e.src)),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS edges FROM e)
        |SELECT t.edges, r.reciprocated,
        |  CASE WHEN t.edges > 0
        |    THEN (r.reciprocated * 1000000) // t.edges ELSE 0 END
        |    AS reciprocity_ppm
        |FROM t, r""".stripMargin,
    "quality_profile" ->
      """SELECT '*' AS col_name, 'rows' AS metric,
        |  CAST(count(*) AS BIGINT) AS value FROM orders
        |UNION ALL SELECT 'o_orderkey', 'nulls',
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |UNION ALL SELECT 'o_orderkey', 'distinct',
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderkey', 'min', min(o_orderkey) FROM orders
        |UNION ALL SELECT 'o_orderkey', 'max', max(o_orderkey) FROM orders
        |UNION ALL SELECT 'o_custkey', 'nulls',
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |UNION ALL SELECT 'o_custkey', 'distinct',
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_custkey', 'min', min(o_custkey) FROM orders
        |UNION ALL SELECT 'o_custkey', 'max', max(o_custkey) FROM orders
        |UNION ALL SELECT 'o_orderstatus', 'nulls',
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderstatus', 'distinct',
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderstatus', 'min_len',
        |  CAST(min(length(o_orderstatus)) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderstatus', 'max_len',
        |  CAST(max(length(o_orderstatus)) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_totalprice', 'nulls',
        |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_totalprice', 'distinct',
        |  CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderdate', 'nulls',
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderdate', 'distinct',
        |  CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderpriority', 'nulls',
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderpriority', 'distinct',
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderpriority', 'min_len',
        |  CAST(min(length(o_orderpriority)) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderpriority', 'max_len',
        |  CAST(max(length(o_orderpriority)) AS BIGINT) FROM orders"""
        .stripMargin,
    "layout_compaction" ->
      """WITH s AS (
        |  SELECT p_partkey, CAST(floor(p_retailprice) AS BIGINT) AS sz
        |  FROM part),
        |c AS (SELECT p_partkey, sz,
        |    sum(sz) OVER (ORDER BY p_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s)
        |SELECT p_partkey, CAST((cum - sz) // 100000 AS BIGINT) AS bin
        |FROM c""".stripMargin,
    "analytics_chi2" ->
      """WITH j AS (
        |  SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
        |  FROM j GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |grid AS (SELECT rt.a, ct.b, rt.rt, ct.ct,
        |    coalesce(c.o, 0) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells c ON c.a = rt.a AND c.b = ct.b)
        |SELECT a, b, o, rt, ct,
        |  CAST((CAST(o * nn.n - rt * ct AS HUGEINT)
        |        * (o * nn.n - rt * ct) * 1000000)
        |       // (CAST(nn.n AS HUGEINT) * rt * ct) AS BIGINT) AS term_ppm
        |FROM grid, nn""".stripMargin,
    "window_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e
        |  FROM events),
        |f AS (SELECT user_id, s, e,
        |    CASE WHEN max(e) OVER pw IS NULL OR s > max(e) OVER pw
        |      THEN 1 ELSE 0 END AS brk
        |  FROM iv WINDOW pw AS (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (SELECT user_id, s, e,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM f)
        |SELECT user_id, min(s) AS start, max(e) AS "end",
        |  count(*) AS n_merged
        |FROM g GROUP BY user_id, grp""".stripMargin,
    "quality_benford" ->
      """WITH v AS (
        |  SELECT CAST(floor(o_totalprice) AS BIGINT) AS x FROM orders
        |  WHERE floor(o_totalprice) >= 1),
        |c AS (SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS BIGINT)
        |        AS digit, count(*) AS n
        |      FROM v GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM c),
        |o AS (SELECT digit, CAST(c.n AS BIGINT) AS n,
        |    (c.n * 1000000) // CAST(t.tot AS BIGINT) AS obs_ppm,
        |    CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |      WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
        |      WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |      WHEN 9 THEN 45757 END AS BIGINT) AS exp_ppm
        |  FROM c, t)
        |SELECT digit, n, obs_ppm, exp_ppm,
        |  abs(obs_ppm - exp_ppm) AS dev_ppm FROM o""".stripMargin,
    "analytics_sequences" ->
      """WITH l AS (
        |  SELECT user_id, event_type AS g0,
        |    lag(event_type, 1) OVER w AS g1,
        |    lag(event_type, 2) OVER w AS g2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (SELECT g2 || ' > ' || g1 || ' > ' || g0 AS gram,
        |    count(*) AS cnt
        |  FROM l WHERE g1 IS NOT NULL AND g2 IS NOT NULL GROUP BY 1)
        |SELECT gram, cnt FROM c WHERE cnt >= 5""".stripMargin,
    "streaming_transitions" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |cnt AS (SELECT from_type, to_type, count(*) AS cnt FROM p
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(cnt) AS tot FROM cnt GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.cnt,
        |  (c.cnt * 1000000) // CAST(t.tot AS BIGINT) AS prob_ppm
        |FROM cnt c JOIN tot t ON c.from_type = t.from_type""".stripMargin,
    "analytics_rfm" ->
      s"""$interactionsSql,
         |pe AS (SELECT query_id, max(epoch_us(timestamp)) AS last_us,
         |         CAST(count(*) AS BIGINT) AS frequency,
         |         CAST(sum(CAST(rating AS BIGINT)) AS BIGINT) AS monetary
         |       FROM interactions GROUP BY 1),
         |base AS (SELECT query_id,
         |    ((SELECT max(last_us) FROM pe) - last_us) // 86400000000
         |      AS recency_days,
         |    frequency, monetary FROM pe),
         |b AS (SELECT
         |    quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
         |    quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fq,
         |    quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mq
         |  FROM base),
         |sc AS (SELECT query_id, recency_days, frequency, monetary,
         |  1 + (CASE WHEN recency_days < b.rq[1] THEN 1 ELSE 0 END
         |     + CASE WHEN recency_days < b.rq[2] THEN 1 ELSE 0 END
         |     + CASE WHEN recency_days < b.rq[3] THEN 1 ELSE 0 END
         |     + CASE WHEN recency_days < b.rq[4] THEN 1 ELSE 0 END)
         |    AS r_score,
         |  1 + (CASE WHEN frequency > b.fq[1] THEN 1 ELSE 0 END
         |     + CASE WHEN frequency > b.fq[2] THEN 1 ELSE 0 END
         |     + CASE WHEN frequency > b.fq[3] THEN 1 ELSE 0 END
         |     + CASE WHEN frequency > b.fq[4] THEN 1 ELSE 0 END)
         |    AS f_score,
         |  1 + (CASE WHEN monetary > b.mq[1] THEN 1 ELSE 0 END
         |     + CASE WHEN monetary > b.mq[2] THEN 1 ELSE 0 END
         |     + CASE WHEN monetary > b.mq[3] THEN 1 ELSE 0 END
         |     + CASE WHEN monetary > b.mq[4] THEN 1 ELSE 0 END)
         |    AS m_score
         |  FROM base, b)
         |SELECT query_id, recency_days, frequency, monetary,
         |  CAST(r_score AS BIGINT) AS r_score,
         |  CAST(f_score AS BIGINT) AS f_score,
         |  CAST(m_score AS BIGINT) AS m_score,
         |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment
         |FROM sc""".stripMargin,
    "anomaly_acf" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(floor(value) AS BIGINT) AS x
        |  FROM events),
        |l AS (SELECT user_id, x,
        |    lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT user_id, CAST(1 AS BIGINT) AS "lag", x, l1 AS y
        |      FROM l WHERE l1 IS NOT NULL
        |      UNION ALL
        |      SELECT user_id, CAST(2 AS BIGINT), x, l2
        |      FROM l WHERE l2 IS NOT NULL),
        |a AS (SELECT user_id, "lag", CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p GROUP BY 1, 2),
        |st AS (SELECT user_id, "lag", n,
        |    n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS denx,
        |    n * syy - sy * sy AS deny
        |  FROM a)
        |SELECT user_id, "lag", n, num, denx, deny,
        |  CASE WHEN n >= 2 AND denx > 0 AND deny > 0
        |    THEN (CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |         * CAST((CAST(num AS HUGEINT) * num * 1000000)
        |                // (CAST(denx AS HUGEINT) * deny) AS BIGINT)
        |  END AS r2_ppm
        |FROM st""".stripMargin,
    "graph_shortest_paths" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS ea,
        |    greatest(a.l_partkey, b.l_partkey) AS eb
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 40 = 0),
        |ew AS MATERIALIZED (SELECT ea, eb, 1 + (ea + eb) % 7 AS w FROM e0),
        |adj AS MATERIALIZED (SELECT ea AS node, eb AS nbr, w FROM ew
        |       UNION ALL SELECT eb AS node, ea AS nbr, w FROM ew),
        |d0 AS MATERIALIZED (
        |  SELECT DISTINCT node, CAST(0 AS BIGINT) AS d FROM adj
        |  WHERE node % 100 = 0),
        |d1 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d0
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d0 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d2 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d1
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d1 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d3 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d2
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d2 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d4 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d3
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d3 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d5 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d4
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d4 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d6 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d5
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d5 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d7 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d6
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d6 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d8 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d7
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d7 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d9 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d8
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d8 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d10 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d9
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d9 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d11 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d10
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d10 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d12 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d11
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d11 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d13 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d12
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d12 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d14 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d13
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d13 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d15 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d14
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d14 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d16 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d15
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d15 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d17 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d16
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d16 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |d18 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d17
        |  UNION ALL
        |  SELECT a.nbr AS node, p.d + a.w AS d
        |  FROM d17 p JOIN adj a ON p.node = a.node) GROUP BY 1),
        |fin AS (SELECT node, CAST(d AS BIGINT) AS distance FROM d18)
        |SELECT node, distance FROM fin""".stripMargin,
  )

  // --------------------------------------------------------------------
  // Canary gates: tiny constant-output probes, one hash-protocol construct
  // each, so a driver-vs-local compare divergence pinpoints the construct
  // in CORRECTNESS_r{N} instead of hiding inside a real operator's gate.
  //
  // Context (r10/r11): six gates hash-failed in the driver record for two
  // rounds while values verified exactly local-side under DuckDB 1.0.0. All
  // six — and ONLY those six of 278 oracles — emitted HUGEINT output
  // columns (un-cast window/agg sums): DuckDB 1.0.0 converts HUGEINT to
  // pandas float64 while Spark's parquet reads back int64, so any dtype- or
  // repr-sensitive hash diverges even though every value is numerically
  // exact. r12 casts those outputs to BIGINT; `canary_hugeint_raw` keeps
  // the offending construct alive on a 3-row constant frame so the driver
  // record itself proves (or clears) the diagnosis: if it hash-fails while
  // its `canary_hugeint_cast` twin passes, the divergence is the HUGEINT
  // conversion, not engine values.
  // --------------------------------------------------------------------
  private def canaryCumsum(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(1L, 2L, 3L).toDF("v")
      .withColumn("s",
        F.sum("v").over(Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private lazy val canaryQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "canary_bigint" -> ((s, _) => {
      import s.implicits._; Seq(1L, 2L, 3L).toDF("v") }),
    "canary_double" -> ((s, _) => {
      import s.implicits._; Seq(0.5, -1.25, 3.0).toDF("v") }),
    "canary_bool" -> ((s, _) => {
      import s.implicits._; Seq(true, false).toDF("v") }),
    "canary_nullable_bigint" -> ((s, _) => {
      import s.implicits._; Seq(Option(1L), None, Option(3L)).toDF("v") }),
    "canary_nullable_double" -> ((s, _) => {
      import s.implicits._; Seq(Option(0.5), None, Option(-2.25)).toDF("v") }),
    // twins: identical Spark frame; oracle differs only in CAST vs raw
    // HUGEINT window-sum output
    "canary_hugeint_cast" -> ((s, _) => canaryCumsum(s)),
    "canary_hugeint_raw" -> ((s, _) => canaryCumsum(s)),
    // integer division with a negative operand: truncation (Spark `div`,
    // DuckDB 1.0.0 `//`) vs floor would differ here (-3 vs -4)
    "canary_div_neg" -> ((s, _) => {
      import s.implicits._
      Seq((-7L, 2L)).toDF("a", "b").select(F.expr("a div b").as("v")) }),
    "canary_range_frame" -> ((s, _) => {
      import s.implicits._
      Seq(1L, 2L, 3L, 10L).toDF("v").withColumn("s",
        F.sum("v").over(Window.orderBy("v").rangeBetween(-2, 0))) }),
    "canary_materialized_cte" -> ((s, _) => {
      import s.implicits._; Seq(42L).toDF("v") }),
    "canary_epoch_us" -> ((s, _) => {
      import s.implicits._; Seq(1577934245123456L).toDF("us") }),
    // exact interpolated percentile: Spark `percentile` ≡ DuckDB
    // quantile_cont on the same 4 ints
    "canary_quantile" -> ((s, _) => {
      import s.implicits._
      Seq(1L, 2L, 3L, 4L).toDF("v")
        .agg(F.round(F.expr("percentile(v, 0.25)"), 6).as("q")) }),
  )

  private lazy val canaryOracle: Map[String, String] = Map(
    "canary_bigint" ->
      "SELECT CAST(v AS BIGINT) AS v FROM (VALUES (1),(2),(3)) t(v)",
    "canary_double" ->
      "SELECT CAST(v AS DOUBLE) AS v FROM (VALUES (0.5),(-1.25),(3.0)) t(v)",
    "canary_bool" ->
      "SELECT v FROM (VALUES (TRUE),(FALSE)) t(v)",
    "canary_nullable_bigint" ->
      "SELECT CAST(v AS BIGINT) AS v FROM (VALUES (1),(NULL),(3)) t(v)",
    "canary_nullable_double" ->
      "SELECT CAST(v AS DOUBLE) AS v FROM (VALUES (0.5),(NULL),(-2.25)) t(v)",
    "canary_hugeint_cast" ->
      """SELECT v, CAST(sum(v) OVER (ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
        |FROM (VALUES (CAST(1 AS BIGINT)),(2),(3)) t(v)""".stripMargin,
    "canary_hugeint_raw" ->
      """SELECT v, sum(v) OVER (ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS s
        |FROM (VALUES (CAST(1 AS BIGINT)),(2),(3)) t(v)""".stripMargin,
    "canary_div_neg" ->
      "SELECT CAST((-7) // 2 AS BIGINT) AS v",
    "canary_range_frame" ->
      """SELECT v, CAST(sum(v) OVER (ORDER BY v
        |  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s
        |FROM (VALUES (CAST(1 AS BIGINT)),(2),(3),(10)) t(v)""".stripMargin,
    "canary_materialized_cte" ->
      """WITH m AS MATERIALIZED (SELECT CAST(42 AS BIGINT) AS v)
        |SELECT v FROM m""".stripMargin,
    "canary_epoch_us" ->
      "SELECT epoch_us(TIMESTAMP '2020-01-02 03:04:05.123456') AS us",
    "canary_quantile" ->
      """SELECT round(quantile_cont(CAST(v AS BIGINT), 0.25), 6) AS q
        |FROM (VALUES (1),(2),(3),(4)) t(v)""".stripMargin,
  )
}

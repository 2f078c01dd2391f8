package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory (reference: replay/utils/session_handler.py:22-101).
  * The library, the benchmarks, the oracle dump (Verify) and the specs all
  * build their session here, so every one of them runs the same config:
  * one shuffle partition per core, Kryo, UTC, a high hash-aggregate
  * fallback threshold and a 1000-entry generated-class cache. AQE
  * (runtime re-plan, skew-join splitting, partition coalescing) is on by
  * Spark's own default.
  *
  * The reference sizes shuffle partitions at 3× cores. graft uses 1×: at
  * sf0.1/local[32] it measured 28 % faster than 3×, because single-JVM
  * stages at this scale are bound by scheduling overhead, not by skew.
  *
  * `spark.ui.enabled=false` is left to the JVM options of the launcher
  * (build.sbt, the bench's forked children). */
object Session {
  def build(
      appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
  ): SparkSession = {
    val cores = master match {
      case m if m.startsWith("local[") && m != "local[*]" =>
        m.stripPrefix("local[").stripSuffix("]").toInt
      case _ => Runtime.getRuntime.availableProcessors()
    }
    val s = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryoserializer.buffer.max", "256m")
      .config("spark.sql.session.timeZone", "UTC")
      // spark.sql.join.preferSortMergeJoin=false was probed (r13) and not
      // adopted: paired A/B at sf0.1 read −10%/−17% on the single-long-key
      // Gram joins (item_knn_predict, rp3beta) but +66% on the
      // composite-key deviations join (model_slope_one_sample 18.3→27.8 s),
      // netting ~zero while adding per-task hash-build memory.
      // ObjectHashAggregate (typed Aggregators, e.g. the bounded top-k
      // crop) falls back to SORT-based aggregation after this many hash
      // map entries — the 128 default turns every >128-query task into
      // the full-stream sort the bounded aggregator exists to avoid.
      // Memory bound is k-DEPENDENT: up to 4M groups × O(k) primitive
      // arrays per task. At the engine's k+maxSeen crops (k ≤ ~10³) that
      // is ≤ a few GB per task; callers with very large k (e.g.
      // enrichBounded at maxK ≫ 10⁴, or heavy-history logs driving
      // maxSeen ≫ 10⁴) should lower this threshold or stay on the
      // rank-window path, which spills.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 22).toString)
      // generated-class cache (a static conf: it takes effect only for the
      // first session of a JVM). One perfbench batch loop compiles ~300
      // classes; at Spark's 100 entries a second loop in the same JVM
      // recompiled 310 of them, at 1000 none.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Temp-view + cache helper (reference spark_utils.py:654-668). */
  def cacheTempView(df: DataFrame, name: String): DataFrame = {
    df.createOrReplaceTempView(name)
    df.sparkSession.sql(s"CACHE TABLE $name")
    df.sparkSession.table(name)
  }

  /** Bucketed table sink: pre-shuffles a fact table by join key so every
    * later equi-join on `key` is shuffle-free
    * (reference: dataframe_bucketizer.py:89-110). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}

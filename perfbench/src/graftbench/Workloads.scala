package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import graft.Tables
import graft.metrics.Metrics
import graft.models.{ALSRec, ItemKNN, PopRec}
import graft.preprocessing.{LabelEncoder, MinCountFilter}
import graft.scenarios.TwoStagesScenario
import graft.splitters.TimeSplitter

/** Outcome of one measured operation: its kind, its timed latency, the
  * CPU time the whole process spent in that interval, whether its output
  * checks passed, the serving cycle it ran in, and whether it completed
  * (an operation that threw has no latency). */
final case class Outcome(kind: String, seconds: Double, cpuSeconds: Double, ok: Boolean,
    cycle: Int = 0, completed: Boolean = true)

/** Wall and process CPU time of one timed region. */
final case class Timing(wall: Double, cpu: Double)

/** What every workload runs against: the session, the input tables'
  * directory, the workload seed and the span recorder. */
final case class Ctx(spark: SparkSession, dir: String, seed: Long, tr: Trace)

/** A workload: set-up (the log loaded several times, serving state
  * built), then operations in a closed loop (one client, no think time).
  * Output checks run after each operation's timed region. */
abstract class Workload(ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  val dir: String = ctx.dir
  val seed: Long = ctx.seed
  val tr: Trace = ctx.tr

  /** The operation kind `op_p50_s` reports. */
  def mainKind: String
  /** Loads the interaction log from an empty cache; repeated, and set-up
    * time counts the median load. */
  def load(): Unit
  /** Builds serving state on the loaded log. */
  def build(): Unit = ()
  /** Untimed operations a traced run starts with, so that its traced and
    * untraced operations both run warm. */
  def warmup(): Unit = op(-1)
  def op(i: Int): Outcome
  /** The kind of operation `i` of the measured loop. */
  def kindOf(i: Int): String = mainKind
  /** Whether the loop may end after operation `i` once its time is up. */
  def mayStopAfter(i: Int): Boolean = true
  /** No further operation can run (its inputs are used up). */
  def exhausted: Boolean = false
  /** End-of-run check outside any timed region: failed operations to add. */
  def finalCheck(outcomes: Seq[Outcome]): Int = 0
  /** Operations only a traced run makes, after the loop and its final
    * check, traced; their layers are measured on no other workload. */
  def tracedExtra(): Seq[Outcome] = Nil
  /** Row counts, sample rules and output digests, for the record. */
  def facts: Seq[(String, Any)]

  protected val Q = "query_id"
  protected val I = "item_id"

  /** A seed-salted hash bucket of the user id in [0, n). */
  protected def userBucket(n: Int) = F.pmod(F.xxhash64(F.col(Q), F.lit(seed)), F.lit(n.toLong))

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  protected def timed[T](body: => T): (T, Timing) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val out = body
    (out, Timing((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9))
  }

  /** Frames persisted by this benchmark during one operation, released at
    * its end (the caller owns what it persists and the loader frame). */
  protected val owned = mutable.ArrayBuffer.empty[DataFrame]

  protected def release(): Unit = { owned.foreach(_.unpersist()); owned.clear() }

  /** Traced operations materialize a lazy call result inside its span,
    * so its work is charged to the layer that defines it. */
  protected def force(df: DataFrame): DataFrame =
    if (!tr.on) df
    else { val p = df.persist(); p.count(); owned += p; p }

  /** Persists and collects a recommendation frame: the result a caller
    * reads, kept so the metrics step does not recompute it. */
  protected def collectRecs(df: DataFrame): (DataFrame, Array[Row]) = {
    val p = df.persist()
    owned += p
    (p, p.collect())
  }

  protected def rowsOf(r: (DataFrame, Array[Row])): Option[Long] = Some(r._2.length.toLong)

  /** ≤ k recommendations per user and every score finite. */
  protected def contractOk(rows: Array[Row], k: Int): Boolean =
    rows.groupBy(_.getAs[Long](Q)).forall(_._2.length <= k) &&
      rows.forall { r => val x = r.getAs[Double]("rating"); !x.isNaN && !x.isInfinite }
}

/** One full RePlay offline loop per operation, on a seed-salted 90 % user
  * sample: load → MinCountFilter → LabelEncoder → TimeSplitter → ItemKNN
  * fit/predict → ALS fit/predict → ranking metrics @10 for both. */
final class BatchPipeline(ctx: Ctx) extends Workload(ctx) {
  def mainKind = "pipeline"
  val K = 10
  private var logRows = 0L
  private var sampleRows = 0L
  private var lastDigests: (String, String) = ("", "")

  def facts = Seq("interactions" -> logRows, "sample_rows" -> sampleRows,
    "sample" -> "users with pmod(xxhash64(query_id, seed), 10) < 9",
    "item_knn_top10_digest" -> lastDigests._1, "metrics_digest" -> lastDigests._2)

  def load(): Unit = {
    spark.catalog.clearCache()
    val log = Tables.interactions(spark, dir)
    logRows = log.count()
    sampleRows = log.filter(userBucket(10) < 9).count()
    log.unpersist()
  }

  def op(i: Int): Outcome = {
    spark.catalog.clearCache()
    var train: DataFrame = null
    var gt: DataFrame = null
    var knn: ItemKNN = null
    var knnRecs: (DataFrame, Array[Row]) = null
    var alsRecs: (DataFrame, Array[Row]) = null
    var metricRows: Seq[Row] = Nil
    val (_, t) = timed {
      tr("op.pipeline", Some(s"pipeline-$i")) {
        val log = tr("Tables.interactions") {
          val l = Tables.interactions(spark, dir)
          if (tr.on) l.count()
          l
        }()
        owned += log
        val sample = log.filter(userBucket(10) < 9)
        val filtered = tr("preprocessing.MinCountFilter") {
          force(MinCountFilter(5).transform(sample))
        }()
        val encoded = tr("preprocessing.LabelEncoder") {
          val users = LabelEncoder.fit(filtered, Q)
          val items = LabelEncoder.fit(filtered, I)
          force(items.transform(users.transform(filtered)))
        }()
        val split = tr("splitters.TimeSplitter") {
          force(TimeSplitter.byQuantile(encoded, 0.8))
        }()
        train = split.filter(!F.col("is_test")).drop("is_test")
        val test = split.filter(F.col("is_test")).drop("is_test")
        val testUsers = test.select(Q).distinct()
        gt = test.select(Q, I).distinct()

        knn = tr("models.ItemKNN.fit") { new ItemKNN(numNeighbours = 10).fit(train) }()
        knnRecs = tr("models.ItemKNN.predict") {
          collectRecs(knn.predict(train, k = K, queries = Some(testUsers)))
        }(rowsOf)
        val als = tr("models.ALSRec.fit") { new ALSRec(rank = 8, maxIter = 5).fit(train) }()
        alsRecs = tr("models.ALSRec.predict") {
          collectRecs(als.predict(train, k = K, queries = Some(testUsers)))
        }(rowsOf)
        metricRows = Seq(knnRecs, alsRecs).map { recs =>
          tr("metrics.Metrics.compute") {
            Metrics.compute(recs._1, gt, Metrics.RankingMetrics, Seq(K)).collect().head
          }()
        }
      }()
    }
    val ok = check(i, train, gt, knn, knnRecs._2, alsRecs._2, metricRows)
    release()
    Outcome(mainKind, t.wall, t.cpu, ok)
  }

  private def pairsOf(df: DataFrame): Array[(Long, Long)] =
    df.select(Q, I).collect().map(r => (r.getLong(0), r.getLong(1)))

  private def triples(rows: Array[Row]): Seq[(Long, Long, Double)] =
    rows.toSeq.map(r => (r.getAs[Long](Q), r.getAs[Long](I), r.getAs[Double]("rating")))

  /** Output checks, outside the timed region. Against driver-side
    * references, for any seed: the ItemKNN similarity table equals a
    * plain-cosine top-10 computed from the training pairs, bit for bit;
    * every user's ItemKNN recommendations are a top-10 of the scores that
    * table gives (to 1e-9, the library rounds scores to 9 decimals); both
    * metric rows equal the ranking metrics recomputed from the collected
    * recommendations and test pairs (to 1e-9). For the default seed, the
    * ItemKNN top-10 and metric-table digests equal the pinned ones. Both
    * models: ≤ 10 per user, no training item, finite scores. */
  private def check(i: Int, train: DataFrame, gt: DataFrame, knn: ItemKNN,
      knnRows: Array[Row], alsRows: Array[Row], metricRows: Seq[Row]): Boolean = {
    val trainRows = pairsOf(train)
    val trainPairs = trainRows.toSet
    val gtPairs = pairsOf(gt).toSeq
    def noSeen(rows: Array[Row]) = rows.forall(r => !trainPairs((r.getAs[Long](Q), r.getAs[Long](I))))

    val refSim = Reference.knnSimilarity(trainRows, 10)
    val gotSim = knn.similarity.collect().map(r =>
      (r.getAs[Long]("item_one"), r.getAs[Long]("item_two"), r.getAs[Double]("similarity")))
    val simOk = gotSim.length == refSim.values.map(_.length).sum &&
      gotSim.groupBy(_._1).forall { case (a, ns) =>
        refSim.get(a).exists(_.toSet == ns.map(n => (n._2, n._3)).toSet)
      }

    val history = trainRows.toSeq.groupBy(_._1)
    val knnByUser = triples(knnRows).groupBy(_._1)
    val testUsers = gtPairs.map(_._1).toSet
    val topKOk = knnByUser.keySet.subsetOf(testUsers) && testUsers.forall { u =>
      val ref = Reference.knnScores(history.getOrElse(u, Nil).map(_._2), refSim)
      val got = knnByUser.getOrElse(u, Nil).map(r => r._2 -> r._3).toMap
      Reference.isTopK(got, ref, K, 1e-9)
    }

    val metricsOk = metricRows.zip(Seq(knnRows, alsRows)).forall { case (row, recs) =>
      val ref = Reference.meanRankingMetrics(triples(recs), gtPairs, K)
      Metrics.RankingMetrics.forall { m =>
        math.abs(row.getAs[Double](s"${m}_at_$K") - ref(m)) <= 1e-9
      }
    }

    val knnDigest = Stats.digest(knnRows.map(r =>
      s"${r.getAs[Long](Q)}|${r.getAs[Long](I)}|${Stats.round6(r.getAs[Double]("rating"))}"))
    val metricDigest = Stats.digest(metricRows.zip(Seq("item_knn", "als")).flatMap { case (r, m) =>
      r.schema.fieldNames.map(c => s"$m|$c|${Stats.round6(r.getAs[Double](c))}")
    })
    lastDigests = (knnDigest, metricDigest)
    val pinned = Pins.batchPipeline.get(seed).forall(_ == lastDigests)
    val contracts = knnRows.nonEmpty && contractOk(knnRows, K) && noSeen(knnRows) &&
      alsRows.nonEmpty && contractOk(alsRows, K) && noSeen(alsRows)
    val ok = simOk && topKOk && metricsOk && pinned && contracts
    if (!ok) System.err.println(s"[graftbench] batch_pipeline op $i failed its checks: " +
      s"similarity=$simOk topk=$topKOk metrics=$metricsOk contracts=$contracts " +
      s"digests=$lastDigests pinned=${Pins.batchPipeline.get(seed)}")
    ok
  }
}

/** Closed-loop serving with incremental refits, in cycles: a refit, then
  * `RequestsPerCycle` segment requests (top-10 for 50 base users,
  * collected). A refit folds one new user-disjoint 1 % delta in through
  * coStats → mergeStats → fitFromStats and swaps the model. A run makes at
  * least `Cycles` cycles, so half the requests `op_p50_s` takes its median
  * of run after the second refit, and state grown from refit to refit
  * shows in it.
  * A traced run makes every refit twice from the same state, once traced
  * and once not, and keeps the second; after its loop it also traces one
  * TwoStagesScenario fit + predict, the only place the scenario layer is
  * measured. */
final class ServeRefit(ctx: Ctx) extends Workload(ctx) {
  import spark.implicits._
  def mainKind = "recommend"
  val Cycles = 2
  val RequestsPerCycle = 6
  val UsersPerRequest = 50
  val BasePercent = 80
  private val refitsPerCycle = if (tr.enabled) 2 else 1
  private val cycleLength = refitsPerCycle + RequestsPerCycle

  private var log: DataFrame = _
  private var logRows = 0L
  private var baseUsers: Array[Long] = Array.empty
  private var seen: Map[Long, Set[Long]] = Map.empty
  private var stats: (DataFrame, DataFrame) = _
  private var model: ItemKNN = _
  private var nextDelta = 0
  private var requestRng = new scala.util.Random(seed)
  private var twoStageFacts = Seq.empty[(String, Any)]

  def facts = Seq("interactions" -> logRows, "base_users" -> baseUsers.length,
    "base" -> s"users with pmod(xxhash64(query_id, seed), 100) < $BasePercent",
    "deltas" -> "one bucket value >= 80 each, in order",
    "cycles" -> Cycles, "requests_per_cycle" -> RequestsPerCycle) ++ twoStageFacts

  private def bucket = userBucket(100)

  def load(): Unit = {
    spark.catalog.clearCache()
    log = Tables.interactions(spark, dir)
    logRows = log.count()
  }

  override def build(): Unit = {
    val base = log.filter(bucket < BasePercent)
    val basePairs = base.select(Q, I).distinct().collect()
    seen = basePairs.groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)).toSet }
    baseUsers = seen.keys.toArray.sorted
    stats = persistStats(new ItemKNN(numNeighbours = 10).coStats(base))
    model = new ItemKNN(numNeighbours = 10).fitFromStats(stats._1, stats._2)
    nextDelta = 0
    requestRng = new scala.util.Random(seed)
  }

  private def persistStats(s: (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val p = (s._1.persist(), s._2.persist())
    p._1.count()
    p._2.count()
    p
  }

  override def exhausted: Boolean = BasePercent + nextDelta >= 100

  /** A cycle is its refit (twice when traced), then its requests:
    * requests always run on a refitted model, so state a refit leaves
    * behind shows in their latency. */
  override def kindOf(i: Int): String =
    if (i % cycleLength < refitsPerCycle) "refit" else "recommend"

  /** The loop ends only after whole cycles, and not before `Cycles`. */
  override def mayStopAfter(i: Int): Boolean =
    i % cycleLength == cycleLength - 1 && i / cycleLength + 1 >= Cycles

  override def warmup(): Unit = { request(-1); refit(-1, commit = false) }

  def op(i: Int): Outcome =
    if (kindOf(i) == "refit") refit(i, commit = i % cycleLength == refitsPerCycle - 1)
    else request(i)

  private def request(i: Int): Outcome = {
    val users = requestRng.shuffle(baseUsers.toSeq).take(UsersPerRequest)
    val id = s"recommend-$i"
    val (rows, t) = timed {
      tr("op.recommend", Some(id)) {
        tr("models.ItemKNN.predict", Some(id)) {
          model.predict(log, k = 10, queries = Some(users.toDF(Q))).collect()
        }(r => Some(r.length.toLong))
      }()
    }
    val asked = users.toSet
    val ok = rows.nonEmpty && contractOk(rows, 10) && rows.forall { r =>
      val u = r.getAs[Long](Q)
      asked(u) && !seen(u).contains(r.getAs[Long](I))
    }
    if (!ok) System.err.println(s"[graftbench] serve_refit request $i failed its checks")
    Outcome("recommend", t.wall, t.cpu, ok, cycle = nextDelta)
  }

  /** Folds the next delta in. Without `commit` the new model and stats are
    * dropped and the state stays as it was. */
  private def refit(i: Int, commit: Boolean): Outcome = {
    val delta = log.filter(bucket === BasePercent + nextDelta)
    val id = s"refit-$i"
    val (_, t) = timed {
      tr("op.refit", Some(id)) {
        val probe = new ItemKNN(numNeighbours = 10)
        val ds = tr("models.ItemKNN.coStats", Some(id)) {
          val s = probe.coStats(delta)
          (force(s._1), force(s._2))
        }()
        val merged = tr("models.ItemKNN.mergeStats", Some(id)) {
          persistStats(ItemKNN.mergeStats(stats, ds))
        }()
        val next = tr("models.ItemKNN.fitFromStats", Some(id)) {
          new ItemKNN(numNeighbours = 10).fitFromStats(merged._1, merged._2)
        }()
        val (dropModel, dropStats) = if (commit) (model, stats) else (next, merged)
        if (commit) { model = next; stats = merged; nextDelta += 1 }
        Seq(dropModel.similarity, dropModel.fitItems, dropStats._1, dropStats._2).foreach(_.unpersist())
      }()
    }
    release()
    Outcome("refit", t.wall, t.cpu, ok = true, cycle = nextDelta)
  }

  /** The refit law: the merged-stats similarity equals a full fit on the
    * same users, bit for bit. A mismatch fails every refit of the run. */
  override def finalCheck(outcomes: Seq[Outcome]): Int = {
    val full = new ItemKNN(numNeighbours = 10).fit(log.filter(bucket < BasePercent + nextDelta))
    val diff = model.similarity.exceptAll(full.similarity).count() +
      full.similarity.exceptAll(model.similarity).count()
    Seq(full.similarity, full.fitItems, full.fitQueries).foreach(_.unpersist())
    if (diff == 0) 0
    else {
      System.err.println(s"[graftbench] serve_refit: merged-stats similarity differs from a full fit in $diff rows")
      math.max(1, outcomes.count(_.kind == "refit"))
    }
  }

  /** TwoStagesScenario fit + predict(k = 5) + collect on a seed-chosen 1/6
    * user slice of the log, serving state released first: ItemKNN(10)
    * first level, PopRec fallback, 20 negatives, GBT with maxIter 10.
    * Checked: non-empty, ≤ 5 per user, probabilities in [0, 1], train AUC
    * ≥ 0.55. */
  override def tracedExtra(): Seq[Outcome] = {
    Seq(model.similarity, model.fitItems, stats._1, stats._2).foreach(_.unpersist())
    val slice = log.filter(userBucket(6) === 0)
    val sc = new TwoStagesScenario(Seq(new ItemKNN(numNeighbours = 10)),
      fallbackModel = Some(new PopRec()), numNegatives = 20, gbtMaxIter = 10)
    val (rows, t) = timed {
      tr("op.two_stage", Some("two_stage-0")) {
        tr("scenarios.TwoStages.fit") { sc.fit(slice) }()
        tr("scenarios.TwoStages.predict") {
          sc.predict(slice, k = 5).collect()
        }(r => Some(r.length.toLong))
      }()
    }
    sc.firstLevelModels.foreach {
      case n: graft.models.NeighbourRec => n.releasePairScores()
      case _ => ()
    }
    val ok = rows.nonEmpty && contractOk(rows, 5) &&
      rows.forall { r => val p = r.getAs[Double]("rating"); p >= 0.0 && p <= 1.0 } &&
      sc.trainAuc >= 0.55
    if (!ok) System.err.println(s"[graftbench] two_stage failed its checks (train AUC ${sc.trainAuc})")
    twoStageFacts = Seq("two_stage_slice" -> "users with pmod(xxhash64(query_id, seed), 6) = 0",
      "two_stage_s" -> t.wall, "two_stage_train_auc" -> sc.trainAuc, "two_stage_rows" -> rows.length)
    Seq(Outcome("two_stage", t.wall, t.cpu, ok))
  }
}

/** Output digests pinned for the default seed: (ItemKNN top-10, metric
  * table). */
object Pins {
  val DefaultSeed = 1L
  val batchPipeline: Map[Long, (String, String)] =
    Map(DefaultSeed -> ("5740:abda80739c459090", "14:dcd4e347bd91dc6b"))
}

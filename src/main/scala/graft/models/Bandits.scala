package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.core.Owner

/** Non-personalized bandit-style models over binary {0,1} ratings
  * (reference: wilson.py, ucb.py, kl_ucb.py, thompson_sampling.py).
  * All compute per-item (positives, trials) in one aggregation; the score
  * is a closed-form (or solver-driven) column expression.
  */
object Bandits {
  /** (item, pos, total) per-item aggregates; ratings must be binary. */
  def posTotals(log: DataFrame, cols: RecCols): DataFrame =
    log.groupBy(cols.item).agg(
      F.sum(cols.rating).as("pos"),
      F.count(F.lit(1)).cast("double").as("total"))
}

/** Wilson lower confidence bound of the positive share
  * (reference: wilson.py:95-119; z = 1.96 for alpha=0.05). */
final class Wilson(val z: Double = 1.96, cols: RecCols = RecCols())
    extends NonPersonalizedRec(cols) {
  protected def doFit(log: DataFrame): Unit = {
    val p = F.col("pos") / F.col("total")
    val n = F.col("total")
    val z2 = F.lit(z) * F.lit(z)
    val score = (p + z2 / (F.lit(2) * n)
      - F.lit(z) * F.sqrt((p * (F.lit(1) - p) + z2 / (F.lit(4) * n)) / n)) /
      (F.lit(1) + z2 / n)
    materialize(Bandits.posTotals(log, cols)
      .select(F.col(cols.item), score.as(cols.rating)))
  }
}

/** UCB1: mean + sqrt(coef * ln(N) / n); cold items fill with the maximal
  * exploration bonus (reference: ucb.py:131-189). */
final class UCB(val coef: Double = 2.0, cols: RecCols = RecCols())
    extends NonPersonalizedRec(cols) {
  private var totalTrials: Double = 0.0

  protected def doFit(log: DataFrame): Unit = {
    val pt = Bandits.posTotals(log, cols)
    totalTrials = log.count().toDouble
    val score = F.col("pos") / F.col("total") +
      F.sqrt(F.lit(coef) * F.log(F.lit(totalTrials)) / F.col("total"))
    materialize(pt.select(F.col(cols.item), score.as(cols.rating)))
  }

  override protected def computeFill: Double =
    1.0 + math.sqrt(coef * math.log(totalTrials))
}

/** UCB with explicit (pos, total) state supporting incremental refit —
  * the batch analogue of a streaming aggregation (reference ucb.py:147-177). */
final class UCBState(val coef: Double = 2.0, cols: RecCols = RecCols())
    extends Serializable with Owner {
  var state: DataFrame = _ // (item, pos, total)

  def fit(log: DataFrame): this.type = held.refit {
    state = held(Bandits.posTotals(log, cols).cache()); state.count(); this
  }

  def refit(batch: DataFrame): this.type = held.refit {
    state = held(state.unionByName(Bandits.posTotals(batch, cols))
      .groupBy(cols.item)
      .agg(F.sum("pos").as("pos"), F.sum("total").as("total"))
      .cache())
    state.count()
    this
  }

  def scores: DataFrame = {
    val n = state.agg(F.sum("total")).first() match {
      case r if r.isNullAt(0) => 1.0 // empty state: ln(1)=0 bonus
      case r                  => r.getDouble(0)
    }
    state.select(F.col(cols.item),
      (F.col("pos") / F.col("total") +
        F.sqrt(F.lit(coef) * F.log(F.lit(n)) / F.col("total"))).as(cols.rating))
  }
}

/** KL-UCB: per-item upper bound q solving
  * KL(p̂ ‖ q) = (ln N + c·ln ln N) / n  for q in [p̂, 1)
  * (reference: kl_ucb.py:122-170 — scipy root_scalar in a Python UDF).
  * Bernoulli KL is monotone in q on [p̂, 1), so the inverse is a plain
  * bisection — implemented as a Scala UDF (no Catalyst builtin can express
  * a root-find; the UDF is per-ITEM, not per-interaction, so the
  * non-codegen cost is bounded by |items|). */
final class KLUCB(val c: Double = 0.0, cols: RecCols = RecCols())
    extends NonPersonalizedRec(cols) {
  protected def doFit(log: DataFrame): Unit = {
    val n = log.count().toDouble
    val bound = F.udf { (pos: Double, total: Double) =>
      val p = math.max(math.min(pos / total, 1.0 - 1e-9), 1e-9)
      val target = (math.log(n) + c * math.log(math.max(math.log(n), 1e-9))) / total
      def kl(q: Double): Double =
        p * math.log(p / q) + (1 - p) * math.log((1 - p) / (1 - q))
      var lo = p
      var hi = 1.0 - 1e-9
      var i = 0
      while (hi - lo > 1e-9 && i < 100) {
        val mid = (lo + hi) / 2
        if (kl(mid) > target) hi = mid else lo = mid
        i += 1
      }
      (lo + hi) / 2
    }
    materialize(Bandits.posTotals(log, cols)
      .select(F.col(cols.item), bound(F.col("pos"), F.col("total")).as(cols.rating)))
  }
}

/** Thompson sampling: score ~ Beta(pos+1, neg+1), deterministically seeded
  * per item (reference: thompson_sampling.py:35-58 uses np.random.beta; we
  * seed commons-math3 per item so reruns and partition layouts agree). */
final class ThompsonSampling(val seed: Long = 42, cols: RecCols = RecCols())
    extends NonPersonalizedRec(cols) {
  protected def doFit(log: DataFrame): Unit = {
    val s = seed
    val sample = F.udf { (item: Long, pos: Double, total: Double) =>
      import org.apache.commons.math3.distribution.BetaDistribution
      import org.apache.commons.math3.random.Well19937c
      val rng = new Well19937c(s ^ (item * 0x9E3779B97F4A7C15L))
      new BetaDistribution(rng, pos + 1.0, (total - pos) + 1.0).sample()
    }
    materialize(Bandits.posTotals(log, cols)
      .select(F.col(cols.item),
        sample(F.col(cols.item).cast("long"), F.col("pos"), F.col("total")).as(cols.rating)))
  }
}

package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import breeze.linalg.{inv, DenseMatrix, DenseVector}
import graft.core.Owner

/** User-disjoint LinUCB (reference:
  * replay/experimental/models/u_lin_ucb.py:11-117; Song et al. 2021,
  * arXiv:2110.09905) — the default node recommender of
  * [[HierarchicalRecommender]].
  *
  * The classical LinUCB keeps a ridge per ITEM over user features; ULinUCB
  * flips it: per USER a θ over ITEM features. The reference's fit carries
  * one SHARED (A, b) pair across its sequential user loop (u_lin_ucb.py:
  * 96-116: `_A`/`_b` accumulate over the pandas groupby, which iterates
  * users in ascending order), so user u's snapshot uses the statistics of
  * every user ≤ u — a deliberate mirror, pinned by spec. Re-expressed
  * distributed: per-user Gram/response cells via one exploded aggregation,
  * the shared accumulation as a PREFIX SUM over the user order per matrix
  * cell (one window per cell id — |users| rows per cell, never a driver
  * loop), and the d×d inversion per user (closed-form adjugate at d = 2,
  * the oracle-mirrored path; Breeze LU otherwise).
  *
  * Scoring: ucb(u, i) = θ_uᵀx_i + α·√(x_iᵀ A_u⁻¹ x_i), both terms as
  * codegen array arithmetic over the flattened A_u⁻¹ (the LinUCB predict
  * discipline, LinUCB.scala:95-134). Users absent from the log keep the
  * reference's zero UCB row: rating 0 for every item.
  */
final class ULinUCB(
    val alpha: Double = -2.0,
    val cols: RecCols = RecCols(),
) extends Serializable with Owner {
  /** (query, theta[d], ainv[d*d]) — the per-user prefix snapshot. */
  var userState: DataFrame = _
  /** (item, _x[d]) — fit-time item features. */
  var itemFeats: DataFrame = _
  private var dim: Int = 0

  private[models] def dimension: Int = dim

  /** Restore fitted state (ModelIO load path). */
  private[graft] def restore(state: DataFrame, feats: DataFrame,
      d: Int): this.type = held.refit {
    userState = held(state); itemFeats = held(feats); dim = d; this
  }

  def fit(log: DataFrame, itemFeatures: DataFrame): this.type = held.refit {
    val spark = log.sparkSession
    import spark.implicits._
    val featCols = itemFeatures.columns.filterNot(_ == cols.item)
    dim = featCols.length
    val x = F.array(featCols.toIndexedSeq.map(c => F.col(c).cast("double")): _*)
    itemFeats = held(itemFeatures.select(F.col(cols.item), x.as("_x")).cache())
    itemFeats.count()

    val joined = log.join(F.broadcast(itemFeats), Seq(cols.item))
      .select(F.col(cols.query), F.col("_x"),
        F.col(cols.rating).cast("double").as("_r"))
    // per-user cells of the Gram xxᵀ (d² ids) and response r·x (d ids,
    // offset by d² to ride the same shuffle); exploded rows, O(1) agg state
    val gramCells = F.flatten(F.transform(F.col("_x"), xi =>
      F.transform(F.col("_x"), xj => xi * xj)))
    val rxCells = F.transform(F.col("_x"), xi => xi * F.col("_r"))
    val cells = joined
      .select(F.col(cols.query),
        F.posexplode(F.concat(gramCells, rxCells)))
      .toDF(cols.query, "_i", "_v")
      .groupBy(cols.query, "_i").agg(F.sum("_v").as("_s"))
    // the reference's shared-(A, b) accumulation = prefix sum over users
    // ascending, one window partition per cell id
    val prefix = cells.withColumn("_cum",
      F.sum("_s").over(Window.partitionBy("_i").orderBy(cols.query)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val byUser = prefix.groupBy(cols.query)
      .agg(F.transform(
        F.sort_array(F.collect_list(F.struct(F.col("_i"), F.col("_cum")))),
        s => s.getField("_cum")).as("_cells"))

    val d = dim
    val solved = byUser.map { row =>
      val q = row.getLong(0)
      val all = row.getSeq[Double](1).toArray
      val gram = all.take(d * d)
      val bvec = all.drop(d * d)
      if (d == 2) {
        // adjugate closed form — the SQL oracle mirrors this arithmetic
        // term by term (the LinUCB d=2 discipline)
        val a11 = gram(0) + 1.0; val a12 = gram(1)
        val a21 = a12; val a22 = gram(3) + 1.0
        val det = a11 * a22 - a12 * a21
        val ai = Array(a22 / det, -a12 / det, -a21 / det, a11 / det)
        val theta = Array(ai(0) * bvec(0) + ai(1) * bvec(1),
          ai(2) * bvec(0) + ai(3) * bvec(1))
        (q, theta, ai)
      } else {
        val A = DenseMatrix.create(d, d, gram) + DenseMatrix.eye[Double](d)
        val aInv = inv(A)
        val theta = aInv * DenseVector(bvec)
        (q, theta.toArray, aInv.toArray)
      }
    }.toDF(cols.query, "theta", "ainv")
    userState = held(solved.cache())
    userState.count()
    this
  }

  /** UCB scores for the requested queries over every fitted item —
    * |queries| × |items| rows (reference `get_relevance`). Queries without
    * fit history get the reference's zero row. */
  def relevance(queries: DataFrame): DataFrame = {
    require(userState != null, "ULinUCB.relevance before fit")
    val d = dim
    val thetaX = graft.core.DotProduct(F.col("theta"), F.col("_x"))
    def ainvAt(idx: Int) = F.element_at(F.col("ainv"), idx + 1)
    def xAt(j: Int) = F.element_at(F.col("_x"), j + 1)
    val quad = (0 until d).map { i =>
      val aInvXi = (0 until d).map(j => ainvAt(i * d + j) * xAt(j))
        .foldLeft(F.lit(0.0))(_ + _)
      xAt(i) * aInvXi
    }.foldLeft(F.lit(0.0))(_ + _)
    queries.select(cols.query).distinct()
      .join(userState, Seq(cols.query), "left")
      .repartition(F.col(cols.query))
      .crossJoin(F.broadcast(itemFeats))
      .select(F.col(cols.query), F.col(cols.item),
        F.when(F.col("theta").isNull, F.lit(0.0)).otherwise(
          F.round(thetaX + F.lit(alpha) * F.sqrt(F.greatest(quad, F.lit(0.0))), 9))
          .as(cols.rating))
  }

  /** Top-k by UCB (the reference leaves seen-filtering to the caller's
    * predict wrap; `filterSeen` applies the standard anti-join here). */
  def predict(log: DataFrame, k: Int,
      queries: Option[DataFrame] = None,
      filterSeen: Boolean = false): DataFrame = {
    val qs = queries.getOrElse(log.select(cols.query).distinct())
    val scored = relevance(qs)
    val out =
      if (filterSeen)
        scored.join(log.select(cols.query, cols.item).distinct(),
          Seq(cols.query, cols.item), "left_anti")
      else scored
    graft.core.Ops.getTopKRecsBounded(out, k, cols.query, cols.item, cols.rating)
  }
}

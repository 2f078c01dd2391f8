package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import breeze.linalg.{DenseMatrix, DenseVector, inv}
import graft.core.Owner

/** LinUCB contextual bandit (reference: replay/models/lin_ucb.py:97-451).
  *
  * Per-arm (item) ridge state A = I·λ + Σ x xᵀ, b = Σ r·x over the arm's
  * interactions, score(x) = θᵀx + α·√(xᵀ A⁻¹ x) with θ = A⁻¹ b.
  *
  * The reference converts the whole dataset to pandas and loops on the
  * driver (lin_ucb.py:219-311); here the per-arm sufficient statistics
  * (the d×d Gram and d-vector) are computed DISTRIBUTED as array-column
  * aggregations — only the tiny per-arm matrices reach the driver for the
  * d×d inversion (d = feature dim, typically ≤ 100).
  */
final class LinUCB(
    val alpha: Double = 1.0,
    val lambdaReg: Double = 1.0,
    val cols: RecCols = RecCols(),
) extends Serializable with Owner {
  /** (item, theta[d], ainv[d*d]) */
  var armState: DataFrame = _
  private var dim: Int = 0

  /** Persistence hooks (ModelIO): the feature dimension is fit-time state
    * the flattened ainv array can't be unambiguously parsed without. */
  private[models] def dimension: Int = dim
  private[models] def setDimension(d: Int): Unit = dim = d

  def fit(log: DataFrame, queryFeatures: DataFrame): this.type = held.refit {
    val spark = log.sparkSession
    import spark.implicits._
    val featCols = queryFeatures.columns.filterNot(_ == cols.query)
    dim = featCols.length
    val x = F.array(featCols.toIndexedSeq.map(c => F.col(c).cast("double")): _*)
    val joined = log.join(queryFeatures, Seq(cols.query))
      .select(F.col(cols.item), x.as("_x"), F.col(cols.rating).cast("double").as("_r"))

    // distributed sufficient statistics: flatten xxᵀ to a d² array, explode
    // to (item, idx, value) rows and sum per position — O(1) state per
    // aggregation group, never a collect_list of per-row arrays (a popular
    // arm would otherwise buffer N×d² doubles in one group)
    val xxT = F.flatten(F.transform(F.col("_x"), xi =>
      F.transform(F.col("_x"), xj => xi * xj)))
    val rx = F.transform(F.col("_x"), xi => xi * F.col("_r"))
    def summedArray(expr: org.apache.spark.sql.Column, name: String): DataFrame =
      joined.select(F.col(cols.item), F.posexplode(expr))
        .toDF(cols.item, "_i", "_v")
        .groupBy(cols.item, "_i").agg(F.sum("_v").as("_s"))
        .groupBy(cols.item)
        .agg(F.transform(
          F.sort_array(F.collect_list(F.struct(F.col("_i"), F.col("_s")))),
          s => s.getField("_s")).as(name))
    val stats = summedArray(xxT, "_gram").join(summedArray(rx, "_b"), Seq(cols.item))

    val d = dim
    val lam = lambdaReg
    val solved = stats.map { row =>
      val item = row.getLong(0)
      val gram = row.getSeq[Double](1).toArray
      val bvec = row.getSeq[Double](2).toArray
      if (d == 2) {
        // closed-form adjugate inverse — the exact arithmetic the SQL
        // oracle mirrors (LAPACK's LU path below rounds differently).
        // The off-diagonal is ONE sum, gram(1): gram(2) is the same
        // products reduced in a different aggregation group, which can
        // differ at the last ulp — using it would break the mirror.
        val a11 = gram(0) + lam; val a12 = gram(1)
        val a21 = a12; val a22 = gram(3) + lam
        val det = a11 * a22 - a12 * a21
        val ai = Array(a22 / det, -a12 / det, -a21 / det, a11 / det)
        val theta = Array(ai(0) * bvec(0) + ai(1) * bvec(1),
          ai(2) * bvec(0) + ai(3) * bvec(1))
        (item, theta, ai)
      } else {
        val A = DenseMatrix.create(d, d, gram) + DenseMatrix.eye[Double](d) * lam
        val aInv = inv(A)
        val theta = aInv * DenseVector(bvec)
        (item, theta.toArray, aInv.toArray)
      }
    }.toDF(cols.item, "theta", "ainv")
    armState = held(solved.cache())
    armState.count()
    this
  }

  /** UCB scores for all (query, arm) combinations. */
  def predict(queryFeatures: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val featCols = queryFeatures.columns.filterNot(_ == cols.query)
    val x = F.array(featCols.toIndexedSeq.map(c => F.col(c).cast("double")): _*)
    // repartition: query features usually come from one small parquet scan
    // (1 partition); the cross join below fans each query row out to the
    // whole arm catalog, so at 1 input partition all |q|×|arms| rows would
    // be produced — and crop-aggregated — by a single task
    val q = queryFeatures.select(F.col(cols.query), x.as("_x"))
      .repartition(F.col(cols.query))
    val d = dim
    // θᵀx and xᵀA⁻¹x as array expressions over the flattened matrix
    val thetaX = graft.core.DotProduct(F.col("theta"), F.col("_x"))
    // xᵀA⁻¹x unrolled into plain scalar arithmetic (d is known at predict
    // time and context dims are small): every term codegens, where the
    // previous transform/aggregate HOF chain was interpreted per row — on
    // a |queries| × |arms| cross join that interpretation dominated the
    // whole predict. Each fold seeds with 0.0 exactly like the HOF
    // aggregate it replaces, so the float result is bitwise-identical
    // (the DuckDB oracle mirrors this arithmetic term by term).
    def ainvAt(idx: Int) = F.element_at(F.col("ainv"), idx + 1)
    def xAt(j: Int) = F.element_at(F.col("_x"), j + 1)
    val quad = (0 until d).map { i =>
      val aInvXi = (0 until d).map(j => ainvAt(i * d + j) * xAt(j))
        .foldLeft(F.lit(0.0))(_ + _)
      xAt(i) * aInvXi
    }.foldLeft(F.lit(0.0))(_ + _)
    // round to 9 before ranking: the distributed Gram sums are float-order
    // dependent at the last ulp; unrounded scores would make the top-k
    // membership nondeterministic across layouts/engines.
    // The quadratic form xᵀA⁻¹x is ≥ 0 in exact arithmetic (A is PD) but
    // float error can drive it a hair negative → sqrt = NaN, which the
    // bounded top-k crop would silently drop while a rank window ranks
    // NaN first; clamp at 0 (mirrored in the SQL oracle) so the no-NaN
    // contract of getTopKRecsBounded holds.
    val scored = q.crossJoin(armState)
      .select(F.col(cols.query), F.col(cols.item),
        F.round(thetaX + F.lit(alpha) * F.sqrt(F.greatest(quad, F.lit(0.0))), 9)
          .as(cols.rating))
    // |queries| × |arms| scored rows — bounded heap crop, not a rank
    // window (same no-sort rationale as exact embedding scoring; the
    // round-9 rating makes the (rating desc, item asc) order identical)
    graft.core.Ops.getTopKRecsBounded(scored, k, cols.query, cols.item, cols.rating)
  }
}

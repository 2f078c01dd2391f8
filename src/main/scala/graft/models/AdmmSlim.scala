package graft.models

import breeze.linalg.{inv, DenseMatrix}
import org.apache.spark.sql.{DataFrame, functions => F}

/** ADMM-SLIM: closed-form SLIM via the Alternating Direction Method of
  * Multipliers (Steck et al., WSDM 2020; reference:
  * replay/experimental/models/admm_slim.py:18-210).
  *
  * SPARK SPLIT: the Gram matrix G = XᵀX is computed FULLY DISTRIBUTED
  * (one co-occurrence self-join shuffle on the user key — the same plan
  * as SLIM's candidate preselect, diagonal included), and only the dense
  * item×item frame crosses to the driver for the LAPACK inversion and the
  * ADMM iterations — dense n×n algebra is the algorithm (the reference
  * collects the whole USER×item matrix; collecting only the item×item
  * Gram is strictly smaller whenever users > items, which is the regime
  * this model exists for). The driver footprint is the explicit
  * `maxItems` contract (default 4096 ⇒ 5 dense matrices ≈ 0.7 GB): past
  * it, fit fails fast with the same message discipline as SLIM's
  * maxCollectEntries — ADMM-SLIM is a dense-catalog model and does not
  * pretend to stream 10⁷ items. The learned similarity returns to a
  * distributed table and prediction inherits [[NeighbourRec]]'s
  * one-pass predict.
  *
  * Iteration semantics mirror the reference (_main_iteration,
  * admm_slim.py:18-66) exactly, including two deliberate quirks:
  * the inverse P = (G + (λ₂+ρ₀)I)⁻¹ is computed ONCE at the initial
  * ρ₀ = λ₂ and NOT refreshed when adaptive-ρ rescaling fires, and the
  * zero-diagonal correction divides by diag(P) before re-subtracting.
  * B, C, Γ initialize uniform [0,1) like the reference
  * (admm_slim.py:250-257) but ALWAYS seeded (reference seed=None is
  * nondeterministic — the same determinism deviation RandomSplitter
  * documents), so refits are bit-identical: distributed Gram sums are
  * exact for integral ratings and the driver algebra has one fixed
  * order. */
final class AdmmSlim(
    val lambda1: Double = 5.0,
    val lambda2: Double = 5000.0,
    val epsAbs: Double = 1e-3,
    val epsRel: Double = 1e-3,
    val maxIteration: Int = 100,
    val threshold: Double = 5.0,
    val multiplicator: Double = 2.0,
    val maxItems: Int = 4096,
    val seed: Long = 42L,
    cols: RecCols = RecCols(),
) extends NeighbourRec(cols) {
  require(lambda1 >= 0 && lambda2 > 0,
    s"Invalid regularization parameters: lambda1=$lambda1 lambda2=$lambda2")

  /** Iterations actually run by the last fit (diagnostic). */
  var lastIterations: Int = 0

  private def frobenius(m: DenseMatrix[Double]): Double = {
    var s = 0.0
    m.foreachValue(v => s += v * v)
    math.sqrt(s)
  }

  protected def doFit(log: DataFrame): Unit = {
    val spark = log.sparkSession

    // duplicate (query, item) entries sum, csr_matrix-style (same as SLIM)
    val mat = log.groupBy(cols.query, cols.item)
      .agg(F.sum(cols.rating).as(cols.rating)).cache()

    val itemIds = mat.select(cols.item).distinct().orderBy(cols.item)
      .collect().map(_.getLong(0))
    val n = itemIds.length
    if (n > maxItems)
      throw new IllegalStateException(
        s"AdmmSlim.fit needs dense $n x $n driver matrices (bound: " +
        s"maxItems=$maxItems). ADMM-SLIM is a dense-catalog model; restrict " +
        "the item dimension (or raise maxItems if driver memory allows) — " +
        "for sparse mega-catalogs use SLIM's distributed-Gram solver.")
    val idx = itemIds.zipWithIndex.toMap

    // G = XᵀX distributed: upper-triangle co-occurrence dots incl. diagonal,
    // one shuffle on the user key; only O(n²) cells cross to the driver
    val lhs = mat.select(F.col(cols.query), F.col(cols.item).as("_i1"),
      F.col(cols.rating).as("_v1"))
    val rhs = mat.select(F.col(cols.query), F.col(cols.item).as("_i2"),
      F.col(cols.rating).as("_v2"))
    val gram = DenseMatrix.zeros[Double](n, n)
    // toLocalIterator streams one partition of cells at a time instead of
    // materializing up to n(n+1)/2 (~8.4M at maxItems=4096) Row objects on
    // top of the documented 5-dense-matrix budget (ADVICE r11)
    lhs.join(rhs, Seq(cols.query))
      .filter(F.col("_i1") <= F.col("_i2"))
      .groupBy("_i1", "_i2").agg(F.sum(F.col("_v1") * F.col("_v2")).as("_d"))
      .toLocalIterator().forEachRemaining { r =>
        val a = idx(r.getLong(0)); val b = idx(r.getLong(1))
        val d = r.getDouble(2)
        gram(a, b) = d; gram(b, a) = d
      }
    mat.unpersist()

    var rho = lambda2
    val ridge = gram.copy
    var i = 0
    while (i < n) { ridge(i, i) += lambda2 + rho; i += 1 }
    val p = inv(ridge) // LAPACK (breeze); computed once at rho0, per reference
    val pX: DenseMatrix[Double] = p * gram

    // uniform [0,1) init, reference-shaped but always seeded; fill order is
    // fixed (column-major like the underlying storage) so refits replay
    val rng = new scala.util.Random(seed)
    def uniformInit(): DenseMatrix[Double] = {
      val m = DenseMatrix.zeros[Double](n, n)
      var jj = 0
      while (jj < n) {
        var ii = 0
        while (ii < n) { m(ii, jj) = rng.nextDouble(); ii += 1 }
        jj += 1
      }
      m
    }
    var matB = uniformInit()
    var matC = uniformInit()
    val matGamma = uniformInit()
    var rPrimal = frobenius(matB - matC)
    var rDual = frobenius(matC * rho)
    var epsPrimal = 0.0
    var epsDual = 0.0
    var iteration = 0
    while ((rPrimal > epsPrimal || rDual > epsDual) && iteration < maxIteration) {
      iteration += 1
      // B-update: P(G + ρC − Γ), then exact zero-diagonal correction
      matB = pX + p * (matC * rho - matGamma)
      var j = 0
      while (j < n) {
        val g = matB(j, j) / p(j, j)
        if (g != 0.0) {
          var r = 0
          while (r < n) { matB(r, j) -= p(r, j) * g; r += 1 }
        }
        j += 1
      }
      // C-update: elementwise soft threshold of B + Γ/ρ at λ₁/ρ
      val prevC = matC
      val coef = lambda1 / rho
      matC = DenseMatrix.zeros[Double](n, n)
      var cj = 0
      while (cj < n) {
        var ci = 0
        while (ci < n) {
          val v = matB(ci, cj) + matGamma(ci, cj) / rho
          matC(ci, cj) = math.max(v - coef, 0.0) - math.max(-v - coef, 0.0)
          ci += 1
        }
        cj += 1
      }
      // Γ-update + residuals + adaptive ρ (Boyd §3.4.1; P stays stale)
      matGamma += (matB - matC) * rho
      rPrimal = frobenius(matB - matC)
      rDual = frobenius((matC - prevC) * (-rho))
      epsPrimal = epsAbs * n + epsRel * math.max(frobenius(matB), frobenius(matC))
      epsDual = epsAbs * n + epsRel * frobenius(matGamma)
      if (rPrimal > threshold * rDual) rho *= multiplicator
      else if (threshold * rPrimal < rDual) rho /= multiplicator
    }
    lastIterations = iteration

    // nonzero cells of C → distributed similarity table
    // (row item_one = history item, col item_two = scored item)
    val cells = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var oj = 0
    while (oj < n) {
      var oi = 0
      while (oi < n) {
        val v = matC(oi, oj)
        if (v != 0.0) cells += ((itemIds(oi), itemIds(oj), v))
        oi += 1
      }
      oj += 1
    }
    import spark.implicits._
    materialize(cells.toSeq.toDF("item_one", "item_two", "similarity"))
  }

  /** Reference admm_slim.py:92-95: λ₁ ~ loguniform [1e-9, 50],
    * λ₂ ~ loguniform [1e-9, 5000] — ln-space borders. */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "lambda_1" -> (math.log(1e-9), math.log(50.0)),
    "lambda_2" -> (math.log(1e-9), math.log(5000.0)))

  override def withParams(p: Map[String, Double]): AdmmSlim = new AdmmSlim(
    lambda1 = p.get("lambda_1").map(math.exp).getOrElse(lambda1),
    lambda2 = p.get("lambda_2").map(math.exp).getOrElse(lambda2),
    epsAbs, epsRel, maxIteration, threshold, multiplicator, maxItems, seed, cols)
}

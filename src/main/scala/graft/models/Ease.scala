package graft.models

import breeze.linalg.{inv, DenseMatrix}
import org.apache.spark.sql.{DataFrame, functions => F}

/** EASE — Embarrassingly Shallow Autoencoder (Steck, WWW 2019,
  * arXiv:1905.03375): the closed-form item-item linear model that is the
  * standard strong baseline of the SLIM family. Not in the reference
  * (its closest relatives are replay/models/slim.py and
  * replay/experimental/models/admm_slim.py:18-210, whose Gram/driver
  * split this class shares) — added as an engine extra because any user
  * running SLIM-class models today runs EASE next to them.
  *
  * Closed form: with G = XᵀX the item Gram,
  *   P = (G + λI)⁻¹,   B = I − P · diagMat(1 ./ diag(P)),   diag(B) = 0.
  * Unlike SLIM, B is dense and may be NEGATIVE — the negative weights are
  * EASE's signature capacity (Steck §3) — so no sparsity crop is applied;
  * the model's envelope is the dense-catalog regime, enforced by the same
  * explicit `maxItems` fail-fast contract as [[AdmmSlim]].
  *
  * SPARK SPLIT (identical to AdmmSlim): the Gram is computed FULLY
  * DISTRIBUTED — one co-occurrence self-join shuffle on the user key,
  * upper triangle only, streamed to the driver with toLocalIterator — and
  * only the n×n dense algebra (one LAPACK inversion + one column rescale)
  * runs on the driver. The learned B returns to a distributed similarity
  * table and prediction inherits [[NeighbourRec]]'s one-pass predict:
  * score(u, j) = Σ_{i ∈ hist(u)} B_ij.
  *
  * CERTIFICATE: the fit stores `lastKktResidual` = max off-diagonal
  * |(G + λI)·B − G| — by the KKT conditions of the constrained ridge
  * problem this matrix is exactly diagonal at the optimum (the diagonal
  * carries the Lagrange multipliers of diag(B)=0), so a small residual
  * certifies B against the data itself without trusting the inversion.
  */
final class Ease(
    val lambda: Double = 100.0,
    val maxItems: Int = 4096,
    cols: RecCols = RecCols(),
) extends NeighbourRec(cols) {
  require(lambda > 0, s"lambda must be positive, got $lambda")

  /** max off-diagonal |(G+λI)B − G| from the last fit (KKT certificate). */
  var lastKktResidual: Double = Double.NaN
  /** Frobenius norm of the last fitted B (λ-shrinkage diagnostics). */
  var lastFrobenius: Double = Double.NaN

  /** Distributed upper-triangle Gram cells (_i1 ≤ _i2, _d) of the summed
    * (query, item) matrix — the ADDITIVE sufficient statistic for EASE:
    * G = Σ_u x_u·x_uᵀ, so cells from USER-DISJOINT log slices merge by
    * plain addition ([[mergeCells]]) and [[fitFromCells]] on the merged
    * frame reproduces the full fit bit-exactly (same cells → same driver
    * algebra in one fixed order). The incremental-refit path for a model
    * whose fit is otherwise a from-scratch inversion. */
  def gramCells(log: DataFrame): DataFrame = {
    // duplicate (query, item) entries sum, csr_matrix-style (same as SLIM)
    val mat = log.groupBy(cols.query, cols.item)
      .agg(F.sum(cols.rating).as(cols.rating))
    val lhs = mat.select(F.col(cols.query), F.col(cols.item).as("_i1"),
      F.col(cols.rating).as("_v1"))
    val rhs = mat.select(F.col(cols.query), F.col(cols.item).as("_i2"),
      F.col(cols.rating).as("_v2"))
    lhs.join(rhs, Seq(cols.query))
      .filter(F.col("_i1") <= F.col("_i2"))
      .groupBy("_i1", "_i2").agg(F.sum(F.col("_v1") * F.col("_v2")).as("_d"))
  }

  /** Merge Gram-cell frames from user-disjoint slices by addition. */
  def mergeCells(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("_i1", "_i2").agg(F.sum("_d").as("_d"))

  protected def doFit(log: DataFrame): Unit = solve(gramCells(log))

  /** Refit from a Gram-cell frame (see [[gramCells]]). The cells carry no
    * users: the fit items are the Gram's items, and there are no fit
    * queries. */
  def fitFromCells(cells: DataFrame): this.type = refitFromStats((solve(cells), None))

  /** Driver algebra over a Gram-cell frame; materializes the similarity
    * table and returns the Gram's items. */
  private def solve(cells: DataFrame): DataFrame = {
    val spark = cells.sparkSession

    val itemIds = cells.select(F.col("_i1").as("_i"))
      .unionByName(cells.select(F.col("_i2").as("_i")))
      .distinct().orderBy("_i").collect().map(_.getLong(0))
    val n = itemIds.length
    if (n > maxItems)
      throw new IllegalStateException(
        s"Ease.fit needs dense $n x $n driver matrices (bound: " +
        s"maxItems=$maxItems). EASE is a dense-catalog model; restrict the " +
        "item dimension (or raise maxItems if driver memory allows) — for " +
        "sparse mega-catalogs use SLIM's distributed-Gram solver.")
    val idx = itemIds.zipWithIndex.toMap

    // G = XᵀX distributed: upper-triangle co-occurrence dots incl. diagonal,
    // one shuffle on the user key; only O(n²) cells cross to the driver
    val gram = DenseMatrix.zeros[Double](n, n)
    cells.toLocalIterator().forEachRemaining { r =>
        val a = idx(r.getLong(0)); val b = idx(r.getLong(1))
        val d = r.getDouble(2)
        gram(a, b) = d; gram(b, a) = d
      }

    val ridge = gram.copy
    var i = 0
    while (i < n) { ridge(i, i) += lambda; i += 1 }
    val p = inv(ridge) // LAPACK (breeze)

    // B = I − P·diagMat(1/diag(P)): column j of P scaled by 1/P_jj,
    // negated, diagonal exactly zero
    val matB = DenseMatrix.zeros[Double](n, n)
    var j = 0
    while (j < n) {
      val dj = 1.0 / p(j, j)
      var r = 0
      while (r < n) {
        if (r != j) matB(r, j) = -p(r, j) * dj
        r += 1
      }
      j += 1
    }

    // KKT certificate: (G+λI)B − G must be diagonal at the optimum
    val resid: DenseMatrix[Double] = ridge * matB - gram
    var kkt = 0.0
    var frob = 0.0
    var cj = 0
    while (cj < n) {
      var ci = 0
      while (ci < n) {
        if (ci != cj) kkt = math.max(kkt, math.abs(resid(ci, cj)))
        val b = matB(ci, cj); frob += b * b
        ci += 1
      }
      cj += 1
    }
    lastKktResidual = kkt
    lastFrobenius = math.sqrt(frob)

    // dense B → distributed similarity table
    // (row item_one = history item, col item_two = scored item)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var oj = 0
    while (oj < n) {
      var oi = 0
      while (oi < n) {
        val v = matB(oi, oj)
        if (v != 0.0) out += ((itemIds(oi), itemIds(oj), v))
        oi += 1
      }
      oj += 1
    }
    import spark.implicits._
    materialize(out.toSeq.toDF("item_one", "item_two", "similarity"))
    itemIds.toSeq.toDF(cols.item)
  }

  /** λ ~ loguniform [1, 10⁴] (ln-space borders), the range Steck §5
    * evaluates; EASE has exactly one hyperparameter. */
  override def searchBorders: Map[String, (Double, Double)] = Map(
    "lambda" -> (math.log(1.0), math.log(1e4)))

  override def withParams(p: Map[String, Double]): Ease = new Ease(
    lambda = p.get("lambda").map(math.exp).getOrElse(lambda),
    maxItems, cols)
}

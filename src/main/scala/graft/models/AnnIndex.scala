package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.core.Owner
import graft.text.Similarity

/** Pluggable ANN index for vector-scoring recommenders (reference:
  * extensions/ann/ann_mixin.py:78-186 — `_fit_wrap` builds the index over
  * item vectors, `_predict_wrap` infers per-query candidates; reference
  * builders wrap hnswlib/nmslib native indexes held per executor).
  *
  * Spark-first difference: implementations here are DISTRIBUTED candidate
  * generators — coarse quantization (IVF) or hash buckets (sign-LSH)
  * expressed as joins, with exact dot re-scoring on the candidate set. No
  * native per-executor index, no driver collect; the candidate join scales
  * with bucket/list occupancy, not |queries|·|items|.
  *
  * An index holds the frames it caches; a `fit` is a refit that releases
  * the previous fit's. The model that fits an index to its vectors holds
  * the index too, so releasing the model releases it.
  */
trait AnnIndex extends Serializable with Owner {
  /** Build the index over (id, vector) rows. */
  def fit(itemVectors: DataFrame, idCol: String, vecCol: String): this.type

  /** (queryId, itemId, score) dot-product scores for each query against
    * its candidate items only. Implementations may degrade to the exact
    * full join when the catalog is too small to index meaningfully. */
  def candidates(queryVecs: DataFrame, queryIdCol: String, vecCol: String): DataFrame
}

object AnnIndex {
  /** Sequential-sum dot product — the ONE parity-sensitive kernel, shared
    * with the text module (a drifting copy would silently break the
    * cross-engine float parity every oracle relies on). */
  private[models] def dot(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Similarity.dot(a, b)
}

/** IVF (inverted-file) candidate generator: KMeans coarse quantizer over
  * the item vectors; queries probe their `nProbe` nearest centroids (by
  * dot — the scoring metric) and score only those lists. Degrades to the
  * exact full join when |items| < 4·nCentroids. */
final class IvfAnn(
    val nCentroids: Int = 16,
    val nProbe: Int = 4,
    val seed: Long = 42,
) extends AnnIndex {
  private var ivf: graft.text.IvfIndex = _
  private var exactItems: DataFrame = _ // fallback for tiny catalogs
  private var itemCol: String = _

  def fit(itemVectors: DataFrame, idCol: String, vecCol: String): this.type = held.refit {
    itemCol = idCol
    if (itemVectors.count() < nCentroids * 4L) {
      exactItems = itemVectors.select(F.col(idCol), F.col(vecCol).as("_iv"))
    } else {
      ivf = new graft.text.IvfIndex(nCentroids = nCentroids, nProbe = nProbe,
        seed = seed, idCol = idCol, vecCol = vecCol).fit(itemVectors)
      held(ivf.assigned)
    }
    this
  }

  /** Persistence hooks (ModelIO): the trained coarse quantizer IS the
    * centroid set — persisting it and rebuilding the inverted lists by
    * nearest-centroid assignment round-trips the index exactly, where a
    * refit could land on different centroids. None when the tiny-catalog
    * exact fallback is active (nothing to persist). */
  private[models] def centroidArrays: Option[Array[Array[Double]]] =
    Option(ivf).map(_.centroids)

  private[models] def fitFromCentroids(itemVectors: DataFrame, idCol: String,
      vecCol: String, cents: Array[Array[Double]]): this.type = held.refit {
    itemCol = idCol
    ivf = new graft.text.IvfIndex(nCentroids = nCentroids, nProbe = nProbe,
      seed = seed, idCol = idCol, vecCol = vecCol)
      .fitFromCentroids(itemVectors.select(F.col(idCol), F.col(vecCol)), cents)
    held(ivf.assigned)
    this
  }

  def candidates(queryVecs: DataFrame, queryIdCol: String, vecCol: String): DataFrame = {
    val qv = queryVecs.select(F.col(queryIdCol), F.col(vecCol).as("_qv"))
    if (ivf == null)
      qv.crossJoin(exactItems)
        .select(F.col(queryIdCol), F.col(itemCol),
          AnnIndex.dot(F.col("_qv"), F.col("_iv")).as("score"))
    else {
      val probed = qv.crossJoin(F.broadcast(ivf.centroidFrame))
        .withColumn("_d", AnnIndex.dot(F.col("_qv"), F.col("_cvec")))
        .withColumn("_rn", F.row_number().over(
          Window.partitionBy(queryIdCol)
            .orderBy(F.col("_d").desc, F.col("_centroid").asc)))
        .filter(F.col("_rn") <= nProbe)
        .select(F.col(queryIdCol), F.col("_qv"), F.col("_centroid"))
      probed.join(ivf.assigned.select(F.col(itemCol),
          F.col(ivf.vecCol).as("_iv"), F.col("_centroid")), Seq("_centroid"))
        .select(F.col(queryIdCol), F.col(itemCol),
          AnnIndex.dot(F.col("_qv"), F.col("_iv")).as("score"))
    }
  }
}

/** Sign-LSH candidate generator: items and queries hash to h-bit bucket
  * keys in `tables` independent tables (portable-md5 hyperplanes, see
  * Similarity.planeVector); candidates share at least one bucket. */
final class LshAnn(
    val planes: Int = 8,
    val tables: Int = 4,
    val dims: Int = 64,
) extends AnnIndex {
  private var buckets: DataFrame = _  // (itemId, tbl, bkt) — ids only
  private var itemVecs: DataFrame = _ // (itemId, _iv)
  private var itemCol: String = _

  def fit(itemVectors: DataFrame, idCol: String, vecCol: String): this.type = held.refit {
    itemCol = idCol
    // fail fast on a dims mismatch: zip_with null-pads, so a wrong `dims`
    // would make every plane projection aggregate to NULL → contribute 0,
    // collapsing ALL vectors into bucket 0 of every table — candidates
    // silently degrade to the full cross join LSH exists to avoid
    itemVectors.select(F.size(F.col(vecCol))).head(1).foreach { r =>
      require(r.getInt(0) == dims,
        s"LshAnn dims=$dims but vectors have size ${r.getInt(0)}")
    }
    itemVecs = held(itemVectors.select(F.col(idCol), F.col(vecCol).as("_iv")).cache())
    // bucket table carries ids only: caching the vector `tables`× over
    // would multiply memory for no lookup benefit
    buckets = held(Similarity.signBuckets(itemVectors, idCol, vecCol, planes, tables, dims)
      .select(F.col(idCol), F.col("tbl"), F.col("bkt"))
      .cache())
    buckets.count()
    this
  }

  def candidates(queryVecs: DataFrame, queryIdCol: String, vecCol: String): DataFrame = {
    queryVecs.select(F.size(F.col(vecCol))).head(1).foreach { r =>
      require(r.getInt(0) == dims,
        s"LshAnn dims=$dims but query vectors have size ${r.getInt(0)}")
    }
    val qv = queryVecs.select(F.col(queryIdCol), F.col(vecCol).as("_qv"))
    val qb = Similarity.signBuckets(queryVecs, queryIdCol, vecCol, planes, tables, dims)
      .select(F.col(queryIdCol), F.col("tbl"), F.col("bkt"))
    // dedup multi-table collisions on bare (query, item) ids — at dims=512
    // a vector-carrying distinct would shuffle multi-KB rows per
    // candidate; vectors rejoin AFTER the dedup for exact re-scoring
    val pairs = qb.join(buckets, Seq("tbl", "bkt"))
      .select(F.col(queryIdCol), F.col(itemCol)).distinct()
    pairs.join(qv, Seq(queryIdCol))
      .join(itemVecs, Seq(itemCol))
      .select(F.col(queryIdCol), F.col(itemCol),
        AnnIndex.dot(F.col("_qv"), F.col("_iv")).as("score"))
  }
}

/** Product-quantization candidate generator (graft.text.PqIndex): item
  * vectors live as M-byte PQ codes; candidates are the top
  * `candidatesPerQuery` items by asymmetric-distance (ADC) dot
  * approximation, re-scored with the exact dot — so the score column
  * keeps the AnnIndex contract while the scan runs over the compressed
  * code table. The shape for catalogs whose raw vector table itself is
  * the memory problem; compose semantics match IVF/LSH (approximate
  * candidate set, exact scores). Degrades to the exact full join when
  * the catalog is too small to quantize meaningfully.
  *
  * Persistence (ModelIO `pq:...`) stores the CONFIG; load refits the
  * seeded per-subspace KMeans over the persisted item vectors — like
  * Word2Vec's own embeddings this is deterministic for a fixed seed and
  * input layout (the vector frames ModelIO writes reload with a stable
  * layout). */
/** IVF-PQ candidate generator behind [[AnnIndex]] — the composite index
  * ([[graft.text.IvfPqIndex]]: residual PQ inside coarse KMeans cells)
  * for the recommender path: probed-cell ADC crop, then the exact dot
  * re-score against the raw item vectors (same two-stage contract as
  * [[PqAnn]], with the inverted-file fraction cutting the ADC scan).
  * Degrades to the exact full join on tiny catalogs. */
final class IvfPqAnn(
    val nCentroids: Int = 16,
    val nProbe: Int = 4,
    val numSubspaces: Int = 8,
    val codebookSize: Int = 16,
    val candidatesPerQuery: Int = 200,
    val seed: Long = 42,
) extends AnnIndex {
  private var idx: graft.text.IvfPqIndex = _
  private var itemVecs: DataFrame = _ // (itemId, _iv) for exact re-score
  private var exactItems: DataFrame = _
  private var itemCol: String = _

  def fit(itemVectors: DataFrame, idCol: String, vecCol: String): this.type = held.refit {
    itemCol = idCol
    val floor = math.max(4L * nCentroids, 4L * codebookSize)
    if (itemVectors.count() < floor) {
      exactItems = itemVectors.select(F.col(idCol), F.col(vecCol).as("_iv"))
    } else {
      itemVecs = held(itemVectors.select(F.col(idCol), F.col(vecCol).as("_iv")).cache())
      idx = new graft.text.IvfPqIndex(nCentroids, nProbe, numSubspaces,
        codebookSize, seed, idCol = idCol, vecCol = vecCol).fit(itemVectors)
      Seq(idx.cells, idx.ivf.assigned, idx.pq.codes).foreach(held(_))
    }
    this
  }

  def candidates(queryVecs: DataFrame, queryIdCol: String, vecCol: String): DataFrame = {
    val qv = queryVecs.select(F.col(queryIdCol), F.col(vecCol).as("_qv"))
    if (idx == null)
      qv.crossJoin(exactItems)
        .select(F.col(queryIdCol), F.col(itemCol),
          AnnIndex.dot(F.col("_qv"), F.col("_iv")).as("score"))
    else {
      val renamed = queryVecs.select(F.col(queryIdCol),
        F.col(vecCol).as(idx.vecCol))
      idx.adcTopR(renamed, queryIdCol, candidatesPerQuery, excludeSelf = false)
        .join(qv, Seq(queryIdCol))
        .join(itemVecs, Seq(itemCol))
        .select(F.col(queryIdCol), F.col(itemCol),
          AnnIndex.dot(F.col("_qv"), F.col("_iv")).as("score"))
    }
  }
}

final class PqAnn(
    val numSubspaces: Int = 8,
    val codebookSize: Int = 16,
    val candidatesPerQuery: Int = 200,
    val seed: Long = 42,
) extends AnnIndex {
  private var pq: graft.text.PqIndex = _
  private var itemVecs: DataFrame = _ // (itemId, _iv) for exact re-score
  private var exactItems: DataFrame = _
  private var itemCol: String = _

  def fit(itemVectors: DataFrame, idCol: String, vecCol: String): this.type = held.refit {
    itemCol = idCol
    if (itemVectors.count() < codebookSize * 4L) {
      exactItems = itemVectors.select(F.col(idCol), F.col(vecCol).as("_iv"))
    } else {
      itemVecs = held(itemVectors.select(F.col(idCol), F.col(vecCol).as("_iv")).cache())
      pq = new graft.text.PqIndex(numSubspaces, codebookSize, seed,
        idCol = idCol, vecCol = vecCol).fit(itemVectors)
      held(pq.codes)
    }
    this
  }

  def candidates(queryVecs: DataFrame, queryIdCol: String, vecCol: String): DataFrame = {
    val qv = queryVecs.select(F.col(queryIdCol), F.col(vecCol).as("_qv"))
    if (pq == null)
      qv.crossJoin(exactItems)
        .select(F.col(queryIdCol), F.col(itemCol),
          AnnIndex.dot(F.col("_qv"), F.col("_iv")).as("score"))
    else {
      // adcTopR reads the vector under the INDEX's column name
      val renamed = queryVecs.select(F.col(queryIdCol), F.col(vecCol).as(pq.vecCol))
      pq.adcTopR(renamed, queryIdCol, candidatesPerQuery, excludeSelf = false)
        .join(qv, Seq(queryIdCol))
        .join(itemVecs, Seq(itemCol))
        .select(F.col(queryIdCol), F.col(itemCol),
          AnnIndex.dot(F.col("_qv"), F.col("_iv")).as("score"))
    }
  }
}

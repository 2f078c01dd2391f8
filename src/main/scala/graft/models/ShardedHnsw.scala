package graft.models

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.core.Ops

/** Distributed (sharded) HNSW graph ANN — the unbounded-catalog companion
  * to the driver-built [[HnswAnn]].
  *
  * [[HnswAnn]] mirrors the reference's hnswlib extension shape
  * (replay/models/extensions/ann/index_builders/driver_hnswlib_index_builder
  * .py): the whole graph lives on one machine, guarded by `maxCollect`.
  * That bound is honest but real — past ~2M vectors the driver build is the
  * wall. This operator removes it with the standard index-sharding shape
  * (the same layout FAISS uses for multi-machine search): vectors hash-
  * partition into `nShards` disjoint shards, each shard builds its OWN
  * small-world graph executor-side, every query fans to all shards, and
  * the per-shard top-k lists merge into the global top-k.
  *
  * Spark shape — one `cogroup` on the shard id, zero driver collection:
  *  - shard assignment: `pmod(xxhash64(id), nShards)` (deterministic,
  *    layout-independent);
  *  - queries replicate nShards× (`explode(sequence(...))`) so each group
  *    sees (its shard's vectors, ALL queries);
  *  - inside each cogroup task the items iterator drains into a sorted-id
  *    [[HnswIndex]] build (the determinism contract carries over shard by
  *    shard: splitmix64 level draws keyed on the GLOBAL id, tie-breaks on
  *    (distance, index)), then the query iterator STREAMS through the
  *    graph — O(shard + beam) task memory, never O(corpus);
  *  - the merge is a per-query top-k over nShards·k candidate rows
  *    (a window over a bounded group — the only shuffle after the
  *    cogroup's own).
  *
  * Recall composition: the true global top-k is contained in the union of
  * the per-shard EXACT top-k, so the only recall loss is each shard's own
  * HNSW approximation — sharding composes, it does not compound (each
  * shard's graph is n/nShards vectors, which if anything RAISES per-shard
  * recall at fixed efSearch).
  *
  * At 100 TB: task memory is the per-shard graph (n/nShards · (d·8 +
  * ~1.5·m·4·2) bytes) — pick nShards so a shard fits an executor; search
  * cost is nQ · nShards beam walks, the price of the driver-free build.
  * For query-heavy workloads the driver-built broadcast graph stays the
  * better trade below `maxCollect`; this is the path beyond it.
  */
object ShardedHnsw {

  /** Cosine nearest-neighbor search, output-compatible with
    * [[HnswAnn.searchNeighbors]]: (query_id, neighbor_id, cosine, rank),
    * self-match excluded. */
  def searchNeighbors(vectors: DataFrame, queries: DataFrame, k: Int,
      nShards: Int = 4, m: Int = 16, efConstruction: Int = 200,
      efSearch: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42): DataFrame = {
    val perShard = shardedCandidates(vectors, queries, k + 1, nShards, m,
      efConstruction, math.max(efSearch, k + 1), idCol, vecCol, seed,
      metric = "cosine", excludeSelf = true)
    val w = Window.partitionBy("query_id")
      .orderBy(F.col("cosine").desc, F.col("neighbor_id").asc)
    perShard
      .withColumn("rank", F.row_number().over(w).cast("long"))
      .filter(F.col("rank") <= k)
  }

  /** Per-shard build + fan + per-shard top-`kPerShard` — the shared core.
    * Returns (query_id, neighbor_id, cosine|score) BEFORE the global
    * merge; callers crop. The per-query group after this is
    * nShards·kPerShard rows — bounded, so the merge window never sees an
    * unbounded partition. */
  private def shardedCandidates(vectors: DataFrame, queries: DataFrame,
      kPerShard: Int, nShards: Int, m: Int, efConstruction: Int,
      efSearch: Int, idCol: String, vecCol: String, seed: Long,
      metric: String, excludeSelf: Boolean): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val spark = vectors.sparkSession
    import spark.implicits._
    val items = vectors.select(
        F.pmod(F.xxhash64(F.col(idCol)), F.lit(nShards)).cast("int").as("_shard"),
        F.col(idCol).cast("long").as("_id"),
        F.col(vecCol).cast("array<double>").as("_v"))
      .as[(Int, Long, Seq[Double])]
    val qrep = queries.select(
        F.explode(F.sequence(F.lit(0), F.lit(nShards - 1))).as("_shard"),
        F.col(idCol).cast("long").as("_id"),
        F.col(vecCol).cast("array<double>").as("_v"))
      .as[(Int, Long, Seq[Double])]
    val (mm, efc, efs, sd, met, excl) =
      (m, efConstruction, efSearch, seed, metric, excludeSelf)
    items.groupByKey(_._1).cogroup(qrep.groupByKey(_._1)) { (_, its, qs) =>
      val rows = its.map(t => (t._2, t._3.toArray)).toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val idx = HnswIndex.fromRows(rows, mm, efc, met, sd)
        qs.flatMap { case (_, qid, qv) =>
          val hits = idx.search(qv.toArray, kPerShard, math.max(efs, kPerShard))
          (if (excl) hits.filter(_._1 != qid) else hits)
            .take(kPerShard)
            .map { case (nid, s) => (qid, nid, s) }
        }
      }
    }.toDF("query_id", "neighbor_id", "cosine")
  }
}

/** [[AnnIndex]] candidate generator over the sharded graph — the
  * recommender-side twin (inner-product metric, no self-exclusion), for
  * catalogs past [[HnswAnn]]'s `maxCollect`. `fit` only stamps and
  * persists the shard layout; graphs build inside the search cogroup
  * (batch-search semantics — the index IS the partitioned DataFrame,
  * nothing lives on the driver). */
final class ShardedHnswAnn(
    val nShards: Int = 4,
    val m: Int = 16,
    val efConstruction: Int = 200,
    val efSearch: Int = 64,
    val seed: Long = 42,
) extends AnnIndex {
  private var items: DataFrame = _
  private var itemCol: String = _
  private var itemVecCol: String = _

  def fit(itemVectors: DataFrame, idCol: String, vecCol: String): this.type = held.refit {
    itemCol = idCol
    itemVecCol = vecCol
    items = held(itemVectors.select(F.col(idCol), F.col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    this
  }

  def candidates(queryVecs: DataFrame, queryIdCol: String, vecCol: String): DataFrame = {
    val spark = queryVecs.sparkSession
    import spark.implicits._
    val ef = efSearch
    val (ns, mm, efc, sd) = (nShards, m, efConstruction, seed)
    val it = items.select(
        F.pmod(F.xxhash64(F.col(itemCol)), F.lit(ns)).cast("int").as("_shard"),
        F.col(itemCol).cast("long").as("_id"),
        F.col(itemVecCol).cast("array<double>").as("_v"))
      .as[(Int, Long, Seq[Double])]
    val qrep = queryVecs.select(
        F.explode(F.sequence(F.lit(0), F.lit(ns - 1))).as("_shard"),
        F.col(queryIdCol).cast("long").as("_id"),
        F.col(vecCol).cast("array<double>").as("_v"))
      .as[(Int, Long, Seq[Double])]
    val perShard = it.groupByKey(_._1).cogroup(qrep.groupByKey(_._1)) { (_, its, qs) =>
      val rows = its.map(t => (t._2, t._3.toArray)).toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val idx = HnswIndex.fromRows(rows, mm, efc, "dot", sd)
        qs.flatMap { case (_, qid, qv) =>
          idx.search(qv.toArray, ef, ef).map { case (nid, s) => (qid, nid, s) }
        }
      }
    }.toDF(queryIdCol, itemCol, "score")
    // global crop back to the efSearch contract rows per query (bounded
    // heap — O(ef) state, no sort of the nShards·ef candidate fan)
    Ops.getTopKRecsBounded(perShard, ef, queryIdCol, itemCol, "score")
  }
}

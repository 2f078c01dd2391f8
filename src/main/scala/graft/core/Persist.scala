package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.types.StructType

/** Materialization and release of frames a model or operator owns.
  *
  * Fitted model state is cached as a plan LEAF. A plain `state.cache()`
  * keeps, and prints, the physical plan that built the state inside its
  * InMemoryRelation; a model refit from merged, cached co-stats then nests
  * every earlier refit's plan, and every predict re-renders that text
  * (AQE rebuilds the explain string on each stage update), so serving
  * latency grew with the number of refits. [[leaf]] re-wraps the state's
  * rows as a fresh frame (`Scan ExistingRDD`) and caches that instead:
  *  - `unpersist()` frees it, like any cached frame;
  *  - the planner sees the real in-memory size once it is materialized, so
  *    small state still broadcasts;
  *  - lost blocks recompute from the RDD lineage.
  *
  * `localCheckpoint` is not used for state: `unpersist()` on a checkpointed
  * frame frees nothing (see [[releaseCheckpoint]]), and the checkpoint leaf
  * carries the ESTIMATED size of the plan it replaced, which can sit far
  * above the broadcast threshold for a small table. */
object Persist {

  /** Cache `state` as a single-node plan and materialize it eagerly
    * (reference `cache().count()`, pop_rec.py:135). The returned frame is
    * owned by the caller and released with `unpersist()`. */
  def leaf(state: DataFrame): DataFrame = leaf(state.sparkSession, state.rdd, state.schema)

  /** [[leaf]] of rows that are not a frame yet (rows built with RDD
    * operations, e.g. `zipWithIndex`). */
  def leaf(spark: SparkSession, rows: RDD[Row], schema: StructType): DataFrame = {
    val out = spark.createDataFrame(rows, schema).cache()
    // one job over the cache scan; `out.count()` would add a shuffle stage
    out.queryExecution.toRdd.count()
    out
  }

  /** `next`, after releasing `old`, the frame it replaces. A `cache()` of
    * the plan `old` was cached from reuses its cache entry (a refit on the
    * same input), so that entry stays for `next`. */
  private[graft] def replace(old: DataFrame, next: DataFrame): DataFrame = {
    if (old != null &&
        !old.queryExecution.analyzed.sameResult(next.queryExecution.analyzed))
      old.unpersist()
    next
  }

  /** Free the blocks of `localCheckpoint`ed frames, and of frames made
    * from a persisted RDD (MLlib's ALS factors). `Dataset.unpersist` does
    * not: such a block is no CacheManager entry but a persisted RDD under
    * the frame's `LogicalRDD` or `ExternalRDD`, which stays in
    * `getPersistentRDDs`. Frames planned on top of a checkpoint can no
    * longer be computed afterwards — release only superseded or fully
    * consumed checkpoints; an RDD with lineage recomputes. */
  def releaseCheckpoint(dfs: DataFrame*): Unit =
    dfs.foreach(_.queryExecution.logical.foreach {
      case r: LogicalRDD     => r.rdd.unpersist(blocking = true)
      case r: ExternalRDD[_] => r.rdd.unpersist(blocking = true)
      case _                 => ()
    })
}

package graft.core

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.types.StructType

/** Materialization and release of frames a model or operator owns.
  *
  * One rule for who releases a cached frame: an operator returns its
  * frames to the caller, who owns them; an [[Owner]] (a model, scenario
  * or ANN index) holds what it keeps between calls in its [[Holdings]],
  * and the holdings release it (see there).
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

/** A model, scenario or ANN index: something that keeps cached frames or
  * broadcasts between calls, in its [[Holdings]]. */
trait Owner {
  protected[graft] val held: Holdings = new Holdings

  /** Frees every frame and broadcast this owner holds, and its last
    * predict's scratch frames. The owner still works afterwards: a plan
    * whose cache is gone recomputes it. */
  def release(): Unit = held.release()
}

/** What one [[Owner]] keeps between calls, and the one rule for releasing
  * it. A fit or a refit from sufficient statistics runs as one [[refit]]
  * (a load fills a new owner's first generation); the state it builds is
  * held as it is assigned:
  *  - cached frames, `held(df)`, released with `unpersist()`;
  *  - broadcasts, `held(b)`, unpersisted and never destroyed, so a plan
  *    made before a refit still computes (its driver copy goes when no
  *    plan refers to it any more);
  *  - frames over persisted RDDs (MLlib's ALS factors), [[checkpointed]],
  *    released with [[Persist.releaseCheckpoint]];
  *  - other owners that are part of this one, `held(part)`, released
  *    with what they hold.
  * When the refit's body returns, whatever the previous generation held
  * and the new one, its parts included, does not reuse is released. A
  * frame cached from the plan an earlier frame was cached from shares
  * that frame's cache entry (a refit on the same input), so the entry
  * stays. A predict's cached
  * intermediates are [[scratch]], released when the next predict or refit
  * starts. A value held twice is held once. A part replaced outside a
  * refit (an ANN index swapped by `setAnn`) is released with [[drop]].
  * Frames a method caches and releases itself are not held; the
  * holdings change who releases a frame and when, never how it is cached. */
final class Holdings private[graft] () extends Serializable {
  import Holdings.Checkpointed

  private var kept: List[AnyRef] = Nil
  private var scratchFrames: List[DataFrame] = Nil

  private[graft] def apply(df: DataFrame): DataFrame = keep(df)
  private[graft] def apply[T](b: Broadcast[T]): Broadcast[T] = keep(b)
  private[graft] def apply[O <: Owner](part: O): O = keep(part)

  /** Holds frames whose blocks are persisted RDDs, not cache entries. */
  private[graft] def checkpointed(dfs: DataFrame*): Unit = dfs.foreach(df => keep(Checkpointed(df)))

  private def keep[T <: AnyRef](x: T): T = { if (!kept.contains(x)) kept ::= x; x }

  /** Holds `df`, a cached intermediate of the current predict. */
  private[graft] def scratch(df: DataFrame): DataFrame = { scratchFrames ::= df; df }

  private[graft] def releaseScratch(): Unit = {
    scratchFrames.foreach(_.unpersist())
    scratchFrames = Nil
  }

  /** Runs `body` as a new generation of the owner's state, then releases
    * what the previous generation held and the new one does not reuse. If
    * `body` fails, both generations stay held. */
  private[graft] def refit[T](body: => T): T = {
    releaseScratch()
    val previous = kept
    kept = Nil
    val out =
      try body
      catch { case e: Throwable => kept :::= previous; throw e }
    previous.foreach(freeUnlessIn(everything))
    out
  }

  /** Releases `x` now if it is held: a memo replaced by one for another
    * input, an ANN index swapped out. */
  private[graft] def drop(x: AnyRef): Unit = if (kept.contains(x)) {
    kept = kept.filterNot(_ == x)
    freeUnlessIn(everything)(x)
  }

  /** Releases everything held except what `current` reuses. */
  private[graft] def release(current: List[AnyRef] = Nil): Unit = {
    releaseScratch()
    val all = kept
    kept = Nil
    all.foreach(freeUnlessIn(current))
  }

  /** What the current generation holds, its parts' holdings included. */
  private def everything: List[AnyRef] = kept.flatMap {
    case part: Owner => part :: part.held.everything
    case x           => List(x)
  }

  /** Releases `x` unless `current` holds it or a frame with its cache
    * entry; a part that `current` does not hold releases what it holds on
    * the same terms (a replaced node of a HierarchicalRecommender shares
    * cache entries with the node that replaces it). */
  private def freeUnlessIn(current: List[AnyRef])(x: AnyRef): Unit = {
    val reused = current.exists(y => y == x || ((x, y) match {
      case (old: Dataset[_], df: Dataset[_]) =>
        old.queryExecution.analyzed.sameResult(df.queryExecution.analyzed)
      case _ => false
    }))
    if (!reused) x match {
      case df: Dataset[_]   => df.unpersist()
      case b: Broadcast[_]  => b.unpersist()
      case Checkpointed(df) => Persist.releaseCheckpoint(df)
      case part: Owner      => part.held.release(current)
    }
  }
}

private object Holdings {
  private final case class Checkpointed(df: DataFrame)
}

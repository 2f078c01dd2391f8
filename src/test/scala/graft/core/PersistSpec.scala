package graft.core

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec
import graft.models.CatPopRec
import graft.preprocessing.InteractionEntriesFilter
import graft.streaming.StreamingOps
import graft.text.{Bpe, Dedup}

class PersistSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Ids of persisted RDDs created after `mark` (an RDD id taken first). */
  private def persistedSince(mark: Int): Set[Int] =
    sc.getPersistentRDDs.keySet.filter(_ > mark).toSet
  private def mark(): Int = sc.emptyRDD[Int].id

  test("leaf: one-node plan, same rows, real size for the planner, unpersist frees it") {
    val state = spark.range(0, 200).select(
      (F.col("id") % 7).as("item_one"), F.col("id").as("item_two"),
      (F.col("id") / 3.0).as("similarity"))
      .groupBy("item_one").agg(F.max("similarity").as("similarity"))
    val leaf = Persist.leaf(state)
    assert(leaf.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(leaf.queryExecution.analyzed.collect { case p => p }.size == 1)
    assertSameRows(leaf, state.as[(Long, Double)].collect().toSeq)
    assert(leaf.storageLevel != StorageLevel.NONE, "the leaf must be a cache entry")
    // materialized: the in-memory size, not the unknown-RDD default
    // (Long.MaxValue), so small state still broadcasts
    val size = leaf.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < spark.sessionState.conf.autoBroadcastJoinThreshold, size)
    leaf.unpersist(blocking = true)
    assert(leaf.storageLevel == StorageLevel.NONE)
    assert(leaf.count() == 7, "released state recomputes from its lineage")
  }

  test("holdings: a refit releases what the new generation does not reuse, release the rest") {
    val m = mark()
    val h = new Holdings
    def table(n: Int) = spark.range(0, n).toDF("id")
    val part = new Owner {}
    val kept = h(table(10).cache())
    val replaced = h(table(20).cache())
    val bc = h(sc.broadcast(Array(1, 2, 3)))
    h(part)
    val partState = part.held(table(30).cache())
    val node = h(new Owner {})
    val nodeState = node.held(table(80).cache())
    val scratch = h.scratch(table(40).cache())
    Seq(kept, replaced, partState, nodeState, scratch).foreach(_.count())
    val next = h.refit {
      assert(scratch.storageLevel == StorageLevel.NONE, "a refit starts by releasing scratch")
      h(table(10).cache()) // the plan `kept` was cached from: one cache entry
      h(new Owner {}).held(table(80).cache()) // a new part reuses `nodeState`'s entry
      h(table(50).cache())
    }
    assert(nodeState.storageLevel.useMemory, "an entry a new part reuses stays")
    assert(kept.storageLevel.useMemory, "an entry the new generation reuses stays")
    assert(next.storageLevel.useMemory)
    assert(replaced.storageLevel == StorageLevel.NONE)
    assert(partState.storageLevel == StorageLevel.NONE, "a part is released with its owner")
    assert(bc.value.sum == 6, "a replaced broadcast is unpersisted, not destroyed")
    // a failing refit keeps both generations held
    val failed = table(60).cache()
    intercept[IllegalStateException](h.refit { h(failed); throw new IllegalStateException })
    assert(next.storageLevel.useMemory && failed.storageLevel.useMemory)
    h.checkpointed(table(70).localCheckpoint(true))
    h.release()
    assert(Seq(kept, next, failed).forall(_.storageLevel == StorageLevel.NONE))
    assert(persistedSince(m).isEmpty, persistedSince(m))
    assert(next.count() == 50, "released state recomputes")
  }

  test("releaseCheckpoint frees what Dataset.unpersist leaves persisted") {
    val m = mark()
    val cp = spark.range(0, 50).toDF("id").localCheckpoint(true)
    cp.unpersist(blocking = true)
    assert(persistedSince(m).size == 1, "unpersist leaves the checkpoint RDD persisted")
    Persist.releaseCheckpoint(cp)
    assert(persistedSince(m).isEmpty)
  }

  test("InteractionEntriesFilter keeps only its result checkpoint persisted") {
    // a chain of thinning rounds: each drop exposes new under-count rows
    val log = (for (u <- 1L to 12L; i <- 1L to u) yield (u, i)).toDF("query_id", "item_id")
    val m = mark()
    val out = InteractionEntriesFilter(minInterPerUser = Some(3),
      minInterPerItem = Some(3)).transform(log)
    assert(out.count() > 0)
    assert(persistedSince(m).size == 1, persistedSince(m))
    Persist.releaseCheckpoint(out)
    assert(persistedSince(m).isEmpty)
  }

  test("connected components keep only their result checkpoint persisted") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (cc <- Seq(
        (e: org.apache.spark.sql.DataFrame) => Dedup.connectedComponents(e, maxIter = 50),
        (e: org.apache.spark.sql.DataFrame) => Dedup.connectedComponentsLS(e))) {
      val m = mark()
      val out = cc(chain)
      assert(out.filter(F.col("component") =!= 0L).isEmpty)
      assert(persistedSince(m).size == 1, persistedSince(m))
      Persist.releaseCheckpoint(out)
      assert(persistedSince(m).isEmpty)
    }
  }

  test("streamingApplyChanges releases each batch's snapshot checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val snap = java.nio.file.Files.createTempDirectory("cdcleak").toString + "/snapshot"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(snap)
    val input = MemoryStream[(Long, String, String, Long)]
    val m = mark()
    val q = StreamingOps.streamingApplyChanges(
      input.toDF().toDF("id", "v", "op", "version"), snap, Seq("id"))
    try {
      for (b <- 1L to 3L) {
        input.addData((b, s"v$b", "upsert", b * 10)); q.processAllAvailable()
      }
    } finally q.stop()
    assert(spark.read.parquet(snap).count() == 3)
    assert(persistedSince(m).isEmpty, persistedSince(m))
  }

  test("distributed BPE training and CatPopRec's closure release their superseded frames") {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val corpus = Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
    val m = mark()
    val merges = Bpe.train(corpus, numMerges = 12, maxCollectWords = 0)
    assert(merges.count() >= 8, "the merge loop must reach its checkpoint round")
    assert(persistedSince(m).isEmpty, persistedSince(m))

    val tree = Seq(("root", null: String), ("a", "root"), ("b", "root"),
      ("a1", "a"), ("a2", "a")).toDF("category", "parent_cat")
    val m2 = mark()
    val cat = new CatPopRec(tree, Seq((0L, "a1"), (1L, "b")).toDF("item_id", "category"))
    assert(cat.leafClosure.count() == 8)
    val planned = cat.fit(Seq((0L, 0L), (1L, 0L), (2L, 1L)).toDF("query_id", "item_id"))
      .predict(Seq("root").toDF("category"), 2)
    cat.release()
    // the closure holds no blocks, and a predict planned before release() computes
    assert(persistedSince(m2).isEmpty, persistedSince(m2))
    assert(planned.as[(String, Long, Double)].collect().toSet ==
      Set(("root", 0L, 2.0 / 3), ("root", 1L, 1.0 / 3)))
  }
}

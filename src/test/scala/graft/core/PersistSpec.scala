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
    val closure = new CatPopRec(tree, Seq((0L, "a1")).toDF("item_id", "category"))
      .leafClosure
    assert(closure.count() == 8)
    Persist.releaseCheckpoint(closure)
    assert(persistedSince(m2).isEmpty, persistedSince(m2))
  }
}

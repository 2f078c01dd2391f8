package graft.models

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** The per-task top-k kernels of the one-pass predicts ([[ALSRec]]'s
  * exact path and [[NeighbourRec]]): each scores one user at a time over
  * broadcast model state, skips the user's seen items while scoring, and
  * keeps the best `k` in a bounded heap under (rating desc, item asc). */

/** A bounded heap of item indices that keeps the `capacity` best ones
  * offered under [[after]]. The kernels number items in ascending id
  * order, so an index breaks score ties as its item id does. */
private[models] abstract class IndexHeap(capacity: Int) {
  // a min-heap whose root ranks last
  private val heap = new Array[Int](math.max(0, capacity))
  private var size = 0

  /** Whether index `a` ranks after index `b`. */
  protected def after(a: Int, b: Int): Boolean

  protected def offer(j: Int): Unit =
    if (size < heap.length) { heap(size) = j; size += 1; siftUp(size - 1) }
    else if (size > 0 && after(heap(0), j)) { heap(0) = j; siftDown() }

  /** The kept indices, in heap order; empties the heap. */
  protected def drain(): Array[Int] = {
    val out = java.util.Arrays.copyOf(heap, size)
    size = 0
    out
  }

  private def siftUp(at: Int): Unit = {
    var c = at
    while (c > 0 && after(heap(c), heap((c - 1) / 2))) {
      swap(c, (c - 1) / 2); c = (c - 1) / 2
    }
  }

  private def siftDown(): Unit = {
    var p = 0
    var done = false
    while (!done) {
      val (l, r) = (2 * p + 1, 2 * p + 2)
      var m = p
      if (l < size && after(heap(l), heap(m))) m = l
      if (r < size && after(heap(r), heap(m))) m = r
      if (m == p) done = true else { swap(p, m); p = m }
    }
  }

  private def swap(a: Int, b: Int): Unit = {
    val t = heap(a); heap(a) = heap(b); heap(b) = t
  }
}

/** One task's exact ALS top-k: `ids` ascending, `mat` their rank × n
  * column-major factors. [[apply]] scores every item for one user, skips
  * the user's seen items and returns the top `k` of the rest, or all of
  * them when fewer, under (rating desc, item asc). The buffers are reused
  * from user to user, so an instance serves one task at a time. */
private[models] final class AlsTopK(ids: Array[Int], mat: Array[Float], rank: Int, k: Int)
    extends IndexHeap(math.min(k, ids.length)) {
  private val n = ids.length
  private val blas = dev.ludovic.netlib.blas.JavaBLAS.getInstance()
  private val scores = new Array[Float](n)
  private val skip = new Array[Boolean](n)

  protected def after(a: Int, b: Int): Boolean =
    scores(a) < scores(b) || (scores(a) == scores(b) && a > b)

  /** (item id, score) of the top unseen items; `seen` may be null. */
  def apply(user: Array[Float], seen: Array[Long]): Array[(Int, Float)] = {
    // the call MLlib's recommendForAll scores a block with
    blas.sgemv("T", rank, n, 1.0f, mat, 0, rank, user, 0, 1, 0.0f, scores, 0, 1)
    val marked = Option(seen).getOrElse(Array.emptyLongArray).collect {
      case s if s.isValidInt => java.util.Arrays.binarySearch(ids, s.toInt)
    }.filter(_ >= 0)
    marked.foreach(skip(_) = true)
    var j = 0
    while (j < n) {
      if (!skip(j)) offer(j)
      j += 1
    }
    marked.foreach(skip(_) = false)
    drain().map(i => (ids(i), scores(i)))
  }
}

/** A similarity table as CSR arrays over dense item indices: `ids` holds
  * every item_one and item_two ascending, and the row of item `ids(i)` is
  * `nbrs` (indices into `ids`) and `sims` from `offsets(i)` until
  * `offsets(i + 1)`. */
private[models] final case class NeighbourTable(
    ids: Array[Long], offsets: Array[Int], nbrs: Array[Int], sims: Array[Double]) {

  /** Whether each index's item is among `items`, a frame of one bigint
    * column (collected). */
  def mask(items: DataFrame): Array[Boolean] = {
    val out = new Array[Boolean](ids.length)
    items.distinct().collect().foreach { r =>
      if (!r.isNullAt(0)) {
        val i = java.util.Arrays.binarySearch(ids, r.getLong(0))
        if (i >= 0) out(i) = true
      }
    }
    out
  }
}

private[models] object NeighbourTable {
  /** Collects `(item_one, item_two, similarity)` rows as one primitive
    * array triple per partition (no per-row driver objects) and indexes
    * them; rows with a null column are skipped, as the history join
    * skipped them. Item ids must be integral. */
  def apply(similarity: DataFrame): NeighbourTable = {
    for (c <- Seq("item_one", "item_two"))
      require(Set[DataType](ByteType, ShortType, IntegerType, LongType)(similarity.schema(c).dataType),
        s"neighbour models need integral item ids, $c is ${similarity.schema(c).dataType}")
    val spark = similarity.sparkSession
    import spark.implicits._
    val parts = similarity
      .select(F.col("item_one").cast("long"), F.col("item_two").cast("long"),
        F.col("similarity").cast("double"))
      .na.drop()
      .as[(Long, Long, Double)]
      .mapPartitions { rows =>
        val (a, b, s) = (Array.newBuilder[Long], Array.newBuilder[Long], Array.newBuilder[Double])
        rows.foreach { case (x, y, v) => a += x; b += y; s += v }
        Iterator((a.result(), b.result(), s.result()))
      }.collect()
    val one = Array.concat(parts.map(_._1).toIndexedSeq: _*)
    val two = Array.concat(parts.map(_._2).toIndexedSeq: _*)
    val sim = Array.concat(parts.map(_._3).toIndexedSeq: _*)
    val all = Array.concat(one, two)
    java.util.Arrays.sort(all)
    var n = 0
    for (x <- all) if (n == 0 || all(n - 1) != x) { all(n) = x; n += 1 }
    val ids = java.util.Arrays.copyOf(all, n)
    val rowOf = one.map(java.util.Arrays.binarySearch(ids, _))
    val offsets = new Array[Int](n + 1)
    rowOf.foreach(r => offsets(r + 1) += 1)
    for (i <- 0 until n) offsets(i + 1) += offsets(i)
    val next = java.util.Arrays.copyOf(offsets, n)
    val nbrs = new Array[Int](one.length)
    val sims = new Array[Double](one.length)
    for (e <- one.indices) {
      val at = next(rowOf(e))
      nbrs(at) = java.util.Arrays.binarySearch(ids, two(e))
      sims(at) = sim(e)
      next(rowOf(e)) += 1
    }
    NeighbourTable(ids, offsets, nbrs, sims)
  }
}

/** One task's neighbour top-k over a [[NeighbourTable]]. A user's history
  * rows go in through [[add]], repeats included; [[finish]] returns the
  * user's top `k` candidates as (item, rating): a candidate's rating is
  * the sum of its similarities to every history row, rounded as Spark's
  * `round(·, 9)`. With `filterSeen`, candidates in the history are
  * skipped; with `allowed` (by index, null for all), only allowed
  * candidates score. The buffers are reused from user to user, so an
  * instance serves one task at a time. */
private[models] final class NeighbourTopK(t: NeighbourTable, allowed: Array[Boolean],
    k: Int, filterSeen: Boolean) extends IndexHeap(math.min(k, t.ids.length)) {
  private val n = t.ids.length
  private val scores = new Array[Double](n)
  private val touched = new Array[Boolean](n)
  private val seen = new Array[Boolean](n)
  // the current user's distinct candidates and seen items, by index
  private val cands = new Array[Int](n)
  private val marked = new Array[Int](n)
  private var nCands = 0
  private var nMarked = 0

  protected def after(a: Int, b: Int): Boolean = {
    val c = java.lang.Double.compare(scores(a), scores(b))
    c < 0 || (c == 0 && a > b)
  }

  def add(item: Long): Unit = {
    val i = java.util.Arrays.binarySearch(t.ids, item)
    if (i < 0) return
    if (filterSeen && !seen(i)) { seen(i) = true; marked(nMarked) = i; nMarked += 1 }
    var e = t.offsets(i)
    while (e < t.offsets(i + 1)) {
      val c = t.nbrs(e)
      if (allowed == null || allowed(c)) {
        // 0.0 + first term, as Spark's sum starts
        if (!touched(c)) { touched(c) = true; scores(c) = 0.0; cands(nCands) = c; nCands += 1 }
        scores(c) += t.sims(e)
      }
      e += 1
    }
  }

  def finish(): Array[(Long, Double)] = {
    var j = 0
    while (j < nCands) {
      val c = cands(j)
      touched(c) = false
      scores(c) = NeighbourTopK.round9(scores(c))
      if (!seen(c)) offer(c)
      j += 1
    }
    j = 0
    while (j < nMarked) { seen(marked(j)) = false; j += 1 }
    nCands = 0
    nMarked = 0
    drain().map(i => (t.ids(i), scores(i)))
  }
}

private[models] object NeighbourTopK {
  /** Spark's `round(x, 9)` on a double: HALF_UP on the shortest decimal
    * representation; NaN and infinities pass through. */
  def round9(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** The neighbour predict's partition function: `(query, item)` history
  * rows sorted by query in, one [[NeighbourTopK]] pass per query,
  * `(query, item, rating)` rows out. A named class rather than a lambda,
  * so that the plan prints the same text for every model instead of a
  * lambda's identity hash. */
private[models] final class NeighbourScorer(adjacency: Broadcast[NeighbourTable],
    allowed: Array[Boolean], k: Int, filterSeen: Boolean)
    extends (Iterator[Row] => Iterator[Row]) with Serializable {

  override def toString: String = s"NeighbourTopK(k=$k, filterSeen=$filterSeen)"

  def apply(rows: Iterator[Row]): Iterator[Row] = {
    val topK = new NeighbourTopK(adjacency.value, allowed, k, filterSeen)
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val q = in.head.get(0)
      while (in.hasNext && in.head.get(0) == q) {
        val r = in.next()
        if (!r.isNullAt(1)) topK.add(r.getLong(1))
      }
      topK.finish().iterator.map { case (i, s) => Row(q, i, s) }
    }
  }
}

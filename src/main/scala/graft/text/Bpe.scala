package graft.text

import graft.core.Persist
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.execution.LogicalRDD

/** Byte-pair-encoding tokenizer training + encoding (Sennrich, Haddow &
  * Birch 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") — the real BPE above the engine's GPT-2-style pre-tokenizer
  * ([[TextStats.preTokens]] is the regex FRONT half of that pipeline; this
  * is the learned back half).
  *
  * Training operates on the distinct-pre-token count table, the shape
  * every reference implementation (subword-nmt, HuggingFace tokenizers)
  * uses: corpus size only enters through ONE pre-token count aggregation;
  * after that, cost scales with the VOCABULARY (distinct pre-tokens),
  * not the corpus. Two twin paths, the SLIM pattern:
  *
  *  - driver path (`maxCollectWords` bound, like SLIM's CSC contract):
  *    collect the (word, count) table, run the merge loop in memory —
  *    the reference shape, fastest when the vocabulary fits;
  *  - distributed path (vocabulary above the bound): the symbol-sequence
  *    table stays a Dataset; each merge round is ONE adjacent-pair
  *    explode + groupBy-sum + bounded argmax (count desc, pair asc —
  *    fully deterministic), then a typed map applies the winning merge
  *    leftmost-first; lineage is truncated with `localCheckpoint` every
  *    few rounds (the label-propagation lesson, Dedup.clusterDuplicates).
  *    Both paths produce bit-identical merge tables (spec'd).
  *
  * Merge application follows the paper's in-order semantics: for each
  * learned merge, in learning order, fuse every leftmost-non-overlapping
  * adjacent occurrence in one pass. Encoding computes segmentations once
  * per DISTINCT pre-token and joins them back — at 100 TB the expensive
  * per-token loop touches the vocabulary, while the corpus-sized work is
  * one explode + one broadcast-able equi-join + one per-doc regroup.
  */
object Bpe {

  /** End-of-word marker (paper §3.2) — lets the model distinguish
    * word-final subwords; stripped again by [[encode]]'s output. */
  val Eow = "</w>"

  /** (word, count) pre-token frequency table for a document corpus. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(F.explode(TextStats.preTokens(F.col(textCol))).as("word"))
      .filter(F.trim(F.col("word")) =!= "")
      .select(F.trim(F.col("word")).as("word"))
      .groupBy("word").agg(F.count(F.lit(1)).as("n"))

  /** Train `numMerges` merges; returns the ordered merge table
    * (step BIGINT, left, right, count BIGINT). Stops early when no
    * adjacent pair repeats. */
  def train(docs: DataFrame, numMerges: Int, textCol: String = "text",
      addEow: Boolean = true, maxCollectWords: Int = 2000000): DataFrame = {
    val wc = wordCounts(docs, textCol).cache()
    val nWords = wc.count()
    val merges =
      if (nWords <= maxCollectWords) {
        val rows = wc.collect().map(r => (r.getString(0), r.getLong(1)))
        trainDriver(rows, numMerges, addEow)
      } else trainDistributed(wc, numMerges, addEow)
    wc.unpersist()
    val spark = docs.sparkSession
    spark.createDataFrame(merges.zipWithIndex.map { case ((l, r, c), i) =>
      (i.toLong, l, r, c)
    }).toDF("step", "left", "right", "count")
  }

  /** Initial symbol sequence of a word: CODEPOINTS (not UTF-16 units —
    * splitting a surrogate pair would make invalid symbols and disagree
    * with every codepoint-based reference), plus the EOW mark. */
  private def symbols(word: String, addEow: Boolean): Vector[String] = {
    val chars = Vector.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      chars += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    val v = chars.result()
    if (addEow) v :+ Eow else v
  }

  /** One in-order merge pass: fuse every leftmost-non-overlapping
    * adjacent (l, r) occurrence. */
  private[text] def applyMerge(syms: Vector[String], l: String,
      r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Reference in-memory merge loop over the collected count table. */
  private def trainDriver(words: Array[(String, Long)], numMerges: Int,
      addEow: Boolean): Seq[(String, String, Long)] = {
    var seqs: Array[(Vector[String], Long)] =
      words.map { case (w, n) => (symbols(w, addEow), n) }
    val out = Seq.newBuilder[(String, String, Long)]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val counts = collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (s, n) =>
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      val best = counts.filter(_._2 > 1)
      if (best.isEmpty) done = true
      else {
        // deterministic argmax: count desc, then pair lexicographic asc
        val ((l, r), c) = best.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((l, r, c))
        seqs = seqs.map { case (s, n) => (applyMerge(s, l, r), n) }
        step += 1
      }
    }
    out.result()
  }

  /** Distributed merge loop: the symbol table never leaves the cluster.
    * Each round: adjacent-pair explode → groupBy-sum → 1-row argmax
    * (driver state = one pair), then a typed map applies the merge. */
  private def trainDistributed(wc: DataFrame, numMerges: Int,
      addEow: Boolean): Seq[(String, String, Long)] = {
    val spark = wc.sparkSession
    import spark.implicits._
    val eow = addEow
    var seqs = wc.select(F.col("word"), F.col("n"))
      .as[(String, Long)]
      .map { case (w, n) => (symbols(w, eow), n) }
      .toDF("syms", "n")
      .persist()
    seqs.count()
    // seqs is a cached frame, or every 8th round a checkpoint, which
    // `unpersist()` does not free
    def release(df: DataFrame): Unit =
      if (df.queryExecution.logical.isInstanceOf[LogicalRDD]) Persist.releaseCheckpoint(df)
      else df.unpersist()
    val out = Seq.newBuilder[(String, String, Long)]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val pairs = seqs
        .select(F.posexplode(F.slice(F.col("syms"), F.lit(1),
            F.greatest(F.size(F.col("syms")) - 1, F.lit(0))))
          .as(Seq("_i", "_l")), F.col("syms"), F.col("n"))
        .select(F.col("_l"),
          F.element_at(F.col("syms"), F.col("_i") + 2).as("_r"), F.col("n"))
        .groupBy("_l", "_r").agg(F.sum("n").as("_c"))
        .filter(F.col("_c") > 1)
        .orderBy(F.col("_c").desc, F.col("_l").asc, F.col("_r").asc)
        .limit(1).collect()
      if (pairs.isEmpty) done = true
      else {
        val (l, r, c) = (pairs(0).getString(0), pairs(0).getString(1),
          pairs(0).getLong(2))
        out += ((l, r, c))
        val next = seqs.as[(Seq[String], Long)]
          .map { case (s, n) => (applyMerge(s.toVector, l, r), n) }
          .toDF("syms", "n")
          .persist()
        // truncate lineage every few rounds — 50 chained maps would
        // otherwise rebuild the whole merge history on every job
        val mat = if ((step + 1) % 8 == 0) next.localCheckpoint() else next
        mat.count()
        if (mat ne next) next.unpersist()
        release(seqs)
        seqs = mat
        step += 1
      }
    }
    release(seqs)
    out.result()
  }

  /** Segment one word with an ordered merge list (paper in-order
    * application: each merge, one leftmost-first pass). */
  private[text] def segment(word: String, merges: Seq[(String, String)],
      addEow: Boolean): Vector[String] = {
    var s = symbols(word, addEow)
    merges.foreach { case (l, r) => s = applyMerge(s, l, r) }
    s
  }

  /** Encode a corpus with a learned merge table: per-doc BPE tokens
    * (EOW marks stripped) and counts. Segmentations are computed once
    * per DISTINCT pre-token (typed map over the vocabulary) and joined
    * back to the exploded corpus; per-doc order is preserved through the
    * pre-token position. Output: (docIdCol, bpe_tokens array<string>,
    * n_bpe_tokens, n_pretokens). */
  def encode(docs: DataFrame, mergeTable: DataFrame,
      docIdCol: String = "doc_id", textCol: String = "text",
      addEow: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges: Seq[(String, String)] = mergeTable
      .orderBy("step").select("left", "right")
      .as[(String, String)].collect().toSeq
    val eow = addEow
    val exploded = docs.select(F.col(docIdCol),
        F.posexplode(TextStats.preTokens(F.col(textCol))).as(Seq("pos", "word")))
      .filter(F.trim(F.col("word")) =!= "")
      .select(F.col(docIdCol), F.col("pos"), F.trim(F.col("word")).as("word"))
    val vocab = exploded.select("word").distinct()
      .as[String]
      .map { w =>
        val seg = segment(w, merges, eow)
          .map(s => if (s.endsWith(Eow)) s.dropRight(Eow.length) else s)
          .filter(_.nonEmpty)
        (w, seg)
      }
      .toDF("word", "_seg")
    exploded.join(vocab, Seq("word"))
      .groupBy(docIdCol)
      .agg(
        F.flatten(F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("_seg")))),
          s => s.getField("_seg"))).as("bpe_tokens"),
        F.count(F.lit(1)).as("n_pretokens"))
      .select(F.col(docIdCol), F.col("bpe_tokens"),
        F.size(F.col("bpe_tokens")).cast("long").as("n_bpe_tokens"),
        F.col("n_pretokens"))
  }
}

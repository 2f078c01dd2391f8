package graft.text

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Document deduplication at training-corpus scale.
  *
  * Four tiers, cheapest first:
  *  1. exact   — hash-groupBy on a normalized fingerprint (one shuffle)
  *  2. minhash — MinHash signatures + LSH banding → candidate pairs via a
  *               bucket equi-join (never all-pairs)
  *  3. simhash — 64-bit sign-sum hash; near-dups share most bits
  *  4. ngram   — exact Jaccard on shingle sets, for verifying candidates
  *
  * All are expression + join pipelines: no UDFs, no driver collects, and
  * every pair-producing step is blocked (bucket or shared-shingle joins),
  * so cost scales with duplicate density rather than |docs|².
  */
object Dedup {

  /** Exact dedup groups: fingerprint → canonical (min) id + group size. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextStats.fingerprint(F.col(textCol)).as("fingerprint"))
      .agg(F.min(idCol).as("canonical_id"), F.count(F.lit(1)).as("n_docs"))

  /** Rows whose id is not its group's canonical id (the droppable set). */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextStats.fingerprint(F.col(textCol)))
    docs.withColumn("_canon", F.min(idCol).over(w))
      .filter(F.col(idCol) =!= F.col("_canon"))
      .select(F.col(idCol), F.col("_canon").as("canonical_id"))
  }

  /** Word k-gram shingles, distinct. Docs shorter than k tokens yield an
    * empty array (guard needed: Spark's sequence(0, n) with n<0 produces a
    * DESCENDING sequence, not an empty one). */
  def shingles(text: Column, k: Int = 3): Column = {
    val ts = TextStats.tokens(F.lower(text))
    F.when(F.size(ts) >= k,
      F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size(ts) - k),
          i => F.concat_ws(" ", F.slice(ts, i + 1, F.lit(k))))))
      .otherwise(F.array())
  }

  /** Portable seeded hash of a string column (md5-derived 60-bit int, same
    * value in any engine — the shared [[graft.core.PortableHash]] recipe);
    * xxhash64 variant for production speed. */
  def portableHash(seed: Int, c: Column): Column =
    graft.core.PortableHash.long(seed.toLong, c)
  def fastHash(seed: Int, c: Column): Column = F.xxhash64(F.lit(seed), c)

  /** Modulus for the universal-hash permutation family (2^31 − 1, prime). */
  val MinhashPrime = 2147483647L

  private def mixConst(tag: String, p: Int, mod: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag:$p".getBytes("UTF-8"))
    val hex = d.take(8).map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % mod
  }
  /** Per-permutation universal-hash constants h_p(x) = (a_p·x + b_p) mod P.
    * MD5-derived on the driver so the DuckDB oracle can interpolate the
    * same decimal literals — the permuted hashes are engine-portable. */
  def mixA(p: Int): Long = 1L + mixConst("mixa", p, MinhashPrime - 1)
  def mixB(p: Int): Long = mixConst("mixb", p, MinhashPrime)

  /** One permuted hash: base hash folded into [0, P), then a·x+b mod P.
    * a < P < 2^31 and x < 2^31 keep a·x+b < 2^62 — no Long overflow
    * (ANSI mode would throw, not wrap). */
  private def permuted(p: Int, baseHash: Column): Column =
    (F.lit(mixA(p)) * baseHash + F.lit(mixB(p))) % MinhashPrime

  /** MinHash signature: for each of `numPerms` permutations, the min
    * permuted hash over the doc's shingles. Each shingle is hashed ONCE
    * (seed 0); the `numPerms` permutations are cheap linear mixes of that
    * one hash — the classic universal-hashing trick, 16× less md5/xxhash
    * work than hashing per (perm, shingle).
    * (Expression form — fine for few perms; the frame-level
    * `minhashSignatures` is the scalable path.) */
  def minhashSignature(text: Column, numPerms: Int,
      hash: (Int, Column) => Column = fastHash): Column = {
    val hs = F.transform(shingles(text), s => F.pmod(hash(0, s), F.lit(MinhashPrime)))
    F.array((0 until numPerms).map { p =>
      F.array_min(F.transform(hs, h => permuted(p, h)))
    }: _*)
  }

  /** (id, signature array) via the relational route: explode shingles →
    * one base hash per shingle row (a concrete projected column, so the
    * per-perm aggregates reference it instead of re-inlining the md5 —
    * Spark has no CSE across aggregate expressions) → ONE groupBy with
    * `numPerms` min aggregates. One shuffle of |doc|·|shingles| narrow
    * rows; no per-perm row blowup, no second shuffle. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int, hash: (Int, Column) => Column = fastHash): DataFrame = {
    val sh = docs
      .select(F.col(idCol), F.explode(shingles(F.col(textCol))).as("_s"))
      .select(F.col(idCol), F.pmod(hash(0, F.col("_s")), F.lit(MinhashPrime)).as("_h"))
    sh.groupBy(idCol)
      .agg(F.array((0 until numPerms).map(p => F.min(permuted(p, F.col("_h")))): _*)
        .as("_sig"))
  }

  /** LSH candidate pairs: split the signature into bands of `bandSize`;
    * docs sharing any full band land in the same bucket. One shuffle on
    * (band index, band signature) — never an all-pairs product. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, bandSize: Int = 4,
      hash: (Int, Column) => Column = fastHash,
      precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val numBands = numPerms / bandSize
    val sigs = precomputedSigs.getOrElse(
      minhashSignatures(docs, idCol, textCol, numPerms, hash))
    val bands = sigs.select(F.col(idCol), F.explode(F.array(
      (0 until numBands).map { b =>
        F.struct(F.lit(b).as("band"),
          F.concat_ws(",", F.transform(
            F.slice(F.col("_sig"), b * bandSize + 1, bandSize),
            x => x.cast("string"))).as("sig"))
      }: _*)).as("_b"))
      .select(F.col(idCol), F.col("_b.band").as("band"), F.col("_b.sig").as("sig"))
    val a = bands.withColumnRenamed(idCol, "id_a")
    val b2 = bands.withColumnRenamed(idCol, "id_b")
    a.join(b2, Seq("band", "sig"))
      .filter(F.col("id_a") < F.col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Estimated Jaccard for candidate pairs = matching signature positions /
    * numPerms (verification step after LSH). */
  def minhashSimilarity(candidates: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, numPerms: Int = 16,
      hash: (Int, Column) => Column = fastHash,
      precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val sigs = precomputedSigs.getOrElse(
      minhashSignatures(docs, idCol, textCol, numPerms, hash))
    candidates
      .join(sigs.select(F.col(idCol).as("id_a"), F.col("_sig").as("_sa")), Seq("id_a"))
      .join(sigs.select(F.col(idCol).as("id_b"), F.col("_sig").as("_sb")), Seq("id_b"))
      .select(F.col("id_a"), F.col("id_b"),
        (F.size(F.filter(F.zip_with(F.col("_sa"), F.col("_sb"),
          (x, y) => x === y), (b: Column) => b)).cast("double") / numPerms).as("est_jaccard"))
  }

  /** Band/row planner for the MinHash LSH (the datasketch
    * `_optimal_param` S-curve optimization): among the (bands b, rows r)
    * factorizations with b·r ≤ `numPerms`, pick the one minimizing
    * `fpWeight·∫₀ᵗ P(s) ds + fnWeight·∫ₜ¹ (1 − P(s)) ds`, where
    * `P(s) = 1 − (1 − sʳ)ᵇ` is the probability two documents with
    * Jaccard similarity s share at least one band bucket. Pure driver
    * math (trapezoid integration) — run it once before committing a
    * banding configuration to a corpus, the same pre-flight contract as
    * `Similarity.planesFor` / `SemDedup.clusterStats`.
    * Returns (bands, bandSize). */
  def lshPlan(threshold: Double, numPerms: Int, fpWeight: Double = 0.5,
      fnWeight: Double = 0.5): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    require(numPerms >= 2, s"numPerms >= 2: $numPerms")
    val steps = 1000
    def pCollide(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
    def err(b: Int, r: Int): Double = {
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = pCollide(s, b, r)
        if (s < threshold) fp += p else fn += 1.0 - p
        i += 1
      }
      (fpWeight * fp + fnWeight * fn) / steps
    }
    val candidates = for {
      r <- 1 to numPerms
      b = numPerms / r
      if b >= 1
    } yield (b, r)
    candidates.minBy { case (b, r) => (err(b, r), -b * r) }
  }

  /** Edit-distance verification of candidate pairs — the LAST-MILE exact
    * check fuzzy-dedup ladders run after the cheap signal (MinHash/SimHash
    * finds the bucket, Levenshtein confirms the pair). Joins the pair
    * frame back to its texts and emits the raw distance plus the
    * normalized similarity `1 − dist / max(len_a, len_b)` the thresholds
    * are usually stated in. Levenshtein is a native codegen'd expression
    * (and exists verbatim in SQL engines), so the tier is cross-engine
    * checkable. O(len²) per pair — that is WHY it runs only on the LSH
    * candidate slice, never all pairs; texts are whitespace-normalized
    * first (the same normal form the exact-dedup fingerprint uses).
    * `maxLen` truncates both sides (Spark caps levenshtein inputs; long
    * docs should be compared by the cheaper tiers anyway). */
  def editDistanceVerify(candidates: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      maxLen: Int = 1000): DataFrame = {
    val norm = F.substring(
      F.lower(F.regexp_replace(F.trim(F.col(textCol)), "\\s+", " ")), 1, maxLen)
    val t = docs.select(F.col(idCol), norm.as("_t"))
    candidates
      .join(t.select(F.col(idCol).as("id_a"), F.col("_t").as("_ta")), Seq("id_a"))
      .join(t.select(F.col(idCol).as("id_b"), F.col("_t").as("_tb")), Seq("id_b"))
      .select(F.col("id_a"), F.col("id_b"),
        F.levenshtein(F.col("_ta"), F.col("_tb")).cast("long").as("edit_dist"),
        (F.lit(1.0) - F.levenshtein(F.col("_ta"), F.col("_tb")).cast("double") /
          F.greatest(F.length(F.col("_ta")), F.length(F.col("_tb")))
            .cast("double")).as("edit_sim"))
      .withColumn("is_dup", F.col("edit_sim") >= threshold)
  }

  /** SimHash: bit b is the sign of Σ_tokens (±1 by token-hash bit b).
    * Near-duplicate docs agree on most bits; Hamming distance via
    * bit_count(xor). `bits` ≤ 63. */
  def simhash(text: Column, bits: Int = 64,
      hash: (Int, Column) => Column = fastHash): Column = {
    val ts = F.array_distinct(TextStats.tokens(F.lower(text)))
    val hs = F.transform(ts, t => hash(0, t))
    (0 until bits).map { b =>
      val bitSum = F.aggregate(hs, F.lit(0L), (acc, h) =>
        acc + F.when(F.shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      F.when(bitSum > 0, F.shiftleft(F.lit(1L), b)).otherwise(F.lit(0L))
    }.reduce(_ + _)
  }

  /** Connected components over an undirected edge list — the clustering
    * step that turns LSH candidate PAIRS into duplicate GROUPS (a pair list
    * alone can't answer "which docs survive": near-dup relations chain,
    * A~B~C must collapse to one representative).
    *
    * Iterative min-label propagation: every node starts labeled with its
    * own id; each round a node takes the min label over itself and its
    * neighbors; fixpoint = every node holds the min id of its component.
    * Rounds needed = graph diameter — small for dedup graphs (duplicate
    * clusters are dense), and each round is one equi-join + one groupBy
    * min, both plain shuffles on the node id, so the algorithm is
    * all-executor with no driver state. The edge list is persisted
    * pre-partitioned on the join key so only the (small) label frame
    * re-shuffles per round; `localCheckpoint` truncates the per-iteration
    * lineage that would otherwise grow unboundedly.
    *
    * Returns (node, component) with component = min node id reachable.
    * Isolated docs (no candidate pair) never enter the frame — they are
    * their own components implicitly. */
  def connectedComponents(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b", maxIter: Int = 25): DataFrame = {
    val sym = edges
      .select(F.col(srcCol).cast("long").as("node"), F.col(dstCol).cast("long").as("_nb"))
      .union(edges
        .select(F.col(dstCol).cast("long").as("node"), F.col(srcCol).cast("long").as("_nb")))
      .distinct()
      .repartition(F.col("_nb")) // join key below — reused every round
      .persist()
    var labels = sym.select(F.col("node"), F.col("node").as("component"))
      .distinct().localCheckpoint(true)
    var iter = 0
    var converged = sym.isEmpty
    while (!converged && iter < maxIter) {
      val viaNeighbor = sym
        .join(labels.select(F.col("node").as("_nb"), F.col("component")), Seq("_nb"))
        .select("node", "component")
      val next = labels.union(viaNeighbor)
        .groupBy("node").agg(F.min("component").as("component"))
        .localCheckpoint(true)
      converged = next
        .join(labels.withColumnRenamed("component", "_old"), Seq("node"))
        .filter(F.col("component") < F.col("_old")).isEmpty
      graft.core.Persist.releaseCheckpoint(labels)
      labels = next
      iter += 1
    }
    sym.unpersist()
    labels
  }

  /** [[connectedComponents]] twin with O(log n)-round convergence:
    * alternating large-star / small-star (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond"). Min-label propagation needs
    * diameter-many rounds — fine for dense duplicate clusters, quadratic
    * pain on a 10⁶-node chain (log-style corpora where doc N near-dups
    * doc N+1). Each star round is one groupBy-min + one equi-join on the
    * node id, same all-executor shape, but the edge set CONTRACTS toward
    * a star forest instead of labels crawling one hop per round:
    *
    *  - large-star: per node u, hook every LARGER neighbor v > u to
    *    m = min(Γ(u) ∪ u) — safe in parallel because v only ever moves to
    *    a node smaller than itself;
    *  - small-star: per node u over its smaller-or-self neighborhood,
    *    re-point everything at the local min.
    *
    * Fixpoint = the edge list is exactly {(node, component-min)} — checked
    * EXACTLY per round (two anti-joins), no checksum heuristics. Output
    * matches [[connectedComponents]]: (node, component) for every node
    * appearing in an edge, component = min reachable id. */
  def connectedComponentsLS(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b", maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    def canon(df: DataFrame): DataFrame = df
      .select(F.greatest(F.col("u"), F.col("v")).as("u"),
        F.least(F.col("u"), F.col("v")).as("v"))
      .filter(F.col("u") =!= F.col("v")).distinct()
    var e = canon(edges.select(
      F.col(srcCol).cast("long").as("u"), F.col(dstCol).cast("long").as("v")))
      .localCheckpoint(true)
    var iter = 0
    var converged = e.isEmpty
    while (!converged && iter < maxIter) {
      // large-star: hook every larger neighbor to the closed-neighborhood min
      val sym = e.union(e.select(F.col("v").as("u"), F.col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).as("m"))
      val ls = canon(sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").as("u"), F.col("m").as("v")))
      // small-star: re-point the smaller-or-self neighborhood at its min
      // (edges already oriented u > v by canon)
      val sMins = ls.groupBy("u").agg(F.min("v").as("m"))
      val joined = ls.join(sMins, "u")
      val ss = canon(
        joined.filter(F.col("v") =!= F.col("m"))
          .select(F.col("v").as("u"), F.col("m").as("v"))
        .union(joined.select(F.col("u"), F.col("m").as("v"))))
        .localCheckpoint(true)
      converged = ss.except(e).isEmpty && e.except(ss).isEmpty
      graft.core.Persist.releaseCheckpoint(e) // superseded — don't accumulate round blocks
      e = ss
      iter += 1
    }
    // an unconverged edge set is NOT a star forest: the projection below
    // would emit conflicting component labels per node (worse than
    // min-label's single-but-stale labels) — refuse instead. log₂-round
    // convergence means the default budget covers any physical graph.
    require(converged,
      s"connectedComponentsLS did not reach the star-forest fixpoint in " +
        s"$maxIter rounds — raise maxIter")
    e.select(F.col("u").as("node"), F.col("v").as("component"))
      .union(e.select(F.col("v").as("node"), F.col("v").as("component")))
      .distinct()
  }

  /** Survivors after cluster-level dedup: drop every doc that belongs to a
    * component but is not its (min-id) representative. Docs outside any
    * pair survive untouched — one anti-join, no full-catalog shuffle of
    * doc payloads. */
  def keepClusterRepresentatives(docs: DataFrame, idCol: String,
      components: DataFrame): DataFrame =
    docs.join(
      components.filter(F.col("node") =!= F.col("component"))
        .select(F.col("node").as(idCol)),
      Seq(idCol), "left_anti")

  /** Frequency-aware soft dedup: instead of collapsing each exact-duplicate
    * group to one doc, keep ceil(|group|^alpha) of them (alpha=0.5 → sqrt
    * scaling), chosen deterministically by a portable seeded hash — the
    * standard "don't fully flatten the natural duplication signal" policy
    * for LLM corpora. One fingerprint shuffle; the per-group rank is a
    * bounded window inside each duplicate group. */
  def softDedup(docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5, seed: Int = 7): DataFrame = {
    val fp = TextStats.fingerprint(F.col(textCol))
    val w = Window.partitionBy("_fp")
    val keyed = docs.withColumn("_fp", fp)
      .withColumn("_r", portableHash(seed, F.col(idCol)))
    val ranked = keyed
      .withColumn("_rn", F.row_number().over(
        w.orderBy(F.col("_r"), F.col(idCol))))
      .withColumn("_n", F.count(F.lit(1)).over(w))
    ranked
      .filter(F.col("_rn") <= F.ceil(F.pow(F.col("_n"), F.lit(alpha))))
      .drop("_fp", "_r", "_rn", "_n")
  }

  /** CCNet-style line-level dedup (Wenzek et al. 2020 §3.1: boilerplate —
    * nav bars, cookie banners, license footers — is removed by dropping
    * LINES duplicated across documents, before any document-level dedup):
    * a line is dropped when its normalized fingerprint appears in ≥
    * `minDocs` DISTINCT documents; survivors reassemble in original order.
    * Every input document comes back (fully-boilerplate docs with empty
    * text and n_lines_kept = 0).
    *
    * Scale shape: one posexplode (|lines| rows), one fingerprint groupBy
    * (map-side combined down to |distinct lines|), one anti-join against
    * the frequent-line set — which is the boilerplate vocabulary, tiny
    * next to the corpus, hence a broadcast candidate — and one per-doc
    * regroup. No pair joins, no driver state. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 2): DataFrame = {
    val lines = docs.select(F.col(idCol),
        F.posexplode(F.split(F.col(textCol), "\n")).as(Seq("_pos", "_line")))
      .withColumn("_fp", TextStats.fingerprint(F.col("_line")))
    val frequent = lines.groupBy("_fp")
      .agg(F.countDistinct(idCol).as("_ndocs"))
      .filter(F.col("_ndocs") >= minDocs)
      .select("_fp")
    val kept = lines.join(F.broadcast(frequent), Seq("_fp"), "left_anti")
    docs.select(F.col(idCol)).join(
      kept.groupBy(idCol).agg(
        F.array_join(F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("_pos"), F.col("_line")))),
          s => s.getField("_line")), "\n").as("clean_text"),
        F.count(F.lit(1)).as("n_lines_kept")),
      Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("clean_text"), F.lit("")).as("clean_text"),
        F.coalesce(F.col("n_lines_kept"), F.lit(0L)).as("n_lines_kept"))
  }

  /** Benchmark-contamination check (the decontamination pass every
    * training pipeline runs before a model ships): per corpus doc, the
    * fraction of its distinct word n-grams that appear ANYWHERE in the
    * benchmark corpus. Docs with no n-grams (shorter than n tokens) report
    * 0. Scale shape: the benchmark n-gram set is tiny next to the corpus
    * (eval suites vs 100 TB), so the join is a broadcast semi-join against
    * the exploded corpus shingles — never corpus × corpus. */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val sh = corpus.select(F.col(idCol), shingles(F.col(textCol), n).as("_shs"))
      .select(F.col(idCol), F.size(F.col("_shs")).cast("long").as("n_ngrams"),
        F.explode_outer(F.col("_shs")).as("_sgl"))
    val bench = benchmark
      .select(F.explode(shingles(F.col(textCol), n)).as("_sgl")).distinct()
    sh.join(F.broadcast(bench.withColumn("_hit", F.lit(1L))), Seq("_sgl"), "left")
      .groupBy(idCol)
      .agg(F.max("n_ngrams").as("n_ngrams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        F.when(F.col("n_ngrams") > 0,
          F.col("n_contaminated").cast("double") / F.col("n_ngrams"))
          .otherwise(F.lit(0.0)))
  }

  /** Exact n-gram Jaccard over candidate pairs blocked by a key column
    * (e.g. source): pairs sharing ≥1 shingle, J = |∩| / (|A|+|B|−|∩|). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int = 3, threshold: Double = 0.0): DataFrame = {
    val sh = docs.select(F.col(idCol), F.col(blockCol).as("_blk"),
      shingles(F.col(textCol), k).as("_sh"))
      .withColumn("_n", F.size(F.col("_sh")))
    val exploded = sh.select(F.col(idCol), F.col("_blk"), F.col("_n"),
      F.explode(F.col("_sh")).as("_s"))
    val a = exploded.select(F.col(idCol).as("id_a"), F.col("_blk"),
      F.col("_n").as("na"), F.col("_s"))
    val b = exploded.select(F.col(idCol).as("id_b"), F.col("_blk"),
      F.col("_n").as("nb"), F.col("_s"))
    a.join(b, Seq("_blk", "_s"))
      .filter(F.col("id_a") < F.col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(F.count(F.lit(1)).as("_inter"))
      .withColumn("jaccard",
        F.col("_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("_inter")))
      .filter(F.col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-document repeated-substring statistics — the exact-substring
    * dedup signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"), computed relationally instead of via a
    * suffix array: every k-token window's rolling hash
    * (TextStats.windowHashes), grouped across the corpus; a window whose
    * hash spans ≥ 2 DISTINCT docs is a repeated span. Returns one row per
    * doc: (id, n_windows, n_dup_windows, has_dup).
    *
    * Scale shape: windows explode to n·(per-doc tokens − k + 1) rows, but
    * the duplicate-hash vocabulary is found by ONE groupBy (map-side
    * combined) and the verdict join is hash-equi on the window hash — no
    * pair joins, no suffix array on any single machine. The reference
    * suffix-array pipeline is a driver-side external tool; this is the
    * Spark-native shape of the same signal. False positives are
    * Karp–Rabin collisions (~n_windows²/2³¹ expected pairs); callers
    * needing certainty re-verify flagged spans exactly. */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8,
      tokenHash: Column => Column = t => F.xxhash64(t)): DataFrame = {
    val wh = docs.select(F.col(idCol),
      F.explode(TextStats.windowHashes(F.col(textCol), k, tokenHash)).as("_wh"))
    val dup = wh.groupBy("_wh")
      .agg(F.countDistinct(idCol).as("_nd")).filter(F.col("_nd") >= 2)
      .select("_wh").withColumn("_hit", F.lit(1L))
    val st = wh.join(dup, Seq("_wh"), "left")
      .groupBy(idCol).agg(
        F.count(F.lit(1)).as("n_windows"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0L))).as("n_dup_windows"))
    docs.select(idCol).distinct()
      .join(st, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("n_windows"), F.lit(0L)).as("n_windows"),
        F.coalesce(F.col("n_dup_windows"), F.lit(0L)).as("n_dup_windows"),
        (F.coalesce(F.col("n_dup_windows"), F.lit(0L)) > 0L).as("has_dup"))
  }

  /** The substring-dedup OPERATION on top of [[substringDupStats]]'s
    * signal: drop every token covered by a cross-doc duplicate k-window,
    * reassemble the survivors in order (Lee et al. 2021's ExactSubstr
    * removal). Output text is whitespace-normalized (single-space joined
    * tokens) for ALL docs — the reassembly defines the normal form, like
    * [[dedupLines]]. Returns (id, text, n_tokens, n_removed).
    *
    * Scale shape: the duplicate-window vocabulary is one groupBy; token
    * coverage is an explode of the FLAGGED windows only (≤ k rows per
    * duplicated window, nothing for clean docs) deduplicated per (doc,
    * position); the rebuild is one per-doc sort_array over kept tokens —
    * bounded by doc length, the same state dedupLines already carries. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8,
      tokenHash: Column => Column = t => F.xxhash64(t)): DataFrame = {
    val toks = docs.select(F.col(idCol),
      F.posexplode_outer(TextStats.tokens(F.col(textCol))).as(Seq("_ti", "_tok")))
    val wh = docs.select(F.col(idCol),
      F.posexplode_outer(TextStats.windowHashes(F.col(textCol), k, tokenHash))
        .as(Seq("_pos", "_wh")))
    val dup = wh.groupBy("_wh")
      .agg(F.countDistinct(idCol).as("_nd")).filter(F.col("_nd") >= 2)
      .select("_wh")
    val covered = wh.join(dup, Seq("_wh"), "left_semi")
      .select(F.col(idCol),
        F.explode(F.sequence(F.col("_pos"), F.col("_pos") + (k - 1))).as("_ti"))
      .distinct()
    val kept = toks.filter(F.col("_tok").isNotNull)
      .join(covered, Seq(idCol, "_ti"), "left_anti")
    val rebuilt = kept.groupBy(idCol).agg(
      F.concat_ws(" ",
        F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("_ti"), F.col("_tok")))),
          x => x.getField("_tok"))).as("_cleaned"),
      F.count(F.lit(1)).as("_nkept"))
    val counts = toks.groupBy(idCol)
      .agg(F.sum(F.when(F.col("_tok").isNotNull, 1L).otherwise(0L)).as("n_tokens"))
    counts.join(rebuilt, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("_cleaned"), F.lit("")).as(textCol),
        F.col("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("_nkept"), F.lit(0L)))
          .as("n_removed"))
  }

  /** EXACT incremental "new keys" anti-join, accelerated by a Bloom
    * pre-filter (the day-over-day dedup shape: which of today's keys has
    * yesterday's corpus never seen?).
    *
    * Result ≡ `batch.join(seen, key, "left_anti")` — the Bloom filter
    * changes the PLAN, not the answer: keys whose bits miss the filter
    * are definitely-new (no false negatives) and skip the anti-join
    * entirely; only the maybe-present slice — the true positives plus an
    * fpr-sized sliver — pays the shuffle against the seen set. At 100 TB
    * the filter is numBits bits broadcast once, so the big-side shuffle
    * shrinks from |batch| to |duplicates| + fpr·|batch|; size numBits ≈
    * 1.44·|seen|·log₂(1/fpr). Exactness is gate-checked (the oracle runs
    * the plain anti-join SQL) and spec-pinned against the unfiltered twin.
    */
  def newKeys(batch: DataFrame, seen: DataFrame, keyCol: String,
      numBits: Int = 1 << 20, numHashes: Int = 4): DataFrame = {
    import graft.core.Sketch
    val bits = Sketch.bloomBits(seen.select(keyCol), keyCol, numBits, numHashes)
    val verdicts = Sketch.bloomMayContain(
      bits, batch.select(keyCol).distinct(), keyCol, numBits, numHashes)
    val definitelyNew = batch.join(
      verdicts.filter(!F.col("maybe_present")).select(keyCol),
      Seq(keyCol), "left_semi")
    val maybeSlice = batch.join(
      verdicts.filter(F.col("maybe_present")).select(keyCol),
      Seq(keyCol), "left_semi")
      .join(seen.select(keyCol).distinct(), Seq(keyCol), "left_anti")
    definitelyNew.unionAll(maybeSlice)
  }

  /** Corpus snapshot diff — the day-over-day crawl comparison: per doc
    * id, `added` (only in `next`), `removed` (only in `prev`), `changed`
    * (both, different normalized [[TextStats.fingerprint]]), `unchanged`.
    * ONE full-outer equi-join on id over (id, fingerprint) projections —
    * the text itself never shuffles; at 100 TB the diff moves two
    * id+md5 columns. Output: (idCol, status). */
  def snapshotDiff(prev: DataFrame, next: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def fps(df: DataFrame, side: String) =
      df.select(F.col(idCol),
        TextStats.fingerprint(F.col(textCol)).as(s"_fp_$side"))
    fps(prev, "p").join(fps(next, "n"), Seq(idCol), "full_outer")
      .select(F.col(idCol),
        F.when(F.col("_fp_p").isNull, "added")
          .when(F.col("_fp_n").isNull, "removed")
          .when(F.col("_fp_p") =!= F.col("_fp_n"), "changed")
          .otherwise("unchanged").as("status"))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, functions => F}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface (SURVEY §2.12).
  *
  * The reference has no streaming; its incremental semantics (UCB.refit,
  * Sessionizer gaps, LabelEncoder.partial_fit) map onto:
  *  - `sessionWindows`  — session_window(ts, gap): works identically on a
  *    batch DataFrame and on a stream with a watermark; the batch
  *    Sessionizer (graft.preprocessing) and this operator agree on
  *    session boundaries (new session when gap >= threshold).
  *  - `streamingItemStats` — running (pos, total) per item via
  *    mapGroupsWithState: the streaming twin of UCBState.refit.
  *  - `streamingSessionize` — watermarked streaming session aggregation.
  */
object StreamingOps {

  /** Per-(user, session) aggregates using the native session_window
    * operator. `df` may be a batch frame or a stream (add a watermark for
    * streams). Gap semantics match graft.preprocessing.Sessionizer. */
  def sessionWindows(df0: DataFrame, gapSeconds: Long, userCol: String = "user_id",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val df = graft.core.Ops.ensureTimestamp(df0, tsCol)
    df.groupBy(F.col(userCol), F.session_window(F.col(tsCol), s"$gapSeconds seconds"))
      .agg(F.count(F.lit(1)).as("n_events"),
        F.round(F.sum(valueCol), 2).as("sum_value"),
        F.min(tsCol).as("first_ts"))
      // session start reported as min(ts): session_window.start is rounded
      // to ms by the operator and can disagree with the true first event
      // time at sub-ms precision
      .select(F.col(userCol),
        F.unix_millis(F.col("first_ts")).as("session_start_ms"),
        F.col("n_events"), F.col("sum_value"))
  }

  /** Streaming sessionization with a watermark: late events beyond
    * `watermark` are dropped; sessions emit on window close
    * (append mode). */
  def streamingSessionize(stream: DataFrame, gapSeconds: Long,
      watermark: String = "1 hour", userCol: String = "user_id",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame =
    sessionWindows(
      graft.core.Ops.ensureTimestamp(stream, tsCol).withWatermark(tsCol, watermark),
      gapSeconds, userCol, tsCol, valueCol)

  /** Tumbling-window counts per key — the canonical watermarked streaming
    * aggregation. Batch and stream share this exact plan shape; on a
    * stream, add `withWatermark(tsCol, horizon)` upstream and the state
    * store holds only windows newer than the watermark (bounded state at
    * any input volume). Epoch-aligned windows (Spark `window()` default),
    * so the batch twin is mirror-able as `date_trunc` for divisor-of-hour
    * window sizes. */
  def windowedCounts(df0: DataFrame, windowSeconds: Long,
      tsCol: String = "ts", keyCol: String = "event_type"): DataFrame = {
    val df = graft.core.Ops.ensureTimestamp(df0, tsCol)
    df.groupBy(F.window(F.col(tsCol), s"$windowSeconds seconds"), F.col(keyCol))
      .agg(F.count(F.lit(1)).as("n"))
      .select(F.col("window.start").as("window_start"), F.col(keyCol), F.col("n"))
  }

  /** Per-window top-k keys by event count — streaming popularity, the
    * composition of [[windowedCounts]] and the engine's top-k crop. The
    * crop dispatches on the key type: integral keys (item catalogs, where
    * per-window cardinality can reach catalog size at a 100 TB/day ingest)
    * go through the bounded-heap aggregation — O(k) state per window, no
    * per-window sort; other key types (low-cardinality strings like event
    * type) take the rank window, whose per-group state is bounded by the
    * key vocabulary. Both paths break ties (count desc, key asc).
    * On a stream, chain after a watermark: the windowed count is the
    * stateful step (state bounded by the horizon); run the crop per
    * micro-batch (foreachBatch) or as a downstream batch read. */
  def windowedTopK(df: DataFrame, windowSeconds: Long, k: Int,
      tsCol: String = "ts", keyCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.core.Ops
    val counts = windowedCounts(df, windowSeconds, tsCol, keyCol)
    df.schema(keyCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Ops.getTopKRecsBounded(
          counts.select(F.col("window_start"),
            F.col(keyCol).cast("long").as(keyCol),
            F.col("n").cast("double").as("_r")),
          k, "window_start", keyCol, "_r")
          .select(F.col("window_start"), F.col(keyCol),
            F.col("_r").cast("long").as("n"))
      case _ =>
        Ops.topK(counts, Seq("window_start"),
          Seq(F.col("n").desc, F.col(keyCol).asc), k)
    }
  }

  /** Event-time bounded join — the STREAM-STREAM join shape (click/
    * impression attribution): every right row pairs with the left rows of
    * the same key whose event time precedes it by at most
    * `maxDelaySeconds` (`leftTs <= rightTs <= leftTs + maxDelay`,
    * inclusive both ends). Works identically on batch frames and on two
    * streams: when both sides are streaming, each gets a watermark of
    * `maxDelaySeconds + watermarkSlackSeconds`, and the time-range
    * predicate is exactly what lets Spark expire join state — the state
    * store holds only the last `maxDelay + slack` of EACH side, bounded
    * at any input volume. This is the one join where a time bound is not
    * an optimization but the difference between O(horizon) and unbounded
    * state.
    *
    * Column contract: the two frames must share ONLY `keys` (the
    * timestamps must be distinctly named — rename upstream); emits
    * left ⋈ right with the keys appearing once. Inner join: unmatched
    * rows on either side emit nothing.
    *
    * Batch scale: one hash-shuffle equi-join on `keys`; the time bound is
    * a post-join filter on the SAME shuffle (no extra exchange), and
    * output ∝ true matches, never |L|·|R| (per-key pairs are bounded by
    * the delay horizon). */
  def eventTimeJoin(left0: DataFrame, right0: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, maxDelaySeconds: Long,
      watermarkSlackSeconds: Long = 60L): DataFrame = {
    require(maxDelaySeconds > 0, s"need maxDelaySeconds > 0, got $maxDelaySeconds")
    require(leftTs != rightTs,
      s"timestamps must be distinctly named, both are '$leftTs'")
    val shared = left0.columns.toSet.intersect(right0.columns.toSet)
    require(shared == keys.toSet,
      s"frames must share exactly the join keys; shared = ${shared.mkString(",")}")
    val horizon = s"${maxDelaySeconds + watermarkSlackSeconds} seconds"
    def prep(df0: DataFrame, ts: String): DataFrame = {
      val df = graft.core.Ops.ensureTimestamp(df0, ts)
      if (df.isStreaming) df.withWatermark(ts, horizon) else df
    }
    val left = prep(left0, leftTs)
    // key columns appear once: rename the right side's, join on equality,
    // drop the copies (usingColumns can't carry the extra range predicate)
    val right = keys.foldLeft(prep(right0, rightTs))(
      (df, k) => df.withColumnRenamed(k, s"_r_$k"))
    val cond = keys.map(k => F.col(k) === F.col(s"_r_$k"))
      .reduce(_ && _) &&
      F.col(rightTs) >= F.col(leftTs) &&
      F.col(rightTs) <= F.col(leftTs) + F.expr(s"INTERVAL $maxDelaySeconds SECONDS")
    left.join(right, cond, "inner").drop(keys.map(k => s"_r_$k"): _*)
  }

  /** Per-tumbling-window approximate distinct keys: the engine's sparse
    * HyperLogLog registers ([[graft.core.Sketch.hllBucketRho]] — same
    * portable-md5 recipe, so the batch twin is oracle-checkable
    * cell-exactly) keyed by the event-time window. The "distinct users
    * per hour" question at a volume where exact per-window sets don't
    * fit.
    *
    * Streaming: pass `watermark` — the register build is ONE windowed
    * max-aggregation, append-safe, and the state per window is at most
    * 2^p registers REGARDLESS of how many events the window saw (state =
    * windows-in-horizon × min(distinct, 2^p) rows — this is why the
    * sketch, not `approx_count_distinct`'s opaque binary, is the
    * streaming shape: the registers are themselves the mergeable,
    * inspectable output). Batch: identical plan minus the watermark.
    * Estimates: feed the output to
    * `Sketch.hllEstimateByGroup(_, Seq("window_start_us"), p)`. */
  def windowedDistinctHll(df0: DataFrame, windowSeconds: Long,
      keyCol: String = "user_id", tsCol: String = "ts", p: Int = 8,
      watermark: Option[String] = None): DataFrame = {
    val df1 = graft.core.Ops.ensureTimestamp(df0, tsCol)
    val df = watermark.fold(df1)(w => df1.withWatermark(tsCol, w))
    val (bucket, rho) = graft.core.Sketch.hllBucketRho(keyCol, p)
    df.select(F.window(F.col(tsCol), s"$windowSeconds seconds").as("_w"),
        bucket.as("bucket"), rho.as("_rho"))
      .groupBy("_w", "bucket")
      .agg(F.max("_rho").cast("long").as("register"))
      .select(F.unix_micros(F.col("_w.start")).as("window_start_us"),
        F.col("bucket"), F.col("register"))
  }

  final case class ItemEvent(item_id: Long, rating: Double)
  final case class ItemStats(item_id: Long, pos: Double, total: Double)

  /** Running per-item (pos, total) over a stream — the incremental state
    * behind UCB.refit (reference ucb.py:147-177), held in Spark-managed
    * state rather than a re-unioned batch aggregate. */
  def streamingItemStats(events: Dataset[ItemEvent]): Dataset[ItemStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.item_id)
      .mapGroupsWithState[ItemStats, ItemStats](GroupStateTimeout.NoTimeout()) {
        (item, rows, state: GroupState[ItemStats]) =>
          val prev = state.getOption.getOrElse(ItemStats(item, 0.0, 0.0))
          var pos = prev.pos
          var total = prev.total
          rows.foreach { e => pos += e.rating; total += 1 }
          val next = ItemStats(item, pos, total)
          state.update(next)
          next
      }
  }

  /** TRUE single-query streaming top-k: two CHAINED stateful aggregations
    * (Spark ≥3.4 multiple-stateful-operator support) — stage 1 is the
    * watermarked per-(window, key) count, stage 2 re-windows on
    * `window_time` and crops with the bounded top-k AGGREGATOR (an
    * aggregation, not a rank window — streaming disallows window
    * functions, but a typed aggregate with O(k) state chains fine).
    * Emits once per closed window in append mode. Integral keys only
    * (the heap holds (double, long) pairs) — the item-catalog case,
    * where per-window cardinality is the reason a rank window wouldn't
    * scale anyway. Batch twin: [[windowedTopK]] (same counts, same crop
    * order, spec-pinned equal). */
  def streamingWindowedTopK(stream0: DataFrame, windowSeconds: Long, k: Int,
      watermark: String = "1 hour", tsCol: String = "ts",
      keyCol: String = "item_id"): DataFrame = {
    val stream = graft.core.Ops.ensureTimestamp(stream0, tsCol)
    val counts = stream.withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), s"$windowSeconds seconds"), F.col(keyCol))
      .agg(F.count(F.lit(1)).as("n"))
    counts
      .groupBy(F.window(F.window_time(F.col("window")), s"$windowSeconds seconds"))
      .agg(graft.core.BoundedTopKAgg.topKPairs(k,
        F.col("n").cast("double"), F.col(keyCol).cast("long")).as("_tk"))
      .select(F.col("window.start").as("window_start"),
        F.explode(F.col("_tk")).as("_p"))
      .select(F.col("window_start"), F.col("_p.item").as(keyCol),
        F.col("_p.rating").cast("long").as("n"))
  }

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class OpenSession(start: Long, last: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, session_start_ms: Long,
      n_events: Long, sum_value: Double)

  /** Custom-state sessionization via flatMapGroupsWithState — the
    * hand-rolled twin of [[sessionWindows]], for session logic the native
    * operator cannot express (capping session length, emitting
    * intermediate snapshots, custom merge rules). State per user is the
    * ONE open session (4 scalars — bounded at any event volume); a
    * session emits when a later event arrives past the gap. The last open
    * session per user stays in state until a closing event (or a timeout
    * policy, which a caller can add via ProcessingTimeTimeout) — exactly
    * the append-mode semantics of the native session_window. Gap logic
    * matches Sessionizer/sessionWindows: new session when
    * ts − last ≥ gap. Events inside one micro-batch sort in-memory per
    * (user, batch) — bounded by per-batch volume, not history. */
  def sessionizeWithState(events: Dataset[UserEvent],
      gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[OpenSession]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
          var open = state.getOption.orNull
          val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
          for (e <- sorted) {
            val t = e.ts.getTime
            if (open == null) open = OpenSession(t, t, 1L, e.value)
            else if (t - open.last >= gapMs) {
              // HALF_UP, matching the batch twin's F.round(sum, 2)
              // (math.rint is half-even: sums landing exactly on a .005
              // boundary would diverge between the twins)
              closed += SessionOut(user, open.start, open.n,
                BigDecimal(open.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble)
              open = OpenSession(t, t, 1L, e.value)
            } else open = OpenSession(open.start, t, open.n + 1, open.sum + e.value)
          }
          if (open != null) state.update(open)
          closed.iterator
      }
  }

  final case class SeqEvent(user_id: Long, ts_us: Long, item_id: Long)
  final case class SeqWindow(items: List[Long])
  final case class SeqCase(user_id: Long, label_item_id: Long,
      prefix: Seq[Long])

  /** Streaming next-item case generation — the incremental twin of
    * [[graft.preprocessing.SequenceGenerator]]: per-user state is the
    * last `lenWindow` item ids (bounded — O(users × lenWindow) regardless
    * of event volume); each arriving event with a non-empty window emits
    * one (user, prefix, label) training case in append mode. Semantics
    * are identical to the batch operator because the batch generator IS
    * a forward pass over each user's (ts, item)-sorted timeline: row i
    * pairs the previous ≤lenWindow items with item i as the label.
    * In-order delivery per user across micro-batches is the parity
    * contract (the same one every watermark-less stateful op here
    * carries); within a micro-batch the group's rows sort in memory.
    * Runs unchanged on a batch frame — spec'd byte-equal to
    * SequenceGenerator, and the gate shares its oracle recipe. */
  def streamingSequenceGenerate(events: Dataset[SeqEvent],
      lenWindow: Int): Dataset[SeqCase] = {
    import events.sparkSession.implicits._
    require(lenWindow > 0, s"lenWindow must be positive, got $lenWindow")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqWindow, SeqCase](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[SeqWindow]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.item_id))
          var hist = state.getOption.map(_.items).getOrElse(List.empty)
          val out = scala.collection.mutable.ListBuffer.empty[SeqCase]
          for (e <- sorted) {
            if (hist.nonEmpty) out += SeqCase(user, e.item_id, hist)
            hist = (hist :+ e.item_id).takeRight(lenWindow)
          }
          state.update(SeqWindow(hist))
          out.iterator
      }
  }

  final case class FunnelEvent(user_id: Long, step_idx: Int,
      ts_us: Long, tie: Long)
  final case class FunnelProgress(reached: Int, t1Us: Long, tprevUs: Long)
  final case class FunnelHit(user_id: Long, step: Long, step_name: String,
      ts_us: Long)

  /** Streaming funnel — the incremental twin of
    * [[graft.core.Funnel.funnelUsers]]: per-user state is THREE scalars
    * (steps reached, entry time, last-advance time), each step advance
    * emits one append-mode row as it happens. Semantics are identical to
    * the batch operator (first-touch, strictly ordered, entry-anchored
    * window) because the batch funnel IS a forward pass over each user's
    * (ts, tie)-sorted timeline: every step advances at its first
    * qualifying event, which is exactly what the state machine does.
    * In-order delivery (per user, across micro-batches) is the parity
    * contract, the same one every watermark-less stateful op carries;
    * within one micro-batch the group's rows sort in memory (bounded by
    * per-batch volume). Runs unchanged on a batch frame — one
    * group-sorted pass, byte-equal to the batch operator (spec'd, and
    * the gate shares funnel_users' oracle).
    *
    * Scale: state is O(users)·3 longs regardless of event volume; no
    * timeline is ever materialized beyond one (user, batch) slice. */
  def streamingFunnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String, steps: Seq[String],
      windowSeconds: Option[Long] = None): Dataset[FunnelHit] = {
    require(steps.nonEmpty, "streamingFunnel: need at least one step")
    require(steps.distinct.size == steps.size,
      "streamingFunnel: duplicate step names")
    val spark = events.sparkSession
    import spark.implicits._
    val names = steps.toArray
    val wUs = windowSeconds.map(_ * 1000000L)
    val idx = steps.zipWithIndex.tail.foldLeft(
      F.when(F.col(typeCol) === steps.head, 0)) {
      case (acc, (name, i)) => acc.when(F.col(typeCol) === name, i)
    }
    val typed = graft.core.Ops.ensureTimestamp(events, tsCol)
      .filter(F.col(typeCol).isin(steps.map(x => x: Any): _*))
      .select(F.col(userCol).cast("long").as("user_id"),
        idx.cast("int").as("step_idx"),
        F.unix_micros(F.col(tsCol)).as("ts_us"),
        F.col(tieCol).cast("long").as("tie"))
      .as[FunnelEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[FunnelProgress]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.tie))
          var p = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer.empty[FunnelHit]
          for (e <- sorted) {
            if (p == null) {
              if (e.step_idx == 0) {
                p = FunnelProgress(1, e.ts_us, e.ts_us)
                out += FunnelHit(user, 1L, names(0), e.ts_us)
              }
            } else if (e.step_idx == p.reached && p.reached < names.length &&
                e.ts_us > p.tprevUs &&
                wUs.forall(w => e.ts_us <= p.t1Us + w)) {
              p = FunnelProgress(p.reached + 1, p.t1Us, e.ts_us)
              out += FunnelHit(user, p.reached.toLong, names(p.reached - 1),
                e.ts_us)
            }
          }
          if (p != null) state.update(p)
          out.iterator
      }
  }

  final case class RateEvent(key: Long, ts_us: Long, tie: Long)
  final case class RateWindowState(window: Long, count: Long)

  /** Streaming per-key rate limiting — the incremental twin of
    * [[graft.core.Ops.rateLimit]]: state per key is (current tumbling
    * window id, count in it) — TWO longs; events beyond `maxPerWindow`
    * in their (key, window) drop, survivors emit append-mode. Exact
    * batch parity under in-order per-key delivery (the batch operator
    * ranks by (ts, tie), which is the arrival order of an in-order
    * stream); within one micro-batch the group sorts in memory. Runs
    * unchanged on a batch frame (spec'd ≡ the batch operator). */
  def streamingRateLimit(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, windowSeconds: Long,
      maxPerWindow: Int): Dataset[RateEvent] = {
    require(windowSeconds > 0 && maxPerWindow > 0,
      s"streamingRateLimit: $windowSeconds/$maxPerWindow")
    val spark = events.sparkSession
    import spark.implicits._
    val wUs = windowSeconds * 1000000L
    val typed = graft.core.Ops.ensureTimestamp(events, tsCol)
      .select(F.col(keyCol).cast("long").as("key"),
        F.unix_micros(F.col(tsCol)).as("ts_us"),
        F.col(tieCol).cast("long").as("tie"))
      .as[RateEvent]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[RateWindowState, RateEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[RateWindowState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.tie))
          var st = state.getOption.getOrElse(RateWindowState(Long.MinValue, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[RateEvent]
          for (e <- sorted) {
            val w = java.lang.Math.floorDiv(e.ts_us, wUs)
            if (w != st.window) st = RateWindowState(w, 0L)
            if (st.count < maxPerWindow) {
              st = RateWindowState(st.window, st.count + 1)
              out += e
            }
          }
          state.update(st)
          out.iterator
      }
  }

  final case class CusumEvent(key: Long, ts_us: Long, tie: Long, value: Long)
  final case class CusumState(cum: Long, minCum: Long, alarmed: Boolean)
  final case class CusumAlarm(key: Long, alarm_ts_us: Long, cusum: Long)

  /** Streaming CUSUM drift detection — the incremental twin of
    * [[graft.core.Ops.cusumAlarm]]: state per key is (cum, min prefix
    * cum incl. the empty prefix, alarmed) — the drawup identity carried
    * as THREE scalars; the FIRST threshold breach per key emits one
    * append-mode alarm row (key, breach ts, cusum at breach), matching
    * the batch operator's `alarm_ts_us` exactly under in-order per-key
    * delivery. O(keys) state forever, no timeline retained. */
  def streamingCusum(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String, target: Long,
      threshold: Long): Dataset[CusumAlarm] = {
    require(threshold > 0, s"streamingCusum: threshold=$threshold")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = graft.core.Ops.ensureTimestamp(events, tsCol)
      .select(F.col(keyCol).cast("long").as("key"),
        F.unix_micros(F.col(tsCol)).as("ts_us"),
        F.col(tieCol).cast("long").as("tie"),
        F.col(valueCol).cast("long").as("value"))
      .as[CusumEvent]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[CusumState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.tie))
          var st = state.getOption.getOrElse(CusumState(0L, 0L, false))
          val out = scala.collection.mutable.ListBuffer.empty[CusumAlarm]
          for (e <- sorted) {
            val cum = st.cum + (e.value - target)
            // st.minCum starts at 0 = the empty prefix, so the clamp is
            // built into the initial state
            val minCum = math.min(st.minCum, cum)
            val s = cum - minCum
            if (!st.alarmed && s >= threshold) {
              out += CusumAlarm(key, e.ts_us, s)
              st = CusumState(cum, minCum, true)
            } else st = CusumState(cum, minCum, st.alarmed)
          }
          state.update(st)
          out.iterator
      }
  }

  final case class GoldenIn(key: Long, version: Long, a: Option[String],
    b: Option[String])
  final case class GoldenState(va: Long, a: Option[String], vb: Long,
    b: Option[String], n: Long)
  final case class GoldenOut(key: Long, a: Option[String],
    b: Option[String], n_merged: Long)

  /** Streaming golden-record maintenance (the incremental twin of
    * `Ops.goldenRecord`, two-attribute shape): per key the state holds,
    * PER ATTRIBUTE, the latest non-null value and its version — a late
    * or null cell never clobbers fresher evidence — plus the merge
    * count; each micro-batch emits the key's updated golden row (append
    * mode; downstream dedups on the latest emission). Batch mode emits
    * exactly `goldenRecord`'s rows. Versions must be unique per key
    * (the scdType2 contract). State O(keys·attrs) forever. */
  def streamingGoldenRecord(changes: DataFrame, keyCol: String,
      versionCol: String, aCol: String, bCol: String): Dataset[GoldenOut] = {
    val spark = changes.sparkSession
    import spark.implicits._
    val typed = changes.select(F.col(keyCol).cast("long").as("key"),
        F.col(versionCol).cast("long").as("version"),
        F.col(aCol).cast("string").as("a"),
        F.col(bCol).cast("string").as("b"))
      .as[GoldenIn]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[GoldenState, GoldenOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[GoldenState]) =>
          var st = state.getOption.getOrElse(
            GoldenState(Long.MinValue, None, Long.MinValue, None, 0L))
          for (r <- rows.toSeq.sortBy(_.version)) {
            val (va, a) =
              if (r.a.isDefined && r.version > st.va) (r.version, r.a)
              else (st.va, st.a)
            val (vb, b) =
              if (r.b.isDefined && r.version > st.vb) (r.version, r.b)
              else (st.vb, st.b)
            st = GoldenState(va, a, vb, b, st.n + 1)
          }
          state.update(st)
          Iterator.single(GoldenOut(key, st.a, st.b, st.n))
      }
  }

  final case class EwmaEvent(key: Long, ts_us: Long, tie: Long, value: Long)
  final case class EwmaState(init: Boolean, s: Long)
  final case class EwmaPoint(key: Long, ts_us: Long, tie: Long, value: Long,
    ewma: Long)

  /** Streaming exponentially-weighted moving average per key with a
    * RATIONAL smoothing factor α = num/den, kept exact:
    *
    *   s_1 = x_1          s_t = (num·x_t + (den−num)·s_{t−1}) div den
    *
    * — the inherently sequential recurrence as a 2-scalar
    * flatMapGroupsWithState (the [[streamingCusum]] shape), emitting the
    * smoothed value per arrival in append mode. The integer recurrence
    * makes a FOLD the oracle can replay (SQL `list_reduce` with `//`);
    * float EWMA would drift per engine. In-order delivery per key
    * assumed across batches; within a batch rows sort by (ts, tie).
    * State O(keys) forever. Overflow: den·max|x| < 2⁶³. */
  def streamingEwma(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String, alphaNum: Long,
      alphaDen: Long): Dataset[EwmaPoint] = {
    require(alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen,
      s"streamingEwma: alpha=$alphaNum/$alphaDen must be in (0, 1]")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = graft.core.Ops.ensureTimestamp(events, tsCol)
      .select(F.col(keyCol).cast("long").as("key"),
        F.unix_micros(F.col(tsCol)).as("ts_us"),
        F.col(tieCol).cast("long").as("tie"),
        F.col(valueCol).cast("long").as("value"))
      .as[EwmaEvent]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.tie))
          var st = state.getOption.getOrElse(EwmaState(false, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[EwmaPoint]
          for (e <- sorted) {
            val s =
              if (!st.init) e.value
              else Math.floorDiv(
                alphaNum * e.value + (alphaDen - alphaNum) * st.s, alphaDen)
            st = EwmaState(true, s)
            out += EwmaPoint(key, e.ts_us, e.tie, e.value, s)
          }
          state.update(st)
          out.iterator
      }
  }

  final case class TransEvent(key: Long, ts_us: Long, tie: Long, typ: String)
  final case class TransLast(ts_us: Long, tie: Long, typ: String)
  final case class TransPair(key: Long, from_type: String, to_type: String,
    ts_us: Long, tie: Long)

  /** Streaming first-order transition pairs — the incremental twin of
    * `Ops.transitionCounts`' pair extraction: per key the state is the
    * LAST seen event (3 scalars), and each arrival emits its (from, to)
    * adjacency edge in append mode, including the pair that straddles a
    * micro-batch boundary. Downstream counting (counts / prob_ppm) is an
    * ordinary update-mode aggregation over the emitted pairs; in batch
    * mode the pair stream is EXACTLY the batch operator's lag pairs
    * (spec-pinned). In-order delivery per key assumed across batches
    * (within a batch, rows sort by (ts, tie) — the [[streamingRateLimit]]
    * contract); state is O(keys) forever. */
  def streamingTransitions(events: DataFrame, keyCol: String,
      typeCol: String, tsCol: String, tieCol: String): Dataset[TransPair] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = graft.core.Ops.ensureTimestamp(events, tsCol)
      .select(F.col(keyCol).cast("long").as("key"),
        F.unix_micros(F.col(tsCol)).as("ts_us"),
        F.col(tieCol).cast("long").as("tie"),
        F.col(typeCol).cast("string").as("typ"))
      .as[TransEvent]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[TransLast, TransPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[TransLast]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.tie))
          var last = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[TransPair]
          for (e <- sorted) {
            last.foreach(l =>
              out += TransPair(key, l.typ, e.typ, e.ts_us, e.tie))
            last = Some(TransLast(e.ts_us, e.tie, e.typ))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  final case class RatingEvent(query_id: Long, item_id: Long, r_ppm: Long)
  final case class PairStatState(s_ppm: Long, n: Long)
  final case class PairStat(query_id: Long, item_id: Long, s_ppm: Long, n: Long)

  /** Running per-(query, item) rating sufficient statistics — the
    * incremental state behind [[graft.models.BiasModel.fitFromStats]]:
    * (Σ r_ppm, n) per pair, exact integers, additive under ANY event
    * slicing, so after the last micro-batch the state equals
    * `BiasModel.pairStats` of the concatenated events and
    * `fitFromStats` of it is BIT-exact vs the batch fit (spec-pinned;
    * driver gate streaming_bias shares the model_bias oracle). Emits the
    * updated stat per touched pair each batch (update-mode semantics —
    * keep the LAST row per pair downstream). State is O(rated pairs),
    * two longs each — the same envelope as the batch stats table. */
  def streamingBiasStats(events: Dataset[RatingEvent]): Dataset[PairStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.query_id, e.item_id))
      .mapGroupsWithState[PairStatState, PairStat](
        GroupStateTimeout.NoTimeout()) {
        case ((q, i), rows, state: GroupState[PairStatState]) =>
          val prev = state.getOption.getOrElse(PairStatState(0L, 0L))
          var s = prev.s_ppm
          var n = prev.n
          rows.foreach { e => s += e.r_ppm; n += 1 }
          state.update(PairStatState(s, n))
          PairStat(q, i, s, n)
      }
  }

  final case class RepeatEvent(query_id: Long, item_id: Long, ts_us: Long)
  final case class RepeatState(last_ts_us: Long, cnt: Long)
  final case class RepeatStat(query_id: Long, item_id: Long,
    last_ts_us: Long, cnt: Long)

  /** Running per-(query, item) repeat-consumption state — the incremental
    * twin of [[graft.models.RepeatRec]]: last-seen epoch-µs merges by max,
    * count by addition (both associative folds), so the state after the
    * last micro-batch equals `RepeatRec.pairStats` of the concatenated
    * events under ANY slicing and `fitFromStats` of it is the batch fit
    * bit-for-bit (driver gate streaming_repeat shares the model_repeat
    * oracle). Update-mode semantics; state O(consumed pairs), 2 longs. */
  def streamingRepeatStats(events: Dataset[RepeatEvent]): Dataset[RepeatStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.query_id, e.item_id))
      .mapGroupsWithState[RepeatState, RepeatStat](
        GroupStateTimeout.NoTimeout()) {
        case ((q, i), rows, state: GroupState[RepeatState]) =>
          val prev = state.getOption.getOrElse(RepeatState(Long.MinValue, 0L))
          var last = prev.last_ts_us
          var n = prev.cnt
          rows.foreach { e => if (e.ts_us > last) last = e.ts_us; n += 1 }
          state.update(RepeatState(last, n))
          RepeatStat(q, i, last, n)
      }
  }

  final case class SlopeHist(items: List[(Long, Long)])
  final case class DevDelta(item_from: Long, item_to: Long, n: Long,
    dev_ppm: Long)

  /** Streaming Slope One deviation deltas — the incremental twin of
    * [[graft.models.SlopeOne]]'s upper-triangle deviation fit: the state
    * per user is their (item, r_ppm) history; each arrival pairs with the
    * prior history and emits upper-triangle increments
    * (min(i,j), max(i,j), 1, ±Δr_ppm) in append mode, including pairs
    * that straddle micro-batch boundaries. Summing the deltas per
    * (item_from, item_to) rebuilds the batch half-table EXACTLY —
    * `SlopeOne(maxUserHistory = 0).fitFromStats(Σdeltas, ratings)` is
    * bit-exact vs the batch fit (spec-pinned; driver gate
    * streaming_slope_one shares the model_slope_one oracle).
    *
    * CONTRACT: distinct (query, item) event streams — a re-rated pair
    * would need retraction of its earlier deltas (the batch fit
    * pre-averages duplicates); dedup upstream ([[streamingDedup]]).
    * Duplicate arrivals of the SAME item are dropped defensively (no
    * self-pairs, no double counting). The state is the user's full
    * history — the uncapped (maxUserHistory = 0) twin; at 100 TB bound
    * it with the same upstream per-user crop the batch cap applies. */
  def streamingSlopeOneDeltas(
      events: Dataset[RatingEvent]): Dataset[DevDelta] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.query_id)
      .flatMapGroupsWithState[SlopeHist, DevDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state: GroupState[SlopeHist]) =>
          var hist = state.getOption.map(_.items).getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[DevDelta]
          // within-batch order is irrelevant to the aggregated half-table
          // (every unordered pair emits exactly once); sort for a
          // deterministic delta STREAM anyway (test ergonomics)
          rows.toSeq.sortBy(e => (e.item_id, e.r_ppm)).foreach { e =>
            if (!hist.exists(_._1 == e.item_id)) {
              hist.foreach { case (j, rj) =>
                if (j < e.item_id)
                  out += DevDelta(j, e.item_id, 1L, e.r_ppm - rj)
                else
                  out += DevDelta(e.item_id, j, 1L, rj - e.r_ppm)
              }
              hist = (e.item_id, e.r_ppm) :: hist
            }
          }
          state.update(SlopeHist(hist))
          out.iterator
      }
  }

  /** Streaming exact dedup on a content key (the streaming twin of
    * text.Dedup.exactGroups' fingerprint dedup): keeps the first arrival
    * per key; `dropDuplicatesWithinWatermark` bounds the state store to
    * the watermark horizon — at a 100 TB/day ingest the unbounded
    * `dropDuplicates` state would grow without limit, so the horizon is
    * the knob that trades dedup window for state size. Works on batch
    * frames too (falls back to plain dropDuplicates, same result when
    * everything fits one batch). */
  def streamingDedup(df0: DataFrame, keyCols: Seq[String], tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame = {
    // a streaming frame NEEDS the event-time column (the watermark bounds
    // the state store); fail with the contract, not a downstream
    // missing-column analysis error. Batch frames legitimately dedup
    // without one (one batch = one watermark horizon), so tsCol is
    // optional there — the paths diverge on purpose, loudly.
    require(!df0.isStreaming || df0.columns.contains(tsCol),
      s"streamingDedup on a streaming frame requires event-time column '$tsCol' " +
        s"(present: ${df0.columns.mkString(", ")})")
    val df = if (df0.columns.contains(tsCol)) graft.core.Ops.ensureTimestamp(df0, tsCol) else df0
    if (df.isStreaming)
      df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)
    else df.dropDuplicates(keyCols)
  }

  /** Streaming NEAR-dup candidate pairs — the MinHash tier of the dedup
    * ladder running incrementally (production dedup is day-over-day, not
    * one batch): each arriving doc computes its LSH band keys ROW-WISE
    * (min over the doc's own shingle array as a pure expression — the
    * shuffle-free twin of `Dedup.minhashSignatures`, identical values by
    * construction), and a `flatMapGroupsWithState` keyed on (band,
    * band-signature) pairs it against every doc its buckets have EVER
    * seen. State per bucket = its occupant ids — the state store IS the
    * LSH index, so size it like batch LSH (the `planesFor`/`lshPlan`
    * occupancy contracts); for bounded retention swap NoTimeout for a
    * processing-time TTL.
    *
    * Output: (id_a, id_b) with id_a < id_b, append mode. Pairs sharing
    * several bands emit once per band (exactly what batch
    * `minhashCandidates` collapses with `.distinct()`) — the downstream
    * verify stage dedups, as it already must. Works unchanged on batch
    * frames (one "micro-batch", empty initial state) — spec'd equal to
    * batch candidates either way. */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String,
      textCol: String, numPerms: Int = 16, bandSize: Int = 4,
      hash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
        graft.text.Dedup.fastHash): DataFrame = {
    import graft.text.Dedup
    val spark = docs.sparkSession
    import spark.implicits._
    val numBands = numPerms / bandSize
    val p = Dedup.MinhashPrime
    val hs = F.transform(Dedup.shingles(F.col(textCol)),
      s => F.pmod(hash(0, s), F.lit(p)))
    val sig = F.array((0 until numPerms).map { perm =>
      F.array_min(F.transform(F.col("_hs"),
        h => (F.lit(Dedup.mixA(perm)) * h + F.lit(Dedup.mixB(perm))) % p))
    }: _*)
    val banded = docs
      .select(F.col(idCol).cast("long").as("_id"), hs.as("_hs"))
      .filter(F.size(F.col("_hs")) > 0)
      .withColumn("_sig", sig)
      .select(F.col("_id"), F.explode(F.array((0 until numBands).map { b =>
        F.struct(F.lit(b).as("_band"),
          F.concat_ws(",", F.transform(
            F.slice(F.col("_sig"), b * bandSize + 1, bandSize),
            x => x.cast("string"))).as("_bsig"))
      }: _*)).as("_b"))
      .select(F.col("_b._band").as("_band"), F.col("_b._bsig").as("_bsig"),
        F.col("_id"))
      .as[(Int, String, Long)]
    banded
      .groupByKey { case (band, bsig, _) => (band, bsig) }
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (_: (Int, String), rows: Iterator[(Int, String, Long)],
            state: GroupState[Seq[Long]]) => {
          val prior = state.getOption.getOrElse(Seq.empty)
          // deterministic within-batch order; dedupe re-arrivals
          val fresh = rows.map(_._3).toSeq.distinct.sorted
            .filterNot(prior.contains)
          val pairs = Seq.newBuilder[(Long, Long)]
          var seen = prior
          fresh.foreach { n =>
            seen.foreach { e =>
              if (e != n) pairs += ((math.min(e, n), math.max(e, n)))
            }
            seen = seen :+ n
          }
          if (fresh.nonEmpty) state.update(seen)
          pairs.result().iterator
        })
      .toDF("id_a", "id_b")
  }

  /** Streaming EMBEDDING near-dup — the semantic tier running
    * incrementally, same stateful-bucket shape as
    * [[streamingNearDupCandidates]] but over sign-LSH hyperplane buckets
    * (`Similarity.signBuckets` is already a pure row-wise expression, so
    * the bucket keys stream shuffle-free) and with VERIFICATION inline:
    * bucket state carries occupant vectors, each arrival emits its
    * exact-cosine-verified pairs against everything the bucket has seen.
    * The in-state cosine is the bit-exact twin of the
    * `Similarity.cosine` expression (three sequential folds), so
    * batch-mode output after `.distinct()` equals `lshNearDup` on the
    * same config — gate-checked against the same DuckDB oracle.
    *
    * State per bucket = occupants × (8·dims + 8) bytes; planes sizing
    * (`planesFor`) bounds occupancy exactly as in batch. */
  def streamingEmbedNearDup(vectors: DataFrame, threshold: Double,
      planes: Int = 12, tables: Int = 4, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.text.Similarity
    val spark = vectors.sparkSession
    import spark.implicits._
    val thr = threshold
    val b = Similarity.signBuckets(vectors, idCol, vecCol, planes, tables, dims)
      .select(F.col("tbl"), F.col("bkt"),
        F.col(idCol).cast("long").as("_id"),
        F.col(vecCol).cast("array<double>").as("_v"))
      .as[(Int, Long, Long, Seq[Double])]
    def cos(a: Array[Double], bv: Array[Double]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0
      var i = 0
      while (i < a.length) {
        dab += a(i) * bv(i); daa += a(i) * a(i); dbb += bv(i) * bv(i)
        i += 1
      }
      dab / (math.sqrt(daa) * math.sqrt(dbb))
    }
    b.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (_: (Int, Long), rows: Iterator[(Int, Long, Long, Seq[Double])],
            state: GroupState[Seq[(Long, Array[Double])]]) => {
          val prior = state.getOption.getOrElse(Seq.empty)
          val fresh = rows.map(r => (r._3, r._4.toArray)).toSeq
            .sortBy(_._1).distinctBy(_._1)
            .filterNot(f => prior.exists(_._1 == f._1))
          val out = Seq.newBuilder[(Long, Long, Double)]
          var seen = prior
          fresh.foreach { case (nid, nv) =>
            seen.foreach { case (eid, ev) =>
              if (eid != nid) {
                val c = if (eid < nid) cos(ev, nv) else cos(nv, ev)
                if (c >= thr)
                  out += ((math.min(eid, nid), math.max(eid, nid), c))
              }
            }
            seen = seen :+ ((nid, nv))
          }
          if (fresh.nonEmpty) state.update(seen)
          out.result().iterator
        })
      .toDF("id_a", "id_b", "cosine")
  }

  /** Run a memory-sink streaming query to completion over the given
    * micro-batch source and return the result table (test harness). */
  def runToMemorySink(stream: DataFrame, queryName: String,
      outputMode: OutputMode = OutputMode.Update()): StreamingQuery =
    stream.writeStream.format("memory").queryName(queryName)
      .outputMode(outputMode).start()

  /** foreachBatch bridge for incremental model refit: every micro-batch is
    * merged into a batch-world `UCBState` (reference ucb.py:147-177 refit
    * driven by a stream instead of manual batching). The state object is
    * the same one batch code uses — one refit path for both worlds. */
  def foreachBatchRefit(stream: DataFrame,
      state: graft.models.UCBState): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) state.refit(batch)
        ()
      }
      .outputMode(OutputMode.Append())
      .start()

  /** Incremental snapshot maintenance from a CDC stream: each micro-batch
    * of changes (base schema + op/version, the [[graft.core.Ops.applyChanges]]
    * contract) merges into the parquet snapshot at `snapshotPath` and the
    * result replaces it via a crash-safe two-rename swap (cur → `.prev`,
    * `.next` → cur, drop `.prev`): at every instant either the old or the
    * new snapshot exists under SOME name, rename results are CHECKED (the
    * Hadoop API returns false rather than throwing), and a batch that
    * starts after a crash inside the swap window first restores `.prev`.
    * The streaming twin of Delta-style MERGE INTO maintained with plain
    * parquet: after every batch, `snapshotPath` equals a batch
    * `applyChanges` replay of all changes so far — spec'd against exactly
    * that twin. Within one micro-batch, cross-batch ordering rides on
    * `versionCol` (later batches carry later versions; the per-batch merge
    * already resolves intra-batch races by version desc). */
  def streamingApplyChanges(changes: DataFrame, snapshotPath: String,
      keys: Seq[String], versionCol: String = "version",
      opCol: String = "op"): StreamingQuery = {
    require(changes.isStreaming, "streamingApplyChanges needs a streaming frame")
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val cur = new org.apache.hadoop.fs.Path(snapshotPath)
          val next = new org.apache.hadoop.fs.Path(snapshotPath + ".next")
          val prev = new org.apache.hadoop.fs.Path(snapshotPath + ".prev")
          // crash recovery: a previous run died between the two renames
          if (!fs.exists(cur) && fs.exists(prev))
            require(fs.rename(prev, cur), s"snapshot recovery failed: $prev")
          val base = spark.read.parquet(snapshotPath)
            // materialize the read: the swap below unlinks these files
            // before the merged plan would otherwise re-scan them
            .localCheckpoint(true)
          try {
            graft.core.Ops.applyChanges(base, batch, keys, versionCol, opCol)
              .write.mode("overwrite").parquet(next.toString)
            if (fs.exists(prev)) fs.delete(prev, true)
            require(fs.rename(cur, prev), s"snapshot swap: rename $cur -> $prev failed")
            if (!fs.rename(next, cur)) {
              fs.rename(prev, cur) // roll back so the snapshot survives
              throw new IllegalStateException(
                s"snapshot swap: rename $next -> $cur failed; old snapshot restored")
            }
            fs.delete(prev, true)
          } finally graft.core.Persist.releaseCheckpoint(base) // one copy per batch otherwise
        }
        ()
      }
      .outputMode(OutputMode.Append())
      .start()
  }
}

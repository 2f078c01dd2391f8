package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import org.apache.spark.sql.{SparkSession, functions => F}
import graft.core.Session

/** Benchmark JVM entry point; `perfbench/run.py` builds the classes and
  * calls it. Modes:
  *   gen <dataDir> <cores>                       write the input tables
  *   run --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --cores N --record FILE [--commit C --source-digest D]
  * A run prints one `metric <name> <value> <unit>` line per metric and
  * ends with one JSON line: correct, attempted, failed, metrics. */
object Main {
  val Workloads = Seq("batch_pipeline", "serve_refit")
  /** Loads of the log per set-up; setup_s counts their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: cores :: Nil =>
      val spark = Session.build(appName = "graftbench-gen", master = s"local[$cores]")
      try DataGen.write(spark, dir) finally spark.stop()
    case "run" :: rest => run(parse(rest))
    case _ =>
      System.err.println("usage: Main gen <dir> <cores> | Main run --workload W --seed N ...")
      sys.exit(2)
  }

  private def parse(args: List[String]): Map[String, String] = args match {
    case k :: v :: tail if k.startsWith("--") => parse(tail) + (k.stripPrefix("--") -> v)
    case Nil => Map.empty
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  private def now(): Double = System.nanoTime() / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try {
      val line = src.getLines().find(_.startsWith("VmHWM:"))
        .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
      line.split("\\s+")(1).toDouble / 1024.0
    } finally src.close()
  }

  /** Box-speed diagnostic: a fixed synthetic aggregation, median of three
    * runs. Stored beside the metrics; it gates nothing. */
  private def boxSpeed(spark: SparkSession, cores: Int): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = now()
      spark.range(0L, 4000000L, 1L, cores * 2)
        .select((F.col("id") % 1009).as("k"), (F.col("id") * 7 % 13).as("v"))
        .groupBy("k").agg(F.sum("v")).collect()
      now() - t0
    }
    Stats.median(times)
  }

  /** Persisted RDDs and their stored size (memory + disk), in MB. */
  private def cacheResidue(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val dir = a("data")
    val master = s"local[$cores]"

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.build(appName = "graftbench", master = master)
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tr = new Trace(spark.sparkContext, traced)
    val ctx = Ctx(spark, dir, seed, tr)
    val w: Workload = workload match {
      case "batch_pipeline" => new BatchPipeline(ctx)
      case "serve_refit"    => new ServeRefit(ctx)
    }

    // set-up: the log loaded several times (the median load counts), then
    // serving state built once; a traced run reports no setup_s and loads
    // once, which keeps its warm-up and operation pairs within the run limit
    def timedS(body: => Unit): Double = { val t0 = now(); body; now() - t0 }
    val loadS = (1 to (if (traced) 1 else SetupReps)).map(_ => timedS(w.load()))
    val buildS = timedS(w.build())
    val setupS = sessionReadyS + Stats.median(loadS) + buildS
    val boxSpeedS = boxSpeed(spark, cores)
    if (traced) w.warmup()

    // measured closed loop; a traced run makes the operations of each kind
    // in traced/untraced pairs, the traced one first in even pairs and
    // second in odd ones, so both totals come from the same process and
    // neither always runs warmer
    val outcomes = mutable.ArrayBuffer.empty[(Outcome, Boolean)]
    val perKind = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var attempted = 0
    var failed = 0
    val loopStart = now()
    var i = 0
    var done = false
    while (!done && !w.exhausted) {
      val n = perKind(w.kindOf(i))
      tr.on = traced && (n % 2 == 0) == ((n / 2) % 2 == 0)
      val o =
        try w.op(i)
        catch {
          case e: Exception =>
            System.err.println(s"[graftbench] operation $i threw: $e")
            Outcome(w.kindOf(i), 0.0, 0.0, ok = false, completed = false)
        }
      perKind(w.kindOf(i)) += 1
      outcomes += ((o, tr.on))
      tr.on = false
      attempted += 1
      if (!o.ok) failed += 1
      // a traced run also waits until every kind has traced/untraced pairs
      done = now() - loopStart >= seconds && w.mayStopAfter(i) &&
        (!traced || perKind.values.forall(_ % 2 == 0))
      i += 1
    }
    val loopWallS = now() - loopStart
    val finalFailed = w.finalCheck(outcomes.map(_._1).toSeq)
    failed = math.min(attempted, failed + finalFailed)
    if (traced) {
      tr.on = true
      val extra =
        try w.tracedExtra()
        catch {
          case e: Exception =>
            System.err.println(s"[graftbench] traced extra operation threw: $e")
            Seq(Outcome("extra", 0.0, 0.0, ok = false, completed = false))
        }
      tr.on = false
      outcomes ++= extra.map((_, true))
      attempted += extra.length
      failed += extra.count(!_.ok)
    }
    val residue = cacheResidue(spark)
    val rssMb = peakRssMb()

    // end-to-end figures come from the completed untraced operations of
    // the loop (a failed check does not void a latency); a traced run
    // reports them from all its loop operations, for the record only
    val loopOutcomes = outcomes.take(i)
    val measured = loopOutcomes.collect { case (o, t) if o.completed && (traced || !t) => o }.toSeq
    def lat(kind: String) = measured.filter(_.kind == kind).map(_.seconds)
    val mainLat = lat(w.mainKind)
    if (mainLat.isEmpty) throw new IllegalStateException(s"no completed ${w.mainKind} operation in $seconds s")
    val opP50 = Stats.median(mainLat)
    val opsPerS = measured.length / measured.map(_.seconds).sum
    val cpuPerOp = measured.map(_.cpuSeconds).sum / measured.length

    // end-to-end metrics: the gated ones, then the same and further
    // figures under the workload's own names
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", opP50, "s"),
      ("cpu_per_op_s", cpuPerOp, "s"))
    val named = mutable.ArrayBuffer[(String, Double, String)]()
    val tailInfo = mutable.ArrayBuffer.empty[(String, Any)]
    workload match {
      case "batch_pipeline" => named += (("pipeline_s", opP50, "s"))
      case "serve_refit" =>
        named += (("recommend_p50_s", opP50, "s"))
        tailInfo += ("recommend_p50_s_by_cycle" -> Json.Obj(measured.filter(_.kind == w.mainKind)
          .groupBy(_.cycle).toSeq.sortBy(_._1).map { case (c, os) => c.toString -> Stats.median(os.map(_.seconds)) }))
        Stats.tail(mainLat) match {
          case Some((p, v, n)) =>
            named += (("recommend_tail_s", v, "s"))
            tailInfo ++= Seq("recommend_tail_percentile" -> p, "recommend_tail_n" -> n)
          case None =>
            tailInfo ++= Seq("recommend_tail_percentile" -> None, "recommend_tail_n" -> mainLat.length)
        }
        val refitLat = lat("refit")
        if (refitLat.nonEmpty) named += (("refit_p50_s", Stats.median(refitLat), "s"))
    }
    named += (("ops_per_s", opsPerS, "ops/s"))
    named += (("peak_rss_mb", rssMb, "MB"))
    named += (("failed_ratio", Stats.failedRatio(failed, attempted), "ratio"))

    // per-layer metrics from the traced operations
    val perLayer = mutable.ArrayBuffer.empty[(String, Double, String)]
    val traceInfo = mutable.ArrayBuffer.empty[(String, Any)]
    if (traced) {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val spans = tr.spans.toSeq
      val names = Trace.CallSpans
      val calls = spans.filter(s => names.contains(s.name))
      names.foreach { name =>
        val ss = calls.filter(_.name == name)
        val n = math.max(1, ss.length).toDouble
        val cs = ss.map(tr.counters)
        def per(f: GroupCounters => Double) = cs.map(f).sum / n
        perLayer ++= Seq(
          (s"$name.wall_s", ss.map(_.wallS).sum / n, "s"),
          (s"$name.driver_s", ss.map(tr.driverSeconds).sum / n, "s"),
          (s"$name.task_busy_s", per(_.taskRunMs / 1000.0), "s"),
          (s"$name.gc_s", per(_.gcMs / 1000.0), "s"),
          (s"$name.shuffle_write_mb", per(_.shuffleWriteBytes / (1024.0 * 1024.0)), "MB"),
          (s"$name.spill_mb", per(_.spillBytes / (1024.0 * 1024.0)), "MB"),
          (s"$name.jobs", per(_.jobs.toDouble), "count"))
        traceInfo += (s"$name.calls" -> ss.length)
      }
      names.filter(Trace.PredictSpans).foreach { name =>
        val ss = calls.filter(_.name == name)
        val returned = ss.flatMap(_.rows).sum
        val written = ss.map(s => tr.counters(s).shuffleWriteRecords).sum
        perLayer += ((s"$name.rows_per_result", if (returned > 0) written.toDouble / returned else 0.0, "ratio"))
      }
      perLayer ++= Seq(
        ("cache.entries_left", residue._1.toDouble, "count"),
        ("cache.mb_left", residue._2, "MB"),
        ("spark.failed_tasks", tr.listener.failedTasks.toDouble, "count"))
      // tracing overhead: equal numbers of traced and untraced operations
      // of each kind, traced total minus untraced total
      val pairs = loopOutcomes.filter(_._1.completed).groupBy(_._1.kind).toSeq.map { case (_, os) =>
        val (t, u) = os.partition(_._2)
        val n = math.min(t.length, u.length)
        (t.take(n).map(_._1.seconds).sum, u.take(n).map(_._1.seconds).sum)
      }
      val (tracedTotal, untracedTotal) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      perLayer += (("trace.overhead_s", tracedTotal - untracedTotal, "s"))
      // additivity: the call spans of the traced operations plus the gap
      // no call span covers add up to the traced operations' total
      val roots = spans.filter(_.parent.isEmpty)
      val rootWall = roots.map(_.wallS).sum
      val callWall = calls.map(_.wallS).sum
      traceInfo ++= Seq("traced_total_s" -> tracedTotal, "untraced_total_s" -> untracedTotal,
        "traced_ops_wall_s" -> rootWall, "call_spans_wall_s" -> callWall,
        "untraced_gap_s" -> (rootWall - callWall))
    }

    val reported = if (traced) perLayer.toSeq else e2e
    reported.foreach { case (n, v, u) => println(s"metric $n $v $u") }
    if (!traced) named.foreach { case (n, v, u) => println(s"metric $n $v $u") }
    def metricsJson(ms: Iterable[(String, Double, String)]) =
      Json.Obj(ms.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }.toSeq)

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "provenance" -> Json.obj(
        "git_commit" -> a.get("commit"), "source_digest" -> a.get("source-digest"),
        "nproc" -> cores, "master" -> master,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "spark_conf" -> Json.Obj(conf),
        "data_dir" -> dir,
        "data_generator" -> Json.obj("seed" -> DataGen.GeneratorSeed,
          "users" -> DataGen.Users, "items" -> DataGen.Items),
        "workload_facts" -> Json.Obj(w.facts)),
      "box_speed_s" -> boxSpeedS,
      "setup" -> Json.obj("session_ready_s" -> sessionReadyS,
        "load_s" -> loadS, "build_s" -> buildS),
      "loop_wall_s" -> loopWallS,
      "metrics" -> metricsJson(reported),
      "named_metrics" -> metricsJson(named),
      "tail" -> Json.Obj(tailInfo.toSeq),
      "cache_residue" -> Json.obj("entries_left" -> residue._1, "mb_left" -> residue._2),
      "operations" -> outcomes.map { case (o, t) =>
        Json.obj("kind" -> o.kind, "seconds" -> o.seconds, "cpu_seconds" -> o.cpuSeconds,
          "ok" -> o.ok, "completed" -> o.completed, "cycle" -> o.cycle, "traced" -> t) },
      "trace_summary" -> Json.Obj(traceInfo.toSeq),
      "spans" -> tr.spans.map(s => Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "rows" -> s.rows)))
    Files.write(Paths.get(a("record")), (Json.write(record) + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)

    val line = Json.obj("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricsJson(reported))
    spark.stop()
    println(Json.write(line))
  }
}

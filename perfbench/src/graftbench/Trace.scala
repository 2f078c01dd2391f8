package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task and job counters of one Spark job group. */
final class GroupCounters {
  var jobs = 0
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  /** (start, end) epoch-ms of each finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Sums task metrics per job group. The benchmark sets one job group per
  * span, so every job a span's call submits lands on that span. Jobs
  * outside any span group are ignored except for failed-task counting. */
final class GroupListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  @volatile var failedTasks = 0L

  def counters(group: String): GroupCounters = synchronized {
    groups.getOrElse(group, new GroupCounters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Trace.GroupPrefix)).foreach { g =>
        jobGroup(e.jobId) = (g, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
        val c = groups.getOrElseUpdate(g, new GroupCounters)
        c.jobs += 1
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      groups(g).jobIntervals += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = groups(g)
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** One recorded span: a public call (or a whole operation, the root). */
final case class Span(id: Int, name: String, parent: Option[Int], request: Option[String],
    startMs: Long, endMs: Long, wallS: Double, rows: Option[Long])

/** Spans recorded from the benchmark side around each public graft call.
  * Kept in memory, written out with the run record at the end. Disabled
  * (`on == false`) spans cost one branch and record nothing; an untraced
  * run registers no listener. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]
  var on = false

  /** Run `body` as span `name`; `rows` reads the row count of its result
    * (forced outputs and collected results), if any. */
  def apply[T](name: String, request: Option[String] = None)(body: => T)(
      rows: T => Option[Long] = (_: T) => None): T = {
    if (!on) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption
    stack = id :: stack
    sc.setJobGroup(Trace.GroupPrefix + id, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      spans += Span(id, name, parent, request, startMs, System.currentTimeMillis(), wall, rows(out))
      out
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Trace.GroupPrefix + p, "", interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def counters(s: Span): GroupCounters = listener.counters(Trace.GroupPrefix + s.id)

  /** Span wall time not covered by any of its own jobs' [start, end]
    * intervals: driver-side planning, collects and solves. */
  def driverSeconds(s: Span): Double = {
    val iv = counters(s).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.wallS - covered / 1000.0)
  }
}

object Trace {
  val GroupPrefix = "graftbench-span-"

  /** The public calls wrapped in spans, in the order the per-layer metric
    * names list them. Every traced run reports all of them; a call its
    * workload does not make reads 0. The scenario calls are made by the
    * traced serve_refit run only. */
  val CallSpans: Seq[String] = Seq(
    "Tables.interactions", "preprocessing.MinCountFilter", "preprocessing.LabelEncoder",
    "splitters.TimeSplitter", "models.ItemKNN.fit", "models.ItemKNN.predict",
    "models.ALSRec.fit", "models.ALSRec.predict", "metrics.Metrics.compute",
    "models.ItemKNN.coStats", "models.ItemKNN.mergeStats", "models.ItemKNN.fitFromStats",
    "scenarios.TwoStages.fit", "scenarios.TwoStages.predict")

  /** Spans whose results are recommendations: rows_per_result applies. */
  val PredictSpans: Set[String] =
    Set("models.ItemKNN.predict", "models.ALSRec.predict", "scenarios.TwoStages.predict")
}

package graft

import graft.core.Session
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool (guide §1 measure-first): run ONE query end-to-end and print a
  * per-job wall-time attribution — job id, seconds, and the first line of
  * the job's call site / description — so an expensive row's cost can be
  * assigned to its stages before optimizing. Builds its session with the
  * library's factory ([[graft.core.Session.build]]), as the bench does
  * (honors SPARK_GRAFT_CPUS / SPARK_GRAFT_SF_DIR). Not part of any timed
  * path.
  *
  * Usage: sbt "runMain graft.JobProfile <query> [reps]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("model_slope_one_sample")
    val reps = if (args.length > 1) args(1).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(master = s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc) =>
          done.add((je.jobId, (je.time - t0) / 1e3, desc))
        }
      }
    })

    Bench.warmup(spark, d)
    (1 to reps).foreach { r =>
      spark.catalog.clearCache()
      done.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      println(f"===== $name rep $r total $total%.2f s =====")
      import scala.jdk.CollectionConverters._
      val rows = done.asScala.toSeq.sortBy(_._1)
      rows.foreach { case (id, sec, desc) =>
        println(f"job $id%4d  $sec%7.3f s  ${desc.take(90)}")
      }
      println(f"sum of jobs: ${rows.map(_._2).sum}%.2f s over ${rows.size} jobs")
    }
    spark.stop()
  }
}

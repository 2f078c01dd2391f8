package graft.core

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Pins the one session factory. A JVM holds one SparkContext, and the
  * specs' shared session already owns it, so `Session.build(local[3])` runs
  * in a child JVM ([[SessionConfDump]]) that prints its effective config. */
class SessionSpec extends SparkSpec {

  private val pinned = Seq(
    "spark.master",
    "spark.sql.shuffle.partitions",
    "spark.serializer",
    "spark.kryoserializer.buffer.max",
    "spark.sql.session.timeZone",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
    "spark.sql.adaptive.enabled",
    "spark.sql.codegen.cache.maxEntries",
  )

  private def childConf(): Map[String, String] = {
    val java = new File(new File(System.getProperty("java.home"), "bin"), "java").getPath
    // the module opens Spark needs on JDK 17, but not this JVM's
    // -Dspark.* options: the factory alone must set what is pinned. A
    // non-UTC JVM zone keeps the time-zone pin from passing by default.
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val cmd = Seq(java) ++ opens ++ Seq("-Xmx1g", "-Duser.timezone=Asia/Tokyo",
      "-Dspark.ui.enabled=false", "-cp", System.getProperty("java.class.path"),
      "graft.core.SessionConfDump") ++ pinned
    val out = File.createTempFile("session_conf", ".out")
    out.deleteOnExit()
    val proc = new ProcessBuilder(cmd: _*)
      .redirectOutput(out).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    if (!proc.waitFor(5, TimeUnit.MINUTES)) {
      proc.destroyForcibly()
      fail("child JVM timed out")
    }
    assert(proc.exitValue() == 0, s"child JVM exited with ${proc.exitValue()}")
    val src = scala.io.Source.fromFile(out)
    try src.getLines().collect {
      case l if l.startsWith("conf ") =>
        val Array(k, v) = l.stripPrefix("conf ").split("=", 2); k -> v
    }.toMap
    finally src.close()
  }

  test("Session.build(local[3]): 3 shuffle partitions, Kryo, UTC, hash-aggregate threshold, AQE") {
    val conf = childConf()
    assert(conf("spark.master") == "local[3]")
    assert(conf("spark.sql.shuffle.partitions") == "3")
    assert(conf("spark.serializer") == "org.apache.spark.serializer.KryoSerializer")
    assert(conf("spark.kryoserializer.buffer.max") == "256m")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4194304")
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("the specs' shared session is built by the factory") {
    val s = SparkSpec.session
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sparkContext.getConf.get("spark.serializer") ==
      "org.apache.spark.serializer.KryoSerializer")
    assert(s.sparkContext.getConf.get("spark.kryoserializer.buffer.max") == "256m")
    assert(s.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4194304")
  }
}

/** Child entry of [[SessionSpec]]: builds `Session.build(local[3])` and
  * prints `conf <key>=<value>` for every key named on the command line. */
object SessionConfDump {
  def main(keys: Array[String]): Unit = {
    val spark = Session.build(appName = "session-conf", master = "local[3]")
    val sc = spark.sparkContext
    keys.foreach { k =>
      val v = if (k == "spark.master") sc.master else spark.conf.getOption(k)
        .orElse(sc.getConf.getOption(k)).getOrElse("<unset>")
      println(s"conf $k=$v")
    }
    spark.stop()
  }
}

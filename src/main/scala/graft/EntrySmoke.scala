package graft
import graft.core.Session
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.build(master = "local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5)
    spark.stop()
  }
}

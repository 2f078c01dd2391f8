package graft
import graft.core.Session
/** Dev tool: dump physical plans of representative queries to verify
  * pushdown / broadcast / codegen properties at a glance.
  *
  * Builds its session with the library's factory ([[graft.core.Session.build]],
  * honoring SPARK_GRAFT_CPUS), as the bench does, and honors
  * SPARK_GRAFT_SF_DIR, so the dumped plan is the plan the bench actually
  * runs — the plans/r13 before/after evidence files are produced with
  * this tool. */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.build(master = s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("filter_low_rating", "window_top_k", "model_pop_rec_predict")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}

package graft.core

import org.apache.spark.sql.{GraftExpressionBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

/** SparkSessionExtensions installer: exposes the engine's native codegen
  * expressions to pure-SQL users —
  * `spark.sql("SELECT dot_product(a, b), md5_prefix60(s) ...")` — via the
  * idiomatic extension hook:
  *
  *   - config: `spark.sql.extensions=graft.core.GraftExtensions`
  *   - builder: `.withExtensions(new GraftExtensions)` on a session builder
  *   - post-hoc: `GraftExtensions.register(spark)` on a live session
  *     (tests, notebooks — extension classes only apply at build time).
  *
  * Same argument coercions as the Column wrappers: dot_product casts both
  * sides to array<double>, md5_prefix60 casts to string — so the SQL and
  * DSL forms are the same plan node with the same semantics.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def dotBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"dot_product expects 2 arguments, got ${args.length}")
    DotProduct(Cast(args(0), ArrayType(DoubleType)), Cast(args(1), ArrayType(DoubleType)))
  }

  private def md5Builder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"md5_prefix60 expects 1 argument, got ${args.length}")
    Md5Prefix60(Cast(args(0), StringType))
  }

  /** (identifier, info, builder) triples in SparkSessionExtensions'
    * injectFunction shape. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("dot_product"),
        new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
        dotBuilder _),
      (FunctionIdentifier("md5_prefix60"),
        new ExpressionInfo(classOf[Md5Prefix60].getName, "md5_prefix60"),
        md5Builder _),
    )

  /** Register on an already-built session (extension classes only apply
    * at session build time). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, b) =>
      GraftExpressionBridge.registerFunction(spark, id, info, b)
    }
}

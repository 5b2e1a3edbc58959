package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions for SQL use. `graft.Sessions` installs it on every session
  * the engine builds; another host can set
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  *   SELECT graft_dot(a.embedding, b.embedding) FROM ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot",
        "graft_dot(a, b) - dot product of two array<double> columns (codegen)"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot takes exactly 2 arguments")
        DotProductExpr(children(0), children(1))
      }))
}

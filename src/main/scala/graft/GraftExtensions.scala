package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.VectorExpressions

/** Session extension wiring for the engine's custom expressions, for use
  * via `spark.sql.extensions=graft.GraftExtensions`: the md5-hash
  * rewrite, the as-of join strategy, and every `graft_*` SQL name of
  * [[graft.functions.VectorExpressions]]' kernel table — the same table
  * [[graft.functions.VectorExpressions.register]] installs into one
  * session. Operators need neither: they build kernels as typed columns.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.Md5Hash32Rewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    VectorExpressions.Builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(VectorExpressions.getClass.getName, name), builder))
    }
  }
}

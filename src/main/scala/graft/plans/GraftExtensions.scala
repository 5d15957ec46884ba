package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension installer for graft's SQL functions — lets a cluster
  * set `spark.sql.extensions=graft.plans.GraftExtensions` (or a builder call
  * `.withExtensions(new GraftExtensions)`) and get every `graft_*` function
  * in SQL text on every session it builds; a session that is already
  * running installs them with `GraftFunctions.registerAll`. The Column API
  * needs neither. Same builders as `registerAll`, so plans are identical
  * either way.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.GraftExtensions", name),
        builder))
    }
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension installing the engine's native expressions into the
  * function registry at session build time, so pure-SQL users can call
  * them: set `spark.sql.extensions=graft.GraftExtensions` (GraftSession
  * does). Column-API callers go through VecExpressions.cosineFast, which
  * self-registers and works in any session. Functions only: every
  * operator is built from composed expressions, so no optimizer rule or
  * planner strategy is injected.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // all engine functions come from the same builder tables the
    // Column-API registration paths use, so the two can't drift
    val all = graft.functions.VecExpressions.sqlBuilders ++
      graft.functions.HashFunctions.sqlBuilders
    all.foreach { case (name, className, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(className, name), builder))
    }
  }
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The library's `SparkSessionExtensions` entry point and the only way
  * its SQL functions and planner rules reach a session. It injects the
  * native expressions of [[graft.functions.GraftFunctions.builders]]
  * into the function registry, the [[graft.plans.TopKStrategy]] planner
  * strategy and the conf-gated [[graft.plans.TopKRewrite]] optimizer
  * rule. `GraftSession.local` installs it on every session it builds;
  * a session built elsewhere gets it through
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Extensions apply when a session is created, and carry over to its
  * `cloneSession()`s (`GraftSession.scoped`, streaming micro-batches).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // the COMPLETE function surface, from the same builder list the
    // Column functions build from — SQL and the Column API can never
    // see different function sets
    graft.functions.GraftFunctions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
      )
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // conf-gated (spark.graft.topk.rewrite, default off): SQL window-rank
    // top-k patterns rewrite onto the bounded-heap operator
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}

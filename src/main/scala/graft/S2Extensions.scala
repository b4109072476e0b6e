package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: makes every native S2 expression
  * SQL-callable in any session built with
  *   .config("spark.sql.extensions", "graft.S2Extensions")
  * (or injected programmatically). The names come from
  * [[graft.functions.S2.functionTable]], the same table
  * [[graft.functions.S2.registerAll]] registers. The expressions themselves
  * carry codegen, so SQL users get the same whole-stage-compiled kernels as
  * the Column API. */
class S2Extensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.S2.functionTable.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), builder))
    }
    // plan-time rewrite: spatial-predicate joins -> term join + refine
    ext.injectOptimizerRule(_ => graft.plans.S2SpatialJoinRule)
  }
}

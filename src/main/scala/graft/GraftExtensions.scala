package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.GraftFunctions

/** The public-API registration route for graft's native expressions:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)            // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * Cluster deployments use the config form (no code changes on the
  * submitting side); [[org.apache.spark.sql.graft.GraftFunctions.register]]
  * remains for attaching to an already-built session. Both routes register
  * the same [[org.apache.spark.sql.graft.GraftFunctions.functions]] table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(
        classOf[GraftExtensions].getName, null, name, usage, ""), builder))
    }
    // custom whole-operator plan: AsOfJoinNode → AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // expression fusions (size(ngram_hashes) → count-only kernel)
    ext.injectOptimizerRule(_ => graft.plans.GraftRewrites)
  }
}

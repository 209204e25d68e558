package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The idiomatic installation path for the graft engine:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.Builder#withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Injects every graft SQL function ([[graft.functions.sqlFunctions]] —
  * the same table `registerAll` uses for sessions we don't construct)
  * and the [[graft.plans.SimplifyKernelNullChecks]] optimizer rule, so a
  * cluster deployment gets the full engine without calling any graft
  * code before session construction. Mirrors how the reference installs
  * per-job services on its engine instance (e.g.
  * `/root/reference/probabilistic/src/main/java/com/hazelcast/jet/contrib/probabilistic/HashingSupport.java:42-52`,
  * a shared service factory attached at pipeline build time).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.SimplifyKernelNullChecks)
  }
}

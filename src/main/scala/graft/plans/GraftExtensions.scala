package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Session extensions: registers the native graft expressions at session
  * build time, so a cluster deployment enables them with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` (no driver
  * code required). Per-session registration for notebooks/tests lives in
  * [[graft.functions.GraftFunctions.register]]; both read the one
  * [[graft.functions.GraftFunctions.table]].
  *
  * Deliberately NO custom optimizer rules or planner strategies: the
  * reference has no optimizer to mirror (SURVEY.md §4 — closures are
  * opaque; no pushdown/pruning/reordering exists there), and every graft
  * operator is expressed in Catalyst-visible built-ins + Aggregators, so
  * Catalyst's own pushdown, pruning, join planning, and AQE do the work.
  * The one optimizer-adjacent candidate — takeWhile/dropWhile boundary
  * computation — is a two-branch DataFrame rewrite with a broadcast
  * scalar (SemanticStream.takeWhile), which needs no Rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf"),
        build))
    }
}

package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.plans._
import graft.sources.LakeMergeStrategy

/** Library-style Catalyst integration: enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions` and every session
  * gets the engine's default pieces ([[GraftExtensions.rules]],
  * `strategies`, `functions`) without any imperative call — the standard
  * deployment shape for a Spark library. Two rules are extension-only:
  *  - [[graft.plans.RangeJoinBinningRule]] has no kill-switch, and its
  *    spec gets the nested-loop baseline by leaving it out;
  *  - [[graft.plans.CenteredRowsLintRule]] is a post-hoc resolution rule,
  *    which `spark.experimental` cannot install.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // keyless bounded-range joins (ts BETWEEN base ± literal) rewrite to the
    // binned equi-join shape instead of a nested loop
    ext.injectOptimizerRule(_ => RangeJoinBinningRule)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    // OPT-IN analyzer-time cost lint (spark.graft.lint.centeredRows=true):
    // warns on the multi-family centered-ROWS shape the rules execute
    // correctly but expensively, naming the RangeWindows.rowsSlidingAll
    // remediation
    ext.injectPostHocResolutionRule(session => CenteredRowsLintRule(session))
  }
}

/** The engine's one list of default session pieces. Both deployment paths
  * read it: [[install]] (run by [[graft.Tables.tune]], so every entry point
  * gets it) and the `spark.sql.extensions` class above.
  */
object GraftExtensions {
  /** One fixed-point batch: each rewrite below feeds the others. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    // global row_number()/ntile() windows over unbounded input → the
    // distributed two-pass rank instead of a single-partition Window
    GlobalRankRule,
    // global RANGE n PRECEDING sums/counts → the ghost-probe composition,
    // whose inner running window GlobalRankRule distributes next iteration
    RangeSlidingRule,
    // sliding RANGE min/max have no inverse → the sparse-block decomposition
    RangeMinMaxRule,
    // ROWS frames with FOLLOWING ends → RANGE over row_number()
    RowsFollowingRule,
    // DESC / NULLS LAST global orders → ASC NULLS FIRST, so "latest-first"
    // SQL is food for the rules above
    DescOrderRule,
    // suffix frames (CURRENT ROW .. UNBOUNDED FOLLOWING) → running
    // prefixes over the reversed order
    SuffixFrameRule,
    // joins on the asof_match marker → the native point-in-time join
    AsOfJoinRule)

  val strategies: Seq[SparkStrategy] =
    Seq(GlobalRankStrategy, AsOfJoinStrategy, LakeMergeStrategy)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    function[CosineSimilarity]("cosine_sim")(e => CosineSimilarity(e(0), e(1))),
    function[AsOfMatch](AsOfJoin.FunctionName)(AsOfMatch.fromArgs),
    // match-then-filter escape hatch for LEFT as-ofs (AsOfJoin.postFilter)
    function[PushdownBarrier](AsOfJoin.BarrierFunctionName)(e => PushdownBarrier(e.head)))

  private def function[T: ClassTag](name: String)(build: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(classTag[T].runtimeClass.getName, name), build)

  /** Add every missing default piece to `spark` (idempotent, thread-safe).
    * The check-and-append runs under a lock: `extraOptimizations` and
    * `extraStrategies` are plain vars, and two concurrent installs (two
    * lake table loads, say) would otherwise lose one read-modify-write.
    */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    val registry = spark.sessionState.functionRegistry
    exp.synchronized {
      val newRules = rules.filterNot(exp.extraOptimizations.contains)
      if (newRules.nonEmpty) exp.extraOptimizations ++= newRules
      val newStrategies = strategies.filterNot(exp.extraStrategies.contains)
      if (newStrategies.nonEmpty) exp.extraStrategies ++= newStrategies
      functions.foreach { case (id, info, build) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
      }
    }
  }
}

package graft

import graft.functions.{GraftFunctions, PileupUDFs}
import graft.plans.{GraftTableFunctions, IntervalJoinStrategy}

import org.apache.spark.sql.SparkSession

/** Runtime attachment of the engine to an *existing* SparkSession —
  * the moral equivalent of the reference's `SequilaSession(spark)` wrapper
  * (`utvf/SequilaSession.scala:29-75`), but with no forked
  * Analyzer/SessionState: strategies go through
  * `experimental.extraStrategies` and functions through the session
  * registries. Idempotent; call at the top of any query that needs the
  * engine so the contract works even when the caller built the session
  * without `spark.sql.extensions=graft.GraftExtensions`.
  */
object Graft {

  def ensure(spark: SparkSession): SparkSession = synchronized {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.experimental.extraStrategies.exists(_.isInstanceOf[IntervalJoinStrategy])) {
      classic.experimental.extraStrategies = classic.experimental.extraStrategies ++
        Seq(IntervalJoinStrategy(spark), graft.plans.GenomicStrategy(spark))
    }
    // Rule parity with GraftExtensions: without these the
    // imperative attachment silently loses the scale-critical rewrites —
    // the featureCounts shape pair-materializes instead of planning
    // IntervalCountJoinNode, over-budget inner joins take the
    // strategy-level `planLater(rewrite)` fallback (which AQE cannot fold
    // back, so skew-split never fires), and `element_at(tags,'XX')` decodes
    // the full tag map. `extraOptimizations` runs as the optimizer's final
    // fixpoint batch — later than the extensions' preCBO/operator slots,
    // but both placements already see the post-operator-batch plan shape
    // and every rule here is idempotent (pushdown guards on the
    // already-rewritten node, BinRangeLogicalRule on `isRewriteJoin`,
    // TagKeyPruneRule on `tagKeys.isDefined`), so double attachment in an
    // extensions-built session is harmless. NearestJoinDedupRule needs no
    // mirror here: self nearest-joins dedup at TVF-BUILD time
    // (`GraftTableFunctions.nearestSides` re-aliases the right side with
    // fresh ExprIds), which runs identically on both attachment paths;
    // the analysis rule remains on the extensions path
    // purely as a backstop for direct node construction.
    // Skip the append when the session's optimizer ALREADY carries the
    // injected rules (extensions-built session) — they run in their
    // injected slots, and while every rule is idempotent, running them a
    // second time in the final fixedPoint batch is pure waste. Probed on
    // the optimizer itself, NOT the spark.sql.extensions conf: a
    // reflection/newSession-built session inherits the context conf
    // without the injections, and would be left ruleless by a conf check.
    val alreadyInjected = classic.sessionState.optimizer.preCBORules
      .exists(_.isInstanceOf[graft.plans.BinRangeLogicalRule])
    if (!alreadyInjected && !classic.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.BinRangeLogicalRule])) {
      classic.experimental.extraOptimizations =
        classic.experimental.extraOptimizations ++ Seq(
          graft.plans.IntervalCountPushdownRule(spark),
          graft.plans.BinRangeLogicalRule(spark),
          graft.plans.NearestJoinPruneRule(spark),
          graft.plans.TagKeyPruneRule(spark))
    }
    val freg = classic.sessionState.functionRegistry
    GraftFunctions.registrations.foreach { case (id, info, b) =>
      if (!freg.functionExists(id)) freg.registerFunction(id, info, b)
    }
    val treg = classic.sessionState.tableFunctionRegistry
    GraftTableFunctions.registrations.foreach { case (id, info, b) =>
      if (!treg.functionExists(id)) treg.registerFunction(id, info, b)
    }
    PileupUDFs.register(spark)
    spark
  }
}

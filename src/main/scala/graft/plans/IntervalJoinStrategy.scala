package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}

/** Plans [[IntervalForestJoinExec]] for joins matched by
  * [[ExtractIntervalJoin]] (reference strategy:
  * `rangejoins/methods/IntervalTree/IntervalTreeJoinStrategyOptim.scala:16-51`).
  *
  * Build-side and broadcast-vs-bin-range selection use Catalyst plan
  * statistics instead of the reference's runtime `count()` jobs + JOL object
  * sizing (`IntervalTreeJoinOptimChromosome.scala:72-88`,
  * `rangejoins/optimizer/JoinOptimizerChromosome.scala:19-63`) — zero extra
  * jobs, same decision. One engine per regime: the broadcast forest under
  * the budget; over it, [[BinRangeRewrite]] for inner joins and the exec's
  * bin-range mode for the other join types. Conf knobs (defaults in parens):
  *
  *  - `spark.graft.rangejoin.enabled` (true) — fall back to stock Spark
  *    (BroadcastNestedLoopJoin) when false; used by differential tests.
  *  - `spark.graft.rangejoin.minOverlap` (1), `spark.graft.rangejoin.maxGap` (0)
  *  - `spark.graft.rangejoin.method` (auto | broadcast | binrange)
  *  - `spark.graft.rangejoin.buildSide` (auto | left | right) — the
  *    reference's `useJoinOrder` analogue (auto picks the smaller by stats).
  *  - `spark.graft.rangejoin.maxBroadcastBytes` (256 MiB, [[BroadcastBudget]])
  *    — auto threshold between broadcast and the bin-range shuffle join.
  *  - `spark.graft.rangejoin.binWidth` (300 for the inner rewrite, 5000
  *    for the non-inner exec) — genome-bin width of the shuffle regime;
  *    both sides replicate per overlapped bin.
  *  - `spark.graft.rangejoin.intervalHolderClass`
  *    (graft.operators.IntervalForestFactory) — the broadcast-side
  *    structure factory, the reference's `intervalHolderClassName`
  *    analogue (`IntervalHolderChromosome.scala:6-26`).
  */
case class IntervalJoinStrategy(session: SparkSession) extends SparkStrategy {

  private def conf(key: String, default: String): String =
    session.conf.get(s"spark.graft.rangejoin.$key", default)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // Streaming children fall through to Spark's stream-aware join
    // planning: both batch modes here collect or cogroup a child, neither
    // of which is defined over an unbounded side. (Streaming interval
    // joins: graft.streaming.StreamingOps.{annotateStream, joinStreams}.)
    case ExtractIntervalJoin(left, right, joinType, keys, hint)
        if conf("enabled", "true").toBoolean && !left.isStreaming && !right.isStreaming &&
          !BinRangeRewrite.isRewriteJoin(keys) =>
      // Operator-authored IntervalOverlaps predicates pin the overlap
      // semantics (and optionally the method) in the plan; the session
      // confs are the defaults-only surface for user-authored
      // comparison-pair joins (see IntervalJoinKeys.minOverlap/maxGap).
      val minOverlap = RangeJoinChoice.minOverlap(conf, keys)
      val maxGap = RangeJoinChoice.maxGap(conf, keys)
      val method = RangeJoinChoice.method(conf, keys)
      // Build side + mode come from the ONE decision shared with the
      // logical bin-range rewrite ([[RangeJoinChoice]] — hints over
      // stats, non-inner build pinning, maxBroadcastBytes threshold);
      // FullOuter preserves both sides (build-side matched-ness is
      // tracked globally by the exec), so either side may build.
      val (buildLeft, binRange) = RangeJoinChoice.choose(
        conf, joinType, left, right, hint, method)
      // Inner at shuffle scale plans as a pure Catalyst equi-join rewrite
      // (Tungsten shuffle + codegen + AQE skew splitting) — normally
      // already applied by BinRangeLogicalRule; this covers sessions that
      // register the strategy without the rule. Non-inner joins take the
      // exec's bin-range mode, which carries the matched-row verdicts.
      //
      // Default bin width differs by engine: the rewrite SCANS each
      // (key,bin) group's pairs, so narrow bins win (pairs/bin shrinks
      // faster than replication grows until width ~ interval length);
      // the forest PROBES, so wide bins amortize its build. Measured at
      // sf0.1 (600k x 20k, 3.55M pairs): rewrite 1.15s @300 vs a per-bin
      // forest 1.75s @5000 (rewrite @5000: 2.8s — pair-scan blowup).
      if (binRange && joinType == Inner) {
        return planLater(BinRangeRewrite.rewrite(left, right, keys, buildLeft,
          minOverlap, maxGap, conf("binWidth", "300").toInt)) :: Nil
      }
      val mode = if (binRange) BinRangeMode else BroadcastForestMode
      val binWidth = conf("binWidth", "5000").toInt
      val holderClass = conf("intervalHolderClass",
        classOf[graft.operators.IntervalForestFactory].getName)
      // Inner: residual stays a post-join FilterExec (whole-stage codegen
      // fuses it). Non-inner: the residual decides matched-ness per
      // candidate pair, so it must run inside the join.
      val residualInExec = if (joinType == Inner) None else keys.residual
      // The runtime build-budget guard applies only when WE decided to
      // broadcast from stats; a hint or an explicit method=broadcast is
      // the user's call (standard Spark hint semantics).
      val buildHinted = if (buildLeft) RangeJoinChoice.hinted(hint.leftHint)
        else RangeJoinChoice.hinted(hint.rightHint)
      val enforceBudget = method != "broadcast" && !buildHinted
      val exec = IntervalForestJoinExec(
        keys, buildLeft, mode, minOverlap, maxGap, binWidth, holderClass,
        joinType, residualInExec, planLater(left), planLater(right), enforceBudget)
      if (joinType == Inner) keys.residual.map(FilterExec(_, exec)).getOrElse(exec) :: Nil
      else exec :: Nil
    case _ => Nil
  }
}

package graft.perfbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Names the physical regime an executed plan took, from the graft exec
  * nodes (and their mode) or the graft-generated columns in its text. */
object Regime {

  /** Every name [[of]] returns. */
  val Names: Seq[String] = Seq("forest_count", "bin_count", "forest_broadcast",
    "forest_binrange", "bin_range_shuffle", "bin_range_broadcast", "nearest_broadcast",
    "nearest_merge", "coverage_exec", "pileup_exec", "stream", "other")

  /** The plan that runs: an adaptive plan's current plan, which is its final
    * plan once it has executed. */
  def finalPlan(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  def of(plan: SparkPlan): String = of(finalPlan(plan).treeString)

  def of(plan: String): String = {
    def has(s: String) = plan.contains(s)
    if (has("IntervalBinCountJoin")) "bin_count"
    else if (has("IntervalCountJoin")) "forest_count"
    else if (has("IntervalForestJoin") && has("BinRangeMode")) "forest_binrange"
    else if (has("IntervalForestJoin") && has("BroadcastForestMode")) "forest_broadcast"
    else if (has("_dk#")) "nearest_merge"
    // The broadcast nearest-k operator probes its forest in an RDD it
    // builds eagerly; the plan is a scan of that RDD.
    else if (has("Scan ExistingRDD") && has("distance#")) "nearest_broadcast"
    else if (has("__graft_bin_"))
      if (has("SortMergeJoin") || has("ShuffledHashJoin")) "bin_range_shuffle" else "bin_range_broadcast"
    else if (has("\nCoverage [") || plan.startsWith("Coverage [")) "coverage_exec"
    else if (has("\nPileup [") || plan.startsWith("Pileup [")) "pileup_exec"
    else "other"
  }
}

package graft.perfbench

import org.apache.spark.sql.execution.{RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import scala.collection.mutable

/** Per-layer metrics of the traced half of a run. Times and counts are per
  * traced query execution unless the name says otherwise. */
object Layers {

  /** SQL metrics and graft-source scan totals of one executed plan. */
  final case class PlanStats(buildRows: Long, pairCount: Long, indexReplicas: Long,
      sourceRecords: Long)

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.innerChildren.collect { case c: SparkPlan => c })
      .flatMap(nodes)
  }

  def planStats(plan: SparkPlan): PlanStats = {
    val ns = nodes(plan)
    def metric(name: String): Long =
      ns.flatMap(_.metrics.get(name)).map(_.value).sum
    PlanStats(metric("buildRows"), metric("pairCount"), metric("indexReplicas"),
      graftScans(plan).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }

  private def graftScans(plan: SparkPlan): Seq[RowDataSourceScanExec] = nodes(plan).collect {
    case s: RowDataSourceScanExec if s.relation.getClass.getName.startsWith("graft.sources") => s
  }

  def scansGraftSource(plan: SparkPlan): Boolean = graftScans(plan).nonEmpty

  def compute(ex: Seq[Main.Exec], spans: Seq[Span], stages: Seq[StageRec],
      plans: Seq[PlanStats], sourceBytes: Long, wallS: Double, cores: Int,
      writeS: Double, streamBatchMs: Seq[Double], kernels: Map[String, Double]): Map[String, Double] = {
    val n = math.max(1, ex.size).toDouble
    val self = Trace.selfTimes(spans)
    def total(name: String): Double = spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9
    val jobs = spans.filter(_.name == "job")
    val builds = spans.filter(_.name == "operators.build")
    val eager = jobs.count(j => builds.exists(b => b.qid == j.qid && j.startNs >= b.startNs && j.startNs <= b.endNs))
    val queryS = total("query")
    val jobUnion = self.getOrElse("job", 0L) / 1e9
    val driverS = queryS - jobUnion
    val taskMs = stages.flatMap(_.taskMs)
    // Skew of each query's longest stage: slowest task over the median task.
    val skews = stages.groupBy(_.qid).values.flatMap { st =>
      val longest = st.maxBy(s => s.endNs - s.startNs)
      val t = longest.taskMs.map(_.toDouble).toSeq
      if (t.isEmpty) None else Some(t.max / math.max(1.0, Main.median(t)))
    }.toSeq
    // Share of traced executions whose executed plan took each regime.
    val regimeShares = Regime.Names.map(r => s"plans.regime.$r" -> ex.count(_.regime == r) / n)
    val selfOut = Seq("session.ensure", "operators.build", "plans.plan", "exec.action", "job")
      .map(k => s"self.${k.replace('.', '_')}_s" -> self.getOrElse(k, 0L) / 1e9 / n)
    (Seq(
      "session.ensure_s" -> total("session.ensure") / n,
      "session.ensure_calls" -> spans.count(_.name == "session.ensure") / n,
      "operators.build_s" -> total("operators.build") / n,
      "operators.eager_jobs" -> eager / n,
      "plans.plan_s" -> total("plans.plan") / n,
      "plans.build_rows" -> plans.map(_.buildRows).sum / n,
      "plans.pair_count" -> plans.map(_.pairCount).sum / n,
      "plans.index_replicas" -> plans.map(_.indexReplicas).sum / n,
      "driver.s" -> driverS / n,
      "driver.frac" -> (if (queryS > 0) driverS / queryS else 0.0),
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> stages.size / n,
      "exec.tasks" -> stages.map(_.tasks).sum / n,
      "exec.task_s" -> taskMs.sum / 1e3 / n,
      "exec.cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_s" -> stages.map(_.gcMs).sum / 1e3 / n,
      "exec.core_util" -> taskMs.sum / 1e3 / (wallS * cores),
      "exec.stage_skew" -> (if (skews.isEmpty) 0.0 else Main.median(skews)),
      "exec.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum / n,
      "exec.shuffle_read_records" -> stages.map(_.shuffleReadRecords).sum / n,
      "exec.spill_bytes" -> stages.map(_.spillBytes).sum / n,
      "exec.peak_exec_mem_mb" -> (stages.map(_.peakExecMem) :+ 0L).max / 1048576.0,
      "sources.write_s" -> writeS,
      "sources.input_bytes" -> sourceBytes / n,
      "sources.input_records" -> plans.map(_.sourceRecords).sum / n,
      "streaming.batches" -> streamBatchMs.size / n,
      "streaming.batch_p50_ms" -> (if (streamBatchMs.isEmpty) 0.0 else Main.median(streamBatchMs)),
    ) ++ regimeShares ++ selfOut).toMap ++ kernels
  }
}

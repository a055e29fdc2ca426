package graft.perfbench

import graft.Graft
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in one JVM: set-up, one untimed warm
  * execution of every query type (which also writes its result for the
  * reference check), then a closed loop of timed queries: one client, each
  * query starting when the previous one has finished, cycling through the
  * workload's query types in whole cycles. With `--trace 1` the timed phase
  * runs untraced for its first half and traced for its second half, and
  * kernel micro-timings follow. The result is written as JSON to `--out`.
  *
  * Usage: Main --workload W --data DIR --work DIR --out FILE --seconds S
  *   --trace 0|1 --cores N --budget BYTES|default --seed N --inputs k=v,... (input facts from gen.py) */
object Main {

  /** One timed execution; `regime` is read from the plan that ran. */
  final case class Exec(q: Int, latencyS: Double, ok: Boolean, traced: Boolean, regime: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val inputs = opt("inputs").split(",").map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    // "default" keeps graft's and Spark's own broadcast limits; a number sets
    // one budget for graft's planner and Spark's own joins.
    if (opt("budget") != "default")
      builder.config("spark.graft.rangejoin.maxBroadcastBytes", opt("budget"))
        .config("spark.sql.autoBroadcastJoinThreshold", opt("budget"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sessionReadyMs = System.currentTimeMillis()
    val wl = workload match {
      case "featurecounts" | "wide_join" => Workloads.join(spark, data, work, inputs, workload == "wide_join")
      case "depth" => Workloads.depth(spark, data, work, inputs)
      case other => sys.error(s"unknown workload $other")
    }
    val qs = wl.queries
    val inputsReadyMs = System.currentTimeMillis()
    // Warm: every query type twice, untimed, so first-run costs land in
    // set-up. The first execution collects its result for the reference
    // check from the same QueryExecution whose final plan names the regime.
    // The second runs the way the timed loop does: after one execution the
    // JIT is still compiling the query's hot paths.
    val failures = mutable.ArrayBuffer.empty[String]
    val regimes = mutable.LinkedHashMap.empty[String, String]
    val planText = mutable.LinkedHashMap.empty[String, String]
    val warmS = qs.map { q =>
      val t0 = System.nanoTime()
      try {
        Graft.ensure(spark)
        val df = q.build()
        val out = s"$work/results/${q.name}"
        if (df.isStreaming) {
          q.run(df)
          spark.table(Workloads.lastTable).write.mode("overwrite").parquet(out)
          regimes(q.name) = "stream"
        } else {
          val qe = df.queryExecution
          val rows = SQLExecution.withNewExecutionId(qe, Some("perfbench"))(
            qe.executedPlan.executeCollectPublic())
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .write.mode("overwrite").parquet(out)
          regimes(q.name) = Regime.of(qe.executedPlan)
          planText(q.name) = Regime.finalPlan(qe.executedPlan).treeString.take(6000)
        }
        clearCaches(spark)
        Graft.ensure(spark)
        val again = q.build()
        q.run(again)
        val r = regimeOf(again)
        if (r != regimes(q.name)) failures += s"warm ${q.name}: second execution took regime $r"
      } catch { case e: Throwable => failures += s"warm ${q.name}: ${msg(e)}" }
      clearCaches(spark)
      q.name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    // Every timed cycle starts after the same full collections, the first
    // one included, so no warm-phase garbage is collected inside a timing.
    fullCollections()
    val firstTimedMs = System.currentTimeMillis()
    val setupS = (firstTimedMs - jvmStartMs) / 1e3

    val execs = mutable.ArrayBuffer.empty[Exec]
    val spans = mutable.ArrayBuffer.empty[Span]
    var tracer: Tracer = null
    var qid = 0
    var i = 0
    val timedStart = System.nanoTime()
    val deadline = timedStart + (seconds * 1e9).toLong
    val traceFrom = if (trace) timedStart + (seconds * 0.5e9).toLong else Long.MaxValue
    var tracedStart = 0L
    // Time outside the query timings (collections, regime checks), taken off
    // the wall time of the half it falls in.
    var asideUntracedNs = 0L
    var asideTracedNs = 0L
    var liveHeap = 0L
    // Whole cycles only: the loop (and the switch to tracing) waits for a
    // cycle boundary, so every query type is sampled equally often. At least
    // MinCycles cycles run (with tracing, at least one of each kind), so each
    // query type's median has three samples on any machine.
    while (System.nanoTime() < deadline || i % qs.size != 0 || i < MinCycles * qs.size ||
        (trace && tracer == null)) {
      if (tracer == null && i % qs.size == 0 && System.nanoTime() >= traceFrom) {
        tracer = new Tracer(clockOffsetNs)
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(planListener)
        tracedStart = System.nanoTime()
      }
      val traced = tracer != null
      val q = qs(i % qs.size)
      qid += 1
      spark.sparkContext.setLocalProperty("perfbench.qid", qid.toString)
      val t0 = System.nanoTime()
      val df = try {
        Some(if (traced) tracedQuery(spark, q, qid, spans) else {
          Graft.ensure(spark)
          val d = q.build()
          q.run(d)
          d
        })
      } catch { case e: Throwable => failures += s"${q.name}: ${msg(e)}"; None }
      val lat = (System.nanoTime() - t0) / 1e9
      // Every execution's regime comes from the final plan of the
      // QueryExecution that ran; a wrong regime fails the execution.
      val c0 = System.nanoTime()
      val regime = df.map(regimeOf).getOrElse("error")
      val ok = df.nonEmpty && regime == q.regime
      if (df.nonEmpty && !ok) failures += s"${q.name}: took regime $regime, expected ${q.regime}"
      execs += Exec(i % qs.size, lat, ok, traced, regime)
      if (traced) q.streamProgress().foreach(p => streamBatches += p.batchDuration.toDouble)
      clearCaches(spark)
      val aside = System.nanoTime() - c0
      if (traced) asideTracedNs += aside else asideUntracedNs += aside
      i += 1
      // Full collections end every cycle, outside the timings; the heap
      // occupancy the collector records after them (the heap pools'
      // collection usage) is what peak_live_heap_mb reports.
      if (i % qs.size == 0) {
        val g0 = System.nanoTime()
        fullCollections()
        liveHeap = math.max(liveHeap, collectionUsage())
        val g = System.nanoTime() - g0
        if (traced) asideTracedNs += g else asideUntracedNs += g
      }
    }
    val timedEnd = System.nanoTime()
    spark.sparkContext.setLocalProperty("perfbench.qid", null)
    val peakHeapMb = liveHeap / 1048576.0
    if (tracer != null) {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(planListener)
    }

    val kernels = if (trace) Kernels.run(spark, workload, data, work) else Map.empty[String, Double]

    val timed = execs.filterNot(_.traced)
    val timedWall = ((if (trace) tracedStart else timedEnd) - timedStart - asideUntracedNs) / 1e9
    val tracedWall = (timedEnd - tracedStart - asideTracedNs) / 1e9
    val e2e = endToEnd(qs, timed.toSeq, timedWall, setupS, peakHeapMb)
    val traceE2e =
      if (trace) endToEnd(qs, execs.filter(_.traced).toSeq, tracedWall, setupS, peakHeapMb)
      else Map.empty[String, Double]
    val layers =
      if (trace) Layers.compute(execs.filter(_.traced).toSeq, spans.toSeq ++ tracer.jobs,
        tracer.stages.toSeq, planStats.toSeq, sourceBytes.sum, tracedWall,
        cores, wl.writeS, streamBatches.toSeq, kernels)
      else Map.empty[String, Double]
    if (trace) writeSpans(s"$work/spans.jsonl", spans.toSeq ++ tracer.jobs)

    val result = Json.obj(
      "workload" -> workload,
      "seed" -> opt("seed"),
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "setup_s" -> setupS,
      "setup_phases_s" -> Json.obj("jvm_to_session" -> (sessionReadyMs - jvmStartMs) / 1e3,
        "inputs_and_fixtures" -> (inputsReadyMs - sessionReadyMs) / 1e3, "warm" -> warmS),
      "sources_write_s" -> wl.writeS,
      "setup_notes" -> wl.setupNotes,
      "timed_wall_s" -> timedWall,
      "attempted" -> execs.size,
      "failed" -> execs.count(!_.ok),
      "failures" -> failures.take(20).toSeq,
      "query_types" -> qs.map(_.name),
      "latencies" -> qs.indices.map(k => qs(k).name -> timed.filter(_.q == k).map(_.latencyS).toSeq).toMap,
      "executions" -> qs.indices.map(k => qs(k).name -> execs.count(_.q == k)).toMap,
      "expected_regimes" -> qs.map(q => q.name -> q.regime).toMap,
      "regimes" -> regimes.toMap,
      "plans" -> planText.toMap,
      "metrics" -> e2e,
      "traced_metrics" -> traceE2e,
      "layers" -> layers)
    Files.createDirectories(Paths.get(opt("out")).getParent)
    Files.writeString(Paths.get(opt("out")), Json.render(result))
    spark.stop()
  }

  private val MinCycles = 3
  private val streamBatches = mutable.ArrayBuffer.empty[Double]
  /** Bytes read through Hadoop's FileSystem by each traced query whose plan
    * scans a graft source (0 for the others). */
  private val sourceBytes = mutable.ArrayBuffer.empty[Long]
  private val planStats = mutable.ArrayBuffer.empty[Layers.PlanStats]

  /** Collects the SQL metrics of every plan the traced queries execute. */
  private val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      planStats.synchronized { planStats += Layers.planStats(qe.executedPlan) }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
  }

  /** Spark's ContextCleaner drops unreferenced broadcast and shuffle blocks
    * only after a collection has found them (its thread polls every 100 ms),
    * so a second collection follows 300 ms after the first. */
  private def fullCollections(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
  }

  private def regimeOf(df: DataFrame): String =
    if (df.isStreaming) "stream" else Regime.of(df.queryExecution.executedPlan)

  /** Heap occupancy after the latest collection, summed over the heap pools. */
  private def collectionUsage(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  /** Bytes read so far through every Hadoop FileSystem of this JVM. */
  private def fsBytesRead(): Long = FileSystem.getGlobalStorageStatistics.iterator.asScala
    .flatMap(s => Option(s.getLong("bytesRead"))).map(_.longValue).sum

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** Operators persist intermediate frames; drop them between queries so
    * no cached state carries from one execution to the next. */
  private def clearCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Runs one query with a span around each layer boundary. The action runs
    * the QueryExecution whose planning `plans.plan` timed. */
  private def tracedQuery(spark: SparkSession, q: QueryType, qid: Int,
      spans: mutable.ArrayBuffer[Span]): DataFrame = {
    val b0 = fsBytesRead()
    val t0 = System.nanoTime()
    Graft.ensure(spark)
    val t1 = System.nanoTime()
    val df: DataFrame = q.build()
    val t2 = System.nanoTime()
    if (!df.isStreaming) df.queryExecution.executedPlan
    val t3 = System.nanoTime()
    q.run(df)
    val t4 = System.nanoTime()
    val read = fsBytesRead() - b0
    val graftScan = !df.isStreaming && Layers.scansGraftSource(df.queryExecution.executedPlan)
    sourceBytes += (if (graftScan) read else 0L)
    spans += Span("query", t0, t4, "", qid)
    spans += Span("session.ensure", t0, t1, "query", qid)
    spans += Span("operators.build", t1, t2, "query", qid)
    spans += Span("plans.plan", t2, t3, "query", qid)
    spans += Span("exec.action", t3, t4, "query", qid)
    df
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile p (in whole percent) with at least 10 samples above
    * it, and its value. Below 20 samples that percentile would fall under
    * the median, so the maximum is reported instead (p = 100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (100.0, Double.NaN)
    else if (n < 20) (100.0, s.last)
    else (math.floor(100.0 * (n - 10) / n), s(n - 11)) // s(n - 11) has 10 samples above it
  }

  private def endToEnd(qs: Seq[QueryType], ex: Seq[Exec], wall: Double, setupS: Double,
      peakHeapMb: Double): Map[String, Double] = {
    val ok = ex.filter(_.ok)
    val rows = ok.map(e => qs(e.q).inputRows.toDouble).sum
    val medians = qs.indices.map(k => median(ok.filter(_.q == k).map(_.latencyS)))
    val gmean = math.exp(medians.map(math.log).sum / medians.size)
    val (tailP, tailV) = tail(ok.map(_.latencyS))
    Map("setup_s" -> setupS, "rows_per_s" -> rows / wall, "query_gmean_s" -> gmean,
      "query_tail_s" -> tailV, "query_tail_pct" -> tailP, "query_tail_n" -> ok.size.toDouble,
      "failed_frac" -> (if (ex.isEmpty) 1.0 else ex.count(!_.ok).toDouble / ex.size),
      "peak_live_heap_mb" -> peakHeapMb)
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit =
    Files.write(Paths.get(path), spans.map(s => Json.render(Json.obj("name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent, "qid" -> s.qid))).asJava)
}

package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval: `parent` is the enclosing span's name ("" for a
  * query root), `qid` the query execution it belongs to. Times are
  * epoch-relative nanoseconds from `System.nanoTime` (spans) or converted
  * from Spark's epoch milliseconds (jobs, stages). */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, qid: Int)

/** Per-stage totals as the listener saw them. */
final case class StageRec(qid: Int, startNs: Long, endNs: Long, tasks: Int, cpuNs: Long,
    gcMs: Long, shuffleWriteBytes: Long, shuffleReadRecords: Long, spillBytes: Long,
    peakExecMem: Long, taskMs: Array[Long])

/** Records jobs, stages and tasks of the traced queries. Query ids travel
  * as the `perfbench.qid` local property, set on the driver thread before
  * each query, so eager jobs launched while a DataFrame is being built are
  * attributed to their query too. The listener bus delivers events on one
  * thread; readers call [[org.apache.spark.PerfbenchBus.drain]] first. */
final class Tracer(clockOffsetNs: Long) extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[Span]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Int)]
  private val stageQid = mutable.HashMap.empty[Int, Int]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val peakMem = mutable.HashMap.empty[Int, Long]

  /** Spark reports epoch milliseconds; spans use nanoTime. */
  private def toNs(epochMs: Long): Long = epochMs * 1000000L - clockOffsetNs

  private def qidOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.qid"))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val qid = qidOf(e.properties)
    jobStart(e.jobId) = (toNs(e.time), qid)
    e.stageIds.foreach(s => stageQid(s) = qid)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (s, qid) =>
      jobs += Span("job", s, toNs(e.time), "", qid)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    if (e.taskMetrics != null)
      peakMem(e.stageId) = math.max(peakMem.getOrElse(e.stageId, 0L), e.taskMetrics.peakExecutionMemory)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val t = taskMs.remove(i.stageId).map(_.toArray).getOrElse(Array.empty[Long])
    if (m != null) stages += StageRec(stageQid.getOrElse(i.stageId, -1),
      toNs(i.submissionTime.getOrElse(0L)), toNs(i.completionTime.getOrElse(0L)), i.numTasks,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.recordsRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      peakMem.remove(i.stageId).getOrElse(0L), t)
  }
}

object Trace {

  /** Total length of the union of `[s, e)` intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span name, summed over queries: its duration minus
    * the part of it that its child spans and the Spark jobs running inside
    * it cover. "job" is the union of a query's job spans. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val out = mutable.HashMap.empty[String, Long]
    def add(k: String, v: Long): Unit = out(k) = out.getOrElse(k, 0L) + v
    spans.groupBy(_.qid).values.foreach { qs =>
      val (jobs, own) = qs.partition(_.name == "job")
      own.foreach { s =>
        val covered = (own.filter(_.parent == s.name) ++ jobs)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }
        add(s.name, s.endNs - s.startNs - unionNs(covered))
      }
      add("job", unionNs(jobs.map(j => (j.startNs, j.endNs))))
    }
    out.toMap
  }
}

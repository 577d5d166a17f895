package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** One traced interval. `parent` is the id of the span that caused it, or
  * -1 at the root. Times are wall-clock epoch nanoseconds, so benchmark
  * spans and Spark's job timestamps share one axis.
  */
final case class Span(id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Trace {

  /** A span's self time: its duration minus the part of its interval
    * that the union of its children's intervals covers. Children may
    * overlap (concurrent Spark jobs), so their intervals are merged
    * before they are subtracted.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => a < b }
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue; var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Records spans opened by the benchmark's main thread around each call
  * it makes into a layer, keeping them in memory until the run ends. A
  * disabled tracer only runs the bodies.
  */
final class Tracer(enabled: Boolean) {
  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  private def now(): Long = epochBaseNs + (System.nanoTime() - nanoBase)

  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = now()
    try {
      val out = body
      done += Span(id, name, parent, t0, now())
      out
    } finally open = open.tail
  }

  /** Summed duration, in seconds, of every finished span called `name`. */
  def seconds(name: String): Double =
    done.iterator.filter(_.name == name).map(_.durNs).sum / 1e9

  /** Adds Spark jobs as child spans of the innermost benchmark span whose
    * interval holds the job's submission time.
    */
  def addJobs(jobs: Seq[JobRecord]): Unit = {
    val bench = done.toSeq
    jobs.foreach { j =>
      val parent = bench
        .filter(s => s.startNs <= j.startNs && j.startNs <= s.endNs)
        .sortBy(s => -s.startNs).headOption.map(_.id).getOrElse(-1)
      done += Span(nextId, s"job ${j.jobId}: ${j.callSite}", parent,
        j.startNs, math.max(j.endNs, j.startNs))
      nextId += 1
    }
  }
}

final case class JobRecord(jobId: Int, callSite: String, startNs: Long,
                           endNs: Long)

/** Engine-level totals as the listener saw them. */
final case class SparkTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    executorRunMs: Long = 0, executorCpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    executorRunMs - o.executorRunMs, executorCpuNs - o.executorCpuNs,
    gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes)
}

/** The `spark` layer: jobs with their call sites, and per-stage task
  * metrics summed over completed stages.
  */
final class SparkCollector extends SparkListener {
  private var totals = SparkTotals()
  private val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]
  private val finished = ArrayBuffer.empty[JobRecord]

  def snapshot(): SparkTotals = synchronized(totals)
  def jobs(): Seq[JobRecord] = synchronized(finished.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job's result stage is named after the action's call site
    val site =
      if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
    starts(e.jobId) = (e.time * 1000000L, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, site) =>
      finished += JobRecord(e.jobId, site, t0, e.time * 1000000L)
    }
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val m = info.taskMetrics
      totals =
        if (m == null) totals.copy(stages = totals.stages + 1,
          tasks = totals.tasks + info.numTasks)
        else totals.copy(
          stages = totals.stages + 1,
          tasks = totals.tasks + info.numTasks,
          executorRunMs = totals.executorRunMs + m.executorRunTime,
          executorCpuNs = totals.executorCpuNs + m.executorCpuTime,
          gcMs = totals.gcMs + m.jvmGCTime,
          shuffleWriteBytes =
            totals.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes =
            totals.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          spillBytes =
            totals.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          inputBytes = totals.inputBytes + m.inputMetrics.bytesRead)
    }
}

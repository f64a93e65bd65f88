package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Totals of Spark's task metrics over a set of jobs. */
final class SparkTotals {
  var jobs = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** (start, end) of every job, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(o: SparkTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; executorRunMs += o.executorRunMs
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; jobIntervals ++= o.jobIntervals
  }
}

/** The `spark` layer, observed from outside: a listener that keeps every
  * job's interval, job group and task metrics. Jobs can be selected by the
  * job group of the thread that submitted them, or by when they started —
  * the only way to catch jobs that Spark submits from its own threads, such
  * as a streaming query's micro-batches. Listener events arrive
  * asynchronously; call `drain` before reading. */
final class SparkProbe extends SparkListener {
  private final class Job(val group: String, val startMs: Long) {
    val totals = new SparkTotals
    totals.jobs = 1
  }
  private val jobs = mutable.HashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(g, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => j.totals.jobIntervals += ((j.startMs, e.time)))
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      val t = j.totals
      t.tasks += 1
      if (m != null) {
        t.executorRunMs += m.executorRunTime
        t.executorCpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    lastEventNs = System.nanoTime()
  }

  /** Waits until the listener has seen no event for `quietMs`. */
  def drain(quietMs: Long = 300): Unit =
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L) Thread.sleep(quietMs / 3)

  private def sum(p: Job => Boolean): SparkTotals = synchronized {
    val out = new SparkTotals
    jobs.values.foreach(j => if (p(j)) out.add(j.totals))
    out
  }

  /** Jobs submitted under job group `g`. */
  def group(g: String): SparkTotals = sum(_.group == g)

  /** Jobs that started within [fromMs, toMs]. */
  def startedWithin(fromMs: Long, toMs: Long): SparkTotals =
    sum(j => j.startMs >= fromMs && j.startMs <= toMs)
}

object SparkProbe {
  /** Milliseconds of [from, to] not covered by any of `intervals`. */
  def uncoveredMs(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    (to - from) - covered
  }
}

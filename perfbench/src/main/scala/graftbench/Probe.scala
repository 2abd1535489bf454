package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it. `group` is the job group the
  * submitting thread had set (the id of the benchmark span that caused the
  * job, or null); `site` is the long call site of the SQL execution the job
  * belongs to (captured on the calling thread, so it names the caller even
  * for jobs that adaptive execution submits from its own threads), else of
  * the job's final stage.
  * Start and end are the events' wall-clock stamps (ms); the latency comes
  * from the listener's monotonic clock, which resolves below a millisecond.
  */
final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long,
    ok: Boolean, site: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task totals of one stage, summed from task-end events. */
final class StageAgg {
  var tasks = 0L
  var failures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Spark-runtime counters over a set of jobs. */
final case class SparkTotals(jobs: Int, tasks: Long, runS: Double,
    cpuS: Double, gcS: Double, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, taskSkew: Double, failures: Long, recordsRead: Long)

/** The benchmark's view of the `spark` layer: a listener that records every
  * job and the task metrics of every stage. Readers call [[drain]] first, so
  * the counts they see are exact, not a sample of the events that happened
  * to arrive.
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val sqlSites = mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(sqlSites(s.executionId.toString) = s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .map(_.getProperty("spark.jobGroup.id")).orNull
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(sqlSites.get)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L, ok = false, site,
      System.nanoTime(), -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobs(e.jobId) = j.copy(endMs = e.time, ok = e.jobResult == JobSucceeded,
        endNs = System.nanoTime())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    s.tasks += 1
    if (e.reason != Success) s.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
      s.taskMs += m.executorRunTime
    }
  }

  def drain(): Unit = BenchBus.drain(sc)

  /** Id of the next job Spark will start (the jobs so far are 0 until it). */
  def mark(): Int = { drain(); synchronized(jobs.keys.maxOption.map(_ + 1).getOrElse(0)) }

  /** Finished jobs with ids in `[from, until)`. */
  def jobsBetween(from: Int, until: Int): Seq[JobRec] = {
    drain()
    synchronized(jobs.valuesIterator
      .filter(j => j.id >= from && j.id < until && j.endMs >= 0).toVector)
  }

  def totals(js: Seq[JobRec]): SparkTotals = synchronized {
    val ids = js.map(_.id).toSet
    val ss = stages.iterator.collect {
      case (sid, agg) if stageJob.get(sid).exists(ids) => agg
    }.toVector
    // task-time skew per stage (max over median task run time, the DS2-style
    // straggler ratio), summarized as the median over stages that ran at
    // least two tasks
    val skews = ss.filter(_.taskMs.size >= 2).map { s =>
      val t = s.taskMs.sorted
      t.last.toDouble / math.max(1L, t(t.size / 2)).toDouble
    }
    SparkTotals(js.size, ss.map(_.tasks).sum, ss.map(_.runMs).sum / 1e3,
      ss.map(_.cpuNs).sum / 1e9, ss.map(_.gcMs).sum / 1e3,
      ss.map(_.shuffleRead).sum, ss.map(_.shuffleWrite).sum,
      ss.map(_.spill).sum, Stats.median(skews, 1.0),
      ss.map(_.failures).sum, ss.map(_.recordsRead).sum)
  }
}

package graft.tools

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ContextBridge

/** One completed stage attempt of a measured call. */
final case class StageRow(id: Int, name: String, tasks: Int, cpuNs: Long,
    runMs: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long)

/** One Spark job a measured call started: its properties, and how many
  * tasks of its stages ended (a stage counts toward the first job that
  * submitted it). */
final case class Job(id: Int, props: Properties, tasks: Int)

/** What a measured call cost. `wallSec` is the call's wall time and
  * `jobSec` the union of its jobs' intervals (capped at the wall), so
  * `driverSec` is the time no job of the call was running: planning,
  * driver-side loops, collects. The stage channels come from the stages'
  * task metrics. */
final case class Measure(wallSec: Double, jobSec: Double, jobs: Seq[Job],
    stages: Seq[StageRow]) {
  def driverSec: Double = wallSec - jobSec
  def props: Seq[Properties] = jobs.map(_.props)
  /** Tasks per job, aligned with [[jobs]]. */
  def jobTasks: Seq[Int] = jobs.map(_.tasks)
  def tasks: Long = stages.map(_.tasks.toLong).sum
  def cpuSec: Double = stages.map(_.cpuNs).sum / 1e9
  def runSec: Double = stages.map(_.runMs).sum / 1e3
  def shuffleBytes: Long = stages.map(_.shuffleWriteBytes).sum
}

/** The one Spark metrics recorder: Bench, Profile and the specs measure
  * through it.
  *
  * Jobs are attributed by a thread-local Spark property set around the
  * call, which the threads a call starts inherit (a streaming query's
  * thread, broadcast and subquery threads). A job group would not do:
  * Structured Streaming overwrites it on its own thread. A stage belongs
  * to the call if one of the call's jobs lists it or it was submitted
  * under the call's property; its tasks count toward the first job that
  * listed it. Measuring is not reentrant: a call measured inside another
  * one is counted by the inner measure only. */
object Metrics {
  private val Key = "graft.metrics.call"
  private val nextId = new AtomicLong

  /** Runs `f` and returns what the jobs it started did. The caller's local
    * properties (job description included) are restored after `f`, also
    * when it throws; the exception propagates. */
  def measure(spark: SparkSession)(f: => Any): Measure = {
    val sc = spark.sparkContext
    val tag = nextId.incrementAndGet().toString
    val rec = new Recorder(tag)
    sc.addSparkListener(rec)
    try {
      val saved = ContextBridge.localProperties(sc)
      sc.setLocalProperty(Key, tag)
      val t0 = System.nanoTime()
      val wall =
        try { f; (System.nanoTime() - t0) / 1e9 }
        finally ContextBridge.setLocalProperties(sc, saved)
      ContextBridge.drainListenerBus(sc)
      rec.result(wall)
    } finally sc.removeSparkListener(rec)
  }

  /** The events of one call's jobs. Events arrive on the listener bus
    * thread and are read on the caller's after a drain. */
  private final class Recorder(tag: String) extends SparkListener {
    private val jobs = mutable.ArrayBuffer.empty[(Int, Properties)]
    private val spans = mutable.HashMap.empty[Int, (Long, Long)]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val jobTasks = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    private val stages = mutable.ArrayBuffer.empty[StageRow]

    private def ours(p: Properties): Boolean =
      p != null && tag == p.getProperty(Key)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (ours(e.properties)) {
        jobs += e.jobId -> e.properties
        spans(e.jobId) = (e.time, e.time)
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      spans.get(e.jobId).foreach { case (t0, _) => spans(e.jobId) = (t0, e.time) }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        if (ours(e.properties)) stageJob.getOrElseUpdate(e.stageInfo.stageId, -1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach(j => jobTasks(j) += 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        if (stageJob.contains(si.stageId)) Option(si.taskMetrics).foreach { m =>
          stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
            si.numTasks, m.executorCpuTime, m.executorRunTime,
            m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead,
            m.shuffleWriteMetrics.bytesWritten)
        }
      }

    def result(wallSec: Double): Measure = synchronized {
      val jobSec = unionMs(spans.values.toSeq) / 1e3
      Measure(wallSec, math.min(jobSec, wallSec),
        jobs.toSeq.map { case (id, p) => Job(id, p, jobTasks(id)) },
        stages.toSeq)
    }
  }

  /** Total length of the union of closed intervals. */
  private def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- spans.sortBy(_._1)) {
      val from = math.max(s, end)
      if (e > from) { total += e - from; end = e }
    }
    total
  }
}

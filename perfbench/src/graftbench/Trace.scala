package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch microseconds. */
final case class Span(id: Int, name: String, parent: Int, request: Long,
    start: Long, end: Long, failed: Boolean)

/** Spark work attributed to one span: its jobs' spans, the tasks of their
  * stages, and the planning phases that started inside it. */
final class SparkWork {
  val jobSpans = ArrayBuffer.empty[(Long, Long)] // epoch ms
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var scanBytes = 0L
}

/** The traced run's recorder. Spans are kept in memory around each call
  * the benchmark makes into a layer; Spark listener counters are taken at
  * the same boundaries by tagging every job with the innermost open span
  * (a thread-local Spark property, inherited by the jobs the call starts).
  * With `on = false` nothing is registered and `span` only runs its body. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  private val work = mutable.HashMap.empty[Int, SparkWork]
  private val plans = ArrayBuffer.empty[(Long, Long)] // (start epoch ms, ms)

  private val listener = new SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(Key))).map(_.toInt).getOrElse(0)
    private def of(s: Int) = work.getOrElseUpdate(s, new SparkWork)
    override def onJobStart(e: SparkListenerJobStart): Unit = work.synchronized {
      val s = spanOf(e.properties)
      if (s > 0) {
        jobStart(e.jobId) = (s, e.time)
        of(s).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = work.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, t0) => of(s).jobSpans += ((t0, e.time)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = work.synchronized {
      val s = spanOf(e.properties)
      if (s > 0) stageSpan(e.stageInfo.stageId) = s
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = work.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val w = of(s)
        w.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          w.cpuNs += m.executorCpuTime
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.scanBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = work.synchronized {
      qe.tracker.phases.values.foreach(p => plans += ((p.startTimeMs, p.durationMs)))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Run `body` as span `name` of request `request`. */
  def span[T](name: String, request: Long)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      open = id :: open
      val t0 = nowUs
      var failed = true
      try { val v = body; failed = false; v }
      finally {
        spans += Span(id, name, parent, request, t0, nowUs, failed)
        open = open.tail
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Waits for the listener bus, then detaches; call once, at the end. */
  def finish(): Unit = if (on) {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  private def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def selfUs(s: Span): Long =
    Stats.selfTime(s.start, s.end, children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))

  /** Per-call figures of one span, its descendants' Spark work included. */
  def callFigures(s: Span): Map[String, Double] = work.synchronized {
    val ids = subtree(s).map(_.id).toSet
    val ws = ids.toSeq.flatMap(work.get)
    val (t0, t1) = (s.start / 1000, s.end / 1000)
    Map(
      "ms" -> (s.end - s.start) / 1000.0,
      "self_ms" -> selfUs(s) / 1000.0,
      "jobs_ms" -> Stats.unionLength(ws.flatMap(_.jobSpans)).toDouble,
      "plan_ms" -> plans.iterator.filter { case (p, _) => p >= t0 && p <= t1 }
        .map(_._2).sum.toDouble,
      "cpu_ms" -> ws.map(_.cpuNs).sum / 1e6,
      "tasks" -> ws.map(_.tasks).sum.toDouble,
      "jobs" -> ws.map(_.jobs).sum.toDouble,
      "shuffle_mb" -> ws.map(_.shuffleBytes).sum / 1048576.0,
      "scan_mb" -> ws.map(_.scanBytes).sum / 1048576.0)
  }

  /** Median over the successful calls of each span name. */
  def perOp: Map[String, Map[String, Double]] =
    spans.toSeq.filterNot(_.failed).groupBy(_.name).map { case (name, calls) =>
      val figs = calls.map(callFigures)
      name -> figs.head.keys.map(k => k -> Stats.median(figs.map(_(k)))).toMap
    }

  def spansJson: Seq[String] = spans.toSeq.map { s =>
    Stats.obj(Seq("id" -> s.id.toString, "name" -> Stats.str(s.name),
      "parent" -> s.parent.toString, "request" -> s.request.toString,
      "start_us" -> s.start.toString, "end_us" -> s.end.toString,
      "self_us" -> selfUs(s).toString, "failed" -> s.failed.toString))
  }
}

object Tracer {
  val Key = "graftbench.span"
}

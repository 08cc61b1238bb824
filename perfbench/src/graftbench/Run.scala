package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Operation accounting for one run: every call into the program is an
  * attempted operation; one that throws, or an output check that fails,
  * is a failed one. A failure adds +∞ to its latency samples, so it
  * misses every latency limit and can never read as a speed-up. */
final class Run(val spark: SparkSession, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Wall time of every call per operation, failures included (ms). */
  val wallMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  /** Named figures a user would see, with unit and sample count. */
  val report = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  /** Per-layer figures that are not per-call Spark counters. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private var peakHeap = 0L
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs: Long = {
    var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t
  }
  private var gcAtStart = 0L

  /** Time `body` as operation `name`, its latency sampled under
    * `sampleAs`. `record = false` is for warm-up calls: still counted as
    * attempted, never sampled. */
  def op[T](name: String, request: Long, record: Boolean = true, sampleAs: String = "")(
      body: => T): Option[T] = {
    attempted += 1
    val key = if (sampleAs.isEmpty) name else sampleAs
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(if (record) name else s"warmup.$name", request)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      if (record) {
        samples.getOrElseUpdate(key, ArrayBuffer.empty) += ms
        wallMs(key) += ms
      }
      Some(v)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graftbench] $name (request $request) failed: $e")
        e.printStackTrace(System.err)
        if (record) {
          samples.getOrElseUpdate(key, ArrayBuffer.empty) += Double.PositiveInfinity
          wallMs(key) += (System.nanoTime() - t0) / 1e6
        }
        None
    }
  }

  /** Time a group of calls (a set-up, a pass) as one sample of `name`;
    * the group fails if any call inside it failed. */
  def group(name: String, request: Long, record: Boolean = true)(body: => Unit): Double = {
    val before = failed
    val t0 = System.nanoTime()
    tracer.span(if (record) name else s"warmup.$name", request)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    val v = if (failed > before) Double.PositiveInfinity else ms
    if (record) {
      samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
      wallMs(name) += ms
    }
    v
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, detail))
  }

  def ms(name: String): Seq[Double] = samples.getOrElse(name, ArrayBuffer.empty).toSeq

  /** Live heap after a full collection; called between operations,
    * outside any timed region. */
  def heapProbe(): Unit = {
    System.gc()
    peakHeap = math.max(peakHeap,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakHeapMb: Double = peakHeap / 1048576.0

  def startMeasuring(): Unit = gcAtStart = gcMs
  def gcMsSinceStart: Double = (gcMs - gcAtStart).toDouble

  def put(name: String, value: Double, unit: String, n: Int): Unit =
    report(name) = (value, unit, n)
}

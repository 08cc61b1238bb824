package graft.tools

import graft.{Bench, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-STAGE profiler for perf work (guide §1: decide whether time goes
  * to shuffle read, compute, or scheduling BEFORE optimizing): the exact
  * session shape as [[graft.Bench]], runs each named query once untimed
  * (codegen/footer warmup) and once profiled, then prints every stage's
  * task count, executor CPU/run time, input and shuffle bytes, sorted by
  * CPU. Stage rows make the three failure shapes obvious at a glance:
  * many-tiny-tasks overhead (tasks high, cpu/task sub-ms), a serialized
  * round-loop (few tasks, cpu ~= one core's wall), and a genuine
  * shuffle-bound stage (bytes high).
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          sbt "runMain graft.tools.Profile dedup_snm q55_assoc_rules" */
object Profile {
  private class StageTally extends SparkListener {
    case class Row(id: Int, name: String, tasks: Int, cpuMs: Long,
      runMs: Long, inMb: Double, srMb: Double, swMb: Double)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(si.taskMetrics).foreach { m =>
        rows.add(Row(si.stageId,
          si.name.takeWhile(_ != '\n').take(60),
          si.numTasks,
          m.executorCpuTime / 1000000L,
          m.executorRunTime,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.remoteBytesRead / 1e6 +
            m.shuffleReadMetrics.localBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = Bench.benchSession(cpus)
    Bench.warmTables(spark, sfDir)
    val tally = new StageTally
    spark.sparkContext.addSparkListener(tally)
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      try {
        fn(spark, sfDir).count() // warmup
        // drain, then profile one run
        Bench.drainListenerBus(spark)
        tally.rows.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Bench.drainListenerBus(spark)
        import scala.jdk.CollectionConverters._
        val rows = tally.rows.asScala.toVector.sortBy(-_.cpuMs)
        val nStages = rows.size
        val nTasks = rows.map(_.tasks).sum
        val cpuS = rows.map(_.cpuMs).sum / 1e3
        val runS = rows.map(_.runMs).sum / 1e3
        println(f"[profile] $name wall=$wall%.3f s stages=$nStages tasks=$nTasks cpu=$cpuS%.2f s run=$runS%.2f s")
        rows.take(20).foreach { r =>
          println(f"[profile]   stage=${r.id}%-5d tasks=${r.tasks}%-4d cpu=${r.cpuMs}%-6d ms run=${r.runMs}%-6d ms in=${r.inMb}%7.2f MB sr=${r.srMb}%7.2f MB sw=${r.swMb}%7.2f MB  ${r.name}")
        }
      } catch { case e: Throwable =>
        println(s"[profile] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

package graft.tools

import graft.{Bench, SparkEntry}

/** Per-STAGE profiler for perf work (guide §1: decide whether time goes
  * to shuffle read, compute, or scheduling BEFORE optimizing): the exact
  * session shape as [[graft.Bench]], runs each named query once untimed
  * (codegen/footer warmup) and once measured by [[Metrics]], then prints
  * the totals Bench records per query (wall, driver, jobs, stages, tasks,
  * cpu, run, shuffle) and beneath them every stage's task count, executor
  * CPU/run time, input and shuffle bytes, sorted by CPU. Stage rows make
  * the three failure shapes obvious at a glance: many-tiny-tasks overhead
  * (tasks high, cpu/task sub-ms), a serialized round-loop (few tasks, cpu
  * ~= one core's wall), and a genuine shuffle-bound stage (bytes high).
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          sbt "runMain graft.tools.Profile dedup_snm q55_assoc_rules" */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = Bench.benchSession(cpus)
    Bench.warmTables(spark, sfDir)
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      try {
        fn(spark, sfDir).count() // warmup
        val m = Metrics.measure(spark)(fn(spark, sfDir).count())
        println(f"[profile] $name wall=${m.wallSec}%.3f s driver=${m.driverSec}%.3f s " +
          f"jobs=${m.jobs.size} stages=${m.stages.size} tasks=${m.tasks} " +
          f"cpu=${m.cpuSec}%.2f s run=${m.runSec}%.2f s shuffle=${m.shuffleBytes / 1e6}%.2f MB")
        m.stages.sortBy(-_.cpuNs).take(20).foreach { r =>
          println(f"[profile]   stage=${r.id}%-5d tasks=${r.tasks}%-4d " +
            f"cpu=${r.cpuNs / 1000000L}%-6d ms run=${r.runMs}%-6d ms " +
            f"in=${r.inputBytes / 1e6}%7.2f MB sr=${r.shuffleReadBytes / 1e6}%7.2f MB " +
            f"sw=${r.shuffleWriteBytes / 1e6}%7.2f MB  ${r.name.take(60)}")
        }
      } catch { case e: Throwable =>
        println(s"[profile] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

package graft

import graft.tools.Metrics
import org.apache.spark.sql.graftbridge.ContextBridge

class MetricsSpec extends SparkSpec {

  test("driver_sec and job_sec recover a known driver sleep and a known job") {
    val sc = spark.sparkContext
    val m = Metrics.measure(spark) {
      Thread.sleep(300)
      sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(300))
    }
    assert(m.driverSec >= 0.25, m)
    assert(m.jobSec >= 0.25, m)
    assert(m.driverSec <= m.wallSec && m.jobSec <= m.wallSec, m)
    assert(m.jobs.size === 1)
    assert(m.tasks === 4L)
    assert(m.jobTasks === Seq(4))
    assert(m.stages.size === 1)
    assert(m.cpuSec >= 0.0 && m.runSec >= 1.0, m) // 4 tasks x 300 ms run
  }

  test("a job started before the bracket is not counted") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.CountDownLatch(1)
    // started before measure, so the thread does not inherit the tag; its
    // tasks run on while the measured job does
    val early = new Thread(() => {
      started.countDown()
      sc.parallelize(1 to 3, 3).foreach(_ => Thread.sleep(600))
    })
    early.start()
    started.await()
    Thread.sleep(100)
    val m = Metrics.measure(spark)(sc.parallelize(1 to 2, 2).count())
    early.join()
    assert(m.jobs.size === 1)
    assert(m.tasks === 2L)
    assert(m.jobTasks === Seq(2))
  }

  test("a call that starts no job measures no job") {
    assert(SpecUtil.jobsOf(spark)(Seq(1, 2, 3).sum).isEmpty)
    val m = Metrics.measure(spark)(Thread.sleep(20))
    assert(m.jobs.isEmpty && m.stages.isEmpty && m.jobSec === 0.0)
    assert(m.driverSec === m.wallSec && m.wallSec >= 0.015)
  }

  test("the caller's job description and local properties are restored, " +
      "also when the call throws") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    sc.setLocalProperty("graft.spec.prop", "kept")
    try {
      val before = ContextBridge.localProperties(sc)
      val m = Metrics.measure(spark) {
        sc.setJobDescription("inner")
        sc.setLocalProperty("graft.spec.prop", null)
        spark.range(4).count()
      }
      assert(m.props.map(_.getProperty("spark.job.description")).contains("inner"))
      assert(ContextBridge.localProperties(sc) === before)
      val e = intercept[IllegalStateException] {
        Metrics.measure(spark) {
          sc.setJobDescription("inner")
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage === "boom")
      assert(ContextBridge.localProperties(sc) === before)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      assert(sc.getLocalProperty("graft.spec.prop") === "kept")
    } finally {
      sc.setJobDescription(null)
      sc.setLocalProperty("graft.spec.prop", null)
    }
  }
}

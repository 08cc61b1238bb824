package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one lazy SparkSession for the whole test JVM. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

object SpecUtil {
  /** Persistent-RDD ids added since `before`, polled until at most
    * `budget` remain (the operators release superseded frames with
    * non-blocking unpersists in places — give the async removal a
    * bounded window before declaring a leak) or ~3 s pass. */
  def leakedAfterRelease(
      spark: SparkSession,
      before: collection.Set[Int],
      budget: Int): collection.Set[Int] = {
    var leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    var tries = 0
    while (leaked.size > budget && tries < 30) {
      Thread.sleep(100)
      leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      tries += 1
    }
    leaked
  }

  /** The properties of every Spark job `f` starts. Jobs are told apart
    * by a job group set around `f`; a sentinel job flushes the FIFO
    * listener bus before and after, so none is missed or misattributed. */
  def jobsOf(spark: SparkSession)(f: => Any): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val tag = s"graft-spec-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.incrementAndGet()
        if (js.properties != null &&
            tag == js.properties.getProperty("spark.jobGroup.id"))
          jobs.add(js.properties)
      }
    }
    def flush(): Unit = {
      val base = seen.get()
      spark.range(2).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.get() == base && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.get() > base, "listener never observed the sentinel job")
    }
    sc.addSparkListener(listener)
    try {
      flush()
      sc.setJobGroup(tag, tag)
      try f finally sc.clearJobGroup()
      flush()
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }
}

trait SparkSpec extends AnyFunSuite {
  // stable identifier so `import spark.implicits._` works in suites
  final lazy val spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.sf0001
}

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

  /** What the Spark jobs `f` starts did: each job's properties, the
    * shuffle bytes their tasks wrote, and, aligned with `props`, how many
    * tasks each job ran (a stage counts toward the first job that
    * submitted it). */
  final case class Jobs(
      props: Seq[java.util.Properties], shuffleBytes: Long, tasks: Seq[Int])

  /** The properties of every Spark job `f` starts. */
  def jobsOf(spark: SparkSession)(f: => Any): Seq[java.util.Properties] =
    jobStatsOf(spark)(f).props

  /** [[Jobs]] of `f`. Jobs are told apart by a job group set around `f`
    * (the caller's job description is restored after it); a sentinel job
    * flushes the FIFO listener bus before and after, so none is missed or
    * misattributed. */
  def jobStatsOf(spark: SparkSession)(f: => Any): Jobs = {
    val sc = spark.sparkContext
    val tag = s"graft-spec-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, java.util.Properties)]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val seen = new java.util.concurrent.atomic.AtomicInteger
    def ours(props: java.util.Properties) =
      props != null && tag == props.getProperty("spark.jobGroup.id")
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.incrementAndGet()
        if (ours(js.properties)) {
          js.stageIds.foreach(stageJob.putIfAbsent(_, js.jobId))
          jobs.add(js.jobId -> js.properties)
        }
      }
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (ours(ss.properties)) stages.add(ss.stageInfo.stageId)
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (stages.contains(te.stageId) && te.taskMetrics != null)
          shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
        if (stageJob.containsKey(te.stageId))
          jobTasks.merge(stageJob.get(te.stageId), 1, _ + _)
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
      val description = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(tag, tag)
      try f finally {
        sc.clearJobGroup()
        sc.setJobDescription(description)
      }
      flush()
      import scala.jdk.CollectionConverters._
      val started = jobs.asScala.toSeq
      Jobs(started.map(_._2), shuffleBytes.get(),
        started.map(j => jobTasks.getOrDefault(j._1, 0)))
    } finally sc.removeSparkListener(listener)
  }
}

trait SparkSpec extends AnyFunSuite {
  // stable identifier so `import spark.implicits._` works in suites
  final lazy val spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.sf0001
}

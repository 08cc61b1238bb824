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

  /** The properties of every Spark job `f` starts. */
  def jobsOf(spark: SparkSession)(f: => Any): Seq[java.util.Properties] =
    jobStatsOf(spark)(f).props

  /** What the Spark jobs `f` starts did ([[graft.tools.Metrics]]). */
  def jobStatsOf(spark: SparkSession)(f: => Any): graft.tools.Measure =
    graft.tools.Metrics.measure(spark)(f)
}

trait SparkSpec extends AnyFunSuite {
  // stable identifier so `import spark.implicits._` works in suites
  final lazy val spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.sf0001
}

package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, FileUtil, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.operators.Ingest

/** The snapshot discipline `Ingest.compact` and `AnnIvf.rebalance` share:
  * the `listDataFiles` walk, the pinned read of exactly the listed files,
  * and the retire → publish → recover swap. */
class CompactSnapshotSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def fsOf(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One partitioned append of ids [lo, hi) over `parts` partitions:
    * one file per partition. */
  private def append(dir: String, lo: Long, hi: Long, parts: Int = 4): Unit =
    spark.range(lo, hi).select($"id", pmod($"id", lit(parts)).cast("int").as("partition_id"))
      .repartition($"partition_id")
      .write.mode(SaveMode.Append).partitionBy("partition_id").parquet(dir)

  private def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().toSeq.sorted

  /** What the walk replaced: `listFiles(p, true)` and a `.parquet` filter. */
  private def oldListing(fs: FileSystem, p: Path): Seq[(String, Long)] =
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString -> f.getLen
      }
      b.result().sorted
    }

  test("listDataFiles lists the same parquet leaves as listFiles(p, true)") {
    val root = Files.createTempDirectory("listing").toString
    val dir = s"$root/layout"
    append(dir, 0, 40)
    append(dir, 40, 80)
    val fs = fsOf(dir)
    val some = Ingest.listDataFiles(fs, new Path(dir)).head.getPath
    // an in-flight append's attempt file under _temporary, and a nested
    // second level of partition dirs
    val attempt = new Path(dir,
      "_temporary/0/_temporary/attempt_0001_m_000000_0/partition_id=1/part-00000-x.c000.snappy.parquet")
    fs.mkdirs(attempt.getParent)
    FileUtil.copy(fs, some, fs, attempt, false, fs.getConf)
    val deep = new Path(dir, "partition_id=2/day=7/part-00001-y.c000.snappy.parquet")
    FileUtil.copy(fs, some, fs, deep, false, fs.getConf)
    val raw = fs.asInstanceOf[LocalFileSystem].getRawFileSystem
    // the raw local FS shows the .crc siblings the checksummed FS hides
    assert(oldListingCrc(raw, new Path(dir)))
    assert(fs.exists(new Path(dir, "_SUCCESS")))
    for (f <- Seq(fs, raw)) {
      def now(p: Path) = Ingest.listDataFiles(f, p).map(s => s.getPath.toString -> s.getLen).sorted
      val full = now(new Path(dir))
      assert(full === oldListing(f, new Path(dir)))
      assert(full.size === 10) // 8 appended + the attempt file + the nested one
      assert(full.exists(_._1.contains("/_temporary/")))
      assert(now(new Path(root, "missing")) === Nil)
      assert(now(some) === oldListing(f, some))
      assert(now(some).map(_._1) === Seq(f.makeQualified(some).toString))
      assert(now(new Path(dir, "_SUCCESS")) === Nil)
    }
  }

  private def oldListingCrc(fs: FileSystem, p: Path): Boolean = {
    val it = fs.listFiles(p, true)
    var crc = false
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet.crc")) crc = true
    crc
  }

  test("readPinned reads exactly the listed files: no relisting job, no late rows") {
    val dir = Files.createTempDirectory("pinned").toString + "/layout"
    (0 until 9).foreach(i => append(dir, i * 100L, (i + 1) * 100L))
    val fs = fsOf(dir)
    val snapshot = Ingest.listDataFiles(fs, new Path(dir))
    assert(snapshot.size === 36) // above the 32-path discovery threshold
    // a file that lands in a snapshot partition dir after the listing
    val some = snapshot.head.getPath
    FileUtil.copy(fs, some,
      fs, new Path(some.getParent, "part-99999-late.c000.snappy.parquet"), false, fs.getConf)
    assert(spark.read.parquet(dir).count() > 900L)
    val jobs = SpecUtil.jobStatsOf(spark) {
      val pinned = Ingest.readPinned(spark, new Path(dir), snapshot)
      assert(pinned.schema.map(f => f.name -> f.nullable) ===
        spark.read.parquet(dir).schema.map(f => f.name -> f.nullable))
      // the same executed plan the metric is read from
      assert(pinned.collect().map(_.getAs[Long]("id")).toSeq.sorted === (0L until 900L))
      val scans = collect(pinned.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
      assert(scans.size === 1)
      assert(scans.head.metrics("numFiles").value === snapshot.size)
      // partition pruning still works on the pinned index
      assert(pinned.filter($"partition_id" === 3).count() === 225L)
    }
    assert(jobs.jobTasks.forall(_ < snapshot.size), s"a job relisted the snapshot: ${jobs.jobTasks}")
  }

  test("compact above the discovery threshold: same rows, no job as wide as the snapshot") {
    val dir = Files.createTempDirectory("compact-wide").toString + "/layout"
    (0 until 9).foreach(i => append(dir, i * 100L, (i + 1) * 100L))
    val snapshot = Ingest.listDataFiles(fsOf(dir), new Path(dir)).size
    assert(snapshot === 36)
    val before = ids(spark.read.parquet(dir))
    var counts = (0L, 0L)
    val jobs = SpecUtil.jobStatsOf(spark) {
      counts = Ingest.compact(spark, dir, "partition_id")
    }
    assert(jobs.jobTasks.nonEmpty)
    assert(jobs.jobTasks.forall(_ < snapshot),
      s"compaction ran a job with >= $snapshot tasks: ${jobs.jobTasks}")
    assert(counts === (36L, 4L))
    assert(Ingest.listDataFiles(fsOf(dir), new Path(dir)).size === 4)
    val after = spark.read.parquet(dir)
    assert(after.count() === 900L)
    assert(ids(after) === before)
    assert(after.groupBy("partition_id").count().as[(Int, Long)].collect().toMap ===
      (0 until 4).map(_ -> 225L).toMap)
  }

  test("swap publishes into a target an append recreated between the renames") {
    // both shapes: compact's (data files at the root) and rebalance's
    // (vectors/ beside a centroids/ sidecar, late files recovered only
    // under vectors/)
    for (sub <- Seq("", "vectors")) {
      val root = Files.createTempDirectory("swap").toString
      val target = new Path(root, "idx")
      val staging = new Path(root, ".idx__staging")
      def data(p: Path) = if (sub.isEmpty) p else new Path(p, sub)
      append(data(target).toString, 0, 100)
      append(data(target).toString, 100, 200)
      val fs = fsOf(root)
      val snapshot = Ingest.listDataFiles(fs, data(target))
      // the rewrite: the snapshot's rows, one file per partition
      spark.read.parquet(data(target).toString).repartition($"partition_id")
        .write.partitionBy("partition_id").parquet(data(staging).toString)
      if (sub.nonEmpty)
        spark.range(4).write.parquet(new Path(staging, "centroids").toString)
      // a committed late file in the layout before retire, recovered
      // from the retired dir
      append(data(target).toString, 200, 204)
      val swapped = Ingest.swap(fs, target, staging, sub, snapshot, "spec",
        afterRetire = () => {
          // the late append's commit recreates the target dir
          assert(!fs.exists(target))
          append(data(target).toString, 300, 308)
          assert(fs.exists(target))
        })
      assert(!fs.exists(staging) && !fs.exists(new Path(target, staging.getName)))
      assert(!fs.exists(new Path(root, ".idx__retired")))
      val published = spark.read.parquet(data(target).toString)
      assert(ids(published) === (0L until 204L) ++ (300L until 308L))
      if (sub.nonEmpty)
        assert(spark.read.parquet(new Path(target, "centroids").toString).count() === 4L)
      // 4 staged vector files (+ the centroid files), 4 recovered + 4 planted late files
      val centroidFiles = if (sub.isEmpty) 0 else
        Ingest.listDataFiles(fs, new Path(target, "centroids")).size
      assert(swapped === Ingest.Swapped(4L + centroidFiles, 8L))
      assert(Ingest.listDataFiles(fs, data(target)).size === 12)
    }
  }
}

package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.functions._

/** Batch ingest semantics from the reference's load path (SURVEY.md §3.1),
  * Spark-first:
  *
  *  - idempotent "skip existing" ingest (reference: vector_db.py:127-132,
  *    a per-row N+1 `storage.query(id)` lookup) becomes ONE anti-join —
  *    at scale a shuffle or broadcast-hash join picked by Catalyst;
  *  - per-partition buffered appends (faiss_utils.py:64-97, with its
  *    read-entire-file-rewrite O(n²) flush) become
  *    `repartition(partition_id).write.partitionBy(partition_id)` append —
  *    Spark buffers, spills, and never rewrites closed files;
  *  - duplicate-PK-ignore on (partition_id, faiss_id)
  *    (metadata_storage.py:68-101) becomes dropDuplicates before append.
  */
object Ingest {

  /** Rows of `incoming` whose id is not yet in `existing` — the idempotent
    * ingest filter (J6/P3). */
  def newRecords(incoming: DataFrame, existing: DataFrame, idCol: String): DataFrame =
    incoming.join(existing.select(idCol), Seq(idCol), "left_anti")

  /** [[newRecords]] with a Bloom pre-filter — the 100 TB form of
    * skip-existing. The exact anti-join shuffles BOTH sides on the id;
    * when `existing` is the full corpus and `incoming` a micro-batch,
    * that reshuffles 100 TB to reject a few duplicate ids. Instead:
    * build a Bloom filter over the existing ids (one aggregation, no
    * shuffle of data rows; `expectedIds`/`fpp` size it — 10⁹ ids at 1%
    * is ~1.2 GB, driver-held and broadcast once; see [[buildIdBloom]]
    * for the cross-batch amortization contract), pre-drop every
    * incoming row the filter rejects
    * (definitely new — Bloom has no false negatives, so nothing true is
    * lost), and anti-join ONLY the `fpp` fraction that might collide.
    * The exact join survivors make the result exactly equal to
    * [[newRecords]]; only its cost changes: the big side is reduced to
    * a membership sketch, the join to `|incoming| · fpp` candidates. */
  def newRecordsBloom(
      incoming: DataFrame,
      existing: DataFrame,
      idCol: String,
      expectedIds: Long,
      fpp: Double = 0.01): DataFrame =
    newRecordsBloomWith(incoming, existing, idCol,
      buildIdBloom(existing, idCol, expectedIds, fpp))

  /** Build the existing-id membership sketch once; a long-running ingest
    * loop amortizes it across micro-batches via [[newRecordsBloomWith]].
    * REUSE CONTRACT: after appending a batch, insert its ids into the
    * (mutable) sketch — `bloom.putLong(id)` — before the next batch. A
    * stale sketch fails in the UNSAFE direction here: an id appended
    * after the build is unknown to the filter, so a replay of it would
    * skip the exact residual and be classified definitely-new. */
  def buildIdBloom(
      existing: DataFrame,
      idCol: String,
      expectedIds: Long,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    requireIntegralId(existing, idCol, "buildIdBloom")
    existing.stat.bloomFilter(idCol, expectedIds, fpp)
  }

  /** Amortized skip-existing for a micro-batch ingest loop: builds the
    * existing-id sketch ONCE (from the durable layout on first use) and
    * maintains it across [[append]] calls with the id feedback the
    * [[buildIdBloom]] contract requires — so a long-running stream pays
    * one full id scan total, then per batch only the batch itself plus
    * the streamed residual check. The id feedback is DISTRIBUTED: the
    * batch's ids fold into a same-shape Bloom aggregate on the executors
    * and `mergeInPlace` into the session sketch (an OR of bit arrays) —
    * a bulk backfill routed through the session never materializes ids
    * on the driver; per batch the driver receives one sketch-sized blob,
    * independent of batch row count. NOT thread-safe: one session per
    * writer, the same discipline the partitioned append itself needs. */
  final class BloomIngestSession(
      spark: SparkSession,
      path: String,
      idCol: String,
      partitionCol: String,
      expectedIds: Long,
      fpp: Double = 0.01) {
    private var sketch: org.apache.spark.util.sketch.BloomFilter = _

    /** Idempotently append one micro-batch; returns rows actually written. */
    def append(batch: DataFrame): Long = {
      requireIntegralId(batch, idCol, "BloomIngestSession.append")
      val hasData = exists(spark, path)
      // one read of the layout serves both the sketch build and the
      // exact residual check — at 100 TB each read.parquet is a full
      // file listing + schema inference against the object store
      lazy val existing = spark.read.parquet(path)
      if (sketch == null)
        sketch =
          if (hasData) buildIdBloom(existing, idCol, expectedIds, fpp)
          else org.apache.spark.util.sketch.BloomFilter.create(expectedIds, fpp)
      val fresh =
        (if (hasData) newRecordsBloomWith(batch, existing, idCol, sketch)
         else batch)
          .dropDuplicates(idCol)
          .cache() // two passes below: count + write
      try {
        // count BEFORE the append: fresh's plan reads the durable layout,
        // so any post-append re-evaluation (cache miss) would see its own
        // output and undercount
        val written = fresh.count()
        // never write an EMPTY batch: a zero-row partitioned write emits
        // no parquet files, and on a not-yet-existing path it would
        // create a footerless directory (only _SUCCESS) that poisons
        // every later append with UNABLE_TO_INFER_SCHEMA — a
        // filter-everything first micro-batch must not kill the stream
        if (written > 0L) {
          fresh
            .repartition(col(partitionCol))
            .write.mode(SaveMode.Append)
            .partitionBy(partitionCol)
            .parquet(path)
          // distributed feedback: aggregate ids into a filter built with
          // the SAME (expectedIds, fpp) — identical bit layout, so
          // mergeInPlace is a bitwise OR — and fold it into the session
          // sketch; no ids ever land on the driver. Aggregated over the
          // RAW batch, not `fresh`: batch ⊇ fresh and the already-known
          // remainder is in the sketch by the session invariant, so the
          // merge is equivalent — but the batch side is layout-independent,
          // immune to the same re-evaluation hazard (a LOST id would fail
          // unsafe: its replay would look definitely-new). If the
          // feedback job itself fails AFTER the durable write, the
          // sketch is now stale in the unsafe direction — drop it so the
          // next append rebuilds from the layout (which already contains
          // this batch) instead of silently re-appending on retry.
          try sketch.mergeInPlace(
            batch.select(col(idCol).cast("long").as(idCol))
              .filter(col(idCol).isNotNull)
              .stat.bloomFilter(idCol, expectedIds, fpp))
          catch { case e: Throwable => sketch = null; throw e }
        }
        written
      } finally fresh.unpersist()
    }
  }

  /** [[newRecordsBloom]] with a caller-held (amortized) sketch. */
  def newRecordsBloomWith(
      incoming: DataFrame,
      existing: DataFrame,
      idCol: String,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    requireIntegralId(incoming, idCol, "newRecordsBloom")
    requireIntegralId(existing, idCol, "newRecordsBloom")
    val bc = incoming.sparkSession.sparkContext.broadcast(bloom)
    val mightUdf = udf((id: Long) => bc.value.mightContainLong(id))
    // a primitive-arg udf yields null on null input; the exact anti-join
    // keeps null-id rows (null joins nothing), so null maps to "new"
    val might = coalesce(mightUdf(col(idCol).cast("long")), lit(false))
    val candidates = incoming.filter(might)
    // resolve the fpp fraction exactly WITHOUT ever shuffling `existing`:
    // stream its pruned id column against the broadcast candidate ids
    // (semi-join), then broadcast the confirmed hits back against the
    // candidates — every join here is map-side
    val hits = existing.select(idCol)
      .join(broadcast(candidates.select(idCol).distinct()), Seq(idCol), "left_semi")
    incoming.filter(!might).unionByName(
      candidates.join(broadcast(hits), Seq(idCol), "left_anti"))
  }

  /** Idempotent partitioned append: anti-join against what's already at
    * `path`, append partitioned Parquet. Rows keep their input columns
    * unchanged — callers wanting the reference's dense per-partition
    * faiss_id (metadata_storage.py:49-51) apply
    * [[withPartitionOrdinals]] on the READ side, where the ordinal can
    * be derived over the full partition; baking it into append-time rows
    * could never stay dense across batches without rewriting old files. */
  def appendNew(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      idCol: String,
      partitionCol: String,
      bloomExpectedIds: Option[Long] = None): Unit = {
    val layoutExists = exists(spark, path)
    val fresh =
      if (layoutExists) {
        val existing = spark.read.parquet(path)
        // at corpus scale pass the expected id count to route the
        // skip-existing check through the Bloom pre-filter (existing is
        // then never shuffled); default stays the plain anti-join
        bloomExpectedIds match {
          case Some(n) => newRecordsBloom(incoming, existing, idCol, n)
          case None => newRecords(incoming, existing, idCol)
        }
      } else incoming
    val deduped = fresh.dropDuplicates(idCol)
    // creating a NEW layout from an empty batch would leave a
    // footerless directory (only _SUCCESS — a zero-row partitioned
    // write emits no files) that fails every later read with
    // UNABLE_TO_INFER_SCHEMA; probe emptiness first in that case only
    // (appending zero rows into an EXISTING layout is harmless)
    if (layoutExists || !deduped.isEmpty)
      deduped
        .repartition(col(partitionCol))
        .write.mode(SaveMode.Append)
        .partitionBy(partitionCol)
        .parquet(path)
  }

  /** Merge-into upsert (SCD type-1): one surviving row per key across
    * base ∪ updates — the row with the highest (`versionCol`,
    * `tieBreak...`) wins. The batch "MERGE WHEN MATCHED UPDATE" the
    * reference approximates with its per-id REPLACE-on-ingest
    * (vector_db.py:127-132 skips known ids; this is the other half:
    * prefer the NEWEST record instead of the first).
    *
    * Scale shape: ONE hash shuffle on the key columns; the row_number
    * window compiles to `WindowGroupLimit`, so each map task keeps only
    * its local per-key best row BEFORE the shuffle (partial top-1, the
    * same mechanics as the knn group-limit) — the shuffle carries ~1 row
    * per (key, input partition), not the full history. Deterministic for
    * oracle use when (versionCol, tieBreak) is a total order per key;
    * callers pass e.g. the event id as tiebreak for same-timestamp
    * updates. */
  def upsertLatest(
      base: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((versionCol +: tieBreak).map(c => col(c).desc): _*)
    // collision-proof rank column name: withColumn REPLACES an existing
    // column, so a fixed "__rn" would silently destroy a user column of
    // that name on its way through the upsert
    val taken = (base.columns ++ updates.columns).toSet
    val rn = Iterator.from(0).map(i => s"__rn$i").find(!taken(_)).get
    base.unionByName(updates)
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** Compact a partitioned layout in place: every micro-batch append
    * ([[appendNew]], streaming `annIngest`/`annIngestPq`) closes at least
    * one file per touched partition, so a long-running stream degrades
    * the read path into a small-file storm (at 100 TB that is metadata
    * pressure and per-file open cost, not just local clutter). Rewrites
    * the table as one coalesced pass — `repartition(partitionCol)` gives
    * one task and therefore one file per partition (plus
    * `maxRecordsPerFile` splits for genuinely large partitions) — into a
    * staging dir, then atomically swaps directories. The swap is the
    * local-FS twin of a metastore location flip; readers opened before
    * the swap keep their snapshot, new reads see only compacted files.
    *
    * Concurrent-writer safe: the rewrite reads EXACTLY the files listed in
    * an up-front snapshot (not "whatever is in the directory when the scan
    * runs"), and the publish goes through [[swap]]: any COMMITTED data
    * file that a concurrent appender landed AFTER the snapshot is moved
    * from the retired dir back into the published dir — a late
    * micro-batch is never silently dropped; it just stays uncompacted
    * until the next pass. Returns (filesBefore, filesAfter).
    *
    * Fixed cost: the layout, the staged rewrite and the retired dir are
    * each listed once, with [[listDataFiles]]; the file count after the
    * pass comes from those listings. The rewrite reads the snapshot
    * through [[readPinned]], so no Spark job relists the snapshot's
    * files, however many there are.
    *
    * `onStaged` is a test seam invoked between the staged rewrite and the
    * directory swap — the window a concurrent append races into.
    *
    * Crash posture: the swap is two renames, not one atomic op. A crash
    * between them leaves the layout under `.<name>__retired` (and the
    * rewrite under `.<name>__compacting`) — nothing is deleted until
    * recovery completes, so the fix is one manual rename back; a crash
    * BEFORE the retire rename leaves the live layout untouched. */
  def compact(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      maxRecordsPerFile: Long = 4_000_000L,
      onStaged: () => Unit = () => ()): (Long, Long) = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapshot = listDataFiles(fs, target)
    require(snapshot.nonEmpty, s"compact: no data files at $target")
    val staging = new Path(target.getParent, s".${target.getName}__compacting")
    fs.delete(staging, true)
    readPinned(spark, target, snapshot)
      .repartition(col(partitionCol))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(staging.toString)
    onStaged()
    val swapped = swap(fs, target, staging, "", snapshot, "compact")
    (snapshot.size.toLong, swapped.staged + swapped.late)
  }

  /** The rows of exactly the data files `files` (from [[listDataFiles]])
    * of the partitioned parquet layout rooted at `base`, partition
    * columns discovered from the paths as `spark.read` with `basePath`
    * would. The file index is seeded with the listed statuses, so
    * planning lists nothing: `spark.read.parquet(files: _*)` would list
    * every file again, and above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths
    * (32) in a Spark job with one task per file. A file that lands in
    * the layout after the listing is not read. Task-attempt files under
    * `_temporary` are left out: they belong to an uncommitted append. */
  private[graft] def readPinned(
      spark: SparkSession,
      base: Path,
      files: Seq[FileStatus]): DataFrame = {
    val committed = files.filterNot(_.getPath.toString.contains("/_temporary/"))
    require(committed.nonEmpty, s"readPinned: no committed data files under $base")
    val byPath = committed.map(f => f.getPath -> Array(f)).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = byPath.get(p)
      override def putLeafFiles(p: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> base.toString)
    val index = new InMemoryFileIndex(
      spark, committed.map(_.getPath), options, None, listed)
    val format = new ParquetFileFormat
    val dataSchema = format.inferSchema(spark, options, index.allFiles())
      .getOrElse(sys.error(s"readPinned: no parquet schema under $base"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      DatasetBridge.asNullable(dataSchema), None, format, options)(spark))
  }

  /** What [[swap]] published: the staged rewrite's data files, and the
    * data files a concurrent appender landed after the snapshot that
    * the published layout keeps. */
  private[graft] final case class Swapped(staged: Long, late: Long)

  /** The publish both [[compact]] and [[AnnIvf.rebalance]] end with:
    * retire `target` to `.<name>__retired`, publish `staging` in its
    * place, then move every committed data file under `recoverUnder`
    * (relative to the layout root; "" for the root itself) of the
    * retired dir that is not in `snapshot` back into the published
    * layout, and delete the retired dir.
    *
    *  - A concurrent append can RECREATE `target` between the two
    *    renames (its commit mkdirs the output path). The whole-dir
    *    rename then either fails or moves staging INSIDE the recreated
    *    dir (HDFS semantics; the local FS gets there by copying). Both degrade
    *    to a file-by-file merge of the staged rewrite into the recreated
    *    dir; appended files carry unique task UUIDs, so nothing collides
    *    and nothing is lost.
    *  - Task-attempt files of an append still IN FLIGHT at retire time
    *    (`_temporary` trees) are not restored: they were never promoted,
    *    and deleting the retired dir fails that append's commit LOUDLY,
    *    so its retry lands cleanly.
    *
    * Lists the staged dir and the retired dir once each (plus the
    * recreated target in the merge case). `afterRetire` is a test seam
    * between the two renames. */
  private[graft] def swap(
      fs: FileSystem,
      target: Path,
      staging: Path,
      recoverUnder: String,
      snapshot: Seq[FileStatus],
      site: String,
      afterRetire: () => Unit = () => ()): Swapped = {
    def under(root: Path) = if (recoverUnder.isEmpty) root else new Path(root, recoverUnder)
    def move(from: Path, to: Path, what: String): Unit = {
      fs.mkdirs(to.getParent)
      require(fs.rename(from, to), s"$site: cannot $what $from")
    }
    val staged = listDataFiles(fs, staging).map(f => relPath(fs, staging, f.getPath))
    val retired = new Path(target.getParent, s".${target.getName}__retired")
    fs.delete(retired, true)
    // the swap relies on dir rename being a metadata move — on copy+delete
    // object stores the windows widen per-object; warn loud
    graft.operators.warnIfNonAtomicRename(fs, target.toString, site)
    require(fs.rename(target, retired), s"$site: cannot retire $target")
    afterRetire()
    val renamed = fs.rename(staging, target)
    val nested = new Path(target, staging.getName)
    val mergeFrom =
      if (!renamed) Some(staging)
      else if (fs.exists(nested)) Some(nested)
      else None
    val planted = mergeFrom.fold(0L) { src =>
      val appended = listDataFiles(fs, target)
        .count(f => !relPath(fs, target, f.getPath).startsWith(s"${nested.getName}/"))
      staged.foreach(r => move(new Path(src, r), new Path(target, r), "merge staged"))
      fs.delete(src, true)
      appended.toLong
    }
    val snapshotRel = snapshot.map(f => relPath(fs, under(target), f.getPath)).toSet
    val late = listDataFiles(fs, under(retired)).map(f => relPath(fs, under(retired), f.getPath))
      .filter(r => !snapshotRel.contains(r) && !r.contains("_temporary"))
    late.foreach(r => move(new Path(under(retired), r), new Path(under(target), r),
      "restore late append"))
    fs.delete(retired, true)
    Swapped(staged.size.toLong, planted + late.size)
  }

  /** Dense per-partition ordinal (the reference's monotonically increasing
    * faiss_id per partition, faiss_utils.py:113-115) via a rank window —
    * deterministic given the id ordering. */
  def withPartitionOrdinals(df: DataFrame, partitionCol: String, idCol: String): DataFrame =
    df.withColumn("ordinal",
      row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(partitionCol).orderBy(idCol)) - 1)

  /** Recursive listing of the parquet data files under `p` (`p` itself
    * when it is one; empty when it does not exist; `_temporary` attempt
    * files included) — the snapshot primitive both [[compact]] and
    * [[AnnIvf.rebalance]] pin their reads to (concurrent appenders land
    * files AFTER the listing; those are recovered from the retired dir
    * post-swap, never read twice).
    *
    * Listing cost: one `listStatus` per directory and nothing per file.
    * `fs.listFiles` would build a `LocatedFileStatus` per file, whose
    * constructor copies permission, owner and group; on the local
    * filesystem without the native Hadoop library that copy forks an
    * `ls -ld` per file. A directory that vanishes mid-walk (an append's
    * `_temporary` tree, removed at commit) holds nothing to snapshot. */
  private[graft] def listDataFiles(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val b = Seq.newBuilder[FileStatus]
    def walk(s: FileStatus): Unit =
      if (s.isDirectory) {
        val children =
          try fs.listStatus(s.getPath)
          catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
        children.foreach(walk)
      } else if (s.getPath.getName.endsWith(".parquet")) b += s
    try walk(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => () }
    b.result()
  }

  /** Path of `f` relative to `root`. Listings return scheme-qualified
    * URIs; qualify the root the same way or relativize silently returns
    * the absolute path. */
  private[operators] def relPath(fs: FileSystem, root: Path, f: Path): String =
    fs.makeQualified(root).toUri.relativize(fs.makeQualified(f).toUri).getPath

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}

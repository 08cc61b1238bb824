package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

package object operators {

  /** Runs `body` with its Spark jobs described as `label` (what the UI
    * and listeners show per job), restoring the caller's description. */
  private[graft] def labelled[T](sc: org.apache.spark.SparkContext, label: String)(
      body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  /** Deterministically release a checkpointed Dataset's storage.
    * `Dataset.unpersist` is a NO-OP here — it only clears CacheManager
    * entries, while `localCheckpoint` persists the underlying RDD
    * directly (released otherwise only when the RDD is GC'd via
    * ContextCleaner) — so unpersist the checkpointed RDD itself, reached
    * through the plan's LogicalRDD leaf. Blocking, so a caller loop never
    * races ahead of the block removal it relies on. For RELIABLE
    * checkpoints (`Dataset.checkpoint`) the pinned state is files under
    * the checkpoint dir, not blocks — those are deleted too (Spark's own
    * `cleanCheckpoints` path is GC-driven and off by default).
    *
    * Call ONLY on frames that are fully superseded: a released
    * checkpoint has truncated lineage, so any later action on it (or on
    * a lazy plan built over it) fails with lost blocks. Every fixpoint
    * loop here releases round N's frame only after round N+1's is
    * eagerly materialized, and never releases the frame backing the
    * returned plan. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val fs = p.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
          if (!fs.delete(p, true) && fs.exists(p))
            org.slf4j.LoggerFactory.getLogger("graft.operators").warn(
              s"releaseCheckpoint: could not delete checkpoint files at $f")
        }
      case _ => ()
    }

  /** Publish a small control file (a `_LATEST` pointer) by temp-write +
    * ATOMIC OVERWRITE rename. Not `create(dst, true)`: an in-place
    * overwrite truncates the LIVE file the moment create() opens it. And
    * not delete-then-rename: that leaves a window with NO file at all, in
    * which a crash makes readers see a fresh/legacy layout and silently
    * reset or mis-serve (the exact failure the pointer exists to
    * prevent). `FileContext.rename(OVERWRITE)` replaces in one step.
    *
    * FILESYSTEM CONTRACT: the one-step replacement is atomic only where
    * the filesystem's rename is — HDFS, posix-local, ADLS Gen2 (abfs,
    * hierarchical namespace). On object stores whose "rename" is
    * copy+delete (s3a, s3n, swift, oss, cosn; gs without hierarchical
    * namespace) the torn/pointer-less windows this helper exists to
    * close RE-OPEN inside the connector's copy+delete. Every durable
    * layout in the engine funnels through here, so the check is central:
    * a known-non-atomic scheme logs one loud warning per scheme (not a
    * refusal — the crash window is narrow and some deployments accept
    * it), naming the mitigation: front the pointer with a rename-atomic
    * store, or a manifest service. */
  private[graft] def publishPointerAtomic(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
      name: String,
      tmpName: String,
      content: String): Unit = {
    val dst = fs.makeQualified(new org.apache.hadoop.fs.Path(dir, name))
    warnIfNonAtomicRename(fs, dir, "publishPointerAtomic")
    val tmp = fs.makeQualified(new org.apache.hadoop.fs.Path(dir, tmpName))
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, fs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** URI schemes whose Hadoop connector implements rename as COPY+DELETE
    * (never atomic). `gs` is listed too: the GCS connector is atomic only
    * on hierarchical-namespace buckets, which the scheme alone cannot
    * prove — the warning text says so. */
  private val nonAtomicRenameSchemes =
    Set("s3a", "s3n", "s3", "swift", "oss", "cosn", "wasb", "wasbs", "gs")
  private val warnedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One loud warning per (site, scheme) when `dir`'s filesystem
    * implements rename as copy+delete — shared by every rename-dependent
    * durability site: the `_LATEST` pointer publishes, the compact/
    * rebalance dir swaps, and the WebDataset shard publish. */
  private[graft] def warnIfNonAtomicRename(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
      site: String): Unit = {
    val scheme = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
      .toUri.getScheme
    renameAtomicityWarning(scheme, site).foreach { msg =>
      if (warnedSchemes.add(s"$site|$scheme"))
        org.slf4j.LoggerFactory.getLogger("graft.operators")
          .warn(s"$site: $msg")
    }
  }

  /** Pure probe (spec-tested): the warning for a rename-dependent publish
    * on `scheme`, or None when rename is atomic there (hdfs, file, abfs —
    * and a null scheme, the un-qualified local default). The caller's
    * `site` prefixes the logged line (warnIfNonAtomicRename), so the text
    * here carries no site name; the `_LATEST`-pointer mitigation sentence
    * appears only for the pointer-publish site (ADVICE r17) — the
    * compact/rebalance/shard sites get the generic move-the-swap advice. */
  private[graft] def renameAtomicityWarning(
      scheme: String,
      site: String = "publishPointerAtomic"): Option[String] =
    Option(scheme).map(_.toLowerCase(java.util.Locale.ROOT))
      .filter(nonAtomicRenameSchemes.contains)
      .map { s =>
        s"filesystem scheme '$s' implements rename " +
          "as copy+delete, NOT atomically" +
          (if (s == "gs") " (unless the bucket has hierarchical namespace " +
            "enabled, which this probe cannot see)" else "") +
          " — the torn window the atomic rename exists to close re-opens " +
          "inside the connector; a crash mid-publish can leave readers " +
          "refusing (or, pre-migration, serving stale data). " +
          (if (site == "publishPointerAtomic")
            "Host _LATEST pointers on a rename-atomic store (HDFS, " +
              "posix, ADLS Gen2) or front them with a manifest service."
          else
            "Run this directory swap on a rename-atomic store (HDFS, " +
              "posix, ADLS Gen2), or accept the documented window.")
      }

  /** Fail fast on the numeric-id contract shared by the blocked/aggregated
    * operators (bruteForceBlocked, TopKAggregator.topK, minhashPairs,
    * embeddingPairs): ids are carried as primitive longs in their hot
    * paths, and a silent `cast("long")` would turn non-numeric ids into
    * nulls that unbox to 0 — wrong neighbors with no error. */
  private[operators] def requireIntegralId(df: DataFrame, c: String, op: String): Unit =
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case t => throw new IllegalArgumentException(
        s"$op: id column '$c' must be integral (byte/short/int/long) — " +
          s"got ${t.sql}. Map ids to a long surrogate key first.")
    }
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.dec

/** Structured Streaming surface over the `events` stream (SURVEY.md §2.9).
  *
  * The reference is batch-only; its streaming-shaped behaviors (buffered
  * micro-batch ingest faiss_utils.py:92-97, idempotent re-ingest
  * vector_db.py:127-132, incremental add-after-train storage_impl.py:125-144)
  * map to `foreachBatch` partitioned appends, watermarked dedup, and
  * stream-static joins. Every transform here is expressed on a plain
  * DataFrame so the SAME function runs in batch (oracle-checked via the
  * q20-q22 twins in graft.queries) and on a `readStream` source with a
  * watermark (checked by batch-equivalence in StreamingSpec) — watermarking
  * only governs state eviction/output finalization, not the aggregate
  * values themselves.
  *
  * At scale: event-time aggregation state is partitioned by (window, keys)
  * in the state store; watermarks bound state size; dedup state is
  * watermark-bounded via `dropDuplicatesWithinWatermark` (plain
  * `dropDuplicates` without the event-time column in its key set never
  * evicts).
  *
  * == Twin-inventory completeness ==
  * Every batch analytics query with watermark-boundable state has a
  * streaming twin here. Two STAY batch-only by design, so the inventory
  * is explicitly complete rather than silently partial:
  *
  *  - `q54_survival` (Kaplan–Meier): the survival curve at time t is a
  *    PRODUCT over all earlier event times of (1 − dᵢ/nᵢ), where the
  *    at-risk count nᵢ shrinks with every event AND every censoring. A
  *    late event re-weights every LATER factor — the output is not an
  *    accumulation of per-window state but a full-history order statistic,
  *    so no watermark can finalize any curve point while earlier times can
  *    still arrive; a "streaming" KM is just a periodic batch recompute
  *    (which `Mview.maintain`'s checkpointed foreachBatch already gives).
  *  - `q55_assoc_rules` (support/confidence/lift): support counts are
  *    joint frequencies over ALL baskets ever seen, and a rule's
  *    confidence/lift divides two such global counts; admitting a rule
  *    needs the FINAL support, which only exists when the corpus is
  *    closed. Incremental pair-count STATE is easy (the co-purchase
  *    matrix is a running sum) but the rule DECISIONS (support ≥ s,
  *    top-k by lift) are only meaningful per snapshot — again the
  *    mview-maintain pattern, not a watermarked operator.
  */
object EventStreams {

  /** Tumbling event-time window aggregate (ST4). */
  def tumblingCounts(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding event-time window aggregate. */
  def slidingCounts(events: DataFrame, width: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Session windows per user with an inactivity gap. */
  def sessionStats(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).cast("double").as("total_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("total_value"))

  /** OHLC bars per (event-time window, type): open/close are `min_by`/
    * `max_by` on the total (ts, event_id) order — declarative aggregates,
    * so the SAME expression runs batch and streaming (complete mode), no
    * rank window needed. The streaming twin of the batch `q41_ohlc`
    * endpoint semantics. */
  def ohlcBars(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_value"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_value"),
        min(col("value")).as("low_value"),
        max(col("value")).as("high_value"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("bar_start"), col("event_type"),
        col("open_value"), col("close_value"),
        col("low_value"), col("high_value"), col("n"))

  /** Approximate distinct users per event-time window via the mergeable
    * HLL sketch aggregate — O(256 bytes) of state per open window however
    * many users arrive, where exact streaming countDistinct would hold
    * every id. Same typed aggregate as the batch profile queries, so the
    * streaming estimate is bit-equal to batch on the same rows
    * (StreamingSpec). Hash = the portable token hash of the id, matching
    * the batch HLL stack. */
  def distinctUsersSketch(events: DataFrame, width: String): DataFrame =
    events
      .select(window(col("ts"), width).as("w"),
        graft.functions.TextOps
          .portableTokenHash64(col("user_id").cast("string")).as("__h"))
      .groupBy("w")
      .agg(graft.functions.Hll.sketchAgg(col("__h")).as("__sk"))
      .select(col("w.start").as("window_start"),
        graft.functions.Hll.estimateCol(col("__sk"))
          .as("approx_users"))

  /** KMV twin of [[distinctUsersSketch]]: per-window bottom-k user-hash
    * sample + distinct estimate — K longs of state per open window, and
    * unlike HLL the state doubles as an inspectable user SAMPLE. Same
    * expression batch and streaming, so the sketch bytes are identical. */
  def distinctUsersKmv(events: DataFrame, width: String): DataFrame =
    events
      .select(window(col("ts"), width).as("w"),
        xxhash64(col("user_id")).as("__h"))
      .groupBy("w")
      .agg(graft.functions.Kmv.sketchAgg(col("__h")).as("__sk"))
      .select(col("w.start").as("window_start"),
        graft.functions.Kmv.estimateCol(col("__sk")).as("approx_users"),
        col("__sk").as("sample_sketch"))

  /** Hourly (event-time-truncated) counts per type — the aggregation half
    * of the gap-fill twin; runs identically on a batch or streaming
    * DataFrame (plain groupBy on a truncation expression). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"))

  /** Dense-calendar zero-fill over an hourly aggregate: every (hour in
    * [from, to], observed event_type) cell exists, absent cells at
    * (0, 0.0) — the batch `q39_gapfill` shape, applied to ANY hourly
    * state (a batch aggregate, or each complete-mode snapshot in
    * [[gapFillStream]]). The calendar is a generated sequence and the
    * type dimension comes from the aggregate itself (tiny), so the fill
    * never rescans events. */
  def gapFillHourly(hourly: DataFrame, from: String, to: String): DataFrame = {
    val spark = hourly.sparkSession
    val hours = spark.range(1).select(explode(sequence(
      to_timestamp(lit(from)), to_timestamp(lit(to)),
      expr("interval 1 hour"))).as("hour"))
    val types = hourly.select("event_type").distinct()
    hours.crossJoin(types)
      .join(hourly, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"))
  }

  /** Streaming gap-fill twin of `q39_gapfill`: the hourly aggregate runs
    * as a complete-mode streaming aggregation (each trigger's batch is
    * the FULL updated hourly state), and the dense-calendar zero-fill —
    * a join after a streaming aggregation, which append/update modes
    * cannot express — runs as plain batch ops on that snapshot inside
    * `foreachBatch`. `sink` receives the gap-filled snapshot per
    * trigger; the final snapshot equals the batch query on the same rows
    * (StreamingSpec). State is the hourly aggregate itself — (hours ×
    * types)-sized, independent of event volume. */
  def gapFillStream(
      stream: DataFrame,
      from: String,
      to: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    hourlyCounts(stream).writeStream
      .outputMode("complete")
      .foreachBatch { (hourly: DataFrame, id: Long) =>
        sink(gapFillHourly(hourly, from, to), id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Watermarked form: apply to a `readStream` DataFrame before one of the
    * aggregates above so state is evicted once the watermark passes. */
  def withWatermark(stream: DataFrame, delay: String): DataFrame =
    stream.withWatermark("ts", delay)

  /** Streaming dedup on event_id within the watermark horizon — the
    * idempotent-ingest semantics (ST2). dropDuplicatesWithinWatermark,
    * NOT dropDuplicates: plain dropDuplicates only evicts state when the
    * event-time column is part of the dedup key set, so keyed on
    * event_id alone its state would grow with every id EVER seen — the
    * WithinWatermark variant evicts each key once the watermark passes
    * it, which is exactly the horizon this operator's name promises.
    * Standard watermark contract applies: rows arriving LATER than
    * `delay` behind the stream's max event time are dropped as late
    * data, so pick `delay` ≥ the source's re-delivery lag plus its
    * event-time disorder. */
  def dedupWithinWatermark(stream: DataFrame, delay: String): DataFrame =
    stream.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join against a frozen dimension (ST3) — the
    * add-after-train shape: the static side (centroids / dimension table)
    * broadcasts under the join threshold; stream rows never shuffle. */
  def enrich(stream: DataFrame, dim: DataFrame, key: Column): DataFrame =
    stream.join(broadcast(dim), key)

  /** Streaming ANN ingest (reference ST3 at index level,
    * storage_impl.py:125-144: add-after-train, never retrain): each
    * micro-batch is assigned against the FROZEN broadcast centroids and
    * idempotently appended to the partitioned index layout. Returns the
    * running StreamingQuery.
    *
    * `onSq8OutOfBounds(batchId, fraction)` (sq8 layouts only): the
    * fraction of this batch's vector elements falling strictly outside
    * the layout's trained per-dim bounds — the elements the sq8 clamp
    * silently saturates to code 0/255. Collected as a CollectMetrics
    * node (`Dataset.observe`) riding the append's own action, upstream
    * of the skip-existing filter: whole-batch semantics at ZERO extra
    * passes over the batch. */
  def annIngest(
      stream: DataFrame,
      centers: Array[Array[Float]],
      indexVectorsPath: String,
      idCol: String,
      bloomExpectedIds: Option[Long] = None,
      onSq8OutOfBounds: Option[(Long, Double) => Unit] = None,
      onBatch: Long => Unit = _ => (),
      onAppended: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // with an expected-id budget, skip-existing runs through ONE amortized
    // membership sketch for the whole stream (the durable layout's id
    // column is scanned once, not once per micro-batch)
    val session = bloomExpectedIds.map(n =>
      new graft.operators.Ingest.BloomIngestSession(
        stream.sparkSession, indexVectorsPath, idCol, "partition_id", n))
    // the layout's append contract — stored codec + write salt — is
    // snapshotted ONCE at stream start: an fp16/sq8 layout (the reference
    // ships IVF+SQfp16, storage_impl.py:87) must receive PACKED appends,
    // and a salted layout stores a __salt column in EVERY file [[write]]
    // produces, so appends must carry both or the dir schema forks and
    // whichever half loses the footer race reads back NULL vectors
    // (silent corruption; IngestPipelineSpec proves it). The snapshot is
    // then RE-ASSERTED per micro-batch (one 1-row meta read), BEFORE and
    // AFTER each append, so an out-of-band re-write with a different
    // codec/salt kills the stream loudly instead of silently re-opening
    // that corruption class: the pre-check fails fast, and the
    // post-check bounds the check-then-act window — a rewrite that
    // overlaps an in-flight append is detected within the SAME batch
    // (including the final one) with remediation guidance, never left
    // for a later read to surface as NULL vectors. `rebalance` preserves
    // codec+salt bit-stably, so legitimate concurrent maintenance never
    // trips either check.
    val snap = graft.operators.AnnIvf
      .layoutSnapshot(stream.sparkSession, indexVectorsPath)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(batchId) // test seam: the window an out-of-band rewrite races into
        graft.operators.AnnIvf.assertLayoutUnchanged(
          batch.sparkSession, indexVectorsPath, snap)
        val routed = graft.operators.AnnIvf
          .assignPartitions(batch, "embedding", centers)
        // sq8 drift observability: packForCodec CLAMPS elements outside
        // the layout's trained bounds (code saturates at 0/255) — report
        // the out-of-bounds element fraction per micro-batch when asked,
        // so distribution drift past the trained bounds is visible before
        // it degrades recall. The sums ride the append itself as a
        // CollectMetrics node (Dataset.observe) attached UPSTREAM of the
        // skip-existing filter — same whole-batch semantics as a separate
        // agg, at zero extra passes over the batch (the append path
        // always runs at least one action, so the observation resolves)
        // ONE match derives both: an Observation that exists but was
        // never attached would block obs.get below forever, so attach
        // and create in the same arm
        val (observed, oobObs) = (snap.codec, onSq8OutOfBounds) match {
          case (graft.operators.AnnIvf.StorageCodec.Sq8(b), Some(_)) =>
            val obs = new org.apache.spark.sql.Observation(
              s"graft_sq8_oob_$batchId")
            (routed.observe(obs,
              sum(graft.functions.SQ8.oobCountCol(b, col("embedding"))
                .cast("long")).as("oob"),
              sum(size(col("embedding")).cast("long")).as("n")), Some(obs))
          case _ => (routed, None)
        }
        val packed = graft.operators.AnnIvf
          .packForCodec(observed, "embedding", snap.codec)
        // stamp keyed on sidecar presence, NOT salt > 1: write() stores a
        // __salt column even at writeSalt = 1 (value 0), so any layout
        // with a sidecar needs the column on appends too; the stamped
        // VALUE is exactly what knnJoin's null-coalesce would derive
        // (pmod(xxhash64(id), salt)), keeping plans deterministic
        val assigned =
          if (snap.hasMeta)
            packed.withColumn("__salt",
              pmod(xxhash64(col(idCol)), lit(snap.writeSalt)).cast("int"))
          else packed
        session match {
          case Some(s) => s.append(assigned); ()
          case None => graft.operators.Ingest.appendNew(
            batch.sparkSession, assigned, indexVectorsPath, idCol, "partition_id")
        }
        onAppended(batchId) // test seam: a rewrite racing the in-flight append
        // the append above ran the batch's action(s), so the observation
        // is resolved — report the clamp fraction BEFORE the drift
        // re-check below: the appended files are durable either way, and
        // if the re-check raises, this batch's clamp fraction is part of
        // what the operator inspects (empty batch sums to SQL NULL → 0.0)
        (oobObs, onSq8OutOfBounds) match {
          case (Some(obs), Some(report)) =>
            val m = obs.get
            val n = Option(m("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
            val oob = Option(m("oob")).map(_.asInstanceOf[Long]).getOrElse(0L)
            report(batchId, if (n == 0L) 0.0 else oob.toDouble / n)
          case _ => ()
        }
        // the pre-append check is check-then-act: a rewrite landing WHILE
        // the append is in flight still gets this batch's files into the
        // new layout under the old contract. Re-asserting here NARROWS
        // the undetected window to a rewrite whose publish lands after
        // this read (it cannot close it without layout-level locking) —
        // in particular a rewrite overlapping the FINAL batch, which no
        // next batch would ever re-check, is now caught when its publish
        // beats this read
        graft.operators.AnnIvf.assertLayoutUnchanged(
          batch.sparkSession, indexVectorsPath, snap,
          context = " NOTE: the rewrite overlapped this batch's append — " +
            "files this batch just appended may not match the new " +
            "layout; inspect files newer than the rewrite before serving.")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Per-(band, chunk) state for [[phashMatches]]: members seen so far
    * (id, 64-bit signature), with the same degenerate-tombstone contract
    * as [[BandBucket]]. */
  final case class SigBucket(
      members: Seq[(Long, Long)],
      degenerate: Boolean = false)

  /** Match event from [[phashMatches]]. */
  final case class SigMatch(media_id: Long, dup_of: Long, hamming: Int)

  /** Streaming near-dup over ANY 64-bit signature (image dHash, simhash,
    * …) — the streaming twin of [[graft.operators.Dedup.hamming64Pairs]]
    * and the multimodal sibling of [[nearDupMatches]]: each arriving
    * signature is checked against previously-arrived ones sharing any of
    * its `numBands` chunks (pigeonhole guarantees recall for
    * maxHamming < numBands) and emits EXACTLY one match event per
    * verified neighbor: a pair sharing several chunks is seen by several
    * (band, chunk) buckets, but only the LOWEST shared band index emits
    * (computable locally — each bucket holds both full signatures), so an
    * image-ingest stream drops perceptual duplicates online without a
    * consumer-side dedup. Same state/cap/TTL contract as
    * [[nearDupMatches]] with one caveat exactly-once inherits: if the
    * lowest shared band's bucket went degenerate (over cap), the pair is
    * not emitted even when a higher band still could — the batch engine
    * drops over-cap buckets the same way. With `stateTtlMs > 0` the
    * lowest-band rule is unsound (bucket lifetimes expire independently,
    * so the designated emitter may no longer hold the pair): every LIVE
    * shared band emits instead — at-least-once match events; consumers
    * dedup on (media_id, dup_of). State is
    * hash-partitioned by (band, chunk); a bucket passing `maxBucketSize`
    * tombstones itself and goes silent (the batch drop); `stateTtlMs`
    * bounds state on unbounded streams. In-batch arrival order is
    * id-ascending; re-ingested ids are skipped (idempotent, ST2). */
  def phashMatches(
      media: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 6,
      numBands: Int = 8,
      maxBucketSize: Int = 1024,
      stateTtlMs: Long = 0L): org.apache.spark.sql.Dataset[SigMatch] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(numBands >= 1 && 64 % numBands == 0,
      s"numBands must be >= 1 and divide 64 ($numBands)")
    require(maxHamming < numBands,
      s"pigeonhole needs maxHamming < numBands ($maxHamming >= $numBands)")
    val bits = 64 / numBands
    val spark = media.sparkSession
    import spark.implicits._
    val banded = media
      .select(col(idCol).cast("long").as("id"), col(hashCol).cast("long").as("h"))
      .select(col("id"), col("h"),
        explode(array((0 until numBands).map { i =>
          struct(lit(i).as("band"),
            shiftrightunsigned(col("h"), i * bits)
              .bitwiseAND(lit((1L << bits) - 1)).as("chunk"))
        }: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.chunk").as("chunk"),
        col("id"), col("h"))
      .as[(Int, Long, Long, Long)]
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val mask = (1L << bits) - 1
    // lowest band index whose chunks agree — the ONE bucket allowed to
    // emit this pair (every shared-band bucket holds both full
    // signatures, so the decision is local and needs no cross-bucket
    // coordination)
    def firstSharedBand(a: Long, b: Long): Int = {
      var i = 0
      while (i < numBands) {
        if (((a >>> (i * bits)) & mask) == ((b >>> (i * bits)) & mask)) return i
        i += 1
      }
      -1
    }
    banded.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[SigBucket, SigMatch](OutputMode.Append(), timeout) {
        (key: (Int, Long), rows: Iterator[(Int, Long, Long, Long)],
            state: GroupState[SigBucket]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(SigBucket(Seq.empty))
            var members = prev.members
            var degenerate = prev.degenerate
            val out = scala.collection.mutable.ArrayBuffer.empty[SigMatch]
            rows.toSeq.sortBy(_._3).foreach { case (_, _, id, h) =>
              if (!degenerate && !members.exists(_._1 == id)) {
                if (members.size >= maxBucketSize) {
                  degenerate = true
                  members = Seq.empty
                } else {
                  members.foreach { case (mid, mh) =>
                    val d = java.lang.Long.bitCount(mh ^ h)
                    // TTL off: exactly-once — only the lowest shared band
                    // emits. TTL ON: bucket lifetimes are independent, so
                    // the lowest shared band's bucket may have expired
                    // while a higher one still holds both signatures —
                    // gating on lowest-band would then lose the match
                    // entirely; every LIVE shared band emits instead
                    // (at-least-once; consumers dedup on (id, dup_of))
                    if (d <= maxHamming &&
                        (stateTtlMs > 0 || firstSharedBand(mh, h) == key._1))
                      out += SigMatch(id, mid, d)
                  }
                  members = members :+ ((id, h))
                }
              }
            }
            state.update(SigBucket(members, degenerate))
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.iterator
          }
      }
  }

  /** Streaming maintenance of a materialized aggregate: each micro-batch
    * becomes a [[graft.operators.Mview]] partial state folded into a
    * durable parquet state under `statePath` — the streaming twin of the
    * batch `mview_incremental` path, and the shape that keeps a 100 TB
    * rollup current by shuffling only each batch's arrivals.
    *
    * Exactly-once without sink transactions: state versions are written
    * to `statePath/v<seq>` (a sequence number that only ever grows, so a
    * later run whose batch ids restart at 0 can never overwrite an older
    * version) and committed by a tiny `_LATEST` pointer recording
    * (seq, batchId, runKey). A batch is skipped ONLY when it is a true
    * intra-run replay — same runKey AND `id <= lastApplied` (foreachBatch
    * reruns the last batch after a crash between sink commit and
    * checkpoint commit) — so the non-idempotent merge is never
    * double-applied, and a NEW run's batches are never mistaken for
    * replays just because its ids restarted at 0. Skipped batches are
    * logged.
    *
    * Pass `checkpointLocation` to make the stream incremental ACROSS
    * sessions: the checkpoint path is the run key, Spark resumes batch
    * ids monotonically from it, and already-committed source files are
    * not re-read. Without a checkpoint each `start()` is a fresh stream
    * that re-reads the whole source and folds it in AGAIN — fine for a
    * one-shot build, wrong for maintenance; maintenance callers should
    * always pass one. Old versions are retained (time-travel /
    * debugging); a janitor can prune below the pointer. */
  def mviewMaintain(
      stream: DataFrame,
      statePath: String,
      groupCols: Seq[String],
      valueCol: String,
      checkpointLocation: Option[String] = None,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // run key = checkpoint path (stable across restarts, so post-crash
    // replays of the same lineage are recognized) or a fresh ephemeral
    // key per start() (batch ids restart at 0 each run → only same-run
    // replays may be skipped)
    val runKey = checkpointLocation.getOrElse(
      "ephemeral-" + java.util.UUID.randomUUID().toString)
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val last = mviewPointer(spark, statePath)
        val isReplay = last.exists { case (_, lastId, key) =>
          key == runKey && id <= lastId }
        if (isReplay) {
          org.slf4j.LoggerFactory.getLogger(EventStreams.getClass).info(
            s"mviewMaintain: skipping replayed batch $id of run $runKey " +
              s"(pointer already at batch ${last.get._2})")
        } else {
          val delta = graft.operators.Mview.init(batch, groupCols, valueCol)
          val merged = last match {
            case Some((seq, _, _)) => graft.operators.Mview.merge(
              spark.read.parquet(s"$statePath/v$seq"), delta, groupCols)
            case None => delta
          }
          val newSeq = last.map(_._1 + 1).getOrElse(0L)
          merged.write.mode("overwrite").parquet(s"$statePath/v$newSeq")
          writeMviewPointer(spark, statePath, newSeq, id, runKey)
        }
      }
      .trigger(trigger)
    checkpointLocation.foreach(cp => writer.option("checkpointLocation", cp))
    writer.start()
  }

  /** Current state of a [[mviewMaintain]] directory, if any batch has
    * committed. */
  def mviewState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[DataFrame] =
    mviewPointer(spark, statePath)
      .map { case (seq, _, _) => spark.read.parquet(s"$statePath/v$seq") }

  /** `_LATEST` pointer: 3 lines — version seq, last applied batch id,
    * run key. A legacy 1-line pointer (batch id only, pre-runKey format)
    * reads as seq = batchId with an unknown run key, so nothing after an
    * upgrade is mistaken for a replay. */
  private def mviewPointer(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Option[(Long, Long, String)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statePath),
      spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(statePath, "_LATEST")
    if (!fs.exists(p)) {
      // no pointer + existing state versions = a damaged dir, not a
      // fresh one — treating it as fresh would fold the next batch into
      // nothing and overwrite v0 (silent loss of the maintained state)
      val base = new org.apache.hadoop.fs.Path(statePath)
      // at least one digit required: drop(1).forall(_.isDigit) is
      // vacuously true for a bare "v", so unrelated debris named "v"
      // would make a genuinely fresh state dir refuse to initialize
      val hasVersions = fs.exists(base) && fs.listStatus(base)
        .exists { st =>
          val name = st.getPath.getName
          name.length > 1 && name.startsWith("v") &&
            name.drop(1).forall(_.isDigit)
        }
      if (hasVersions) sys.error(
        s"mview state at $statePath has version dirs but no _LATEST " +
          "pointer — refusing to treat it as fresh (that would reset the " +
          "maintained aggregate); restore _LATEST (3 lines: seq, batch " +
          "id, run key) or move the old versions away")
      None
    } else {
      val in = fs.open(p)
      val raw =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
      raw.split("\n").map(_.trim) match {
        case Array(seq, id, key) => Some((seq.toLong, id.toLong, key))
        case Array(legacy) => Some((legacy.toLong, legacy.toLong, ""))
        case other => Some((other(0).toLong, other(1).toLong, ""))
      }
    }
  }

  private def writeMviewPointer(spark: org.apache.spark.sql.SparkSession,
      statePath: String, seq: Long, id: Long, runKey: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statePath),
      spark.sessionState.newHadoopConf())
    // ATOMIC overwrite publish (shared with Retrieval's generation
    // pointer): the previous delete-then-rename left a window with NO
    // pointer — a crash there made the next run read `last = None`,
    // fold its batch as a FRESH state, and overwrite v0: silent loss of
    // the entire maintained aggregate. There is no window now, and
    // mviewPointer additionally refuses a pointer-less dir that holds
    // state versions (damage, not freshness).
    graft.operators.publishPointerAtomic(
      fs, statePath, "_LATEST", s"._LATEST.tmp-$seq", s"$seq\n$id\n$runKey")
  }

  /** Micro-batch ANN SERVING: a stream of query vectors answered against
    * a frozen index — the reference's scatter-gather request loop
    * (nearest_neighbor_client.py:34-72) as a stream instead of an HTTP
    * client. Each arriving batch runs the exact batch serving plan
    * (driver centroid probe → one fused scan with per-query top-k heaps,
    * [[graft.operators.ProbeTopK]]) via `foreachBatch`, because a
    * per-query rank is not
    * expressible in append-mode streaming — and per batch it SHOULD be
    * the batch plan: the index stays frozen, only the query set moves.
    * `sink` receives each batch's results with the batch id;
    * StreamingSpec pins them equal to [[AnnIvf.search]] on the same
    * queries. */
  def annServe(
      queryStream: DataFrame,
      index: graft.operators.AnnIvf.Index,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.operators.AnnIvf.search(
          index, batch, queryIdCol, vecCol, k, nprobe), id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming IVF-PQ ingest: the compact-index twin of [[annIngest]] —
    * each micro-batch is assigned against the FROZEN broadcast centroids
    * AND product-quantized with the FROZEN broadcast codebooks (both
    * trained once, add-after-train), then idempotently appended to the
    * durable codes layout ([[graft.operators.AnnPq.write]]'s
    * `<path>/codes`). Stream to searchable m-bytes-per-vector index with
    * no retrain and no fp32 landing zone. */
  def annIngestPq(
      stream: DataFrame,
      centers: Array[Array[Float]],
      cb: graft.operators.AnnPq.Codebooks,
      codesPath: String,
      idCol: String,
      vecCol: String = "embedding"): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val assigned = graft.operators.AnnIvf
          .assignPartitions(batch, vecCol, centers)
        val coded = assigned.select(col("partition_id"), col(idCol),
          graft.operators.AnnPq.encodeUdf(cb)(col(vecCol)).as("pq_code"))
        graft.operators.Ingest.appendNew(
          batch.sparkSession, coded, codesPath, idCol, "partition_id")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Watermarked stream-stream interval join: error events joined to
    * signup events of the same user within `intervalSec` seconds BEFORE the
    * error. Both sides buffer in the state store; the watermark + time
    * bound let Spark evict matched/expired rows — the canonical bounded
    * stream-stream join shape. */
  def streamStreamSignupErrors(
      errors: DataFrame, signups: DataFrame,
      watermarkDelay: String, intervalSec: Long): DataFrame = {
    val e = errors.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("error_ts"))
    val s = signups.withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
    e.join(s,
      col("user_id") === col("s_user_id") &&
        col("signup_ts") <= col("error_ts") &&
        col("signup_ts") >= col("error_ts") - expr(s"INTERVAL $intervalSec SECONDS"))
      .select("error_id", "user_id", "error_ts", "signup_ts")
  }

  /** A verified near-dup match emitted by [[nearDupMatches]]: `doc_id`
    * arrived after `dup_of` and their exact shingle Jaccard ≥ threshold.
    * The same pair can be emitted from several LSH bands — consumers
    * dedup on (doc_id, dup_of). */
  final case class DupMatch(doc_id: Long, dup_of: Long, jaccard: Double)

  /** Per-band-bucket state for [[nearDupMatches]]: members seen so far in
    * arrival order, with their sorted shingle-hash sets. `degenerate` is
    * set the moment a bucket would exceed the member cap: its members are
    * dropped (state shrinks to a tombstone) and the band stops emitting —
    * mirroring the batch degenerate-band drop. */
  final case class BandBucket(
      members: Seq[(Long, Seq[Long])],
      degenerate: Boolean = false)

  /** Streaming incremental near-dup detection — the streaming twin of
    * [[graft.operators.Dedup.minhashPairs]]: every arriving document is
    * checked against PREVIOUSLY ARRIVED documents and emits a match event
    * per verified near-dup, so a training-data ingest stream can drop
    * near-duplicates online instead of re-running batch dedup.
    *
    * Same portable hash stack as batch (shingle → minhash → band keys),
    * so on a corpus with no degenerate buckets the emitted undirected
    * pair set equals the batch `minhashPairs` output bit-for-bit
    * (StreamingSpec asserts this). State is keyed by band: the moment a
    * bucket would exceed `maxBucketSize` members it is marked degenerate —
    * its member list is dropped from state and the band emits nothing
    * from then on, mirroring batch's drop of over-cap buckets
    * (boilerplate keys carry no near-dup signal worth O(bucket²)). The
    * one unavoidable divergence from batch: matches a degenerate band
    * emitted BEFORE its cap was hit cannot be retracted (Append-mode
    * streams are monotone), where batch — seeing the whole corpus at
    * once — emits none of them; pairs that also share a non-degenerate
    * band are still emitted by both engines.
    *
    * At scale: state is hash-partitioned by band key across executors;
    * per-bucket cost is bounded by the cap; `stateTtlMs > 0` switches to
    * a processing-time TTL that evicts idle buckets (the unbounded-stream
    * hygiene knob — dedup scope becomes "within the TTL horizon", the
    * same contract as [[dedupWithinWatermark]]).
    *
    * In-batch arrival order is doc-id ascending (deterministic); a doc id
    * already in a bucket is skipped (idempotent re-ingest, ST2). */
  def nearDupMatches(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.6,
      maxBucketSize: Int = 1024,
      stateTtlMs: Long = 0L): org.apache.spark.sql.Dataset[DupMatch] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    // Spark's round() on doubles: BigDecimal HALF_UP — replicated here so
    // streaming jaccard values hash-match the batch verify exactly.
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val numPerms = numBands * rowsPerBand
    val banded = docs
      .select(col(idCol).cast("long").as("id"),
        graft.functions.TextOps.portableHashedShinglesUdf(shingleSize)(
          graft.functions.TextOps.tokens(col(textCol))).as("sh"))
      .withColumn("band",
        explode(graft.functions.TextOps.portableBandsUdf(numBands, rowsPerBand)(
          graft.functions.TextOps.portableMinhashUdf(numPerms)(col("sh")))))
      .select(col("band"), col("id"), col("sh"))
      .as[(Long, Long, Seq[Long])]
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[BandBucket, DupMatch](OutputMode.Append(), timeout) {
        (_: Long, rows: Iterator[(Long, Long, Seq[Long])],
            state: GroupState[BandBucket]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(BandBucket(Seq.empty))
            var members = prev.members
            var degenerate = prev.degenerate
            val out = scala.collection.mutable.ArrayBuffer.empty[DupMatch]
            rows.toSeq.sortBy(_._2).foreach { case (_, id, shs) =>
              if (!degenerate && !members.exists(_._1 == id)) {
                if (members.size >= maxBucketSize) {
                  // cap exceeded → the batch engine would drop this whole
                  // band; go silent and release the member state
                  degenerate = true
                  members = Seq.empty
                } else {
                  val arr = shs.toArray
                  members.foreach { case (mid, msh) =>
                    val j = round6(
                      graft.functions.SortedLongJaccard.jaccardArrays(msh.toArray, arr))
                    if (j >= threshold) out += DupMatch(id, mid, j)
                  }
                  members = members :+ ((id, shs))
                }
              }
            }
            state.update(BandBucket(members, degenerate))
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.iterator
          }
      }
  }

  /** Streaming decontamination — the streaming twin of
    * [[graft.operators.Dedup.contaminationCounts]]: each arriving train
    * document is checked against the FROZEN eval-benchmark gram set and
    * emits (id, n_shared). Documents arrive whole (one row each) and the
    * eval set is fixed at stream start, so this is STATELESS — the eval
    * grams collapse to a distinct 64-bit-hash set, broadcast once, and
    * membership is a scan-local set probe; no state store, no shuffle of
    * the stream. Counts are bit-equal to the batch operator per doc with
    * one shape difference: batch emits only docs with n_shared > 0 (it
    * inner-joins), this emits EVERY doc — filter `n_shared > 0` for the
    * batch row set (StreamingSpec compares exactly that way). Eval
    * suites are tiny next to a training corpus
    * (the broadcast contract); re-broadcast by restarting the stream if
    * the benchmark set changes. */
  def decontamCountsStream(
      docs: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val evalGrams: Set[Long] = evalDocs
      .withColumn("__toks", graft.functions.TextOps.tokens(col(textCol)))
      .select(explode(graft.functions.TextOps.portableHashedShinglesUdf(n)(
        col("__toks"))).as("g"))
      .distinct().collect().map(_.getLong(0)).toSet
    val bc = spark.sparkContext.broadcast(evalGrams)
    // null-safe: a single null-text event must score 0, not NPE the task
    // and kill the whole stream
    val nShared = udf { (grams: Seq[Long]) =>
      if (grams == null) 0 else grams.count(bc.value.contains) }
    docs
      .withColumn("__toks", coalesce(
        graft.functions.TextOps.tokens(col(textCol)),
        array().cast("array<string>")))
      .select(col(idCol).as("id"),
        nShared(graft.functions.TextOps.portableHashedShinglesUdf(n)(
          col("__toks"))).as("n_shared"))
  }

  /** Verdict row from [[exactDedupStream]]: `kept_id` is the canonical
    * (first-arrived) doc for this content; `is_dup` marks later copies. */
  final case class ExactDupVerdict(doc_id: Long, kept_id: Long, is_dup: Boolean)

  /** Streaming content-level exact dedup — the streaming twin of
    * [[graft.operators.Dedup.dropExactDuplicates]]: state is keyed by the
    * content hash, the FIRST arrival under each hash is canonical, and
    * every arrival emits a verdict (later copies with `is_dup = true`, for
    * dropping or routing to a dup log) — except an at-least-once
    * RE-delivery of the canonical row itself, which emits nothing: a
    * keeper flagged as a dup of itself would hand a downstream compactor
    * the only stored copy. Within a micro-batch rows fold in
    * ascending id order, so when arrival order is id order the kept set
    * equals the batch min-id form exactly (StreamingSpec asserts this).
    *
    * At scale: state per key is one long — bounded by distinct-content
    * cardinality, hash-partitioned across executors. `stateTtlMs > 0`
    * switches to a processing-time TTL for unbounded streams; an evicted
    * hash re-admits its next copy, so exactness in that regime belongs to
    * the batch anti-join against the durable corpus (ST2/J6), with this
    * stage as the in-flight filter. */
  def exactDedupStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      stateTtlMs: Long = 0L): org.apache.spark.sql.Dataset[ExactDupVerdict] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select(md5(col(textCol)).as("h"), col(idCol).cast("long").as("id"))
      .as[(String, Long)]
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, ExactDupVerdict](OutputMode.Append(), timeout) {
        (_: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var keeper = state.getOption.getOrElse(Long.MinValue)
            val out = scala.collection.mutable.ArrayBuffer.empty[ExactDupVerdict]
            rows.map(_._2).toSeq.sorted.foreach { id =>
              if (keeper == Long.MinValue) {
                keeper = id
                out += ExactDupVerdict(id, id, is_dup = false)
              } else if (id == keeper) {
                // at-least-once re-delivery of the CANONICAL row (ST2):
                // no verdict — flagging the keeper as a dup of itself
                // would hand a downstream compactor the only stored copy
              } else out += ExactDupVerdict(id, keeper, is_dup = true)
            }
            state.update(keeper)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.iterator
          }
      }
  }

  /** One emitted event-type bigram for [[transitionsStream]]. */
  final case class Transition(user_id: Long, cur_type: String, next_type: String)

  /** Streaming twin of `q43_transitions`' bigram extraction: per-user
    * LAST event type as state (one string per user however long the
    * stream runs), each arriving event emits the (prev → cur) bigram.
    * Downstream the bigrams aggregate into the transition matrix with a
    * plain streaming count (or land in a sink and reuse the batch
    * query) — the stateful part is exactly the LEAD window, replayed
    * incrementally. Same ordering contract as [[anomalyStream]]:
    * (ts, event_id)-sorted within the batch, in-order feed across
    * batches. StreamingSpec pins bigram-count equality with the batch
    * LEAD derivation. */
  def transitionsStream(
      events: DataFrame): org.apache.spark.sql.Dataset[Transition] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events.select(
        col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")), col("event_type"))
      .as[(Long, Long, Long, String)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[String, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[String]) =>
          var prev = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, _, t) =>
            if (prev != null) out += Transition(user, prev, t)
            prev = t
          }
          if (prev != null) state.update(prev)
          out.iterator
      }
  }

  /** One attributed conversion from [[attributionStream]]. */
  final case class Attribution(event_id: Long, user_id: Long, bucket: String)

  /** Streaming twin of `q49_attribution`: last-touch credit assignment
    * with ONE long of state per user — the µs timestamp of their most
    * recent click. A click updates the state; a purchase emits its
    * recency bucket against it (exact integer µs thresholds, the same
    * CASE ladder as the batch window query). The batch IGNORE-NULLS
    * carry-forward window replayed incrementally — state is O(users),
    * independent of stream length, where the batch form re-sorts the
    * full history per run.
    *
    * Ordering contract (same as [[transitionsStream]]/[[anomalyStream]]):
    * rows sorted (ts, event_id) within each micro-batch, batches in
    * per-user event-time order; a straggler click would back-date
    * attributions exactly as it would in any carry-forward window. */
  def attributionStream(
      events: DataFrame): org.apache.spark.sql.Dataset[Attribution] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events.select(
        col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")), col("event_type"))
      .as[(Long, Long, Long, String)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[Long]) =>
          var lastClick = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach {
            case (_, eid, ts, typ) =>
              if (typ == "click") lastClick = ts
              else if (typ == "purchase") {
                val bucket =
                  if (lastClick == Long.MinValue) "organic"
                  else if (ts - lastClick <= 3600L * 1000000) "click_1h"
                  else if (ts - lastClick <= 86400L * 1000000) "click_24h"
                  else "organic"
                out += Attribution(eid, user, bucket)
              }
          }
          if (lastClick != Long.MinValue) state.update(lastClick)
          out.iterator
      }
  }

  /** Per-user funnel progress for [[funnelStream]]: first view µs, first
    * QUALIFYING click µs (strictly after the view), purchase emitted. */
  final case class FunnelState(fv: Long, fqc: Long, done: Boolean)

  /** One first-time stage qualification from [[funnelStream]]. */
  final case class FunnelStage(user_id: Long, stage: String)

  /** Streaming twin of `q33_funnel`'s ordered view→click→purchase
    * qualification: emits (user, stage) exactly ONCE when a user first
    * reaches each stage — state is two timestamps and a flag per user,
    * where the batch form re-runs two full-history windows. Distinct
    * stage counts over the emissions equal the batch funnel's
    * u_view/u_click/u_purchase (StreamingSpec pins it; same ordering
    * contract as the other stateful twins). */
  def funnelStream(
      events: DataFrame): org.apache.spark.sql.Dataset[FunnelStage] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val NoTs = Long.MinValue
    val keyed = events.select(
        col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")), col("event_type"))
      .as[(Long, Long, Long, String)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelStage](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(NoTs, NoTs, false))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelStage]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, ts, typ) =>
            typ match {
              case "view" if st.fv == NoTs =>
                st = st.copy(fv = ts); out += FunnelStage(user, "view")
              case "click" if st.fv != NoTs && st.fv < ts && st.fqc == NoTs =>
                st = st.copy(fqc = ts); out += FunnelStage(user, "click")
              case "purchase" if st.fqc != NoTs && st.fqc < ts && !st.done =>
                st = st.copy(done = true); out += FunnelStage(user, "purchase")
              case _ =>
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Per-type state for [[twaStream]]: the previous reading, the exact
    * interval mass so far (`num` = Σ v100·Δt as a decimal-string BigInt —
    * it passes 2⁶³ on long streams), and the denominator/interval count. */
  final case class TwaState(lastTs: Long, lastV100: Long, n: Long,
      den: Long, num: String)

  /** One running time-weighted-average snapshot from [[twaStream]]. */
  final case class Twa(event_type: String, n_intervals: Long,
      total_us: Long, twa: Double)

  /** Streaming twin of `q50_twa`: the irregular-sampling time-weighted
    * mean per event type, maintained incrementally — state is one
    * previous reading plus three exact accumulators per type, however
    * long the stream runs (the batch form re-sorts full history). Each
    * arriving event closes its predecessor's holding interval and emits
    * the updated running TWA; the final emission per type equals the
    * batch aggregate EXACTLY (BigInt numerator ≡ the batch DECIMAL(38,0)
    * sum; identical double op sequence; StreamingSpec pins it).
    *
    * Ordering contract as [[anomalyStream]]: (ts, event_id)-sorted within
    * the batch, per-type event-time order across batches. */
  def twaStream(events: DataFrame): org.apache.spark.sql.Dataset[Twa] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val keyed = events.select(col("event_type"), col("event_id").cast("long"),
        unix_micros(col("ts")),
        round(col("value") * lit(100), 0).cast("long"))
      .as[(String, Long, Long, Long)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[TwaState, Twa](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (typ: String, rows: Iterator[(String, Long, Long, Long)],
            state: GroupState[TwaState]) =>
          var st = state.getOption
            .getOrElse(TwaState(Long.MinValue, 0L, 0L, 0L, "0"))
          var num = BigInt(st.num)
          val out = scala.collection.mutable.ArrayBuffer.empty[Twa]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, ts, v) =>
            if (st.lastTs != Long.MinValue) {
              val dt = ts - st.lastTs
              num += BigInt(st.lastV100) * dt
              st = st.copy(n = st.n + 1, den = st.den + dt)
              out += Twa(typ, st.n, st.den,
                round6(num.doubleValue / st.den.toDouble / 100.0))
            }
            st = st.copy(lastTs = ts, lastV100 = v)
          }
          state.update(st.copy(num = num.toString))
          out.iterator
      }
  }

  /** Trailing ring of the last `window` v100 values for [[anomalyStream]]. */
  final case class ZRing(ring: Seq[Long])

  /** One scored event: z vs the trailing window, flagged at the threshold. */
  final case class ZScore(event_id: Long, event_type: String, value: Double,
      z: Double, is_anomaly: Boolean)

  /** Streaming twin of `q44_anomaly`: every event scored against the
    * TRAILING `window` same-type events (current row excluded), state =
    * one integer ring per event type — `window` longs however long the
    * stream runs. Emits a [[ZScore]] for each event with a FULL trailing
    * window (the batch twin's `rn > window` warmup, replayed as "ring
    * full"); z's op sequence and the integer v100 power sums are
    * byte-for-byte the batch query's, so on an in-order feed the z
    * series is IDENTICAL (StreamingSpec pins it).
    *
    * Ordering contract: rows are sorted (ts, event_id) WITHIN each
    * micro-batch, and batches must arrive in per-type event-time order
    * (the replay / ordered-ingest regime, same as the mview stream) —
    * cross-batch stragglers would see a different trailing window than
    * the batch twin, exactly as a late row does in any trailing-window
    * semantics. */
  def anomalyStream(
      events: DataFrame,
      window: Int = 24,
      zThreshold: Double = 3.0): org.apache.spark.sql.Dataset[ZScore] = {
    require(window >= 2 && zThreshold > 0.0)
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val w = window.toDouble
    val keyed = events.select(
        col("event_type"), col("event_id").cast("long"),
        unix_micros(col("ts")), col("value").cast("double"))
      .as[(String, Long, Long, Double)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[ZRing, ZScore](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (typ: String, rows: Iterator[(String, Long, Long, Double)],
            state: GroupState[ZRing]) =>
          var ring = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[ZScore]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, id, _, value) =>
            val v100 = math.round(value * 100)
            if (ring.length == window) {
              var s1 = 0L; var s2 = 0L
              ring.foreach { v =>
                s1 = Math.addExact(s1, v)
                s2 = Math.addExact(s2, Math.multiplyExact(v, v))
              }
              // identical op sequence to the batch twin: every input is
              // an exact integer < 2^53, so each double op is correctly
              // rounded from identical operands. Exact JVM arithmetic,
              // not += / *: the batch twin runs in SQL where ANSI mode
              // RAISES on Long overflow — plain JVM ops would silently
              // wrap here (s1² wraps at |s1| ≈ 3e9) and produce garbage
              // z-scores where batch errors loudly
              val sd100 =
                math.sqrt((w * s2 - Math.multiplyExact(s1, s1)) / (w * w))
              val z = if (sd100 == 0.0) 0.0 else (v100 - s1 / w) / sd100
              out += ZScore(id, typ, value,
                BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
                math.abs(z) > zThreshold)
            }
            ring = (ring :+ v100).takeRight(window)
          }
          state.update(ZRing(ring))
          out.iterator
      }
  }

  /** Per-user running state for [[userRunningStats]]. */
  final case class UserState(nEvents: Long, total: Double)

  /** Emitted row: the user's running totals as of each processed batch. */
  final case class UserSnapshot(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via `flatMapGroupsWithState` (ST4): running
    * per-user counters that survive across micro-batches — the shape for
    * any bespoke state machine (sessionization, CEP, dedup-with-TTL) the
    * built-in windows can't express. State lives in the state store keyed
    * by user; each batch folds its rows in and emits one snapshot. */
  def userRunningStats(events: DataFrame): org.apache.spark.sql.Dataset[UserSnapshot] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserState, UserSnapshot](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          val (n, tot) = rows.foldLeft((prev.nEvents, prev.total)) {
            case ((c, t), (_, v)) => (c + 1, t + v)
          }
          state.update(UserState(n, tot))
          Iterator.single(UserSnapshot(user, n, tot))
      }
  }
}

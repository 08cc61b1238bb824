package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{AnnIvf, AnnPq, Ingest, Knn, Multimodal}

/** End-to-end replica of the reference's ingest lifecycle (SURVEY.md §3.1)
  * with the stub embedder standing in for BioCLIP:
  *
  * raw records → binary payload → (stub) embed → skip-existing anti-join →
  * k-means partition assignment → partitioned parquet write →
  * durable pruned search → enrichment join,
  *
  * i.e. `main()` of vector_db.py + `POST /search` + client merge, as one
  * Spark pipeline with no services. */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("full reference lifecycle: embed → dedup → assign → write → search → enrich") {
    val docs = graft.queries.table(spark, sf0001, "documents")

    // 1. "embed each image" (stub encoder, GPU boundary in the reference)
    val media = Multimodal.withBinaryPayload(docs, "doc_id", "text")
    val embedded = media
      .withColumn("embedding", Multimodal.embedUdf(32)($"payload"))
      .select($"media_id".as("vec_id"), $"embedding")

    // 2. idempotent ingest: second half is "already stored"
    val existing = embedded.filter($"vec_id" >= 250)
    val fresh = Ingest.newRecords(embedded, existing, "vec_id")
    assert(fresh.count() === 250)

    // 3. train + assign + durable partitioned write
    val index = AnnIvf.build(embedded, "vec_id", "embedding", nlist = 8, seed = 7L)
    val dir = Files.createTempDirectory("lifecycle").toString
    AnnIvf.write(index, dir)

    // 4. serve: pruned search for 3 query docs, k=5, nprobe=2
    val durable = AnnIvf.read(spark, dir)
    val queries = embedded.filter($"vec_id" < 3)
    val hits = AnnIvf.searchPruned(durable, queries, "vec_id", "embedding",
      k = 5, nprobe = 2, idCol = "vec_id")
    assert(hits.groupBy("query_id").count()
      .filter($"count" =!= 5).count() === 0)
    // self-match ranks first with score ≈ 1 (unit vectors)
    val self = hits.filter($"query_id" === $"vec_id")
    assert(self.count() === 3)
    assert(self.filter($"rank" =!= 1).count() === 0)
    assert(self.filter(abs($"score" - 1.0) > 1e-6).count() === 0)

    // 5. metadata enrichment (the reference's sqlite lookup as a join)
    val enriched = hits.join(docs, hits("vec_id") === docs("doc_id"), "left")
    assert(enriched.filter($"lang".isNull).count() === 0)

    // 6. streaming continuation (ST3): new vectors arrive as a stream and
    // are routed by the SAME frozen centroids into the SAME layout
    val centers = index.centroids.orderBy("partition_id")
      .collect().map(_.getSeq[Float](1).toArray)
    val late = embedded.filter($"vec_id" >= 400)
      .withColumn("vec_id", $"vec_id" + 1000) // "new" ids
    val srcDir = Files.createTempDirectory("ann-stream").toString
    late.repartition(2).write.mode("overwrite").parquet(srcDir)
    val q = graft.streaming.EventStreams.annIngest(
      spark.readStream.schema(late.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      centers, s"$dir/vectors", "vec_id")
    q.awaitTermination(120000)
    val grown = AnnIvf.read(spark, dir)
    assert(grown.assigned.count() === 500 + 100)
    // streamed vectors landed in the same partition the batch assigner picks
    val want = AnnIvf.assignPartitions(late, "embedding", centers)
      .select($"vec_id", $"partition_id".as("want_pid"))
    val mismatch = grown.assigned.filter($"vec_id" >= 1000)
      .join(want, Seq("vec_id"))
      .filter($"partition_id" =!= $"want_pid")
    assert(mismatch.count() === 0)

    // 6b. replaying the whole stream through the Bloom-amortized
    // skip-existing path (one sketch for the stream, per-batch putLong
    // feedback) appends nothing and leaves the layout unchanged
    val q2 = graft.streaming.EventStreams.annIngest(
      spark.readStream.schema(late.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      centers, s"$dir/vectors", "vec_id", bloomExpectedIds = Some(10000L))
    q2.awaitTermination(120000)
    assert(AnnIvf.read(spark, dir).assigned.count() === 600)

    // 7. stub transforms keep the plumbing shape
    val resized = media.withColumn("small", Multimodal.resizeUdf(64, 64)($"payload"))
    assert(resized.filter(length($"small") > length($"payload")).count() === 0)
    val frames = Multimodal.sampleFrames(media, nFrames = 4)
    assert(frames.count() === media.count() * 4)
  }

  test("streaming annIngest into a PACKED layout preserves the stored codec") {
    // the add-after-train flow the reference ships (IVF + SQfp16 storage,
    // storage_impl.py:87,125-144): durable layout written with a codec,
    // stream appends arrive later. Appending RAW float files into a
    // packed dir would fork the parquet schema — the reader infers from
    // ONE footer, so whichever half loses reads its vector column as
    // NULL (silent corruption, not an error). The ingest must pack each
    // micro-batch to the layout's stored codec.
    for (codec <- Seq("fp16", "sq8")) {
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val idx = AnnIvf.build(emb.filter($"vec_id" < 300), "vec_id",
        "embedding", nlist = 3, seed = 7L)
      val dir = Files.createTempDirectory(s"pack$codec").toString
      AnnIvf.write(idx, dir, writeSalt = 2,
        fp16 = codec == "fp16", sq8 = codec == "sq8")
      val centers = idx.centroids.orderBy("partition_id")
        .collect().map(_.getSeq[Float](1).toArray)
      val late = emb.filter($"vec_id" >= 300 && $"vec_id" < 350)
        .withColumn("vec_id", $"vec_id" + 1000)
      val srcDir = Files.createTempDirectory(s"packsrc$codec").toString
      late.write.mode("overwrite").parquet(srcDir)
      val q = graft.streaming.EventStreams.annIngest(
        spark.readStream.schema(late.schema).parquet(srcDir),
        centers, s"$dir/vectors", "vec_id")
      q.awaitTermination(120000)
      // ONE schema on disk: every file carries the packed column
      val stored = spark.read.parquet(s"$dir/vectors")
      assert(stored.columns.exists(_.endsWith(s"__$codec")),
        s"$codec: ${stored.columns.toSeq}")
      assert(!stored.columns.contains("embedding"),
        s"$codec: raw files forked the schema: ${stored.columns.toSeq}")
      // the salted layout keeps one schema too: appends stamp the SAME
      // __salt knnJoin would coalesce a null to, so no file lacks the
      // column and no row reads it back null
      assert(stored.columns.contains("__salt"), stored.columns.toSeq)
      assert(stored.filter($"__salt".isNull).count() === 0,
        s"$codec: appended rows without a stored salt")
      val grown = AnnIvf.read(spark, dir)
      assert(grown.assigned.count() === 350)
      // every row decodes — pre-fix, whichever half lost the schema race
      // read back null vectors
      assert(grown.assigned.filter($"embedding".isNull).count() === 0,
        s"$codec: null vectors after mixed-schema append")
      // appended rows keep the batch assigner's routing
      val want = AnnIvf.assignPartitions(late, "embedding", centers)
        .select($"vec_id", $"partition_id".as("want_pid"))
      assert(grown.assigned.filter($"vec_id" >= 1000L).join(want, Seq("vec_id"))
        .filter($"partition_id" =!= $"want_pid").count() === 0)
    }
  }

  test("annIngest raises on mid-stream layout drift instead of corrupting") {
    // r13 closed the schema-fork NULL-vector bug for the codec the stream
    // SAW AT START; this pins the guard that keeps it closed when the
    // layout changes underneath a LIVE stream: an out-of-band re-write
    // with a different salt (or codec) must kill the stream loudly at the
    // next micro-batch, not append mis-shaped files.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = AnnIvf.build(emb.filter($"vec_id" < 300), "vec_id",
      "embedding", nlist = 3, seed = 7L)
    val dir = Files.createTempDirectory("drift").toString
    AnnIvf.write(idx, dir, writeSalt = 2, fp16 = true)
    val centers = idx.centroids.orderBy("partition_id")
      .collect().map(_.getSeq[Float](1).toArray)
    val late = emb.filter($"vec_id" >= 300 && $"vec_id" < 340)
      .withColumn("vec_id", $"vec_id" + 1000)
    val srcDir = Files.createTempDirectory("driftsrc").toString
    late.repartition(2).write.mode("overwrite").parquet(srcDir)
    val q = graft.streaming.EventStreams.annIngest(
      spark.readStream.schema(late.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      centers, s"$dir/vectors", "vec_id",
      onBatch = bid =>
        // batch 0 appends normally; before batch 1 an operator re-writes
        // the layout with a DIFFERENT salt — the drift the guard exists for
        if (bid == 1L) AnnIvf.write(idx, dir, writeSalt = 4, fp16 = true))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("drifted mid-stream")),
      messages(err).mkString(" | "))
    // the rewritten layout is intact — every row decodes, nothing forked
    val after = AnnIvf.read(spark, dir)
    assert(after.assigned.filter($"embedding".isNull).count() === 0)
  }

  test("assertLayoutUnchanged catches codec, bounds, and sidecar drift") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = AnnIvf.build(emb.filter($"vec_id" < 200), "vec_id",
      "embedding", nlist = 2, seed = 7L)
    // codec drift: fp16 at snapshot → sq8 after
    val d1 = Files.createTempDirectory("drift-codec").toString
    AnnIvf.write(idx, d1, writeSalt = 2, fp16 = true)
    val s1 = AnnIvf.layoutSnapshot(spark, s"$d1/vectors")
    AnnIvf.assertLayoutUnchanged(spark, s"$d1/vectors", s1) // happy path
    AnnIvf.write(idx, d1, writeSalt = 2, sq8 = true)
    val e1 = intercept[RuntimeException] {
      AnnIvf.assertLayoutUnchanged(spark, s"$d1/vectors", s1)
    }
    assert(e1.getMessage.contains("codec fp16 -> sq8"), e1.getMessage)
    // sq8 retrained-bounds drift: same codec name, different bounds
    val d2 = Files.createTempDirectory("drift-bounds").toString
    AnnIvf.write(idx, d2, writeSalt = 2, sq8 = true)
    val s2 = AnnIvf.layoutSnapshot(spark, s"$d2/vectors")
    AnnIvf.assertLayoutUnchanged(spark, s"$d2/vectors", s2)
    val scaled = AnnIvf.Index(
      idx.assigned.withColumn("embedding",
        transform($"embedding", x => x * lit(2.0f))),
      idx.centroids, idx.writeSalt, idx.nlist, idx.maxPid)
    AnnIvf.write(scaled, d2, writeSalt = 2, sq8 = true)
    val e2 = intercept[RuntimeException] {
      AnnIvf.assertLayoutUnchanged(spark, s"$d2/vectors", s2)
    }
    assert(e2.getMessage.contains("sq8 trained bounds changed"), e2.getMessage)
    // a sidecar APPEARING after a raw-dir snapshot is drift too (an
    // out-of-band write() landed where only raw appends were expected)
    val d3 = Files.createTempDirectory("drift-meta").toString
    val s3 = AnnIvf.layoutSnapshot(spark, s"$d3/vectors")
    assert(!s3.hasMeta)
    AnnIvf.assertLayoutUnchanged(spark, s"$d3/vectors", s3)
    AnnIvf.write(idx, d3, writeSalt = 2)
    val e3 = intercept[RuntimeException] {
      AnnIvf.assertLayoutUnchanged(spark, s"$d3/vectors", s3)
    }
    assert(e3.getMessage.contains("meta sidecar appeared"), e3.getMessage)
    // rebalance is NOT drift: codec and salt are preserved bit-stably
    val d4 = Files.createTempDirectory("drift-rebal").toString
    AnnIvf.write(idx, d4, writeSalt = 2, sq8 = true)
    val s4 = AnnIvf.layoutSnapshot(spark, s"$d4/vectors")
    AnnIvf.rebalance(spark, d4, "vec_id", "embedding", maxCellRows = 60L)
    AnnIvf.assertLayoutUnchanged(spark, s"$d4/vectors", s4)
  }

  test("annIngest stamps __salt even into a writeSalt=1 layout") {
    // write() stores a __salt column at EVERY salt (pmod(x,1)=0), so an
    // append lacking the column forks the parquet schema exactly like the
    // raw-into-packed bug — the stamp is keyed on sidecar presence, not
    // salt > 1 (ADVICE r13)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = AnnIvf.build(emb.filter($"vec_id" < 300), "vec_id",
      "embedding", nlist = 3, seed = 7L)
    val dir = Files.createTempDirectory("salt1").toString
    AnnIvf.write(idx, dir, writeSalt = 1)
    val centers = idx.centroids.orderBy("partition_id")
      .collect().map(_.getSeq[Float](1).toArray)
    val late = emb.filter($"vec_id" >= 300 && $"vec_id" < 350)
      .withColumn("vec_id", $"vec_id" + 1000)
    val srcDir = Files.createTempDirectory("salt1src").toString
    late.write.mode("overwrite").parquet(srcDir)
    graft.streaming.EventStreams.annIngest(
      spark.readStream.schema(late.schema).parquet(srcDir),
      centers, s"$dir/vectors", "vec_id").awaitTermination(120000)
    val stored = spark.read.parquet(s"$dir/vectors")
    assert(stored.count() === 350)
    assert(stored.columns.contains("__salt"))
    assert(stored.filter($"__salt".isNull).count() === 0,
      "appended rows missing the stored salt column")
    assert(stored.filter($"__salt" =!= 0).count() === 0,
      "pmod(x, 1) must stamp 0 everywhere")
  }

  test("annIngest reports the sq8 out-of-bounds fraction per micro-batch") {
    // the clamp signal: sq8 appends outside the trained bounds saturate
    // silently at code 0/255 — the opt-in per-batch metric makes that
    // drift observable (ADVICE r13)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = AnnIvf.build(emb.filter($"vec_id" < 300), "vec_id",
      "embedding", nlist = 3, seed = 7L)
    val dir = Files.createTempDirectory("oob").toString
    AnnIvf.write(idx, dir, writeSalt = 2, sq8 = true)
    val centers = idx.centroids.orderBy("partition_id")
      .collect().map(_.getSeq[Float](1).toArray)
    // batch of DRIFTED vectors: ×100 pushes all but the near-zero
    // elements outside the trained per-dim bounds
    val late = emb.filter($"vec_id" >= 300 && $"vec_id" < 350)
      .withColumn("vec_id", $"vec_id" + 1000)
      .withColumn("embedding", transform($"embedding", x => x * lit(100.0f)))
    val srcDir = Files.createTempDirectory("oobsrc").toString
    late.write.mode("overwrite").parquet(srcDir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    graft.streaming.EventStreams.annIngest(
      spark.readStream.schema(late.schema).parquet(srcDir),
      centers, s"$dir/vectors", "vec_id",
      onSq8OutOfBounds = Some((bid, frac) => seen.synchronized {
        seen += ((bid, frac)); ()
      })).awaitTermination(120000)
    assert(seen.nonEmpty, "metric callback never fired")
    assert(seen.forall { case (_, f) => f > 0.5 && f <= 1.0 }, seen.toSeq)
    // and an IN-BOUNDS append reports EXACTLY 0: vectors the bounds were
    // trained on (fresh ids) cannot fall strictly outside them
    val inb = emb.filter($"vec_id" >= 100 && $"vec_id" < 110)
      .withColumn("vec_id", $"vec_id" + 5000)
    val srcDir2 = Files.createTempDirectory("oobsrc2").toString
    inb.write.mode("overwrite").parquet(srcDir2)
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[Double]
    graft.streaming.EventStreams.annIngest(
      spark.readStream.schema(inb.schema).parquet(srcDir2),
      centers, s"$dir/vectors", "vec_id",
      onSq8OutOfBounds = Some((_, frac) => seen2.synchronized {
        seen2 += frac; ()
      })).awaitTermination(120000)
    assert(seen2.nonEmpty && seen2.forall(_ === 0.0), seen2.toSeq)
  }

  test("a rewrite racing the IN-FLIGHT append is detected within the same batch") {
    // the pre-append check is check-then-act: a rewrite landing while the
    // append runs still gets this batch's files durable under the old
    // contract. The post-append re-check turns that from
    // silent-until-something-reads-NULLs into a same-batch raise — and
    // covers the FINAL batch, which no later batch would ever re-check.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = AnnIvf.build(emb.filter($"vec_id" < 300), "vec_id",
      "embedding", nlist = 3, seed = 7L)
    val dir = Files.createTempDirectory("driftpost").toString
    AnnIvf.write(idx, dir, writeSalt = 2, fp16 = true)
    val centers = idx.centroids.orderBy("partition_id")
      .collect().map(_.getSeq[Float](1).toArray)
    val late = emb.filter($"vec_id" >= 300 && $"vec_id" < 340)
      .withColumn("vec_id", $"vec_id" + 1000)
    val srcDir = Files.createTempDirectory("driftpostsrc").toString
    late.coalesce(1).write.mode("overwrite").parquet(srcDir) // ONE batch
    val q = graft.streaming.EventStreams.annIngest(
      spark.readStream.schema(late.schema).parquet(srcDir),
      centers, s"$dir/vectors", "vec_id",
      onAppended = _ =>
        AnnIvf.write(idx, dir, writeSalt = 4, fp16 = true))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("drifted mid-stream")),
      messages(err).mkString(" | "))
    assert(messages(err).exists(_.contains("overlapped this batch's append")),
      messages(err).mkString(" | "))
  }

  test("a packed or salted layout with NO sidecar refuses appends") {
    // a write() that crashes between its vectors and meta stages leaves
    // packed/__salt columns in the stored files with no sidecar to key
    // the append contract on — snapshotting it for appends must raise,
    // not silently append unpacked/unstamped rows into the fork
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = AnnIvf.build(emb.filter($"vec_id" < 200), "vec_id",
      "embedding", nlist = 2, seed = 7L)
    def fsDelete(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    // fp16-packed, sidecar gone
    val d1 = Files.createTempDirectory("halfwritten-fp16").toString
    AnnIvf.write(idx, d1, writeSalt = 2, fp16 = true)
    fsDelete(s"$d1/meta")
    val e1 = intercept[RuntimeException] {
      AnnIvf.layoutSnapshot(spark, s"$d1/vectors")
    }
    assert(e1.getMessage.contains("no meta sidecar"), e1.getMessage)
    // raw codec but salted files, sidecar gone — same fork via __salt
    val d2 = Files.createTempDirectory("halfwritten-salt").toString
    AnnIvf.write(idx, d2, writeSalt = 2)
    fsDelete(s"$d2/meta")
    val e2 = intercept[RuntimeException] {
      AnnIvf.layoutSnapshot(spark, s"$d2/vectors")
    }
    assert(e2.getMessage.contains("no meta sidecar"), e2.getMessage)
    // a NEVER-written dir stays a fine append target (first append
    // defines the layout)
    val d3 = Files.createTempDirectory("halfwritten-raw").toString
    val s3 = AnnIvf.layoutSnapshot(spark, s"$d3/vectors")
    assert(s3.codec === AnnIvf.StorageCodec.Raw && !s3.hasMeta)
  }

  test("an UNKNOWN stored codec name raises instead of defaulting to raw") {
    // forward-compat: a layout packed by a newer engine must refuse
    // appends from this one — defaulting the unknown name to raw would
    // re-open the raw-into-packed NULL-vector fork
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = AnnIvf.build(emb.filter($"vec_id" < 200), "vec_id",
      "embedding", nlist = 2, seed = 7L)
    val dir = Files.createTempDirectory("unknown-codec").toString
    AnnIvf.write(idx, dir, writeSalt = 2)
    val snapBefore = AnnIvf.layoutSnapshot(spark, s"$dir/vectors")
    val doctored = spark.read.parquet(s"$dir/meta")
      .withColumn("codec", lit("pq9")).collect()
    val schema = spark.read.parquet(s"$dir/meta").schema
    spark.createDataFrame(java.util.Arrays.asList(doctored: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val e1 = intercept[RuntimeException] {
      AnnIvf.layoutSnapshot(spark, s"$dir/vectors")
    }
    assert(e1.getMessage.contains("unknown stored codec 'pq9'"), e1.getMessage)
    // a LIVE stream's drift check must also refuse it, not pass it as raw
    val e2 = intercept[RuntimeException] {
      AnnIvf.assertLayoutUnchanged(spark, s"$dir/vectors", snapBefore)
    }
    assert(e2.getMessage.contains("unknown stored codec 'pq9'"), e2.getMessage)
  }

  test("drift check on a LEGACY sidecar (no codec column) never false-raises") {
    // layouts written before r13 persisted the codec name lack the sidecar
    // `codec` column; assertLayoutUnchanged must fall back to footer
    // inference for those instead of raising — a live stream over an old
    // layout keeps running across upgrades
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = AnnIvf.build(emb.filter($"vec_id" < 200), "vec_id",
      "embedding", nlist = 2, seed = 7L)
    val dir = Files.createTempDirectory("legacy-meta").toString
    AnnIvf.write(idx, dir, writeSalt = 2, fp16 = true)
    // strip the codec column in place — the pre-r13 sidecar shape
    val legacy = spark.read.parquet(s"$dir/meta").drop("codec").collect()
    val legacySchema = spark.read.parquet(s"$dir/meta").drop("codec").schema
    spark.createDataFrame(
        java.util.Arrays.asList(legacy: _*), legacySchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val snap = AnnIvf.layoutSnapshot(spark, s"$dir/vectors")
    assert(snap.codec === AnnIvf.StorageCodec.Fp16)
    assert(snap.writeSalt === 2 && snap.hasMeta)
    // the happy path must NOT raise: the fallback infers fp16 from the
    // vectors footer and matches the snapshot
    AnnIvf.assertLayoutUnchanged(spark, s"$dir/vectors", snap)
    // and real drift is still caught through the fallback
    AnnIvf.write(idx, dir, writeSalt = 2, sq8 = true)
    val legacy2 = spark.read.parquet(s"$dir/meta").drop("codec").collect()
    val legacySchema2 = spark.read.parquet(s"$dir/meta").drop("codec").schema
    spark.createDataFrame(
        java.util.Arrays.asList(legacy2: _*), legacySchema2)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[RuntimeException] {
      AnnIvf.assertLayoutUnchanged(spark, s"$dir/vectors", snap)
    }
    assert(e.getMessage.contains("codec fp16 -> sq8"), e.getMessage)
  }

  test("sq8 drift metric rides the append: zero extra Spark jobs when enabled") {
    // the metric is a CollectMetrics node (Dataset.observe) on the append's
    // own pass, not a second aggregation job over the batch — proven the
    // AnnMaintainSpec way: count scheduler jobs for two IDENTICAL ingests
    // (same source, bit-identical layouts), callback off vs on, and assert
    // the counts are EQUAL.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = AnnIvf.build(emb.filter($"vec_id" < 300), "vec_id",
      "embedding", nlist = 3, seed = 7L)
    val dirs = Seq.fill(2)(Files.createTempDirectory("oobjobs").toString)
    dirs.foreach(d => AnnIvf.write(idx, d, writeSalt = 2, sq8 = true))
    val centers = idx.centroids.orderBy("partition_id")
      .collect().map(_.getSeq[Float](1).toArray)
    val late = emb.filter($"vec_id" >= 300 && $"vec_id" < 350)
      .withColumn("vec_id", $"vec_id" + 1000)
    val srcDir = Files.createTempDirectory("oobjobssrc").toString
    late.coalesce(1).write.mode("overwrite").parquet(srcDir)
    def jobsFor(dir: String, cb: Option[(Long, Double) => Unit]) =
      SpecUtil.jobsOf(spark) {
        graft.streaming.EventStreams.annIngest(
          spark.readStream.schema(late.schema).parquet(srcDir),
          centers, s"$dir/vectors", "vec_id", onSq8OutOfBounds = cb)
          .awaitTermination(120000)
      }
    val offJobs = jobsFor(dirs(0), None)
    val (off, on) = (offJobs.size, jobsFor(dirs(1), Some((_, _) => ())).size)
    // the micro-batches run on the stream's own thread: a recorder that
    // missed its jobs would compare the caller's jobs only, or 0 = 0
    assert(off > 0, "no job of the ingest was attributed")
    assert(offJobs.exists(_.getProperty("sql.streaming.queryId") != null),
      "no job of the stream thread was attributed")
    assert(on === off,
      s"enabling the drift metric scheduled extra jobs: off=$off on=$on")
  }

  test("compact collapses micro-batch file storms, preserves rows + pruning layout") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = AnnIvf.build(emb.filter($"vec_id" < 200), "vec_id", "embedding",
      nlist = 4, seed = 42L)
    val dir = Files.createTempDirectory("compact").toString + "/vectors"
    // 5 appends = 5 files per touched partition
    (0 until 5).foreach { i =>
      val slice = AnnIvf.assignPartitions(
        emb.filter($"vec_id" >= i * 100 && $"vec_id" < (i + 1) * 100),
        "embedding",
        index.centroids.orderBy("partition_id").collect().map(_.getSeq[Float](1).toArray))
      Ingest.appendNew(spark, slice, dir, "vec_id", "partition_id")
    }
    val rowsBefore = spark.read.parquet(dir).count()
    val sumBefore = spark.read.parquet(dir).agg(sum($"vec_id")).as[Long].head()
    val (before, after) = Ingest.compact(spark, dir, "partition_id")
    assert(before > after, s"before=$before after=$after")
    assert(after <= 4) // one file per partition
    val got = spark.read.parquet(dir)
    assert(got.count() === rowsBefore)
    assert(got.agg(sum($"vec_id")).as[Long].head() === sumBefore)
    // layout still partition-pruned
    assert(got.columns.contains("partition_id"))
  }

  test("compact never drops a concurrent append landing mid-swap") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = AnnIvf.build(emb.filter($"vec_id" < 200), "vec_id", "embedding",
      nlist = 4, seed = 42L)
    val centers = index.centroids.orderBy("partition_id")
      .collect().map(_.getSeq[Float](1).toArray)
    def slice(lo: Int, hi: Int) = AnnIvf.assignPartitions(
      emb.filter($"vec_id" >= lo && $"vec_id" < hi), "embedding", centers)
    val dir = Files.createTempDirectory("compact-race").toString + "/vectors"
    (0 until 3).foreach(i => Ingest.appendNew(
      spark, slice(i * 100, (i + 1) * 100), dir, "vec_id", "partition_id"))
    // a concurrent micro-batch races into the staged-rewrite → swap window
    Ingest.compact(spark, dir, "partition_id",
      onStaged = () =>
        Ingest.appendNew(spark, slice(300, 400), dir, "vec_id", "partition_id"))
    val got = spark.read.parquet(dir)
    assert(got.count() === 400, "late append must survive the swap")
    assert(got.select("vec_id").distinct().count() === 400)
    // and a follow-up pass folds the recovered stragglers in normally
    val (b2, a2) = Ingest.compact(spark, dir, "partition_id")
    assert(b2 >= a2)
    assert(spark.read.parquet(dir).count() === 400)
  }

  test("streaming PQ ingest appends codes identical to the batch encoder") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val base = emb.filter($"vec_id" < 300)
    val index = AnnIvf.build(base, "vec_id", "embedding", nlist = 4, seed = 42L)
    val cb = AnnPq.train(base, "embedding", m = 8, ksub = 16, seed = 7L)
    val dir = Files.createTempDirectory("pq-ingest").toString
    val encoded = AnnPq.encode(index, cb, "vec_id", "embedding")
    AnnPq.write(encoded, cb, dir)
    encoded.unpersist()

    // stream 100 new vectors (fresh ids) through the frozen models
    val centers = index.centroids.orderBy("partition_id")
      .collect().map(_.getSeq[Float](1).toArray)
    val late = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding")
    val srcDir = Files.createTempDirectory("pq-src").toString
    late.write.mode("overwrite").parquet(srcDir)
    val q = graft.streaming.EventStreams.annIngestPq(
      spark.readStream.schema(late.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      centers, cb, s"$dir/codes", "vec_id")
    q.awaitTermination(120000)

    val (codes, cb2) = AnnPq.read(spark, dir)
    assert(codes.count() === 300 + 100)
    // streamed codes equal what the batch encoder computes for the same rows
    val want = AnnIvf.assignPartitions(late, "embedding", centers)
      .select($"vec_id", $"partition_id".as("want_pid"),
        AnnPq.encodeUdf(cb2)($"embedding").as("want_code"))
    val mismatch = codes.filter($"vec_id" >= 10000)
      .join(want, Seq("vec_id"))
      .filter($"partition_id" =!= $"want_pid" || $"pq_code" =!= $"want_code")
    assert(mismatch.count() === 0)
  }
}

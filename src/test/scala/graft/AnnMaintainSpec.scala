package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AnnIvf

/** Index maintenance: hot-cell splitting under the add-after-train
  * regime. The invariants that matter: the corpus is untouched (same
  * ids, same count), cold cells keep their ids, balance improves, and
  * exhaustive search (nprobe = nlist) is EXACTLY unchanged — splitting
  * relabels cells, it must never change what a full probe can see. */
class AnnMaintainSpec extends SparkSpec {
  import spark.implicits._

  private def mk(center: Array[Double], n: Int, base: Long, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = center.map(c => c + rnd.nextGaussian() * 0.05)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (base + i, v.map(x => (x / norm).toFloat).toSeq)
    }
  }

  private def toVecDf(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))

  /** Three balanced, well-separated direction clusters in dim 4. */
  private lazy val corpus: DataFrame = toVecDf(
    mk(Array(1, 0, 0, 0), 40, 0L, 7) ++
      mk(Array(0, 1, 0, 0), 40, 1000L, 8) ++
      mk(Array(0, 0, 1, 0), 40, 2000L, 9))

  /** The add-after-train drift scenario: build on the balanced corpus,
    * then append 300 more cluster-0 rows assigned against the FROZEN
    * centroids (what streaming ingest does) — one cell goes hot. */
  private lazy val drifted: (AnnIvf.Index, DataFrame) = {
    val idx0 = AnnIvf.build(corpus, "vec_id", "embedding", nlist = 3,
      seed = 11L, trainSize = 120)
    val centers = idx0.centroids.orderBy("partition_id")
      .as[(Int, Seq[Float])].collect().map(_._2.toArray)
    val extra = toVecDf(mk(Array(1, 0, 0, 0), 300, 5000L, 13))
    val full = corpus.unionByName(extra)
    val assignedExtra = AnnIvf.assignPartitions(extra, "embedding", centers)
      .select(idx0.assigned.columns.map(col): _*)
    (AnnIvf.Index(idx0.assigned.unionByName(assignedExtra), idx0.centroids),
      full)
  }

  private def cellSizes(ix: AnnIvf.Index): Map[Int, Long] =
    ix.assigned.groupBy("partition_id").count()
      .as[(Int, Long)].collect().toMap

  private def searchSet(ix: AnnIvf.Index, full: DataFrame,
      nprobe: Int): Set[(Long, Long, Double)] = {
    val q = full.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    AnnIvf.search(ix, q, "qid", "embedding", k = 5, nprobe = nprobe)
      .select(col("query_id").cast("long"), col("vec_id").cast("long"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
  }

  test("splitHotCells rebalances the drifted hot cell and preserves exact search") {
    val (idx, full) = drifted
    val before = cellSizes(idx)
    assert(before.values.max > 200, s"drift setup failed: $before")
    val split = AnnIvf.splitHotCells(idx, "vec_id", "embedding", maxCellRows = 200)
    assert(split.centroids.count() === 4)
    assert(split.assigned.count() === full.count())
    assert(split.assigned.select("vec_id").distinct().count() === full.count())
    val after = cellSizes(split)
    assert(after.values.max < before.values.max,
      s"hot cell did not shrink: before=$before after=$after")
    // cold cells keep their ids and sizes
    val hotId = before.maxBy(_._2)._1
    before.filter(_._1 != hotId).foreach { case (pid, n) =>
      assert(after(pid) === n, s"cold cell $pid changed size")
    }
    // exhaustive probe sees the identical result set before and after
    assert(searchSet(split, full, nprobe = 4) === searchSet(idx, full, nprobe = 3))
  }

  test("no cell above the cap returns the index unchanged (data-wise), metadata carried") {
    val (idx, _) = drifted
    // `drifted` is constructed WITHOUT metadata (nlist = -1), so the no-op
    // early return pays one bounded count — and must hand the paid scalar
    // forward instead of discarding it (ADVICE r13): assigned/centroids
    // are the very same DataFrames, nlist is now known
    val out = AnnIvf.splitHotCells(idx, "vec_id", "embedding",
      maxCellRows = 100000)
    assert(out.assigned eq idx.assigned)
    assert(out.centroids eq idx.centroids)
    assert(out.nlist === 3L)
    // an index that ALREADY carries metadata comes back reference-identical
    val (ia, _, _) = halves
    assert(AnnIvf.splitHotCells(ia, "vec_id", "embedding",
      maxCellRows = 100000) eq ia)
  }

  test("split of a durable fp16+salted index round-trips through write/read") {
    val (idx, full) = drifted
    val dir = java.nio.file.Files.createTempDirectory("splitdurable").toString
    AnnIvf.write(idx, dir, writeSalt = 4, fp16 = true)
    val durable = AnnIvf.read(spark, dir)
    val split = AnnIvf.splitHotCells(durable, "vec_id", "embedding", maxCellRows = 200)
    assert(split.writeSalt === 4)
    // the stored __salt column and fp16 decode survive the reassignment
    assert(split.assigned.columns.contains("__salt"))
    val out = java.nio.file.Files.createTempDirectory("splitout").toString
    AnnIvf.write(split, out, writeSalt = 4, fp16 = true)
    val reread = AnnIvf.read(spark, out)
    assert(reread.centroids.count() === 4)
    assert(reread.assigned.count() === full.count())
    // exhaustive search on the re-read split index equals the original
    // durable index (both fp16-quantized, so scores are comparable)
    assert(searchSet(reread, full, nprobe = 4) === searchSet(durable, full, nprobe = 3))
  }

  test("splitting is deterministic for a fixed seed") {
    val (idx, _) = drifted
    def centroidsOf(ix: AnnIvf.Index): Seq[(Int, Seq[Float])] =
      ix.centroids.orderBy("partition_id")
        .as[(Int, Seq[Float])].collect().toSeq
    val a = centroidsOf(AnnIvf.splitHotCells(idx, "vec_id", "embedding", 200, seed = 5L))
    val b = centroidsOf(AnnIvf.splitHotCells(idx, "vec_id", "embedding", 200, seed = 5L))
    assert(a === b)
  }

  /** Hand-built index: `cells` = (partition_id, rows); centroids as given.
    * Lets specs shape pathological cell contents without fighting build's
    * own k-means. */
  private def mkIndex(cells: Seq[(Int, Seq[(Long, Seq[Float])])],
      centroids: Seq[(Int, Seq[Double])]): AnnIvf.Index = {
    val assigned = cells.flatMap { case (pid, rows) =>
      rows.map { case (id, v) => (id, v, pid) }
    }.toDF("vec_id", "embedding", "partition_id")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val cents = centroids.toDF("partition_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    AnnIvf.Index(assigned, cents)
  }

  test("a value-identical hot cell is left whole — no empty sibling, no centroid creep") {
    // 300 copies of the same vector: 2-means seeds two distinct INDICES
    // but the centers are value-equal, so a naive split would create an
    // empty sibling and a duplicate centroid on EVERY maintenance pass
    val same = (0 until 300).map(i => (i.toLong, Seq(0f, 1f, 0f, 0f)))
    val cold = mk(Array(0, 0, 1, 0), 40, 9000L, 3)
    val idx = mkIndex(Seq(0 -> same, 1 -> cold),
      Seq(0 -> Seq(0.0, 1.0, 0.0, 0.0), 1 -> Seq(0.0, 0.0, 1.0, 0.0)))
    val once = AnnIvf.splitHotCells(idx, "vec_id", "embedding", maxCellRows = 200)
    // left whole data-wise; the no-op return carries the paid scalars
    // (nlist/maxPid) instead of discarding them (ADVICE r13)
    assert(once.assigned eq idx.assigned, "degenerate cell must be left whole")
    assert(once.centroids eq idx.centroids)
    assert(once.nlist === 2L && once.maxPid === 1)
    // an iterated maintenance loop converges instead of appending
    // duplicate centroids forever — and with metadata now carried, the
    // second pass is reference-identical (no more scalars to learn)
    val twice = AnnIvf.splitHotCells(once, "vec_id", "embedding", maxCellRows = 200)
    assert(twice eq once)
    assert(twice.centroids.count() === 2)
  }

  test("seeded hash sampling separates an id-correlated bimodal hot cell") {
    // the drifting-stream trap the r6 verdict flagged: ids correlate with
    // content (mode A arrived first, mode B after), so "first sampleSize
    // ids" would sample ONLY mode A and 2-means could never see B; the
    // xxhash64(id, seed) sample order mixes both modes regardless of
    // arrival order
    def modal(dir: Double, n: Int, base: Long, seed: Int) =
      mk(Array(1, dir, 0, 0), n, base, seed)
    val hot = modal(0.3, 300, 0L, 21) ++ modal(-0.3, 300, 300L, 22)
    val cold = mk(Array(0, 0, 1, 0), 40, 9000L, 3)
    val idx = mkIndex(Seq(0 -> hot, 1 -> cold),
      Seq(0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 0.0, 1.0, 0.0)))
    val split = AnnIvf.splitHotCells(idx, "vec_id", "embedding",
      maxCellRows = 400, sampleSize = 256)
    assert(split.centroids.count() === 3)
    // purity: each mode lands (almost) wholly in one child — the split
    // found the bimodal structure, not a chance cut through one mode
    val byChild = split.assigned.filter(col("partition_id") =!= 1)
      .select(col("partition_id").cast("int"), col("vec_id").cast("long"))
      .as[(Int, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byChild.size === 2, s"expected 2 children, got ${byChild.keySet}")
    val purities = byChild.values.map { ids =>
      val a = ids.count(_ < 300).toDouble
      math.max(a, ids.length - a) / ids.length
    }
    assert(purities.forall(_ >= 0.9),
      s"children mixed the modes: purities=$purities")
  }

  test("durable rebalance recovers a concurrent mid-pass append losslessly") {
    val (idx, full) = drifted
    val dir = java.nio.file.Files.createTempDirectory("rebalance").toString
    AnnIvf.write(idx, dir, writeSalt = 4)
    val centers = idx.centroids.orderBy("partition_id")
      .as[(Int, Seq[Float])].collect().map(_._2.toArray)
    // the racing appender: a streaming annIngest micro-batch that lands
    // AFTER rebalance snapshots its input file list (the exact window
    // compact()'s discipline exists for)
    val late = toVecDf(mk(Array(0, 1, 0, 0), 10, 7000L, 17))
    var appended = false
    val stats = AnnIvf.rebalance(spark, dir, "vec_id", "embedding",
      maxCellRows = 200,
      onStaged = () => {
        val assigned = AnnIvf.assignPartitions(late, "embedding", centers)
        graft.operators.Ingest.appendNew(
          spark, assigned, s"$dir/vectors", "vec_id", "partition_id")
        appended = true
      })
    assert(appended)
    assert(stats.lateFilesRecovered >= 1L,
      s"late append was not recovered: $stats")
    assert(stats.cellsAfter === stats.cellsBefore + 1) // one hot cell split
    assert(stats.hotAfter < stats.hotBefore)
    val published = AnnIvf.read(spark, dir)
    // every original row AND every late row, exactly once
    assert(published.assigned.count() === full.count() + 10)
    assert(published.assigned.select("vec_id").distinct().count() ===
      full.count() + 10)
    assert(published.assigned.filter(col("vec_id") >= 7000L &&
      col("vec_id") < 7010L).count() === 10)
    // the published layout still round-trips the exhaustive-search
    // contract (late rows excluded: they are NEW corpus the original
    // index never saw, so they may rightly appear as new neighbors)
    val publishedOriginal = AnnIvf.Index(
      published.assigned.filter(col("vec_id") < 7000L),
      published.centroids, published.writeSalt)
    assert(searchSet(publishedOriginal, full, nprobe = 4) ===
      searchSet(idx, full, nprobe = 3))
  }

  test("durable rebalance of an sq8 layout preserves the codec bit-stably") {
    // pre-r13 this threw an unresolved-column AnalysisException (only
    // fp16 was decoded) — and a naive fix that re-TRAINS bounds on the
    // decoded values would drift the codec on every pass; the rewrite
    // must reuse the layout's original bounds
    val (idx, full) = drifted
    val dir = java.nio.file.Files.createTempDirectory("rebalance-sq8").toString
    AnnIvf.write(idx, dir, writeSalt = 2, sq8 = true)
    val before = AnnIvf.read(spark, dir)
    // materialize NOW: rebalance swaps the directory out from under
    // `before`'s lazy scan
    val beforeSet = searchSet(before, full, nprobe = 3)
    val beforeCount = before.assigned.count()
    val stats = AnnIvf.rebalance(spark, dir, "vec_id", "embedding",
      maxCellRows = 200)
    assert(stats.cellsAfter === stats.cellsBefore + 1)
    assert(stats.hotAfter < stats.hotBefore)
    val published = AnnIvf.read(spark, dir)
    // codec survived: packed column on disk, decoded on read, SAME bounds
    assert(spark.read.parquet(s"$dir/vectors").columns
      .exists(_.endsWith("__sq8")))
    val m0 = spark.read.parquet(s"$dir/meta").head()
    assert(m0.schema.fieldNames.contains("sq8_vmin"))
    // bit-stable: every decoded vector is unchanged (split only relabels
    // partition_id), so exhaustive search is exactly the pre-split set
    assert(searchSet(published, full, nprobe = 4) === beforeSet)
    assert(published.assigned.count() === beforeCount)
  }

  test("rebalance with nothing hot is a no-op on disk") {
    val (idx, _) = drifted
    val dir = java.nio.file.Files.createTempDirectory("rebalance-noop").toString
    AnnIvf.write(idx, dir, writeSalt = 2)
    val before = new java.io.File(s"$dir/vectors").lastModified()
    val stats = AnnIvf.rebalance(spark, dir, "vec_id", "embedding",
      maxCellRows = 1000000)
    assert(stats.cellsAfter === stats.cellsBefore)
    assert(stats.hotBefore === 0L && stats.hotAfter === 0L)
    assert(stats.lateFilesRecovered === 0L)
    assert(new java.io.File(s"$dir/vectors").lastModified() === before)
  }

  /** Federated-build combine: each half trains its own IVF on a disjoint
    * corpus slice; merge must serve the union with no recall loss. */
  private lazy val halves: (AnnIvf.Index, AnnIvf.Index, DataFrame) = {
    val a = toVecDf(mk(Array(1, 0, 0, 0), 60, 0L, 21) ++
      mk(Array(0, 1, 0, 0), 60, 1000L, 22))
    val b = toVecDf(mk(Array(0, 0, 1, 0), 60, 5000L, 23) ++
      mk(Array(0, 0, 0, 1), 60, 6000L, 24))
    (AnnIvf.build(a, "vec_id", "embedding", nlist = 2, seed = 31L, trainSize = 120),
      AnnIvf.build(b, "vec_id", "embedding", nlist = 2, seed = 32L, trainSize = 120),
      a.unionByName(b))
  }

  test("merge: disjoint partition ids, union centroids, no rows lost") {
    val (ia, ib, full) = halves
    val m = AnnIvf.merge(ia, ib)
    assert(m.centroids.count() === 4)
    assert(m.centroids.select("partition_id").distinct().count() === 4)
    assert(m.assigned.count() === full.count())
    // every b partition renumbered above a's max; a's untouched
    val aIds = ia.centroids.select("partition_id").as[Int].collect().toSet
    val mIds = m.centroids.select("partition_id").as[Int].collect().toSet
    assert(aIds.subsetOf(mIds))
    assert((mIds -- aIds).forall(_ > aIds.max))
  }

  test("merge: exhaustive search over the merged index equals brute force") {
    val (ia, ib, full) = halves
    val m = AnnIvf.merge(ia, ib)
    val got = searchSet(m, full, nprobe = 4)
    // brute force over the union: exact top-5 by dot product
    val q = full.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = q.crossJoin(full)
      .withColumn("score", graft.functions.VectorOps.dot(col("qv"), col("embedding")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(desc("score"), asc("vec_id"))))
      .filter(col("rn") <= 5)
      .select(col("qid").cast("long"), col("vec_id").cast("long"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got === brute)
  }

  test("merge: partial probe finds cross-half neighbors; durable round-trip") {
    val (ia, ib, full) = halves
    val m = AnnIvf.merge(ia, ib)
    // queries from b's clusters, nprobe=1: the probed cell must be one of
    // b's renumbered cells (the union argmax finds the right half)
    val q = full.filter(col("vec_id") >= 5000L && col("vec_id") % 41 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val hits = AnnIvf.search(m, q, "qid", "embedding", k = 3, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(hits.nonEmpty && hits.forall(_ >= 5000L),
      "nprobe=1 over the merged index should stay inside b's clusters")
    val dir = java.nio.file.Files.createTempDirectory("mergedidx").toString
    AnnIvf.write(m, dir, writeSalt = 2)
    val reread = AnnIvf.read(spark, dir)
    assert(searchSet(reread, full, nprobe = 4) === searchSet(m, nprobe = 4, full = full))
  }

  test("serve-cap contract: read and merge reject an over-cap centroid table loudly") {
    // the cap logic itself, exercised with a tiny injected cap (the
    // default 2^20 wiring is one line in read/merge); a clean table of
    // the same size passes
    val five = spark.range(5).selectExpr(
      "cast(id as int) as partition_id",
      "array(cast(id as float)) as centroid")
    AnnIvf.requireServeableNlist(five, "test index", cap = 5)
    val err = intercept[IllegalArgumentException] {
      AnnIvf.requireServeableNlist(five, "test index", cap = 4)
    }
    assert(err.getMessage.contains("nlist > 4"), err.getMessage)
    assert(err.getMessage.contains("driver-collected"), err.getMessage)
    // and the real entry points run the default-cap check (smoke: a
    // small merge passes through it without tripping)
    val (idx, _) = drifted
    val dir = java.nio.file.Files.createTempDirectory("servecap").toString
    AnnIvf.write(idx, s"$dir/ix")
    val rt = AnnIvf.read(spark, s"$dir/ix")
    assert(rt.centroids.count() == idx.centroids.count())
  }

  test("mergeStrict rejects overlapping id spaces") {
    val (ia, _, _) = halves
    intercept[IllegalArgumentException] {
      AnnIvf.mergeStrict(ia, ia)
    }
  }

  // ---- serve-cap threading: the guard fires AT each maintenance entry
  // point, driven by a tiny injected cap (a 2^20-cell fixture being
  // impractical was exactly the r12 gap — the checks were placement-
  // verified only)

  test("serve cap fires inside merge when the union would cross it") {
    val (ia, ib, _) = halves // 2 + 2 cells
    val err = intercept[IllegalArgumentException] {
      AnnIvf.merge(ia, ib, cap = 3)
    }
    assert(err.getMessage.contains("merged index"), err.getMessage)
    assert(AnnIvf.merge(ia, ib, cap = 4).nlist === 4L) // boundary passes
  }

  test("serve cap fires inside splitHotCells when growth crosses it") {
    val (idx, _) = drifted // 3 cells, one hot → would grow to 4
    val err = intercept[IllegalArgumentException] {
      AnnIvf.splitHotCells(idx, "vec_id", "embedding", maxCellRows = 200,
        cap = 3)
    }
    assert(err.getMessage.contains("splitHotCells"), err.getMessage)
    // boundary passes and carries exact metadata
    val ok = AnnIvf.splitHotCells(idx, "vec_id", "embedding",
      maxCellRows = 200, cap = 4)
    assert(ok.nlist === 4L)
  }

  test("serve cap fires inside rebalance and leaves the layout untouched") {
    val (idx, _) = drifted
    val dir = java.nio.file.Files.createTempDirectory("rebalance-cap").toString
    AnnIvf.write(idx, dir, writeSalt = 2)
    val before = new java.io.File(s"$dir/vectors").lastModified()
    intercept[IllegalArgumentException] {
      AnnIvf.rebalance(spark, dir, "vec_id", "embedding",
        maxCellRows = 200, cap = 3)
    }
    // the raise happened before staging/publish: the durable layout is
    // exactly as written
    assert(new java.io.File(s"$dir/vectors").lastModified() === before)
    assert(AnnIvf.read(spark, dir).centroids.count() === 3)
    // an over-cap index already AT rest is rejected on the way in too
    intercept[IllegalArgumentException] {
      AnnIvf.rebalance(spark, dir, "vec_id", "embedding",
        maxCellRows = 200, cap = 2)
    }
  }

  // ---- nlist/maxPid metadata: carried arithmetic must match the data

  test("index metadata (nlist/maxPid) is exact across build/write/read/merge/split") {
    val (ia, ib, _) = halves
    assert(ia.nlist === 2L && ia.maxPid === 1)
    val m = AnnIvf.merge(ia, ib)
    assert(m.nlist === m.centroids.count())
    assert(m.maxPid === m.centroids.agg(max("partition_id")).head().getInt(0))
    val dir = java.nio.file.Files.createTempDirectory("metaidx").toString
    AnnIvf.write(m, dir, writeSalt = 2)
    val rt = AnnIvf.read(spark, dir)
    assert(rt.nlist === 4L && rt.maxPid === m.maxPid)
    val (idx, _) = drifted
    val split = AnnIvf.splitHotCells(idx, "vec_id", "embedding",
      maxCellRows = 200)
    assert(split.nlist === split.centroids.count())
    assert(split.maxPid ===
      split.centroids.agg(max("partition_id")).head().getInt(0))
  }

  test("a legacy meta sidecar without nlist falls back to the bounded count") {
    val (idx, _) = drifted
    val dir = java.nio.file.Files.createTempDirectory("legacymeta").toString
    AnnIvf.write(idx, dir, writeSalt = 2)
    // rewrite the meta sidecar in the pre-r13 shape (write_salt only)
    Seq(2).toDF("write_salt").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    val rt = AnnIvf.read(spark, dir)
    assert(rt.writeSalt === 2)
    assert(rt.nlist === 3L) // recovered by the bounded count
    assert(rt.maxPid === -1) // unknown — recomputed lazily if ever needed
    // and a metadata-less index still merges correctly via the fallbacks
    val m = AnnIvf.merge(rt, rt)
    assert(m.nlist === 6L)
    assert(m.centroids.select("partition_id").distinct().count() === 6L)
  }

  test("degenerate-split no-op carries nlist AND maxPid forward") {
    // a hot cell of value-identical vectors cannot split (the r12 guard),
    // so splitHotCells takes the splits-empty early return — which by
    // then has paid BOTH scalars (bounded count + centroid max) and must
    // carry both (ADVICE r13)
    val flat = toVecDf((0L until 300L).map(i =>
      (i, Seq(1f, 0f, 0f, 0f))))
    val idx0 = AnnIvf.build(flat, "vec_id", "embedding", nlist = 1,
      seed = 5L, trainSize = 50)
    val bare = AnnIvf.Index(idx0.assigned, idx0.centroids) // strip metadata
    val out = AnnIvf.splitHotCells(bare, "vec_id", "embedding",
      maxCellRows = 100)
    assert(out.assigned eq bare.assigned)
    assert(out.nlist === 1L)
    assert(out.maxPid === 0)
  }

  // ---- metadata-carried cap checks cost no Spark job (mechanical proof)

  test("merge over metadata-carrying indexes schedules ZERO Spark jobs") {
    // the r13 claim made un-regressable: with nlist/maxPid carried,
    // merge's cap re-check and renumbering are pure arithmetic. Counted
    // with a job-group-tagged listener; a sentinel job flushes the FIFO
    // listener bus so "zero observed" is deterministic, not a race.
    val (ia, ib, _) = halves
    assert(ia.nlist >= 0 && ia.maxPid >= 0) // carried from build
    var m: AnnIvf.Index = null
    val jobs = SpecUtil.jobsOf(spark) { m = AnnIvf.merge(ia, ib) }
    assert(jobs.isEmpty, s"metadata merge scheduled ${jobs.size} Spark job(s)")
    assert(m.nlist === ia.nlist + ib.nlist)
    // legacy control: stripped metadata must pay the bounded counts —
    // the detector sees jobs when jobs happen
    val la = AnnIvf.Index(ia.assigned, ia.centroids, ia.writeSalt)
    val lb = AnnIvf.Index(ib.assigned, ib.centroids, ib.writeSalt)
    assert(SpecUtil.jobsOf(spark)(AnnIvf.merge(la, lb)).nonEmpty,
      "legacy merge should have paid bounded counts (negative control)")
  }
}

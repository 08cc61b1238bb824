package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType,
  IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorOps

/** IVF-style partitioned approximate nearest-neighbor index — the
  * reference's core layout re-expressed Spark-first.
  *
  * Reference semantics reproduced (SURVEY.md §0, §3):
  *  - k-means centroids = the "leader" index
  *    (reference: storage/faiss_utils.py:156-160, storage_impl.py:120-144);
  *  - every vector assigned to its nearest centroid's partition
  *    (faiss_utils.py:110-111);
  *  - at query time, probe the `nprobe` most similar partitions
  *    (neighborhood_server.py:181-185, 202), exact top-k inside each probed
  *    partition (163-170, 209-219), hierarchical merge to the global top-k
  *    (297-301; client/nearest_neighbor_client.py:62-72) — ranked by
  *    DESCENDING similarity (the stated intent; the reference's
  *    ascending-sort merge is a documented bug, SURVEY.md §2.6).
  *
  * Spark realization: the partitioned Parquet table IS the index —
  * `partitionBy("partition_id")` gives partition pruning where the
  * reference hand-rolls `local_{p}.index` files; the centroid table is
  * collected and probed on the driver (it is `nlist × dim`, tiny by
  * construction); scan tasks are the shard servers, each keeping a
  * k-bounded heap per query, and the driver's merge of those heaps is the
  * scatter-gather client ([[ProbeTopK]]). At 100 TB the only wide exchange
  * is the one-time repartition on `partition_id` at build; every search
  * touches `nprobe/nlist` of the data via `PartitionFilters` and ships at
  * most k rows per query per task to the merge.
  */
object AnnIvf {

  /** The built index: vectors with partition assignments + the centroid
    * "leader" table (partition_id, centroid). `writeSalt` > 1 on a durable
    * index means `assigned` carries a stored `__salt` column in [0,
    * writeSalt) — the skew-spreading sub-key (k-means partitions are
    * skewed by construction; the reference has no answer to this).
    *
    * `nlist`/`maxPid` are the centroid table's exact row count and max
    * partition_id, carried as metadata so the serve-cap contract and
    * [[merge]]'s renumbering are pure arithmetic instead of Spark jobs —
    * a fold-merge over many shards would otherwise recount the whole
    * accumulated centroid-union lineage on every step. −1 means "not yet
    * known" (ad-hoc/test construction); every library path populates
    * them, and the fallback is a one-time bounded count. */
  final case class Index(
      assigned: DataFrame, centroids: DataFrame, writeSalt: Int = 1,
      nlist: Long = -1L, maxPid: Int = -1)

  /** `nlist = ⌊10·√N⌋` — the reference's partition-count heuristic
    * (reference: storage/storage_impl.py:82). */
  def defaultNlist(datasetSize: Long): Int =
    math.max(1, math.floor(10 * math.sqrt(datasetSize.toDouble)).toInt)

  /** Parse the reference's CLI partition-subset spec `"1,2,5-10"` into a
    * sorted, de-duplicated id list (reference:
    * query/neighborhood_server.py:353-365 — U3). Used with
    * `assigned.filter($"partition_id".isin(...))` to serve a shard subset. */
  def parsePartitionSpec(spec: String): Seq[Int] =
    spec.split(",").iterator.map(_.trim).filter(_.nonEmpty).flatMap { part =>
      part.split("-", 2) match {
        case Array(single) => Seq(single.toInt)
        case Array(lo, hi) => lo.trim.toInt to hi.trim.toInt
      }
    }.toSeq.distinct.sorted

  /** Local-training cost is O(points · k · dim · iters) single-threaded,
    * so the driver-local Lloyd's path is only right when points·k is small
    * — NOT merely when the sample is small (a 70k-point, k=1414 sample is
    * 6×10¹² FLOPs locally but parallelizes fine in MLlib; measured 116 s
    * vs distributed). */
  val LocalTrainOpsThreshold = 4000000L // points · k

  /** Hard ceiling on serveable nlist: 2²⁰ centers × 64-d floats ≈ 270 MB
    * driver-collected/broadcast per probe — enforced at [[build]],
    * [[read]], and [[merge]] (every way an Index enters a session). */
  val ServeNlistCap: Int = 1 << 20

  /** Train k-means on a bounded sample (the reference trains on a
    * `50·nlist` prefix, storage_impl.py:83; we sample for better statistics
    * — SURVEY.md §4) and assign every vector to its nearest centroid.
    *
    * The returned [[Index.assigned]] is the LAZY assignment pass: a
    * mapPartitions over `vectors` that scores every vector against every
    * centroid. Nothing is cached, so every [[search]] / [[searchPruned]] /
    * [[ServingCache]] call over the built index re-reads and re-assigns
    * the whole corpus before its `partition_id` filter can drop a row
    * (a [[write]]/[[read]] index is unaffected: there `partition_id` is a
    * parquet partition column). A caller that serves from a built index
    * should persist `assigned` first, as the benchmark's `corpus_curate`
    * set-up does. */
  def build(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      seed: Long = 42L,
      trainSize: Int = 0): Index = {
    // the centroid table is collected to the driver by every search's
    // probe (AnnIvf.probeQueries scores it there): 2²⁰ centers × 64-d
    // floats ≈ 270 MB is the ceiling of that design
    require(nlist >= 1 && nlist <= ServeNlistCap,
      s"nlist=$nlist outside [1, $ServeNlistCap] — the centroid table " +
        "must stay driver-collectable/broadcastable")
    val spark = vectors.sparkSession
    val trainLimit = if (trainSize > 0) trainSize else 50 * nlist
    val centers: Array[Array[Float]] =
      if (trainLimit.toLong * nlist <= LocalTrainOpsThreshold) {
        val sample = vectors.select(col(vecCol)).limit(trainLimit)
          .collect().map(_.getSeq[Float](0).toArray)
        localKMeans(sample, nlist, seed, maxIter = 10)
      } else {
        // distributed path for reference-scale nlist (⌊10√10M⌋ ⇒ 1.6M rows):
        // block-gemm Lloyd's — no MLlib/BLAS dependency (the container's
        // f2j fallback made the MLlib path the build bottleneck)
        distributedKMeans(
          vectors.select(col(vecCol)).limit(trainLimit),
          vecCol, nlist, seed, maxIter = 5)
      }

    val assigned = assignPartitions(vectors, vecCol, centers)
    val centroidRows = centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    import spark.implicits._
    val centroids = centroidRows.toSeq
      .toDF("partition_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
    Index(assigned, centroids,
      nlist = centers.length.toLong, maxPid = centers.length - 1)
  }

  /** Seeded Lloyd's with deterministic sampling init — the local fast path
    * of [[build]]. Empty clusters re-seed from the sample. */
  private[operators] def localKMeans(
      points: Array[Array[Float]], k: Int, seed: Long, maxIter: Int): Array[Array[Float]] = {
    require(points.nonEmpty, "k-means needs a non-empty training sample")
    val rnd = new java.util.Random(seed)
    val kEff = math.min(k, points.length)
    // init: k distinct random sample points
    val init = rnd.ints(0, points.length).distinct().limit(kEff)
      .toArray.map(i => points(i).clone())
    lloyd(points, init, rnd, maxIter)
  }

  /** Lloyd's from explicit initial centers (OPQ warm-starts each
    * alternation from the previous iteration's codebooks). */
  private[operators] def localKMeansWarm(
      points: Array[Array[Float]], init: Array[Array[Float]], seed: Long,
      maxIter: Int): Array[Array[Float]] =
    lloyd(points, init.map(_.clone()), new java.util.Random(seed), maxIter)

  private def lloyd(
      points: Array[Array[Float]], centers: Array[Array[Float]],
      rnd: java.util.Random, maxIter: Int): Array[Array[Float]] = {
    val dim = points(0).length
    val kEff = centers.length
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Int](kEff)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kEff) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - centers(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < kEff) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centers(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
        } else centers(c) = points(rnd.nextInt(points.length)).clone()
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** Nearest-centroid partition assignment: broadcast the centroid matrix
    * to every task and argmax the inner product (SURVEY.md §2 J1 — no
    * crossJoin, no shuffle). Executes as a blocked gemm
    * ([[CentroidGemm.assign]]) — bit-equal to the scalar reference
    * implementation below (KnnSpec property test). */
  def assignPartitions(
      vectors: DataFrame,
      vecCol: String,
      centers: Array[Array[Float]]): DataFrame =
    CentroidGemm.assign(vectors, vecCol, centers)

  /** Scalar per-row form of [[assignPartitions]] — kept as the semantic
    * reference for the gemm kernel's bit-equality property test. */
  private[graft] def assignPartitionsUdf(
      vectors: DataFrame,
      vecCol: String,
      centers: Array[Array[Float]]): DataFrame = {
    val sc = vectors.sparkSession.sparkContext
    val bc = sc.broadcast(centers)
    val assignUdf = udf { (v: Seq[Float]) =>
      val cs = bc.value
      // same loud dim check as CentroidGemm.assign (bit-parity twins):
      // a truncated dot silently mis-assigns into the durable index
      require(cs.isEmpty || v.length == cs(0).length,
        s"assign: vector dim ${v.length} != centroid dim ${cs(0).length}")
      var best = 0; var bestScore = Double.NegativeInfinity
      var p = 0
      while (p < cs.length) {
        val c = cs(p)
        var s = 0.0; var i = 0
        val n = math.min(c.length, v.length)
        while (i < n) { s += c(i).toDouble * v(i).toDouble; i += 1 }
        // deterministic tie-break: lowest partition id wins
        if (s > bestScore) { bestScore = s; best = p }
        p += 1
      }
      best
    }
    vectors.withColumn("partition_id", assignUdf(col(vecCol)))
  }

  /** Distributed Lloyd's over the block-gemm kernel: per-task partial
    * (sum, count) accumulators merged by `treeReduce` — one pass over the
    * data per iteration, no MLlib/BLAS (the container's netlib falls back
    * to f2j, which made `ml.clustering.KMeans` ~64 s for 20k×k=1414).
    * Accumulator size is k·dim doubles per task (≈130 MB at reference
    * scale k=31,622 · dim=512 — sized for executor heaps, not the driver).
    *
    * Centers are deterministic given a fixed input partitioning EXCEPT for
    * floating-point merge order in `treeReduce` (same caveat as MLlib);
    * routing quality is insensitive to last-ulp differences and no
    * oracle-checked query uses this path (small-nlist builds take the
    * seeded local fast path). Empty clusters keep their previous center. */
  private[graft] def distributedKMeans(
      train: DataFrame,
      vecCol: String,
      k: Int,
      seed: Long,
      maxIter: Int,
      tol: Double = 1e-4): Array[Array[Float]] = {
    val vecIdx = train.schema.fieldIndex(vecCol)
    val data = train.rdd
      .map(r => CentroidGemm.toFloatArray(r.getSeq[Float](vecIdx)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var centers = data.takeSample(withReplacement = false, k, seed)
      require(centers.nonEmpty, "k-means needs a non-empty training set")
      val dim = centers(0).length
      val kEff = centers.length
      var iter = 0
      var moved = Double.MaxValue
      while (iter < maxIter && moved > tol) {
        val bc = data.sparkContext.broadcast(centers)
        val (sums, counts) = data
          .mapPartitions { it =>
            val cs = bc.value
            val kk = cs.length
            val d = cs(0).length
            val flat = new Array[Float](kk * d)
            var c = 0
            while (c < kk) { System.arraycopy(cs(c), 0, flat, c * d, d); c += 1 }
            val sums = new Array[Double](kk * d)
            val counts = new Array[Long](kk)
            it.grouped(CentroidGemm.BlockSize).foreach { block =>
              val b = block.length
              // loud on ragged dims (the CentroidGemm posture): a
              // truncated row would silently pull every centroid toward
              // a partial vector — mis-trained routing with no error
              var rv = 0
              while (rv < b) {
                require(block(rv).length == d,
                  s"distributedKMeans: vector dim ${block(rv).length} != " +
                    s"training dim $d — fix the ragged vector upstream")
                rv += 1
              }
              val best = new Array[Int](b)
              val bestS = Array.fill(b)(Double.NegativeInfinity)
              var c2 = 0
              while (c2 < kk) {
                val off = c2 * d
                var r = 0
                while (r < b) {
                  val v = block(r)
                  var s = 0.0; var i = 0
                  while (i < d) { s += flat(off + i).toDouble * v(i).toDouble; i += 1 }
                  if (s > bestS(r)) { bestS(r) = s; best(r) = c2 }
                  r += 1
                }
                c2 += 1
              }
              var r = 0
              while (r < b) {
                val v = block(r)
                val off = best(r) * d
                var i = 0
                while (i < d) { sums(off + i) += v(i); i += 1 }
                counts(best(r)) += 1
                r += 1
              }
            }
            Iterator.single((sums, counts))
          }
          .treeReduce { case ((s1, c1), (s2, c2)) =>
            var i = 0
            while (i < s1.length) { s1(i) += s2(i); i += 1 }
            var j = 0
            while (j < c1.length) { c1(j) += c2(j); j += 1 }
            (s1, c1)
          }
        bc.destroy()
        moved = 0.0
        val next = new Array[Array[Float]](kEff)
        var c = 0
        while (c < kEff) {
          if (counts(c) > 0) {
            val nc = new Array[Float](dim)
            var d2 = 0.0
            var i = 0
            while (i < dim) {
              nc(i) = (sums(c * dim + i) / counts(c)).toFloat
              val t = nc(i) - centers(c)(i)
              d2 += t * t
              i += 1
            }
            next(c) = nc
            moved = math.max(moved, d2)
          } else next(c) = centers(c)
          c += 1
        }
        centers = next
        iter += 1
      }
      centers
    } finally data.unpersist(blocking = false)
  }

  /** Persist the index as partitioned Parquet — the durable form. One
    * shuffle on partition_id, then partition-pruned reads forever after
    * (replaces the reference's `partition_{p}.npy` + `local_{p}.index` +
    * sqlite sidecar with a single self-describing table). */
  /** fp16 storage convention: the packed column keeps the vector column's
    * name plus this suffix, so `read` can transparently restore it. */
  private val Fp16Suffix = "__fp16"
  private val Sq8Suffix = "__sq8"

  /** `sq8BoundsOpt` lets a maintenance rewrite reuse the layout's
    * ORIGINAL trained bounds instead of re-training on decoded values —
    * decode→re-encode is then bit-stable (decode is the MIDPOINT
    * v = vmin + (code+0.5)·step, and re-encoding floors (v−vmin)/step =
    * code+0.5 back to `code` exactly), so repeated rebalances never
    * drift the codec. */
  def write(index: Index, path: String, writeSalt: Int = 4,
      fp16: Boolean = false, vecCol: String = "embedding",
      sq8: Boolean = false,
      sq8BoundsOpt: Option[graft.functions.SQ8.Bounds] = None): Unit = {
    require(!(fp16 && sq8), "pick ONE storage codec: fp16 or sq8")
    // k-means partitions are skewed by construction (SURVEY.md §7.4); the
    // salt is a STORED column: it spreads each hot partition over
    // `writeSalt` write tasks AND files, and survives as a join sub-key so
    // the search-side co-partitioned join ([[knnJoin]]) can spread a hot
    // partition over `writeSalt` reducers. The on-disk layout
    // (partition_id=... dirs, hence pruning) is unchanged.
    val sq8Bounds =
      if (sq8)
        Some(sq8BoundsOpt.getOrElse(
          graft.functions.SQ8.train(index.assigned, vecCol)))
      else None
    val stored =
      if (fp16)
        // the reference's SQfp16 index compression (storage_impl.py:87):
        // 2 bytes/element at rest, decoded on scan by `read`
        index.assigned.withColumn(s"$vecCol$Fp16Suffix",
          graft.functions.FP16.packCol(col(vecCol))).drop(vecCol)
      else sq8Bounds match {
        // SQ8: 1 byte/element (FAISS QT_8bit); trained per-dim bounds go
        // into the meta sidecar so `read` can restore transparently
        case Some(b) =>
          index.assigned.withColumn(s"$vecCol$Sq8Suffix",
            graft.functions.SQ8.packCol(b, col(vecCol))).drop(vecCol)
        case None => index.assigned
      }
    val salted = stored.withColumn("__salt",
      pmod(xxhash64(stored.columns.map(col): _*), lit(writeSalt)).cast("int"))
    salted
      .repartition(col("partition_id"), col("__salt"))
      .write.mode("overwrite")
      .partitionBy("partition_id")
      .parquet(s"$path/vectors")
    index.centroids.coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val spark = index.centroids.sparkSession
    import spark.implicits._
    // persist nlist/max_pid so `read` can assert the serve cap (and
    // `merge` can renumber) from a scalar instead of a Spark job per
    // session entry; derived with one tiny job here only when the Index
    // was constructed without them
    val nlistOut =
      if (index.nlist >= 0) index.nlist else index.centroids.count()
    val maxPidOut =
      if (index.maxPid >= 0) index.maxPid
      else index.centroids.agg(max("partition_id")).head().getInt(0)
    // the codec NAME rides in the sidecar so a live appender's per-batch
    // drift check ([[assertLayoutUnchanged]]) is one 1-row meta read, not
    // a footer-inference pass over the (arbitrarily large) vectors dir
    val codecName = if (fp16) "fp16" else if (sq8) "sq8" else "raw"
    sq8Bounds match {
      case Some(b) =>
        Seq((writeSalt, nlistOut, maxPidOut, codecName,
            b.vmin.toSeq, b.vmax.toSeq))
          .toDF("write_salt", "nlist", "max_pid", "codec",
            "sq8_vmin", "sq8_vmax")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$path/meta")
      case None =>
        Seq((writeSalt, nlistOut, maxPidOut, codecName))
          .toDF("write_salt", "nlist", "max_pid", "codec").coalesce(1)
          .write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  /** The serving contract behind every probe: the centroid table is
    * driver-collected and broadcast (LocalTableScan build side of the
    * probe theta-join), so its row count must stay within the same cap
    * [[build]] enforces. Indexes can enter a session WITHOUT passing
    * through `build` — a durable [[read]], a shard [[merge]], or
    * [[rebalance]]'s snapshot-pinned load — and [[splitHotCells]] can
    * GROW nlist in-session, so the cap is re-asserted at all four,
    * turning PlanAuditSpec's 100k-row LocalTableScan heuristic into a
    * guaranteed API invariant. The check is a limit-bounded count
    * (never scans more than cap+1 rows). */
  private[graft] def requireServeableNlist(centroids: DataFrame,
      what: String, cap: Int = ServeNlistCap): Unit = {
    val n = centroids.limit(cap + 1).count()
    require(n <= cap,
      s"$what has nlist > $cap (count clipped at ${cap + 1}) — the " +
        "centroid table is driver-collected and broadcast on every " +
        "probe; rebuild with fewer cells or serve the shards separately")
  }

  /** Scalar form of the serve-cap contract — used wherever nlist is
    * already known as metadata (Index field or the meta sidecar), so the
    * check costs no Spark job. */
  private[graft] def requireServeableNlist(nlist: Long, what: String,
      cap: Int): Unit =
    require(nlist <= cap,
      s"$what has nlist $nlist > $cap — the centroid table is " +
        "driver-collected and broadcast on every probe; rebuild with " +
        "fewer cells or serve the shards separately")

  /** The index's exact centroid count: the carried metadata when known,
    * else ONE bounded count (clipped at cap+1 — under the cap the clipped
    * count IS exact, over it the require fires first and the message says
    * the count is clipped, not exact). */
  private def exactNlist(ix: Index, what: String, cap: Int): Long =
    if (ix.nlist >= 0) { requireServeableNlist(ix.nlist, what, cap); ix.nlist }
    else {
      val n = ix.centroids.limit(cap + 1).count()
      require(n <= cap,
        s"$what has nlist > $cap (count clipped at ${cap + 1}) — the " +
          "centroid table is driver-collected and broadcast on every " +
          "probe; rebuild with fewer cells or serve the shards separately")
      n
    }

  /** The index's max partition_id: carried metadata when known, else one
    * tiny agg over the (nlist-sized) centroid table. */
  private def maxPidOf(ix: Index): Int =
    if (ix.maxPid >= 0) ix.maxPid
    else ix.centroids.agg(max("partition_id")).head().getInt(0)

  /** Stored vector codec of a durable layout — what an APPENDER must
    * match: mixed raw/packed files in one vectors dir fork the parquet
    * schema, and the reader (which infers from one footer) silently
    * reads whichever half lost as NULL vectors. */
  sealed trait StorageCodec
  object StorageCodec {
    case object Raw extends StorageCodec
    case object Fp16 extends StorageCodec
    final case class Sq8(bounds: graft.functions.SQ8.Bounds)
      extends StorageCodec
  }

  /** Schema field names of the vectors dir; empty when the dir is absent
    * or holds nothing readable (an empty pre-created dir is "not written
    * yet", same as absent). */
  private def vectorCols(spark: SparkSession, vectorsPath: String)
      : Array[String] = {
    val p = new org.apache.hadoop.fs.Path(vectorsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else
      try spark.read.parquet(vectorsPath).schema.fieldNames
      catch {
        case _: org.apache.spark.sql.AnalysisException => Array.empty
      }
  }

  /** The 1-row meta sidecar sibling of `vectorsPath`, None when absent or
    * unreadable — THE sidecar-read primitive every layout check shares
    * ([[layoutSnapshot]], [[assertLayoutUnchanged]], [[layoutCodec]]). */
  private def readMetaRow(spark: SparkSession, vectorsPath: String)
      : Option[org.apache.spark.sql.Row] = {
    val p = new org.apache.hadoop.fs.Path(vectorsPath)
    val metaPath = new org.apache.hadoop.fs.Path(p.getParent, "meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaPath)) None
    else
      try Some(spark.read.parquet(metaPath.toString).head())
      catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Footer-inference codec from the vectors dir's column names — THE
    * single suffix-matching site (a future codec is added here and in
    * [[codecFromMeta]], nowhere else). sq8 needs its trained bounds,
    * which only the sidecar holds — `metaRow` is by-name so callers that
    * already read it don't pay twice and raw/fp16 never read it. */
  private def inferCodecFromCols(cols: Array[String], vectorsPath: String,
      metaRow: => Option[org.apache.spark.sql.Row]): StorageCodec =
    if (cols.exists(_.endsWith(Fp16Suffix))) StorageCodec.Fp16
    else if (cols.exists(_.endsWith(Sq8Suffix)))
      StorageCodec.Sq8(boundsFromMeta(metaRow.getOrElse(sys.error(
        s"sq8-packed layout at $vectorsPath has no meta sidecar — the " +
          "trained per-dim bounds live there and appends cannot be " +
          "encoded without them"))))
    else StorageCodec.Raw

  /** Detect the stored codec of the vectors dir at `vectorsPath` (the
    * meta sidecar is its sibling, per [[write]]'s layout contract). Raw
    * when the dir doesn't exist yet OR exists but holds no readable data
    * files — the first append defines it either way. An sq8-suffixed dir
    * whose meta sidecar is missing raises a descriptive error (the
    * trained bounds are unrecoverable without it). */
  def layoutCodec(spark: SparkSession, vectorsPath: String): StorageCodec =
    inferCodecFromCols(vectorCols(spark, vectorsPath), vectorsPath,
      readMetaRow(spark, vectorsPath))

  /** Point-in-time append contract of a durable layout: stored codec,
    * write salt, and whether the meta sidecar existed. A live appender
    * ([[graft.streaming.EventStreams.annIngest]]) captures one at stream
    * start and re-asserts it per micro-batch with
    * [[assertLayoutUnchanged]] — an out-of-band re-[[write]] with a
    * different codec or salt would otherwise re-open the mixed-schema
    * NULL-vector corruption the packed-append path closed. */
  final case class LayoutSnapshot(
      codec: StorageCodec, writeSalt: Int, hasMeta: Boolean)

  private def codecTag(c: StorageCodec): String = c match {
    case StorageCodec.Raw => "raw"
    case StorageCodec.Fp16 => "fp16"
    case StorageCodec.Sq8(_) => "sq8"
  }

  /** Per-dim trained sq8 bounds from a meta sidecar row — the single
    * extraction point for [[write]]'s bounds encoding (four call sites:
    * snapshot, drift check, [[read]], [[rebalance]]). */
  private[operators] def boundsFromMeta(m: org.apache.spark.sql.Row)
      : graft.functions.SQ8.Bounds =
    graft.functions.SQ8.Bounds(
      m.getAs[Seq[Float]]("sq8_vmin").toArray,
      m.getAs[Seq[Float]]("sq8_vmax").toArray)

  /** Codec from a sidecar row carrying the persisted codec name; None for
    * LEGACY sidecars written before the name existed (callers fall back
    * to footer inference). An UNKNOWN name raises loudly — defaulting it
    * to raw would let an appender write raw floats into a layout packed
    * by a newer codec, the exact NULL-vector schema fork this family of
    * checks exists to stop. */
  private def codecFromMeta(m: org.apache.spark.sql.Row, where: String)
      : Option[StorageCodec] =
    if (!m.schema.fieldNames.contains("codec")) None
    else Some(m.getAs[String]("codec") match {
      case "raw" => StorageCodec.Raw
      case "fp16" => StorageCodec.Fp16
      case "sq8" => StorageCodec.Sq8(boundsFromMeta(m))
      case other => sys.error(
        s"$where: unknown stored codec '$other' — the layout was written " +
          "by a newer engine; refusing to guess an append format")
    })

  /** One sidecar read serves codec (+bounds), salt, and existence — not
    * three separate reads whose interleavings could mix contracts from
    * two generations of the layout. The vectors footer is only consulted
    * when the sidecar is absent or LEGACY (no codec column). A PACKED or
    * SALTED vectors dir with NO sidecar raises: that is a [[write]] that
    * crashed between its vectors and meta stages, and appending into it
    * would fork the on-disk schema (stored files carry `__salt`/packed
    * columns the append would lack). */
  def layoutSnapshot(spark: SparkSession, vectorsPath: String)
      : LayoutSnapshot = {
    val metaRow = readMetaRow(spark, vectorsPath)
    val codec = metaRow
      .flatMap(codecFromMeta(_, s"layoutSnapshot($vectorsPath)")) match {
      case Some(c) => c
      case None =>
        val cols = vectorCols(spark, vectorsPath)
        val inferred = inferCodecFromCols(cols, vectorsPath, metaRow)
        if (metaRow.isEmpty &&
            (inferred != StorageCodec.Raw || cols.contains("__salt")))
          sys.error(s"layout at $vectorsPath is packed or salted but has " +
            "no meta sidecar — a write() crashed between its vectors and " +
            "meta stages; restore the sidecar (or rewrite the layout) " +
            "before appending, or the appends fork the on-disk schema")
        inferred
    }
    val salt = metaRow.map { r =>
      if (r.schema.fieldNames.contains("write_salt"))
        r.getAs[Int]("write_salt")
      else 1
    }.getOrElse(1)
    LayoutSnapshot(codec, salt, metaRow.isDefined)
  }

  /** Raise iff the layout's append contract drifted from `snap`. Cost per
    * call: one filesystem `exists` plus (when a sidecar exists) one 1-row
    * meta read — never a footer pass over the vectors dir, except for
    * LEGACY sidecars written before the codec name was persisted, which
    * fall back to schema inference (so a pre+post-append pair of checks
    * pays it twice per batch — one [[write]] rewrite persists the codec
    * name and makes every future check 1-row). A missing sidecar that the snapshot
    * HAD is retried briefly before raising: [[rebalance]]'s publish swap
    * leaves a sub-second window where the layout dir is mid-rename, and
    * a rebalance preserves codec+salt by construction, so waiting it out
    * is correct. */
  def assertLayoutUnchanged(spark: SparkSession, vectorsPath: String,
      snap: LayoutSnapshot, context: String = ""): Unit = {
    def metaNow(): Option[org.apache.spark.sql.Row] =
      readMetaRow(spark, vectorsPath)
    var m = metaNow()
    if (snap.hasMeta && m.isEmpty) {
      // possibly rebalance's retire→publish rename window — wait it out
      var tries = 0
      while (m.isEmpty && tries < 20) { Thread.sleep(100); m = metaNow(); tries += 1 }
    }
    def fail(what: String): Nothing = sys.error(
      s"layout at $vectorsPath drifted mid-stream ($what) — an " +
        "out-of-band rewrite changed the append contract; appending " +
        "would fork the on-disk schema into silent NULL vectors. " +
        s"Restart the ingest stream against the new layout.$context")
    (snap.hasMeta, m) match {
      case (false, None) => () // still unwritten/raw-append layout
      case (false, Some(_)) =>
        fail("a meta sidecar appeared after stream start")
      case (true, None) =>
        fail("the meta sidecar disappeared")
      case (true, Some(row)) =>
        val names = row.schema.fieldNames
        val saltNow =
          if (names.contains("write_salt")) row.getAs[Int]("write_salt")
          else 1
        if (saltNow != snap.writeSalt)
          fail(s"write_salt ${snap.writeSalt} -> $saltNow")
        val codecNow: StorageCodec =
          try codecFromMeta(row, s"assertLayoutUnchanged($vectorsPath)")
            .getOrElse(layoutCodec(spark, vectorsPath)) // legacy sidecar
          catch {
            // an unknown persisted codec IS drift here — surface it with
            // the same framing (and post-append remediation context) as
            // every other contract change, not a bare unknown-codec error
            case e: RuntimeException
                if Option(e.getMessage)
                  .exists(_.contains("unknown stored codec")) =>
              fail(e.getMessage)
          }
        if (codecTag(codecNow) != codecTag(snap.codec))
          fail(s"codec ${codecTag(snap.codec)} -> ${codecTag(codecNow)}")
        (codecNow, snap.codec) match {
          case (StorageCodec.Sq8(a), StorageCodec.Sq8(b))
              if !(java.util.Arrays.equals(a.vmin, b.vmin) &&
                java.util.Arrays.equals(a.vmax, b.vmax)) =>
            fail("sq8 trained bounds changed")
          case _ => ()
        }
    }
  }

  /** The durable layout's write salt (meta sidecar sibling of
    * `vectorsPath`), 1 when absent — what an APPENDER consults to stamp
    * `__salt` on appended rows so the dir keeps one schema. */
  def layoutWriteSalt(spark: SparkSession, vectorsPath: String): Int = {
    val p = new org.apache.hadoop.fs.Path(vectorsPath)
    try {
      val m = spark.read
        .parquet(new org.apache.hadoop.fs.Path(p.getParent, "meta").toString)
        .head()
      if (m.schema.fieldNames.contains("write_salt"))
        m.getAs[Int]("write_salt")
      else 1
    } catch { case _: org.apache.spark.sql.AnalysisException => 1 }
  }

  /** Pack `vecCol` to the layout's stored codec so appended files share
    * the on-disk schema ([[layoutCodec]]); sq8 reuses the layout's
    * trained bounds, so the append is encoded exactly like the original
    * write. Raw layouts pass through untouched.
    *
    * sq8 CLAMP CAVEAT: values outside the layout's originally trained
    * per-dim bounds saturate to code 0/255 (the FAISS contract) — an
    * append stream whose distribution drifts past the trained bounds
    * silently degrades its appended vectors. The drift is observable:
    * [[graft.functions.SQ8.oobCountCol]] counts out-of-bounds elements,
    * and `annIngest`'s `onSq8OutOfBounds` callback reports the fraction
    * per micro-batch so an operator can alert and re-train. */
  def packForCodec(df: DataFrame, vecCol: String, codec: StorageCodec)
      : DataFrame = codec match {
    case StorageCodec.Raw => df
    case StorageCodec.Fp16 =>
      df.withColumn(s"$vecCol$Fp16Suffix",
        graft.functions.FP16.packCol(col(vecCol))).drop(vecCol)
    case StorageCodec.Sq8(b) =>
      df.withColumn(s"$vecCol$Sq8Suffix",
        graft.functions.SQ8.packCol(b, col(vecCol))).drop(vecCol)
  }

  def read(spark: SparkSession, path: String): Index = {
    val raw = spark.read.parquet(s"$path/vectors")
    // ONE head() over the 1-row meta sidecar serves salt, sq8 bounds, and
    // the persisted nlist/max_pid scalars
    val meta: Option[org.apache.spark.sql.Row] =
      try Some(spark.read.parquet(s"$path/meta").head())
      catch { case _: org.apache.spark.sql.AnalysisException => None } // pre-salt layout
    def metaField[T](name: String)(get: org.apache.spark.sql.Row => T)
        : Option[T] =
      meta.filter(_.schema.fieldNames.contains(name)).map(get)
    val assigned = raw.columns.find(_.endsWith(Fp16Suffix)) match {
      case Some(packed) =>
        raw.withColumn(packed.dropRight(Fp16Suffix.length),
          graft.functions.FP16.unpackCol(col(packed))).drop(packed)
      case None =>
        raw.columns.find(_.endsWith(Sq8Suffix)) match {
          case Some(packed) =>
            val b = boundsFromMeta(meta.get)
            raw.withColumn(packed.dropRight(Sq8Suffix.length),
              graft.functions.SQ8.unpackCol(b, col(packed))).drop(packed)
          case None => raw
        }
    }
    val writeSalt = metaField("write_salt")(_.getAs[Int]("write_salt"))
      .getOrElse(1)
    val centroids = spark.read.parquet(s"$path/centroids")
    // serve-cap contract: a meta-carried nlist makes this a free scalar
    // check; a pre-nlist layout pays the one bounded count
    val nlist = metaField("nlist")(_.getAs[Long]("nlist")) match {
      case Some(n) =>
        requireServeableNlist(n, s"index at $path", ServeNlistCap); n
      case None =>
        // under the cap the clipped count IS the exact nlist, so even a
        // legacy layout leaves read() with known metadata
        val n = centroids.limit(ServeNlistCap + 1).count()
        requireServeableNlist(n, s"index at $path", ServeNlistCap)
        n
    }
    Index(assigned, centroids, writeSalt, nlist = nlist,
      maxPid = metaField("max_pid")(_.getAs[Int]("max_pid")).getOrElse(-1))
  }

  /** Merge two IVF indexes into one serveable index — the shard-combine
    * step of a federated build (two clusters embed disjoint corpora, each
    * trains locally, the results unify for serving; the reference's
    * single-node FAISS has `merge_from` for the same regime). Centroid-
    * UNION semantics: `b`'s partitions are renumbered above `a`'s max and
    * both centroid sets are kept, so no vector is re-assigned and no
    * recall is lost — probing argmaxes over the union, which can only
    * find a nearer centroid than either half saw alone. The alternative
    * (re-assigning `b` into `a`'s centroids) loses `b`'s cell structure
    * and is strictly worse at equal nprobe.
    *
    * Scale shape: one `max` over `a.centroids` (≤ nlist rows), a constant
    * column-add map over `b` — NO shuffle, NO data movement of `a`, and
    * the result streams straight into [[write]] whose partitionBy lays
    * both halves out together. Serving cost: nprobe is over
    * nlistA + nlistB centroids — callers wanting the original cell count
    * can [[rebalance]] afterwards.
    *
    * Both indexes must share the vector column name and dimension; id
    * spaces must be disjoint (caller's contract, same as [[Ingest]]'s
    * dup-PK discipline — [[mergeStrict]] verifies when paying one
    * semi-join is acceptable). */
  def merge(a: Index, b: Index, cap: Int = ServeNlistCap): Index = {
    // centroid-UNION semantics can only grow nlist, so the serve cap is
    // re-checked where the growth happens — as ARITHMETIC over the
    // carried metadata, never a recount of the accumulated union lineage
    // (a fold-merge over many shards would recompute that union on every
    // step); an Index constructed without metadata pays one bounded
    // count of ITS OWN (pre-union) centroid table here
    val na = exactNlist(a, "merge: left index", cap)
    val nb = exactNlist(b, "merge: right index", cap)
    requireServeableNlist(na + nb, "merged index", cap)
    val offset = maxPidOf(a) + 1
    val bAssigned = b.assigned.withColumn("partition_id",
      (col("partition_id") + lit(offset)).cast("int"))
    val bCentroids = b.centroids.withColumn("partition_id",
      (col("partition_id") + lit(offset)).cast("int"))
    val merged = a.centroids.unionByName(bCentroids)
    Index(
      a.assigned.unionByName(bAssigned),
      merged,
      math.max(a.writeSalt, b.writeSalt),
      nlist = na + nb,
      maxPid = offset + maxPidOf(b))
  }

  /** [[merge]] + an id-disjointness check (one anti-join-shaped count;
    * skips it at 100 TB only if the caller already guarantees key
    * hygiene). Throws on overlap instead of silently serving duplicate
    * ids from both halves. */
  def mergeStrict(a: Index, b: Index, idCol: String = "vec_id",
      cap: Int = ServeNlistCap): Index = {
    val overlap = a.assigned.select(idCol)
      .join(b.assigned.select(idCol), Seq(idCol)).limit(1).count()
    require(overlap == 0L,
      s"mergeStrict: id space overlap on '$idCol' between the two indexes")
    merge(a, b, cap)
  }

  /** IVF index maintenance for the add-after-train regime: split every
    * cell whose row count exceeds `maxCellRows` into two children via a
    * seeded 2-means on a bounded per-cell sample. Streaming ingest
    * ([[graft.streaming.EventStreams.annIngest]]) only ever APPENDS to
    * cells — the reference never re-trains after build
    * (storage_impl.py:125-144) — so a drifting stream grows hot cells
    * without bound and per-probe serving cost degrades linearly;
    * splitting restores balance without a full rebuild.
    *
    * One child keeps the parent's partition id, the sibling gets a fresh
    * id above the current max — cold cells (and any durable
    * `partition_id=` dirs) are untouched. Costs at scale: one count
    * shuffle for sizes, a bounded driver collect (≤ sampleSize·|hot|
    * sample rows), and ONE broadcast map pass over the corpus for
    * reassignment (cold rows pass through; hot rows compare two dot
    * products) — no shuffle of the data. Probing is centroid-argmax as
    * before; at nprobe = nlist results are provably identical
    * (AnnMaintainSpec), and a cell whose sample cannot produce two
    * distinct centers is left whole. */
  def splitHotCells(
      index: Index,
      idCol: String,
      vecCol: String,
      maxCellRows: Long,
      seed: Long = 42L,
      sampleSize: Int = 256,
      cap: Int = ServeNlistCap): Index = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    // entry contract FIRST (same as build/read/merge/rebalance): an
    // already-over-cap index raises here, before any corpus-sized work —
    // and on the no-op early returns below, which are exits from this
    // entry point too
    val baseNlist = exactNlist(index, "splitHotCells: input index", cap)
    // no-op early returns below still carry forward any scalar just paid
    // for (nlist here, maxPid further down) — `copy` keeps the DataFrame
    // references, so callers detecting a no-op by `assigned eq` still can
    def carry(maxPidOpt: Option[Int]): Index =
      if (index.nlist == baseNlist &&
          maxPidOpt.forall(_ == index.maxPid)) index
      else index.copy(nlist = baseNlist,
        maxPid = maxPidOpt.getOrElse(index.maxPid))
    val hotIds = index.assigned.groupBy("partition_id")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxCellRows)
      .select(col("partition_id").cast("int")).as[Int].collect().sorted
    if (hotIds.isEmpty) return carry(None)
    // seeded hash order, NOT id order: the add-after-train regime this
    // operator targets is exactly the one where ids correlate with
    // content (a drifting stream appends newest-last), so "first
    // sampleSize ids" would be a biased sample of the cell and skew the
    // 2-means split; xxhash64(id, seed) is a deterministic shuffle of the
    // cell (id tie-break only for the ~2⁻⁶⁴ hash-collision case)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("partition_id")
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
    val samples = index.assigned
      .filter(col("partition_id").isin(hotIds.toSeq: _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= sampleSize)
      .select(col("partition_id").cast("int"), col(vecCol))
      .as[(Int, Seq[Float])].collect()
      .groupBy(_._1).map { case (pid, rows) => pid -> rows.map(_._2.toArray) }
    val maxId = maxPidOf(index)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      require(a.length == b.length,
        s"rebalance: sampled vector dims differ (${a.length} vs " +
          s"${b.length}) — fix the ragged vector upstream")
      var s = 0.0; var i = 0
      val n = a.length
      while (i < n) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    val splits: Seq[(Int, Array[Float], Array[Float], Int)] =
      hotIds.toSeq.zipWithIndex.flatMap { case (pid, idx) =>
        val pts = samples.getOrElse(pid, Array.empty[Array[Float]])
        if (pts.length < 2) None
        else {
          val cs = localKMeans(pts, 2, seed + pid, maxIter = 10)
          // Degenerate cells stay whole — and `cs.length < 2` alone does
          // not catch them: localKMeans seeds k distinct INDICES, so a
          // cell of value-identical vectors still yields two equal
          // centers, every row would tie back to the parent, and the
          // sibling would be created empty (a duplicate centroid per
          // maintenance pass, forever). Require distinct centers AND at
          // least one sampled row that would actually move.
          if (cs.length < 2 || java.util.Arrays.equals(cs(0), cs(1)) ||
              !pts.exists(p => dot(p, cs(1)) > dot(p, cs(0))))
            None
          else Some((pid, cs(0), cs(1), maxId + 1 + idx))
        }
      }
    if (splits.isEmpty) return carry(Some(maxId))
    val bc = spark.sparkContext.broadcast(
      splits.map(s => s._1 -> ((s._2, s._3, s._4))).toMap)
    val reassign = udf { (pid: Int, v: Seq[Float]) =>
      bc.value.get(pid) match {
        case None => pid
        case Some((ca, cb, sib)) =>
          var da = 0.0; var db = 0.0; var i = 0
          while (i < v.length) {
            val x = v(i).toDouble
            if (i < ca.length) da += x * ca(i)
            if (i < cb.length) db += x * cb(i)
            i += 1
          }
          // tie → parent (the lower id), matching assignPartitions'
          // lowest-partition-wins tie-break
          if (db > da) sib else pid
      }
    }
    val newAssigned = index.assigned.withColumn("partition_id",
      reassign(col("partition_id").cast("int"), col(vecCol)))
    val splitIds = splits.map(_._1)
    val newRows = splits.flatMap { case (pid, ca, cb, sib) =>
      Seq((pid, ca.toSeq), (sib, cb.toSeq))
    }
    val newCentroids = index.centroids
      .filter(!col("partition_id").isin(splitIds: _*))
      .unionByName(newRows.toDF("partition_id", "centroid")
        .withColumn("centroid", col("centroid").cast("array<float>")))
    // growth path: splitting adds one sibling per hot cell, so this is
    // an entry point where nlist can CROSS the serve cap in-session —
    // assert before handing the grown index back (same contract as
    // build/read/merge); arithmetic over carried metadata, no recount
    val grownNlist = baseNlist + splits.size
    requireServeableNlist(grownNlist, "index after splitHotCells", cap)
    Index(newAssigned, newCentroids, index.writeSalt,
      nlist = grownNlist, maxPid = splits.map(_._4).max)
  }

  /** [[rebalance]] report: cell counts before/after, how many cells were
    * over `maxCellRows` before and after the pass, and how many files a
    * concurrent appender landed mid-rebalance that were recovered into
    * the published layout. */
  final case class RebalanceStats(
      cellsBefore: Long,
      cellsAfter: Long,
      hotBefore: Long,
      hotAfter: Long,
      lateFilesRecovered: Long)

  /** One-call durable index maintenance: read the layout at `path`, split
    * hot cells ([[splitHotCells]]), write the rebalanced layout back —
    * with [[Ingest.compact]]'s concurrent-writer discipline, because the
    * add-after-train regime this serves has a live appender (streaming
    * `annIngest`) racing the rewrite:
    *
    *  - the rewrite reads EXACTLY the vector files listed in an up-front
    *    snapshot, not "whatever the directory holds when the scan runs";
    *  - the new layout (vectors + centroids + meta, same fp16/salt
    *    conventions — [[write]]) is staged beside `path` and published by
    *    the directory swap [[Ingest.swap]] that compact uses too;
    *  - any vector file a concurrent appender landed AFTER the snapshot
    *    is moved from the retired dir back into the published layout
    *    before the retired dir is deleted, and an append whose commit
    *    recreates `path` between the swap's two renames gets the staged
    *    layout merged in beside it — a late micro-batch is never
    *    dropped; its rows keep their assigned partition_id (the parent of
    *    any split cell still exists, so late rows stay routable; they are
    *    candidates for the NEXT rebalance pass like any other row).
    *
    * Fixed cost as [[Ingest.compact]]: the snapshot is one
    * [[Ingest.listDataFiles]] walk (no per-file permission lookup) and
    * the pinned read ([[Ingest.readPinned]]) starts no job to relist it.
    *
    * A cell-less no-op (nothing hot, or every hot cell degenerate) leaves
    * the layout untouched. `onStaged` is the test seam between staging
    * and swap — the window a concurrent append races into.
    *
    * Crash posture (same as [[Ingest.compact]]): the publish is two
    * renames, not one atomic op — a crash between them leaves the layout
    * under `.<name>__retired` with nothing deleted; recovery is one
    * manual rename back. A live `annIngest` stream's per-batch drift
    * check retries a missing sidecar briefly (the rename window) and
    * then raises rather than appending into a half-published layout. */
  def rebalance(
      spark: SparkSession,
      path: String,
      idCol: String,
      vecCol: String,
      maxCellRows: Long,
      seed: Long = 42L,
      sampleSize: Int = 256,
      onStaged: () => Unit = () => (),
      cap: Int = ServeNlistCap): RebalanceStats = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(hconf)
    val vectorsDir = new org.apache.hadoop.fs.Path(target, "vectors")
    val snapshot = Ingest.listDataFiles(fs, vectorsDir)
    require(snapshot.nonEmpty, s"rebalance: no vector files at $vectorsDir")
    // snapshot-pinned read of the durable layout (same decode path as
    // `read`, but against the listed files so a mid-pass append is
    // excluded here and recovered by the swap)
    val raw = Ingest.readPinned(spark, vectorsDir, snapshot)
    val metaRow: Option[org.apache.spark.sql.Row] =
      try Some(spark.read.parquet(s"$path/meta").head())
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    def metaField[T](name: String)(get: org.apache.spark.sql.Row => T)
        : Option[T] =
      metaRow.filter(_.schema.fieldNames.contains(name)).map(get)
    val packedCol = raw.columns.find(_.endsWith(Fp16Suffix))
    val sq8Col = raw.columns.find(_.endsWith(Sq8Suffix))
    // the layout's trained bounds: needed to decode AND reused verbatim
    // at the rewrite so decode→re-encode is bit-stable (no codec drift
    // across repeated rebalances)
    val sq8Bounds = sq8Col.map { _ =>
      boundsFromMeta(metaRow.getOrElse(sys.error(
        s"rebalance: sq8-packed layout at $path has no meta sidecar")))
    }
    val assigned = (packedCol, sq8Col) match {
      case (Some(packed), _) =>
        raw.withColumn(packed.dropRight(Fp16Suffix.length),
          graft.functions.FP16.unpackCol(col(packed))).drop(packed)
      case (None, Some(packed)) =>
        raw.withColumn(packed.dropRight(Sq8Suffix.length),
          graft.functions.SQ8.unpackCol(sq8Bounds.get, col(packed)))
          .drop(packed)
      case (None, None) => raw
    }
    val writeSalt = metaField("write_salt")(_.getAs[Int]("write_salt"))
      .getOrElse(1)
    val index = Index(assigned,
      spark.read.parquet(s"$path/centroids"), writeSalt,
      nlist = metaField("nlist")(_.getAs[Long]("nlist")).getOrElse(-1L),
      maxPid = metaField("max_pid")(_.getAs[Int]("max_pid")).getOrElse(-1))
    // rebalance bypasses read() (snapshot-pinned file list), so the
    // serve-cap contract is re-asserted here — this IS an entry point an
    // Index has into a session; exactNlist uses the meta scalar when the
    // layout carries one (no Spark job), else one bounded count
    val cellsBefore = exactNlist(index, s"index at $path (rebalance)", cap)
    def hotCount(ix: Index): Long =
      ix.assigned.groupBy("partition_id").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxCellRows).count()
    val hotBefore = hotCount(index)
    val rebalanced = splitHotCells(index, idCol, vecCol, maxCellRows,
      seed, sampleSize, cap)
    // a no-op split may still return a metadata-enriched copy (carried
    // nlist/maxPid) — the DATA no-op is "assigned untouched"
    if (rebalanced.assigned eq index.assigned)
      return RebalanceStats(cellsBefore, cellsBefore, hotBefore, hotBefore, 0L)
    val staging = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}__rebalancing")
    fs.delete(staging, true)
    write(rebalanced, staging.toString, writeSalt,
      fp16 = packedCol.isDefined, vecCol = vecCol,
      sq8 = sq8Col.isDefined, sq8BoundsOpt = sq8Bounds)
    onStaged()
    val swapped = Ingest.swap(fs, target, staging, "vectors", snapshot, "rebalance")
    val published = read(spark, path)
    // read() always leaves nlist known (meta scalar or the bounded count)
    RebalanceStats(cellsBefore, published.nlist,
      hotBefore, hotCount(published), swapped.late)
  }

  /** One request's centroid probe, computed on the driver by
    * [[probeQueries]]: the collected (`query_id`, `__query_vec`) batch
    * (`queryRows`, schema `querySchema`), the distinct probed partition
    * ids ascending (`partitionIds`) with, aligned, the ascending indices
    * into `queryRows` of the queries that probed each (`probing`), and
    * `pairs`, the same probe as a local relation (`query_id`,
    * `partition_id`, `__query_vec`, `pscore`) of the top-`nprobe`
    * partitions per query. */
  private[graft] final case class Probe(
      spark: SparkSession, queryRows: Array[Row], querySchema: StructType,
      partitionIds: Array[Int], probing: Array[Array[Int]],
      pairRows: java.util.List[Row]) {
    lazy val pairs: DataFrame = spark.createDataFrame(pairRows, StructType(Seq(
      querySchema("query_id"),
      StructField("partition_id", IntegerType, nullable = false),
      querySchema("__query_vec"),
      StructField("pscore", DoubleType, nullable = false))))
    /** The query batch as a local relation (`query_id`, `__query_vec`). */
    def queries: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(queryRows: _*), querySchema)
  }

  /** Centroid probe shared by every serving search — the reference's
    * "leader search first" (neighborhood_server.py:181-185): score the
    * query batch against the centroid table in process, keep the top
    * `nprobe` partitions per query (score descending, then partition_id
    * ascending; none when `nprobe ≤ 0`). Both inputs are driver-bounded:
    * the batch is the broadcast side of every search (serving contract)
    * and the centroid table is capped at [[ServeNlistCap]]. Scoring runs
    * [[CentroidGemm.topProbes]], the kernel [[knnJoin]]'s executor probe
    * uses, so the probe costs no Spark job beyond collecting the two
    * inputs.
    *
    * `q` must carry (`query_id`, `__query_vec: array<float>`). Bad input
    * fails here, naming the query: a null vector, a vector whose dim
    * differs from the centroids', or a duplicated query id (a search
    * groups its results by id, so two vectors under one id would merge
    * into one top-k over both). */
  private[graft] def probeQueries(index: Index, q: DataFrame, nprobe: Int,
      caller: String): Probe = {
    q.schema("__query_vec").dataType match {
      case ArrayType(FloatType, _) =>
      case t => throw new IllegalArgumentException(
        s"$caller: query vectors must be array<float>, got ${t.sql}")
    }
    val rows = q.collect()
    val centers = centerMap(index)
    val pids = centers.keys.toArray.sorted
    val (flat, nlist, dim) = CentroidGemm.flatten(pids.map(centers))
    val seen = new java.util.HashSet[Any]()
    val vecs = rows.map { r =>
      val id = r.get(0)
      require(seen.add(id), s"$caller: duplicate query id $id — each " +
        "query needs a distinct id (results are grouped by it)")
      require(!r.isNullAt(1), s"$caller: query $id has a null vector")
      val v = CentroidGemm.toFloatArray(r.getSeq[Float](1))
      require(nlist == 0 || v.length == dim, s"$caller: query $id has " +
        s"dim ${v.length}, the index centroids have dim $dim")
      v
    }
    val out = new java.util.ArrayList[Row]()
    // per centroid index: the queries that probed it, in query order
    val probing = new Array[scala.collection.mutable.ArrayBuilder.ofInt](nlist)
    val np = math.max(0, math.min(nprobe, nlist))
    vecs.indices.grouped(CentroidGemm.BlockSize).foreach { block =>
      val (top, scores) =
        CentroidGemm.topProbes(block.map(vecs).toArray, flat, nlist, dim, np)
      var j = 0
      while (j < top.length) {
        val qi = block(j / np)
        val r = rows(qi)
        out.add(Row(r.get(0), pids(top(j)), r.get(1), scores(j)))
        if (probing(top(j)) == null)
          probing(top(j)) = new scala.collection.mutable.ArrayBuilder.ofInt
        probing(top(j)) += qi
        j += 1
      }
    }
    val probed = pids.indices.filter(probing(_) != null)
    Probe(q.sparkSession, rows,
      StructType(Seq(q.schema("query_id"), q.schema("__query_vec"))),
      probed.map(pids).toArray, probed.map(probing(_).result()).toArray, out)
  }

  /** Partition-id → centroid array, driver-resident (the leader table is
    * nlist·dim floats — the same bound every probe relies on). */
  private[operators] def centerMap(index: Index): Map[Int, Array[Float]] =
    index.centroids.collect()
      .map(r => r.getAs[Number]("partition_id").intValue ->
        CentroidGemm.toFloatArray(r.getSeq[Float](1)))
      .toMap

  /** Public probe surface: which partitions would `nprobe` touch per
    * query — the tuning observable behind `ann_nprobe_sweep` (the
    * reference exposes the knob but not the measurement). */
  def probePartitions(index: Index, queries: DataFrame, queryIdCol: String,
      vecCol: String, nprobe: Int): DataFrame =
    probeQueries(index,
      queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__query_vec")),
      nprobe, "AnnIvf.probePartitions")
      .pairs.select("query_id", "partition_id")

  /** ANN search: driver probe → one fused scan of the probed partitions
    * → per-query top-k ([[ProbeTopK]]).
    *
    * With `nprobe = nlist` this is exact (equals brute force) — the
    * property test in AnnIvfSpec. Queries stay on the driver (serving
    * contract: the query batch is small; the corpus is the 100 TB side):
    * the probe's partition list becomes a static `partition_id` filter on
    * `index.assigned` (parquet `PartitionFilters` on a durable index), and
    * each scan task scores a row only against the queries that probed its
    * partition, keeping a k-bounded heap per query. A `collect` merges the
    * task heaps on the driver: one scan job, no broadcast, no exchange, no
    * sort. Output: `partition_id`, `query_id`, the candidate columns,
    * `score`, `rank`; ties in `score` rank by ascending `idCol`.
    *
    * With `perPartitionK > 0` the REFERENCE contract is reproduced
    * literally: top-`perPartitionK` within each probed partition first
    * (server-side top_n, neighborhood_server.py:209-216), then the global
    * cap (client truncation, nearest_neighbor_client.py:70-72) — so a
    * query sees at most nprobe·perPartitionK candidates.
    *
    * `candidateFilter` is PRE-FILTERED vector search: the predicate (over
    * the candidate row — metadata columns, id, and `query_id` are all in
    * scope) is applied inside the probed partitions BEFORE scoring and
    * top-k, so the k results all satisfy it (post-filtering top-k instead
    * returns < k rows whenever the filter bites). Conjuncts that read no
    * query column run once per candidate row, below the operator; the
    * rest run per (candidate, query) pair. Selective filters thin the
    * per-cell candidate pool — serve them with a higher nprobe (at
    * nprobe = nlist the result is exactly brute-force-over-the-filtered-
    * corpus, which is what makes `ann_filtered_search` oracle-checkable). */
  def search(
      index: Index,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      perPartitionK: Int = 0,
      candidateFilter: Column = lit(true),
      score: (Column, Column) => Column = VectorOps.dot(_, _)): DataFrame =
    serve(index, queries, queryIdCol, vecCol, k, nprobe, idCol, perPartitionK,
      candidateFilter, score, "AnnIvf.search")

  private def serve(index: Index, queries: DataFrame, queryIdCol: String,
      vecCol: String, k: Int, nprobe: Int, idCol: String, perPartitionK: Int,
      candidateFilter: Column, score: (Column, Column) => Column,
      caller: String): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("__query_vec"))
    val probe = probeQueries(index, q, nprobe, caller)
    val pruned = index.assigned
      .filter(col("partition_id").isin(probe.partitionIds.toSeq: _*))
    ProbeTopK(pruned, probe, idCol, vecCol, k, perPartitionK, candidateFilter,
      score, "ann search: scan+top-k")
  }

  /** Range search: ALL neighbors with score ≥ `minScore` within the
    * probed partitions — the radius/threshold twin of top-k [[search]]
    * (FAISS `range_search`; the reference's serving stack exposes only
    * top-k, neighborhood_server.py:209-216, so a "give me everything at
    * least this similar" caller must over-fetch k and re-filter). Output
    * size is data-dependent, not k-bounded — the probe keeps it ∝
    * nprobe/nlist of the corpus, and there is no ranking: a threshold scan
    * needs no per-query ordering, so the plan is probe → pruned join →
    * filter.
    *
    * At nprobe = nlist this is exact (equals a brute-force threshold
    * join) — which is what makes `knn_range_search` oracle-checkable. */
  def rangeSearch(
      index: Index,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      minScore: Double,
      nprobe: Int,
      idCol: String = "vec_id",
      excludeSelf: Boolean = false,
      score: (Column, Column) => Column = VectorOps.dot(_, _)): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("__query_vec"))
    val probed = probeQueries(index, q, nprobe, "AnnIvf.rangeSearch")
      .pairs.drop("pscore")
    val cands = broadcast(probed).join(index.assigned, Seq("partition_id"))
    val filtered =
      if (excludeSelf) cands.filter(col(idCol) =!= col("query_id"))
      else cands
    filtered
      .withColumn("score", score(col(vecCol), col("__query_vec")))
      .filter(col("score") >= minScore)
      .drop("__query_vec", "__salt")
  }

  /** The reference's VERBOSE response envelope
    * (neighborhood_server.py:323-331): per probed partition, that
    * partition's local top-k as an ordered struct array — the
    * pre-merge scatter-gather shape, one row per (query, partition).
    * The global [[search]] result is the k-bounded merge of exactly
    * these arrays (spec-checked). */
  def searchVerbose(
      index: Index,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id"): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("__query_vec"))
    val probed = probeQueries(index, q, nprobe, "AnnIvf.searchVerbose")
      .pairs.drop("pscore")
    val scored = broadcast(probed)
      .join(index.assigned, Seq("partition_id"))
      .withColumn("score", VectorOps.dot(col(vecCol), col("__query_vec")))
    Knn.topKPerGroup(scored, Seq(col("query_id"), col("partition_id")),
        k, desc("score"), asc(idCol))
      .groupBy("query_id", "partition_id")
      .agg(sort_array(collect_list(
        struct(col("rank"), col(idCol).as("neighbor_id"), col("score"))))
        .as("neighbors"))
  }

  /** Serving-path search against a DURABLE (partitioned-parquet) index:
    * [[search]] with the inner-product score. The probe runs on the driver
    * first ([[probeQueries]] — the reference's "leader search first"
    * sequencing, with no Spark job for the probe itself), and its
    * partition list becomes a STATIC `isin` predicate, so the candidate
    * scan is metadata-only partition pruning (`PartitionFilters` — no file
    * of an unprobed partition is even listed). This is the 100 TB read
    * path: cost ∝ nprobe/nlist of the corpus, like the reference's
    * `local_{p}.index` loads (neighborhood_server.py:209-224) but without
    * a serving tier. A `collect` runs one scan job; over a durable index
    * the request also collects the centroid table and the query batch. */
  def searchPruned(
      index: Index,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      candidateFilter: Column = lit(true)): DataFrame =
    serve(index, queries, queryIdCol, vecCol, k, nprobe, idCol, 0,
      candidateFilter, VectorOps.dot(_, _), "AnnIvf.searchPruned")

  /** Corpus×corpus KNN join: top-k neighbors for EVERY indexed vector —
    * the batch shape of similarity search (each training document gets its
    * nearest neighbors), where the query side is as big as the corpus and
    * can NOT be broadcast.
    *
    * Plan: centroid probe per vector is a broadcast pass (no shuffle) that
    * EXPLODES each vector into its `nprobe` probed partitions; the
    * candidate pairing is then one shuffle-hash join co-partitioned on
    * `partition_id`; per-vector group-limit keeps k. Candidate volume per
    * vector is bounded by the occupancy of its probed partitions — the
    * quadratic blowup of a crossJoin never materializes.
    *
    * With nprobe = nlist this equals brute force per row (KnnSpec).
    *
    * `querySide` restricts WHICH vectors get neighbors (e.g. one ingest
    * batch against the whole corpus — the incremental-backfill shape);
    * the candidate corpus is always the full index. The filter is applied
    * BEFORE the probe, so probe, shuffle, and candidate volume all scale
    * with the filtered side, not the corpus.
    *
    * `candidateFilter` restricts the corpus being searched — the batch
    * form of [[search]]'s pre-filtered serving: it runs on the candidate
    * rows before any pairing/scoring, so all k neighbors satisfy it and
    * the shuffle carries only qualifying rows (FilteredSearchSpec). */
  def knnJoin(
      index: Index,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      excludeSelf: Boolean = true,
      score: (Column, Column) => Column = VectorOps.dot(_, _),
      querySide: Column = lit(true),
      candidateFilter: Column = lit(true)): DataFrame = {
    val candidateBase = index.assigned.filter(candidateFilter)
    val centers = centerMap(index)
    val pids = centers.keys.toArray.sorted
    // corpus-sized probe side → blocked-gemm multi-probe, not a per-row UDF
    val queries = CentroidGemm.probe(
        index.assigned.filter(querySide).select(
          col(idCol).as("query_id"), col(vecCol).as("__query_vec")),
        "__query_vec", pids.map(centers), nprobe, ids = pids)
      .select(col("query_id"), col("__query_vec"),
        explode(col("__probes")).as("partition_id"))
    // skew spreading: on a salted durable layout the probe side explodes
    // over the stored salt domain, so a hot k-means partition hashes to
    // writeSalt reducer keys instead of one straggler. Each vector holds
    // exactly ONE salt value, so the candidate set (and result) is
    // identical to the unsalted join — spec-checked.
    val salted = index.writeSalt > 1 && index.assigned.columns.contains("__salt")
    val joined =
      if (salted) {
        // rows appended after the salted write (streaming annIngest) carry
        // a null salt — re-derive one in-domain so they are never dropped
        val cands = candidateBase
          .select(col("partition_id"),
            coalesce(col("__salt"),
              pmod(xxhash64(col(idCol)), lit(index.writeSalt)).cast("int"))
              .as("__salt"),
            col(idCol), col(vecCol))
        // pin the salted shuffle (REPARTITION_BY_NUM): AQE's byte-based
        // reducer coalescing would fold the salt keys of a FLOP-skewed
        // hot partition back into one task (same finding as
        // cosinePairsViaIndex — measured there: 104 s vs 23 s)
        val parts = queries.sparkSession.sessionState.conf.numShufflePartitions
        queries
          .withColumn("__salt",
            explode(array((0 until index.writeSalt).map(lit): _*)))
          .repartition(parts, col("partition_id"), col("__salt"))
          .join(cands, Seq("partition_id", "__salt"))
          .drop("__salt")
      } else {
        val cands = candidateBase
          .select(col("partition_id"), col(idCol), col(vecCol))
        queries.join(cands, Seq("partition_id"))
      }
    val filtered =
      if (excludeSelf) joined.filter(col(idCol) =!= col("query_id"))
      else joined
    // merge via the algebraic bounded top-k aggregator, NOT a rank window:
    // the window form needs its input sorted per task, and on a skewed
    // partition that sort (tens of millions of candidate rows in one task)
    // IS the straggler; the hash-agg form streams each candidate into a
    // k-bounded buffer with a partial before the exchange, so no task ever
    // sorts or shuffles more than k rows per query.
    TopKAggregator.topK(
      filtered
        .withColumn("score", score(col(vecCol), col("__query_vec")))
        .select(col("query_id"), col(idCol), col("score")),
      "query_id", idCol, "score", k)
  }

  /** Scale path for embedding near-dup: bucket by IVF partition, pair only
    * within a partition (near-dups share a centroid with overwhelming
    * probability), exact-verify the cosine.
    *
    * k-means partitions are skewed by construction (SURVEY.md §7.4), and a
    * within-partition self-join is quadratic in partition occupancy — so
    * the same two guards as the LSH paths (`Dedup.minhashPairs` /
    * `simhashPairs`) apply here:
    *   - skew SPREADING: partitions larger than `targetRowsPerTask` are
    *     sub-bucketed by a stored hash salt; the left side explodes over
    *     the partition's salt domain (the `knnJoin` pattern), so a hot
    *     partition's n²/2 candidate work lands on up to `maxSalt` reducer
    *     keys instead of one straggler task. Each pair still meets exactly
    *     once (right rows carry ONE salt value), so results are identical
    *     to the unsalted join — spec-checked on uniform and 90%-hot
    *     corpora.
    *   - hard CAP: partitions above `maxPartitionRows` are excluded
    *     entirely — a partition that big means the index is undertrained
    *     for the corpus (nlist = ⌊10√N⌋ keeps expected occupancy at
    *     √N/10 ≪ the cap) and its O(rows²) pairing is not a useful
    *     near-dup signal at any budget; retrain with a larger nlist or
    *     route through [[knnJoin]] (k-bounded, never quadratic). */
  def cosinePairsViaIndex(index: Index, idCol: String, vecCol: String,
      threshold: Double,
      targetRowsPerTask: Int = 1 << 12,
      maxSalt: Int = 16,
      maxPartitionRows: Long = 1L << 20): DataFrame = {
    val v = index.assigned.select(
      col("partition_id"), col(idCol).as("id"), col(vecCol).as("vec"))
    val sizes = v.groupBy("partition_id")
      .agg(count(lit(1)).as("__prows"))
      .filter(col("__prows") <= maxPartitionRows)
      .withColumn("__nsalt", greatest(lit(1),
        least(ceil(col("__prows") / lit(targetRowsPerTask)), lit(maxSalt)))
        .cast("int"))
      .select("partition_id", "__nsalt")
    val sized = v.join(broadcast(sizes), Seq("partition_id"))
    val right = sized.select(col("partition_id"),
      pmod(xxhash64(col("id")), col("__nsalt")).cast("int").as("__sb"),
      col("id").as("right_id"), col("vec").as("right_vec"))
    // the explicit repartition pins the shuffle (REPARTITION_BY_NUM):
    // AQE's byte-sized coalescing would otherwise fold the sub-bucket
    // keys back into one reducer — the pair work is FLOP-skewed at tiny
    // byte size (measured: coalesced salted run was as slow as unsalted)
    val parts = v.sparkSession.sessionState.conf.numShufflePartitions
    val left = sized
      .withColumn("__sb", explode(sequence(lit(0), col("__nsalt") - 1)))
      .select(col("partition_id"), col("__sb").cast("int").as("__sb"),
        col("id").as("left_id"), col("vec").as("left_vec"))
      .repartition(parts, col("partition_id"), col("__sb"))
    atLeastRounded(
      left.join(right, Seq("partition_id", "__sb"))
        .filter(col("left_id") < col("right_id")),
      VectorOps.dot(col("left_vec"), col("right_vec")), threshold)
      .select("left_id", "right_id", "score")
  }

  /** `pairs` with `score = round(raw, 6)`, keeping `score >= threshold`.
    * Rounding a double goes through its decimal string, so the raw value
    * is pre-filtered first with a superset of the result: a `raw` below
    * `threshold − 1e-6` rounds to at most `raw + 5e-7`, still below
    * `threshold`. Only the pairs that pass are rounded; the rows kept are
    * exactly those of the rounded filter alone (NaN passes both, as it
    * compares above every value). */
  private[graft] def atLeastRounded(pairs: DataFrame, raw: Column,
      threshold: Double): DataFrame =
    pairs.withColumn("__raw", raw)
      .filter(col("__raw") >= threshold - 1e-6)
      .withColumn("score", round(col("__raw"), 6))
      .filter(col("score") >= threshold)
      .drop("__raw")
}

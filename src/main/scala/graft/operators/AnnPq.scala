package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ: product-quantized vector codes over the IVF partition layout —
  * the standard billion-scale ANN storage design (Jégou/Douze/Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
  * layout FAISS calls `IVFx,PQy`). The reference's compression story tops
  * out at SQfp16 (2 B/dimension, storage_impl.py:87 — our
  * [[graft.functions.FP16]]); PQ stores `m` BYTES per vector (dim/m-dim
  * subspaces, 256 centroids each), e.g. 8 B for a 64-dim embedding — 32×
  * smaller than fp32, the difference between a 100 TB corpus and a 3 TB
  * candidate scan.
  *
  * Spark shape: codebooks are a driver-trained broadcast constant (m·256
  * sub-centroids ≈ 64 KB here — the same bounded-sample train contract as
  * [[AnnIvf.build]]); encode is one UDF pass appending a `binary` code
  * column to the partitioned layout; search probes IVF partitions as
  * usual, scores candidates against a per-query lookup table (ADC —
  * asymmetric distance computation: 1 table lookup + add per subspace
  * instead of dim multiplies), and optionally re-ranks the ADC top-R with
  * exact dots over the full vectors (`refine`), joining only ≤
  * |queries|·R rows back to the fp32 column.
  */
object AnnPq {

  /** Per-subspace codebooks: `centers(s)(c)` is sub-centroid `c` of
    * subspace `s` (an `m × ksub × dsub` tensor). */
  final case class Codebooks(
      dim: Int, m: Int, ksub: Int, centers: Array[Array[Array[Float]]]) {
    def dsub: Int = dim / m
    def codeBytes: Int = m
  }

  /** Train per-subspace codebooks with the seeded local Lloyd's used for
    * small-nlist IVF builds — deterministic for a fixed (sample, seed). */
  def train(
      vectors: DataFrame,
      vecCol: String,
      m: Int,
      ksub: Int = 256,
      seed: Long = 42L,
      sampleLimit: Int = 1 << 14): Codebooks = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // hash-ordered TakeOrdered, not bare limit(): limit takes whatever
    // rows arrive first, which after any shuffle is run-dependent —
    // different sample → different codebooks → a rebuilt index that does
    // not replay. Ordering by the vectors' hash keeps the per-partition
    // top-K shape (never a full sort) and makes the sample a pure
    // function of the corpus VALUES.
    val sample = vectors.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol)), col(vecCol))
      .limit(sampleLimit)
      .as[Seq[Float]].collect().map(CentroidGemm.toFloatArray)
    require(sample.nonEmpty, "AnnPq.train: empty sample")
    trainLocal(sample, m, ksub, seed)
  }

  /** Driver-local PQ training over an in-memory sample (the shared core
    * of [[train]] / [[trainResidual]] / [[trainOpq]]). */
  private def trainLocal(
      sample0: Array[Array[Float]], m: Int, ksub: Int, seed: Long): Codebooks = {
    require(ksub >= 2 && ksub <= 256,
      s"PQ codes are single bytes: need 2 <= ksub <= 256, got $ksub")
    // canonical (lexicographic) order: the seeded init walks the sample
    // array, so codebooks must be a pure function of the sample SET —
    // never of partition fetch order, which is what arrives here.
    // Float.compare, not ==/<: raw float comparison is intransitive on
    // NaN (lt(a,b) and lt(b,a) both false), which TimSort can reject at
    // runtime — one NaN vector in the sample must not abort training
    val sample = sample0.sortWith { (a, b) =>
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n && java.lang.Float.compare(a(i), b(i)) == 0) i += 1
      if (i < n) java.lang.Float.compare(a(i), b(i)) < 0
      else a.length < b.length
    }
    val dim = sample(0).length
    require(dim % m == 0, s"AnnPq.train: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val k = math.min(ksub, sample.length)
    // the m sub-quantizers are independent — train them concurrently
    // (driver cores are otherwise idle during this local phase)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val centers = Await.result(
      Future.sequence((0 until m).toVector.map { s =>
        Future {
          val sub = sample.map(v =>
            java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
          AnnIvf.localKMeans(sub, k, seed + s, maxIter = 10)
        }
      }), Duration.Inf).toArray
    Codebooks(dim, m, k, centers)
  }

  private def encodeVec(cb: Codebooks, v: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](cb.m)
    var s = 0
    while (s < cb.m) {
      val cs = cb.centers(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        var d = 0.0
        var i = 0
        while (i < cb.dsub) {
          val diff = v(s * cb.dsub + i) - cs(c)(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** Nearest sub-centroid per subspace by L2 (the PQ assignment that
    * minimizes quantization error), one byte each. */
  def encodeUdf(cb: Codebooks) = udf { (vec: Seq[Float]) =>
    encodeVec(cb, CentroidGemm.toFloatArray(vec))
  }

  /** RESIDUAL encoding — the faithful FAISS `IVFx,PQy` formulation: codes
    * quantize `v − c(partition(v))`, which has far less energy than `v`
    * itself (the coarse quantizer already explains the centroid part), so
    * the same byte budget quantizes much finer. Scores stay exact-form
    * because inner products decompose linearly:
    * ⟨q, c_p + r̂⟩ = ⟨q, c_p⟩ (the probe's `pscore`) + ⟨q, r̂⟩ (ADC). */
  def encodeResidualUdf(cb: Codebooks,
      centers: org.apache.spark.broadcast.Broadcast[Map[Int, Array[Float]]]) =
    udf { (pid: Int, vec: Seq[Float]) =>
      // broadcast handle, NOT the raw map: a closure-captured center map
      // is nlist·dim floats serialized into EVERY stage's task binary —
      // at the module's own sizing (10·√N centroids) that is GBs of task
      // broadcast per stage instead of one shared broadcast
      val v = CentroidGemm.toFloatArray(vec).clone()
      val c = centers.value(pid)
      var i = 0
      while (i < v.length) { v(i) -= c(i); i += 1 }
      encodeVec(cb, v)
    }

  /** Train codebooks on the RESIDUALS of an assigned index — pair with
    * `encode(..., residual = true)` and `searchADC(..., residual = true)`. */
  def trainResidual(
      index: AnnIvf.Index,
      vecCol: String,
      m: Int,
      ksub: Int = 256,
      seed: Long = 42L,
      sampleLimit: Int = 1 << 14): Codebooks = {
    val centers = AnnIvf.centerMap(index)
    val spark = index.assigned.sparkSession
    val bc = spark.sparkContext.broadcast(centers)
    val residUdf = udf { (pid: Int, vec: Seq[Float]) =>
      val v = CentroidGemm.toFloatArray(vec).clone()
      val c = bc.value(pid)
      var i = 0
      while (i < v.length) { v(i) -= c(i); i += 1 }
      v
    }
    train(index.assigned.select(
        residUdf(col("partition_id"), col(vecCol)).as(vecCol)),
      vecCol, m, ksub, seed, sampleLimit)
  }

  /** The compact searchable layout: (partition_id, id, pq_code) — `m`
    * bytes of payload per vector; the fp32 column stays in the full
    * index for the optional refine join only.
    *
    * Persisted (MEMORY_AND_DISK): the codes are the index ARTIFACT — an
    * unpersisted lineage would re-run `encodeUdf` inside every search
    * plan, and after projection collapse into the candidate join that
    * means once per (query, vector) PAIR, not per vector (measured 5× on
    * sf0.1). Each call persists its OWN entry (the fresh UDF closure
    * defeats plan-canonicalization dedup), so encode ONCE per index and
    * reuse the returned DataFrame across searches; call `.unpersist()`
    * when done, or write it out as partitioned parquet (same layout
    * contract as [[AnnIvf.write]]) for the durable form. */
  def encode(index: AnnIvf.Index, cb: Codebooks,
      idCol: String, vecCol: String, residual: Boolean = false): DataFrame = {
    val codeCol =
      if (residual)
        encodeResidualUdf(cb, index.assigned.sparkSession.sparkContext
            .broadcast(AnnIvf.centerMap(index)))(
          col("partition_id"), col(vecCol))
      else encodeUdf(cb)(col(vecCol))
    index.assigned.select(col("partition_id"), col(idCol),
      codeCol.as("pq_code"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Seeded random orthogonal rotation (Gram-Schmidt over a Gaussian
    * matrix): the cheap four-fifths of OPQ (Ge et al., "Optimized
    * Product Quantization", CVPR 2013 — a random rotation decorrelates
    * dimensions and balances per-subspace energy, recovering most of the
    * optimized rotation's recall gain on real embeddings). Orthogonality
    * means inner products are invariant — rotate the corpus once at
    * ingest ([[rotateUdf]]), build IVF + PQ in the rotated space, and
    * every search semantics (scores, ranks, refine) is unchanged while
    * the PQ codes quantize a better-conditioned space. */
  def randomRotation(dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    val m = Array.fill(dim, dim)(rnd.nextGaussian())
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < i) {
        var d = 0.0
        var k = 0
        while (k < dim) { d += m(i)(k) * m(j)(k); k += 1 }
        k = 0
        while (k < dim) { m(i)(k) -= d * m(j)(k); k += 1 }
        j += 1
      }
      var n = 0.0
      var k = 0
      while (k < dim) { n += m(i)(k) * m(i)(k); k += 1 }
      val inv = 1.0 / math.sqrt(n)
      k = 0
      while (k < dim) { m(i)(k) *= inv; k += 1 }
      i += 1
    }
    m.map(_.map(_.toFloat))
  }

  /** FULL (non-parametric) OPQ — Ge et al., "Optimized Product
    * Quantization", CVPR 2013 §4: alternate between (a) training PQ
    * codebooks in the current rotated space and (b) solving the
    * orthogonal Procrustes problem for the rotation that best aligns the
    * data with its quantized reconstruction (R minimizing
    * ‖XRᵀ − Y‖_F over orthogonal R, closed form via SVD of XᵀY).
    * [[randomRotation]] is the cheap four-fifths (it balances subspace
    * energy); the alternating solve additionally aligns the subspace
    * axes with the data's principal directions, for corpora that defeat
    * a random rotation alone.
    *
    * Driver-local on the same bounded-sample contract as [[train]]
    * (d×d Procrustes at d = 64-512 is microseconds; the corpus-sized
    * work — rotate + encode — stays distributed). Deterministic for a
    * fixed (sample, seed). Returns (codebooks trained in the FINAL
    * rotated space, rotation R): apply `rotateUdf(R)` at ingest like the
    * rotation-only path, then encode/searchADC/refine are unchanged —
    * orthogonality keeps every inner product invariant. */
  def trainOpq(
      vectors: DataFrame,
      vecCol: String,
      m: Int,
      ksub: Int = 256,
      seed: Long = 42L,
      sampleLimit: Int = 1 << 14,
      iters: Int = 10): (Codebooks, Array[Array[Float]]) = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val sample = vectors.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol)), col(vecCol))
      .limit(sampleLimit)
      .as[Seq[Float]].collect().map(CentroidGemm.toFloatArray)
    require(sample.nonEmpty, "AnnPq.trainOpq: empty sample")
    val dim = sample(0).length
    def rotate(r: Array[Array[Float]], x: Array[Float]): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        val row = r(i)
        var d = 0.0f
        var k = 0
        while (k < dim) { d += row(k) * x(k); k += 1 }
        out(i) = d
        i += 1
      }
      out
    }
    var r = randomRotation(dim, seed)
    // warm-start each alternation's codebooks from the previous ones (the
    // rotation moves little between iterations, so assignments churn less
    // than a from-scratch retrain — Ge §4's alternation), and keep the
    // best (R, codebooks) by sample quantization error: the k-means step
    // is not exactly monotone, so returning the best measured iterate
    // guarantees error ≤ the iteration-0 (= rotation-only, same seed)
    // baseline.
    var prev: Codebooks = null
    var bestErr = Double.MaxValue
    var bestCb: Codebooks = null
    var bestR = r
    var it = 0
    while (it <= iters) {
      val rotated = sample.map(rotate(r, _))
      val cb =
        if (prev == null) trainLocal(rotated, m, ksub, seed)
        else trainLocalWarm(rotated, prev, seed)
      prev = cb
      val recon = rotated.map(x => decodeVec(cb, encodeVec(cb, x)))
      var err = 0.0
      var i = 0
      while (i < rotated.length) {
        val x = rotated(i); val y = recon(i)
        var k = 0
        while (k < dim) { val d = x(k) - y(k); err += d * d; k += 1 }
        i += 1
      }
      if (sys.env.contains("GRAFT_OPQ_DEBUG")) println(f"[opq] iter $it err=$err%.6f")
      if (err < bestErr) { bestErr = err; bestCb = cb; bestR = r }
      if (it < iters) {
        // Procrustes data matrix M = XᵀY over (original x, reconstruction y)
        val mm = Array.ofDim[Double](dim, dim)
        i = 0
        while (i < sample.length) {
          val x = sample(i)
          val y = recon(i)
          var a = 0
          while (a < dim) {
            val xa = x(a)
            if (xa != 0.0f) {
              val row = mm(a)
              var b = 0
              while (b < dim) { row(b) += xa * y(b); b += 1 }
            }
            a += 1
          }
          i += 1
        }
        // Rᵀ = UVᵀ minimizes ‖XRᵀ − Y‖ → R = VUᵀ
        val (u, v) = svdUV(mm)
        val next = Array.ofDim[Float](dim, dim)
        var a = 0
        while (a < dim) {
          var b = 0
          while (b < dim) {
            var d = 0.0
            var k = 0
            while (k < dim) { d += v(a)(k) * u(b)(k); k += 1 }
            next(a)(b) = d.toFloat
            b += 1
          }
          a += 1
        }
        r = next
      }
      it += 1
    }
    (bestCb, bestR)
  }

  /** Warm-started sub-quantizer refit (OPQ alternation step). */
  private def trainLocalWarm(
      sample: Array[Array[Float]], prev: Codebooks, seed: Long): Codebooks = {
    val dim = sample(0).length
    val dsub = prev.dsub
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val centers = Await.result(
      Future.sequence((0 until prev.m).toVector.map { s =>
        Future {
          val sub = sample.map(v =>
            java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
          AnnIvf.localKMeansWarm(sub, prev.centers(s), seed + s, maxIter = 4)
        }
      }), Duration.Inf).toArray
    Codebooks(dim, prev.m, prev.ksub, centers)
  }

  /** Reconstruction (decode): concatenate the coded sub-centroids. */
  private def decodeVec(cb: Codebooks, code: Array[Byte]): Array[Float] = {
    val out = new Array[Float](cb.dim)
    var s = 0
    while (s < cb.m) {
      val c = cb.centers(s)(code(s) & 0xff)
      System.arraycopy(c, 0, out, s * cb.dsub, cb.dsub)
      s += 1
    }
    out
  }

  /** SVD of a small square matrix by one-sided (Hestenes) Jacobi:
    * right-rotate column pairs until mutually orthogonal, accumulating V;
    * then AV = UΣ gives U as the normalized columns. Dependency-free and
    * deterministic; a d×d solve at d ≤ 512 is sub-millisecond. Returns
    * (U, V) with A = UΣVᵀ. */
  private def svdUV(a0: Array[Array[Double]])
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var rotatedAny = true
    var sweep = 0
    while (rotatedAny && sweep < 64) {
      rotatedAny = false
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          var app = 0.0; var aqq = 0.0; var apq = 0.0
          var k = 0
          while (k < n) {
            val ap = a(k)(p); val aq = a(k)(q)
            app += ap * ap; aqq += aq * aq; apq += ap * aq
            k += 1
          }
          if (math.abs(apq) > 1e-12 * math.sqrt(app * aqq) + Double.MinPositiveValue) {
            rotatedAny = true
            val tau = (aqq - app) / (2.0 * apq)
            val t = math.signum(tau) / (math.abs(tau) + math.sqrt(1.0 + tau * tau))
            val c = 1.0 / math.sqrt(1.0 + t * t)
            val s = c * t
            k = 0
            while (k < n) {
              val ap = a(k)(p); val aq = a(k)(q)
              a(k)(p) = c * ap - s * aq
              a(k)(q) = s * ap + c * aq
              val vp = v(k)(p); val vq = v(k)(q)
              v(k)(p) = c * vp - s * vq
              v(k)(q) = s * vp + c * vq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val u = Array.ofDim[Double](n, n)
    var j = 0
    while (j < n) {
      var norm = 0.0
      var k = 0
      while (k < n) { norm += a(k)(j) * a(k)(j); k += 1 }
      norm = math.sqrt(norm)
      if (norm > 1e-12) { k = 0; while (k < n) { u(k)(j) = a(k)(j) / norm; k += 1 } }
      else u(j)(j) = 1.0 // rank-deficient direction: any unit vector is optimal
      j += 1
    }
    (u, v)
  }

  /** Apply a rotation matrix to a vector column (one gemv per row). */
  def rotateUdf(r: Array[Array[Float]]) = udf { (v: Array[Float]) =>
    val out = new Array[Float](r.length)
    var i = 0
    while (i < r.length) {
      val row = r(i)
      var d = 0.0f
      var k = 0
      while (k < row.length) { d += row(k) * v(k); k += 1 }
      out(i) = d
      i += 1
    }
    out
  }

  /** Durable form: codes as partition-pruned parquet (same layout
    * contract as [[AnnIvf.write]] — `partition_id=` dirs, so an ADC scan
    * of `nprobe` partitions reads only their files, and each file holds
    * `m` B/vector), codebooks as one tiny sidecar table. */
  def write(encoded: DataFrame, cb: Codebooks, path: String): Unit = {
    encoded
      .repartition(col("partition_id"))
      .write.mode("overwrite")
      .partitionBy("partition_id")
      .parquet(s"$path/codes")
    val spark = encoded.sparkSession
    import spark.implicits._
    val rows = for {
      s <- 0 until cb.m
      c <- 0 until cb.centers(s).length
    } yield (cb.dim, cb.m, cb.ksub, s, c, cb.centers(s)(c).toSeq)
    rows.toDF("dim", "m", "ksub", "subspace", "code", "center")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  def read(spark: org.apache.spark.sql.SparkSession, path: String): (DataFrame, Codebooks) = {
    import spark.implicits._
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .select("dim", "m", "ksub", "subspace", "code", "center")
      .as[(Int, Int, Int, Int, Int, Seq[Float])].collect()
    require(cbRows.nonEmpty, s"AnnPq.read: no codebooks at $path")
    val (dim, m, ksub, _, _, _) = cbRows.head
    val centers = Array.ofDim[Array[Float]](m, ksub)
    cbRows.foreach { case (_, _, _, s, c, v) =>
      centers(s)(c) = CentroidGemm.toFloatArray(v)
    }
    (spark.read.parquet(s"$path/codes"), Codebooks(dim, m, ksub, centers))
  }

  /** Per-query ADC lookup table: partial inner products of each query
    * subvector with every sub-centroid, flattened to m·ksub floats. */
  private def computeLut(cb: Codebooks, qa: Array[Float]): Array[Float] = {
    val lut = new Array[Float](cb.m * cb.ksub)
    var s = 0
    while (s < cb.m) {
      val cs = cb.centers(s)
      var c = 0
      while (c < cs.length) {
        var d = 0.0f
        var i = 0
        while (i < cb.dsub) { d += qa(s * cb.dsub + i) * cs(c)(i); i += 1 }
        lut(s * cb.ksub + c) = d
        c += 1
      }
      s += 1
    }
    lut
  }

  /** IVF-PQ search: centroid probe → ADC score over the byte codes of the
    * probed partitions → per-query top-k; with `refine > 0` the ADC
    * top-`refine` re-rank exactly against the fp32 vectors (a ≤
    * |queries|·refine row join — the standard two-stage serving plan).
    * The output `score` column is the ADC approximation without refine
    * and the exact fp32 inner product with it (same name either way, so
    * downstream code is insensitive to the serving tier).
    *
    * LUT transport matters: the tables (m·ksub floats ≈ 8 KB each) ship
    * ONCE per query as one executor broadcast, and candidate rows carry
    * only (query_id, id, m-byte code) — an earlier draft that attached
    * the LUT as a column repeated ~8 KB through every joined candidate
    * row and was 5× slower at sf0.1. The query batch is collected once,
    * by the driver-side centroid probe ([[AnnIvf.probeQueries]]) that
    * also feeds the LUTs — the serving-contract bound of every search
    * (the query batch is small; the corpus is the big side).
    *
    * Broadcast lifecycle: the LUT broadcast lives exactly as long as the
    * returned (lazy) plan — it cannot be destroyed here without breaking
    * re-execution, and Spark's ContextCleaner reclaims it from driver and
    * executors once the caller releases the DataFrame — but the cleaner
    * only runs on driver GC, so a long-running serving loop accumulates
    * un-collected LUT broadcasts between GCs. A serving loop should
    * therefore call [[searchADCCollect]] (destroys the broadcast the
    * moment the action finishes) instead of holding lazy plans. */
  def searchADC(
      index: AnnIvf.Index,
      cb: Codebooks,
      encoded: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      refine: Int = 0,
      residual: Boolean = false): DataFrame =
    searchADCWithHandle(index, cb, encoded, queries, queryIdCol, vecCol,
      k, nprobe, idCol, refine, residual)._1

  /** Serving-loop form of [[searchADC]]: runs the search eagerly, returns
    * the (small, top-k-per-query) result rows, and destroys the per-call
    * LUT broadcast before returning — so N serving calls hold ZERO live
    * broadcasts between batches instead of N-until-GC. The collect is the
    * serving contract (the client gets the rows back anyway); the result
    * is ≤ |queries|·k rows by construction. */
  def searchADCCollect(
      index: AnnIvf.Index,
      cb: Codebooks,
      encoded: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      refine: Int = 0,
      residual: Boolean = false): Array[org.apache.spark.sql.Row] = {
    val (df, bc) = searchADCWithHandle(index, cb, encoded, queries,
      queryIdCol, vecCol, k, nprobe, idCol, refine, residual)
    try df.collect()
    finally bc.destroy()
  }

  /** [[searchADC]] body exposing the LUT broadcast — the test seam for
    * the lifecycle spec and the building block for both public forms. */
  private[graft] def searchADCWithHandle(
      index: AnnIvf.Index,
      cb: Codebooks,
      encoded: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      refine: Int = 0,
      residual: Boolean = false):
      (DataFrame, org.apache.spark.broadcast.Broadcast[Map[Long, Array[Float]]]) = {
    val spark = queries.sparkSession
    requireIntegralId(queries, queryIdCol, "AnnPq.searchADC")
    val q = queries.select(
      col(queryIdCol).cast("long").as("query_id"), col(vecCol).as("__query_vec"))
    // residual mode keeps the probe's ⟨q, c_p⟩ term: candidate score =
    // pscore + ADC over the residual codes (linear decomposition)
    // the probe refuses duplicate query ids: they would collapse to ONE
    // surviving LUT while the probe fans out for every vector
    val probe = AnnIvf.probeQueries(index, q, nprobe, "AnnPq.searchADC")
    val probed = probe.pairs.select("query_id", "partition_id", "pscore")
    val luts = probe.queryRows.map { r =>
      r.getLong(0) -> computeLut(cb, CentroidGemm.toFloatArray(r.getSeq[Float](1)))
    }.toMap
    val bc = spark.sparkContext.broadcast(luts)
    val m = cb.m
    val ksub = cb.ksub
    val scoreUdf = udf { (qid: Long, code: Array[Byte]) =>
      val l = bc.value(qid)
      var s = 0.0
      var i = 0
      while (i < m) { s += l(i * ksub + (code(i) & 0xff)); i += 1 }
      s
    }
    val adc = scoreUdf(col("query_id"), col("pq_code"))
    val scored = broadcast(probed)
      .join(encoded, Seq("partition_id"))
      .withColumn("adc_score", if (residual) adc + col("pscore") else adc)
      .drop("pscore")
    val result =
      if (refine <= 0)
        Knn.topKPerGroup(scored, Seq(col("query_id")), k,
            desc("adc_score"), asc(idCol))
          .drop("pq_code")
          .withColumnRenamed("adc_score", "score")
      else {
        val shortlist = Knn.topKPerGroup(scored, Seq(col("query_id")),
            math.max(refine, k), desc("adc_score"), asc(idCol))
          .select(col("query_id"), col(idCol))
        val exact = shortlist
          .join(broadcast(probe.queries), Seq("query_id"))
          .join(index.assigned.select(col(idCol), col(vecCol)), Seq(idCol))
          .withColumn("score",
            graft.functions.VectorOps.dot(col(vecCol), col("__query_vec")))
        Knn.topKPerGroup(exact, Seq(col("query_id")), k,
            desc("score"), asc(idCol))
          .drop("__query_vec", vecCol)
      }
    (result, bc)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Block-gemm centroid scoring — the 100 TB ingest hot path.
  *
  * Nearest-centroid assignment (reference: storage/faiss_utils.py:110-111,
  * `quantizer.search` argmax) is O(N·nlist·dim) flops. A per-row UDF pays
  * per-element `Seq` boxing and streams the full centroid matrix
  * (nlist×dim — 64 MB at reference scale nlist≈31,622, dim=512) through
  * cache once PER ROW. This kernel instead:
  *
  *  - buffers rows in blocks of [[CentroidGemm.BlockSize]] primitive
  *    `Array[Float]`s (a 256×64-f block is 64 KB — L2-resident);
  *  - flattens the broadcast centroids into one row-major `Array[Float]`
  *    ONCE per task;
  *  - loops centroid-outer / row-inner, so each centroid row is read once
  *    per block instead of once per row — the classic blocked-gemm
  *    access pattern, and the JIT vectorizes the flat inner loop.
  *
  * Per-(row, centroid) accumulation is `Double`, index-ascending — bit-equal
  * to the scalar UDF it replaces (property-tested in KnnSpec). Ties break
  * to the lowest centroid id, deterministic.
  */
object CentroidGemm {

  /** Rows buffered per gemm block. 256 rows × 512 dims × 4 B = 512 KB
    * worst-case at reference dims — comfortably cache/heap safe. */
  val BlockSize = 256

  /** Unwrap a Spark-deserialized float vector without per-element boxing. */
  def toFloatArray(v: Seq[Float]): Array[Float] = v match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case _                                              => v.toArray
  }

  private[operators] def flatten(cs: Array[Array[Float]]): (Array[Float], Int, Int) = {
    val k = cs.length
    val d = if (k == 0) 0 else cs(0).length
    val flat = new Array[Float](k * d)
    var c = 0
    while (c < k) {
      require(cs(c).length == d, s"ragged centroid matrix: centroid $c has dim ${cs(c).length}, expected $d")
      System.arraycopy(cs(c), 0, flat, c * d, d)
      c += 1
    }
    (flat, k, d)
  }

  /** Append `outCol: int` = argmax over centroids of the inner product
    * (ties → lowest centroid id). One broadcast pass, no shuffle. */
  def assign(
      df: DataFrame,
      vecCol: String,
      centers: Array[Array[Float]],
      outCol: String = "partition_id"): DataFrame = {
    val schema = df.schema
    val vecIdx = schema.fieldIndex(vecCol)
    val out = schema.add(outCol, IntegerType, nullable = false)
    val bc = df.sparkSession.sparkContext.broadcast(centers)
    df.mapPartitions { it =>
      val (flat, k, d) = flatten(bc.value)
      it.grouped(BlockSize).flatMap { rows =>
        val b = rows.length
        val vecs = new Array[Array[Float]](b)
        var r = 0
        while (r < b) {
          vecs(r) = toFloatArray(rows(r).getSeq[Float](vecIdx))
          // a row vector of the wrong dim would silently score over the
          // shared prefix and be CONFIDENTLY assigned to a wrong
          // partition (the error then persists into the durable index)
          require(vecs(r).length == d,
            s"CentroidGemm: vector dim ${vecs(r).length} != centroid dim $d")
          r += 1
        }
        val best = new Array[Int](b)
        val bestS = Array.fill(b)(Double.NegativeInfinity)
        var c = 0
        while (c < k) {
          val off = c * d
          var r2 = 0
          while (r2 < b) {
            val v = vecs(r2)
            val n = math.min(d, v.length)
            var s = 0.0
            var i = 0
            while (i < n) { s += flat(off + i).toDouble * v(i).toDouble; i += 1 }
            if (s > bestS(r2)) { bestS(r2) = s; best(r2) = c }
            r2 += 1
          }
          c += 1
        }
        rows.iterator.zipWithIndex.map { case (row, ri) =>
          Row.fromSeq(row.toSeq :+ best(ri))
        }
      }
    }(Encoders.row(out))
  }

  /** Append `outCol: array<int>` = the `nprobe` most-similar centroid ids,
    * ordered by descending score then ascending id — the multi-probe form
    * of [[assign]] (reference: neighborhood_server.py:181-185 leader probe,
    * generalized to a corpus-sized query side). Each block runs
    * [[topProbes]], the kernel the driver-side serving probe shares.
    * `ids(c)` is the id emitted for centre `c` (default: `c`); pass the
    * ascending partition ids of a non-dense centroid table. */
  def probe(
      df: DataFrame,
      vecCol: String,
      centers: Array[Array[Float]],
      nprobe: Int,
      outCol: String = "__probes",
      ids: Array[Int] = null): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    require(ids == null || ids.length == centers.length,
      s"CentroidGemm.probe: ${ids.length} ids for ${centers.length} centers")
    val schema = df.schema
    val vecIdx = schema.fieldIndex(vecCol)
    val out = schema.add(outCol, ArrayType(IntegerType, containsNull = false), nullable = false)
    val bc = df.sparkSession.sparkContext.broadcast((centers, ids))
    df.mapPartitions { it =>
      val (cs, pids) = bc.value
      val (flat, k, d) = flatten(cs)
      val np = math.min(nprobe, k)
      it.grouped(BlockSize).flatMap { rows =>
        val vecs = rows.map(r => toFloatArray(r.getSeq[Float](vecIdx))).toArray
        val (top, _) = topProbes(vecs, flat, k, d, np)
        rows.iterator.zipWithIndex.map { case (row, ri) =>
          val probes = new Array[Int](np)
          var j = 0
          while (j < np) {
            val c = top(ri * np + j)
            probes(j) = if (pids == null) c else pids(c)
            j += 1
          }
          Row.fromSeq(row.toSeq :+ probes.toSeq)
        }
      }
    }(Encoders.row(out))
  }

  /** The probe kernel: for each vector of `vecs`, the `np` centres of the
    * row-major `k × d` matrix `flat` with the highest inner product.
    * Returns `(centre index, score)`, row-major with `np` entries per
    * vector, ordered by descending score then ascending index; `np` is
    * clamped to `[0, k]`. Scores are the strict index-ascending fp64 fold
    * of [[graft.functions.DotProductFP64]], bit for bit. Pure — shared by
    * the executor [[probe]] and the driver probe of
    * [[AnnIvf.probeQueries]], so both rank centroids identically. */
  def topProbes(
      vecs: Array[Array[Float]],
      flat: Array[Float],
      k: Int,
      d: Int,
      nprobe: Int): (Array[Int], Array[Double]) = {
    val b = vecs.length
    val np = math.max(0, math.min(nprobe, k))
    val topS = new Array[Double](b * np)
    val topP = new Array[Int](b * np)
    if (np == 0) return (topP, topS)
    var r = 0
    while (r < b) {
      // a row vector of the wrong dim would silently score over the
      // shared prefix and be CONFIDENTLY assigned to a wrong partition
      // (the error then persists into the durable index)
      require(vecs(r).length == d,
        s"CentroidGemm: vector dim ${vecs(r).length} != centroid dim $d")
      r += 1
    }
    val counts = new Array[Int](b)
    var c = 0
    while (c < k) {
      val off = c * d
      var r2 = 0
      while (r2 < b) {
        val v = vecs(r2)
        var s = 0.0
        var i = 0
        while (i < d) { s += flat(off + i).toDouble * v(i).toDouble; i += 1 }
        // bounded insertion, stable for equal scores (candidates arrive
        // index-ascending, sift stops at equality → tie goes to lowest index)
        val base = r2 * np
        val cnt = counts(r2)
        if (cnt < np || s > topS(base + np - 1)) {
          var j = if (cnt < np) cnt else np - 1
          while (j > 0 && topS(base + j - 1) < s) {
            topS(base + j) = topS(base + j - 1); topP(base + j) = topP(base + j - 1); j -= 1
          }
          topS(base + j) = s; topP(base + j) = c
          if (cnt < np) counts(r2) = cnt + 1
        }
        r2 += 1
      }
      c += 1
    }
    (topP, topS)
  }
}

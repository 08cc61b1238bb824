package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIvf, Knn}

/** Brute-force KNN semantics + the IVF exactness property
  * (nprobe = nlist ⇒ identical to brute force — SURVEY.md §5.3, §7.2). */
class KnnSpec extends SparkSpec {
  import spark.implicits._

  private val tiny = Seq(
    (0L, Seq(1f, 0f), "a"),
    (1L, Seq(0.9f, 0.1f), "b"),
    (2L, Seq(0f, 1f), "c"),
    (3L, Seq(-1f, 0f), "d"))
    .toDF("vec_id", "embedding", "label")

  test("brute force ranks by descending inner product, excludes self") {
    val got = Knn.bruteForce(
      tiny, tiny.filter($"vec_id" === 0L),
      "vec_id", "vec_id", "embedding", k = 3)
      .select("vec_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(got.toSeq === Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("ties broken by ascending id") {
    val dup = Seq(
      (0L, Seq(1f, 0f)), (5L, Seq(0f, 1f)), (4L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Knn.bruteForce(
      dup, dup.filter($"vec_id" === 0L), "vec_id", "vec_id", "embedding", k = 2)
      .select("vec_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(got.toSeq === Seq((4L, 1), (5L, 2)))
  }

  test("IVF search with nprobe = nlist equals brute force (sf0.001)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val nlist = 8
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist, seed = 42L)
    val ivf = AnnIvf.search(index, queries, "vec_id", "embedding",
        k = 10, nprobe = nlist, idCol = "vec_id")
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val bf = Knn.bruteForce(emb, queries, "vec_id", "vec_id", "embedding",
        k = 10, excludeSelf = false)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf === bf)
  }

  test("IVF search with nprobe < nlist returns k rows per query from probed partitions") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist = 8, seed = 42L)
    val got = AnnIvf.search(index, emb.filter($"vec_id" === 0L),
      "vec_id", "embedding", k = 5, nprobe = 2, idCol = "vec_id")
    assert(got.count() === 5)
    // results really come from ≤2 partitions
    assert(got.select("partition_id").distinct().count() <= 2)
  }

  test("perPartitionK reproduces the reference per-partition top_n contract") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist = 8, seed = 42L)
    val q = emb.filter($"vec_id" === 0L)
    // nprobe=3, per-partition top_n=2 → at most 6 candidates → k=10 can
    // return at most 6 rows
    val got = AnnIvf.search(index, q, "vec_id", "embedding",
      k = 10, nprobe = 3, idCol = "vec_id", perPartitionK = 2)
    assert(got.count() === 6)
    assert(got.groupBy("partition_id").count()
      .filter($"count" > 2).count() === 0)
    // and unrestricted search at the same nprobe dominates it
    val unrestricted = AnnIvf.search(index, q, "vec_id", "embedding",
      k = 10, nprobe = 3, idCol = "vec_id")
    assert(unrestricted.count() === 10)
  }

  test("parsePartitionSpec matches the reference CLI grammar") {
    assert(AnnIvf.parsePartitionSpec("1,2,5-10") === Seq(1, 2, 5, 6, 7, 8, 9, 10))
    assert(AnnIvf.parsePartitionSpec("3") === Seq(3))
    assert(AnnIvf.parsePartitionSpec("4-4,2, 1") === Seq(1, 2, 4))
    assert(AnnIvf.parsePartitionSpec("7,5-8") === Seq(5, 6, 7, 8)) // dedup
  }

  test("one null vector row does not fail the blocked scan; NaN scores " +
      "keep a total order in the bounded buffer") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val poisoned = emb.select($"vec_id",
      when($"vec_id" === 3L, lit(null)
        .cast(emb.schema("embedding").dataType))
        .otherwise($"embedding").as("embedding"))
    val queries = emb.filter($"vec_id" < 3)
    // bruteForce ranks the null score last; blocked excludes the row —
    // with k << corpus both top-k sets are identical
    val blocked = Knn.bruteForceBlocked(poisoned, queries,
        "vec_id", "vec_id", "embedding", k = 5)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val plain = Knn.bruteForce(poisoned, queries,
        "vec_id", "vec_id", "embedding", k = 5)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(blocked === plain)
    // insert(): an all-NaN buffer must not reject a finite entry, and
    // NaN ties must resolve by id — Double.compare total order
    import graft.operators.TopKAggregator.insert
    val nan = Double.NaN
    val buf = List((5L, nan), (9L, nan))
    // Spark sorts NaN greatest: a finite entry must not displace a NaN
    // (compare ids — NaN breaks tuple equality)
    assert(insert(buf, (1L, 2.0), 2).map(_._1) === List(5L, 9L))
    // ...and two NaNs sort by ascending id exactly like the window plan
    val built = List((9L, nan), (5L, nan), (1L, 2.0))
      .foldLeft(List.empty[(Long, Double)])((b, e) => insert(b, e, 2))
    assert(built.map(_._1) === List(5L, 9L))
    // k <= 0: empty result like the window form, not an executor throw
    assert(graft.operators.TopKAggregator.topK(
      emb.select($"vec_id", lit(1.0).as("s")).withColumn("g", lit(0)),
      "g", "vec_id", "s", k = 0).count() === 0)
  }

  test("bruteForceBlocked is bit-identical to the crossJoin plan") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 7)
    val blocked = Knn.bruteForceBlocked(emb, queries,
        "vec_id", "vec_id", "embedding", k = 10)
      .select($"query_id", $"vec_id", $"score", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val plain = Knn.bruteForce(emb, queries,
        "vec_id", "vec_id", "embedding", k = 10)
      .select($"query_id", $"vec_id", $"score", $"rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(blocked === plain) // including raw double score bits
  }

  test("knnJoin with nprobe = nlist equals per-row brute force") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(100)
    val nlist = 4
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist, seed = 42L)
    val viaJoin = AnnIvf.knnJoin(index, "vec_id", "embedding", k = 3, nprobe = nlist)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val bf = Knn.bruteForce(emb, emb, "vec_id", "vec_id", "embedding", k = 3)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(viaJoin === bf)
  }

  test("knnJoin with nprobe < nlist returns k rows per vector from probed partitions") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist = 8, seed = 42L)
    val got = AnnIvf.knnJoin(index, "vec_id", "embedding", k = 5, nprobe = 2)
    // every vector got neighbors, nobody got more than k
    assert(got.groupBy("query_id").count().filter($"count" > 5).count() === 0)
    assert(got.select("query_id").distinct().count() === emb.count())
  }

  test("gemm assignment is bit-identical to the scalar per-row reference") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // centers drawn from the data itself → plenty of near-ties to stress
    // the tie-break, plus a duplicated center for an exact-tie case
    val centers = emb.filter($"vec_id" < 7).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val withDup = centers :+ centers(3).clone()
    val gemm = AnnIvf.assignPartitions(emb, "embedding", withDup)
      .select($"vec_id", $"partition_id").as[(Long, Int)].collect().toMap
    val scalar = AnnIvf.assignPartitionsUdf(emb, "embedding", withDup)
      .select($"vec_id", $"partition_id").as[(Long, Int)].collect().toMap
    assert(gemm === scalar)
    assert(gemm.nonEmpty)
  }

  test("gemm probe returns top-nprobe centroids by (score desc, id asc)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(50)
    val centers = emb.orderBy("vec_id").limit(6)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val got = graft.operators.CentroidGemm.probe(
        emb.select($"vec_id", $"embedding"), "embedding", centers, nprobe = 3)
      .select($"vec_id", $"__probes").as[(Long, Seq[Int])].collect().toMap
    // oracle: exhaustive per-row sort, the semantics the old UDF had
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    vecs.foreach { case (id, v) =>
      val scores = centers.zipWithIndex.map { case (c, p) =>
        val n = math.min(c.length, v.length)
        var s = 0.0; var i = 0
        while (i < n) { s += c(i).toDouble * v(i).toDouble; i += 1 }
        (s, p)
      }
      val want = scores.sortBy { case (s, p) => (-s, p) }.take(3).map(_._2).toSeq
      assert(got(id) === want, s"probe mismatch for vec $id")
    }
  }

  test("distributed k-means recovers well-separated cluster means") {
    val rnd = new scala.util.Random(7)
    val pts = (0 until 3).flatMap { c =>
      val base = Array.fill(8)(0f); base(c) = 10f
      (0 until 200).map { _ =>
        (c * 200L, base.toSeq.map(x => x + rnd.nextGaussian().toFloat * 0.05f))
      }
    }
    val df = pts.toDF("id", "embedding")
    val centers = AnnIvf.distributedKMeans(
      df.select($"embedding"), "embedding", k = 3, seed = 42L, maxIter = 10)
    assert(centers.length === 3)
    assert(centers.forall(_.length === 8))
    // each true mean has a recovered center within 0.5 of it
    (0 until 3).foreach { c =>
      val truth = Array.fill(8)(0.0); truth(c) = 10.0
      val best = centers.map { ctr =>
        math.sqrt(ctr.zip(truth).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.min
      assert(best < 0.5, s"cluster $c center off by $best")
    }
  }

  test("salted durable index: knnJoin spreads hot partitions, results identical") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // skewed by construction: nlist=4 k-means over clustered data leaves a
    // hot partition; the salted layout must give the same neighbors
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist = 4, seed = 42L)
    val dir = java.nio.file.Files.createTempDirectory("annsalt").toString
    AnnIvf.write(index, dir, writeSalt = 4)
    val reread = AnnIvf.read(spark, dir)
    assert(reread.writeSalt === 4)
    assert(reread.assigned.columns.contains("__salt"))
    // the co-partitioned join runs on (partition_id, __salt)
    val plan = AnnIvf.knnJoin(reread, "vec_id", "embedding", k = 3, nprobe = 2)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("__salt"), plan.take(2000))
    val viaSalted = AnnIvf.knnJoin(reread, "vec_id", "embedding", k = 3, nprobe = 2)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val viaPlain = AnnIvf.knnJoin(index, "vec_id", "embedding", k = 3, nprobe = 2)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(viaSalted === viaPlain)
    // and search results carry no salt plumbing
    val got = AnnIvf.search(reread, emb.filter($"vec_id" === 0L),
      "vec_id", "embedding", k = 3, nprobe = 2, idCol = "vec_id")
    assert(!got.columns.contains("__salt"))
  }

  test("searchVerbose: global search is the merge of the per-partition envelopes") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist = 8, seed = 42L)
    val q = emb.filter($"vec_id" < 4)
    val verbose = AnnIvf.searchVerbose(index, q, "vec_id", "embedding", k = 5, nprobe = 3)
    // per-partition arrays are rank-ordered and k-bounded
    val rows = verbose.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ns = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("neighbors")
      assert(ns.size <= 5)
      assert(ns.map(_.getAs[Int]("rank")) === (1 to ns.size))
    }
    // the global top-k (same nprobe) merges exactly these candidates
    val global = AnnIvf.search(index, q, "vec_id", "embedding", k = 5, nprobe = 3)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val enveloped = rows.flatMap { r =>
      val qid = r.getAs[Long]("query_id")
      r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("neighbors")
        .map(n => (qid, n.getAs[Long]("neighbor_id")))
    }.toSet
    assert(global.subsetOf(enveloped))
  }

  test("nprobe sweep: recall non-decreasing in nprobe, exact at nprobe = nlist") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val nlist = 8
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist, seed = 42L)
    val bf = Knn.bruteForce(emb, queries, "vec_id", "vec_id", "embedding",
        k = 10, excludeSelf = false)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recalls = Seq(1, 2, 4, 8).map { np =>
      val ann = AnnIvf.search(index, queries, "vec_id", "embedding",
          k = 10, nprobe = np, idCol = "vec_id")
        .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
      ann.intersect(bf).size.toDouble / bf.size
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b + 1e-9 })
    assert(recalls.last === 1.0) // nprobe = nlist is exact
    // probe cost observable: candidate volume grows with nprobe, and at
    // nprobe = nlist it covers the whole corpus for every query
    val costs = Seq(1, 8).map { np =>
      AnnIvf.probePartitions(index, queries, "vec_id", "embedding", np)
        .join(index.assigned.groupBy("partition_id").count(), Seq("partition_id"))
        .agg(sum($"count")).as[Long].head()
    }
    assert(costs(0) < costs(1))
    assert(costs(1) === queries.count() * emb.count())
    // and the probed set is the crossJoin + row_number reference's
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("__query_vec"))
    Seq(1, 3, 8).foreach { np =>
      assert(AnnIvf.probePartitions(index, queries, "vec_id", "embedding", np)
          .as[(Long, Int)].collect().toSet ===
        ProbeSpec.referenceProbe(index, q, np)
          .select($"query_id", $"partition_id").as[(Long, Int)].collect().toSet,
        s"nprobe=$np")
    }
  }

  test("range search: exact at nprobe = nlist, probe-pruned subset below") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val nlist = 8
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist, seed = 42L)
    val minScore = 0.2
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"query_id".cast("long"), $"vec_id".cast("long"))
        .as[(Long, Long)].collect().toSet
    val exact = asSet(AnnIvf.rangeSearch(index, queries, "vec_id", "embedding",
      minScore, nprobe = nlist, excludeSelf = true))
    // ground truth: brute-force threshold join
    val want = emb.crossJoin(broadcast(queries.select($"vec_id".as("qid"),
        $"embedding".as("qv"))))
      .filter($"vec_id" =!= $"qid")
      .filter(graft.functions.VectorOps.dot($"embedding", $"qv") >= minScore)
      .select($"qid".cast("long"), $"vec_id".cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(want.nonEmpty)
    assert(exact === want)
    // every returned score honors the threshold
    assert(AnnIvf.rangeSearch(index, queries, "vec_id", "embedding",
      minScore, nprobe = nlist).filter($"score" < minScore).count() === 0)
    // pruned probing returns a subset (it can only miss, never invent)
    val pruned = asSet(AnnIvf.rangeSearch(index, queries, "vec_id", "embedding",
      minScore, nprobe = 2, excludeSelf = true))
    assert(pruned.subsetOf(exact))
  }

  test("index write/read roundtrip prunes partitions at search") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = AnnIvf.build(emb, "vec_id", "embedding", nlist = 4, seed = 42L)
    val dir = java.nio.file.Files.createTempDirectory("annivf").toString
    AnnIvf.write(index, dir)
    val reread = AnnIvf.read(spark, dir)
    assert(reread.assigned.count() === emb.count())
    val got = AnnIvf.search(reread, emb.filter($"vec_id" === 1L),
      "vec_id", "embedding", k = 3, nprobe = 1, idCol = "vec_id")
    assert(got.count() === 3)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{AnnIvf, Knn, ServingCache}

object ProbeSpec {
  /** The centroid probe as a Spark plan: queries cross-joined with the
    * centroid table, scored, ranked per query by (`pscore` desc,
    * `partition_id` asc) with `row_number`. It is the semantic reference
    * the driver probe must equal row for row, `pscore` bits included.
    * `q` carries (`query_id`, `__query_vec`). */
  def referenceProbe(index: AnnIvf.Index, q: DataFrame, nprobe: Int): DataFrame =
    Knn.topKPerGroup(
      q.crossJoin(broadcast(index.centroids))
        .withColumn("pscore", VectorOps.dot(col("__query_vec"), col("centroid"))),
      Seq(col("query_id")), nprobe, desc("pscore"), asc("partition_id"))
      .select(col("query_id"), col("partition_id"), col("pscore"))
}

/** The driver-side centroid probe behind every serving search: parity
  * with the crossJoin + `row_number` reference (ties, non-dense ids,
  * degenerate nprobe, the `pscore` residual PQ reads), loud failure on
  * bad query input, and the Spark-job budget of a durable pruned search. */
class ProbeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val index =
    AnnIvf.build(emb, "vec_id", "embedding", nlist = 8, seed = 42L)

  /** 20 corpus vectors plus every centroid as a query of its own (a
    * query equal to a centroid ties exactly with that centroid's copy). */
  private def queriesFor(ix: AnnIvf.Index): DataFrame =
    emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("__query_vec"))
      .unionByName(ix.centroids.select(
        ($"partition_id".cast("long") + 100000L).as("query_id"),
        $"centroid".as("__query_vec")))

  private def driverProbe(ix: AnnIvf.Index, q: DataFrame,
      nprobe: Int): Set[(Long, Int, Double)] =
    AnnIvf.probeQueries(ix, q, nprobe, "ProbeSpec").pairs
      .select($"query_id", $"partition_id", $"pscore")
      .as[(Long, Int, Double)].collect().toSet

  private def reference(ix: AnnIvf.Index, q: DataFrame,
      nprobe: Int): Set[(Long, Int, Double)] =
    ProbeSpec.referenceProbe(ix, q, nprobe)
      .select($"query_id", $"partition_id".cast("int"), $"pscore")
      .as[(Long, Int, Double)].collect().toSet

  private def assertParity(ix: AnnIvf.Index, what: String): Unit = {
    val q = queriesFor(ix)
    val nlist = ix.centroids.count().toInt
    for (np <- Seq(-2, 0, 1, 2, 3, nlist - 1, nlist, nlist + 3)) {
      val want = reference(ix, q, np)
      assert(driverProbe(ix, q, np) === want, s"$what, nprobe=$np")
      if (np <= 0) assert(want.isEmpty)
      else assert(want.size === q.count() * math.min(np, nlist), s"$what, nprobe=$np")
    }
  }

  /** `ix` with one centroid duplicated under `newId` (an exact tie). */
  private def withTie(ix: AnnIvf.Index, of: Int, newId: Int): AnnIvf.Index =
    ix.copy(centroids = ix.centroids.unionByName(
      ix.centroids.filter($"partition_id" === of)
        .withColumn("partition_id", lit(newId))),
      nlist = -1L, maxPid = -1)

  test("driver probe equals the crossJoin + row_number reference, pscore bits included") {
    assertParity(index, "built index")
  }

  test("tied centroids: the duplicate with the higher partition_id loses") {
    val tied = withTie(index, of = 3, newId = 8)
    assertParity(tied, "duplicated centroid 3 as 8")
    // the query that IS centroid 3 scores 3 and 8 identically: top-1 is 3
    val self = driverProbe(tied, queriesFor(tied), 1)
      .collect { case (100003L, pid, _) => pid }
    assert(self === Set(3))
  }

  test("non-dense partition ids after splitHotCells keep parity and tie order") {
    // sparse ids (5·p + 2), then a split appends a new id above the max
    val sparse = AnnIvf.Index(
      index.assigned.withColumn("partition_id", $"partition_id" * 5 + 2),
      index.centroids.withColumn("partition_id", $"partition_id" * 5 + 2),
      nlist = 8L, maxPid = 37)
    val hottest = sparse.assigned.groupBy("partition_id").count()
      .agg(max("count")).as[Long].head()
    val split = AnnIvf.splitHotCells(sparse, "vec_id", "embedding",
      maxCellRows = hottest - 1)
    val ids = split.centroids.select("partition_id").as[Int].collect().sorted
    assert(ids.length === 9 && ids.last > 37, ids.mkString(","))
    assert(ids.zip(ids.tail).exists { case (a, b) => b - a > 1 })
    assertParity(split, "split sparse index")
    // a tie whose copy carries the LOWER id: the copy must win now
    val tied = withTie(split, of = 12, newId = 0)
    assertParity(tied, "sparse index, centroid 12 duplicated as 0")
    val self = driverProbe(tied, queriesFor(tied), 1)
      .collect { case (100012L, pid, _) => pid }
    assert(self === Set(0))
  }

  test("knnJoin's executor probe emits partition ids, not centroid indices") {
    // a monotone relabelling (5·p + 2) keeps every probe and tie-break, so
    // the corpus kNN join must return exactly the dense index's rows
    val sparse = AnnIvf.Index(
      index.assigned.withColumn("partition_id", $"partition_id" * 5 + 2),
      index.centroids.withColumn("partition_id", $"partition_id" * 5 + 2),
      nlist = 8L, maxPid = 37)
    def rows(ix: AnnIvf.Index) = AnnIvf.knnJoin(ix, "vec_id", "embedding",
        k = 5, nprobe = 2)
      .select($"query_id", $"vec_id", $"rank").as[(Long, Long, Int)]
      .collect().toSet
    val dense = rows(index)
    assert(dense.map(_._1).size === emb.count()) // every vector got neighbors
    assert(rows(sparse) === dense)
  }

  test("probePartitions is the (query_id, partition_id) projection of the probe") {
    val q = queriesFor(index)
    val got = AnnIvf.probePartitions(index,
        q.withColumnRenamed("query_id", "qid").withColumnRenamed("__query_vec", "v"),
        "qid", "v", 3)
      .as[(Long, Int)].collect().toSet
    assert(got === reference(index, q, 3).map { case (qq, p, _) => (qq, p) })
  }

  // ---- bad query input fails on the driver, naming the query

  private def qdf(rows: (Long, Seq[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  private lazy val dim =
    emb.select(size($"embedding")).as[Int].head()

  private def assertRefused(q: DataFrame, expect: String*): Unit = {
    val calls: Seq[(String, () => Any)] = Seq(
      "search" -> (() => AnnIvf.search(index, q, "vec_id", "embedding",
        k = 3, nprobe = 2).collect()),
      "searchPruned" -> (() => AnnIvf.searchPruned(index, q, "vec_id",
        "embedding", k = 3, nprobe = 2).collect()),
      "rangeSearch" -> (() => AnnIvf.rangeSearch(index, q, "vec_id",
        "embedding", minScore = 0.0, nprobe = 2).collect()),
      "searchVerbose" -> (() => AnnIvf.searchVerbose(index, q, "vec_id",
        "embedding", k = 3, nprobe = 2).collect()),
      "probePartitions" -> (() => AnnIvf.probePartitions(index, q, "vec_id",
        "embedding", nprobe = 2).collect()),
      "ServingCache.search" -> (() => new ServingCache(index, 4)
        .search(q, "vec_id", "embedding", k = 3, nprobe = 2).collect()))
    for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      expect.foreach(s => assert(e.getMessage.contains(s), s"$name: ${e.getMessage}"))
    }
  }

  test("a query whose dim differs from the centroids throws, naming the query") {
    val good = emb.filter($"vec_id" === 1L).select("embedding").as[Seq[Float]].head()
    assertRefused(qdf(1L -> good, 7L -> Seq.fill(dim + 1)(0.1f)),
      "query 7", s"dim ${dim + 1}", s"dim $dim")
  }

  test("a null query vector throws, naming the query") {
    val good = emb.filter($"vec_id" === 1L).select("embedding").as[Seq[Float]].head()
    assertRefused(qdf(1L -> good, 9L -> null), "query 9", "null vector")
  }

  test("duplicate query ids are refused, not merged into one result group") {
    val two = emb.filter($"vec_id" < 2L).select("embedding").as[Seq[Float]].collect()
    assertRefused(qdf(5L -> two(0), 5L -> two(1)), "duplicate query id 5")
  }

  // ---- Spark-job budget

  test("searchPruned over a durable index runs a small fixed number of Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("probe-jobs")
    AnnIvf.write(index, dir.resolve("index").toString)
    emb.filter($"vec_id" < 64).write.parquet(dir.resolve("queries").toString)
    val durable = AnnIvf.read(spark, dir.resolve("index").toString)
    val queries = spark.read.parquet(dir.resolve("queries").toString)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val tag = s"graft-probe-jobs-${System.nanoTime()}"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.incrementAndGet()
        if (js.properties != null &&
            tag == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
        ()
      }
    }
    // a sentinel job flushes the FIFO listener bus: once it is observed,
    // every job started before it has been counted
    def flush(): Unit = {
      val base = seen.get()
      spark.range(2).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.get() == base && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.get() > base, "listener never observed the sentinel job")
    }
    def count(f: => Any): Int = {
      flush()
      jobs.set(0)
      spark.sparkContext.setJobGroup(tag, tag)
      try f finally spark.sparkContext.clearJobGroup()
      flush()
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val search = () => AnnIvf.searchPruned(durable, queries, "vec_id",
        "embedding", k = 10, nprobe = 2).collect()
      assert(search().nonEmpty) // warm
      // collect the centroid table and the query batch, then one plan:
      // scan → broadcast join → per-query top-k exchange → result. A probe
      // job (a distinct collect) or a second probe plan adds to this.
      val n = count(search())
      assert(n <= 5, s"searchPruned ran $n Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

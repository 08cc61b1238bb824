package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{AnnIvf, Knn, ProbeTopKExec, ServingCache}

object ProbeTopKSpec {
  /** The serving plan `ProbeTopK` replaced: the probe pairs broadcast and
    * joined to the candidates on `partition_id`, filtered, scored, then
    * ranked per query (per query and partition first with
    * `perPartitionK`) by a `row_number` window. It is the semantic
    * reference the operator must equal row for row, schema included. */
  def referenceSearch(index: AnnIvf.Index, queries: DataFrame, queryIdCol: String,
      vecCol: String, k: Int, nprobe: Int, idCol: String = "vec_id",
      perPartitionK: Int = 0, candidateFilter: Column = lit(true),
      score: (Column, Column) => Column = VectorOps.dot(_, _)): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("__query_vec"))
    val probed = AnnIvf.probeQueries(index, q, nprobe, "reference").pairs.drop("pscore")
    val scored = broadcast(probed)
      .join(index.assigned, Seq("partition_id"))
      .filter(candidateFilter)
      .withColumn("score", score(col(vecCol), col("__query_vec")))
    val candidates =
      if (perPartitionK > 0)
        Knn.topKPerGroup(scored, Seq(col("query_id"), col("partition_id")),
          perPartitionK, desc("score"), asc(idCol)).drop("rank")
      else scored
    Knn.topKPerGroup(candidates, Seq(col("query_id")), k, desc("score"), asc(idCol))
      .drop("__query_vec", "__salt")
  }
}

/** The fused serving operator behind `AnnIvf.search`, `searchPruned` and
  * `ServingCache.search` equals the broadcast-join + `row_number` plan it
  * replaced — rows, ranks and schema (names, types, nullability) — over
  * ties, null and NaN scores, degenerate k and nprobe, query-aware
  * filters, per-partition caps, salted layouts, non-Long ids and custom
  * scores, on both its collect and its exchange path. */
class ProbeTopKSpec extends SparkSpec {
  import spark.implicits._
  import ProbeTopKSpec.referenceSearch

  private val dim = 8

  private lazy val base: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 300).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, i % 3)
    }.toDF("vec_id", "embedding", "label")
  }

  private lazy val built = AnnIvf.build(base, "vec_id", "embedding", nlist = 6, seed = 3L)

  /** `built` plus degenerate candidates, each in its source row's
    * partition: exact duplicates of ids 0-9 as 1000-1009 (tied scores),
    * null embeddings (null scores) and a NaN component (NaN scores). */
  private lazy val index: AnnIvf.Index = {
    val a = built.assigned
    val dups = a.filter($"vec_id" < 10).withColumn("vec_id", $"vec_id" + 1000)
    val nulls = a.filter($"vec_id".isin(20, 21, 22))
      .withColumn("vec_id", $"vec_id" + 2000)
      .withColumn("embedding", lit(null).cast("array<float>"))
    val nans = a.filter($"vec_id".isin(30, 31))
      .withColumn("vec_id", $"vec_id" + 3000)
      .withColumn("embedding",
        expr("transform(embedding, (x, i) -> if(i = 0, float('NaN'), x))"))
    val all = a.unionByName(dups).unionByName(nulls).unionByName(nans).cache()
    AnnIvf.Index(all, built.centroids)
  }

  /** Every 37th vector (id 0 ties with its copy 1000) and id 30, whose
    * NaN twin 3030 shares its partition. */
  private lazy val queries: DataFrame =
    base.filter($"vec_id" % 37 === 0 || $"vec_id" === 30)
      .select($"vec_id".as("qid"), $"embedding")

  /** Rows as strings (NaN-safe, arrays included), sorted. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, what)
    assert(rows(got) === rows(want), what)
  }

  private def search(ix: AnnIvf.Index, q: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", perPartitionK: Int = 0,
      filter: Column = lit(true),
      score: (Column, Column) => Column = VectorOps.dot(_, _)): DataFrame =
    AnnIvf.search(ix, q, "qid", "embedding", k, nprobe, idCol, perPartitionK,
      filter, score)

  private def reference(ix: AnnIvf.Index, q: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", perPartitionK: Int = 0,
      filter: Column = lit(true),
      score: (Column, Column) => Column = VectorOps.dot(_, _)): DataFrame =
    referenceSearch(ix, q, "qid", "embedding", k, nprobe, idCol, perPartitionK,
      filter, score)

  test("equals the reference on ties, null and NaN scores, at every nprobe") {
    for (np <- Seq(1, 2, 6); k <- Seq(1, 3, 10)) {
      val got = search(index, queries, k, np)
      assertSame(got, reference(index, queries, k, np), s"k=$k nprobe=$np")
    }
    // the duplicate ranks right after its original (tie → lower id first)
    val q0 = search(index, queries, 2, 6, filter = $"vec_id" < 3000)
      .filter($"query_id" === 0)
      .select("vec_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(q0.toSeq === Seq((0L, 1), (1000L, 2)))
    // NaN ranks first and null scores last, as under the window
    val all = search(index, queries, 1000, 6)
    val q30 = all.filter($"query_id" === 30).select("vec_id", "rank")
      .as[(Long, Int)].collect().sortBy(_._2)
    assert(q30.take(2).map(_._1).toSet === Set(3030L, 3031L))
    assert(q30.takeRight(3).map(_._1).toSet === Set(2020L, 2021L, 2022L))
  }

  test("k above the candidate count returns every candidate; k <= 0 and nprobe 0 return none") {
    val n = index.assigned.count()
    val got = search(index, queries, 1000, 6)
    assertSame(got, reference(index, queries, 1000, 6), "k=1000")
    assert(got.count() === n * queries.count())
    for (k <- Seq(0, -1)) {
      val empty = search(index, queries, k, 3)
      assertSame(empty, reference(index, queries, k, 3), s"k=$k")
      assert(empty.collect().isEmpty && empty.count() === 0L)
    }
    val none = search(index, queries, 5, 0)
    assertSame(none, reference(index, queries, 5, 0), "nprobe=0")
    assert(SpecUtil.jobsOf(spark)(none.collect()).isEmpty, "an empty probe ran a job")
  }

  test("a filter reading query_id is applied per pair, before the heap") {
    val f = $"vec_id" =!= $"query_id" && $"label" === 1
    for (np <- Seq(2, 6)) {
      val got = search(index, queries, 5, np, filter = f)
      assertSame(got, reference(index, queries, 5, np, filter = f), s"nprobe=$np")
      assert(got.filter($"vec_id" === $"query_id" || $"label" =!= 1).count() === 0L)
    }
    val onlyPairs = $"vec_id" > $"query_id" + 100
    assertSame(search(index, queries, 4, 3, filter = onlyPairs),
      reference(index, queries, 4, 3, filter = onlyPairs), "pair-only filter")
  }

  test("perPartitionK caps each (query, partition) before the global k") {
    for ((ppk, k) <- Seq((1, 5), (2, 5), (7, 3), (2, 1000))) {
      assertSame(search(index, queries, k, 4, perPartitionK = ppk),
        reference(index, queries, k, 4, perPartitionK = ppk), s"ppk=$ppk k=$k")
    }
    // every query sees at most nprobe · perPartitionK rows
    val capped = search(index, queries, 1000, 4, perPartitionK = 2)
      .groupBy("query_id").count().as[(Long, Long)].collect()
    assert(capped.nonEmpty && capped.forall(_._2 <= 8))
  }

  test("Int and String id columns keep their type and tie order") {
    val asInt = AnnIvf.Index(index.assigned.withColumn("vec_id", $"vec_id".cast("int")),
      index.centroids)
    val qInt = queries.withColumn("qid", $"qid".cast("int"))
    assertSame(search(asInt, qInt, 4, 3), reference(asInt, qInt, 4, 3), "Int ids")
    // string ids order lexically: "d1000" sorts before "d2"
    val asStr = AnnIvf.Index(
      index.assigned.withColumn("doc", concat(lit("d"), $"vec_id")).drop("vec_id"),
      index.centroids)
    val qStr = queries.withColumn("qid", concat(lit("q"), $"qid"))
    for (k <- Seq(2, 6)) {
      val got = search(asStr, qStr, k, 6, idCol = "doc")
      assertSame(got, reference(asStr, qStr, k, 6, idCol = "doc"), s"String ids, k=$k")
      assert(got.schema("doc").dataType.typeName === "string")
    }
  }

  test("a custom score (cosine) is bound the same way") {
    val cosine = (a: Column, b: Column) => VectorOps.cosine(a, b)
    for (np <- Seq(2, 6)) {
      assertSame(search(index, queries, 5, np, score = cosine),
        reference(index, queries, 5, np, score = cosine), s"cosine, nprobe=$np")
    }
  }

  test("salted durable layout: searchPruned and search equal the reference, __salt dropped") {
    val dir = java.nio.file.Files.createTempDirectory("probe-topk").toString
    AnnIvf.write(built, dir, writeSalt = 4)
    val durable = AnnIvf.read(spark, dir)
    assert(durable.assigned.columns.contains("__salt"))
    val want = referenceSearch(durable, queries, "qid", "embedding", 5, 2)
    assert(!want.columns.contains("__salt"))
    assertSame(AnnIvf.searchPruned(durable, queries, "qid", "embedding", 5, 2),
      want, "searchPruned")
    assertSame(AnnIvf.search(durable, queries, "qid", "embedding", 5, 2),
      want, "search")
  }

  test("the exchange path (count, join, limit, cache) equals the collect path") {
    val got = search(index, queries, 5, 3, filter = $"vec_id" =!= $"query_id")
    val collected = rows(got)
    assert(got.count() === collected.size.toLong)
    // a join consumes the operator through doExecute
    val labels = index.assigned.select($"vec_id", $"label".as("l2"))
    val joined = got.join(labels, Seq("vec_id"))
    assert(joined.count() === collected.size.toLong)
    assert(joined.filter($"label" =!= $"l2").count() === 0L)
    assert(rows(joined.drop("l2").select(got.columns.map(col): _*)) === collected)
    // a narrowing projection is folded into the exec and still collects
    val narrow = got.select("query_id", "vec_id", "rank")
    assert(rows(narrow) === rows(got.select("query_id", "vec_id", "rank").cache()))
    assert(got.orderBy($"query_id", $"rank").limit(3).collect().length === 3)
    val top1 = got.filter($"rank" === 1).count()
    assert(top1 === queries.count())
  }

  test("ServingCache.search equals the reference in its own column order") {
    val cache = new ServingCache(index, maxCachedPartitions = 3)
    for (np <- Seq(0, 2, 6)) {
      val want = reference(index, queries, 5, np)
      val rest = want.columns.filterNot(c => c == "query_id" || c == "partition_id")
      val reordered = want.select((Seq("query_id", "partition_id") ++ rest).map(col): _*)
      assertSame(cache.search(queries, "qid", "embedding", 5, np), reordered,
        s"cache, nprobe=$np")
    }
  }

  test("explain shows ProbeTopK over the pruned FileScan; no join, window, sort or exchange") {
    val dir = java.nio.file.Files.createTempDirectory("probe-topk-plan").toString
    AnnIvf.write(built, dir)
    val durable = AnnIvf.read(spark, dir)
    val plan = AnnIvf.searchPruned(durable, queries, "qid", "embedding", 5, 2)
      .queryExecution.executedPlan
    val text = plan.toString
    assert(text.contains("ProbeTopK"), text)
    assert(text.indexOf("ProbeTopK") < text.indexOf("FileScan"), text)
    assert(text.contains("PartitionFilters: [partition_id"), text)
    for (gone <- Seq("Join", "Window", "Sort", "Exchange"))
      assert(!text.contains(gone), s"$gone in\n$text")
  }

  test("SQL metrics count candidate rows, scored pairs and heap inserts") {
    val q = queries.limit(4)
    val got = search(index, q, 3, 6)
    assert(got.collect().length === 12)
    val exec = got.queryExecution.executedPlan.collectFirst { case p: ProbeTopKExec => p }.get
    def m(name: String) = exec.metrics(name).value
    val n = index.assigned.count()
    // nprobe = nlist: every candidate is scored against every query
    assert(m("candidateRows") === n)
    assert(m("scoredPairs") === n * 4)
    assert(m("heapInserts") >= 12L && m("heapInserts") <= n * 4)
  }
}

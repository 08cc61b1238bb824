package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, Partial}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.functions.{SortedLongJaccard, TextOps}
import graft.operators.Dedup

/** The bounded bucket→pairs primitive behind MinHash, banded-Hamming and
  * winnow candidates: each operator's output row multiset equals the
  * collect-then-cap form it replaced (kept below as the reference), and
  * the executed plan shows an over-cap bucket's rows never reaching the
  * `collect_list` aggregate. */
class BucketPairsSpec extends SparkSpec {
  import spark.implicits._
  import BucketPairsSpec._

  private val boiler =
    "the same boilerplate licence header text repeated in every single file of the crawl"
  private val other =
    "a quick survey of ten distinct river valleys across the northern highlands region"
  private val otherEdit =
    "a quick survey of ten distinct river valleys across the southern highlands region"

  private def sf0001Docs: DataFrame =
    spark.read.parquet(s"$sf0001/documents.parquet").select("doc_id", "text")

  /** `n` copies of `text`, ids 0 until n. */
  private def copies(n: Int, text: String): DataFrame =
    spark.range(n).select(col("id").as("doc_id"), lit(text).as("text"))

  /** `df` beside 40 sf0.001 docs and a near-dup pair. */
  private def withSmall(df: DataFrame): DataFrame =
    df.unionByName(sf0001Docs.filter($"doc_id" < 40)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      .unionByName(Seq((2000001L, other), (2000002L, otherEdit))
        .toDF("doc_id", "text"))

  private val nullText: DataFrame = Seq[(java.lang.Long, String)](
    (null, boiler), (1L, boiler), (2L, null), (3L, boiler), (null, null),
    (4L, other), (5L, otherEdit)).toDF("doc_id", "text")

  private val dupIds: DataFrame = Seq(
    (1L, boiler), (1L, boiler), (2L, boiler), (3L, other), (3L, otherEdit),
    (4L, other)).toDF("doc_id", "text")

  /** (name, corpus, cap) — the text cases both text operators run. */
  private def textCases: Seq[(String, DataFrame, Int)] = Seq(
    ("bucket of exactly cap", withSmall(copies(16, boiler)), 16),
    ("bucket of cap + 1", withSmall(copies(17, boiler)), 16),
    ("bucket far above cap", withSmall(copies(20000, boiler)), 16),
    ("duplicate ids", dupIds, 16),
    ("null ids and null text", nullText, 16),
    ("cap 1", withSmall(copies(3, boiler)), 1),
    ("cap 2 at the boundary", withSmall(copies(2, boiler)), 2),
    ("cap 2 over", withSmall(copies(3, boiler)), 2),
    ("sf0.001 documents", sf0001Docs, 1024),
    ("sf0.001 documents, cap 2", sf0001Docs, 2))

  test("minhashPairs equals the collect-then-cap reference") {
    for ((name, docs, cap) <- textCases) {
      assertSameRows(
        Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.0,
          maxBucketSize = cap),
        minhashRef(docs, "doc_id", "text", threshold = 0.0, maxBucketSize = cap),
        s"minhash: $name")
    }
    // the exact-cap bucket emits all of its pairs: cap·(cap−1)/2
    val exact = Dedup.minhashPairs(copies(16, boiler), "doc_id", "text",
      threshold = 0.0, maxBucketSize = 16)
    assert(exact.count() === 16L * 15 / 2)
  }

  test("winnowCandidates equals the collect-then-cap reference") {
    for ((name, docs, cap) <- textCases) {
      assertSameRows(
        Dedup.winnowCandidates(docs, "doc_id", "text", maxDocsPerFp = cap),
        winnowRef(docs, "doc_id", "text", maxDocsPerFp = cap),
        s"winnow: $name")
    }
    assertSameRows(
      Dedup.winnowCandidates(sf0001Docs, "doc_id", "text", k = 8, w = 16,
        maxDocsPerFp = 50),
      winnowRef(sf0001Docs, "doc_id", "text", k = 8, w = 16, maxDocsPerFp = 50),
      "winnow: sf0.001 documents, dedup_substring parameters")
  }

  test("hamming64Pairs equals the collect-then-cap reference") {
    val s1 = 0x0123456789abcdefL
    val s2 = 0x7edcba9876543210L
    def sigs(n: Int, sig: Long): DataFrame =
      spark.range(n).select(col("id").as("media_id"), lit(sig).as("ph"))
    val rnd = new scala.util.Random(11)
    val small = (0 until 200).map(i => (1000000L + i, rnd.nextLong()))
      .toDF("media_id", "ph")
      // near-dups of s2: one and two bits away
      .unionByName(Seq((2000001L, s2), (2000002L, s2 ^ 1L), (2000003L, s2 ^ 0x30L))
        .toDF("media_id", "ph"))
    val simhashSf = {
      val d = sf0001Docs
      d.unionByName(d.select(($"doc_id" + 100000).as("doc_id"),
          regexp_replace($"text", "^[^ ]+ ", "").as("text")))
        .select($"doc_id".cast("long").as("media_id"),
          TextOps.simhashFromTokensUdf(TextOps.tokens($"text")).as("ph"))
    }
    val dup = Seq((1L, s1), (1L, s1), (2L, s1 ^ 1L), (3L, s2), (3L, s2 ^ 0xffL),
      (4L, s2)).toDF("media_id", "ph")
    val nulls = Seq[(java.lang.Long, java.lang.Long)](
      (null, s1), (1L, s1), (2L, null), (3L, s1 ^ 1L), (null, null))
      .toDF("media_id", "ph")
    val cases = Seq(
      ("bucket of exactly cap", sigs(16, s1).unionByName(small), 16),
      ("bucket of cap + 1", sigs(17, s1).unionByName(small), 16),
      ("bucket far above cap", sigs(20000, s1).unionByName(small), 16),
      ("duplicate ids", dup, 16),
      ("cap 1", sigs(3, s1).unionByName(small), 1),
      ("cap 2 at the boundary", sigs(2, s1).unionByName(small), 2),
      ("cap 2 over", sigs(3, s1).unionByName(small), 2),
      ("sf0.001 simhash signatures", simhashSf, 1024),
      ("sf0.001 simhash signatures, cap 2", simhashSf, 2))
    for ((name, sig, cap) <- cases; width <- Seq(0, 8)) {
      assertSameRows(
        Dedup.hamming64Pairs(sig, "media_id", "ph", maxHamming = 6,
          numBands = 8, maxBucketSize = cap, pairParallelism = width),
        hammingRef(sig, "media_id", "ph", maxHamming = 6, numBands = 8,
          maxBucketSize = cap, pairParallelism = width),
        s"hamming: $name, pairParallelism $width")
    }
    // a null id has no pair to be named in: the primitive drops it where
    // the reference's pair UDF failed on it, so compare against the
    // reference over the rows that carry an id
    assertSameRows(
      Dedup.hamming64Pairs(nulls, "media_id", "ph", maxHamming = 6, numBands = 8),
      hammingRef(nulls.filter($"media_id".isNotNull), "media_id", "ph",
        maxHamming = 6, numBands = 8),
      "hamming: null ids and null signatures")
  }

  test("an over-cap bucket's rows never reach the collect_list aggregate") {
    val docs = copies(20000, boiler)
      .unionByName(Seq((2000001L, other), (2000002L, other)).toDF("doc_id", "text"))
    val sig = spark.range(20000).select(col("id").as("media_id"),
        lit(0x0123456789abcdefL).as("ph"))
      .unionByName(Seq((2000001L, 0x7edcba9876543210L), (2000002L, 0x7edcba9876543210L))
        .toDF("media_id", "ph"))
    val cap = 16
    val runs = Seq(
      ("minhash", Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.0,
        maxBucketSize = cap), minhashBands(docs, "doc_id", "text", 3, 8, 4)._2, Seq("band")),
      ("winnow", Dedup.winnowCandidates(docs, "doc_id", "text", maxDocsPerFp = cap),
        winnowBands(docs, "doc_id", "text", 8, 16), Seq("fp")),
      ("hamming", Dedup.hamming64Pairs(sig, "media_id", "ph", maxHamming = 6,
        numBands = 8, maxBucketSize = cap), hammingBands(sig, "media_id", "ph", 8),
        Seq("band", "chunk")))
    for ((name, df, banded, keys) <- runs) {
      assert(df.collect().nonEmpty, s"$name: the in-cap pair is missing")
      val sizes = banded.groupBy(keys.map(col): _*).count()
      assert(sizes.filter($"count" >= 20000).count() > 0,
        s"$name: the corpus has no over-cap bucket")
      val inCap = sizes.filter($"count" > 1 && $"count" <= cap)
        .agg(coalesce(sum($"count"), lit(0L))).as[Long].head()
      val filters = capFilters(df.queryExecution.executedPlan)
      assert(filters.nonEmpty && filters.forall(_.isDefined),
        s"$name: no cap filter right below the collect aggregate\n" +
          df.queryExecution.executedPlan)
      val passed = filters.flatten.map(_.metrics("numOutputRows").value).sum
      assert(passed === inCap,
        s"$name: the collect aggregate received $passed rows, the in-cap buckets hold $inCap")
    }
  }

  test("the plan check fires on the collect-then-cap reference") {
    val docs = sf0001Docs
    val ref = capFilters(minhashRef(docs, "doc_id", "text", threshold = 0.5,
      maxBucketSize = 1024).queryExecution.sparkPlan)
    assert(ref.nonEmpty && ref.forall(_.isEmpty), ref)
    val got = capFilters(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .queryExecution.sparkPlan)
    assert(got.nonEmpty && got.forall(_.isDefined), got)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)), clue)
    val g = multiset(got)
    val w = multiset(want)
    assert(g === w, s"$clue: ${g.size} distinct rows vs ${w.size} in the reference; " +
      s"only here ${(g.keySet -- w.keySet).take(5)}, only in the reference " +
      s"${(w.keySet -- g.keySet).take(5)}")
  }

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
}

object BucketPairsSpec extends AdaptiveSparkPlanHelper {

  /** For every partial `collect_list` aggregate in `plan`: the Filter it
    * reads (through projections), when that Filter sits directly on a
    * Window — the bucket-size cap of `Dedup.bucketPairs`. None where the
    * aggregate is fed any other way. */
  def capFilters(plan: SparkPlan): Seq[Option[FilterExec]] = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case q: QueryStageExec => unwrap(q.plan)
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other
    }
    collect(plan) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
          e.mode == Partial && e.aggregateFunction.isInstanceOf[CollectList]) => a
    }.map { agg =>
      var p = unwrap(agg.child)
      while (p.isInstanceOf[ProjectExec]) p = unwrap(p.children.head)
      p match {
        case f: FilterExec if unwrap(f.child).isInstanceOf[WindowExec] => Some(f)
        case _ => None
      }
    }
  }

  // ---- the collect-then-cap forms the primitive replaced (reference) ----

  private val pairsUdf = udf { (ids: Seq[Long]) =>
    val sorted = ids.sorted
    for {
      i <- sorted.indices
      j <- (i + 1) until sorted.length
    } yield (sorted(i), sorted(j))
  }

  /** (shingle table, (band, id) rows) of the MinHash family. */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numBands: Int, rowsPerBand: Int): (DataFrame, DataFrame) = {
    val sh = docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        TextOps.portableHashedShinglesUdf(shingleSize)(col("__toks")).as("sh"))
    val allBands = sh
      .withColumn("band",
        explode(TextOps.portableBandsUdf(numBands, rowsPerBand)(
          TextOps.portableMinhashUdf(numBands * rowsPerBand)(col("sh")))))
      .select("band", "id")
    (sh, allBands)
  }

  def minhashRef(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    val (sh, allBands) =
      minhashBands(docs, idCol, textCol, shingleSize, numBands, rowsPerBand)
    val cands = allBands
      .groupBy("band").agg(collect_list(col("id").cast("long")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize)
      .select(explode(pairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("left_id"), col("p._2").as("right_id"))
      .dropDuplicates("left_id", "right_id")
    cands
      .join(sh.select(col("id").as("left_id"), col("sh").as("left_sh")), Seq("left_id"))
      .join(sh.select(col("id").as("right_id"), col("sh").as("right_sh")), Seq("right_id"))
      .withColumn("jaccard",
        round(SortedLongJaccard.sortedJaccard(col("left_sh"), col("right_sh")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** (band, chunk, id, sim) rows of the banded-Hamming family. */
  def hammingBands(sig0: DataFrame, idCol: String, hashCol: String,
      numBands: Int): DataFrame = {
    val bits = 64 / numBands
    val sig = sig0.filter(col(hashCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(hashCol).cast("long").as("sim"))
    sig.select(col("id"), col("sim"),
      explode(array((0 until numBands).map { i =>
        struct(lit(i).as("band"),
          shiftrightunsigned(col("sim"), i * bits)
            .bitwiseAND(lit((1L << bits) - 1)).as("chunk"))
      }: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.chunk").as("chunk"),
        col("id"), col("sim"))
  }

  def hammingRef(sig0: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, numBands: Int, maxBucketSize: Int = 1024,
      pairParallelism: Int = 0): DataFrame = {
    val banded = hammingBands(sig0, idCol, hashCol, numBands)
    val bucketPairsUdf = udf { (ms: Seq[Row]) =>
      if (ms.length < 2 || ms.length > maxBucketSize) Seq.empty[(Long, Long, Long, Long)]
      else {
        val arr = ms.map(r => (r.getLong(0), r.getLong(1))).toArray
        java.util.Arrays.sort(arr, Ordering.by[(Long, Long), Long](_._1))
        for {
          i <- arr.indices
          j <- (i + 1) until arr.length
        } yield (arr(i)._1, arr(j)._1, arr(i)._2, arr(j)._2)
      }
    }
    val pre =
      if (pairParallelism > 0) banded.repartition(pairParallelism, col("band"), col("chunk"))
      else banded
    pre.groupBy("band", "chunk")
      .agg(collect_list(struct(col("id"), col("sim"))).as("ms"))
      .select(explode(bucketPairsUdf(col("ms"))).as("p"))
      .select(col("p._1").as("left_id"), col("p._2").as("right_id"),
        col("p._3").as("left_sim"), col("p._4").as("right_sim"))
      .withColumn("hamming", TextOps.hamming64(col("left_sim"), col("right_sim")))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("left_id", "right_id")
      .select("left_id", "right_id", "hamming")
  }

  /** (id, fp) rows of the winnow family. */
  def winnowBands(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
      explode(TextOps.winnowUdf(k, w)(col(textCol))).as("fp"))

  def winnowRef(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, maxDocsPerFp: Int): DataFrame =
    winnowBands(docs, idCol, textCol, k, w)
      .groupBy("fp").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxDocsPerFp)
      .select(explode(pairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("left_id"), col("p._2").as("right_id"))
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("n_shared"))
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{AnnIvf, Dedup, Knn, TemporalJoins}

/** Edge cases + an as-of join property check against a per-key reference
  * computation. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("KNN with an empty query set returns no rows") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val got = Knn.bruteForce(emb, emb.filter($"vec_id" < 0),
      "vec_id", "vec_id", "embedding", k = 5)
    assert(got.count() === 0)
  }

  test("KNN with k larger than the corpus returns the whole corpus ranked") {
    val tiny = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val got = Knn.bruteForce(tiny, tiny.filter($"vec_id" === 0L),
      "vec_id", "vec_id", "embedding", k = 100)
    assert(got.count() === 1)
  }

  test("AnnIvf.build with nlist > corpus size still assigns everything") {
    val tiny = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val index = AnnIvf.build(tiny, "vec_id", "embedding", nlist = 10, seed = 1L)
    assert(index.assigned.count() === 3)
    assert(index.assigned.filter($"partition_id".isNull).count() === 0)
    val hits = AnnIvf.search(index, tiny, "vec_id", "embedding", k = 2, nprobe = 10)
    assert(hits.groupBy("query_id").count().filter($"count" =!= 2).count() === 0)
  }

  test("dedup operators on an empty corpus return empty, not error") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactGroups(empty, "doc_id", "text").count() === 0)
    assert(Dedup.minhashPairs(empty, "doc_id", "text").count() === 0)
    assert(Dedup.simhashPairs(empty, "doc_id", "text").count() === 0)
    assert(Dedup.winnowCandidates(empty, "doc_id", "text").count() === 0)
    assert(Dedup.dropRepeatedChunks(empty, "doc_id", "text").count() === 0)
    assert(graft.operators.TextScoring
      .unigramCrossEntropy(empty, "doc_id", "text").count() === 0)
    assert(graft.operators.TextScoring
      .bigramCrossEntropy(empty, "doc_id", "text").count() === 0)
  }

  /** `f` fails with an IllegalArgumentException naming `arg`, on the
    * driver, before any Spark job starts. */
  private def refusedOnDriver(arg: String)(f: => Any): Unit = {
    val jobs = SpecUtil.jobsOf(spark) {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(arg), e.getMessage)
    }
    assert(jobs.isEmpty, s"${jobs.size} Spark job(s) ran before the refusal")
  }

  test("hamming64Pairs / phashMatches refuse numBands < 1 on the driver") {
    val sig = Seq((1L, 0L), (2L, 1L)).toDF("media_id", "ph")
    for (nb <- Seq(0, -1)) {
      refusedOnDriver("numBands") {
        Dedup.hamming64Pairs(sig, "media_id", "ph", maxHamming = -1, numBands = nb)
      }
      refusedOnDriver("numBands") {
        graft.streaming.EventStreams.phashMatches(sig, "media_id", "ph",
          maxHamming = -1, numBands = nb)
      }
    }
  }

  test("winnowCandidates refuses k < 1 or w < 1 on the driver") {
    val docs = Seq((1L, "some text that is long enough")).toDF("doc_id", "text")
    refusedOnDriver("w (0)") { Dedup.winnowCandidates(docs, "doc_id", "text", w = 0) }
    refusedOnDriver("k (0)") { Dedup.winnowCandidates(docs, "doc_id", "text", k = 0) }
    refusedOnDriver("k (-2)") { Dedup.winnowCandidates(docs, "doc_id", "text", k = -2) }
  }

  test("minhashPairs refuses numBands < 1 or rowsPerBand < 1 on the driver") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    refusedOnDriver("numBands (0)") {
      Dedup.minhashPairs(docs, "doc_id", "text", numBands = 0)
    }
    refusedOnDriver("rowsPerBand (0)") {
      Dedup.minhashPairs(docs, "doc_id", "text", rowsPerBand = 0)
    }
  }

  test("labelPropagation refuses iterations < 0 on the driver") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    for (it <- Seq(-1, -5)) refusedOnDriver(s"iterations must be >= 0 (got $it)") {
      graft.operators.LinkAnalysis.labelPropagation(edges, "u", "v", iterations = it)
    }
  }

  test("round-7 curation ops: degenerate inputs stay sane") {
    // single-stratum temperature keep: rate exactly 1, everything kept
    val one = Seq((1L, "en", "a"), (2L, "en", "b")).toDF("doc_id", "lang", "text")
    val kept = graft.operators.Sampling
      .temperatureKeep(one, "lang", $"doc_id", seed = 1L)
    assert(kept.filter($"keep" === 1).count() === 2)
    assert(kept.select("keep_rate").as[Double].collect().forall(_ === 1.0))
    // docs shorter than the winnow gram length produce no fingerprints
    val short = Seq((1L, "tiny"), (2L, "tiny")).toDF("doc_id", "text")
    assert(Dedup.winnowCandidates(short, "doc_id", "text").count() === 0)
    // chunk dedup on a doc shorter than one chunk: kept whole
    val sub = Seq((1L, "just three words")).toDF("doc_id", "text")
    val r = Dedup.dropRepeatedChunks(sub, "doc_id", "text", chunkTokens = 10)
      .as[(Long, Long, Long, String)].head()
    assert(r === ((1L, 1L, 1L, "just three words")))
    // dsir with an EMPTY target: every feature gets the same uniform
    // target probability — no crash, finite weights
    val raw = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val w = graft.operators.TextScoring.dsirLogWeights(
      raw, raw.filter($"doc_id" < 0), "doc_id", "text")
    assert(w.count() === 2)
    assert(w.select("log_weight").as[Double].collect().forall(x => !x.isNaN))
  }

  test("AnnPq.train rejects bad shapes with clear errors") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.AnnPq.train(emb, "embedding", m = 7) // 64 % 7 != 0
    }
    assert(e1.getMessage.contains("not divisible"))
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.AnnPq.train(emb, "embedding", m = 8, ksub = 512)
    }
    assert(e2.getMessage.contains("ksub"))
  }

  test("ServingCache rejects non-positive capacity; empty query set falls through") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = graft.operators.AnnIvf.build(emb, "vec_id", "embedding", nlist = 4, seed = 42L)
    intercept[IllegalArgumentException] {
      new graft.operators.ServingCache(index, maxCachedPartitions = 0)
    }
    val cache = new graft.operators.ServingCache(index, maxCachedPartitions = 2)
    val none = cache.search(emb.filter($"vec_id" < 0), "vec_id", "embedding", k = 3, nprobe = 2)
    assert(none.count() === 0)
    assert(cache.misses.value === 0) // nothing probed, nothing loaded
  }

  test("WebDataset.samples on a dir with no tars is empty, not an error") {
    val dir = java.nio.file.Files.createTempDirectory("wds-empty").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "notatar.txt"),
      "hello".getBytes("UTF-8"))
    assert(graft.sources.WebDataset.samples(spark, dir).count() === 0)
  }

  test("asOfJoin property: equals per-key scala reference on random events") {
    val g = for {
      user <- Gen.chooseNum(0, 3)
      t <- Gen.chooseNum(0L, 100000L)
      isLeft <- Gen.oneOf(true, false)
    } yield (user, t, isLeft)
    val rows = (0 until 400)
      .map(i => g.apply(Gen.Parameters.default, Seed(i.toLong)).get)
      .zipWithIndex
      .map { case ((u, t, l), i) => (i.toLong, u.toLong, new Timestamp(t), l) }
    // drop duplicate (user, ts) pairs: ties between two right rows make the
    // carried value order-dependent in BOTH implementations
    val deduped = rows.groupBy(r => (r._2, r._3)).map(_._2.head).toSeq
    val df = deduped.toDF("id", "user_id", "ts", "is_left")
    val left = df.filter($"is_left").select("id", "user_id", "ts")
    val right = df.filter(!$"is_left")
      .select($"user_id", $"ts", $"id".as("right_id"))

    val got = TemporalJoins.asOfJoin(left, right, "user_id", "ts",
        rightPayload = Seq("right_id"))
      .select($"id", $"asof_right_id")
      .as[(Long, Option[Long])].collect().toMap

    // reference: per key, latest right with right.ts <= left.ts
    val rightByUser = deduped.filter(!_._4).groupBy(_._2)
    val want = deduped.filter(_._4).map { case (id, u, ts, _) =>
      val candidates = rightByUser.getOrElse(u, Seq.empty)
        .filter(r => !r._3.after(ts))
      id -> (if (candidates.isEmpty) None
             else Some(candidates.maxBy(_._3.getTime)._1))
    }.toMap
    assert(got === want)
  }

  test("asOfJoin keeps null payload fields from the matched row (no cross-row backfill)") {
    // right row at t=20 has v=null; the left row at t=30 must see
    // (right_id=2, v=null) — NOT v back-filled from the older t=10 row
    val left = Seq((100L, 1L, new Timestamp(30L)))
      .toDF("id", "user_id", "ts")
    val right = Seq(
      (1L, new Timestamp(10L), 1L, Option(7L)),
      (1L, new Timestamp(20L), 2L, Option.empty[Long]))
      .toDF("user_id", "ts", "right_id", "v")
    val got = TemporalJoins.asOfJoin(left, right, "user_id", "ts",
        rightPayload = Seq("right_id", "v"))
      .select($"id", $"asof_right_id", $"asof_v")
      .as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(got === Seq((100L, Some(2L), None)))
  }

  test("asOfJoin tolerates an unorderable (MapType) payload column") {
    // the (key, ts) tiebreak must NOT order by the whole payload struct:
    // a map field would fail analysis with "cannot be used in ordering".
    // With a map in the payload the tiebreak restricts to the orderable
    // fields; the as-of semantics are unchanged.
    val left = Seq((100L, 1L, new Timestamp(30L)))
      .toDF("id", "user_id", "ts")
    val right = Seq(
      (1L, new Timestamp(10L), 1L, Map("a" -> 1)),
      (1L, new Timestamp(20L), 2L, Map("b" -> 2)))
      .toDF("user_id", "ts", "right_id", "attrs")
    val got = TemporalJoins.asOfJoin(left, right, "user_id", "ts",
        rightPayload = Seq("right_id", "attrs"))
      .select($"id", $"asof_right_id", $"asof_attrs")
      .as[(Long, Option[Long], Map[String, Int])].collect().toSeq
    assert(got === Seq((100L, Some(2L), Map("b" -> 2))))
    // payload of ONLY unorderable columns: json-hash fallback, still works
    val got2 = TemporalJoins.asOfJoin(left, right, "user_id", "ts",
        rightPayload = Seq("attrs"))
      .select($"id", $"asof_attrs")
      .as[(Long, Map[String, Int])].collect().toSeq
    assert(got2 === Seq((100L, Map("b" -> 2))))
  }

  test("contaminationCounts: empty eval set and empty train set are empty") {
    val docs = Seq((1L, "some train document text here")).toDF("doc_id", "text")
    val none = docs.filter($"doc_id" < 0)
    assert(Dedup.contaminationCounts(docs, none, "doc_id", "text").count() === 0)
    assert(Dedup.contaminationCounts(none, docs, "doc_id", "text").count() === 0)
  }

  test("stratifiedPortable: unseen stratum gets the default rate; bad rates rejected") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "xx"))
      .toDF("id", "lang")
    val kept = graft.operators.Sampling.stratifiedPortable(
      df, col("id"), col("lang"), Map("en" -> 1000), defaultPerMille = 0, seed = 1L)
    // en fully kept, the unmapped stratum fully dropped by the default
    assert(kept.count() === 500 && kept.filter($"lang" === "xx").count() === 0)
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.stratifiedPortable(
        df, col("id"), col("lang"), Map("en" -> 1001), 0, 1L)
    }
  }

  test("round-7 retrieval/rerank ops: degenerate inputs stay sane") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // empty corpus → empty index → empty serve, no error
    val p = java.nio.file.Files.createTempDirectory("edge-idx").toString
    graft.operators.Retrieval.writeIndex(empty, "doc_id", "text", p)
    assert(graft.operators.Retrieval
      .searchIndex(spark, p, "doc_id", Seq("the")).count() === 0)
    // bm25 with an empty query-term set → empty scores
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    assert(graft.operators.Retrieval.bm25(docs, "doc_id", "text",
      Seq.empty[String].toDF("term")).count() === 0)
    // MMR with k larger than the candidate set returns all, ranked
    val cands = Seq((0L, 1L, Seq(1f, 0f), 0.9), (0L, 2L, Seq(0f, 1f), 0.5))
      .toDF("query_id", "vec_id", "embedding", "score")
    val mmr = graft.operators.Mmr.rerank(cands, "query_id", "vec_id",
        "embedding", "score", k = 10)
      .select("rank").as[Int].collect().sorted
    assert(mmr.toSeq === Seq(1, 2))
    // CMS: estimate of an unseen key over an empty sketch is 0
    val sk = graft.functions.Cms.emptySketch()
    assert(graft.functions.Cms.estimate(sk, 12345L) === 0L)
  }

  test("capPerGroupRanked: n >= group size keeps everything, ranked") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    val got = graft.operators.Sampling.capPerGroupRanked(
      df, "g", Seq(col("id")), 10)
    assert(got.count() === 3)
    assert(got.filter($"g" === "a").agg(max("rn")).head().getInt(0) === 2)
  }

  test("round-8 operators on empty / degenerate inputs") {
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    // DBSCAN with no ε-pairs: everything is noise
    val ids = (1L to 4L).toDF("id")
    val dbscan = graft.operators.Clustering
      .dbscanFromPairs(ids, "id", noPairs, "a", "b", minPts = 2)
      .as[(Long, Long, String)].collect()
    assert(dbscan.length === 4 &&
      dbscan.forall(t => t._2 === -1L && t._3 === "noise"))
    // adamic-adar on an empty / single-edge graph emits nothing
    assert(graft.operators.LinkAnalysis.adamicAdar(noPairs, "a", "b")
      .count() === 0)
    assert(graft.operators.LinkAnalysis
      .adamicAdar(Seq((1L, 2L)).toDF("a", "b"), "a", "b").count() === 0)
    // next-fit on an empty frame yields an empty, correctly-typed frame
    val emptyPack = graft.operators.Packing.nextFit(
      Seq.empty[(String, Long, Long)].toDF("g", "id", "sz"),
      "g", "id", "sz", 10L)
    assert(emptyPack.count() === 0 &&
      emptyPack.columns.toSeq === Seq("group", "id", "size", "seq_id"))
    // poisson bootstrap with 1 replicate keeps every row exactly once
    val rep = graft.operators.Sampling.poissonReplicates(
      Seq(1L, 2L).toDF("k0").select(col("k0").as("key")),
      col("key"), replicates = 1, seed = 1L)
    assert(rep.count() === 2 &&
      rep.select("replicate").distinct().as[Int].collect().toSeq === Seq(0))
    // modularity of an empty labeling/graph is an empty frame
    assert(graft.operators.LinkAnalysis.modularity(
        noPairs, "a", "b", Seq.empty[(Long, Long)].toDF("node", "label"))
      .count() === 0)
    // random walks on a single edge bounce deterministically
    val walks = graft.operators.LinkAnalysis.randomWalks(
        Seq((7L, 8L)).toDF("a", "b"), "a", "b",
        walksPerNode = 1, length = 3, seed = 1L)
      .as[(Long, Int, Int, Long)].collect().sortBy(t => (t._1, t._3))
    assert(walks.length === 8)
    walks.foreach { case (start, _, step, node) =>
      val expect = if (step % 2 == 0) start else (15L - start)
      assert(node === expect, s"walk from $start step $step")
    }
  }

  test("native approx profiling: HLL++ distinct and approx percentile " +
      "land within tolerance of exact (the A8 surface the replaced " +
      "q27_profile_approx exercised)") {
    // implementation-defined floats can't be oracle-hashed (why the query
    // was replaced by profile_approx_kmv) but the operators must still
    // work: 2% HLL++ default rsd, percentile_approx within one
    // accuracy-step of the exact interpolated percentile
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val row = li.agg(
      approx_count_distinct(col("l_partkey")).as("ad"),
      percentile_approx(col("l_quantity").cast("double"), lit(0.5),
        lit(10000)).as("ap"),
      countDistinct(col("l_partkey")).as("ed"),
      percentile(col("l_quantity"), lit(0.5)).as("ep")).head
    val (ad, ed) = (row.getLong(0), row.getLong(2))
    assert(math.abs(ad - ed.toDouble) / ed < 0.05, s"approx $ad vs exact $ed")
    assert(math.abs(row.getDouble(1) - row.getDouble(3)) <= 1.0,
      s"approx p50 ${row.getDouble(1)} vs exact ${row.getDouble(3)}")
  }

  test("AnnIvfInt degenerate shapes: iters=0 keeps seed centers; nlist > corpus") {
    import graft.operators.AnnIvfInt
    val rows = (0L until 5L).map(i =>
      (i, Array.fill(8)(if (i % 2 == 0) 1.0f else -1.0f), 0))
    val df = rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    // iters = 0: centers ARE the quantized seed vectors, assignment still
    // routes by argmax dot with lowest-cid ties
    val ix0 = AnnIvfInt.build(df, "vec_id", "embedding", nlist = 2, iters = 0)
    val c0 = ix0.centers.orderBy("cid").select($"cvec")
      .as[Seq[Long]].collect()
    assert(c0(0) === Seq.fill(8)(1000000L)) // seed id 0 (+1 vector)
    assert(c0(1) === Seq.fill(8)(-1000000L)) // seed id 1 (−1 vector)
    val asg0 = ix0.assigned.select($"vec_id", $"cid").as[(Long, Int)]
      .collect().toMap
    assert(asg0 === Map(0L -> 0, 2L -> 0, 4L -> 0, 1L -> 1, 3L -> 1))
    // nlist > corpus: only |corpus| seeds exist; build succeeds and every
    // vector routes to one of them
    val ixBig = AnnIvfInt.build(df, "vec_id", "embedding", nlist = 9, iters = 1)
    assert(ixBig.centers.count() === 5)
    assert(ixBig.assigned.count() === 5)
    // search still returns ranked neighbors
    val got = AnnIvfInt.search(ixBig, "vec_id", $"vec_id" === 0, k = 3,
      nprobe = 5)
    assert(got.count() === 3)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.SortedLongJaccard
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different content about spark engines and columnar formats"),
    (5L, "totally unrelated short text"))
    .toDF("doc_id", "text")

  test("exactGroups finds exact duplicate groups with min-id survivor") {
    val got = Dedup.exactGroups(docs, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 2L)))
  }

  test("dropExactDuplicates keeps one row per distinct text") {
    val got = Dedup.dropExactDuplicates(docs, "doc_id", "text")
    assert(got.count() === 4)
    assert(got.filter($"doc_id" === 2L).count() === 0)
  }

  test("jaccardPairs finds exact + near duplicates above threshold") {
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", shingleSize = 3, threshold = 0.5)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L))) // identical → jaccard 1.0
    assert(got.contains((1L, 3L)) && got.contains((2L, 3L))) // one word differs
    assert(!got.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhashPairs recovers the same high-similarity pairs") {
    val got = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("sortedNeighborhoodPairs: same-opening near-dups found, shifted opening missed") {
    // 1/2/3 share their first 3 tokens and sort adjacently; 6 is a near
    // dup of 1 whose opening differs -> different block -> missed (the
    // documented SNM recall caveat; LSH exists for exactly this case)
    val d = docs.union(Seq(
      (6L, "a shifted opening the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text"))
    val got = Dedup.sortedNeighborhoodPairs(d, "doc_id", "text",
        blockTokens = 3, window = 4, shingleSize = 3, threshold = 0.5)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)), got.toString)
  }

  test("sortedNeighborhoodPairs: window bounds candidates within a block") {
    // five docs in ONE block (same first 3 tokens), pairwise-similar; with
    // window=2 only rank-adjacent pairs are verified -> a chain, not a
    // clique; each unordered pair appears exactly once
    val block = (1L to 5L).map(i =>
      (i, s"common opening tokens body$i body$i filler filler filler filler"))
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(block, "doc_id", "text",
        blockTokens = 3, window = 2, shingleSize = 3, threshold = 0.1)
      .select("left_id", "right_id").as[(Long, Long)].collect()
    assert(pairs.length === pairs.distinct.length)
    assert(pairs.length === 4, s"rank-adjacent chain expected: ${pairs.mkString(",")}")
    val all = Dedup.sortedNeighborhoodPairs(block, "doc_id", "text",
        blockTokens = 3, window = 5, shingleSize = 3, threshold = 0.1)
      .count()
    assert(all === 10L, "window >= block size degrades to all-pairs in block")
  }

  test("simhashPairs flags near-identical token multisets") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, numBands = 4)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L))) // identical → hamming 0
    assert(!got.exists { case (a, b) => Set(a, b) == Set(4L, 5L) })
  }

  test("embeddingPairs thresholds on rounded cosine") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.99f, 0.14f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingPairs(vecs, "vec_id", "embedding", threshold = 0.9)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("IVF-bucketed cosine pairs: precision 1 vs exact, recall reported") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val exact = Dedup.embeddingPairs(emb, "vec_id", "embedding", threshold = 0.35)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val index = graft.operators.AnnIvf.build(emb, "vec_id", "embedding", nlist = 8, seed = 42L)
    val viaIndex = graft.operators.AnnIvf
      .cosinePairsViaIndex(index, "vec_id", "embedding", threshold = 0.35)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(viaIndex.subsetOf(exact)) // every returned pair is a true pair
    assert(exact.isEmpty || viaIndex.nonEmpty) // and the bucketing finds some
  }

  test("cosinePairsViaIndex: salt sub-bucketing leaves results unchanged on a 90%-hot corpus") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // degenerate routing: 1 centroid (nlist=1) → 100% of rows in ONE
    // partition, the shape that made the unsalted self-join a one-task
    // straggler. Forcing tiny targetRowsPerTask maximizes sub-bucketing.
    val index = graft.operators.AnnIvf.build(emb, "vec_id", "embedding", nlist = 1, seed = 42L)
    val salted = graft.operators.AnnIvf
      .cosinePairsViaIndex(index, "vec_id", "embedding", threshold = 0.35,
        targetRowsPerTask = 16, maxSalt = 16)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val unsalted = graft.operators.AnnIvf
      .cosinePairsViaIndex(index, "vec_id", "embedding", threshold = 0.35,
        targetRowsPerTask = Int.MaxValue)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(salted === unsalted)
    // with ONE partition holding everything, this equals the exact scan
    val exact = Dedup.embeddingPairs(emb, "vec_id", "embedding", threshold = 0.35)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(salted === exact)
  }

  test("cosinePairsViaIndex: the raw pre-filter keeps exactly the rows of round(dot, 6) >= threshold") {
    // values around each threshold ± 5e-7 (the rounding boundary) and
    // ± 1e-6 (the pre-filter's margin), each ± up to 2 ulps, plus the
    // non-finite and null scores
    val thresholds = Seq(0.99, 0.35, 0.5, 0.123456, -0.3, 0.9999995, 1.0)
    val values = thresholds.flatMap { t =>
      for (d <- Seq(0.0, 5e-7, -5e-7, 1e-6, -1e-6, 1.5e-6, -1.5e-6);
           u <- -2 to 2) yield {
        val x = t + d
        if (u >= 0) (0 until u).foldLeft(x)((v, _) => math.nextUp(v))
        else (0 until -u).foldLeft(x)((v, _) => math.nextDown(v))
      }
    } ++ Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val xs = (values.map(v => Option(v)) :+ None).toDF("x")
    for (t <- thresholds) {
      val old = xs.withColumn("score", round($"x", 6)).filter($"score" >= t)
      val got = graft.operators.AnnIvf.atLeastRounded(xs, $"x", t)
      assert(got.schema === old.schema)
      assert(got.collect().map(_.toString).sorted === old.collect().map(_.toString).sorted,
        s"threshold $t")
    }
  }

  test("cosinePairsViaIndex: partitions above maxPartitionRows are excluded") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = graft.operators.AnnIvf.build(emb, "vec_id", "embedding", nlist = 1, seed = 42L)
    val capped = graft.operators.AnnIvf
      .cosinePairsViaIndex(index, "vec_id", "embedding", threshold = 0.35,
        maxPartitionRows = 10) // the single partition holds 500 ≫ 10
    assert(capped.count() === 0)
  }

  test("simhash banding finds ALL pairs within maxHamming (pigeonhole completeness)") {
    val docs500 = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text")
    val corpus = docs500.unionByName(
      docs500.select(($"doc_id" + 100000).as("doc_id"),
        regexp_replace($"text", "^[^ ]+ ", "").as("text")))
    val viaBanding = Dedup.simhashPairs(corpus, "doc_id", "text",
        maxHamming = 3, numBands = 4)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    // brute force over collected signatures
    val sigs = corpus
      .withColumn("sim", graft.functions.TextOps.simhashUdf(
        transform(graft.functions.TextOps.tokens($"text"),
          t => graft.functions.TextOps.portableTokenHash64(t))))
      // Column-expression hash path: equals the fused-UDF path by the
      // portableTokenHash64 parity spec in TextOpsSpec
      .select("doc_id", "sim").as[(Long, Long)].collect()
    val bruteForce = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(viaBanding === bruteForce) // banding misses nothing ≤ maxHamming
  }

  test("minhash signature agreement estimates true jaccard (LSH premise)") {
    // doc pairs of graded overlap: i-th pair shares i/10 of its tokens
    val vocab = (0 until 200).map(i => s"tok$i")
    val pairs = (1 to 9).map { tenths =>
      val shared = vocab.take(tenths * 10)
      val aOnly = vocab.slice(100, 100 + (10 - tenths) * 5)
      val bOnly = vocab.slice(150, 150 + (10 - tenths) * 5)
      ((shared ++ aOnly).mkString(" "), (shared ++ bOnly).mkString(" "))
    }
    val df = pairs.toDF("ta", "tb")
      .withColumn("sa", graft.functions.TextOps.tokens($"ta"))
      .withColumn("sb", graft.functions.TextOps.tokens($"tb"))
      .withColumn("ha", sort_array(transform($"sa", t => xxhash64(t))))
      .withColumn("hb", sort_array(transform($"sb", t => xxhash64(t))))
    val sig = graft.functions.TextOps.minhashUdf(128)
    val got = df.select(
        graft.functions.SortedLongJaccard.sortedJaccard($"ha", $"hb").as("true_j"),
        zip_with(sig($"ha"), sig($"hb"), (x, y) => (x === y).cast("int")).as("agree"))
      .withColumn("est_j", aggregate($"agree", lit(0), (a, v) => a + v) / 128.0)
      .as[(Double, Seq[Int], Double)].collect()
    got.foreach { case (trueJ, _, estJ) =>
      assert(math.abs(trueJ - estJ) < 0.15,
        s"minhash estimate $estJ too far from true $trueJ")
    }
  }

  test("prefix-filtered jaccardPairs equals the cartesian form (sf0.001)") {
    val docs500 = spark.read.parquet(s"$sf0001/documents.parquet")
    def run(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = Seq(
      Dedup.jaccardPairs(docs500, "doc_id", "text", 3, 0.5, f),
      Dedup.jaccardPairsNaive(docs500, "doc_id", "text", 3, 0.5, f))
      .map(_.select("left_id", "right_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet)
    val Seq(gotBlocked, wantBlocked) = run(df => df.filter($"id" % 10 === 0))
    assert(gotBlocked === wantBlocked)
    assert(wantBlocked.nonEmpty) // the corpus really has near-dups
    val Seq(gotAll, wantAll) = run(identity) // and unblocked all-pairs
    assert(gotAll === wantAll)
  }

  test("prefix filter is exact down at low thresholds too") {
    // low threshold → short prefixes stress the ceil/ε guards
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    val want = Dedup.jaccardPairsNaive(docs, "doc_id", "text", 3, 0.2)
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got === want)
  }

  test("gemm embeddingPairs equals the cartesian form (sf0.001)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val f = (df: org.apache.spark.sql.DataFrame) => df.filter($"id" % 10 === 0)
    val got = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.35, f)
      .select("left_id", "right_id", "score").as[(Long, Long, Double)].collect().toSet
    val want = Dedup.embeddingPairsNaive(emb, "vec_id", "embedding", 0.35, f)
      .select("left_id", "right_id", "score").as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("embeddingPairs fails fast on non-integral ids and oversized left side") {
    val strIds = Seq(("x1", Seq(1f, 0f)), ("x2", Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Dedup.embeddingPairs(strIds, "vec_id", "embedding", 0.5).collect()
    }
    assert(e.getMessage.contains("integral") || e.getMessage.contains("CAST"),
      e.getMessage)
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.5, maxLeftRows = 1).collect()
    }
    assert(e2.getMessage.contains("maxLeftRows"))
  }

  test("simhash bucket cap drops degenerate buckets, leaves healthy corpora unchanged") {
    // degenerate: 300 identical docs → every bucket holds all 300 → capped out
    val degenerate = (0L until 300L).map(i => (i, "same boilerplate text every time"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashPairs(degenerate, "doc_id", "text",
      maxHamming = 3, numBands = 4, maxBucketSize = 128).count() === 0)
    // healthy: capped result identical to uncapped
    val docs500 = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text")
    val capped = Dedup.simhashPairs(docs500, "doc_id", "text", 3, 4, maxBucketSize = 1024)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.simhashPairs(docs500, "doc_id", "text", 3, 4,
        maxBucketSize = Int.MaxValue)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(capped === uncapped)
  }

  test("null-text docs neither crash nor pair: minhash/simhash/jaccard/snm") {
    // one null-text row in a corpus must not NPE a whole pass (the
    // shingle/simhash UDFs previously dereferenced the null token array);
    // it also must not invent pairs with real docs
    val withNull = docs.unionByName(
      Seq((99L, null: String)).toDF("doc_id", "text"))
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val mh = pairsOf(Dedup.minhashPairs(withNull, "doc_id", "text",
      shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5))
    assert(!mh.exists(p => p._1 == 99L || p._2 == 99L))
    val sh = pairsOf(Dedup.simhashPairs(withNull, "doc_id", "text",
      maxHamming = 3))
    assert(!sh.exists(p => p._1 == 99L || p._2 == 99L))
    val jp = pairsOf(Dedup.jaccardPairs(withNull, "doc_id", "text",
      shingleSize = 3, threshold = 0.5))
    assert(!jp.exists(p => p._1 == 99L || p._2 == 99L))
    assert(jp.nonEmpty) // the real near-dups still found
  }

  test("hamming64Pairs drops null signatures instead of crashing") {
    // the dHash path this operator documents yields null for undecodable
    // media; a null signature can match nothing
    val sigs = Seq((1L, java.lang.Long.valueOf(0L)),
      (2L, java.lang.Long.valueOf(1L)),
      (3L, null: java.lang.Long))
      .toDF("media_id", "sig")
    val got = Dedup.hamming64Pairs(sigs, "media_id", "sig", maxHamming = 3)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("jaccardPairs refuses a near-template prefix bucket loudly") {
    // docs {s, x_i}: every prefix contains the shared shingle s, zero
    // true pairs at t=0.8 — the exact shape where the prefix filter
    // cannot bound candidates; the guard must raise, not shuffle n^2/2
    val template = (0 until 200).map(i =>
      (i.toLong, s"aaa bbb ccc unique$i token$i word$i"))
      .toDF("doc_id", "text")
    // the guard raises from INSIDE the plan (raise_error), so the driver
    // sees a job-failure exception wrapping it — search the cause chain
    val e = intercept[Exception] {
      Dedup.jaccardPairs(template, "doc_id", "text",
        shingleSize = 3, threshold = 0.8, maxBucketPairs = 1000L).count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("maxBucketPairs"), msgs)
    // same corpus with the guard at its default passes (small n here)
    Dedup.jaccardPairs(template, "doc_id", "text",
      shingleSize = 3, threshold = 0.8).count()
  }

  test("sortedNeighborhoodCandidates refuses a corpus-sized hot block") {
    val boiler = (0 until 100).map(i =>
      (i.toLong, s"copyright all rights reserved document $i"))
      .toDF("doc_id", "text")
    val e = intercept[RuntimeException] {
      Dedup.sortedNeighborhoodCandidates(boiler, "doc_id", "text",
        blockTokens = 3, window = 4, maxBlockRows = 50L).count()
    }
    assert(e.getMessage.contains("maxBlockRows"), e.getMessage)
    // default bound leaves the small corpus untouched
    assert(Dedup.sortedNeighborhoodCandidates(boiler, "doc_id", "text",
      blockTokens = 3, window = 4).count() > 0)
  }

  test("SortedLongJaccard matches set-based jaccard on random inputs") {
    val g = for {
      a <- Gen.listOf(Gen.chooseNum(-50L, 50L)).map(_.distinct.sorted)
      b <- Gen.listOf(Gen.chooseNum(-50L, 50L)).map(_.distinct.sorted)
    } yield (a, b)
    val cases = (0 until 100)
      .map(i => g.apply(Gen.Parameters.default, Seed(i.toLong)).get)
    val got = cases.toDF("a", "b")
      .select(SortedLongJaccard.sortedJaccard($"a", $"b"))
      .as[Double].collect()
    got.zip(cases).foreach { case (j, (a, b)) =>
      val sa = a.toSet; val sb = b.toSet
      val want =
        if (sa.isEmpty && sb.isEmpty) 1.0
        else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      assert(j === want, s"jaccard($a, $b)")
    }
  }

  test("contaminationCounts flags planted 5-gram overlap, not clean docs") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // shares a 5-gram run with eval 10
      (2L, "one two three four five six seven"),             // clean
      (3L, "tiny doc"))                                      // < n tokens, clean
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, "prefix alpha beta gamma delta epsilon suffix"),
      (11L, "unrelated benchmark prompt text entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationCounts(train, eval, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    // train 1 and eval 10 share exactly the gram "alpha beta gamma delta epsilon"
    assert(got === Map(1L -> 1L))

    // the whole-doc fallback for sub-n docs still matches exactly
    val evalTiny = Seq((12L, "tiny doc")).toDF("doc_id", "text")
    val got2 = Dedup.contaminationCounts(train, evalTiny, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(got2 === Map(3L -> 1L))
  }

  test("contaminationCounts equals a set-based reference on random corpora") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.chooseNum(1, 8).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))
    def corpus(seed: Long, n: Int, base: Long): Seq[(Long, String)] =
      (0 until n).map(i => (base + i,
        doc.apply(Gen.Parameters.default, Seed(seed + i)).get))
    def grams(text: String, n: Int): Set[String] = {
      val toks = text.split(" ").toSeq
      if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    for (trial <- 0 until 3) {
      val trainDocs = corpus(trial * 1000L, 30, 0L)
      val evalDocs = corpus(trial * 1000L + 500L, 10, 100L)
      val evalGrams = evalDocs.flatMap(d => grams(d._2, 3)).toSet
      val want = trainDocs
        .map { case (id, t) => id -> grams(t, 3).count(evalGrams.contains).toLong }
        .filter(_._2 > 0).toMap
      val got = Dedup.contaminationCounts(
          trainDocs.toDF("doc_id", "text"), evalDocs.toDF("doc_id", "text"),
          "doc_id", "text", n = 3)
        .as[(Long, Long)].collect().toMap
      assert(got === want, s"trial $trial")
    }
  }

  test("semantic dedup: near-identical embedding groups keep one, distinct survive") {
    // two tight semantic groups (unit vectors a hair apart) + isolated
    // vectors: SemDeDup must keep exactly one per group and everything else
    val rnd = new scala.util.Random(7)
    def unit(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def jitter(v: Array[Float]): Array[Float] = {
      val w = v.map(x => x + (rnd.nextGaussian() * 1e-3).toFloat)
      val n = math.sqrt(w.map(x => x.toDouble * x).sum).toFloat
      w.map(_ / n)
    }
    val g1 = unit(16); val g2 = unit(16)
    val rows =
      Seq(10L -> g1, 11L -> jitter(g1), 12L -> jitter(g1),
          20L -> g2, 21L -> jitter(g2)) ++
        (30L to 39L).map(i => i -> unit(16))
    val emb = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val index = graft.operators.AnnIvf.build(emb, "vec_id", "embedding",
      nlist = 4, seed = 42L)
    val got = Dedup.semanticAssignment(index, "vec_id", "embedding",
        threshold = 0.99)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    val byId = got.map(r => r._1 -> r).toMap
    // group members collapse to the min-id component and only it keeps
    assert(byId(10L)._2 === 10L && byId(10L)._3 === 1)
    assert(byId(11L)._2 === 10L && byId(11L)._3 === 0)
    assert(byId(12L)._2 === 10L && byId(12L)._3 === 0)
    assert(byId(20L)._2 === 20L && byId(20L)._3 === 1)
    assert(byId(21L)._2 === 20L && byId(21L)._3 === 0)
    // isolated vectors are their own kept singletons
    (30L to 39L).foreach { i =>
      assert(byId(i)._2 === i && byId(i)._3 === 1, s"id $i")
    }
    assert(got.length === rows.length)
  }
}

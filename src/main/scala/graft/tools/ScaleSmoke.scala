package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{AnnIvf, Dedup, Knn, ServingCache}
import graft.queries.{dec, table}

/** Scale-headroom smoke: replicate sf0.1 Nx with key-shifted copies (join
  * keys stay consistent within each replica) and time the headline
  * operator shapes — evidence that the plans scale linearly rather than
  * degrade (shuffle explosions, driver collects, quadratic candidate
  * spaces would all show here).
  *
  * Usage: SPARK_GRAFT_SCALE=10 runMain graft.tools.ScaleSmoke
  * Optional: SPARK_GRAFT_SECTIONS=stream,serving runs only the named
  * sections (comma-separated substrings) — the others are skipped
  * including their setup work, for iterating on one section.
  */
object ScaleSmoke {
  private val sections: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_SECTIONS")
      .map(_.split(',').toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty))

  /** Runs `body` unless SPARK_GRAFT_SECTIONS is set and no entry is a
    * substring of `name`. */
  def section(name: String)(body: => Unit): Unit =
    if (sections.forall(_.exists(s => name.toLowerCase.contains(s)))) body

  /** Like [[time]] but returns the elapsed seconds (for Nx/1x factors). */
  def timed(label: String)(f: => Long): Double = {
    val t0 = System.nanoTime()
    val n = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[scale] $label%-34s $s%7.2f s   ($n rows)")
    s
  }

  def time(label: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s   ($n rows)")
  }

  def replicate(df: DataFrame, keyCols: Seq[String], copies: Int): DataFrame =
    df.withColumn("__rep", explode(sequence(lit(0L), lit(copies - 1L))))
      .select(df.columns.map {
        case c if keyCols.contains(c) =>
          (col(c) + col("__rep") * 1000000000L).as(c)
        case c => col(c)
      }: _*)

  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val dir = "/root/testdata/sf0.1"
    // core count honored so a 32-vs-8 pair of runs on the SAME replicated
    // working set demonstrates core scaling (r18 verdict #2: at sf0.1 the
    // bench's own 8-vs-32 ratios are fixed-cost-bound and read ≈1; the
    // replicated set is big enough for the ratio to mean something)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      // local smoke only: the per-delta-file checksum side-writes serialize
      // state-store commits on this sandbox's tmpfs (tasks park in
      // ChecksumCancellableFSDataOutputStream.close for seconds); durability
      // checksums are a cluster concern, not a local-smoke one
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val li = replicate(table(spark, dir, "lineitem"), Seq("l_orderkey"), copies)
    val orders = replicate(table(spark, dir, "orders"), Seq("o_orderkey", "o_custkey"), copies)
    val cust = replicate(table(spark, dir, "customer"), Seq("c_custkey"), copies)
    val emb = replicate(table(spark, dir, "embeddings"), Seq("vec_id"), copies)
    val docs = replicate(table(spark, dir, "documents"), Seq("doc_id"), copies)

    println(s"[scale] ${copies}x sf0.1: lineitem=${li.count()} orders=${orders.count()} " +
      s"embeddings=${emb.count()} documents=${docs.count()}")

    section("relational") {
    time("q1-shape full-scan aggregate") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(dec(col("l_quantity"))), count(lit(1))).count()
    }
    time("3-way star join + aggregate") {
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
        .count()
    }
    time("window rank top-3 per customer") {
      import org.apache.spark.sql.expressions.Window
      orders.withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))))
        .filter(col("rn") <= 3).count()
    }
    }
    section("knn") {
    time(s"brute-force KNN 100 queries (crossJoin plan)") {
      Knn.bruteForce(emb, emb.filter(col("vec_id") < 100),
        "vec_id", "vec_id", "embedding", k = 10,
        score = (a, b) => VectorOps.dot(a, b)).count()
    }
    time(s"brute-force KNN 100 queries (blocked mapPartitions)") {
      Knn.bruteForceBlocked(emb, emb.filter(col("vec_id") < 100),
        "vec_id", "vec_id", "embedding", k = 10).count()
    }
    time("IVF build (assign all) + nprobe search") {
      val index = AnnIvf.build(emb, "vec_id", "embedding",
        nlist = AnnIvf.defaultNlist(copies * 2000L), seed = 42L)
      AnnIvf.search(index, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 10, nprobe = 4).count()
    }
    }
    section("dedup") {
    time("minhash LSH near-dup pairs") {
      Dedup.minhashPairs(docs, "doc_id", "text",
        shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5).count()
    }
    // decontamination at scale: grams explode linearly in corpus tokens
    // and meet in one 64-bit-hash equi-join — no pair space, no
    // broadcast of the train side
    time("decontamination vs 10% eval slice") {
      Dedup.contaminationCounts(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 7),
        docs.filter(pmod(col("doc_id"), lit(10)) === 7),
        "doc_id", "text", n = 5).count()
    }
    }
    section("curation") {
    // PCA: one treeAggregate pass (d² accumulator per task) + driver
    // eigensolve independent of n; projection is a scan-local map
    time("PCA fit (one pass) + project") {
      val m = graft.operators.EmbeddingPca.fit(emb, "embedding", k = 8)
      emb.select(graft.operators.EmbeddingPca.project(m, col("embedding"))).count()
    }
    // >512-d corpora take the row-block-sharded moment layout
    // (EmbeddingPcaInt r13): per-partition local pass over the ragged
    // upper triangle, ~2 MB block records merged distributed via
    // reduceByKey — no d²-long object is ever serialized. 768-d here =
    // 12 deterministically-rescaled copies of the 64-d embedding, so
    // the corpus-sized pass is ~n·d²/2 exact-long multiply-adds.
    time("int PCA fitPower 768-d (blocked moment layout)") {
      val wide = emb.select(col("vec_id"),
        flatten(array((0 until 12).map(k =>
          transform(col("embedding"),
            x => x / lit((k + 1).toDouble))): _*)).as("embedding"))
      val pm = graft.operators.EmbeddingPcaInt
        .fitPower(wide, "embedding", rounds = 6)
      require(pm.vector.length == 768 && pm.lambdaQ > 0L,
        s"768-d power model malformed: d=${pm.vector.length}")
      pm.n
    }
    // the one-call corpus chain: every stage is hash-shuffle / banded-LSH
    // shaped, so the whole pipeline should track the minhash line above
    time("corpus prep end-to-end (dedup→gate→split→pack)") {
      graft.operators.CorpusPrep.prepare(docs, "doc_id", "text", "lang").count()
    }
    // full-option chain: + perceptual payload dedup (banded 64-bit join)
    // and RAG chunk-grain output (scan-local explode) — both stages are
    // linear in corpus size, so this should track the base line above
    // plus the per-doc PNG encode/decode cost
    time("corpus prep + phash dedup + RAG chunking") {
      val pngUdf = udf { (id: Long) =>
        graft.operators.Multimodal.encodePng(id % 1000, perturb = false) }
      graft.operators.CorpusPrep.prepare(
        docs.withColumn("payload", pngUdf(col("doc_id").cast("long"))),
        "doc_id", "text", "lang",
        cfg = graft.operators.CorpusPrep.Config(ragChunkWin = 64, ragChunkStride = 48),
        mediaPayloadCol = Some("payload")).count()
    }
    // round-7 curation stages: each is explode-linear + one equi-join /
    // tiny-broadcast shaped, so all four should track the corpus size,
    // not any pair space
    time("unigram-LM cross-entropy scoring") {
      graft.operators.TextScoring
        .unigramCrossEntropy(docs, "doc_id", "text").count()
    }
    time("DSIR log-weights vs English slice") {
      graft.operators.TextScoring.dsirLogWeights(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text").count()
    }
    time("winnowed substring-dedup candidates") {
      Dedup.winnowCandidates(docs, "doc_id", "text").count()
    }
    time("chunk dedup (C4 span removal) + reassembly") {
      Dedup.dropRepeatedChunks(docs, "doc_id", "text").count()
    }
    time("temperature keep (alpha=1/2) per language") {
      graft.operators.Sampling
        .temperatureKeep(docs, "lang", col("doc_id"), seed = 11L)
        .filter(col("keep") === 1).count()
    }
    }
    // lexical retrieval at scale: the index build is the pay-once corpus
    // pass (explode + two term-shuffles); SERVING then reads only the
    // query terms' postings (static In(term) pushdown on the range-sorted
    // layout), so the serve line should be near-constant in corpus size
    // while inline BM25 re-pays the corpus pass per query
    section("retrieval") {
      import spark.implicits._
      val idxPath = java.nio.file.Files
        .createTempDirectory("scale-bm25-idx").toString
      val queryTerms = Seq("the", "spark", "window", "merge", "batch")
      time("inverted-index build (postings+df+doclen+stats)") {
        graft.operators.Retrieval.writeIndex(docs, "doc_id", "text", idxPath)
        spark.read.parquet(s"$idxPath/postings").count()
      }
      time("BM25 serve from index (5 query terms)") {
        graft.operators.Retrieval
          .searchIndex(spark, idxPath, "doc_id", queryTerms).count()
      }
      time("BM25 inline (re-pays the corpus pass)") {
        graft.operators.Retrieval.bm25(docs, "doc_id", "text",
          queryTerms.toDF("term")).count()
      }
      time("MMR rerank tail over 100-query candidate sets") {
        val cands = Knn.bruteForceBlocked(emb, emb.filter(col("vec_id") < 100),
            "vec_id", "vec_id", "embedding", k = 20)
          .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        graft.operators.Mmr.rerank(cands, "query_id", "vec_id",
          "embedding", "score", k = 10).count()
      }
    }
    // connected components on a dedup-shaped graph at scale: one deep
    // component (binary tree over 100k nodes — O(log n) star-contraction
    // rounds) + ~(2M/50) 50-node clusters. Checks the round count stays
    // logarithmic (maxIter=50 aborts if not) and the label algebra is
    // exact at scale, not just in the unit spec.
    section("components") {
      val nStar = copies.toLong * 200000L
      val tree = spark.range(1L, 100001L)
        .select(col("id").as("left_id"), expr("id div 2").as("right_id"))
      val stars = spark.range(100050L, nStar)
        .select(col("id").as("left_id"),
          (col("id") - pmod(col("id"), lit(50L))).as("right_id"))
      val edges = tree.unionByName(stars)
      val expected = 1L +
        stars.filter(col("left_id") =!= col("right_id"))
          .select("right_id").distinct().count()
      time(s"connected components, ${nStar / 1000000.0}M-edge mixed graph") {
        val st = graft.operators.Components
          .connectedComponentsStats(edges, "left_id", "right_id")
        val distinctComps = st.assignment.select("component").distinct().count()
        require(distinctComps == expected,
          s"component count $distinctComps != expected $expected")
        println(s"[scale]   (components fixpoint in ${st.rounds} rounds, " +
          s"${st.edges} star edges)")
        st.assignment.count()
      }
    }
    // link analysis at scale: a power-law-ish multigraph (dst drawn by a
    // mixing hash mod a SKEWED bucket count so a few nodes take ~1000x
    // the median in-degree — the web-graph regime). Checks the adjacency
    // substrate holds when edges >> nodes and in-degree is skewed: rounds
    // stay node-sized shuffles, ranks exact, hot nodes dominate.
    section("pagerank") {
      val mEdges = copies.toLong * 1000000L
      val nNodes = 1000000L
      // src uniform; dst: 1-in-20 edges land on a 1k-node hot set
      val edges = spark.range(0L, mEdges).select(
        pmod(expr("xxhash64(id, 1)"), lit(nNodes)).as("src"),
        when(pmod(col("id"), lit(20)) === 0,
            pmod(expr("xxhash64(id, 2)"), lit(1000L)))
          .otherwise(pmod(expr("xxhash64(id, 3)"), lit(nNodes))).as("dst"))
      // dominance sharpens with edge density: at 10x the hot set owns
      // >90% of the top ranks; at the 2x dev scale background noise is
      // ~2 in-links per node and ~75% is the observed plateau
      val wantHot = if (copies >= 5) 900L else 600L
      time(s"pagerank 5 iters, ${mEdges / 1000000.0}M-edge skewed graph") {
        val pr = graft.operators.LinkAnalysis
          .pageRank(edges, "src", "dst", iterations = 5)
        val top = pr.orderBy(desc("pr")).limit(1000)
          .filter(col("node") < 1000L).count()
        require(top > wantHot,
          s"hot set should dominate the top ranks, got $top/1000")
        pr.count()
      }
      // mega-hub: one source with ~1M distinct out-edges spans ~16
      // block records of the 64 Ki-entry budget — no record holds the
      // full out-list, and ranks are bit-identical to any other layout
      time(s"pagerank 5 iters, mega-hub source (~1M out-degree)") {
        val hubEdges = spark.range(0L, mEdges).select(
            lit(-1L).as("src"),
            (pmod(col("id"), lit(nNodes - 1)) + 1L).as("dst"))
          .unionAll(edges)
        graft.operators.LinkAnalysis
          .pageRank(hubEdges, "src", "dst", iterations = 5).count()
      }
      time(s"hits 3 iters, ${mEdges / 1000000.0}M-edge skewed graph") {
        val hs = graft.operators.LinkAnalysis
          .hits(edges, "src", "dst", iterations = 3)
        val topAuth = hs.orderBy(desc("auth")).limit(1000)
          .filter(col("node") < 1000L).count()
        require(topAuth > wantHot,
          s"hot set should dominate authority, got $topAuth/1000")
        hs.count()
      }
      // peeling depth, not |V|, bounds the rounds. The core that survives
      // is the bulk of the uniform part, not the hot set: a hot node's
      // neighbours are uniform sources of mean degree c ≈ 2·m/n, so it
      // keeps only what they keep. A random graph has a giant k-core once
      // c clears a threshold (≈3.35 for k=3, about 11 for k=8); c ≈ 4 at
      // the 2x dev scale, where k=8 would peel everything away and time
      // peel-to-empty, and ≈ 20 at 10x
      val coreK = if (2 * mEdges / nNodes >= 16) 8 else 3
      time(s"k-core (k=$coreK), ${mEdges / 1000000.0}M-edge skewed graph") {
        val core = graft.operators.LinkAnalysis
          .kCore(edges, "src", "dst", k = coreK).count()
        require(core > 0L, s"the $coreK-core should survive, got $core nodes")
        core
      }
      // each LPA round is one vote shuffle of per-task (node, label)
      // counts; the hot set's density pulls labels together, so
      // communities << nodes
      time(s"label propagation 4 rounds, ${mEdges / 1000000.0}M-edge skewed graph") {
        val lp = graft.operators.LinkAnalysis
          .labelPropagation(edges, "src", "dst", iterations = 4)
        val (nodes, labels) = (lp.count(),
          lp.select("label").distinct().count())
        require(labels < nodes / 2,
          s"plurality voting should coalesce labels, got $labels/$nodes")
        nodes
      }
      // frontier BFS: O(E) total across rounds. Mean degree is
      // 2·m/n ≈ 4 at the 2x dev scale, so the 3-hop ball from a hot
      // node (~in-degree m/20k) is ball ≈ deg·(branching)² — orders of
      // magnitude beyond the direct neighborhood but far from covering
      // a 1M-node graph (that takes ~log_b n ≈ 13 hops); assert the
      // expansion, not coverage
      time(s"BFS 3 hops from a hot node, ${mEdges / 1000000.0}M-edge skewed graph") {
        val d = graft.operators.LinkAnalysis
          .bfsHops(edges, "src", "dst", source = 0L, maxHops = 3)
        val reached = d.count()
        require(reached > 1000L,
          s"3-hop ball should far exceed the hot node's degree, got $reached")
        reached
      }
    }
    // IVF skew: force 90% of vectors into ONE partition, then compare the
    // co-partitioned knnJoin on an unsalted vs salted durable layout — the
    // salt spreads the hot partition's join work over writeSalt reducers
    // NB: AQE's skew-join split is BYTE-sized (256 MB default); a hot ANN
    // partition is FLOP-skewed at tiny byte size, so only the stored salt
    // spreads it
    section("skew-ivf-join") {
      val base = AnnIvf.build(emb, "vec_id", "embedding", nlist = 16, seed = 42L)
      val skewed = AnnIvf.Index(
        base.assigned.withColumn("partition_id",
          when(pmod(col("vec_id"), lit(10)) < 9, lit(0)).otherwise(col("partition_id"))),
        base.centroids)
      Seq(1, 8).foreach { salt =>
        val dir = java.nio.file.Files.createTempDirectory(s"skewivf$salt").toString
        AnnIvf.write(skewed, dir, writeSalt = salt)
        val idx = AnnIvf.read(spark, dir)
        time(s"skewed-partition knnJoin, salt=$salt") {
          AnnIvf.knnJoin(idx, "vec_id", "embedding", k = 3, nprobe = 2).count()
        }
      }
    }
    // same 90%-hot shape through the within-partition pair scan: unsalted,
    // the hot partition's n²/2 cosine pairs run in ONE task; the adaptive
    // sub-bucket salt spreads them over maxSalt reducer keys with
    // identical results (DedupSpec equality)
    section("skew-ivf-pairs") {
      val base = AnnIvf.build(emb, "vec_id", "embedding", nlist = 16, seed = 42L)
      val skewed = AnnIvf.Index(
        base.assigned.withColumn("partition_id",
          when(pmod(col("vec_id"), lit(10)) < 9, lit(0)).otherwise(col("partition_id"))),
        base.centroids)
      time("skewed cosinePairsViaIndex, unsalted") {
        AnnIvf.cosinePairsViaIndex(skewed, "vec_id", "embedding",
          threshold = 0.9, targetRowsPerTask = Int.MaxValue).count()
      }
      time("skewed cosinePairsViaIndex, salted") {
        AnnIvf.cosinePairsViaIndex(skewed, "vec_id", "embedding",
          threshold = 0.9, targetRowsPerTask = 1 << 12, maxSalt = 32).count()
      }
    }

    // serving cache over a durable index at scale: an LRU resident set
    // smaller than nlist, driven by repeated probe batches — later rounds
    // must HIT (no re-scan of a resident partition), the resident set
    // stays ≤ cap with evictions doing the bounding, and lazy mode skips
    // the per-cold-partition count() job (first-query latency)
    section("serving") {
      val cdir = java.nio.file.Files.createTempDirectory("servingcache").toString
      val index = AnnIvf.build(emb, "vec_id", "embedding", nlist = 16, seed = 42L)
      AnnIvf.write(index, cdir)
      val durable = AnnIvf.read(spark, cdir)
      Seq(true, false).foreach { eager =>
        val cache = new ServingCache(durable, maxCachedPartitions = 4,
          eagerLoad = eager)
        time(s"serving cache: 6 probe rounds, cap 4/16, eager=$eager") {
          var n = 0L
          (0 until 6).foreach { i =>
            val q = emb.filter(col("vec_id") === (i % 3).toLong)
            n += cache.search(q, "vec_id", "embedding", k = 10, nprobe = 3).count()
          }
          require(cache.hits.value > 0,
            s"repeated probes must hit the cache (hits=${cache.hits.value})")
          require(cache.cachedPartitions.size <= 4,
            s"resident set exceeded cap: ${cache.cachedPartitions}")
          require(cache.misses.value > cache.evictions.value,
            "evictions cannot exceed loads")
          cache.invalidate()
          n
        }
      }
    }

    // index maintenance: the 90%-hot add-after-train cell iterated back
    // under a row cap with splitHotCells — probes then scan ≤cap rows
    // instead of the whole hot cell, which is where serving time goes
    section("maintain") {
      val base = AnnIvf.build(emb, "vec_id", "embedding", nlist = 16, seed = 42L)
      val skewed = AnnIvf.Index(
        base.assigned.withColumn("partition_id",
          when(pmod(col("vec_id"), lit(10)) < 9, lit(0)).otherwise(col("partition_id"))),
        base.centroids)
      def maxCell(ix: AnnIvf.Index): Long =
        ix.assigned.groupBy("partition_id").count()
          .agg(max("count")).head().getLong(0)
      val cap = 2048L
      val q = emb.filter(col("vec_id") < 64)
      // the scale-true serving metric: rows the probed cells force
      // through scoring (∝ IO + FLOPs per query batch at cluster scale;
      // local timing at 20k rows is dominated by job overhead instead)
      def probedRows(ix: AnnIvf.Index): Long =
        AnnIvf.probePartitions(ix, q, "vec_id", "embedding", nprobe = 3)
          .join(ix.assigned, Seq("partition_id")).count()
      time(s"skewed search pre-split (max cell ${maxCell(skewed)}, " +
          s"probed rows ${probedRows(skewed)})") {
        AnnIvf.search(skewed, q, "vec_id", "embedding", k = 10, nprobe = 3).count()
      }
      var ix = skewed
      time(s"iterated splitHotCells to cap $cap") {
        var rounds = 0
        while (maxCell(ix) > cap && rounds < 16) {
          ix = AnnIvf.splitHotCells(ix, "vec_id", "embedding", cap)
          rounds += 1
        }
        require(maxCell(ix) <= cap, s"split did not converge: max ${maxCell(ix)}")
        ix.centroids.count()
      }
      time(s"skewed search post-split (max cell ${maxCell(ix)}, " +
          s"probed rows ${probedRows(ix)})") {
        AnnIvf.search(ix, q, "vec_id", "embedding", k = 10, nprobe = 3).count()
      }
    }

    // streaming near-dup under sustained load (ST4 at scale): micro-batches
    // of fresh docs stream through the TTL'd band-bucket state store. The
    // scale contract this checks: per-batch latency tracks the BATCH size,
    // not the stream age, and the state store stays BOUNDED — the
    // processing-time TTL evicts idle buckets instead of accumulating one
    // bucket per band key for the life of the stream.
    section("stream") {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      import scala.jdk.CollectionConverters._
      val batches = 6
      val perBatch = 1500
      val ttlMs = 1500L
      val src = java.nio.file.Files.createTempDirectory("neardup-sustained").toString
      val corpus = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      def slice(i: Int): DataFrame =
        corpus.filter(pmod(col("doc_id"), lit(batches.toLong)) === i.toLong)
          .limit(perBatch)
      slice(0).coalesce(1).write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      // NB: with ProcessingTimeTimeout registered, the engine schedules a
      // batch EVERY trigger forever (FlatMapGroupsWithStateExec
      // .shouldRunAnotherBatch is unconditionally true for processing-time
      // timers, so timed-out groups get evicted without new data) — which
      // also means processAllAvailable() never observes a no-new-data
      // trigger and would block forever. The feed below is paced by a
      // listener counting DATA batches instead, and the explicit 500 ms
      // trigger keeps the timer-only batches from busy-looping.
      val progress =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          progress.add((p.numInputRows,
            p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L),
            p.batchDuration))
        }
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      // state partition count is pinned at query start from the session
      // conf; 8 keeps the per-batch checkpoint-file count (and the chmod
      // fork per file on a no-native-Hadoop local fs) proportionate to
      // this single-node smoke
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val q = graft.streaming.EventStreams
        .nearDupMatches(stream, "doc_id", "text",
          shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5,
          stateTtlMs = ttlMs)
        .toDF().writeStream
        .format("memory").queryName("neardup_sustained")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
        .outputMode("append").start()
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      def dataBatches: Vector[(Long, Long, Long)] =
        progress.asScala.toVector.filter(_._1 > 0)
      def awaitDataBatches(n: Int): Unit = {
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (dataBatches.length < n && System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(100)
        }
        require(dataBatches.length >= n,
          s"stream stalled waiting for data batch $n (have ${dataBatches.length})")
      }
      time(s"streaming near-dup: $batches batches of $perBatch, TTL ${ttlMs}ms") {
        awaitDataBatches(1)
        (1 until batches).foreach { i =>
          slice(i).coalesce(1).write.mode("append").parquet(src)
          awaitDataBatches(i + 1)
          // mid-stream idle gap longer than the TTL: buckets last touched
          // before it become evictable at the next timer batch
          if (i == batches / 2) Thread.sleep(ttlMs + 500)
        }
        Thread.sleep(ttlMs + 500)
        // one trailing 1-doc batch records post-eviction state size in a
        // progress row (timer-only batches already evicted during the gap)
        corpus.limit(1).coalesce(1).write.mode("append").parquet(src)
        awaitDataBatches(batches + 1)
        val data = dataBatches
        val stateRows = data.map(_._2)
        val durMs = data.map(_._3)
        println(s"[scale]   (state rows per data batch: ${stateRows.mkString(",")}; " +
          s"batch ms: ${durMs.mkString(",")})")
        require(stateRows.last * 4 < stateRows.max,
          s"TTL did not bound the state store: ${stateRows.mkString(",")}")
        // latency stability: steady-state batches (drop the first, which
        // pays state-store init, and the trailing 1-doc batch) stay within
        // a loose factor of each other — no growth with stream age
        val steady = durMs.drop(1).dropRight(1)
        if (steady.length >= 2)
          require(steady.max <= steady.min * 8 + 2000,
            s"per-batch latency drifted: ${durMs.mkString(",")}")
        val n = spark.table("neardup_sustained").count()
        // stop() interrupts the in-flight timer batch; its aborted state
        // commit logs ERROR-level noise that means nothing here
        spark.sparkContext.setLogLevel("OFF")
        q.stop()
        spark.sparkContext.setLogLevel("ERROR")
        spark.streams.removeListener(listener)
        n
      }
    }

    // skew: 95% of rows in ONE group; countDistinct forces the full key
    // entity resolution at scale: Ed-Join prefix filtering must keep the
    // candidate space near-linear (no cartesian) even with every name
    // duplicated once with a typo; components + survivorship ride on the
    // pair graph, which is tiny next to the corpus
    section("entity") {
    // the replicated corpus duplicates every name `copies`× verbatim —
    // exactly the regime FuzzyJoin.selfPairs' contract routes through an
    // exact-dedup first (N identical strings legitimately produce N²/2
    // pairs); so the pipeline is: cheap hash-dedup to distinct names →
    // fuzzy pairs on the distinct set → resolve → fan results back over
    // the full record set by name. That's the real ER shape at scale:
    // fuzzy work is priced in DISTINCT values, not records. (The
    // synthetic part vocabulary collapses 200k records to ~576 distinct
    // names — same corpus artifact as the winnow/phash density notes;
    // the SHAPE of the pipeline is the evidence here, real name pools
    // are far wider and stay linear under the prefix filter.)
    val records = replicate(table(spark, dir, "part"), Seq("p_partkey"), copies)
      .select(col("p_partkey").as("id"), col("p_name").as("name"))
    val variants = records
      .withColumn("pos", pmod(col("id"), greatest(length(col("name")) - 1, lit(1))) + 1)
      .select((col("id") + 10000000000L).as("id"),
        expr("concat(substr(name, 1, CAST(pos AS INT) - 1), substr(name, CAST(pos AS INT) + 1))").as("name"))
    val entities = records.unionByName(variants).localCheckpoint(true)
    val distinctNames = entities
      .groupBy("name").agg(min(col("id")).as("id"))
      .localCheckpoint(true)
    var pairs: DataFrame = null
    time("exact name dedup (records -> distinct)") { distinctNames.count() }
    time("fuzzy selfPairs on distinct names (Ed-Join, d<=1)") {
      pairs = graft.operators.FuzzyJoin
        .selfPairs(distinctNames, "id", "name", maxDist = 1)
        .localCheckpoint(true)
      pairs.count()
    }
    time("components + survivorship fan-back over all records") {
      val cc = graft.operators.Components
        .connectedComponentsAuto(pairs, "left_id", "right_id")
      val canon = distinctNames
        .join(cc.withColumnRenamed("component", "__cc"), Seq("id"), "left")
        .select(col("name"), coalesce(col("__cc"), col("id")).as("entity_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("entity_id")
        .orderBy(length(col("name")).desc, col("id").asc)
      entities.join(canon, Seq("name"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).count()
    }
    }
    // incremental MV maintenance: the delta fold must cost delta-sized
    // work, not base-sized — the merge shuffles |groups| + |delta groups|
    // rows regardless of how many rows built the base state
    section("mview") {
    val keys = Seq("l_returnflag", "l_linestatus")
    var st: DataFrame = null
    time("mview init over the full fact table") {
      st = graft.operators.Mview.init(li, keys, "l_extendedprice")
        .localCheckpoint(true)
      st.count()
    }
    val delta = table(spark, dir, "lineitem").limit(50000)
    time("fold a 50k-row delta into the state") {
      st = graft.operators.Mview
        .merge(st, graft.operators.Mview.init(delta, keys, "l_extendedprice"), keys)
        .localCheckpoint(true)
      st.count()
    }
    time("full from-scratch reaggregate (the cost avoided)") {
      graft.operators.Mview.init(li.unionByName(delta), keys, "l_extendedprice").count()
    }
    }
    // perceptual-hash image dedup: decode+hash is scan-local (the only
    // corpus pass); the banded pair join touches 8 chunk buckets per
    // image — linear fan-out, no pair space
    section("phash") {
    val media = graft.operators.Multimodal.withPngPayload(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id")
    val sig = media.select(col("media_id"),
        graft.operators.Multimodal.dHashUdf(col("payload")).as("ph"))
      .localCheckpoint(true)
    time("decode + dHash (scan-local)") { sig.count() }
    time("banded Hamming pair join") {
      graft.operators.Dedup.hamming64Pairs(sig, "media_id", "ph",
        maxHamming = 6, numBands = 8).count()
    }
    }
    // stream through the reducers (no partial collapse), so the hot group
    // pins one task unless salted
    // GlobalRank scaling: whole-table rank/ntile/prefix-sum over an
    // entity table at 1x vs Nx — the operator exists precisely so these
    // run range-partitioned instead of one task sorting the world, so
    // the wall-clock must scale ~linearly AND the plan must contain no
    // empty-partition-spec WindowExec (asserted, not eyeballed).
    section("globalrank") {
    import graft.operators.GlobalRank
    val ord1 = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val ordN = orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    def rankAll(df: DataFrame): DataFrame =
      GlobalRank.prefixSum(
        GlobalRank.ntile(
          GlobalRank.rowNumber(df,
            Seq(col("o_totalprice"), col("o_orderkey")), "rn"),
          Seq(desc("o_totalprice"), asc("o_orderkey")), 100, "pct"),
        Seq(col("o_orderkey")), col("rn"), "run")
    val bad = rankAll(ordN).queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    require(bad.isEmpty,
      "GlobalRank plan regressed to a single-partition window")
    val t1 = timed("globalrank rank+ntile+prefix 1x") {
      rankAll(ord1).agg(max("rn"), max("pct"), max("run")).count()
    }
    val tN = timed(s"globalrank rank+ntile+prefix ${copies}x") {
      rankAll(ordN).agg(max("rn"), max("pct"), max("run")).count()
    }
    println(f"[scale] globalrank ${copies}x/1x wall-clock factor: ${tN / t1}%.2f " +
      f"(data ${copies}x; < $copies%d says sub-linear per-row cost)")
    }

    // Integer fixed-point IVF twin: quantized Lloyd's build + probe at 1x
    // vs Nx vectors. Assignment is a broadcast-centers scan and the center
    // update a (cid, dim) partial agg, so build time must scale ~linearly
    // in corpus size (centers stay nlist-sized).
    section("intkmeans") {
    import graft.operators.AnnIvfInt
    val emb1 = table(spark, dir, "embeddings")
    def buildSearch(df: DataFrame): Long = {
      val ix = AnnIvfInt.build(df, "vec_id", "embedding", nlist = 16,
        iters = 3)
      AnnIvfInt.search(ix, "vec_id", col("vec_id") < 20, k = 10, nprobe = 4)
        .count()
    }
    val t1 = timed("int-kmeans build+search 1x")(buildSearch(emb1))
    val tN = timed(s"int-kmeans build+search ${copies}x")(buildSearch(emb))
    println(f"[scale] intkmeans ${copies}x/1x wall-clock factor: ${tN / t1}%.2f")
    }

    // Distributed BPE merge training: the per-round state is VOCAB-sized
    // (distinct words × word length), so replicating the corpus Nx grows
    // only the one-pass vocab aggregation — rounds must stay ~flat.
    section("bpetrain") {
    val docs1 = table(spark, dir, "documents")
    val t1 = timed("bpe trainDistributed(8) 1x docs") {
      graft.functions.Bpe.trainDistributed(docs1, "text", 8).count()
    }
    val tN = timed(s"bpe trainDistributed(8) ${copies}x docs") {
      graft.functions.Bpe.trainDistributed(docs, "text", 8).count()
    }
    println(f"[scale] bpetrain ${copies}x/1x wall-clock factor: ${tN / t1}%.2f " +
      "(vocab-bound state: rounds flat, only the vocab scan scales)")
    }

    // Corpus×corpus KNN join over the integer index: probe explode +
    // ONE shuffle join co-partitioned on cid + k-bounded aggregator.
    // nlist grows with the corpus (the F9 sizing discipline), so probed
    // candidate volume per query stays ~constant and total work linear.
    section("intknnjoin") {
    import graft.operators.AnnIvfInt
    val emb1 = table(spark, dir, "embeddings")
    def joinAll(df: DataFrame, nlist: Int): Long = {
      val ix = AnnIvfInt.build(df, "vec_id", "embedding", nlist, iters = 2)
      AnnIvfInt.knnJoin(ix, "vec_id", k = 3, nprobe = 2).count()
    }
    val t1 = timed("int knnJoin corpus-all 1x")(joinAll(emb1, 8))
    val tN = timed(s"int knnJoin corpus-all ${copies}x")(joinAll(emb, 8 * copies))
    println(f"[scale] intknnjoin ${copies}x/1x wall-clock factor: ${tN / t1}%.2f " +
      "(nlist scaled with corpus: probed volume/query constant)")
    }

    // Integer PQ: codebook is m*ksub rows (broadcast), training and
    // encode are corpus-linear scans; ADC is a LUT equi-join with no
    // vector math on the corpus side.
    section("pqint") {
    import graft.operators.{AnnIvfInt, AnnPqInt}
    val emb1 = table(spark, dir, "embeddings")
    def buildAdc(df: DataFrame): Long = {
      val q = df.select(col("vec_id"), AnnIvfInt.quantize(col("embedding")).as("__q"))
      val pq = AnnPqInt.build(q, "vec_id", "__q", m = 4, ksub = 8,
        iters = 2, dim = 64)
      AnnPqInt.adcScores(pq,
        q.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("__q").as("__qq")),
        "vec_id").count()
    }
    val t1 = timed("int PQ build+ADC 1x")(buildAdc(emb1))
    val tN = timed(s"int PQ build+ADC ${copies}x")(buildAdc(emb))
    println(f"[scale] pqint ${copies}x/1x wall-clock factor: ${tN / t1}%.2f")
    }

    // Integer SemDeDup: within-cell pair admission — nlist scales with
    // the corpus so per-cell occupancy (and the n²/2-per-cell pair space)
    // stays constant per cell, linear overall.
    section("semdedupint") {
    import graft.operators.{AnnIvfInt, Dedup => D}
    val emb1 = table(spark, dir, "embeddings")
    def dedupInt(df: DataFrame, nlist: Int): Long = {
      val ix = AnnIvfInt.build(df, "vec_id", "embedding", nlist, iters = 2)
      D.semanticAssignmentInt(ix, "vec_id", 400000000000L)
        .filter(col("keep") === 0).count()
    }
    val t1 = timed("int semantic dedup 1x")(dedupInt(emb1, 8))
    val tN = timed(s"int semantic dedup ${copies}x")(dedupInt(emb, 8 * copies))
    println(f"[scale] semdedupint ${copies}x/1x wall-clock factor: ${tN / t1}%.2f " +
      "(nlist scaled with corpus: per-cell pair space constant)")
    }

    // Integer PCA twin end-to-end (fitTop2 + projectTop2): the corpus
    // touches the model once (treeAggregate moment pass) and the
    // projection is a scan-local map over broadcast literal vectors, so
    // wall-clock must scale ~linearly in rows; the driver's d²-sized
    // chains are corpus-independent.
    section("pcaint") {
    import graft.operators.EmbeddingPcaInt
    val emb1 = table(spark, dir, "embeddings")
    def fitProject(df: DataFrame): Long = {
      val dm = EmbeddingPcaInt.fitTop2(df, "embedding", rounds = 80)
      EmbeddingPcaInt.projectTop2(df, "embedding", "vec_id", dm).count()
    }
    val t1 = timed("int PCA fitTop2+project 1x")(fitProject(emb1))
    val tN = timed(s"int PCA fitTop2+project ${copies}x")(fitProject(emb))
    println(f"[scale] pcaint ${copies}x/1x wall-clock factor: ${tN / t1}%.2f " +
      "(driver chains corpus-independent)")
    }

    // The blocked moment pass's per-task memory claim (the d²/2-long
    // partial triangle: 16.8 MB at 2048-d, 67.1 MB at 4096-d) as a
    // MEASUREMENT rather than arithmetic: run the pass at embedding-model
    // widths over 32 CONCURRENT tasks inside this one driver+executor JVM
    // (default -Xmx8g) and record wall + peak used heap. n stays the base
    // 2,000 rows on purpose — the pass is n·d²/2 exact-long madds, so the
    // wide dims are d²-dominated and small n isolates the memory shape;
    // completing inside the 8 GB ceiling with 32 resident triangles plus
    // the driver's d² BigInt scatter IS the "executor-sized, not
    // driver-sized" claim. Peak heap is a conservative upper bound (it
    // includes uncollected garbage between sampler GCs).
    section("pcaint-wide") {
    import graft.operators.EmbeddingPcaInt
    val emb32 = table(spark, dir, "embeddings").repartition(32)
    def widen(tiles: Int): DataFrame =
      emb32.select(col("vec_id"),
        flatten(array((0 until tiles).map(k =>
          transform(col("embedding"),
            x => x / lit((k + 1).toDouble))): _*)).as("embedding"))
    for (d <- Seq(2048, 4096)) {
      val rt = Runtime.getRuntime
      System.gc()
      val base = rt.totalMemory() - rt.freeMemory()
      val peak = new java.util.concurrent.atomic.AtomicLong(base)
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val used = rt.totalMemory() - rt.freeMemory()
          peak.updateAndGet(p => math.max(p, used))
          Thread.sleep(20)
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      time(s"int PCA fitPower $d-d (blocked, 32 tasks)") {
        val pm = EmbeddingPcaInt.fitPower(widen(d / 64), "embedding",
          rounds = 3)
        require(pm.vector.length == d && pm.lambdaQ > 0L,
          s"$d-d power model malformed: d=${pm.vector.length}")
        pm.n
      }
      sampling = false
      sampler.join()
      val mb = 1L << 20
      val triMb = d.toLong * (d + 1) / 2 * 8 / mb
      println(f"[scale] $d%d-d peak used heap ${(peak.get - base) / mb}%d MB " +
        f"over the ${base / mb}%d MB base (arithmetic: $triMb%d MB triangle " +
        "× 32 concurrent tasks + the driver d² BigInt scatter)")
    }
    }

    section("skew-agg") {
    val skewed = li.withColumn("k",
      when(pmod(col("l_orderkey"), lit(20)) =!= 0, lit("hot")).otherwise(col("l_returnflag")))
    time("skewed distinct-agg, direct") {
      skewed.groupBy("k").agg(countDistinct("l_partkey"), count(lit(1))).count()
    }
    time("skewed sum-agg, salted 2-phase") {
      graft.operators.Salting.saltedSumCount(
        skewed, Seq("k"), 32, Map(col("l_quantity") -> "sq"), Some("n")).count()
    }
    }
    // wedge enumeration bounded by Σdeg² with the hub cap — the co-purchase
    // graph replicates as disjoint components, so work scales linearly
    section("linkpred") {
    val liD = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val copur = liD.as("x").join(liD.as("y"), Seq("ok"))
      .filter(col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("p1"), col("y.pk").as("p2"))
      .agg(count(lit(1)).as("co")).filter(col("co") >= 2)
      .localCheckpoint(true)
    time("adamic-adar over co-purchase graph") {
      graft.operators.LinkAnalysis.adamicAdar(copur, "p1", "p2").count()
    }
    }
    // DBSCAN cluster formation: the stage AFTER pair generation (degree
    // gate -> core components -> border attach); pairs from the sf0.1
    // corpus, replicated as disjoint ε-graphs
    section("dbscan") {
    val basePairs = Dedup.embeddingPairs(
      table(spark, dir, "embeddings"), "vec_id", "embedding", threshold = 0.32)
    val pairs = replicate(basePairs.select("left_id", "right_id"),
      Seq("left_id", "right_id"), copies).localCheckpoint(true)
    time("dbscan formation (pairs -> labels)") {
      graft.operators.Clustering.dbscanFromPairs(
        emb, "vec_id", pairs, "left_id", "right_id", minPts = 4).count()
    }
    }
    // per step: one frontier equi-join against the ranked adjacency (plus
    // the edge probe + window cumsum for the biased form) — O(V·W) rows a
    // step, replicas are disjoint so work scales linearly
    section("walks") {
    val liD = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val copur = liD.as("x").join(liD.as("y"), Seq("ok"))
      .filter(col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("p1"), col("y.pk").as("p2"))
      .agg(count(lit(1)).as("co")).filter(col("co") >= 2)
      .select("p1", "p2")
      .localCheckpoint(true)
    time("deepwalk corpus (W=1, L=4)") {
      graft.operators.LinkAnalysis
        .randomWalks(copur, "p1", "p2", 1, 4, 23L).count()
    }
    time("node2vec corpus (W=1, L=4)") {
      graft.operators.LinkAnalysis
        .biasedWalks(copur, "p1", "p2", 1, 4, 29L, 1, 4, 2).count()
    }
    }
    section("packing") {
    val sized = docs.select(col("doc_id"), col("lang"),
      graft.functions.TextOps.tokenCount(col("text")).as("n_tokens"))
    time("next-fit packing, lang shards") {
      graft.operators.Packing.nextFit(sized, "lang", "doc_id", "n_tokens",
        capacity = 256L).count()
    }
    }
    section("bootstrap") {
    time("poisson bootstrap, 20 replicates") {
      graft.operators.Sampling.poissonReplicates(
          docs.select("doc_id", "n_chars"), col("doc_id"), 20, seed = 17L)
        .groupBy("replicate")
        .agg(sum(col("k") * col("n_chars"))).count()
    }
    }
    spark.stop()
  }
}

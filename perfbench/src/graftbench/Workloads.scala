package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators._

/** What every workload reports end to end. */
final case class EndToEnd(setupS: Double, latencyP50Ms: Double, throughputPerS: Double)

/** The workloads. Each drives one user flow through the public API of
  * `graft.operators` in a closed loop with one client thread: the next
  * call starts when the previous one has returned its collected rows.
  * Set-up runs [[SetupReps]] times and reports the median. */
object Workloads {
  import Gen.Sizes._

  val SetupReps = 3
  val K = 10
  val Nprobe = 4

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  def vecFrame(spark: SparkSession, ids: Seq[Long], vecs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(
      ids.indices.map(i => Row(ids(i), vecs(i).toSeq)).asJava, vecSchema)

  def queryFrame(spark: SparkSession, v: Gen.Vectors, pick: Seq[Int]): DataFrame =
    vecFrame(spark, pick.map(v.ids), pick.map(v.vecs))
      .withColumnRenamed("vec_id", "query_id")

  // ---- file helpers: sizes and counts of a layout's parquet data files

  private def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter { f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")
      }.toList finally s.close()
    }
  def bytesOf(p: Path): Long = dataFiles(p).map(Files.size).sum
  def filesOf(p: Path): Int = dataFiles(p).size

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }

  /** Bytes a user hands over per vector: an 8-byte id and `dim` floats. */
  private def userBytes(rows: Long, dim: Int): Double = rows * (8.0 + 4.0 * dim)

  /** Ids of the top-k by (score desc, id asc) per query. */
  private def topIds(rows: Array[Row], idCol: String): Map[Long, Seq[Long]] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(r => (-r.getAs[Double]("score"), r.getAs[Long](idCol)))
        .map(_.getAs[Long](idCol)).toSeq
    }

  private def recallAt(truth: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]]): Double = {
    val per = truth.toSeq.map { case (q, t) =>
      got.getOrElse(q, Nil).take(K).toSet.intersect(t.take(K).toSet).size.toDouble / K
    }
    per.sum / per.size
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ------------------------------------------------------------ ingest_search

  /** The search layer, read-only and then with writes beside reads.
    *
    * Set-up trains the centroids and writes the base corpus as a
    * partitioned layout. A read-only serving phase of `runSeconds` then
    * mixes single-query requests, which isolate the driver's planning and
    * dispatch, with 64-query requests, which isolate the executors' probe,
    * scan, score and top-k. Last comes a fixed ingest
    * episode: idempotent appends, each searched after it lands, while the
    * layout's file count grows, and a compaction. */
  def ingestSearch(r: Run, in: Path, work: Path, g: Gen.Ingest, runSeconds: Double): EndToEnd = {
    val spark = r.spark
    val base = spark.read.parquet(in.resolve("base").toString)
    val batches = (0 until IngestBatches).map(b => spark.read.parquet(in.resolve(s"batch-$b").toString))
    var centers: Array[Array[Float]] = null
    var centroids: DataFrame = null
    val layout = work.resolve("layout")
    val setups = (0 until SetupReps).map { i =>
      delete(layout)
      r.group("setup", i) {
        r.op("build", i)(AnnIvf.build(base, "vec_id", "embedding", IngestNlist)).foreach { b =>
          centroids = b.centroids
          centers = b.centroids.orderBy("partition_id").collect().map(_.getSeq[Float](1).toArray)
          r.op("base_append", i)(Ingest.appendNew(spark,
            AnnIvf.assignPartitions(base, "embedding", centers), layout.toString,
            "vec_id", "partition_id"))
        }
      }
    }
    require(centers != null, "set-up failed")
    // warm the compaction path, untimed, so the episode's one compaction
    // is not also the JVM's first
    r.op("compact", -1, record = false)(Ingest.compact(spark, layout.toString, "partition_id"))
    r.heapProbe()

    val rnd = new SplittableRandom(0x1e57)
    def pick(n: Int): Seq[Int] = Iterator.continually(rnd.nextInt(g.queries.ids.length))
      .distinct.take(n).toSeq
    def index() = AnnIvf.Index(spark.read.parquet(layout.toString), centroids,
      nlist = IngestNlist.toLong, maxPid = IngestNlist - 1)
    def search(n: Int, req: Long, phase: String, record: Boolean = true): Unit = {
      val q = queryFrame(spark, g.queries, pick(n))
      r.op(s"search$n", req, record, sampleAs = s"$phase.search$n")(
        AnnIvf.searchPruned(index(), q, "query_id", "embedding", K, Nprobe).collect())
    }

    // read-only serving: one single-query request to two 64-query ones
    def size(i: Long) = if (i % 3 == 0) 1 else 64
    (0 until 3).foreach(i => search(size(i), -1 - i, "serve", record = false))
    r.startMeasuring()
    val t0 = System.nanoTime()
    var i = 0L
    while (seconds(t0) < runSeconds) {
      search(size(i), i, "serve")
      i += 1
      if (i % 16 == 0) r.heapProbe()
    }
    r.heapProbe()

    // ingest episode: appends (about 20% replayed ids), each followed by a
    // search, then compaction and one more search
    var appendedBytes = 0L
    batches.indices.foreach { b =>
      val req = 1000L + b
      r.group("append_batch", req) {
        r.op("assign", req) {
          val a = AnnIvf.assignPartitions(batches(b), "embedding", centers).cache()
          a.count(); a
        }.foreach { a =>
          val before = bytesOf(layout)
          r.op("append", req)(Ingest.appendNew(spark, a, layout.toString, "vec_id", "partition_id"))
          appendedBytes += bytesOf(layout) - before
          a.unpersist()
        }
      }
      search(64, req, "appended")
      r.heapProbe()
    }
    val files = filesOf(layout)
    val idsBefore = spark.read.parquet(layout.toString).select("vec_id").collect().map(_.getLong(0))
    r.op("compact", 0)(Ingest.compact(spark, layout.toString, "partition_id"))
    search(64, 2000, "compacted")
    val idsAfter = spark.read.parquet(layout.toString).select("vec_id").collect().map(_.getLong(0))
    val compactedBytes = bytesOf(layout)
    r.heapProbe()

    // checks, outside the timed calls
    val newRows = IngestBatches.toLong * g.newPerBatch
    val expectedRows = IngestBase + newRows
    r.check("replays_rejected",
      idsBefore.length == expectedRows && idsBefore.distinct.length == idsBefore.length,
      s"${idsBefore.length} rows (${idsBefore.distinct.length} distinct ids) stored, " +
        s"expected $expectedRows")
    r.check("compact_keeps_rows",
      idsAfter.length == idsBefore.length && idsAfter.sorted.sameElements(idsBefore.sorted),
      s"${idsBefore.length} rows / id set before compaction, ${idsAfter.length} after")
    val sample = queryFrame(spark, g.queries, 0 until 64)
    val stored = spark.read.parquet(layout.toString)
    val truth = topIds(Knn.bruteForce(stored, sample, "vec_id", "query_id", "embedding",
      K, excludeSelf = false).collect(), "vec_id")
    val got = topIds(AnnIvf.searchPruned(index(), sample, "query_id", "embedding", K, Nprobe)
      .collect(), "vec_id")
    val recall = recallAt(truth, got)
    r.check("recall_at_10", recall >= 0.9, f"recall@10 = $recall%.4f over 64 queries, nprobe=$Nprobe")
    val exact = topIds(AnnIvf.searchPruned(index(), queryFrame(spark, g.queries, 0 until 4),
      "query_id", "embedding", K, IngestNlist).collect(), "vec_id")
    r.check("exact_at_full_probe", exact.forall { case (q, ids) => truth(q) == ids },
      s"nprobe = nlist = $IngestNlist equals brute force on 4 queries")
    val occupancy = stored.groupBy("partition_id").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    r.op("probe", 0)(AnnIvf.probePartitions(index(), sample, "query_id", "embedding", Nprobe)
      .collect()).foreach { probed =>
      r.layer("ann.rows_scored_per_result") =
        probed.map(p => occupancy.getOrElse(p.getAs[Int]("partition_id"), 0L)).sum.toDouble /
          (64 * K)
    }
    r.layer("ingest.files") = files
    r.layer("ingest.write_amp") = (appendedBytes + compactedBytes).toDouble / userBytes(newRows, Dim)

    val s1 = r.ms("serve.search1"); val s64 = r.ms("serve.search64")
    val serving = s1 ++ s64
    val answered = s1.count(_.isFinite) + 64 * s64.count(_.isFinite)
    // rows are durable only when their append and the compaction succeeded
    val durableRows =
      if (r.ms("compact").forall(_.isFinite)) g.newPerBatch.toLong * r.ms("append_batch").count(_.isFinite)
      else 0L
    val writeWall = (r.wallMs("append_batch") + r.wallMs("compact")) / 1000
    r.put("search1_p50_ms", Stats.median(s1), "ms", s1.size)
    r.put("search64_p50_ms", Stats.median(s64), "ms", s64.size)
    Stats.tail(serving, 0.9).foreach(v => r.put("search_p90_ms", v, "ms", serving.size))
    r.put("search_qps", answered / (serving.filter(_.isFinite).sum / 1000), "1/s", serving.size)
    r.put("recall_at_10", recall, "ratio", 64)
    r.put("append_p50_ms", Stats.median(r.ms("append_batch")), "ms", r.ms("append_batch").size)
    r.put("search64_after_append_p50_ms", Stats.median(r.ms("appended.search64")), "ms",
      r.ms("appended.search64").size)
    r.put("search64_after_compact_ms", Stats.median(r.ms("compacted.search64")), "ms", 1)
    r.put("ingest_rows_per_s", durableRows / writeWall, "1/s", IngestBatches)
    r.put("stored_bytes_per_user_byte", compactedBytes / userBytes(expectedRows, Dim), "ratio", 1)
    EndToEnd(Stats.median(setups) / 1000, Stats.median(s64), durableRows / writeWall)
  }

  // ------------------------------------------------------------ corpus_curate

  /** Batch curation of a crawled corpus: executor- and shuffle-bound text
    * and embedding operators, then driver-bound link-analysis fixpoints
    * over the crawl's link graph, with the search and ingest layers idle.
    * A pass runs every operator once. An untimed pass over a fifth of the
    * inputs warms the JIT; timed passes over all of them follow while
    * another fits in `runSeconds`, at least one, and the last one's
    * outputs are checked. */
  def corpusCurate(r: Run, in: Path, g: Gen.Corpus, runSeconds: Double): EndToEnd = {
    val spark = r.spark
    val docs = spark.read.parquet(in.resolve("docs").toString)
    val embeddings = spark.read.parquet(in.resolve("embeddings").toString)
    var index: AnnIvf.Index = null
    var edges: DataFrame = null
    val setups = (0 until SetupReps).map { i =>
      if (index != null) index.assigned.unpersist()
      if (edges != null) edges.unpersist()
      r.group("setup", i) {
        r.op("build", i) {
          val b = AnnIvf.build(embeddings, "doc_id", "embedding", CurateNlist)
          val assigned = b.assigned.cache()
          assigned.count()
          b.copy(assigned = assigned)
        }.foreach(index = _)
        r.op("load_links", i) {
          val e = spark.read.parquet(in.resolve("links").toString).cache()
          e.count(); e
        }.foreach(edges = _)
      }
    }
    require(index != null && edges != null, "set-up failed")
    r.heapProbe()

    val pairSchema = StructType(Seq(
      StructField("left_id", LongType, nullable = false),
      StructField("right_id", LongType, nullable = false)))
    var verified: Array[(Long, Long)] = Array.empty
    var survivors: Array[Long] = Array.empty
    var neighbours: Array[Row] = Array.empty
    var pr: Array[Row] = Array.empty
    var core: Array[Row] = Array.empty
    var bfs: Array[Row] = Array.empty
    def pass(p: Long, record: Boolean, in: Inputs): Unit = {
      r.group("pass", p, record)(passBody(p, record, in))
      r.heapProbe()
    }
    def passBody(p: Long, record: Boolean, in: Inputs): Unit = {
      r.op("exact", p, record)(Dedup.exactGroups(in.docs, "doc_id", "text").collect())
      r.op("minhash", p, record)(Dedup.minhashPairs(in.docs, "doc_id", "text", threshold = 0.0)
        .collect()).foreach { cands =>
        verified = cands.filter(_.getAs[Double]("jaccard") >= 0.5)
          .map(x => (x.getAs[Long]("left_id"), x.getAs[Long]("right_id")))
        r.layer("dedup.candidate_pairs") = cands.length
        r.layer("dedup.verify_yield") = verified.length.toDouble / math.max(1, cands.length)
      }
      val pairs = spark.createDataFrame(
        verified.toSeq.map { case (a, b) => Row(a, b) }.asJava, pairSchema)
      r.op("components", p, record)(
        Components.connectedComponentsAuto(pairs, "left_id", "right_id").collect())
      r.op("prepare", p, record)(CorpusPrep.prepare(in.docs, "doc_id", "text", "lang").collect())
        .foreach(rows => survivors = rows.map(_.getAs[Long]("doc_id")))
      r.op("simhash", p, record)(Dedup.simhashPairs(in.docs, "doc_id", "text").collect())
      r.op("knn_join", p, record)(AnnIvf.knnJoin(in.index, "doc_id", "embedding", K, 2).collect())
        .foreach(neighbours = _)
      r.op("cosine_pairs", p, record)(
        AnnIvf.cosinePairsViaIndex(in.index, "doc_id", "embedding", 0.99).collect())
      r.op("pagerank", p, record)(
        LinkAnalysis.pageRank(in.edges, "src", "dst", iterations = 5).collect()).foreach(pr = _)
      r.op("hits", p, record)(LinkAnalysis.hits(in.edges, "src", "dst", iterations = 3).collect())
      r.op("kcore", p, record)(LinkAnalysis.kCore(in.edges, "src", "dst", GraphCoreK).collect())
        .foreach(core = _)
      r.op("bfs", p, record)(
        LinkAnalysis.bfsHops(in.edges, "src", "dst", g.links.hubs.head, GraphMaxHops).collect())
        .foreach(bfs = _)
    }

    def fifth(df: DataFrame, c: String) = df.filter(col(c) % 5 === 0)
    r.op("build", -1, record = false)(
      AnnIvf.build(fifth(embeddings, "doc_id"), "doc_id", "embedding", CurateNlist)
    ).foreach(warm => pass(-1, record = false, Inputs(fifth(docs, "doc_id"), warm, fifth(edges, "src"))))
    r.startMeasuring()
    timedPasses(runSeconds)(pass(_, record = true, Inputs(docs, index, edges)))

    val found = verified.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val dedupRecall = g.plantedPairs.count(found.contains).toDouble / g.plantedPairs.size
    // 8 bands of 4 rows find a pair at Jaccard 0.75–0.85 with probability
    // 0.95–0.997, so a correct run finds well over 0.9 of the planted pairs
    r.check("dedup_recall", dedupRecall >= 0.9,
      f"$dedupRecall%.4f of ${g.plantedPairs.size} planted near-dup pairs found")
    val shortSurvivors = survivors.count(g.failsGate.contains)
    r.check("quality_gate", survivors.nonEmpty && shortSurvivors == 0,
      s"${survivors.length} survivors, $shortSurvivors of them among the " +
        s"${g.failsGate.size} planted short docs")
    val perQuery = neighbours.groupBy(_.getAs[Long]("query_id"))
    r.check("knn_join_shape",
      perQuery.size == Docs && perQuery.forall { case (q, rs) =>
        rs.length == K && !rs.exists(_.getAs[Long]("doc_id") == q)
      }, s"${perQuery.size} vectors with $K neighbours each, self excluded")
    checkGraph(r, g.links, pr, core, bfs)
    val passes = r.ms("pass")
    val docsPerS = Docs.toLong * passes.count(_.isFinite) / (r.wallMs("pass") / 1000)
    r.put("curate_docs_per_s", docsPerS, "1/s", passes.size)
    r.put("dedup_recall", dedupRecall, "ratio", g.plantedPairs.size)
    r.put("knn_vectors_per_s",
      Docs.toLong * r.ms("knn_join").count(_.isFinite) / (r.wallMs("knn_join") / 1000),
      "1/s", r.ms("knn_join").size)
    val graphOps = Seq("pagerank", "hits", "kcore", "bfs")
    r.put("graph_edges_per_s",
      Edges.toLong * passes.count(_.isFinite) / (graphOps.map(r.wallMs).sum / 1000),
      "1/s", passes.size)
    EndToEnd(Stats.median(setups) / 1000, Stats.median(passes), docsPerS)
  }

  /** What a corpus_curate pass runs over. */
  private final case class Inputs(docs: DataFrame, index: AnnIvf.Index, edges: DataFrame)

  /** Run timed passes while another one fits in `runSeconds`; at least one. */
  private def timedPasses(runSeconds: Double)(pass: Long => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || seconds(t0) * (n + 1) / n <= runSeconds) { pass(n.toLong); n += 1 }
  }

  val GraphCoreK = 4
  val GraphMaxHops = 3

  private def checkGraph(r: Run, g: Gen.Graph, pr: Array[Row], core: Array[Row],
      bfs: Array[Row]): Unit = {
    // every node has an out-edge, so only floor division leaks mass:
    // at most 2 units per node per iteration
    val total = pr.map(_.getLong(1)).sum
    val leak = 2L * g.nodes * 5
    r.check("pagerank_mass", pr.length == g.nodes &&
      total <= LinkAnalysis.Scale && total >= LinkAnalysis.Scale - leak,
      s"${pr.length} ranks summing to $total of ${LinkAnalysis.Scale} (leak bound $leak)")
    // the undirected simple graph, for driver-side references
    val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.Set[Long]]
    g.src.indices.foreach { e =>
      val (a, b) = (g.src(e), g.dst(e))
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
    }
    // k-core by peeling
    val alive = scala.collection.mutable.Set.empty[Long] ++ adj.keys
    var peel = alive.filter(n => adj(n).size < GraphCoreK).toSeq
    val deg = scala.collection.mutable.HashMap.empty[Long, Int] ++ adj.map { case (n, s) => n -> s.size }
    while (peel.nonEmpty) {
      peel.foreach(alive -= _)
      peel.foreach(n => adj(n).foreach(m => deg(m) -= 1))
      peel = alive.filter(n => deg(n) < GraphCoreK).toSeq
    }
    val coreGot = core.map(x => x.getAs[Number](0).longValue -> x.getAs[Number](1).longValue).toMap
    r.check("kcore_degree", coreGot.nonEmpty && coreGot.values.forall(_ >= GraphCoreK) &&
      coreGot.keySet == alive.toSet && coreGot.forall { case (n, d) => deg(n) == d },
      s"${coreGot.size} members of the $GraphCoreK-core (reference: ${alive.size}), " +
        s"all with core_degree >= $GraphCoreK and equal to a driver-side peel")
    // exact hop distances from a BFS
    val dist = scala.collection.mutable.HashMap(g.hubs.head -> 0)
    var frontier = Seq(g.hubs.head)
    (1 to GraphMaxHops).foreach { d =>
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains).distinct
      frontier.foreach(dist(_) = d)
    }
    val got = bfs.map(x => x.getLong(0) -> x.getInt(1)).toMap
    r.check("bfs_hops", got.get(g.hubs.head).contains(0) &&
      got.values.forall(_ <= GraphMaxHops) && got == dist.toMap,
      s"${got.size} nodes within $GraphMaxHops hops, source at 0, equal to a driver-side BFS")
  }
}

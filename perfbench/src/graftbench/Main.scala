package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's one command (launched by `perfbench/run.py`):
  *
  * {{{
  *   --workload <ingest_search|corpus_curate>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Generates the seeded inputs into `<work>/inputs` outside timing, runs
  * the workload, checks its outputs, prints every user-facing figure by
  * name, unit and sample count, and ends with one JSON line: the
  * end-to-end metrics untraced, the per-layer metrics traced. Exits 1
  * when an operation or a check failed. */
object Main {

  val WorkloadNames = Seq("ingest_search", "corpus_curate")

  val LayerOps = Seq("build", "probe", "search1", "search64", "assign", "append", "compact",
    "exact", "minhash", "components", "prepare", "simhash", "knn_join", "cosine_pairs",
    "pagerank", "hits", "kcore", "bfs")
  val CallFields = Seq("ms" -> "ms", "jobs_ms" -> "ms", "plan_ms" -> "ms", "cpu_ms" -> "ms",
    "tasks" -> "count", "shuffle_mb" -> "MB")

  /** Every per-layer metric name with its unit, in BENCHMARK.json order. */
  val LayerMetrics: Seq[(String, String)] =
    LayerOps.flatMap(op => CallFields.map { case (f, u) => s"$op.$f" -> u }) ++
      Seq("search1", "search64", "append").map(op => s"$op.scan_mb" -> "MB") ++
      Seq("pagerank", "hits", "kcore", "bfs").map(op => s"$op.jobs" -> "count") ++
      Seq("ann.rows_scored_per_result" -> "ratio", "ingest.files" -> "count",
        "ingest.write_amp" -> "ratio", "dedup.candidate_pairs" -> "count",
        "dedup.verify_yield" -> "ratio", "jvm.gc_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(WorkloadNames.contains(workload),
      s"--workload must be one of ${WorkloadNames.mkString(", ")}")
    val seed = opts("seed").toLong
    val runSeconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    sys.exit(run(workload, seed, runSeconds, trace, work))
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // the same settings as graft.Bench, at the width of this machine
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Write the generated inputs as parquet, once per content hash. */
  private def writeInputs(spark: SparkSession, dir: Path, gen: Any): Unit = {
    val done = dir.resolve("_DONE")
    if (Files.exists(done)) return
    Workloads.delete(dir)
    def vecs(name: String, v: Gen.Vectors): Unit =
      Workloads.vecFrame(spark, v.ids.toSeq, v.vecs.toSeq).write.parquet(dir.resolve(name).toString)
    gen match {
      case s: Gen.Ingest =>
        vecs("base", s.base)
        s.batches.zipWithIndex.foreach { case (b, i) => vecs(s"batch-$i", b) }
        vecs("queries", s.queries)
      case c: Gen.Corpus =>
        val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("text", StringType, nullable = false),
          StructField("lang", StringType, nullable = false)))
        spark.createDataFrame(c.ids.indices.map(i => Row(c.ids(i), c.texts(i), c.langs(i))).asJava,
          docSchema).write.parquet(dir.resolve("docs").toString)
        Workloads.vecFrame(spark, c.ids.toSeq, c.vecs.toSeq).withColumnRenamed("vec_id", "doc_id")
          .write.parquet(dir.resolve("embeddings").toString)
        val edgeSchema = StructType(Seq(StructField("src", LongType, nullable = false),
          StructField("dst", LongType, nullable = false)))
        val l = c.links
        spark.createDataFrame(l.src.indices.map(i => Row(l.src(i), l.dst(i))).asJava,
          edgeSchema).write.parquet(dir.resolve("links").toString)
    }
    Files.createFile(done)
  }

  def run(workload: String, seed: Long, runSeconds: Double, trace: Boolean, work: Path): Int = {
    val t0 = System.nanoTime()
    def phase(name: String): Unit = println(f"phase $name%-10s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val (gen, hash) = Gen.generate(workload, seed)
    println(s"inputs $workload seed=$seed sha256=$hash")
    phase("generated")
    val spark = session(work)
    phase("session")
    try {
      val inputs = work.resolve("inputs").resolve(s"$workload-$seed-$hash")
      writeInputs(spark, inputs, gen)
      phase("written")
      val scratch = work.resolve("scratch")
      Workloads.delete(scratch)
      Files.createDirectories(scratch)
      val tracer = new Tracer(spark, trace)
      val r = new Run(spark, tracer)
      val e2e = try {
        Some(gen match {
          case s: Gen.Ingest => Workloads.ingestSearch(r, inputs, scratch, s, runSeconds)
          case c: Gen.Corpus => Workloads.corpusCurate(r, inputs, c, runSeconds)
        })
      } catch {
        case scala.util.control.NonFatal(e) =>
          r.failed += 1; r.attempted += 1
          System.err.println(s"[graftbench] $workload aborted: $e")
          e.printStackTrace(System.err)
          None
      }
      phase("ran")
      tracer.finish()
      Workloads.delete(scratch)
      Output.emit(workload, seed, hash, trace, work, r, tracer, e2e)
    } finally spark.stop()
  }
}

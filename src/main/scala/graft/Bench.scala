package graft
import graft.tools.{Measure, Metrics}
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every `SparkEntry.queries` entry
  * on `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Methodology (so two runs on identical code agree): one shared warmed
  * session; each query executed `trials` times in round-robin order (all
  * queries trial 1, then all trial 2, ...) so JIT/codegen warming spreads
  * evenly; per-query time = median of trials; `value` = sum of medians.
  * `spread_iqr` is per-query (q3-q1)/median, the run-to-run noise floor,
  * and `spread_iqr_mean` its average, so a regression can be told from
  * jitter.
  *
  * Every trial is measured by [[graft.tools.Metrics]]. `bench_full.json`
  * carries, per query, the trial medians of `cpu_sec` (executor CPU,
  * which ambient load cannot inflate), `run_sec` (executor run time) and
  * `driver_sec` (wall with no job of the query running), and, from its
  * first trial that did not fail, `jobs`, `stages`, `tasks` and
  * `shuffle_mb` (stage shuffle-write bytes). Wall time moves with the
  * machine; a wall move that the cpu, shuffle and task channels do not
  * share is ambient, not a plan change (`tools/benchdiff.py` classifies
  * two artifacts that way).
  */
object Bench {

  /** THE bench session shape — also used by [[graft.tools.Time]], so the
    * targeted per-query timer can never drift from the plans the full
    * benchmark measures (same broadcast threshold, same parallelism). */
  private[graft] def benchSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // single-node bench: a mid-size dim (orders at sf0.1 ~8-12 MB) is
      // cheaper broadcast than shuffled; 64 MB is also a sane cluster value
      .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
      // UTC everywhere: correctness (Verify) runs under UTC for oracle
      // parity, so the bench/timer/plan-audit sessions must time the
      // SAME timestamp plans — a host-timezone bench would measure
      // expressions the oracle never verified
      .config("spark.sql.session.timeZone", "UTC")
      // Kryo for RDD shuffles (the graph fixed-point loops; DataFrame
      // exchanges are Tungsten-serialized regardless of this setting):
      // JavaSerializer writes a boxed (Long, Long) edge tuple at ~5x the
      // bytes. Measured on this box (A/B, 5-trial medians, r18): bfs
      // -17%, hits -22%, pagerank -9%, kcore -4%; no effect on DF-only
      // queries. Scale-independent — the standard production setting,
      // not a local[32] tune.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One-time JVM/codegen/parquet-footer warmup so the first timed query
    * doesn't absorb session start-up or cold-read cost. */
  private[graft] def warmTables(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try graft.queries.table(spark, sfDir, t).count()
      catch { case _: Throwable => }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    // 5 trials: r9's spread_mean 0.44 showed 3-trial medians still wobble
    val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "5").toInt
    val spark = benchSession(cpus)
    warmTables(spark, sfDir)
    SparkEntry.queries.get("q01_pricing_summary")
      .foreach(fn => try fn(spark, sfDir).count() catch { case _: Throwable => })

    val names = SparkEntry.queries.keys.toVector.sorted
    // untimed warmup pass: codegen compile + parquet footer cache for every
    // query, so timed trials measure steady-state execution, not first-run
    // compilation (which made r3's single-trial numbers 40% noise)
    names.foreach { name =>
      try { SparkEntry.queries(name)(spark, sfDir).count() }
      catch { case _: Throwable => -1L }
    }
    // a query that THROWS must not masquerade as a near-zero sample that
    // LOWERS the total (r17 verdict #3 / ADVICE): the error is recorded
    // per query, the failed trial contributes NO samples on any channel
    // (r18 ADVICE: a fast-failing trial's wall deflated the primary
    // line's median), and the bench exits nonzero at the end — a query
    // that fails every trial reports 0.0 + its errors entry
    val errs = collection.mutable.Map.empty[String, String]
    val samples = collection.mutable.Map.empty[String, Vector[Measure]]
    for (trial <- 1 to trials; name <- names) {
      val fn = SparkEntry.queries(name)
      var failed = false
      val m = Metrics.measure(spark) {
        try fn(spark, sfDir).count()
        catch { case t: Throwable =>
          errs.getOrElseUpdate(name, (t.getClass.getSimpleName + ": " +
            Option(t.getMessage).getOrElse("")).replaceAll("[\"\\n\\r]", " ")
            .take(200))
          failed = true
        }
      }
      if (!failed) samples(name) = samples.getOrElse(name, Vector.empty) :+ m
    }
    spark.stop()
    def median(v: Vector[Double]): Double = { val s = v.sorted; s(s.size / 2) }
    def r(x: Double): Double = math.rint(x * 1e6) / 1e6
    def r2(x: Double): Double = math.rint(x * 1e2) / 1e2
    def quantile(v: Vector[Double], p: Double): Double = {
      val s = v.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
    def values(n: String, f: Measure => Double): Vector[Double] =
      samples.get(n).fold(Vector(0.0))(_.map(f))
    def medOf(f: Measure => Double): Map[String, Double] =
      names.map(n => n -> r(median(values(n, f)))).toMap
    // count channels come from the first trial that did not fail: a query
    // with tasks >> stages provably fans out even when sf0.1 seconds are
    // fixed-cost-bound
    def first[T](n: String, none: T)(f: Measure => T): T =
      samples.get(n).fold(none)(v => f(v.head))
    def json(f: String => Any): String =
      names.map(n => s"\"$n\":" + f(n)).mkString("{", ",", "}")
    val med = names.map(n => n -> median(values(n, _.wallSec))).toMap
    val total = r(med.values.sum)
    // IQR-based spread: unlike range/median, the interquartile range does
    // NOT grow with trial count
    val spreadIqr = names.map { n =>
      val v = values(n, _.wallSec)
      n -> r(if (med(n) > 0) (quantile(v, 0.75) - quantile(v, 0.25)) / med(n)
             else 0.0)
    }.toMap
    val spreadIqrMean =
      r(if (names.nonEmpty) spreadIqr.values.sum / names.size else 0.0)
    // cpu_sec (executorCpuTime) is the ambient-immune work measure: an
    // external hog inflates wall but cannot steal CPU time already spent
    // on-core, so cross-run cpu_sec deltas are plan deltas. run_sec
    // (executorRunTime, including IO/shuffle-fetch wait) minus cpu_sec is
    // the queueing/IO diagnostic; driver_sec is the wall no job covered.
    val cpuMed = medOf(_.cpuSec)
    val runMed = medOf(_.runSec)
    val qsFull = json(n => r(med(n)))
    val shuf = json(n => first(n, 0.0)(m => math.rint(m.shuffleBytes / 1e6 * 100) / 100))
    val spIqr = json(spreadIqr)
    // Diagnostics line (full-precision medians, spread per query): its own
    // JSON line so the PRIMARY line below stays compact.
    println(s"""{"metric":"bench_diagnostics","sf_dir":"$sfDir","trials":$trials,"queries_full":$qsFull,"spread_iqr":$spIqr,"spread_iqr_mean":$spreadIqrMean,"shuffle_mb":$shuf,"shuffle_note":"shuffle-write bytes summed from the task metrics of the query's stages — a perf regression with unchanged shuffle_mb is machine noise; a shuffle_mb jump is a lost broadcast/partial-agg"}""")
    // PRIMARY contract line, printed LAST and kept small: the driver
    // captures a bounded tail of stdout (observed 2000 chars) and parses
    // the JSON line from it (see [[primaryLine]]). The full-precision map
    // and every other channel live in the diagnostics line and in
    // bench_full.json.
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val errMap =
      if (errs.isEmpty) ""
      else errs.toSeq.sorted.map { case (n, m) => s"\"$n\":\"$m\"" }
        .mkString(""","errors":{""", ",", "}")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      (s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qsFull,"sf":"$sfName"""" +
        s""","cpus":$cpus""" +
        s""","cpu_sec":${json(cpuMed)},"cpu_sec_total":${r(cpuMed.values.sum)}""" +
        s""","run_sec":${json(runMed)},"run_sec_total":${r(runMed.values.sum)}""" +
        s""","driver_sec":${json(medOf(_.driverSec))}""" +
        s""","jobs":${json(n => first(n, 0)(_.jobs.size))}""" +
        s""","tasks":${json(n => first(n, 0L)(_.tasks))}""" +
        s""","stages":${json(n => first(n, 0)(_.stages.size))}""" +
        s""","shuffle_mb":$shuf,"spread_iqr":$spIqr,"spread_iqr_mean":$spreadIqrMean""" +
        s""","trials":$trials$errMap}""" + "\n")
        .getBytes("UTF-8"))
    catch { case _: Throwable => () } // emission must never kill the bench
    println(primaryLine(names, med, total, sfName))
    if (errs.nonEmpty) {
      System.err.println(s"[bench] ${errs.size} quer${
        if (errs.size == 1) "y" else "ies"} FAILED: ${errs.keys.toSeq.sorted
        .mkString(", ")} — totals above are NOT comparable")
      sys.exit(1)
    }
  }

  /** The bounded primary contract line (pure, spec-tested). Tries the full
    * per-query map at 2 then 1 decimals; if still over `budget`, keeps the
    * most expensive queries (ties by name, deterministic) and summarizes
    * the rest as `"n_omitted"`/`"omitted_sum"`. */
  def primaryLine(names: Vector[String], med: Map[String, Double],
      total: Double, sfName: String, budget: Int = 1900): String = {
    def r2(x: Double): Double = math.rint(x * 1e2) / 1e2
    def r1(x: Double): Double = math.rint(x * 10) / 10
    def mk(qs: String, extra: String = ""): String =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qs$extra,"sf":"$sfName"}"""
    def full(prec: Double => Double): String =
      mk(names.map(n => s"\"$n\":" + prec(med(n))).mkString("{", ",", "}"))
    val l2 = full(r2)
    if (l2.length <= budget) return l2
    val l1 = full(r1)
    if (l1.length <= budget) return l1
    // cap: most-expensive-first keeps the queries a perf regression would
    // show up in; the omitted cheap tail is summarized, never dropped
    val byCost = names.sortBy(n => (-med(n), n))
    val entries = byCost.map(n => n -> (s"\"$n\":" + r2(med(n))))
    // fixed parts: mk("{}") plus the two remainder fields at max width
    val maxExtra = s""","n_omitted":${names.size},"omitted_sum":99999.99""".length
    val fixed = mk("{}").length + maxExtra
    var used = 0
    var kept = Vector.empty[(String, String)]
    for ((n, e) <- entries) {
      val add = e.length + (if (kept.isEmpty) 0 else 1)
      if (fixed + used + add <= budget) { kept :+= ((n, e)); used += add }
    }
    val keptNames = kept.map(_._1).toSet
    val omitted = names.filterNot(keptNames)
    val omittedSum = r2(omitted.map(med).sum)
    mk(kept.map(_._2).mkString("{", ",", "}"),
      s""","n_omitted":${omitted.size},"omitted_sum":$omittedSum""")
  }
}

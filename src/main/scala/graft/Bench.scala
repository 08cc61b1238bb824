package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every `SparkEntry.queries` entry
  * on `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Methodology (so two runs on identical code agree): one shared warmed
  * session; each query executed `trials` times in round-robin order (all
  * queries trial 1, then all trial 2, ...) so JIT/codegen warming spreads
  * evenly; per-query time = median of trials; `value` = sum of medians.
  * `spread` is per-query (max-min)/median — the run-to-run noise floor —
  * and `spread_mean` its average, so a regression can be told from jitter.
  *
  * Cross-SESSION totals additionally drift ~1.5-2x with ambient sandbox
  * load on byte-identical code (observed r3/r4): the JSON therefore
  * carries three machine-noise anchors measured in the same warmed JVM —
  * `anchor_cpu` (fixed single-thread integer loop: raw CPU speed ×
  * contention), `anchor_cpu_mt` (the same loop on all bench threads at
  * once: 32-wide throughput — the ratio that actually normalizes the
  * queries, which run 32-wide; the 1-thread anchor is blind to SMT/
  * quota/turbo contention, observed +30% uniform in r12 with a flat
  * 1-thread ratio) and `anchor_spark` (fixed 32-task range-sum:
  * scheduler + task dispatch cost). Comparing runs from different
  * sessions, divide totals by the mt anchor ratio first; only a shift
  * beyond both the anchor ratio and per-query spread is a plan
  * regression.
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

  /** Fixed CPU work, no allocation — times raw single-core throughput. */
  private def cpuAnchorOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 1469598103934665603L
    var i = 0
    while (i < 200000000) { x = (x ^ i) * 1099511628211L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42) print("") // defeat dead-code elimination
    dt
  }

  /** Fixed 32-task Spark job — times scheduler/dispatch constant cost. */
  /** Same fixed FNV loop as [[cpuAnchorOnce]] run on `n` threads at once
    * (wall = slowest thread). The 1-thread anchor is blind to multicore
    * ambient — r12 measured a uniform +30% across all 188 queries with
    * `anchor_ratio_cpu` flat at 0.985, because host contention throttles
    * 32-wide throughput (SMT siblings, cgroup quota, turbo headroom)
    * without touching a lone busy thread. Queries run 32-wide, so THIS
    * is the ratio that normalizes them. */
  private def cpuMtAnchorOnce(n: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until n).map { t =>
      new Thread(() => {
        var x = 1469598103934665603L + t
        var i = 0
        while (i < 200000000) { x = (x ^ i) * 1099511628211L; i += 1 }
        if (x == 42) print("") // defeat dead-code elimination
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
  private def sparkAnchorOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 50000000L, 1, 32).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }
  /** Stage-level shuffle-write tally: sums `shuffleWriteMetrics
    * .bytesWritten` over completed stages. Near-deterministic for a
    * deterministic plan, so unlike wall time it separates plan
    * regressions from machine noise: a query whose seconds doubled but
    * whose shuffle bytes are unchanged hit ambient load; one whose bytes
    * jumped lost a broadcast or a partial-agg. (The executed plan's own
    * SQLMetrics are NOT merged back into the driver-side plan nodes under
    * AQE — stages execute cloned fragments — hence the listener.) */
  private class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    @volatile var bytes = 0L
    // ambient-immune work measures (r16 verdict #2 → r17): the hog
    // experiment falsified the anchor load-shape model — BOTH anchor
    // normalizers over-corrected ~40% under partial-width constant load
    // while raw wall moved −2%, because Spark stages don't saturate all
    // 32 cores. executorCpuTime is the task threads' actual CPU
    // nanoseconds — a constant external hog cannot steal time already
    // spent on-core, so per-query cpu_sec stays flat when wall diverges;
    // executorRunTime (ms, includes scheduler/IO wait) rides along as
    // the queueing diagnostic.
    @volatile var cpuNs = 0L
    @volatile var runMs = 0L
    // task/stage counts per query (r18 verdict #2): the core-scaling
    // probe reads ≈1 at sf0.1 because per-query fixed cost swamps the
    // compute, so the driver cannot tell a parallel operator from a
    // serial one from seconds alone — task counts are the direct
    // evidence (tasks >> stages ⇒ the plan fans out; tasks ≈ stages ⇒
    // the fixture is too small to exercise parallelism, not the plan)
    @volatile var tasks = 0L
    @volatile var stages = 0L
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      Option(e.stageInfo.taskMetrics).foreach { m =>
        bytes += m.shuffleWriteMetrics.bytesWritten
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        tasks += e.stageInfo.numTasks
        stages += 1
      }
  }

  /** Drain the async listener bus so the tally covers every stage of the
    * just-finished job. `listenerBus`/`waitUntilEmpty` are private[spark],
    * which compiles to public bytecode — plain reflection reaches them. */
  private[graft] def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val lb = sc.getClass.getMethod("listenerBus").invoke(sc)
      lb.getClass.getMethod("waitUntilEmpty").invoke(lb)
    } catch { case _: Throwable => Thread.sleep(50) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    // 5 trials: r9's spread_mean 0.44 showed 3-trial medians still wobble
    val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "5").toInt
    // previous round's committed anchors (bench_full.json in cwd, written
    // by the last bench run and committed) — read BEFORE this run
    // overwrites the file, so the anchor-normalized total closes the
    // cross-session drift loop automatically every round
    // key match is anchored at a preceding comma/brace so e.g.
    // "anchor_cpu" can never match inside "prev_anchor_cpu"
    val prevJson: Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_full.json")), "UTF-8"))
      catch { case _: Throwable => None }
    def grabPrev(k: String): Option[Double] =
      prevJson.flatMap(txt =>
        ("[,{]\"" + k + "\":([0-9.eE+-]+)").r.findFirstMatchIn(txt)
          .flatMap(m => m.group(1).toDoubleOption))
    val prevAnchors: Option[(Double, Double)] =
      for (c <- grabPrev("anchor_cpu"); s <- grabPrev("anchor_spark"))
        yield (c, s)
    // FIXED normalization baseline: carried verbatim from round to round
    // (seeded from the first round that had an anchor at all), so every
    // round's total_vs_base is normalized against the SAME reference CPU
    // condition — the chained prev-round ratio (total_normalized) let slow
    // drift compound across rounds
    val baseAnchorCpu: Option[Double] =
      grabPrev("anchor_cpu_base").orElse(grabPrev("anchor_cpu"))
    // mt twin (since r12): normalizes the 32-wide query workload; base is
    // seeded from the first run that carried the mt anchor
    val prevAnchorCpuMt: Option[Double] = grabPrev("anchor_cpu_mt")
    val baseAnchorCpuMt: Option[Double] =
      grabPrev("anchor_cpu_mt_base").orElse(grabPrev("anchor_cpu_mt"))
    val spark = benchSession(cpus)
    warmTables(spark, sfDir)
    SparkEntry.queries.get("q01_pricing_summary")
      .foreach(fn => try fn(spark, sfDir).count() catch { case _: Throwable => })

    // anchors: one untimed warmup each. The spark anchor keeps its
    // start-block median (dispatch-latency diagnostic only); the CPU
    // anchors are sampled INTERLEAVED through the whole timed sweep
    // (below) — r14's post-mortem showed a start-block anchor measures
    // only the first ~2 s of ambient, while the queries it normalizes
    // run for ~10 min, so the graded total_vs_base_mt swung ±20% on
    // near-identical trees purely on when the host was busy. The median
    // of ~20 samples spread across the run tracks the contention the
    // queries actually experienced.
    val nMt = cpus.toInt
    cpuAnchorOnce(); cpuMtAnchorOnce(nMt); sparkAnchorOnce(spark)
    val anchorSpark = Vector.fill(trials)(sparkAnchorOnce(spark))
    val anchorCpuSamples = collection.mutable.ArrayBuffer.empty[Double]
    val anchorCpuMtSamples = collection.mutable.ArrayBuffer.empty[Double]
    def sampleAnchors(): Unit = {
      anchorCpuSamples += cpuAnchorOnce()
      anchorCpuMtSamples += cpuMtAnchorOnce(nMt)
    }

    val names = SparkEntry.queries.keys.toVector.sorted
    // untimed warmup pass: codegen compile + parquet footer cache for every
    // query, so timed trials measure steady-state execution, not first-run
    // compilation (which made r3's single-trial numbers 40% noise)
    names.foreach { name =>
      try { SparkEntry.queries(name)(spark, sfDir).count() }
      catch { case _: Throwable => -1L }
    }
    val samples = collection.mutable.Map.empty[String, Vector[Double]]
    // index of the last anchor sample taken BEFORE each timed sample —
    // pairs every (query, trial) with the ambient measured around it
    val anchorIdxOf = collection.mutable.Map.empty[String, Vector[Int]]
    val shuffleMb = collection.mutable.Map.empty[String, Double]
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    // ~18 anchor sample points spread evenly across the sweep, plus one
    // at each end — anchor cost is ~0.6 s per point, noise in the gaps
    // between query timings, never inside them.
    // GRANULARITY (recorded, ADVICE r16): with ~190 queries × 5 trials
    // the bracketing anchors sit ~53 timed samples apart, so
    // total_vs_base_mt_pq still under-corrects ambient shifts that start
    // AND end between anchor points — metric precision only, never
    // correctness. The structural ambient-immune channel is per-query
    // cpu_sec (task-metrics CPU time, below), which needs no ambient
    // model at all; the anchors stay for r12-r16 cross-round continuity.
    val anchorEvery = math.max(1, names.size * trials / 18)
    var sinceAnchor = 0
    sampleAnchors()
    val cpuSamples = collection.mutable.Map.empty[String, Vector[Double]]
    val runSamples = collection.mutable.Map.empty[String, Vector[Double]]
    // a query that THROWS must not masquerade as a near-zero sample that
    // LOWERS the total (r17 verdict #3 / ADVICE): the error is recorded
    // per query, its cpu/run samples for the failed trial are skipped
    // (so the cpu channel can't read a partial run as an improved plan),
    // and the bench exits nonzero at the end
    val errs = collection.mutable.Map.empty[String, String]
    val taskCounts = collection.mutable.Map.empty[String, Long]
    val stageCounts = collection.mutable.Map.empty[String, Long]
    for (trial <- 1 to trials; name <- names) {
      val fn = SparkEntry.queries(name)
      // every trial brackets the tally with listener-bus drains (outside
      // the timed section on both ends), so per-trial executorCpuTime
      // diffs attribute exactly this query's stages
      drainListenerBus(spark)
      val shufBefore = tally.bytes
      val cpuBefore = tally.cpuNs
      val runBefore = tally.runMs
      val tasksBefore = tally.tasks
      val stagesBefore = tally.stages
      val t0 = System.nanoTime()
      val failed =
        try { fn(spark, sfDir).count(); false }
        catch { case t: Throwable =>
          errs.getOrElseUpdate(name, (t.getClass.getSimpleName + ": " +
            Option(t.getMessage).getOrElse("")).replaceAll("[\"\\n\\r]", " ")
            .take(200))
          true
        }
      val dt = (System.nanoTime() - t0) / 1e9
      drainListenerBus(spark)
      // a failed trial contributes NO samples on any channel (r18
      // ADVICE: the wall sample of a fast-failing trial deflated the
      // primary line's median even though the error was recorded) — a
      // query that fails every trial reports 0.0 + its errors entry,
      // and the bench still exits nonzero
      if (!failed) {
        samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
        anchorIdxOf(name) = anchorIdxOf.getOrElse(name, Vector.empty) :+
          (anchorCpuMtSamples.size - 1)
        cpuSamples(name) = cpuSamples.getOrElse(name, Vector.empty) :+
          (tally.cpuNs - cpuBefore) / 1e9
        runSamples(name) = runSamples.getOrElse(name, Vector.empty) :+
          (tally.runMs - runBefore) / 1e3
      }
      if (trial == 1 && !failed) {
        shuffleMb(name) = math.rint((tally.bytes - shufBefore) / 1e6 * 100) / 100
        taskCounts(name) = tally.tasks - tasksBefore
        stageCounts(name) = tally.stages - stagesBefore
      }
      sinceAnchor += 1
      if (sinceAnchor >= anchorEvery) { sinceAnchor = 0; sampleAnchors() }
    }
    sampleAnchors()
    val anchorCpu = anchorCpuSamples.toVector
    val anchorCpuMt = anchorCpuMtSamples.toVector
    def median(v: Vector[Double]): Double = { val s = v.sorted; s(s.size / 2) }
    def r(x: Double): Double = math.rint(x * 1e6) / 1e6
    def r2(x: Double): Double = math.rint(x * 1e2) / 1e2
    val med = names.map(n => n -> median(samples.getOrElse(n, Vector(0.0)))).toMap
    val spread = names.map { n =>
      val v = samples.getOrElse(n, Vector(0.0))
      n -> r(if (med(n) > 0) (v.max - v.min) / med(n) else 0.0)
    }.toMap
    // IQR-based spread: unlike range/median (above, kept one transition
    // round for cross-round comparability), the interquartile range does
    // NOT grow with trial count — r10's spread_mean jump 0.44 → 0.71 was
    // purely trials 3 → 5 widening the range, not a stability change
    def quantile(v: Vector[Double], p: Double): Double = {
      val s = v.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
    val spreadIqr = names.map { n =>
      val v = samples.getOrElse(n, Vector(0.0))
      n -> r(if (med(n) > 0) (quantile(v, 0.75) - quantile(v, 0.25)) / med(n)
             else 0.0)
    }.toMap
    val spreadIqrMean =
      r(if (names.nonEmpty) spreadIqr.values.sum / names.size else 0.0)
    val sp = names.map(n => s"\"$n\":" + spread(n)).mkString("{", ",", "}")
    val spIqr = names.map(n => s"\"$n\":" + spreadIqr(n)).mkString("{", ",", "}")
    val total = r(med.values.sum)
    val spreadMean = r(if (names.nonEmpty) spread.values.sum / names.size else 0.0)
    val aCpu = r(median(anchorCpu))
    val aCpuMt = r(median(anchorCpuMt))
    val aSpark = r(median(anchorSpark))
    // the graded normalizer's own stability across the run — when this
    // is wide, ambient shifted mid-run and total_vs_base_mt deserves
    // less trust than spread_iqr_mean alone suggests
    val aCpuMtIqr = r(if (aCpuMt > 0)
      (quantile(anchorCpuMt, 0.75) - quantile(anchorCpuMt, 0.25)) / aCpuMt
      else 0.0)
    // per-query MICRO-anchor normalization (r15 verdict #3 — structural):
    // the run-median anchor rescales the whole total by one number, so a
    // mid-run ambient shift under-corrects exactly the queries it slowed
    // and the graded total still swings on WHEN the host was busy. Here
    // every timed sample is divided by the ambient measured AROUND it
    // (mean of the interleaved anchor just before and just after), the
    // per-query median is taken over those unitless ratios, and the sum
    // is scaled back by the fixed base anchor — so a shift rescales only
    // the samples it actually touched. total_vs_base_mt stays for
    // cross-round comparability with r12-r15 artifacts.
    val medMicro = names.map { n =>
      n -> median(microNormalized(samples.getOrElse(n, Vector(0.0)),
        anchorIdxOf.getOrElse(n, Vector(0)), anchorCpuMt))
    }.toMap
    // per-query CPU seconds (median over trials of the bracketed
    // executorCpuTime diffs): the ambient-immune work measure — an
    // external hog inflates wall but cannot steal CPU time already
    // spent on-core, so cross-run cpu_sec deltas are plan deltas
    val cpuMed = names.map(n =>
      n -> r(median(cpuSamples.getOrElse(n, Vector(0.0))))).toMap
    val cpuTotal = r(cpuMed.values.sum)
    // run_sec = executorRunTime (wall the tasks spent scheduled,
    // including IO/shuffle-fetch wait): run_sec - cpu_sec per query is
    // the queueing/IO diagnostic the cpu channel alone can't show
    val runMed = names.map(n =>
      n -> r(median(runSamples.getOrElse(n, Vector(0.0))))).toMap
    val runTotal = r(runMed.values.sum)
    // Diagnostics line (full-precision medians, spread per query,
    // machine-noise anchors): its own JSON line so the PRIMARY line below
    // stays compact.
    val qsFull = names.map(n => s"\"$n\":" + r(med(n))).mkString("{", ",", "}")
    val shuf = names.map(n => s"\"$n\":" + shuffleMb.getOrElse(n, 0.0))
      .mkString("{", ",", "}")
    println(s"""{"metric":"bench_diagnostics","sf_dir":"$sfDir","trials":$trials,"spread_mean":$spreadMean,"anchor_cpu":$aCpu,"anchor_cpu_mt":$aCpuMt,"anchor_spark":$aSpark,"anchor_note":"fixed-work machine-noise anchors; normalize cross-session totals by the anchor ratio (~1.5-2x ambient drift observed on identical code)","queries_full":$qsFull,"spread":$sp,"spread_iqr":$spIqr,"spread_iqr_mean":$spreadIqrMean,"shuffle_mb":$shuf,"shuffle_note":"deterministic shuffle-write bytes from the executed plan's SQLMetrics — a perf regression with unchanged shuffle_mb is machine noise; a shuffle_mb jump is a lost broadcast/partial-agg"}""")
    spark.stop()
    // PRIMARY contract line, printed LAST and kept small: the driver
    // captures a bounded tail of stdout (observed 2000 chars) and parses
    // the JSON line from it, so the complete line must fit there even
    // after sbt's trailing "[success] Total time ..." line. 2-decimal
    // per-query values (10 ms granularity — still under the measured
    // run-to-run spread at sf0.1; full-precision medians live in the
    // diagnostics line's queries_full) keep ~70+ queries under that
    // budget with ~100 chars of headroom.
    // sf as basename and trials only in the diagnostics line: every char
    // here is budget for more per-query entries; total at 2 decimals too
    // (full precision is the diagnostics line's medians' sum)
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    def line(prec: Double => Double): String = {
      val qs = names.map(n => s"\"$n\":" + prec(med(n))).mkString("{", ",", "}")
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qs,"sf":"$sfName"}"""
    }
    // value lengths vary run to run (9.98 vs 10.02); if the 2-decimal
    // line ever outgrows the captured-tail budget, fall back to 1 decimal,
    // and past ~80 queries the NAMES alone outgrow it — then cap the map
    // to the most expensive queries with an explicit, non-silent remainder
    // ("n_omitted" cheapest queries summarized as "omitted_sum", so
    // value == sum(queries) + omitted_sum still audits). The full map is
    // never lost: diagnostics line above + bench_full.json next to it.
    // anchors + spread ride INSIDE bench_full.json: the driver's stdout
    // tail truncates the diagnostics line away (lost in r7/r8), and the
    // anchors' whole purpose is cross-session normalization from the
    // COMMITTED artifacts.
    // prev-round anchor ratios: the CPU anchor is the meaningful
    // normalizer (stable to ~1% under constant conditions, moves with
    // genuine contention); the spark anchor (scheduler dispatch) swings
    // ~50% run to run and rides along as a dispatch-latency diagnostic
    // only. The GRADED cross-round number is total_vs_base below — the
    // chained prev-round product (total_normalized) compounded per-round
    // anchor noise and was retired in r12 (older artifacts still carry
    // it).
    val anchorExtra = (prevAnchors match {
      case Some((pc, ps)) if aSpark > 0 && aCpu > 0 =>
        val ratioSpark = r(ps / aSpark)
        val ratioCpu = r(pc / aCpu)
        s""","prev_anchor_cpu":$pc,"prev_anchor_spark":$ps""" +
          s""","anchor_ratio_cpu":$ratioCpu,"anchor_ratio_spark":$ratioSpark"""
      case _ => ""
    }) + (prevAnchorCpuMt match {
      case Some(pm) if aCpuMt > 0 =>
        s""","prev_anchor_cpu_mt":$pm,"anchor_ratio_cpu_mt":${r(pm / aCpuMt)}"""
      case _ => ""
    })
    // fixed-baseline normalization (non-compounding): carried forward
    // verbatim; seeded from this run's own anchor on the first round
    val base = baseAnchorCpu.getOrElse(aCpu)
    val baseMt = baseAnchorCpuMt.getOrElse(aCpuMt)
    val baseExtra =
      (if (aCpu > 0)
        s""","anchor_cpu_base":$base,"total_vs_base":${r2(total * base / aCpu)}"""
      else "") +
      (if (aCpuMt > 0)
        s""","anchor_cpu_mt_base":$baseMt,"total_vs_base_mt":${r2(total * baseMt / aCpuMt)}""" +
          s""","total_vs_base_mt_pq":${r2(medMicro.values.sum * baseMt)}"""
      else "")
    val cpuMap = names.map(n => s"\"$n\":" + cpuMed(n)).mkString("{", ",", "}")
    val runMap = names.map(n => s"\"$n\":" + runMed(n)).mkString("{", ",", "}")
    // trial-1 task/stage counts (r18 verdict #2 — core-scaling
    // evidence): a query with tasks >> stages provably fans out across
    // the cluster even when sf0.1 seconds are fixed-cost-bound and the
    // 8-vs-32-core wall ratio reads ≈1
    val taskMap = names.map(n =>
      s"\"$n\":" + taskCounts.getOrElse(n, 0L)).mkString("{", ",", "}")
    val stageMap = names.map(n =>
      s"\"$n\":" + stageCounts.getOrElse(n, 0L)).mkString("{", ",", "}")
    val errMap =
      if (errs.isEmpty) ""
      else errs.toSeq.sorted.map { case (n, m) => s"\"$n\":\"$m\"" }
        .mkString(""","errors":{""", ",", "}")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      (line(r).dropRight(1) +
        s""","cpus":$cpus""" +
        s""","cpu_sec":$cpuMap,"cpu_sec_total":$cpuTotal""" +
        s""","run_sec":$runMap,"run_sec_total":$runTotal""" +
        s""","tasks":$taskMap,"stages":$stageMap""" +
        s""","shuffle_mb":$shuf,"anchor_cpu":$aCpu,"anchor_cpu_mt":$aCpuMt,"anchor_spark":$aSpark""" +
        s""","anchor_cpu_mt_iqr":$aCpuMtIqr,"anchor_samples":${anchorCpuMt.size}""" +
        s""","spread_mean":$spreadMean,"spread_iqr_mean":$spreadIqrMean""" +
        s""","trials":$trials$errMap$anchorExtra$baseExtra}""" + "\n")
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

  /** Per-sample micro-anchor normalization (pure, spec-tested): sample i
    * was timed after anchor sample `anchorIdx(i)` and before (if one
    * exists) `anchorIdx(i) + 1` — its ambient estimate is the mean of
    * the two, and the returned value is the unitless dt/ambient ratio
    * (scale by the fixed base anchor to get comparable seconds). */
  def microNormalized(dts: Vector[Double], anchorIdx: Vector[Int],
      anchors: Vector[Double]): Vector[Double] =
    dts.zip(anchorIdx).map { case (dt, k) =>
      val kk = math.min(math.max(k, 0), anchors.size - 1)
      val est =
        if (kk + 1 < anchors.size) (anchors(kk) + anchors(kk + 1)) / 2
        else anchors(kk)
      if (est > 0) dt / est else 0.0
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

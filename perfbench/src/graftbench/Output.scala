package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Prints the run's figures and its one-line JSON result, and keeps the
  * run's record under `<work>/results` (spans under `<work>/traces`). */
object Output {

  /** End-to-end metrics: name, unit. */
  val EndToEndMetrics: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "peak_heap_mb" -> "MB")

  private def metric(v: Double, unit: String): String =
    Stats.obj(Seq("value" -> Stats.num(v), "unit" -> Stats.str(unit)))

  private def endToEnd(e: EndToEnd, r: Run): Seq[(String, Double)] = Seq(
    "setup_s" -> e.setupS, "latency_p50_ms" -> e.latencyP50Ms,
    "throughput_per_s" -> e.throughputPerS, "peak_heap_mb" -> r.peakHeapMb)

  def emit(workload: String, seed: Long, hash: String, trace: Boolean, work: Path,
      r: Run, tracer: Tracer, e2e: Option[EndToEnd]): Int = {
    val errorRate = r.failed.toDouble / math.max(1L, r.attempted)
    r.put("peak_heap_mb", r.peakHeapMb, "MB", 1)
    r.put("error_rate", errorRate, "ratio", r.attempted.toInt)
    r.report.foreach { case (k, (v, u, n)) => println(f"metric $k%-28s ${Stats.num(v)}%14s $u%-6s n=$n") }
    r.checks.foreach { case (k, ok, d) => println(s"check ${if (ok) "ok  " else "FAIL"} $k: $d") }
    val e2eFigures = e2e.map(endToEnd(_, r)).getOrElse(Nil)
    e2eFigures.foreach { case (k, v) => println(f"end_to_end $k%-22s ${Stats.num(v)}") }

    val perOp = if (trace) tracer.perOp else Map.empty[String, Map[String, Double]]
    val layer: Seq[(String, Double)] = if (!trace) Nil else {
      val byCall = Main.LayerMetrics.map { case (name, _) =>
        val (op, field) = name.splitAt(name.indexOf('.'))
        name -> perOp.get(op).flatMap(_.get(field.drop(1)))
          .orElse(r.layer.get(name)).getOrElse(0.0)
      }
      byCall.map { case (n, v) => if (n == "jvm.gc_ms") n -> r.gcMsSinceStart else n -> v }
    }
    if (trace) {
      perOp.toSeq.sortBy(_._1).foreach { case (op, f) =>
        println(f"layer $op%-20s ms=${f("ms")}%.1f self_ms=${f("self_ms")}%.1f " +
          f"driver_ms=${f("ms") - f("jobs_ms")}%.1f plan_ms=${f("plan_ms")}%.1f " +
          f"cpu_ms=${f("cpu_ms")}%.1f tasks=${f("tasks")}%.0f jobs=${f("jobs")}%.0f")
      }
      r.layer.foreach { case (k, v) => println(s"layer $k ${Stats.num(v)}") }
    }

    val results = work.resolve("results")
    Files.createDirectories(results)
    val tag = s"$workload-$seed-trace${if (trace) 1 else 0}"
    val record = Stats.obj(Seq(
      "workload" -> Stats.str(workload), "seed" -> seed.toString,
      "inputs_sha256" -> Stats.str(hash), "trace" -> trace.toString,
      "end_to_end" -> Stats.obj(e2eFigures.map { case (k, v) => k -> Stats.num(v) }),
      "figures" -> Stats.obj(r.report.toSeq.map { case (k, (v, u, n)) =>
        k -> Stats.obj(Seq("value" -> Stats.num(v), "unit" -> Stats.str(u), "n" -> n.toString)) }),
      "checks" -> r.checks.map { case (k, ok, d) =>
        Stats.obj(Seq("name" -> Stats.str(k), "ok" -> ok.toString, "detail" -> Stats.str(d)))
      }.mkString("[", ", ", "]")))
    Files.write(results.resolve(s"$tag.json"), record.getBytes(UTF_8))

    if (trace) {
      val traces = work.resolve("traces")
      Files.createDirectories(traces)
      Files.write(traces.resolve(s"$tag.jsonl"), tracer.spansJson.mkString("", "\n", "\n").getBytes(UTF_8))
      overhead(results.resolve(s"$workload-$seed-trace0.json"), e2eFigures)
    }

    val correct = e2e.isDefined && r.failed == 0 && r.checks.forall(_._2)
    val metrics =
      if (trace) layer.map { case (k, v) =>
        k -> metric(v, Main.LayerMetrics.find(_._1 == k).get._2) }
      else e2eFigures.map { case (k, v) => k -> metric(v, EndToEndMetrics.find(_._1 == k).get._2) }
    println(Stats.obj(Seq("correct" -> correct.toString, "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString, "metrics" -> Stats.obj(metrics))))
    if (correct) 0 else 1
  }

  /** Tracing overhead: this traced run minus the untraced run of the same
    * workload and seed, when that run's record is present. */
  private def overhead(untraced: Path, traced: Seq[(String, Double)]): Unit =
    if (!Files.exists(untraced))
      println(s"overhead: no untraced record of this workload and seed to compare with")
    else {
      val text = new String(Files.readAllBytes(untraced), UTF_8)
      traced.foreach { case (k, v) =>
        val m = ("\"" + k + "\": ([-0-9.Ee]+)").r.findFirstMatchIn(text)
        m.foreach { x =>
          val base = x.group(1).toDouble
          println(f"overhead $k%-22s traced=${Stats.num(v)} untraced=${Stats.num(base)} " +
            f"delta=${Stats.num(v - base)} (${100 * (v - base) / base}%+.1f%%)")
        }
      }
    }
}

package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench PRIMARY line is the driver's only machine-readable perf
  * channel and is read from a bounded (~2000-char) stdout tail that also
  * holds sbt's trailing "[success] ..." line — r1-r5 were all
  * `parsed: null` because the line outgrew that tail. These specs pin the
  * three emission regimes of [[Bench.primaryLine]]: full 2-decimal map,
  * 1-decimal fallback, and the explicit non-silent cap once the query
  * NAMES alone outgrow the budget (the 83-query regime). */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(line: String): JsonNode = mapper.readTree(line)
  private def queryMap(j: JsonNode): Map[String, Double] =
    j.get("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap

  private def mkNames(n: Int, prefix: String = "query_name_"): Vector[String] =
    (0 until n).map(i => f"$prefix$i%03d").toVector

  test("small surface: full map at 2 decimals, under budget") {
    val names = mkNames(10)
    val med = names.zipWithIndex.map { case (n, i) => n -> (0.123456 + i) }.toMap
    val line = Bench.primaryLine(names, med, med.values.sum, "sf0.1")
    assert(line.length <= 1900)
    val j = parse(line)
    val qs = queryMap(j)
    assert(qs.size === names.size)
    assert(qs(names.head) === 0.12)
    assert(!j.has("n_omitted"))
  }

  test("over-budget map falls back, then caps with explicit remainder") {
    // 120 long-named queries: names alone exceed any precision fallback
    val names = mkNames(120, "a_rather_long_query_name_")
    val med = names.zipWithIndex.map { case (n, i) =>
      n -> (0.05 + (i % 17) * 0.331)
    }.toMap
    val total = med.values.sum
    val line = Bench.primaryLine(names, med, total, "sf0.1")
    assert(line.length <= 1900, s"capped line still over budget: ${line.length}")
    val j = parse(line)
    val kept = queryMap(j)
    assert(kept.nonEmpty && kept.size < names.size)
    assert(j.get("n_omitted").asInt() === names.size - kept.size)
    // value audits: kept entries + omitted_sum ≈ total (2-decimal rounding)
    val audit = kept.values.sum + j.get("omitted_sum").asDouble()
    assert(math.abs(audit - total) < 0.01 * names.size)
    // the kept set is the EXPENSIVE end: every kept median >= every omitted
    val keptMin = kept.keys.map(med).min
    val omittedMax = names.filterNot(kept.keySet).map(med).max
    assert(keptMin >= omittedMax - 1e-9)
  }

  test("capped emission is deterministic across calls") {
    val names = mkNames(120, "a_rather_long_query_name_")
    val med = names.zipWithIndex.map { case (n, i) =>
      n -> (0.05 + (i % 17) * 0.331)
    }.toMap
    val l1 = Bench.primaryLine(names, med, med.values.sum, "sf0.1")
    val l2 = Bench.primaryLine(names, med, med.values.sum, "sf0.1")
    assert(l1 === l2)
  }

  test("current SparkEntry surface fits the driver tail with margin") {
    // the REAL query names at plausible sf0.1 medians: the emitted line
    // must stay under budget no matter how wide the values print
    val names = SparkEntry.queries.keys.toVector.sorted
    val med = names.zipWithIndex.map { case (n, i) =>
      n -> (10.0 + (i % 7) + 0.994)
    }.toMap
    val line = Bench.primaryLine(names, med, med.values.sum, "sf0.1")
    assert(line.length <= 1900, s"primary line ${line.length} > 1900")
    assert(queryMap(parse(line)).nonEmpty)
  }
}

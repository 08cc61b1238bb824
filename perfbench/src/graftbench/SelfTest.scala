package graftbench

/** Tests of the benchmark's own pure helpers — percentiles with the
  * ten-beyond rule, span self time, generator determinism. No Spark.
  * Run with `python3 perfbench/run.py --selftest`; exits 1 on a failure. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    expect("median of 1..100 is 50 (nearest rank)", Stats.median(xs) == 50.0)
    expect("p90 of 1..100 is 90", Stats.percentile(xs, 0.9) == 90.0)
    expect("p90 of 1..100 has 10 samples beyond it", Stats.beyond(100, 0.9) == 10)
    expect("p90 reported at 100 samples", Stats.tail(xs, 0.9).contains(90.0))
    expect("p90 withheld at 99 samples (9 beyond)", Stats.tail(xs.take(99), 0.9).isEmpty)
    expect("p99 withheld at 100 samples (1 beyond)", Stats.tail(xs, 0.99).isEmpty)
    expect("median of one sample is that sample", Stats.median(Seq(7.0)) == 7.0)
    expect("a failure (+inf) pushes the median up, never down",
      Stats.median(Seq(1.0, 2.0, Double.PositiveInfinity)) == 2.0 &&
        Stats.median(Seq(1.0, Double.PositiveInfinity, Double.PositiveInfinity)).isInfinite)
    expect("percentile of no samples is refused",
      scala.util.Try(Stats.percentile(Nil, 0.5)).isFailure)

    expect("union of disjoint intervals", Stats.unionLength(Seq((0L, 2L), (5L, 6L))) == 3)
    expect("union of overlapping and nested intervals",
      Stats.unionLength(Seq((0L, 10L), (2L, 4L), (8L, 12L), (20L, 21L))) == 13)
    expect("self time without children is the duration", Stats.selfTime(0, 100, Nil) == 100)
    expect("self time subtracts overlapping children once",
      Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 95L))) == 65)
    expect("children are clipped to the parent",
      Stats.selfTime(10, 20, Seq((0L, 15L), (18L, 30L))) == 3)

    Main.WorkloadNames.foreach { w =>
      val (_, a) = Gen.generate(w, 1)
      val (_, b) = Gen.generate(w, 1)
      val (_, c) = Gen.generate(w, 2)
      expect(s"$w: same seed, same input hash; another seed, another", a == b && a != c)
    }
    val corpus = Gen.corpus(1)
    expect("corpus: planted near-dup pairs and short docs exist",
      corpus.plantedPairs.nonEmpty && corpus.failsGate.nonEmpty)
    expect("corpus: documents are letter-only words",
      corpus.texts.forall(_.forall(c => c == ' ' || (c >= 'a' && c <= 'z'))))
    val graph = Gen.graph(1)
    expect("graph: every node has an out-edge", graph.src.toSet.size == graph.nodes)
    expect("graph: mega-hubs hold the top in-degrees", {
      val inDeg = graph.dst.groupBy(identity).map { case (n, v) => n -> v.length }
      inDeg.toSeq.sortBy(-_._2).take(graph.hubs.size).map(_._1).toSet == graph.hubs.toSet
    })

    println(if (failures == 0) "selftest: all ok" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

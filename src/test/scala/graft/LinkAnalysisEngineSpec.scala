package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.operators.LinkAnalysis

/** The shared block engine under PageRank, HITS, k-core and BFS: id
  * encoding (integral ids run as longs, any other type through a
  * dictionary), edge-input hygiene, block-record spanning, the
  * empty-graph and absent-seed contracts, and the per-round job labels. */
class LinkAnalysisEngineSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(29)
  /** A random directed graph on 0..59 with two hubs, a self-loop and a
    * repeated edge — every operator has non-trivial work on it. */
  private val graph: Seq[(Long, Long)] = {
    val e = Seq.fill(260)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) ++
      (1L to 30L).map(d => (0L, d)) ++ (20L to 50L).map(s => (s, 7L))
    e :+ ((3L, 3L)) :+ e.head
  }

  /** Every operator's output as a set of rows with the node id first. */
  private def runAll(df: DataFrame, source: Any, seeds: Seq[Any]) = Seq(
    LinkAnalysis.pageRank(df, "src", "dst", iterations = 4),
    LinkAnalysis.pageRank(df, "src", "dst", iterations = 4, teleportSeeds = seeds),
    LinkAnalysis.hits(df, "src", "dst"),
    LinkAnalysis.kCore(df, "src", "dst", k = 4),
    LinkAnalysis.bfsHops(df, "src", "dst", source, 3)
  ).map(_.collect().map(r => r.toSeq).toSet)

  test("String-renamed ids give the Long ids' output, mapped back") {
    val byLong = runAll(graph.toDF("src", "dst"), 0L, Seq(0L, 7L))
    val named = graph.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst")
    val byName = runAll(named, "n0", Seq("n0", "n7"))
    val mappedBack = byName.map(_.map(r => r.head.toString.drop(1).toLong +: r.tail))
    assert(byLong.forall(_.nonEmpty))
    assert(mappedBack === byLong)
  }

  test("duplicates, reversed copies, self-loops and null endpoints") {
    val clean = graph.filter(e => e._1 != e._2).distinct
    val noisy = (clean ++ clean ++ Seq((9L, 9L), (4L, 4L)))
      .map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some(1L)), (Some(2L), None), (None, None))
    val noisyDf = noisy.toDF("src", "dst")
    val cleanDf = clean.toDF("src", "dst")
    // directed operators keep self-loops (a loop is a real out-edge), so
    // compare them on duplicates and nulls only; the undirected ones drop
    // self-loops and read a reversed copy as the same edge
    def directed(df: DataFrame) = Seq(
      LinkAnalysis.pageRank(df, "src", "dst"), LinkAnalysis.hits(df, "src", "dst")
    ).map(_.collect().toSet)
    assert(directed(noisyDf.filter($"src".isNull || $"dst".isNull ||
      $"src" =!= $"dst")) === directed(cleanDf))
    val reversed = (clean ++ clean.map(_.swap) ++ Seq((9L, 9L))).toDF("src", "dst")
    def undirected(df: DataFrame) = Seq(
      LinkAnalysis.kCore(df, "src", "dst", k = 3),
      LinkAnalysis.bfsHops(df, "src", "dst", 0L, 4)
    ).map(_.collect().toSet)
    assert(undirected(noisyDf) === undirected(cleanDf))
    assert(undirected(reversed) === undirected(cleanDf))
    val all = LinkAnalysis.pageRank(noisyDf, "src", "dst")
    assert(all.filter($"node".isNull).count() === 0)
  }

  test("BFS from an isolated or absent source is empty, for every id type") {
    val g = Seq((1L, 2L), (2L, 3L), (9L, 9L)) // 9 only has a self-loop
    val longs = g.toDF("u", "v")
    val names = g.map { case (a, b) => (s"n$a", s"n$b") }.toDF("u", "v")
    for (src <- Seq(9L, 42L))
      assert(LinkAnalysis.bfsHops(longs, "u", "v", src, 3).count() === 0)
    for (src <- Seq("n9", "n42", 1L))
      assert(LinkAnalysis.bfsHops(names, "u", "v", src, 3).count() === 0)
    assert(LinkAnalysis.bfsHops(names, "u", "v", "n1", 3)
      .as[(String, Int)].collect().toMap === Map("n1" -> 0, "n2" -> 1, "n3" -> 2))
  }

  test("output keeps the caller's id type") {
    val ints = Seq((1, 2), (2, 3), (3, 1), (1, 3)).toDF("u", "v")
    val strs = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("u", "v")
    def nodeType(df: DataFrame) = df.schema("node").dataType
    assert(nodeType(LinkAnalysis.pageRank(ints, "u", "v")) === IntegerType)
    assert(nodeType(LinkAnalysis.hits(ints, "u", "v")) === IntegerType)
    assert(nodeType(LinkAnalysis.kCore(ints, "u", "v", k = 2)) === IntegerType)
    // BFS documents BIGINT node ids for integral input
    assert(nodeType(LinkAnalysis.bfsHops(ints, "u", "v", 1, 2)) === LongType)
    for (df <- Seq(LinkAnalysis.pageRank(strs, "u", "v"),
        LinkAnalysis.hits(strs, "u", "v"), LinkAnalysis.kCore(strs, "u", "v", k = 2),
        LinkAnalysis.bfsHops(strs, "u", "v", "a", 2))) {
      assert(nodeType(df) === StringType)
      assert(!df.schema("node").nullable)
      assert(df.count() === 3)
    }
  }

  test("hits on an empty edge set returns an empty table with its schema") {
    for (df <- Seq(Seq.empty[(Long, Long)].toDF("src", "dst"),
        Seq.empty[(String, String)].toDF("src", "dst"),
        Seq[(Option[Long], Option[Long])]((None, Some(1L))).toDF("src", "dst"))) {
      val h = LinkAnalysis.hits(df, "src", "dst")
      assert(h.count() === 0)
      assert(h.schema.fieldNames.toSeq === Seq("node", "auth", "hub"))
      assert(h.schema("node").dataType === df.schema("src").dataType)
      assert(h.schema("auth").dataType === LongType)
    }
  }

  test("pageRank fails loudly on teleport seeds that are not graph nodes") {
    val longs = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val e1 = intercept[IllegalArgumentException](
      LinkAnalysis.pageRank(longs, "src", "dst", teleportSeeds = Seq(1L, 8L, 9L)))
    assert(e1.getMessage.contains("8, 9"), e1.getMessage)
    val names = Seq(("p:1", "s:2"), ("s:2", "p:1")).toDF("src", "dst")
    val e2 = intercept[IllegalArgumentException](
      LinkAnalysis.pageRank(names, "src", "dst", teleportSeeds = Seq("p:1", "p:4")))
    assert(e2.getMessage.contains("p:4") && !e2.getMessage.contains("p:1"),
      e2.getMessage)
    // a present seed of another integral type resolves like its long
    assert(LinkAnalysis.pageRank(longs, "src", "dst", teleportSeeds = Seq(1))
      .collect().toSet === LinkAnalysis.pageRank(longs, "src", "dst",
        teleportSeeds = Seq(1L)).collect().toSet)
  }

  test("every round's Spark jobs carry a label; the caller's comes back") {
    val df = graph.toDF("src", "dst")
    val sc = spark.sparkContext
    def labels(f: => Any): Seq[String] =
      SpecUtil.jobsOf(spark) {
        sc.setJobDescription("caller")
        f
        assert(sc.getLocalProperty("spark.job.description") === "caller")
      }.map(_.getProperty("spark.job.description"))
    val h = labels(LinkAnalysis.hits(df, "src", "dst", iterations = 3).collect())
    assert(Seq("hits build", "hits r2: auth", "hits r2: hub", "hits r3: hub",
      "hits output").forall(h.contains), h.distinct)
    val k = labels(LinkAnalysis.kCore(df, "src", "dst", k = 12).collect())
    assert(Seq("kcore build", "kcore r1: peel", "kcore r2: peel",
      "kcore output").forall(k.contains), k.distinct)
    val b = labels(LinkAnalysis.bfsHops(df, "src", "dst", 0L, 3).collect())
    assert(Seq("bfs build", "bfs hop 1", "bfs hop 3", "bfs output")
      .forall(b.contains), b.distinct)
    val p = labels(LinkAnalysis.pageRank(df, "src", "dst", iterations = 4).collect())
    assert(Seq("pagerank build", "pagerank nodes", "pagerank r1-4: rank")
      .forall(p.contains), p.distinct)
    val l = labels(LinkAnalysis.labelPropagation(df, "src", "dst", iterations = 3).collect())
    assert(Seq("lpa build", "lpa r1: vote", "lpa r3: vote", "lpa output")
      .forall(l.contains), l.distinct)
    // only the operators' own labels, and the caller's for its collect
    val known = Seq("hits ", "kcore ", "bfs ", "pagerank ", "lpa ", "caller")
    assert((h ++ k ++ b ++ p ++ l).forall(x => known.exists(x.startsWith)),
      (h ++ k ++ b ++ p ++ l).distinct)
  }
}

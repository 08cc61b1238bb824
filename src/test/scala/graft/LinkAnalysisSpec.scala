package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, greatest, least}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.LinkAnalysis

object LinkAnalysisSpec {

  /** Label propagation as it ran before the block engine: boxed
    * `aggregateByKey` adjacency over the LONG-cast, canonicalized and
    * symmetrized edge set, and per round a `join` of the labels onto it
    * plus the two-shuffle pre-reduce vote — count (node, label) pairs,
    * then a node-keyed (count DESC, label ASC) argmax. */
  def referenceLabelPropagation(pairs: DataFrame, leftCol: String,
      rightCol: String, iterations: Int): DataFrame = {
    val spark = pairs.sparkSession
    val part = new HashPartitioner(spark.sparkContext.defaultParallelism)
    val edges = pairs
      .select(col(leftCol).cast("long").as("a"), col(rightCol).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .rdd.flatMap { r =>
        val (u, v) = (r.getLong(0), r.getLong(1))
        Iterator((u, v), (v, u))
      }
    val adj = edges.aggregateByKey(ArrayBuffer.empty[Long], part)(
      (b, d) => b += d, (a, b) => a ++= b).mapValues(_.toArray)
    def vote(msgs: RDD[(Long, Long)]): RDD[(Long, Long)] = msgs
      .map { case (n, lab) => ((n, lab), 1L) }
      .reduceByKey(part, _ + _)
      .map { case ((n, lab), c) => (n, (lab, c)) }
      .reduceByKey(part, (x, y) =>
        if (x._2 > y._2 || (x._2 == y._2 && x._1 < y._1)) x else y)
      .mapValues(_._1)
    var labels: RDD[(Long, Long)] = adj.map { case (n, _) => (n, n) }
    for (_ <- 1 to iterations)
      labels = vote(adj.join(labels, part).flatMap { case (_, (nbrs, lab)) =>
        nbrs.iterator.map(d => (d, lab))
      })
    spark.createDataFrame(labels.map { case (n, l) => Row(n, l) },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("label", LongType, nullable = false))))
  }
}

/** Fixed-point PageRank contract: mass conservation up to the documented
  * floor leak, hub dominance, degenerate damping endpoints, and layout
  * determinism (pure integer arithmetic ⇒ bit-stable under any
  * partitioning). */
class LinkAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def pr(edges: Seq[(String, String)], iters: Int = 5,
      d100: Int = 85): Map[String, Long] =
    LinkAnalysis.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = iters, d100 = d100)
      .as[(String, Long)].collect().toMap

  // star: every leaf links to the hub, hub links back to l1 so no
  // node dangles
  private val star = Seq(
    "l1" -> "hub", "l2" -> "hub", "l3" -> "hub", "l4" -> "hub",
    "hub" -> "l1")

  test("hub with many in-links dominates; mass conserved up to floor leak") {
    val got = pr(star)
    assert(got.size === 5)
    assert(got("hub") > got("l2"), got.toString)
    assert(got("l1") > got("l2"), "hub's sole out-link inherits its rank")
    val total = got.values.sum
    // each node's update floors at most twice per iteration
    val maxLeak = 5L * 2 * 5 * 100
    assert(total <= LinkAnalysis.Scale && total >= LinkAnalysis.Scale - maxLeak,
      s"total=$total")
  }

  test("d100=0 degrades to the uniform teleport distribution") {
    val got = pr(star, d100 = 0)
    assert(got.values.toSet === Set(LinkAnalysis.Scale / 5))
  }

  test("iterations=0 returns the uniform initialization") {
    val got = pr(star, iters = 0)
    assert(got.values.toSet === Set(LinkAnalysis.Scale / 5))
  }

  test("duplicate edges collapse: rank equals the deduplicated graph's") {
    assert(pr(star ++ star ++ star) === pr(star))
  }

  test("bit-stable under repartitioning (pure integer recurrence)") {
    val df = star.toDF("src", "dst")
    val a = LinkAnalysis.pageRank(df, "src", "dst")
      .as[(String, Long)].collect().toMap
    val b = LinkAnalysis.pageRank(df.repartition(7), "src", "dst")
      .as[(String, Long)].collect().toMap
    assert(a === b)
  }

  test("mega-hub lists spanning block records: bit-identical at any block budget") {
    // hub 0 fans out to 400 targets; background edges + back-edges keep
    // the graph connected. A small record budget cuts the hub's list
    // across many block records (at 1, every list) — no operator's
    // output may move by one unit.
    val rnd = new scala.util.Random(13)
    val hub = (1L to 400L).map(d => (0L, d))
    val back = Seq((1L, 0L), (200L, 0L))
    val bg = Seq.fill(300)(
        (rnd.nextInt(400).toLong + 1L, rnd.nextInt(400).toLong + 1L))
      .filter(e => e._1 != e._2)
    val df = (hub ++ back ++ bg).toDF("src", "dst")
    def all() = Seq(
      LinkAnalysis.pageRank(df, "src", "dst"),
      LinkAnalysis.pageRank(df, "src", "dst", teleportSeeds = Seq(0L, 7L)),
      LinkAnalysis.hits(df, "src", "dst"),
      LinkAnalysis.kCore(df, "src", "dst", k = 2),
      LinkAnalysis.bfsHops(df, "src", "dst", 1L, 3),
      LinkAnalysis.labelPropagation(df, "src", "dst")
    ).map(_.collect().toSet)
    val whole = all()
    assert(whole.forall(_.nonEmpty))
    for (s <- Seq(1, 7, 64)) {
      val spanned = LinkAnalysis.blockEdges.withValue(s)(all())
      assert(spanned === whole, s"blockEdges=$s diverged")
    }
  }

  private def hitsOf(edges: Seq[(String, String)], iters: Int = 3)
      : Map[String, (Long, Long)] =
    LinkAnalysis.hits(edges.toDF("src", "dst"), "src", "dst",
        iterations = iters)
      .as[(String, Long, Long)].collect()
      .map { case (n, a, h) => n -> (a, h) }.toMap

  test("edge-input hygiene: empty graph, null endpoints, duplicate seeds") {
    import spark.implicits._
    // empty edge set: an empty rank table, not a divide-by-zero
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(LinkAnalysis.pageRank(none, "src", "dst", iterations = 3).count() === 0)
    // null endpoints are filtered like every sibling operator — never a
    // null NODE under the nullable=false output schema
    val withNulls = Seq(
      (Option(1L), Option(2L)), (Option(2L), Option(1L)),
      (Option.empty[Long], Option(2L)), (Option(1L), Option.empty[Long]))
      .toDF("src", "dst")
    val pr = LinkAnalysis.pageRank(withNulls, "src", "dst", iterations = 3)
    assert(pr.count() === 2 && pr.filter($"node".isNull).count() === 0)
    // duplicate teleport seeds must not dilute the restart mass: the
    // rank vector equals the deduplicated seed list's exactly
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val dup = LinkAnalysis.pageRank(e, "src", "dst", iterations = 4,
      teleportSeeds = Seq(1L, 1L, 2L)).orderBy("node").collect().toSeq
    val ded = LinkAnalysis.pageRank(e, "src", "dst", iterations = 4,
      teleportSeeds = Seq(1L, 2L)).orderBy("node").collect().toSeq
    assert(dup === ded)
  }

  test("hits: star center is the sole authority, leaves are equal hubs") {
    val got = hitsOf(Seq("l1" -> "c", "l2" -> "c", "l3" -> "c"))
    assert(got("c")._1 === LinkAnalysis.ScaleHits, "center auth = max-norm 1")
    assert(got("c")._2 === 0L, "center has no out-edges")
    Seq("l1", "l2", "l3").foreach { l =>
      assert(got(l) === ((0L, LinkAnalysis.ScaleHits)), got.toString)
    }
  }

  test("hits: authority rises with in-degree, hub with out-degree") {
    // s1 sourced by 3 hubs, s2 by 1; p1 points at both, p2 only at s1
    val g = Seq("p1" -> "s1", "p1" -> "s2", "p2" -> "s1", "p3" -> "s1")
    val got = hitsOf(g)
    assert(got("s1")._1 > got("s2")._1, "more/better in-links => more auth")
    assert(got("p1")._2 >= got("p2")._2, "broader hub covers more authorities")
    assert(got.values.map(_._1).max === LinkAnalysis.ScaleHits)
    assert(got.values.map(_._2).max === LinkAnalysis.ScaleHits)
  }

  test("hits: duplicate edges collapse; bit-stable under repartitioning") {
    val g = Seq("p1" -> "s1", "p1" -> "s2", "p2" -> "s1", "p3" -> "s2")
    assert(hitsOf(g ++ g) === hitsOf(g))
    val df = g.toDF("src", "dst")
    val a = LinkAnalysis.hits(df, "src", "dst")
      .as[(String, Long, Long)].collect().toSet
    val b = LinkAnalysis.hits(df.repartition(7), "src", "dst")
      .as[(String, Long, Long)].collect().toSet
    assert(a === b)
  }

  test("two disconnected cliques split mass by size, not topology luck") {
    // 3-cycle vs 2-cycle: within a cycle every node ends equal; larger
    // component holds proportionally more total mass
    val g = Seq("a" -> "b", "b" -> "c", "c" -> "a", "x" -> "y", "y" -> "x")
    val got = pr(g, iters = 20)
    val cyc3 = Seq("a", "b", "c").map(got).sum
    val cyc2 = Seq("x", "y").map(got).sum
    assert(math.abs(cyc3 - 3L * LinkAnalysis.Scale / 5) < LinkAnalysis.Scale / 100)
    assert(math.abs(cyc2 - 2L * LinkAnalysis.Scale / 5) < LinkAnalysis.Scale / 100)
    assert(math.abs(got("a") - got("b")) <= 1000, "cycle symmetry")
  }

  // ---- triangles / clustering coefficient ----

  private def triOf(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] =
    LinkAnalysis.triangles(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (n, d, t, c) => n -> ((d, t, c)) }.toMap

  test("K4: every node degree 3, 3 triangles, lcc 1.0") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val got = triOf(k4)
    assert(got.size === 4)
    got.values.foreach { case (d, t, c) => assert((d, t, c) === ((3L, 3L, 1.0))) }
  }

  test("path graph closes no triangles; degree-1 endpoints get lcc 0") {
    val got = triOf(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(got.values.forall { case (_, t, c) => t === 0L && c === 0.0 })
    assert(got(1L)._1 === 1L && got(2L)._1 === 2L)
  }

  test("duplicate / reversed / self-loop edges collapse before counting") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val noisy = tri ++ tri.map(_.swap) ++ Seq((1L, 1L), (2L, 2L))
    assert(triOf(noisy) === triOf(tri))
  }

  // ---- personalized PageRank ----

  private def ppr(edges: Seq[(String, String)], seeds: Seq[String],
      iters: Int = 5, d100: Int = 85): Map[String, Long] =
    LinkAnalysis.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = iters, d100 = d100, teleportSeeds = seeds)
      .as[(String, Long)].collect().toMap

  test("PPR: seeding every node is bit-identical to the uniform default") {
    val nodes = star.flatMap(e => Seq(e._1, e._2)).distinct
    assert(ppr(star, nodes) === pr(star))
  }

  test("PPR: rank decays with distance from the seed on a path") {
    // undirected 6-node path, seeded at one end
    val path = (1 to 5).flatMap(i =>
      Seq(s"n$i" -> s"n${i + 1}", s"n${i + 1}" -> s"n$i"))
    val got = ppr(path, Seq("n1"))
    val ranks = (1 to 6).map(i => got(s"n$i"))
    // a finite walk from an endpoint has step-parity oscillation between
    // adjacent nodes, so assert decay over distance PAIRS, not per node
    val pairs = ranks.grouped(2).map(_.sum).toSeq
    assert(pairs === pairs.sortBy(-_), s"pairwise decay expected: $ranks")
    assert(pairs.last < pairs.head / 10, "far end nearly unreached")
  }

  test("PPR: d100=0 is the pure restart distribution") {
    val got = ppr(star, Seq("l1", "l2"), d100 = 0)
    assert(got("l1") === LinkAnalysis.Scale / 2)
    assert(got("l2") === LinkAnalysis.Scale / 2)
    assert(got("hub") === 0L && got("l3") === 0L)
  }

  // ---- label propagation ----

  private def lp(edges: Seq[(Long, Long)], iters: Int = 4): Map[Long, Long] =
    LinkAnalysis.labelPropagation(edges.toDF("u", "v"), "u", "v", iterations = iters)
      .as[(Long, Long)].collect().toMap

  private def clique(ids: Seq[Long]): Seq[(Long, Long)] =
    for (i <- ids; j <- ids if i < j) yield (i, j)

  test("LPA: two cliques joined by one bridge stay separate communities") {
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(5L, 6L, 7L, 8L)) :+ (4L -> 5L)
    val got = lp(edges)
    assert(got.size === 8)
    // the bridge is outvoted: each clique converges onto its min id
    assert(Seq(1L, 2L, 3L, 4L).map(got) === Seq(1L, 1L, 1L, 1L), got.toString)
    assert(Seq(5L, 6L, 7L, 8L).map(got) === Seq(5L, 5L, 5L, 5L), got.toString)
    // contrast: components WOULD merge them through the bridge
    val comp = graft.operators.Components
      .connectedComponents(edges.toDF("u", "v"), "u", "v")
      .as[(Long, Long)].collect().toMap
    assert(comp.values.toSet.size === 1)
  }

  test("LPA: iterations=0 returns the self-label initialization") {
    val got = lp(clique(Seq(1L, 2L, 3L)), iters = 0)
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("LPA: duplicate / reversed / self-loop edges collapse") {
    val base = clique(Seq(1L, 2L, 3L, 4L))
    val noisy = base ++ base.map(_.swap) ++ Seq(1L -> 1L, 3L -> 3L)
    assert(lp(noisy) === lp(base))
  }

  test("LPA: bit-stable under repartitioning") {
    val rnd = new scala.util.Random(11)
    val edges = (for (i <- 0L until 30L; j <- (i + 1) until 30L
      if rnd.nextDouble() < 0.2) yield (i, j)).toSeq
    val base = lp(edges)
    val repart = LinkAnalysis.labelPropagation(
        edges.toDF("u", "v").repartition(17), "u", "v", iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(repart === base)
  }

  /** The block-engine LPA equals the boxed reference — rows and schema. */
  private def assertLpaMatchesReference(df: DataFrame,
      iters: Int): Unit = {
    val got = LinkAnalysis.labelPropagation(df, "u", "v", iterations = iters)
    val want = LinkAnalysisSpec.referenceLabelPropagation(df, "u", "v", iters)
    assert(got.schema === want.schema)
    assert(got.collect().toSet === want.collect().toSet, s"iterations=$iters")
  }

  test("LPA equals the boxed reference on seeded random graphs") {
    for (seed <- Seq(1, 2, 3); density <- Seq(0.05, 0.2)) {
      val rnd = new scala.util.Random(seed)
      val edges = for (i <- 0L until 40L; j <- (i + 1) until 40L
        if rnd.nextDouble() < density) yield (i, j)
      assertLpaMatchesReference(edges.toDF("u", "v"), 4)
    }
  }

  test("LPA equals the boxed reference around a 400-leaf hub") {
    val rnd = new scala.util.Random(17)
    val hub = (1L to 400L).map(d => (0L, d))
    val bg = Seq.fill(300)((rnd.nextInt(400).toLong + 1L, rnd.nextInt(400).toLong + 1L))
    for (iters <- Seq(0, 1, 4))
      assertLpaMatchesReference((hub ++ bg).toDF("u", "v"), iters)
  }

  test("LPA equals the boxed reference on noisy edges and cast ids") {
    val base = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L)) :+ (4L -> 5L)
    val noisy = (base ++ base ++ base.map(_.swap) ++ Seq(2L -> 2L, 6L -> 6L))
      .map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some(1L)), (Some(3L), None), (None, None))
    for (iters <- Seq(0, 1, 4)) {
      assertLpaMatchesReference(noisy.toDF("u", "v"), iters)
      assertLpaMatchesReference(base.map { case (a, b) => (a.toInt, b.toInt) }
        .toDF("u", "v"), iters)
      assertLpaMatchesReference(base.map { case (a, b) => (a.toString, b.toString) }
        .toDF("u", "v"), iters)
    }
  }

  test("LPA on an empty edge set: empty (node BIGINT, label BIGINT) frame") {
    for (df <- Seq(Seq.empty[(Long, Long)].toDF("u", "v"),
        Seq((1L, 1L), (2L, 2L)).toDF("u", "v"),
        Seq[(Option[Int], Option[Int])]((None, Some(1))).toDF("u", "v"))) {
      val got = LinkAnalysis.labelPropagation(df, "u", "v")
      assert(got.count() === 0)
      assert(got.schema === StructType(Seq(
        StructField("node", LongType, nullable = false),
        StructField("label", LongType, nullable = false))))
      assertLpaMatchesReference(df, 4)
    }
  }

  // ---- BFS hop distances ----

  private def bfs(edges: Seq[(Long, Long)], src: Long,
      hops: Int): Map[Long, Int] =
    LinkAnalysis.bfsHops(edges.toDF("u", "v"), "u", "v", src, hops)
      .as[(Long, Int)].collect().toMap

  test("BFS: path graph distances, maxHops bound, unreachable excluded") {
    val path = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 7L -> 8L)
    assert(bfs(path, 1L, 2) === Map(1L -> 0, 2L -> 1, 3L -> 2))
    assert(bfs(path, 1L, 10) ===
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4),
      "other component never reached; early exit on empty frontier")
    assert(bfs(path, 1L, 0) === Map(1L -> 0))
  }

  test("BFS: shortest path wins over longer alternatives; noise collapses") {
    // 1-2-3-4 chain plus a 1-4 shortcut: dist(4) = 1, dist(3) = 2
    val g = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L)
    val noisy = g ++ g.map(_.swap) ++ Seq(2L -> 2L)
    assert(bfs(g, 1L, 5) === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
    assert(bfs(noisy, 1L, 5) === bfs(g, 1L, 5))
  }

  test("BFS: pinned checkpoints stay O(1) across a deep walk, not O(hops)") {
    // a 25-node path from node 0 runs ~24 rounds, each checkpointing a
    // new frontier AND a new unioned dist — every superseded copy must
    // be released; only the final dist checkpoint may stay (the returned
    // plan reads it)
    val path = (0L until 25L).map(i => (i, i + 1))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = bfs(path, 0L, 40)
    assert(got.size === 26 && got(25L) === 25)
    val leaked = SpecUtil.leakedAfterRelease(spark, before, budget = 1)
    assert(leaked.size <= 1,
      s"bfsHops left ${leaked.size} checkpoint RDD(s) pinned " +
        s"(expected <= 1, the result-backing dist): $leaked")
  }

  test("BFS: multi-partition frontier equals driver BFS (regression: the " +
    "expansion RE-KEYS to the neighbor, so its dedup reduce must shuffle)") {
    // same bug class as the kCore multi-partition regression: a false
    // preservesPartitioning claim on the re-keyed expansion let the
    // dedup reduceByKey skip its shuffle and drop cross-partition
    // discoveries; needs >= 2 round partitions (~80k endpoints) to show.
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(40000)(
      (rnd.nextInt(2500).toLong, rnd.nextInt(2500).toLong))
      .filter(e => e._1 != e._2).distinct
    val adjacency = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (n, xs) => n -> xs.map(_._2).toSet }
    var dist = Map(0L -> 0)
    var frontier = Set(0L)
    var d = 0
    while (frontier.nonEmpty && d < 4) {
      d += 1
      val nxt = frontier.flatMap(adjacency.getOrElse(_, Set.empty)) -- dist.keySet
      nxt.foreach(n => dist += (n -> d))
      frontier = nxt
    }
    assert(bfs(edges, 0L, 4) === dist)
  }

  test("BFS: isolated source yields empty; repartition-stable") {
    val g = Seq(1L -> 2L, 2L -> 3L)
    assert(bfs(g, 9L, 3) === Map.empty)
    val repart = LinkAnalysis.bfsHops(
        g.toDF("u", "v").repartition(7), "u", "v", 1L, 3)
      .as[(Long, Int)].collect().toMap
    assert(repart === bfs(g, 1L, 3))
  }

  test("matches a brute-force count on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val edges = (for (i <- 0 until n; j <- (i + 1) until n
      if rnd.nextDouble() < 0.15) yield (i.toLong, j.toLong)).toSeq
    val adj = edges.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val brute = adj.map { case (v, ns) =>
      val t = (for (a <- ns.toSeq; b <- ns.toSeq
        if a < b && adj(a).contains(b)) yield 1).size.toLong
      v -> t
    }
    val got = triOf(edges)
    assert(got.keySet === adj.keySet)
    adj.keys.foreach { v =>
      assert(got(v)._2 === brute(v), s"node $v")
      assert(got(v)._1 === adj(v).size.toLong, s"degree $v")
    }
  }

  private def aa(edges: Seq[(Long, Long)], maxDegree: Int = 10000) =
    LinkAnalysis.adamicAdar(edges.toDF("a", "b"), "a", "b", maxDegree)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap

  test("adamic-adar: path and square score their distance-2 pairs") {
    val ln2Term = math.floor(1e6 / math.log(2)).toLong // deg-2 neighbor
    assert(aa(Seq((1L, 2L), (2L, 3L))) ===
      Map((1L, 3L) -> (1L, ln2Term)))
    // square 1-2-3-4-1: both diagonals, two deg-2 shared neighbors each
    val sq = aa(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(sq === Map((1L, 3L) -> (2L, 2 * ln2Term),
      (2L, 4L) -> (2L, 2 * ln2Term)))
  }

  test("adamic-adar: adjacent pairs are excluded (triangle emits nothing)") {
    assert(aa(Seq((1L, 2L), (2L, 3L), (1L, 3L))).isEmpty)
  }

  test("adamic-adar: the hub cap suppresses super-node wedges") {
    val starEdges = (1L to 6L).map(l => (0L, l))
    val uncapped = aa(starEdges)
    assert(uncapped.size === 15 && // C(6,2) leaf pairs through the hub
      uncapped.values.forall(_ == (1L, math.floor(1e6 / math.log(6)).toLong)))
    assert(aa(starEdges, maxDegree = 5).isEmpty)
  }

  test("modularity: two cliques under their own labels score high; " +
      "one-community labeling scores zero") {
    import org.apache.spark.sql.functions.col
    val cliqueA = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cliqueB = for (a <- 5L to 8L; b <- (a + 1) to 8L) yield (a, b)
    val edges = (cliqueA ++ cliqueB :+ (4L, 5L)).toDF("u", "v")
    val twoLabels = (1L to 8L).map(n => (n, if (n <= 4) 1L else 5L))
      .toDF("node", "label")
    val got = LinkAnalysis.modularity(edges, "u", "v", twoLabels)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6))).toMap
    // m = 13; each community: 6 internal edges, degree sum 13
    assert(got(1L) === ((4L, 6L, 13L, 4L * 13 * 6 - 13 * 13, 0.423077)))
    assert(got(5L) === got(1L))
    // driver-side check of the double total: (143 + 143) / (4 * 169)
    assert(math.abs(got(1L)._5 - 286.0 / 676.0) < 1e-6)
    // everything in one community: e_in = m, d_tot = 2m => Q = 0
    val oneLabel = (1L to 8L).map(n => (n, 1L)).toDF("node", "label")
    val q0 = LinkAnalysis.modularity(edges, "u", "v", oneLabel)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(q0.length === 1 && q0.head._5 === 0L && q0.head._6 === 0.0)
  }

  test("random walks: every step follows an edge, counts are exact, " +
      "layout-stable") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(3)
    val n = 30
    val edges = (for (i <- 0 until n; j <- (i + 1) until n
      if rnd.nextDouble() < 0.2) yield (i.toLong, j.toLong)).toSeq
    val adj = edges.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def walks(df: org.apache.spark.sql.DataFrame) =
      LinkAnalysis.randomWalks(df, "u", "v", walksPerNode = 3, length = 5,
          seed = 9L)
        .as[(Long, Int, Int, Long)].collect()
    val got = walks(edges.toDF("u", "v"))
    // (length+1) rows per walk, walksPerNode walks per touched node
    assert(got.length === adj.size * 3 * 6)
    val byWalk = got.groupBy(t => (t._1, t._2))
      .map { case (k, rows) => k -> rows.sortBy(_._3).map(_._4).toSeq }
    byWalk.foreach { case ((start, _), path) =>
      assert(path.head === start)
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(adj(a).contains(b), s"non-edge $a->$b on walk from $start")
      }
    }
    // walks actually diverge (not all picking rank 1)
    assert(byWalk.values.toSeq.distinct.size > adj.size,
      "per-node walks should not all coincide")
    val again = walks(edges.reverse.map(_.swap).toDF("u", "v").repartition(7))
    assert(walks(edges.toDF("u", "v")).sortBy(t => (t._1, t._2, t._3)).toSeq ===
      again.sortBy(t => (t._1, t._2, t._3)).toSeq)
  }

  test("biased walks match a driver-side node2vec replay, step for step") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val n = 25
    val edges = (for (i <- 0 until n; j <- (i + 1) until n
      if rnd.nextDouble() < 0.2) yield (i.toLong, j.toLong)).toSeq
    val (wr, wc, wf) = (1, 4, 2)
    val (wpn, len, seed) = (2, 4, 29L)
    val got = LinkAnalysis.biasedWalks(edges.toDF("u", "v"), "u", "v",
        wpn, len, seed, wr, wc, wf)
      .as[(Long, Int, Int, Long)].collect()
      .map(t => (t._1, t._2, t._3) -> t._4).toMap
    // independent replay: ranked adjacency + the integer lottery
    def mix32(x: Long): Long = {
      var h = x
      h = ((h ^ (h >>> 16)) * 73244475L) & 0xffffffffL
      h = ((h ^ (h >>> 16)) * 73244475L) & 0xffffffffL
      h ^ (h >>> 16)
    }
    def bucket(key: Long): Long =
      mix32((key % 4294967296L + seed * 2654435761L) % 4294967296L) % 1000003L
    val adj = edges.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val eset = edges.map(e => (e._1 min e._2, e._1 max e._2)).toSet
    for (start <- adj.keys; w <- 0 until wpn) {
      var prev = -1L
      var cur = start
      assert(got((start, w, 0)) === start)
      for (st <- 1 to len) {
        val key = (start * wpn + w) * (len + 1) + st
        val nbrs = adj(cur)
        val next =
          if (st == 1) nbrs((bucket(key) % nbrs.size).toInt)
          else {
            val ws = nbrs.map { c =>
              if (c == prev) wr
              else if (eset((prev min c, prev max c))) wc
              else wf
            }
            val draw = bucket(key) % ws.sum
            val idx = ws.scanLeft(0)(_ + _).tail.indexWhere(_ > draw)
            nbrs(idx)
          }
        assert(got((start, w, st)) === next,
          s"walk ($start, $w) step $st: got ${got((start, w, st))}, want $next")
        prev = cur; cur = next
      }
    }
  }

  test("adamic-adar: orientation/duplicate-proof and layout-stable") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
    val a = aa(e)
    val b = LinkAnalysis.adamicAdar(
        (e ++ e.map(_.swap)).toDF("a", "b").repartition(7), "a", "b", 10000)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(a === b)
  }

  test("DfLongHashPartitioner replays the DataFrame repartition(n, col) " +
    "layout exactly (the adjacency/loop co-partitioning contract)") {
    // the graph build places the blocks with a DataFrame exchange and the
    // fixed-point rounds route their messages with this RDD partitioner —
    // any divergence between the two hash layouts silently sends sums to
    // a partition that lacks their node, so pin them against each other on
    // keys exercising sign, parity, and magnitude.
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    for (n <- Seq(1, 3, 7, 19)) {
      val p = new LinkAnalysis.DfLongHashPartitioner(n)
      val keys = (-1000L to 1000L by 7L) ++
        Seq(0L, Long.MaxValue, Long.MinValue, 1L << 40, -(1L << 40))
      val got = keys.toDF("k").repartition(n, col("k"))
        .select(col("k"), spark_partition_id().as("pid"))
        .as[(Long, Int)].collect().toMap
      keys.foreach { k =>
        assert(got(k) === p.getPartition(k),
          s"key $k, n=$n: DF exchange ${got(k)} vs partitioner ${p.getPartition(k)}")
      }
    }
  }
}

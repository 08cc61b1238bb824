package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Components

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Local union-find oracle. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(
        edges.toDF("left_id", "right_id"), "left_id", "right_id")
      .as[(Long, Long)].collect().toMap

  test("two triangles and a bridge collapse to one component") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (12L, 10L), (3L, 10L))
    val got = run(e)
    assert(got.values.toSet === Set(1L))
    assert(got.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
  }

  test("disjoint pairs stay separate, label = min id") {
    val got = run(Seq((5L, 9L), (2L, 7L), (100L, 3L)))
    assert(got === Map(5L -> 5L, 9L -> 5L, 2L -> 2L, 7L -> 2L,
      100L -> 3L, 3L -> 3L))
  }

  test("a long chain (worst case for naive propagation) converges in O(log n) rounds") {
    // 0-1-2-...-63: path graph; large-star/small-star needs O(log n)
    // rounds, NOT O(n) — a linear round count would also trip maxIter=50.
    val chain = (0L until 63L).map(i => (i, i + 1))
    val st = Components.connectedComponentsStats(
      chain.toDF("left_id", "right_id"), "left_id", "right_id")
    val got = st.assignment.as[(Long, Long)].collect().toMap
    assert(got.values.toSet === Set(0L))
    assert(got.size === 64)
    assert(st.rounds <= 12, s"rounds ${st.rounds} not logarithmic for n=64")
    assert(st.edges === 63L) // fixpoint star: every non-root points at 0
  }

  test("pinned checkpoints stay O(1) across the contraction rounds") {
    // the 64-node chain runs several star-contraction rounds; every
    // superseded round's edge checkpoint must be released (including the
    // caller-built canonical input — statsFromCanonical takes ownership).
    // Only the fixpoint round's checkpoint may remain: the returned
    // assignment plan reads it.
    val chain = (0L until 63L).map(i => (i, i + 1))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Components.connectedComponents(
        chain.toDF("left_id", "right_id"), "left_id", "right_id")
      .as[(Long, Long)].collect()
    assert(got.length === 64)
    val leaked = SpecUtil.leakedAfterRelease(spark, before, budget = 1)
    assert(leaked.size <= 1,
      s"connectedComponents left ${leaked.size} checkpoint RDD(s) pinned " +
        s"(expected <= 1, the fixpoint edges): $leaked")
  }

  test("the adaptive local branch pins nothing after collect") {
    // below the edge budget the result is built from driver rows — the
    // canonical-edges checkpoint backs nothing and must be released
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Components.connectedComponentsAuto(
        Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    val leaked = SpecUtil.leakedAfterRelease(spark, before, budget = 0)
    assert(leaked.isEmpty,
      s"local branch left ${leaked.size} checkpoint RDD(s) pinned: $leaked")
  }

  test("reliable mode deletes superseded rounds' checkpoint FILES") {
    // with reliable checkpoints the pinned state is files under the
    // checkpoint dir, not blocks — Spark's own cleanup is GC-driven and
    // off by default, so releaseCheckpoint deletes them directly
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val chain = (0L until 63L).map(i => (i, i + 1))
      val got = Components.connectedComponents(
          chain.toDF("left_id", "right_id"), "left_id", "right_id",
          reliable = true)
        .as[(Long, Long)].collect().toMap
      assert(got.size === 64 && got.values.toSet === Set(0L))
      // rdd-* dirs remaining: the caller-built canonical input is
      // released on first supersession, every superseded round too —
      // only the fixpoint round's files may survive
      val rddDirs = new java.io.File(dir).listFiles()
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.length <= 1,
        s"reliable loop left ${rddDirs.length} checkpoint dirs: " +
          rddDirs.map(_.getName).mkString(", "))
    } finally {
      // no unset API for the checkpoint dir; leaving it set is harmless
      // (nothing else in the suite uses reliable checkpoints)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("a star graph needs exactly one round to detect the fixpoint") {
    val st = Components.connectedComponentsStats(
      (1L to 20L).map(i => (0L, i)).toDF("left_id", "right_id"),
      "left_id", "right_id")
    assert(st.rounds === 1)
  }

  test("duplicate / reversed / self-loop edges are normalized away") {
    val got = run(Seq((4L, 2L), (2L, 4L), (4L, 2L), (3L, 3L), (2L, 4L)))
    // self-loop (3,3) contributes no node; (2,4) collapses to one edge
    assert(got === Map(2L -> 2L, 4L -> 2L))
  }

  test("empty pair set yields empty assignment") {
    assert(run(Seq.empty[(Long, Long)]).isEmpty)
  }

  test("adaptive local path equals the distributed loop on random graphs") {
    val rnd = new scala.util.Random(19)
    for (trial <- 0 until 3) {
      val n = 200
      val edges = (0 until 300).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val df = edges.toDF("left_id", "right_id")
      val local = Components.connectedComponentsAuto(df, "left_id", "right_id")
        .as[(Long, Long)].collect().toMap
      val dist = Components.connectedComponents(df, "left_id", "right_id")
        .as[(Long, Long)].collect().toMap
      assert(local === dist, s"trial $trial")
      // over-budget graphs fall through to the distributed loop and agree
      val forced = Components.connectedComponentsAuto(df, "left_id", "right_id",
          localMaxEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(forced === dist, s"trial $trial forced")
    }
  }

  test("the adaptive local branch decides with one bounded collect") {
    // a few-hundred-edge pair set: the local path is one limited collect
    // (plus the exchange it reads), not checkpoint + count + collect; a
    // tiny budget still takes the distributed loop, with the same labels
    val rnd = new scala.util.Random(23)
    val edges = (0 until 300).map(_ =>
      (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong)).filter(e => e._1 != e._2)
    val df = edges.toDF("left_id", "right_id")
    def run(budget: Long) = Components.connectedComponentsAuto(
      df, "left_id", "right_id", localMaxEdges = budget)
    run(1L << 20).collect() // warm
    var local: org.apache.spark.sql.DataFrame = null
    val jobs = SpecUtil.jobsOf(spark) { local = run(1L << 20) }
    assert(jobs.size <= 2, s"local branch ran ${jobs.size} Spark jobs")
    val isLocal = (d: org.apache.spark.sql.DataFrame) =>
      d.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(isLocal(local))
    val want = ufComponents(edges)
    assert(local.as[(Long, Long)].collect().toMap === want)
    for (budget <- Seq(0L, 1L, 10L)) {
      val loop = run(budget)
      assert(!isLocal(loop), s"budget $budget should take the loop")
      assert(loop.as[(Long, Long)].collect().toMap === want, s"budget $budget")
    }
    val exact = edges.map(e => (e._1 max e._2, e._1 min e._2)).distinct.size.toLong
    assert(isLocal(run(exact)) && !isLocal(run(exact - 1)),
      "the budget counts canonical edges: exactly at it stays local")
  }

  test("null ids are dropped, extreme long ids survive the label algebra") {
    val big = Long.MaxValue - 1
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, null), (null, 2L), (big, 7L), (big - 1, big))
      .toDF("left_id", "right_id")
    val got = Components.connectedComponents(df, "left_id", "right_id")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(7L -> 7L, big -> 7L, (big - 1) -> 7L))
  }

  test("star graph is already a fixpoint (one round to detect)") {
    val got = run((1L to 20L).map(i => (0L, i)))
    assert(got.values.toSet === Set(0L) && got.size === 21)
  }

  test("random graphs match union-find") {
    val gen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 80)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong)
      } yield (a, b))
    } yield edges.filter(e => e._1 != e._2)
    (0 until 8).foreach { i =>
      val edges = gen(Gen.Parameters.default, Seed(42L + i)).get
      if (edges.nonEmpty) assert(run(edges) === ufComponents(edges), s"seed ${42 + i}")
    }
  }
}

package graft.operators

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Link analysis — fixed-point PageRank (Page et al. 1999) over an edge
  * list, the link-based quality prior web-corpus curation pipelines rank
  * domains with (Common-Crawl-style harvesting keeps pages whose hosts
  * score well) — the iterative-scoring sibling of [[Components]]'
  * label propagation. The reference has no graph surface; this
  * generalizes its corpus-curation role the same way the dedup stack
  * does.
  *
  * ALL arithmetic is integer fixed-point: ranks live in units of
  * 1e-12 (`Scale`), and each iteration is
  *   contrib(e)  = pr(src) div outdeg(src)          -- exact floor div
  *   pr'(node)   = ((100-d100)·Scale) div (100·N) + (d100·Σ contrib) div 100
  * with damping expressed in PERCENT (`d100`, default 85), so every
  * step is a BIGINT op that replays bit-for-bit in any engine —
  * no float rounding, no .xxx5 boundary risk (house pattern: the
  * HLL/CMS/minhash integer stacks). Floor rounding leaks ≤1 unit of
  * mass per node per step (≈1e-9 relative) — deterministic, and
  * irrelevant for RANKING, which is what the signal is used for.
  * Overflow-safe: Σ contrib ≤ Scale = 1e12, ×85 ≪ 2^63.
  *
  * Dangling nodes (no out-edges) keep receiving the teleport share but
  * contribute nothing — the "leaked mass" PageRank variant; callers
  * wanting stochastic completeness add reverse edges or self-loops
  * upstream (the bipartite query does the former).
  *
  * The five fixpoints — [[pageRank]], [[hits]], [[kCore]], [[bfsHops]],
  * [[labelPropagation]] — share ONE engine on partition-preserving RDDs
  * (a DataFrame loop re-plans joins and re-launches AQE stages every
  * round). The graph is
  * collapsed once into hash-partitioned CSR block records ([[Block]]:
  * sorted `nodes`, list offsets, neighbor ids), and each round's node
  * state is a primitive `Array[Long]` aligned to a block's `nodes`,
  * zipped with it narrowly. A round is one [[scatter]] — every active
  * node sends a value along its list, summed per task by destination in
  * a primitive map — and one [[gather]] folding the destination
  * partition's sums into the next state array; its only shuffle ships
  * one (keys, sums) array pair per destination partition (label
  * propagation's [[vote]] counts (destination, label) pairs instead of
  * summing, with the same placement). No per-node
  * tuple is boxed, shuffled or persisted: Spark's SizeEstimator walking
  * such records on every persist was the larger part of these
  * operators' executor time. A record holds at most [[blockEdges]] list
  * entries, so a mega-hub's list spans consecutive records instead of
  * growing one; every copy carries the node's TOTAL degree and sends its
  * own slice. All recurrences are integer, so the output is
  * bit-identical under any partitioning or record layout
  * (LinkAnalysisSpec pins both). Integral ids run as longs; any other id
  * type is dictionary-encoded once and decoded at output with a join
  * (label propagation instead casts every id to LONG).
  */
object LinkAnalysis {

  val Scale: Long = 1000000000000L // 1e12: ranks in units of 1e-12

  /** Size the iteration partitioner to the GRAPH, not the cluster
    * default: one partition per [[EdgesPerPartition]] edge endpoints up
    * to the cluster's parallelism. Both bounds are load-bearing — tiny
    * graphs must not dissolve into pure task-launch latency (hundreds of
    * near-empty tasks per round), and large graphs cap at the cluster
    * width anyway. The previous 1 M-edge target left a 32-core box
    * running the whole fixed-point loop on 1-2 partitions (measured:
    * graph_hits wall ≈ its single-task cpu_sec at sf0.1). Output of
    * every caller is pinned bit-identical under any partitioning
    * (integer recurrences; LinkAnalysisSpec), so this is purely a
    * throughput knob. */
  private val EdgesPerPartition = 65536L
  private def roundPartitionCount(spark: SparkSession, m: Long): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (m / EdgesPerPartition).toInt + 1))

  /** RDD partitioner replicating a DataFrame `repartition(n, col)` hash
    * layout for a LONG key — `pmod(murmur3_hash(key, seed=42), n)`, the
    * exact `HashPartitioning.partitionIdExpression` Spark plans for that
    * exchange. Routes each round's messages to the partition whose
    * blocks the exchange placed their destination in (spec-pinned
    * against spark_partition_id in LinkAnalysisSpec). */
  private[graft] final class DfLongHashPartitioner(n: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = of(key.asInstanceOf[Long])
    def of(key: Long): Int = {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(key, 42)
      val m = h % n
      if (m < 0) m + n else m
    }
    override def equals(other: Any): Boolean = other match {
      case p: DfLongHashPartitioner => p.numPartitions == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  /** List entries one [[Block]] record holds at most, so no record grows
    * with its partition. Dynamic only so a spec can push a hub across
    * records on a small graph. */
  private[graft] val blockEdges = new scala.util.DynamicVariable[Int](1 << 16)

  /** Entries a task's message map holds before it ships them early. */
  private val CombineCap = 1 << 20

  /** One CSR record of a partition's adjacency: `nodes` ascend; node j's
    * list is `out(off(j) until off(j + 1))` (in-lists likewise, null
    * unless built) and `deg(j)` is its TOTAL out-degree. A node whose
    * lists overflow the record continues as the next record's first node
    * (`cont`) — the only position where a node ever repeats. */
  private final case class Block(nodes: Array[Long], deg: Array[Int],
      off: Array[Int], out: Array[Long], inOff: Array[Int], in: Array[Long],
      cont: Boolean)

  /** A graph in block layout; `blocks` is persisted, placed by node
    * through `part`'s hash. */
  private final class Graph(val blocks: RDD[Block],
      val part: DfLongHashPartitioner)

  /** Open-addressing long → long sum map (linear probing, no boxing):
    * the per-task message combiner of [[scatter]] and the receive side
    * of [[gather]]. */
  private final class LongSums {
    private var keys = new Array[Long](64)
    private var sums = new Array[Long](64)
    private var used = new Array[Boolean](64)
    var size = 0
    private def slot(k: Long): Int = {
      val mask = keys.length - 1
      var i = java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & mask
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      i
    }
    def add(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (used(i)) sums(i) += v
      else {
        used(i) = true; keys(i) = k; sums(i) = v; size += 1
        if (size * 2 > keys.length) rehash(keys.length * 2)
      }
    }
    def get(k: Long): Long = { val i = slot(k); if (used(i)) sums(i) else 0L }
    private def reset(cap: Int): Unit = {
      keys = new Array[Long](cap); sums = new Array[Long](cap)
      used = new Array[Boolean](cap); size = 0
    }
    private def rehash(cap: Int): Unit = {
      val (ks, vs, us) = (keys, sums, used)
      reset(cap)
      var i = 0
      while (i < ks.length) { if (us(i)) add(ks(i), vs(i)); i += 1 }
    }
    /** Moves the entries out as one (destination partition, keys, sums)
      * batch per non-empty destination. */
    def drain(part: DfLongHashPartitioner)
        : Seq[(Int, (Array[Long], Array[Long]))] = {
      val pid = new Array[Int](keys.length)
      val cnt = new Array[Int](part.numPartitions)
      for (i <- keys.indices) if (used(i)) { pid(i) = part.of(keys(i)); cnt(pid(i)) += 1 }
      val batches = cnt.map(c => (new Array[Long](c), new Array[Long](c)))
      val fill = new Array[Int](cnt.length)
      for (i <- keys.indices) if (used(i)) {
        val (p, (ks, vs)) = (pid(i), batches(pid(i)))
        ks(fill(p)) = keys(i); vs(fill(p)) = sums(i); fill(p) += 1
      }
      reset(64)
      cnt.indices.filter(cnt(_) > 0).map(p => (p, batches(p)))
    }
  }

  /** How result ids map back to the caller's: integral ids run as longs
    * and are cast back to `nodeType`; any other type is encoded through
    * `dict` (node, id) — checkpointed once, so ids stay stable — and
    * decoded with a join. */
  private final case class Ids(nodeType: DataType, dict: DataFrame) {
    /** The ids of those `values` that name a node. */
    def resolve(values: Seq[Any]): Map[Any, Long] =
      if (values.isEmpty) Map.empty
      else if (dict == null) values.collect {
        case x @ (_: java.lang.Byte | _: java.lang.Short | _: Integer |
            _: java.lang.Long) => x -> x.asInstanceOf[Number].longValue
      }.toMap
      else {
        // try_cast: a value of another type names no node (never a throw)
        val found = dict.filter(col("node").isin(values.map(lit(_).try_cast(nodeType)): _*))
          .collect().map(r => r.get(0) -> r.getLong(1)).toMap
        values.flatMap(v => found.get(v).map(v -> _)).toMap
      }
    def schema(fields: Seq[StructField]): StructType =
      StructType(StructField("node", nodeType, nullable = false) +: fields)
    def release(): Unit = if (dict != null) releaseCheckpoint(dict)
    /** The result of a graph with no edges; releases the dictionary. */
    def empty(spark: SparkSession, fields: Seq[StructField]): DataFrame = {
      release()
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema(fields))
    }
  }

  /** The caller's edges as non-null LONG pairs (a, b), and their [[Ids]]. */
  private def encode(edges: DataFrame, a: String, b: String): (DataFrame, Ids) = {
    val t = edges.schema(a).dataType
    require(edges.schema(b).dataType == t,
      s"endpoint type mismatch: $t vs ${edges.schema(b).dataType}")
    val e = edges.select(col(a).as("a"), col(b).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    t match {
      case ByteType | ShortType | IntegerType | LongType =>
        (e.select(col("a").cast(LongType).as("a"), col("b").cast(LongType).as("b")),
          Ids(t, null))
      case _ =>
        val dict = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
          .distinct().withColumn("id", monotonically_increasing_id())
          .localCheckpoint(eager = true)
        def id(c: String) = dict.select(col("node").as(c), col("id").as("i" + c))
        (e.join(id("a"), "a").join(id("b"), "b").select(col("ia").as("a"), col("ib").as("b")),
          Ids(t, dict))
    }
  }

  /** The one adjacency construction, over encoded edges (a, b). Directed:
    * out-lists, in-lists only `withIn`, and every endpoint is a node;
    * undirected: self-loops dropped, both orientations out-lists.
    * Placement is ONE DataFrame exchange of the raw entries — compact
    * UnsafeRows, no per-record Kryo (the RDD shuffle and boxed per-key
    * combiners it replaced measured 5–7 cpu-s of the sf0.1 graph
    * queries) — whose murmur3 layout [[DfLongHashPartitioner]] replays
    * for the rounds' messages. Duplicate and (undirected) reversed edges
    * land in one partition, so [[toBlocks]] drops them there: no
    * edge-set distinct shuffle. The width is sized from the raw edge
    * count, equal to the distinct count on duplicate-free input. Returns
    * null for an empty graph; the caller unpersists `blocks`. */
  private def buildGraph(edges: DataFrame, directed: Boolean, withIn: Boolean): Graph = {
    val e = if (directed) edges else edges.filter(col("a") =!= col("b"))
    // a row count of the plan's own RDD: one job, no aggregate to plan
    val m = e.queryExecution.toRdd.count() * (if (directed) 1 else 2)
    if (m == 0L) return null
    val nParts = roundPartitionCount(e.sparkSession, m)
    val budget = blockEdges.value
    require(budget >= 1, s"blockEdges must be >= 1 (got $budget)")
    val entries = e.select(col("a").as("n"), col("b").as("p"), lit(true).as("o"))
      .union(e.select(col("b").as("n"), col("a").as("p"), lit(!directed).as("o")))
      .repartition(nParts, col("n"))
    val blocks = entries.queryExecution.toRdd.mapPartitions { rows =>
      val (ns, ps, os) =
        (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong, new ArrayBuilder.ofBoolean)
      rows.foreach { r => ns += r.getLong(0); ps += r.getLong(1); os += r.getBoolean(2) }
      toBlocks(ns.result(), ps.result(), os.result(), withIn, budget)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    new Graph(blocks, new DfLongHashPartitioner(nParts))
  }

  /** The distinct values of `xs`, ascending. */
  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    val sorted = xs.clone()
    java.util.Arrays.sort(sorted)
    var v = 0
    for (x <- sorted) if (v == 0 || sorted(v - 1) != x) { sorted(v) = x; v += 1 }
    java.util.Arrays.copyOf(sorted, v)
  }

  /** One partition's (node, partner, isOut) entries → one CSR over its
    * sorted distinct nodes (counting sort, primitive arrays only) with
    * each list sorted and deduplicated, cut into records of at most
    * `budget` out + in entries. */
  private def toBlocks(n: Array[Long], p: Array[Long], o: Array[Boolean],
      withIn: Boolean, budget: Int): Iterator[Block] = {
    val nodes = sortedDistinct(n)
    val (outOff, inOff) = (new Array[Int](nodes.length + 1), new Array[Int](nodes.length + 1))
    val at = n.map(java.util.Arrays.binarySearch(nodes, _))
    for (e <- n.indices) if (o(e)) outOff(at(e) + 1) += 1 else inOff(at(e) + 1) += 1
    for (i <- nodes.indices) { outOff(i + 1) += outOff(i); inOff(i + 1) += inOff(i) }
    val out = new Array[Long](outOff.last)
    val in = new Array[Long](if (withIn) inOff.last else 0)
    val (oc, ic) = (outOff.clone(), inOff.clone())
    for (e <- n.indices) {
      val i = at(e)
      if (o(e)) { out(oc(i)) = p(e); oc(i) += 1 }
      else if (withIn) { in(ic(i)) = p(e); ic(i) += 1 }
    }
    // sort each list and compact its repeats away, in place
    def dedup(off: Array[Int], xs: Array[Long]): Array[Long] = {
      var w = 0
      for (i <- nodes.indices) {
        val (from, to) = (off(i), off(i + 1))
        java.util.Arrays.sort(xs, from, to)
        off(i) = w
        for (k <- from until to) if (k == from || xs(k) != xs(k - 1)) { xs(w) = xs(k); w += 1 }
      }
      off(nodes.length) = w
      java.util.Arrays.copyOf(xs, w)
    }
    val outs = dedup(outOff, out)
    val ins = if (withIn) dedup(inOff, in) else in
    val recs = ArrayBuffer.empty[Block]
    val (rn, rd, rv, rw) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofInt,
      new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
    val (ro, ri) = (new ArrayBuilder.ofInt, new ArrayBuilder.ofInt)
    var cont = false
    def flush(): Unit = {
      ro += rv.length; ri += rw.length
      recs += Block(rn.result(), rd.result(), ro.result(), rv.result(),
        if (withIn) ri.result() else null, if (withIn) rw.result() else null, cont)
      Seq(rn, rd, rv, rw, ro, ri).foreach(_.clear())
    }
    for (i <- nodes.indices) {
      var (a, b) = (outOff(i), if (withIn) inOff(i) else 0)
      val bEnd = if (withIn) inOff(i + 1) else 0
      var first = true
      while (first || a < outOff(i + 1) || b < bEnd) {
        if (rv.length + rw.length == budget) { flush(); cont = !first }
        rn += nodes(i); rd += outOff(i + 1) - outOff(i); ro += rv.length; ri += rw.length
        val ta = math.min(outOff(i + 1) - a, budget - rv.length - rw.length)
        rv.addAll(outs, a, ta); a += ta
        val tb = math.min(bEnd - b, budget - rv.length - rw.length)
        rw.addAll(ins, b, tb); b += tb
        first = false
      }
    }
    if (rn.length > 0) flush()
    recs.iterator
  }

  /** A node's outgoing message value for one round, from its block and
    * the state aligned to it (null before the first round); 0 sends
    * nothing. */
  private trait NodeValue extends Serializable {
    def apply(b: Block, state: Array[Long], j: Int): Long
  }

  /** One round's messages: every node with a non-zero `value` sends it to
    * each entry of its out-list (in-list if `in`). Sums combine per task
    * by destination in a [[LongSums]] and ship as one array batch per
    * destination partition, keyed by its id (which a HashPartitioner
    * maps to itself). */
  private def scatter(g: Graph, state: RDD[Array[Long]], in: Boolean)(
      value: NodeValue): RDD[(Int, (Array[Long], Array[Long]))] = {
    val part = g.part
    def send(it: Iterator[(Block, Array[Long])]) = {
      val sums = new LongSums
      val batches = ArrayBuffer.empty[(Int, (Array[Long], Array[Long]))]
      it.foreach { case (b, s) =>
        val (off, to) = if (in) (b.inOff, b.in) else (b.off, b.out)
        var j = 0
        while (j < b.nodes.length) {
          val x = value(b, s, j)
          var k = if (x != 0L) off(j) else off(j + 1)
          while (k < off(j + 1)) { sums.add(to(k), x); k += 1 }
          j += 1
        }
        if (sums.size > CombineCap) batches ++= sums.drain(part)
      }
      (batches ++= sums.drain(part)).iterator
    }
    (if (state == null) g.blocks.mapPartitions(bs => send(bs.map((_, null))))
      else g.blocks.zipPartitions(state)((bs, ss) => send(bs.zip(ss))))
      .partitionBy(new HashPartitioner(part.numPartitions))
  }

  /** The receive side of [[scatter]]: node j's next state is
    * `f(prev(j), summed messages to it)`, each 0 when absent. */
  private def gather(g: Graph, prev: RDD[Array[Long]],
      msgs: RDD[(Int, (Array[Long], Array[Long]))])(
      f: (Long, Long) => Long): RDD[Array[Long]] = {
    def recv(bs: Iterator[(Block, Array[Long])],
        ms: Iterator[(Int, (Array[Long], Array[Long]))]) = {
      val sums = new LongSums
      ms.foreach { case (_, (ks, vs)) =>
        var i = 0
        while (i < ks.length) { sums.add(ks(i), vs(i)); i += 1 }
      }
      bs.map { case (b, s) =>
        Array.tabulate(b.nodes.length)(j =>
          f(if (s == null) 0L else s(j), sums.get(b.nodes(j))))
      }
    }
    if (prev == null) g.blocks.zipPartitions(msgs)((bs, ms) => recv(bs.map((_, null)), ms))
    else g.blocks.zipPartitions(prev, msgs)((bs, ss, ms) => recv(bs.zip(ss), ms))
  }

  /** One label propagation batch: parallel (destination, label, count)
    * arrays. */
  private type Votes = (Array[Long], Array[Long], Array[Long])

  /** Open-addressing (destination, label) → count map (linear probing,
    * no boxing): the per-task message combiner of [[vote]] and its
    * receive side. */
  private final class LabelCounts {
    private var dst = new Array[Long](64)
    private var lab = new Array[Long](64)
    private var cnt = new Array[Long](64)
    private var used = new Array[Boolean](64)
    var size = 0
    private def slot(d: Long, l: Long): Int = {
      val mask = dst.length - 1
      var i = java.lang.Long.hashCode(
        (d * 0x9E3779B97F4A7C15L + l) * 0xC2B2AE3D27D4EB4FL) & mask
      while (used(i) && (dst(i) != d || lab(i) != l)) i = (i + 1) & mask
      i
    }
    def add(d: Long, l: Long, c: Long): Unit = {
      val i = slot(d, l)
      if (used(i)) cnt(i) += c
      else {
        used(i) = true; dst(i) = d; lab(i) = l; cnt(i) = c; size += 1
        if (size * 2 > dst.length) rehash(dst.length * 2)
      }
    }
    private def reset(cap: Int): Unit = {
      dst = new Array[Long](cap); lab = new Array[Long](cap)
      cnt = new Array[Long](cap); used = new Array[Boolean](cap); size = 0
    }
    private def rehash(cap: Int): Unit = {
      val (ds, ls, cs, us) = (dst, lab, cnt, used)
      reset(cap)
      var i = 0
      while (i < ds.length) { if (us(i)) add(ds(i), ls(i), cs(i)); i += 1 }
    }
    /** Moves the entries out as one batch per non-empty destination
      * partition. */
    def drain(part: DfLongHashPartitioner): Seq[(Int, Votes)] = {
      val pid = new Array[Int](dst.length)
      val n = new Array[Int](part.numPartitions)
      for (i <- dst.indices) if (used(i)) { pid(i) = part.of(dst(i)); n(pid(i)) += 1 }
      val batches = n.map(c => (new Array[Long](c), new Array[Long](c), new Array[Long](c)))
      val fill = new Array[Int](n.length)
      for (i <- dst.indices) if (used(i)) {
        val (p, (ds, ls, cs)) = (pid(i), batches(pid(i)))
        ds(fill(p)) = dst(i); ls(fill(p)) = lab(i); cs(fill(p)) = cnt(i); fill(p) += 1
      }
      reset(64)
      n.indices.filter(n(_) > 0).map(p => (p, batches(p)))
    }
    /** The plurality label of each of the ascending `nodes` — most
      * counted, the smallest on a tie; a node with no entry gets 0. */
    def plurality(nodes: Array[Long]): Array[Long] = {
      val (best, label) = (new Array[Long](nodes.length), new Array[Long](nodes.length))
      for (i <- dst.indices) if (used(i)) {
        val p = java.util.Arrays.binarySearch(nodes, dst(i))
        if (cnt(i) > best(p) || (cnt(i) == best(p) && lab(i) < label(p))) {
          best(p) = cnt(i); label(p) = lab(i)
        }
      }
      label
    }
  }

  /** One synchronous label propagation round: every node sends its label
    * (its own id when `labels` is null) to each entry of its list;
    * (destination, label) counts combine per task in a [[LabelCounts]]
    * and ship as one batch per destination partition, placed like
    * [[scatter]]'s — the round's one shuffle. The receive side folds its
    * batches and gives each node its plurality label; a spanning node's
    * copies read one partition-wide count, so they all agree. */
  private def vote(g: Graph, labels: RDD[Array[Long]]): RDD[Array[Long]] = {
    val part = g.part
    def send(it: Iterator[(Block, Array[Long])]) = {
      val votes = new LabelCounts
      val batches = ArrayBuffer.empty[(Int, Votes)]
      it.foreach { case (b, s) =>
        var j = 0
        while (j < b.nodes.length) {
          val l = if (s == null) b.nodes(j) else s(j)
          var k = b.off(j)
          while (k < b.off(j + 1)) { votes.add(b.out(k), l, 1L); k += 1 }
          j += 1
        }
        if (votes.size > CombineCap) batches ++= votes.drain(part)
      }
      (batches ++= votes.drain(part)).iterator
    }
    val msgs = (if (labels == null) g.blocks.mapPartitions(bs => send(bs.map((_, null))))
      else g.blocks.zipPartitions(labels)((bs, ss) => send(bs.zip(ss))))
      .partitionBy(new HashPartitioner(part.numPartitions))
    g.blocks.zipPartitions(msgs) { (bs, ms) =>
      val votes = new LabelCounts
      ms.foreach { case (_, (ds, ls, cs)) =>
        var i = 0
        while (i < ds.length) { votes.add(ds(i), ls(i), cs(i)); i += 1 }
      }
      val blocks = bs.toArray
      val nodes = sortedDistinct(blocks.flatMap(_.nodes))
      val label = votes.plurality(nodes)
      blocks.iterator.map(_.nodes.map(x => label(java.util.Arrays.binarySearch(nodes, x))))
    }
  }

  /** Count of nodes whose state passes `p` (a spanning node counts once
    * per record — callers test only for zero). */
  private def countWhere(state: RDD[Array[Long]])(p: Long => Boolean): Long =
    state.map(_.count(p).toLong).fold(0L)(_ + _)

  /** One Row per node, from its id and the aligned `states`; a spanning
    * node's repeat copies are skipped, and `row` returns null to drop a
    * node. */
  private def nodeRows(g: Graph, states: RDD[Array[Long]]*)(
      row: (Long, Int, Seq[Array[Long]]) => Row): RDD[Row] =
    states.foldLeft(g.blocks.map(b => (b, Vector.empty[Array[Long]]))) {
      (acc, s) => acc.zip(s).map { case ((b, v), a) => (b, v :+ a) }
    }.flatMap { case (b, v) =>
      (if (b.cont) 1 else 0).until(b.nodes.length).iterator
        .map(j => row(b.nodes(j), j, v)).filter(_ != null)
    }

  /** The operator's result from (long id, values…) rows: decoded back to
    * the caller's ids and materialized, so the caller can drop its
    * blocks and states right after. */
  private def output(spark: SparkSession, rows: RDD[Row], ids: Ids,
      fields: Seq[StructField]): DataFrame = {
    val byId = spark.createDataFrame(rows,
      StructType(StructField("node", LongType, nullable = false) +: fields))
    val values = fields.map(f => col(f.name))
    val out =
      if (ids.nodeType == LongType) byId
      else if (ids.dict == null)
        byId.select(col("node").cast(ids.nodeType).as("node") +: values: _*)
      else spark.createDataFrame(
        byId.join(ids.dict.select(col("id").as("node"), col("node").as("__n")), "node")
          .select(col("__n") +: values: _*).rdd, ids.schema(fields))
    out.localCheckpoint(eager = true)
  }

  /** Fixed-point PageRank.
    *
    * Spark shape: one block build (out-lists plus every endpoint as a
    * node), one pass counting nodes and checking the seeds, then the
    * rounds inside the single output job — rank is a pure function of
    * the in-sum (pr = teleport + d·s div 100), so each round is one
    * scatter of `pr div outdeg` and one gather of the in-sums, with no
    * persist and no action in between.
    *
    * @param edges   directed edge list; duplicates are collapsed; src
    *                and dst must share one data type
    * @param srcCol  source-node column
    * @param dstCol  destination-node column
    * @param iterations fixed iteration count (deterministic output)
    * @param d100    damping factor in percent (85 ⇒ d = 0.85)
    * @param teleportSeeds when non-empty, PERSONALIZED PageRank (random
    *                walk with restart): the teleport mass and the
    *                initial distribution concentrate uniformly on these
    *                seed nodes instead of the whole graph — rank becomes
    *                proximity-to-the-seed-set, the classic
    *                recommendation / related-items primitive
    *                (Jeh & Widom 2003 "Scaling personalized web search").
    *                Every seed must be a node of the graph — an absent
    *                one fails the call, naming it, instead of silently
    *                stranding its share of the restart mass. Passing
    *                EVERY node is bit-identical to the empty default.
    * @return (node, pr) — pr is the fixed-point rank in units of
    *         1e-12; divide by `Scale.toDouble` for the float view
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      d100: Int = 85,
      teleportSeeds: Seq[Any] = Nil): DataFrame = {
    require(iterations >= 0 && d100 >= 0 && d100 <= 100)
    val spark = edges.sparkSession
    val (e, ids) = encode(edges, srcCol, dstCol)
    val fields = Seq(StructField("pr", LongType, nullable = false))
    val g = labelled(spark.sparkContext, "pagerank build")(
      buildGraph(e, directed = true, withIn = false))
    if (g == null) return ids.empty(spark, fields)
    // distinct BEFORE sizing: counting duplicate seeds would dilute every
    // seed's teleport mass (total rank mass < Scale)
    val wanted = teleportSeeds.distinct
    val resolved = ids.resolve(wanted)
    val probe = resolved.values.toArray.sorted
    val counted = labelled(spark.sparkContext, "pagerank nodes")(g.blocks.map { b =>
      (b.nodes.length - (if (b.cont) 1L else 0L),
        b.nodes.filter(java.util.Arrays.binarySearch(probe, _) >= 0))
    }.collect())
    val found = counted.flatMap(_._2).toSet
    val missing = wanted.filterNot(s => resolved.get(s).exists(found))
    if (missing.nonEmpty) {
      g.blocks.unpersist(blocking = false); ids.release()
      throw new IllegalArgumentException(
        s"pageRank: teleportSeeds not in the graph: ${missing.mkString(", ")}")
    }
    val personalized = wanted.nonEmpty
    val nRestart = if (personalized) wanted.size.toLong else counted.map(_._1).sum
    val teleport = (100L - d100) * Scale / (100L * nRestart)
    val init = Scale / nRestart
    def isSeed(x: Long): Boolean =
      !personalized || java.util.Arrays.binarySearch(probe, x) >= 0
    def rank(x: Long, insum: Long): Long =
      (if (isSeed(x)) teleport else 0L) + d100 * insum / 100
    var insum: RDD[Array[Long]] = null
    for (_ <- 1 to iterations)
      insum = gather(g, null, scatter(g, insum, in = false) { (b, s, j) =>
        val x = b.nodes(j)
        if (b.deg(j) == 0) 0L
        else if (s == null) (if (isSeed(x)) init else 0L) / b.deg(j)
        else rank(x, s(j)) / b.deg(j)
      })((_, in) => in)
    val rows = nodeRows(g, Option(insum).toSeq: _*) { (x, j, s) =>
      Row(x, if (s.isEmpty) (if (isSeed(x)) init else 0L) else rank(x, s.head(j)))
    }
    val out = labelled(spark.sparkContext, s"pagerank r1-$iterations: rank")(
      output(spark, rows, ids, fields))
    g.blocks.unpersist(blocking = false)
    ids.release()
    out
  }

  /** HITS fixed-point scale: 1e6 keeps every intermediate in BIGINT —
    * a raw score is ≤ maxInDegree·Scale, and the normalization multiply
    * raises it by another Scale factor, so exactness holds while
    * maxDegree < 2⁶³/ScaleHits² ≈ 9.2e6. Ranking resolution 1e-6 is the
    * house 6-dp standard. */
  val ScaleHits: Long = 1000000L

  /** HITS hubs/authorities (Kleinberg 1999, JACM 46(5)) — the other
    * classic link-quality prior: a good HUB points at good authorities,
    * a good AUTHORITY is pointed at by good hubs. Same integer
    * fixed-point discipline as [[pageRank]], with one twist: HITS needs
    * a per-round normalization, and to keep every step an exact BIGINT
    * op this uses the max-norm variant (divide by the round's maximum
    * score) — any norm yields the same RANKING, which is what the
    * signal is used for, and max-norm replays bit-for-bit in SQL where
    * an L2 norm would not.
    *
    * Per round (hub⁰ = Scale uniformly):
    *   araw(v) = Σ_{u→v} hub(u);  auth(v) = araw(v)·Scale div max araw
    *   hraw(u) = Σ_{u→v} auth(v); hub(u)  = hraw(u)·Scale div max hraw
    * Nodes with no in-edges have auth 0; no out-edges ⇒ hub 0.
    *
    * Spark shape: blocks carry both out- and in-lists; each half-round
    * is one scatter (hubs along out-lists, authorities back along
    * in-lists, each normalized on the fly by the previous half's max)
    * and one gather into a persisted raw-score array, whose max is the
    * half-round's one action — the driver roundtrip every normalized
    * iterative method pays. An empty edge set gives an empty table.
    *
    * @return (node, auth, hub) — fixed-point scores in units of
    *         1/[[ScaleHits]]
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1)
    val spark = edges.sparkSession
    val (e, ids) = encode(edges, srcCol, dstCol)
    val fields = Seq(StructField("auth", LongType, nullable = false),
      StructField("hub", LongType, nullable = false))
    val g = labelled(spark.sparkContext, "hits build")(
      buildGraph(e, directed = true, withIn = true))
    if (g == null) return ids.empty(spark, fields)
    val live = ArrayBuffer.empty[RDD[Array[Long]]]
    // raw = Σ over the lists of the partner's max-normed score (uniform
    // on round 1), persisted; returns it with its max
    def half(label: String, partner: RDD[Array[Long]], pMax: Long,
        in: Boolean): (RDD[Array[Long]], Long) = labelled(spark.sparkContext, label) {
      val raw = gather(g, null, scatter(g, partner, in) { (_, s, j) =>
        if (s == null) ScaleHits else s(j) * ScaleHits / pMax
      })((_, x) => x).persist(StorageLevel.MEMORY_AND_DISK)
      live += raw
      val mx = raw.map(_.foldLeft(0L)(math.max)).fold(0L)(math.max)
      // the documented exactness bound (maxDegree < 2^63/ScaleHits^2, see
      // ScaleHits scaladoc) enforced at runtime: s <= mx, so one check on
      // the round maximum guards every normalization multiply — real
      // web-graph authorities exceed ~9.2e6 in-degree and would otherwise
      // wrap into negative scores with no error
      require(mx <= Long.MaxValue / ScaleHits,
        s"HITS: round max raw score $mx would overflow the ScaleHits " +
          "normalization — in-degree beyond the documented ~9.2e6 bound")
      (raw, mx)
    }
    var (auth, authMax) = (null: RDD[Array[Long]], 1L)
    var (hub, hubMax) = (null: RDD[Array[Long]], 1L)
    for (r <- 1 to iterations) {
      val (a, am) = half(s"hits r$r: auth", hub, hubMax, in = false)
      auth = a; authMax = am
      val (h, hm) = half(s"hits r$r: hub", auth, authMax, in = true)
      hub = h; hubMax = hm
    }
    val (am, hm) = (authMax, hubMax)
    val rows = nodeRows(g, auth, hub) { (x, j, s) =>
      Row(x, s(0)(j) * ScaleHits / am, s(1)(j) * ScaleHits / hm)
    }
    val out = labelled(spark.sparkContext, "hits output")(output(spark, rows, ids, fields))
    (live :+ g.blocks).foreach(_.unpersist(blocking = false))
    ids.release()
    out
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * (Seidman 1983), by Matula–Beck peeling — iteratively drop nodes with
    * degree < k and their edges until nothing changes. In curation this
    * isolates the densely-interlinked hub/boilerplate clusters that raw
    * degree or PageRank over-ranks; genuinely iterative (monotone edge
    * DELETION), so unlike the fixed-point rank queries it has no
    * recursive-SQL replay — correctness is KCoreSpec's (brute-force
    * peeling equivalence + the degree/maximality invariants).
    *
    * Scale shape (INCREMENTAL degree maintenance): the loop carries only
    * a live-degree array per block (−1 once peeled). Per round every
    * live sub-k node leaves at once and sends one decrement along its
    * list — decrement traffic TOTALS O(E) across all rounds, every edge
    * dying at most twice — and survivors subtract what they received,
    * so each round equals one synchronous recompute-from-scratch peel.
    * The count of live sub-k nodes left after a round is its one action
    * and the convergence test.
    *
    * A graph whose peeling depth exceeds `maxIter` (pathological chains)
    * does NOT fail the query: peeling is monotone deletion, so the
    * partially-peeled result is a valid SUPERSET of the k-core — it is
    * returned as-is with a logged warning, and equals the k-core exactly
    * whenever `maxIter` ≥ peeling depth.
    *
    * Output: (node, core_degree) for k-core members — core_degree is the
    * degree WITHIN the core (≥ k by the fixpoint). */
  def kCore(
      pairs: DataFrame,
      leftCol: String,
      rightCol: String,
      k: Int,
      maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val spark = pairs.sparkSession
    val (e, ids) = encode(pairs, leftCol, rightCol)
    val fields = Seq(StructField("core_degree", LongType, nullable = false))
    val g = labelled(spark.sparkContext, "kcore build")(
      buildGraph(e, directed = false, withIn = false))
    if (g == null) return ids.empty(spark, fields)
    val peelable = (d: Long) => d >= 0L && d < k
    var live = g.blocks.map(_.deg.map(_.toLong))
    var pending = -1L // unknown until round 1 has run
    var round = 0
    while (pending != 0L && round < maxIter) {
      round += 1
      val prev = live
      live = labelled(spark.sparkContext, s"kcore r$round: peel") {
        // decrements aimed at nodes leaving in the same round vanish
        val next = gather(g, prev, scatter(g, prev, in = false)(
            (_, s, j) => if (peelable(s(j))) 1L else 0L))(
            (d, dec) => if (d < k) -1L else d - dec)
          .persist(StorageLevel.MEMORY_AND_DISK)
        // bound closure/lineage depth on pathological deep peels
        if (round % 16 == 0) next.localCheckpoint()
        pending = countWhere(next)(peelable)
        next
      }
      prev.unpersist(blocking = false)
    }
    if (pending != 0L)
      org.slf4j.LoggerFactory.getLogger(LinkAnalysis.getClass).warn(
        s"kCore: no fixpoint after $maxIter rounds; returning the current " +
          "still-shrinking superset of the k-core")
    // degree-0 stragglers (possible only on the truncated path) get no row
    val rows = nodeRows(g, live) { (x, j, s) =>
      if (s.head(j) >= 1L) Row(x, s.head(j)) else null
    }
    val out = labelled(spark.sparkContext, "kcore output")(output(spark, rows, ids, fields))
    g.blocks.unpersist(blocking = false)
    live.unpersist(blocking = false)
    ids.release()
    out
  }

  /** Single-source BFS hop distances over an undirected graph, bounded
    * at `maxHops` — unweighted shortest paths, the reachability-radius
    * signal (how many link hops from a trusted seed is this host?) that
    * complements [[pageRank]]'s centrality and [[Components]]' global
    * reachability. Fixed-depth min-plus relaxation is pure integer, so a
    * D-round unroll replays exactly in SQL (the kcore/pagerank pattern);
    * and because hop distances are monotone, rounds past the true
    * eccentricity are no-ops — the early-exit on an empty frontier is
    * purely an optimization, never a semantic change.
    *
    * Spark shape: the loop carries a distance array per block (−1 while
    * unreached); hop h scatters from the nodes at distance h−1 and
    * gathers the newly reached, so each node's list is expanded exactly
    * once — total expansion work O(E) across ALL rounds. The count of
    * nodes reached at h is the round's one action.
    *
    * @return (node, dist INT) for every node within `maxHops` of
    *         `source`, which has dist 0 — node is BIGINT for integral
    *         ids, the caller's type otherwise. Empty if `source` has no
    *         edges (an isolated id is not "in" the pair graph). */
  def bfsHops(
      pairs: DataFrame,
      leftCol: String,
      rightCol: String,
      source: Any,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val spark = pairs.sparkSession
    val (e, encoded) = encode(pairs, leftCol, rightCol)
    val ids = if (encoded.dict == null) encoded.copy(nodeType = LongType) else encoded
    val fields = Seq(StructField("dist", IntegerType, nullable = false))
    val src = ids.resolve(Seq(source)).values.headOption
    val g = if (src.isEmpty) null else labelled(spark.sparkContext, "bfs build")(
      buildGraph(e, directed = false, withIn = false))
    if (g == null) return ids.empty(spark, fields)
    val s0 = src.get
    var dist = g.blocks.map(_.nodes.map(x => if (x == s0) 0L else -1L))
    var frontier = -1L // hop 1 finds nothing when the source is no node
    var hop = 0
    while (frontier != 0L && hop < maxHops) {
      hop += 1
      val (h, prev) = (hop.toLong, dist)
      dist = labelled(spark.sparkContext, s"bfs hop $hop") {
        val next = gather(g, prev, scatter(g, prev, in = false)(
            (_, s, j) => if (s(j) == h - 1) 1L else 0L))(
            (d, reached) => if (d < 0L && reached > 0L) h else d)
          .persist(StorageLevel.MEMORY_AND_DISK)
        if (hop % 16 == 0) next.localCheckpoint()
        frontier = countWhere(next)(_ == h)
        next
      }
      prev.unpersist(blocking = false)
    }
    val rows = nodeRows(g, dist) { (x, j, s) =>
      if (s.head(j) >= 0L) Row(x, s.head(j).toInt) else null
    }
    val out = labelled(spark.sparkContext, "bfs output")(output(spark, rows, ids, fields))
    g.blocks.unpersist(blocking = false)
    dist.unpersist(blocking = false)
    ids.release()
    out
  }

  /** Per-node triangle count, degree, and local clustering coefficient
    * over an undirected graph given as a pair list — the community-
    * density signal of the link-quality stack (a crawl host whose
    * neighborhood closes lots of triangles is an organic community; link
    * farms are star-shaped), complementing [[pageRank]]'s centrality and
    * [[Components]]' reachability.
    *
    * Pure DataFrame joins (no iteration), with the classic DEGREE-ORDERED
    * orientation (Suri & Vassilvitskii, WWW'11 "Counting triangles and
    * the curse of the last reducer"): every canonical edge is directed
    * from its lower-(degree, id) endpoint to the higher, which bounds any
    * node's out-degree by O(√m) — so the wedge self-join (the only
    * superlinear step) does Σ outdeg² ≤ m^1.5 work spread evenly across
    * keys instead of deg² on hub nodes. The triangle SET is orientation-
    * independent (each triangle is generated exactly once, at its
    * lowest-rank corner), which is what makes the query oracle-checkable
    * against a plain id-ordered SQL enumeration.
    *
    * lcc = 2·triangles / (degree·(degree−1)) — one IEEE division of two
    * exact integers, rounded to 6 dp, so Spark and DuckDB agree bitwise;
    * degree-1 nodes get lcc 0.
    *
    * @return (node BIGINT, degree BIGINT, triangles BIGINT, lcc DOUBLE),
    *         one row per node that appears in `pairs`. */
  def triangles(pairs: DataFrame, leftCol: String, rightCol: String): DataFrame = {
    val e = pairs
      .select(col(leftCol).cast("long").as("a"), col(rightCol).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(eager = true) // scanned 4× below (deg ×2, orient, closure)
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient by (degree, id) rank; carry the head's rank key so the wedge
    // step can order its two spokes without re-joining degrees
    val du = deg.select(col("node").as("u"), col("degree").as("du"))
    val dv = deg.select(col("node").as("v"), col("degree").as("dv"))
    val ranked = e.join(du, "u").join(dv, "v")
    val lowFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val oriented = ranked.select(
        when(lowFirst, col("u")).otherwise(col("v")).as("lo"),
        when(lowFirst, col("v")).otherwise(col("u")).as("hi"),
        when(lowFirst, col("dv")).otherwise(col("du")).as("dhi"))
      .localCheckpoint(eager = true) // feeds wedges twice + closure probe
    // wedges at the lowest-rank corner: two out-edges of `lo`, spokes
    // ordered by rank so the closing edge (b→c) is probed in ITS
    // orientation; the closure join is equi on both endpoints
    val o1 = oriented.select(col("lo"), col("hi").as("b"), col("dhi").as("db"))
    val o2 = oriented.select(col("lo"), col("hi").as("c"), col("dhi").as("dc"))
    val wedges = o1.join(o2, "lo")
      .filter(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
    val closing = oriented.select(col("lo").as("b"), col("hi").as("c"))
    val tris = wedges.join(closing, Seq("b", "c"))
      .select(col("lo").as("x"), col("b").as("y"), col("c").as("z"))
    val perNode = tris.select(col("x").as("node"))
      .unionAll(tris.select(col("y").as("node")))
      .unionAll(tris.select(col("z").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(
          when(col("degree") < 2, lit(0.0))
            .otherwise(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("degree") * (col("degree") - 1))), 6).as("lcc"))
  }

  /** Deterministic random-walk corpus over an undirected graph — the
    * DeepWalk/node2vec (p=q=1) sampling step (Perozzi et al. KDD'14)
    * that turns a graph into skip-gram training sequences. Each of
    * `walksPerNode` walks per start node takes `length` uniform steps;
    * the "random" choice at (walk, step) is the portable split hash
    * reduced mod the node's degree over its id-RANKED neighbor list, so
    * the whole corpus is a pure function of (graph, seed): layout-
    * stable, re-ingest-stable, and replayable step by step in SQL —
    * `rand()`-driven walks would re-sample differently every run and be
    * uncheckable.
    *
    * Scale shape: the ranked adjacency is built once (one window sort by
    * node); each step is ONE equi-join of the walk frontier (|V|·W rows)
    * against it, lineage truncated per step — L joins total, no
    * iteration-to-fixpoint, no driver state. Hub neighbor lists are
    * rows, not arrays, so a mega-hub never materializes its list.
    *
    * Key contract (shared with [[biasedWalks]] and the Poisson
    * bootstrap): the lottery key is `(start·W + walk)·(L+1) + step`
    * before the 2³² fold — node ids must stay < 2⁶³/(W·(L+1)) or Spark
    * wraps silently while an overflow-checked SQL replay errors.
    *
    * Degree contract: the draw is `bucket mod degree` with bucket
    * uniform on [0, 1000003), so a node's degree (or, in
    * [[biasedWalks]], its total candidate WEIGHT) must stay well below
    * ~10⁶: at degree ≥ 1000003 the tail of the id-ranked neighbor list
    * is unreachable, and as degree approaches it the modulo bias skews
    * transitions (≤0.1 % skew at degree 1000 — negligible; material
    * past ~10⁵). Hub-heavy graphs should contract mega-hubs (or cap
    * their degree) before walking.
    *
    * @return (start BIGINT, walk INT, step INT, node BIGINT) — step 0 is
    *         the start node; (length+1) rows per walk. */
  def randomWalks(
      pairs: DataFrame,
      leftCol: String,
      rightCol: String,
      walksPerNode: Int,
      length: Int,
      seed: Long): DataFrame = {
    require(walksPerNode >= 1 && length >= 1, "need >=1 walks of >=1 steps")
    val e = pairs
      .select(col(leftCol).cast("long").as("u"), col(rightCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
    val sym = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
    import org.apache.spark.sql.expressions.Window
    val ranked = sym
      .withColumn("rank",
        row_number().over(Window.partitionBy("node").orderBy("nbr")))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("node")))
      .localCheckpoint(eager = true) // probed once per step
    val starts = ranked.select(col("node")).distinct()
      .withColumn("walk", explode(array((0 until walksPerNode).map(lit): _*)))
      .select(col("node").as("start"), col("walk"), lit(0).as("step"),
        col("node"))
    var frontier = starts.localCheckpoint(eager = true)
    val steps = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    for (st <- 1 to length) {
      // walkId·(L+1)+step keys the draw: every (walk, step) is its own
      // independent lottery, shared textually with the SQL replay
      val key = (col("start") * walksPerNode + col("walk")) *
        (length + 1) + lit(st)
      val pick = pmod(
        Sampling.portableSplitBucket(key, seed, 1000003), col("deg"))
      frontier = frontier
        .join(ranked, Seq("node"))
        .filter(col("rank") === pick + 1)
        .select(col("start"), col("walk"), lit(st).as("step"),
          col("nbr").as("node"))
        .localCheckpoint(eager = true)
      steps += frontier
    }
    // deliberately NOT releaseCheckpoint'd: unlike the fixpoint loops,
    // no step supersedes another — the returned union reads EVERY
    // step's checkpoint, so all L+1 frontiers (each |starts|-sized, not
    // edge-set-sized) stay live by construction
    steps.reduce(_ unionByName _)
  }

  /** Second-order (node2vec) biased random walks (Grover & Leskovec
    * KDD'16): like [[randomWalks]], but from step 2 on the transition
    * out of `cur` is weighted by where the candidate sits relative to
    * `prev` — `wReturn` for going back (1/p in paper units), `wCommon`
    * for a mutual neighbor of prev (BFS-ish), `wFar` otherwise
    * (DFS-ish). Weights are INTEGERS and the draw is the portable hash
    * mod the total weight over the id-ranked candidate list, so the
    * corpus remains a pure function of (graph, seed) and every step
    * replays in SQL — the property float-normalized transition
    * probabilities can't give.
    *
    * Scale shape per step: one frontier×adjacency equi-join (candidate
    * rows = Σ frontier degrees), one broadcast-free edge-existence probe
    * (equi-join on the canonical pair), and one per-walk window cumsum —
    * no alias tables, no driver state. Step 1 has no `prev` and draws
    * uniformly, exactly like [[randomWalks]].
    *
    * @return (start, walk INT, step INT, node BIGINT). */
  def biasedWalks(
      pairs: DataFrame,
      leftCol: String,
      rightCol: String,
      walksPerNode: Int,
      length: Int,
      seed: Long,
      wReturn: Int,
      wCommon: Int,
      wFar: Int): DataFrame = {
    require(walksPerNode >= 1 && length >= 1, "need >=1 walks of >=1 steps")
    require(wReturn >= 1 && wCommon >= 1 && wFar >= 1,
      "weights must be positive integers")
    val e = pairs
      .select(col(leftCol).cast("long").as("u"), col(rightCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      // LAZY checkpoints throughout this builder (eager = false): each
      // eager one was a separate driver-blocking job — 7 sequential jobs
      // for a query whose total task cpu is ~0.7 s (r19 profile: wall
      // 2.1 s, 33 stages, driver-bound). Lazy keeps the dedup property
      // (localCheckpoint persists the RDD, so each frame still computes
      // exactly once inside the single final action — the probe reuse
      // and the step-st/union double-read both hit the cached blocks)
      // while the whole walk materializes in ONE job. Lineage depth is
      // bounded by `length` (4), so the eager truncation bought nothing.
      .localCheckpoint(eager = false) // adjacency ranks + per-step edge probe
    val sym = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
    import org.apache.spark.sql.expressions.Window
    val ranked = sym
      .withColumn("rank",
        row_number().over(Window.partitionBy("node").orderBy("nbr")))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("node")))
      .localCheckpoint(eager = false)
    def drawKey(st: Int) =
      (col("start") * walksPerNode + col("walk")) * (length + 1) + lit(st)
    val starts = ranked.select(col("node")).distinct()
      .withColumn("walk", explode(array((0 until walksPerNode).map(lit): _*)))
      .select(col("node").as("start"), col("walk"), lit(0).as("step"),
        lit(null).cast("long").as("prev"), col("node"))
    var frontier = starts.localCheckpoint(eager = false)
    val steps = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    for (st <- 1 to length) {
      val cands = frontier.join(ranked, Seq("node"))
      val next =
        if (st == 1) {
          val pick = pmod(
            Sampling.portableSplitBucket(drawKey(st), seed, 1000003), col("deg"))
          cands.filter(col("rank") === pick + 1)
            .select(col("start"), col("walk"), lit(st).as("step"),
              col("node").as("prev"), col("nbr").as("node"))
        } else {
          val probe = e.select(col("u").as("__pu"), col("v").as("__pv"),
            lit(1).as("__adj"))
          val classed = cands
            .join(probe,
              least(col("prev"), col("nbr")) === col("__pu") &&
                greatest(col("prev"), col("nbr")) === col("__pv"), "left")
            .withColumn("w",
              when(col("nbr") === col("prev"), lit(wReturn.toLong))
                .when(col("__adj").isNotNull, lit(wCommon.toLong))
                .otherwise(lit(wFar.toLong)))
          val ww = Window.partitionBy("start", "walk")
          val cum = classed
            .withColumn("cum", sum(col("w")).over(ww.orderBy("rank")))
            .withColumn("total", sum(col("w")).over(
              ww.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          val draw = pmod(
            Sampling.portableSplitBucket(drawKey(st), seed, 1000003),
            col("total"))
          cum.filter(draw >= col("cum") - col("w") && draw < col("cum"))
            .select(col("start"), col("walk"), lit(st).as("step"),
              col("node").as("prev"), col("nbr").as("node"))
        }
      frontier = next.localCheckpoint(eager = false)
      steps += frontier
    }
    // all steps live until (and beyond) the union — see randomWalks
    steps.reduce(_ unionByName _)
      .select("start", "walk", "step", "node")
  }

  /** Newman modularity of a community assignment over an undirected
    * graph (Newman & Girvan 2004): Q = Σ_c (e_c/m − (d_c/2m)²) — the
    * "are these communities denser than chance?" score that turns any
    * labeling ([[labelPropagation]], [[Components]], an external
    * partition) into a quality number. Kept EXACT: per-community terms
    * are emitted as the integer numerator 4·m·e_c − d_c² over the common
    * denominator 4m², with the rounded double total alongside — so the
    * whole evaluation replays in integer SQL.
    *
    * Scale shape: two label-joins of the edge list (broadcast when the
    * label table is node-sized vs corpus edges) + node-sized aggregates;
    * nothing quadratic, no iteration.
    *
    * @param labels (node, label) — one row per node, as produced by
    *               [[labelPropagation]]
    * @return (community, n_nodes, e_in, d_tot, q_term_scaled,
    *         q_total BIGINT/DOUBLE) — one row per community. */
  def modularity(
      pairs: DataFrame,
      leftCol: String,
      rightCol: String,
      labels: DataFrame): DataFrame = {
    val e = pairs
      .select(col(leftCol).cast("long").as("u"), col(rightCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(eager = true) // scanned for m, e_in, and degrees
    val m = e.count()
    // the integer numerators use 4·m·e_c ≤ 4m² and d_c² ≤ 4m²: exact in
    // BIGINT to ~1.5e9 edges. Web-scale graphs need the terms in
    // DECIMAL(38,0) — fail loudly instead of silently wrapping.
    require(m < 1500000000L,
      s"modularity: $m edges overflows the exact BIGINT numerators " +
        "(4·m² > 2⁶³); lift q_term arithmetic to DECIMAL(38,0) for " +
        "graphs beyond ~1.5e9 edges")
    val lab = labels.select(col("node").cast("long").as("node"),
      col("label").cast("long").as("label"))
    val eIn = e
      .join(lab.select(col("node").as("u"), col("label").as("__lu")), Seq("u"))
      .join(lab.select(col("node").as("v"), col("label").as("__lv")), Seq("v"))
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("community")).agg(count(lit(1)).as("e_in"))
    val dTot = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .join(lab, Seq("node"))
      .groupBy(col("label").as("community")).agg(count(lit(1)).as("d_tot"))
    val nNodes = lab.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val terms = nNodes
      .join(eIn, Seq("community"), "left")
      .join(dTot, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("d_tot"), lit(0L)).as("d_tot"))
      .withColumn("q_term_scaled",
        lit(4L) * lit(m) * col("e_in") - col("d_tot") * col("d_tot"))
    // global Q total as a broadcast 1-row aggregate, NOT an
    // empty-partition-spec window: communities can approach node count
    // (every node its own label), and a partitionless window would sort
    // that entity-sized table in one task
    val tot = terms.agg(sum(col("q_term_scaled")).as("__tot"))
    terms
      .crossJoin(broadcast(tot))
      .withColumn("q_total",
        round(col("__tot").cast("double") /
          (lit(4.0) * m * m), 6))
      .drop("__tot")
  }

  /** Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    * CIKM'03; Adamic & Adar 2003): for every non-adjacent pair at
    * distance 2, the common-neighbor count and the Adamic–Adar score
    * Σ_z 1/ln(deg z) over shared neighbors z — the "who should be
    * connected next" primitive behind recommendation and knowledge-graph
    * completion. The AA terms are FLOOR-quantized to 1e-6 units and
    * summed as BIGINT, so the score is shuffle-order-invariant and
    * replays exactly in integer SQL (a shared neighbor on a 2-hop path
    * always has degree ≥ 2, so ln is never 0; the nearest 1e6/ln(d)
    * gets to an integer over small-int degrees is ~0.04, far outside
    * double error).
    *
    * Scale shape: the wedge join fans each node into deg² candidate
    * pairs — the same Σ deg² bound as [[triangles]]' wedge step, EXCEPT
    * no orientation trick applies here (both spokes of a wedge are
    * candidates). `maxDegree` caps the fan-out: hub nodes above the cap
    * are excluded as common NEIGHBORS (they still appear as endpoints),
    * the standard craft for bounding open-wedge enumeration — a
    * 10⁶-degree hub contributes ~0 to AA (1/ln ≈ 0.07) but 10¹² wedges.
    *
    * @return (a, b, common_neighbors BIGINT, aa_score_scaled BIGINT) for
    *         non-adjacent pairs with ≥1 shared neighbor, a < b;
    *         aa_score_scaled is in 1e-6 units. */
  def adamicAdar(
      pairs: DataFrame,
      leftCol: String,
      rightCol: String,
      maxDegree: Int = 10000): DataFrame = {
    val e = pairs
      .select(col(leftCol).cast("long").as("u"), col(rightCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(eager = true) // scanned 3×: degrees, wedges, anti probe
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .unionAll(e.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("d"))
    // wedge a–z–b through non-hub centers; each unordered candidate pair
    // is generated once per shared neighbor, canonically a < b
    val centerTerm = deg.filter(col("d") <= maxDegree && col("d") >= 2)
      .withColumn("term", floor(lit(1000000.0) / log(col("d"))).cast("long"))
    // hub centers must drop BEFORE the wedge self-join: Spark preserves
    // syntactic join order (no CBO reorder by default), so filtering
    // after the join would first materialize ~d² wedge rows for a
    // mega-hub — the exact fan-out maxDegree exists to bound. The
    // semi-joins are node-sized; results are identical (the old form
    // inner-joined centerTerm right after)
    val lowDeg = centerTerm.select("z")
    val s1 = sym.select(col("b").as("z"), col("a"))
      .join(lowDeg, Seq("z"), "left_semi")
    val s2 = sym.select(col("a").as("z"), col("b"))
      .join(lowDeg, Seq("z"), "left_semi")
    val wedges = s1.join(s2, "z").filter(col("a") < col("b"))
      .join(centerTerm, "z")
    wedges
      .join(e, wedges("a") === e("u") && wedges("b") === e("v"), "left_anti")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("term")).as("aa_score_scaled"))
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara 2007, Phys. Rev. E 76): every node starts labeled
    * with its own id; each round, every node adopts the label held by the
    * PLURALITY of its neighbors (tiebreak: smallest label) — densely
    * interlinked groups converge onto one label within a few rounds. In
    * curation this is the modularity-flavored sibling of [[Components]]:
    * components find REACHABLE groups (any bridge merges two clusters),
    * LPA finds DENSE groups (a single bridge edge is outvoted), which is
    * what separates two boilerplate families that share one stray link.
    *
    * Determinism: the classic async/randomized LPA is not reproducible,
    * so this is the SYNCHRONOUS fixed-round variant with a total-order
    * tiebreak — all counts are integers and the argmax is
    * (count DESC, label ASC), so a fixed `iterations` replays bit-for-bit
    * as unrolled GROUP-BY + window CTEs in any engine (house pattern:
    * the [[pageRank]]/[[hits]] integer fixed points). Synchronous LPA on
    * a bipartite-ish region can oscillate rather than converge — also
    * deterministic, and why `iterations` is a fixed parameter rather
    * than a convergence test.
    *
    * Spark shape: one undirected block build (the shared engine's), then
    * per round one [[vote]] — each node sends its label along its list,
    * (destination, label) counts combine per task and cross the round's
    * one shuffle as one array batch per destination partition, and the
    * receive side picks every node's plurality label into the next
    * state array, persisted and counted as the round's one action.
    * Round 1 sends node ids (no state yet). A mega-hub's list spans
    * block records like every fixpoint's; its copies read one
    * partition-wide count, so the vote never depends on the layout.
    *
    * @param pairs undirected edges as a pair list (self-loops/nulls
    *              dropped, duplicates collapsed); node ids cast to LONG —
    *              labels are node ids, and the tiebreak needs a total
    *              order that replays in SQL
    * @return (node BIGINT, label BIGINT) — `label` is the community id
    *         (some member's node id) after exactly `iterations` rounds;
    *         empty with that schema when no edge remains
    */
  def labelPropagation(
      pairs: DataFrame,
      leftCol: String,
      rightCol: String,
      iterations: Int = 4): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0 (got $iterations)")
    val spark = pairs.sparkSession
    val e = pairs
      .select(col(leftCol).cast(LongType).as("a"), col(rightCol).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val ids = Ids(LongType, null)
    val fields = Seq(StructField("label", LongType, nullable = false))
    val g = labelled(spark.sparkContext, "lpa build")(
      buildGraph(e, directed = false, withIn = false))
    if (g == null) return ids.empty(spark, fields)
    var labels: RDD[Array[Long]] = null
    for (round <- 1 to iterations) {
      val prev = labels
      labels = labelled(spark.sparkContext, s"lpa r$round: vote") {
        val next = vote(g, prev).persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        next
      }
      if (prev != null) prev.unpersist(blocking = false)
    }
    val rows = nodeRows(g, Option(labels).toSeq: _*) { (x, j, s) =>
      Row(x, if (s.isEmpty) x else s.head(j))
    }
    val out = labelled(spark.sparkContext, "lpa output")(output(spark, rows, ids, fields))
    (Option(labels).toSeq :+ g.blocks).foreach(_.unpersist(blocking = false))
    out
  }
}

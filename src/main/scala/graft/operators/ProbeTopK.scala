package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics,
  SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.{DatasetBridge, ExchangeBridge}
import org.apache.spark.sql.types.IntegerType

/** The IVF serving operator: scan the probed partitions once, score each
  * candidate row against only the queries that probed its partition, and
  * keep a k-bounded heap per query — the reference's per-partition top-n
  * plus client merge (neighborhood_server.py:209-226,
  * nearest_neighbor_client.py:62-72) as one plan node.
  *
  * `child` is the candidate frame, already pruned to the probed partitions
  * (on a durable index its FileScan keeps `PartitionFilters`). The query
  * batch is not a child: the driver probe ([[AnnIvf.probeQueries]]) already
  * holds it, so it rides in [[ProbeTopK.Batch]] and the node produces
  * `query_id` / `__query_vec` itself.
  *
  * Output: `partition_id`, `query_id`, the child's columns (without
  * `partition_id` and `__salt`), `score`, `rank` (1-based). Rows per query
  * are ranked by `order` — `score` descending (nulls last, NaN first), then
  * id ascending (nulls first) — exactly the `row_number` window it
  * replaces. `perPartitionK > 0` first keeps that many per (query,
  * partition), the reference's server-side `top_n`, then the global `k`.
  *
  * `score` and `condition` are bound over the child's columns plus the two
  * query attributes and evaluated per (candidate, probing query) pair. */
final case class ProbeTopK(
    partitionId: Attribute,
    queryId: Attribute,
    queryVec: Attribute,
    score: Expression,
    scoreOut: Attribute,
    condition: Expression,
    order: Seq[SortOrder],
    rank: Attribute,
    k: Int,
    perPartitionK: Int,
    batch: ProbeTopK.Batch,
    label: String,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] =
    ProbeTopK.outputOf(child.output, partitionId, queryId, scoreOut, rank)

  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(queryId, queryVec, scoreOut, rank))

  override protected def stringArgs: Iterator[Any] =
    Iterator(ProbeTopK.describe(k, perPartitionK, batch, score, condition, order))

  override protected def withNewChildInternal(c: LogicalPlan): ProbeTopK =
    copy(child = c)
}

object ProbeTopK extends PredicateHelper {

  /** One request's probe as the scan needs it: the probed partition ids
    * (ascending), the indices of the queries that probed each (aligned,
    * ascending), and the query rows (`query_id`, `__query_vec`). */
  final class Batch(val partitionIds: Array[Int], val probing: Array[Array[Int]],
      val queries: Array[UnsafeRow]) extends Serializable

  /** The top-`k` rows of `cands` per query of `probe`, scored with
    * `score(candidate vector, query vector)` over the pairs that pass
    * `candidateFilter`. `cands` must carry `partition_id`; `label` names
    * the scan job. */
  private[operators] def apply(cands: DataFrame, probe: AnnIvf.Probe,
      idCol: String, vecCol: String, k: Int, perPartitionK: Int,
      candidateFilter: Column, score: (Column, Column) => Column,
      label: String): DataFrame = {
    val spark = cands.sparkSession
    ProbeTopKStrategy.setup(spark)
    // resolve the caller's Columns against candidate + query columns: the
    // analyzer binds them to the attributes of the two plans below
    val queries = probe.queries
    val resolved = cands.crossJoin(queries).select(
        score(col(vecCol), col("__query_vec")).as("score"),
        candidateFilter.as("__keep"), col(idCol), col("partition_id"))
      .queryExecution.analyzed
    val (scoreExpr, keep, id, pid) = resolved match {
      case Project(Seq(Alias(s, _), Alias(f, _), i: Attribute, p: Attribute), _) =>
        (s, f, i, p)
      case other => throw new IllegalStateException(
        s"ProbeTopK: unexpected resolved shape\n$other")
    }
    val candPlan = cands.queryExecution.analyzed
    // conjuncts that read no query column filter the candidates once,
    // below the node, instead of once per probing query
    val (perRow, perPair) = splitConjunctivePredicates(keep)
      .filterNot(_ == Literal.TrueLiteral)
      .partition(c => c.deterministic && c.references.subsetOf(candPlan.outputSet))
    val child = perRow.reduceOption(And).fold(candPlan)(Filter(_, candPlan))
    val Seq(queryId, queryVec) = queries.queryExecution.analyzed.output
    val scoreOut = AttributeReference("score", scoreExpr.dataType, scoreExpr.nullable)()
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(probe.querySchema)
    val toUnsafe = UnsafeProjection.create(probe.querySchema)
    val rows = probe.queryRows.map(r =>
      toUnsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy())
    DatasetBridge.ofPlan(spark, ProbeTopK(pid, queryId, queryVec, scoreExpr,
      scoreOut, perPair.reduceOption(And).getOrElse(Literal.TrueLiteral),
      Seq(SortOrder(scoreOut, Descending), SortOrder(id, Ascending)),
      AttributeReference("rank", IntegerType, nullable = false)(),
      k, perPartitionK, new Batch(probe.partitionIds, probe.probing, rows),
      label, child))
  }

  /** `partition_id` (never null: only probed ids match), `query_id`, the
    * remaining candidate columns without the storage-only `__salt`,
    * `score`, `rank`. */
  private[operators] def outputOf(cand: Seq[Attribute], partitionId: Attribute,
      queryId: Attribute, scoreOut: Attribute, rank: Attribute): Seq[Attribute] =
    Seq(partitionId.withNullability(false), queryId) ++
      cand.filterNot(a => a.exprId == partitionId.exprId ||
        a.name.equalsIgnoreCase("__salt")) ++
      Seq(scoreOut, rank)

  private[operators] def describe(k: Int, perPartitionK: Int,
      batch: Batch, score: Expression, condition: Expression,
      order: Seq[SortOrder]): String = {
    val perPartition = if (perPartitionK > 0) s", perPartitionK=$perPartitionK" else ""
    val filter = if (condition == Literal.TrueLiteral) "" else s", filter=${condition.sql}"
    s"k=$k$perPartition, queries=${batch.queries.length}, " +
      s"partitions=${batch.partitionIds.length}, score=${score.sql}$filter, " +
      s"order=${order.map(_.sql).mkString("[", ", ", "]")}"
  }
}

/** Plans [[ProbeTopK]], folding a projection right above it into the exec
  * so a reordered or narrowed result still collects through the driver
  * merge. Added to a session on first use ([[setup]]) and by
  * [[graft.GraftExtensions]]. */
object ProbeTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, p: ProbeTopK) if list.forall(_.deterministic) =>
      exec(p, list) :: Nil
    case p: ProbeTopK => exec(p, p.output) :: Nil
    case _ => Nil
  }

  private def exec(p: ProbeTopK, projectList: Seq[NamedExpression]): SparkPlan =
    ProbeTopKExec(p.partitionId, p.queryId, p.queryVec, p.score, p.scoreOut,
      p.condition, p.order, p.rank, p.k, p.perPartitionK, p.batch, p.label,
      projectList, planLater(p.child))

  def setup(session: SparkSession): Unit = synchronized {
    val ex = session.experimental
    if (!ex.extraStrategies.contains(this))
      ex.extraStrategies = this +: ex.extraStrategies
  }
}

/** Physical [[ProbeTopK]]. Two paths share one per-task kernel
  * ([[ProbeTopKExec.partials]]), as in Spark's `TakeOrderedAndProjectExec`:
  *  - `executeCollect` (a caller's `collect`): one scan job; the driver
  *    folds each task's heaps into the per-query heaps as the task
  *    finishes, the way `RDD.reduce` does, so driver memory stays
  *    O(queries·k) plus one task result. No exchange, no sort.
  *  - `doExecute` (count, joins, limit, caching): the same partials, one
  *    single-partition exchange, then the same merge. */
final case class ProbeTopKExec(
    partitionId: Attribute,
    queryId: Attribute,
    queryVec: Attribute,
    score: Expression,
    scoreOut: Attribute,
    condition: Expression,
    order: Seq[SortOrder],
    rank: Attribute,
    k: Int,
    perPartitionK: Int,
    batch: ProbeTopK.Batch,
    label: String,
    projectList: Seq[NamedExpression],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(queryId, queryVec, scoreOut, rank))
  override def outputPartitioning: Partitioning = SinglePartition

  private lazy val writeMetrics =
    SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "candidateRows" -> SQLMetrics.createMetric(sparkContext, "candidate rows"),
    "scoredPairs" -> SQLMetrics.createMetric(sparkContext, "scored pairs"),
    "heapInserts" -> SQLMetrics.createMetric(sparkContext, "heap inserts")) ++
    readMetrics ++ writeMetrics

  /** A task's row: the query's index in the batch, then the output
    * columns before `rank`. */
  private val qi = AttributeReference("__qi", IntegerType, nullable = false)()
  private lazy val partialOutput: Seq[Attribute] =
    qi +: ProbeTopK.outputOf(child.output, partitionId, queryId, scoreOut, rank).init

  /** Per-query (or, with `perPartitionK`, per query and partition) heap
    * capacity; a partition contributes at most k rows to the global k. */
  private def cap: Int =
    if (perPartitionK > 0) math.min(perPartitionK, k) else k

  private def nothingToScan: Boolean = k <= 0 || batch.partitionIds.isEmpty

  private def newMerge(): ProbeTopKExec.Merge = new ProbeTopKExec.Merge(
    order, partialOutput, projectList, rank, k, cap, perPartitionK > 0)

  override protected def stringArgs: Iterator[Any] =
    Iterator(ProbeTopK.describe(k, perPartitionK, batch, score, condition, order))

  override def executeCollect(): Array[InternalRow] = {
    if (nothingToScan) return Array.empty
    val merge = newMerge()
    labelled(sparkContext, label) {
      sparkContext.runJob(partials(), (rows: Iterator[InternalRow]) => rows.toArray,
        (_: Int, rows: Array[InternalRow]) => rows.foreach(merge.add))
    }
    merge.result()
  }

  protected override def doExecute(): RDD[InternalRow] = {
    if (nothingToScan) return sparkContext.parallelize(Seq.empty[InternalRow], 1)
    val parts = partials()
    val single =
      if (parts.getNumPartitions == 1) parts
      else ExchangeBridge.toSinglePartition(parts, partialOutput, writeMetrics, readMetrics)
    val merge = newMerge()
    single.mapPartitions { rows =>
      rows.foreach(merge.add)
      merge.result().iterator
    }
  }

  /** The scan kernel: one pass over the candidate rows; each row is
    * scored against the queries that probed its partition, and copied
    * only when it enters a heap. Emits each task's heaps as partial rows
    * (`partialOutput`). */
  private def partials(): RDD[InternalRow] = {
    val cand = child.output
    val input = cand ++ Seq(queryId, queryVec)
    val pidAt = cand.indexWhere(_.exprId == partitionId.exprId)
    val (score, order, cap, batch) = (this.score, this.order, this.cap, this.batch)
    val condition = Some(this.condition).filterNot(_ == Literal.TrueLiteral)
    val perPartition = perPartitionK > 0
    val emitExprs = partialOutput
    val emitInput = Seq(qi, queryId, queryVec, scoreOut) ++ cand
    val keyInput = scoreOut +: cand
    val (candidates, pairs, inserts) = (longMetric("candidateRows"),
      longMetric("scoredPairs"), longMetric("heapInserts"))
    child.execute().mapPartitionsWithIndex { (part, rows) =>
      val keep = condition.map { c =>
        val p = Predicate.create(c, input); p.initialize(part); p
      }.orNull
      val scoreOf = UnsafeProjection.create(Seq(score), input)
      val keyOrder = new LazilyGeneratedOrdering(order, keyInput)
      val byPid = new java.util.HashMap[Int, Array[Int]]()
      batch.partitionIds.indices.foreach(i => byPid.put(batch.partitionIds(i), batch.probing(i)))
      // heaps hold (score, candidate) joined rows; the key is the query
      // index, or (query index, partition id) per partition
      val heaps = new java.util.HashMap[Long, ProbeTopKExec.TopK]()
      val pair = new JoinedRow
      val key = new JoinedRow
      var lastPid = 0
      var probing: Array[Int] = null
      var nCand = 0L; var nPairs = 0L; var nInserts = 0L
      while (rows.hasNext) {
        val row = rows.next()
        nCand += 1
        if (!row.isNullAt(pidAt)) {
          val pid = row.getInt(pidAt)
          if (probing == null || pid != lastPid) { probing = byPid.get(pid); lastPid = pid }
          if (probing != null) {
            var kept: InternalRow = null
            var j = 0
            while (j < probing.length) {
              val q = probing(j)
              pair(row, batch.queries(q))
              if (keep == null || keep.eval(pair)) {
                nPairs += 1
                val s = scoreOf(pair)
                val h = heaps.computeIfAbsent(
                  if (perPartition) (q.toLong << 32) | (pid & 0xffffffffL) else q.toLong,
                  _ => new ProbeTopKExec.TopK(cap, keyOrder))
                if (h.admits(key(s, row))) {
                  if (kept == null) kept = row.copy()
                  h.add(new JoinedRow(s.copy(), kept))
                  nInserts += 1
                }
              }
              j += 1
            }
          }
        }
      }
      candidates += nCand; pairs += nPairs; inserts += nInserts
      val emit = UnsafeProjection.create(emitExprs, emitInput)
      val head = new JoinedRow
      val out = Array.newBuilder[InternalRow]
      heaps.forEach { (hk, h) =>
        val q = (if (perPartition) hk >>> 32 else hk).toInt
        head(InternalRow(q), batch.queries(q))
        h.rows.foreach(e => out += emit(new JoinedRow(head, e)).copy())
      }
      out.result().iterator
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): ProbeTopKExec =
    copy(child = c)
}

object ProbeTopKExec {

  /** A bounded heap under `ord` (smaller = better): the head is the worst
    * kept row, so a better row replaces it in O(log cap). */
  private[operators] final class TopK(cap: Int, ord: Ordering[InternalRow]) {
    private val heap = new java.util.PriorityQueue[InternalRow](ord.reverse)
    def admits(r: InternalRow): Boolean =
      heap.size < cap || ord.compare(r, heap.peek()) < 0
    def add(r: InternalRow): Unit = {
      if (heap.size >= cap) heap.poll()
      heap.add(r)
    }
    def rows: Array[InternalRow] = heap.toArray(new Array[InternalRow](0))
  }

  /** The final merge over partial rows (`partial` attributes, the query
    * index first): per-query heaps (per query and partition first when
    * `perPartition`), then each query's rows ranked 1..n and projected. */
  private[operators] final class Merge(order: Seq[SortOrder], partial: Seq[Attribute],
      projectList: Seq[NamedExpression], rank: Attribute, k: Int, cap: Int,
      perPartition: Boolean) extends Serializable {
    private val ord = new LazilyGeneratedOrdering(order, partial)
    private val heaps = new java.util.TreeMap[Long, TopK]()

    def add(row: InternalRow): Unit = {
      val q = row.getInt(0).toLong
      val h = heaps.computeIfAbsent(
        if (perPartition) (q << 32) | (row.getInt(1) & 0xffffffffL) else q,
        _ => new TopK(cap, ord))
      if (h.admits(row)) h.add(row.copy())
    }

    def result(): Array[InternalRow] = {
      val project = UnsafeProjection.create(projectList, partial :+ rank)
      val out = Array.newBuilder[InternalRow]
      val byQuery = new java.util.TreeMap[Long, Array[InternalRow]]()
      heaps.forEach { (hk, h) =>
        val q = if (perPartition) hk >>> 32 else hk
        byQuery.merge(q, h.rows, _ ++ _)
      }
      byQuery.forEach { (_, rows) =>
        rows.sorted(ord).iterator.take(k).zipWithIndex.foreach { case (r, i) =>
          out += project(new JoinedRow(r, InternalRow(i + 1))).copy()
        }
      }
      out.result()
    }
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** Lazy-loading LRU partition cache for the ANN serving path — the
  * Spark-first twin of the reference's per-partition index cache
  * (query/neighborhood_server.py:134-161: partitions load on first
  * search, an LRU bounds resident count, `/health` reports
  * hit/miss/eviction counters at :286-291).
  *
  * Each probed IVF partition is loaded once as its own
  * `persist(MEMORY_AND_DISK)` DataFrame (a partition-pruned scan on a
  * durable index — only that partition's files are read) and reused by
  * every subsequent search that probes it; beyond `maxCachedPartitions`
  * the least-recently-used partition is unpersisted. Counters are
  * `LongAccumulator`s, so they also surface in the Spark UI.
  *
  * Cache decisions are driver-side: the centroid probe runs on the
  * driver ([[AnnIvf.probeQueries]], as in [[AnnIvf.searchPruned]] — the
  * reference's "leader search first" sequencing), so the probed
  * partition set is known before any plan is built. Concurrency: the
  * cache monitor guards only the LRU map itself; a COLD load (persist +
  * optional eager count job — seconds on a big partition) runs outside
  * it behind a per-partition gate, so a cold query never blocks
  * concurrent hits on resident partitions and two threads never
  * double-load the same partition.
  *
  * A probe set WIDER than the cache does not thrash it: a single search
  * probing more distinct partitions than `maxCachedPartitions` serves
  * resident partitions from cache, fills the remaining capacity with
  * cold loads, and reads the overflow through ONE direct
  * partition-pruned scan (counted in `bypasses`) — the LRU never evicts
  * a partition the same search just paid to load.
  *
  * `eagerLoad = true` (the default) materializes a partition with a
  * `count()` at load time — one extra job per cold partition, mirroring
  * the reference's blocking `read_index`, and it keeps `rowsLoaded`
  * exact. `eagerLoad = false` skips that job: the first search touching
  * the partition fills the persisted storage as a side effect of its own
  * job (better cold-query latency; `rowsLoaded` then counts only eager
  * loads, i.e. stays 0).
  */
final class ServingCache(val index: AnnIvf.Index, val maxCachedPartitions: Int,
    val eagerLoad: Boolean = true) {
  require(maxCachedPartitions > 0,
    s"ServingCache needs maxCachedPartitions > 0, got $maxCachedPartitions")

  private val sc = index.assigned.sparkSession.sparkContext
  val hits: LongAccumulator = sc.longAccumulator("graft.ann.cache.hits")
  val misses: LongAccumulator = sc.longAccumulator("graft.ann.cache.misses")
  val evictions: LongAccumulator = sc.longAccumulator("graft.ann.cache.evictions")
  /** Rows materialized by cache loads, cumulative (the reference's
    * per-load `index.ntotal` roll-up). */
  val rowsLoaded: LongAccumulator = sc.longAccumulator("graft.ann.cache.rows_loaded")
  /** Partitions served via the direct overflow scan because one search's
    * probe set exceeded the cache capacity (no load, no eviction). */
  val bypasses: LongAccumulator = sc.longAccumulator("graft.ann.cache.bypasses")

  // access-ordered LinkedHashMap = LRU; values are persisted partition scans
  private val lru = new java.util.LinkedHashMap[Int, DataFrame](16, 0.75f, true)
  // per-partition load gates: serialize duplicate loads of the SAME
  // partition without holding the cache monitor across the load's jobs
  private val loadGates =
    new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()

  def cachedPartitions: Seq[Int] = synchronized {
    import scala.jdk.CollectionConverters._
    lru.keySet().asScala.toSeq
  }

  /** Resident lookup (bumps LRU order); null when cold. */
  private def cachedOrNull(pid: Int): DataFrame = synchronized { lru.get(pid) }

  private def partitionDf(pid: Int): DataFrame = {
    val got = cachedOrNull(pid)
    if (got != null) { hits.add(1); return got }
    val gate = loadGates.computeIfAbsent(pid, _ => new AnyRef)
    gate.synchronized {
      // re-check: the previous holder of this gate may have loaded it
      val again = cachedOrNull(pid)
      if (again != null) { hits.add(1); return again }
      misses.add(1)
      val df = index.assigned.filter(col("partition_id") === pid)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // eager load, like the reference's blocking read_index; lazy mode
      // lets the first search's own job fill the persisted storage.
      // Runs under the per-pid gate only — concurrent hits on OTHER
      // partitions proceed through the cache monitor unblocked
      if (eagerLoad) rowsLoaded.add(df.count())
      synchronized {
        lru.put(pid, df)
        while (lru.size > maxCachedPartitions) {
          val it = lru.entrySet().iterator()
          it.next().getValue.unpersist(blocking = false)
          it.remove()
          evictions.add(1)
        }
      }
      df
    }
  }

  /** [[AnnIvf.searchPruned]] semantics served from the cache: probe,
    * load/touch each probed partition, exact top-k over their union.
    * Result equality with the uncached path is spec-checked. */
  def search(queries: DataFrame, queryIdCol: String, vecCol: String,
      k: Int, nprobe: Int, idCol: String = "vec_id"): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("__query_vec"))
    val probe = AnnIvf.probeQueries(index, q, nprobe, "ServingCache.search")
    val pids = probe.partitionIds
    if (pids.isEmpty) return AnnIvf.searchPruned(
      index, queries, queryIdCol, vecCol, k, nprobe, idCol)
    // resident-first capacity split — the overflow of a wide probe set
    // goes to one direct pruned scan instead of churning the LRU (see
    // class doc); reading keySet does not bump access order
    val residentNow = synchronized {
      import scala.jdk.CollectionConverters._
      lru.keySet().asScala.toSet
    }
    val (hot, cold) = pids.partition(residentNow.contains)
    val viaCache = (hot ++ cold).take(maxCachedPartitions)
    val direct = pids.filterNot(viaCache.contains)
    bypasses.add(direct.length.toLong)
    val directScan =
      if (direct.isEmpty) Nil
      else Seq(index.assigned.filter(
        col("partition_id").isin(direct.toSeq: _*)))
    val cands = (viaCache.map(partitionDf).toSeq ++ directScan)
      .reduce(_.unionByName(_))
    // broadcast the SMALL things separately: the (query, partition)
    // pairs and the query vectors ONCE each — not the probe result with
    // a query-vector copy per probed partition (nprobe× the bytes)
    val pairs = probe.pairs.select("query_id", "partition_id")
    Knn.topKPerGroup(
      broadcast(pairs).join(cands, Seq("partition_id"))
        .join(broadcast(probe.queries), Seq("query_id"))
        .withColumn("score",
          graft.functions.VectorOps.dot(col(vecCol), col("__query_vec"))),
      Seq(col("query_id")), k, desc("score"), asc(idCol))
      .drop("__query_vec", "__salt")
  }

  /** One stats row — the cache half of the reference's `/health`. */
  def stats: DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    synchronized {
      Seq((lru.size(), hits.value: Long, misses.value: Long,
          evictions.value: Long, rowsLoaded.value: Long,
          bypasses.value: Long))
        .toDF("cached_partitions", "cache_hits", "cache_misses",
          "cache_evictions", "rows_loaded", "cache_bypasses")
    }
  }

  /** Unpersist everything and reset the resident set (counters keep
    * their lifetime totals, matching the reference's process-lifetime
    * counters). */
  def invalidate(): Unit = synchronized {
    val it = lru.entrySet().iterator()
    while (it.hasNext) { it.next().getValue.unpersist(blocking = false); it.remove() }
  }
}

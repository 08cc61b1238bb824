package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._
import graft.operators._

/** Public facade of the engine: the operator library re-exported under one
  * namespace, plus SQL registration so every capability is reachable from
  * `spark.sql(...)` as well as the DataFrame API.
  *
  * A user of the reference's stack maps onto this as:
  *  - build index (vector_db.py main)        → [[Graft.annBuild]] + [[AnnIvf.write]]
  *  - POST /search (neighborhood_server.py)  → [[Graft.annSearch]] / [[Graft.knn]]
  *  - scatter-gather client                  → the same call (partitions ARE the shards)
  *  - taxonomy parsing (parse_utils.py)      → `graft_parse_taxontag` / [[TaxonomyParser]]
  *  - skip-existing ingest (vector_db.py)    → [[Ingest.appendNew]]
  */
object Graft {

  // ----- vector search ---------------------------------------------------
  def knn(vectors: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, vecCol: String, k: Int): DataFrame =
    Knn.bruteForce(vectors, queries, idCol, queryIdCol, vecCol, k)

  def annBuild(vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 42L): AnnIvf.Index =
    AnnIvf.build(vectors, idCol, vecCol, nlist, seed)

  def annSearch(index: AnnIvf.Index, queries: DataFrame, queryIdCol: String,
      vecCol: String, k: Int, nprobe: Int, idCol: String = "vec_id"): DataFrame =
    AnnIvf.search(index, queries, queryIdCol, vecCol, k, nprobe, idCol)

  /** Serving path against a durable index: static partition pruning. */
  def annSearchPruned(index: AnnIvf.Index, queries: DataFrame, queryIdCol: String,
      vecCol: String, k: Int, nprobe: Int, idCol: String = "vec_id"): DataFrame =
    AnnIvf.searchPruned(index, queries, queryIdCol, vecCol, k, nprobe, idCol)

  /** The reference's `/health` aggregate (neighborhood_server.py:275-295):
    * total vectors, partition count, distinct embedding dims (must be 1 —
    * A3), as one stats row. */
  def annStats(index: AnnIvf.Index, vecCol: String = "embedding"): DataFrame =
    index.assigned.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("total_vectors"),
      org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("partition_id")).as("n_partitions"),
      org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col(vecCol))).as("n_distinct_dims"))

  /** Serving-mode cache over a (durable) index: lazy per-partition
    * `persist` with LRU eviction and hit/miss/eviction counters — the
    * reference's lazy-load LRU serving tier (neighborhood_server.py:
    * 134-161). */
  def annServingCache(index: AnnIvf.Index, maxCachedPartitions: Int): ServingCache =
    new ServingCache(index, maxCachedPartitions)

  /** Full `/health` parity: index totals + cache counters in one row
    * (neighborhood_server.py:286-291). */
  def annStats(index: AnnIvf.Index, cache: ServingCache, vecCol: String): DataFrame =
    annStats(index, vecCol).crossJoin(cache.stats)

  // ----- product quantization (compact billion-scale index) --------------
  def pqTrain(vectors: DataFrame, vecCol: String, m: Int,
      ksub: Int = 256, seed: Long = 42L): AnnPq.Codebooks =
    AnnPq.train(vectors, vecCol, m, ksub, seed)

  def pqEncode(index: AnnIvf.Index, cb: AnnPq.Codebooks,
      idCol: String, vecCol: String): DataFrame =
    AnnPq.encode(index, cb, idCol, vecCol)

  /** ADC search over byte codes; `refine > 0` re-ranks exactly. */
  def pqSearch(index: AnnIvf.Index, cb: AnnPq.Codebooks, encoded: DataFrame,
      queries: DataFrame, queryIdCol: String, vecCol: String, k: Int,
      nprobe: Int, idCol: String = "vec_id", refine: Int = 0): DataFrame =
    AnnPq.searchADC(index, cb, encoded, queries, queryIdCol, vecCol,
      k, nprobe, idCol, refine)

  // ----- sources ---------------------------------------------------------
  /** WebDataset tar shards → one row per sample (shard, key, ext→bytes). */
  def webDataset(spark: SparkSession, path: String): DataFrame =
    graft.sources.WebDataset.samples(spark, path).toDF()

  // ----- training-corpus preparation -------------------------------------
  /** Full dedup→(decontaminate)→quality→split→pack chain; see
    * [[graft.operators.CorpusPrep.prepare]]. */
  def prepareCorpus(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, evalDocs: Option[DataFrame] = None): DataFrame =
    graft.operators.CorpusPrep.prepare(docs, idCol, textCol, langCol,
      evalDocs = evalDocs)

  /** Drop train docs sharing an n-gram with an eval corpus. */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame =
    graft.operators.Dedup.decontaminate(train, eval, idCol, textCol, n)

  /** Temperature-based stratum rebalancing (α = ½), portable per-row keep
    * decision; see [[graft.operators.Sampling.temperatureKeep]]. */
  def temperatureKeep(df: DataFrame, strataCol: String, keyCol: Column,
      seed: Long): DataFrame =
    graft.operators.Sampling.temperatureKeep(df, strataCol, keyCol, seed)

  /** Per-doc cross-entropy under the corpus MLE unigram LM (CCNet-shaped
    * perplexity filter). */
  def unigramCrossEntropy(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.operators.TextScoring.unigramCrossEntropy(docs, idCol, textCol)

  /** DSIR importance log-weights toward a target exemplar corpus. */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, n: Int = 2, numBuckets: Int = 1024): DataFrame =
    graft.operators.TextScoring.dsirLogWeights(raw, target, idCol, textCol,
      n, numBuckets)

  /** Winnowed exact-substring overlap candidates (Lee-et-al substring
    * dedup); see [[graft.operators.Dedup.winnowCandidates]]. */
  def substringCandidates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, maxDocsPerFp: Int = 50): DataFrame =
    graft.operators.Dedup.winnowCandidates(docs, idCol, textCol, k, w, maxDocsPerFp)

  /** C4-style sub-document chunk dedup: global first occurrence of each
    * token chunk survives, docs reassemble from surviving chunks. */
  def dropRepeatedChunks(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame =
    graft.operators.Dedup.dropRepeatedChunks(docs, idCol, textCol, chunkTokens)

  /** SemDeDup semantic dedup over an IVF-clustered embedding space. */
  def semanticDedup(index: AnnIvf.Index, idCol: String, vecCol: String,
      threshold: Double): DataFrame =
    graft.operators.Dedup.semanticAssignment(index, idCol, vecCol, threshold)

  /** One-pass distributed PCA fit over an embedding column. */
  def pcaFit(df: DataFrame, vecCol: String, k: Int): graft.operators.EmbeddingPca.PcaModel =
    graft.operators.EmbeddingPca.fit(df, vecCol, k)

  def pcaProject(model: graft.operators.EmbeddingPca.PcaModel, vec: Column): Column =
    graft.operators.EmbeddingPca.project(model, vec)

  /** Exact-integer top-2 PCA (power iteration + Hotelling deflation in
    * fixed point): bit-reproducible across runs, partitionings, and
    * engines — the deterministic twin of [[pcaFit]] for audit/replay
    * pipelines. One corpus pass; d²-sized driver work. */
  def pcaFitInt(df: DataFrame, vecCol: String, rounds: Int = 80)
      : graft.operators.EmbeddingPcaInt.Deflate2Model =
    graft.operators.EmbeddingPcaInt.fitTop2(df, vecCol, rounds)

  /** Exact-integer top-2 projection for [[pcaFitInt]] models: scan-local,
    * long-safe at any corpus size (see EmbeddingPcaInt.projectTop2). */
  def pcaProjectInt(df: DataFrame, vecCol: String, idCol: String,
      model: graft.operators.EmbeddingPcaInt.Deflate2Model): DataFrame =
    graft.operators.EmbeddingPcaInt.projectTop2(df, vecCol, idCol, model)

  // ----- column functions ------------------------------------------------
  // ----- graph & clustering ---------------------------------------------
  def dbscan(ids: DataFrame, idCol: String, pairs: DataFrame,
      leftCol: String, rightCol: String, minPts: Int): DataFrame =
    Clustering.dbscanFromPairs(ids, idCol, pairs, leftCol, rightCol, minPts)

  def adamicAdar(pairs: DataFrame, leftCol: String, rightCol: String,
      maxDegree: Int = 10000): DataFrame =
    LinkAnalysis.adamicAdar(pairs, leftCol, rightCol, maxDegree)

  def randomWalks(pairs: DataFrame, leftCol: String, rightCol: String,
      walksPerNode: Int, length: Int, seed: Long): DataFrame =
    LinkAnalysis.randomWalks(pairs, leftCol, rightCol, walksPerNode, length, seed)

  def node2vecWalks(pairs: DataFrame, leftCol: String, rightCol: String,
      walksPerNode: Int, length: Int, seed: Long,
      wReturn: Int, wCommon: Int, wFar: Int): DataFrame =
    LinkAnalysis.biasedWalks(pairs, leftCol, rightCol, walksPerNode, length,
      seed, wReturn, wCommon, wFar)

  def modularity(pairs: DataFrame, leftCol: String, rightCol: String,
      labels: DataFrame): DataFrame =
    LinkAnalysis.modularity(pairs, leftCol, rightCol, labels)

  // ----- corpus layout & resampling --------------------------------------
  def packNextFit(df: DataFrame, groupCol: String, idCol: String,
      sizeCol: String, capacity: Long): DataFrame =
    Packing.nextFit(df, groupCol, idCol, sizeCol, capacity)

  def poissonBootstrap(df: DataFrame, keyCol: Column, replicates: Int,
      seed: Long): DataFrame =
    Sampling.poissonReplicates(df, keyCol, replicates, seed)

  def mviewJoinDelta(aOld: DataFrame, aDelta: DataFrame,
      bOld: DataFrame, bDelta: DataFrame, joinKeys: Seq[String]): DataFrame =
    Mview.joinDelta(aOld, aDelta, bOld, bDelta, joinKeys)

  // ----- distributed total-order primitives ------------------------------
  // Whole-table row_number/ntile/running-sum/exact-quantiles WITHOUT a
  // single-partition window sort (operators.GlobalRank: range exchange +
  // broadcast offsets) — the primitive behind the engine's RFM/Pareto/
  // Gini/AUC/calibration/curriculum queries, promoted to the facade so
  // library users reach it without the internal package path.
  def globalRowNumber(df: DataFrame, sort: Seq[Column], out: String): DataFrame =
    GlobalRank.rowNumber(df, sort, out)

  def globalNtile(df: DataFrame, sort: Seq[Column], n: Int, out: String): DataFrame =
    GlobalRank.ntile(df, sort, n, out)

  def globalPrefixSum(df: DataFrame, sort: Seq[Column], value: Column,
      out: String): DataFrame =
    GlobalRank.prefixSum(df, sort, value, out)

  def globalQuantileCont(df: DataFrame, value: Column,
      probs: Seq[Double]): DataFrame =
    GlobalRank.quantileCont(df, value, probs)

  /** Checkpoint-and-reset for ITERATIVE DataFrame loops: truncates
    * lineage like `localCheckpoint` AND drops the origin plan's inherited
    * statistics. Plain `localCheckpoint` preserves stats in its
    * LogicalRDD, so a loop whose round joins the previous checkpoint k
    * times compounds `sizeInBytes` ≈ S^k per round — an exact BigInt
    * that reaches ~k^rounds words and stalls the optimizer in BigInteger
    * multiplication (measured 0.6 s → 135 s per round by round 9 of BPE
    * training). Use this instead for any round-over-round loop that
    * references its previous state more than once. */
  def pinned(df: DataFrame, eager: Boolean = false): DataFrame =
    org.apache.spark.sql.graftbridge.DatasetBridge.pinned(df, eager)

  def dot(a: Column, b: Column): Column = VectorOps.dot(a, b)
  def cosine(a: Column, b: Column): Column = VectorOps.cosine(a, b)
  def l2Normalize(a: Column): Column = VectorOps.l2Normalize(a)
  def parseTaxontag(c: Column): Column = TaxonomyParser.parseTag(c)

  /** Wrap a builder with an arity check: a wrong argument count must
    * surface as a descriptive resolution-time error, not a raw
    * IndexOutOfBoundsException from `es(1)`. */
  private def arity(name: String, n: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length != n) throw new IllegalArgumentException(
        s"$name expects exactly $n argument(s), got ${es.length}")
      f(es)
    }

  /** THE expression-backed SQL function surface — one list feeding BOTH
    * [[register]] (temp functions on a live session) and
    * [[GraftExtensions]] (session builtins for SQL-only deployments), so
    * the two can never drift. Entries: (name, implementing class for
    * ExpressionInfo, arity-checked builder). */
  private[graft] val sqlFunctionBuilders
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProductFP64].getName,
      arity("graft_dot", 2)(es => DotProductFP64(es(0), es(1)))),
    ("graft_dot_int", classOf[graft.functions.DotProductInt].getName,
      arity("graft_dot_int", 2)(es =>
        graft.functions.DotProductInt(es(0), es(1)))),
    ("graft_l2sq_int", classOf[graft.functions.L2DistInt].getName,
      arity("graft_l2sq_int", 2)(es =>
        graft.functions.L2DistInt(es(0), es(1)))),
    ("graft_sorted_jaccard", classOf[SortedLongJaccard].getName,
      arity("graft_sorted_jaccard", 2)(es => SortedLongJaccard(es(0), es(1)))),
    ("graft_hll_sketch", classOf[HllSketchAgg].getName,
      arity("graft_hll_sketch", 1)(es =>
        HllSketchAgg(es.head).toAggregateExpression())),
    ("graft_hll_merge", classOf[HllMergeAgg].getName,
      arity("graft_hll_merge", 1)(es =>
        HllMergeAgg(es.head).toAggregateExpression())),
    ("graft_hll_estimate", classOf[HllEstimate].getName,
      arity("graft_hll_estimate", 1)(es => HllEstimate(es.head))),
    ("graft_cms_sketch", classOf[CmsSketchAgg].getName,
      arity("graft_cms_sketch", 1)(es =>
        CmsSketchAgg(es.head).toAggregateExpression())),
    ("graft_cms_merge", classOf[CmsMergeAgg].getName,
      arity("graft_cms_merge", 1)(es =>
        CmsMergeAgg(es.head).toAggregateExpression())),
    ("graft_cms_estimate", classOf[CmsEstimate].getName,
      arity("graft_cms_estimate", 2)(es => CmsEstimate(es(0), es(1)))),
    ("graft_kmv_sketch", classOf[KmvSketchAgg].getName,
      // 1 or 2 args; optional 2nd: literal k (accuracy knob, error ~
      // 1/sqrt(k-2)), validated at function-resolution time with a
      // descriptive error — a NULL, non-foldable, or non-integral k
      // must not surface as a bare NPE/ClassCastException from eval()
      (es: Seq[Expression]) => {
        if (es.isEmpty || es.length > 2) throw new IllegalArgumentException(
          s"graft_kmv_sketch expects 1 or 2 arguments, got ${es.length}")
        val k = if (es.length > 1) {
          val e = es(1)
          def bad(what: String) = throw new IllegalArgumentException(
            s"graft_kmv_sketch: k must be a literal integer " +
              s"(e.g. graft_kmv_sketch(h, 256)); got $what: ${e.sql}")
          if (!e.foldable) bad("a non-literal expression")
          val raw: Long = e.eval() match {
            case null => bad("NULL")
            case i: java.lang.Integer => i.longValue
            case l: java.lang.Long => l.longValue
            case s: java.lang.Short => s.longValue
            case b: java.lang.Byte => b.longValue
            case other => bad(s"a ${other.getClass.getSimpleName} value")
          }
          // range-check BEFORE narrowing: a Long like 5e9 must not wrap
          // into a bogus positive int, and k ≤ 2 has no defined error
          // bound (error ~ 1/sqrt(k − 2))
          if (raw < 3L || raw > Int.MaxValue.toLong)
            bad(s"an out-of-range value (need 3 <= k <= ${Int.MaxValue}, " +
              s"error ~ 1/sqrt(k - 2))")
          raw.toInt
        } else Kmv.K
        KmvSketchAgg(es.head, k).toAggregateExpression()
      }),
    ("graft_kmv_merge", classOf[KmvMergeAgg].getName,
      arity("graft_kmv_merge", 1)(es =>
        KmvMergeAgg(es.head).toAggregateExpression())),
    ("graft_kmv_estimate", classOf[KmvEstimate].getName,
      arity("graft_kmv_estimate", 1)(es => KmvEstimate(es.head))),
    ("graft_zorder64", classOf[ZOrder64].getName,
      arity("graft_zorder64", 2)(es => ZOrder64(es(0), es(1)))),
    ("graft_hilbert64", classOf[Hilbert64].getName,
      arity("graft_hilbert64", 2)(es => Hilbert64(es(0), es(1)))),
    ("graft_fp16_pack", classOf[PackFP16].getName,
      arity("graft_fp16_pack", 1)(es => PackFP16(es.head))),
    ("graft_fp16_unpack", classOf[UnpackFP16].getName,
      arity("graft_fp16_unpack", 1)(es => UnpackFP16(es.head))),
    ("graft_l2_normalize", classOf[L2NormalizeFP32].getName,
      arity("graft_l2_normalize", 1)(es => L2NormalizeFP32(es.head))))

  /** Register the engine's SQL functions on an existing session: every
    * expression-backed builder from [[sqlFunctionBuilders]] plus the
    * three Scala-UDF-backed functions (taxontag parse, lang id, simhash)
    * that have no Expression form to inject. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctionBuilders.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark.udf.register("graft_parse_taxontag", TaxonomyParser.parseUdf)
    spark.udf.register("graft_lang_id", LangId.detectUdf)
    spark.udf.register("graft_simhash", TextOps.simhashUdf)
  }
}

/** `SparkSessionExtensions` hook: every expression-backed function from
  * `Graft.sqlFunctionBuilders` becomes a session builtin, e.g.
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the SQL-only
  * deployment path (Thrift server) where `Graft.register` cannot run.
  * The three Scala-UDF functions (graft_parse_taxontag, graft_lang_id,
  * graft_simhash) exist only via `Graft.register`. It also plans the IVF
  * serving operator (`ProbeTopKStrategy`), which the search entry points
  * otherwise add to their session on first use. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Graft.sqlFunctionBuilders.foreach { case (name, cls, builder) =>
      e.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls, name), builder))
    }
    e.injectPlannerStrategy(_ => graft.operators.ProbeTopKStrategy)
  }
}

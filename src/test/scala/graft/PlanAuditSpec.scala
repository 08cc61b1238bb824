package graft

/** Physical-plan regression guard: the scale-relevant plan features
  * (docs/PLANS.md checklist) are asserted here so a refactor that silently
  * loses pushdown, broadcast, a group-limit, or top-k fails the suite —
  * not just the eyeball audit. */
class PlanAuditSpec extends SparkSpec {

  // FormattedMode: the simple plan string abbreviates long PushedFilters
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q30: range + selectivity predicates reach the parquet scan") {
    val p = plan("q30_filtered_revenue")
    assert(p.contains("PushedFilters:"), p.take(400))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p.take(1200))
    assert(p.contains("GreaterThan(l_discount,0.02)"), p.take(1200))
  }

  test("q02: dimension joins broadcast; scans are column-pruned") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    // lineitem scan reads only the join key + revenue columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"))
  }

  test("q03: global top-k is TakeOrderedAndProject, not a full sort") {
    assert(plan("q03_top_orders").contains("TakeOrderedAndProject"))
  }

  test("q09: rank filter becomes a WindowGroupLimit below the exchange") {
    val p = plan("q09_top_orders_per_customer")
    assert(p.contains("WindowGroupLimit"), p.take(600))
    // partial (Partial mode before the shuffle) AND final group limits
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("knn_bruteforce: query side broadcasts; group-limit applies") {
    val p = plan("knn_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(400))
    assert(p.contains("WindowGroupLimit"), p.take(600))
  }

  test("q01: partial+final hash aggregation around one exchange") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortAggregate"))
  }

  test("cosinePairsViaIndex: salted self-join is a hash join on (partition, sub-bucket)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = graft.operators.AnnIvf.build(emb, "vec_id", "embedding",
      nlist = 4, seed = 42L)
    val p = graft.operators.AnnIvf
      .cosinePairsViaIndex(index, "vec_id", "embedding", threshold = 0.35,
        targetRowsPerTask = 32)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
    // the pair join keys on BOTH partition_id and the spreading sub-bucket
    assert(p.contains("__sb"), p.take(2000))
  }

  test("ann_search_verbose: per-partition group-limit, no global sort") {
    val p = plan("ann_search_verbose")
    assert(p.contains("WindowGroupLimit"), p.take(600))
  }

  test("near-dup pair queries contain no cartesian/nested-loop join") {
    // the scale-killer audit: exact near-dup candidates must come from
    // prefix-filter / gemm-scan plans, never a materialized pair space
    Seq("dedup_jaccard_pairs", "dedup_jaccard_apply", "dedup_embedding_pairs",
        "dedup_simhash", "dedup_minhash_lsh").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a BroadcastNestedLoopJoin")
    }
  }

  test("text_pack_shards: running sum is partitioned by lang, no global sort") {
    // packing must parallelize across language groups — a Window without
    // partition keys would funnel the corpus through ONE task
    val p = plan("text_pack_shards")
    assert(p.contains("Window"), p.take(400))
    assert(p.contains("hashpartitioning(lang"), p.take(2000))
    assert(!p.contains("SinglePartition"), "global single-partition window")
  }

  test("dedup_components: assignment join has no cartesian; one parquet scan") {
    val p = plan("dedup_components")
    // the query derives entirely from the session-cached component map:
    // both the rows and the sizes aggregate read the persisted assignment
    // (InMemoryTableScan), the sizes table broadcasts back, and no second
    // minhash+contraction subtree appears
    assert(p.contains("InMemoryTableScan"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("sample_cap: per-source cap runs as a bounded window group limit") {
    val p = plan("sample_cap")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.take(800))
    assert(p.contains("hashpartitioning(source"), p.take(2000))
    assert(!p.contains("SinglePartition"), "cap collapsed to one task")
  }

  test("text_pctl: percent_rank window is partitioned by lang") {
    val p = plan("text_pctl")
    assert(p.contains("Window"), p.take(400))
    assert(p.contains("hashpartitioning(lang"), p.take(2000))
    assert(!p.contains("SinglePartition"), "trim collapsed to one task")
  }

  test("text_decontam: one hash join on the gram hash, no cartesian") {
    val p = plan("text_decontam")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
    // the contamination left-join keys on doc_id; the gram join keys on g
    assert(p.contains("Join"), p.take(400))
  }

  test("sample_temperature: rate table broadcasts back; corpus is not shuffled") {
    val p = plan("sample_temperature")
    // the per-stratum rates join the corpus as a broadcast hash join —
    // the scan side must not exchange before the join
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for a tiny rate table")
  }

  test("text_unigram_ppl / text_bigram_ppl: no cartesian, corpus N rides as broadcast") {
    for (q <- Seq("text_unigram_ppl", "text_bigram_ppl")) {
      val p = plan(q)
      // the 1-row total joins via BroadcastNestedLoopJoin (cross, 1 row) —
      // cheap by construction; the count joins must be hash joins
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(600))
    }
  }

  test("dedup_substring: fingerprint self-join is an equi-join with the cap applied first") {
    val p = plan("dedup_substring")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
    // cap aggregate (count per fp) appears below the pair join
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("banded dedup candidates: the bucket-size Filter sits below the collect_list aggregate") {
    // Dedup.bucketPairs sizes each bucket with a count window and drops
    // over-cap buckets BEFORE collecting members: a degenerate band key
    // must never become one task's in-memory member list
    for (q <- Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_substring",
        "multimodal_phash")) {
      val caps = BucketPairsSpec.capFilters(
        SparkEntry.queries(q)(spark, sf0001).queryExecution.sparkPlan)
      assert(caps.nonEmpty, s"$q has no collect_list aggregate")
      assert(caps.forall(_.isDefined), s"$q collects a bucket before its size filter")
    }
  }

  test("text_bm25: query-term postings join broadcasts; no cartesian") {
    val p = plan("text_bm25")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("ann_filtered_search: metadata predicate is a Filter condition, not post-processing") {
    val p = plan("ann_filtered_search")
    // the label predicate must appear in a Filter condition (pre-scoring
    // candidate filter — FilteredSearchSpec proves the semantics; this
    // pins that it stayed a plan-level filter rather than a UDF or a
    // post-top-k trim), below the fused ProbeTopK serving operator
    assert(p.contains("ProbeTopK"), p.take(600))
    assert("Condition.*label.* = 2".r.findFirstIn(p).isDefined ||
      p.contains("(label"), p.take(1200))
  }

  test("knn_mmr: rerank is one MapGroups over query_id, corpus not re-shuffled") {
    val p = plan("knn_mmr")
    assert(p.contains("MapGroups"), p.take(600))
    // exactly one exchange feeds the groupByKey (plus the final presentation
    // sort) — the rerank must not add corpus-sized shuffles
  }

  test("profile_cms_estimates: typed sketch aggregate is an ObjectHashAggregate; 1-row sketch broadcasts") {
    val p = plan("profile_cms_estimates")
    assert(p.contains("ObjectHashAggregate"), p.take(600))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("emb_rp: projection is scan-local — no shuffle before the generate") {
    val p = plan("emb_rp")
    // the only exchange is the final presentation sort; the fold + explode
    // run inside the scan stage (a shuffle here would mean the projection
    // stopped being a map)
    assert(p.contains("Generate"), p.take(600))
    // tree shape: Scan → Generate → Project → Exchange(sort) — exactly one
    // exchange in the tree, and the Generate's child is the parquet scan
    assert("\\+- Exchange".r.findAllIn(p).size === 1,
      "projection shuffled beyond the presentation sort\n" + p.take(1200))
    assert("Generate[\\s\\S]{0,200}Scan parquet".r.findFirstIn(p).isDefined,
      "generate is not scan-local\n" + p.take(1200))
  }

  test("profile_moments: one partial+final aggregate pair, 2-column scan") {
    val p = plan("profile_moments")
    assert(p.contains("HashAggregate"), p.take(400))
    // power sums combine map-side: one exchange for the groupBy plus the
    // presentation sort, nothing else (tree lines only — FormattedMode
    // repeats each node in the detail section)
    assert("\\+- Exchange".r.findAllIn(p).size === 2, p.take(1200))
    assert(p.contains("ReadSchema: struct<lang:string,n_chars:"), p.take(1600))
  }

  test("sample_mixture_apply: plan tables broadcast back; corpus shuffles only for the stratum window") {
    val p = plan("sample_mixture_apply")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("WindowGroupLimit") || p.contains("Window"), p.take(600))
  }

  test("text_len_hist: histogram aggregates map-side before one exchange") {
    val p = plan("text_len_hist")
    assert(p.contains("HashAggregate"), p.take(400))
  }

  test("knn_matryoshka: both stages group-limit; shortlist joins broadcast") {
    val p = plan("knn_matryoshka")
    assert(p.contains("WindowGroupLimit"), p.take(600))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(600))
    // stage-2 rescore joins the 50-row shortlist back to the corpus —
    // never a second cartesian over the full corpus
  }

  test("ann_pq_recall: ADC is a map-side LUT lookup — scored pairs never shuffle") {
    val p = plan("ann_pq_recall")
    // round-11 rewire: the per-(query, vector) ADC Σ runs inside the
    // broadcast-LUT project (array `aggregate` over the code array), so
    // the |Q|·|corpus| scored pairs reach the top-k group-limits map-local.
    // The old shape — a (sub, code) equi-join re-shuffled through a
    // (query_id, vec_id)-keyed sum(__d) hash agg — must not come back.
    assert(!p.contains("sum(__d"), "scored-pair shuffle agg is back:\n" +
      p.linesIterator.filter(_.contains("sum(__d")).mkString("\n"))
    assert(p.contains("WindowGroupLimit"), p.take(600))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("emb_pca: integer projection is a scan-local map — no joins, only the output sort shuffles") {
    val p = plan("emb_pca")
    // round-11 conversion: the model is driver-side (one treeAggregate
    // moment pass happens at build time, outside this plan); the projection
    // itself must stay a per-row expression over broadcast literals —
    // no join against a component table, no corpus re-shuffle beyond the
    // ORDER BY's range exchange.
    assert(!p.contains("Join"), p.take(600))
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1, p.take(600))
  }

  test("mview_incremental: state merge is partial+final hash agg, no sort agg") {
    val p = plan("mview_incremental")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(600))
    assert(!p.contains("SortAggregate"), p.take(600))
  }

  test("knn_hard_negatives: label anti-filter sits under the group-limit") {
    val p = plan("knn_hard_negatives")
    assert(p.contains("WindowGroupLimit"), p.take(600))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("multimodal_phash: banded pair generation has no cartesian join") {
    val p = plan("multimodal_phash")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q37_mad_outliers: percentile tables broadcast back to the scan") {
    val p = plan("q37_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("er_resolve: fuzzy blocking and resolution run with no cartesian join") {
    val p = plan("er_resolve")
    assert(p.contains("WindowGroupLimit") || p.contains("Window"), p.take(600))
  }

  test("mview_diff: full-outer snapshot compare has no cartesian; aggregates are hash") {
    val p = plan("mview_diff")
    assert(!p.contains("SortAggregate"), p.take(600))
  }

  test("q41_ohlc: endpoint window group-limits; extremes aggregate map-side") {
    val p = plan("q41_ohlc")
    assert(p.contains("Window"), p.take(600))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("hybrid_search: the unpartitioned rerank window only sees the limit(20) candidates") {
    val p = plan("hybrid_search")
    // the lexical candidate stage must be a bounded top-k (limit 20 on
    // lex_score) — THAT is what makes the partition-less rerank window
    // safe; if this trips, the rerank is funneling the corpus into one
    // window task
    assert(p.contains("Arguments: 20, [lex_score"), p.take(1200))
    // and the rnk <= 10 filter itself rewrites to a global top-10
    // TakeOrderedAndProject BELOW the Window, so the single-task window
    // ranks exactly 10 rows
    assert(p.contains("Arguments: 10, [sim"), p.take(1200))
    assert(p.contains("Window"), p.take(600))
  }

  test("text_chunk_stride: chunk generation is scan-local (no exchange before the sort)") {
    val p = plan("text_chunk_stride")
    // one Exchange for the presentation orderBy, nothing else (tree lines
    // only — FormattedMode repeats nodes in the detail section)
    assert("\\+- Exchange".r.findAllIn(p).size <= 1, p.take(1200))
    assert(p.contains("Generate"), p.take(800))
  }

  test("q44_anomaly: both window sums share ONE (event_type) sort, no cartesian") {
    val p = plan("q44_anomaly")
    // the row_number and the two trailing sums must ride a single
    // partitionBy(event_type) sort — a second Sort would mean the window
    // specs diverged and the events shuffle twice
    assert("\\+- Sort ".r.findAllIn(p).size <= 2, p.take(1200)) // window + presentation
    assert(p.contains("Window"), p.take(600))
  }

  test("q45_copurchase: pair join is a shuffled equi-join on the order key") {
    val p = plan("q45_copurchase")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    // per-part top-5 applies as a group limit, not a global sort
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("q43_transitions: probability window runs on the aggregated matrix") {
    val p = plan("q43_transitions")
    // lead() rides the per-user sort; the p window comes AFTER the
    // count aggregate, so its input is |types|^2 rows
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("graph_linkpred: wedge and anti joins are equi, never cartesian") {
    val p = plan("graph_linkpred")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    // the top-20 presentation is a bounded top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("profile_skew: stats broadcast; top-10 is a bounded top-k") {
    val p = plan("profile_skew")
    // the stats branch re-derives the per-key aggregate (identical
    // exchange subtree — runtime exchange reuse dedupes it); what must
    // hold: ≤2 tree scans, 1-row stats side broadcast, bounded top-k
    assert("[:+]- Scan parquet".r.findAllIn(p).size <= 2, p.take(1200))
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q47_autocorr: lag join runs on the hours series, facts aggregate first") {
    val p = plan("q47_autocorr")
    // both self-join sides re-derive the hourly aggregate (shared
    // exchange subtree, runtime-reused); the join itself must be equi on
    // the shifted index, never cartesian
    assert("[:+]- Scan parquet".r.findAllIn(p).size <= 2, p.take(1200))
  }

  test("q49_attribution: carry-forward window rides one per-user sort") {
    val p = plan("q49_attribution")
    assert(p.contains("Window"), p.take(600))
    // one window exchange (user_id) + one for the 3-row aggregate at most
    assert("\\+- Exchange".r.findAllIn(p).size <= 3, p.take(1200))
  }

  test("cluster_dbscan: nothing past the pair list is cartesian or nested-loop") {
    val p = plan("cluster_dbscan")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("text_pack_seq / sample_bootstrap: scan-local fan-out, one group shuffle") {
    val p1 = plan("text_pack_seq")
    assert(p1.contains("MapGroups"), p1.take(800)) // the sorted per-shard walk
    val p2 = plan("sample_bootstrap")
    assert(p2.contains("Generate"), p2.take(800)) // replicate explode is scan-local
    assert("\\+- Exchange".r.findAllIn(p2).size <= 2, p2.take(1200))
  }

  test("no single-partition WindowExec anywhere in the ex-global-window six") {
    // Round-8 verdict: these six funneled a whole entity table through ONE
    // window task. All now ride operators.GlobalRank (range-partitioned
    // rank + broadcast offsets) — assert the rewires stick. sparkPlan, not
    // executedPlan: under AQE the executed plan is an AdaptiveSparkPlanExec
    // LEAF whose inner tree collect() never visits (GlobalRankSpec's
    // negative control proves this collector sees windows).
    // q52_pareto left the list in r18: its ENTITY-sized ranking still
    // rides GlobalRank.ntile, but its total/cumulative shares are now
    // windows over the 10-row DECILE rollup (global-window sweep
    // allowlist carries the bound) — the windowed form replaced a
    // total-agg + prior-decile join that executed the rollup + ntile
    // pipeline three times.
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("eval_auc", "eval_calibration", "sample_curriculum",
        "q51_rfm", "profile_gini")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val bad = df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$q still has a single-partition window")
      assert(!df.queryExecution.sparkPlan.toString.contains("CartesianProduct"),
        s"$q went cartesian")
    }
  }

  test("profile_quantiles_dist: the bracket probe broadcasts the |probs|-row side, never the ranked table") {
    // quantileCont's OR-condition probe is a BroadcastNestedLoopJoin by
    // construction — safe ONLY while the build (broadcast) side is the
    // tiny brackets table. A future edit flipping the build side would
    // broadcast the whole ranked column: assert the invariant on the plan.
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("profile_quantiles_dist")(spark, sf0001)
    val bnljs = df.queryExecution.sparkPlan.collect {
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bnljs.nonEmpty, "bracket probe no longer a BNLJ — update this audit")
    val builds = bnljs.map { b =>
      (b.buildSide match {
        case BuildRight => b.right
        case BuildLeft => b.left
      }).output.map(_.name).toSet
    }
    // offsets' triangular join (__pb/__cb, ≤P rows) is the other legal
    // BNLJ; what must NEVER broadcast is the ranked value table
    builds.foreach { buildOut =>
      assert(!buildOut.contains("__v"),
        s"BNLJ broadcasts the ranked VALUE table: $buildOut")
    }
    assert(builds.exists(b => b.contains("prob") || b.exists(_.startsWith("__lo"))),
      s"no BNLJ broadcasts the brackets side: $builds")
  }

  test("ann_ivf_search (int twin): centers/probes broadcast; candidate join is hash; top-k group-limits") {
    val p = plan("ann_ivf_search")
    // the only nested-loop joins must be broadcasts of bounded sides
    // (nlist-row centers, |queries|×nprobe probe set, 1-row argmax) —
    // never a corpus×corpus pair space
    assert(p.contains("BroadcastExchange"), p.take(600))
    // per-query top-10 rides the group-limit rewrite, not a global sort
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("BPE training round: every window partitions by the word key; argmax is a bounded top-1") {
    // the shipped trainDistributed pins each round behind a checkpoint
    // (its plan is invisible in the final union) — audit the round SHAPE
    // through the unpinned impl at 2 rounds
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val df = graft.functions.Bpe.trainDistributedImpl(docs, "text", 2,
      pin = false)
    val plan = df.queryExecution.sparkPlan
    val bad = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(bad.isEmpty, "BPE round has a single-partition window")
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "unpinned impl shows no windows — audit is vacuous")
    // per-round argmax is TakeOrdered(1), never a full global sort
    assert(plan.toString.contains("TakeOrderedAndProject"),
      plan.toString.take(800))
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("global-window sweep: every empty-partition-spec WindowExec in EVERY declared query is limit-bounded or allowlisted") {
    // The scale-killer class the round-8/9 rewires removed: a Window with
    // no partition spec funnels its whole input through ONE task. This
    // sweep makes that un-reintroducible — each global window in any
    // query plan must either (a) sit above a Limit/TakeOrderedAndProject
    // (the rank-filter rewrite: the window ranks a bounded candidate
    // set), or (b) belong to a query allowlisted HERE with the domain
    // bound that keeps its window input small at any corpus size.
    val allow: Map[String, String] = Map(
      "profile_psi" -> "running PSI over a FIXED 16-bin grid (nBins = 16)",
      "q40_cumulative_users" -> ("running sum over a day-grain series — " +
        "rows bounded by calendar span, not event volume"),
      "q47_autocorr" -> ("row_number over an hour-grain series — rows " +
        "bounded by calendar span, not event volume"),
      "text_len_hist" -> ("running share over the n_tokens div 16 bucket " +
        "axis — rows bounded by max document length, not corpus size"),
      "q52_pareto" -> ("total + running share over the DECILE axis — " +
        "exactly 10 rows by ntile construction; the window form replaced " +
        "a total-agg + prior-decile join that executed the per-customer " +
        "rollup + ntile pipeline three times (r18)"))
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sf0001).queryExecution.sparkPlan
      if (!allow.contains(name) && WindowAudit.unboundedGlobal(plan).nonEmpty)
        offenders += name
    }
    assert(offenders.isEmpty,
      s"entity-sized single-task global windows (add a bound or a justified " +
        s"allowlist entry): ${offenders.distinct.sorted}")
    // the allowlist must not rot: every entry still has a global window
    for ((name, why) <- allow) {
      val wins = WindowAudit.globalWindows(
        SparkEntry.queries(name)(spark, sf0001).queryExecution.sparkPlan)
      assert(wins.nonEmpty, s"$name allowlisted ($why) but has no global window — remove it")
    }
  }

  test("global-window sweep negative control: the detector fires on an unbounded global window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val g = Window.orderBy("l_orderkey")
    val bad = li.withColumn("rn", row_number().over(g))
      .queryExecution.sparkPlan
    assert(WindowAudit.unboundedGlobal(bad).nonEmpty,
      "window detector missed a corpus-sized empty-partition window")
    val good = li.orderBy("l_orderkey").limit(20)
      .withColumn("rn", row_number().over(g)).queryExecution.sparkPlan
    assert(WindowAudit.globalWindows(good).nonEmpty &&
      WindowAudit.unboundedGlobal(good).isEmpty,
      "window detector flagged a limit-bounded rank window")
    // a limit on the SMALL side of a join must not vouch: the window
    // input is the corpus-sized join output (the soundness rule
    // JoinAudit.bounded enforces for BNLJ builds, shared here)
    val dim = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey").limit(5)
    val joined = li.join(broadcast(dim),
        li("l_orderkey") === dim("o_orderkey"))
      .withColumn("rn", row_number().over(g)).queryExecution.sparkPlan
    assert(WindowAudit.unboundedGlobal(joined).nonEmpty,
      "window detector let a limit below a join vouch for the join's " +
        "corpus-sized output")
    // and a join with BOTH sides bounded is fine
    val both = li.limit(10).join(broadcast(dim),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("rn", row_number().over(g)).queryExecution.sparkPlan
    assert(WindowAudit.unboundedGlobal(both).isEmpty,
      "window detector flagged a join of two limit-bounded sides")
  }

  test("knn_join_all (int): merge is the k-bounded aggregator, not a rank window") {
    val p = plan("knn_join_all")
    // TopKAggregator partial+final — no per-query rank window sorts the
    // corpus-sized candidate stream (the nested loops in this plan are
    // all nlist-row centers broadcasts inside the index build/probe —
    // the join sweep's modelTbl entry covers them)
    // (probeRanks' own WindowGroupLimit over the nlist-rows-per-query
    // probe is fine — the candidate MERGE is what must stay windowless)
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(p.contains("partial_(vec_id"), p.take(800))
  }

  test("join sweep: no CartesianProduct in ANY declared query; every BroadcastNestedLoopJoin build side is bounded or allowlisted") {
    // The other scale-killer class, closed CI-wide like the window sweep
    // above: a CartesianProduct materializes |L|·|R| rows (never
    // acceptable — an allowlist entry would need extraordinary
    // justification), and a BroadcastNestedLoopJoin is only safe when its
    // BROADCAST side is provably small — structurally (under a limit /
    // take-ordered / global aggregate) or by a domain bound recorded
    // here. This retires the per-query hand-placed cartesian asserts:
    // any future unbounded cross join in any declared query fails CI.
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
      LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
      CartesianProductExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    // Domain-bound reasons (each entry self-checks below — a rotted
    // entry whose BNLJ disappeared fails the suite):
    val modelTbl = "broadcast side is a checkpointed model table (IVF " +
      "centers / PQ codebook / LUT / probe set: nlist, m*ksub, or " +
      "|queries|*nprobe rows) — the checkpoint erases the structural " +
      "limit bound that built it"
    val idxStats = "broadcast side is the durable BM25 index's 1-row " +
      "corpus-stats table (a FileScan, so no structural bound)"
    val allow: Map[String, String] = Map(
      "ann_ivf_search" -> modelTbl,
      "ann_nprobe_sweep" -> modelTbl,
      "ann_pq_recall" -> modelTbl,
      "ann_recall_at_10" -> modelTbl,
      "ann_search_verbose" -> modelTbl,
      "knn_join_all" -> modelTbl,
      "text_bm25_indexed" -> idxStats,
      "text_bm25_prf" -> idxStats,
      "hybrid_rrf" -> idxStats,
      "profile_chi2" -> ("broadcast side is the per-source marginal of " +
        "the lang x source contingency table — bounded by the source " +
        "dimension's cardinality, not corpus size"))
    // bounded build shapes, structurally: a limit; a global (no-key)
    // aggregate (1 row); an aggregate whose every key is either one of
    // GlobalRank's internal bracket/bucket ids (`__grp*` — their domain
    // is |probs|/ntile-sized by construction, the quantileCont/rfm probe
    // side) or an integer column CLAMPED between two literals in its
    // defining Project (greatest(lo, least(hi, …)) — ntile's output
    // shape, domain <= hi-lo+1; this is what retired the q52_pareto
    // allowlist entry); a literal Range spine (calendar axes); a
    // point/range filter on a fixture KEY column vs literals (the
    // serving query-batch idiom, detected below)
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sf0001).queryExecution.sparkPlan
      if (JoinAudit.hasCartesian(plan))
        offenders += s"$name: CartesianProduct"
      if (!allow.contains(name) && JoinAudit.unboundedBnljBuilds(plan).nonEmpty)
        offenders += s"$name: unbounded BNLJ build"
    }
    assert(offenders.isEmpty,
      s"unbounded join shapes (bound the build side or add a justified " +
        s"allowlist entry): ${offenders.distinct.sorted}")
    // the allowlist must not rot: every entry still has a BNLJ
    for ((name, why) <- allow) {
      val has = JoinAudit.hasBnlj(
        SparkEntry.queries(name)(spark, sf0001).queryExecution.sparkPlan)
      assert(has, s"$name allowlisted ($why) but has no BNLJ — remove it")
    }
  }

  test("join sweep negative control: the detectors fire on deliberately bad joins") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    // (a) forced CartesianProduct (auto-broadcast off so neither side
    // broadcasts) must trip the cartesian rule
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val cart = li.as("a").crossJoin(li.as("b")).queryExecution.sparkPlan
      assert(JoinAudit.hasCartesian(cart),
        "cartesian detector missed a forced CartesianProduct")
    } finally spark.conf.set(key, saved)
    // (b) a BNLJ whose broadcast build is a bare corpus scan (no limit,
    // no bounding filter) must trip the unbounded-build rule
    val badBnlj = li.as("a").crossJoin(broadcast(li.as("b")))
      .queryExecution.sparkPlan
    assert(JoinAudit.hasBnlj(badBnlj) &&
      JoinAudit.unboundedBnljBuilds(badBnlj).nonEmpty,
      "BNLJ detector missed an unbounded corpus-scan build side")
    // (c) the same join with a limit-bounded build is clean
    val goodBnlj = li.as("a").crossJoin(broadcast(li.limit(5).as("b")))
      .queryExecution.sparkPlan
    assert(JoinAudit.hasBnlj(goodBnlj) &&
      JoinAudit.unboundedBnljBuilds(goodBnlj).isEmpty,
      "BNLJ detector flagged a limit-bounded build side")
    // (d) ... and a key-point-filtered build (the serving query-batch
    // idiom) is clean too
    val keyed = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang")
    val batchBnlj = keyed.as("a")
      .crossJoin(broadcast(keyed.filter(col("doc_id") < 100).as("b")))
      .queryExecution.sparkPlan
    assert(JoinAudit.hasBnlj(batchBnlj) &&
      JoinAudit.unboundedBnljBuilds(batchBnlj).isEmpty,
      "BNLJ detector flagged a key-point-filtered query batch")
    // (e) a VALUE-LEVEL NO-OP clamp (greatest(MinValue, least(MaxValue,
    // key))) must NOT vouch: hi-lo wraps negative on raw Longs, so a
    // naive width check would bless a 2^64-domain aggregate key
    val noopClamp = li.as("a").crossJoin(broadcast(
        li.groupBy(greatest(lit(Long.MinValue),
            least(lit(Long.MaxValue), col("l_orderkey"))).as("k"))
          .agg(sum("l_quantity")).as("b")))
      .queryExecution.sparkPlan
    assert(JoinAudit.hasBnlj(noopClamp) &&
      JoinAudit.unboundedBnljBuilds(noopClamp).nonEmpty,
      "BNLJ detector let a no-op Long clamp vouch for an unbounded " +
        "aggregate-key domain")
    // (f) key domains multiply: TWO individually-clamped 400-wide keys
    // are a 160k-group build — each key passes alone, the PRODUCT must
    // not (the r12 per-key rule would have blessed this)
    def clamp400(c: org.apache.spark.sql.Column) =
      greatest(lit(1L), least(lit(400L), c))
    val oneKey = li.as("a").crossJoin(broadcast(
        li.groupBy(clamp400(col("l_orderkey")).as("k1"))
          .agg(sum("l_quantity")).as("b")))
      .queryExecution.sparkPlan
    assert(JoinAudit.unboundedBnljBuilds(oneKey).isEmpty,
      "BNLJ detector flagged a single 400-wide clamped key")
    val twoKeys = li.as("a").crossJoin(broadcast(
        li.groupBy(clamp400(col("l_orderkey")).as("k1"),
            clamp400(col("l_quantity").cast("long") * 7).as("k2"))
          .agg(sum("l_quantity")).as("b")))
      .queryExecution.sparkPlan
    assert(JoinAudit.unboundedBnljBuilds(twoKeys).nonEmpty,
      "BNLJ detector let two individually-clamped keys vouch for a " +
        "product-of-domains build over the broadcast budget")
    // (g) mixed __grp* + clamped keys multiply too: the __grp* family
    // contributes one partition-count factor (4096), so 4096·400 is
    // over budget even though each key looks harmless alone
    val mixed = li.as("a").crossJoin(broadcast(
        li.select(col("l_quantity"),
            org.apache.spark.sql.functions.spark_partition_id()
              .cast("long").as("__grpx"),
            clamp400(col("l_orderkey")).as("k1"))
          .groupBy("__grpx", "k1").agg(sum("l_quantity")).as("b")))
      .queryExecution.sparkPlan
    assert(JoinAudit.unboundedBnljBuilds(mixed).nonEmpty,
      "BNLJ detector let __grp* absorb a clamped co-key instead of " +
        "multiplying the partition-count factor")
  }

  test("scan-pruning sweep: every FileSourceScan in EVERY declared query prunes wide-table columns and pushes eligible literal filters") {
    // The third CI-wide anti-pattern sweep (after global windows and
    // joins), closing the last SURVEY §4 checklist class: an unpruned
    // scan. Two mechanical rules over every FileSourceScanExec in every
    // declared query's plan:
    //   (a) COLUMN PRUNING — reading EVERY column of a wide fixture
    //       table (>= 5 file columns: lineitem 11, events 6, orders 6,
    //       part 6, customer 5, documents 5) means projection pruning
    //       was lost, unless the query genuinely consumes the full row
    //       (allowlisted here with the reason).
    //   (b) FILTER PUSHDOWN — when a scan carries a post-scan dataFilter
    //       that is a plain literal comparison/IN on a scalar column
    //       (exactly the shape parquet can evaluate against row-group
    //       stats), the scan must report non-empty PushedFilters; an
    //       empty list means the predicate stopped at the JVM filter and
    //       every row group gets read at 100 TB.
    val allowFull: Map[String, String] = Map.empty
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    val fullSeen = scala.collection.mutable.Set[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sf0001).queryExecution.sparkPlan
      val (full, issues) = ScanAudit.audit(plan)
      if (full) fullSeen += name
      if (full && !allowFull.contains(name))
        offenders += s"$name: ${ScanAudit.fullWidthDetail(plan)}"
      offenders ++= issues.map(i => s"$name: $i")
    }
    assert(offenders.isEmpty,
      s"unpruned/unpushed scans (prune the projection, push the filter, " +
        s"or add a justified allowlist entry): ${offenders.distinct.sorted}")
    // the allowlist must not rot: every entry still has a full-width scan
    for ((name, why) <- allowFull)
      assert(fullSeen.contains(name),
        s"$name allowlisted ($why) but no longer full-width scans a wide table — remove it")
  }

  test("scan-pruning sweep negative control: the detectors fire on deliberately bad plans") {
    // A trivially-green sweep could mean a rotted detector (wrong
    // metadata key, partition columns inflating the file schema, …), so
    // both rules are proven against plans built to violate them.
    import org.apache.spark.sql.functions._
    // (a) full-width scan of an 11-column table must trip the width rule
    val unpruned = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .queryExecution.sparkPlan
    assert(ScanAudit.audit(unpruned)._1,
      "width detector missed a deliberately full-width lineitem scan")
    // the same scan projected to 2 columns must NOT trip it
    val pruned = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity").queryExecution.sparkPlan
    assert(!ScanAudit.audit(pruned)._1,
      "width detector fired on a pruned 2-column scan")
    // (b) a cast ON THE COLUMN blocks filter translation — string→int is
    // a shape UnwrapCastInBinaryComparison cannot rescue, so the cast
    // survives to the scan's dataFilters and the detector must flag it
    val castBlocked = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .filter(col("l_returnflag").cast("int") > 0).select("l_orderkey")
      .queryExecution.sparkPlan
    val castIssues = ScanAudit.audit(castBlocked)._2
    assert(castIssues.exists(_.contains("cast over")),
      s"cast detector missed a string->int cast comparison: $castIssues")
    // (c) a properly pushed literal predicate is clean — and its column
    // appears in PushedFilters, proving the metadata-containment check
    // (a renamed metadata key would flag every query, failing closed)
    val pushed = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .filter(col("l_quantity") > 10.0).select("l_orderkey")
      .queryExecution.sparkPlan
    assert(ScanAudit.audit(pushed)._2.isEmpty,
      "pushdown detector fired on a properly pushed literal predicate")
  }

  test("redundant-shuffle sweep: no declared query shuffles into a shuffle") {
    // Fourth CI-wide anti-pattern sweep: a ShuffleExchange whose input
    // (through only row-local project/filter/sort) is another
    // ShuffleExchange throws the inner shuffle's entire effect away —
    // its only product IS a partitioning, and the outer shuffle
    // immediately replaces it. EnsureRequirements never produces this
    // shape on its own; it appears when a hand-placed repartition()
    // fights the partitioning Catalyst already arranged, or when an
    // alias change breaks partitioning propagation and someone patches
    // it downstream. Zero instances today; this keeps it that way.
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sf0001).queryExecution.sparkPlan
      val wasted = ExchangeAudit.wastedShuffles(plan)
      if (wasted.nonEmpty)
        offenders += s"$name: ${wasted.size} shuffle(s) feeding a shuffle"
    }
    assert(offenders.isEmpty,
      s"wasted back-to-back shuffles (drop the inner repartition or " +
        s"let Catalyst place the exchange): ${offenders.distinct.sorted}")
  }

  test("redundant-shuffle sweep negative control: the detector fires on repartition-into-repartition") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    // repartition by one key, project, repartition by another: the
    // first shuffle is pure waste
    val bad = li.repartition(col("l_orderkey"))
      .select(col("l_partkey"), col("l_quantity"))
      .repartition(col("l_partkey"))
      .queryExecution.sparkPlan
    assert(ExchangeAudit.wastedShuffles(bad).nonEmpty,
      "detector missed repartition-into-repartition")
    // a shuffle CONSUMED by an aggregate below the next shuffle is fine
    val good = li.repartition(col("l_orderkey"))
      .groupBy("l_orderkey").agg(sum("l_quantity").as("s"))
      .repartition(col("s"))
      .queryExecution.sparkPlan
    assert(ExchangeAudit.wastedShuffles(good).isEmpty,
      "detector flagged a shuffle consumed by an aggregate")
  }

  test("scan-count sweep: no declared query file-scans one source path more than once at runtime") {
    // Fifth CI-wide anti-pattern sweep — the class round 16 found twice BY
    // HAND (rangeJoin read its right table 3×, the BM25 index build
    // tokenized the corpus 3×): Spark reuses EXCHANGES, not scans, so a
    // plan containing N FileSourceScans of one path pays N× that path's
    // IO unless the duplicate subtrees are exchange-identical (runtime
    // exchange reuse then executes the subtree once — the detector
    // collapses those before counting). Invisible at sf0.1; at 100 TB a
    // duplicate scan of the dominant side multiplies the job's total IO.
    // N>1 of one path requires an allowlist entry with the reason.
    //
    // What this sweep already fixed (r17): bm25 (3 corpus scans +
    // tokenizes + shuffles → 1, with shuffle bytes DOWN 40% —
    // Retrieval.scala), pmiPairs (3 → 2, shuffle flat), text_len_hist
    // (2 → 1, shuffle flat). Two further collapses (unigram/bigram
    // cross-entropy) were built, measured, and REVERTED because the
    // bench fingerprint showed them trading map-local re-tokenizes for
    // NEW corpus-sized exchanges — the sweep prices candidates, the
    // shuffle channel decides. The collapse recipe —
    // derive every secondary table from the shared post-shuffle frame,
    // keep the frame's value columns REFERENCED in every branch (a
    // count-only branch gets rewritten to a keys-only distinct whose
    // exchange no longer canonically matches), and make null filters
    // explicit so join-inferred isnotnull subsets don't split the
    // branches — is documented at Retrieval.bm25.
    //
    // Reason classes for what remains (each entry names its class):
    val twoRoles = "self-join shape: the table appears in two JOIN " +
      "ROLES (pair sides, cohort x activity, truth x predicted, stage-1 " +
      "prefix x stage-2 rescore fetch) — two pruned scans ARE the " +
      "minimal shuffle-engine plan for a self-join; collapsing needs a " +
      "materialization a pure declared plan cannot hold"
    val branchAgg = "model-estimate + apply: branches aggregate the " +
      "same pruned scan on DIFFERENT keys and rejoin; each branch's " +
      "re-derivation is map-local over 1-2 columns of a columnar file, " +
      "and the single-scan alternative adds a corpus-sized exchange (or " +
      "a persist) that costs more than re-reading the pruned columns. " +
      "Candidates for the bm25-style collapse where the branch keys " +
      "nest, ranked: text_dsir, the jaccard dedup family, dedup_fuzzy"
    val disjoint = "the scans read DISJOINT pushed-filter row subsets " +
      "(incremental state/delta simulation, modulo partitions, event-" +
      "type slices) — combined IO ~ one pass over the file"
    val tinyDim = "the multi-scanned table is a bounded dimension " +
      "(nation, 25 rows); the corpus-sized sides scan once"
    val allow: Map[String, String] = Map(
      // dedup/ER candidate pipelines: signature model + pair-side roles
      // + verify re-fetch by id join (re-reading two pruned columns
      // beats carrying shingle/token arrays through the LSH exchanges)
      "dedup_exact" -> branchAgg,
      "dedup_simhash" -> twoRoles,
      "dedup_snm" -> twoRoles,
      "dedup_minhash_lsh" -> twoRoles,
      "dedup_jaccard_pairs" -> twoRoles,
      "dedup_jaccard_apply" -> twoRoles,
      "dedup_chunks" -> (disjoint + "; plus the shifted-copy corpus " +
        "construction unions the full table with a %5 slice"),
      "dedup_fuzzy" -> twoRoles,
      "er_resolve" -> twoRoles,
      "eval_blocking" -> twoRoles,
      "eval_dedup_recall" -> twoRoles,
      "eval_classifier" -> branchAgg,
      "eval_retrieval_metrics" -> twoRoles,
      "hybrid_search" -> (twoRoles + " (lexical scoring + snippet " +
        "fetch + fusion read different column subsets)"),
      "knn_matryoshka" -> twoRoles,
      // mview twins simulate state/delta/compare slices of one fixture
      "mview_diff" -> disjoint,
      "mview_incremental" -> disjoint,
      "mview_join_incremental" -> disjoint,
      "q35_upsert_latest" -> disjoint,
      "q23_asof_join" -> disjoint,
      "q24_range_join" -> twoRoles,
      "q13_nations_in_both" -> tinyDim,
      "q14_nations_customers_only" -> tinyDim,
      "q37_mad_outliers" -> branchAgg,
      "q38_retention" -> twoRoles,
      "q39_gapfill" -> branchAgg,
      "q40_cumulative_users" -> branchAgg,
      "q41_ohlc" -> branchAgg,
      "q45_copurchase" -> twoRoles,
      "q53_ltv" -> branchAgg,
      "q55_assoc_rules" -> branchAgg,
      "sample_mixture_apply" -> branchAgg,
      "sample_temperature" -> branchAgg,
      "profile_approx_kmv" -> (branchAgg + " (two different profiled " +
        "columns share one table)"),
      "profile_chi2" -> branchAgg,
      "profile_cms_estimates" -> branchAgg,
      "profile_dq" -> (branchAgg + " (each DQ metric is an independent " +
        "branch over its table)"),
      "profile_psi" -> branchAgg,
      "profile_sources" -> branchAgg,
      "text_bigram_ppl" -> (branchAgg + " — the one-scan collapse was " +
        "BUILT, MEASURED, and REVERTED: it shipped the whole bigram " +
        "stream through a new exchange (shuffle_mb 0.05 -> 4.93 at " +
        "sf0.1); see the priced note at TextScoring.bigramCrossEntropy"),
      "text_unigram_ppl" -> (branchAgg + " — same priced revert " +
        "(shuffle_mb 0.03 -> 1.18); note at " +
        "TextScoring.unigramCrossEntropy"),
      "text_pmi" -> ("its two distinct streams (token counts, " +
        "adjacent-pair counts), each paid once after the r17 collapse"),
      "text_bpe_apply" -> branchAgg,
      "text_dsir" -> (branchAgg + " — already reduced 5 -> 3 (r17: " +
        "both side totals derive from the bucket histograms, whose " +
        "numBuckets-sized exchanges already existed); the remaining " +
        "three are the raw histogram, the raw apply branch (collapsing " +
        "it would introduce a corpus-sized (id,b) exchange — the " +
        "priced-out trade), and the target slice"),
      "text_entropy" -> branchAgg,
      "text_oov" -> branchAgg,
      "text_tfidf_top_terms" -> branchAgg)
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    val flagged = scala.collection.mutable.Set[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sf0001).queryExecution.executedPlan
      val multi = ScanCountAudit.multiScans(plan)
      if (multi.nonEmpty) {
        flagged += name
        if (!allow.contains(name))
          offenders += s"$name: ${multi.map { case (p, n) =>
            s"${p.split('/').last} x$n" }.mkString(", ")}"
      }
    }
    assert(offenders.isEmpty,
      s"multi-scanned source paths (restructure to one scan + explode/" +
        s"reuse, or add a justified allowlist entry): " +
        s"${offenders.distinct.sorted}")
    // the allowlist must not rot: every entry still multi-scans
    for ((name, why) <- allow)
      assert(flagged.contains(name),
        s"$name allowlisted ($why) but no longer multi-scans — remove it")
  }

  test("scan-count sweep negative control: the detector fires on real duplicate scans and stays quiet on exchange-reused subtrees") {
    import org.apache.spark.sql.functions._
    val path = s"$sf0001/lineitem.parquet"
    def li = spark.read.parquet(path).select("l_orderkey", "l_quantity")
    // (a) union of two DIFFERENT filters over the same file: two real
    // scans of one path — must flag
    val bad = li.filter(col("l_quantity") > 10)
      .unionByName(li.filter(col("l_quantity") <= 5))
      .queryExecution.executedPlan
    assert(ScanCountAudit.multiScans(bad).nonEmpty,
      "detector missed a genuine double scan (union of two filters)")
    // (b) a re-derived IDENTICAL aggregate subtree (the profile_skew
    // shape): both branches exchange-canonically equal — runtime reuse
    // executes the scan once, so the detector must NOT flag
    def agg = li.groupBy("l_orderkey").agg(sum("l_quantity").as("s"))
    val reused = agg.join(broadcast(agg.agg(avg("s").as("m"))))
      .queryExecution.executedPlan
    assert(ScanCountAudit.multiScans(reused).isEmpty,
      "detector flagged an exchange-reused re-derived subtree")
    // (c) one scan is clean
    assert(ScanCountAudit.multiScans(li.queryExecution.executedPlan).isEmpty)
    // (d) a self-join of two different aggregates of one file (shifted
    // keys — NOT exchange-identical) is two real scans — must flag
    val shifted = agg.as("a").join(
        li.groupBy((col("l_orderkey") + 1).as("k"))
          .agg(sum("l_quantity").as("s2")).as("b"),
        col("a.l_orderkey") === col("b.k"))
      .queryExecution.executedPlan
    assert(ScanCountAudit.multiScans(shifted).nonEmpty,
      "detector missed a double scan behind two DIFFERENT aggregates")
    // (e) the serving-batch idiom: a second scan bounded by a key
    // point/range pushdown (doc_id < 100 on the unique fixture key)
    // reads <= k rows, not a second corpus pass — must NOT count
    val keyed = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang")
    val served = keyed
      .unionByName(keyed.filter(col("doc_id") < 100))
      .queryExecution.executedPlan
    assert(ScanCountAudit.multiScans(served).isEmpty,
      "detector counted a key-bounded query-batch scan as a corpus pass")
    // ... while a NON-key literal filter proves nothing about
    // cardinality and still counts
    val unkeyed = keyed
      .unionByName(keyed.filter(col("lang") === "en"))
      .queryExecution.executedPlan
    assert(ScanCountAudit.multiScans(unkeyed).nonEmpty,
      "detector let a non-key value filter vouch for a bounded scan")
  }

  test("mview_join_incremental: delta joins are equi; state merge is hash agg") {
    val p = plan("mview_join_incremental")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.contains("HashAggregate"), p.take(600))
    assert(!p.contains("SortAggregate"), p.take(600))
  }
}

/** Shared detectors for the join sweep and its negative control: one
  * implementation, so a rotted rule fails the control test instead of
  * silently passing the sweep. */
private object JoinAudit {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
  import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec,
    FilterExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec,
    ProjectExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec}
  import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
    ObjectHashAggregateExec, SortAggregateExec}
  import org.apache.spark.sql.execution.joins.{BaseJoinExec,
    BroadcastNestedLoopJoinExec, CartesianProductExec}
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

  def hasCartesian(plan: SparkPlan): Boolean =
    plan.collectFirst { case c: CartesianProductExec => c }.nonEmpty

  def hasBnlj(plan: SparkPlan): Boolean =
    plan.collectFirst { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty

  def unboundedBnljBuilds(plan: SparkPlan): Seq[BroadcastNestedLoopJoinExec] =
    plan.collect { case b: BroadcastNestedLoopJoinExec => b }.filterNot { b =>
      bounded(b.buildSide match {
        case BuildLeft => b.left
        case BuildRight => b.right
      })
    }

  private def litLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case _ => Long.MaxValue
  }

  /** greatest(lo, least(hi, …)) / least(hi, greatest(lo, …)) over an
    * integral expression: returns the domain WIDTH hi-lo+1 when the
    * shape matches (ntile's output shape — what retired the q52_pareto
    * allowlist entry), None otherwise. */
  private def clampWidth(e: Expression): Option[BigInt] = {
    def strip(x: Expression): Expression = x match {
      case c: Cast => strip(c.child)
      case a: Alias => strip(a.child)
      case _ => x
    }
    def integral(x: Expression): Boolean = x.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def lits(es: Seq[Expression]): Seq[Long] =
      es.collect { case Literal(v, _) => litLong(v) }
    strip(e) match {
      case g: Greatest if g.children.size == 2 && integral(g) =>
        val lo = lits(g.children)
        val inner = g.children.collect { case l: Least => l }
        if (lo.size == 1 && inner.size == 1) {
          val hi = lits(inner.head.children)
          // BigInt width: hi-lo on raw Longs wraps for a no-op clamp
          // like greatest(MinValue, least(MaxValue, x)) and would
          // vouch for a 2^64 domain
          if (inner.head.children.size == 2 && hi.size == 1 &&
              hi.head >= lo.head)
            Some(BigInt(hi.head) - BigInt(lo.head) + 1)
          else None
        } else None
      case l: Least if l.children.size == 2 && integral(l) =>
        val hi = lits(l.children)
        val inner = l.children.collect { case g: Greatest => g }
        if (hi.size == 1 && inner.size == 1) {
          val lo = lits(inner.head.children)
          if (inner.head.children.size == 2 && lo.size == 1 &&
              hi.head >= lo.head)
            Some(BigInt(hi.head) - BigInt(lo.head) + 1)
          else None
        } else None
      case _ => None
    }
  }

  /** The build-side group count a keyed aggregate can produce is the
    * PRODUCT of its key domains, so the keys are vouched jointly, not
    * one by one (two individually-clamped 400-wide keys are a 160k-group
    * build — over the broadcast budget). GlobalRank's internal `__grp*`
    * keys are all derived from one spark_partition_id() (any number of
    * them is jointly ≤ the stage's partition count), so together they
    * contribute a single partition-count factor; every other key must
    * trace through child Projects (by exprId) to a literal-clamped
    * integer and contributes its clamp width. */
  private val GrpPartitionFactor = BigInt(4096) // >= any sane stage width
  private def keysBounded(keys: Seq[NamedExpression], child: SparkPlan)
      : Boolean = {
    def defOf(id: ExprId): Option[Expression] =
      child.collect { case p: ProjectExec => p.projectList }
        .flatten.collectFirst { case a: Alias if a.exprId == id => a.child }
    val (grp, rest) = keys.partition(_.name.startsWith("__grp"))
    val widths = rest.map {
      case a: Alias => clampWidth(a.child)
      case r: AttributeReference => defOf(r.exprId).flatMap(clampWidth)
      case _ => None
    }
    widths.forall(_.isDefined) && {
      val grpFactor = if (grp.nonEmpty) GrpPartitionFactor else BigInt(1)
      // <= : a single key of width exactly 100000 was blessed by the
      // retired per-key rule (hi-lo < 100000 ⇔ width <= 100000); the
      // product rule must not silently flip that boundary
      widths.flatten.foldLeft(grpFactor)(_ * _) <= BigInt(100000)
    }
  }

  // Point/range-on-key detector — replaces the former 15 per-query
  // "serving query batch" allowlist entries with the convention itself:
  // the fixture key columns below are UNIQUE (TESTDATA contract), so
  //   key =  literal        -> <= 1 row
  //   key IN (literals...)  -> <= |literals| rows
  //   key <  literal L      -> <= L rows (ids are dense from 0; the
  //                            literal is additionally capped so a
  //                            future `vec_id < 10^12` can't sneak by)
  // Any OTHER column filtered against a literal proves nothing about
  // cardinality and does NOT count.
  private val keyCols = Set("vec_id", "doc_id", "query_id")
  private def isKey(e: Expression): Boolean = e match {
    case a: AttributeReference => keyCols.contains(a.name)
    case c: Cast => isKey(c.child)
    case _ => false
  }

  // Boolean-context-aware: a bounding comparison only counts where it
  // actually CONSTRAINS the row set — And needs one bounding conjunct,
  // Or needs BOTH branches to bound, anything else (Not, nested
  // functions) proves nothing. A blind `exists` would accept
  // `other > 0 OR vec_id < 5`, which filters almost nothing.
  def keyPointFilter(cond: Expression): Boolean = cond match {
    case And(l, r) => keyPointFilter(l) || keyPointFilter(r)
    case Or(l, r) => keyPointFilter(l) && keyPointFilter(r)
    case EqualTo(a, _: Literal) if isKey(a) => true
    case EqualTo(_: Literal, a) if isKey(a) => true
    case In(a, vs) if isKey(a) &&
      vs.forall(_.isInstanceOf[Literal]) && vs.size <= 100000 => true
    case InSet(a, vs) if isKey(a) && vs.size <= 100000 => true
    case LessThan(a, Literal(v, _)) if isKey(a) && litLong(v) <= 100000 => true
    case LessThanOrEqual(a, Literal(v, _)) if isKey(a) && litLong(v) <= 100000 => true
    case GreaterThan(Literal(v, _), a) if isKey(a) && litLong(v) <= 100000 => true
    case GreaterThanOrEqual(Literal(v, _), a) if isKey(a) && litLong(v) <= 100000 => true
    case _ => false
  }

  // Structural recursion, NOT collectFirst: a bound below a join must
  // not vouch for the join's output (corpus JOIN limit(5) is
  // corpus-sized), so joins require BOTH inputs bounded (then the
  // output is ≤ |L|·|R|, still model-sized for the shapes here), unions
  // require all inputs bounded, and only genuinely row-limiting unary
  // nodes terminate the walk.
  def bounded(side: SparkPlan): Boolean = side match {
    case _: LocalLimitExec | _: GlobalLimitExec |
        _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
    case a: HashAggregateExec
      if keysBounded(a.groupingExpressions, a.child) => true
    case a: ObjectHashAggregateExec
      if keysBounded(a.groupingExpressions, a.child) => true
    case a: SortAggregateExec
      if keysBounded(a.groupingExpressions, a.child) => true
    case r: RangeExec => r.numElements <= BigInt(1000000)
    case f: FilterExec => keyPointFilter(f.condition) || bounded(f.child)
    case s: FileSourceScanExec => s.dataFilters.exists(keyPointFilter)
    // driver-materialized literal table (collected IVF centers etc.):
    // its rows already exist on the driver, so the row count is a
    // DIRECT bound, checked right here — and for IVF centers it is
    // additionally an API contract (AnnIvf.requireServeableNlist caps
    // every build/read/merge entry point at ServeNlistCap)
    case l: LocalTableScanExec => l.rows.size <= 100000
    case j: BaseJoinExec => bounded(j.left) && bounded(j.right)
    case u: UnionExec => u.children.forall(bounded)
    case p if p.children.size == 1 => bounded(p.children.head)
    case _ => false
  }
}

/** Shared detectors for the global-window sweep and its negative control:
  * one implementation, so a rotted rule fails the control test instead of
  * silently passing the sweep. */
private object WindowAudit {
  import org.apache.spark.sql.execution.window.WindowExec
  import org.apache.spark.sql.execution.SparkPlan

  def globalWindows(plan: SparkPlan): Seq[WindowExec] =
    plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }

  /** Empty-partition-spec windows whose input is NOT limit-bounded —
    * the single-task scale-killer class. Uses [[JoinAudit.bounded]]'s
    * structural recursion, NOT a blind collect: a limit on the small
    * side of a join below the window must not vouch for the join's
    * corpus-sized output (the same soundness rule the join sweep's
    * BNLJ-build check enforces). */
  def unboundedGlobal(plan: SparkPlan): Seq[WindowExec] =
    globalWindows(plan).filterNot(w => JoinAudit.bounded(w.child))
}

/** Shared detector for the redundant-shuffle sweep and its negative
  * control: a ShuffleExchange whose input — through only row-local,
  * partitioning-irrelevant nodes (project / filter / sort) — is another
  * ShuffleExchange discards the inner shuffle's entire effect (its only
  * product IS a partitioning, and the outer shuffle immediately
  * destroys it). At 100 TB that is a full wasted pass over the data.
  * Any node that CONSUMES the inner partitioning (aggregate, join,
  * window, generate) breaks the adjacency and is not flagged. */
private object ExchangeAudit {
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec,
    SparkPlan}

  def wastedShuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    plan.collect {
      case e: ShuffleExchangeExec if discardsChildShuffle(e.child) => e
    }

  private def discardsChildShuffle(p: SparkPlan): Boolean = p match {
    case _: ShuffleExchangeExec => true
    case _: ProjectExec | _: FilterExec | _: SortExec =>
      discardsChildShuffle(p.children.head)
    case _ => false
  }
}

/** Shared detector for the scan-count sweep and its negative control:
  * counts FileSourceScans per distinct source ROOT PATH, after collapsing
  * subtrees that runtime reuse executes only once — an Exchange (shuffle
  * or broadcast) or a subquery whose CANONICALIZED form already appeared
  * becomes a ReusedExchange/ReusedSubquery at execution, so its scan runs
  * once no matter how often the subtree prints. Everything left is a real
  * extra pass over the path's bytes: Spark reuses exchanges, not scans. */
private object ScanCountAudit {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

  /** Root paths file-scanned more than once at runtime → their count.
    * Takes the EXECUTED plan: exchanges only exist after
    * prepareForExecution (the bare sparkPlan the other sweeps use has
    * none), and under AQE that is an AdaptiveSparkPlanExec leaf whose
    * `initialPlan` (inputPlan + EnsureRequirements, BEFORE runtime reuse)
    * is the tree to count over — AQE's runtime stage reuse keys on the
    * exchange's canonicalized form, which is exactly the collapse the
    * walk applies. */
  def multiScans(plan: SparkPlan): Map[String, Int] = {
    val seenExchanges = scala.collection.mutable.Set[SparkPlan]()
    val seenSubqueries = scala.collection.mutable.Set[SparkPlan]()
    val counts = scala.collection.mutable.Map[String, Int]()
    def walk(p: SparkPlan): Unit = {
      p.subqueries.foreach { sq =>
        if (seenSubqueries.add(sq.canonicalized)) walk(sq)
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case _: ReusedExchangeExec => () // already counted at the original
        case e: Exchange =>
          if (seenExchanges.add(e.canonicalized)) e.children.foreach(walk)
        case s: FileSourceScanExec =>
          // the serving-query-batch idiom, DETECTED like the join
          // sweep's BNLJ build rule: a scan bounded by a point/range
          // pushdown on a unique fixture key reads <= k rows, not a
          // second pass over the corpus — it does not count
          if (!s.dataFilters.exists(JoinAudit.keyPointFilter))
            // one scan node reading k root paths is ONE pass over each
            s.relation.location.rootPaths.map(_.toString).distinct.foreach {
              rp => counts(rp) = counts.getOrElse(rp, 0) + 1
            }
        case other => other.children.foreach(walk)
      }
    }
    walk(plan)
    counts.filter(_._2 > 1).toMap
  }
}

/** Shared detectors for the scan-pruning sweep and its negative control:
  * one implementation, so a rotted rule fails the control test instead of
  * silently passing the sweep. */
private object ScanAudit {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types._

  /** Wide-table threshold: lineitem 11, events 6, orders 6, part 6,
    * customer 5, documents 5 file columns. */
  private val WideCols = 5

  private def scalarType(t: DataType): Boolean = t match {
    case _: NumericType | StringType | BooleanType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** A Cast over the column blocks parquet pushdown, so only a bare
    * scalar attribute counts as "should have pushed". */
  private def atomicAttr(e: Expression): Boolean = e match {
    case a: AttributeReference => scalarType(a.dataType)
    case _ => false
  }

  /** The scalar column a literal comparison/IN constrains, when the
    * column is BARE (exactly the shape parquet evaluates against
    * row-group stats). */
  private def pushableCol(e: Expression): Option[String] = {
    def n(x: Expression): Option[String] = x match {
      case a: AttributeReference if scalarType(a.dataType) => Some(a.name)
      case _ => None
    }
    e match {
      case EqualTo(a, _: Literal) => n(a)
      case EqualTo(_: Literal, a) => n(a)
      case LessThan(a, _: Literal) => n(a)
      case LessThan(_: Literal, a) => n(a)
      case LessThanOrEqual(a, _: Literal) => n(a)
      case LessThanOrEqual(_: Literal, a) => n(a)
      case GreaterThan(a, _: Literal) => n(a)
      case GreaterThan(_: Literal, a) => n(a)
      case GreaterThanOrEqual(a, _: Literal) => n(a)
      case GreaterThanOrEqual(_: Literal, a) => n(a)
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) => n(a)
      case _ => None
    }
  }

  /** The rot class type coercion creates: Cmp(Cast(col), literal) — the
    * CAST sits on the column, so translateFilter fails and the predicate
    * never reaches the reader (and Catalyst's UnwrapCastInBinaryComparison
    * only rescues the numeric-widening cases). Fix is aligning the
    * literal's type, not allowlisting. */
  private def castBlockedCol(e: Expression): Option[String] = {
    def n(x: Expression): Option[String] = x match {
      case c: Cast => c.child match {
        case a: AttributeReference if scalarType(a.dataType) => Some(a.name)
        case _ => None
      }
      case _ => None
    }
    e match {
      case EqualTo(a, _: Literal) => n(a)
      case EqualTo(_: Literal, a) => n(a)
      case LessThan(a, _: Literal) => n(a)
      case LessThan(_: Literal, a) => n(a)
      case LessThanOrEqual(a, _: Literal) => n(a)
      case LessThanOrEqual(_: Literal, a) => n(a)
      case GreaterThan(a, _: Literal) => n(a)
      case GreaterThan(_: Literal, a) => n(a)
      case GreaterThanOrEqual(a, _: Literal) => n(a)
      case GreaterThanOrEqual(_: Literal, a) => n(a)
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) => n(a)
      case _ => None
    }
  }

  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    plan.collect { case s: FileSourceScanExec => s }

  private def tableOf(s: FileSourceScanExec): String =
    s.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")

  private def fullWidth(s: FileSourceScanExec): Boolean = {
    val fileCols = s.relation.dataSchema.fieldNames.toSet
    fileCols.size >= WideCols && s.requiredSchema.fieldNames.toSet == fileCols
  }

  /** (has a full-width wide scan, pushdown issues). Missing metadata key
    * fails CLOSED: every translatable conjunct flags. */
  def audit(plan: SparkPlan): (Boolean, Seq[String]) = {
    val ss = scans(plan)
    val issues = ss.flatMap { s =>
      val pushed = s.metadata.getOrElse("PushedFilters", "")
      s.dataFilters.flatMap { f =>
        pushableCol(f) match {
          case Some(c)
            if !(pushed.contains(s"($c,") || pushed.contains(s"($c)")) =>
            Some(s"literal predicate on ${tableOf(s)}.$c translated but " +
              s"absent from PushedFilters ($f)")
          case _ => castBlockedCol(f).map(c =>
            s"cast over ${tableOf(s)}.$c blocks parquet pushdown — align " +
              s"the literal's type ($f)")
        }
      }
    }
    (ss.exists(fullWidth), issues)
  }

  def fullWidthDetail(plan: SparkPlan): String =
    scans(plan).filter(fullWidth).map(s =>
      s"unpruned full-width scan of ${tableOf(s)} " +
        s"(${s.relation.dataSchema.fieldNames.length} cols)").mkString("; ")
}

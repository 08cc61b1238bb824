package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.{LangId, TaxonomyParser, TextOps}
import graft.operators.Dedup

/** Text-analysis + dedup surface over `documents` (SURVEY.md north-star
  * operators: token counting, quality scoring, fingerprinting, language id,
  * exact/near dedup) and the taxonomy parser (F1) behavior contract.
  *
  * The `documents` table has no exact duplicates, so the exact-dedup and
  * simhash queries build a deterministic duplicated corpus in-query
  * (UNION ALL with id-shifted copies) — the same construction is in the
  * oracle SQL. Near-dup Jaccard uses the real corpus (it contains natural
  * near-duplicate pairs) with a modulo block on the left side to bound the
  * pair space; the MinHash-LSH and SimHash queries are the approximate
  * scale paths (candidate generation, exact verify), checked rows-only.
  */
object TextQueries {

  private val stopwords = Seq("the", "a")

  /** Target language shares for the mixture queries — 'de' (70 docs at
    * sf0.01) is the binding stratum, exercising the ⌊n/t⌋ min path. */
  private val mixtureTargets = Map(
    "en" -> 0.4, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.1)

  /** Shared DuckDB CTE chain replaying [[Sampling.mixturePlan]] over the
    * documents table: targeted strata (literal shares), per-stratum
    * counts, cap = ⌊n/t⌋, N = min cap, take = ⌊t·N⌋. */
  private lazy val mixturePlanCte: String = {
    val vals = mixtureTargets.toSeq.sortBy(_._1)
      .map { case (l, t) => s"('$l', CAST($t AS DOUBLE))" }.mkString(", ")
    s"""t(lang, target_share) AS (VALUES $vals),
       c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       p AS (SELECT t.lang, COALESCE(c.n_docs, 0) AS n_docs, target_share,
               FLOOR(COALESCE(c.n_docs, 0) / target_share) AS cap
             FROM t LEFT JOIN c USING (lang)),
       n AS (SELECT MIN(cap) AS nn FROM p),
       plan AS (SELECT lang, n_docs, target_share,
                  CAST(FLOOR(target_share * nn) AS BIGINT) AS take_docs
                FROM p CROSS JOIN n)"""
  }

  /** Corpus-statistics CTEs shared by every BM25 oracle (doc 0 is the
    * query, the rest the corpus). */
  private val bm25CorpusCtes: String =
    """t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
              FROM documents WHERE doc_id <> 0),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
        dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term)"""

  /** One BM25 scoring pass against the term CTE `qName` — identical
    * formula text everywhere it is replayed. */
  private def bm25ScoreCtes(qName: String, sName: String, aggName: String): String =
    s"""$sName AS (SELECT tf.doc_id,
                ROUND(LN((stats.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
                  * (tf.tf * (1.2 + 1.0))
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)),
                  6) AS ts
              FROM tf JOIN $qName USING (term) JOIN dfc USING (term)
                JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        $aggName AS (SELECT doc_id, ${sqlDsum("ts")} AS bm25
                FROM $sName GROUP BY doc_id)"""

  /** The BM25-per-doc CTE chain (doc 0's terms vs the rest of the
    * corpus), ending in `agg(doc_id, bm25)` — shared by the `text_bm25`
    * oracles here and `hybrid_rrf`'s lexical leg in VectorQueries. */
  private[queries] lazy val bm25AggCte: String =
    s"""q AS (SELECT DISTINCT UNNEST(STRING_SPLIT(text, ' ')) AS term
              FROM documents WHERE doc_id = 0),
        $bm25CorpusCtes,
        ${bm25ScoreCtes("q", "s", "agg")}"""

  /** PRF replay: first pass → top-10 docs → top-5 new terms by Σtf →
    * expanded second pass. */
  private lazy val bm25PrfOracleSql: String =
    s"""WITH $bm25AggCte,
        top10 AS (SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
              AS rn FROM agg) WHERE rn <= 10),
        fb AS (SELECT tf.term FROM tf JOIN top10 USING (doc_id)
               WHERE tf.term NOT IN (SELECT term FROM q)
               GROUP BY tf.term
               ORDER BY SUM(tf.tf) DESC, tf.term LIMIT 5),
        q1 AS (SELECT term FROM q UNION SELECT term FROM fb),
        ${bm25ScoreCtes("q1", "s1", "agg1")}
        SELECT doc_id, bm25, CAST(rn AS INTEGER) AS rnk FROM (
          SELECT doc_id, bm25,
            ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rn FROM agg1)
        WHERE rn <= 10 ORDER BY rnk"""

  /** Okapi BM25 of doc 0's terms vs the rest of the corpus, replayed from
    * scratch — shared by `text_bm25` (inline corpus path) and
    * `text_bm25_indexed` (durable postings path), which rank
    * bit-identically by construction. */
  private lazy val bm25OracleSql: String =
    s"""WITH $bm25AggCte
        SELECT doc_id, bm25, CAST(rn AS INTEGER) AS rnk FROM (
          SELECT doc_id, bm25,
            ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rn FROM agg)
        WHERE rn <= 10 ORDER BY rnk"""

  /** Exact Jaccard ≥ 0.5 ground-truth pair set (PPJoin pass), computed
    * once per (session, sfDir) and served to both dedup-eval queries
    * (`eval_dedup_recall`, `eval_blocking`) — truth is one artifact, not
    * a per-metric recomputation. Persisted MEMORY_AND_DISK like
    * [[componentAssignment]] — localCheckpoint blocks are executor-local
    * and unrecoverable after an executor loss, which would poison every
    * later consumer of the session-cached plan for the session's life. */
  private def jaccardTruth(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    sessionCached(s, ("jaccard-truth", dir)) {
      Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, threshold = 0.5)
        .select("left_id", "right_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** minhash near-dup pairs → connected components → (doc_id,
    * component_id) for EVERY doc (singletons map to themselves). Shared
    * by `dedup_components` (assignment + sizes) and
    * `dedup_components_apply` (keep canonical docs only) — and computed
    * ONCE per (session, sfDir): a pipeline materializes the component map
    * and derives both views from it, so re-running the minhash + iterative
    * contraction per consumer would double-charge the expensive stage
    * (same build-once rationale as the ANN index registry). The
    * assignment is persisted MEMORY_AND_DISK; it is deterministic, so
    * correctness is unaffected whichever query materializes it first. */
  private def componentAssignment(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    sessionCached(s, ("component-map", dir)) {
        val docs = table(s, dir, "documents")
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
        val cc = graft.operators.Components
          .connectedComponentsAuto(pairs, "left_id", "right_id")
        docs.select(col("doc_id").cast("long").as("doc_id"))
          .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }

  /** Train↔eval 5-gram contamination counts, computed ONCE per
    * (session, sfDir) and shared by `text_decontam` (audit) and
    * `text_decontam_apply` (removal) — the corpus-wide gram-hash explode
    * + equi-join is the expensive stage of both, the same build-once
    * shape as [[componentAssignment]]. */
  private def decontamCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    sessionCached(s, ("decontam-counts", dir)) {
      val docs = table(s, dir, "documents")
      val isEval = col("doc_id") % 10 === 7
      Dedup.contaminationCounts(
          docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", n = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Perceptual-hash signatures of the shared PNG fixture corpus
    * (originals < 200 plus perturbed copies of every 5th), computed ONCE
    * per (session, sfDir) and persisted: `multimodal_phash` and
    * `dedup_phash_apply` both pair-join over it, and the apply query
    * references it twice in one plan (under the component contraction
    * AND in the final projection) — without the persist every image
    * would be PNG-encoded + decoded + hashed once per reference. */
  private def phashSig(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    sessionCached(s, ("phash-sig", dir)) {
      import graft.operators.Multimodal
      val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
      val media = Multimodal.withPngPayload(docs, "doc_id")
        .unionByName(Multimodal.withPngPayloadPerturbed(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", idOffset = 10000L))
      media.select(col("media_id"),
          Multimodal.dHashUdf(col("payload")).as("phash"))
        // repartition(1), NOT coalesce: coalesce is narrow and would
        // fold the 64-wide PNG decode above into one task; the exchange
        // keeps the decode wide and lands the 240-row signature fixture
        // in ONE cached block — without it the spread decode's
        // 64-partition layout taxed every post-cache read with a
        // 64-task contention stage (r19 bench: phash query cpu 0.2 → 6 s
        // for identical output, all fixed per-task cost)
        .repartition(1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The durable BM25 index for `dir`'s corpus (doc 0 excluded — it is
    * the standing query), built ONCE per (session, sfDir) into a temp
    * dir that is deleted on JVM exit: the three serving-path queries
    * (`text_bm25_prf`/`_indexed`/`_profile`) must read the SAME index
    * (they share one oracle and one cache key), so the build lives here
    * rather than copy-pasted per query where the copies could
    * desynchronize while the session cache keeps serving whichever was
    * built first. The temp path is DRIVER-LOCAL — right for the local
    * bench/verify harness these fixture queries run in; a cluster
    * deployment passes a shared-FS path to `Retrieval.writeIndex`
    * directly. */
  private[queries] def bm25IndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    sessionCached(s, ("bm25-index", dir)) {
      val p = java.nio.file.Files.createTempDirectory("graft-bm25-idx")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.jdk.CollectionConverters._
        try java.nio.file.Files.walk(p).sorted(
            java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        catch { case _: Throwable => () }
      }))
      graft.operators.Retrieval.writeIndex(
        table(s, dir, "documents").filter(col("doc_id") =!= 0),
        "doc_id", "text", p.toString)
      p.toString
    }

  /** Doc 0's distinct terms as driver literals — the serving-call query
    * shape shared by the three BM25 index queries. */
  private[queries] def bm25QueryTerms(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] =
    sessionCached(s, ("bm25-qterms", dir)) {
      table(s, dir, "documents").filter(col("doc_id") === 0)
        .select(explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
        .distinct().collect().map(_.getString(0)).toSeq
    }

  val queries: Map[String, Query] = Map(
    // Token counting (whitespace tokenizer).
    "text_token_stats" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          col("n_chars"))
        .orderBy("doc_id")
    },

    // Quality scoring: stopword ratio + mean token length.
    "text_quality" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          round(TextOps.stopwordRatio(col("text"), stopwords), 6).as("stop_ratio"),
          round(TextOps.avgTokenLength(col("text")), 6).as("avg_token_len"))
        .orderBy("doc_id")
    },

    // Distribution-drift monitor (population stability index): the
    // ML-ops check between a reference snapshot and the current slice —
    // here the even/odd doc_id halves over 16 fixed 40-char length bins.
    // Laplace-smoothed shares keep empty bins finite; per-bin PSI terms
    // floor-quantize (engine-identical on identical doubles) and the
    // running total rides a window over the tiny bin table.
    "profile_psi" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val nBins = 16
      val d = table(s, dir, "documents").select(
        least(col("n_chars"), lit(639L)).divide(lit(40)).cast("int").as("bin"),
        (col("doc_id") % 2 === 0).as("isRef"))
      val counts = d.groupBy("bin").agg(
        sum(when(col("isRef"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("isRef"), 1L).otherwise(0L)).as("n_cur"))
      val grid = s.range(nBins).select(col("id").cast("int").as("bin"))
      val tot = d.agg(
        sum(when(col("isRef"), 1L).otherwise(0L)).as("__tr"),
        sum(when(!col("isRef"), 1L).otherwise(0L)).as("__tc"))
      val q6 = (c: org.apache.spark.sql.Column) => floor(c * 1e6) / 1e6
      val pRef = (col("n_ref") + lit(1)).cast("double") /
        (col("__tr") + lit(nBins)).cast("double")
      val pCur = (col("n_cur") + lit(1)).cast("double") /
        (col("__tc") + lit(nBins)).cast("double")
      grid.join(counts, Seq("bin"), "left")
        .na.fill(0L, Seq("n_ref", "n_cur"))
        .crossJoin(broadcast(tot))
        .withColumn("psi_term", q6((pCur - pRef) * log(pCur / pRef)))
        .withColumn("psi_total",
          q6(sum(col("psi_term")).over(
            Window.orderBy("bin")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
        .select("bin", "n_ref", "n_cur", "psi_term", "psi_total")
        .orderBy("bin")
    },

    // Dedup-quality eval: recall of the banded MinHash-LSH pipeline
    // against exact Jaccard ground truth (PPJoin prefix filtering — zero
    // false negatives — so "truth" needs no cartesian on the Spark side;
    // the oracle derives the same exact truth from an inverted-index
    // overlap count: J >= 0.5 implies a shared shingle, so the
    // shingle self-join's group count IS |a∩b| and J = c/(na+nb-c) —
    // no quadratic pair scan on either side). The measurement a pipeline
    // owner runs before trusting approximate dedup at corpus scale.
    "eval_dedup_recall" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val truth = jaccardTruth(s, dir)
      val emitted = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
      val matched = emitted.select("left_id", "right_id")
        .join(truth, Seq("left_id", "right_id"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(emitted.agg(count(lit(1)).as("n_emitted")))
        .crossJoin(matched.agg(count(lit(1)).as("n_matched")))
        .withColumn("recall",
          round(col("n_matched").cast("double") / col("n_truth"), 4))
    },

    // Blocking-quality eval: reduction ratio + pair completeness of the
    // SNM blocking scheme against exact Jaccard ground truth — the two
    // numbers (Christen 2012) that justify any blocking choice: how much
    // of the n² pair space it prunes, and how many true matches survive
    // the pruning. Candidates = the UNVERIFIED window-banded pair set
    // (the blocking stage alone, no similarity compute); truth = the
    // session-cached PPJoin exact pass.
    "eval_blocking" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val truth = jaccardTruth(s, dir)
      val cand = Dedup.sortedNeighborhoodCandidates(docs, "doc_id", "text",
          blockTokens = 3, window = 4)
        .select(least(col("__lid"), col("__rid")).as("left_id"),
          greatest(col("__lid"), col("__rid")).as("right_id"))
      val captured = truth.join(cand, Seq("left_id", "right_id"), "left_semi")
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(captured.agg(count(lit(1)).as("n_captured")))
        .withColumn("reduction_ratio",
          round(lit(1.0) - lit(2.0) * col("n_candidates") /
            (col("n_docs") * (col("n_docs") - 1)), 6))
        .withColumn("pair_completeness",
          round(col("n_captured").cast("double") / col("n_truth"), 4))
    },

    // Per-source attribution/governance profile: the report a dataset
    // card needs — doc counts, token mass, corpus share, language spread
    // per provenance source. One grouped pass + a 1-row broadcast total.
    "profile_sources" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("source"), col("lang"), TextOps.tokenCount(col("text")).as("__tk"))
      val grouped = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tk")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      // the 1-row total derives from the #sources-row grouped frame (sum
      // of per-source exact-integer sums ≡ corpus sum) — aggregating the
      // raw projection would tokenize the whole corpus a second time
      val tot = grouped.agg(sum(col("total_tokens")).as("__tot"))
      grouped
        .crossJoin(broadcast(tot))
        .withColumn("token_share",
          round(col("total_tokens").cast("double") / col("__tot"), 6))
        .drop("__tot")
        .orderBy("source")
    },

    // Chi-square independence audit of the lang × source contingency —
    // "is language mix independent of source?", the drift/bias check a
    // dataset card reports next to profile_sources' marginals. All
    // inputs are exact integer counts (products ≤ n² < 2⁵³), the
    // expected-count and term formulas are shared textually with the
    // oracle, and the statistic DECIMAL-sums the rounded terms — fully
    // hash-checked including the χ² total. Two tiny grouped passes +
    // broadcast marginals; the fact table is scanned once.
    "profile_chi2" -> { (s, dir) =>
      val d = table(s, dir, "documents")
      val cells = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy("lang").agg(sum(col("o")).as("rl"))
      val colT = cells.groupBy("source").agg(sum(col("o")).as("rs"))
      val n = d.agg(count(lit(1)).as("__n"))
      // DENSE grid: a (lang, source) combination with zero docs still
      // contributes (0−e)²/e = e — χ² over observed cells only would
      // silently understate dependence exactly where it's strongest
      val grid = rowT.crossJoin(colT)
        .join(cells, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(n))
        .withColumn("e",
          round((col("rl") * col("rs")).cast("double") / col("__n"), 6))
        .withColumn("term",
          round((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 6))
      // χ² total as a broadcast 1-row exact-decimal aggregate — same
      // value as the old partitionless-window sum, without its
      // single-task shape
      val tot = grid.agg(sum(dec(col("term"))).as("__chi"))
      grid
        .crossJoin(broadcast(tot))
        .withColumn("chi2", col("__chi").cast("double"))
        .select(col("lang"), col("source"), col("o"), col("e"),
          col("term"), col("chi2"))
        .orderBy("lang", "source")
    },

    // Decontamination APPLY form: the surviving training corpus after
    // dropping every doc sharing >= 2 distinct 5-grams with the eval
    // slice — the removal dual of text_decontam's audit counts.
    "text_decontam_apply" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val isEval = col("doc_id") % 10 === 7
      val counts = decontamCounts(s, dir)
      docs.filter(!isEval)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .join(counts.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .filter(coalesce(col("n_shared"), lit(0L)) < 2)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Multimodal dedup APPLY: perceptual-hash pairs → connected
    // components → keep each cluster's min-id image — the surviving
    // image corpus, closing the multimodal dedup story the way
    // dedup_components_apply closes text. Every stage replays in DuckDB:
    // the dHash from the ids (PNG lossless, integer pixels), the banded
    // join as the brute-force scan it provably equals, the closure as a
    // recursive CTE.
    "dedup_phash_apply" -> { (s, dir) =>
      import graft.operators.{Components, Dedup}
      val sig = phashSig(s, dir)
      val pairs = Dedup.hamming64Pairs(sig, "media_id", "phash",
        maxHamming = 6, numBands = 8)
      val cc = Components.connectedComponentsAuto(pairs, "left_id", "right_id")
      sig.select(col("media_id"))
        .join(cc.withColumnRenamed("id", "media_id"), Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("component"), col("media_id")).as("cluster_id"))
        .filter(col("media_id") === col("cluster_id"))
        .select("media_id")
        .orderBy("media_id")
    },

    // RAG-style document chunking: fixed 64-token windows at stride 48
    // (16-token overlap) — the retrieval-chunk prep between corpus and
    // embedding. Scan-local: chunk starts are a generated sequence over
    // the token array, each chunk reassembles its slice; no shuffle at
    // all until the caller's ordering. Chunk text is md5-fingerprinted so
    // the oracle pins exact reassembly, not just counts.
    "text_chunk_stride" -> { (s, dir) =>
      TextOps.chunkStride(table(s, dir, "documents"), "doc_id", "text",
          win = 64, stride = 48)
        .select(col("doc_id"), col("chunk_no"), col("n_tokens"),
          size(split(col("chunk_text"), " ")).as("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_no")
    },

    // Lexical diversity (type-token ratio): distinct/total whitespace
    // tokens per doc — the low-TTR tail is boilerplate/repetition, the
    // complement signal to text_repetition's raw-gram view.
    "text_ttr" -> { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          size(array_distinct(toks)).as("n_types"),
          size(toks).as("n_tokens"),
          round(size(array_distinct(toks)).cast("double") / size(toks), 6)
            .as("ttr"))
        .orderBy("doc_id")
    },

    // Model-based quality gate (the fasttext/DCLM-classifier stage with
    // the learned weights replaced by fixed ones — the ENGINE-side
    // contract is identical): a logistic score over the rounded quality
    // features, thresholded at 0.5. Feature rounding happens before the
    // logit on both sides, so the transcendental tail (exp/ln, rounded to
    // 6 dp) replays exactly.
    "text_quality_model" -> { (s, dir) =>
      val f = table(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        round(TextOps.stopwordRatio(col("text"), stopwords), 6).as("stop_ratio"),
        round(TextOps.avgTokenLength(col("text")), 6).as("avg_token_len"))
      val logit = lit(-2.0) + lit(6.0) * col("stop_ratio") -
        lit(0.3) * col("avg_token_len") +
        lit(0.5) * log(lit(1.0) + col("n_tokens"))
      f.withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-logit)), 6))
        .withColumn("keep", (col("score") >= 0.5).cast("int"))
        .select("doc_id", "score", "keep")
        .orderBy("doc_id")
    },

    // BPE-ish subword counting: greedy fixed-width chunking via regex —
    // the token-budget estimator of a training-data pipeline.
    "text_bpe_tokens" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).as("n_subwords"),
          TextOps.tokenCount(col("text")).as("n_words"))
        .orderBy("doc_id")
    },

    // LEARNED BPE merges, ORACLE-CHECKED (round 10): the distributed
    // trainer (Bpe.trainDistributed — vocab-state rounds of pair-count →
    // argmax → left-to-right non-overlapping merge, each round plain
    // relational algebra) emits the merge table itself, and the oracle
    // UNROLLS the same 12 rounds in SQL (the kcore discipline: what was
    // "iterative, not SQL-expressible" becomes a fixed-round CTE chain).
    // Tie-break (count desc, left desc, right desc) is Bpe.train's exact
    // maxBy order; BpeSpec pins trainDistributed ≡ train on a shared
    // corpus, and the greedy APPLY path stays spec-covered there
    // (lossless round-trip, compression) + exercised by text_bpe_tokens.
    "text_bpe_learned" -> { (s, dir) =>
      graft.functions.Bpe.trainDistributed(
          table(s, dir, "documents"), "text", numMerges = 12)
        .orderBy("merge_rank")
    },

    // Learned-BPE APPLY, distributed and ORACLE-CHECKED (round 11): the
    // 12 trained merges (build-once per session — the frozen-model
    // registry pattern of sharedIndex) are applied by the greedy
    // lowest-rank tokenizer over the DISTINCT-WORD vocabulary (the
    // production apply shape: broadcast model, vocab-sized work — not
    // corpus-sized), then per-doc subword counts come from one
    // word-frequency join. The oracle instead replays the relational
    // round-by-round apply (its final training state IS the applied
    // vocab), so the hash match ALSO re-proves greedy ≡ round-by-round
    // on the whole corpus vocabulary — the equivalence BpeSpec pins
    // per-word (Bpe.applyMergesDistributed is that relational form as a
    // reusable operator). This restores the apply-path evidence round 10
    // traded away when text_bpe_learned moved to train-evidence.
    "text_bpe_apply" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val merges = sessionCached(s, ("bpe-merges", dir)) {
        graft.functions.Bpe.trainDistributed(docs, "text", numMerges = 12)
          .orderBy("merge_rank")
          .collect().toSeq.map(r => (r.getString(1), r.getString(2)))
      }
      val model = graft.functions.Bpe.Model(merges)
      val wtok = docs
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "").distinct()
        .select(col("w"),
          size(graft.functions.Bpe.tokenizeUdf(model)(col("w")))
            .cast("long").as("n_sub"))
      val dwf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      val perDoc = dwf.join(wtok, Seq("w"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * col("n_sub")).as("n_subwords"))
      docs.select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_subwords"), lit(0L)).as("n_subwords"))
        .orderBy("doc_id")
    },

    // Winnowing rolling-hash sketch (document fingerprinting). The
    // poly-31 gram hash is SQL-reproducible, so the sketch cardinality
    // AND content (via its sum) are DuckDB-oracle-checked.
    "text_winnow_sketch" -> { (s, dir) =>
      table(s, dir, "documents")
        .withColumn("sk", TextOps.winnowUdf(5, 4)(col("text")))
        .select(col("doc_id"),
          size(col("sk")).as("sketch_size"),
          aggregate(col("sk"), lit(0L), (a, x) => a + x).as("sketch_sum"))
        .orderBy("doc_id")
    },

    // TF-IDF top terms per document: explode → tf per (doc, term) → df per
    // term → score → per-doc rank window. Exercises the generator (UDTF)
    // surface against DuckDB UNNEST. The corpus size N enters as a 1-row
    // broadcast crossJoin, not a driver-side count() — one Spark job.
    "text_tfidf_top_terms" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val n = docs.agg(count(lit(1)).cast("double").as("__n"))
      val terms = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = terms.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val scored = tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log(col("__n") / col("df")), 6))
      graft.operators.Knn.topKPerGroup(
          scored.filter(col("doc_id") < 50),
          Seq(col("doc_id")), 3, desc("score"), asc("term"))
        .select(col("doc_id"), col("term"), col("score"),
          col("rank").as("rnk"))
        .orderBy("doc_id", "rnk")
    },

    // TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): corpus
    // keywords by PageRank over the word co-occurrence graph — adjacent
    // token pairs become undirected edges, and the integer fixed-point
    // PageRank (LinkAnalysis, 5 rounds) ranks the vocabulary. The
    // unsupervised keyword stage of a curation pipeline (topic tags,
    // index terms) built by COMPOSITION: the tokenizer feeds the graph
    // operator, and the same unrolled-CTE replay that checks
    // graph_pagerank checks this end to end — graph construction
    // included.
    "text_textrank" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = table(s, dir, "documents")
        .select(TextOps.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
      // canonical u<v co-occurrence pairs, then both directions
      val pairs = tok
        .select(explode(expr(
          "transform(sequence(0, size(ts) - 2), " +
            "i -> struct(ts[i] AS a, ts[i + 1] AS b))")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .distinct()
      val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
      graft.operators.LinkAnalysis
        .pageRank(edges, "src", "dst", iterations = 5)
        .withColumn("rnk",
          row_number().over(Window.orderBy(desc("pr"), asc("node"))))
        .filter(col("rnk") <= 20)
        .select(col("node").as("word"), col("pr"), col("rnk"))
        .orderBy("rnk")
    },

    // Okapi BM25 retrieval: doc 0's terms against the rest of the corpus,
    // top-10 by the length-normalized saturating-tf score — the lexical
    // ranking production search runs (TF-IDF above is the classroom
    // variant; `hybrid_search` composes the dense rerank). Per-term scores
    // round to 6 dp then DECIMAL-sum, so ranking replays in DuckDB.
    "text_bm25" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val qTerms = docs.filter(col("doc_id") === 0)
        .select(explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
        .distinct()
      val scored = graft.operators.Retrieval.bm25(
        docs.filter(col("doc_id") =!= 0), "doc_id", "text", qTerms)
      scored
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("bm25"), asc("doc_id"))))
        .filter(col("rnk") <= 10)
        .select(col("doc_id"), col("bm25"), col("rnk"))
        .orderBy("rnk")
    },

    // RM3-lite pseudo-relevance feedback: BM25 pass → top-10 docs →
    // 5 heaviest new terms (Σtf, integer-exact choice) → expanded
    // rescore. Served from the session-cached durable inverted index
    // (shared with text_bm25_indexed/profile): both scoring passes are
    // postings-proportional, expansion mining tokenizes only the 10
    // feedback docs (point-lookup pushdown). Bit-identical to the
    // inline Retrieval.bm25Prf (RetrievalSpec), so the same oracle
    // replays both passes and the expansion choice.
    "text_bm25_prf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      graft.operators.Retrieval.bm25PrfIndexed(
          s, bm25IndexPath(s, dir), docs.filter(col("doc_id") =!= 0),
          "doc_id", "text", bm25QueryTerms(s, dir))
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("bm25"), asc("doc_id"))))
        .filter(col("rnk") <= 10)
        .select(col("doc_id"), col("bm25"), col("rnk"))
        .orderBy("rnk")
    },

    // The DURABLE serving path of the same ranking: build the inverted
    // index once per (session, sfDir) — postings/df/doclen/stats parquet,
    // postings range-sorted by term — then serve doc 0's terms as literal
    // strings so the postings scan carries a static In(term,...) pushdown.
    // Same top-10 and the SAME oracle as `text_bm25` (shared term-score
    // expression ⇒ bit-identical scores) — the index round-trip itself
    // sits under the driver's hash gate, like `AnnIvf.write/read` for
    // vectors.
    "text_bm25_indexed" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      graft.operators.Retrieval.searchIndex(
          s, bm25IndexPath(s, dir), "doc_id", bm25QueryTerms(s, dir))
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("bm25"), asc("doc_id"))))
        .filter(col("rnk") <= 10)
        .select(col("doc_id"), col("bm25"), col("rnk"))
        .orderBy("rnk")
    },

    // The STANDING-QUERY path of the same ranking: freeze doc 0's terms +
    // corpus stats into an O(|terms|) profile (loadProfile reads only the
    // query terms' df rows), then score every doc in ONE stateless
    // scan-local pass — the shape that applies unchanged to a streaming
    // ingest (no state, no shuffle). Third consumer of the text_bm25
    // oracle: UDF arithmetic ≡ join-path arithmetic ≡ DuckDB.
    "text_bm25_profile" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val prof = graft.operators.Retrieval.loadProfile(
        s, bm25IndexPath(s, dir), bm25QueryTerms(s, dir))
      // matched_terms > 0, NOT bm25 > 0: the join paths keep a matching
      // doc whose per-term-rounded scores sum to exactly 0.000000; only
      // the zero-shared-terms docs (which they never emit) must go
      graft.operators.Retrieval.scoreWithProfile(prof,
          table(s, dir, "documents").filter(col("doc_id") =!= 0),
          "doc_id", "text")
        .filter(col("matched_terms") > 0)
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("bm25"), asc("doc_id"))))
        .filter(col("rnk") <= 10)
        .select(col("doc_id"), col("bm25"), col("rnk"))
        .orderBy("rnk")
    },

    // Token-level Shannon entropy — the repetitive/templated-document
    // signal (low entropy = boilerplate) complementing `text_repetition`'s
    // n-gram ratios. H = −Σ (c/n)·log2(c/n) with per-term contributions
    // rounded then DECIMAL-summed (order-independent, oracle-replayable).
    "text_entropy" -> { (s, dir) =>
      val t = table(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      val c = t.groupBy("doc_id", "term").agg(count(lit(1)).as("__c"))
      val n = t.groupBy("doc_id").agg(count(lit(1)).as("__n"))
      c.join(n, Seq("doc_id"))
        .withColumn("__h",
          round(-(col("__c").cast("double") / col("__n")) *
            log2(col("__c").cast("double") / col("__n")), 6))
        .groupBy("doc_id")
        .agg(dsum(col("__h")).as("entropy"))
        .orderBy("doc_id")
    },

    // Canonical fingerprint (md5 of normalized text) + byte length.
    "text_fingerprint" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp"),
          octet_length(col("text")).as("n_bytes"))
        .orderBy("doc_id")
    },

    // Exact dedup by content hash over a corpus with injected duplicates.
    "dedup_exact" -> { (s, dir) =>
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.exactGroups(corpus, "doc_id", "text")
        .orderBy("keep_id")
    },

    // Exact n-gram-Jaccard near-dup pairs (real corpus, blocked left side).
    "dedup_jaccard_pairs" -> { (s, dir) =>
      Dedup.jaccardPairs(
          table(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, threshold = 0.5,
          leftFilter = df => df.filter(col("id") % 10 === 0))
        .orderBy("left_id", "right_id")
    },

    // Sorted-neighborhood (blocking) near-dup: the cheap classic pass —
    // block on the first 3 tokens, rank within block, verify only rows
    // within 4 positions. On this corpus its recall equals the LSH pass
    // (near-dups share their openings); its cost is a fraction.
    "dedup_snm" -> { (s, dir) =>
      Dedup.sortedNeighborhoodPairs(
          table(s, dir, "documents"), "doc_id", "text",
          blockTokens = 3, window = 4, shingleSize = 3, threshold = 0.5)
        .orderBy("left_id", "right_id")
    },

    // Edit-distance fuzzy join (Ed-Join q-gram prefix filter + exact
    // levenshtein verify) over part names with one deterministic
    // character-deletion typo injected per name — blocking is Spark-only
    // machinery; the oracle replays the typo injection and the PAIR SET
    // quadratically (both engines' levenshtein is the textbook DP).
    "dedup_fuzzy" -> { (s, dir) =>
      val base = table(s, dir, "part")
        .filter(col("p_partkey") < 300)
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val variants = base
        .withColumn("pos", col("id") % greatest(length(col("name")) - 1, lit(1)) + 1)
        .select((col("id") + 100000).as("id"),
          expr("concat(substr(name, 1, CAST(pos AS INT) - 1), substr(name, CAST(pos AS INT) + 1))").as("name"))
      graft.operators.FuzzyJoin
        .selfPairs(base.unionByName(variants), "id", "name", maxDist = 1)
        .orderBy("left_id", "right_id")
    },

    // C4-style quality gate: keep documents passing token-count and
    // stopword-ratio bounds — the filter stage of a training-data pipeline.
    "text_quality_filter" -> { (s, dir) =>
      val toks = TextOps.tokenCount(col("text"))
      val stopR = TextOps.stopwordRatio(col("text"), stopwords)
      table(s, dir, "documents")
        .filter(toks >= 20 && toks <= 400 && round(stopR, 6) < 0.12)
        .select(col("doc_id"), col("lang"), toks.as("n_tokens"))
        .orderBy("doc_id")
    },

    // Near-dup REMOVAL (the apply form): drop the higher-id side of every
    // verified near-dup pair, keep the rest of the corpus.
    "dedup_jaccard_apply" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5,
        leftFilter = df => df.filter(col("id") % 10 === 0))
      docs.join(pairs.select(col("right_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // MinHash-LSH near-dup (approximate candidates, exact verify) —
    // oracle-checked: the portable hash stack makes the probabilistic
    // candidate generation itself deterministic and SQL-replayable, so
    // DuckDB reproduces candidates AND verdicts bit-for-bit.
    "dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashPairs(
          table(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
        .orderBy("left_id", "right_id")
    },

    // Near-dup CLUSTERING: minhash pairs → connected components
    // (large-star/small-star) → every doc labeled with its cluster's min
    // id + cluster size; singletons label themselves. The "keep one doc
    // per near-dup cluster" assignment of a training-data pipeline.
    "dedup_components" -> { (s, dir) =>
      // derives entirely from the session-cached full-corpus component
      // map (every doc present; singletons self-labeled), so the
      // minhash + contraction stage is paid once per session whichever
      // of the two components queries runs first — sizes are a groupBy
      // on the small persisted map, not a second pairs+CC subtree
      val asg = componentAssignment(s, dir)
      val sizes = asg.groupBy("component_id")
        .agg(count(lit(1)).as("cluster_size"))
      asg.join(sizes, Seq("component_id"))
        .select(col("doc_id"), col("component_id"), col("cluster_size"))
        .orderBy("doc_id")
    },

    // The APPLY form: keep only each cluster's canonical doc (min id) —
    // the surviving corpus after transitive near-dup removal.
    "dedup_components_apply" -> { (s, dir) =>
      val keep = componentAssignment(s, dir)
        .filter(col("doc_id") === col("component_id"))
        .select("doc_id")
      table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("n_chars"))
        .join(keep, Seq("doc_id"))
        .orderBy("doc_id")
    },

    // Keep-BEST representative per near-dup cluster: curation keeps the
    // highest-quality member (here: max n_chars, min-id tiebreak), not
    // the min id — one group-limit window over the memoized component
    // map joined to the docs.
    "dedup_keep_best" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component_id").orderBy(desc("n_chars"), asc("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars"))
        .join(componentAssignment(s, dir), Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("component_id"), col("doc_id").as("kept_doc_id"),
          col("lang"), col("n_chars"))
        .orderBy("component_id")
    },

    // PII scrub: inject deterministic synthetic emails/URLs (the corpus
    // has none), count them, and fingerprint the scrubbed text — the
    // md5 only matches if the replacement semantics agree bit-for-bit.
    "text_scrub_pii" -> { (s, dir) =>
      val withPii = table(s, dir, "documents")
        .withColumn("t", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            concat(lit(" see https://example.org/doc/"),
              col("doc_id").cast("string"))).otherwise(lit(""))))
      withPii.select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(TextOps.emailPattern), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(col("t"), lit(TextOps.urlPattern), lit(0)))
            .as("n_urls"),
          md5(TextOps.scrubPii(col("t"))).as("scrubbed_fp"))
        .orderBy("doc_id")
    },

    // Within-doc repetition (boilerplate detector): ratio of repeated
    // word 3-grams — the C4/Gopher "repetition fraction" quality signal.
    "text_repetition" -> { (s, dir) =>
      table(s, dir, "documents")
        .withColumn("__toks", TextOps.tokens(col("text")))
        .withColumn("__g", when(size(col("__toks")) >= 3,
            expr("transform(sequence(0, size(__toks) - 3), i -> " +
              "concat_ws(' ', __toks[i], __toks[i+1], __toks[i+2]))"))
          .otherwise(array(array_join(col("__toks"), " "))))
        .select(col("doc_id"),
          size(col("__g")).as("n_grams"),
          size(array_distinct(col("__g"))).as("n_distinct_grams"),
          round(lit(1.0) -
            size(array_distinct(col("__g"))).cast("double") / size(col("__g")),
            6).as("rep_ratio"))
        .orderBy("doc_id")
    },

    // Sequence packing: assign docs to fixed token-budget training
    // shards via a running token sum. Packing is inherently sequential,
    // so it runs PER LANGUAGE partition (the realistic per-source shard
    // layout) — parallel across groups instead of one global sort task.
    "text_pack_shards" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .withColumn("shard_id",
          expr("(cum_tokens - n_tokens) div 2000"))
        .select("doc_id", "lang", "n_tokens", "shard_id")
        .orderBy("doc_id")
    },

    // Sequence packing: next-fit assignment of docs to 256-token training
    // sequences per language shard — the "what the trainer loads" layout
    // step after dedup/filter. Unlike text_pack_shards' offset-derived
    // shards (bins may straddle the budget), next-fit seals a sequence
    // the moment a doc doesn't fit, so every multi-doc sequence is within
    // budget. One shuffle by shard + a sorted linear scan per group; the
    // whole walk replays as a recursive CTE.
    "text_pack_seq" -> { (s, dir) =>
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Packing
        .nextFit(d, "lang", "doc_id", "n_tokens", capacity = 256L)
        .select(col("id").as("doc_id"), col("group").as("lang"),
          col("size").as("n_tokens"), col("seq_id"))
        .orderBy("doc_id")
    },

    // Deterministic 80/10/10 train/valid/test assignment via the portable
    // split hash — stable across runs, repartitioning, and re-ingest, and
    // auditable outside Spark (the oracle replays the bucket arithmetic).
    "sample_splits" -> { (s, dir) =>
      val bucket = graft.operators.Sampling.portableSplitBucket(
        col("doc_id").cast("long"), seed = 1L, denom = 10)
      table(s, dir, "documents")
        .select(col("doc_id"),
          when(bucket < 8, "train").when(bucket === 8, "valid")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // KMV / bottom-k sketch per language: the k smallest portable-hash
    // values form a MERGEABLE uniform sample (min-wise: union = take the
    // k smallest of both sets), and the k-th value yields the KMV
    // distinct estimate (Bar-Yossef et al. 2002) — unlike HLL, the
    // ENTIRE sketch AND its estimate are integers here ((k−1)·2³² ÷ hₖ,
    // integer division), so the sketch family's third member is fully
    // hash-checked. One rank window over the per-doc hash projection.
    "profile_kmv" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val k = 5
      val h = graft.operators.Sampling.portableSplitBucket(
        col("doc_id").cast("long"), seed = 31L, denom = 1000003)
      val ranked = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), h.as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy("h", "doc_id")))
        .filter(col("rn") <= k)
      val kth = ranked.filter(col("rn") === k)
        .select(col("lang"), col("h").as("__hk"))
      ranked.join(kth, Seq("lang"))
        .select(col("lang"), col("rn"), col("doc_id"), col("h"),
          // integer division (Spark's `/` on longs is double division)
          expr(s"${(k - 1) * 1000003L} div __hk").as("est_distinct"))
        .orderBy("lang", "rn")
    },

    // Poisson bootstrap over the corpus: 20 deterministic resampling
    // replicates (multiplicity ~ Poisson(1) per doc per replicate, drawn
    // by inverting the CDF on the portable hash), each reporting its
    // effective size and mean doc length — the distributed way to put a
    // confidence interval on any corpus statistic without coordinated
    // with-replacement sampling. Pure integer draw ⇒ the whole resample
    // replays in SQL.
    "sample_bootstrap" -> { (s, dir) =>
      graft.operators.Sampling.poissonReplicates(
          table(s, dir, "documents"), col("doc_id"), replicates = 20,
          seed = 17L)
        .groupBy("replicate").agg(
          sum(col("k")).as("n_eff"),
          count(when(col("k") >= 1, 1)).as("n_docs"),
          sum(col("k") * col("n_chars")).as("chars_mass"))
        .withColumn("mean_chars", round(col("chars_mass") / col("n_eff"), 6))
        .orderBy("replicate")
    },

    // Classifier evaluation: confusion-derived per-class precision /
    // recall / F1 of the stopword-profile language id against the labeled
    // lang column — the eval loop every heuristic gate (langid, quality
    // model) needs before it filters a corpus. All metrics are single
    // divisions of exact integer counts, rounded — fully replayable. (On
    // this fixture the text is English-ish regardless of label, so the
    // numbers expose the classifier's degeneracy — exactly what the
    // metric is for.) Two grouped passes over the doc-count table; the
    // class axis is tiny.
    "eval_classifier" -> { (s, dir) =>
      val base = table(s, dir, "documents")
        .select(col("lang").as("actual"),
          LangId.detectLang(col("text")).as("pred"))
      val byActual = base.groupBy(col("actual").as("class"))
        .agg(count(lit(1)).as("__np"),
          sum(when(col("pred") === col("actual"), 1L).otherwise(0L)).as("__tpa"))
      val byPred = base.groupBy(col("pred").as("class"))
        .agg(count(lit(1)).as("__npred"),
          sum(when(col("pred") === col("actual"), 1L).otherwise(0L)).as("__tpp"))
      byActual.join(byPred, Seq("class"), "full_outer")
        .select(col("class"),
          coalesce(col("__tpa"), col("__tpp"), lit(0L)).as("tp"),
          (coalesce(col("__npred"), lit(0L)) -
            coalesce(col("__tpp"), lit(0L))).as("fp"),
          (coalesce(col("__np"), lit(0L)) -
            coalesce(col("__tpa"), lit(0L))).as("fn"))
        .withColumn("precision", when(col("tp") + col("fp") === 0, lit(0.0))
          .otherwise(round(col("tp") / (col("tp") + col("fp")), 6)))
        .withColumn("recall", when(col("tp") + col("fn") === 0, lit(0.0))
          .otherwise(round(col("tp") / (col("tp") + col("fn")), 6)))
        .withColumn("f1",
          when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(0.0))
            .otherwise(round(lit(2) * col("tp") /
              (lit(2) * col("tp") + col("fp") + col("fn")), 6)))
        .orderBy("class")
    },

    // Feature-discrimination AUC: tie-corrected Mann–Whitney AUC of the
    // en-stopword-ratio feature as a predictor of lang = 'en' — the
    // threshold-free "is this signal worth gating on?" check that
    // precedes any quality-filter deployment. AGGREGATE-FIRST: docs
    // collapse to one row per distinct 6dp score (bounded domain) with
    // (count, positives); tied scores' shared 2·midrank = min_rank +
    // max_rank = 2·cum_below − n + 1 falls out of a distributed
    // [[GlobalRank.prefixSum]] over the score table, so no per-doc rank
    // — and no single-partition window — exists anywhere. Every sum
    // stays exact BIGINT; the one double division at the end is shared
    // textually with the oracle.
    "eval_auc" -> { (s, dir) =>
      val en = Seq("the", "a", "of", "and", "to", "in", "is", "with")
      val toks = array_distinct(split(lower(col("text")), "\\s+"))
      val grouped = table(s, dir, "documents")
        .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          round(size(array_intersect(toks, typedlit(en)))
            .cast("double") / size(toks), 6).as("s"))
        .groupBy(col("s")).agg(
          count(lit(1)).as("__n"), sum(col("y")).as("__np"))
      // inclusive prefix count over ascending score; for a score group:
      // min_rank + max_rank = (cum−n+1) + cum = 2·cum − n + 1
      graft.operators.GlobalRank
        .prefixSum(grouped, Seq(col("s")), col("__n"), "__cum")
        .agg(
          sum(col("__np")).as("n_pos"),
          (sum(col("__n")) - sum(col("__np"))).as("n_neg"),
          sum(col("__np") *
            (lit(2L) * col("__cum") - col("__n") + lit(1L))).as("__rp2"))
        .select(col("n_pos"), col("n_neg"),
          round((col("__rp2") - col("n_pos") * (col("n_pos") + 1))
              .cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
    },

    // RAKE keyphrase extraction (Rose et al. 2010): stopword-delimited
    // token runs become candidate phrases (maxWords 4, Rose's cap), word
    // degree/frequency over the retained candidates, phrase score =
    // Σ deg(w)/freq(w). Per-word ratios are 6dp-rounded then
    // DECIMAL-summed in any order — a raw double Σ would be
    // shuffle-order-dependent. Islands via the pos − rank trick (one
    // window per doc); everything else is exploded equi-joins.
    "text_rake" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val stop = Seq("the", "a", "of", "and", "to", "in", "is", "with")
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
        .filter(!col("tok").isin(stop: _*))
      val isl = toks.withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      val phrases = isl.groupBy("doc_id", "grp")
        .agg(sort_array(collect_list(struct(col("pos"), col("tok"))))
          .as("__pw"))
        .select(transform(col("__pw"), w => w.getField("tok")).as("words"))
        .filter(size(col("words")) <= 4)
      val wstats = phrases
        .select(explode(col("words")).as("word"), size(col("words")).as("plen"))
        .groupBy("word")
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      val distinctPhrases = phrases
        .select(concat_ws(" ", col("words")).as("phrase")).distinct()
      distinctPhrases
        .select(col("phrase"), explode(split(col("phrase"), " ")).as("word"))
        .join(wstats, Seq("word"))
        .groupBy("phrase")
        .agg(sum(round(col("degree") / col("freq"), 6)
            .cast(DecimalType(18, 6))).cast("double").as("score"),
          count(lit(1)).as("n_words"))
        .orderBy(desc("score"), asc("phrase")).limit(20)
    },

    // Tokenizer-vocabulary coverage: per-doc OOV rate against the top-K
    // corpus unigrams — the "how much of the corpus does this vocab
    // cover?" check run before freezing any tokenizer. K = 16 here (the
    // synthetic vocabulary is 31 tokens — half stays out-of-vocab, so
    // the rates are exercised; K is the knob at scale). Vocab selection
    // is a bounded top-k with (count DESC, term ASC) tiebreak; the vocab
    // broadcasts back to the exploded token stream.
    "text_oov" -> { (s, dir) =>
      val toks = table(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("__n"))
        .orderBy(desc("__n"), asc("term")).limit(16)
        .select("term")
      toks
        .join(broadcast(vocab.withColumn("__iv", lit(1))), Seq("term"), "left")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("__iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
        .orderBy("doc_id")
    },

    // Reliability diagram (calibration curve): equal-count deciles of the
    // en-stopword-ratio signal vs the realized P(lang = 'en') per decile —
    // "does a higher score actually mean more English?", the companion
    // check to eval_auc's ranking view. Scores are 6dp-rounded and
    // DECIMAL-summed (exact); rates are integer ratios; the gap is a
    // subtraction of the two already-rounded outputs. NTILE ordered by
    // (score, doc_id) so tied scores split deterministically — computed
    // by the distributed [[GlobalRank.ntile]] (range-partitioned rank +
    // broadcast offsets), never a single-partition window.
    "eval_calibration" -> { (s, dir) =>
      val en = Seq("the", "a", "of", "and", "to", "in", "is", "with")
      val toks = array_distinct(split(lower(col("text")), "\\s+"))
      val scored = table(s, dir, "documents")
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          round(size(array_intersect(toks, typedlit(en)))
            .cast("double") / size(toks), 6).as("s"))
      graft.operators.GlobalRank
        .ntile(scored, Seq(col("s"), col("doc_id")), 10, "bin")
        .groupBy("bin").agg(
          count(lit(1)).as("n"),
          round(sum(dec(col("s"))).cast("double") / count(lit(1)), 6)
            .as("mean_score"),
          round(sum(col("y")) / count(lit(1)), 6).as("pos_rate"))
        .withColumn("gap", round(col("mean_score") - col("pos_rate"), 6))
        .orderBy("bin")
    },

    // Curriculum / interleaved training order: every stratum (language)
    // shuffled by the portable hash, then round-robin interleaved — any
    // prefix of the resulting order carries the full stratum mix, the
    // anti-catastrophic-drift guarantee a source-ordered corpus lacks.
    // The in-stratum rank is a per-language window (naturally
    // partitioned); the TOTAL order over (rank, stratum) — inherently a
    // global row_number — is a distributed [[GlobalRank.rowNumber]]
    // (range-partitioned rank + broadcast offsets), so the interleave
    // replays in SQL yet never funnels the corpus through one task.
    "sample_curriculum" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val k = graft.operators.Sampling.portableSplitBucket(
        col("doc_id"), seed = 13L, denom = 1000003)
      val strat = table(s, dir, "documents")
        .withColumn("__k", k)
        .withColumn("r", row_number().over(
          Window.partitionBy("lang").orderBy(col("__k"), col("doc_id"))))
        .select(col("doc_id"), col("lang"), col("r"))
      graft.operators.GlobalRank
        .rowNumber(strat, Seq(col("r"), col("lang")), "order_idx")
        .withColumn("order_idx", col("order_idx").cast("int"))
        .select(col("doc_id"), col("lang"), col("r"), col("order_idx"))
        .orderBy("order_idx")
    },

    // Decontamination: flag train docs sharing any word 5-gram with the
    // held-out eval slice (doc_id % 10 == 7) — the train/test-overlap
    // audit a benchmark-publishing pipeline runs before training. One
    // equi-join on the portable 64-bit gram hash; fully oracle-checked.
    "text_decontam" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val isEval = col("doc_id") % 10 === 7
      val counts = decontamCounts(s, dir)
      docs.filter(!isEval).select(col("doc_id"))
        .join(counts.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) > 0).cast("int").as("contaminated"))
        .orderBy("doc_id")
    },

    // Per-source document cap (CommonCrawl "max N docs per domain"):
    // deterministic portable-hash order, rank kept, WindowGroupLimit
    // bounds the per-group sort.
    "sample_cap" -> { (s, dir) =>
      val ord = graft.operators.Sampling.portableSplitBucket(
        col("doc_id"), seed = 7L, denom = 1000003)
      graft.operators.Sampling.capPerGroupRanked(
          table(s, dir, "documents").withColumn("__k", ord),
          "source", Seq(col("__k"), col("doc_id")), n = 10)
        .select(col("doc_id"), col("source"), col("rn"))
        .orderBy("doc_id")
    },

    // Weighted sampling without replacement (Efraimidis-Spirakis): per
    // language, the 20 docs with smallest −ln(u)/n_chars — longer docs
    // proportionally likelier, u from the portable hash so the draw is
    // layout-stable and replayed exactly in DuckDB (6-dp key rounding
    // absorbs the ln ulp; id tie-break).
    "sample_weighted" -> { (s, dir) =>
      graft.operators.Sampling.weightedTopK(
          table(s, dir, "documents"), "lang", col("doc_id"), col("n_chars"),
          k = 20, seed = 11L)
        .select(col("doc_id"), col("lang"), col("wkey"), col("rn"))
        .orderBy("doc_id")
    },

    // Gopher-style quality rules (Rae et al. 2021 §A1.1, adapted to this
    // corpus's scale): word-count bounds, mean-word-length band, fraction
    // of words with an alphabetic char, minimum stopword hits — emitted
    // as signals plus the composite keep flag.
    "text_gopher" -> { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      val stop = Seq("the", "a", "of", "and", "to", "in", "is", "with")
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks).as("n_words"),
          round(TextOps.avgTokenLength(col("text")), 6).as("mean_word_len"),
          round(size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("double")
            / size(toks), 6).as("alpha_ratio"),
          size(filter(toks, t => t.isInCollection(stop))).as("stop_hits"))
        .withColumn("keep",
          (col("n_words").between(20, 100000) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("alpha_ratio") > 0.8 &&
            col("stop_hits") >= 2).cast("int"))
        .orderBy("doc_id")
    },

    // Stratified downsampling with per-language rates (rebalancing a
    // multilingual corpus), on the portable split hash so membership is
    // stable across layout/re-ingest and auditable outside Spark.
    "sample_strat" -> { (s, dir) =>
      graft.operators.Sampling.stratifiedPortable(
          table(s, dir, "documents"), col("doc_id"), col("lang"),
          perMille = Map("en" -> 500), defaultPerMille = 200, seed = 3L)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Collocation mining: top-20 adjacent pairs by pointwise mutual
    // information (count ≥ 5) — phrase-vocabulary induction. The rank is
    // over the ROUNDED pmi with (w1, w2) tiebreaks, so selection and
    // order replay exactly.
    "text_pmi" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      graft.operators.TextScoring.pmiPairs(
          table(s, dir, "documents"), "doc_id", "text", minCount = 5L)
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("pmi"), asc("w1"), asc("w2"))))
        .filter(col("rnk") <= 20)
        .select(col("w1"), col("w2"), col("cab"), col("pmi"), col("rnk"))
        .orderBy("rnk")
    },

    // Sequence-length histogram: fixed-width (16-token) buckets with doc
    // counts, token mass, and the cumulative doc share — the packing-
    // efficiency / truncation-loss profile read before choosing a
    // training context length. Integer end-to-end except the final
    // share division; one map-side-combined groupBy over a 2-column
    // projection.
    "text_len_hist" -> { (s, dir) =>
      val hist = table(s, dir, "documents")
        .select(TextOps.tokenCount(col("text")).as("n_tokens"))
        .groupBy(expr("n_tokens div 16").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_sum"))
      // doc total as a SECOND window over the same bucket axis (whose
      // cardinality is bounded by max document length / 16, not corpus
      // size — the global-window allowlist entry): the former broadcast
      // 1-row aggregate branch re-derived hist with a narrower partial
      // agg, which broke exchange canonical-equality and re-scanned +
      // re-tokenized the whole corpus (scan-count sweep, r17)
      hist
        .withColumn("cum_share", round(
          expr("sum(n_docs) over (order by bucket)").cast("double")
            / expr("sum(n_docs) over ()"), 6))
        .orderBy("bucket")
    },

    // Mixture planning (static domain balancing): the largest corpus
    // honoring the target language shares is bound by the scarcest
    // stratum (here 'de': ⌊70/0.2⌋ = 350), every stratum takes
    // ⌊share·N⌋. One groupBy + literal joins; fully oracle-checked (all
    // steps are single correctly-rounded IEEE ops on exact inputs).
    "sample_mixture" -> { (s, dir) =>
      graft.operators.Sampling.mixturePlan(
          table(s, dir, "documents"), "lang", mixtureTargets)
        .orderBy("lang")
    },

    // The APPLY form: per-stratum top-take_docs in portable-hash order —
    // the surviving mixed corpus, deterministic and layout-independent.
    "sample_mixture_apply" -> { (s, dir) =>
      graft.operators.Sampling.applyMixture(
          table(s, dir, "documents"), "lang", col("doc_id"),
          mixtureTargets, seed = 5L)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Percentile trimming: drop each language's longest 10% of docs (the
    // outlier-trim stage of corpus prep) via an exact per-group
    // percent_rank — parallel across languages; a single giant group
    // would switch to approx_percentile thresholds instead.
    "text_pctl" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(col("n_tokens"), col("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .filter(col("pr") <= 0.9)
        .orderBy("doc_id")
    },

    // SimHash near-dup over a corpus with injected near-duplicates
    // (copies missing their first token) — rows-only check.
    "dedup_simhash" -> { (s, dir) =>
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "^[^ ]+ ", "").as("text")))
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3, numBands = 4)
        .orderBy("left_id", "right_id")
    },

    // Multimodal: REAL PNG payloads (deterministic dims from doc_id) →
    // batched javax.imageio header decode → compact metadata projection.
    // Oracle-checked: the oracle recomputes the dims from doc_id, so the
    // query only matches if genuine PNG encode → header decode round-trips.
    // n_bytes is encoder-dependent and excluded from the projection.
    "multimodal_decode" -> { (s, dir) =>
      graft.operators.Multimodal.decodeMeta(
          graft.operators.Multimodal.withPngPayload(
            table(s, dir, "documents"), "doc_id"))
        .toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"))
        .orderBy("media_id")
    },

    // Image near-dup via 64-bit perceptual dHash + banded Hamming join:
    // real PNG decode → integer 9×8 luma grid → gradient-sign bits →
    // pigeonhole-banded pair join, exact XOR/POPCNT verify. Because the
    // fixture pixels are pure integer functions of the id and PNG is
    // lossless, the ENTIRE path — decode, box filter, bit packing, pair
    // join — replays in DuckDB from the ids alone, making this a fully
    // hash-checked multimodal query, not a rows-only one.
    "multimodal_phash" -> { (s, dir) =>
      import graft.operators.Dedup
      Dedup.hamming64Pairs(phashSig(s, dir), "media_id", "phash",
          maxHamming = 6, numBands = 8)
        .orderBy("left_id", "right_id")
    },

    // WebDataset shard layout as pure 512-block arithmetic: where each
    // document's tar member would land (entry offset, data offset) if
    // the corpus were packed 50 samples/shard in doc_id order — the
    // closed form `WebDataset.writeShards` materializes byte-for-byte
    // (WebDatasetSpec pins written bytes to this exact formula); fully
    // window-sum replayable in SQL.
    "multimodal_tar_layout" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      table(s, dir, "documents")
        .select(col("doc_id"), expr("doc_id div 50").as("shard"),
          octet_length(col("text")).cast("long").as("size"))
        .withColumn("entry_offset",
          coalesce(sum(lit(512L) + expr("((size + 511) div 512) * 512")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard"), col("entry_offset"),
          (col("entry_offset") + 512L).as("data_offset"), col("size"))
        .orderBy("doc_id")
    },

    // Language id (stopword-profile argmax) — oracle-checked: the
    // profiles and tie-break are replayed in SQL.
    "text_langid" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          LangId.detectLang(col("text")).as("predicted_lang"))
        .orderBy("doc_id")
    },

    // Temperature resampling (XLM-style p^α stratum rebalancing, α = ½):
    // per-language keep rate √(n_min/n_lang) — rarest language keeps all —
    // decided per row on the portable hash. Rates use only correctly-
    // rounded IEEE ops (÷, √), so the whole decision is replayed by the
    // oracle bit-for-bit.
    "sample_temperature" -> { (s, dir) =>
      graft.operators.Sampling.temperatureKeep(
          table(s, dir, "documents"), "lang", col("doc_id"), seed = 11L)
        .select("doc_id", "lang", "stratum_docs", "keep_rate", "keep")
        .orderBy("doc_id")
    },

    // Unigram-LM cross-entropy (the CCNet perplexity-filter shape, model
    // order 1, estimated on the corpus itself): nats/token under the MLE
    // unigram model; tails of the distribution are the cut candidates.
    "text_unigram_ppl" -> { (s, dir) =>
      graft.operators.TextScoring.unigramCrossEntropy(
          table(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Bigram-LM cross-entropy with Jelinek-Mercer backoff (λ = 0.75):
    // order-2 fluency signal — shuffled-token gibberish that the unigram
    // model can't see scores high here. Docs with <2 tokens are omitted
    // (length gates own that regime).
    "text_bigram_ppl" -> { (s, dir) =>
      graft.operators.TextScoring.bigramCrossEntropy(
          table(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // DSIR importance weights (Xie et al. 2023): hashed distinct word
    // bigrams, target = the English slice, weight = Σ ln(p̂_t(b)/p̂_r(b))
    // with add-one smoothing. Resampling ∝ exp(weight) shifts the corpus
    // toward the target domain.
    "text_dsir" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      graft.operators.TextScoring.dsirLogWeights(
          docs, docs.filter(col("lang") === "en"), "doc_id", "text",
          n = 2, numBuckets = 1024)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Sub-document chunk dedup (C4-style span removal): first global
    // occurrence of each 10-token chunk survives, docs reassemble from
    // surviving chunks. The duplicated corpus construction (id-shifted
    // copies, as in dedup_exact) guarantees every copy's chunks drop.
    "dedup_chunks" -> { (s, dir) =>
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.dropRepeatedChunks(corpus, "doc_id", "text", chunkTokens = 10)
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("text_deduped")).as("dedup_md5"))
        .orderBy("doc_id")
    },

    // Exact-substring overlap candidates (winnowed Lee-et-al substring
    // dedup): doc pairs whose winnow(k=8,w=16) sketches intersect — every
    // shared ≥23-char run is guaranteed caught — with boilerplate
    // fingerprints (>50 docs) dropped before the self-join.
    "dedup_substring" -> { (s, dir) =>
      Dedup.winnowCandidates(table(s, dir, "documents"), "doc_id", "text",
          k = 8, w = 16, maxDocsPerFp = 50)
        .orderBy("left_id", "right_id")
    },

    // Taxonomy-tag parser (F1): build tags from nation/region names, parse
    // with the single-pass parser, emit the extracted ranks. The oracle
    // reconstructs the expected values directly.
    "taxonomy_parse" -> { (s, dir) =>
      val tags = table(s, dir, "nation")
        .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"),
          concat(lit("a photo of kingdom "), col("r_name"),
            lit(" genus "), col("n_name"),
            lit(" species "), lower(col("n_name")),
            lit(" with common name the "), lower(col("n_name")), lit(".")).as("tag"))
      tags
        .withColumn("m", TaxonomyParser.parseTag(col("tag")))
        .select(col("n_nationkey"),
          col("m")("kingdom").as("kingdom"),
          col("m")("genus").as("genus"),
          col("m")("species").as("species"),
          col("m")("common name").as("common_name"))
        .orderBy("n_nationkey")
    }
  )

  // mixSql / tokenHashSql (the DuckDB expansions of the portable hash
  // stack) live in the package object — shared with RelationalQueries'
  // HLL-register oracle.

  /** DuckDB CTE chain replaying the full portable MinHash-LSH pipeline up
    * through `ver(left_id, right_id, jaccard)` (candidates + exact
    * verify, before the threshold filter). Composed with `WITH` by the
    * `dedup_minhash_lsh` oracle and with `WITH RECURSIVE` by the
    * `dedup_components` closure oracle. */
  /** Every CTE here is MATERIALIZED: the chain is per-row hashing (no
    * pushdown for inlining to exploit), several stages are referenced
    * 2-3×, and the component queries reference `cedges` from inside a
    * recursive closure — DuckDB's default inlining re-ran the whole
    * MinHash chain per closure step (dedup_components 24 s → 3 s at
    * sf0.1, results identical). */
  private val minhashVerCtes: String = {
    val permHi = mixSql("((h >> 32) + 2654435761 * (p + 1)) & 4294967295")
    val permLo = mixSql("((h & 4294967295) + 2246822507 * (p + 1)) & 4294967295")
    val fold = mixSql("XOR(f, x) & 4294967295")
    s"""toks AS MATERIALIZED (
           SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
         shs AS MATERIALIZED (
           SELECT doc_id, LIST_DISTINCT(CASE WHEN LEN(t) >= 3
             THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN RANGE(1, LEN(t) - 1)]
             ELSE [ARRAY_TO_STRING(t, ' ')] END) AS s
           FROM toks),
         shex AS MATERIALIZED (SELECT doc_id, UNNEST(s) AS sh FROM shs),
         pp AS MATERIALIZED (
           SELECT doc_id,
             LIST_REDUCE(LIST_PREPEND(0::BIGINT,
                 [ORD(c) FOR c IN REGEXP_SPLIT_TO_ARRAY(sh, '') IF c <> '']),
               (a, b) -> (a * 31 + b) & 4294967295) AS p1,
             LIST_REDUCE(LIST_PREPEND(0::BIGINT,
                 [ORD(c) FOR c IN REGEXP_SPLIT_TO_ARRAY(sh, '') IF c <> '']),
               (a, b) -> (a * 37 + b) & 4294967295) AS p2
           FROM shex),
         hh AS MATERIALIZED (SELECT DISTINCT doc_id, ${tokenHashSql("p1", "p2")} AS h FROM pp),
         hset AS MATERIALIZED (SELECT doc_id, LIST(DISTINCT h) AS hs FROM hh GROUP BY doc_id),
         mins AS MATERIALIZED (
           SELECT doc_id, p, MIN(($permHi >> 1) * 4294967296 + ($permLo)) AS m
           FROM hh CROSS JOIN (SELECT UNNEST(RANGE(0, 32)) AS p) ps
           GROUP BY doc_id, p),
         bk AS MATERIALIZED (
           SELECT doc_id, (p // 4) * 4294967296 +
             LIST_REDUCE(LIST_PREPEND(0::BIGINT,
                 FLATTEN(LIST([m >> 32, m & 4294967295] ORDER BY p))),
               (f, x) -> $fold) AS band
           FROM mins GROUP BY doc_id, p // 4),
         ok AS MATERIALIZED (SELECT band FROM bk GROUP BY band HAVING COUNT(*) > 1 AND COUNT(*) <= 1024),
         cand AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
           FROM bk a JOIN bk b ON a.band = b.band JOIN ok ON ok.band = a.band
           WHERE a.doc_id < b.doc_id),
         ver AS MATERIALIZED (
           SELECT left_id, right_id,
             ROUND(CAST(LEN(LIST_INTERSECT(ha.hs, hb.hs)) AS DOUBLE)
               / LEN(LIST_DISTINCT(LIST_CONCAT(ha.hs, hb.hs))), 6) AS jaccard
           FROM cand JOIN hset ha ON ha.doc_id = left_id JOIN hset hb ON hb.doc_id = right_id)"""
  }

  /** Shared dHash replay CTEs (multimodal_phash + dedup_phash_apply):
    * fixture pixels, integer luma box filter, bit packing — see the
    * multimodal_phash scaladoc for why this is exact. */
  private val phashBitsCtes: String =
    """m AS (
           SELECT CAST(doc_id AS BIGINT) AS media_id,
                  CAST(doc_id AS BIGINT) AS src_id, FALSE AS pert
           FROM documents WHERE doc_id < 200
           UNION ALL
           SELECT CAST(doc_id + 10000 AS BIGINT), CAST(doc_id AS BIGINT), TRUE
           FROM documents WHERE doc_id < 200 AND doc_id % 5 = 0),
         d AS (SELECT media_id, src_id, pert,
                 16 + (src_id % 32) AS w, 16 + ((src_id // 32) % 32) AS h
               FROM m),
         px AS (
           SELECT d.media_id, d.w, d.h, xs.x, ys.y,
             CASE WHEN d.pert AND xs.x < 2 AND ys.y < 2 THEN 128
               ELSE (77 * (((d.src_id * 2654435761 + xs.x * 40503 + ys.y * 65537) >> 16) & 255)
                   + 151 * (((d.src_id * 2654435761 + xs.x * 40503 + ys.y * 65537) >> 8) & 255)
                   + 28 * ((d.src_id * 2654435761 + xs.x * 40503 + ys.y * 65537) & 255)) >> 8
             END AS lum
           FROM d
           JOIN generate_series(0, 46) xs(x) ON xs.x < d.w
           JOIN generate_series(0, 46) ys(y) ON ys.y < d.h),
         cell AS (
           SELECT p.media_id, cxs.cx, cys.cy, SUM(p.lum) // COUNT(*) AS lum
           FROM px p
           JOIN generate_series(0, 8) cxs(cx)
             ON p.x >= cxs.cx * p.w // 9 AND p.x < (cxs.cx + 1) * p.w // 9
           JOIN generate_series(0, 7) cys(cy)
             ON p.y >= cys.cy * p.h // 8 AND p.y < (cys.cy + 1) * p.h // 8
           GROUP BY p.media_id, cxs.cx, cys.cy),
         bits AS (
           SELECT a.media_id,
             CAST(SUM(CASE WHEN a.lum > b.lum THEN
               CASE WHEN a.cy * 8 + a.cx = 63
                 THEN (-9223372036854775808)::HUGEINT
                 ELSE (1::BIGINT << (a.cy * 8 + a.cx))::HUGEINT END
               ELSE 0::HUGEINT END) AS BIGINT) AS h
           FROM cell a JOIN cell b
             ON b.media_id = a.media_id AND b.cy = a.cy AND b.cx = a.cx + 1
           GROUP BY a.media_id)"""

  /** The langid stopword-profile argmax as reusable CTEs ending in
    * `pred(doc_id, lang, predicted_lang)` — shared by the `text_langid`
    * and `eval_classifier` oracles so classifier and eval replay the
    * identical decision. */
  private val langIdPredCtes: String = {
    val profiles = Seq(
      "de" -> Seq("der", "die", "das", "und", "in", "von", "zu", "mit"),
      "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "with"),
      "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "con"),
      "fr" -> Seq("le", "la", "de", "et", "un", "en", "du", "avec"),
      "zh" -> Seq("的", "了", "在", "是", "我", "有", "和", "人"))
    val scoreCols = profiles.map { case (l, ws) =>
      s"LEN(LIST_INTERSECT(toks, [${ws.map(w => s"'$w'").mkString(", ")}])) AS $l"
    }.mkString(",\n           ")
    val g = profiles.map(_._1).mkString(", ")
    val cases = profiles.map { case (l, _) =>
      s"WHEN $l = GREATEST($g) THEN '$l'"
    }.mkString("\n                ")
    // pred is MATERIALIZED: eval_classifier reads it from 3 correlated
    // COUNT subqueries per class — inlined, the tokenize+score chain
    // re-ran ~18x (9.2 s → 1.1 s at sf0.1, result identical)
    s"""t AS (
           SELECT doc_id, lang,
             LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '\\s+')) AS toks
           FROM documents),
         sc AS (
           SELECT doc_id, lang,
           $scoreCols
           FROM t),
         pred AS MATERIALIZED (
           SELECT doc_id, lang,
             CASE WHEN GREATEST($g) = 0 THEN 'und'
                  $cases
             END AS predicted_lang
           FROM sc)"""
  }

  /** Unrolled-round replay of [[graft.functions.Bpe.trainDistributed]]:
    * one (pair-count → argmax → run-parity non-overlapping merge →
    * renumber) CTE block per merge round — state `st{r}`, best `bs{r}`.
    * Shares the trainer's exact semantics: binary-collation tie-break
    * (count desc, left desc, right desc), left-to-right application via
    * run-grouped row_number parity, end-of-word marker `</w>`. */
  // `WHERE c >= 2` in bs$r replays Bpe.train/trainDistributed's stopping
  // rule: a best pair seen once is NOT merged; an empty bs$r leaves mt/tk
  // empty and st$r ≡ st${r-1} (identity round), so once training stops the
  // remaining unrolled rounds are no-ops and the merge-table output ends
  // exactly where the engine's does.
  private def bpeRoundCtes(numMerges: Int): String =
    (1 to numMerges).map { r =>
      val prev = s"st${r - 1}"
      s"""pr$r AS (SELECT x.sym AS a, y.sym AS b, SUM(x.freq) AS c
         FROM $prev x JOIN $prev y ON y.w = x.w AND y.p = x.p + 1
         GROUP BY x.sym, y.sym),
         bs$r AS MATERIALIZED (SELECT a, b, c FROM pr$r WHERE c >= 2 ORDER BY c DESC, a DESC, b DESC LIMIT 1),
         mt$r AS (SELECT x.w, x.p FROM $prev x
         JOIN $prev y ON y.w = x.w AND y.p = x.p + 1
         JOIN bs$r ON x.sym = bs$r.a AND y.sym = bs$r.b),
         tk$r AS (SELECT w, p FROM (
           SELECT w, p, ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY p) AS rk
           FROM (SELECT w, p,
             p - ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) AS grp
           FROM mt$r)) WHERE rk % 2 = 1),
         st$r AS MATERIALIZED (SELECT w, freq,
           CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) AS INTEGER) AS p, sym
         FROM (SELECT s.w, s.freq, s.p,
             CASE WHEN t1.p IS NOT NULL THEN s.sym || nx.sym ELSE s.sym END AS sym
           FROM $prev s
           LEFT JOIN tk$r t1 ON t1.w = s.w AND t1.p = s.p
           LEFT JOIN tk$r t2 ON t2.w = s.w AND t2.p = s.p - 1
           LEFT JOIN $prev nx ON nx.w = s.w AND nx.p = s.p + 1
           WHERE t2.p IS NULL)),"""
    }.mkString("\n         ")

  private def bpeTrainSql(numMerges: Int): String = {
    val out = (1 to numMerges).map { r =>
      s"""SELECT $r AS merge_rank, a AS left_sym, b AS right_sym,
         CAST(c AS BIGINT) AS pair_count FROM bs$r"""
    }.mkString("\n         UNION ALL ")
    s"""WITH ${bpeStateCtes(numMerges)}
         dummy AS (SELECT 1)
         $out
         ORDER BY merge_rank"""
  }

  /** The shared vocab → st0 → per-round state chain (ends with a trailing
    * comma — callers append their own terminal CTEs/select). `st{n}` is
    * the vocabulary tokenized by the first n merges: training state and
    * BPE-applied vocab are the SAME object, which is what lets the apply
    * oracle reuse the training replay verbatim. */
  private def bpeStateCtes(numMerges: Int): String = {
    val rounds = bpeRoundCtes(numMerges)
    s"""vocab AS (SELECT w, COUNT(*) AS freq FROM (
           SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
         WHERE w <> '' GROUP BY w),
         st0 AS MATERIALIZED (SELECT w, freq, CAST(i AS INTEGER) AS p,
           CASE WHEN i <= LEN(w) THEN SUBSTRING(w, CAST(i AS INTEGER), 1)
                ELSE '</w>' END AS sym
         FROM (SELECT w, freq, UNNEST(RANGE(1, LEN(w) + 2)) AS i FROM vocab)),
         $rounds"""
  }

  /** Learned-BPE APPLY replayed: the final training state `st$numMerges`
    * IS the applied vocabulary (one row per subword-token occurrence per
    * word), so per-word token counts join straight onto the per-doc word
    * frequencies — no separate apply machinery to trust. */
  private def bpeApplySql(numMerges: Int): String =
    s"""WITH ${bpeStateCtes(numMerges)}
         wtok AS (SELECT w, COUNT(*) AS n_sub FROM st$numMerges GROUP BY w),
         dwf AS (SELECT doc_id, w, COUNT(*) AS cnt FROM (
           SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
           FROM documents) WHERE w <> '' GROUP BY doc_id, w)
         SELECT d.doc_id,
           CAST(COALESCE(SUM(f.cnt), 0) AS BIGINT) AS n_words,
           CAST(COALESCE(SUM(f.cnt * t.n_sub), 0) AS BIGINT) AS n_subwords
         FROM documents d
         LEFT JOIN dwf f ON f.doc_id = d.doc_id
         LEFT JOIN wtok t ON t.w = f.w
         GROUP BY d.doc_id ORDER BY d.doc_id"""

  val oracle: Map[String, String] = Map(
    "text_bpe_learned" -> bpeTrainSql(12),
    "text_bpe_apply" -> bpeApplySql(12),

    "text_token_stats" ->
      """SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens, n_chars
         FROM documents ORDER BY doc_id""",

    "text_quality" ->
      """SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
           ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t = 'the' OR t = 'a')) AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')), 6) AS stop_ratio,
           ROUND(CAST(LENGTH(text) - LEN(STRING_SPLIT(text, ' ')) + 1 AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')), 6) AS avg_token_len
         FROM documents ORDER BY doc_id""",

    "text_bpe_tokens" ->
      """SELECT doc_id,
         CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]{1,4}')) AS INTEGER) AS n_subwords,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_words
         FROM documents ORDER BY doc_id""",

    "text_chunk_stride" ->
      """WITH t AS (
           SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
             LEN(STRING_SPLIT(text, ' ')) AS n
           FROM documents),
         k AS (SELECT doc_id, toks, n,
             GREATEST(CAST(CEIL(CAST(n - 64 AS DOUBLE) / 48) AS INT), 0) AS kmax
           FROM t),
         e AS (
           SELECT doc_id, toks, n,
             UNNEST(RANGE(0, CAST(kmax AS BIGINT) + 1)) AS chunk_no
           FROM k),
         c AS (
           SELECT doc_id, chunk_no, n AS n_tokens,
             ARRAY_TO_STRING(toks[chunk_no * 48 + 1 : chunk_no * 48 + 64], ' ') AS chunk
           FROM e)
         SELECT doc_id, CAST(chunk_no AS INTEGER) AS chunk_no,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(LEN(STRING_SPLIT(chunk, ' ')) AS INTEGER) AS chunk_tokens,
           MD5(chunk) AS chunk_fp
         FROM c ORDER BY doc_id, chunk_no""",

    "text_ttr" ->
      """SELECT doc_id,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INTEGER)
             AS n_types,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
           ROUND(CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')), 6) AS ttr
         FROM documents ORDER BY doc_id""",

    "text_quality_model" ->
      """WITH f AS (
           SELECT doc_id,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
             ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t = 'the' OR t = 'a')) AS DOUBLE)
               / LEN(STRING_SPLIT(text, ' ')), 6) AS stop_ratio,
             ROUND(CAST(LENGTH(text) - LEN(STRING_SPLIT(text, ' ')) + 1 AS DOUBLE)
               / LEN(STRING_SPLIT(text, ' ')), 6) AS avg_token_len
           FROM documents),
         s AS (
           SELECT doc_id,
             ROUND(1.0 / (1.0 + EXP(-(-2.0 + 6.0 * stop_ratio
               - 0.3 * avg_token_len + 0.5 * LN(1.0 + n_tokens)))), 6) AS score
           FROM f)
         SELECT doc_id, score,
           CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS keep
         FROM s ORDER BY doc_id""",

    "text_fingerprint" ->
      """SELECT doc_id, MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'))) AS fp,
         CAST(OCTET_LENGTH(ENCODE(text)) AS INTEGER) AS n_bytes
         FROM documents ORDER BY doc_id""",

    "dedup_exact" ->
      """SELECT MD5(text) AS h, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
         FROM (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text FROM documents)
         GROUP BY h HAVING COUNT(*) > 1 ORDER BY keep_id""",

    // Inverted-index form of the pairwise-jaccard truth, NOT the naive
    // all-pairs scan: |a ∩ b| is counted by the shared-shingle equi-join
    // (per-doc lists are LIST_DISTINCT, so COUNT(*) is exact) and
    // |a ∪ b| = |a| + |b| − |a ∩ b|, the same integers the list form
    // computes — the division and 6-dp round are bit-identical. Any pair
    // with jaccard ≥ 0.5 > 0 shares a shingle, so the candidate set is
    // lossless. Same result, ~100× cheaper at sf0.1 (95 s → 0.9 s —
    // this and the apply twin were the top two oracles of the selfcheck
    // wall after the r12 eval-truth fix).
    "dedup_jaccard_pairs" ->
      """WITH sh AS (
           SELECT doc_id, LIST_DISTINCT(CASE WHEN LEN(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN RANGE(1, LEN(toks) - 1)]
             ELSE [ARRAY_TO_STRING(toks, ' ')] END) AS s
           FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents)),
         ex AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
         sz AS (SELECT doc_id, LEN(s) AS n FROM sh),
         inter AS (
           SELECT a.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.g = b.g
           WHERE a.doc_id % 10 = 0 AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT left_id, right_id,
           ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = left_id
         JOIN sz sb ON sb.doc_id = right_id
         WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
         ORDER BY left_id, right_id""",

    // SNM: blocking key, in-block rank, window-banded candidates, string-
    // shingle Jaccard verify (same hashed-vs-string parity argument as
    // dedup_jaccard_pairs: a 64-bit shingle collision is the only
    // divergence and none occur on this corpus).
    "dedup_fuzzy" ->
      """WITH base AS (SELECT p_partkey AS id, p_name AS name
                       FROM part WHERE p_partkey < 300),
          var AS (SELECT id + 100000 AS id,
              concat(substr(name, 1, CAST(pos AS INT) - 1),
                     substr(name, CAST(pos AS INT) + 1)) AS name
            FROM (SELECT id, name,
                    id % GREATEST(length(name) - 1, 1) + 1 AS pos FROM base)),
          c AS (SELECT * FROM base UNION ALL SELECT * FROM var)
          SELECT a.id AS left_id, b.id AS right_id,
            CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
          FROM c a, c b
          WHERE a.id < b.id
            AND abs(length(a.name) - length(b.name)) <= 1
            AND levenshtein(a.name, b.name) <= 1
          ORDER BY left_id, right_id""",

    "dedup_snm" ->
      """WITH d AS (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS toks
                    FROM documents),
         sh AS (
           SELECT doc_id, LIST_DISTINCT(CASE WHEN LEN(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN RANGE(1, LEN(toks) - 1)]
             ELSE [ARRAY_TO_STRING(toks, ' ')] END) AS s
           FROM d),
         rk AS (
           SELECT doc_id, ARRAY_TO_STRING(toks[1:3], ' ') AS blk,
             ROW_NUMBER() OVER (PARTITION BY ARRAY_TO_STRING(toks[1:3], ' ')
               ORDER BY text, doc_id) AS rn
           FROM d),
         cand AS (
           SELECT a.doc_id AS l, b.doc_id AS r
           FROM rk a JOIN rk b
           ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3),
         ver AS (
           SELECT LEAST(l, r) AS left_id, GREATEST(l, r) AS right_id,
             ROUND(CAST(LEN(LIST_INTERSECT(sa.s, sb.s)) AS DOUBLE)
               / LEN(LIST_DISTINCT(LIST_CONCAT(sa.s, sb.s))), 6) AS jaccard
           FROM cand JOIN sh sa ON sa.doc_id = l JOIN sh sb ON sb.doc_id = r)
         SELECT left_id, right_id, jaccard FROM ver WHERE jaccard >= 0.5
         ORDER BY left_id, right_id""",

    // Blocking eval: the dedup_snm candidate machinery WITHOUT the verify
    // gate, measured against the full exact truth (same hashed-vs-string
    // shingle parity argument as dedup_snm). Truth is the inverted-index
    // overlap count, not a quadratic pair scan: every J >= 0.5 pair
    // shares a shingle, the self-join group count is |a∩b|, and
    // J = c/(na+nb-c) reproduces LIST_INTERSECT/LIST_DISTINCT(CONCAT)
    // arithmetic on identical integers (bit-identical ROUND input).
    "eval_blocking" ->
      """WITH d AS (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS toks
                    FROM documents),
         sh AS (
           SELECT doc_id, LIST_DISTINCT(CASE WHEN LEN(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN RANGE(1, LEN(toks) - 1)]
             ELSE [ARRAY_TO_STRING(toks, ' ')] END) AS s
           FROM d),
         rk AS (
           SELECT doc_id, ARRAY_TO_STRING(toks[1:3], ' ') AS blk,
             ROW_NUMBER() OVER (PARTITION BY ARRAY_TO_STRING(toks[1:3], ' ')
               ORDER BY text, doc_id) AS rn
           FROM d),
         cand AS MATERIALIZED (
           SELECT LEAST(a.doc_id, b.doc_id) AS left_id,
             GREATEST(a.doc_id, b.doc_id) AS right_id
           FROM rk a JOIN rk b
           ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3),
         shx AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
         ssz AS (SELECT doc_id, LEN(s) AS n FROM sh),
         sov AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS c
           FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         truth AS MATERIALIZED (
           SELECT left_id, right_id
           FROM sov JOIN ssz sa ON sa.doc_id = left_id
             JOIN ssz sb ON sb.doc_id = right_id
           WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.5),
         captured AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
         SELECT n_docs, n_candidates, n_truth, n_captured,
           ROUND(1.0 - 2.0 * n_candidates / (n_docs * (n_docs - 1)), 6)
             AS reduction_ratio,
           ROUND(CAST(n_captured AS DOUBLE) / n_truth, 4) AS pair_completeness
         FROM (SELECT
           (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM captured) AS n_captured)""",

    // Next-fit packing replayed: the per-group walk is a linear
    // recurrence (fill resets when the doc doesn't fit), unrolled by the
    // recursive CTE one row per step per group. r MUST be MATERIALIZED:
    // the recursive part joins r every step, and DuckDB's default CTE
    // inlining re-tokenized every document per step (38 s → 2 s at
    // sf0.1, result identical).
    "text_pack_seq" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, lang,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS MATERIALIZED (SELECT doc_id, lang, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           FROM t),
         rec(lang, rn, doc_id, n_tokens, bin, fill) AS (
           SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.lang, r.rn, r.doc_id, r.n_tokens,
             CASE WHEN rec.fill + r.n_tokens <= 256 THEN rec.bin
               ELSE rec.bin + 1 END,
             CASE WHEN rec.fill + r.n_tokens <= 256
               THEN rec.fill + r.n_tokens ELSE r.n_tokens END
           FROM rec JOIN r ON r.lang = rec.lang AND r.rn = rec.rn + 1)
         SELECT doc_id, lang, n_tokens, CAST(bin AS BIGINT) AS seq_id
         FROM rec ORDER BY doc_id""",

    "text_bm25" -> bm25OracleSql,
    "text_bm25_prf" -> bm25PrfOracleSql,

    // the durable-index path and the frozen-profile scan-local path both
    // return bit-identical rankings, so they share the inline oracle
    "text_bm25_indexed" -> bm25OracleSql,
    "text_bm25_profile" -> bm25OracleSql,

    "text_entropy" ->
      s"""WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
                     FROM documents),
          c AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY doc_id, term),
          n AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
          s AS (SELECT c.doc_id,
                  ROUND(-(CAST(c.c AS DOUBLE) / n.n)
                    * LOG2(CAST(c.c AS DOUBLE) / n.n), 6) AS h
                FROM c JOIN n ON c.doc_id = n.doc_id)
          SELECT doc_id, ${sqlDsum("h")} AS entropy
          FROM s GROUP BY doc_id ORDER BY doc_id""",

    "text_tfidf_top_terms" ->
      """WITH terms AS (
           SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
         df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term),
         n AS (SELECT COUNT(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * LN(CAST(n.n AS DOUBLE) / df.df), 6) AS score
           FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
           WHERE tf.doc_id < 50)
         SELECT doc_id, term, score, CAST(rn AS INTEGER) AS rnk FROM (
           SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
           FROM scored)
         WHERE rn <= 3 ORDER BY doc_id, rnk""",

    "profile_chi2" ->
      """WITH cells AS (SELECT lang, source, COUNT(*) AS o
                        FROM documents GROUP BY lang, source),
         rt AS (SELECT lang, SUM(o) AS rl FROM cells GROUP BY lang),
         ct AS (SELECT source, SUM(o) AS rs FROM cells GROUP BY source),
         n AS (SELECT COUNT(*) AS n FROM documents),
         grid AS (SELECT rt.lang, ct.source, rt.rl, ct.rs,
                    COALESCE(c.o, 0) AS o
                  FROM rt CROSS JOIN ct
                  LEFT JOIN cells c
                    ON c.lang = rt.lang AND c.source = ct.source),
         t AS (SELECT g.lang, g.source, g.o,
                 ROUND(CAST(g.rl * g.rs AS DOUBLE) / n.n, 6) AS e
               FROM grid g CROSS JOIN n),
         t2 AS (SELECT lang, source, o, e,
                  ROUND((o - e) * (o - e) / e, 6) AS term FROM t)
         SELECT lang, source, o, e, term,
           CAST(SUM(CAST(term AS DECIMAL(18,6))) OVER () AS DOUBLE) AS chi2
         FROM t2 ORDER BY lang, source""",

    "text_textrank" -> {
      // Word co-occurrence graph in SQL (list comprehension over
      // adjacent token pairs, canonicalized u<v then fanned both ways),
      // then the same unrolled 5-iteration integer PageRank replay as
      // the graph_pagerank oracle, and the top-20 rank window.
      val scale = graft.operators.LinkAnalysis.Scale
      def iterCte(k: Int, prev: String) =
        s"""it$k AS MATERIALIZED (
            SELECT nodes.node,
              (${15L * scale} // (100 * (SELECT n FROM nn))) +
              ((85 * COALESCE(agg.s, 0)) // 100) AS pr
            FROM nodes LEFT JOIN (
              SELECT e.dst, CAST(SUM(p.pr // o.deg) AS BIGINT) AS s
              FROM e
              JOIN $prev p ON e.src = p.node
              JOIN outdeg o ON e.src = o.src
              GROUP BY e.dst) agg ON nodes.node = agg.dst)"""
      s"""WITH tok AS (
            SELECT STRING_SPLIT(text, ' ') AS ts FROM documents
            WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
          pr0 AS (
            SELECT DISTINCT LEAST(p[1], p[2]) AS u, GREATEST(p[1], p[2]) AS v
            FROM (SELECT UNNEST([[ts[i], ts[i + 1]]
                    FOR i IN RANGE(1, LEN(ts))]) AS p
                  FROM tok)
            WHERE p[1] <> p[2]),
          e AS MATERIALIZED (
            SELECT u AS src, v AS dst FROM pr0
            UNION ALL SELECT v, u FROM pr0),
          nodes AS (SELECT DISTINCT src AS node FROM e),
          nn AS (SELECT COUNT(*) AS n FROM nodes),
          outdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
          it0 AS (SELECT node, $scale // (SELECT n FROM nn) AS pr FROM nodes),
          ${iterCte(1, "it0")}, ${iterCte(2, "it1")}, ${iterCte(3, "it2")},
          ${iterCte(4, "it3")}, ${iterCte(5, "it4")}
          SELECT word, pr, CAST(rn AS INTEGER) AS rnk FROM (
            SELECT node AS word, pr,
              ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS rn
            FROM it5)
          WHERE rn <= 20 ORDER BY rnk"""
    },

    "text_quality_filter" ->
      """SELECT doc_id, lang, CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens
         FROM documents
         WHERE LEN(STRING_SPLIT(text, ' ')) BETWEEN 20 AND 400
           AND ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t = 'the' OR t = 'a')) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 6) < 0.12
         ORDER BY doc_id""",

    // Same inverted-index truth as dedup_jaccard_pairs (see there for the
    // losslessness argument); `dupes` is its right-id projection.
    "dedup_jaccard_apply" ->
      """WITH sh AS (
           SELECT doc_id, LIST_DISTINCT(CASE WHEN LEN(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN RANGE(1, LEN(toks) - 1)]
             ELSE [ARRAY_TO_STRING(toks, ' ')] END) AS s
           FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents)),
         ex AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
         sz AS (SELECT doc_id, LEN(s) AS n FROM sh),
         inter AS (
           SELECT a.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS i
           FROM ex a JOIN ex b ON a.g = b.g
           WHERE a.doc_id % 10 = 0 AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         dupes AS (
           SELECT DISTINCT right_id AS doc_id
           FROM inter
           JOIN sz sa ON sa.doc_id = left_id
           JOIN sz sb ON sb.doc_id = right_id
           WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5)
         SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM dupes)
         ORDER BY doc_id""",

    // The stopword-profile argmax recomputed in SQL: distinct lowercase
    // tokens, per-language intersection counts, alphabetical tie-break,
    // 'und' on zero hits — exactly LangId.detect.
    "text_langid" ->
      s"""WITH $langIdPredCtes
         SELECT doc_id, lang, predicted_lang
         FROM pred ORDER BY doc_id""",

    // The full MinHash-LSH pipeline replayed in SQL: portable shingle
    // hashes (char polys + mix32), 32 per-perm minima, band-key folds,
    // the >1 / <=1024 bucket window, exact hashed-set Jaccard verify.
    "dedup_minhash_lsh" ->
      s"""WITH $minhashVerCtes
         SELECT left_id, right_id, jaccard FROM ver WHERE jaccard >= 0.5
         ORDER BY left_id, right_id""",

    // Near-dup clustering: the minhash pipeline above feeds a transitive
    // closure (recursive CTE = the SQL twin of the large-star/small-star
    // rounds), labeling every doc with the min id reachable through
    // verified near-dup pairs; singletons label themselves.
    "dedup_components" ->
      s"""WITH RECURSIVE $minhashVerCtes,
         pairs AS MATERIALIZED (SELECT left_id, right_id FROM ver WHERE jaccard >= 0.5),
         cedges AS MATERIALIZED (SELECT left_id AS ea, right_id AS eb FROM pairs
                    UNION ALL SELECT right_id, left_id FROM pairs),
         reach(id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.ea, r.lbl FROM cedges e JOIN reach r ON r.id = e.eb),
         comp AS MATERIALIZED (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id),
         csizes AS (SELECT component_id, COUNT(*) AS cluster_size
                    FROM comp GROUP BY component_id)
         SELECT CAST(comp.id AS BIGINT) AS doc_id,
           CAST(comp.component_id AS BIGINT) AS component_id,
           CAST(csizes.cluster_size AS BIGINT) AS cluster_size
         FROM comp JOIN csizes USING (component_id)
         ORDER BY doc_id""",

    "dedup_components_apply" ->
      s"""WITH RECURSIVE $minhashVerCtes,
         pairs AS MATERIALIZED (SELECT left_id, right_id FROM ver WHERE jaccard >= 0.5),
         cedges AS MATERIALIZED (SELECT left_id AS ea, right_id AS eb FROM pairs
                    UNION ALL SELECT right_id, left_id FROM pairs),
         reach(id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.ea, r.lbl FROM cedges e JOIN reach r ON r.id = e.eb),
         comp AS MATERIALIZED (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id)
         SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, d.n_chars
         FROM documents d JOIN comp ON comp.id = d.doc_id
         WHERE comp.id = comp.component_id
         ORDER BY doc_id""",

    "dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashVerCtes,
         pairs AS MATERIALIZED (SELECT left_id, right_id FROM ver WHERE jaccard >= 0.5),
         cedges AS MATERIALIZED (SELECT left_id AS ea, right_id AS eb FROM pairs
                    UNION ALL SELECT right_id, left_id FROM pairs),
         reach(id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.ea, r.lbl FROM cedges e JOIN reach r ON r.id = e.eb),
         comp AS MATERIALIZED (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id)
         SELECT component_id, kept_doc_id, lang, n_chars FROM (
           SELECT CAST(comp.component_id AS BIGINT) AS component_id,
             CAST(d.doc_id AS BIGINT) AS kept_doc_id, d.lang, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY comp.component_id
               ORDER BY d.n_chars DESC, d.doc_id) AS rn
           FROM documents d JOIN comp ON comp.id = d.doc_id)
         WHERE rn = 1 ORDER BY component_id""",

    "text_scrub_pii" ->
      """WITH w AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE '' END ||
             CASE WHEN doc_id % 2 = 0
               THEN ' see https://example.org/doc/' || CAST(doc_id AS VARCHAR)
               ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(t, 'https?://[^\s]+')) AS INTEGER) AS n_urls,
           MD5(REGEXP_REPLACE(
             REGEXP_REPLACE(t, 'https?://[^\s]+', '<URL>', 'g'),
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g')) AS scrubbed_fp
         FROM w ORDER BY doc_id""",

    "sample_curriculum" ->
      s"""WITH t AS (
           SELECT doc_id, lang,
             ${mixSql(s"(doc_id % 4294967296 + ${13L * 2654435761L}) % 4294967296")}
               % 1000003 AS k
           FROM documents),
         r AS (SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY k, doc_id) AS r
           FROM t)
         SELECT doc_id, lang, CAST(r AS INTEGER) AS r,
           CAST(ROW_NUMBER() OVER (ORDER BY r, lang) AS INTEGER) AS order_idx
         FROM r ORDER BY order_idx""",

    "sample_splits" ->
      s"""SELECT doc_id,
           CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid'
                ELSE 'test' END AS split
         FROM (SELECT doc_id,
           ${mixSql("(doc_id % 4294967296 + 2654435761) % 4294967296")} % 10 AS b
           FROM documents)
         ORDER BY doc_id""",

    // KMV replayed: the portable bucket at seed 31 (offset 31·φ₃₂ =
    // 82287508591), bottom-5 rank window, integer (k−1)·D ÷ hₖ estimate.
    "profile_kmv" ->
      s"""WITH hsh AS (
           SELECT doc_id, lang,
             ${mixSql("(doc_id % 4294967296 + 82287508591) % 4294967296")}
               % 1000003 AS h
           FROM documents),
         rk AS (SELECT doc_id, lang, h,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
               AS INTEGER) AS rn
           FROM hsh),
         kept AS (SELECT * FROM rk WHERE rn <= 5),
         kth AS (SELECT lang, h AS hk FROM kept WHERE rn = 5)
         SELECT kept.lang, kept.rn, kept.doc_id, kept.h,
           CAST(4 * 1000003 // kth.hk AS BIGINT) AS est_distinct
         FROM kept JOIN kth USING (lang)
         ORDER BY lang, rn""",

    // The Poisson(1) inverse-CDF draw replayed: portable bucket of
    // (doc_id·20 + replicate) at seed 17 (17·φ₃₂ = 45125407937), integer
    // CDF thresholds in 1e-6 units.
    "sample_bootstrap" ->
      s"""WITH r AS (
           SELECT d.doc_id, d.n_chars, g.r AS replicate,
             ${mixSql("((d.doc_id * 20 + g.r) % 4294967296 + 45125407937) % 4294967296")} % 1000000 AS b
           FROM documents d JOIN generate_series(0, 19) g(r) ON TRUE),
         k AS (SELECT replicate, n_chars,
             CASE WHEN b < 367879 THEN 0 WHEN b < 735758 THEN 1
                  WHEN b < 919698 THEN 2 WHEN b < 981011 THEN 3
                  WHEN b < 996340 THEN 4 WHEN b < 999405 THEN 5
                  WHEN b < 999916 THEN 6 ELSE 7 END AS k
           FROM r)
         SELECT CAST(replicate AS INTEGER) AS replicate,
           CAST(SUM(k) AS BIGINT) AS n_eff,
           COUNT(*) FILTER (WHERE k >= 1) AS n_docs,
           CAST(SUM(k * n_chars) AS BIGINT) AS chars_mass,
           ROUND(CAST(SUM(k * n_chars) AS DOUBLE) / SUM(k), 6) AS mean_chars
         FROM k GROUP BY replicate ORDER BY replicate""",

    // Confusion-derived per-class metrics over the shared langid replay:
    // tp/fp/fn as exact counts, one rounded division each.
    "eval_classifier" ->
      s"""WITH $langIdPredCtes,
         cls AS (SELECT lang AS class FROM pred
                 UNION SELECT predicted_lang FROM pred),
         m AS (SELECT cls.class,
             (SELECT COUNT(*) FROM pred
              WHERE predicted_lang = cls.class AND lang = cls.class) AS tp,
             (SELECT COUNT(*) FROM pred
              WHERE predicted_lang = cls.class AND lang <> cls.class) AS fp,
             (SELECT COUNT(*) FROM pred
              WHERE lang = cls.class AND predicted_lang <> cls.class) AS fn
           FROM cls)
         SELECT class, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN 0.0
             ELSE ROUND(tp / (tp + fp), 6) END AS precision,
           CASE WHEN tp + fn = 0 THEN 0.0
             ELSE ROUND(tp / (tp + fn), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
             ELSE ROUND(2 * tp / (2 * tp + fp + fn), 6) END AS f1
         FROM m ORDER BY class""",

    "text_rake" ->
      """WITH t AS (
           SELECT doc_id, u.tok AS tok, u.pos AS pos,
             u.tok IN ('the','a','of','and','to','in','is','with') AS stop
           FROM documents,
           LATERAL (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok,
                    UNNEST(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1)) AS pos) u),
         isl AS (
           SELECT doc_id, tok, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM t WHERE NOT stop),
         ph AS (
           SELECT doc_id, grp, LIST(tok ORDER BY pos) AS words
           FROM isl GROUP BY doc_id, grp HAVING COUNT(*) <= 4),
         wstats AS (
           SELECT w.word, COUNT(*) AS freq,
             CAST(SUM(LEN(ph.words)) AS BIGINT) AS degree
           FROM ph, LATERAL (SELECT UNNEST(words) AS word) w
           GROUP BY w.word),
         dp AS (SELECT DISTINCT ARRAY_TO_STRING(words, ' ') AS phrase FROM ph),
         sc AS (SELECT dp.phrase, w.word
                FROM dp, LATERAL (SELECT UNNEST(STRING_SPLIT(dp.phrase, ' '))
                                  AS word) w)
         SELECT phrase,
           CAST(SUM(CAST(ROUND(CAST(degree AS DOUBLE) / freq, 6)
             AS DECIMAL(18,6))) AS DOUBLE) AS score,
           COUNT(*) AS n_words
         FROM sc JOIN wstats USING (word)
         GROUP BY phrase ORDER BY score DESC, phrase LIMIT 20""",

    "text_oov" ->
      """WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
                    FROM documents),
         v AS (SELECT term FROM (
                 SELECT term, COUNT(*) AS n FROM t GROUP BY term)
               ORDER BY n DESC, term LIMIT 16)
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE t.term NOT IN (SELECT term FROM v))
             AS BIGINT) AS n_oov,
           ROUND(CAST(COUNT(*) FILTER (WHERE t.term NOT IN
               (SELECT term FROM v)) AS BIGINT)
             / COUNT(*), 6) AS oov_rate
         FROM t GROUP BY doc_id ORDER BY doc_id""",

    "eval_calibration" ->
      """WITH t AS (
           SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '\s+')) AS toks
           FROM documents),
         sc AS (SELECT doc_id, y,
             ROUND(CAST(LEN(LIST_INTERSECT(toks,
               ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'with'])) AS DOUBLE)
               / LEN(toks), 6) AS s
           FROM t),
         b AS (SELECT y, s, NTILE(10) OVER (ORDER BY s, doc_id) AS bin
               FROM sc),
         g AS (SELECT CAST(bin AS INTEGER) AS bin, COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS mean_score,
             ROUND(CAST(SUM(y) AS BIGINT) / COUNT(*), 6) AS pos_rate
           FROM b GROUP BY bin)
         SELECT bin, n, mean_score, pos_rate,
           ROUND(mean_score - pos_rate, 6) AS gap
         FROM g ORDER BY bin""",

    // Tie-corrected Mann–Whitney AUC with integer 2·midrank arithmetic —
    // the single double division shared textually with the engine.
    "eval_auc" ->
      """WITH t AS (
           SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '\s+')) AS toks
           FROM documents),
         sc AS (SELECT y,
             ROUND(CAST(LEN(LIST_INTERSECT(toks,
               ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'with'])) AS DOUBLE)
               / LEN(toks), 6) AS s
           FROM t),
         rk AS (SELECT y,
             MIN(rn) OVER (PARTITION BY s) + MAX(rn) OVER (PARTITION BY s)
               AS ar2
           FROM (SELECT y, s, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM sc)),
         agg AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg,
             CAST(SUM(CASE WHEN y = 1 THEN ar2 ELSE 0 END) AS BIGINT) AS rp2
           FROM rk)
         SELECT n_pos, n_neg,
           ROUND(CAST(rp2 - n_pos * (n_pos + 1) AS DOUBLE) /
             (2.0 * n_pos * n_neg), 6) AS auc
         FROM agg""",

    "text_pack_shards" ->
      """WITH t AS (
           SELECT doc_id, lang,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
           FROM t)
         SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id
         FROM c ORDER BY doc_id""",

    // Same 3-gram construction as the Jaccard oracles, WITHOUT the
    // distinct — repetition is measured on the raw gram stream.
    "text_repetition" ->
      """WITH g AS (
           SELECT doc_id, CASE WHEN LEN(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN RANGE(1, LEN(toks) - 1)]
             ELSE [ARRAY_TO_STRING(toks, ' ')] END AS grams
           FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents))
         SELECT doc_id,
           CAST(LEN(grams) AS INTEGER) AS n_grams,
           CAST(LEN(LIST_DISTINCT(grams)) AS INTEGER) AS n_distinct_grams,
           ROUND(1.0 - CAST(LEN(LIST_DISTINCT(grams)) AS DOUBLE) / LEN(grams), 6) AS rep_ratio
         FROM g ORDER BY doc_id""",

    // Winnowing sketch recomputed from scratch in SQL: poly-31 gram hash
    // (ORD == UTF-16 unit on the ASCII corpus), window minima, distinct.
    "text_winnow_sketch" ->
      """WITH grams AS (
           SELECT doc_id, i,
               ORD(SUBSTR(text, i, 1)) * 923521 + ORD(SUBSTR(text, i+1, 1)) * 29791
             + ORD(SUBSTR(text, i+2, 1)) * 961 + ORD(SUBSTR(text, i+3, 1)) * 31
             + ORD(SUBSTR(text, i+4, 1)) AS g,
             LEN(text) - 4 AS ng
           FROM (SELECT doc_id, text,
                   UNNEST(RANGE(1, GREATEST(LEN(text) - 3, 1))) AS i FROM documents)),
         wins AS (
           SELECT doc_id, i, ng,
             MIN(g) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           FROM grams),
         sk AS (SELECT DISTINCT doc_id, m FROM wins WHERE i <= ng - 3)
         SELECT d.doc_id, CAST(COALESCE(COUNT(sk.m), 0) AS INTEGER) AS sketch_size,
                CAST(COALESCE(SUM(sk.m), 0) AS BIGINT) AS sketch_sum
         FROM documents d LEFT JOIN sk ON d.doc_id = sk.doc_id
         GROUP BY d.doc_id ORDER BY d.doc_id""",

    // The decontamination check replayed end-to-end: 5-gram shingles →
    // portable char-poly + mix32 hash (same stack as minhash) → distinct
    // eval grams → per-train-doc overlap count.
    "text_decontam" ->
      s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
         shs AS (
           SELECT doc_id, LIST_DISTINCT(CASE WHEN LEN(t) >= 5
             THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
                   FOR i IN RANGE(1, LEN(t) - 3)]
             ELSE [ARRAY_TO_STRING(t, ' ')] END) AS s
           FROM toks),
         shex AS (SELECT doc_id, UNNEST(s) AS sh FROM shs),
         pp AS (SELECT doc_id, ${polySql("sh", 31)} AS p1,
                       ${polySql("sh", 37)} AS p2 FROM shex),
         hh AS (SELECT DISTINCT doc_id, ${tokenHashSql("p1", "p2")} AS h FROM pp),
         ev AS (SELECT DISTINCT h FROM hh WHERE doc_id % 10 = 7),
         ov AS (SELECT hh.doc_id, COUNT(*) AS n_shared
                FROM hh JOIN ev USING (h) WHERE hh.doc_id % 10 <> 7
                GROUP BY hh.doc_id)
         SELECT d.doc_id, COALESCE(ov.n_shared, 0) AS n_shared,
           CAST(COALESCE(ov.n_shared, 0) > 0 AS INTEGER) AS contaminated
         FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id
         WHERE d.doc_id % 10 <> 7 ORDER BY d.doc_id""",

    "text_decontam_apply" ->
      s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
         shs AS (
           SELECT doc_id, LIST_DISTINCT(CASE WHEN LEN(t) >= 5
             THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
                   FOR i IN RANGE(1, LEN(t) - 3)]
             ELSE [ARRAY_TO_STRING(t, ' ')] END) AS s
           FROM toks),
         shex AS (SELECT doc_id, UNNEST(s) AS sh FROM shs),
         pp AS (SELECT doc_id, ${polySql("sh", 31)} AS p1,
                       ${polySql("sh", 37)} AS p2 FROM shex),
         hh AS (SELECT DISTINCT doc_id, ${tokenHashSql("p1", "p2")} AS h FROM pp),
         ev AS (SELECT DISTINCT h FROM hh WHERE doc_id % 10 = 7),
         ov AS (SELECT hh.doc_id, COUNT(*) AS n_shared
                FROM hh JOIN ev USING (h) WHERE hh.doc_id % 10 <> 7
                GROUP BY hh.doc_id)
         SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
         FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id
         WHERE d.doc_id % 10 <> 7 AND COALESCE(ov.n_shared, 0) < 2
         ORDER BY d.doc_id""",

    "profile_psi" ->
      """WITH d AS (SELECT LEAST(n_chars, 639) // 40 AS bin,
             doc_id % 2 = 0 AS is_ref FROM documents),
         c AS (SELECT bin, COUNT(*) FILTER (is_ref) AS n_ref,
             COUNT(*) FILTER (NOT is_ref) AS n_cur FROM d GROUP BY bin),
         t AS (SELECT COUNT(*) FILTER (is_ref) AS tr,
             COUNT(*) FILTER (NOT is_ref) AS tc FROM d),
         g AS (SELECT i AS bin FROM generate_series(0, 15) s(i)),
         j AS (SELECT g.bin, COALESCE(c.n_ref, 0) AS n_ref,
             COALESCE(c.n_cur, 0) AS n_cur, t.tr, t.tc
           FROM g LEFT JOIN c USING (bin) CROSS JOIN t),
         p AS (SELECT bin, n_ref, n_cur,
             FLOOR(((n_cur + 1.0) / (tc + 16) - (n_ref + 1.0) / (tr + 16))
               * LN(((n_cur + 1.0) / (tc + 16))
                 / ((n_ref + 1.0) / (tr + 16))) * 1e6) / 1e6 AS psi_term
           FROM j)
         SELECT CAST(bin AS INTEGER) AS bin, n_ref, n_cur, psi_term,
           FLOOR(SUM(psi_term) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1e6) / 1e6
             AS psi_total
         FROM p ORDER BY bin""",

    "eval_dedup_recall" ->
      s"""WITH $minhashVerCtes,
         hsz AS (SELECT doc_id, LEN(hs) AS n FROM hset),
         hov AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS c
           FROM hh a JOIN hh b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         truth AS MATERIALIZED (
           SELECT left_id, right_id
           FROM hov JOIN hsz sa ON sa.doc_id = left_id
             JOIN hsz sb ON sb.doc_id = right_id
           WHERE ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.5),
         emitted AS MATERIALIZED (SELECT left_id, right_id FROM ver WHERE jaccard >= 0.5),
         matched AS (SELECT * FROM emitted INTERSECT SELECT * FROM truth)
         SELECT n_truth, n_emitted, n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_truth, 4) AS recall
         FROM (SELECT
           (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM emitted) AS n_emitted,
           (SELECT COUNT(*) FROM matched) AS n_matched)""",

    "profile_sources" ->
      """WITH d AS (SELECT source, lang,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS tk
           FROM documents),
         tot AS (SELECT SUM(tk) AS t FROM d)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(tk) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT lang) AS n_langs,
           ROUND(CAST(SUM(tk) AS DOUBLE) / CAST(tot.t AS DOUBLE), 6)
             AS token_share
         FROM d CROSS JOIN tot
         GROUP BY source, tot.t ORDER BY source""",

    "sample_weighted" ->
      s"""WITH w AS (
           SELECT doc_id, lang,
             ROUND(-LN((${mixSql("(doc_id % 4294967296 + 11 * 2654435761) % 4294967296")} % 1000003 + 1) / 1000003.0)
               / n_chars, 6) AS wkey
           FROM documents)
         SELECT doc_id, lang, wkey, CAST(rn AS INTEGER) AS rn FROM (
           SELECT doc_id, lang, wkey,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY wkey, doc_id) AS rn
           FROM w)
         WHERE rn <= 20 ORDER BY doc_id""",

    "sample_cap" ->
      s"""SELECT doc_id, source, CAST(rn AS INTEGER) AS rn FROM (
           SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY ${mixSql("(doc_id % 4294967296 + 7 * 2654435761) % 4294967296")} % 1000003,
                        doc_id) AS rn
           FROM documents)
         WHERE rn <= 10 ORDER BY doc_id""",

    "text_gopher" ->
      """WITH t AS (
           SELECT doc_id, lang, text, STRING_SPLIT(text, ' ') AS toks FROM documents),
         m AS (
           SELECT doc_id, lang,
             CAST(LEN(toks) AS INTEGER) AS n_words,
             ROUND(CAST(LENGTH(text) - LEN(toks) + 1 AS DOUBLE) / LEN(toks), 6) AS mean_word_len,
             ROUND(CAST(LEN(LIST_FILTER(toks, w -> REGEXP_MATCHES(w, '[a-zA-Z]'))) AS DOUBLE)
               / LEN(toks), 6) AS alpha_ratio,
             CAST(LEN(LIST_FILTER(toks,
               w -> LIST_CONTAINS(['the','a','of','and','to','in','is','with'], w))) AS INTEGER) AS stop_hits
           FROM t)
         SELECT doc_id, lang, n_words, mean_word_len, alpha_ratio, stop_hits,
           CAST(n_words BETWEEN 20 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
             AND alpha_ratio > 0.8 AND stop_hits >= 2 AS INTEGER) AS keep
         FROM m ORDER BY doc_id""",

    "sample_strat" ->
      s"""SELECT doc_id, lang FROM documents
         WHERE ${mixSql("(doc_id % 4294967296 + 3 * 2654435761) % 4294967296")} % 1000
           < CASE WHEN lang = 'en' THEN 500 ELSE 200 END
         ORDER BY doc_id""",

    "text_pmi" ->
      s"""WITH tk AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
                      FROM documents),
         uni AS (SELECT UNNEST(toks) AS tok FROM tk),
         cu AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
         t1s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t1 FROM uni),
         bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
                FROM tk CROSS JOIN
                  UNNEST(generate_series(1, LEN(toks) - 1)) AS g(i)),
         t2s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t2 FROM bg),
         cbg AS (SELECT w1, w2, COUNT(*) AS cab FROM bg GROUP BY w1, w2),
         j AS (SELECT w1, w2, cab, cu1.c AS ca, cu2.c AS cb, t1, t2
               FROM cbg JOIN cu cu1 ON cbg.w1 = cu1.tok
                 JOIN cu cu2 ON cbg.w2 = cu2.tok
                 CROSS JOIN t1s CROSS JOIN t2s
               WHERE cab >= 5),
         p AS (SELECT w1, w2, cab,
                 ${graft.operators.TextScoring.PmiExprSql} AS pmi FROM j)
         SELECT w1, w2, cab, pmi, CAST(rn AS INTEGER) AS rnk FROM (
           SELECT w1, w2, cab, pmi,
             ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rn FROM p)
         WHERE rn <= 20 ORDER BY rnk""",

    "text_len_hist" ->
      """WITH t AS (SELECT CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER)
                      AS n_tokens FROM documents),
         g AS (SELECT CAST(n_tokens // 16 AS BIGINT) AS bucket,
                 COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS tok_sum
               FROM t GROUP BY 1)
         SELECT bucket, n_docs, tok_sum,
           ROUND(CAST(SUM(n_docs) OVER (ORDER BY bucket) AS DOUBLE)
             / SUM(n_docs) OVER (), 6) AS cum_share
         FROM g ORDER BY bucket""",

    "sample_mixture" ->
      s"""WITH $mixturePlanCte
         SELECT lang, n_docs, target_share, take_docs,
           ROUND(CASE WHEN n_docs = 0 THEN 0 ELSE take_docs / n_docs END, 6)
             AS rate
         FROM plan ORDER BY lang""",

    "sample_mixture_apply" ->
      s"""WITH $mixturePlanCte,
         r AS (SELECT d.doc_id, d.lang, take_docs,
                 ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY
                   ${mixSql("(doc_id % 4294967296 + 5 * 2654435761) % 4294967296")}
                     % 1000003, d.doc_id) AS rn
               FROM documents d JOIN plan USING (lang))
         SELECT doc_id, lang FROM r WHERE rn <= take_docs
         ORDER BY doc_id""",

    "text_pctl" ->
      """WITH t AS (
           SELECT doc_id, lang,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens
           FROM documents),
         r AS (
           SELECT doc_id, lang, n_tokens,
             ROUND(PERCENT_RANK() OVER (
               PARTITION BY lang ORDER BY n_tokens, doc_id), 6) AS pr
           FROM t)
         SELECT doc_id, lang, n_tokens, pr FROM r
         WHERE pr <= 0.9 ORDER BY doc_id""",

    // Full SimHash pipeline recomputed in SQL: portable token hash
    // (char polys + Wang-mix per 32-bit half), per-bit majority vote,
    // 16-bit banded buckets with the 1024 cap, hamming<=3 verify.
    "dedup_simhash" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id,
                  REGEXP_REPLACE(text, '^[^ ]+ ', '') AS text FROM documents),
         toks AS (
           SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM corpus),
         p AS (
           SELECT doc_id,
             LIST_REDUCE(LIST_PREPEND(0::BIGINT,
                 [ORD(c) FOR c IN REGEXP_SPLIT_TO_ARRAY(tok, '') IF c <> '']),
               (a, b) -> (a * 31 + b) & 4294967295) AS p1,
             LIST_REDUCE(LIST_PREPEND(0::BIGINT,
                 [ORD(c) FOR c IN REGEXP_SPLIT_TO_ARRAY(tok, '') IF c <> '']),
               (a, b) -> (a * 37 + b) & 4294967295) AS p2
           FROM toks),
         m1 AS (SELECT doc_id, (XOR(p1, p1 >> 16) * 73244475) & 4294967295 AS p1,
                               (XOR(p2, p2 >> 16) * 73244475) & 4294967295 AS p2 FROM p),
         m2 AS (SELECT doc_id, (XOR(p1, p1 >> 16) * 73244475) & 4294967295 AS p1,
                               (XOR(p2, p2 >> 16) * 73244475) & 4294967295 AS p2 FROM m1),
         th AS (SELECT doc_id,
                  (XOR(p1, p1 >> 16) >> 1) * 4294967296 + XOR(p2, p2 >> 16) AS h FROM m2),
         bits AS (
           SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM th CROSS JOIN (SELECT UNNEST(RANGE(0, 63)) AS b) bs
           GROUP BY doc_id, b),
         sims AS (
           SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sim
           FROM bits GROUP BY doc_id),
         banded AS (
           SELECT doc_id, sim, band, (sim >> (band * 16)) & 65535 AS chunk
           FROM sims CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS band) bn),
         ok AS (
           SELECT band, chunk FROM banded GROUP BY band, chunk HAVING COUNT(*) <= 1024),
         cand AS (
           SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id,
                  a.sim AS ls, b.sim AS rs
           FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk
           JOIN ok ON ok.band = a.band AND ok.chunk = a.chunk
           WHERE a.doc_id < b.doc_id)
         SELECT left_id, right_id, CAST(BIT_COUNT(XOR(ls, rs)) AS INTEGER) AS hamming
         FROM cand WHERE BIT_COUNT(XOR(ls, rs)) <= 3
         ORDER BY left_id, right_id""",

    "multimodal_decode" ->
      """SELECT doc_id AS media_id, 'png' AS format,
         CAST(16 + doc_id % 32 AS INTEGER) AS width,
         CAST(16 + (doc_id // 32) % 32 AS INTEGER) AS height
         FROM documents ORDER BY media_id""",

    // dHash replayed from scratch: the fixture pixel at (x,y) of image id
    // is (id*2654435761 + x*40503 + y*65537) & 0xffffff (PNG is lossless,
    // so decode returns exactly this), perturbed copies overwrite the 2×2
    // top-left patch with grey 128. Luma/box-filter/packing use the same
    // integer ops as the Scala side; bit 63's term is the ready-made
    // two's-complement constant because DuckDB's 1<<63 overflows; the
    // HUGEINT sum of distinct power terms casts back to BIGINT exactly.
    // The banded join is replayed as the brute-force pair scan it provably
    // equals (maxHamming 6 < numBands 8, no bucket near the cap).
    "multimodal_phash" ->
      s"""WITH $phashBitsCtes
         SELECT left_id, right_id, hamming FROM (
           SELECT a.media_id AS left_id, b.media_id AS right_id,
             CAST(BIT_COUNT(XOR(a.h, b.h)) AS INTEGER) AS hamming
           FROM bits a JOIN bits b ON a.media_id < b.media_id)
         WHERE hamming <= 6
         ORDER BY left_id, right_id""",

    "dedup_phash_apply" ->
      s"""WITH RECURSIVE $phashBitsCtes,
         pairs AS (
           SELECT a.media_id AS left_id, b.media_id AS right_id
           FROM bits a JOIN bits b ON a.media_id < b.media_id
           WHERE BIT_COUNT(XOR(a.h, b.h)) <= 6),
         cedges AS (SELECT left_id AS ea, right_id AS eb FROM pairs
                    UNION ALL SELECT right_id, left_id FROM pairs),
         reach(id, lbl) AS (
           SELECT media_id, media_id FROM m
           UNION
           SELECT e.ea, r.lbl FROM cedges e JOIN reach r ON r.id = e.eb),
         comp AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
         SELECT CAST(id AS BIGINT) AS media_id FROM comp
         WHERE id = cluster_id ORDER BY media_id""",

    "multimodal_tar_layout" ->
      """SELECT doc_id, shard, entry_offset,
            entry_offset + 512 AS data_offset, size
          FROM (SELECT doc_id, shard, size,
            CAST(COALESCE(SUM(512 + ((size + 511) // 512) * 512) OVER (
              PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS entry_offset
            FROM (SELECT doc_id, doc_id // 50 AS shard,
                    CAST(strlen(text) AS BIGINT) AS size FROM documents))
          ORDER BY doc_id""",

    // Temperature resampling replayed exactly: per-language counts, keep
    // rate √(n_min/n) (÷ and √ are correctly-rounded IEEE ops on both
    // engines), integer threshold, portable per-row bucket.
    "sample_temperature" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS stratum_docs FROM documents GROUP BY lang),
         m AS (SELECT MIN(stratum_docs) AS nmin FROM c),
         r AS (SELECT lang, stratum_docs,
                 SQRT(CAST(nmin AS DOUBLE) / CAST(stratum_docs AS DOUBLE)) AS rate
               FROM c CROSS JOIN m)
         SELECT d.doc_id, d.lang, r.stratum_docs,
           ROUND(r.rate, 6) AS keep_rate,
           CAST(${mixSql("(doc_id % 4294967296 + 11 * 2654435761) % 4294967296")} % 1000003
                < CAST(FLOOR(r.rate * 1000003) AS BIGINT) AS INTEGER) AS keep
         FROM documents d JOIN r USING (lang)
         ORDER BY doc_id""",

    // Unigram cross-entropy: corpus token counts → per-token −ln p rounded
    // to 6 dp → exact DECIMAL sum per doc → nats/token.
    "text_unigram_ppl" ->
      """WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
         n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM t),
         c AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS cc FROM t GROUP BY tok)
         SELECT t.doc_id, COUNT(*) AS n_tokens,
           FLOOR(CAST(SUM(CAST(ROUND(-LN(c.cc / n.nn), 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) * 1000000.0) / 1000000.0 AS cross_entropy
         FROM t JOIN c USING (tok) CROSS JOIN n
         GROUP BY t.doc_id ORDER BY t.doc_id""",

    // Interpolated bigram LM replayed exactly: scan-local bigrams from the
    // token array, history/bigram/unigram count tables, identical float
    // expression tree (every individual op is correctly-rounded IEEE).
    "text_bigram_ppl" ->
      """WITH t AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
         n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM t),
         u AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS cu FROM t GROUP BY tok),
         tt AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS a FROM documents),
         b AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
               FROM (SELECT doc_id, a, UNNEST(RANGE(1, LEN(a))) AS i FROM tt)),
         cw1 AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM b GROUP BY w1),
         cb AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS cbn FROM b GROUP BY w1, w2)
         SELECT b.doc_id, COUNT(*) AS n_bigrams,
           FLOOR(CAST(SUM(CAST(ROUND(-LN(
               CAST(0.75 AS DOUBLE) * (cb.cbn / cw1.c1)
             + CAST(0.25 AS DOUBLE) * (u.cu / n.nn)), 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) * 1000000.0) / 1000000.0 AS cross_entropy
         FROM b JOIN cb USING (w1, w2) JOIN cw1 USING (w1)
           JOIN u ON u.tok = b.w2 CROSS JOIN n
         GROUP BY b.doc_id ORDER BY b.doc_id""",

    // DSIR: distinct word-bigram hashes (decontam's gram stack, n = 2) →
    // 1024 feature buckets → smoothed target/raw log-ratio per bucket →
    // exact DECIMAL sum of rounded terms per doc.
    "text_dsir" ->
      s"""WITH toks AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS t FROM documents),
         shs AS (
           SELECT doc_id, lang, CASE WHEN LEN(t) >= 2
             THEN [t[i] || ' ' || t[i+1] FOR i IN RANGE(1, LEN(t))]
             ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
           FROM toks),
         ex AS (SELECT doc_id, lang, UNNEST(s) AS sh FROM shs),
         pp AS (SELECT doc_id, lang, ${polySql("sh", 31)} AS p1,
                       ${polySql("sh", 37)} AS p2 FROM ex),
         hh AS (SELECT DISTINCT doc_id, lang, ${tokenHashSql("p1", "p2")} AS h FROM pp),
         f AS (SELECT doc_id, lang, h % 1024 AS b FROM hh),
         nr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
         nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f WHERE lang = 'en'),
         cr AS (SELECT b, COUNT(*) AS c FROM f GROUP BY b),
         ct AS (SELECT b, COUNT(*) AS c FROM f WHERE lang = 'en' GROUP BY b),
         lr AS (SELECT cr.b,
                  ROUND(LN((CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE) / (nt.n + 1024)) /
                           (CAST(cr.c + 1 AS DOUBLE) / (nr.n + 1024))), 6) AS lrv
                FROM cr LEFT JOIN ct USING (b) CROSS JOIN nt CROSS JOIN nr)
         SELECT f.doc_id, COUNT(*) AS n_feats,
           ROUND(CAST(SUM(CAST(lr.lrv AS DECIMAL(18,6))) AS DOUBLE), 6) AS log_weight
         FROM f JOIN lr USING (b)
         GROUP BY f.doc_id ORDER BY f.doc_id""",

    // Chunk dedup replayed: consecutive 10-token slices, global
    // first-occurrence rank on (doc_id, pos), ordered reassembly.
    "dedup_chunks" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, text FROM documents
           WHERE doc_id % 5 = 0),
         t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS a FROM corpus),
         c AS (SELECT doc_id, i AS pos,
                 ARRAY_TO_STRING(a[(i*10 + 1):(i*10 + 10)], ' ') AS chunk
               FROM (SELECT doc_id, a,
                       UNNEST(RANGE(0, CAST(CEIL(LEN(a) / 10.0) AS BIGINT))) AS i
                     FROM t)),
         r AS (SELECT doc_id, pos, chunk,
                 ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
               FROM c),
         k AS (SELECT doc_id, pos, chunk FROM r WHERE rn = 1),
         nk AS (SELECT doc_id, COUNT(*) AS n_kept,
                  STRING_AGG(chunk, ' ' ORDER BY pos) AS text_deduped
                FROM k GROUP BY doc_id),
         nc AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c GROUP BY doc_id)
         SELECT nc.doc_id, nc.n_chunks,
           COALESCE(nk.n_kept, 0) AS n_kept,
           MD5(COALESCE(nk.text_deduped, '')) AS dedup_md5
         FROM nc LEFT JOIN nk ON nc.doc_id = nk.doc_id
         ORDER BY nc.doc_id""",

    // Substring-overlap candidates recomputed from scratch: unreduced
    // poly-31 8-gram hashes, window-16 minima (winnowing), distinct
    // fingerprints, boilerplate cap, fingerprint self-join.
    "dedup_substring" ->
      """WITH grams AS (
           SELECT doc_id, i,
               ORD(SUBSTR(text, i, 1))::BIGINT * 27512614111 + ORD(SUBSTR(text, i+1, 1))::BIGINT * 887503681
             + ORD(SUBSTR(text, i+2, 1))::BIGINT * 28629151 + ORD(SUBSTR(text, i+3, 1))::BIGINT * 923521
             + ORD(SUBSTR(text, i+4, 1))::BIGINT * 29791 + ORD(SUBSTR(text, i+5, 1))::BIGINT * 961
             + ORD(SUBSTR(text, i+6, 1))::BIGINT * 31 + ORD(SUBSTR(text, i+7, 1))::BIGINT AS g,
             LEN(text) - 7 AS ng
           FROM (SELECT doc_id, text,
                   UNNEST(RANGE(1, GREATEST(LEN(text) - 6, 1))) AS i FROM documents)),
         wins AS (
           SELECT doc_id, i, ng,
             MIN(g) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS m
           FROM grams),
         sk AS (SELECT DISTINCT doc_id, m AS fp FROM wins WHERE i <= ng - 15),
         ok AS (SELECT fp FROM sk GROUP BY fp HAVING COUNT(*) <= 50),
         k AS (SELECT sk.doc_id, sk.fp FROM sk JOIN ok USING (fp))
         SELECT a.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS n_shared
         FROM k a JOIN k b USING (fp) WHERE a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id ORDER BY left_id, right_id""",

    "taxonomy_parse" ->
      """SELECT n_nationkey, r_name AS kingdom, n_name AS genus,
         LOWER(n_name) AS species, 'the ' || LOWER(n_name) AS common_name
         FROM nation JOIN region ON n_regionkey = r_regionkey
         ORDER BY n_nationkey"""
  ).filter(_._2.nonEmpty)
}

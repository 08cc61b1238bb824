package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{SortedLongJaccard, TextOps, VectorOps}

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup. The reference's only dedup is the idempotent
  * skip-existing ingest check (reference: vector_db.py:127-132); these
  * generalize it to content-level dedup designed for 100 TB:
  *
  *  - exact/fingerprint dedup is one hash-shuffle on a 16-byte key;
  *  - near-dup never materializes the O(n²) pair space — LSH band keys
  *    bucket the corpus so only same-bucket pairs are scored, which is a
  *    shuffle on band keys + a within-bucket self-join;
  *  - every candidate pair is exact-verified (Jaccard / Hamming / cosine)
  *    so precision is 1.0 and only recall depends on the LSH parameters.
  */
object Dedup {

  /** Exact dedup groups by content hash: one row per duplicated text with
    * the surviving (minimum) id and the number of copies. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("h"))
      .groupBy("h")
      .agg(count("*").as("n_copies"), min(idCol).as("keep_id"))
      .filter(col("n_copies") > 1)

  /** Keep one row per distinct content hash (min id wins) — the "apply"
    * form of exact dedup. */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Every i<j pair of members that share a bucket — the candidate step
    * of the banded dedup family ([[minhashPairs]], [[hamming64Pairs]],
    * [[winnowCandidates]]).
    *
    * A bucket is one value of `keyCols`; its members are its rows with a
    * non-null `idCol`. Buckets with fewer than 2 or more than
    * `maxBucketSize` members emit nothing. A degenerate key (boilerplate,
    * empty docs, a constant signature chunk) carries no near-dup signal
    * worth O(bucket²) pairs — standard LSH practice. The cap is applied
    * BEFORE any member list is built: a `count` window over the bucket
    * key sizes each bucket, a Filter drops the over-cap ones, and only
    * the survivors reach the `collect_list` aggregate. The window buffer
    * spills, so a corpus-sized bucket costs a sort, never a single-task
    * in-memory list; the expansion holds at most `maxBucketSize` members
    * and emits at most maxBucketSize²/2 pairs per bucket. Window and
    * aggregate share ONE exchange on the bucket key.
    *
    * @param pairParallelism explicit width of that exchange (a
    *   `repartition` on the key), 0 = the planner's; see
    *   [[hamming64Pairs]] for when to opt in.
    * @return (left_id, right_id: long, then left_p, right_p for each
    *   payload column p), members ordered by id. One row per pair per
    *   shared bucket: a pair that shares k buckets appears k times. */
  private[graft] def bucketPairs(
      banded: DataFrame,
      keyCols: Seq[String],
      idCol: String,
      payloadCols: Seq[String],
      maxBucketSize: Int,
      pairParallelism: Int = 0): DataFrame = {
    val keys = keyCols.map(col)
    val members = banded.filter(col(idCol).isNotNull)
    val pre =
      if (pairParallelism > 0) members.repartition(pairParallelism, keys: _*)
      else members
    val fields = "id" +: payloadCols
    pre
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .filter(col("__n") > 1 && col("__n") <= maxBucketSize)
      .groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col(idCol).cast("long").as("id") +:
        payloadCols.map(col): _*))).as("__ms"))
      // member i pairs with every later member: the array's suffix
      // after position i (slice is 1-based)
      .select(posexplode(col("__ms")).as(Seq("__i", "__l")), col("__ms"))
      .select(col("__l"), explode(slice(col("__ms"), col("__i") + 2,
        size(col("__ms")) - col("__i") - 1)).as("__r"))
      .select(fields.flatMap(f =>
        Seq(col(s"__l.$f").as(s"left_$f"), col(s"__r.$f").as(s"right_$f"))): _*)
  }

  /** MinHash-LSH near-dup pairs, exact-verified with shingle Jaccard.
    *
    * shingle → minhash(numPerms) → band keys → [[bucketPairs]] (the
    * bucket join, degenerate bands capped) → distinct candidate pair →
    * exact Jaccard ≥ threshold. Pair space is bounded by bucket sizes,
    * not n².
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.6,
      maxBucketSize: Int = 1024): DataFrame = {
    require(numBands >= 1 && rowsPerBand >= 1,
      s"minhashPairs: numBands ($numBands) and rowsPerBand ($rowsPerBand) " +
        "must be >= 1")
    requireIntegralId(docs, idCol, "minhashPairs")
    val numPerms = numBands * rowsPerBand
    // portable hash stack (shingle / perm / band) so the whole pipeline —
    // candidates AND verify — is bit-for-bit replayable by the DuckDB
    // `dedup_minhash_lsh` oracle
    val sh = docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        TextOps.portableHashedShinglesUdf(shingleSize)(col("__toks")).as("sh"))
    val allBands = sh
      .withColumn("band",
        explode(TextOps.portableBandsUdf(numBands, rowsPerBand)(
          TextOps.portableMinhashUdf(numPerms)(col("sh")))))
      .select("band", "id")
    // a degenerate band key (boilerplate / empty docs) is dropped by
    // [[bucketPairs]]' cap before its members are collected
    val cands = bucketPairs(allBands, Seq("band"), "id", Nil, maxBucketSize)
      .dropDuplicates("left_id", "right_id")
    cands
      .join(sh.select(col("id").as("left_id"), col("sh").as("left_sh")), Seq("left_id"))
      .join(sh.select(col("id").as("right_id"), col("sh").as("right_sh")), Seq("right_id"))
      .withColumn("jaccard",
        round(SortedLongJaccard.sortedJaccard(col("left_sh"), col("right_sh")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** SimHash near-dup pairs: 64-bit signature, banded into `numBands`
    * chunks (a pair within Hamming distance d < numBands must agree on at
    * least one chunk — pigeonhole), bucket-join on (band index, chunk),
    * exact-verify with `bit_count(xor)`.
    *
    * `maxBucketSize` is the [[bucketPairs]] cap: a degenerate chunk
    * (short/boilerplate docs collapsing to the same 16-bit value) would
    * make its bucket quadratic; such buckets carry no usable near-dup
    * signal at O(bucket²) cost, so they are dropped before their members
    * are collected — standard LSH practice, bounding the candidate space
    * and the per-bucket memory at any corpus shape. */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      numBands: Int = 4,
      maxBucketSize: Int = 1024): DataFrame = {
    requireIntegralId(docs, idCol, "simhashPairs")
    // near-dup text corpora have hot buckets (that is the point of the
    // query) — opt in to the explicit pair-stage width (see
    // hamming64Pairs' pairParallelism doc)
    hamming64Pairs(
      docs.select(col(idCol).cast("long").as("id"),
        TextOps.simhashFromTokensUdf(TextOps.tokens(col(textCol))).as("sim")),
      "id", "sim", maxHamming, numBands, maxBucketSize,
      pairParallelism =
        docs.sparkSession.sessionState.conf.numShufflePartitions)
  }

  /** Banded Hamming near-dup pairs over ANY 64-bit signature column
    * (simhash, image dHash, audio chromaprint word, …): split the word
    * into `numBands` chunks, bucket on (band, chunk) — by pigeonhole two
    * signatures within `maxHamming < numBands` share at least one chunk —
    * then XOR/POPCNT-verify the candidates exactly. One shuffle: the
    * signature rides along with the id through the bucket pass, so the
    * verify needs no join back. Over-cap (degenerate) buckets emit
    * nothing, bounding worst-case candidate blowup; emitted pairs are
    * exact (zero false positives), the cap is the only recall trade.
    *
    * @param pairParallelism explicit width for the bucket/pair-fan-out
    *   exchange, 0 = leave it to the planner. Opt IN for corpora whose
    *   pair fan-out is the query's dominant compute (dedup_simhash: hot
    *   near-dup buckets, quadratic pair emission): AQE coalesces the
    *   sub-MB banded exchange to ONE partition and serializes that
    *   compute (r19 profile: 1.27 cpu-s in one task; explicit width cut
    *   the query 2×). Leave 0 for small/uniform signature sets (the
    *   phash fixtures: 240 rows, near-singleton buckets) where the r19
    *   bench measured the forced fan-out costing ~60 ms of fixed task
    *   CPU per task — 0.2 → 6 cpu-s for identical output. */
  def hamming64Pairs(
      sig0: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      numBands: Int = 4,
      maxBucketSize: Int = 1024,
      pairParallelism: Int = 0): DataFrame = {
    require(numBands >= 1 && 64 % numBands == 0,
      s"numBands must be >= 1 and divide 64 ($numBands)")
    require(maxHamming < numBands,
      s"pigeonhole needs maxHamming < numBands ($maxHamming >= $numBands)")
    requireIntegralId(sig0, idCol, "hamming64Pairs")
    val bits = 64 / numBands
    // null signatures (undecodable media in the dHash path this operator
    // documents) cannot match anything — drop them
    val sig = sig0.filter(col(hashCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(hashCol).cast("long").as("sim"))
    val banded = sig.select(col("id"), col("sim"),
      explode(array((0 until numBands).map { i =>
        struct(lit(i).as("band"),
          shiftrightunsigned(col("sim"), i * bits)
            .bitwiseAND(lit((1L << bits) - 1)).as("chunk"))
      }: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.chunk").as("chunk"),
        col("id"), col("sim"))
    // the signatures ride through [[bucketPairs]] as payload, so the
    // Hamming verify needs no join back to `sig`; a degenerate chunk is
    // dropped by its cap before its members are collected
    bucketPairs(banded, Seq("band", "chunk"), "id", Seq("sim"),
        maxBucketSize, pairParallelism)
      // verify BEFORE the dedup exchange: hamming is a pure function of
      // the two signatures, and a pair's signatures are identical across
      // its duplicates, so filter∘dropDuplicates ≡ dropDuplicates∘filter
      // — but the filtered exchange ships only the true near-dups
      // (~0.1 MB) instead of every candidate pair (18 MB at sf0.1)
      .withColumn("hamming", TextOps.hamming64(col("left_sim"), col("right_sim")))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("left_id", "right_id")
      .select("left_id", "right_id", "hamming")
  }

  /** Exact n-gram-Jaccard near-dup pairs via PPJoin-style prefix filtering
    * — sub-quadratic with ZERO false negatives (same result set as the
    * naive cartesian scan, equivalence-spec'd).
    *
    * Lemma (prefix filter, Bayardo/Chaudhuri all-pairs): under any fixed
    * total order on shingles, if J(A,B) ≥ t then the smallest element of
    * A∩B lies within the first |X| − ⌈t·|X|⌉ + 1 elements of BOTH
    * X ∈ {A,B} (were it deeper in X, the intersection would fit inside a
    * suffix smaller than ⌈t·|X|⌉ ≤ |A∩B|). So candidates = pairs sharing
    * at least one PREFIX shingle — an equi-join on prefix-shingle hash —
    * and everything else is skipped exactly. Shingle hashes are uniform,
    * so prefix buckets are near-singletons on non-duplicate text — but a
    * hot prefix shingle does NOT imply true pairs (near-template docs
    * {s, xᵢ} with distinct xᵢ all bucket on s at zero true pairs), so
    * exactness cannot cap the candidate space the way the banded
    * operators do. `maxBucketPairs` is the loud guard instead: per-tok
    * candidate PRODUCTS (two aggs sharing the candidate join's own tok
    * exchanges — no separate eager job) join into the pass, and a bucket
    * whose a×b candidates exceed the bound raises in-plan with the
    * offending size before that bucket's pairs stream into the shuffle —
    * a refused job beats a 10¹³-row shuffle. Set 0 to disable.
    *
    * ε guards (both only ever LENGTHEN the prefix — extra candidates are
    * discarded by the exact verify, never missed): t − 1e-6 covers the
    * query-side `round(j, 6) ≥ t` admitting true j down to t − 5e-7;
    * the 1e-9 inside ceil() absorbs fp error in t·|X| landing a hair
    * above an integer. */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      threshold: Double,
      leftFilter: DataFrame => DataFrame = identity,
      maxBucketPairs: Long = 1_000_000_000L): DataFrame = {
    val sh = docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        SortedLongJaccard.sortedHashedShingles(col("__toks"), shingleSize).as("sh"))
    val tEff = math.max(threshold - 1e-6, 0.0)
    def prefixToks(df: DataFrame) = {
      val plen = greatest(lit(1),
        (size(col("sh")) - ceil(size(col("sh")) * lit(tEff) - lit(1e-9)) + lit(1))
          .cast("int"))
      df.select(col("id"), explode(slice(col("sh"), lit(1), plen)).as("tok"))
    }
    val aPre = prefixToks(leftFilter(sh)).select(col("id").as("left_id"), col("tok"))
    val bPre = prefixToks(sh).select(col("id").as("right_id"), col("tok"))
    // The guard rides INSIDE the candidate pass, not as a separate eager
    // job: per-tok counts of both prefix tables join on the same key as
    // the candidate join (the exchanges are shared), and the poison
    // bucket raises from a codegen'd raise_error the moment the merge
    // reaches it — BEFORE that bucket's a×b pairs stream into the
    // shuffle. Joining aPre against the guard first sequences the check
    // ahead of the pair emission for each tok.
    val aGuarded = if (maxBucketPairs <= 0) aPre else {
      val guard = aPre.groupBy("tok").agg(count(lit(1)).as("__na"))
        .join(bPre.groupBy("tok").agg(count(lit(1)).as("__nb")), Seq("tok"))
        .select(col("tok"),
          when(col("__na").cast("double") * col("__nb") > maxBucketPairs.toDouble,
            raise_error(format_string(
              "jaccardPairs: a prefix-shingle bucket would emit " +
                "%.0f candidate pairs > maxBucketPairs=" + maxBucketPairs +
                " — near-template corpus; dedup exact/chunk duplicates " +
                "first (dropRepeatedChunks) or raise the bound " +
                "deliberately (0 disables)",
              col("__na").cast("double") * col("__nb"))))
            .otherwise(lit(true)).as("__ok"))
      aPre.join(guard.filter(col("__ok")), Seq("tok"))
    }
    val cands = aGuarded.join(bPre, Seq("tok"))
      .filter(col("left_id") < col("right_id"))
      .select("left_id", "right_id")
      .dropDuplicates("left_id", "right_id")
    cands
      .join(sh.select(col("id").as("left_id"), col("sh").as("left_sh")), Seq("left_id"))
      .join(sh.select(col("id").as("right_id"), col("sh").as("right_sh")), Seq("right_id"))
      .withColumn("jaccard",
        round(SortedLongJaccard.sortedJaccard(col("left_sh"), col("right_sh")), 6))
      .filter(col("jaccard") >= threshold)
      .select("left_id", "right_id", "jaccard")
  }

  /** Reference cartesian form of [[jaccardPairs]] — kept only as the
    * equivalence-spec oracle; never the declared query plan. */
  private[graft] def jaccardPairsNaive(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      threshold: Double,
      leftFilter: DataFrame => DataFrame = identity): DataFrame = {
    val sh = docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        SortedLongJaccard.sortedHashedShingles(col("__toks"), shingleSize).as("sh"))
    val a = leftFilter(sh).select(col("id").as("left_id"), col("sh").as("left_sh"))
    val b = sh.select(col("id").as("right_id"), col("sh").as("right_sh"))
    a.crossJoin(b)
      .filter(col("left_id") < col("right_id"))
      .withColumn("jaccard",
        round(SortedLongJaccard.sortedJaccard(col("left_sh"), col("right_sh")), 6))
      .filter(col("jaccard") >= threshold)
      .select("left_id", "right_id", "jaccard")
  }

  /** The SNM BLOCKING stage alone: window-banded candidate id pairs with
    * no similarity verify — the artifact blocking-quality evaluation
    * (`eval_blocking`) measures, and the cheap pre-filter a custom
    * verifier can consume. Same narrow (id, block, rank) machinery as
    * [[sortedNeighborhoodPairs]].
    *
    * @return (__lid, __rid) — one row per in-window ordered pair. */
  def sortedNeighborhoodCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 3,
      window: Int = 4,
      maxBlockRows: Long = 5_000_000L): DataFrame = {
    require(blockTokens >= 1 && window >= 2)
    val toks = TextOps.tokens(col(textCol))
    val blocked = docs.select(
      col(idCol).as("id"),
      col(textCol).as("__text"),
      concat_ws(" ", slice(toks, 1, blockTokens)).as("__blk"))
    // the rank window ships one WHOLE block — full __text sort key
    // included — to one task. Fine when blocking keys spread (the design
    // assumption); a boilerplate-heavy corpus where one opening phrase
    // dominates would funnel a corpus-sized single-task sort, so measure
    // the worst block first (one narrow agg) and refuse loudly instead
    // of hanging. Set 0 to disable.
    if (maxBlockRows > 0) {
      val worst = blocked.groupBy("__blk").agg(count(lit(1)).as("__n"))
        .agg(max(col("__n"))).head()
      if (!worst.isNullAt(0) && worst.getLong(0) > maxBlockRows)
        sys.error(s"sortedNeighborhoodCandidates: hottest block has " +
          s"${worst.getLong(0)} rows > maxBlockRows=$maxBlockRows — the " +
          "per-block rank would single-task-sort it with the full text " +
          "as key; use more blockTokens (finer blocks) or raise the " +
          "bound deliberately (0 disables)")
    }
    val rk = blocked
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__blk").orderBy(col("__text"), col("id"))))
      .select("id", "__blk", "__rn")
    val probes = rk
      .withColumn("__k", explode(sequence(lit(1), lit(window - 1))))
      .select(col("id").as("__lid"),
        col("__blk"), (col("__rn") + col("__k")).as("__rn"))
    probes
      .join(rk.select(col("id").as("__rid"), col("__blk"), col("__rn")),
        Seq("__blk", "__rn"))
      .select("__lid", "__rid")
  }

  /** Sorted-neighborhood near-dup candidates (Hernández & Stolfo,
    * SIGMOD '95 — the classic merge/purge blocking method): documents are
    * grouped by a cheap BLOCKING key (their first `blockTokens` tokens),
    * sorted within each block, and only rows within `window` positions of
    * each other become candidates, each exact-verified with shingle
    * Jaccard. The cheapest member of the dedup family — one window
    * shuffle + one (block, rank) equi-join, no band replication, no
    * prefix index — with the classic recall caveat: a near-dup pair whose
    * first tokens differ lands in different blocks and is missed (that's
    * what [[minhashPairs]]/[[jaccardPairs]] are for; SNM is the
    * high-precision cheap pass a pipeline runs first).
    *
    * Scale shape: the rank window partitions by block key (parallel
    * across blocks, linear within); candidates are `window-1` exploded
    * probes meeting in ONE equi-join on (block, rank) — linear in corpus
    * size × window, never quadratic, even for a degenerate block
    * (candidates within a block are rank-banded, not all-pairs). Every
    * step — tokenize, block, rank, probe, verify — replays in SQL.
    *
    * @return (left_id, right_id, jaccard), left_id < right_id; each
    *         unordered pair appears at most once (one rank ordering)
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 3,
      window: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(blockTokens >= 1 && window >= 2)
    val toks = TextOps.tokens(col(textCol))
    // the ranking/pairing machinery runs NARROW — (id, block, rank) only
    // (see sortedNeighborhoodCandidates). Carrying the shingle arrays
    // through the window shuffle and the (window−1)-way probe explode
    // shuffled each array ~4×; instead the candidate id pairs are formed
    // first and the two shingle payloads join back by id afterwards (one
    // shuffle each of the compact signature table). Measured 6.0 s →
    // ~3 s on the sf0.1 bench; at 100 TB the window/explode exchanges
    // stay proportional to ids, not to corpus token count.
    val idPairs = sortedNeighborhoodCandidates(
      docs, idCol, textCol, blockTokens, window)
    // BIND the token array before shingling (the shinglesFromTokens
    // bound-column contract the other dedup callers honor): passing the
    // raw split() expression re-evaluates the full tokenize inside every
    // interpreted HOF lambda element — element_at(split(text), x+i)
    // re-splits the whole document PER SHINGLE POSITION, O(tokens²) per
    // doc (measured: this one projection was ~80% of dedup_snm's CPU)
    val shTab = docs
      .withColumn("__toks", toks)
      .select(col(idCol).as("id"),
        SortedLongJaccard.sortedHashedShingles(col("__toks"), shingleSize).as("sh"))
    idPairs
      .join(shTab.select(col("id").as("__lid"), col("sh").as("left_sh")), Seq("__lid"))
      .join(shTab.select(col("id").as("__rid"), col("sh").as("right_sh")), Seq("__rid"))
      .withColumn("jaccard",
        round(SortedLongJaccard.sortedJaccard(col("left_sh"), col("right_sh")), 6))
      .filter(col("jaccard") >= threshold)
      .select(least(col("__lid"), col("__rid")).as("left_id"),
        greatest(col("__lid"), col("__rid")).as("right_id"),
        col("jaccard"))
  }

  /** Decontamination: per-train-document count of distinct hashed word
    * n-grams that also occur anywhere in the eval corpus — the train/test
    * overlap detector every published-benchmark pipeline runs before
    * training (GPT-3 appendix C uses 13-grams; `n` is a knob because
    * realistic doc lengths vary). Returns `(id, n_shared)` for train docs
    * with at least one shared n-gram; absent ids are clean.
    *
    * Scale shape: both sides explode to (doc, gram-hash) rows — linear in
    * corpus token count — and meet in ONE equi-join on a 64-bit portable
    * hash (the same stack the minhash oracle replays, so the whole check
    * is DuckDB-reproducible). The eval side is collapsed to distinct
    * hashes first; real eval suites are tiny next to the corpus, so AQE
    * turns the join into a broadcast. A 64-bit collision can only flag a
    * clean doc (false positive) — the safe direction for this operator. */
  def contaminationCounts(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame = {
    def grams(df: DataFrame) = df
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        explode(TextOps.portableHashedShinglesUdf(n)(col("__toks"))).as("g"))
    grams(train)
      .join(grams(eval).select("g").distinct(), Seq("g"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The apply form of [[contaminationCounts]]: the train corpus with
    * every doc sharing at least one n-gram with the eval corpus removed. */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame =
    train.join(
      contaminationCounts(train, eval, idCol, textCol, n)
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Exact-substring overlap candidates (the winnowed form of Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better" suffix-array
    * substring dedup, re-expressed for Spark): pairs of documents whose
    * winnowing sketches intersect, with the shared-fingerprint count.
    *
    * Winnowing's guarantee (Schleimer et al. 2003): any substring of length
    * ≥ k + w − 1 shared by two documents contributes at least one common
    * fingerprint — so with the defaults every ≥23-char verbatim overlap is
    * caught while only ~1/w of the gram stream is kept. Shorter coincidental
    * k-gram matches can also pair (this is a candidate generator with
    * recall 1 on the target length, like the LSH stages — verify downstream
    * if exact-overlap extents are needed).
    *
    * Scale shape: linear explode to (doc, fingerprint) rows, ONE equi-join
    * on the fingerprint. Fingerprints appearing in more than `maxDocsPerFp`
    * documents are boilerplate (licence headers, markup) and are dropped
    * BEFORE their members are collected — the [[bucketPairs]] cap,
    * bounding the pair space at cap²·|fingerprints| instead of n². k ≤ 9 keeps the unreduced poly-31 gram hash below 2⁶³, so the
    * whole pipeline is replayable in overflow-checked SQL (the
    * `dedup_substring` DuckDB oracle recomputes it). */
  def winnowCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 16,
      maxDocsPerFp: Int = 50): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowCandidates: k ($k) and w ($w) must be >= 1")
    require(k <= 9, s"k=$k overflows the SQL-portable unreduced poly-31 hash")
    requireIntegralId(docs, idCol, "winnowCandidates")
    val sk = docs.select(col(idCol).cast("long").as("id"),
      explode(TextOps.winnowUdf(k, w)(col(textCol))).as("fp"))
    // one row per (fingerprint, pair) from [[bucketPairs]], which drops a
    // boilerplate fingerprint at its cap before collecting its members;
    // the pairs are not deduplicated there, so the count is n_shared
    bucketPairs(sk, Seq("fp"), "id", Nil, maxDocsPerFp)
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Embedding-cosine near-dup pairs: EXACT threshold pairs between a
    * bounded left sample and the full corpus, executed as a broadcast
    * blocked-gemm scan — one pass over the corpus, |left|·|corpus|·dim
    * flops, and NO joined pair rows ever materialize (the crossJoin form
    * built |left|·|corpus| rows before filtering; this emits only
    * near-threshold survivors).
    *
    * Contract: the left side (after `leftFilter`) must fit on the driver —
    * asserted via `maxLeftRows`, and ids must be integral non-null (also
    * asserted, not silently cast). The default cap is 2¹⁷ rows: at dim
    * 512 × 4 B that is ~256 MB collected AND broadcast, already the upper
    * end of comfortable; the old 2²⁰ default would have been ~2 GB and
    * OOMed the driver the guard exists to protect. Raise it only with
    * driver memory to match. Exact UNBOUNDED all-pairs over dense
    * vectors is inherently n²·dim flops; the sub-quadratic scale paths
    * for that shape are [[AnnIvf.cosinePairsViaIndex]] (IVF-bucketed,
    * skew-salted) and [[AnnIvf.knnJoin]] (k-bounded). */
  def embeddingPairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      leftFilter: DataFrame => DataFrame = identity,
      maxLeftRows: Int = 1 << 17): DataFrame = {
    requireIntegralId(vectors, idCol, "embeddingPairs")
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // limit(max+1), not collect-then-count: the guard must fire BEFORE an
    // unbounded driver collect — with the default identity leftFilter the
    // left side is the whole corpus, and a post-collect require would
    // only diagnose the driver OOM it exists to prevent
    val left: Array[(Long, Array[Float])] = leftFilter(v)
      .select(col("id").cast("long"), col("vec"))
      .limit(maxLeftRows + 1)
      .as[(java.lang.Long, Seq[Float])].collect()
      .map { case (i, vec) =>
        require(i != null,
          s"embeddingPairs: id column '$idCol' must be integral and non-null")
        (i.longValue(), CentroidGemm.toFloatArray(vec))
      }
    require(left.length <= maxLeftRows,
      s"embeddingPairs: left side exceeds maxLeftRows=$maxLeftRows — " +
        "not broadcastable; use AnnIvf.cosinePairsViaIndex")
    val bc = spark.sparkContext.broadcast(left)
    // raw cutoff t − 1e-6: every pair whose ROUNDED score passes the final
    // filter has raw ≥ t − 5e-7, so nothing the crossJoin form returned is
    // lost; the final round+filter below is identical to the naive plan's.
    val cut = threshold - 1e-6
    val raw = v.select(col("id").cast("long"), col("vec"))
      .as[(java.lang.Long, Seq[Float])]
      .mapPartitions { it =>
        val ls = bc.value
        it.flatMap { case (ridBoxed, rvecSeq) =>
          require(ridBoxed != null,
            "embeddingPairs: id column must be integral and non-null")
          val rid = ridBoxed.longValue()
          val rv = CentroidGemm.toFloatArray(rvecSeq)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var li = 0
          while (li < ls.length) {
            val (lid, lv) = ls(li)
            if (lid < rid) {
              // loud on ragged dims (the CentroidGemm/graft_dot posture):
              // a truncated prefix similarity would silently decide
              // near-dup membership on partial vectors
              if (lv.length != rv.length) throw new IllegalArgumentException(
                s"embeddingPairs: vector dim mismatch ($lid has " +
                  s"${lv.length}, $rid has ${rv.length}) — fix the ragged " +
                  "vector upstream")
              val n = lv.length
              var s = 0.0; var i = 0
              while (i < n) { s += lv(i).toDouble * rv(i).toDouble; i += 1 }
              if (s >= cut) out += ((lid, rid, s))
            }
            li += 1
          }
          out.iterator
        }
      }
      .toDF("left_id", "right_id", "__raw")
    raw.withColumn("score", round(col("__raw"), 6))
      .filter(col("score") >= threshold)
      .select("left_id", "right_id", "score")
  }

  /** Sub-document exact dedup at token-chunk granularity — the C4 move
    * ("deduplicate spans, not just documents") for corpora whose docs are
    * flat token streams: partition every document into consecutive
    * `chunkTokens`-token chunks, keep only the globally FIRST occurrence
    * of each distinct chunk (ordered by (doc id, position)), and
    * reassemble each document from its surviving chunks in order. Catches
    * boilerplate shared across otherwise-distinct documents — which
    * document-level dedup can never remove — and intra-doc repetition.
    *
    * Returns every input doc: (id, n_chunks, n_kept, text_deduped);
    * `n_kept = 0` (empty text) means the doc was pure boilerplate —
    * filter downstream, as with the quality gates.
    *
    * Scale shape: explode is linear in corpus tokens ÷ chunkTokens; the
    * first-occurrence rule is one rank window partitioned by chunk
    * content (uniform hash keys — no skew beyond true boilerplate, whose
    * groups are exactly the rows being removed); reassembly is one
    * groupBy with an in-group sort bounded by doc length. */
  def dropRepeatedChunks(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    requireIntegralId(docs, idCol, "dropRepeatedChunks")
    val k = chunkTokens
    val chunks = docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).cast("long").as("id"), col("__toks"),
        explode(sequence(lit(0),
          ceil(size(col("__toks")) / lit(k.toDouble)).cast("int") - 1)).as("pos"))
      .select(col("id"), col("pos"),
        concat_ws(" ", slice(col("__toks"), col("pos") * k + 1, lit(k))).as("chunk"))
    val w = Window.partitionBy("chunk").orderBy(col("id"), col("pos"))
    val kept = chunks.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val perDoc = chunks.groupBy("id").agg(count(lit(1)).as("n_chunks"))
    val keptAgg = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("chunk")))),
        x => x("chunk")), " ").as("text_deduped"))
    perDoc.join(keptAgg, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space with k-means, then inside each cluster drop all but one of any
    * cosine-≥-threshold group. Semantic near-dups (paraphrases, re-crops,
    * re-encodes) land in the same cluster with near-identical embeddings;
    * the cluster scoping is what makes the pair space tractable — pairs
    * are only scored within a cell, never across the corpus.
    *
    * Composition: [[AnnIvf.cosinePairsViaIndex]] (within-cell threshold
    * pairs, salt-spread, cap-guarded) → [[Components.connectedComponents]]
    * (groups may chain through multiple pairs) → keep the component root
    * (min id). Returns EVERY vector with its `component_id` and a `keep`
    * flag — singletons keep themselves.
    *
    * Scale shape: inherits cosinePairsViaIndex's bounds (per-cell n²/2
    * capped + salted, linear otherwise); components iterate on the pair
    * set, which near-dup sparsity keeps ≪ corpus-sized. */
  def semanticAssignment(index: AnnIvf.Index, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val pairs = AnnIvf.cosinePairsViaIndex(index, idCol, vecCol, threshold)
    val cc = Components.connectedComponentsAuto(pairs, "left_id", "right_id")
    index.assigned.select(col(idCol).cast("long").as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component_id"),
        (coalesce(col("component"), col("id")) === col("id")).cast("int").as("keep"))
  }

  /** Integer fixed-point twin of [[semanticAssignment]] over an
    * [[AnnIvfInt.IntIndex]]: pair admission is an EXACT integer
    * comparison — dotQ(a, b) ≥ thresholdQ over the ⌊v·10⁶⌋-quantized
    * vectors — so the admitted pair set, the min-reachable-id components,
    * and the keep flags all replay verbatim in ANSI SQL (no float
    * rounding boundary anywhere). `thresholdQ` is the cosine threshold in
    * quantized-dot units: τ·10¹² for unit-norm inputs.
    *
    * Cluster scoping is the same SemDeDup move: pairs are scored only
    * within a k-means cell (one self-join co-partitioned on `cid`),
    * never across the corpus. The float [[semanticAssignment]] remains
    * the production path — it rides [[AnnIvf.cosinePairsViaIndex]]'s
    * skew salting and per-cell caps; this twin is the verification
    * surface (hash-checked end to end, DedupSpec pins the pair-set
    * equivalence against a naive quadratic build). */
  def semanticAssignmentInt(index: AnnIvfInt.IntIndex, idCol: String,
      thresholdQ: Long): DataFrame = {
    val a = index.assigned.select(col("cid"),
      col(idCol).cast("long").as("left_id"), col("__q").as("__qa"))
    val b = index.assigned.select(col("cid"),
      col(idCol).cast("long").as("right_id"), col("__q").as("__qb"))
    val pairs = a.join(b, Seq("cid"))
      .filter(col("left_id") < col("right_id"))
      .filter(AnnIvfInt.dotQ(col("__qa"), col("__qb")) >= thresholdQ)
      .select("left_id", "right_id")
    val cc = Components.connectedComponentsAuto(pairs, "left_id", "right_id")
    index.assigned.select(col(idCol).cast("long").as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component_id"),
        (coalesce(col("component"), col("id")) === col("id")).cast("int").as("keep"))
  }

  /** Reference cartesian form of [[embeddingPairs]] — equivalence-spec
    * oracle only. */
  private[graft] def embeddingPairsNaive(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      leftFilter: DataFrame => DataFrame = identity): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val a = leftFilter(v).select(col("id").as("left_id"), col("vec").as("left_vec"))
    val b = v.select(col("id").as("right_id"), col("vec").as("right_vec"))
    a.crossJoin(b)
      .filter(col("left_id") < col("right_id"))
      .withColumn("score",
        round(VectorOps.dot(col("left_vec"), col("right_vec")), 6))
      .filter(col("score") >= threshold)
      .select("left_id", "right_id", "score")
  }
}

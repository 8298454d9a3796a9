package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora. Four tiers:
  *
  *  1. exact        — content-hash groupBy (shuffles only (hash, id) pairs)
  *  2. nGramJaccard — exact set-similarity via inverted-index join
  *  3. minHashLsh   — MinHash signatures + LSH banding (sub-quadratic)
  *  4. simHash      — 64-bit SimHash + pigeonhole chunk blocking
  *
  * All are DataFrame->DataFrame combinators; none materializes a quadratic
  * cross join, and at 100 TB the shuffled keys are hashes/ids, never the
  * document text. Hot paths (MinHash signatures, SimHash bits) use
  * explode + statically-unrolled aggregates, which whole-stage-codegen;
  * lambda higher-order functions appear only in cheap per-document
  * expressions, because Spark evaluates them interpreted
  * (CodegenFallback). Narrow (few-partition) inputs are spread to the
  * session's shuffle parallelism first so a single-file source can't
  * serialize the work; already-wide scans pass through with no exchange
  * ([[graft.Tables.spreadIfNarrow]]).
  */
object Dedup {

  /** Exact duplicate groups by content hash. Keeps the minimum id as the
    * canonical representative. The hash is computed in a projection directly
    * over the scan partitions, so the ONLY shuffle in this plan is the
    * groupBy's own exchange carrying narrow (hash, id) rows — the document
    * text never moves. (Feed this [[graft.Tables.load]], not a pre-
    * repartitioned frame: a repartition before the projection would shuffle
    * the full text once for no benefit — at 100 TB the scan already has
    * thousands of partitions and the hashing parallelizes there.)
    * `hashFn` defaults to md5 (oracle-portable); xxhash64 is the cheaper
    * production choice.
    */
  def exact(
      df: DataFrame,
      textCol: String,
      idCol: String,
      hashFn: Column => Column = md5(_)): DataFrame =
    df.select(hashFn(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Inverted-index rows (id, n, gh): one row per (doc, distinct bigram),
    * where `n` is the doc's gram-set size and `gh` the gram's 64-bit hash.
    * BOTH come from the scan stage: `n` is `size()` of the fused bigram
    * set and rides along through the explode — no groupBy-and-join of the
    * gram index back onto itself (late r5; that shape re-exchanged every
    * gram row just to attach a per-doc constant). Catalyst keeps ONE
    * evaluation of the set expression: CollapseProject refuses to inline
    * a non-trivial alias referenced twice (size + explode).
    */
  private def gramsWithSizes(
      df: DataFrame, textCol: String, idCol: String): DataFrame =
    graft.Tables.spreadIfNarrow(df)
      // r15: the distinct-gram HASH set (NGramHashSet emits xxhash64(gram)
      // straight from the fused tokenize loop) replaces the string set +
      // post-explode xxhash64 — the explode now moves fixed-width longs,
      // no gram string is ever row-materialized. Hash-set size equals
      // string-set size absent a within-doc 64-bit collision (the same
      // ~|doc|²/2⁶⁴ tolerance the pair count already documents). The
      // `expensive` barrier stops InferFiltersFromGenerate's
      // `size(arr) > 0` filter from being substituted through the alias
      // and pushed below the spread exchange, which re-ran the whole
      // signature computation once per row on the pre-shuffle side
      // (observed in the d02 physical plan; a full extra corpus pass).
      .select(col(idCol).as("id"),
        graft.functions.HashExpressions.expensive(
          graft.functions.HashExpressions.ngramHashSet(col(textCol), 2))
          .as("arr"))
      .select(col("id"), size(col("arr")).cast("long").as("n"),
        explode(col("arr")).as("gh"))

  /** Exact n-gram (word-bigram) Jaccard pairs with similarity >= tau.
    *
    * Inverted-index plan: explode each doc's distinct bigram set, self-join
    * on the gram's 64-bit hash (candidates share >= 1 gram), count common
    * grams per pair, then test `common / (|A|+|B|-common) >= tau` by integer
    * cross-multiplication — exact, so the DuckDB oracle matches bit-for-bit.
    * A length-ratio prefilter (|A| >= tau*|B| and vice versa, necessary for
    * jaccard >= tau) prunes pairs before the similarity test. The join key
    * and every shuffled row are fixed-width longs — gram text never leaves
    * the scan stage. (Counting common gram HASHES equals counting common
    * grams unless two distinct grams of the same pair collide in 64 bits —
    * probability ~|doc|^2/2^64 per pair; at that point the corpus has a
    * bigger problem than dedup.)
    *
    * Scale: join work is sum over grams of df(g)^2, unbounded when a
    * stop-bigram is shared by millions of docs. `maxGramDf` bounds it:
    * grams with document frequency > maxGramDf are dropped from CANDIDATE
    * GENERATION only, and surviving candidates are re-verified against the
    * full gram sets — so every reported (pair, jaccard) is still exact, and
    * the only possible error is a missed pair whose shared grams are ALL
    * hotter than the cap (for near-dup pairs, overwhelmingly unlikely in
    * natural corpora — they share many grams, most of them rare). With the
    * cap on, join work is bounded by O(distinct_grams * cap^2). The default
    * (no cap) is the oracle-exact configuration; at 100 TB, set a cap, or
    * use [[minHashLsh]] for adversarially dense corpora.
    */
  /** Transitive contamination propagation — min-hop BFS from leak SEEDS
    * over a near-dup pair graph: exact matching (d12/d27) flags the doc
    * that SHARES an n-gram with the eval suite, but its near-duplicates
    * carry the same content in paraphrase and slip every exact check —
    * the same reasoning that makes decontamination pipelines pair an
    * exact pass with a fuzzy pass (Lee et al. 2022 §6.2 find near-dup
    * leakage exact dedup misses; Yang et al. 2023 "rephrased samples"
    * evade n-gram decontamination by construction). Hop = suspicion
    * rank: hop 0 is the direct leak, hop 1 its near-dups, hop 2 their
    * near-dups — a release decision can gate each tier differently.
    *
    * `pairs` is any (id_a, id_b) near-dup pair table (typically
    * [[prefixJaccard]] at a deliberately WIDE threshold — suspicion
    * casts a larger net than dedup, precision is recovered by the hop
    * tiers); `seeds` carries the hop-0 ids in `idCol`. Output: (id,
    * hop) with the MINIMUM hop ≤ maxHop per reached doc — BFS order
    * guarantees first-visit = min-hop, and every tier is a distinct
    * anti-joined frontier, so the result is deterministic with no
    * per-round tie-breaking.
    *
    * Scale shape: maxHop rounds of (frontier ⋈ edges) equi-joins +
    * anti-joins against the visited set — work ∝ edges touched per
    * round, the d11 incremental-CC shape; no iteration-to-convergence,
    * the hop bound is the contract.
    *
    * Cache hygiene (r11 verdict): the edge list and every BFS tier are
    * persisted (multi-consumer: every later round's anti-join AND the
    * final union read them), but a long-lived session must not leak
    * them — so the result is EAGERLY localCheckpoint'ed (one job, and
    * the checkpoint truncates lineage so the result no longer
    * references the tier caches) and the intermediates are unpersisted
    * before returning. A persist-then-unpersist-tiers order does NOT
    * work: uncaching a tier invalidates the dependent result cache and
    * the caller's first action recomputes the whole BFS uncached
    * (measured 2.7 s → 10.4 s on d37 before this ordering). The
    * returned frame's checkpoint blocks are reclaimed by the
    * ContextCleaner once the frame is unreferenced (or by a session's
    * unpersist-all, as Bench/Verify do per query).
    */
  def contaminationHops(
      pairs: DataFrame, seeds: DataFrame, idCol: String,
      maxHop: Int): DataFrame = {
    require(maxHop >= 0, s"maxHop must be >= 0: $maxHop")
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = pairs.select(col("id_a").as("s"), col("id_b").as("d"))
      .unionByName(pairs.select(col("id_b").as("s"), col("id_a").as("d")))
      .persist(mad)
    // the graphRank/CC discipline: each tier materializes EAGERLY via
    // localCheckpoint (lineage truncated, so a tier never re-executes
    // its predecessors and freeing one tier cannot invalidate another),
    // and the rounds run in ORDER — no union-branch race recomputing
    // earlier tiers through uncached lineage
    val h0 = seeds.select(col(idCol).as("id")).distinct().localCheckpoint()
    var visited = h0.withColumn("hop", lit(0L))
    var tiers = List(h0)
    var frontier = h0
    var h = 1
    while (h <= maxHop) {
      frontier = sym.join(frontier, col("s") === col("id"))
        .select(col("d").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .localCheckpoint()
      tiers = frontier :: tiers
      visited = visited.unionByName(
        frontier.withColumn("hop", lit(h.toLong)))
      h += 1
    }
    // the final union reads only the (tiny, already-materialized) tier
    // checkpoints; checkpoint it too so the tiers can be freed NOW
    val out = visited.localCheckpoint()
    tiers.foreach(Clusters.freeCheckpoint)
    sym.unpersist(blocking = false)
    out
  }

  /** Inverted-index exact Jaccard pairs — the ORACLE CONFIGURATION of
    * the near-dup family (r14; SURVEY row 19 vs 32ay7). Candidate work
    * is Σ df(g)·(df(g)−1)/2 over gram document frequencies, which the
    * r13 30× rehearsal MEASURED super-linear (α=1.34) on corpora whose
    * duplicate density grows with N: one near-cap gram owns the join.
    * The production rung is [[prefixJaccard]] (two-sided PPJoin prefix
    * filter — bit-identical output, completeness proof, measured
    * α=0.48 at 30×). Keep THIS form for oracle checks, small corpora,
    * and the `maxGramDf`-capped approximate variant.
    *
    * `candidatePairBound` makes the ship-path explicit in code: when
    * set, one tiny rollup prices the Σ df·(df−1)/2 candidate bound
    * BEFORE the join runs (over the post-cap index when `maxGramDf` is
    * set, so the guard prices the join actually executed), and a bound
    * above the threshold either fails fast (`boundAction = "fail"`,
    * the default) or logs and proceeds (`"warn"`) — both naming
    * prefixJaccard as the proof-carrying equivalent. Default
    * Long.MaxValue skips the pricing job entirely (oracle runs pay
    * nothing).
    */
  /** Exact Σ df·(df−1)/2 over a `(gh, gdf)` count frame. The former
    * Column arithmetic (`gdf * (gdf - 1L) / 2L`) was an IEEE double
    * division — ~ulp precision once Σdf² crosses 2⁵³, which a 100 TB
    * corpus with a df~10⁹ hot gram reaches (r14 verdict #3; ADVICE).
    * Here each per-gram product accumulates as decimal(38,0) and the
    * even total Σdf(df−1) halves exactly in BigInt; an EMPTY index sums
    * to SQL NULL, which is bound 0 (the former `.getLong(0)` NPE'd).
    */
  private[graft] def pairBoundExact(counts: DataFrame): BigInt = {
    val row = counts.agg(
      sum(col("gdf").cast("decimal(19,0)") *
        (col("gdf") - lit(1L)).cast("decimal(19,0)"))).head()
    if (row.isNullAt(0)) BigInt(0)
    else BigInt(row.getDecimal(0).toBigIntegerExact) >> 1
  }

  def nGramJaccard(
      df: DataFrame,
      textCol: String,
      idCol: String,
      tauNum: Int,
      tauDen: Int,
      maxGramDf: Int = Int.MaxValue,
      candidatePairBound: Long = Long.MaxValue,
      boundAction: String = "fail"): DataFrame = {
    require(boundAction == "fail" || boundAction == "warn",
      s"boundAction must be 'fail' or 'warn': $boundAction")
    // each gram row carries its doc's set size so the length-ratio
    // prefilter (|A| >= tau*|B| and vice versa — necessary for
    // jaccard >= tau) prunes candidate rows INSIDE the join, before the
    // expensive pair-count aggregation. n comes from size(set) in the
    // SCAN stage — late-r5: this replaced a groupBy+join of the whole
    // gram index back onto itself (an extra exchange of every gram row)
    val withN = gramsWithSizes(df, textCol, idCol)
    def guardCandidates(index: DataFrame): Unit =
      if (candidatePairBound != Long.MaxValue) {
        val bound = pairBoundExact(
          index.groupBy("gh").agg(count(lit(1)).as("gdf")))
        if (bound > BigInt(candidatePairBound)) {
          val msg = s"nGramJaccard: inverted-index candidate bound " +
            s"sum(df*(df-1)/2) = $bound exceeds $candidatePairBound — " +
            "this corpus has hot grams that make the df^2 join " +
            "super-linear; use Dedup.prefixJaccard (PPJoin prefix " +
            "filter, bit-identical output, provably complete) instead"
          if (boundAction == "fail") throw new IllegalStateException(msg)
          else System.err.println(s"[graft] WARN $msg")
        }
      }
    def lengthOk = col("a.n") * tauNum <= col("b.n") * tauDen &&
      col("b.n") * tauNum <= col("a.n") * tauDen
    if (maxGramDf == Int.MaxValue) {
      guardCandidates(withN)
      val a = withN.as("a"); val b = withN.as("b")
      a.join(b, col("a.gh") === col("b.gh") && col("a.id") < col("b.id") &&
          lengthOk)
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") * tauDen >= (col("na") + col("nb") - col("c")) * tauNum)
        .select(col("id_a"), col("id_b"),
          (col("c").cast("double") / (col("na") + col("nb") - col("c")))
            .as("jaccard"))
    } else {
      // capped: prune hot grams from the index, generate candidates, then
      // verify exactly against the full gram sets (same shape as
      // minHashLsh's verification stage)
      val coldGrams = withN.groupBy("gh").agg(count(lit(1)).as("gdf"))
        .filter(col("gdf") <= maxGramDf).select("gh")
      val idx = withN.join(coldGrams, "gh")
      guardCandidates(idx) // price the join actually executed (post-cap)
      val a = idx.as("a"); val b = idx.as("b")
      val cand = a.join(b, col("a.gh") === col("b.gh") &&
          col("a.id") < col("b.id") && lengthOk)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      // r15: sorted gram-HASH sets + fused merge count (the prefixJaccard
      // verify convention) — no per-pair boxed hash set, no intersection
      // array, no gram strings
      val sets = graft.Tables.spreadIfNarrow(df)
        .select(col(idCol).as("sid"), sort_array(
          graft.functions.HashExpressions.ngramHashSet(col(textCol), 2))
          .as("gs"))
      cand
        .join(sets.select(col("sid").as("id_a"), col("gs").as("ga")), "id_a")
        .join(sets.select(col("sid").as("id_b"), col("gs").as("gb")), "id_b")
        .withColumn("c", graft.functions.HashExpressions
          .sortedCommonCount(col("ga"), col("gb")))
        .withColumn("u", size(col("ga")) + size(col("gb")) - col("c"))
        .filter(col("c") * tauDen >= col("u") * tauNum)
        .select(col("id_a"), col("id_b"),
          (col("c").cast("double") / col("u")).as("jaccard"))
    }
  }

  /** Prefix-filtered exact Jaccard pairs — [[nGramJaccard]]'s output
    * contract with candidate generation that is PROVABLY COMPLETE
    * without the hot-gram cap (SSJoin prefix filtering: Chaudhuri,
    * Ganti & Kaushik 2006; All-Pairs: Bayardo, Ma & Srikant 2007;
    * PPJoin: Xiao et al. 2008 — the VLDB-standard similarity-join
    * family).
    *
    * d02's inverted index pays Σ df(g)² per gram: one stop-bigram
    * shared by millions of docs owns the join, and the `maxGramDf`
    * cap that bounds it is a HEURISTIC (a pair whose every shared gram
    * is hot is silently missed). Prefix filtering removes the blowup
    * with a completeness PROOF instead of a cap: order every doc's
    * gram set by one global canonical order — ascending document
    * frequency, ties by hash (rarest first; the order is shared by
    * every doc, which is all the lemma needs) — and index only each
    * doc's first `n − ⌈τ·n⌉ + 1` grams. Candidates come from joining
    * prefix against prefix on BOTH sides (the All-Pairs two-sided
    * form): by the prefix lemma, `|A∩B| ≥ α` forces the first
    * `|A|−α+1` of A to intersect the first `|B|−α+1` of B, and for a
    * qualifying oriented pair (na ≤ nb, with the inlined length
    * filter `nb·τ ≤ na` — itself necessary for jaccard ≥ τ) the
    * overlap obeys `o ≥ τ(na+nb)/(1+τ) ≥ τ·nb`, so α = ⌈τ·nb⌉ shows
    * both docs' own-size indexed prefixes must share a gram — the
    * prefix⋈prefix equi-join finds every qualifying pair.
    * Survivors are re-verified against full gram sets exactly as
    * d02's capped branch, so the output is bit-identical to the
    * uncapped exact join — CORRECTNESS hash-equality against the
    * plain all-pairs oracle is itself a completeness check on real
    * data, and DedupSpec replays it against [[nGramJaccard]].
    *
    * Scale: candidate work per gram is `dfPrefix(g)²`, and the
    * ascending-df order pushes hot grams to the BACK of every doc's
    * ordering — a gram in millions of docs appears in almost no
    * prefix, so `dfPrefix(hot) ≈ 0` and the df² term d02 must cap
    * simply vanishes. Added cost: one (gram → df) rollup and one
    * per-doc rank window, both over fixed-width long rows.
    */
  def prefixJaccard(
      df: DataFrame,
      textCol: String,
      idCol: String,
      tauNum: Int,
      tauDen: Int): DataFrame = {
    require(tauNum >= 1 && tauDen >= tauNum,
      s"tau must be in (0, 1]: $tauNum/$tauDen")
    // materialize the gram index ONCE: df-rollup, prefix ranking, the
    // probe side, AND the verify sets all consume it — lazy, the token
    // explode re-runs four times (measured 2.3x slower at sf0.1)
    val withN = gramsWithSizes(df, textCol, idCol).localCheckpoint()
    val gdf = withN.groupBy("gh").agg(count(lit(1)).as("gdf"))
    // minOverlap = ceil(tau * n) in exact integer arithmetic
    def minOverlap(n: Column): Column =
      floor((n * tauNum + (tauDen - 1)) / lit(tauDen)).cast("long")
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("gdf").asc, col("gh").asc)
    // r15b (the e40 convention): pin the prefix-rank window's parallelism
    // with a user repartition by the window key. The (gram ⋈ df) frame is
    // small in bytes, so AQE coalesces the window's ENSURE_REQUIREMENTS
    // exchange to a handful of tasks — but the window's OUTPUT feeds the
    // prefix self-join, whose candidate fan-out (Σ dfPref(g)² rows) AQE's
    // byte heuristic cannot anticipate: the rank sort AND the join-side
    // exchange write then run nearly serial (measured a 3-task 1.7 s-wall
    // stage at sf0.1, the largest in d34's profile). Count follows the
    // session conf; rank order is total per id (gdf, gh — gh distinct
    // within a doc), so partitioning cannot change any value.
    val pref = withN.join(gdf, "gh")
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("n") - minOverlap(col("n")) + 1)
      .select(col("id"), col("n"), col("gh"), col("rk"))
    // TWO-SIDED prefix join (r10c; All-Pairs/PPJoin Lemma 1): if
    // |A∩B| ≥ α under one total order, the first (|A|−α+1) of A
    // intersect the first (|B|−α+1) of B. For a qualifying oriented
    // pair (na ≤ nb), o ≥ τ(na+nb)/(1+τ) ≥ τ·nb (using the length
    // filter na ≥ τ·nb), so α = ⌈τ·nb⌉ ≤ o gives needed prefix
    // lengths na−⌈τ·nb⌉+1 ≤ na−⌈τ·na⌉+1 (indexed) and nb−⌈τ·nb⌉+1
    // (exactly indexed) — joining the two INDEXED prefixes misses
    // nothing, and candidate work per gram drops from
    // Σ dfPref(g)·df(g) to Σ dfPref(g)².
    //
    // PPJoin POSITIONAL filter (Xiao et al. §3.2), pruning join rows
    // BEFORE the pair dedup: a qualifying pair's FIRST shared gram
    // (ranks rka/rkb) has no common gram before it in either
    // ordering, so o ≤ 1 + min(na−rka, nb−rkb); with the required
    // o ≥ ⌈τ(na+nb)/(1+τ)⌉ that first-shared row always PASSES
    // `1 + min(...) ≥ α_pair` — pairs whose every shared row fails
    // cannot qualify and never reach the verify stage.
    val a = pref.as("a"); val b = pref.as("b")
    val alphaPair = ((col("a.n") + col("b.n")) * tauNum +
      lit(tauNum + tauDen - 1)).divide(lit(tauNum + tauDen))
      .cast("long") // floor((x + k - 1)/k) = ceil(x/k), all terms exact
    val cand = a.join(b, col("a.gh") === col("b.gh") &&
        (col("a.n") < col("b.n") ||
          (col("a.n") === col("b.n") && col("a.id") < col("b.id"))) &&
        col("b.n") * tauNum <= col("a.n") * tauDen &&
        lit(1L) + least(col("a.n") - col("a.rk"),
          col("b.n") - col("b.rk")) >= alphaPair)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verify on the HASHED gram sets rebuilt from the materialized
    // index (the d02 convention: common-gram counts key on gh) — full
    // string bigram arrays re-tokenized the corpus and shipped text
    // through the pair join for the same counts.
    // r15: sets sort ONCE per doc and the per-pair count is a fused
    // sorted-merge (SortedCommonCount) — size(array_intersect(...))
    // built a boxed hash set and materialized the intersection array
    // per candidate pair just to count it (measured ~50 s task-time
    // over d34's ~500k candidates at sf0.1; the count is all the
    // jaccard test needs).
    val sets = withN.groupBy(col("id"))
      .agg(sort_array(collect_list(col("gh"))).as("gs"))
    cand
      .join(sets.select(col("id").as("id_a"), col("gs").as("ga")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("gs").as("gb")), "id_b")
      .withColumn("c", graft.functions.HashExpressions
        .sortedCommonCount(col("ga"), col("gb")))
      .withColumn("u",
        size(col("ga")).cast("long") + size(col("gb")) - col("c"))
      .filter(col("c") * tauDen >= col("u") * tauNum)
      .select(col("id_a"), col("id_b"),
        (col("c").cast("double") / col("u")).as("jaccard"))
  }

  /** Containment dedup: pairs `(contained_id, container_id)` where one
    * document's FULL token sequence occurs as a contiguous run inside
    * another's — the prefix/suffix/quote-wrap duplicate class exact-hash
    * dedup (d01) misses entirely and Jaccard (d02) only flags when the
    * lengths are comparable. Web corpora hold whole articles re-published
    * inside boilerplate wrappers; the contained copy is the drop.
    *
    * Shape: set containment bounds candidates — a contained run's every
    * adjacent word pair is an adjacent pair of its container, so the d02
    * inverted index generates EXACTLY the pairs where the common-gram
    * count equals the smaller side's distinct-gram count (cost Σ df² per
    * gram, as d02); the final verify joins the two TEXTS of candidate
    * pairs only and tests token-run contiguity via sentinel-wrapped
    * normalized text (`' '||tokens||' '` contains) — contiguity is what
    * gram-set inclusion cannot prove. Sub-2-token docs carry no bigram
    * and are never reported (they would "contain into" everything; a
    * length floor is standard). Equal token sequences resolve to the
    * min-id as contained, so exact-dup groups surface as (min, other).
    */
  def containment(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withN = gramsWithSizes(df, textCol, idCol)
    val a = withN.as("a"); val b = withN.as("b")
    val cand = a.join(b, col("a.gh") === col("b.gh") &&
        col("a.id") =!= col("b.id") && col("a.n") <= col("b.n"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("na"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") === col("na"))
      .select("id_a", "id_b")
    val texts = graft.Tables.spreadIfNarrow(df)
      .select(col(idCol).as("tid"),
        concat(lit(" "),
          array_join(TextOps.tokens(col(textCol)), " "), lit(" "))
          .as("norm"),
        TextOps.tokenCount(col(textCol)).cast("long").as("nt"))
    cand
      .join(texts.select(col("tid").as("id_a"), col("norm").as("norm_a"),
        col("nt").as("nt_a")), "id_a")
      .join(texts.select(col("tid").as("id_b"), col("norm").as("norm_b"),
        col("nt").as("nt_b")), "id_b")
      .filter(col("norm_b").contains(col("norm_a")) &&
        (col("nt_a") < col("nt_b") ||
          (col("nt_a") === col("nt_b") && col("id_a") < col("id_b"))))
      .select(col("id_a").as("contained_id"),
        col("id_b").as("container_id"))
  }

  /** Incremental EXACT dedup of a new batch against a standing corpus,
    * with a Bloom-filter prefilter: returns the batch rows whose content
    * does not already exist in the corpus (the admit list of an
    * append-only ingestion run).
    *
    * Plan: (1) one pass over corpus content hashes builds a compact Bloom
    * sketch (per-partition sketches, merged — constant memory, no
    * shuffle); (2) the batch probes the sketch IN ITS SCAN STAGE via the
    * codegen'd [[graft.functions.BloomMightContain]] — every definite-new
    * doc (the vast majority of a typical batch) is admitted with ZERO
    * join work; (3) only the `might-contain` survivors (true dups +
    * ~fpp false positives) enter an exact md5 anti-join for verification,
    * so the result is exactly the plain anti-join's. At 100 TB the corpus
    * side of step 3 is the content-hash manifest a production pipeline
    * maintains as its own table — here it is recomputed from a 1-column
    * scan. Result is EXACT: Bloom false positives are re-verified, and a
    * Bloom "no" is definitive.
    */
  def exactIncremental(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val corpusH = corpus.select(xxhash64(col(textCol)).as("h"),
      md5(col(textCol)).as("m"))
    val bloom = bloomFilter(corpusH, "h", expectedItems, fpp)
    val probe = graft.functions.HashExpressions
      .bloomMightContain(xxhash64(col(textCol)), bloom)
    val definiteNew = batch.filter(!probe)
    val maybeDup = batch.filter(probe)
      .withColumn("m", md5(col(textCol)))
    val verifiedNew = maybeDup
      .join(corpusH.select("m"), Seq("m"), "left_anti")
      .drop("m")
    definiteNew.unionByName(verifiedNew)
  }

  /** `df.stat.bloomFilter(c, expectedItems, fpp)` made total: the same
    * single `bloom_filter_agg` aggregation, but an EMPTY input yields an
    * empty filter (every probe answers "no") where Spark's reads the
    * aggregate's NULL result and throws an NPE — an empty standing corpus
    * is the first state of every maintained corpus.
    */
  private[graft] def bloomFilter(
      df: DataFrame, c: String, expectedItems: Long, fpp: Double)
      : org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val bytes = df.select(org.apache.spark.sql.graftbridge.Bridge.internalFn(
        "bloom_filter_agg", col(c), lit(expectedItems), lit(numBits)))
      .head().getAs[Array[Byte]](0)
    if (bytes == null) BloomFilter.create(expectedItems, numBits)
    else BloomFilter.readFrom(bytes)
  }

  /** Paragraph NORMALIZATION shared by the paragraph-dedup family:
    * whitespace runs collapse to one space, ends trim, case folds —
    * the Dolma/SlimPajama convention (a paragraph re-wrapped or
    * re-cased is the same boilerplate).
    */
  private[graft] def paraNorm(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Scan-stage normalized-paragraph projection `(id, pos, para, norm)`
    * — pure maps (split, posexplode, normalize), STREAMING-SAFE (no
    * `spreadIfNarrow`, which inspects the RDD — illegal on a streaming
    * plan); batch callers spread first. Whitespace-only paragraphs are
    * dropped here, so every consumer counts and keeps the same rows.
    */
  private[graft] def paraProjection(
      df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "para")))
      .withColumn("norm", paraNorm(col("para")))
      .filter(length(col("norm")) > 0)

  /** A standing corpus' paragraph-hash SET — `m` = md5(normalized
    * paragraph), distinct. Freeze/persist beside the corpus (the
    * surprisalWithCounts convention): [[paragraphIncremental]] folds
    * and the streaming admit guard
    * (graft.streaming.CorpusStream.paragraphAdmitStream) join against
    * it instead of re-hashing the corpus per batch.
    */
  def paragraphHashSet(
      df: DataFrame, textCol: String, idCol: String): DataFrame =
    paraProjection(graft.Tables.spreadIfNarrow(df), textCol, idCol)
      .select(md5(col("norm")).as("m")).distinct()

  /** The standing corpus' paragraph Bloom sketch over xxhash64(norm) —
    * the scan-stage prefilter [[paragraphIncremental]] and the
    * streaming admit guard probe before any join work: a Bloom "no"
    * admits the paragraph with zero exchange; "maybe" verifies against
    * [[paragraphHashSet]] exactly.
    */
  def paragraphBloom(
      df: DataFrame, textCol: String, idCol: String,
      expectedItems: Long, fpp: Double = 0.01)
      : org.apache.spark.util.sketch.BloomFilter =
    bloomFilter(
      paraProjection(graft.Tables.spreadIfNarrow(df), textCol, idCol)
        .select(xxhash64(col("norm")).as("h64")),
      "h64", expectedItems, fpp)

  /** Paragraph-level exact dedup — the Dolma "BFF" rung (Soldaini et
    * al. 2024 "Dolma", §Dedup; SlimPajama ships the same shape): docs
    * split on newline into paragraphs, each NORMALIZED paragraph kept
    * only at its FIRST occurrence corpus-wide (ordered by (id, pos) —
    * the d01 keep-min convention one level finer), duplicates dropped
    * IN PLACE so the surrounding document survives. This is the rung
    * real pipelines run between d01's whole-doc hash (misses a doc
    * that differs by one line) and d41's span evidence (pair-priced):
    * boilerplate headers/footers/navigation vanish by paragraph hash
    * with ZERO pair work. Output per surviving doc: `(id, n_paras,
    * n_kept, text)` with kept paragraphs rejoined in order; docs whose
    * every paragraph dropped disappear (the C4/scrub convention), and
    * whitespace-only paragraphs are neither counted nor kept.
    *
    * Exactness: the dedup key is md5(normalized paragraph) — 128 bits,
    * like d01, because at 100 TB paragraph cardinality (~10¹⁰) makes
    * 64-bit birthday collisions likely (p ≈ n²/2⁶⁵ ≈ 0.4 at 4·10⁹).
    *
    * Scale: the paragraph index is fixed-width (id, pos, md5) rows —
    * hashing happens in the scan-stage projection, so paragraph TEXT
    * never crosses an exchange; first-occurrence is one min-struct
    * rollup on the hash (map-side combine) + one hash-keyed join back
    * to the fixed-width index; reconstruction is the scrubWithHotSpans
    * gather — the only text-bearing exchange is the docs-side join to
    * its id-keyed removal mask (none with id-bucketed storage).
    */
  def paragraphDedup(
      df0: DataFrame, textCol: String, idCol: String): DataFrame = {
    val df = graft.Tables.spreadIfNarrow(df0.filter(col(textCol).isNotNull))
    val parasIdx = paraProjection(df, textCol, idCol)
      .select(col("id"), col("pos"), md5(col("norm")).as("h"))
    val firsts = parasIdx.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("f"))
    val removed = parasIdx.join(firsts, "h")
      .filter(col("id") =!= col("f.id") || col("pos") =!= col("f.pos"))
      .groupBy("id").agg(collect_list(col("pos")).as("removed"))
    foldKept(df, removed, textCol, idCol)
  }

  /** Docs-side reconstruction shared by the paragraph-dedup family:
    * join the id-keyed `removed` position mask (the ONLY text-bearing
    * exchange) and rejoin kept paragraphs in order; whole-doc drops
    * (every paragraph removed) disappear.
    */
  private def foldKept(
      df: DataFrame, removed: DataFrame,
      textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        filter(transform(split(col(textCol), "\n"),
          (p, i) => struct(i.as("pos"), p.as("para"))),
          s => length(paraNorm(s.getField("para"))) > 0).as("ps"))
      .join(removed, Seq("id"), "left")
      // r15b: kp is an ExpensiveBarrier alias — the size() guard below
      // otherwise substitutes the whole kept-paragraph filter chain into
      // its condition (one extra full evaluation per row; the p12 class)
      .select(col("id"), col("ps"),
        graft.functions.HashExpressions.expensive(
          filter(col("ps"), s => col("removed").isNull ||
            !array_contains(col("removed"), s.getField("pos")))).as("kp"))
      .filter(size(col("kp")) > 0)
      .select(col("id").as(idCol),
        size(col("ps")).cast("long").as("n_paras"),
        size(col("kp")).cast("long").as("n_kept"),
        concat_ws("\n",
          transform(col("kp"), s => s.getField("para"))).as(textCol))

  /** Incremental paragraph dedup of a batch against a STANDING corpus,
    * Bloom-prefiltered — the BFF shape as actually deployed (the
    * standing filter is the corpus; arriving docs admit their novel
    * paragraphs): [[exactIncremental]]'s three-step plan one level
    * finer. (1) one pass over corpus paragraph hashes builds the Bloom
    * sketch; (2) batch paragraphs probe it IN THE SCAN STAGE — every
    * definite-new paragraph (the bulk) admits with zero join work;
    * (3) might-contain survivors verify against the exact md5 set, so
    * the result is EXACTLY the anti-join's (false positives re-
    * verified, a Bloom "no" definitive). Batch paragraphs dedup
    * against the CORPUS only, not each other — fold the admitted batch
    * and re-freeze to advance the filter (the CorpusMaintain cycle).
    * Output: the [[paragraphDedup]] shape over the batch.
    */
  def paragraphIncremental(
      batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bloom = paragraphBloom(corpus, textCol, idCol, expectedItems, fpp)
    val standing = paragraphHashSet(corpus, textCol, idCol)
    val bp = paraProjection(graft.Tables.spreadIfNarrow(batch),
        textCol, idCol)
      .select(col("id"), col("pos"),
        xxhash64(col("norm")).as("h64"), md5(col("norm")).as("m"))
    val probe = graft.functions.HashExpressions
      .bloomMightContain(col("h64"), bloom)
    // removed = batch paragraphs whose content EXISTS in the corpus:
    // only might-contain survivors reach the exact semi join
    val removed = bp.filter(probe)
      .join(standing, Seq("m"), "left_semi")
      .groupBy("id").agg(collect_list(col("pos")).as("removed"))
    foldKept(batch.filter(col(textCol).isNotNull), removed,
      textCol, idCol)
  }

  /** Cross-relation n-gram Jaccard: pairs (id_a from `left`, id_b from
    * `right`) with bigram-set similarity >= tau. Same inverted-index plan
    * as [[nGramJaccard]] — join on 64-bit gram hashes, count common grams,
    * exact integer threshold test, length-ratio prefilter inside the join —
    * but across two relations, which is what incremental ingestion (new
    * batch vs existing corpus) and train/eval decontamination need. Shuffled
    * rows are fixed-width (id, hash, n) longs on both sides; text stays in
    * the scan stage.
    *
    * `maxGramDf` mirrors [[nGramJaccard]]'s hot-gram guard (r7; the 10×
    * smoke showed cross-index work is Σ df_a·df_b per gram — unbounded
    * when boilerplate grams are hot on BOTH sides): grams whose COMBINED
    * document frequency exceeds the cap are dropped from candidate
    * generation only, and surviving candidates re-verify against the full
    * gram sets — every reported jaccard stays exact; only a pair whose
    * shared grams are ALL hotter than the cap can be missed. Default
    * (no cap) is the oracle-exact configuration.
    */
  def crossJaccard(
      left: DataFrame,
      right: DataFrame,
      textCol: String,
      idCol: String,
      tauNum: Int,
      tauDen: Int,
      maxGramDf: Int = Int.MaxValue): DataFrame = {
    val a = gramsWithSizes(left, textCol, idCol).as("a")
    val b = gramsWithSizes(right, textCol, idCol).as("b")
    val lengthOk = col("a.n") * tauNum <= col("b.n") * tauDen &&
      col("b.n") * tauNum <= col("a.n") * tauDen
    if (maxGramDf == Int.MaxValue) {
      a.join(b, col("a.gh") === col("b.gh") && lengthOk)
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") * tauDen >= (col("na") + col("nb") - col("c")) * tauNum)
        .select(col("id_a"), col("id_b"),
          (col("c").cast("double") / (col("na") + col("nb") - col("c")))
            .as("jaccard"))
    } else {
      // combined-df cold grams -> candidates -> exact re-verify (the
      // nGramJaccard capped shape, across two relations)
      val coldGrams = a.select(col("a.gh").as("gh"))
        .unionByName(b.select(col("b.gh").as("gh")))
        .groupBy("gh").agg(count(lit(1)).as("gdf"))
        .filter(col("gdf") <= maxGramDf).select("gh")
      val ai = gramsWithSizes(left, textCol, idCol)
        .join(coldGrams, Seq("gh")).as("a")
      val bi = gramsWithSizes(right, textCol, idCol)
        .join(coldGrams, Seq("gh")).as("b")
      val cand = ai.join(bi, col("a.gh") === col("b.gh") && lengthOk)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      def sets(df: DataFrame) = graft.Tables.spreadIfNarrow(df)
        .select(col(idCol).as("sid"), sort_array(
          graft.functions.HashExpressions.ngramHashSet(col(textCol), 2))
          .as("gs")) // r15: sorted hash sets + fused merge count
      cand
        .join(sets(left).select(col("sid").as("id_a"), col("gs").as("ga")), "id_a")
        .join(sets(right).select(col("sid").as("id_b"), col("gs").as("gb")), "id_b")
        .withColumn("c", graft.functions.HashExpressions
          .sortedCommonCount(col("ga"), col("gb")))
        .withColumn("u", size(col("ga")) + size(col("gb")) - col("c"))
        .filter(col("c") * tauDen >= col("u") * tauNum)
        .select(col("id_a"), col("id_b"),
          (col("c").cast("double") / col("u")).as("jaccard"))
    }
  }

  /** Normalization applied before near-exact dedup: lowercase, collapse
    * whitespace runs, trim. Catches the re-encodes and copy-paste
    * variants (case flips, double spaces, trailing blanks) that exact
    * content hashing misses while staying a pure per-row projection —
    * the standard first rung on the dedup ladder between exact (d01) and
    * n-gram similarity (d02).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** [[exact]] over the normalized text: one (norm-hash, id) shuffle with
    * map-side partials, keep-min-id per normalization class.
    */
  def exactNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exact(df.withColumn(textCol, normalizeText(col(textCol))), textCol, idCol)

  /** The UNICODE rung of the normalization ladder (r8): NFKC + case fold
    * + whitespace collapse via the codegen'd
    * [[graft.functions.NfkcFoldExpr]]. Real web corpora carry width,
    * ligature, and combining-mark variants of the same text that
    * [[normalizeText]]'s case/whitespace collapse cannot see (ﬁle ≡
    * file, ｆｕｌｌｗｉｄｔｈ ≡ fullwidth, e+◌́ ≡ é) — this folds them
    * into one class; on ASCII it degenerates to exactly
    * [[normalizeText]]'s result. Same scale shape as [[exactNormalized]]:
    * normalization happens in the scan stage, the shuffle carries
    * (norm-hash, id).
    */
  def exactNormalizedUnicode(
      df: DataFrame, textCol: String, idCol: String): DataFrame =
    exact(df.withColumn(textCol,
      graft.functions.TextExpressions.nfkcFold(col(textCol))),
      textCol, idCol)

  /** Corpus snapshot diff: classify every document id across two corpus
    * versions as `added` (only in new), `removed` (only in old),
    * `changed` (both, different text), or `unchanged` — the dataset-
    * versioning primitive behind incremental re-processing ("run the
    * pipeline only on added+changed") and release audits.
    *
    * Shape: content hashes are computed IN THE SCAN STAGE (the d01
    * lesson — the join/shuffle carries (id, 16-byte md5), never text),
    * then one full outer equi-join on id. At 100 TB both sides shuffle
    * fixed-width rows; with both snapshots bucketed by id
    * (TableTools.writeBucketed) the join plans with no Exchange at all.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // presence is a non-null marker per side, NOT hash null-ness (r6,
    // advisor find): md5(NULL text) is NULL, so a null-text doc present
    // in both snapshots would otherwise misreport as added/removed; the
    // null-safe <=> makes null-text-in-both compare 'unchanged'
    def hashed(df: DataFrame, h: String, pres: String) =
      df.select(col(idCol), md5(col(textCol)).as(h), lit(true).as(pres))
    hashed(oldDf, "old_hash", "in_old")
      .join(hashed(newDf, "new_hash", "in_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(col("old_hash") <=> col("new_hash"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Cross-relation EXACT n-gram overlap: (id_a, id_b, n_shared) for every
    * left/right pair sharing at least `minShared` distinct word-n-grams.
    * This is the contamination question [[crossJaccard]] does NOT answer:
    * an eval answer pasted into one corner of a long train document has
    * tiny Jaccard similarity, but a single shared 13-gram is the leak
    * (the GPT-3-style decontamination standard; `n` is caller-sized
    * because the right width tracks the tokenizer and eval format).
    *
    * Shape: one fused codegen'd [[graft.functions.NGramHashSet]] per
    * document in the scan stage (no gram strings ever become rows) →
    * inverted-index equi-join on 64-bit gram hashes → pair count. All
    * shuffled rows are fixed-width (id, hash) longs. Long n-grams are
    * near-unique at corpus scale, so per-gram df stays tiny and the join
    * cost tracks the true overlap, not a cross product.
    */
  def crossNGramOverlap(
      left: DataFrame,
      right: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      minShared: Long = 1L): DataFrame = {
    def grams(df: DataFrame) = graft.Tables.spreadIfNarrow(df)
      .select(col(idCol).as("id"),
        explode(graft.functions.HashExpressions.ngramHashSet(
          col(textCol), n)).as("gh"))
    grams(left).as("a")
      .join(grams(right).as("b"), col("a.gh") === col("b.gh"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[crossNGramOverlap]] with a Bloom prefilter on the TRAIN side —
    * the 100 TB shape of decontamination. The plain cross overlap
    * shuffles EVERY train gram hash into the equi-join, i.e. the whole
    * corpus's gram volume crosses the wire to probe an eval suite that
    * is fixed-size and tiny by comparison. Here the eval grams build a
    * Bloom filter (a few MB at fpp=1%) that ships to the train scan
    * stage as a broadcast, and only might-contain survivors — true
    * leaks plus ~fpp of the rest — enter the exchange: the shuffle
    * shrinks from O(corpus grams) to O(leaks + fpp·corpus grams)
    * while the SCAN work is unchanged (one codegen'd probe per gram).
    *
    * The result is EXACT, bit-identical to [[crossNGramOverlap]]
    * (DedupSpec asserts frame equality): the equi-join itself is the
    * verification — a Bloom false positive just shuffles one extra
    * hash row and matches nothing — and a Bloom "no" is definitive.
    * This is [[exactIncremental]]'s d09 contract applied to the
    * decontamination join (one filter per GRAM rather than per doc).
    * `expectedItems` sizes the filter to the eval side's distinct gram
    * count (overshooting only wastes the filter's few MB).
    */
  def crossNGramOverlapBloom(
      left: DataFrame,
      right: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      minShared: Long = 1L,
      expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    def grams(df: DataFrame) = graft.Tables.spreadIfNarrow(df)
      .select(col(idCol).as("id"),
        explode(graft.functions.HashExpressions.ngramHashSet(
          col(textCol), n)).as("gh"))
    val rightGrams = grams(right)
    val bloom = bloomFilter(rightGrams, "gh", expectedItems, fpp)
    val probe = graft.functions.HashExpressions
      .bloomMightContain(col("gh"), bloom)
    grams(left).filter(probe).as("a")
      .join(rightGrams.as("b"), col("a.gh") === col("b.gh"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Contamination COVERAGE report (r8): for every eval document, the
    * fraction of its distinct word-`n`-grams that appear ANYWHERE in the
    * train corpus — the PaLM/GPT-4-style "dirty if > X% of n-grams are
    * covered" metric. [[crossNGramOverlap]] answers "which train doc
    * leaked into which eval doc"; this answers "how contaminated is each
    * eval doc overall", which is what an eval-set release decision
    * actually reads (per-pair counts can each be tiny while their union
    * covers the doc).
    *
    * Shape: both sides hash n-grams in the scan stage (the fused
    * [[graft.functions.NGramHashSet]] — per-doc DISTINCT gram hashes, no
    * gram string ever becomes a row); the train side collapses to its
    * distinct hash set (map-side partial dedup) and the eval grams
    * LEFT SEMI join it — every shuffled row is a fixed-width hash.
    * Eval docs with fewer than `n` tokens report n_grams = 0,
    * coverage 0.0.
    */
  def ngramCoverage(
      evalDf: DataFrame,
      train: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    val evalGrams = graft.Tables.spreadIfNarrow(evalDf)
      .select(col(idCol).as("id"),
        explode(graft.functions.HashExpressions.ngramHashSet(
          col(textCol), n)).as("gh"))
    val trainGrams = graft.Tables.spreadIfNarrow(train)
      .select(explode(graft.functions.HashExpressions.ngramHashSet(
        col(textCol), n)).as("gh"))
      .distinct()
    val totals = evalGrams.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val covered = evalGrams.join(trainGrams, Seq("gh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_covered"))
    evalDf.select(col(idCol).as("id"))
      .join(totals, Seq("id"), "left")
      .join(covered, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (coalesce(col("n_covered"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L))
            .cast("double")).as("coverage"))
  }

  /** Per-document duplicated-n-gram fraction — the memorization-risk
    * signal Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better") report per example: what fraction of
    * this doc's distinct n-gram windows also occur in at least
    * `minDf − 1` OTHER documents. Cluster-level down-weighting (d33)
    * scores whole near-dup groups; this is the finer per-doc dial —
    * a doc can sit in no dup cluster yet be 80% boilerplate n-grams,
    * exactly the text a trained model regurgitates.
    *
    * Shape: one distinct-(doc, gramhash) explode (the d12/d20 index),
    * a (gram → df) map-side-combined rollup, one semi join back, two
    * per-doc counts, ONE IEEE division. Everything shuffled is a
    * fixed-width long; linear in corpus gram volume. Docs with fewer
    * than `n` tokens carry no window and report (0, 0, NULL).
    */
  def dupGramFraction(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      minDf: Long = 2L): DataFrame = {
    val grams = graft.Tables.spreadIfNarrow(df)
      .select(col(idCol).as("id"),
        explode(graft.functions.HashExpressions.ngramHashSet(
          col(textCol), n)).as("gh"))
    val hot = grams.groupBy("gh").agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") >= minDf).select("gh")
    val totals = grams.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val dup = grams.join(hot, Seq("gh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup"))
    df.select(col(idCol).as("id"))
      .join(totals, Seq("id"), "left")
      .join(dup, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_grams"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_grams")).as("dup_frac"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): from each window of `w`
    * consecutive token-`k`-gram hashes, select the RIGHTMOST minimal
    * hash; the distinct selected (position, hash) set is the document's
    * fingerprint. The winnowing guarantee: any match of at least
    * `w + k − 1` tokens between two documents shares at least one
    * fingerprint, at expected density `2/(w+1)` — the principled
    * selection rule above t04's select-nothing rolling hash (word-gram
    * variant; the paper hashes char k-grams).
    *
    * Exactness: the gram hash is `md5` HEX — equal-length lowercase
    * hex compares lexicographically exactly like the number it
    * encodes in BOTH engines (the p26 threshold trick applied to an
    * ORDERING), so "minimal hash, rightmost on ties" is
    * `min(struct(h, −pos))` here and `ORDER BY h, pos DESC` in the
    * oracle, bit-identically. At 100 TB swap md5 for the xxhash64
    * pair [[spanHotTable]] uses (fixed-width shuffle rows; the
    * selection logic is hash-agnostic).
    *
    * Shape: one scan-stage gram explode (positions over EMPTY-FILTERED
    * tokens — the d12 oracle convention), a ×w bounded window-start
    * explode, one (doc, start) hash-agg argmin, one distinct — linear
    * in token volume. Docs with fewer than `w + k − 1` tokens carry no
    * full window and emit no fingerprint (documented; MOSS assumes the
    * noise threshold exceeds the window).
    */
  def winnowFingerprints(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      w: Int): DataFrame = {
    require(k >= 2 && w >= 1, s"bad shape: k=$k w=$w")
    // r16: the gram stream is the fused NGramList kernel (byte-exact vs
    // the former filter(split)/slice/concat_ws HOF stack, which was
    // O(|doc|²) per row — every interpreted slice(t, p+1, k) re-ran the
    // whole tokenize; the t37 class). The per-doc gram COUNT rides
    // BESIDE the explode as size(garr) — the former count rollup joined
    // back on id derived the gram subtree a SECOND time (no cross-branch
    // CSE) and paid two exchanges (measured: two ~9 s task-time map
    // stages in t46's profile at sf0.1). Barrier on the alias so
    // InferFiltersFromGenerate's size filter tests the attribute, not a
    // substituted second evaluation.
    val grams = graft.Tables.spreadIfNarrow(df)
      .select(col(idCol).as("id"),
        graft.functions.HashExpressions.expensive(
          graft.functions.HashExpressions.ngramList(col(textCol), k))
          .as("garr"))
      .select(col("id"), size(col("garr")).cast("long").as("ng"),
        posexplode(col("garr")).as(Seq("pos", "g")))
      .select(col("id"), col("ng"), col("pos").cast("long").as("pos"),
        md5(col("g")).as("h"))
    grams
      .select(col("id"), col("pos"), col("h"), col("ng"),
        explode(sequence(col("pos") - (w - 1), col("pos"))).as("s"))
      .filter(col("s") >= 0 && col("s") <= col("ng") - w)
      .groupBy("id", "s")
      .agg(min(struct(col("h"), (lit(0L) - col("pos")).as("np"))).as("m"))
      .select(col("id"), (lit(0L) - col("m.np")).as("pos"),
        col("m.h").as("fp"))
      .distinct()
      .withColumnRenamed("id", idCol)
  }

  /** MOSS-style near-dup pair detection over WINNOWING fingerprints
    * (Schleimer, Wilkerson & Aiken SIGMOD 2003 §4 — the deployed
    * plagiarism/overlap detector): pairs of documents sharing at least
    * `minShared` distinct fingerprints, scored by containment
    * `n_shared / min(n_a, n_b)`. The rung BETWEEN d02's full gram-set
    * Jaccard and d01's whole-doc hash: winnowing selects ~2/(w+1) of
    * the k-gram hashes yet GUARANTEES any match of w+k−1 consecutive
    * tokens shares a fingerprint — so long verbatim overlaps are
    * detected from a fraction of the index d02 carries, and the
    * containment score (unlike Jaccard) still fires when a small doc
    * is pasted inside a much larger one.
    *
    * Shape: the d02-capped contract transplanted to fingerprints —
    * candidates from a cold-fingerprint inverted index (df ≤ maxFpDf;
    * a fingerprint shared by half the corpus is boilerplate, exactly
    * the "too common to be interesting" fingerprints MOSS drops), then
    * an exact re-verify of every candidate against the FULL distinct
    * fingerprint sets, so reported counts and scores are exact and the
    * cap can only miss a pair whose every shared fingerprint is hot.
    * `hashFps = true` is the 100 TB path (the d30 split): fingerprints
    * collapse to xxhash64 longs in the scan stage so the index,
    * candidate join, and verify sets all move fixed-width longs
    * (counting hashed fps equals counting fps absent a 64-bit
    * collision); the md5-string default keeps the DuckDB oracle
    * hash-exact.
    */
  def winnowPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      w: Int,
      minShared: Int,
      maxFpDf: Int = Int.MaxValue,
      hashFps: Boolean = false): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    val raw = winnowFingerprints(df, textCol, idCol, k, w)
      .select(col(idCol).as("id"), col("fp"))
    val fps = (if (hashFps) raw.select(col("id"), xxhash64(col("fp")).as("fp"))
               else raw).distinct()
    val cold =
      if (maxFpDf == Int.MaxValue) fps.select("fp").distinct()
      else fps.groupBy("fp").agg(count(lit(1)).as("fdf"))
        .filter(col("fdf") <= maxFpDf).select("fp")
    val idx = fps.join(cold, "fp")
    val cand = idx.as("a").join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // r15: sorted fingerprint sets + fused merge count on the long-fp
    // path (fps are distinct per (id, fp) by construction above); the
    // md5-string oracle path keeps array_intersect — SortedCommonCount
    // is a long-array merge
    val sets = fps.groupBy("id").agg(sort_array(collect_list("fp")).as("fs"))
    val nShared =
      if (hashFps) graft.functions.HashExpressions
        .sortedCommonCount(col("fa"), col("fb"))
      else size(array_intersect(col("fa"), col("fb"))).cast("long")
    cand
      .join(sets.select(col("id").as("id_a"), col("fs").as("fa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("fs").as("fb")), "id_b")
      .withColumn("n_shared", nShared)
      .filter(col("n_shared") >= minShared)
      .withColumn("n_a", size(col("fa")).cast("long"))
      .withColumn("n_b", size(col("fb")).cast("long"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        (col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
  }

  /** C4-style repeated-line scrub: remove every line that occurs in more
    * than `maxLineDf` distinct documents (navigation chrome, cookie
    * banners, boilerplate footers — the intra-corpus repetition that
    * whole-doc dedup can't see), returning (id, text) with surviving
    * lines in original order. Documents whose every line is boilerplate
    * disappear (C4 drops empty docs).
    *
    * Shape: the line index is (id, pos, h1, h2) with TWO independent
    * 64-bit xxhash64s identifying each line — fixed-width rows; line TEXT
    * never enters the df count or the anti-join. A single 64-bit key
    * invites a birthday collision at the 100 TB target (billions of
    * distinct lines), where a unique line colliding with a hot line would
    * silently scrub the wrong text; the 128-bit pair puts collision odds
    * in the md5 class (same convention as semanticDedup's exact-vector
    * collapse). Per-doc distinct line pairs feed a ((h1,h2) → df) count
    * with map-side partials; surviving positions fold back to one sorted
    * int array per doc, and reconstruction is a LINEAR per-row gather —
    * `transform(keep_pos, p -> lines[p])` — O(kept) array indexing, not
    * the O(lines²) membership scan a filter-by-`array_contains` would
    * cost a 50k-line document. The only text-bearing exchange is the
    * docs-side join to its position mask, keyed on id — the doc-rewrite
    * shuffle this op fundamentally is; with id-bucketed storage it plans
    * with no Exchange at all.
    */
  def scrubRepeatedLines(
      df0: DataFrame,
      textCol: String,
      idCol: String,
      maxLineDf: Long): DataFrame = {
    // explicit null-text drop: without it the final inner join happens to
    // drop null docs anyway, but only via ANSI null propagation — pin the
    // contract here so it can't drift with the session's ansi/sizeOfNull
    val df = df0.filter(col(textCol).isNotNull)
    // r16: EAGER localCheckpoint — the hot rollup and the anti-join
    // probe each derived this corpus-sized (id, pos, h1, h2) frame
    // (exchanges key differently, nothing reused); one text read now.
    val lines = graft.Tables.spreadIfNarrow(df)
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .select(col("id"), col("pos"),
        xxhash64(col("line")).as("h1"),
        xxhash64(lit(0x5bd1e995L), col("line")).as("h2"))
    // df counts DOCUMENTS (a line repeated within one doc counts once)
    val hot = lines.select(col("id"), col("h1"), col("h2")).distinct()
      .groupBy("h1", "h2").agg(count(lit(1)).as("ldf"))
      .filter(col("ldf") > maxLineDf)
      .select("h1", "h2")
    val keptPos = lines.join(hot, Seq("h1", "h2"), "left_anti")
      .groupBy("id")
      .agg(sort_array(collect_list(col("pos"))).as("keep_pos"))
    df.select(col(idCol).as("id"), split(col(textCol), "\n").as("__lines"))
      .join(keptPos, "id")
      .select(col("id").as(idCol),
        concat_ws("\n", transform(col("keep_pos"),
          p => element_at(col("__lines"), p + 1))).as(textCol))
  }

  /** ExactSubstr-style repeated token-SPAN scrub (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * approximated at fixed window granularity): remove every token that
    * lies inside an `n`-token window occurring in more than `maxSpanDf`
    * distinct documents, returning (id, text) with surviving tokens in
    * original order. This is the sub-line boilerplate [[scrubRepeatedLines]]
    * cannot see — a hot phrase pasted MID-sentence (cookie banners inside
    * prose, share-this chrome, templated intros) never aligns to a line
    * boundary, but every n-token window fully inside it is corpus-hot,
    * so the union of hot-window hits covers exactly the repeated span
    * while windows straddling into unique neighbors stay cold and the
    * surrounding prose survives.
    *
    * Shape mirrors d16's, one level finer: the window index is
    * (id, pos, h1, h2) — two independent xxhash64s of each n-token
    * window, fixed-width rows; window TEXT exists only inside the scan
    * stage (hashing happens in the same projection as the posexplode —
    * no text-bearing exchange). Per-doc-distinct pairs feed the df count
    * (a window repeated within one doc counts once) with map-side
    * partials. Hot hits explode to ≤ n removed positions each —
    * bounded by hit count, not document size — and fold to one int-array
    * set per doc; reconstruction is `array_except(sequence, removed)`
    * (hash-set membership, O(tokens + removed) per doc — LINEAR) then
    * the same gather `transform(keep_pos, p -> tokens[p])` as d16.
    * Documents reduced to zero tokens disappear (C4 drops empty docs);
    * null-text docs likewise. The only text-bearing exchange is the
    * docs-side join to its removal mask, keyed on id — none with
    * id-bucketed storage.
    */
  def scrubRepeatedSpans(
      df0: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      maxSpanDf: Long): DataFrame = {
    require(n >= 2, s"window must span tokens, got n=$n")
    // r16: ONE window index for both the hot rollup and the hit join —
    // the former spanHotTable + scrubWithHotSpans composition derived
    // the corpus-sized (id, pos, h1, h2) index twice (their exchanges
    // key differently, so nothing is reused). EAGER localCheckpoint:
    // the two consumers are submitted concurrently. Hot-table values
    // identical (same null filter, same rollup).
    val df = df0.filter(col(textCol).isNotNull)
    val wins = spanWindowIndex(df, textCol, idCol, n)
    val hot = wins.select(col("id"), col("h1"), col("h2")).distinct()
      .groupBy("h1", "h2").agg(count(lit(1)).as("wdf"))
      .filter(col("wdf") > maxSpanDf)
      .select("h1", "h2")
    scrubGivenIndex(df, textCol, idCol, n, wins, hot)
  }

  /** The fixed-width `(id, pos, h1, h2)` window index both scrub rungs
    * and the hot-span derivation share: two independent xxhash64s of
    * each n-token window, hashed in the scan-stage projection so window
    * TEXT never crosses an exchange.
    */
  private def spanWindowIndex(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    spanWindowProjection(graft.Tables.spreadIfNarrow(df), textCol, idCol, n)

  /** The pure scan-stage window projection behind [[spanWindowIndex]],
    * WITHOUT the batch-only narrow-source spread (`spreadIfNarrow`
    * inspects the RDD, which a STREAMING plan forbids) — the form
    * `CorpusStream.substringGuardStream` maps over arriving documents.
    */
  private[graft] def spanWindowProjection(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    // r16: fused raw-split window stream (NGramList keepEmpty — byte-
    // exact vs the former HOF form incl. empty segments, spec-gated in
    // FusedSpanWindowSpec). The interpreted
    // `transform(sequence, p => concat_ws(slice(t, p+1, n)))` stack
    // re-evaluated the inlined split per window position — O(|doc|²)
    // per row, the t46/t37 class — shared by d17/d25/d41/d43/p12 and
    // the streaming substring guard.
    df.select(col(idCol).as("id"), posexplode(
        graft.functions.HashExpressions.ngramListAll(col(textCol), n))
        .as(Seq("pos", "w")))
      .select(col("id"), col("pos"),
        xxhash64(col("w")).as("h1"),
        xxhash64(lit(0x5bd1e995L), col("w")).as("h2"))

  /** The corpus-hot span table `(h1, h2)` — every n-token window whose
    * DOCUMENT frequency exceeds `maxSpanDf` (a span repeated within one
    * doc counts once). Exposed so a standing corpus can FREEZE its
    * boilerplate statistics at a release-series base cut
    * ([[graft.tools.ReleaseBuild.SeriesStats]]) and delta cuts scrub
    * new batches against the same hot set the base scrubbed with.
    */
  def spanHotTable(
      df0: DataFrame, textCol: String, idCol: String,
      n: Int, maxSpanDf: Long): DataFrame = {
    require(n >= 2, s"window must span tokens, got n=$n")
    spanWindowIndex(df0.filter(col(textCol).isNotNull), textCol, idCol, n)
      .select(col("id"), col("h1"), col("h2")).distinct()
      .groupBy("h1", "h2").agg(count(lit(1)).as("wdf"))
      .filter(col("wdf") > maxSpanDf)
      .select("h1", "h2")
  }

  /** [[scrubRepeatedSpans]] against a PRE-BUILT hot-span table — the
    * standing-corpus shape (the [[graft.ops.Corpus.surprisalWithCounts]]
    * convention): scrub work is the batch's window index joined to the
    * frozen hot set, never a recount of the corpus.
    */
  def scrubWithHotSpans(
      df0: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      hot: DataFrame): DataFrame = {
    require(n >= 2, s"window must span tokens, got n=$n")
    // explicit null-text drop: the keep_pos filter below drops null docs
    // only under ANSI semantics (size(null)=null); with sizeOfNull=-1 a
    // null doc would survive as an empty-string row — pin the contract
    val df = df0.filter(col(textCol).isNotNull)
    scrubGivenIndex(df, textCol, idCol, n,
      spanWindowIndex(df, textCol, idCol, n), hot)
  }

  /** The scrub body over a PRE-DERIVED window index (single-consumer
    * here, so callers decide whether `wins` is checkpointed).
    */
  private def scrubGivenIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      wins: DataFrame,
      hot: DataFrame): DataFrame = {
    val toks = split(col(textCol), " ")
    val removed = wins.join(hot, Seq("h1", "h2"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("rp"))
      .distinct()
      .groupBy("id").agg(collect_list(col("rp")).as("removed"))
    df.select(col(idCol).as("id"), toks.as("t"))
      .join(removed, Seq("id"), "left")
      .withColumn("keep_pos",
        when(col("removed").isNull, sequence(lit(0), size(col("t")) - 1))
          .otherwise(array_except(
            sequence(lit(0), size(col("t")) - 1), col("removed"))))
      .filter(size(col("keep_pos")) > 0)
      // r15b: the rebuilt text is an ExpensiveBarrier alias — a composed
      // caller's pushed-down filter (p12's lang/quality gates) otherwise
      // SUBSTITUTES this whole concat_ws(transform(...)) rebuild into its
      // condition once per reference (~20 rebuilds per row observed in
      // the p12 physical plan); the barrier pins one rebuild per row and
      // the filter tests the materialized column above.
      .select(col("id").as(idCol),
        graft.functions.HashExpressions.expensive(
          concat_ws(" ", transform(col("keep_pos"),
            p => element_at(col("t"), p + 1)))).as(textCol))
  }

  /** MAXIMAL-span ExactSubstr scrub (Lee et al. 2022 §4 semantics at
    * window granularity): chain overlapping/abutting hot `n`-token
    * windows into maximal repeated spans and remove ONLY spans of at
    * least `minSpanLen` tokens. [[scrubRepeatedSpans]] removes every hot
    * window's tokens outright; the published ExactSubstr instead removes
    * maximal repeated substrings ≥ 50 tokens — a short hot phrase (a
    * product name, a legal formula) below the threshold SURVIVES there,
    * and survives here, while long pasted boilerplate is excised whole.
    * Chaining rule: hot windows at positions p < q belong to one span
    * iff q ≤ p + n (their token ranges overlap or touch), so a repeated
    * region of length m produces exactly one chained span [first,
    * last + n) covering it; spans from different chains are disjoint by
    * construction (the gap > n between chains keeps their ranges apart).
    *
    * Shape: d17's fixed-width window index and df count verbatim (text
    * hashes in the scan stage, never in an exchange), then the classic
    * gaps-and-islands rewrite over the HOT HITS ONLY — `lag(pos)` +
    * running sum over a per-doc window keyed on id, rows bounded by hit
    * count, not document size. Span ranges explode to removed positions
    * (≤ span length each) and reconstruction is the d17 gather. The
    * only text-bearing exchange is the docs-side join to its removal
    * mask, keyed on id — none with id-bucketed storage.
    */
  def scrubMaxSpans(
      df0: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      maxSpanDf: Long,
      minSpanLen: Int): DataFrame = {
    require(n >= 2, s"window must span tokens, got n=$n")
    require(minSpanLen >= n,
      s"minSpanLen=$minSpanLen below window size $n would never bind")
    val df = df0.filter(col(textCol).isNotNull)
    val toks = split(col(textCol), " ")
    // r16: EAGER localCheckpoint — the hot rollup and the hit join each
    // derived the corpus-sized window index (different exchange keys, no
    // reuse; the scrubRepeatedSpans fix, same device).
    val wins = spanWindowIndex(df, textCol, idCol, n)
    val hot = wins.select(col("id"), col("h1"), col("h2")).distinct()
      .groupBy("h1", "h2").agg(count(lit(1)).as("wdf"))
      .filter(col("wdf") > maxSpanDf)
      .select("h1", "h2")
    // hot hits only — the bounded row set the islands window runs over
    val hits = wins.join(hot, Seq("h1", "h2")).select("id", "pos").distinct()
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    val spans = hits
      .withColumn("newi",
        when(col("pos") - lag("pos", 1).over(byPos) > n, 1).otherwise(0))
      .withColumn("island", sum("newi").over(
        byPos.rowsBetween(Long.MinValue, 0)))
      .groupBy("id", "island")
      .agg(min("pos").as("s"), (max(col("pos")) + n).as("e"))
      .filter(col("e") - col("s") >= minSpanLen)
    val removed = spans
      .select(col("id"), explode(sequence(col("s"), col("e") - 1)).as("rp"))
      .groupBy("id").agg(collect_list(col("rp")).as("removed"))
    df.select(col(idCol).as("id"), toks.as("t"))
      .join(removed, Seq("id"), "left")
      .withColumn("keep_pos",
        when(col("removed").isNull, sequence(lit(0), size(col("t")) - 1))
          .otherwise(array_except(
            sequence(lit(0), size(col("t")) - 1), col("removed"))))
      .filter(size(col("keep_pos")) > 0)
      // r15b: the rebuilt text is an ExpensiveBarrier alias — a composed
      // caller's pushed-down filter (p12's lang/quality gates) otherwise
      // SUBSTITUTES this whole concat_ws(transform(...)) rebuild into its
      // condition once per reference (~20 rebuilds per row observed in
      // the p12 physical plan); the barrier pins one rebuild per row and
      // the filter tests the materialized column above.
      .select(col("id").as(idCol),
        graft.functions.HashExpressions.expensive(
          concat_ws(" ", transform(col("keep_pos"),
            p => element_at(col("t"), p + 1)))).as(textCol))
  }

  /** Exact-substring duplicate spans between document PAIRS (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better" —
    * the ExactSubstr rung real LLM pipelines run between d01's whole-doc
    * hash and the set-similarity family): every maximal shared token run
    * of at least `minSpanLen` tokens between two documents, reported as
    * `(id_a, id_b, start_a, start_b, span_len)` with starts 0-based in
    * token positions. [[scrubMaxSpans]] (d25) removes CORPUS-HOT spans —
    * a frequency-thresholded scrub with no pair evidence; this is the
    * PAIRWISE exact form the paper actually runs (their suffix-array
    * "find any substring of ≥ 50 tokens shared between two examples"),
    * re-expressed bulk-friendly: one window explode + one equi-join +
    * one gaps-and-islands window, no suffix array needed because the
    * span floor makes fixed-width `n`-token shingles complete.
    *
    * Completeness: a shared run of length m ≥ n yields window matches at
    * every offset on ONE (id_a, id_b, diagonal = start_b − start_a)
    * lattice line, mutually within n positions, so the island chain
    * reconstructs exactly [start, start + m) — the d25 chaining lemma
    * applied per (pair, diagonal). Maximality: a match extending the
    * island would extend the run, so island bounds are run bounds.
    * Within-doc repeats produce one island per diagonal — i.e. per
    * (occurrence_a, occurrence_b) alignment, which is the removal-list
    * semantics a scrubber wants (each aligned copy is evidence).
    *
    * Scale: the index is fixed-width (id, pos, h1, h2) rows hashed in
    * the scan stage (text never crosses an exchange); candidate work per
    * window value is df², so `maxWindowDf` prunes windows hotter than
    * the cap — at 100 TB those are boilerplate the d17/d25 corpus-hot
    * scrub already removes CHEAPER (df-threshold, no pairs), so the cap
    * is a tiering contract with that ladder, not a silent loss: run
    * scrubRepeatedSpans/scrubMaxSpans first, then pairwise ExactSubstr
    * on the residue where every window's df is small. The islands
    * window partitions by (pair, diagonal) — rows bounded by matched
    * windows, never document size.
    */
  def substringDupSpans(
      df0: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      minSpanLen: Int,
      maxWindowDf: Long = Long.MaxValue): DataFrame = {
    require(n >= 2, s"window must span tokens, got n=$n")
    require(minSpanLen >= n,
      s"minSpanLen=$minSpanLen below window size $n is incomplete: a " +
        "shared run shorter than the window produces no match")
    val wins = substringIndex(df0, textCol, idCol, n, maxWindowDf)
    val a = wins.as("a"); val b = wins.as("b")
    val matches = a.join(b,
        col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pa"),
        (col("b.pos") - col("a.pos")).as("diag"))
    diagonalSpans(matches, n, minSpanLen)
  }

  /** Shared diagonal gaps-and-islands chain for the ExactSubstr family:
    * `matches` = (id_a, id_b, pa, diag) window-match rows; output =
    * (id_a, id_b, start_a, start_b, span_len) maximal spans ≥
    * `minSpanLen` (the [[substringDupSpans]] lemma).
    */
  private def diagonalSpans(
      matches: DataFrame, n: Int, minSpanLen: Int): DataFrame = {
    val byDiag = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "diag").orderBy("pa")
    matches
      .withColumn("newi",
        when(col("pa") - lag("pa", 1).over(byDiag) > n, 1).otherwise(0))
      .withColumn("island", sum("newi").over(
        byDiag.rowsBetween(Long.MinValue, 0)))
      .groupBy("id_a", "id_b", "diag", "island")
      .agg(min("pa").as("start_a"), (max(col("pa")) + n).as("ea"))
      .withColumn("span_len", col("ea") - col("start_a"))
      .filter(col("span_len") >= minSpanLen)
      .select(col("id_a"), col("id_b"),
        col("start_a").cast("long").as("start_a"),
        (col("start_a") + col("diag")).cast("long").as("start_b"),
        col("span_len").cast("long").as("span_len"))
  }

  /** The fixed-width `(id, pos, h1, h2)` shingle index of
    * [[substringDupSpans]], exposed so a STANDING corpus can persist it
    * once (parquet beside the corpus, the spanHotTable/SeriesStats
    * freeze convention) and every later probe — batch
    * [[crossSubstringSpans]] or the streaming guard
    * (graft.streaming.CorpusStream.substringGuardStream) — joins
    * against the frozen index instead of re-hashing the corpus.
    *
    * `maxWindowDf` is the hot-window cap applied AT FREEZE TIME (r15 —
    * the r14 verdict's one `weak`): windows whose per-doc-distinct
    * document frequency exceeds the cap are DROPPED from the index, so
    * every consumer — the pairwise self-join, the cross probe⋈corpus
    * join, and the streaming guard — inherits the candidate bound
    * df_probe·min(df_corpus, cap) per window instead of the unguarded
    * df² blowup (a 30%-boilerplate 1M-doc corpus owes ~3.6e11 candidate
    * rows uncapped — the ScaleProbe adversary). The dropped windows are
    * exactly [[substringHotWindows]]: persist that list beside the
    * index as the explicit tiering handoff to the d17/d25 corpus-hot
    * scrub, which removes boilerplate by df-threshold WITHOUT pair
    * work. Default Long.MaxValue freezes uncapped (the oracle
    * configuration; cap-free small corpora pay no rollup).
    */
  def substringIndex(
      df: DataFrame, textCol: String, idCol: String, n: Int,
      maxWindowDf: Long = Long.MaxValue): DataFrame = {
    require(n >= 2, s"window must span tokens, got n=$n")
    val wins =
      spanWindowIndex(df.filter(col(textCol).isNotNull), textCol, idCol, n)
    if (maxWindowDf == Long.MaxValue) wins
    else {
      val cold = wins.select(col("id"), col("h1"), col("h2")).distinct()
        .groupBy("h1", "h2").agg(count(lit(1)).as("wdf"))
        .filter(col("wdf") <= maxWindowDf).select("h1", "h2")
      wins.join(cold, Seq("h1", "h2")).select("id", "pos", "h1", "h2")
    }
  }

  /** The windows a `maxWindowDf`-capped [[substringIndex]] freeze DROPS
    * — `(h1, h2, wdf)`, per-doc-distinct document frequency above the
    * cap. Persist beside the capped index: this list IS the tiering
    * handoff to the corpus-hot scrub ladder ([[spanHotTable]] /
    * [[scrubRepeatedSpans]] / [[scrubMaxSpans]] remove these by
    * df-threshold with zero pair work), and an auditor reading it can
    * see exactly which boilerplate the span evidence will not report.
    */
  def substringHotWindows(
      df: DataFrame, textCol: String, idCol: String, n: Int,
      maxWindowDf: Long): DataFrame =
    substringWindowDf(df, textCol, idCol, n).filter(col("wdf") > maxWindowDf)

  /** The FULL per-window document-frequency table `(h1, h2, wdf)` (a
    * window repeated within one doc counts once) — the third freeze
    * artifact beside the capped index and the hot list: per-doc-
    * distinct dfs are ASSOCIATIVE across disjoint id sets, so a
    * standing corpus folds a batch's window dfs into this table
    * (graft.tools.CorpusMaintain.foldSubstringIndex) instead of
    * recounting 100 TB, and cap crossings are detected from the merged
    * counts alone.
    */
  def substringWindowDf(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    require(n >= 2, s"window must span tokens, got n=$n")
    spanWindowIndex(df.filter(col(textCol).isNotNull), textCol, idCol, n)
      .select(col("id"), col("h1"), col("h2")).distinct()
      .groupBy("h1", "h2").agg(count(lit(1)).as("wdf"))
  }

  /** Cross-corpus ExactSubstr evidence (r14): every maximal token run ≥
    * `minSpanLen` shared between a PROBE document and a CORPUS document
    * — the span-localized form of decontamination (d12/d20/d27 FLAG
    * overlapping docs; this names the exact stolen span on both sides,
    * the evidence a release review or a memorization audit reads).
    * Output `(probe_id, corpus_id, start_p, start_c, span_len)`.
    *
    * Same lemma and shape as [[substringDupSpans]] with the self-join
    * replaced by a probe⋈corpus equi join on the hash pair — candidate
    * work per window value is df_probe·df_corpus, and the typical probe
    * (an eval suite) is tiny against the 100 TB corpus side, so the
    * join broadcasts the probe index; ids may collide across the two
    * frames (they are different id spaces by contract).
    *
    * `maxWindowDf` caps the CORPUS side (r15): a boilerplate window
    * shared by the probe and a 100 TB corpus has df_corpus ~ 10⁸ —
    * exactly the blowup the pairwise form's cap prevents — so the
    * corpus index freezes with the cap ([[substringIndex]]) and the
    * per-window candidate work is bounded by df_probe·cap. The probe
    * side stays uncapped: probes are eval-suite-sized by contract, and
    * a capped corpus window yields zero candidates regardless of probe
    * df. Uncapped default = the oracle configuration (d42).
    */
  def crossSubstringSpans(
      probe: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String,
      n: Int, minSpanLen: Int,
      maxWindowDf: Long = Long.MaxValue): DataFrame =
    crossSubstringSpansWithIndex(probe,
      substringIndex(corpus, textCol, idCol, n, maxWindowDf),
      textCol, idCol, n, minSpanLen)

  /** [[crossSubstringSpans]] against a PRE-FROZEN corpus shingle index
    * (persisted [[substringIndex]] output — freeze once, probe many):
    * the batch twin of the streaming guard's standing side, and what
    * a maintained corpus (graft.tools.CorpusMaintain) probes without
    * re-hashing 100 TB per eval suite. A `maxWindowDf`-capped freeze
    * makes every consumer of the index inherit the hot-window bound.
    */
  def crossSubstringSpansWithIndex(
      probe: DataFrame, corpusIndex: DataFrame,
      textCol: String, idCol: String,
      n: Int, minSpanLen: Int): DataFrame = {
    require(minSpanLen >= n,
      s"minSpanLen=$minSpanLen below window size $n is incomplete")
    val p = substringIndex(probe, textCol, idCol, n).as("p")
    val c = corpusIndex.as("c")
    val matches = p.join(c,
        col("p.h1") === col("c.h1") && col("p.h2") === col("c.h2"))
      .select(col("p.id").as("id_a"), col("c.id").as("id_b"),
        col("p.pos").as("pa"),
        (col("c.pos") - col("p.pos")).as("diag"))
    diagonalSpans(matches, n, minSpanLen)
      .select(col("id_a").as("probe_id"), col("id_b").as("corpus_id"),
        col("start_a").as("start_p"), col("start_b").as("start_c"),
        col("span_len"))
  }

  /** [[substringDupSpans]] folded to per-document removal lists, the
    * shape [[scrubWithHotSpans]]-style reconstruction consumes: for each
    * span the HIGHER-id copy is the drop (keep-min-id, the d01
    * convention — Lee et al. likewise remove all but one occurrence),
    * overlapping spans from different pairs union into distinct removed
    * positions. Output `(id, removed_pos)` one row per removed token
    * position.
    */
  def substringRemovalLists(spans: DataFrame): DataFrame =
    spans.select(col("id_b").as("id"),
        explode(sequence(col("start_b"),
          col("start_b") + col("span_len") - 1)).as("removed_pos"))
      .distinct()

  /** Affine MinHash permutation constants (fixed seed, 31-bit so that
    * h*a + b stays far from long overflow under ANSI arithmetic).
    */
  private def minHashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)(((rnd.nextInt(Int.MaxValue - 2) + 1).toLong,
      rnd.nextInt(Int.MaxValue).toLong))
  }
  private val MinHashPrime = 2147483647L // 2^31 - 1 (Mersenne)

  /** (id, sig) MinHash signatures: minhash_i = min over grams of
    * (h31(gram)*a_i + b_i mod p), where h31 is the low 31 bits of xxhash64.
    *
    * One native codegen'd expression (graft.functions.MinHashSig) computes
    * the whole signature in a fused loop per document, directly in the scan
    * stage: no explode, NO SHUFFLE, no numHashes-wide aggregation state.
    * (The previous formulation — explode + 128 statically-unrolled MIN
    * aggregates — was already codegen'd but paid one row per (doc, gram),
    * an exchange, and 128 hash-table probes per gram; a lambda
    * transform/array_min stack would be worse still: CodegenFallback,
    * interpreted. Signatures are bit-identical across all three.)
    * Docs with an empty gram set produce no row (matching the aggregate
    * formulation, where explode dropped them). Narrow (few-partition,
    * e.g. single local file) sources are spread first so signature work
    * isn't serialized; an already-partitioned cluster-scale scan passes
    * through with NO exchange (Tables.spreadIfNarrow — plan-asserted in
    * PlanSpec).
    */
  def minHashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int): DataFrame =
    minHashSignaturesRaw(graft.Tables.spreadIfNarrow(df),
      textCol, idCol, numHashes)

  /** [[minHashSignatures]] without the narrow-source spread: the variant
    * STREAMING callers need (`spreadIfNarrow` inspects source partitions,
    * which a streaming relation doesn't expose; micro-batches arrive
    * pre-parallelized anyway). Identical signatures.
    */
  def minHashSignaturesRaw(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int): DataFrame =
    // r15b: the gram set is an ExpensiveBarrier alias — the empty-set
    // guard below otherwise substitutes the full bigram-set computation
    // into its pushed-down condition (2x per doc; and below a narrow
    // source's spread exchange, a pre-shuffle corpus pass — the d02
    // InferFiltersFromGenerate disease, here via an explicit filter)
    df.select(col(idCol).as("id"),
        graft.functions.HashExpressions.expensive(
          TextOps.bigramSet(col(textCol))).as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("id"), graft.functions.HashExpressions
        .minHashSig(col("grams"), minHashParams(numHashes)).as("sig"))

  /** MinHash ESTIMATOR calibration audit: per true-Jaccard decile, how
    * well the signature match-fraction tracks exact bigram Jaccard —
    * the index-quality card for the TEXT side (the s22/s23 discipline
    * applied to d03): E[match_frac] = J by the MinHash theorem with
    * binomial sd √(J(1−J)/k), so a decile whose mean absolute error
    * blows past that envelope means the permutation family or the
    * banding math regressed — caught here, not in production recall.
    *
    * Shape: the exact pair frame (nGramJaccard, the d02 machinery with
    * its cap contract) is pairs-sized; two id-keyed joins attach the
    * fused-scan signatures; the match fraction is a codegen'd
    * zip_with/aggregate over the two fixed-k arrays; the rollup is ≤ 11
    * decile rows. Nothing new scales with the corpus beyond what d02
    * and d03 already pay.
    *
    * Rows-only by design (the estimate depends on the engine's fixed
    * permutation constants — no SQL mirror); DedupSpec gates exact-dup
    * pairs at match_frac 1.0 and the per-decile error envelope.
    */
  def minhashCalibration(
      df: DataFrame, textCol: String, idCol: String,
      tauNum: Int, tauDen: Int, numHashes: Int = 128,
      maxGramDf: Int = Int.MaxValue): DataFrame = {
    val truth = nGramJaccard(df, textCol, idCol, tauNum, tauDen, maxGramDf)
    val sigs = minHashSignatures(df, textCol, idCol, numHashes)
    truth
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("match_frac",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") / numHashes)
      .groupBy(floor(col("jaccard") * 10).cast("int").as("jac_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        avg("jaccard").as("mean_true"),
        avg("match_frac").as("mean_est"),
        avg(abs(col("match_frac") - col("jaccard"))).as("mean_abs_err"))
  }

  /** The banding step shared by [[minHashLsh]] and the streaming twin
    * (graft.streaming.CorpusStream.lshCandidateStream): (id, band,
    * bucket) keys, band j's bucket = xxhash64 over the signature slice
    * [j·r, (j+1)·r). Rows carry ONLY the id and the two band-key ints.
    */
  def bandKeys(
      withSig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { j =>
      struct(lit(j).as("band"),
        xxhash64(lit(j),
          concat_ws(",", slice(col("sig"), j * rowsPerBand + 1, rowsPerBand)))
          .as("bucket"))
    }
    withSig.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** MinHash + LSH banding candidate pairs, verified by true Jaccard.
    *
    * bands * rowsPerBand minhashes; docs sharing any band bucket become
    * candidates (the only join is on (band, bucketHash) — sub-quadratic);
    * candidates are then verified with exact bigram Jaccard >= tauNum/tauDen.
    * Returns (id_a, id_b, jaccard) like [[nGramJaccard]] minus LSH misses.
    *
    * Buckets larger than `maxBucketSize` are DROPPED before the pair join:
    * a hot bucket means a band signature shared by a crowd (boilerplate,
    * tiny vocabularies) and contributes bucket^2 join rows for pairs that
    * overwhelmingly fail verification; genuine near-dup pairs live in
    * sparse buckets across 32 independent bands, so the recall cost is
    * negligible while the worst-case join size becomes
    * O(buckets * cap^2) — the property that keeps this runnable at 100 TB.
    */
  def minHashLsh(
      df: DataFrame,
      textCol: String,
      idCol: String,
      bands: Int,
      rowsPerBand: Int,
      tauNum: Int,
      tauDen: Int,
      maxBucketSize: Int = 64): DataFrame = {
    val numHashes = bands * rowsPerBand
    val withSig = minHashSignatures(df, textCol, idCol, numHashes)
    // band j's bucket key = hash of the signature slice [j*r, (j+1)*r);
    // bands are statically unrolled so slice offsets are literals. Banded
    // rows carry ONLY (id, band, bucket) — the gram sets are re-joined for
    // verification, so the banding shuffle stays narrow.
    val bandedAll = bandKeys(withSig, bands, rowsPerBand)
    val coldBuckets = bandedAll.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select("band", "bucket")
    val banded = bandedAll.join(coldBuckets, Seq("band", "bucket"))
    val l = banded.as("l"); val r = banded.as("r")
    val cand = l.join(r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // exact verification on the candidate set only
    val grams = graft.Tables.spreadIfNarrow(df)
      .select(col(idCol).as("gid"), sort_array(
        graft.functions.HashExpressions.ngramHashSet(col(textCol), 2))
        .as("grams")) // r15: sorted hash sets + fused merge count
    cand
      .join(grams.select(col("gid").as("id_a"), col("grams").as("ga")), "id_a")
      .join(grams.select(col("gid").as("id_b"), col("grams").as("gb")), "id_b")
      .withColumn("c", graft.functions.HashExpressions
        .sortedCommonCount(col("ga"), col("gb")))
      .withColumn("u", size(col("ga")) + size(col("gb")) - col("c"))
      .filter(col("c") * tauDen >= col("u") * tauNum)
      .select(col("id_a"), col("id_b"),
        (col("c").cast("double") / col("u")).as("jaccard"))
  }

  /** (id, sh) 64-bit SimHashes of the token multiset: bit k of sh is 1 iff
    * the sum over tokens of (bit k of xxhash64(token) ? +1 : -1) is
    * strictly positive.
    *
    * One native codegen'd expression (graft.functions.SimHash64) computes
    * the hash in a fused loop per document in the scan stage — no explode,
    * NO SHUFFLE, no 64-wide aggregation state (previous shape: explode +
    * 64 statically-unrolled conditional SUMs + exchange; bit-identical
    * output). Documents with no tokens produce no row, matching the
    * aggregate formulation. Narrow sources spread, wide scans untouched:
    * same [[graft.Tables.spreadIfNarrow]] note as [[minHashSignatures]].
    */
  def simHashes(df: DataFrame, textCol: String, idCol: String): DataFrame =
    graft.Tables.spreadIfNarrow(df)
      // r15b: same barrier as minHashSignaturesRaw — without it the
      // empty-doc guard re-tokenizes every document in the pushed filter
      .select(col(idCol).as("id"),
        graft.functions.HashExpressions.expensive(
          TextOps.tokens(col(textCol))).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("id"),
        graft.functions.HashExpressions.simHash64(col("ts")).as("sh"))

  /** Near-dup pairs with Hamming distance <= maxHamming between 64-bit
    * SimHashes. Pigeonhole blocking: split the hash into `maxHamming + 1`
    * 16-bit chunks — any pair within the distance budget must agree on at
    * least one chunk, so the only join is on (chunkIdx, chunkValue).
    *
    * Scale: 16-bit chunks give only 65 536 bucket values per chunk, so at
    * billions of docs every bucket holds ~N/65 536 docs and the chunk join
    * is quadratic per bucket. `maxBucketSize` drops (chunk, value) buckets
    * larger than the cap before the pair join — same mechanism as
    * [[minHashLsh]] — bounding worst-case join size at
    * O(4 * 65 536 * cap^2) regardless of corpus size. A dropped hot bucket
    * means a 16-bit template shared by a crowd; pairs whose agreement lives
    * ONLY in hot chunks are missed (bounded recall loss — a true
    * hamming<=k pair agrees on >= 4-k of 4 chunks, so it is missed only if
    * ALL its agreeing chunks are crowd templates). The default cap is
    * inactive at test SFs (buckets are tiny), so rows-only results are
    * unchanged; it exists to make the operator safe at the 100 TB target.
    */
  def simHashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1024): DataFrame =
    hammingPairs(simHashes(df, textCol, idCol), maxHamming, maxBucketSize)

  /** Pigeonhole Hamming blocking over ANY `(id, sh)` 64-bit hash frame —
    * the d04 machinery factored out so every 64-bit locality hash
    * (text SimHash, image pHash) shares one candidate generator: block
    * on the 4 16-bit chunks (a hamming ≤ 3 pair agrees on ≥ 1 chunk),
    * cap hot buckets, verify by exact `bit_count(xor)`.
    */
  def hammingPairs(
      hashed: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1024): DataFrame = {
    require(maxHamming <= 3, "4 chunks of 16 bits support maxHamming <= 3")
    val chunkCols = (0 until 4).map { i =>
      struct(lit(i).as("chunk"),
        shiftright(col("sh"), i * 16).bitwiseAND(lit(0xFFFFL)).as("cv"))
    }
    val chunkedAll = hashed.select(col("id"), col("sh"),
        explode(array(chunkCols: _*)).as("cc"))
      .select(col("id"), col("sh"),
        col("cc.chunk").as("chunk"), col("cc.cv").as("cv"))
    val coldBuckets = chunkedAll.groupBy("chunk", "cv")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select("chunk", "cv")
    val chunked = chunkedAll.join(coldBuckets, Seq("chunk", "cv"))
    val l = chunked.as("l"); val r = chunked.as("r")
    l.join(r, col("l.chunk") === col("r.chunk") && col("l.cv") === col("r.cv") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Pairwise source-overlap matrix: for every ordered source pair
    * (a, b), the fraction of a's DISTINCT word bigrams that also occur
    * in b — the cross-corpus contamination diagnostic a release card
    * prints before mixing sources (is "books" secretly re-crawled web?
    * how much of CC does the curated slice already cover?). Asymmetric
    * by design: a tiny curated source can be fully contained in a
    * crawl (cover → 1) while covering almost none of it.
    *
    * Shape: ONE distinct (source, gram) rollup (map-side combine on
    * the exploded scan), per-source sizes from it, then a gram-keyed
    * self-join — each gram emits at most S² rows for S sources, so the
    * join output is bounded by S²·|gram vocabulary|, never corpus².
    * `hashGrams = true` is the 100 TB path (d02's split): the gram
    * string is replaced by `xxhash64(gram)` IN THE SCAN STAGE, so the
    * rollup exchange, the dedup, and the self-join all move fixed-width
    * longs and gram text never leaves the scan (two distinct grams of
    * one source colliding in 64 bits perturbs a count by 1 in ~2⁻⁶⁴ —
    * the d02 argument). The default string-keyed variant is the oracle
    * configuration (DuckDB hash-exact). Coverage is ONE IEEE division
    * of exact longs.
    */
  /** Edit-distance near-dup pairs: `(id_a, id_b, dist, max_len)` where
    * the character-level Levenshtein distance between the two texts is
    * at most `tauNum/tauDen` of the longer text's length — the
    * typo/diff-class duplicate rung BETWEEN exact-normalized dedup
    * (d15/d19: zero tolerance) and gram-set Jaccard (d02: order-blind).
    * Jaccard over bigram SETS cannot distinguish a transposed sentence
    * from a verbatim copy; edit distance is the order-sensitive metric
    * the diff family (rsync, git) uses, and unit-cost Levenshtein is
    * implemented identically in Spark (`functions.levenshtein`) and
    * DuckDB (`levenshtein`) — integer output, so the oracle is
    * hash-exact with no float discipline needed.
    *
    * Shape: candidates come from the d02 inverted index restricted to
    * COLD grams (document frequency <= maxGramDf — near-dup pairs share
    * many grams, most of them rare, so recall loss needs every shared
    * gram hotter than the cap), then a cheap necessary length bound
    * (`|len_a - len_b| <= tau * max` — edit distance >= length gap)
    * prunes before the DP verify, which runs ONLY on surviving
    * candidate pairs. Join keys and candidate rows are fixed-width
    * longs; the two texts meet only in the final verify join.
    *
    * The verify is the THRESHOLD-BANDED DP (Spark's 3-arg
    * `levenshtein(a, b, k)` — Ukkonen 1985 banding: only the diagonal
    * band of width 2k+1 is computed, with early exit the moment the
    * band's minimum exceeds k; returns −1 above the threshold and the
    * exact distance at or below it). This is what keeps 10× data from
    * going superlinear (r11 smoke: 32.8× with the full O(L_a·L_b) DP):
    * candidate pairs sharing ONE random cold gram grow ~quadratically
    * in corpus size on clustered data, and under the full DP each such
    * false candidate pays L² character cells — under the banded DP a
    * random-text pair's running minimum crosses k = ⌊τ·mx⌋ within
    * O(k) rows and exits at O(k²) ≪ L² cells, while every REPORTED
    * pair (dist ≤ k) still gets its exact integer distance, so the
    * output — and the DuckDB oracle, which runs the unbanded DP — is
    * bit-identical. At 10x data the candidate count (not N^2) drives
    * cost — the same contract as d02-capped / minHashLsh.
    */
  def editDistancePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      tauNum: Int,
      tauDen: Int,
      maxGramDf: Int): DataFrame = {
    val docs = graft.Tables.spreadIfNarrow(df)
      .select(col(idCol).as("id"), col(textCol).as("txt"),
        length(col(textCol)).cast("long").as("len"))
    val grams = docs
      .select(col("id"),
        explode(graft.ops.TextOps.bigramSet(col("txt"))).as("g"))
      .select(col("id"), xxhash64(col("g")).as("gh"))
    val cold = grams.groupBy("gh").agg(count(lit(1)).as("gdf"))
      .filter(col("gdf") <= maxGramDf).select("gh")
    val idx = grams.join(cold, "gh")
    val cand = idx.as("a").join(idx.as("b"),
        col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val pairsWithText = cand
      .join(docs.select(col("id").as("id_a"), col("txt").as("ta"),
        col("len").as("la")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("txt").as("tb"),
        col("len").as("lb")), "id_b")
      .withColumn("mx", greatest(col("la"), col("lb")))
      // necessary bound, checked BEFORE the DP: dist >= |la - lb|
      .filter(abs(col("la") - col("lb")) * tauDen <= col("mx") * tauNum)
      // DP-parallelism barrier (r12): the surviving pair frame is BYTES-
      // small but CPU-huge — AQE coalesces the post-join stage to one
      // partition by size, and predicate pushdown drags the levenshtein
      // filter below any bare repartition, so the whole verify ran
      // single-threaded (measured: 14.1 s -> 0.8 s on 42 k pairs at the
      // 10x smoke). Spread by shuffle partitions and checkpoint so the
      // DP stage starts HERE, fully parallel; one consumer follows, and
      // the blocks are reclaimed by the cleaner when the result frame
      // goes out of scope (Bench/Verify also unpersist per query).
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
      .localCheckpoint()
    pairsWithText
      // threshold-banded DP: k = floor(tau*mx) per row; for integer dist,
      // dist <= floor(tau*mx) <=> dist*tauDen <= mx*tauNum, so "came back
      // non-negative" IS the similarity test and the distance is exact
      .withColumn("k",
        expr(s"(mx * $tauNum) div $tauDen").cast("int"))
      .withColumn("dist",
        expr("levenshtein(ta, tb, k)").cast("long"))
      .filter(col("dist") >= 0 &&
        col("dist") * tauDen <= col("mx") * tauNum)
      .select(col("id_a"), col("id_b"), col("dist"), col("mx").as("max_len"))
  }

  def sourceOverlap(
      df: DataFrame, textCol: String, srcCol: String,
      hashGrams: Boolean = false): DataFrame = {
    val raw = graft.Tables.spreadIfNarrow(df)
      .select(col(srcCol).as("src"),
        explode(graft.ops.TextOps.bigramList(col(textCol))).as("g"))
    val grams =
      (if (hashGrams) raw.select(col("src"), xxhash64(col("g")).as("g"))
       else raw)
      .distinct()
    val sizes = grams.groupBy("src").agg(count(lit(1)).as("n_grams"))
    val common = grams.select(col("src").as("src_a"), col("g"))
      .join(grams.select(col("src").as("src_b"), col("g")), Seq("g"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    sizes.select(col("src").as("src_a"), col("n_grams").as("n_a"))
      .join(sizes.select(col("src").as("src_b")), lit(true))
      .filter(col("src_a") =!= col("src_b"))
      .join(common, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("n_a"),
        when(col("n_a") === 0, lit(null))
          .otherwise(coalesce(col("n_common"), lit(0L)).cast("double") /
            col("n_a")).as("cover"))
  }
}

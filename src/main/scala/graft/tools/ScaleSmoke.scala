package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scaling smoke of the FULL dedup tier (d01–d23) plus the
  * composed p-tier (p12/p13/p14), the LM-scoring rungs (t16/p18),
  * the r8c additions (t19 C4 rewrite, t20 bigram surprisal, s10/s11
  * SQ8, p22 repeat-cap mix, t22 chunking), the r8e additions (t23
  * trained quality model, t24 doc keywords, p23 length batches,
  * t25 unigram tokenizer, t26 html strip, t27 AUC, t28 kappa, s12
  * pooling, p24/d24 cluster splits),
  * and EpochBuild (r8): generates a
  * seeded synthetic corpus at two scales from the SAME generator —
  * base = sf0.1-shaped (5k docs / 2k vectors) and x10 (50k / 20k) —
  * runs every covered query from SparkEntry at both, and FAILS if an
  * op's time grows super-linearly beyond its declared class bound.
  * The fixed-SF bench cannot see super-linear behavior (it never
  * changes N); ScaleProbe stresses single ops at density extremes;
  * this smoke covers the tier end-to-end at a controlled 10× step —
  * the "would a real scale-up survive" rehearsal.
  *
  * Corpus shape (all xxhash64-derived, deterministic):
  *  - multi-line docs (2–7 lines × 10 tokens) over a 4096-token vocab,
  *    so gram/line document frequencies stay ~constant as N grows
  *    (Heaps-law-ish vocab growth is what real corpora do; a FIXED tiny
  *    vocab would make inverted-index work grow ~N² by density alone —
  *    ScaleProbe's job, not this one);
  *  - every 17th doc replays another doc's text (exact dups for
  *    d01/d13/d15 and pair seeds for the similarity ladder);
  *  - every 10th doc opens with one of 5 hot banner lines (d16's prey —
  *    rate chosen so hot-gram df² pair work doesn't drown the structural
  *    signal this smoke exists for; gram-density extremes are
  *    ScaleProbe's job and the capped operators' own guards);
  *  - every 19th vector duplicates another (d05/d10 pairs).
  *
  * Class bounds for time(x10)/time(base) — 10× data, slack for fixed
  * overheads and timing noise:
  *  - LINEAR ops (hash/scan/groupBy shapes): ≤ 15×
  *  - CANDIDATE ops (pair-driven: work tracks candidate count, which
  *    this corpus scales ~linearly but with join/agg constants): ≤ 60×
  *  - QUADRATIC BASELINES (d05 exact all-pairs by contract; d10 at the
  *    query-pinned k=10, so cluster size grows with N): report-only,
  *    wall-capped — their growth is the documented cost of exactness,
  *    and the scale path is the ANN/banded ladder.
  *
  * `runMain graft.tools.ScaleSmoke [workDir]` (env SPARK_GRAFT_CPUS) —
  * prints one JSON line with per-op (base, x10, ratio).
  */
object ScaleSmoke {

  private val Linear = Set("d01_dedup_exact",
    "d09_dedup_bloom", "d12_ngram_decontaminate", "d13_snapshot_diff",
    "d15_dedup_normalized", "d16_scrub_lines", "d17_scrub_spans",
    "d19_dedup_unicode", "d20_ngram_coverage", "d23_scrub_doc_lines",
    // d25 is d17's window index + a lag/sum window over the HOT HITS
    // only (rows bounded by hit count) — same linear class
    "d25_scrub_maxspans",
    // d27 is d12's shape with a broadcast Bloom prefilter BEFORE the
    // exchange — strictly less shuffled work than the linear d12
    "d27_decontaminate_bloom",
    // d43 is d01's hash-groupBy one level finer: fixed-width (id, pos,
    // md5) paragraph index, min-struct rollup, id-keyed removal join
    "d43_paragraph_bloom")
  // d06 is crossJaccard (inverted-index pair work: Σ df_a·df_b per gram),
  // pair-driven like d02 — the first smoke run misfiled it as linear and
  // correctly failed at 57× on a banner-heavy corpus
  private val Candidate = Set("d02_dedup_jaccard", "d03_dedup_minhash",
    "d04_dedup_simhash", "d06_dedup_incremental", "d07_decontaminate",
    "d08_dedup_clusters", "d11_cc_incremental", "d14_fuzzy_pipeline",
    "d18_cluster_keep_best",
    // d22 shares d02's inverted-index pair cost (Σ df² per gram)
    "d22_containment",
    // d26 rides d02's pair machinery at tau=1/4 (denser candidate set)
    // plus 5 fixed edge-proportional rank rounds
    "d26_graph_rank",
    // d28 shares d26's edge construction; the wedge join is bounded by
    // degree ordering (Σ outdeg² = O(m^1.5)) — candidate-driven, never
    // the Σ deg² a hub would force unoriented
    "d28_triangle_count",
    // d29 shares the same edges; each peel round is one fixed-width
    // degree rollup + two semi joins over a monotonically SHRINKING
    // edge set — candidate-driven
    "d29_kcore",
    // d30's gram self-join emits at most sources² rows per gram (20
    // sources here) on top of the d02-class gram-keyed exchange
    "d30_source_overlap",
    // d31 generates candidates from the cold-gram inverted index
    // (d02-capped contract) and runs the threshold-banded Levenshtein
    // DP (repartitioned + checkpointed so the CPU-heavy verify stage
    // parallelizes) on length-compatible survivors only
    "d31_edit_distance",
    // d38 rides t46's winnowing index (~2/(w+1) of the gram density)
    // with the d02-capped candidate contract + bounded set re-verify
    "d38_winnow_pairs",
    // d32 rides the d02 pair machinery plus 4 fixed edge-proportional
    // label sweeps (the d26 shape with a count rollup per round)
    "d32_lpa_communities",
    // d33 is the d08 CC chain + a label-cardinality size rollup and
    // two doc-keyed equi joins — candidate-driven like d08/d24
    "d33_soft_dedup",
    // d34's candidate work is Σ dfPrefix(g)·df(g) — strictly below
    // d02's Σ df(g)² since prefixes hold only each doc's RAREST grams
    // (hot grams vanish from the prefix side); same candidate class
    "d34_prefix_jaccard",
    // d35 rides the d02 tau=1/4 pair machinery + one degree rollup,
    // two id-keyed equi joins and ONE global agg — candidate-driven
    "d35_assortativity",
    // d37's pair stage is the d02 count join; the BFS tiers are
    // bounded rounds of edge-sized equi/anti joins over persisted
    // frontiers — candidate-class like its pair generator
    "d37_transitive_contamination",
    // d40 rides d02's capped pair machinery (its truth side) plus two
    // id-keyed signature joins and an 11-row rollup — candidate class
    "d40_minhash_calibration",
    // d24 is the d08 chain + two label-cardinality rollups
    "d24_cluster_sizes",
    // d39 is ONE d02 pair pass at tau=1/4 (the d26 candidate class)
    // plus a 6-row broadcast sweep and two tau-keyed rollups
    "d39_threshold_sweep",
    // d41's window equi-join emits Σ df² rows per shingle value (the
    // d02/d22 inverted-index class); the diagonal islands window runs
    // over matched windows only — candidate-driven end to end
    "d41_substring_dedup",
    // d42 is d41's cross form: probe×corpus shingle equi join (work
    // Σ df_p·df_c per shingle value) + the same bounded islands window
    "d42_substring_decontaminate")
  // d21's exact baseline is train × eval pair work; the smoke's eval
  // slice scales WITH the corpus, so it is a declared baseline here
  // (the production eval side is a fixed-size suite — linear in train)
  private val QuadBaseline = Set("d05_dedup_embedding", "d10_dedup_semantic",
    "d21_semantic_decontaminate")

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft_scalesmoke")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    generate(spark, s"$workDir/base", nDocs = 5000L, nVecs = 2000L)
    generate(spark, s"$workDir/x10", nDocs = 50000L, nVecs = 20000L)

    val dTier = graft.SparkEntry.queries.keys.toSeq.filter(_.startsWith("d"))
      .sorted
    require(dTier.size == 42, s"expected 42 d-tier queries, got $dTier")

    def timed(fn: String => Unit, dir: String): Double = {
      val t0 = System.nanoTime()
      fn(dir)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_SMOKE_ONLY=d31,d02 restricts measurement (local
    // iteration aid — the round artifact always runs unfiltered)
    val smokeOnly = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    def measure(name: String, bound: Double, fn: String => Unit,
        wallCap: Double = 300.0)
        : (String, Double, Double, Double) = {
      if (smokeOnly.exists(!_.exists(name.startsWith)))
        return (name, 0.0, 0.0, 0.0)
      timed(fn, s"$workDir/base") // codegen + JIT warm, untimed
      val base = timed(fn, s"$workDir/base")
      val big = timed(fn, s"$workDir/x10")
      val ratio = big / math.max(base, 0.05) // floor: sub-50ms bases are noise
      System.err.println(
        f"[scalesmoke] $name base=$base%.2fs x10=$big%.2fs ratio=$ratio%.1f" +
          (if (bound.isInfinity) " (baseline, unbounded)" else f" bound=$bound%.0f"))
      require(ratio <= bound,
        f"$name scales super-linearly: $ratio%.1fx > $bound%.0fx at 10x data")
      require(big < wallCap, f"$name wall cap: $big%.0fs at x10 scale")
      (name, base, big, ratio)
    }

    def queryFn(name: String)(dir: String): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    val dRows = dTier.map { name =>
      // quadratic baselines are ratio-exempt by contract (exact all-pairs
      // shapes) but WALL-capped at 60 s so a regression can't hide in the
      // exempt class (r9: d05 x10 = 5.4 s, d10 = 10.8 s — 60 s is ~6×
      // headroom while 300 s would absorb an order of magnitude)
      val (bound, wall) =
        if (Linear(name)) (15.0, 300.0)
        else if (Candidate(name)) (60.0, 300.0)
        else (Double.PositiveInfinity, 60.0)
      measure(name, bound, queryFn(name), wall)
    }

    // r8: the composed p-tier ops became the bench's slowest queries
    // (p12 9.3 s, p13 5.2 s driver-run) and none were in the smoke.
    // All declare LINEAR: p13/p14 are prefix-sum machinery (range
    // partition + local counters + broadcast offsets), p12 composes
    // d17's linear scrub with hash-agg dedup and scan-stage gates.
    val pRows = Seq("p12_curation_pipeline", "p13_seeded_shuffle",
      "p14_shard_budget").map(n => measure(n, 15.0, queryFn(n)))

    // the LM-scoring rungs: t16/p18 are explode + equi-join against
    // (token, cnt) rollups; p19 adds a broadcast percentile cut; t17's
    // BPE trains on the vocabulary-sized word-frequency head (driver
    // loop, corpus-size-independent) and encodes as a memoized pure map.
    // This corpus's vocab is bounded, so all four are linear in tokens
    val lmRows = Seq("t16_surprisal", "p18_dsir_weights",
      "p19_surprisal_buckets", "t17_bpe_token_count")
      .map(n => measure(n, 15.0, queryFn(n)))

    // r8c additions: t19 is a pure scan-stage line rewrite (no shuffle);
    // t20 is the t16 shape with an adjacent-pair explode + TWO
    // string-keyed joins (pairs ≈ tokens, so linear on this corpus);
    // s10's probe set is pinned (8) so the SQ8 scan + min/max training
    // pass are both linear in corpus rows
    val r8cRows = Seq("t19_c4_rules", "t20_bigram_surprisal",
      "s10_knn_sq8", "s11_knn_ivf_sq8",
      // p22 is the p13/p14 prefix-sum shape (range partition + local
      // fold + broadcast offsets) plus an explode bounded by R+1;
      // t22 is a pure scan-stage bounded explode (no shuffle at all)
      "p22_repeat_cap_mix", "t22_text_chunks")
      .map(n => measure(n, 15.0, queryFn(n)))

    // r8e additions: t23 trains on a driver-bounded sample (maxSample
    // cap; the distributed part is a TakeOrderedAndProject) and scores
    // as a pure scan-stage map; t24 is the t16 explode + token-join
    // shape with a per-doc bounded top-k window; p23 is the p13/p14
    // prefix-sum rank shape plus a small per-batch rollup
    val r8eRows = Seq("t23_model_quality", "t24_doc_keywords",
      "p23_length_batches",
      // t25's EM trainer runs on the driver over the (word, freq)
      // rollup — vocabulary-sized, so corpus-size-independent like
      // t17's BPE; the Viterbi count is a memoized pure map
      "t25_unigram_token_count",
      // t26 is a pure scan-stage regexp chain; t27 is a rollup +
      // prefix-sum + one agg; t28 is ONE aggregation over two flags;
      // s12 is a bounded posexplode + hash-agg
      "t26_html_strip", "t27_signal_auc", "t28_gate_agreement",
      "s12_embed_pool",
      // t29 = ONE exact-percentile agg + one filtered-agg pass; t30 =
      // the t17 trainer + a memoized pure-map id emit
      "t29_pr_curve", "t30_bpe_token_ids", "t31_unigram_token_ids")
      .map(n => measure(n, 15.0, queryFn(n))) ++
      // r9 additions over the documents table, all linear: t32/t33 =
      // byte-BPE trainer (pretoken-vocab-sized driver loop) + memoized
      // pure-map count/emit; t34 = token-rollup joins + bounded
      // per-query top-k; t35 = the t20 explode + three type-cardinality
      // equi-joins; p25 = scan-stage key + TakeOrderedAndProject
      // (events/orders-table ops are outside this corpus's schema)
      Seq("t32_byte_bpe_count", "t33_byte_bpe_ids", "t34_bm25_search",
        "t35_kn_bigram", "p25_weighted_sample")
      .map(n => measure(n, 15.0, queryFn(n))) ++
      // r10 additions, all linear: t36 is a pure scan-stage per-doc
      // array map (no shuffle at all); t37 is t35's shape one order up
      // (trigram explode + six type-cardinality equi-joins); s15 rides
      // s13's bounded fusion plus eval-suite-sized metric rollups; s16
      // is s01's pinned-probe brute scan twice (full-dim + sliced) plus
      // s15's eval-sized metric rollup — probe count fixed, so linear
      // in corpus rows (e22 and the other events-table ops are outside
      // this corpus's schema)
      Seq("t36_content_extract", "t37_kn_trigram",
        "s15_retrieval_metrics", "s16_dim_truncation",
        // t39 = one scan-stage projection + (group, bin) hash-agg +
        // a window over BIN counts (group cardinality × bins rows);
        // t38 = pure scan-stage regex + fixed-term checksum fold;
        // s17 = s01's pinned-probe brute candidates + kCand²-bounded
        // pair sims + 3 fixed window-argmax steps; s18 = two pinned-
        // probe brute scans + eval-sized decimal metric rollups
        "t39_hist_quantiles", "t38_luhn_redact", "s17_mmr_rerank",
        "s18_graded_ndcg",
        // t40 = WordPiece trainer (word-frequency head, driver loop,
        // corpus-size-independent) + memoized pure-map greedy encode —
        // the t17/t30 class
        "t40_wordpiece_ids",
        // t41 = three scan-stage regex counts + a per-row IEEE chain
        // (no shuffle at all); p26 = a ×B scan-stage explode collapsed
        // map-side to groups×B cells — both linear
        "t41_readability", "p26_bootstrap_ci",
        // t42 = ONE codegen'd scan-stage histogram pass (no shuffle);
        // t43 = four driver-bounded trainers (word-frequency heads,
        // corpus-size-independent) + one corpus pass of memoized
        // pure-map counters; t44 = two map-side rollups + windows over
        // the n/stride-row BUCKET frame — all linear in corpus rows
        "t42_char_entropy", "t43_fertility", "t44_scaling_fit",
        // t45 = one distinct-gram explode + a map-side-combined df
        // rollup + a semi join — the d12/d20 linear index shape
        "t45_dup_fraction",
        // t46 = one positional gram explode + a ×w bounded window-start
        // explode + one (doc, start) hash-agg argmin — linear in tokens
        "t46_winnowing",
        // t47 = one token scan + per-doc lead window, then 5 fixed
        // rounds of ONE (doc, word)-keyed equi join + hash-agg each —
        // work tracks token volume × iters (the d26 discipline keyed
        // per doc); p27 = one map-side-combined stratum count + ONE
        // per-stratum window sort (the apportionment frame is
        // strata-cardinality-sized) — both linear in corpus rows
        // (q45's supplier/customer tables are outside this corpus's
        // schema; its N + M·span/width work is pinned in OpsSpec and
        // PlanSpec instead — as are the events-table e29 spine rollups)
        "t47_textrank", "p27_stratified_k",
        // t48 = ONE map-side-combined source rollup + a 1-row broadcast;
        // s20 = the s01 pinned-probe brute scan + k²/2-bounded pairs +
        // two id-keyed equi joins — both linear in corpus rows
        "t48_source_prior", "s20_ild_diversity",
        // r11 additions, all linear in corpus rows: t49 = driver-
        // bounded softmax trainer (TakeOrderedAndProject sample) + one
        // fused scan-stage argmax; t50 = the t34 token-rollup joins
        // with a fixed broadcast query list + bounded per-query top-k;
        // t51/t53 = one (doc, token)/(token, doc) hash-agg rollup +
        // one more rollup; t52 = ONE global moment aggregation
        // (e30/e31's events tables are outside this corpus's schema)
        "t49_trained_lang_id", "t50_dirichlet_ql", "t51_yule_k",
        "t52_signal_corr", "t53_token_dispersion",
        // p28 = one scan + the p13/p14 prefix-sum shape; t54 = one
        // distinct-gram explode + a min rollup + an equi join (the
        // d12/d20 linear index shape)
        "p28_budget_select", "t54_novelty_rate",
        // r12 additions, all linear in corpus rows: t55 = ONE group
        // agg whose per-group state is the bounded GK buffer; t56 =
        // two token rollups + two word-keyed joins on the count-
        // floored pair list; p29 = the p13/p14 prefix-sum shape + one
        // budget-bounded shard rollup; s21 = one posexplode + ONE
        // dim-keyed hash-agg (rows after agg = dims, not vectors)
        "t55_rank_sketch", "t56_collocations", "p29_shard_manifest",
        "s21_embed_drift",
        // t57 = one scan-stage prediction + two class-keyed rollups;
        // t58 = pure scan-stage regex counts (no shuffle at all)
        "t57_langid_confusion", "t58_mixed_script",
        // p30 = d01's hash-groupBy keep-min + two source rollups
        "p30_dedup_shrinkage",
        // t68 = one scan-stage token count + ONE per-source sort
        // window + a map-side-combined rollup — linear in corpus rows
        "t68_token_gini",
        // s22 = one brute pass + train + |sweep| probe runs, each
        // linear in corpus rows (pinned probe set); s23 = one fused
        // assignment pass + a list-keyed rollup
        "s22_ivf_tuning", "s23_ivf_balance",
        // r12b additions, all linear in corpus rows: t59 = pure
        // scan-stage token arithmetic (no shuffle at all); t60 = one
        // exploded background rollup + TakeOrdered top-K + a K-row
        // broadcast semi-join + one doc-keyed hash-agg; p31 = a
        // scan-stage per-doc fold + one (doc, chunk) rollup; s24 = two
        // fused argmin assignments in one scan pass + a list-keyed
        // rollup (e36's events table is outside this corpus's schema —
        // and its windows run over #experiments rows by construction)
        "t59_blocklist_gate", "t60_chi2_outlier", "p31_sentence_chunks",
        // p32 = ONE p13-class ranked pass + a |sweep|-bounded explode
        // + two bounded rollups
        // t61 = ONE fixed-width (lang, source) hash-agg; everything
        // after is bounded by category cardinality
        "s24_centroid_migration", "p32_batch_size_sweep",
        "t61_mix_independence",
        // r13 additions, all linear in corpus rows: t62 = ONE scan
        // with three scan-stage gates collapsing to a 1-row integer
        // rollup; t63 = token explode + stem scalar + (group, stem)
        // hash-agg with map-side collapse + per-group top-k window;
        // t64 = one sketch per (group, shard) then a group union —
        // shuffles carry constant-size sketch bytes, never tokens;
        // t65 = bounded (score, count) rollup + cum window over the
        // bounded frame + one broadcast-threshold test pass; s25 =
        // one fused top-2 argmin scan + a k-row rollup (e39's events
        // table is outside this corpus's schema; its calendar-bounded
        // windows are pinned in EventsSpec)
        "t62_krippendorff", "t63_stem_vocab", "t64_sketch_vocab",
        "t65_conformal_gate", "s25_silhouette",
        // t66/t67 = pure scan-stage regexp counts + one rollup each;
        // p33 = the p17 interleave (two p13-class ranked passes) + a
        // (source, window) hash-agg over the windows frame; s26 = the
        // s03 shape with a predicate on the list scan (pinned probes)
        "t66_code_detect", "t67_secret_scan", "p33_mixture_audit",
        "s26_knn_filtered_ivf")
      .map(n => measure(n, 15.0, queryFn(n))) ++
      // p24 rides the d02/d08 inverted-index pair machinery
      Seq(measure("p24_leakage_split", 60.0, queryFn("p24_leakage_split")),
        // s19's candidate generation is the declared exact brute
        // baseline and BOTH sides scale with the corpus (label-0 ×
        // label-1 ≈ N²/25 dots) — the d21 class: ratio-exempt by
        // contract, wall-capped so a regression can't hide; the scale
        // path swaps knnIvf batch mode exactly as s09 does
        measure("s19_bitext_margin", Double.PositiveInfinity,
          queryFn("s19_bitext_margin"), wallCap = 60.0))

    // r15: the generator now carries a FIXED-HORIZON events table
    // (720 hours at every N), so the series ops smoke directly — e40's
    // hourly rollup is linear in events while its C(H,2) pair/median
    // work is horizon-pinned (and now parameter-capped: theilSenTrend
    // maxHours); e41 is one purchase rollup + three p13-class ranked
    // passes over the user-cardinality frame
    val eventRows = Seq("e40_theil_sen", "e41_rfm_segments")
      .map(n => measure(n, 15.0, queryFn(n)))

    // EpochBuild (order → shard → pack as one composed pass): linear —
    // the same prefix-sum shape plus packing's per-group window cumsum
    val epochRow = measure("epoch_build", 15.0, { dir =>
      val e = EpochBuild.build(
        graft.Tables.load(spark, dir, "documents"),
        "doc_id", "text", "smoke0", shardTokens = 2000L, seqLen = 256)
      e.order.write.format("noop").mode("overwrite").save()
      e.boundaries.write.format("noop").mode("overwrite").save()
    })

    val rows =
      dRows ++ pRows ++ lmRows ++ r8cRows ++ r8eRows ++ eventRows :+ epochRow

    val js = rows.map { case (n, b, x, r) =>
      f""""$n":{"base":$b%.2f,"x10":$x%.2f,"ratio":$r%.1f}""" }
      .mkString("{", ",", "}")
    println(s"""{"probe":"sf1_smoke","cpus":$cpus,"ops":$js}""")
    spark.stop()
  }

  /** Seeded synthetic documents + embeddings at the requested scale —
    * same distributions at every N (see object doc).
    */
  private[tools] def generate(
      spark: SparkSession, dir: String, nDocs: Long, nVecs: Long): Unit = {
    def tok(seed: Column): Column =
      concat(lit("w"), pmod(xxhash64(seed), lit(4096L)).cast("string"))
    val banners = array((0 until 5).map(b =>
      lit(s"accept cookies banner $b terms and conditions apply")): _*)

    // every 17th doc replays an earlier doc's seed -> exact text dup
    val docs = spark.range(nDocs)
      .withColumn("seed",
        when(col("id") % 17 === 0 && col("id") > 0, (col("id") / 17) * 3 + 1)
          .otherwise(col("id")))
      .withColumn("n_lines", (pmod(xxhash64(col("seed"), lit(5)), lit(6)) + 2).cast("int"))
      .withColumn("all_lines", array((0 until 8).map(j =>
        concat_ws(" ", (0 until 10).map(t =>
          tok(col("seed") * 997 + lit(j * 31 + t))): _*)): _*))
      .withColumn("body", slice(col("all_lines"), lit(1), col("n_lines")))
      .withColumn("lines",
        when(col("seed") % 10 === 0,
          concat(array(element_at(banners,
            (pmod(xxhash64(col("seed"), lit(9)), lit(5)) + 1).cast("int"))),
            col("body")))
          .otherwise(col("body")))
      .select(
        col("id").as("doc_id"),
        concat_ws("\n", col("lines")).as("text"),
        element_at(array(Seq("en", "de", "fr", "es", "zh").map(lit): _*),
          (pmod(xxhash64(col("seed"), lit(1)), lit(5)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(xxhash64(col("seed"), lit(2)), lit(20))
          .cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // events on a FIXED 30-day horizon (720 hours, the testdata shape):
    // density grows with N but the hour-series length does NOT — which
    // is exactly the claim the series ops (e40 Theil–Sen: C(H,2) pair
    // work fixed, hourly rollup linear) are smoke-checked against.
    // 4 events per doc; the 5 real event types including e41's purchases
    val eventTypes = array(
      Seq("click", "error", "purchase", "signup", "view").map(lit): _*)
    spark.range(nDocs * 4)
      .select(
        col("id").as("event_id"),
        expr("timestamp_micros(1704067200000000 + " +
          "pmod(xxhash64(id, 7), 2592000) * 1000000)").as("ts"),
        pmod(xxhash64(col("id"), lit(11)), lit(math.max(nDocs / 5, 1L)))
          .as("user_id"),
        element_at(eventTypes,
          (pmod(xxhash64(col("id"), lit(13)), lit(5)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id"), lit(17)), lit(10000L)) / 100.0).as("value"),
        concat(lit("""{"k":"""),
          pmod(xxhash64(col("id"), lit(19)), lit(100L)).cast("string"),
          lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // every 19th vector duplicates another -> cosine-1 pairs for d05/d10
    val vecs = spark.range(nVecs)
      .withColumn("seed",
        when(col("id") % 19 === 0 && col("id") > 0, (col("id") / 19) * 5 + 1)
          .otherwise(col("id")))
      .select(
        col("id").as("vec_id"),
        array((0 until 64).map(j =>
          ((pmod(xxhash64(col("seed"), lit(j)), lit(2001L)) - 1000L) / 1000.0)
            .cast("float")): _*).as("embedding"),
        pmod(xxhash64(col("seed"), lit(99)), lit(5L)).cast("int").as("label"))
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling smoke: generates a seeded synthetic corpus at two scales from
  * the SAME generator — base = sf0.1-shaped (5k docs / 2k vectors) and
  * `step` times that — runs each covered op at both, and FAILS if an
  * op's time grows beyond its declared class bound. The fixed-SF bench
  * cannot see super-linear behavior (it never changes N); ScaleProbe
  * stresses single ops at density extremes; this smoke covers the tiers
  * end-to-end at a controlled step.
  *
  *  - Step 10 (the default) runs every op in [[classes]]: the full dedup
  *    tier, the composed p-tier, the LM-scoring, text and retrieval
  *    rungs, the series ops and EpochBuild.
  *  - Step 30 runs the [[rehearsed]] ops. A super-linearity with a small
  *    exponent can hide inside a 10× step (d31's banded-DP verify looked
  *    linear at 10× in r11 yet blew past its class on the driver host);
  *    a 30× step raises any hidden exponent above the noise floor.
  *
  * Each op reports `alpha` = ln(ratio)/ln(step): time ∝ N^α shows as
  * ratio step^α, so alpha names the measured exponent directly.
  *
  * Corpus shape (all xxhash64-derived, deterministic):
  *  - multi-line docs (2–7 lines × 10 tokens) over a 4096-token vocab,
  *    so gram/line document frequencies stay ~constant as N grows
  *    (Heaps-law-ish vocab growth is what real corpora do; a FIXED tiny
  *    vocab would make inverted-index work grow ~N² by density alone —
  *    ScaleProbe's job, not this one), so growth here is STRUCTURAL;
  *  - every 17th doc replays another doc's text (exact dups for
  *    d01/d13/d15 and pair seeds for the similarity ladder);
  *  - every 10th doc opens with one of 5 hot banner lines (d16's prey —
  *    rate chosen so hot-gram df² pair work doesn't drown the structural
  *    signal this smoke exists for; gram-density extremes are
  *    ScaleProbe's job and the capped operators' own guards);
  *  - every 19th vector duplicates another (d05/d10 pairs);
  *  - events on a fixed 720-hour horizon at every N.
  *
  * Class bounds for time(big)/time(base), with slack for fixed overheads
  * and timing noise ([[limits]]):
  *  - LINEAR ops (hash/scan/groupBy shapes): 15 at 10×, 90 at 30× (the
  *    wider 30× envelope lets sub-linear constants wash out, so the run
  *    stays a measurement, not a coin flip);
  *  - CANDIDATE ops (pair-driven: work tracks candidate count, which
  *    this corpus scales ~linearly but with join/agg constants): 6×
  *    headroom over proportional growth, 60 at 10× and 180 at 30×;
  *  - QUADRATIC baselines: report-only, wall-capped — their growth is
  *    the documented cost of exactness, and the scale path is the
  *    ANN/banded ladder.
  *
  * `runMain graft.tools.ScaleSmoke [step] [workDir]` (env
  * SPARK_GRAFT_CPUS; SPARK_GRAFT_SMOKE_ONLY=d31,d02 restricts the run) —
  * prints one JSON line with per-op (class, base, big, ratio, alpha).
  */
object ScaleSmoke {
  private[tools] val Linear = "linear"
  private[tools] val Candidate = "candidate"
  private[tools] val Quadratic = "quadratic"

  /** Every op the smoke runs, with its declared complexity class. */
  private[tools] val classes: Seq[(String, String)] = Seq(
    "d01_dedup_exact", "d09_dedup_bloom", "d12_ngram_decontaminate",
    "d13_snapshot_diff", "d15_dedup_normalized", "d16_scrub_lines",
    "d17_scrub_spans", "d19_dedup_unicode", "d20_ngram_coverage",
    "d23_scrub_doc_lines",
    // d25 is d17's window index + a lag/sum window over the HOT HITS
    // only (rows bounded by hit count)
    "d25_scrub_maxspans",
    // d27 is d12's shape with a broadcast Bloom prefilter BEFORE the
    // exchange — strictly less shuffled work than d12
    "d27_decontaminate_bloom",
    // d43 is d01's hash-groupBy one level finer: fixed-width (id, pos,
    // md5) paragraph index, min-struct rollup, id-keyed removal join
    "d43_paragraph_bloom",
    // p13/p14 are prefix-sum machinery (range partition + local
    // counters + broadcast offsets); p12 composes d17's scrub with
    // hash-agg dedup and scan-stage gates
    "p12_curation_pipeline", "p13_seeded_shuffle", "p14_shard_budget",
    // the LM-scoring rungs: t16/p18 are explode + equi-join against
    // (token, cnt) rollups; p19 adds a broadcast percentile cut; t17's
    // BPE trains on the vocabulary-sized word-frequency head (driver
    // loop, corpus-size-independent) and encodes as a memoized pure map
    "t16_surprisal", "p18_dsir_weights", "p19_surprisal_buckets",
    "t17_bpe_token_count",
    // t19 is a pure scan-stage line rewrite; t20 is the t16 shape with
    // an adjacent-pair explode + two string-keyed joins (pairs ≈ tokens);
    // s10/s11 pin the probe set, so the SQ8 scan + min/max training pass
    // are linear in corpus rows; p22 is the p13/p14 prefix-sum shape
    // plus an explode bounded by R+1; t22 is a bounded scan-stage explode
    "t19_c4_rules", "t20_bigram_surprisal", "s10_knn_sq8",
    "s11_knn_ivf_sq8", "p22_repeat_cap_mix", "t22_text_chunks",
    // t23 trains on a driver-bounded sample and scores as a scan-stage
    // map; t24 is the t16 shape with a per-doc bounded top-k window; p23
    // is the p13/p14 rank shape plus a small per-batch rollup; t25's EM
    // trainer runs on the driver over the (word, freq) rollup; t26 is a
    // scan-stage regexp chain; t27 a rollup + prefix-sum + one agg; t28
    // ONE aggregation over two flags; s12 a bounded posexplode +
    // hash-agg; t29 one exact-percentile agg + one filtered-agg pass;
    // t30/t31 the t17/t25 trainers + memoized pure-map id emits
    "t23_model_quality", "t24_doc_keywords", "p23_length_batches",
    "t25_unigram_token_count", "t26_html_strip", "t27_signal_auc",
    "t28_gate_agreement", "s12_embed_pool", "t29_pr_curve",
    "t30_bpe_token_ids", "t31_unigram_token_ids",
    // t32/t33 = byte-BPE trainer (pretoken-vocab-sized driver loop) +
    // memoized pure-map count/emit; t34 = token-rollup joins + bounded
    // per-query top-k; t35 = the t20 explode + three type-cardinality
    // equi-joins; p25 = scan-stage key + TakeOrderedAndProject
    "t32_byte_bpe_count", "t33_byte_bpe_ids", "t34_bm25_search",
    "t35_kn_bigram", "p25_weighted_sample",
    // t36 is a scan-stage per-doc array map; t37 is t35's shape one
    // order up (trigram explode + six type-cardinality equi-joins); s15
    // rides s13's bounded fusion plus eval-sized metric rollups; s16 is
    // s01's pinned-probe brute scan twice + s15's metric rollup
    "t36_content_extract", "t37_kn_trigram", "s15_retrieval_metrics",
    "s16_dim_truncation",
    // t39 = one scan-stage projection + (group, bin) hash-agg + a window
    // over BIN counts; t38 = scan-stage regex + fixed-term checksum
    // fold; s17 = s01's pinned-probe candidates + kCand²-bounded pair
    // sims + 3 window-argmax steps; s18 = two pinned-probe brute scans +
    // eval-sized decimal metric rollups; t40 = WordPiece trainer (the
    // t17/t30 class); t41 = three scan-stage regex counts + a per-row
    // IEEE chain; p26 = a ×B scan-stage explode collapsed map-side
    "t39_hist_quantiles", "t38_luhn_redact", "s17_mmr_rerank",
    "s18_graded_ndcg", "t40_wordpiece_ids", "t41_readability",
    "p26_bootstrap_ci",
    // t42 = ONE codegen'd scan-stage histogram pass; t43 = four
    // driver-bounded trainers + one corpus pass of memoized pure-map
    // counters; t44 = two map-side rollups + windows over the
    // n/stride-row BUCKET frame; t45 = the d12/d20 distinct-gram index
    // shape; t46 = one positional gram explode + a ×w bounded
    // window-start explode + one (doc, start) hash-agg argmin
    "t42_char_entropy", "t43_fertility", "t44_scaling_fit",
    "t45_dup_fraction", "t46_winnowing",
    // t47 = one token scan + per-doc lead window, then 5 fixed rounds of
    // ONE (doc, word)-keyed equi join + hash-agg each; p27 = one
    // map-side-combined stratum count + ONE per-stratum window sort;
    // t48 = ONE source rollup + a 1-row broadcast; s20 = the s01
    // pinned-probe brute scan + k²/2-bounded pairs + two id-keyed joins
    "t47_textrank", "p27_stratified_k", "t48_source_prior",
    "s20_ild_diversity",
    // t49 = driver-bounded softmax trainer + one fused scan-stage
    // argmax; t50 = the t34 token-rollup joins with a fixed broadcast
    // query list; t51/t53 = one (doc, token)/(token, doc) rollup + one
    // more rollup; t52 = ONE global moment aggregation; p28 = one scan +
    // the p13/p14 prefix-sum shape; t54 = the d12/d20 index shape
    "t49_trained_lang_id", "t50_dirichlet_ql", "t51_yule_k",
    "t52_signal_corr", "t53_token_dispersion", "p28_budget_select",
    "t54_novelty_rate",
    // t55 = ONE group agg over bounded GK buffers; t56 = two token
    // rollups + two word-keyed joins on the count-floored pair list; p29
    // = the p13/p14 prefix-sum shape + one budget-bounded shard rollup;
    // s21 = one posexplode + ONE dim-keyed hash-agg; t57 = one
    // scan-stage prediction + two class-keyed rollups; t58 = scan-stage
    // regex counts; p30 = d01's hash-groupBy keep-min + two source
    // rollups; t68 = one token count + ONE per-source sort window + a
    // rollup; s22 = one brute pass + train + |sweep| pinned-probe runs;
    // s23 = one fused assignment pass + a list-keyed rollup
    "t55_rank_sketch", "t56_collocations", "p29_shard_manifest",
    "s21_embed_drift", "t57_langid_confusion", "t58_mixed_script",
    "p30_dedup_shrinkage", "t68_token_gini", "s22_ivf_tuning",
    "s23_ivf_balance",
    // t59 = scan-stage token arithmetic; t60 = one exploded background
    // rollup + top-K + a K-row broadcast semi-join + one doc-keyed
    // hash-agg; p31 = a scan-stage per-doc fold + one (doc, chunk)
    // rollup; s24 = two fused argmin assignments in one scan + a
    // list-keyed rollup; p32 = ONE p13-class ranked pass + a
    // |sweep|-bounded explode + two bounded rollups; t61 = ONE
    // fixed-width (lang, source) hash-agg
    "t59_blocklist_gate", "t60_chi2_outlier", "p31_sentence_chunks",
    "s24_centroid_migration", "p32_batch_size_sweep",
    "t61_mix_independence",
    // t62 = one scan with three scan-stage gates into a 1-row rollup;
    // t63 = token explode + stem scalar + (group, stem) hash-agg +
    // per-group top-k window; t64 = one sketch per (group, shard), then
    // a group union; t65 = bounded (score, count) rollup + cum window +
    // one broadcast-threshold pass; s25 = one fused top-2 argmin scan +
    // a k-row rollup; t66/t67 = scan-stage regexp counts + one rollup
    // each; p33 = the p17 interleave + a (source, window) hash-agg; s26
    // = the s03 shape with a predicate on the list scan (pinned probes)
    "t62_krippendorff", "t63_stem_vocab", "t64_sketch_vocab",
    "t65_conformal_gate", "s25_silhouette", "t66_code_detect",
    "t67_secret_scan", "p33_mixture_audit", "s26_knn_filtered_ivf",
    // the events table has a FIXED 720-hour horizon at every N: e40's
    // hourly rollup is linear in events while its C(H,2) pair/median
    // work is horizon-pinned; e41 is one purchase rollup + three
    // p13-class ranked passes over the user-cardinality frame
    "e40_theil_sen", "e41_rfm_segments",
    // EpochBuild (order → shard → pack as one composed pass): the
    // prefix-sum shape plus packing's per-group window cumsum
    "epoch_build"
  ).map(_ -> Linear) ++ Seq(
    // d06 is crossJaccard (inverted-index pair work: Σ df_a·df_b per
    // gram), pair-driven like d02 — first misfiled as linear, it
    // correctly failed at 57× on a banner-heavy corpus
    "d02_dedup_jaccard", "d03_dedup_minhash", "d04_dedup_simhash",
    "d06_dedup_incremental", "d07_decontaminate", "d08_dedup_clusters",
    "d11_cc_incremental", "d14_fuzzy_pipeline", "d18_cluster_keep_best",
    // d22 shares d02's inverted-index pair cost (Σ df² per gram)
    "d22_containment",
    // d26 rides d02's pair machinery at tau=1/4 (denser candidate set)
    // plus 5 fixed edge-proportional rank rounds
    "d26_graph_rank",
    // d28 shares d26's edge construction; the wedge join is bounded by
    // degree ordering (Σ outdeg² = O(m^1.5)), never the Σ deg² a hub
    // would force unoriented
    "d28_triangle_count",
    // d29's peel rounds are one degree rollup + two semi joins over a
    // monotonically SHRINKING edge set
    "d29_kcore",
    // d30's gram self-join emits at most sources² rows per gram (20
    // sources here) on top of the d02-class gram-keyed exchange
    "d30_source_overlap",
    // d31 generates candidates from the cold-gram inverted index and
    // runs the threshold-banded Levenshtein DP on length-compatible
    // survivors only
    "d31_edit_distance",
    // d38 rides t46's winnowing index (~2/(w+1) of the gram density)
    // with the d02-capped candidate contract + bounded set re-verify
    "d38_winnow_pairs",
    // d32 rides the d02 pair machinery plus 4 fixed edge-proportional
    // label sweeps
    "d32_lpa_communities",
    // d33 is the d08 CC chain + a label-cardinality size rollup and two
    // doc-keyed equi joins
    "d33_soft_dedup",
    // d34's candidate work is Σ dfPrefix(g)·df(g) — strictly below
    // d02's Σ df(g)² since prefixes hold only each doc's RAREST grams
    "d34_prefix_jaccard",
    // d35 rides the d02 tau=1/4 pair machinery + one degree rollup, two
    // id-keyed equi joins and ONE global agg
    "d35_assortativity",
    // d37's pair stage is the d02 count join; the BFS tiers are bounded
    // rounds of edge-sized equi/anti joins over persisted frontiers
    "d37_transitive_contamination",
    // d40 rides d02's capped pair machinery (its truth side) plus two
    // id-keyed signature joins and an 11-row rollup
    "d40_minhash_calibration",
    // d24 is the d08 chain + two label-cardinality rollups
    "d24_cluster_sizes",
    // d39 is ONE d02 pair pass at tau=1/4 plus a 6-row broadcast sweep
    // and two tau-keyed rollups
    "d39_threshold_sweep",
    // d41's window equi-join emits Σ df² rows per shingle value; the
    // diagonal islands window runs over matched windows only; d42 is its
    // cross form (Σ df_p·df_c per shingle value)
    "d41_substring_dedup", "d42_substring_decontaminate",
    // p24 rides the d02/d08 inverted-index pair machinery
    "p24_leakage_split"
  ).map(_ -> Candidate) ++ Seq(
    // d05 is exact all-pairs by contract; d10 runs at the query-pinned
    // k=10, so cluster populations grow with N (its scale path is raising
    // k with N); d21's exact baseline is train × eval pair work and this
    // smoke's eval slice scales WITH the corpus (the production eval
    // side is a fixed-size suite); s19's exact brute candidates scale on
    // BOTH sides (label-0 × label-1 ≈ N²/25 dots) — its scale path swaps
    // in knnIvf batch mode as s09 does
    "d05_dedup_embedding", "d10_dedup_semantic",
    "d21_semantic_decontaminate", "s19_bitext_margin"
  ).map(_ -> Quadratic)

  /** The ops step 30 runs: the pair-driven dedup rungs whose exponent a
    * 10× step can hide (d02 gram inverted index, d34 PPJoin prefix, d37
    * BFS over the pair frame, d31 banded DP, d41 ExactSubstr window
    * join); e40, whose horizon-pinned pair stage should keep its ratio
    * well under linear; the t/s ops whose factoring claims a longer step
    * checks (t47 TextRank, t37 KN trigram, s22 IVF sweep); and the
    * quadratic baselines d10 and d05, whose declared envelope it
    * confirms.
    */
  private[tools] val rehearsed: Set[String] = Set(
    "d02_dedup_jaccard", "d34_prefix_jaccard",
    "d37_transitive_contamination", "d31_edit_distance",
    "d41_substring_dedup", "e40_theil_sen", "t47_textrank",
    "t37_kn_trigram", "s22_ivf_tuning", "d10_dedup_semantic",
    "d05_dedup_embedding")

  /** (ratio bound, wall cap in seconds at the big scale) for `op` of
    * class `cls` at `step` (10 or 30).
    */
  private[tools] def limits(op: String, cls: String, step: Int)
      : (Double, Double) = (cls, step) match {
    case (Linear, 10) => (15.0, 300.0)
    case (Candidate, 10) => (60.0, 300.0)
    // ratio-exempt but WALL-capped at 60 s so a regression can't hide in
    // the exempt class (r9: d05 x10 = 5.4 s, d10 = 10.8 s)
    case (Quadratic, 10) => (Double.PositiveInfinity, 60.0)
    case (Linear, 30) => (90.0, 600.0)
    case (Candidate, 30) => (180.0, 600.0)
    // 30² = 900× proportional work is d05's declared envelope
    case (Quadratic, 30) => (Double.PositiveInfinity,
      if (op == "d05_dedup_embedding") 900.0 else 600.0)
  }

  def main(args: Array[String]): Unit = {
    val step = args.headOption.fold(10)(_.toInt)
    require(step == 10 || step == 30, s"step must be 10 or 30, got $step")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scalesmoke")
    val smokeOnly = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ops = classes.filter { case (name, _) =>
      (step == 10 || rehearsed(name)) &&
        smokeOnly.forall(_.exists(name.startsWith))
    }
    val spark = graft.Session.local()
    val (baseDir, bigDir) = (s"$workDir/base", s"$workDir/x$step")
    generate(spark, baseDir, nDocs = 5000L, nVecs = 2000L)
    generate(spark, bigDir, nDocs = 5000L * step, nVecs = 2000L * step)

    def timed(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      run(spark, name, dir)
      graft.Session.release(spark)
      (System.nanoTime() - t0) / 1e9
    }

    val rows = ops.map { case (name, cls) =>
      val (bound, wallCap) = limits(name, cls, step)
      timed(name, baseDir) // codegen + JIT warm, untimed
      val base = timed(name, baseDir)
      val big = timed(name, bigDir)
      val ratio = big / math.max(base, 0.05) // floor: sub-50ms bases are noise
      val alpha = math.log(math.max(ratio, 1.0)) / math.log(step)
      System.err.println(f"[scalesmoke] $name base=$base%.2fs " +
        f"x$step=$big%.2fs ratio=$ratio%.1f alpha=$alpha%.2f class=$cls")
      require(ratio <= bound, f"$name scales super-linearly: $ratio%.1fx " +
        f"> $bound%.0fx at ${step}x data (alpha $alpha%.2f)")
      require(big < wallCap, f"$name wall cap: $big%.0fs at ${step}x scale")
      f""""$name":{"class":"$cls","base":$base%.2f,"big":$big%.2f,""" +
        f""""ratio":$ratio%.2f,"alpha":$alpha%.3f}"""
    }
    println(s"""{"probe":"scale_smoke","step":$step,""" +
      s""""cpus":${graft.Session.defaultCpus},"ops":${rows.mkString("{", ",", "}")}}""")
    spark.stop()
  }

  /** One op at one scale, into the noop sink. */
  private def run(spark: SparkSession, name: String, dir: String): Unit =
    if (name == "epoch_build") {
      val e = EpochBuild.build(
        graft.Tables.load(spark, dir, "documents"),
        "doc_id", "text", "smoke0", shardTokens = 2000L, seqLen = 256)
      e.order.write.format("noop").mode("overwrite").save()
      e.boundaries.write.format("noop").mode("overwrite").save()
    } else graft.SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

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

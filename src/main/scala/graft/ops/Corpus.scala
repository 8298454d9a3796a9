package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level analysis and dataset-preparation operators for
  * training-data pipelines: vocabulary heavy hitters, per-group token
  * statistics, and deterministic train/val/test assignment.
  *
  * Scale shapes:
  *  - heavy hitters: explode + partial-aggregated count + top-k via
  *    ORDER BY/LIMIT, which Spark plans as TakeOrderedAndProject — per
  *    partition it keeps only k rows, so no global sort materializes.
  *  - token stats: per-group aggregation with map-side partials for
  *    count/min/max; the exact percentile aggregate buffers each group's
  *    values, which is fine for low-cardinality groups (languages). For
  *    high-cardinality grouping at 100 TB use `approx_percentile`
  *    (t-digest, mergeable) — exact is used here because it is
  *    oracle-checkable bit-for-bit.
  *  - split assignment: pure per-row projection on md5(id) — no shuffle,
  *    no RNG state, stable under re-runs, reshuffles, and backfills.
  *    (Never use rand() for split assignment: it changes on retry and
  *    re-partitioning, silently leaking val/test into train.)
  */
object Corpus {

  /** Top-`k` most frequent whitespace tokens corpus-wide, with counts.
    * Deterministic total order: count descending, then token ascending.
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Per-`groupCol` whitespace-token-count statistics: document count,
    * min/max, and exact median (linear interpolation — matches DuckDB's
    * `quantile_cont(x, 0.5)` definition).
    */
  def tokenStats(df: DataFrame, textCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol), TextOps.tokenCount(col(textCol)).as("n_tok"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_tok").as("min_tokens"),
        max("n_tok").as("max_tokens"),
        percentile(col("n_tok"), lit(0.5)).as("median_tokens"))

  /** Fixed-bin histogram quantiles of the per-doc token count, per
    * group — the BOUNDED-STATE scale path beside [[tokenStats]]'s exact
    * median. Exact percentile state is O(distinct values) per group
    * (Spark buffers the full multiset; at 100 TB a hot group's state is
    * the corpus); a fixed-width histogram's state is `max_len/binWidth`
    * counters regardless of rows, the counters are commutative sums
    * (mergeable across partitions/batches — partial aggregation and
    * incremental folds both stay exact over the BINNED distribution),
    * and the answer degrades gracefully: the reported value is the
    * inclusive upper edge of the bin holding the ceil(q·n)-th smallest
    * value, so `exact < reported ≤ exact + binWidth` always
    * (CorpusOpsSpec asserts the sandwich against [[tokenStats]]).
    * Everything is integer arithmetic — bin = `n_tok div binWidth`,
    * rank thresholds by ceiling division `(n·qn + qd − 1) div qd` — so
    * the DuckDB oracle matches hash-exactly (no interpolation, no
    * floats; the t05 median can't do that, which is also why the exact
    * op's oracle compares interpolated DOUBLEs). Shape: one scan-stage
    * projection, one (group, bin) hash-agg (partial-agg combines
    * map-side), one group-partitioned cumulative window over bin counts
    * (rows per group = bins, not docs), one final rollup.
    */
  def histQuantiles(
      df: DataFrame, textCol: String, groupCol: String,
      binWidth: Long = 16L,
      quantiles: Seq[(String, Long, Long)] =
        Seq(("p50_hi", 1L, 2L), ("p90_hi", 9L, 10L), ("p99_hi", 99L, 100L)))
      : DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1: $binWidth")
    require(quantiles.nonEmpty && quantiles.forall {
      case (_, qn, qd) => qn >= 0 && qd >= 1 && qn <= qd },
      s"quantiles must be 0 <= qn/qd <= 1: $quantiles")
    quantilesFromBins(binDocs(df, textCol, groupCol, binWidth),
      groupCol, binWidth, quantiles)
  }

  /** The scan-stage binning half of [[histQuantiles]]: (group, bin, cnt)
    * rows. Split out because the counts are the MERGEABLE state — a
    * streaming aggregation or an incremental fold maintains exactly this
    * frame (sums commute), and [[quantilesFromBins]] finishes from it.
    */
  def binDocs(df: DataFrame, textCol: String, groupCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1: $binWidth")
    df.select(col(groupCol),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("bin", expr(s"n_tok div ${binWidth}L"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Finish [[histQuantiles]] from a standing (group, bin, cnt) frame —
    * rows per group = bins, so this rollup is histogram-sized no matter
    * how many documents the counts summarize.
    */
  def quantilesFromBins(binned: DataFrame, groupCol: String,
      binWidth: Long,
      quantiles: Seq[(String, Long, Long)] =
        Seq(("p50_hi", 1L, 2L), ("p90_hi", 9L, 10L), ("p99_hi", 99L, 100L)))
      : DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall {
      case (_, qn, qd) => qn >= 0 && qd >= 1 && qn <= qd },
      s"quantiles must be 0 <= qn/qd <= 1: $quantiles")
    val wCum = Window.partitionBy(groupCol).orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    val cum = binned
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("total", sum("cnt").over(wAll))
    val qCols = quantiles.map { case (nm, qn, qd) =>
      min(when(
        col("cum") >= expr(s"(total * ${qn}L + ${qd - 1}L) div ${qd}L"),
        (col("bin") + 1) * binWidth)).as(nm)
    }
    cum.groupBy(col(groupCol))
      .agg(max("total").as("n_docs"), qCols: _*)
      .orderBy(groupCol)
  }

  /** Mergeable ε-rank quantile SKETCH per group — the error-bounded twin
    * of [[histQuantiles]] (r11 verdict item 5): where t39's fixed bins
    * need a known value range and answer with bin-edge granularity, the
    * rank sketch covers UNBOUNDED value domains with a per-group state of
    * `O((1/ε)·log(εn))` tuples and an explicit rank guarantee
    * `|rank(estimate) − ⌈q·n⌉| ≤ ε·n`.
    *
    * Spark-first: the sketch is the engine's own `approx_percentile`
    * aggregate — Greenwald–Khanna `QuantileSummaries` with compression,
    * the KLL/t-digest-class structure Spark itself deploys. It is a
    * TypedImperativeAggregate, so partial buffers merge across partitions
    * (and across streaming micro-batches — see
    * `CorpusStream.quantileSketchStream`) exactly like any sum: the
    * MERGEABILITY is the engine contract, not a reimplementation.
    * ε = 1/accuracy. Deterministic GK compaction (no KLL coin flips), so
    * results are reproducible under a fixed partitioning.
    *
    * Rows-only by design: the estimate depends on the sketch's internal
    * compaction schedule, which no SQL engine mirrors — SketchSpec gates
    * the ε-rank guarantee against exact order statistics at two
    * accuracies, merge-invariance across repartitionings, and the
    * stream-twin parity.
    */
  def rankSketchQuantiles(
      df: DataFrame, textCol: String, groupCol: String,
      accuracy: Int = 1000,
      quantiles: Seq[(String, Double)] =
        Seq(("p50_sk", 0.5), ("p90_sk", 0.9), ("p99_sk", 0.99)))
      : DataFrame = {
    require(accuracy >= 1, s"accuracy must be >= 1: $accuracy")
    require(quantiles.nonEmpty && quantiles.forall {
      case (_, q) => q >= 0.0 && q <= 1.0 },
      s"quantiles must be 0 <= q <= 1: $quantiles")
    val vals = df.select(col(groupCol),
      TextOps.tokenCount(col(textCol)).cast("long").as("n_tok"))
    val qCols = quantiles.map { case (nm, q) =>
      percentile_approx(col("n_tok"), lit(q), lit(accuracy)).as(nm)
    }
    val agg = vals.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), qCols: _*)
    // a streaming frame cannot sort pre-sink (update mode); batch callers
    // get the deterministic group order the harness expects
    if (df.isStreaming) agg else agg.orderBy(groupCol)
  }

  /** Deterministic content-independent split label for an id column from
    * the last hex nibble of md5(id as string): 12/16 train, 2/16 val,
    * 2/16 test. The md5 hex digest is identical in every engine, so the
    * assignment is portable (the DuckDB oracle reproduces it exactly) and
    * permanent — a document's split never changes as the corpus grows.
    */
  /** Deterministic Poisson(1) multiplicity from an md5-hex prefix —
    * the inverse CDF as a fixed CASE over 8-hex thresholds
    * `floor(P(X≤k)·16⁸)`: equal-length lowercase hex compares
    * lexicographically like the number it encodes, so BOTH engines map
    * the same (id, replica) to the same multiplicity with no float
    * parsing anywhere. Tail clamps at 8 (P ≈ 1e−5). */
  private def poissonMult(h: Column): Column =
    when(h <= "5e2d58d8", 0L).when(h <= "bc5ab1b1", 1L)
      .when(h <= "eb715e1d", 2L).when(h <= "fb239797", 3L)
      .when(h <= "ff1025f5", 4L).when(h <= "ffd90f3b", 5L)
      .when(h <= "fffa8b71", 6L).when(h <= "ffff540c", 7L)
      .otherwise(8L)

  /** The replica half of [[bootstrapMeanCi]]: per (group, replica b),
    * the Poisson-resampled mean of `valCol` — `Σ m·v / Σ m` over
    * multiplicities m = Poisson(1) derived from md5(id ":" b). Exact
    * long sums, ONE IEEE division per replica. Public so the CI
    * selection is independently checkable. */
  def bootstrapReplicaMeans(
      df: DataFrame, idCol: String, valCol: String, groupCol: String,
      replicas: Int): DataFrame = {
    require(replicas >= 2, s"replicas must be >= 2: $replicas")
    df.select(col(groupCol), col(idCol), col(valCol))
      .withColumn("b",
        explode(sequence(lit(0), lit(replicas - 1))))
      .withColumn("m", poissonMult(substring(md5(concat(
        col(idCol).cast("string"), lit(":"), col("b").cast("string"))),
        1, 8)))
      .groupBy(col(groupCol), col("b"))
      .agg(sum(col("m") * col(valCol)).as("s"), sum("m").as("c"))
      .select(col(groupCol), col("b"),
        when(col("c") === 0, lit(null))
          .otherwise(col("s").cast("double") / col("c")).as("mean_b"))
  }

  /** Poisson-bootstrap percentile confidence interval (Efron 1979;
    * the Poisson(1) approximation to multinomial resampling is the
    * standard DISTRIBUTED bootstrap — Chamandy et al. 2012 "Estimating
    * uncertainty for massive data streams") for a per-group mean: the
    * error bars a release card should print beside every corpus
    * statistic. Deterministic end to end — multiplicities come from
    * md5(id ":" replica) through a fixed hex-threshold inverse CDF, so
    * retries and engines agree; no RNG state anywhere.
    *
    * CI = the ceil-rank 5th/95th percentile replica means (ties broken
    * by replica index), alongside the unresampled point estimate.
    * Empty replicas (possible only for tiny groups) are excluded and
    * the ranks computed against the surviving count.
    *
    * Scale shape: the replica explode is SCAN-STAGE (×B rows before
    * the partial agg — map-side combine collapses to groups×B cells,
    * the only exchange); the CI window runs over groups×B rows. At
    * 100 TB the cost is B linear passes fused into one, which is the
    * published trade for exact resampling error bars.
    */
  def bootstrapMeanCi(
      df: DataFrame, idCol: String, valCol: String, groupCol: String,
      replicas: Int = 20): DataFrame = {
    val reps = bootstrapReplicaMeans(df, idCol, valCol, groupCol,
      replicas).filter(col("mean_b").isNotNull)
    val w = Window.partitionBy(groupCol)
      .orderBy(col("mean_b").asc, col("b").asc)
    val wAll = Window.partitionBy(groupCol)
    val ranked = reps
      .withColumn("rn", row_number().over(w))
      .withColumn("nb", count(lit(1)).over(wAll))
    val ci = ranked.groupBy(col(groupCol)).agg(
      max(when(col("rn") === expr("(nb * 5 + 99) div 100"),
        col("mean_b"))).as("ci_lo"),
      max(when(col("rn") === expr("(nb * 95 + 99) div 100"),
        col("mean_b"))).as("ci_hi"))
    val point = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      (sum(col(valCol)).cast("double") / count(lit(1))).as("mean"))
    point.join(ci, Seq(groupCol), "left")
      .select(col(groupCol), col("n_docs"), col("mean"),
        col("ci_lo"), col("ci_hi"))
  }

  def splitLabel(idCol: Column): Column = {
    val nib = substring(md5(idCol.cast("string")), 32, 1)
    when(nib.isInCollection("0123456789ab".map(_.toString)), "train")
      .when(nib.isInCollection(Seq("c", "d")), "val")
      .otherwise("test")
  }

  /** Leakage-safe train/val/test assignment: the [[splitLabel]] rule
    * applied to each document's duplicate-CLUSTER label instead of its
    * own id, so every member of a near-dup cluster lands in the SAME
    * split. Splitting by raw id (p01) silently puts near-copies of one
    * page on both sides of the train/eval boundary — the eval-leakage
    * failure mode that inflates held-out metrics; clustering first
    * makes the boundary respect content identity.
    *
    * `pairs` is any verified near-dup pair set (d02's exact Jaccard,
    * d03's LSH-verified, d10's semantic). Scale shape: cluster labels
    * come from the d08 contraction CC (pair-graph-sized, never
    * corpus-sized); docs LEFT-join the labels on id (narrow rows) and
    * singletons keep their own id as the label, so the split of an
    * unclustered doc equals p01's — only docs with duplicates move,
    * and a doc's split still never changes as the corpus grows unless
    * its cluster does.
    */
  def leakageSafeSplit(
      docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String, bCol: String): DataFrame = {
    val labels = Clusters.connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("cluster_id"))
    docs.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split", splitLabel(col("cluster_id")))
  }

  /** Per-split document counts and token totals — the summary a pipeline
    * asserts before training (split sizes near 75/12.5/12.5).
    */
  def splitSummary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(splitLabel(col(idCol)).as("split"),
        TextOps.tokenCount(col(textCol)).as("n_tok"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"))

  /** Top-`k` tokens per group by frequency (count desc, token asc within
    * each group). Window over grouped counts: row cardinality entering the
    * window is (groups x vocabulary), never raw tokens.
    */
  def topTokensPerGroup(
      df: DataFrame, textCol: String, groupCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(col("n").desc, col("token").asc)
    df.select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(groupCol, "token")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Top-k Porter STEMS per group — [[topTokensPerGroup]] with the
    * morphological collapse in front: inflected variants (connect,
    * connected, connection, connecting) pool into one stem row, so the
    * rollup reads topical weight instead of inflection frequency. The
    * stem is a codegen'd scan-stage scalar (PorterStemExpr) applied
    * AFTER the token explode — the shuffle carries (group, stem) pairs,
    * and the map-side partial aggregation collapses variant counts
    * before the exchange, so stemming strictly SHRINKS shuffle volume
    * versus the raw-token rollup. No SQL mirror (the stemmer is the
    * algorithm, not an expression DuckDB has) — StemSpec gates the
    * expression against the published algorithm's vectors.
    */
  def topStemsPerGroup(
      df: DataFrame, textCol: String, groupCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(col("n").desc, col("stem").asc)
    df.select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .select(col(groupCol), TextOps.porterStem(col("token")).as("stem"))
      .groupBy(groupCol, "stem")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Per-group vocabulary from PERSISTABLE DataSketches HLL sketches,
    * built per shard then unioned — the artifact-shaped scale path that
    * [[approxVocabPerGroup]]'s one-shot HLL++ aggregate cannot give: a
    * per-(group, shard) sketch frame is a TABLE (binary column) that a
    * 100 TB pipeline materializes once per ingest batch, re-unions in
    * milliseconds for any group rollup, and merges across days without
    * touching raw tokens again (the t55 rank-sketch discipline, applied
    * to distinct counting). Stage 1 shuffles one sketch per
    * (group, shard) — constant size, never the token stream; stage 2
    * unions shard sketches per group. SketchSpec gates the estimate
    * against [[vocabPerGroup]]'s exact distinct and pins union
    * invariance (sharded-then-unioned ≡ direct sketch).
    */
  def sketchVocabPerGroup(
      df: DataFrame, textCol: String, groupCol: String,
      shardCol: String): DataFrame = {
    val shard = df.select(col(groupCol), col(shardCol),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(groupCol, shardCol)
      .agg(hll_sketch_agg(col("token")).as("sk"))
    shard.groupBy(groupCol)
      .agg(count(lit(1)).as("n_shards"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("vocab_est"))
  }

  /** Per-group vocabulary size (exact distinct whitespace tokens) and
    * total token volume. Exact COUNT(DISTINCT) is the oracle-checkable
    * configuration: it plans as a two-phase aggregate whose first phase
    * shuffles the DISTINCT (group, token-hash) pairs — fine while
    * vocabularies fit a shuffle, which natural-language vocabularies do.
    * The 100 TB default is `approxVocabPerGroup` (HyperLogLog++): one
    * pass, constant memory per group, mergeable sketches — gated within
    * rsd by a spec against this exact version.
    */
  def vocabPerGroup(df: DataFrame, textCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(groupCol)
      .agg(count_distinct(col("token")).as("vocab"),
        count(lit(1)).as("n_tokens"))

  /** HLL++ sketch variant of [[vocabPerGroup]] — the scale path. */
  def approxVocabPerGroup(
      df: DataFrame, textCol: String, groupCol: String, rsd: Double = 0.05): DataFrame =
    df.select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(groupCol)
      .agg(approx_count_distinct(col("token"), rsd).as("vocab"),
        count(lit(1)).as("n_tokens"))

  /** Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005) —
    * [[heavyHitters]]'s OPEN-VOCABULARY scale path, the t09 HLL
    * pattern one op over: exact t06 shuffles every distinct token
    * (state = vocabulary-sized — fine for natural language, unbounded
    * for URLs/ids/n-gram vocabularies). Here the global exchange is
    * BOUNDED by construction:
    *
    *  1. SKETCH — a depth×width counter matrix as a (j, bucket, cnt)
    *    frame: each token increments one bucket per hash row
    *    (`xxhash64(j, token) mod width`); map-side partial aggregation
    *    collapses every partition to ≤ depth·width cells, so the
    *    shuffle carries at most depth·width rows per partition
    *    REGARDLESS of vocabulary. Sketches are mergeable (cell-wise
    *    sums) — the standing-corpus fold shape.
    *  2. CANDIDATES — per-partition exact local top-`m` (m = 8k by
    *    default) via one `mapPartitions` pass (the documented honest
    *    bound: the LOCAL map is partition-vocabulary-sized in memory,
    *    which a ~128 MB partition always fits; what it avoids is the
    *    global vocabulary-sized exchange). Any token with global
    *    frequency ≥ N/m appears in some partition's local top-m by
    *    pigeonhole on its heaviest partition.
    *  3. ESTIMATE — candidates join the broadcast sketch on their
    *    depth cells; `est_n = min over rows` (the CMS point query:
    *    never under the true count, over by ≤ e·N/width with
    *    probability 1 − e^−depth); top-k by estimate, ties by token.
    *
    * Spec-gated against exact [[heavyHitters]] (RecallSpec): estimates
    * bound the true counts from above within ε·N and the returned set
    * matches the exact top-k on the probe corpus. No SQL oracle by
    * design — the sketch is the scale path; swap it for t06 when the
    * key space stops fitting a shuffle.
    */
  private def cmsCellsOf(t: Column, width: Int, depth: Int): Column =
    array((0 until depth).map(j =>
      pmod(xxhash64(lit(j.toLong), t), lit(width.toLong))): _*)

  /** The count-min sketch CELL frame of a token stream: one count per
    * live (row, bucket) cell, ≤ depth·width rows total REGARDLESS of
    * vocabulary — the fixed-state rollup [[cmsHeavyHitters]] queries,
    * exposed separately because the counts are commutative sums and so
    * fold identically as a STREAMING aggregation
    * ([[graft.streaming.CorpusStream.cmsCellStream]] maintains exactly
    * this frame over a live ingest; CorpusStreamSpec asserts parity).
    */
  def cmsCells(df: DataFrame, textCol: String,
      width: Int, depth: Int): DataFrame = {
    require(width >= 2 && depth >= 1,
      s"bad cms shape: width=$width depth=$depth")
    df.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .select(posexplode(cmsCellsOf(col("token"), width, depth))
        .as(Seq("j", "bucket")))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates over a pre-built [[cmsCells]] frame: for each
    * candidate token, the min over its depth cells — the read-side
    * finisher (Cormode–Muthukrishnan: over-estimate only, within ε·N
    * with the usual width/depth bounds). The cell frame broadcasts
    * (≤ depth·width rows by construction).
    */
  def cmsEstimateFromCells(cells: DataFrame, cand: DataFrame,
      tokenCol: String, width: Int, depth: Int): DataFrame =
    cand
      .select(col(tokenCol).as("token"),
        posexplode(cmsCellsOf(col(tokenCol), width, depth))
          .as(Seq("j", "bucket")))
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy("token").agg(min("cnt").as("est_n"))

  def cmsHeavyHitters(
      df: DataFrame, textCol: String, k: Int,
      width: Int = 8192, depth: Int = 4,
      candidatesPerPartition: Int = 0): DataFrame = {
    require(k >= 1 && width >= 2 && depth >= 1,
      s"bad cms shape: k=$k width=$width depth=$depth")
    val m = if (candidatesPerPartition > 0) candidatesPerPartition else 8 * k
    val toks = df.select(explode(TextOps.tokens(col(textCol))).as("token"))
    val sketch = cmsCells(df, textCol, width, depth)
    import df.sparkSession.implicits._
    val cand = toks.as[String].mapPartitions { it =>
      val local = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(t => local.update(t, local.getOrElse(t, 0L) + 1L))
      local.toSeq.sortBy { case (t, c) => (-c, t) }.take(m)
        .iterator.map(_._1)
    }.toDF("token").distinct()
    cmsEstimateFromCells(sketch, cand, "token", width, depth)
      .orderBy(col("est_n").desc, col("token").asc)
      .limit(k)
  }

  /** Top-`k` DISTINCTIVE tokens per group by frequency lift:
    * `(tf_group / group_total) / (tf_corpus / corpus_total)` — the
    * TF-IDF-family contrast score ("which tokens characterize this
    * language/source vs the whole corpus"), computed as two exact long
    * products and ONE double division so the DuckDB oracle matches
    * bit-for-bit (an `ln`-based idf would depend on libm rounding).
    * `minDf` drops rare-token noise (a hapax in a small group otherwise
    * always wins).
    *
    * Shape: one (group, token) count — the only shuffle carrying strings,
    * with map-side partials — then token-level and group-level rollups of
    * THOSE counts (narrow), a broadcast of the single corpus-total row,
    * and a window over (groups x vocab) rows. Products stay exact while
    * tf * corpus_total < 2^53 — fine into the tens-of-trillions-of-tokens
    * range; beyond that, pre-divide by corpus_total (monotonic, same
    * ranking, no longer oracle-exact).
    */
  def distinctiveTokensPerGroup(
      df: DataFrame, textCol: String, groupCol: String,
      k: Int, minDf: Long): DataFrame = {
    // r16: tf has THREE consumers (group totals, corpus totals, the lift
    // probe) and Catalyst has no cross-branch CSE — the tokenize +
    // explode + shuffle used to run once per consumer. EAGER
    // localCheckpoint materializes the fixed-width (group, token, tf)
    // rollup once (the r15 first-action-race convention: the consumers
    // are submitted concurrently, so a lazy persist misses on all).
    val tf = df
      .select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(groupCol, "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val groupTotals = tf.groupBy(groupCol).agg(sum("tf").as("gt"))
    val corpusTfAll = tf.groupBy("token").agg(sum("tf").as("tc"))
    // corpus total over ALL tokens (not just the df-filtered ones)
    val total = broadcast(corpusTfAll.agg(sum("tc").as("total")))
    val corpusTf = corpusTfAll.filter(col("tc") >= minDf)
    val lift = tf.join(corpusTf, "token").join(groupTotals, Seq(groupCol))
      .crossJoin(total)
      .select(col(groupCol), col("token"), col("tf"),
        ((col("tf") * col("total")).cast("double") /
          (col("gt") * col("tc")).cast("double")).as("lift"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(col("lift").desc, col("token").asc)
    lift.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** BM25 keyword retrieval (Robertson & Spärck Jones / Okapi, the
    * standard probabilistic ranking function): top-`k` documents per
    * query by `Σ_terms idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * at the canonical k1 = 1.2, b = 0.75 — the retrieval rung above
    * [[distinctiveTokensPerGroup]]'s corpus-contrast scoring: THAT
    * characterizes a group, THIS answers a query (dataset search,
    * eval-harness retrieval, dedup-candidate triage by keyword).
    *
    * Oracle-exact arithmetic (the t10/t16 discipline): idf is quantized
    * to WHOLE BITS — `length(bin(N div df))` = floor(log2(N/df)) + 1 —
    * so no `ln` ever runs, and the tf normalization clears all rational
    * denominators: with avgdl = A/N (A = corpus tokens, N = docs),
    * multiplying through by 20·A gives
    * `term = 44·A·tf·idf  /  (20·A·tf + 6·A + 18·dl·N)` —
    * both sides EXACT LONGS (magnitudes hold while 44·A·tf·idf < 2^63 —
    * beyond ~10^16 corpus tokens, pre-scale A), cast to double for ONE
    * IEEE division per (query, doc, term). Per-doc summation goes
    * through DECIMAL(18,6) accumulation (the dsum convention) so Spark's
    * and DuckDB's partial-sum orders cannot diverge.
    *
    * Deliberate divergence from textbook BM25: the whole-bit idf FLOORS
    * AT 1 for a term present in every document (`length(bin(1))` = 1),
    * where Robertson idf → ~0 — ubiquitous terms (stopwords appearing
    * in 100% of docs) retain a small constant weight instead of
    * vanishing, so stopword-heavy queries rank slightly differently
    * than a float-idf engine. This is the price of the exact-integer
    * oracle discipline and is bounded: such a term contributes at most
    * one idf unit, and any term in < half the corpus gets ≥ the same
    * weight, so discriminative terms always dominate.
    *
    * Shape at 100 TB: tf/df/dl are partial-aggregated rollups of the
    * one exploded pass (the t16 token shuffle, AQE-absorbed hot heads);
    * `queries` (query_id, term) is BROADCAST to the tf join — work
    * scales with Σ_t docs-containing-t, never the corpus × queries
    * cross; the final top-k is a per-query window over only the scored
    * docs. Ties break by doc id (deterministic).
    */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int,
      excludeQueryDoc: Boolean = false): DataFrame = {
    // r16: ONE corpus tokenize. tf/dl/df/stats are all rollups of the
    // same exploded token frame, and with four independent consumers the
    // scan + explode + shuffle used to run four times (no cross-branch
    // CSE; s14's plan showed four documents scans from this op alone).
    // tf is checkpointed EAGERLY (concurrent consumers — the r15 first-
    // action-race convention) and dl derives from it: a doc's token
    // count IS the sum of its per-token tfs, value-identical.
    val toks = df.select(col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("token"))
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    val stats = broadcast(dl.agg(count(lit(1)).as("n"), sum("dl").as("a")))
    val dfT = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = broadcast(queries.select(col("query_id"), col("term")))
      .join(tf, col("term") === col("token"))
      .join(dfT, Seq("token"))
      .join(dl, Seq("id"))
      .crossJoin(stats)
      .select(col("query_id"), col("id"),
        ((lit(44L) * col("a") * col("tf") *
          length(bin(expr("n div df"))).cast("long")).cast("double") /
          (lit(20L) * col("a") * col("tf") + lit(6L) * col("a") +
            lit(18L) * col("dl") * col("n")).cast("double")
        ).cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("ts"))
      .groupBy("query_id", "id").agg(sum("ts").as("s"))
    // more-like-this mode: query_id IS a corpus doc id — drop the
    // self-match BEFORE ranking so rank 1 is the nearest OTHER doc
    val scoredX =
      if (excludeQueryDoc) scored.filter(col("id") =!= col("query_id"))
      else scored
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("s").desc, col("id").asc)
    scoredX.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("id").as(idCol),
        col("s").cast("double").as("score"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Ponte & Croft 1998;
    * Zhai & Lafferty 2001) — the LANGUAGE-MODEL ranking rung beside
    * [[bm25TopK]]'s tf-idf family: score a document by how surprising
    * the query is under the document's Dirichlet-smoothed unigram LM,
    * `p(w|d) = (c(w,d) + μ·cf(w)/|C|) / (|d| + μ)` with the canonical
    * μ = 2000. Lower total surprisal ranks first.
    *
    * Exactness — the t16/t37 whole-bit discipline applied to retrieval:
    * each term's probability clears to the exact rational
    * `num/den = (c·|C| + μ·cf) / ((|d|+μ)·|C|)` and scores
    * `bits = length(bin(den div num))` (num = 0 — a term unseen in the
    * entire corpus — caps at `length(bin(den))`); a document's score is
    * the plain LONG SUM of its per-term bits over ALL the query's terms
    * (absent terms score their background bits, which still depend on
    * |d| — the reason candidates join the full term list, not just
    * their matches). No decimal accumulation needed: this ranking is
    * integer end to end, ties broken by doc_id.
    *
    * Candidate generation is the standard matching-term union (the
    * fixed query list is broadcast); per-doc work is candidates ×
    * query terms. The ranking is therefore exact WITHIN the
    * matching-term candidate set, not corpus-wide: because the
    * background bits depend on |d|, a very short document matching
    * zero query terms can in principle out-score a longer matching
    * candidate, and such documents are never generated. This is the
    * standard IR restriction (scoring only the posting-list union —
    * the DuckDB oracle shares it); under equal document lengths the
    * restriction is vacuous since a match only adds probability mass.
    *
    * Longs hold while `(|d|+μ)·|C| < 2⁶³` — |C| ≤ ~4×10¹⁵ tokens at
    * μ = 2000 and kilotoken docs, far past 100 TB.
    */
  def dirichletQlTopK(
      df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int, mu: Long = 2000L): DataFrame = {
    require(k > 0 && mu > 0, s"bad k=$k mu=$mu")
    // r16: ONE corpus tokenize (the bm25TopK fix): tf is checkpointed
    // eagerly and dl/cf derive from it — a doc's token count is the sum
    // of its per-token tfs, a token's corpus frequency the sum of its
    // per-doc tfs. Value-identical; the former five independent
    // derivations of the exploded token frame collapse to one.
    val toks = df.select(col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("token"))
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    val stats = broadcast(dl.agg(sum("dl").as("csize")))
    val cfT = tf.groupBy("token").agg(sum("tf").as("cf"))
    val q = broadcast(queries.select(col("query_id"), col("term")))
    val cand = q.join(tf, col("term") === col("token"))
      .select("query_id", "id").distinct()
    val scored = cand
      .join(q, Seq("query_id"))
      .join(cfT.withColumnRenamed("token", "term"), Seq("term"), "left")
      .join(tf.withColumnRenamed("token", "term"), Seq("id", "term"), "left")
      .join(dl, Seq("id"))
      .crossJoin(stats)
      .select(col("query_id"), col("id"),
        (coalesce(col("tf"), lit(0L)) * col("csize") +
          lit(mu) * coalesce(col("cf"), lit(0L))).as("num"),
        ((col("dl") + lit(mu)) * col("csize")).as("den"),
        coalesce(col("tf"), lit(0L)).as("mtf"))
      .select(col("query_id"), col("id"),
        when(col("num") > 0,
          length(bin(expr("den div num"))).cast("long"))
          .otherwise(length(bin(col("den"))).cast("long")).as("bits"),
        col("mtf"))
      .groupBy("query_id", "id")
      .agg(sum("bits").as("sum_bits"), sum("mtf").as("match_tf"))
    // whole-bit scores step in factor-2 likelihood increments (the
    // price of exactness), so within-bit ties are common; break them by
    // matched term mass — relevance-driven — before the id tiebreak
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("sum_bits").asc, col("match_tf").desc, col("id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("id").as(idCol),
        col("sum_bits"), col("match_tf"))
  }

  /** Token-budget-constrained selection — "the best B tokens": keep
    * documents in descending score order until the budget is exhausted,
    * the materialized form of classifier-quality data selection (GPT-3
    * App. A and LLaMA select pre-training data by taking the
    * top-classifier-scored documents to a size target; this emits that
    * cut as a table). Greedy by score is the published shape; a
    * value-density variant is the same call with score = density.
    *
    * Deterministic and exact: `scoreCol` must be an integer-quantized
    * LONG (quantize floats before calling — the e23 cents convention),
    * order is (score DESC, id ASC), and the running token total is the
    * range-partitioned prefix-sum machinery ([[prefixSumBy]] — never a
    * one-task window). A document is kept iff its INCLUSIVE cumulative
    * weight fits the budget (documents are atomic — no partial keeps),
    * so the output is the unique maximal score-ordered prefix within
    * budget.
    */
  def budgetSelect(
      df: DataFrame, idCol: String, weightCol: String, scoreCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    require(df.schema(scoreCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"$scoreCol must be an integer-quantized LONG score")
    // Two data-dependent edges fail loudly, not silently: a NEGATIVE
    // weight makes the prefix sums non-monotone (the "maximal
    // score-ordered prefix" invariant is meaningless), and negating
    // Long.MinValue overflows back to itself (reversing its sort rank).
    // Both checks ride the scan as codegen'd assert_true columns.
    val checked = df
      .withColumn("__wchk", assert_true(col(weightCol) >= 0,
        lit(s"budgetSelect: $weightCol must be non-negative")))
      .withColumn("__schk", assert_true(col(scoreCol) > Long.MinValue,
        lit(s"budgetSelect: $scoreCol = Long.MinValue would overflow negation")))
    val r = checked.select(col(idCol), col(weightCol).cast("long")
        .as(weightCol), col(scoreCol), col("__wchk"), col("__schk"))
      .withColumn("__negq",
        when(col("__wchk").isNull && col("__schk").isNull, -col(scoreCol)))
    prefixSumBy(r, Seq("__negq", idCol), weightCol, "__pre")
      .filter(col("__pre") + col(weightCol) <= budget)
      .select(col(idCol), col(weightCol), col(scoreCol),
        (col("__pre") + col(weightCol)).as("cum_weight"))
  }

  /** Collocation mining by pointwise mutual information over adjacent
    * word pairs (Church & Hanks 1990; Manning & Schütze ch. 5 — the
    * classic multi-word-expression extractor): pairs occurring at least
    * `minCount` times, scored by `pmi = log₂(c_xy·N / (c_x·c_y))` with
    * N the corpus token count. High-PMI pairs are lexicalized units
    * ("New York", "machine learning") — the phrase inventory a corpus
    * card prints and a tokenizer-merge audit compares against; the
    * minCount floor is the standard guard against PMI's low-count bias
    * (a hapax pair maximizes PMI by construction).
    *
    * Whole-bit discipline (t16's convention): the PMI rational clears to
    * `num/den = c_xy·N / (c_x·c_y)` in exact longs and the score is
    * signed whole bits — `length(bin(num div den))` when num ≥ den,
    * negated with the roles swapped otherwise — so the oracle matches
    * bit-for-bit with no float log anywhere. Longs hold while
    * `c_xy·N < 2⁶³`; past ~3×10⁹ tokens, cast the two products to
    * DECIMAL(38,0) (10³⁸ covers N ≈ 10¹⁸ — far past 100 TB) with the
    * same div/bin pipeline.
    *
    * Shape: one bigram explode + one token explode, two hash-aggs with
    * map-side partials, two broadcast-sized joins onto the (filtered)
    * pair list keyed on single words, one 1-row count broadcast.
    */
  def collocationPmi(
      df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val pairs = df.select(
      explode(TextOps.bigramList(col(textCol))).as("bg"))
    val pc = pairs.groupBy("bg").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("c_xy"))
    // r16 note: a checkpoint-uc + derive-n-from-uc variant was measured
    // and REJECTED (t56 0.77 -> 1.14 s at sf0.1): materializing the
    // vocab frame changes the join-side size estimate and demotes the
    // two unigram joins from broadcast, costing more than the saved
    // third tokenize pass. Left as-is deliberately.
    val uc = df.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = broadcast(
      df.select(explode(TextOps.tokens(col(textCol))).as("w"))
        .agg(count(lit(1)).as("n_tok")))
    pc
      .join(uc.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(n)
      .withColumn("num", col("c_xy") * col("n_tok"))
      .withColumn("den", col("c_x") * col("c_y"))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        when(col("num") >= col("den"),
          length(bin(expr("num div den"))).cast("long"))
          .otherwise(lit(0L) - length(bin(expr("den div num"))))
          .as("pmi_bits"))
  }

  /** Per-document n-gram novelty rate — the corpus NOVELTY CURVE: the
    * fraction of a document's distinct bigrams never seen in any
    * EARLIER document (ingest order = ascending id). The diagnostic
    * behind "is the crawl still adding new content or re-crawling the
    * same pages": dedup asks if a whole doc repeats, novelty measures
    * how much MARGINAL content each doc contributes (the declining
    * tail of this curve is why data-constrained scaling work repeats
    * epochs rather than crawling more). First occurrence via one
    * min(doc_id)-per-gram rollup joined back — two hash-aggs + one
    * equi-join, all exact integers, one IEEE division per doc. Docs
    * with no bigram (< 2 tokens) read zeros and a NULL rate.
    */
  def noveltyRate(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val grams = df.select(col(idCol).as("id"),
        explode(TextOps.bigramSet(col(textCol))).as("g"))
    val first = grams.groupBy("g").agg(min("id").as("first_id"))
    val per = grams.join(first, Seq("g"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
          .as("n_new"))
    df.select(col(idCol).as("id")).join(per, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("n_new").cast("double") / col("n_grams"))
          .otherwise(lit(null).cast("double")).as("novelty"))
  }

  /** Per-token dispersion (variance-to-mean ratio across documents) —
    * burstiness (Church & Gale 1995's Poisson mixtures): a token whose
    * occurrences are Poisson-spread over documents (VMR ≈ 1) behaves
    * like a function word; VMR ≫ 1 means the token CLUMPS — it is
    * topical/content-bearing. The induced split is what stopword-list
    * induction and keyword weighting actually want, without a
    * hand-curated list (the t24 tf-idf rung assumes df alone separates;
    * dispersion measures the clumping directly).
    *
    * Exactness: one (doc, token) rollup gives per-token df, Σc, Σc² as
    * exact longs; N is the document count (absent docs contribute zero
    * occurrences, so the population moments over ALL N docs are
    * `(N·Σc² − (Σc)²)/N²` — cleared, the VMR = var/mean is ONE IEEE
    * division `(N·Σc² − (Σc)²)/(N·Σc)`). `minDf` bounds the output to
    * tokens with support (rare tokens' VMR is noise and the row count
    * would be the full vocabulary). Longs hold while N·Σc² < 2⁶³.
    */
  def tokenDispersion(
      df: DataFrame, idCol: String, textCol: String,
      minDf: Long): DataFrame = {
    val c = df.select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token", "id").agg(count(lit(1)).as("c"))
    val n = broadcast(df.agg(count(lit(1)).as("n")))
    c.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("c").as("s"),
        sum(col("c") * col("c")).as("q"))
      .filter(col("df") >= minDf)
      .crossJoin(n)
      .select(col("token"), col("df"), col("s").as("total"),
        ((col("n") * col("q") - col("s") * col("s")).cast("double") /
          (col("n").cast("double") * col("s"))).as("vmr"))
  }

  /** Pairwise Pearson correlation matrix over integer-quantized signal
    * columns — the quality-signal REDUNDANCY calibration (complement of
    * t28's kappa, which compares binary GATES; this compares the raw
    * scores): a curation pipeline carrying ten quality signals wants to
    * know which ones measure the same thing before paying ten gates'
    * worth of thresholds and disagreement analysis.
    *
    * Exactness: ONE pass accumulates every moment as exact longs (n,
    * Σx, Σx², Σxy per pair) in a single global partial-agg rollup, and
    * each pair's r = (nΣxy − ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) is a
    * fixed IEEE tree over those longs. Zero-variance signals read NULL.
    * Longs hold while n·Σxy < 2⁶³ — e.g. kilotoken docs × 10¹¹ rows;
    * beyond, pre-quantize coarser (the 32ah convention).
    *
    * Output: one row per unordered column pair (sig_x < sig_y in the
    * given order), columns (sig_x, sig_y, n, r).
    */
  def pearsonMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.distinct.size == cols.size,
      s"need >= 2 distinct signal columns: $cols")
    cols.foreach { c =>
      require(df.schema(c).dataType ==
        org.apache.spark.sql.types.LongType,
        s"signal '$c' must be an integer-quantized LONG column")
    }
    val prs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs =
      cols.flatMap(c => Seq(sum(col(c)).as(s"s_$c"),
        sum(col(c) * col(c)).as(s"q_$c"))) ++
      prs.map { case (a, b) =>
        sum(col(a) * col(b)).as(s"p_${a}__$b") } :+
      count(lit(1)).as("n")
    val m = df.agg(aggs.head, aggs.tail: _*)
    prs.map { case (a, b) =>
      val num = col("n") * col(s"p_${a}__$b") - col(s"s_$a") * col(s"s_$b")
      val dx = col("n") * col(s"q_$a") - col(s"s_$a") * col(s"s_$a")
      val dy = col("n") * col(s"q_$b") - col(s"s_$b") * col(s"s_$b")
      m.select(lit(a).as("sig_x"), lit(b).as("sig_y"), col("n"),
        when(dx > 0 && dy > 0,
          num.cast("double") /
            (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))))
          .otherwise(lit(null).cast("double")).as("r"))
    }.reduce(_ unionByName _)
  }

  /** Yule's characteristic K (Yule 1944; Tweedie & Baayen 1998 show it
    * is the rare length-stable lexical-diversity statistic) — a
    * repetitiveness/vocabulary-richness quality signal:
    * `K = 10⁴·(Σ_t c_t² − N)/N²` over a document's per-type token
    * counts. High K = few types dominate (boilerplate, keyword
    * stuffing); all-distinct tokens give K = 0. Unlike type/token
    * ratio, K does not drift with document length, so ONE threshold
    * works across the length distribution.
    *
    * Exactness: Σc² and N are exact longs from one (doc, token) rollup;
    * K is ONE IEEE expression `10⁴·(sq − n)/(n·n)`. Zero-token docs
    * read NULL. Longs hold while Σc² < 2⁶³ (petatoken documents).
    */
  def yuleK(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = df.select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("c"))
    val agg = c.groupBy("id")
      .agg(sum(col("c") * col("c")).as("sum_sq"), sum("c").as("n_tok"))
    df.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("sum_sq"), lit(0L)).as("sum_sq"),
        when(coalesce(col("n_tok"), lit(0L)) > 0,
          lit(10000.0) * (col("sum_sq") - col("n_tok")).cast("double") /
            (col("n_tok").cast("double") * col("n_tok")))
          .otherwise(lit(null).cast("double")).as("yule_k"))
  }

  /** Per-group Gini concentration of a non-negative value column
    * (Gini 1912, via the exact rank formula — Sen 1973 eq. 2.8.1:
    * `G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)` over ascending-sorted
    * values) — the release-card INEQUALITY statistic beside t15's
    * totals and t48's quality prior: token-count Gini near 0 means a
    * source's documents contribute evenly; near 1 means a few
    * megadocuments carry the source (dedup, chunking and mixture
    * decisions all read differently when 2% of docs hold 80% of the
    * tokens).
    *
    * Exactness: rank i is a row_number over (x, id) — ties make the
    * tiebreak value-irrelevant (equal x at swapped ranks leave Σ i·x
    * unchanged) — and Σ i·x, Σ x, n are exact longs folded in ONE
    * hash-agg; the Gini is ONE final IEEE division. All-zero groups
    * read NULL. Longs hold while n·Σx < 2⁶³ (quantize or shard the
    * rank sum beyond ~10⁹ docs × 10⁹ tokens per group).
    *
    * Shape: one per-group sort window (the 17y percentile exchange) +
    * one map-side-combined rollup — group cardinality rows out.
    */
  def tokenGini(
      df: DataFrame, valueCol: String, groupCol: String,
      idCol: String): DataFrame = {
    val ranked = df.select(col(groupCol).as("grp"),
        col(idCol).as("id"), col(valueCol).cast("long").as("x"))
      .withColumn("i", row_number().over(Window.partitionBy("grp")
        .orderBy(col("x").asc, col("id").asc)))
    ranked.groupBy("grp")
      .agg(count(lit(1)).as("n_docs"),
        sum("x").as("total_tokens"),
        sum(col("i") * col("x")).as("iwx"))
      .select(col("grp").as(groupCol), col("n_docs"),
        col("total_tokens"),
        when(col("total_tokens") > 0,
          (lit(2L) * col("iwx") -
            (col("n_docs") + 1L) * col("total_tokens")).cast("double") /
            (col("n_docs") * col("total_tokens")).cast("double"))
          .otherwise(lit(null).cast("double")).as("gini"))
  }

  /** Weighted sample WITHOUT replacement (Efraimidis & Spirakis 2006,
    * algorithm A-ES): draw exactly `k` rows with inclusion probability
    * proportional to `weightCol` — the resampling step a DSIR/DoReMi
    * mixture pipeline runs after computing importance weights (p18
    * emits the weights; THIS draws the corpus). Each row's key is
    * `ln(u)/w` with `u ∈ (0,1)` derived from `xxhash64(seed:id)`
    * (seeded, no RNG state — the p16 draw-key convention, weighted);
    * the k LARGEST keys are the sample, which is exactly A-ES's
    * `u^(1/w)` top-k in log space. Deterministic, retry-stable,
    * disjoint draws by seed; non-positive weights are excluded by
    * contract.
    *
    * Shape: a pure scan-stage key projection + `orderBy.limit(k)` —
    * TakeOrderedAndProject (per-partition bounded heaps, never a
    * global sort; the q30/p16 shape). No SQL oracle (libm `ln` ulp
    * differences could flip near-equal key ORDER even though the math
    * is deterministic in-engine) — PackSpec gates strict equality
    * against a driver-side reference over the same hash, plus the
    * inclusion-frequency-tracks-weight property across seeds.
    */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: String): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val mask = (1L << 52) - 1
    val u = ((pmod(xxhash64(concat_ws(":", lit(seed),
        col(idCol).cast("string"))), lit(mask)).cast("double") + 0.5) /
      mask.toDouble)
    df.filter(col(weightCol) > 0)
      .withColumn("es_key", log(u) / col(weightCol).cast("double"))
      .orderBy(col("es_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009): combine
    * per-query rankings from heterogeneous retrievers — BM25 keyword
    * lists, dense cosine top-k, any (query, id, rank) frame — into one
    * list by `Σ_lists 1/(rrfK + rank)`, the standard hybrid-retrieval
    * fusion (rank-only, so scales of incomparable scorers never need
    * calibrating; rrfK = 60 per the paper). A doc missing from a list
    * simply contributes nothing — `n_lists` reports how many lists
    * carried each survivor.
    *
    * Oracle-exact: ranks are exact ints, each reciprocal is ONE IEEE
    * division, and the per-doc sum accumulates through DECIMAL(18,12)
    * (the bm25/dsum convention) so partial-sum order cannot diverge;
    * ties break by id. Shape: a union of fixed-width (q, id, rk) rows —
    * each input is DEFENSIVELY clipped to `rank <= maxRank` (default
    * 1000; an accidentally unbounded ranking would otherwise fuse the
    * whole corpus per query) — one hash agg and one per-query window
    * over ≤ Σ maxRank rows per query. Inputs must share the
    * (queryCol, idCol, rankCol) columns, and query/id columns must be
    * integral (string UUIDs would cast to NULL and collapse every row
    * into one (null,null) group — hash them to longs first).
    */
  def rrfFuse(
      rankings: Seq[DataFrame], queryCol: String, idCol: String,
      rankCol: String, k: Int, rrfK: Int = 60,
      maxRank: Int = 1000): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(rrfK >= 1, s"rrfK must be positive: $rrfK")
    require(maxRank >= k, s"maxRank $maxRank < k $k")
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    rankings.foreach { df =>
      Seq(queryCol, idCol).foreach { c =>
        val dt = df.schema(c).dataType
        require(integral.contains(dt),
          s"rrfFuse: column `$c` must be an integral type, got $dt — " +
            "a non-numeric id would cast to NULL and silently collapse " +
            "rows; hash string ids to longs (xxhash64) before fusing")
      }
    }
    val unioned = rankings.map(df => df
        .filter(col(rankCol) <= maxRank)
        .select(
          col(queryCol).cast("long").as("q"),
          col(idCol).cast("long").as("id"),
          col(rankCol).cast("long").as("rk")))
      .reduce(_ unionByName _)
    val fused = unioned
      .select(col("q"), col("id"),
        (lit(1.0) / (lit(rrfK).cast("double") + col("rk").cast("double")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 12)).as("c"))
      .groupBy("q", "id")
      .agg(sum("c").as("s"), count(lit(1)).as("n_lists"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q")
      .orderBy(col("s").desc, col("id").asc)
    fused.withColumn("rrf_rk", row_number().over(w))
      .filter(col("rrf_rk") <= k)
      .select(col("q").as(queryCol), col("rrf_rk").as("rk"),
        col("id").as(idCol), col("s").cast("double").as("rrf"),
        col("n_lists"))
  }

  /** nDCG rank discounts `1/log2(r+1)` for r in 1..k, computed ONCE at
    * the driver and quantized to 12 decimal places — the injected-
    * literal pattern (t13): both the Spark plan and the DuckDB oracle
    * receive these as identical DECIMAL(18,12) literals, so libm log2
    * never runs in either engine and parity is by construction.
    */
  def ndcgDiscounts(k: Int): IndexedSeq[java.math.BigDecimal] =
    (1 to k).map { r =>
      new java.math.BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
        .setScale(12, java.math.RoundingMode.HALF_EVEN)
    }

  /** `CASE <rankCol> WHEN 1 THEN <disc(1)> … END` over the injected
    * discount literals — SQL text valid verbatim in BOTH Spark and
    * DuckDB, so the two engines evaluate the identical expression.
    */
  def ndcgDiscountCaseSql(rankCol: String, k: Int): String =
    ndcgDiscounts(k).zipWithIndex.map { case (d, i) =>
      s"WHEN ${i + 1} THEN CAST($d AS DECIMAL(18,12))"
    }.mkString(s"CASE $rankCol ", " ", " END")

  /** Ideal-DCG prefix sums as the same CASE-literal device: `IDCG(m)` =
    * `Σ_{i=1..m} disc(i)` for `m = least(n_rel, k)` — exact BigDecimal
    * sums of the quantized discounts, scale 12.
    */
  def idcgCaseSql(mCol: String, k: Int): String = {
    val prefix = ndcgDiscounts(k)
      .scanLeft(java.math.BigDecimal.ZERO)(_ add _).tail
    prefix.zipWithIndex.map { case (p, i) =>
      s"WHEN ${i + 1} THEN CAST($p AS DECIMAL(18,12))"
    }.mkString(s"CASE $mCol ", " ", " END")
  }

  /** Retrieval-quality metrics — recall@k, MRR, and nDCG@k of a ranked
    * result frame against a binary relevance set (Järvelin & Kekäläinen
    * 2002 for nDCG; the standard eval triple a user tunes nProbe / k /
    * fusion weights against). Per labeled query:
    *  - `recall` = hits@k / n_rel — two exact longs, ONE IEEE division;
    *  - `rr` = 1/rank of the first relevant hit (0 when none in top-k) —
    *    one division of exact ints, whose mean over queries is MRR;
    *  - `ndcg` = DCG@k / IDCG@k with binary gains: DCG sums the
    *    [[ndcgDiscountCaseSql injected discount literals]] at the hit
    *    ranks through DECIMAL (exact, order-independent), IDCG is the
    *    [[idcgCaseSql prefix-sum CASE]] at `least(n_rel, k)`, and the
    *    quotient is ONE division of two exactly-represented decimals —
    *    the whole chain is oracle-mirrorable bit-for-bit because no
    *    transcendental ever evaluates at query time.
    *
    * Queries are the LABELED set: a result query with no relevance rows
    * is dropped (metrics are undefined without labels); a labeled query
    * missing from results scores 0 across the board. Duplicate
    * (query, id) relevance rows must be pre-deduped by the caller.
    *
    * Shape at 100 TB: results are already bounded top-k per query and
    * the relevance set is eval-suite-sized — one equi-join on
    * (query, id), two partial-aggregated rollups keyed by query, and a
    * broadcast-friendly final join. Nothing scales with the corpus.
    */
  def retrievalMetrics(
      results: DataFrame, relevance: DataFrame,
      queryCol: String, idCol: String, rankCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val res = results.filter(col(rankCol) <= k)
      .select(col(queryCol).as("q"), col(idCol).as("id"),
        col(rankCol).cast("long").as("rk"))
    val rel = relevance.select(col(queryCol).as("q"), col(idCol).as("id"))
    val hitAgg = res.join(rel, Seq("q", "id"))
      .groupBy("q").agg(
        count(lit(1)).as("hits"),
        min("rk").as("first_rel_rk"),
        sum(expr(ndcgDiscountCaseSql("rk", k))).as("dcg"))
    val nRel = rel.groupBy("q").agg(count(lit(1)).as("n_rel"))
    nRel.join(hitAgg, Seq("q"), "left")
      .withColumn("m", least(col("n_rel"), lit(k.toLong)))
      .select(
        col("q").as(queryCol),
        col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_rel").cast("double")).as("recall"),
        coalesce(lit(1.0) / col("first_rel_rk").cast("double"), lit(0.0))
          .as("rr"),
        (coalesce(col("dcg").cast("double"), lit(0.0)) /
          expr(idcgCaseSql("m", k)).cast("double")).as("ndcg"))
  }

  /** Gain `2^rel − 1` for integer grades 0..`maxRel` as a CASE usable
    * verbatim in BOTH engines (the t13 injected-literal device); grades
    * beyond `maxRel` gain 0 — label them inside the declared scale.
    */
  def gainCaseSql(relCol: String, maxRel: Int): String =
    (0 to maxRel).map(r => s"WHEN $r THEN ${(1L << r) - 1}")
      .mkString(s"CASE $relCol ", " ", " ELSE 0 END")

  /** GRADED-relevance nDCG@k (Järvelin & Kekäläinen 2002 — the
    * TREC-qrel form above [[retrievalMetrics]]'s binary triple): gains
    * `2^rel − 1` ([[gainCaseSql]]), DCG = Σ gain·disc(rank) over the
    * top-k hits, IDCG = the same sum over the query's OWN grades in
    * ideal order (grade desc, id asc — data-dependent, unlike the
    * binary prefix-CASE), nDCG their quotient. Gains are exact longs,
    * discounts the [[ndcgDiscountCaseSql injected DECIMAL literals]],
    * products/sums stay in DECIMAL, and the only IEEE operation is the
    * final division — so the whole chain mirrors in DuckDB bit-for-bit.
    *
    * Queries with no positive-grade label are dropped (nDCG undefined);
    * a labeled query missing from results scores dcg 0, ndcg 0.
    * Shape: results are bounded top-k, labels eval-suite-sized — one
    * (query, id) equi-join, one label-side window for the ideal order,
    * two query-keyed rollups. Nothing scales with the corpus.
    */
  def gradedNdcg(
      results: DataFrame, relevance: DataFrame,
      queryCol: String, idCol: String, rankCol: String, relCol: String,
      k: Int, maxRel: Int = 3): DataFrame = {
    require(k >= 1 && maxRel >= 1 && maxRel <= 16,
      s"bad shape: k=$k maxRel=$maxRel")
    val res = results.filter(col(rankCol) <= k)
      .select(col(queryCol).as("q"), col(idCol).as("id"),
        col(rankCol).cast("long").as("rk"))
    val rel = relevance
      .select(col(queryCol).as("q"), col(idCol).as("id"),
        col(relCol).cast("long").as("rel"))
      .filter(col("rel") > 0)
    val gain = s"CAST((${gainCaseSql("rel", maxRel)}) AS DECIMAL(6, 0))"
    val dcgAgg = res.join(rel, Seq("q", "id"))
      .select(col("q"),
        expr(s"$gain * ${ndcgDiscountCaseSql("rk", k)}").as("g"))
      .groupBy("q").agg(sum("g").as("dcg"))
    val wIdeal = Window.partitionBy("q")
      .orderBy(col("rel").desc, col("id").asc)
    val idcgAgg = rel.withColumn("ir", row_number().over(wIdeal))
      .filter(col("ir") <= k)
      .select(col("q"),
        expr(s"$gain * ${ndcgDiscountCaseSql("ir", k)}").as("g"))
      .groupBy("q").agg(sum("g").as("idcg"))
    val nRel = rel.groupBy("q").agg(count(lit(1)).as("n_rel"))
    nRel.join(dcgAgg, Seq("q"), "left").join(idcgAgg, Seq("q"))
      .select(col("q").as(queryCol), col("n_rel"),
        coalesce(col("dcg"), lit(0)).cast("double").as("dcg"),
        col("idcg").cast("double").as("idcg"),
        (coalesce(col("dcg"), lit(0)).cast("double") /
          col("idcg").cast("double")).as("ndcg"))
  }

  /** CCNet-style language-model quality signal per document: mean token
    * surprisal under a unigram LM trained on a reference slice of the
    * SAME corpus (Wenzek et al. 2020 bucket Common Crawl by the
    * perplexity of a Wikipedia-trained KenLM; the unigram rung is the
    * in-engine, oracle-checkable analogue — low bits/token ≈ head-like
    * fluent text, high ≈ tail/noise).
    *
    * Surprisal is quantized to WHOLE BITS by integer-only arithmetic:
    * `bits(tok) = length(bin(ref_total div cnt(tok)))` = floor(log2) + 1
    * of the inverse relative frequency. No `ln` ever runs, so the score
    * is exact and the DuckDB oracle matches bit-for-bit (libm `log`
    * rounding differs across engines — same reason t10 uses a lift ratio
    * instead of idf). Unseen tokens back off to hapax count 1 — the
    * maximum observable surprisal, as in add-one smoothing.
    *
    * Shape at 100 TB: the reference counts are a partial-aggregated
    * (token, cnt) rollup of the ref slice; scoring explodes each doc once
    * and equi-joins on token — like t10 this is the one shuffle carrying
    * strings, with single-row build sides per token, so AQE's skew split
    * handles hot heads. The ref-total is one broadcast row. Docs with no
    * tokens (or null text) survive via the final left join with
    * `n_tok = 0` and a NULL score.
    */
  def surprisalPerDoc(
      df: DataFrame, idCol: String, textCol: String,
      refFilter: Column): DataFrame =
    surprisalWithCounts(df, idCol, textCol,
      tokenCounts(df.filter(refFilter), textCol))

  /** The `(token, cnt)` unigram rollup every LM rung scores against —
    * one exploded pass with map-side partials; exposed so standing
    * corpora can derive it once, fold it incrementally
    * ([[graft.tools.CorpusMaintain.foldTokenCounts]]), and freeze it at
    * a release-series base cut.
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** [[surprisalPerDoc]] against a PRE-BUILT `(token, cnt)` unigram
    * table — the standing-corpus shape: under continuous ingest the
    * counts fold incrementally ([[graft.tools.CorpusMaintain
    * .foldTokenCounts]]) and scoring never recounts the reference
    * slice, mirroring how a saved IvfModel serves queries without
    * retraining.
    */
  def surprisalWithCounts(
      df: DataFrame, idCol: String, textCol: String,
      refCnt: DataFrame): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("token"))
    val total = broadcast(refCnt.agg(sum("cnt").as("ref_total")))
    val scored = toks
      .join(refCnt, Seq("token"), "left")
      .crossJoin(total)
      .select(col(idCol), col("ref_total"),
        coalesce(col("cnt"), lit(1L)).as("cnt1"))
      // `div` (not `/`): integer division keeps the whole pipeline in
      // exact long arithmetic; `/` would detour through doubles
      .select(col(idCol),
        length(bin(expr("ref_total div cnt1"))).cast("long").as("bits"))
      .groupBy(idCol)
      .agg(sum("bits").as("sum_bits"), count(lit(1)).as("n_tok"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        when(coalesce(col("n_tok"), lit(0L)) === 0L, lit(null))
          .otherwise(col("sum_bits").cast("double") / col("n_tok"))
          .cast("double").as("bits_per_token"))
  }

  /** The KenLM rung above [[surprisalPerDoc]]: CONDITIONAL bigram
    * surprisal — `bits(w2 | w1) = length(bin(cnt(w1) div cnt(w1 w2)))`,
    * floor(log2)+1 of the inverse conditional frequency under a bigram LM
    * of the reference slice. Context makes the signal sharper than the
    * unigram rung: "the the" scores high (frequent words, rare pair)
    * where t16 scores it low. Same integer-only whole-bit arithmetic, so
    * the DuckDB oracle matches bit-for-bit — no libm ever runs.
    *
    * Backoff: an UNSEEN BIGRAM whose context w1 IS in the reference backs
    * off to hapax (`cnt2 = 1` → ratio = cnt(w1)) — the maximum observable
    * surprisal given that context, mirroring t16's unseen-token rule; an
    * unseen CONTEXT degenerates to `1 div 1` = 1 bit (the reference
    * carries no evidence about that context at all). `cnt2 ≤ cnt1` always
    * holds when both are present (every bigram occurrence contains a w1
    * occurrence), so the ratio is ≥ 1 and bits ≥ 1.
    *
    * Shape at 100 TB: two reference rollups (unigram contexts + bigram
    * pairs, both partial-aggregated, vocabulary-sized); scoring explodes
    * each doc's adjacent-pair list once and equi-joins TWICE — on the
    * bigram for cnt2, then on the pair's first word for cnt1 (the second
    * join cannot pre-merge into the first: a doc bigram absent from the
    * reference still needs its context's count). Both joins are
    * string-keyed with single-row build sides; AQE's skew split absorbs
    * hot contexts. The first token of each doc has no context, so
    * `n_pairs = n_tok − 1`; docs with < 2 tokens survive the final left
    * join with `n_pairs = 0` and a NULL score.
    */
  def bigramSurprisalPerDoc(
      df: DataFrame, idCol: String, textCol: String,
      refFilter: Column): DataFrame = {
    val ref = df.filter(refFilter)
    bigramSurprisalWithCounts(df, idCol, textCol,
      ref.select(explode(TextOps.tokens(col(textCol))).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("cnt")),
      ref.select(explode(TextOps.bigramList(col(textCol))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt")))
  }

  /** [[bigramSurprisalPerDoc]] against PRE-BUILT `(w1|token, cnt)`
    * unigram and `(bigram, cnt)` tables — the standing-corpus shape:
    * under continuous ingest both tables fold incrementally
    * ([[graft.tools.CorpusMaintain.foldTokenCounts]] /
    * `foldBigramCounts`) and scoring never recounts the reference
    * slice. The unigram table is the surprisal table's schema with the
    * token column named either `w1` or `token` (the context IS a token).
    */
  def bigramSurprisalWithCounts(
      df: DataFrame, idCol: String, textCol: String,
      uniCnt: DataFrame, biCnt: DataFrame): DataFrame = {
    val uniCol = if (uniCnt.columns.contains("w1")) "w1" else "token"
    val uni = uniCnt.select(col(uniCol).as("w1"), col("cnt").as("cnt1"))
    val bi = biCnt.select(col("bigram"), col("cnt").as("cnt2"))
    val scored = df
      .select(col(idCol), explode(TextOps.bigramList(col(textCol))).as("bigram"))
      .join(bi, Seq("bigram"), "left")
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .join(uni, Seq("w1"), "left")
      .select(col(idCol),
        coalesce(col("cnt1"), lit(1L)).as("c1"),
        coalesce(col("cnt2"), lit(1L)).as("c2"))
      // `div`, not `/`: stay in exact long arithmetic end to end
      .select(col(idCol),
        length(bin(expr("c1 div c2"))).cast("long").as("bits"))
      .groupBy(idCol)
      .agg(sum("bits").as("sum_bits"), count(lit(1)).as("n_pairs"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(coalesce(col("n_pairs"), lit(0L)) === 0L, lit(null))
          .otherwise(col("sum_bits").cast("double") / col("n_pairs"))
          .cast("double").as("bits_per_pair"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995 / Chen &
    * Goodman 1998, absolute discount D = 3/4) quantized to WHOLE BITS —
    * the properly-SMOOTHED rung above [[bigramSurprisalPerDoc]]'s
    * hapax-backoff heuristic: unseen pairs score by the continuation
    * probability (how many distinct contexts w2 follows — "Francisco"
    * is common but only ever follows "San", so KN scores it unlikely in
    * a NEW context, which raw counts get exactly backwards).
    *
    * The whole statistic stays in exact longs: with D = 3/4,
    * `p(w2|w1) = max(c12 − 3/4, 0)/c1 + λ(w1)·Pcont(w2)` clears its
    * rational denominators to `num / (4·c1·ntot)` where
    * `num = (4·c12 − 3)·ntot + 3·n1w1·nc2` (seen pair) or
    * `3·n1w1·nc2` (unseen pair, seen context) — c1 = Σ pair counts of
    * the context, n1w1 = distinct continuations of w1, nc2 = distinct
    * contexts of w2, ntot = distinct pair types (so Σ_w2 p = 1
    * exactly). `bits = length(bin(den div num))` — no `ln`, no float
    * sum, the t16/t20 discipline; the DuckDB oracle mirrors the
    * arithmetic CASE for CASE. Conventions: unseen CONTEXT scores 1
    * bit (t20's backstop), an unseen-continuation zero numerator
    * clamps to the maximum representable surprisal
    * `length(bin(den))`. Magnitudes hold while 4·c1·ntot < 2^63 —
    * pre-scale ntot beyond ~10^9 contexts·types.
    *
    * Shape: THE t20 shape — pair/context/continuation tables are
    * partial-agg rollups of the reference slice (type-cardinality
    * sized), scoring explodes each doc's adjacent pairs once and
    * equi-joins the three tables (AQE absorbs hot heads — rehearsed in
    * scaleprobe_r9's skew case), ntot broadcasts as one row.
    */
  def knBigramPerDoc(
      df: DataFrame, idCol: String, textCol: String,
      refFilter: Column): DataFrame = {
    // r16 note: checkpointing pairCnt (and tri/big in the trigram op)
    // was measured and REJECTED — t37 1.82 -> ~2.0 s, t35 ~flat at
    // sf0.1 in matched windows: the reference-vocab rollups are cheap
    // with the fused NGramList kernels, and materializing them replaces
    // broadcast-size estimates with larger checkpoint stats, demoting
    // the scoring joins. The multi-derivation stays the cheaper plan.
    val pairCnt = df.filter(refFilter)
      .select(explode(TextOps.bigramList(col(textCol))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c12"))
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
    val ctx = pairCnt.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1w1"))
    val cont = pairCnt.groupBy("w2").agg(count(lit(1)).as("nc2"))
    val ntot = broadcast(pairCnt.agg(count(lit(1)).as("ntot")))
    val scored = df
      .select(col(idCol),
        explode(TextOps.bigramList(col(textCol))).as("bigram"))
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
      .join(pairCnt.select("bigram", "c12"), Seq("bigram"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(ntot)
      .withColumn("num",
        coalesce((lit(4L) * col("c12") - 3L) * col("ntot"), lit(0L)) +
          lit(3L) * col("n1w1") * coalesce(col("nc2"), lit(0L)))
      .withColumn("den", lit(4L) * col("c1") * col("ntot"))
      .select(col(idCol),
        when(col("c1").isNull, lit(1L)) // unseen context: 1 bit
          .when(col("num") > 0,
            length(bin(expr("den div num"))).cast("long"))
          .otherwise(length(bin(col("den"))).cast("long")) // p -> 0 clamp
          .as("bits"))
      .groupBy(idCol)
      .agg(sum("bits").as("sum_bits"), count(lit(1)).as("n_pairs"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(coalesce(col("n_pairs"), lit(0L)) === 0L, lit(null))
          .otherwise(col("sum_bits").cast("double") / col("n_pairs"))
          .cast("double").as("bits_per_pair"))
  }

  /** Interpolated Kneser–Ney TRIGRAM scoring (Chen & Goodman 1998, the
    * recursion [[knBigramPerDoc]] runs one order below; production
    * KenLM filtering is this shape continued to 5-grams) quantized to
    * WHOLE BITS in exact longs. The trigram probability interpolates
    * through the bigram-level continuation distribution:
    *
    * `p(w3|w1w2) = max(c123 − D,0)/c12 + D·n3/c12 · p2(w3|w2)`,
    * `p2(w3|w2)  = max(b23 − D,0)/m2  + D·f2/m2  · nc3/nbt`,
    *
    * with D = 3/4; c123/c12 = trigram count and its context total,
    * n3 = distinct continuations of (w1,w2), b23 = N1+(·w2w3) distinct
    * predecessors of the bigram, m2 = N1+(·w2·) trigram types with
    * middle w2, f2 = distinct successors of w2 (bigram types),
    * nc3 = N1+(·w3), nbt = total bigram types. Clearing denominators:
    * `num = 4·A·m2·nbt + 3·n3·B`, `den = 16·c12·m2·nbt` with
    * `A = max(4·c123−3, 0)` and `B = max(4·b23−3,0)·nbt + 3·f2·nc3` —
    * all EXACT longs, `bits = length(bin(den div num))`, zero-numerator
    * clamps to `length(bin(den))` (the t35 conventions). Backoff
    * ladder: unseen (w1,w2) trigram context falls to the CLEARED
    * bigram-continuation rational `B/(4·m2·nbt)` when w2 is a known
    * trigram middle, else to the 1-bit backstop (t20's convention).
    * Magnitudes hold while 16·c12·m2·nbt < 2^63 — pre-scale beyond
    * ~10^4 context count × 10^7 types·types; the oracle mirrors the
    * arithmetic CASE for CASE.
    *
    * Shape: the t35 shape one order up — FIVE type-cardinality-sized
    * partial-agg rollups of the reference slice (tri, ctx12, mid, big
    * firsts, big seconds), nbt broadcast as one row. Scoring is
    * factored by TYPE: bits depend only on the trigram string, so the
    * factor joins run over the corpus's DISTINCT doc-side trigrams
    * (type-cardinality × type-cardinality, never occurrences), and the
    * occurrence-sized side takes exactly ONE shuffle — a per-doc
    * (trigram, cnt) rollup joined to the typed bits table, with
    * `sum_bits = Σ cnt·bits`. At sf0.1 types ≈ occurrences so the
    * local win is modest (~7%); at 100 TB the type/occurrence ratio
    * and within-doc repetition are what keep the join stages bounded.
    */
  def knTrigramPerDoc(
      df: DataFrame, idCol: String, textCol: String,
      refFilter: Column): DataFrame = {
    // r15: an input spread (Tables.spreadIfNarrow) was measured here and
    // REJECTED: with the fused NGramList expression the rollup map sides
    // are linear and cheap, and the added text exchange made both KN ops
    // slower (t37 3.58 s spread vs 1.98 s unspread; t35 2.54 vs 1.80 at
    // sf0.1/32 cores). The former 5–11 s single-task stages were the
    // O(|doc|²) interpreted trigram HOF, not missing parallelism.
    val ref = df.filter(refFilter)
    val tri = ref
      .select(explode(TextOps.trigramList(col(textCol))).as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).as("c123"))
      .withColumn("w1", element_at(split(col("trigram"), " "), 1))
      .withColumn("w2", element_at(split(col("trigram"), " "), 2))
      .withColumn("w3", element_at(split(col("trigram"), " "), 3))
    val ctx12 = tri.groupBy("w1", "w2")
      .agg(sum("c123").as("c12"), count(lit(1)).as("n3"))
    val b23t = tri.groupBy("w2", "w3").agg(count(lit(1)).as("b23"))
    val mid = tri.groupBy("w2").agg(count(lit(1)).as("m2"))
    val big = ref
      .select(explode(TextOps.bigramList(col(textCol))).as("bigram"))
      .select(element_at(split(col("bigram"), " "), 1).as("b1"),
        element_at(split(col("bigram"), " "), 2).as("b2"))
      .distinct()
    val f2t = big.groupBy(col("b1").as("w2")).agg(count(lit(1)).as("f2"))
    val nc3t = big.groupBy(col("b2").as("w3")).agg(count(lit(1)).as("nc3"))
    val nbt = broadcast(big.agg(count(lit(1)).as("nbt")))
    val docTri = df
      .select(col(idCol),
        explode(TextOps.trigramList(col(textCol))).as("trigram"))
      .groupBy(col(idCol), col("trigram"))
      .agg(count(lit(1)).as("cnt"))
    val typeBits = docTri.select("trigram").distinct()
      .withColumn("w1", element_at(split(col("trigram"), " "), 1))
      .withColumn("w2", element_at(split(col("trigram"), " "), 2))
      .withColumn("w3", element_at(split(col("trigram"), " "), 3))
      .join(tri.select("trigram", "c123"), Seq("trigram"), "left")
      .join(ctx12, Seq("w1", "w2"), "left")
      .join(b23t, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(f2t, Seq("w2"), "left")
      .join(nc3t, Seq("w3"), "left")
      .crossJoin(nbt)
      .withColumn("bnum",
        coalesce((lit(4L) * col("b23") - 3L) * col("nbt"), lit(0L)) +
          lit(3L) * col("f2") * coalesce(col("nc3"), lit(0L)))
      .withColumn("num",
        lit(4L) * coalesce(lit(4L) * col("c123") - 3L, lit(0L)) *
          col("m2") * col("nbt") + lit(3L) * col("n3") * col("bnum"))
      .withColumn("den",
        lit(16L) * col("c12") * col("m2") * col("nbt"))
      .withColumn("bden", lit(4L) * col("m2") * col("nbt"))
      .select(col("trigram"),
        when(col("c12").isNotNull,
          when(col("num") > 0,
            length(bin(expr("den div num"))).cast("long"))
            .otherwise(length(bin(col("den"))).cast("long")))
          .when(col("m2").isNotNull,
            when(col("bnum") > 0,
              length(bin(expr("bden div bnum"))).cast("long"))
              .otherwise(length(bin(col("bden"))).cast("long")))
          .otherwise(lit(1L)) // unseen everywhere: the 1-bit backstop
          .as("bits"))
    val scored = docTri
      .join(typeBits, Seq("trigram"))
      .groupBy(idCol)
      .agg(sum(col("cnt") * col("bits")).as("sum_bits"),
        sum(col("cnt")).as("n_tri"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(coalesce(col("n_tri"), lit(0L)) === 0L, lit(null))
          .otherwise(col("sum_bits").cast("double") / col("n_tri"))
          .cast("double").as("bits_per_tri"))
  }

  /** CCNet's head/middle/tail split: bucket documents by surprisal
    * terciles ([[surprisalPerDoc]]) — Wenzek et al. 2020 release Common
    * Crawl in exactly these three perplexity bands, and downstream
    * pipelines keep head+middle or re-weight by band. Zero-token docs
    * are unscoreable and excluded (they are d-tier/gopher prey anyway).
    *
    * Same scale shape as the p08 quartiles: global EXACT percentile cuts
    * (one broadcast row; exact is the oracle config — swap
    * `approx_percentile`'s mergeable t-digest at 100 TB) then bucketing
    * as a pure map over the scored frame.
    */
  def surprisalBuckets(
      df: DataFrame, idCol: String, textCol: String,
      refFilter: Column): DataFrame = {
    val s = surprisalPerDoc(df, idCol, textCol, refFilter)
      .filter(col("n_tok") > 0)
    val cuts = s.agg(
      percentile(col("bits_per_token"), lit(1.0 / 3)).as("c1"),
      percentile(col("bits_per_token"), lit(2.0 / 3)).as("c2"))
    s.crossJoin(broadcast(cuts))
      .select(col(idCol), col("bits_per_token"),
        when(col("bits_per_token") <= col("c1"), "head")
          .when(col("bits_per_token") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank raw-corpus
    * documents by how much more likely a TARGET-domain unigram LM finds
    * them than the raw-corpus LM — `log2 w(doc) = Σ_tok (bits_raw −
    * bits_target)`, the whole-bit analogue of DSIR's log importance
    * weight (bits ≈ −log2 p, quantized by the same integer-only
    * `length(bin(total div cnt))` as [[surprisalPerDoc]], so the score
    * is oracle-exact — no libm). Positive = target-like, negative =
    * raw-like. DSIR proper adds Gumbel noise before the top-k; this is
    * the deterministic (seedless, retry-stable) variant — compose with
    * [[seededShuffle]]'s md5 keys for a randomized draw.
    *
    * Shape: two (token, cnt) rollups (target slice + raw slice), outer-
    * joined into one per-token bit-delta table — one string-keyed
    * shuffle, single-row build sides, AQE-split hot heads — then the
    * scoring explode + equi-join + per-doc sum, as in surprisalPerDoc.
    * Tokens unseen in EITHER slice back off to hapax on that side only.
    * With `bigrams = true` the feature space is unigrams ∪ adjacent
    * word bigrams (the paper's hashed n-gram features) and `n_tok`
    * counts features (2n−1 per n-token doc).
    */
  def dsirWeights(
      df: DataFrame, idCol: String, textCol: String,
      targetFilter: Column, rawFilter: Column,
      bigrams: Boolean = false): DataFrame = {
    // feature multiset per doc: unigrams, or — per the DSIR paper's
    // hashed n-gram features — unigrams ∪ adjacent word bigrams in ONE
    // shared count space (bigrams catch the phrase-level signal a bag
    // of words misses; at 100 TB the feature strings hash-bucket the
    // same way either side)
    def feats(text: Column): Column =
      if (!bigrams) TextOps.tokens(text)
      else {
        val t = TextOps.tokens(text)
        concat(t, zip_with(
          slice(t, lit(1), greatest(size(t) - 1, lit(0))),
          slice(t, lit(2), greatest(size(t) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)))
      }
    def cnts(f: Column, cn: String, tn: String): (DataFrame, DataFrame) = {
      val c = df.filter(f)
        .select(explode(feats(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1)).as(cn))
      (c, broadcast(c.agg(sum(cn).as(tn))))
    }
    val (tc, tTot) = cnts(targetFilter, "cnt_t", "total_t")
    val (rc, rTot) = cnts(rawFilter, "cnt_r", "total_r")
    val delta = tc.join(rc, Seq("token"), "full")
      .crossJoin(tTot).crossJoin(rTot)
      .select(col("token"), col("total_t"), col("total_r"),
        coalesce(col("cnt_t"), lit(1L)).as("ct"),
        coalesce(col("cnt_r"), lit(1L)).as("cr"))
      .select(col("token"),
        (length(bin(expr("total_r div cr"))).cast("long") -
          length(bin(expr("total_t div ct"))).cast("long")).as("dbits"))
    val scored = df
      .select(col(idCol), explode(feats(col(textCol))).as("token"))
      .join(delta, Seq("token"), "left")
      // a token absent from BOTH slices (possible only for docs outside
      // them) carries no evidence for either domain and scores a neutral
      // 0 — deliberately NOT the hapax-vs-hapax backoff, whose value
      // would be the log2 ratio of the slice sizes, an artifact
      .groupBy(idCol)
      .agg(sum(coalesce(col("dbits"), lit(0L))).as("log2_w"),
        count(lit(1)).as("n_tok"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("log2_w"), lit(0L)).as("log2_w"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"))
  }

  /** Gopher-style repetition quality signals per document:
    * `top_tok_frac` (share of the most frequent token — boilerplate and
    * keyword-stuffing detector) and `dup_bigram_frac` (1 - distinct/total
    * bigrams — copy-paste repetition detector). Filtering on these is the
    * standard pre-training cleanup after dedup.
    *
    * Shape: ONE fused codegen'd pass per document
    * ([[graft.functions.TokenStatsExpr]]) computes all three counts in the
    * scan stage — a pure map over the corpus, no explode, no shuffle (the
    * r2 formulation exploded every corpus token through an exchange and
    * two aggregations; same lesson as the r3 signature fusions, SURVEY §5).
    * Fractions are single divisions of exact integers (oracle-stable).
    *
    * The empty-document filter runs on the raw text BEFORE the stats
    * projection (all-space text has zero tokens) rather than on
    * `st.n_tok`, so predicate pushdown can never duplicate the fused
    * expression into a Filter below the projection.
    */
  def repetitionScores(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        graft.functions.TextExpressions.tokenStats(col(textCol)).as("st"))
      .select(col(idCol),
        col("st.n_tok").as("n_tok"),
        col("st.top_tok_n").as("top_tok_n"),
        (col("st.top_tok_n").cast("double") / col("st.n_tok")).as("top_tok_frac"),
        col("st.n_uniq_bigram").as("n_uniq_bigram"),
        when(col("st.n_tok") > 1,
            lit(1.0) - col("st.n_uniq_bigram").cast("double") / (col("st.n_tok") - 1))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))

  /** Deterministic stratified downsampling: keep `sixteenths(stratum)/16`
    * of each stratum's rows (default `defaultSixteenths` for unlisted
    * strata), decided by a hash nibble of the id — the rebalancing step
    * that turns a source-skewed crawl into a target language/domain mix.
    *
    * Pure per-row projection: no shuffle, no RNG (rand() changes on retry
    * and repartition), stable as the corpus grows. Uses md5 nibble 31,
    * deliberately decorrelated from [[splitLabel]]'s nibble 32 so sampling
    * never biases train/val/test membership.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      sixteenths: Map[String, Int],
      defaultSixteenths: Int = 16): DataFrame = {
    require((sixteenths.values ++ Seq(defaultSixteenths)).forall(k => k >= 0 && k <= 16))
    val nib = substring(md5(col(idCol).cast("string")), 31, 1)
    def keep(k: Int): Column =
      if (k >= 16) lit(true)
      else if (k <= 0) lit(false)
      else nib.isInCollection("0123456789abcdef".take(k).map(_.toString))
    val cond = sixteenths.foldLeft(keep(defaultSixteenths)) {
      case (els, (stratum, k)) =>
        when(col(strataCol) === stratum, keep(k)).otherwise(els)
    }
    df.filter(cond)
  }

  /** Exact per-stratum QUOTA sampling: exactly `quotas(stratum)` rows per
    * stratum (all of them if the stratum is smaller), chosen
    * deterministically as the quota-smallest (md5(id), id) keys — "give me
    * 5k eval docs per language" where [[stratifiedSample]]'s rates give
    * proportions, not counts. Content-independent and stable under
    * retries, growth reshuffles nothing already chosen out.
    *
    * Scale shape: a naive `row_number() OVER (PARTITION BY stratum ORDER
    * BY hash)` sorts the WHOLE corpus through one task per stratum. Here
    * phase 1 keeps each input partition's quota-smallest keys per stratum
    * in a bounded heap (mapPartitions, NO shuffle, memory =
    * strata × quota per task) — every global winner is necessarily one of
    * its partition's local winners — and phase 2 ranks only the
    * ≤ partitions × quota survivors per stratum. The full-corpus window
    * never happens.
    */
  def quotaSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      quotas: Map[String, Int],
      defaultQuota: Int = 0): DataFrame = {
    require((quotas.values ++ Seq(defaultQuota)).forall(_ >= 0))
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df.select(col(idCol).cast("long").as("id"),
      col(strataCol).cast("string").as("stratum"),
      md5(col(idCol).cast("string")).as("h"))
    val quotaMap = quotas // stable closure capture
    val dflt = defaultQuota
    val local = hashed.as[(Long, String, String)].mapPartitions { it =>
      val ord = Ordering[(String, Long)] // max-heap: root = worst kept key
      val heaps = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.PriorityQueue[(String, Long)]]
      it.foreach { case (id, s, h) =>
        val q = quotaMap.getOrElse(s, dflt)
        if (q > 0) {
          val heap = heaps.getOrElseUpdate(s,
            scala.collection.mutable.PriorityQueue.empty[(String, Long)](ord))
          if (heap.size < q) heap.enqueue((h, id))
          else if (ord.lt((h, id), heap.head)) {
            heap.dequeue(); heap.enqueue((h, id))
          }
        }
      }
      heaps.iterator.flatMap { case (s, heap) =>
        heap.iterator.map { case (h, id) => (id, s, h) }
      }
    }.toDF("id", "stratum", "h")
    val w = Window.partitionBy("stratum").orderBy(col("h"), col("id"))
    val qCol = quotas.foldLeft(lit(defaultQuota)) {
      case (els, (s, q)) => when(col("stratum") === s, q).otherwise(els)
    }
    local.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= qCol)
      .select(col("id").as(idCol), col("stratum").as(strataCol))
  }

  /** Deterministic mixture upsampling: replicate each document
    * `epochs256(stratum)/256` times (fractional epochs resolved per-doc by
    * a hash byte — e.g. 640/256 = 2.5 epochs means every doc appears
    * twice and a stable pseudo-random half appear a third time). This is
    * the data-mixing step that turns per-source corpus weights into an
    * actual training stream; weights are 256ths so the arithmetic is
    * exact integers end-to-end.
    *
    * Pure per-row projection + generator — no shuffle, no RNG state: the
    * extra-epoch decision reads md5 hex chars 29–30 (decorrelated from
    * [[splitLabel]]'s nibble 32 and [[stratifiedSample]]'s 31, so mixing
    * never biases split membership or sampling). Output is one row per
    * (doc, epoch) with epoch in 1..reps; a zero weight drops the stratum.
    */
  def mixtureUpsample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      epochs256: Map[String, Int],
      default256: Int = 256): DataFrame = {
    require((epochs256.values ++ Seq(default256)).forall(_ >= 0))
    // hash byte in 0..255 from md5 hex chars 29-30 (engine-portable:
    // instr over the hex alphabet, identical in DuckDB)
    def nibble(pos: Int): Column =
      expr(s"instr('0123456789abcdef', " +
        s"substring(md5(cast(`$idCol` as string)), $pos, 1)) - 1")
    val hashByte = nibble(29) * 16 + nibble(30)
    val w256 = epochs256.foldLeft(lit(default256)) {
      case (els, (stratum, w)) => when(col(strataCol) === stratum, w).otherwise(els)
    }
    df.withColumn("__w", w256)
      .withColumn("reps",
        expr("__w div 256") + when(hashByte < col("__w") % 256, 1).otherwise(0))
      // sequence(1, 0) would step BACKWARDS ([1, 0]) — filter first
      .filter(col("reps") > 0)
      .select(col(idCol), col(strataCol),
        explode(sequence(lit(1), col("reps"))).as("e"))
      .select(col(idCol), col(strataCol), col("e").cast("long").as("epoch"))
  }

  /** Contiguous 0-based global row numbering in `idCol` order — the dense
    * offset assignment that gives a corpus stable sample ids for sharding,
    * packing, and shard-file naming.
    *
    * Scale shape: the obvious `row_number() OVER (ORDER BY id)` collapses
    * the whole corpus into ONE window task. Here the corpus is
    * range-partitioned and locally sorted (the same sampled-boundary
    * mechanism `orderBy` uses), each partition numbers its own rows with a
    * plain counter (mapPartitions — no further shuffle), and only the
    * per-partition row COUNTS (numPartitions longs) go through a prefix-sum
    * window before broadcasting back as exclusive offsets. The output is
    * identical for ANY sampled boundary placement: range partitions are
    * totally ordered, so offset(partition) + local index IS the global
    * rank — no recompute-sensitivity, no single-task sort of the data.
    */
  def contiguousIds(df: DataFrame, idCol: String): DataFrame =
    contiguousIdsBy(df.select(col(idCol).cast("long").as(idCol)),
      Seq(idCol), "rid")

  /** General form of [[contiguousIds]]: dense 0-based positions in the
    * lexicographic order of `orderCols` (all kept columns pass through).
    * Same scale shape — range partition on the order key, partition-local
    * counters, prefix-summed COUNTS broadcast back — which is what makes
    * multi-key orderings (curriculum order: quality bucket, then shuffle
    * hash) assignable without a one-task global window.
    */
  def contiguousIdsBy(
      df: DataFrame, orderCols: Seq[String], out: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val keys = orderCols.map(col)
    val ranged = df.repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
    val enc = org.apache.spark.sql.Encoders.row(
      df.schema.add("__pid", IntegerType).add("__lidx", LongType))
    // persist: counts pass + assignment pass share one materialization
    // (the r8 lazy-checkpoint insight: no dedicated job — the counts
    // aggregation materializes the blocks as a side effect). r10: PERSIST,
    // not lazy localCheckpoint — checkpointing truncates lineage, and a
    // GC-pressured ContextCleaner unpersisting the blocks between the two
    // consumer stages crashes the join stage with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (observed in ScaleProbe at 24 g
    // heap); persist keeps the lineage so a cleaned block recomputes
    // (deterministically — ranged shuffle + stable per-partition fold)
    // instead of failing
    val local = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var i = -1L
      it.map { r => i += 1; Row.fromSeq(r.toSeq :+ pid :+ i) }
    }(enc).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = local.groupBy("__pid").agg(count(lit(1)).as("cnt"))
    // prefix sum over numPartitions rows — tiny by construction, so the
    // single-task window here is fine at any corpus size
    val w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__off", coalesce(sum("cnt").over(w), lit(0L)))
    local.join(broadcast(offsets.select("__pid", "__off")), "__pid")
      .withColumn(out, col("__off") + col("__lidx"))
      .drop("__pid", "__lidx", "__off")
  }

  /** Curriculum training order: highest quality bucket first, a
    * deterministic hash shuffle within each bucket (no RNG — stable under
    * retries), dense 0-based positions via [[contiguousIdsBy]]. This is
    * the materialized read order a curriculum/annealing schedule consumes;
    * bucket-major order also means "train on the top bucket only" is a
    * position-range predicate, not a re-shuffle.
    */
  def curriculumOrder(df: DataFrame, idCol: String, textCol: String): DataFrame =
    contiguousIdsBy(
      qualityBuckets(df, idCol, textCol)
        .select(col(idCol), col("bucket"),
          (lit(3) - col("bucket")).as("bucket_rank"),
          md5(col(idCol).cast("string")).as("shuffle_key")),
      Seq("bucket_rank", "shuffle_key", idCol), "train_pos")
      .select(col(idCol), col("bucket"), col("train_pos"))

  /** Length-grouped batching (the padding-efficiency trick): order docs
    * by DESCENDING token count, cut into fixed-size batches of
    * `batchSize`, and report each batch's shape — n_docs, max/sum
    * tokens, and `padding` = n_docs·max − sum, the tokens a fixed-shape
    * tensor would waste on pad positions. Grouping similar lengths
    * together is what makes the waste small; the report is the
    * measurement a batch-size/seq-len tuning loop reads.
    *
    * Scale shape: the global descending rank comes from
    * [[contiguousIdsBy]] (range partition + partition-local counters +
    * broadcast offsets — never a one-task window); only (id, n_tok)
    * pairs move, and the per-batch rollup is an ordinary partial-agg
    * hash-agg over batch_id.
    */
  def lengthBatches(
      df: DataFrame, idCol: String, textCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val t = df.select(col(idCol),
      TextOps.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("__neg", -col("n_tok"))
    contiguousIdsBy(t, Seq("__neg", idCol), "__pos")
      .withColumn("batch_id", expr(s"__pos DIV $batchSize"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_docs"), max("n_tok").as("max_tok"),
        sum("n_tok").as("sum_tok"))
      .withColumn("padding",
        col("n_docs") * col("max_tok") - col("sum_tok"))
  }

  /** χ² test of independence between two categorical document columns
    * (language × source here) plus Cramér's V — the mixture-confounding
    * diagnostic a release card prints before trusting per-source or
    * per-language statistics: if language is NOT independent of source,
    * every "quality by source" number is partly a language effect (and
    * vice versa), and mixture reweighting on one axis silently moves
    * the other. V ∈ [0,1] normalizes χ² to table size so the strength
    * is comparable across corpora.
    *
    * Exactness: cell and margin counts are exact longs from ONE
    * (a, b) rollup; each cell's `(obs − exp)²/exp` with
    * `exp = rowTot·colTot/N` is ONE IEEE tree injected to
    * DECIMAL(18,6) and decimal-summed (cell terms are bounded by cell
    * counts — the small-magnitude regime where the e33 convention is
    * safe, unlike the 32bf15 hazard); χ², df, V are one fixed IEEE
    * expression. Zero-margin cells cannot occur (margins come from the
    * same rollup). df = (R−1)(C−1); degenerate single-row/column
    * tables yield NULL χ²/V.
    *
    * Shape: one fixed-width hash-agg (map-side combined), two margin
    * rollups of the R×C cell frame (bounded by category cardinality),
    * broadcast margins joined back, one global decimal sum. Nothing
    * after the first rollup scales with documents.
    *
    * NULL policy (r13): rows where either category is NULL are
    * excluded BEFORE the cell rollup — a χ² table has no "unknown"
    * margin, and the previous behavior (count NULL rows in N but drop
    * their cells at the margin joins, since equi-joins never match
    * NULL keys and countDistinct skips NULL) silently biased every
    * expected count on nullable data. n_docs now reports the
    * complete-case count the statistic is actually computed over.
    */
  def chi2Independence(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 6)
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"))
    val rowm = cells.groupBy("a").agg(sum("n").as("ra"))
    val colm = cells.groupBy("b").agg(sum("n").as("cb"))
    val tot = cells.agg(sum("n").as("nn"),
      countDistinct("a").as("r"), countDistinct("b").as("c"))
    cells
      .join(broadcast(rowm), "a")
      .join(broadcast(colm), "b")
      .crossJoin(broadcast(tot))
      .withColumn("__e",
        col("ra").cast("double") * col("cb").cast("double") /
          col("nn").cast("double"))
      .withColumn("__d", col("n").cast("double") - col("__e"))
      .withColumn("__t", (col("__d") * col("__d") / col("__e")).cast(dec))
      .groupBy("nn", "r", "c")
      .agg(sum("__t").as("__chi"))
      .select(col("nn").as("n_docs"), col("r").as("n_rows"),
        col("c").as("n_cols"),
        ((col("r") - 1) * (col("c") - 1)).as("df"),
        when(col("r") >= 2 && col("c") >= 2,
          col("__chi").cast("double")).as("chi2"),
        when(col("r") >= 2 && col("c") >= 2,
          sqrt(col("__chi").cast("double") /
            (col("nn") * least(col("r") - 1, col("c") - 1))
              .cast("double"))).as("cramers_v"))
  }

  /** Batch-size sweep over [[lengthBatches]]' padding-waste account —
    * the knob table a batch-shape tuning loop reads BEFORE pinning its
    * dataloader batch size (the d39/s22 measured-knob discipline
    * applied to batching): for each candidate size, the number of
    * batches, total pad tokens a fixed-shape tensor would waste, total
    * real tokens, and the waste fraction `pad / (pad + real)`.
    *
    * ONE ranked pass (the same no-global-window [[contiguousIdsBy]]
    * rank [[lengthBatches]] uses) serves every sweep point: the rank
    * explodes by the |sizes|-row sweep, and two bounded rollups do the
    * rest. All integer arithmetic + one IEEE division per sweep row.
    */
  def batchSizeSweep(df: DataFrame, idCol: String, textCol: String,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ > 0), s"bad sizes: $sizes")
    val t = df.select(col(idCol),
      TextOps.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("__neg", -col("n_tok"))
    contiguousIdsBy(t, Seq("__neg", idCol), "__pos")
      .select(col("n_tok"), col("__pos"),
        explode(array(sizes.map(s => lit(s.toLong)): _*)).as("batch_size"))
      .withColumn("__bid", expr("__pos div batch_size"))
      .groupBy("batch_size", "__bid")
      .agg(count(lit(1)).as("__nd"), max("n_tok").as("__mx"),
        sum("n_tok").as("__sm"))
      .groupBy("batch_size")
      .agg(count(lit(1)).as("n_batches"),
        sum(col("__nd") * col("__mx") - col("__sm")).as("total_padding"),
        sum("__sm").as("total_tok"))
      .withColumn("waste_frac",
        col("total_padding").cast("double") /
          (col("total_padding") + col("total_tok")).cast("double"))
  }

  /** Exclusive prefix sum of `weightCol` in the lexicographic order of
    * `orderCols`: row i gets the sum of all earlier rows' weights.
    * [[contiguousIdsBy]] generalized from counts to weights, same scale
    * shape — range partition on the order key, partition-local running
    * sums, per-partition TOTALS prefix-summed (numPartitions rows, the
    * only window) and broadcast back.
    */
  def prefixSumBy(
      df0: DataFrame, orderCols: Seq[String], weightCol: String,
      out: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // the partition-local fold reads the weight as a long; a narrower
    // integral column is widened up-front (fractional weights are
    // rejected rather than silently truncated)
    val wType = df0.schema(weightCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(wType),
      s"weight column '$weightCol' must be integral, got $wType")
    val df =
      if (wType == LongType) df0
      else df0.withColumn(weightCol, col(weightCol).cast(LongType))
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val keys = orderCols.map(col)
    val wi = df.schema.fieldIndex(weightCol)
    val ranged = df.repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
    val enc = org.apache.spark.sql.Encoders.row(
      df.schema.add("__pid", IntegerType).add("__lsum", LongType))
    // lazy for the same reason as contiguousIdsBy: the totals job
    // materializes the checkpoint, no dedicated pass
    val local = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = 0L
      it.map { r =>
        val before = acc
        acc += r.getLong(wi)
        Row.fromSeq(r.toSeq :+ pid :+ before)
      }
    }(enc).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = local.groupBy("__pid")
      .agg(sum(col(weightCol)).as("tot"))
    val w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__off", coalesce(sum("tot").over(w), lit(0L)))
    local.join(broadcast(offsets.select("__pid", "__off")), "__pid")
      .withColumn(out, col("__off") + col("__lsum"))
      .drop("__pid", "__lsum", "__off")
  }

  /** Agreement between two boolean gates as the full 2×2 contingency
    * plus Cohen's kappa — the release diagnostic that says whether two
    * quality filters measure the same thing or complement each other
    * (high kappa → one is redundant; near-zero → they screen different
    * failure modes). Kappa corrects raw agreement for chance:
    * `κ = (N·(a+d) − pe) / (N² − pe)` with
    * `pe = (a+b)(a+c) + (c+d)(b+d)` — every term an exact long from ONE
    * map-side-partial aggregation over the pair of flags, and the whole
    * statistic one division (bit-identical in any engine; magnitudes
    * hold while N² < 2^63, i.e. to ~3B rows). Degenerate marginals
    * (κ's denominator 0 — e.g. both gates constant) yield NULL.
    *
    * NULL policy: a NULL flag counts as FAIL (`coalesce(flag, false)`) —
    * a gate that abstained did not pass the document. Without the
    * coalesce, `null && x` rows would land in none of the four cells,
    * silently shrinking N and skewing κ.
    */
  def gateAgreement(
      df: DataFrame, flagA: Column, flagB: Column): DataFrame = {
    val c = df.select(coalesce(flagA.cast("boolean"), lit(false)).as("fa"),
        coalesce(flagB.cast("boolean"), lit(false)).as("fb"))
      .agg(
        sum(when(col("fa") && col("fb"), 1L).otherwise(0L)).as("a"),
        sum(when(col("fa") && !col("fb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("fa") && col("fb"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("fa") && !col("fb"), 1L).otherwise(0L)).as("d"))
    val n = col("a") + col("b") + col("c") + col("d")
    val pe = (col("a") + col("b")) * (col("a") + col("c")) +
      (col("c") + col("d")) * (col("b") + col("d"))
    c.select(col("a").as("both_pass"), col("b").as("only_a"),
      col("c").as("only_b"), col("d").as("both_fail"),
      when(n * n - pe =!= 0,
        ((n * (col("a") + col("d")) - pe).cast("double") /
          (n * n - pe).cast("double")))
        .otherwise(lit(null)).as("kappa"))
  }

  /** Split-conformal calibration of a quality gate (Vovk et al.;
    * Angelopoulos & Bates 2023 tutorial form): instead of hand-picking
    * a score cutoff, hold out a CALIBRATION slice, take q̂ = the
    * ⌈(n_cal+1)(1−α)⌉-th smallest calibration score, and flag test
    * rows with score > q̂ — by exchangeability the marginal flag rate
    * is ≤ α, distribution-free, whatever the score measures. This is
    * the principled version of every "where do I set the threshold"
    * decision the quality tier makes (t14/t19/t23 use fixed rules).
    *
    * Exactness: the score and the rank arithmetic are integers —
    * cum ≥ ⌈(n+1)·num/den⌉ is evaluated as den·cum ≥ num·(n+1), no
    * floating point anywhere until the final flag-rate division —
    * hash-exact against the oracle replaying the same construction.
    * An infeasible rank (k > n_cal, i.e. α too small for the slice)
    * reads q̂ = Long.MaxValue and flags nothing — the standard
    * conformal convention.
    *
    * Scale: the calibration order statistic is NOT a global sort — a
    * (score, count) rollup first (map-side combine; distinct integer
    * scores are bounded — permille-style scores have ≤ a few thousand
    * values), then the cumulative window runs over that bounded frame.
    * The test pass is one scan + group rollup against the broadcast
    * one-row threshold.
    */
  def conformalGate(
      df: DataFrame, score: Column, calib: Column, groupCol: String,
      covNum: Int = 9, covDen: Int = 10): DataFrame = {
    require(covNum > 0 && covDen > covNum,
      s"coverage num/den must satisfy 0 < $covNum < $covDen")
    val s = df.select(col(groupCol), score.cast("long").as("s"),
      calib.as("cal"))
    val whole = Window.partitionBy(lit(1))
    val cum = s.filter(col("cal")).groupBy("s")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(whole.orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_cal", sum("c").over(whole))
    val thr = cum.agg(coalesce(
      min(when(col("cum") * covDen >= (col("n_cal") + 1) * covNum,
        col("s"))),
      lit(Long.MaxValue)).as("threshold"))
    s.filter(!col("cal"))
      .crossJoin(broadcast(thr))
      .groupBy(groupCol, "threshold")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("s") > col("threshold"), 1L).otherwise(0L))
          .as("n_flagged"))
      .select(col(groupCol), col("n_docs"), col("n_flagged"),
        (col("n_flagged").cast("double") / col("n_docs").cast("double"))
          .as("flag_rate"),
        col("threshold"))
  }

  /** Krippendorff's alpha over m >= 2 binary gates — the multi-rater
    * generalization of [[gateAgreement]]'s 2-rater Cohen's kappa
    * (Krippendorff 1970/2004, nominal data, complete ratings: every
    * gate rates every document). The question it answers that kappa
    * cannot: do a PANEL of quality gates measure one underlying
    * construct, or are any of them noise — the audit run before
    * combining gates into a composite curation score.
    *
    * For binary nominal complete data the coincidence-matrix form
    * collapses to integer moments: with per-unit positive counts n1_u,
    * alpha = 1 − (n−1)/(m−1) · Σ_u n1_u(m−n1_u) / (n0·n1), n = N·m.
    * ONE scan, three exact long sums, one final double expression the
    * oracle replays cast-for-cast — hash-exact. Degenerate margins
    * (all ratings equal) read NULL: alpha is undefined when there is
    * no variance to agree about.
    *
    * Scale: the scan is embarrassingly parallel (gates are scan-stage
    * expressions), the aggregate is 3 longs — no shuffle beyond the
    * one-row rollup. Long overflow needs n²·m² > 2^63: n ≈ 10^9 units
    * is safe at m ≤ 3 only in the DOUBLE-cast final expression, so the
    * integer moments stay raw longs and the (n−1)·Σ product is formed
    * in floating point.
    */
  def krippendorffAlpha(df: DataFrame, gates: Seq[Column]): DataFrame = {
    require(gates.size >= 2, s"need >= 2 gates: ${gates.size}")
    val m = gates.size.toLong
    val n1 = gates.map(g =>
      coalesce(g.cast("boolean"), lit(false)).cast("long")).reduce(_ + _)
    df.select(n1.as("n1"))
      .agg(count(lit(1)).as("n_units"),
        sum("n1").as("n1_total"),
        sum(col("n1") * (lit(m) - col("n1"))).as("pair_disagree"))
      .select(col("n_units"), lit(m).as("m"), col("n1_total"),
        (lit(m) * col("n_units") - col("n1_total")).as("n0_total"),
        col("pair_disagree"))
      .select(col("n_units"), col("m"), col("n1_total"), col("n0_total"),
        col("pair_disagree"),
        when(col("n1_total") === 0 || col("n0_total") === 0, lit(null))
          .otherwise(lit(1.0) -
            ((lit(m) * col("n_units") - 1).cast("double") *
              col("pair_disagree").cast("double")) /
              (lit(m - 1).cast("double") * col("n0_total").cast("double") *
                col("n1_total").cast("double")))
          .as("alpha"))
  }

  /** Exact precision/recall operating points at score-quantile
    * thresholds — the table that picks a CUTOFF once [[exactAuc]] says
    * the signal ranks usefully at all. For each interior `points`-ile
    * of the score distribution: the threshold, how many rows a
    * `score ≥ threshold` filter keeps, and its exact precision/recall
    * against the {0,1} label.
    *
    * Shape: ONE exact-percentile aggregation yields the cuts
    * (broadcast — the p08 convention; `approx_percentile` is the
    * high-cardinality swap), then ONE pass computes every cut's
    * conditional counts as q40-style filtered aggregates — never a
    * per-cut scan or a threshold cross join. Counts are exact longs;
    * precision/recall are one division each (empty predictions /
    * empty positives yield NULL). The tiny result frame materializes
    * on the driver (`points` rows).
    */
  def prCurve(
      df: DataFrame, scoreCol: String, labelCol: String,
      points: Int = 10): DataFrame = {
    require(points >= 2, s"need at least 2 points: $points")
    val spark = df.sparkSession
    val s = df.select(col(scoreCol).cast("double").as("score"),
        col(labelCol).cast("long").as("lab"))
      .filter(col("score").isNotNull)
    val qs = (1 until points).map(_.toDouble / points)
    val cutsRow = s.agg(percentile(col("score"),
        array(qs.map(lit): _*)).as("c")).collect()(0)
    import spark.implicits._
    if (cutsRow.isNullAt(0)) // no non-null scores: empty curve, not NPE
      return Seq.empty[(Int, Double, Long, Long, Option[Double], Option[Double])]
        .toDF("q", "threshold", "n_pred", "tp", "precision", "recall")
    val cuts = cutsRow.getSeq[Double](0)
    val aggs = cuts.zipWithIndex.flatMap { case (t, i) => Seq(
      sum(when(col("score") >= t, 1L).otherwise(0L)).as(s"np_$i"),
      sum(when(col("score") >= t, col("lab")).otherwise(0L)).as(s"tp_$i"))
    } ++ Seq(count(lit(1)).as("n"), sum("lab").as("p"))
    val r = s.agg(aggs.head, aggs.tail: _*).collect()(0)
    val p = r.getAs[Long]("p")
    cuts.zipWithIndex.map { case (t, i) =>
      val np = r.getAs[Long](s"np_$i")
      val tp = r.getAs[Long](s"tp_$i")
      (i + 1, t, np, tp,
        if (np > 0) Some(tp.toDouble / np) else None,
        if (p > 0) Some(tp.toDouble / p) else None)
    }.toSeq
      .toDF("q", "threshold", "n_pred", "tp", "precision", "recall")
  }

  /** Exact tie-aware AUC of `scoreCol` as a predictor of the {0,1}
    * `labelCol` — the rank-sum (Mann–Whitney) formulation, the metric a
    * quality-signal calibration loop reads ("how well does surprisal
    * predict the hard gates") computed over the FULL corpus, not a
    * sample. NULL scores are excluded; degenerate label sets (all 0 or
    * all 1) yield NULL.
    *
    * Exactness: ranks never materialize per row — ties collapse to one
    * (score, n, n_pos) rollup row, the tie group's doubled average rank
    * is the integer `2·cum + n + 1`, and the whole statistic reduces to
    * `(Σ n_pos·(2·cum+n+1) − P(P+1)) / (2·P·N_neg)` — one division of
    * exact longs, bit-identical in any engine. (Doubled to keep the
    * half-integer average ranks integral; magnitudes hold to ~1B rows.)
    *
    * Scale shape: one map-side-partial groupBy(score), [[prefixSumBy]]
    * over the DISTINCT-score rollup (range partition + local folds +
    * broadcast offsets — never a one-task window), one final tiny agg.
    */
  def exactAuc(
      df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val s = df
      .select(col(scoreCol).as("score"), col(labelCol).cast("long").as("lab"))
      .filter(col("score").isNotNull)
    val grouped = s.groupBy("score")
      .agg(count(lit(1)).as("n"), sum("lab").as("npos"))
    val cum = prefixSumBy(grouped, Seq("score"), "n", "cum")
    cum
      .agg(sum(col("npos") * (col("cum") * 2 + col("n") + 1)).as("r2"),
        sum("n").as("nt"), sum("npos").as("p"))
      .select(col("nt").as("n_rows"), col("p").as("n_pos"),
        when(col("p") > 0 && col("p") < col("nt"),
          (col("r2") - col("p") * (col("p") + 1)).cast("double") /
            (col("p") * (col("nt") - col("p")) * 2).cast("double"))
          .otherwise(lit(null)).as("auc"))
  }

  /** Token-budgeted output sharding — the last step before a training
    * corpus is written: documents fill shard 0 in `orderCols` order until
    * `budget` tokens, then shard 1, and so on. `shard = exclusive-prefix
    * -tokens / budget` (integer division), so shard boundaries are a pure
    * function of the ordered weights: deterministic and resumable. An
    * over-budget doc overflows its own shard rather than splitting
    * (splitting is p02's concat-and-chunk job) — and because it advances
    * the prefix by several budgets, the ids after it skip ahead: shard
    * ids may be SPARSE. Readers must iterate `SELECT DISTINCT shard_id`,
    * not 0..max (densifying here would need a dense_rank over the global
    * shard order — a single-task window this op exists to avoid).
    * Composes with [[seededShuffle]] /
    * [[curriculumOrder]]: feed their materialized order as `orderCols`.
    */
  def budgetShards(
      df: DataFrame, orderCols: Seq[String], weightCol: String,
      budget: Long, offset: Long = 0L): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(offset >= 0, s"offset must be non-negative: $offset")
    // `offset` continues a FROZEN prefix sum (an epoch delta appends
    // after a standing corpus of `offset` total weight): shard ids pick
    // up exactly where the standing build's left off
    prefixSumBy(df, orderCols, weightCol, "__pre")
      .withColumn("shard_id", expr(s"(__pre + $offset) DIV $budget"))
      .drop("__pre")
  }

  /** Per-shard release-integrity MANIFEST over [[budgetShards]]'s write
    * plan: shard_id → (n_docs, n_tokens, ids_md5, content_md5), where
    * ids_md5 fingerprints the shard's doc-id sequence IN WRITE ORDER and
    * content_md5 chains the per-doc md5(text) digests in the same order —
    * the checksums a release card publishes so a consumer (or a later
    * rebuild) can verify a shard byte-for-byte without re-reading the
    * corpus, and the delta-build discipline (EpochBuild) can prove an
    * appended epoch left standing shards untouched. Everything is exact
    * and portable: md5 over a comma-joined decimal id list / concatenated
    * hex digests is engine-independent, so the DuckDB oracle hash-matches.
    *
    * Scale shape: ONE prefix-sum pass (the p13/p14 machinery — range
    * partition + local folds, never a one-task window) and ONE (shard_id)
    * hash-agg. The collect_list per shard is budget-bounded by
    * construction — a shard holds ~budget tokens, so per-group state is
    * the write-plan row group a release materializes anyway, never the
    * corpus.
    */
  def shardManifest(
      df: DataFrame, idCol: String, textCol: String,
      orderCols: Seq[String], weightCol: String, budget: Long)
      : DataFrame = {
    val withH = df.withColumn("__h", md5(col(textCol)))
    val sharded = budgetShards(withH, orderCols, weightCol, budget)
    // one ordered snapshot per shard: sort_array over (orderCols, id, h)
    // structs reproduces the write order; both digests derive from it.
    // Struct fields get positional aliases so an idCol that also appears
    // in orderCols can't make getField ambiguous.
    val sortStruct = struct(
      (orderCols.zipWithIndex.map { case (c, i) => col(c).as(s"__o$i") } :+
        col(idCol).as("__id") :+ col("__h")): _*)
    sharded.groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol)).as("n_tokens"),
        sort_array(collect_list(sortStruct)).as("__rows"))
      .select(col("shard_id"), col("n_docs"), col("n_tokens"),
        md5(concat_ws(",", transform(col("__rows"),
          x => x.getField("__id").cast("string")))).as("ids_md5"),
        md5(concat_ws("", transform(col("__rows"),
          x => x.getField("__h")))).as("content_md5"))
      .orderBy("shard_id")
  }

  /** Mixture-weighted training order (r8): a deterministic global
    * interleave where source s's documents appear at a rate proportional
    * to `weights(s)` — the materialized form of the source-mixing knob
    * every multi-corpus training run tunes (up-weight curated sources,
    * down-weight crawl). Stride scheduling: doc with within-source rank
    * r (0-based, seeded-hash order) gets virtual time (r + 0.5) / w_s,
    * and the global order sorts by it — weighted fair queueing's exact
    * interleave, deterministic, re-seedable per epoch, no RNG.
    *
    * Scale shape: within-source ranks WITHOUT a per-source window (a
    * window on source = one task per source = straggler by construction):
    * global dense ids from [[contiguousIdsBy]] over (source, seeded key)
    * — source-contiguous by ordering — minus each source's broadcast
    * min-id (one tiny agg; sources are few). Final positions are a second
    * [[contiguousIdsBy]] over the virtual times. Only (id, source,
    * 32-byte key) rows ever shuffle. A source missing from `weights`
    * fails the job (`raise_error`) rather than silently mis-mixing.
    */
  def mixtureOrder(
      df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], seed: String): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val keyed = df.select(col(idCol), col(sourceCol),
      md5(concat_ws(":", lit(seed), col(idCol).cast("string"))).as("__sk"))
    val rid = contiguousIdsBy(keyed, Seq(sourceCol, "__sk", idCol), "__rid")
    val mins = rid.groupBy(sourceCol).agg(min("__rid").as("__off"))
    val w = element_at(typedlit(weights), col(sourceCol))
    val ranked = rid.join(broadcast(mins), sourceCol)
      .withColumn("src_rank", col("__rid") - col("__off"))
      .withColumn("__vt",
        (col("src_rank").cast("double") + lit(0.5)) /
          when(w.isNotNull, w).otherwise(raise_error(concat(
            lit("mixtureOrder: no weight for source "), col(sourceCol)))))
    contiguousIdsBy(
      ranked.select(col(idCol), col(sourceCol), col("src_rank"), col("__vt")),
      Seq("__vt", idCol), "mix_pos")
      .select(col(idCol), col(sourceCol), col("src_rank"), col("mix_pos"))
  }

  /** Mixture-order FAIRNESS audit — did the materialized interleave
    * ([[mixtureOrder]]) actually deliver each source its weight share in
    * every training window? WFQ virtual time guarantees long-run rates;
    * a curriculum reading the order in `window`-sized batches cares
    * about the WORST window (a source starved for one window is a
    * gradient-noise spike its loss curve will show). Reports, per
    * source over all FULL windows: realized min/max per-window counts,
    * the weight-implied expectation, and the worst absolute deviation.
    *
    * Exactness: window id and per-(source, window) counts are integer
    * arithmetic; a source absent from SOME full windows reads min 0 via
    * the bucket-presence count; a source absent from EVERY full window
    * (all its docs in the tail, or declared in `weights` but absent from
    * the frame — the maximally starved case this audit exists to catch)
    * still reports a row, via a full join against the weights-key spine,
    * with n_docs/min_cnt/max_cnt 0 and deviation = the full expectation;
    * expectation and deviation are one fixed IEEE expression over
    * integer min/max — order-safe (no float sums or avgs anywhere), so
    * the oracle replays it hash-exact on top of the p17 SQL chain.
    *
    * Scale: one (source, window) hash-agg with map-side combine, then a
    * source-keyed rollup of the window-counts frame (windows, not
    * rows), one 1-row total broadcast, one join against the tiny
    * literal spine. Nothing holds more than sources × windows rows.
    */
  def mixtureAudit(
      ordered: DataFrame, sourceCol: String,
      weights: Map[String, Double], window: Int): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    val sumW = weights.values.sum
    val total = ordered.agg(count(lit(1)).as("n_total"))
      .withColumn("n_windows", expr(s"n_total div $window"))
    val counts = ordered
      .crossJoin(broadcast(total))
      .filter(col("mix_pos") < col("n_windows") * window) // full windows
      .groupBy(col(sourceCol).as("source"),
        expr(s"mix_pos div $window").as("w"))
      .agg(count(lit(1)).as("cnt"))
    val perSource = counts.groupBy("source")
      .agg(sum("cnt").as("n_docs"),
        count(lit(1)).as("n_present"),
        min("cnt").as("min_present"),
        max("cnt").as("max_cnt"))
    // the declared mixture IS the audit's row set: every weighted source
    // gets a verdict even when it never reached a full window; a frame
    // source outside `weights` (only possible when the frame did not come
    // from mixtureOrder, which fails those) survives via the full join
    // with a NULL expectation, as before
    val spine = ordered.sparkSession
      .createDataFrame(weights.keys.toSeq.sorted.map(Tuple1(_)))
      .toDF("source")
    val wcol = element_at(typedlit(weights), col("source"))
    broadcast(spine).join(perSource, Seq("source"), "full")
      .crossJoin(broadcast(total.select("n_windows")))
      .select(col("source"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        col("n_windows"),
        // a source missing from some (or all) full windows has min 0
        when(coalesce(col("n_present"), lit(0L)) < col("n_windows"),
          lit(0L))
          .otherwise(coalesce(col("min_present"), lit(0L))).as("min_cnt"),
        coalesce(col("max_cnt"), lit(0L)).as("max_cnt"),
        (lit(window.toDouble) * wcol / sumW).as("expected_per_window"))
      .withColumn("max_abs_dev", greatest(
        abs(col("min_cnt").cast("double") - col("expected_per_window")),
        abs(col("max_cnt").cast("double") - col("expected_per_window"))))
  }

  /** Deterministic global training shuffle: a seeded pseudo-random
    * permutation of the corpus as dense 0-based positions. Epoch ordering
    * must be (a) uniform — md5 of seed:id is as good as an RNG draw,
    * (b) reproducible under task retries — no `rand()`, the key is a pure
    * function of (seed, id), and (c) re-seedable per epoch — a new seed
    * string is a fresh permutation with no data movement beyond the sort.
    * Scale shape is [[contiguousIdsBy]]'s: range partition on the hash
    * key + local counters + broadcast prefix offsets; only (id, 32-byte
    * key) rows shuffle, never text.
    */
  def seededShuffle(df: DataFrame, idCol: String, seed: String): DataFrame =
    contiguousIdsBy(
      df.select(col(idCol),
        md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
          .as("shuffle_key")),
      Seq("shuffle_key", idCol), "train_pos")
      .select(col(idCol), col("train_pos"))

  /** Per-group unigram-distribution drift between two splits: the
    * total-variation distance `0.5 * Σ_w |P_a(w) - P_b(w)|` between split
    * `a` and split `b` token distributions — the monitor that catches a
    * val/test set drifting away from (or collapsing into) its train split
    * after sampling, mixing, or decontamination rewrites the corpus.
    *
    * Exactness: each term is the integer cross-multiplication
    * `|c_a*N_b - c_b*N_a|`, summed as longs, with ONE double division by
    * `2*N_a*N_b` at the end — no per-token float accumulation, so the
    * DuckDB oracle matches bit-for-bit. Longs hold while
    * tokens_per_group² < 2^63 (~3e9 tokens per group); beyond that,
    * pre-divide per term (monotone, no longer oracle-exact).
    *
    * A group with no tokens in one of the two splits has no distance:
    * its `tv_dist` is NULL, as in the oracle SQL, not an ANSI
    * divide-by-zero.
    *
    * Shape: one (group, token) count with map-side partials — the only
    * string-carrying shuffle — then narrow rollups of those counts.
    */
  def splitDrift(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      splitA: String = "train",
      splitB: String = "test"): DataFrame = {
    val cnt = df
      .select(col(groupCol), splitLabel(col(idCol)).as("split"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(col("split").isin(splitA, splitB))
      .groupBy(groupCol, "token")
      .agg(sum(when(col("split") === splitA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("split") === splitB, 1L).otherwise(0L)).as("cb"))
    val tot = cnt.groupBy(groupCol)
      .agg(sum("ca").as("na"), sum("cb").as("nb"))
    cnt.join(tot, Seq(groupCol))
      .groupBy(groupCol)
      .agg(max("na").as("n_a_tokens"), max("nb").as("n_b_tokens"),
        count(lit(1)).as("vocab_union"),
        try_divide(
          sum(abs(col("ca") * col("nb") - col("cb") * col("na"))).cast("double"),
          (lit(2) * max("na") * max("nb")).cast("double")).as("tv_dist"))
  }

  /** Global quality-quartile bucketing: assign each document a bucket
    * 0..3 by its [[TextOps.qualityScore]] against the corpus-wide exact
    * quartile boundaries — the curriculum/quality-binning step before
    * mixing ("train on top-quartile first", "drop the bottom bucket").
    *
    * Scale shape: a global `ntile(4)` window is one task sorting the
    * corpus. Here the three boundaries are computed by the distributed
    * exact percentile aggregate (one partial-agg pass; swap in
    * `approx_percentile`'s mergeable t-digest at extreme scale), broadcast
    * as a single row, and bucket assignment is a pure map — no global
    * sort ever happens. Value-based bucketing is also STABLE: a
    * document's bucket depends on its score and the boundaries, not on
    * how ties land in a sort.
    */
  def qualityBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = df.select(col(idCol),
      TextOps.qualityScore(col(textCol)).as("score"))
    val qs = scored.agg(
      percentile(col("score"), lit(0.25)).as("q1"),
      percentile(col("score"), lit(0.5)).as("q2"),
      percentile(col("score"), lit(0.75)).as("q3"))
    scored.crossJoin(broadcast(qs))
      .select(col(idCol), col("score"),
        when(col("score") <= col("q1"), 0)
          .when(col("score") <= col("q2"), 1)
          .when(col("score") <= col("q3"), 2)
          .otherwise(3).as("bucket"))
  }

  /** Temperature-smoothed mixture sampling (the multilingual α-smoothing
    * of Conneau & Lample 2019 / mBERT exponent sampling at α = 1/2):
    * allocate a resample `budget` across sources proportional to
    * √n_s — flattening the head so low-resource sources keep
    * representation — then draw each source's quota with
    * [[quotaSample]]'s seedless md5 keys.
    *
    * Arithmetic is deliberately integer-only end to end:
    * `quota_s = budget · ⌊√n_s⌋ div Σ ⌊√n_s⌋`. IEEE `sqrt` is
    * correctly rounded in every engine (the hourlyAnomaly precedent)
    * and the weight SUM is a long sum (order-free), so the DuckDB
    * oracle matches bit-for-bit — a fractional-power α would go
    * through `pow`, whose libm rounding differs across engines, and a
    * double weight sum would depend on accumulation order.
    *
    * The per-source count table collapses the corpus to one row per
    * source (bounded driver collect, the trainBpeMerges convention);
    * the draw itself is quotaSample's bounded-heap shape.
    */
  def temperatureQuotaSample(
      df: DataFrame, idCol: String, srcCol: String,
      budget: Long): DataFrame = {
    val counts = df
      .groupBy(col(srcCol).cast("string").as("s"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val w = counts.map { case (s, n) =>
      s -> math.floor(math.sqrt(n.toDouble)).toLong }
    val tot = w.map(_._2).sum
    require(tot > 0, "empty corpus")
    val quotas = w.map { case (s, ws) =>
      s -> (budget * ws / tot).toInt }.toMap
    quotaSample(df, idCol, srcCol, quotas)
  }

  /** Overlapping token-window chunking — the embedding/RAG prep step:
    * a document becomes windows of `window` tokens starting every
    * `stride` tokens (stride < window ⇒ adjacent chunks share
    * window − stride tokens of context), the last window truncated at
    * the doc end. Starts are fixed at 0, stride, 2·stride, … while
    * start < n, so every token is covered and chunk boundaries are a
    * pure function of position — never of content (re-chunking after
    * an upstream edit only touches the edited doc). Output rows carry
    * (chunk_idx, n_chunk_tok, chunk_md5): the md5 stands in for the
    * chunk text so downstream exact-dup checks and manifests compose
    * without shuffling full text.
    *
    * Scale shape: pure scan-stage projection + bounded explode
    * (≤ ⌈n/stride⌉ rows per doc, the d02 shingle-explode class) — no
    * shuffle at any corpus size. Empty docs produce no chunks.
    */
  def textChunks(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    // r15b: the token list is an ExpensiveBarrier alias — the empty-doc
    // guard below otherwise substitutes size(tokens(text)) into its
    // pushed-down condition and every document tokenizes twice per row
    // (the p12 filter-inlining class)
    df.select(col(idCol),
        graft.functions.HashExpressions.expensive(
          TextOps.tokens(col(textCol))).as("__ts"))
      .withColumn("__n", size(col("__ts")).cast("long"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__ts"), col("__n"),
        explode(sequence(lit(0L), expr(s"(__n - 1) DIV $stride")))
          .as("chunk_idx"))
      .withColumn("__start", col("chunk_idx") * stride)
      .withColumn("__len", least(lit(window.toLong),
        col("__n") - col("__start")))
      .select(col(idCol), col("chunk_idx"),
        col("__len").as("n_chunk_tok"),
        md5(array_join(
          slice(col("__ts"), (col("__start") + 1).cast("int"),
            col("__len").cast("int")), " ")).as("chunk_md5"))
  }

  /** Sentence-boundary-respecting chunk packing — the RAG/embedding
    * chunker a retrieval corpus actually wants: [[textChunks]] cuts at
    * fixed token offsets and splits sentences mid-thought; this splits
    * the document into sentences (at `. `, `! `, `? ` — regex
    * lookbehind keeps the punctuation on its sentence) and GREEDILY
    * packs consecutive sentences into chunks of at most `budgetTokens`
    * whitespace tokens: a chunk closes when the next sentence would
    * overflow it; a single overlong sentence becomes its own (oversize)
    * chunk rather than being split — the first-fit fold every
    * production chunker (LangChain/LlamaIndex recursive splitters)
    * converges on. Output: one row per chunk with
    * (chunk_id, n_sents, n_tok, sent_lo, sent_hi).
    *
    * Exactness: pure integer arithmetic (token counts, a deterministic
    * in-document fold), so a SQL oracle replays it exactly — the fold
    * is a recursive CTE over sentence indexes.
    *
    * Scale shape: the fold is PER-DOCUMENT (a document's sentence list
    * is bounded — the p03 in-group sequential-fold class, here a
    * scan-stage `aggregate` lambda, no mapPartitions and no shuffle);
    * the only exchange is the final (doc, chunk) rollup over exploded
    * sentence rows, map-side combinable. Nothing global ever sorts.
    */
  def sentenceChunks(
      df: DataFrame, idCol: String, textCol: String,
      budgetTokens: Int): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    val sents = filter(split(col(textCol), "(?<=[.!?]) "),
      s => s =!= lit(""))
    val counts = transform(sents,
      s => size(filter(split(s, " "), t => t =!= lit(""))))
    // drop all-whitespace "sentences" (count 0 — e.g. trailing blanks)
    val cs = filter(counts, n => n > 0)
    val zero = struct(lit(0).as("c"), lit(0).as("u"),
      array().cast("array<int>").as("ids"))
    val assigned = aggregate(cs, zero, (acc, n) => {
      val overflow = acc.getField("u") > 0 &&
        (acc.getField("u") + n > budgetTokens)
      val c2 = when(overflow, acc.getField("c") + 1)
        .otherwise(acc.getField("c"))
      val u2 = when(overflow, n).otherwise(acc.getField("u") + n)
      struct(c2.as("c"), u2.as("u"),
        concat(acc.getField("ids"), array(c2)).as("ids"))
    }, acc => acc.getField("ids"))
    df.select(col(idCol), cs.as("__n"), assigned.as("__c"))
      .select(col(idCol), posexplode(zip_with(col("__n"), col("__c"),
        (n, c) => struct(n.as("n"), c.as("c")))).as(Seq("sent_idx", "__s")))
      .groupBy(col(idCol),
        col("__s.c").cast("long").as("chunk_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum(col("__s.n")).cast("long").as("n_tok"),
        min(col("sent_idx")).cast("long").as("sent_lo"),
        max(col("sent_idx")).cast("long").as("sent_hi"))
  }

  /** Repeat-capped token-budget mixing — the data-constrained scaling
    * recipe (Muennighoff et al. 2023: when the token budget exceeds a
    * source's corpus, repeat it, but cap the repeats — past ~4 epochs
    * extra copies stop helping). Each source s gets an allocation
    * `min(tokenBudget · w_s div Σw, maxRepeats · T_s)` tokens (T_s = the
    * source's token total), materialized as `k_s = alloc div T_s` full
    * epochs of every document plus ONE deterministic partial epoch: the
    * docs that fill the remaining `alloc mod T_s` tokens in seeded md5
    * order (greedy take until the remainder is crossed — overshoot is at
    * most one document). Output is the training multiset (doc_id, source,
    * epoch 0-based).
    *
    * Unlike [[mixtureUpsample]] — per-doc Bernoulli thinning by hash
    * byte, corpus-size-agnostic — this op is BUDGET-driven and
    * token-exact: the caller states a global token budget and a repeat
    * cap, and the partial epoch is a token prefix, not a rate. All
    * arithmetic is integer-only (long shares, long prefix sums), so the
    * DuckDB oracle matches exactly.
    *
    * Scale shape: per-source totals collapse to one row per source
    * (bounded driver collect, the [[temperatureQuotaSample]] convention).
    * The partial epoch needs a PER-SOURCE exclusive token prefix —
    * computed WITHOUT a per-source window (one single-task sort per
    * source, skew-prone): one global [[prefixSumBy]] ordered
    * (source, md5 key, id) keeps each source contiguous, and subtracting
    * the source's start offset (groupBy-min over the computed prefix,
    * one broadcast of #sources rows) yields the per-source prefix.
    * Epoch materialization is a scan-stage explode bounded by
    * maxRepeats + 1 rows per doc.
    */
  def repeatCapMix(
      df: DataFrame, idCol: String, srcCol: String, textCol: String,
      tokenBudget: Long, maxRepeats: Int,
      weights: Map[String, Int], defaultWeight: Int = 1): DataFrame = {
    require(tokenBudget >= 0, s"negative budget: $tokenBudget")
    require(maxRepeats >= 0, s"negative cap: $maxRepeats")
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0),
      "weights must be non-negative")
    def wOf(s: String): Long = weights.getOrElse(s, defaultWeight).toLong
    // budget · w is computed in Long before the div — reject inputs
    // where that product could wrap instead of silently mis-allocating
    val wMax = (weights.values ++ Seq(defaultWeight)).max.toLong
    require(wMax == 0 || tokenBudget <= Long.MaxValue / math.max(wMax, 1L),
      s"tokenBudget * max weight overflows Long: $tokenBudget * $wMax")
    val spark = df.sparkSession
    val tok = df.select(col(idCol), col(srcCol),
      TextOps.tokenCount(col(textCol)).as("__tok"),
      md5(col(idCol).cast("string")).as("__key"))
    val totals = tok.groupBy(col(srcCol).cast("string").as("s"))
      .agg(sum("__tok").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val wTot = totals.map { case (s, _) => wOf(s) }.sum
    require(wTot > 0, "all sources have zero weight")
    val stats = totals.toSeq.map { case (s, ts) =>
      val alloc = math.min(tokenBudget * wOf(s) / wTot,
        maxRepeats.toLong * ts)
      val k = if (ts == 0L) 0L else alloc / ts
      val rem = if (ts == 0L) 0L else alloc - k * ts
      (s, k, rem)
    }
    val statsDf = spark.createDataFrame(stats)
      .toDF(srcCol, "__k", "__rem")
    val pre = prefixSumBy(tok, Seq(srcCol, "__key", idCol), "__tok", "__gpre")
    val starts = pre.groupBy(srcCol).agg(min("__gpre").as("__start"))
    pre.join(broadcast(starts), srcCol)
      .join(broadcast(statsDf), srcCol)
      .withColumn("__reps", col("__k") +
        when(col("__gpre") - col("__start") < col("__rem"), 1L).otherwise(0L))
      .filter(col("__reps") > 0)
      .select(col(idCol), col(srcCol),
        explode(sequence(lit(0L), col("__reps") - 1)).as("epoch"))
  }

  /** Train/eval contamination pairs: (train_id, test_id, jaccard) where a
    * train document's bigram-set similarity to a test document reaches
    * tau — the leakage check every eval set needs before results are
    * trusted. Splits come from [[splitLabel]]; the pair search is
    * [[Dedup.crossJaccard]]'s inverted-index join (no cross product).
    */
  def decontaminate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tauNum: Int,
      tauDen: Int): DataFrame = {
    val labeled = df.withColumn("split", splitLabel(col(idCol)))
    Dedup.crossJaccard(
        labeled.filter(col("split") === "train"),
        labeled.filter(col("split") === "test"),
        textCol, idCol, tauNum, tauDen)
      .withColumnRenamed("id_a", "train_id")
      .withColumnRenamed("id_b", "test_id")
  }

  /** Corpus scaling-law fits: the Heaps'-law vocabulary-growth exponent
    * (V(n) ~ K·n^beta — how fast new types keep appearing as the corpus
    * grows; the planning input for open-vocabulary state like t06/t09)
    * and the Zipf rank-frequency exponent (f(r) ~ C·r^s over the head
    * of the vocabulary — corpus "naturalness": real prose sits near
    * s = −1, templated/boilerplate corpora flatten or steepen it).
    *
    * Exactness: both are least-squares slopes in log-log space, fitted
    * on WHOLE-BIT logs (`length(bin(v)) − 1` = floor(log2 v) — the t16
    * discipline), so every point is an exact integer and the slope
    * clears to the exact rational `(k·Σxy − Σx·Σy) / (k·Σx² − (Σx)²)`
    * — emitted as num/den longs plus ONE IEEE division. Bit-floor
    * quantization costs precision (slopes step in ~1/bit-range units)
    * but buys a bit-identical oracle; the fit is documented as the
    * whole-bit estimator, not the float MLE.
    *
    * Shape: Heaps points come from `ceil(doc_id/stride)` buckets — one
    * per-doc token rollup and one first-seen-per-word rollup (both
    * map-side combined, fixed-width), then a TWO-LEVEL cumulative sum
    * over the bucket frame (r16: the former single global window was
    * linear in corpus size; now the only global-window state is the
    * n/(stride·2^20) block-offset frame, and within-block windows are
    * partitioned with ≤ 2^20 rows each). Zipf points are the top `topR`
    * tokens by frequency (TakeOrdered-bounded; the head is where the
    * law lives — r16: the former rank-then-filter windowed the whole
    * vocabulary). Degenerate fits (all x equal → den = 0) read NULL.
    */
  def scalingLaws(
      df: DataFrame,
      idCol: String,
      textCol: String,
      stride: Long,
      topR: Int): DataFrame = {
    require(stride >= 1 && topR >= 2, s"bad shape: $stride/$topR")
    val toks = df.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("l"))
    val bucket = floor((col("id") + stride - 1) / stride).cast("long")
    val tb = toks.select(bucket.as("b"), size(col("l")).cast("long").as("t"))
      .groupBy("b").agg(sum("t").as("t"))
    val vb = toks.select(col("id"), explode(col("l")).as("w"))
      .groupBy("w").agg(min("id").as("fd"))
      .select(floor((col("fd") + stride - 1) / stride).cast("long").as("b"))
      .groupBy("b").agg(count(lit(1)).as("v"))
    // r16 window audit: the cumulative sums used to run in ONE global
    // window task over the n/stride bucket frame — linear in corpus
    // size. Two-level scan instead: per-BLOCK partial sums (blocks of
    // 2^20 buckets), exclusive block offsets through a global window
    // over the BLOCK frame only (n/(stride·2^20) rows — ~19k at 10^12
    // docs / stride 50; the only global-window state), then within-block
    // running sums under a PARTITIONED window whose partitions hold
    // ≤ 2^20 fixed-width rows each. b is unique (both sides grouped by
    // b) so every order is total and the sums are value-identical.
    // (A chained-prefixSumBy formulation was measured first and
    // rejected: its per-pass boundary-sampling jobs and folds cost
    // 1.0 → 2.3 s at sf0.1; this form costs ~one extra tiny exchange.)
    // EAGER localCheckpoint: the bucket frame has two consumers (the
    // block rollup for the broadcast, the join probe side) submitted
    // concurrently — without it the bucket subtree (two corpus tokenize
    // rollups + a join) re-derives once per consumer.
    val buckets = tb.join(vb, Seq("b"), "full")
      .select(col("b"), coalesce(col("t"), lit(0L)).as("t"),
        coalesce(col("v"), lit(0L)).as("v"))
      .localCheckpoint()
    val blk = expr(s"b div ${1L << 20}") // integer div, no double rounding
    val bw = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = buckets.groupBy(blk.as("blk"))
      .agg(sum("t").as("bt"), sum("v").as("bv"))
      .select(col("blk"),
        coalesce(sum("bt").over(bw), lit(0L)).as("ot"),
        coalesce(sum("bv").over(bw), lit(0L)).as("ov"))
    val inW = Window.partitionBy("blk").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hp = buckets.withColumn("blk", blk)
      .join(broadcast(offs), "blk")
      .select((col("ot") + sum("t").over(inW)).as("ct"),
        (col("ov") + sum("v").over(inW)).as("cv"))
      .filter(col("ct") > 0 && col("cv") > 0)
      .select((length(bin(col("ct"))) - 1).cast("long").as("x"),
        (length(bin(col("cv"))) - 1).cast("long").as("y"))
    // r16 window audit: rank-then-filter ranked the WHOLE vocabulary
    // through one global window task; orderBy+limit plans as
    // TakeOrderedAndProject (per-partition top-K, driver merge), and the
    // row_number window that assigns ranks then runs over <= topR rows —
    // bounded by construction. Same total order (c desc, w asc; w
    // unique), so the head set and its ranks are value-identical.
    val zp = toks.select(explode(col("l")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(topR)
      .withColumn("r", row_number().over(
        Window.orderBy(col("c").desc, col("w").asc)))
      .select((length(bin(col("r"))) - 1).cast("long").as("x"),
        (length(bin(col("c"))) - 1).cast("long").as("y"))
    def fit(points: DataFrame, law: String) = points
      .agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(lit(law).as("law"), col("k").as("k_points"),
        (col("k") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("k") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .select(col("law"), col("k_points"), col("slope_num"),
        col("slope_den"),
        when(col("slope_den") =!= 0,
          col("slope_num").cast("double") / col("slope_den"))
          .otherwise(lit(null).cast("double")).as("slope"))
    fit(hp, "heaps").unionByName(fit(zp, "zipf"))
  }

  /** Tokenizer fertility table: subword tokens per whitespace word for
    * each of the four trained tokenizers, per group — the standard
    * tokenizer-selection metric (a language with fertility 2.5 under a
    * vocabulary costs 2.5× the compute per word of one at 1.0; cf.
    * Rust et al. 2021). ONE pass over the corpus evaluates all four
    * codegen'd counters side by side in the scan stage; the rollup
    * carries exact long sums (map-side combine) and each reported
    * fertility is one IEEE division. A group with zero words reads
    * NULL (an all-punctuation slice has no word denominator).
    */
  def fertilityTable(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      bpeMerges: Seq[(String, String)],
      unigramPieces: Map[String, Double],
      byteBpeMerges: Seq[(String, String)],
      wordPieceVocab: Seq[String]): DataFrame = {
    val t = col(textCol)
    def fert(tok: Column) =
      when(col("n_words") > 0, tok.cast("double") / col("n_words"))
        .otherwise(lit(null).cast("double"))
    df.select(col(groupCol),
        TextOps.tokenCount(t).cast("long").as("w"),
        TextOps.bpeTokenCountTrained(t, bpeMerges).cast("long").as("bpe"),
        TextOps.unigramTokenCount(t, unigramPieces).cast("long").as("uni"),
        TextOps.byteBpeTokenCount(t, byteBpeMerges).cast("long").as("bb"),
        TextOps.wordPieceCount(t, wordPieceVocab).cast("long").as("wp"))
      .groupBy(groupCol)
      .agg(sum("w").as("n_words"), sum("bpe").as("n_bpe"),
        sum("uni").as("n_unigram"), sum("bb").as("n_byte_bpe"),
        sum("wp").as("n_wordpiece"))
      .select(col(groupCol), col("n_words"),
        fert(col("n_bpe")).as("fert_bpe"),
        fert(col("n_unigram")).as("fert_unigram"),
        fert(col("n_byte_bpe")).as("fert_byte_bpe"),
        fert(col("n_wordpiece")).as("fert_wordpiece"))
  }

  /** Empirical-Bayes shrunk per-group pass rate — the m-estimate
    * (Cestnik, ECAI 1990; equivalently a Beta(m·μ, m·(1−μ)) prior on a
    * binomial rate): `(k_g + m·μ) / (n_g + m)` with μ the corpus-wide
    * rate. This is the DOMAIN-level quality prior real crawl pipelines
    * rank sources by: a source with 2/2 docs passing is NOT better than
    * one with 950/1000 — the raw rate says it is, the shrunk rate pulls
    * small-sample groups toward the corpus mean so ranking by it is
    * sane at every group size. `m` is the prior strength in
    * pseudo-docs.
    *
    * Exactness: cleared to `(k_g·N + m·K) / (N·(n_g + m))` — every term
    * an exact long, ONE IEEE division (plus one for the reported raw
    * rate). Longs hold while k_g·N < 2^63 (N < ~3·10⁹ docs; beyond
    * that, swap the numerator to DECIMAL(38,0) — same plan shape).
    *
    * Scale: ONE map-side-combined group rollup of (count, passes); the
    * global totals are a 1-row broadcast. Nothing else touches the
    * corpus.
    */
  def shrunkGroupRate(df: DataFrame, groupCol: String, passCol: String,
      m: Int): DataFrame = {
    require(m >= 0, s"prior strength must be >= 0: $m")
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(passCol).cast("long")).as("n_pass"))
    val tot = g.agg(sum("n_docs").as("nn"), sum("n_pass").as("kk"))
    g.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("n_pass"),
        (col("n_pass").cast("double") / col("n_docs")).as("raw_rate"),
        ((col("n_pass") * col("nn") + lit(m.toLong) * col("kk"))
          .cast("double") /
          (col("nn") * (col("n_docs") + lit(m.toLong))).cast("double"))
          .as("shrunk_rate"))
  }

  /** Exactly-k stratified sample with Hamilton largest-remainder
    * apportionment (Hamilton 1792 / Birkhoff 1976 analysis) — the
    * EXACTLY-k twin of p04's per-stratum RATE sampling and the
    * stratified twin of p16's global exactly-k draw: "give me a 100-doc
    * eval set whose language/source shares match the corpus" needs
    * integer quotas that sum to k, which per-stratum rates cannot
    * guarantee and a global draw only hits in expectation.
    *
    * Quotas are the canonical largest-remainder rule, all integer:
    * base_s = ⌊k·n_s/N⌋, and the k − Σbase leftover seats go to the
    * strata with the largest remainders (k·n_s mod N), ties to the
    * lexicographically smaller stratum. k ≤ N implies quota_s ≤ n_s
    * (⌈k·n_s/N⌉ ≤ n_s), so every quota is satisfiable. Within each
    * stratum the draw is the p16 reservoir: the quota_s smallest
    * md5(seed:id) keys — deterministic, retry-stable, disjoint by seed.
    *
    * Scale shape: one map-side-combined stratum count and ONE
    * per-stratum window sort of the corpus (exchange keyed by stratum);
    * the apportionment itself runs on the strata-cardinality frame
    * (sources × languages — trivially small), where the unpartitioned
    * windows are a single free task. A hot stratum is the e03/e14
    * salting story; quotas ≪ n_s admit a per-partition bounded-heap
    * prefilter before the window if the sort ever dominates.
    * Preconditions: k ≤ N (the quota bound argument needs it; with
    * k > N the draw returns every row of the over-allocated strata and
    * fewer than k total), and a non-null stratum column (a NULL
    * stratum never equi-joins its quota row — coalesce upstream).
    */
  /** Hamilton largest-remainder apportionment of `k` seats over a
    * (stratum, w) weight frame: base ⌊k·w/W⌋, then the k − Σbase
    * leftover seats to the largest remainders k·w mod W, ties to the
    * lexicographically smaller stratum. All integer. Runs on the
    * strata-cardinality frame, where the unpartitioned windows are a
    * single free task.
    */
  private def hamiltonQuotas(weights: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy()
    weights
      .withColumn("w_tot", sum("w").over(w))
      .withColumn("base", expr(s"(w * ${k}L) div w_tot"))
      .withColumn("rem", expr(s"(w * ${k}L) % w_tot"))
      .withColumn("leftover", lit(k.toLong) - sum("base").over(w))
      .withColumn("rk_rem", row_number().over(
        Window.partitionBy().orderBy(col("rem").desc, col("stratum").asc)))
      .select(col("stratum"),
        (col("base") + when(col("rk_rem") <= col("leftover"), 1L)
          .otherwise(0L)).as("quota"))
  }

  def stratifiedExactK(df: DataFrame, idCol: String, stratumCol: String,
      k: Int, seed: String): DataFrame = {
    require(k >= 0, s"k must be >= 0: $k")
    val counts = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_s"))
    val quota = hamiltonQuotas(
      counts.select(col("stratum"), col("n_s").as("w")), k)
    val byKey = Window.partitionBy(col(stratumCol))
      .orderBy(col("draw_key"), col(idCol))
    df.select(col(idCol), col(stratumCol),
        md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
          .as("draw_key"))
      .withColumn("rk", row_number().over(byKey).cast("long"))
      .join(broadcast(quota), col(stratumCol) === col("stratum"))
      .filter(col("rk") <= col("quota"))
      .select(col(idCol), col(stratumCol), col("rk"), col("quota"))
  }

  /** Per-document χ² goodness-of-fit against the corpus unigram
    * background — the statistical outlier gate that catches documents
    * whose token DISTRIBUTION is wrong even when every individual
    * quality rule passes (machine-generated spam, keyword stuffing,
    * template debris repeat a few tokens far beyond corpus rates;
    * `(obs − exp)²/exp` grows quadratically in exactly that excess).
    * Buckets: the corpus-wide top-`topK` tokens (count-desc,
    * token-asc tiebreak — deterministic in any engine) plus one TAIL
    * bucket for everything else; expected counts are
    * `n_tok · cnt_bucket / N`.
    *
    * Exactness: zero-observed buckets are folded in CLOSED FORM —
    * `Σ_{obs=0}(exp) = n_tok·Σtop/N − Σ_{present}(exp)` — so only
    * PRESENT (doc, top-token) pairs ever materialize (a doc×topK grid
    * never exists at any scale). Each present term
    * `(obs−exp)²/exp − exp`, the per-doc base `n_tok·Σtop/N`, and the
    * tail term are each ONE fixed IEEE tree injected to DECIMAL(18,6)
    * and summed as decimals (the e33 MAPE convention), so engine
    * accumulation order cannot diverge. A zero-count tail bucket is
    * excluded from the statistic (exp = 0 has no χ² contribution).
    *
    * Scale: one exploded token rollup (map-side partials) for the
    * background, TakeOrdered top-K, a K-row + 1-row broadcast, one
    * broadcast semi-join of the exploded stream onto the top-K set,
    * one doc-keyed hash-agg. `flagged` marks chi2 ≥ 2·topK (≈ twice
    * the bucket dof — the conventional screening line; the chi2 value
    * itself is the release-card column).
    */
  def chi2Outliers(df: DataFrame, idCol: String, textCol: String,
      topK: Int, checkpoint: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(topK > 0, s"topK must be positive: $topK")
    val dec = DecimalType(18, 6)
    // n_tok rides BESIDE the explode in one projection (the late-r5
    // lesson): a per-doc constant needed on exploded rows is computed at
    // the source, never aggregated and joined back
    // tf feeds the background rollup AND the per-doc observation join:
    // persist (the multi-consumer rule) so the tokenize+explode runs
    // once — the cached projection is fixed-width (id, n_tok, token)
    // rows, the same materialization class as the d02 gram index
    // r15: persist() → EAGER localCheckpoint. A lazy persist admits a
    // first-action race: the six consumer branches of this frame are
    // submitted concurrently (AQE schedules independent stages at once),
    // every one misses the not-yet-populated cache, and the tokenize +
    // explode ran SIX times in parallel (measured: six 2.2 s single-task
    // stages at sf0.1). Eager checkpoint materializes once, before any
    // consumer plans.
    val tf = df.select(col(idCol),
      TextOps.tokenCount(col(textCol)).cast("long").as("n_tok"),
      explode(TextOps.tokens(col(textCol))).as("token"))
      .localCheckpoint()
    // r15b: the per-doc spine reuses tf's n_tok instead of re-tokenizing
    // the corpus — the former `df.select(tokenCount(text))` was a SECOND
    // full pass over every text byte just to recover a column tf already
    // carries. The ids-only scan prunes to the id column (no text read);
    // docs the explode dropped (zero tokens) fall through the left join
    // to n_tok = 0, exactly what tokenCount returned for them on NON-NULL
    // text (the documents-table contract: text is never null; a null text
    // would have scored tokenCount = null -> null chi2 under the old
    // two-pass form, where this spine gives 0/flagged=false). max() over
    // a doc-constant is deterministic; the map-side partial agg collapses
    // tf to one row per doc before the exchange.
    val docs = df.select(col(idCol))
      .join(tf.groupBy(col(idCol)).agg(max("n_tok").as("n_tok")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tok"), lit(0L)).as("n_tok"))
    val bg = tf.groupBy("token").agg(count(lit(1)).as("cnt"))
    val top = bg.orderBy(col("cnt").desc, col("token").asc).limit(topK)
    val stats = bg.agg(sum("cnt").as("n_total"))
      .crossJoin(top.agg(sum("cnt").as("n_top")))
      .select(col("n_total"), col("n_top"),
        (col("n_total") - col("n_top")).as("n_tail"))
    val obs = tf.join(broadcast(top), "token")
      .groupBy(col(idCol), col("n_tok"), col("token"), col("cnt"))
      .agg(count(lit(1)).as("obs"))
    // per PRESENT pair: (obs-exp)^2/exp - exp; the "- exp" converts the
    // per-doc zero-observed buckets into the closed-form base term below
    val presentAgg = obs
      .crossJoin(broadcast(stats.select("n_total")))
      .withColumn("__exp",
        col("n_tok").cast("double") * col("cnt") / col("n_total"))
      .withColumn("__d", col("obs").cast("double") - col("__exp"))
      .withColumn("__term",
        (col("__d") * col("__d") / col("__exp") - col("__exp")).cast(dec))
      .groupBy(col(idCol))
      .agg(sum("__term").as("__s"), sum("obs").as("__sum_obs"))
    val out = docs.join(presentAgg, Seq(idCol), "left")
      .crossJoin(broadcast(stats))
      .withColumn("__base",
        (col("n_tok").cast("double") * col("n_top") / col("n_total"))
          .cast(dec))
      .withColumn("__tobs",
        (col("n_tok") - coalesce(col("__sum_obs"), lit(0L)))
          .cast("double"))
      .withColumn("__texp",
        col("n_tok").cast("double") * col("n_tail") / col("n_total"))
      .withColumn("__tail",
        when(col("n_tail") > 0 && col("n_tok") > 0,
          ((col("__tobs") - col("__texp")) * (col("__tobs") - col("__texp"))
            / col("__texp")).cast(dec))
          .otherwise(lit(0).cast(dec)))
      .withColumn("chi2",
        (coalesce(col("__s"), lit(0).cast(dec)) + col("__base") +
          col("__tail")).cast("double"))
      .select(col(idCol), col("n_tok"), col("chi2"),
        (col("chi2") >= lit(2.0) * topK).as("flagged"))
    // cache hygiene (r12 advice): a library caller composing this op
    // must not inherit the tf cache for the session's lifetime — the
    // contaminationHops discipline: materialize the (fixed-width,
    // one-row-per-doc) result eagerly via localCheckpoint, THEN free
    // tf before returning. The checkpoint blocks are reclaimed by the
    // ContextCleaner when the returned frame is unreferenced (or by a
    // session's unpersist-all, as Bench/Verify do per query).
    // checkpoint=false keeps the declarative plan (PlanSpec pins the
    // join shape on it) and leaves tf's lifetime to the caller.
    if (!checkpoint) out
    else {
      val fin = out.localCheckpoint()
      graft.ops.Clusters.freeCheckpoint(tf)
      fin
    }
  }
}

package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Clusters, Dedup}

/** Standing-corpus maintenance: fold an incoming batch into a
  * deduplicated, cluster-labeled corpus in ONE composed pass — the
  * continuous-ingest loop the incremental operators (d09 Bloom dedup,
  * d11 incremental CC, d13 snapshot diff) exist for. Each fold:
  *
  *  1. ADMIT — within-batch exact dedup (min-id per content class), then
  *     Bloom-prefiltered exact dedup against the corpus (d09's shape:
  *     definite-new rows admit with zero join work, only might-contain
  *     survivors pay the md5 anti-join).
  *  2. LINK — near-dup edges for the admitted rows only: ONE
  *     cross-relation n-gram Jaccard of the admitted rows against
  *     corpus ∪ admitted, which covers the within-batch pairs too. Work
  *     tracks the BATCH (inverted-index joins keyed on gram hashes),
  *     never the corpus pair space.
  *  3. RELABEL — fold the new edges into the standing min-id CC labels
  *     (d11's contracted supernode graph: cost ∝ touched clusters + new
  *     ids, finished by the driver's union-find when it is batch-sized).
  *     Min-id labels compose, so the result equals a full recompute
  *     (spec-asserted).
  *  4. AUDIT — snapshot diff of corpus versions (d13): every admitted id
  *     reports `added`, everything else `unchanged` — the release-audit
  *     artifact of the fold.
  *
  * Exactly-once semantics: the fold is idempotent — re-folding the same
  * batch admits nothing (every row is now an exact dup), adds no edges,
  * and leaves labels bit-identical, so an at-least-once upstream
  * delivering a batch twice cannot corrupt the corpus; this is the batch
  * analog of the streaming dedupStream guarantee and is spec-asserted
  * (CorpusMaintainSpec "re-folding the same batch is a no-op").
  *
  * At 100 TB: corpus and labels live as id-bucketed tables
  * (TableTools.writeBucketed) so the admit anti-join, the label join,
  * and the diff's full outer join all plan without an Exchange on the
  * corpus side; the Bloom sketch stands in for the content-hash manifest
  * a production pipeline maintains as its own table. ScaleProbe times
  * the fold at a 10M-doc corpus / 1.5M-doc batch.
  */
object CorpusMaintain {

  /** One fold's outputs: `admitted` batch rows, the updated `corpus`
    * (old ∪ admitted), updated near-dup `labels` (id, cluster_id), and
    * the version `diff` (id, status).
    *
    * Lifetime: `admitted` is an eager local checkpoint that `corpus`
    * and `diff` read, so the frames are valid until that checkpoint is
    * unpersisted. Collect or write what the next fold needs before
    * releasing persisted RDDs.
    */
  final case class Fold(
      admitted: DataFrame,
      corpus: DataFrame,
      labels: DataFrame,
      diff: DataFrame)

  def foldBatch(
      corpus: DataFrame,
      labels: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      expectedItems: Long,
      tauNum: Int = 1,
      tauDen: Int = 2,
      fpp: Double = 0.01): Fold = {
    // 1. admit: collapse the batch to min-id representatives per content
    // class, then Bloom + exact-verify against the corpus. Materialized
    // ONCE: the pair finder, the diff and the caller all read it, and a
    // lazy frame re-runs the batch dedup, the Bloom probe and the
    // verify anti-join (and spreadIfNarrow's partition probe) per reader.
    val batchUnique = batch.join(
      Dedup.exact(batch, textCol, idCol)
        .select(col("keep_id").as(idCol)), Seq(idCol))
    val admitted = Dedup.exactIncremental(
      batchUnique, corpus, textCol, idCol, expectedItems, fpp)
      .localCheckpoint()
    val newCorpus = corpus.unionByName(admitted)

    // 2. link: ONE pair finder, admitted × (corpus ∪ admitted): the
    // cross edges plus the within-batch ones, the latter in both
    // orientations and with self-pairs, which incrementalComponents'
    // undirected, u ≠ v edge set absorbs. admitted × corpus already
    // dominates admitted × admitted, so the scale class is unchanged.
    val newEdges = Dedup.crossJaccard(
        admitted, newCorpus, textCol, idCol, tauNum, tauDen)
      .select(col("id_a"), col("id_b"))

    // 3. relabel: contracted incremental CC over the new edges
    val newLabels = Clusters.incrementalComponents(
      labels, newEdges, "id_a", "id_b")

    // 4. audit: version diff (admitted ids report 'added')
    val diff = Dedup.snapshotDiff(corpus, newCorpus, idCol, textCol)

    Fold(admitted, newCorpus, newLabels, diff)
  }

  /** LM-statistics companion of [[foldBatch]]: fold the ADMITTED rows'
    * token counts into the standing `(token, cnt)` unigram table that
    * backs surprisal scoring
    * ([[graft.ops.Corpus.surprisalWithCounts]]). Counts are associative,
    * so standing ⊕ admitted-delta equals a full recount of the updated
    * corpus (spec-asserted) — the text analog of AnnMaintain's
    * assign-only index append. Feeding admitted (not raw batch) rows
    * keeps the fold idempotent end-to-end: a batch delivered twice
    * admits nothing the second time and changes no counts.
    *
    * Work ∝ batch tokens (explode + partial-agg rollup of the delta);
    * the merge is a groupBy over (standing ∪ delta) vocab rows — small
    * fixed-width traffic, no document text moves. At 100 TB keep the
    * standing table bucketed by token so the merge plans without an
    * Exchange on the big side.
    */
  def foldTokenCounts(
      standing: DataFrame, admitted: DataFrame, textCol: String)
      : DataFrame = {
    val delta = admitted
      .select(explode(graft.ops.TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    standing.select(col("token"), col("cnt"))
      .unionByName(delta)
      .groupBy("token").agg(sum("cnt").as("cnt"))
  }

  /** The standing quality gate: trained model + the held-out accuracy
    * benchmark it must keep meeting + corpus size. The r8 gap: AnnMaintain
    * retrains indexes on drift, but t23's classifier had no maintenance
    * leg — a standing corpus's gate aged silently as admitted content
    * drifted from the training distribution.
    */
  final case class QualityState(
      model: graft.ops.QualityModel.LinearQualityModel,
      benchAccuracy: Double,
      nDocs: Long)

  /** One quality fold's outputs: possibly-retrained state, the drift
    * statistic (model accuracy on the admitted batch's labels), and
    * whether retraining fired — the [[AnnMaintain.AnnFold]] contract.
    */
  final case class QualityFold(
      state: QualityState,
      batchAccuracy: Double,
      retrained: Boolean)

  /** Accuracy of `model` against the hard-rule labels — ONE aggregation
    * (predictions are the fused scan-stage logit; nothing but the two
    * booleans reaches the agg). Empty frames read 1.0 (nothing to get
    * wrong), keeping the fold total.
    */
  private def gateAccuracy(
      model: graft.ops.QualityModel.LinearQualityModel,
      df: DataFrame, textCol: String, labelOf: org.apache.spark.sql.Column)
      : Double = {
    val r = df.agg(
      avg(((model.logit(col(textCol)) > 0) === (labelOf > 0.5))
        .cast("double")).as("acc")).collect().head
    if (r.isNullAt(0)) 1.0 else r.getDouble(0)
  }

  /** Train the standing quality gate on the initial corpus and record
    * its benchmark accuracy there — the gate-build job ([[AnnMaintain
    * .build]]'s analog). Labels default to the Gopher hard rules (the
    * t23 distillation convention: derivable from text alone, so drift
    * measurement never waits on human labels); training is the bounded
    * deterministic sample + driver GD of
    * [[graft.ops.QualityModel.train]].
    */
  def buildQualityModel(
      corpus: DataFrame, textCol: String,
      labelOf: Option[org.apache.spark.sql.Column] = None,
      dim: Int = 4096, iters: Int = 200, maxSample: Int = 10000)
      : QualityState = {
    val lab = labelOf.getOrElse(defaultLabel(textCol))
    val model = graft.ops.QualityModel.train(
      corpus.withColumn("__lab", lab.cast("double")),
      textCol, "__lab", dim = dim, iters = iters, maxSample = maxSample)
    QualityState(model, gateAccuracy(model, corpus, textCol, lab),
      corpus.count())
  }

  private def defaultLabel(textCol: String): org.apache.spark.sql.Column =
    graft.ops.TextOps.gopherPass(col(textCol), 10, 100000, minStops = 1)
      .cast("double")

  /** Fold newly ADMITTED documents into the standing quality gate: score
    * the batch with the standing model against the hard-rule labels
    * (one agg — the drift statistic), and RETRAIN on the updated corpus
    * when accuracy fell more than `degradeTol` below the build-time
    * benchmark — content the model has never seen (new spam families,
    * new languages) scores near the bias and misclassifies, which is
    * exactly the signal. Retraining is [[graft.ops.QualityModel.train]]
    * on corpus ∪ admitted — the same bounded deterministic sample as a
    * fresh build, so a folded-then-retrained gate is BIT-IDENTICAL to a
    * fresh-trained gate on the same corpus (spec-asserted), the
    * [[AnnMaintain]] fold/retrain contract for the text gate.
    */
  def foldQualityModel(
      state: QualityState, corpus: DataFrame, admitted: DataFrame,
      textCol: String,
      labelOf: Option[org.apache.spark.sql.Column] = None,
      degradeTol: Double = 0.05,
      dim: Int = 4096, iters: Int = 200, maxSample: Int = 10000)
      : QualityFold = {
    require(degradeTol >= 0.0, s"degradeTol must be >= 0: $degradeTol")
    val lab = labelOf.getOrElse(defaultLabel(textCol))
    val batchAcc = gateAccuracy(state.model, admitted, textCol, lab)
    val batchN = admitted.count()
    if (batchAcc >= state.benchAccuracy - degradeTol) {
      QualityFold(state.copy(nDocs = state.nDocs + batchN),
        batchAcc, retrained = false)
    } else {
      val union = corpus.select(col(textCol))
        .unionByName(admitted.select(col(textCol)))
      val model2 = graft.ops.QualityModel.train(
        union.withColumn("__lab", lab.cast("double")),
        textCol, "__lab", dim = dim, iters = iters, maxSample = maxSample)
      QualityFold(
        QualityState(model2, gateAccuracy(model2, union, textCol, lab),
          state.nDocs + batchN),
        batchAcc, retrained = true)
    }
  }

  /** The bigram leg of [[foldTokenCounts]]: fold the admitted batch's
    * adjacent-pair counts into the standing `(bigram, cnt)` table — the
    * second table [[graft.ops.Corpus.bigramSurprisalWithCounts]] scores
    * against (the unigram table doubles as its context table). Same
    * associativity: fold ≡ full recount, spec-asserted.
    */
  def foldBigramCounts(
      standing: DataFrame, admitted: DataFrame, textCol: String)
      : DataFrame = {
    val delta = admitted
      .select(explode(graft.ops.TextOps.bigramList(col(textCol)))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
    standing.select(col("bigram"), col("cnt"))
      .unionByName(delta)
      .groupBy("bigram").agg(sum("cnt").as("cnt"))
  }

  /** The capped frozen shingle index after a fold: the cold `(id, pos,
    * h1, h2)` rows every ExactSubstr consumer joins (d42 batch probes
    * via `crossSubstringSpansWithIndex`, the streaming guard's standing
    * side) and the merged per-window df table the NEXT fold needs.
    * The hot handoff list is `wdf.filter(_ > cap)` (the
    * substringHotWindows shape).
    */
  final case class SubstrFold(index: DataFrame, wdf: DataFrame)

  /** ExactSubstr-index leg of [[foldBatch]] (r15, r14 verdict item 7):
    * fold the ADMITTED rows into the standing capped shingle index
    * ([[graft.ops.Dedup.substringIndex]] with `maxWindowDf`, persisted
    * beside the corpus with its [[graft.ops.Dedup.substringWindowDf]]
    * table) so the streaming guard's standing side stays current
    * WITHOUT re-hashing the corpus. Per-doc-distinct window dfs are
    * associative across disjoint id sets (foldBatch admits new ids
    * only), so:
    *
    *  1. the admitted delta hashes once (scan-stage, batch-sized);
    *  2. merged wdf = standing ⊕ delta (fixed-width window-cardinality
    *     rollup — no document text moves);
    *  3. windows whose merged df CROSSES the cap this fold (cold
    *     before, hot now — a batch-sized set) leave the standing index
    *     via a broadcastable anti join; delta rows drop every now-hot
    *     window the same way.
    *
    * fold ≡ full re-freeze of (corpus ∪ batch), spec-asserted on
    * index rows, df table, and the derived hot list
    * (CorpusMaintainSpec), and the guard sees new-corpus spans without
    * a re-freeze.
    */
  def foldSubstringIndex(
      standingIndex: DataFrame, standingWdf: DataFrame,
      admitted: DataFrame, textCol: String, idCol: String,
      n: Int, maxWindowDf: Long): SubstrFold = {
    val deltaIdx = Dedup.substringIndex(admitted, textCol, idCol, n)
    val deltaWdf = Dedup.substringWindowDf(admitted, textCol, idCol, n)
    val mergedWdf = standingWdf.unionByName(deltaWdf)
      .groupBy("h1", "h2").agg(sum("wdf").as("wdf"))
    val hotNow = mergedWdf.filter(col("wdf") > maxWindowDf)
      .select("h1", "h2")
    // cold->hot crossings only: already-hot windows are absent from the
    // standing index, so the big side anti-joins a batch-bounded set
    val crossed = hotNow.join(
      standingWdf.filter(col("wdf") <= maxWindowDf).select("h1", "h2"),
      Seq("h1", "h2"), "left_semi")
    val index = standingIndex.join(crossed, Seq("h1", "h2"), "left_anti")
      .select("id", "pos", "h1", "h2")
      .unionByName(deltaIdx.join(hotNow, Seq("h1", "h2"), "left_anti")
        .select("id", "pos", "h1", "h2"))
    SubstrFold(index, mergedWdf)
  }
}

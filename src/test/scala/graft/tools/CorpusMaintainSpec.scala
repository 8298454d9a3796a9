package graft.tools

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.ops.{Clusters, Dedup}

class CorpusMaintainSpec extends SparkSpec {
  import spark.implicits._

  // word-bigram jaccard at tau = 1/2: "a b c d" ~ "a b c e" (2/4)
  private def corpus0: DataFrame = Seq(
    (1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
    .toDF("doc_id", "text")

  private def labels0: DataFrame =
    Clusters.connectedComponents(
      Dedup.nGramJaccard(corpus0, "text", "doc_id", 1, 2), "id_a", "id_b")

  private def batch: DataFrame = Seq(
    (10L, "x y z w"),   // exact dup of corpus doc 3 -> rejected
    (11L, "a b c d"),   // exact dup of corpus doc 1 -> rejected
    (12L, "q r s t"),   // internal dup pair: min id admitted...
    (13L, "q r s t"),   // ...this one rejected
    (14L, "a b c f"),   // near-dup of docs 1/2 -> admitted, joins cluster 1
    (15L, "m n o p"))   // fresh -> admitted, untouched by any pair
    .toDF("doc_id", "text")

  private def fold(): CorpusMaintain.Fold =
    CorpusMaintain.foldBatch(corpus0, labels0, batch,
      "text", "doc_id", expectedItems = 100L)

  test("fold admits exactly the new-content min-id representatives") {
    val admitted = fold().admitted.collect().map(_.getLong(0)).toSet
    assert(admitted == Set(12L, 14L, 15L))
  }

  test("incremental labels equal a full recompute over the merged corpus") {
    val f = fold()
    val incremental = f.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Clusters.connectedComponents(
        Dedup.nGramJaccard(f.corpus, "text", "doc_id", 1, 2), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incremental == full && full == Map(1L -> 1L, 2L -> 1L, 14L -> 1L))
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.select("id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def fullRecompute(corpus: DataFrame): Map[Long, Long] =
    labelsOf(Clusters.connectedComponents(
      Dedup.nGramJaccard(corpus, "text", "doc_id", 1, 2), "id_a", "id_b"))

  test("admitted rows that are near-dups of each other only form one new " +
    "cluster (the within-batch edges come from the same pair finder)") {
    val b = Seq(
      (20L, "k l m n"),   // near-dup of 21 only (jaccard 2/4)
      (21L, "k l m o"),
      (22L, "a b c d z")) // near-dup of corpus doc 1 (3/4)
      .toDF("doc_id", "text")
    val f = CorpusMaintain.foldBatch(corpus0, labels0, b,
      "text", "doc_id", expectedItems = 100L)
    val got = labelsOf(f.labels)
    assert(got == fullRecompute(f.corpus))
    assert(got(20L) == 20L && got(21L) == 20L && got(22L) == 1L)
  }

  test("a fold into an EMPTY standing corpus admits every min-id " +
    "representative and labels equal a full recompute") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noLabels = Seq.empty[(Long, Long)].toDF("id", "cluster_id")
    val f = CorpusMaintain.foldBatch(empty, noLabels, batch,
      "text", "doc_id", expectedItems = 100L)
    assert(f.admitted.collect().map(_.getLong(0)).toSet ==
      Set(10L, 11L, 12L, 14L, 15L))
    val got = labelsOf(f.labels)
    assert(got == fullRecompute(f.corpus) && got == Map(11L -> 11L, 14L -> 11L))
    assert(f.diff.filter("status != 'added'").isEmpty)
  }

  test("job budget: the labels collect and the Bloom build run one job " +
    "each; a forced-overflow relabel runs the pair finder once") {
    // standing labels read from parquet, as a maintained corpus keeps them
    val dir = java.nio.file.Files.createTempDirectory("fold_labels").toFile
    try budget(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def budget(dir: java.io.File): Unit = {
    import org.apache.spark.sql.functions.{col, udf}
    labels0.write.mode("overwrite").parquet(dir.toString)
    val standing = spark.read.parquet(dir.toString)
    var f: CorpusMaintain.Fold = null
    val foldJobs = jobActions {
      f = CorpusMaintain.foldBatch(corpus0, standing, batch,
        "text", "doc_id", expectedItems = 100L)
    }
    assert(foldJobs.count(_.startsWith("treeAggregate at Dedup.scala")) == 1,
      s"fold: $foldJobs")
    val labelJobs = jobActions { f.labels.collect() }
    assert(labelJobs.size == 1, s"labels: $labelJobs")
    // the fold's link and relabel steps with the driver finish off: the
    // counter sits on the pair finder's output, so a second run of the
    // finder would count its edges twice
    def link = Dedup.crossJaccard(f.admitted, f.corpus, "text", "doc_id", 1, 2)
      .select(col("id_a"), col("id_b"))
    val nEdges = link.count()
    val emitted = spark.sparkContext.longAccumulator("pair_finder_rows")
    val counted = udf { (a: Long) => emitted.add(1); a }.asNondeterministic()
    val forced = Clusters.incrementalComponents(standing,
      link.select(counted(col("id_a")).as("id_a"), col("id_b")),
      "id_a", "id_b", driverFinishEdges = 0)
    assert(labelsOf(forced) == labelsOf(f.labels))
    assert(nEdges > 0 && emitted.value == nEdges,
      s"pair finder emitted ${emitted.value} rows for $nEdges edges")
  }

  test("diff reports admitted ids as added, standing ids as unchanged") {
    val d = fold().diff.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "unchanged", 3L -> "unchanged",
      12L -> "added", 14L -> "added", 15L -> "added"))
  }

  test("re-folding the same batch is a no-op (exactly-once maintenance)") {
    val f1 = fold()
    val f2 = CorpusMaintain.foldBatch(f1.corpus, f1.labels, batch,
      "text", "doc_id", expectedItems = 100L)
    assert(f2.admitted.isEmpty)
    val l1 = f1.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val l2 = f2.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1 == l2)
    assert(f2.diff.filter("status != 'unchanged'").isEmpty)
  }

  test("corpus fold + ANN fold compose: feeding the ADMITTED rows to the " +
    "index fold keeps corpus and standing index consistent by construction") {
    // deterministic per-doc embedding (hash-derived): the vector a real
    // pipeline would compute for each admitted doc
    def vec(id: Long): Seq[Float] =
      Seq.tabulate(16)(j => (((id * 31 + j * 17) % 13) - 6) * 0.1f)
    def vecsOf(df: DataFrame): DataFrame = {
      val ids = df.select("doc_id").collect().map(_.getLong(0)).toSeq
      ids.map(id => (id, vec(id))).toDF("doc_id", "embedding")
    }
    val f = fold()
    val idx0 = AnnMaintain.build(vecsOf(corpus0), "doc_id", "embedding",
      nCentroids = 2)
    // the documented contract (AnnMaintain scaladoc): fold ONLY the
    // admitted rows — rejected dups never enter the index, so the two
    // states agree without any reconciliation pass
    val idxF = AnnMaintain.fold(idx0, vecsOf(f.admitted),
      "doc_id", "embedding", nCentroids = 2)
    assert(idxF.state.nVectors == f.corpus.count())
    val indexIds = idxF.state.assigned.select("corpus_id")
      .collect().map(_.getLong(0)).toSet
    val corpusIds = f.corpus.select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(indexIds == corpusIds)
    // and the composed loop is idempotent end-to-end: re-folding the
    // same batch admits nothing, so the index fold receives zero rows
    val f2 = CorpusMaintain.foldBatch(f.corpus, f.labels, batch,
      "text", "doc_id", expectedItems = 100L)
    assert(f2.admitted.isEmpty)
    val idx2 = AnnMaintain.fold(idxF.state, vecsOf(f2.admitted),
      "doc_id", "embedding", nCentroids = 2)
    assert(idx2.state.nVectors == idxF.state.nVectors && !idx2.retrained)
  }

  test("substring-index fold equals a full re-freeze — cap crossings " +
    "leave the index, the guard sees new-corpus spans without re-freeze") {
    import org.apache.spark.sql.functions.col
    val n = 4; val cap = 2L
    // corpus: docs 1+2 share boilerplate (window df=2, AT the cap);
    // doc 3 unique
    val corpus = Seq(
      (1L, "bp1 bp2 bp3 bp4 aa bb"),
      (2L, "bp1 bp2 bp3 bp4 cc dd"),
      (3L, "u1 u2 u3 u4 u5")).toDF("doc_id", "text")
    // batch: doc 20 pushes the boilerplate window OVER the cap
    // (cold->hot crossing); doc 21 brand-new cold content that also
    // shares a run with doc 3 (the guard must see it post-fold)
    val admitted = Seq(
      (20L, "bp1 bp2 bp3 bp4 zz"),
      (21L, "u1 u2 u3 u4 u5 fresh tail here")).toDF("doc_id", "text")
    val f = CorpusMaintain.foldSubstringIndex(
      Dedup.substringIndex(corpus, "text", "doc_id", n, cap),
      Dedup.substringWindowDf(corpus, "text", "doc_id", n),
      admitted, "text", "doc_id", n, cap)
    val union = corpus.unionByName(admitted)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    // index ≡ full re-freeze at the same cap
    assert(rows(f.index) ==
      rows(Dedup.substringIndex(union, "text", "doc_id", n, cap)))
    // merged df table ≡ full recount; derived hot list ≡ full derivation
    assert(rows(f.wdf) ==
      rows(Dedup.substringWindowDf(union, "text", "doc_id", n)))
    assert(rows(f.wdf.filter(col("wdf") > cap)) ==
      rows(Dedup.substringHotWindows(union, "text", "doc_id", n, cap)))
    // the boilerplate crossed: it is in the hot list and OUT of the index
    assert(f.wdf.filter(col("wdf") > cap).count() == 1L)
    // a probe sharing the (now-hot) boilerplate AND doc 21's fresh run:
    // the folded index yields only the cold evidence — identical to the
    // capped batch cross form over the unioned corpus
    val probe = Seq((100L, "bp1 bp2 bp3 bp4 u1 u2 u3 u4 u5 fresh tail here"))
      .toDF("doc_id", "text")
    val viaFold = Dedup.crossSubstringSpansWithIndex(
        probe, f.index, "text", "doc_id", n, minSpanLen = 5)
      .collect().map(_.toSeq).toSet
    val full = Dedup.crossSubstringSpans(probe, union, "text", "doc_id",
        n, minSpanLen = 5, maxWindowDf = cap)
      .collect().map(_.toSeq).toSet
    assert(viaFold == full && viaFold.nonEmpty)
    // doc 21's fresh span is visible without any re-freeze
    assert(viaFold.exists(r => r(1) == 21L))
  }

  test("token-count fold equals a full recount; surprisal scores with the " +
    "folded table equal a from-scratch reference build") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val f = fold()
    val standing = corpus0
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val folded = CorpusMaintain.foldTokenCounts(standing, f.admitted, "text")
    val recount = f.corpus
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    def m(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m(folded) == m(recount))
    // scoring against the folded standing table ≡ surprisalPerDoc with a
    // ref filter spanning the whole updated corpus
    def s(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val viaCounts = graft.ops.Corpus.surprisalWithCounts(
      f.corpus, "doc_id", "text", folded)
    val viaFilter = graft.ops.Corpus.surprisalPerDoc(
      f.corpus, "doc_id", "text", lit(true))
    assert(s(viaCounts.select("doc_id", "sum_bits", "n_tok"))
      == s(viaFilter.select("doc_id", "sum_bits", "n_tok")))
  }

  test("bigram fold equals a full recount; bigram surprisal with the " +
    "folded tables equals the from-scratch build") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val f = fold()
    val uni0 = corpus0
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val bi0 = corpus0
      .select(explode(graft.ops.TextOps.bigramList(col("text"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
    val uniF = CorpusMaintain.foldTokenCounts(uni0, f.admitted, "text")
    val biF = CorpusMaintain.foldBigramCounts(bi0, f.admitted, "text")
    val biRecount = f.corpus
      .select(explode(graft.ops.TextOps.bigramList(col("text"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
    def m(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m(biF) == m(biRecount))
    def s(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val viaCounts = graft.ops.Corpus.bigramSurprisalWithCounts(
      f.corpus, "doc_id", "text", uniF, biF)
    val viaFilter = graft.ops.Corpus.bigramSurprisalPerDoc(
      f.corpus, "doc_id", "text", lit(true))
    assert(s(viaCounts.select("doc_id", "sum_bits", "n_pairs"))
      == s(viaFilter.select("doc_id", "sum_bits", "n_pairs")))
  }

  import org.apache.spark.sql.functions.col

  // ---- quality-gate maintenance (r9: the t23 fold/retrain leg) --------

  private val goodTexts = Seq(
    "the cat sat on the mat and watched the quiet garden grow",
    "a dog ran through the field and found a bone to keep",
    "the ship sailed into the harbor before the storm arrived",
    "some birds fly south in the winter to find warm weather",
    "the baker made bread and sold it in the market square",
    "rivers carve valleys over time and carry stones to the sea",
    "the library keeps old maps and letters in a cool dry room",
    "engineers test the bridge for load and wind every season",
    "a garden needs sun and water and patient hands to thrive",
    "the train left the station on time despite the heavy snow",
    "the teacher read a story to the class before the bell rang",
    "farmers plant the seeds in spring and harvest them in the fall",
    "the old clock on the wall still keeps the right time",
    "a small boat drifted along the river past the quiet town",
    "the children played in the park until the sun went down",
    "wind turbines turn slowly on the hill beyond the far ridge")
  private def junkA(i: Int) = s"zzqx$i vvkj qqrp xxzt wwfg kkbn jjdm ppzv"
  private def junkB(i: Int) = s"brrt$i mmnn ddgg hhss ttkk ccvv llpp rrww"

  private def qCorpus(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("quality fold: an in-distribution batch keeps the standing gate " +
    "(no retrain), and the kept gate agrees with a fresh train") {
    val corpus = qCorpus(goodTexts.take(12) ++ (0 until 6).map(junkA))
    val st = CorpusMaintain.buildQualityModel(
      corpus, "text", dim = 2048, iters = 80, maxSample = 1000)
    assert(st.benchAccuracy >= 0.9, s"weak build: ${st.benchAccuracy}")

    val batch = qCorpus(goodTexts.drop(12) ++ Seq(junkA(7), junkA(8)))
    val f = CorpusMaintain.foldQualityModel(
      st, corpus, batch, "text",
      dim = 2048, iters = 80, maxSample = 1000)
    assert(!f.retrained, s"in-distribution batch retrained at ${f.batchAccuracy}")
    assert(f.batchAccuracy >= st.benchAccuracy - 0.05)
    assert(f.state.nDocs == st.nDocs + 6)

    // folded gate ≡ fresh-train gate within tolerance on the probe: the
    // kept model and a from-scratch train on corpus ∪ batch must agree
    // on ≥ 90% of the union's gate decisions
    val union = corpus.unionByName(batch
      .withColumn("doc_id", col("doc_id") + 100L))
    val fresh = CorpusMaintain.buildQualityModel(
      union, "text", dim = 2048, iters = 80, maxSample = 1000)
    val agree = union.agg(org.apache.spark.sql.functions.avg(
        ((f.state.model.logit(col("text")) > 0) ===
          (fresh.model.logit(col("text")) > 0)).cast("double")))
      .collect().head.getDouble(0)
    assert(agree >= 0.9, s"folded and fresh gates agree only $agree")
  }

  test("quality fold: an unseen junk family degrades batch accuracy, " +
    "triggers retrain, and the retrained gate is bit-identical to a " +
    "fresh train on the updated corpus") {
    val corpus = qCorpus(goodTexts.take(12) ++ (0 until 6).map(junkA))
    val st = CorpusMaintain.buildQualityModel(
      corpus, "text", dim = 2048, iters = 80, maxSample = 1000)

    // junkB tokens were never seen: their hashed buckets carry ~zero
    // weight, the logit collapses to bias + length-slot (the majority-
    // pass base rate), and the batch misclassifies -> drift signal
    val batch = qCorpus((0 until 8).map(junkB))
    val f = CorpusMaintain.foldQualityModel(
      st, corpus, batch, "text",
      dim = 2048, iters = 80, maxSample = 1000)
    assert(f.retrained, s"drift not detected: batchAcc=${f.batchAccuracy}")
    assert(f.batchAccuracy < st.benchAccuracy - 0.05)

    // retrain ≡ fresh build on the union — bit-identical weights (the
    // bounded deterministic sample makes training order-independent)
    val union = corpus.select("text").unionByName(batch.select("text"))
      .withColumn("doc_id", org.apache.spark.sql.functions
        .monotonically_increasing_id())
    val fresh = CorpusMaintain.buildQualityModel(
      union, "text", dim = 2048, iters = 80, maxSample = 1000)
    assert(f.state.model.bias == fresh.model.bias)
    assert(f.state.model.weights.sameElements(fresh.model.weights))

    // and the retrained gate now rejects the new family
    val rejected = batch.agg(org.apache.spark.sql.functions.sum(
        (f.state.model.logit(col("text")) > 0).cast("long")))
      .collect().head.getLong(0)
    assert(rejected == 0L, s"$rejected junkB docs still pass the gate")
  }
}

package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.ops.Dedup

class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark makes big data small again today"),
    (2L, "spark makes big data small again today"),    // exact dup of 1
    (3L, "spark makes big data small again tomorrow"), // near dup
    (4L, "completely different words entirely here now"),
    (5L, "spark makes big data small again today"),    // late exact dup
    (6L, "other unrelated content stream arrives later"))

  test("lshCandidateStream: connectivity covers batch LSH, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val q = CorpusStream.lshCandidateStream(
        src.toDF().toDF("doc_id", "text"), "text", "doc_id",
        bands = 32, rowsPerBand = 4)
      .writeStream.format("memory").queryName("lsh_hits")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(docs.take(4): _*)
      q.processAllAvailable()
      src.addData(docs.drop(4): _*)
      q.processAllAvailable()
      val hits = spark.table("lsh_hits").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // no self links; only input ids
      assert(hits.forall { case (a, b) => a != b })
      val allIds = docs.map(_._1).toSet
      assert(hits.forall { case (a, b) =>
        allIds.contains(a) && allIds.contains(b) })

      // union-find over the streamed anchor links
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      hits.foreach { case (a, b) => parent(find(a)) = find(b) }

      // every pair the BATCH operator verifies must be stream-connected —
      // same signatures (shared projection), so same bucket collisions
      val batchPairs = Dedup.minHashLsh(docs.toDF("doc_id", "text"),
          "text", "doc_id", 32, 4, 1, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(batchPairs.nonEmpty)
      batchPairs.foreach { case (a, b) =>
        assert(find(a) == find(b), s"batch pair ($a,$b) not connected")
      }
      // the CROSS-batch exact dup (5 arrived a batch after 1/2):
      // identical text -> identical signature -> all bands collide
      assert(find(5L) == find(1L))
      // fully distinct docs stay un-linked to the dup cluster
      assert(find(4L) != find(1L))
    } finally q.stop()
  }

  test("substringGuardStream: arriving docs emit exactly the spans the " +
    "batch crossSubstringSpans computes, across micro-batches, with " +
    "zero retained state") {
    implicit val sqlCtx = spark.sqlContext
    val standing = Seq(
      (100L, "a b c d e f g h i j k l"),
      (101L, "p q r s t u v w")).toDF("doc_id", "text")
    val idx = Dedup.substringIndex(standing, "text", "doc_id", n = 4)
    val probes = Seq(
      (1L, "x x a b c d e f g h y y"),        // shares a..h with 100
      (2L, "totally unrelated tokens only here today"),
      (3L, "p q r s t u zz"))                 // shares p..u with 101
    val src = MemoryStream[(Long, String)]
    val q = CorpusStream.substringGuardStream(
        src.toDF().toDF("doc_id", "text"), "text", "doc_id",
        idx, n = 4, minSpanLen = 5)
      .writeStream.format("memory").queryName("span_hits")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(probes.take(2): _*)
      q.processAllAvailable()
      src.addData(probes.drop(2): _*) // doc 3 arrives a batch later
      q.processAllAvailable()
      val got = spark.table("span_hits").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = Dedup.crossSubstringSpans(
          probes.toDF("doc_id", "text"), standing, "text", "doc_id",
          n = 4, minSpanLen = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == want && got.nonEmpty, s"stream $got vs batch $want")
      assert(got.exists(h => h._1 == 1L && h._2 == 100L && h._5 == 8L))
      assert(!got.exists(_._1 == 2L))
      // the operator keeps no standing state: groups are complete in
      // their micro-batch and the state store is never written
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
    } finally q.stop()
  }

  test("substringGuardStream inherits a maxWindowDf-capped freeze: " +
    "corpus-hot boilerplate emits nothing, cold evidence still surfaces, " +
    "parity with the equally-capped batch form") {
    implicit val sqlCtx = spark.sqlContext
    // both standing docs carry the same 8-token boilerplate (every n=4
    // window df=2 > cap=1); doc 101 also has a unique 6-token run
    val standing = Seq(
      (100L, "bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8 aa bb"),
      (101L, "bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8 u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "text")
    val idx = Dedup.substringIndex(standing, "text", "doc_id", n = 4,
      maxWindowDf = 1L)
    val probes = Seq(
      (1L, "bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8 zz u1 u2 u3 u4 u5 u6"))
    val src = MemoryStream[(Long, String)]
    val q = CorpusStream.substringGuardStream(
        src.toDF().toDF("doc_id", "text"), "text", "doc_id",
        idx, n = 4, minSpanLen = 5)
      .writeStream.format("memory").queryName("span_hits_capped")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(probes: _*)
      q.processAllAvailable()
      val got = spark.table("span_hits_capped").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = Dedup.crossSubstringSpans(
          probes.toDF("doc_id", "text"), standing, "text", "doc_id",
          n = 4, minSpanLen = 5, maxWindowDf = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // only the cold unique run — the boilerplate span is the d17/d25
      // tier's job (substringHotWindows beside the index names it)
      assert(got == want && got == Set((1L, 101L, 9L, 8L, 6L)),
        s"stream $got vs batch $want")
    } finally q.stop()
  }

  test("paragraphAdmitStream: BFF ingest guard — bloom prefilter + exact " +
    "verify equal the batch paragraphIncremental across micro-batches, " +
    "with zero retained state") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "known one\nknown two"),
      (101L, "known three")).toDF("doc_id", "text")
    val standing = Dedup.paragraphHashSet(corpus, "text", "doc_id")
    // fpp 0.5 floods the maybe-leg so BOTH legs carry traffic
    val bloom = Dedup.paragraphBloom(corpus, "text", "doc_id", 8L, 0.5)
    // an empty standing corpus builds an empty filter: every probe is new
    assert(!Dedup.paragraphBloom(corpus.limit(0), "text", "doc_id", 8L, 0.5)
      .mightContainLong(0L))
    val probes = Seq(
      (1L, "Known One\nfresh a"),       // case variant of known: drops
      (2L, "totally new\nKNOWN THREE"),
      (3L, "known two"))                // all known -> emits nothing
    val src = MemoryStream[(Long, String)]
    val q = CorpusStream.paragraphAdmitStream(
        src.toDF().toDF("doc_id", "text"), "text", "doc_id",
        standing, bloom)
      .writeStream.format("memory").queryName("para_admit")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(probes.take(2): _*)
      q.processAllAvailable()
      src.addData(probes.drop(2): _*) // doc 3 arrives a batch later
      q.processAllAvailable()
      val got = spark.table("para_admit").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
      val want = Dedup.paragraphIncremental(
          probes.toDF("doc_id", "text"), corpus, "text", "doc_id",
          expectedItems = 8L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
      assert(got == want && got == Set(
        (1L, 2L, 1L, "fresh a"),
        (2L, 2L, 1L, "totally new")), s"stream $got vs batch $want")
      // group-complete fold: the state store is never written
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
    } finally q.stop()
  }

  test("surprisalScoreStream equals the batch join form, across batches") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    implicit val sqlCtx = spark.sqlContext
    // standing counts from the first four docs (the "corpus so far")
    val corpus = docs.take(4).toDF("doc_id", "text")
    val counts = corpus
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

    val src = MemoryStream[(Long, String)]
    val q = CorpusStream.surprisalScoreStream(
        src.toDF().toDF("doc_id", "text"), "doc_id", "text", counts)
      .writeStream.format("memory").queryName("surprisal_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(docs.take(3): _*)
      q.processAllAvailable()
      src.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("surprisal_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val expect = graft.ops.Corpus.surprisalWithCounts(
          docs.toDF("doc_id", "text"), "doc_id", "text", counts)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == expect)
      assert(got.size == docs.size)
      // OOV words in doc 6 (never in the standing corpus) hit the hapax
      // backoff, not zero
      assert(got(6L)._1 > 0L)
    } finally q.stop()
  }

  test("bigramSurprisalScoreStream equals the batch join form, across " +
    "batches") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    implicit val sqlCtx = spark.sqlContext
    val corpus = docs.take(4).toDF("doc_id", "text")
    val uni = corpus
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cnt"))
    val bi = corpus
      .select(explode(graft.ops.TextOps.bigramList(col("text"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))

    val src = MemoryStream[(Long, String)]
    val q = CorpusStream.bigramSurprisalScoreStream(
        src.toDF().toDF("doc_id", "text"), "doc_id", "text", uni, bi)
      .writeStream.format("memory").queryName("bigram_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(docs.take(3): _*)
      q.processAllAvailable()
      src.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("bigram_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // batch twin: same standing slice as the reference filter
      val expect = graft.ops.Corpus.bigramSurprisalPerDoc(
          docs.toDF("doc_id", "text"), "doc_id", "text", col("doc_id") <= 4)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == expect)
      assert(got.size == docs.size)
      // doc 6 is all-unseen contexts: every pair scores exactly 1 bit
      assert(got(6L) == ((5L, 5L)))
    } finally q.stop()
  }

  test("curateStream: cleanup + gates + effectively-once admission + " +
    "standing-table scoring, equal to the batch admit path") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    implicit val sqlCtx = spark.sqlContext
    val ts0 = new java.sql.Timestamp(86400L * 1000)
    // (id, ts, text): 1 clean; 2 = exact dup of 1 after line-dedup
    // (repeated nav line collapses); 3 junk (no en markers, low
    // quality); 4 clean distinct; 5 = late exact dup of 1
    val in = Seq(
      (1L, ts0, "nav bar\nthe cat sat on the mat and all was good\nnav bar"),
      (2L, ts0, "nav bar\nthe cat sat on the mat and all was good"),
      (3L, ts0, "zzz qqq"),
      (4L, ts0, "a dog ran through the field and found a bone to keep"),
      (5L, ts0, "nav bar\nthe cat sat on the mat and all was good"))
    val counts = Seq("the", "cat", "dog").toDF("token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))

    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = CorpusStream.curateStream(
        src.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
        counts, langs = Seq("en"), minQuality = 0.35)
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(in.take(3): _*)
      q.processAllAvailable()
      src.addData(in.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("curate_stream").collect()
        .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(4),
          r.getLong(5)))).toMap
      // 2 and 5 are content-dups of 1's CLEANED text -> one admission;
      // 3 fails the gates
      assert(got.keySet == Set(1L, 4L))
      assert(got(1L)._1 ==
        "nav bar\nthe cat sat on the mat and all was good")
      // scores equal the batch standing-table scorer on the same text
      val batch = graft.ops.Corpus.surprisalWithCounts(
          Seq((1L, got(1L)._1), (4L, got(4L)._1)).toDF("doc_id", "text"),
          "doc_id", "text", counts)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got.view.mapValues(v => (v._2, v._3)).toMap == batch)
    } finally q.stop()
  }

  test("curateStream blocklist gate drops term-stuffed docs at the t59 " +
    "density line and admits clean docs — stream/batch admission parity") {
    import org.apache.spark.sql.functions.{count, lit}
    implicit val sqlCtx = spark.sqlContext
    val ts0 = new java.sql.Timestamp(86400L * 1000)
    val in = Seq(
      // clean en doc, no blocked terms
      (1L, ts0, "the cat sat on the mat and all was good"),
      // same register but stuffed: 3/14 tokens blocked = 214 per 1k
      (2L, ts0, "the spam cat spam sat on the spam mat and all was good"),
      // one hit in 10 tokens = 100 per 1k -> still over the 60 line
      (3L, ts0, "the dog ran spam through the field and found a bone"))
    val counts = Seq("the", "cat").toDF("token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = CorpusStream.curateStream(
        src.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
        counts, langs = Seq("en"), minQuality = 0.35,
        blocklist = Seq("spam"), maxBlockedPer1k = 60.0)
      .writeStream.format("memory").queryName("curate_block")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(in: _*)
      q.processAllAvailable()
      val got = spark.table("curate_block").collect()
        .map(_.getLong(0)).toSet
      assert(got == Set(1L), s"got $got")
    } finally q.stop()
  }

  test("curateStream model gate drops what the trained classifier was " +
    "taught to drop, same stage as the batch release cut") {
    import org.apache.spark.sql.functions.{count, lit}
    implicit val sqlCtx = spark.sqlContext
    val ts0 = new java.sql.Timestamp(86400L * 1000)
    val goodTexts = Seq(
      "the cat sat on the mat and all was good",
      "a dog ran through the field and found a bone to keep")
    val junk = "vvkj the qqrp xxzt wwfg the kkbn jjdm ppzv"
    // teach the classifier the junk vocabulary (junk carries enough
    // 'the' markers to PASS the heuristic lang/quality gates — only
    // the model can drop it)
    val labeled = (goodTexts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, 1.0) } ++
      Seq((10L, "vvkj qqrp the xxzt wwfg", 0.0),
        (11L, "kkbn jjdm the ppzv vvkj", 0.0)))
      .toDF("doc_id", "text", "label")
    val m = graft.ops.QualityModel.train(labeled, "text", "label",
      dim = 256, iters = 60)
    val counts = Seq("the").toDF("token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = CorpusStream.curateStream(
        src.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
        counts, langs = Seq("en"), minQuality = 0.0,
        qualityModel = Some(m), minLogit = 0.0)
      .writeStream.format("memory").queryName("curate_model_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData((1L, ts0, goodTexts(0)), (2L, ts0, junk),
        (3L, ts0, goodTexts(1)))
      q.processAllAvailable()
      val got = spark.table("curate_model_stream").collect()
        .map(_.getLong(0)).toSet
      assert(got == Set(1L, 3L))
    } finally q.stop()
  }

  test("curateStream trained lang gate admits exactly the model's language " +
    "allowlist, parity with the batch predicate") {
    import org.apache.spark.sql.functions.{col, count, lit}
    implicit val sqlCtx = spark.sqlContext
    val ts0 = new java.sql.Timestamp(86400L * 1000)
    // planted bilingual seed: disjoint function words; the heuristic
    // markers ('the' for en, 'le' for fr) appear in BOTH so only the
    // trained model separates them
    val enDocs = Seq("the data is the with from that join le",
      "the and of is with from the that le")
    val frDocs = Seq("le et des est avec une que data the",
      "le des est avec et une le que the")
    val labeled = (enDocs.map((_, "en")) ++ frDocs.map((_, "fr")))
      .zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val m = graft.ops.LangIdModel.train(labeled, "text", "lang",
      dim = 256, iters = 100)
    val counts = Seq("the").toDF("token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = CorpusStream.curateStream(
        src.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
        counts, langs = Seq("en"), minQuality = 0.0,
        langModel = Some(m))
      .writeStream.format("memory").queryName("curate_lang_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData((1L, ts0, enDocs(0)), (2L, ts0, frDocs(0)),
        (3L, ts0, enDocs(1)), (4L, ts0, frDocs(1)))
      q.processAllAvailable()
      val got = spark.table("curate_lang_stream").collect()
        .map(_.getLong(0)).toSet
      assert(got == Set(1L, 3L), s"admitted $got")
      // batch parity: the same predicate on the same frame admits the
      // same ids (the stream adds only the dedup/watermark machinery)
      val batchIds = labeled
        .filter(m.predict(col("text")) === "en")
        .collect().map(_.getLong(0)).toSet
      assert(batchIds == Set(0L, 1L),
        s"batch gate admitted $batchIds")
    } finally q.stop()
  }

  test("textChunks runs unchanged on a stream (stateless scan-stage op) " +
    "and equals the batch chunker across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = Seq(
      (1L, (0 until 10).map(i => s"w$i").mkString(" ")),
      (2L, "short doc"),
      (3L, ""),
      (4L, (0 until 7).map(i => s"x$i").mkString(" ")))
    val src = MemoryStream[(Long, String)]
    // no new streaming API: the batch combinator IS the streaming form —
    // pure projection + bounded explode, no state, no watermark needed
    val q = graft.ops.Corpus.textChunks(
        src.toDF().toDF("doc_id", "text"), "doc_id", "text",
        window = 4, stride = 3)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(in.take(2): _*)
      q.processAllAvailable()
      src.addData(in.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("chunk_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      val batch = graft.ops.Corpus.textChunks(
          in.toDF("doc_id", "text"), "doc_id", "text", 4, 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(batch.nonEmpty && got == batch)
    } finally q.stop()
  }

  test("trained quality logit streams statelessly, bit-equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    // train on a planted two-population corpus, then score a stream with
    // the SAME fused expression the batch path uses — stateless broadcast
    // weights, so Append mode needs no watermark (the t16 scorer shape)
    val labeled = (docs.map { case (id, t) => (id, t, 1.0) } ++
      Seq((10L, "zzqx vvkj qqrp", 0.0), (11L, "xxzt wwfg kkbn", 0.0)))
      .toDF("doc_id", "text", "label")
    val m = graft.ops.QualityModel.train(labeled, "text", "label",
      dim = 256, iters = 30)
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text")
      .select($"doc_id", m.logit($"text").as("logit"))
      .writeStream.format("memory").queryName("quality_stream")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(docs.take(3): _*)
      q.processAllAvailable()
      src.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("quality_stream").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val batch = docs.toDF("doc_id", "text")
        .select($"doc_id", m.logit($"text").as("logit")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == batch && got.size == docs.size)
      // and both equal the sequential reference scorer
      docs.foreach { case (id, t) => assert(got(id) == m.scoreText(t)) }
    } finally q.stop()
  }

  test("curateStream admission composes with CorpusMaintain.foldBatch: " +
    "admit → fold → relabel → score, equal to the batch-curated fold") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    import graft.ops.{Clusters, Corpus, TextOps}
    import graft.tools.CorpusMaintain
    implicit val sqlCtx = spark.sqlContext
    val ts0 = new java.sql.Timestamp(86400L * 1000)
    val standing = Seq(
      (1L, "the cat sat on the mat and all was good"),
      (2L, "a dog ran through the field and found a bone to keep"))
      .toDF("doc_id", "text")
    val labels0 = Clusters.connectedComponents(
      Dedup.nGramJaccard(standing, "text", "doc_id", 1, 2), "id_a", "id_b")
    val counts0 = standing
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

    // 10 = exact dup of standing 1 (stream admits it — its state has
    // never seen the content — the FOLD's corpus-side dedup rejects it:
    // the two dedup scopes compose, neither must cover the other);
    // 11 = junk (stream gate drops); 12 new; 13 = stream dup of 12
    val in = Seq(
      (10L, ts0, "the cat sat on the mat and all was good"),
      (11L, ts0, "zzz qqq"),
      (12L, ts0, "the bird flew over the tall tree and all was well"),
      (13L, ts0, "the bird flew over the tall tree and all was well"))

    val src = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = CorpusStream.curateStream(
        src.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
        counts0, langs = Seq("en"), minQuality = 0.35)
      .writeStream.format("memory").queryName("curate_fold_stream")
      .outputMode(OutputMode.Append).start()
    val streamFold =
      try {
        src.addData(in.take(2): _*)
        q.processAllAvailable()
        src.addData(in.drop(2): _*)
        q.processAllAvailable()
        CorpusMaintain.foldBatch(standing, labels0,
          spark.table("curate_fold_stream").select("doc_id", "text"),
          "text", "doc_id", expectedItems = 100L)
      } finally q.stop()

    // batch-curated twin: the SAME gates applied batch-side, then the
    // same fold — foldBatch's admit step owns within-batch dedup, so
    // the stream's dropDuplicatesWithinWatermark needs no batch mirror
    val batchCurated = in.toDF("doc_id", "ts", "text")
      .withColumn("text", TextOps.dedupDocLines(col("text")))
      .filter(TextOps.langId(col("text")).isInCollection(Seq("en")) &&
        TextOps.qualityScore(col("text")) >= 0.35)
      .select("doc_id", "text")
    val batchFold = CorpusMaintain.foldBatch(standing, labels0,
      batchCurated, "text", "doc_id", expectedItems = 100L)

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def lmap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids(streamFold.admitted) == Set(12L))
    assert(ids(streamFold.admitted) == ids(batchFold.admitted))
    assert(ids(streamFold.corpus) == ids(batchFold.corpus))
    assert(lmap(streamFold.labels) == lmap(batchFold.labels))

    // the standing score tables fold identically from either path, and
    // scoring the updated corpus with them equals a full recount
    val cS = CorpusMaintain.foldTokenCounts(
      counts0, streamFold.admitted, "text")
    val cB = CorpusMaintain.foldTokenCounts(
      counts0, batchFold.admitted, "text")
    def cmap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cmap(cS) == cmap(cB))
    def smap(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "sum_bits", "n_tok").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(smap(Corpus.surprisalWithCounts(
        streamFold.corpus, "doc_id", "text", cS))
      == smap(Corpus.surprisalPerDoc(
        streamFold.corpus, "doc_id", "text", lit(true))))
  }

  test("histBinStream: streamed bin state equals the batch binning and " +
    "finishes to the batch quantiles, across micro-batches") {
    import graft.ops.Corpus
    implicit val sqlCtx = spark.sqlContext
    // group docs by first word; varied lengths so bins differ
    val hdocs = Seq(
      ("a", "one two three"), ("a", "one two three four five six"),
      ("a", "one"), ("b", "x y z w"), ("b", "x"),
      ("a", "one two three four five six seven eight nine"))
    val src = MemoryStream[(String, String)]
    val q = CorpusStream.histBinStream(
        src.toDF().toDF("lang", "text"), "text", "lang", binWidth = 4L)
      .writeStream.format("memory").queryName("hist_bins")
      .outputMode(OutputMode.Complete).start()
    try {
      src.addData(hdocs.take(3): _*)
      q.processAllAvailable()
      src.addData(hdocs.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("hist_bins")
      val batch = Corpus.binDocs(
        hdocs.toDF("lang", "text"), "text", "lang", binWidth = 4L)
      def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(cells(streamed) == cells(batch))
      // and the read-side finisher over the SINK equals the batch op
      def qmap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(
        qmap(Corpus.quantilesFromBins(streamed, "lang", 4L)) ==
        qmap(Corpus.histQuantiles(
          hdocs.toDF("lang", "text"), "text", "lang", 4L)))
    } finally q.stop()
  }

  test("cmsCellStream: streamed sketch cells equal the batch sketch " +
    "across micro-batches, and the finished top-k recovers the exact " +
    "heavy hitters with over-estimate-only error") {
    import graft.ops.Corpus
    implicit val sqlCtx = spark.sqlContext
    // 'hot' dominates, 'warm' second, singles trail; hot counts split
    // ACROSS the two micro-batches so cell folding is exercised
    val cdocs = Seq(
      ("hot hot hot warm a"), ("hot warm b hot"),
      ("hot hot warm c"), ("hot warm d hot hot"))
    val src = MemoryStream[String]
    val q = CorpusStream.cmsCellStream(
        src.toDF().toDF("text"), "text", width = 512, depth = 3)
      .writeStream.format("memory").queryName("cms_cells")
      .outputMode(OutputMode.Complete).start()
    try {
      src.addData(cdocs.take(2): _*)
      q.processAllAvailable()
      src.addData(cdocs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("cms_cells")
      val batch = Corpus.cmsCells(cdocs.toDF("text"), "text", 512, 3)
      def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(cells(streamed) == cells(batch))
      // state is sketch-bounded: <= depth * width cells however many
      // distinct tokens arrive
      assert(streamed.count() <= 3L * 512L)
      // read-side finisher over the SINK: estimates >= exact (CMS
      // over-estimates only) and the top-2 set is the exact top-2
      val exact = Map("hot" -> 9L, "warm" -> 4L, "a" -> 1L, "b" -> 1L,
        "c" -> 1L, "d" -> 1L)
      val cand = exact.keys.toSeq.toDF("token")
      val est = Corpus
        .cmsEstimateFromCells(streamed, cand, "token", 512, 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      exact.foreach { case (t, n) =>
        assert(est(t) >= n, s"CMS must never under-count: $t")
      }
      val top2 = est.toSeq.sortBy { case (t, n) => (-n, t) }.take(2)
        .map(_._1).toSet
      assert(top2 == Set("hot", "warm"))
    } finally q.stop()
  }
}

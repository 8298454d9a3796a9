package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantics of the r5 corpus additions: contiguous global ids, split
  * drift, quality bucketing — plus NOT IN's three-valued logic (q24's
  * capability), which is easy to get silently wrong with a plain anti
  * join.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private def md5nib(id: Long): Char = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    f"${new java.math.BigInteger(1, d)}%032x".charAt(31)
  }

  // ids whose md5 last nibble lands them in train (0-9ab) / test (ef)
  private def idsFor(split: String, n: Int): Seq[Long] =
    LazyList.from(0).map(_.toLong).filter { id =>
      val nib = md5nib(id)
      split match {
        case "train" => "0123456789ab".contains(nib)
        case "val"   => "cd".contains(nib)
        case _       => "ef".contains(nib)
      }
    }.take(n).toList

  test("contiguousIds: dense 0..n-1 in key order across shuffled partitions") {
    val ids = scala.util.Random.shuffle((0L until 500L).map(_ * 7 + 3).toList)
    val df = ids.toDF("doc_id").repartition(13)
    val got = Corpus.contiguousIds(df, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expect = ids.sorted.zipWithIndex.map { case (id, i) => id -> i.toLong }
    assert(got == expect.toMap)
  }

  test("contiguousIds: survives more partitions than rows (empty ranges)") {
    val df = Seq(42L, 7L, 99L).toDF("doc_id").repartition(8)
    val got = Corpus.contiguousIds(df, "doc_id")
      .orderBy("rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((7L, 0L), (42L, 1L), (99L, 2L)))
  }

  test("contiguousIdsBy: multi-key ordering, pass-through columns kept") {
    val df = scala.util.Random.shuffle((0L until 60L).toList)
      .map(id => (id, (id % 3).toInt)).toDF("doc_id", "grp").repartition(7)
    val got = Corpus.contiguousIdsBy(df, Seq("grp", "doc_id"), "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val expect = (0L until 60L).map(id => (id, (id % 3).toInt))
      .sortBy { case (id, g) => (g, id) }
      .zipWithIndex.map { case ((id, g), i) => (id, g, i.toLong) }.toSet
    assert(got.toSet == expect)
  }

  test("prefixSumBy/budgetShards: exact boundaries across partitions") {
    val rows = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 25L), (5L, 3L))
      .toDF("doc_id", "n_tok").repartition(7)
    val pre = Corpus.prefixSumBy(rows, Seq("doc_id"), "n_tok", "pre")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pre"))
      .toMap
    assert(pre == Map(1L -> 0L, 2L -> 5L, 3L -> 10L, 4L -> 15L, 5L -> 40L))
    val shards = Corpus.budgetShards(rows, Seq("doc_id"), "n_tok", 10L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("shard_id")).toMap
    // docs fill shards in order; doc 4 (25 tokens) overflows its own
    // shard (never splits) and doc 5 lands past it
    assert(shards == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 4L))
  }

  test("shardManifest: write-order checksums are partitioning-invariant, " +
    "totals are exact, and any id or content change flips its digest") {
    val docs = Seq(
      (1L, "one two three"), (2L, "four five"), (3L, "six seven eight"),
      (4L, "nine"), (5L, "ten eleven twelve thirteen"))
      .toDF("doc_id", "text")
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Corpus.shardManifest(df, "doc_id", "text", Seq("doc_id"), "n_tok",
          budget = 5L)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
        .toSeq
    val m1 = manifest(docs.repartition(1))
    val m7 = manifest(docs.repartition(7))
    assert(m1 == m7, "manifest must not depend on input partitioning")
    assert(m1.map(_._2._2).sum == 13L, "token totals fold exactly")
    assert(m1.map(_._2._1).sum == 5L)
    // changing one doc's text flips ONLY its shard's content digest,
    // never the id digest (same ids, same order, same sizes... the
    // changed doc keeps its token count here)
    val docs2 = docs.withColumn("text",
      when(col("doc_id") === 2L, lit("FOUR FIVE")).otherwise(col("text")))
    val m2 = manifest(docs2.repartition(3))
    assert(m1.map(x => x._1 -> x._2._3) == m2.map(x => x._1 -> x._2._3),
      "ids_md5 unchanged when only content changes")
    assert(m1.map(_._2._4) != m2.map(_._2._4), "content_md5 must change")
    // dropping a doc flips the id digest of its shard
    val m3 = manifest(docs.filter(col("doc_id") =!= 2L))
    assert(m1.map(_._2._3) != m3.map(_._2._3))
  }

  test("prefixSumBy: survives more partitions than rows; zero weights") {
    val tiny = Seq((5L, 0L), (9L, 3L), (2L, 0L)).toDF("doc_id", "n_tok")
      .repartition(8)
    val pre = Corpus.prefixSumBy(tiny, Seq("doc_id"), "n_tok", "pre")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pre"))
      .toMap
    // id order 2,5,9 with weights 0,0,3: zero-weight rows share offsets
    assert(pre == Map(2L -> 0L, 5L -> 0L, 9L -> 0L))
    val shards = Corpus.budgetShards(tiny, Seq("doc_id"), "n_tok", 2L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("shard_id")).toMap
    assert(shards == Map(2L -> 0L, 5L -> 0L, 9L -> 0L))
    intercept[IllegalArgumentException] {
      Corpus.budgetShards(tiny, Seq("doc_id"), "n_tok", 0L)
    }
  }

  test("mixtureOrder: exact 2:1 stride interleave, dense positions, unknown source fails") {
    // two sources, weights 2:1 — WFQ virtual times put source b at every
    // third slot exactly: a(.25) b(.5) a(.75) | a(1.25) b(1.5) a(1.75) …
    val docs = ((0L until 40L).map(i => (i, "a")) ++
      (100L until 120L).map(i => (i, "b")))
      .toDF("doc_id", "source").repartition(7)
    val got = Corpus.mixtureOrder(docs, "doc_id", "source",
        Map("a" -> 2.0, "b" -> 1.0), "s0")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("src_rank"), r.getAs[Long]("mix_pos")))
    // dense 0..59 positions, a valid permutation
    assert(got.map(_._4).sorted.toSeq == (0L until 60L))
    // per-source ranks are dense 0..n-1
    assert(got.filter(_._2 == "a").map(_._3).sorted.toSeq == (0L until 40L))
    assert(got.filter(_._2 == "b").map(_._3).sorted.toSeq == (0L until 20L))
    // the interleave pattern: source b occupies positions 1, 4, 7, …
    val bPos = got.filter(_._2 == "b").map(_._4).sorted.toSeq
    assert(bPos == (0 until 20).map(i => 3L * i + 1),
      s"stride pattern broken: ${bPos.take(6)}")
    // a source with no declared weight must fail loudly, not mis-mix
    intercept[Exception] {
      Corpus.mixtureOrder(docs, "doc_id", "source",
        Map("a" -> 2.0), "s0").collect()
    }
  }

  test("seededShuffle: valid permutation, seed-sensitive, retry-stable") {
    val ids = (0L until 300L).map(_ * 3 + 1).toList
    val df = ids.toDF("doc_id").repartition(11)
    def order(seed: String): Seq[Long] =
      Corpus.seededShuffle(df, "doc_id", seed)
        .orderBy("train_pos").collect().map(_.getLong(0)).toSeq
    val e0 = order("epoch0")
    // dense permutation of exactly the input ids
    assert(e0.sorted == ids.sorted && e0.distinct.size == ids.size)
    // not the identity order, and a different seed is a fresh permutation
    assert(e0 != ids.sorted && order("epoch1") != e0)
    // pure function of (seed, id): a re-run reproduces byte-identically
    assert(order("epoch0") == e0)
    // matches the oracle formulation: sort by md5("seed:id") hex string
    val expect = ids.sortBy { id =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"epoch0:$id".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    assert(e0 == expect)
  }

  test("splitDrift: identical unigram distributions give tv 0") {
    val docs = (idsFor("train", 4) ++ idsFor("test", 2))
      .map(id => (id, "x y", "en")).toDF("doc_id", "text", "lang")
    val r = Corpus.splitDrift(docs, "doc_id", "text", "lang").collect().head
    assert(r.getAs[Double]("tv_dist") == 0.0)
    assert(r.getAs[Long]("vocab_union") == 2L)
  }

  test("splitDrift: disjoint vocabularies give tv 1") {
    val tr = idsFor("train", 3).map(id => (id, "aa aa", "en"))
    val te = idsFor("test", 2).map(id => (id, "bb", "en"))
    val r = Corpus.splitDrift((tr ++ te).toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang").collect().head
    assert(r.getAs[Double]("tv_dist") == 1.0)
    assert(r.getAs[Long]("n_a_tokens") == 6L)
    assert(r.getAs[Long]("n_b_tokens") == 2L)
  }

  test("splitDrift: hand-computed mixed case") {
    // train: x x x y (Na=4); test: x y (Nb=2)
    // terms: x |3*2-1*4| = 2 ; y |1*2-1*4| = 2 ; tv = 4/(2*4*2) = 0.25
    val tr = idsFor("train", 1).map(id => (id, "x x x y", "en"))
    val te = idsFor("test", 1).map(id => (id, "x y", "en"))
    val r = Corpus.splitDrift((tr ++ te).toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang").collect().head
    assert(r.getAs[Double]("tv_dist") == 0.25)
  }

  test("splitDrift: a group with an empty test split gets a NULL tv") {
    // en: train x y (Na=2), test x (Nb=1): (|1-2| + |1-0|) / (2*2*1) = 0.5;
    // de has train tokens only; fr has only a val document and drops out
    val docs = idsFor("train", 1).map(id => (id, "x y", "en")) ++
      idsFor("test", 1).map(id => (id, "x", "en")) ++
      idsFor("train", 3).drop(1).map(id => (id, "a b", "de")) ++
      idsFor("val", 1).map(id => (id, "q", "fr"))
    val rows = Corpus.splitDrift(docs.toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang")
      .orderBy("lang").collect()
    assert(rows.map(_.getAs[String]("lang")).toSeq == Seq("de", "en"))
    val de = rows(0)
    assert(de.getAs[Long]("n_a_tokens") == 4L)
    assert(de.getAs[Long]("n_b_tokens") == 0L)
    assert(de.isNullAt(de.fieldIndex("tv_dist")))
    assert(rows(1).getAs[Double]("tv_dist") == 0.5)
  }

  test("qualityBuckets: quartile boundaries split an ordered corpus 2/2/2/2") {
    // strictly increasing scores: k+1 lowercase tokens, no punct/upper
    val docs = (0 until 8)
      .map(k => (k.toLong, Seq.fill(k + 1)("tok").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Corpus.qualityBuckets(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getAs[Int]("bucket")).toSeq
    assert(got == Seq(0, 0, 1, 1, 2, 2, 3, 3))
  }

  test("NOT IN three-valued logic: a NULL in the subquery empties the result") {
    Seq(1, 2, 3).toDF("x").createOrReplaceTempView("naaj_outer")
    Seq(Some(1), None).toDF("k").createOrReplaceTempView("naaj_sub")
    assert(spark.sql(
      "SELECT x FROM naaj_outer WHERE x NOT IN (SELECT k FROM naaj_sub)")
      .count() == 0)
  }

  test("NOT IN three-valued logic: a NULL outer key never qualifies") {
    Seq[Option[Int]](Some(5), None).toDF("x")
      .createOrReplaceTempView("naaj_outer2")
    Seq(1, 2).toDF("k").createOrReplaceTempView("naaj_sub2")
    val got = spark.sql(
      "SELECT x FROM naaj_outer2 WHERE x NOT IN (SELECT k FROM naaj_sub2)")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(5))
  }

  test("surprisalPerDoc: whole-bit unigram surprisal, hapax backoff, " +
    "empty and null docs survive with NULL score") {
    // ref slice (en): tokens a a b a c -> total 5; cnt a=3 b=1 c=1
    // bits: a -> 5 div 3 = 1 -> 1 bit; b,c -> 5 -> '101' -> 3 bits;
    // unseen z backs off to cnt 1 -> 3 bits
    val df = Seq(
      (1L, "a a b", "en"), (2L, "a c", "en"), (3L, "b z", "de"),
      (4L, "", "de"), (5L, null.asInstanceOf[String], "de"))
      .toDF("doc_id", "text", "lang").repartition(7)
    val got = Corpus.surprisalPerDoc(df, "doc_id", "text",
        col("lang") === "en")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSeq
    assert(got == Seq(
      (1L, 5L, 3L, Some(5.0 / 3)),
      (2L, 4L, 2L, Some(2.0)),
      (3L, 6L, 2L, Some(3.0)),
      (4L, 0L, 0L, None),
      (5L, 0L, 0L, None)))
  }

  test("bigramSurprisalPerDoc: conditional whole bits, hapax backoff for " +
    "unseen pairs, 1 bit for unseen contexts, short docs score NULL") {
    // ref slice (en) pairs: (a a) (a b) | (a c)  -> cnt2: aa=1 ab=1 ac=1
    // ref unigrams: a a b a c -> cnt1: a=3 b=1 c=1
    // doc 1 "a a b": (a a) -> 3 div 1 = 3 -> 2 bits; (a b) -> 3 -> 2 bits
    // doc 3 "b z a q": (b z) unseen pair, seen ctx b -> 1 div 1? no:
    //   cnt1(b)=1, cnt2 backoff 1 -> 1 -> 1 bit; (z a) unseen ctx -> 1 bit;
    //   (a q) seen ctx a=3, unseen pair -> 3 -> 2 bits
    val df = Seq(
      (1L, "a a b", "en"), (2L, "a c", "en"), (3L, "b z a q", "de"),
      (4L, "solo", "de"), (5L, "", "de"),
      (6L, null.asInstanceOf[String], "de"))
      .toDF("doc_id", "text", "lang").repartition(5)
    val got = Corpus.bigramSurprisalPerDoc(df, "doc_id", "text",
        col("lang") === "en")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSeq
    assert(got == Seq(
      (1L, 4L, 2L, Some(2.0)),
      (2L, 2L, 1L, Some(2.0)),
      (3L, 4L, 3L, Some(4.0 / 3)),
      (4L, 0L, 0L, None),
      (5L, 0L, 0L, None),
      (6L, 0L, 0L, None)))
  }

  test("dsirWeights: whole-bit log importance = bits_raw - bits_target, " +
    "per-side hapax backoff") {
    // target (en): a a b          -> total_t 3; cnt_t a=2 b=1
    // raw (all):   a a b a c b z  -> total_r 7; cnt_r a=3 b=2 c=1 z=1
    // bits_t: a=len(bin(3 div 2))=1  b=len(bin(3))=2   c,z backoff=2
    // bits_r: a=len(bin(7 div 3))=2  b=len(bin(3))=2   c=len(bin(7))=3 z=3
    // dbits:  a=+1 b=0 c=+1 z=+1
    val df = Seq(
      (1L, "a a b", "en"), (2L, "a c b", "de"), (3L, "z", "de"),
      (4L, null.asInstanceOf[String], "de"))
      .toDF("doc_id", "text", "lang").repartition(5)
    val got = Corpus.dsirWeights(df, "doc_id", "text",
        targetFilter = col("lang") === "en", rawFilter = lit(true))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 2L, 3L),   // a+a+b = 1+1+0
      (2L, 2L, 3L),   // a+c+b = 1+1+0
      (3L, 1L, 1L),   // z = 1
      (4L, 0L, 0L)))  // null text: neutral weight, zero tokens
  }

  test("dsirWeights bigram mode: unigrams and adjacent bigrams share " +
    "one count space") {
    // target (en) doc1 feats: a a b 'a a' 'a b' -> total_t 5
    // raw feats: doc1 5 + doc2 (a c b 'a c' 'c b') 5 + doc3 (z) 1 = 11
    // bits_t: a=2 b=3 'a a'=3 'a b'=3, backoff 3 (bin(5))
    // bits_r: a=2 b=3 c=4 z=4 'a a'=4 'a b'=4 'a c'=4 'c b'=4 (bin(11))
    // dbits:  a=0 b=0 'a a'=+1 'a b'=+1 c=+1 z=+1 'a c'=+1 'c b'=+1
    val df = Seq(
      (1L, "a a b", "en"), (2L, "a c b", "de"), (3L, "z", "de"),
      (4L, null.asInstanceOf[String], "de"))
      .toDF("doc_id", "text", "lang").repartition(5)
    val got = Corpus.dsirWeights(df, "doc_id", "text",
        targetFilter = col("lang") === "en", rawFilter = lit(true),
        bigrams = true)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 2L, 5L),   // 0+0+0 +1+1
      (2L, 3L, 5L),   // 0+1+0 +1+1
      (3L, 1L, 1L),
      (4L, 0L, 0L)))
  }

  test("temperatureQuotaSample: isqrt-proportional quotas, deterministic") {
    // counts 100/25/4 -> isqrt weights 10/5/2, total 17; budget 17
    // allocates exactly the weights as quotas
    val df = ((0L until 100L).map(i => (i, "A")) ++
      (100L until 125L).map(i => (i, "B")) ++
      (125L until 129L).map(i => (i, "C")))
      .toDF("doc_id", "source").repartition(7)
    def draw() = Corpus.temperatureQuotaSample(df, "doc_id", "source", 17L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val got = draw()
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc == Map("A" -> 10, "B" -> 5, "C" -> 2))
    assert(got.toSet == draw().toSet) // seedless md5 keys: retry-stable
  }

  test("textChunks: stride-placed windows cover every token, truncated " +
    "tail, md5 of the exact token slice, empty docs dropped") {
    val df = Seq(
      (1L, (0 until 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only"),                                      // 1 token
      (3L, ""),                                          // dropped
      (4L, "a  b")                                       // double space
    ).toDF("doc_id", "text")
    val got = Corpus.textChunks(df, "doc_id", "text", window = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    def h(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      f"${new java.math.BigInteger(1, d)}%032x"
    }
    val toks = (0 until 10).map(i => s"t$i")
    val expect = Set(
      (1L, 0L, 4L, h(toks.slice(0, 4).mkString(" "))),
      (1L, 1L, 4L, h(toks.slice(3, 7).mkString(" "))),
      (1L, 2L, 4L, h(toks.slice(6, 10).mkString(" "))),
      (1L, 3L, 1L, h("t9")),
      (2L, 0L, 1L, h("only")),
      (4L, 0L, 2L, h("a b")))
    assert(got == expect)
  }

  test("repeatCapMix: capped source gets exactly R epochs, uncapped gets " +
    "k full + a token-exact md5-order partial epoch, zero weight drops") {
    // a: T=30 (docs of 7/10/13 tokens), b: T=20, c: zero weight.
    // budget 100, w = {a:1, b:1, c:0} -> share 50 each live source.
    // b: alloc min(50, 2*20)=40 -> exactly 2 full epochs, no partial.
    // a: alloc min(50, 60)=50 -> 1 full epoch + 20-token partial prefix.
    val docs = Seq((1L, "a", 7), (2L, "a", 10), (3L, "a", 13),
      (4L, "b", 10), (5L, "b", 10), (6L, "c", 5))
    val df = docs
      .map { case (id, s, n) => (id, s, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "source", "text").repartition(5)
    val out = Corpus.repeatCapMix(df, "doc_id", "source", "text",
        tokenBudget = 100L, maxRepeats = 2,
        weights = Map("a" -> 1, "b" -> 1, "c" -> 0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    assert(!out.exists(_._2 == "c"), "zero-weight source must be absent")
    assert(out.filter(_._2 == "b") ==
      Set((4L, "b", 0L), (4L, "b", 1L), (5L, "b", 0L), (5L, "b", 1L)))
    // independent greedy reference for a's partial epoch: docs in
    // (md5(id), id) order while the exclusive token prefix < rem = 20
    def md5hex(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      f"${new java.math.BigInteger(1, d)}%032x"
    }
    val aDocs = docs.filter(_._2 == "a").sortBy(d => (md5hex(d._1), d._1))
    val partial = aDocs.scanLeft(0L)((acc, d) => acc + d._3).zip(aDocs)
      .collect { case (pre, d) if pre < 20L => d._1 }
    val expectA = aDocs.map(d => (d._1, "a", 0L)).toSet ++
      partial.map(id => (id, "a", 1L)).toSet
    assert(out.filter(_._2 == "a") == expectA)
  }

  test("repeatCapMix: a budget beyond every cap yields exactly R epochs " +
    "of everything (token-count invariant)") {
    val df = (0L until 40L).map(i => (i, s"s${i % 3}", "x y z"))
      .toDF("doc_id", "source", "text").repartition(7)
    val out = Corpus.repeatCapMix(df, "doc_id", "source", "text",
      tokenBudget = 1000000L, maxRepeats = 3, weights = Map.empty)
    assert(out.count() == 40L * 3)
    assert(out.groupBy("doc_id").count().select(max("count"))
      .head().getLong(0) == 3L)
  }

  test("lengthBatches: descending-length batches, exact padding accounting") {
    // lengths 8,8,7,3,2,1 at batchSize 2 -> [8,8] pad 0, [7,3] pad 4,
    // [2,1] pad 1; a ragged tail batch keeps its true n_docs
    val df = Seq(
      (0L, "a b c d e f g h"), (1L, "a b c d e f g h"),
      (2L, "a b c d e f g"), (3L, "a b c"), (4L, "a b"), (5L, "a"))
      .toDF("doc_id", "text").repartition(3)
    val out = Corpus.lengthBatches(df, "doc_id", "text", batchSize = 2)
      .orderBy("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 2L, 8L, 16L, 0L), (1L, 2L, 7L, 10L, 4L), (2L, 2L, 2L, 3L, 1L)))
    val ragged = Corpus.lengthBatches(df, "doc_id", "text", batchSize = 4)
      .orderBy("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ragged.toSeq == Seq((0L, 4L, 8L), (1L, 2L, 2L)))
  }

  test("leakageSafeSplit: cluster members co-assign; singletons keep " +
    "p01's split") {
    // ids 3 and 100 split differently under the raw-id rule — linked,
    // they must land together (on the min-label's split)
    val docs = (0L until 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((3L, 100L)).toDF("id_a", "id_b")
      .unionByName(Seq((5L, 7L)).toDF("id_a", "id_b"))
    val docs2 = docs.unionByName(Seq((100L, "x")).toDF("doc_id", "text"))
    val out = Corpus.leakageSafeSplit(docs2, pairs, "doc_id", "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    // linked docs share the min-id cluster label and thus the split
    assert(out(3L) == out(100L) && out(3L)._1 == 3L)
    assert(out(5L) == out(7L) && out(5L)._1 == 5L)
    // singleton split == the raw-id rule
    val raw = docs2.select(col("doc_id"),
        Corpus.splitLabel(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 12L).filterNot(Set(3L, 5L, 7L)).foreach { i =>
      assert(out(i) == ((i, raw(i))), s"singleton $i")
    }
  }

  test("exactAuc: tie-aware rank-sum matches the hand-computed value; " +
    "degenerate labels yield NULL") {
    // scores [1,1,2,3], labels [0,1,0,1]: tied pair averages rank 1.5,
    // AUC = (1.5 + 4 - 2*3/2) / (2*2) = 0.625
    val df = Seq((1.0, 0L), (1.0, 1L), (2.0, 0L), (3.0, 1L))
      .toDF("score", "lab")
    val r = Corpus.exactAuc(df, "score", "lab").collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.625)
    // all-positive: undefined -> NULL
    val deg = Corpus.exactAuc(
      Seq((1.0, 1L), (2.0, 1L)).toDF("score", "lab"), "score", "lab")
      .collect().head
    assert(deg.isNullAt(2))
    // NULL scores are excluded from the population
    val withNull = Seq((Some(1.0), 0L), (None, 1L), (Some(2.0), 1L))
      .toDF("score", "lab")
    val r2 = Corpus.exactAuc(withNull, "score", "lab").collect().head
    assert(r2.getLong(0) == 2L && r2.getDouble(2) == 1.0)
  }

  test("gateAgreement: hand-checked kappa; constant gates yield NULL") {
    import org.apache.spark.sql.functions.col
    // a=2 b=1 c=1 d=4: po=6/8, pe=(3*3+5*5)/64=34/64 -> kappa = 7/15
    val df = Seq((true, true), (true, true), (true, false), (false, true),
      (false, false), (false, false), (false, false), (false, false))
      .toDF("fa", "fb")
    val r = Corpus.gateAgreement(df, col("fa"), col("fb")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((2L, 1L, 1L, 4L)))
    assert(math.abs(r.getDouble(4) - 7.0 / 15.0) < 1e-15)
    // both gates constant-true: denominator 0 -> NULL
    val deg = Corpus.gateAgreement(
      Seq((true, true), (true, true)).toDF("fa", "fb"),
      col("fa"), col("fb")).collect().head
    assert(deg.isNullAt(4))
  }

  test("krippendorffAlpha: hand-checked alpha; degenerate margins NULL") {
    import org.apache.spark.sql.functions.col
    // n1 per unit = [3,3,0,1,2]: N=5 m=3 n=15, n1=9 n0=6, disagree=4
    // alpha = 1 - (14*4)/(2*6*9) = 13/27
    val df = Seq((true, true, true), (true, true, true),
      (false, false, false), (true, false, false), (true, true, false))
      .toDF("g1", "g2", "g3")
    val r = Corpus.krippendorffAlpha(df,
      Seq(col("g1"), col("g2"), col("g3"))).collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 9L && r.getLong(3) == 6L && r.getLong(4) == 4L)
    assert(math.abs(r.getDouble(5) - 13.0 / 27.0) < 1e-15)
    // all raters constant-true on every unit: no variance -> NULL
    val deg = Corpus.krippendorffAlpha(
      Seq((true, true), (true, true)).toDF("g1", "g2"),
      Seq(col("g1"), col("g2"))).collect().head
    assert(deg.isNullAt(5))
    // perfect agreement with mixed values: alpha = 1
    val perfect = Corpus.krippendorffAlpha(
      Seq((true, true), (false, false), (true, true))
        .toDF("g1", "g2"),
      Seq(col("g1"), col("g2"))).collect().head
    assert(math.abs(perfect.getDouble(5) - 1.0) < 1e-15)
  }

  test("conformalGate: exact conformal rank, infeasible alpha flags " +
    "nothing, marginal flag rate tracks alpha") {
    import org.apache.spark.sql.functions.{col, lit}
    // calibration scores 1..10: q-hat = ceil(11*0.9)=10th smallest = 10
    val cal = (1 to 10).map(s => ("g", s.toLong, true))
    val tst = Seq(("g", 5L, false), ("g", 10L, false),
      ("g", 11L, false), ("g", 12L, false))
    val df = (cal ++ tst).toDF("g", "s", "cal")
    val r = Corpus.conformalGate(df, col("s"), col("cal"), "g")
      .collect().head
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L, // 11 and 12 flagged
      s"flags: $r")
    assert(r.getLong(4) == 10L, s"threshold: $r")
    assert(math.abs(r.getDouble(3) - 0.5) < 1e-15)
    // infeasible rank (alpha < 1/(n_cal+1)): threshold = MaxValue, 0 flags
    val inf = Corpus.conformalGate(df, col("s"), col("cal"), "g",
      covNum = 99, covDen = 100).collect().head
    assert(inf.getLong(4) == Long.MaxValue && inf.getLong(2) == 0L)
    // exchangeable draws: marginal flag rate ~ alpha (here exactly 10%:
    // calibration 1..100, test 1..100 shifted by 0.5 rank-equivalent)
    val big = ((1 to 100).map(s => ("g", s.toLong, true)) ++
      (1 to 100).map(s => ("g", s.toLong, false))).toDF("g", "s", "cal")
    val br = Corpus.conformalGate(big, col("s"), col("cal"), "g")
      .collect().head
    // q-hat = ceil(101*0.9) = 91st smallest = 91 -> flags 92..100 = 9
    assert(br.getLong(4) == 91L && br.getLong(2) == 9L)
  }

  test("mixtureAudit: hand-built order reads exact window min/max and " +
    "deviation; a source absent from a full window reads min 0; the " +
    "partial tail window is excluded") {
    import org.apache.spark.sql.functions.col
    // 10 positions per window, 25 rows -> 2 full windows + a tail of 5.
    // window 0: a x6, b x4; window 1: a x10 (b starved); tail: b x5
    val order = ((0 until 6).map(i => ("a", i)) ++
      (6 until 10).map(i => ("b", i)) ++
      (10 until 20).map(i => ("a", i)) ++
      (20 until 25).map(i => ("b", i)))
      .map { case (s, p) => (s, p.toLong) }.toDF("source", "mix_pos")
    val w = Map("a" -> 3.0, "b" -> 1.0) // expected per window: 7.5 / 2.5
    val got = Corpus.mixtureAudit(order, "source", w, window = 10)
      .orderBy("source").collect()
    val a = got(0); val b = got(1)
    assert(a.getAs[Long]("n_docs") == 16L && a.getAs[Long]("n_windows") == 2L)
    assert(a.getAs[Long]("min_cnt") == 6L && a.getAs[Long]("max_cnt") == 10L)
    assert(a.getAs[Double]("expected_per_window") == 7.5)
    assert(a.getAs[Double]("max_abs_dev") == 2.5) // |10 - 7.5|
    // b appears in window 0 only -> min 0 via presence count; the tail
    // window's 5 b-rows are excluded everywhere
    assert(b.getAs[Long]("n_docs") == 4L && b.getAs[Long]("min_cnt") == 0L)
    assert(b.getAs[Long]("max_cnt") == 4L)
    assert(b.getAs[Double]("max_abs_dev") == 2.5) // |0 - 2.5|
    // a weighted source absent from EVERY full window (here: absent from
    // the frame entirely — the maximally starved case) still reports,
    // with zero counts and deviation = its full expectation
    val w3 = Map("a" -> 3.0, "b" -> 1.0, "c" -> 1.0)
    val got3 = Corpus.mixtureAudit(order, "source", w3, window = 10)
      .orderBy("source").collect()
    assert(got3.length == 3)
    val c = got3(2)
    assert(c.getAs[String]("source") == "c")
    assert(c.getAs[Long]("n_docs") == 0L && c.getAs[Long]("min_cnt") == 0L
      && c.getAs[Long]("max_cnt") == 0L
      && c.getAs[Long]("n_windows") == 2L)
    assert(c.getAs[Double]("expected_per_window") == 2.0) // 10 * 1/5
    assert(c.getAs[Double]("max_abs_dev") == 2.0)
  }

  test("tokenGini: equal docs read 0, one-megadoc group reads (n-1)/n, " +
    "all-zero group reads NULL with its counts intact") {
    val df = Seq(
      (1L, "s1", 5L), (2L, "s1", 5L), (3L, "s1", 5L), (4L, "s1", 5L),
      (5L, "s2", 0L), (6L, "s2", 0L), (7L, "s2", 0L), (8L, "s2", 10L),
      (9L, "s3", 0L), (10L, "s3", 0L)
    ).toDF("doc_id", "source", "n_tok")
    val got = Corpus.tokenGini(df, "n_tok", "source", "doc_id")
      .orderBy("source").collect()
    assert(got(0).getAs[Double]("gini") == 0.0)  // perfectly even
    assert(got(0).getAs[Long]("total_tokens") == 20L)
    assert(got(1).getAs[Double]("gini") == 0.75) // max for n=4: (n-1)/n
    assert(got(2).isNullAt(3) && got(2).getAs[Long]("n_docs") == 2L)
  }

  test("prCurve: hand-checked operating points; monotone recall") {
    import org.apache.spark.sql.functions.col
    // scores 1..10, positives at 6..10 (perfect ranking): at the median
    // cut, predictions = top half, precision 1.0, recall 1.0
    val df = (1 to 10).map(i => (i.toDouble, if (i > 5) 1L else 0L))
      .toDF("score", "lab")
    val r = Corpus.prCurve(df, "score", "lab", points = 4)
      .orderBy("q").collect()
      .map(x => (x.getInt(0), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5)))
    // q=2 is the median threshold (5.5): keeps 5 rows, all positive
    assert(r.length == 3)
    assert(r(1) == ((2, 5L, 5L, 1.0, 1.0)))
    // recall never increases as the threshold rises
    assert(r.map(_._5).sliding(2).forall { case Array(a, b) => b <= a })
    // an all-null score frame yields an empty curve, not an NPE
    val empty = Corpus.prCurve(
      Seq((Option.empty[Double], 1L)).toDF("score", "lab"), "score", "lab")
    assert(empty.count() == 0L)
  }

  test("bm25TopK: tf raises the score, longer docs are penalized, ties " +
    "break by id — hand-computed ranks on a 4-doc corpus") {
    val corpus = Seq(
      (1L, "apple banana banana banana"), // tf(banana)=3, dl=4
      (2L, "apple banana"),               // tf(banana)=1, dl=2
      (3L, "apple cherry cherry"),        // dl=3
      (4L, "apple date"))                 // dl=2, ties doc 2 on 'apple'
      .toDF("doc_id", "text")
    val queries = Seq((0, "banana"), (1, "apple")).toDF("query_id", "term")
    val got = Corpus.bm25TopK(corpus, "doc_id", "text", queries, k = 10)
      .orderBy("query_id", "rk").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    // A=11, N=4; idf(banana)=bits(4 div 2)=2, idf(apple)=bits(1)=1.
    // q0: doc1 2904/1014 > doc2 968/430 (tf dominates);
    // q1: equal tf=1 everywhere -> pure length normalization:
    //     dl=2 docs tie at 484/430 (id breaks), then dl=3, then dl=4
    assert(got.toSeq == Seq(
      (0, 1, 1L), (0, 2, 2L),
      (1, 1, 2L), (1, 2, 4L), (1, 3, 3L), (1, 4, 1L)))
  }

  test("weightedSample: seeded A-ES draw equals a driver-side reference " +
    "over the same hash; inclusion frequency tracks weight across seeds") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val mask = (1L << 52) - 1
    // 20 heavy (w=50) + 180 light (w=1) rows
    def w(id: Long) = if (id <= 20) 50.0 else 1.0
    val df = (1L to 200L).map(i => (i, w(i))).toDF("id", "w")

    def refDraw(seed: String, k: Int): Set[Long] = {
      (1L to 200L).map { id =>
        val s = UTF8String.fromString(s"$seed:$id")
        val h = XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        val u = (((h % mask) + mask) % mask + 0.5) / mask.toDouble
        (math.log(u) / w(id), id)
      }.sortBy { case (key, id) => (-key, id) }.take(k).map(_._2).toSet
    }
    def draw(seed: String, k: Int): Set[Long] =
      Corpus.weightedSample(df, "id", "w", k, seed)
        .select("id").collect().map(_.getLong(0)).toSet

    // strict equality vs the reference, and determinism
    assert(draw("s0", 30) == refDraw("s0", 30))
    assert(draw("s0", 30) == draw("s0", 30))
    assert(draw("s0", 30).size == 30)

    // heavy rows (10% of the population, w ratio 50) must dominate the
    // draw on average across seeds
    val freq = (0 until 20).map(i => draw(s"seed$i", 30))
    val heavyRate = freq.map(_.count(_ <= 20L)).sum / 20.0 / 20.0
    val lightRate = freq.map(_.count(_ > 20L)).sum / 20.0 / 180.0
    info(f"heavy inclusion $heavyRate%.2f vs light $lightRate%.2f")
    assert(heavyRate > 3 * lightRate,
      f"weighting not expressed: heavy $heavyRate%.2f light $lightRate%.2f")
  }

  test("knBigramPerDoc: hand-computed whole-bit KN — continuation " +
    "probability orders unseen pairs (the 'Francisco' property), seen " +
    "pairs score low, unseen contexts take the 1-bit backstop") {
    import org.apache.spark.sql.functions.col
    // ref pairs: d1 gives hi 3 distinct contexts; d2 makes fran frequent
    // but single-context. ntot=7 types; c1(san)=3, den=4*3*7=84
    val docs = Seq(
      (1L, "p hi q hi r hi", "en"),
      (2L, "san fran san fran san fran", "en"),
      (10L, "san hi", "xx"),   // unseen pair, nc2(hi)=3: 84 div 9 -> 4 bits
      (11L, "san q", "xx"),    // unseen pair, nc2(q)=1: 84 div 3 -> 5 bits
      (12L, "san fran", "xx"), // seen pair: 84 div 66 -> 1 bit
      (13L, "zz hi", "xx"))    // unseen context -> 1 bit
      .toDF("doc_id", "text", "lang")
    val got = Corpus.knBigramPerDoc(docs, "doc_id", "text",
        col("lang") === "en")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(10L) == ((4L, 1L)))
    assert(got(11L) == ((5L, 1L)))
    assert(got(12L) == ((1L, 1L)))
    assert(got(13L) == ((1L, 1L)))
  }

  test("knTrigramPerDoc: hand-computed whole-bit KN at order 3 — seen " +
    "trigram scores low, continuation interpolation orders unseen " +
    "trigrams, the backoff ladder steps ctx -> middle -> 1-bit") {
    import org.apache.spark.sql.functions.col
    // ref: tri types abc:3 bca:2 cab:2 xbz:1; bigram types ab bc ca xb
    // bz (nbt=5); m2(b)=2 m2(a)=1; f2(b)=2 f2(a)=1; nc3(c)=1 nc3(z)=1
    val docs = Seq(
      (1L, "a b c a b c a b c", "en"),
      (2L, "x b z", "en"),
      (10L, "a b c", "xx"), // seen tri: den 480, num 393 -> 1 bit
      (11L, "a b z", "xx"), // unseen tri, seen ctx: 480 div 33 -> 4 bits
      (12L, "a b q", "xx"), // unseen continuation: clamp bin(480) -> 9
      (13L, "q b c", "xx"), // unseen ctx, b is a middle: 40 div 11 -> 2
      (14L, "q a c", "xx"), // middle a: 20 div 3 -> 3 bits
      (15L, "q z q", "xx")) // z never a middle -> 1-bit backstop
      .toDF("doc_id", "text", "lang")
    val got = Corpus.knTrigramPerDoc(docs, "doc_id", "text",
        col("lang") === "en")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(10L) == ((1L, 1L)))
    assert(got(11L) == ((4L, 1L)))
    assert(got(12L) == ((9L, 1L)))
    assert(got(13L) == ((2L, 1L)))
    assert(got(14L) == ((3L, 1L)))
    assert(got(15L) == ((1L, 1L)))
  }

  test("rrfFuse: a doc on two lists outranks single-list docs; within " +
    "one list count, better ranks win; ties break by id") {
    val a = Seq((0L, 1L, 1), (0L, 2L, 2)).toDF("q", "id", "rk")
    val b = Seq((0L, 2L, 1), (0L, 3L, 2)).toDF("q", "id", "rk")
    val got = Corpus.rrfFuse(Seq(a, b), "q", "id", "rk", k = 10)
      .orderBy("rk").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(4)))
    // doc2: 1/61 + 1/62 (both lists) > doc1: 1/61 > doc3: 1/62
    assert(got.toSeq == Seq((1, 2L, 2L), (2, 1L, 1L), (3, 3L, 1L)))
  }

  test("rrfFuse: non-integral query/id columns fail fast (a string id " +
    "would cast to NULL and silently collapse rows)") {
    val bad = Seq(("u-1", 1L, 1)).toDF("q", "id", "rk")
    val e = intercept[IllegalArgumentException] {
      Corpus.rrfFuse(Seq(bad), "q", "id", "rk", k = 10)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("rrfFuse: inputs are clipped to maxRank — an unbounded ranking " +
    "cannot fuse the whole corpus") {
    val a = (1 to 5).map(r => (0L, 100L + r, r)).toDF("q", "id", "rk")
    val got = Corpus.rrfFuse(Seq(a), "q", "id", "rk", k = 2, maxRank = 2)
      .collect()
    assert(got.length == 2)
    assert(got.map(_.getLong(2)).toSet == Set(101L, 102L))
  }

  test("retrievalMetrics: hand-computed recall@k / RR / nDCG@k, " +
    "zero-hit and missing-from-results queries score 0") {
    // q0: rel {1,2,3}; top-3 = [2(rel), 9, 1(rel)] -> hits 2, rr 1,
    //     dcg = disc(1)+disc(3) = 1.5, idcg(3) = 1 + 1/log2(3) + 0.5
    // q1: rel {5}; results miss -> all zeros
    // q2: labeled {4}, absent from results entirely -> all zeros
    val results = Seq(
      (0L, 2L, 1), (0L, 9L, 2), (0L, 1L, 3),
      (1L, 7L, 1), (1L, 8L, 2)).toDF("q", "id", "rk")
    val rel = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 5L), (2L, 4L))
      .toDF("q", "id")
    val got = Corpus.retrievalMetrics(results, rel, "q", "id", "rk", k = 3)
      .orderBy("q").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.length == 3)
    val (q0, q1, q2) = (got(0), got(1), got(2))
    assert(q0._1 == 0L && q0._2 == 3L && q0._3 == 2L)
    assert(q0._4 == 2.0 / 3.0 && q0._5 == 1.0)
    val disc = Corpus.ndcgDiscounts(3).map(_.doubleValue)
    val expNdcg = (disc(0) + disc(2)) / (disc(0) + disc(1) + disc(2))
    assert(math.abs(q0._6 - expNdcg) < 1e-12, s"ndcg ${q0._6} vs $expNdcg")
    assert(q1 == ((1L, 1L, 0L, 0.0, 0.0, 0.0)))
    assert(q2 == ((2L, 1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("retrievalMetrics: the injected discount table matches 1/log2(r+1) " +
    "to quantization and idcg prefixes sum the discounts exactly") {
    val d = Corpus.ndcgDiscounts(10)
    (1 to 10).foreach { r =>
      val exact = 1.0 / (math.log(r + 1.0) / math.log(2.0))
      assert(math.abs(d(r - 1).doubleValue - exact) < 5e-13, s"r=$r")
    }
    assert(d(0).doubleValue == 1.0)
    assert(d(2).doubleValue == 0.5)
    // the CASE text is valid verbatim in Spark SQL too (the whole point)
    val m = spark.range(1, 11).toDF("rk")
      .selectExpr(Corpus.ndcgDiscountCaseSql("rk", 10) + " AS d")
      .collect().map(_.getDecimal(0).doubleValue)
    assert(m.toSeq == d.map(_.doubleValue).toSeq)
  }

  test("gradedNdcg: hand-computed DCG/IDCG on crafted grades; zero-grade " +
    "queries dropped; labeled query missing from results scores 0") {
    // q0: labels id1 rel3, id2 rel1; results rank1=id2, rank2=id9
    // (unlabeled), rank3=id1 → DCG = 1·disc(1) + 7·disc(3) = 1 + 3.5;
    // IDCG = 7·disc(1) + 1·disc(2). q1: only grade-0 label → dropped.
    // q2: labeled but absent from results → dcg 0, ndcg 0.
    val results = Seq((0L, 2L, 1), (0L, 9L, 2), (0L, 1L, 3), (1L, 1L, 1))
      .toDF("q", "id", "rk")
    val rel = Seq((0L, 1L, 3), (0L, 2L, 1), (1L, 5L, 0), (2L, 7L, 2))
      .toDF("q", "id", "rel")
    val got = Corpus.gradedNdcg(results, rel, "q", "id", "rk", "rel",
        k = 10, maxRel = 3)
      .orderBy("q").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val d = Corpus.ndcgDiscounts(10).map(_.doubleValue)
    val dcg0 = 1.0 * d(0) + 7.0 * d(2)
    val idcg0 = 7.0 * d(0) + 1.0 * d(1)
    assert(got.map(_._1) == Seq(0L, 2L))
    assert(got(0)._2 == 2L)
    assert(math.abs(got(0)._3 - dcg0) < 1e-12)
    assert(math.abs(got(0)._4 - idcg0) < 1e-12)
    assert(math.abs(got(0)._5 - dcg0 / idcg0) < 1e-12)
    assert(got(1) == ((2L, 1L, 0.0, 3.0 * d(0), 0.0)))
  }

  test("histQuantiles: hand-pinned bin edges on a crafted distribution") {
    // group a: token counts 1..10 (one word per token) with width 4 →
    // bins 0 (counts 1..3), 1 (4..7), 2 (8..10); cum 3, 7, 10.
    // p50 rank ceil(10/2)=5 → bin 1, edge 8; p90 rank 9 → bin 2, edge 12;
    // p99 rank ceil(990/100)=10 → bin 2, edge 12.
    val docs = (1 to 10).map(n => ("a", Seq.fill(n)("w").mkString(" "))) :+
      (("b", "w w w")) // single-doc group: every quantile = its own bin edge
    val got = Corpus.histQuantiles(
        docs.toDF("lang", "text"), "text", "lang", binWidth = 4L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("a", 10L, 8L, 12L, 12L), ("b", 1L, 4L, 4L, 4L)))
  }

  test("histQuantiles: sandwich vs the exact order statistic on documents") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val w = 16L
    val est = Corpus.histQuantiles(docs, "text", "lang", binWidth = w)
      .collect().map(r => r.getString(0) ->
        Seq(r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // exact ceil-rank order statistics per lang, computed independently
    val toks = docs.select(col("lang"),
        graft.ops.TextOps.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sorted }
    toks.foreach { case (lang, sorted) =>
      val n = sorted.length
      Seq((1L, 2L), (9L, 10L), (99L, 100L)).zipWithIndex.foreach {
        case ((qn, qd), i) =>
          val exact = sorted(((n * qn + qd - 1) / qd).toInt - 1)
          val e = est(lang)(i)
          assert(exact < e && e <= exact + w,
            s"$lang q$i: exact=$exact est=$e width=$w")
      }
    }
  }

  test("bootstrapMeanCi: CI equals the ceil-rank pick over the replica " +
    "means, degenerate groups collapse to the point estimate") {
    import spark.implicits._
    // heterogeneous group 'a', constant group 'b'
    val docs = ((1 to 40).map(i => (i.toLong, "a",
        (if (i % 4 == 0) 100L else 10L))) ++
      (101 to 120).map(i => (i.toLong, "b", 7L)))
      .toDF("id", "lang", "v")
    val b = 20
    val got = Corpus.bootstrapMeanCi(docs, "id", "v", "lang", b)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4)))).toMap

    // independent CI selection from the public replica half
    val means = Corpus.bootstrapReplicaMeans(docs, "id", "v", "lang", b)
      .filter(col("mean_b").isNotNull)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    def pick(lang: String, qn: Int): Double = {
      val ms = means.filter(_._1 == lang).sortBy(r => (r._3, r._2))
      ms(((ms.size * qn + 99) / 100) - 1)._3
    }
    assert(got("a")._3 == pick("a", 5) && got("a")._4 == pick("a", 95))
    assert(got("a")._3 <= got("a")._4)
    // constant group: every resampled mean is the constant
    assert(got("b") == ((20L, 7.0, 7.0, 7.0)))
    // point estimate: exact mean of the raw values
    val exactA = ((1 to 40).map(i => if (i % 4 == 0) 100L else 10L)
      .sum).toDouble / 40
    assert(got("a")._2 == exactA && got("a")._1 == 40L)
    // the resampling really varies for the heterogeneous group
    assert(means.filter(_._1 == "a").map(_._3).distinct.size > 1)
  }

  test("scalingLaws: a doubling corpus fits Heaps slope exactly 1, a " +
    "uniform head fits Zipf slope 0, and a one-point fit reads NULL") {
    val docs = Seq(
      (1L, "a b"),
      (2L, "c d"),
      (3L, "e f g h"),
      (4L, "i j k l m n o p")
    ).toDF("doc_id", "text")
    // stride 1: checkpoints (ct, cv) = (2,2),(4,4),(8,8),(16,16) ->
    // whole-bit points (1,1)..(4,4), slope exactly 1
    val got = Corpus.scalingLaws(docs, "doc_id", "text",
        stride = 1L, topR = 4)
      .orderBy("law").collect()
    val heaps = got(0); val zipf = got(1)
    assert(heaps.getString(0) == "heaps" && heaps.getLong(1) == 4L &&
      heaps.getLong(2) == 20L && heaps.getLong(3) == 20L &&
      heaps.getDouble(4) == 1.0)
    // every head token has c=1 -> y=0 everywhere -> slope exactly 0
    assert(zipf.getString(0) == "zipf" && zipf.getLong(1) == 4L &&
      zipf.getLong(2) == 0L && zipf.getLong(3) == 8L &&
      zipf.getDouble(4) == 0.0)
    // one bucket -> one Heaps point -> zero denominator -> NULL slope
    val one = Corpus.scalingLaws(docs, "doc_id", "text",
        stride = 50L, topR = 4)
      .orderBy("law").collect().head
    assert(one.getString(0) == "heaps" && one.getLong(1) == 1L &&
      one.isNullAt(4))
  }

  test("fertilityTable: exact word denominators, >= 1 word-splitting " +
    "bounds, NULL on a wordless group, and determinism") {
    val docs = Seq(
      ("en", "the cat sat on the mat"),
      ("en", "the cat ran"),
      ("xx", "zqzqzq vexing wxyz"),
      ("punct", "... !!! ...")
    ).toDF("lang", "text")
    val merges = TextOps.trainBpeMerges(docs, "text", nMerges = 10)
    val uni = UnigramTokenizer.train(docs, "text", vocabSize = 30)
    val bb = TextOps.trainByteBpeMerges(docs, "text", nMerges = 20)
    val wp = TextOps.trainWordPieceVocab(docs, "text", nMerges = 10)
    def run() = Corpus.fertilityTable(docs, "lang", "text",
        merges, uni.pieces, bb, wp)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4),
        if (r.isNullAt(5)) -1.0 else r.getDouble(5))).toSeq
    val got = run()
    val byLang = got.map(r => r._1 -> r).toMap
    assert(byLang("en")._2 == 9L && byLang("xx")._2 == 3L)
    // word-anchored tokenizers emit >= 1 subword per word
    Seq("en", "xx").foreach { l =>
      assert(byLang(l)._3 >= 1.0 && byLang(l)._4 >= 1.0 &&
        byLang(l)._5 >= 1.0, l)
    }
    // the alpha tokenizers see no [A-Za-z] word in "..." yet the
    // whitespace denominator counts 3 runs — fertility is defined
    // (n_words > 0), just small; a TRULY wordless group would be NULL
    assert(byLang("punct")._2 == 3L)
    assert(got == run(), "two evaluations over trained tables agree")
  }

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    f"${new java.math.BigInteger(1, d)}%032x"
  }

  test("shrunkGroupRate: small perfect-rate groups shrink below large " +
    "near-perfect ones, values match the cleared rational, m=0 is the " +
    "raw rate") {
    // A: 2/2, B: 95/100, C: 3/98 -> N=200, K=100, corpus rate 1/2
    val df = (Seq.fill(2)("A" -> true) ++
      Seq.fill(95)("B" -> true) ++ Seq.fill(5)("B" -> false) ++
      Seq.fill(3)("C" -> true) ++ Seq.fill(95)("C" -> false))
      .toDF("source", "pass")
    val got = Corpus.shrunkGroupRate(df, "source", "pass", m = 20)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(got("A")._2 == 2L && got("A")._3 == 2L && got("A")._4 == 1.0)
    // the cleared rational (k*N + m*K) / (N*(n + m)), same IEEE division
    assert(got("A")._5 == (2.0 * 200 + 20 * 100) / (200.0 * 22))
    assert(got("B")._5 == (95.0 * 200 + 20 * 100) / (200.0 * 120))
    // the EB point: raw says A > B, shrunk says B > A
    assert(got("A")._4 > got("B")._4 && got("B")._5 > got("A")._5)
    // m=0 degenerates to the raw rate
    val raw = Corpus.shrunkGroupRate(df, "source", "pass", m = 0)
      .as[(String, Long, Long, Double, Double)].collect()
    raw.foreach(x => assert(x._5 == x._4, s"m=0 must be raw: $x"))
  }

  test("stratifiedExactK: Hamilton quotas sum to k, leftover seats go " +
    "to the largest remainders (ties to the smaller stratum), and each " +
    "stratum draws exactly its quota smallest md5 keys") {
    val df = ((1L to 5L).map(_ -> "A") ++ (6L to 8L).map(_ -> "B") ++
      (9L to 10L).map(_ -> "C")).toDF("id", "s")
    // N=10, k=4: bases A=2 B=1 C=0, remainders 0/2/8, one leftover -> C
    val got = Corpus.stratifiedExactK(df, "id", "s", k = 4, seed = "sd")
      .as[(Long, String, Long, Long)].collect()
    val quotas = got.map(x => x._2 -> x._4).toMap
    assert(quotas == Map("A" -> 2L, "B" -> 1L, "C" -> 1L))
    val byStratum = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byStratum.map { case (s, ids) => s -> ids.size.toLong } == quotas,
      "each stratum draws exactly its quota")
    // driver replay of the p16 reservoir per stratum
    val strata = Map("A" -> (1L to 5L), "B" -> (6L to 8L), "C" -> (9L to 10L))
    strata.foreach { case (s, ids) =>
      val want = ids.sortBy(id => (md5hex(s"sd:$id"), id))
        .take(quotas(s).toInt).toSet
      assert(byStratum(s) == want, s"stratum $s draw")
    }
    // remainder TIE goes to the lexicographically smaller stratum:
    // sizes 3/3/4, k=5 -> bases 1/1/2, remainders 5/5/0, one seat -> A
    val tie = ((1L to 3L).map(_ -> "A") ++ (4L to 6L).map(_ -> "B") ++
      (7L to 10L).map(_ -> "C")).toDF("id", "s")
    val tq = Corpus.stratifiedExactK(tie, "id", "s", k = 5, seed = "sd")
      .as[(Long, String, Long, Long)].collect().map(x => x._2 -> x._4).toMap
    assert(tq == Map("A" -> 2L, "B" -> 1L, "C" -> 2L))
    // k = N keeps everything; k = 0 keeps nothing
    assert(Corpus.stratifiedExactK(df, "id", "s", 10, "sd").count() == 10L)
    assert(Corpus.stratifiedExactK(df, "id", "s", 0, "sd").count() == 0L)
  }

  test("yuleK: hand example, all-distinct K = 0, empty doc NULL") {
    val df = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, ""))
      .toDF("doc_id", "text")
    val got = Corpus.yuleK(df, "doc_id", "text").orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3))))
    // counts a:3 b:2 -> sq = 13, n = 5, K = 1e4 * 8 / 25 = 3200
    assert(got(0) == ((1L, 5L, 13L, Some(3200.0))))
    assert(got(1) == ((2L, 3L, 3L, Some(0.0))))
    assert(got(2) == ((3L, 0L, 0L, None)))
  }

  test("dirichletQlTopK: hand-pinned whole-bit surprisal, absent terms " +
    "score background bits, within-bit ties break by matched mass") {
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    // corpus: |C| = 5, cf(x)=2, cf(y)=2, cf(z)=1
    val queries = Seq((0, "x"), (1, "y"), (2, "x"), (2, "z"))
      .toDF("query_id", "term")
    val got = Corpus.dirichletQlTopK(docs, "doc_id", "text", queries,
        k = 10)
      .orderBy("query_id", "rk").collect()
      .map(r => (r.getInt(0), r.getInt(1).toLong, r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // q0 "x": only d1 matches; num = 2*5 + 2000*2 = 4010,
    // den = (3+2000)*5 = 10015, 10015 div 4010 = 2 -> bits 2
    assert(got.filter(_._1 == 0).toSeq == Seq((0, 1L, 1L, 2L, 2L)))
    // q1 "y": both match with bits 2; tie (equal mtf 1) -> id order
    assert(got.filter(_._1 == 1).map(r => (r._2, r._3, r._4)).toSeq ==
      Seq((1L, 1L, 2L), (2L, 2L, 2L)))
    // q2 "x z": both candidates total 5 bits (match 2 + background 3);
    // d1's matched mass 2 beats d2's 1
    assert(got.filter(_._1 == 2).map(r => (r._2, r._3, r._4, r._5)).toSeq
      == Seq((1L, 1L, 5L, 2L), (2L, 2L, 5L, 1L)))
  }

  test("pearsonMatrix: perfect +/- correlation, an independent pair, " +
    "zero variance NULL, non-long rejection") {
    // y = 2x (r = 1), z = -x (r = -1 with x), w constant (NULL), and
    // v = [1,3,2] partially correlated with x = [1,2,3]:
    // num = 3*13 - 6*6 = 3, dx = dy = 3*14 - 36 = 6
    val df = Seq((1L, 2L, -1L, 7L, 1L), (2L, 4L, -2L, 7L, 3L),
      (3L, 6L, -3L, 7L, 2L)).toDF("x", "y", "z", "w", "v")
    val got = Corpus.pearsonMatrix(df, Seq("x", "y", "z", "w", "v"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    // replay the op's exact IEEE trees: sqrt(6)*sqrt(24) is an ulp off
    // 12, so r(x,y) is 1 + 1ulp — pinning the tree, not the ideal value
    assert(got(("x", "y")).contains(
      12.0 / (math.sqrt(6.0) * math.sqrt(24.0))))
    assert(got(("x", "z")).contains(
      -6.0 / (math.sqrt(6.0) * math.sqrt(6.0))))
    assert(got(("x", "w")).isEmpty && got(("y", "w")).isEmpty)
    // replay the exact IEEE tree for the (x, v) pair
    val rxv = 3.0 / (math.sqrt(6.0) * math.sqrt(6.0))
    assert(got(("x", "v")).contains(rxv))
    intercept[IllegalArgumentException] {
      Corpus.pearsonMatrix(Seq((1.5, 2L)).toDF("a", "b"), Seq("a", "b"))
    }
  }

  test("budgetSelect: maximal score-ordered prefix, docs atomic at the " +
    "boundary, score-tie broken by id, non-long score rejected") {
    val df = Seq((1L, 5L, 900L), (2L, 4L, 800L), (3L, 10L, 700L),
      (4L, 1L, 800L)).toDF("id", "w", "q")
    // order: 1(q900,w5), 2(q800,w4), 4(q800 tie -> id,w1), 3(q700,w10)
    // budget 10: cum 5, 9, 10, 20 -> keep {1,2,4}; doc 3 would overflow
    val got = Corpus.budgetSelect(df, "id", "w", "q", budget = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got == Map(1L -> 5L, 2L -> 9L, 4L -> 10L))
    // zero budget keeps nothing; a doc larger than the budget is skipped
    assert(Corpus.budgetSelect(df, "id", "w", "q", 0L).count() == 0L)
    intercept[IllegalArgumentException] {
      Corpus.budgetSelect(Seq((1L, 2L, 1.5)).toDF("id", "w", "q"),
        "id", "w", "q", 10L)
    }
  }

  test("noveltyRate: first doc all-new, exact repeat contributes zero, " +
    "partial overlap counted, sub-bigram docs NULL") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "b c d e"),
      (4L, "x")).toDF("doc_id", "text")
    // doc 1: {a b, b c} both new (2/2); doc 2 exact repeat (0/2);
    // doc 3: {b c, c d, d e} -> b c seen, 2/3 new; doc 4: no bigram
    val got = Corpus.noveltyRate(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3))))).toMap
    assert(got(1L) == ((2L, 2L, Some(1.0))))
    assert(got(2L) == ((2L, 0L, Some(0.0))))
    assert(got(3L) == ((3L, 2L, Some(2.0 / 3))))
    assert(got(4L) == ((0L, 0L, None)))
  }

  test("chi2Outliers: hand-computed statistic incl. the closed-form " +
    "zero-observed fold, and the stuffed doc flags while balanced docs " +
    "pass") {
    // background: a=3, b=2, c=3 -> top-2 by (cnt desc, token asc) =
    // {a:3, c:3}, N=8, sum_top=6, tail=2
    val docs = Seq((1L, "a a b"), (2L, "a b"), (3L, "c c c"))
      .toDF("doc_id", "text")
    val got = Corpus.chi2Outliers(docs, "doc_id", "text", topK = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSeq
    // doc1 (a a b): buckets a(exp 1.125, obs 2), c(exp 1.125, obs 0),
    //   tail(exp .75, obs 1) -> 0.68056 + 1.125 + 0.08333 = 1.88889
    // doc2 (a b):   a(.75, 1), c(.75, 0), tail(.5, 1) -> 1.33333
    // doc3 (c c c): a(1.125, 0), c(1.125, 3), tail(.75, 0) -> 5.0
    val eps = 1e-4
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(got.map(_._2) == Seq(3L, 2L, 3L))
    assert(math.abs(got(0)._3 - (0.875 * 0.875 / 1.125 + 1.125 +
      0.25 * 0.25 / 0.75)) < eps)
    assert(math.abs(got(1)._3 - (0.25 * 0.25 / 0.75 + 0.75 +
      0.5 * 0.5 / 0.5)) < eps)
    assert(math.abs(got(2)._3 - 5.0) < eps)
    // flag line = 2*topK = 4: only the stuffed doc3 crosses it
    assert(got.map(_._4) == Seq(false, false, true))
  }

  test("chi2Independence: hand-computed 2x2 chi-square and Cramer's V; " +
    "a single-category axis reads NULL") {
    // cells: (en,s1)=3 (en,s2)=1 (fr,s1)=1 (fr,s2)=3; N=8, all
    // margins 4 -> exp=2 everywhere -> chi2 = 4 * (1/2) = 2.0,
    // df=1, V = sqrt(2 / (8*1)) = 0.5
    val docs = (Seq.fill(3)(("en", "s1")) ++ Seq(("en", "s2")) ++
      Seq(("fr", "s1")) ++ Seq.fill(3)(("fr", "s2")))
      .toDF("lang", "source")
    val r = Corpus.chi2Independence(docs, "lang", "source").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") == 8L &&
      row.getAs[Long]("df") == 1L)
    assert(math.abs(row.getAs[Double]("chi2") - 2.0) < 1e-9)
    assert(math.abs(row.getAs[Double]("cramers_v") - 0.5) < 1e-9)
    // degenerate: one language only -> NULL chi2 and V
    val one = Corpus.chi2Independence(
      docs.withColumn("lang", lit("en")), "lang", "source").collect().head
    assert(one.isNullAt(one.fieldIndex("chi2")) &&
      one.isNullAt(one.fieldIndex("cramers_v")))
  }

  test("sentenceChunks: greedy boundary-respecting pack — a chunk " +
    "closes when the next sentence would overflow, an overlong " +
    "sentence gets its own oversize chunk") {
    val docs = Seq(
      (1L, "a b. c d e. f g. h."),        // 2,3,2,1 tokens
      (2L, "x. a b c d e f. y.")          // 1,6,1 — middle overflows
    ).toDF("doc_id", "text")
    def run(budget: Int) =
      Corpus.sentenceChunks(docs, "doc_id", "text", budget)
        .orderBy("doc_id", "chunk_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // budget 5: doc1 packs (s0,s1)=5 tok then (s2,s3)=3;
    // doc2: s0 alone can't host s1 (1+6>5) -> s1 is its own OVERSIZE
    // chunk (6 > budget), s2 starts chunk 2
    assert(run(5) == Seq(
      (1L, 0L, 2L, 5L, 0L, 1L), (1L, 1L, 2L, 3L, 2L, 3L),
      (2L, 0L, 1L, 1L, 0L, 0L), (2L, 1L, 1L, 6L, 1L, 1L),
      (2L, 2L, 1L, 1L, 2L, 2L)))
    // a huge budget packs each doc into one chunk
    assert(run(100) == Seq(
      (1L, 0L, 4L, 8L, 0L, 3L), (2L, 0L, 3L, 8L, 0L, 2L)))
  }
}

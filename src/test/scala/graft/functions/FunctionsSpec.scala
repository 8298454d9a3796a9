package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("DotProduct matches manual computation and handles length mismatch") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val v = df.select(VectorExpressions.dot(col("a"), col("b")))
      .collect().head.getDouble(0)
    assert(v == 32.0)
    val short = Seq((Array(1.0, 2.0), Array(3.0))).toDF("a", "b")
      .select(VectorExpressions.dot(col("a"), col("b")))
      .collect().head.getDouble(0)
    assert(short == 3.0) // min-length semantics
  }

  test("DotProduct is null-safe") {
    val df = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    assert(df.select(VectorExpressions.dot(col("a"), col("b")))
      .collect().head.isNullAt(0))
  }

  test("RollingHash matches an independent lambda formulation on ASCII text") {
    // the lambda rolling hash (formerly TextOps.fingerprint) lives here as
    // the test oracle for the native RollingHash expression
    def lambdaFingerprint(text: org.apache.spark.sql.Column) =
      aggregate(split(text, ""), lit(0L),
        (acc, ch) => pmod(
          acc * lit(31L) + coalesce(ascii(ch).cast("long"), lit(0L)),
          lit(1000000007L)))
    val df = Seq("abc", "the quick brown fox", "").toDF("text")
    val rows = df.select(
      TextExpressions.fingerprint(col("text")).as("native"),
      lambdaFingerprint(col("text")).as("lambda"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("CharEntropyExpr: hand-computed whole-bit entropy, empty string, " +
    "and per-byte multi-byte accounting") {
    val df = Seq("aaaa", "ab", "aab", "", "é").toDF("text")
    val rows = df.select(
        TextExpressions.charEntropy(col("text")).as("e"))
      .select(col("e.n_bytes"), col("e.h_bits"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // aaaa: n=4, one byte with c=4 -> floor(log2(1))=0 per byte -> 0
    // ab:   n=2, two bytes c=1 -> floor(log2(2))=1 each -> 2
    // aab:  n=3, a:c=2 -> floor(log2(3/2=1))=0; b:c=1 -> floor(log2(3))=1
    // "":   (0, 0)
    // é:    2 UTF-8 bytes, each once -> 1 bit each -> 2 (per-BYTE contract)
    assert(rows == Seq((4L, 0L), (2L, 2L), (3L, 1L), (0L, 0L), (2L, 2L)))
  }

  test("SignPack interpreted eval matches codegen and is deterministic") {
    val vecs = Seq(
      Array(1.0, -2.0, 3.0, 0.5),
      Array(-1.0, -1.0, -1.0, -1.0),
      Array(0.0, 0.0, 0.0, 0.0))
    val df = vecs.toDF("v")
    val viaCodegen = df.select(
      VectorExpressions.signPack(col("v"), 12).as("b")).collect().map(_.getLong(0))
    // interpreted path: evaluate the expression directly
    val viaEval = vecs.map { v =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(v)
      SignPack(org.apache.spark.sql.catalyst.expressions.Literal(
        arr, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)), 12).eval(null)
    }
    assert(viaCodegen.toSeq == viaEval.toSeq)
    // buckets land in [0, 2^12)
    viaCodegen.foreach(b => assert(b >= 0 && b < 4096))
  }

  test("NearestCentroid(s) match a brute-force argsort with low-index ties") {
    // deterministic pseudo-random vectors + centroids, including exact
    // ties (duplicate centroids) to pin the lowest-index tie rule
    def vec(seed: Int, dim: Int): Array[Double] =
      Array.tabulate(dim)(j => ((seed * 31 + j * 7) % 13 - 6).toDouble)
    val cents: Array[Array[Double]] =
      Array.tabulate(6)(i => vec(i, 5)) :+ vec(2, 5) // index 6 == index 2
    val rows = (0 until 50).map(i => Tuple1(vec(i + 100, 5)))
    val df = rows.toDF("v")
    def brute(q: Array[Double], n: Int): Seq[Int] =
      cents.zipWithIndex.map { case (c, i) =>
        val d2 = q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
        (d2, i)
      }.sortBy(identity).take(n).map(_._2).toSeq
    val got = df.select(
        VectorExpressions.nearestCentroid(col("v"), cents).as("one"),
        VectorExpressions.nearestCentroids(col("v"), cents, 3).as("three"))
      .collect()
    rows.map(_._1).zip(got).foreach { case (q, r) =>
      assert(r.getInt(0) == brute(q, 1).head)
      assert(r.getSeq[Int](1).toSeq == brute(q, 3))
    }
  }

  test("CentroidDot / CentroidResidual match manual math per selected row") {
    def vec(seed: Int, dim: Int): Array[Double] =
      Array.tabulate(dim)(j => ((seed * 31 + j * 7) % 13 - 6).toDouble)
    val cents: Array[Array[Double]] = Array.tabulate(4)(i => vec(i, 5))
    val rows = (0 until 20).map(i => (vec(i + 100, 5), i % 4))
    val df = rows.toDF("v", "idx")
    val got = df.select(
        VectorExpressions.centroidDot(col("v"), col("idx"), cents).as("d"),
        VectorExpressions.centroidResidual(col("v"), col("idx"), cents).as("r"))
      .collect()
    rows.zip(got).foreach { case ((q, i), r) =>
      val c = cents(i)
      assert(r.getDouble(0) == q.zip(c).map { case (a, b) => a * b }.sum)
      assert(r.getSeq[Double](1).toSeq ==
        q.zip(c).map { case (a, b) => a - b }.toSeq)
    }
    // null-safe: null vector or index yields null, not a crash
    val nulls = Seq((null: Seq[Double], 0)).toDF("v", "idx")
      .select(VectorExpressions.centroidDot(col("v"), col("idx"), cents))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("Sq8Encode/Sq8Dot: byte codes reconstruct the dot within delta/2 " +
    "per dim; clamping and the unsigned high range behave") {
    val mins = Array(0.0, -10.0, 5.0)
    val deltas = Array(1.0, 0.1, 1.0)
    val df = Seq((Array(3.0, 9.9, 5.0), Array(2.0, 1.0, 4.0)))
      .toDF("v", "p")
    // codes: (3-0)/1=3; (9.9+10)/0.1=199 (>127: unsigned byte range);
    // (5-5)/1=0
    val codes = df.select(
      VectorExpressions.sq8Encode(col("v"), mins, deltas))
      .collect().head.getAs[Array[Byte]](0)
    assert(codes.map(_ & 0xFF).toSeq == Seq(3, 199, 0))
    // decode: mins + codes*deltas = (3.0, 9.9, 5.0) exactly here, so
    // base + sq8Dot(scaled p, codes) = dot(p, v) = 6 + 9.9 + 20
    val scaled = Array(2.0 * 1.0, 1.0 * 0.1, 4.0 * 1.0)
    val base = 2.0 * 0.0 + 1.0 * (-10.0) + 4.0 * 5.0
    val adc = df.select(VectorExpressions.sq8Dot(
        typedlit(scaled.toSeq), VectorExpressions.sq8Encode(col("v"), mins, deltas)))
      .collect().head.getDouble(0)
    assert(math.abs((base + adc) - (6.0 + 9.9 + 20.0)) < 1e-9)
    // out-of-range values clamp to the byte ends instead of wrapping
    val clamped = Seq((Array(-5.0, 100.0, 5.0), Array(0.0, 0.0, 0.0)))
      .toDF("v", "p")
      .select(VectorExpressions.sq8Encode(col("v"), mins, deltas))
      .collect().head.getAs[Array[Byte]](0)
    assert(clamped.map(_ & 0xFF).toSeq == Seq(0, 255, 0))
  }

  test("NGramHashSet: hashes equal builtin xxhash64 of the joined grams") {
    val df = Seq("a b c d", "x x x").toDF("text")
    val got = df.select(
      explode(HashExpressions.ngramHashSet(col("text"), 2)).as("h"))
      .collect().map(_.getLong(0)).toSet
    // reference: explicit bigram strings through the builtin xxhash64
    val ref = df.select(explode(graft.ops.TextOps.bigramSet(col("text"))).as("g"))
      .select(xxhash64(col("g"))).collect().map(_.getLong(0)).toSet
    assert(got == ref)
  }

  test("NGramHashSet: distinct set, window wider than doc is empty") {
    val one = Seq("p q p q p q").toDF("text")
    // bigrams: "p q" and "q p" only — repeats deduped
    assert(one.select(size(HashExpressions.ngramHashSet(col("text"), 2)))
      .collect().head.getInt(0) == 2)
    assert(Seq("a b").toDF("text")
      .select(size(HashExpressions.ngramHashSet(col("text"), 3)))
      .collect().head.getInt(0) == 0)
    // n=1 is the distinct-token hash set
    assert(one.select(size(HashExpressions.ngramHashSet(col("text"), 1)))
      .collect().head.getInt(0) == 2)
  }

  test("NGramList: values equal the HOF zip_with/transform formulations, " +
    "in order, with multiplicity; short docs yield empty") {
    val df = Seq("the cat sat on the cat sat", "a b", "a", "",
      "  double  spaced  ").toDF("text")
    // reference: the pre-r15 interpreted formulations, inlined here as
    // the oracle for the fused expression that replaced them
    def toks(t: org.apache.spark.sql.Column) =
      filter(split(t, " "), x => x =!= lit(""))
    def bigramHof(t: org.apache.spark.sql.Column) = {
      val tk = toks(t)
      zip_with(
        slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    def trigramHof(t: org.apache.spark.sql.Column) = {
      val tk = toks(t)
      when(size(tk) >= 3,
        transform(sequence(lit(0), size(tk) - 3), i => concat_ws(" ",
          element_at(tk, i + 1), element_at(tk, i + 2),
          element_at(tk, i + 3))))
        .otherwise(array().cast("array<string>"))
    }
    val rows = df.select(
      HashExpressions.ngramList(col("text"), 2).as("n2"),
      bigramHof(col("text")).as("h2"),
      HashExpressions.ngramList(col("text"), 3).as("n3"),
      trigramHof(col("text")).as("h3")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r)
      assert(r.getSeq[String](2) == r.getSeq[String](3), r)
    }
    // multiplicity preserved: "the cat" appears twice in doc order
    assert(rows.head.getSeq[String](0).count(_ == "the cat") == 2)
  }

  test("SortedCommonCount: equals size(array_intersect) on sorted distinct " +
    "long arrays; null-safe; disjoint and identical edges") {
    val df = Seq(
      (Array(1L, 3L, 7L, 9L), Array(2L, 3L, 9L, 11L)), // overlap 2
      (Array(1L, 2L), Array(3L, 4L)), // disjoint
      (Array(5L, 6L, 7L), Array(5L, 6L, 7L)), // identical
      (Array.empty[Long], Array(1L))) // empty side
      .toDF("a", "b")
    val rows = df.select(
      HashExpressions.sortedCommonCount(col("a"), col("b")).as("c"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 0L, 3L, 0L))
    val nullRow = Seq((Some(Array(1L)), Option.empty[Array[Long]]))
      .toDF("a", "b")
      .select(HashExpressions.sortedCommonCount(col("a"), col("b")))
      .collect().head
    assert(nullRow.isNullAt(0))
  }

  test("ExpensiveBarrier: transparent values, reports non-deterministic, " +
    "keeps the inferred explode filter off the expression") {
    val df = Seq("a b c", "x").toDF("text")
    val wrapped = df.select(HashExpressions.expensive(
      HashExpressions.ngramHashSet(col("text"), 2)).as("arr"))
    val plain = df.select(
      HashExpressions.ngramHashSet(col("text"), 2).as("arr"))
    assert(wrapped.collect().map(_.getSeq[Long](0)).toSeq ==
      plain.collect().map(_.getSeq[Long](0)).toSeq)
    // the point of the wrapper: a filter inferred from a downstream
    // explode must not be substituted through the alias (which would
    // re-evaluate the expression below a preceding exchange)
    val p = df.repartition(2)
      .select(col("text"), HashExpressions.expensive(
        HashExpressions.ngramHashSet(col("text"), 2)).as("arr"))
      .select(explode(col("arr")))
      .queryExecution.executedPlan.toString
    val belowExchange = p.linesIterator.dropWhile(!_.contains("Exchange"))
    assert(!belowExchange.exists(_.contains("graft_ngram_hash_set")), p)
  }

  test("crossNGramOverlap: finds the planted shared 5-gram, counts exactly") {
    val left = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words here entirely")).toDF("id", "text")
    val right = Seq(
      (10L, "prefix words then the quick brown fox jumps again"),
      (11L, "no overlap at all in this one")).toDF("id", "text")
    val got = graft.ops.Dedup.crossNGramOverlap(left, right, "text", "id", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // exactly one shared 5-gram: "the quick brown fox jumps"
    assert(got == Seq((1L, 10L, 1L)))
  }

  test("crossNGramOverlapBloom is bit-identical to the plain overlap " +
    "on a corpus with planted leaks (exactness despite the prefilter)") {
    // 200 left docs over a small vocab (plenty of shared 3-grams, so
    // Bloom false negatives would be caught as missing pairs), 20 right
    val doc = (seed: Long) => (0 until 12)
      .map(j => s"w${(seed * 31 + j * 7) % 19}").mkString(" ")
    val left = (0L until 200L).map(i => (i, doc(i))).toDF("id", "text")
    val right = (1000L until 1020L).map(i => (i, doc(i % 13))).toDF("id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val plain = canon(graft.ops.Dedup.crossNGramOverlap(
      left, right, "text", "id", n = 3, minShared = 2L))
    val bloom = canon(graft.ops.Dedup.crossNGramOverlapBloom(
      left, right, "text", "id", n = 3, minShared = 2L,
      expectedItems = 1000L))
    assert(plain.nonEmpty, "fixture must plant leaks")
    assert(bloom == plain)
    // an empty right side builds an empty filter: no pairs, no error
    assert(graft.ops.Dedup.crossNGramOverlapBloom(left, right.limit(0),
      "text", "id", n = 3, expectedItems = 1000L).isEmpty)
  }

  test("GraftExtensions registers SQL functions") {
    // getOrCreate returns the suite's existing session (withExtensions only
    // affects newly-built sessions), so use runtime registration
    val s2 = spark
    graft.GraftExtensions.register(s2)
    val fp = s2.sql("SELECT graft_fingerprint('abc') AS fp")
      .collect().head.getLong(0)
    assert(fp == ((97L * 31 + 98) * 31 + 99) % 1000000007L)
    val dot = s2.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(dot == 11.0)
    // the fused signature exprs are SQL-reachable too
    val bg = s2.sql("SELECT graft_bigram_set('a b c') AS g")
      .collect().head.getSeq[String](0)
    assert(bg.toSet == Set("a b", "b c"))
    val sh = s2.sql(
      "SELECT graft_simhash64(array('tok')) AS h, graft_simhash64(array('tok')) AS h2")
      .collect().head
    assert(sh.getLong(0) == sh.getLong(1)) // deterministic
    // n-gram hash set agrees with the builtin hash of the gram string
    val ng = s2.sql(
      "SELECT graft_ngram_hash_set('a b c', 3) AS g, xxhash64('a b c') AS r")
      .collect().head
    assert(ng.getSeq[Long](0) == Seq(ng.getLong(1)))
    // composed operators expand to the same tree the DataFrame API builds
    val txt = "the cat sat with the dog and that was all they have seen"
    val sqlRow = s2.sql(
      s"""SELECT graft_quality_score('$txt') AS q, graft_lang_id('$txt') AS l,
            graft_gopher_pass('$txt', 5, 100, 2) AS p""").collect().head
    val dfRow = Seq(txt).toDF("t").select(
      graft.ops.TextOps.qualityScore(col("t")),
      graft.ops.TextOps.langId(col("t")),
      graft.ops.TextOps.gopherPass(col("t"), 5, 100, 2)).collect().head
    assert(sqlRow.getDouble(0) == dfRow.getDouble(0))
    assert(sqlRow.getString(1) == dfRow.getString(1) &&
      sqlRow.getString(1) == "en")
    assert(sqlRow.getBoolean(2) == dfRow.getBoolean(2) &&
      sqlRow.getBoolean(2))
    // r8c cleaning functions reach SQL with the same expression tree
    val page = "the cat sat on the mat today.\\nno punct line\\nno punct line"
    val clean = s2.sql(
      s"""SELECT graft_c4_clean('$page', 5) AS c,
            graft_dedup_doc_lines('$page') AS d""").collect().head
    assert(clean.getString(0) == "the cat sat on the mat today.")
    assert(clean.getString(1) ==
      "the cat sat on the mat today.\nno punct line")
  }
}

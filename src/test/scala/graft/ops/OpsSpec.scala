package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c).collect().head.get(0)

  test("tokens drop empties from repeated/trailing spaces") {
    assert(one("a  b c ", size(TextOps.tokens(col("text")))) == 3)
    assert(one("", size(TextOps.tokens(col("text")))) == 0)
  }

  test("readability: hand-pinned Flesch-Kincaid counts — vowel-less " +
    "words still count one syllable, sentence floor, zero-word NULL") {
    def r(text: String) = Seq(text).toDF("text")
      .select(TextOps.readability(col("text")).as("r"))
      .select("r.n_words", "r.n_sent", "r.n_syll", "r.fk_grade")
      .collect().head
    // "The cat sat. It ran!" -> W=5, S=2, one vowel group per word
    // (e, a, a, I, a) -> Y=5
    val a = r("The cat sat. It ran!")
    assert(a.getLong(0) == 5 && a.getLong(1) == 2 && a.getLong(2) == 5)
    val g = 0.39 * (5.0 / 2) + 11.8 * (5.0 / 5) - 15.59
    assert(a.getDouble(3) == g, "grade must replay the exact IEEE tree")
    // vowel-less words fall back to one syllable each: "xz hm." ->
    // W=2, vowel groups 0, syllables 0 + (2 - 0) = 2
    val b = r("xz hm.")
    assert(b.getLong(0) == 2 && b.getLong(2) == 2)
    // y counts as a vowel: "rhythm" -> one group
    val c = r("rhythm")
    assert(c.getLong(2) == 1 && c.getLong(1) == 1) // sentence floor
    // zero words -> NULL grade
    assert(r("123 !!!").isNullAt(3))
    // adjacent vowels collapse to one group: "queue" -> 1
    assert(r("queue").getLong(2) == 1)
  }

  test("bigramSet bridges multi-space gaps like the token stream") {
    val bs = one("a  b c", TextOps.bigramSet(col("text")))
      .asInstanceOf[scala.collection.Seq[String]].toSet
    assert(bs == Set("a b", "b c"))
  }

  test("langId picks the marker-dominant language, ties go to priority") {
    assert(one("the cat of the house and a dog", TextOps.langId(col("text"))) == "en")
    assert(one("el perro y la casa de los gatos", TextOps.langId(col("text"))) == "es")
    assert(one("xyzzy blorp", TextOps.langId(col("text"))) == "en") // all-zero tie
  }

  test("token counts: whitespace vs BPE-ish") {
    assert(one("hello world42 x!", TextOps.tokenCount(col("text"))) == 3)
    // [hello][world][4][2][x][!]
    assert(one("hello world42 x!", TextOps.bpeTokenCount(col("text"))) == 6)
  }

  test("redactPii strips emails and phones, counts them, keeps clean text") {
    val t = "write bob.smith+x@ex-ample.co.uk or call 555-123-4567 now"
    assert(one(t, TextOps.redactPii(col("text"))) ==
      "write <EMAIL> or call <PHONE> now")
    assert(one(t, TextOps.emailCount(col("text"))) == 1)
    assert(one(t, TextOps.phoneCount(col("text"))) == 1)
    val clean = "no personal data here"
    assert(one(clean, TextOps.redactPii(col("text"))) == clean)
    assert(one(clean, TextOps.emailCount(col("text"))) == 0)
  }

  test("luhn card redaction: valid cards redacted, invalid and " +
    "phone-shaped runs pass through") {
    // 4111-1111-1111-1111 is the canonical Luhn-valid test PAN; flipping
    // the check digit makes it invalid (Luhn catches every single-digit
    // substitution)
    val valid = "pay 4111-1111-1111-1111 today"
    assert(one(valid, TextOps.redactCards(col("text"))) == "pay <CARD> today")
    assert(one(valid, size(TextOps.validCards(col("text")))) == 1)
    val invalid = "ref 4111-1111-1111-1112 today"
    assert(one(invalid, TextOps.redactCards(col("text"))) == invalid)
    assert(one(invalid, size(TextOps.cardCandidates(col("text")))) == 1)
    assert(one(invalid, size(TextOps.validCards(col("text")))) == 0)
    val mixed = "a 4111-1111-1111-1111 b 1234-5678-9012-3456 c"
    assert(one(mixed, TextOps.redactCards(col("text"))) ==
      "a <CARD> b 1234-5678-9012-3456 c")
    // space separators validate too; a phone number is not a candidate
    assert(one("4111 1111 1111 1111", size(TextOps.validCards(col("text")))) == 1)
    assert(one("call 555-123-4567 now",
      size(TextOps.cardCandidates(col("text")))) == 0)
  }

  test("deflateLen matches a direct java.util.zip reference; repetitive " +
    "text compresses far better than varied text") {
    import graft.functions.TextExpressions.deflateLen
    def ref(s: String): (Int, Int) = {
      val bytes = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6, true)
      try {
        d.setInput(bytes); d.finish()
        val buf = new Array[Byte](8192)
        var n = 0
        while (!d.finished()) n += d.deflate(buf)
        (bytes.length, n)
      } finally d.end()
    }
    val rep = "spam ham " * 300
    val varied = (0 until 300).map(i => (i * 2654435761L).toHexString)
      .mkString(" ")
    for (t <- Seq(rep, varied, "x", "héllo wörld")) {
      val got = one(t, deflateLen(col("text")))
        .asInstanceOf[org.apache.spark.sql.Row]
      assert((got.getInt(0), got.getInt(1)) == ref(t), s"input: $t")
    }
    val rr = ref(rep); val rv = ref(varied)
    assert(rr._2.toDouble / rr._1 < 0.1)  // boilerplate: tiny ratio
    assert(rv._2.toDouble / rv._1 > 0.4)  // varied hex: poor compression
  }

  test("fingerprint is deterministic and content-sensitive") {
    import graft.functions.TextExpressions.fingerprint
    val a = one("abc", fingerprint(col("text")))
    val b = one("abd", fingerprint(col("text")))
    assert(a == one("abc", fingerprint(col("text"))) && a != b)
    // manual check: ((0*31+97)*31+98)*31+99 mod 1e9+7
    assert(a == ((97L * 31 + 98) * 31 + 99) % 1000000007L)
  }

  test("qualityScore bounded in [0,1]") {
    val v = one("The quick, brown fox; is VERY fast.",
      TextOps.qualityScore(col("text"))).asInstanceOf[Double]
    assert(v >= 0.0 && v <= 1.0)
  }

  test("nfkcFold: unicode folds with no DuckDB mirror, ascii ≡ normalizeText") {
    import graft.functions.TextExpressions.nfkcFold
    val cases = Seq(
      "ﬁle" -> "file", // ligature: NFKC-only (nfc_normalize keeps ﬁ)
      "ＦＵＬＬｗｉｄｔｈ" -> "fullwidth", // fullwidth + case fold
      "CAFÉ" -> "café", // decomposed combining mark + case
      "café" -> "café", // composed fixed point
      "a b" -> "a b", // nbsp → space via NFKC compatibility
      "  a \t\n b  " -> "a b", // whitespace runs collapse, ends trim
      "line sep" -> "line sep") // unicode line separator is ws
    cases.foreach { case (in, want) =>
      assert(one(in, nfkcFold(col("text"))) == want, s"input: $in")
    }
    // on pure ASCII the unicode rung degenerates to exactly d15's fold
    val ascii = "  The QUICK   brown\tFox  "
    assert(one(ascii, nfkcFold(col("text"))) ==
      one(ascii, graft.ops.Dedup.normalizeText(col("text"))))
  }

  test("gopher rules: each stat trips on its crafted pathological doc") {
    def stats(t: String) = (
      one(t, TextOps.meanWordLen(col("text"))).asInstanceOf[Double],
      one(t, TextOps.symbolRatio(col("text"))).asInstanceOf[Double],
      one(t, TextOps.bulletLineFrac(col("text"))).asInstanceOf[Double],
      one(t, TextOps.ellipsisLineFrac(col("text"))).asInstanceOf[Double],
      one(t, TextOps.alphaWordFrac(col("text"))).asInstanceOf[Double],
      one(t, TextOps.requiredStopwordHits(col("text"))).asInstanceOf[Int])

    // clean multi-line prose: passes every per-stat threshold
    val clean = "the cat sat with the dog\nand that was all they have seen"
    val (mwl, sym, bul, ell, alp, stp) = stats(clean)
    assert(mwl >= 3.0 && mwl <= 10.0 && sym < 0.1 && bul == 0.0 &&
      ell == 0.0 && alp == 1.0 && stp >= 2)
    assert(one(clean, TextOps.gopherPass(col("text"), 5, 100))
      .asInstanceOf[Boolean])

    // bullet-list boilerplate: 3 of 4 lines bulleted
    assert(stats("intro line\n- item one\n* item two\n• item three")._3
      == 0.75)
    // truncation spam: both lines end in ellipsis ('....' counts one)
    assert(stats("read more...\nclick here....")._4 == 1.0)
    // symbol soup: 2 hashes + 1 ellipsis over 3 words
    assert(stats("## trending now...")._2 == 1.0)
    // digit table: no word has a letter
    assert(stats("12 34 56 78")._5 == 0.0)
    // repeated stopword counts once; the composite then fails on hits<2
    assert(stats("the the the the")._6 == 1)
    assert(!one("the the the the", TextOps.gopherPass(col("text"), 1, 100))
      .asInstanceOf[Boolean])
    // word-count bounds are caller-tunable
    assert(!one(clean, TextOps.gopherPass(col("text"), 50, 100))
      .asInstanceOf[Boolean])
  }

  test("stripHtml: blocks drop wholly, tags drop content-kept, entity " +
    "order single-decodes double-encoding") {
    def strip(t: String): String =
      one(t, TextOps.stripHtml(col("text"))).asInstanceOf[String]
    assert(strip("<html><body><p>the cat</p><script>var x=1;\nmore" +
      "</script></body></html>") == "the cat")
    // style blocks match case-insensitively, content removed
    assert(strip("<STYLE type=\"css\">body{}</STYLE>before<br/>after")
      == "before after")
    // entities: &amp; decodes LAST, so &amp;lt; -> literal &lt;
    assert(strip("a &lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp; done")
      == "a <tag> \"q\" 's' & done")
    assert(strip("&amp;lt; stays encoded") == "&lt; stays encoded")
    // plain text passes through (whitespace collapsed)
    assert(strip("no  markup\there") == "no markup here")
  }

  test("densityExtract: nav/footer anchor blocks drop, long prose " +
    "stays, the under-link-block branch needs the higher word bar") {
    def ext(t: String): String = {
      val r = one(t, TextOps.densityExtract(col("text")))
      if (r == null) null else r.asInstanceOf[String]
    }
    val nav = "<a href=\"/\">home page</a> <a href=\"/a\">about us</a>"
    val prose = "the quick brown fox jumps over the lazy dog while " +
      "seventeen other animals watch from the fence across the road"
    // 20-word prose line between two anchor blocks: words > 16 wins on
    // the prev-ld branch... except the PREVIOUS line is link-heavy
    // (ld > 5/9), so the bar is words > 40 or next words > 17 — the
    // footer has 3 words, so the line must clear 40. It has 20 -> page
    // yields nothing.
    assert(ext(s"$nav\n$prose\n$nav") == null)
    // with a plain first line, prose (words > 16) survives; the short
    // first line itself (2 words, prev words 0, next 20 > 15) survives
    // via the next-words rule
    assert(ext(s"hello there\n$prose") == s"hello there\n$prose")
    // a mixed line under 1/3 link density is judged by words; one over
    // 1/3 drops regardless
    val mixed = "read the full story about the harbor storm in our " +
      "archive pages today via <a href=\"/x\">this link</a> now"
    assert(ext(s"$prose\n$mixed") == s"$prose\nread the full story " +
      "about the harbor storm in our archive pages today via this " +
      "link now")
    // single anchor-only line: null, not empty string
    assert(ext(nav) == null)
  }

  test("bpeEncodeIds: size equals the trained counter; ids decode back " +
    "to the merge-loop segmentation") {
    import graft.functions.BpeVocab
    val docs = Seq("the cat sat", "thethe catcat", "a 42 x!").toDF("text")
    val merges = Seq(("t", "h"), ("th", "e"), ("the", "</w>"),
      ("c", "a"), ("ca", "t"))
    val rows = docs.select(col("text"),
        TextOps.bpeEncodeIds(col("text"), merges).as("ids"),
        TextOps.bpeTokenCountTrained(col("text"), merges).as("n"))
      .collect()
    // inverse of the deterministic id space
    val outRank = BpeVocab.outputRanks(merges)
    val inv = scala.collection.mutable.Map[Int, String]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      val id = BpeVocab.idOf(a + b, outRank)
      if (!inv.contains(id)) inv(id) = a + b
    }
    def sym(id: Int): String =
      if (id == BpeVocab.EndWord) "</w>"
      else if (id <= 0xFFFF) id.toChar.toString
      else inv(id)
    rows.foreach { r =>
      val ids = r.getSeq[Int](1)
      assert(ids.length == r.getInt(2), s"size != count for ${r.getString(0)}")
      // re-joining the decoded symbols reproduces the text with every
      // ALPHA RUN closed by </w> (non-alpha glyphs carry no marker)
      // and spaces dropped — the lossless round-trip
      val decoded = ids.map(sym).mkString
      val expect = "[A-Za-z]+|[^A-Za-z ]".r
        .findAllIn(r.getString(0)).map { p =>
          if (p.head.isLetter) p + "</w>" else p
        }.mkString
      assert(decoded == expect, s"decoded $decoded != $expect")
    }
    // "the" is fully merged -> a single id beyond the char space
    val theIds = Seq("the").toDF("text")
      .select(TextOps.bpeEncodeIds(col("text"), merges)).collect()
      .head.getSeq[Int](0)
    assert(theIds.length == 1 && theIds.head > BpeVocab.EndWord)
  }

  test("script profile: per-class counts and priority-tiebroken dominant") {
    def dom(t: String): String =
      one(t, TextOps.dominantScript(col("text"))).asInstanceOf[String]
    assert(dom("hello world") == "latin")
    assert(dom("привет мир hello") == "cyrillic")
    assert(dom("汉字文本处理") == "cjk")
    assert(dom("مرحبا بالعالم") == "arabic")
    // equal counts: earlier ScriptClasses entry wins
    assert(dom("ab АБ") == "latin")
    // digits/punctuation only: no script at all
    assert(dom("123 456 !!") == "none")
    assert(one("a1б", TextOps.classCount(col("text"), "[0-9]")) == 1)
  }

  test("dedupDocLines keeps each line's FIRST occurrence in order") {
    def scrub(t: String): String =
      one(t, TextOps.dedupDocLines(col("text"))).asInstanceOf[String]
    assert(scrub("nav bar\nreal content here\nnav bar\nmore content\nnav bar")
      == "nav bar\nreal content here\nmore content")
    // order is encounter order, not sorted
    assert(scrub("zz\naa\nzz") == "zz\naa")
    assert(scrub("only line") == "only line")
  }

  test("c4 line rules: punctuation, word floor, javascript; doc gate") {
    def cleaned(t: String): String =
      one(t, TextOps.c4CleanText(col("text"))).asInstanceOf[String]
    def pass(t: String): Boolean =
      one(t, TextOps.c4DocPass(col("text"),
        TextOps.c4CleanText(col("text")))).asInstanceOf[Boolean]

    // each terminal mark keeps a line; an unterminated line drops
    val page = "the cat sat on the mat.\nis that all they saw?\n" +
      "what a fine day it was!\nhe said \"it was loud.\"\nno terminal here"
    assert(cleaned(page) == page.split("\n").init.mkString("\n"))
    assert(pass(page)) // 4 kept lines, >= 3 sentences

    // word floor: 4 words < 5 drops even with the period
    assert(cleaned("the cat sat down.") == "")
    assert(cleaned("the cat sat right down.") == "the cat sat right down.")
    // javascript mention drops the line regardless of case
    assert(cleaned("please enable JavaScript to view this page.") == "")
    // nothing kept -> empty string, never null (md5-able downstream)
    assert(cleaned("no punct line") == "")

    // doc gate: < 3 sentences after cleaning fails
    assert(!pass("one full sentence stands alone here."))
    // mid-line breaks count as sentences: one kept line, three marks
    assert(pass("it rained. it poured. then the sun came out again."))
    // curly brace / lorem ipsum on the ORIGINAL page fail the gate
    assert(!pass(page + "\nfunction f() { return 1; }."))
    assert(!pass(page + "\nclassic Lorem Ipsum filler text."))
    // badword list is a parameter and is case-insensitive
    assert(!one(page + "\nBADWORD alert.",
      TextOps.c4DocPass(col("text"), TextOps.c4CleanText(col("text")),
        badwords = Seq("badword"))).asInstanceOf[Boolean])
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark makes big data small again today"),
    (2L, "spark makes big data small again today"),   // exact dup of 1
    (3L, "spark makes big data small again tomorrow"), // near dup
    (4L, "completely different words entirely here now")
  ).toDF("doc_id", "text")

  test("minhashCalibration: exact-dup decile reads match_frac 1.0, every " +
    "decile's error sits inside the binomial envelope, deciles bounded") {
    val rows = graft.ops.Dedup.minhashCalibration(docs, "text", "doc_id",
      tauNum = 1, tauDen = 4, numHashes = 128).orderBy("jac_decile")
      .collect()
    assert(rows.nonEmpty)
    val top = rows.last
    // docs 1 and 2 are exact dups: true J = 1.0 -> decile 10, and every
    // permutation min must agree -> estimate exactly 1.0
    assert(top.getAs[Int]("jac_decile") == 10)
    assert(top.getAs[Double]("mean_est") == 1.0 &&
      top.getAs[Double]("mean_abs_err") == 0.0)
    rows.foreach { r =>
      val d = r.getAs[Int]("jac_decile")
      assert(d >= 0 && d <= 10, s"decile out of range: $d")
      val j = r.getAs[Double]("mean_true")
      // 4 sigma of the k=128 binomial + a small-count cushion
      val env = 4.0 * math.sqrt(j * (1 - j) / 128) + 0.02
      assert(r.getAs[Double]("mean_abs_err") <= env,
        s"decile $d error ${r.getAs[Double]("mean_abs_err")} > $env")
    }
  }

  test("containment: token-run pairs only — word boundaries respected, " +
    "equal texts min-id-contained, sub-2-token docs silent") {
    val cdocs = Seq(
      (1L, "big data small"),                       // contained in 2 and 5
      (2L, "spark makes big data small again"),     // container
      (3L, "xbig data small"),                      // 'big' != 'xbig': no run
      (4L, "small"),                                // 1 token: never reported
      (5L, "spark makes big data small again"),     // equal text of 2
      (6L, "data big small spark")                  // same words, wrong order
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.containment(cdocs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("exactNormalized folds case and whitespace variants into one class") {
    val v = Seq(
      (1L, "Spark  Makes big DATA small "),
      (2L, "spark makes big data small"),
      (3L, "something else")).toDF("doc_id", "text")
    val r = Dedup.exactNormalized(v, "text", "doc_id")
      .collect().map(x => (x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 2L), (3L, 1L))) // (keep_id, n_copies)
  }

  test("exact dedup groups identical content, keeps min id") {
    val r = Dedup.exact(docs, "text", "doc_id").collect()
    assert(r.length == 3)
    val dup = r.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("exactIncremental equals the plain anti-join, even with bloom FPs") {
    val corpus = (0L until 50L).map(i => (i, s"corpus doc number $i"))
      .toDF("doc_id", "text")
    // batch: 10 dups of corpus docs + 40 genuinely new docs
    val batch = ((0L until 10L).map(i => (100L + i, s"corpus doc number $i")) ++
      (0L until 40L).map(i => (200L + i, s"new doc number $i")))
      .toDF("doc_id", "text")
    val expected = (200L until 240L).toSet
    // fpp 0.5 forces false positives through the exact-verify branch
    for (fpp <- Seq(0.01, 0.5)) {
      val got = Dedup.exactIncremental(batch, corpus, "text", "doc_id",
          expectedItems = 50L, fpp = fpp)
        .select("doc_id").as[Long].collect().toSet
      assert(got == expected, s"fpp=$fpp")
    }
    // an empty corpus builds an empty filter and admits the whole batch
    val intoEmpty = Dedup.exactIncremental(batch, corpus.limit(0),
        "text", "doc_id", expectedItems = 50L)
      .select("doc_id").as[Long].collect().toSet
    assert(intoEmpty == batch.select("doc_id").as[Long].collect().toSet)
  }

  test("nGramJaccard finds exact and near duplicates, not distinct docs") {
    val pairs = Dedup.nGramJaccard(docs, "text", "doc_id", 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists(p => p._1 == 1 && p._2 == 2 && p._3 == 1.0))
    assert(pairs.exists(p => p._2 == 3 && p._3 >= 0.5))
    assert(!pairs.exists(p => p._1 == 4 || p._2 == 4))
  }

  test("prefixJaccard == nGramJaccard exactly: hot grams pruned from " +
    "prefixes without losing a single pair") {
    // a bigram shared by EVERY doc ("shared tail") dominates d02's df²
    // index work; the ascending-df canonical order pushes it to the
    // back of every doc's prefix ordering, so it vanishes from
    // candidate generation — yet the reported exact pair set must be
    // bit-identical to the uncapped inverted-index join
    val corpus = Seq(
      (1L, "alpha beta gamma delta shared tail"),
      (2L, "alpha beta gamma delta shared tail"),   // exact dup of 1
      (3L, "alpha beta gamma epsilon shared tail"), // near dup of 1/2
      (4L, "one two three four shared tail"),
      (5L, "five six seven eight shared tail"),
      (6L, "nine ten eleven twelve shared tail")
    ).toDF("doc_id", "text")
    for ((tn, td) <- Seq((1, 2), (3, 5), (1, 4))) {
      val want = Dedup.nGramJaccard(corpus, "text", "doc_id", tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val got = Dedup.prefixJaccard(corpus, "text", "doc_id", tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == want, s"tau=$tn/$td: got=$got want=$want")
    }
    // sanity on the fixture itself: the exact dup is reported at 1.0,
    // and the docs related only through the hot gram are NOT pairs
    val half = Dedup.prefixJaccard(corpus, "text", "doc_id", 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(half.exists(p => p._1 == 1 && p._2 == 2 && p._3 == 1.0))
    assert(!half.exists(p => p._1 >= 4 || p._2 >= 4))
  }

  test("nGramJaccard candidate-bound guard: fires on a hot-gram fixture " +
    "naming prefixJaccard, warn mode proceeds, and d34 == d02 there") {
    // every doc ends "... shared tail": that one bigram has df = 6 and
    // alone contributes C(6,2) = 15 candidate rows; with the df=3 and
    // df=2 grams the total bound is 23, so a bound of 20 must trip
    val corpus = Seq(
      (1L, "alpha beta gamma delta shared tail"),
      (2L, "alpha beta gamma delta shared tail"),
      (3L, "alpha beta gamma epsilon shared tail"),
      (4L, "one two three four shared tail"),
      (5L, "five six seven eight shared tail"),
      (6L, "nine ten eleven twelve shared tail")
    ).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.nGramJaccard(corpus, "text", "doc_id", 1, 2,
        candidatePairBound = 20L)
    }
    assert(e.getMessage.contains("prefixJaccard"),
      s"guard must point at the ship path: ${e.getMessage}")
    // warn mode proceeds and the output is unchanged — and equals the
    // proof-carrying prefixJaccard the message recommends
    val warned = Dedup.nGramJaccard(corpus, "text", "doc_id", 1, 2,
      candidatePairBound = 20L, boundAction = "warn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ship = Dedup.prefixJaccard(corpus, "text", "doc_id", 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(warned == ship && warned.nonEmpty)
    // a generous bound never trips (and the capped branch guards the
    // post-cap index: pruning the hot grams brings the bound under)
    Dedup.nGramJaccard(corpus, "text", "doc_id", 1, 2,
      candidatePairBound = 1000L).collect()
    Dedup.nGramJaccard(corpus, "text", "doc_id", 1, 2,
      maxGramDf = 3, candidatePairBound = 20L).collect()
  }

  test("pairBoundExact: decimal-exact past 2^53, even-sum halving, " +
    "and the guard survives an empty corpus") {
    import spark.implicits._
    // df=4e9: df*(df-1) = 1.6e19 overflows Long and its /2 rounds in a
    // double (53-bit mantissa ≈ ±2048 at 1.6e19); the decimal path is
    // exact: 4000000000*3999999999/2 + 3*2/2 = 7999999998000000003
    val counts = Seq(4000000000L, 3L).toDF("gdf")
      .select(org.apache.spark.sql.functions.lit("g").as("gh"), col("gdf"))
    assert(Dedup.pairBoundExact(counts) ==
      BigInt("7999999998000000003"))
    assert(Dedup.pairBoundExact(counts.limit(0)) == BigInt(0))
    // empty corpus + bound set: trivially under, no NPE (SQL NULL sum)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.nGramJaccard(empty, "text", "doc_id", 1, 2,
      candidatePairBound = 10L).collect().isEmpty)
  }

  test("paragraphDedup: first-occurrence-by-(id,pos) paragraph dedup — " +
    "normalization folds case/whitespace, within-doc repeats drop, " +
    "all-dup docs disappear, whitespace-only paragraphs ignored") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Shared Header\nbody one\nshared   header"),
      (2L, "SHARED HEADER\nbody two"),
      (3L, "shared header"),
      (4L, "   \nbody four\n\t")
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(got == Set(
      (1L, 3L, 2L, "Shared Header\nbody one"),
      (2L, 2L, 1L, "body two"),
      (4L, 1L, 1L, "body four")), s"got $got")
  }

  test("paragraphIncremental: batch drops exactly the standing corpus' " +
    "paragraphs — bloom FPs re-verified, corpus-only dedup (batch " +
    "paragraphs do not dedup against each other)") {
    import spark.implicits._
    val corpus = Seq((100L, "known one\nknown two")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "Known One\nfresh a"), // case variant of a corpus para: drops
      (2L, "fresh a\nfresh b"),   // "fresh a" repeats doc 1's: BOTH keep
      (3L, "known two")           // all known -> disappears
    ).toDF("doc_id", "text")
    for (fpp <- Seq(0.01, 0.5)) { // 0.5 floods the verify leg with FPs
      val got = Dedup.paragraphIncremental(batch, corpus, "text", "doc_id",
          expectedItems = 4L, fpp = fpp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
      assert(got == Set(
        (1L, 2L, 1L, "fresh a"),
        (2L, 2L, 2L, "fresh a\nfresh b")), s"fpp=$fpp: $got")
    }
  }

  test("substringDupSpans: maximal shared runs per (pair, diagonal), " +
    "minSpanLen floor, hot-window cap, removal lists") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "x x a b c d e f g h i j k l y y"), // 12-token run vs doc 1
      (3L, "p q r s t u"),                     // shares nothing
      (4L, "a b c d z1 z2 z3"),                // 4-token share < floor
      (5L, "a b c d e f a b c d e f")          // two aligned copies
    ).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(corpus, "text", "doc_id",
        n = 4, minSpanLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(spans == Set(
      (1L, 2L, 0L, 2L, 12L),  // maximal: ends where doc2 diverges
      (1L, 5L, 0L, 0L, 6L), (1L, 5L, 0L, 6L, 6L), // one per diagonal
      (2L, 5L, 2L, 0L, 6L), (2L, 5L, 2L, 6L, 6L)),
      s"got $spans")
    // removal lists: higher-id copy is the drop; overlaps union
    val rem = Dedup.substringRemovalLists(
      Dedup.substringDupSpans(corpus, "text", "doc_id", 4, 6))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rem.count(_._1 == 2L) == 12 && rem.count(_._1 == 5L) == 12)
    assert(rem.filter(_._1 == 5L).map(_._2).sorted.toSeq == (0L to 11L))
    // cap: every shared window has df >= 2, so maxWindowDf = 1 empties
    assert(Dedup.substringDupSpans(corpus, "text", "doc_id", 4, 6,
      maxWindowDf = 1L).count() == 0)
    // floor at the window size reports the short share too
    assert(Dedup.substringDupSpans(corpus, "text", "doc_id", 4, 4)
      .collect().exists(r => r.getLong(1) == 4L && r.getLong(4) == 4L))
  }

  test("substringDupSpans equals a brute-force per-diagonal maximal-run " +
    "reference on seeded random corpora (the completeness lemma, checked)") {
    // high-collision alphabet so shared runs, near-misses, repeats and
    // multi-diagonal alignments all occur; the reference scans every
    // (pair, diagonal) for maximal runs of per-position token equality
    val rnd = new scala.util.Random(4242)
    val alphabet = Vector("a", "b", "c", "d", "e", "f")
    for (trial <- 1 to 20) {
      val nDocs = 3 + rnd.nextInt(4)
      val docs = (1 to nDocs).map { i =>
        (i.toLong,
          Vector.fill(rnd.nextInt(25))(alphabet(rnd.nextInt(alphabet.size))))
      }
      val n = 2 + rnd.nextInt(2)
      val minLen = n + rnd.nextInt(3)
      val expected = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        d <- -ta.length to tb.length
      } yield {
        val lo = math.max(0, -d)
        val hi = math.min(ta.length, tb.length - d)
        var spans = List.empty[(Long, Long, Long, Long, Long)]
        var p = lo
        while (p < hi) {
          if (ta(p) == tb(p + d)) {
            val s = p
            while (p < hi && ta(p) == tb(p + d)) p += 1
            val len = p - s
            if (len >= minLen)
              spans ::= ((ia, ib, s.toLong, (s + d).toLong, len.toLong))
          } else p += 1
        }
        spans
      }).flatten.toSet
      val df = docs.map { case (i, t) => (i, t.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.substringDupSpans(df, "text", "doc_id", n, minLen)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == expected,
        s"trial $trial n=$n minLen=$minLen: spurious ${got -- expected}, " +
          s"missing ${expected -- got}, docs=$docs")
    }
  }

  test("crossSubstringSpans equals the brute reference on seeded random " +
    "probe/corpus splits (ids may collide across the two frames)") {
    val rnd = new scala.util.Random(777)
    val alphabet = Vector("a", "b", "c", "d")
    for (trial <- 1 to 10) {
      def mk(k: Int) = (1 to k).map { i =>
        (i.toLong,
          Vector.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.size))))
      }
      val probe = mk(2 + rnd.nextInt(2))
      val corpus = mk(2 + rnd.nextInt(3)) // same id space on purpose
      val n = 2 + rnd.nextInt(2)
      val minLen = n + rnd.nextInt(2)
      val expected = (for {
        (ip, tp) <- probe; (ic, tc) <- corpus
        d <- -tp.length to tc.length
      } yield {
        val lo = math.max(0, -d)
        val hi = math.min(tp.length, tc.length - d)
        var spans = List.empty[(Long, Long, Long, Long, Long)]
        var p = lo
        while (p < hi) {
          if (tp(p) == tc(p + d)) {
            val s = p
            while (p < hi && tp(p) == tc(p + d)) p += 1
            if (p - s >= minLen)
              spans ::= ((ip, ic, s.toLong, (s + d).toLong, (p - s).toLong))
          } else p += 1
        }
        spans
      }).flatten.toSet
      val got = Dedup.crossSubstringSpans(
          probe.map { case (i, t) => (i, t.mkString(" ")) }
            .toDF("doc_id", "text"),
          corpus.map { case (i, t) => (i, t.mkString(" ")) }
            .toDF("doc_id", "text"),
          "text", "doc_id", n, minLen)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == expected,
        s"trial $trial n=$n minLen=$minLen: spurious ${got -- expected}, " +
          s"missing ${expected -- got}")
    }
  }

  test("crossSubstringSpans: probe-vs-corpus maximal spans with offsets " +
    "on both sides; non-overlapping probes emit nothing") {
    val corpus = Seq((100L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val probe = Seq(
      (1L, "x x a b c d e f g h y y"),
      (2L, "none of these words match at all")).toDF("doc_id", "text")
    val got = Dedup.crossSubstringSpans(probe, corpus, "text", "doc_id",
        n = 4, minSpanLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set((1L, 100L, 2L, 0L, 8L)), s"got $got")
  }

  test("capped freeze: crossSubstringSpans drops spans riding corpus-hot " +
    "windows, keeps cold evidence, and the frozen-index form agrees; " +
    "substringHotWindows is exactly the dropped set") {
    // 3 corpus docs share 8 boilerplate tokens (every n=4 window of the
    // paste has per-doc-distinct df=3); doc 201 also shares a unique
    // 6-token run with the probe (all its windows df=1)
    val corpus = Seq(
      (200L, "bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8 aa bb"),
      (201L, "bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8 u1 u2 u3 u4 u5 u6"),
      (202L, "cc dd bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (1L, "bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8 zz u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "text")
    def spans(maxDf: Long) =
      Dedup.crossSubstringSpans(probe, corpus, "text", "doc_id",
          n = 4, minSpanLen = 5, maxWindowDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val uncapped = spans(Long.MaxValue)
    // boilerplate span vs all three + the unique span vs 201
    assert(uncapped == Set(
      (1L, 200L, 0L, 0L, 8L), (1L, 201L, 0L, 0L, 8L),
      (1L, 202L, 0L, 2L, 8L), (1L, 201L, 9L, 8L, 6L)), s"got $uncapped")
    // cap=2 < df=3: the boilerplate windows leave the frozen index, so
    // only the cold unique evidence survives — bounded candidates
    val capped = spans(2L)
    assert(capped == Set((1L, 201L, 9L, 8L, 6L)), s"got $capped")
    // the frozen-index consumer path (what CorpusMaintain/the streaming
    // guard ride) is the same operator: capped freeze -> same output
    val idx = Dedup.substringIndex(corpus, "text", "doc_id", 4,
      maxWindowDf = 2L)
    val viaIdx = Dedup.crossSubstringSpansWithIndex(probe, idx,
        "text", "doc_id", n = 4, minSpanLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(viaIdx == capped)
    // the handoff list: exactly the 5 boilerplate windows at wdf=3
    val hot = Dedup.substringHotWindows(corpus, "text", "doc_id", 4, 2L)
      .collect().map(_.getLong(2))
    assert(hot.length == 5 && hot.forall(_ == 3L), s"hot=${hot.toSeq}")
    // cap + hot list partition the uncapped index exactly
    val full = Dedup.substringIndex(corpus, "text", "doc_id", 4)
    assert(idx.count() + Dedup.substringHotWindows(
        corpus, "text", "doc_id", 4, 2L).as("h")
      .join(full.as("f"), col("h.h1") === col("f.h1") &&
        col("h.h2") === col("f.h2")).count() == full.count())
  }

  test("dupGramFraction: shared 8-gram windows counted per doc, " +
    "short docs report (0, 0, NULL)") {
    // docs 1 and 2 share exactly their first 8-token window; doc 3 is
    // too short to carry any window; doc 4 overlaps nothing
    val corpus = Seq(
      (1L, "a b c d e f g h x y"), // 3 windows, one shared
      (2L, "a b c d e f g h z"),   // 2 windows, one shared
      (3L, "tiny doc"),            // 0 windows
      (4L, "p q r s t u v w k m")  // 3 windows, none shared
    ).toDF("doc_id", "text")
    val got = Dedup.dupGramFraction(corpus, "text", "doc_id", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got(1L) == ((3L, 1L, Some(1.0 / 3))))
    assert(got(2L) == ((2L, 1L, Some(0.5))))
    assert(got(3L) == ((0L, 0L, None)))
    assert(got(4L) == ((3L, 0L, Some(0.0))))
  }

  test("winnowFingerprints: the w+k-1 guarantee, rightmost tie-break, " +
    "and the short-doc cutoff") {
    // k=4, w=5: any shared run of >= 8 tokens must share a fingerprint
    val corpus = Seq(
      (1L, "a1 a2 c1 c2 c3 c4 c5 c6 c7 c8"),
      (2L, "b1 b2 b3 c1 c2 c3 c4 c5 c6 c7 c8 b4"),
      (3L, "d1 d2 d3 d4 d5 d6 d7") // 7 tokens -> 4 grams < w -> none
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(corpus, "text", "doc_id",
        k = 4, w = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "8-token shared run must share a fingerprint")
    assert(!byDoc.contains(3L), "sub-(w+k-1) docs emit no fingerprint")
    // all-identical grams: every window's min is its RIGHTMOST position
    val same = Seq((9L, "x x x x x x x")).toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(same, "text", "doc_id", k = 2, w = 3)
      .collect().map(r => (r.getLong(1), r.getString(2)))
    // 6 identical "x x" grams, starts 0..3, rightmost of [s, s+2] = s+2
    assert(got.map(_._1).sorted.toSeq == Seq(2L, 3L, 4L, 5L), got.toSeq)
    assert(got.map(_._2).toSet.size == 1)
  }

  test("minHashLsh catches the exact-dup pair with jaccard 1.0") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id", 32, 4, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L)))
  }

  test("scrubRepeatedLines: drops hot lines, keeps order, counts df per doc") {
    val corpus = Seq(
      (1L, "keep me one\nBOILER\nkeep me two"),
      (2L, "BOILER\nunique line\nBOILER"), // repeated within ONE doc: df=3 not 4
      (3L, "BOILER\nanother unique"),
      (4L, "BOILER")                        // nothing survives -> doc dropped
    ).toDF("doc_id", "text")
    // BOILER df = 4 docs (doc 2's repeat counts ONCE) > 2 -> scrubbed;
    // everything else df=1
    val got = Dedup.scrubRepeatedLines(corpus, "text", "doc_id", maxLineDf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "keep me one\nkeep me two",
      2L -> "unique line",
      3L -> "another unique"))
    // df counts DOCUMENTS: 5 occurrences across 4 docs is df=4, so with
    // maxLineDf = 4 the within-doc repeat does not tip BOILER over the
    // cap and every line survives
    val loose = Dedup.scrubRepeatedLines(corpus, "text", "doc_id", maxLineDf = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(2L) == "BOILER\nunique line\nBOILER" && loose.size == 4)
  }

  test("scrubRepeatedLines: many-line doc reconstructs linearly and exactly") {
    // r7: reconstruction is a gather — transform(keep_pos, p -> lines[p]),
    // O(kept) array indexing — replacing a per-line array_contains scan
    // that cost O(lines²) per document. This case makes a 20k-line doc
    // (4e8 comparisons under the old shape) cheap, and pins exactness:
    // alternating hot/unique lines must keep exactly the unique ones in
    // original order.
    val n = 20000
    val big = (0 until n).map(i =>
      if (i % 2 == 0) "HOT" else s"unique line $i").mkString("\n")
    val corpus = Seq((1L, big), (2L, "HOT"), (3L, "HOT\nalso unique"))
      .toDF("doc_id", "text")
    val got = Dedup.scrubRepeatedLines(corpus, "text", "doc_id", maxLineDf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected1 = (0 until n).filter(_ % 2 == 1)
      .map(i => s"unique line $i").mkString("\n")
    assert(got == Map(1L -> expected1, 3L -> "also unique"))
  }

  test("scrubRepeatedSpans: hot mid-stream spans scrubbed, neighbors survive") {
    val corpus = Seq(
      (1L, "x1 A B C y1"),        // phrase mid-stream: only it goes
      (2L, "x2 A B C y2"),
      (3L, "A B C"),              // nothing survives -> doc dropped
      (4L, "A B C A B C z"),      // within-doc repeat: df counts doc4 ONCE
      (5L, "p q"),                // shorter than the window -> untouched
      (6L, "x1 A B"),             // partial phrase: its windows stay cold
      (7L, null: String)          // null text -> dropped (matches d16)
    ).toDF("doc_id", "text")
    // df("A B C") = 4 docs > 2 -> hot; straddle windows like "x1 A B"
    // (docs 1 and 6, df=2) and rotations "B C A"/"C A B" (doc 4 only)
    // stay at or under the cap -> cold
    val got = Dedup.scrubRepeatedSpans(corpus, "text", "doc_id",
        n = 3, maxSpanDf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "x1 y1",
      2L -> "x2 y2",
      4L -> "z",
      5L -> "p q",
      6L -> "x1 A B"))
  }

  test("scrubRepeatedSpans: huge doc reconstructs linearly and exactly") {
    // reconstruction is array_except(sequence, removed) — hash-set
    // membership, O(tokens + removed) — then a gather; this case makes a
    // 60k-token doc with 10k scattered hot hits cheap and pins exactness:
    // the hot 3-gram repeats every 6 tokens, surrounded by unique tokens
    val reps = 10000
    val big = (0 until reps).map(i => s"u${2 * i} HOT SPAN X u${2 * i + 1}")
      .mkString(" ")
    val corpus = Seq((1L, big), (2L, "HOT SPAN X"), (3L, "HOT SPAN X end4 end5"))
      .toDF("doc_id", "text")
    val got = Dedup.scrubRepeatedSpans(corpus, "text", "doc_id",
        n = 3, maxSpanDf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // windows touching the unique u-tokens are cold, so exactly the
    // HOT SPAN X triples vanish; doc 2 is all-hot and drops
    val expected1 = (0 until reps).map(i => s"u${2 * i} u${2 * i + 1}")
      .mkString(" ")
    assert(got == Map(1L -> expected1, 3L -> "end4 end5"))
  }

  test("scrubMaxSpans: long chained boilerplate excised whole, short hot " +
    "phrases below minSpanLen survive (Lee et al. 2022 semantics)") {
    // LONG = 6 tokens -> with n=3 its windows chain to a span of 6;
    // SHORT = 3 tokens -> one isolated hot window, span 3 < minSpanLen=5
    val long = "L1 L2 L3 L4 L5 L6"
    val short = "S1 S2 S3"
    val corpus = (1L to 4L).map(i =>
      (i, s"a$i $long b$i $short c$i")).toDF("doc_id", "text")
    val got = Dedup.scrubMaxSpans(corpus, "text", "doc_id",
        n = 3, maxSpanDf = 2, minSpanLen = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // d17 at the same n/df would also remove the short phrase; the
    // maximal-span threshold is exactly what keeps it
    assert(got == (1L to 4L).map(i => i -> s"a$i b$i $short c$i").toMap)
  }

  test("scrubMaxSpans: two hot phrases separated by a gap > n form " +
    "separate spans, each thresholded independently") {
    // doc: LONG unique LONG -> the two pastes chain separately (gap > n)
    val long = "L1 L2 L3 L4 L5"
    val corpus = (1L to 4L).map(i =>
      (i, s"$long u$i v$i w$i $long t$i")).toDF("doc_id", "text")
    val got = Dedup.scrubMaxSpans(corpus, "text", "doc_id",
        n = 3, maxSpanDf = 2, minSpanLen = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (1L to 4L).map(i => i -> s"u$i v$i w$i t$i").toMap)
  }

  test("snapshotDiff: null text classifies by id presence, not hash nulls") {
    // r6 advisor find: md5(NULL) is NULL — presence must come from a
    // per-side marker, and null-text-in-both must compare 'unchanged'
    val v1 = Seq((1L, null: String), (2L, "same"), (3L, null: String))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, null: String), (2L, "same"), (3L, "now text"),
      (4L, null: String)).toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("simHash: identical texts collide, distinct texts differ") {
    val h = Dedup.simHashes(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L) && h(1L) != h(4L))
    val pairs = Dedup.simHashPairs(docs, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSeq
    assert(pairs.exists(p => p._1 == 1 && p._2 == 2 && p._3 == 0))
  }
  test("contaminationHops: min-hop BFS — shortcut edges win, the hop " +
    "bound truncates, duplicate seeds collapse, off-graph docs absent") {
    // chain 1-2-3-4-5 plus shortcut 1-3: min hops 2->1, 3->1 (via the
    // shortcut, NOT 2 via the chain), 4->2, 5->3; node 6 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L),
      (6L, 7L)).toDF("id_a", "id_b")
    val seeds = Seq(1L, 1L).toDF("doc_id") // duplicate seed rows
    val got = graft.ops.Dedup.contaminationHops(edges, seeds, "doc_id",
        maxHop = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // hop bound truncates: maxHop = 1 stops at the direct near-dups
    val h1 = graft.ops.Dedup.contaminationHops(edges, seeds, "doc_id",
        maxHop = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("contaminationHops: no lingering cached intermediates — a shared " +
    "session keeps only the caller-owned result cache") {
    graft.Session.release(spark)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val seeds = Seq(1L).toDF("doc_id")
    val got = graft.ops.Dedup.contaminationHops(edges, seeds, "doc_id",
      maxHop = 2)
    // the operator materialized internally (eager localCheckpoint) and
    // freed the edge list and every BFS tier; exactly the result
    // frame's own checkpoint blocks remain
    assert(spark.sparkContext.getPersistentRDDs.size == 1,
      s"lingering blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
    assert(got.count() == 3)
    // a checkpoint's storage lives on the RDD inside the LogicalRDD
    // plan (Dataset.unpersist only touches cache-manager entries)
    Clusters.freeCheckpoint(got)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("d39_threshold_sweep: no lingering pair-frame cache — a library " +
    "caller's session keeps only the result's own checkpoint blocks") {
    graft.Session.release(spark)
    val res = graft.SparkEntry.queries("d39_threshold_sweep")(
      spark, "/root/testdata/sf0.001")
    // the query persists its O(pairs) frame internally; the eager
    // localCheckpoint + unpersist discipline must free it before the
    // frame is handed back (the contaminationHops contract) — only the
    // 6-row result's checkpoint may remain
    assert(spark.sparkContext.getPersistentRDDs.size <= 1,
      s"lingering blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
    assert(res.count() == 6)
  }
}

class DedupOverlapSpec extends SparkSpec {
  import spark.implicits._

  test("sourceOverlap: asymmetric containment, zero-overlap pairs " +
    "present, and sub-bigram docs contribute nothing") {
    val docs = Seq(
      ("A", "a b c"),        // bigrams {a b, b c}
      ("B", "a b c d"),      // {a b, b c, c d} — contains ALL of A's
      ("C", "x y"),          // {x y} — disjoint
      ("C", "solo")          // no bigram: must add nothing to C
    ).toDF("source", "text")
    val got = Dedup.sourceOverlap(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.size == 6, "full ordered matrix over 3 sources")
    assert(got(("A", "B")) == ((2L, 2L, 1.0)), "A fully inside B")
    assert(got(("B", "A")) == ((2L, 3L, 2.0 / 3)), "B only 2/3 covered")
    assert(got(("A", "C")) == ((0L, 2L, 0.0)))
    assert(got(("C", "B")) == ((0L, 1L, 0.0)), "solo doc added nothing")
    // hashGrams = true is the scale path (long-keyed exchange/join) and
    // must produce the identical matrix — counts over hashed grams equal
    // counts over grams absent a 64-bit collision
    val hashed = Dedup.sourceOverlap(docs, "text", "source",
        hashGrams = true)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(hashed == got, "hashed-gram path diverged from the oracle path")
  }

  test("editDistancePairs: reports the small-edit pair with its exact " +
    "Levenshtein distance, prunes length-gap candidates before the DP, " +
    "and loses the pair when every shared gram is hotter than the cap") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy dog"), // dist 2
      (3L, "a completely different sentence with no overlap at all"),
      (4L, "the quick brown fox") // shares grams; length gap prunes it
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "text", "doc_id",
        tauNum = 1, tauDen = 4, maxGramDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 2L)))
    // df cap 1: the (1,2) pair's shared grams all have df 2 — dropped
    // from candidate generation, so the pair is missed (documented
    // recall contract of the cold-gram blocker)
    val capped = Dedup.editDistancePairs(docs, "text", "doc_id",
        tauNum = 1, tauDen = 4, maxGramDf = 1).count()
    assert(capped == 0L)
  }

  test("editDistancePairs: threshold-banded DP is pair-identical to the " +
    "full DP — every reported distance exact, above-threshold pairs gone") {
    // pairs straddling the k = floor(mx/4) boundary: dist == k kept with
    // its exact value, dist == k+1 dropped, plus far pairs that share a
    // gram (the banded early-exit path) — all against the unbanded DP
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),      // len 35, k=8
      (2L, "alpha beta gamma delta epsilon zetaXXXXXXXX"), // dist 8 == k(43/4=10)? verify below
      (3L, "alpha beta gamma delta epsilon omega kappa lambda"),
      (4L, "alpha beta totally different tail end here entirely"),
      (5L, "alpha beta gamma delta epsilon zeta")       // exact dup of 1
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "text", "doc_id",
        tauNum = 1, tauDen = 4, maxGramDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // oracle: full unbanded DP over every gram-sharing candidate pair
    import org.apache.spark.sql.functions.{levenshtein => lev}
    val all = docs.as("x").join(docs.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        lev(col("x.text"), col("y.text")).cast("long").as("d"),
        greatest(length(col("x.text")), length(col("y.text")))
          .cast("long").as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = all.filter { case (_, _, d, mx) => d * 4 <= mx }
      .map { case (a, b, d, _) => (a, b) -> d }.toMap
    // every expected pair shares >= 1 gram here (maxGramDf=100 keeps all),
    // so the outputs must agree exactly, distances included
    assert(got == expected, s"banded=$got full=$expected")
    assert(got.contains((1L, 5L)) && got((1L, 5L)) == 0L)
  }

  test("winnowPairs: containment fires on a small doc pasted into a " +
    "large one, minShared prunes glancing overlaps, disjoint docs are " +
    "absent, and the hashed-fp scale path matches the string path") {
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, small),
      // doc 2 = unrelated prefix + the WHOLE of doc 1 pasted in: every
      // fingerprint of doc 1 comes from an 8-token window also present
      // here, so containment(1, 2) = 1.0 by the winnowing guarantee
      (2L, "lorem ipsum dolor sit amet consectetur " + small +
        " omega psi chi phi upsilon"),
      (3L, "totally disjoint content with no shared windows anywhere " +
        "at all in any position"),
      // doc 4 shares only one 4-gram with doc 1 — below minShared = 2
      (4L, "alpha beta gamma delta UNRELATED tail words here now then")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowPairs(docs, "text", "doc_id",
        k = 4, w = 5, minShared = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set((1L, 2L)), s"pairs: ${got.keySet}")
    val (ns, na, _, cont) = got((1L, 2L))
    assert(cont == 1.0, s"pasted doc must be fully contained: $cont")
    assert(ns == na, "every fingerprint of the small doc is shared")
    val hashed = Dedup.winnowPairs(docs, "text", "doc_id",
        k = 4, w = 5, minShared = 2, hashFps = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(hashed == got, "hashed-fp path diverged")
    // cap contract: df cap 1 drops the shared fingerprints (df 2) from
    // candidate generation — the pair is missed, the documented recall
    // trade of the cold-index blocker
    assert(Dedup.winnowPairs(docs, "text", "doc_id",
      k = 4, w = 5, minShared = 2, maxFpDf = 1).count() == 0L)
  }
}

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("silhouetteAudit: planted separated clusters read near-1 " +
    "silhouette, overclustering reads lower, range bounded, zero-norm " +
    "excluded, corpus conserved") {
    // two tight orthogonal clusters + one zero vector
    val data = ((0 until 20).map(i =>
        (i.toLong, Array(1.0f, 0.001f * i))) ++
      (20 until 40).map(i => (i.toLong, Array(0.001f * (i - 20), 1.0f))) :+
      (99L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val m2 = VectorOps.IvfModel(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val rows = VectorOps.silhouetteAudit(data, "vec_id", "embedding", m2)
      .orderBy("list").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == 40L,
      "zero-norm vector must be excluded, all others assigned")
    rows.foreach { r =>
      val s = r.getAs[Double]("mean_sil")
      assert(s > 0.9 && s <= 1.0, s"planted separation: $s")
      assert(r.getAs[Double]("mean_dist_own") <
        r.getAs[Double]("mean_dist_next"))
    }
    // overclustering: split cluster 0 across two near-identical
    // centroids -> its members sit on a boundary, silhouette collapses
    val m3 = VectorOps.IvfModel(Array(
      Array(1.0, 0.0), Array(0.9995, 0.0316), Array(0.0, 1.0)))
    val over = VectorOps.silhouetteAudit(data, "vec_id", "embedding", m3)
      .collect()
    val worst = over.map(_.getAs[Double]("mean_sil")).min
    assert(worst < 0.5, s"overclustered lists must read low: $worst")
    over.foreach { r =>
      val s = r.getAs[Double]("mean_sil")
      assert(s >= -1.0 - 1e-12 && s <= 1.0 + 1e-12)
    }
  }

  test("marginMine equals an independent reference replay of the exact " +
    "arithmetic: quantized dots, HALF_UP decimal sums, three IEEE " +
    "divisions, min-id ties") {
    // deterministic pseudo-random frames (xxhash-free: plain LCG)
    def gen(seed: Long, n: Int, dim: Int): Seq[(Long, Array[Float])] = {
      var x = seed
      def next(): Float = {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 33).toDouble / (1L << 31).toDouble - 0.5).toFloat
      }
      (0 until n).map(i => (seed * 100 + i,
        Array.fill(dim)(next())))
    }
    val L = gen(1, 5, 4); val R = gen(2, 7, 4)
    val k = 3
    val got = VectorOps.marginMine(L.toDF("vec_id", "embedding"),
        R.toDF("vec_id", "embedding"), "vec_id", "embedding", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSeq.sortBy(_._1)

    // reference: same formula, driver-side
    def q(v: Array[Float]): Array[Double] =
      v.map(x => math.round(x.toDouble * 1000).toDouble)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (qa, qb) = (q(a), q(b))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      dot / math.sqrt(qa.map(x => x * x).sum * qb.map(x => x * x).sum)
    }
    val all = for ((lid, lv) <- L; (rid, rv) <- R)
      yield (lid, rid, cos(lv, rv))
    def topk(by: ((Long, Long, Double)) => Long,
        key: ((Long, Long, Double)) => Long) =
      all.groupBy(by).map { case (g, rows) =>
        g -> rows.sortBy(r => (-r._3, key(r))).take(k) }
    val fwd = topk(_._1, _._2)
    val bwd = topk(_._2, _._1)
    def decAvg(rows: Seq[(Long, Long, Double)]): Double =
      rows.map(r => BigDecimal(r._3)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble /
        rows.size
    val avgL = fwd.map { case (g, rows) => g -> decAvg(rows) }
    val avgR = bwd.map { case (g, rows) => g -> decAvg(rows) }
    val want = fwd.toSeq.map { case (lid, rows) =>
      val scored = rows.map { case (_, rid, c) =>
        (lid, rid, c, c / ((avgL(lid) + avgR(rid)) / 2)) }
      scored.sortBy(r => (-r._4, r._2)).head
    }.sortBy(_._1)
    assert(got == want, s"\ngot:  $got\nwant: $want")
    assert(got.map(_._1).distinct.size == L.size,
      "exactly one mined pair per left vector")
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.999f, 0.01f, 0.0f)), // near dup of 0
    (2L, Array(0.0f, 1.0f, 0.0f)),    // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f))    // opposite
  ).toDF("vec_id", "embedding")

  test("embedDrift: sides partition every vector per dim, sums fold " +
    "exactly, identical halves read zero shift, a planted shift shows") {
    val base = (0L until 200L).map(i => (i, Array(1.0f, 0.5f)))
    val got = VectorOps.embedDrift(base.toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .orderBy("dim").collect()
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == 200L, "sides partition")
      assert(r.getLong(1) > 0 && r.getLong(2) > 0, "md5 halves both live")
      // every vector identical -> mean shift exactly 0 in exact sums
      assert(r.getDouble(5) == 0.0)
    }
    assert(got(0).getLong(3) + got(0).getLong(4) == 200L * 1000L,
      "quantized sums fold exactly")
    // plant a +1.0 shift on dim 2 for side-b ids (md5 first hex 8..f):
    // shift must appear on dim 2 only, ≈ +1000 milli-units
    val sideB = base.map { case (i, v) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString
      if (h.head > '7') (i, Array(v(0), v(1) + 1.0f)) else (i, v)
    }
    val shifted = VectorOps.embedDrift(sideB.toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .orderBy("dim").collect()
    assert(shifted(0).getDouble(5) == 0.0, "dim 1 untouched")
    assert(math.abs(shifted(1).getDouble(5) - 1000.0) < 1e-9,
      s"planted shift: ${shifted(1).getDouble(5)}")
  }

  test("centroidMigration: identity and RELABELED models read zero " +
    "migration (the new->old correspondence absorbs list renumbering), " +
    "a collapsed retrain moves exactly the orphaned list, counts " +
    "conserve the corpus") {
    val data = (Seq(
      (10L, Array(1.0f, 0.01f)), (11L, Array(0.99f, 0.02f)),
      (12L, Array(1.0f, -0.01f)),
      (20L, Array(0.01f, 1.0f)), (21L, Array(-0.02f, 0.99f))
    )).toDF("vec_id", "embedding")
    val mOld = VectorOps.IvfModel(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    def rows(m2: VectorOps.IvfModel) =
      VectorOps.centroidMigration(data, "vec_id", "embedding", mOld, m2)
        .orderBy("list_old").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
    // identical model: zero movement everywhere
    assert(rows(mOld) == Seq((0L, 3L, 0L, 0.0), (1L, 2L, 0L, 0.0)))
    // same centroids, SWAPPED list ids: still zero movement — migration
    // is about assignment geometry, not label numbering
    val swapped = VectorOps.IvfModel(
      Array(Array(0.0, 1.0), Array(1.0, 0.0)))
    assert(rows(swapped) == Seq((0L, 3L, 0L, 0.0), (1L, 2L, 0L, 0.0)))
    // retrain collapsed to ONE centroid at x: every old-list-1 vector
    // maps to old list 0 and counts as moved; old list 0 is unmoved
    val collapsed = VectorOps.IvfModel(Array(Array(1.0, 0.0)))
    assert(rows(collapsed) == Seq((0L, 3L, 0L, 0.0), (1L, 2L, 2L, 1.0)))
    // conservation at trained models too (end-to-end shape)
    val trained = VectorOps.trainIvfModel(data, "vec_id", "embedding",
      nCentroids = 2)
    val t = rows(trained)
    assert(t.map(_._2).sum == 5L, "counts conserve the corpus")
    assert(t.forall(r => r._4 >= 0.0 && r._4 <= 1.0), "fractions in [0,1]")
    // an embedder dimension change fails loudly, never a silent
    // truncated comparison
    intercept[IllegalArgumentException] {
      rows(VectorOps.IvfModel(Array(Array(1.0, 0.0, 0.0))))
    }
  }

  test("cosinePairs finds only the near-duplicate pair at tau=0.9") {
    val pairs = VectorOps.cosinePairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((0L, 1L)))
  }

  test("knnBrute ranks by cosine with id tiebreak") {
    val r = VectorOps.knnBrute(vecs.filter($"vec_id" === 0), vecs,
        "vec_id", "embedding", 3)
      .orderBy("rk").collect().map(_.getAs[Long]("corpus_id")).toSeq
    assert(r == Seq(1L, 2L, 3L)) // near-dup, orthogonal(0), opposite(-1)
  }

  test("mmrRerank displaces the near-duplicate of the first pick with " +
    "the distinct-but-relevant candidate") {
    // probe 100 ~ x-axis; candidates: 1 (best), 2 (near-dup of 1),
    // 3 (less relevant but orthogonal-ish to 1). Plain top-2 = (1, 2);
    // MMR step 2 must skip the near-dup and take 3.
    val corpus = Seq(
      (1L, Array(1.0f, 0.09f, 0.0f)),
      (2L, Array(0.995f, 0.08f, 0.0f)), // near dup of 1
      (3L, Array(0.6f, 0.8f, 0.0f))     // distinct direction
    ).toDF("vec_id", "embedding")
    val probe = Seq((100L, Array(1.0f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = VectorOps.mmrRerank(probe, corpus, "vec_id", "embedding",
        kCand = 3, kSel = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((1, 1L), (2, 3L), (3, 2L)), s"got $got")
    // plain relevance order for contrast: 1, 2, 3
    val plain = VectorOps.knnBrute(probe, corpus, "vec_id", "embedding", 3)
      .orderBy("rk").collect().map(_.getAs[Long]("corpus_id")).toSeq
    assert(plain == Seq(1L, 2L, 3L))
  }

  test("knnLsh returns the true nearest neighbor for the probe") {
    val r = VectorOps.knnLsh(vecs.filter($"vec_id" === 0), vecs,
        "vec_id", "embedding", 1, planes = 4)
      .collect().map(_.getAs[Long]("corpus_id")).toSeq
    assert(r.headOption.contains(1L))
  }

  test("kmeansAssign recovers well-separated clusters, deterministically") {
    // three tight blobs far apart in 3-space
    val blobs = Seq(
      (0L, Array(10f, 0f, 0f)), (1L, Array(10.1f, 0.1f, 0f)),
      (2L, Array(9.9f, -0.1f, 0f)),
      (10L, Array(0f, 10f, 0f)), (11L, Array(0.1f, 10.1f, 0f)),
      (20L, Array(0f, 0f, 10f)), (21L, Array(-0.1f, 0f, 9.9f))
    ).toDF("vec_id", "embedding")
    val got = VectorOps.kmeansAssign(blobs, "vec_id", "embedding",
        k = 3, iters = 4)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    // same blob => same cluster, different blobs => different clusters
    assert(got(0L) == got(1L) && got(1L) == got(2L))
    assert(got(10L) == got(11L) && got(20L) == got(21L))
    assert(Set(got(0L), got(10L), got(20L)).size == 3)
    // deterministic under repartition and re-run
    val again = VectorOps.kmeansAssign(blobs.repartition(7), "vec_id",
        "embedding", k = 3, iters = 4)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(got == again)
  }

  test("ildDiversity: hand-computed pairwise mean on a dup-laden list, " +
    "single-item lists emit no row, a fully-duplicate list reads ild 0") {
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), // exact duplicates
      (3L, Array(0f, 1f)),
      (4L, Array(1f, 0f)), (5L, Array(1f, 0f))
    ).toDF("vec_id", "embedding")
    val results = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L), // pairs: cos 1, 0, 0
      (200L, 4L),                         // single item: no pairs
      (300L, 4L), (300L, 5L), (300L, 1L)  // all-duplicates: every cos 1
    ).toDF("probe_id", "corpus_id")
    val got = VectorOps.ildDiversity(results, corpus, "vec_id", "embedding")
      .as[(Long, Long, Double, Double)].collect().map(x => x._1 -> x).toMap
    assert(got(100L) == ((100L, 3L, 1.0 / 3, 1.0 - 1.0 / 3)))
    assert(!got.contains(200L), "ILD undefined below 2 items")
    assert(got(300L) == ((300L, 3L, 1.0, 0.0)), "all-dup list: zero " +
      "diversity")
  }
}

class CollocationSpec extends SparkSpec {
  import spark.implicits._

  test("collocationPmi: a lexicalized pair scores high positive bits, an " +
    "anti-collocation of frequent words goes negative, minCount prunes") {
    // "new york" always adjacent (5x); "the" and "cat" both frequent but
    // NEVER adjacent to each other except never; filler spreads mass
    val docs = (1 to 5).map(i => s"new york f$i the cat$i") ++
      (1 to 5).map(i => s"the g$i cat the h$i cat")
    val got = Corpus.collocationPmi(docs.toDF("text"), "text", 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val (cxy, cx, cy, bits) = got(("new", "york"))
    assert(cxy == 5L && cx == 5L && cy == 5L)
    // num = 5*N, den = 25 -> ratio = N/5; N = 55 tokens -> 11 -> 4 bits
    assert(bits == 4L, s"bits=$bits")
    // "the cat": c_the=15, c_cat=10, c_xy=10 (every 'the ... cat'? only
    // direct adjacency counts: 'the cat<i>' 5x + 'the h<i> cat' has a gap
    // -> adjacent only in docs 1-5) => num=5*55=275, den=150 -> 1 bit
    assert(got.contains(("the", s"cat1")) == false,
      "per-i tokens fall under minCount")
    // every surviving pair met the count floor
    assert(got.values.forall(_._1 >= 2L))
    // negative-bits arm: a pair whose num < den. 'the'(15) x 'the'(15)
    // never adjacent... craft directly: w 'a a' unreachable here; assert
    // the sign convention instead on ratio < 1 pairs if any
    got.values.foreach { case (c2, cX, cY, b) =>
      val num = BigInt(c2) * 55; val den = BigInt(cX) * BigInt(cY)
      if (num >= den) assert(b >= 1L) else assert(b <= -1L)
    }
  }

  test("collocationPmi: negative whole bits for an anti-collocation") {
    // 'a' and 'b' each appear 8x but are adjacent only once in 32 tokens:
    // num = 1*32 = 32 < den = 64 -> den div num = 2 -> -2 bits
    val docs = Seq(
      "a b " + Seq.fill(7)("a x").mkString(" ") + " " +
        Seq.fill(7)("b y").mkString(" "))
    val got = Corpus.collocationPmi(docs.toDF("text"), "text", 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(5))
      .toMap
    assert(got(("a", "b")) == -2L, s"got ${got(("a", "b"))}")
  }
}

class EventsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private val events = Seq(
    (0L, ts(0), 1L, "click", 1.0),
    (1L, ts(60), 1L, "click", 2.0),      // same session (gap 60s)
    (2L, ts(4000), 1L, "view", 3.0),     // new session (gap > 1800s)
    (3L, ts(10), 2L, "click", 4.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("sessionize splits on idle gap per user") {
    val r = Events.sessionize(events, 1800L)
      .orderBy("user_id", "session_idx").collect()
    assert(r.map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("session_idx"),
      x.getAs[Long]("n_events"))).toSeq ==
      Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
    val s1 = r.head
    assert(s1.getAs[Long]("start_epoch") == 0L &&
      s1.getAs[Long]("end_epoch") == 60L &&
      s1.getAs[Double]("sum_value") == 3.0)
  }

  test("kaplanMeier: hand-checked survival with administrative " +
    "censoring — censored users leave the risk set without a death, " +
    "late entrants are excluded, the curve steps at death times only") {
    val day = 86400L
    // cutoff = min_day + 3 = day 3. Users:
    //  u1: view d0, purchase d0 -> death t=0
    //  u2: view d0, purchase d2 -> death t=2
    //  u3: view d1, purchase d4 (after cutoff) -> censored at t=2
    //  u4: view d2, no purchase -> censored at t=1
    //  u5: view d4 (after cutoff) -> excluded entirely
    val ev = Seq(
      (1L, ts(0), 1L, "view", 0.0), (2L, ts(10), 1L, "purchase", 1.0),
      (3L, ts(5), 2L, "view", 0.0), (4L, ts(2 * day), 2L, "purchase", 1.0),
      (5L, ts(day), 3L, "view", 0.0), (6L, ts(4 * day), 3L, "purchase", 1.0),
      (7L, ts(2 * day), 4L, "view", 0.0),
      (8L, ts(4 * day), 5L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.kaplanMeier(ev, "view", "purchase", studyDays = 3L)
      .orderBy("t_days").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // times: t=0 {u1 death; risk 4}, t=1 {u4 censored}, t=2 {u2 death,
    // u3 censored; risk 2}. Steps at t=0 and t=2 only:
    // S(0) = 1 - 1/4 = 0.75; S(2) = 0.75 * (1 - 1/2) = 0.375
    assert(got.toSeq == Seq(
      (0L, 4L, 1L, 0L, 1.0 - 1.0 / 4.0),
      (2L, 2L, 1L, 1L, (1.0 - 1.0 / 4.0) * (1.0 - 1.0 / 2.0))),
      s"got ${got.toSeq}")
  }

  test("rfmSegments: hand-computed quintile ranks, corpus-anchored " +
    "recency, non-purchase events ignored, taxonomy arm order") {
    // u1: last day 2, freq 2, spend 30; u2: day 9, 1, 100; u3: day 9,
    // 2, 2. anchor = day 9 -> recency 7/0/0. n=3 quintile-from-rank:
    // u1 (2,2,2) hibernating; u2 (5,1,4) big_spender; u3 (4,4,1) loyal
    val ev = Seq(
      (0L, ts(0L), 1L, "purchase", 10.0),
      (1L, ts(2L * 86400), 1L, "purchase", 20.0),
      (2L, ts(9L * 86400), 2L, "purchase", 100.0),
      (3L, ts(8L * 86400), 3L, "purchase", 1.0),
      (4L, ts(9L * 86400), 3L, "purchase", 1.0),
      (5L, ts(9L * 86400 + 100), 1L, "view", 999.0) // must not count
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.rfmSegments(ev).orderBy("user_id").collect()
    assert(got.length == 3)
    val u1 = got(0); val u2 = got(1); val u3 = got(2)
    assert(u1.getAs[Long]("recency_days") == 7L &&
      u1.getAs[Long]("frequency") == 2L &&
      u1.getAs[Double]("monetary") == 30.0)
    assert((u1.getAs[Long]("r_score"), u1.getAs[Long]("f_score"),
      u1.getAs[Long]("m_score")) == ((2L, 2L, 2L)))
    assert(u1.getAs[String]("segment") == "hibernating")
    assert((u2.getAs[Long]("r_score"), u2.getAs[Long]("f_score"),
      u2.getAs[Long]("m_score")) == ((5L, 1L, 4L)))
    assert(u2.getAs[String]("segment") == "big_spender")
    assert((u3.getAs[Long]("r_score"), u3.getAs[Long]("f_score"),
      u3.getAs[Long]("m_score")) == ((4L, 4L, 1L)))
    assert(u3.getAs[String]("segment") == "loyal")
  }

  test("theilSenTrend: hand-computed pairwise-slope median (even and " +
    "odd pair counts) and Mann–Kendall sign sum") {
    // type a: hourly counts [1,3,2,6] -> 6 slopes
    // {2, .5, 5/3, -1, 1.5, 4}; even count -> median (1.5 + 5/3)/2;
    // S = 5 pos - 1 neg = 4. type b: [2,1,5] -> {-1, 1.5, 4}, odd ->
    // median 1.5; S = 1
    val ev = ((Seq.fill(1)(0) ++ Seq.fill(3)(1) ++ Seq.fill(2)(2) ++
        Seq.fill(6)(3)).map(h => ("a", h)) ++
      (Seq.fill(2)(0) ++ Seq.fill(1)(1) ++ Seq.fill(5)(2))
        .map(h => ("b", h)))
      .zipWithIndex.map { case ((t, h), i) =>
        (i.toLong, ts(h.toLong * 3600 + (i % 60)), 1L, t, 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.theilSenTrend(ev).orderBy("event_type").collect()
    val a = got(0); val b = got(1)
    assert(a.getAs[Long]("n_hours") == 4L && a.getAs[Long]("n_pairs") == 6L)
    assert(a.getAs[Long]("mk_s") == 4L)
    assert(math.abs(a.getAs[Double]("ts_slope") -
      (1.5 + 5.0 / 3.0) / 2) < 1e-12)
    assert(b.getAs[Long]("n_hours") == 3L && b.getAs[Long]("n_pairs") == 3L)
    assert(b.getAs[Long]("mk_s") == 1L)
    assert(b.getAs[Double]("ts_slope") == 1.5)
  }

  test("theilSenTrend maxHours: clips each type to its TRAILING window " +
    "— equals running on the pre-filtered series, per type") {
    // type a spans hours 0..9 (10 hours), type b hours 5..7: with
    // maxHours=4, a keeps hours 6..9 only, b keeps all 3 (no-op clip)
    val ev = ((0 until 10).flatMap(h => Seq.fill(h + 1)(("a", h))) ++
      Seq(("b", 5), ("b", 6), ("b", 6), ("b", 7)))
      .zipWithIndex.map { case ((t, h), i) =>
        (i.toLong, ts(h.toLong * 3600 + (i % 60)), 1L, t, 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val clipped = Events.theilSenTrend(ev, maxHours = 4)
      .orderBy("event_type").collect()
    val manual = Events.theilSenTrend(ev.filter(
        col("event_type") =!= "a" ||
          unix_timestamp(col("ts")) >= 6 * 3600))
      .orderBy("event_type").collect()
    assert(clipped.map(_.toSeq).toSeq == manual.map(_.toSeq).toSeq)
    assert(clipped(0).getAs[Long]("n_hours") == 4L &&
      clipped(0).getAs[Long]("n_pairs") == 6L)
    assert(clipped(1).getAs[Long]("n_hours") == 3L)
    // counts [7,8,9,10] over hours 6..9: all slopes 1 -> median 1, S=6
    assert(clipped(0).getAs[Double]("ts_slope") == 1.0 &&
      clipped(0).getAs[Long]("mk_s") == 6L)
    // the bound is executable, not prose
    intercept[IllegalArgumentException] {
      Events.theilSenTrend(ev, maxHours = 1)
    }
  }

  test("changepoint: planted mean shift localized to the exact day, " +
    "integer argmax ties to the earliest split, gap days are zeros") {
    // days 0-4: 2 events/day, days 5-9: 4/day -> argmax at k=5 (day 4),
    // mean_before=2, mean_after=4
    val ev = (0 until 10).flatMap(d =>
        Seq.fill(if (d < 5) 2 else 4)(d))
      .zipWithIndex.map { case (d, i) =>
        (i.toLong, ts(d.toLong * 86400 + 3600), 1L, "a", 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.changepoint(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Int]("change_day") == 4) // last pre-shift day
    assert(row.getAs[Long]("n_days") == 10L && row.getAs[Long]("k") == 5L)
    assert(row.getAs[Double]("mean_before") == 2.0)
    assert(row.getAs[Double]("mean_after") == 4.0)
    // d_k = |10*10 - 5*30| = 50; stat = 50 / (10*sqrt(5*5)) = 1.0
    assert(math.abs(row.getAs[Double]("cusum_stat") - 1.0) < 1e-12)
    // a day with NO events inside the span must read as a zero, not a
    // missing row: drop day 7 entirely -> n_days still 10
    val gappy = (0 until 10).filter(_ != 7).flatMap(d =>
        Seq.fill(if (d < 5) 2 else 4)(d))
      .zipWithIndex.map { case (d, i) =>
        (i.toLong, ts(d.toLong * 86400 + 3600), 1L, "a", 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Events.changepoint(gappy).collect().head
      .getAs[Long]("n_days") == 10L)
  }

  test("naiveForecastBacktest: exact same-hour-yesterday errors, hours " +
    "without a predecessor excluded, MAPE skips zero actuals") {
    // hour 0: 3 events, hour 24h: 1 event, hour 48h: 4 events -> matched
    // pairs: (actual=1, pred=3, err=-2), (actual=4, pred=1, err=3)
    val ev = (Seq.fill(3)(0L) ++ Seq.fill(1)(86400L) ++
      Seq.fill(4)(172800L)).zipWithIndex.map { case (t, i) =>
      (i.toLong, ts(t + 5), 1L, "view", 0.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.naiveForecastBacktest(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_hours") == 2L)
    assert(row.getAs[Long]("abs_err_sum") == 5L)
    assert(row.getAs[Long]("bias_sum") == 1L)
    assert(row.getAs[Double]("mae") == 2.5)
    // APE terms: 2/1=2.000000 and 3/4=0.750000 -> mean 1.375
    assert(math.abs(row.getAs[Double]("mape") - 1.375) < 1e-9)
  }

  test("wilsonConversion: exact counts, hand-checked bounds, zero-" +
    "conversion day clamps at 0, purchase-only day absent") {
    // day 0 (us < 86400e6): users 1..4 view, users 1,2 purchase -> p=1/2;
    // day 1: users 5,6 view, none purchase; user 7 purchases WITHOUT a
    // view on day 1 -> must not create a row or count
    val ev = Seq(
      (1L, ts(10), 1L, "view", 0.0), (2L, ts(20), 2L, "view", 0.0),
      (3L, ts(30), 3L, "view", 0.0), (4L, ts(40), 4L, "view", 0.0),
      (5L, ts(50), 1L, "purchase", 1.0), (6L, ts(60), 2L, "purchase", 1.0),
      (7L, ts(70), 1L, "purchase", 1.0), // dup purchase: distinct users
      (8L, ts(86400 + 10), 5L, "view", 0.0),
      (9L, ts(86400 + 20), 6L, "view", 0.0),
      (10L, ts(86400 + 30), 7L, "purchase", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.wilsonConversion(ev, "view", "purchase")
      .orderBy("day").collect()
    assert(got.length == 2)
    val d0 = got(0); val d1 = got(1)
    assert(d0.getAs[Long]("n_users") == 4L && d0.getAs[Long]("n_conv") == 2L)
    assert(d0.getAs[Double]("p_hat") == 0.5)
    // reference Wilson at x=2, n=4, z=1.96 (same fixed tree in doubles)
    val n = 4.0; val p = 0.5
    val c = p + 3.8416 / (2.0 * n)
    val r = 1.96 * math.sqrt((p * (1.0 - p) + 3.8416 / (4.0 * n)) / n)
    val den = 1.0 + 3.8416 / n
    assert(math.abs(d0.getAs[Double]("wilson_lo") - (c - r) / den) < 1e-12)
    assert(math.abs(d0.getAs[Double]("wilson_hi") - (c + r) / den) < 1e-12)
    assert(d0.getAs[Double]("wilson_lo") > 0.0 &&
      d0.getAs[Double]("wilson_hi") < 1.0,
      "Wilson bounds stay inside (0,1) where Wald would not")
    // zero conversions: lo clamps to ~0 (exactly 0 in exact arithmetic)
    assert(d1.getAs[Long]("n_users") == 2L && d1.getAs[Long]("n_conv") == 0L)
    assert(math.abs(d1.getAs[Double]("wilson_lo")) < 1e-15)
    assert(d1.getAs[Double]("wilson_hi") > 0.3,
      "n=2 zero-conversion upper bound is wide")
  }

  test("userSequences: last-maxLen truncation, ascending emit, exact length") {
    val ev = (0 until 10).map(i =>
      (i.toLong, ts(1000L + i), 1L, s"t$i", 0.0)) :+
      ((99L, ts(500L), 2L, "solo", 0.0))
    val df = ev.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.userSequences(df, maxLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // user 1: 10 events, keep the LAST 4 in ascending time order;
    // n_events reports the untruncated history length
    assert(got == Set((1L, 10L, "t6,t7,t8,t9"), (2L, 1L, "solo")))
  }

  test("userSequencesSalted: identical to the unsalted op with chunking ACTIVE") {
    // r8: chunkSeconds=60 over events spanning ~1000s forces many chunks
    // per user, truncation straddling chunk boundaries, and whole chunks
    // dropped by the relevance filter — the shapes the summary-merge
    // argument must survive. Equal-timestamp events exercise the
    // (us, event_id) tiebreak across a chunk edge.
    val ev = (0 until 30).map(i =>
      (i.toLong, ts(1000L + i * 37), 1L, s"a$i", 0.0)) ++
      (0 until 3).map(i => (50L + i, ts(700L), 2L, s"b$i", 0.0)) :+
      ((99L, ts(500L), 3L, "solo", 0.0))
    val df = ev.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(7)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[String]("seq"))).toSet
    for (maxLen <- Seq(1, 4, 64)) {
      val plain = rows(Events.userSequences(df, maxLen))
      val salted = rows(Events.userSequencesSalted(df, maxLen, 60L))
      assert(salted == plain, s"maxLen=$maxLen diverged")
    }
  }

  test("cadenceFlags: exact-integer flag, single-event span 0, gap guard") {
    val ev = ((0 until 40).map(i => (i.toLong, ts(i.toLong), 1L, "c", 0.0)) ++
      (0 until 40).map(i => (100L + i, ts(i * 3600L), 2L, "c", 0.0)) :+
      ((999L, ts(7L), 3L, "c", 0.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.cadenceFlags(ev, minEvents = 30, maxMeanGapSec = 2L)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("span_s"),
          r.getAs[Double]("mean_gap_s"), r.getAs[Boolean]("bot")))).toMap
    // user 1: 40 events over 39 s -> mean gap 1 s -> bot
    assert(got(1L) == ((40L, 39L, 1.0, true)))
    // user 2: same count, hourly cadence -> human
    assert(got(2L) == ((40L, 39L * 3600L, 3600.0, false)))
    // user 3: one event -> span 0, gap guard divides by 1, under minEvents
    assert(got(3L) == ((1L, 0L, 0.0, false)))
  }

  test("hourlyAnomaly: degenerate series yield NULL z, never NaN/Inf") {
    // r6 advisor find: c=1 (single hour) divides by zero; a constant
    // series has zero variance — both must emit NULL, not NaN/Inf whose
    // rendering the oracle comparison can't match
    val ev = Seq(
      (0L, ts(100), 1L, "solo", 1.0),            // one hour bucket only
      (1L, ts(0), 1L, "flat", 1.0),              // two hours, equal counts
      (2L, ts(3600), 1L, "flat", 1.0),
      (3L, ts(0), 1L, "vary", 1.0),              // two hours, 2-vs-1 counts
      (4L, ts(10), 1L, "vary", 1.0),
      (5L, ts(3600), 1L, "vary", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val z = Events.hourlyAnomaly(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(z(("solo", 0L)).isEmpty)
    assert(z(("flat", 0L)).isEmpty && z(("flat", 3600L)).isEmpty)
    assert(z(("vary", 0L)).exists(v => v.isFinite && v > 0))
    assert(z(("vary", 3600L)).exists(v => v.isFinite && v < 0))
  }

  test("cusumShift: the window form equals a direct replay of Page's " +
    "recursion, and a sustained shift accumulates before flagging") {
    // five quiet hours at 10 events, five shifted hours at 100
    val counts = Seq.fill(5)(10) ++ Seq.fill(5)(100)
    val rows = counts.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i => (h * 1000L + i, ts(h * 3600L), 1L, "x", 1.0))
    }
    val got = Events.cusumShift(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .orderBy("hour_epoch").collect()
    // direct recursion: S = max(0, S + 4*c*n - 5*s), c=10, s=550
    var sRec = 0L
    val expect = counts.map { n =>
      sRec = math.max(0L, sRec + 4L * 10 * n - 5L * 550)
      sRec
    }
    assert(got.map(_.getLong(3)).toSeq == expect)
    // quiet hours never flag; the shift accumulates to cross 8*s=4400
    // only at the FOURTH shifted hour (1250*4=5000) — not instantly
    assert(got.map(_.getInt(5)).toSeq ==
      Seq(0, 0, 0, 0, 0, 0, 0, 0, 1, 1))
  }

  test("sequentialMonitor: OBF boundary shrinks to boundC at the final " +
    "look, zero-variance looks read NULL and never flag, and a clean " +
    "separation crosses") {
    // two quiet days (identical constant arms -> zero variance -> NULL)
    val quiet = Seq(
      (1L, 0L, 10L), (1L, 0L, 10L), (1L, 1L, 10L), (1L, 1L, 10L),
      (2L, 0L, 10L), (2L, 0L, 10L), (2L, 1L, 10L), (2L, 1L, 10L)
    ).toDF("day", "variant", "x")
    val q = Events.sequentialMonitor(quiet, "day", "variant", "x")
      .orderBy("day").collect()
    assert(q.length == 2)
    assert(q.forall(r => r.isNullAt(4) && r.getInt(6) == 0))
    // bound: look1 = 2.797*sqrt(2), look2 = 2.797 exactly
    assert(q(0).getDouble(5) == 2.797 * math.sqrt(2.0))
    assert(q(1).getDouble(5) == 2.797)
    // one look, clean separation: z = (1001-11)/sqrt(2) >> 2.797
    val sep = Seq((1L, 0L, 10L), (1L, 0L, 12L),
      (1L, 1L, 1000L), (1L, 1L, 1002L)).toDF("day", "variant", "x")
    val s1 = Events.sequentialMonitor(sep, "day", "variant", "x")
      .collect().head
    assert(s1.getDouble(4) == 990.0 / math.sqrt(2.0) &&
      s1.getInt(6) == 1)
  }

  test("did: recovers a planted effect net of the common trend, and a " +
    "missing arm yields NULL estimate") {
    // control diffs {10, 14}, treatment diffs {60, 64}: common trend
    // ~12, planted effect +50
    val units = Seq(
      (0L, 100L, 110L), (0L, 200L, 214L),
      (1L, 100L, 160L), (1L, 200L, 264L)
    ).toDF("variant", "pre", "post")
    val r = Events.did(units, "variant", "pre", "post").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(6) == 50.0, "did nets out the trend")
    // t = (62 - 12) / sqrt(8/2 + 8/2)
    assert(math.abs(r.getDouble(7) - 50.0 / math.sqrt(8.0)) < 1e-12)
    val solo = Events.did(units.filter(col("variant") === 0L),
      "variant", "pre", "post").collect().head
    assert(solo.getLong(1) == 0L && solo.isNullAt(6) && solo.isNullAt(7))
  }

  test("ewmaAnomaly: zero-filled gap hours enter the weighted window, " +
    "warm-up rows stay NULL, and only the burst hour flags") {
    // hours 0-4 and 6-8 one event each, hour 5 silent, hour 9 bursts
    val rows = ((0 to 8).filter(_ != 5).map(h => (h.toLong, ts(h * 3600L))) ++
        (100 to 109).map(i => (i.toLong, ts(9 * 3600L + i)))).map {
      case (id, t) => (id, t, 1L, "burst", 1.0)
    }
    val got = Events.ewmaAnomaly(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value"),
        lags = 8, boost = 3)
      .orderBy("hour_epoch").collect()
    assert(got.length == 10)
    // warm-up: first 8 spine hours have no full lag window
    (0 until 8).foreach(i => assert(got(i).isNullAt(3) &&
      got(i).getInt(5) == 0, s"hour $i"))
    // hour 8: weights (128,64,32,16,8,4,2,1) over n=(1,1,0,1,1,1,1,1)
    // newest-first — the silent hour 5 contributes 0 at weight 32
    assert(got(8).getLong(3) == 223L && got(8).getInt(5) == 0)
    // hour 9: num = 239, n = 10 -> 10*255 > 3*239 flags
    assert(got(9).getLong(2) == 10L && got(9).getLong(3) == 239L &&
      got(9).getInt(5) == 1)
    assert(got(9).getDouble(4) == 239.0 / 255.0)
  }

  test("asofJoin matches the latest right row at-or-before, left-outer") {
    val l = Seq((1L, 100L, 10L), (1L, 5L, 11L), (2L, 50L, 12L))
      .toDF("k", "t", "lid")
    val r = Seq((1L, 100L, 20L), (1L, 40L, 21L), (1L, 120L, 22L), (3L, 1L, 23L))
      .toDF("k", "t", "rid")
    val out = Events.asofJoin(l, r, "k", "t", Seq("rid"))
      .select("lid", "asof_rid").as[(Long, Option[Long])].collect().toMap
    assert(out(10L).contains(20L)) // equal time matches: at-or-before is inclusive
    assert(out(11L).isEmpty)       // nothing at-or-before
    assert(out(12L).isEmpty)       // key with no right rows at all
  }

  test("asofJoinSalted == asofJoin on boundaries, multi-chunk gaps, nulls") {
    // chunkUs=100: rows sit exactly on chunk boundaries, probe chunks with
    // no right rows (carry must reach back >1 chunk), equal-time ties, a
    // null payload (invisible per ignoreNulls), and a right-only chunk
    // AFTER every left row
    val l = Seq((1L, 100L, 10L), (1L, 305L, 11L), (1L, 99L, 12L),
      (2L, 710L, 13L), (2L, 55L, 14L))
      .toDF("k", "t", "lid")
    val r = Seq((1L, 100L, Some(20L)), (1L, 40L, Some(21L)),
      (1L, 120L, None), (1L, 900L, Some(22L)),
      (2L, 60L, Some(23L)), (2L, 200L, Some(24L)))
      .toDF("k", "t", "rid")
    def res(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.select("lid", "asof_rid").as[(Long, Option[Long])].collect().toMap
    val plain = res(Events.asofJoin(l, r, "k", "t", Seq("rid")))
    val salted = res(Events.asofJoinSalted(l, r, "k", "t", Seq("rid"),
      chunkUs = 100L))
    assert(plain == salted, s"plain=$plain salted=$salted")
    // spot-check the interesting ones against hand-computed truth
    assert(plain == Map(10L -> Some(20L), // equal-time tie, same chunk
      11L -> Some(20L), // null rid at 120 skipped; carry reaches chunk 1
      12L -> Some(21L), // earlier row in same chunk 0
      13L -> Some(24L), // carry over 5 empty chunks
      14L -> None))     // right row at 60 is after 55
  }

  test("rangeCountJoin counts the half-open lookback window exactly") {
    val l = Seq((1L, 1000L, 10L), (1L, 2000L, 11L), (2L, 500L, 12L))
      .toDF("k", "t", "lid")
    val r = Seq((1L, 1000L), (1L, 950L), (1L, 900L), (1L, 899L),
      (1L, 2000L), (2L, 0L)).toDF("k", "t")
    val out = Events.rangeCountJoin(l, r, "k", "t", windowUs = 100L,
        leftIdCol = "lid")
      .select("lid", "n_matches").as[(Long, Long)].collect().toMap
    // (900, 1000]: 1000 and 950 count; 900 (boundary) and 899 do not
    assert(out == Map(10L -> 2L, 11L -> 1L, 12L -> 0L))
  }

  test("scd2History: state runs collapse to intervals, reappearing " +
    "states open new rows, the last run is open-ended current") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val e = Seq(
      (1L, t(10), 7L, "view", 0.0),
      (2L, t(20), 7L, "view", 0.0),   // same state: no new interval
      (3L, t(30), 7L, "click", 0.0),  // change
      (4L, t(40), 7L, "view", 0.0),   // SCD2: reappearance = NEW row
      (5L, t(15), 8L, "buy", 0.0))    // second user, single state
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.scd2History(e)
      .orderBy("user_id", "valid_from_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (7L, "view", 10000000L, 30000000L, false),
      (7L, "click", 30000000L, 40000000L, false),
      (7L, "view", 40000000L, -1L, true),
      (8L, "buy", 15000000L, -1L, true)))
  }

  test("cuped: theta/var from hand-computed moments; degenerate inputs " +
    "yield NULL, not a division blowup") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val split = "1970-01-02 00:00:00" // 86400s
    // user 7: x=1.00+2.00=3.00 -> 300, y=5.00 -> 500
    // user 8: x=1.00 -> 100,          y=1.00 -> 100
    val e = Seq(
      (1L, t(10), 7L, "a", 1.0), (2L, t(20), 7L, "a", 2.0),
      (3L, t(90000), 7L, "a", 5.0),
      (4L, t(30), 8L, "a", 1.0), (5L, t(90001), 8L, "a", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.cuped(e, split).collect().head
    // n=2: cov_num = 2*(300*500+100*100)-400*600 = 80000
    // varx_num = 2*(90000+10000)-160000 = 40000 -> theta = 2.0
    // vary_num = 2*(250000+10000)-360000 = 160000 -> var_y = 80000
    // var_y_adj = 80000 - 40000*40000/20000 = 0 (perfect covariate)
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(1) == 2.0)
    assert(r.getDouble(2) == 80000.0)
    assert(r.getDouble(3) == 0.0)
    // single user: NULL theta and adjustment
    val one = Events.cuped(e.filter(col("user_id") === 7L), split)
      .collect().head
    assert(one.getLong(0) == 1L && one.isNullAt(1) && one.isNullAt(3))
  }

  test("srmCheck: hand-computed chi-square, a zero-observation design " +
    "variant keeps its expected term, off-design variants report as " +
    "n_unknown and never fold into n") {
    // A: 40/60 of 100 -> X2 = 400/200 + 400/200 = 4.0 > 3.841 -> SRM
    // B: 25/25 -> 0.0, no SRM
    // C: 30 units ALL on variant 0 -> 900/60 + 900/60 = 30.0 -> SRM
    // D: 10/10 balanced + 5 units on undeclared variant 7
    val rows =
      (0 until 40).map(i => ("A", 1000L + i, 0L)) ++
      (0 until 60).map(i => ("A", 2000L + i, 1L)) ++
      (0 until 25).map(i => ("B", 3000L + i, 0L)) ++
      (0 until 25).map(i => ("B", 4000L + i, 1L)) ++
      (0 until 30).map(i => ("C", 5000L + i, 0L)) ++
      (0 until 10).map(i => ("D", 6000L + i, 0L)) ++
      (0 until 10).map(i => ("D", 7000L + i, 1L)) ++
      (0 until 5).map(i => ("D", 8000L + i, 7L))
    val expo = rows.toDF("exp", "unit", "variant")
    val got = Events.srmCheck(expo, "exp", "variant",
        weights = Seq((0L, 1L), (1L, 1L)))
      .orderBy("exp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("A", 100L, 4.0, true, 0L),
      ("B", 50L, 0.0, false, 0L),
      ("C", 30L, 30.0, true, 0L),
      ("D", 20L, 0.0, false, 5L)))
  }

  test("welchT: hand-computed t and Welch df, n<2 / zero-variance / " +
    "missing-arm all yield NULL, off-design variants drop") {
    val rows =
      Seq(10L, 20L, 30L, 40L).map(x => ("A", 0L, x)) ++
      Seq(20L, 30L, 40L, 50L, 60L).map(x => ("A", 1L, x)) ++
      Seq(("B", 0L, 5L)) ++ Seq(7L, 9L).map(x => ("B", 1L, x)) ++
      Seq(5L, 5L).map(x => ("C", 0L, x)) ++
      Seq(7L, 7L).map(x => ("C", 1L, x)) ++
      Seq(1L, 2L, 3L).map(x => ("D", 1L, x)) ++
      Seq(("A", 2L, 999L)) // off-design variant: dropped
    val units = rows.toDF("exp", "variant", "x")
    val got = Events.welchT(units, "exp", "variant", "x")
      .orderBy("exp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5)),
        Option(r.get(6)), Option(r.get(7)), Option(r.get(8))))
    // replay the op's exact IEEE expression tree for experiment A
    val v0 = (3000.0 - 100.0 * 100.0 / 4) / (4 - 1)
    val v1 = (9000.0 - 200.0 * 200.0 / 5) / (5 - 1)
    val se2 = v0 / 4 + v1 / 5
    val tA = (25.0 - 40.0) / math.sqrt(se2)
    val dfA = se2 * se2 /
      ((v0 / 4) * (v0 / 4) / (4 - 1) + (v1 / 5) * (v1 / 5) / (5 - 1))
    val byExp = got.map(r => r._1 -> r).toMap
    assert(byExp("A") == ("A", 4L, 5L, Some(25.0), Some(40.0),
      Some(v0), Some(v1), Some(tA), Some(dfA)))
    // B: control arm n=1 -> var_0 NULL -> t/df NULL (mean still reported)
    assert(byExp("B")._2 == 1L && byExp("B")._4.contains(5.0) &&
      byExp("B")._6.isEmpty && byExp("B")._8.isEmpty)
    // C: both arms zero variance -> se2 = 0 -> NULL, never ±Inf
    assert(byExp("C")._6.contains(0.0) && byExp("C")._8.isEmpty &&
      byExp("C")._9.isEmpty)
    // D: no control arm at all -> n_0 = 0, everything control-side NULL
    assert(byExp("D") == ("D", 0L, 3L, None, Some(2.0), None,
      Some(1.0), None, None))
  }

  test("madAnomalyFromHourly: rank-arithmetic medians over the " +
    "zero-filled spine, hand-pinned robust z, MAD-0 reads NULL") {
    // one type, 5 spine hours (one silent -> n=0): counts [1,2,3,10,0]
    // median 2 (m2=4), deviations |2n-4| = [2,0,2,16,4] -> MAD4 = 4
    val cells = Seq(("a", 0L, 1L), ("a", 3600L, 2L), ("a", 7200L, 3L),
      ("a", 14400L, 10L),
      // type b: constant counts -> MAD 0 -> rz NULL, never Inf
      ("b", 0L, 5L), ("b", 3600L, 5L), ("b", 7200L, 5L))
      .toDF("event_type", "h", "cnt")
    val got = Events.madAnomalyFromHourly(cells)
      .orderBy("event_type", "hour_epoch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.get(5))))
    val a = got.filter(_._1 == "a")
    assert(a.map(_._2).toSeq == Seq(0L, 3600L, 7200L, 10800L, 14400L))
    assert(a.map(_._3).toSeq == Seq(1L, 2L, 3L, 0L, 10L))
    assert(a.forall(r => r._4 == 4L && r._5 == 4L))
    val spike = a.find(_._3 == 10L).get
    assert(spike._6.contains(2.0 * (2 * 10 - 4) / (1.4826 * 4)))
    val silent = a.find(_._3 == 0L).get
    assert(silent._6.contains(2.0 * (2 * 0 - 4) / (1.4826 * 4)))
    val b = got.filter(_._1 == "b")
    assert(b.forall(r => r._5 == 0L && r._6.isEmpty))
  }

  test("mannWhitney: hand-computed U/z/CLES with and without ties; " +
    "all-tied and missing-arm designs read NULL") {
    val rows =
      // A: complete separation, no ties: U_A = 0, z = -9/(2*sqrt(5.25))
      Seq(1L, 2L, 3L).map(x => ("A", 0L, x)) ++
      Seq(4L, 5L, 6L).map(x => ("A", 1L, x)) ++
      // B: tie group of 3 at value 5 -> tie3 = 24, U_A = 1, z = -1
      Seq(5L, 5L).map(x => ("B", 0L, x)) ++ Seq(("B", 1L, 5L), ("B", 1L, 7L)) ++
      // C: ALL values tied -> tie term zeroes the variance -> z NULL
      Seq(("C", 0L, 3L), ("C", 0L, 3L), ("C", 1L, 3L)) ++
      // D: no control arm
      Seq(("D", 1L, 1L), ("D", 1L, 2L)) ++
      Seq(("A", 2L, 999L)) // off-design variant: dropped
    val got = Events.mannWhitney(rows.toDF("exp", "variant", "x"),
        "exp", "variant", "x")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(5)), Option(r.get(6))))).toMap
    val zA = (0.0 - 9.0) / (2.0 * math.sqrt(
      3.0 * 3 * (216 - 6) / (12.0 * 6 * 5)))
    assert(got("A") == ((3L, 3L, 0L, Some(zA), Some(0.0))))
    assert(got("B") == ((2L, 2L, 2L, Some(-1.0), Some(0.25))))
    assert(got("C")._4.isEmpty && got("C")._5.contains(0.5))
    assert(got("D") == ((0L, 2L, -1L * 0L, None, None)) ||
      (got("D")._1 == 0L && got("D")._4.isEmpty && got("D")._5.isEmpty))
  }

  test("mannWhitney refuses a non-quantized metric") {
    val units = Seq(("A", 0L, 1.5)).toDF("exp", "variant", "x")
    intercept[IllegalArgumentException] {
      Events.mannWhitney(units, "exp", "variant", "x")
    }
  }

  test("welchT refuses a non-quantized (non-long) metric") {
    val units = Seq(("A", 0L, 1.5)).toDF("exp", "variant", "x")
    intercept[IllegalArgumentException] {
      Events.welchT(units, "exp", "variant", "x")
    }
  }

  test("funnelStages requires strict temporal order across steps") {
    val e = Seq(
      // user 1: full funnel in order
      (0L, ts(10), 1L, "view", 0.0), (1L, ts(20), 1L, "click", 0.0),
      (2L, ts(30), 1L, "purchase", 0.0),
      // user 2: purchase BEFORE the view-click chain -> stage 2 only
      (3L, ts(5), 2L, "purchase", 0.0), (4L, ts(10), 2L, "view", 0.0),
      (5L, ts(20), 2L, "click", 0.0),
      // user 3: click only, no view first -> stage 0
      (6L, ts(10), 3L, "click", 0.0),
      // user 4: view only
      (7L, ts(10), 4L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.funnelStages(e, Seq("view", "click", "purchase"))
      .as[(Int, Long)].collect().toMap
    assert(r == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L))
  }

  test("retentionCohorts counts each user once per (cohort, offset) cell") {
    // user 1 first active day 0, returns day 2 (twice -> still 1 user);
    // user 2 first active day 2 only
    val e = Seq(
      (0L, ts(0), 1L, "click", 1.0),
      (1L, ts(2 * 86400), 1L, "view", 1.0),
      (2L, ts(2 * 86400 + 60), 1L, "view", 1.0),
      (3L, ts(2 * 86400), 2L, "click", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.retentionCohorts(e, "1970-01-01")
      .as[(Int, Int, Long)].collect().toSet
    assert(r == Set((0, 0, 1L), (0, 2, 1L), (2, 0, 1L)))
  }

  test("hourlyAgg buckets by event-time hour and type") {
    val r = Events.hourlyAgg(events).collect()
    val clicks0 = r.find(x => x.getAs[Long]("hour_epoch") == 0L &&
      x.getAs[String]("event_type") == "click").get
    assert(clicks0.getAs[Long]("n_events") == 3L &&
      clicks0.getAs[Long]("n_users") == 2L &&
      clicks0.getAs[Double]("sum_value") == 7.0)
  }

  test("interEventGaps: gaps key on the later event's type, firsts drop") {
    // user 1: click@0 -> click@60 (gap 60s) -> view@4000 (gap 3940s);
    // user 2: single event, no gap
    val r = Events.interEventGaps(events).orderBy("event_type").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2), x.getDouble(3)))
    assert(r.toSeq == Seq(
      ("click", 1L, 60000000.0, 60000000.0),
      ("view", 1L, 3940000000.0, 3940000000.0)))
  }

  test("rollingActive: DAU counts the day, WAU the trailing window") {
    // day 0: users 1,2; day 1: user 1; day 8: user 2
    val ev2 = Seq(
      (0L, ts(10), 1L, "c", 1.0), (1L, ts(20), 2L, "c", 1.0),
      (2L, ts(86400 + 10), 1L, "c", 1.0),
      (3L, ts(8 * 86400 + 10), 2L, "c", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.rollingActive(ev2, windowDays = 7).orderBy("d")
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(
      (0, 2L, 2L),    // day 0: both active; window {0}: both
      (1, 1L, 2L),    // day 1: user 1; window {0,1}: both
      (8, 1L, 1L)))   // day 8: user 2; window {2..8}: user 1's days
                      // 0/1 and user 2's day 0 all fell out
  }

  test("transitionMatrix: per-user lag pairs, conditional rows sum to 1") {
    // user 1: a->b->a (pairs ab, ba); user 2: a->a; user 3: single event
    val ev2 = Seq(
      (0L, ts(10), 1L, "a", 1.0), (1L, ts(20), 1L, "b", 1.0),
      (2L, ts(30), 1L, "a", 1.0),
      (3L, ts(10), 2L, "a", 1.0), (4L, ts(40), 2L, "a", 1.0),
      (5L, ts(10), 3L, "c", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.transitionMatrix(ev2)
      .orderBy("prev_type", "next_type").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3)))
    assert(r.toSeq == Seq(
      ("a", "a", 1L, 0.5), ("a", "b", 1L, 0.5), ("b", "a", 1L, 1.0)))
  }

  test("gapFillDaily: dense grid, zero-filled counts, forward-filled type") {
    // user 1: day 0 (click@10 then view@20), silent days 1-2, day 3 (buy);
    // user 2: single day -> single grid row, days_since 0
    val ev2 = Seq(
      (0L, ts(10), 1L, "click", 1.0), (1L, ts(20), 1L, "view", 1.0),
      (2L, ts(3 * 86400 + 5), 1L, "buy", 1.0),
      (3L, ts(9 * 86400), 2L, "c", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.gapFillDaily(ev2).orderBy("user_id", "d").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2),
        x.getString(3), x.getInt(4)))
    assert(r.toSeq == Seq(
      (1L, 0, 2L, "view", 0),  // last of day 0 is view@20
      (1L, 1, 0L, "view", 1),  // silent: count 0, type carried, 1 day since
      (1L, 2, 0L, "view", 2),
      (1L, 3, 1L, "buy", 0),
      (2L, 9, 1L, "c", 0)))
  }

  test("seasonalAnomaly: z is slot-relative (a constant daily profile " +
    "reads NULL where a whole-series z would flag), zero-filled slots " +
    "stay degenerate, and the burst day scores the hand moments") {
    val day = 86400L
    // one type, 3 days: hour-0 count is ALWAYS 2 (constant profile —
    // zero slot variance), hour-1 counts 1/1/3 (day-2 burst)
    val rows = Seq(0L, 10L, day, day + 10L, 2 * day, 2 * day + 10L, // slot 0
      3600L, day + 3600L,                                           // slot 1
      2 * day + 3600L, 2 * day + 3610L, 2 * day + 3620L)            // burst
    val ev = rows.zipWithIndex.map { case (t, i) =>
      (i.toLong, ts(t), 1L, "a", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.seasonalAnomaly(ev).collect()
      .map(r => (r.getLong(1), (r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    // slot 0: counts 2,2,2 -> zero variance -> NULL (e11's whole-series
    // z over this mixed series would be nonzero for these hours)
    assert(got(0L) == ((0L, 2L, None)))
    assert(got(day) == ((0L, 2L, None)))
    // slot 1: c=3, s=5, q=11 — the same fixed IEEE expression
    def zOf(n: Long, c: Long, s: Long, q: Long): Double =
      (n * c - s).toDouble /
        (c * math.sqrt((q * c - s * s).toDouble / (c * (c - 1))))
    assert(got(3600L) == ((1L, 1L, Some(zOf(1, 3, 5, 11)))))
    assert(got(2 * day + 3600L) == ((1L, 3L, Some(zOf(3, 3, 5, 11)))))
    assert(got(2 * day + 3600L)._3.get > 1.0, "burst flags positive")
    // zero-filled slots (2..23 exist on 2 spine days, both zero) are
    // degenerate: present, n=0, NULL z
    assert(got(7200L) == ((2L, 0L, None)))
    // the whole dense spine is emitted: 2 full days + 2 hours
    assert(got.size == 50)
  }

  test("rangeBucketJoin == the plain inequality join at every bucket " +
    "width: boundaries, multi-bucket spans, negatives, duplicates; " +
    "reversed ranges match nothing") {
    val ranges = Seq(
      (1L, 0L, 10L),      // spans buckets at small widths
      (2L, 5L, 5L),       // degenerate single-point interval
      (3L, -300L, -1L),   // all-negative interval
      (4L, 250L, 260L),   // far bucket
      (5L, 7L, 3L)        // REVERSED: must match nothing
    ).toDF("rid", "lo", "hi")
    val pts = Seq(-300L, -150L, -1L, 0L, 3L, 5L, 5L, 7L, 10L, 11L, 255L)
      .toDF("p") // note the duplicate 5: multiplicity must be preserved
    val want = ranges.crossJoin(pts)
      .filter(col("p") >= col("lo") && col("p") <= col("hi"))
      .select("rid", "lo", "hi", "p")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(want.nonEmpty && !want.exists(_._1 == 5L), "fixture sanity")
    for (w <- Seq(1L, 4L, 128L, 100000L)) {
      val got = Events.rangeBucketJoin(pts, "p", ranges, "lo", "hi", w)
        .select("rid", "lo", "hi", "p")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      assert(got == want, s"bucketWidth=$w")
    }
    // shared column names fail fast (the result carries both inputs)
    intercept[IllegalArgumentException] {
      Events.rangeBucketJoin(pts.withColumnRenamed("p", "lo"), "lo",
        ranges, "lo", "hi", 4L)
    }
  }

  test("anovaF: hand-computed F over two separated arms; single-arm " +
    "and zero-within-variance experiments read NULL") {
    val units = Seq(
      ("x", 0L, 1L), ("x", 0L, 2L), ("x", 1L, 4L), ("x", 1L, 6L),
      ("y", 0L, 5L), ("y", 0L, 9L),
      ("z", 0L, 5L), ("z", 0L, 5L), ("z", 1L, 7L), ("z", 1L, 7L)
    ).toDF("exp", "variant", "metric")
    val got = Events.anovaF(units, "exp", "variant", "metric")
      .orderBy("exp").collect()
    // x: A = 9/2 + 100/2 = 54.5, S=13, Q=57, N=4, k=2
    //    SSB = 54.5 - 169/4 = 12.25; SSW = 57 - 54.5 = 2.5
    //    F = (12.25/1)/(2.5/2) = 9.8
    val x = got(0)
    assert(x.getAs[Long]("k_arms") == 2L && x.getAs[Long]("n_units") == 4L)
    assert(math.abs(x.getAs[Double]("ssb") - 12.25) < 1e-9)
    assert(math.abs(x.getAs[Double]("ssw") - 2.5) < 1e-9)
    assert(math.abs(x.getAs[Double]("f_stat") - 9.8) < 1e-9)
    // y: one arm -> no between-groups df -> NULL
    assert(got(1).getAs[Long]("k_arms") == 1L && got(1).isNullAt(5))
    // z: arms internally constant -> SSW = 0 -> NULL (never +Inf)
    assert(math.abs(got(2).getAs[Double]("ssw")) < 1e-9 &&
      got(2).isNullAt(5))
  }

  test("markovAbsorption: hand-iterated 3-state chain — integer " +
    "micro-unit value iteration with truncating division, absorbing " +
    "target holds mass, no-outgoing states read zero") {
    // transitions: A->B x2, A->T x1 (t_A=3); B->T x1, B->B x1 (t_B=2)
    val ev = Seq(
      (0L, ts(0), 1L, "A", 0.0), (1L, ts(10), 1L, "B", 0.0),
      (2L, ts(0), 2L, "A", 0.0), (3L, ts(10), 2L, "B", 0.0),
      (4L, ts(0), 3L, "A", 0.0), (5L, ts(10), 3L, "T", 0.0),
      (6L, ts(0), 4L, "B", 0.0), (7L, ts(10), 4L, "T", 0.0),
      (8L, ts(0), 5L, "B", 0.0), (9L, ts(10), 5L, "B", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.markovAbsorption(ev, "T", steps = 2)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // V1: A = (2*0 + 1e9)/3 = 333333333, B = (1e9 + 0)/2 = 500000000
    // V2: A = (2*5e8 + 1e9)/3 = 666666666, B = (1e9 + 5e8)/2 = 75e7
    assert(got == Seq(
      ("A", 3L, 666666666L, 666666666L.toDouble / 1e9),
      ("B", 2L, 750000000L, 0.75),
      ("T", 0L, 1000000000L, 1.0)), s"got $got")
    // one step only: the truncation is per-iteration, not compounded
    val one = Events.markovAbsorption(ev, "T", steps = 1)
      .orderBy("event_type").collect().map(_.getLong(2)).toSeq
    assert(one == Seq(333333333L, 500000000L, 1000000000L))
  }

  test("normalTwoSidedP: p(0)=1, the 1.96 critical point reads ~0.05, " +
    "symmetric in t, NULL t yields NULL p") {
    val r = Seq((1L, Some(0.0)), (2L, Some(1.959963985)),
      (3L, Some(-1.959963985)), (4L, None: Option[Double]))
      .toDF("id", "t")
      .select(col("id"), Events.normalTwoSidedP(col("t")).as("p"))
      .orderBy("id").collect()
    assert(r(0).getDouble(1) == 1.0)
    assert(math.abs(r(1).getDouble(1) - 0.05) < 1e-4)
    assert(r(1).getDouble(1) == r(2).getDouble(1), "two-sided symmetry")
    assert(r(3).isNullAt(1))
  }

  test("bhFdr: hand-computed step-up table — the running min repairs " +
    "non-monotone raw q's, NULLs are excluded from m and ranked last " +
    "with NULL q/reject") {
    // classic BH shape: raw q's (.03, .06, .045) are non-monotone; the
    // step-up min pulls b down to c's .045
    val tests = Seq(("a", Some(0.01)), ("b", Some(0.04)),
      ("c", Some(0.045)), ("d", None: Option[Double]))
      .toDF("exp", "p")
    val got = Events.bhFdr(tests, "exp", "p", alpha = 0.05)
      .orderBy("exp").collect()
      .map(r => (r.getString(0), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toSeq
    val qc = 0.045 * 3 / 3
    val qb = math.min(0.04 * 3 / 2, qc)
    val qa = math.min(0.01 * 3 / 1, qb)
    assert(got == Seq(
      ("a", 1, Some(qa), Some(true)),
      ("b", 2, Some(qb), Some(true)),
      ("c", 3, Some(qc), Some(true)),
      ("d", 4, None, None)), s"got $got")
    // high-p regime: a raw q above 1 (0.9·2/1 = 1.8) resolves through
    // the running min to the last rank's p·m/m = p, which is ≤ 1 by
    // construction — q never exceeds 1
    val one = Events.bhFdr(Seq(("x", 0.9)).toDF("exp", "p"),
      "exp", "p", alpha = 0.05).collect().head
    assert(one.getDouble(3) == 0.9 && !one.getBoolean(4))
    val big = Events.bhFdr(Seq(("x", 0.9), ("y", 0.95)).toDF("exp", "p"),
      "exp", "p", alpha = 0.05).orderBy("exp").collect()
    assert(big(0).getDouble(3) == math.min(0.9 * 2 / 1, 0.95 * 2 / 2) &&
      big(1).getDouble(3) == math.min(1.0, 0.95 * 2 / 2) &&
      big(0).getDouble(3) <= 1.0)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media plumbing: payload bytes, type assignment, stub features") {
    implicit val s = spark
    val docs = Seq((0L, "hello"), (1L, "worldly"), (2L, "!")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs))
      .collect().sortBy(_.doc_id)
    assert(feats.map(_.media_type).toSeq == Seq("image", "audio", "video"))
    assert(feats.map(_.payload_len).toSeq == Seq(5, 7, 1))
    assert(feats.forall(f => f.width >= 0 && f.n_frames >= 0))
    // deterministic: second run yields identical checksums
    val again = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs))
      .collect().sortBy(_.doc_id)
    assert(feats.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
  }

  test("binaryFile ingest: typed media rows from raw files, glob filter") {
    implicit val s = spark
    val dir = java.nio.file.Files.createTempDirectory("media").toFile
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes)
    put("a.jpg", Array[Byte](1, 2, 3))
    put("b.wav", Array[Byte](4, 5))
    put("c.mp4", Array[Byte](6))
    put("notes.txt", Array[Byte](7, 8))
    val media = Multimodal.mediaFromBinaryDir(dir.getAbsolutePath)
      .collect().sortBy(m => (m.payload.length, m.media_type))
    assert(media.map(_.media_type).toSeq ==
      Seq("video", "audio", "binary", "image"))
    assert(media.map(_.payload.toSeq).toSeq ==
      Seq(Seq[Byte](6), Seq[Byte](4, 5), Seq[Byte](7, 8),
        Seq[Byte](1, 2, 3)))
    // ids are stable across re-ingest (path-derived)
    val again = Multimodal.mediaFromBinaryDir(dir.getAbsolutePath)
      .collect().map(_.doc_id).sorted
    assert(again.sameElements(media.map(_.doc_id).sorted))
    // listing-time glob keeps a mixed directory from reading non-media
    val onlyImg = Multimodal.mediaFromBinaryDir(
      dir.getAbsolutePath, Some("*.jpg")).collect()
    assert(onlyImg.map(_.media_type).toSeq == Seq("image"))
    // the stub feature pass runs over file-ingested rows unchanged
    val feats = Multimodal.extractFeatures(
      Multimodal.mediaFromBinaryDir(dir.getAbsolutePath)).collect()
    assert(feats.length == 4 && feats.forall(_.payload_len > 0))
  }

  test("sampleFrames decimates videos only, every Nth frame") {
    implicit val s = spark
    val docs = (0L until 9L).map(i => (i, s"document number $i payload"))
      .toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs)
    val frames = Multimodal.sampleFrames(media, everyN = 30).collect()
    val videoDocs = media.filter(_.media_type == "video").collect()
    assert(frames.map(_.doc_id).toSet == videoDocs.map(_.doc_id).toSet)
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f.n_frames).toMap
    frames.groupBy(_.doc_id).foreach { case (id, fs) =>
      assert(fs.length == (feats(id) + 29) / 30) // ceil(n_frames / everyN)
      assert(fs.map(_.frame_idx).sorted.toSeq ==
        (0 until feats(id) by 30).toSeq)
    }
  }

  test("imagePhash: locality and blocking — identical payloads pair at " +
    "hamming 0, perturbed ones stay nearer than unrelated ones") {
    implicit val s = spark
    import Multimodal.MediaRecord
    val base = Array.tabulate(256)(i => ((i * 7) % 251).toByte)
    val tweaked = base.clone(); tweaked(10) = (tweaked(10) + 1).toByte
    val other = Array.tabulate(256)(i => ((i * 131 + 17) % 251).toByte)
    val media = Seq(
      MediaRecord(0L, "image", base),
      MediaRecord(1L, "image", base),      // exact visual dup of 0
      MediaRecord(2L, "image", tweaked),   // near dup of 0
      MediaRecord(3L, "image", other),     // unrelated
      MediaRecord(4L, "audio", base)       // non-image: ignored
    ).toDS()
    val h = Multimodal.imagePhash(media).collect()
      .map(r => r.doc_id -> r.phash).toMap
    assert(h.keySet == Set(0L, 1L, 2L, 3L)) // audio row dropped
    assert(h(0L) == h(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(2L)) < ham(h(0L), h(3L)))
    val pairs = Multimodal.phashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
    // the unrelated image never pairs within the hamming cap
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))

    // end-to-end visual dedup: min-id per cluster kept, images only
    val keep = Multimodal.dedupImages(media).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep.keySet == Set(0L, 1L, 2L, 3L))
    assert(keep(0L) && !keep(1L) && keep(3L))
    // 2 keeps exactly when nothing paired it into 0's cluster
    assert(keep(2L) == !pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("imagePhash real decode: PNG/JPEG fixtures — identical images at " +
    "hamming 0 across codecs, perturbed nearer than unrelated") {
    implicit val s = spark
    import Multimodal.MediaRecord
    import java.awt.image.BufferedImage
    // deterministic 64x64 gradient-with-blocks scene; paint(perturb=true)
    // flips one 8x8 block slightly, scene B is a different pattern
    def paint(kind: Int): BufferedImage = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = kind match {
          case 0 => (x * 2 + y) % 256                  // base scene
          case 1 => // base with one brightened block (near dup)
            val b = (x * 2 + y) % 256
            if (x >= 16 && x < 24 && y >= 16 && y < 24)
              math.min(b + 40, 255) else b
          case _ => (255 - x * 3 + (y % 7) * 31) % 256 // unrelated
        }
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def encode(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val media = Seq(
      MediaRecord(0L, "image", encode(paint(0), "png")),
      MediaRecord(1L, "image", encode(paint(0), "png")), // exact dup
      MediaRecord(2L, "image", encode(paint(1), "png")), // near dup
      MediaRecord(3L, "image", encode(paint(2), "png")), // unrelated
      MediaRecord(4L, "image", encode(paint(0), "jpg"))  // same SCENE, jpeg
    ).toDS()
    val h = Multimodal.imagePhash(media).collect()
      .map(r => r.doc_id -> r.phash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(0L) == h(1L)) // identical bytes, identical hash
    assert(ham(h(0L), h(2L)) < ham(h(0L), h(3L))) // locality on pixels
    // cross-codec: the jpeg of the SAME scene hashes (near-)identically —
    // the point of a PERCEPTUAL hash; the byte-sampling stub could never
    // do this (png and jpeg bytes of one scene share nothing)
    assert(ham(h(0L), h(4L)) <= 2)
    assert(ham(h(4L), h(3L)) > ham(h(4L), h(0L)))
    // direct grid check: real decode path engaged (not the stub fallback)
    assert(Multimodal.lumaGrid8x8(encode(paint(0), "png")).isDefined)
    // garbage bytes take the stub path, not an exception
    assert(Multimodal.lumaGrid8x8(Array.tabulate(64)(_.toByte)).isEmpty)
  }

  test("chunkAudio tiles audio rows only: stride, overlap, true tail") {
    implicit val s = spark
    val docs = (0L until 9L).map(i => (i, s"audio document payload $i"))
      .toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs)
    val samples = Multimodal.extractFeatures(media).collect()
      .filter(_.media_type == "audio").map(f => f.doc_id -> f.n_frames).toMap
    val chunks = Multimodal.chunkAudio(media,
      chunkSamples = 4000, overlapSamples = 400).collect()
    assert(chunks.map(_.doc_id).toSet == samples.keySet) // audio only
    chunks.groupBy(_.doc_id).foreach { case (id, cs) =>
      val n = samples(id)
      val sorted = cs.sortBy(_.chunk_idx)
      // windows start every stride=3600 until the signal is covered
      assert(sorted.map(_.start_sample).toSeq ==
        (0 until n by 3600).toSeq)
      assert(sorted.map(_.chunk_idx).toSeq == sorted.indices.toSeq)
      // full windows everywhere except an explicit true-length tail
      sorted.init.foreach(c => assert(c.n_samples == 4000))
      assert(sorted.last.n_samples == n - sorted.last.start_sample)
      // consecutive windows overlap by exactly 400 samples
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.start_sample == a.start_sample + 3600)
        case _ =>
      }
    }
    // overlap must be smaller than the window
    assertThrows[IllegalArgumentException](
      Multimodal.chunkAudio(media, 100, 100))
  }

  test("resizeImages caps the long edge and preserves aspect") {
    implicit val s = spark
    val docs = (0L until 9L).map(i => (i, "x " * (i.toInt + 1) * 40))
      .toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs)
    val dims = Multimodal.extractFeatures(media).collect()
      .filter(_.media_type == "image").map(f => f.doc_id -> (f.width, f.height)).toMap
    val resized = Multimodal.resizeImages(media, maxDim = 64).collect()
    assert(resized.map(_.doc_id).toSet == dims.keySet) // images only
    resized.foreach { r =>
      val (w, h) = dims(r.doc_id)
      assert(math.max(r.width, r.height) == 64)
      // integer-rounded aspect preservation
      if (w >= h) assert(r.height == math.max(1, h.toLong * 64 / w).toInt)
      else assert(r.width == math.max(1, w.toLong * 64 / h).toInt)
      assert(r.payload.nonEmpty)
    }
  }
}

class QualitySpec extends SparkSpec {
  import spark.implicits._
  import QualityModel.LinearQualityModel

  // deterministic two-population corpus: fluent English-ish sentences
  // (shared vocabulary pool) vs consonant mash — held-out rows reuse the
  // same pools, so a model that learns the vocabulary generalizes
  private val goodPool = Vector("the", "cat", "sat", "on", "mat", "and",
    "dog", "ran", "to", "house", "with", "a", "small", "bird", "in", "tree")
  private val badPool = Vector("zzqx", "vvkj", "qqrp", "xxzt", "wwfg",
    "kkbn", "jjdm", "ppzv", "ttqs", "hhxw", "ggkc", "bbvn")
  private def doc(pool: Vector[String], seed: Int, len: Int): String =
    (0 until len).map(i => pool((seed * 31 + i * 7) % pool.size)).mkString(" ")
  private def corpus(n: Int) =
    ((0 until n).map(i => (i.toLong, doc(goodPool, i, 12 + i % 9), 1.0)) ++
     (0 until n).map(i => (i.toLong + n, doc(badPool, i, 12 + i % 9), 0.0)))
      .toDF("doc_id", "text", "label")

  test("trained model separates planted populations on held-out docs") {
    val train = corpus(60).filter($"doc_id" % 3 =!= 0)
    val test = corpus(60).filter($"doc_id" % 3 === 0)
    val m = QualityModel.train(train, "text", "label", dim = 1024,
      iters = 100, lr = 2.0)
    val scored = test.select($"label", m.logit($"text").as("logit")).collect()
    val acc = scored.count(r =>
      (r.getDouble(1) > 0) == (r.getDouble(0) > 0.5)).toDouble / scored.length
    assert(acc >= 0.9, s"held-out accuracy $acc")
  }

  test("training is bit-reproducible") {
    val df = corpus(30)
    val m1 = QualityModel.train(df, "text", "label", dim = 256, iters = 20)
    val m2 = QualityModel.train(df, "text", "label", dim = 256, iters = 20)
    assert(m1.bias == m2.bias && m1.weights.sameElements(m2.weights))
  }

  test("sample selection plans as TakeOrderedAndProject (bounded, " +
    "never a global sort)") {
    // maxSample below the frame's known row count — otherwise
    // EliminateLimits drops the limit entirely (maxRows <= limit) and
    // there is no top-k to plan
    val p = QualityModel.sampleFrame(corpus(30), "text", "label", 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("save/load round-trips the model exactly") {
    val m = QualityModel.train(corpus(20), "text", "label", dim = 128,
      iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("qmodel").toString
    m.save(spark, dir)
    val back = LinearQualityModel.load(spark, dir)
    assert(back.bias == m.bias && back.weights.sameElements(m.weights))
  }

  test("fused expression strictly equals the sequential reference scorer") {
    val m = QualityModel.train(corpus(20), "text", "label", dim = 512,
      iters = 30)
    val texts = Seq("", "a", "the cat", "zzqx  vvkj", " padded  runs ",
      doc(goodPool, 7, 25), doc(badPool, 3, 25))
    val viaExpr = texts.toDF("text").select(m.logit($"text")).collect()
      .map(_.getDouble(0))
    assert(viaExpr.toSeq == texts.map(m.scoreText))
  }
}

class LangIdSpec extends SparkSpec {
  import spark.implicits._
  import LangIdModel.MulticlassLangModel

  // deterministic three-language corpus: disjoint function-word pools
  // plus a SHARED content pool (the realistic shape — languages differ
  // in their closed-class words, not their topic nouns); held-out rows
  // reuse the same pools, so a model that learns the per-language
  // vocabulary generalizes
  private val pools = Map(
    "en" -> Vector("the", "and", "of", "is", "with", "from", "that"),
    "fr" -> Vector("le", "et", "des", "est", "avec", "une", "que"),
    "de" -> Vector("der", "und", "von", "ist", "mit", "eine", "dass"))
  private val shared = Vector("data", "table", "query", "join", "spark",
    "row", "batch", "filter")
  private def doc(lang: String, seed: Int, len: Int): String = {
    val p = pools(lang)
    (0 until len).map { i =>
      val r = seed * 31 + i * 7
      if (r % 3 == 0) shared(r % shared.size) else p((r / 3) % p.size)
    }.mkString(" ")
  }
  private def corpus(nPerLang: Int) =
    pools.keys.toSeq.sorted.zipWithIndex.flatMap { case (l, li) =>
      (0 until nPerLang).map(i =>
        ((li * nPerLang + i).toLong, doc(l, i, 10 + i % 8), l))
    }.toDF("doc_id", "text", "lang")

  test("trained model hits >= 0.9 on held-out planted populations") {
    val train = corpus(60).filter($"doc_id" % 3 =!= 0)
    val test = corpus(60).filter($"doc_id" % 3 === 0)
    val m = LangIdModel.train(train, "text", "lang", dim = 1024,
      iters = 150, lr = 2.0)
    assert(m.labels.toSeq == Seq("de", "en", "fr"))
    val scored = test.select($"lang", m.predict($"text").as("pred")).collect()
    val acc = scored.count(r => r.getString(1) == r.getString(0))
      .toDouble / scored.length
    assert(acc >= 0.9, s"held-out accuracy $acc")
  }

  test("training is bit-reproducible") {
    val df = corpus(20)
    val m1 = LangIdModel.train(df, "text", "lang", dim = 256, iters = 20)
    val m2 = LangIdModel.train(df, "text", "lang", dim = 256, iters = 20)
    assert(m1.biases.sameElements(m2.biases) &&
      m1.weights.zip(m2.weights).forall { case (a, b) => a.sameElements(b) })
  }

  test("save/load round-trips the model exactly") {
    val m = LangIdModel.train(corpus(15), "text", "lang", dim = 128,
      iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("langmodel").toString
    m.save(spark, dir)
    val back = MulticlassLangModel.load(spark, dir)
    assert(back.labels.sameElements(m.labels) &&
      back.biases.sameElements(m.biases) &&
      back.weights.zip(m.weights).forall { case (a, b) => a.sameElements(b) })
  }

  test("fused argmax expression strictly equals the sequential reference " +
    "predictor (incl. empty/padded/tie inputs)") {
    val m = LangIdModel.train(corpus(15), "text", "lang", dim = 512,
      iters = 30)
    val texts = Seq("", "a", "the cat", "le der the", " padded  runs ",
      doc("en", 7, 25), doc("fr", 3, 25), doc("de", 5, 3))
    val viaExpr = texts.toDF("text").select(m.predict($"text")).collect()
      .map(_.getString(0))
    assert(viaExpr.toSeq == texts.map(m.predictText))
  }

  test("sample selection plans as TakeOrderedAndProject (bounded)") {
    val p = LangIdModel.sampleFrame(corpus(30), "text", "lang", 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }
}

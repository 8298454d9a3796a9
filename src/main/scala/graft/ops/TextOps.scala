package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis combinators for training-data pipelines. All pure
  * `Column` expressions over `org.apache.spark.sql.functions` — zero UDFs.
  * (Note: the lambda higher-order functions used here are CodegenFallback
  * in Spark — interpreted, but cheap at per-document granularity; the
  * per-PAIR hot paths in Dedup/VectorOps avoid them entirely.)
  *
  * Every expression here has a DuckDB-SQL mirror (see
  * graft.queries.PipelinePack) computed with IDENTICAL arithmetic: integer
  * counts combined with one final double division, so the oracle compare
  * is bit-exact.
  */
object TextOps {

  /** Whitespace tokens, empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Distinct token set. */
  def wordSet(text: Column): Column = array_distinct(tokens(text))

  /** Adjacent word-pair (bigram/2-shingle) set — the blocking unit for
    * n-gram Jaccard dedup. With a small vocabulary V, bigram keyspace is
    * |V|^2, keeping inverted-index buckets ~|V| times smaller than
    * single-token buckets. Native expression (graft.functions
    * .BigramSetExpr): this runs once per corpus document in every dedup
    * operator, where an interpreted zip_with/array_distinct lambda stack
    * is a real per-row cost at 100 TB.
    */
  def bigramSet(text: Column): Column =
    graft.functions.HashExpressions.bigramSet(text)

  /** Distinct UNDIRECTED adjacent word-pair set as
    * `array<struct<u,v>>` with `u < v` binary order — TextRank's
    * co-occurrence edges fused into the scan stage (no posexplode, no
    * lead window, no per-doc sort). Native expression
    * (graft.functions.AdjacentPairSetExpr).
    */
  def adjacentPairSet(text: Column): Column =
    graft.functions.HashExpressions.adjacentPairSet(text)

  /** Adjacent word-pair LIST — document order, with multiplicity — the
    * scoring unit for conditional bigram surprisal ([[Corpus
    * .bigramSurprisalPerDoc]]); [[bigramSet]] is the distinct blocking
    * variant the dedup operators use. Empty and 1-token docs yield `[]`.
    */
  def bigramList(text: Column): Column =
    graft.functions.HashExpressions.ngramList(text, 2)

  /** Adjacent word TRIGRAMS as space-joined strings — [[bigramList]]'s
    * order-3 sibling (the KN-trigram feature stream). Docs under three
    * tokens yield the empty array.
    *
    * r15: both list builders are the fused native [[graft.functions
    * .NGramList]] (one tokenize pass per document). The former
    * higher-order-function forms evaluated INTERPRETED, and the trigram
    * `transform(sequence, i => concat_ws(element_at(tokens, i+k)...))`
    * re-evaluated the whole `filter(split(text))` token array on every
    * `element_at` call — O(|doc|²) per row, measured as 5–11 s single-task
    * map stages in each of t37's six rollups at sf0.1. Output values are
    * byte-identical (same tokenizer convention, same space join).
    */
  def trigramList(text: Column): Column =
    graft.functions.HashExpressions.ngramList(text, 3)

  /** Marker stopwords per language for the n-gram language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "in", "to"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"))

  /** Hit count of `markers` among the document's distinct tokens. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(wordSet(text), w => w.isInCollection(markers)))

  /** Argmax language by marker hits; fixed priority order breaks ties
    * (first language wins), so the result is deterministic.
    *
    * r16: fused single-pass expression ([[graft.functions
    * .MarkerLangIdExpr]]). The former argmax CASE ([[langIdCase]], kept
    * for the equivalence spec) re-evaluated `markerHits` — an
    * interpreted `size(filter(array_distinct(filter(split(text)))))`
    * stack — once per surviving comparison branch: ~8 full tokenize
    * passes per row on the winning-first-branch path. One loop,
    * identical output values (FusedLangIdSpec, incl. NULL -> last
    * label, ties, repeated markers).
    */
  def langId(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.MarkerLangIdExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text),
        langMarkers.map(_._1), langMarkers.map(_._2)))

  /** The pre-r16 argmax CASE over [[markerHits]] scores — the reference
    * formulation [[langId]]'s fused expression is spec-gated against
    * (and the shape the DuckDB oracle mirrors verbatim).
    */
  private[graft] def langIdCase(text: Column): Column = {
    val scores = langMarkers.map { case (l, ms) => l -> markerHits(text, ms) }
    // CASE WHEN s_en >= all others THEN 'en' WHEN s_es >= remaining ... END
    val branches = scores.zipWithIndex.map { case ((l, s), i) =>
      val rest = scores.drop(i + 1).map(_._2)
      val cond = rest.foldLeft(lit(true))((acc, o) => acc && s >= o)
      (cond, lit(l))
    }
    branches.init.foldRight(branches.last._2: Column) {
      case ((cond, v), els) => when(cond, v).otherwise(els)
    }
  }

  /** Number of punctuation characters (fixed class, regex-dialect-safe). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /** Number of uppercase ASCII characters. */
  def upperCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[A-Z]", ""))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: alpha runs, single digits, and single
    * non-alphanumeric glyphs each count as one token.
    *
    * Fidelity vs a REAL corpus-trained BPE (measured, BpeFidelitySpec —
    * reference trainer + greedy rank encoder on the synthetic corpus):
    * mean relative divergence 0.82 with 0 merges (character regime),
    * 0.000 once the merge table covers the corpus vocabulary (≥150
    * merges here; gate at ≤0.02). I.e. the heuristic equals
    * 1-token-per-in-vocabulary-word BPE and UNDERCOUNTS by the subword
    * fan-out of out-of-vocabulary words — fine for quality ratios and
    * budget estimates on natural text, not a substitute for the real
    * tokenizer's counts when packing to an exact context length.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))

  /** Train a BPE merge table (Sennrich et al. 2016) on the corpus.
    *
    * Scale shape: the corpus collapses to its alpha-word FREQUENCY table
    * first — a partial-aggregated (word, freq) rollup whose size is the
    * vocabulary, not the corpus — and the iterative merge loop runs on
    * the driver over the top `maxWords` rows (Zipf: the head covers
    * nearly all token mass; the bounded collect is the lloydLocal
    * convention, SURVEY §5). Training cost is corpus-size-independent:
    * O(nMerges × vocab × word length). Deterministic: frequency then
    * lexicographic pair tie-break, frequency/alpha word order for the
    * vocabulary cap.
    *
    * The returned merges drive [[bpeTokenCountTrained]]; persist them as
    * a 2-column table next to the corpus the way IvfModel saves its
    * centroids — training is separable from counting.
    */
  /** The bounded alpha-word frequency head ALL alpha-subword trainers
    * consume (BPE, WordPiece, unigram LM): one map-side-combined
    * (word, freq) rollup, top `maxWords` by (freq desc, word asc) — a
    * TakeOrdered-bounded collect. r16: exposed so a query composing
    * several trainers (t43) computes it ONCE instead of once per
    * trainer (measured: three byte-identical rollup stages in t43's
    * profile).
    */
  private[graft] def alphaWordFreq(
      df: org.apache.spark.sql.DataFrame, textCol: String,
      maxWords: Int = 65536): Array[(String, Long)] = df
    .select(explode(expr(
      s"regexp_extract_all($textCol, '[A-Za-z]+', 0)")).as("w"))
    .groupBy("w").agg(count(lit(1)).as("f"))
    .orderBy(col("f").desc, col("w").asc)
    .limit(maxWords)
    .collect().map(r => (r.getString(0), r.getLong(1)))

  def trainBpeMerges(
      df: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int, maxWords: Int = 65536): Seq[(String, String)] =
    trainBpeMergesFromFreq(alphaWordFreq(df, textCol, maxWords), nMerges)

  /** Driver-side core over a precomputed word-frequency head. */
  private[graft] def trainBpeMergesFromFreq(
      wf: Array[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] = wf.toSeq
      .map { case (w, f) => (w.map(_.toString).toVector :+ "</w>") -> f }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val merges = Vector.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var j = 0
        while (j + 1 < syms.length) {
          val p = (syms(j), syms(j + 1))
          pairs(p) = pairs.getOrElse(p, 0L) + f
          j += 1
        }
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val ((a, b), _) = pairs.maxBy { case ((x, y), c) => (c, x, y) }
        merges += ((a, b))
        vocab = vocab.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
              out += (a + b); j += 2
            } else { out += syms(j); j += 1 }
          }
          out.result() -> f
        }.groupMapReduce(_._1)(_._2)(_ + _)
        i += 1
      }
    }
    merges.result()
  }

  /** Exact per-document token count under a trained BPE merge table —
    * what [[bpeTokenCount]] approximates (equal when the vocabulary
    * covers every word; the heuristic undercounts OOV subword fan-out).
    * Codegen'd expression with per-executor word memoization
    * ([[graft.functions.BpeCountExpr]]); use THIS count when packing to
    * an exact context budget.
    */
  def bpeTokenCountTrained(
      text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BpeCountExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), merges))

  /** Porter-stem a single token ([[graft.functions.PorterStemExpr]] —
    * codegen'd scan-stage scalar; see the expression's scaladoc).
    */
  def porterStem(token: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PorterStemExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(token)))

  /** Tokenize to training ids under trained BPE merges — the emit step
    * a model actually consumes ([[graft.functions.BpeEncodeExpr]];
    * `size` equals [[bpeTokenCountTrained]] by construction, so packing
    * budgets computed from counts hold exactly for the emitted ids).
    */
  def bpeEncodeIds(
      text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BpeEncodeExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), merges))

  /** Train a WordPiece vocabulary (Schuster & Nakajima 2012 — the BERT
    * tokenizer family): merge selection runs the Sennrich loop but
    * scores a candidate pair by LIKELIHOOD GAIN
    * `count(ab) / (count(a)·count(b))` instead of raw pair frequency —
    * a rare pair whose halves occur nowhere else beats a frequent pair
    * of promiscuous symbols (WordPieceSpec pins the separation).
    * Scores compare by exact cross-multiplication (BigInt, driver-side
    * — no float ever ranks a merge); ties break on the
    * lexicographically greatest pair, the [[trainBpeMerges]]
    * convention. Continuation symbols carry BERT's `##` marker; a
    * merge strips the right half's marker (`a + b.stripPrefix("##")`).
    *
    * Returns the vocabulary as an ordered piece list: `[UNK]` at id 0
    * (the encoder's contract), then every base piece seen in the
    * training head (word-initial chars bare, continuations `##`-marked,
    * lexicographic), then merge outputs in merge order. Persist as a
    * 1-column table next to the corpus like the BPE merges — training
    * is separable from encoding.
    *
    * Scale shape = [[trainBpeMerges]]: the corpus collapses to the
    * bounded (word, freq) head; the loop is corpus-size-independent.
    */
  def trainWordPieceVocab(
      df: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int, maxWords: Int = 65536): Seq[String] =
    trainWordPieceVocabFromFreq(
      alphaWordFreq(df, textCol, maxWords), nMerges)

  /** Driver-side core over a precomputed word-frequency head. */
  private[graft] def trainWordPieceVocabFromFreq(
      wf: Array[(String, Long)], nMerges: Int): Seq[String] = {
    var vocab: Map[Vector[String], Long] = wf.toSeq
      .map { case (w, f) =>
        (w.head.toString +: w.tail.map("##" + _)).toVector -> f
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val base = vocab.keys.flatten.toSeq.distinct.sorted
    val merges = Vector.newBuilder[String]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      val units = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (syms, f) =>
        var j = 0
        while (j < syms.length) {
          units(syms(j)) = units.getOrElse(syms(j), 0L) + f
          if (j + 1 < syms.length) {
            val p = (syms(j), syms(j + 1))
            pairs(p) = pairs.getOrElse(p, 0L) + f
          }
          j += 1
        }
      }
      if (pairs.isEmpty) exhausted = true
      else {
        // argmax of c_ab/(c_a·c_b) by exact cross-multiplication
        val (a, b) = pairs.keysIterator.reduceLeft { (p, q) =>
          val lhs = BigInt(pairs(p)) * units(q._1) * units(q._2)
          val rhs = BigInt(pairs(q)) * units(p._1) * units(p._2)
          val tie = Ordering.Tuple2[String, String].compare(p, q)
          if (lhs > rhs || (lhs == rhs && tie >= 0)) p else q
        }
        val merged = a + b.stripPrefix("##")
        merges += merged
        vocab = vocab.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
              out += merged; j += 2
            } else { out += syms(j); j += 1 }
          }
          out.result() -> f
        }.groupMapReduce(_._1)(_._2)(_ + _)
        i += 1
      }
    }
    "[UNK]" +: (base ++ merges.result())
  }

  /** Exact per-document token count under a trained WordPiece
    * vocabulary ([[graft.functions.WordPieceCountExpr]]) — greedy
    * longest-match-first with BERT's whole-word `[UNK]` rule; alpha
    * segmentation matches [[bpeTokenCountTrained]] so the four trained
    * counters compare directly.
    */
  def wordPieceCount(text: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WordPieceCountExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), vocab))

  /** Tokenize to WordPiece training ids (vocabulary indices, `[UNK]` =
    * 0) — [[graft.functions.WordPieceEncodeExpr]]; `size` equals
    * [[wordPieceCount]] by construction.
    */
  def wordPieceEncodeIds(text: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WordPieceEncodeExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), vocab))

  /** Train BYTE-level BPE merges (GPT-2-style byte fallback — Radford
    * et al. 2019): the 256 byte values are the base alphabet, so every
    * glyph — CJK, emoji, punctuation runs — tokenizes with zero OOV
    * symbols and decode is total. Scale shape matches
    * [[trainBpeMerges]]: the corpus collapses to a partial-aggregated
    * (pretoken, freq) rollup (GPT-2 pretokenization via the SAME
    * `BytePretok.split` the executor encoder uses — shipped as the
    * codegen'd `BytePretokensExpr`, so segmentation can never diverge),
    * and the Sennrich merge loop runs on the driver over the bounded
    * top-`maxPretokens` head. Returned pairs are latin-1 SYMBOL strings
    * (char i ↔ byte i); persist as a 2-column table like the alpha
    * merges.
    */
  def trainByteBpeMerges(
      df: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int, maxPretokens: Int = 65536): Seq[(String, String)] = {
    val pf = df
      .select(explode(bytePretokens(col(textCol))).as("p"))
      .groupBy("p").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("p").asc)
      .limit(maxPretokens)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    var vocab: Map[Vector[String], Long] = pf.toSeq
      .map { case (p, f) =>
        graft.functions.BytePretok.toSymbols(p)
          .map(_.toString).toVector -> f
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val merges = Vector.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var j = 0
        while (j + 1 < syms.length) {
          val p = (syms(j), syms(j + 1))
          pairs(p) = pairs.getOrElse(p, 0L) + f
          j += 1
        }
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val ((a, b), _) = pairs.maxBy { case ((x, y), c) => (c, x, y) }
        merges += ((a, b))
        vocab = vocab.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
              out += (a + b); j += 2
            } else { out += syms(j); j += 1 }
          }
          out.result() -> f
        }.groupMapReduce(_._1)(_._2)(_ + _)
        i += 1
      }
    }
    merges.result()
  }

  /** GPT-2-style pretokens of a document (codegen'd
    * [[graft.functions.BytePretokensExpr]]) — the byte-BPE trainer's
    * rollup unit; concatenating them reproduces the text exactly.
    */
  def bytePretokens(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BytePretokensExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  /** Exact token count under trained BYTE-level merges
    * ([[graft.functions.ByteBpeCountExpr]]) — counts every glyph's
    * subword fan-out, where [[bpeTokenCountTrained]] flattens non-alpha
    * text to one token per glyph.
    */
  def byteBpeTokenCount(
      text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.ByteBpeCountExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), merges))

  /** Tokenize to training ids under trained BYTE-level merges
    * ([[graft.functions.ByteBpeEncodeExpr]]; ids: byte value 0..255 or
    * 256+mergeRank; `size` ≡ [[byteBpeTokenCount]] by shared engine;
    * decode reproduces the input bytes exactly).
    */
  def byteBpeEncodeIds(
      text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.ByteBpeEncodeExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), merges))

  /** Exact per-document token count under a trained unigram-LM
    * vocabulary ([[UnigramTokenizer]]) — Viterbi max-likelihood
    * segmentation, the SentencePiece twin of [[bpeTokenCountTrained]]
    * (same non-alpha conventions, so the two tokenizers compare
    * directly). Codegen'd with per-executor word memoization
    * ([[graft.functions.UnigramCountExpr]]).
    */
  def unigramTokenCount(
      text: Column, pieces: Map[String, Double]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.UnigramCountExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), pieces))

  /** HTML boilerplate stripping — the stage BEFORE every text rule in a
    * web pipeline (C4/Gopher gates assume extracted text): drop
    * script/style blocks wholly (tags AND content), drop remaining tags
    * (content kept), decode the five common entities, collapse
    * whitespace runs, trim. Entity order matters and is pinned:
    * `&amp;` decodes LAST so double-encoded text (`&amp;lt;`) single-
    * decodes to the literal `&lt;` instead of a spurious `<`.
    *
    * Pure scan-stage regexp chain (no UDF, no shuffle). The regexes
    * stay inside the Java↔RE2 common dialect — `(?is)` inline flags,
    * non-greedy `.*?`, and an EXPLICIT `[ \t\n\r]+` whitespace class
    * (Java's `\s` and RE2's `\s` disagree on vertical tab) — so the
    * DuckDB oracle matches bit-for-bit.
    */
  def stripHtml(text: Column): Column = {
    val noBlocks = regexp_replace(text,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => regexp_replace(c, e, ch) }
    trim(regexp_replace(decoded, "[ \t\n\r]+", " "))
  }

  /** Tokenize to training ids under a trained unigram vocabulary —
    * [[bpeEncodeIds]]'s SentencePiece twin
    * ([[graft.functions.UnigramEncodeExpr]]; `size` equals
    * [[unigramTokenCount]] by shared Viterbi recurrence).
    */
  def unigramEncodeIds(
      text: Column, pieces: Map[String, Double]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.UnigramEncodeExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), pieces))

  /** English stopword hits among all (non-distinct) tokens. */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text),
      w => w.isInCollection(Seq("the", "a", "of", "and", "is", "in", "to"))))

  /** PII redaction patterns: plain character classes and bounded
    * quantifiers only — linear-scan regexes with no backtracking blowup
    * (a pathological pattern at 100 TB is a denial of service on your own
    * cluster), and a syntax subset that Java regex and RE2-family engines
    * (the DuckDB oracle) interpret identically.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"

  /** Replace emails then phone numbers with typed placeholder tags — the
    * scrubbing pass (Dolma/FineWeb-style) that runs after quality
    * filtering and before packing. Pure per-row projection in the scan
    * stage; order is fixed (emails first) so the two engines' rewrites
    * compose identically.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Email / phone match counts on the PRE-redaction text (the audit
    * numbers a scrub run reports).
    */
  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0)))
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhoneRe), lit(0)))

  /** Payment-card candidate: four 4-digit groups with a dash/space
    * separator — the same linear-scan, backtracking-free regex subset as
    * [[EmailRe]]/[[PhoneRe]]. Candidates are only REDACTED when the Luhn
    * mod-10 checksum passes ([[luhnValid]]): pattern-only card scrubbing
    * fires on order numbers, serials, and timestamps (any 16 digits);
    * the checksum rejects 90% of random digit runs, which is exactly the
    * false-positive control production PII scrubbers (Presidio-class)
    * run for the card entity.
    */
  val CardRe = "[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}"

  def cardCandidates(text: Column): Column =
    regexp_extract_all(text, lit(CardRe), lit(0))

  /** Luhn mod-10 check over a [[CardRe]]-shaped candidate (19 chars —
    * separators stripped here). Pure integer arithmetic over 16 fixed
    * substring terms, doubling the digits at odd left-positions (= even
    * positions from the right for a 16-digit PAN), so the DuckDB oracle
    * reproduces it term-for-term with no float anywhere.
    */
  def luhnValid(cand: Column): Column = {
    val digits = translate(cand, "- ", "")
    val terms = (1 to 16).map { p =>
      val d = substring(digits, p, 1).cast("int")
      if (p % 2 == 1) when(d * 2 > 9, d * 2 - 9).otherwise(d * 2) else d
    }
    terms.reduce(_ + _) % 10 === 0
  }

  /** The Luhn-passing subset of [[cardCandidates]], in document order. */
  def validCards(text: Column): Column =
    filter(cardCandidates(text), c => luhnValid(c))

  /** Replace each Luhn-VALID candidate with `<CARD>` (all occurrences,
    * left fold in document order); invalid candidates pass through
    * untouched. A left fold of exact-string `replace` — not one
    * `regexp_replace` — because the decision is per-candidate.
    */
  def redactCards(text: Column): Column =
    aggregate(validCards(text), text,
      (acc, c) => org.apache.spark.sql.functions.replace(
        acc, c, lit("<CARD>")))

  // ---- Gopher-style hard quality rules (Rae et al. 2021, appendix A) ---
  // Each stat is an integer count combined with ONE double division so the
  // DuckDB oracle matches bit-for-bit; the pass flag composes threshold
  // comparisons on those exact doubles. All pure scan-stage projections.

  /** Mean characters per whitespace token (0 tokens → 0 via the guard). */
  def meanWordLen(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, w) => acc + length(w))
      .cast("double") / greatest(tokenCount(text).cast("double"), lit(1.0))

  /** (`#` + `...` occurrences) / words — Gopher's symbol-to-word ratio.
    * `...` counted as non-overlapping regex matches (same leftmost
    * semantics in Java regex and RE2), `#` by character removal.
    */
  def symbolRatio(text: Column): Column =
    ((length(text) - length(translate(text, "#", ""))) +
      size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0))))
      .cast("double") / greatest(tokenCount(text).cast("double"), lit(1.0))

  private def lines(text: Column): Column = split(text, "\n")

  /** Fraction of lines starting with a bullet glyph. `split` yields ≥1
    * line, so the denominator guard only covers the empty-string doc.
    */
  def bulletLineFrac(text: Column): Column =
    size(filter(lines(text), l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
      .cast("double") / greatest(size(lines(text)).cast("double"), lit(1.0))

  /** Fraction of lines ending in an ellipsis. */
  def ellipsisLineFrac(text: Column): Column =
    size(filter(lines(text), l => l.endsWith("...")))
      .cast("double") / greatest(size(lines(text)).cast("double"), lit(1.0))

  /** Fraction of words containing at least one ASCII letter. */
  def alphaWordFrac(text: Column): Column =
    size(filter(tokens(text), w => w.rlike("[A-Za-z]")))
      .cast("double") / greatest(tokenCount(text).cast("double"), lit(1.0))

  /** Gopher's required-stopword list: how many of the 8 appear as tokens. */
  val RequiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def requiredStopwordHits(text: Column): Column = {
    val toks = tokens(text)
    RequiredStopwords
      .map(w => array_contains(toks, w).cast("int"))
      .reduce(_ + _)
  }

  /** The composite keep/drop flag. Word-count bounds and the
    * required-stopword floor are parameters (the published 50..100k / ≥2
    * is tuned for English web pages; a caller filtering other corpora
    * re-tunes); the remaining thresholds are Gopher's.
    */
  def gopherPass(text: Column, minWords: Int, maxWords: Int,
      minStops: Int = 2): Column = {
    val nw = tokenCount(text)
    val mwl = meanWordLen(text)
    nw.geq(minWords) && nw.leq(maxWords) &&
      mwl.geq(lit(3.0)) && mwl.leq(lit(10.0)) &&
      symbolRatio(text) < lit(0.1) &&
      bulletLineFrac(text).leq(lit(0.9)) &&
      ellipsisLineFrac(text).leq(lit(0.3)) &&
      alphaWordFrac(text).geq(lit(0.8)) &&
      requiredStopwordHits(text).geq(lit(minStops))
  }

  // ---- C4-style line-level cleaning (Raffel et al. 2020, §2.2) ---------
  // Gopher (above) GATES whole documents; C4 additionally REWRITES them —
  // line-level keep/drop then a document gate over what survived. All
  // pure scan-stage projections (split → filter → array_join), no
  // explode, no shuffle: the rewrite is a per-row map however large the
  // corpus. Thresholds are the paper's (terminal punctuation, ≥5 words
  // per line, ≥3 sentences, "javascript" line drop, lorem-ipsum /
  // curly-brace page drop); the badword list is a parameter — the
  // published list is external content a deployment supplies.

  /** C4's line keep predicate: ends in terminal punctuation (`.` `!` `?`
    * or closing `"`), has at least `minLineWords` whitespace words, and
    * does not mention javascript (case-insensitive).
    */
  def c4KeepLine(l: Column, minLineWords: Int = 5): Column =
    (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
      l.endsWith("\"")) &&
      size(filter(split(l, " "), w => w =!= lit(""))) >= minLineWords &&
      !lower(l).contains("javascript")

  /** Rebuild the document from its kept lines (empty string when nothing
    * survives — never NULL, so downstream md5/compare is total).
    */
  def c4CleanText(text: Column, minLineWords: Int = 5): Column =
    array_join(
      filter(split(text, "\n"), l => c4KeepLine(l, minLineWords)), "\n")

  /** Sentence count of a cleaned document = terminal-punct occurrences
    * (kept lines each END in one, so this ≥ kept-line count; mid-line
    * sentence breaks count too, as in the reference implementation's
    * sentence splitter).
    */
  def c4SentenceCount(cleaned: Column): Column =
    size(regexp_extract_all(cleaned, lit("[.!?]"), lit(0)))

  /** C4's document gate: ≥ `minSentences` sentences AFTER line cleaning,
    * and the ORIGINAL page contains no curly brace, no "lorem ipsum",
    * and no badword (all case-insensitive except the brace).
    */
  def c4DocPass(text: Column, cleaned: Column, minSentences: Int = 3,
      badwords: Seq[String] = Nil): Column = {
    val base = c4SentenceCount(cleaned) >= minSentences &&
      !text.contains("{") && !lower(text).contains("lorem ipsum")
    badwords.foldLeft(base)((acc, w) => acc && !lower(text).contains(w))
  }

  // ---- Unicode script profile (multilingual corpus triage) -----------
  // Character-class counts per writing system — the cheap signal that
  // routes documents to per-script pipelines (tokenizer choice, lang-ID
  // model family, CJK-aware segmentation) BEFORE any model runs. Both
  // engines count CHARACTERS (Spark length() and DuckDB len() are
  // codepoint-aware) via the same length-difference trick, and both
  // regex dialects (Java, RE2) read the \x{....} range syntax
  // identically — so the profile is oracle-exact.

  /** (name, regex character class) per tracked script. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]")

  /** Characters of `text` matching the class (by length difference). */
  def classCount(text: Column, cls: String): Column =
    length(text) - length(regexp_replace(text, cls, ""))

  /** Dominant script by character count — fixed priority order breaks
    * ties (the langId convention); a document with NO script characters
    * at all (digits/punctuation only) reads "none".
    */
  def dominantScript(text: Column): Column = {
    val counts = ScriptClasses.map { case (n, c) => n -> classCount(text, c) }
    val total = counts.map(_._2).reduce(_ + _)
    val branches = counts.zipWithIndex.map { case ((n, c), i) =>
      val rest = counts.drop(i + 1).map(_._2)
      (rest.foldLeft(lit(true))((acc, o) => acc && c >= o), lit(n))
    }
    when(total === 0, lit("none")).otherwise(
      branches.init.foldRight(branches.last._2: Column) {
        case ((cond, v), els) => when(cond, v).otherwise(els)
      })
  }

  /** WITHIN-document repeated-line removal (the Dolma/C4-family per-page
    * cleanup): keep each distinct line's FIRST occurrence, order
    * preserved — repeated headers/footers/nav blocks inside one page
    * need no corpus context at all (Dedup.scrubRepeatedLines is the
    * CROSS-corpus twin keyed on document frequency). `array_distinct`
    * keeps first occurrences in encounter order (spec-pinned), so this
    * is a pure scan-stage map — no shuffle at any corpus size.
    */
  def dedupDocLines(text: Column): Column =
    array_join(array_distinct(split(text, "\n")), "\n")

  // ---- boilerplate-density main-content extraction --------------------
  // The rung between t26's tag strip (stage 0: markup removal, keeps
  // nav/footer TEXT) and t19's C4 line rules (assumes prose lines):
  // Kohlschütter, Fankhauser & Nejdl, "Boilerplate Detection using
  // Shallow Text Features" (WSDM 2010) classify text blocks by their
  // own and their NEIGHBORS' word count and link density — the
  // NumWords/LinkDensity decision rules every trafilatura-class
  // extractor descends from. Implemented over the page's line array
  // with index lambdas — a pure scan-stage map per document, no
  // explode, no window, no shuffle at any corpus size.

  /** Anchor-text character count of a raw line — the characters inside
    * `<a …>…</a>` spans, the numerator of the paper's link density.
    */
  def anchorChars(line: Column): Column =
    length(concat_ws("",
      regexp_extract_all(line, lit("<a[^>]*>(.*?)</a>"), lit(1))))

  /** Main-content extraction by the WSDM-2010 NumWords/LinkDensity
    * rules: a line is CONTENT iff its link density ≤ 1/3 and — looking
    * at the tag-stripped word counts of itself and its neighbors —
    *
    *  - previous link density ≤ 5/9: content iff words > 16, or the
    *    NEXT line's words > 15, or the PREVIOUS line's words > 4;
    *  - previous link density > 5/9 (we sit under a link-heavy block):
    *    content iff words > 40 or next words > 17.
    *
    * Thresholds 1/3 and 5/9 are the published trees' decision points
    * compared EXACTLY in integer arithmetic (`3·anchor ≤ chars`,
    * `9·anchor ≤ 5·chars` — the reference implementation's 0.333333 /
    * 0.555556 float literals are approximations of these same
    * rationals), so no division runs and the DuckDB oracle mirrors the
    * comparisons bit-free. Out-of-range neighbors read 0 words / link
    * density 0. Returns the kept lines (tag-stripped) joined by `\n`,
    * or NULL when no line survives.
    */
  def densityExtract(page: Column): Column =
    densityExtractStats(page).getField("extract")

  /** Fused (extract, n_lines) struct — ONE pass over the page
    * ([[graft.functions.DensityExtractExpr]]). r16: the former
    * higher-order-function formulation (FusedDensityExtractSpec keeps it
    * as its oracle) was O(lines²) per document — the keep-rule filter
    * lambda re-evaluated the whole unmaterialized transform stack per
    * `element_at` neighbor probe (guide §4; t36's two map stages held
    * 24.6 s task-time at sf0.1). Callers that also need the line count
    * read it from the struct instead of re-splitting the page.
    */
  def densityExtractStats(page: Column): Column =
    graft.functions.TextExpressions.densityExtract(page)

  /** Composite quality score in [0,1]: integer counts combined with double
    * divisions in a FIXED expression shape (mirrored in the oracle SQL).
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nTok = tokenCount(text).cast("double")
    val stopR = stopwordCount(text).cast("double") / greatest(nTok, lit(1.0))
    val punctR = punctCount(text).cast("double") / greatest(nChars, lit(1.0))
    val upperR = upperCount(text).cast("double") / greatest(nChars, lit(1.0))
    val lenScore = least(nTok / lit(64.0), lit(1.0))
    lit(0.4) * lenScore + lit(0.3) * stopR +
      lit(0.2) * (lit(1.0) - punctR) + lit(0.1) * (lit(1.0) - upperR)
  }

  /** Flesch–Kincaid readability counts (Kincaid et al. 1975) — the
    * classic formula-based rung of the quality-signal family below the
    * trained classifier (32l5): grade ≈ `0.39·W/S + 11.8·Y/W − 15.59`
    * over words W, sentences S, syllables Y. Counts are EXACT longs
    * from three linear regex scans (no shuffle, no explode):
    *
    *  - words    = alpha runs `[A-Za-z]+`;
    *  - sentences = `[.!?]+` runs, floored at 1 (headline convention);
    *  - syllables = vowel-group runs `[aeiouyAEIOUY]+` PLUS one for
    *    each vowel-less word (every word counts ≥ 1 syllable — the
    *    published heuristic), counted without per-word explode as
    *    `vowel_groups + (words − words_containing_a_vowel)`.
    *
    * The grade itself is a FIXED IEEE expression tree over the three
    * longs (the e23 discipline — both engines replay it bit-for-bit);
    * zero-word docs yield NULL. Plain character classes behave
    * identically in Java regex and RE2, so the DuckDB oracle mirrors
    * every scan.
    */
  def readability(text: Column): Column = {
    def cnt(pattern: String): Column =
      size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")
    val w = cnt("[A-Za-z]+")
    val s = greatest(cnt("[.!?]+"), lit(1L))
    val vg = cnt("[aeiouyAEIOUY]+")
    val wv = cnt("[A-Za-z]*[aeiouyAEIOUY][A-Za-z]*")
    val y = vg + (w - wv)
    struct(w.as("n_words"), s.as("n_sent"), y.as("n_syll"),
      when(w === 0, lit(null)).otherwise(
        lit(0.39) * (w.cast("double") / s) +
          lit(11.8) * (y.cast("double") / w) - lit(15.59))
        .as("fk_grade"))
  }

}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling polynomial hash over a string's bytes, modulo 1e9+7:
  * h = (h*31 + byte) mod p. The pure-functions equivalent
  * (`aggregate(split(text,''), ...)`) splits the text into a char ARRAY and
  * interprets a lambda per character; this is a tight codegen'd loop over
  * the UTF8 bytes.
  *
  * Byte-level (not codepoint-level) on purpose: deterministic, allocation-
  * free, and equally content-sensitive. Matches TextOps.fingerprint for
  * ASCII; multi-byte codepoints hash per-byte instead of per-char.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31L + (bytes(i) & 0xFFL)) % 1000000007L
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * 31L + ($bytes[$i] & 0xFFL)) % 1000000007L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Fused per-document token statistics in ONE pass over the raw text:
  * whitespace token count, occurrence count of the most frequent token,
  * and distinct word-bigram count — the three inputs of Gopher-style
  * repetition scoring. Replaces an explode(tokens) + two-level aggregation
  * (one row per corpus TOKEN through an exchange, two hash-table probes
  * per token) with a pure map in the scan stage: no explode, no shuffle,
  * no aggregation state. Same r3 lesson as MinHashSig/SimHash64
  * (SURVEY.md §5).
  *
  * Tokens are maximal runs between 0x20 bytes (UTF-8 never uses 0x20
  * inside a multi-byte sequence), identical to [[BigramSetExpr]] and to
  * `string_split(text, ' ')` with empties dropped. The loop is compiled
  * Scala invoked from generated code via the companion's static forwarder.
  */
case class TokenStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TokenStatsExpr.schema
  override def prettyName: String = "graft_token_stats"

  override protected def nullSafeEval(input: Any): Any =
    TokenStatsExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TokenStatsExpr.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): TokenStatsExpr =
    copy(child = newChild)
}

object TokenStatsExpr {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("n_tok", IntegerType, nullable = false),
    StructField("top_tok_n", LongType, nullable = false),
    StructField("n_uniq_bigram", IntegerType, nullable = false)))

  private val Space = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code (static forwarder). */
  def compute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val tokens = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) != 0x20) {
        val start = i
        while (i < bytes.length && bytes(i) != 0x20) i += 1
        tokens.add(UTF8String.fromBytes(bytes, start, i - start))
      } else i += 1
    }
    val n = tokens.size()
    // top-token occurrence count (exact, per-doc hash map — docs are small)
    val counts = new java.util.HashMap[UTF8String, Array[Int]](n * 2)
    var top = 0L
    var t = 0
    while (t < n) {
      val c = counts.computeIfAbsent(tokens.get(t), _ => new Array[Int](1))
      c(0) += 1
      if (c(0) > top) top = c(0)
      t += 1
    }
    // distinct adjacent-bigram count
    val bigrams = new java.util.HashSet[UTF8String](n * 2)
    t = 0
    while (t + 1 < n) {
      bigrams.add(UTF8String.concat(tokens.get(t), Space, tokens.get(t + 1)))
      t += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, top, bigrams.size()))
  }
}

/** Whole-bit byte-entropy statistics in ONE pass over the raw text:
  * `n_bytes` and the integer surprisal sum
  * `h_bits = sum over bytes b of count(b) * floor(log2(n / count(b)))`
  * — the zeroth-order analytic twin of t18's deflate compression ratio
  * (a uniform-random byte stream maximizes it, a single repeated byte
  * zeroes it; real prose sits in a narrow band, so both tails flag
  * junk). Dividing by n gives floor-quantized bits-per-byte.
  *
  * Exactness: the same whole-bit discipline as t16's surprisal —
  * `floor(log2(x)) = length(bin(x)) - 1` on exact integer quotients,
  * so every value is a long and the DuckDB oracle hash-matches with no
  * float anywhere. BYTE-level (like [[RollingHash]]): identical to
  * per-character entropy on ASCII; multi-byte codepoints contribute
  * per-byte (documented divergence, the RollingHash precedent — the
  * unicode-aware rung is t21's script profile).
  *
  * Scale: a pure map in the scan stage — a 256-long histogram on the
  * stack, no explode, no shuffle, no aggregation state. The
  * pure-functions alternative (explode chars + two groupBy levels)
  * puts one row per corpus BYTE through an exchange.
  */
case class CharEntropyExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = CharEntropyExpr.schema
  override def prettyName: String = "graft_char_entropy"

  override protected def nullSafeEval(input: Any): Any =
    CharEntropyExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.CharEntropyExpr.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): CharEntropyExpr =
    copy(child = newChild)
}

object CharEntropyExpr {
  import org.apache.spark.sql.types.{StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("h_bits", LongType, nullable = false)))

  /** Shared by interpreted eval and generated code (static forwarder). */
  def compute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val cnt = new Array[Long](256)
    var i = 0
    while (i < bytes.length) {
      cnt(bytes(i) & 0xFF) += 1
      i += 1
    }
    val n = bytes.length.toLong
    var h = 0L
    var b = 0
    while (b < 256) {
      val c = cnt(b)
      // floor(log2(n / c)): 63 - nlz of the exact integer quotient
      if (c > 0L)
        h += c * (63 - java.lang.Long.numberOfLeadingZeros(n / c))
      b += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, h))
  }
}

/** Unicode text normalization for near-exact dedup (r8): NFKC
  * (compatibility decomposition + canonical composition — folds
  * ligatures, fullwidth forms, compatibility variants, and composes
  * combining marks), then Locale.ROOT lowercasing (simple case fold),
  * then whitespace-run collapse to single spaces with ends trimmed.
  * Spark has no native NFKC; the pure-functions alternative would be a
  * UDF (interpreted, serialization per row). NFKC runs only when the
  * text is not already normalized (`Normalizer.isNormalized` is a cheap
  * scan that answers true for all-ASCII — the common case allocates
  * nothing for the normalization step).
  *
  * Whitespace is `Character.isWhitespace` — broader than regex `\s`'s
  * ASCII class for exotic separators (U+2028 etc.), identical on ASCII;
  * U+00A0 nbsp is folded to a plain space by NFKC itself first.
  */
case class NfkcFoldExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfkc_fold"

  override protected def nullSafeEval(input: Any): Any =
    NfkcFoldExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.NfkcFoldExpr.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): NfkcFoldExpr =
    copy(child = newChild)
}

object NfkcFoldExpr {
  import java.text.Normalizer

  /** Shared by interpreted eval and generated code (static forwarder). */
  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    val nfkc =
      if (Normalizer.isNormalized(s, Normalizer.Form.NFKC)) s
      else Normalizer.normalize(s, Normalizer.Form.NFKC)
    val lower = nfkc.toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(lower.length)
    var i = 0
    var pendingSpace = false
    while (i < lower.length) {
      val cp = lower.codePointAt(i)
      if (Character.isWhitespace(cp)) {
        // a run becomes ONE space, and only between content (trim)
        pendingSpace = sb.length > 0
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.appendCodePoint(cp)
      }
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Exact token count under a TRAINED byte-pair-encoding merge table
  * (Sennrich et al. 2016) — the real-tokenizer count that packing to an
  * exact context length needs, where [[graft.ops.TextOps.bpeTokenCount]]
  * is only the in-vocabulary approximation. Segmentation matches the
  * heuristic's (alpha runs are BPE words; each digit / non-alpha glyph
  * is one token; spaces none), so the two counts differ exactly by
  * subword fan-out.
  *
  * Encoding merges ONE lowest-rank adjacent pair per step (leftmost on
  * ties). This equals the merge-all-occurrences-then-rescan formulation
  * for any rank table produced by BPE training, because a pair involving
  * a merged symbol always ranks strictly after the merge that created
  * the symbol — asserted against an independent reference encoder in
  * BpeFidelitySpec.
  *
  * Per-executor scaling: words repeat Zipf-style, so encodes are
  * memoized in a bounded concurrent map shared by all tasks referencing
  * the plan (the merge table itself ships once per executor inside the
  * referenced [[BpeCounter]], like MinHashSig's projection params). The
  * hot path in generated code is one virtual call — whole-stage codegen
  * keeps the surrounding projection fused.
  */
case class BpeCountExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bpe_count"

  @transient private lazy val counter = new BpeCounter(merges)

  override protected def nullSafeEval(input: Any): Any =
    counter.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCounter", new BpeCounter(merges),
      classOf[BpeCounter].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.count($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeCountExpr =
    copy(child = newChild)
}

/** The executor-side BPE engine behind [[BpeCountExpr]]: rank lookup on
  * space-joined `a b` keys (symbols are alpha runs or `</w>`,
  * never a space), greedy lowest-rank
  * merging, and a bounded memo of word → subword count.
  */
final class BpeCounter(merges: Seq[(String, String)]) extends Serializable {

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.put(a + " " + b, i)
    }
    m
  }

  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def count(text: UTF8String): Int = {
    val s = text.toString
    val n = s.length
    var total = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        val start = i
        while (i < n && {
          val d = s.charAt(i)
          (d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z')
        }) i += 1
        total += countWord(s.substring(start, i))
      } else {
        if (c != ' ') total += 1 // digit or glyph: one token; space: none
        i += 1
      }
    }
    total
  }

  private def countWord(w: String): Int = {
    if (memo.size > (1 << 20)) memo.clear() // Zipf makes overflow rare
    memo.computeIfAbsent(w, encodeWord).intValue
  }

  private val encodeWord: java.util.function.Function[String, Integer] =
    new java.util.function.Function[String, Integer] with Serializable {
      override def apply(w: String): Integer = {
        val syms = new java.util.ArrayList[String](w.length + 1)
        var i = 0
        while (i < w.length) {
          syms.add(String.valueOf(w.charAt(i)))
          i += 1
        }
        syms.add("</w>")
        var continue = true
        while (continue && syms.size > 1) {
          var best = -1
          var bestRank = Int.MaxValue
          var j = 0
          while (j + 1 < syms.size) {
            val r = rank.get(syms.get(j) + " " + syms.get(j + 1))
            if (r != null && r < bestRank) { bestRank = r; best = j }
            j += 1
          }
          if (best < 0) continue = false
          else {
            syms.set(best, syms.get(best) + syms.get(best + 1))
            syms.remove(best + 1)
          }
        }
        syms.size
      }
    }
}

/** Deterministic id space for BPE symbols, fixed WITHOUT corpus
  * knowledge so any two jobs agree: a single-char symbol's id is its
  * code point (0..0xFFFF), `</w>` is 0x10000, and the i-th merge's
  * output symbol is 0x10001 + i. Multi-char symbols only ever arise as
  * merge outputs, so the map is total over every symbol greedy
  * encoding can produce.
  */
object BpeVocab {
  val EndWord = 0x10000

  def idOf(sym: String, rank: java.util.HashMap[String, Integer]): Int =
    if (sym == "</w>") EndWord
    else if (sym.length == 1) sym.charAt(0).toInt
    else {
      val r = rank.get(sym)
      require(r != null, s"symbol '$sym' is not a merge output")
      0x10001 + r.intValue
    }

  /** merge-output symbol → merge index (for id assignment). */
  def outputRanks(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      // when two distinct merge pairs concatenate to the same string, the
      // FIRST (lowest-rank) merge keeps the id — the containsKey guard
      // makes later duplicates no-ops, so the id space is deterministic
      if (!m.containsKey(a + b)) m.put(a + b, i)
    }
    m
  }
}

/** Tokenize to TRAINING IDS under the trained BPE merges — the emit
  * step after counting (27b) and packing: a model consumes token ids,
  * not text. Same greedy lowest-rank merge loop and non-alpha
  * conventions as [[BpeCountExpr]] (digits/glyphs one id each — their
  * code points — spaces none), emitting the final symbol ids in
  * document order under the deterministic [[BpeVocab]] id space.
  * `size(ids)` equals [[BpeCountExpr]] by construction (spec-pinned),
  * so packing budgets computed from counts hold exactly for the
  * emitted ids.
  */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  @transient private lazy val encoder = new BpeEncoder(merges)

  override protected def nullSafeEval(input: Any): Any =
    encoder.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncoder", new BpeEncoder(merges),
      classOf[BpeEncoder].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.encode($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
    copy(child = newChild)
}

/** Executor-side id emitter behind [[BpeEncodeExpr]] — BpeCounter's
  * merge loop, keeping the symbols and mapping them through BpeVocab;
  * bounded word memo as the counter.
  */
final class BpeEncoder(merges: Seq[(String, String)]) extends Serializable {

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + " " + b, i) }
    m
  }
  @transient private lazy val outRank = BpeVocab.outputRanks(merges)

  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()

  def encode(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = text.toString
    val n = s.length
    val out = new java.util.ArrayList[Integer](n / 4 + 4)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        val start = i
        while (i < n && {
          val d = s.charAt(i)
          (d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z')
        }) i += 1
        val ids = wordIds(s.substring(start, i))
        var j = 0
        while (j < ids.length) { out.add(ids(j)); j += 1 }
      } else {
        if (c != ' ') out.add(c.toInt) // digit or glyph: its code point
        i += 1
      }
    }
    val arr = new Array[Int](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j).intValue; j += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(arr)
  }

  private def wordIds(w: String): Array[Int] = {
    if (memo.size > (1 << 20)) memo.clear()
    memo.computeIfAbsent(w, encodeWord)
  }

  /** The exact BpeCounter merge loop, emitting ids of the survivors. */
  private val encodeWord: java.util.function.Function[String, Array[Int]] =
    new java.util.function.Function[String, Array[Int]] with Serializable {
      override def apply(w: String): Array[Int] = {
        val syms = new java.util.ArrayList[String](w.length + 1)
        var i = 0
        while (i < w.length) {
          syms.add(String.valueOf(w.charAt(i)))
          i += 1
        }
        syms.add("</w>")
        var continue = true
        while (continue && syms.size > 1) {
          var best = -1
          var bestRank = Int.MaxValue
          var j = 0
          while (j + 1 < syms.size) {
            val r = rank.get(syms.get(j) + " " + syms.get(j + 1))
            if (r != null && r < bestRank) { bestRank = r; best = j }
            j += 1
          }
          if (best < 0) continue = false
          else {
            syms.set(best, syms.get(best) + syms.get(best + 1))
            syms.remove(best + 1)
          }
        }
        val out = new Array[Int](syms.size)
        var k = 0
        while (k < out.length) {
          out(k) = BpeVocab.idOf(syms.get(k), outRank)
          k += 1
        }
        out
      }
    }
}

/** Per-document token count under a trained unigram-LM tokenizer
  * ([[graft.ops.UnigramTokenizer]]): Viterbi max-likelihood segmentation
  * per alpha word (the SentencePiece inference rule — unlike BPE's
  * greedy merge order), digits/glyphs one token each, spaces none —
  * the non-alpha conventions of [[BpeCountExpr]] so the two tokenizers
  * are directly comparable. Ties on segmentation score break to FEWER
  * pieces. Characters outside the vocabulary score a floor log-prob
  * (never unsegmentable). Same bounded word memo as the BPE engine.
  */
case class UnigramCountExpr(child: Expression, pieces: Map[String, Double])
    extends UnaryExpression with ExpectsInputTypes {

  require(pieces.nonEmpty, "empty unigram vocabulary")

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_unigram_count"

  @transient private lazy val counter = new UnigramCounter(pieces)

  override protected def nullSafeEval(input: Any): Any =
    counter.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramCounter", new UnigramCounter(pieces),
      classOf[UnigramCounter].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.count($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramCountExpr =
    copy(child = newChild)
}

/** Executor-side Viterbi engine behind [[UnigramCountExpr]]. */
final class UnigramCounter(pieces: Map[String, Double]) extends Serializable {

  @transient private lazy val table: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.size * 2)
    pieces.foreach { case (p, lp) => m.put(p, lp) }
    m
  }
  @transient private lazy val maxLen: Int =
    pieces.keysIterator.map(_.length).max
  // OOV single characters stay segmentable at a penalized floor
  @transient private lazy val oovLogp: Double =
    pieces.valuesIterator.min - 10.0

  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def count(text: UTF8String): Int = {
    val s = text.toString
    val n = s.length
    var total = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        val start = i
        while (i < n && {
          val d = s.charAt(i)
          (d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z')
        }) i += 1
        total += countWord(s.substring(start, i))
      } else {
        if (c != ' ') total += 1 // digit or glyph: one token; space: none
        i += 1
      }
    }
    total
  }

  private def countWord(w: String): Int = {
    if (memo.size > (1 << 20)) memo.clear() // Zipf makes overflow rare
    memo.computeIfAbsent(w, viterbi).intValue
  }

  /** Best segmentation score via DP; piece count on the best path,
    * ties to fewer pieces (spec-proven equal to brute-force enumeration).
    */
  private val viterbi: java.util.function.Function[String, Integer] =
    new java.util.function.Function[String, Integer] with Serializable {
      override def apply(w: String): Integer = {
        val n = w.length
        val best = Array.fill(n + 1)(Double.NegativeInfinity)
        val cnt = Array.fill(n + 1)(Int.MaxValue)
        best(0) = 0.0; cnt(0) = 0
        var i = 1
        while (i <= n) {
          var j = math.max(0, i - maxLen)
          while (j < i) {
            if (cnt(j) != Int.MaxValue) {
              val piece = w.substring(j, i)
              val lp =
                if (table.containsKey(piece)) table.get(piece).doubleValue
                else if (i - j == 1) oovLogp
                else Double.NegativeInfinity
              if (lp != Double.NegativeInfinity) {
                val sc = best(j) + lp
                val c = cnt(j) + 1
                if (sc > best(i) || (sc == best(i) && c < cnt(i))) {
                  best(i) = sc; cnt(i) = c
                }
              }
            }
            j += 1
          }
          i += 1
        }
        cnt(n)
      }
    }
}

/** Tokenize to TRAINING IDS under a trained unigram-LM vocabulary —
  * [[BpeEncodeExpr]]'s twin for the SentencePiece tokenizer (t25): the
  * SAME Viterbi recurrence and tie-break as [[UnigramCountExpr]], with
  * backpointers, emitting piece ids in document order. Ids are the
  * index of the piece in the SORTED vocabulary (the model's canonical
  * order — [[graft.ops.UnigramTokenizer.UnigramModel]] persists pieces
  * sorted, so ids survive save/load); an OOV single character maps to
  * `vocabSize + codePoint` (deterministic byte-fallback-style range a
  * reader distinguishes by `id >= vocabSize`). Non-alpha conventions
  * match the whole tokenizer family: digits/glyphs emit
  * `vocabSize + codePoint` unless the glyph is itself a vocabulary
  * piece, spaces emit nothing. `size(ids)` equals [[UnigramCountExpr]]
  * by shared recurrence (spec- and property-pinned).
  */
case class UnigramEncodeExpr(child: Expression, pieces: Map[String, Double])
    extends UnaryExpression with ExpectsInputTypes {

  require(pieces.nonEmpty, "empty unigram vocabulary")

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_unigram_encode"

  @transient private lazy val encoder = new UnigramEncoder(pieces)

  override protected def nullSafeEval(input: Any): Any =
    encoder.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramEncoder", new UnigramEncoder(pieces),
      classOf[UnigramEncoder].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.encode($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEncodeExpr =
    copy(child = newChild)
}

/** Executor-side id emitter behind [[UnigramEncodeExpr]]. */
final class UnigramEncoder(pieces: Map[String, Double]) extends Serializable {

  @transient private lazy val sortedPieces: Array[String] =
    pieces.keys.toArray.sorted
  @transient private lazy val pieceId: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pieces.size * 2)
    sortedPieces.zipWithIndex.foreach { case (p, i) => m.put(p, i) }
    m
  }
  @transient private lazy val logp: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.size * 2)
    pieces.foreach { case (p, lp) => m.put(p, lp) }
    m
  }
  @transient private lazy val maxLen: Int =
    pieces.keysIterator.map(_.length).max
  @transient private lazy val oovLogp: Double =
    pieces.valuesIterator.min - 10.0
  private def vocabSize: Int = pieces.size

  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()

  def encode(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = text.toString
    val n = s.length
    val out = new java.util.ArrayList[Integer](n / 4 + 4)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        val start = i
        while (i < n && {
          val d = s.charAt(i)
          (d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z')
        }) i += 1
        val ids = wordIds(s.substring(start, i))
        var j = 0
        while (j < ids.length) { out.add(ids(j)); j += 1 }
      } else {
        if (c != ' ') {
          val p = pieceId.get(String.valueOf(c))
          out.add(if (p != null) p.intValue else vocabSize + c.toInt)
        }
        i += 1
      }
    }
    val arr = new Array[Int](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j).intValue; j += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(arr)
  }

  private def wordIds(w: String): Array[Int] = {
    if (memo.size > (1 << 20)) memo.clear()
    memo.computeIfAbsent(w, viterbi)
  }

  /** UnigramCounter's exact DP (max score, ties to fewer pieces), with
    * backpointers; OOV single chars emit vocabSize + codePoint.
    */
  private val viterbi: java.util.function.Function[String, Array[Int]] =
    new java.util.function.Function[String, Array[Int]] with Serializable {
      override def apply(w: String): Array[Int] = {
        val n = w.length
        val best = Array.fill(n + 1)(Double.NegativeInfinity)
        val cnt = Array.fill(n + 1)(Int.MaxValue)
        val back = Array.fill(n + 1)(-1)
        best(0) = 0.0; cnt(0) = 0
        var i = 1
        while (i <= n) {
          var j = math.max(0, i - maxLen)
          while (j < i) {
            if (cnt(j) != Int.MaxValue) {
              val piece = w.substring(j, i)
              val lpv = logp.get(piece)
              val lp =
                if (lpv != null) lpv.doubleValue
                else if (i - j == 1) oovLogp
                else Double.NegativeInfinity
              if (lp != Double.NegativeInfinity) {
                val sc = best(j) + lp
                val c = cnt(j) + 1
                if (sc > best(i) || (sc == best(i) && c < cnt(i))) {
                  best(i) = sc; cnt(i) = c; back(i) = j
                }
              }
            }
            j += 1
          }
          i += 1
        }
        val out = new Array[Int](cnt(n))
        var pos = n
        var k = cnt(n) - 1
        while (pos > 0) {
          val j = back(pos)
          val piece = w.substring(j, pos)
          val id = pieceId.get(piece)
          out(k) = if (id != null) id.intValue
            else vocabSize + piece.charAt(0).toInt // OOV single char
          k -= 1
          pos = j
        }
        out
      }
    }
}

/** Fused per-document surprisal accumulation against a BROADCAST bit
  * table: one pass over the raw text computing `(sum_bits, n_tok)` —
  * the scan-stage / streaming hot-path form of
  * [[graft.ops.Corpus.surprisalWithCounts]], whose explode + token
  * equi-join is the oracle-checkable batch shape. Tokens are maximal
  * runs between 0x20 bytes, identical to [[TokenStatsExpr]] and
  * `TextOps.tokens`; a token missing from the table scores `oovBits`
  * (hapax backoff — `length(bin(ref_total))` — when the table holds the
  * full vocabulary, making the two forms bit-equal, spec-asserted).
  *
  * The table is capped upstream (top-V by count): under Zipf the
  * untracked tail is hapax-like, so capping only moves near-`oovBits`
  * tokens TO `oovBits` — the standing-corpus hot path ships top-V
  * per executor exactly like the IVF codebooks.
  */
case class TokenBitsExpr(
    child: Expression, bits: Map[String, Int], oovBits: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TokenBitsExpr.schema
  override def prettyName: String = "graft_token_bits"

  @transient private lazy val scorer = new TokenBitsScorer(bits, oovBits)

  override protected def nullSafeEval(input: Any): Any =
    scorer.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenBits", new TokenBitsScorer(bits, oovBits),
      classOf[TokenBitsScorer].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.score($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenBitsExpr =
    copy(child = newChild)
}

object TokenBitsExpr {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("sum_bits", LongType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false)))
}

/** Executor-side lookup behind [[TokenBitsExpr]]: UTF8String-keyed bit
  * table (tokens never materialize as java Strings on the hot path).
  */
final class TokenBitsScorer(bits: Map[String, Int], oovBits: Int)
    extends Serializable {

  @transient private lazy val table: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](bits.size * 2)
    bits.foreach { case (t, b) => m.put(UTF8String.fromString(t), b) }
    m
  }

  def score(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    var sum = 0L
    var n = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) != 0x20) {
        val start = i
        while (i < bytes.length && bytes(i) != 0x20) i += 1
        val b = table.get(UTF8String.fromBytes(bytes, start, i - start))
        sum += (if (b == null) oovBits else b.intValue)
        n += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](sum, n))
  }
}

/** Fused per-document CONDITIONAL-bigram surprisal against two broadcast
  * tables — the streaming/hot-path twin of
  * [[graft.ops.Corpus.bigramSurprisalPerDoc]], as [[TokenBitsExpr]] is of
  * the unigram form: one pass over the raw text accumulating
  * `(sum_bits, n_pairs)` over ADJACENT token pairs. Lookup order mirrors
  * the batch backoff exactly: a pair in `pairBits` scores its
  * precomputed `length(bin(cnt(w1) div cnt(w1 w2)))`; a missing pair
  * with its context in `ctxBits` scores the context's hapax backoff
  * `length(bin(cnt(w1)))`; an unseen context scores 1 bit. Tokens are
  * maximal runs between 0x20 bytes, identical to [[TokenBitsScorer]].
  */
case class PairBitsExpr(
    child: Expression, pairBits: Map[String, Int], ctxBits: Map[String, Int])
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = PairBitsExpr.schema
  override def prettyName: String = "graft_pair_bits"

  @transient private lazy val scorer = new PairBitsScorer(pairBits, ctxBits)

  override protected def nullSafeEval(input: Any): Any =
    scorer.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pairBits",
      new PairBitsScorer(pairBits, ctxBits),
      classOf[PairBitsScorer].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.score($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): PairBitsExpr =
    copy(child = newChild)
}

object PairBitsExpr {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("sum_bits", LongType, nullable = false),
    StructField("n_pairs", IntegerType, nullable = false)))
}

/** Executor-side lookup behind [[PairBitsExpr]]: UTF8String-keyed pair
  * and context tables (no java Strings on the hot path; the pair key is
  * assembled once per adjacent pair as `w1 0x20 w2` bytes).
  */
final class PairBitsScorer(
    pairBits: Map[String, Int], ctxBits: Map[String, Int])
    extends Serializable {

  @transient private lazy val pairs: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](pairBits.size * 2)
    pairBits.foreach { case (t, b) => m.put(UTF8String.fromString(t), b) }
    m
  }
  @transient private lazy val ctxs: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](ctxBits.size * 2)
    ctxBits.foreach { case (t, b) => m.put(UTF8String.fromString(t), b) }
    m
  }

  def score(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    var sum = 0L
    var n = 0
    var prevStart = -1
    var prevEnd = -1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) != 0x20) {
        val start = i
        while (i < bytes.length && bytes(i) != 0x20) i += 1
        if (prevStart >= 0) {
          val plen = prevEnd - prevStart
          val buf = new Array[Byte](plen + 1 + (i - start))
          System.arraycopy(bytes, prevStart, buf, 0, plen)
          buf(plen) = 0x20
          System.arraycopy(bytes, start, buf, plen + 1, i - start)
          val pb = pairs.get(UTF8String.fromBytes(buf))
          if (pb != null) sum += pb.intValue
          else {
            val cb = ctxs.get(UTF8String.fromBytes(bytes, prevStart, plen))
            sum += (if (cb == null) 1 else cb.intValue)
          }
          n += 1
        }
        prevStart = start
        prevEnd = i
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](sum, n))
  }
}

/** Per-document DEFLATE length — the compression-ratio quality signal
  * (MassiveText/RefinedWeb/Dolma family): templated, repetitive, or
  * machine-generated text compresses anomalously well; high-entropy
  * noise barely compresses. Emitted as raw byte and compressed byte
  * counts so the ratio is ONE double division downstream.
  *
  * Determinism: a fixed deflate level and strategy over the UTF-8
  * bytes — zlib's output for a given (input, level) is stable across
  * runs and platforms for the bundled java.util.zip, which is all the
  * reproducibility a quality FILTER needs (there is no DuckDB deflate,
  * so the query is rows-only and the semantics are unit-pinned
  * instead). The Deflater's native buffer is released per call
  * (`end()` in finally — leaking it per-row would exhaust native
  * memory long before heap pressure showed).
  */
case class DeflateLenExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DeflateLenExpr.schema
  override def prettyName: String = "graft_deflate_len"

  override protected def nullSafeEval(input: Any): Any =
    DeflateLenExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.DeflateLenExpr.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): DeflateLenExpr =
    copy(child = newChild)
}

object DeflateLenExpr {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("n_deflate", IntegerType, nullable = false)))

  /** Shared by interpreted eval and generated code (static forwarder). */
  def compute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val d = new java.util.zip.Deflater(6, true) // raw deflate, level 6
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var n = 0
      while (!d.finished()) n += d.deflate(buf)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bytes.length, n))
    } finally d.end()
  }
}

/** Shared hashed-bag-of-words bucketing for the linear quality model:
  * trainer (driver) and scorer (executor expression) MUST agree on the
  * token→bucket map, so both call this one function. xxhash64 over the
  * raw UTF-8 bytes (the MinHashSig convention), masked non-negative,
  * modulo the feature dimension.
  */
object HashedBow {
  val Seed = 42L

  /** Reserved structural-feature slots appended after the `dim` hashed
    * token buckets: slot `dim + lenBucket(n_tok)` fires with coefficient
    * 1 (not mean-normalized), letting the model learn length rules the
    * mean-bag erases — quality labels are often length-driven (Gopher's
    * word-count gate), and a pure BoW classifier is blind to them.
    */
  val LenBuckets = 16

  def bucket(t: UTF8String, dim: Int): Int =
    ((XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
      t.numBytes, Seed) & Long.MaxValue) % dim).toInt

  def bucketOf(token: String, dim: Int): Int =
    bucket(UTF8String.fromString(token), dim)

  /** floor(log2(nTok + 1)) capped to the reserved range. */
  def lenBucket(nTok: Int): Int =
    math.min(63 - java.lang.Long.numberOfLeadingZeros(nTok + 1L),
      LenBuckets - 1).toInt
}

/** Fused linear-model scoring over hashed set-of-words features: one
  * pass over the raw text computing `bias + Σ_distinct w[bucket(tok)] +
  * w[dim + lenBucket(n_tok)]` (binary-BoW logit — each distinct token
  * bucket fires once — plus the reserved log-length structural slot)
  * against a broadcast weight vector — the scan-stage hot path of the
  * trained quality classifier ([[graft.ops.QualityModel]]). Binary
  * presence (not frequency) on purpose: quality signals are typically
  * presence-shaped (a required stopword, a boilerplate marker), and
  * mean-bag normalization would dilute a single marker token by 1/n.
  * Tokens are maximal runs between 0x20 bytes, identical to
  * [[TokenStatsExpr]] / [[TokenBitsExpr]]; an empty document scores
  * bias + the n=0 length slot. The weight array ((dim + 16) × 8 bytes,
  * default 4096 → 32 KB) ships per executor exactly like the IVF
  * codebooks; distinct buckets accumulate in first-occurrence order
  * (dedup via a dim-bit scratch bitset, 512 B — no per-row hash set),
  * so the score is deterministic and reproducible by a sequential
  * reference scorer (spec-asserted strictly equal).
  */
case class HashedLogitExpr(
    child: Expression, weights: Array[Double], bias: Double)
    extends UnaryExpression with ExpectsInputTypes {

  require(weights.length > HashedBow.LenBuckets,
    "weight vector must hold dim hashed buckets + the reserved length slots")

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_hashed_logit"

  @transient private lazy val scorer = new HashedLogitScorer(weights, bias)

  override protected def nullSafeEval(input: Any): Any =
    scorer.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashedLogit",
      new HashedLogitScorer(weights, bias), classOf[HashedLogitScorer].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.score($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedLogitExpr =
    copy(child = newChild)
}

/** Executor-side scorer behind [[HashedLogitExpr]]: tight loop over the
  * UTF-8 bytes, no java String materialization on the hot path.
  */
final class HashedLogitScorer(weights: Array[Double], bias: Double)
    extends Serializable {

  private val dim = weights.length - HashedBow.LenBuckets
  // per-task scratch bitset for distinct-bucket dedup; codegen reference
  // objects are per-generated-instance (one per task), so no sharing
  @transient private lazy val seen = new Array[Long]((dim + 63) / 64)

  def score(text: UTF8String): Double = {
    java.util.Arrays.fill(seen, 0L)
    val bytes = text.getBytes
    var sum = 0.0
    var n = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) != 0x20) {
        val start = i
        while (i < bytes.length && bytes(i) != 0x20) i += 1
        val b = HashedBow.bucket(
          UTF8String.fromBytes(bytes, start, i - start), dim)
        if ((seen(b >> 6) & (1L << (b & 63))) == 0L) {
          seen(b >> 6) |= 1L << (b & 63)
          sum += weights(b)
        }
        n += 1
      } else i += 1
    }
    bias + sum + weights(dim + HashedBow.lenBucket(n))
  }
}

object TextExpressions {
  /** Codegen'd rolling-hash fingerprint of a string column. */
  def fingerprint(text: Column): Column =
    Bridge.column(RollingHash(Bridge.expression(text)))

  /** Codegen'd fused (n_tok, top_tok_n, n_uniq_bigram) struct. */
  def tokenStats(text: Column): Column =
    Bridge.column(TokenStatsExpr(Bridge.expression(text)))

  /** Codegen'd fused (n_bytes, h_bits) whole-bit byte-entropy struct. */
  def charEntropy(text: Column): Column =
    Bridge.column(CharEntropyExpr(Bridge.expression(text)))

  /** Codegen'd NFKC + case-fold + whitespace-collapse normalizer. */
  def nfkcFold(text: Column): Column =
    Bridge.column(NfkcFoldExpr(Bridge.expression(text)))

  /** Codegen'd fused (sum_bits, n_tok) surprisal accumulator against a
    * broadcast bit table.
    */
  def tokenBits(text: Column, bits: Map[String, Int], oovBits: Int): Column =
    Bridge.column(TokenBitsExpr(Bridge.expression(text), bits, oovBits))

  /** Codegen'd fused (sum_bits, n_pairs) conditional-bigram surprisal
    * accumulator against broadcast pair + context bit tables.
    */
  def pairBits(text: Column, pair: Map[String, Int],
      ctx: Map[String, Int]): Column =
    Bridge.column(PairBitsExpr(Bridge.expression(text), pair, ctx))

  /** Codegen'd (n_bytes, n_deflate) compression-signal struct. */
  def deflateLen(text: Column): Column =
    Bridge.column(DeflateLenExpr(Bridge.expression(text)))

  /** Codegen'd fused (extract, n_lines) main-content extraction struct
    * (the WSDM-2010 NumWords/LinkDensity rules in one pass).
    */
  def densityExtract(page: Column): Column =
    Bridge.column(DensityExtractExpr(Bridge.expression(page)))
}

/** Fused main-content extraction (Kohlschütter et al. WSDM 2010
  * NumWords/LinkDensity rules) — ONE pass over the page replacing the
  * interpreted higher-order-function stack (FusedDensityExtractSpec keeps
  * it as its oracle). That stack was O(lines²) per document: the keep-rule
  * `filter` lambda read its neighbor features through
  * `element_at(wordsArr, i)` where
  * `wordsArr` was an UNMATERIALIZED `transform(transform(split(page)))`
  * tree, so every per-line probe re-ran the full tag-strip + tokenize
  * over all lines — with the page-construction expression inlined below
  * it by projection collapse (measured: t36's two map stages held 24.6 s
  * of task-time at sf0.1). Guide §4: one fused loop, identical values
  * (FusedDensityExtractSpec gates vs the HOF stack; t36's md5 oracle
  * gates end-to-end).
  *
  * Exact semantics preserved:
  *  - lines: split on '\n', trailing empties KEPT (Spark split limit -1);
  *  - clean(l): Java-regex `<[^>]+>` → "" (regexp_replace);
  *  - words(l): non-empty runs between single 0x20 spaces;
  *  - anchor(l): Σ CODE-POINT lengths of group-1 matches of
  *    `<a[^>]*>(.*?)</a>` (length() counts code points, not UTF-16
  *    units — kept via codePointCount);
  *  - clen(l): code-point length of clean(l);
  *  - keep rule, 0-based i: curLdOk = 3·a(i) ≤ c(i); prevLdOk = i==0 or
  *    9·a(i−1) ≤ 5·c(i−1); pw = i==0 ? 0 : w(i−1); nw = i==n−1 ? 0 :
  *    w(i+1); keep iff curLdOk and (prevLdOk ? (w(i)>16 or nw>15 or
  *    pw>4) : (w(i)>40 or nw>17));
  *  - extract: kept CLEAN lines joined with '\n'; NULL when none kept;
  *  - n_lines: the line count (folds the caller's separate
  *    `size(split(page,"\n"))` — one page pass, not two).
  */
case class DensityExtractExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DensityExtractExpr.schema
  override def prettyName: String = "graft_density_extract"

  override protected def nullSafeEval(input: Any): Any =
    DensityExtractExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.DensityExtractExpr.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): DensityExtractExpr =
    copy(child = newChild)
}

object DensityExtractExpr {
  import org.apache.spark.sql.types.{StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("extract", StringType, nullable = true),
    StructField("n_lines", IntegerType, nullable = false)))

  private val Tag = java.util.regex.Pattern.compile("<[^>]+>")
  private val Anchor = java.util.regex.Pattern.compile("<a[^>]*>(.*?)</a>")

  private def codePoints(s: String): Int = s.codePointCount(0, s.length)

  /** Non-empty runs between single 0x20 spaces — the shared tokenizer
    * convention (`size(filter(split(l, " "), _ =!= ""))`).
    */
  private def wordCount(s: String): Int = {
    var i = 0; var w = 0
    while (i < s.length) {
      if (s.charAt(i) != ' ') {
        w += 1
        while (i < s.length && s.charAt(i) != ' ') i += 1
      } else i += 1
    }
    w
  }

  /** Shared by interpreted eval and generated code (static forwarder). */
  def compute(page: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val lines = page.toString.split("\n", -1)
    val n = lines.length
    val clean = new Array[String](n)
    val words = new Array[Int](n)
    val anchor = new Array[Int](n)
    val clen = new Array[Int](n)
    var i = 0
    while (i < n) {
      val cl = Tag.matcher(lines(i)).replaceAll("")
      clean(i) = cl
      clen(i) = codePoints(cl)
      words(i) = wordCount(cl)
      val m = Anchor.matcher(lines(i))
      var a = 0
      while (m.find()) a += codePoints(m.group(1))
      anchor(i) = a
      i += 1
    }
    val kept = new java.lang.StringBuilder
    var any = false
    i = 0
    while (i < n) {
      val curLdOk = anchor(i) * 3 <= clen(i)
      val prevLdOk = i == 0 || anchor(i - 1) * 9 <= clen(i - 1) * 5
      val pw = if (i == 0) 0 else words(i - 1)
      val nw = if (i == n - 1) 0 else words(i + 1)
      val keep = curLdOk && (
        if (prevLdOk) words(i) > 16 || nw > 15 || pw > 4
        else words(i) > 40 || nw > 17)
      if (keep) {
        if (any) kept.append('\n')
        kept.append(clean(i))
        any = true
      }
      i += 1
    }
    val extract: Any =
      if (any) UTF8String.fromString(kept.toString) else null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](extract, n))
  }
}

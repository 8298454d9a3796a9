package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.TextOps

/** Gates the r16 fused density extraction ([[DensityExtractExpr]])
  * STRICTLY against the pre-r16 higher-order-function formulation
  * (`densityExtractHof` below) — same keep rules, same regexes, same
  * code-point length semantics, NULL extract when no line survives —
  * and the struct's n_lines against `size(split(page, "\n"))`.
  */
class FusedDensityExtractSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-r16 HOF formulation — the reference the fused expression
    * is gated against.
    */
  private def densityExtractHof(page: Column): Column = {
    val lines = split(page, "\n")
    val cleanArr = transform(lines,
      l => regexp_replace(l, "<[^>]+>", ""))
    val wordsArr = transform(cleanArr,
      l => size(filter(split(l, " "), w => w =!= lit(""))))
    val anchorArr = transform(lines, l => TextOps.anchorChars(l))
    val clenArr = transform(cleanArr, l => length(l))
    val n = size(lines)
    def w(i: Column) = element_at(wordsArr, i)
    def a(i: Column) = element_at(anchorArr, i)
    def c(i: Column) = element_at(clenArr, i)
    val kept = filter(cleanArr, (l, i0) => {
      val i = i0 + 1 // element_at is 1-based; i0 is the 0-based index
      val curLdOk = a(i) * 3 <= c(i)
      val prevLdOk = when(i0 === 0, lit(true))
        .otherwise(a(i - 1) * 9 <= c(i - 1) * 5)
      val pw = when(i0 === 0, lit(0)).otherwise(w(i - 1))
      val nw = when(i0 === n - 1, lit(0)).otherwise(w(i + 1))
      curLdOk && when(prevLdOk, w(i) > 16 || nw > 15 || pw > 4)
        .otherwise(w(i) > 40 || nw > 17)
    })
    when(size(kept) === 0, lit(null).cast("string"))
      .otherwise(concat_ws("\n", kept))
  }

  private val anchors = Seq(
    "<a href=\"/\">home</a>", "<a>x</a>", "<a class=\"z\"></a>",
    "<a href=\"/shop\">our shop</a>")
  private val fillers = Seq(
    "the quick brown fox jumps over the lazy dog again and again " +
      "until the sentence is long enough to count as real content here",
    "short line", "", " ", "  double  spaced  words  ",
    "unclosed <a href=\"/x\">anchor text", "<b>bold</b> mixed words",
    "tag <i>soup</i> with <a href=\"u\">two</a> and <a>more</a> links",
    "é accented ünïcode wörds in a line that runs on for a while to " +
      "pass the word threshold with sixteen plus tokens in it total yes")

  private def page(seed: Int, nLines: Int): String =
    (0 until nLines).map { i =>
      val r = math.abs(seed * 31 + i * 17)
      if (r % 3 == 0) anchors(r % anchors.size) + " " +
        fillers(r % fillers.size)
      else fillers(r % fillers.size)
    }.mkString("\n") + (if (seed % 4 == 0) "\n" else "") // trailing empty

  private val pages: Seq[String] =
    Seq("", "\n", "one line only", "<a>all</a>\n<a>anchors</a>",
      "a\nb\nc") ++ (0 until 120).map(s => page(s, 1 + s % 12))

  test("fused extract+n_lines equals the HOF stack on adversarial pages") {
    val df = pages.toDF("page")
    val rows = df.select(
        TextOps.densityExtractStats(col("page")).as("de"),
        densityExtractHof(col("page")).as("hof"),
        size(split(col("page"), "\n")).as("nl"))
      .select(col("de.extract"), col("hof"), col("de.n_lines"), col("nl"))
      .collect()
    rows.zip(pages).foreach { case (r, p) =>
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getString(0) == r.getString(1)),
        s"extract fused=${r.get(0)} hof=${r.get(1)} page='$p'")
      assert(r.getInt(2) == r.getInt(3),
        s"n_lines fused=${r.getInt(2)} split=${r.getInt(3)} page='$p'")
    }
    // the fixture must exercise both arms
    assert(rows.exists(_.isNullAt(0)) && rows.exists(!_.isNullAt(0)))
  }

  test("interpreted eval matches the codegen path") {
    val expr = DensityExtractExpr(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = true))
    val viaCodegen = pages.toDF("page")
      .select(TextOps.densityExtractStats(col("page"))).collect()
      .map(r => (Option(r.getStruct(0).getString(0)),
        r.getStruct(0).getInt(1)))
    val viaEval = pages.map { p =>
      val row = expr.eval(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(p)))
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      (Option(row.getUTF8String(0)).map(_.toString), row.getInt(1))
    }
    assert(viaCodegen.toSeq == viaEval)
  }
}

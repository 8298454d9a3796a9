package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gates the r16 fused raw-split window index
  * (`Dedup.spanWindowProjection` via [[NGramList]] keepEmpty) STRICTLY
  * against the pre-r16 HOF formulation (`spanWindowProjectionHof` below) —
  * including the raw `split(" ", -1)` edge semantics the scrub rebuild
  * gather depends on: empty segments from consecutive / leading /
  * trailing spaces occupy POSITIONS, and window hashes must line up
  * with `element_at(split(text, " "), p + 1)`.
  */
class FusedSpanWindowSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-r16 HOF formulation — the reference
    * `Dedup.spanWindowProjection` is gated against.
    */
  private def spanWindowProjectionHof(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    df.select(col(idCol).as("id"), toks.as("t"))
      .select(col("id"), posexplode(
        when(size(col("t")) >= n,
          transform(sequence(lit(0), size(col("t")) - n),
            p => concat_ws(" ", slice(col("t"), p + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "w")))
      .select(col("id"), col("pos"),
        xxhash64(col("w")).as("h1"),
        xxhash64(lit(0x5bd1e995L), col("w")).as("h2"))
  }

  private val texts: Seq[String] = Seq(
    "", " ", "  ", "a", "a b", "a b c d e f",
    "a  b   c d", " leading space", "trailing space ",
    "exactly five token window here", "one two three four",
    "é ünï c o d e tokens in a row",
    "x x x x x x x x x x x x") ++
    (0 until 80).map { s =>
      (0 until (1 + s % 25)).map { i =>
        val r = s * 31 + i * 7
        if (r % 5 == 0) "" else s"w${r % 11}" // empties -> double spaces
      }.mkString(" ")
    }

  test("fused window index equals the HOF stack incl. empty segments") {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    for (n <- Seq(2, 3, 5)) {
      val fused = canon(graft.ops.Dedup
        .spanWindowProjection(df, "text", "doc_id", n).collect())
      val hof = canon(
        spanWindowProjectionHof(df, "text", "doc_id", n).collect())
      assert(fused == hof, s"n=$n mismatch")
      assert(fused.nonEmpty)
    }
  }

  test("keepEmpty NGramList matches split(' ', -1) segment positions") {
    val df = texts.toDF("text")
    val rows = df.select(
        HashExpressions.ngramListAll(col("text"), 3).as("fused"),
        expr("""CASE WHEN size(split(text, ' ')) >= 3 THEN transform(
            sequence(0, size(split(text, ' ')) - 3),
            p -> concat_ws(' ', slice(split(text, ' '), p + 1, 3)))
          ELSE CAST(array() AS array<string>) END""").as("hof"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"text='$t'")
    }
  }
}

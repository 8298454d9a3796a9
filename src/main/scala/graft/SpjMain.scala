package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.sql.SpjCompiler

/** CLI analog of the reference's QueryMain (reference:
  * src/QueryMain.java — reads an SPJ-dialect .sql file, executes it,
  * writes the result): `runMain graft.SpjMain <query.sql|inline-sql>
  * <tableDir> [outParquetDir]`. Without an output dir, prints up to 50
  * rows to stdout. `--explain` as the first argument prints the
  * cost-based join order (stats-driven: footer rows, artifact-first
  * NDV, ANALYZE range histograms) and the formatted physical plan
  * WITHOUT executing — the reference's optimizer trace, Spark-side.
  */
object SpjMain {
  def main(args0: Array[String]): Unit = {
    val explain = args0.headOption.contains("--explain")
    val args = if (explain) args0.drop(1) else args0
    require(args.length >= 2,
      "usage: SpjMain [--explain] <query.sql | inline query text> <tableDir> [outDir]")
    val spark = Session.local()
    if (explain) println(explainText(spark, args(0), args(1)))
    else execute(spark, args(0), args(1), args.lift(2))
    spark.stop()
  }

  /** The --explain body, session-independent for the spec: the chosen
    * join order plus the formatted physical plan, nothing executed.
    */
  def explainText(spark: SparkSession, query: String, dir: String): String = {
    val queryText =
      if (Files.exists(Paths.get(query)))
        new String(Files.readAllBytes(Paths.get(query)), "UTF-8")
      else query
    val order = SpjCompiler.explainOrder(spark, dir, queryText)
    val plan = SpjCompiler.run(spark, dir, queryText)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    s"join order: ${order.mkString(" -> ")}\n$plan"
  }

  /** The CLI body, session-independent so a spec can drive it (r8 —
    * the one surface that was still only manually verified): resolve
    * file-or-inline query text, compile + run against `dir`'s tables,
    * write parquet to `out` or print to stdout.
    */
  def execute(spark: SparkSession, query: String, dir: String,
      out: Option[String]): Unit = {
    val queryText =
      if (Files.exists(Paths.get(query)))
        new String(Files.readAllBytes(Paths.get(query)), "UTF-8")
      else query
    val result = SpjCompiler.run(spark, dir, queryText)
    out match {
      case Some(o) =>
        result.write.mode("overwrite").parquet(o)
        println(s"[spj] wrote $o")
      case None =>
        result.show(50, truncate = false)
    }
  }
}

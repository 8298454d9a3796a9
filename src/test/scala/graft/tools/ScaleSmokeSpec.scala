package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The scale smoke's class table, checked without running Spark: a
  * missing or doubled class would otherwise surface only after a long
  * smoke run.
  */
class ScaleSmokeSpec extends AnyFunSuite {
  import ScaleSmoke._

  private val ops = classes.map(_._1)

  test("every d-tier query has exactly one declared class") {
    val dTier = SparkEntry.queries.keys.filter(_.startsWith("d")).toSeq.sorted
    assert(dTier.size == 42)
    val wrong = dTier.filter(q => ops.count(_ == q) != 1)
    assert(wrong.isEmpty, s"d-tier queries without exactly one class: $wrong")
    assert(ops.distinct == ops, "an op is declared twice")
  }

  test("every op the table names exists") {
    val unknown = ops.filterNot(n =>
      n == "epoch_build" || SparkEntry.queries.contains(n))
    assert(unknown.isEmpty, s"unknown ops: $unknown")
    assert(rehearsed.size == 11 && rehearsed.subsetOf(ops.toSet))
  }

  test("ratio bounds and wall caps per (class, step)") {
    val inf = Double.PositiveInfinity
    assert(limits("t47_textrank", Linear, 10) == ((15.0, 300.0)))
    assert(limits("d02_dedup_jaccard", Candidate, 10) == ((60.0, 300.0)))
    assert(limits("d05_dedup_embedding", Quadratic, 10) == ((inf, 60.0)))
    assert(limits("d10_dedup_semantic", Quadratic, 10) == ((inf, 60.0)))
    assert(limits("t47_textrank", Linear, 30) == ((90.0, 600.0)))
    assert(limits("d02_dedup_jaccard", Candidate, 30) == ((180.0, 600.0)))
    assert(limits("d10_dedup_semantic", Quadratic, 30) == ((inf, 600.0)))
    assert(limits("d05_dedup_embedding", Quadratic, 30) == ((inf, 900.0)))
  }
}

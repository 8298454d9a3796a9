package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic: print the formatted physical plan of one or more
  * SparkEntry queries without executing them — the `.explain`-and-iterate
  * loop from SURVEY §5 as a one-liner.
  *
  * Usage: runMain graft.tools.PlanDump q24_not_in_null[,p07_global_ids] [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local()
    names.foreach { n =>
      println(s"==== $n ====")
      println(graft.SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}

package graft.tools
/** Replicates the driver's smoke gate: SparkEntry.entry must return >0
  * rows on sf0.001. */
object SmokeCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val n = graft.SparkEntry.entry(spark).count()
    println(s"SMOKE_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}

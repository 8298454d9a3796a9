package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The one Spark session every graft main runs on, and the one way a run
  * drops the cached blocks it leaves behind.
  *
  * The session is `local[cpus]` with one shuffle partition per core, UTC
  * session time (what `Tables.events` is written for) and the UI off.
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4.
  */
object Session {
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The session's settings, as [[builder]] applies them. */
  private[graft] def confs(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder().config(confs(cpus))

  /** [[builder]]'s session at the default core count, logging at WARN. */
  def local(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every registered RDD's blocks and the Dataset cache. Queries
    * that `localCheckpoint` (CC loops, pair lists) leave persisted blocks
    * behind after their action completes, and nothing references them
    * once it has; across many queries in one JVM that debt skews later
    * timings and starves execution memory.
    */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(Bridge.freeBlocks)
    spark.catalog.clearCache()
  }

  /** [[release]], then let the ContextCleaner drain: shuffle and broadcast
    * cleanup is GC-driven (the cleaner polls a reference queue), so one
    * GC may enqueue the cleanups without leaving the async cleaner time
    * to run them before the next timed rep starts allocating. Two GCs
    * with a short drain window empty the queue.
    */
  def barrier(spark: SparkSession): Unit = {
    release(spark)
    System.gc()
    Thread.sleep(200)
    System.gc()
  }
}

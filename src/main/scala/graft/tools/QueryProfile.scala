package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

/** Diagnostic: run one or more SparkEntry queries (noop sink, after one
  * untimed warm rep) with a stage-metrics listener and print, per query,
  * the stage table — wall, task-time sum, shuffle read/write bytes, spill,
  * task count, and the stage's first line of callsite. This is the
  * guide-§1 "which stage is the time going to" loop for a headless host
  * where the Spark UI is off.
  *
  * Usage: runMain graft.tools.QueryProfile d02_dedup_jaccard[,t37_...] [sfDir]
  * (env SPARK_GRAFT_CPUS)
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q06_join4_filter_sort"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()

    final case class St(id: Int, name: String, wallMs: Long, taskMs: Long,
        tasks: Int, shufReadMb: Double, shufWriteMb: Double,
        spillMb: Double, inputMb: Double)
    val stages = ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        stages.synchronized {
          stages += St(si.stageId, si.name.takeWhile(_ != '\n'), wall,
            m.executorRunTime, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1048576.0,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            m.diskBytesSpilled / 1048576.0,
            m.inputMetrics.bytesRead / 1048576.0)
        }
      }
    })

    // SPARK_GRAFT_FINALPLAN=1: also print the EXECUTED (AQE-final) plan of
    // the timed run — explain() before execution shows isFinalPlan=false.
    if (sys.env.get("SPARK_GRAFT_FINALPLAN").contains("1"))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            println("FINAL PLAN (" + funcName + "):\n" +
              qe.explainString(org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })

    names.foreach { n =>
      val run = graft.SparkEntry.queries(n)
      // warm rep: JIT + codegen + page cache, untimed (the Bench contract)
      run(spark, dir).write.format("noop").mode("overwrite").save()
      graft.Session.barrier(spark)
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      run(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.Session.release(spark)
      val snap = stages.synchronized(stages.toVector)
      println(f"==== $n: ${wall}%.2f s wall, ${snap.size} stages, " +
        f"${snap.map(_.taskMs).sum / 1e3}%.1f s task-time ====")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%6s " +
        f"${"sh_rd_mb"}%9s ${"sh_wr_mb"}%9s ${"spill"}%6s ${"in_mb"}%7s  name")
      snap.sortBy(-_.taskMs).take(20).foreach { s =>
        println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d ${s.tasks}%6d " +
          f"${s.shufReadMb}%9.1f ${s.shufWriteMb}%9.1f ${s.spillMb}%6.1f " +
          f"${s.inputMb}%7.1f  ${s.name.take(60)}")
      }
    }
    spark.stop()
  }
}

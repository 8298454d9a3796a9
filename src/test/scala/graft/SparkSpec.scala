package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()

  /** The name of each job `body` starts, in start order. A job inside a
    * SQL execution is named by the execution's description (e.g. "head
    * at Clusters.scala:NNN"): under AQE every stage is planned and
    * submitted by an adaptive-execution thread, so stage names do not say
    * which action ran them. Any other job (the parquet schema-inference
    * job has no execution id) is named by its first stage. Jobs are taken
    * from a job group with no description (a description would replace
    * the call site); a sentinel job in a second group, seen by the same
    * listener, marks the end.
    */
  def jobActions(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val execs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    // (execution id, first stage name) per job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add((
            e.properties.getProperty("spark.sql.execution.id"),
            e.stageInfos.headOption.map(_.name).getOrElse(s"job ${e.jobId}")))
          case Some(g) if g == s"$group-sentinel" => done.countDown()
          case _ => ()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execs.put(s.executionId, s.description)
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, null)
      try body finally sc.setJobGroup(s"$group-sentinel", null)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.map { case (exec, stage) =>
      Option(exec).flatMap(_.toLongOption).flatMap(x => Option(execs.get(x)))
        .getOrElse(stage)
    }
  }
}

object SparkSpec {
  // local[4] whatever SPARK_GRAFT_CPUS says: specs pin partition counts
  lazy val session: SparkSession =
    Session.builder(4).appName("graft-test").getOrCreate()
}

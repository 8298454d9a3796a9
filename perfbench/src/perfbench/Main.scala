package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed operation: an SPJ query, a suite query or a micro-batch. */
final case class OpRecord(
    id: Int,
    name: String,
    latencyNs: Long,
    ok: Boolean,
    error: String,
    extra: Map[String, Any])

/** What every workload shares: the plan, the session, the tracer and the
  * records of the timed phase.
  */
final class Ctx(
    val plan: Map[String, Any],
    val spark: SparkSession,
    val tracer: Tracer) {
  val ops = ArrayBuffer.empty[OpRecord]
  val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var peakHeapBytes = 0L
  /** Codegen work inside operations, summed. */
  var codegen = Codegen(0L, 0L)
  /** Times of the calibration job, taken right before and right after
    * the timed phase. */
  val calibrationMs = ArrayBuffer.empty[Double]

  def str(k: String): String = plan(k).toString
  def int(k: String): Int = plan(k).toString.toDouble.toInt
  def outDir: String = str("out_dir")

  /** Full GC, then record the heap the program still holds. */
  def sampleHeap(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakHeapBytes = math.max(peakHeapBytes, used)
  }

  /** Between operations, as Bench does: measure what the operation left
    * behind (persisted RDDs still registered, heap still held), then
    * unpersist and clear the cache so the next operation starts clean.
    * Returns the number of leaked persisted RDDs. Outside the timed
    * phase (`measure = false`) the GC and heap sample are skipped.
    */
  def cleanup(measure: Boolean = true): Int = {
    val sc = spark.sparkContext
    val leaked = sc.getPersistentRDDs.size
    if (measure) sampleHeap()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    leaked
  }

  /** Bench's barrier between phases: blocking unpersist, then two GCs
    * with a pause between them, so the ContextCleaner has removed the
    * shuffles and broadcasts that earlier work left before the next
    * phase starts.
    */
  def barrier(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200)
    System.gc()
    tracer.quiesce()
  }

  /** After a barrier, `n` calibration jobs, recorded; `warmups` more run
    * first and are dropped.
    */
  def calibrate(n: Int, warmups: Int = 0): Unit = {
    barrier()
    (1 to warmups).foreach(_ => Calibration.once(spark, int("cores")))
    (1 to n).foreach(_ => calibrationMs += Calibration.once(spark, int("cores")))
    tracer.quiesce()
  }

  /** Time `f` as operation `id`; failures are recorded, not thrown. With
    * `clean`, the cleanup above follows the operation, outside its time.
    */
  def timed(id: Int, name: String, clean: Boolean = true)(
      f: => Map[String, Any]): Unit = {
    val cg0 = Codegen.snapshot()
    val t0 = System.nanoTime()
    val (ok, err, extra) =
      try tracer.span("op", op = id)((true, "", f))
      catch {
        case e: Throwable =>
          (false, Main.describe(e), Map.empty[String, Any])
      }
    val ns = System.nanoTime() - t0
    tracer.endOp()
    codegen = codegen.plus(Codegen.snapshot().minus(cg0))
    val leaked = if (clean) Map("leaked_persist" -> cleanup()) else Map.empty
    ops += OpRecord(id, name, ns, ok, err, extra ++ leaked)
  }
}

/** A workload: its set-up (the untimed warm-up: first calls, warm pass)
  * and the timed phase. The end-to-end times of `calibrated` workloads
  * are scaled by the calibration job (see run.py).
  */
trait Workload {
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
  def calibrated: Boolean = true
}

/** The benchmark's JVM side: `Main <plan.json> <result.json>`. The plan, made
  * by run.py from the workload seed, names the workload, its generated
  * inputs and the data directories; the result holds the set-up time,
  * per-operation records, and (traced runs) per-layer metrics and spans.
  */
object Main {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val workload: Workload = plan("workload") match {
      case "spj_adhoc" => SpjAdhoc
      case "operator_suite" => OperatorSuite
      case "event_stream" => EventStream
      case "corpus_fold" => CorpusFold
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val cores = plan("cores").toString.toInt
    val traced = plan("trace").toString == "1"

    // set-up: process start until the session is built and the warm
    // pass is done
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def log(msg: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs $msg")
    val spark = session(cores)
    val ctx = new Ctx(plan, spark, new Tracer(spark, traced))
    workload.setup(ctx)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    ctx.cleanup(measure = false)
    log(s"set-up done: $setupS s")

    if (workload.calibrated) ctx.calibrate(6, warmups = 2)
    ctx.peakHeapBytes = 0L
    workload.run(ctx)
    log("timed phase done")
    if (workload.calibrated) ctx.calibrate(6)

    if (traced) {
      if (!ctx.layers.contains("exec.jobs")) ctx.layers ++= Layers.common(ctx)
      ctx.layers("host.calibration_ms") = Layers.median(ctx.calibrationMs.toSeq)
      Files.writeString(Paths.get(ctx.outDir, "trace.json"),
        Json.write(ctx.tracer.dump()))
    }
    val result = Map(
      "workload" -> plan("workload"),
      "setup_s" -> setupS,
      "calibration_ms" -> ctx.calibrationMs.toSeq,
      "peak_heap_mb" -> ctx.peakHeapBytes / 1048576.0,
      "ops" -> ctx.ops.toSeq.map(o => Map(
        "id" -> o.id, "name" -> o.name, "latency_ms" -> o.latencyNs / 1e6,
        "ok" -> o.ok, "error" -> o.error) ++ o.extra),
      "layers" -> ctx.layers) ++ ctx.out
    Files.writeString(Paths.get(args(1)), Json.write(result))
    spark.stop()
    log("stopped")
  }
}

/** Whole-stage codegen counters: process-wide, so read around an
  * operation while nothing else runs.
  */
final case class Codegen(compileNs: Long, compiles: Long) {
  def minus(o: Codegen): Codegen =
    Codegen(compileNs - o.compileNs, compiles - o.compiles)
  def plus(o: Codegen): Codegen =
    Codegen(compileNs + o.compileNs, compiles + o.compiles)
}

/** A fixed Spark core job — no SQL, so no Catalyst and no generated
  * code: 2 M integers hashed into 1,000 keys and counted through one
  * shuffle, about 0.15 s on 4 cores. Its time tracks how fast the host
  * runs Spark's scheduler, tasks and shuffle at the moment. The host this
  * benchmark was built on drifts by half within minutes (steal time), so
  * run.py scales the end-to-end times of calibrated workloads by
  * reference ÷ this run's median.
  * It runs no graft code and, after the barrier, finds no state graft's
  * operations left.
  */
object Calibration {
  def once(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(0 until 2000000, cores)
      .map(i => ((i * 0x9E3779B9) >>> 22, 1L))
      .reduceByKey(_ + _, cores).count()
    (System.nanoTime() - t0) / 1e6
  }
}

object Codegen {
  def snapshot(): Codegen = Codegen(
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount)
}

/** Per-layer metrics every traced workload reports. Counts are totals
  * over the timed phase; `_s` metrics are totals in seconds; `_ms`
  * metrics are medians per operation.
  */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def common(ctx: Ctx): Seq[(String, Double)] = {
    val cg = ctx.codegen
    val cores = ctx.int("cores")
    val tr = ctx.tracer
    val ops = tr.named("op")
    val all = tr.spans.toSeq
    def tot(f: SpanCounters => Long) = tr.total(all)(f).toDouble
    val opWallS = ops.map(_.durNs).sum / 1e9
    val taskRunS = tot(_.taskRunMs) / 1e3
    val cat = ops.map(o => tr.catalyst.getOrElse(o.op, new CatalystCounters))
    val mb = 1048576.0
    Seq(
      "catalyst.analysis_ms" -> median(cat.map(_.analysisMs.toDouble)),
      "catalyst.optimization_ms" -> median(cat.map(_.optimizationMs.toDouble)),
      "catalyst.planning_ms" -> median(cat.map(_.planningMs.toDouble)),
      "catalyst.plan_nodes" -> cat.map(_.planNodes).sum.toDouble,
      "codegen.compile_ms" -> (if (ops.isEmpty) 0.0
        else cg.compileNs / 1e6 / ops.size),
      "codegen.compiles" -> cg.compiles.toDouble,
      "exec.jobs" -> tot(_.jobs),
      "exec.stages" -> tot(_.stages),
      "exec.tasks" -> tot(_.tasks),
      "exec.no_task_s" -> ops.map(tr.noTaskMs).sum / 1e3,
      "exec.task_run_s" -> taskRunS,
      "exec.task_cpu_s" -> tot(_.taskCpuNs) / 1e9,
      "exec.gc_s" -> tot(_.gcMs) / 1e3,
      "exec.core_busy" -> (if (opWallS > 0) taskRunS / (opWallS * cores) else 0.0),
      "exec.shuffle_write_mb" -> tot(_.shuffleWriteBytes) / mb,
      "exec.shuffle_read_mb" -> tot(_.shuffleReadBytes) / mb,
      "exec.spill_mb" -> tot(_.spillBytes) / mb,
      "exec.scan_mb" -> tot(_.scanBytes) / mb,
      "ops.leaked_persist" -> ctx.ops.map(o =>
        o.extra.getOrElse("leaked_persist", 0).toString.toDouble).sum,
      "trace.op_p50_ms" -> median(ctx.ops.toSeq.map(_.latencyNs / 1e6)),
      "trace.overhead_s" -> tr.overheadNs / 1e9)
  }
}

/** Order-independent digest of a result: row count plus the sum of the
  * low 32 bits of each row's xxhash64, with floating columns rounded to
  * 6 decimals so last-ulp differences between aggregation orders do not
  * change it. Collected through an Observation, in the same pass as the
  * operation's own action.
  */
object Digest {
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L)
      else xxhash64(cols: _*).bitwiseAND(lit(0xFFFFFFFFL))
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows"), sum(h).as("digest")), obs)
  }

  def read(obs: Observation): (Long, Long) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long],
      Option(m("digest")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }
}

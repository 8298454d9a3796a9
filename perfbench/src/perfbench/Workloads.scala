package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{SparkEntry, Tables}
import graft.ops.Events
import graft.queries.SqlPack
import graft.sql.{SpjCompiler, SpjParser}
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.Event
import graft.tools.CorpusMaintain

/** Generated SPJ queries in the reference dialect, each compiled with
  * `SpjCompiler.run` and collected to the Spark driver (the client receives
  * its rows). Rows are written out after the operation for the DuckDB
  * compare in check.py.
  */
object SpjAdhoc extends Workload {
  def setup(ctx: Ctx): Unit =
    SpjCompiler.run(ctx.spark, ctx.str("timed_dir"), SqlPack.q14Text).collect()

  def run(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val dir = ctx.str("timed_dir")
    val rowsDir = Paths.get(ctx.outDir, "spj")
    Files.createDirectories(rowsDir)
    val queries = ctx.plan("spj_queries").asInstanceOf[Seq[Map[String, Any]]]
    val parseMs = ArrayBuffer.empty[Double]
    queries.zipWithIndex.foreach { case (q, i) =>
      val sql = q("sql").toString
      if (tr.enabled) { // the parser alone, outside the operation
        val t0 = System.nanoTime()
        SpjParser.parse(sql)
        parseMs += (System.nanoTime() - t0) / 1e6
      }
      var result: (Array[String], Array[Row]) = null
      ctx.timed(i, s"spj${q("id")}") {
        val df = tr.span("sql.compile")(SpjCompiler.run(ctx.spark, dir, sql))
        val rows = tr.span("sql.execute")(df.collect())
        result = (df.columns, rows)
        Map("rows" -> rows.length)
      }
      if (result != null)
        Files.writeString(rowsDir.resolve(s"${q("id")}.json"), Json.write(Map(
          "columns" -> result._1.toSeq,
          "rows" -> result._2.toSeq.map(_.toSeq.map(RowOut.cell)))))
    }
    if (tr.enabled) {
      val ops = tr.named("op")
      val compiles = tr.named("sql.compile")
      // jobs started by the catalog: parquet schema reads and NDV rollups
      def sites(c: Span) = c.counters.jobSites.filter(_.contains("Tables.scala"))
      val statsJobs = compiles.map(sites(_).size)
      val rollups = compiles.map(sites(_).count(!_.startsWith("parquet at")))
      val lat = ops.map(s => s.op -> s.durNs.toDouble).toMap
      ctx.layers ++= Seq(
        "sql.parse_ms" -> Layers.median(parseMs.toSeq),
        "sql.compile_ms" -> Layers.median(compiles.map(_.durNs / 1e6)),
        "sql.compile_share" -> Layers.median(compiles.flatMap(c =>
          lat.get(c.op).map(c.durNs / _))),
        "sql.compile_jobs" -> tr.total(compiles)(_.jobs).toDouble,
        "tables.stats_jobs" -> statsJobs.sum.toDouble,
        "tables.ndv_hit_ratio" -> (if (compiles.isEmpty) 0.0
          else rollups.count(_ == 0).toDouble / compiles.size))
    }
  }
}

object RowOut {
  /** A result cell as JSON can carry it. */
  def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => t.toString
    case t: java.time.LocalDateTime => t.toString
    case d: java.sql.Date => d.toString
    case x: scala.collection.Seq[_] => x.map(cell).mkString("[", ", ", "]")
    case other => other
  }
}

/** A fixed, family-stratified panel of `SparkEntry.queries`, Bench's way:
  * an untimed warm pass at the warm scale (each output written as parquet
  * for the DuckDB oracle compare), then one timed pass over the panel at
  * the timed scale to the `noop` sink, in a seeded order, with a row
  * count and digest observed in the same pass.
  * The panel does not depend on the seed: the queries differ in cost by
  * two orders of magnitude, so a seeded sample of a dozen would move the
  * median by a quarter from seed to seed (README, "Operator suite").
  */
object OperatorSuite extends Workload {

  /** Proportional allocation by family (first letter of the name), at
    * least one query per family, evenly spaced through each family's
    * sorted names; then a seeded run order.
    */
  def panel(seed: Long, n: Int): Seq[String] = {
    val byFam = SparkEntry.queries.keys.toSeq.sorted.groupBy(_.take(1))
    val total = byFam.values.map(_.size).sum
    val picked = byFam.keys.toSeq.sorted.flatMap { f =>
      val names = byFam(f)
      val q = math.max(1, math.round(n.toDouble * names.size / total).toInt)
      (0 until q).map(i => names(((i + 0.5) * names.size / q).toInt))
    }
    new scala.util.Random(seed).shuffle(picked)
  }

  private def names(ctx: Ctx): Seq[String] =
    panel(ctx.plan("seed").toString.toLong, ctx.int("suite_n"))

  /** The warm pass over the panel. */
  def setup(ctx: Ctx): Unit = {
    val dir = ctx.str("warm_dir")
    val warm = names(ctx).map { name =>
      val path = Paths.get(ctx.outDir, "warm", name).toString
      val err =
        try {
          // the timed pass's plan, parquet sink in place of noop
          Digest.observe(SparkEntry.queries(name)(ctx.spark, dir))._1
            .write.mode("overwrite").parquet(path)
          ""
        } catch { case e: Throwable => Main.describe(e) }
      ctx.cleanup(measure = false)
      Map("name" -> name, "path" -> path, "error" -> err)
    }
    ctx.out("warm") = warm
    val oracle = SparkEntry.oracleSql
    ctx.out("oracle_sql") = names(ctx).flatMap(n => oracle.get(n).map(n -> _)).toMap
  }

  def run(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val dir = ctx.str("timed_dir")
    names(ctx).zipWithIndex.foreach { case (name, i) =>
      ctx.timed(i, name) {
        val df = tr.span("ops.build")(SparkEntry.queries(name)(ctx.spark, dir))
        val (observed, obs) = Digest.observe(df)
        tr.span("ops.action")(
          observed.write.format("noop").mode("overwrite").save())
        val (rows, digest) = Digest.read(obs)
        Map("rows" -> rows, "digest" -> digest)
      }
    }
    if (tr.enabled) {
      val builds = tr.named("ops.build")
      ctx.layers ++= Seq(
        "ops.build_ms" -> Layers.median(builds.map(_.durNs / 1e6)),
        "ops.build_jobs" -> tr.total(builds)(_.jobs).toDouble)
    }
  }
}

/** The events table replayed in `ts` order through a MemoryStream in
  * fixed-size micro-batches, consumed by three concurrent stateful
  * queries: hourly counts (update mode), native sessionization and
  * event-id dedup (append mode). An operation is one micro-batch, from
  * offering it until all three queries have committed it. After the
  * timed batches, two far-future sentinel events advance the watermark
  * so every window and session is emitted; the streamed results are then
  * compared with their batch twins over the same replayed events.
  */
object EventStream extends Workload {
  val GapSeconds = 1800L
  private val Sentinel = -1L

  private def readEvents(spark: SparkSession, dir: String): Array[Event] = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").as[Event].collect()
  }


  final class Pipeline(spark: SparkSession, ckpt: String, tag: String) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[Event]
    private val ev = src.toDF()
    val queries = Seq(
      EventPipeline.hourlyCounts(ev).writeStream.format("memory")
        .queryName(s"hourly_$tag").outputMode("update")
        .option("checkpointLocation", s"$ckpt/hourly").start(),
      EventPipeline.sessionizeNative(ev, GapSeconds).writeStream
        .format("memory").queryName(s"sessions_$tag").outputMode("append")
        .option("checkpointLocation", s"$ckpt/sessions").start(),
      EventPipeline.dedupStream(ev, Seq("event_id"))
        .observe(s"dedup_$tag", count(lit(1)).as("rows"))
        .writeStream.format("noop").queryName(s"dedup_$tag")
        .outputMode("append")
        .option("checkpointLocation", s"$ckpt/dedup").start())

    def offer(batch: Seq[Event]): Unit = {
      src.addData(batch)
      queries.foreach(_.processAllAvailable())
    }
    def stop(): Unit = queries.foreach(_.stop())
  }

  /** Replay: `n` events from a seeded start, each `dupEvery`-th event
    * re-delivered right after itself (an at-least-once source).
    */
  def replay(all: Array[Event], start: Int, n: Int, dupEvery: Int): Vector[Event] = {
    val out = Vector.newBuilder[Event]
    var i = 0
    var k = 0
    while (k < n) {
      val e = all((start + i) % all.length)
      out += e; k += 1
      if (dupEvery > 0 && (i + 1) % dupEvery == 0 && k < n) { out += e; k += 1 }
      i += 1
    }
    out.result()
  }

  /** The replay, the running pipeline and the progress events its
    * listener has seen, from the set-up to the end of the run.
    */
  private final class Live(ctx: Ctx) {
    val warmN = ctx.int("warm_batches")
    val events = replay(readEvents(ctx.spark, ctx.str("timed_dir")),
      ctx.int("replay_start"), (warmN + ctx.int("timed_ops")) * ctx.int("batch_size"),
      ctx.int("dup_every"))
    val batches = events.grouped(ctx.int("batch_size")).toVector
    val progress = TrieMap.empty[Long, StreamingQueryListener.QueryProgressEvent]
    val seq = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress(seq.getAndIncrement()) = e
    }
    ctx.spark.streams.addListener(listener)
    // the queries' threads inherit this span: their jobs are charged to it
    val pipeline = ctx.tracer.span("stream.pipeline")(
      new Pipeline(ctx.spark, s"${ctx.outDir}/ckpt/run", "run"))
  }
  private var live: Live = _

  /** Batches wait mostly on the state store, not on the CPU: scaling
    * them by the calibration job made their spread worse (README). */
  override def calibrated: Boolean = false

  /** Start the pipeline and run the warm batches through it. */
  def setup(ctx: Ctx): Unit = {
    live = new Live(ctx)
    live.batches.take(live.warmN).foreach(live.pipeline.offer)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val timedN = ctx.int("timed_ops")
    val l = live
    import l.{batches, events, pipeline => p, progress, seq, warmN}
    def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    drain()
    tr.resetCounters()
    val warmCut = seq.get()
    val perBatch = ArrayBuffer.empty[Map[String, Double]]
    batches.drop(warmN).zipWithIndex.foreach { case (batch, i) =>
      val before = seq.get()
      ctx.timed(i, s"batch$i", clean = false) {
        p.offer(batch)
        Map("events" -> batch.size)
      }
      if (tr.enabled) {
        drain()
        val evs = (before until seq.get()).flatMap(progress.get).map(_.progress)
        def sum(k: String) = evs.map(x =>
          Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
        perBatch += Map("addBatch" -> sum("addBatch"),
          "walCommit" -> sum("walCommit"), "commitOffsets" -> sum("commitOffsets"),
          "queryPlanning" -> sum("queryPlanning"))
      }
      if ((i + 1) % 4 == 0 || i == timedN - 1) ctx.sampleHeap()
    }
    drain()
    val timedEnd = seq.get()
    if (tr.enabled)
      ctx.layers ++= Layers.common(ctx)
    // flush: two sentinels a day past the replay advance the watermark
    val lastTs = events.last.ts.getTime
    Seq(1, 2).foreach { k =>
      p.offer(Seq(Event(Sentinel - k, new Timestamp(lastTs + 86400000L * k),
        Sentinel, "_flush", 0.0)))
    }
    drain()
    System.err.println("[perfbench] stream flushed")
    val allProgress = progress.toSeq.sortBy(_._1).map(_._2.progress)
    val timedProgress = (warmCut until timedEnd).flatMap(progress.get).map(_.progress)
    p.stop()
    spark.streams.removeListener(l.listener)

    // batch twins over exactly the replayed events
    val replayed = events.toDF()
    val hourlyTwin = Events.hourlyAgg(replayed)
      .select("hour_epoch", "event_type", "n_events", "sum_value")
    // self-test: drop one expected row, which the check must count
    val hourlyWant =
      if (ctx.plan.get("corrupt_expected").exists(_.toString == "1"))
        hourlyTwin.orderBy("hour_epoch", "event_type").offset(1)
      else hourlyTwin
    val hourlyGot = spark.table("hourly_run").filter(col("event_type") =!= "_flush")
      .groupBy("hour_epoch", "event_type")
      .agg(max_by(struct("n_events", "sum_value"), col("n_events")).as("r"))
      .select(col("hour_epoch"), col("event_type"), col("r.n_events"), col("r.sum_value"))
    val sessCols = Seq("user_id", "n_events", "start_epoch", "end_epoch", "sum_value")
    val sessWant = Events.sessionize(replayed, GapSeconds).select(sessCols.map(col): _*)
    val sessGot = spark.table("sessions_run").filter(col("user_id") =!= Sentinel)
      .select(sessCols.map(col): _*)
    // rows in one multiset and not the other, in one aggregation
    def diff(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Long = {
      val keys = got.columns.toSeq.map(col)
      got.withColumn("__w", lit(1L))
        .unionByName(want.withColumn("__w", lit(-1L)))
        .groupBy(keys: _*).agg(sum("__w").as("__n"))
        .agg(coalesce(sum(abs(col("__n"))), lit(0L))).head().getLong(0)
    }
    val dedupRows = allProgress.filter(_.name == "dedup_run")
      .flatMap(x => Option(x.observedMetrics.get("dedup_run")))
      .map(_.getAs[Long]("rows")).sum
    val dedupWant = events.map(_.event_id).distinct.size + 2L // + sentinels
    val checks = Seq(
      Map("name" -> "hourly_counts", "mismatches" -> diff(hourlyGot, hourlyWant)),
      Map("name" -> "sessions", "mismatches" -> diff(sessGot, sessWant)),
      Map("name" -> "dedup", "rows" -> dedupWant,
        "mismatches" -> math.abs(dedupRows - dedupWant)))
    ctx.out("stream_checks") = checks

    if (tr.enabled) {
      val last = timedProgress.groupBy(_.name).values.map(_.maxBy(_.batchId))
      val stateOps = last.flatMap(_.stateOperators)
      ctx.layers ++= Seq(
        "stream.add_batch_ms" -> Layers.median(perBatch.map(_("addBatch")).toSeq),
        "stream.wal_commit_ms" -> Layers.median(perBatch.map(_("walCommit")).toSeq),
        "stream.commit_offsets_ms" -> Layers.median(perBatch.map(_("commitOffsets")).toSeq),
        "stream.query_planning_ms" -> Layers.median(perBatch.map(_("queryPlanning")).toSeq),
        "stream.state_rows" -> stateOps.map(_.numRowsTotal).sum.toDouble,
        "stream.state_mb" -> stateOps.map(_.memoryUsedBytes).sum / 1048576.0,
        "stream.late_rows_dropped" -> timedProgress.flatMap(_.stateOperators)
          .map(_.numRowsDroppedByWatermark).sum.toDouble)
    }
  }
}

/** Standing-corpus maintenance through `tools`: each operation folds one
  * seeded ingest batch into the same standing corpus with
  * `CorpusMaintain.foldBatch` and materializes the fold's outputs — the
  * admitted documents, the updated near-duplicate cluster labels and the
  * version diff — to the driver. The standing corpus is the documents
  * table below a fixed id split; its cluster labels are a generated
  * table (gen.py). The outputs are written out after each operation for
  * check.py, which recomputes them independently.
  */
object CorpusFold extends Workload {
  private def standing(ctx: Ctx): DataFrame =
    Tables.load(ctx.spark, ctx.str("timed_dir"), "documents")
      .filter(col("doc_id") < ctx.int("fold_split"))
      .select("doc_id", "text")

  private def batch(ctx: Ctx, rows: Any): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    rows.asInstanceOf[Seq[Seq[Any]]]
      .map(r => (r(0).toString.toLong, r(1).toString)).toDF("doc_id", "text")
  }

  /** The fold and its three outputs, collected; traced as spans only in
    * the timed phase.
    */
  private def fold(ctx: Ctx, b: DataFrame, traced: Boolean): Map[String, Any] = {
    def span[A](name: String)(f: => A): A =
      if (traced) ctx.tracer.span(name)(f) else f
    val f = span("tools.fold")(CorpusMaintain.foldBatch(standing(ctx),
      ctx.spark.read.parquet(ctx.str("fold_labels")), b, "text", "doc_id",
      expectedItems = ctx.int("fold_expected_items")))
    val admitted = span("tools.admitted")(
      f.admitted.select("doc_id").collect().map(_.getLong(0)).toSeq)
    val labels = span("tools.labels")(
      f.labels.select("id", "cluster_id").collect()
        .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq)
    val diff = span("tools.diff")(
      f.diff.select("doc_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq)
    Map("admitted" -> admitted, "labels" -> labels,
      "added" -> diff.collect { case (id, "added") => id },
      "status_counts" -> diff.groupBy(_._2).map { case (k, v) => k -> v.size })
  }

  /** Folds of fixed warm-up batches. */
  def setup(ctx: Ctx): Unit =
    ctx.plan("fold_warm_batches").asInstanceOf[Seq[Any]].foreach { rows =>
      fold(ctx, batch(ctx, rows), traced = false)
      ctx.cleanup(measure = false)
    }

  def run(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val outs = Paths.get(ctx.outDir, "fold")
    Files.createDirectories(outs)
    ctx.plan("fold_batches").asInstanceOf[Seq[Any]].zipWithIndex.foreach {
      case (rows, i) =>
        val b = batch(ctx, rows)
        var out: Map[String, Any] = null
        ctx.timed(i, s"fold$i") {
          out = fold(ctx, b, traced = true)
          Map("admitted" -> out("admitted").asInstanceOf[Seq[Long]].size)
        }
        if (out != null) Files.writeString(outs.resolve(s"$i.json"), Json.write(out))
    }
    if (tr.enabled) {
      def jobs(name: String) = tr.total(tr.named(name))(_.jobs).toDouble
      ctx.layers ++= Seq(
        "tools.fold_ms" -> Layers.median(tr.named("tools.fold").map(_.durNs / 1e6)),
        "tools.fold_jobs" -> jobs("tools.fold"),
        "tools.admitted_jobs" -> jobs("tools.admitted"),
        "tools.labels_jobs" -> jobs("tools.labels"),
        "tools.diff_jobs" -> jobs("tools.diff"))
    }
  }
}

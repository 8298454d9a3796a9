package graft

/** Benchmark main. Runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, printing one JSON line with per-query seconds.
  *
  * Methodology:
  *  - a warmup pass at sf0.001 first (JVM JIT + per-query codegen), so the
  *    timed pass measures the engine, not classloading;
  *  - results go to the `noop` sink — count() would let Catalyst prune the
  *    plan down to a row count and under-measure;
  *  - each query runs SPARK_GRAFT_REPS times (default 3); reported seconds
  *    are the MEDIAN, with per-query max-min in "spread" — single-shot
  *    timings in a shared JVM swing 2x on GC/compilation debt and cannot
  *    distinguish a regression from noise;
  *  - a fixed seeded CALIBRATION workload (30M-row hash + 1M-key groupBy,
  *    no file I/O, independent of SF) runs in the same session and its
  *    median lands in "calibration_sec" — round-over-round totals are only
  *    comparable after normalizing by it, because the sandbox the bench
  *    runs on drifts 2–8× between rounds (r6 burned a day proving an
  *    apparent 1.35× "regression" was entirely the host).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = Session.defaultCpus
    val spark = Session.builder(cpus)
      // dozens of queries run in this one JVM: keep status-listener state
      // small so late queries aren't measured against accumulated debt
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def exec(name: String, dir: String): Boolean = {
      System.err.println(s"[bench] start $name on $dir")
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        System.err.println(f"[bench] done  $name in ${(System.nanoTime() - t0) / 1e9}%.2fs")
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed on $dir: ${e.getMessage}")
          false
      } finally {
        // queries that localCheckpoint (CC loops, d11's pair list) leave
        // persisted RDD blocks behind after their action completes;
        // across 60+ queries × reps that debt skews later timings (r4:
        // d08 spread 72 s). Nothing references them once the query's
        // action is done — drop them eagerly.
        Session.release(spark)
      }
    }

    // calibration: fixed CPU+shuffle work whose true cost is host-invariant;
    // median of 3 after one warm rep
    def calibrationOnce(): Double = {
      System.gc()
      val t0 = System.nanoTime()
      spark.range(0L, 30000000L, 1L, cpus * 4)
        .selectExpr("xxhash64(id) AS h", "pmod(xxhash64(id, 7), 1000000) AS k")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.max("h"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // PARALLEL-THROUGHPUT calibration (r14, verdict item 1): the CPU
    // calibration above map-side-combines 30M longs down to 1M groups, so
    // almost nothing crosses its exchange — it prices scalar CPU speed,
    // not the shuffle path. On a shared 32-core host, contention hits
    // shuffle-heavy queries (serialize + spill + fetch + deserialize
    // across all cores at once) far harder than it hits that combine,
    // which is exactly the shape of the recurring "unchanged-code
    // regression clusters" (r12: 3 of 4 were measurement artifacts; r13:
    // t02/t01/t37/t36). This job forces the full volume through a
    // no-combine exchange: 8M wide rows (~40 B payload) repartitioned by
    // a key the planner cannot pre-aggregate, then grouped on the far
    // side. Reported as calibration_shuffle_sec; totals normalize by the
    // CPU scalar as before (the shuffle scalar is the DIAGNOSTIC — when
    // a query regresses but shuffle calibration regressed in the same
    // ratio, the host was contended, not the plan).
    def shuffleCalibrationOnce(): Double = {
      System.gc()
      val t0 = System.nanoTime()
      spark.range(0L, 8000000L, 1L, cpus)
        .selectExpr("id", "md5(cast(id as string)) AS s")
        .repartition(cpus,
          org.apache.spark.sql.functions.col("id"))
        .selectExpr("pmod(xxhash64(s), 64) AS k", "s")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.max("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // SPARK_GRAFT_ONLY=q01,d02 restricts the run (local iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    names.foreach(exec(_, warmDir)) // warmup, untimed

    // Priming policy (r11 driver bench: d34's reps were [79.1, 14.1, 13.7] s —
    // a first-touch cliff at the target SF that the sf0.001 warmup pass cannot
    // absorb, while steady-state sat at 14 s). When rep 1 of a query exceeds
    // primeSec AND exceeds primeRatio × rep 2, rep 1 measured shared-JVM debt
    // (cold shuffle dirs, codegen for the big-SF AQE replan, page-cache
    // first-touch), not the engine: record it in reps_sec but exclude it from
    // the median and run one replacement rep so the median still covers `reps`
    // steady-state samples.
    // r12 lowered the net: the 5 s floor left 12 mid-tier queries with
    // 1.5–1.74× first-rep ratios at 2–3 s medians (d22/d24/d26/d37/d39 …) —
    // same debt, smaller absolute cost. 2 s / 1.5× catches those while the
    // replacement-rep cost stays bounded (one extra rep per affected query).
    val primeSec = sys.env.getOrElse("SPARK_GRAFT_PRIME_SEC", "2.0").toDouble
    val primeRatio = sys.env.getOrElse("SPARK_GRAFT_PRIME_RATIO", "1.5").toDouble

    // Per-query shuffle-WRITE volume (r15, r14 verdict item 5): with two
    // calibration scalars (CPU vs shuffle path), mover triage needs to
    // know WHICH one applies to a flagged query before reaching for the
    // isolated-A/B harness. A task-metrics listener sums shuffle bytes
    // written; the per-query delta across its reps lands in
    // bench_last.json as shuffle_mb (MB per rep, averaged — approximate
    // by a listener-drain window, a diagnostic, not a benchmark).
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null)
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      })

    val results = names.map { name =>
      def rep(): Double = {
        // hygiene barrier between timed reps (r11 driver bench: t37 reps
        // grew [9.3, 15.9, 31.8] s in the 218-query shared JVM while
        // isolated runs sat flat at ~5.8 s — heap/cleaner debt, not the plan)
        Session.barrier(spark)
        val t0 = System.nanoTime()
        val ok = exec(name, sfDir)
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val sb0 = { Session.barrier(spark); shuffleBytes.get() } // barrier drains the bus
      val first = (1 to reps).map(_ => rep())
      val primed = first.size >= 2 && first.head > primeSec &&
        first.head > primeRatio * first(1) && first(1) >= 0
      val times = if (primed) first :+ rep() else first
      val timed = if (primed) times.drop(1) else times
      val good = timed.filter(_ >= 0).sorted
      val median = if (good.isEmpty) -1.0 else good(good.size / 2)
      val spread = if (good.isEmpty) -1.0 else good.last - good.head
      if (primed) System.err.println(
        f"[bench] $name: rep1 ${first.head}%.1fs treated as priming (steady ${median}%.1fs)")
      Session.barrier(spark)
      val shuffleMb = (shuffleBytes.get() - sb0).toDouble /
        math.max(times.size, 1) / 1048576.0
      (name, median, spread, times, shuffleMb)
    }
    calibrationOnce() // warm (codegen for the calibration plan itself)
    val calib = Seq(calibrationOnce(), calibrationOnce(), calibrationOnce())
      .sorted.apply(1)
    System.err.println(f"[bench] calibration_sec = $calib%.3f")
    shuffleCalibrationOnce() // warm
    val calibShuffle = Seq(shuffleCalibrationOnce(), shuffleCalibrationOnce(),
      shuffleCalibrationOnce()).sorted.apply(1)
    System.err.println(f"[bench] calibration_shuffle_sec = $calibShuffle%.3f")
    // JOB-LATENCY calibration (r12): the r11 graph-tier driver-host mystery
    // (d29 2.8 s builder / 7.0 s driver on IDENTICAL code, same-session A/B
    // proved r10==r11 parity) cannot be explained by the CPU calibration,
    // which was equal on both hosts — but the graph tier is iterative
    // (30-60 tiny jobs per query), so per-JOB scheduler latency multiplies
    // into exactly those queries while the one-big-job CPU calibration never
    // sees it. Measure it directly: median wall of 50 trivial one-partition
    // jobs, reported per job in ms.
    val jobLat = {
      (1 to 5).foreach(_ => spark.range(1, 2, 1, 1).count()) // warm
      val runs = (1 to 50).map { _ =>
        val t0 = System.nanoTime()
        spark.range(1, 2, 1, 1).count()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      runs(runs.size / 2)
    }
    System.err.println(f"[bench] calibration_job_ms = $jobLat%.2f")

    def js(kvs: Seq[(String, Double)]) = kvs
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // every rep, in run order (r8): a median hides a one-off pathology —
    // r7's p12 showed spread 107 s against a 9 s median on the driver host
    // and the artifact couldn't say WHICH rep (first = compile/debt,
    // middle = external interference). reps_sec makes outliers attributable.
    def jsArr(kvs: Seq[(String, Seq[Double])]) = kvs
      .map { case (k, vs) =>
        "\"" + k + "\":[" + vs.map(v => f"$v%.3f").mkString(",") + "]"
      }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // normalized total (r7 ask): REF_CAL is the calibration median measured
    // on the reference host when the r7 artifact was locked in — dividing
    // by the current host's calibration expresses this run's total in
    // reference-host seconds, so round-over-round totals compare directly
    val RefCal = 2.053
    val totalNorm = if (calib > 0) total * RefCal / calib else -1.0
    // RefShuffleCal: shuffle-calibration median locked in on the r14
    // builder host (2.136 s, measured in a window whose CPU calibration
    // read 2.238 vs RefCal 2.053 — i.e. ~9% slow on scalar CPU) —
    // calibration_shuffle_sec/RefShuffleCal vs calib/RefCal tells a
    // reader whether a slow window hit scalar CPU or the shuffle path.
    val RefShuffleCal = 2.136
    val line = s"""{"metric":"total","value":$total,"unit":"sec","value_normalized":${
      f"$totalNorm%.3f"},"queries":${
      js(results.map(r => r._1 -> r._2))},"spread":${
      js(results.map(r => r._1 -> r._3))},"shuffle_mb":${
      js(results.map(r => r._1 -> r._5))},"reps_sec":${
      jsArr(results.map(r => r._1 -> r._4))},"reps":$reps,"calibration_sec":${
      f"$calib%.3f"},"calibration_shuffle_sec":${
      f"$calibShuffle%.3f"},"calibration_job_ms":${
      f"$jobLat%.2f"},"ref_calibration_sec":$RefCal,"ref_calibration_shuffle_sec":$RefShuffleCal,"sf":"$sfDir"}"""
    // stdout contract with the driver. r10 AND r11 both lost part of the
    // stdout capture (r10 the tail, r11 the head — `parsed: null` each time);
    // r12 shrank the line but still embedded the full per-query map (~5 KB)
    // and the driver's tail window cut its head again. The stdout line is now
    // TOTALS-ONLY (~200 bytes — survives any capture window) and printed
    // twice: once before spark.stop() emits its shutdown chatter, and once as
    // the absolute last line. Per-query medians/spreads/reps live ONLY in the
    // bench_last.json artifact written below.
    // persist the FULL line (per-rep arrays included) as a machine-readable
    // artifact (r6): stdout capture has truncated mid-dict before, and
    // round-over-round comparison should never depend on it.
    // SPARK_GRAFT_BENCH_OUT overrides; empty disables.
    // filtered (SPARK_GRAFT_ONLY) iteration runs land in their own file:
    // a one-query A/B must never clobber the full-suite artifact the
    // round notes cite (r12b: a t60 probe overwrote the closing run)
    val defaultOut =
      if (only.isDefined) "bench_only.json" else "bench_last.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    val nGood = results.count(_._2 >= 0)
    // "normalization" labels what value_normalized divides by (r15 verdict
    // finding #4): the CPU calibration scalar ONLY — shuffle/job-latency
    // scalars are published as diagnostics, not folded in, because the
    // per-change protocol uses adjacent-window A/Bs, not this field.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","value_normalized":${
      f"$totalNorm%.3f"},"normalization":"cpu_calibration_only","n":$nGood,"n_queries":${results.size},"reps":$reps,"calibration_sec":${
      f"$calib%.3f"},"calibration_shuffle_sec":${
      f"$calibShuffle%.3f"},"calibration_job_ms":${
      f"$jobLat%.2f"},"ref_calibration_sec":$RefCal,"ref_calibration_shuffle_sec":$RefShuffleCal,"sf":"$sfDir","detail":"$outPath"}"""
    // Per-query medians on their OWN marker line (r15 verdict item 2 asked
    // for a "queries" map in the BENCH_JSON line so the driver's PERF
    // per_query/scaling tables populate; the capture evidence forbids the
    // literal form: BENCH_r10–r15 all store a 2000-char stdout tail and the
    // parse comes from it — r13's queries-bearing line put the "BENCH_JSON: "
    // marker ~10 KB before EOF and came back parsed:null, r14/r15's ~560 B
    // totals-only line parses. A 259-entry map is ~6 KB, so embedding it
    // would lose even the totals. Instead: a separate, earlier marker line
    // carries the full map for any consumer that reads more than the tail
    // window, and the parseable totals line stays last and small.)
    println(s"BENCH_QUERIES_JSON: ${js(results.map(r => r._1 -> r._2))}")
    println(s"BENCH_JSON: $compact")
    System.out.flush()
    if (outPath.nonEmpty) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
        line + "\n")
      System.err.println(s"[bench] wrote $outPath")
    }
    spark.stop()
    println(s"BENCH_JSON: $compact")
    println(compact)
    System.out.flush()
  }
}

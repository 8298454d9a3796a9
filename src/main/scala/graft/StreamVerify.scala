package graft

import graft.streaming.EventPipeline

/** Demo/verification main: drives the streaming pipeline end-to-end over
  * the events parquet (file stream -> watermarked hourly window agg ->
  * memory sink) and prints a one-line summary.
  * Usage: runMain graft.StreamVerify [sfDir]
  */
object StreamVerify {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local()
    val q = EventPipeline.hourlyCounts(EventPipeline.readEventStream(spark, dir))
      .writeStream.format("memory").queryName("drive")
      .outputMode("update").start()
    q.processAllAvailable()
    val rows = spark.table("drive").orderBy("hour_epoch", "event_type")
    val n = rows.count()
    val sample = rows.limit(3).collect().mkString(" | ")
    println(s"STREAM_DRIVE rows=$n sample=$sample")
    q.stop()

    // watermark-flushed sessionization over the same stream
    import spark.implicits._
    val events = EventPipeline.readEventStream(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .as[EventPipeline.Event]
    val q2 = EventPipeline.sessionize(events, gapSeconds = 1800L,
        flushOnWatermark = true)
      .writeStream.format("memory").queryName("drive_sessions")
      .outputMode("append").start()
    q2.processAllAvailable()
    val nSess = spark.table("drive_sessions").count()
    println(s"STREAM_SESSIONS rows=$nSess")
    q2.stop()

    // stream-stream interval join: purchases attributed to prior views
    val stream = EventPipeline.readEventStream(spark, dir)
    val q3 = EventPipeline.attributionJoin(
        stream.filter($"event_type" === "view"),
        stream.filter($"event_type" === "purchase"),
        horizon = "1 hour", lateness = "1 hour")
      .writeStream.format("memory").queryName("drive_attrib")
      .outputMode("append").start()
    q3.processAllAvailable()
    println(s"STREAM_ATTRIB rows=${spark.table("drive_attrib").count()}")
    q3.stop()

    // chained stateful aggregations: 7-day rolling active users
    val q4 = EventPipeline.rollingActiveStream(
        EventPipeline.readEventStream(spark, dir), windowDays = 7,
        lateness = "1 hour")
      .writeStream.format("memory").queryName("drive_active")
      .outputMode("append").start()
    q4.processAllAvailable()
    println(s"STREAM_ACTIVE rows=${spark.table("drive_active").count()}")
    q4.stop()

    // per-user transition pairs (one state triple per user), rolled up
    // to the e18 matrix in one foreachBatch-style aggregation
    val evs = EventPipeline.readEventStream(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventPipeline.Event]
    val q5 = EventPipeline.transitionStream(evs)
      .writeStream.format("memory").queryName("drive_trans")
      .outputMode("append").start()
    q5.processAllAvailable()
    val nTrans = spark.table("drive_trans")
      .groupBy("prev_type", "next_type").count().count()
    println(s"STREAM_TRANSITIONS cells=$nTrans")
    q5.stop()

    // stream→standing-corpus composition (r9): curateStream admission
    // feeds CorpusMaintain.foldBatch end-to-end — admit → fold →
    // relabel → score against the folded standing tables. Standing =
    // even doc_ids; the stream carries ALL docs, so every even id is a
    // corpus dup the FOLD rejects (the stream's own dedup state has
    // never seen them — the two dedup scopes compose).
    import org.apache.spark.sql.functions.{col, count, explode, expr, lit}
    val standing = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 0).select("doc_id", "text")
    val labels0 = graft.ops.Clusters.connectedComponents(
      graft.ops.Dedup.nGramJaccard(standing, "text", "doc_id", 1, 2),
      "id_a", "id_b")
    val counts0 = standing
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val docsSchema = "doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"
    val docStream = spark.readStream.schema(docsSchema)
      .parquet(s"$dir/documents.parque*")
      .select(col("doc_id"),
        expr("timestamp_micros(86400000000 + doc_id)").as("ts"),
        col("text"))
    val q6 = graft.streaming.CorpusStream.curateStream(
        docStream, "doc_id", "text", "ts", counts0,
        langs = Seq("en", "de", "fr", "es", "zh"), minQuality = 0.0)
      .writeStream.format("memory").queryName("drive_curate")
      .outputMode("append").start()
    q6.processAllAvailable()
    val fold = graft.tools.CorpusMaintain.foldBatch(
      standing, labels0,
      spark.table("drive_curate").select("doc_id", "text"),
      "text", "doc_id", expectedItems = 100000L)
    val foldedCounts = graft.tools.CorpusMaintain.foldTokenCounts(
      counts0, fold.admitted, "text")
    val scored = graft.ops.Corpus.surprisalWithCounts(
      fold.corpus, "doc_id", "text", foldedCounts).count()
    println(s"STREAM_CURATE_FOLD admitted=${fold.admitted.count()} " +
      s"corpus=${fold.corpus.count()} scored=$scored")
    q6.stop()
    spark.stop()
  }
}

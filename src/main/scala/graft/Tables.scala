package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Catalog: maps logical table names to parquet files under a scale-factor
  * directory. Plays the role of the reference's `.det`/`.tbl` catalog
  * (reference: src/qp/utils/Schema.java, src/qp/operators/Scan.java:30) —
  * but schema comes from parquet footers and scans are columnar with
  * predicate pushdown instead of full-tuple deserialization.
  *
  * Every catalog read goes through one memoized path (`read`), which
  * passes the table's schema to `spark.read.schema(..)` and so starts no
  * job. The first read of a table converts the footer Spark's inference
  * would convert, on the driver and with Spark's own converter, instead
  * of running Spark's schema-inference job; the result is memoized. Row
  * counts and uncompressed bytes come from one pass over the footers,
  * memoized the same way. The memo key is everything
  * inference depends on: the path, the file listing (each file's name,
  * length and modification time) and the values of the SQL confs that
  * shape parquet schema conversion (`SchemaConfs`). A table rewritten
  * at the same path changes its listing, so the next read misses the memo
  * and re-reads the metadata; no invalidation call is needed.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") events(spark, dir)
    else read(spark, s"$dir/$name.parquet")
  }

  /** The events table's `ts` encoding has varied across testdata
    * generations: NANOS-precision parquet timestamps (which Spark's
    * TimestampType (µs) cannot hold — surfaced as longs under
    * `nanosAsLong` and truncated to µs here) or µs TIMESTAMP_NTZ.
    * Branch on the footer schema so both read to the same µs-granular
    * TimestampType; sessions run in UTC, so the NTZ cast is a pure
    * reinterpretation with no wall-clock shift.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // nanos column surfaced as long
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Like [[load]], but spread across the session's shuffle parallelism.
    * The small test tables are single parquet files (one scan partition);
    * per-row-expensive expressions over them would otherwise run on one
    * core. At cluster scale with many input files this is a no-op choice —
    * prefer plain [[load]] when the source is already well-partitioned.
    */
  def loadParallel(spark: SparkSession, dir: String, name: String): DataFrame =
    spreadIfNarrow(load(spark, dir, name))

  /** Repartition `df` to the session's shuffle parallelism ONLY when its
    * scan would produce fewer partitions than that — the guard every
    * per-row-expensive operator preamble uses. A single-file local table
    * (one scan partition) gets spread so fused signature/vector work isn't
    * serialized onto one core; a 100 TB table (thousands of scan
    * partitions) passes through untouched, because an unconditional
    * `repartition()` there would exchange the full text/vector payload
    * before work the fused-expression design exists to keep in the scan
    * stage. Partition count comes from the physical plan without running
    * it (the inputs here are scans/projections — no query stages execute).
    */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** All tables as a map — handy for the SPJ compiler's catalog. */
  def catalog(spark: SparkSession, dir: String): Map[String, DataFrame] =
    names.map(n => n -> load(spark, dir, n)).toMap

  /** Row-count statistics from parquet footers (no data scan). The analog
    * of the reference's `.stat` files (src/qp/optimizer/PlanCost.java) used
    * for join ordering. Cheap: reads only file metadata.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    footers(spark, s"$dir/$name.parquet").rows

  /** UNCOMPRESSED byte size from parquet footers (sum of row-group
    * `totalByteSize` — what the data costs once decoded, which is what a
    * broadcast costs in executor memory; on-disk compressed size can be
    * 10x smaller on repetitive columns and would under-gate). Row counts
    * alone mis-size relations with wide rows: 500k rows of 2 ints
    * broadcast fine, 500k rows of 4 KB strings are 2 GB.
    */
  def uncompressedBytes(spark: SparkSession, dir: String, name: String): Long =
    footers(spark, s"$dir/$name.parquet").bytes

  /** Distinct-value counts for the named columns — the second line of the
    * reference's `.stat` files (src/qp/optimizer/PlanCost.java reads
    * "number of distinct values per attribute" to price each join). One
    * approx_count_distinct rollup per table, memoized per
    * (dir, table, column set superset) so repeated compiles in a session
    * (SpjMain, the golden specs) pay once. HLL++ at default precision is
    * within ~2% — selectivity estimation only needs the magnitude.
    */
  def columnNdv(
      spark: SparkSession, dir: String, name: String,
      cols: Seq[String]): Map[String, Long] = {
    val key = (dir, name.toLowerCase)
    // ANALYZE artifact first (the reference's persisted `.stat` file made
    // real): a dir that `TableTools.analyze` has profiled carries every
    // column's NDV in one parquet — a repeated compile (new session, CLI
    // invocation, golden spec) then plans with ZERO stat jobs. Loaded
    // once per dir and folded into the same in-session cache; the
    // staleness contract below applies to the artifact too (re-run
    // analyze after rewriting tables).
    if (!ndvCache.contains(key)) statsFile(spark, dir).get(name.toLowerCase)
      .foreach { fromFile =>
        ndvCache.updateWith(key) {
          case Some(prev) => Some(fromFile ++ prev)
          case None       => Some(fromFile)
        }
      }
    val cached = ndvCache.get(key)
    val missing = cols.map(_.toLowerCase).distinct
      .filterNot(c => cached.exists(_.contains(c)))
    if (missing.isEmpty) cached.getOrElse(Map.empty)
    else {
      import org.apache.spark.sql.functions.approx_count_distinct
      val df = load(spark, dir, name)
      val present = missing.filter(c =>
        df.columns.exists(_.equalsIgnoreCase(c)))
      val fresh: Map[String, Long] =
        if (present.isEmpty) Map.empty
        else {
          val row = df.agg(
            approx_count_distinct(present.head).as(present.head),
            present.tail.map(c => approx_count_distinct(c).as(c)): _*
          ).head()
          present.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
        }
      // Atomic merge: a plain get-then-put loses columns when two compiles
      // race on the same (dir, table) — each would merge into its own stale
      // snapshot and the second put drops the first's columns. updateWith
      // retries on contention so both column sets land.
      // Staleness contract: entries never invalidate within a session — a
      // table REWRITTEN under the same dir feeds the join-order DP stale
      // NDVs (plan choice only, never correctness). Callers that rewrite
      // tables in-session should use a fresh dir (the tools all do).
      ndvCache.updateWith(key) {
        case Some(prev) => Some(prev ++ fresh)
        case None       => Some(fresh)
      }
      ndvCache.getOrElse(key, fresh) ++ fresh
    }
  }
  private val ndvCache =
    new scala.collection.concurrent.TrieMap[(String, String), Map[String, Long]]

  /** The per-dir ANALYZE artifact (`_graft_stats.parquet`, written by
    * `TableTools.analyze`): table → column → ndv. Read at most once per
    * dir per session; absent file memoizes as empty.
    */
  private def statsFile(
      spark: SparkSession, dir: String): Map[String, Map[String, Long]] =
    statsFileCache.getOrElseUpdate(dir, {
      val path = new Path(s"$dir/$StatsFileName")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Map.empty
      else read(spark, path.toString)
        .select("table", "column", "ndv").collect()
        .groupBy(_.getString(0).toLowerCase)
        .map { case (t, rows) =>
          t -> rows.map(r => r.getString(1).toLowerCase -> r.getLong(2))
            .toMap
        }
    })
  private val statsFileCache =
    new scala.collection.concurrent.TrieMap[String, Map[String, Map[String, Long]]]
  val StatsFileName = "_graft_stats.parquet"

  /** Per-column range statistics from the ANALYZE artifact: value domain
    * [min, max] (doubles — dates as epoch days, timestamps as epoch
    * seconds) plus an equi-width histogram of non-null value counts over
    * that domain. The other half of the reference PlanCost role
    * (src/qp/optimizer/PlanCost.java): NDV prices equi-joins, min/max +
    * histogram price RANGE predicates, replacing the blanket System-R 1/3
    * with a data-derived fraction. Only ever read from the persisted
    * artifact — a dir never ANALYZEd estimates ranges at 1/3 as before
    * (plan choice only, never correctness).
    */
  final case class ColStats(
      nRows: Long, min: Double, max: Double, hist: Seq[Long])

  /** Range stats for one table from `_graft_stats.parquet`; empty when the
    * artifact is absent or predates range support. Cached per dir per
    * session; the columnNdv staleness contract applies.
    */
  def columnRanges(
      spark: SparkSession, dir: String, name: String): Map[String, ColStats] =
    rangeFileCache.getOrElseUpdate(dir, {
      val path = new Path(s"$dir/$StatsFileName")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Map.empty
      else {
        val df = read(spark, path.toString)
        if (!df.columns.contains("min_val")) Map.empty // pre-range artifact
        else df.select("table", "column", "n_rows", "min_val", "max_val", "hist")
          .collect()
          .filter(r => !r.isNullAt(3) && !r.isNullAt(4))
          .groupBy(_.getString(0).toLowerCase)
          .map { case (t, rows) =>
            t -> rows.map { r =>
              r.getString(1).toLowerCase -> ColStats(
                r.getLong(2), r.getDouble(3), r.getDouble(4),
                if (r.isNullAt(5)) Seq.empty else r.getSeq[Long](5))
            }.toMap
          }
      }
    }).getOrElse(name.toLowerCase, Map.empty)
  private val rangeFileCache = new scala.collection.concurrent.TrieMap[
    String, Map[String, Map[String, ColStats]]]

  /** Drop every per-dir stats memo for `dir`. Called by
    * `TableTools.analyze`/`importStats` right after they rewrite
    * `_graft_stats.parquet`, so a compile that already priced a query in
    * this session (memoizing "artifact absent" or stale values) sees the
    * fresh artifact on its next plan instead of silently falling back to
    * the System-R 1/3 range estimate. Also clears the (dir, table) NDV
    * memos, which fold artifact values in.
    */
  def invalidateStats(dir: String): Unit = {
    statsFileCache.remove(dir)
    rangeFileCache.remove(dir)
    ndvCache.keys.filter(_._1 == dir).foreach(ndvCache.remove)
  }

  /** SQL confs whose values change the schema Spark infers from parquet
    * footers — part of every metadata memo key.
    */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  /** Memo key of a path's metadata: its leaf files as (name, length,
    * modification time), sorted, plus the `SchemaConfs` values.
    */
  private final case class ReadKey(
      files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  /** Footer sums of one table: rows and row-group uncompressed bytes. */
  private final case class Footers(rows: Long, bytes: Long)

  private val schemaMemo =
    new scala.collection.concurrent.TrieMap[String, (ReadKey, StructType)]
  private val footerMemo =
    new scala.collection.concurrent.TrieMap[String, (ReadKey, Footers)]

  /** The path's leaf files (empty when the path does not exist) and their
    * memo key. Listing is driver-side file-system metadata, no job.
    */
  private def listing(
      spark: SparkSession, path: String): (Seq[FileStatus], ReadKey) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (!fs.exists(p)) Seq.empty
      else {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      }
    val key = ReadKey(
      files.map(st =>
        (st.getPath.toString, st.getLen, st.getModificationTime)).sorted,
      SchemaConfs.map(spark.conf.getOption))
    (files, key)
  }

  /** The value memoized for `path` under `key`, computing it on a miss.
    * One entry per path: a changed listing replaces the old entry.
    */
  private def memoized[V](
      memo: scala.collection.concurrent.TrieMap[String, (ReadKey, V)],
      path: String, key: ReadKey)(compute: => V): V =
    memo.get(path) match {
      case Some((k, v)) if k == key => v
      case _ =>
        val v = compute
        memo.put(path, (key, v))
        v
    }

  /** The one read path for catalog tables: the schema is read from the
    * footers once per listing (`footerSchema`) and every read hands it to
    * Spark, so no read starts a schema-inference job.
    */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val (files, key) = listing(spark, path)
    val schema = memoized(schemaMemo, path, key)(
      footerSchema(spark, path, files))
    spark.read.schema(schema).parquet(path)
  }

  /** The schema Spark's parquet inference yields for `path`, without its
    * job. With schema merging off, Spark converts one footer: among the
    * path's visible leaves sorted by path, the first `_common_metadata`,
    * else the first `_metadata`, else the first data file. This converts
    * that footer on the driver with Spark's converter, configured as its
    * inference configures it. Schema merging and a path with nothing to
    * read are left to Spark's inference, which also raises its errors.
    */
  private def footerSchema(
      spark: SparkSession, path: String, files: Seq[FileStatus]): StructType = {
    import org.apache.parquet.hadoop.Footer
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    val root = new Path(path)
    val depth = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(root).depth
    // Spark's listing skips names starting with `_` or `.` (except the
    // parquet summary files and `k=v` partition directories) at every
    // level below the root, and files still being copied
    def hidden(name: String): Boolean =
      ((name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")) &&
        !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
    val leaves = files.filter { st =>
      Iterator.iterate(st.getPath)(_.getParent)
        .take(st.getPath.depth - depth).forall(p => !hidden(p.getName))
    }.sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val touch = named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.find(st =>
        !Set("_common_metadata", "_metadata")(st.getPath.getName)))
    touch match {
      case Some(st) if !conf.isParquetSchemaMergingEnabled =>
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            conf.parquetReaderRespectUnknownTypeAnnotation)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, footer(spark, st)), converter)
      case _ => spark.read.parquet(path).schema
    }
  }

  /** One file's parquet footer, read as Spark's readers read it. */
  private def footer(spark: SparkSession, st: FileStatus) = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.NO_FILTER)
  }

  /** Row count and uncompressed bytes of `path` in one pass over its
    * `.parquet` footers (no data scan), memoized like the schema.
    */
  private def footers(spark: SparkSession, path: String): Footers = {
    import scala.jdk.CollectionConverters._
    val (files, key) = listing(spark, path)
    memoized(footerMemo, path, key) {
      val parquet = files.filter(_.getPath.getName.endsWith(".parquet"))
      require(parquet.nonEmpty, s"no parquet files at $path")
      val sums = parquet.map { st =>
        val blocks = footer(spark, st).getBlocks.asScala
        (blocks.map(_.getRowCount).sum, blocks.map(_.getTotalByteSize).sum)
      }
      Footers(sums.map(_._1).sum, sums.map(_._2).sum)
    }
  }
}

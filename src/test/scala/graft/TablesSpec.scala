package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The catalog's metadata memo must hand back exactly the schema Spark
  * infers from the footers, under the same confs.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("a memo-hit read has the schema Spark infers, for every table") {
    // first touch fills the memo (and sets the events read conf)
    Tables.names.foreach(n => Tables.load(spark, dir, n))
    Tables.names.foreach { n =>
      val path = s"$dir/$n.parquet"
      assert(Tables.read(spark, path).schema ==
        spark.read.parquet(path).schema, n)
    }
  }

  test("partitioned layout with hidden entries: the schema Spark infers") {
    val tmp = Files.createTempDirectory("graft_layout").toString
    val path = s"$tmp/t.parquet"
    spark.range(40).selectExpr("id AS k", "cast(id AS string) AS s",
        "id % 3 AS part").write.partitionBy("part").parquet(path)
    // entries Spark's listing skips: a hidden directory holding a parquet
    // file of another schema, and a stray hidden file
    spark.range(3).selectExpr("id AS other")
      .write.parquet(s"$path/_temporary/0")
    Files.write(java.nio.file.Paths.get(s"$path/.stray"), Array[Byte](1))
    val expected = spark.read.parquet(path).schema
    assert(expected.fieldNames.toSeq == Seq("k", "s", "part"))
    assert(Tables.read(spark, path).schema == expected)
    assert(Tables.read(spark, path).count() == 40)
  }

  test("nanosecond events ts: memoized as a long, loaded as a µs timestamp") {
    val tmp = Files.createTempDirectory("graft_nanos").toString
    val path = s"$tmp/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$path/part-0.parquet"))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000999L)
      .foreach { case (id, ns) =>
        w.write(groups.newGroup().append("event_id", id).append("ts", ns))
      }
    finally w.close()

    Tables.load(spark, tmp, "events")
    val hit = Tables.load(spark, tmp, "events")
    assert(spark.read.parquet(path).schema("ts").dataType == LongType)
    assert(Tables.read(spark, path).schema == spark.read.parquet(path).schema)
    assert(hit.schema("ts").dataType == TimestampType)
    assert(hit.orderBy("event_id").selectExpr("unix_micros(ts)").as[Long]
      .collect().toSeq == Seq(1700000000123456L, 1700000001000000L))
    assert(Tables.rowCount(spark, tmp, "events") == 2L)
  }
}

package graft.cdc

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import graft.{Audit, SparkSpec}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[ChangeFeed.table]]'s schema memo: a hit submits no Spark job and
  * reads the schema a fresh inference gives; rewriting the table or
  * changing a read conf misses; the memo stays within its bound. */
class ChangeFeedSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The read `ChangeFeed.table` made before the memo: inference on every
    * call, one `withColumn` per rewritten field. */
  private def reference(dir: String, name: String): DataFrame = {
    spark.conf.set(NanosAsLong, "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.name == "ts" && f.dataType == LongType =>
        acc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case (acc, f) if f.dataType == TimestampNTZType =>
        acc.withColumn(f.name, col(f.name).cast(TimestampType))
      case (acc, _) => acc
    }
  }

  private def jobs[A](body: => A): Int = Audit.jobsDuring(spark)(body)._2

  private def newDir(): String = Files.createTempDirectory("changefeed").toString

  /** A one-file table in the r8 test-data encoding: `ts` is
    * TIMESTAMP(NANOS), `seen` a naive µs timestamp (TIMESTAMP_NTZ). */
  private def writeNanosTable(dir: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 seen (TIMESTAMP(MICROS,false));
        |  optional binary kind (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach { i =>
      w.write(g.newGroup().append("event_id", i)
        .append("ts", 1700000000123456789L + i).append("seen", 1700000000000000L + i)
        .append("kind", s"k$i"))
    } finally w.close()
  }

  private def writeTable(dir: String, name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  test("the memoised schema equals a fresh inference after the ts and NTZ rewrites") {
    val dir = newDir()
    writeNanosTable(dir)
    ChangeFeed.table(spark, dir, "events")
    val memoised = ChangeFeed.table(spark, dir, "events")
    assert(memoised.schema == reference(dir, "events").schema)
    assert(memoised.schema.map(f => f.name -> f.dataType) == Seq("event_id" -> LongType,
      "ts" -> TimestampType, "seen" -> TimestampType, "kind" -> StringType))
    assert(memoised.collect().toSeq == reference(dir, "events").collect().toSeq)
    assert(memoised.selectExpr("unix_micros(ts)", "unix_micros(seen)").collect().toSeq ==
      (1L to 3L).map(i => Row(1700000000123456L, 1700000000000000L + i)))
    val tables = new java.io.File(Audit.SfDir).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).toSeq
    assert(tables.contains("events"))
    tables.foreach { t =>
      ChangeFeed.table(spark, Audit.SfDir, t)
      assert(ChangeFeed.table(spark, Audit.SfDir, t).schema ==
        reference(Audit.SfDir, t).schema, t)
    }
  }

  test("a memo hit submits no Spark job; a miss infers with one") {
    val dir = newDir()
    writeTable(dir, "t", spark.range(10).selectExpr("id", "current_timestamp() AS at"))
    assert(jobs(ChangeFeed.table(spark, dir, "t")) > 0)
    assert(jobs(ChangeFeed.table(spark, dir, "t")) == 0)
  }

  test("rewriting the table invalidates its entry, same schema or a new one") {
    val dir = newDir()
    writeTable(dir, "t", spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s"))
    assert(ChangeFeed.table(spark, dir, "t").count() == 5)
    writeTable(dir, "t", spark.range(7).selectExpr("id", "CAST(id AS STRING) AS s"))
    val (same, sameJobs) = Audit.jobsDuring(spark)(ChangeFeed.table(spark, dir, "t"))
    assert(sameJobs > 0 && same.count() == 7)
    writeTable(dir, "t", spark.range(3).selectExpr("id * 2.5 AS x", "id % 2 = 0 AS b"))
    val changed = ChangeFeed.table(spark, dir, "t")
    assert(changed.schema == reference(dir, "t").schema)
    assert(changed.columns.toSeq == Seq("x", "b") && changed.count() == 3)
  }

  test("flipping nanosAsLong gives a different entry") {
    val dir = newDir()
    writeTable(dir, "t", spark.range(3).toDF("id"))
    val path = s"$dir/t.parquet"
    val before = spark.conf.getOption(NanosAsLong)
    try {
      spark.conf.set(NanosAsLong, "true")
      ChangeFeed.schemaOf(spark, path)
      spark.conf.set(NanosAsLong, "false")
      assert(jobs(ChangeFeed.schemaOf(spark, path)) > 0)
      assert(jobs(ChangeFeed.schemaOf(spark, path)) == 0)
      spark.conf.set(NanosAsLong, "true")
      assert(jobs(ChangeFeed.schemaOf(spark, path)) == 0)
    } finally before.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("the memo holds at most MemoBound entries, least recently used evicted") {
    val dir = newDir()
    writeTable(dir, "t", spark.range(3).toDF("id").coalesce(1))
    val path = s"$dir/t.parquet"
    val part = Files.list(Paths.get(path)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    def touch(i: Int): Unit =
      Files.setLastModifiedTime(Paths.get(part), FileTime.fromMillis(1600000000000L + i * 1000L))
    (0 to ChangeFeed.MemoBound).foreach { i =>
      touch(i)
      assert(jobs(ChangeFeed.schemaOf(spark, path)) > 0, s"stamp $i")
      assert(ChangeFeed.memoSize <= ChangeFeed.MemoBound)
    }
    assert(ChangeFeed.memoSize == ChangeFeed.MemoBound)
    touch(ChangeFeed.MemoBound)
    assert(jobs(ChangeFeed.schemaOf(spark, path)) == 0)
    touch(0)
    assert(jobs(ChangeFeed.schemaOf(spark, path)) > 0, "the oldest stamp was evicted")
  }
}

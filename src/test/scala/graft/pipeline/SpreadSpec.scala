package graft.pipeline

import java.nio.file.Files

import graft.{Audit, SparkSpec}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Spread]]'s partition probe equals `df.rdd.getNumPartitions`, and on
  * file scans it compiles no class and runs no job. */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private val MaxPartitionBytes = "spark.sql.files.maxPartitionBytes"

  private lazy val dir = {
    val d = Files.createTempDirectory("spread").toString
    Seq("a", "b").foreach { t =>
      spark.range(0, 50000).selectExpr("id", "CAST(id * 7 AS STRING) AS s")
        .coalesce(1).write.parquet(s"$d/$t")
    }
    d
  }

  private def scan(t: String): DataFrame = spark.read.parquet(s"$dir/$t")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** (partitions, classes compiled, jobs run) of one probe. */
  private def probe(df: DataFrame): (Int, Long, Int) = {
    val c0 = compiles
    val (n, jobs) = Audit.jobsDuring(spark)(Spread.partitions(df))
    (n, compiles - c0, jobs)
  }

  /** A file-scan frame no earlier probe has planned: the literal makes
    * its generated class new to the codegen cache. */
  private def fresh(df: DataFrame): DataFrame =
    df.withColumn("k", col("id") + lit(System.nanoTime()))

  private def fileScans: Seq[(String, () => DataFrame)] = Seq(
    "single-file scan" -> (() => fresh(scan("a"))),
    "projected, filtered scan" -> (() =>
      fresh(scan("a").select(col("id"), length(col("s")).as("n")).where(col("id") > 10))),
    "union of scans" -> (() => fresh(scan("a")).union(fresh(scan("b")))))

  private def withSplits[A](body: => A): A = {
    val before = spark.conf.getOption(MaxPartitionBytes)
    spark.conf.set(MaxPartitionBytes, "64k")
    try body
    finally before.fold(spark.conf.unset(MaxPartitionBytes))(spark.conf.set(MaxPartitionBytes, _))
  }

  test("on file scans the probe equals df.rdd and compiles no class and runs no job") {
    def check(what: String, df: DataFrame): Int = {
      val (n, compiled, jobs) = probe(df)
      assert(compiled == 0 && jobs == 0, s"$what: $compiled classes, $jobs jobs")
      assert(n == df.rdd.getNumPartitions, what)
      n
    }
    val single = fileScans.map { case (what, df) => check(what, df()) }
    assert(single == Seq(1, 1, 2))
    val split = withSplits(fileScans.map { case (what, df) => check(s"$what, split", df()) })
    assert(split.head > 1 && split(2) > split.head, split)
  }

  test("the df.rdd path the probe replaced compiles on the driver") {
    val df = fresh(scan("a"))
    val c0 = compiles
    df.rdd.getNumPartitions
    assert(compiles > c0)
  }

  test("any other plan keeps the df.rdd path") {
    val local = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "s")
    val shuffled = scan("a").repartition(3, col("id"))
    Seq(local, spark.range(0, 100, 1, 5).toDF("id"), shuffled, local.union(scan("a")))
      .foreach(df => assert(Spread.partitions(df) == df.rdd.getNumPartitions))
    assert(Spread.partitions(shuffled) == 3)
  }

  test("a spread fires only below the shuffle parallelism") {
    val target = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(Spread(scan("a"), col("id")).rdd.getNumPartitions == target)
    val wide = scan("a").repartition(target + 1)
    assert(Spread(wide, col("id")) eq wide)
  }

  test("a streaming frame is refused") {
    val stream = spark.readStream.format("rate").load()
    intercept[IllegalArgumentException](Spread(stream, col("value")))
  }
}

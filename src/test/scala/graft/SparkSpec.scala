package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). Its streams
  * write their checkpoints through the engine's manager
  * ([[graft.cdc.LocalCheckpointFiles.install]]), whichever suite starts
  * the first stream. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.cdc.LocalCheckpointFiles.install(s)
    s
  }

  /** Poll a memory sink until it holds `n` rows. Streaming tests with a
    * ProcessingTimeTimeout reap sequence on this instead of
    * `processAllAvailable`: the timeout keeps the engine scheduling
    * (empty) micro-batches — which is what fires reaps without traffic —
    * so "no new data" never latches and processAllAvailable hangs. */
  def awaitRows(table: String, n: Long, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (spark.table(table).count() < n &&
      System.currentTimeMillis < deadline) Thread.sleep(50L)
    assert(spark.table(table).count() >= n, s"$table never reached $n rows")
  }
}

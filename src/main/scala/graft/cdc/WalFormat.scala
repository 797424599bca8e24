package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.StructType

/** One WAL wire format's decode step — the only part of the WAL pipeline
  * ([[CdcStream.processWalBatch]]) that differs between binary pgoutput
  * ([[PgOutput.Format]]), wal2json v2 ([[Wal2Json.Format]]) and Debezium
  * envelopes ([[Debezium.Format]]). An instance holds its format's
  * cross-batch schema state, so a stream or poll loop passes the same
  * instance every batch; a fresh instance re-learns the schemas in-stream.
  */
trait WalFormat {

  /** Harvest `batch`'s schemas into this format's cross-batch state and
    * decode the batch. Reads `batch` more than once: the caller persists
    * it. */
  def decode(batch: DataFrame): WalFormat.Decoded
}

object WalFormat {

  /** A decoded micro-batch: every protocol message in the shared
    * [[PgOutput.WalChange]] shape, the raw message count, and
    * (schema, table) → (Spark schema, primary key) for every table known
    * so far. */
  final case class Decoded(
      changes: Dataset[PgOutput.WalChange],
      nMessages: Long,
      tables: Map[(String, String), (StructType, Seq[String])])
}

package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium change-event envelope decode — the third source dialect of
  * the S1 slot scan (SURVEY §2.1 maps the reference's slot poll to
  * "files/Delta CDF/Kafka-Debezium";
  * /root/reference/lib/extensions/postgres_cdc_rls/replication_poller.ex:149-232
  * is the contract). Where wal2json rows come straight off the slot,
  * a Debezium deployment externalizes the same WAL onto a Kafka topic
  * as JSON envelopes: `{before, after, source{schema,table,ts_ms,lsn,
  * txId}, op, ts_ms}` (the payload object of the standard PostgreSQL
  * connector with `schemas.enable=false` — the common slim wire form).
  * This decoder turns those envelopes into the same
  * [[PgOutput.WalChange]] rows as the pgoutput and wal2json decoders,
  * so all three dialects share one downstream match/shape/deliver path,
  * and pairs naturally with the [[graft.sources.ReplayLog]] transport.
  *
  * Spark-first shape: envelopes are self-contained, so the decode is a
  * stateless `from_json` + projection — pure Catalyst, narrow, no
  * per-partition ordering requirement (same plan shape as
  * [[Wal2Json.decodeChanges]]).
  *
  * Mapping notes:
  *  - `op`: c→INSERT, r→INSERT (snapshot reads materialize as inserts,
  *    Debezium's own unwrap default), u→UPDATE, d→DELETE, t→TRUNCATE,
  *    m→MESSAGE (logical message: prefix/content ride in `record`,
  *    shaped like the other decoders' tag-M rows);
  *  - `commit_timestamp`: `source.ts_ms` (the commit's epoch millis)
  *    rendered to the engine's canonical UTC ISO micros;
  *  - unavailable TOAST columns arrive as Debezium's literal
  *    `__debezium_unavailable_value` placeholder — they are DROPPED
  *    from `record` (the key-absence contract
  *    [[graft.walrus.Walrus.toastMerge]] consumes, P8) and listed in
  *    `unchanged_toast`, exactly the pgoutput decoder's 'u' handling.
  */
object Debezium {

  /** Debezium's documented marker for unavailable (unchanged TOAST)
    * column values. */
  val UnavailableValue = "__debezium_unavailable_value"

  /** The slim envelope schema (payload object, `schemas.enable=false`).
    * `before`/`after` value type is STRING so any JSON value keeps its
    * literal text — numbers/bools as their rendering, nested json raw —
    * matching the wal2json decoder's text convention. */
  val Schema: StructType = StructType(Seq(
    StructField("before", MapType(StringType, StringType)),
    StructField("after", MapType(StringType, StringType)),
    StructField("source", StructType(Seq(
      StructField("schema", StringType),
      StructField("table", StringType),
      StructField("ts_ms", LongType),
      StructField("lsn", LongType),
      StructField("txId", LongType)))),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    // logical-message events (op "m")
    StructField("message", StructType(Seq(
      StructField("prefix", StringType),
      StructField("content", StringType))))))

  /** Parse one envelope JSON string column to the typed struct — fenced
    * with [[graft.plans.EvalOnce]] like [[Wal2Json.parsed]]: a consumer
    * filtering on a decoded field must not push its predicate below the
    * decode and re-parse the envelope per reference (measured 27–54×
    * on the wal2json twins; this decoder has the identical shape).
    *
    * Compose via a BOUND column (`withColumn` first, then reference it):
    * the fence is only whitelisted in Project/Filter/Window — raw use
    * inside aggregates / join conditions / grouping throws at analysis
    * time; see [[graft.plans.EvalOnce.of]]. */
  def parsed(json: Column): Column =
    graft.plans.EvalOnce.of(from_json(json, Schema))

  private def dropUnavailable(m: Column): Column =
    map_filter(m, (_, v) => v =!= UnavailableValue)

  /** Decode envelope JSON rows into the shared [[PgOutput.WalChange]]
    * shape; `orderCol` is the transport order (Kafka offset). */
  def decodeChanges(df: DataFrame, jsonCol: String, orderCol: String)
      : Dataset[PgOutput.WalChange] = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = parsed(col(jsonCol)).as("w")
    val op = col("w.op")
    df.select(col(orderCol).cast("long").as("seq"), w)
      .select(
        col("seq"),
        coalesce(col("w.source.lsn"), lit(0L)).as("lsn"),
        coalesce(col("w.source.txId"), lit(0L)).as("xid"),
        when(op === "c" || op === "r", "INSERT")
          .when(op === "u", "UPDATE")
          .when(op === "d", "DELETE")
          .when(op === "t", "TRUNCATE")
          .when(op === "m", "MESSAGE")
          .otherwise("ERROR").as("message"),
        col("w.source.schema").as("change_schema"),
        col("w.source.table").as("change_table"),
        date_format(timestamp_millis(col("w.source.ts_ms")),
          "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("commit_timestamp"),
        when(op === "m", map(
            lit("prefix"), col("w.message.prefix"),
            lit("content"), col("w.message.content"),
            lit("transactional"), lit("true")))
          .when(op === "d", lit(null).cast("map<string,string>"))
          .otherwise(dropUnavailable(col("w.after"))).as("record"),
        when(op === "u" || op === "d", dropUnavailable(col("w.before")))
          .otherwise(lit(null).cast("map<string,string>")).as("old_record"),
        coalesce(
          when(op =!= "m",
            sort_array(map_keys(
              map_filter(col("w.after"), (_, v) => v === UnavailableValue)))),
          array().cast("array<string>")).as("unchanged_toast"))
      .as[PgOutput.WalChange]
  }

  /** The Debezium-envelope [[WalFormat]]: `jsonCol` carries one envelope,
    * `orderCol` its transport order (e.g. a [[graft.sources.ReplayLog]]
    * offset). The slim envelope carries column names but no types or pk
    * metadata, so the schema "harvest" unions the observed record/old keys
    * per table into the cross-batch `tables` (all STRING — pass
    * `schemaOverrides` for typed filter matching) and primary keys come
    * from `pkByTable` (connector config in a real deployment; without an
    * entry the payload path serves its no-pk 400 contract). Harvest + row
    * count ride one aggregate job, as on the other formats. */
  final class Format(jsonCol: String, orderCol: String,
      pkByTable: Map[(String, String), Seq[String]] = Map.empty,
      schemaOverrides: Map[(String, String), StructType] = Map.empty)
      extends WalFormat {
    private val tables =
      scala.collection.mutable.Map.empty[(String, String), (StructType, Seq[String])]

    def decode(batch: DataFrame): WalFormat.Decoded = {
      val decoded = decodeChanges(batch, jsonCol, orderCol)
      val harvested = decoded
        .groupBy(col("change_schema").as("ns"), col("change_table").as("tbl"))
        .agg(count(lit(1)).as("_n"),
          array_distinct(flatten(collect_list(array_union(
            coalesce(map_keys(col("record")),
              array().cast("array<string>")),
            array_union(
              coalesce(map_keys(col("old_record")),
                array().cast("array<string>")),
              coalesce(col("unchanged_toast"),
                array().cast("array<string>"))))))).as("cols"))
        .collect()
      harvested.foreach { r =>
        val (ns, tbl) = (r.getString(0), r.getString(1))
        if (ns != null && tbl != null) {
          val st = schemaOverrides.getOrElse((ns, tbl),
            StructType(r.getSeq[String](3).sorted.map(StructField(_, StringType))))
          tables((ns, tbl)) = (st, pkByTable.getOrElse((ns, tbl), Nil))
        }
      }
      WalFormat.Decoded(decoded, harvested.map(_.getLong(2)).sum, tables.toMap)
    }
  }
}

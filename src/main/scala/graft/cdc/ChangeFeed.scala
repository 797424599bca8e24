package graft.cdc

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType,
  TimestampNTZType, TimestampType}

/** Turns a table (batch or stream) into a CDC change feed with the metadata
  * the WALRUS pipeline expects — the Spark analog of the reference's WAL poll
  * scan (S1, wal2json rows → change structs,
  * /root/reference/lib/extensions/postgres_cdc_rls/replication_poller.ex:149-232).
  *
  * Deterministic change-type derivation for the synthetic test feed: the
  * driver testdata has no real WAL, so we derive INSERT/UPDATE/DELETE from the
  * row key (stable across engines, expressible in the DuckDB oracle):
  * id % 10 ∈ [0,6) → INSERT, [6,9) → UPDATE, 9 → DELETE.
  */
object ChangeFeed {

  /** Wrap a typed table DataFrame as a change feed: adds `change_type`,
    * `change_schema`, `change_table`, `commit_timestamp`. Narrow (no shuffle).
    */
  def fromTable(
      df: DataFrame,
      idCol: String,
      tsCol: String,
      table: String,
      schemaName: String = "public"): DataFrame = {
    val m = pmod(col(idCol), lit(10))
    df.withColumn("change_type",
        when(m < 6, "INSERT").when(m < 9, "UPDATE").otherwise("DELETE"))
      .withColumn("change_schema", lit(schemaName))
      .withColumn("change_table", lit(table))
      .withColumn("commit_timestamp",
        date_format(col(tsCol), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
  }

  /** Read one of the input parquet tables, `<sfDir>/<name>.parquet`.
    *
    * The schema is inferred once and then read from a memo, so a warm
    * build submits no Spark job (inference reads the parquet footers in
    * one). A memo entry is keyed on the path, a listing stamp (each leaf
    * file's name, size and mtime) and the session's parquet read confs
    * (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
    * `spark.sql.files.*`, `spark.sql.caseSensitive`). Rewriting the table
    * changes its stamp, so the next read infers again; the stale entry is
    * never matched and ages out. The memo keeps [[MemoBound]] entries,
    * least recently used evicted.
    *
    * Side effect: sets `spark.sql.legacy.parquet.nanosAsLong=true` on the
    * session, for every later read. The synthetic `events` table may store
    * TIMESTAMP(NANOS), which Spark 4 won't read natively; its `ts` is read
    * as long nanos and truncated to microsecond timestamps (integer
    * division: doubles can't hold epoch-nanos exactly). DuckDB's µs-native
    * TIMESTAMP truncates identically, so oracles agree. Naive µs timestamps
    * (TIMESTAMP_NTZ) become session-UTC instants: every main/spec session
    * pins `spark.sql.session.timeZone=UTC`, so the cast is value-preserving
    * and DuckDB's naive read sees the same epoch, while LTZ-only functions
    * (`unix_micros` & co) keep working. Both rewrites are one projection. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    def rewrite(f: StructField): Option[Column] = f.dataType match {
      case LongType if f.name == "ts" => Some(timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => Some(col(f.name).cast(TimestampType))
      case _ => None
    }
    if (!df.schema.exists(rewrite(_).isDefined)) df
    else df.select(df.schema.map(f => rewrite(f).fold(col(f.name))(_.as(f.name))): _*)
  }

  /** Entries kept in the schema memo (least recently used evicted). */
  val MemoBound = 32

  private val ReadConfs = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.",
    "spark.sql.files.", "spark.sql.caseSensitive")

  private final case class Key(path: String, stamp: Seq[(String, Long, Long)],
      confs: Map[String, String])

  private val memo = new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      size() > MemoBound
  }

  /** Entries in the schema memo (spec surface). */
  private[cdc] def memoSize: Int = memo.synchronized(memo.size())

  /** The schema `spark.read.parquet(path)` infers under the session's
    * current read confs, inferred on first use and then reused. */
  private[cdc] def schemaOf(spark: SparkSession, path: String): StructType = {
    val key = Key(path, stamp(spark, path),
      spark.conf.getAll.filter { case (k, _) => ReadConfs.exists(k.startsWith) })
    memo.synchronized(Option(memo.get(key))).getOrElse {
      val s = spark.read.parquet(path).schema
      memo.synchronized(memo.put(key, s))
      s
    }
  }

  /** (name, size, mtime) of every leaf file under `path`, by name. A
    * `listStatus` walk, not `listFiles`: a located status carries the
    * file's permissions, which Hadoop's local filesystem reads by running
    * `ls -ld` on the file (4.5 ms to stamp a one-file table, 0.1 ms here). */
  private[graft] def stamp(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(leaves) else Seq(s)
    fs.listStatus(p).toSeq.flatMap(leaves)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
  }
}

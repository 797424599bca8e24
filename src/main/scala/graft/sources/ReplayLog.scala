package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Kafka-shaped replayable change log: the external-source adapter the
  * CDC paths plug into when the WAL arrives through a durable,
  * offset-tracked transport instead of files. The reference's poller
  * reads a replication SLOT — a durable cursor the consumer advances,
  * with everything past the cursor re-delivered after a crash
  * (/root/reference/lib/extensions/postgres_cdc_rls/replication_poller.ex:149-232);
  * the industry-standard externalization of that contract is a
  * Kafka/Debezium topic: partitioned, append-only, per-partition long
  * offsets, replayable from any retained offset.
  *
  * This object is the in-JVM test-double of the BROKER (append-only
  * per-partition logs in a static registry — executor-local in
  * `local[*]`, which is where specs run); [[ReplayLogProvider]] below is
  * the real Spark side: a DataSource V2 `MicroBatchStream` with
  * checkpointable JSON offsets and `maxOffsetsPerTrigger` admission
  * control, structurally the same contract as the built-in Kafka source.
  * In production the [[PartitionReader]] body swaps a broker client poll
  * for the registry lookup; nothing else changes — offsets, planning,
  * recovery, and admission control are transport-independent.
  */
object ReplayLog {

  /** One log record, Kafka-shaped. `offset` is per-partition, dense,
    * assigned at append. */
  final case class Record(topic: String, partition: Int, offset: Long,
      timestampMs: Long, key: String, value: Array[Byte])

  /** Kafka-shaped wire schema surfaced to Spark. */
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp_ms", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", BinaryType, nullable = true)))

  // topic -> partition -> append-only record list (synchronized on the
  // per-partition buffer: appends are rare control-plane events in specs;
  // readers copy slices, never hold the lock across IO)
  private val logs =
    new ConcurrentHashMap[String, ConcurrentHashMap[Int, util.ArrayList[Record]]]()

  private def part(topic: String, p: Int): util.ArrayList[Record] =
    logs.computeIfAbsent(topic, _ => new ConcurrentHashMap())
      .computeIfAbsent(p, _ => new util.ArrayList[Record]())

  /** Append one record; returns its assigned offset (per-partition dense,
    * like a Kafka produce ack). */
  def append(topic: String, partition: Int, key: String,
      value: Array[Byte], timestampMs: Long = 0L): Long = {
    val buf = part(topic, partition)
    buf.synchronized {
      val off = buf.size.toLong
      buf.add(Record(topic, partition, off, timestampMs, key, value))
      off
    }
  }

  /** Partitions currently present for `topic` (sorted). */
  def partitions(topic: String): Seq[Int] =
    Option(logs.get(topic)).map(_.keySet().asScala.toSeq.sorted)
      .getOrElse(Nil)

  /** Exclusive end offset per partition — next offset to be assigned. */
  def endOffsets(topic: String): Map[Int, Long] =
    partitions(topic).map { p =>
      val buf = part(topic, p); p -> buf.synchronized(buf.size.toLong)
    }.toMap

  /** Records of one partition in `[from, until)` — the replay read. */
  def read(topic: String, partition: Int, from: Long,
      until: Long): Seq[Record] = {
    val buf = part(topic, partition)
    buf.synchronized {
      val hi = math.min(until, buf.size.toLong).toInt
      val lo = math.max(from, 0L).toInt
      if (lo >= hi) Nil
      else (lo until hi).map(buf.get)
    }
  }

  /** Drop a topic (spec hygiene). */
  def delete(topic: String): Unit = { logs.remove(topic); () }

  /** Offset-cursored poll function over a topic — the external-transport
    * analog of `pg_logical_slot_get_changes(slot, null, max_changes)`
    * the reference's poller drains
    * (/root/reference/lib/extensions/postgres_cdc_rls/replication_poller.ex:149-232):
    * each call reads up to `maxRecords` past the tracked cursor (the
    * consumer-side slot position) and advances it, returning an empty
    * frame when idle — exactly the contract `CdcStream.startAdaptivePoll`
    * and `CdcStream.startAdaptivePollWal` pace on. The returned frame carries
    * `(seq, topic, partition, offset, key, value)` with `seq` a
    * poll-order monotone (partition-major within a poll) for the decode
    * order column. Driver-side and poll-cap-bounded by construction —
    * the same boundedness as the reference's single poller process. */
  def pollFn(spark: org.apache.spark.sql.SparkSession, topic: String,
      maxRecords: Int): () => org.apache.spark.sql.DataFrame = {
    val cursor = scala.collection.mutable.Map.empty[Int, Long]
    val seq = new java.util.concurrent.atomic.AtomicLong(0L)
    () => {
      val drained = Seq.newBuilder[Record]
      var remaining = maxRecords
      partitions(topic).foreach { p =>
        if (remaining > 0) {
          val from = cursor.getOrElse(p, 0L)
          val recs = read(topic, p, from, from + remaining)
          if (recs.nonEmpty) {
            drained ++= recs
            cursor(p) = recs.last.offset + 1
            remaining -= recs.size
          }
        }
      }
      import spark.implicits._
      drained.result()
        .map(r => (seq.getAndIncrement(), r.topic, r.partition, r.offset,
          r.key, r.value))
        .toDF("seq", "topic", "partition", "offset", "key", "value")
    }
  }
}

/** Checkpointable offset: exclusive end offset per partition, JSON
  * `{"0":5,"1":3}` — the same shape the Kafka source checkpoints. */
final case class ReplayLogOffset(parts: Map[Int, Long]) extends Offset {
  override def json(): String =
    parts.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }
      .mkString("{", ",", "}")
}

object ReplayLogOffset {
  def parse(json: String): ReplayLogOffset = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) ReplayLogOffset(Map.empty)
    else ReplayLogOffset(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":").map(_.trim)
      k.stripPrefix("\"").stripSuffix("\"").toInt -> v.toLong
    }.toMap)
  }
}

/** `spark.readStream.format("graft-replaylog").option("topic", t)` —
  * micro-batch (and batch) reads over [[ReplayLog]]. Options:
  *  - `topic` (required);
  *  - `root`: a directory path — read the FILE-BACKED log
  *    ([[FileReplayLog]]) rooted there instead of the in-JVM registry,
  *    which is what lets the producer be a different process; offsets,
  *    planning, admission control, and recovery are identical (the
  *    reader body is the only seam, as designed);
  *  - `maxOffsetsPerTrigger`: admission cap on total records per
  *    micro-batch, spread across partitions proportionally to their
  *    backlog (the Kafka source's contract);
  *  - `startingOffsets`: `earliest` (default) or a JSON offset map.
  */
final class ReplayLogProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-replaylog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplayLog.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ReplayLogTable(properties.asScala.toMap)
}

private[sources] final class ReplayLogTable(options: Map[String, String])
    extends Table with SupportsRead {
  private val topic = options.getOrElse("topic",
    throw new IllegalArgumentException("graft-replaylog requires .option(\"topic\", ...)"))
  override def name(): String = s"replaylog:$topic"
  override def schema(): StructType = ReplayLog.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ReplayLogScan(topic, options)
    }
}

private[sources] final class ReplayLogScan(topic: String,
    options: Map[String, String]) extends Scan {
  private val root = options.get("root")
  override def readSchema(): StructType = ReplayLog.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ReplayLogMicroBatchStream(topic, options)
  // batch read: everything currently retained (spec/oracle convenience)
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val ends = root match {
        case Some(r) => FileReplayLog.endOffsets(r, topic)
        case None => ReplayLog.endOffsets(topic)
      }
      ends.toSeq.sortBy(_._1).map { case (p, end) =>
        ReplayLogInputPartition(topic, p, 0L, end, root): InputPartition
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new ReplayLogReaderFactory
  }
}

/** One Spark task per log partition per micro-batch — the unit of
  * parallelism, exactly the Kafka source's planning. `root` = the
  * file-backed log's directory; None = the in-JVM registry. */
private[sources] final case class ReplayLogInputPartition(topic: String,
    partition: Int, from: Long, until: Long,
    root: Option[String] = None) extends InputPartition

private[sources] final class ReplayLogReaderFactory
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val ip = p.asInstanceOf[ReplayLogInputPartition]
    // transport seam: a broker client positioned at ip.from polling until
    // ip.until — the file-backed log IS that (bytes cross the process
    // boundary through the filesystem); the registry is the in-JVM double
    val it = (ip.root match {
      case Some(r) => FileReplayLog.read(r, ip.topic, ip.partition, ip.from, ip.until)
      case None => ReplayLog.read(ip.topic, ip.partition, ip.from, ip.until)
    }).iterator
    new PartitionReader[InternalRow] {
      private var cur: ReplayLog.Record = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = InternalRow.fromSeq(Seq(
        UTF8String.fromString(cur.topic), cur.partition, cur.offset,
        cur.timestampMs,
        Option(cur.key).map(UTF8String.fromString).orNull, cur.value))
      override def close(): Unit = ()
    }
  }
}

private[sources] final class ReplayLogMicroBatchStream(topic: String,
    options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl {

  private val root = options.get("root")

  private def backendPartitions(): Seq[Int] = root match {
    case Some(r) => FileReplayLog.partitions(r, topic)
    case None => ReplayLog.partitions(topic)
  }

  private def backendEndOffsets(): Map[Int, Long] = root match {
    case Some(r) => FileReplayLog.endOffsets(r, topic)
    case None => ReplayLog.endOffsets(topic)
  }

  private val maxPerTrigger: Option[Long] =
    options.get("maxoffsetspertrigger").orElse(options.get("maxOffsetsPerTrigger"))
      .map(_.toLong)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset =
    options.get("startingoffsets").orElse(options.get("startingOffsets")) match {
      case Some("earliest") | None =>
        ReplayLogOffset(backendPartitions().map(_ -> 0L).toMap)
      case Some(json) => ReplayLogOffset.parse(json)
    }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit)")

  /** End of this micro-batch: broker end offsets, capped at
    * `maxOffsetsPerTrigger` total records spread across partitions
    * proportionally to backlog (each partition admits at least one
    * record when it has backlog, so no partition starves). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startMap = start.asInstanceOf[ReplayLogOffset].parts
    val end = backendEndOffsets()
    // partitions created after the stream started enter at 0
    val merged = end.map { case (p, e) => p -> (startMap.getOrElse(p, 0L), e) }
    limit match {
      case mr: ReadMaxRows =>
        val backlog = merged.map { case (p, (s, e)) => p -> math.max(0L, e - s) }
        val total = backlog.values.sum
        val cap = mr.maxRows()
        if (total <= cap) ReplayLogOffset(merged.map { case (p, (_, e)) => p -> e })
        else {
          // proportional admission with a 1-record floor per backlogged
          // partition; remainder goes to the largest backlogs first
          val base = backlog.map { case (p, b) =>
            p -> (if (b == 0) 0L else math.max(1L, b * cap / total))
          }
          ReplayLogOffset(merged.map { case (p, (s, e)) =>
            p -> math.min(e, s + base(p))
          })
        }
      case _ => ReplayLogOffset(merged.map { case (p, (_, e)) => p -> e })
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ReplayLogOffset].parts
    val e = end.asInstanceOf[ReplayLogOffset].parts
    e.toSeq.sortBy(_._1).flatMap { case (p, until) =>
      val from = s.getOrElse(p, 0L)
      if (until > from)
        Some(ReplayLogInputPartition(topic, p, from, until, root): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReplayLogReaderFactory

  override def deserializeOffset(json: String): Offset =
    ReplayLogOffset.parse(json)

  // the broker owns retention (Kafka semantics): consumer commit does not
  // truncate the log, which is precisely what makes restart-replay work
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

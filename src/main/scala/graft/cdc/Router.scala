package graft.cdc

import graft.model.Subscription
import graft.plans.BindOnce
import graft.walrus.{MultiTableMatch, Payload, Walrus}
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression,
  GenericInternalRow, JoinedRow, NamedLambdaVariable, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** The routing of [[CdcStream.processBatch]] and
  * [[CdcStream.processWalBatch]], bound once per registry.
  *
  * A kernel runs one of two programs built from the Column builders the
  * DataFrame queries use: for one table's changes, the match battery
  * ([[Walrus.subscriptionIds]]), the payload groups ([[Payload.groups]])
  * and the frame ([[frame]]); for decoded WAL changes, the multi-table
  * battery ([[MultiTableMatch.subscriptionIds]]), the payload groups
  * ([[Payload.genericGroups]]) of the record TOAST-merged
  * ([[Walrus.toastMerge]]) and the WAL frame. Either is resolved once against
  * an empty relation with the batch's schema, their `RuntimeReplaceable`
  * nodes replaced (interpreted eval does not run the optimizer that
  * normally does it) and bound to input ordinals. A micro-batch then runs
  * as plain row passes over `queryExecution.toRdd` — no per-batch
  * analysis, optimization or code generation for a registry that has not
  * changed — which is the per-micro-batch coordination floor Drizzle
  * (SOSP 2017) names for low-latency micro-batch streaming.
  *
  * Per change on the 200-subscription `cdc` registry (37 deliveries per
  * change, one core of a 4-cpu host), a route costs 15–18 µs, against
  * 35 µs with the `filter`/`transform` id split and the record JSON built
  * per read: the payload groups 5–7 µs of it (18–19 µs before, see
  * [[Payload.groups]]), the battery, frames and sink offers the rest.
  *
  * A kernel ships once per task slot, not once per task. The driver
  * serializes its bound expressions once, when it builds the kernel; a
  * task carries those bytes and the kernel's id, and borrows a [[Runner]]
  * (one deserialized copy) from a per-JVM pool keyed by that id,
  * deserializing only on a miss. The pool keeps at most one idle runner
  * per task slot of the JVM, across all kernels, and drops the least
  * recently returned first; a kernel evicted from the memo takes its idle
  * runners with it. When each task deserialized its own copy, a gated
  * micro-batch paid that for each of its tasks, whatever its size; with
  * the pool and the one-pass groups together, a traced `cdc` run's
  * executor CPU per 1,000 changes fell from 43 to 19 ms.
  *
  * Both programs share one value-keyed memo of [[MemoBound]] entries: the
  * registry, the batch schema, what the program routes (data schema,
  * table, pk and tenant column; or the relation registry (schema, table)
  * → (data schema, pk), so a new or changed Relation rebuilds) and the
  * session's set SQL confs (the confs steer resolution, e.g. time zone and
  * ANSI casts), less `spark.sql.streaming.*`, which steer no expression:
  * [[CdcStream.start]] sets one, the checkpoint file manager, and a
  * kernel rebuilt for it would sit in the memo beside its twin. */
object Router {

  /** Entries kept in the kernel memo (least recently used evicted). */
  val MemoBound = 8

  /** The client frame of one (change × payload group): type, commit time,
    * pre-encoded record / old_record JSON spliced in raw (nesting them in
    * to_json would double-escape them), errors. A null `commitTs` yields a
    * null frame (`concat` semantics). */
  def frame(changeType: Column, commitTs: Column, record: Column,
      oldRecord: Column, errors: Column): Column =
    concat(
      lit("{\"type\":\""), changeType,
      lit("\",\"commit_timestamp\":\""), commitTs,
      lit("\",\"record\":"), coalesce(record, lit("null")),
      lit(",\"old_record\":"), coalesce(oldRecord, lit("null")),
      lit(",\"errors\":"), coalesce(to_json(errors), lit("null")),
      lit("}"))

  /** The bound expressions of one kernel: what a task deserializes. */
  private final class Program(
      val ids: Expression,
      val payload: Option[(Expression, Expression)], // (groups, frame); None: no subs
      val tenant: Option[Expression],
      val nGroupFields: Int,
      val roleIdx: Int,
      val groupIdsIdx: Int) extends Serializable

  /** Bound routing for one (registry, batch schema), built on the driver.
    * Not serializable: tasks get it as [[Shipped]] bytes, serialized once
    * here, and run it through a pooled [[Runner]]. */
  final class Kernel private[Router] (program: Program) {
    private[Router] val shipped: Shipped = Shipped(nextKernelId.incrementAndGet(),
      Router.serialize(program))

    /** The bound payload-groups expression (spec surface). */
    private[cdc] def groupsExpr: Option[Expression] = program.payload.map(_._1)

    /** Pool key of this kernel's runners (spec surface). */
    private[cdc] def id: Long = shipped.id
  }

  /** A kernel as tasks receive it: its pool key and serialized program. */
  private final case class Shipped(id: Long, bytes: Array[Byte])

  /** One deserialized copy of a kernel's program with its per-row scratch.
    * Not thread-safe (the expressions hold evaluation state, such as the
    * `to_json` evaluator and the payload groups' bound record JSON): one
    * task at a time, borrowed from the pool by [[using]]. */
  final class Runner private[Router] (p: Program) {
    private val idsRow = new GenericInternalRow(1)
    private val groupRow = new GenericInternalRow(1)
    private val withIds = new JoinedRow()
    private val withGroup = new JoinedRow()

    /** Gate key of `row`: its tenant as a string ("null" for NULL), or
      * "*" without a tenant column. */
    def tenantOf(row: InternalRow): String = p.tenant match {
      case Some(t) => t.eval(row).toString
      case None => "*"
    }

    /** Offer `row`'s deliveries to `sink`; returns how many. Rows with
      * no match and null-role groups deliver nothing; the frame is
      * evaluated and decoded once per (change × group). */
    def route(row: InternalRow, sink: CdcStream.DeliverySink): Long = {
      val matched = p.ids.eval(row).asInstanceOf[ArrayData]
      if (matched.numElements() == 0 || p.payload.isEmpty) return 0L
      val (groups, frame) = p.payload.get
      idsRow.update(0, matched)
      val gs = groups.eval(withIds(row, idsRow)).asInstanceOf[ArrayData]
      var n = 0L
      var i = 0
      while (i < gs.numElements()) {
        val g = gs.getStruct(i, p.nGroupFields)
        if (!g.isNullAt(p.roleIdx)) {
          groupRow.update(0, g)
          val f = frame.eval(withGroup(row, groupRow))
          val text = if (f == null) null else f.toString
          val to = g.getArray(p.groupIdsIdx)
          var j = 0
          while (j < to.numElements()) {
            sink.offer(CdcStream.Delivery(to.getUTF8String(j).toString, text))
            j += 1
          }
          n += to.numElements()
        }
        i += 1
      }
      n
    }
  }

  private val nextKernelId = new java.util.concurrent.atomic.AtomicLong()

  private def serialize(p: Program): Array[Byte] = {
    val b = SparkEnv.get.closureSerializer.newInstance().serialize(p)
    val bytes = new Array[Byte](b.remaining())
    b.get(bytes)
    bytes
  }

  /** This JVM's idle runners, least recently returned first, across all
    * kernels: at most one per task slot, so the pool never holds more
    * copies than the tasks that could run at once. */
  private val idle = new java.util.ArrayDeque[(Long, Runner)]()
  private val deserialized = new java.util.concurrent.atomic.AtomicLong()

  /** Kernels deserialized in this JVM so far (spec surface). */
  private[cdc] def kernelsDeserialized: Long = deserialized.get()

  /** Idle pooled runners, of one kernel or of all (spec surface). */
  private[cdc] def idleRunners(kernelId: Option[Long] = None): Int = idle.synchronized {
    var n = 0
    idle.forEach(e => if (kernelId.forall(_ == e._1)) n += 1)
    n
  }

  /** Task slots of this JVM: local mode's threads on the driver, the
    * executor's cores elsewhere, over `spark.task.cpus`. */
  private[cdc] def taskSlots: Int = org.apache.spark.sql.graft.SlotBridge.taskSlots(SparkEnv.get)

  /** Run `f` on a runner of `k`: a pooled one, else a fresh deserialized
    * copy; returned to the pool when `f` completes (a runner whose task
    * threw is dropped). */
  private def using[A](k: Shipped)(f: Runner => A): A = {
    val pooled = idle.synchronized {
      val it = idle.descendingIterator()
      var found: Runner = null
      while (found == null && it.hasNext) {
        val e = it.next()
        if (e._1 == k.id) { found = e._2; it.remove() }
      }
      found
    }
    val r = if (pooled != null) pooled else {
      deserialized.incrementAndGet()
      new Runner(SparkEnv.get.closureSerializer.newInstance()
        .deserialize[Program](java.nio.ByteBuffer.wrap(k.bytes)))
    }
    val a = f(r)
    val slots = taskSlots
    idle.synchronized {
      idle.addLast((k.id, r))
      while (idle.size() > slots) idle.removeFirst()
    }
    a
  }

  private def dropRunners(kernelId: Long): Unit =
    idle.synchronized(idle.removeIf(_._1 == kernelId))

  /** What a kernel routes: one table's typed changes, or decoded WAL
    * changes over a relation registry (schema, table) → (data schema, pk). */
  private sealed trait Source
  private final case class OneTable(dataSchema: StructType, table: String, pk: Seq[String],
      tenantCol: Option[String]) extends Source
  private final case class WalTables(tables: Map[(String, String), (StructType, Seq[String])])
      extends Source

  private final case class Key(subs: Seq[Subscription], schema: StructType, source: Source,
      confs: Map[String, String])

  private val memo = new java.util.LinkedHashMap[Key, Kernel](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Kernel]): Boolean = {
      val evict = size() > MemoBound
      if (evict) dropRunners(e.getValue.id)
      evict
    }
  }

  /** Entries in the kernel memo (spec surface). */
  private[cdc] def memoSize: Int = memo.synchronized(memo.size())

  /** The bound kernel for this registry and one table's batch schema,
    * built on first use and then reused from the memo. */
  private[cdc] def kernel(spark: SparkSession, schema: StructType, subs: Seq[Subscription],
      dataSchema: StructType, table: String, pk: Seq[String],
      tenantCol: Option[String]): Kernel =
    memoised(spark, subs, schema, OneTable(dataSchema, table, pk, tenantCol))

  /** The bound kernel for this registry over decoded WAL changes of
    * `schema` and the relation registry `tables`; a batch whose Relation
    * changes the registry gets a new one. */
  private[cdc] def walKernel(spark: SparkSession, schema: StructType, subs: Seq[Subscription],
      tables: Map[(String, String), (StructType, Seq[String])]): Kernel =
    memoised(spark, subs, schema, WalTables(tables))

  private def memoised(spark: SparkSession, subs: Seq[Subscription], schema: StructType,
      source: Source): Kernel = {
    val key = Key(subs, schema, source,
      spark.conf.getAll.filter { case (c, _) => !c.startsWith("spark.sql.streaming.") })
    memo.synchronized(Option(memo.get(key))).getOrElse {
      val k = build(spark, key)
      memo.synchronized(memo.put(key, k))
      k
    }
  }

  private val GroupCol = "__graft_group"

  private def build(spark: SparkSession, k: Key): Kernel = {
    def g(f: String) = col(s"$GroupCol.$f")
    // (match, payload groups over the matched rows, frame of a group, tenant)
    val (idsCol, groupsCol, frameCol, tenantCol) = k.source match {
      case OneTable(dataSchema, table, pk, tenantCol) =>
        (Walrus.subscriptionIds(k.subs, dataSchema, table,
          hasType = k.schema.fieldNames.contains(Walrus.TypeCol)),
          Payload.groups(k.schema, k.subs, dataSchema.fieldNames.toSeq, pk),
          frame(col(Walrus.TypeCol), col("commit_timestamp"), g("record"),
            g("old_record"), g("errors")),
          tenantCol)
      case WalTables(tables) =>
        // the match reads the new image as decoded, the payload groups
        // read it TOAST-merged (P8): merged once per matched change
        val merged = NamedLambdaVariable("merged_record", k.schema("record").dataType,
          nullable = true)
        val merge = when(col("record").isNotNull && col("old_record").isNotNull,
          Walrus.toastMerge(col("record"), col("old_record"))).otherwise(col("record"))
        (MultiTableMatch.subscriptionIds(tables.map { case (t, v) => t -> v._1 }, k.subs),
          Payload.genericGroups(k.schema, k.subs, tables.map { case (t, v) => t -> v._2 },
            record = ColumnBridge.column(merged)).map(gs => ColumnBridge.column(
            BindOnce(merged, ColumnBridge.expression(merge), ColumnBridge.expression(gs)))),
          concat(lit("{\"type\":\""), col(Walrus.TypeCol),
            lit("\",\"schema\":\""), col("change_schema"),
            lit("\",\"table\":\""), col("change_table"),
            lit("\",\"commit_timestamp\":\""), col("commit_timestamp"),
            lit("\",\"record\":"), coalesce(g("record"), lit("null")),
            lit(",\"old_record\":"), coalesce(g("old_record"), lit("null")),
            lit("}")),
          None)
    }
    val ids = bind(spark, k.schema, idsCol)
    val withIds = k.schema.add(StructField("subscription_ids", ids.dataType))
    val groups = groupsCol.map(bind(spark, withIds, _))
    val groupType = groups.map(_.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]).getOrElse(new StructType())
    val payload = groups.map(gs =>
      (gs, bind(spark, k.schema.add(StructField(GroupCol, groupType)), frameCol)))
    val tenant = tenantCol.map(tc =>
      bind(spark, k.schema, coalesce(col(tc).cast("string"), lit("null"))))
    new Kernel(new Program(ids, payload, tenant, groupType.length,
      groupType.fieldNames.indexOf("claims_role"),
      groupType.fieldNames.indexOf("subscription_ids")))
  }

  /** `c` resolved against an empty relation of `schema`, runtime-replaced
    * and bound to the ordinals of `schema`'s rows. */
  private def bind(spark: SparkSession, schema: StructType, c: Column): Expression = {
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    empty.select(c).queryExecution.analyzed match {
      case Project(Seq(e), child) =>
        val unaliased = e match { case Alias(x, _) => x; case x => x }
        val replaced = unaliased.transform { case r: RuntimeReplaceable => r.replacement }
        BindReferences.bindReference(replaced, child.output)
      case p => throw new IllegalStateException(s"unexpected resolved plan: $p")
    }
  }

  /** Per-key row counts of `rows` (the gate's tally): one narrow job,
    * each task counting its partition, merged here. */
  private[cdc] def tally(rows: RDD[InternalRow], kernel: Kernel): Map[String, Long] = {
    val merged = scala.collection.mutable.HashMap.empty[String, Long]
    rows.sparkContext.runJob(rows, new TallyTask(kernel.shipped), rows.partitions.indices,
      (_: Int, part: Map[String, Long]) =>
        part.foreach { case (t, n) => merged(t) = merged.getOrElse(t, 0L) + n })
    merged.toMap
  }

  /** Route every row of `rows` whose gate key is not in `shed` to `sink`,
    * on the executors, one pass; `flush` once per partition. Returns
    * (rows routed, deliveries offered). */
  private[cdc] def deliver(rows: RDD[InternalRow], kernel: Kernel, sink: CdcStream.DeliverySink,
      shed: Set[String]): (Long, Long) = {
    var (n, d) = (0L, 0L)
    rows.sparkContext.runJob(rows, new DeliverTask(kernel.shipped, sink, shed),
      rows.partitions.indices, (_: Int, part: (Long, Long)) => { n += part._1; d += part._2 })
    (n, d)
  }

  // The two task functions are named classes, not lambdas: Spark's
  // closure cleaner returns early for them, where for a lambda it reads
  // the declaring class's bytecode with ASM on every job. On a live
  // probe of the `cdc` benchmark's shape (4-cpu host, five alternating
  // pairs) a gated micro-batch's two jobs took a median 31 ms of
  // `processBatch` this way, against 42 ms with lambdas.

  /** The tally's task: per-key row counts of one partition. */
  private final class TallyTask(k: Shipped)
      extends ((TaskContext, Iterator[InternalRow]) => Map[String, Long]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): Map[String, Long] = using(k) { r =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { row => val t = r.tenantOf(row); m(t) = m.getOrElse(t, 0L) + 1L }
      m.toMap
    }
  }

  /** The delivery pass's task: routes one partition, returns its counts. */
  private final class DeliverTask(k: Shipped, sink: CdcStream.DeliverySink, shed: Set[String])
      extends ((TaskContext, Iterator[InternalRow]) => (Long, Long)) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): (Long, Long) = using(k) { r =>
      var (n, d) = (0L, 0L)
      it.foreach { row =>
        if (shed.isEmpty || !shed.contains(r.tenantOf(row))) {
          n += 1L
          d += r.route(row, sink)
        }
      }
      sink.flush()
      (n, d)
    }
  }
}

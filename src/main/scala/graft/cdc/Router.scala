package graft.cdc

import graft.model.Subscription
import graft.walrus.{Payload, Walrus}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression,
  GenericInternalRow, JoinedRow, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** The routing of [[CdcStream.processBatch]], bound once per registry.
  *
  * The match battery ([[Walrus.subscriptionIds]]), the payload groups
  * ([[Payload.groups]]) and the frame ([[frame]]) are the same Column
  * builders the DataFrame path uses; here they are resolved once against
  * an empty relation with the batch's schema, their `RuntimeReplaceable`
  * nodes replaced (interpreted eval does not run the optimizer that
  * normally does it) and bound to input ordinals. A micro-batch then runs
  * as plain row passes over `queryExecution.toRdd` — no per-batch
  * analysis, optimization or code generation for a registry that has not
  * changed — which is the per-micro-batch coordination floor Drizzle
  * (SOSP 2017) names for low-latency micro-batch streaming.
  *
  * Per change on the 200-subscription `cdc` registry (37 deliveries per
  * change, one core of a 4-cpu host), a route costs 33–45 µs: the
  * battery ~11 µs, the payload groups 23–31 µs (each group's ids
  * selected by constant membership, see [[Payload.groups]]), the frames
  * and sink offers the rest.
  *
  * Bound kernels live in a value-keyed memo of [[MemoBound]] entries: the
  * registry, the batch and data schemas, table, pk, tenant column and the
  * session's set SQL confs (the confs steer resolution, e.g. time zone and
  * ANSI casts). */
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

  /** Bound routing for one (registry, batch schema). Serializable: each
    * task gets its own deserialized copy, so expression state is never
    * shared between threads; per-row scratch lives in a [[Runner]]. */
  final class Kernel private[Router] (
      ids: Expression,
      payload: Option[(Expression, Expression)], // (groups, frame); None: no subs
      tenant: Option[Expression],
      nGroupFields: Int,
      roleIdx: Int,
      groupIdsIdx: Int) extends Serializable {

    /** Per-partition evaluator (not thread-safe: one per task). */
    def runner(): Runner = new Runner

    /** The bound payload-groups expression (spec surface). */
    private[cdc] def groupsExpr: Option[Expression] = payload.map(_._1)

    final class Runner {
      private val idsRow = new GenericInternalRow(1)
      private val groupRow = new GenericInternalRow(1)
      private val withIds = new JoinedRow()
      private val withGroup = new JoinedRow()

      /** Gate key of `row`: its tenant as a string ("null" for NULL), or
        * "*" without a tenant column. */
      def tenantOf(row: InternalRow): String = tenant match {
        case Some(t) => t.eval(row).toString
        case None => "*"
      }

      /** Offer `row`'s deliveries to `sink`; returns how many. Rows with
        * no match, null groups and null-role groups deliver nothing; the
        * frame is evaluated and decoded once per (change × group). */
      def route(row: InternalRow, sink: CdcStream.DeliverySink): Long = {
        val matched = ids.eval(row).asInstanceOf[ArrayData]
        if (matched.numElements() == 0 || payload.isEmpty) return 0L
        val (groups, frame) = payload.get
        idsRow.update(0, matched)
        val gs = groups.eval(withIds(row, idsRow)).asInstanceOf[ArrayData]
        if (gs == null) return 0L
        var n = 0L
        var i = 0
        while (i < gs.numElements()) {
          if (!gs.isNullAt(i)) {
            val g = gs.getStruct(i, nGroupFields)
            if (!g.isNullAt(roleIdx)) {
              groupRow.update(0, g)
              val f = frame.eval(withGroup(row, groupRow))
              val text = if (f == null) null else f.toString
              val to = g.getArray(groupIdsIdx)
              var j = 0
              while (j < to.numElements()) {
                sink.offer(CdcStream.Delivery(to.getUTF8String(j).toString, text))
                j += 1
              }
              n += to.numElements()
            }
          }
          i += 1
        }
        n
      }
    }
  }

  private final case class Key(subs: Seq[Subscription], schema: StructType,
      dataSchema: StructType, table: String, pk: Seq[String],
      tenantCol: Option[String], confs: Map[String, String])

  private val memo = new java.util.LinkedHashMap[Key, Kernel](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Kernel]): Boolean =
      size() > MemoBound
  }

  /** Entries in the kernel memo (spec surface). */
  private[cdc] def memoSize: Int = memo.synchronized(memo.size())

  /** The bound kernel for this registry and batch schema, built on first
    * use and then reused from the memo. */
  private[cdc] def kernel(spark: SparkSession, schema: StructType, subs: Seq[Subscription],
      dataSchema: StructType, table: String, pk: Seq[String],
      tenantCol: Option[String]): Kernel = {
    val key = Key(subs, schema, dataSchema, table, pk, tenantCol, spark.conf.getAll)
    memo.synchronized(Option(memo.get(key))).getOrElse {
      val k = build(spark, key)
      memo.synchronized(memo.put(key, k))
      k
    }
  }

  private val GroupCol = "__graft_group"

  private def build(spark: SparkSession, k: Key): Kernel = {
    val ids = bind(spark, k.schema, Walrus.subscriptionIds(k.subs, k.dataSchema,
      k.table, hasType = k.schema.fieldNames.contains(Walrus.TypeCol)))
    val withIds = k.schema.add(StructField("subscription_ids", ids.dataType))
    val groups = Payload.groups(withIds, k.subs, k.dataSchema.fieldNames.toSeq, k.pk)
      .map(bind(spark, withIds, _))
    val groupType = groups.map(_.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]).getOrElse(new StructType())
    val payload = groups.map { gs =>
      def g(f: String) = col(s"$GroupCol.$f")
      (gs, bind(spark, k.schema.add(StructField(GroupCol, groupType)),
        frame(col(Walrus.TypeCol), col("commit_timestamp"), g("record"),
          g("old_record"), g("errors"))))
    }
    val tenant = k.tenantCol.map(tc =>
      bind(spark, k.schema, coalesce(col(tc).cast("string"), lit("null"))))
    new Kernel(ids, payload, tenant, groupType.length,
      groupType.fieldNames.indexOf("claims_role"),
      groupType.fieldNames.indexOf("subscription_ids"))
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
  private[cdc] def tally(rows: RDD[InternalRow], kernel: Kernel): Map[String, Long] =
    rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      val r = kernel.runner()
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { row => val t = r.tenantOf(row); m(t) = m.getOrElse(t, 0L) + 1L }
      m.toMap
    }).foldLeft(Map.empty[String, Long]) { (acc, part) =>
      part.foldLeft(acc) { case (a, (t, n)) => a.updated(t, a.getOrElse(t, 0L) + n) }
    }

  /** Route every row of `rows` whose gate key is not in `shed` to `sink`,
    * on the executors, one pass; `flush` once per partition. Returns
    * (rows routed, deliveries offered). */
  private[cdc] def deliver(rows: RDD[InternalRow], kernel: Kernel, sink: CdcStream.DeliverySink,
      shed: Set[String]): (Long, Long) =
    rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      val r = kernel.runner()
      var (n, d) = (0L, 0L)
      it.foreach { row =>
        if (shed.isEmpty || !shed.contains(r.tenantOf(row))) {
          n += 1L
          d += r.route(row, sink)
        }
      }
      sink.flush()
      (n, d)
    }).foldLeft((0L, 0L)) { case ((n, d), (pn, pd)) => (n + pn, d + pd) }
}

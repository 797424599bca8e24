package graft.walrus

import graft.filters.FilterCompiler
import graft.model.{Subscription, Filter}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The core CDC query: for each change row, compute the set of subscription
  * ids whose (entity, action, filters) match — the reference's `apply_rls`
  * (/root/reference/lib/realtime/tenants/repo/migrations/
  * 20260626120000_readd_postgrest_filter_ops.ex:307-667) re-thought for Spark.
  *
  * Scale design (the N-subs × M-changes fan-out, SURVEY §7.4):
  *  - Subscriptions are a *small, slowly-changing* dimension (thousands);
  *    changes are the big side (unbounded stream / 100 TB batch). We therefore
  *    never shuffle the change stream: subscriptions are grouped **driver-side**
  *    by identical `(schema, table, action, canonical filters)` — the canonical
  *    sort makes filter lists a value key (reference trigger :289-299) — and
  *    each distinct group compiles to ONE Catalyst predicate. Matching becomes
  *    a single narrow projection:
  *       subscription_ids = flatten(filter([when(p₁, ids₁), …, when(pₙ, idsₙ)]))
  *    evaluated in one whole-stage-codegen pass over the scan, no join, no
  *    shuffle, no per-row interpretation. This is the Spark analog of the
  *    reference's per-role / per-column-set work sharing (O3/O4) and its
  *    "validate at subscribe time, never per row" rule (O14).
  *  - Action pre-filter (O1) is folded into each group's predicate as a
  *    constant-foldable conjunct on the change-type column.
  *  - At 1000 executors this scales linearly in changes: each task evaluates
  *    the compiled predicate battery over its partition; the subscription
  *    "join" costs zero network. Degenerate case (≫10⁴ distinct filter groups)
  *    would switch to [[matchSubscriptionsGeneric]] (broadcast join + runtime
  *    eval) — same results, explicit broadcast, still no shuffle of the stream.
  */
object Walrus {

  /** Name of the change-type metadata column ("INSERT"/"UPDATE"/"DELETE"). */
  val TypeCol = "change_type"

  /** Compiled-predicate match: adds `subscription_ids: array<string>` (sorted,
    * possibly empty) to `changes`. `schema` is the data schema of the table
    * the changes belong to (filters compile against it, fail-closed).
    *
    * The battery is a native codegen'd [[graft.plans.SubscriptionBattery]]
    * expression (one short-circuit block per group inside whole-stage
    * codegen); `useCodegen = false` selects the equivalent HOF form
    * (`array_sort∘flatten∘filter` over conditional arms, interpreted) kept
    * for differential testing. */
  def matchSubscriptions(
      changes: DataFrame,
      subs: Seq[Subscription],
      schema: StructType,
      table: String = "",
      schemaName: String = "public",
      useCodegen: Boolean = true): DataFrame =
    changes.withColumn("subscription_ids", subscriptionIds(subs, schema, table,
      schemaName, hasType = changes.columns.contains(TypeCol), useCodegen))

  /** The `subscription_ids` column of [[matchSubscriptions]] — the one
    * definition of the match semantics, also bound once per registry by
    * the CDC router ([[graft.cdc.Router]]). `hasType`: the change rows
    * carry [[TypeCol]] (action tags and the TRUNCATE arm need it). */
  def subscriptionIds(
      subs: Seq[Subscription],
      schema: StructType,
      table: String = "",
      schemaName: String = "public",
      hasType: Boolean = true,
      useCodegen: Boolean = true): Column = {
    val relevant = subs.filter(s =>
      (s.table == "*" || s.table == table || table.isEmpty) &&
      (s.schema == "*" || s.schema == schemaName))
    val groups = relevant
      .map(_.canonical)
      .groupBy(s => (s.actionFilter, s.filters))
      .toSeq
      .sortBy(_._1.toString)
    // action as a TAG, not a conjunct: the battery groups tagged arms
    // under one change-type comparison per distinct action (jump table),
    // so a row evaluates only its own action's arms plus the '*' arms
    val armed: Seq[(Column, Seq[String], Option[String])] =
      groups.map { case ((action, filters), ss) =>
        val pred0 = FilterCompiler.compileAll(filters, schema)
        val tag = if (action == "*" || !hasType) None else Some(action)
        (pred0, ss.map(_.subscriptionId).sorted, tag)
      }
    // TRUNCATE carries no row data — filters can't apply; it routes to
    // action='*' subscribers only (ChangeType doc, changes.ex:61). Hoisted
    // to ONE branch around the battery instead of a conjunct inside every
    // arm: the truncate id set is a compile-time constant, and the hot
    // (non-truncate) path saves G per-row type checks and ~30% of the
    // generated method's bytecode (large methods fall off the JIT).
    // binary UTF8 order, as the battery sorts (String's own order is
    // UTF-16's, which differs past U+FFFF); Payload relies on it
    val starIds = groups.collect { case (("*", _), ss) => ss }
      .flatten.map(_.subscriptionId)
      .sortBy(org.apache.spark.unsafe.types.UTF8String.fromString)
    val bat = battery(armed,
      typeCol = if (hasType) Some(col(TypeCol)) else None, useCodegen)
    // NOT EvalOnce-fenced — attempted r12, reverted on a CodegenAudit
    // catch: the battery's doGenCode splits its arm blocks into methods
    // whose parameter lists assume the default projection codegen; under
    // a nondeterministic parent the eager-evaluation path leaves a
    // hoisted arm local undeclared in the split method (Janino
    // "project_value_0 is not an rvalue" on j_multi_table /
    // p_error_rows_400 — Spark would silently run those stages
    // interpreted). Cost of living without it: consumer filters on
    // `subscription_ids` inline a second battery evaluation in three
    // sub-second batch compositions (DupExprScan cross-node rows,
    // assessed there). The CDC micro-batch does not pay it: its router
    // evaluates the bound battery once per row and skips empty matches
    // itself, with no Filter over the column.
    if (!hasType || armed.isEmpty) bat
    else when(col(TypeCol) === lit(graft.model.ChangeType.Truncate),
      array(starIds.map(lit): _*).cast(ArrayType(StringType))).otherwise(bat)
  }

  /** Battery column over (predicate, sorted ids, action tag) arms —
    * codegen'd [[graft.plans.SubscriptionBattery]] by default, interpreted
    * HOF form for differential testing. Shared by the single-table and
    * [[MultiTableMatch]] paths. A tagged arm fires only when `typeCol`
    * equals its tag (grouped dispatch in codegen); untagged arms always
    * evaluate. */
  private[walrus] def battery(
      armed: Seq[(Column, Seq[String], Option[String])],
      typeCol: Option[Column] = None,
      useCodegen: Boolean = true): Column =
    if (armed.isEmpty) array().cast(ArrayType(StringType))
    else if (useCodegen) {
      import org.apache.spark.sql.graft.ColumnBridge
      import org.apache.spark.unsafe.types.UTF8String
      val hasTags = armed.exists(_._3.isDefined)
      ColumnBridge.column(graft.plans.SubscriptionBattery(
        armed.map(a => ColumnBridge.expression(a._1)),
        armed.map(_._2.map(UTF8String.fromString).toArray).toArray,
        if (hasTags) armed.map(_._3.orNull).toArray else null,
        if (hasTags) typeCol.map(ColumnBridge.expression) else None))
    } else
      array_sort(flatten(filter(
        array(armed.map { case (p, ids, tag) =>
          val pred = (tag, typeCol) match {
            case (Some(t), Some(tc)) => tc === lit(t) && p
            case _ => p
          }
          when(pred, array(ids.map(lit): _*))
        }: _*),
        a => a.isNotNull)))

  /** Match + drop changes nobody subscribed to (the common stream shape). */
  def matchedOnly(
      changes: DataFrame,
      subs: Seq[Subscription],
      schema: StructType,
      table: String = "",
      schemaName: String = "public"): DataFrame =
    matchSubscriptions(changes, subs, schema, table, schemaName)
      .where(size(col("subscription_ids")) > 0)

  /** Column projection (P6): output columns = selectedColumns ∪ pk (pk always
    * kept; empty selection = all columns). Resolved at compile time — the
    * projection is a plain struct build, codegen'd, column-pruned at the scan.
    */
  def projectRecord(
      dataCols: Seq[String],
      selected: Seq[String],
      pk: Seq[String]): Seq[String] = {
    if (selected.isEmpty) dataCols
    else dataCols.filter(c => selected.contains(c) || pk.contains(c))
  }

  /** Oversize guard (P7): when the serialized record exceeds `maxBytes`,
    * replace values longer than 64 bytes with NULL and attach a 413 error —
    * errors are in-band data, not exceptions (reference :354,654-657). */
  def oversizeGuard(
      record: Column, maxBytes: Int): (Column, Column) = {
    val tooLarge = octet_length(record) > maxBytes
    val errs = when(tooLarge, array(lit("Error 413: Payload Too Large")))
      .otherwise(lit(null).cast(ArrayType(StringType)))
    (tooLarge, errs)
  }

  /** Unchanged-TOAST merge (P8): a column falls back to its old value only
    * when it is **absent** from the new tuple — the decoder omits 'u'
    * (unchanged TOAST) columns from `record`. A key that is present with a
    * SQL NULL value is an explicit NULL and must stay NULL: the reference
    * substitutes only on key absence (`case when (c).name is null then
    * (oc).value else (c).value end` over a FULL OUTER JOIN by name,
    * reference :588-599), never on value nullness. Record keys keep their
    * map order; old-only keys append after (same order `map_zip_with`
    * produced, so downstream JSON serialization is unchanged). */
  def toastMerge(record: Column, oldRecord: Column): Column =
    map_concat(
      record,
      map_filter(oldRecord, (k, _) => !map_contains_key(record, k)))

  /** apply_rls's DELETE visibility arm (the live definition,
    * …/20260709120000_fix_apply_rls_filter_role_leak.ex:231-239):
    * `is_visible_through_filters(columns, filters) OR (action = 'DELETE'
    * AND is_visible_through_filters(old_columns, filters))`. A DELETE's
    * WAL payload carries NO new column images (wal2json emits only
    * `identity`), so with the fail-closed missing-column semantics the
    * reachable truth table collapses to: filters evaluate the OLD values
    * on DELETE rows and the NEW values otherwise (filterless
    * subscriptions are visible either way, and UPDATEs are NEVER matched
    * through their old image — only the first arm applies to them).
    *
    * This helper is that collapse as a projection: per filterable
    * column, a DELETE row substitutes its old-image value
    * (`<oldPrefix><col>`); feed the result to either matcher. One
    * codegen'd CASE per column, no extra battery evaluation — the
    * alternative (battery over new OR'd with battery over old) would
    * double the predicate work for a truth table the substitution
    * already covers. */
  def deleteFilterSource(changes: DataFrame, dataCols: Seq[String],
      oldPrefix: String = "old_"): DataFrame = {
    val isDel = col(TypeCol) === graft.model.ChangeType.Delete
    dataCols.foldLeft(changes)((df, c) =>
      df.withColumn(c, when(isDel, col(oldPrefix + c)).otherwise(col(c))))
  }
}

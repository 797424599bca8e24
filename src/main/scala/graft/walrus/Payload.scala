package graft.walrus

import graft.model.Subscription
import graft.plans.{BindOnce, GroupSplit}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.NamedLambdaVariable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Client-payload shaping for matched changes — the output half of the
  * reference's `apply_rls` (P6 column projection, P7 oversize guard, P8
  * TOAST merge), organized the way the reference amortizes it: one shaped
  * payload per **distinct (role, selected_columns) group**, not per
  * subscriber (O3/O4, /root/reference/lib/realtime/tenants/repo/migrations/
  * 20260626120000_readd_postgrest_filter_ops.ex:413-417,540-545,638-648).
  *
  * Each group is one arm of a SINGLE projection over the matched stream
  * (no shuffle, ONE scan): per change row we build an array of per-group
  * payload structs — `struct(role, cols, record, …, ids)` for each group
  * with a matching id — and `inline` it, the same battery trick as
  * [[Walrus.matchSubscriptions]]. The record is serialized to JSON **once
  * per group** before any per-subscriber fan-out — encode-once (O6) — and
  * a group's JSON build is only evaluated when the group matched. The previous
  * shape (G unioned branches, each re-scanning `matched`) was G× I/O on a
  * 100 TB micro-batch; this is 1×.
  *
  * The split of a change's matched ids into groups is one native pass
  * ([[graft.plans.GroupSplit]]): the sorted `subscription_ids` are walked
  * once, each id mapped to its groups through a constant id → groups map,
  * and only a group with an id evaluates its arm. Each matched group's
  * full record JSON is built once per (change × group) and bound
  * ([[graft.plans.BindOnce]]) for its three reads: the 413 size check,
  * the record, and `old_record`'s size check. Interpreted, as the CDC
  * router evaluates it, on the 200-subscription `cdc` registry (37
  * deliveries per change; one core of a 4-cpu host) the groups column
  * costs 5–7 µs per change, against 18–19 µs with the `filter`/
  * `transform` split and the record JSON built for every read.
  *
  * Payload fidelity (reference migration 20260626120000:583-647):
  *  - `record` only for INSERT/UPDATE (else absent);
  *  - `old_record` for UPDATE, and for DELETE with **pk-only** columns when
  *    RLS is enabled (deletes can't be secured row-wise);
  *  - oversize (413): the record is kept, but values whose text form
  *    exceeds 64 bytes are dropped (`to_json` omits null fields, matching
  *    `jsonb_object_agg`'s row filter at :604,646).
  */
object Payload {

  /** Reference error strings (in-band error rows, 20260626120000:449-488).
    */
  val Err400 = "Error 400: Bad Request, no primary key"
  val Err401 = "Error 401: Unauthorized"
  val Err413 = "Error 413: Payload Too Large"

  /** Serialize named typed fields to a JSON object, null fields omitted.
    * Native [[graft.plans.JsonStructProject]] when every field type is
    * supported — `to_json` is CodegenFallback and would drop the whole
    * G-arm shaping projection out of whole-stage codegen — with a
    * `to_json` fallback for exotic field types (timestamps, nested). */
  private def jsonObj(
      fields: Seq[(String, Column, org.apache.spark.sql.types.DataType)]): Column =
    if (fields.forall(f => graft.plans.JsonStructProject.supports(f._3))) {
      ColumnBridge.column(graft.plans.JsonStructProject(
        fields.map(_._1), fields.map(f => ColumnBridge.expression(f._2))))
    } else
      to_json(struct(fields.map { case (n, c, _) => c.as(n) }: _*))

  /** One row per (change × distinct payload group with ≥1 matching sub).
    *
    * @param matched   output of [[Walrus.matchSubscriptions]] (has
    *                  `subscription_ids`, sorted in binary UTF8 order as
    *                  the battery emits it); may carry `old_<col>` columns
    *                  with pre-image values for UPDATE/DELETE shaping.
    * @param subs      the subscription registry (small, driver-side).
    * @param dataCols  data columns of the table.
    * @param pk        primary-key column names (always kept in projections).
    * @param maxBytes  oversize guard threshold (413 + 64-byte rule).
    */
  def shape(
      matched: DataFrame,
      subs: Seq[Subscription],
      dataCols: Seq[String],
      pk: Seq[String],
      maxBytes: Int = 1 << 20,
      unauthorizedRoles: Set[String] = Set.empty,
      rlsEnabled: Boolean = false): DataFrame =
    groups(matched.schema, subs, dataCols, pk, maxBytes, unauthorizedRoles,
        rlsEnabled) match {
      case None =>
        // no subscribers (e.g. every socket disconnected mid-stream): an
        // empty result with the output schema, not a reduce-on-empty crash
        val schema = StructType(
          pk.map(c => StructField(c, matched.schema(c).dataType)) ++ Seq(
            StructField(Walrus.TypeCol, StringType),
            StructField("commit_timestamp", StringType),
            StructField("claims_role", StringType),
            StructField("selected_columns", StringType),
            StructField("record", StringType),
            StructField("old_record", StringType),
            StructField("errors", ArrayType(StringType)),
            StructField("subscription_ids", ArrayType(StringType))))
        matched.sparkSession.createDataFrame(
          matched.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case Some(arms) =>
        // single pass: arm per group, drop unmatched arms, inline the rest.
        // (see shapeGeneric for the map-shaped WAL variant)
        // inline_outer + null post-filter (not plain inline): the plain
        // generator makes InferFiltersFromGenerate add a pre-Generate
        // size(..)>0 filter that re-evaluates every arm twice — same pitfall
        // as the match battery (commit 4f05edc)
        matched
          .select(
            (pk.map(col) :+
              col(Walrus.TypeCol) :+
              col("commit_timestamp") :+
              arms.as("_groups")): _*)
          .select(
            (pk.map(col) :+
              col(Walrus.TypeCol) :+
              col("commit_timestamp") :+
              inline_outer(col("_groups"))): _*)
          .where(col("claims_role").isNotNull)
    }

  /** `subs` grouped by (role, sorted selected columns), in a fixed
    * order. Option(role): a null role sorts first instead of throwing;
    * its group is built and then dropped (no role, no delivery). */
  private def byPayloadGroup(subs: Seq[Subscription])
      : Seq[((String, Seq[String]), Seq[Subscription])] =
    subs.groupBy(s => (s.claimsRole, s.selectedColumns.sorted)).toSeq
      .sortBy { case ((role, sel), _) => (Option(role), sel.mkString(",")) }

  /** The per-change payload-group column of [[shape]] over rows of
    * `schema` (which carries sorted `subscription_ids`): an array of
    * `struct(claims_role, selected_columns, record, old_record, errors,
    * subscription_ids)`, one per payload group with a matching
    * subscriber. A group whose `claims_role` is null is not delivered.
    * None when `subs` is empty. The one definition of the payload
    * semantics, also bound once per registry by the CDC router
    * ([[graft.cdc.Router]]). */
  def groups(
      schema: StructType,
      subs: Seq[Subscription],
      dataCols: Seq[String],
      pk: Seq[String],
      maxBytes: Int = 1 << 20,
      unauthorizedRoles: Set[String] = Set.empty,
      rlsEnabled: Boolean = false): Option[Column] = {
    val groups = byPayloadGroup(subs)
    val hasOld = schema.fieldNames.exists(_.startsWith("old_"))
    val noPk = pk.isEmpty
    val isIns = col(Walrus.TypeCol) === "INSERT"
    val isUpd = col(Walrus.TypeCol) === "UPDATE"
    val isDel = col(Walrus.TypeCol) === "DELETE"
    // a value's text form over 64 bytes is dropped from oversize payloads;
    // to_json omits null struct fields, so nulling = jsonb_object_agg skip
    val branches = groups.map { case ((role, selected), ss) =>
      val keep = Walrus.projectRecord(dataCols, selected, pk)
      def dt(c: String) = schema(c).dataType
      // the full record JSON, built once per (change × group) by the
      // group's BindOnce; the size checks and the record read `full`
      val full = NamedLambdaVariable("record_json", StringType, nullable = true)
      val recordFull = ColumnBridge.column(full)
      val recordTrunc = jsonObj(keep.map(c =>
        (c, when(octet_length(col(c).cast(StringType)) > 64, lit(null))
          .otherwise(col(c)), dt(c))))
      val tooLarge = octet_length(recordFull) > maxBytes
      val oldJson =
        if (hasOld) {
          val oldKeep = keep.filter(c => schema.fieldNames.contains(s"old_$c"))
          val delKeep = if (rlsEnabled) oldKeep.filter(pk.contains) else oldKeep
          def enc(cols: Seq[String]): Column = when(tooLarge,
              jsonObj(cols.map(c =>
                (c, when(octet_length(col(s"old_$c").cast(StringType)) > 64,
                    lit(null)).otherwise(col(s"old_$c")), dt(s"old_$c")))))
            .otherwise(jsonObj(cols.map(c =>
              (c, col(s"old_$c"), dt(s"old_$c")))))
          when(isUpd, enc(oldKeep)).when(isDel, enc(delKeep))
        } else lit(null).cast(StringType)
      // error precedence mirrors apply_rls: 400 (no pk) > 401 (role denied
      // by RLS) > 413 (oversize); error rows are DELIVERED, with the record
      // suppressed (401/400) or value-truncated (413)
      val denied = unauthorizedRoles.contains(role)
      val errs =
        if (noPk) typedLit(Seq(Err400))
        else if (denied) typedLit(Seq(Err401))
        else when(tooLarge, typedLit(Seq(Err413)))
          .otherwise(lit(null).cast(ArrayType(StringType)))
      val rec =
        if (noPk || denied) lit(null).cast(StringType)
        else when(isIns || isUpd,
          when(tooLarge, recordTrunc).otherwise(recordFull))
      val arm = struct(
        typedLit[String](role).as("claims_role"),
        lit(if (selected.isEmpty) "" else selected.sorted.mkString(","))
          .as("selected_columns"),
        rec.as("record"),
        (if (noPk || denied) lit(null).cast(StringType) else oldJson)
          .as("old_record"),
        errs.as("errors"))
      // a 400/401 group never reads the record JSON: nothing to bind
      (ss.map(_.subscriptionId),
        if (noPk || denied) arm
        else ColumnBridge.column(BindOnce(full,
          ColumnBridge.expression(jsonObj(keep.map(c => (c, col(c), dt(c))))),
          ColumnBridge.expression(arm))))
    }
    if (branches.isEmpty) None else Some(split(branches))
  }

  /** The payload-group array over `subscription_ids` (sorted in binary
    * UTF8 order, as the match battery emits it): per group with at least
    * one of the change's ids, its arm struct with those ids appended as
    * `subscription_ids` — one [[GroupSplit]] pass per change, each
    * group's membership a per-registry constant. */
  private def split(branches: Seq[(Seq[String], Column)]): Column =
    ColumnBridge.column(GroupSplit(ColumnBridge.expression(col("subscription_ids")),
      branches.map(b => ColumnBridge.expression(b._2)), branches.map(_._1)))

  /** [[shape]] for the generic decoded-WAL stream (record/old_record as
    * `map<string,string>`, multi-table): one row per (change × payload
    * group of [[genericGroups]] with a matching subscriber and a role).
    *
    * @param matched output of [[MultiTableMatch.matchSubscriptions]] with
    *                non-empty `subscription_ids` (sorted, as the battery
    *                emits them).
    * @param pkByTable (schema, table) → pk column names.
    */
  def shapeGeneric(
      matched: DataFrame,
      subs: Seq[Subscription],
      pkByTable: Map[(String, String), Seq[String]],
      rlsEnabled: Boolean = false): DataFrame =
    genericGroups(matched.schema, subs, pkByTable, rlsEnabled) match {
      case None =>
        matched.sparkSession.createDataFrame(
          matched.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField("change_schema", StringType),
            StructField("change_table", StringType),
            StructField(Walrus.TypeCol, StringType),
            StructField("commit_timestamp", StringType),
            StructField("claims_role", StringType),
            StructField("selected_columns", StringType),
            StructField("record", StringType),
            StructField("old_record", StringType),
            StructField("subscription_ids", ArrayType(StringType)))))
      case Some(arms) =>
        matched
          .select(col("change_schema"), col("change_table"), col(Walrus.TypeCol),
            col("commit_timestamp"), arms.as("_groups"))
          .select(col("change_schema"), col("change_table"), col(Walrus.TypeCol),
            col("commit_timestamp"), inline_outer(col("_groups")))
          .where(col("claims_role").isNotNull)
    }

  /** [[groups]] for decoded WAL rows: the same one-pass split, but
    * projection is a per-(group × table) keep-set (selected ∪ table pk;
    * empty selection = all) of the map, serialized as text values (the
    * wal2json-like generic form); gating as in [[groups]]. None when
    * `subs` is empty. Also bound by the CDC router's WAL kernel
    * ([[graft.cdc.Router]]), which passes the TOAST-merged `record`. */
  def genericGroups(
      schema: StructType,
      subs: Seq[Subscription],
      pkByTable: Map[(String, String), Seq[String]],
      rlsEnabled: Boolean = false,
      record: Column = col("record")): Option[Column] = {
    val hasOld = schema.fieldNames.contains("old_record")
    val isIns = col(Walrus.TypeCol) === "INSERT"
    val isUpd = col(Walrus.TypeCol) === "UPDATE"
    val isDel = col(Walrus.TypeCol) === "DELETE"
    def keepJson(m: Column, selected: Seq[String], pkOnly: Boolean): Column = {
      // per-table keep-set: arms are per GROUP, so the table pk is folded
      // in data-side via the change's (schema, table) columns. The
      // project+serialize is ONE native call ([[graft.plans.JsonMapProject]])
      // — map_filter (interpreted HOF) + to_json (CodegenFallback) would
      // drop every arm out of whole-stage codegen
      val perTable = pkByTable.toSeq.sortBy(_._1.toString).map {
        case ((sch, tbl), pks) =>
          val keep =
            if (pkOnly) Some(pks)
            else if (selected.isEmpty) None
            else Some((selected ++ pks).distinct)
          val tablePred = col("change_schema") === sch && col("change_table") === tbl
          (tablePred, ColumnBridge.column(
            graft.plans.JsonMapProject(ColumnBridge.expression(m), keep)))
      }
      perTable.foldRight(lit(null).cast(StringType): Column) {
        case ((p, j), acc) => when(p, j).otherwise(acc)
      }
    }
    val branches = byPayloadGroup(subs).map { case ((role, selected), ss) =>
      val rec = when(isIns || isUpd, keepJson(record, selected, pkOnly = false))
      val old =
        if (!hasOld) lit(null).cast(StringType)
        else when(isUpd, keepJson(col("old_record"), selected, pkOnly = false))
          .when(isDel, keepJson(col("old_record"), selected, pkOnly = rlsEnabled))
      (ss.map(_.subscriptionId), struct(
        typedLit[String](role).as("claims_role"),
        lit(if (selected.isEmpty) "" else selected.sorted.mkString(","))
          .as("selected_columns"),
        rec.as("record"),
        old.as("old_record")))
    }
    if (branches.isEmpty) None else Some(split(branches))
  }
}

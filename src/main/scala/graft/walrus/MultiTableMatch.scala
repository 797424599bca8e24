package graft.walrus

import graft.filters.FilterCompiler
import graft.model.{ChangeType, Subscription}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

/** Multi-table subscription matching over a heterogeneous change stream —
  * the real S1 shape: the reference's poll loop drains ONE slot carrying
  * every published table per poll (migration
  * 20260326120000_list_changes_with_slot_count.ex:42-56), so the matcher
  * must route all tables in one pass, not one query per table.
  *
  * Input is the decoded-WAL generic shape ([[graft.cdc.PgOutput]] output):
  * `change_schema`, `change_table`, `change_type`, `record:
  * map<string,string>`. Each registered table contributes its compiled
  * filter groups to ONE predicate battery; a group's arm is
  * `(change_schema, change_table) = (s,t) && action && filters`, with the
  * filters compiled through [[FilterCompiler.compileWith]] so the map's
  * text values are cast to the table's real column types before
  * comparison (same typing as the single-table compiled path).
  *
  * Scale shape: identical to [[Walrus.matchSubscriptions]] — a single
  * narrow whole-stage projection over the stream, zero shuffle, zero join;
  * the table dispatch is just another constant-foldable conjunct. The
  * stream stays partitioned by (schema, table, lsn) from the decode stage,
  * so per-topic commit order is preserved within partitions.
  */
object MultiTableMatch {

  /** Match a heterogeneous change stream against subscriptions over all
    * registered tables in one battery pass. Adds `subscription_ids`.
    *
    * @param registry (schema, table) → the table's data schema (used to
    *                 type filter comparisons; tables absent from the
    *                 registry match nothing — fail closed).
    */
  def matchSubscriptions(
      changes: DataFrame,
      registry: Map[(String, String), StructType],
      subs: Seq[Subscription]): DataFrame =
    // not fenced — same CodegenAudit-caught split-method incompatibility
    // as Walrus.matchSubscriptions (see the comment there)
    changes.withColumn("subscription_ids", subscriptionIds(registry, subs))

  /** The `subscription_ids` column of [[matchSubscriptions]] — the one
    * definition of the multi-table match, also bound once per registry by
    * the CDC router's WAL kernel ([[graft.cdc.Router]]). */
  def subscriptionIds(
      registry: Map[(String, String), StructType],
      subs: Seq[Subscription]): Column = {
    // resolve wildcards driver-side: a '*' subscription arms one group per
    // registered table (the catalog is the small dimension)
    val resolved: Seq[((String, String), Subscription)] = for {
      s <- subs.map(_.canonical)
      k @ (sch, tbl) <- registry.keys.toSeq.sorted
      if (s.schema == "*" || s.schema == sch) && (s.table == "*" || s.table == tbl)
    } yield (k, s)
    val groups = resolved
      .groupBy { case (k, s) => (k, s.actionFilter, s.filters) }
      .toSeq.sortBy(_._1.toString)
    def tablePred(sch: String, tbl: String): Column =
      col("change_schema") === lit(sch) && col("change_table") === lit(tbl)
    val armed: Seq[(Column, Seq[String], Option[String])] =
      groups.map { case (((sch, tbl), action, filters), pairs) =>
        val dataSchema = registry((sch, tbl))
        val filterPred = filters
          .map(f => FilterCompiler.compileWith(f, dataSchema,
            c => element_at(col("record"), lit(c))))
          .reduceOption(_ && _).getOrElse(lit(true))
        (tablePred(sch, tbl) && filterPred,
          pairs.map(_._2.subscriptionId).distinct.sorted,
          if (action == "*") None else Some(action))
      }
    // TRUNCATE hoisted around the battery (same shape as Walrus): one
    // tiny per-table battery of the '*'-action subscriber sets, instead of
    // a truncate conjunct inside every arm of the hot path
    val truncArms: Seq[(Column, Seq[String], Option[String])] = groups
      .collect { case (((sch, tbl), "*", _), pairs) => ((sch, tbl), pairs) }
      .groupBy(_._1).toSeq.sortBy(_._1.toString)
      .map { case ((sch, tbl), gs) =>
        (tablePred(sch, tbl),
          gs.flatMap(_._2.map(_._2.subscriptionId)).distinct.sorted,
          Option.empty[String])
      }
    if (armed.isEmpty) Walrus.battery(armed)
    else when(col(Walrus.TypeCol) === lit(ChangeType.Truncate),
      Walrus.battery(truncArms)).otherwise(
      Walrus.battery(armed, typeCol = Some(col(Walrus.TypeCol))))
  }
}

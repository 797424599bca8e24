package graft.api

import graft.filters.{FilterCompiler, FilterParser}
import graft.model.Subscription
import org.apache.spark.sql.types.StructType

/** Subscription registry: the control plane that turns client params into
  * validated, canonicalized subscriptions — the analog of the reference's
  * subscription insert path + `subscription_check_filters` trigger
  * (/root/reference/lib/extensions/postgres_cdc_rls/subscriptions.ex:26-137,
  * migrations/20260626120000_readd_postgrest_filter_ops.ex:188-304).
  *
  * Validation happens HERE, at subscribe time, never per-row on the stream
  * (the reference's O14). Upsert semantics mirror `ON CONFLICT DO UPDATE`
  * keyed by (subscriptionId, schema, table). Wildcard schema/table params
  * expand against the table catalog at subscribe time (J5/S3).
  *
  * Thread-safe in-memory implementation; at scale this is a compacted
  * Delta/parquet table updated by a control stream, broadcast to executors
  * each micro-batch (small, slowly-changing dimension).
  */
final class SubscriptionRegistry(
    catalog: Map[(String, String), StructType],
    maxChannelsPerClient: Int = 100) {

  @volatile private var subs: Map[(String, String, String), Subscription] = Map.empty

  /** All active subscriptions (canonical form). */
  def all: Seq[Subscription] = subs.values.toSeq.sortBy(_.subscriptionId)

  def forTable(schema: String, table: String): Seq[Subscription] =
    all.filter(s => s.schema == schema && s.table == table)

  /** Subscribe with client params. Wildcards expand to every matching
    * catalog table (one subscription row per table, like the reference's
    * one-insert-per-matched-publication-table). Returns the created rows or
    * a validation error. */
  def subscribe(
      subscriptionId: String,
      schema: String,
      table: String,
      filterDsl: String = "",
      actionFilter: String = "*",
      selectedColumns: Seq[String] = Nil,
      claimsRole: String = "authenticated"): Either[String, Seq[Subscription]] = {
    if ((schema == "*" || table == "*") && selectedColumns.nonEmpty)
      return Left("Column selection is not supported for wildcard subscriptions. " +
        "Provide an explicit schema and table name.")
    val targets = catalog.keys.filter { case (s, t) =>
      (schema == "*" || s == schema) && (table == "*" || t == table)
    }.toSeq.sorted
    if (targets.isEmpty) return Left(s"no tables match $schema.$table")
    FilterParser.parse(filterDsl).left.map(e => s"Error parsing `filter` params: $e")
      .flatMap { filters =>
        // validate against every matched table's schema (fail on first error)
        val bad = targets.iterator.flatMap { case (s, t) =>
          val tableSchema = catalog((s, t))
          filters.flatMap(f =>
            FilterCompiler.validate(f, tableSchema).left.toOption.map(err =>
              s"$s.$t: $err"))
        }.toSeq
        if (bad.nonEmpty) Left(bad.head)
        else {
          val selBad = selectedColumns.filterNot(c =>
            targets.forall { case (s, t) => catalog((s, t)).fieldNames.contains(c) })
          if (selBad.nonEmpty) Left(s"selected column does not exist: ${selBad.head}")
          else {
            val created = targets.map { case (s, t) =>
              Subscription(subscriptionId, s, t, filters,
                claimsRole, actionFilter, selectedColumns).canonical
            }
            synchronized {
              // channels-per-client cap (the reference rejects a client
              // exceeding max_channels_per_client, default 100,
              // realtime_channel.ex:665-682 / config/runtime.exs:98):
              // count the rows this client would hold AFTER the upsert —
              // replaced keys don't double-count, and a wildcard
              // expansion can trip the cap in one call
              val after = subs.keys.filter(_._1 == subscriptionId).toSet ++
                created.map(c => (c.subscriptionId, c.schema, c.table))
              if (after.size > maxChannelsPerClient)
                Left(s"too many channels: $subscriptionId would hold " +
                  s"${after.size} > $maxChannelsPerClient")
              else {
                // ON CONFLICT (id, entity) DO UPDATE
                created.foreach(c =>
                  subs += ((c.subscriptionId, c.schema, c.table) -> c))
                Right(created)
              }
            }
          }
        }
      }
  }

  /** Remove every entity row of a subscription id (socket DOWN path). */
  def unsubscribe(subscriptionId: String): Int = synchronized {
    val victims = subs.keys.filter(_._1 == subscriptionId).toSeq
    subs --= victims
    victims.size
  }

  /** Re-validate all subscriptions against a new catalog (the reference
    * re-checks publication oids every 60 s, replication_poller.ex:240-292):
    * subscriptions whose table vanished or whose filters/selected columns
    * no longer validate under the new schema are dropped. Returns the
    * dropped (id, schema, table) keys. */
  def revalidate(newCatalog: Map[(String, String), StructType])
      : Seq[(String, String, String)] = synchronized {
    val dropped = subs.filter { case ((_, sch, tbl), s) =>
      newCatalog.get((sch, tbl)) match {
        case None => true // table gone
        case Some(ts) =>
          s.filters.exists(f => FilterCompiler.validate(f, ts).isLeft) ||
            s.selectedColumns.exists(c => !ts.fieldNames.contains(c))
      }
    }.keys.toSeq
    subs --= dropped
    dropped.sorted
  }
}

package graft

import graft.cdc.ChangeFeed
import graft.filters.{FilterCompiler, FilterParser}
import graft.messages.Messages
import graft.model.Subscription
import graft.presence.{Fanout, Presence}
import graft.rates.Rates
import graft.walrus.{Payload, Walrus}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry of driver-checkable queries: each entry pairs a Spark DataFrame
  * build with (where expressible) an equivalent DuckDB SQL oracle over the
  * same parquet tables. Naming follows SURVEY.md §2 operator ids. */
object Queries {

  final case class Q(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def ev(spark: SparkSession, sfDir: String): DataFrame =
    ChangeFeed.table(spark, sfDir, "events")

  /** Conditional pre-battery spread (r16 optimization; guide §2 —
    * parallelism before per-task work): the decode/encode/crypto battery
    * queries run their ENTIRE per-row battery below the plan's first
    * exchange, so a small table (one parquet split — the bench shape)
    * serializes the whole battery onto one core; measured 2.09 → 0.58 s
    * warm on `s1_wal2json_decode` at sf0.1/32. Same contract as
    * [[graft.pipeline.Spread]] (a no-op whenever the scan already
    * provides ≥ the session's shuffle parallelism — at corpus scale the
    * exchange never happens); what shuffles when it does fire is the
    * pre-battery projection, never battery output. Some call sites pass
    * the full-width frame and rely on Catalyst's ColumnPruning pushing
    * the projection below the repartition — VERIFIED in the committed
    * plan dumps (r16/r17 `*_after.txt`: every spread exchange carries
    * only the downstream-used columns, e.g. 4 of events' 6 for
    * `s7_send_id_splice`); re-check the dump when adding a site. */
  private def spread(df: DataFrame, by: String): DataFrame =
    graft.pipeline.Spread(df, col(by))

  /** Apply a filter-DSL string to the events table (P1 parse + P2 compile). */
  private def dsl(filterDsl: String)(spark: SparkSession, sfDir: String): DataFrame = {
    val df = ev(spark, sfDir)
    val filters = FilterParser.parse(filterDsl)
      .fold(e => throw new IllegalArgumentException(e), identity)
    df.where(FilterCompiler.compileAll(filters, df.schema))
  }

  private val evCols = "event_id, ts, user_id, event_type, value, props"

  /** One query per filter operator (P2's 13 ops), DSL-parsed and compiled,
    * each with a plain-SQL oracle. */
  private val filterOps: Seq[Q] = Seq(
    Q("p2_filter_eq", dsl("event_type=eq.click"),
      Some(s"SELECT $evCols FROM events WHERE event_type = 'click'")),
    Q("p2_filter_neq", dsl("event_type=neq.view"),
      Some(s"SELECT $evCols FROM events WHERE event_type != 'view'")),
    Q("p2_filter_lt", dsl("value=lt.5.5"),
      Some(s"SELECT $evCols FROM events WHERE value < 5.5")),
    Q("p2_filter_lte", dsl("value=lte.10"),
      Some(s"SELECT $evCols FROM events WHERE value <= 10")),
    Q("p2_filter_gt", dsl("user_id=gt.40"),
      Some(s"SELECT $evCols FROM events WHERE user_id > 40")),
    Q("p2_filter_gte", dsl("value=gte.99"),
      Some(s"SELECT $evCols FROM events WHERE value >= 99")),
    Q("p2_filter_in", dsl("event_type=in.(click,view)"),
      Some(s"SELECT $evCols FROM events WHERE event_type IN ('click','view')")),
    Q("p2_filter_like", dsl("event_type=like.c%"),
      Some(s"SELECT $evCols FROM events WHERE event_type LIKE 'c%'")),
    Q("p2_filter_ilike", dsl("event_type=ilike.C%"),
      Some(s"SELECT $evCols FROM events WHERE event_type ILIKE 'C%'")),
    Q("p2_filter_match", dsl("event_type=match.^(click|error)$"),
      Some(s"SELECT $evCols FROM events WHERE regexp_matches(event_type, '^(click|error)$$')")),
    Q("p2_filter_imatch", dsl("event_type=imatch.^CLICK$"),
      Some(s"SELECT $evCols FROM events WHERE regexp_matches(event_type, '(?i)^CLICK$$')")),
    Q("p2_filter_isdistinct", dsl("event_type=isdistinct.click"),
      Some(s"SELECT $evCols FROM events WHERE event_type IS DISTINCT FROM 'click'")),
    // `is` needs a boolean column; derive a nullable flag from value.
    Q("p2_filter_is",
      (s, d) => {
        val df = ev(s, d).withColumn("flag",
          when(col("value") > 50, lit(true))
            .when(col("value") < 10, lit(false)))
        val fs = FilterParser.parse("flag=is.false").toOption.get
        df.where(FilterCompiler.compileAll(fs, df.schema)).drop("flag")
      },
      Some(s"""SELECT $evCols FROM events
               WHERE (CASE WHEN value > 50 THEN true WHEN value < 10 THEN false END)
                     IS NOT DISTINCT FROM false""")),
    // `not.` negation across op families (P2 negate wrap).
    Q("p2_filter_negate",
      dsl("user_id=not.in.(1,2,3),event_type=not.like.c%,value=not.lt.50"),
      Some(s"""SELECT $evCols FROM events
               WHERE user_id NOT IN (1,2,3)
                 AND event_type NOT LIKE 'c%'
                 AND NOT (value < 50)"""))
  )

  /** The flagship subscription set for the J1 match (mix of actions + ops). */
  val flagshipSubs: Seq[Subscription] = Seq(
    Subscription("sub01", "public", "events",
      FilterParser.parse("value=gt.50,event_type=eq.click").toOption.get,
      actionFilter = "INSERT"),
    Subscription("sub02", "public", "events",
      FilterParser.parse("user_id=in.(1,2,3)").toOption.get),
    Subscription("sub03", "public", "events",
      FilterParser.parse("event_type=not.like.c%").toOption.get),
    Subscription("sub04", "public", "events",
      FilterParser.parse("value=lte.10").toOption.get,
      actionFilter = "UPDATE"),
    Subscription("sub05", "public", "events", Nil, actionFilter = "DELETE"),
    Subscription("sub06", "public", "events",
      FilterParser.parse("user_id=gte.45,value=lt.20").toOption.get)
  )

  /** Shared oracle CTE deriving the deterministic change feed from events. */
  private val changesCte =
    """WITH changes AS (
      |  SELECT *, CASE WHEN event_id % 10 < 6 THEN 'INSERT'
      |                 WHEN event_id % 10 < 9 THEN 'UPDATE'
      |                 ELSE 'DELETE' END AS change_type
      |  FROM events)""".stripMargin

  /** J1: change ⨝ subscriptions via the compiled predicate battery; exploded
    * to one row per (change, matching subscription). */
  def walrusMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val events = ev(spark, sfDir)
    val changes = ChangeFeed.fromTable(events, "event_id", "ts", "events")
    val dataSchema = events.schema
    // explode_outer + post-filter on the GENERATED column: plain explode
    // makes InferFiltersFromGenerate add a pre-Generate filter that
    // re-evaluates the whole predicate battery (size(...)>0); the outer
    // variant keeps the battery to exactly one evaluation per change and
    // the null rows are dropped by a cheap attribute filter after
    Walrus.matchSubscriptions(changes, flagshipSubs, dataSchema, "events")
      .select(col("event_id"),
        explode_outer(col("subscription_ids")).as("subscription_id"))
      .where(col("subscription_id").isNotNull)
  }

  private val walrusOracle =
    s"""$changesCte,
       |m AS (
       |  SELECT event_id, 'sub01' AS subscription_id FROM changes
       |    WHERE change_type = 'INSERT' AND value > 50 AND event_type = 'click'
       |  UNION ALL SELECT event_id, 'sub02' FROM changes WHERE user_id IN (1,2,3)
       |  UNION ALL SELECT event_id, 'sub03' FROM changes WHERE event_type NOT LIKE 'c%'
       |  UNION ALL SELECT event_id, 'sub04' FROM changes
       |    WHERE change_type = 'UPDATE' AND value <= 10
       |  UNION ALL SELECT event_id, 'sub05' FROM changes WHERE change_type = 'DELETE'
       |  UNION ALL SELECT event_id, 'sub06' FROM changes
       |    WHERE user_id >= 45 AND value < 20)
       |SELECT event_id, subscription_id FROM m""".stripMargin

  /** P5: action filter routing — count matched changes per subscription. */
  def actionFilterCounts(spark: SparkSession, sfDir: String): DataFrame =
    walrusMatch(spark, sfDir)
      .groupBy("subscription_id").agg(count("*").as("n_changes"))

  /** J1 via the degenerate-case generic evaluator — must equal the compiled
    * path bit-for-bit (same oracle). */
  def walrusGeneric(spark: SparkSession, sfDir: String): DataFrame = {
    val events = ev(spark, sfDir)
    val changes = ChangeFeed.fromTable(
      spread(events, "event_id"), "event_id", "ts", "events")
    graft.walrus.GenericMatch.matchExploded(
      changes, flagshipSubs, events.schema, "events", "event_id")
  }

  /** 200 generated subscriptions across ops/actions — the N-subs × M-changes
    * fan-out (SURVEY §7.4) at a realistic registry size. The Spark side and
    * the oracle SQL are generated from the same parameters. */
  val manySubs: Seq[(Subscription, String)] = (0 until 200).map { i =>
    val action = Seq("*", "INSERT", "UPDATE", "DELETE")(i % 4)
    val et = Seq("click", "view", "error", "purchase", "signup")(i % 5)
    val thr = (i * 37) % 100
    val (dsl, where) = (i % 8) match {
      case 0 => (s"value=gt.$thr", s"value > $thr")
      case 1 => (s"value=lte.$thr", s"value <= $thr")
      case 2 => (s"event_type=eq.$et", s"event_type = '$et'")
      case 3 =>
        val ids = Seq(i % 50, (i + 7) % 50, (i + 13) % 50)
        (s"user_id=in.(${ids.mkString(",")})", s"user_id IN (${ids.mkString(",")})")
      case 4 => (s"event_type=not.eq.$et,value=gte.$thr",
        s"event_type != '$et' AND value >= $thr")
      case 5 => (s"event_type=like.${et.take(2)}%", s"event_type LIKE '${et.take(2)}%'")
      case 6 => (s"value=lt.$thr,user_id=gt.${i % 40}",
        s"value < $thr AND user_id > ${i % 40}")
      case _ => (s"event_type=imatch.^${et.toUpperCase}$$",
        s"regexp_matches(event_type, '(?i)^${et.toUpperCase}$$')")
    }
    val id = f"m$i%03d"
    val sub = Subscription(id, "public", "events",
      FilterParser.parse(dsl).fold(e => sys.error(e), identity),
      actionFilter = action)
    val actionCond = if (action == "*") "" else s"change_type = '$action' AND "
    (sub, s"SELECT event_id, '$id' AS subscription_id FROM changes WHERE $actionCond($where)")
  }

  def walrusMatch200(spark: SparkSession, sfDir: String): DataFrame = {
    val events = ev(spark, sfDir)
    val changes = ChangeFeed.fromTable(
      spread(events, "event_id"), "event_id", "ts", "events")
    Walrus.matchSubscriptions(changes, manySubs.map(_._1), events.schema, "events")
      .select(col("event_id"),
        explode_outer(col("subscription_ids")).as("subscription_id"))
      .where(col("subscription_id").isNotNull)
  }

  private val walrus200Oracle =
    s"""$changesCte
       |${manySubs.map(_._2).mkString("", "\nUNION ALL ", "")}""".stripMargin

  /** TRUNCATE routing: truncate rows (no row data) reach `*`-action
    * subscribers only, with filters bypassed. */
  def walrusTruncate(spark: SparkSession, sfDir: String): DataFrame = {
    val events = ev(spark, sfDir)
    val changes = ChangeFeed.fromTable(events, "event_id", "ts", "events")
      .withColumn(Walrus.TypeCol,
        when(col("event_id") % 17 === 0, "TRUNCATE").otherwise(col(Walrus.TypeCol)))
    Walrus.matchSubscriptions(changes, flagshipSubs, events.schema, "events")
      .select(col("event_id"), col(Walrus.TypeCol),
        explode_outer(col("subscription_ids")).as("subscription_id"))
      .where(col("subscription_id").isNotNull)
  }

  private val truncateOracle =
    """WITH changes AS (
      |  SELECT *, CASE WHEN event_id % 17 = 0 THEN 'TRUNCATE'
      |                 WHEN event_id % 10 < 6 THEN 'INSERT'
      |                 WHEN event_id % 10 < 9 THEN 'UPDATE'
      |                 ELSE 'DELETE' END AS change_type
      |  FROM events)
      |SELECT event_id, change_type, 'sub01' AS subscription_id FROM changes
      |  WHERE change_type = 'INSERT' AND value > 50 AND event_type = 'click'
      |UNION ALL SELECT event_id, change_type, 'sub02' FROM changes
      |  WHERE change_type = 'TRUNCATE' OR user_id IN (1,2,3)
      |UNION ALL SELECT event_id, change_type, 'sub03' FROM changes
      |  WHERE change_type = 'TRUNCATE' OR event_type NOT LIKE 'c%'
      |UNION ALL SELECT event_id, change_type, 'sub04' FROM changes
      |  WHERE change_type = 'UPDATE' AND value <= 10
      |UNION ALL SELECT event_id, change_type, 'sub05' FROM changes
      |  WHERE change_type = 'DELETE'
      |UNION ALL SELECT event_id, change_type, 'sub06' FROM changes
      |  WHERE change_type = 'TRUNCATE' OR (user_id >= 45 AND value < 20)""".stripMargin

  private val coreQueries: Seq[Q] = Seq(
    Q("j1_walrus_match", walrusMatch, Some(walrusOracle)),
    Q("j1_walrus_generic", walrusGeneric, Some(walrusOracle)),
    Q("j1_walrus_200subs", walrusMatch200, Some(walrus200Oracle)),
    Q("p5_action_filter", actionFilterCounts,
      Some(s"SELECT subscription_id, count(*) AS n_changes FROM ($walrusOracle) GROUP BY 1")),
    Q("p_truncate_routing", walrusTruncate, Some(truncateOracle)),
    // apply_rls's DELETE visibility arm (…20260709…ex:231-239): a DELETE
    // carries NO new column images, so its filters evaluate the OLD
    // (identity) values — modeled via Walrus.deleteFilterSource, with the
    // old image deliberately DIFFERENT from the event values (value+30,
    // upper(type), user_id+1) so the oracle can only agree if deletes
    // really matched through the old image and everything else through
    // the new one.
    Q("p_delete_old_visibility",
      (s, d) => {
        val m = pmod(col("event_id"), lit(10))
        val tpe = when(m < 6, "INSERT").when(m < 9, "UPDATE")
          .otherwise("DELETE")
        val isDel = tpe === "DELETE"
        val events = ev(s, d)
        val changes = events.select(
          col("event_id"),
          tpe.as(Walrus.TypeCol),
          when(!isDel, col("value")).as("value"),
          when(!isDel, col("event_type")).as("event_type"),
          when(!isDel, col("user_id")).as("user_id"),
          when(isDel, col("value") + 30).as("old_value"),
          when(isDel, upper(col("event_type"))).as("old_event_type"),
          when(isDel, col("user_id") + 1).as("old_user_id"))
        val schema = org.apache.spark.sql.types.StructType(
          events.schema.fields.filter(f =>
            Seq("value", "event_type", "user_id").contains(f.name)))
        val src = Walrus.deleteFilterSource(changes,
          Seq("value", "event_type", "user_id"))
        Walrus.matchSubscriptions(src, flagshipSubs, schema, "events")
          .select(col("event_id"), col(Walrus.TypeCol).as("change_type"),
            explode_outer(col("subscription_ids")).as("subscription_id"))
          .where(col("subscription_id").isNotNull)
      },
      Some("""WITH changes AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 10 < 6 THEN 'INSERT'
        |         WHEN event_id % 10 < 9 THEN 'UPDATE'
        |         ELSE 'DELETE' END AS change_type,
        |    CASE WHEN event_id % 10 >= 9 THEN value + 30
        |         ELSE value END AS value,
        |    CASE WHEN event_id % 10 >= 9 THEN upper(event_type)
        |         ELSE event_type END AS event_type,
        |    CASE WHEN event_id % 10 >= 9 THEN user_id + 1
        |         ELSE user_id END AS user_id
        |  FROM events),
        |m AS (
        |  SELECT event_id, change_type, 'sub01' AS subscription_id
        |    FROM changes
        |    WHERE change_type = 'INSERT' AND value > 50
        |      AND event_type = 'click'
        |  UNION ALL SELECT event_id, change_type, 'sub02' FROM changes
        |    WHERE user_id IN (1,2,3)
        |  UNION ALL SELECT event_id, change_type, 'sub03' FROM changes
        |    WHERE event_type NOT LIKE 'c%'
        |  UNION ALL SELECT event_id, change_type, 'sub04' FROM changes
        |    WHERE change_type = 'UPDATE' AND value <= 10
        |  UNION ALL SELECT event_id, change_type, 'sub05' FROM changes
        |    WHERE change_type = 'DELETE'
        |  UNION ALL SELECT event_id, change_type, 'sub06' FROM changes
        |    WHERE user_id >= 45 AND value < 20)
        |SELECT event_id, change_type, subscription_id FROM m""".stripMargin))
  )

  // ---------------------------------------------------------------- messages

  /** Model the message log from the events table (deterministic mapping used
    * identically by the oracles). */
  def messagesFromEvents(spark: SparkSession, sfDir: String): DataFrame =
    ev(spark, sfDir).select(
      col("event_id").as("id"),
      col("event_type").as("topic"),
      col("props").as("payload"),
      (col("user_id") % 2 === 0).as("private"),
      lit("broadcast").as("extension"),
      col("ts").as("inserted_at"))

  private val msgsCte =
    """WITH msgs AS (
      |  SELECT event_id AS id, event_type AS topic, props AS payload,
      |         (user_id % 2 = 0) AS private, 'broadcast' AS extension,
      |         ts AS inserted_at
      |  FROM events)""".stripMargin

  private val since = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
  private val now = java.sql.Timestamp.valueOf("2024-01-10 12:00:00")

  private val messageQueries: Seq[Q] = Seq(
    Q("w1_replay_topk",
      (s, d) => Messages.replay(messagesFromEvents(s, d), "click", since, now, 25)
        .select("topic", "id", "inserted_at"),
      Some(s"""$msgsCte
        |SELECT topic, id, inserted_at FROM (
        |  SELECT topic, id, inserted_at,
        |         row_number() OVER (ORDER BY inserted_at DESC, id DESC) rn
        |  FROM msgs
        |  WHERE private AND extension = 'broadcast' AND topic = 'click'
        |    AND inserted_at >= TIMESTAMP '2024-01-05 00:00:00'
        |    AND inserted_at < TIMESTAMP '2024-01-10 12:01:00')
        |WHERE rn <= 25""".stripMargin)),
    Q("w1_replay_per_topic",
      (s, d) => Messages.replayPerTopic(messagesFromEvents(s, d), since, now, 25)
        .select("topic", "id", "inserted_at"),
      Some(s"""$msgsCte
        |SELECT topic, id, inserted_at FROM (
        |  SELECT topic, id, inserted_at,
        |         row_number() OVER (PARTITION BY topic
        |                            ORDER BY inserted_at DESC, id DESC) rn
        |  FROM msgs
        |  WHERE private AND extension = 'broadcast'
        |    AND inserted_at >= TIMESTAMP '2024-01-05 00:00:00'
        |    AND inserted_at < TIMESTAMP '2024-01-10 12:01:00')
        |WHERE rn <= 25""".stripMargin)),
    // Join-time replay (realtime_channel.ex:92-94,1041-1096): arm order
    // (unauthorized before the public-channel check), non-map replay =
    // silent empty-ok, raw-param defaults (limit || 25, since has NO
    // default), the max(min(l,25),1) clamp, and empty-ok joins emitting
    // one null row.
    Q("w1_replay_on_join",
      (s, d) => {
        val topics = array(lit("click"), lit("error"), lit("purchase"),
          lit("signup"), lit("view"), lit("ghost"))
        val joins = ev(s, d).groupBy(col("user_id").as("uid"))
          .agg(min(col("event_id")).as("join_id"))
          .select(col("join_id"),
            element_at(topics,
              (pmod(col("uid"), lit(6)) + 1).cast("int")).as("topic"),
            (col("uid") % 2 === 0).as("private"),
            (col("uid") % 5 =!= 0).as("read_policy"),
            (col("uid") % 3 =!= 0).as("replay_requested"),
            (col("uid") % 7 =!= 0).as("replay_is_map"),
            when(col("uid") % 11 === 0, lit(null).cast("string"))
              .when(col("uid") % 11 === 1, "x")
              .otherwise((lit(1704412800000L) +
                (col("uid") % 4) * 86400000L).cast("string"))
              .as("since_raw"),
            when(col("uid") % 13 === 1, "3")
              .when(col("uid") % 13 === 2, "0")
              .when(col("uid") % 13 === 3, "abc")
              .when(col("uid") % 13 === 4, "100")
              .otherwise(lit(null).cast("string")).as("limit_raw"))
        Messages.replayOnJoin(joins, messagesFromEvents(s, d), now)
      },
      Some(s"""$msgsCte,
        |j AS (
        |  SELECT min(event_id) AS join_id, user_id AS uid
        |  FROM events GROUP BY user_id),
        |jd AS (
        |  SELECT join_id, uid,
        |    list_extract(['click','error','purchase','signup','view',
        |                  'ghost'], CAST(uid % 6 + 1 AS INT)) AS topic,
        |    (uid % 2 = 0) AS private, (uid % 5 != 0) AS read_policy,
        |    (uid % 3 != 0) AS requested, (uid % 7 != 0) AS is_map,
        |    CASE WHEN uid % 11 = 0 THEN NULL WHEN uid % 11 = 1 THEN 'x'
        |         ELSE CAST(1704412800000 + (uid % 4) * 86400000 AS VARCHAR)
        |    END AS since_raw,
        |    CASE uid % 13 WHEN 1 THEN '3' WHEN 2 THEN '0' WHEN 3 THEN 'abc'
        |         WHEN 4 THEN '100' ELSE NULL END AS limit_raw
        |  FROM j),
        |st AS (
        |  SELECT *,
        |    CASE WHEN requested AND NOT read_policy THEN 'unauthorized'
        |         WHEN requested AND NOT private THEN 'invalid_replay_channel'
        |         WHEN requested AND is_map AND (since_raw IS NULL
        |              OR NOT regexp_matches(since_raw, '^-?\\d+$$')
        |              OR (limit_raw IS NOT NULL
        |                  AND NOT regexp_matches(limit_raw, '^-?\\d+$$')))
        |           THEN 'invalid_replay_params'
        |         ELSE 'ok' END AS status
        |  FROM jd),
        |wants AS (
        |  SELECT join_id, status, topic,
        |    CAST(since_raw AS BIGINT) AS since_ms,
        |    greatest(least(coalesce(TRY_CAST(limit_raw AS BIGINT), 25), 25),
        |             1) AS lim
        |  FROM st WHERE status = 'ok' AND requested AND is_map),
        |rep AS (
        |  SELECT w.join_id, w.status, w.lim, m.id, m.inserted_at,
        |    row_number() OVER (PARTITION BY w.join_id
        |                       ORDER BY m.inserted_at DESC, m.id DESC) AS rn
        |  FROM wants w LEFT JOIN msgs m
        |    ON m.topic = w.topic AND m.private AND m.extension = 'broadcast'
        |   AND m.inserted_at >= epoch_ms(w.since_ms)
        |   AND m.inserted_at < TIMESTAMP '2024-01-10 12:01:00')
        |SELECT join_id, status, id AS message_id,
        |       epoch_us(inserted_at) AS inserted_us FROM rep
        |WHERE id IS NULL OR rn <= lim
        |UNION ALL
        |SELECT join_id, status, CAST(NULL AS BIGINT),
        |       CAST(NULL AS BIGINT)
        |FROM st WHERE NOT (status = 'ok' AND requested AND is_map)"""
        .stripMargin)),
    Q("s4_message_scan",
      (s, d) => messagesFromEvents(s, d)
        .where(col("topic") === "error" &&
          col("inserted_at") >= lit(since) && col("inserted_at") < lit(now))
        .select("id", "topic", "payload", "inserted_at"),
      Some(s"""$msgsCte
        |SELECT id, topic, payload, inserted_at FROM msgs
        |WHERE topic = 'error'
        |  AND inserted_at >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND inserted_at < TIMESTAMP '2024-01-10 12:00:00'""".stripMargin)),
    Q("u3_replay_dedup",
      (s, d) => {
        val msgs = messagesFromEvents(s, d)
        val replayed = Messages.replay(msgs, "click", since, now, 25)
        val live = msgs.where(col("topic") === "click" &&
          col("inserted_at") >= lit(since))
        Messages.dedupAgainstReplayed(live, replayed)
          .select("id", "topic", "inserted_at")
      },
      Some(s"""$msgsCte,
        |replayed AS (
        |  SELECT id FROM (
        |    SELECT id, row_number() OVER (ORDER BY inserted_at DESC, id DESC) rn
        |    FROM msgs
        |    WHERE private AND extension = 'broadcast' AND topic = 'click'
        |      AND inserted_at >= TIMESTAMP '2024-01-05 00:00:00'
        |      AND inserted_at < TIMESTAMP '2024-01-10 12:01:00')
        |  WHERE rn <= 25)
        |SELECT id, topic, inserted_at FROM msgs
        |WHERE topic = 'click' AND inserted_at >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND id NOT IN (SELECT id FROM replayed)""".stripMargin)),
    Q("w2_retention",
      (s, d) => Messages.retained(messagesFromEvents(s, d),
          java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
        .groupBy("topic").agg(count(lit(1)).as("n_retained")),
      Some(s"""$msgsCte
        |SELECT topic, count(*) AS n_retained FROM msgs
        |WHERE inserted_at >= TIMESTAMP '2024-01-17 00:00:00'
        |GROUP BY 1""".stripMargin)),
    // S7 bridge: trigger-driven broadcast_changes/send_binary end-to-end —
    // change rows shaped into send() payloads, message rows streamed back
    // out as broadcast frames (encoding-split, size-validated), plus the
    // raise path (invalid operation) as error rows.
    Q("s7_broadcast_changes",
      (s, d) => {
        import graft.messages.BroadcastChanges
        val ops = array(lit("INSERT"), lit("UPDATE"), lit("DELETE"),
          lit("TRUNCATE"))
        val rec = to_json(map(
          lit("event_id"), col("event_id").cast("string"),
          lit("user_id"), col("user_id").cast("string")))
        val old = to_json(map(
          lit("event_id"), col("event_id").cast("string"),
          lit("user_id"), (col("user_id") - 1).cast("string")))
        val changes = ev(s, d).select(
          col("event_id").as("id"),
          col("event_type"),
          element_at(ops, (pmod(col("event_id"), lit(4)) + 1).cast("int"))
            .as("operation"),
          when(pmod(col("event_id"), lit(4)).isin(0, 1), rec).as("record"),
          when(pmod(col("event_id"), lit(4)).isin(1, 2), old).as("old_record"),
          lit("events").as("table_name"),
          lit("public").as("table_schema"),
          col("ts").as("inserted_at"))
        val bridged = BroadcastChanges.changesToMessages(changes,
          topicCol = col("event_type"), eventCol = lit("db_change"))
        val binMsgs = BroadcastChanges.sendBinary(
          ChangeFeed.table(s, d, "documents"),
          payloadCol = encode(col("text"), "UTF-8"),
          eventCol = lit("bin_doc"), topicCol = col("source"),
          idCol = col("doc_id"),
          insertedAtCol = lit("2024-01-01 00:00:00").cast("timestamp"))
        val outCols = Seq("tenant_topic", "user_event", "encoding",
          "payload_text", "payload_hex", "metadata_id", "status")
        val frames = BroadcastChanges.streamOut(
            bridged.where(col("error").isNull).unionByName(binMsgs),
            tenantId = "t0", maxPayloadKb = 0L)
          .withColumn("payload_hex", hex(col("payload_binary")))
          .select(outCols.map(col): _*)
        val rejected = bridged.where(col("error").isNotNull).select(
          lit(null).cast("string").as("tenant_topic"),
          lit(null).cast("string").as("user_event"),
          lit(null).cast("string").as("encoding"),
          lit(null).cast("string").as("payload_text"),
          lit(null).cast("string").as("payload_hex"),
          col("id").as("metadata_id"),
          col("error").as("status"))
        frames.unionByName(rejected)
      },
      Some("""WITH changes AS (
        |  SELECT event_id AS id, event_type AS topic,
        |    list_extract(['INSERT','UPDATE','DELETE','TRUNCATE'],
        |                 CAST(event_id % 4 + 1 AS INT)) AS operation,
        |    CASE WHEN event_id % 4 IN (0, 1) THEN
        |      to_json(MAP {'event_id': event_id::VARCHAR,
        |                   'user_id': user_id::VARCHAR})::VARCHAR END AS record,
        |    CASE WHEN event_id % 4 IN (1, 2) THEN
        |      to_json(MAP {'event_id': event_id::VARCHAR,
        |                   'user_id': (user_id - 1)::VARCHAR})::VARCHAR END AS old_record
        |  FROM events),
        |json_msgs AS (
        |  SELECT id, topic, 'db_change' AS user_event,
        |    '{"old_record":' || coalesce(old_record, 'null') ||
        |    ',"record":' || coalesce(record, 'null') ||
        |    ',"operation":"' || operation ||
        |    '","table":"events","schema":"public","id":"' || id || '"}'
        |      AS payload
        |  FROM changes WHERE operation IN ('INSERT','UPDATE','DELETE')),
        |bin_msgs AS (
        |  SELECT doc_id AS id, source AS topic, 'bin_doc' AS user_event,
        |         encode(text) AS body
        |  FROM documents),
        |frames AS (
        |  SELECT 't0-private:' || topic AS tenant_topic, user_event,
        |    'json' AS encoding,
        |    CASE WHEN octet_length(encode(payload)) <= 500
        |         THEN payload END AS payload_text,
        |    NULL::VARCHAR AS payload_hex,
        |    id AS metadata_id,
        |    CASE WHEN octet_length(encode(payload)) > 500
        |         THEN 'payload_size_exceeded' ELSE 'delivered' END AS status
        |  FROM json_msgs
        |  UNION ALL
        |  SELECT 't0-private:' || topic, user_event, 'binary',
        |    NULL::VARCHAR,
        |    CASE WHEN octet_length(body) <= 500 THEN hex(body) END,
        |    id,
        |    CASE WHEN octet_length(body) > 500
        |         THEN 'payload_size_exceeded' ELSE 'delivered' END
        |  FROM bin_msgs),
        |rejected AS (
        |  SELECT NULL::VARCHAR AS tenant_topic, NULL::VARCHAR AS user_event,
        |    NULL::VARCHAR AS encoding, NULL::VARCHAR AS payload_text,
        |    NULL::VARCHAR AS payload_hex, id AS metadata_id,
        |    'unexpected_operation' AS status
        |  FROM changes WHERE operation NOT IN ('INSERT','UPDATE','DELETE'))
        |SELECT * FROM frames UNION ALL SELECT * FROM rejected""".stripMargin)),
    // realtime.send's id-if-absent payload splice in isolation
    // (…20251103001201_broadcast_send_include_payload_id.ex:19-23): a
    // mix of payloads that carry their own id (kept verbatim), carry an
    // EXPLICIT null id (key exists — kept, the `payload ? 'id'` contract),
    // and lack the key entirely (generated id spliced in). The generated
    // id is a deterministic uuid shape so the oracle replays it.
    Q("s7_send_id_splice",
      (s, d) => {
        import graft.messages.BroadcastChanges
        // the md5 is bound ONCE behind an EvalOnce fence: the uuid
        // shape slices it five times and send() references the id
        // three more (id column + the two splice arms) — unfenced,
        // CollapseProject inlined the digest 15x per row (DupExprScan)
        val withH = spread(ev(s, d), "event_id")
          .withColumn("h", graft.plans.EvalOnce.of(
            md5(concat(lit("send-id:"), col("event_id")))))
        val genId = concat_ws("-",
          substring(col("h"), 1, 8), substring(col("h"), 9, 4),
          substring(col("h"), 13, 4), substring(col("h"), 17, 4),
          substring(col("h"), 21, 12))
        val payload =
          when(pmod(col("event_id"), lit(3)) === 0,
            concat(lit("{\"id\":\"client-"), col("event_id"),
              lit("\",\"v\":"), col("user_id"), lit("}")))
          .when(pmod(col("event_id"), lit(3)) === 1,
            concat(lit("{\"id\":null,\"v\":"), col("user_id"), lit("}")))
          .otherwise(concat(lit("{\"v\":"), col("user_id"), lit("}")))
        BroadcastChanges.send(withH, payloadCol = payload,
            eventCol = lit("msg"), topicCol = col("event_type"),
            idCol = genId, insertedAtCol = col("ts"))
          .select("id", "payload", "event", "topic", "inserted_at")
      },
      Some("""WITH shaped AS (
        |  SELECT event_type, ts,
        |    md5('send-id:' || event_id) AS h,
        |    event_id % 3 AS m,
        |    CASE WHEN event_id % 3 = 0 THEN
        |           '{"id":"client-' || event_id || '","v":' || user_id || '}'
        |         WHEN event_id % 3 = 1 THEN
        |           '{"id":null,"v":' || user_id || '}'
        |         ELSE '{"v":' || user_id || '}' END AS payload
        |  FROM events),
        |ids AS (
        |  SELECT *, substr(h,1,8) || '-' || substr(h,9,4) || '-' ||
        |    substr(h,13,4) || '-' || substr(h,17,4) || '-' ||
        |    substr(h,21,12) AS gen_id
        |  FROM shaped)
        |SELECT gen_id AS id,
        |  CASE WHEN m = 2 THEN
        |         regexp_replace(payload, '\}$', '') ||
        |           ',"id":"' || gen_id || '"}'
        |       ELSE payload END AS payload,
        |  'msg' AS event, event_type AS topic, ts AS inserted_at
        |FROM ids""".stripMargin)),
    // The binary-payload broadcast END-TO-END (r14 verdict task 2):
    // bytea payloads through `realtime.send_binary` semantics
    // (…/20260603120000_add_send_binary_function.ex:8-31 — binary_payload
    // set, payload null, extension 'broadcast') → message-log scan → the
    // replication loop's payload pick (binary over json,
    // replication_connection.ex:515-517) → V2 `user_broadcast` binary
    // frame bytes (v2_serializer.ex:19-44: op=4, three one-byte sizes +
    // enc byte, metadata = json of %{"id" => id},
    // replication_connection.ex:425-431). Three legs keyed on the first
    // hex digit of the row's digest:
    //  0-3  binary only (send_binary — raw md5 bytes, NOT valid UTF-8);
    //  4-7  binary AND a shadow json payload both set — pick_payload must
    //       choose binary (frame bytes identical to the binary-only leg);
    //  8-f  json only (realtime.send, id-if-absent splice applied) —
    //       enc byte 1, payload = the spliced JSON text's UTF-8 bytes.
    // The Spark side drives the REAL codec (encodeUserBroadcast then a
    // decode round-trip); the oracle pins every frame byte arithmetically.
    Q("s7_send_binary",
      (s, d) => {
        import s.implicits._
        import graft.messages.BroadcastChanges
        import graft.api.V2Frames
        val tsLit = lit("2024-01-01 00:00:00").cast("timestamp")
        val withH = spread(ChangeFeed.table(s, d, "documents")
            .select(col("doc_id"), col("source")), "doc_id")
          .withColumn("h", graft.plans.EvalOnce.of(
            md5(concat(lit("bin:"), col("doc_id")))))
        val genId = concat_ws("-",
          substring(col("h"), 1, 8), substring(col("h"), 9, 4),
          substring(col("h"), 13, 4), substring(col("h"), 17, 4),
          substring(col("h"), 21, 12))
        val digit = substring(col("h"), 1, 1)
        val binDigits = Seq("0", "1", "2", "3", "4", "5", "6", "7")
        val binLeg = BroadcastChanges.sendBinary(
            withH.where(digit.isin(binDigits: _*)),
            payloadCol = unhex(col("h")), eventCol = lit("bin_doc"),
            topicCol = col("source"), idCol = genId,
            insertedAtCol = tsLit)
          // the both-set precedence rows: a shadow json payload the
          // pick MUST ignore in favor of binary_payload
          .withColumn("payload",
            when(substring(col("id"), 1, 1).isin("4", "5", "6", "7"),
              lit("""{"shadow":true}""")))
        // the payload is referenced 4x inside send()'s id-if-absent
        // splice and again by streamOut's size/status chains — fenced so
        // CollapseProject can't inline the concat at every reference
        // (unfenced, the fused projection's generated method read
        // 8218 B, over the 8 kB JIT ceiling — CodegenAudit)
        val jsonLeg = BroadcastChanges.send(
          withH.where(!digit.isin(binDigits: _*)),
          payloadCol = graft.plans.EvalOnce.of(
            concat(lit("{\"v\":"), col("doc_id"), lit("}"))),
          eventCol = lit("bin_doc"), topicCol = col("source"),
          idCol = genId, insertedAtCol = tsLit)
        val out = BroadcastChanges.streamOut(
            binLeg.unionByName(jsonLeg), tenantId = "t0", maxPayloadKb = 1L)
          .where(col("status") === "delivered")
          .select(col("tenant_topic"), col("user_event"), col("encoding"),
            coalesce(col("payload_binary"),
              to_binary(col("payload_text"), lit("utf-8"))).as("body"),
            col("metadata_id"))
          .as[(String, String, String, Array[Byte], String)]
        out.map { case (tt, ue, enc, body, mid) =>
          val bytes = V2Frames.encodeUserBroadcast(tt, ue,
            Some(s"""{"id":"$mid"}"""), payloadIsJson = enc == "json", body)
          val f = V2Frames.decode(bytes)
          (mid, f.topic, f.event, f.metadata, f.payload_is_json,
            V2Frames.hexUpper(f.payload), V2Frames.hexUpper(bytes))
        }.toDF("id", "topic", "user_event", "metadata", "payload_is_json",
          "payload_hex", "frame_hex")
      },
      Some("""WITH ids AS (
        |  SELECT doc_id, source, h,
        |    substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4)
        |      || '-' || substr(h,17,4) || '-' || substr(h,21,12) AS gen_id
        |  FROM (SELECT doc_id, source, md5('bin:' || doc_id) AS h
        |        FROM documents)),
        |msgs AS (
        |  SELECT gen_id AS id, source, substr(h,1,1) >= '8' AS is_json,
        |    CASE WHEN substr(h,1,1) >= '8'
        |         THEN hex(encode('{"v":' || doc_id || ',"id":"' || gen_id
        |                         || '"}'))
        |         ELSE upper(h) END AS payload_hex
        |  FROM ids),
        |f AS (
        |  SELECT id, 't0-private:' || source AS tt,
        |    'bin_doc' AS ue, '{"id":"' || id || '"}' AS md,
        |    is_json, payload_hex
        |  FROM msgs)
        |SELECT id, tt AS topic, ue AS user_event, md AS metadata,
        |  is_json AS payload_is_json, payload_hex,
        |  '04' || lpad(hex(octet_length(encode(tt))), 2, '0')
        |       || lpad(hex(octet_length(encode(ue))), 2, '0')
        |       || lpad(hex(octet_length(encode(md))), 2, '0')
        |       || CASE WHEN is_json THEN '01' ELSE '00' END
        |       || hex(encode(tt)) || hex(encode(ue)) || hex(encode(md))
        |       || payload_hex AS frame_hex
        |FROM f""".stripMargin)),
    // realtime.send's swallow-to-WARNING arm (r14 verdict task 3,
    // …/20260605120000_rename_broadcast_send_warning.ex): the INSERT is
    // wrapped in `BEGIN … EXCEPTION WHEN OTHERS THEN RAISE WARNING
    // 'WarnSendingBroadcastMessage: %', SQLERRM END` — a failed send
    // DROPS the message and logs; the caller NEVER sees an error (the
    // function returns void either way, hence caller_result = 'ok' on
    // every row). Poisoned mix: ~1/7 of rows fail as an RLS denial,
    // a further slice as the partition-create race
    // (…/20241030150047_messages_partitioning.ex:96-128's CREATE TABLE
    // arm) — both become WARNING side-output rows with a null payload
    // (the insert never happened); the inserted set is `error IS NULL`
    // with the id-if-absent splice applied as usual.
    Q("s7_send_warning",
      (s, d) => {
        import graft.messages.BroadcastChanges
        val withH = spread(ev(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("ts")), "event_id")
          .withColumn("h", graft.plans.EvalOnce.of(
            md5(concat(lit("warn:"), col("event_id")))))
        val genId = concat_ws("-",
          substring(col("h"), 1, 8), substring(col("h"), 9, 4),
          substring(col("h"), 13, 4), substring(col("h"), 17, 4),
          substring(col("h"), 21, 12))
        val sqlerrm =
          when(pmod(col("event_id"), lit(7)) === 0,
            lit("new row violates row-level security policy for table " +
              "\"messages\""))
          .when(pmod(col("event_id"), lit(11)) === 3,
            lit("relation \"messages_2024_01_01\" already exists"))
        BroadcastChanges.send(withH,
            payloadCol = concat(lit("{\"n\":"), col("user_id"), lit("}")),
            eventCol = lit("msg"), topicCol = col("event_type"),
            idCol = genId, insertedAtCol = col("ts"),
            insertErrorCol = sqlerrm)
          .select(col("id"), col("topic"), col("payload"),
            col("error").isNull.as("inserted"), col("error"),
            lit("ok").as("caller_result"))
      },
      Some("""WITH g AS (
        |  SELECT event_id, user_id, event_type,
        |    md5('warn:' || event_id) AS h,
        |    CASE WHEN event_id % 7 = 0 THEN
        |           'new row violates row-level security policy for table "messages"'
        |         WHEN event_id % 11 = 3 THEN
        |           'relation "messages_2024_01_01" already exists'
        |    END AS sqlerrm
        |  FROM events),
        |ids AS (
        |  SELECT *, substr(h,1,8) || '-' || substr(h,9,4) || '-' ||
        |    substr(h,13,4) || '-' || substr(h,17,4) || '-' ||
        |    substr(h,21,12) AS gen_id
        |  FROM g)
        |SELECT gen_id AS id, event_type AS topic,
        |  CASE WHEN sqlerrm IS NULL THEN
        |    '{"n":' || user_id || ',"id":"' || gen_id || '"}' END AS payload,
        |  (sqlerrm IS NULL) AS inserted,
        |  CASE WHEN sqlerrm IS NOT NULL THEN
        |    'WarnSendingBroadcastMessage: ' || sqlerrm END AS error,
        |  'ok' AS caller_result
        |FROM ids""".stripMargin)),
    // The replication loop's per-tenant rate limit (`check_rate_limit`,
    // replication_connection.ex:419-421) composed into streamOut: the
    // admission verdict is a (topic, minute)-partitioned rank — the
    // deterministic batch replay of a GenCounter events-per-second gate —
    // and rate-limited rows are skipped AFTER the size check, matching the
    // reference's with-chain order.
    Q("s7_rate_gated",
      (s, d) => {
        import graft.messages.BroadcastChanges
        import org.apache.spark.sql.expressions.Window
        val w = Window
          .partitionBy(col("topic"), expr("unix_micros(inserted_at) div 60000000"))
          .orderBy(col("id"))
        val msgs = messagesFromEvents(s, d)
          .withColumn("event", lit("change"))
          .withColumn("binary_payload", lit(null).cast("binary"))
          .withColumn("over_rate", row_number().over(w) > 1)
        BroadcastChanges.streamOut(msgs, "t0", 1L,
            rateLimited = col("over_rate"))
          .select("tenant_topic", "user_event", "encoding", "payload_text",
            "metadata_id", "status")
      },
      Some(s"""$msgsCte
        |SELECT CASE WHEN private THEN 't0-private:' || topic
        |            ELSE 't0:' || topic END AS tenant_topic,
        |  'change' AS user_event, 'json' AS encoding,
        |  CASE WHEN st = 'delivered' THEN payload END AS payload_text,
        |  id AS metadata_id, st AS status
        |FROM (
        |  SELECT *, CASE
        |      WHEN octet_length(encode(payload)) > 1500 THEN 'payload_size_exceeded'
        |      WHEN row_number() OVER (PARTITION BY topic, epoch_us(inserted_at)//60000000
        |                              ORDER BY id) > 1 THEN 'rate_limited'
        |      ELSE 'delivered' END AS st
        |  FROM msgs)""".stripMargin))
  )

  // ------------------------------------------------------------ aggregations

  private val aggQueries: Seq[Q] = Seq(
    Q("a1_counter",
      (s, d) => Rates.counter(ev(s, d), Seq("event_type")),
      Some("SELECT event_type, count(*) AS n FROM events GROUP BY 1")),
    Q("a2_rate_tumbling",
      (s, d) => Rates.tumbling(ev(s, d), "ts", Seq("event_type"), 60),
      Some("""SELECT event_type, count(*) AS n,
        |       (epoch_us(ts)//1000000//60)*60 AS bucket_s
        |FROM events GROUP BY event_type, bucket_s""".stripMargin)),
    Q("a2_rate_sliding",
      (s, d) => Rates.sliding(ev(s, d), "ts", Seq("event_type"), 60, 30),
      Some("""WITH b AS (
        |  SELECT event_type, (epoch_us(ts)//1000000//30)*30 AS bucket_s FROM events
        |  UNION ALL
        |  SELECT event_type, (epoch_us(ts)//1000000//30)*30 - 30 FROM events)
        |SELECT event_type, count(*) AS n, bucket_s FROM b GROUP BY event_type, bucket_s""".stripMargin)),
    Q("a2_rate_limit_trigger",
      (s, d) => Rates.overLimit(
        Rates.tumbling(ev(s, d), "ts", Seq("event_type"), 3600), 60),
      Some("""SELECT * FROM (
        |  SELECT event_type, count(*) AS n,
        |         (epoch_us(ts)//1000000//3600)*3600 AS bucket_s
        |  FROM events GROUP BY event_type, bucket_s)
        |WHERE n > 60""".stripMargin)),
    // client presence window (5 calls / 30 s, realtime_channel.ex:756):
    // rate-limited (topic, key) windows
    Q("a2_presence_window_limit",
      (s, d) => Rates.overLimit(
        Rates.tumbling(ev(s, d).select(
          col("event_type").as("topic"), col("user_id").as("key"), col("ts")),
          "ts", Seq("topic", "key"), 30), 5),
      Some("""SELECT * FROM (
        |  SELECT event_type AS topic, user_id AS key, count(*) AS n,
        |         (epoch_us(ts)//1000000//30)*30 AS bucket_s
        |  FROM events GROUP BY topic, key, bucket_s)
        |WHERE n > 5""".stripMargin)),
    // Join-admission replay (check_tenant: max_concurrent_users then the
    // joins-per-second RateCounter counting ADMITTED joins only,
    // tenant_rate_limiters.ex:12-43): sequential per-tenant feedback, so
    // the oracle is a recursive CTE carrying the tick ring as a list
    // column. Tick scaled to 1 h (the corpus is a 30-day trace; the
    // reference's 5 s × 12-bucket ring keeps its 12-tick shape); limit =
    // 1 join/tick-hour average, integer-exact on both engines.
    Q("a2_join_admission",
      (s, d) => Rates.joinAdmission(ev(s, d),
        tenantCol = "event_type", userCol = "user_id",
        tsCol = "ts", tieCol = "event_id", maxConcurrent = 100,
        limitNum = 1L, limitDen = 3600L, tickSec = 3600L, windowTicks = 12),
      Some("""WITH RECURSIVE att0 AS MATERIALIZED (
        |  SELECT event_type AS tenant, user_id AS usr,
        |         epoch_us(ts)//1000000//3600 AS tick,
        |         epoch_us(ts) AS us, event_id
        |  FROM events),
        |firsts AS MATERIALIZED (
        |  SELECT tenant, usr,
        |         row_number() OVER (PARTITION BY tenant ORDER BY us, event_id) AS conn_rank
        |  FROM (SELECT tenant, usr, us, event_id,
        |          row_number() OVER (PARTITION BY tenant, usr ORDER BY us, event_id) AS rn
        |        FROM att0) WHERE rn = 1),
        |att AS MATERIALIZED (
        |  SELECT a.*, f.conn_rank > 100 AS conn_over
        |  FROM att0 a JOIN firsts f USING (tenant, usr)),
        |tix AS MATERIALIZED (
        |  SELECT tenant, tick, n,
        |         row_number() OVER (PARTITION BY tenant ORDER BY tick) AS idx,
        |         min(tick) OVER (PARTITION BY tenant) AS first_tick
        |  FROM (SELECT tenant, tick, count(*) AS n FROM att
        |        WHERE NOT conn_over GROUP BY 1, 2)),
        |sim AS (
        |  SELECT tenant, idx, tick, first_tick, false AS flag,
        |         CAST(n AS BIGINT) AS admitted,
        |         [{'t': tick, 'c': CAST(n AS BIGINT)}] AS ring
        |  FROM tix WHERE idx = 1
        |  UNION ALL
        |  SELECT tenant, idx, tick, first_tick, flag,
        |         CASE WHEN flag THEN CAST(0 AS BIGINT) ELSE n END AS admitted,
        |         list_append(pruned,
        |           {'t': tick, 'c': CASE WHEN flag THEN CAST(0 AS BIGINT) ELSE n END}) AS ring
        |  FROM (
        |    SELECT t.tenant, t.idx, t.tick, t.first_tick, CAST(t.n AS BIGINT) AS n,
        |           list_filter(s.ring, x -> x.t >= t.tick - 12) AS pruned,
        |           least(12, t.tick - t.first_tick) > 0 AND
        |             coalesce(list_sum(list_transform(
        |               list_filter(s.ring, x -> x.t >= t.tick - 12 AND x.t < t.tick),
        |               x -> x.c)), 0) * 3600
        |             >= 1 * least(12, t.tick - t.first_tick) * 3600 AS flag
        |    FROM sim s JOIN tix t ON t.tenant = s.tenant AND t.idx = s.idx + 1))
        |SELECT a.tenant, a.event_id,
        |  CASE WHEN a.conn_over THEN 'too_many_connections'
        |       WHEN s.flag THEN 'too_many_joins' ELSE 'ok' END AS status
        |FROM att a LEFT JOIN sim s ON s.tenant = a.tenant AND s.tick = a.tick""".stripMargin)),
    // Batch-broadcast admission replay (check_rate_limit's two 429 modes +
    // admitted-only weighted counting, batch_broadcast.ex:170-184): one
    // batch per (tenant, user, day), hourly ticks. At replay density the
    // size-vs-rate check is the binding one — a size-2 batch is admitted
    // iff the 12-tick window holds nothing, which is exactly the feedback
    // the recursive oracle must replay; the spec covers `rate_limited`.
    Q("s8_batch_admission",
      (s, d) => Rates.batchAdmission(
        ev(s, d).groupBy(col("event_type"),
            col("user_id"), expr("unix_micros(ts) div 1000000 div 86400"))
          .agg(min(col("ts")).as("ts"), min(col("event_id")).as("batch_id"),
            count(lit(1)).as("n")),
        tenantCol = "event_type", tsCol = "ts", tieCol = "batch_id",
        sizeCol = "n", limitNum = 2L, limitDen = 1L, tickSec = 3600L,
        windowTicks = 12),
      Some("""WITH RECURSIVE bat AS MATERIALIZED (
        |  SELECT event_type AS tenant, min(epoch_us(ts)) AS us, min(event_id) AS batch_id,
        |         CAST(count(*) AS BIGINT) AS n,
        |         min(epoch_us(ts))//1000000//3600 AS tick
        |  FROM events GROUP BY event_type, user_id, epoch_us(ts)//1000000//86400),
        |tix AS MATERIALIZED (
        |  SELECT tenant, tick, sizes,
        |         row_number() OVER (PARTITION BY tenant ORDER BY tick) AS idx,
        |         min(tick) OVER (PARTITION BY tenant) AS first_tick
        |  FROM (SELECT tenant, tick, list(n) AS sizes FROM bat GROUP BY 1,2)),
        |sim AS (
        |  SELECT tenant, idx, tick, first_tick,
        |         CAST(0 AS BIGINT) AS sum_ring, CAST(3600 AS BIGINT) AS l,
        |         [{'t': tick, 'c': coalesce(list_sum(list_filter(sizes,
        |             s -> s*3600*1 <= 2*3600)), 0)}] AS ring
        |  FROM tix WHERE idx = 1
        |  UNION ALL
        |  SELECT tenant, idx, tick, first_tick, sum_ring, l,
        |         list_append(list_filter(ring0, x -> x.t >= tick - 12),
        |           {'t': tick, 'c': CASE WHEN sum_ring*1 > 2*l THEN CAST(0 AS BIGINT)
        |              ELSE coalesce(list_sum(list_filter(sizes,
        |                s -> s*l*1 + sum_ring*1 <= 2*l)), 0) END}) AS ring
        |  FROM (
        |    SELECT t.tenant, t.idx, t.tick, t.first_tick, t.sizes, s.ring AS ring0,
        |           coalesce(list_sum(list_transform(
        |             list_filter(s.ring, x -> x.t >= t.tick - 12 AND x.t < t.tick),
        |             x -> x.c)), 0) AS sum_ring,
        |           greatest(least(12, t.tick - t.first_tick), 1) * 3600 AS l
        |    FROM sim s JOIN tix t ON t.tenant = s.tenant AND t.idx = s.idx + 1))
        |SELECT b.tenant, b.batch_id,
        |  CASE WHEN s.sum_ring*1 > 2*s.l THEN 'rate_limited'
        |       WHEN b.n*s.l*1 + s.sum_ring*1 > 2*s.l THEN 'batch_too_large'
        |       ELSE 'ok' END AS status
        |FROM bat b JOIN sim s ON s.tenant = b.tenant AND s.tick = b.tick""".stripMargin)),
    // CDC poller load shed (replication_poller.ex:404-421): a triggered
    // tenant counter drops the poll's real rows WHOLESALE; delivered
    // changes count into the ring weighted by their FAN-OUT
    // (GenCounter.add(|subscription_ids|)); the triggered flag is the
    // RateCounter's >= on the tick-snapshot avg.
    Q("s1_poll_shed",
      (s, d) => Rates.pollShed(
        ev(s, d).groupBy(col("event_type"),
            expr("unix_micros(ts) div 1000000 div 600"))
          .agg(min(col("ts")).as("ts"), min(col("event_id")).as("poll_id"),
            count(lit(1)).as("n"),
            sum(lit(1) + col("user_id") % 7).as("weight")),
        tenantCol = "event_type", tsCol = "ts", tieCol = "poll_id",
        nCol = "n", weightCol = "weight", limitNum = 10L,
        limitDen = 3600L, tickSec = 3600L, windowTicks = 12),
      Some("""WITH RECURSIVE pol AS MATERIALIZED (
        |  SELECT event_type AS tenant, min(epoch_us(ts)) AS us,
        |         min(event_id) AS poll_id,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(1 + user_id % 7) AS BIGINT) AS w,
        |         min(epoch_us(ts))//1000000//3600 AS tick
        |  FROM events GROUP BY event_type, epoch_us(ts)//1000000//600),
        |tix AS MATERIALIZED (
        |  SELECT tenant, tick, wsum,
        |         row_number() OVER (PARTITION BY tenant ORDER BY tick) AS idx,
        |         min(tick) OVER (PARTITION BY tenant) AS first_tick
        |  FROM (SELECT tenant, tick, CAST(sum(w) AS BIGINT) AS wsum
        |        FROM pol GROUP BY 1,2)),
        |sim AS (
        |  SELECT tenant, idx, tick, first_tick, false AS flagged,
        |         [{'t': tick, 'c': wsum}] AS ring
        |  FROM tix WHERE idx = 1
        |  UNION ALL
        |  SELECT tenant, idx, tick, first_tick, flag AS flagged,
        |         list_append(list_filter(ring0, x -> x.t >= tick - 12),
        |           {'t': tick, 'c': CASE WHEN flag THEN CAST(0 AS BIGINT)
        |                ELSE wsum END}) AS ring
        |  FROM (
        |    SELECT t.tenant, t.idx, t.tick, t.first_tick, t.wsum,
        |           s.ring AS ring0,
        |           coalesce(list_sum(list_transform(
        |             list_filter(s.ring, x -> x.t >= t.tick - 12
        |                                      AND x.t < t.tick),
        |             x -> x.c)), 0) * 3600
        |             >= 10 * greatest(least(12, t.tick - t.first_tick), 1)
        |                * 3600 AS flag
        |    FROM sim s JOIN tix t ON t.tenant = s.tenant
        |                         AND t.idx = s.idx + 1))
        |SELECT p.tenant, p.poll_id,
        |  CASE WHEN s.flagged AND p.n > 0 THEN 'shed' ELSE 'ok' END
        |    AS status
        |FROM pol p JOIN sim s ON s.tenant = p.tenant AND s.tick = p.tick"""
        .stripMargin)),
    // FULL batch endpoint pipeline (batch_broadcast.ex:51-95): suspend
    // clause first, ALL-OR-NOTHING changeset (one bad message rejects
    // the batch), rate checks on the full size but the ring counts only
    // DELIVERED messages (public + authz-passed private) — nAuth feeds
    // the ring, n feeds the checks.
    Q("s8_batch_pipeline",
      (s, d) => Rates.batchPipelineAdmission(
        ev(s, d).groupBy(col("event_type"),
            col("user_id"), expr("unix_micros(ts) div 1000000 div 86400"))
          .agg(min(col("ts")).as("ts"), min(col("event_id")).as("batch_id"),
            count(lit(1)).as("n"),
            sum(((col("event_id") % 2 =!= 0) ||
              ((col("event_id") % 40) % 5 =!= 0)).cast("long"))
              .as("n_auth"),
            max((col("event_id") % 23 === 0).cast("int")).cast("boolean")
              .as("any_invalid"))
          .withColumn("suspend", col("event_type") === "error"),
        tenantCol = "event_type", tsCol = "ts", tieCol = "batch_id",
        sizeCol = "n", authCol = "n_auth", suspendCol = "suspend",
        anyInvalidCol = "any_invalid", limitNum = 2L, limitDen = 1L,
        tickSec = 3600L, windowTicks = 12),
      Some("""WITH RECURSIVE bat AS MATERIALIZED (
        |  SELECT event_type AS tenant, min(epoch_us(ts)) AS us,
        |         min(event_id) AS batch_id,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN event_id % 2 != 0
        |                       OR (event_id % 40) % 5 != 0
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         max(event_id % 23 = 0) AS inv,
        |         (event_type = 'error') AS sus,
        |         min(epoch_us(ts))//1000000//3600 AS tick
        |  FROM events GROUP BY event_type, user_id,
        |                       epoch_us(ts)//1000000//86400),
        |tix AS MATERIALIZED (
        |  SELECT tenant, tick, entries,
        |         row_number() OVER (PARTITION BY tenant ORDER BY tick) AS idx,
        |         min(tick) OVER (PARTITION BY tenant) AS first_tick
        |  FROM (SELECT tenant, tick,
        |          list({'n': n, 'na': na, 'bad': (inv OR sus)}) AS entries
        |        FROM bat GROUP BY 1,2)),
        |sim AS (
        |  SELECT tenant, idx, tick, first_tick,
        |         CAST(0 AS BIGINT) AS sum_ring, CAST(3600 AS BIGINT) AS l,
        |         [{'t': tick, 'c': coalesce(list_sum(list_transform(
        |             list_filter(entries,
        |               e -> NOT e.bad AND e.n*3600*1 <= 2*3600),
        |             e -> e.na)), 0)}] AS ring
        |  FROM tix WHERE idx = 1
        |  UNION ALL
        |  SELECT tenant, idx, tick, first_tick, sum_ring, l,
        |         list_append(list_filter(ring0, x -> x.t >= tick - 12),
        |           {'t': tick,
        |            'c': CASE WHEN sum_ring*1 > 2*l THEN CAST(0 AS BIGINT)
        |              ELSE coalesce(list_sum(list_transform(
        |                list_filter(entries,
        |                  e -> NOT e.bad AND e.n*l*1 + sum_ring*1 <= 2*l),
        |                e -> e.na)), 0) END}) AS ring
        |  FROM (
        |    SELECT t.tenant, t.idx, t.tick, t.first_tick, t.entries,
        |           s.ring AS ring0,
        |           coalesce(list_sum(list_transform(
        |             list_filter(s.ring, x -> x.t >= t.tick - 12
        |                                      AND x.t < t.tick),
        |             x -> x.c)), 0) AS sum_ring,
        |           greatest(least(12, t.tick - t.first_tick), 1) * 3600 AS l
        |    FROM sim s JOIN tix t ON t.tenant = s.tenant
        |                         AND t.idx = s.idx + 1))
        |SELECT b.tenant, b.batch_id,
        |  CASE WHEN b.sus THEN 'forbidden_suspended'
        |       WHEN b.inv THEN 'invalid_batch'
        |       WHEN s.sum_ring*1 > 2*s.l THEN 'rate_limited'
        |       WHEN b.n*s.l*1 + s.sum_ring*1 > 2*s.l THEN 'batch_too_large'
        |       ELSE 'ok' END AS status
        |FROM bat b JOIN sim s ON s.tenant = b.tenant AND s.tick = b.tick"""
        .stripMargin)),
    // Single-broadcast admission replay (single_broadcast.ex:64-82): the
    // per-message HTTP endpoint's ordered gate chain — suspension first
    // (function clause), changeset validation (content-type inclusion,
    // payload presence, size INSIDE validation), avg >= max rate gate
    // (>=, not batch's strict >), then the write-authz probe; only ok
    // rows count into the ring. Oracle: per-tick recursion (no intra-tick
    // feedback — the avg reads completed ticks only).
    Q("s8_single_admission",
      (s, d) => {
        val e = ev(s, d)
        val tn = col("user_id") % 40
        val reqs = e.select(
          col("event_type").as("tenant"),
          col("ts"),
          col("event_id").as("req_id"),
          (col("event_type") === "error").as("suspend"),
          when(col("user_id") % 7 === 0, "text/plain")
            .when(col("user_id") % 2 === 0, "binary")
            .otherwise("json").as("content_type"),
          (col("user_id") % 13 =!= 0).as("payload_present"),
          (length(col("props")) * (col("user_id") % 3) * 100)
            .cast("long").as("payload_bytes"),
          (lit(1) + length(col("event_type")) % 2).as("max_payload_kb"),
          (col("user_id") % 2 === 0).as("private"),
          when(col("user_id") % 3 === 0, "service")
            .when(col("user_id") % 3 === 1, "authenticated")
            .otherwise("anon").as("role"),
          concat(lit("room:"), tn.cast("string")).as("topic"),
          tn.as("tn"))
        val topics = reqs.select("topic", "tn").distinct()
        val policies = topics.select(lit("service").as("role"), col("topic"))
          .unionByName(topics.where(col("tn") % 5 =!= 0)
            .select(lit("authenticated").as("role"), col("topic")))
        graft.messages.SingleBroadcast.admission(reqs.drop("tn"), policies,
          limitNum = 1L, limitDen = 3600L, tickSec = 3600L,
          windowTicks = 12)
      },
      Some("""WITH RECURSIVE req AS MATERIALIZED (
        |  SELECT event_type AS tenant, event_id AS req_id,
        |         epoch_us(ts)//1000000//3600 AS tick,
        |         (event_type = 'error') AS suspend,
        |         (CASE WHEN user_id%7=0 THEN 'text/plain'
        |               WHEN user_id%2=0 THEN 'binary' ELSE 'json' END
        |            IN ('json','binary')
        |          AND user_id%13 != 0
        |          AND length(props)*(user_id%3)*100
        |                <= (1 + length(event_type)%2)*1000 + 500) AS valid,
        |         ((user_id%2 != 0)
        |          OR (CASE user_id%3 WHEN 0 THEN true
        |                   WHEN 1 THEN (user_id%40)%5 != 0
        |                   ELSE false END)) AS write_allowed
        |  FROM events),
        |tix AS MATERIALIZED (
        |  SELECT tenant, tick, n_adm,
        |         row_number() OVER (PARTITION BY tenant ORDER BY tick) AS idx,
        |         min(tick) OVER (PARTITION BY tenant) AS first_tick
        |  FROM (SELECT tenant, tick,
        |          CAST(count(*) FILTER (
        |            WHERE NOT suspend AND valid AND write_allowed)
        |            AS BIGINT) AS n_adm
        |        FROM req GROUP BY 1,2)),
        |sim AS (
        |  SELECT tenant, idx, tick, first_tick, false AS flagged,
        |         [{'t': tick, 'c': n_adm}] AS ring
        |  FROM tix WHERE idx = 1
        |  UNION ALL
        |  SELECT tenant, idx, tick, first_tick, flag AS flagged,
        |         list_append(list_filter(ring0, x -> x.t >= tick - 12),
        |           {'t': tick, 'c': CASE WHEN flag THEN CAST(0 AS BIGINT)
        |                ELSE n_adm END}) AS ring
        |  FROM (
        |    SELECT t.tenant, t.idx, t.tick, t.first_tick, t.n_adm,
        |           s.ring AS ring0,
        |           coalesce(list_sum(list_transform(
        |             list_filter(s.ring, x -> x.t >= t.tick - 12
        |                                      AND x.t < t.tick),
        |             x -> x.c)), 0) * 3600
        |             >= greatest(least(12, t.tick - t.first_tick), 1) * 3600
        |             AS flag
        |    FROM sim s JOIN tix t ON t.tenant = s.tenant
        |                         AND t.idx = s.idx + 1))
        |SELECT r.tenant, r.req_id,
        |  CASE WHEN r.suspend THEN 'forbidden_suspended'
        |       WHEN NOT r.valid THEN 'invalid'
        |       WHEN s.flagged THEN 'rate_limited'
        |       WHEN NOT r.write_allowed THEN 'forbidden'
        |       ELSE 'ok' END AS status
        |FROM req r JOIN sim s ON s.tenant = r.tenant AND s.tick = r.tick"""
        .stripMargin)),
    // Message-rate socket shutdown replay (count-then-check with terminal
    // per-socket consequence, realtime_channel.ex:291-302): ring + dead-set
    // feedback, oracle recursion carries both as list columns.
    Q("a2_message_shutdown",
      (s, d) => Rates.messageRateShutdown(ev(s, d),
        tenantCol = "event_type", userCol = "user_id",
        tsCol = "ts", tieCol = "event_id",
        limitNum = 3L, limitDen = 3600L, tickSec = 3600L, windowTicks = 12),
      Some("""WITH RECURSIVE msg AS MATERIALIZED (
        |  SELECT event_type AS tenant, user_id AS usr, epoch_us(ts) AS us, event_id,
        |         epoch_us(ts)//1000000//3600 AS tick
        |  FROM events),
        |tix AS MATERIALIZED (
        |  SELECT tenant, tick, entries,
        |         row_number() OVER (PARTITION BY tenant ORDER BY tick) AS idx,
        |         min(tick) OVER (PARTITION BY tenant) AS first_tick
        |  FROM (SELECT tenant, tick,
        |          list({'u': usr, 'n': n}) AS entries
        |        FROM (SELECT tenant, tick, usr, CAST(count(*) AS BIGINT) AS n
        |              FROM msg GROUP BY 1,2,3) GROUP BY 1,2)),
        |sim AS (
        |  SELECT tenant, idx, tick, first_tick, false AS flag,
        |         CAST([] AS BIGINT[]) AS dead_before,
        |         [{'t': tick, 'c': coalesce(list_sum(list_transform(entries, e -> e.n)), 0)}] AS ring,
        |         CAST([] AS BIGINT[]) AS dead
        |  FROM tix WHERE idx = 1
        |  UNION ALL
        |  SELECT tenant, idx, tick, first_tick, flag,
        |         dead0 AS dead_before,
        |         list_append(pruned, {'t': tick,
        |           'c': CASE WHEN flag THEN CAST(len(alive) AS BIGINT)
        |                ELSE coalesce(list_sum(list_transform(alive, e -> e.n)), 0) END}) AS ring,
        |         CASE WHEN flag THEN list_concat(dead0, list_transform(alive, e -> e.u))
        |              ELSE dead0 END AS dead
        |  FROM (
        |    SELECT t.tenant, t.idx, t.tick, t.first_tick, s.dead AS dead0,
        |           list_filter(s.ring, x -> x.t >= t.tick - 12) AS pruned,
        |           list_filter(t.entries, e -> NOT list_contains(s.dead, e.u)) AS alive,
        |           least(12, t.tick - t.first_tick) > 0 AND
        |             coalesce(list_sum(list_transform(
        |               list_filter(s.ring, x -> x.t >= t.tick - 12 AND x.t < t.tick),
        |               x -> x.c)), 0) * 3600
        |             >= 3 * least(12, t.tick - t.first_tick) * 3600 AS flag
        |    FROM sim s JOIN tix t ON t.tenant = s.tenant AND t.idx = s.idx + 1))
        |SELECT m.tenant, m.event_id,
        |  CASE WHEN list_contains(s.dead_before, m.usr) THEN 'dropped'
        |       WHEN NOT s.flag THEN 'ok'
        |       WHEN row_number() OVER (PARTITION BY m.tenant, m.tick, m.usr
        |                               ORDER BY m.us, m.event_id) = 1 THEN 'shutdown'
        |       ELSE 'dropped' END AS status
        |FROM msg m JOIN sim s ON s.tenant = m.tenant AND s.tick = m.tick""".stripMargin)),
    // Anchored-window client limiter (limit_client_presence_event,
    // presence_handler.ex:214-236): window anchors at first contact,
    // denials don't consume, expiry resets on contact. The anchor CHAIN is
    // the sequential part — the oracle recursion locksteps per-key call
    // indexes carrying (counter, reset_at), no list state. Window scaled
    // to 7 days (reference default 5/30 s; replay cadence is ~days).
    Q("a2_presence_client_window",
      (s, d) => Rates.clientWindowLimit(ev(s, d),
        keyCols = Seq("event_type", "user_id"), tsCol = "ts",
        tieCol = "event_id", maxCalls = 3, windowMs = 604800000L),
      Some("""WITH RECURSIVE calls AS MATERIALIZED (
        |  SELECT event_type || ':' || CAST(user_id AS VARCHAR) AS key,
        |         epoch_us(ts) AS us, event_id,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |                            ORDER BY epoch_us(ts), event_id) AS idx
        |  FROM events),
        |sim AS (
        |  SELECT key, idx, event_id, 'ok' AS status,
        |         CAST(1 AS BIGINT) AS counter, us + 604800000000 AS reset_at
        |  FROM calls WHERE idx = 1
        |  UNION ALL
        |  SELECT c.key, c.idx, c.event_id,
        |         CASE WHEN c.us > s.reset_at THEN 'ok'
        |              WHEN s.counter >= 3 THEN 'rate_limited'
        |              ELSE 'ok' END AS status,
        |         CASE WHEN c.us > s.reset_at THEN CAST(1 AS BIGINT)
        |              WHEN s.counter >= 3 THEN s.counter
        |              ELSE s.counter + 1 END AS counter,
        |         CASE WHEN c.us > s.reset_at THEN c.us + 604800000000
        |              ELSE s.reset_at END AS reset_at
        |  FROM sim s JOIN calls c ON c.key = s.key AND c.idx = s.idx + 1)
        |SELECT key, event_id, status FROM sim""".stripMargin)),
    // Tenant presence-rate admission (limit_presence_event,
    // presence_handler.ex:201-212): check-before-count, admitted-only,
    // STRICT > off the raw avg — the fifth reference rate check.
    Q("a4_presence_rate_admission",
      (s, d) => Rates.presenceRateAdmission(ev(s, d),
        tenantCol = "event_type", tsCol = "ts", tieCol = "event_id",
        limitNum = 2L, limitDen = 3600L, tickSec = 3600L, windowTicks = 12),
      Some("""WITH RECURSIVE msg AS MATERIALIZED (
        |  SELECT event_type AS tenant, epoch_us(ts) AS us, event_id,
        |         epoch_us(ts)//1000000//3600 AS tick
        |  FROM events),
        |tix AS MATERIALIZED (
        |  SELECT tenant, tick, n,
        |         row_number() OVER (PARTITION BY tenant ORDER BY tick) AS idx,
        |         min(tick) OVER (PARTITION BY tenant) AS first_tick
        |  FROM (SELECT tenant, tick, CAST(count(*) AS BIGINT) AS n FROM msg GROUP BY 1,2)),
        |sim AS (
        |  SELECT tenant, idx, tick, first_tick, false AS flag, n AS admitted,
        |         [{'t': tick, 'c': n}] AS ring
        |  FROM tix WHERE idx = 1
        |  UNION ALL
        |  SELECT tenant, idx, tick, first_tick, flag,
        |         CASE WHEN flag THEN CAST(0 AS BIGINT) ELSE n END AS admitted,
        |         list_append(pruned,
        |           {'t': tick, 'c': CASE WHEN flag THEN CAST(0 AS BIGINT) ELSE n END}) AS ring
        |  FROM (
        |    SELECT t.tenant, t.idx, t.tick, t.first_tick, t.n,
        |           list_filter(s.ring, x -> x.t >= t.tick - 12) AS pruned,
        |           least(12, t.tick - t.first_tick) > 0 AND
        |             coalesce(list_sum(list_transform(
        |               list_filter(s.ring, x -> x.t >= t.tick - 12 AND x.t < t.tick),
        |               x -> x.c)), 0) * 3600
        |             > 2 * least(12, t.tick - t.first_tick) * 3600 AS flag
        |    FROM sim s JOIN tix t ON t.tenant = s.tenant AND t.idx = s.idx + 1))
        |SELECT m.tenant, m.event_id,
        |  CASE WHEN s.flag THEN 'rate_limited' ELSE 'ok' END AS status
        |FROM msg m JOIN sim s ON s.tenant = m.tenant AND s.tick = m.tick""".stripMargin)),
    Q("a3_distinct_users",
      (s, d) => ev(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users")),
      Some("SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1")),
    // Gap-based sessionization (30-min gap) + per-session aggregates —
    // two windows then one grouped aggregate, all keyed by user
    Q("a_sessionize",
      (s, d) => {
        import graft.rates.Rates
        val sess = Rates.sessionize(
          ev(s, d).select("user_id", "event_id", "ts"),
          keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
          gapMinutes = 30)
        Rates.sessionStats(sess, "user_id", "ts")
      },
      Some("""WITH o AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_seq FROM o)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
        |FROM s GROUP BY 1, 2""".stripMargin)),
    // Native session_window operator (the Structured-Streaming-ready
    // sessionizer): merged-gap windows per user; a new window starts
    // when the gap is >= the 30-minute timeout (an event landing exactly
    // at the previous window's end does NOT extend it)
    Q("a_session_window",
      (s, d) => ev(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
            .as("w_start"),
          date_format(col("w.end"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
            .as("w_end"),
          col("n_events")),
      Some("""WITH o AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |       THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                 ROWS UNBOUNDED PRECEDING) AS session_seq FROM o)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS w_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%dT%H:%M:%S.%f') || 'Z'
        |    AS w_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, session_seq""".stripMargin)),
    // Ordered funnel: view → click → purchase per user, strictly-after
    // chaining with deterministic (ts, event_id) tie-breaks
    Q("a_funnel",
      (s, d) => graft.rates.Rates.funnel(
        ev(s, d).select("user_id", "event_id", "ts", "event_type"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        typeCol = "event_type", stages = Seq("view", "click", "purchase")),
      Some("""WITH s0 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT user_id, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events WHERE event_type = 'view') WHERE rn = 1),
        |s1 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT e.user_id, e.ts, e.event_id,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM events e JOIN s0 ON e.user_id = s0.user_id
        |      AND (e.ts, e.event_id) > (s0.ts, s0.event_id)
        |    WHERE e.event_type = 'click') WHERE rn = 1),
        |s2 AS (SELECT user_id, ts, event_id FROM (
        |    SELECT e.user_id, e.ts, e.event_id,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM events e JOIN s1 ON e.user_id = s1.user_id
        |      AND (e.ts, e.event_id) > (s1.ts, s1.event_id)
        |    WHERE e.event_type = 'purchase') WHERE rn = 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST(CASE WHEN s0.user_id IS NOT NULL THEN 1 ELSE 0 END +
        |       CASE WHEN s1.user_id IS NOT NULL THEN 1 ELSE 0 END +
        |       CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS reached
        |FROM u LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
        |       LEFT JOIN s2 USING (user_id)""".stripMargin)),
    // Column profiling: one aggregate per column, exact distincts,
    // native min/max rendered as strings
    // Exact per-stratum quantiles of document length (sort-based
    // percentile, rounded 1e-4 against interpolation ulps) — the
    // length-distribution signal a curation run reads before picking
    // truncation/packing budgets.
    Q("a_quantiles",
      (s, d) => graft.pipeline.Profile.quantiles(
        ChangeFeed.table(s, d, "documents"), "lang", "n_chars",
        Seq(0.5, 0.9, 0.99)),
      Some("""SELECT lang, 0.5 AS p, round(quantile_cont(n_chars, 0.5), 4) AS q
        |FROM documents GROUP BY lang
        |UNION ALL
        |SELECT lang, 0.9, round(quantile_cont(n_chars, 0.9), 4)
        |FROM documents GROUP BY lang
        |UNION ALL
        |SELECT lang, 0.99, round(quantile_cont(n_chars, 0.99), 4)
        |FROM documents GROUP BY lang""".stripMargin)),
    // Exact fixed-width length histogram per language: integral-div
    // bucketing (exact at any magnitude), one partial-aggregated groupBy.
    Q("a_histogram",
      (s, d) => graft.pipeline.Profile.histogram(
        ChangeFeed.table(s, d, "documents"), "lang", "n_chars", 200L),
      Some("""SELECT lang, (n_chars // 200) * 200 AS bucket_lo,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),
    Q("a_profile",
      (s, d) => graft.pipeline.Profile.profile(ev(s, d),
        Seq("event_id", "user_id", "event_type", "value")),
      Some("""SELECT 'event_id' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(min(event_id) AS VARCHAR) AS min_s, CAST(max(event_id) AS VARCHAR) AS max_s
        |FROM events
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT user_id) AS BIGINT),
        |  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM events
        |UNION ALL
        |SELECT 'event_type', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT event_type) AS BIGINT),
        |  CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR) FROM events
        |UNION ALL
        |SELECT 'value', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT value) AS BIGINT),
        |  CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR) FROM events"""
        .stripMargin)),
    Q("a5_agg_shapes",
      (s, d) => ev(s, d).groupBy("user_id").agg(
        concat_ws(",", array_sort(collect_list(col("event_type")))).as("types"),
        bool_or(col("value") > 90).as("any_big"),
        count(lit(1)).as("n")),
      Some("""SELECT user_id,
        |       array_to_string(list_sort(list(event_type)), ',') AS types,
        |       bool_or(value > 90) AS any_big, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin)),
    Q("a7_batch_groups",
      (s, d) => messagesFromEvents(s, d)
        .groupBy("private", "topic")
        .agg(count(lit(1)).as("n_msgs"), sum(length(col("payload"))).as("bytes")),
      Some(s"""$msgsCte
        |SELECT private, topic, count(*) AS n_msgs,
        |       CAST(sum(length(payload)) AS BIGINT) AS bytes
        |FROM msgs GROUP BY 1, 2""".stripMargin))
  )

  // ------------------------------------------------------------------- joins

  private val joinQueries: Seq[Q] = Seq(
    Q("j5_wildcard_catalog",
      (s, d) => {
        import s.implicits._
        val pats = Seq("*", "c%", "error").toDF("pattern")
        val cat = ev(s, d).select(col("event_type").as("tbl")).distinct()
        pats.join(cat,
          expr("tbl LIKE (CASE WHEN pattern = '*' THEN '%' ELSE pattern END)"))
      },
      Some("""WITH pats(pattern) AS (VALUES ('*'), ('c%'), ('error')),
        |cat AS (SELECT DISTINCT event_type AS tbl FROM events)
        |SELECT pattern, tbl FROM pats JOIN cat
        |ON tbl LIKE (CASE WHEN pattern = '*' THEN '%' ELSE pattern END)""".stripMargin)),
    Q("u2_semi_join",
      (s, d) => ev(s, d).join(
        ChangeFeed.table(s, d, "customer")
          .where(col("c_acctbal") > 5000).select(col("c_custkey").as("user_id")),
        Seq("user_id"), "left_semi"),
      Some(s"""SELECT $evCols FROM events
        |WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)""".stripMargin)),
    // S1/J1 multi-table: one heterogeneous change stream (events +
    // customer in the generic decoded-WAL map shape), matched against
    // subscriptions on both tables — and a '*'-table subscription — in a
    // SINGLE battery pass (no per-table query, reference drains all
    // published tables per poll).
    Q("j_multi_table",
      (s, d) => {
        import graft.walrus.MultiTableMatch
        def generic(df: DataFrame, table: String, idCol: String): DataFrame = {
          val m = pmod(col(idCol), lit(10))
          df.select(
            lit("public").as("change_schema"), lit(table).as("change_table"),
            when(m < 6, "INSERT").when(m < 9, "UPDATE").otherwise("DELETE")
              .as("change_type"),
            map(df.columns.toSeq.flatMap(c =>
              Seq(lit(c), col(c).cast("string"))): _*).as("record"))
        }
        val evDf = ev(s, d).select("event_id", "event_type", "user_id", "value")
        val cuDf = ChangeFeed.table(s, d, "customer")
          .select("c_custkey", "c_acctbal", "c_mktsegment")
        val stream = generic(evDf, "events", "event_id")
          .unionByName(generic(cuDf, "customer", "c_custkey"))
        val registry = Map(
          ("public", "events") -> evDf.schema,
          ("public", "customer") -> cuDf.schema)
        val mtSubs = Seq(
          Subscription("me1", "public", "events",
            FilterParser.parse("value=gt.50").toOption.get),
          Subscription("me2", "public", "events",
            FilterParser.parse("event_type=eq.click").toOption.get,
            actionFilter = "INSERT"),
          Subscription("mc1", "public", "customer",
            FilterParser.parse("c_acctbal=gt.5000").toOption.get),
          Subscription("mAll", "public", "*", Nil))
        MultiTableMatch.matchSubscriptions(stream, registry, mtSubs)
          .select(col("change_table"),
            coalesce(element_at(col("record"), "event_id"),
              element_at(col("record"), "c_custkey")).cast("long").as("entity_id"),
            explode_outer(col("subscription_ids")).as("subscription_id"))
          .where(col("subscription_id").isNotNull)
      },
      Some("""WITH ev AS (
        |  SELECT event_id, event_type, value,
        |         CASE WHEN event_id % 10 < 6 THEN 'INSERT'
        |              WHEN event_id % 10 < 9 THEN 'UPDATE'
        |              ELSE 'DELETE' END AS change_type
        |  FROM events),
        |cu AS (
        |  SELECT c_custkey, c_acctbal,
        |         CASE WHEN c_custkey % 10 < 6 THEN 'INSERT'
        |              WHEN c_custkey % 10 < 9 THEN 'UPDATE'
        |              ELSE 'DELETE' END AS change_type
        |  FROM customer)
        |SELECT 'events' AS change_table, CAST(event_id AS BIGINT) AS entity_id,
        |       'me1' AS subscription_id FROM ev WHERE value > 50
        |UNION ALL SELECT 'events', CAST(event_id AS BIGINT), 'me2' FROM ev
        |  WHERE change_type = 'INSERT' AND event_type = 'click'
        |UNION ALL SELECT 'customer', CAST(c_custkey AS BIGINT), 'mc1' FROM cu
        |  WHERE c_acctbal > 5000
        |UNION ALL SELECT 'events', CAST(event_id AS BIGINT), 'mAll' FROM ev
        |UNION ALL SELECT 'customer', CAST(c_custkey AS BIGINT), 'mAll' FROM cu""".stripMargin)),
    Q("j9_rls_probe",
      (s, d) => {
        val policy = ChangeFeed.table(s, d, "customer")
          .where(col("c_acctbal") > 0).select(col("c_custkey").as("user_id"))
        walrusMatch(s, d)
          .join(ev(s, d).select("event_id", "user_id"), Seq("event_id"))
          .join(broadcast(policy), Seq("user_id"), "left_semi")
          .select("event_id", "subscription_id")
      },
      Some(s"""SELECT m.event_id, m.subscription_id FROM ($walrusOracle) m
        |JOIN events e ON m.event_id = e.event_id
        |WHERE e.user_id IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)""".stripMargin))
  )

  // --------------------------------------------------- payload shaping (P6-8)

  private val payloadSubs: Seq[Subscription] = Seq(
    Subscription("sel1", "public", "events",
      FilterParser.parse("value=gt.50").toOption.get,
      claimsRole = "authenticated",
      selectedColumns = Seq("event_type", "user_id")),
    Subscription("sel2", "public", "events",
      FilterParser.parse("value=gt.50").toOption.get,
      claimsRole = "authenticated"),
    Subscription("sel3", "public", "events",
      FilterParser.parse("event_type=eq.error").toOption.get,
      claimsRole = "anon",
      selectedColumns = Seq("event_type"))
  )

  private val payloadQueries: Seq[Q] = Seq(
    Q("p6_column_projection",
      (s, d) => {
        val events = ev(s, d)
        val changes = ChangeFeed.fromTable(events, "event_id", "ts", "events")
        val matched = Walrus.matchedOnly(changes, payloadSubs, events.schema, "events")
        Payload.shape(matched, payloadSubs,
            dataCols = Seq("event_id", "event_type", "user_id", "value"),
            pk = Seq("event_id"))
          .select(col("event_id"), col("claims_role"), col("selected_columns"),
            col("record"), explode(col("subscription_ids")).as("subscription_id"))
      },
      Some(s"""$changesCte
        |SELECT event_id, 'anon' AS claims_role, 'event_type' AS selected_columns,
        |       CASE WHEN change_type = 'DELETE' THEN NULL ELSE
        |         to_json(struct_pack(event_id := event_id, event_type := event_type))::VARCHAR
        |       END AS record,
        |       'sel3' AS subscription_id
        |FROM changes WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, 'authenticated', '',
        |       CASE WHEN change_type = 'DELETE' THEN NULL ELSE
        |         to_json(struct_pack(event_id := event_id, event_type := event_type,
        |                             user_id := user_id, value := value))::VARCHAR END,
        |       'sel2'
        |FROM changes WHERE value > 50
        |UNION ALL
        |SELECT event_id, 'authenticated', 'event_type,user_id',
        |       CASE WHEN change_type = 'DELETE' THEN NULL ELSE
        |         to_json(struct_pack(event_id := event_id, event_type := event_type,
        |                             user_id := user_id))::VARCHAR END,
        |       'sel1'
        |FROM changes WHERE value > 50""".stripMargin)),
    Q("p7_oversize_guard",
      (s, d) => {
        val df = ev(s, d)
        val (_, errs) = Walrus.oversizeGuard(col("props"), 8)
        df.select(col("event_id"),
          when(length(col("props")) > 8, lit(null)).otherwise(col("props"))
            .as("payload"),
          element_at(errs, 1).as("error"))
      },
      Some("""SELECT event_id,
        |  CASE WHEN length(props) > 8 THEN NULL ELSE props END AS payload,
        |  CASE WHEN length(props) > 8 THEN 'Error 413: Payload Too Large' END AS error
        |FROM events""".stripMargin)),
    // Three-way TOAST-merge semantics (the reference substitutes the old
    // value only when the column is ABSENT from the new tuple):
    //  - 'error' rows: props key absent from record (unchanged TOAST) →
    //    falls back to the old value;
    //  - 'click' rows: props key present with SQL NULL (explicit NULL) →
    //    stays NULL, never the old value;
    //  - other rows: props present → new value wins.
    Q("p8_toast_merge",
      (s, d) => {
        val df = ev(s, d).select(
          col("event_id"),
          when(col("event_type") === "error",
              map(lit("etype"), col("event_type")))
            .when(col("event_type") === "click",
              map(lit("props"), lit(null).cast("string"),
                lit("etype"), col("event_type")))
            .otherwise(
              map(lit("props"), col("props"), lit("etype"), col("event_type")))
            .as("record"),
          map(lit("props"), lit("OLD_PROPS"), lit("etype"), lit("OLD_TYPE"))
            .as("old_record"))
        df.select(col("event_id"),
          Walrus.toastMerge(col("record"), col("old_record")).as("merged"))
          .select(col("event_id"),
            element_at(col("merged"), "props").as("props_out"),
            element_at(col("merged"), "etype").as("etype_out"))
      },
      Some("""SELECT event_id,
        |  CASE WHEN event_type = 'error' THEN 'OLD_PROPS'
        |       WHEN event_type = 'click' THEN NULL
        |       ELSE props END AS props_out,
        |  event_type AS etype_out
        |FROM events""".stripMargin))
  )

  private val error401Query: Seq[Q] = Seq(
    // In-band error rows: the 'anon' role is RLS-denied → its subscribers
    // still receive rows, with record suppressed and a 401 error attached.
    Q("p_error_rows_401",
      (s, d) => {
        val events = ev(s, d)
        val changes = ChangeFeed.fromTable(
          spread(events, "event_id"), "event_id", "ts", "events")
        val matched = Walrus.matchedOnly(changes, payloadSubs, events.schema, "events")
        Payload.shape(matched, payloadSubs,
            dataCols = Seq("event_id", "event_type", "user_id", "value"),
            pk = Seq("event_id"), unauthorizedRoles = Set("anon"))
          .select(col("event_id"), col("claims_role"), col("record"),
            element_at(col("errors"), 1).as("error"),
            explode(col("subscription_ids")).as("subscription_id"))
      },
      Some(s"""$changesCte
        |SELECT event_id, 'anon' AS claims_role, NULL AS record,
        |       'Error 401: Unauthorized' AS error, 'sel3' AS subscription_id
        |FROM changes WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, 'authenticated', CASE WHEN change_type = 'DELETE' THEN NULL ELSE
        |         to_json(struct_pack(
        |           event_id := event_id, event_type := event_type,
        |           user_id := user_id, value := value))::VARCHAR END,
        |       NULL, 'sel2'
        |FROM changes WHERE value > 50
        |UNION ALL
        |SELECT event_id, 'authenticated', CASE WHEN change_type = 'DELETE' THEN NULL ELSE
        |         to_json(struct_pack(
        |           event_id := event_id, event_type := event_type,
        |           user_id := user_id))::VARCHAR END,
        |       NULL, 'sel1'
        |FROM changes WHERE value > 50""".stripMargin)),
    // In-band 400 rows: a table with no primary key cannot key payloads —
    // every delivery carries record=NULL and the 400 error (reference
    // 20260626120000:449-457).
    Q("p_error_rows_400",
      (s, d) => {
        val events = ev(s, d)
        val changes = ChangeFeed.fromTable(events, "event_id", "ts", "events")
        val matched = Walrus.matchedOnly(changes, payloadSubs, events.schema, "events")
        Payload.shape(matched, payloadSubs,
            dataCols = Seq("event_id", "event_type", "user_id", "value"),
            pk = Seq.empty)
          .select(col("claims_role"), col("record"),
            element_at(col("errors"), 1).as("error"),
            explode(col("subscription_ids")).as("subscription_id"))
          .groupBy("claims_role", "record", "error", "subscription_id")
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""$changesCte
        |SELECT 'anon' AS claims_role, NULL AS record,
        |       'Error 400: Bad Request, no primary key' AS error,
        |       'sel3' AS subscription_id, count(*) AS n
        |FROM changes WHERE event_type = 'error'
        |UNION ALL
        |SELECT 'authenticated', NULL, 'Error 400: Bad Request, no primary key',
        |       'sel2', count(*)
        |FROM changes WHERE value > 50
        |UNION ALL
        |SELECT 'authenticated', NULL, 'Error 400: Bad Request, no primary key',
        |       'sel1', count(*)
        |FROM changes WHERE value > 50""".stripMargin)),
    // Broadcast WRITE-path authorization (the ingest-side twin of j9's
    // read probe): private-channel pushes pass iff the rolled-back insert
    // probe finds a write-policy row for (role, topic); public pushes
    // skip the probe. Denied pushes drop silently and do NOT count
    // toward the tenant rate counter; authorized ones still face the
    // payload-size guard (authorization.ex:273-341,
    // broadcast_handler.ex:25-88). Policy view: service writes every
    // topic, authenticated only topics with tn % 5 != 0, anon none.
    Q("p_write_authz",
      (s, d) => {
        import graft.api.WriteAuthz
        val e = ev(s, d).select(
          concat(lit("room:"), (col("user_id") % 40).cast("string")).as("topic"),
          (col("user_id") % 40).as("tn"),
          when(col("user_id") % 3 === 0, "service")
            .when(col("user_id") % 3 === 1, "authenticated")
            .otherwise("anon").as("role"),
          (col("user_id") % 2 === 0).as("private"),
          length(col("props")).cast("long").as("payload_bytes"))
        val topics = e.select("topic", "tn").distinct()
        val policies = topics.select(lit("service").as("role"), col("topic"))
          .unionByName(topics.where(col("tn") % 5 =!= 0)
            .select(lit("authenticated").as("role"), col("topic")))
        WriteAuthz.check(e.drop("tn"), policies, maxPayloadBytes = 8)
          .groupBy("role", "private", "status")
          .agg(count(lit(1)).as("n"),
            sum(col("rate_counted").cast("long")).as("n_rate_counted"))
      },
      Some("""WITH i AS (
        |  SELECT 'room:' || (user_id % 40) AS topic, user_id % 40 AS tn,
        |         CASE user_id % 3 WHEN 0 THEN 'service'
        |              WHEN 1 THEN 'authenticated' ELSE 'anon' END AS role,
        |         (user_id % 2 = 0) AS private,
        |         length(props) AS payload_bytes
        |  FROM events),
        |a AS (SELECT *,
        |        (NOT private) OR role = 'service'
        |          OR (role = 'authenticated' AND tn % 5 != 0) AS write_allowed
        |      FROM i)
        |SELECT role, private,
        |       CASE WHEN NOT write_allowed THEN 'denied'
        |            WHEN payload_bytes > 8 THEN 'oversize'
        |            ELSE 'deliver' END AS status,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN write_allowed THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_rate_counted
        |FROM a GROUP BY 1, 2, 3""".stripMargin)),
    // Join-payload parse (payloads/{join,config,broadcast,presence}.ex):
    // flexible booleans, replay/int casts, postgres_changes nil handling,
    // presence-key generation flag, embed-shape errors. The payload JSON
    // is constructed identically on both sides from user_id mods; the
    // Spark side must recover the truth table by PARSING it, the oracle
    // derives it directly from the mods (independent ground truth).
    // Token-refresh read revocation (realtime_channel.ex:1048-1060):
    // a socket disconnects at the FIRST refresh where broadcast.read or
    // presence.read flips true->false; grants never trigger; later
    // refreshes are moot (the socket is gone).
    Q("p_token_revoked",
      (s, d) => {
        val refreshes = ev(s, d).select(
          col("user_id").as("socket_id"), col("ts"),
          col("event_id").as("tie"),
          (col("value") > 30).as("broadcast_read"),
          (col("event_id") % 3 =!= 0).as("presence_read"))
        graft.api.PolicyRefresh.readRevocations(refreshes, "socket_id",
          "ts", "tie", "broadcast_read", "presence_read")
      },
      Some("""WITH r AS (
        |  SELECT user_id AS socket_id, ts, event_id AS tie,
        |         (value > 30) AS b, (event_id % 3 != 0) AS p
        |  FROM events),
        |f AS (
        |  SELECT socket_id, ts, tie,
        |         coalesce(lag(b) OVER w AND NOT b, false) AS br,
        |         coalesce(lag(p) OVER w AND NOT p, false) AS pr
        |  FROM r WINDOW w AS (PARTITION BY socket_id ORDER BY ts, tie)),
        |fr AS (
        |  SELECT socket_id, tie, br, pr,
        |         row_number() OVER (PARTITION BY socket_id
        |                            ORDER BY ts, tie) AS rn
        |  FROM f WHERE br OR pr)
        |SELECT s.socket_id, fr.tie AS revoked_at_tie,
        |       fr.br AS broadcast_revoked, fr.pr AS presence_revoked
        |FROM (SELECT DISTINCT socket_id FROM r) s
        |LEFT JOIN fr ON fr.socket_id = s.socket_id AND fr.rn = 1"""
        .stripMargin)),
    // Tenant-config join gates (realtime_channel.ex:84-86,1062-1068,
    // 1097-1099): private_only tenants reject public joins (a REAL
    // rejection, unlike the log-only payload validation); the effective
    // presence flag is client OR tenant override.
    Q("p_join_gates",
      (s, d) => {
        val joins = ev(s, d).select(
          col("event_id").as("join_id"),
          col("event_type").as("tenant"),
          (col("user_id") % 2 === 0).as("private"),
          (col("user_id") % 3 === 0).as("presence_enabled"))
        val tenants = ev(s, d).select(col("event_type").as("tenant"))
          .distinct()
          .withColumn("private_only", length(col("tenant")) % 2 === 0)
          .withColumn("tenant_presence_enabled",
            substring(col("tenant"), 1, 1) === "c")
        graft.api.JoinConfig.joinGates(joins, tenants)
          .select("join_id", "tenant", "private",
            "presence_enabled_effective", "join_status")
      },
      Some("""SELECT event_id AS join_id, event_type AS tenant,
        |  (user_id % 2 = 0) AS private,
        |  (user_id % 3 = 0) OR substring(event_type, 1, 1) = 'c'
        |    AS presence_enabled_effective,
        |  CASE WHEN length(event_type) % 2 = 0 AND user_id % 2 != 0
        |       THEN 'rejected_private_only' ELSE 'ok' END AS join_status
        |FROM events""".stripMargin)),
    Q("p_join_config_parse",
      (s, d) => {
        val uid = col("user_id")
        def m(n: Int) = uid % n
        val privLit = when(m(5) === 0, "true").when(m(5) === 1, "\"True\"")
          .when(m(5) === 2, "false").when(m(5) === 3, "\"FALSE\"")
          .otherwise("\"yes\"")
        val ackLit = when(m(3) === 0, "true").when(m(3) === 1, "\"false\"")
          .otherwise("1")
        val enLit = when(m(2) === 0, "true").otherwise("\"False\"")
        val keyPart = when(m(7) === 0, "")
          .when(m(7) === 1, ", \"key\": \"\"")
          .otherwise(concat(lit(", \"key\": \"k-"), uid.cast("string"),
            lit("\"")))
        val replayPart = when(m(11) === 0,
            ", \"replay\": {\"limit\": 5, \"since\": 100}")
          .when(m(11) === 1, ", \"replay\": {\"limit\": \"7\"}")
          .when(m(11) === 2, ", \"replay\": {\"limit\": \"abc\"}")
          .otherwise("")
        val pgPart = when(m(13) === 0,
            ", \"postgres_changes\": [{\"event\": \"INSERT\", " +
              "\"schema\": \"public\", \"table\": \"t1\"}, null]")
          .when(m(13) === 1, ", \"postgres_changes\": null")
          .when(m(13) === 2, ", \"postgres_changes\": \"x\"")
          .otherwise("")
        val cfg = concat(lit("{\"private\": "), privLit,
          lit(", \"broadcast\": {\"ack\": "), ackLit,
          lit(", \"self\": false"), replayPart, lit("}"),
          lit(", \"presence\": {\"enabled\": "), enLit, keyPart,
          lit("}"), pgPart, lit("}"))
        val payload = when(m(17) === 0, lit("{\"access_token\": \"tok\"}"))
          .when(m(17) === 1,
            lit("{\"config\": \"nope\", \"access_token\": \"tok\"}"))
          .otherwise(concat(lit("{\"config\": "), cfg,
            lit(", \"access_token\": \"tok-"), uid.cast("string"),
            lit("\"}")))
        // pure narrow map over the scan: at test scale one parquet split
        // serializes the six-level parse onto one core (2.0 s warm at
        // sf0.1) — the conditional spread inserts one pre-parse exchange
        // of the two raw columns, a no-op at corpus scale (split-rich
        // scans already provide the parallelism)
        val joins = graft.pipeline.Spread(
          ev(s, d).select(col("event_id"), col("user_id")),
          col("event_id"))
          .select(col("event_id").as("join_id"), payload.as("payload"))
        graft.api.JoinConfig.parse(joins, "payload")
          .select("join_id", "valid", "private", "ack", "self_broadcast",
            "replication_ready", "presence_enabled", "presence_key",
            "presence_key_generated", "replay_limit", "replay_since",
            "n_postgres_changes", "access_token", "user_token")
      },
      Some("""WITH j AS (
        |  SELECT event_id AS join_id, user_id AS uid,
        |    user_id % 17 AS m17,
        |    (user_id % 17 NOT IN (0, 1)) AS has_cfg,
        |    (user_id % 17 NOT IN (0, 1)
        |     AND user_id % 5 != 4 AND user_id % 3 != 2
        |     AND user_id % 11 != 2 AND user_id % 13 != 2)
        |      OR user_id % 17 = 0 AS valid
        |  FROM events)
        |SELECT join_id, valid,
        |  (has_cfg AND uid % 5 IN (0, 1)) AS private,
        |  (has_cfg AND uid % 3 = 0) AS ack,
        |  false AS self_broadcast,
        |  false AS replication_ready,
        |  (has_cfg AND uid % 2 = 0) AS presence_enabled,
        |  CASE WHEN has_cfg AND uid % 7 >= 2
        |       THEN 'k-' || CAST(uid AS VARCHAR) END AS presence_key,
        |  (NOT has_cfg OR uid % 7 < 2) AS presence_key_generated,
        |  CASE WHEN has_cfg AND uid % 11 = 0 THEN 5
        |       WHEN has_cfg AND uid % 11 = 1 THEN 7
        |       ELSE 10 END AS replay_limit,
        |  CAST(CASE WHEN has_cfg AND uid % 11 = 0 THEN 100
        |       ELSE 0 END AS BIGINT) AS replay_since,
        |  CASE WHEN has_cfg AND uid % 13 = 0 THEN 1
        |       ELSE 0 END AS n_postgres_changes,
        |  CASE WHEN has_cfg THEN 'tok-' || CAST(uid AS VARCHAR)
        |       ELSE 'tok' END AS access_token,
        |  CAST(NULL AS VARCHAR) AS user_token
        |FROM j""".stripMargin)),
    // Replication-ready notification (realtime_channel.ex:103,139-144,
    // 312-331): an opted-in join (config.broadcast.replication_ready)
    // polls Connect.replication_status at join time and every 500 ms;
    // the FIRST ready poll pushes ONE system message ("Replication
    // connection established") and sets the notified flag (at-most-once
    // — the :312 guard clause); a poll that finds the tenant NOT ready
    // at or past join+timeout shuts the channel down ("… was not
    // established in time"). The cond ORDER matters: ready is checked
    // BEFORE the deadline, so a poll landing exactly on the deadline
    // tick with replication up still notifies. Poll ticks are
    // join + 500k, so notify_at = join + 500·ceil(delay/500) and the
    // shutdown tick is join + 500·ceil(timeout/500) — both engines
    // reproduce the law in integer ms. Opted-out joins schedule
    // nothing. Plan: one codegen'd projection over the scan.
    Q("p_replication_ready",
      (s, d) => {
        val uid = col("user_id")
        val joinT = (col("event_id") % 1000).as("join_ms")
        val optIn = (uid % 3 =!= 0).as("opted_in")
        // ready delay: uid%5==0 → replication never comes up
        val delay = when(uid % 5 === 0, lit(null).cast("long"))
          .otherwise((col("event_id") * 7) % 4000)
        val timeout = lit(1000) + (uid % 3) * 1000
        val kReady = ceil(delay.cast("double") / 500.0).cast("long")
        val kDead = ceil(timeout.cast("double") / 500.0).cast("long")
        val notified = col("opted_in") && col("k_ready").isNotNull &&
          col("k_ready") <= col("k_dead")
        ev(s, d)
          .select(col("event_id").as("join_id"), joinT, optIn,
            delay.as("ready_delay_ms"), timeout.as("timeout_ms"),
            kReady.as("k_ready"), kDead.as("k_dead"))
          .select(col("join_id"), col("opted_in"),
            notified.as("notified"),
            when(notified, col("join_ms") + col("k_ready") * 500)
              .as("notify_at_ms"),
            (col("opted_in") && !notified).as("shutdown"),
            when(col("opted_in") && !notified,
              col("join_ms") + col("k_dead") * 500).as("shutdown_at_ms"))
      },
      Some("""WITH j AS (
        |  SELECT event_id AS join_id,
        |    event_id % 1000 AS join_ms,
        |    user_id % 3 != 0 AS opted_in,
        |    CASE WHEN user_id % 5 = 0 THEN NULL
        |         ELSE (event_id * 7) % 4000 END AS delay,
        |    1000 + (user_id % 3) * 1000 AS timeout
        |  FROM events),
        |k AS (
        |  SELECT *, CAST(ceil(delay / 500.0) AS BIGINT) AS k_ready,
        |         CAST(ceil(timeout / 500.0) AS BIGINT) AS k_dead
        |  FROM j)
        |SELECT join_id, opted_in,
        |  (opted_in AND k_ready IS NOT NULL AND k_ready <= k_dead)
        |    AS notified,
        |  CASE WHEN opted_in AND k_ready IS NOT NULL AND k_ready <= k_dead
        |       THEN join_ms + k_ready * 500 END AS notify_at_ms,
        |  (opted_in AND NOT (k_ready IS NOT NULL AND k_ready <= k_dead))
        |    AS shutdown,
        |  CASE WHEN opted_in
        |        AND NOT (k_ready IS NOT NULL AND k_ready <= k_dead)
        |       THEN join_ms + k_dead * 500 END AS shutdown_at_ms
        |FROM k""".stripMargin))
  )

  // --------------------------------------------------------------- presence

  private val presenceQueries: Seq[Q] = Seq(
    // Track-payload dedup replay (presence_handler.ex:122-193): repeat
    // payloads are silent no-ops that never reach the size guard or the
    // rate counter, untrack resets the memory, invalid/oversize tracks
    // error without updating it. One socket-keyed window (growing
    // frame), decision + rate_counted per event.
    Q("a4_track_dedup",
      (s, d) => {
        val e = ev(s, d).select(
          col("user_id").as("socket"), col("ts"),
          col("event_id").as("tie"),
          when(col("value") < 5, "untrack").otherwise("track").as("event"),
          concat(lit("{\"v\": "), (col("value") > 50).cast("string"),
            lit("}")).as("payload"),
          (col("event_id") % 11 =!= 0).as("is_map"),
          (length(col("props")) * (col("user_id") % 3) * 100)
            .cast("long").as("bytes"))
        graft.presence.Presence.trackDedup(e, "socket", "ts", "tie",
            "event", "payload", "is_map", "bytes", lit(1))
          .select("socket", "tie", "decision", "rate_counted")
      },
      Some("""WITH e AS (
        |  SELECT user_id AS socket, ts, event_id AS tie,
        |    CASE WHEN value < 5 THEN 'untrack' ELSE 'track' END AS event,
        |    '{"v": ' || CAST(value > 50 AS VARCHAR) || '}' AS payload,
        |    (event_id % 11 != 0) AS is_map,
        |    length(props) * (user_id % 3) * 100 AS bytes
        |  FROM events),
        |m AS (
        |  SELECT *,
        |    last_value(CASE WHEN event = 'untrack' THEN ' untracked'
        |        WHEN event = 'track' AND is_map AND bytes <= 1500
        |          THEN payload END IGNORE NULLS)
        |      OVER (PARTITION BY socket ORDER BY ts, tie
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS mem
        |  FROM e),
        |dec AS (
        |  SELECT socket, tie,
        |    CASE WHEN event = 'untrack' THEN 'untracked'
        |         WHEN NOT is_map THEN 'invalid_payload'
        |         WHEN payload IS NOT DISTINCT FROM nullif(mem, ' untracked')
        |           THEN 'no_change'
        |         WHEN bytes > 1500 THEN 'payload_too_large'
        |         ELSE 'tracked' END AS decision
        |  FROM m)
        |SELECT socket, tie, decision,
        |       (decision = 'tracked') AS rate_counted
        |FROM dec""".stripMargin)),
    // The per-socket presence pipeline (handle() -> track arms): the
    // anchored client window is consumed by EVERY presence message —
    // untracks and no-op re-tracks included — and a window-denied
    // message never reaches the dedup (memory unchanged). Oracle:
    // per-socket lockstep recursion carrying (reset_at, counter, mem).
    Q("a4_track_pipeline",
      (s, d) => {
        val e = ev(s, d).select(
          col("user_id").as("socket"), col("ts"),
          col("event_id").as("tie"),
          when(col("value") < 5, "untrack").otherwise("track").as("event"),
          concat(lit("{\"v\": "), (col("value") > 50).cast("string"),
            lit("}")).as("payload"),
          (col("event_id") % 11 =!= 0).as("is_map"),
          (length(col("props")) * (col("user_id") % 3) * 100)
            .cast("long").as("bytes"))
        graft.presence.Presence.trackPipeline(e, "socket", "ts", "tie",
          "event", "payload", "is_map", "bytes", maxPayloadKb = 1,
          maxCalls = 5, windowMs = 604800000L)
      },
      Some("""WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT CAST(user_id AS VARCHAR) AS socket, epoch_us(ts) AS us,
        |    event_id AS tie,
        |    CASE WHEN value < 5 THEN 'untrack' ELSE 'track' END AS event,
        |    '{"v": ' || CAST(value > 50 AS VARCHAR) || '}' AS payload,
        |    (event_id % 11 != 0) AS is_map,
        |    length(props) * (user_id % 3) * 100 AS bytes,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |sim AS (
        |  SELECT socket, rn, tie,
        |    CASE WHEN event = 'untrack' THEN 'untracked'
        |         WHEN NOT is_map THEN 'invalid_payload'
        |         WHEN bytes > 1500 THEN 'payload_too_large'
        |         ELSE 'tracked' END AS decision,
        |    us + 604800000000 AS reset_at,
        |    CAST(1 AS BIGINT) AS counter,
        |    CASE WHEN event = 'untrack' OR NOT is_map OR bytes > 1500
        |         THEN CAST(NULL AS VARCHAR) ELSE payload END AS mem
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT socket, rn, tie,
        |    CASE WHEN denied THEN 'client_rate_limited'
        |         WHEN event = 'untrack' THEN 'untracked'
        |         WHEN NOT is_map THEN 'invalid_payload'
        |         WHEN payload IS NOT DISTINCT FROM m0 THEN 'no_change'
        |         WHEN bytes > 1500 THEN 'payload_too_large'
        |         ELSE 'tracked' END AS decision,
        |    CASE WHEN denied THEN r0
        |         WHEN fresh THEN us + 604800000000 ELSE r0 END AS reset_at,
        |    CASE WHEN denied THEN c0
        |         WHEN fresh THEN 1 ELSE c0 + 1 END AS counter,
        |    CASE WHEN denied OR (event = 'track' AND NOT is_map)
        |           OR (event = 'track'
        |               AND payload IS NOT DISTINCT FROM m0)
        |           OR (event = 'track' AND bytes > 1500) THEN m0
        |         WHEN event = 'untrack' THEN CAST(NULL AS VARCHAR)
        |         ELSE payload END AS mem
        |  FROM (
        |    SELECT n.socket, n.rn, n.tie, n.us, n.event, n.payload,
        |           n.is_map, n.bytes, s.reset_at AS r0, s.counter AS c0,
        |           s.mem AS m0, (n.us > s.reset_at) AS fresh,
        |           (n.us <= s.reset_at AND s.counter >= 5) AS denied
        |    FROM sim s JOIN e n ON n.socket = s.socket
        |                       AND n.rn = s.rn + 1))
        |SELECT socket, tie, decision FROM sim""".stripMargin)),
    Q("a4_presence_state",
      (s, d) => {
        val pe = ev(s, d).select(
          col("event_type").as("topic"),
          col("user_id").as("key"),
          when(col("value") < 5, "untrack").otherwise("track").as("action"),
          col("props").as("meta"),
          col("ts"))
        Presence.latestState(pe)
      },
      Some("""WITH pe AS (
        |  SELECT event_type AS topic, user_id AS key,
        |         CASE WHEN value < 5 THEN 'untrack' ELSE 'track' END AS action,
        |         props AS meta, ts
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY topic, key
        |                                   ORDER BY ts DESC, meta DESC) rn FROM pe)
        |SELECT topic, key, meta, ts FROM r WHERE rn = 1 AND action = 'track'""".stripMargin)),
    Q("a4_presence_sync",
      (s, d) => {
        val pe = ev(s, d).select(
          col("event_type").as("topic"),
          col("user_id").as("key"),
          when(col("value") < 5, "untrack").otherwise("track").as("action"),
          col("props").as("meta"),
          col("ts"))
        Presence.stateSync(Presence.latestState(pe))
          .select(col("topic"),
            size(col("presences")).as("n_present"))
      },
      Some("""WITH pe AS (
        |  SELECT event_type AS topic, user_id AS key,
        |         CASE WHEN value < 5 THEN 'untrack' ELSE 'track' END AS action,
        |         props AS meta, ts
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY topic, key
        |                                   ORDER BY ts DESC, meta DESC) rn FROM pe)
        |SELECT topic, count(*) AS n_present FROM r
        |WHERE rn = 1 AND action = 'track' GROUP BY 1""".stripMargin)),
    // Cross-tracker ORSWOT merge: the event log splits into two replicas
    // (even/odd event_id); each tracker holds its own live state plus a
    // STALE sync snapshot of its peer (events up to max(event_id)/2), so
    // the merge exercises every CRDT arm — shared dots, fresh adds the
    // peer never observed (add wins), and entries the peer observed then
    // removed (remove wins, no resurrection). The oracle replays the dot
    // and version-vector arithmetic in SQL.
    Q("a4_presence_orswot",
      (s, d) => {
        val pe = ev(s, d).select(
          col("event_type").as("topic"),
          col("user_id").as("key"),
          when(col("value") < 5, "untrack").otherwise("track").as("action"),
          coalesce(col("props"), lit("")).as("meta"),
          col("event_id").as("seq"))
        // the sync point, a scalar subquery the plan evaluates: the build
        // runs no job
        val cut = pe.select(expr("max(seq) div 2")).scalar()
        val evA = pe.where(pmod(col("seq"), lit(2)) === 0)
        val evB = pe.where(pmod(col("seq"), lit(2)) === 1)
        // r16 optimization (guide §2.4/§3): the three pairwise
        // mergeTrackers calls cost one left-semi + two left-anti joins
        // EACH (nine joins, each co-partitioning both entry sets);
        // mergeAll is the same ORSWOT lattice fold in ONE dot-keyed
        // groupBy — PresenceSpec asserts mergeAll equals any pairwise
        // fold order, and the oracle is unchanged. Plan: 9 joins +
        // 12 windows-worth of exchanges → 4 window exchanges + 1 agg.
        Presence.mergeAll(Seq(
          Presence.trackerFromEvents(evA, "rA"),
          Presence.trackerFromEvents(evB.where(col("seq") <= cut), "rB"),
          Presence.trackerFromEvents(evB, "rB"),
          Presence.trackerFromEvents(evA.where(col("seq") <= cut), "rA")))
          .entries
      },
      Some("""WITH pe AS (
        |  SELECT event_type AS topic, user_id AS key,
        |         CASE WHEN value < 5 THEN 'untrack' ELSE 'track' END AS action,
        |         coalesce(props, '') AS meta, event_id AS seq,
        |         event_id % 2 AS side
        |  FROM events),
        |cut AS (SELECT max(seq) // 2 AS c FROM pe),
        |sA AS (SELECT topic, key, meta, 'rA' AS replica, seq AS clock FROM (
        |    SELECT *, row_number() OVER (PARTITION BY topic, key
        |                                 ORDER BY seq DESC) rn
        |    FROM pe WHERE side = 0) WHERE rn = 1 AND action = 'track'),
        |sB AS (SELECT topic, key, meta, 'rB' AS replica, seq AS clock FROM (
        |    SELECT *, row_number() OVER (PARTITION BY topic, key
        |                                 ORDER BY seq DESC) rn
        |    FROM pe WHERE side = 1) WHERE rn = 1 AND action = 'track'),
        |nA AS (SELECT topic, key, meta, 'rA' AS replica, seq AS clock FROM (
        |    SELECT *, row_number() OVER (PARTITION BY topic, key
        |                                 ORDER BY seq DESC) rn
        |    FROM pe WHERE side = 0 AND seq <= (SELECT c FROM cut))
        |  WHERE rn = 1 AND action = 'track'),
        |nB AS (SELECT topic, key, meta, 'rB' AS replica, seq AS clock FROM (
        |    SELECT *, row_number() OVER (PARTITION BY topic, key
        |                                 ORDER BY seq DESC) rn
        |    FROM pe WHERE side = 1 AND seq <= (SELECT c FROM cut))
        |  WHERE rn = 1 AND action = 'track'),
        |ea AS (SELECT * FROM sA UNION ALL SELECT * FROM nB),
        |eb AS (SELECT * FROM sB UNION ALL SELECT * FROM nA),
        |vA AS (SELECT 'rA' AS replica, max(seq) AS clock FROM pe WHERE side = 0
        |       UNION ALL
        |       SELECT 'rB', max(seq) FROM pe
        |       WHERE side = 1 AND seq <= (SELECT c FROM cut)),
        |vB AS (SELECT 'rB' AS replica, max(seq) AS clock FROM pe WHERE side = 1
        |       UNION ALL
        |       SELECT 'rA', max(seq) FROM pe
        |       WHERE side = 0 AND seq <= (SELECT c FROM cut))
        |SELECT ea.topic, ea.key, ea.meta, ea.replica, ea.clock
        |FROM ea JOIN eb USING (topic, key, replica, clock)
        |UNION ALL
        |SELECT ea.topic, ea.key, ea.meta, ea.replica, ea.clock
        |FROM ea LEFT JOIN vB ON ea.replica = vB.replica
        |WHERE NOT EXISTS (SELECT 1 FROM eb
        |        WHERE eb.topic = ea.topic AND eb.key = ea.key
        |          AND eb.replica = ea.replica AND eb.clock = ea.clock)
        |  AND (vB.clock IS NULL OR ea.clock > vB.clock)
        |UNION ALL
        |SELECT eb.topic, eb.key, eb.meta, eb.replica, eb.clock
        |FROM eb LEFT JOIN vA ON eb.replica = vA.replica
        |WHERE NOT EXISTS (SELECT 1 FROM ea
        |        WHERE ea.topic = eb.topic AND ea.key = eb.key
        |          AND ea.replica = eb.replica AND ea.clock = eb.clock)
        |  AND (vA.clock IS NULL OR eb.clock > vA.clock)""".stripMargin))
  )

  // ------------------------------------------- config / routing / set / scalar

  private val miscQueries: Seq[Q] = Seq(
    // J6: publication-config aggregation (actions bool_or + add-tables list)
    Q("j6_config_agg",
      (s, d) => ChangeFeed.fromTable(ev(s, d), "event_id", "ts", "events")
        .groupBy(col("event_type").as("publication"))
        .agg(
          bool_or(col("change_type") === "INSERT").as("pub_insert"),
          bool_or(col("change_type") === "UPDATE").as("pub_update"),
          bool_or(col("change_type") === "DELETE").as("pub_delete"),
          count(lit(1)).as("n_changes")),
      Some(s"""$changesCte
        |SELECT event_type AS publication,
        |       bool_or(change_type = 'INSERT') AS pub_insert,
        |       bool_or(change_type = 'UPDATE') AS pub_update,
        |       bool_or(change_type = 'DELETE') AS pub_delete,
        |       count(*) AS n_changes
        |FROM changes GROUP BY 1""".stripMargin)),
    // The live list_changes OUTPUT SHAPE (…20260326120000_list_changes_
    // with_slot_count.ex, re-affirmed by 20260528…:36-104): every visible
    // change row carries slot_changes_count — the number of slot changes
    // the poll CONSUMED, visible or not (the `w2j` count) — and a poll
    // whose visible set is empty still returns exactly ONE all-null row
    // carrying that count (the `UNION ALL … WHERE NOT EXISTS` arm), so
    // the poller can advance its confirmed LSN even when RLS/filters
    // blinded every row. Modeled per publication; single window pass over
    // the matched stream (count/visible-sum/rank share one (pub) sort) —
    // the join formulation would re-evaluate the subscription battery on
    // both sides (no common-subplan reuse).
    Q("j6_list_changes_shape",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val events = ev(s, d)
        val changes = ChangeFeed.fromTable(events, "event_id", "ts", "events")
        val subs = Seq(
          graft.model.Subscription("s1", "public", "events",
            graft.filters.FilterParser
              .parse("event_type=eq.click,value=gt.50").toOption.get),
          graft.model.Subscription("s2", "public", "events",
            graft.filters.FilterParser
              .parse("event_type=eq.view").toOption.get))
        // the battery output is referenced exactly ONCE (the join to a
        // string); `vis` derives from the string — a second direct
        // reference inlined the battery's generated arms twice in one
        // codegen stage and redeclared its scan locals (CodegenAudit
        // caught the Janino redefinition; Spark would have silently run
        // the stage interpreted)
        val m = Walrus.matchSubscriptions(changes, subs,
            events.schema, "events")
          .withColumn("sub_ids_str", array_join(col("subscription_ids"), ","))
          .withColumn("pub", col("event_type"))
          .withColumn("vis", col("sub_ids_str") =!= "")
        val w = Window.partitionBy("pub")
        m.withColumn("slot_changes_count", count(lit(1)).over(w))
          .withColumn("n_vis",
            sum(when(col("vis"), 1).otherwise(0)).over(w))
          .withColumn("rn", row_number().over(w.orderBy("event_id")))
          .where(col("vis") || (col("n_vis") === 0 && col("rn") === 1))
          .select(col("pub"),
            when(col("vis"), col("event_id")).as("event_id"),
            when(col("vis"), col("sub_ids_str")).as("subscription_ids"),
            col("slot_changes_count"))
      },
      Some(s"""$changesCte,
        |vis AS (
        |  SELECT event_id, event_type AS pub,
        |    concat_ws(',',
        |      CASE WHEN event_type = 'click' AND value > 50 THEN 's1' END,
        |      CASE WHEN event_type = 'view' THEN 's2' END)
        |      AS subscription_ids
        |  FROM changes),
        |g AS (
        |  SELECT *, count(*) OVER (PARTITION BY pub) AS slot_changes_count,
        |    sum(CASE WHEN subscription_ids <> '' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY pub) AS n_vis,
        |    row_number() OVER (PARTITION BY pub ORDER BY event_id) AS rn
        |  FROM vis)
        |SELECT pub,
        |  CASE WHEN subscription_ids <> '' THEN event_id END AS event_id,
        |  CASE WHEN subscription_ids <> '' THEN subscription_ids END
        |    AS subscription_ids,
        |  slot_changes_count
        |FROM g
        |WHERE subscription_ids <> '' OR (n_vis = 0 AND rn = 1)""".stripMargin)),
    // J8: node-routing — group subscriber ids per owning node (id → node map)
    Q("j8_node_routing",
      (s, d) => ev(s, d)
        .select((col("user_id") % 4).as("node"), col("user_id"))
        .distinct()
        .groupBy("node")
        .agg(concat_ws(",", array_sort(collect_set(col("user_id"))))
          .as("subscriber_ids")),
      Some("""WITH m AS (SELECT DISTINCT user_id % 4 AS node, user_id FROM events)
        |SELECT node,
        |       array_to_string(list_sort(list(user_id)), ',') AS subscriber_ids
        |FROM m GROUP BY 1""".stripMargin)),
    // O7's fallback arm at the reference's granularity: routing is
    // all-or-nothing PER CHANGE. collect_subscription_nodes halts on the
    // FIRST subscriber id absent from the id→node ETS map and the poller
    // then pubsub_broadcasts the ENTIRE change — all of its subscription
    // ids — to every node (replication_poller.ex:457-472); only a change
    // whose ids are ALL mapped routes point-to-point per node
    // (:425-447). Model: a change = 8 consecutive event ids, its
    // subscriber set = the distinct user_ids of those events; users
    // divisible by 3 are "mapped" with node = id % 4. The per-change
    // any-unmapped flag is a same-key aggregate joined back on change_id
    // (co-partitioned with the pair frame — one shuffle key end to end);
    // only the tiny node dim is broadcast for the fan-out arm.
    Q("j8_routing_fallback",
      (s, d) => {
        val pairs = ev(s, d)
          .select(floor(col("event_id") / 8).as("change_id"), col("user_id"))
          .distinct()
        val nodes = ev(s, d).select((col("user_id") % 4).as("node")).distinct()
        val flagged = pairs.groupBy("change_id")
          .agg(max((col("user_id") % 3 =!= 0).cast("int")).as("has_unmapped"))
        val routed = pairs.join(flagged, "change_id")
        val direct = routed.where(col("has_unmapped") === 0)
          .select((col("user_id") % 4).as("node"), col("change_id"),
            col("user_id"), lit(1).as("direct"))
        val fallback = routed.where(col("has_unmapped") === 1)
          .crossJoin(broadcast(nodes))
          .select(col("node"), col("change_id"), col("user_id"),
            lit(0).as("direct"))
        direct.unionByName(fallback)
          .groupBy("node")
          .agg(
            countDistinct(when(col("direct") === 1, col("change_id")))
              .as("n_direct_changes"),
            countDistinct(when(col("direct") === 0, col("change_id")))
              .as("n_fallback_changes"),
            count(lit(1)).as("n_id_deliveries"),
            sum(col("user_id")).as("id_sum"))
      },
      Some("""WITH pairs AS (SELECT DISTINCT event_id // 8 AS change_id, user_id
        |               FROM events),
        |nodes AS (SELECT DISTINCT user_id % 4 AS node FROM events),
        |flagged AS (SELECT change_id,
        |                   max(CASE WHEN user_id % 3 != 0 THEN 1 ELSE 0 END)
        |                     AS has_unmapped
        |            FROM pairs GROUP BY 1),
        |direct AS (SELECT p.user_id % 4 AS node, p.change_id, p.user_id,
        |                  1 AS direct
        |           FROM pairs p JOIN flagged f USING (change_id)
        |           WHERE f.has_unmapped = 0),
        |fallback AS (SELECT n.node, p.change_id, p.user_id, 0 AS direct
        |             FROM pairs p JOIN flagged f USING (change_id)
        |             CROSS JOIN nodes n
        |             WHERE f.has_unmapped = 1)
        |SELECT node,
        |       CAST(count(DISTINCT CASE WHEN direct = 1 THEN change_id END)
        |            AS BIGINT) AS n_direct_changes,
        |       CAST(count(DISTINCT CASE WHEN direct = 0 THEN change_id END)
        |            AS BIGINT) AS n_fallback_changes,
        |       CAST(count(*) AS BIGINT) AS n_id_deliveries,
        |       CAST(sum(user_id) AS BIGINT) AS id_sum
        |FROM (SELECT * FROM direct UNION ALL SELECT * FROM fallback)
        |GROUP BY 1""".stripMargin)),
    // Late-arriving dimension detection: facts whose dim key is absent
    // from a partial dimension snapshot — broadcast anti-join against
    // the dim, grouped orphan counts per missing key (the data-quality
    // gate before a fact↔dim join at scale)
    Q("j_late_dims",
      (s, d) => {
        val orders = ChangeFeed.table(s, d, "orders")
        val cust = ChangeFeed.table(s, d, "customer")
          .where(col("c_custkey") % 7 =!= 0) // partial snapshot
        orders.join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orphan_facts"))
      },
      Some("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orphan_facts
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
        |                        WHERE c_custkey % 7 != 0)
        |GROUP BY 1""".stripMargin)),
    // Backward as-of join (union + keyed running window — ONE shuffle,
    // no row multiplication): each click enriched with the most recent
    // prior error of the same user, nulled when staler than 2 h. The
    // oracle is DuckDB's native ASOF JOIN with the same tolerance gate.
    Q("j_asof_enrich",
      (s, d) => {
        val e = ev(s, d)
        val clicks = e.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            unix_micros(col("ts")).as("t_us"), col("ts"))
        val errors = e.where(col("event_type") === "error")
          .select(col("user_id"), col("ts"),
            col("event_id").as("err_id"), col("value").as("err_value"))
        graft.operators.TemporalJoin.asOfBackward(
            clicks, errors, Seq("user_id"), leftTs = "ts", rightTs = "ts",
            payload = Seq("err_id", "err_value"),
            toleranceUs = Some(7200000000L))
          .select("click_id", "user_id", "t_us",
            "err_id", "err_value", "asof_ts_us")
      },
      Some("""WITH j AS (
        |  SELECT c.click_id, c.user_id, c.t_us,
        |         e.err_id, e.err_value, e.asof_ts_us
        |  FROM (SELECT event_id AS click_id, user_id, epoch_us(ts) AS t_us, ts
        |        FROM events WHERE event_type = 'click') c
        |  ASOF LEFT JOIN
        |       (SELECT user_id, ts, event_id AS err_id, value AS err_value,
        |               epoch_us(ts) AS asof_ts_us
        |        FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts)
        |SELECT click_id, user_id, t_us,
        |  CASE WHEN t_us - asof_ts_us <= 7200000000 THEN err_id END AS err_id,
        |  CASE WHEN t_us - asof_ts_us <= 7200000000 THEN err_value END
        |    AS err_value,
        |  CASE WHEN t_us - asof_ts_us <= 7200000000 THEN asof_ts_us END
        |    AS asof_ts_us
        |FROM j""".stripMargin)),
    // Forward as-of: the NEXT error after each click (outcome
    // labeling), within 2 h. Same union+window shape as the backward
    // join, frame flipped; oracle is DuckDB's forward ASOF (l.ts <=
    // r.ts picks the earliest qualifying right row).
    Q("j_asof_next",
      (s, d) => {
        val e = ev(s, d)
        val clicks = e.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            unix_micros(col("ts")).as("t_us"), col("ts"))
        val errors = e.where(col("event_type") === "error")
          .select(col("user_id"), col("ts"),
            col("event_id").as("err_id"), col("value").as("err_value"))
        graft.operators.TemporalJoin.asOfForward(
            clicks, errors, Seq("user_id"), leftTs = "ts", rightTs = "ts",
            payload = Seq("err_id", "err_value"),
            toleranceUs = Some(7200000000L))
          .select("click_id", "user_id", "t_us",
            "err_id", "err_value", "asof_ts_us")
      },
      Some("""WITH j AS (
        |  SELECT c.click_id, c.user_id, c.t_us,
        |         e.err_id, e.err_value, e.asof_ts_us
        |  FROM (SELECT event_id AS click_id, user_id, epoch_us(ts) AS t_us, ts
        |        FROM events WHERE event_type = 'click') c
        |  ASOF LEFT JOIN
        |       (SELECT user_id, ts, event_id AS err_id, value AS err_value,
        |               epoch_us(ts) AS asof_ts_us
        |        FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.ts <= e.ts)
        |SELECT click_id, user_id, t_us,
        |  CASE WHEN asof_ts_us - t_us <= 7200000000 THEN err_id END AS err_id,
        |  CASE WHEN asof_ts_us - t_us <= 7200000000 THEN err_value END
        |    AS err_value,
        |  CASE WHEN asof_ts_us - t_us <= 7200000000 THEN asof_ts_us END
        |    AS asof_ts_us
        |FROM j""".stripMargin)),
    // Interval/range join via bin banding (equi-join on (key, bin) +
    // exact range post-filter — never a nested-loop): clicks landing
    // inside any [error, error+10min) window of the same user. The
    // oracle is the literal inequality join, which DuckDB runs as an
    // IEJoin.
    Q("j_range_windows",
      (s, d) => {
        val e = ev(s, d)
        val clicks = e.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        val wins = e.where(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"),
            col("ts").as("w_start"),
            expr("ts + INTERVAL 10 MINUTE").as("w_end"))
        graft.operators.TemporalJoin.rangeJoinBinned(
            clicks, wins, Seq("user_id"), pointTs = "ts",
            startTs = "w_start", endTs = "w_end", binUs = 600000000L)
          .select(col("click_id"), col("user_id"), col("err_id"),
            unix_micros(col("ts")).as("t_us"))
      },
      Some("""SELECT c.event_id AS click_id, c.user_id,
        |       e.event_id AS err_id, epoch_us(c.ts) AS t_us
        |FROM events c JOIN events e ON c.user_id = e.user_id
        |WHERE c.event_type = 'click' AND e.event_type = 'error'
        |  AND c.ts >= e.ts
        |  AND epoch_us(c.ts) < epoch_us(e.ts) + 600000000""".stripMargin)),
    // U1: UNION ALL sentinel row (always-returned aggregate alongside rows)
    Q("u1_union_sentinel",
      (s, d) => {
        val counts = ev(s, d).groupBy("event_type").agg(count(lit(1)).as("n"))
        val sentinel = ev(s, d).agg(count(lit(1)).as("n"))
          .select(lit("*").as("event_type"), col("n"))
        counts.unionByName(sentinel)
      },
      Some("""SELECT event_type, count(*) AS n FROM events GROUP BY 1
        |UNION ALL
        |SELECT '*', count(*) FROM events""".stripMargin)),
    // S2: binary pgoutput decode — encode each event row as a wire-format
    // Begin+Insert (with a per-partition Relation preamble), then decode
    // through the relation registry; the oracle computes the expected
    // decode output directly from the typed columns, so the query proves
    // decode(encode(row)) == row on real data.
    Q("s2_wal_decode",
      (s, d) => {
        import s.implicits._
        import graft.cdc.PgOutput
        import graft.cdc.PgOutput.{RelColumn, RelationMeta, TText, TNull}
        val events = spread(ev(s, d).select(
          col("event_id").cast("long").as("event_id"), col("event_type"),
          col("user_id").cast("long").as("user_id"),
          col("value").cast("double").as("value"),
          unix_micros(col("ts")).as("ts_us")), "event_id")
          .as[(Long, String, Long, Double, Long)]
        val relId = 42
        val meta = RelationMeta(relId, "public", "events", "d", Seq(
          RelColumn("event_id", "int8", isKey = true),
          RelColumn("event_type", "text", isKey = false),
          RelColumn("user_id", "int8", isKey = false),
          RelColumn("value", "float8", isKey = false)))
        val encoded = events.mapPartitions { it =>
          var first = true
          it.flatMap { case (id, et, uid, v, tsUs) =>
            val rel =
              if (first) { first = false; Seq((-1L, PgOutput.encodeRelation(meta))) }
              else Nil
            rel ++ Seq(
              (id * 2, PgOutput.encodeBegin(id, tsUs, (id % Int.MaxValue).toInt)),
              (id * 2 + 1, PgOutput.encodeInsert(relId, Seq(
                TText(id.toString),
                Option(et).map(TText(_)).getOrElse(TNull),
                TText(uid.toString), TText(v.toString)))))
          }
        }
        PgOutput.decodeChanges(encoded.toDF("seq", "msg"), "msg", "seq")
          .where(col("message") === "INSERT")
          .select(
            element_at(col("record"), "event_id").cast("long").as("event_id"),
            element_at(col("record"), "event_type").as("event_type"),
            element_at(col("record"), "user_id").cast("long").as("user_id"),
            element_at(col("record"), "value").cast("double").as("value"),
            col("change_schema"), col("change_table"), col("commit_timestamp"))
      },
      Some("""SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
        |       CAST(user_id AS BIGINT) AS user_id,
        |       CAST(value AS DOUBLE) AS value,
        |       'public' AS change_schema, 'events' AS change_table,
        |       strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS commit_timestamp
        |FROM events""".stripMargin)),
    // S1 (literal wal2json edge): render each event as a wal2json
    // format-version-2 JSON row — the exact shape the reference's slot
    // options produce (include-pk/-timestamp/-type-oids, format-version 2)
    // — then decode through Wal2Json into the shared WalChange shape.
    // Action mix: I/U/D by event_id mod 3; UPDATE carries an identity
    // (old) image with value-1. The oracle recomputes the expected decode
    // from the typed columns directly.
    Q("s1_wal2json_decode",
      (s, d) => {
        import graft.cdc.Wal2Json
        val e = spread(ev(s, d).select(col("event_id"), col("event_type"),
          col("value"), col("ts")), "event_id")
        val tsStr = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS'+00'")
        val cols = format_string(
          """[{"name":"event_id","type":"int8","typeoid":20,"value":%s},{"name":"event_type","type":"text","typeoid":25,"value":"%s"},{"name":"value","type":"float8","typeoid":701,"value":%s}]""",
          col("event_id"), col("event_type"), col("value"))
        val oldCols = format_string(
          """[{"name":"event_id","type":"int8","typeoid":20,"value":%s},{"name":"value","type":"float8","typeoid":701,"value":%s}]""",
          col("event_id"), col("value") - 1)
        val pk = """[{"name":"event_id","type":"int8"}]"""
        val m = pmod(col("event_id"), lit(3))
        val json = when(m === 0, format_string(
            s"""{"action":"I","schema":"public","table":"events","timestamp":"%s","columns":%s,"pk":$pk}""",
            tsStr, cols))
          .when(m === 1, format_string(
            s"""{"action":"U","schema":"public","table":"events","timestamp":"%s","columns":%s,"identity":%s,"pk":$pk}""",
            tsStr, cols, oldCols))
          .otherwise(format_string(
            s"""{"action":"D","schema":"public","table":"events","timestamp":"%s","identity":%s,"pk":$pk}""",
            tsStr, oldCols))
        Wal2Json.decodeChanges(
            e.select(col("event_id").as("seq"), json.as("w2j")), "w2j", "seq")
          .toDF()
          .select(col("seq").as("event_id"), col("message"),
            col("change_schema"), col("change_table"), col("commit_timestamp"),
            element_at(col("record"), "event_type").as("event_type"),
            element_at(col("record"), "value").cast("double").as("value_new"),
            element_at(col("old_record"), "value").cast("double").as("value_old"))
      },
      Some("""SELECT event_id,
        |  CASE event_id % 3 WHEN 0 THEN 'INSERT' WHEN 1 THEN 'UPDATE'
        |       ELSE 'DELETE' END AS message,
        |  'public' AS change_schema, 'events' AS change_table,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS commit_timestamp,
        |  CASE WHEN event_id % 3 < 2 THEN event_type END AS event_type,
        |  CASE WHEN event_id % 3 < 2 THEN value END AS value_new,
        |  CASE WHEN event_id % 3 > 0 THEN value - 1 END AS value_old
        |FROM events""".stripMargin)),
    // S1 (Kafka-Debezium edge): render each event as a Debezium slim
    // envelope (payload object, schemas.enable=false) and decode through
    // Debezium into the shared WalChange shape. Action mix c/u/d by
    // event_id mod 3; updates carry a before image with value-1; a
    // "note" column arrives as Debezium's unavailable-TOAST placeholder
    // on event_id % 6 == 1 — it must vanish from record (key-absence,
    // P8's contract) and surface in unchanged_toast. commit_timestamp
    // derives from source.ts_ms (millis), so the oracle truncates ts to
    // the millisecond before rendering micros.
    Q("s1_debezium_decode",
      (s, d) => {
        import graft.cdc.Debezium
        val e = spread(ev(s, d).select(col("event_id"), col("event_type"),
          col("value"), col("ts")), "event_id")
        val m = pmod(col("event_id"), lit(3))
        val note = when(pmod(col("event_id"), lit(6)) === 1,
            lit(Debezium.UnavailableValue))
          .otherwise(concat(lit("n"), col("event_id").cast("string")))
        val after = format_string(
          """{"event_id":%s,"event_type":"%s","value":%s,"note":"%s"}""",
          col("event_id"), col("event_type"), col("value"), note)
        val before = format_string(
          """{"event_id":%s,"value":%s}""",
          col("event_id"), col("value") - 1)
        val src = format_string(
          """{"schema":"public","table":"events","ts_ms":%s,"lsn":%s,"txId":%s}""",
          unix_millis(col("ts")), col("event_id"),
          pmod(col("event_id"), lit(1000)))
        val json = when(m === 0, format_string(
            s"""{"before":null,"after":%s,"source":%s,"op":"c","ts_ms":%s}""",
            after, src, unix_millis(col("ts"))))
          .when(m === 1, format_string(
            s"""{"before":%s,"after":%s,"source":%s,"op":"u","ts_ms":%s}""",
            before, after, src, unix_millis(col("ts"))))
          .otherwise(format_string(
            s"""{"before":%s,"after":null,"source":%s,"op":"d","ts_ms":%s}""",
            before, src, unix_millis(col("ts"))))
        Debezium.decodeChanges(
            e.select(col("event_id").as("seq"), json.as("dbz")), "dbz", "seq")
          .toDF()
          .select(col("seq").as("event_id"), col("message"), col("xid"),
            col("change_schema"), col("change_table"), col("commit_timestamp"),
            element_at(col("record"), "event_type").as("event_type"),
            element_at(col("record"), "value").cast("double").as("value_new"),
            element_at(col("old_record"), "value").cast("double").as("value_old"),
            element_at(col("record"), "note").as("note_out"),
            array_join(col("unchanged_toast"), ",").as("toast_cols"))
      },
      Some("""SELECT event_id,
        |  CASE event_id % 3 WHEN 0 THEN 'INSERT' WHEN 1 THEN 'UPDATE'
        |       ELSE 'DELETE' END AS message,
        |  CAST(event_id % 1000 AS BIGINT) AS xid,
        |  'public' AS change_schema, 'events' AS change_table,
        |  strftime(make_timestamp((epoch_us(ts) // 1000) * 1000),
        |           '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS commit_timestamp,
        |  CASE WHEN event_id % 3 < 2 THEN event_type END AS event_type,
        |  CASE WHEN event_id % 3 < 2 THEN value END AS value_new,
        |  CASE WHEN event_id % 3 > 0 THEN value - 1 END AS value_old,
        |  CASE WHEN event_id % 3 < 2 AND event_id % 6 != 1
        |       THEN 'n' || CAST(event_id AS VARCHAR) END AS note_out,
        |  CASE WHEN event_id % 3 < 2 AND event_id % 6 = 1
        |       THEN 'note' ELSE '' END AS toast_cols
        |FROM events""".stripMargin)),
    // CDC mirror: wal2json-encode a change stream keyed by user_id
    // (~10 changes per key), decode through Wal2Json, and compact to the
    // implied current state — last write per pk wins, trailing DELETE
    // removes the row. End-to-end: JSON → WalChange → compaction.
    Q("s1_wal_mirror",
      (s, d) => {
        import graft.cdc.{Mirror, Wal2Json}
        val e = spread(ev(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), col("value")), "event_id")
        val m = pmod(col("event_id"), lit(3))
        val cols = format_string(
          """[{"name":"user_id","type":"int8","typeoid":20,"value":%s},{"name":"event_type","type":"text","typeoid":25,"value":"%s"},{"name":"value","type":"float8","typeoid":701,"value":%s}]""",
          col("user_id"), col("event_type"), col("value"))
        val oldCols = format_string(
          """[{"name":"user_id","type":"int8","typeoid":20,"value":%s}]""",
          col("user_id"))
        val ts = """2024-01-01 00:00:00+00"""
        val json = when(m === 0, format_string(
            s"""{"action":"I","schema":"public","table":"events","timestamp":"$ts","columns":%s}""",
            cols))
          .when(m === 1, format_string(
            s"""{"action":"U","schema":"public","table":"events","timestamp":"$ts","columns":%s,"identity":%s}""",
            cols, oldCols))
          .otherwise(format_string(
            s"""{"action":"D","schema":"public","table":"events","timestamp":"$ts","identity":%s}""",
            oldCols))
        // persisted (r17, as s1_mirror_diff): fromWal reads `decoded`
        // twice — the mirror window and the TRUNCATE-boundary scan —
        // re-running the render+from_json battery per subtree
        val decoded = Wal2Json.decodeChanges(
          e.select(col("event_id").as("seq"), json.as("w2j")), "w2j", "seq")
          .toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Mirror.fromWal(decoded, "user_id")
          .select(col("user_id").cast("long").as("user_id"), col("seq"),
            element_at(col("record"), "event_type").as("event_type"),
            element_at(col("record"), "value").cast("double").as("value"))
      },
      Some("""WITH c AS (SELECT event_id AS seq, user_id,
        |  CASE event_id % 3 WHEN 0 THEN 'INSERT' WHEN 1 THEN 'UPDATE'
        |       ELSE 'DELETE' END AS message,
        |  event_type, value FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY seq DESC) AS rn FROM c)
        |SELECT user_id, seq, event_type, value FROM r
        |WHERE rn = 1 AND message != 'DELETE'""".stripMargin)),
    // Snapshot reconciliation: the mirror at a WAL prefix (seq < 5000)
    // vs the full mirror, every key classified INSERT/UPDATE/DELETE.
    Q("s1_mirror_diff",
      (s, d) => {
        import graft.cdc.{Mirror, Wal2Json}
        val e = spread(ev(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), col("value")), "event_id")
        val m = pmod(col("event_id"), lit(3))
        val cols = format_string(
          """[{"name":"user_id","type":"int8","typeoid":20,"value":%s},{"name":"event_type","type":"text","typeoid":25,"value":"%s"},{"name":"value","type":"float8","typeoid":701,"value":%s}]""",
          col("user_id"), col("event_type"), col("value"))
        val oldCols = format_string(
          """[{"name":"user_id","type":"int8","typeoid":20,"value":%s}]""",
          col("user_id"))
        val ts = """2024-01-01 00:00:00+00"""
        val json = when(m === 0, format_string(
            s"""{"action":"I","schema":"public","table":"events","timestamp":"$ts","columns":%s}""",
            cols))
          .when(m === 1, format_string(
            s"""{"action":"U","schema":"public","table":"events","timestamp":"$ts","columns":%s,"identity":%s}""",
            cols, oldCols))
          .otherwise(format_string(
            s"""{"action":"D","schema":"public","table":"events","timestamp":"$ts","identity":%s}""",
            oldCols))
        // persisted (r17): FOUR subtrees re-ran the render+from_json
        // battery uncached — each fromWal reads `decoded` twice (the
        // mirror window + the TRUNCATE-boundary scalar scan), and there
        // are two mirrors (JsonParseScan: 4× JsonToStructs). The same
        // stats-then-apply persist idiom as pipeline_curation_e2e_v2;
        // the bench/verify harnesses clearCache per query.
        val decoded = Wal2Json.decodeChanges(
          e.select(col("event_id").as("seq"), json.as("w2j")), "w2j", "seq")
          .toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // fused prefix diff (r17): one window pass computes both mirror
        // heads — the composed fromWal×2 + full-outer join ran two
        // window passes and a join, all shuffling the change stream
        Mirror.snapshotDiffAtPrefix(decoded, "user_id", col("seq") < 5000)
          .select(col("user_id").cast("long").as("user_id"),
            col("old_seq"), col("new_seq"), col("change"))
      },
      Some("""WITH c AS (SELECT event_id AS seq, user_id,
        |  CASE event_id % 3 WHEN 0 THEN 'INSERT' WHEN 1 THEN 'UPDATE'
        |       ELSE 'DELETE' END AS message FROM events),
        |o AS (SELECT user_id, seq FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY seq DESC) AS rn
        |  FROM c WHERE seq < 5000)
        |  WHERE rn = 1 AND message != 'DELETE'),
        |n AS (SELECT user_id, seq FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY seq DESC) AS rn FROM c)
        |  WHERE rn = 1 AND message != 'DELETE')
        |SELECT COALESCE(o.user_id, n.user_id) AS user_id,
        |       o.seq AS old_seq, n.seq AS new_seq,
        |       CASE WHEN o.user_id IS NULL THEN 'INSERT'
        |            WHEN n.user_id IS NULL THEN 'DELETE'
        |            WHEN o.seq != n.seq THEN 'UPDATE' END AS change
        |FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
        |WHERE CASE WHEN o.user_id IS NULL THEN 'INSERT'
        |           WHEN n.user_id IS NULL THEN 'DELETE'
        |           WHEN o.seq != n.seq THEN 'UPDATE' END IS NOT NULL"""
        .stripMargin)),
    // SCD2 history from the same change stream: each INSERT/UPDATE is a
    // version valid until the key's next change; DELETE closes without
    // opening; the open version is is_current
    Q("s1_wal_scd2",
      (s, d) => {
        import graft.cdc.{Mirror, Wal2Json}
        val e = spread(ev(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), col("ts")), "event_id")
        val m = pmod(col("event_id"), lit(3))
        val tsStr = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS'+00'")
        val cols = format_string(
          """[{"name":"user_id","type":"int8","typeoid":20,"value":%s},{"name":"event_type","type":"text","typeoid":25,"value":"%s"}]""",
          col("user_id"), col("event_type"))
        val oldCols = format_string(
          """[{"name":"user_id","type":"int8","typeoid":20,"value":%s}]""",
          col("user_id"))
        val json = when(m === 0, format_string(
            """{"action":"I","schema":"public","table":"events","timestamp":"%s","columns":%s}""",
            tsStr, cols))
          .when(m === 1, format_string(
            """{"action":"U","schema":"public","table":"events","timestamp":"%s","columns":%s,"identity":%s}""",
            tsStr, cols, oldCols))
          .otherwise(format_string(
            """{"action":"D","schema":"public","table":"events","timestamp":"%s","identity":%s}""",
            tsStr, oldCols))
        // persisted (r17, as s1_mirror_diff): scd2FromWal reads
        // `decoded` twice — the version window and the TRUNCATE-list
        // scalar scan — re-running the render+from_json battery per
        // subtree
        val decoded = Wal2Json.decodeChanges(
          e.select(col("event_id").as("seq"), json.as("w2j")), "w2j", "seq")
          .toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Mirror.scd2FromWal(decoded, "user_id")
          .select(col("user_id").cast("long").as("user_id"), col("seq"),
            col("valid_from"), col("valid_to"), col("is_current"),
            element_at(col("record"), "event_type").as("event_type"))
      },
      Some("""WITH c AS (SELECT event_id AS seq, user_id,
        |  CASE event_id % 3 WHEN 0 THEN 'INSERT' WHEN 1 THEN 'UPDATE'
        |       ELSE 'DELETE' END AS message,
        |  event_type,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS vts FROM events),
        |w AS (SELECT *, lead(vts) OVER (PARTITION BY user_id ORDER BY seq)
        |        AS valid_to FROM c)
        |SELECT user_id, seq, vts AS valid_from, valid_to,
        |  valid_to IS NULL AS is_current,
        |  event_type
        |FROM w WHERE message != 'DELETE'""".stripMargin)),
    // Point-in-time (feature-store) join: each fact enriched with the
    // SCD2 dimension version VALID AT FACT TIME — scd2FromWal composed
    // with the backward as-of join, then versions already closed at the
    // fact's timestamp are nulled out (a fact after the key's DELETE
    // sees no version, not the stale last one). The canonical
    // training-feature extraction pattern: no leakage from the future,
    // no resurrection of closed versions.
    Q("j_asof_pit",
      (s, d) => {
        import graft.cdc.{Mirror, Wal2Json}
        val e = spread(ev(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), col("ts")), "event_id")
        val eFacts = ev(s, d)
        val m = pmod(col("event_id"), lit(3))
        val tsStr = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS'+00'")
        val cols = format_string(
          """[{"name":"user_id","type":"int8","typeoid":20,"value":%s},{"name":"event_type","type":"text","typeoid":25,"value":"%s"}]""",
          col("user_id"), col("event_type"))
        val oldCols = format_string(
          """[{"name":"user_id","type":"int8","typeoid":20,"value":%s}]""",
          col("user_id"))
        val json = when(m === 0, format_string(
            """{"action":"I","schema":"public","table":"events","timestamp":"%s","columns":%s}""",
            tsStr, cols))
          .when(m === 1, format_string(
            """{"action":"U","schema":"public","table":"events","timestamp":"%s","columns":%s,"identity":%s}""",
            tsStr, cols, oldCols))
          .otherwise(format_string(
            """{"action":"D","schema":"public","table":"events","timestamp":"%s","identity":%s}""",
            tsStr, oldCols))
        // persisted (r17, as s1_mirror_diff): scd2FromWal reads
        // `decoded` twice (version window + TRUNCATE-list scan)
        val decoded = Wal2Json.decodeChanges(
          e.select(col("event_id").as("seq"), json.as("w2j")), "w2j", "seq")
          .toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val iso = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
        val dim = Mirror.scd2FromWal(decoded, "user_id")
          .select(col("user_id").cast("long").as("user_id"),
            to_timestamp(col("valid_from"), iso).as("vfrom"),
            to_timestamp(col("valid_to"), iso).as("vto"),
            col("seq").as("ver_seq"),
            element_at(col("record"), "event_type").as("ver_type"))
        val facts = eFacts.where(col("event_type") === "click")
          .select(col("event_id").as("fact_id"), col("user_id"),
            unix_micros(col("ts")).as("t_us"), col("ts"))
        val joined = graft.operators.TemporalJoin.asOfBackward(
          facts, dim, Seq("user_id"), leftTs = "ts", rightTs = "vfrom",
          payload = Seq("ver_seq", "ver_type", "vto"))
        val open = col("vto").isNull || unix_micros(col("vto")) > col("t_us")
        joined.select(col("fact_id"), col("user_id"), col("t_us"),
          when(open, col("ver_seq")).as("ver_seq"),
          when(open, col("ver_type")).as("ver_type"))
      },
      Some("""WITH c AS (SELECT event_id AS seq, user_id,
        |  CASE event_id % 3 WHEN 0 THEN 'INSERT' WHEN 1 THEN 'UPDATE'
        |       ELSE 'DELETE' END AS message,
        |  event_type, ts FROM events),
        |w AS (SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY seq)
        |        AS vto FROM c),
        |v AS (SELECT user_id, seq AS ver_seq, event_type AS ver_type,
        |        ts AS vfrom, vto FROM w WHERE message != 'DELETE'),
        |f AS (SELECT event_id AS fact_id, user_id, epoch_us(ts) AS t_us, ts
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT f.fact_id, f.user_id, f.t_us,
        |             v.ver_seq, v.ver_type, v.vto, f.ts AS fts
        |      FROM f ASOF LEFT JOIN v
        |      ON f.user_id = v.user_id AND f.ts >= v.vfrom)
        |SELECT fact_id, user_id, t_us,
        |  CASE WHEN vto IS NULL OR vto > fts THEN ver_seq END AS ver_seq,
        |  CASE WHEN vto IS NULL OR vto > fts THEN ver_type END AS ver_type
        |FROM j""".stripMargin)),
    // S9 binary client frames: V2-serializer round-trip (encode a mixed
    // broadcast / user_broadcast stream, decode, recover every field).
    // The payload survives as opaque bytes; metadata only exists on
    // user_broadcast frames.
    Q("s9_v2_frames",
      (s, d) => {
        import s.implicits._
        import graft.api.V2Frames
        val events = spread(ev(s, d).select(
          col("event_id").cast("long").as("event_id"), col("event_type"),
          col("props")), "event_id")
          .as[(Long, String, String)]
        events.map { case (id, et, props) =>
          val bytes =
            if (id % 2 == 0)
              V2Frames.encodeBroadcast(et, "broadcast", props.getBytes("UTF-8"))
            else
              V2Frames.encodeUserBroadcast(et, "user_ev",
                Some(s"""{"id":$id}"""), payloadIsJson = true,
                props.getBytes("UTF-8"))
          val f = V2Frames.decode(bytes)
          (id, f.opcode, f.topic, f.event, f.metadata, f.payload_is_json,
            new String(f.payload, "UTF-8"))
        }.toDF("id", "opcode", "topic", "event", "metadata",
          "payload_is_json", "payload_text")
      },
      Some("""SELECT event_id AS id,
        |  CASE WHEN event_id % 2 = 0 THEN 2 ELSE 4 END AS opcode,
        |  event_type AS topic,
        |  CASE WHEN event_id % 2 = 0 THEN 'broadcast' ELSE 'user_ev' END AS event,
        |  CASE WHEN event_id % 2 = 0 THEN NULL
        |       ELSE '{"id":' || event_id || '}' END AS metadata,
        |  (event_id % 2 != 0) AS payload_is_json,
        |  props AS payload_text
        |FROM events""".stripMargin)),
    // The CLIENT binary push end-to-end (r15 verdict task 2) — the
    // inbound twin of s7_send_binary: a V2 `user_broadcast_push` frame
    // (opcode 3, v2_serializer.ex:179-213 decode arm) arrives from the
    // client, is decoded by the REAL codec (encode → decode(inbound)
    // round-trip — a codec bug breaks the oracle match), and its TUPLE
    // payload `{user_event, encoding, payload, metadata}` routes through
    // the broadcast handler's admission (broadcast_handler.ex:25-151):
    // write-authz (private channels only — public skips the probe;
    // denied pushes drop SILENTLY, even with ack), the modeled
    // rate-counter arm (the counter increments post-authz,
    // realtime_channel.ex:291-303 kills the channel when over limit —
    // modeled as a per-push verdict like s8's admission, reply null),
    // the payload-size guard (ack ⇒ error reply, else swallowed), then
    // UserBroadcast wrap (:146-149) into the gated fan-out
    // (broadcast_read + self-broadcast sender exclusion) and out as V2
    // `user_broadcast` frames (opcode 4) whose bytes the oracle pins
    // arithmetically. Outbound metadata is ZERO-LENGTH — build_broadcast
    // drops the inbound metadata ("not using the metadata for anything
    // just yet") and a 0-size metadata field decodes as '{}' — while the
    // 'sent' admission rows pin the INBOUND frame bytes and decoded
    // fields (including the ml=0 ⇒ '{}' arm on doc_id%4=0). Legs keyed
    // on the digest's first hex digit: <'8' raw binary payload (md5
    // bytes, enc=0), >='8' JSON text (enc=1, with an oversize arm).
    // Scale shape: two narrow typed codec maps, one broadcast hash join
    // on topic (the fan-out), zero extra shuffles.
    Q("s9_push_e2e",
      (s, d) => {
        import s.implicits._
        import graft.api.{Dispatcher, V2Frames}
        val withH = ChangeFeed.table(s, d, "documents")
          .withColumn("h", graft.plans.EvalOnce.of(
            md5(concat(lit("push:"), col("doc_id")))))
        val isJson = substring(col("h"), 1, 1) >= "8"
        val jsonText = when(pmod(col("doc_id"), lit(11)) === 5,
            concat(lit("{\"pad\":\""), repeat(lit("x"), 1600), lit("\"}")))
          .otherwise(concat(lit("{\"v\":"), col("doc_id"), lit("}")))
        val inbound = withH.select(
          col("doc_id").cast("string").as("ref"),
          lit("7").as("jr"),
          col("source").as("topic"),
          concat(lit("ev"), pmod(col("doc_id"), lit(3))).as("ue"),
          when(pmod(col("doc_id"), lit(4)) =!= 0,
            concat(lit("{\"k\":"), pmod(col("doc_id"), lit(10)), lit("}")))
            .as("md"),
          isJson.as("is_json"),
          when(isJson, to_binary(jsonText, lit("utf-8")))
            .otherwise(unhex(col("h"))).as("payload"))
          .as[(String, String, String, String, String, Boolean, Array[Byte])]
        // leg 1: the wire round-trip — REAL encode of the client frame,
        // REAL inbound decode; everything downstream uses DECODED fields
        val decoded = inbound.map { case (ref, jr, topic, ue, md, enc, pay) =>
          val bytes = V2Frames.encodeUserBroadcastPush(jr, ref, topic, ue,
            Option(md), payloadIsJson = enc, pay)
          val f = V2Frames.decode(bytes, inbound = true)
          (f.ref, f.topic, f.event, f.metadata, f.payload_is_json,
            f.payload, V2Frames.hexUpper(bytes))
        }.toDF("ref", "topic", "ue", "md", "is_json", "payload",
          "frame_in_hex")
        // leg 2: admission — flags derived from the decoded ref (the
        // socket assigns: private?, self_broadcast, ack_broadcast)
        val docId = col("ref").cast("long")
        val adm = decoded
          .withColumn("doc_id", docId)
          .withColumn("private", pmod(col("doc_id"), lit(5)) =!= 0)
          .withColumn("self_broadcast", pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("ack", pmod(col("doc_id"), lit(3)) === 0)
          .withColumn("sender_socket_id",
            pmod(col("doc_id"), lit(100)).cast("long"))
          .withColumn("write_allowed",
            !col("private") || pmod(col("doc_id"), lit(7)) =!= 0)
          .withColumn("over_rate", pmod(col("doc_id"), lit(13)) === 4)
          .withColumn("oversize", octet_length(col("payload")) > 1500)
          .withColumn("status",
            when(!col("write_allowed"), "rls_denied")
              .when(col("over_rate"), "rate_limited")
              .when(col("oversize"), "payload_size_exceeded")
              .otherwise("sent"))
          .withColumn("reply",
            when(col("write_allowed") && !col("over_rate") && col("ack"),
              when(col("oversize"), "error_payload_size_exceeded")
                .otherwise("ok")))
        val pushRows = adm.select(
          col("ref"), lit(null).cast("long").as("socket_id"),
          col("status"), col("reply"), col("topic"), col("ue").as("user_event"),
          col("md").as("metadata"), col("is_json").as("payload_is_json"),
          hex(col("payload")).as("payload_hex"),
          col("frame_in_hex").as("frame_hex"))
        // leg 3: UserBroadcast wrap + gated dispatch + outbound frames
        val msgs = adm.where(col("status") === "sent").select(
          col("topic"), col("doc_id").as("message_id"),
          lit("broadcast").as("extension"),
          col("sender_socket_id"), col("self_broadcast"),
          col("ref"), col("ue"), col("is_json"), col("payload"),
          when(col("private"), concat(lit("t0-private:"), col("topic")))
            .otherwise(concat(lit("t0:"), col("topic"))).as("tt"))
        val sockets = ChangeFeed.table(s, d, "customer")
          .where(col("c_custkey") < 100)
          .select(col("c_custkey").cast("long").as("socket_id"),
            concat(lit("src"), pmod(col("c_custkey"), lit(20))).as("topic"),
            lit(true).as("presence_read"),
            (pmod(col("c_custkey"), lit(2)) === 0).as("broadcast_read"))
        val gated = Dispatcher.gate(msgs, sockets, None,
            senderExclusion = true)
          .where(col("status") === "deliver")
          .select(col("ref"), col("socket_id"), col("tt"), col("ue"),
            col("is_json"), col("payload"))
          .as[(String, Long, String, String, Boolean, Array[Byte])]
        val deliveries = gated.map { case (ref, sock, tt, ue, enc, pay) =>
          val bytes = V2Frames.encodeUserBroadcast(tt, ue, None,
            payloadIsJson = enc, pay)
          val f = V2Frames.decode(bytes)
          (ref, sock, f.topic, f.event, f.metadata, f.payload_is_json,
            V2Frames.hexUpper(f.payload), V2Frames.hexUpper(bytes))
        }.toDF("ref", "socket_id", "topic", "user_event", "metadata",
          "payload_is_json", "payload_hex", "frame_hex")
          .select(col("ref"), col("socket_id"),
            lit("delivered").as("status"),
            lit(null).cast("string").as("reply"),
            col("topic"), col("user_event"), col("metadata"),
            col("payload_is_json"), col("payload_hex"), col("frame_hex"))
        pushRows.unionByName(deliveries)
      },
      Some("""WITH p AS (
        |  SELECT doc_id, source, md5('push:' || doc_id) AS h FROM documents),
        |sh AS (
        |  SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS ref,
        |    'ev' || CAST(doc_id % 3 AS VARCHAR) AS ue,
        |    CASE WHEN doc_id % 4 != 0 THEN
        |      '{"k":' || CAST(doc_id % 10 AS VARCHAR) || '}' END AS md_raw,
        |    substr(h,1,1) >= '8' AS is_json,
        |    CASE WHEN substr(h,1,1) >= '8' THEN
        |      CASE WHEN doc_id % 11 = 5 THEN
        |             hex(encode('{"pad":"' || repeat('x', 1600) || '"}'))
        |           ELSE hex(encode('{"v":' || doc_id || '}')) END
        |      ELSE upper(h) END AS payload_hex,
        |    (doc_id % 5 != 0) AS private,
        |    (doc_id % 2 = 0) AS self_broadcast,
        |    (doc_id % 3 = 0) AS ack,
        |    doc_id % 100 AS sender_socket_id
        |  FROM p),
        |adm AS (
        |  SELECT *,
        |    (NOT private OR doc_id % 7 != 0) AS write_allowed,
        |    (doc_id % 13 = 4) AS over_rate,
        |    (length(payload_hex) > 3000) AS oversize
        |  FROM sh),
        |st AS (
        |  SELECT *,
        |    CASE WHEN NOT write_allowed THEN 'rls_denied'
        |         WHEN over_rate THEN 'rate_limited'
        |         WHEN oversize THEN 'payload_size_exceeded'
        |         ELSE 'sent' END AS status,
        |    CASE WHEN write_allowed AND NOT over_rate AND ack THEN
        |      CASE WHEN oversize THEN 'error_payload_size_exceeded'
        |           ELSE 'ok' END END AS reply
        |  FROM adm),
        |pushrows AS (
        |  SELECT ref, CAST(NULL AS BIGINT) AS socket_id, status, reply,
        |    source AS topic, ue AS user_event,
        |    COALESCE(md_raw, '{}') AS metadata, is_json AS payload_is_json,
        |    payload_hex,
        |    '03' || lpad(hex(octet_length(encode('7'))), 2, '0')
        |         || lpad(hex(octet_length(encode(ref))), 2, '0')
        |         || lpad(hex(octet_length(encode(source))), 2, '0')
        |         || lpad(hex(octet_length(encode(ue))), 2, '0')
        |         || lpad(hex(octet_length(encode(COALESCE(md_raw, '')))), 2, '0')
        |         || CASE WHEN is_json THEN '01' ELSE '00' END
        |         || hex(encode('7')) || hex(encode(ref))
        |         || hex(encode(source)) || hex(encode(ue))
        |         || hex(encode(COALESCE(md_raw, ''))) || payload_hex
        |      AS frame_hex
        |  FROM st),
        |sockets AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS socket_id,
        |         'src' || CAST(c_custkey % 20 AS VARCHAR) AS topic,
        |         (c_custkey % 2 = 0) AS broadcast_read
        |  FROM customer WHERE c_custkey < 100),
        |del AS (
        |  SELECT a.ref, s.socket_id,
        |    CASE WHEN a.private THEN 't0-private:' || a.source
        |         ELSE 't0:' || a.source END AS tt,
        |    a.ue, a.is_json, a.payload_hex
        |  FROM st a JOIN sockets s ON a.source = s.topic
        |  WHERE a.status = 'sent' AND s.broadcast_read
        |    AND (a.self_broadcast OR s.socket_id != a.sender_socket_id)),
        |delrows AS (
        |  SELECT ref, socket_id, 'delivered' AS status,
        |    CAST(NULL AS VARCHAR) AS reply, tt AS topic, ue AS user_event,
        |    '{}' AS metadata, is_json AS payload_is_json, payload_hex,
        |    '04' || lpad(hex(octet_length(encode(tt))), 2, '0')
        |         || lpad(hex(octet_length(encode(ue))), 2, '0')
        |         || '00' || CASE WHEN is_json THEN '01' ELSE '00' END
        |         || hex(encode(tt)) || hex(encode(ue)) || payload_hex
        |      AS frame_hex
        |  FROM del)
        |SELECT * FROM pushrows UNION ALL SELECT * FROM delrows""".stripMargin)),
    // Per-socket read-gating of presence/broadcast fan-out: presence
    // diffs gated on presence_read (NULL → channel-time authorize),
    // broadcasts on broadcast_read + not-already-replayed.
    Q("j_dispatch_gating",
      (s, d) => {
        import graft.api.Dispatcher
        val msgs = messagesFromEvents(s, d).select(
          col("topic"), col("id").as("message_id"),
          when(col("private"), "presence_diff").otherwise("broadcast")
            .as("extension"))
        val topics = array(lit("click"), lit("view"), lit("error"),
          lit("purchase"), lit("signup"))
        val sockets = ChangeFeed.table(s, d, "customer")
          .where(col("c_custkey") < 100)
          .select(col("c_custkey").cast("long").as("socket_id"),
            element_at(topics, (pmod(col("c_custkey"), lit(5)) + 1).cast("int"))
              .as("topic"),
            when(pmod(col("c_custkey"), lit(3)) === 0, lit(true))
              .when(pmod(col("c_custkey"), lit(3)) === 1, lit(false))
              .as("presence_read"),
            (pmod(col("c_custkey"), lit(2)) === 0).as("broadcast_read"))
        val replayed = msgs
          .where(pmod(col("message_id"), lit(7)) === 0).select("message_id")
          .crossJoin(sockets.where(pmod(col("socket_id"), lit(4)) === 0)
            .select("socket_id"))
        Dispatcher.gate(msgs, sockets, Some(replayed))
          .groupBy("socket_id", "status", "extension")
          .agg(count(lit(1)).as("n"))
      },
      Some("""WITH msgs AS (
        |  SELECT event_type AS topic, event_id AS message_id,
        |         CASE WHEN user_id % 2 = 0 THEN 'presence_diff'
        |              ELSE 'broadcast' END AS extension
        |  FROM events),
        |sockets AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS socket_id,
        |         list_extract(['click','view','error','purchase','signup'],
        |                      CAST(c_custkey % 5 + 1 AS INT)) AS topic,
        |         CASE WHEN c_custkey % 3 = 0 THEN true
        |              WHEN c_custkey % 3 = 1 THEN false END AS presence_read,
        |         (c_custkey % 2 = 0) AS broadcast_read
        |  FROM customer WHERE c_custkey < 100),
        |g AS (
        |  SELECT s.socket_id, m.extension, m.message_id,
        |         CASE WHEN m.extension = 'presence_diff' THEN
        |                CASE WHEN s.presence_read THEN 'deliver'
        |                     WHEN s.presence_read IS NULL THEN 'authorize'
        |                     ELSE 'withhold' END
        |              ELSE CASE WHEN s.broadcast_read THEN 'deliver'
        |                        ELSE 'withhold' END END AS status
        |  FROM msgs m JOIN sockets s ON m.topic = s.topic)
        |SELECT socket_id, status, extension, count(*) AS n FROM g
        |WHERE status != 'withhold'
        |  AND NOT (extension = 'broadcast' AND message_id % 7 = 0
        |           AND socket_id % 4 = 0)
        |GROUP BY 1, 2, 3""".stripMargin)),
    // Self-exclusion + ack replies (broadcast_handler.ex:95-141 with the
    // dispatcher's pid==from skip): self=false drops the SENDER'S OWN
    // socket from the fan-out; ack=true earns the sender a reply (ok or
    // the oversize error), ack=false swallows even the error silently;
    // oversize pushes never reach the dispatcher at all.
    Q("j_dispatch_self_ack",
      (s, d) => {
        import graft.api.Dispatcher
        val e = ev(s, d)
        val msgs = e.select(
          col("event_id").as("message_id"),
          col("event_type").as("topic"),
          lit("broadcast").as("extension"),
          (col("user_id") % 20).as("sender_socket_id"),
          (col("user_id") % 3 === 0).as("self_broadcast"),
          (col("user_id") % 2 === 0).as("ack"),
          (length(col("props")) > lit(8)).as("oversize"))
        val sockets = e.select(col("event_type").as("topic")).distinct()
          .crossJoin(s.range(20).select(col("id").as("socket_id")))
          .select(col("topic"), col("socket_id"),
            lit(true).as("presence_read"),
            (col("socket_id") % 4 =!= 0).as("broadcast_read"))
        val gated = Dispatcher.gate(msgs.where(!col("oversize")), sockets,
          None, senderExclusion = true)
        val perMsg = gated.groupBy("message_id").agg(
          count(lit(1)).as("n_delivered"),
          max((col("socket_id") === col("sender_socket_id")).cast("int"))
            .as("sender_received"))
        Dispatcher.ackReplies(msgs)
          .join(perMsg, Seq("message_id"), "left")
          .select("message_id", "reply", "n_delivered", "sender_received")
      },
      Some("""WITH m AS (
        |  SELECT event_id AS message_id, user_id % 20 AS sender,
        |         (user_id % 3 = 0) AS self_b, (user_id % 2 = 0) AS ack,
        |         (length(props) > 8) AS oversize
        |  FROM events)
        |SELECT message_id,
        |  CASE WHEN ack AND oversize THEN 'error_payload_size_exceeded'
        |       WHEN ack THEN 'ok' END AS reply,
        |  CASE WHEN oversize THEN NULL
        |       ELSE CAST(15 - CASE WHEN NOT self_b AND sender % 4 != 0
        |                           THEN 1 ELSE 0 END AS BIGINT)
        |  END AS n_delivered,
        |  CASE WHEN oversize THEN NULL
        |       WHEN self_b AND sender % 4 != 0 THEN 1 ELSE 0
        |  END AS sender_received
        |FROM m""".stripMargin)),
    // S1 end-to-end: the FULL ingest edge under one oracle — events rows
    // wire-encoded as pgoutput Inserts, decoded through the relation
    // registry, matched by the one-pass multi-table battery, and shaped
    // into per-(role, selected_columns) payload groups. Record maps keep
    // ≤4 entries (scala.collection Map1-4 preserve insertion order, so
    // to_json key order matches the DuckDB MAP literal).
    Q("s1_wal_pipeline",
      (s, d) => {
        import s.implicits._
        import graft.cdc.PgOutput
        import graft.cdc.PgOutput.{RelColumn, RelationMeta, TText, TNull}
        import graft.walrus.MultiTableMatch
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val events = spread(ev(s, d).select(
          col("event_id").cast("long").as("event_id"), col("event_type"),
          col("user_id").cast("long").as("user_id")), "event_id")
          .as[(Long, String, Long)]
        val relId = 77
        val meta = RelationMeta(relId, "public", "events", "d", Seq(
          RelColumn("event_id", "int8", isKey = true),
          RelColumn("event_type", "text", isKey = false),
          RelColumn("user_id", "int8", isKey = false)))
        val encoded = events.mapPartitions { it =>
          var first = true
          it.flatMap { case (id, et, uid) =>
            val rel =
              if (first) { first = false; Seq((-1L, PgOutput.encodeRelation(meta))) }
              else Nil
            rel :+ (id, PgOutput.encodeInsert(relId, Seq(
              TText(id.toString),
              Option(et).map(TText(_)).getOrElse(TNull),
              TText(uid.toString))))
          }
        }
        val decoded = PgOutput.decodeChanges(encoded.toDF("seq", "msg"), "msg", "seq")
          .filter(c => c.message == "INSERT")
          .toDF().withColumnRenamed("message", Walrus.TypeCol)
        val registry = Map(("public", "events") -> StructType(Seq(
          StructField("event_id", LongType), StructField("event_type", StringType),
          StructField("user_id", LongType))))
        val walSubs = Seq(
          Subscription("w1", "public", "events",
            FilterParser.parse("user_id=gt.40").toOption.get),
          Subscription("w2", "public", "events",
            FilterParser.parse("event_type=eq.click").toOption.get,
            claimsRole = "anon", selectedColumns = Seq("event_type")),
          Subscription("w3", "public", "events", Nil))
        val matched = MultiTableMatch.matchSubscriptions(decoded, registry, walSubs)
          .where(size(col("subscription_ids")) > 0)
        Payload.shapeGeneric(matched, walSubs,
            Map(("public", "events") -> Seq("event_id")))
          .select(col("claims_role"), col("selected_columns"), col("record"),
            explode(col("subscription_ids")).as("subscription_id"))
      },
      Some("""SELECT 'anon' AS claims_role, 'event_type' AS selected_columns,
        |       to_json(MAP {'event_id': event_id::VARCHAR,
        |                    'event_type': event_type})::VARCHAR AS record,
        |       'w2' AS subscription_id
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT 'authenticated', '',
        |       to_json(MAP {'event_id': event_id::VARCHAR,
        |                    'event_type': event_type,
        |                    'user_id': user_id::VARCHAR})::VARCHAR,
        |       'w1'
        |FROM events WHERE user_id > 40
        |UNION ALL
        |SELECT 'authenticated', '',
        |       to_json(MAP {'event_id': event_id::VARCHAR,
        |                    'event_type': event_type,
        |                    'user_id': user_id::VARCHAR})::VARCHAR,
        |       'w3'
        |FROM events""".stripMargin)),
    // 2.7 scalar: realtime.quote_wal2json — the LIVE add-tables escape
    // (…20260528120000_wal2json_escape_special_chars.ex:7-33): escape
    // ONLY \ , . and whitespace, NO quote-stripping — over data-derived
    // gnarly identifiers (spaces, commas, dots, backslashes, quotes)
    Q("f_quote_wal2json",
      (s, d) => {
        import graft.cdc.Wal2Json
        ev(s, d).select(col("event_id"),
          Wal2Json.quoteWal2json(lit("pub lic"),
            concat(lit("\""), col("event_type"), lit(".t x,\\\"")))
            .as("quoted"))
      },
      Some("""SELECT event_id,
        |  regexp_replace('pub lic', '([\\,.[:space:]])', '\\\1', 'g')
        |  || '.' ||
        |  regexp_replace('"' || event_type || '.t x,\"',
        |    '([\\,.[:space:]])', '\\\1', 'g') AS quoted
        |FROM events""".stripMargin)),
    // realtime.cast (…20260218120000_fix_bytea_double_encoding_in_cast
    // .ex:8-24): cast the text literal to the column type, render as
    // jsonb — numbers/bools bare, strings JSON-quoted (escaped), jsonb
    // verbatim, and the bytea FIX arm: the raw `\x…` text renders as a
    // plain JSON string instead of being re-encoded. The type resolves
    // at plan time (the reference interpolates the regtype at subscribe
    // time), so each arm is a native expression.
    Q("f_realtime_cast",
      (s, d) => {
        graft.api.GraftFunctions.register(s)
        ev(s, d).select(col("event_id"),
          call_function("realtime_cast",
            col("user_id").cast("string"), lit("int8")).as("as_int"),
          call_function("realtime_cast",
            when(col("user_id") % 2 === 0, "true").otherwise("false"),
            lit("bool")).as("as_bool"),
          call_function("realtime_cast", col("event_type"), lit("text"))
            .as("as_text"),
          call_function("realtime_cast", lit("{\"a\": 1}"), lit("jsonb"))
            .as("as_jsonb"),
          call_function("realtime_cast",
            concat(lit("\\x"),
              lpad(lower(hex(col("user_id") % 256)), 2, "0")),
            lit("bytea")).as("as_bytea"))
      },
      Some("""SELECT event_id,
        |  CAST(user_id AS VARCHAR) AS as_int,
        |  CASE WHEN user_id % 2 = 0 THEN 'true' ELSE 'false' END AS as_bool,
        |  to_json(event_type)::VARCHAR AS as_text,
        |  '{"a": 1}' AS as_jsonb,
        |  to_json('\x' || lpad(lower(hex(user_id % 256)), 2, '0'))::VARCHAR
        |    AS as_bytea
        |FROM events""".stripMargin)),
    // 2.7 scalar functions: dynamic cast + UTC ISO-8601 millis timestamp
    // format + epoch-millis roundtrip + stable hash
    Q("f_scalar_funcs",
      (s, d) => ev(s, d).select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("ts_iso"),
        (unix_millis(col("ts"))).as("epoch_ms"),
        col("value").cast("string").cast("double").as("value_roundtrip"),
        md5(concat_ws("|", col("event_id"), col("event_type"))).as("param_hash")),
      Some("""SELECT event_id,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS ts_iso,
        |  epoch_us(ts) // 1000 AS epoch_ms,
        |  CAST(CAST(value AS VARCHAR) AS DOUBLE) AS value_roundtrip,
        |  md5(event_id::VARCHAR || '|' || event_type) AS param_hash
        |FROM events""".stripMargin)),
    // S1 external-source adapter, batch surface: produce a bounded event
    // slice into a Kafka-shaped replay log partitioned by user_id % 4
    // (driver-side appender stands in for the external producer — capped
    // at <=2000 ids, an ingest-cap-bounded loop, never the data path),
    // read it back through the DataSource V2 batch scan, and verify the
    // offset assignment end to end: per-partition offsets dense from 0
    // in append order, every record present exactly once.
    Q("src_replay_log",
      (s, d) => {
        import graft.sources.ReplayLog
        val topic = "q-src-replay"
        ReplayLog.delete(topic) // idempotent re-runs within one session
        ev(s, d).where(col("event_id") <= 2000)
          .select(col("event_id").cast("long"), col("user_id").cast("long"))
          .collect().sortBy(_.getLong(0))
          .foreach { r =>
            ReplayLog.append(topic, (r.getLong(1) % 4).toInt,
              r.getLong(0).toString,
              r.getLong(0).toString.getBytes("UTF-8"))
          }
        s.read.format("graft-replaylog").option("topic", topic).load()
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n"), max(col("offset")).as("max_offset"),
            sum(col("value").cast("string").cast("long")).as("id_sum"))
          .select(col("partition").cast("long").as("partition"),
            col("n"), col("max_offset"), col("id_sum"))
      },
      Some("""SELECT CAST(user_id % 4 AS BIGINT) AS partition,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(*) - 1 AS BIGINT) AS max_offset,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events WHERE event_id <= 2000 GROUP BY 1""".stripMargin))
  )

  // ------------------------------------------------- observability surface
  // The reference's tenant metrics (OBSERVABILITY_METRICS.md:115-125) as
  // queries over a sample table: histogramming is a pure aggregation, so
  // the SAME Telemetry.histogram operator folds recorded pipeline
  // telemetry (TelemetrySpec drives that path) and these synthetic
  // oracle-checked sample sets. Bucket boundaries are the reference's
  // Peep bucket lists, pinned in graft.cdc.Telemetry.

  private def obsHistOracle(vExpr: String, buckets: Seq[Long]): String = {
    val g = buckets.zipWithIndex.map { case (b, i) =>
      s"CAST(sum(CASE WHEN v <= $b THEN 1 ELSE 0 END) AS BIGINT) AS b$i" }
      .mkString(",\n        |  ")
    val rows = buckets.zipWithIndex.map { case (b, i) =>
      s"SELECT tenant, '$b' AS le, b$i AS n_le, total, sum_value FROM g" }
      .mkString("\n        |UNION ALL ")
    s"""WITH s AS (SELECT event_type AS tenant, $vExpr AS v FROM events),
        |g AS (SELECT tenant, CAST(count(*) AS BIGINT) AS total,
        |  CAST(sum(v) AS BIGINT) AS sum_value,
        |  $g
        |  FROM s GROUP BY 1)
        |$rows
        |UNION ALL SELECT tenant, '+Inf', total, total, sum_value FROM g"""
      .stripMargin
  }

  private val obsQueries: Seq[Q] = Seq(
    // realtime_tenants_broadcast_from_database_latency_committed_at_bucket:
    // commit→broadcast ms into the [10, 250, 5000] Peep boundaries
    Q("obs_latency_histogram",
      (s, d) => {
        import graft.cdc.Telemetry
        val samples = ev(s, d).select(col("event_type").as("tenant"),
          (col("event_id") % 7001).as("v"))
        Telemetry.histogram(samples, col("v"),
          Telemetry.BroadcastLatencyBucketsMs, Seq("tenant"))
      },
      Some(obsHistOracle("event_id % 7001",
        graft.cdc.Telemetry.BroadcastLatencyBucketsMs))),
    // realtime_tenants_payload_size_bucket: frame bytes into the
    // 11-boundary payload-size list (the reference's largest bucket set)
    Q("obs_payload_size_histogram",
      (s, d) => {
        import graft.cdc.Telemetry
        val samples = ev(s, d).select(col("event_type").as("tenant"),
          octet_length(col("props")).cast("long").as("v"))
        Telemetry.histogram(samples, col("v"),
          Telemetry.PayloadSizeBuckets, Seq("tenant"))
      },
      Some(obsHistOracle("octet_length(encode(props))",
        graft.cdc.Telemetry.PayloadSizeBuckets))),
    // realtime_tenants_replay_bucket: replay latency ms into [10, 250,
    // 5000, 15000]
    Q("obs_replay_histogram",
      (s, d) => {
        import graft.cdc.Telemetry
        val samples = ev(s, d).select(col("event_type").as("tenant"),
          (col("event_id") % 16000).as("v"))
        Telemetry.histogram(samples, col("v"),
          Telemetry.ReplayBucketsMs, Seq("tenant"))
      },
      Some(obsHistOracle("event_id % 16000",
        graft.cdc.Telemetry.ReplayBucketsMs))),
    // realtime_channel_{input,output}_bytes + event counters per tenant —
    // counter semantics are sums over the same sample stream; output
    // models the private-delivered egress subset
    Q("obs_tenant_counters",
      (s, d) => ev(s, d).groupBy(col("event_type").as("tenant"))
        .agg(count(lit(1)).as("n_events"),
          sum(octet_length(col("props")).cast("long")).as("input_bytes"),
          sum(when(col("user_id") % 2 === 0,
            octet_length(col("props")).cast("long")).otherwise(0L))
            .as("output_bytes")),
      Some("""SELECT event_type AS tenant, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(octet_length(encode(props))) AS BIGINT) AS input_bytes,
        |  CAST(sum(CASE WHEN user_id % 2 = 0
        |    THEN octet_length(encode(props)) ELSE 0 END) AS BIGINT) AS output_bytes
        |FROM events GROUP BY 1""".stripMargin)),
    // Forum.Census eventually-consistent member counts (forum/census.ex:
    // 92-104): reads on each node at each broadcast tick = exact local
    // count + the peers' previous-tick broadcast counts — the
    // interval-bounded-staleness merge of partial aggregates. Nodes are
    // user_id shards, groups are event types, interval 1 h.
    Q("a_census_counts",
      (s, d) => graft.presence.Census.memberCounts(
        ev(s, d).withColumn("node",
          concat(lit("n"), (col("user_id") % 3).cast("string"))),
        nodeCol = "node", groupCol = "event_type", tsCol = "ts",
        intervalSec = 3600L),
      Some("""WITH e AS (
        |  SELECT 'n' || CAST(user_id % 3 AS VARCHAR) AS node,
        |         event_type AS grp,
        |         ((epoch_us(ts) + 3599999999) // 3600000000) * 3600000000 AS tick_us
        |  FROM events),
        |hourly AS (SELECT node, grp, tick_us, CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2, 3),
        |b AS (SELECT grp, min(tick_us) AS t0,
        |             max(tick_us) + 3600000000 AS t1 FROM e GROUP BY 1),
        |ticks AS (SELECT grp, unnest(generate_series(t0, t1, 3600000000)) AS tick_us FROM b),
        |grid AS (SELECT node, grp, tick_us
        |  FROM (SELECT DISTINCT node FROM e), ticks),
        |cums AS (SELECT g.node, g.grp, g.tick_us,
        |    sum(coalesce(h.c, 0)) OVER (PARTITION BY g.node, g.grp ORDER BY g.tick_us) AS cum
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.node = h.node AND g.grp = h.grp AND g.tick_us = h.tick_us),
        |lagd AS (SELECT node, grp, tick_us, cum,
        |    coalesce(lag(cum) OVER (PARTITION BY node, grp ORDER BY tick_us), 0) AS cum_prev
        |  FROM cums),
        |s AS (SELECT grp, tick_us, sum(cum_prev) AS s_prev FROM lagd GROUP BY 1, 2)
        |SELECT l.node AS read_node, make_timestamp(l.tick_us) AS read_ts,
        |  l.grp AS grp, CAST(l.cum AS BIGINT) AS n_local,
        |  CAST(s.s_prev - l.cum_prev AS BIGINT) AS n_remote,
        |  CAST(l.cum + s.s_prev - l.cum_prev AS BIGINT) AS n_total
        |FROM lagd l JOIN s ON l.grp = s.grp AND l.tick_us = s.tick_us""".stripMargin)),
    // launch_node's power-of-two-choices placement + the rebalance sweep
    // (nodes.ex:117-185, operations.ex:10-28): two deterministic
    // candidate nodes per tenant (rendezvous top-2), place on the less
    // loaded (tie -> first), flag tenants whose current node differs.
    // The REGION leg of tenant placement (get_node_for_tenant →
    // platform_region_translator → launch_node, nodes.ex:12-135):
    // platform regions translate through the default mapping, candidates
    // restrict to the serving region's nodes, and the arms split:
    // multi-node region → two-choice over THAT region only; single-node
    // region → it; empty/unmapped region → the caller's default node.
    // Region shapes in the data hit all four arms (3-node us-east-1,
    // 2-node eu-west-2, 1-node us-west-1, node-less ap-southeast-2,
    // unmapped xx-unknown).
    Q("j8_region_placement",
      (s, d) => {
        val k = col("event_id") % 499
        val regions = array(lit("us-east-2"), lit("eu-central-1"),
          lit("us-west-2"), lit("ap-southeast-2"), lit("xx-unknown"))
        val tenants = ev(s, d).select(
          concat(col("event_type"), lit("-"), k.cast("string")).as("tenant"),
          element_at(regions, (pmod(k, lit(5)) + 1).cast("int"))
            .as("platform_region"))
        val nodeRegions = array(lit("us-east-1"), lit("us-east-1"),
          lit("us-east-1"), lit("eu-west-2"), lit("eu-west-2"),
          lit("us-west-1"))
        val nodes = s.range(6).select(
          concat(lit("n"), col("id").cast("string")).as("node"),
          (col("id") * 3 % 5).cast("int").as("load"),
          element_at(nodeRegions, (col("id") + 1).cast("int")).as("region"))
        graft.presence.Muster.regionPlacement(tenants, "tenant",
          "platform_region", nodes, "node", "load", "region",
          defaultNode = "n-local")
      },
      Some("""WITH t AS (
        |  SELECT DISTINCT
        |    event_type || '-' || CAST(event_id % 499 AS VARCHAR) AS tenant,
        |    list_extract(['us-east-2','eu-central-1','us-west-2',
        |                  'ap-southeast-2','xx-unknown'],
        |                 CAST((event_id % 499) % 5 + 1 AS INT))
        |      AS platform_region
        |  FROM events),
        |tr AS (
        |  SELECT tenant, platform_region,
        |    CASE platform_region
        |      WHEN 'us-east-2' THEN 'us-east-1'
        |      WHEN 'eu-central-1' THEN 'eu-west-2'
        |      WHEN 'us-west-2' THEN 'us-west-1'
        |      WHEN 'ap-southeast-2' THEN 'ap-southeast-2'
        |    END AS region
        |  FROM t),
        |n AS (SELECT 'n' || CAST(i AS VARCHAR) AS node,
        |             CAST(i * 3 % 5 AS INT) AS load,
        |             list_extract(['us-east-1','us-east-1','us-east-1',
        |                           'eu-west-2','eu-west-2','us-west-1'],
        |                          CAST(i + 1 AS INT)) AS region
        |      FROM (SELECT unnest(range(6)) AS i)),
        |ranked AS (
        |  SELECT tr.tenant, tr.platform_region, tr.region, n.node, n.load,
        |    row_number() OVER (PARTITION BY tr.tenant, tr.region
        |                       ORDER BY md5(tr.tenant || ':' || n.node))
        |      AS rn,
        |    count(*) OVER (PARTITION BY tr.tenant, tr.region) AS n_nodes
        |  FROM tr JOIN n ON tr.region = n.region),
        |picks AS (
        |  SELECT tenant, platform_region, region,
        |    min(CASE WHEN rn = 1 THEN node END) AS c1,
        |    min(CASE WHEN rn = 1 THEN load END) AS l1,
        |    min(CASE WHEN rn = 2 THEN node END) AS c2,
        |    min(CASE WHEN rn = 2 THEN load END) AS l2,
        |    max(n_nodes) AS n_nodes
        |  FROM ranked WHERE rn <= 2 GROUP BY 1, 2, 3)
        |SELECT tenant, platform_region, region, c1 AS node1, c2 AS node2,
        |  CASE WHEN n_nodes = 1 THEN c1
        |       WHEN l1 <= coalesce(l2, l1) THEN c1 ELSE c2 END AS assigned
        |FROM picks
        |UNION ALL
        |SELECT tenant, platform_region, region, NULL, NULL, 'n-local'
        |FROM tr
        |WHERE region IS NULL
        |   OR region NOT IN (SELECT DISTINCT region FROM n)""".stripMargin)),
    // Stability-gated wrong-region check (rebalancer.ex:8-31): the node
    // snapshots are passed equal-as-SETS but differently ordered (the
    // MapSet equality the reference gates on is order-insensitive), so
    // the stable arm is live; null hosting regions take the ok arm and
    // unmapped platform regions are always flagged (nil != binary).
    Q("j8_region_rebalance",
      (s, d) => {
        val k = col("event_id") % 499
        val regions = array(lit("us-east-2"), lit("eu-central-1"),
          lit("us-west-2"), lit("ap-southeast-2"), lit("xx-unknown"))
        val hosting = array(lit("us-east-1"), lit("eu-west-2"),
          lit("us-west-1"))
        val tenants = ev(s, d).select(
          concat(col("event_type"), lit("-"), k.cast("string")).as("tenant"),
          element_at(regions, (pmod(k, lit(5)) + 1).cast("int"))
            .as("platform_region"),
          when(k % 11 === 0, lit(null).cast("string"))
            .otherwise(element_at(hosting, (pmod(k, lit(3)) + 1).cast("int")))
            .as("current_region")).distinct()
        graft.presence.Muster.regionRebalance(tenants, "tenant",
          "platform_region", "current_region",
          prevNodes = Seq("n0", "n1", "n2"),
          curNodes = Seq("n2", "n1", "n0"))
      },
      Some("""WITH t AS (
        |  SELECT DISTINCT
        |    event_type || '-' || CAST(event_id % 499 AS VARCHAR) AS tenant,
        |    list_extract(['us-east-2','eu-central-1','us-west-2',
        |                  'ap-southeast-2','xx-unknown'],
        |                 CAST((event_id % 499) % 5 + 1 AS INT))
        |      AS platform_region,
        |    CASE WHEN (event_id % 499) % 11 = 0 THEN NULL
        |         ELSE list_extract(['us-east-1','eu-west-2','us-west-1'],
        |                           CAST((event_id % 499) % 3 + 1 AS INT))
        |    END AS current_region
        |  FROM events),
        |e AS (
        |  SELECT tenant, platform_region, current_region,
        |    CASE platform_region
        |      WHEN 'us-east-2' THEN 'us-east-1'
        |      WHEN 'eu-central-1' THEN 'eu-west-2'
        |      WHEN 'us-west-2' THEN 'us-west-1'
        |      WHEN 'ap-southeast-2' THEN 'ap-southeast-2'
        |    END AS expected_region
        |  FROM t)
        |SELECT tenant, platform_region, current_region, expected_region,
        |  CASE WHEN current_region IS NULL THEN 'ok'
        |       WHEN current_region IS NOT DISTINCT FROM expected_region
        |         THEN 'ok'
        |       ELSE 'wrong_region' END AS verdict
        |FROM e""".stripMargin)),
    Q("j8_two_choice_rebalance",
      (s, d) => {
        val k = col("event_id") % 499
        val tenants = ev(s, d).select(
          concat(col("event_type"), lit("-"), k.cast("string")).as("tenant"),
          concat(lit("n"), (k % 7).cast("string")).as("current"))
        val nodes = s.range(7).select(
          concat(lit("n"), col("id").cast("string")).as("node"),
          (col("id") * 3 % 5).cast("int").as("load"))
        graft.presence.Muster.twoChoicePlacement(tenants, "tenant",
          nodes, "node", "load", "current")
      },
      Some("""WITH t AS (
        |  SELECT DISTINCT
        |    event_type || '-' || CAST(event_id % 499 AS VARCHAR) AS tenant,
        |    'n' || CAST((event_id % 499) % 7 AS VARCHAR) AS current
        |  FROM events),
        |n AS (SELECT 'n' || CAST(i AS VARCHAR) AS node,
        |             CAST(i * 3 % 5 AS INT) AS load
        |      FROM (SELECT unnest(range(7)) AS i)),
        |ranked AS (
        |  SELECT t.tenant, t.current, n.node, n.load,
        |    row_number() OVER (PARTITION BY t.tenant, t.current
        |                       ORDER BY md5(t.tenant || ':' || n.node)) AS rn
        |  FROM t CROSS JOIN n),
        |picks AS (
        |  SELECT tenant, current,
        |    min(CASE WHEN rn = 1 THEN node END) AS node1,
        |    min(CASE WHEN rn = 1 THEN load END) AS load1,
        |    min(CASE WHEN rn = 2 THEN node END) AS node2,
        |    min(CASE WHEN rn = 2 THEN load END) AS load2
        |  FROM ranked WHERE rn <= 2 GROUP BY 1, 2)
        |SELECT tenant, node1, node2,
        |  CASE WHEN load1 <= coalesce(load2, load1) THEN node1
        |       ELSE node2 END AS assigned,
        |  current,
        |  (CASE WHEN load1 <= coalesce(load2, load1) THEN node1
        |        ELSE node2 END) != current AS moved
        |FROM picks""".stripMargin)),
    // GenRpcPubSub's two-tier region fan-out (gen_rpc/pub_sub.ex:47-94,
    // tenant_broadcaster.ex:38-75) as a delivery-plan rollup: 10 nodes
    // in 3 regions (node n sits in region n % 3), sender = the user, its
    // origin node = user_id % 10, cast pool of 5 channels. Per (node,
    // region, hop, channel): how many messages arrive via local / ftl /
    // ftr / ftl_relay, from how many senders. Exactly-once per node is
    // the oracle equality itself (every message contributes one row per
    // node); the gateway and channel picks are the documented md5
    // rendezvous substitution for phash2 (see graft.presence.Fanout).
    // Plan: explode over a literal node array + codegen'd CASE/least
    // chains — the final groupBy (≤ 200 groups) is the only shuffle.
    Q("j8_fanout_hops",
      (s, d) => {
        val msgs = ev(s, d).select(col("event_id").as("msg_id"),
          col("user_id").as("sender"), (col("user_id") % 10).as("origin"))
        Fanout.hopPlan(msgs, "sender", "origin",
            (0 until 10).map(n => (n, n % 3)), 5)
          .groupBy("node", "region", "hop", "channel")
          .agg(count(lit(1)).as("n_msgs"),
            countDistinct(col("sender")).as("n_senders"),
            sum(col("msg_id")).as("msg_checksum"))
      },
      Some("""WITH msgs AS (
        |  SELECT event_id AS msg_id, user_id AS sender,
        |         user_id % 10 AS origin
        |  FROM events),
        |nodes AS (SELECT CAST(n AS INT) AS node, CAST(n % 3 AS INT) AS region
        |          FROM (SELECT unnest(range(10)) AS n)),
        |grid AS (
        |  SELECT m.msg_id, m.sender, m.origin, m.origin % 3 AS origin_region,
        |         n.node, n.region,
        |         md5(m.sender || ':' || n.node) AS h
        |  FROM msgs m CROSS JOIN nodes n),
        |g2 AS (SELECT *, min(h) OVER (PARTITION BY sender, region)
        |                   AS region_min
        |       FROM grid),
        |senders AS (SELECT DISTINCT sender FROM msgs),
        |chan AS (
        |  SELECT sender, CAST(c AS INT) AS channel FROM (
        |    SELECT s.sender, c.c,
        |           row_number() OVER (PARTITION BY s.sender
        |                              ORDER BY md5(s.sender || '#' || c.c),
        |                                       c.c)
        |             AS rn
        |    FROM senders s
        |    CROSS JOIN (SELECT unnest(range(1, 6)) AS c) c)
        |  WHERE rn = 1)
        |SELECT g.node, g.region,
        |  CASE WHEN g.node = g.origin THEN 'local'
        |       WHEN g.region = g.origin_region THEN 'ftl'
        |       WHEN g.h = g.region_min THEN 'ftr'
        |       ELSE 'ftl_relay' END AS hop,
        |  ch.channel,
        |  CAST(count(*) AS BIGINT) AS n_msgs,
        |  CAST(count(DISTINCT g.sender) AS BIGINT) AS n_senders,
        |  CAST(sum(g.msg_id) AS BIGINT) AS msg_checksum
        |FROM g2 g JOIN chan ch USING (sender)
        |GROUP BY 1, 2, 3, 4""".stripMargin)),
    // measure_broadcast_fanout's node-delivery telemetry
    // (tenant_broadcaster.ex:85-100, pub_sub.ex:105-118): each node
    // records, PER DELIVERY of a tenant-TAGGED message, how many local
    // members of that tenant it holds (Forum.Census.local_member_count)
    // and whether that count is > 0 — aggregating hit=false counts the
    // node deliveries the mesh could have avoided. Only broadcast-type
    // messages through MessageDispatcher are tagged (`tag_tenant`,
    // :76-77 — presence/postgres_changes stay untagged and unmeasured):
    // modeled as event_type = 'click'. The telemetry fires once per
    // node per tagged message — on the origin inside pubsub_broadcast,
    // on every remote inside the worker's ftl/ftr arms — so the
    // measured set IS the hop plan's delivery grid, relay legs
    // included. Census membership: socket = event (node event_id % 10),
    // member users counted distinct per (node, tenant), 'connected' =
    // value > 30. Plan: members is a ≤200-row aggregate broadcast onto
    // the exploded grid; two shuffles total (members agg + final
    // per-tenant rollup).
    Q("obs_fanout_hits",
      (s, d) => {
        val msgs = ev(s, d).where(col("event_type") === "click")
          .select(col("event_id").as("msg_id"),
            col("user_id").as("sender"),
            (col("user_id") % 10).as("origin"),
            (col("user_id") % 20).as("tenant"))
        val members = ev(s, d).where(col("value") > 30)
          .select((col("event_id") % 10).cast("int").as("node"),
            (col("user_id") % 20).as("tenant"), col("user_id"))
          .groupBy("node", "tenant")
          .agg(countDistinct(col("user_id")).as("local_users"))
        Fanout.hopPlan(msgs, "sender", "origin",
            (0 until 10).map(n => (n, n % 3)), 1)
          .join(broadcast(members), Seq("node", "tenant"), "left")
          .withColumn("local_users", coalesce(col("local_users"), lit(0L)))
          .groupBy("tenant")
          .agg(countDistinct(col("msg_id")).as("n_msgs"),
            count(lit(1)).as("node_deliveries"),
            sum((col("hop") === "ftl_relay").cast("long"))
              .as("relay_deliveries"),
            sum((col("local_users") > 0).cast("long")).as("hit_deliveries"),
            sum((col("local_users") === 0).cast("long"))
              .as("miss_deliveries"),
            sum(col("local_users")).as("sum_local_users"))
      },
      Some("""WITH msgs AS (
        |  SELECT event_id AS msg_id, user_id AS sender,
        |         user_id % 10 AS origin, user_id % 20 AS tenant
        |  FROM events WHERE event_type = 'click'),
        |nodes AS (SELECT CAST(n AS INT) AS node, CAST(n % 3 AS INT) AS region
        |          FROM (SELECT unnest(range(10)) AS n)),
        |mem AS (
        |  SELECT CAST(event_id % 10 AS INT) AS node, user_id % 20 AS tenant,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS local_users
        |  FROM events WHERE value > 30 GROUP BY 1, 2),
        |grid AS (
        |  SELECT m.msg_id, m.sender, m.tenant,
        |         m.origin, m.origin % 3 AS origin_region,
        |         n.node, n.region,
        |         md5(m.sender || ':' || n.node) AS h
        |  FROM msgs m CROSS JOIN nodes n),
        |g2 AS (SELECT *, min(h) OVER (PARTITION BY sender, region)
        |                   AS region_min
        |       FROM grid),
        |del AS (
        |  SELECT g.tenant, g.msg_id,
        |    CASE WHEN g.node = g.origin THEN 'local'
        |         WHEN g.region = g.origin_region THEN 'ftl'
        |         WHEN g.h = g.region_min THEN 'ftr'
        |         ELSE 'ftl_relay' END AS hop,
        |    coalesce(mm.local_users, 0) AS local_users
        |  FROM g2 g
        |  LEFT JOIN mem mm ON g.node = mm.node AND g.tenant = mm.tenant)
        |SELECT tenant,
        |  CAST(count(DISTINCT msg_id) AS BIGINT) AS n_msgs,
        |  CAST(count(*) AS BIGINT) AS node_deliveries,
        |  CAST(sum(CASE WHEN hop = 'ftl_relay' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS relay_deliveries,
        |  CAST(sum(CASE WHEN local_users > 0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS hit_deliveries,
        |  CAST(sum(CASE WHEN local_users = 0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS miss_deliveries,
        |  CAST(sum(local_users) AS BIGINT) AS sum_local_users
        |FROM del GROUP BY 1""".stripMargin)),
    // Realtime.Crypto (crypto.ex:9-39) on the Spark surface: the tenant
    // credential codec (AES-128-ECB + PKCS#7 + base64) as built-in
    // aes_encrypt/aes_decrypt. The oracle checks what SQL can check
    // deterministically — the round-trip identity on every row and the
    // exact ciphertext length law (PKCS#7 pads to the NEXT block, so
    // aligned input gains a full block; base64 = 4·ceil(n/3)) — while
    // the spec pins byte parity against a javax.crypto reference.
    Q("f_crypto_roundtrip",
      (s, d) => {
        import graft.api.Crypto
        val key = substring(md5(col("event_type")), 1, 16)
        val ct = Crypto.encrypt(col("props"), key)
        spread(ev(s, d).select(col("event_id"), col("event_type"),
            col("props")), "event_id")
          .select(
          col("event_id"),
          (Crypto.decrypt(ct, key) === col("props")).as("roundtrip_ok"),
          length(ct).cast("long").as("ct_b64_len"))
      },
      Some("""SELECT event_id, true AS roundtrip_ok,
        |  CAST(4 * ceil(((octet_length(encode(props)) // 16 + 1) * 16) / 3.0)
        |       AS BIGINT) AS ct_b64_len
        |FROM events""".stripMargin)),
    // MetricsCleaner retention sweep (metrics_cleaner.ex:106-133): drop
    // the metric series of tenants whose latest lifecycle event says
    // vacant for longer than the threshold; re-occupied tenants are
    // spared. Lifecycle = a sparse early slice of events (so the sweep
    // has stale-vacant candidates); samples = payload sizes per tenant.
    Q("obs_metrics_retention",
      (s, d) => {
        import graft.cdc.Telemetry
        val e = ev(s, d)
        val samples = e.select(col("event_type").as("tenant"),
          octet_length(col("props")).cast("long").as("v"))
        val lifecycle = e
          .where(col("event_id") % 97 === 0 &&
            col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"))
          .select(col("event_type").as("tenant"),
            when(col("user_id") % 2 === 0, "occupied").otherwise("vacant")
              .as("state"),
            col("ts"))
        Telemetry.pruneVacantTenants(samples, lifecycle,
            java.sql.Timestamp.valueOf("2024-01-15 00:00:00"), 172800L)
          .groupBy("tenant")
          .agg(count(lit(1)).as("n_samples"), sum("v").as("sum_bytes"))
      },
      Some("""WITH lc AS (
        |  SELECT event_type AS tenant,
        |    CASE WHEN user_id % 2 = 0 THEN 'occupied' ELSE 'vacant' END AS state,
        |    ts
        |  FROM events
        |  WHERE event_id % 97 = 0 AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |last AS (
        |  SELECT tenant, state, ts FROM (
        |    SELECT *, row_number() OVER (PARTITION BY tenant
        |                                 ORDER BY ts DESC, state DESC) AS rn
        |    FROM lc WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
        |  WHERE rn = 1),
        |pruned AS (
        |  SELECT tenant FROM last
        |  WHERE state = 'vacant'
        |    AND ts < TIMESTAMP '2024-01-15 00:00:00' - INTERVAL 2 DAY)
        |SELECT event_type AS tenant, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(octet_length(encode(props))) AS BIGINT) AS sum_bytes
        |FROM events
        |WHERE event_type NOT IN (SELECT tenant FROM pruned)
        |GROUP BY 1""".stripMargin)),
    // Forum.Muster group-routed fan-out (forum/README.md "The router
    // node"): per group, the occupancy node set a broadcast must reach
    // plus the consistent-hash router node (md5 ring, 128 vnodes/node,
    // first-clockwise-vnode with wrap) — deterministic and
    // observer-independent, so Spark and the oracle derive identical
    // routing tables from the membership set alone.
    Q("j_muster_router",
      (s, d) => graft.presence.Muster.routerAssignments(
        ev(s, d).select(
          concat(col("event_type"), lit("-"),
            (col("event_id") % 500).cast("string")).as("grp"),
          concat(lit("n"), (col("user_id") % 7).cast("string")).as("node")),
        groupCol = "grp", nodeCol = "node"),
      Some("""WITH m AS (
        |  SELECT DISTINCT event_type || '-' || CAST(event_id % 500 AS VARCHAR) AS grp,
        |         'n' || CAST(user_id % 7 AS VARCHAR) AS node
        |  FROM events),
        |nodes AS (SELECT DISTINCT node FROM m),
        |ring AS (SELECT node, md5(node || ':' || CAST(i AS VARCHAR)) AS h
        |         FROM nodes, (SELECT unnest(range(128)) AS i)),
        |g AS (SELECT grp, md5(grp) AS gh FROM (SELECT DISTINCT grp FROM m)),
        |sel AS (SELECT g.grp,
        |          coalesce(min(CASE WHEN r.h >= g.gh THEN r.h END), min(r.h)) AS rh
        |        FROM g CROSS JOIN ring r GROUP BY g.grp),
        |router AS (SELECT sel.grp, r.node AS router
        |           FROM sel JOIN ring r ON sel.rh = r.h),
        |occ AS (SELECT grp,
        |          array_to_string(list_sort(list(DISTINCT node)), ',') AS occupancy
        |        FROM m GROUP BY grp)
        |SELECT occ.grp AS grp, occ.occupancy, router.router
        |FROM occ JOIN router ON occ.grp = router.grp""".stripMargin)),
    // The occupancy register's versioned merge (scope.ex:195-236
    // upsert_if_newer / tombstone_if_newer): claims keyed (grp, node)
    // with per-source-unique seqs; higher seq wins, a tombstone wins an
    // EQUAL seq (the reference's :lt present guard vs :lte tombstone
    // guard), tombstones are kept with their created_at GC stamp and a
    // present winner carries none. Claims shaped from events; seq is
    // event_id/8 so within-key equal-seq collisions actually occur.
    Q("j_muster_occupancy_merge",
      (s, d) => graft.presence.Muster.occupancyMerge(
        musterClaims(s, d),
        "grp", "node", "seq", "present", "created_at"),
      Some(musterClaimsSql +
        """, merged AS (
        |  SELECT grp, node, seq, present, created_at,
        |    row_number() OVER (PARTITION BY grp, node
        |      ORDER BY seq DESC, present ASC, created_at DESC) AS rn
        |  FROM claims)
        |SELECT grp, node, seq, present, created_at
        |FROM merged WHERE rn = 1""".stripMargin)),
    // The tombstone GC sweep over the merged register
    // (scope.ex:1117-1127 sweep_tombstones -> :1827 reap_tombstones):
    // tombstones older than now - window are reaped; present rows are
    // never reaped; an in-window tombstone survives (it may still need
    // to absorb an in-flight stale claim). now = 2024-02-01Z, window =
    // 2 days -> cutoff 2024-01-30Z: at BOTH shipped SFs some tombstone
    // winners are reaped and some survive (sf0.01: 482 reaped / 93
    // kept; sf0.1: 80 / 486), so both fates are value-pinned.
    Q("j_muster_tombstone_sweep",
      (s, d) => graft.presence.Muster.tombstoneSweep(
        graft.presence.Muster.occupancyMerge(
          musterClaims(s, d),
          "grp", "node", "seq", "present", "created_at"),
        nowMs = 1706745600000L, windowMs = 2L * 86400000L),
      Some(musterClaimsSql +
        """, merged AS (
        |  SELECT grp, node, seq, present, created_at,
        |    row_number() OVER (PARTITION BY grp, node
        |      ORDER BY seq DESC, present ASC, created_at DESC) AS rn
        |  FROM claims)
        |SELECT grp, node, seq, present, created_at
        |FROM merged
        |WHERE rn = 1
        |  AND (present OR created_at >= 1706745600000 - 2 * 86400000)"""
        .stripMargin)),
    // The rebalance delta (scope.ex:1143-1163 member_delta /
    // do_rebalance; :1460-1490 drop_stale_router_entries judges rows
    // against the NEW ring): per group, the md5-ring router under the
    // old member set vs the new one (one node removed, two added — both
    // delta directions), flagging groups whose router moves. Consistent
    // hashing bounds the moved fraction to ~|changed|/|new|.
    Q("j_muster_rebalance_delta",
      (s, d) => graft.presence.Muster.rebalanceDelta(
        ev(s, d).select(
          concat(col("event_type"), lit("-"),
            (col("event_id") % 500).cast("string")).as("grp")),
        groupCol = "grp",
        oldNodes = (0 until 7).map(i => s"n$i"),
        newNodes = ((0 until 7).filterNot(_ == 1) ++ Seq(7, 8))
          .map(i => s"n$i")),
      Some("""WITH g AS (
        |  SELECT DISTINCT event_type || '-' || CAST(event_id % 500 AS VARCHAR) AS grp
        |  FROM events),
        |old_nodes AS (SELECT 'n' || CAST(i AS VARCHAR) AS node
        |              FROM (SELECT unnest(range(7)) AS i)),
        |new_nodes AS (SELECT 'n' || CAST(i AS VARCHAR) AS node
        |              FROM (SELECT unnest(range(9)) AS i) WHERE i != 1),
        |ring_old AS (SELECT node, md5(node || ':' || CAST(i AS VARCHAR)) AS h
        |             FROM old_nodes, (SELECT unnest(range(128)) AS i)),
        |ring_new AS (SELECT node, md5(node || ':' || CAST(i AS VARCHAR)) AS h
        |             FROM new_nodes, (SELECT unnest(range(128)) AS i)),
        |gh AS (SELECT grp, md5(grp) AS gh FROM g),
        |sel_old AS (SELECT gh.grp,
        |    coalesce(min(CASE WHEN r.h >= gh.gh THEN r.h END), min(r.h)) AS rh
        |  FROM gh CROSS JOIN ring_old r GROUP BY gh.grp),
        |sel_new AS (SELECT gh.grp,
        |    coalesce(min(CASE WHEN r.h >= gh.gh THEN r.h END), min(r.h)) AS rh
        |  FROM gh CROSS JOIN ring_new r GROUP BY gh.grp),
        |r_old AS (SELECT sel_old.grp, r.node AS router_old
        |          FROM sel_old JOIN ring_old r ON sel_old.rh = r.h),
        |r_new AS (SELECT sel_new.grp, r.node AS router_new
        |          FROM sel_new JOIN ring_new r ON sel_new.rh = r.h)
        |SELECT r_old.grp AS grp, router_old, router_new,
        |  router_old != router_new AS moved
        |FROM r_old JOIN r_new ON r_old.grp = r_new.grp""".stripMargin)),
    // The stale-router downgrade set (scope.ex:1460-1490
    // drop_stale_router_entries): present register rows of groups whose
    // router moved under the membership change — the rows the sweep
    // must tombstone (never delete: the seq watermark repels late
    // claims). Composition: occupancyMerge ⨝ rebalanceDelta(moved).
    Q("j_muster_stale_router_drop",
      (s, d) => graft.presence.Muster.staleRouterRows(
        graft.presence.Muster.occupancyMerge(
          musterClaims(s, d),
          "grp", "node", "seq", "present", "created_at"),
        oldNodes = (0 until 7).map(i => s"n$i"),
        newNodes = ((0 until 7).filterNot(_ == 1) ++ Seq(7, 8))
          .map(i => s"n$i")),
      Some(musterClaimsSql +
        """, merged AS (
        |  SELECT grp, node, seq, present,
        |    row_number() OVER (PARTITION BY grp, node
        |      ORDER BY seq DESC, present ASC, created_at DESC) AS rn
        |  FROM claims),
        |reg AS (SELECT grp, node, seq FROM merged WHERE rn = 1 AND present),
        |g AS (SELECT DISTINCT grp FROM reg),
        |old_nodes AS (SELECT 'n' || CAST(i AS VARCHAR) AS node
        |              FROM (SELECT unnest(range(7)) AS i)),
        |new_nodes AS (SELECT 'n' || CAST(i AS VARCHAR) AS node
        |              FROM (SELECT unnest(range(9)) AS i) WHERE i != 1),
        |ring_old AS (SELECT node, md5(node || ':' || CAST(i AS VARCHAR)) AS h
        |             FROM old_nodes, (SELECT unnest(range(128)) AS i)),
        |ring_new AS (SELECT node, md5(node || ':' || CAST(i AS VARCHAR)) AS h
        |             FROM new_nodes, (SELECT unnest(range(128)) AS i)),
        |gh AS (SELECT grp, md5(grp) AS gh FROM g),
        |sel_old AS (SELECT gh.grp,
        |    coalesce(min(CASE WHEN r.h >= gh.gh THEN r.h END), min(r.h)) AS rh
        |  FROM gh CROSS JOIN ring_old r GROUP BY gh.grp),
        |sel_new AS (SELECT gh.grp,
        |    coalesce(min(CASE WHEN r.h >= gh.gh THEN r.h END), min(r.h)) AS rh
        |  FROM gh CROSS JOIN ring_new r GROUP BY gh.grp),
        |r_old AS (SELECT sel_old.grp, r.node AS router_old
        |          FROM sel_old JOIN ring_old r ON sel_old.rh = r.h),
        |r_new AS (SELECT sel_new.grp, r.node AS router_new
        |          FROM sel_new JOIN ring_new r ON sel_new.rh = r.h)
        |SELECT reg.grp AS grp, reg.node, reg.seq, router_old, router_new
        |FROM reg
        |JOIN r_old ON reg.grp = r_old.grp
        |JOIN r_new ON reg.grp = r_new.grp
        |WHERE router_old != router_new""".stripMargin)),
    // The shard claim state machine's flap suppression
    // (forum/lib/forum/muster/shard.ex:312-334,470-505,637-651): events
    // modeled as member sessions (join at ts, leave at ts + 1..100 min),
    // 2 h vacancy cooldown — in-cooldown churn emits nothing, survived
    // vacancies stamp at expiry, post-vacant re-joins re-emit occupied.
    // The session gaps at this shaping straddle the window on both
    // sides, so the suppressed and survived paths both carry real rows.
    Q("j_muster_claim_debounce",
      (s, d) => {
        val joinMs = unix_millis(col("ts"))
        val base = ev(s, d).select(
          concat(col("event_type"), lit("-"),
            (col("user_id") % 10).cast("string")).as("grp"),
          concat(lit("n"), (col("event_id") % 3).cast("string")).as("node"),
          col("event_id").as("tie"),
          joinMs.as("join_ms"),
          (joinMs + (col("event_id") % 100 + 1L) * 60000L).as("leave_ms"))
        val claims = base.select(col("grp"), col("node"), col("tie"),
            explode(array(
              struct(col("join_ms").as("ts_ms"), lit(1).as("delta")),
              struct(col("leave_ms").as("ts_ms"), lit(-1).as("delta"))))
              .as("e"))
          .select(col("grp"), col("node"), col("e.ts_ms").as("ts_ms"),
            col("e.delta").as("delta"), col("tie"))
        graft.presence.Muster.claimDebounce(claims,
          "grp", "node", "ts_ms", "delta", "tie", cooldownMs = 7200000L)
      },
      Some("""WITH sess AS (
        |  SELECT event_type || '-' || CAST(user_id % 10 AS VARCHAR) AS grp,
        |    'n' || CAST(event_id % 3 AS VARCHAR) AS node,
        |    event_id AS tie,
        |    epoch_ms(ts) AS join_ms,
        |    epoch_ms(ts) + (event_id % 100 + 1) * 60000 AS leave_ms
        |  FROM events),
        |cl AS (
        |  SELECT grp, node, tie, join_ms AS ts_ms, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT grp, node, tie, leave_ms, -1 FROM sess),
        |c AS (
        |  SELECT *, sum(delta) OVER (PARTITION BY grp, node
        |    ORDER BY ts_ms, delta, tie) AS cnt FROM cl),
        |f AS (
        |  SELECT *, (delta = 1 AND cnt = 1) AS occ_start,
        |    (delta = -1 AND cnt = 0) AS vac_start FROM c),
        |g AS (
        |  SELECT *,
        |    max(CASE WHEN vac_start THEN ts_ms END) OVER (
        |      PARTITION BY grp, node ORDER BY ts_ms, delta, tie
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_vac_ms,
        |    lead(ts_ms, 1) OVER (
        |      PARTITION BY grp, node ORDER BY ts_ms, delta, tie)
        |      AS next_join_ms
        |  FROM f)
        |SELECT grp, node, claim, emit_ms FROM (
        |  SELECT grp, node,
        |    CASE WHEN occ_start AND (prev_vac_ms IS NULL
        |             OR ts_ms - prev_vac_ms >= 7200000) THEN 'occupied'
        |         WHEN vac_start AND (next_join_ms IS NULL
        |             OR next_join_ms - ts_ms >= 7200000) THEN 'vacant'
        |    END AS claim,
        |    CASE WHEN occ_start AND (prev_vac_ms IS NULL
        |             OR ts_ms - prev_vac_ms >= 7200000) THEN ts_ms
        |         WHEN vac_start AND (next_join_ms IS NULL
        |             OR next_join_ms - ts_ms >= 7200000)
        |           THEN ts_ms + 7200000
        |    END AS emit_ms
        |  FROM g)
        |WHERE claim IS NOT NULL""".stripMargin)),
    // Billable-events rollup — the tenant billing view the reference's
    // integration suite pins (test/integration/rt_channel/
    // billable_events_test.exs:86-141) over the four per-tenant billing
    // counters (lib/realtime/tenants.ex:196-341) and their increment
    // sites: count(socket) per handled client send/push
    // (lib/realtime_web/channels/realtime_channel.ex:292,342,619,780)
    // and count-per-DELIVERY in the dispatcher with the pid==from
    // self-skip (message_dispatcher.ex:46-110). Per tenant:
    // joins = sockets joined; events = broadcast sends + gated
    // broadcast DELIVERIES (the test's "5 sent + 5×2 received = 15"
    // multiplication); presence_events = presence sends + DELIVERED
    // presence_diffs ('deliver' only — 'authorize' rows route to the
    // channel and bill at actual delivery, withheld rows never bill);
    // db_events = delivered changes per matched subscriber
    // UNCONDITIONALLY (replication_poller.ex:421 bills
    // MapSet.size(subscription_ids) — the CDC path never consults
    // broadcast_read; the channel dispatcher's withhold arm is
    // `broadcast? and broadcast_read? != true` and broadcast? is false
    // for postgres_changes — see Dispatcher.gate's non-gated arm).
    // Postgres rows opt out of sender exclusion (a WAL change has no
    // sender socket). REPLAY exclusion is per-(socket, message), the
    // reference's already_replayed?(message_id, replayed_message_ids)
    // contract (message_dispatcher.ex:49): only sockets that received
    // the join-time replay push (the cohort — socket_id % 4 = 0 here,
    // restricted to read-authorized sockets: the replay arm runs after
    // join-time authz, realtime_channel.ex:280-289) skip the live
    // delivery; every OTHER subscriber still gets a billed delivery of
    // the same message. The join-time pushes themselves are delivered
    // WITHOUT count(socket) — visible, never billed — and surface as
    // `replayed_deliveries`. Scale shape: one broadcast hash join on
    // topic (the Dispatcher.gate fan-out) with the replay pairs
    // broadcast into the gate's anti-probe, plus three map-side-combined
    // aggregates joined on the 5-row tenant key.
    Q("obs_billable_rollup",
      (s, d) => {
        import graft.api.Dispatcher
        val topics = array(lit("click"), lit("view"), lit("error"),
          lit("purchase"), lit("signup"))
        val sockets = ChangeFeed.table(s, d, "customer")
          .where(col("c_custkey") < 100)
          .select(col("c_custkey").cast("long").as("socket_id"),
            element_at(topics, (pmod(col("c_custkey"), lit(5)) + 1).cast("int"))
              .as("topic"),
            when(pmod(col("c_custkey"), lit(3)) === 0, lit(true))
              .when(pmod(col("c_custkey"), lit(3)) === 1, lit(false))
              .as("presence_read"),
            (pmod(col("c_custkey"), lit(2)) === 0).as("broadcast_read"))
        val msgs = ev(s, d).select(
          col("event_type").as("topic"),
          col("event_id").as("message_id"),
          element_at(array(lit("presence_diff"), lit("broadcast"),
            lit("postgres_changes")),
            (pmod(col("user_id"), lit(3)) + 1).cast("int")).as("extension"),
          pmod(col("user_id"), lit(100)).cast("long")
            .as("sender_socket_id"),
          (pmod(col("user_id"), lit(3)) === 2 ||
            pmod(col("event_id"), lit(4)) =!= 0).as("self_broadcast"),
          (pmod(col("user_id"), lit(3)) === 1 &&
            pmod(col("event_id"), lit(9)) === 0).as("replayed"))
        // the join-time replay cohort: (socket, message) pairs the replay
        // push already delivered — read-authorized subscribers only (the
        // replay arm runs after join-time authz)
        val replayPairs = msgs.where(col("replayed"))
          .select(col("topic"), col("message_id"))
          .join(sockets.where(pmod(col("socket_id"), lit(4)) === 0 &&
            col("broadcast_read")), "topic")
          .select(col("topic"), col("socket_id"), col("message_id"))
        val delivered = Dispatcher
          .gate(msgs, sockets,
            Some(replayPairs.select("socket_id", "message_id")),
            senderExclusion = true)
          .where(col("status") === "deliver")
          .groupBy(col("topic").as("tenant"))
          .agg(
            sum(when(col("extension") === "broadcast", 1L).otherwise(0L))
              .as("d_bcast"),
            sum(when(col("extension") === "presence_diff", 1L).otherwise(0L))
              .as("d_pres"),
            sum(when(col("extension") === "postgres_changes", 1L)
              .otherwise(0L)).as("db_events"))
        val replays = replayPairs.groupBy(col("topic").as("tenant"))
          .agg(count(lit(1)).as("replayed_deliveries"))
        val sends = msgs.groupBy(col("topic").as("tenant"))
          .agg(
            sum(when(col("extension") === "broadcast", 1L).otherwise(0L))
              .as("s_bcast"),
            sum(when(col("extension") === "presence_diff", 1L).otherwise(0L))
              .as("s_pres"))
        val joins = sockets.groupBy(col("topic").as("tenant"))
          .agg(count(lit(1)).as("joins"))
        joins.join(sends, "tenant").join(delivered, "tenant")
          // explicit: a 5-row aggregate, but the planner has no stats
          // for it (AQE can rescue at runtime; the hint makes the plan
          // right without AQE too)
          .join(broadcast(replays), Seq("tenant"), "left")
          .select(col("tenant"), col("joins"),
            (col("s_bcast") + col("d_bcast")).as("events"),
            col("db_events"),
            (col("s_pres") + col("d_pres")).as("presence_events"),
            coalesce(col("replayed_deliveries"), lit(0L))
              .as("replayed_deliveries"))
      },
      Some("""WITH sockets AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS socket_id,
        |         list_extract(['click','view','error','purchase','signup'],
        |                      CAST(c_custkey % 5 + 1 AS INT)) AS topic,
        |         CASE WHEN c_custkey % 3 = 0 THEN true
        |              WHEN c_custkey % 3 = 1 THEN false END AS presence_read,
        |         (c_custkey % 2 = 0) AS broadcast_read
        |  FROM customer WHERE c_custkey < 100),
        |msgs AS (
        |  SELECT event_type AS topic, event_id AS message_id,
        |         list_extract(['presence_diff','broadcast','postgres_changes'],
        |                      CAST(user_id % 3 + 1 AS INT)) AS extension,
        |         CAST(user_id % 100 AS BIGINT) AS sender_socket_id,
        |         (user_id % 3 = 2 OR event_id % 4 != 0) AS self_broadcast,
        |         (user_id % 3 = 1 AND event_id % 9 = 0) AS replayed
        |  FROM events),
        |rp AS (
        |  SELECT m.topic, s.socket_id, m.message_id
        |  FROM msgs m JOIN sockets s ON m.topic = s.topic
        |  WHERE m.replayed AND s.socket_id % 4 = 0 AND s.broadcast_read),
        |g AS (
        |  SELECT m.topic, s.socket_id, m.extension,
        |         CASE WHEN m.extension = 'presence_diff' THEN
        |                CASE WHEN s.presence_read THEN 'deliver'
        |                     WHEN s.presence_read IS NULL THEN 'authorize'
        |                     ELSE 'withhold' END
        |              WHEN m.extension = 'broadcast' THEN
        |                CASE WHEN s.broadcast_read THEN 'deliver'
        |                     ELSE 'withhold' END
        |              ELSE 'deliver' END AS status
        |  FROM msgs m JOIN sockets s ON m.topic = s.topic
        |  WHERE (m.self_broadcast OR s.socket_id != m.sender_socket_id)
        |    AND NOT (m.extension = 'broadcast' AND m.replayed
        |             AND s.socket_id % 4 = 0 AND s.broadcast_read)),
        |d AS (SELECT topic AS tenant,
        |        CAST(sum(CASE WHEN extension = 'broadcast'
        |          THEN 1 ELSE 0 END) AS BIGINT) AS d_bcast,
        |        CAST(sum(CASE WHEN extension = 'presence_diff' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS d_pres,
        |        CAST(sum(CASE WHEN extension = 'postgres_changes' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS db_events
        |      FROM g WHERE status = 'deliver' GROUP BY 1),
        |r AS (SELECT topic AS tenant, CAST(count(*) AS BIGINT)
        |        AS replayed_deliveries
        |      FROM rp GROUP BY 1),
        |sd AS (SELECT topic AS tenant,
        |        CAST(sum(CASE WHEN extension = 'broadcast'
        |          THEN 1 ELSE 0 END) AS BIGINT) AS s_bcast,
        |        CAST(sum(CASE WHEN extension = 'presence_diff' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS s_pres
        |       FROM msgs GROUP BY 1),
        |j AS (SELECT topic AS tenant, CAST(count(*) AS BIGINT) AS joins
        |      FROM sockets GROUP BY 1)
        |SELECT j.tenant, j.joins, sd.s_bcast + d.d_bcast AS events,
        |       d.db_events, sd.s_pres + d.d_pres AS presence_events,
        |       COALESCE(r.replayed_deliveries, CAST(0 AS BIGINT))
        |         AS replayed_deliveries
        |FROM j JOIN sd USING (tenant) JOIN d USING (tenant)
        |  LEFT JOIN r USING (tenant)""".stripMargin)),
    // The Janitor's chunked maintenance sweep (r15 verdict task 5 —
    // lib/realtime/tenants/janitor.ex:58-129 + janitor/
    // maintenance_task.ex): the sweep set is the UNION of tenants the
    // node tracked in the Connect table and tenants currently CONNECTED
    // on this node (the syn-registry select with node == self) —
    // disconnected, never-tracked tenants are NOT swept. The set is
    // chunked (`janitor_chunk_size`) into supervised tasks; the
    // randomized schedule offset (timer + rand minutes) affects WHEN,
    // never WHAT, so the result set uses the deterministic key order.
    // Per swept tenant, MaintenanceTask.run does two things whose
    // effects this query pins: delete_old_messages drops the message
    // PARTITIONS older than (now - 72h)::date (messages.ex:72-113 —
    // day-granular, a partition drop, not a row delete), and
    // create_messages_partitions creates the day partitions
    // yesterday..today+3 (tenants.ex:116-135, names
    // messages_YYYY_MM_DD). `now` is a literal so the oracle replays
    // the date arithmetic. Scale shape: the tenants dimension is
    // config-sized — the chunk-assignment window is |tenants| rows
    // (PlanAudit-whitelisted like curation_source_mix), and the message
    // counts are one map-side-combined aggregate broadcast-joined to it.
    Q("obs_janitor_sweep",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val nowTs = lit("2024-01-20 12:00:00").cast("timestamp")
        val cutoff = to_date(nowTs - expr("INTERVAL 72 HOURS"))
        val today = to_date(nowTs)
        val t = ChangeFeed.table(s, d, "nation").select(
          col("n_nationkey").cast("long").as("tkey"),
          col("n_name").as("tenant"),
          (pmod(col("n_nationkey"), lit(2)) === 0).as("tracked"),
          (pmod(col("n_nationkey"), lit(3)) === 0).as("connected_here"))
        val sw = t.where(col("tracked") || col("connected_here"))
          .withColumn("chunk_id",
            floor((row_number().over(Window.orderBy("tkey")) - 1) / lit(4))
              .cast("long"))
        val m = ev(s, d).select(
          pmod(col("event_id"), lit(25)).cast("long").as("tkey"),
          to_date(col("ts")).as("day"))
        val agg = m.groupBy("tkey").agg(
          sum(when(col("day") < cutoff, 1L).otherwise(0L))
            .as("n_messages_deleted"),
          count_distinct(when(col("day") < cutoff, col("day")))
            .as("n_partitions_dropped"))
        sw.join(broadcast(agg), Seq("tkey"), "left")
          .select(col("tenant"), col("chunk_id"),
            coalesce(col("n_messages_deleted"), lit(0L))
              .as("n_messages_deleted"),
            coalesce(col("n_partitions_dropped"), lit(0L))
              .as("n_partitions_dropped"),
            date_format(date_add(today, -1), "'messages_'yyyy_MM_dd")
              .as("first_partition_created"),
            date_format(date_add(today, 3), "'messages_'yyyy_MM_dd")
              .as("last_partition_created"))
      },
      Some("""WITH t AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS tkey, n_name AS tenant,
        |         (n_nationkey % 2 = 0) AS tracked,
        |         (n_nationkey % 3 = 0) AS connected_here
        |  FROM nation),
        |sw AS (
        |  SELECT tkey, tenant,
        |         CAST((row_number() OVER (ORDER BY tkey) - 1) // 4
        |           AS BIGINT) AS chunk_id
        |  FROM t WHERE tracked OR connected_here),
        |m AS (
        |  SELECT CAST(event_id % 25 AS BIGINT) AS tkey,
        |         CAST(ts AS DATE) AS day
        |  FROM events),
        |agg AS (
        |  SELECT tkey,
        |    CAST(sum(CASE WHEN day < CAST(TIMESTAMP '2024-01-20 12:00:00'
        |        - INTERVAL 72 HOUR AS DATE) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_messages_deleted,
        |    CAST(count(DISTINCT CASE WHEN day <
        |        CAST(TIMESTAMP '2024-01-20 12:00:00' - INTERVAL 72 HOUR
        |          AS DATE) THEN day END) AS BIGINT)
        |      AS n_partitions_dropped
        |  FROM m GROUP BY 1)
        |SELECT s.tenant, s.chunk_id,
        |       COALESCE(a.n_messages_deleted, CAST(0 AS BIGINT))
        |         AS n_messages_deleted,
        |       COALESCE(a.n_partitions_dropped, CAST(0 AS BIGINT))
        |         AS n_partitions_dropped,
        |       strftime(CAST(TIMESTAMP '2024-01-20 12:00:00' AS DATE) - 1,
        |         'messages_%Y_%m_%d') AS first_partition_created,
        |       strftime(CAST(TIMESTAMP '2024-01-20 12:00:00' AS DATE) + 3,
        |         'messages_%Y_%m_%d') AS last_partition_created
        |FROM sw s LEFT JOIN agg a ON s.tkey = a.tkey""".stripMargin)),
    // Channel Tracker sweep (realtime_channel/tracker.ex:18-88 +
    // tracker_test.exs:61-80): per transport pid a channel REFCOUNT
    // (track +1 on join :56, untrack −1 on terminate — and the test
    // deliberately double-untracks, so counts go NEGATIVE; the ≤0
    // match-spec arm covers both), and a periodic sweep that kills
    // every transport whose count ≤ 0 in 1000-pid CHUNKS
    // (chunked_killing's :ets.select continuation) then deletes the
    // zero rows. Ledger: every event tracks its socket; value > 20
    // untracks; value > 90 untracks AGAIN (the negative arm). Kill
    // chunks are assigned over the killed set in deterministic socket
    // order (the ets traversal order affects only batch composition
    // the logs print, never WHO dies). The chunk rank windows over the
    // killed flag with ≤ |sockets| rows per partition — transports on
    // ONE node are FD-bounded (≤ ~1e5), the same dimension-capped
    // class as the janitor's chunk assignment.
    Q("j_tracker_sweep",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = ev(s, d)
          .select((col("user_id") % 2500).as("socket_id"),
            (lit(1) - (col("value") > 20).cast("int")
              - (col("value") > 90).cast("int")).as("delta"))
          .groupBy("socket_id")
          .agg(sum(col("delta")).as("channel_count"))
        val killed = col("channel_count") <= 0
        counts
          .withColumn("killed", killed)
          .withColumn("chunk", when(killed,
            ((row_number().over(Window.partitionBy(col("killed"))
              .orderBy(col("socket_id"))) - 1) / 1000).cast("int")))
      },
      Some("""WITH led AS (
        |  SELECT user_id % 2500 AS socket_id,
        |    1 - CASE WHEN value > 20 THEN 1 ELSE 0 END
        |      - CASE WHEN value > 90 THEN 1 ELSE 0 END AS delta
        |  FROM events),
        |c AS (SELECT socket_id, CAST(sum(delta) AS BIGINT)
        |        AS channel_count
        |      FROM led GROUP BY 1)
        |SELECT socket_id, channel_count,
        |  channel_count <= 0 AS killed,
        |  CASE WHEN channel_count <= 0 THEN
        |    CAST((row_number() OVER (PARTITION BY channel_count <= 0
        |                             ORDER BY socket_id) - 1) // 1000
        |         AS INT)
        |  END AS chunk
        |FROM c""".stripMargin)),
    // ReplicationConnection watchdog (replication_connection/watchdog.ex
    // :63-101 + database.ex:184-208): every check interval, (1) a
    // health call — a TIMEOUT is caught around the whole arm and stops
    // the connection first, before any lag logic; (2) the slot-lag
    // probe — skipped outright when no slot name is configured; a
    // status error only WARNS and re-arms; the SQL returns no row when
    // the slot is missing OR max_slot_wal_keep_size = '-1' (both :ok);
    // otherwise stop iff coalesce(lsn_diff, 0) > pg_size_bytes(max)/2.
    // pg_size_bytes' 1024-based units are part of the law (512MB / 1GB
    // / 2GB arms below). One codegen'd projection; the DuckDB twin
    // replays the same CASE arithmetic.
    Q("s1_watchdog_verdicts",
      (s, d) => {
        val uid = col("user_id")
        val healthy = col("value") > 5
        val hasSlot = uid % 7 =!= 0
        val statusOk = uid % 13 =!= 0
        val maxSetting = when(uid % 4 === 0, "-1")
          .when(uid % 4 === 1, "512MB")
          .when(uid % 4 === 2, "1GB").otherwise("2GB")
        val slotExists = uid % 11 =!= 0
        val gib = 1073741824L
        val maxBytes = when(maxSetting === "512MB", gib / 2)
          .when(maxSetting === "1GB", gib)
          .when(maxSetting === "2GB", 2 * gib)
        val lag = (col("event_id") * 104729L) % (3 * gib)
        val lagApplies = hasSlot && statusOk && maxSetting =!= "-1" &&
          slotExists
        val verdict = when(!healthy, "stop_timeout")
          .when(!hasSlot, "ok")
          .when(!statusOk, "warn_skipped")
          .when(!lagApplies, "ok")
          .when(lag > maxBytes / 2, "stop_lag")
          .otherwise("ok")
        ev(s, d).select(col("event_id").as("check_id"),
          (uid % 30).as("tenant"),
          verdict.as("verdict"),
          when(lagApplies, lag).as("lag_bytes"),
          when(lagApplies, maxBytes / 2).as("threshold_bytes"))
      },
      Some("""WITH c AS (
        |  SELECT event_id AS check_id, user_id % 30 AS tenant,
        |    value > 5 AS healthy,
        |    user_id % 7 != 0 AS has_slot,
        |    user_id % 13 != 0 AS status_ok,
        |    CASE WHEN user_id % 4 = 0 THEN '-1'
        |         WHEN user_id % 4 = 1 THEN '512MB'
        |         WHEN user_id % 4 = 2 THEN '1GB' ELSE '2GB' END AS maxs,
        |    user_id % 11 != 0 AS slot_exists,
        |    (event_id * 104729) % (3 * CAST(1073741824 AS BIGINT))
        |      AS lag
        |  FROM events),
        |k AS (
        |  SELECT *,
        |    CASE WHEN maxs = '512MB' THEN 536870912
        |         WHEN maxs = '1GB' THEN 1073741824
        |         WHEN maxs = '2GB' THEN 2147483648 END AS max_bytes,
        |    (has_slot AND status_ok AND maxs != '-1' AND slot_exists)
        |      AS lag_applies
        |  FROM c)
        |SELECT check_id, tenant,
        |  CASE WHEN NOT healthy THEN 'stop_timeout'
        |       WHEN NOT has_slot THEN 'ok'
        |       WHEN NOT status_ok THEN 'warn_skipped'
        |       WHEN NOT lag_applies THEN 'ok'
        |       WHEN lag > max_bytes // 2 THEN 'stop_lag'
        |       ELSE 'ok' END AS verdict,
        |  CASE WHEN lag_applies THEN lag END AS lag_bytes,
        |  CASE WHEN lag_applies THEN max_bytes // 2 END
        |    AS threshold_bytes
        |FROM k""".stripMargin)),
    // Reconnector sweep (tenants/reconnector.ex:14-55): Connect runs
    // with restart: :temporary — a crashed tenant connection never
    // comes back on its own. Every interval the sweep walks tenants
    // WITH LOCAL MEMBERS (UsersCounter.local_tenant_counts) and
    // reconnects any whose Connect process is gone; member-less
    // tenants are left alone (a client join will start one on demand).
    // Members: distinct locally-connected users (value > 40); a live
    // Connect is modeled as tenant % 6 != 0.
    Q("j_reconnector_sweep",
      (s, d) => {
        val counts = ev(s, d).where(col("value") > 40)
          .select((col("user_id") % 30).as("tenant"), col("user_id"))
          .groupBy("tenant")
          .agg(countDistinct(col("user_id")).as("local_members"))
        counts
          .withColumn("connect_running", col("tenant") % 6 =!= 0)
          .withColumn("reconnect",
            col("local_members") > 0 && !col("connect_running"))
      },
      Some("""WITH m AS (
        |  SELECT user_id % 30 AS tenant,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS local_members
        |  FROM events WHERE value > 40 GROUP BY 1)
        |SELECT tenant, local_members,
        |  tenant % 6 != 0 AS connect_running,
        |  local_members > 0 AND NOT (tenant % 6 != 0) AS reconnect
        |FROM m""".stripMargin)),
    // Syn registry conflict resolution (syn_handler.ex:118-137): after
    // a netsplit heals, two nodes hold the same registered name; every
    // node must reach the SAME keep/stop decision with no coordination.
    // The law the CODE implements: hash the name to one bit, and let
    // that bit pick the tie-break DIRECTION over the node-name order
    // (so conflicts don't always sacrifice the lexically-greater node);
    // keep = min(node) when the bit is 1, max(node) when 0. Note the
    // moduledoc says "keep the oldest" but decide() never reads the
    // registration times — the name+node law is what runs, and it is
    // what this query pins (hash substituted by the md5 last-hex-digit
    // parity, the repo's portable stand-in for phash2). The stopped
    // side first gets a trappable {:shutdown, :syn_conflict_resolution}
    // exit, then :kill after 5 s — modeled as the escalation deadline.
    Q("j8_syn_conflict",
      (s, d) => {
        val name = concat(lit("conn-"), (col("user_id") % 500).cast("string"))
        val nodeA = concat(lit("node-"), (col("user_id") % 7).cast("string"))
        val nodeB = concat(lit("node-"),
          ((col("user_id") % 7 + 1 + col("event_id") % 6) % 7).cast("string"))
        val oddBit = substring(md5(name), 32, 1)
          .isin("1", "3", "5", "7", "9", "b", "d", "f")
        val keep = when(oddBit, least(nodeA, nodeB))
          .otherwise(greatest(nodeA, nodeB))
        val stop = when(oddBit, greatest(nodeA, nodeB))
          .otherwise(least(nodeA, nodeB))
        ev(s, d).select(col("event_id").as("conflict_id"),
            name.as("name"), nodeA.as("node_a"), nodeB.as("node_b"),
            oddBit.as("odd_hash"), keep.as("keep_node"),
            stop.as("stop_node"),
            ((col("event_id") % 1000) + 5000).as("kill_deadline_ms"))
      },
      Some("""WITH c AS (
        |  SELECT event_id AS conflict_id,
        |    'conn-' || CAST(user_id % 500 AS VARCHAR) AS name,
        |    'node-' || CAST(user_id % 7 AS VARCHAR) AS node_a,
        |    'node-' || CAST((user_id % 7 + 1 + event_id % 6) % 7
        |                    AS VARCHAR) AS node_b,
        |    event_id % 1000 + 5000 AS kill_deadline_ms
        |  FROM events),
        |k AS (
        |  SELECT *, substr(md5(name), 32, 1)
        |      IN ('1','3','5','7','9','b','d','f') AS odd_hash
        |  FROM c)
        |SELECT conflict_id, name, node_a, node_b, odd_hash,
        |  CASE WHEN odd_hash THEN least(node_a, node_b)
        |       ELSE greatest(node_a, node_b) END AS keep_node,
        |  CASE WHEN odd_hash THEN greatest(node_a, node_b)
        |       ELSE least(node_a, node_b) END AS stop_node,
        |  kill_deadline_ms
        |FROM k""".stripMargin)),
    // Cluster latency ping mesh (monitoring/latency.ex:73-130 +
    // nodes.ex:237-251): every 15 s each node pings EVERY node
    // (itself included) and broadcasts a payload per pong. Pinned
    // arms: the rpc-error leg NULLs the remote region and flags the
    // disconnect; an OK pong over 1 000 ms raises the slow-network
    // warning; and `short_node_id_from_name`'s three-arm parser runs
    // as real string ops in both engines — an 8-segment fly ipv6 host
    // concatenates segments six and seven, host 127.0.0.1 keeps the
    // FULL name@host (the deliberate localhost oddity), anything else
    // keeps the bare host. One codegen'd projection per ping row.
    Q("obs_cluster_pings",
      (s, d) => {
        def nameOf(idx: Column): Column =
          when(idx === 0, "realtime-prod@fdaa:0:cc:a7b:b385:83c3:cfe3:2")
            .when(idx === 1, "pink@127.0.0.1")
            .when(idx === 2, "realtime@host-2.internal")
            .otherwise("realtime@10.0.1.3")
        def regionOf(idx: Column): Column =
          when(idx === 0, "iad").when(idx === 1, "not_set")
            .when(idx === 2, "fra").otherwise("syd")
        def shortOf(name: Column): Column = {
          val host = substring_index(name, "@", -1)
          val parts = split(host, ":")
          when(size(parts) === 8,
            concat(element_at(parts, 6), element_at(parts, 7)))
            .when(host === "127.0.0.1", name)
            .otherwise(host)
        }
        val fromIdx = col("user_id") % 4
        // integer floor division (Column `/` is double division)
        val toIdx = (col("user_id") / 4).cast("long") % 4
        val err = toIdx === 3 && col("event_id") % 5 === 0
        val lat = (col("event_id") * 13) % 2500
        ev(s, d).select(col("event_id").as("ping_id"),
          shortOf(nameOf(fromIdx)).as("from_node"),
          regionOf(fromIdx).as("from_region"),
          shortOf(nameOf(toIdx)).as("node"),
          when(!err, regionOf(toIdx)).as("region"),
          lat.as("latency_ms"),
          (!err).as("ok"),
          (!err && lat > 1000).as("slow_warn"))
      },
      Some("""WITH p AS (
        |  SELECT event_id AS ping_id,
        |    user_id % 4 AS fi, (user_id // 4) % 4 AS ti,
        |    (user_id // 4) % 4 = 3 AND event_id % 5 = 0 AS err,
        |    (event_id * 13) % 2500 AS latency_ms
        |  FROM events),
        |n AS (
        |  SELECT p.*,
        |    CASE fi WHEN 0 THEN 'realtime-prod@fdaa:0:cc:a7b:b385:83c3:cfe3:2'
        |            WHEN 1 THEN 'pink@127.0.0.1'
        |            WHEN 2 THEN 'realtime@host-2.internal'
        |            ELSE 'realtime@10.0.1.3' END AS fname,
        |    CASE fi WHEN 0 THEN 'iad' WHEN 1 THEN 'not_set'
        |            WHEN 2 THEN 'fra' ELSE 'syd' END AS fregion,
        |    CASE ti WHEN 0 THEN 'realtime-prod@fdaa:0:cc:a7b:b385:83c3:cfe3:2'
        |            WHEN 1 THEN 'pink@127.0.0.1'
        |            WHEN 2 THEN 'realtime@host-2.internal'
        |            ELSE 'realtime@10.0.1.3' END AS tname,
        |    CASE ti WHEN 0 THEN 'iad' WHEN 1 THEN 'not_set'
        |            WHEN 2 THEN 'fra' ELSE 'syd' END AS tregion
        |  FROM p),
        |sh AS (
        |  SELECT *,
        |    split_part(fname, '@', 2) AS fhost,
        |    split_part(tname, '@', 2) AS thost
        |  FROM n)
        |SELECT ping_id,
        |  CASE WHEN len(string_split(fhost, ':')) = 8
        |       THEN string_split(fhost, ':')[6]
        |            || string_split(fhost, ':')[7]
        |       WHEN fhost = '127.0.0.1' THEN fname
        |       ELSE fhost END AS from_node,
        |  fregion AS from_region,
        |  CASE WHEN len(string_split(thost, ':')) = 8
        |       THEN string_split(thost, ':')[6]
        |            || string_split(thost, ':')[7]
        |       WHEN thost = '127.0.0.1' THEN tname
        |       ELSE thost END AS node,
        |  CASE WHEN NOT err THEN tregion END AS region,
        |  latency_ms, NOT err AS ok,
        |  NOT err AND latency_ms > 1000 AS slow_warn
        |FROM sh""".stripMargin))
  )

  /** Occupancy-register claims shaped from the events table (shared by
    * the j_muster_occupancy_* queries and their oracles): grp/node from
    * the router family's shaping (coarser grp so keys see ~6 claims
    * each), seq = event_id/8 so equal-seq collisions within a key occur
    * (exercising the tombstone-wins-ties rule on real rows), a third of
    * claims vacancies, created_at = the event's epoch millis on
    * tombstone claims only (present claims carry none — the reference
    * stores the :present atom in that slot). */
  private def musterClaims(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(
      concat(col("event_type"), lit("-"),
        (col("event_id") % 50).cast("string")).as("grp"),
      concat(lit("n"), (col("user_id") % 7).cast("string")).as("node"),
      (col("event_id") / lit(8)).cast("long").as("seq"),
      (col("user_id") % 3 =!= 0).as("present"),
      when(col("user_id") % 3 === 0, unix_millis(col("ts")))
        .otherwise(lit(null).cast("long")).as("created_at"))

  // a def, not a val: it is referenced from a `val` Seq initializer
  // defined ABOVE this point, which would otherwise read null
  private def musterClaimsSql: String =
    """WITH claims AS (
      |  SELECT event_type || '-' || CAST(event_id % 50 AS VARCHAR) AS grp,
      |    'n' || CAST(user_id % 7 AS VARCHAR) AS node,
      |    CAST(event_id // 8 AS BIGINT) AS seq,
      |    user_id % 3 != 0 AS present,
      |    CASE WHEN user_id % 3 = 0 THEN epoch_ms(ts) END AS created_at
      |  FROM events)""".stripMargin

  val all: Seq[Q] = filterOps ++ coreQueries ++ messageQueries ++
    aggQueries ++ joinQueries ++ payloadQueries ++ error401Query ++
    presenceQueries ++ miscQueries ++ obsQueries ++ PipelineQueries.all

  /** Each query's build, prepared ([[Prepared]]). */
  def queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> Prepared(q.name, q.build)).toMap

  def oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}

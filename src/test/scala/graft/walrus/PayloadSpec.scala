package graft.walrus

import graft.SparkSpec
import graft.filters.FilterParser
import graft.model.Subscription
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Payload shaping: per-group projection, TOAST fallback, and the in-band
  * error-row matrix (400 no-pk, 401 unauthorized, 413 oversize). */
class PayloadSpec extends SparkSpec {
  import spark.implicits._
  import PayloadSpec.{Chg, IdsRow, ShapeRow}

  lazy val matched = {
    val changes = Seq(
      Chg(1, "INSERT", "small", "2024-01-01T00:00:00.000Z"),
      Chg(2, "UPDATE", "x" * 100, "2024-01-01T00:00:01.000Z")
    ).toDF().withColumnRenamed("payload", "details")
    Walrus.matchSubscriptions(changes, subs, changes.drop("change_type", "commit_timestamp").schema, "t")
  }

  lazy val subs = Seq(
    Subscription("sAuth", "public", "t", Nil, claimsRole = "authenticated"),
    Subscription("sAnon", "public", "t", Nil, claimsRole = "anon"))

  private def shaped(pk: Seq[String], maxBytes: Int = 1 << 20,
      denied: Set[String] = Set.empty) =
    Payload.shape(matched, subs, Seq("id", "details"), pk, maxBytes, denied)

  /** The group split `groups` and `shapeGeneric` replaced, kept as the
    * reference: per payload group (in `byPayloadGroup` order),
    * `sort_array(array_intersect(subscription_ids, <group's ids>))`, and
    * the group only when that is non-empty. */
  private def referenceSplit(registry: Seq[Subscription]): Column =
    filter(array(registry.groupBy(s => (s.claimsRole, s.selectedColumns.sorted)).toSeq
      .sortBy { case ((role, sel), _) => (Option(role), sel.mkString(",")) }
      .map { case ((role, sel), ss) =>
        val ids = sort_array(array_intersect(col("subscription_ids"),
          array(ss.map(_.subscriptionId).sorted.map(lit): _*)))
        when(size(ids) > 0, struct(lit(role).as("claims_role"),
          lit(sel.mkString(",")).as("selected_columns"), ids.as("subscription_ids")))
      }: _*), _.isNotNull)

  /** The `groups` column `GroupSplit` and `BindOnce` replaced, kept as
    * the reference: each group's record JSON built for every read (413
    * size check, record, `old_record`'s size check), and the split an
    * `InSet` filter per group under `transform`. */
  private def referenceGroups(schema: org.apache.spark.sql.types.StructType,
      registry: Seq[Subscription], dataCols: Seq[String], pk: Seq[String], maxBytes: Int,
      unauthorizedRoles: Set[String], rlsEnabled: Boolean): Column = {
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.{ArrayType, StringType}
    def jsonObj(fields: Seq[(String, Column, org.apache.spark.sql.types.DataType)]): Column =
      if (fields.forall(f => graft.plans.JsonStructProject.supports(f._3)))
        ColumnBridge.column(graft.plans.JsonStructProject(
          fields.map(_._1), fields.map(f => ColumnBridge.expression(f._2))))
      else to_json(struct(fields.map { case (n, c, _) => c.as(n) }: _*))
    val hasOld = schema.fieldNames.exists(_.startsWith("old_"))
    val noPk = pk.isEmpty
    val isIns = col(Walrus.TypeCol) === "INSERT"
    val isUpd = col(Walrus.TypeCol) === "UPDATE"
    val isDel = col(Walrus.TypeCol) === "DELETE"
    val branches = registry.groupBy(s => (s.claimsRole, s.selectedColumns.sorted)).toSeq
      .sortBy { case ((role, sel), _) => (Option(role), sel.mkString(",")) }
      .map { case ((role, selected), ss) =>
        val keep = Walrus.projectRecord(dataCols, selected, pk)
        def dt(c: String) = schema(c).dataType
        val recordFull = jsonObj(keep.map(c => (c, col(c), dt(c))))
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
              .otherwise(jsonObj(cols.map(c => (c, col(s"old_$c"), dt(s"old_$c")))))
            when(isUpd, enc(oldKeep)).when(isDel, enc(delKeep))
          } else lit(null).cast(StringType)
        val denied = unauthorizedRoles.contains(role)
        val errs =
          if (noPk) typedLit(Seq(Payload.Err400))
          else if (denied) typedLit(Seq(Payload.Err401))
          else when(tooLarge, typedLit(Seq(Payload.Err413)))
            .otherwise(lit(null).cast(ArrayType(StringType)))
        val rec =
          if (noPk || denied) lit(null).cast(StringType)
          else when(isIns || isUpd, when(tooLarge, recordTrunc).otherwise(recordFull))
        (ss.map(_.subscriptionId), (ids: Column) => struct(
          lit(role).as("claims_role"),
          lit(if (selected.isEmpty) "" else selected.sorted.mkString(","))
            .as("selected_columns"),
          rec.as("record"),
          (if (noPk || denied) lit(null).cast(StringType) else oldJson).as("old_record"),
          errs.as("errors"),
          ids.as("subscription_ids")))
      }
    val ids = col("subscription_ids")
    val subsets = branches.map { case (members, _) =>
      val set: Set[Any] = members.map(UTF8String.fromString).toSet
      filter(ids, (x, i) =>
        ColumnBridge.column(InSet(ColumnBridge.expression(x), set)) &&
          (i === 0 || x =!= element_at(ids, i)))
    }
    element_at(transform(array(array(subsets: _*)), sub =>
      filter(array(branches.map(_._2).zipWithIndex.map { case (arm, g) =>
        when(size(sub.getItem(g)) > 0, arm(sub.getItem(g)))
      }: _*), b => b.isNotNull)), 1)
  }

  private def binarySorted(ids: Seq[String]): Seq[String] =
    ids.sortWith((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)

  /** A seeded registry of `nGroups` (role, selected columns) payload
    * groups: group 0 holds one id, the others 1–12 ids drawn from `pool`
    * (a drawn id can sit in two groups); "ghost" is in none. */
  private def registry(r: scala.util.Random, nGroups: Int, pool: IndexedSeq[String])
      : Seq[Subscription] = {
    val keys = for (role <- Seq("anon", "authenticated", "service");
      sel <- Seq(Nil, Seq("v"), Seq("id"), Seq("v", "id"))) yield (role, sel)
    r.shuffle(keys).take(nGroups).zipWithIndex.flatMap { case ((role, sel), g) =>
      val ids = if (g == 0) Seq(pool(r.nextInt(pool.size)))
        else Seq.fill(1 + r.nextInt(12))(pool(r.nextInt(pool.size))).distinct
      ids.map(id => Subscription(id, "public", "t", Nil, claimsRole = role,
        selectedColumns = sel))
    }
  }

  /** Seeded change rows whose `subscription_ids` are what the battery
    * emits: binary-UTF8 sorted, possibly with an id twice (adjacent),
    * possibly empty; plus one null. */
  private def idsRows(r: scala.util.Random, pool: IndexedSeq[String]): Seq[IdsRow] = {
    val all = pool :+ "ghost"
    (0 until 40).map { k =>
      val picked = Seq.fill(r.nextInt(8))(all(r.nextInt(all.size)))
      val dup = if (picked.nonEmpty && r.nextInt(3) == 0) Seq(picked.head) else Nil
      val ids = if (k == 39) null else binarySorted(picked ++ dup)
      IdsRow(k, Seq("INSERT", "UPDATE", "DELETE")(r.nextInt(3)),
        f"2024-01-01T00:00:$k%02d.000Z", k.toLong, s"v$k", ids)
    }
  }

  test("differential: groups and shapeGeneric split ids exactly as sort_array(array_intersect)") {
    // non-ASCII ids pin binary UTF8 order: U+FF21 sorts before U+1F600
    // there, after it in UTF-16 (String.compareTo) order
    val pool = (0 until 30).map(i => f"s$i%02d") ++ Seq("\uFF21", "\uD83D\uDE00", "é")
    var seen = Map("duplicate" -> 0, "empty" -> 0, "ghost" -> 0, "one-id group" -> 0)
    for (nGroups <- Seq(1, 2, 12); seed <- 1 to 4) {
      val r = new scala.util.Random(nGroups * 100 + seed)
      val subs = registry(r, nGroups, pool)
      val rows = idsRows(r, pool)
      val df = rows.toDF()
      val got = df.select(col("key"), transform(
        Payload.groups(df.schema, subs, Seq("id", "v"), Seq("id")).get,
        g => struct(g("claims_role").as("claims_role"),
          g("selected_columns").as("selected_columns"),
          g("subscription_ids").as("subscription_ids"))).as("g"))
      val want = df.select(col("key"), referenceSplit(subs).as("g"))
      def byKey(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(x => x.getInt(0) -> x.getSeq[org.apache.spark.sql.Row](1)).toMap
      val wantByKey = byKey(want)
      assert(byKey(got) == wantByKey, s"groups, nGroups=$nGroups seed=$seed")
      assert(wantByKey(39).isEmpty, "null subscription_ids yields no group")

      val matched = df.select(lit("public").as("change_schema"), lit("t").as("change_table"),
        col("change_type"), col("commit_timestamp"),
        map(lit("id"), col("id").cast("string"), lit("v"), col("v")).as("record"),
        col("subscription_ids"))
      def tuples(d: org.apache.spark.sql.DataFrame) = d.collect().map(x =>
        (x.getString(0), x.getString(1), x.getString(2), x.getSeq[String](3))).sortBy(_.toString).toSeq
      val gotGeneric = Payload.shapeGeneric(matched, subs, Map(("public", "t") -> Seq("id")))
        .select("commit_timestamp", "claims_role", "selected_columns", "subscription_ids")
      val wantGeneric = matched.select(col("commit_timestamp"), inline(referenceSplit(subs)))
      assert(tuples(gotGeneric) == tuples(wantGeneric), s"shapeGeneric, nGroups=$nGroups seed=$seed")

      val members = subs.map(_.subscriptionId).toSet
      val oneId = subs.groupBy(s => (s.claimsRole, s.selectedColumns)).values
        .filter(_.size == 1).flatMap(_.map(_.subscriptionId)).toSet
      rows.filter(_.subscription_ids != null).foreach { row =>
        val ids = row.subscription_ids
        if (ids.isEmpty) seen += "empty" -> (seen("empty") + 1)
        if (ids.distinct.size < ids.size && ids.diff(ids.distinct).exists(members))
          seen += "duplicate" -> (seen("duplicate") + 1)
        if (ids.contains("ghost")) seen += "ghost" -> (seen("ghost") + 1)
        if (ids.exists(oneId)) seen += "one-id group" -> (seen("one-id group") + 1)
      }
    }
    // the seeded rows exercise every case the split must get right
    assert(seen.values.forall(_ > 0), seen)
  }

  test("differential: groups equals the HOF split with its JSON rebuilt per read") {
    val pool = (0 until 12).map(i => f"s$i%02d") :+ "\uFF21"
    var seen = Map("413" -> 0, "old_record" -> 0, "duplicate" -> 0, "empty" -> 0)
    for (seed <- 1 to 2) {
      val r = new scala.util.Random(500 + seed)
      val subs = registry(r, 4, pool)
      val rows = idsRows(r, pool).map { x =>
        val long = r.nextInt(4) == 0
        ShapeRow(x.key, Seq("INSERT", "UPDATE", "DELETE", "TRUNCATE")(r.nextInt(4)),
          x.commit_timestamp, x.id, if (long) "v" * 90 else x.v,
          if (r.nextBoolean()) Some(x.id + 1) else None, if (long) "o" * 70 else s"o${x.key}",
          x.subscription_ids)
      }
      rows.foreach { x =>
        if (x.v.length > 64) seen += "413" -> (seen("413") + 1)
        if (x.change_type == "UPDATE" || x.change_type == "DELETE")
          seen += "old_record" -> (seen("old_record") + 1)
        val ids = Option(x.subscription_ids).getOrElse(Seq("-"))
        if (ids.isEmpty) seen += "empty" -> (seen("empty") + 1)
        if (ids.distinct.size < ids.size) seen += "duplicate" -> (seen("duplicate") + 1)
      }
      // repartitioned: the groups run in a code-generated stage, shipped
      val df = rows.toDF().repartition(2)
      val denyRole = subs.head.claimsRole
      for (pk <- Seq(Seq("id"), Nil); rls <- Seq(false, true);
          denied <- Seq(Set.empty[String], Set(denyRole)); maxBytes <- Seq(1 << 20, 40)) {
        def byKey(c: Column) = df.select(col("key"), c).collect()
          .map(x => x.getInt(0) -> x.getSeq[org.apache.spark.sql.Row](1)).toMap
        val got = byKey(Payload.groups(df.schema, subs, Seq("id", "v"), pk, maxBytes,
          denied, rls).get)
        val want = byKey(referenceGroups(df.schema, subs, Seq("id", "v"), pk, maxBytes,
          denied, rls))
        assert(got == want, s"seed=$seed pk=$pk rls=$rls denied=$denied maxBytes=$maxBytes")
        assert(want(39).isEmpty, "null subscription_ids yields no group")
        if (pk.nonEmpty && denied.isEmpty && maxBytes == 40)
          assert(want.values.flatten.exists(g => g.getSeq[String](4) == Seq(Payload.Err413)))
      }
    }
    assert(seen.values.forall(_ > 0), seen)
  }

  test("TRUNCATE routing keeps a group's ids in binary UTF8 order") {
    // U+FF21 sorts before U+1F600 in UTF8 bytes, after it in UTF-16
    val truncSubs = Seq("\uD83D\uDE00", "\uFF21").map(id => Subscription(id, "public", "t", Nil))
    val changes = Seq(Chg(1, "TRUNCATE", null, "2024-01-01T00:00:00.000Z")).toDF()
      .withColumnRenamed("payload", "details")
    val m = Walrus.matchSubscriptions(changes, truncSubs,
      changes.drop("change_type", "commit_timestamp").schema, "t")
    val got = Payload.shape(m, truncSubs, Seq("id", "details"), Seq("id"))
      .select("subscription_ids").as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("\uFF21", "\uD83D\uDE00")))
  }

  test("401: denied role gets error row, record suppressed, ids kept") {
    val rows = shaped(pk = Seq("id"), denied = Set("anon"))
      .select("claims_role", "record", "errors", "subscription_ids")
      .as[(String, String, Seq[String], Seq[String])].collect()
    val anon = rows.filter(_._1 == "anon")
    assert(anon.nonEmpty && anon.forall(r =>
      r._2 == null && r._3 == Seq(Payload.Err401) && r._4 == Seq("sAnon")))
    val auth = rows.filter(_._1 == "authenticated")
    assert(auth.forall(r => r._2 != null && r._3 == null))
  }

  test("400: table without pk errors every row") {
    val rows = shaped(pk = Nil)
      .select("record", "errors").as[(String, Seq[String])].collect()
    assert(rows.nonEmpty &&
      rows.forall(r => r._1 == null && r._2 == Seq(Payload.Err400)))
  }

  test("empty subscription set yields an empty, well-typed result") {
    val out = Payload.shape(matched, Nil, Seq("id", "details"), Seq("id"))
    assert(out.count() == 0)
    assert(out.columns.contains("subscription_ids"))
  }

  test("413: oversize record keeps only values ≤64 bytes, with error") {
    val rows = shaped(pk = Seq("id"), maxBytes = 60)
      .where(col("claims_role") === "authenticated")
      .select("id", "record", "errors").as[(Int, String, Seq[String])]
      .collect().sortBy(_._1)
    assert(rows(0)._2 != null && rows(0)._3 == null)       // small row ok
    // oversize row: record delivered, but the 100-byte value is dropped
    // (reference 20260626120000:604 keeps values with octet_length ≤ 64)
    assert(rows(1)._2 == """{"id":2}""" && rows(1)._3 == Seq(Payload.Err413))
  }

  test("record only for INSERT/UPDATE; DELETE carries old_record instead") {
    val changes = Seq(
      Chg(7, "DELETE", "gone", "2024-01-01T00:00:02.000Z")
    ).toDF().withColumnRenamed("payload", "details")
      .withColumn("old_id", col("id"))
      .withColumn("old_details", lit("prior"))
    val m = Walrus.matchSubscriptions(changes, subs,
      changes.drop("change_type", "commit_timestamp", "old_id", "old_details").schema, "t")
    val rows = Payload.shape(m, subs, Seq("id", "details"), Seq("id"))
      .select("record", "old_record").as[(String, String)].collect()
    assert(rows.nonEmpty && rows.forall(r =>
      r._1 == null && r._2 == """{"id":7,"details":"prior"}"""))
  }

  test("DELETE old_record is pk-only when RLS is enabled") {
    val changes = Seq(
      Chg(7, "DELETE", "gone", "2024-01-01T00:00:02.000Z")
    ).toDF().withColumnRenamed("payload", "details")
      .withColumn("old_id", col("id"))
      .withColumn("old_details", lit("prior"))
    val m = Walrus.matchSubscriptions(changes, subs,
      changes.drop("change_type", "commit_timestamp", "old_id", "old_details").schema, "t")
    val rows = Payload.shape(m, subs, Seq("id", "details"), Seq("id"),
        rlsEnabled = true)
      .select("old_record").as[String].collect()
    assert(rows.nonEmpty && rows.forall(_ == """{"id":7}"""))
  }
}

object PayloadSpec {
  case class Chg(id: Int, change_type: String, payload: String,
      commit_timestamp: String)
  case class IdsRow(key: Int, change_type: String, commit_timestamp: String,
      id: Long, v: String, subscription_ids: Seq[String])
  case class ShapeRow(key: Int, change_type: String, commit_timestamp: String,
      id: Long, v: String, old_id: Option[Long], old_v: String, subscription_ids: Seq[String])
}

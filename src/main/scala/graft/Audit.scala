package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AesDecrypt, AesEncrypt,
  ArrayFilter, ArraySort, ArrayTransform, Expression, JsonToStructs, Md5,
  RegExpExtract, RegExpExtractAll, RegExpReplace, Sha2, SortArray,
  SpecifiedWindowFrame, StringSplit, StructsToJson, UnboundedFollowing,
  UnboundedPreceding, WindowExpression, WindowSpecDefinition, ZipWith}
import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange._
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions.{count, lit}

/** Plan governance over the whole query registry. [[walk]] builds every
  * registered query once at sf0.001 (local[4], 4 shuffle partitions,
  * AQE off: the plan Catalyst hands AQE, not its runtime re-planning)
  * and applies a check to each executed plan. A plan that fails to
  * build is a failure, never skipped.
  *
  * Three checks are gates, enforced in tier-1 by `PlanGovernanceSpec`:
  *  - [[fingerprint]]: per-query counts of the expensive operators
  *    (exchanges, join strategies, windows, global sorts) equal the
  *    committed `PLAN_FINGERPRINTS.json`. A refactor that silently turns
  *    a broadcast join into a sort-merge join, or adds a shuffle to a
  *    narrow pipeline, fails although every row still comes out right.
  *    Adding or reshaping a query is a conscious act: regenerate with
  *    `fingerprint-write`, review the JSON diff, commit it.
  *  - [[unboundedShapes]]: no unpartitioned window or global sort (a
  *    single-task sort) outside the bounded whitelists, and no shrinking
  *    window frame (moving lower bound, UNBOUNDED FOLLOWING upper):
  *    Spark recomputes those per row, O(rows²) per key (r14: 100+
  *    CPU-minutes on one 1M-delta key).
  *  - [[codegenViolations]]: every whole-stage-codegen subtree compiles
  *    (a Janino failure, e.g. a method past 64 KB, silently reruns the
  *    stage interpreted) and no generated method exceeds [[JitLimit]].
  *
  * The rest run by hand (`runMain graft.Audit <command>`):
  *  - `fingerprint-write [sfDir] [file]`: regenerate the baseline;
  *  - `prune [sfDir]`, `battery [minWeight]`, `amp`, `dupexpr`,
  *    `jsonparse`: report-only scans, one `@@@ <query>: …` line per hit;
  *  - `explain [--dump <tag>] [name...]`: `explain("formatted")` in the
  *    Bench session shape (AQE on, SPARK_GRAFT_CPUS, default 32);
  *    `--dump` writes `<SPARK_GRAFT_PLANS_DIR, default plans/r17>/
  *    <name>_<tag>.txt` instead of printing;
  *  - `codegen <query>`: each codegen subtree's ByteCodeStats and, for a
  *    JIT-hostile one, its header and largest generated methods. */
object Audit {

  /** Dataset every plan check reads (the committed fingerprints are
    * taken from it). */
  val SfDir = "/root/testdata/sf0.001"

  /** HotSpot refuses to JIT methods over this many bytecode bytes. */
  val JitLimit = 8000

  /** Global windows bounded by construction: k-capped (rank after
    * `limit(k)`) or dimension-capped (category grids). */
  val BoundedGlobalWindows: Set[String] = Set(
    "a_chisq",              // R×C category grid marginals
    "a_skew_keys",          // rank over limit(topK)
    "curation_source_mix",  // per-source shares, |sources| rows
    "obs_janitor_sweep",    // chunk assignment over |tenants| (config-sized)
    "text_bm25",            // rank over limit(k)
    "text_keyphrases",      // rank over limit(k)
    "text_ndcg",            // ideal/actual ranks over limit(k)
    "text_rrf",             // per-list + fused ranks over limit(k)
    "text_textrank",        // rank over limit(k)
    "text_zipf")            // rank over limit(topK)

  /** Global sorts bounded by construction: a re-sort of ≤ k rows after
    * a limit. Any other global sort is a range-partitioned sort of
    * unbounded input (Spark rewrites sort+limit to the distributed
    * TakeOrdered only at the plan root). */
  val BoundedGlobalSorts: Set[String] = Set(
    "w1_replay_topk")       // ≤25-row page re-sorted to delivery order

  /** Shrinking frames assessed with a measured per-key row bound.
    * Entire-partition frames (unbounded both ways) never need one. */
  val AssessedShrinkingFrames: Set[String] = Set()

  /** Build each registered query's executed plan, in name order, and
    * apply `check`. A build or check that throws is a Left with its
    * message. Caches a query persisted are dropped before the next. */
  def walk[A](spark: SparkSession, sfDir: String = SfDir)(
      check: (String, DataFrame, SparkPlan) => A)
      : Seq[(String, Either[String, A])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val r =
        try {
          val df = fn(spark, sfDir)
          Right(check(name, df, df.queryExecution.executedPlan))
        } catch { case NonFatal(e) => Left(String.valueOf(e.getMessage).take(200)) }
      spark.catalog.clearCache()
      name -> r
    }

  // ------------------------------------------------------------- gates

  final case class GateReport(fingerprint: String, shapes: Seq[String],
      codegen: Seq[String])

  /** The three gates' readings for one plan. */
  def gates(name: String, plan: SparkPlan): GateReport =
    GateReport(render(fingerprint(plan)), unboundedShapes(name, plan),
      codegenViolations(plan))

  def fingerprint(plan: SparkPlan): Map[String, Int] =
    plan.collect {
      case _: ShuffleExchangeExec => "shuffle"
      case _: BroadcastExchangeExec => "broadcast"
      case _: SortMergeJoinExec => "sort_merge_join"
      case _: ShuffledHashJoinExec => "shuffled_hash_join"
      case _: BroadcastHashJoinExec => "broadcast_hash_join"
      case _: BroadcastNestedLoopJoinExec => "bnl_join"
      case _: CartesianProductExec => "cartesian"
      case w: WindowExec => if (w.partitionSpec.isEmpty) "global_window" else "window"
      case w: WindowGroupLimitExec =>
        if (w.partitionSpec.isEmpty) "global_window_limit" else "window_limit"
      case s: SortExec if s.global => "global_sort"
    }.groupMapReduce(identity)(_ => 1)(_ + _)

  def render(fp: Map[String, Int]): String =
    fp.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")

  def readFingerprints(file: String): Map[String, String] =
    """"([^"]+)":\s*"([^"]*)"""".r
      .findAllMatchIn(Files.readString(Paths.get(file)))
      .map(m => m.group(1) -> m.group(2)).toMap

  def writeFingerprints(file: String, fps: Map[String, String]): Unit =
    Files.writeString(Paths.get(file), fps.toSeq.sorted
      .map { case (n, f) => s"""  "$n": "$f"""" }.mkString("{\n", ",\n", "\n}\n"))

  final case class FingerprintDiff(drifted: Map[String, (String, String)],
      added: Set[String], removed: Set[String]) {
    def isEmpty: Boolean = drifted.isEmpty && added.isEmpty && removed.isEmpty
    def lines: Seq[String] =
      drifted.toSeq.sorted.map { case (n, (was, now)) =>
        s"DRIFT $n: baseline $was, now $now" } ++
        added.toSeq.sorted.map(n => s"NEW (not in baseline): $n") ++
        removed.toSeq.sorted.map(n => s"REMOVED from registry: $n")
  }

  def compareFingerprints(baseline: Map[String, String],
      now: Map[String, String]): FingerprintDiff =
    FingerprintDiff(
      now.collect { case (n, f) if baseline.get(n).exists(_ != f) => n -> ((baseline(n), f)) },
      now.keySet.diff(baseline.keySet), baseline.keySet.diff(now.keySet))

  /** Unbounded global windows/sorts and shrinking frames outside the
    * whitelists, one message per kind. */
  def unboundedShapes(name: String, plan: SparkPlan): Seq[String] = {
    var windows, sorts, shrink = 0
    plan.foreach {
      case w: WindowExec =>
        if (w.partitionSpec.isEmpty) windows += 1
        w.windowExpression.foreach(_.foreach {
          case WindowExpression(_, WindowSpecDefinition(_, _,
              SpecifiedWindowFrame(_, lower, upper)))
            if upper == UnboundedFollowing && lower != UnboundedPreceding => shrink += 1
          case _ => ()
        })
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => windows += 1
      case s: SortExec if s.global => sorts += 1
      case _ => ()
    }
    Seq((windows, BoundedGlobalWindows, "unbounded global window(s)"),
      (sorts, BoundedGlobalSorts, "unbounded global sort(s)"),
      (shrink, AssessedShrinkingFrames, "shrinking window frame(s), O(rows²) per key"))
      .collect { case (n, allowed, what) if n > 0 && !allowed(name) => s"$n $what" }
  }

  /** Codegen subtrees that fail to compile (maxMethodCodeSize = -1) or
    * hold a method past [[JitLimit]]. */
  def codegenViolations(plan: SparkPlan): Seq[String] =
    debug.codegenStringSeq(plan).map(_._3.maxMethodCodeSize).collect {
      case n if n < 0 => "generated class does not compile"
      case n if n > JitLimit => s"max method $n B > $JitLimit (JIT-hostile)"
    }

  // ------------------------------------------------- report-only scans

  /** Expression classes that are cheap bookkeeping for [[prune]]. */
  private val Bookkeeping = Set("AttributeReference", "Alias", "Literal",
    "Count", "AggregateExpression", "SortOrder", "Ascending", "Descending",
    "Cast", "GetStructField", "IsNotNull", "IsNull", "Not", "And", "Or",
    "EqualTo", "PromotePrecision", "KnownFloatingPointNormalized",
    "NormalizeNaNAndZero")

  private def exprClasses(p: SparkPlan): Map[String, Int] =
    p.flatMap(_.expressions).flatMap(_.collect { case e => e.getClass.getSimpleName })
      .groupMapReduce(identity)(_ => 1)(_ + _)

  /** Work a count()-based timing harness never executes: expression
    * classes that lose occurrences when the query is counted instead of
    * produced. r12 found 133/191 queries losing work (for
    * projection-final ones nearly all of it), which is why Bench forces
    * full results through the noop sink: never time with a bare count. */
  def prune(df: DataFrame, plan: SparkPlan): Option[String] = {
    val cnt = exprClasses(df.groupBy().agg(count(lit(1))).queryExecution.executedPlan)
    val lost = exprClasses(plan).collect {
      case (k, v) if !Bookkeeping(k) && cnt.getOrElse(k, 0) < v => (k, v - cnt.getOrElse(k, 0))
    }
    Option.when(lost.nonEmpty)("PRUNED: " + lost.toSeq.sortBy(-_._2)
      .map { case (k, d) => s"$k x$d" }.mkString(", ").take(300))
  }

  /** Does `p` reach a leaf without crossing a row-stream exchange? Then
    * it runs at input-split parallelism: one task on a one-split table.
    * Broadcast sides do not drive parallelism, a reused exchange keeps
    * its original's, and a cache scan carries the partitioning of the
    * plan that built it. */
  private def splitBound(p: SparkPlan): Boolean = p match {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => false
    case r: ReusedExchangeExec => splitBound(r.child)
    case m: columnar.InMemoryTableScanExec => splitBound(m.relation.cachedPlan)
    case leaf if leaf.children.isEmpty => true
    case other => other.children.exists(splitBound)
  }

  /** A column-only repartition below the node: AQE sizes it on
    * pre-explode bytes and folds it back, so it does not spread. */
  private def coalescibleSpread(p: SparkPlan): Boolean = p match {
    case s: ShuffleExchangeExec => s.shuffleOrigin == REPARTITION_BY_COL
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => false
    case other => other.children.exists(coalescibleSpread)
  }

  /** Split-bound row amplification: a Generate (explode) whose subtree
    * runs at input-split parallelism (r13: `text_lm_score` ran its
    * 1.5M-gram pipeline single-task, 5.3 → 1.55 s with an explicit-count
    * spread), or whose only spread is AQE-coalescible. Assessed residue:
    * tokenize-explodes under 1 s warm at sf0.1, the walrus fan-outs, and
    * `text_nb_classifier` / `j_muster_claim_debounce`, where a spread
    * measured slower. */
  def amp(plan: SparkPlan): Option[String] = {
    val flags = plan.collect {
      case g: GenerateExec if splitBound(g.child) =>
        s"split-bound ${g.boundGenerator.prettyName}"
      case g: GenerateExec if coalescibleSpread(g.child) =>
        s"coalescible-spread ${g.boundGenerator.prettyName}"
    }.distinct
    Option.when(flags.nonEmpty)(flags.mkString("; ").take(300))
  }

  /** Expression classes whose per-row cost dominates a battery. */
  private val Heavy = Set("JsonToStructs", "StructsToJson", "JsonTuple",
    "GetJsonObject", "Md5", "Sha1", "Sha2", "Crc32", "AesEncrypt",
    "AesDecrypt", "RegExpReplace", "RegExpExtract", "RegExpExtractAll",
    "RLike", "StringSplit", "SplitPart", "FormatString", "Conv", "Hex",
    "Unhex", "Base64", "UnBase64", "ArrayTransform", "ArrayFilter",
    "ArrayAggregate", "ZipWith", "MapFromEntries", "ArraySort",
    "ScalaUDF", "Invoke", "StaticInvoke")

  /** (kind, weight) of the battery work in one node; an object-codec
    * boundary is opaque Scala and weighs 2. */
  private def batteryOf(p: SparkPlan): Seq[(String, Int)] =
    p.expressions.flatMap(_.collect {
      case e if Heavy(e.getClass.getSimpleName) => e.getClass.getSimpleName -> 1
    }) ++ (p match {
      case _: MapPartitionsExec | _: SerializeFromObjectExec => Seq("ObjectCodec" -> 2)
      case _ => Nil
    })

  /** Split-bound per-row batteries (r16, [[amp]]'s rule for projections
    * and partial aggregates): heavy expressions below the plan's first
    * row-stream exchange. Fixed with the conditional
    * [[graft.pipeline.Spread]] (2.09 → 0.58 s warm on
    * `s1_wal2json_decode` at sf0.1/32). Assessed residue: batteries
    * under ~0.5 s warm at sf0.1, or whose first exchange is the work's
    * own aggregate; A/B anything new with `Bench ab` before spreading. */
  def battery(minWeight: Int)(plan: SparkPlan): Option[String] = {
    val found = plan.collect {
      case p if !p.isInstanceOf[GenerateExec] && batteryOf(p).nonEmpty && splitBound(p) =>
        batteryOf(p)
    }.flatten
    val weight = found.map(_._2).sum
    Option.when(weight >= minWeight)(s"split-bound battery weight=$weight " +
      found.map(_._1).distinct.sorted.mkString("[", ",", "]").take(220))
  }

  private def expensive(e: Expression): Boolean = e match {
    case _: JsonToStructs | _: StructsToJson | _: RegExpExtractAll |
         _: RegExpReplace | _: RegExpExtract | _: Md5 | _: Sha2 |
         _: StringSplit | _: ArraySort | _: SortArray |
         _: Percentile | _: AesEncrypt | _: AesDecrypt |
         _: ArrayTransform | _: ArrayFilter | _: ZipWith => true
    case _ => e.getClass.getName.startsWith("graft.plans.")
  }

  /** Duplicate expensive work: ≥ 4 semantically equal copies in one
    * operator, or one copy in a Filter/Join/Scan plus another node (a
    * cross-node double evaluation no CSE folds). Copies in a Project or
    * Aggregate of codegen-capable expressions fold at runtime under
    * subexpression elimination; a Filter does not. r12 fixes: wal2json
    * re-parsing 27–54×, the bloom md5 10×. Assessed residue:
    * `text_langid` StringSplit ×6, `text_quality` ×4, SubscriptionBattery
    * Filter+Project on `p6_column_projection` / `p_error_rows_*` /
    * `s1_wal_pipeline`, and `s7_send_binary`'s union legs. */
  def dupexpr(plan: SparkPlan): Option[String] = {
    val hits = mutable.Map.empty[(String, String), Int]
    val nodesOf = mutable.Map.empty[Expression, mutable.Set[String]]
    def canon(m: Iterable[Expression], e: Expression) =
      m.find(_.semanticEquals(e)).getOrElse(e)
    plan.collect { case p => p }.zipWithIndex.foreach { case (p, i) =>
      val local = mutable.Map.empty[Expression, Int]
      p.expressions.foreach(_.foreach { e =>
        if (expensive(e)) {
          val k = canon(local.keys, e)
          local(k) = local.getOrElse(k, 0) + 1
        }
      })
      local.foreach { case (e, n) =>
        val key = (p.nodeName, e.getClass.getSimpleName)
        if (n >= 4) hits(key) = math.max(hits.getOrElse(key, 0), n)
        nodesOf.getOrElseUpdate(canon(nodesOf.keys, e), mutable.Set.empty) +=
          s"${p.nodeName}#${i + 1}"
      }
    }
    nodesOf.foreach { case (e, nodes) =>
      if (nodes.size >= 2 && nodes.exists(t =>
          t.startsWith("Filter") || t.contains("Join") || t.startsWith("Scan")))
        hits(("cross:" + nodes.toSeq.sorted.mkString("+"), e.getClass.getSimpleName)) =
          nodes.size
    }
    Option.when(hits.nonEmpty)(hits.toSeq.sortBy(-_._2)
      .map { case ((op, cls), n) => s"$cls x$n in $op" }.mkString("; ").take(300))
  }

  /** More than one from_json per plan. Before the EvalOnce fence the
    * wal2json consumers re-parsed each row 27–54×. Assessed residue
    * (distinct inputs, each parsed once): `s1_wal_mirror` / `s1_wal_scd2`
    * 2, `s1_mirror_diff` 4, `j_asof_pit` 2, `p_join_config_parse` 6. */
  def jsonparse(plan: SparkPlan): Option[String] = {
    val n = plan.flatMap(_.expressions).map(_.collect { case j: JsonToStructs => j }.size).sum
    Option.when(n > 1)(s"$n JsonToStructs")
  }

  // -------------------------------------------------------------- main

  /** Walk the registry in the audit session and print every plan that
    * failed to build; returns the successful results and whether any
    * failed. */
  private def walkAll[A](sfDir: String)(check: (String, DataFrame, SparkPlan) => A)
      : (Seq[(String, A)], Boolean) = {
    val spark = Bench.session("4", aqe = false, logLevel = "ERROR")
    val results = try walk(spark, sfDir)(check) finally spark.stop()
    results.foreach { case (n, r) => r.left.foreach(e => println(s"@@@ $n ERR $e")) }
    (results.collect { case (n, Right(a)) => n -> a }, results.exists(_._2.isLeft))
  }

  private def explainPlans(args: Seq[String]): Unit = {
    val (tag, given) = args match {
      case "--dump" +: t +: rest => (Some(t), rest)
      case rest => (None, rest)
    }
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      logLevel = "ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", SfDir)
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r17"))
    val names = if (given.nonEmpty) given else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(FormattedMode)
        tag match {
          case Some(t) =>
            Files.createDirectories(outDir)
            Files.writeString(outDir.resolve(s"${n}_$t.txt"), txt)
            println(s"[explain] wrote ${n}_$t.txt")
          case None => println(s"\n========== $n ==========\n$txt")
        }
      } catch { case NonFatal(e) => println(s"[explain] $n FAILED: $e") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  private def codegenDrill(name: String): Unit = {
    val spark = Bench.session("4", aqe = false, logLevel = "ERROR")
    val plan = SparkEntry.queries(name)(spark, SfDir).queryExecution.executedPlan
    debug.codegenStringSeq(plan).zipWithIndex.foreach { case ((sub, code, st), i) =>
      println(s"=== subtree $i maxMethod=${st.maxMethodCodeSize} constPool=${st.maxConstPoolSize}")
      if (st.maxMethodCodeSize > JitLimit) {
        println(sub.linesIterator.take(12).mkString("\n"))
        val starts = raw"(private|public|protected)\s+\S+\s+(\w+)\(".r
          .findAllMatchIn(code).map(m => (m.group(2), m.start)).toList
        val sizes = starts.zip(starts.drop(1)).map { case ((m, a), (_, b)) => (m, b - a) }
        println("largest methods (chars): " + sizes.sortBy(-_._2).take(8).mkString(", "))
      }
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit =
    args.headOption match {
      case Some("explain") => explainPlans(args.toSeq.tail)
      case Some("codegen") if args.length == 2 => codegenDrill(args(1))
      case Some("fingerprint-write") =>
        val file = args.lift(2).getOrElse("PLAN_FINGERPRINTS.json")
        val (fps, failed) = walkAll(args.lift(1).getOrElse(SfDir))((_, _, p) =>
          render(fingerprint(p)))
        if (failed) sys.exit(1)
        writeFingerprints(file, fps.toMap)
        println(s"[fp] wrote ${fps.size} fingerprints to $file")
      case Some(cmd @ ("prune" | "battery" | "amp" | "dupexpr" | "jsonparse")) =>
        val (found, failed) = cmd match {
          case "prune" => walkAll(args.lift(1).getOrElse(SfDir))((_, df, p) => prune(df, p))
          case "battery" =>
            val minWeight = args.lift(1).fold(4)(_.toInt)
            walkAll(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", SfDir))((_, _, p) =>
              battery(minWeight)(p))
          case "amp" => walkAll(SfDir)((_, _, p) => amp(p))
          case "dupexpr" => walkAll(SfDir)((_, _, p) => dupexpr(p))
          case _ => walkAll(SfDir)((_, _, p) => jsonparse(p))
        }
        found.foreach { case (n, hit) => hit.foreach(h => println(s"@@@ $n: $h")) }
        if (failed) sys.exit(1)
      case _ =>
        System.err.println("usage: Audit fingerprint-write [sfDir] [file] | prune [sfDir] | " +
          "battery [minWeight] | amp | dupexpr | jsonparse | " +
          "explain [--dump <tag>] [name...] | codegen <query>")
        sys.exit(2)
    }
}

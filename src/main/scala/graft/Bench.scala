package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

object Bench {

  /** The suite-health sentinel: one fixed query re-timed through the
    * suite. Its drift series is the artifact's own adjudicator for
    * "this query regressed" vs "this session degraded" — round 10
    * recorded warm_min 3.08 s for a query whose fresh-JVM warm cost is
    * 0.95 s with nothing in the JSON flagging the session, and the
    * false regression cost a verdict dispute. Chosen query: shuffle +
    * join + agg in ~0.8 s — small enough to re-run every 20 queries,
    * big enough to feel JIT/code-cache/allocator damage. */
  val ControlQuery = "text_source_overlap"
  /** Re-time the control every this many measured runs. */
  val ControlEvery = 20
  /** A control reading more than this × the session-median control
    * reading marks the segment's numbers suspect. */
  val DriftSuspect = 1.5

  /** Execute a query to its FULL result set (noop sink — rows are
    * produced and discarded, never collected). Through r12 the harness
    * used `count()`, which lets Catalyst prune every expression the
    * count does not need: the `Audit prune` scan found 133/191 queries
    * lost work under count — for projection-final queries nearly ALL
    * of it (measured warm at sf0.1/32: `s1_wal2json_decode` 0.19 s
    * counted vs 2.03 s produced, `j_asof_pit` 0.39→3.85,
    * `s1_debezium_decode` 0.17→1.42, `f_crypto_roundtrip` 0.22→1.34 —
    * the AES work was entirely pruned). The DuckDB baseline
    * materializes full results, so counted readings also flattered the
    * baseline comparison. Numbers from r13 on are therefore
    * full-result semantics; cross-round comparisons against r12-and-
    * earlier artifacts must expect upward steps on the affected
    * queries (the A/B table is in the round-12 section of
    * `git show 1023dbf:COVERAGE.md`). */
  private def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The timing core: seconds to build `df` and force it to its full
    * result, then drop whatever the query cached (cleanup is charged to
    * the query that cached, and caches never accumulate). A registry
    * query is prepared ([[SparkEntry.queries]]): the suite's one-shot
    * pass times each query's first build in the session, and the warm
    * passes and `ab`'s reps time prepared executions (the plan re-wrapped,
    * then optimized, planned and run), except for the builds the registry
    * never prepares. */
  def timeOnce(spark: SparkSession, df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try { force(df); (System.nanoTime() - t0) / 1e9 }
    finally spark.catalog.clearCache()
  }

  final case class Summary(min: Double, median: Double, all: Seq[Double])

  /** min and true median (the mean of the two middle readings when the
    * count is even) over `xs`, kept in measurement order. */
  def summarize(xs: Seq[Double]): Summary = {
    val s = xs.sorted
    val m = s.length / 2
    Summary(s.head, if (s.length % 2 == 0) (s(m - 1) + s(m)) / 2 else s(m), xs)
  }

  /** Arm order of round `rep`: as given on even rounds, reversed on odd
    * ones, so no arm always runs first (or right after another's
    * cleanup). */
  private def roundOrder[A](arms: Seq[A], rep: Int): Seq[A] =
    if (rep % 2 == 0) arms else arms.reverse

  /** Interleaved A/B in one JVM: each arm (a timing thunk) runs once
    * untimed to warm codegen/JIT, then `reps` rounds in [[roundOrder]].
    * Compare mins: separate invocations are not comparable below
    * ~0.5 s effect size. */
  def interleave(arms: Seq[(String, () => Double)], reps: Int): Seq[(String, Summary)] = {
    arms.foreach(_._2())
    val readings = (0 until reps).flatMap(rep =>
      roundOrder(arms, rep).map { case (name, t) => name -> t() })
    arms.map { case (name, _) =>
      name -> summarize(readings.collect { case (`name`, x) => x }) }
  }

  /** The session every harness main uses: `cpus` local cores and as
    * many shuffle partitions, UTC, no UI, and its streams' checkpoints
    * written by [[graft.cdc.LocalCheckpointFiles]]. */
  def session(cpus: String, aqe: Boolean = true,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.cdc.LocalCheckpointFiles.install(spark)
    spark
  }

  /** Warm the JVM/codegen/parquet-footer paths so the first measured
    * query isn't charged the session cold start (~5-8 s). */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("events", "documents", "embeddings", "lineitem")
      .foreach(t => graft.cdc.ChangeFeed.table(spark, sfDir, t).count())
  }

  /** 3-decimal Locale.ROOT (r17 closing-line fix): raw Double.toString
    * renders ~10-17 chars per reading and the closing line must stay as
    * small as full fidelity allows — 1 ms resolution is already below
    * the suite's noise band (±0.3 s). The default-locale f"" interpolator
    * would render 1.5 as "1,5" on a comma-decimal JVM. */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** `Bench` runs the suite; `Bench ab <reps> <query>...` interleaves
    * the named registry queries (one arm each) and prints one
    * `ABJSON {...}` line. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    args.toSeq match {
      case Seq() => suite(sfDir, cpus)
      case "ab" +: reps +: names if names.nonEmpty => ab(sfDir, cpus, reps.toInt, names)
      case _ =>
        System.err.println("usage: Bench | Bench ab <reps> <query>...")
        sys.exit(2)
    }
  }

  private def ab(sfDir: String, cpus: String, reps: Int, names: Seq[String]): Unit = {
    val spark = session(cpus)
    warmUp(spark, sfDir)
    val arms = names.map(n => n -> (() => timeOnce(spark, SparkEntry.queries(n)(spark, sfDir))))
    val body = interleave(arms, reps).map { case (n, s) =>
      s""""$n":{"min":${f3(s.min)},"median":${f3(s.median)},""" +
        s""""all":${s.all.map(f3).mkString("[", ",", "]")}}"""
    }.mkString(",")
    spark.stop()
    println(s"""ABJSON {"reps":$reps,"cpus":"$cpus","sf":"$sfDir",$body}""")
  }

  private def suite(sfDir: String, cpus: String): Unit = {
    // the fresh-JVM knee runs FIRST, before anything else heats the
    // HOST: r11 measured that the degradation that under-reads the knee
    // outlives the JVM (a fork launched right after the ~25-minute batch
    // marathon read 160k while the same binary on the same host minutes
    // later read 320k and a quiet host 640k) — host-level state (load /
    // CPU-quota / cache), not session state, so a fresh process is not
    // enough; fresh host-minutes are. At Bench start the host is the
    // quietest this process will ever see it.
    val kneeFresh = kneeFreshForked(cpus)
    val spark = session(cpus)
    warmUp(spark, sfDir)
    // a crashed run is recorded as -1 (and the name lands in `failed`),
    // never as its elapsed-time-to-failure: a query that starts dying
    // quickly must not masquerade as a fast warm run in warm_min
    val failed = scala.collection.mutable.TreeSet.empty[String]
    val controlFn = SparkEntry.queries(ControlQuery)
    // (nth measured run when taken, seconds) — segment boundaries for the
    // drift series
    val controlTicks = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    // (nth run, first reading) for ticks whose first reading was out of
    // band and got re-measured — the first sweep stays on record
    val controlRetries = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    // best in-band control reading so far: the retry trigger's reference
    var bestControl = -1.0
    var nTimed = 0
    def controlOnce(): Double = {
      // a failed control reading records -1 and marks its segments
      // suspect (the session is in an unknown state, which is the thing
      // the sentinel exists to flag) — it must not crash the suite
      try timeOnce(spark, controlFn(spark, sfDir))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] control query failed: $e"); -1.0 }
    }
    // the KneeFresh retry discipline (DriftStamp.adjudicate): an
    // out-of-band first reading gets ONE re-measure after a cool-down
    // before it is recorded — a transient blip (GC pause, stray host
    // process) must not stamp its neighboring segments suspect
    def controlTick(): Double = {
      val first = controlOnce()
      val (recorded, retried) = DriftStamp.adjudicate(first, {
        System.gc(); Thread.sleep(1000L)
        controlOnce()
      }, bestControl, DriftSuspect)
      if (retried) controlRetries += ((nTimed, first))
      if (recorded > 0 && (bestControl < 0 || recorded < bestControl))
        bestControl = recorded
      recorded
    }
    def time(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val dt =
        try timeOnce(spark, fn(spark, sfDir))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e"); failed += name; -1.0 }
      nTimed += 1
      if (nTimed % ControlEvery == 0) controlTicks += ((nTimed, controlTick()))
      dt
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    // control baseline: two draws before anything else, keep the min
    // (the first pays the query's own codegen, and either draw can catch
    // a stray GC pause)
    val c0a = controlOnce()
    val c0b = controlOnce()
    controlTicks += ((0,
      if (c0a < 0 || c0b < 0) math.max(c0a, c0b) else math.min(c0a, c0b)))
    // pass 1: one-shot numbers (what every prior round reported — first
    // execution of each plan in this session, JIT/codegen state
    // included). EXCEPTION: the control query itself has already run
    // twice as the baseline above, so its pass-1 number is pre-warmed,
    // not first-execution — the artifact flags it as `prewarmed` so
    // cross-round comparisons of that one query read warm-vs-warm.
    val oneshot = sorted.map { case (name, fn) =>
      (name, nTimed, time(name, fn)) }
    // pass 2: one warm re-run of everything; pass 3: a second warm run
    // for queries still at >= 1 s (where one-shot noise has repeatedly
    // produced multi-second false regressions). warm_min is the per-query
    // minimum over the SUCCESSFUL warm runs — the adjudication number: a
    // one-shot outlier with a warm_min in its usual band is JIT/GC noise,
    // a warm_min that moved is a real regression; any failed run anywhere
    // forces warm_min to -1 so failure is visible, not averaged away.
    val warm1 = sorted.map { case (name, fn) =>
      (name, nTimed, time(name, fn)) }
    val oneshotMap = oneshot.map(r => r._1 -> r._3).toMap
    val warm1Map = warm1.map(r => r._1 -> r._3).toMap
    val warm2 = sorted
      .filter { case (name, _) =>
        math.min(oneshotMap(name), warm1Map(name)) >= 1.0 }
      .map { case (name, fn) => (name, nTimed, time(name, fn)) }
    controlTicks += ((nTimed, controlTick())) // closing boundary
    val warm2Map = warm2.map(r => r._1 -> r._3).toMap
    val warmMin = sorted.map { case (name, _) =>
      val runs = warm1Map(name) +: warm2Map.get(name).toSeq
      name -> (if (failed(name)) -1.0 else runs.min)
    }
    // drift adjudication (DriftStamp): baseline = median tick; a run is
    // suspect when BOTH control boundaries of its segment drifted past
    // DriftSuspect, or when one boundary is a spike its retry confirmed —
    // the artifact self-adjudicates a text_rrf-style false regression
    // without letting one transient blip condemn 40 queries
    val ticks = controlTicks.toIndexedSeq
    val baseline = DriftStamp.baselineOf(ticks)
    val drift = DriftStamp.driftSeries(ticks)
    val suspect = DriftStamp.suspects(ticks, oneshot ++ warm1 ++ warm2,
      DriftSuspect, retried = controlRetries.map(_._1).toSet)
    def jmap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => s"\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val total = oneshot.map(_._3).filter(_ >= 0).sum
    // a failed reading's infinite drift must read DEGRADED downstream
    // (any > threshold check), never -1 — JSON has no Infinity, so a
    // large finite sentinel carries the signal.
    def driftJson(d: Double): String = if (d.isInfinity) "9999.999" else f3(d)
    val controlJson =
      s""""control":{"name":"$ControlQuery","baseline_sec":${f3(baseline)},""" +
        s""""series":${ticks.map(t => s"[${t._1},${f3(t._2)}]").mkString("[", ",", "]")},""" +
        s""""drift":${drift.map(driftJson).mkString("[", ",", "]")},""" +
        s""""max_drift":${driftJson(drift.max)},""" +
        s""""retried":${controlRetries
          .map(t => s"[${t._1},${f3(t._2)}]").mkString("[", ",", "]")}},""" +
        s""""prewarmed":["$ControlQuery"],""" +
        s""""suspect":${suspect.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    // streaming SLO: commit→broadcast latency at the reference's implied
    // design point (1,000 changes/s, 100 ms poll) — the one number the
    // batch queries above can't measure — plus a rate sweep upward to
    // find the knee (max sustained rate and how the first failure fails)
    val stream = try {
      // host-health stamp for the IN-SUITE stream block (round-13,
      // closing the r12 round-over-round ambiguity): the knee fork
      // self-adjudicates host state, but the steady block and in-suite
      // sweep below run AFTER the batch marathon and regressed
      // cosmetically in r12 on host exhaust with nothing in the
      // artifact saying so. Same rawFloor control as KneeFresh, before
      // and after the block; the band only applies at the calibrated
      // 32-cpu width (same rule as the knee's control).
      val bandApplies = KneeFresh.bandAppliesFor(cpus)
      val ctlStart = graft.cdc.StreamLatency.rawFloor(spark,
        KneeFresh.ControlRate, KneeFresh.ControlSeconds)
      // throwaway warm pass first: after ~10 min of batch sweeps the
      // streaming path's codegen/JIT state is cold (code-cache churn),
      // and r8 recorded a 1000/s steady block failing its own p99 SLO
      // while the sweep seconds later sustained 160× the rate — the
      // recorded number must reflect steady state, not session history
      graft.cdc.StreamLatency.run(spark, ratePerSec = 1000,
        seconds = 4, triggerMs = 100L, warmupSec = 2)
      val r = graft.cdc.StreamLatency.run(spark, ratePerSec = 1000,
        seconds = 8, triggerMs = 100L, warmupSec = 3)
      val baseOk = r.nDelivered == r.nSent && r.steady.p99 <= 1000L
      // the OUTBOUND transport seam point: 320k/s through the ReplayLog
      // sink (frames produced to a partitioned log instead of the bus,
      // latency clocked after the produce) — proves the durable hand-off
      // doesn't break the sustained-rate story at knee-order rates. The
      // via-log decomposition (r11): the seam sustains 320k only
      // with partitions ≈ producer threads (8 partitions fail on the
      // per-partition produce lock, p99 1073; 32 partitions p99 640);
      // the per-record produce cost caps the seam between 320k and
      // 640k. Runs BEFORE the knee sweep: a failed tail point leaves
      // millions of queued frames whose collection would poison this
      // window (same reason knee() quiesces the allocator per window);
      // one retry guards the one-unlucky-GC-pause case the sweep's
      // majority vote covers.
      def vlOnce() = {
        System.gc(); Thread.sleep(200L)
        val topic = "bench-out-" + System.nanoTime()
        val rep = graft.cdc.StreamLatency.run(spark, ratePerSec = 320000,
          seconds = 6, triggerMs = 100L, warmupSec = 2,
          viaLog = Some((topic, cpus.toInt)))
        graft.sources.ReplayLog.delete(topic)
        rep
      }
      val vl0 = vlOnce()
      val vl =
        if (vl0.nDelivered == vl0.nSent && vl0.steady.p99 <= 1000L) vl0
        else vlOnce()
      val vlOk = vl.nDelivered == vl.nSent && vl.steady.p99 <= 1000L
      // in-suite sweep: the latency curve under session-historical JVM
      // state, kept in the artifact as knee_in_suite so the delta to
      // knee_fresh documents session degradation per round
      val kn = graft.cdc.StreamLatency.knee(spark,
        rates = Seq(2000, 10000, 40000, 160000, 320000, 640000, 1280000,
          2560000),
        seconds = 6,
        triggerMs = 100L, warmupSec = 2, p99SloMs = 1000L)
      val kneeInSuite =
        math.max(if (baseOk) r.ratePerSec else 0, kn.maxSustainedRate)
      // the HEADLINE knee is the fork taken at Bench START (see main):
      // twice (r9, r10) the in-suite number contradicted every clean-JVM
      // measurement because the stream block inherits ~180 batch queries
      // of JIT/code-cache/allocator history — and r11 showed the HOST
      // inherits marathon damage too, so the fork must predate the suite
      val fresh = kneeFresh
      val maxSustained = fresh match {
        case Some(json) =>
          val m = """"max_sustained_rate":(\d+)""".r
            .findFirstMatchIn(json).map(_.group(1).toInt)
          m.getOrElse(kneeInSuite)
        case None => kneeInSuite
      }
      val sweep = kn.points.map(graft.cdc.StreamLatency.sweepPointJson)
        .mkString("[", ",", "]")
      // end-of-block control: start/end pair records the trend, the
      // verdict folds in min(start, end) — same semantics as the knee's
      val ctlEnd = graft.cdc.StreamLatency.rawFloor(spark,
        KneeFresh.ControlRate, KneeFresh.ControlSeconds)
      def health(c: graft.cdc.StreamLatency.RawFloor): Double =
        if (bandApplies)
          c.rowsPerSec.toDouble / KneeFresh.QuietBandRowsPerSec
        else -1.0
      val hostJson =
        s""""host":{"raw_rows_per_sec":${ctlStart.rowsPerSec},""" +
          s""""raw_rows_per_sec_end":${ctlEnd.rowsPerSec},""" +
          s""""health":${f3(health(ctlStart))},""" +
          s""""health_end":${f3(health(ctlEnd))},""" +
          s""""suspect":${KneeFresh.suspectVerdict(bandApplies,
            health(ctlStart), health(ctlEnd))}},"""
      // r17 driver-contract fix (r16 VERDICT item 1): the full sweep /
      // knee / host detail below ran tens of KB and, interpolated into
      // the closing stdout line, pushed the line far past the driver's
      // captured tail — BENCH_r10..r16 all have parsed:null. The FULL
      // block (identical content to the ≤r16 line's "stream" object)
      // now goes to a side file; the closing line keeps a compact
      // headline summary so the one-line JSON stays parseable.
      val streamFull =
        s"""{$hostJson"rate_per_sec":${r.ratePerSec},"seconds":${r.seconds},""" +
          s""""n_sent":${r.nSent},"n_delivered":${r.nDelivered},""" +
          s""""p50_ms":${r.steady.p50},"p95_ms":${r.steady.p95},""" +
          s""""p99_ms":${r.steady.p99},"max_ms":${r.steady.max},""" +
          s""""overall_p95_ms":${r.overall.p95},""" +
          s""""batch_duration_p95_ms":${r.batchDurationP95Ms},""" +
          s""""sweep":$sweep,"knee_in_suite":$kneeInSuite,""" +
          s""""knee_fresh":${fresh.getOrElse("null")},""" +
          s""""max_sustained_rate":$maxSustained,""" +
          s""""via_log_sink":{"rate_per_sec":${vl.ratePerSec},""" +
          s""""n_sent":${vl.nSent},"n_delivered":${vl.nDelivered},""" +
          s""""p50_ms":${vl.steady.p50},"p95_ms":${vl.steady.p95},""" +
          s""""p99_ms":${vl.steady.p99},"sustained":$vlOk},""" +
          s""""failure_mode":"${kn.failureMode}"}"""
      val sideFile = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT",
        "plans/bench_stream_latest.json")
      // a failed write is not pointed at: detail_file is null then
      val detailFile = try {
        val p = java.nio.file.Paths.get(sideFile)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p,
          streamFull.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        "\"" + sideFile + "\""
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] stream side-file write failed: $e"); "null" }
      s""","stream":{"p50_ms":${r.steady.p50},"p95_ms":${r.steady.p95},""" +
        s""""p99_ms":${r.steady.p99},"sustained":$baseOk,""" +
        s""""via_log_sustained":$vlOk,""" +
        s""""max_sustained_rate":$maxSustained,""" +
        s""""knee_in_suite":$kneeInSuite,""" +
        s""""failure_mode":"${kn.failureMode}","detail_file":$detailFile}"""
    } catch {
      // NonFatal only: an OOM/linkage error must crash loudly, and a
      // failed measurement must not masquerade as "not requested"
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] stream SLO measurement failed: $e")
        ""
    }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // stop the session BEFORE the closing println: executor/netty
    // shutdown on some JVMs logs to stdout, and the closing JSON must be
    // the LAST stdout line (with build.sbt's showSuccess := false
    // suppressing sbt's trailing success banner) — the driver parses the
    // final line of the run's stdout as the bench artifact.
    spark.stop()
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","cpus":$cpus,"queries":${jmap(oneshot.map(r => r._1 -> r._3))},"warm_min":${jmap(warmMin)},"failed":$failedJson,$controlJson,"sf":"$sfDir"$stream}""")
  }

  /** A child JVM running `main` on this JVM's classpath and flags, with
    * `env` added to its environment. `heap` replaces this JVM's
    * `-Xmx`/`-Xms` with one explicit cap; None keeps them. stdout is a
    * pipe the caller reads from `proc`, or discarded with
    * `pipeStdout = false`. stderr goes to the file `stderr`, which every
    * failure message names. */
  private[graft] final class Child(main: String, args: Seq[String],
      env: Map[String, String] = Map.empty, heap: Option[String] = None,
      pipeStdout: Boolean = true) {
    val stderr: java.nio.file.Path = java.nio.file.Files.createTempFile(
      main.split('.').last + "-", ".stderr")
    val command: Seq[String] = {
      val own = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val flags = heap.fold(own)(h =>
        own.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms")) :+ s"-Xmx$h")
      Seq(java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
        flags ++ Seq("-cp", System.getProperty("java.class.path"), main) ++ args
    }
    val proc: Process = {
      val pb = new ProcessBuilder(command.asJava)
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.redirectError(stderr.toFile)
      if (!pipeStdout) pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.start()
    }

    /** SIGKILL, then wait for the exit: the child never outlives this call. */
    def kill(): Unit = { proc.destroyForcibly(); proc.waitFor() }

    /** Waits up to `timeoutMs` and returns the exit code; a child still
      * running at the deadline is killed and reaped, and reads None. */
    def await(timeoutMs: Long): Option[Int] =
      if (proc.waitFor(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
        Some(proc.exitValue())
      else { kill(); None }

    def describe(problem: String): String = s"$main $problem; its stderr is in $stderr"

    /** Drop the stderr file once the child's work checked out. */
    def discardStderr(): Unit = java.nio.file.Files.deleteIfExists(stderr)
  }

  /** Fork [[KneeFresh]] in a new JVM (same classpath and JVM flags as
    * this fork — sbt's `run / fork` gives us real values for both) and
    * return its KNEEJSON payload, or None if the fork failed — a missing
    * fresh knee must degrade to the in-suite number, not kill the bench. */
  private def kneeFreshForked(cpus: String,
      timeoutSec: Long = 1200L): Option[String] = {
    try {
      // the fork must measure under the SAME parallelism as the rest of
      // the artifact: pass the parent's RESOLVED cpu count (KneeFresh's
      // own default differs, and an unset env var would silently make
      // the headline knee incomparable to every other number)
      val child = new Child("graft.KneeFresh", Nil, Map("SPARK_GRAFT_CPUS" -> cpus))
      // drain stdout on a daemon thread: readAllBytes only returns when
      // the stream closes, so reading inline would defeat the timeout
      val sb = new java.lang.StringBuilder
      val reader = new Thread(() => {
        try sb.append(new String(child.proc.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: Throwable => () }
      })
      reader.setDaemon(true)
      reader.start()
      val exit = child.await(timeoutSec * 1000L)
      reader.join(5000L)
      val json = sb.toString.linesIterator.find(_.startsWith("KNEEJSON "))
        .map(_.stripPrefix("KNEEJSON "))
      if (json.isEmpty)
        System.err.println("[bench] " + child.describe(exit.fold(
          s"timed out after $timeoutSec s")(c => s"exited $c without a KNEEJSON line")))
      else child.discardStderr()
      json
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] fresh-JVM knee fork failed: $e")
        None
    }
  }
}

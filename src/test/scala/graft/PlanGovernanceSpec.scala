package graft

import java.nio.file.{Files, Paths}

/** Plan governance in tier-1: ONE registry walk ([[Audit.walk]] at
  * sf0.001, AQE off, 4 shuffle partitions) asserting the three gates —
  * every fingerprint equals the committed PLAN_FINGERPRINTS.json, no
  * unbounded global window/sort or shrinking frame outside the
  * whitelists, and every codegen subtree compiles and fits the JIT
  * method ceiling. A plan that fails to build fails the spec. */
class PlanGovernanceSpec extends SparkSpec {

  private val Pinned = Seq("spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "4")

  private def settings = Pinned.map { case (k, _) => k -> spark.conf.getOption(k) }

  /** (the pinned keys' settings before the walk, the walk's reports) */
  private lazy val (before, reports) = {
    assert(Files.isDirectory(Paths.get(Audit.SfDir)), s"${Audit.SfDir} is missing")
    val prev = settings
    Pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try (prev, Audit.walk(spark)((name, _, plan) => Audit.gates(name, plan)))
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def built: Seq[(String, Audit.GateReport)] =
    reports.collect { case (n, Right(r)) => n -> r }

  private def offenders(f: Audit.GateReport => Seq[String]): Seq[String] =
    built.collect { case (n, r) if f(r).nonEmpty => s"$n: ${f(r).mkString(", ")}" }

  test("every registered query's plan builds") {
    val failed = reports.collect { case (n, Left(e)) => s"$n: $e" }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("fingerprints equal the committed PLAN_FINGERPRINTS.json") {
    val baseline = Audit.readFingerprints("PLAN_FINGERPRINTS.json")
    assert(baseline.nonEmpty)
    val diff = Audit.compareFingerprints(baseline,
      built.map { case (n, r) => n -> r.fingerprint }.toMap)
    assert(diff.isEmpty, (diff.lines :+ "if intentional, regenerate with " +
      "`runMain graft.Audit fingerprint-write` and commit the reviewed diff").mkString("\n"))
  }

  test("no unbounded global window/sort or shrinking frame outside the whitelists") {
    val bad = offenders(_.shapes)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("every codegen subtree compiles and fits the JIT method ceiling") {
    val bad = offenders(_.codegen)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the pinned settings are restored after the walk") {
    assert(settings == before)
  }

  test("fingerprint comparison reports drift, new and removed entries") {
    val baseline = Map("a" -> "shuffle=1", "b" -> "window=1", "gone" -> "")
    val now = Map("a" -> "shuffle=2", "b" -> "window=1", "fresh" -> "broadcast=1")
    val d = Audit.compareFingerprints(baseline, now)
    assert(d.drifted == Map("a" -> (("shuffle=1", "shuffle=2"))))
    assert(d.added == Set("fresh") && d.removed == Set("gone") && !d.isEmpty)
    assert(d.lines.size == 3)
    assert(Audit.compareFingerprints(baseline, baseline).isEmpty)
  }

  test("fingerprint files round-trip") {
    val fps = Map("q1" -> "broadcast=2,shuffle=1", "q2" -> "")
    val f = Files.createTempFile("fingerprints", ".json")
    try {
      Audit.writeFingerprints(f.toString, fps)
      assert(Audit.readFingerprints(f.toString) == fps)
    } finally Files.delete(f)
  }
}

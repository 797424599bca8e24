package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Turns spans and listener sums into the traced run's per-layer numbers. */
object Report {

  /** Self time per span name and per layer (the name's first segment).
    * Spans of one name under one parent count as the union of their
    * intervals (jobs of one action can overlap); from that union goes the
    * union of their children's intervals. `wallS` is the measured window;
    * what no top-level span covers is the unaccounted remainder. */
  def selfTimes(spans: Seq[Span], wallS: Double): Map[String, Any] = {
    val kids = spans.groupBy(_.parent)
    val byName = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    spans.groupBy(s => (s.parent, s.name)).foreach { case ((_, name), group) =>
      val own = group.map(s => (s.startNs, s.endNs))
      val cs = group.flatMap(s => kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        .filter { case (a, b) => b > a }
      byName(name) += (covered(own) - covered(cs)) / 1e6
    }
    val byLayer = byName.groupMapReduce(_._1.takeWhile(_ != '.'))(_._2)(_ + _)
    val wallMs = wallS * 1000
    val coveredMs = covered(spans.filter(_.parent == 0).map(s => (s.startNs, s.endNs))) / 1e6
    Map("wall_ms" -> wallMs,
      "self_ms_by_layer" -> byLayer.toSeq.sortBy(-_._2).toMap,
      "self_ms_by_span" -> byName.toSeq.sortBy(-_._2).toMap,
      "unaccounted_ms" -> math.max(0.0, wallMs - coveredMs),
      "unaccounted_pct" -> 100.0 * math.max(0.0, wallMs - coveredMs) / wallMs)
  }

  /** Length of the union of intervals, ns. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var tot = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { tot += b - a; end = b }
      else if (b > end) { tot += b - end; end = b }
    }
    tot
  }

  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= Json.write(Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)) += '\n'
    }
    Files.write(Paths.get(path), sb.toString.getBytes("UTF-8"))
  }

  /** Listener sums shared by every workload. `per` divides the additive
    * counters (executions for batch workloads, batches for CDC). */
  def spark(s: ListenerStats, cg0: (Long, Double), cg1: (Long, Double),
      per: Double): Map[String, Double] = {
    val compiles = (cg1._1 - cg0._1).toDouble
    Map(
      "spark.jobs" -> s.jobs / per, "spark.stages" -> s.stages / per,
      "spark.tasks" -> s.tasks / per,
      "spark.analysis_ms" -> s.analysisMs / per,
      "spark.optimization_ms" -> s.optimizationMs / per,
      "spark.planning_ms" -> s.planningMs / per,
      "spark.exec_ms" -> s.jobMs / per,
      "spark.executor_run_ms" -> s.execRunMs / per,
      "spark.executor_cpu_ms" -> s.execCpuMs / per,
      "spark.scheduler_delay_ms" -> s.schedulerDelayMs / per,
      "spark.shuffle_read_bytes" -> s.shuffleRead / per,
      "spark.shuffle_write_bytes" -> s.shuffleWrite / per,
      "spark.spill_bytes" -> s.spill / per,
      "spark.peak_exec_mem_bytes" -> s.peakExecMem.toDouble,
      "spark.eager_jobs" -> s.eagerJobs / per,
      "spark.eager_job_ms" -> s.eagerJobMs / per,
      "spark.codegen_compiles" -> compiles / per,
      // the compile histogram keeps a sample, not a sum: mean × count
      "spark.codegen_ms" -> compiles * cg1._2 / per)
  }

  /** Traced batch workload: listener sums per execution, span sums. */
  def batch(s: ListenerStats, spans: Seq[Span], wallS: Double,
      cg0: (Long, Double), cg1: (Long, Double), nExec: Int): Map[String, Any] = {
    val per = math.max(1, nExec).toDouble
    def ms(p: Span => Boolean) =
      spans.filter(p).map(x => (x.endNs - x.startNs) / 1e6).sum / per
    Map("metrics" -> (spark(s, cg0, cg1, per) ++ Map(
      "spark.build_ms" -> ms(_.name.endsWith(".build")),
      "spark.run_ms" -> ms(_.name == "spark.run"))),
      "self_times" -> selfTimes(spans, wallS))
  }
}

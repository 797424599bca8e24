package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run inside one JVM. `run.py` builds this, generates the
  * batch inputs, starts it, checks the outputs and prints the result.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <dir> --work <dir> --out <file.json>
  * }}}
  * The JSON written to `--out` holds raw measurements; statistics are
  * taken in Python (perfbench/stats.py). */
object Main {

  final class Args(a: Array[String]) {
    private val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    val workload = apply("workload")
    val seed = apply("seed").toLong
    val seconds = apply("seconds").toInt
    val trace = apply("trace") == "1"
    val data = apply("data")
    val work = apply("work")
    val out = apply("out")
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val jvmStart = System.nanoTime()
  private val phases = mutable.LinkedHashMap[String, Double]()
  /** Record when a phase of the run ended (seconds since start). */
  def mark(phase: String): Unit = phases(phase) = (System.nanoTime() - jvmStart) / 1e9

  /** End of set-up, as wall-clock seconds: `run.py` takes set-up time
    * from the JVM's launch to here. */
  def setupDone(out: mutable.Map[String, Any]): Unit = {
    val now = java.time.Instant.now()
    out("setup_end_epoch_s") = now.getEpochSecond + now.getNano / 1e9
    mark("setup")
  }

  /** Heap in use after a full collection, in MB: the least of five
    * collections, as Spark's cleaner thread frees blocks of collected
    * datasets only after the collection that found them. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val spark = session(a.work)
    mark("session")
    val out = mutable.LinkedHashMap[String, Any]("workload" -> a.workload,
      "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cpus" -> Runtime.getRuntime.availableProcessors())
    try {
      a.workload match {
        case "cdc" => Cdc.run(spark, a, out)
        case "registry_queries" => batch(spark, a, out, Batch.queries)
        case w => sys.error(s"unknown workload $w")
      }
    } finally {
      mark("end")
      out("phases_s") = phases
      Files.write(Paths.get(a.out), Json.write(out).getBytes("UTF-8"))
      spark.stop()
    }
  }

  /** Passes after the cold one before the batch workload is timed: the
    * JIT is still compiling the hot paths through the first. */
  val WarmPasses = 1

  /** The batch workload: set-up (inputs are already on disk: read them,
    * run the cold pass, writing each result as parquet for the oracle
    * check, then the warm passes), the measured closed loop, heap; traced,
    * a second window. */
  private def batch(spark: SparkSession, a: Args, out: mutable.Map[String, Any],
      qs: Seq[(String, (String, String))]): Unit = {
    val off = new Tracer(false, spark)
    Seq("events", "documents", "embeddings").foreach { t =>
      if (Files.exists(Paths.get(s"${a.data}/$t.parquet")))
        graft.cdc.ChangeFeed.table(spark, a.data, t).count()
    }
    val ex = Batch.pass(spark, off, qs, a.data, Some(s"${a.work}/results")) ++
      (1 to WarmPasses).flatMap(_ => Batch.pass(spark, off, qs, a.data))
    out("setup_failed") = ex.filterNot(_.ok).map(_.name).distinct
    setupDone(out)
    def window(tr: Tracer, pre: String, seed: Long): (Seq[Batch.Exec], Double) = {
      val t0 = System.nanoTime()
      val (execs, passes) = Batch.measure(spark, tr, qs, a.data, a.seconds, seed)
      val wallS = (System.nanoTime() - t0) / 1e9
      out(pre + "wall_s") = wallS
      out(pre + "pass_s") = passes
      out(pre + "exec") = execs.map(e => Map("name" -> e.name, "layer" -> e.layer, "group" -> e.group,
        "ms" -> e.ms, "ok" -> e.ok))
      (execs, wallS)
    }
    window(off, "", a.seed)
    out("retained_heap_mb") = retainedHeapMb()
    mark("window")
    if (a.trace) {
      val tr = new Tracer(true, spark)
      val cg0 = Codegen.snapshot()
      val (execs, wallS) = window(tr, "traced_", a.seed + 1)
      val cg1 = Codegen.snapshot()
      val spans = tr.finish()
      out("trace") = Report.batch(tr.stats, spans, wallS, cg0, cg1, execs.size)
      Report.writeSpans(spans, s"${a.work}/spans.jsonl")
    }
    out("oracle_sql") = qs.flatMap { case (n, _) => graft.SparkEntry.oracleSql.get(n).map(n -> _) }.toMap
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Array[_] => write(xs.toSeq)
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case x => write(x.toString)
  }
}

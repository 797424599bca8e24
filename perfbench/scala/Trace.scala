package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `op` groups the spans of one operation; `parent`
  * is the enclosing span's id (0 = none). Times are JVM nanoTime. */
final case class Span(id: Int, op: Long, parent: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for calls made from the benchmark's own code.
  * Off, `span` is a plain call: nothing is recorded and no Spark listener
  * is registered, so untraced runs measure the program alone. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var opId = 0L
  private val stack = new java.util.ArrayDeque[Int]()
  val stats = new ListenerStats
  private val nanoMinusMs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val listeners: Option[(SparkListener, QueryExecutionListener, StreamingQueryListener)] =
    if (!on) None
    else {
      val l = (new JobListener(stats, nanoMinusMs, this), new PlanListener(stats),
        new ProgressListener(stats))
      spark.sparkContext.addSparkListener(l._1)
      spark.listenerManager.register(l._2)
      spark.streams.addListener(l._3)
      Some(l)
    }

  /** A new operation: spans started until the next `op` share its id. */
  def op[T](name: String)(f: => T): T = {
    if (on) synchronized { opId += 1 }
    span(name)(f)
  }

  /** Time `f` as span `name` ("<layer>.<what>"); jobs Spark submits from
    * this thread meanwhile become its children. */
  def span[T](name: String)(f: => T): T = {
    if (!on) return f
    val sc = spark.sparkContext
    val (id, parent, op) = synchronized {
      nextId += 1
      val p = if (stack.isEmpty) 0 else stack.peek()
      stack.push(nextId)
      (nextId, p, opId)
    }
    val prevSpan = sc.getLocalProperty("perfbench.span")
    val prevPhase = sc.getLocalProperty("perfbench.phase")
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setLocalProperty("perfbench.op", op.toString)
    if (name.endsWith(".build")) sc.setLocalProperty("perfbench.phase", "build")
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty("perfbench.span", prevSpan)
      sc.setLocalProperty("perfbench.phase", prevPhase)
      synchronized {
        stack.pop()
        spans += Span(id, op, parent, name, t0, t1)
      }
    }
  }

  private[perfbench] def jobSpan(parent: Int, op: Long, startNs: Long, endNs: Long): Unit =
    synchronized {
      nextId += 1
      spans += Span(nextId, op, parent, "spark.job", startNs, endNs)
    }

  /** Wait for the listener bus, detach the listeners, return all spans.
    * Micro-batches become spans from their progress events: the trigger,
    * and inside it query planning then `addBatch` (the foreachBatch call
    * into `CdcStream.processBatch`); jobs the stream thread submitted are
    * re-parented to the batch whose `addBatch` contains their start. */
  def finish(): Seq[Span] = {
    listeners.foreach { case (a, b, c) =>
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(a)
      spark.listenerManager.unregister(b)
      spark.streams.removeListener(c)
    }
    synchronized {
      val adds = stats.streamBatches.toSeq.map { case (t0Ms, trig, plan, add, commit) =>
        val t0 = t0Ms * 1000000L + nanoMinusMs
        val end = t0 + trig * 1000000L
        val addEnd = end - commit * 1000000L
        val addStart = addEnd - add * 1000000L
        opId += 1
        val ids = (nextId + 1, nextId + 2, nextId + 3)
        nextId += 3
        spans += Span(ids._1, opId, 0, "spark.trigger", t0, end)
        spans += Span(ids._2, opId, ids._1, "spark.query_planning",
          addStart - plan * 1000000L, addStart)
        spans += Span(ids._3, opId, ids._1, "cdc.processBatch", addStart, addEnd)
        (ids._3, opId, addStart, addEnd)
      }
      val out = spans.map {
        case j if j.name == "spark.job" && j.parent == 0 =>
          adds.find { case (_, _, a, b) => j.startNs >= a && j.startNs < b }
            .map { case (id, op, _, _) => j.copy(parent = id, op = op) }.getOrElse(j)
        case x => x
      }
      out.toList
    }
  }
}

/** Sums gathered from Spark's own listener events (traced runs only). */
final class ListenerStats {
  var jobs, stages, tasks, eagerJobs = 0L
  var eagerJobMs, jobMs = 0.0
  var execRunMs, execCpuMs, schedulerDelayMs = 0.0
  var shuffleRead, shuffleWrite, spill, peakExecMem = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  val triggerMs, queryPlanningMs, addBatchMs = ArrayBuffer.empty[Double]
  /** (start ms, triggerExecution, queryPlanning, addBatch, commitOffsets). */
  val streamBatches = ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
}

private final class JobListener(s: ListenerStats, nanoMinusMs: Long, tracer: Tracer)
    extends SparkListener {
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Long, Boolean)]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    open.put(e.jobId, (e.time, prop("perfbench.span").map(_.toInt).getOrElse(0),
      prop("perfbench.op").map(_.toLong).getOrElse(0L),
      prop("perfbench.phase").contains("build")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = open.remove(e.jobId)
    if (st != null) {
      val (t0, parent, op, eager) = st
      val ms = (e.time - t0).toDouble
      s.synchronized {
        s.jobs += 1; s.jobMs += ms
        if (eager) { s.eagerJobs += 1; s.eagerJobMs += ms }
      }
      tracer.jobSpan(parent, op, t0 * 1000000L + nanoMinusMs, e.time * 1000000L + nanoMinusMs)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    s.synchronized { s.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m == null || i == null) return
    s.synchronized {
      s.tasks += 1
      s.execRunMs += m.executorRunTime
      s.execCpuMs += m.executorCpuTime / 1e6
      s.schedulerDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      s.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
    }
  }
}

private final class PlanListener(s: ListenerStats) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    s.synchronized {
      s.analysisMs += ms("analysis")
      s.optimizationMs += ms("optimization")
      s.planningMs += ms("planning")
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

private final class ProgressListener(s: ListenerStats) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    def g(k: String) = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (e.progress.numInputRows > 0) s.synchronized {
      s.triggerMs += g("triggerExecution").toDouble
      s.queryPlanningMs += g("queryPlanning").toDouble
      s.addBatchMs += g("addBatch").toDouble
      s.streamBatches += ((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        g("triggerExecution"), g("queryPlanning"), g("addBatch"), g("commitOffsets")))
    }
  }
}

/** Spark's codegen compile counters (a process-wide histogram). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def snapshot(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}

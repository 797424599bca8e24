package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Backlog catch-up under fault injection — the operational failure the
  * reference exercises with WAL bloat under a 1 GB `max_wal_size` and
  * forced reconnects (test/integration/rt_channel/wal_bloat_test.exs:
  * 22-33,78-160): the consumer dies, the log grows to MANY times the
  * per-trigger admission cap, and the restarted consumer must catch up
  * BOUNDEDLY — every micro-batch within the cap (no "drain everything in
  * one giant batch" memory spike), no partition starved behind a skewed
  * neighbor (the 1-row floor), live rows flowing once the backlog drains.
  * The catch-up curve (backlog size vs batches vs wall time) is printed
  * as test info; the curves recorded through round 16 are in the round
  * sections of `git show 1023dbf:COVERAGE.md`. */
class ReplayLogBacklogSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def append(topic: String, partition: Int, n: Int): Unit =
    (0 until n).foreach { i =>
      ReplayLog.append(topic, partition, null,
        s"""{"i":$i}""".getBytes(UTF_8))
    }

  /** Consume `topic` from `ckpt` with the admission cap, recording each
    * micro-batch's per-partition row counts; returns (batches, wallMs). */
  private def catchUp(topic: String, ckpt: String, cap: Int)
      : (Seq[Map[Int, Long]], Long) = {
    val batches = new ConcurrentLinkedQueue[Map[Int, Long]]()
    val t0 = System.nanoTime()
    val q = spark.readStream.format("graft-replaylog")
      .option("topic", topic).option("maxOffsetsPerTrigger", cap.toString)
      .load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val counts = batch.groupBy("partition").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        if (counts.nonEmpty) batches.add(counts)
        ()
      }.start()
    try { q.processAllAvailable() } finally q.stop()
    (batches.asScala.toSeq, (System.nanoTime() - t0) / 1000000L)
  }

  test("consumer down while a skewed backlog grows >> cap x triggers: " +
      "catch-up is cap-bounded per batch with no partition starved") {
    val topic = "backlog-" + System.nanoTime(); val ckpt = tmp("bl-ckpt")
    val cap = 200
    // first life: a little traffic, then the consumer stops
    (0 until 4).foreach(p => append(topic, p, 5))
    val (pre, _) = catchUp(topic, ckpt, cap)
    assert(pre.map(_.values.sum).sum == 20)
    // consumer is DOWN; the log grows to 50x the cap, heavily skewed:
    // partition 0 takes ~91% of the backlog
    append(topic, 0, 9100)
    (1 until 4).foreach(p => append(topic, p, 300))
    val backlog = 9100 + 3 * 300
    // second life: restart from the checkpoint
    val (batches, _) = catchUp(topic, ckpt, cap)
    val drained = batches.map(_.values.sum).sum
    assert(drained == backlog, s"no record lost: $drained != $backlog")
    // admission honored on EVERY batch — no unbounded catch-up batch
    assert(batches.forall(_.values.sum <= cap),
      s"cap breached: ${batches.map(_.values.sum).max}")
    assert(batches.size >= backlog / cap,
      "the backlog must drain across many capped epochs")
    // no starvation: while every partition still had backlog, every batch
    // admitted at least one row from EACH of them (the 1-row floor) —
    // the skewed partition cannot monopolize the cap
    val remaining = scala.collection.mutable.Map(
      0 -> 9100L, 1 -> 300L, 2 -> 300L, 3 -> 300L)
    batches.foreach { b =>
      val backlogged = remaining.filter(_._2 > 0).keySet
      if (backlogged.size > 1) {
        backlogged.foreach { p =>
          assert(b.getOrElse(p, 0L) >= 1L,
            s"partition $p starved in batch $b while backlogged")
        }
      }
      b.foreach { case (p, n) => remaining(p) = remaining(p) - n }
    }
    assert(remaining.values.forall(_ == 0L))
    // live traffic flows after the drain (the reference's post-recovery
    // broadcast assertion)
    append(topic, 2, 3)
    val (live, _) = catchUp(topic, ckpt, cap)
    assert(live.map(_.values.sum).sum == 3)
    ReplayLog.delete(topic)
  }

  test("catch-up curve: batches scale with backlog/cap and wall time " +
      "stays linear in the backlog (recorded for COVERAGE)") {
    val cap = 500
    val curve = Seq(2000, 10000, 50000).map { n =>
      val topic = s"curve-$n-" + System.nanoTime(); val ckpt = tmp("bl-ckpt")
      (0 until 4).foreach(p => append(topic, p, n / 4))
      val (batches, wallMs) = catchUp(topic, ckpt, cap)
      assert(batches.map(_.values.sum).sum == n)
      assert(batches.forall(_.values.sum <= cap))
      val expected = math.ceil(n.toDouble / cap).toInt
      assert(batches.size >= expected && batches.size <= expected + 2,
        s"backlog $n at cap $cap: ${batches.size} epochs vs ~$expected")
      ReplayLog.delete(topic)
      info(s"backlog=$n cap=$cap epochs=${batches.size} catchUpMs=$wallMs")
      (n, batches.size, wallMs)
    }
    // boundedness, not speed: per-epoch cost must not grow with TOTAL
    // backlog (each epoch is cap-sized work) — allow generous jitter
    val perEpoch = curve.map { case (_, b, ms) => ms.toDouble / b }
    assert(perEpoch.max / perEpoch.min < 5.0,
      s"per-epoch catch-up cost must stay flat: $curve")
  }

  test("catch-up under LIVE load: 50x-cap backlog drains to freshness " +
      "while the producer sustains 10k/s — convergence curve recorded") {
    // the harder operational case the reference exercises in
    // wal_bloat_test.exs:78-160: the WAL keeps GROWING during reconnect —
    // catch-up only converges if consumption outpaces live produce, and
    // the proof is the admitted records' age falling from backlog-old to
    // near-live and STAYING there while the producer is still running
    val topic = "live-catchup-" + System.nanoTime()
    val ckpt = tmp("bl-live-ckpt")
    // cap sizing is the whole game: an epoch costs ~160 ms of fixed
    // scheduling overhead in the shared test session, so consumption
    // throughput ≈ cap / 0.16 s — the cap must put that WELL above the
    // 10k/s live rate or catch-up mathematically diverges (the first
    // failing configuration tried cap=2000 ≈ 12k/s and never converged;
    // on a real cluster the same sizing rule is cap vs producer rate)
    val cap = 6000
    // 50 triggers' worth of live traffic (10k/s × 100 ms = 1k/trigger)
    val backlog = 50000
    // the backlog accrued while the consumer was DOWN: stamp it a minute
    // old, so "stale" (≥30 s) vs "fresh" (<2 s) classification of a
    // batch is decided by WHICH rows it admits, not by how fast a warm
    // session happens to drain (a cold session took ~10 s, a warm one
    // ~2 s — the scenario must not depend on that)
    val t0 = System.currentTimeMillis() - 60000L
    def appendBacklog(topic: String, n: Int): Unit = (0 until 4).foreach { p =>
      (0 until n / 4).foreach(i => ReplayLog.append(topic, p, null,
        s"b$i".getBytes(UTF_8), timestampMs = t0))
    }
    /** The consumer: per non-empty batch, (rows, oldest timestamp). */
    def consume(topic: String, ckpt: String)(onBatch: (Long, Long) => Unit) =
      spark.readStream.format("graft-replaylog")
        .option("topic", topic).option("maxOffsetsPerTrigger", cap.toString)
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val r = batch.agg(count(lit(1)), max(col("timestamp_ms"))
            .as("newest"), min(col("timestamp_ms")).as("oldest"))
            .collect().head
          if (r.getLong(0) > 0) onBatch(r.getLong(0), r.getLong(2))
          ()
        }.start()
    // untimed warm-up: the same consumer drains three times the backlog
    // on its own topic first. The freshness bound below is the steady state's; a
    // cold JVM's first streaming catch-up is not that state (run alone,
    // without this, the case read 3.5–6.2 s stale batches)
    val warmTopic = "live-catchup-warm-" + System.nanoTime()
    appendBacklog(warmTopic, 3 * backlog)
    val warm = consume(warmTopic, tmp("bl-live-warm-ckpt"))((_, _) => ())
    try warm.processAllAvailable() finally warm.stop()
    ReplayLog.delete(warmTopic)
    appendBacklog(topic, backlog)
    // live producer: 10k/s in 50 ms steps across the 4 partitions, on a
    // 16 s deadline — long enough to outlive a cold streaming-query
    // startup (up to ~10 s solo) so convergence is observed WHILE the
    // producer is still running, which is the claim under test
    @volatile var produced = 0L
    @volatile var producing = true
    @volatile var producerEndWall = 0L
    val producerMs = 16000L
    val producer = new Thread(() => {
      val stepMs = 50L
      val perStep = 500 // 10k/s
      val start = System.nanoTime()
      var step = 0
      while (producing && step < producerMs / stepMs) {
        val now = System.currentTimeMillis()
        (0 until perStep).foreach(k => ReplayLog.append(topic, k % 4, null,
          s"l$step-$k".getBytes(UTF_8), timestampMs = now))
        produced += perStep
        step += 1
        val sleepNs = start + step * stepMs * 1000000L - System.nanoTime()
        if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L)
      }
      producerEndWall = System.currentTimeMillis()
    })
    // per-batch convergence curve: (wall ms since start, rows, max age ms)
    val curve = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val qStart = System.currentTimeMillis()
    val q = consume(topic, ckpt) { (rows, oldest) =>
      val now = System.currentTimeMillis()
      curve.add((now - qStart, rows, now - oldest))
    }
    try {
      producer.start()
      producer.join(producerMs + 4000L)
      producing = false
      q.processAllAvailable()
    } finally { producing = false; q.stop() }
    val producerEndRel = producerEndWall - qStart
    val pts = curve.asScala.toVector
    val drained = pts.map(_._2).sum
    assert(drained == backlog + produced,
      s"no record lost under live load: $drained != ${backlog + produced}")
    assert(pts.forall(_._2 <= cap), "cap honored on every live-load batch")
    // convergence, defined from the tail: a batch still admitting
    // backlog rows reads ≥ 60 s old (stale); once the backlog is gone,
    // batches carry only live rows and read < 2 s — after the last stale
    // batch every batch must be fresh: the consumer reached freshness
    // and STAYED there, producer still running
    val lastStale = pts.lastIndexWhere(_._3 >= 30000L)
    assert(lastStale >= 0,
      s"no batch admitted the aged backlog — scenario broken: ${pts.take(10)}")
    assert(lastStale < pts.size - 3,
      s"never converged to a fresh tail: ${pts.takeRight(10)}")
    pts.drop(lastStale + 1).foreach { p =>
      assert(p._3 < 2000L, s"non-fresh batch after the backlog drained: $p")
    }
    val convergedAtMs = pts(lastStale + 1)._1
    // caught up while the producer was still running
    assert(convergedAtMs < producerEndRel,
      s"only converged after the producer stopped: $convergedAtMs ms " +
        s"(producer ended at $producerEndRel ms)")
    // the curve, printed as test info: time-to-freshness and the shape
    info(s"backlog=$backlog live=${produced} cap=$cap batches=${pts.size} " +
      s"convergedAtMs=$convergedAtMs " +
      s"worstFreshMs=${pts.drop(lastStale + 1).map(_._3).max} " +
      s"ageCurve=${pts.grouped(math.max(1, pts.size / 12)).map(_.head._3).mkString(",")}")
    ReplayLog.delete(topic)
  }
}

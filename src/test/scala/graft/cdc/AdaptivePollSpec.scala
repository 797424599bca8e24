package graft.cdc

import graft.SparkSpec
import graft.model.Subscription

/** Adaptive poll cadence (O9): the reference's three-arm schedule —
  * drain-at-full-speed, jittered shed spacing, ×5 idle backoff —
  * reproduced deterministically (seeded jitter, recording sleeper). */
class AdaptivePollSpec extends SparkSpec {
  import spark.implicits._
  import CdcStreamSpec.Change

  test("PollPacer: three arms — drain 0, shed interval+jitter, idle ×5") {
    val p = new PollPacer(baseIntervalMs = 100L, idleMultiplier = 5)
    assert(p.nextDelayMs(processed = 7, slotChanges = 7) == 0L,
      "processed rows → immediate re-poll")
    val shedDelay = p.nextDelayMs(processed = 0, slotChanges = 7)
    assert(shedDelay >= 150L && shedDelay <= 200L,
      s"shed → interval + jitter(50..100), got $shedDelay")
    assert(p.nextDelayMs(processed = 0, slotChanges = 0) == 500L,
      "idle → interval × idleMultiplier")
  }

  test("PollPacer: jitter is bounded and deterministic per seed") {
    val a = new PollPacer(100L, jitterSeed = 42L)
    val b = new PollPacer(100L, jitterSeed = 42L)
    val sa = (1 to 50).map(_ => a.jitter())
    val sb = (1 to 50).map(_ => b.jitter())
    assert(sa == sb, "same seed → same sequence")
    assert(sa.forall(j => j >= 50L && j <= 100L), s"out of [50,100]: $sa")
    assert(sa.distinct.size > 1, "jitter actually varies")
  }

  test("loop: busy polls re-poll immediately, then back off once idle") {
    // scripted source: 2 busy polls, 1 shed-everything, then idle
    val script = Iterator(
      (5L, 5L), (3L, 3L), (0L, 4L), (0L, 0L), (0L, 0L))
    val slept = Seq.newBuilder[Long]
    val delays = AdaptivePoll.loop(
      pollFn = () => null,
      processFn = _ => script.next(),
      pacer = new PollPacer(100L, jitterSeed = 1L),
      sleeper = slept += _,
      keepGoing = () => true,
      maxPolls = 5L)
    assert(delays.take(2) == Seq(0L, 0L), "drain arm never sleeps")
    assert(delays(2) >= 150L && delays(2) <= 200L, "shed arm")
    assert(delays.drop(3) == Seq(500L, 500L), "idle arm")
    // the final delay is computed but not slept (loop is done)
    assert(slept.result() == delays.slice(2, 4))
  }

  test("RetryBackoff: rand_exp bounds, growth, reset, exhaustion") {
    val b = new RetryBackoff(minMs = 100L, maxMs = 5000L, maxRetries = 6,
      seed = 7L)
    val caps = Seq(100L, 200L, 400L, 800L, 1600L, 3200L)
    val delays = (1 to 6).map(_ => b.nextDelayMs().get)
    delays.zip(caps).foreach { case (d, cap) =>
      assert(d >= 100L && d <= cap, s"delay $d out of [100, $cap]")
    }
    assert(b.nextDelayMs().isEmpty, "7th consecutive failure exhausts")
    b.reset()
    assert(b.nextDelayMs().nonEmpty, "a success clears the streak")
    // deterministic per seed
    val b2 = new RetryBackoff(seed = 7L)
    assert((1 to 6).map(_ => b2.nextDelayMs().get) == delays)
  }

  test("loop: transient failures retry on backoff; a success resets") {
    // fails twice, succeeds, fails twice, succeeds — never exhausts the
    // 3-retry budget because successes reset the streak
    val script = Iterator[() => (Long, Long)](
      () => throw new RuntimeException("t1"),
      () => throw new RuntimeException("t2"),
      () => (1L, 1L),
      () => throw new RuntimeException("t3"),
      () => throw new RuntimeException("t4"),
      () => (0L, 0L))
    val slept = Seq.newBuilder[Long]
    val backoff = new RetryBackoff(minMs = 10L, maxMs = 80L, maxRetries = 3,
      seed = 1L)
    val delays = AdaptivePoll.loop(
      pollFn = () => null,
      processFn = _ => script.next()(),
      pacer = new PollPacer(100L, jitterSeed = 1L),
      sleeper = slept += _,
      keepGoing = () => true,
      maxPolls = 2L,
      backoff = backoff)
    assert(delays.size == 2, "failed polls do not consume the poll budget")
    assert(delays.head == 0L && delays.last == 500L)
    // 4 backoff sleeps happened, all within policy bounds
    val backoffSleeps = slept.result().filter(d => d >= 10L && d <= 80L)
    assert(backoffSleeps.size == 4, s"slept=${slept.result()}")
    assert(backoff.attempts == 0, "final success reset the streak")
  }

  test("loop: the retry budget exhausts on consecutive failures") {
    var calls = 0
    val e = intercept[RuntimeException] {
      AdaptivePoll.loop(
        pollFn = () => null,
        processFn = _ => { calls += 1; throw new RuntimeException(s"c$calls") },
        pacer = new PollPacer(100L),
        sleeper = _ => (),
        keepGoing = () => true,
        maxPolls = 10L,
        backoff = new RetryBackoff(1L, 2L, maxRetries = 3, seed = 1L))
    }
    // initial attempt + 3 retries, and the LAST cause surfaces
    assert(calls == 4 && e.getMessage == "c4")
  }

  test("a crashed poll loop reports its failure instead of dying silently") {
    val subs = Seq(Subscription("s", "public", "t", Nil))
    val dataSchema = Seq.empty[Change].toDS().toDF()
      .drop("change_type", "commit_timestamp").schema
    val bus = CdcStream.MemoryBus()
    val boom = () => throw new RuntimeException("db outage")
    // fast backoff so the spec exercises retry-then-surface in ms; the
    // default policy is the reference's 100 ms–5 s rand_exp
    val h = CdcStream.startAdaptivePoll(boom, subs, dataSchema, "t",
      pk = Seq("id"), bus = bus, pacer = new PollPacer(50L), maxPolls = 10L,
      backoff = new RetryBackoff(1L, 4L, maxRetries = 2, seed = 1L))
    try {
      val deadline = System.currentTimeMillis() + 10000L
      while (h.isRunning && System.currentTimeMillis() < deadline)
        Thread.sleep(20L)
      assert(!h.isRunning)
      assert(h.failure.exists(_.getMessage == "db outage"),
        s"failure must carry the cause, got ${h.failure}")
    } finally h.stop()
  }

  test("startAdaptivePollWal2Json: polls decode through the registry; " +
      "busy chunks drain, empty ones back off") {
    val walSubs = Seq(Subscription("sAll", "public", "orders", Nil))
    def ins(seq: Long, id: Int, amount: Double): (Long, String) = (seq,
      s"""{"action":"I","schema":"public","table":"orders",
         |"timestamp":"2024-01-01 00:00:0$seq+00",
         |"columns":[{"name":"id","type":"bigint","typeoid":20,"value":$id},
         | {"name":"amount","type":"double precision","typeoid":701,"value":$amount}],
         |"pk":[{"name":"id","type":"bigint"}]}""".stripMargin.replace("\n", ""))
    // the same inserts as Debezium envelopes: the one poll loop serves
    // every WAL format
    def dbz(seq: Long, id: Int, amount: Double): (Long, String) = (seq,
      s"""{"before":null,"after":{"id":$id,"amount":$amount},""" +
        s""""source":{"schema":"public","table":"orders","ts_ms":${seq * 1000},""" +
        s""""lsn":$seq,"txId":1},"op":"c","ts_ms":0}""")
    for ((row, format) <- Seq[((Long, Int, Double) => (Long, String), WalFormat)](
        (ins, new Wal2Json.Format("w2j", "seq")),
        (dbz, new Debezium.Format("w2j", "seq",
          pkByTable = Map(("public", "orders") -> Seq("id")))))) {
      val bus = CdcStream.MemoryBus()
      val polls = new java.util.concurrent.atomic.AtomicLong(0L)
      val pollFn = () => (polls.getAndIncrement() match {
        case 0L => Seq(row(0L, 1, 250.0), row(1L, 2, 50.0))
        case 1L => Seq(row(2L, 3, 75.0))
        case _  => Seq.empty[(Long, String)]
      }).toDF("seq", "w2j")
      val h = CdcStream.startAdaptivePollWal(pollFn, format,
        walSubs, bus, new PollPacer(50L), maxPolls = 3L)
      try {
        val deadline = System.currentTimeMillis() + 30000L
        while (h.isRunning && System.currentTimeMillis() < deadline)
          Thread.sleep(50L)
        assert(!h.isRunning, "loop should complete maxPolls and exit")
        assert(bus.deliveries.size == 3, s"3 inserts delivered to sAll")
        // wal telemetry is now real: nChanges counts polled messages and
        // the batch duration is measured
        assert(bus.batches.map(_.nChanges).sorted == Seq(0L, 1L, 2L))
        assert(bus.batches.forall(_.durationMs >= 0L))
      } finally h.stop()
    }
  }

  test("adaptive poll over the replay-log transport: the cursor is the " +
      "slot position — drains capped, advances, never re-reads") {
    import graft.sources.ReplayLog
    val topic = "ap-rl-" + System.nanoTime()
    val walSubs = Seq(Subscription("sAll", "public", "orders", Nil))
    def row(id: Int): String =
      s"""{"action":"I","schema":"public","table":"orders",""" +
        s""""timestamp":"2024-01-01 00:00:01+00",""" +
        s""""columns":[{"name":"id","type":"bigint","value":$id}],""" +
        s""""pk":[{"name":"id","type":"bigint"}]}"""
    (1 to 5).foreach(i => ReplayLog.append(topic, i % 2, i.toString,
      row(i).getBytes("UTF-8")))
    val bus = CdcStream.MemoryBus()
    // cap 2 per poll: 5 records need 3 busy polls; a 4th returns empty
    val poll = ReplayLog.pollFn(spark, topic, maxRecords = 2)
    val h = CdcStream.startAdaptivePollWal(
      (() => poll().selectExpr("seq", "cast(value as string) as w2j")),
      new Wal2Json.Format("w2j", "seq"), walSubs, bus, new PollPacer(50L),
      maxPolls = 4L)
    try {
      val deadline = System.currentTimeMillis() + 30000L
      while (h.isRunning && System.currentTimeMillis() < deadline)
        Thread.sleep(50L)
      assert(!h.isRunning)
      val ids = bus.deliveries.filter(_.subscriptionId == "sAll")
        .map(d => CdcRecoverySpec.idOf(d.frame.replace("\"", "")))
      // every record exactly once across capped polls, no re-reads
      assert(bus.deliveries.size == 5, s"5 inserts once each: $ids")
      assert(bus.batches.map(_.nChanges).sorted == Seq(0L, 1L, 2L, 2L))
    } finally { h.stop(); ReplayLog.delete(topic) }
  }

  test("startAdaptivePollWal: binary pgoutput polls keep the registry " +
      "across iterations") {
    import PgOutput.{RelColumn, RelationMeta, TText}
    val rel = RelationMeta(7, "public", "orders", "d", Seq(
      RelColumn("id", "int8", isKey = true),
      RelColumn("amount", "float8", isKey = false)))
    val walSubs = Seq(Subscription("sAll", "public", "orders", Nil))
    val bus = CdcStream.MemoryBus()
    val polls = new java.util.concurrent.atomic.AtomicLong(0L)
    // poll 1 carries the Relation message; poll 2 decodes WITHOUT one —
    // only possible if the registry survived the poll boundary
    val pollFn = () => (polls.getAndIncrement() match {
      case 0L => Seq(
        (0L, PgOutput.encodeRelation(rel)),
        (1L, PgOutput.encodeInsert(7, Seq(TText("1"), TText("250.0")))))
      case 1L => Seq(
        (2L, PgOutput.encodeInsert(7, Seq(TText("2"), TText("50.0")))))
      case _ => Seq.empty[(Long, Array[Byte])]
    }).toDF("seq", "msg")
    val h = CdcStream.startAdaptivePollWal(pollFn, new PgOutput.Format("msg", "seq"),
      walSubs, bus, new PollPacer(50L), maxPolls = 3L)
    try {
      val deadline = System.currentTimeMillis() + 30000L
      while (h.isRunning && System.currentTimeMillis() < deadline)
        Thread.sleep(50L)
      assert(!h.isRunning && h.failure.isEmpty, s"failure=${h.failure}")
      assert(bus.deliveries.size == 2,
        s"poll-2 insert must decode via the carried registry")
      assert(bus.deliveries.exists(_.frame.contains("\"id\":\"2\"")))
    } finally h.stop()
  }

  test("startAdaptivePoll: real pipeline — busy drains, idle backs off") {
    val subs = Seq(Subscription("s", "public", "t", Nil))
    val dataSchema = Seq.empty[Change].toDS().toDF()
      .drop("change_type", "commit_timestamp").schema
    val bus = CdcStream.MemoryBus()
    // first two polls return rows, the rest are empty
    val polls = new java.util.concurrent.atomic.AtomicLong(0L)
    val pollFn = () => {
      val k = polls.getAndIncrement()
      if (k < 2) Seq(Change(k.toInt, "INSERT", 60.0, s"2024-01-01T00:00:0$k.000Z")).toDF()
      else Seq.empty[Change].toDF()
    }
    val h = CdcStream.startAdaptivePoll(pollFn, subs, dataSchema, "t",
      pk = Seq("id"), bus = bus, pacer = new PollPacer(50L), maxPolls = 3L)
    try {
      // 3 polls: 2 busy (immediate), 1 idle → loop finishes fast
      val deadline = System.currentTimeMillis() + 30000L
      while (h.isRunning && System.currentTimeMillis() < deadline)
        Thread.sleep(50L)
      assert(!h.isRunning, "loop should complete maxPolls and exit")
      assert(bus.deliveries.size == 2, s"both busy polls delivered")
      assert(bus.batches.count(_.nChanges > 0) == 2)
      assert(bus.batches.size == 3)
    } finally h.stop()
  }
}

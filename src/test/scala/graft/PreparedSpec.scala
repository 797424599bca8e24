package graft

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.cdc.ChangeFeed
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** The prepared registry ([[Prepared]], contract in [[SparkEntry.queries]]):
  * every registered query returns the same rows fresh and prepared, and a
  * hit is served only while the inputs, the session and its confs are
  * those the plan was built under. */
class PreparedSpec extends SparkSpec {

  /** `build` prepared under `name`, and the number of times it ran. */
  private def counted(name: String)(build: (SparkSession, String) => DataFrame)
      : ((SparkSession, String) => DataFrame, AtomicInteger) = {
    val n = new AtomicInteger
    (Prepared(name, (s, d) => { n.incrementAndGet(); build(s, d) }), n)
  }

  /** A directory holding table `t` with ids [from, until) in one file. */
  private def tableDir(until: Long): String = {
    val dir = Files.createTempDirectory("prepared").toString
    append(dir, 0L, until)
    dir
  }

  private def append(dir: String, from: Long, until: Long): Unit =
    spark.range(from, until, 1, 1).selectExpr("id", "id * 2 AS v")
      .write.mode("append").parquet(s"$dir/t.parquet")

  private def sumOfT(s: SparkSession, d: String): DataFrame =
    ChangeFeed.table(s, d, "t").agg(count(lit(1)).as("n"), sum("v").as("s"))

  /** A row as the oracle compares it: arrays as sorted lists, maps by key. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case x => x.toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(canon).sorted

  test("differential: every registered query returns the same schema and rows " +
      "fresh (its own build) and prepared (a memo hit)") {
    val dir = Audit.SfDir
    var hits = 0
    Queries.all.sortBy(_.name).foreach { q =>
      val fresh = q.build(spark, dir)
      val want = (fresh.schema, rows(fresh))
      val persisted = fresh.queryExecution.withCachedData
        .collectFirstWithSubqueries { case m: InMemoryRelation => m }.isDefined
      spark.catalog.clearCache()
      if (Audit.EagerBuilds(q.name) || Audit.StateBuilds(q.name))
        assert(Prepared(q.name, q.build) eq q.build, s"${q.name} is prepared")
      else {
        val (prepared, builds) = counted(q.name)(q.build)
        prepared(spark, dir)
        spark.catalog.clearCache()
        val df = prepared(spark, dir)
        assert(builds.get == (if (persisted) 2 else 1),
          s"${q.name}: ${builds.get} builds, its build persists: $persisted")
        if (builds.get == 1) hits += 1
        assert((df.schema, rows(df)) == want, q.name)
        spark.catalog.clearCache()
      }
    }
    assert(hits >= 150, s"only $hits queries served from the memo")
    Prepared.clear()
  }

  test("a hit runs no build and shares the analyzed plan below a new root") {
    val dir = tableDir(10)
    val (q, builds) = counted("spec_share")(sumOfT)
    val first = q(spark, dir)
    val (a, b) = (q(spark, dir), q(spark, dir))
    assert(builds.get == 1)
    val plans = Seq(first, a, b).map(_.queryExecution.analyzed)
    assert(plans(1) ne plans(2))
    assert(plans.map(_.children).forall(_.corresponds(plans.head.children)(_ eq _)))
    assert(Seq(first, a, b).map(_.collect().toSeq).distinct == Seq(Seq(Row(10L, 90L))))
  }

  test("a parquet file appended to an input table forces a rebuild, and the new rows appear") {
    val dir = tableDir(100)
    val (q, builds) = counted("spec_append")(sumOfT)
    assert(q(spark, dir).collect().head == Row(100L, 9900L))
    assert(q(spark, dir).collect().head == Row(100L, 9900L) && builds.get == 1)
    append(dir, 100L, 150L)
    assert(q(spark, dir).collect().head == Row(150L, 22350L) && builds.get == 2)
    assert(q(spark, dir).collect().head == Row(150L, 22350L) && builds.get == 2)
  }

  test("a changed SQL conf forces a rebuild; restoring it finds the first plan again") {
    val dir = tableDir(10)
    val key = "spark.sql.caseSensitive"
    val before = spark.conf.getAll.get(key) // as set, not its default
    val (q, builds) = counted("spec_conf")(sumOfT)
    q(spark, dir); q(spark, dir)
    assert(builds.get == 1)
    try {
      spark.conf.set(key, (!before.contains("true")).toString)
      assert(q(spark, dir).collect().head == Row(10L, 90L) && builds.get == 2)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    q(spark, dir)
    assert(builds.get == 2)
  }

  test("a new session misses, and the memo holds at most its bound") {
    val dir = tableDir(10)
    val (q, builds) = counted("spec_session")(sumOfT)
    q(spark, dir); q(spark, dir)
    val other = spark.newSession()
    assert(q(other, dir).collect().head == Row(10L, 90L) && builds.get == 2)
    q(other, dir)
    assert(builds.get == 2)
    val (first, firstBuilds) = counted("spec_bound_first")((s, _) => s.range(1).toDF())
    first(spark, dir)
    (0 until Prepared.Bound).foreach(i =>
      Prepared(s"spec_bound_$i", (s, _) => s.range(1).toDF())(spark, dir))
    assert(Prepared.entries == Prepared.Bound)
    first(spark, dir)
    assert(firstBuilds.get == 2, "the least recently used entry was evicted")
    Prepared.clear()
  }

  test("EagerBuilds queries and dedup_minhash_lsh are never served from the memo") {
    val registry = Queries.all.map(q => q.name -> q.build).toMap
    val eager = Audit.EagerBuilds ++ Audit.StateBuilds
    assert(eager.contains("src_replay_log") && eager.subsetOf(registry.keySet))
    eager.foreach(n => assert(Prepared(n, registry(n)) eq registry(n), n))
    val before = Prepared.entries
    val (q, builds) = counted("dedup_minhash_lsh")(registry("dedup_minhash_lsh"))
    (1 to 2).foreach { _ => q(spark, Audit.SfDir); spark.catalog.clearCache() }
    assert(builds.get == 2 && Prepared.entries == before)
  }

  test("a prepared plan with current_timestamp() returns a later time on a later execution") {
    val dir = tableDir(1)
    val (q, builds) = counted("spec_now")((s, d) =>
      ChangeFeed.table(s, d, "t").select(current_timestamp().as("now")))
    val t1 = q(spark, dir).collect().head.getTimestamp(0)
    Thread.sleep(20)
    val t2 = q(spark, dir).collect().head.getTimestamp(0)
    assert(builds.get == 1 && t2.after(t1), s"$t1 then $t2")
  }

  test("two threads that run one prepared query at once both get the fresh rows") {
    val dir = tableDir(100)
    val (q, _) = counted("spec_threads")(sumOfT)
    q(spark, dir).collect(); q(spark, dir).collect()
    append(dir, 100L, 150L)
    val pool = Executors.newFixedThreadPool(2)
    val barrier = new CyclicBarrier(2)
    try {
      val got = (1 to 2).map(_ => pool.submit(() => {
        barrier.await(30, TimeUnit.SECONDS)
        q(spark, dir).collect().head
      })).map(_.get(120, TimeUnit.SECONDS))
      assert(got == Seq(Row(150L, 22350L), Row(150L, 22350L)))
    } finally pool.shutdownNow()
  }
}

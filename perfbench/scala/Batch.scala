package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** The closed-loop batch workload: one client runs registered queries
  * (build + run to a noop sink) over the seeded tables in `dataDir`. */
object Batch {

  /** registry_queries: registry name -> (layer, group). One realtime
    * query per module (two for messages), grouped by the module they exercise,
    * and two pipeline queries, grouped by family. */
  val queries: Seq[(String, (String, String))] = Seq(
    "j1_walrus_200subs" -> "walrus",
    "s7_send_id_splice" -> "messages",
    "a2_rate_sliding" -> "rates",
    "a4_presence_sync" -> "presence",
    "s1_wal2json_decode" -> "cdc",
    "j_asof_enrich" -> "operators",
    "s9_v2_frames" -> "api",
    "src_replay_log" -> "sources"
  ).map { case (n, m) => n -> (m, m) } ++ Seq(
    "dedup_minhash_lsh" -> "dedup",
    "text_gopher_filter" -> "text"
  ).map { case (n, f) => n -> ("pipeline", f) }

  final case class Exec(name: String, layer: String, group: String, ms: Double, ok: Boolean)

  /** Run `qs` once each in `order`, timing build + noop write. A query that
    * throws is recorded as failed, never as a time. */
  def pass(spark: SparkSession, tr: Tracer, qs: Seq[(String, (String, String))],
      dataDir: String, dumpTo: Option[String] = None): Seq[Exec] = {
    val reg = graft.SparkEntry.queries
    qs.map { case (name, (layer, group)) =>
      val t0 = System.nanoTime()
      val ok =
        try {
          tr.op(s"$layer.$name") {
            val df = tr.span(s"$layer.build")(reg(name)(spark, dataDir))
            tr.span("spark.run")(dumpTo match {
              case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
              case None => df.write.mode("overwrite").format("noop").save()
            })
          }
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e"); false
        } finally spark.catalog.clearCache()
      Exec(name, layer, group, (System.nanoTime() - t0) / 1e6, ok)
    }
  }

  /** Closed loop until `seconds` pass: whole passes, the order reshuffled
    * from `seed` each pass. Returns (executions, pass wall times in s). */
  def measure(spark: SparkSession, tr: Tracer, qs: Seq[(String, (String, String))],
      dataDir: String, seconds: Int, seed: Long): (Seq[Exec], Seq[Double]) = {
    val rng = new scala.util.Random(seed)
    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < deadline || passes.isEmpty) {
      val t0 = System.nanoTime()
      execs ++= pass(spark, tr, rng.shuffle(qs), dataDir)
      passes += (System.nanoTime() - t0) / 1e9
    }
    (execs.toSeq, passes.toSeq)
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Correctness dump for the DuckDB compare: each SparkEntry.queries
  * result → parquet, plus oracle_sql.json. `Verify <sfDir> <outDir>
  * [name...]` dumps only the named queries (and their oracle entries),
  * which keeps the edit-check loop fast while iterating on one query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, names @ _*) = args.toSeq
    val picked = if (names.isEmpty) SparkEntry.queries.keySet else names.toSet
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => picked(kv._1)).foreach { case (name, fn) =>
      // progress marker on stderr: interleaves with any Spark warning
      // (e.g. a codegen fallback) so the offending query is identifiable
      // from the run log alone
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist intermediates (dedup pipelines) hand cache
      // ownership to the session loop: drop them before the next query
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => picked(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** The engine's entry points (SURVEY.md §7). */
object SparkEntry {
  /** Flagship query (J1 change ⨝ subscriptions) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Queries.walrusMatch(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2, each build
    * prepared ([[Prepared]]): the registry keeps a query's analyzed plan
    * after its first build, and a later call wraps that plan in a new
    * DataFrame (under 1 ms instead of a 20–120 ms build). The optimizer,
    * the planner, AQE, codegen and every job still run on each execution;
    * a `QueryExecution` or a physical plan is never reused.
    *  - Key: the session, the query name, the data dir and the session's
    *    set SQL confs, read after the build (`ChangeFeed.table` sets one).
    *    A new session, or a conf set to another value, builds afresh.
    *  - Stamp check: a plan is served only while every file root it
    *    scans, subqueries included, lists the same (file, size, mtime)
    *    as when it was built (`ChangeFeed`'s stamp); an appended or
    *    rewritten file rebuilds it.
    *  - Never prepared: a build on `Audit.EagerBuilds` (it reads values
    *    from the data while building) or `Audit.StateBuilds` (it reads
    *    JVM-static state); a build whose cached-data plan holds an
    *    `InMemoryRelation` (a persist registered while building, which a
    *    caller's `clearCache` drops, so a re-wrapped plan would recompute
    *    it: `dedup_minhash_lsh` ran about twice as long); and a plan with a
    *    leaf that is neither a stamped file scan nor constant data (a
    *    `LogicalRDD`, a streaming or DataSource V2 relation).
    *  - Bound: [[Prepared.Bound]] entries, least recently used evicted,
    *    about 0.3 MB each (mostly the Hadoop configuration each scan's
    *    file index copies). It is the registry's size with headroom, so a
    *    pass over the whole registry (Bench's warm passes) finds the plans
    *    of the pass before: an LRU smaller than a cyclic scan misses every
    *    lookup. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.queryMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracleMap
}

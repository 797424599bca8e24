package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, LeafNode, LocalRelation,
  LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.graft.DatasetBridge

/** The prepared registry behind [[SparkEntry.queries]] (its scaladoc
  * states the contract): a bounded memo of each registry build's analyzed
  * plan, re-wrapped in a new DataFrame on a hit. */
object Prepared {

  /** Entries kept, least recently used evicted (the reason for the size
    * is in [[SparkEntry.queries]]). */
  val Bound = 256

  /** (file, size, mtime) of every file under a root, as
    * [[graft.cdc.ChangeFeed]] stamps a table. */
  private type Stamp = Seq[(String, Long, Long)]

  private final case class Key(spark: SparkSession, name: String, dir: String,
      confs: Map[String, String])

  /** What a hit needs and nothing more: the analyzed plan, and the stamp
    * of each file root it reads, taken when it was built. */
  private final case class Entry(plan: LogicalPlan, roots: Map[String, Stamp])

  private val memo = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > Bound
  }

  /** Entries in the memo (spec surface). */
  private[graft] def entries: Int = memo.synchronized(memo.size())

  /** Drop every entry (spec surface). */
  private[graft] def clear(): Unit = memo.synchronized(memo.clear())

  /** `build` as the registry serves it: prepared unless `name` is on
    * [[Audit.EagerBuilds]] or [[Audit.StateBuilds]]. */
  def apply(name: String, build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    if (Audit.EagerBuilds(name) || Audit.StateBuilds(name)) build
    else (spark, dir) => {
      val hit = memo.synchronized(Option(memo.get(Key(spark, name, dir, spark.conf.getAll))))
        .filter(_.roots.forall { case (root, st) =>
          Try(graft.cdc.ChangeFeed.stamp(spark, root)).toOption.contains(st) })
      hit.fold {
        val df = build(spark, dir)
        // the confs are read after the build: ChangeFeed.table sets one
        entry(spark, df).foreach(e =>
          memo.synchronized(memo.put(Key(spark, name, dir, spark.conf.getAll), e)))
        df
      }(e => DatasetBridge.ofAnalyzed(spark, e.plan))
    }

  /** The entry a hit would serve `df` from, or None when it is not
    * preparable: its cached-data plan holds an `InMemoryRelation` (a
    * persist the build registered, which `clearCache` would drop), or a
    * leaf of its plan, subqueries included, is neither a file scan nor
    * constant data, or a scan's file listing already differs from its
    * roots' stamp or a root cannot be stamped (a write raced the build). */
  private def entry(spark: SparkSession, df: DataFrame): Option[Entry] = {
    val qe = df.queryExecution
    val cached = qe.withCachedData.collectFirstWithSubqueries { case m: InMemoryRelation => m }
    val leaves = qe.analyzed.collectWithSubqueries { case l: LeafNode => l }
    val scans = leaves.collect { case FileScan(i) => i }.distinct
    if (cached.isDefined || leaves.exists(l => FileScan.unapply(l).isEmpty && !constant(l))) None
    else Try {
      val roots = scans.flatMap(_.rootPaths.map(_.toString)).distinct
        .map(r => r -> graft.cdc.ChangeFeed.stamp(spark, r)).toMap
      def visible(file: String) = !file.split('/').last.matches("[_.].*")
      val consistent = scans.forall(i =>
        i.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted ==
          i.rootPaths.flatMap(p => roots(p.toString)).filter(s => visible(s._1)).sorted)
      Option.when(consistent)(Entry(qe.analyzed, roots))
    }.toOption.flatten
  }

  /** A batch scan of files whose listing can be stamped. */
  private object FileScan {
    def unapply(l: LeafNode): Option[PartitioningAwareFileIndex] = l match {
      case r: LogicalRelation if !r.isStreaming => Some(r.relation)
        .collect { case h: HadoopFsRelation => h.location }
        .collect { case i: PartitioningAwareFileIndex => i }
      case _ => None
    }
  }

  /** Data fixed in the plan itself. */
  private def constant(l: LeafNode): Boolean = l match {
    case r: LocalRelation => !r.isStreaming
    case _: OneRowRelation | _: Range | _: CTERelationRef => true
    case _ => false
  }
}

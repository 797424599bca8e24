package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec,
  InputAdapter, ProjectExec, SparkPlan, UnionExec, WholeStageCodegenExec}

/** Conditional pre-amplification spread (round-13, generalizing the
  * `text_lm_score` finding — see `graft.Audit amp`): a Generate
  * (explode) and everything above it up to the next exchange run at
  * the parallelism of whatever feeds the Generate. A small table is
  * ONE parquet split, so every explode-heavy pipeline over it
  * serialized onto one core (36 registered queries flagged; the worst
  * measured 5.3 s warm for 1.5M generated rows on 32 cores).
  *
  * The spread is CONDITIONAL on the input's actual partition count —
  * that is the scale-honest part. At 100 TB the corpus scan has
  * thousands of splits and a forced `repartition` would shuffle the
  * full corpus text to fix a problem it doesn't have; the helper is a
  * no-op there. Only when the input provides fewer partitions than
  * the session's configured shuffle parallelism (the bench/test shape,
  * or a badly-compacted small table in production) does it insert one
  * exchange of the PRE-amplification rows.
  *
  * The count is explicit, never `repartition(col)` alone: a
  * column-only repartition is AQE-coalescible, and AQE sizes the
  * exchange on its input bytes — blind to the amplification above it,
  * it folded the spread straight back to one partition (measured; the
  * whole point of the exchange is the ROWS it enables, not the bytes
  * it carries).
  */
object Spread {
  /** INPUT CONTRACT (r13 advice): `df` must be a BATCH frame whose plan
    * reaches the leaf scan without an exchange — every call site is a
    * pipeline source scan (`docs()` et al.). A streaming frame has no
    * partition count to probe, hence the loud guard instead of a silent
    * misuse. */
  def apply(df: DataFrame, by: Column): DataFrame = {
    require(!df.isStreaming,
      "Spread expects a batch leaf-scan input, not a streaming DataFrame" +
        " (a streaming plan has no partition count to probe; spread the" +
        " source before readStream instead)")
    val target = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    if (partitions(df) >= target) df
    else df.repartition(target, by)
  }

  /** The partition count `df` runs at. A plan of file scans under
    * projections, filters and unions is planned but not executed: the
    * count is the scans' file splits, read from their input RDDs, with
    * no class compiled and no job run. Building a fresh projection of
    * sf0.01 `events` and probing it took 53 ms (median of 20, 4-cpu
    * host) against 104 ms through `df.rdd`, which compiles the plan's
    * whole-stage classes on the driver to build the RDD. Any other plan
    * still goes through `df.rdd`; under AQE a plan with an exchange
    * would also run its upstream stages there. */
  private[pipeline] def partitions(df: DataFrame): Int =
    scanSplits(df.queryExecution.executedPlan).getOrElse(df.rdd.getNumPartitions)

  private def scanSplits(p: SparkPlan): Option[Int] = p match {
    case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
    case u: UnionExec if u.outputPartitioning.isInstanceOf[UnknownPartitioning] =>
      val parts = u.children.map(scanSplits)
      Option.when(parts.forall(_.isDefined))(parts.flatten.sum)
    case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec | _: InputAdapter |
        _: ColumnarToRowExec => scanSplits(p.children.head)
    case _ => None
  }
}

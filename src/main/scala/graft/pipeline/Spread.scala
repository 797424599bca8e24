package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

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
    * pipeline source scan (`docs()` et al.). The partition-count probe
    * below goes through `df.rdd`, which physically plans the subtree:
    * on a leaf scan that is the same planning cost every adaptive
    * decision pays, but under AQE a frame CONTAINING an exchange would
    * materialize its upstream query stages eagerly at construction time
    * (the work then repeats at execution), and a streaming frame has no
    * `.rdd` at all — hence the loud guard instead of a silent misuse. */
  def apply(df: DataFrame, by: Column): DataFrame = {
    require(!df.isStreaming,
      "Spread expects a batch leaf-scan input, not a streaming DataFrame" +
        " (a streaming plan has no partition count to probe; spread the" +
        " source before readStream instead)")
    val target = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    // rdd.getNumPartitions plans (but never runs) the subquery — the
    // same physical-planning cost every adaptive decision pays
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, by)
  }
}

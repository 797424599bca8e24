package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `Dataset.ofRows` (`private[sql]`) for a plan analyzed
  * before: the analyzer returns it as it is, and the optimizer, the
  * planner and every job still run when the DataFrame executes. */
object DatasetBridge {

  /** A new DataFrame over the analyzed `plan`, on a copy of its root. A
    * Dataset adds its id to a set tagged on its plan's root, so a root
    * shared by every execution would gain an id per execution, from every
    * thread at once; the copy starts with no set. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val root = plan.makeCopy(plan.productIterator.map(_.asInstanceOf[AnyRef]).toArray)
    root.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    root.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], root)
  }
}

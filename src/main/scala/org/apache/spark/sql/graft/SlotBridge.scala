package org.apache.spark.sql.graft

import org.apache.spark.{SparkContext, SparkEnv}

/** Bridge into `SparkContext.numDriverCores` (`private[spark]`), which
  * reads a local master's thread count the way the local scheduler does. */
object SlotBridge {

  /** Task slots of the JVM `env` runs in: in local mode (tasks run on the
    * driver) the master's threads, on an executor its cores (all of the
    * host's when `spark.executor.cores` is unset), each over
    * `spark.task.cpus`. */
  def taskSlots(env: SparkEnv): Int = {
    val conf = env.conf
    val cores =
      if (env.executorId == SparkContext.DRIVER_IDENTIFIER)
        SparkContext.numDriverCores(conf.get("spark.master", "local"), conf)
      else conf.getInt("spark.executor.cores", Runtime.getRuntime.availableProcessors)
    math.max(1, cores / conf.getInt("spark.task.cpus", 1))
  }
}

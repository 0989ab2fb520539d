package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The two scheduler facts the traced run needs and Spark keeps
  * package-private: how many jobs the DAG scheduler has handed out ids
  * to, and a blocking drain of the listener bus.
  */
object BenchProbe {
  /** Job ids are allocated synchronously when a job (or an adaptive
    * query's map stage) is submitted, so the difference of two readings
    * is exactly the number of jobs started in between.
    */
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.nextJobId.get()

  /** Returns once every event posted so far has been delivered to every
    * listener; no fixed sleep.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Scheduler state the specs assert on; both members are
 *  package-private in Spark, hence this file. */
object SpecScheduler {

  /** Jobs the DAG scheduler is running right now. A failed or cancelled
   *  job leaves this set before its caller wakes up, while the
   *  `SparkListenerJobEnd` that `statusTracker` learns from is posted
   *  only afterwards — so when a failing call returns, only this count
   *  is already exact. */
  def activeJobs(sc: SparkContext): Int = sc.dagScheduler.activeJobs.size

  /** Wait until every event already posted to the listener bus has
   *  been delivered. */
  def drainEvents(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

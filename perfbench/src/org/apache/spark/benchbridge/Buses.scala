package org.apache.spark.benchbridge

import org.apache.spark.sql.SparkSession

/** Reaches the listener bus's `waitUntilEmpty`, which Spark keeps
  * package-private, so a traced request's counters are complete before
  * they are read (query-execution listeners are fed from the same bus). */
object Buses {
  def drain(spark: SparkSession): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty(10000L); ()
  }
}

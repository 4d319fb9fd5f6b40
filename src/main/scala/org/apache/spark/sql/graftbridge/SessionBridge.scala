package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, classic}

/** Bridges Spark 4's `private[sql]` session clone (a copy of the
  * session's state: runtime conf, temp views, functions, query
  * execution listeners, on the same SparkContext and catalog, where
  * nothing done on the copy reaches the original) and the shared
  * state's conf, which seeds every session made later by
  * `newSession()`.
  */
object SessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def seedNewSessions(spark: SparkSession, key: String, value: String): Unit =
    spark.asInstanceOf[classic.SparkSession].sharedState.conf.set(key, value)
}

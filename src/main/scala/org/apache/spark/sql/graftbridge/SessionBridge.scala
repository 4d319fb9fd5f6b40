package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, classic}

/** Bridges Spark 4's `private[sql]` session clone: a copy of the
  * session's state (runtime conf, temp views, functions, query
  * execution listeners) on the same SparkContext and catalog, where
  * nothing done on the copy reaches the original.
  */
object SessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}

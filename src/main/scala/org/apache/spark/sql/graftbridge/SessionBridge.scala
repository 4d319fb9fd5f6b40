package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}

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

  /** [[cloneSession]], but with the rules, strategies and functions of
    * `extensions` instead of `spark`'s. Every session the clone's
    * `newSession()` makes takes them too; `spark` and its other clones
    * never see them.
    */
  def cloneWithExtensions(spark: SparkSession,
                          extensions: SparkSessionExtensions): SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession]
    // the constructor cloneSession calls: private to Scala, public in
    // the bytecode
    val clone = classOf[classic.SparkSession].getConstructor(
        classOf[SparkContext], classOf[Option[_]], classOf[Option[_]],
        classOf[SparkSessionExtensions], classOf[Map[_, _]], classOf[Map[_, _]])
      .newInstance(s.sparkContext, Some(s.sharedState), Some(s.sessionState),
        extensions, Map.empty, Map.empty)
    clone.sessionState.artifactManager // copy the state now, as cloneSession does
    clone
  }

  def seedNewSessions(spark: SparkSession, key: String, value: String): Unit =
    spark.asInstanceOf[classic.SparkSession].sharedState.conf.set(key, value)
}

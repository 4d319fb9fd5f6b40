package graft.streaming

import org.apache.spark.sql.SparkSession

/** Micro-batch plan tuning for foreachBatch bodies.
  *
  * AQE executes every exchange as its own job (materialize → re-plan),
  * which is the right trade on data-sized queries and pure scheduling
  * overhead on a micro-batch touching a few thousand rows: a measured
  * 6-batch span-dedup replay runs 63 jobs with AQE on vs 34 with it
  * off, for ~13% wall time. Below the cost switch
  * ([[MicroBatchFold.NarrowBelowBytes]]) the micro-batch streams
  * therefore run each batch with AQE off and a narrow fixed shuffle
  * width; above it they leave the session untouched (big batches want
  * AQE's coalescing and skew handling).
  *
  * The scope mutates SESSION conf and restores it in a finally — the
  * streams own their session for the duration of run() (driver
  * cadence), but a session shared with concurrently-planned batch
  * queries would observe the narrowed width for the batch's duration;
  * give such a workload its own SparkSession.
  */
private[graft] object BatchTuning {

  /** Run `f` with each `key -> value` set on the session conf, restoring
    * every key's previous value (or unsetting it) in a finally.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def withNarrowShuffles[T](spark: SparkSession, narrow: Boolean,
                            partitions: Int = 4)(f: => T): T =
    if (!narrow) f
    else withConf(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> partitions.toString)(f)

  /** [[withNarrowShuffles]] over EVERY session a foreachBatch body plans
    * with. MicroBatchExecution hands the body a DataFrame bound to the
    * stream's CLONED SparkSession (isolated SQLConf), so frames derived
    * from the batch plan with the clone's conf and silently ignore a
    * narrow scope set on the outer session — measured on q134: the out
    * write alone ran as 9 AQE stage-materialization jobs because the
    * clone kept AQE on while the outer session was dutifully narrowed.
    * Tuning the distinct set (outer session for store-read-rooted plans,
    * batch session for batch-rooted ones) closes that hole; direct
    * processBatch calls (retry specs) pass the same session twice and
    * dedup to one.
    */
  def withNarrowShufflesOn[T](sessions: Seq[SparkSession], narrow: Boolean,
                              partitions: Int = 4)(f: => T): T =
    sessions.distinct.foldRight(() => f) { (s, g) =>
      () => withNarrowShuffles(s, narrow, partitions)(g())
    }()
}

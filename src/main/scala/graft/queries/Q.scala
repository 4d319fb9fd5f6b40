package graft.queries

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark DataFrame builder plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL over the same parquet tables.
  *
  * Oracle-parity rules (the driver hash-compares values after sorting
  * columns by name):
  *  - alias every computed column identically in Spark and SQL;
  *  - integer-ish outputs are BIGINT on both sides (Spark ints are cast);
  *  - order-dependent float aggregates (sum/avg over doubles) are rounded
  *    to a precision where the two engines' summation orders cannot
  *    diverge (inputs are exact 2-dp decimals, so round(sum,2) /
  *    round(sum-of-products,4) are stable);
  *  - top-k queries carry a total tie-break order (metric, then key).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {

  /** `run` on a fork of the caller's session at shuffle width 8: the
    * stream rows, whose state stores and per-batch stores are sized to
    * their state volume, not to the cores (each stateful partition pays
    * per-batch checkpoint I/O; measured 3.2 s -> 1.7 s for q57 at 8 on
    * sf0.1). The result is handed back to the caller's session.
    */
  def atWidth8(run: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (s, d) =>
    GraftSession.streamingFork(s, "spark.sql.shuffle.partitions" -> "8")(
      fork => GraftSession.on(s, run(fork, d)))
  }
}

object Registry {
  lazy val all: Seq[Q] =
    CoreAnalytics.defs ++ TextOps.defs ++ VectorOps.defs ++
      EventOps.defs ++ CleanOps.defs ++ PipelineOps.defs ++ SketchOps.defs ++
      TrainingOps.defs ++ SelectionOps.defs ++ LayoutOps.defs ++
      GraphOps.defs ++ HtmlOps.defs ++ CurationOps.defs

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}

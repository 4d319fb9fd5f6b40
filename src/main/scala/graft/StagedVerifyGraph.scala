package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Staged oracle export for the GRAPH family above the full-replay
  * ceiling (round-11 verdict #1). The full q130/q132 oracle replays the
  * edge DERIVATION (lineitem ⋈ orders, 180M fact rows at sf30) before
  * it ever folds a round — at sf30 that is the expensive, already
  * gate-verified half. This main splits the verification at the pair
  * set, the same cut [[StagedVerify]] made for the LSH+CC family:
  *
  *  1. export the ENGINE's deduped trade-pair set (q130's unweighted
  *     `distinct (c, sp)` and q132's weighted `(c, sp, w=count)` —
  *     constructions full-oracle-verified at sf0.01/sf0.1 through the
  *     gate and at sf1 by the full-gate replay);
  *  2. export the engine's q130/q132 top-20 answers at the rung;
  *  3. `tools/stagedcheck_graph.py` then has DuckDB symmetrize, derive
  *     deg/Σw ITSELF (re-verifying the denominators rather than
  *     trusting an engine export), fold the 8 (resp. 6) unrolled
  *     integer fixed-point rounds, elect the top-20 suppliers, and
  *     hash-compare — exact because every rank is a BIGINT and every
  *     division a floor division (see [[graft.ops.PageRank]]).
  *
  * Usage: `StagedVerifyGraph <sfDir> <outDir>`.
  */
object StagedVerifyGraph {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = GraftSession.start("graft-staged-verify-graph")

    def t[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[staged] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    // the same derivations q130/q132 register (GraphOps.defs), minus
    // the fold: one fact-fact join, aggregated/distinct'ed to pairs
    val joined = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("sp"))
    t("q130 pair export") {
      joined.distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/pairs.parquet")
    }
    t("q132 weighted-pair export") {
      joined.groupBy(col("c"), col("sp")).agg(count(lit(1)).as("w"))
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/pw.parquet")
    }
    t("q130 engine top-20") {
      queries.Registry.byName("q130_pagerank").run(spark, sfDir)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/q130.parquet")
    }
    t("q132 engine top-20") {
      queries.Registry.byName("q132_personalized_pagerank").run(spark, sfDir)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/q132.parquet")
    }
    spark.stop()
    println("[staged] graph export done")
  }
}

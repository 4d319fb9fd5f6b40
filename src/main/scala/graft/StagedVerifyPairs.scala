package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Staged oracle export for q140's ROUTED pair set above the gate SFs
  * (round-11 verdict #4). q140 shares q106's assignment CTEs, but its
  * own output — the within-cell exact pair set under top-2 fine-cell
  * multi-assignment — was hash-checked only at sf0.01/sf0.1. The split
  * here is at the ASSIGNMENT (whose construction is oracle-verified
  * through the gate's `asg2` CTE chain at those SFs):
  *
  *  1. export the engine's (bucket, vec_id) multi-assignment at the
  *     rung (recomputed here — it is a deterministic function of the
  *     corpus, identical to what q140 computed internally);
  *  2. export the engine's q140 routed pair set (vec_a, vec_b, cos_r);
  *  3. `tools/stagedcheck_pairs.py` has DuckDB replay the within-bucket
  *     exact join over the exported assignment (vectors re-read from
  *     the rung's embeddings parquet, so the cosine surface is
  *     DuckDB's own `list_cosine_similarity`, same as the gate oracle)
  *     and set-compare both directions — optionally over a
  *     deterministic bucket slice when the full Σc² replay is too
  *     heavy for the box.
  *
  * Usage: `StagedVerifyPairs <sfDir> <outDir>`.
  */
object StagedVerifyPairs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = GraftSession.start("graft-staged-verify-pairs")

    def t[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[staged] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    import graft.functions.VectorFunctions.squaredNorm
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", squaredNorm(col("v")))
    t("asg2 export") {
      val k = queries.SelectionOps.adaptiveK(e.count())
      queries.SelectionOps.assignTwoLevelTop2(e, k)
        .select(col("bucket"), col("vec_id"))
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/asg2.parquet")
    }
    t("q140 engine pairs") {
      queries.Registry.byName("q140_pairs_auto_routed").run(spark, sfDir)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/q140.parquet")
    }
    spark.stop()
    println("[staged] pairs export done")
  }
}

package graft

import graft.functions.VectorFunctions.squaredNorm
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Staged oracle export for the four families DuckDB cannot replay in
  * full at sf30 and above. Each family's check is split at an engine
  * export whose construction the gate already verifies at sf0.01/sf0.1
  * (and the full-gate replays at sf1/sf10); `tools/stagedcheck.py` then
  * has DuckDB fold only what comes after that export and hash-compare
  * the engine's answers.
  *
  *  - `lsh`: DuckDB cannot re-mine the MinHash pair set at 1.5M docs
  *    (the sf30 attempt aborted at a 58 GB temp spill), so the cut is at
  *    q70's pair set: DuckDB folds the CC fixpoint and yield histogram
  *    over it (q155 batch, q134 store labels) and q129's keep/drop
  *    verdicts, a non-recursive fold since dedup-vs-all-priors is
  *    order-independent (MinHashDedupStream's Scaladoc).
  *  - `graph`: the full q130/q132 oracle replays the edge derivation
  *    (`lineitem ⋈ orders`, 180M fact rows at sf30) before any round, so
  *    the cut is at the engine's own pair frames
  *    ([[queries.GraphOps.tradePairs]]): DuckDB symmetrizes, derives
  *    deg/Σw itself, folds the 8 (resp. 6) integer rounds and elects the
  *    top 20, exact because every rank is a BIGINT and every division a
  *    floor division ([[graft.ops.PageRank]]). Its exports plan on a
  *    fork whose `spark.graft.graph.minShuffleWidth` is one above the
  *    session width, so q130/q132 take the wide path of sf30 and above
  *    (parquet stage, columnar edge cache, broadcast rounds) at any
  *    rung instead of the driver fold; above the fact width the floor
  *    changes nothing.
  *  - `pairs`: q140's routed pair set is checked at the top-2 fine-cell
  *    assignment, a deterministic function of the corpus that the gate
  *    verifies through its `asg2` CTE chain: DuckDB replays the
  *    within-bucket exact join over it with its own
  *    `list_cosine_similarity` and set-compares both directions,
  *    optionally over a bucket slice when the full Σc² join is too heavy.
  *  - `spans`: DuckDB cannot re-mine the w-token gram table at sf100
  *    (~25 GB of gram strings, two polynomial hashes per gram), so the
  *    cut is at the engine's (doc_id, pos, pack) gram frame: DuckDB
  *    elects first occurrences, covers spans and hashes each doc's
  *    reconstruction for q100 and the stream q101 (doc_id-ordered
  *    arrival makes its gram store closed-form). The corpus-prep pair
  *    q98/q104 has a row-wise oracle that replays in full at any rung,
  *    so its registered SQL ships verbatim as `q98_oracle.sql`. Its
  *    exports plan on a fork with a 16m split.
  *
  * Usage: `StagedVerify <lsh|graph|pairs|spans|all> <sfDir> <outDir>`;
  * each family writes under `$outDir/<family>/`.
  */
object StagedVerify {
  /** Family -> its exports in order, each `name -> frame`. */
  private def families(sfDir: String)
      : Seq[(String, Seq[(String, SparkSession => DataFrame)])] = {
    def query(name: String): SparkSession => DataFrame =
      s => queries.Registry.byName(name).run(s, sfDir)
    Seq(
      "lsh" -> Seq(
        "pairs" -> (s => queries.TextOps
          .portableMinhashPairs(Tables.documents(s, sfDir))
          .select(col("doc_a"), col("doc_b"))),
        "q155" -> query("q155_dedup_yield"),
        "q134" -> query("q134_incremental_cc_stream"),
        "q129" -> query("q129_minhash_dedup_stream")),
      "graph" -> Seq(
        "pairs" -> (s => queries.GraphOps.tradePairs(s, sfDir).distinct()),
        "pw" -> (s => queries.GraphOps.tradePairs(s, sfDir)
          .groupBy(col("c"), col("sp")).agg(count(lit(1)).as("w"))),
        "q130" -> query("q130_pagerank"),
        "q132" -> query("q132_personalized_pagerank")),
      "pairs" -> Seq(
        "asg2" -> { s =>
          val e = Tables.embeddings(s, sfDir)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
            .withColumn("n2", squaredNorm(col("v")))
          queries.SelectionOps
            .assignTwoLevelTop2(e, queries.SelectionOps.adaptiveK(e.count()))
            .select(col("bucket"), col("vec_id"))
        },
        "q140" -> query("q140_pairs_auto_routed")),
      "spans" -> Seq(
        "grams" -> (s => ops.SpanDedup.grams(Tables.documents(s, sfDir), w = 8)),
        "q100" -> query("q100_span_dedup"),
        "q101" -> query("q101_span_dedup_stream"),
        "q98" -> query("q98_corpus_prep_pipeline"),
        "q104" -> query("q104_corpus_prep_stream")))
  }

  def main(args: Array[String]): Unit = {
    val Array(which, sfDir, outDir) = args
    val all = families(sfDir)
    val chosen = all.filter { case (f, _) => which == "all" || which == f }
    require(chosen.nonEmpty,
      s"family must be one of ${all.map(_._1).mkString(", ")} or all, got '$which'")
    val spark = GraftSession.start("graft-staged-verify")
    chosen.foreach { case (family, exports) =>
      val s = family match {
        case "spans" =>
          GraftSession.fork(spark, "spark.sql.files.maxPartitionBytes" -> "16m")
        case "graph" =>
          val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
          GraftSession.fork(spark,
            "spark.graft.graph.minShuffleWidth" -> (width + 1).toString)
        case _ => spark
      }
      exports.foreach { case (name, df) =>
        val t0 = System.nanoTime()
        df(s).write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/$family/$name.parquet")
        GraftSession.releaseCached(spark)
        println(f"[staged] $family/$name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      if (family == "spans") Files.writeString(
        Paths.get(s"$outDir/spans/q98_oracle.sql"),
        queries.Registry.byName("q98_corpus_prep_pipeline").oracle.get)
    }
    spark.stop()
    println(s"[staged] export done: $outDir")
  }
}

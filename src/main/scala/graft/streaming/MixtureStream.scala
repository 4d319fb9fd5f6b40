package graft.streaming

import graft.queries.SelectionOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Temperature-based mixture sampling over a document stream (q146) —
  * q144's continuous-ingestion twin, the q109/q122/q138/q142
  * additive-statistics pattern: the ONLY corpus statistic the α=0.5
  * apportionment needs is the per-language document count, which is
  * purely additive, so each micro-batch appends one ≤|langs|-row
  * partial-count file and the folded store equals the batch counts
  * EXACTLY. The rebuilt isqrt weights, largest-remainder targets, and
  * smallest-hash election over the arrived corpus are bit-identical to
  * batch q144 — the two share one DuckDB oracle. State is bounded by
  * the language inventory (5 rows per batch here), never per-doc;
  * partials are `batch=` Overwrite files (retry replaces, never
  * double-counts).
  */
object MixtureStream {

  /** Run the staged splits to completion (one micro-batch per file),
    * then fold the partial counts and elect over the arrived corpus:
    * schema and values identical to q144.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String)
      : DataFrame = {
    val cntDir = s"$workDir/lang_counts"
    MicroBatchFold.runInputGated(spark, inputDir, workDir) { (batch, batchId) =>
      graft.pipeline.Load.writeBatchPartial(
        batch.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
          .coalesce(1),
        cntDir, batchId)
    }
    val counts = spark.read.parquet(cntDir)
      .groupBy(col("lang")).agg(sum(col("n_lang")).as("n_lang"))
    val arrived = SelectionOps.mixDocs(MicroBatchFold.arrived(spark, inputDir))
    SelectionOps.mixtureResult(arrived, SelectionOps.mixtureTargets(counts),
      // the fold runs under a live stream's lifetime: pin to parquet
      // scratch so an executor kill can't strand a checkpoint block
      scratch = Some(s"$workDir/scratch"))
  }

  /** Stage + run in a fresh work dir: the q146 entry. */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q146_mixture_stream", docs, nSplits)(run(spark, _, _))
}

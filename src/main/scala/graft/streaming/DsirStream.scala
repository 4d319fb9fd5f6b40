package graft.streaming

import graft.queries.SelectionOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR model training over a document stream (q142) — q141's
  * continuous-ingestion twin, the q122/q138 pattern applied to the
  * importance-resampling family: both DSIR models are pure additive
  * bucket counts (per-bucket raw and target token counts; the totals
  * derive from the counts), so each micro-batch appends one tiny
  * 256-row partial-count file and the folded store equals the batch
  * statistics EXACTLY — the rebuilt λ table and the selection over the
  * arrived corpus are bit-identical to q141, which is why the two share
  * one DuckDB oracle. State is the fixed dim-row counter table (the
  * q109 CMS shape, not per-doc state), appended as `batch=` Overwrite
  * partials (retry replaces, never double-counts) and folded with one
  * sum at read time.
  */
object DsirStream {

  /** Run the staged splits to completion (one micro-batch per file),
    * then fold the partial counts and score the arrived corpus:
    * schema and values identical to q141.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String,
          dim: Int, k: Int): DataFrame = {
    val cntDir = s"$workDir/dsir_counts"
    def isTarget = array_contains(split(col("text"), " "), "dup")
    // The staged arrival is nSplits SINGLE parquet files (one per
    // micro-batch, mtime-ordered); at the default 128MB split size a
    // 350MB file scans as ~3 tasks, which starved both the per-batch
    // count pass and the final corpus scoring at sf10 (measured 133s vs
    // the batch q141's 17s). Narrow the file-split size for the run so
    // scan parallelism matches the corpus, not the file count; restored
    // when the run ends. Production streams arrive as many files and
    // don't need this.
    BatchTuning.withConf(spark,
        "spark.sql.files.maxPartitionBytes" -> (16L * 1024 * 1024).toString) {
      MicroBatchFold.runInputGated(spark, inputDir, workDir) { (batch, batchId) =>
        graft.pipeline.Load.writeBatchPartial(
          SelectionOps.dsirToks(batch, isTarget, dim)
            .groupBy(col("b")).agg(
              count(lit(1)).as("rc"),
              sum(when(col("tgt"), 1L).otherwise(0L)).as("tc"))
            .coalesce(1),
          cntDir, batchId)
      }
      val counts = spark.read.parquet(cntDir)
        .groupBy(col("b"))
        .agg(sum(col("rc")).as("rc"), sum(col("tc")).as("tc"))
      val arrived = MicroBatchFold.arrived(spark, inputDir)
      SelectionOps.dsirScore(
        SelectionOps.dsirToks(arrived, isTarget, dim), counts, dim, k,
        // the fold runs under a live stream's lifetime: pin to parquet
        // scratch so an executor kill can't strand a checkpoint block
        scratch = Some(s"$workDir/scratch"))
    }
  }

  /** Stage + run in a fresh work dir: the q142 entry. */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int,
            dim: Int, k: Int): DataFrame =
    MicroBatchFold.staged(spark, "q142_dsir_stream", docs, nSplits)(
      run(spark, _, _, dim, k))
}

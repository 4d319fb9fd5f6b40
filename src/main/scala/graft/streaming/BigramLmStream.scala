package graft.streaming

import graft.queries.SelectionOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bigram-LM training over a document stream (q122) — q107's
  * continuous-ingestion twin for the MODEL-training half: each
  * micro-batch appends its partial (prev, tok, n) bigram counts, and
  * because counts are additive the folded store equals the batch
  * corpus counts exactly; the context totals c1 are derived from the
  * folded c2, so one keyed count table IS the complete LM state (no
  * second store, no approximation). After ingestion the folded LM
  * scores the arrived corpus — identical to the batch q107 output, so
  * q122 shares its DuckDB oracle end to end.
  *
  * This is the keyed-state sibling of q109's fixed CMS matrix: state
  * grows with the bigram-TYPE count (Zipf²-bounded, far sublinear in
  * the corpus), appended as tiny per-batch partials and folded with
  * one sum at read time — vs streaming-state-store per-key counts that
  * would checkpoint the whole bigram universe every batch.
  */
object BigramLmStream {

  /** Run the staged splits to completion (one micro-batch per file),
    * then score every arrived doc under the folded LM: schema and
    * values identical to q107.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String): DataFrame = {
    val countsDir = s"$workDir/bigram_counts"
    MicroBatchFold.runInputGated(spark, inputDir, workDir) { (batch, batchId) =>
      graft.pipeline.Load.writeBatchPartial(
        SelectionOps.docBigrams(SelectionOps.tokedDocs(
            batch.select(col("doc_id").cast("long").as("doc_id"), col("text"))))
          .groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("n"))
          .coalesce(1),
        countsDir, batchId)
    }
    // fold the partial counts (additive, so fold == batch counts) and
    // rebuild the LM; score the arrived corpus under it
    val c2 = spark.read.parquet(countsDir)
      .groupBy(col("prev"), col("tok")).agg(sum(col("n")).as("c2"))
    val docs = MicroBatchFold.arrived(spark, inputDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val toked = SelectionOps.tokedDocs(docs)
    SelectionOps.scoreWithLm(toked, SelectionOps.docBigrams(toked),
      SelectionOps.bigramBits(c2))
  }

  /** Stage + run in a fresh work dir: the q122 entry. */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q122_bigram_stream", docs, nSplits)(run(spark, _, _))
}

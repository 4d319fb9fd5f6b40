package graft.streaming

import graft.queries.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Naive-Bayes classifier training over a document stream (q138) —
  * q137's continuous-ingestion twin, the q122 pattern applied to the
  * classifier family: NB's sufficient statistics are pure additive
  * counts (per-(class, token) token counts and per-class doc counts),
  * so each micro-batch appends tiny partial-count files and the folded
  * stores equal the batch statistics EXACTLY — the rebuilt model and
  * its held-out confusion matrix are bit-identical to q137, which is
  * why the two share one DuckDB oracle. State grows with the
  * vocab×classes TYPE table (Zipf-bounded, far sublinear in the
  * corpus), appended as `batch=` Overwrite partials (retry replaces,
  * never double-counts) and folded with one sum at read time.
  */
object NbClassifierStream {

  /** Run the staged splits to completion (one micro-batch per file),
    * then rebuild the model from the folded counts and score the
    * arrived held-out fifth: schema and values identical to q137.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String): DataFrame = {
    val tokDir = s"$workDir/nb_tok_counts"
    val docDir = s"$workDir/nb_doc_counts"
    MicroBatchFold.runInputGated(spark, inputDir, workDir) { (batch, batchId) =>
      val train = batch
        .select(col("doc_id").cast("long").as("doc_id"),
          col("lang"), col("text"))
        .where(col("doc_id") % 5 =!= 4)
      // two independent batch-keyed count partials — overlap them
      // on a driver pool (Sinks.inParallel, guide §2.6)
      Sinks.inParallel(spark, Seq(
        s"b$batchId: token count write" -> (() =>
          graft.pipeline.Load.writeBatchPartial(
            TextOps.nbToks(train)
              .groupBy(col("lang").as("cls"), col("tok"))
              .agg(count(lit(1)).as("n"))
              .coalesce(1),
            tokDir, batchId)),
        s"b$batchId: doc count write" -> (() =>
          graft.pipeline.Load.writeBatchPartial(
            train.groupBy(col("lang").as("cls"))
              .agg(count(lit(1)).as("nd"))
              .coalesce(1),
            docDir, batchId))))
    }
    val c2 = spark.read.parquet(tokDir)
      .groupBy(col("cls"), col("tok")).agg(sum(col("n")).as("c2"))
    val priors = spark.read.parquet(docDir)
      .groupBy(col("cls")).agg(sum(col("nd")).as("ndoc"))
    val test = MicroBatchFold.arrived(spark, inputDir)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("lang"), col("text"))
      .where(col("doc_id") % 5 === 4)
    TextOps.nbConfusion(c2, priors, TextOps.nbToks(test))
  }

  /** Stage + run in a fresh work dir: the q138 entry. */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q138_nb_stream", docs, nSplits)(run(spark, _, _))
}

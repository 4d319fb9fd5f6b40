package graft.streaming

import graft.functions.CmsSketch
import graft.functions.PolyHash.polyHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous frequency monitoring with a count-min sketch (q109):
  * documents arrive as files and every micro-batch folds its tokens
  * into the persistent sketch by appending ONE row — its partial d×w
  * counter matrix. Counter matrices are entrywise-additive, so the
  * accumulated state is the column-sum of the partials and equals the
  * batch-built matrix EXACTLY (no approximation added by streaming —
  * the property that makes sketches the right streaming state: the
  * whole corpus's frequency structure in d·w longs per batch, vs the
  * unbounded per-key state a streaming groupBy(token) would hold).
  *
  * Because incremental == batch holds bit-for-bit, q109 shares q108's
  * DuckDB oracle end to end.
  */
object CmsStream {

  private val D = 4
  private val W = 16

  /** Run the staged splits to completion (one micro-batch per file),
    * then answer point queries for every distinct token: schema and
    * values identical to q108.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String): DataFrame = {
    val partsDir = s"$workDir/cms_partials"
    MicroBatchFold.runInputGated(spark, inputDir, workDir) { (batch, batchId) =>
      graft.pipeline.Load.writeBatchPartial(
        batch
          .select(explode_outer(split(col("text"), " ")).as("tok"))
          .where(col("tok").isNotNull && col("tok") =!= "")
          .agg(CmsSketch.cmsCounters(polyHash(col("tok")), D, W).as("cms"))
          .coalesce(1),
        partsDir, batchId)
    }
    // fold the partial matrices entrywise (posexplode -> sum per cell):
    // the accumulated sketch state, as a 64-row (idx, cnt) cell table
    val cells = spark.read.parquet(partsDir)
      .select(posexplode(col("cms")).as(Seq("idx", "cnt")))
      .groupBy(col("idx")).agg(sum(col("cnt")).as("cnt"))
    // point queries over the arrived corpus: per distinct token, the
    // min of its d cells (same join structure the DuckDB oracle uses)
    val exact = MicroBatchFold.arrived(spark, inputDir)
      .select(explode_outer(split(col("text"), " ")).as("tok"))
      .where(col("tok").isNotNull && col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      .withColumn("h", polyHash(col("tok")))
    val probes = exact.select(col("tok"), col("n_exact"), col("h"),
        explode(array((0 until D).map(lit): _*)).as("j"))
      .withColumn("cell",
        ((lit(CmsSketch.RowA) + col("j") * CmsSketch.RowStep) * col("h")
          + CmsSketch.RowB) % CmsSketch.P % W)
      .withColumn("idx", (col("j") * W + col("cell")).cast("int"))
    probes
      .join(broadcast(cells), Seq("idx"))
      .groupBy(col("tok"))
      .agg(first(col("n_exact")).as("n_exact"), min(col("cnt")).as("est"))
      .select(col("tok"), col("n_exact"), col("est"),
        (col("est") - col("n_exact")).as("overcount"))
      .orderBy(col("tok"))
  }

  /** Stage + run in a fresh work dir: the q109 entry. */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q109_cms_stream", docs, nSplits)(run(spark, _, _))
}

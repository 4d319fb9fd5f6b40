package graft.streaming

import graft.functions.HllSketch
import graft.queries.SketchOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous distinct-count monitoring with the portable HLL (q125):
  * keys arrive as files and every micro-batch folds into the persistent
  * sketch by appending ONE row — its partial m-register array. Register
  * arrays are entrywise-MAX-mergeable, so the accumulated state is the
  * column-max of the partials and equals the batch-built registers
  * EXACTLY: streaming adds zero approximation on top of the sketch's
  * own, and q125 shares q124's full DuckDB oracle — the
  * max-mergeable sibling of q109's additive CMS fold, completing the
  * streaming story for all three sketch families (KMV q123, CMS q109,
  * HLL here).
  */
object HllStream {

  private val M = 256

  /** Run the staged splits to completion (one micro-batch per file),
    * then digest the folded registers: schema and values identical to
    * q124.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String): DataFrame = {
    val partsDir = s"$workDir/hll_partials"
    MicroBatchFold.runInputGated(spark, inputDir, workDir) { (batch, batchId) =>
      graft.pipeline.Load.writeBatchPartial(
        batch
          .select(SketchOps.hllPack(col("key")).as("pack"))
          .agg(HllSketch.hllRegisters(col("pack"), M).as("regs"))
          .coalesce(1),
        partsDir, batchId)
    }
    // fold the partial register arrays entrywise by MAX, rebuild the
    // register array in index order, and digest exactly like q124
    val folded = spark.read.parquet(partsDir)
      .select(posexplode(col("regs")).as(Seq("idx", "r")))
      .groupBy(col("idx")).agg(max(col("r")).as("r"))
      .agg(sort_array(collect_list(struct(col("idx"), col("r")))).as("a"))
      .select(transform(col("a"), x => x("r")).as("regs"))
    val exact = MicroBatchFold.arrived(spark, inputDir)
      .agg(countDistinct(col("key")).as("n_exact"))
    SketchOps.hllDigest(folded.crossJoin(exact), M)
  }

  /** Stage + run in a fresh work dir: the q125 entry. `keyed` must carry
    * (doc_id, key) — doc_id only orders the staged arrival.
    */
  def runOn(spark: SparkSession, keyed: DataFrame, nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q125_hll_stream", keyed, nSplits)(run(spark, _, _))
}

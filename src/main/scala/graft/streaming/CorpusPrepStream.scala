package graft.streaming

import graft.functions.PolyHash.polyHash
import graft.queries.TrainingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Continuous-ingestion form of the q98 corpus-prep composition (q104):
  * documents arrive as files and every micro-batch flows through the
  * same four stages — stateless quality gate, prefix-dedup, 32/24
  * chunking, hash split — with the two stateful pieces made
  * incremental:
  *
  *  - dedup state is a persistent store of seen 16-token-prefix
  *    IDENTITIES, not prefix strings: TWO independent dual polynomial
  *    hash packs per prefix (`p31*2^30 + p131` and `p53*2^30 + p97`,
  *    ~120 bits total), so the store and every anti-join probe move 16
  *    bytes instead of ~100-byte strings. One ~60-bit pack is
  *    collision-negligible only to ~1e8 prefixes (the birthday bound
  *    yields dozens of expected collisions at n≈2^33, each silently
  *    dropping a non-duplicate doc); the second independent pack
  *    squares the collision odds away for any store this engine will
  *    ever hold. Join keys are (pack, pack2); bucketing stays on pack
  *    alone so the store layout and prune lists are unchanged;
  *  - the final per-(split, lang) stats accumulate as per-batch partial
  *    rows and fold with plain sums at read time — chunking never
  *    recomputes, and n_docs sums exactly because a doc chunks in
  *    exactly one batch.
  *
  * With arrival order staged to doc_id order, "first prefix wins by
  * arrival" equals the batch operator's keep-lowest-doc_id, so q104
  * shares q98's DuckDB oracle end to end.
  */
object CorpusPrepStream {

  private val packSchema = StructType(Seq(StructField("pack", LongType),
    StructField("pack2", LongType)))
  private val PackBase = graft.functions.ShingleKernel.PackBase
  private val PackKeys = Seq("pack", "pack2")
  private def storeDir(workDir: String): String = s"$workDir/pfx_store"

  /** Run the staged splits to completion (one micro-batch per file) and
    * return the folded per-(split, lang) stats, schema-identical to
    * q98's output.
    *
    * The prefix store uses the same bucketed layout as
    * [[SpanDedupStream]]'s gram store: Hive-partitioned on
    * `bucket = pack mod nBuckets`, each batch's anti-joins
    * partition-pruned to the buckets its own prefixes hash into (once
    * the store crosses the size threshold — the same cost-based
    * switch), the delta appended with one task per bucket, and the
    * per-bucket small files consolidated on a cadence
    * ([[graft.pipeline.Load.consolidateBatchStore]]). Retry safety is
    * the [[SpanDedupStream]] contract: both sinks are `batch=`-keyed
    * Overwrite partials and the store read excludes the batch's own
    * partition, so an at-least-once retry recomputes against exactly
    * the pre-batch state and replaces its partials bit-identically.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String,
          nBuckets: Int = 16, compactEvery: Int = 8): DataFrame = {
    // narrow-shuffle/AQE-off batches below the switch
    MicroBatchFold.run(spark, inputDir, workDir,
        narrow = () => MicroBatchFold.below(spark, storeDir(workDir))) {
      (batch, batchId) => processBatch(batch.sparkSession, batch, batchId,
        workDir, nBuckets, compactEvery)
    }
    spark.read.parquet(s"$workDir/partials")
      .groupBy(col("split"), col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
           sum(col("n_chunks")).as("n_chunks"),
           sum(col("sum_ctoks")).as("sum_ctoks"))
      .orderBy(col("split"), col("lang"))
  }

  /** One micro-batch of the incremental corpus prep — the foreachBatch
    * body, exposed so the retry contract is directly testable: calling
    * this twice with the same batchId (the at-least-once scenario where
    * the first attempt completed its store append before failing) must
    * produce bit-identical stats and store partials.
    */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
                                  batchId: Long, workDir: String,
                                  nBuckets: Int, compactEvery: Int): Unit = {
    val storeDir = CorpusPrepStream.storeDir(workDir)
    val partsDir = s"$workDir/partials"
    val bucketOf = pmod(col("pack"), lit(nBuckets.toLong)).cast("int")
    // three consumers scan the gated batch (bucket list, chunking,
    // store delta): cache it for the micro-batch's lifetime
    val gated = TrainingOps.withRowQuality(
        batch.select(col("doc_id").cast("long").as("doc_id"),
                     col("lang"), col("text")))
      .where(col("quality_pass") === 1)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("pfx",
        concat_ws(" ", slice(split(col("text"), " "), 1, 16)))
      .withColumn("pack",
        polyHash(col("pfx")) * lit(PackBase) + polyHash(col("pfx"), 131))
      .withColumn("pack2",
        polyHash(col("pfx"), 53) * lit(PackBase) + polyHash(col("pfx"), 97))
      .drop("pfx")
      .cache()
    // missing store = first batch (nothing to prune — skip the
    // bucket-list job); a read error on an EXISTING store must fail
    // the batch, not dedup against nothing. The bucket list — the
    // partition-prune filter for both store probes — is the batch
    // prefixes' distinct hash buckets, bounded by nBuckets.
    // Cost-based like SpanDedupStream: a small store is scanned
    // whole rather than paying an extra job for the prune list.
    val big = !MicroBatchFold.below(spark, storeDir)
    val store = graft.pipeline.Load
      .readStoreExcludingBatch(spark, storeDir, batchId)
      .map { s =>
        val pruned = if (!big) s else {
          val batchBuckets = gated.select(bucketOf.as("bucket")).distinct()
            .collect().map(_.getInt(0)).toSeq
          graft.pipeline.Load.pruneBuckets(s, batchBuckets, nBuckets)
        }
        pruned.select(PackKeys.map(col): _*)
      }
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), packSchema))
    // a prefix seen in an earlier batch loses outright; within the
    // batch the lowest doc_id keeps (arrival order = doc_id order)
    val kept = gated
      .join(store, PackKeys, "left_anti")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("pack"), col("pack2"))
          .orderBy(col("doc_id"))))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("text"))
    // the stats partial and the store delta are independent batch-keyed
    // Overwrite partials over the shared cached `gated` — overlap them
    // on a driver pool (Sinks.inParallel, guide §2.6). One writer per
    // bucket for the delta (a 4-task shuffle under the narrow width;
    // it bounds store files per batch); consolidation cadence is
    // cost-gated like SpanDedupStream — rewriting a tiny store every
    // few batches was pure overhead
    Sinks.inParallel(spark, Seq(
      s"b$batchId: stats partial write" -> (() =>
        graft.pipeline.Load.writeBatchPartial(
          TrainingOps.chunkSplitStats(kept).coalesce(1), partsDir, batchId)),
      s"b$batchId: prefix store write" -> (() =>
        graft.pipeline.Load.writeBatchPartial(
          gated.select(PackKeys.map(col): _*).distinct()
            .join(store, PackKeys, "left_anti")
            .withColumn("bucket", bucketOf)
            .repartition(col("bucket")),
          storeDir, batchId, Seq("bucket")))))
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
        (big || graft.pipeline.Load.storeFileCount(spark, storeDir) >
          4 * nBuckets))
      graft.pipeline.Load.consolidateBatchStore(spark, storeDir, batchId)
    gated.unpersist()
    ()
  }

  /** Stage + run in a fresh work dir: the q104 entry. */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q104_corpus_stream", docs, nSplits)(run(spark, _, _))
}

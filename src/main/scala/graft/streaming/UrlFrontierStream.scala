package graft.streaming

import graft.functions.PolyHash.polyHash
import graft.queries.CurationOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Incremental URL frontier (q179): the continuous-ingestion twin of
  * q177's batch canonicalize-and-dedup — the form a real crawl frontier
  * actually runs, where URLs arrive continuously and "have we seen this
  * canonical URL before" is a store probe, not a corpus-wide distinct.
  *
  * Per micro-batch: canonicalize every discovered URL (the exact q177
  * rule — shared [[CurationOps.canonParts]] column expressions), collapse
  * within-batch duplicates, anti-join the survivors against a persistent
  * seen-store of canonical-URL identities, append the accepted set to the
  * store, and append one per-host PARTIAL row (n_raw, n_new,
  * hashsum_new). The registered result folds partials with plain sums —
  * n_canon and the order-invariant checksum add exactly because each
  * canonical URL is accepted in exactly one batch.
  *
  * Store identity is the CorpusPrepStream dual pack (two independent
  * ~60-bit polynomial packs per canonical URL, ~120 bits total — the
  * birthday bound on one pack admits collisions near 2^33 URLs; the
  * second independent pack squares those odds away), bucketed
  * Hive-style on `pack mod nBuckets` with probes partition-pruned once
  * the store crosses the cost threshold. Retry safety is the
  * [[SpanDedupStream]] contract: both sinks are `batch=`-keyed Overwrite
  * partials and the store read excludes the batch's own partition, so an
  * at-least-once retry recomputes against exactly the pre-batch state.
  *
  * Because canonical-URL counts and hash checksums do not depend on
  * WHICH doc first discovered a URL, the stream output equals the batch
  * q177 frame under any arrival order — q179 shares q177's full DuckDB
  * oracle, which therefore checks the store handoff and the partial
  * fold end to end.
  */
object UrlFrontierStream {

  private val packSchema = StructType(Seq(StructField("pack", LongType),
    StructField("pack2", LongType)))
  private val PackBase = graft.functions.ShingleKernel.PackBase
  private val PackKeys = Seq("pack", "pack2")

  /** Run the staged splits to completion and return the folded per-host
    * frame, schema-identical to q177's output.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String,
          nBuckets: Int = 16, compactEvery: Int = 8): DataFrame = {
    MicroBatchFold.run(spark, inputDir, workDir) { (batch, batchId) =>
      processBatch(spark, batch, batchId, workDir, nBuckets, compactEvery)
    }
    spark.read.parquet(s"$workDir/partials")
      .groupBy(col("host"))
      .agg(sum(col("n_raw")).as("n_raw"),
           sum(col("n_new")).as("n_canon"),
           sum(col("hashsum_new")).as("canon_hashsum"))
      .orderBy(col("host"))
  }

  /** One micro-batch — exposed so the retry contract is directly
    * testable: a second call with the same batchId must leave partials
    * and store bit-identical.
    */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
                                  batchId: Long, workDir: String,
                                  nBuckets: Int, compactEvery: Int): Unit = {
    val storeDir = s"$workDir/url_store"
    val partsDir = s"$workDir/partials"
    val bucketOf = pmod(col("pack"), lit(nBuckets.toLong)).cast("int")
    val (host, canon) = CurationOps.canonParts(col("u"))
    val urls = batch
      .select(col("doc_id").cast("long").as("doc_id"))
      .where(col("doc_id").isNotNull)
      .select(explode(CurationOps.urlArray).as("u"))
      .select(host.as("host"), canon.as("canon"))
    // two consumers (raw counts, dedup chain) scan the batch's URLs
    val withPacks = urls
      .withColumn("pack",
        polyHash(col("canon")) * lit(PackBase) + polyHash(col("canon"), 131))
      .withColumn("pack2",
        polyHash(col("canon"), 53) * lit(PackBase) + polyHash(col("canon"), 97))
      .cache()
    val big = !MicroBatchFold.below(spark, storeDir)
    MicroBatchFold.scoped(spark, batch, narrow = !big) {
      val store = graft.pipeline.Load
        .readStoreExcludingBatch(spark, storeDir, batchId)
        .map { s =>
          val pruned = if (!big) s else {
            val batchBuckets = withPacks.select(bucketOf.as("bucket"))
              .distinct().collect().map(_.getInt(0)).toSeq
            graft.pipeline.Load.pruneBuckets(s, batchBuckets, nBuckets)
          }
          pruned.select(PackKeys.map(col): _*)
        }
        .getOrElse(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), packSchema))
      // accepted = first-ever sighting: batch-distinct, then store probe
      val accepted = withPacks
        .select(col("host"), col("canon"), col("pack"), col("pack2"))
        .distinct()
        .join(store, PackKeys, "left_anti")
        .cache()
      val rawCounts = withPacks.groupBy(col("host"))
        .agg(count(lit(1)).as("n_raw"))
      val newCounts = accepted.groupBy(col("host"))
        .agg(count(lit(1)).as("n_new"),
             sum(polyHash(col("canon"))).as("hashsum_new"))
      // per-host partial and store delta are independent batch-keyed
      // Overwrite partials sharing the cached `withPacks`/`accepted` —
      // overlap them on a driver pool (Sinks.inParallel, guide §2.6)
      Sinks.inParallel(spark, Seq(
        s"b$batchId: host partial write" -> (() =>
          graft.pipeline.Load.writeBatchPartial(
            rawCounts.join(newCounts, Seq("host"), "left")
              .select(col("host"), col("n_raw"),
                coalesce(col("n_new"), lit(0L)).as("n_new"),
                coalesce(col("hashsum_new"), lit(0L)).as("hashsum_new"))
              .coalesce(1),
            partsDir, batchId)),
        s"b$batchId: url store write" -> (() =>
          graft.pipeline.Load.writeBatchPartial(
            accepted.select(PackKeys.map(col): _*)
              .withColumn("bucket", bucketOf)
              .repartition(col("bucket")),
            storeDir, batchId, Seq("bucket")))))
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
          (big || graft.pipeline.Load.storeFileCount(spark, storeDir) >
            4 * nBuckets))
        graft.pipeline.Load.consolidateBatchStore(spark, storeDir, batchId)
      accepted.unpersist()
      withPacks.unpersist()
      ()
    }
  }

  /** Stage + run in a fresh work dir: the q179 entry. */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q179_url_frontier", docs, nSplits)(run(spark, _, _))
}

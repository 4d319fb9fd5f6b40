package graft.streaming

import graft.ops.SpanDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Continuous-ingestion form of span dedup (q101): documents arrive as
  * files, and each micro-batch is deduplicated against everything seen
  * before it — earlier batches through a persistent store of gram
  * packs, earlier docs within the batch through the same first-wins
  * window the batch operator uses. The store is the stream's state,
  * but kept OUTSIDE the state store on purpose: gram identity is
  * append-only and unbounded, exactly what a pack-keyed parquet (at
  * scale: bucketed) table is for, while per-key streaming state would
  * checkpoint the whole gram universe every batch.
  *
  * When arrival order matches doc_id order, the incremental output is
  * row-for-row the batch operator's output — q101 shares q100's DuckDB
  * oracle on that guarantee.
  */
object SpanDedupStream {

  private val packSchema = StructType(Seq(StructField("pack", LongType)))

  /** Run the incremental dedup over the staged splits to completion
    * (one micro-batch per file) and return the accumulated per-doc
    * output, schema-identical to `SpanDedup.dedupSpans`.
    *
    * Store layout (the 100 TB shape): gram packs live in a Hive-style
    * `bucket=<pack mod nBuckets>` directory tree. Each micro-batch
    * (1) derives the distinct buckets its grams touch, (2) reads the
    * store WITH a partition filter on those buckets — directory-level
    * pruning, so the anti-join scans only matching store buckets, never
    * full history — and (3) appends its first-seen packs partitioned by
    * bucket with one task per bucket (natural parallelism; no
    * one-task `coalesce(1)` funnel). Every `compactEvery` batches the
    * accumulated per-bucket small files are rewritten in place
    * ([[graft.pipeline.Load.compactPartitioned]] skips already-compact
    * buckets), so scan task counts track data size, not append count.
    *
    * Restart safety: BOTH sinks are keyed on batchId (`batch=<id>`
    * Overwrite partials, Load.writeBatchPartial) and the store read
    * EXCLUDES the current batch's own partition
    * (Load.readStoreExcludingBatch). The exclusion is what makes a
    * retry recompute the same answer: foreachBatch is at-least-once,
    * and a batch retried after its store delta landed would otherwise
    * dedup against a store already holding its own packs — every gram
    * anti-joins away, and the recomputed (wrong, all-duplicate) doc
    * stats would REPLACE the correct ones in the batch-keyed out
    * partial. With the exclusion, a retry sees exactly the pre-batch
    * state, recomputes bit-identical outputs, and its two Overwrites
    * replace equal data with equal data. Cross-batch consolidation
    * (Load.consolidateBatchStore) replaces the per-leaf compactor: it
    * merges only partitions strictly BEFORE the current batch, so it
    * can never fold the current batch's delta into an unexcludable
    * directory.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String,
          w: Int, nBuckets: Int = 16, compactEvery: Int = 8): DataFrame = {
    MicroBatchFold.run(spark, inputDir, workDir) { (batch0, batchId) =>
      processBatch(spark, batch0, batchId, workDir, w, nBuckets, compactEvery)
    }
    spark.read.parquet(s"$workDir/out")
      .select(col("doc_id"), col("n_tok"), col("n_dup_spans"),
        col("n_removed"), col("kept_hash"))
      .orderBy("doc_id")
  }

  /** One micro-batch of the incremental dedup — the foreachBatch body,
    * exposed so the retry contract is directly testable: calling this
    * twice with the same batchId (the at-least-once scenario where the
    * first attempt completed its store append before failing) must
    * produce bit-identical out and store partials.
    */
  private[graft] def processBatch(spark: SparkSession, batch0: DataFrame,
                                  batchId: Long, workDir: String, w: Int,
                                  nBuckets: Int,
                                  compactEvery: Int): Unit = {
    val storeDir = s"$workDir/gram_store"
    val outDir = s"$workDir/out"
    val bucketOf = pmod(col("pack"), lit(nBuckets.toLong)).cast("int")
    // three consumers scan the batch (bucket list, dedup, delta):
    // cache it for the micro-batch's lifetime
    val batch = batch0.cache()
    // missing store = first batch (nothing to prune, skip the
    // bucket-list job); a read error on an EXISTING store must fail
    // the batch, not dedup against nothing. The read excludes the
    // batch's own `batch=` partition so an at-least-once retry
    // dedups against the pre-batch state. The bucket list — the
    // partition-prune filter for the store probe — is the batch's
    // grams' distinct hash buckets: bounded by nBuckets, a tiny
    // driver-side list, not data. Cost-based: below the size
    // threshold a full scan beats paying an extra job for the list.
    val big = !MicroBatchFold.below(spark, storeDir)
    // below the switch, plan the whole batch with narrow shuffles and
    // AQE off — micro-batch data never needs runtime re-planning, and
    // each AQE exchange materialization is a whole extra job
    MicroBatchFold.scoped(spark, batch0, narrow = !big) {
    val store = graft.pipeline.Load
      .readStoreExcludingBatch(spark, storeDir, batchId)
      .map { s =>
        val pruned = if (!big) s else {
          val batchBuckets = SpanDedup.grams(batch, w)
            .select(bucketOf.as("bucket")).distinct()
            .collect().map(_.getInt(0)).toSeq
          graft.pipeline.Load.pruneBuckets(s, batchBuckets, nBuckets)
        }
        pruned.select(col("pack"))
      }
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), packSchema))
    val (out, fresh, done) = SpanDedup.dedupBatch(batch, store, w)
    // the doc output and the batch-keyed store delta are independent
    // batch-keyed Overwrite partials sharing one cached election
    // (dedupBatch's firstsKept) — overlap them on a driver pool
    // (Sinks.inParallel, guide §2.6); one writer per bucket for the
    // delta (under the narrow width the repartition is a 4-task
    // shuffle, and it is what bounds store files per batch)
    Sinks.inParallel(spark, Seq(
      s"b$batchId: out write" -> (() =>
        graft.pipeline.Load.writeBatchPartial(out, outDir, batchId)),
      s"b$batchId: gram store write" -> (() =>
        graft.pipeline.Load.writeBatchPartial(
          fresh.withColumn("bucket", bucketOf).repartition(col("bucket")),
          storeDir, batchId, Seq("bucket")))))
    // consolidation cadence is also cost-gated: rewriting a tiny store
    // every few batches was pure overhead; it now waits for byte-scale
    // OR file-count fragmentation (a crashed consolidation's leftover
    // duplicates are membership-invisible and get swept by whichever
    // trigger fires next)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
        (big || graft.pipeline.Load.storeFileCount(spark, storeDir) >
          4 * nBuckets))
      graft.pipeline.Load.consolidateBatchStore(spark, storeDir, batchId)
    done()
    batch.unpersist()
    ()
    }
  }

  /** Stage + run in a fresh work dir: the q101 entry. */
  def runOn(spark: SparkSession, docs: DataFrame, w: Int,
            nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q101_span_stream", docs, nSplits)(
      run(spark, _, _, w))
}

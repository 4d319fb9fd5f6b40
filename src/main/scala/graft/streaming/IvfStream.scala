package graft.streaming

import graft.functions.VectorFunctions.squaredNorm
import graft.queries.SelectionOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming ANN index maintenance (q111) — q86's continuous-ingestion
  * twin: vectors arrive as files, the FIRST batch pins the seeded
  * coarse quantizer (the first 8 vector ids, which id-ordered staging
  * guarantees arrive together), and every batch assigns its vectors
  * against the persisted centroids and appends to the bucket store.
  * The index is therefore maintained incrementally — each arriving
  * vector is placed exactly once, no rebuild — and because assignment
  * is a pure per-vector function of the pinned centroids, the
  * accumulated store is IDENTICAL to the batch-built index: the q86
  * probe over it reproduces the batch output row for row, so q111
  * shares q86's DuckDB oracle.
  *
  * Scale shape per batch: one broadcast of 8 centroids, a narrow
  * argmax pass, one append. At 100 TB the store is bucket-partitioned
  * parquet and probes prune to their probed buckets; the quantizer
  * would be re-trained (and the store re-bucketed) only on drift —
  * an offline maintenance job, not an ingest-path cost.
  *
  * k is PINNED at 8 here, so per-vector assignment is O(k) constant
  * and the round-7 verdict's quadratic-assignment caveat does not
  * apply. If a variant ever scales k with the corpus (as q106's
  * adaptive k does), route assignment through
  * [[graft.queries.SelectionOps.assignTwoLevel]] — N·2√k instead of
  * N·k cosines — rather than widening this flat argmax.
  */
object IvfStream {

  /** Run the staged splits to completion, then answer the q86 probe
    * (queries = vec_ids 8..17, top-3 per query by rounded cosine) from
    * the accumulated bucket store.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String): DataFrame = {
    val storeDir = s"$workDir/bucket_store"
    val centDir = s"$workDir/centroids"
    MicroBatchFold.run(spark, inputDir, workDir) { (batch, batchId) =>
      MicroBatchFold.scoped(spark, batch,
          narrow = MicroBatchFold.below(spark, storeDir)) {
        // staged via the shared doc_id-range stager; restore the key
        // name. Zero-norm rows drop here like everywhere in the
        // similarity family (r13 degenerate sweep): they can neither
        // seed a centroid (cn2=0 divisor) nor join a bucket.
        val e = batch
          .select(col("doc_id").as("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("n2", squaredNorm(col("v")))
          .where(col("n2") > 0d)
        // pin the quantizer from the batch that carries the seed ids;
        // id-ordered arrival puts every seed the corpus HAS in batch 0.
        // A corpus so small that its id span splits below 8 pins on the
        // usable seeds batch 0 carries (documented degenerate-corpus
        // deviation: the stream's seed set is split 0's prefix of the
        // batch twin's); a corpus with NO usable seed ids builds no
        // index and the probe answers empty.
        if (graft.pipeline.Load.readStoreIfExists(spark, centDir).isEmpty) {
          val seeds = SelectionOps.seedCentroids(e).cache()
          val k = seeds.count()
          // While NO quantizer is pinned yet, ANY batch may pin whatever
          // usable seeds it carries (ADVICE r13): if split 0's seed-range
          // vectors were all zero-norm (dropped by the n2>0 guard above)
          // and a later split carries usable vec_id<8 rows, failing loud
          // here would kill a degenerate stream that contracts to "empty
          // result, not dead query". Seeds arriving AFTER a store is
          // pinned never reach this block (guarded by isEmpty), so the
          // ErrorIfExists write below stays the loud path for a
          // double-pin, the one state that would mean staging broke.
          if (k > 0L) {
            // ADVICE r14: a pin on batchId > 0 is the degenerate-corpus
            // path ONLY if the earlier splits carried no usable seeds;
            // if staging ever delivers seed ids late in a healthy
            // corpus, the pinned quantizer is partial. Keep that state
            // loud in the logs so a mis-staged corpus is diagnosable.
            if (batchId > 0L)
              System.err.println(
                s"[ivf-stream] LATE PIN: quantizer pinned on batch $batchId " +
                  s"with $k seed(s) — expected batch 0 under id-ordered " +
                  "staging; earlier splits carried no usable seed vectors")
            seeds.coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(centDir)
          }
          seeds.unpersist()
        }
        // store layout: batch=<id>/bucket=<b> — idempotent per batch AND
        // prunable per bucket, so a probe reads only the cells it
        // searches (the same directory-pruning shape as the q101 gram
        // store; compaction on cadence would merge per-bucket files)
        graft.pipeline.Load.readStoreIfExists(spark, centDir).foreach { cent =>
          graft.pipeline.Load.writeBatchPartial(
            SelectionOps.assignWith(e, cent).repartition(col("bucket")),
            storeDir, batchId, partitionCols = Seq("bucket"))
        }
      }
    }
    // the q86 probe over the accumulated store; a corpus that pinned no
    // quantizer (no usable seed ids) built no store — empty answer
    if (graft.pipeline.Load.readStoreIfExists(spark, storeDir).isEmpty)
      return spark.range(0).select(
        col("id").as("q_id"), col("id").as("bucket"),
        col("id").as("n_id"), col("id").cast("double").as("cos_r"))
    val assigned = spark.read.parquet(storeDir)
    val probes = assigned.where(col("vec_id") >= 8 && col("vec_id") < 18)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("bucket"))
    assigned.join(broadcast(probes), Seq("bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos_r",
        round(graft.functions.VectorFunctions.dotProduct(col("v"), col("qv")) /
          sqrt(col("n2") * col("qn2")), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))))
      .where(col("rn") <= 3)
      .select(col("q_id"), col("bucket").cast("long").as("bucket"),
        col("vec_id").as("n_id"), col("cos_r"))
      .orderBy(col("q_id"), col("cos_r").desc, col("n_id"))
  }

  /** Stage + run in a fresh work dir: the q111 entry. Embeddings are
    * staged on vec_id via the shared doc_id-range stager.
    */
  def runOn(spark: SparkSession, embeddings: DataFrame,
            nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q111_ivf_stream",
      embeddings.withColumnRenamed("vec_id", "doc_id"), nSplits)(
      run(spark, _, _))
}

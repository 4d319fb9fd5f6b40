package graft.streaming

import graft.functions.ShingleKernel.{minhashSig, shinglePacks}
import graft.pipeline.Load
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Continuous-ingestion MinHash+LSH near-dup dedup (q129): documents
  * arrive as files, and each micro-batch decides keep/drop for its docs
  * against everything that arrived before — the q70 banding (32
  * portable minhashes, 8 bands of 4, exact-Jaccard rescore at 0.8) run
  * incrementally. Completes the streaming-twin set: exact (q104
  * prefixes), span (q101), sketch (q109/q123/q125), index (q111) and
  * now near-dup text dedup all have continuous forms.
  *
  * Semantics: a doc is a duplicate iff some PRIOR doc (any earlier
  * arrival, kept or dropped itself) bands with it and rescores at
  * jac >= 0.8. Deduping against all priors rather than against
  * kept-only makes the answer order-independent per doc and
  * NON-RECURSIVE — so with arrival staged in doc_id order the whole
  * stream replays as one DuckDB query over the q70 pair set
  * (TextOps.minhashDedupOracleSql), checking cross-batch store state
  * end to end. (Kept-only dedup would be a sequential greedy chain —
  * the natural SPEC check, but no closed-form oracle.)
  *
  * State lives OUTSIDE the streaming state store (the q101 decision:
  * band and shingle identity is append-only and unbounded — per-key
  * state would checkpoint the corpus every batch) in two
  * bucket-partitioned parquet stores:
  *
  *  - band store `(doc_id, n, band, key)`, bucketed on
  *    `hash(band, key) mod B`: the probe side of candidate generation.
  *    Each batch prunes its probe to the buckets its own band keys
  *    hash into — directory-level partition pruning, never a full
  *    history scan (above the cost-switch threshold).
  *  - pack store `(doc_id, pack)`, bucketed on `doc_id mod B`: the
  *    rescore side. Only buckets holding candidate partners are read.
  *
  * Both stores append under `batch=<id>` with Overwrite
  * (Load.writeBatchPartial) AND are read through
  * Load.readStoreExcludingBatch: the Overwrite stops a retry from
  * double-APPENDING, and the read-side exclusion stops it from
  * read-its-own-partial — a batch retried after its store partial
  * landed would otherwise see its own (doc_id, pack) rows in
  * histPacks, double every common-shingle count cmn, inflate Jaccard
  * into false duplicates, and Overwrite the correct verdicts with
  * wrong ones. With both halves, a retry recomputes bit-identically
  * against the pre-batch state; `batch=` doubles as the retention key.
  *
  * 100 TB shape per batch: one band-key shuffle against a pruned probe
  * set, one pack join against pruned rescore buckets, candidates only
  * (the LSH guarantee bounds rescore work); store writes go one task
  * per bucket, no single-task funnel.
  */
object MinHashDedupStream {

  private val Threshold = 0.8
  private val NumBands = 8
  private val BandSize = 4

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      schema)

  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n", LongType),
    StructField("band", IntegerType),
    StructField("key", ArrayType(LongType))))

  private val packSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("pack", LongType)))

  /** Run the incremental near-dup dedup over staged splits to
    * completion (one micro-batch per file) and return the accumulated
    * per-doc verdicts `(doc_id, n_dup_prior, kept)`.
    */
  /** Post-run store-size report (stderr): the scale-rung evidence that
    * the band/pack/label stores grow with the corpus, not with batch
    * count — pathology here (store ≫ input) would mean the `batch=`
    * retention or bucketing broke.
    */
  private def reportStores(spark: SparkSession, workDir: String,
                           tag: String): Unit = {
    val sizes = Seq("band_store", "pack_store", "labels", "out").map { s =>
      s"$s=${Load.storeBytes(spark, s"$workDir/$s")}"
    }
    System.err.println(s"[$tag] storeBytes ${sizes.mkString(" ")}")
  }

  def run(spark: SparkSession, inputDir: String, workDir: String,
          nBuckets: Int = 16,
          pruneThresholdBytes: Long = MicroBatchFold.NarrowBelowBytes)
      : DataFrame = {
    runStream(spark, inputDir, workDir, nBuckets, pruneThresholdBytes,
      foldCc = false)
    reportStores(spark, workDir, "q129")
    spark.read.parquet(s"$workDir/out")
      .select(col("doc_id"), col("n_dup_prior"), col("kept"))
      .orderBy("doc_id")
  }

  /** q134: run the same stream with the incremental connected-components
    * fold enabled and return the FINAL label snapshot — every doc that
    * appears in some confirmed near-dup pair, labeled with its
    * component's minimum doc_id. Equal to batch CC over the full q70
    * pair set (the stream-equals-batch spec + DuckDB recursive-CTE
    * oracle both certify it).
    */
  def runClusters(spark: SparkSession, inputDir: String, workDir: String,
                  nBuckets: Int = 16,
                  pruneThresholdBytes: Long = MicroBatchFold.NarrowBelowBytes)
      : DataFrame = {
    runStream(spark, inputDir, workDir, nBuckets, pruneThresholdBytes,
      foldCc = true)
    reportStores(spark, workDir, "q134")
    val last = new java.io.File(s"$workDir/labels").listFiles()
      .map(_.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).max
    spark.read.parquet(s"$workDir/labels/batch=$last")
      .select(col("node").cast("long").as("doc_id"),
        col("cluster_rep").cast("long").as("cluster_rep"))
      .orderBy("doc_id")
  }

  private def runStream(spark: SparkSession, inputDir: String,
                        workDir: String, nBuckets: Int,
                        pruneThresholdBytes: Long, foldCc: Boolean): Unit = {
    MicroBatchFold.run(spark, inputDir, workDir) { (batch0, batchId) =>
      processBatch(spark, batch0, batchId, workDir, nBuckets,
        pruneThresholdBytes, foldCc)
    }
  }

  /** One micro-batch of the incremental near-dup dedup — the
    * foreachBatch body, exposed so the retry contract is directly
    * testable: calling this twice with the same batchId (the
    * at-least-once scenario where the first attempt completed its
    * store appends before failing) must produce bit-identical verdict
    * and store partials — in particular, NO false duplicates from the
    * rescore reading the batch's own packs back.
    */
  private[graft] def processBatch(spark: SparkSession, batch0: DataFrame,
                                  batchId: Long, workDir: String,
                                  nBuckets: Int,
                                  pruneThresholdBytes: Long,
                                  foldCc: Boolean = false): Unit = {
    val bandStoreDir = s"$workDir/band_store"
    val packStoreDir = s"$workDir/pack_store"
    val outDir = s"$workDir/out"
    val bandBucket = pmod(hash(col("band"), col("key")), lit(nBuckets))
    val docBucket = pmod(col("doc_id"), lit(nBuckets.toLong)).cast("int")
    val batch = batch0.cache()
    // narrow-shuffle/AQE-off scope while both stores are below the
    // prune threshold (BatchTuning)
    val smallStores =
      Load.storeBytes(spark, bandStoreDir) < pruneThresholdBytes &&
        Load.storeBytes(spark, packStoreDir) < pruneThresholdBytes
    MicroBatchFold.scoped(spark, batch0, narrow = smallStores) {
    // per-doc shingle packs and banded signature, one codegen'd
    // kernel pass (the q70 shape); docs under 3 tokens have no
    // shingles and band with nothing
    // cache the kernel output once: every downstream frame (bands,
    // packs, rescore, store deltas) re-derives from the cached
    // shingle sets, so the string-hashing pass runs once per batch
    val base = batch
      .where(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shinglePacks(col("text")).as("packs"))
      .cache()
    val sig = base.select(col("doc_id"),
      size(col("packs")).cast("long").as("n"),
      minhashSig(col("packs")).as("sig"))
    val bandArr = array((0 until NumBands).map(b =>
      struct(lit(b).as("band"),
        slice(col("sig"), b * BandSize + 1, BandSize).as("key"))): _*)
    val bands = sig
      .select(col("doc_id"), col("n"), explode(bandArr).as("bk"))
      .select(col("doc_id"), col("n"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .cache()
    val batchPacks = base
      .select(col("doc_id"), explode(col("packs")).as("pack"))

    // candidate partners: history (pruned band-store probe) plus
    // earlier docs of the same batch. Missing store = first batch;
    // a read error on an existing store must fail the batch, and
    // the batch's own partition is excluded so a retry probes the
    // pre-batch state (Load.readStoreExcludingBatch contract).
    def prunedStore(dir: String, schema: StructType,
                    bucketsOf: => Seq[Int]): DataFrame =
      Load.readStoreExcludingBatch(spark, dir, batchId)
        .map { s =>
          if (Load.storeBytes(spark, dir) < pruneThresholdBytes) s
          else Load.pruneBuckets(s, bucketsOf, nBuckets)
        }
        .map(_.select(schema.fieldNames.map(col): _*))
        .getOrElse(emptyFrame(spark, schema))

    val storeBands = prunedStore(bandStoreDir, bandSchema,
      JobLabel.labeled(spark, s"b$batchId: band bucket list")(
        bands.select(bandBucket.as("bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq))
    // ONE join covers both candidate classes: the probe side is
    // history ∪ this batch, the build side is the batch alone, and
    // the `x.doc_id < y.doc_id` predicate is exactly the "prior
    // doc" rule for both (store docs all precede the batch under
    // doc_id-ordered arrival; same-batch pairs order by id)
    val cand = storeBands.unionByName(bands.select(
        col("doc_id"), col("n"), col("band"), col("key")))
      .as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("x.n").as("na"),
        col("y.doc_id").as("db"), col("y.n").as("nb"))
      .distinct()

    // exact-Jaccard rescore on candidates only: partner packs come
    // from the pack store's candidate buckets (plus the batch's own
    // packs for same-batch partners)
    val histPacks = prunedStore(packStoreDir, packSchema,
      JobLabel.labeled(spark, s"b$batchId: pack bucket list")(
        cand.select(pmod(col("da"), lit(nBuckets.toLong)).cast("int")
          .as("bucket")).distinct().collect().map(_.getInt(0)).toSeq))
    val partnerPacks = histPacks.unionByName(batchPacks)
    val qual0 = cand
      .join(partnerPacks.as("sa"), col("da") === col("sa.doc_id"))
      .join(batchPacks.as("sb"), col("db") === col("sb.doc_id") &&
        col("sa.pack") === col("sb.pack"))
      .groupBy(col("da"), col("db"), col("na"), col("nb"))
      .agg(count(lit(1)).as("cmn"))
      .where(round(col("cmn") * lit(1.0) /
        (col("na") + col("nb") - col("cmn")), 4) >= Threshold)
      .select(col("da"), col("db"))
    // under the CC fold the confirmed pairs feed three consumers
    // (verdicts, pair store, label fold) — materialize once; the plain
    // q129 path keeps the single lazy chain it always had. persist, NOT
    // localCheckpoint: a localCheckpoint block lives only on its
    // executor and truncates lineage, so one executor kill turns into
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND and a dead stream (measured:
    // the r15 SIGKILL-injection run, r15_streamkill_before.log).
    // persist keeps lineage, so a lost block recomputes under Spark's
    // own task retry — the at-least-once story this stream claims.
    val qual = if (foldCc)
      qual0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else qual0
    val dups = qual
      .groupBy(col("db").as("doc_id"))
      .agg(count(lit(1)).as("n_dup_prior"))

    val out = batch.select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_prior"), lit(0L)).as("n_dup_prior"),
        col("n_dup_prior").isNull.cast("int").as("kept"))
    JobLabel.labeled(spark, s"b$batchId: out write")(
      Load.writeBatchPartial(out, outDir, batchId))

    // every doc's bands and packs enter the stores (kept AND
    // dropped — the all-priors semantics), one task per bucket (a
    // narrow shuffle below the cost switch), idempotent under retry
    // via the batch= overwrite. The remaining sinks are independent
    // batch-keyed partials over frames the out write already
    // materialized into the caches, so they overlap on a driver pool
    // (Sinks.inParallel, guide §2.6) instead of paying one scheduling
    // round-trip each.
    val bandSink = s"b$batchId: band store write" -> (() =>
      Load.writeBatchPartial(
        bands.withColumn("bucket", bandBucket).repartition(col("bucket")),
        bandStoreDir, batchId, Seq("bucket")))
    val packSink = s"b$batchId: pack store write" -> (() =>
      Load.writeBatchPartial(
        batchPacks.withColumn("bucket", docBucket).repartition(col("bucket")),
        packStoreDir, batchId, Seq("bucket")))

    // q134 incremental connected components: the batch's confirmed
    // pairs land in a pair store (batch= partial, retry-idempotent) and
    // fold into a label SNAPSHOT via large-star/small-star. The fold's
    // input is the PREVIOUS snapshot re-read as edges (node →
    // cluster_rep preserves components — the converged star forest is
    // an equivalent, much smaller edge set) plus this batch's pairs, so
    // per-batch CC work is O(labeled nodes + new pairs), never a replay
    // of the full pair history. Snapshots write to labels/batch=<id>
    // with Overwrite and READ batch=<id-1>: a retried batch recomputes
    // bit-identically from pre-batch state (same contract as the
    // bucketed stores; RetryIdempotenceSpec covers it). Both fold sinks
    // consume only the persisted `qual` (materialized by the out write)
    // and the PREVIOUS batch's snapshot, so they are independent of the
    // band/pack appends and join the same overlap pool.
    if (!foldCc) Sinks.inParallel(spark, Seq(bandSink, packSink))
    else {
      val labelsDir = s"$workDir/labels"
      val pairSink = s"b$batchId: pair store write" -> (() =>
        Load.writeBatchPartial(
          qual.select(col("da").cast("long"), col("db").cast("long")),
          s"$workDir/pair_store", batchId))
      val ccSink = s"b$batchId: cc fold + labels write" -> (() => {
        val prevEdges =
          if (batchId > 0)
            spark.read.parquet(s"$labelsDir/batch=${batchId - 1}")
              .select(col("node").as("src"), col("cluster_rep").as("dst"))
          else
            emptyFrame(spark, StructType(Seq(
              StructField("src", LongType), StructField("dst", LongType))))
        val edges = prevEdges.unionByName(qual.select(
          col("da").cast("long").as("src"), col("db").cast("long").as("dst")))
        // reliable variant: a fold bigger than the driver cap pins its
        // star-round frontiers to parquet scratch (Overwrite — retry-
        // idempotent), never to executor-local checkpoint blocks
        graft.ops.ConnectedComponents
          .clustersReliable(edges, s"$workDir/cc_scratch")
          .write.mode("overwrite").parquet(s"$labelsDir/batch=$batchId")
        // keep-last-2 retention: only batch=<id-1> is ever read (the
        // next fold's input, and what a RETRY of this batch recomputes
        // from), so older snapshots are dead weight — without this a
        // long-running stream stores O(batches x nodes)
        Load.expireNumericPartitions(spark, labelsDir, "batch", batchId - 1)
        ()
      })
      Sinks.inParallel(spark, Seq(bandSink, packSink, pairSink, ccSink))
    }
    bands.unpersist(); base.unpersist(); batch.unpersist()
    // qual is persisted under the CC fold — retire it here because
    // every consumer (verdicts, pair store, label fold) materialized
    if (foldCc) qual.unpersist(blocking = false)
    ()
    }
  }

  /** Stage + run in a fresh work dir: the q129 entry. Arrival order is
    * staged to doc_id order (MicroBatchFold.stageSplits), which is
    * what lets the stream share the batch oracle.
    */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int,
            pruneThresholdBytes: Long = MicroBatchFold.NarrowBelowBytes)
      : DataFrame =
    MicroBatchFold.staged(spark, "q129_minhash_stream", docs, nSplits)(
      run(spark, _, _, pruneThresholdBytes = pruneThresholdBytes))

  /** Stage + run with the CC fold: the q134 entry. */
  def runClustersOn(spark: SparkSession, docs: DataFrame, nSplits: Int,
                    pruneThresholdBytes: Long = MicroBatchFold.NarrowBelowBytes)
      : DataFrame =
    MicroBatchFold.staged(spark, "q134_inc_cc_stream", docs, nSplits)(
      runClusters(spark, _, _, pruneThresholdBytes = pruneThresholdBytes))
}

package graft

import graft.pipeline.Load
import graft.streaming.{MicroBatchFold, SpanDedupStream}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** The 100 TB posture of the incremental-dedup stores (round-4 verdict
  * items 1 and 4): a micro-batch's store probe reads ONLY the bucket
  * directories its keys hash into (listener-measured bytes, not just a
  * plan string), compaction on the streaming cadence keeps file counts
  * bounded across a 20-batch replay WITHOUT changing a single output
  * bit, and batch-keyed partial stores support retention (expiring old
  * `batch=` partitions turns an all-history sketch into a sliding
  * window).
  */
class StoreMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  /** Total file bytes read while running `action` (task input metrics —
    * the cost a 1000-executor cluster pays against the object store).
    */
  private def bytesRead(action: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        bytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      org.apache.spark.sql.graftbridge.ListenerBridge
        .waitUntilEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(listener)
    bytes.get()
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] = {
    val here = Option(dir.listFiles()).toSeq.flatten
    here.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
      here.filter(_.isDirectory).flatMap(dataFiles)
  }

  test("bucketed store probe reads only the matching bucket directories") {
    val nBuckets = 16
    // a store big enough that bucket scans dominate footer/metadata
    // overhead: 200k packs spread over all 16 buckets
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString +
      "/gram_store"
    spark.range(200000).select(col("id").as("pack"))
      .withColumn("bucket", pmod(col("pack"), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(dir)
    // the stream's probe path: a batch that touches 2 of 16 buckets
    val pruned = bytesRead {
      Load.readBucketed(spark, dir, Seq(3, 7), nBuckets).get
        .select(col("pack")).collect()
    }
    val full = bytesRead {
      Load.readBucketed(spark, dir, (0 until nBuckets), nBuckets).get
        .select(col("pack")).collect()
    }
    // 2/16 of the buckets => ~1/8 of the bytes; allow generous slack for
    // per-file overhead but require the pruning to be real
    assert(pruned > 0 && pruned < full / 4,
      s"pruned=$pruned bytes vs full=$full bytes")
    // and the filter is a partition filter, not a post-scan predicate
    val plan = Load.readBucketed(spark, dir, Seq(3, 7), nBuckets).get
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      plan.take(600))
  }

  test("20-batch replay: compaction keeps files bounded, output bit-identical") {
    import graft.ops.SpanDedup
    // 60 docs over a tiny vocabulary so later batches genuinely dedup
    // against earlier ones; w=4 grams
    val docs = (0L until 60L).map { i =>
      val toks = (0 until 24).map(j => s"t${(i * 7 + j * j) % 19}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val workDir = java.nio.file.Files
      .createTempDirectory("graft_replay20").toString
    MicroBatchFold.stageSplits(spark, docs, s"$workDir/input", 20)
    val streamed = SpanDedupStream.run(spark, s"$workDir/input", workDir,
        w = 4, nBuckets = 8, compactEvery = 4)
      .collect().map(_.toSeq)
    // bit-identical to the batch operator over the same corpus
    val batch = SpanDedup.dedupSpans(docs, w = 4).collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
    // the gram store's small files stay bounded: after 20 appends with
    // compaction every 4 batches, each bucket holds the compacted file
    // plus at most the appends since the last compaction cycle — far
    // fewer than the ~20 x tasks-per-append an uncompacted store keeps
    val storeFiles = dataFiles(new java.io.File(s"$workDir/gram_store"))
    assert(storeFiles.nonEmpty)
    assert(storeFiles.size <= 8 * 5,
      s"store holds ${storeFiles.size} files — compaction cadence not applied")
  }

  test("retention: expiring old batch partials yields the retained-window sketch") {
    // a batch-keyed partial store (the CmsStream/BigramLmStream layout):
    // per-batch (tok, n) counts
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    for (b <- 0 until 6) {
      Load.writeBatchPartial(
        Seq(("alpha", 1L * (b + 1)), ("beta", 2L)).toDF("tok", "n"),
        dir, b.toLong)
    }
    // expire everything below batch=3 — metadata-only directory drops
    val removed = Load.expirePartitions(spark, dir, "batch", "3")
    assert(removed == Seq("batch=0", "batch=1", "batch=2"))
    // the fold now equals the sketch of the retained window exactly
    val folded = spark.read.parquet(dir)
      .groupBy(col("tok")).agg(sum(col("n")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == Map("alpha" -> (4L + 5L + 6L), "beta" -> 6L))
  }

  test("numeric retention: label snapshots keep last-2 across a 12-batch stream") {
    // lexical expiry misorders unpadded numeric ids at 10+ ("10" < "9"),
    // so the q134 label store uses the numeric twin. Replay 12 batches
    // through the CC fold: after each batch only <id-1, id> remain, and
    // the surviving snapshot still carries the full accumulated labels
    // (retention drops dead history, never state).
    val shared = (0 until 32).map(j => s"w${j * 3 % 23}").mkString(" ")
    val workDir = java.nio.file.Files
      .createTempDirectory("graft_ttl_labels").toString
    for (b <- 0 until 12) {
      // every batch plants one near-dup of batch 0's doc 0 plus one
      // unique doc, so the component grows monotonically
      val docs = Seq(
        (b * 10L, shared + s" p$b x"),
        (b * 10L + 1L, (0 until 25).map(j => s"u${b}_$j").mkString(" ")))
        .toDF("doc_id", "text")
      graft.streaming.MinHashDedupStream.processBatch(
        spark, docs, b.toLong, workDir, 16, Long.MaxValue, foldCc = true)
      val kept = new java.io.File(s"$workDir/labels").listFiles()
        .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
      val want = (math.max(0, b - 1) to b).map(i => s"batch=$i").sorted
      assert(kept == want, s"batch $b: kept $kept")
    }
    // the tail snapshot still resolves every planted dup to doc 0
    val labels = spark.read.parquet(s"$workDir/labels/batch=11")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (b <- 1 until 12) assert(labels(b * 10L) == 0L, s"doc ${b * 10}")
    // and the numeric helper itself: 12 ids, keepFrom=10 drops 0..9 in
    // numeric (not lexical) order
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl_num").toString
    for (b <- 0 until 12)
      Load.writeBatchPartial(Seq(("t", 1L)).toDF("tok", "n"), dir, b.toLong)
    val removed = Load.expireNumericPartitions(spark, dir, "batch", 10L)
    assert(removed == (0 until 10).map(i => s"batch=$i").sorted)
    assert(Load.expireNumericPartitions(spark, dir + "_absent", "batch", 5L)
      .isEmpty)
  }

  test("compacted batch store folds to the same result with fewer files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    for (b <- 0 until 10) {
      Load.writeBatchPartial(
        spark.range(50).select((col("id") % 5).as("k"), lit(1L).as("n"))
          .repartition(4),
        dir, b.toLong)
    }
    val before = spark.read.parquet(dir)
      .groupBy(col("k")).agg(sum(col("n")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nBefore = dataFiles(new java.io.File(dir)).size
    val rewritten = Load.compactPartitioned(spark, dir)
    val nAfter = dataFiles(new java.io.File(dir)).size
    assert(rewritten.nonEmpty && nAfter < nBefore,
      s"files $nBefore -> $nAfter, rewritten=$rewritten")
    val after = spark.read.parquet(dir)
      .groupBy(col("k")).agg(sum(col("n")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before)
  }

  test("store walker: file count and existence agree on nested, data-less and absent stores") {
    val dir = java.nio.file.Files.createTempDirectory("graft_walk").toString
    try {
      val absent = s"$dir/absent"
      assert(Load.storeFileCount(spark, absent) == 0 && !Load.storeHasData(spark, absent))
      // an all-empty partitioned batch leaves `batch=0/` and _SUCCESS only
      Load.writeBatchPartial(Seq.empty[(Long, Int)].toDF("k", "bucket"), dir, 0L,
        Seq("bucket"))
      assert(Load.storeFileCount(spark, dir) == 0 && !Load.storeHasData(spark, dir))
      assert(Load.readStoreIfExists(spark, dir).isEmpty)
      Load.writeBatchPartial(Seq((1L, 0), (2L, 1), (3L, 1)).toDF("k", "bucket"),
        dir, 1L, Seq("bucket"))
      val files = dataFiles(new java.io.File(dir)).size
      assert(files >= 2 && Load.storeFileCount(spark, dir) == files)
      assert(Load.storeHasData(spark, dir))
      assert(Load.readStoreIfExists(spark, dir).map(_.count()).contains(3L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

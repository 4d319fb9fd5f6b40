package graft

import graft.streaming.MicroBatchFold
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** Restart-from-checkpoint evidence (r14 verdict #6): every stream twin
  * elsewhere runs start-to-finish inside ONE query. Production
  * long-lived ingest instead stops and restarts: here each incremental
  * store family runs k of n batches in a FIRST query that crashes
  * mid-stream (after its store partials landed but before the
  * checkpoint commit — the worst at-least-once cut point), then a NEW
  * query against the same checkpoint + stores finishes the remainder
  * through the PRODUCTION run() entry. The final result must equal an
  * uninterrupted run bit for bit — this drives Spark's real
  * offset-log/commit-log replay through the `batch=` Overwrite
  * partials and the read-side own-batch exclusion, not an in-JVM
  * processBatch replay (RetryIdempotenceSpec covers that level).
  */
class StreamRestartSpec extends SparkSpec {

  /** Phase 1: run the staged splits through `body` (a family's real
    * processBatch) on the production file source and drain
    * ([[MicroBatchFold]]), and throw AFTER `failAfter` completes — its
    * out and store partials are on disk, its checkpoint commit is not. The
    * restarted query must therefore REPROCESS that batchId on top of
    * its own leftovers.
    */
  private def crashAfter(inputDir: String, ckptDir: String, failAfter: Long)
                        (body: (DataFrame, Long) => Unit): Unit = {
    val e = intercept[StreamingQueryException](
      MicroBatchFold.drain(MicroBatchFold.source(spark, inputDir), ckptDir) {
        (b, id) =>
          body(b, id)
          if (id == failAfter)
            throw new RuntimeException(s"injected crash after batch $id")
      })
    assert(e.getMessage.contains("injected crash") ||
      Option(e.getCause).exists(_.getMessage.contains("injected crash")),
      s"query died for the wrong reason: $e")
  }

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("q101 span store: crash after batch 1, new query resumes to the batch answer") {
    val docs = Tables.documents(spark, sfDir)
    val work = freshDir("restart_span")
    MicroBatchFold.stageSplits(spark, docs, s"$work/input", nSplits = 4)
    crashAfter(s"$work/input", s"$work/ckpt", failAfter = 1L) { (b, id) =>
      graft.streaming.SpanDedupStream
        .processBatch(spark, b, id, work, w = 8, nBuckets = 16,
          compactEvery = 8)
    }
    // partials for batches 0 and 1 are on disk; the commit log stops
    // at 0 — the new PRODUCTION query replays batch 1 onto them
    val outs = new java.io.File(s"$work/out").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(outs == Seq("batch=0", "batch=1"),
      s"crash point drifted: $outs")
    val resumed = rows(graft.streaming.SpanDedupStream
      .run(spark, s"$work/input", work, w = 8))
    val uninterrupted = rows(graft.streaming.SpanDedupStream
      .runOn(spark, docs, w = 8, nSplits = 4))
    assert(resumed == uninterrupted,
      "restarted span stream diverged from the uninterrupted run")
  }

  test("q129 minhash store: crash after batch 1, new query resumes to the batch answer") {
    val docs = Tables.documents(spark, sfDir)
    val work = freshDir("restart_minhash")
    MicroBatchFold.stageSplits(spark, docs, s"$work/input", nSplits = 4)
    val prune = 64L * 1024 * 1024
    crashAfter(s"$work/input", s"$work/ckpt", failAfter = 1L) { (b, id) =>
      graft.streaming.MinHashDedupStream
        .processBatch(spark, b, id, work, nBuckets = 16,
          pruneThresholdBytes = prune)
    }
    val resumed = rows(graft.streaming.MinHashDedupStream
      .run(spark, s"$work/input", work))
    val uninterrupted = rows(graft.streaming.MinHashDedupStream
      .runOn(spark, docs, nSplits = 4))
    assert(resumed == uninterrupted,
      "restarted minhash stream diverged from the uninterrupted run")
    // and the verdicts still match the registered batch pair set
    val dupIds = queries.Registry.byName("q70_docs_minhash_portable")
      .run(spark, sfDir).select(col("doc_b")).collect()
      .map(_.getLong(0)).toSet
    resumed.foreach { r =>
      val (id, kept) = (r.head.asInstanceOf[Long], r(2).asInstanceOf[Int])
      assert((kept == 0) == dupIds.contains(id), s"doc $id verdict flipped")
    }
  }

  test("q104 prefix store: crash after batch 1, new query resumes to the batch answer") {
    val docs = Tables.documents(spark, sfDir)
    val work = freshDir("restart_corpus")
    MicroBatchFold.stageSplits(spark, docs, s"$work/input", nSplits = 4)
    crashAfter(s"$work/input", s"$work/ckpt", failAfter = 1L) { (b, id) =>
      graft.streaming.CorpusPrepStream
        .processBatch(spark, b, id, work, nBuckets = 16, compactEvery = 8)
    }
    val resumed = rows(graft.streaming.CorpusPrepStream
      .run(spark, s"$work/input", work))
    val uninterrupted = rows(graft.streaming.CorpusPrepStream
      .runOn(spark, docs, nSplits = 4))
    assert(resumed == uninterrupted,
      "restarted corpus-prep stream diverged from the uninterrupted run")
    // the fold is over per-batch partials: exactly 4 landed, none doubled
    val parts = new java.io.File(s"$work/partials").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(parts == (0 to 3).map(i => s"batch=$i"),
      s"partial set corrupted by the restart: $parts")
  }
}

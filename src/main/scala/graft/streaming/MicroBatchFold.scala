package graft.streaming

import graft.pipeline.Load
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The micro-batch harness every file-per-trigger stream runs on: a
  * corpus is staged as doc_id-range arrival files, a file source
  * replays them one file per trigger, `Trigger.AvailableNow` drains
  * them into a `foreachBatch` body, and each batch's plans are scoped
  * by one cost switch. A stream supplies its per-batch partial and its
  * final fold; the staging, source, drain and switch live here once.
  */
private[graft] object MicroBatchFold {

  /** The cost switch. A batch whose gate — the staged input, or the
    * stream's own store — holds fewer bytes plans with AQE off and a
    * narrow shuffle width ([[BatchTuning]]); at or above it the batch
    * keeps the session's AQE planning, and store streams pay the
    * bucket-list job that partition-prunes their probes. Always-narrow
    * regressed the sf10 rung (q125 35 -> 51 s) once the narrow scope
    * reached the batch's cloned session.
    */
  val NarrowBelowBytes: Long = 64L * 1024 * 1024

  /** Whether everything under `dir` (0 bytes if missing) is below the
    * switch.
    */
  def below(spark: SparkSession, dir: String): Boolean =
    Load.storeBytes(spark, dir) < NarrowBelowBytes

  /** Plan `f` narrow (when `narrow`) on every session a foreachBatch
    * body plans with: the outer session and the batch's clone.
    */
  def scoped[T](spark: SparkSession, batch: DataFrame, narrow: Boolean)
               (f: => T): T =
    BatchTuning.withNarrowShufflesOn(Seq(spark, batch.sparkSession), narrow)(f)

  /** The staged arrivals under `inputDir` as a file source, one split
    * file per trigger (replayed in mod-time order).
    */
  def source(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(inputDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$inputDir/split_*.parquet")

  /** Drain `stream` to completion: every available trigger runs `body`
    * with its batch and batchId, checkpointed under `ckptDir`.
    */
  def drain(stream: DataFrame, ckptDir: String)
           (body: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => body(batch, batchId) }
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Drain the staged splits under `inputDir` through `body`,
    * checkpointed at `$workDir/ckpt`. The body scopes its own batch
    * ([[scoped]]), gated on whatever it measures per batch.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String)
         (body: (DataFrame, Long) => Unit): Unit =
    drain(source(spark, inputDir), s"$workDir/ckpt")(body)

  /** [[run]] with every batch scoped by the staged input's size,
    * measured once before the stream starts.
    */
  def runInputGated(spark: SparkSession, inputDir: String, workDir: String)
                   (body: (DataFrame, Long) => Unit): Unit = {
    val narrow = below(spark, inputDir)
    run(spark, inputDir, workDir) { (batch, batchId) =>
      scoped(spark, batch, narrow)(body(batch, batchId))
    }
  }

  /** Every staged arrival as one batch frame: the corpus a final fold
    * scores.
    */
  def arrived(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.parquet(s"$inputDir/split_*.parquet")

  /** Stage `docs` as `nSplits` arrivals in a fresh `tag` work dir and
    * hand `(inputDir, workDir)` to `body`: the registry entry of every
    * staged stream.
    */
  def staged[T](spark: SparkSession, tag: String, docs: DataFrame,
                nSplits: Int)(body: (String, String) => T): T = {
    val workDir = java.nio.file.Files.createTempDirectory(tag).toString
    stageSplits(spark, docs, s"$workDir/input", nSplits)
    body(s"$workDir/input", workDir)
  }

  /** Stage `docs` as `nSplits` doc_id-range parquet files under
    * `inputDir`, named and modification-timestamped in range order so
    * the file source replays them oldest-first (it orders by mod time):
    * arrival order = doc_id order.
    */
  def stageSplits(spark: SparkSession, docs: DataFrame, inputDir: String,
                  nSplits: Int): Unit = {
    // Cost-switched staging plan: when the frame to stage is itself a
    // narrow scan (the small-fixture case — one or two input splits),
    // plan it like a micro batch (AQE off, narrow width — each AQE
    // exchange materialization is an extra scheduling round-trip on a
    // table this size). A WIDE input keeps the session's AQE planning:
    // narrowing it funneled a 100x rung's staged table through 4
    // AQE-off partitions (measured at sf10: q125 35 -> 51 s before
    // this switch). The hash-repartition on `split` keeps each split
    // value wholly inside one task at any width, so the
    // one-file-per-split layout the replay order depends on is
    // width-independent.
    val width = math.max(4, nSplits)
    val narrow = docs.rdd.getNumPartitions <= width
    BatchTuning.withNarrowShuffles(spark, narrow = narrow,
      partitions = width) {
      stageSplitsInner(spark, docs, inputDir, nSplits)
    }
  }

  private def stageSplitsInner(spark: SparkSession, docs: DataFrame,
                               inputDir: String, nSplits: Int): Unit = {
    val boundRow = docs.agg(max(col("doc_id"))).collect().head
    new java.io.File(inputDir).mkdirs()
    val tmp = s"$inputDir/_stage"
    if (boundRow.isNullAt(0)) {
      // EMPTY corpus (r13 degenerate sweep): max(doc_id) is null, and a
      // partitionBy write would stage zero files — the file source then
      // has nothing to infer a schema from and every stream twin dies.
      // Stage ONE zero-row file with the real schema instead: the
      // stream runs one empty micro-batch and its accumulated output
      // is the batch operator's empty result.
      docs.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val file = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"staging wrote no parquet part file under $tmp"))
      val dest = new java.io.File(inputDir, "split_000.parquet")
      java.nio.file.Files.move(file.toPath, dest.toPath)
      require(dest.setLastModified(1000000L),
        s"setLastModified failed on $dest")
      deleteRecursively(new java.io.File(tmp))
      return
    }
    val bound = boundRow.getLong(0) + 1
    val span = math.max(1L, (bound + nSplits - 1) / nSplits)
    // one pass: hive-partition on the split id, then lift each part
    // file out as an ordered, timestamped arrival
    docs.withColumn("split", (col("doc_id") / span).cast("int"))
      .repartition(col("split"))
      .write.mode(SaveMode.Overwrite).partitionBy("split").parquet(tmp)
    for (i <- 0 until nSplits) {
      val dir = new java.io.File(s"$tmp/split=$i")
      if (dir.isDirectory) {
        val file = dir.listFiles().find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"staging wrote no parquet part file under $dir"))
        val dest = new java.io.File(inputDir, f"split_$i%03d.parquet")
        java.nio.file.Files.move(file.toPath, dest.toPath)
        // distinct ascending timestamps pin the replay order (the file
        // source sorts by mod time); correctness of the stream=batch
        // guarantee depends on it, so a failed/coarse-grained mtime set
        // must be loud, not a silent reorder
        require(dest.setLastModified(1000000L + i * 60000L),
          s"setLastModified failed on $dest: file-source replay order " +
            "would be undefined")
      }
    }
    deleteRecursively(new java.io.File(tmp))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The load stage (SURVEY.md §3.3; reference `src/load_sqlserver.py`):
  * idempotent append with a loaded-files tracker.
  *
  * The reference hand-rolls a tracker table + batched INSERTs; here the
  * tracker is a left-anti join (S9/D2) and the write is the built-in JDBC
  * or parquet sink. Streaming ingestion (graft.streaming) subsumes the
  * tracker entirely via checkpoints.
  */
object Load {

  /** JDBC append, the reference's terminal store (S7). Batch size is the
    * built-in `batchsize` option instead of hand-rolled executemany;
    * float NaN becomes SQL NULL (the reference's
    * `df.where(pd.notnull(df), None)`, `load_sqlserver.py:75`) and
    * string edges are trimmed (C17) before the insert.
    */
  def toJdbc(df: DataFrame, url: String, table: String,
             props: java.util.Properties, batchSize: Int = 1000): Unit = {
    props.setProperty("batchsize", batchSize.toString)
    val noNan = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          acc.withColumn(f.name,
            when(isnan(col(f.name)), lit(null)).otherwise(col(f.name)))
        case _ => acc
      }
    }
    Clean.trimStrings(noNan).write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** Partitioned parquet sink: the lake-side terminal store. Hive-style
    * partition directories mean downstream readers with a filter on the
    * partition columns scan only matching directories (partition
    * pruning) — the physical design that keeps daily/targeted queries
    * O(partition), not O(table), at 100 TB.
    */
  def toPartitionedParquet(df: DataFrame, path: String,
                           partitionCols: Seq[String],
                           mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table sink: pre-shuffles data into a fixed number of
    * buckets on the join/agg key so later joins and aggregations on that
    * key run exchange-free (requires the session catalog; bucket counts
    * should match between co-joined tables).
    */
  def toBucketedTable(df: DataFrame, table: String, bucketCol: String,
                      nBuckets: Int): Unit = {
    // Overwrite semantics must hold ACROSS sessions too: the in-memory
    // catalog forgets the table on restart but its managed location
    // survives, and saveAsTable refuses a fresh name whose location
    // exists (LOCATION_ALREADY_EXISTS). Drop the catalog entry (same
    // session) and any orphaned location (prior session) first.
    val spark = df.sparkSession
    // The conventional-location fallback below only holds for simple
    // names in the default database — a qualified db.table (or a
    // non-default current database) would resolve to a different
    // managed path and the delete would hit the wrong directory.
    require(!table.contains("."),
      s"toBucketedTable takes a simple unqualified table name, got '$table'")
    // Prefer the catalog's own idea of the location (covers a live
    // same-session table wherever it lives); fall back to the
    // default-database convention only for the orphaned-location case
    // where the restarted in-memory catalog has no entry.
    val catalogLoc =
      if (spark.catalog.tableExists(table))
        scala.util.Try(spark.sql(s"DESCRIBE TABLE EXTENDED $table")
          .where(col("col_name") === "Location")
          .select(col("data_type")).collect().headOption.map(_.getString(0)))
          .toOption.flatten
      else None
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = catalogLoc.map(new org.apache.hadoop.fs.Path(_)).getOrElse(
      new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // Cost-switched write parallelism (guide §6, r16 verdict item 5):
    // when the input scan is NARROWER than the bucket count (the
    // one-small-file fixture case), every bucket file funnels through
    // one task's sequential write. Hash-repartitioning on the bucket
    // key to nBuckets uses the SAME murmur3 hashpartitioning as the
    // bucketing itself, so each task then holds exactly one whole
    // bucket — nBuckets parallel writers, still one file per bucket.
    // Inputs already at least nBuckets wide keep their natural
    // parallelism (identity — no plan change at warehouse scale).
    val src =
      if (df.rdd.getNumPartitions < nBuckets)
        df.repartition(nBuckets, col(bucketCol))
      else df
    src.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Compact a parquet store's accumulated small files (the by-product
    * of every incremental append pattern — daily loads, streaming
    * foreachBatch): rewrite to ceil(bytes / targetFileBytes) files via a
    * temp directory + atomic-ish swap. At warehouse scale this is the
    * maintenance job that keeps scan task counts proportional to data
    * size instead of append count.
    *
    * @return (files before, files after)
    */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).toSeq.filter(f =>
      f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))

  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = dataFiles(fs, hadoopPath)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    spark.read.parquet(path).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(hadoopPath, true)
    fs.rename(tmp, hadoopPath)
    (before.size, dataFiles(fs, hadoopPath).size)
  }

  /** JSONL export shards — the interchange format training runs consume
    * (one JSON object per line; Spark's json sink is line-delimited).
    * Rows are range-partitioned and sorted on `orderCol`, so shard
    * boundaries and shard contents are a deterministic function of the
    * data (not of the input partitioning), and every shard holds a
    * contiguous key range of ~`rowsPerShard` rows — the layout that
    * lets a trainer assign shards to data-loader workers without a
    * manifest. The extra count() pass is one columnar scan of the
    * order column; at 100 TB you'd pass the known row count in.
    *
    * @return number of shards written
    */
  def toJsonlShards(df: DataFrame, path: String, orderCol: String,
                    rowsPerShard: Long): Int = {
    val n = df.count()
    val shards = math.max(1, math.ceil(n.toDouble / rowsPerShard).toInt)
    df.repartitionByRange(shards, col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .write.mode(SaveMode.Overwrite).json(path)
    shards
  }

  /** Partition-aware compaction for a Hive-layout store (`key=value`
    * directory tree, e.g. the daily-load `run_date=...` partitions):
    * walks to the leaf partition directories and compacts each one
    * INDEPENDENTLY, skipping partitions that are already at their
    * target file count. Compacting per leaf keeps the job incremental
    * (yesterday's already-compacted partitions are never rewritten —
    * only the freshly-appended ones pay I/O) and preserves the layout,
    * so partition pruning on the key column is untouched.
    *
    * @return per-relative-partition-path (files before, files after),
    *         only for partitions that were rewritten
    */
  def compactPartitioned(spark: SparkSession, root: String,
                         targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(new org.apache.hadoop.fs.Path(root))
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val parts = fs.listStatus(p).toSeq.filter(s =>
        s.isDirectory && s.getPath.getName.contains("="))
      if (parts.isEmpty) Seq(p) else parts.flatMap(s => leaves(s.getPath))
    }
    leaves(rootPath).flatMap { dir =>
      val files = dataFiles(fs, dir)
      val totalBytes = files.map(_.getLen).sum
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
      if (files.size <= nOut) None // already compact: zero write amplification
      else {
        val (b, a) = compact(spark, dir.toString, targetFileBytes)
        val rel = dir.toString.stripPrefix(rootPath.toString).stripPrefix("/")
        Some((if (rel.isEmpty) "." else rel) -> ((b, a)))
      }
    }.toMap
  }

  /** Retention for a partitioned store: drop `key=value` partition
    * directories whose value sorts strictly below `cutoff` (ISO dates
    * sort lexically, so `run_date=...` stores expire naturally). The
    * complement of compactPartitioned in the maintenance trio
    * (compact + dedup + expire); deleting whole directories keeps the
    * operation metadata-only — no file rewrite, no store read.
    *
    * @return the relative partition names removed
    */
  def expirePartitions(spark: SparkSession, root: String, key: String,
                       cutoff: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(new org.apache.hadoop.fs.Path(root))
    fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$key="))
      .filter(_.getPath.getName.stripPrefix(s"$key=") < cutoff)
      .map { s => fs.delete(s.getPath, true); s.getPath.getName }
      .sorted
  }

  /** Numeric twin of [[expirePartitions]] for `batch=<id>`-keyed stores:
    * drop partitions whose NUMERIC value is strictly below `keepFrom`
    * (lexical order misorders unpadded ids at 10+). The q134 label
    * snapshots use it with keepFrom = batchId - 1: only the previous
    * snapshot is ever read (the fold's input, and what a retried batch
    * recomputes from), so keep-last-2 bounds the store at O(nodes)
    * instead of O(batches x nodes) on a long-running stream.
    *
    * @return the relative partition names removed
    */
  def expireNumericPartitions(spark: SparkSession, root: String, key: String,
                              keepFrom: Long): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(new org.apache.hadoop.fs.Path(root))
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$key="))
      .filter(s => scala.util.Try(
        s.getPath.getName.stripPrefix(s"$key=").toLong).toOption
        .exists(_ < keepFrom))
      .map { s => fs.delete(s.getPath, true); s.getPath.getName }
      .sorted
  }

  /** Read a `bucket=`-partitioned store pruned to the given bucket list
    * (None if the store doesn't exist yet). The isin filter is a
    * partition filter, so the scan lists and reads ONLY the matching
    * bucket directories — the probe cost of an incremental dedup batch
    * is proportional to the buckets it touches, not to accumulated
    * history. When the batch touches every bucket the filter is skipped
    * outright (planning noise for no pruning).
    */
  def readBucketed(spark: SparkSession, path: String,
                   buckets: Seq[Int], nBuckets: Int): Option[DataFrame] =
    readStoreIfExists(spark, path).map(pruneBuckets(_, buckets, nBuckets))

  /** The bucket-prune filter on an already-opened store frame. */
  def pruneBuckets(store: DataFrame, buckets: Seq[Int],
                   nBuckets: Int): DataFrame =
    if (buckets.length < nBuckets)
      store.where(col("bucket").isin(buckets.map(Int.box): _*))
    else store

  /** Total bytes under a store path (0 if absent) — one driver-side
    * metadata call. Incremental probes use it as a cost-based switch:
    * below the threshold a full-store scan is cheaper than the extra
    * job that derives the prune list (the AQE-style decision; at
    * warehouse scale a store-size manifest would replace the listing).
    */
  def storeBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Idempotent foreachBatch partial sink: write a micro-batch's
    * partial under its own `batch=<id>` subdirectory with Overwrite.
    * foreachBatch is at-least-once — a batch retried after a partial
    * failure re-runs with the SAME batchId, so keying the directory on
    * it makes the retry REPLACE its partial instead of double-appending
    * (the restart-safety pattern the Structured Streaming docs
    * prescribe for foreachBatch sinks). The Hive-style `batch=` name
    * doubles as a partition column, so readers can prune or expire by
    * batch and `compactPartitioned` compacts per leaf.
    */
  def writeBatchPartial(df: DataFrame, dir: String, batchId: Long,
                        partitionCols: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(s"$dir/batch=$batchId")
  }

  /** The parquet data files under a store path (none if absent), as a
    * lazy driver-side recursive listing: a directory is listed only
    * when the walk reaches it.
    */
  private def storeFiles(spark: SparkSession, path: String)
      : Iterator[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: org.apache.hadoop.fs.Path)
        : Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).iterator.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Iterator.single(s).filter(_.getPath.getName.endsWith(".parquet"))
      }
    if (fs.exists(p)) walk(p) else Iterator.empty
  }

  /** Number of parquet data files under a store path (0 if absent) —
    * one full walk of [[storeFiles]]. The write-path twin of the
    * [[storeBytes]] cost switch: a store can stay under the byte
    * threshold for hundreds of micro-batches while its FILE count
    * grows past what open/list overhead tolerates, so consolidation
    * triggers on fragmentation even in the small-store regime.
    */
  def storeFileCount(spark: SparkSession, path: String): Int =
    storeFiles(spark, path).size

  /** True iff at least one parquet data file exists under `path` — the
    * walk of [[storeFileCount]] stopped at the first data file. Streams
    * probe store non-emptiness once or twice per micro-batch; on a
    * large accumulated store (thousands of `batch=`/`bucket=` leaves
    * at the sf100 rung) the full recursive count is O(files) of pure
    * listing latency per batch, while the verdict only needs "any".
    */
  def storeHasData(spark: SparkSession, path: String): Boolean =
    storeFiles(spark, path).hasNext

  /** Read a parquet store only if its directory exists. Incremental
    * operators treat a MISSING store as "first run" — but a store that
    * exists and fails to read must propagate: swallowing a transient or
    * corrupt-store read error as "empty store" would silently disable
    * the dedup guarantee and re-append the whole batch as duplicates.
    */
  def readStoreIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    // a store tree with ZERO parquet data files counts as missing: a
    // partitionBy write of an all-empty batch (r13 degenerate sweep —
    // every doc gated out) creates `batch=<id>/` with only _SUCCESS, and
    // reading such a tree dies on UNABLE_TO_INFER_SCHEMA, not "empty
    // store". Real read errors on a store WITH data still propagate.
    if (storeHasData(spark, path)) Some(spark.read.parquet(path))
    else None
  }

  /** Read a `batch=`-keyed store as the PRE-batch state: exclude the
    * current batch's own `batch=<id>` partition. foreachBatch is
    * at-least-once — a batch retried AFTER its store partial was
    * written would otherwise read its own rows back ("read your own
    * partial") and recompute against a store that already contains the
    * batch, which inverts dedup verdicts (every key looks like a prior
    * duplicate) or double-counts rescore joins. The exclusion is a
    * partition filter on the Hive `batch` directory column, so a retry
    * sees exactly the state the first attempt saw. Missing store =
    * first batch (None), same contract as [[readStoreIfExists]].
    */
  def readStoreExcludingBatch(spark: SparkSession, path: String,
                              batchId: Long): Option[DataFrame] =
    readStoreIfExists(spark, path).map(_.where(col("batch") =!= batchId))

  /** Cross-batch consolidation for a `batch=<id>/bucket=<b>` store of
    * SET-semantics rows (membership probed via joins — gram packs,
    * prefix packs): merge every batch partition with id < the current
    * batch into one `batch=-<currentBatchId>` partition, one file per
    * bucket, and drop the merged originals. This is what keeps scan
    * task counts proportional to data size rather than append count
    * once deltas are batch-keyed for retry safety (a per-leaf compactor
    * can't merge across `batch=` directories).
    *
    * Crash-safe by rename-before-delete: the merged output is written
    * to a hidden temp dir (invisible to Spark reads), atomically
    * renamed in as `batch=-<id>`, and only THEN are the originals
    * deleted. Every crash window leaves the store's key SET intact —
    * a crash before the rename leaves the originals untouched, a crash
    * mid-delete leaves transient DUPLICATE rows (consolidated + some
    * originals), which membership joins are insensitive to, and the
    * retried batch resumes at the delete step (the `batch=-<id>` dir
    * doubles as the completion marker). Only safe for stores probed as
    * sets — never for stores whose rows are counted or summed.
    *
    * The negative id keeps the partition value numeric (type-stable
    * partition discovery), can never collide with a real batch id, and
    * always sorts below the current batch, so the
    * [[readStoreExcludingBatch]] filter is unaffected.
    */
  def consolidateBatchStore(spark: SparkSession, root: String,
                            currentBatchId: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(new org.apache.hadoop.fs.Path(root))
    if (!fs.exists(rootPath)) return
    def batchDirs: Seq[(org.apache.hadoop.fs.Path, Long)] =
      fs.listStatus(rootPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(s => (s.getPath, s.getPath.getName.stripPrefix("batch=").toLong))
    val marker = new org.apache.hadoop.fs.Path(rootPath,
      s"batch=-$currentBatchId")
    if (!fs.exists(marker)) {
      // candidates: everything strictly before this batch (including
      // earlier consolidations' negative ids), with data — an empty
      // delta writes a partition holding only _SUCCESS
      val cands = batchDirs.filter { case (p, id) =>
        id < currentBatchId && fs.getContentSummary(p).getLength > 0
      }
      if (cands.size <= 1) return
      val tmp = new org.apache.hadoop.fs.Path(rootPath, ".consolidate_tmp")
      // one read of the store root, partition-pruned to the pre-batch
      // ids (reading the batch=<id> dirs as separate roots would trip
      // partition discovery's conflicting-structure check)
      spark.read.parquet(rootPath.toString)
        .where(col("batch") < currentBatchId)
        .drop("batch")
        .repartition(col("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket")
        .parquet(tmp.toString)
      if (!fs.rename(tmp, marker))
        throw new java.io.IOException(
          s"consolidation rename $tmp -> $marker failed")
    }
    // completion (idempotent on retry): drop everything the merge covers
    batchDirs
      .filter { case (p, id) =>
        id < currentBatchId && p.getName != marker.getName
      }
      .foreach { case (p, _) => fs.delete(p, true) }
  }

  /** Record-level incremental dedup against the store: append only rows
    * whose dedup key is absent from what's already written — the batch
    * twin of streaming dropDuplicates state, for pipelines where the
    * same record can arrive across days (re-crawls, late files). The
    * store probe reads ONLY the key columns (column pruning) and joins
    * anti, so the cost scales with key cardinality, not row width; the
    * incoming batch is keep-first-deduped on `orderCol` first so a
    * within-batch duplicate can't race itself.
    *
    * @return number of rows appended
    */
  def appendDeduped(spark: SparkSession, df: DataFrame, storePath: String,
                    keys: Seq[String], orderCol: String): Long = {
    val batch = Clean.dedupKeepFirst(df, keys, orderCol)
    val fresh = readStoreIfExists(spark, storePath) match {
      case Some(store) =>
        val existing = store
          .select(keys.map(org.apache.spark.sql.functions.col): _*).distinct()
        batch.join(existing, keys, "left_anti")
      case None => batch // first write: store not yet created
    }
    val out = fresh.cache()
    val n = out.count()
    if (n > 0) out.write.mode(SaveMode.Append).parquet(storePath)
    out.unpersist()
    n
  }

  /** Idempotent file-set load: process only files not yet in the tracker,
    * append results, then mark them. Exactly the reference's
    * `is_file_loaded`/`mark_file_loaded` semantics, as one anti-join.
    *
    * @return the newly loaded file names
    */
  def loadIncremental(
      spark: SparkSession,
      candidateFiles: Seq[String],
      trackerPath: String,
      process: String => DataFrame,
      sink: DataFrame => Unit): Seq[String] = {
    import spark.implicits._
    val candidates = candidateFiles.toDF("file_name")
    val tracker = readStoreIfExists(spark, trackerPath)
      .getOrElse(Seq.empty[String].toDF("file_name"))
    val todo = candidates
      .join(tracker, Seq("file_name"), "left_anti")
      .as[String].collect().toSeq.sorted
    todo.foreach { f =>
      sink(process(f))
      // mark AFTER a successful sink; a crash in between re-processes the
      // file next run (at-least-once, same as the reference)
      Seq(f).toDF("file_name").write.mode(SaveMode.Append).parquet(trackerPath)
    }
    todo
  }
}

package graft

import graft.pipeline.{DailyJob, Extract, Schema}
import graft.sources.CsvTables
import org.apache.spark.sql.functions._

/** The scheduled entry point (reference `dags/job.py`): N-day replay is
  * idempotent end-to-end, and the AvailableNow streaming twin drains the
  * same landing files exactly once via its checkpoint.
  */
class DailyJobSpec extends SparkSpec {

  test("daily replay is idempotent; streaming twin matches the batch store") {
    val work = java.nio.file.Files.createTempDirectory("graft_daily").toString

    // two dates, then one replayed (the DAG's retry) — no duplicate work
    val d1 = DailyJob.runOnce(spark, sfDir, work, "2025-10-21")
    val d2 = DailyJob.runOnce(spark, sfDir, work, "2025-10-22")
    assert(d1 == Seq("fetch_jobs_2025-10-21.csv"))
    assert(d2 == Seq("fetch_jobs_2025-10-22.csv"))
    assert(DailyJob.runOnce(spark, sfDir, work, "2025-10-21").isEmpty)

    val store = spark.read.parquet(s"$work/store")
    val n = store.count()
    assert(n > 0)
    // per-date timestamp synthesis: both run dates present exactly once
    val days = store.select(to_date(col("job_posted_date")).cast("string"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(days == Seq("2025-10-21", "2025-10-22"))

    // streaming twin over the same landing dir: first drain loads both
    // files, a second drain (same checkpoint) loads nothing new
    DailyJob.runStreaming(spark, work)
    val stream1 = spark.read.parquet(s"$work/stream_store").count()
    assert(stream1 == n, s"stream store $stream1 != batch store $n")
    DailyJob.runStreaming(spark, work)
    assert(spark.read.parquet(s"$work/stream_store").count() == n)

    // maintenance: incremental appends leave one file set per day;
    // compaction rewrites them into size-targeted files, rows intact
    val (before, after) = graft.pipeline.Load.compact(spark, s"$work/store")
    assert(before > 1, s"expected multiple appended files, saw $before")
    assert(after == 1, s"tiny store should compact to one file, got $after")
    val compacted = spark.read.parquet(s"$work/store")
    assert(compacted.count() == n)
    assert(compacted.columns.toSeq == store.columns.toSeq)
  }

  test("keep-first dedup keeps the first landing row in both legs") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_keep_first").toString
    // two rows with the same dedup key (company, title, location, site)
    // that differ in salary, with filler rows between them
    val row = (co: String, title: String, salary: Double) =>
      (co, title, "full-time", "Seattle, WA", "United States", salary,
       "2025-10-21 10:00:00", "indeed", "python, sql", "teamwork", "Kaggle")
    val rows = row("acme", "data engineer", 100000.0) +:
      (1 to 50).map(i => row(s"filler $i", s"analyst $i", 90000.0 + i)) :+
      row("acme", "data engineer", 150000.0)
    CsvTables.write(rows.toDF(Schema.canonical.fieldNames.toIndexedSeq: _*).coalesce(1),
      s"$work/landing/fetch_jobs_2025-10-21.csv")

    // the order column ranks rows by file position, so the tie is broken
    val ids = Extract.withIngestId(CsvTables.read(spark, Schema.canonical, s"$work/landing/*"))
      .where(col("company_name") === "acme")
      .select(col("salary"), col("__ingest_id")).orderBy("__ingest_id")
      .collect().map(_.getDouble(0)).toSeq
    assert(ids == Seq(100000.0, 150000.0))

    assert(DailyJob.loadLanding(spark, work) == Seq("fetch_jobs_2025-10-21.csv"))
    DailyJob.runStreaming(spark, work)
    Seq("store", "stream_store").foreach { s =>
      val kept = spark.read.parquet(s"$work/$s")
        .where(col("company_name") === "acme").select("salary").collect().map(_.getDouble(0))
      assert(kept.toSeq == Seq(100000.0), s"$s kept ${kept.toSeq}")
    }
  }

  test("appendDeduped loads each record once across overlapping batches") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_dedup").toString + "/store"
    val b1 = Seq((1L, "a", 10L), (2L, "b", 11L), (2L, "b-dup", 12L)).toDF("k", "v", "ord")
    val b2 = Seq((2L, "b", 13L), (3L, "c", 14L)).toDF("k", "v", "ord") // overlaps b1

    // first batch: within-batch dup collapses, 2 rows land
    assert(graft.pipeline.Load.appendDeduped(spark, b1, store, Seq("k"), "ord") == 2L)
    // overlapping batch: only the genuinely new key lands
    assert(graft.pipeline.Load.appendDeduped(spark, b2, store, Seq("k"), "ord") == 1L)
    // replay is a no-op
    assert(graft.pipeline.Load.appendDeduped(spark, b2, store, Seq("k"), "ord") == 0L)

    val rows = spark.read.parquet(store).orderBy("k")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c"))) // keep-first
  }

  test("expirePartitions drops only partitions older than the cutoff") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ret").toString
    Seq(("2025-10-19", 1L), ("2025-10-20", 2L), ("2025-10-21", 3L))
      .toDF("run_date", "v")
      .write.partitionBy("run_date").mode("append").parquet(root)

    val removed = graft.pipeline.Load.expirePartitions(
      spark, root, "run_date", cutoff = "2025-10-21")
    assert(removed == Seq("run_date=2025-10-19", "run_date=2025-10-20"))
    val left = spark.read.parquet(root) // partition values are inferred as DATE
      .select(col("run_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(left == Seq("2025-10-21"))
    // idempotent
    assert(graft.pipeline.Load.expirePartitions(
      spark, root, "run_date", "2025-10-21").isEmpty)
  }

  test("partition-aware compaction rewrites only fragmented partitions") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_part").toString
    // lang=a arrives as 6 tiny appends (fragmented); lang=b as one file
    (1 to 6).foreach { i =>
      Seq((i.toLong, "a")).toDF("id", "lang")
        .write.mode("append").partitionBy("lang").parquet(root)
    }
    Seq((100L, "b"), (101L, "b")).toDF("id", "lang")
      .coalesce(1).write.mode("append").partitionBy("lang").parquet(root)

    val beforeB = new java.io.File(s"$root/lang=b")
      .listFiles().count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val result = graft.pipeline.Load.compactPartitioned(spark, root)

    // only the fragmented partition was touched
    assert(result.keySet === Set("lang=a"), s"got $result")
    assert(result("lang=a")._1 == 6 && result("lang=a")._2 == 1)
    val afterB = new java.io.File(s"$root/lang=b")
      .listFiles().count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(afterB == beforeB, "already-compact partition must not be rewritten")

    // data intact and partition pruning still works on the layout
    val rows = spark.read.parquet(root)
    assert(rows.count() == 8)
    val pruned = rows.where(col("lang") === "a")
    assert(pruned.count() == 6)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("lang=a") || !scanned.contains("lang=b"))
  }

  test("toJsonlShards writes deterministic line-delimited range shards") {
    val out = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    val shards = graft.pipeline.Load.toJsonlShards(
      docs, s"$out/docs", "doc_id", rowsPerShard = 100L)
    assert(shards == 5) // 500 docs / 100

    // each part file is genuine JSONL: every line parses standalone
    val parts = new java.io.File(s"$out/docs").listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == shards)
    val firstLines = scala.io.Source.fromFile(parts.head).getLines().toSeq
    assert(firstLines.nonEmpty && firstLines.forall(l =>
      l.startsWith("{") && l.endsWith("}") && l.contains("\"doc_id\"")))

    // round-trip: all rows survive, doc_ids are contiguous ranges per
    // shard (range partitioning + within-shard sort)
    val back = spark.read.json(s"$out/docs")
    assert(back.count() == 500)
    val ranges = parts.map { f =>
      val ids = scala.io.Source.fromFile(f).getLines()
        .map(l => "\"doc_id\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
        .toSeq
      assert(ids == ids.sorted, s"${f.getName} not sorted")
      (ids.min, ids.max)
    }
    ranges.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) => assert(aMax < bMin, "overlapping shards")
      case _ =>
    }
  }
}

package graft.pipeline

import graft.sources.CsvTables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The scheduled entry point — the engine's counterpart of the
  * reference's daily Airflow DAG (`dags/job.py:24-76`: 09:00 daily,
  * extract → transform → load). One invocation replays any number of
  * run dates; every stage is idempotent, so re-running a date (the
  * DAG's `retries: 1`) produces zero duplicate work:
  *
  *  - extract lands `fetch_jobs_<date>.csv` with overwrite (same date →
  *    same file);
  *  - transform+load go through `Load.loadIncremental`'s tracker
  *    (S8/S9): already-loaded files are anti-joined away.
  *
  * `runStreaming` is the checkpoint-based twin: a file-source stream
  * over the landing directory with `Trigger.AvailableNow` processes
  * exactly the new files and stops — the scheduler-friendly "drain
  * what's arrived" shape — with exactly-once bookkeeping in the stream
  * checkpoint instead of the tracker table.
  */
object DailyJob {

  /** One daily batch run. @return newly loaded file names (empty on a
    * re-run).
    */
  def runOnce(spark: SparkSession, sfDir: String, workDir: String,
              runDate: String): Seq[String] = {
    val raw = graft.queries.PipelineOps.rawPostings(spark, sfDir)
    val extracted = Extract.run(
      kaggle = raw,
      huggingFace = raw.where(lit(false)),
      runDate = runDate,
      descriptionCol = Some("description"))
    val landing = s"$workDir/landing"
    CsvTables.write(extracted, s"$landing/fetch_jobs_$runDate.csv")
    loadLanding(spark, workDir)
  }

  /** Incremental transform+load over whatever is in the landing dir.
    * Keep-first dedup orders by each row's position in its landing file
    * (`Extract.withIngestId`), in this leg and in `runStreaming`, so both
    * keep the same row of a duplicate group.
    */
  def loadLanding(spark: SparkSession, workDir: String): Seq[String] = {
    val landing = s"$workDir/landing"
    def listRaw(): Seq[String] =
      Option(new java.io.File(landing).list()).map(_.toSeq.sorted).getOrElse(Seq.empty)
    Load.loadIncremental(
      spark, listRaw(), s"$workDir/tracker",
      process = f =>
        Transform.transform(
          Extract.withIngestId(CsvTables.read(spark, Schema.canonical, s"$landing/$f"))),
      sink = df => df.write.mode("append").parquet(s"$workDir/store"))
  }

  /** Streaming twin of the transform+load leg: drain all unseen landing
    * files (AvailableNow), apply the batch transform per micro-batch,
    * append to the streaming store. The checkpoint IS the tracker —
    * exactly-once across restarts and re-runs.
    */
  def runStreaming(spark: SparkSession, workDir: String): Unit = {
    val stream = spark.readStream
      .schema(Schema.canonical)
      .option("header", "true")
      // one landing file per micro-batch: the transform's keep-first
      // dedup must see one day at a time, exactly like the per-file
      // batch leg (a single drained mega-batch would dedup ACROSS days)
      .option("maxFilesPerTrigger", "1")
      .csv(s"$workDir/landing/*")
    graft.streaming.MicroBatchFold.drain(stream,
        s"$workDir/stream_checkpoint") { (batch, _) =>
      Transform.transform(Extract.withIngestId(batch))
        .write.mode("append").parquet(s"$workDir/stream_store")
    }
  }

  /** `runMain graft.pipeline.DailyJob <sfDir> <workDir> <runDate>...`
    * — replays each run date in order, then reports the store size.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: DailyJob <sfDir> <workDir> <runDate> [runDate ...]")
    val Array(sfDir, workDir) = args.take(2)
    val spark = graft.GraftSession.start("graft-daily-job")
    args.drop(2).foreach { dt =>
      val loaded = runOnce(spark, sfDir, workDir, dt)
      println(s"[daily-job] $dt loaded=${loaded.mkString(",")}")
    }
    val n = spark.read.parquet(s"$workDir/store").count()
    println(s"[daily-job] store rows=$n")
    spark.stop()
  }
}

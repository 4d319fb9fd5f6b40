package graft.streaming

import graft.functions.PolyHash.polyHash
import graft.ops.{HtmlExtract, Warc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end incremental crawl ingestion (q182): WARC segments arrive
  * as files — the exact shape a 100 TB crawl drop has on disk — and
  * every micro-batch runs the full ingest chain: record-level salvage
  * demux ([[graft.ops.WarcParseLenient]]), HTML boilerplate extraction
  * ([[graft.ops.HtmlExtract]]) on each response payload, and per-language
  * accounting (language travels IN the container, parsed back from the
  * WARC-Target-URI — the metadata path a real crawl uses). All outputs
  * are additive statistics, so per-batch partials fold with plain sums
  * and the stream equals the batch computation under any arrival order;
  * the DuckDB oracle replays page generation, extraction, and the
  * per-language fold straight from the documents table, gating the
  * demux + extract + fold chain end to end.
  *
  * No cross-batch state at all — the partial-fold family (q109/q125/…),
  * not the store family: a segment's records are wholly contained in
  * its batch, so nothing needs a seen-store probe. Retry safety is the
  * usual `batch=`-keyed Overwrite partial.
  */
object WarcIngestStream {

  /** Build the "crawler output": WARC segments of ~512 docs, language
    * embedded in each record's target URI.
    */
  private[graft] def buildSegments(docs0: DataFrame): DataFrame = {
    val base = docs0
      .select(col("doc_id").cast("long").as("doc_id"),
        coalesce(col("lang"), lit("und")).as("lang"),
        coalesce(col("text"), lit("")).as("text"))
      .where(col("doc_id").isNotNull)
    val n = base.agg(count(lit(1)).as("n_docs"))
    val nf = greatest(lit(1L), expr("(n_docs + 511) DIV 512"))
    base.crossJoin(broadcast(n))
      .select(col("doc_id"), pmod(col("doc_id"), nf).as("file_id"),
        Warc.warcBuild(
          concat(lit("https://example"),
            pmod(col("doc_id"), lit(5L)).cast("string"),
            lit(".com/"), col("lang"), lit("/doc/"),
            col("doc_id").cast("string")),
          encode(HtmlExtract.htmlWrap(col("doc_id"), col("text")),
            "UTF-8")).as("rec"))
      .groupBy(col("file_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("rec"))))
        .as("rs"))
      .select(col("file_id"),
        Warc.warcSegment(expr("transform(rs, r -> r.rec)")).as("seg"))
  }

  /** Consume the staged segment arrivals to completion and return the
    * folded per-language frame.
    */
  def run(spark: SparkSession, inputDir: String, workDir: String)
      : DataFrame = {
    val partsDir = s"$workDir/partials"
    // Megabyte-scale binary rows break the vectorized parquet reader's
    // default sizing: 4096 rows/batch × ~1 MB segments tries to reserve
    // a multi-GB contiguous byte vector (measured OOM at the sf100
    // rung). 32 × ~1 MB ≈ 32 MB per batch — the right order for any
    // row size this source stages.
    BatchTuning.withConf(spark,
        "spark.sql.parquet.columnarReaderBatchSize" -> "32") {
      MicroBatchFold.runInputGated(spark, inputDir, workDir) { (batch, batchId) =>
        val recs = batch
          .select(Warc.warcParseLenient(col("seg")).as("st"))
          .select(explode(col("st.records")).as("r"))
          .select(
            regexp_extract(col("r.uri"),
              "\\.com/([A-Za-z0-9]+)/doc/", 1).as("lang"),
            col("r.content_length").as("clen"),
            HtmlExtract.htmlMainStats(col("r.payload").cast("string"))
              .as("hs"))
        graft.pipeline.Load.writeBatchPartial(
          recs.groupBy(col("lang")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("clen")).as("sum_clen"),
            sum(col("hs.n_kept")).as("n_kept"),
            sum(col("hs.kept_chars")).as("kept_chars"),
            sum(polyHash(coalesce(col("hs.main_text"), lit(""))))
              .as("text_hashsum"))
            .coalesce(1),
          partsDir, batchId)
      }
      spark.read.parquet(partsDir)
        .groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_clen")).as("sum_clen"),
          sum(col("n_kept")).as("n_kept"),
          sum(col("kept_chars")).as("kept_chars"),
          sum(col("text_hashsum")).as("text_hashsum"))
        .orderBy(col("lang"))
    }
  }

  /** Build segments, stage them as timed arrivals, run: the q182 entry.
    * (the stager splits on a `doc_id` column, so the segment key rides
    * it renamed — one arrival file per contiguous file_id range.)
    */
  def runOn(spark: SparkSession, docs: DataFrame, nSplits: Int): DataFrame =
    MicroBatchFold.staged(spark, "q182_warc_ingest",
      buildSegments(docs).withColumnRenamed("file_id", "doc_id"), nSplits)(
      run(spark, _, _))
}

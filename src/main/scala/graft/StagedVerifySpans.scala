package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Staged oracle export for the span-dedup and corpus-prep stream
  * families above the full-replay ceiling (round-12 verdict #4 — the
  * last stream families verified only to sf10). The split mirrors
  * StagedVerify's q129 pattern: DuckDB cannot re-mine the w-token gram
  * table from text at sf100 (the gram strings alone are ~25 GB of
  * intermediate and two polynomial hashes per gram), but the gram
  * EXTRACTION is full-oracle-verified at sf0.01/sf1 (gate) and sf10
  * (r9 sweep) — so the engine exports its (doc_id, pos, pack) gram
  * frame and DuckDB folds only the downstream semantics over it:
  *
  *  1. `grams.parquet`: the engine's gram-hash frame (pack is an
  *     opaque dual-hash identity — the fold only needs its equality);
  *  2. `q100.parquet` / `q101.parquet`: the engine's batch span-dedup
  *     output and the stream's accumulated output (arrival staged in
  *     doc_id order makes the cross-batch gram store closed-form —
  *     SpanDedupStream's Scaladoc);
  *  3. `q98.parquet` / `q104.parquet`: the corpus-prep composition,
  *     batch and stream — their oracle is row-wise (no mining join),
  *     so DuckDB replays it IN FULL at any rung straight from the
  *     documents parquet; the exports just pin the engine side.
  *
  * `tools/stagedcheck_spans.py` then recomputes the first-occurrence
  * election, span coverage, and per-doc reconstruction hash from the
  * exported grams + the corpus text, and compares all four engine
  * outputs. Usage: `StagedVerifySpans <sfDir> <outDir>`.
  */
object StagedVerifySpans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = GraftSession.start(
      GraftSession.builder("graft-staged-verify-spans", GraftSession.cpus)
        .config("spark.sql.files.maxPartitionBytes", "16m"))

    def t[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[staged-spans] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      t(name) {
        df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }

    dump("grams", graft.ops.SpanDedup
      .grams(Tables.documents(spark, sfDir), w = 8))
    dump("q100", queries.Registry.byName("q100_span_dedup")
      .run(spark, sfDir))
    dump("q101", queries.Registry.byName("q101_span_dedup_stream")
      .run(spark, sfDir))
    dump("q98", queries.Registry.byName("q98_corpus_prep_pipeline")
      .run(spark, sfDir))
    dump("q104", queries.Registry.byName("q104_corpus_prep_stream")
      .run(spark, sfDir))
    // q98/q104's oracle is row-wise, so the checker replays it in full —
    // ship the registered SQL verbatim (no second copy to drift)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/q98_oracle.sql"),
      queries.Registry.byName("q98_corpus_prep_pipeline").oracle.get)
    println(s"[staged-spans] export complete: $outDir")
    spark.stop()
  }
}

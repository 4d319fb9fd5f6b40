package graft.pipeline

import graft.Tables
import graft.ops.SpanDedup
import graft.queries.{SelectionOps, TrainingOps}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** What one curation run did, stage by stage (all counts are documents
  * except the token/shard fields).
  */
final case class CurationReport(
    n_input: Long,
    n_quality_kept: Long,
    n_ppl_kept: Long,
    n_tokens_out: Long,
    n_shards: Long)

/** The training-data curation entry point — the extension-surface
  * counterpart of [[DailyJob]] (which replays the reference ETL): one
  * command takes a raw document corpus to trainer-consumable shards,
  * composing the §2.14/§2.15 operators in their production order:
  *
  *  1. stateless quality gate (q95's row metrics) — drop junk early,
  *     before any shuffle touches it;
  *  2. cross-document span dedup (q100) — REWRITE surviving docs with
  *     duplicated 8-token spans removed;
  *  3. bigram-LM perplexity gate (q107) — trained on the deduped
  *     corpus itself, so boilerplate that survived rewriting still
  *     scores cheap and organic text passes;
  *  4. token-budget sharding (q121's distributed prefix sum) and a
  *     partitioned JSONL export (one directory per shard — the layout
  *     a data loader maps workers onto), plus a per-shard stats table.
  *
  * Each stage is the registered, oracle-checked operator — this main
  * adds only the composition and the sinks. Deterministic end to end:
  * rerunning on the same input overwrites the same output.
  */
object CurationJob {

  def run(spark: SparkSession, sfDir: String, outDir: String,
          w: Int = 8, tokenBudget: Long = 2000L): CurationReport = {
    // the gate/span-hash/LM passes below are per-row CPU over a
    // one-split fixture scan — spread it (Tables.spreadIfNarrow:
    // identity at warehouse scale)
    val docs = Tables.spreadIfNarrow(spark, sfDir, "documents",
        Tables.documents(spark, sfDir))
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
    val nInput = docs.count()

    // 1. quality gate (row-local: no state, no shuffle)
    val gated = TrainingOps.withRowQuality(docs)
      .where(col("quality_pass") === 1)
      .select(col("doc_id"), col("lang"), col("text"))

    // 2. span-dedup rewrite (keeps the globally-first occurrence of
    // every w-gram; later docs lose the duplicated spans). Stage
    // boundaries are PINNED (localCheckpoint): the funnel's later
    // stages, counts, and both sinks each re-consume earlier stages,
    // and without pinning every action would replay the whole chain
    // from the scan — at warehouse scale this is the stage-boundary
    // materialization a production pipeline writes to the lake anyway
    // (the sharded JSONL at the end is exactly that for stage 4).
    val rewritten = SpanDedup
      .keptText(gated.select(col("doc_id"), col("text")), w)
      .join(gated.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint()
    val nGated = rewritten.count()

    // 3. perplexity gate under a bigram LM trained on the deduped
    // corpus itself
    val scored = SelectionOps.bigramGate(
      rewritten.select(col("doc_id"), col("text")))
    val kept = rewritten
      .join(scored.where(col("ppl2_pass") === 1)
        .select(col("doc_id"), col("n_big")), Seq("doc_id"))
      .localCheckpoint()
    val nKept = kept.count()

    // 4. token-budget shards via the two-phase prefix sum, then one
    // JSONL directory per shard + a per-shard stats table
    val sharded = SelectionOps.tokenBudgetShards(spark,
        kept.select(col("doc_id"),
          size(filter(split(col("text"), " "), t => t =!= ""))
            .cast("long").as("n_tok")),
        budget = tokenBudget, nParts = 8)
      .join(kept.select(col("doc_id"), col("lang"), col("text")), Seq("doc_id"))
      .localCheckpoint() // consumed by the corpus sink AND the stats agg
    sharded
      .select(col("doc_id"), col("lang"), col("text"), col("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard")
      .json(s"$outDir/corpus")
    val stats = sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
      .orderBy(col("shard"))
    stats.write.mode(SaveMode.Overwrite).parquet(s"$outDir/shard_stats")
    val (nShards, totTok) = {
      // sum() over zero rows is NULL — an all-gated-out corpus must
      // report (0, 0), not throw on getLong.
      val r = stats
        .agg(count(lit(1)), coalesce(sum(col("sum_tok")), lit(0L)))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    CurationReport(nInput, nGated, nKept, totTok, nShards)
  }

  /** CLI: CurationJob <sfDir> <outDir> */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = graft.GraftSession.start("graft-curation-job")
    val r = run(spark, sfDir, outDir)
    println(s"[curate] input=${r.n_input} quality_kept=${r.n_quality_kept} " +
      s"ppl_kept=${r.n_ppl_kept} tokens=${r.n_tokens_out} shards=${r.n_shards}")
    spark.stop()
  }
}

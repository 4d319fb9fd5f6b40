package graft

import graft.pipeline.{CleanOracles, Extract, Schema, Transform}
import graft.queries.PipelineOps
import graft.sources.CsvTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FilterExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Plan-shape guards for the daily ingest path (`Extract.run` +
  * `Transform.transform`): every expression compiles into the generated
  * stages (none is `CodegenFallback`, i.e. interpreted per row), and the
  * US filter runs below the skill extractor's `mapPartitions`, so dropped
  * rows are never sent to it.
  */
class IngestPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Runs `df` and returns its final (post-AQE) physical plan. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def fallbacks(plan: SparkPlan): Seq[String] =
    flatMap(plan)(_.expressions.flatMap(_.collect { case e: CodegenFallback => e.prettyName }))
      .distinct

  private def extract(raw: DataFrame): DataFrame =
    Extract.run(kaggle = raw, huggingFace = raw.where(lit(false)),
      runDate = "2025-10-21", descriptionCol = Some("description"))

  test("daily ingest plans have no CodegenFallback expression") {
    // the two plans of DailyJob.runOnce: extract -> landing CSV, then
    // landing CSV -> transform
    val dir = java.nio.file.Files.createTempDirectory("graft_codegen").toString
    val extracted = extract(PipelineOps.rawPostings(spark, sfDir))
    val extractPlan = executed(extracted)
    assert(fallbacks(extractPlan).isEmpty, s"interpreted in extract: ${fallbacks(extractPlan)}")
    CsvTables.write(extracted, s"$dir/landing")
    val transformPlan = executed(Transform.transform(
      Extract.withIngestId(CsvTables.read(spark, Schema.canonical, s"$dir/landing"))))
    assert(fallbacks(transformPlan).isEmpty,
      s"interpreted in transform: ${fallbacks(transformPlan)}")

    // the detector itself: the lambda forms are CodegenFallback (inputs
    // derived from a range, so nothing constant-folds away)
    val s = concat(lit("a, full-time "), col("id").cast("string"))
    val lambda = executed(spark.range(4)
      .select(CleanOracles.flattenSkillsLambda(s), CleanOracles.inferJobTypeLambda(s, s)))
    assert(Set("array_sort", "filter", "transform").subsetOf(fallbacks(lambda).toSet),
      fallbacks(lambda).toString)
  }

  test("US filter runs below the skill-extraction mapPartitions") {
    // a file-backed source, so the filter stays a FilterExec over the scan
    // (over a local relation the optimizer would fold it away)
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    Seq(
      ("Acme", "Data Engineer", "full-time", "Seattle, WA", "USA", "$85,000",
       "2025-10-20", "indeed", "We need strong python and sql skills plus communication."),
      ("Beta", "ML Engineer", "contract", "Paris", "France", "$90,000",
       "2025-10-20", "indeed", "We need strong scala and spark skills plus teamwork.")
    ).toDF("company", "title", "job_type", "location", "country", "mean_salary",
           "date_posted", "site", "description")
      .write.option("header", "true").csv(s"$dir/raw")
    val raw = spark.read.option("header", "true").csv(s"$dir/raw")
    val plan = executed(Transform.transform(extract(raw)))

    def usFilters(p: SparkPlan): Seq[FilterExec] =
      collect(p) { case f: FilterExec if f.condition.references.exists(_.name == "country") => f }
    val below = collect(plan) { case m: MapPartitionsExec => m }.flatMap(usFilters)
    assert(below.nonEmpty, s"no US filter below the extractor:\n$plan")
    assert(usFilters(plan).size == below.size, s"a US filter runs above the extractor:\n$plan")
  }
}

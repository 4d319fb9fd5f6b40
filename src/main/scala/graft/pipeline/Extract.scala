package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The extract stage (SURVEY.md §3.1; reference `src/data_extract.py`):
  * read heterogeneous sources, filter to US rows, sample, enrich with
  * skills, normalize into the canonical schema, union, synthesize
  * timestamps. Everything is one lazy plan; the only exchanges are the
  * union's downstream consumers.
  */
object Extract {

  /** P1/P3: project a source-shaped frame into the canonical 11 columns,
    * resolving each canonical column against candidate source columns by
    * presence (driver-side schema introspection, so Catalyst sees a plain
    * select) and padding missing ones with null.
    */
  def normalize(df: DataFrame, colMap: Seq[(String, Seq[String])],
                sourceTag: String): DataFrame = {
    val cols = colMap.map { case (dst, candidates) =>
      resolve(df, candidates).getOrElse(lit(null).cast("string")).as(dst)
    } :+ lit(sourceTag).as("source")
    df.select(cols: _*)
  }

  /** The first of `candidates` present in `df`'s schema, as a string. */
  private def resolve(df: DataFrame, candidates: Seq[String]): Option[Column] =
    candidates.find(df.columns.contains).map(src => col(src).cast("string"))

  /** F1+F2: US-rows filter with the reference's precedence (reference
    * `src/data_extract.py:85-95`: `if country_col … elif loc_col`): when
    * the source schema resolved a country column, ONLY the IN-list
    * applies — a non-US country drops the row even if the location looks
    * US; otherwise, when a location column resolved, the regex applies;
    * a source with neither passes through unfiltered. Null-safe: null
    * never matches the active predicate.
    */
  def usaFilter(country: Column, location: Column,
                hasCountry: Boolean = true, hasLocation: Boolean = true): Column =
    if (hasCountry)
      lower(trim(coalesce(country, lit("")))).isin("usa", "us", "united states")
    else if (hasLocation)
      coalesce(location, lit("")).rlike("(?i)\\b(US|United States|USA)\\b")
    else lit(true)

  /** Full extract for one run date: filter both sources, enrich the kept
    * rows, normalize, union, fill edge defaults, synthesize posted
    * timestamps.
    */
  def run(
      kaggle: DataFrame,
      huggingFace: DataFrame,
      runDate: String,
      extractor: SkillExtractor = RuleSkillExtractor,
      descriptionCol: Option[String] = None): DataFrame = {

    def prep(df: DataFrame, map: Seq[(String, Seq[String])], tag: String): DataFrame = {
      // Filter mode and source columns are resolved from the RAW schema,
      // mirroring the reference's column-presence checks before
      // normalization. The filter runs on the raw frame, before the skill
      // extractor: Catalyst cannot push it below the mapPartitions, and a
      // dropped row must not pay for (or spend the budget of) extraction.
      def source(dst: String): Option[Column] =
        map.collectFirst { case (`dst`, cands) => cands }.flatMap(resolve(df, _))
      val country = source("country")
      val location = source("job_location")
      val kept = df.where(usaFilter(
        country.getOrElse(lit(null)), location.getOrElse(lit(null)),
        hasCountry = country.isDefined, hasLocation = location.isDefined))
      val enriched = descriptionCol match {
        case Some(c) if df.columns.contains(c) => SkillExtract.withSkills(kept, c, extractor)
        case _ => kept
      }
      normalize(enriched, map, tag)
    }

    val unioned = prep(kaggle, Schema.kaggleMap, "Kaggle")
      .unionByName(prep(huggingFace, Schema.huggingFaceMap, "HuggingFace"))

    unioned
      .withColumn("country",
        Clean.emptyToDefault(col("country"), "United States"))
      .withColumn("soft_skills",
        Clean.emptyToDefault(col("soft_skills"), "communication, teamwork"))
      .withColumn("salary", Clean.normalizeSalary(col("salary")))
      .withColumn("job_posted_date",
        date_format(
          Clean.synthesizeTimestamp(lit(runDate), col("job_title"), seed = 42L),
          "yyyy-MM-dd HH:mm:ss"))
  }

  /** Stable per-row ingest id for keep-first dedup: the row's position in
    * its input, as (split index, row within split). A file's splits are
    * numbered in byte-offset order, so on a one-file read the id grows
    * with the row's position in the file.
    */
  def withIngestId(df: DataFrame): DataFrame =
    df.withColumn("__ingest_id", monotonically_increasing_id())
}

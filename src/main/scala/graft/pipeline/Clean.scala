package graft.pipeline

import graft.functions.TitleCase.titleCase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's scalar cleaning library as pure column expressions
  * (SURVEY.md §2.5 C1–C17, §2.6 T1). Everything except title-casing is
  * Spark built-ins (whole-stage codegen'd); title-casing is the custom
  * codegen'd `TitleCase` expression for exact Python `str.title()`
  * parity.
  */
object Clean {

  // ---- C1: lower + trim normalize ----------------------------------------
  def lowerTrim(c: Column): Column = lower(trim(c))

  // ---- C2: strip bracketed text (reference transform.py:76) --------------
  def stripBrackets(c: Column): Column =
    regexp_replace(c, """\(.*?\)|\[.*?\]|\{.*?\}""", "")

  // ---- C3: truncate at first of - # | / (transform.py:79) ----------------
  def firstSegment(c: Column): Column = split(c, """[-#|/]""").getItem(0)

  // ---- C4: drop roman-numeral words (transform.py:82) --------------------
  def stripRomanNumerals(c: Column): Column =
    regexp_replace(c, """\b[ivx]+\b""", "")

  // ---- C5: drop seniority/stop words (transform.py:85-89) ----------------
  private val seniorityWords =
    "senior|sr|junior|jr|lead|principal|chief|head|manager|director|vp|" +
      "vice president|president|internship|intern|contract|temp|temporary|" +
      "remote|hybrid|hiring|immediate joiner|via|through"
  def stripSeniority(c: Column): Column =
    regexp_replace(c, s"""(?i)\\b($seniorityWords)\\b""", "")

  // ---- C6: strip non-alpha, collapse whitespace (transform.py:92-93) -----
  def alphaOnly(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, """[^a-zA-Z\s]""", " "), """\s+""", " "))

  // ---- C4+C5+C6 fused: one run-pass over the title --------------------
  // Any run of {non-alpha chars, whole roman-numeral words, whole
  // seniority words} collapses to a single space. Equivalent to the
  // three sequential passes because (a) noise words are only removed as
  // whole words — the \b anchors see the ORIGINAL string, exactly like
  // pass-by-pass removal, and (b) removing a whole word leaves
  // whitespace, never creating new word adjacency, so later passes can't
  // match anything the fused run didn't. CleanSpec proves equality on an
  // adversarial battery + fixture titles.
  private val titleNoiseRe =
    s"(?:[^a-zA-Z]|\\b(?:[ivx]+|(?i:$seniorityWords))\\b)+"
  def stripTitleNoise(c: Column): Column =
    trim(regexp_replace(c, titleNoiseRe, " "))

  // ---- C7/C8: composed title cleaning chain (transform.py:67-96) ---------
  def cleanJobTitle(c: Column): Column =
    titleCase(stripTitleNoise(firstSegment(stripBrackets(c))))

  /** The unfused reference composition (C4 → C5 → C6), kept as the
    * equivalence oracle for `stripTitleNoise`.
    */
  private[graft] def cleanJobTitleUnfused(c: Column): Column =
    titleCase(alphaOnly(stripSeniority(stripRomanNumerals(firstSegment(stripBrackets(c))))))

  // ---- C9: timestamp coercion, invalid -> null (transform.py:102-103) ----
  def coerceTimestamp(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(c, lit("yyyy-MM-dd")))

  // ---- C10: numeric coercion, invalid -> null (transform.py:104-105) -----
  def coerceNumeric(c: Column): Column = c.cast("string").try_cast("double")

  // ---- C11: salary normalization (data_extract.py:205-212) ---------------
  // strip $ , and spaces -> double; annualize hourly-looking values
  // (x <= 1000 -> x*2000); truncate to whole dollars; junk -> null.
  def normalizeSalary(c: Column): Column = {
    val s = regexp_replace(c.cast("string"), """[$,\s]""", "").try_cast("double")
    when(s > 1000, floor(s)).otherwise(floor(s * 2000)).cast("double")
  }

  // ---- C12: constant fills (data_extract.py:152-154,202-203;
  //           transform.py:121-125) ----------------------------------------
  val transformFills: Map[String, String] = Map(
    "company_name" -> "Unknown",
    "technical_skills" -> "not listed",
    "soft_skills" -> "not listed")
  def emptyToDefault(c: Column, default: String): Column =
    when(c.isNull || trim(c) === "", lit(default)).otherwise(c)

  // ---- C13: year extraction (transform.py:145-146) -----------------------
  def yearOf(c: Column): Column = year(c)

  // ---- C14: city extraction (transform.py:147-148) -----------------------
  def cityOf(c: Column): Column =
    when(c.contains(","), trim(split(c, ",").getItem(0))).otherwise(c)

  // ---- C15: skill-list token normalize (transform.py:128-134) ------------
  // No lambdas: `transform`/`filter` are CodegenFallback in Spark 4.1 and
  // would run interpreted inside the generated stage. Splitting the
  // trimmed, lowered string on " *, *" eats each token's edge spaces with
  // the comma (trim strips only ' ', the same char), so dropping the ""
  // tokens leaves exactly the per-token lower(trim) of the lambda form.
  private def skillTokens(c: Column): Column =
    array_remove(split(trim(lower(c)), " *, *"), "")

  def flattenSkills(c: Column): Column =
    when(c.isNull, lit("not listed")).otherwise(array_join(skillTokens(c), ", "))

  /** Array form of a comma-joined skill list (internal representation per
    * SURVEY.md §1.3) — the same tokens `flattenSkills` joins.
    */
  def skillsAsArray(c: Column): Column = skillTokens(c)

  /** The lambda form of C15, kept as the equivalence oracle for
    * `flattenSkills`.
    */
  private[graft] def flattenSkillsLambda(c: Column): Column = {
    val norm = transform(split(c, ","), t => lower(trim(t)))
    val nonEmpty = filter(norm, t => t =!= "")
    when(c.isNull, lit("not listed")).otherwise(array_join(nonEmpty, ", "))
  }

  // ---- C16: deterministic timestamp synthesis (data_extract.py:217-225) --
  // The reference draws a random evening time (09:00:00–22:59:59); for
  // replayability ours is a hash of (seed, key): same inputs -> same
  // timestamps on any cluster shape.
  def synthesizeTimestamp(runDate: Column, key: Column, seed: Long): Column = {
    val offset = pmod(xxhash64(key, lit(seed)), lit(14L * 3600)) // 09:00 + [0, 14h)
    timestamp_seconds(unix_timestamp(runDate.cast("date")) + lit(9L * 3600) + offset)
  }

  // ---- C17: trim string edges at the sink (load_sqlserver.py:76-80) ------
  def trimStrings(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.dataType.typeName == "string" =>
        acc.withColumn(f.name, trim(col(f.name)))
      case (acc, _) => acc
    }

  // ---- T1: multi-label job-type classification (transform.py:44-64) ------
  // Regex-test six classes over job_type ++ " " ++ job_title; emit the
  // sorted comma-joined label set, else "Not specified". The labels are
  // constants, so the table is kept in label order and `concat_ws`
  // (which skips nulls) emits the sorted set directly — no array_sort /
  // filter, both CodegenFallback in Spark 4.1. Each rlike is guarded by
  // a literal every match must contain; `And` short-circuits in codegen,
  // so most rows skip most regexes without changing any result.
  private val jobTypePatterns = Seq(
    // (regex, literal every match contains, label) — sorted by label
    ("contract", Seq("contract"), "Contract"),
    ("freelance|consult", Seq("freelance", "consult"), "Freelance"),
    ("full[- ]?time", Seq("full"), "Full-Time"),
    ("intern(ship)?", Seq("intern"), "Internship"),
    ("part[- ]?time", Seq("part"), "Part-Time"),
    ("temp(orary)?", Seq("temp"), "Temporary"))
  private def jobTypeHaystack(jobType: Column, jobTitle: Column): Column =
    concat_ws(" ", lower(coalesce(jobType, lit(""))), lower(coalesce(jobTitle, lit(""))))

  def inferJobType(jobType: Column, jobTitle: Column): Column = {
    val hay = jobTypeHaystack(jobType, jobTitle)
    val labels = concat_ws(", ", jobTypePatterns.map { case (re, lits, label) =>
      val guard = lits.map(l => hay.contains(l)).reduce(_ || _)
      when(guard && hay.rlike(s"""\\b($re)\\b"""), lit(label))
    }: _*)
    when(labels === "", lit("Not specified")).otherwise(labels)
  }

  /** The array/lambda form of T1, kept as the equivalence oracle for
    * `inferJobType`.
    */
  private[graft] def inferJobTypeLambda(jobType: Column, jobTitle: Column): Column = {
    val hay = jobTypeHaystack(jobType, jobTitle)
    val labels = array(jobTypePatterns.map { case (re, _, label) =>
      when(hay.rlike(s"""\\b($re)\\b"""), lit(label))
    }: _*)
    val present = array_sort(filter(labels, l => l.isNotNull))
    when(size(present) === 0, lit("Not specified"))
      .otherwise(array_join(present, ", "))
  }

  // ---- D1: keyed dedup with exact keep-first semantics -------------------
  // The pandas `drop_duplicates` keeps the first row in file order; the
  // distributed equivalent needs an explicit order column.
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }
}

package graft

import graft.functions.TitleCase.titleCase
import graft.pipeline.Clean
import org.apache.spark.sql.functions._

/** Golden tests for the cleaning library (SURVEY.md §2.5/§2.6) — the
  * order-sensitive title chain, job-type label sets, salary annualization
  * edges, skill flattening, keep-first dedup.
  */
class CleanSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): String = {
    val r = Seq(input).toDF("v").select(c.as("out")).collect()(0)
    if (r.isNullAt(0)) null else r.getString(0)
  }

  test("C8 title chain cleans brackets, separators, romans, seniority, punctuation") {
    val cases = Map(
      "senior data engineer iii (remote) - contract" -> "Data Engineer",
      "sr. software engineer ii #4521" -> "Software Engineer",
      "machine learning engineer [nyc] / hybrid" -> "Machine Learning Engineer",
      "lead devops engineer | night shift" -> "Devops Engineer",
      "analyst" -> "Analyst")
    cases.foreach { case (in, want) =>
      assert(one(Clean.cleanJobTitle(col("v")), in) == want, s"input: $in")
    }
  }

  test("fused title-noise pass equals the sequential C4->C5->C6 chain") {
    // Adversarial battery: boundary-straddling digits ("3senior" keeps
    // senior in BOTH forms — C6 runs after C5), roman words glued to
    // letters, multi-word seniority phrases, noise runs, unicode, empties
    // — plus the precedence case from VERDICT (country handled in
    // Extract; here the title side).
    val inputs = Seq(
      "senior data engineer iii (remote) - contract",
      "sr. software engineer ii #4521",
      "3senior dev", "iv league analyst", "ivy league analyst",
      "vice president of data", "vp engineering", "senior-level architect",
      "sr5 analyst", "intern - internship", "via recruiter: ml lead",
      "x v i analyst", "xvi analyst", "données engineer", "  ", "",
      "a#b-c|d/e", "immediate joiner needed!!", "head", "temp temp temp",
      "PRINCIPAL Engineer IV", "remote remote (hybrid) [onsite]"
    ) ++ (0 until 200).map(i => s"title $i senior iv #$i (x$i) analyst-$i")
    val df = inputs.toDF("v")
      .select(col("v"),
        graft.pipeline.Clean.cleanJobTitle(col("v")).as("fused"),
        graft.pipeline.CleanOracles.cleanJobTitleUnfused(col("v")).as("seq"))
    val diffs = df.where(not(col("fused") <=> col("seq"))).collect()
    assert(diffs.isEmpty,
      diffs.take(5).map(r => s"'${r.getString(0)}': fused='${r.getString(1)}' seq='${r.getString(2)}'").mkString("; "))
  }

  test("TitleCase matches Python str.title, not initcap") {
    assert(one(titleCase(col("v")), "ai/ml engineer") == "Ai/Ml Engineer")
    assert(one(titleCase(col("v")), "o'neil the 3rd") == "O'Neil The 3Rd")
    assert(one(titleCase(col("v")), "") == "")
    // initcap would give "Ai/ml Engineer" — prove the divergence exists
    assert(one(initcap(col("v")), "ai/ml engineer") == "Ai/ml Engineer")
  }

  test("T1 multi-label job type: sorted labels, Not specified fallback") {
    def infer(jt: String, title: String): String =
      Seq((jt, title)).toDF("jt", "t")
        .select(Clean.inferJobType(col("jt"), col("t")).as("o"))
        .collect()(0).getString(0)
    assert(infer("full-time", "engineer") == "Full-Time")
    assert(infer("", "contract full time intern role") ==
      "Contract, Full-Time, Internship")
    assert(infer("freelance consulting", "temp work") == "Freelance, Temporary")
    assert(infer("", "engineer") == "Not specified")
    assert(infer(null, null) == "Not specified")
  }

  test("C11 salary normalization: currency strip, hourly x2000, junk to null") {
    def sal(in: String): Option[Double] = {
      val r = Seq(in).toDF("v").select(Clean.normalizeSalary(col("v")).as("o")).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(sal("$85,000") == Some(85000.0))
    assert(sal("75") == Some(150000.0))       // hourly heuristic
    assert(sal("1000") == Some(2000000.0))    // boundary: 1000 is "hourly"
    assert(sal("1000.50") == Some(1000.0)) // just over the hourly bound -> int(x)
    assert(sal("  $120,500 ") == Some(120500.0))
    assert(sal("junk") == None)
    assert(sal("") == None)
  }

  test("C15 skill flattening: strip, lower, drop empties") {
    assert(one(Clean.flattenSkills(col("v")), " Python , SQL,,aws ") ==
      "python, sql, aws")
    assert(one(Clean.flattenSkills(col("v")), "") == "")
    val nullIn = Seq[Option[String]](None).toDF("v")
      .select(Clean.flattenSkills(col("v")).as("o")).collect()(0).getString(0)
    assert(nullIn == "not listed")
  }

  test("C14 city extraction") {
    assert(one(Clean.cityOf(col("v")), "Seattle, WA") == "Seattle")
    assert(one(Clean.cityOf(col("v")), "remote") == "remote")
  }

  test("C12 empty fill") {
    assert(one(Clean.emptyToDefault(col("v"), "Unknown"), "  ") == "Unknown")
    assert(one(Clean.emptyToDefault(col("v"), "Unknown"), "acme") == "acme")
  }

  test("D1 keep-first dedup keeps the lowest order id per key") {
    val df = Seq(
      ("acme", "eng", 1L, 100.0),
      ("acme", "eng", 2L, 200.0),
      ("beta", "eng", 3L, 300.0),
      ("acme", "eng", 4L, 400.0)
    ).toDF("company", "title", "ord", "salary")
    val out = Clean.dedupKeepFirst(df, Seq("company", "title"), "ord")
      .orderBy("ord").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 3L))
    assert(out(0).getDouble(3) == 100.0)
  }

  test("C9 timestamp coercion: invalid to null, date-only accepted") {
    val df = Seq("2025-10-21 09:30:00", "2025-10-21", "not a date").toDF("v")
      .select(Clean.coerceTimestamp(col("v")).as("o"))
    val rows = df.collect()
    assert(!rows(0).isNullAt(0) && !rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }
}

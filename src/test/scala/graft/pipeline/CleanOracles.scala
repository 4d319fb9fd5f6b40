package graft.pipeline

import graft.functions.TitleCase.titleCase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference forms of the fused and lambda-free [[Clean]]
  * expressions, kept as their equivalence oracles.
  */
object CleanOracles {
  import Clean._

  /** The unfused reference composition (C4 → C5 → C6), the oracle for
    * `stripTitleNoise`.
    */
  def cleanJobTitleUnfused(c: Column): Column =
    titleCase(alphaOnly(stripSeniority(stripRomanNumerals(firstSegment(stripBrackets(c))))))

  /** The lambda form of C15, the oracle for `flattenSkills`. */
  def flattenSkillsLambda(c: Column): Column = {
    val norm = transform(split(c, ","), t => lower(trim(t)))
    val nonEmpty = filter(norm, t => t =!= "")
    when(c.isNull, lit("not listed")).otherwise(array_join(nonEmpty, ", "))
  }

  /** The array/lambda form of T1, the oracle for `inferJobType`. */
  def inferJobTypeLambda(jobType: Column, jobTitle: Column): Column = {
    val hay = jobTypeHaystack(jobType, jobTitle)
    val labels = array(jobTypePatterns.map { case (re, _, label) =>
      when(hay.rlike(s"""\\b($re)\\b"""), lit(label))
    }: _*)
    val present = array_sort(filter(labels, l => l.isNotNull))
    when(size(present) === 0, lit("Not specified"))
      .otherwise(array_join(present, ", "))
  }
}

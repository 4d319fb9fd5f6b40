package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.start("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated query-name filter for fast local iteration
    // (unset when the driver runs this — full dump).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A failed query must be VISIBLE in the gate, not silently absent
    // (round-6 post-mortem: four analysis-broken queries simply vanished
    // from CORRECTNESS_r06.json and the gate still read 100%). Collect
    // per-query errors and dump them as errors.json next to the results
    // so every caller — presnapshot, driver, human — sees the breakage.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // the driver's gate semantics are independent queries; make the
      // memory semantics match
      GraftSession.releaseCached(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v.take(2000))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // Exit 0 even on failures: a non-zero rc could make the driver
    // discard the WHOLE dump (round-5 bench rc=1 recorded nothing) —
    // the partial results plus errors.json are strictly more
    // informative. tools/presnapshot.sh fails the gate when
    // errors.json is non-empty.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} QUERIES FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}

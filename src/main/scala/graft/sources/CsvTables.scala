package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV edge IO (SURVEY.md §2.1 S2/S5/S6): the reference's inter-stage
  * format. Schemas are always driver-declared: a schema inference pass
  * reads the data twice and can flip types between daily files.
  */
object CsvTables {

  /** S2: schema'd CSV read; multi-path arguments give the S5 union-all
    * scan (one FileIndex, implicit union, partition-parallel).
    */
  def read(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE") // malformed rows -> nulls, not task failure
      .schema(schema)
      .csv(paths: _*)

  /** S6: CSV sink. One file per partition; callers coalesce(1) only for
    * tiny exports (a single writer is a scale anti-pattern).
    */
  def write(df: DataFrame, path: String,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)
}

package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Derives a larger scale rung from the driver's fixtures (the round-4
  * verdict's item 6: an sf1 bench to surface super-linear queries that
  * sf0.1 can't see). `factor` disjoint copies of every table are
  * unioned with per-copy key offsets, deterministically — no RNG — and
  * with two decorrelation transforms that keep the SCALING measurement
  * honest:
  *
  *  - document tokens are salted per copy (`tok` → `tok~i`), so copies
  *    don't register as near-duplicates of each other: without this,
  *    every pair-mining query (q34/q70/q71) would blow up
  *    quadratically in the copy count — an artifact of replication,
  *    not a property of a real 10× corpus (dup RATE is preserved:
  *    each copy still contains the fixture's planted near-dups);
  *  - embeddings get a per-copy diagonal ±1 orthogonal transform
  *    (splitmix64 sign pattern), which preserves every within-copy
  *    cosine exactly while decorrelating cross-copy vectors — same
  *    reasoning, for the cosine-pair queries.
  *
  * Keyed tables offset their keys by `i * (max_key + 1)` consistently
  * across fact/dim so joins land exactly as in the source rung.
  * Usage: `ScaleUp <srcDir> <dstDir> <factor>`.
  */
object ScaleUp {

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Write the `factor`x rung of `srcDir` to `dstDir`, on a session
    * built like [[main]]'s (nanos read as longs, micros written).
    */
  def run(spark: SparkSession, srcDir: String, dstDir: String,
          factor: Int): Unit = {
    def src(t: String): DataFrame =
      spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dstDir/$t.parquet")

    // tiny dims replicate verbatim (they are lookup tables, not facts)
    Seq("region", "nation").foreach(t => write(src(t), t))

    def maxOf(t: String, k: String): Long =
      src(t).agg(max(col(k))).collect().head.getLong(0) + 1

    val (ck, sk, pk, ok) = (maxOf("customer", "c_custkey"),
      maxOf("supplier", "s_suppkey"), maxOf("part", "p_partkey"),
      maxOf("orders", "o_orderkey"))
    val (ek, uk) = (maxOf("events", "event_id"),
      maxOf("events", "user_id"))
    val (dk, vk) = (maxOf("documents", "doc_id"),
      maxOf("embeddings", "vec_id"))

    /** Union `factor` copies of `t`, shifting each key column by its
      * table-consistent stride.
      */
    def copies(t: String)(tf: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => tf(src(t), i)).reduce(_ unionByName _)

    // entity names are salted per copy like document tokens: they are
    // alternate keys in practice (queries group by c_custkey but
    // DISPLAY c_name; oracles may group by the name), so replicated
    // identical names would alias 10 distinct entities into one group
    write(copies("customer") { (d, i) =>
      val named = if (i == 0) d
        else d.withColumn("c_name", concat(col("c_name"), lit(s"~$i")))
      named.withColumn("c_custkey", col("c_custkey") + lit(i * ck)) }, "customer")
    write(copies("supplier") { (d, i) =>
      val named = if (i == 0) d
        else d.withColumn("s_name", concat(col("s_name"), lit(s"~$i")))
      named.withColumn("s_suppkey", col("s_suppkey") + lit(i * sk)) }, "supplier")
    write(copies("part") { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * pk)) }, "part")
    write(copies("orders") { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * ok))
        .withColumn("o_custkey", col("o_custkey") + lit(i * ck)) }, "orders")
    write(copies("lineitem") { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * ok))
        .withColumn("l_partkey", col("l_partkey") + lit(i * pk))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * sk)) }, "lineitem")
    // ts normalizes through the shared reader (nanos-long / NTZ micros /
    // tz'd micros → one microsecond TimestampType, see Tables.events) so
    // the derived rung always carries a plain timestamp column that both
    // engines read identically
    val evNorm = Tables.events(spark, srcDir)
    write((0 until factor).map { i =>
      evNorm.withColumn("event_id", col("event_id") + lit(i * ek))
        .withColumn("user_id", col("user_id") + lit(i * uk))
    }.reduce(_ unionByName _), "events")

    write(copies("documents") { (d, i) =>
      val salted =
        if (i == 0) d
        else d.withColumn("text", array_join(
          transform(split(col("text"), " "),
            t => when(t === "", t).otherwise(concat(t, lit(s"~$i")))), " "))
      salted
        .withColumn("doc_id", col("doc_id") + lit(i * dk))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    write(copies("embeddings") { (d, i) =>
      if (i == 0) d
      else {
        val bits = splitmix64(i.toLong)
        val signs = array((0 until 64).map(j =>
          lit(if (((bits >>> (j % 64)) & 1L) == 0L) 1.0f else -1.0f)): _*)
        d.withColumn("vec_id", col("vec_id") + lit(i * vk))
          .withColumn("embedding",
            zip_with(col("embedding"), signs, (x, s) => x * s))
      }
    }, "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorStr) = args.take(3)
    val spark = GraftSession.start(
      GraftSession.builder("graft-scaleup", GraftSession.cpus)
        // events.ts is TIMESTAMP(NANOS): read raw longs, write annotated
        // INT64 micros (not INT96) so every reader sees one plain column
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
    run(spark, srcDir, dstDir, factorStr.toInt)
    println(s"[scaleup] wrote ${factorStr}x of $srcDir to $dstDir")
    spark.stop()
  }
}

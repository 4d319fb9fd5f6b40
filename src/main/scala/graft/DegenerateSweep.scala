package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Degenerate-input sweep over the WHOLE registered query surface
  * (round-13 verdict item 2): Spark 4's default ANSI mode turns every
  * data-dependent divisor into a potential query-killer — the r12
  * zero-norm `DIVIDE_BY_ZERO` in CosineDedup was one instance of a
  * class. Rather than trusting a grep over `/` sites, this main runs
  * every `SparkEntry.queries` entry against three adversarial corpora
  * and reports anything that throws:
  *
  *   - `empty`  — every table present with the exact production schema
  *                and ZERO rows (global aggregates see count=0; ratio
  *                queries divide 0/0 unless written defensively);
  *   - `single` — exactly one row per table (windows, medians, stddevs,
  *                pair miners, splits all collapse to n=1);
  *   - `degen`  — a handful of rows chosen to be hostile: empty and
  *                whitespace-only documents (token counts = 0),
  *                all-identical duplicate docs, zero-norm and identical
  *                embeddings, zero-valued order/lineitem amounts,
  *                same-timestamp event bursts.
  *
  * The contract being checked is NOT "returns something meaningful" —
  * it is "returns (possibly zero rows) instead of killing the query".
  * DegenerateInputSpec pins the per-family representatives in the unit
  * suite; this main is the exhaustive per-round sweep, its log committed
  * as evidence.
  */
object DegenerateSweep {

  /** Build the three scenario dirs under `outRoot` from the production
    * tables at `baseDir` (schemas are inherited by construction — every
    * degenerate frame is derived from a read of the real table, or
    * unioned into one, so column names/types/nullability match what the
    * queries see in production).
    */
  def buildScenarios(spark: SparkSession, baseDir: String, outRoot: String): Seq[(String, String)] = {
    import spark.implicits._
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    def base(t: String): DataFrame = spark.read.parquet(s"$baseDir/$t.parquet")
    def write(dir: String, t: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")

    val emptyDir = s"$outRoot/empty"
    tables.foreach(t => write(emptyDir, t, base(t).where(lit(false))))

    val singleDir = s"$outRoot/single"
    tables.foreach(t => write(singleDir, t, base(t).orderBy(base(t).columns.head).limit(1)))

    val degenDir = s"$outRoot/degen"
    // dims + facts: a small slice PLUS a mutated copy with every numeric
    // measure zeroed (shares/ratios/rates over zero denominators)
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(degenDir, t, base(t).orderBy(base(t).columns.head).limit(8))
    val ord = base("orders").orderBy("o_orderkey").limit(8)
    write(degenDir, "orders", ord.unionByName(
      ord.withColumn("o_totalprice", lit(0.0))
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)))
    val li = base("lineitem").orderBy("l_orderkey", "l_linenumber").limit(8)
    write(degenDir, "lineitem", li.unionByName(
      li.withColumn("l_quantity", lit(0.0))
        .withColumn("l_extendedprice", lit(0.0))
        .withColumn("l_discount", lit(0.0))
        .withColumn("l_tax", lit(0.0))
        .withColumn("l_orderkey", col("l_orderkey") + 1000000L)))
    // events: a same-timestamp burst by one user, zero values
    val ev = base("events").orderBy("event_id").limit(8)
    write(degenDir, "events", ev.unionByName(
      ev.withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
        .withColumn("user_id", lit(1L))
        .withColumn("value", lit(0.0))
        .withColumn("event_id", col("event_id") + 1000000L)))
    // documents: empty text, whitespace-only, one char, identical dups
    val docRows = Seq(
      (0L, "", "en", "src0"),
      (1L, "   ", "en", "src0"),
      (2L, "a", "de", "src1"),
      (3L, "the fast key order sort table scan merge", "en", "src2"),
      (4L, "the fast key order sort table scan merge", "en", "src2"),
      (5L, "the fast key order sort table scan merge", "en", "src3"),
      (6L, "spark group query row data slow small filter", "fr", "src3"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(degenDir, "documents", base("documents").where(lit(false)).unionByName(docRows))
    // embeddings: zero-norm rows (incl. inside the seeded-centroid id
    // range), identical vectors, two normal-ish ones — dim matches base
    val dim = 64
    def vec(f: Int => Float): Seq[Float] = (0 until dim).map(f)
    val embRows = Seq(
      (0L, vec(_ => 0f), 0),
      (1L, vec(i => if (i == 0) 1f else 0.1f), 1),
      (2L, vec(i => if (i == 0) 1f else 0.1f), 1),
      (3L, vec(_ => 0f), 2),
      (4L, vec(i => if (i == 1) 1f else -0.1f), 0),
      (5L, vec(i => (i % 5 - 2) * 0.3f), 2))
      .toDF("vec_id", "embedding", "label")
    write(degenDir, "embeddings", base("embeddings").where(lit(false)).unionByName(embRows))

    Seq("empty" -> emptyDir, "single" -> singleDir, "degen" -> degenDir)
  }

  /** Run `names` (default: all registered queries) against `dir`,
    * forcing full execution; returns name → one-line error for each
    * query that threw.
    */
  def sweep(spark: SparkSession, dir: String,
            names: Option[Set[String]] = None): Map[String, String] = {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (n, _) => names.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        // NonFatal only: a dying JVM (OutOfMemoryError, LinkageError)
        // must abort the sweep, not be logged as one query's failure
        // while later queries run in a corrupted JVM and pollute the
        // committed evidence log (ADVICE r13)
        try fn(spark, dir).count()
        catch { case scala.util.control.NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator
            .find(_.nonEmpty).getOrElse("")
          errors(name) = s"${e.getClass.getSimpleName}: ${msg.take(300)}"
        }
        GraftSession.releaseCached(spark)
      }
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_degenerate"
    val spark = GraftSession.start("graft-degenerate-sweep")
    val scenarios = buildScenarios(spark, baseDir, outRoot)
    var total = 0
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    scenarios.foreach { case (name, dir) =>
      val errs = sweep(spark, dir, only)
      total += errs.size
      println(s"[degenerate-sweep] scenario=$name failures=${errs.size}")
      errs.toSeq.sortBy(_._1).foreach { case (q, e) => println(s"  FAIL $q :: $e") }
    }
    println(s"[degenerate-sweep] TOTAL failures=$total over ${scenarios.size} scenarios")
    spark.stop()
    if (total > 0) sys.exit(1)
  }
}

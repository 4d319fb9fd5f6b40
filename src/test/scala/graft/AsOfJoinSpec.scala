package graft

import graft.plans.AsOf
import org.apache.spark.sql.classic
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom as-of join operator: semantics on crafted frames, physical
  * plan shape (exchanges + the custom exec), and full-fixture
  * equivalence against the window-function encoding it replaces.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def quotes = Seq(
    ("ACME", 100L, 10.0), ("ACME", 200L, 11.0), ("ACME", 200L, 11.5),
    ("BETA", 150L, 20.0)
  ).toDF("q_sym", "q_t", "px")

  test("backward as-of: latest quote at-or-before each trade; outer nulls") {
    val trades = Seq(
      ("ACME", 90L, 1L),   // before any quote -> null
      ("ACME", 100L, 2L),  // exact match at 100
      ("ACME", 250L, 3L),  // latest tied quote at 200 wins (11.5)
      ("BETA", 150L, 4L),  // equal time matches
      ("GAMA", 500L, 5L)   // no quotes for key -> null
    ).toDF("sym", "t", "trade_id")
    val out = AsOf.joinBackward(trades, quotes,
        keys = Seq("sym" -> "q_sym"), time = "t" -> "q_t")
      .select(col("trade_id"), col("px"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out == Map(1L -> None, 2L -> Some(10.0), 3L -> Some(11.5),
                      4L -> Some(20.0), 5L -> None))
  }

  test("physical plan: AsOfJoinExec with co-partitioning exchanges") {
    val trades = Seq(("ACME", 100L, 1L)).toDF("sym", "t", "trade_id")
    val df = AsOf.joinBackward(trades, quotes,
      keys = Seq("sym" -> "q_sym"), time = "t" -> "q_t")
    // AQE wraps the plan, so assert on the rendered tree
    val s = df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan.toString
    assert(s.contains("AsOfJoin"), s)
    assert("Exchange hashpartitioning".r.findAllIn(s).size >= 2, s) // both sides clustered
    assert(s.contains("Sort ["), s)                                 // (key, time) sorts inserted
  }

  test("spark.sql.extensions wires the strategy and SQL functions declaratively") {
    // The shared session is built by GraftSession, which sets
    // spark.sql.extensions=graft.plans.GraftExtensions, and nothing
    // registers functions imperatively — the functions and the
    // planner strategy must come from the extensions class alone.
    // (Setting the static conf on a builder that reuses an existing
    // SparkContext is silently ignored, so the conf must be on the
    // FIRST session of the JVM — which is exactly the production shape.)
    assert(spark.sql("SELECT title_case('ai engineer') AS t")
      .collect()(0).getString(0) == "Ai Engineer")
    assert(spark.sql("SELECT poly_hash('abc') AS h").collect()(0).getLong(0) ==
      graft.functions.TextHash.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString("abc"), 31))
    // strategy registered: a hand-built AsOfJoinPlan plans and runs
    // without AsOf's ensureStrategy fallback
    val t = Seq(("A", 100L, 1L)).toDF("sym", "t", "id")
    val q = Seq(("A", 90L, 9.5)).toDF("q_sym", "q_t", "px")
    import org.apache.spark.sql.graftbridge.DatasetBridge
    val lp = DatasetBridge.analyzed(t)
    val rp = DatasetBridge.analyzed(q)
    val df = DatasetBridge.ofRows(spark, graft.plans.AsOfJoinPlan(
      lp, rp,
      Seq(lp.output.find(_.name == "sym").get), Seq(rp.output.find(_.name == "q_sym").get),
      lp.output.find(_.name == "t").get, rp.output.find(_.name == "q_t").get))
    assert(df.collect()(0).getDouble(5) == 9.5)
  }

  test("injected optimizer rule rewrites dot_product(x, x) to squared_norm(x)") {
    // the rule comes from the same extensions class as the strategy —
    // no imperative registration anywhere (non-literal input: constant
    // folding would otherwise collapse the whole expression first)
    Tables.embeddings(spark, sfDir)
      .selectExpr("embedding::array<double> AS v")
      .createOrReplaceTempView("t_rule_vec")
    val df = spark.sql(
      "SELECT dot_product(v, v) AS d, squared_norm(v) AS n FROM t_rule_vec")
    val optimized = df.asInstanceOf[classic.Dataset[_]]
      .queryExecution.optimizedPlan.toString
    assert(!optimized.contains("dot_product"), optimized)
    assert(optimized.contains("squared_norm"), optimized)
    assert(df.where(col("d") =!= col("n")).count() == 0)
    assert(df.count() == 500)
    // distinct operands are untouched
    val keep = spark.sql(
      "SELECT dot_product(v, slice(v, 1, 2)) AS d FROM t_rule_vec")
    assert(keep.asInstanceOf[classic.Dataset[_]]
      .queryExecution.optimizedPlan.toString.contains("dot_product"))
  }

  test("matches the window-function as-of encoding on the events fixture") {
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("us"))
    // window encoding (q44 shape, micros precision)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = e
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .where(col("event_type") === "purchase" && col("last_view").isNotNull)
      .select(col("event_id"), (col("us") - col("last_view")).as("lag_us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val v = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("us").as("v_us"))
    val asof = AsOf.joinBackward(p, v,
        keys = Seq("user_id" -> "v_user"), time = "us" -> "v_us")
      .where(col("v_us").isNotNull)
      .select(col("event_id"), (col("us") - col("v_us")).as("lag_us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(asof.size == windowed.size)
    assert(asof == windowed)
    assert(asof.nonEmpty)
  }
}

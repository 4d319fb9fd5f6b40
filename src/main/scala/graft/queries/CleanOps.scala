package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** The reference's cleaning / classification / normalization chain
  * (SURVEY.md §2.5 C1–C17, §2.6 T1, §2.4 M1) exercised over fixture
  * columns so the DuckDB oracle can check exact semantics. The reusable
  * job-postings implementations live in `graft.pipeline.Clean`; these
  * queries apply the same expression shapes to fixture strings.
  */
object CleanOps {

  val defs: Seq[Q] = Seq(
    // ---- C2+C3+C4+C5+C6+C1 composed title-cleaning chain (C8 analogue) ----
    // Build a messy title from part columns, then: strip bracketed text,
    // split-take-first on [-#|/], drop roman-numeral words, strip
    // non-alpha, collapse whitespace, trim, lower.
    Q(
      "q50_title_clean",
      (s, d) =>
        Tables.part(s, d)
          .withColumn("raw",
            concat(col("p_name"), lit(" ("), col("p_brand"), lit(") - "), col("p_type")))
          .withColumn("no_brackets",
            regexp_replace(col("raw"), """\(.*?\)|\[.*?\]|\{.*?\}""", ""))
          .withColumn("first_seg", split(col("no_brackets"), """[-#|/]""").getItem(0))
          .withColumn("no_roman",
            regexp_replace(col("first_seg"), """\b[ivx]+\b""", ""))
          .withColumn("alpha_only",
            regexp_replace(col("no_roman"), """[^a-zA-Z\s]""", " "))
          .withColumn("cleaned",
            lower(trim(regexp_replace(col("alpha_only"), """\s+""", " "))))
          .groupBy(col("cleaned"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("cleaned"))
          .limit(20),
      Some("""SELECT cleaned, count(*) AS n
             |FROM (SELECT lower(trim(regexp_replace(
             |         regexp_replace(
             |           regexp_replace(
             |             string_split_regex(
             |               regexp_replace(p_name || ' (' || p_brand || ') - ' || p_type,
             |                              '\(.*?\)|\[.*?\]|\{.*?\}', '', 'g'),
             |               '[-#|/]')[1],
             |             '\b[ivx]+\b', '', 'g'),
             |           '[^a-zA-Z\s]', ' ', 'g'),
             |         '\s+', ' ', 'g'))) AS cleaned
             |      FROM part)
             |GROUP BY cleaned
             |ORDER BY n DESC, cleaned
             |LIMIT 20""".stripMargin)),

    // ---- T1: multi-label classification -> sorted comma-joined label set --
    // The labels are constants, so the CASEs are listed in label order and
    // concat_ws (which skips nulls) joins the sorted set — the same shape
    // as Clean.inferJobType, with no CodegenFallback array_sort/filter.
    Q(
      "q51_multilabel_classify",
      (s, d) =>
        Tables.orders(s, d)
          .withColumn("lbls",
            expr("""concat_ws(', ',
                   |  CASE WHEN o_orderstatus = 'F' THEN 'done' END,
                   |  CASE WHEN o_orderpriority LIKE '%HIGH%' THEN 'high' END,
                   |  CASE WHEN o_orderpriority LIKE '%LOW%' THEN 'low' END,
                   |  CASE WHEN o_orderstatus = 'O' THEN 'open' END,
                   |  CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 'urgent' END)""".stripMargin))
          .withColumn("label_set",
            when(col("lbls") === "", lit("none")).otherwise(col("lbls")))
          .groupBy(col("label_set"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("label_set")),
      Some("""SELECT label_set, count(*) AS n
             |FROM (SELECT CASE WHEN len(lbls) = 0 THEN 'none'
             |             ELSE array_to_string(lbls, ', ') END AS label_set
             |      FROM (SELECT list_sort(list_filter([
             |              CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 'urgent' END,
             |              CASE WHEN o_orderpriority LIKE '%HIGH%' THEN 'high' END,
             |              CASE WHEN o_orderpriority LIKE '%LOW%' THEN 'low' END,
             |              CASE WHEN o_orderstatus = 'F' THEN 'done' END,
             |              CASE WHEN o_orderstatus = 'O' THEN 'open' END],
             |              x -> x IS NOT NULL)) AS lbls
             |            FROM orders))
             |GROUP BY label_set
             |ORDER BY label_set""".stripMargin)),

    // ---- C11: salary annualization heuristic, banded ----------------------
    // s = price/100 as a mock salary; hourly values (<= 1000) are
    // annualized x2000, exactly the reference's rule.
    Q(
      "q52_salary_annualize",
      (s, d) =>
        Tables.orders(s, d)
          .withColumn("sal", col("o_totalprice") / 100)
          .withColumn("ann",
            when(col("sal") > 1000, floor(col("sal")))
              .otherwise(floor(col("sal") * 2000)).cast("double"))
          .groupBy(floor(col("ann") / 100000).cast("long").as("band"))
          .agg(count(lit(1)).as("n"),
               min(col("ann")).as("min_ann"), max(col("ann")).as("max_ann"))
          .orderBy(col("band")),
      Some("""SELECT CAST(floor(ann / 100000) AS BIGINT) AS band, count(*) AS n,
             |       min(ann) AS min_ann, max(ann) AS max_ann
             |FROM (SELECT CASE WHEN sal > 1000 THEN floor(sal)
             |             ELSE floor(sal * 2000) END AS ann
             |      FROM (SELECT o_totalprice / 100 AS sal FROM orders))
             |GROUP BY band
             |ORDER BY band""".stripMargin)),

    // ---- C9/C13/C14: date-part derivations --------------------------------
    // Spark dayofweek is 1=Sunday..7; DuckDB dayofweek is 0=Sunday..6.
    Q(
      "q53_date_parts",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(
            year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mon"),
            dayofweek(col("o_orderdate")).cast("long").as("dow"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("yr"), col("mon"), col("dow")),
      Some("""SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
             |       dayofweek(o_orderdate) + 1 AS dow, count(*) AS n
             |FROM orders
             |GROUP BY yr, mon, dow
             |ORDER BY yr, mon, dow""".stripMargin)),

    // ---- M1: deterministic sampling ---------------------------------------
    // Seeded `orderBy(rand(seed)).limit(n)` is a global sort and its row
    // assignment depends on partition layout; the scale-correct (and
    // replayable) form is hash-based: a multiplicative hash on the key
    // selects a stable ~1% sample on any cluster shape. Portable integer
    // arithmetic, so DuckDB can check it exactly.
    Q(
      "q54_sample_hash",
      (s, d) =>
        Tables.orders(s, d)
          .where((col("o_orderkey") * 2654435761L % 4294967296L) % 100 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice
             |FROM orders
             |WHERE ((o_orderkey * 2654435761) % 4294967296) % 100 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- M1 variant: deterministic STRATIFIED sampling --------------------
    // Per-stratum rates via the same multiplicative hash (sampleBy would
    // draw per-row randoms whose assignment depends on partition layout;
    // this is replayable on any cluster shape and oracle-checkable).
    Q(
      "q55b_stratified_sample",
      (s, d) =>
        Tables.orders(s, d)
          .withColumn("h", (col("o_orderkey") * 2654435761L % 4294967296L) % 1000)
          .where(
            (col("o_orderstatus") === "F" && col("h") < 20) ||   // 2%
            (col("o_orderstatus") === "O" && col("h") < 10) ||   // 1%
            (col("o_orderstatus") === "P" && col("h") < 5))      // 0.5%
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"))
          .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus, count(*) AS n, min(o_orderkey) AS min_key
             |FROM (SELECT o_orderstatus, o_orderkey,
             |             ((o_orderkey * 2654435761) % 4294967296) % 1000 AS h
             |      FROM orders)
             |WHERE (o_orderstatus = 'F' AND h < 20)
             |   OR (o_orderstatus = 'O' AND h < 10)
             |   OR (o_orderstatus = 'P' AND h < 5)
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin))
  )
}

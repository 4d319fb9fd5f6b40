package graft.queries

import graft.Tables
import graft.ops.{PageRank, Triangles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics (SURVEY §2 extension surface). The graph is
  * derived from the fact tables — here the customer↔supplier trade graph
  * of `orders ⋈ lineitem` (reference analogue: the BI layer's top-k
  * entity-ranking queries — the `/root/reference/Dashboards` PNGs, the
  * declared query inventory of SURVEY §2.10, which rank entities by
  * aggregated activity; PageRank is the closed-loop version of that
  * ranking where an entity's weight also flows from the weight of its
  * neighbors).
  *
  * The edge derivation is the 100 TB-shaped part: one scan of lineitem
  * joined to orders on the orderkey (co-partitioned fact-fact join),
  * distinct'ed to unweighted pairs. Node cardinality is
  * |customers|+|suppliers| — it scales with SF, but stays orders of
  * magnitude below edge cardinality, which is what makes the per-round
  * rank side broadcastable/cheap (see [[graft.ops.PageRank]]).
  *
  * The whole computation is exact fixed-point integer math, so the
  * DuckDB oracle replays the k-round fixpoint hash-exactly with an
  * unrolled chain of MATERIALIZED CTEs (MATERIALIZED: each round is
  * referenced by the next AND by the contribution subquery — DuckDB
  * would otherwise inline the chain exponentially, the q110 lesson).
  */
object GraphOps {

  /** Rounds in the registered query and its oracle. */
  private val Rounds = 8

  private def pagerankOracleSql(k: Int): String = {
    val teleportNum = 15L * PageRank.Mass
    val iters = (1 to k).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node, ($teleportNum // (100 * nn.n)) + COALESCE(c.sc, 0) AS rank
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst AS node,
         |                    CAST(sum((85 * r.rank) // (100 * e.deg)) AS BIGINT) AS sc
         |             FROM ed e JOIN r${i - 1} r ON e.src = r.node
         |             GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT c AS src, sp AS dst FROM pairs
       |          UNION ALL
       |          SELECT sp AS src, c AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ed AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS MATERIALIZED (
       |  SELECT node, ${PageRank.Mass} // nn.n AS rank FROM nodes CROSS JOIN nn),
       |${iters.mkString(",\n")}
       |SELECT s.s_suppkey, s.s_name, r.rank AS rank_units
       |FROM r$k r JOIN supplier s ON (r.node - 1) // 2 = s.s_suppkey
       |WHERE r.node % 2 = 1
       |ORDER BY rank_units DESC, s_suppkey
       |LIMIT 20""".stripMargin
  }

  /** Rounds for the personalized variant (6: the seed-proximity ranking
    * stabilizes faster than the global one — mass starts AT the seeds).
    */
  private val PRounds = 6

  /** Seed segment for q132: ranks measure weighted-trade proximity to
    * BUILDING-segment customers.
    */
  private val SeedSegment = "BUILDING"

  private def personalizedOracleSql(k: Int): String = {
    val teleportNum = 15L * PageRank.Mass
    val iters = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT n.node, n.seed * ($teleportNum // (100 * ns.n)) + COALESCE(c.sc, 0) AS rank
         |  FROM nodesS n CROSS JOIN ns
         |  LEFT JOIN (SELECT e.dst AS node,
         |                    CAST(sum((85 * r.rank * e.w) // (100 * e.tw)) AS BIGINT) AS sc
         |             FROM ed e JOIN p${i - 1} r ON e.src = r.node
         |             GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    s"""WITH pw AS MATERIALIZED (
       |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp, count(*) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |edges AS (SELECT c AS src, sp AS dst, w FROM pw
       |          UNION ALL
       |          SELECT sp AS src, c AS dst, w FROM pw),
       |wsum AS (SELECT src, CAST(sum(w) AS BIGINT) AS tw FROM edges GROUP BY src),
       |ed AS MATERIALIZED (
       |  SELECT e.src, e.dst, CAST(e.w AS BIGINT) AS w, s.tw
       |  FROM edges e JOIN wsum s ON e.src = s.src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |seeds AS (SELECT c_custkey * 2 AS node FROM customer
       |          WHERE c_mktsegment = '$SeedSegment'),
       |nodesS AS MATERIALIZED (
       |  SELECT n.node, CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS seed
       |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
       |ns AS (SELECT CAST(sum(seed) AS BIGINT) AS n FROM nodesS),
       |p0 AS MATERIALIZED (
       |  SELECT node, seed * (${PageRank.Mass} // ns.n) AS rank
       |  FROM nodesS CROSS JOIN ns),
       |${iters.mkString(",\n")}
       |SELECT s.s_suppkey, s.s_name, r.rank AS rank_units
       |FROM p$k r JOIN supplier s ON (r.node - 1) // 2 = s.s_suppkey
       |WHERE r.node % 2 = 1
       |ORDER BY rank_units DESC, s_suppkey
       |LIMIT 20""".stripMargin
  }

  /** Per-dataset width cache — the fact-derived width is a pure
    * function of the dataset directory, so the (already metadata-only)
    * derivation runs once per dataset per JVM, not once per q130/q132
    * call. It holds the fact width alone: the caller's session width
    * is taken into the max per call, since sessions of different
    * widths share the cache.
    */
  private val widthCache =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  private def factShuffleWidth(s: org.apache.spark.sql.SparkSession,
                               d: String, sessionWidth: Int): Int =
    math.max(sessionWidth, widthCache.computeIfAbsent(d, _ => {
      // metadata-only: Catalyst's relation stats for a parquet scan are
      // the summed file sizes from the file index — no count() scan.
      // ~45 MB of lineitem parquet ≈ 2.5M rows (~18 B/row measured at
      // sf10/sf100) ≈ up to ~5M derived edge rows per task (both edge
      // directions), a ~500 MB spillable sort/agg footprint — an order
      // of magnitude under the 37M-rows/task point where r9's sf100 run
      // exhausted execution memory.
      val bytes = Tables.lineitem(s, d).queryExecution
        .optimizedPlan.stats.sizeInBytes
      (bytes / (45L * 1024 * 1024)).toInt + 1
    }))

  /** Lineage CUT for the corpus-scale edge derivation: write the frame
    * as compressed parquet in a scratch dir and read it back. Every
    * upstream shuffle (the fact join, the distinct) becomes
    * unreferenced the moment the write job ends, so the periodic
    * cleaner reclaims its files BEFORE the iterative rounds start —
    * without this, one job's live lineage held ~70 GB of shuffle files
    * simultaneously at the sf100 rung (1.17B edges off 600M lineitems)
    * and filled the disk. The staged copy is columnar+snappy (~5 GB for
    * 587M pairs), an order of magnitude under either a localCheckpoint
    * (deserialized rows) or a reliable RDD checkpoint (serialized
    * rows). The staging root is `spark.graft.scratchDir` when set — on
    * a cluster that must be a SHARED filesystem URI (HDFS/object
    * store), since executors on other nodes write and read it; the
    * driver-local `java.io.tmpdir` fallback is correct only in local
    * mode, where driver and executors share one machine.
    */
  private def stageParquet(s: org.apache.spark.sql.SparkSession,
                           df: DataFrame, tag: String): (DataFrame, String) = {
    val dir = s.conf.getOption("spark.graft.scratchDir") match {
      case Some(root) =>
        s"${root.stripSuffix("/")}/graft_${tag}_${java.util.UUID.randomUUID}"
      case None =>
        java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    }
    df.write.mode("overwrite").parquet(dir)
    (s.read.parquet(dir), dir)
  }

  /** Run `build` with the fact-scaled shuffle width; the builder gets
    * the SESSION to plan against, a `stage` function that is the
    * identity below the width threshold (test SFs — plans unchanged)
    * and [[stageParquet]] above it, plus a `big` flag (the same
    * threshold) it forwards as PageRank's columnar-edge-cache hint.
    * Staged dirs are deleted once the (checkpointed, hence
    * staging-independent) result is materialized — at the sf100 rung
    * each staged pair set is ~5 GB, and holding q130's through q132's
    * build cost twin B the disk headroom run A survived on.
    *
    * Width ISOLATION (round-10 verdict #3): the widened
    * `spark.sql.shuffle.partitions` is set on a [[graft.GraftSession.fork]]
    * (same SparkContext, block manager, catalog and runtime conf, but
    * its OWN SQLConf), never on the caller's session. The caller's
    * session is concurrent in this engine (the BI endpoint plans thrift
    * clients' queries on it), and a session-level conf mutation would
    * leak the ~26× width into any plan compiled while the graph build
    * holds it. Below the threshold no second session is created at all.
    *
    * `spark.graft.graph.minShuffleWidth` (session conf, optional)
    * floors the computed width — the production override for clusters
    * whose fact stats under-estimate, and the test hook that forces
    * the wide path on fixture-sized data (GraphIsolationSpec).
    */
  private[graft] def withFactScaledShuffle(
      s: org.apache.spark.sql.SparkSession, d: String)
      (build: (org.apache.spark.sql.SparkSession,
               DataFrame => DataFrame, Boolean) => DataFrame): DataFrame = {
    // defensive parse: the session value can be non-numeric (e.g. AQE
    // "auto" in future Spark versions) — treat it as the floor 1 and
    // never throw from a width heuristic
    val prev = s.conf.get("spark.sql.shuffle.partitions").toIntOption
      .getOrElse(1)
    val floor = s.conf.getOption("spark.graft.graph.minShuffleWidth")
      .flatMap(_.toIntOption).getOrElse(0)
    val parts = math.max(factShuffleWidth(s, d, prev), floor)
    if (parts == prev) build(s, identity, false)
    else {
      val gs = graft.GraftSession.fork(s,
        "spark.sql.shuffle.partitions" -> parts.toString)
      val staged = scala.collection.mutable.ArrayBuffer.empty[String]
      try build(gs, { df =>
        val (out, dir) = stageParquet(gs, df, "graph")
        staged += dir
        out
      }, true).localCheckpoint()
      finally {
        staged.foreach { dir =>
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
      }
    }
  }

  /** The trade graph's edge derivation, one `(c, sp)` row per lineitem:
    * the one fact-fact join (`lineitem ⋈ orders` on the orderkey) with
    * customers at custkey*2 and suppliers at suppkey*2+1. q130 takes its
    * distinct pairs, q132 their counts as weights, and the staged graph
    * check ([[graft.StagedVerify]]) exports both from here.
    */
  private[graft] def tradePairs(s: org.apache.spark.sql.SparkSession,
                                d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("sp"))

  val defs: Seq[Q] = Seq(
    // ---- PageRank over the customer↔supplier trade graph -----------------
    // Nodes: custkey*2 / suppkey*2+1 (disjoint BIGINT spaces, no string
    // keys on the shuffle). Edges: both directions of every distinct
    // (customer, supplier) pair that traded. Output: top-20 suppliers by
    // rank with a total (rank desc, suppkey) tie-break order.
    Q(
      "q130_pagerank",
      (s, d) => withFactScaledShuffle(s, d) { (gs, stage, big) =>
        val pairs = stage(tradePairs(gs, d).distinct())
        // symmetrization + deg/spine derivation live in ranksSymmetric:
        // deg comes from the HALF-sized pair frame and the spine is the
        // deg frame itself — the old 2·|edges| endpoint distinct (the
        // largest build aggregate at the sf100 rung) is gone
        PageRank.ranksSymmetric(
          pairs.select(col("c").as("a"), col("sp").as("b")),
          Rounds, columnarEdgeCache = big)
          .where(col("node") % 2 === 1)
          .select(expr("(node - 1) div 2").as("s_suppkey"), col("rank_units"))
          .join(broadcast(Tables.supplier(gs, d).select(col("s_suppkey"), col("s_name"))),
            Seq("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("rank_units"))
          .orderBy(col("rank_units").desc, col("s_suppkey"))
          .limit(20)
      },
      Some(pagerankOracleSql(Rounds))),

    // ---- Weighted personalized PageRank from a customer segment ----------
    // Same trade graph, two upgrades (SURVEY §2 extension; VERDICT r6
    // next-steps #7): edges weighted by lineitem count (trade intensity —
    // the graph the BI layer's activity rankings implicitly use), and
    // teleport restricted to BUILDING-segment customers. Ranks measure
    // weighted proximity to that segment; output the top-20 suppliers —
    // "which suppliers does this market segment's demand actually
    // concentrate on", a query the unpersonalized q130 cannot express.
    // Exact integer fixed-point throughout, so the oracle replays the
    // 6-round fixpoint hash-exactly (same unrolled MATERIALIZED chain).
    Q(
      "q132_personalized_pagerank",
      (s, d) => withFactScaledShuffle(s, d) { (gs, stage, big) =>
        val pw = stage(tradePairs(gs, d)
          .groupBy(col("c"), col("sp")).agg(count(lit(1)).as("w")))
        val seeds = Tables.customer(gs, d)
          .where(col("c_mktsegment") === SeedSegment)
          .select((col("c_custkey") * 2).as("node"))
        // Σw + spine from the half-sized pre-symmetrized pair frame —
        // the r12 verdict's named lever (see personalizedSymmetric)
        PageRank.personalizedSymmetric(
          pw.select(col("c").as("a"), col("sp").as("b"), col("w")),
          seeds, PRounds, columnarEdgeCache = big)
          .where(col("node") % 2 === 1)
          .select(expr("(node - 1) div 2").as("s_suppkey"), col("rank_units"))
          .join(broadcast(Tables.supplier(gs, d).select(col("s_suppkey"), col("s_name"))),
            Seq("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("rank_units"))
          .orderBy(col("rank_units").desc, col("s_suppkey"))
          .limit(20)
      },
      Some(personalizedOracleSql(PRounds))),

    // ---- Triangle census of the near-dup pair graph -----------------------
    // Dedup QA: a near-dup relation that were truly transitive would make
    // every cluster a clique (coeff 1.0); triangle deficits flag border
    // docs whose pair verdicts disagree with their neighborhood. Per-node
    // (deg, n_tri, clustering coefficient) for the top-20 under a total
    // (n_tri desc, deg desc, doc_id) order. The coefficient is ONE double
    // division of exact integers (< 2^53), identical in every IEEE
    // engine — the q124 pattern. The oracle counts each triangle once via
    // the id-canonical u<x<y join, equivalent by symmetry to the engine's
    // degree-oriented count.
    Q(
      "q131_triangle_stats",
      (s, d) => {
        val edges = TextOps.jaccardPairs(s, d, 0.8)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        Triangles.perNode(edges)
          .withColumn("coeff",
            when(col("deg") >= 2,
              lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - lit(1L))))
              .otherwise(lit(0.0)))
          .select(col("node").as("doc_id"), col("deg"), col("n_tri"), col("coeff"))
          .orderBy(col("n_tri").desc, col("deg").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""${TextOps.shingleSqlCte},
              |common AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS cmn
              |           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |           GROUP BY da, db),
              |pairs AS MATERIALIZED (
              |  SELECT da, db FROM common
              |  JOIN sizes sa ON da = sa.doc_id
              |  JOIN sizes sb ON db = sb.doc_id
              |  WHERE round(cmn * 1.0 / (sa.n + sb.n - cmn), 4) >= 0.8),
              |deg AS (SELECT node, count(*) AS deg FROM (
              |          SELECT da AS node FROM pairs
              |          UNION ALL SELECT db FROM pairs) GROUP BY node),
              |tri AS MATERIALIZED (
              |  SELECT e1.da AS u, e1.db AS x, e2.db AS y
              |  FROM pairs e1 JOIN pairs e2 ON e1.da = e2.da AND e1.db < e2.db
              |  JOIN pairs e3 ON e3.da = e1.db AND e3.db = e2.db),
              |tcnt AS (SELECT node, count(*) AS n_tri FROM (
              |           SELECT u AS node FROM tri
              |           UNION ALL SELECT x FROM tri
              |           UNION ALL SELECT y FROM tri) GROUP BY node)
              |SELECT d.node AS doc_id, d.deg,
              |       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
              |       CASE WHEN d.deg >= 2
              |            THEN 2.0 * COALESCE(t.n_tri, 0) / (d.deg * (d.deg - 1))
              |            ELSE 0.0 END AS coeff
              |FROM deg d LEFT JOIN tcnt t ON d.node = t.node
              |ORDER BY n_tri DESC, deg DESC, doc_id
              |LIMIT 20""".stripMargin)
    )
  )
}

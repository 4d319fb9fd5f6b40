package graft

import graft.ops.PageRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Fixed-point PageRank (SURVEY §2 extension surface, q130/q132).
  *
  * The load-bearing check is exact equality against an independent
  * sequential implementation of the same integer recurrence, over the
  * symmetrized edges of each pair graph: the distributed version has
  * no float slack to hide behind, so any partitioning/ordering/join bug
  * shows up as a unit-level diff. Global ranks run through the weighted
  * personalized fixpoint, so they are checked against the uniform
  * recurrence [[seqRanks]] on the fold, distributed and columnar paths.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference: same recurrence, scala Maps, one thread. */
  private def seqRanks(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = nodes.size.toLong
    val teleport = (15L * PageRank.Mass) / (100L * n)
    var r = nodes.map(_ -> PageRank.Mass / n).toMap
    (1 to k).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => (85L * r(src)) / (100L * deg(src)) }.sum
      }
      r = nodes.map(v => v -> (teleport + in.getOrElse(v, 0L))).toMap
    }
    r
  }

  /** Sequential reference for the weighted personalized recurrence. */
  private def seqPersonalized(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
                              k: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val tw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val inSeeds = nodes.filter(seeds).toSet
    val ns = inSeeds.size.toLong
    val teleport = (15L * PageRank.Mass) / (100L * ns)
    var r = nodes.map(v => v -> (if (inSeeds(v)) PageRank.Mass / ns else 0L)).toMap
    (1 to k).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, w) =>
          (85L * r(src) * w) / (100L * tw(src))
        }.sum
      }
      r = nodes.map(v =>
        v -> ((if (inSeeds(v)) teleport else 0L) + in.getOrElse(v, 0L))).toMap
    }
    r
  }

  private def sym(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  private def symW(pairs: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] =
    pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }

  private def ranksOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The fold ran: every leaf of the result's plan is driver-local. */
  private def folded(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  // Undirected pair graph: a triangle, a pendant, and a node (7)
  // appearing on BOTH pair sides — the general case the node-wise
  // deg/Σw merge must handle (the q130 trade graph's disjoint even/odd
  // spaces never exercise it).
  private val upairs: Seq[(Long, Long)] =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (7L, 1L), (4L, 7L))

  private val wpairs: Seq[(Long, Long, Long)] =
    upairs.zipWithIndex.map { case ((a, b), i) => (a, b, i + 1L) }

  // A random pair graph dense enough (60 draws over 15 ids) to hold
  // self-loops, duplicate pairs and both orientations of a pair.
  private val rpairs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(60)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
  }

  private def distributed(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    ranksOf(PageRank.fixpointDistributed(pairs.toDF("a", "b"), None, k,
      columnarEdgeCache = false))

  test("distributed ranks equal the sequential integer recurrence exactly") {
    assert(rpairs.exists { case (a, b) => a == b } &&
      rpairs.exists { case (a, b) => a != b && rpairs.contains((b, a)) } &&
      rpairs.distinct.size < rpairs.size)
    for (k <- Seq(0, 1, 3, 8)) {
      assert(distributed(rpairs, k) == seqRanks(sym(rpairs), k), s"k=$k")
    }
  }

  test("columnar corpus path (dst-partitioned cache + broadcast shares) is bit-identical") {
    // the corpus-scale regime: dst-partitioned columnar edge cache and
    // an explicitly-broadcast share frame (round-12 layout). Integer
    // sums are order-independent and the broadcast join emits the same
    // rows, so the ranks must equal the sequential recurrence exactly
    for (k <- Seq(1, 5, 8)) {
      val got = ranksOf(PageRank.ranksSymmetric(rpairs.toDF("a", "b"), k,
        columnarEdgeCache = true))
      assert(got == seqRanks(sym(rpairs), k), s"k=$k")
    }
  }

  test("ranks are invariant under edge partitioning and order") {
    // shuffled rows, every other pair flipped (an undirected graph has
    // no orientation), and a 7-way hash layout on one endpoint
    val want = seqRanks(sym(rpairs), 5)
    val shuffled = scala.util.Random.shuffle(rpairs).zipWithIndex.map {
      case ((a, b), i) => if (i % 2 == 0) (b, a) else (a, b) }
    val got = PageRank.fixpointDistributed(
      shuffled.toDF("a", "b").repartition(7, col("b")), None, 5,
      columnarEdgeCache = false)
    assert(ranksOf(got) == want)
  }

  test("mass accounting: total rank stays within floor-loss of Mass") {
    val k = 8
    val r = distributed(upairs, k)
    val total = r.values.sum
    assert(total <= PageRank.Mass)
    // no node of a symmetric graph is dangling, so only floor remainders
    // leak: under one unit per node (start and teleport) and per
    // directed edge each round
    val bound = (k + 1).toLong * (r.size + 2 * upairs.size)
    assert(PageRank.Mass - total <= bound, s"total=$total")
    // the degree-3 nodes outrank the degree-2 ones, and every rank is
    // at least teleport
    val teleport = (15L * PageRank.Mass) / (100L * r.size)
    assert(Seq(1L, 3L).forall(h => Seq(2L, 4L, 7L).forall(r(h) > r(_))))
    assert(r.values.forall(_ >= teleport))
  }

  test("personalized ranks equal the sequential weighted recurrence exactly") {
    // seed 99 is outside the graph: must be ignored, not divide the mass.
    // Both non-columnar paths: the driver fold and the distributed rounds
    val seeds = Seq(2L, 7L, 99L)
    for (k <- Seq(0, 1, 3, 6)) {
      val want = seqPersonalized(symW(wpairs), seeds.toSet, k)
      val fold = PageRank.personalizedSymmetric(wpairs.toDF("a", "b", "w"),
        seeds.toDF("node"), k)
      assert(folded(fold) && ranksOf(fold) == want, s"fold k=$k")
      val dist = PageRank.fixpointDistributed(wpairs.toDF("a", "b", "w"),
        Some(seeds.toDF("node")), k, columnarEdgeCache = false)
      assert(ranksOf(dist) == want, s"distributed k=$k")
    }
  }

  test("personalized columnar corpus path is bit-identical") {
    for (k <- Seq(1, 6)) {
      val got = PageRank.personalizedSymmetric(wpairs.toDF("a", "b", "w"),
        Seq(2L, 7L).toDF("node"), k, columnarEdgeCache = true)
      assert(ranksOf(got) == seqPersonalized(symW(wpairs), Set(2L, 7L), k),
        s"k=$k")
    }
  }

  test("personalized with uniform weights and all-node seeds = global ranks") {
    // the one-fixpoint pin: global ranks run as the weighted, seeded
    // fixpoint with w = 1 and every node a seed, and must equal the
    // uniform recurrence on every path
    val df = upairs.toDF("a", "b")
    for (k <- Seq(0, 1, 5, 8)) {
      val want = seqRanks(sym(upairs), k)
      val fold = PageRank.ranksSymmetric(df, k)
      assert(folded(fold) && ranksOf(fold) == want, s"fold k=$k")
      assert(distributed(upairs, k) == want, s"distributed k=$k")
      assert(ranksOf(PageRank.ranksSymmetric(df, k,
        columnarEdgeCache = true)) == want, s"columnar k=$k")
      val all = (upairs.map(_._1) ++ upairs.map(_._2)).distinct
      assert(ranksOf(PageRank.personalizedSymmetric(
        upairs.map { case (a, b) => (a, b, 1L) }.toDF("a", "b", "w"),
        all.toDF("node"), k)) == want, s"personalized k=$k")
    }
  }

  test("personalized mass concentrates near the seed set") {
    // seed only node 10: its 9-weight neighbor 11 must outrank its
    // 1-weight neighbor 12, and the component {20, 21} the seed cannot
    // reach never holds any mass
    val g = Seq((10L, 11L, 9L), (10L, 12L, 1L), (11L, 13L, 1L),
      (12L, 13L, 1L), (20L, 21L, 5L))
    val r = ranksOf(PageRank.fixpointDistributed(g.toDF("a", "b", "w"),
      Some(Seq(10L).toDF("node")), 6, columnarEdgeCache = false))
    assert(r(11L) > r(12L))
    assert(r(20L) == 0L && r(21L) == 0L)
    // the lone seed takes the whole teleport term every round
    assert(r(10L) >= (15L * PageRank.Mass) / 100L)
  }

  test("driver fold equals the distributed rounds on a random pair graph") {
    // r16 optimization pin: under DriverFoldCap the symmetric builders
    // fold on the driver; the distributed rounds must stay bit-equal
    // (incl. self-loops and duplicate pairs, which the random draw hits)
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val df = pairs.toDF("a", "b")
    for (k <- Seq(0, 1, 8)) {
      val fast = ranksOf(PageRank.ranksSymmetric(df, k))
      val dist = ranksOf(PageRank.fixpointDistributed(df, None, k,
        columnarEdgeCache = false))
      assert(fast == dist, s"k=$k")
    }
    val wdf = pairs.zipWithIndex
      .map { case ((a, b), i) => (a, b, (i % 7 + 1).toLong) }
      .toDF("a", "b", "w")
    val seeds = Seq(1L, 5L, 9L, 999L).toDF("node")
    for (k <- Seq(0, 1, 6)) {
      val fast = ranksOf(PageRank.personalizedSymmetric(wdf, seeds, k))
      val dist = ranksOf(PageRank.fixpointDistributed(wdf, Some(seeds), k,
        columnarEdgeCache = false))
      assert(fast == dist, s"k=$k")
    }
  }

  test("q132 registered query returns segment-proximate suppliers at sf0.001") {
    val out = queries.Registry.byName("q132_personalized_pagerank")
      .run(spark, sfDir).collect()
    assert(out.length > 0 && out.length <= 20)
    val ranks = out.map(_.getLong(2))
    assert(ranks.sameElements(ranks.sortBy(-_)), "sorted by rank desc")
    assert(ranks.forall(_ >= 0))
  }

  test("q130 registered query returns ranked suppliers at sf0.001") {
    val out = queries.Registry.byName("q130_pagerank").run(spark, sfDir).collect()
    assert(out.length > 0 && out.length <= 20)
    val ranks = out.map(_.getLong(2))
    assert(ranks.sameElements(ranks.sortBy(-_)), "sorted by rank desc")
    assert(ranks.forall(_ > 0))
  }
}

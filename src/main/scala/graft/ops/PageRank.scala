package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Driver-fold output row (top-level for by-name encoder resolution). */
final case class PrRank(node: Long, rank_units: Long)

/** Distributed PageRank in exact fixed-point integer arithmetic.
  *
  * Rank mass is carried as BIGINT units ([[Mass]] total, ~1e12), every
  * division is a floor division on non-negative longs, and every
  * aggregate is an integer sum. Integer addition is associative, so the
  * result is bit-identical under any partitioning, any summation order,
  * and any engine — the same closure-by-construction the engine's money
  * sums use — which is what lets an iterative float-free oracle replay
  * the fixpoint hash-exactly (see GraphOps.q130). The standard float
  * formulation differs per-engine in the 1e-16s from round one and the
  * drift compounds per iteration.
  *
  * Both entry points take an UNDIRECTED graph as its pair list and run
  * one fixpoint: [[personalizedSymmetric]]'s weighted, seeded
  * recurrence. [[ranksSymmetric]] (global PageRank) is its case with
  * every pair at weight 1 and every node a seed — Page et al. 1999 §6's
  * uniform E vector — which reproduces the uniform recurrence
  * bit-for-bit (see [[ranksSymmetric]]).
  *
  * Floor losses (the sub-unit remainders of each division) are dropped,
  * not redistributed. Exact and deterministic; with Mass = 1e12 the
  * relative loss per round is ≤ N·(division remainder) / Mass ≈ 1e-6 at
  * a million nodes, far below ranking resolution.
  *
  * Iterative shape (the q60/q99 driver-round pattern):
  *  - the BARE edge list (src, dst[, w] — the narrowest possible big
  *    table) is materialized ONCE (see [[persistEdges]]); on the
  *    corpus-scale columnar path it is hash-partitioned by DST, and
  *    the cache preserves that, so every round's contribution
  *    aggregate — the only edge-sized exchange left after round 11's
  *    layout — needs NO shuffle at all: the share side broadcasts
  *    (node-sized), the broadcast-hash join preserves the streamed
  *    edge partitioning, and groupBy(dst) finds its required
  *    distribution already satisfied. A corpus round is one cache
  *    scan plus node-sized work. (localCheckpoint cannot carry
  *    partitioning metadata — its scans report UnknownPartitioning —
  *    so the small/medium path skips the pre-shuffle and relies on
  *    AQE instead, below.)
  *  - per-src denominators (Σw) ride IN THE RANK FRAME, not on every
  *    edge row: each round's share side (85·r(u) and 100·Σw(u), one
  *    row per node) is a pure PROJECTION of the rank frame. Same
  *    integer value per edge as a per-edge denominator, a third fewer
  *    cached bytes, one fewer corpus-sized shuffle at build (the old
  *    edges⋈deg) — and, critically, a single measurable stage on the
  *    small side of the big join, so AQE converts it to broadcast-hash
  *    below the node-size threshold (a join-shaped share side is
  *    unmeasurable mid-stage and pinned the corpus side into a full
  *    per-round sort — measured 2.5× on q130 at sf10, round 11);
  *  - each small/medium round is the canonical two-shuffle PageRank
  *    step: join shares into edges on src (shares are node-sized —
  *    only they move), then an integer-sum aggregate; corpus rounds
  *    (columnar path) drop both exchanges — broadcast join + an
  *    aggregate running in the cache's own dst partitioning (a
  *    src-partitioned cache looks cheaper on the JOIN but re-shuffles
  *    ~every edge row in the aggregate every round: dsts scatter
  *    across src-keyed tasks, so map-side combine collapses almost
  *    nothing — measured ~19 GB/round at sf100, round 11);
  *  - ranks are localCheckpoint'ed per round, so lineage stays O(1)
  *    across rounds instead of O(k); retired snapshots release their
  *    BLOCKS, not just cache entries (see [[releaseLocalCkpt]]).
  */
object PageRank {

  /** Total rank mass in fixed-point units. */
  val Mass: Long = 1000000000000L

  /** [[DriverFold]] cap of the fixpoint: flat (a, b[, w]) Long rows,
    * 2^20 pairs ≈ 24 MB, where the k-round loop was ~45 scheduling
    * round-trips over node-sized frames at sf0.1. Integer fixed-point
    * sums commute, so the fold is bit-identical to the rounds.
    */
  private[graft] val DriverFoldCap = 1 << 20

  /** Rounds between rank localCheckpoints. Each checkpoint is an eager
    * materialization (a scheduled job); batching 2 rounds per
    * checkpoint halves that floor while keeping lineage O(1)-bounded
    * (≤2 rounds deep). The arithmetic is identical either way — the
    * checkpoint is an execution boundary, not a semantic one — which
    * PageRankSpec's exact-equality tests pin.
    */
  private val CheckpointEvery = 2

  /** Materialize the bare edge list once. Two regimes:
    *
    *  - `columnar = false` (default, small/medium graphs):
    *    localCheckpoint — the cheapest one-shot materialization; its
    *    deserialized row storage is fine while the edge list is far
    *    smaller than memory.
    *  - `columnar = true` (corpus-scale, the caller's scale hint):
    *    persist(MEMORY_AND_DISK_SER) through the compressed columnar
    *    cache. localCheckpoint's deserialized rows measured ~100 GB at
    *    the sf100 rung (1.17B edges off 600M lineitems) and took the
    *    box's disk down; the columnar form stores the same three long
    *    columns ~10× smaller and still preserves the join-aligned
    *    partitioning the per-round SMJ reuses. Lineage is kept —
    *    blocks evicted under pressure re-derive instead of failing —
    *    and the eager count() pays the materialization exactly once.
    *    (Not the default: the cache build costs ~5 s even at sf0.1's
    *    1.2M edges, a pure regression where the old path was 6 s
    *    total.)
    */
  private def persistEdges(ed: DataFrame, columnar: Boolean): DataFrame =
    if (!columnar) ed.localCheckpoint()
    else {
      // partition by DST before caching: InMemoryRelation preserves the
      // partitioning (unlike localCheckpoint, whose LogicalRDD scans
      // report UnknownPartitioning — measured, round 11). Round 11
      // partitioned by SRC for a zero-exchange sort-merge join — but the
      // join was never the edge-sized cost: the corpus path BROADCASTS the
      // node-sized share frame (see fixpointDistributed), so the join
      // needs no edge exchange under EITHER layout. The edge-sized cost
      // was the per-round contribution aggregate: groupBy(dst) over a
      // src-partitioned cache re-shuffles ~every edge row every round
      // (dsts are scattered across tasks, so map-side combine collapses
      // almost nothing — at sf100 that was ~19 GB of shuffle per round, ×8
      // rounds). dst-partitioned, the aggregate's required distribution is
      // already satisfied and every round runs ZERO-exchange end to end:
      // scan → broadcast-hash join → in-partition final aggregate. The
      // one-time price is the deg/Σw build aggregate, which loses its
      // co-partitioning and pays ONE edge-sized shuffle at build — 1 vs
      // the 8 per-round ones it buys back. The within-partition sort keeps
      // the dst column RLE/delta-friendly for the columnar compressor (the
      // cache is scanned 8×; narrower is faster).
      val p = ed.repartition(col("dst")).sortWithinPartitions(col("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      p.count()
      p
    }

  private def releaseLocalCkpt(df: DataFrame): Unit =
    CheckpointBlocks.release(df)

  /** Release the edge cache: the columnar regime is a CacheManager
    * entry (`Dataset.unpersist` works); the localCheckpoint regime
    * needs the block-level release.
    */
  private def releaseEdges(ed: DataFrame, columnar: Boolean): Unit =
    if (columnar) { ed.unpersist(false); () } else releaseLocalCkpt(ed)

  /** Global PageRank: ranks after `k` rounds over an UNDIRECTED graph
    * given as its distinct pair list (`a`, `b`: long, one row per
    * unordered edge) — the shape every corpus graph in this engine
    * starts from (the q130 trade pairs). Per round (damping 0.85 as the
    * 85/100 ratio), with deg(u) the number of pairs containing u:
    *
    *   contrib(u→v) = (85 * r(u)) div (100 * deg(u))
    *   r'(v)        = (15 * Mass) div (100 * N)  +  Σ_{u→v} contrib(u→v)
    *
    * starting from r(v) = Mass div N. Both directions of every pair are
    * edges, so every endpoint has an out-edge: no node is dangling and
    * the node set is exactly the deg frame's.
    *
    * This is [[personalizedSymmetric]] with w ≡ 1 and every node a
    * seed: its teleport (15·Mass) div (100·N), start Mass div N and
    * per-edge (85·r·1) div (100·deg) are the terms above exactly, so
    * the result is bit-identical (PageRankSpec pins it against the
    * sequential uniform recurrence). The unit weight joins after the
    * edge cache (the cached (src, dst) bytes are unchanged) and the
    * spine needs no seed probe.
    *
    * Returns (`node` long, `rank_units` long), one row per node.
    */
  def ranksSymmetric(pairs: DataFrame, k: Int,
                     columnarEdgeCache: Boolean = false): DataFrame =
    fixpoint(pairs.select(col("a"), col("b")), None, k, columnarEdgeCache)

  /** Weighted, personalized PageRank over an UNDIRECTED weighted graph
    * given as its pair list (`a`, `b`, `w`: long, `w` ≥ 1, one row per
    * unordered edge) — the [[ranksSymmetric]] recurrence with two
    * generalizations:
    *
    *  - **edge weights**: a node's rank splits proportionally to weight
    *    instead of uniformly:
    *      contrib(u→v) = (85 * r(u) * w(u,v)) div (100 * W(u))
    *    where W(u) = Σ_v w(u,v). Exact-overflow bound: the product
    *    85 * r(u) * w needs r(u)·w < 2^63/85 ≈ 1.1e17; with total mass
    *    1e12 that admits per-edge weights up to ~1e5 even if one node
    *    held ALL the mass — and in practice r(u) shrinks as 1/N, so the
    *    bound loosens linearly with graph size (100 TB-safe for any
    *    count-like weight). Past it both paths throw
    *    ArithmeticException (ANSI on the distributed path, exact
    *    arithmetic in the fold) instead of wrapping.
    *  - **personalization**: the teleport term lands only on a seed set
    *    S (restart distribution uniform over S), and the initial mass
    *    starts on S:  r'(v) = [v∈S]·(15·Mass) div (100·|S|) + Σ contribs.
    *    Ranks then measure proximity to S through weighted trade flow —
    *    the standard personalized-PageRank semantics (Page et al. 1999,
    *    §6 "personalized" E vector).
    *
    * `seeds`: (`node` long); seeds outside the graph's node set are
    * ignored (they could never receive or emit mass), and with no
    * in-graph seed every rank is 0. Returns (`node`, `rank_units`).
    */
  def personalizedSymmetric(pw: DataFrame, seeds: DataFrame, k: Int,
                            columnarEdgeCache: Boolean = false): DataFrame =
    fixpoint(pw.select(col("a"), col("b"), col("w")), Some(seeds), k,
      columnarEdgeCache)

  /** Probe for the driver fold, else run [[fixpointDistributed]]:
    * `pairs` is (a, b) (every pair weighs 1) or (a, b, w); `seeds`
    * None seeds every node. A corpus-scale call (the columnar-edge-cache
    * hint) skips the probe.
    */
  private def fixpoint(pairs: DataFrame, seeds: Option[DataFrame], k: Int,
                       columnarEdgeCache: Boolean): DataFrame = {
    require(k >= 0, s"pagerank rounds must be >= 0, got $k")
    val folded = if (columnarEdgeCache) None else for {
      p <- DriverFold.rows(pairs, DriverFoldCap,
        pairs.columns.toSeq.map(_ => LongType): _*)
      s <- seeds.fold(Option(Option.empty[Array[Row]]))(sd =>
        DriverFold.rows(sd.select(col("node")).distinct(), DriverFoldCap,
          LongType).map(Some(_)))
    } yield driverFold(pairs.sparkSession, p, s, k)
    folded.getOrElse(fixpointDistributed(pairs, seeds, k, columnarEdgeCache))
  }

  /** The distributed fixpoint — the scale path above [[DriverFoldCap]]
    * and the equality reference for the driver fold's specs. `pairs`
    * and `seeds` as in [[fixpoint]].
    *
    * Build: both directions of every pair go into the edge cache; Σw
    * per node comes from two HALF-sized pair-frame aggregates whose
    * node-sized partials merge in one final node-keyed sum (a node can
    * appear on both sides in general graphs; disjoint id spaces just
    * make one of the two partials empty per node), and the node spine
    * IS that Σw frame — no distinct over the 2·|edges| symmetrized
    * endpoints (the largest single build aggregate at the sf100 rung).
    */
  private[graft] def fixpointDistributed(
      pairs: DataFrame, seeds: Option[DataFrame], k: Int,
      columnarEdgeCache: Boolean): DataFrame = {
    val weight = pairs.columns.find(_ == "w").map(col).toSeq
    def directed(src: String, dst: String): DataFrame =
      pairs.select(col(src).as("src") +: col(dst).as("dst") +: weight: _*)
    val cached = persistEdges(directed("a", "b").unionByName(directed("b", "a")),
      columnarEdgeCache)
    // a unit weight joins AFTER the cache: an unweighted graph keeps its
    // bare (src, dst) cache bytes and dst partitioning
    val w = weight.headOption.getOrElse(lit(1L))
    val ed = if (weight.isEmpty) cached.withColumn("w", w) else cached
    def total(end: String): DataFrame =
      pairs.groupBy(col(end).as("node")).agg(sum(w).as("t"))
    val tw = total("a").unionByName(total("b"))
      .groupBy(col("node")).agg(sum(col("t")).as("tw"))
    // the checkpointed spine carries the seed flag only for a real seed
    // set; every-node seeding is a literal after the checkpoint
    val spine = seeds.fold(tw)(sd => tw
      .join(sd.select(col("node"), lit(1L).as("seed1")).distinct(),
        Seq("node"), "left")
      .select(col("node"), col("tw"), coalesce(col("seed1"), lit(0L)).as("seed")))
      .localCheckpoint()
    val nodesS = if (seeds.isEmpty) spine.withColumn("seed", lit(1L)) else spine
    val ns = nodesS.where(col("seed") === 1L).count()
    if (ns == 0) {
      // no in-graph seed (r13 degenerate sweep — includes the empty
      // graph): the restart distribution is empty, so no mass ever
      // enters and every node's rank is exactly 0 for any k — return
      // that closed form instead of dying on the teleport division
      // (materialized BEFORE the spine's checkpoint blocks are released)
      releaseEdges(cached, columnarEdgeCache)
      val out = nodesS.select(col("node"), lit(0L).as("rank_units"))
        .localCheckpoint()
      releaseLocalCkpt(spine)
      return out
    }
    val teleport = (15L * Mass) / (100L * ns)

    // the rank frame carries (node, tw, rank) — tw is loop-invariant
    var r = nodesS.select(col("node"), col("tw"),
      (col("seed") * lit(Mass / ns)).as("rank"))
    // retire the previous rank snapshot once the next one is
    // materialized: live storage stays O(1) rounds instead of O(k)
    // (node-sized blocks, but at 16M+ nodes that is GBs per snapshot)
    var prevCkpt: DataFrame = null
    var i = 0
    while (i < k) {
      // pre-divide on the node side: the share frame carries the
      // per-node NUMERATOR (85·r) and DENOMINATOR (100·Σw), and the
      // per-edge value (r85 · w) div tw100 = (85·r·w) div (100·Σw) is
      // the identical long product and floor division — same bits,
      // narrower big join. Nodes with no out-weight (tw 0) emit no
      // share.
      val shares = r.where(col("tw") > 0)
        .select(col("node").as("src"),
          (lit(85L) * col("rank")).as("r85"),
          (lit(100L) * col("tw")).as("tw100"))
      // corpus path: broadcast the node-sized share frame explicitly —
      // nodes run orders of magnitude below edges (|C|+|S| vs the
      // distinct trade pairs), so even at the 100 TB point the share
      // frame is a few hundred MB against TBs of edges. With the cache
      // dst-partitioned (persistEdges), the whole round is then
      // exchange-free on the edge side: broadcast-hash join preserves
      // the streamed side's partitioning, the (dst→node) alias keeps
      // it through the projection, and the aggregate's required
      // distribution is already met. Below the threshold AQE makes the
      // same call on its own. Bit-identical either way: the join emits
      // the same rows and integer sums are order-independent
      // (PageRankSpec pins the columnar path against the sequential
      // recurrence).
      val contribs = ed
        .join(if (columnarEdgeCache) broadcast(shares) else shares, Seq("src"))
        .select(col("dst").as("node"), expr("(r85 * w) div tw100").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("sc"))
      val next = nodesS.join(contribs, Seq("node"), "left")
        .select(col("node"), col("tw"),
          (col("seed") * lit(teleport) + coalesce(col("sc"), lit(0L)))
            .as("rank"))
      if (i % CheckpointEvery == CheckpointEvery - 1 || i == k - 1) {
        r = next.localCheckpoint()
        if (prevCkpt != null) releaseLocalCkpt(prevCkpt)
        prevCkpt = r
      } else r = next
      i += 1
    }
    // the final round always checkpoints, so the edge cache and the
    // node spine can be released before the caller's (top-k, join-back)
    // follow-up work
    if (k > 0) {
      releaseEdges(cached, columnarEdgeCache)
      releaseLocalCkpt(spine)
    }
    r.select(col("node"), col("rank").as("rank_units"))
  }

  /** The symmetric graph of a folded pair list: node ids indexed in
    * first-seen order, both directions of pair i as edges 2i and 2i+1
    * with the pair's weight (1 for an (a, b) row), and each node's
    * weight summed over its pairs (a self-pair counts twice, as in the
    * distributed endpoint aggregates).
    */
  private final class SymGraph(rows: Array[Row]) {
    val idx = new java.util.HashMap[java.lang.Long, Integer]()
    private def id(v: Long): Int = {
      val got = idx.get(v)
      if (got != null) got.intValue()
      else { val i = idx.size(); idx.put(v, i); i }
    }
    val edges: Int = 2 * rows.length
    val srcA = new Array[Int](edges); val dstA = new Array[Int](edges)
    val wA = new Array[Long](edges)
    rows.indices.foreach { i =>
      val ia = id(rows(i).getLong(0)); val ib = id(rows(i).getLong(1))
      val wi = if (rows(i).length > 2) rows(i).getLong(2) else 1L
      srcA(2 * i) = ia; dstA(2 * i) = ib; wA(2 * i) = wi
      srcA(2 * i + 1) = ib; dstA(2 * i + 1) = ia; wA(2 * i + 1) = wi
    }
    val n: Int = idx.size()
    val weight = new Array[Long](n)
    (0 until edges).foreach(e => weight(srcA(e)) += wA(e))

    /** One (node, rank_units) row per node. */
    def rankFrame(spark: SparkSession, rank: Array[Long]): DataFrame = {
      val out = new Array[PrRank](n)
      idx.forEach { (node, ix) =>
        out(ix.intValue()) = PrRank(node.longValue(), rank(ix.intValue())) }
      spark.createDataFrame(out.toIndexedSeq)
    }
  }

  /** [[fixpointDistributed]] folded on the driver over the whole pair
    * list and the distinct seed rows (`None`: every node is a seed).
    * Bit-identical to the distributed rounds: same Σw/spine
    * construction, same per-round floor divisions, and integer sums
    * commute.
    */
  private def driverFold(spark: SparkSession, rows: Array[Row],
                         seedRows: Option[Array[Row]], k: Int): DataFrame = {
    val g = new SymGraph(rows)
    val n = g.n
    val tw = g.weight
    // in-graph seeds only (out-of-graph seeds can never hold mass)
    val seed = Array.fill(n)(seedRows.isEmpty)
    var ns = if (seedRows.isEmpty) n.toLong else 0L
    seedRows.foreach(_.foreach { sRow =>
      val got = g.idx.get(sRow.getLong(0))
      if (got != null && !seed(got.intValue())) {
        seed(got.intValue()) = true; ns += 1
      }
    })
    // no in-graph seed: every rank is exactly 0 for any k — the same
    // closed form the distributed path returns
    if (ns == 0L) return g.rankFrame(spark, new Array[Long](n))
    val teleport = (15L * Mass) / (100L * ns)
    val r0 = Mass / ns
    var rank = Array.tabulate(n)(v => if (seed(v)) r0 else 0L)
    var round = 0
    while (round < k) {
      // pre-divided numerator/denominator exactly as distributed:
      // c(u→v) = (85·r(u)·w) div (100·tw(u)) via the identical long
      // product and floor division
      // exact-arithmetic parity with the ANSI distributed path: every
      // product/sum there (85*rank, 100*Σw, r85*w, the contribution
      // SUM) throws ArithmeticException on Long overflow under Spark 4
      // ANSI mode, so the fold must throw at exactly the same points
      // instead of silently wrapping (ADVICE r16). multiplyExact /
      // addExact are JIT intrinsics — no measurable cost in this loop.
      val r85 = new Array[Long](n)
      val tw100 = new Array[Long](n)
      var u = 0
      while (u < n) {
        r85(u) = Math.multiplyExact(85L, rank(u))
        tw100(u) = Math.multiplyExact(100L, tw(u))
        u += 1
      }
      val next = Array.tabulate(n)(v => if (seed(v)) teleport else 0L)
      var e = 0
      while (e < g.edges) {
        val su = g.srcA(e)
        if (tw(su) > 0L) {
          val d = g.dstA(e)
          next(d) = Math.addExact(next(d),
            Math.multiplyExact(r85(su), g.wA(e)) / tw100(su))
        }
        e += 1
      }
      rank = next
      round += 1
    }
    g.rankFrame(spark, rank)
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed connected components via alternating large-star /
  * small-star rounds (the MapReduce CC algorithm of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" — also GraphFrames'
  * default). Compared to min-label propagation it converges in
  * O(log diameter) rounds instead of O(diameter), and each round moves
  * whole neighborhoods toward their minimum, so chains and high-degree
  * skew both collapse fast.
  *
  * Engineering notes for the iterative shape:
  *  - every intermediate edge set is eagerly localCheckpoint'ed: the
  *    frontier is materialized exactly once per star (the input pair
  *    computation would otherwise re-run once per downstream reference),
  *    and lineage cannot grow across rounds;
  *  - convergence is a star-forest certificate (every node has at most
  *    one parent and no parent is itself a child), two tiny jobs on the
  *    checkpointed frontier — cheaper than running a full confirmation
  *    round, and it also short-circuits inputs that are already stars
  *    (e.g. a corpus whose near-dup clusters are all pairs).
  */
object ConnectedComponents {

  /** Both directions of each undirected edge; self-loops dropped. The
    * input must be small enough to double — star edge sets shrink toward
    * one edge per non-root node, so this holds after round 1 regardless
    * of input shape.
    */
  private def sym(e: DataFrame): DataFrame =
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))

  /** m(u) = min over {u} ∪ Γ(u). Because neighbors larger than u can
    * never beat u itself, this equals the small-star min over
    * {u} ∪ {v ∈ Γ(u): v ≤ u} too — one aggregation serves both stars.
    */
  private def withMin(e: DataFrame): DataFrame =
    e.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))

  /** Large-star: connect every neighbor v > u to m(u). Output is
    * canonically oriented big → small.
    */
  private def largeStar(e0: DataFrame): DataFrame = {
    val e = sym(e0)
    e.join(withMin(e), "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Small-star: connect every neighbor v ≤ u, and u itself, to m(u). */
  private def smallStar(e0: DataFrame): DataFrame = {
    val e = sym(e0)
    val m = withMin(e)
    val vm = e.where(col("dst") <= col("src")).join(m, "src")
      .select(col("dst").as("node"), col("m"))
    val um = m.select(col("src").as("node"), col("m"))
    vm.unionByName(um)
      .where(col("node") =!= col("m"))
      .select(col("node").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** A big→small edge set is a converged star forest iff no node has two
    * parents and no parent is itself a child. Star roots are smaller
    * than every member (edges always point downward) and components
    * never split, so a star forest's roots ARE the component minima.
    */
  private def isStarForest(e: DataFrame): Boolean =
    e.groupBy(col("src")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
      .select(lit(1).as("viol"))
      .unionByName(
        e.as("a").join(e.as("b"), col("a.dst") === col("b.src"))
          .select(lit(1).as("viol")))
      .isEmpty

  /** [[DriverFold]] cap: 2^17 canonical (src, dst) Long pairs is ~2 MB,
    * while every star round it replaces costs several jobs plus a
    * localCheckpoint.
    */
  private[graft] val DriverFoldCap = 1 << 17

  /** Cluster assignment for every node incident to an edge:
    * (node, cluster_rep) where cluster_rep is the component's minimum
    * node id. Same fixpoint as min-label propagation / the recursive-CTE
    * oracle.
    *
    * An incremental CC fold's per-batch input is the previous label
    * snapshot plus one batch's confirmed pairs — routinely a few hundred
    * edges — yet the star rounds pay several jobs each PER MICRO-BATCH
    * (the q134/q158 sf0.1 bench rows were ~50% this fixed cost), so a
    * Long-id graph under [[DriverFoldCap]] folds on the driver
    * ([[DriverFold]]) with a union-find.
    */
  def clusters(edges: DataFrame): DataFrame =
    folded(edges).getOrElse(clustersWithRounds(edges)._1)

  /** [[clusters]] for callers inside a LONG-LIVED stream (the q134/q158
    * CC fold): when the graph exceeds [[DriverFoldCap]] the star rounds
    * pin each frontier to `scratchDir` parquet instead of
    * localCheckpoint. A localCheckpoint block lives only on its
    * executor AND truncates lineage, so one executor kill mid-round is
    * unrecoverable and fails the whole streaming query — measured,
    * not hypothesized: the r15 SIGKILL-injection run lost q134 to
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (`r15_streamkill_before.log`)
    * while every non-localCheckpoint family survived. Parquet rounds
    * cost one tiny write+read each (the frontier is ≤ one edge per
    * node) and only engage above the driver cap. Batch-query callers
    * keep localCheckpoint: a failed batch query is simply re-run by
    * its caller, a dead stream is an ingest outage.
    */
  def clustersReliable(edges: DataFrame, scratchDir: String): DataFrame =
    folded(edges).getOrElse(
      clustersWithRounds(edges, scratchDir = Some(scratchDir))._1)

  /** Self-loops dropped, each edge oriented big → small. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
              least(col("src"), col("dst")).as("dst"))

  private def folded(edges: DataFrame): Option[DataFrame] =
    DriverFold.rows(canonical(edges), DriverFoldCap, LongType, LongType)
      .map(unionFind(edges.sparkSession, _))

  /** The driver fold: union-find with path compression over the whole
    * canonical edge set, then every member labelled with its component
    * min.
    */
  private def unionFind(spark: SparkSession, probe: Array[Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    probe.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val rep = new java.util.HashMap[Long, Long]()
    parent.keySet().forEach { n =>
      val r = find(n)
      val cur = rep.getOrDefault(r, Long.MaxValue)
      if (n < cur) rep.put(r, n)
    }
    import scala.jdk.CollectionConverters._
    val rows = parent.keySet().asScala.toSeq
      .map(n => Row(n, rep.get(find(n))))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("node", LongType), StructField("cluster_rep", LongType))))
  }

  private[graft] def clustersWithRounds(
      edges: DataFrame, maxRounds: Int = 20,
      scratchDir: Option[String] = None): (DataFrame, Int) = {
    val spark = edges.sparkSession
    // frontier pin per round: localCheckpoint (cheapest, executor-local,
    // fine when the caller can re-run the whole query) or — for stream
    // callers via scratchDir — a parquet round-trip that survives
    // executor loss (see clustersReliable)
    def pin(df: DataFrame, round: Int): DataFrame = scratchDir match {
      case Some(dir) =>
        df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$dir/cc_round=$round")
        spark.read.parquet(s"$dir/cc_round=$round")
      case None => df.localCheckpoint()
    }
    def release(df: DataFrame): Unit =
      if (scratchDir.isEmpty) CheckpointBlocks.release(df)
    // Canonical big→small orientation so the star-forest certificate is
    // meaningful on the input itself (pure dup-pair graphs finish here
    // with zero star rounds).
    var e = pin(canonical(edges), 0)
    var rounds = 0
    var done = false
    // do-while: real pair graphs have some multi-member cluster, so a
    // round-0 certificate would almost always burn a job to say "no".
    // largeStar is recomputed inside the round (its input is the
    // checkpointed frontier — two tiny cached stages beat materializing
    // a third intermediate). Each retired frontier releases its BLOCKS
    // (CheckpointBlocks — Dataset.unpersist is a no-op on checkpoints),
    // so live storage is one frontier, not O(rounds), at corpus scale.
    while (!done && rounds < maxRounds) {
      val prev = e
      e = pin(smallStar(largeStar(e)), rounds + 1)
      release(prev)
      rounds += 1
      done = isStarForest(e)
    }
    // Converged star edges point every non-root at its component minimum;
    // roots label themselves.
    val labels = e.select(col("src").as("node"), col("dst").as("cluster_rep"))
      .unionByName(e.select(col("dst").as("node"), col("dst").as("cluster_rep")).distinct())
    (labels, rounds)
  }
}

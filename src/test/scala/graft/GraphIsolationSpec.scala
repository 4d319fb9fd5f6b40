package graft

import graft.queries.{GraphOps, Registry}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.LogicalRDD

/** A row that plans with its own conf must not move the conf of the
  * session it was called on: the BI endpoint plans thrift clients'
  * queries on that same session. The engine plans every such scope on a
  * [[GraftSession.fork]]. For each row in the table below, the row runs
  * on the shared `spark` in a thread while the main thread (a) probes
  * `spark.conf` for the shuffle width and AQE, which must stay at their
  * base values, and (b) drives a live thrift client, whose wire results
  * must equal direct evaluation. The concurrent answer must equal the
  * row's answer computed alone. The rows:
  *   - q130 with the graph build forced onto its wide path
  *     (`spark.graft.graph.minShuffleWidth`): a fact-scaled width fork
  *     with columnar edge cache and parquet staging;
  *   - q111, a width-8 stream row whose batches are store-gated;
  *   - q129, a width-8 stream row whose batches plan narrow (AQE off,
  *     width 4) below the cost switch.
  */
class GraphIsolationSpec extends SparkSpec {

  private val Width = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"

  private def answer(q: String): Seq[Row] =
    Registry.byName(q).run(spark, sfDir).collect().toSeq

  /** Run `q` in a thread while probing the shared session and a thrift
    * client; the concurrent answer must equal `expected`.
    */
  private def isolated(q: String, expected: Seq[Row]): Unit = {
    assert(expected.nonEmpty)
    val base = (spark.conf.get(Width), spark.conf.get(Aqe))
    val direct = Tables.orders(spark, sfDir).count()
    SharedEndpoint.port // the JVM's one thrift endpoint (see its doc)
    val out = new java.util.concurrent.atomic.AtomicReference[Seq[Row]]()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val build = new Thread(() => {
      try out.set(answer(q))
      catch { case t: Throwable => err.set(t) }
    })
    build.start()
    try {
      val conn = SharedEndpoint.connect()
      try {
        val st = conn.createStatement()
        var probes = 0
        while (build.isAlive && probes < 2000) {
          assert((spark.conf.get(Width), spark.conf.get(Aqe)) == base,
            s"$q leaked its shuffle width or AQE setting into the shared session")
          val rs = st.executeQuery(
            "SELECT count(*) AS n FROM global_temp.orders")
          assert(rs.next() && rs.getLong("n") == direct)
          probes += 1
        }
        assert(probes > 0)
      } finally conn.close()
    } finally build.join(300000)
    assert(!build.isAlive, s"$q did not finish")
    assert(err.get() == null, s"$q failed: ${err.get()}")
    assert(out.get() == expected)
    assert((spark.conf.get(Width), spark.conf.get(Aqe)) == base)
  }

  /** (test name, row, the session conf the row runs under) */
  private val table = Seq(
    ("forced-wide graph build leaves a concurrent thrift client's session untouched",
      "q130_pagerank", Some("spark.graft.graph.minShuffleWidth" -> "48")),
    ("q111 width-8 stream leaves the shared session untouched",
      "q111_ivf_stream", None),
    ("q129 narrow-batch stream leaves the shared session untouched",
      "q129_minhash_dedup_stream", None))

  table.foreach { case (name, q, forced) =>
    test(name) {
      // the row's answer alone; q130's is its narrow path, which must
      // equal the wide one (the width/caching/staging regime is
      // physical only)
      val expected = answer(q)
      forced.foreach { case (k, v) => spark.conf.set(k, v) }
      try isolated(q, expected)
      finally forced.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("fact-scaled width is cached per dataset, not per caller's width") {
    // a dataset dir no other test has sized: the width cache is keyed by
    // dir, and a width-8 caller must not fix the width a later width-4
    // caller plans at (at the fixture's size both widths are at or above
    // the fact width, so both calls take the narrow path, unforked)
    val dir = Files.createTempDirectory("graft_width")
    val link = Files.createSymbolicLink(dir.resolve("lineitem.parquet"),
      Paths.get(s"$sfDir/lineitem.parquet").toAbsolutePath)
    try {
      def build(width: Int): (Boolean, Boolean) = {
        val s = GraftSession.fork(spark, Width -> width.toString)
        var wide = false
        val out = GraphOps.withFactScaledShuffle(s, dir.toString) { (gs, _, big) =>
          wide = big
          gs.range(1).toDF()
        }
        (wide, out.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      }
      assert(build(8) == ((false, false)))
      assert(build(4) == ((false, false)),
        "the width-4 call took the wide (forked, checkpointed) path")
    } finally { Files.delete(link); Files.delete(dir) }
  }
}

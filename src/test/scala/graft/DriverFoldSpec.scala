package graft

import scala.jdk.CollectionConverters._

import graft.functions.VectorFunctions.squaredNorm
import graft.ops.{BpeTrain, ConnectedComponents, DriverFold, PageRank, Triangles}
import graft.queries.SelectionOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

/** The bounded driver fold ([[DriverFold]]) and the five operators that
  * fold through it. For each operator, on generated and degenerate
  * inputs: the result equals the operator's distributed method, and
  * the branch that ran shows in the plan — a fold is a driver-local
  * relation; the distributed graph paths are not.
  */
class DriverFoldSpec extends SparkSpec {
  import spark.implicits._

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.toString)

  private def frame(ddl: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  /** Same rows, same column names and types (nullability aside). */
  private def assertSame(got: DataFrame, want: DataFrame, clue: Any): Unit = {
    assert(got.schema.fieldNames.toSeq == want.schema.fieldNames.toSeq, clue)
    assert(DataType.equalsStructurally(got.schema, want.schema,
      ignoreNullability = true), clue)
    assert(rowsOf(got) == rowsOf(want), clue)
  }

  private def causedByArithmetic(body: => Any): Boolean =
    try { body; false }
    catch { case t: Throwable =>
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    }

  /** Random id pairs over a small id space: self-loops and duplicate
    * pairs occur.
    */
  private val pairsGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2L, 30L)
    m <- Gen.choose(1, 90)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n), Gen.choose(0L, n)))
  } yield es

  private def canonical(ps: Seq[(Long, Long)]): Seq[(Long, Long)] =
    ps.filter { case (x, y) => x != y }
      .map { case (x, y) => (math.min(x, y), math.max(x, y)) }.distinct

  // ---- the primitive ----------------------------------------------------

  test("rows: Some at exactly cap rows, None at cap + 1, on a wrong type or a null") {
    forAllSeeded(Gen.choose(1, 40), n = 8) { n =>
      val good = (1 to n).map(i => Row(i.toLong, s"w$i"))
      val df = frame("a BIGINT, b STRING", good)
      assert(DriverFold.rows(df, n, LongType, StringType).map(_.length)
        .contains(n))
      assert(DriverFold.rows(df, n - 1, LongType, StringType).isEmpty)
      assert(DriverFold.rows(df, n, IntegerType, StringType).isEmpty)
      assert(DriverFold.rows(df, n, LongType).isEmpty)
      for (nulled <- Seq(Row(null, "x"), Row(7L, null)))
        assert(DriverFold.rows(frame("a BIGINT, b STRING", good :+ nulled),
          n + 1, LongType, StringType).isEmpty, nulled)
    }
    // nullability is not part of the type: array<double> without null
    // elements matches the nullable-element array type
    val vecs = Seq((1L, Array(1.0, 2.0))).toDF("id", "v")
    assert(!vecs.schema("v").dataType.asInstanceOf[ArrayType].containsNull)
    assert(DriverFold.rows(vecs, 1, LongType, ArrayType(DoubleType)).isDefined)
  }

  // ---- connected components ---------------------------------------------

  test("CC: fold equals the star rounds and is local; null ids drop on both") {
    def check(edges: DataFrame, clue: Any): Unit = {
      val dist = ConnectedComponents.clustersWithRounds(edges)._1
      val fast = ConnectedComponents.clusters(edges)
      assert(isLocal(fast) && !isLocal(dist), clue)
      assertSame(fast, dist, clue)
      val scratch = java.nio.file.Files.createTempDirectory("cc_fold").toString
      val reliable = ConnectedComponents.clustersReliable(edges, scratch)
      assert(isLocal(reliable), clue)
      assertSame(reliable, dist, clue)
    }
    forAllSeeded(pairsGen, n = 6) { ps => check(ps.toDF("src", "dst"), ps) }
    check(Seq.empty[(Long, Long)].toDF("src", "dst"), "empty")
    check(Seq((3L, 4L)).toDF("src", "dst"), "one edge")
    check(Seq((3L, 3L), (5L, 5L)).toDF("src", "dst"), "self-loops only")
    check(Seq((1L, 2L), (2L, 1L), (1L, 2L)).toDF("src", "dst"), "duplicates")
    check(frame("src BIGINT, dst BIGINT",
      Seq(Row(1L, 2L), Row(null, 3L), Row(2L, 4L))), "null id")
  }

  test("CC: non-Long ids run the star rounds") {
    val edges = Seq((1, 2), (2, 3), (7, 8)).toDF("src", "dst")
    val got = ConnectedComponents.clusters(edges)
    assert(!isLocal(got))
    assertSame(got, ConnectedComponents.clustersWithRounds(edges)._1, "int ids")
  }

  // ---- triangles --------------------------------------------------------

  test("triangles: fold equals the distributed census on canonical edges") {
    def check(edges: DataFrame, folds: Boolean, clue: Any): Unit = {
      val fast = Triangles.perNode(edges)
      assert(isLocal(fast) == folds, clue)
      assertSame(fast, Triangles.perNodeDistributed(edges), clue)
    }
    forAllSeeded(pairsGen, n = 6) { ps =>
      check(canonical(ps).toDF("a", "b"), folds = true, ps)
      // raw draws break the a < b / distinct contract: distributed
      if (canonical(ps) != ps) check(ps.toDF("a", "b"), folds = false, ps)
    }
    check(Seq.empty[(Long, Long)].toDF("a", "b"), folds = true, "empty")
    check(Seq((1L, 2L)).toDF("a", "b"), folds = true, "one edge")
    check(Seq((1L, 1L), (1L, 2L)).toDF("a", "b"), folds = false, "self-loop")
    check(Seq((1L, 2L), (1L, 2L)).toDF("a", "b"), folds = false, "duplicate")
    check(frame("a BIGINT, b BIGINT",
      Seq(Row(1L, 2L), Row(2L, 3L), Row(1L, 3L), Row(null, 3L))),
      folds = false, "null id")
  }

  // ---- PageRank ---------------------------------------------------------

  test("PageRank: both symmetric folds equal the distributed rounds") {
    def checkPlain(pairs: DataFrame, folds: Boolean, clue: Any): Unit =
      for (k <- Seq(0, 3)) {
        val fast = PageRank.ranksSymmetric(pairs, k)
        assert(isLocal(fast) == folds, s"$clue k=$k")
        assertSame(fast, PageRank.fixpointDistributed(pairs, None, k,
          columnarEdgeCache = false), s"$clue k=$k")
      }
    def checkSeeded(pw: DataFrame, seeds: DataFrame, folds: Boolean,
                    clue: Any): Unit = {
      val k = 3
      val fast = PageRank.personalizedSymmetric(pw, seeds, k)
      assert(isLocal(fast) == folds, clue)
      assertSame(fast, PageRank.fixpointDistributed(pw, Some(seeds), k,
        columnarEdgeCache = false), clue)
    }
    forAllSeeded(pairsGen, n = 5) { ps =>
      checkPlain(ps.toDF("a", "b"), folds = true, ps)
      val pw = ps.zipWithIndex.map { case ((a, b), i) => (a, b, i % 5 + 1L) }
      checkSeeded(pw.toDF("a", "b", "w"),
        Seq(ps.head._1, ps.last._2, 999L).toDF("node"), folds = true, ps)
    }
    val none = Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")
    checkPlain(none.select("a", "b"), folds = true, "empty")
    checkSeeded(none, Seq(1L).toDF("node"), folds = true, "empty")
    checkPlain(Seq((4L, 4L)).toDF("a", "b"), folds = true, "self-loop")
    checkSeeded(Seq((4L, 9L, 2L)).toDF("a", "b", "w"), Seq(9L).toDF("node"),
      folds = true, "one pair")
    checkSeeded(Seq((1L, 2L, 1L), (1L, 2L, 1L), (2L, 3L, 2L)).toDF("a", "b", "w"),
      Seq(8L).toDF("node"), folds = true, "duplicates, no in-graph seed")
    val nullPairs = frame("a BIGINT, b BIGINT",
      Seq(Row(1L, 2L), Row(2L, 3L), Row(null, 3L)))
    checkPlain(nullPairs, folds = false, "null id")
    val nullW = frame("a BIGINT, b BIGINT, w BIGINT",
      Seq(Row(1L, 2L, 1L), Row(2L, null, 2L), Row(2L, 3L, null)))
    checkSeeded(nullW, Seq(1L).toDF("node"), folds = false, "null id, null w")
    checkSeeded(Seq((1L, 2L, 1L)).toDF("a", "b", "w"),
      frame("node BIGINT", Seq(Row(1L), Row(null))), folds = false, "null seed")
  }

  test("PageRank: an overflowing 85*r*w throws ArithmeticException on both paths") {
    val gen = for {
      m <- Gen.choose(1, 6)
      ps <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, 8L), Gen.choose(0L, 8L),
        Gen.choose(200000L, 1000000000L)))
      k <- Gen.choose(1, 3)
    } yield (ps, k)
    forAllSeeded(gen, n = 4) { case (ps, k) =>
      val pw = ps.toDF("a", "b", "w")
      // one seed on an edge: its 85 * Mass * w alone passes 2^63
      val seeds = Seq(ps.head._1).toDF("node")
      assert(causedByArithmetic(
        PageRank.personalizedSymmetric(pw, seeds, k).collect()), ps)
      assert(causedByArithmetic(PageRank.fixpointDistributed(
        pw, Some(seeds), k, columnarEdgeCache = false).collect()), ps)
    }
  }

  // ---- BPE --------------------------------------------------------------

  /** Words over a small alphabet with 2- and 3-byte UTF-8 letters and a
    * supplementary-plane one (UTF8-binary vs UTF-16 tie-break order).
    */
  private val wordsGen: Gen[Seq[String]] = for {
    n <- Gen.choose(1, 50)
    ws <- Gen.listOfN(n, Gen.choose(1, 5).flatMap(l =>
      Gen.listOfN(l, Gen.oneOf("a", "b", "n", "ñ", "日", "本", "😀"))
        .map(_.mkString)))
  } yield ws

  test("BPE: training and the q159 curve fold equal the distributed rounds") {
    def check(words: DataFrame, folds: Boolean, clue: Any): Unit = {
      val fast = BpeTrain.learnMerges(spark, words, k = 5)
      // the merge table is driver-built on both paths
      assert(isLocal(fast), clue)
      assertSame(fast, BpeTrain.learnMergesDistributed(spark, words, k = 5),
        clue)
      val rungs = Seq(0, 2, 5)
      val curve = BpeTrain.curveFast(spark, words, k = 5, rungs)
      assert(curve.isDefined == folds, clue)
      curve.foreach { c =>
        assert(isLocal(c), clue)
        assertSame(c, BpeTrain.curveDistributed(spark, words, k = 5, rungs),
          clue)
      }
    }
    forAllSeeded(wordsGen, n = 6) { ws => check(ws.toDF("w"), folds = true, ws) }
    check(Seq("banana").toDF("w"), folds = true, "one word")
    check(Seq("añejo", "日本語", "日本", "😀😀a").toDF("w"),
      folds = true, "non-ASCII")
    // empty corpus: learnMerges folds to zero merges; the curve declines
    check(Seq.empty[String].toDF("w"), folds = false, "empty")
    check(Seq("ab", "", "ab").toDF("w"), folds = false, "empty word")
    // a null word contributes nothing to training, also once a merge
    // applies; the curve declines it
    check(frame("w STRING", Seq(Row("a"), Row(null), Row("b"))),
      folds = false, "null word")
    val nullWord = frame("w STRING", Seq(Row("ab"), Row(null), Row("ba")))
    check(nullWord, folds = false, "null word, merges apply")
    // the q159 curve falls through to the distributed rungs, where the
    // null word contributes nothing too
    val rungs = Seq(0, 2, 5)
    assertSame(BpeTrain.curveDistributed(spark, nullWord, k = 5, rungs),
      BpeTrain.curveFast(spark, nullWord.where(col("w").isNotNull), k = 5,
        rungs).get, "null word, curve")
  }

  // ---- MMR --------------------------------------------------------------

  private def embeddings(vecs: Seq[(Long, Array[Double])]): DataFrame =
    vecs.toDF("vec_id", "v").withColumn("n2", squaredNorm(col("v")))

  private val embGen: Gen[Seq[(Long, Array[Double])]] = for {
    dim <- Gen.choose(2, 5)
    n <- Gen.choose(0, 25)
    vs <- Gen.listOfN(n + 1, Gen.listOfN(dim, Gen.choose(-1.0, 1.0)))
  } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }

  test("MMR: fold equals the distributed greedy rounds") {
    def check(frame: DataFrame, k: Int, clue: Any): Unit = {
      val fast = SelectionOps.mmrSelect(spark, frame, k)
      // the picks are driver-built on both paths
      assert(isLocal(fast), clue)
      assertSame(fast, SelectionOps.mmrSelectDistributed(spark, frame, k), clue)
    }
    forAllSeeded(Gen.zip(embGen, Gen.choose(1, 6)), n = 6) { case (vs, k) =>
      check(embeddings(vs), k, vs.map(_._2.toSeq))
    }
    check(embeddings(Seq.empty), 3, "empty")
    check(embeddings(Seq((0L, Array(1.0, 0.0)))), 3, "query only")
    check(embeddings(Seq((0L, Array(1.0, 0.0)), (0L, Array(0.0, 1.0)),
      (1L, Array(0.6, 0.8)))), 2, "two query rows")
    check(frame("vec_id BIGINT, v ARRAY<DOUBLE>, n2 DOUBLE", Seq(
      Row(0L, Seq(1.0, 0.0), 1.0), Row(1L, Seq(0.6, 0.8), 1.0),
      Row(null, Seq(0.0, 1.0), 1.0))), 2, "null id")
  }
}

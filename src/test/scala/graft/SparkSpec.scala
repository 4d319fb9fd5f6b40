package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

object SharedSpark {
  /** The factory's session on a fixed `local[8]`: the suite certifies
    * the settings and extensions every main runs.
    */
  lazy val spark: SparkSession = GraftSession.start(
    GraftSession.builder("graft-test", 8).master("local[8]"))

  /** THE fixture dir for the shared-session suites — SharedEndpoint
    * serves this same dir, so wire-vs-direct asserts compare like for
    * like; change it HERE only.
    */
  val sfDir = "/root/testdata/sf0.001"
}

/** Base for all suites: one shared session, sf0.001 fixture dir. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  val sfDir = SharedSpark.sfDir

  /** Raw-ScalaCheck driver: sample `n` deterministic values from `gen`. */
  protected def forAllSeeded[A](gen: Gen[A], n: Int = 30)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(a => body(a))
    }
}

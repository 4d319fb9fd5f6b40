package graft

import graft.streaming.MicroBatchFold
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TempDirBridge
import org.apache.spark.sql.streaming.StreamingQueryException

/** The micro-batch harness every file-per-trigger stream runs on: the
  * cost switch is set afresh on each batch's own clone and never on the
  * caller's session (also when the body throws), staged splits replay
  * one per batch in doc_id-range order, an empty corpus still drains as
  * one empty batch, and a staged work dir is deleted at JVM exit.
  */
class MicroBatchFoldSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Width = "spark.sql.shuffle.partitions"

  private def stage(tag: String, docs: DataFrame, nSplits: Int): String = {
    val work = java.nio.file.Files.createTempDirectory(tag).toString
    MicroBatchFold.stageSplits(spark, docs, s"$work/input", nSplits)
    work
  }

  private def ids(n: Long): DataFrame =
    spark.range(0, n, 1, 3).select(col("id").as("doc_id"),
      (col("id") * 7).as("v"))

  private def conf(s: SparkSession): (String, String) =
    (s.conf.get(Aqe), s.conf.get(Width))

  test("under the switch only the batch's own clone plans narrow") {
    val work = stage("mbf_narrow", ids(40), nSplits = 2)
    val input = s"$work/input"
    assert(MicroBatchFold.below(spark, input))
    val outer0 = conf(spark)

    // (batch session, outer conf, batch conf) as each batch saw them
    def drain(tag: String, narrow: () => Boolean) = {
      val seen = scala.collection.mutable.ArrayBuffer
        .empty[(SparkSession, (String, String), (String, String))]
      MicroBatchFold.run(spark, input, s"$work/$tag", narrow) { (batch, _) =>
        seen += ((batch.sparkSession, conf(spark), conf(batch.sparkSession)))
      }
      assert(seen.size == 2)
      seen.foreach { case (clone, outer, _) =>
        assert(!(clone eq spark), "foreachBatch should hand the body a cloned session")
        assert(outer == outer0)
      }
      seen.map(_._3).toSeq
    }
    assert(drain("wide", () => false) == Seq(outer0, outer0))
    val small = () => MicroBatchFold.below(spark, input)
    assert(drain("gated", small) == Seq(("false", "4"), ("false", "4")))
    // each batch sets the switch afresh: a wide batch after a narrow
    // one plans with the values the stream started with
    var first = true
    assert(drain("flip", () => { val n = first; first = false; n }) ==
      Seq(("false", "4"), outer0))
    assert(conf(spark) == outer0)

    val e = intercept[StreamingQueryException](
      MicroBatchFold.runInputGated(spark, input, s"$work/throws") { (batch, _) =>
        assert(conf(batch.sparkSession) == ("false", "4"))
        throw new IllegalStateException("body failed mid-batch")
      })
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("body failed mid-batch"))),
      s"query died for the wrong reason: $e")
    assert(conf(spark) == outer0)
  }

  test("staged splits arrive one per batch in doc_id-range order (batch i reads split i)") {
    val work = stage("mbf_order", ids(40), nSplits = 4)
    val staged = new java.io.File(s"$work/input").list()
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(staged == (0 until 4).map(i => f"split_$i%03d.parquet"))
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    MicroBatchFold.run(spark, s"$work/input", work, () => false) { (batch, batchId) =>
      batches += ((batchId,
        batch.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq))
    }
    assert(batches.map(_._1) == (0L until 4L))
    batches.foreach { case (i, got) =>
      assert(got == (i * 10 until i * 10 + 10), s"batch $i read the wrong split")
    }
  }

  test("an empty corpus stages one zero-row split and drains as one empty batch") {
    val work = stage("mbf_empty", ids(40).where(lit(false)), nSplits = 3)
    val staged = new java.io.File(s"$work/input").list()
      .filterNot(_.startsWith(".")).toSeq
    assert(staged == Seq("split_000.parquet"))
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    MicroBatchFold.run(spark, s"$work/input", work, () => false) { (batch, _) =>
      counts += batch.count()
    }
    assert(counts == Seq(0L))
    assert(MicroBatchFold.arrived(spark, s"$work/input").columns.toSeq ==
      Seq("doc_id", "v"))
  }

  test("a staged work dir is named by its tag and deleted at JVM exit") {
    val (inputDir, workDir) = MicroBatchFold.staged(spark, "mbf_staged",
      ids(20), nSplits = 2)((in, work) => (in, work))
    val dir = new java.io.File(workDir)
    assert(dir.getName.startsWith("mbf_staged"))
    assert(new java.io.File(inputDir).list().count(_.startsWith("split_")) == 2)
    assert(TempDirBridge.deletedAtExit(dir),
      s"$dir is not registered for deletion at JVM exit")
  }
}

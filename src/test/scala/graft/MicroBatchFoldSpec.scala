package graft

import graft.streaming.MicroBatchFold
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The micro-batch harness every file-per-trigger stream runs on: the
  * cost switch's narrow scope reaches both sessions a foreachBatch body
  * plans with and is undone after the drain (also when the body
  * throws), staged splits replay one per batch in doc_id-range order,
  * and an empty corpus still drains as one empty batch.
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

  test("under the switch a batch plans narrow on the outer and batch sessions; both restored, also on a throw") {
    val work = stage("mbf_narrow", ids(40), nSplits = 2)
    val input = s"$work/input"
    assert(MicroBatchFold.below(spark, input))
    val outer0 = conf(spark)
    // control: an unscoped drain shows what a batch clone plans with
    var clone0: (String, String) = null
    MicroBatchFold.run(spark, input, s"$work/control") { (batch, _) =>
      clone0 = conf(batch.sparkSession)
    }
    assert(clone0._2 == outer0._2)

    // (batch session, outer conf, batch conf) as each batch saw them
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(SparkSession, (String, String), (String, String))]
    MicroBatchFold.runInputGated(spark, input, s"$work/gated") { (batch, _) =>
      seen += ((batch.sparkSession, conf(spark), conf(batch.sparkSession)))
    }
    assert(seen.size == 2)
    seen.foreach { case (clone, outer, inBatch) =>
      assert(!(clone eq spark), "foreachBatch should hand the body a cloned session")
      assert(outer == ("false", "4"))
      assert(inBatch == ("false", "4"))
    }
    assert(conf(spark) == outer0)
    seen.foreach { case (clone, _, _) => assert(conf(clone) == clone0) }

    var thrower: SparkSession = null
    val e = intercept[StreamingQueryException](
      MicroBatchFold.runInputGated(spark, input, s"$work/throws") { (batch, _) =>
        thrower = batch.sparkSession
        assert(conf(batch.sparkSession) == ("false", "4"))
        throw new IllegalStateException("body failed mid-batch")
      })
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("body failed mid-batch"))),
      s"query died for the wrong reason: $e")
    assert(conf(spark) == outer0)
    assert(conf(thrower) == clone0)
  }

  test("staged splits arrive one per batch in doc_id-range order (batch i reads split i)") {
    val work = stage("mbf_order", ids(40), nSplits = 4)
    val staged = new java.io.File(s"$work/input").list()
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(staged == (0 until 4).map(i => f"split_$i%03d.parquet"))
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    MicroBatchFold.run(spark, s"$work/input", work) { (batch, batchId) =>
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
    MicroBatchFold.run(spark, s"$work/input", work) { (batch, _) =>
      counts += batch.count()
    }
    assert(counts == Seq(0L))
    assert(MicroBatchFold.arrived(spark, s"$work/input").columns.toSeq ==
      Seq("doc_id", "v"))
  }
}

package graft

/** Local twin of the driver's t1 smoke: run SparkEntry.entry and assert
  * rows > 0. `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start("graft-smoke")
    val rows = SparkEntry.entry(spark).collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    assert(rows.nonEmpty, "entry returned no rows")
    spark.stop()
  }
}

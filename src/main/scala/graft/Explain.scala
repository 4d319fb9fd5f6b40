package graft

/** Plan inspector: `sbt "runMain graft.Explain q08_revenue_by_nation"`
  * prints the formatted physical plan of one (or all) registered queries
  * against SPARK_GRAFT_SF_DIR — the review loop for pushdown, pruning,
  * broadcast and codegen checks.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.start("graft-explain")
    val names = if (args.nonEmpty) args.toSeq else queries.Registry.all.map(_.name)
    names.foreach { n =>
      println(s"\n======== $n ========")
      queries.Registry.byName(n).run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

package graft

/** Per-query profiling diagnostic (not part of the driver surface):
  * for each named query (or all), runs it twice on SPARK_GRAFT_SF_DIR
  * under the bench's exact session config (both take theirs from
  * [[GraftSession]]) and prints
  *
  *   name cold_s warm_s jobs stages tasks cpu_s shuffle_mb
  *     cmp_c cmp_w cms_c cms_w
  *
  * where jobs/stages/tasks/cpu/shuffle are the WARM run's listener
  * counts and cmp/cms are each run's codegen compiles and compile ms
  * ([[Compiles]] deltas; a warm run compiles only code its session and
  * every other session of the application have not compiled yet).
  * cold-warm ≈ codegen/JIT compile floor (not plan cost); a
  * warm run with many jobs/stages is latency-bound on scheduling
  * round-trips — the guide §1 "where is the time" split for this
  * local-mode bench. A name given N times is profiled N times in the
  * same session (`Profile q q q`): the steady-state repeat loop.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start("graft-profile")
    val names =
      if (args.nonEmpty) args.toSeq else queries.Registry.all.map(_.name)
    // same warmup as Bench so cold numbers are comparable to bench rows
    SparkEntry.queries.get("q01_orders_kpis")
      .foreach(fn => fn(spark, sfDir).collect())
    val c = new WorkListener(trace = sys.env.contains("SPARK_GRAFT_PROFILE_JOBS"))
    spark.sparkContext.addSparkListener(c)
    def drain(): Unit = { WorkListener.drain(spark.sparkContext); () }
    println(f"${"name"}%-42s ${"cold_s"}%7s ${"warm_s"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"cpu_s"}%7s ${"shf_mb"}%8s ${"cmp_c"}%5s ${"cmp_w"}%5s ${"cms_c"}%7s ${"cms_w"}%7s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      try {
        val (n0, ms0) = Compiles.now()
        val t0 = System.nanoTime()
        fn(spark, sfDir).collect()
        val cold = (System.nanoTime() - t0) / 1e9
        drain()
        val (n1, ms1) = Compiles.now()
        val j0 = c.jobs.get(); val s0 = c.stages.get(); val k0 = c.tasks.get()
        val cp0 = c.cpuNs.get(); val sh0 = c.shuffleBytes.get()
        val t1 = System.nanoTime()
        fn(spark, sfDir).collect()
        val warm = (System.nanoTime() - t1) / 1e9
        drain()
        val (n2, ms2) = Compiles.now()
        println(f"$n%-42s $cold%7.2f $warm%7.2f ${c.jobs.get() - j0}%5d ${c.stages.get() - s0}%5d ${c.tasks.get() - k0}%6d ${(c.cpuNs.get() - cp0) / 1e9}%7.2f ${(c.shuffleBytes.get() - sh0) / 1e6}%8.1f ${n1 - n0}%5d ${n2 - n1}%5d ${ms1 - ms0}%7.0f ${ms2 - ms1}%7.0f")
      } catch { case e: Throwable =>
        println(s"$n FAILED: $e")
      } finally GraftSession.releaseCached(spark)
    }
    spark.stop()
  }
}

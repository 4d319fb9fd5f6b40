package graft

/** Per-query profiling diagnostic (not part of the driver surface):
  * for each named query (or all), runs it twice on SPARK_GRAFT_SF_DIR
  * under the bench's exact session config (both take theirs from
  * [[GraftSession]]) and prints
  *
  *   name cold_s warm_s jobs stages tasks cpu_s shuffle_mb
  *
  * where jobs/stages/tasks/cpu/shuffle are the WARM run's listener
  * counts. cold-warm ≈ codegen/JIT compile floor (not plan cost); a
  * warm run with many jobs/stages is latency-bound on scheduling
  * round-trips — the guide §1 "where is the time" split for this
  * local-mode bench. A name given N times is profiled N times in the
  * same session (`Profile q q q`): the steady-state repeat loop.
  */
object Profile {
  private final class Counter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffle = new java.util.concurrent.atomic.AtomicLong(0)
    val trace = sys.env.contains("SPARK_GRAFT_PROFILE_JOBS")
    private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (trace) {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(j.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        t0.put(j.jobId, (j.time, desc))
        ()
      }
    }
    override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      if (trace) {
        val s = t0.remove(j.jobId)
        if (s != null)
          System.err.println(f"[job] ${j.jobId}%4d ${(j.time - s._1) / 1e3}%7.3fs  ${s._2.take(90)}")
      }
    }
    override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      if (trace) {
        val i = s.stageInfo
        val ms = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(-1L)
        System.err.println(f"[stage] ${i.stageId}%4d ${ms / 1e3}%7.3fs " +
          f"tasks=${i.numTasks}%3d  ${i.name.take(100)}")
      }
    }
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null && t.reason == org.apache.spark.Success) {
        cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
        shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start("graft-profile")
    val names =
      if (args.nonEmpty) args.toSeq else queries.Registry.all.map(_.name)
    // same warmup as Bench so cold numbers are comparable to bench rows
    SparkEntry.queries.get("q01_orders_kpis")
      .foreach(fn => fn(spark, sfDir).collect())
    val c = new Counter
    spark.sparkContext.addSparkListener(c)
    def drain(): Unit =
      try org.apache.spark.sql.graftbridge.ListenerBridge
        .waitUntilEmpty(spark.sparkContext, 30000L)
      catch { case _: java.util.concurrent.TimeoutException => () }
    println(f"${"name"}%-42s ${"cold_s"}%7s ${"warm_s"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"cpu_s"}%7s ${"shf_mb"}%8s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).collect()
        val cold = (System.nanoTime() - t0) / 1e9
        drain()
        val j0 = c.jobs.get(); val s0 = c.stages.get(); val k0 = c.tasks.get()
        val cp0 = c.cpuNs.get(); val sh0 = c.shuffle.get()
        val t1 = System.nanoTime()
        fn(spark, sfDir).collect()
        val warm = (System.nanoTime() - t1) / 1e9
        drain()
        println(f"$n%-42s $cold%7.2f $warm%7.2f ${c.jobs.get() - j0}%5d ${c.stages.get() - s0}%5d ${c.tasks.get() - k0}%6d ${(c.cpuNs.get() - cp0) / 1e9}%7.2f ${(c.shuffle.get() - sh0) / 1e6}%8.1f")
      } catch { case e: Throwable =>
        println(s"$n FAILED: $e")
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(
          _.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}

package graft

import java.sql.DriverManager

/** BI-endpoint soak AGAINST A CORPUS-RUNG GRAPH BUILD (round-11
  * verdict #7). GraphIsolationSpec proves the widened shuffle width
  * cannot leak into concurrent thrift plans on fixture data; what it
  * cannot prove is that the endpoint stays RESPONSIVE and EXACT while
  * a q130 corpus-rung build holds the shared SparkContext's block
  * manager, disk, and scheduler. This main measures exactly that:
  *
  *  1. mount the dashboard views on `endpointSf` and start the thrift
  *     endpoint; record every page's direct count first;
  *  2. launch q130 on `graphSf` (a scale rung — its fact size trips
  *     the wide path, so the build runs on an isolated fork);
  *  3. while it builds, 4 hive-jdbc clients sweep all 27 pages in
  *     rotation, checking wire == direct on every read and recording
  *     per-read latency;
  *  4. report: build seconds, sweeps completed, per-read latency
  *     median/p99/max during the build, zero-error + exactness
  *     verdict. Exit 1 on any wire mismatch, client error, empty
  *     graph answer, or a max latency above `maxLatencySec`.
  *
  * Scheduling: the r12 soak measured median 0.25 s but p99 14.1 s —
  * pure CPU contention, a FIFO scheduler letting the build's
  * 32-thread stages queue-starve the interactive reads. Two fixes,
  * both Spark's own answers to mixed workloads, not latency waivers:
  *
  *  1. FAIR scheduler mode with two pools — `serve` (weight 4,
  *     minShare half the cores: a page read gets slots the moment
  *     they free) and `build` (weight 1, the throughput job that
  *     absorbs whatever serve leaves idle). Thrift statements land in
  *     `serve` via `spark.sql.thriftserver.scheduler.pool` (a session
  *     DEFAULT, so the per-connection isolated sessions inherit it);
  *     the build thread pins itself to `build` with the thread-local
  *     scheduler property.
  *  2. FAIR is not preemptive — a serve task waits for a RUNNING
  *     build task to release a core, so the latency tail equals the
  *     build's task-duration tail (measured: p99 5.2 s with pools
  *     alone). The build's tasks are therefore kept fine-grained:
  *     16 MB scan splits (`files.maxPartitionBytes`) and a 4×-widened
  *     graph shuffle (`spark.graft.graph.minShuffleWidth`) bound each
  *     task to well under a second of work. This is the standard
  *     latency-vs-per-task-overhead trade a serving cluster makes;
  *     task-slot arithmetic is identical on a real cluster, nothing
  *     local-mode about it.
  *
  * Usage: `SoakGraphEndpoint <endpointSfDir> <graphSfDir>
  *         [maxLatencySec] [maxP99Sec] [spanSfDir]` (defaults: 60 s
  * hard bound per page read, 3 s p99 — the BI contract is
  * interactive-grade reads while the cluster crunches). When
  * `spanSfDir` is given, a SECOND build — the q101 span-dedup STREAM
  * on that rung — runs concurrently in the same low-priority pool
  * (r13 verdict stretch #8: the production worst case is never one
  * build; stream micro-batch jobs inherit the build pool because
  * Spark propagates the starting thread's local properties to the
  * stream execution thread). Latencies are profiled while ANY build
  * is in flight.
  */
object SoakGraphEndpoint {
  def main(args: Array[String]): Unit = {
    val endpointSf = args(0)
    val graphSf = args(1)
    val maxLatencySec = if (args.length > 2) args(2).toDouble else 60.0
    val maxP99Sec = if (args.length > 3) args(3).toDouble else 3.0
    val cpus = GraftSession.cpus
    // FAIR pools: serve gets a guaranteed minShare of half the cores
    // and 4× the weight of the build pool beyond it
    val poolsXml = java.nio.file.Files.createTempFile("graft-pools", ".xml")
    java.nio.file.Files.writeString(poolsXml,
      s"""<?xml version="1.0"?>
         |<allocations>
         |  <pool name="serve">
         |    <schedulingMode>FIFO</schedulingMode>
         |    <weight>4</weight>
         |    <minShare>${math.max(1, cpus * 3 / 4)}</minShare>
         |  </pool>
         |  <pool name="build">
         |    <schedulingMode>FIFO</schedulingMode>
         |    <weight>1</weight>
         |    <minShare>0</minShare>
         |  </pool>
         |</allocations>
         |""".stripMargin)
    // one temp file per soak run otherwise leaks (ADVICE r13)
    poolsXml.toFile.deleteOnExit()
    val spark = GraftSession.start(
      GraftSession.builder("graft-soak-graph-endpoint", cpus)
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", poolsXml.toString)
        .config("spark.sql.thriftserver.scheduler.pool", "serve")
        // fine-grained tasks (see Scaladoc #2): the non-preemptive tail
        .config("spark.sql.files.maxPartitionBytes", "16m")
        // widen the graph build's shuffle 4× past the fact-scaled width:
        // shorter tasks, faster core handoff to the serve pool
        .config("spark.graft.graph.minShuffleWidth", (cpus * 8).toString))

    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    server.SqlEndpoint.start(spark, endpointSf, port)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    def connect(): java.sql.Connection = {
      var conn: java.sql.Connection = null
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (conn == null) {
        try conn = DriverManager.getConnection(
          s"jdbc:hive2://localhost:$port/", "anonymous", "")
        catch {
          case e: Exception =>
            if (System.nanoTime() > deadline) throw e
            Thread.sleep(500)
        }
      }
      conn
    }

    val pages = server.SqlEndpoint.dashboardViews
    val direct = pages.map(n =>
      n -> spark.table(s"global_temp.$n").count()).toMap

    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val lats = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val sweeps = new java.util.concurrent.atomic.AtomicLong(0)
    // one graph build always; a second concurrent build (the span-dedup
    // STREAM) when a fifth argument names its rung
    val buildSpecs: Seq[(String, String)] =
      Seq("q130_pagerank" -> graphSf) ++
        (if (args.length > 4) Seq("q101_span_dedup_stream" -> args(4))
         else Nil)
    val remaining =
      new java.util.concurrent.atomic.AtomicInteger(buildSpecs.size)
    def buildDoneGet(): Boolean = remaining.get() == 0
    val buildRows =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val buildSecs =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    val builders = buildSpecs.map { case (qn, dir) =>
      new Thread(() => {
        // thread-local scheduler property: every job this thread submits
        // (and the AQE/broadcast sub-jobs that capture its properties)
        // lands in the low-priority build pool; a streaming query started
        // from this thread inherits it on its execution thread too
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "build")
        // each build gets its OWN isolated session with the shuffle
        // width widened 8x past the core count: FAIR is not preemptive,
        // so the serve tail equals the longest RUNNING build task — the
        // same fine-grained-tasks lever that bounded the single-build
        // p99 in r13, now applied to EVERY build's shuffles (the span
        // stream's gram stages, not just the graph build's). The serve
        // sessions keep their own width: the build plans on a fork, so
        // the widening cannot leak into page reads.
        val bs = GraftSession.fork(spark,
          "spark.sql.shuffle.partitions" -> (cpus * 4).toString)
        val t0 = System.nanoTime()
        try buildRows.put(qn,
          queries.Registry.byName(qn).run(bs, dir).count())
        catch { case t: Throwable => errs.add(s"build $qn: $t") }
        finally {
          buildSecs.put(qn, (System.nanoTime() - t0) / 1e9)
          remaining.decrementAndGet()
          ()
        }
      })
    }
    builders.foreach(_.start())

    val clients = (0 until 4).map { ci =>
      new Thread(() => {
        try {
          val c = connect()
          try {
            val st = c.createStatement()
            // each client starts at a rotated offset so the same view
            // is concurrently hit by several sessions
            val rotated = pages.drop(ci * 7 % pages.size) ++
              pages.take(ci * 7 % pages.size)
            while (!buildDoneGet()) {
              rotated.foreach { name =>
                val t0 = System.nanoTime()
                val rs = st.executeQuery(
                  s"SELECT count(*) AS n FROM global_temp.$name")
                if (!rs.next() || rs.getLong("n") != direct(name))
                  errs.add(s"client $ci: $name wire!=direct")
                // count a read toward the latency profile only while
                // a build is actually in flight
                if (!buildDoneGet())
                  lats.add((System.nanoTime() - t0) / 1e9)
              }
              sweeps.incrementAndGet()
            }
          } finally c.close()
        } catch { case t: Throwable => errs.add(s"client $ci: $t") }
      })
    }
    clients.foreach(_.start())
    builders.foreach(_.join())
    clients.foreach(_.join(600000))

    val ls = lats.toArray(Array.empty[java.lang.Double])
      .map(_.doubleValue).sorted
    def pct(p: Double): Double =
      if (ls.isEmpty) -1.0 else ls(math.min(ls.length - 1, (p * ls.length).toInt))
    val maxL = if (ls.isEmpty) -1.0 else ls.last
    buildSpecs.foreach { case (qn, dir) =>
      val sec = buildSecs.getOrDefault(qn, java.lang.Double.valueOf(-1.0))
        .doubleValue
      println(f"[soak] build $qn ($dir): $sec%.1f s, " +
        s"rows=${buildRows.getOrDefault(qn, -1L)}")
    }
    println(f"[soak] ${sweeps.get()} full 27-page sweeps during build; " +
      f"${ls.length} in-flight reads: median ${pct(0.5)}%.2f s, " +
      f"p99 ${pct(0.99)}%.2f s, max $maxL%.2f s")
    val latOk = ls.nonEmpty && maxL <= maxLatencySec && pct(0.99) <= maxP99Sec
    val rowsOk = buildSpecs.forall { case (qn, _) =>
      buildRows.getOrDefault(qn, -1L) > 0L
    }
    val ok = errs.isEmpty && rowsOk && latOk
    if (!ok) {
      println(s"[soak] FAIL: errs=${errs.toArray.mkString("; ")} " +
        s"rowsOk=$rowsOk reads=${ls.length} max=$maxL")
    } else println("[soak] PASS: zero errors, wire==direct on every read, " +
      s"latency bounded at $maxLatencySec s, p99 bounded at $maxP99Sec s")
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

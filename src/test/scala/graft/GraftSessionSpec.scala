package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one session factory: SPARK_GRAFT_CPUS parses to a positive core
  * count or fails naming the variable, the suite's shared session is
  * the factory's (its settings and its SQL functions), a fork starts
  * from its caller and never reaches back, every session shares one
  * executor class loader and so the code another session compiled, and
  * the log policy drops only the known-benign DAGScheduler warning.
  */
class GraftSessionSpec extends SparkSpec {

  private val isolation = "spark.sql.artifact.isolation.enabled"

  /** A statement of a few whole-stage classes that no other spec runs. */
  private def statement(s: SparkSession): Unit = {
    s.range(0, 2000, 1, 4).select((col("id") % 13).as("k"),
        (col("id") * 7).as("v"))
      .groupBy(col("k")).agg(sum(col("v")), max(col("v"))).collect()
    ()
  }

  test("SPARK_GRAFT_CPUS: unset means every processor, a positive integer is taken as is") {
    assert(GraftSession.parseCpus(None) ==
      Runtime.getRuntime.availableProcessors)
    assert(GraftSession.parseCpus(Some("6")) == 6)
  }

  test("SPARK_GRAFT_CPUS: zero and non-integers fail fast, naming the variable") {
    Seq("0", "x").foreach { v =>
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("the shared session carries the factory's settings and resolves its SQL functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == "4m")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sql("SELECT squared_norm(array(3D, 4D)) AS n")
      .collect()(0).getDouble(0) == 25.0)
  }

  test("fork: starts from the caller's conf, views and functions; nothing on it reaches back") {
    spark.conf.set("spark.graft.test.forkKey", "caller")
    spark.range(3).createOrReplaceTempView("graft_fork_caller_view")
    try {
      val fork = GraftSession.fork(spark, "spark.sql.shuffle.partitions" -> "3")
      assert(!(fork eq spark))
      assert(fork.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(fork.conf.get("spark.graft.test.forkKey") == "caller")
      assert(fork.table("graft_fork_caller_view").count() == 3)
      assert(fork.sql("SELECT squared_norm(array(3D, 4D))")
        .collect()(0).getDouble(0) == 25.0)
      fork.conf.set("spark.graft.test.forkKey", "fork")
      fork.range(2).createOrReplaceTempView("graft_fork_own_view")
      assert(spark.conf.get("spark.sql.shuffle.partitions") != "3")
      assert(spark.conf.get("spark.graft.test.forkKey") == "caller")
      assert(!spark.catalog.tableExists("graft_fork_own_view"))
    } finally {
      spark.conf.unset("spark.graft.test.forkKey")
      spark.catalog.dropTempView("graft_fork_caller_view")
    }
  }

  test("fork: a stream started on a fork reports to the caller's streaming listeners") {
    val progress = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.incrementAndGet(); ()
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val fork = GraftSession.fork(spark)
      val dir = java.nio.file.Files.createTempDirectory("graft_fork_stream")
      fork.range(5).write.mode("overwrite").parquet(s"$dir/in")
      val q = fork.readStream.schema(fork.read.parquet(s"$dir/in").schema)
        .parquet(s"$dir/in").writeStream.format("noop")
        .option("checkpointLocation", s"$dir/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (progress.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(progress.get() > 0, "the caller's listener saw no progress of the fork's stream")
    } finally spark.streams.removeListener(listener)
  }

  test("a stream row's fork leaves no streaming listener bus behind: the count stays flat over three q109 runs") {
    val q109 = graft.queries.Registry.byName("q109_cms_stream")
    val counts = (1 to 3).map { _ =>
      assert(q109.run(spark, sfDir).collect().nonEmpty)
      ListenerBridge.streamingBuses(spark.sparkContext)
    }
    info(s"streaming listener buses after each run: ${counts.mkString(", ")}")
    assert(counts.distinct.size == 1, counts)
  }

  test("shared code: a fork and a stream's batch body re-run their caller's statement with 0 whole-stage compiles") {
    val (_, first) = CodegenProbe.during(statement(spark))
    assert(first.wholeStage > 0, first)
    val (_, onFork) = CodegenProbe.during(statement(GraftSession.fork(spark)))
    val dir = java.nio.file.Files.createTempDirectory("graft_shared_code")
    spark.range(1).write.parquet(s"$dir/in")
    val inBatch = new java.util.concurrent.atomic.AtomicReference[CodegenProbe.Counts]()
    val q = spark.readStream.schema(spark.read.parquet(s"$dir/in").schema)
      .parquet(s"$dir/in").writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        inBatch.set(CodegenProbe.during(statement(b.sparkSession))._2)
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    info(s"compiles on the caller: $first, on a fork: $onFork, " +
      s"in a batch body: ${inBatch.get}")
    assert(onFork.wholeStage == 0, onFork)
    assert(inBatch.get != null && inBatch.get.wholeStage == 0, inBatch.get)
  }

  test("shared code: sessions made after the SQL endpoint started report isolation off") {
    SharedEndpoint.port
    assert(spark.conf.get(isolation) == "false")
    assert(spark.newSession().conf.get(isolation) == "false")
    assert(GraftSession.fork(spark).conf.get(isolation) == "false")
  }

  test("log policy: DAGScheduler drops the idle job-group-cancel WARN and keeps its others") {
    val dag = "org.apache.spark.scheduler.DAGScheduler"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-test-dag", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        seen.add(e.getMessage.getFormattedMessage); ()
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration.getLoggerConfig(dag)
    assert(config.getName == dag)
    config.addAppender(appender, null, null)
    ctx.updateLoggers()
    try {
      val log = LogManager.getLogger(dag)
      log.warn("Failed to cancel job group 5f1c. Cannot find active jobs for it.")
      log.warn("Broadcasting large task binary with size 1024.0 KiB")
      assert(seen.toArray.toSeq ==
        Seq("Broadcasting large task binary with size 1024.0 KiB"))
    } finally {
      config.removeAppender(appender.getName)
      ctx.updateLoggers()
    }
  }
}

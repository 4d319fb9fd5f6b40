package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.logging.log4j.core.filter.RegexFilter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.{DatasetBridge, ListenerBridge, SessionBridge}

/** The one place a graft session is built. Every main and the test
  * suite take their session from here, so the settings the suite
  * certifies are the settings every main runs, and the library's
  * strategies and SQL functions ([[graft.plans.GraftExtensions]]) are
  * installed everywhere, the SQL endpoint included.
  *
  * Environment:
  *   - SPARK_GRAFT_CPUS: local cores and shuffle width (default: every
  *     available processor);
  *   - SPARK_GRAFT_MASTER: overrides `local[cpus]`, e.g.
  *     `local-cluster[n,c,mem]` runs the same code against real executor
  *     JVMs (Netty shuffle, torrent broadcast, serialized closures);
  *   - SPARK_GRAFT_JARS / SPARK_GRAFT_EXEC_MEM: the engine jar shipped
  *     to those executors, and their heap.
  */
object GraftSession {

  /** SPARK_GRAFT_CPUS as a core count: unset means every available
    * processor; anything but a positive integer fails here, naming the
    * variable, rather than as a master-URL parse error inside Spark.
    */
  def parseCpus(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** The session every main runs: a caller that needs a further static
    * conf adds it on the returned builder and passes that to [[start]].
    */
  def builder(app: String, cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(app)
    sys.env.get("SPARK_GRAFT_JARS").foreach(j => b.config("spark.jars", j))
    sys.env.get("SPARK_GRAFT_EXEC_MEM")
      .foreach(m => b.config("spark.executor.memory", m))
    b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // fixture files are single small parquets; split finer so scans use
      // the cores (a real cluster with 128MB+ files keeps the default)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // reclaim shuffle files of GC'd stages promptly: iterative jobs
      // (PageRank rounds at the sf100 rung) otherwise accumulate every
      // round's shuffle on disk until the default 30-min periodic GC —
      // measured as a disk-full crash at 1.17B edges
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
  }

  def start(app: String): SparkSession = start(builder(app, cpus))

  /** Build `b`, [[shareCompiledCode]] on it and apply the one log
    * policy: WARN, with known-benign warnings raised to ERROR so they
    * cannot bury real signals:
    *   - org.apache.spark.rdd: released rank/edge snapshots warn about
    *     truncated lineage on every unpersist (retired checkpoints are
    *     never re-read);
    *   - WindowExec: "No Partition Defined for Window operation", from
    *     global windows whose inputs are provably small aggregates;
    *   - ResolveWriteToStream: the temporary-checkpoint notice of
    *     streams.
    * DAGScheduler keeps WARN for its real signals (large task binaries)
    * but drops "Failed to cancel job group … Cannot find active jobs":
    * the thrift server and `StreamingQuery.stop` cancel their job group
    * whether or not a job still runs.
    */
  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    shareCompiledCode(spark)
    spark.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.rdd",
      "org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream")
      .foreach(Configurator.setLevel(_, Level.ERROR))
    val dag = "org.apache.spark.scheduler.DAGScheduler"
    Configurator.setLevel(dag, Level.WARN)
    val dagLog = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getConfiguration.getLoggerConfig(dag)
    if (!dagLog.hasFilter) dagLog.addFilter(RegexFilter.createFilter(
      "Failed to cancel job group .*\\. Cannot find active jobs for it\\.",
      Array.empty[String], false, Filter.Result.DENY, Filter.Result.NEUTRAL))
    spark
  }

  /** One executor class loader for every session of `spark`'s
    * application. Spark 4.1 gives each session its own loader
    * (`spark.sql.artifact.isolation.enabled`, default true) and caches
    * compiled code per (loader, source), so each fork, each stream's
    * batch clone and each thrift connection would compile again every
    * whole-stage class another session had already compiled. Turned off
    * on `spark`, whose forks, clones and stream batch clones inherit
    * its runtime conf, and on its shared state's conf, which seeds
    * every session `newSession()` makes later (the thrift server's per
    * connection). Sessions still keep their own conf and temp views;
    * what they share is compiled code and added artifacts (`ADD JAR`).
    */
  def shareCompiledCode(spark: SparkSession): Unit = {
    val isolation = "spark.sql.artifact.isolation.enabled"
    spark.conf.set(isolation, "false")
    SessionBridge.seedNewSessions(spark, isolation, "false")
  }

  /** A clone of `spark` with `kvs` set: the caller's runtime conf, temp
    * views, functions and streaming listeners, on its SparkContext and
    * catalog. Nothing done on the fork reaches the caller, whose session
    * may be planning other queries meanwhile (the SQL endpoint plans
    * client queries on it). The one way to plan with another conf.
    */
  def fork(spark: SparkSession, kvs: (String, String)*): SparkSession = {
    val f = SessionBridge.cloneSession(spark)
    set(f, kvs: _*)
    spark.streams.listListeners().foreach(l => f.streams.addListener(l))
    f
  }

  /** `body` on a [[fork]] of `spark` that starts streams. Spark keeps
    * the streaming listener bus of each session that started a stream on
    * the SparkContext's listener bus for the life of the JVM, where every
    * later event is dispatched to it; once `body` returns, and its
    * streams have stopped, the fork's bus is taken off.
    */
  def streamingFork[A](spark: SparkSession, kvs: (String, String)*)
                      (body: SparkSession => A): A = {
    val f = fork(spark, kvs: _*)
    try body(f) finally ListenerBridge.dropStreamingBus(f)
  }

  /** Drop every cached table and persisted RDD of `spark`'s application,
    * after each query of a run of independent ones. localCheckpoint
    * blocks (PageRank rounds, stream stores) stay pinned for the session
    * otherwise, and each query's blocks shrink the execution pool the
    * next one aggregates in: at sf10 the blocks of 12 earlier queries
    * starved q130's hash aggregation into AGGREGATE_OUT_OF_MEMORY.
    */
  def releaseCached(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(
      _.unpersist(blocking = false))
  }

  /** `df` as a frame of `spark`: a fork's result handed back to its
    * caller, so its lazy tail plans with the caller's conf, not the
    * fork's.
    */
  def on(spark: SparkSession, df: DataFrame): DataFrame =
    DatasetBridge.ofRows(spark, DatasetBridge.analyzed(df))

  /** Set `kvs` on `owned`, a session nothing else plans on: a fork, or
    * the clone a running stream hands its foreachBatch body.
    */
  private[graft] def set(owned: SparkSession, kvs: (String, String)*): Unit =
    kvs.foreach { case (k, v) => owned.conf.set(k, v) }
}

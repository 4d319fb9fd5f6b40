package graft.server

import graft.{GraftSession, Tables}
import graft.pipeline.{Extract, Transform}
import graft.plans.{GraftExtensions, SingleSplitPlans}
import graft.queries.PipelineOps
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.functions._
import org.apache.hive.service.server.HiveServer2
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

/** The engine's BI surface. The reference serves Power BI over JDBC from
  * SQL Server tables `job_data` / `job_skills` / `job_summary`
  * (`load_sqlserver.py:15-16`, `README.md:129`); here Spark's own
  * HiveThriftServer2 IS that endpoint: `startWithSparkSession` mounts the
  * live session on the HiveServer2 wire protocol, so any JDBC/ODBC client
  * (Power BI, beeline, DBeaver) queries the engine's views directly — no
  * nightly copy into an external store, and every client query plans
  * through Catalyst against the full cluster. Views are LAZY: mounting
  * them costs nothing until a client selects from them, and each select
  * re-plans against the current data (filter pushdown and column pruning
  * reach the parquet scans exactly as in the batch paths).
  *
  * Connections share compiled code, not conf: [[start]] puts every
  * session of the application on one executor class loader
  * ([[GraftSession.shareCompiledCode]]), so a statement one
  * connection has run compiles no whole-stage code when another runs
  * it, while each connection keeps its own conf and temp views. A jar
  * one client adds (`ADD JAR`) is visible to all, as it is under
  * SqlServerMain's singleSession; the engine itself adds none.
  *
  * Statements plan for their size: one whose inputs together fit in
  * one scan split (`spark.sql.files.maxPartitionBytes`) plans as one
  * partition and runs as one job ([[SingleSplitPlans]]); its `EXPLAIN`
  * shows `Coalesce 1` where a larger input gets an `Exchange`. Only
  * the sessions the endpoint serves plan this way ([[servedSession]]):
  * the session handed to [[start]], its forks and its streams keep
  * their exchanges.
  *
  * Launch: `sbt "runMain graft.SqlServerMain <sfDir> [port]"` (default
  * port 10000), then connect any HiveServer2 client to
  * `jdbc:hive2://localhost:<port>`. SqlEndpointSpec drives the full wire
  * path in-process with the hive-jdbc driver.
  */
object SqlEndpoint {

  val BaseTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Mount the SQL surface on `spark`: every fixture base table under its
    * own name, plus the reference's three BI-side logical tables derived
    * live from the extract→transform chain:
    *  - `job_data`: the transformed fact frame (one row per posting);
    *  - `job_skills`: postings exploded to one row per technical skill;
    *  - `job_summary`: the q55-shaped aggregate (type × site KPIs).
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    // each view lands twice: a session temp view (plain names — what a
    // BI client sees when the server runs with
    // spark.sql.hive.thriftServer.singleSession=true, as SqlServerMain
    // sets), and a GLOBAL temp view (`global_temp.<name>`) that stays
    // visible to the per-connection isolated sessions the thrift server
    // otherwise creates (singleSession is a STATIC conf — it cannot be
    // turned on for an already-running session, e.g. the test JVM's)
    def mount(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.createOrReplaceTempView(name)
      df.createOrReplaceGlobalTempView(name)
    }
    BaseTables.foreach(n => mount(Tables.load(spark, sfDir, n), n))
    val raw = PipelineOps.rawPostings(spark, sfDir)
    val jobData = Transform.transform(
      Extract.run(
        kaggle = raw,
        huggingFace = raw.where(lit(false)),
        runDate = "2025-10-21",
        descriptionCol = Some("description"))
        .withColumn("__ingest_id", xxhash64(col("job_title"))))
    mount(jobData, "job_data")
    mount(jobData
      .select(col("job_title"), col("company_name"), col("job_type"),
        explode(split(col("technical_skills"), ",\\s*")).as("skill"))
      .where(col("skill") =!= "" && col("skill") =!= "not listed"),
      "job_skills")
    mount(jobData
      .groupBy(col("job_type"), col("job_posted_site"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("company_name")).as("n_companies"),
        round(sum(col("salary")), 2).as("sum_salary")),
      "job_summary")
    // The reference's 27-query dashboard inventory (SURVEY §2.10) as
    // named endpoint views: a BI tool pointed at the thrift port
    // reproduces every dashboard page with
    // `SELECT * FROM global_temp.q07_daily_by_status` etc. The q01–q27
    // builders are pure declarative plans (no driver-side steps), so
    // mounting costs nothing until a client selects — each select then
    // re-plans against the current data like the batch paths.
    dashboardViews.foreach(n =>
      mount(graft.SparkEntry.queries(n)(spark, sfDir), n))
  }

  /** The dashboard-page registry rows mounted by [[registerViews]]:
    * exactly the q01–q27 inventory (lazily-planable by construction —
    * anything with driver-side steps, streams, or stores stays off the
    * serving surface).
    */
  def dashboardViews: Seq[String] =
    graft.SparkEntry.queries.keys
      .filter(_.matches("q(0[1-9]|1[0-9]|2[0-7])_.*")).toSeq.sorted

  /** Share compiled code across sessions, register the views and start
    * the HiveServer2 endpoint on `port`, serving [[servedSession]] of
    * `spark`.
    * Returns the server handle (call `.stop()` to shut down; typed as
    * the public hive superclass — Spark's subclass is package-private).
    * The port and bind host go through the session's hadoop conf — that
    * is the HiveConf `startWithSparkSession` initializes the service
    * from.
    */
  def start(spark: SparkSession, sfDir: String,
            port: Int = 10000): HiveServer2 = {
    GraftSession.shareCompiledCode(spark)
    registerViews(spark, sfDir)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("hive.server2.thrift.port", port.toString)
    hc.set("hive.server2.thrift.bind.host", "localhost")
    HiveThriftServer2.startWithSparkSession(servedSession(spark),
      exitOnError = false)
  }

  /** The session the endpoint serves: a clone of `spark` (its conf,
    * views and functions, on its SparkContext and shared state) with
    * extensions of its own, [[GraftExtensions]] plus [[SingleSplitPlans]].
    * The thrift server runs statements on it under singleSession and on
    * its `newSession()` per connection otherwise, and both plan with
    * those extensions. `spark`'s extensions are shared by every later
    * clone of it, so the rule there would reach the engine's own plans.
    */
  private def servedSession(spark: SparkSession): SparkSession = {
    val extensions = new SparkSessionExtensions
    new GraftExtensions()(extensions)
    extensions.injectQueryPostPlannerStrategyRule(_ => SingleSplitPlans)
    SessionBridge.cloneWithExtensions(spark, extensions)
  }
}

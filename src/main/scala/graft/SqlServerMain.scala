package graft

/** Long-lived SQL endpoint main: mounts the engine's views (base tables +
  * job_data / job_skills / job_summary) on a HiveServer2 thrift socket
  * and blocks until killed. The BI-lifecycle analogue of the reference's
  * SQL Server serving layer — see [[graft.server.SqlEndpoint]].
  *
  * Usage: sbt "runMain graft.SqlServerMain /root/testdata/sf0.01 10000"
  * Client: any HiveServer2 JDBC/ODBC client at jdbc:hive2://localhost:10000
  */
object SqlServerMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val port = args.lift(1).map(_.toInt).getOrElse(10000)
    // one shared catalog for every JDBC connection: clients address the
    // views by their plain names (static conf — must be set before the
    // session exists)
    val spark = GraftSession.start(
      GraftSession.builder("graft-sql-endpoint", GraftSession.cpus)
        .config("spark.sql.hive.thriftServer.singleSession", "true"))
    graft.server.SqlEndpoint.start(spark, sfDir, port)
    System.err.println(
      s"graft SQL endpoint up: jdbc:hive2://localhost:$port (sf=$sfDir)")
    Thread.currentThread.join() // serve until the process is killed
  }
}

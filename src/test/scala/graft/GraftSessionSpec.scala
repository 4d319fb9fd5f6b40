package graft

/** The one session factory: SPARK_GRAFT_CPUS parses to a positive core
  * count or fails naming the variable, and the suite's shared session
  * is the factory's (its settings and its SQL functions).
  */
class GraftSessionSpec extends SparkSpec {

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
}

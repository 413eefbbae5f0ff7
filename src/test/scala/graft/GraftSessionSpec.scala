package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory: `SPARK_GRAFT_CPUS` parsing and the confs every
  * session it builds carries. */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset is 4, a positive integer is taken as is") {
    assert(GraftSession.parseCpus(None) == 4)
    assert(GraftSession.parseCpus(Some("8")) == 8)
  }

  test("SPARK_GRAFT_CPUS: anything but a positive integer is an error " +
    "naming the variable") {
    for (bad <- Seq("0", "*", "x", "-2", "")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("the test session is local[4] with the factory's confs") {
    val spark = TestSpark.session
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.getConf
      .get("spark.cleaner.periodicGC.interval") == "60s")
  }
}

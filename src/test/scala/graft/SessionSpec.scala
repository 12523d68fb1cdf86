package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {
  private def conf(kv: (String, String)*) =
    kv.foldLeft(new SparkConf(loadDefaults = false)) { case (c, (k, v)) => c.set(k, v) }

  test("SPARK_GRAFT_CPUS sets cores and the local master") {
    assert(Session.resolve(Map("SPARK_GRAFT_CPUS" -> "3"), conf()) ==
      Session.Resolved("local[3]", 3))
  }

  test("without SPARK_GRAFT_CPUS, cores are the available processors") {
    val n = Runtime.getRuntime.availableProcessors
    assert(Session.resolve(Map.empty, conf()) == Session.Resolved(s"local[$n]", n))
  }

  test("a non-numeric or non-positive SPARK_GRAFT_CPUS fails naming the variable") {
    for (bad <- Seq("many", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](
        Session.resolve(Map("SPARK_GRAFT_CPUS" -> bad), conf()))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("a configured spark.master is kept") {
    assert(Session.resolve(Map("SPARK_GRAFT_CPUS" -> "2"), conf("spark.master" -> "yarn")) ==
      Session.Resolved("yarn", 2))
  }
}

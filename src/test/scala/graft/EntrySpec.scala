package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class EntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("all queries run non-empty on sf0.001") {
    for ((name, fn) <- SparkEntry.queries) {
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
      if (!Set("q10_anti_join").contains(name)) // anti join may legitimately be empty
        assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("window dedup keeps exactly one row per customer") {
    val df = SparkEntry.queries("q08_window_dedup")(spark, sf)
    assert(df.count() == df.select("o_custkey").distinct().count())
  }

  test("closure contains two-hop ancestors") {
    val df = SparkEntry.queries("q13_closure")(spark, sf).collect()
    val pairs = df.map(r => (r.getString(0), r.getString(1))).toSet
    // every customer must reach both a nation and a region
    val custs = pairs.collect { case (c, _) if c.startsWith("c") => c }
    assert(custs.nonEmpty)
    for (c <- custs.take(20)) {
      assert(pairs.exists { case (ch, an) => ch == c && an.startsWith("n") })
      assert(pairs.exists { case (ch, an) => ch == c && an.startsWith("r") })
    }
  }

  test("QueryProfile.profile writes a plan per query, records jobs and leaves the session running") {
    val out = java.nio.file.Files.createTempDirectory("graft-qprof")
    val names = Seq("q01_union_project", "entry")
    val jobs = graft.tools.QueryProfile.profile(spark, sf, out.toString, names)
    for (n <- names) {
      assert(java.nio.file.Files.readString(out.resolve(s"$n.txt")).contains("== Physical Plan =="), n)
      assert(jobs(n) >= 1, n)
    }
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }

  test("exact dedup partitions the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    val dedup = SparkEntry.queries("q20_exact_dedup")(spark, sf)
    import org.apache.spark.sql.functions._
    val total = dedup.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == docs)
  }
}

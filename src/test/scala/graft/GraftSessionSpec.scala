package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the test session's settings, which come from `GraftSession.local(4)`,
  * and the launch values every main parses before it builds a session.
  */
class GraftSessionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("the test session is local[4] with 4 shuffle partitions, UTC and no UI") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("the test session's warehouse is per process under /tmp") {
    val pid = ProcessHandle.current().pid()
    val dir = spark.conf.get("spark.sql.warehouse.dir")
    assert(dir.stripPrefix("file:") == s"/tmp/graft-warehouse-$pid", dir)
  }

  test("GraftExtensions is wired: cosine_sim resolves") {
    val c = spark.sql("SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("the factory leaves the parquet timestamp output type at Spark's default") {
    assert(!spark.conf.getAll.contains("spark.sql.parquet.outputTimestampType"))
  }

  test("a bad launch value fails naming the key and the value") {
    val launchValues: Seq[(String, String => Int)] = Seq(
      "SPARK_GRAFT_CPUS" -> (v => GraftSession.cores(32, Map("SPARK_GRAFT_CPUS" -> v))),
      "SPARK_GRAFT_BENCH_REPS" -> (v => Bench.timedPasses(Map("SPARK_GRAFT_BENCH_REPS" -> v))),
      "factor" -> (v => tools.ScaleUp.replicas(v)))
    for ((key, parse) <- launchValues; bad <- Seq("0", "-2", "abc", "1.5")) {
      val e = intercept[IllegalArgumentException](parse(bad))
      assert(e.getMessage.contains(s"'$key'") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    for ((_, parse) <- launchValues) assert(parse(" 7 ") == 7)
    assert(GraftSession.cores(4, Map.empty) == 4)
    assert(GraftSession.cores(32, Map.empty) == 32)
    assert(Bench.timedPasses(Map.empty) == 3)
  }
}

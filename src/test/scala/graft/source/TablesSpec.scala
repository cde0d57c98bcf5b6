package graft.source

import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.{ExecutedPlans, SparkTestSession}

/** [[Tables.load]]'s schema catalog: a repeated load of an unchanged
  * table runs no Spark job, its schema is the one `spark.read.parquet`
  * infers, and a table rewritten in place is inferred again.
  */
class TablesSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-tables").toString

  test("a second load of an unchanged table runs no Spark job") {
    val dir = tempDir()
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = ExecutedPlans.jobsOf(spark)(Tables.load(spark, dir, "t"))
    assert(firstJobs === 1, "the first load infers the schema")
    val (second, secondJobs) = ExecutedPlans.jobsOf(spark)(Tables.load(spark, dir, "t"))
    assert(secondJobs === 0)
    assert(second.schema === first.schema)
    assert(second.count() === 10L)
  }

  test("the cached schema equals spark.read.parquet's inferred schema") {
    val dir = tempDir()
    spark.range(5).selectExpr("id", "CAST(id AS INT) AS i", "id / 3.0D AS d",
        "CAST(NULL AS STRING) AS s", "array(CAST(id AS FLOAT)) AS v",
        "named_struct('k', id, 't', timestamp_micros(id)) AS st",
        "CAST(id AS DECIMAL(12, 2)) AS dec", "date_from_unix_date(CAST(id AS INT)) AS day")
      .write.parquet(s"$dir/t.parquet")
    Tables.load(spark, dir, "t")
    assert(Tables.load(spark, dir, "t").schema === spark.read.parquet(s"$dir/t.parquet").schema)
  }

  test("a table overwritten in place with other columns is inferred again") {
    val dir = tempDir()
    spark.range(3).selectExpr("id AS a", "CAST(id AS STRING) AS b")
      .write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a", "b"))
    spark.range(4).selectExpr("CAST(id AS DOUBLE) AS x", "id * 2 AS y", "'z' AS z")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq === Seq("x", "y", "z"))
    assert(again.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(again.selectExpr("sum(y)").head().getLong(0) === 12L)
  }

  test("a second Tables.events call keeps ts a TimestampType and runs no job") {
    val dir = tempDir()
    // TIMESTAMP(MICROS) without UTC adjustment, one of the ts variants
    // `events` normalizes
    spark.range(3).selectExpr("id AS event_id", "CAST(timestamp_micros(id) AS TIMESTAMP_NTZ) AS ts")
      .write.parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
    val (ev, jobs) = ExecutedPlans.jobsOf(spark)(Tables.events(spark, dir))
    assert(jobs === 0)
    assert(ev.schema("ts").dataType === TimestampType)
  }
}

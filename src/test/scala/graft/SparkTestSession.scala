package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test run (forked JVM). A fixed
  * `local[4]` with 4 shuffle partitions, not `SPARK_GRAFT_CPUS`: 6-row test
  * jobs must not pay one task per host core on every stage.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its registry name, the Spark plan over a table
  * directory, and the DuckDB twin the driver compares it against (same
  * column names, same deterministic ORDER BY). Each query module lists its
  * queries once, in its `all`; [[SparkEntry]] merges the modules.
  */
final case class Query(name: String, plan: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Query {

  /** `queries` keyed by name. A name declared twice fails here, naming it,
    * where a map merge would keep one of the two silently.
    */
  def byName(queries: Seq[Query]): Map[String, Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }
}

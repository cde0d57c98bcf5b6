package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.diff.Reconcile

/** JDBC target-snapshot reader — the reference's O4
  * (`src/main.rs:49-75`: `SELECT id pk_id, resource::text FROM {table}`,
  * then per-row JSON parse into a driver BTreeMap).
  *
  * Two scale fixes over the reference, both server/executor-side:
  *
  *  1. **Key-only pushed projection.** The reference transfers every full
  *     JSONB payload just to read two fields out of it. Here the JSON
  *     field access runs inside PostgreSQL via a `dbtable` subquery
  *     (`resource->>'id'`, `resource#>>'{meta,versionId}'`), so only
  *     `(pk_id, resource_id, version_text)` ever crosses the wire —
  *     bytes transferred drop from O(corpus) to O(rows × key width).
  *  2. **Ranged partitioned read.** `partitionColumn=pk_id` over the
  *     SERIAL key splits the scan into `numPartitions` concurrent range
  *     queries, one per executor task — no driver materialization, no
  *     single-connection bottleneck, no BTreeMap memory ceiling.
  *
  * Validity semantics match the reference's skip rules
  * (`src/main.rs:60-72`): rows lacking `id` or `meta.versionId` are
  * filtered in the pushed subquery (never transferred); rows whose
  * versionId fails to parse as a long are nulled by `try_cast` and
  * dropped Spark-side (PostgreSQL has no safe cast, and an ANSI
  * `::bigint` would abort the whole scan on one bad row where the
  * reference skips it).
  */
object Snapshot {

  /** The pushed key-only projection subquery used as the JDBC `dbtable`.
    * PostgreSQL evaluates the JSON operators; the JSONB payload never
    * leaves the database.
    */
  def snapshotQuery(table: String): String =
    s"(SELECT id AS pk_id, " +
      s"resource->>'id' AS resource_id, " +
      s"resource#>>'{meta,versionId}' AS version_text " +
      s"FROM $table " +
      s"WHERE resource->>'id' IS NOT NULL " +
      s"AND resource#>>'{meta,versionId}' IS NOT NULL) AS ${table}_versions"

  /** Driver-side bounds probe for the ranged read (two longs transferred). */
  def boundsQuery(table: String): String =
    s"SELECT min(id) AS lo, max(id) AS hi FROM $table"

  /** Full JDBC reader option map — pure, so the generated read plan is
    * unit-testable without a database.
    */
  def readerOptions(url: String, table: String, user: String, password: String,
                    numPartitions: Int, lowerBound: Long, upperBound: Long): Map[String, String] = Map(
    "url" -> url,
    "dbtable" -> snapshotQuery(table),
    "user" -> user,
    "password" -> password,
    "partitionColumn" -> "pk_id",
    "lowerBound" -> lowerBound.toString,
    // Spark requires lowerBound < upperBound; an empty/1-row table still
    // gets a valid single-range plan this way.
    "upperBound" -> math.max(upperBound, lowerBound + 1).toString,
    "numPartitions" -> numPartitions.toString,
    "fetchsize" -> "5000")

  /** Spark-side finalization shared by the JDBC path and tests: parse the
    * version text leniently and drop rows the reference would skip.
    */
  def fromRaw(raw: DataFrame): DataFrame =
    Reconcile.validOnly(raw.select(
      col("pk_id").cast("int").as("pk_id"),
      col("resource_id"),
      col("version_text").try_cast("long").as("version_id")))

  /** Read one mirror table's `(pk_id, resource_id, version_id)` snapshot.
    * `bounds` is the (min, max) of the SERIAL pk — from [[boundsQuery]] via
    * any JDBC connection (injected so tests need no database).
    */
  def read(spark: SparkSession, url: String, table: String,
           user: String, password: String,
           numPartitions: Int, bounds: (Long, Long)): DataFrame =
    fromRaw(
      spark.read.format("jdbc")
        .options(readerOptions(url, table, user, password,
          numPartitions, bounds._1, bounds._2))
        .load())

  /** Run [[boundsQuery]] over a plain JDBC connection (production path). */
  def jdbcBounds(url: String, user: String, password: String)(table: String): (Long, Long) = {
    val conn = java.sql.DriverManager.getConnection(url, user, password)
    try {
      val rs = conn.createStatement().executeQuery(boundsQuery(table))
      rs.next()
      val lo = rs.getLong("lo")
      val hi = rs.getLong("hi")
      // NULL min/max (empty table) read back as 0 — a valid degenerate range
      (lo, hi)
    } finally conn.close()
  }

  /** Concurrent range queries per production snapshot read. */
  val NumPartitions = 10

  /** Snapshot factory for the sync pipeline: table name → snapshot DF. */
  def forJdbc(spark: SparkSession, url: String, user: String,
              password: String): String => DataFrame = { table =>
    read(spark, url, table, user, password, NumPartitions,
      jdbcBounds(url, user, password)(table))
  }
}

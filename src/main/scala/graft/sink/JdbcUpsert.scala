package graft.sink

/** Statement text and DDL for the JDBC mirror tables: the reference's
  * three write statements (O7 UPDATE `src/main.rs:78-97`, O8 INSERT
  * `src/main.rs:100-117`, O9 DELETE `src/main.rs:120-138`) and its DDL
  * (O14 `src/db_utils.rs:84-144`). The one write path that issues them is
  * the `graft-jdbc-upsert` DSv2 sink ([[graft.sink.v2.JdbcUpsertProvider]]).
  *
  * Design:
  *  - Text generation is pure: a [[Dialect]] maps a batch of rows to one
  *    statement string, so quoting and statement shape are unit-tested
  *    without a database, and the sink's connector owns the transport.
  *  - One statement per batch of up to `batchsize` rows (reference
  *    default 10 000, [[DefaultBatchSize]], `src/main.rs:359`).
  *  - Idempotence contract preserved (SURVEY.md §7.4): the diff is
  *    self-healing on re-run, so partial failure needs no 2PC — re-running
  *    the sync converges (reference behaves identically).
  *  - Dollar-quoting: the reference wraps JSON in `$$...$$`
  *    (`src/main.rs:82,104`); we extend the tag until the payload cannot
  *    break the quoting ([[dollarQuote]]).
  *  - DDL: [[ddl]] is the reference's PostgreSQL schema verbatim;
  *    [[Ansi.ddl]] is its Derby twin for the real-JDBC e2e suite.
  */
object JdbcUpsert {

  val DefaultBatchSize = 10000

  /** Statement-text dialect. [[Postgres]] is the reference's verbatim
    * syntax (dollar-quoting, `::jsonb`, inline-VALUES UPDATE join);
    * [[Ansi]] is standard-SQL text (doubled-quote string literals,
    * CASE-based UPDATE) that embedded Derby — the one real JDBC engine
    * on the Spark classpath — executes, so the e2e suite can drive the
    * ACTUAL sink writers over a genuine driver (`DerbyE2ESpec`).
    */
  sealed trait Dialect {
    def insertSql(table: String, resources: Seq[String]): String
    def updateSql(table: String, items: Seq[(Int, String)]): String
    def deleteSql(table: String, ids: Seq[Int]): String =
      s"DELETE FROM $table WHERE id IN (${ids.mkString(", ")})"
  }

  /** INSERT `INSERT INTO {t} (resource) VALUES ($$json$$), …`
    * (`src/main.rs:107-111`); UPDATE an inline-VALUES inner join
    * (`src/main.rs:85-90`); DELETE `… WHERE id IN (…)`
    * (`src/main.rs:127-131`).
    */
  case object Postgres extends Dialect {
    def insertSql(table: String, resources: Seq[String]): String =
      s"INSERT INTO $table (resource) VALUES " +
        resources.map(r => s"(${dollarQuote(r)})").mkString(", ")
    def updateSql(table: String, items: Seq[(Int, String)]): String =
      s"UPDATE $table SET resource = data.resource::jsonb FROM (VALUES " +
        items.map { case (id, r) => s"($id, ${dollarQuote(r)})" }.mkString(", ") +
        s") AS data(id, resource) WHERE data.id = $table.id"
  }

  case object Ansi extends Dialect {
    private def q(s: String): String = "'" + s.replace("'", "''") + "'"
    def insertSql(table: String, resources: Seq[String]): String =
      s"INSERT INTO $table (resource) VALUES " +
        resources.map(r => s"(${q(r)})").mkString(", ")
    // standard searched-CASE update — one statement per chunk, same
    // batched shape as the PG inline-VALUES join
    def updateSql(table: String, items: Seq[(Int, String)]): String =
      s"UPDATE $table SET resource = CASE id " +
        items.map { case (id, r) => s"WHEN $id THEN ${q(r)}" }.mkString(" ") +
        s" END WHERE id IN (${items.map(_._1).mkString(", ")})"
    /** Derby-compatible mirror-table DDL (IDENTITY for SERIAL, CLOB for
      * JSONB; the audit trigger is PG-specific and omitted).
      */
    def ddl(table: String): Seq[String] = Seq(
      s"""CREATE TABLE $table (
         |    id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
         |    resource CLOB NOT NULL
         |)""".stripMargin)
  }

  private[graft] def dollarQuote(json: String): String = {
    // `$$` inside the payload would terminate the quoted literal; the
    // reference ignores this (injection-prone by design, SURVEY.md §4).
    // A fixed fallback tag is not collision-proof either (a payload can
    // contain both `$$` and the fallback), so extend the tag until it
    // genuinely does not occur in the payload — PostgreSQL allows any
    // `$tag$`. Terminates: each step appends a char, and the payload is
    // finite so it cannot contain every prefix.
    var tag = ""
    while (json.contains(s"$$$tag$$")) tag += "g"
    s"$$$tag$$$json$$$tag$$"
  }

  /** DDL for one mirror table + audit trigger — reference
    * `src/db_utils.rs:88-134`, emitted verbatim so an existing PostgreSQL
    * target is bit-compatible with the reference's.
    */
  def ddl(table: String): Seq[String] = Seq(
    s"""CREATE TABLE IF NOT EXISTS $table (
       |    id SERIAL PRIMARY KEY,
       |    created_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP,
       |    last_updated_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP,
       |    resource JSONB NOT NULL
       |)""".stripMargin,
    """CREATE OR REPLACE FUNCTION update_last_updated()
      |RETURNS TRIGGER AS $$
      |BEGIN
      |    NEW.last_updated_at = CURRENT_TIMESTAMP;
      |    RETURN NEW;
      |END;
      |$$ LANGUAGE plpgsql""".stripMargin,
    s"""CREATE TRIGGER update_last_updated_trigger
       |    BEFORE UPDATE ON $table
       |    FOR EACH ROW
       |    EXECUTE PROCEDURE update_last_updated()""".stripMargin
  )

  /** Table-existence predicate — reference O13 `src/db_utils.rs:63-81`. */
  def tablesExistSql(tables: Seq[String]): String =
    "SELECT table_name FROM information_schema.tables WHERE table_name IN (" +
      tables.map(t => s"'$t'").mkString(", ") + ")"
}

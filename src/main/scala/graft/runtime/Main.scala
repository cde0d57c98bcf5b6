package graft.runtime

import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Schemas
import graft.sink.JdbcUpsert
import graft.source.Snapshot

/** The composed daemon — the reference's `main()` + `run_sync`
  * (`src/main.rs:343-411` and `src/main.rs:303-339`):
  *
  *   env Config → PG connect (retry) → [boot sync → daily 03:00 loop],
  *   where one sync = Blaze health check (retry) → tables-exist probe →
  *   conditional DDL → per-type source scan / diff / write / reconcile.
  *
  * Every effect is injected (`fetch`, `exec`, `query`, clock, sleep) so the
  * full composition is unit-testable ([[MainSpec]]); [[main]] binds the
  * real HTTP client, JDBC connections, wall clock, and SparkSession.
  */
object Main {

  /** One Blaze health probe: `GET {base}/health` — success is "the request
    * completed", matching the reference (`src/db_utils.rs:44-50` treats any
    * HTTP response as healthy; only transport errors fail).
    */
  def healthCheck(baseUrl: String, fetch: String => String): Either[String, Unit] =
    try { fetch(s"$baseUrl/health"); Right(()) }
    catch { case e: Exception => Left(s"Blaze health check failed: ${e.getMessage}") }

  /** Health probe with the reference's retry loop
    * (`src/db_utils.rs:35-59`: N attempts, 60 s backoff).
    */
  def checkBlazeConnection(baseUrl: String, attempts: Int,
                           fetch: String => String,
                           sleep: Duration => Unit = d => Thread.sleep(d.toMillis)): Either[String, Unit] =
    Scheduler.retry(attempts, Duration.ofSeconds(60), sleep)(
      () => healthCheck(baseUrl, fetch))

  /** One full sync run — the reference's `run_sync` (`src/main.rs:303-339`):
    * health gate, tables-exist predicate, DDL only when tables are missing,
    * then the four per-type syncs. Throws on precondition failure so the
    * scheduler's logged-and-continue contract applies.
    *
    * @param queryTables  returns the table names present in the target
    *                     (reference O13, `src/db_utils.rs:63-81`)
    * @param exec         DDL statement executor
    * @param writeOptions V2 sink options (`url`/`user`/`password`/
    *                     `dialect`/`connector`/`batchsize`) — the diff
    *                     goes down the declarative default write path
    */
  def composedSync(spark: SparkSession,
                   cfg: Scheduler.Config,
                   fetch: String => String,
                   queryTables: () => Set[String],
                   exec: String => Unit,
                   sourceFor: String => DataFrame,
                   snapshotFor: String => DataFrame,
                   writeOptions: Map[String, String],
                   targetCount: String => Long,
                   sleep: Duration => Unit = d => Thread.sleep(d.toMillis)): Seq[SyncPipeline.SyncResult] = {
    checkBlazeConnection(cfg.blazeBaseUrl, Scheduler.BlazeNumConnectionAttempts,
        fetch, sleep) match {
      case Left(err) => throw new RuntimeException(
        s"Aborting sync run because connection to Blaze could not be established: $err")
      case Right(_) => ()
    }
    val tables = Schemas.resourceTypes.map(Schemas.tableName)
    val existing = queryTables()
    if (!tables.forall(existing.contains))
      tables.flatMap(JdbcUpsert.ddl).foreach(exec)
    SyncPipeline.runSync(spark, sourceFor, snapshotFor, writeOptions, targetCount)
  }

  // ---- real-world bindings (exercised only by a live deployment) ----

  /** Blocking HTTP GET via the JDK client (driver-side probes; executors
    * use [[graft.source.v2.HttpPageFetcher]]).
    */
  def httpFetch(url: String): String = {
    val client = java.net.http.HttpClient.newHttpClient()
    client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()
  }

  private def withConnection[T](cfg: Scheduler.Config)(f: java.sql.Connection => T): T = {
    val conn = java.sql.DriverManager.getConnection(
      Scheduler.Config.jdbcUrl(cfg), cfg.pgUsername, cfg.pgPassword)
    try f(conn) finally conn.close()
  }

  /** PG connectivity probe with the reference's retry
    * (`src/db_utils.rs:6-32`: 5 s backoff; `src/main.rs:376` passes 10
    * attempts).
    */
  def checkPgConnection(attempts: Int = 10,
                        sleep: Duration => Unit = d => Thread.sleep(d.toMillis),
                        probe: () => Unit): Either[String, Unit] =
    Scheduler.retry(attempts, Duration.ofSeconds(5), sleep) { () =>
      try { probe(); Right(()) }
      catch { case e: Exception => Left(s"Failed to connect to PostgreSQL: ${e.getMessage}") }
    }

  /** Production daemon entrypoint. */
  def main(args: Array[String]): Unit = {
    val cfg = Scheduler.Config.fromEnv() match {
      case Right(c) => c
      case Left(err) => System.err.println(err); sys.exit(1)
    }
    val spark = graft.GraftSession.builder().appName("graft-fhir2sql").getOrCreate()

    checkPgConnection(probe = () => withConnection(cfg)(_ => ())) match {
      case Left(err) => System.err.println(err); sys.exit(1)
      case Right(_) => ()
    }

    val queryTables = () => withConnection(cfg) { conn =>
      val rs = conn.createStatement().executeQuery(
        JdbcUpsert.tablesExistSql(Schemas.resourceTypes.map(Schemas.tableName)))
      val names = scala.collection.mutable.Set[String]()
      while (rs.next()) names += rs.getString(1)
      names.toSet
    }
    val exec = (sql: String) => withConnection(cfg)(_.createStatement().execute(sql): Unit)
    // V2 sink options: each write task opens its own connection through
    // the DriverManagerConnector (one transaction per task attempt)
    val writeOptions = Map(
      "url" -> Scheduler.Config.jdbcUrl(cfg),
      "user" -> cfg.pgUsername,
      "password" -> cfg.pgPassword,
      "dialect" -> "postgres")
    val targetCount = (table: String) => withConnection(cfg) { conn =>
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    }

    val shuttingDown = Scheduler.installShutdownHook()
    Scheduler.loop(
      tick = Duration.ofSeconds(60),
      target = Scheduler.TargetTime,
      now = () => java.time.LocalDateTime.now(),
      sleep = d => Thread.sleep(d.toMillis),
      shuttingDown = shuttingDown,
      onError = t => System.err.println(s"Sync run unsuccessful: ${t.getMessage}")) { () =>
      val results = composedSync(spark, cfg,
        fetch = httpFetch,
        queryTables = queryTables,
        exec = exec,
        sourceFor = SyncPipeline.blazeV2Source(
          spark, cfg.blazeBaseUrl, Scheduler.BlazePageResourceCount),
        snapshotFor = Snapshot.forJdbc(spark, Scheduler.Config.jdbcUrl(cfg),
          cfg.pgUsername, cfg.pgPassword),
        writeOptions = writeOptions,
        targetCount = targetCount)
      results.foreach { r =>
        val mark = if (r.reconciled) "ok" else "MISMATCH"
        println(s"[sync] ${r.resourceType}: +${r.inserts} ~${r.updates} " +
          s"-${r.deletes} source=${r.sourceTotal} target=${r.targetAfter} $mark")
      }
    }
    spark.stop()
  }
}

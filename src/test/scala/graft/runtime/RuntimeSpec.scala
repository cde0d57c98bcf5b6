package graft.runtime

import java.time.{Duration, LocalDateTime, LocalTime}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.sink.JdbcUpsert
import graft.source.v2.{CorpusFixtureFetcher, CorpusPages}

/** JVM-static statement sink for local-mode sink tests. */
object StmtCollector {
  private val buf = scala.collection.mutable.Buffer[String]()
  def add(s: String): Unit = buf.synchronized { buf += s; () }
  def clear(): Unit = buf.synchronized { buf.clear() }
  def snapshot(): Seq[String] = buf.synchronized { buf.toSeq }
}

class RuntimeSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  /** The `blaze` source over the [[CorpusPages]] fixture server. */
  private def blaze(pageSize: Int) =
    SyncPipeline.blazeV2Source(spark, "http://b", pageSize,
      classOf[CorpusFixtureFetcher].getName)("Patient")

  private def fetched: Seq[String] = CorpusPages.fetched.asScala.toSeq

  private def res(id: String, v: Long): String =
    s"""{"id":"$id","meta":{"versionId":"$v"},"resourceType":"Patient"}"""

  // ---- the blaze source ----

  test("blaze pages explode into one resource row per Bundle entry") {
    CorpusPages.serve(Seq(res("a", 1), res("b", 2), res("c", 3)))
    val df = blaze(pageSize = 2)
    val ids = SyncPipeline.sourceVersions(df)
      .select("resource_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq === Seq("a", "b", "c"))
    assert(fetched.count(_.contains("_getpagesoffset")) === 2)
  }

  test("blaze COUNT(*) reads the probe's Bundle total, 42, with no page fetched") {
    CorpusPages.serve((0 until 42).map(i => res(s"p$i", 1)))
    assert(blaze(pageSize = 5000).count() === 42L)
    assert(fetched === Seq("http://b/fhir/Patient?_count=0"))
  }

  test("blaze page URLs carry the reference's pushdown params") {
    CorpusPages.serve(Seq(res("a", 1)))
    assert(blaze(pageSize = 5000).collect().length === 1)
    val pages = fetched.filter(_.contains("_getpagesoffset"))
    assert(pages === Seq(
      "http://b/fhir/Patient?_count=5000&_getpagesoffset=0&_history=current"))
  }

  // ---- JdbcUpsert SQL + batching ----

  test("insert/update/delete SQL match the reference's statement shapes") {
    assert(JdbcUpsert.Postgres.insertSql("patient", Seq("""{"a":1}""")) ===
      """INSERT INTO patient (resource) VALUES ($${"a":1}$$)""")
    assert(JdbcUpsert.Postgres.updateSql("patient", Seq((7, """{"a":1}"""))) ===
      """UPDATE patient SET resource = data.resource::jsonb FROM (VALUES """ +
        """(7, $${"a":1}$$)) AS data(id, resource) WHERE data.id = patient.id""")
    assert(JdbcUpsert.Postgres.deleteSql("patient", Seq(1, 2, 3)) ===
      "DELETE FROM patient WHERE id IN (1, 2, 3)")
  }

  test("dollar-quoting extends the tag until it cannot occur in the payload") {
    // plain payload → reference's bare $$ quoting
    assert(JdbcUpsert.dollarQuote("""{"a":1}""") === """$${"a":1}$$""")
    // payload containing $$ → $g$ tag
    assert(JdbcUpsert.dollarQuote("x$$y") === "$g$x$$y$g$")
    // adversarial payload containing $$ AND $g$ AND $gg$ → $ggg$ tag;
    // the chosen delimiter never appears inside the quoted body
    val hostile = "a$$b$g$c$gg$d"
    val quoted = JdbcUpsert.dollarQuote(hostile)
    assert(quoted === s"$$ggg$$$hostile$$ggg$$")
    val tag = quoted.substring(0, quoted.indexOf('$', 1) + 1)
    assert(!hostile.contains(tag))
  }

  test("V2 writer chunks at batchsize and flushes the tail") {
    val spark2 = spark
    import spark2.implicits._
    StmtCollector.clear()
    (1 to 25).map(i => ("insert", Option.empty[Int], s"""{"id":"w$i"}"""))
      .toDF("action", "pk_id", "resource").coalesce(1)
      .write.format("graft-jdbc-upsert")
      .option("table", "patient")
      .option("connector", classOf[StmtCollectorConnector].getName)
      .option("batchsize", "10")
      .mode("append")
      .save()
    val rowsPerInsert = StmtCollector.snapshot().filter(_.startsWith("INSERT"))
      .map(_.split("\\), \\(").length)
    assert(rowsPerInsert === Seq(10, 10, 5))
  }

  test("ddl matches the reference schema: NOT NULL audit columns, trigger name") {
    val d = JdbcUpsert.ddl("patient")
    assert(d.size === 3)
    assert(d.head.contains("CREATE TABLE IF NOT EXISTS patient"))
    // reference src/db_utils.rs:88-111 — audit columns are NOT NULL
    assert(d.head.contains("created_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP"))
    assert(d.head.contains("last_updated_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP"))
    assert(d(1).contains("update_last_updated"))
    // reference src/db_utils.rs:119-134 — same trigger name on every table
    assert(d(2).contains("CREATE TRIGGER update_last_updated_trigger"))
    assert(d(2).contains("BEFORE UPDATE ON patient"))
    assert(d(2).contains("EXECUTE PROCEDURE update_last_updated()"))
  }

  // ---- Scheduler ----

  test("shouldFire matches hour+minute only") {
    val t = LocalTime.of(3, 0)
    assert(Scheduler.shouldFire(LocalDateTime.of(2024, 1, 1, 3, 0, 59), t))
    assert(!Scheduler.shouldFire(LocalDateTime.of(2024, 1, 1, 3, 1, 0), t))
    assert(!Scheduler.shouldFire(LocalDateTime.of(2024, 1, 1, 4, 0, 0), t))
  }

  test("retry retries with backoff until success or exhaustion") {
    var calls = 0
    val slept = scala.collection.mutable.Buffer[Duration]()
    val r = Scheduler.retry(3, Duration.ofSeconds(5), slept += _) { () =>
      calls += 1
      if (calls < 3) Left("boom") else Right(calls)
    }
    assert(r === Right(3))
    assert(slept.size === 2)

    val fail = Scheduler.retry(2, Duration.ofSeconds(1), _ => ()) { () =>
      Left("always"): Either[String, Int]
    }
    assert(fail === Left("always"))
  }

  test("loop syncs at boot, then only on matching ticks; errors don't kill it") {
    val times = Iterator(
      LocalDateTime.of(2024, 1, 1, 2, 59, 0),
      LocalDateTime.of(2024, 1, 1, 3, 0, 0),
      LocalDateTime.of(2024, 1, 1, 3, 1, 0))
    var syncs = 0
    var errors = 0
    var ticks = 0
    Scheduler.loop(
      tick = Duration.ofSeconds(60),
      target = LocalTime.of(3, 0),
      now = () => times.next(),
      sleep = _ => ticks += 1,
      shuttingDown = () => ticks >= 3,
      onError = _ => errors += 1) { () =>
      syncs += 1
      if (syncs == 1) throw new RuntimeException("boot sync fails")
    }
    // boot sync (failed, caught) + the 03:00 tick
    assert(syncs === 2)
    assert(errors === 1)
  }

  // ---- End-to-end sync against an in-memory fake target ----

  test("syncOneV2 classifies and writes; counts reconcile") {
    // target snapshot: b@1 (stale), c@3 (current), d@9 (absent from source)
    val snapshot = spark.createDataFrame(Seq(
      (10, "b", 1L), (11, "c", 3L), (12, "d", 9L)
    )).toDF("pk_id", "resource_id", "version_id")

    // source: a@1 (new), b@2 (changed), c@3 (noop)
    CorpusPages.serve(Seq(res("a", 1), res("b", 2), res("c", 3)))
    val resources = blaze(pageSize = 5000)

    // the writer runs in tasks — collect through a JVM-static sink
    StmtCollector.clear()
    // fake target row count after sync: 3 existing + 1 insert - 1 delete
    val result = SyncPipeline.syncOneV2(spark, "Patient", resources, snapshot,
      Map("connector" -> classOf[StmtCollectorConnector].getName), _ => 3L)

    assert(result.inserts === 1 && result.updates === 1 && result.deletes === 1)
    assert(result.sourceTotal === 3 && result.reconciled)
    val all = StmtCollector.snapshot().mkString("\n")
    assert(all.contains("INSERT INTO patient"))
    assert(all.contains("\"id\":\"a\""))
    assert(all.contains("UPDATE patient SET resource"))
    assert(all.contains("(10, $$"), "update targets b's pk 10")
    assert(all.contains("DELETE FROM patient WHERE id IN (12)"))
  }

  test("Config.fromEnv requires the reference's five vars") {
    val full = Map("BLAZE_BASE_URL" -> "http://b", "PG_HOST" -> "h",
      "PG_USERNAME" -> "u", "PG_PASSWORD" -> "p", "PG_DBNAME" -> "d")
    assert(Scheduler.Config.fromEnv(full).isRight)
    assert(Scheduler.Config.fromEnv(full - "PG_HOST") ===
      Left("missing env var PG_HOST"))
    val c = Scheduler.Config.fromEnv(full).toOption.get
    assert(Scheduler.Config.jdbcUrl(c) === "jdbc:postgresql://h:5432/d")
    assert(JdbcUpsert.DefaultBatchSize === 10000 && Scheduler.BlazePageResourceCount === 5000)
  }
}

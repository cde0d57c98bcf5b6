package graft.runtime

import java.time.Duration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.source.v2.{CorpusFixtureFetcher, CorpusPages}

/** Wiring tests for the composed daemon (reference `src/main.rs:343-411`)
  * and the default four-type sync.
  */
class MainSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  private val snapshotSchema = StructType(Seq(
    StructField("pk_id", IntegerType),
    StructField("resource_id", StringType),
    StructField("version_id", LongType)))

  private def emptySnapshot =
    spark.createDataFrame(new java.util.ArrayList[Row](), snapshotSchema)

  private def res(id: String, v: Long): String =
    s"""{"id":"$id","meta":{"versionId":"$v"},"resourceType":"Patient"}"""

  /** The `blaze` source over the [[CorpusPages]] fixture server. */
  private val fixtureSource = SyncPipeline.blazeV2Source(spark, "http://b", 5000,
    classOf[CorpusFixtureFetcher].getName)

  private val health = Map("http://b/health" -> "ok")

  // ---- health check (reference src/db_utils.rs:35-59) ----

  test("healthCheck hits {base}/health; any response is healthy, transport error is not") {
    var hit: String = null
    assert(Main.healthCheck("http://b", u => { hit = u; "anything" }) === Right(()))
    assert(hit === "http://b/health")
    assert(Main.healthCheck("http://b",
      _ => throw new java.io.IOException("refused")).isLeft)
  }

  test("checkBlazeConnection retries with 60s backoff until healthy") {
    var calls = 0
    val slept = scala.collection.mutable.Buffer[Duration]()
    val r = Main.checkBlazeConnection("http://b", 5,
      fetch = _ => { calls += 1
        if (calls < 3) throw new java.io.IOException("down") else "ok" },
      sleep = slept += _)
    assert(r === Right(()))
    assert(calls === 3)
    assert(slept.toSeq === Seq(Duration.ofSeconds(60), Duration.ofSeconds(60)))

    val exhausted = Main.checkBlazeConnection("http://b", 2,
      fetch = _ => throw new java.io.IOException("down"), sleep = _ => ())
    assert(exhausted.isLeft)
  }

  test("checkPgConnection retries with 5s backoff") {
    var calls = 0
    val slept = scala.collection.mutable.Buffer[Duration]()
    val r = Main.checkPgConnection(attempts = 4, sleep = slept += _,
      probe = () => { calls += 1; if (calls < 2) throw new RuntimeException("conn") })
    assert(r === Right(()))
    assert(slept.toSeq === Seq(Duration.ofSeconds(5)))
  }

  // ---- composed sync (reference src/main.rs:303-339) ----

  test("composedSync: health gate, conditional DDL, four per-type syncs") {
    CorpusPages.serve(Seq(res("r1", 1)))

    val ddl = scala.collection.mutable.Buffer[String]()
    StmtCollector.clear()
    val results = Main.composedSync(spark,
      Scheduler.Config("http://b", "h", "u", "p", "d"),
      fetch = health,
      queryTables = () => Set("patient"), // 3 of 4 missing → DDL runs
      exec = ddl += _,
      sourceFor = fixtureSource,
      snapshotFor = _ => emptySnapshot,
      writeOptions = Map("connector" -> classOf[StmtCollectorConnector].getName),
      targetCount = _ => 1L,
      sleep = _ => ())

    // 4 tables × (table + trigger fn + trigger)
    assert(ddl.size === 12)
    assert(ddl.count(_.contains("CREATE TABLE IF NOT EXISTS")) === 4)
    assert(results.map(_.resourceType) ===
      Seq("Specimen", "Patient", "Observation", "Condition"))
    assert(results.forall(r => r.inserts === 1 && r.reconciled))
    val stmts = StmtCollector.snapshot()
    assert(Schemas4.types.forall(t =>
      stmts.exists(_.startsWith(s"INSERT INTO ${t.toLowerCase}"))))
    // runSync hands `sourceFor` the capitalized FHIR type, never the
    // lowercase table name: every type's search URLs name the type
    val fetched = CorpusPages.fetched.asScala.toSeq
    assert(Schemas4.types.forall(t => fetched.exists(_.startsWith(s"http://b/fhir/$t?"))),
      s"fetched: $fetched")
    assert(!Schemas4.types.exists(t =>
      fetched.exists(_.startsWith(s"http://b/fhir/${t.toLowerCase}?"))), s"fetched: $fetched")
  }

  test("composedSync skips DDL when all tables exist") {
    CorpusPages.serve(Seq.empty)
    val ddl = scala.collection.mutable.Buffer[String]()
    Main.composedSync(spark, Scheduler.Config("http://b", "h", "u", "p", "d"),
      fetch = health,
      queryTables = () => Schemas4.types.map(_.toLowerCase).toSet,
      exec = ddl += _,
      sourceFor = fixtureSource,
      snapshotFor = _ => emptySnapshot,
      writeOptions = Map("connector" -> classOf[StmtCollectorConnector].getName),
      targetCount = _ => 0L,
      sleep = _ => ())
    assert(ddl.isEmpty)
  }

  test("composedSync aborts (throws) when Blaze never becomes healthy") {
    val e = intercept[RuntimeException] {
      Main.composedSync(spark, Scheduler.Config("http://b", "h", "u", "p", "d"),
        fetch = _ => throw new java.io.IOException("down"),
        queryTables = () => Set.empty,
        exec = _ => (),
        sourceFor = _ => emptySnapshot,
        snapshotFor = _ => emptySnapshot,
        writeOptions = Map.empty,
        targetCount = _ => 0L,
        sleep = _ => ())
    }
    assert(e.getMessage.contains("connection to Blaze"))
  }

  test("syncOneV2 scans the source exactly once (the counts ride the write)") {
    val spark2 = spark
    import spark2.implicits._
    val acc = spark.sparkContext.longAccumulator("source-scans")
    CorpusPages.serve(Seq(res("a", 1), res("b", 2), res("c", 3)))
    val raw = fixtureSource("Patient")
    // every evaluation of the source relation bumps the accumulator once per row
    val counted = raw.as[String].map { r => acc.add(1); r }.toDF("resource")

    val snapshot = spark.createDataFrame(Seq(
      (10, "b", 1L), (12, "d", 9L))).toDF("pk_id", "resource_id", "version_id")
    StmtCollector.clear()
    val result = SyncPipeline.syncOneV2(spark, "Patient", counted, snapshot,
      Map("connector" -> classOf[StmtCollectorConnector].getName), _ => 3L)

    assert(result.inserts === 2 && result.updates === 1 && result.deletes === 1)
    assert(result.sourceTotal === 3 && result.reconciled)
    // 3 rows, 1 evaluation: the counts are observed on the write's own
    // plan, so no count job re-runs the scan
    assert(acc.value === 3L)
  }

  test("runSync over the DSv2 blaze source: executor-side pages feed all four types") {
    StmtCollector.clear()
    val results = SyncPipeline.runSync(spark,
      sourceFor = SyncPipeline.blazeV2Source(spark, "http://fixture", 10,
        classOf[graft.source.v2.FixtureFetcher].getName),
      snapshotFor = _ => emptySnapshot,
      writeOptions = Map("connector" -> classOf[StmtCollectorConnector].getName),
      targetCount = _ => 23L)
    assert(results.size === 4)
    assert(results.forall(r => r.inserts === 23 && r.deletes === 0 && r.reconciled))
    // the default path really is the V2 sink: statements arrived through
    // the class-name-instantiated connector, inside a task transaction
    val stmts = StmtCollector.snapshot()
    assert(stmts.contains("BEGIN") && stmts.contains("COMMIT"))
    assert(Schemas4.types.forall(t =>
      stmts.exists(_.startsWith(s"INSERT INTO ${t.toLowerCase}"))))
  }
}

/** V2 connector routing statements into [[StmtCollector]] (zero-arg,
  * class-name-instantiated on local-mode executor threads).
  */
class StmtCollectorConnector extends graft.sink.v2.UpsertConnector {
  override def connect(options: Map[String, String]): (String => Unit, () => Unit) =
    ((s: String) => StmtCollector.add(s), () => ())
}

/** The reference's type universe, locally named to keep assertions readable. */
private object Schemas4 {
  val types: Seq[String] = graft.model.Schemas.resourceTypes
}

package graft.runtime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.source.Snapshot

/** In-JVM mirror-table target that EXECUTES the exact SQL text the sink
  * emits (insert / inline-VALUES update / delete, with dollar-quoted
  * payloads), keyed by a SERIAL-style pk. The sandbox has no
  * PostgreSQL-wire engine (Derby ships with Spark but has no JSONB /
  * `->>` / plpgsql, so the production statements cannot run on it
  * verbatim); interpreting the sink's own statement text is the honest
  * alternative — it round-trips the dollar-quoting and pk addressing for
  * real, executor-side, through the same `exec` transport production
  * uses. Static state is shared with executor threads because local-mode
  * executors live in this JVM (same pattern as FixtureFetcher).
  */
object PgLiteStore {
  import scala.collection.mutable
  private val tables =
    mutable.Map[String, mutable.LinkedHashMap[Int, String]]()
  private val serial = new java.util.concurrent.atomic.AtomicInteger(0)

  def clear(): Unit = synchronized { tables.clear(); serial.set(0) }
  def count(table: String): Long = synchronized {
    tables.get(table).map(_.size.toLong).getOrElse(0L)
  }
  def rows(table: String): Map[Int, String] = synchronized {
    tables.get(table).map(_.toMap).getOrElse(Map.empty)
  }
  def put(table: String, json: String): Int = synchronized {
    val id = serial.incrementAndGet()
    tables.getOrElseUpdate(table, mutable.LinkedHashMap())(id) = json
    id
  }
  def delete(table: String, id: Int): Unit = synchronized {
    tables.get(table).foreach(_.remove(id)); ()
  }
  def replace(table: String, id: Int, json: String): Unit = synchronized {
    tables.get(table).filter(_.contains(id)).foreach(_(id) = json); ()
  }

  /** `$tag$payload$tag$` starting at or after `from` → (payload, index
    * one past the closing tag).
    */
  private def dollar(s: String, from: Int): (String, Int) = {
    val open = s.indexOf('$', from)
    val tag = s.substring(open, s.indexOf('$', open + 1) + 1)
    val start = open + tag.length
    val end = s.indexOf(tag, start)
    (s.substring(start, end), end + tag.length)
  }

  sealed trait Mut
  final case class Ins(table: String, json: String) extends Mut
  final case class Upd(table: String, id: Int, json: String) extends Mut
  final case class Del(table: String, id: Int) extends Mut

  def parse(stmt: String): Seq[Mut] = {
    val insertRe = "^INSERT INTO (\\w+) \\(resource\\) VALUES ".r
    val updateRe = "^UPDATE (\\w+) SET resource = data\\.resource::jsonb FROM \\(VALUES ".r
    val deleteRe = "^DELETE FROM (\\w+) WHERE id IN \\(([^)]*)\\)$".r
    stmt match {
      case deleteRe(table, ids) =>
        ids.split(",").map(_.trim.toInt).toSeq.map(Del(table, _))
      case _ => insertRe.findFirstMatchIn(stmt) match {
        case Some(m) =>
          val out = Seq.newBuilder[Mut]
          var i = m.end
          while (i < stmt.length && stmt.indexOf('$', i) >= 0) {
            val (json, next) = dollar(stmt, i)
            out += Ins(m.group(1), json)
            i = next
          }
          out.result()
        case None => updateRe.findFirstMatchIn(stmt) match {
          case Some(m) =>
            val out = Seq.newBuilder[Mut]
            var i = m.end
            while (stmt.indexOf('(', i) >= 0 &&
                   stmt.indexOf('(', i) < stmt.lastIndexOf(") AS data")) {
              val open = stmt.indexOf('(', i)
              val comma = stmt.indexOf(',', open)
              val id = stmt.substring(open + 1, comma).trim.toInt
              val (json, next) = dollar(stmt, comma)
              out += Upd(m.group(1), id, json)
              i = next
            }
            out.result()
          case None => throw new IllegalArgumentException(
            s"PgLiteStore: unrecognized statement: ${stmt.take(120)}")
        }
      }
    }
  }

  def applyAll(muts: Seq[Mut]): Unit = synchronized {
    muts.foreach {
      case Ins(t, j) => put(t, j); ()
      case Upd(t, id, j) => replace(t, id, j)
      case Del(t, id) => delete(t, id)
    }
  }

  /** One JDBC connection stand-in with PostgreSQL transaction semantics:
    * statements after BEGIN buffer until COMMIT applies them atomically;
    * closing with an open uncommitted transaction discards it (what the
    * server does when a mid-write task attempt dies) — the behavior the
    * sink's task-retry atomicity relies on.
    */
  final class TxConn {
    private val buf = scala.collection.mutable.ArrayBuffer[Mut]()
    private var inTx = false
    def exec(stmt: String): Unit = stmt match {
      case "BEGIN" => inTx = true
      case "COMMIT" =>
        applyAll(buf.toSeq); buf.clear(); inTx = false
      case s =>
        val muts = parse(s)
        if (inTx) { buf ++= muts; () } else applyAll(muts)
    }
    def close(): Unit = { buf.clear(); inTx = false } // rollback
  }

  def connect(): (String => Unit, () => Unit) = {
    val c = new TxConn
    (c.exec _, () => c.close())
  }

  /** What the pushed snapshot subquery computes server-side: (pk_id,
    * resource->>'id', resource#>>'{meta,versionId}') — here parsed with
    * Jackson, finalized by the production [[Snapshot.fromRaw]].
    */
  def snapshot(spark: org.apache.spark.sql.SparkSession)(table: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val raw = rows(table).toSeq.map { case (id, json) =>
      val node = mapper.readTree(json)
      val rid = node.path("id")
      val ver = node.path("meta").path("versionId")
      Row(id,
        if (rid.isMissingNode || rid.isNull) null else rid.asText(),
        if (ver.isMissingNode || ver.isNull) null else ver.asText())
    }
    val schema = StructType(Seq(
      StructField("pk_id", IntegerType),
      StructField("resource_id", StringType),
      StructField("version_text", StringType)))
    Snapshot.fromRaw(spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(raw).asJava), schema))
  }
}

/** V2-writer connector over the in-JVM PG-semantics store (zero-arg,
  * instantiated by class name on executors — local-mode same-JVM, the
  * FixtureFetcher pattern).
  */
class PgLiteConnector extends graft.sink.v2.UpsertConnector {
  override def connect(options: Map[String, String]): (String => Unit, () => Unit) =
    PgLiteStore.connect()
}

/** Dies on its 3rd real statement, AFTER two already executed inside the
  * open transaction.
  */
class FailingPgLiteConnector extends graft.sink.v2.UpsertConnector {
  override def connect(options: Map[String, String]): (String => Unit, () => Unit) = {
    val (exec, close) = PgLiteStore.connect()
    var stmts = 0
    ((s: String) => {
      if (s != "BEGIN" && s != "COMMIT") {
        stmts += 1
        if (stmts == 3) throw new RuntimeException("connection lost mid-partition")
      }
      exec(s)
    }, close)
  }
}

/** End-to-end self-healing contract (reference `src/main.rs:159-175`):
  * sync into an empty target, prove the SECOND run is a no-op, corrupt
  * the target three ways (drop a row, stale a version, add an alien
  * row), prove one sync heals all three, and the run after that is a
  * no-op again. The full production dataflow runs each time: DSv2
  * executor-side page fetch → extract/validate → full-outer classify →
  * partition-parallel statement writes → post-write count reconcile.
  */
class SyncE2ESpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  // the DEFAULT sync path (V2 declarative sink, round-9): what
  // Scheduler/Main route through in production
  private def sync() = SyncPipeline.runSync(spark,
    sourceFor = SyncPipeline.blazeV2Source(spark, "http://fixture", 10,
      classOf[graft.source.v2.FixtureFetcher].getName),
    snapshotFor = PgLiteStore.snapshot(spark),
    writeOptions = Map("connector" -> classOf[PgLiteConnector].getName),
    targetCount = PgLiteStore.count)

  test("sync -> re-sync is a no-op; a corrupted target heals in one run") {
    PgLiteStore.clear()

    val first = sync()
    assert(first.size === 4)
    first.foreach { r =>
      assert(r.inserts === 23 && r.updates === 0 && r.deletes === 0, r)
      assert(r.reconciled, s"post-write count must equal source: $r")
    }
    // payloads round-tripped the dollar-quoted transport intact
    val stored = PgLiteStore.rows("patient")
    assert(stored.values.exists(_.contains(""""id":"r7"""")))

    val second = sync()
    second.foreach { r =>
      assert(r.inserts === 0 && r.updates === 0 && r.deletes === 0,
        s"second sync must be a no-op: $r")
      assert(r.reconciled)
    }

    // Corrupt: drop one patient, stale another's version, add an alien.
    val byJson = PgLiteStore.rows("patient")
    val dropId = byJson.collectFirst { case (id, j) if j.contains(""""id":"r3"""") => id }.get
    val staleId = byJson.collectFirst { case (id, j) if j.contains(""""id":"r5"""") => id }.get
    PgLiteStore.delete("patient", dropId)
    PgLiteStore.replace("patient", staleId,
      """{"id":"r5","meta":{"versionId":"999"},"resourceType":"Patient"}""")
    PgLiteStore.put("patient",
      """{"id":"zzz","meta":{"versionId":"1"},"resourceType":"Patient"}""")

    val heal = sync()
    val patient = heal.find(_.resourceType == "Patient").get
    assert(patient.inserts === 1 && patient.updates === 1 && patient.deletes === 1,
      s"one healing run must fix all three corruptions: $patient")
    assert(patient.reconciled)
    heal.filterNot(_.resourceType == "Patient").foreach { r =>
      assert(r.inserts === 0 && r.updates === 0 && r.deletes === 0, r)
    }
    // healed payload carries the source's version again, alien is gone
    val healed = PgLiteStore.rows("patient")
    assert(healed.values.exists(j =>
      j.contains(""""id":"r5"""") && j.contains(""""versionId":"0"""")))
    assert(!healed.values.exists(_.contains(""""id":"zzz"""")))

    val fourth = sync()
    fourth.foreach { r =>
      assert(r.inserts === 0 && r.updates === 0 && r.deletes === 0,
        s"post-heal sync must be a no-op: $r")
    }
  }

  test("a mid-partition failure commits nothing; the retry writes exactly once") {
    PgLiteStore.clear()
    val spark2 = spark
    import spark2.implicits._
    val rows = (0 until 8).map(i => ("insert", Option.empty[Int],
        s"""{"id":"x$i","meta":{"versionId":"1"}}"""))
      .toDF("action", "pk_id", "resource").coalesce(1)
    def write(connector: String) = rows.write.format("graft-jdbc-upsert")
      .option("table", "patient")
      .option("connector", connector)
      .option("batchsize", "2")
      .mode("append")
      .save()
    // batchsize 2 -> four INSERT statements in the one partition; the
    // connection dies on the third, AFTER two statements already executed
    val e = intercept[Exception](write(classOf[FailingPgLiteConnector].getName))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("connection lost")), e)
    assert(PgLiteStore.count("patient") === 0L,
      "the already-executed batches must roll back with the failed attempt")
    // the "retry" (here: a fresh write, as Spark's task retry would issue)
    write(classOf[PgLiteConnector].getName)
    assert(PgLiteStore.count("patient") === 8L, "exactly one copy after retry")
  }
}

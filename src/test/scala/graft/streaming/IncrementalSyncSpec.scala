package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.ExecutedPlans.{executionsOf, isExchange, pathTo}
import graft.runtime.{PgLiteConnector, PgLiteStore, StmtCollector, StmtCollectorConnector}

/** End-to-end CDC sync over MemoryStream: inserts, version-gated updates,
  * tombstone deletes, within-batch version races, and idempotent replay —
  * the reference's diff semantics (`update on !=`, delete explicit)
  * applied continuously against a live mutable target.
  */
class IncrementalSyncSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  case class Change(resource_id: String, version_id: Long, resource: String)

  // the "target database": pk -> (resource_id, version, payload)
  private def mkTarget() =
    scala.collection.mutable.LinkedHashMap[Int, (String, Long, String)]()

  private def snapshotDf(target: scala.collection.mutable.LinkedHashMap[Int, (String, Long, String)]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    target.toSeq.map { case (pk, (rid, ver, _)) => (pk, rid, ver) }
      .toDF("pk_id", "resource_id", "version_id")
  }

  private def applier(target: scala.collection.mutable.LinkedHashMap[Int, (String, Long, String)])
  : DataFrame => Unit = { classified =>
    classified.collect().foreach { r =>
      val action = r.getAs[String]("action")
      val rid = r.getAs[String]("resource_id")
      val ver = r.getAs[Long]("version_id")
      val res = r.getAs[String]("resource")
      action match {
        case "insert" =>
          val pk = if (target.isEmpty) 1 else target.keys.max + 1
          target += pk -> ((rid, ver, res))
        case "update" =>
          val pk = r.getAs[Int]("pk_id")
          target += pk -> ((rid, ver, res))
        case "delete" =>
          target -= r.getAs[Int]("pk_id")
        case _ => ()
      }
    }
  }

  test("CDC stream applies inserts, updates, tombstones; replays are idempotent") {
    val spark2 = spark
    import spark2.implicits._
    val target = mkTarget()
    val input = MemoryStream[Change](spark2)
    val ckpt = java.nio.file.Files.createTempDirectory("incsync").toString
    val q = IncrementalSync.run(input.toDF(), ckpt,
      _ => snapshotDf(target), applier(target))
    try {
      // batch 1: two inserts, plus a within-batch version race on "a"
      // (v1 then v2 → only v2 applies) and a tombstone for an absent key
      input.addData(
        Change("a", 1L, "payload-a1"), Change("a", 2L, "payload-a2"),
        Change("b", 1L, "payload-b1"), Change("zz", 5L, null))
      q.processAllAvailable()
      assert(target.values.toSet ==
        Set(("a", 2L, "payload-a2"), ("b", 1L, "payload-b1")))

      // batch 2: update a (version changed), replay b@1 (noop), delete a
      // competitor? no — tombstone b
      input.addData(Change("a", 3L, "payload-a3"), Change("b", 1L, "replayed"))
      q.processAllAvailable()
      assert(target.values.toSet ==
        Set(("a", 3L, "payload-a3"), ("b", 1L, "payload-b1")),
        "same-version replay must be a noop (reference: update on != only)")

      // batch 3: tombstone b, insert c
      input.addData(Change("b", 2L, null), Change("c", 1L, "payload-c1"))
      q.processAllAvailable()
      assert(target.values.toSet ==
        Set(("a", 3L, "payload-a3"), ("c", 1L, "payload-c1")))

      // batch 4: replayed tombstone for b (absent) → noop, not an error
      input.addData(Change("b", 2L, null))
      q.processAllAvailable()
      assert(target.values.toSet ==
        Set(("a", 3L, "payload-a3"), ("c", 1L, "payload-c1")))
    } finally q.stop()
  }

  test("applyJdbc routes a micro-batch into the three JDBC statement shapes") {
    val spark2 = spark
    import spark2.implicits._
    StmtCollector.clear()
    val snapshot = Seq((7, "upd", 1L), (8, "del", 1L), (9, "same", 1L))
      .toDF("pk_id", "resource_id", "version_id")
    val batch = Seq(
      ("new", 1L, "payload-new"),
      ("upd", 2L, "payload-upd"),
      ("del", 2L, null.asInstanceOf[String]),
      ("same", 1L, "payload-noop"))
      .toDF("resource_id", "version_id", "resource")
    val apply = IncrementalSync.applyJdbc("patient",
      Map("connector" -> classOf[StmtCollectorConnector].getName))
    val (_, executions) = executionsOf(spark)(
      apply(IncrementalSync.classifyCdc(batch, snapshot)))
    // one micro-batch, one SQL execution: the graft-jdbc-upsert append
    assert(executions.size === 1,
      s"expected the write alone, got ${executions.map(_.executedPlan.nodeName)}")
    // the snapshot is read before any write: its scan reaches the join
    // through an Exchange (shuffle or broadcast)
    val plan = executions.head.executedPlan
    val join = pathTo(plan)(_.isInstanceOf[BaseJoinExec]).map(_.last)
    assert(join.isDefined, s"no join in\n$plan")
    val right = join.get.asInstanceOf[BaseJoinExec].right
    val toSnapshot = pathTo(right)(_.isInstanceOf[LocalTableScanExec])
    assert(toSnapshot.isDefined, s"no snapshot scan on the join's build side:\n$plan")
    assert(toSnapshot.get.exists(isExchange), s"the snapshot scan feeds the join directly:\n$plan")
    val stmts = StmtCollector.snapshot()
    assert(stmts.exists(s => s.startsWith("INSERT INTO patient") &&
      s.contains("payload-new")), stmts.mkString("\n"))
    assert(stmts.exists(s => s.startsWith("UPDATE patient") &&
      s.contains("payload-upd") && s.contains("(7,")), stmts.mkString("\n"))
    assert(stmts.exists(s => s.startsWith("DELETE FROM patient") &&
      s.contains("8")), stmts.mkString("\n"))
    // each writing task wraps its statements in BEGIN…COMMIT (the sink's
    // task-retry atomicity); the data statements stay 1:1 per action
    val data = stmts.filterNot(s => s == "BEGIN" || s == "COMMIT")
    assert(data.size === 3, s"exactly one data statement per action: $stmts")
    assert(stmts.count(_ == "BEGIN") === stmts.count(_ == "COMMIT"),
      s"unbalanced transactions: $stmts")
  }

  test("a live stream applies each micro-batch through applyJdbc") {
    val spark2 = spark
    import spark2.implicits._
    PgLiteStore.clear()
    def json(id: String, v: Long) = s"""{"id":"$id","meta":{"versionId":"$v"}}"""
    val input = MemoryStream[Change](spark2)
    val ckpt = java.nio.file.Files.createTempDirectory("incsync-v2").toString
    // each micro-batch classifies against the live store, then writes it
    val q = IncrementalSync.run(input.toDF(), ckpt,
      s => PgLiteStore.snapshot(s)("patient"),
      IncrementalSync.applyJdbc("patient",
        Map("connector" -> classOf[PgLiteConnector].getName)))
    try {
      input.addData(Change("a", 1L, json("a", 1)), Change("b", 1L, json("b", 1)))
      q.processAllAvailable()
      assert(PgLiteStore.rows("patient").values.toSet === Set(json("a", 1), json("b", 1)))
      // update a, tombstone b, insert c
      input.addData(Change("a", 2L, json("a", 2)), Change("b", 2L, null),
        Change("c", 1L, json("c", 1)))
      q.processAllAvailable()
      assert(PgLiteStore.rows("patient").values.toSet === Set(json("a", 2), json("c", 1)))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains pending changes and terminates (daily-cron CDC mode)") {
    // the reference syncs once per day (main.rs:388-411); AvailableNow is
    // that schedule's streaming twin: drain everything pending through the
    // SAME checkpointed pipeline, then stop — incremental state without a
    // resident query
    val spark2 = spark
    import spark2.implicits._
    val target = mkTarget()
    val input = MemoryStream[Change](spark2)
    val ckpt = java.nio.file.Files.createTempDirectory("incsync-an").toString
    input.addData(Change("a", 1L, "pa1"), Change("b", 1L, "pb1"))
    val q = IncrementalSync.run(input.toDF(), ckpt,
      _ => snapshotDf(target), applier(target),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try {
      assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
      assert(target.values.toSet == Set(("a", 1L, "pa1"), ("b", 1L, "pb1")))
    } finally if (q.isActive) q.stop()
  }

  test("classifyCdc treats absence-from-batch as unchanged, never delete") {
    val spark2 = spark
    import spark2.implicits._
    val snapshot = Seq((1, "a", 1L), (2, "b", 1L))
      .toDF("pk_id", "resource_id", "version_id")
    val batch = Seq(("a", 2L, "pa2")).toDF("resource_id", "version_id", "resource")
    val actions = IncrementalSync.classifyCdc(batch, snapshot)
      .select("resource_id", "action").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(actions == Map("a" -> "update"), // b absent → no row at all
      "CDC classify must only emit rows for keys present in the batch")
  }

  test("latestPerKey resolves same-version tombstone/upsert ties to the upsert") {
    val spark2 = spark
    import spark2.implicits._
    // malformed feed: tombstone and upsert carry the SAME version for "a";
    // resolution must be deterministic (upsert wins), not row-order luck —
    // exercised in both arrival orders.
    val fwd = Seq(("a", 3L, Some("pa3")), ("a", 3L, None), ("b", 1L, None))
      .toDF("resource_id", "version_id", "resource")
    val rev = Seq(("a", 3L, None), ("a", 3L, Some("pa3")), ("b", 1L, None))
      .toDF("resource_id", "version_id", "resource")
    for (batch <- Seq(fwd, rev)) {
      val got = IncrementalSync.latestPerKey(batch)
        .collect().map(r => r.getString(0) -> Option(r.getString(2))).toMap
      assert(got === Map("a" -> Some("pa3"), "b" -> None))
    }
    // a strictly newer tombstone still beats an older upsert
    val newer = Seq(("a", 2L, Some("pa2")), ("a", 3L, None))
      .toDF("resource_id", "version_id", "resource")
    val gotNewer = IncrementalSync.latestPerKey(newer)
      .collect().map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(gotNewer === Map("a" -> None))
  }
}

package graft.diff

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.ExecutedPlans.{executionsOf, isExchange, pathTo}
import graft.runtime.{PgLiteConnector, PgLiteStore, StmtCollector, StmtCollectorConnector}
import graft.sink.v2.JdbcUpsertProvider

/** Unit + property tests of the diff classifiers — the semantics pinned by
  * the reference (`src/main.rs:159-175`, `227-248`, `278-282`; FIXTURES.md
  * §B corpus) — and of the change-batch classifier's path into the sink.
  */
class ReconcileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def src(rows: (String, Long)*): DataFrame =
    rows.toDF("resource_id", "version_id")

  private def tgt(rows: (Long, String, Long)*): DataFrame =
    rows.toDF("pk_id", "resource_id", "version_id")

  private def actions(s: DataFrame, t: DataFrame): Map[String, String] =
    Reconcile.classify(s, t).collect()
      .map(r => r.getString(0) -> r.getAs[String]("action")).toMap

  test("classify: insert / update / delete / noop") {
    val a = actions(
      src("a" -> 1L, "b" -> 2L, "c" -> 3L),
      tgt((10L, "b", 2L), (11L, "c", 9L), (12L, "d", 4L)))
    assert(a === Map("a" -> "insert", "b" -> "noop", "c" -> "update", "d" -> "delete"))
  }

  test("classify: version mismatch updates in BOTH directions (!=, not <)") {
    // reference src/main.rs:229-231: any difference is an update
    val a = actions(
      src("newer" -> 5L, "older" -> 1L),
      tgt((1L, "newer", 3L), (2L, "older", 3L)))
    assert(a === Map("newer" -> "update", "older" -> "update"))
  }

  test("classify carries the source's resource and the target's pk_id, null when absent") {
    val s = Seq(("a", 1L, "ra"), ("b", 2L, "rb"), ("c", 3L, "rc"))
      .toDF("resource_id", "version_id", "resource")
    val out = Reconcile.classify(s, tgt((10L, "b", 1L), (11L, "c", 3L), (12L, "d", 4L)))
    assert(out.columns.toSeq ===
      Seq("resource_id", "src_version", "tgt_version", "resource", "pk_id", "action"))
    val byId = out.collect().map(r => r.getString(0) ->
      ((Option(r.getString(3)), Option(r.get(4)), r.getString(5)))).toMap
    assert(byId === Map(
      "a" -> ((Some("ra"), None, "insert")),
      "b" -> ((Some("rb"), Some(10L), "update")),
      "c" -> ((Some("rc"), Some(11L), "noop")),
      "d" -> ((None, Some(12L), "delete"))))
  }

  test("classify rejects a carried column both sides share or an output name") {
    val s = Seq(("a", 1L, 7L, "x")).toDF("resource_id", "version_id", "pk_id", "action")
    val e = intercept[IllegalArgumentException](Reconcile.classify(s, tgt((10L, "a", 1L))))
    assert(e.getMessage.contains("pk_id, action"), e.getMessage)
  }

  test("classify on empty sides") {
    assert(actions(src(), tgt((1L, "x", 1L))) === Map("x" -> "delete"))
    assert(actions(src("x" -> 1L), tgt()) === Map("x" -> "insert"))
    assert(actions(src(), tgt()) === Map.empty)
  }

  test("extractVersion: happy path + missing id + missing/malformed versionId") {
    val df = Seq(
      """{"id":"ok","meta":{"versionId":"7"}}""",
      """{"meta":{"versionId":"7"}}""",
      """{"id":"nover","meta":{}}""",
      """{"id":"badver","meta":{"versionId":"x"}}""",
      """{"id":"negver","meta":{"versionId":"-3"}}"""
    ).toDF("resource")
    val (id, ver) = Reconcile.extractVersion(col("resource"))
    val out = df.select(id.as("resource_id"), ver.as("version_id"))
      .collect().map(r => (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(out.toSeq === Seq(
      (Some("ok"), Some(7L)),
      (None, Some(7L)),
      (Some("nover"), None),
      (Some("badver"), None),
      (Some("negver"), Some(-3L))))
  }

  test("validOnly drops rows the reference skips") {
    val df = Seq(
      (Some("a"), Some(1L)), (None, Some(2L)), (Some("c"), None)
    ).toDF("resource_id", "version_id")
    assert(Reconcile.validOnly(df).collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("class-specific joins agree with full classification") {
    val s = src("a" -> 1L, "b" -> 2L, "c" -> 3L, "e" -> 8L)
    val t = tgt((1L, "b", 2L), (2L, "c", 9L), (3L, "d", 4L))
    val full = actions(s, t)
    assert(Reconcile.inserts(s, t).select("resource_id").as[String].collect().toSet
      === full.collect { case (k, "insert") => k }.toSet)
    assert(Reconcile.updates(s, t).select("resource_id").as[String].collect().toSet
      === full.collect { case (k, "update") => k }.toSet)
    assert(Reconcile.deletes(s, t).select("resource_id").as[String].collect().toSet
      === full.collect { case (k, "delete") => k }.toSet)
  }

  test("property: applying classified ops to target reproduces source (50 random cases)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val universe = (0 until 30).map(i => s"r$i")
      val srcRows = universe.filter(_ => rnd.nextBoolean())
        .map(id => id -> (rnd.nextInt(3) + 1).toLong)
      val tgtRows = universe.filter(_ => rnd.nextBoolean()).zipWithIndex
        .map { case (id, i) => (i.toLong, id, (rnd.nextInt(3) + 1).toLong) }
      val srcMap = srcRows.toMap
      val tgtMap = tgtRows.map { case (_, id, v) => id -> v }.toMap

      val acts = actions(src(srcRows: _*), tgt(tgtRows: _*))
      // every id on either side classified exactly once
      assert(acts.keySet === srcMap.keySet ++ tgtMap.keySet)
      // replay: target' = target - deletes - updates + (updates→src) + inserts
      val replayed = tgtMap.keys.filter(k => acts(k) == "noop").map(k => k -> tgtMap(k)) ++
        acts.collect { case (k, "update") => k -> srcMap(k) } ++
        acts.collect { case (k, "insert") => k -> srcMap(k) }
      assert(replayed.toMap === srcMap)
    }
  }

  // ---- change batches: latestPerKey + classifyCdc ----

  test("classifyCdc treats absence-from-batch as unchanged, never delete") {
    val snapshot = Seq((1, "a", 1L), (2, "b", 1L))
      .toDF("pk_id", "resource_id", "version_id")
    val batch = Seq(("a", 2L, "pa2")).toDF("resource_id", "version_id", "resource")
    val actions = Reconcile.classifyCdc(batch, snapshot)
      .select("resource_id", "action").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(actions == Map("a" -> "update"), // b absent → no row at all
      "CDC classify must only emit rows for keys present in the batch")
  }

  test("latestPerKey resolves same-version tombstone/upsert ties to the upsert") {
    // malformed feed: tombstone and upsert carry the SAME version for "a";
    // resolution must be deterministic (upsert wins), not row-order luck —
    // exercised in both arrival orders.
    val fwd = Seq(("a", 3L, Some("pa3")), ("a", 3L, None), ("b", 1L, None))
      .toDF("resource_id", "version_id", "resource")
    val rev = Seq(("a", 3L, None), ("a", 3L, Some("pa3")), ("b", 1L, None))
      .toDF("resource_id", "version_id", "resource")
    for (batch <- Seq(fwd, rev)) {
      val got = Reconcile.latestPerKey(batch)
        .collect().map(r => r.getString(0) -> Option(r.getString(2))).toMap
      assert(got === Map("a" -> Some("pa3"), "b" -> None))
    }
    // a strictly newer tombstone still beats an older upsert
    val newer = Seq(("a", 2L, Some("pa2")), ("a", 3L, None))
      .toDF("resource_id", "version_id", "resource")
    val gotNewer = Reconcile.latestPerKey(newer)
      .collect().map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(gotNewer === Map("a" -> None))
  }

  test("a classifyCdc batch routes into the three JDBC statement shapes") {
    StmtCollector.clear()
    val snapshot = Seq((7, "upd", 1L), (8, "del", 1L), (9, "same", 1L))
      .toDF("pk_id", "resource_id", "version_id")
    val batch = Seq(
      ("new", 1L, "payload-new"),
      ("upd", 2L, "payload-upd"),
      ("del", 2L, null.asInstanceOf[String]),
      ("same", 1L, "payload-noop"))
      .toDF("resource_id", "version_id", "resource")
    val (_, executions) = executionsOf(spark)(JdbcUpsertProvider.append(
      Reconcile.classifyCdc(batch, snapshot), "patient",
      Map("connector" -> classOf[StmtCollectorConnector].getName)))
    // one batch, one SQL execution: the graft-jdbc-upsert append
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

  test("a CDC batch applies inserts, updates, tombstones; replaying it is all noops") {
    def json(id: String, v: Long) = s"""{"id":"$id","meta":{"versionId":"$v"}}"""
    PgLiteStore.clear()
    Seq(json("upd", 1), json("del", 1), json("same", 1))
      .foreach(PgLiteStore.put("patient", _))
    // a within-batch version race on "a" (only v2 applies), an update, a
    // tombstone for a present key and one for an absent key, a same-version
    // replay
    val batch = Seq(
      ("a", 1L, json("a", 1)), ("a", 2L, json("a", 2)),
      ("upd", 2L, json("upd", 2)), ("del", 2L, null.asInstanceOf[String]),
      ("zz", 5L, null.asInstanceOf[String]), ("same", 1L, json("same", 1)))
      .toDF("resource_id", "version_id", "resource")
    def classified() = Reconcile.classifyCdc(Reconcile.latestPerKey(batch),
      PgLiteStore.snapshot(spark)("patient"))
    def actionsOf(df: DataFrame) = df.select("resource_id", "action").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val first = classified()
    assert(actionsOf(first) === Map("a" -> "insert", "upd" -> "update",
      "del" -> "delete", "zz" -> "noop", "same" -> "noop"))
    JdbcUpsertProvider.append(first, "patient",
      Map("connector" -> classOf[PgLiteConnector].getName))
    assert(PgLiteStore.rows("patient").values.toSet ===
      Set(json("a", 2), json("upd", 2), json("same", 1)))
    // the same batch again: every key is already applied
    assert(actionsOf(classified()).values.toSet === Set("noop"))
  }
}

package graft.diff

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Unit + property tests of the diff classifier — the semantics pinned by
  * the reference (`src/main.rs:159-175`, `227-248`, `278-282`; FIXTURES.md
  * §B corpus).
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
}

package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkTestSession

class BehavioralQualitySpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  // ---- funnel kernel ----

  test("funnel gates each stage on the previous stage's anchor time") {
    val spark2 = spark
    import spark2.implicits._
    // u1 completes a→b; u2 has b BEFORE its a (no conversion at stage b);
    // u3 never reaches a; u4 completes both, events arrive out of order.
    val events = Seq(
      (1L, "a", ts(10)), (1L, "b", ts(20)),
      (2L, "b", ts(5)), (2L, "a", ts(10)),
      (3L, "b", ts(1)),
      (4L, "b", ts(40)), (4L, "a", ts(30))
    ).toDF("user_id", "event_type", "ts")
    val got = Behavioral.funnel(events, Seq("a", "b"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // stage a: u1, u2, u4; stage b at-or-after a: u1, u4
    assert(got === Map("a" -> 3L, "b" -> 2L))
  }

  test("funnel anchor is the EARLIEST qualifying event, not any event") {
    val spark2 = spark
    import spark2.implicits._
    // u1's first b is before a, second b after — converts via the later b;
    // the c stage must gate on that later b (ts 30), so c@25 fails.
    val events = Seq(
      (1L, "a", ts(10)), (1L, "b", ts(5)), (1L, "b", ts(30)), (1L, "c", ts(25))
    ).toDF("user_id", "event_type", "ts")
    val got = Behavioral.funnel(events, Seq("a", "b", "c"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got === Map("a" -> 1L, "b" -> 1L, "c" -> 0L))
  }

  // ---- pattern scan kernel ----

  test("patternScan counts docs-matched and total matches per (lang, pattern)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "en", "aaa bbb aaa"),
      (2L, "en", "ccc"),
      (3L, "de", "aaa")
    ).toDF("doc_id", "lang", "text")
    val got = Quality.patternScan(docs, Seq("p_a" -> "(aaa)", "p_x" -> "(xyz)"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === Map(
      ("de", "p_a") -> ((1L, 1L)), ("de", "p_x") -> ((0L, 0L)),
      ("en", "p_a") -> ((1L, 2L)), ("en", "p_x") -> ((0L, 0L))))
  }

  // ---- overlap pairs vs brute force ----

  test("property: bucketed overlap-pair count equals the naive range self-join") {
    val spark2 = spark
    import spark2.implicits._
    val gen = Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 2000L))
    (0 until 3).foreach { i =>
      val rows = Gen.listOfN(60, gen)(Gen.Parameters.default, Seed(7L + i)).get
        .distinct.zipWithIndex.map { case ((u, t), id) => (u, id.toLong, t) }
      val ev = rows.toDF("user_id", "event_id", "tsec")
        .withColumn("bucket", expr("tsec div 300"))
      val l = ev.select(col("user_id"), col("event_id").as("id_a"),
        col("tsec").as("ta"),
        explode(array(col("bucket"), col("bucket") + 1)).as("jb"))
      val r = ev.select(col("user_id"), col("event_id").as("id_b"),
        col("tsec").as("tb"), col("bucket").as("jb"))
      val got = l.join(r, Seq("user_id", "jb"))
        .filter(col("id_a") =!= col("id_b") && abs(col("ta") - col("tb")) <= 300)
        .select(col("user_id"), least(col("id_a"), col("id_b")),
          greatest(col("id_a"), col("id_b")))
        .distinct().count()
      val expect = (for {
        a <- rows; b <- rows
        if a._1 == b._1 && a._2 < b._2 && math.abs(a._3 - b._3) <= 300
      } yield 1).size.toLong
      assert(got === expect, s"seed ${7L + i}")
    }
  }

  // ---- Z-order interleave ----

  test("property: zcode interleave matches a reference bit loop and inverts") {
    val spark2 = spark
    import spark2.implicits._
    def ref(q0: Int, q1: Int): Int =
      (0 until 8).map(j => (((q0 >> j) & 1) << (2 * j)) | (((q1 >> j) & 1) << (2 * j + 1))).sum
    val pairs = Gen.listOfN(50, Gen.zip(Gen.choose(0, 255), Gen.choose(0, 255)))(
      Gen.Parameters.default, Seed(21L)).get
    val got = pairs.toDF("q0", "q1")
      .withColumn("zcode", expr(
        """aggregate(sequence(0, 7), 0, (acc, j) ->
          |  acc + shiftleft(shiftright(q0, j) % 2, 2*j)
          |      + shiftleft(shiftright(q1, j) % 2, 2*j + 1))""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    got.foreach { case (q0, q1, z) =>
      assert(z === ref(q0, q1), s"($q0,$q1)")
      // invertibility: de-interleave recovers both dims (no information loss)
      val back0 = (0 until 8).map(j => ((z >> (2 * j)) & 1) << j).sum
      val back1 = (0 until 8).map(j => ((z >> (2 * j + 1)) & 1) << j).sum
      assert((back0, back1) === ((q0, q1)))
    }
  }

  // ---- q214's state model against a real stream ----

  test("q214's trailing-window state model matches the real stream-stream join state") {
    // The q214/q236 claim, executed: q214 budgets stream-state as "rows
    // whose event time is inside the trailing watermark window of the
    // running max event time". Here the q236-shaped join (clicks within
    // the hour before a purchase, 2h watermarks) runs for real on a
    // MemoryStream, and StreamingQueryProgress.stateOperators is
    // asserted against that model with EXACT bounds:
    //  - purchases retained  iff p_ts >= wm       (all earlier clicks arrived)
    //  - clicks retained     iff c_ts >= wm - 1h  (may match a purchase 1h later)
    // evaluated at the watermark the final batch evicted with (state
    // cleanup in batch N uses the watermark computed after batch N-1).
    val spark2 = spark
    import spark2.implicits._
    import BehavioralQualitySpec.Event
    val input = MemoryStream[Event](spark2)
    val events = input.toDF()
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val q = purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "click_id")
      .writeStream.format("memory").queryName("statebudget")
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 08:00:00").getTime
    def mk(i: Int) = Event(i.toLong, new Timestamp(t0 + i * 30000L),
      (i % 3).toLong, if (i % 2 == 0) "click" else "purchase")
    def wmMs(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.eventTime.get("watermark")).toEpochMilli
    try {
      input.addData((0 until 180).map(mk): _*)
      q.processAllAvailable()
      input.addData((180 until 240).map(mk): _*)
      q.processAllAvailable()
      // sentinel at i=400 (11:20): advances the watermark to 09:20 —
      // INSIDE the bulk, so the eviction frontier splits it nontrivially
      input.addData(mk(400))
      q.processAllAvailable()
      // the next batch RUNS the eviction at that watermark; its progress
      // reports the watermark it evicted WITH
      input.addData(mk(401))
      q.processAllAvailable()
      val prog = q.lastProgress
      val observed = prog.stateOperators.apply(0).numRowsTotal
      val wmUsed = wmMs(prog)
      assert(wmUsed > t0, "sentinel must have advanced the watermark")
      assert(wmUsed < mk(239).ts.getTime, "frontier must split the bulk")

      val all = ((0 until 240) ++ Seq(400, 401)).map(mk)
      def model(wm: Long): Long =
        all.count(e => e.event_type == "purchase" && e.ts.getTime >= wm) +
          all.count(e => e.event_type == "click" && e.ts.getTime >= wm - 3600000L)
      // boundary rows (ts exactly AT a frontier) may fall either side of
      // Spark's internal </<= choice — the one exactness caveat
      val boundary = all.count(e =>
        (e.event_type == "purchase" && e.ts.getTime == wmUsed) ||
        (e.event_type == "click" && e.ts.getTime == wmUsed - 3600000L))
      assert(observed <= model(wmUsed) && observed >= model(wmUsed) - boundary,
        s"state $observed outside [${model(wmUsed) - boundary}, ${model(wmUsed)}] " +
        s"(wmUsed=$wmUsed, boundary=$boundary)")
    } finally q.stop()
  }
}

object BehavioralQualitySpec {
  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.source.Tables

/** Accuracy contracts for the approximate operators: the scale path
  * (sketches) must stay within its documented error of the exact answer
  * the oracle-verified queries compute. This is what licenses swapping
  * `percentile` → `percentile_approx` and `count(distinct)` →
  * `approx_count_distinct` at 100 TB.
  */
class SketchAccuracySpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  test("approx_percentile tracks exact interpolated quantiles within 2% rank error") {
    val rows = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.9)").as("exact"),
        expr("approx_percentile(value, 0.9, 1000)").as("approx"),
        expr("percentile_approx(value, array(0.5), 1000)[0]").as("approx50"),
        expr("percentile(value, 0.5)").as("exact50"),
        // 2% rank error at accuracy=1000 → compare against the exact
        // values at the rank-error band edges
        expr("percentile(value, 0.88)").as("lo"),
        expr("percentile(value, 0.92)").as("hi"),
        expr("percentile(value, 0.48)").as("lo50"),
        expr("percentile(value, 0.52)").as("hi50"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi, ap) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"),
        r.getAs[Double]("approx"))
      assert(ap >= lo && ap <= hi,
        s"${r.get(0)}: p90 approx $ap outside rank band [$lo,$hi]")
      val (lo5, hi5, ap5) = (r.getAs[Double]("lo50"), r.getAs[Double]("hi50"),
        r.getAs[Double]("approx50"))
      assert(ap5 >= lo5 && ap5 <= hi5,
        s"${r.get(0)}: p50 approx $ap5 outside rank band [$lo5,$hi5]")
    }
  }

  test("approx_count_distinct stays within 5% of the exact distinct count") {
    val r = Tables.lineitem(spark, dir)
      .agg(countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      .collect().head
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05,
      s"HLL estimate $approx vs exact $exact")
  }

  // ---- KMV: the min-K fold q316 and q325 share ----

  private def hashesOf(sk: Sketches.KmvSketch): Set[Long] =
    sk.hashes.collect().map(_.getLong(0)).toSet

  private def fold(batches: Seq[Seq[Long]]): Sketches.KmvSketch = {
    val spark2 = spark
    import spark2.implicits._
    batches.foldLeft(Sketches.emptySketch(spark)) { (sk, b) =>
      Sketches.mergeBatch(b.toDF("key"), sk)
    }
  }

  test("mergeBatch: min-K fold is associative, order-independent, idempotent") {
    val b1 = (1L to 300L).toSeq
    val b2 = (200L to 500L).toSeq   // overlaps b1
    val b3 = Seq(7L, 9000L, 9001L)  // 7 repeats b1
    val oneShot = fold(Seq(b1 ++ b2 ++ b3))
    val folded = fold(Seq(b1, b2, b3))
    val reordered = fold(Seq(b3, b1, b2))
    val replayed = fold(Seq(b1, b2, b3, b2))
    assert(hashesOf(folded) === hashesOf(oneShot))
    assert(hashesOf(reordered) === hashesOf(oneShot))
    assert(hashesOf(replayed) === hashesOf(oneShot))
    // 502 distinct keys > K: the sketch sits exactly at capacity
    assert(hashesOf(oneShot).size === Sketches.KmvK)
    graft.util.QueryCaches.drain()
  }

  test("estimate: exact below capacity, calibrated at capacity") {
    val small = fold(Seq((1L to 100L).toSeq))
    val rs = Sketches.estimate(small).collect()(0)
    assert(rs.getLong(0) === 100L)
    assert(rs.getDouble(1) === 100.0, "below K the sketch IS the key set")
    val big = fold(Seq((1L to 5000L).toSeq))
    val rb = Sketches.estimate(big).collect()(0)
    assert(rb.getLong(0) === Sketches.KmvK.toLong)
    // deterministic md5 draw; KMV stderr ~ 1/sqrt(K-1) = 6.3%
    assert(math.abs(rb.getDouble(1) - 5000.0) / 5000.0 < 0.25,
      s"estimate ${rb.getDouble(1)} too far from 5000")
    graft.util.QueryCaches.drain()
  }

  test("q325 runs no job before its action") {
    Tables.events(spark, dir) // the schema catalog's one inference job
    try {
      val (q, jobs) = graft.ExecutedPlans.jobsOf(spark)(
        graft.SparkEntry.queries("q325_kmv_replay")(spark, dir))
      assert(jobs === 0, "building q325 must run no job")
      val rows = q.collect()
      assert(rows.map(_.getAs[Int]("batch")).toSeq === (0 to 3))
      rows.foreach { r =>
        // sf0.01 holds fewer than K users: the exact branch
        assert(r.getAs[Long]("k_filled") === r.getAs[Long]("n_exact"))
        assert(r.getAs[Double]("est") === r.getAs[Long]("n_exact").toDouble)
      }
    } finally graft.util.QueryCaches.drain()
  }
}

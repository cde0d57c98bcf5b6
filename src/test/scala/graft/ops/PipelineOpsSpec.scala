package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkTestSession

class PipelineOpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  // ---- as-of join kernel ----

  test("asOfJoin attaches the latest at-or-before right row, inclusive at ties") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq(
      (1L, 10L, "p1"), // exact tie with right ts=10 → inclusive match
      (1L, 11L, "p2"), // between right rows → picks the earlier ts=10
      (1L, 15L, "p5"), // after both right rows → picks the latest ts=12
      (1L, 5L, "p3"),  // before any right row → null
      (2L, 99L, "p4")  // key with no right rows at all → null
    ).toDF("k", "ts", "pid")
    val right = Seq((1L, 10L, "r10"), (1L, 12L, "r12")).toDF("k", "ts", "rv")
    val got = AsOf.asOfJoin(left, right, "k", "ts")
      .select("pid", "rv").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("p1" -> "r10", "p2" -> "r10", "p5" -> "r12",
      "p3" -> null, "p4" -> null))
  }

  test("property: asOfJoin equals brute-force latest-at-or-before") {
    val spark2 = spark
    import spark2.implicits._
    val row = Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 30L))
    (0 until 3).foreach { i =>
      val ls = Gen.listOfN(40, row)(Gen.Parameters.default, Seed(3L + i)).get
        .zipWithIndex.map { case ((k, t), id) => (k, t, id.toLong) }
      val rsRaw = Gen.listOfN(25, row)(Gen.Parameters.default, Seed(103L + i)).get
        .zipWithIndex.map { case ((k, t), id) => (k, t, id.toLong + 1000) }
      // deterministic contract: one right row per (k, ts)
      val rs = rsRaw.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
      val got = AsOf.asOfJoin(
          ls.toDF("k", "ts", "lid"), rs.toDF("k", "ts", "rid"), "k", "ts")
        .collect().map(r => r.getLong(2) ->
          (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      val expect = ls.map { case (k, t, lid) =>
        val m = rs.filter(r => r._1 == k && r._2 <= t)
        lid -> (if (m.isEmpty) -1L else m.maxBy(r => (r._2, r._3))._3)
      }.toMap
      assert(got === expect, s"seed ${3L + i}")
    }
  }

  // ---- connected components kernel ----

  test("connectedComponents labels chain, triangle, pair, and respects min-id") {
    val spark2 = spark
    import spark2.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (pair)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // adaptive local (driver union-find) path
    val local = TextDedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === expect)
    // distributed label-propagation path must agree exactly
    val dist = TextDedup.connectedComponentsDistributed(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === expect)
  }

  test("connectedComponents checkpoints RELIABLY when spark.graft.checkpointDir is set") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      val got = TextDedup.connectedComponentsDistributed(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // Reliable checkpoint = RDD data written under the configured dir
      // (localCheckpoint leaves it empty: blocks live only on executors).
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val nFiles = try stream.filter(java.nio.file.Files.isRegularFile(_)).count()
                   finally stream.close()
      assert(nFiles > 0, s"expected reliable checkpoint files under $dir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("truncate with a checkpoint dir: no job at call time, reliable files after an action") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-lazy").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val (cut, jobs) = graft.ExecutedPlans.jobsOf(spark)(
        graft.util.Lineage.truncate(spark.range(100).toDF("id")))
      assert(jobs === 0, "truncate must not run a job on a plan with no Exchange")
      assert(cut.count() === 100L)
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val nFiles = try stream.filter(java.nio.file.Files.isRegularFile(_)).count()
                   finally stream.close()
      assert(nFiles > 0, s"expected reliable checkpoint files under $dir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("truncate runs the plan's shuffle stage at call time; a projection over a cut runs none") {
    // Under AQE a lazy checkpoint executes the plan to get its RDD, and
    // that runs every shuffle stage: one Exchange here, so one job. Only
    // the final stage waits for the action that reads the cut.
    val (cut, jobs) = graft.ExecutedPlans.jobsOf(spark)(graft.util.Lineage
      .truncate(spark.range(1000).groupBy((col("id") % 7).as("k")).count()))
    assert(jobs === 1, "one job per shuffle stage at call time")
    val (again, projJobs) = graft.ExecutedPlans.jobsOf(spark)(
      graft.util.Lineage.truncate(cut.select((col("k") + 1).as("k1"))))
    assert(projJobs === 0, "a projection over a cut has no stage to run")
    assert(cut.count() === 7L)
    assert(again.count() === 7L)
  }

  test("q233/q237 iterative rounds checkpoint RELIABLY when spark.graft.checkpointDir is set") {
    // The k-core peeling and power-iteration loops route every round
    // through util.Lineage (the CC kernel's escape hatch, extracted):
    // with the conf set, rounds must take the reliable-checkpoint path
    // (files on shared storage), not executor-local blocks.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-kcore").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val out = graft.SparkEntry.queries("q233_kcore_curve")(
        spark, "/root/testdata/sf0.001").collect()
      assert(out.length === 5, "five peeling rounds")
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val nFiles = try stream.filter(java.nio.file.Files.isRegularFile(_)).count()
                   finally stream.close()
      assert(nFiles > 0, s"expected reliable checkpoint files under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      graft.util.QueryCaches.drain()
    }
  }

  test("property: connectedComponents equals union-find on random graphs") {
    val spark2 = spark
    import spark2.implicits._
    val edgeGen = Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L))
      .suchThat { case (a, b) => a != b }
    (0 until 3).foreach { i =>
      val edges = Gen.listOfN(20, edgeGen)(Gen.Parameters.default, Seed(11L + i)).get
      val got = TextDedup.connectedComponentsDistributed(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute-force union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = parent.keys.map(x => x -> find(x)).toMap
      assert(got === expect, s"seed ${11L + i}")
    }
  }

  test("asOfJoin rejects payload name collisions and handles empty payloads") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq((1L, 10L, "x")).toDF("k", "ts", "v")
    val right = Seq((1L, 9L, "y")).toDF("k", "ts", "v")
    val err = intercept[IllegalArgumentException] {
      AsOf.asOfJoin(left, right, "k", "ts")
    }
    assert(err.getMessage.contains("collision"))
    // a right side with zero payload columns is legal (pure existence match)
    val bare = Seq((1L, 9L), (1L, 11L)).toDF("k", "ts")
    val got = AsOf.asOfJoin(left, bare, "k", "ts").collect()
    assert(got.map(_.getString(2)).toSeq === Seq("x"))
  }

  test("connectedComponents converges on a 64-deep chain in 10 rounds (pointer jumping)") {
    val spark2 = spark
    import spark2.implicits._
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = TextDedup.connectedComponentsDistributed(edges, maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 63L).map(_ -> 0L).toMap)
  }

  test("connectedComponents throws instead of returning unconverged labels") {
    val spark2 = spark
    import spark2.implicits._
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val err = intercept[IllegalStateException] {
      TextDedup.connectedComponentsDistributed(edges, maxIters = 1)
    }
    assert(err.getMessage.contains("converge"))
  }

  // ---- TopKTagged carries the payload without affecting order ----

  test("TopKTagged orders like TopKByScore and preserves tags") {
    import graft.functions.{ScoredTag, TopKTagged}
    val agg = new TopKTagged(3)
    val data = Seq(ScoredTag(0.1, 5, 50), ScoredTag(0.9, 2, 20),
      ScoredTag(0.9, 1, 10), ScoredTag(0.4, 9, 90), ScoredTag(0.4, 3, 30))
    val expect = Seq(ScoredTag(0.9, 1, 10), ScoredTag(0.9, 2, 20), ScoredTag(0.4, 3, 30))
    assert(data.foldLeft(agg.zero)(agg.reduce) === expect)
    val (l, r) = data.splitAt(2)
    assert(agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce)) === expect)
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Reimplementation-grade semantics for the round-13 additions, in the
  * Round12OpsSpec mold:
  *  - q320's q-digest: the rank-error guarantee on crafted distributions
  *    (uniform / heavy-skew / degenerate), node-count and count-mass
  *    invariants, MERGE keeping the (relaxed) bound, and the Spark
  *    kernel's partitioning-independence — the property that makes the
  *    sketch safe to build distributed;
  *  - q321's flat HDBSCAN cut: plain-Scala union-find replay over the
  *    collected sf0.001 MSF must reproduce the distributed clustering
  *    row-for-row;
  *  - q322's BPE training loop: a sequential plain-Scala replay of the
  *    32 merges must reproduce the per-step curve exactly;
  *  - q319's degenerate calibration branch (round-12 ADVICE item 2):
  *    n_cal below the order statistic must yield the +∞ threshold and
  *    coverage 1, never a silent 0;
  *  - q308's non-convergence guard (round-12 verdict item 8): an
  *    over-cap graph must THROW, never return a partial MSF.
  */
class Round13OpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  // ---------------------------------------------------------------- q320

  private val QdL = 12
  private val sfDir = "/root/testdata/sf0.001"

  /** Plain-Scala digest quantile: min upper-bound whose (ub, lvl)-ordered
    * cumulative count reaches the target rank — the spec's independent
    * mirror of the dcum/est dataflow.
    */
  private def digestQuantile(dig: Seq[(Int, Long, Long)],
      target: Long): Long = {
    val nodes = dig.map { case (l, i, c) => ((i + 1) * (1L << l) - 1, l, c) }
      .sortBy(t => (t._1, t._2))
    var cum = 0L
    nodes.find { t => cum += t._3; cum >= target }.get._1
  }

  private def checkBound(values: Seq[Long], dig: Seq[(Int, Long, Long)],
      slack: Long): Unit = {
    val n = values.size.toLong
    assert(dig.map(_._3).sum === n, "digest must conserve count mass")
    for (pct <- Seq(1, 25, 50, 75, 99)) {
      val target = (pct * n + 99) / 100
      val est = digestQuantile(dig, target)
      val rankLe = values.count(_ <= est).toLong
      val rankLt = values.count(_ < est).toLong
      assert(rankLe >= target, s"pct=$pct: digest quantile undershot")
      assert(rankLt < target + slack,
        s"pct=$pct: overshoot ${rankLt - target} >= slack $slack")
    }
  }

  test("q320 compress: rank bound L*sigma on uniform, skewed, degenerate") {
    // uniform: every universe value once — maximal tree churn
    val uni = (0L until 4096L).toSeq
    val sigU = math.max(1L, uni.size / 64)
    val digU = Sketches.qdigestCompress(uni.map(v => (0, v, 1L)), sigU)
    checkBound(uni, digU, QdL * sigU)
    assert(digU.size <= 3 * 64 + QdL + 1, "classic 3k node bound")
    // non-leaf digest nodes carry < sigma (the smear-bound ingredient)
    assert(digU.filter(_._1 > 0).forall(_._3 < sigU))

    // heavy skew: one hot value, a warm value, a sparse tail
    val skew = Seq.fill(5000)(100L) ++ Seq.fill(300)(101L) ++
      (0L until 200L).map(_ * 20L)
    val sigS = math.max(1L, skew.size / 64)
    val leavesS = skew.groupBy(identity).toSeq
      .map { case (v, vs) => (0, v, vs.size.toLong) }
    val digS = Sketches.qdigestCompress(leavesS, sigS)
    checkBound(skew, digS, QdL * sigS)

    // degenerate: a single value — digest is that leaf, est exact
    val one = Seq.fill(1000)(4095L)
    val digO = Sketches.qdigestCompress(Seq((0, 4095L, 1000L)),
      math.max(1L, 1000L / 64))
    assert(digO === Seq((0, 4095L, 1000L)))
    checkBound(one, digO, QdL * 15L)
  }

  test("q320 merge: node-wise union + recompress keeps the relaxed bound") {
    val a = (0L until 2048L).toSeq ++ Seq.fill(800)(70L)
    val b = Seq.fill(3000)(3000L) ++ (2048L until 2448L).toSeq
    def leaves(vs: Seq[Long]) = vs.groupBy(identity).toSeq
      .map { case (v, g) => (0, v, g.size.toLong) }
    val sigA = math.max(1L, a.size / 64)
    val sigB = math.max(1L, b.size / 64)
    val sigM = math.max(1L, (a.size + b.size) / 64)
    val digA = Sketches.qdigestCompress(leaves(a), sigA)
    val digB = Sketches.qdigestCompress(leaves(b), sigB)
    val merged = Sketches.qdigestCompress(digA ++ digB, sigM)
    // merged non-leaf node counts < sigA + sigB + sigM -> smear slack
    assert(merged.filter(_._1 > 0).forall(_._3 < sigA + sigB + sigM))
    checkBound(a ++ b, merged, QdL * (sigA + sigB + sigM))
    assert(merged.map(_._3).sum === (a.size + b.size).toLong)
  }

  test("q320 summary: partitioning-independent and exact below sigma=1") {
    val s = spark
    import s.implicits._
    val rows = (1 to 500).map(i => ("big", (i % 97).toLong * 40L)) ++
      (1 to 30).map(i => ("small", i.toLong))
    def run(parts: Int): Seq[org.apache.spark.sql.Row] = {
      val out = Sketches.qdigestSummary(
          rows.toDF("source", "v").repartition(parts))
        .collect().toSeq
      graft.util.QueryCaches.drain()
      out
    }
    val p1 = run(1)
    val p7 = run(7)
    assert(p1 === p7, "digest must not depend on input partitioning")
    // the small source (n=30 < 64 -> sigma=1) stays exact: est == exact
    val small = p1.filter(_.getString(0) == "small")
    assert(small.nonEmpty)
    assert(small.forall(r => r.getLong(5) === r.getLong(6)),
      "sigma=1 digest must answer exactly")
    assert(p1.forall(_.getBoolean(10)), "bound_ok must hold on every row")
  }

  test("q320 guard: out-of-universe value raises loudly, never clamps") {
    val s = spark
    import s.implicits._
    val e = intercept[Exception] {
      Sketches.qdigestSummary(
        Seq(("a", 10L), ("a", 4096L)).toDF("source", "v")).collect()
    }
    assert(e.getMessage.contains("q320"),
      s"expected the q320 envelope message, got: ${e.getMessage}")
    graft.util.QueryCaches.drain()
  }

  test("q324: plain-Scala per-source digests + merge replays the registry") {
    val got = graft.SparkEntry.queries("q324_quantile_merge")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getLong(5)).toMap
    graft.util.QueryCaches.drain()
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val perSource = rows.groupBy(_._1).values.toSeq.map { g =>
      val leaves = g.map(_._2).groupBy(identity).toSeq
        .map { case (v, vs) => (0, v, vs.size.toLong) }
      Sketches.qdigestCompress(leaves, math.max(1L, g.size / 64L))
    }
    val nodes = perSource.flatten
    val n = rows.length.toLong
    val merged = Sketches.qdigestCompress(nodes, math.max(1L, n / 64L))
    val expected = Seq(1, 5, 10, 25, 50, 75, 90, 95, 99).map { pct =>
      pct -> digestQuantile(merged, (pct * n + 99) / 100)
    }.toMap
    assert(got === expected)
  }

  // ---------------------------------------------------------------- q321

  test("q321: plain-Scala union-find cut replays the distributed clusters") {
    val msf = graft.SparkEntry.queries("q312_hdbscan_msf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.util.QueryCaches.drain()
    val got = graft.SparkEntry.queries("q321_hdbscan_clusters")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toSeq
    graft.util.QueryCaches.drain()

    val m = msf.length.toLong
    val target = (25L * m + 99L) / 100L
    val lambda = msf.map(_._3).sorted.apply((target - 1).toInt)
    val cut = msf.filter(_._3 <= lambda)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(x: Long, y: Long): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    cut.foreach { case (a, b, _) => union(a, b) }
    val members = cut.flatMap(e => Seq(e._1, e._2)).distinct
      .groupBy(find).map { case (root, vs) => root -> vs.toSet }
    val edgesByRoot = cut.groupBy(e => find(e._1))
    val verts = msf.flatMap(e => Seq(e._1, e._2)).distinct.length.toLong
    val retained = members.filter(_._2.size >= 3).toSeq
      .map { case (root, vs) =>
        val es = edgesByRoot(root)
        (root, vs.size.toLong, es.length.toLong, es.map(_._3).max, lambda)
      }
    val noise = (-1L, verts - retained.map(_._2).sum, 0L, -1L, lambda)
    val expected = (retained :+ noise).sortBy(_._1)
    assert(got.sortBy(_._1) === expected)
  }

  // ---------------------------------------------------------------- q322

  test("q322: sequential plain-Scala replay reproduces the 32-step curve") {
    val got = graft.SparkEntry.queries("q322_bpe_train")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sortBy(_._1)
    graft.util.QueryCaches.drain()

    var docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0).split(" "))
    val expected = (1 to 32).map { k =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      docs.foreach { w =>
        var i = 0
        while (i + 1 < w.length) {
          if (w(i) != w(i + 1))
            counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + 1
          i += 1
        }
      }
      val mx = counts.values.max
      val (pa, pb) = counts.filter(_._2 == mx).keys.min
      docs = docs.map { w =>
        val out = Array.newBuilder[String]
        var i = 0
        while (i < w.length) {
          if (i > 0 && w(i - 1) == pa && w(i) == pb) ()
          else if (w(i) == pa && i + 1 < w.length && w(i + 1) == pb)
            out += s"${pa}_$pb"
          else out += w(i)
          i += 1
        }
        out.result()
      }
      (k, pa, pb, mx, docs.map(_.length.toLong).sum,
        docs.iterator.flatten.toSet.size.toLong)
    }
    assert(got === expected)
  }

  // ---------------------------------------------------------------- q319

  test("q319 degenerate calibration: k_order > n_cal gives +inf and coverage 1") {
    val s = spark
    import s.implicits._
    // n_cal = 3 -> k_order = ceil(0.9 * 4) = 4 > 3: no order statistic
    val kd = Seq((1L, 10L, true), (2L, 20L, true), (3L, 30L, true),
        (4L, 100L, false), (5L, 200L, false))
      .toDF("vec_id", "kdist", "cal")
    val r = Similarity.conformalSummary(kd).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 3L)
    assert(r(0).getLong(2) === 4L, "k_order = (9*(3+1)+9) div 10")
    assert(r(0).getLong(3) === Long.MaxValue,
      "undefined order statistic must coalesce to the +inf quantum")
    assert(r(0).getDouble(4) === 1.0, "conformal convention: coverage 1")
    graft.util.QueryCaches.drain()
  }

  test("q319 boundary: n_cal = 9 uses the max calibration score") {
    val s = spark
    import s.implicits._
    val kd = ((1L to 9L).map(i => (i, i, true)) ++
        Seq((10L, 5L, false), (11L, 100L, false)))
      .toDF("vec_id", "kdist", "cal")
    val r = Similarity.conformalSummary(kd).collect()(0)
    assert(r.getLong(2) === 9L)   // k_order = (9*10+9) div 10 = 9
    assert(r.getLong(3) === 9L)   // 9th smallest of 1..9
    assert(r.getDouble(4) === 0.5)
    graft.util.QueryCaches.drain()
  }

  // ---------------------------------------------------------------- q308

  test("q308 guard: over-cap graph throws instead of returning a partial MSF") {
    val s = spark
    import s.implicits._
    // alternating weights force pair-merging rounds: an 8-vertex path
    // converges only at round 3 (round 1 pairs, round 2 chains, round 3
    // empty probe), so a 2-round cap must fail LOUDLY
    val und = Seq((1L, 2L, 1L), (2L, 3L, 100L), (3L, 4L, 2L),
        (4L, 5L, 101L), (5L, 6L, 3L), (6L, 7L, 102L), (7L, 8L, 4L))
      .toDF("a", "b", "dist_q")
    // pin the DISTRIBUTED loop (the cap guards its rounds); the adaptive
    // local-Kruskal path below the edge bound needs no rounds
    val e = intercept[IllegalArgumentException] {
      Similarity.boruvkaMsfDistributed(und, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    graft.util.QueryCaches.drain()
    // the default cap labels the same graph fine: a path IS its own MSF
    val ok = Similarity.boruvkaMsfDistributed(und).collect()
    assert(ok.length === 7)
    graft.util.QueryCaches.drain()
  }

  test("q308 adaptive paths: local Kruskal ≡ distributed Borůvka") {
    val s = spark
    import s.implicits._
    // 2 components + a cycle edge + a tie broken by (a, b)
    val und = Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 7L), (3L, 4L, 1L),
        (10L, 11L, 2L), (11L, 12L, 9L), (10L, 12L, 9L))
      .toDF("a", "b", "dist_q")
    val local = Similarity.boruvkaMsf(und).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.util.QueryCaches.drain()
    val dist = Similarity.boruvkaMsfDistributed(und).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(local === dist)
    assert(local === Set((1L, 2L, 5L), (2L, 3L, 5L), (3L, 4L, 1L),
      (10L, 11L, 2L), (10L, 12L, 9L)))
    graft.util.QueryCaches.drain()
  }
}

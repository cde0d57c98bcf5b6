package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkTestSession
import graft.functions.{Scored, TopKByScore}

class TopKAndPrefixSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  // ---- TopKByScore: bounded per-group top-k aggregator ----

  test("TopKByScore reduce/merge equal brute-force sort-take on random data") {
    val agg = new TopKByScore(5)
    val rows = Gen.listOfN(200,
      Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0L, 500L)))
    (0 until 10).foreach { i =>
      val data = rows(Gen.Parameters.default, Seed(7L + i)).get
        .groupBy(_._2).map { case (id, vs) => Scored(vs.head._1, id) }.toSeq
      val expect = data.sortBy(s => (-s.score, s.id)).take(5)
      // reduce path
      val red = data.foldLeft(agg.zero)(agg.reduce)
      assert(red === expect)
      // merge path: arbitrary split, partials merged
      val (l, r) = data.splitAt(data.size / 3)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(merged === expect)
    }
  }

  test("TopKByScore breaks score ties by ascending id (oracle order)") {
    val agg = new TopKByScore(3)
    val data = Seq(Scored(0.5, 9), Scored(0.5, 2), Scored(0.5, 7), Scored(0.9, 4))
    assert(data.foldLeft(agg.zero)(agg.reduce) ===
      Seq(Scored(0.9, 4), Scored(0.5, 2), Scored(0.5, 7)))
  }

  test("TopKByScore plans partial + final ObjectHashAggregate (map-side bound)") {
    val spark2 = spark
    import spark2.implicits._
    val topk = udaf(new TopKByScore(2))
    val df = (1 to 100).map(i => (i % 3, i.toDouble, i.toLong)).toDF("g", "score", "id")
      .repartition(4)
      .groupBy("g").agg(topk(col("score"), col("id")).as("tk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    // partial (map-side) + final: two aggregate operators around the exchange
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregation, got:\n$plan")
    val rows = df.collect().map(r => r.getInt(0) ->
      r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1))))
    // every group's top-2 by score desc: ids 100/97 score highest per group
    rows.toMap.foreach { case (g, tk) =>
      val expect = (1 to 100).filter(_ % 3 == g)
        .map(i => (i.toDouble, i.toLong)).sortBy(x => (-x._1, x._2)).take(2)
      assert(tk === expect)
    }
  }

  // ---- q46 hyperplane LSH ----

  test("hyperplane literal matrix equals the md5 derivation computed in SQL — at p=4 AND p=6") {
    val spark2 = spark
    import spark2.implicits._
    // recompute the ±1 matrix with Spark SQL's md5 (the oracle's formula)
    // and compare against the Scala-generated literal, at two plane counts
    // (the adaptive-p path must produce the same per-plane rows)
    for (p <- Seq(4, 6)) {
      val fromSql = spark.range(p).toDF("p")
        .selectExpr("p", """transform(sequence(1,64), j ->
          |  IF(conv(substring(md5(concat(cast(p AS string), '_', cast(j AS string))), 1, 1), 16, 10) % 2 = 0,
          |     1.0D, -1.0D)) AS s""".stripMargin)
        .orderBy("p").collect().map(_.getSeq[Double](1))
      val lit = spark.sql(s"SELECT ${Similarity.hyperplaneLit(p)} AS m")
        .collect()(0).getSeq[scala.collection.Seq[Double]](0)
      assert(lit.map(_.toSeq) === fromSql.map(_.toSeq), s"p=$p")
    }
    // prefix property: plane i's row is independent of the plane count
    assert(Similarity.planeLits(6).take(4) === Similarity.planeLits(4))
  }

  test("planeCountFor: integer-exact corpus-size → plane-count derivation") {
    // pinned table shared with scripts/planes_check.py (the DuckDB twin)
    val expect = Seq(0L -> 4, 1L -> 4, 500L -> 4, 2000L -> 4, 2048L -> 4,
      2049L -> 4, 4096L -> 4, 4097L -> 4, 60000L -> 5, 100000L -> 6,
      1000000L -> 9, 10000000L -> 13, 1000000000L -> 19, 100000000000L -> 26)
    expect.foreach { case (n, p) =>
      assert(Similarity.planeCountFor(n) === p, s"n=$n")
    }
    // block-size invariant: n / 2^p ≤ 2048 whenever p is above the floor
    Seq(5000L, 123457L, 9999999L, 5000000000L).foreach { n =>
      val p = Similarity.planeCountFor(n)
      assert(n.toDouble / math.pow(2, p) <= 2048.0, s"n=$n p=$p")
    }
  }

  test("hyperplane buckets spread the corpus (no degenerate bucket)") {
    val e = graft.source.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .selectExpr("transform(embedding, x -> cast(x AS double)) AS v")
      .selectExpr(s"${Similarity.hyperplaneBucket("v", 4)} AS bucket")
    val counts = e.groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    assert(counts.size >= 8, s"expected most of 16 buckets populated: $counts")
    assert(counts.values.max < total / 2,
      s"one bucket must not swallow half the corpus: $counts")
  }

  // ---- q43/q299 prefix filtering: lossless vs brute force ----

  test("property: prefix-filtered Jaccard join equals brute-force within blocks") {
    val spark2 = spark
    import spark2.implicits._
    // kernel output vs every pair of one block with a defined J ≥ num/den
    def check(corpus: Seq[(Long, Seq[String])], blockCols: Seq[String], num: Int, den: Int,
        mustFind: Seq[(Long, Long)], clue: String): Unit = {
      val sets = corpus.map { case (id, ws) => (id, "en", id % 2, ws.distinct) }
        .toDF("doc_id", "lang", "lb", "sh")
      val got = TextDedup.prefixJoin(sets, blockCols, num, den).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val expect = (for {
        (a, wa) <- corpus; (b, wb) <- corpus
        if a < b && (blockCols.isEmpty || a % 2 == b % 2)
        inter = (wa.toSet & wb.toSet).size
        union = wa.distinct.size + wb.distinct.size - inter
        if union > 0 && den * inter >= num * union
      } yield (a, b, wa.distinct.size.toLong, wb.distinct.size.toLong, inter.toLong)).toSet
      assert(mustFind.toSet.subsetOf(expect.map(p => (p._1, p._2))), s"$clue: fixture lost a pair")
      assert(got === expect, clue)
    }
    // small vocab forces overlap; random sets with skewed token frequency
    val word = Gen.frequency(
      (8, Gen.const("the")), (8, Gen.const("of")), // hot tokens → suffix
      (1, Gen.oneOf("ablation", "bucket", "codegen", "dedup", "executor",
        "fanout", "graft", "hashing", "ivf", "jaccard")))
    val docGen = Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, word))
    val corpusGen = Gen.listOfN(30, docGen)
    // fixed docs 100-105: J(100,102) = 2/5 and J(101,103) = 4/5 exactly
    // (same block each), and 104 has an empty set
    val fixed = Seq(100L -> Seq("x1", "x2", "x3", "x4"), 101L -> Seq("y1", "y2", "y3", "y4", "y5"),
      102L -> Seq("x1", "x2", "x5"), 103L -> Seq("y1", "y2", "y3", "y4"), 104L -> Nil)
    (0 until 5).foreach { i =>
      val corpus = corpusGen(Gen.Parameters.default, Seed(19L + i)).get
        .zipWithIndex.map { case (ws, id) => id.toLong -> ws } ++ fixed
      // q43's shape: blocked, here two blocks (lb = doc_id % 2)
      check(corpus, Seq("lang", "lb"), 2, 5, Seq(100L -> 102L, 101L -> 103L), s"2/5 seed ${19L + i}")
      // q299's shape: unblocked 4/5, with one-token edits of every doc so
      // that pairs near the threshold exist
      val edited = corpus.map { case (id, ws) => (id + 1000L) -> (ws.drop(1) :+ s"e$id") }
      check(corpus ++ edited, Nil, 4, 5, Seq(101L -> 103L), s"4/5 seed ${19L + i}")
    }
  }

  test("a candidate pair of two empty shingle sets scores NULL Jaccard, not an error") {
    val spark2 = spark
    import spark2.implicits._
    // two documents of fewer than 3 words: both shingle sets are empty,
    // so J = 0/0; DuckDB answers NULL and a plain `/` throws under ANSI
    val sets = Seq((1L, Seq.empty[String]), (2L, Seq.empty[String]), (3L, Seq("a b c")))
      .toDF("doc_id", "sh")
    val cand = Seq((1L, 2L, 0.9), (1L, 3L, 0.5)).toDF("doc_a", "doc_b", "cos_sim")
    val got = TextDedup.jaccardScored(cand, sets).orderBy("doc_a", "doc_b").collect()
    assert(got.map(_.toSeq) === Seq(Seq(1L, 2L, 0.9, null), Seq(1L, 3L, 0.5, 0.0)))
  }
}

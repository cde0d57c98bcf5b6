package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestSession}

class CorpusPrepSpec extends AnyFunSuite
  with org.scalatest.BeforeAndAfterEach {

  private val spark = SparkTestSession.spark

  // Kernels under test persist intra-query intermediates via
  // QueryCaches.tracked; outside the Bench/Verify drivers nothing drains
  // them, so repeated invocations here would accumulate cached frames for
  // the session's lifetime.
  override def afterEach(): Unit = graft.util.QueryCaches.drain()

  // ---- merkle fingerprint (q105 kernel) ----

  test("fingerprint: identical snapshots agree on every bucket") {
    val spark2 = spark
    import spark2.implicits._
    val snap = (1 to 200).map(i => (s"id-$i", i.toLong))
      .toDF("resource_id", "version_id")
    val a = MerkleDiff.fingerprint(snap).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val b = MerkleDiff.fingerprint(snap).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(a === b)
    assert(a.keys.forall(k => k >= 0 && k < MerkleDiff.NumBuckets))
  }

  test("fingerprint: one version bump dirties exactly one bucket") {
    val spark2 = spark
    import spark2.implicits._
    val base = (1 to 200).map(i => (s"id-$i", i.toLong))
    val bumped = base.map { case (id, v) => if (id == "id-137") (id, v + 1) else (id, v) }
    val fa = MerkleDiff.fingerprint(base.toDF("resource_id", "version_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fb = MerkleDiff.fingerprint(bumped.toDF("resource_id", "version_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val dirty = fa.keySet.union(fb.keySet).filter(k => fa.get(k) != fb.get(k))
    assert(dirty.size === 1)
    // counts unchanged — only the digest moved
    val k = dirty.head
    assert(fa(k)._1 === fb(k)._1)
    assert(fa(k)._2 !== fb(k)._2)
  }

  test("fingerprint: insert and delete both move the bucket row count") {
    val spark2 = spark
    import spark2.implicits._
    val base = (1 to 50).map(i => (s"id-$i", i.toLong))
    val plus = base :+ ("id-extra", 7L)
    val fa = MerkleDiff.fingerprint(base.toDF("resource_id", "version_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fb = MerkleDiff.fingerprint(plus.toDF("resource_id", "version_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fb.values.sum === fa.values.sum + 1)
  }

  test("incrementalFingerprint(old + delta) equals a direct fingerprint of new") {
    val spark2 = spark
    import spark2.implicits._
    // old: ids 1..100; new: 5 deleted, 5 inserted, 7 version-bumped
    val old_ = (1 to 100).map(i => (s"id-$i", i.toLong))
    val neu = (6 to 105).map { i =>
      (s"id-$i", if (i % 13 == 0) i.toLong + 2 else i.toLong)
    }
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val inc = key(MerkleDiff.incrementalFingerprint(
      old_.toDF("resource_id", "version_id"), neu.toDF("resource_id", "version_id")))
    val direct = key(MerkleDiff.fingerprint(neu.toDF("resource_id", "version_id")))
    assert(inc === direct)
  }

  test("q113 profile surfaces the corpus dirt: ids and versions partially absent/non-numeric") {
    val rows = SparkEntry.queries("q113_json_profile")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (nRows, idPresent, _) = rows("$.id")
    val (_, verPresent, verNumeric) = rows("$.meta.versionId")
    assert(idPresent < nRows)        // l_orderkey % 97 == 0 rows lack id
    assert(verNumeric < verPresent)  // l_orderkey % 89 == 0 rows carry 'x'
    assert(rows("$.resourceType") === ((nRows, nRows, 0L)))
  }

  // ---- chunking (q107 kernel) ----

  test("chunk: windows tile the document and reconstruct it via stride concat") {
    val spark2 = spark
    import spark2.implicits._
    val words = (1 to 97).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val rows = CorpusPrep.chunk(docs, win = 40, stride = 30)
      .orderBy("chunk_idx").collect()
    // ceil-ish count: starts at 0,30,60,90 for 97 words
    assert(rows.map(_.getLong(2)).toSeq === Seq(0L, 30L, 60L, 90L))
    // every chunk ≤ win tokens, and the last is the remainder
    assert(rows.forall(_.getLong(3) <= 40L))
    assert(rows.last.getLong(3) === 7L)
    // concatenating each chunk's FIRST `stride` tokens (all of the last
    // chunk) reproduces the document exactly
    val rebuilt = rows.flatMap { r =>
      val toks = r.getString(4).split(" ")
      if (r.getLong(2) == 90L) toks else toks.take(30)
    }
    assert(rebuilt.toSeq === words)
  }

  test("chunk: single short document yields one whole-text chunk") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((9L, "a b c")).toDF("doc_id", "text")
    val rows = CorpusPrep.chunk(docs, win = 40, stride = 30).collect()
    assert(rows.length === 1)
    assert(rows.head.getString(4) === "a b c")
    assert(rows.head.getLong(3) === 3L)
  }

  // ---- exact-substring pairs (q109 kernel) ----

  test("substringPairs finds a planted 13-token overlap and counts its grams") {
    val spark2 = spark
    import spark2.implicits._
    val run = (1 to 15).map(i => s"x$i").mkString(" ") // 15 shared tokens
    val docs = Seq(
      (1L, s"alpha beta $run gamma"),
      (2L, s"$run delta epsilon zeta"),
      (3L, "totally unrelated words only here")
    ).toDF("doc_id", "text")
    val got = CorpusPrep.substringPairs(docs, k = 13, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 15 shared tokens → 3 shared 13-grams
    assert(got.toSeq === Seq((1L, 2L, 3L)))
  }

  test("substringPairs df-cap drops boilerplate grams shared by many docs") {
    val spark2 = spark
    import spark2.implicits._
    val boiler = (1 to 13).map(i => s"b$i").mkString(" ")
    val docs = (1L to 10L).map(i => (i, s"$boiler unique$i"))
      .toDF("doc_id", "text")
    // gram df = 10 > maxDf 5 → no pairs at all
    assert(CorpusPrep.substringPairs(docs, k = 13, maxDf = 5).count() === 0L)
    // raising the cap re-admits them: 10 docs → 45 pairs
    assert(CorpusPrep.substringPairs(docs, k = 13, maxDf = 50).count() === 45L)
  }

  // ---- fuzzy + vocab via the declared queries on real fixtures ----

  test("q106 pairs are within distance 2 and canonically ordered") {
    val rows = SparkEntry.queries("q106_fuzzy_match")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getLong(4) <= 2L))
  }

  test("q110 vocabulary ids are contiguous from 1 in df-descending order") {
    val rows = SparkEntry.queries("q110_vocab_build")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).toSeq === (1L to rows.length).toSeq)
    val dfs = rows.map(_.getLong(1)).toSeq
    assert(dfs === dfs.sorted.reverse)
  }

  test("q156 kernel: verbatim holdout copy leaks 1.0, novel holdout leaks 0") {
    val spark2 = spark
    import spark2.implicits._
    // the same digest-mod bucket the kernel derives, computed driver-side
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 4), 16) % 100
    }
    val ids = 0L until 4000L
    val trainId = ids.find(bucket(_) < 98).get
    val valId = ids.find(bucket(_) == 98).get
    val testId = ids.find(bucket(_) == 99).get
    val valId2 = ids.find(i => bucket(i) == 98 && i != valId).get
    val t1 = (1 to 20).map(i => s"w$i").mkString(" ")   // 8 distinct 13-grams
    val t2 = (1 to 20).map(i => s"x$i").mkString(" ")   // fully novel words
    // first 13-gram window identical to t1's first, the other 7 windows
    // each contain a novel word
    val tMix = ((1 to 13).map(i => s"w$i") ++ (1 to 7).map(i => s"n$i")).mkString(" ")
    val docs = Seq((trainId, t1), (valId, t1), (testId, t2), (valId2, tMix))
      .toDF("doc_id", "text")
    val out = CorpusPrep.splitLeakage(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(valId) === (("val", 8L, 8L)), "verbatim train copy: every gram leaks")
    assert(out(testId) === (("test", 8L, 0L)), "novel doc: nothing leaks")
    assert(out(valId2) === (("val", 8L, 1L)), "only the one shared train window leaks")
    assert(!out.contains(trainId), "train docs are never audited")
  }
}

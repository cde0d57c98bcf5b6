package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** r14 optimization-round pins.
  *
  * q322's bounded-hybrid split (the boruvkaMsf discipline): up to a fixed
  * 1M total tokens the training loop runs in the driver-local kernel,
  * above it the distributed single-action-per-round loop runs. The
  * driver's correctness SFs (0.001/0.01) always take the local path, so
  * the DISTRIBUTED loop would be oracle-untested without these pins:
  * [[CorpusPrep.q322Distributed]] forces it, and its output must be
  * value-identical to the local kernel — on the real sf0.001 corpus, on
  * a crafted pair-exhausting corpus that exercises the NULL-rule no-op
  * rounds both engines must degrade to identically, on a non-BMP
  * corpus whose count tie only code-point order breaks the same way, and
  * on a corpus with a NULL-text document, which must count no tokens.
  */
class Round14OpsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val q322 = graft.SparkEntry.queries("q322_bpe_train")

  private def runQ322(dir: String,
      q: (SparkSession, String) => DataFrame = q322): Seq[(Int, String, String,
      java.lang.Long, Long, Long)] = {
    val r = q(spark, dir).collect().map(r => (r.getInt(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)),
        r.getLong(4), r.getLong(5))).toSeq
    graft.util.QueryCaches.drain()
    r
  }

  /** q322 over a crafted `documents` corpus on the local path, pinned
    * equal to the distributed loop; returns the local rows.
    */
  private def bothPathsAgree(docs: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r14-bpe").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val local = runQ322(dir)
    assert(runQ322(dir, CorpusPrep.q322Distributed) === local)
    local
  }

  test("q322: distributed loop (threshold 0) ≡ local kernel on sf0.001") {
    val local = runQ322(sfDir)
    assert(local.size === 32)
    assert(runQ322(sfDir, CorpusPrep.q322Distributed) === local)
  }

  test("q322: non-BMP count ties break in code-point order on both paths") {
    // (x, ｡) and (x, 😀) tie on count 1: code-point order (U+FF61 <
    // U+1F600) picks (x, ｡); UTF-16 order (0xFF61 > 0xD83D) would pick (x, 😀)
    val local = bothPathsAgree(Seq((1L, "x ｡"), (2L, "x 😀")))
    assert((local.head._2, local.head._3) === (("x", "｡")))
  }

  test("mmrGreedy fails loudly above its driver row bound") {
    val s = spark
    import s.implicits._
    val n = Retrieval.MmrMaxRows + 1
    val big = (1 to n).map(i => (1L, i.toLong, 1L)).toDF("query_id", "doc_id", "rel_q")
    val noSims = Seq.empty[(Long, Long, Long, Long)].toDF("query_id", "ca", "cb", "sim_q")
    val e1 = intercept[IllegalArgumentException](Retrieval.mmrGreedy(big, noSims, 5))
    assert(e1.getMessage.contains(s"${Retrieval.MmrMaxRows}-row"), e1.getMessage)
    val bigSims = (1 to n).map(i => (1L, 1L, i.toLong, 1L)).toDF("query_id", "ca", "cb", "sim_q")
    val e2 = intercept[IllegalArgumentException](
      Retrieval.mmrGreedy(big.limit(3), bigSims, 5))
    assert(e2.getMessage.contains(s"${Retrieval.MmrMaxRows}-row"), e2.getMessage)
  }

  test("q322: a NULL-text document adds no tokens on either path") {
    // DuckDB's string_split(NULL) yields no tokens; the local kernel must
    // not throw on it and the distributed pass must not count it
    val docs = Seq((1L, "a b a b"), (2L, "b c"))
    assert(bothPathsAgree(docs :+ ((3L, null))) === bothPathsAgree(docs))
  }

  test("q322: NULL-rule no-op rounds identical on both paths") {
    // few distinct A ≠ B pairs: merges exhaust well before the 32-round
    // budget, so most rounds are NULL-rule no-ops on both paths
    val local = bothPathsAgree(Seq((1L, "a b a b"), (2L, "b c"), (3L, "c c c")))
    assert(local.size === 32)
    assert(local.exists(_._2 == null),
      "crafted corpus must exhaust its pairs inside the budget")
    // accounting must carry through the no-op rounds unchanged
    val lastReal = local.lastIndexWhere(_._2 != null)
    assert(local.drop(lastReal).map(t => (t._5, t._6)).distinct.size === 1)
  }
}

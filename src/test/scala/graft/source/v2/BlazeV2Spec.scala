package graft.source.v2

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Fixture fetcher: serves deterministic pages from url params. Must be a
  * top-level zero-arg class (instantiated by name on executors).
  */
class FixtureFetcher extends PageFetcher {
  override def fetch(url: String): String = {
    val total = 23
    val pageSize = "_count=(\\d+)".r.findFirstMatchIn(url).get.group(1).toInt
    if (pageSize == 0) {
      s"""{"resourceType":"Bundle","type":"searchset","total":$total}"""
    } else {
      val offset = "_getpagesoffset=(\\d+)".r.findFirstMatchIn(url).get.group(1).toInt
      val n = math.max(0, math.min(pageSize, total - offset))
      val entries = (offset until offset + n).map { i =>
        s"""{"resource":{"id":"r$i","meta":{"versionId":"${i % 5}"},"resourceType":"Patient"}}"""
      }.mkString(",")
      s"""{"resourceType":"Bundle","type":"searchset","total":$total,
          |"entry":[$entries]}""".stripMargin
    }
  }
}

/** Page server over an arbitrary corpus of raw resource JSON docs — set
  * by the test, read by name-instantiated fetchers (same JVM in
  * local mode), which record every URL they fetch.
  */
object CorpusPages {
  @volatile var docs: Array[String] = Array.empty
  val fetched = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def serve(corpus: Seq[String]): Unit = {
    docs = corpus.toArray
    fetched.clear()
  }
}

class CorpusFixtureFetcher extends PageFetcher {
  override def fetch(url: String): String = {
    CorpusPages.fetched.add(url)
    val docs = CorpusPages.docs
    val pageSize = "_count=(\\d+)".r.findFirstMatchIn(url).get.group(1).toInt
    if (pageSize == 0)
      s"""{"resourceType":"Bundle","type":"searchset","total":${docs.length}}"""
    else {
      val offset = "_getpagesoffset=(\\d+)".r.findFirstMatchIn(url).get.group(1).toInt
      val entries = docs.slice(offset, offset + pageSize)
        .map(d => s"""{"resource":$d}""").mkString(",")
      s"""{"resourceType":"Bundle","type":"searchset","total":${docs.length},"entry":[$entries]}"""
    }
  }
}

class BlazeV2Spec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  test("e2e: a multi-page V2 scan feeds the exact q01 plan and matches " +
       "the verified parquet-backed result") {
    // The production path (DSv2 blaze source, one InputPartition per
    // page) and the oracle-verified path (q01 over the parquet harness
    // relation) must be ONE plan over two inputs. Serve the sf0.001
    // corpus through the page protocol and drive it through
    // ParityQueries.scanPlan — the very function q01 declares.
    val dir = "/root/testdata/sf0.001"
    CorpusPages.docs = graft.parity.ParityData.sourceResources(spark, dir)
      .collect().map(_.getString(0))
    val v2 = spark.read.format("blaze")
      .option("baseUrl", "http://fixture")
      .option("resourceType", "Observation")
      .option("pageSize", "512")
      .option("fetcher", classOf[CorpusFixtureFetcher].getName)
      .load()
    assert(v2.rdd.getNumPartitions ===
      (CorpusPages.docs.length + 511) / 512,
      "one partition per page, full corpus paged")
    val got = graft.parity.ParityQueries.scanPlan(v2)
      .collect().map(_.getString(0))
    val want = graft.SparkEntry.queries("q01_scan")(spark, dir)
      .collect().map(_.getString(0))
    assert(got.length === want.length)
    assert(got.sameElements(want),
      "V2-scanned corpus must be row-identical through the q01 plan")
  }

  test("DSv2 source plans one partition per page and reads all resources") {
    val df = spark.read.format("blaze")
      .option("baseUrl", "http://fixture")
      .option("resourceType", "Patient")
      .option("pageSize", "10")
      .option("fetcher", classOf[FixtureFetcher].getName)
      .load()

    assert(df.schema.fieldNames.toSeq === Seq("resource"))
    // 23 resources at pageSize 10 → 3 partitions
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === 23)

    val ids = df.selectExpr("get_json_object(resource, '$.id') AS id")
      .collect().map(_.getString(0)).toSet
    assert(ids === (0 until 23).map(i => s"r$i").toSet)
  }

  test("DSv2 source composes with the diff kernel end-to-end") {
    import org.apache.spark.sql.functions._
    val src = spark.read.format("blaze")
      .option("baseUrl", "http://fixture")
      .option("resourceType", "Patient")
      .option("pageSize", "10")
      .option("fetcher", classOf[FixtureFetcher].getName)
      .load()
    val versions = graft.runtime.SyncPipeline.sourceVersions(src)
    assert(versions.count() === 23)
    assert(versions.filter(col("version_id") === 0).count() === 5) // i%5==0: 0,5,10,15,20
  }

  private def recordingDf = spark.read.format("blaze")
    .option("baseUrl", "http://fixture")
    .option("resourceType", "Patient")
    .option("pageSize", "10")
    .option("fetcher", classOf[RecordingFetcher].getName)
    .load()

  test("COUNT(*) pushes down to the _count=0 probe: zero pages fetched") {
    RecordingFetcher.urls.clear()
    assert(recordingDf.count() === 23)
    val fetched = RecordingFetcher.urls.toArray(Array.empty[String]).toSeq
    assert(fetched.size == 1 && fetched.forall(_.contains("_count=0")),
      s"count() must send exactly one _count=0 probe, got: $fetched")
  }

  test("a page scan sends exactly one _count=0 probe") {
    RecordingFetcher.urls.clear()
    assert(recordingDf.collect().length === 23)
    val probes = RecordingFetcher.urls.toArray(Array.empty[String]).toSeq
      .filter(_.contains("_count=0"))
    assert(probes.size === 1, s"a page scan must probe once, got: $probes")
  }

  test("a bad 'pageSize' fails at load on the driver, naming the key") {
    Seq("ten", "0").foreach { v =>
      val e = intercept[IllegalArgumentException](spark.read.format("blaze")
        .option("baseUrl", "http://fixture")
        .option("resourceType", "Patient")
        .option("fetcher", classOf[RecordingFetcher].getName)
        .option("pageSize", v)
        .load())
      assert(e.getMessage.contains("'pagesize'") && e.getMessage.contains(s"'$v'"),
        e.getMessage)
    }
  }

  test("transient page failures are retried in-reader, not escalated to task retry") {
    FlakyFetcher.reset(failuresPerUrl = 2) // each URL fails twice, then heals
    val df = spark.read.format("blaze")
      .option("baseUrl", "http://fixture")
      .option("resourceType", "Patient")
      .option("pageSize", "10")
      .option("fetcher", classOf[FlakyFetcher].getName)
      .load()
    // collect (not count — count pushes down to the probe alone) so the
    // page readers run; succeeds on the 3rd in-reader attempt per URL
    assert(df.collect().length === 23)
    // every PAGE url was attempted exactly `failures + 1` times — the
    // retries happened inside the reader (a Spark task retry would re-run
    // the whole partition: more attempts). The _count=0 probe is excluded.
    import scala.jdk.CollectionConverters._
    val pageCounts = FlakyFetcher.attempts.asScala
      .collect { case (url, n) if url.contains("_getpagesoffset") => n.intValue }
    assert(pageCounts.size == 3 && pageCounts.forall(_ == 3),
      s"expected 3 attempts per page url, got: ${FlakyFetcher.attempts}")
  }

  test("a dead server still fails loudly after the attempt budget") {
    FlakyFetcher.reset(failuresPerUrl = Int.MaxValue)
    val df = spark.read.format("blaze")
      .option("baseUrl", "http://fixture")
      .option("resourceType", "Patient")
      .option("pageSize", "10")
      .option("fetcher", classOf[FlakyFetcher].getName)
      .load()
    val e = intercept[Exception](df.count())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("after 3 attempts"), s"expected bounded-retry failure, got: $msgs")
  }

  test("HttpPageFetcher: non-2xx raises IOException (retryable), 2xx returns the body") {
    // A real localhost server (JDK built-in, zero egress): first request
    // per URL answers 503 with an OperationOutcome-ish body, then 200.
    // Without the status guard the 503 would fail the scan as a body that
    // is not a Bundle instead of healing on retry.
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    server.createContext("/", { exchange =>
      val key = exchange.getRequestURI.toString
      val n: Int = hits.merge(key, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
      val (code, body) =
        if (n == 1) (503, """{"resourceType":"OperationOutcome","issue":[]}""")
        else if (key.contains("_count=0"))
          (200, """{"resourceType":"Bundle","type":"searchset","total":3}""")
        else (200,
          """{"resourceType":"Bundle","type":"searchset","total":3,"entry":[
            |{"resource":{"id":"h1","meta":{"versionId":"1"},"resourceType":"Patient"}},
            |{"resource":{"id":"h2","meta":{"versionId":"1"},"resourceType":"Patient"}},
            |{"resource":{"id":"h3","meta":{"versionId":"1"},"resourceType":"Patient"}}]}"""
            .stripMargin)
      val bytes = body.getBytes("UTF-8")
      exchange.sendResponseHeaders(code, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // direct: the 503 must surface as IOException, not as a body
      val e = intercept[java.io.IOException](
        new HttpPageFetcher().fetch(s"$base/fresh-url"))
      assert(e.getMessage.contains("HTTP 503"), e.getMessage)
      // end-to-end through the DSv2 source + in-reader retry: every URL's
      // first 503 is retried transparently and all rows arrive
      val df = spark.read.format("blaze")
        .option("baseUrl", base)
        .option("resourceType", "Patient")
        .option("pageSize", "10")
        .load()
      assert(df.count() === 3)
    } finally server.stop(0)
  }

  test("fetchWithRetry backs off with doubling delays between attempts") {
    val delays = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val flaky = new PageFetcher {
      override def fetch(url: String): String = {
        calls += 1
        if (calls < 4) throw new java.io.IOException("boom")
        "ok"
      }
    }
    val out = BlazeTableProvider.fetchWithRetry(
      flaky, "http://x", attempts = 4, backoffMs = 100, sleep = delays.append(_))
    assert(out == "ok" && delays.toSeq == Seq(100L, 200L, 400L))
  }

  test("fetchWithRetry rethrows non-IO (deterministic) errors immediately") {
    var calls = 0
    val broken = new PageFetcher {
      override def fetch(url: String): String = {
        calls += 1
        throw new IllegalArgumentException("malformed URL")
      }
    }
    val e = intercept[IllegalArgumentException](BlazeTableProvider.fetchWithRetry(
      broken, "http://x", attempts = 4, backoffMs = 100,
      sleep = _ => fail("must not back off on a deterministic error")))
    assert(e.getMessage == "malformed URL" && calls == 1)
  }
}

/** [[FixtureFetcher]] that fails each URL a configured number of times
  * before serving it — exercises the in-reader bounded retry. Static
  * state works because local-mode executors share the JVM.
  */
class FlakyFetcher extends FixtureFetcher {
  override def fetch(url: String): String = {
    val n: Int = FlakyFetcher.attempts.merge(url, 1,
      (a: Integer, b: Integer) => Integer.valueOf(a + b))
    if (n <= FlakyFetcher.failuresPerUrl)
      throw new java.io.IOException(s"transient failure $n for $url")
    super.fetch(url)
  }
}

object FlakyFetcher {
  @volatile var failuresPerUrl: Int = 0
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def reset(failuresPerUrl: Int): Unit = {
    this.failuresPerUrl = failuresPerUrl
    attempts.clear()
  }
}

/** [[FixtureFetcher]] that records every URL fetched — local-mode
  * executors share the JVM, so a static concurrent queue observes
  * executor-side IO. */
class RecordingFetcher extends FixtureFetcher {
  override def fetch(url: String): String = {
    RecordingFetcher.urls.add(url)
    super.fetch(url)
  }
}

object RecordingFetcher {
  val urls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

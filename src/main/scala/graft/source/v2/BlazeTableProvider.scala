package graft.source.v2

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.util.NumericOption

/** Executor-side page fetch for the DSv2 source: implementations must be
  * zero-arg-constructible (instantiated by class name on each executor).
  * Production: an HTTP client; tests/offline: fixture maps.
  */
trait PageFetcher extends Serializable {
  def fetch(url: String): String
}

/** `java.net.http` fetcher — the production default. */
class HttpPageFetcher extends PageFetcher {
  @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
  override def fetch(url: String): String = {
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    // A non-2xx page is a fetch failure, not a body to parse: raising
    // IOException routes it into fetchWithRetry's transient scope
    // (status-coded failures ARE the dominant transient mode), where a
    // 503/429 heals on retry instead of failing readBundle.
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"HTTP ${resp.statusCode()} fetching $url: ${resp.body().take(200)}")
    resp.body()
  }
}

/** DataSource V2 FHIR-search source (`format("blaze")`), the engine's
  * only reader of FHIR pages: one `InputPartition` PER PAGE, fetched and
  * parsed on executors.
  *
  * The reference walks an opaque next-link chain sequentially
  * (`src/main.rs:261-269`), one page at a time. FHIR search also supports
  * offset paging (`_count` + `_getpagesoffset`), so after one `_count=0`
  * probe for the total (`src/main.rs:290-292` — the same zero-row trick
  * the reference uses for reconciliation), page URLs are enumerable up
  * front and the fetch parallelizes across the cluster; ingest throughput
  * scales with executors instead of one driver connection, and the driver
  * never holds a page body.
  *
  * Every response must be a `Bundle`, and the probe's must carry a
  * numeric `total`; anything else fails the scan naming the URL
  * ([[BlazeTableProvider.readBundle]]). Read as "no entries", an
  * OperationOutcome under a 2xx status would reach the full-outer diff
  * as one DELETE per mirror row. For the same reason each page must hold
  * exactly `min(pageSize, total − offset)` entries
  * ([[BlazeTableProvider.parseEntries]]): a short page (a server that
  * caps `_count`, an id deleted after the probe) fails the scan instead
  * of deleting the rows it left out.
  *
  * Options: `baseUrl`, `resourceType`, `pageSize` (default 5000 =
  * reference `src/main.rs:360`), `fetcher` (class name, default
  * [[HttpPageFetcher]]); a fetch makes up to
  * [[BlazeTableProvider.FetchAttempts]] attempts. Schema: `resource:
  * STRING` — raw resource JSON, one row per Bundle entry, exactly the
  * relation parity q01 declares.
  */
class BlazeTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "blaze"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BlazeTableProvider.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    // reader options keep caller case here; normalize for lookups
    new BlazeTable(properties.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap)
}

object BlazeTableProvider {
  val schema: StructType = StructType(Seq(StructField("resource", StringType)))

  /** Attempts per fetch, and the first backoff between them. */
  val FetchAttempts = 3
  val FetchBackoffMs = 200L

  def makeFetcher(className: String): PageFetcher =
    Class.forName(className).getDeclaredConstructor().newInstance()
      .asInstanceOf[PageFetcher]

  /** Bounded in-fetch retry with doubling backoff — reference
    * `db_utils.rs:35-59` semantics (retry the connection, don't fail the
    * sync on a transient hiccup) scoped to one page: without it a single
    * failed page fetch escalates to a full Spark TASK retry, which
    * re-pays scheduling and re-fetches from scratch; with it the retry
    * stays inside the partition reader. Attempts are bounded so a dead
    * server still fails loudly (then Spark's task-level retry — and
    * ultimately the job — surfaces it).
    */
  def fetchWithRetry(fetcher: PageFetcher, url: String,
                     attempts: Int = FetchAttempts, backoffMs: Long = FetchBackoffMs,
                     sleep: Long => Unit = Thread.sleep): String = {
    var attempt = 1
    var delay = backoffMs
    while (true) {
      // Retry ONLY transient IO failures (timeouts, resets — all
      // IOException subtypes), mirroring the reference's connection-retry
      // scope: a deterministic error (auth, malformed URL, parse bug)
      // would fail identically `attempts` times per partition, so it is
      // rethrown immediately and keeps its original class for the caller.
      try return fetcher.fetch(url)
      catch {
        case e: java.io.IOException =>
          if (attempt >= attempts)
            throw new java.io.IOException(
              s"page fetch failed after $attempts attempts: $url", e)
          sleep(delay)
          delay *= 2
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private val mapper = new ObjectMapper()

  /** `body`, fetched from `url`, parsed as the FHIR `Bundle` it must be.
    * Anything else — an OperationOutcome, a body that is not JSON — fails
    * with a message naming the URL.
    */
  def readBundle(url: String, body: String): JsonNode = {
    def fail(cause: Throwable) = new IllegalStateException(
      s"not a FHIR Bundle from $url: ${body.take(200)}", cause)
    val node = try mapper.readTree(body)
      catch { case e: JsonProcessingException => throw fail(e) }
    if (node.path("resourceType").asText() != "Bundle") throw fail(null)
    node
  }

  /** The probe's `total`: a Bundle without a numeric one fails, naming
    * the URL, instead of planning zero pages.
    */
  def probeTotal(url: String, body: String): Long = {
    val total = readBundle(url, body).path("total")
    if (!total.isIntegralNumber)
      throw new IllegalStateException(
        s"Bundle from $url has no numeric total: ${body.take(200)}")
    total.asLong()
  }

  /** One page's entries as raw resource JSON (executor-side). A Bundle
    * without `entry` is an empty page. The page must hold `expected`
    * entries; any other count fails, naming the URL and both counts.
    */
  def parseEntries(url: String, body: String, expected: Int): Iterator[String] = {
    val entries = readBundle(url, body).path("entry")
    val n = if (entries.isArray) entries.size else 0
    if (n != expected)
      throw new IllegalStateException(
        s"page from $url has $n entries, expected $expected")
    if (n == 0) Iterator.empty
    else entries.elements().asScala.flatMap { e =>
      val r = e.path("resource")
      if (r.isMissingNode || r.isNull) None else Some(mapper.writeValueAsString(r))
    }
  }
}

private[v2] class BlazeTable(props: Map[String, String])
  extends Table with SupportsRead {

  // numeric options are parsed here, on the driver at `load()`: a bad
  // value fails the read before any request, naming the key
  private val pageSize =
    NumericOption.int("pagesize", props.get("pagesize"),
      graft.runtime.Scheduler.BlazePageResourceCount, min = 1)

  override def name(): String =
    s"blaze:${props.getOrElse("resourcetype", "?")}"
  override def schema(): StructType = BlazeTableProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch
      with SupportsPushDownAggregates {
      private val baseUrl = props("baseurl")
      private val resourceType = props("resourcetype")
      private val fetcherClass =
        props.getOrElse("fetcher", classOf[HttpPageFetcher].getName)
      private var countPushed = false

      private def isBareCountStar(agg: Aggregation): Boolean =
        agg.groupByExpressions.isEmpty &&
          agg.aggregateExpressions.length == 1 &&
          agg.aggregateExpressions.head.isInstanceOf[CountStar]

      /** COUNT(*) with no grouping is answered ENTIRELY by the server's
        * `_count=0` total (reference `src/main.rs:290-292`) — the O11
        * reconciliation probe as DSv2 aggregate pushdown: zero resource
        * rows cross the wire, any scale.
        */
      override def pushAggregation(agg: Aggregation): Boolean = {
        countPushed = isBareCountStar(agg)
        countPushed
      }
      override def supportCompletePushDown(agg: Aggregation): Boolean =
        isBareCountStar(agg)

      override def build(): Scan = this
      override def readSchema(): StructType =
        if (countPushed) new StructType().add("count(*)", LongType)
        else BlazeTableProvider.schema
      override def toBatch: Batch = this
      override def description(): String =
        s"blaze:$resourceType" +
          (if (countPushed) " PushedAggregates: [COUNT(*)]" else "")

      override def planInputPartitions(): Array[InputPartition] = partitions

      /** Planned once per Scan (this object is also the Scan, and every
        * push happens before `build()`): Spark asks a scan for its
        * partitions more than once per action, and each plan costs a
        * driver-side `_count=0` probe — one round trip to the server,
        * zero resource rows transferred.
        */
      private lazy val partitions: Array[InputPartition] = {
        val probeUrl = s"$baseUrl/fhir/$resourceType?_count=0"
        val total = BlazeTableProvider.probeTotal(probeUrl,
          BlazeTableProvider.fetchWithRetry(BlazeTableProvider.makeFetcher(fetcherClass),
            probeUrl))
        if (countPushed) {
          // single partition, single row: the final aggregate result
          Array(BlazeCountPartition(total))
        } else {
          val pages = math.max(0L, (total + pageSize - 1) / pageSize).toInt
          (0 until pages).map { i =>
            val offset = i.toLong * pageSize
            BlazePagePartition(
              s"$baseUrl/fhir/$resourceType?_count=$pageSize" +
                s"&_getpagesoffset=$offset&_history=current",
              math.min(pageSize.toLong, total - offset).toInt)
              .asInstanceOf[InputPartition]
          }.toArray
        }
      }

      override def createReaderFactory(): PartitionReaderFactory =
        if (countPushed) new BlazeCountReaderFactory
        else new BlazeReaderFactory(fetcherClass)
    }
}

/** One page: its URL and the entry count it must hold. */
case class BlazePagePartition(url: String, expected: Int) extends InputPartition

/** Carries the probed total itself: the pushed COUNT(*) needs no executor
  * IO at all. */
case class BlazeCountPartition(total: Long) extends InputPartition

private[v2] class BlazeCountReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val total = partition.asInstanceOf[BlazeCountPartition].total
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](total))
      override def close(): Unit = ()
    }
  }
}

private[v2] class BlazeReaderFactory(fetcherClass: String)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val page = partition.asInstanceOf[BlazePagePartition]
    new PartitionReader[InternalRow] {
      // fetcher + parse lazily on first next(): executor-side IO, with
      // bounded in-reader retry before Spark's task retry gets involved
      private lazy val it: Iterator[String] = BlazeTableProvider
        .parseEntries(page.url, BlazeTableProvider.fetchWithRetry(
          BlazeTableProvider.makeFetcher(fetcherClass), page.url), page.expected)
      private var current: String = _
      override def next(): Boolean = {
        if (it.hasNext) { current = it.next(); true } else false
      }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](UTF8String.fromString(current)))
      override def close(): Unit = ()
    }
  }
}

package graft.source

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver test data (TESTDATA.md). Column
  * pruning and predicate pushdown into these scans is left to Catalyst —
  * callers select/filter declaratively and `.explain` shows `PushedFilters`.
  *
  * [[load]] is the one parquet reader of `src/main` (`DocConsistencySpec`
  * pins that). It keeps a schema catalog: `spark.read.parquet` runs a
  * schema-inference job on every call, so the first load of a table
  * infers its `StructType` and later loads read with
  * `spark.read.schema(cached)`, which runs no job. Reading the key runs
  * no job either:
  *  - the qualified path;
  *  - the name, length and modification time of every file under it,
  *    from one Hadoop listing;
  *  - the session's explicitly set `spark.sql.parquet.*` and
  *    `spark.sql.legacy.parquet.*` values (`events` sets `nanosAsLong`,
  *    which changes the inferred `ts` type).
  *
  * Invariant: a table that is rewritten or replaced is inferred again,
  * and a session with other parquet settings never reuses another's
  * schema; neither needs a session reference or an invalidation hook.
  * Size bound: one `StructType` per (path, parquet settings) seen — a
  * changed file state replaces its entry rather than adding one.
  *
  * This is a catalog, not a result cache: only the schema is kept, never
  * a DataFrame (a shared DataFrame would share attribute ids between
  * self-joined loads and freeze the file listing), every query still
  * lists and scans its files, and `QueryCaches.drain()` leaves it alone.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private type FileState = Seq[(String, Long, Long)]
  private val schemas =
    new ConcurrentHashMap[(String, Seq[(String, String)]), (FileState, StructType)]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path) // Spark's own not-found error
    else {
      val qualified = fs.makeQualified(p)
      val files = Seq.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(qualified, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val state = files.result().sorted
      val key = (qualified.toString, spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted)
      val schema = Option(schemas.get(key)).collect { case (`state`, s) => s }.getOrElse {
        val s = spark.read.parquet(path).schema
        schemas.put(key, (state, s))
        s
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Round-robin repartition to the session's shuffle parallelism.
    *
    * The test tables are single parquet files with one row group, so a scan
    * is ONE task no matter how many cores exist; any compute-heavy map stage
    * (per-row md5s, JSON parse, cosine loops) downstream would run serially.
    * Spreading first costs one cheap shuffle of the narrow input and buys
    * full parallelism — the same call a real cluster needs whenever file
    * count < cores (common after compaction). Harmless where the input is
    * already wide: Catalyst still prunes columns through the exchange.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.parquet`'s `ts` physical type has varied across driver data
    * generations — TIMESTAMP(NANOS) (which Spark's reader rejects; read
    * nanos as long and rebuild with integer `div`, not `/`: epoch-nanos
    * ≈ 1.7e18 exceeds the 2^53 double mantissa), then TIMESTAMP(MICROS)
    * without UTC adjustment (read as TIMESTAMP_NTZ). Normalize every
    * variant to a session-tz TimestampType column holding the same µs
    * instant; the session tz is pinned to UTC ([[graft.GraftSession]])
    * so the NTZ→TZ cast is value-preserving and `epoch_us`-compatible
    * with the DuckDB oracle, which reads the same file natively.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    import org.apache.spark.sql.functions.{col, expr}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

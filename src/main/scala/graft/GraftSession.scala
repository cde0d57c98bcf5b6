package graft

import org.apache.spark.sql.SparkSession
import graft.util.NumericOption

/** The one session factory of the engine: every entry point in `src/main`
  * and `src/test` gets its `SparkSession` here (`DocConsistencySpec` fails
  * on any other `builder()` call), so the settings below cannot drift
  * between the bench, the correctness dump, the dev tools, the daemon and
  * the tests.
  *
  *  - `GraftExtensions` registers `cosine_sim` and `pq_assign`, which
  *    declared queries call by name;
  *  - `spark.sql.session.timeZone=UTC`: timestamp parsing, `date_trunc`
  *    and day windows must not follow the host's zone (`Tables.events`
  *    reads `ts` as a UTC instant), and the DuckDB oracles assume UTC.
  *
  * Nothing else is set: AQE with partition coalescing and skew-join
  * splitting is on by default in Spark 4.1, and parquet timestamps keep
  * Spark's default output type.
  *
  * Why `InferFiltersFromGenerate` stays enabled: `OPTIMIZATION_r13.md` §1.
  */
object GraftSession {

  /** Base builder: extensions and UTC, no master. The daemon (`runtime.Main`)
    * adds its app name and takes the master from `spark-submit`.
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")

  /** Single-JVM session on `cores` threads.
    *
    *  - shuffle partitions = `cores`: the 200 default would schedule
    *    mostly-empty tasks at these data sizes;
    *  - UI off: no port to bind and no listener overhead on timed runs;
    *  - a per-process warehouse under `/tmp`: `Bucketing.writeBucketed`'s
    *    `saveAsTable` never lands in the working directory, and
    *    concurrent runs never share one;
    *  - log level `ERROR`: Bench's summary line must stay in the last
    *    2000 characters of output, clear of Spark warnings.
    */
  def local(cores: Int): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-warehouse-${ProcessHandle.current().pid()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Core count of a launched main: `SPARK_GRAFT_CPUS`, else the caller's
    * `default`; a value that is not an integer >= 1 fails naming the key.
    * The test session does not read it and stays at `local[4]`: the test
    * runner exports the host's core count, and tiny test jobs would pay
    * that many tasks per stage.
    */
  def cores(default: Int, env: Map[String, String] = sys.env): Int =
    NumericOption.int("SPARK_GRAFT_CPUS", env.get("SPARK_GRAFT_CPUS"), default, min = 1)
}

package perfbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload, one record.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--data DIR]`; the Python front end
  * (`perfbench/run.py`) builds the classpath, generates the query tables
  * and turns the record into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val work = opt("work")
    val rec = new Record
    val spark = session(work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    rec.setup("session_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    Trace.install(spark.sparkContext)
    val calib = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      calibrate(spark)
      calib += calibrate(spark)
      workload match {
        case "sync-boot" | "sync-steady" =>
          SyncBench.run(spark, rec, steady = workload == "sync-steady", opt("seed").toLong,
            opt("seconds").toDouble, traced)
        case "query-mix" =>
          QueryBench.run(spark, rec, opt("data"), s"$work/qout", opt("seconds").toDouble, traced)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      calib += calibrate(spark)
    } catch {
      case e: Exception => rec.check(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      rec.extra("calib_s") = calib.toSeq
      rec.extra("cores") = spark.sparkContext.defaultParallelism
      if (traced) Trace.writeSpans(java.nio.file.Paths.get(s"$work/spans.json"), rec.spans.toSeq)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")),
        rec.toJson(Map("workload" -> workload, "seed" -> opt("seed"), "trace" -> traced)))
      spark.stop()
    }
  }

  /** Same settings as the program's own bench session, with every local
    * directory inside the run's work directory.
    */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Host-speed probe: the program bench's fixed CPU job (a 2^26-row hash
    * sum over `spark.range`, no I/O), reimplemented here because the
    * original is package-private. Seconds per run of the job.
    */
  def calibrate(spark: SparkSession): Double = Record.time {
    spark.range(1L << 26)
      .selectExpr("CAST(sum((id * 2654435761L) % 1048576) AS BIGINT) AS h")
      .collect()
  }
}

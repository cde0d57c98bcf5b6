package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.util.QueryCaches

/** `query-mix`: analyst queries over the mirror's tables, run through
  * `SparkEntry.queries` one after another, warm, with `QueryCaches`
  * drained after each query as the program's own bench does. One
  * operation is one query: DataFrame construction plus `.count()`.
  */
object QueryBench {
  /** A subset of the program bench's 24 headline queries, one each from
    * the relational, dedup, text, behavioural and layout families. The
    * full list takes over 20 s per warm pass on four cores, and the JIT
    * needs several passes to settle, too long for one run. q56 is kept
    * because most of its jobs run during DataFrame construction.
    */
  val Mix: Seq[String] = Seq(
    "q28_topk", "q56_dedup_clusters", "q55_token_count", "q94_cohort_retention",
    "q104_zorder")

  def run(spark: SparkSession, rec: Record, dataDir: String, outDir: String,
          seconds: Double, traced: Boolean): Unit = {
    rec.workPerPass = Mix.size.toLong
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

    def plainOp(q: String): Long =
      try SparkEntry.queries(q)(spark, dataDir).count() finally QueryCaches.drain()

    def tracedOp(q: String): Long = Trace.span(s"query.$q", "query") {
      try {
        val df = Trace.span("query.build", "query.build")(SparkEntry.queries(q)(spark, dataDir))
        val counted = df.groupBy().count()
        Trace.span("query.plan", "query.plan")(counted.queryExecution.executedPlan)
        Trace.span("query.exec", "query.exec")(counted.collect()(0).getLong(0))
      } finally QueryCaches.drain()
    }

    // warm-up: one untimed pass that also writes each result for the
    // oracle comparison the front end makes after the run, then a plain
    // pass, because the JIT keeps speeding the queries up for several
    // passes
    val warm = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    rec.setup("warmup_s") = Record.time {
      Mix.foreach { q => warm(q) = Record.time {
        try {
          val df = SparkEntry.queries(q)(spark, dataDir)
          df.count()
          df.write.mode("overwrite").parquet(s"$outDir/$q")
        } catch { case e: Exception => rec.check(ok = false, s"$q warm-up: ${e.getMessage}") }
        finally QueryCaches.drain()
      } }
      Mix.foreach(plainOp)
    }
    rec.extra("warmup_per_query_s") = warm
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json(Mix.map(q => q -> SparkEntry.oracleSql(q)).toMap))

    rec.measure(seconds, minPasses = 4) { i =>
      val tracing = traced && i % 2 == 1
      val gc0 = Trace.gcSeconds; val jit0 = Trace.jitSeconds
      Trace.on = tracing
      val t0 = System.nanoTime()
      Mix.foreach { q =>
        val s = System.nanoTime()
        val n =
          try Some(if (tracing) tracedOp(q) else plainOp(q))
          catch { case e: Exception => rec.check(ok = false, s"$q: ${e.getMessage}"); None }
        if (!tracing) rec.ops += q -> (System.nanoTime() - s) / 1e9
        n.foreach(c => counts += q -> c)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (tracing) {
        rec.tracedPasses += wall
        Trace.settle()
        Trace.on = false
        layerMetrics(rec, wall)
        rec.layer("jvm.gc_s", Trace.gcSeconds - gc0)
        rec.layer("jvm.jit_s", Trace.jitSeconds - jit0)
      } else rec.passes += wall
    }
    // the front end checks every count against the oracle's row count
    rec.extra("counts") = counts.toSeq
  }

  private def layerMetrics(rec: Record, wall: Double): Unit = {
    val spans = Trace.drainSpans()
    rec.spans ++= spans
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = spans.filter(_.layer == "job")
    def under(j: Span, name: String) = byId.get(j.parent).exists(_.name == name)
    val buildJobs = jobs.filter(under(_, "query.build"))
    def sumDur(name: String) = spans.filter(_.name == name).map(_.durS).sum
    def jobSum(key: String) = jobs.map(j => Trace.counter(s"job.${j.id}.$key")).sum.toDouble
    rec.layer("query.build_s", sumDur("query.build"))
    rec.layer("query.build_jobs", buildJobs.size.toDouble)
    rec.layer("query.plan_s", sumDur("query.plan"))
    rec.layer("query.exec_s", sumDur("query.exec"))
    rec.layer("query.jobs", jobs.size.toDouble)
    rec.layer("query.tasks", jobSum("tasks"))
    rec.layer("query.task_s", jobSum("task_ns") / 1e9)
    rec.layer("query.shuffle_bytes", jobSum("shuffle_bytes"))
    rec.layer("query.spill_bytes", jobSum("spill_bytes"))
    // per query, for the trace file
    spans.filter(_.layer == "query").foreach { root =>
      val mine = jobs.filter(_.traceId == root.traceId)
      rec.layer(s"per_query.${root.name.stripPrefix("query.")}.s", root.durS)
      rec.layer(s"per_query.${root.name.stripPrefix("query.")}.jobs", mine.size.toDouble)
    }
    rec.blocking(spans, wall, {
      case s if s.layer == "job" => byId.get(s.parent).map(_.layer).getOrElse("query")
      case s => s.layer
    })
    rec.repeat("query.jobs", jobs.size.toDouble)
    Trace.reset()
  }
}

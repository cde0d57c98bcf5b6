package graft.tools

import org.apache.spark.sql.SparkSession

/** The one query-inspection tool — the dev companion to [[graft.Bench]]
  * for chasing scale regressions: `Probe <sfDir> <reps> <name> [name...]`
  * builds the same session Bench does, runs each named query once untimed
  * (JIT + code-cache warm), then `reps` timed passes with the shared
  * caches drained between passes, and prints per-query samples + median.
  * Bench's per-round numbers at a new scale factor mix cold JIT, cold
  * page cache and phase noise into single samples; regressions should be
  * confirmed here (3+ reps, medians) before being chased.
  *
  * Modes:
  *  - `reps = 0` prints each query's `explain("formatted")` plan under a
  *    `===== <name> =====` header and runs no action (the plan-audit mode;
  *    a builder that runs jobs while it constructs the DataFrame still
  *    runs them, so the plan is the final one the action would run);
  *  - each timed run prints its jobs, stages, tasks and task time,
  *    counted after its clock stops; `SPARK_GRAFT_PROBE_TIMELINE=1` also
  *    lists every job and stage (the per-stage attribution of a composed
  *    query), each job with its driver idle time before it, or `overlap`.
  *
  * The session runs `local[<host cores>]` unless `SPARK_GRAFT_CPUS` says
  * otherwise, so reps are not oversubscribed on a small host.
  *
  * Conf experiments go through the launcher, e.g.
  * `SPARK_GRAFT_EXTRA_OPTS=-Dspark.sql.adaptive.enabled=false
  * scripts/run_main.sh graft.tools.Probe ...`.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    if (args.length < 3 || args(1).toIntOption.forall(_ < 0)) {
      System.err.println("usage: Probe <sfDir> <reps>=0 <name> [name...]")
      sys.exit(64)
    }
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.GraftSession.local(
      graft.GraftSession.cores(default = Runtime.getRuntime.availableProcessors()))
    if (reps == 0) plans(spark, sfDir, names) else timed(spark, sfDir, reps, names)
    spark.stop()
  }

  private def plans(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"===== $n =====")
      try graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      finally graft.util.QueryCaches.drain()
    }

  private def timed(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit = {
    // Headless substitute for the Spark UI's Jobs/Stages pages: count the
    // jobs, stages, and tasks each run schedules and sum executor task
    // time. jobs×fixed-scheduling-cost dominating wall-clock identifies
    // an action-heavy driver loop; task time ≈ wall×cores identifies
    // genuine compute.
    val counters = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val stages = new java.util.concurrent.atomic.AtomicLong
      val tasks = new java.util.concurrent.atomic.AtomicLong
      val taskMs = new java.util.concurrent.atomic.AtomicLong
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val timeline = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var lastEnd = 0L
      val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // idle driver time before this job: since the latest job that had
        // already finished, or none when another job is still running
        val gap = if (!starts.isEmpty) "overlap"
          else f"${(if (lastEnd == 0) 0L else j.time - lastEnd) / 1e3}%.2fs"
        starts.put(j.jobId, j.time)
        val prop = (k: String) => Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val label = prop("spark.sql.execution.id").map(id => s"sql=$id ").getOrElse("") +
          prop("spark.job.description").map(d => s"'$d' ").getOrElse("")
        val stages = j.stageInfos.map(s =>
          s"${s.stageId}:${s.name.takeWhile(_ != '\n')}(${s.numTasks}t)").mkString(" ")
        names.put(j.jobId, f"gapBefore=$gap%7s  $label$stages")
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = Option(starts.remove(j.jobId)).getOrElse(j.time)
        lastEnd = math.max(lastEnd, j.time)
        timeline.add(f"job ${j.jobId}%4d  run=${(j.time - t0) / 1e3}%6.2fs  ${
          Option(names.remove(j.jobId)).getOrElse("")}")
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val i = s.stageInfo
        val m = i.taskMetrics
        if (m != null)
          timeline.add(f"stage ${i.stageId}%4d  ${i.numTasks}%4dt  exec=${
            m.executorRunTime / 1e3}%7.2fs  in=${m.inputMetrics.recordsRead}%9d  shR=${
            m.shuffleReadMetrics.recordsRead}%9d  shW=${
            m.shuffleWriteMetrics.recordsWritten}%9d  out=${m.outputMetrics.recordsWritten}%7d")
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
      def snap(): (Long, Long, Long, Long) =
        (jobs.get, stages.get, tasks.get, taskMs.get)
    }
    spark.sparkContext.addSparkListener(counters)
    def once(name: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = try graft.SparkEntry.queries(name)(spark, sfDir).count()
              finally graft.util.QueryCaches.drain()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def counted(name: String): (Double, Long) = {
      val before = counters.snap()
      counters.timeline.clear()
      counters.lastEnd = 0L
      val r = once(name)
      // listener bus is async; give it a beat to drain before snapping
      Thread.sleep(200)
      val after = counters.snap()
      println(f"[probe]   $name: jobs=${after._1 - before._1} stages=${
        after._2 - before._2} tasks=${after._3 - before._3} taskTime=${
        (after._4 - before._4) / 1e3}%.1f s")
      if (sys.env.get("SPARK_GRAFT_PROBE_TIMELINE").contains("1")) {
        val it = counters.timeline.iterator()
        while (it.hasNext) println(s"[probe]     ${it.next()}")
      }
      r
    }
    names.foreach { n =>
      once(n) // warmup
      val rs = (1 to reps).map(_ => counted(n))
      val ts = rs.map(_._1)
      println(f"[probe] $n%-28s median=${graft.Bench.median(ts)}%8.3f s  rows=${rs.head._2}  samples=${
        ts.map(t => f"$t%.3f").mkString(", ")}")
    }
    graft.Bench.calibrateOnce(spark) // probe JIT warm
    val calib = graft.Bench.median((1 to 3).map(_ => graft.Bench.calibrateOnce(spark)))
    println(f"[probe] calib: $calib%.3f s")
  }
}

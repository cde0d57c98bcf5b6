package graft

import org.apache.spark.sql.SparkSession
import graft.util.NumericOption

/** Benchmark entrypoint. Protocol (VERDICT round-1 item 4 — measurement
  * hygiene on a noisy shared host, see also `graft.tools.Probe`):
  *
  *  - one UNTIMED warmup execution per query: materializes the shared
  *    parity/dedup caches and lets HotSpot compile the generated code, so
  *    first-touch cost is not attributed to whichever query happens to run
  *    first;
  *  - then `reps` timed WHOLE-SUITE passes (default 3) — each query is
  *    timed once per pass and its MEDIAN across passes is reported.
  *    Interleaving matters: the host's slow phases last minutes, so
  *    back-to-back reps of one query all land inside the same phase,
  *    while suite-pass reps of the same query run many minutes apart and
  *    decorrelate;
  *  - `total` is the sum of medians;
  *  - failures are LOUD: the error is recorded in the JSON and the process
  *    exits non-zero. A broken query must never silently inflate (or
  *    deflate) the total.
  */
object Bench {
  /** The middle sample; the mean of the two middle ones for an even count. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Phase-calibration probe: a FIXED, data-independent CPU-bound job
    * (64M-row hash-sum over `spark.range`, no I/O, no shuffle beyond the
    * final 1-row aggregate) whose cost depends only on host speed. Its
    * median, emitted as `calib` in the summary line, lets cross-round
    * bench ratios be deconfounded from the shared host's slow phases
    * (round 7's gate artifact read 1.27x on unchanged plans purely from
    * phase noise): comparable rounds divide totals by their calib before
    * comparing.
    */
  private[graft] def calibrateOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // per-term modulo bounds the ANSI sum: terms < 2^20, 2^26 of them,
    // total < 2^46 — no overflow at any host speed
    spark.range(1L << 26)
      .selectExpr("CAST(sum((id * 2654435761L) % 1048576) AS BIGINT) AS h")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = timedPasses()
    val spark = GraftSession.local(GraftSession.cores(default = 32))

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val names = SparkEntry.queries.keys.toSeq
    // Errors count only from TIMED passes, and a later timed success clears
    // an earlier one — a transient warmup-only failure must not force a
    // non-zero exit when every timed sample succeeded.
    def once(name: String, timed: Boolean): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).count()
        if (timed) errors.remove(name)
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case t: Throwable =>
          if (timed)
            errors.getOrElseUpdate(name, s"${t.getClass.getSimpleName}: ${t.getMessage}")
          None
      } finally graft.util.QueryCaches.drain()
    }
    // Wall-clock budget: on a slow host phase the warmup pass alone can
    // take minutes; rather than risk an external timeout, run at least
    // one timed pass and start further passes only while under budget.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "480").toDouble
    val wall0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - wall0) / 1e9
    // Warmup pass: caches + JIT, untimed — but ALSO budget-bounded: on a
    // slow host phase a full cold pass over the whole inventory can eat
    // the entire wall-clock before a single timed pass starts. Past the
    // warmup fraction of the budget the remaining queries skip warmup
    // (they run cold in the timed pass — a noisier number beats an
    // external timeout). At reps=1 there is no median to decorrelate a
    // cold first sample, so the warmup allowance widens and any query
    // that still missed warmup is stamped "cold" in the artifacts —
    // three rounds of phantom regressions (r8 q251, r9 q20, r10 q05)
    // came from exactly this reps=1 × skipped-warmup interaction.
    val warmed = scala.collection.mutable.Set[String]()
    names.foreach { n =>
      if (elapsed < budgetSec * warmupFraction(reps)) { once(n, timed = false); warmed += n }
    }
    // Calibration samples bracket the timed passes (first one also JIT-warms
    // the probe) so phase drift across the run is captured, not just the
    // phase at one instant.
    val calibSamples = Seq.newBuilder[(Double)]
    calibrateOnce(spark) // untimed probe warmup
    (1 to 3).foreach(_ => calibSamples += calibrateOnce(spark))
    val passSamples = Seq.newBuilder[(String, Double)]
    var pass = 0
    while (pass < reps && (pass == 0 || elapsed < budgetSec)) {
      names.foreach(n => once(n, timed = true).foreach(t => passSamples += n -> t))
      pass += 1
      (1 to 3).foreach(_ => calibSamples += calibrateOnce(spark))
    }
    val calib = median(calibSamples.result())
    val samples = passSamples.result()
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val results = names.map { n =>
      n -> samples.get(n).filter(_.nonEmpty).map(median).getOrElse(-1.0)
    }.toMap
    // Queries whose only timed sample ran without a prior warmup: their
    // number carries first-touch cache/JIT cost and must not be read as a
    // regression. With 2+ timed passes the median decorrelates it.
    val coldQs = if (pass <= 1) names.filterNot(warmed) else Seq.empty[String]

    // Per-round artifact: ALL per-query medians to a file, always (the
    // stdout line fits only the headline subset in the driver's 2000-char
    // tail; round-5's full dump surfaced six hidden tail hotspots, so the
    // complete breakdown must be auditable every round, not on request).
    // Path overridable for dev runs; default lands in the working dir
    // (the repo root under the driver), sorted slowest-first.
    locally {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
      val qs = results.toSeq.sortBy(-_._2)
        .map { case (k, v) => s""""$k":${"%.3f".formatLocal(java.util.Locale.ROOT, v)}""" }
        .mkString("{", ",", "}")
      val totalAll = results.values.filter(_ >= 0).sum
      val tcn =
        if (calib > 0) s""","total_calib_norm":${"%.1f".formatLocal(java.util.Locale.ROOT, totalAll / calib)}"""
        else ""
      val coldJson =
        if (coldQs.isEmpty) ""
        else coldQs.map(n => s""""$n"""").mkString(""","cold":[""", ",", "]")
      val body =
        s"""{"sf":"$sfDir","reps":$pass,"nq":${results.values.count(_ >= 0)},"calib":${"%.3f".formatLocal(java.util.Locale.ROOT, calib)}$tcn$coldJson,"queries":$qs}"""
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] full-dump write failed: ${e.getMessage}") }
    }
    val line = summaryLine(results, errors, pass, sfDir, calib, coldQs.size)
    // Stop Spark FIRST, then emit: the summary must be the process's last
    // stdout so it sits raw and final in the driver's 2000-char tail (with
    // build.sbt's StdoutOutput + showSuccess=false nothing trails it).
    // Shutdown-hook logging is already silenced (log4j2.properties WARN
    // root + setLogLevel(ERROR) above).
    spark.stop()
    emit(line)
    if (errors.nonEmpty) sys.exit(2)
  }

  /** Single point of emission for the summary line — printed exactly once,
    * flushed, nothing after it (pinned by `BenchProtocolSpec`).
    */
  private[graft] def emit(line: String): Unit = {
    Console.out.println(line)
    Console.out.flush()
  }

  /** Builds the one-line JSON summary. Factored out (and pinned by
    * `BenchProtocolSpec`) because the line has a hard length contract: the
    * driver captures only the LAST 2000 characters of output and parses
    * the JSON line out of that tail (BENCH_r01-r03 all came back
    * `parsed: null` because the full per-query dict pushed the line past
    * 2000 chars and its head was truncated). So the line must stay
    * comfortably under the buffer: per-query timings are rounded to
    * milliseconds and only the fixed HEADLINE subset — one or two
    * representative queries per suite — is itemized. `value` still totals
    * ALL declared queries (the bench-gate semantics are unchanged); `nq`
    * records how many queries that total covers. Errors must not blow the
    * tail either: at most 4 are itemized, truncated, plus a count.
    */
  private[graft] val headline = Seq(
    "q01_scan", "q05_diff_fullouter", "q08_insert", "q11_reconcile",
    "q20_join_inner", "q23_groupby_agg", "q26_window_rank", "q28_topk",
    "q33_session_window", "q40_dedup_exact", "q41_dedup_minhash_lsh",
    "q43_dedup_ngram_jaccard", "q45_simsearch_topk", "q46_simsearch_lsh",
    "q50_multimodal_meta", "q53_ann_ivf", "q55_token_count",
    "q56_dedup_clusters", "q70_tfidf", "q75_bm25", "q91_sequence_pack",
    "q94_cohort_retention", "q96_funnel", "q104_zorder")

  /** Warmup wall-clock allowance, as a fraction of the bench budget. A
    * single timed pass (reps=1) has no median to absorb a cold first
    * sample, so most of the budget should buy warm samples; with 3 passes
    * the timed medians self-correct and warmup yields earlier.
    */
  private[graft] def warmupFraction(reps: Int): Double =
    if (reps <= 1) 0.7 else 0.4

  /** Timed whole-suite passes: `SPARK_GRAFT_BENCH_REPS`, default 3. Zero
    * passes would report a total of 0 with every query failed, so any
    * value below 1 fails naming the key.
    */
  private[graft] def timedPasses(env: Map[String, String] = sys.env): Int =
    NumericOption.int("SPARK_GRAFT_BENCH_REPS", env.get("SPARK_GRAFT_BENCH_REPS"), 3, min = 1)

  /** JSON string escaping — backslash, quote, and the entire control range
    * (an exception message or builder-authored SQL can carry any byte; a
    * stray control char must not corrupt the one-line protocol or the
    * oracle file `Verify` writes).
    */
  private[graft] def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private[graft] def summaryLine(results: Map[String, Double],
                                 errors: collection.Map[String, String],
                                 reps: Int, sfDir: String,
                                 calib: Double = -1.0,
                                 nCold: Int = 0): String = {
    def ms3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = headline.flatMap(k => results.get(k).map(v => s"\"$k\":${ms3(v)}"))
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val errJson =
      if (errors.isEmpty) ""
      else {
        val shown = errors.take(4).map { case (k, v) =>
          s"""\"${esc(k)}\":\"${esc(v.take(60))}\""""
        }
        val more =
          if (errors.size > 4) s""",\"_more_errors\":${errors.size - 4}""" else ""
        shown.mkString(",\"errors\":{", ",", "}") + more
      }
    // nq counts only the queries the total actually covers (successes);
    // failed queries carry the -1 sentinel and are excluded from `value`,
    // so they must not inflate nq either. nfail makes the gap explicit.
    val nOk = results.values.count(_ >= 0)
    val nFail = results.size - nOk
    val failJson = if (nFail > 0) s""","nfail":$nFail""" else ""
    // How many single-sample (reps=1) timings ran without warmup — their
    // medians carry first-touch cost; the full list is in BENCH_FULL.json.
    val coldJson = if (nCold > 0) s""","ncold":$nCold""" else ""
    // total / calib = "probe-units of work": dividing by the host-speed
    // probe makes cross-round totals comparable without by-hand math
    // (round-8 verdict item: two artifacts told different stories until
    // each was divided by its own calib). Emitted only with a real probe
    // sample; one decimal keeps the line-length contract comfortable.
    val calibJson =
      if (calib > 0)
        s""","calib":${ms3(calib)},"total_calib_norm":${"%.1f".formatLocal(java.util.Locale.ROOT, total / calib)}"""
      else if (calib >= 0) s""","calib":${ms3(calib)}"""
      else ""
    s"""{"metric":"total","value":${ms3(total)},"unit":"sec","reps":$reps,"nq":$nOk$failJson$coldJson$calibJson,"queries":$qs$errJson,"sf":"$sfDir"}"""
  }
}

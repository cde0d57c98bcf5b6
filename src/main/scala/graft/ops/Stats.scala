package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.util.{MomentGuard, SqlArith}
import graft.Query

/** Distributed statistical modeling over exact integer sufficient
  * statistics — the q112 discipline (quantize once, aggregate BIGINT
  * moments, derive float results with one identical IEEE expression on
  * both engines) extended from z-scores to regression, correlation, and
  * robust (median-based) outlier detection.
  *
  * Why moments and not `regr_slope`/`corr`/`stddev`: the built-in float
  * aggregates accumulate in partition order, so their last-ulp value is
  * nondeterministic across engines AND across runs. Integer moments are
  * associative-exact (any partition order sums to the same BIGINT), and
  * the finishing arithmetic is a fixed sequence of IEEE-754 double ops
  * that both engines evaluate bit-identically from exactly-representable
  * inputs (every moment here is < 2^53). The derived doubles are emitted
  * UNROUNDED — per the round-3 lesson, rounding is what introduces
  * cross-engine divergence when the doubles are already bit-equal.
  *
  * Scale shape: each query is one map-side-combinable groupBy over a
  * low-cardinality key (event_type / lang) — a partial-aggregate shuffle
  * of a handful of rows — plus, for q135, two exact-median passes and a
  * broadcast-sized join back. Nothing is collected; nothing is quadratic.
  */
object Stats {

  private type Q = (SparkSession, String) => DataFrame

  /** q131 — per-event-type OLS trend: slope/intercept/R² of `value`
    * regressed on event time (minutes since 2024-01-01), the drift
    * detector every metrics pipeline runs. Sufficient statistics
    * n/Σx/Σy/Σx²/Σy²/Σxy are exact BIGINTs: x is an integer minute offset
    * (envelope-guarded to |x| ≤ 2e6 ≈ 3.8 years, so x² ≤ 4e12) and y is
    * `value` quantized to 0.001 via [[graft.util.MomentGuard.quantizeSpark]]
    * (|value| ≤ 3000 ⇒ y² ≤ 9e12, as in q112). The per-row envelopes bound
    * each TERM; the POST-aggregate [[graft.util.MomentGuard.sumGuardSpark]]
    * certificate (n·max|term| ≤ 9.0e18 per moment) bounds the SUMS, so a
    * group big enough to wrap Σx²/Σy²/Σxy raises identically on both
    * engines instead of diverging. The coefficient arithmetic runs in
    * DOUBLE (moments < 2^53 cast exactly; products round identically on
    * both engines), and the degenerate zero-variance group is excluded by
    * the same double predicate on both sides.
    */
  private val q131: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(
      col("event_type"),
      expr(s"""CASE WHEN abs(${SqlArith.floorDiv("unix_micros(ts)", 60000000L)} - 28401120L) <= 2000000
              |  THEN ${SqlArith.floorDiv("unix_micros(ts)", 60000000L)} - 28401120L
              |  ELSE CAST(raise_error('q131: ts outside minute-offset envelope') AS BIGINT)
              |END""".stripMargin).as("x"),
      expr(MomentGuard.quantizeSpark("value", 3000L, 1000L, "q131")).as("y"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x*x")).as("sxxr"), sum(expr("y*y")).as("syyr"),
        sum(expr("x*y")).as("sxyr"),
        max(expr("x*x")).as("mxx"), max(expr("y*y")).as("myy"),
        max(expr("abs(x*y)")).as("mxy"))
      .select(col("event_type"), col("n"), col("sx"), col("sy"),
        expr(MomentGuard.sumGuardSpark("sxxr", "n", "mxx", "q131")).as("sxx"),
        expr(MomentGuard.sumGuardSpark("syyr", "n", "myy", "q131")).as("syy"),
        expr(MomentGuard.sumGuardSpark("sxyr", "n", "mxy", "q131")).as("sxy"))
      .withColumn("detx", expr(
        "CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)"))
      .withColumn("dety", expr(
        "CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)"))
      .withColumn("cov", expr(
        "CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)"))
      .filter(col("detx") > 0 && col("dety") > 0)
      .select(col("event_type"), col("n"),
        (col("cov") / col("detx")).as("slope"),
        ((col("sy").cast("double") - (col("cov") / col("detx")) * col("sx").cast("double"))
          / col("n")).as("intercept"),
        (col("cov") * col("cov") / (col("detx") * col("dety"))).as("r2"))
      .orderBy("event_type")
  }

  private val q131Sql = {
    val x = s"""CASE WHEN abs(epoch_us(ts) // 60000000 - 28401120) <= 2000000
               |  THEN epoch_us(ts) // 60000000 - 28401120
               |  ELSE CAST(error('q131: ts outside minute-offset envelope') AS BIGINT) END""".stripMargin
    s"""WITH ev AS (SELECT event_type, $x AS x,
      |  ${MomentGuard.quantizeDuck("value", 3000L, 1000L, "q131")} AS y
      |  FROM events),
      |m AS (SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |  CAST(sum(y) AS BIGINT) AS sy,
      |  ${MomentGuard.sumGuardDuck("CAST(sum(x*x) AS BIGINT)", "count(*)",
           "max(x*x)", "q131")} AS sxx,
      |  ${MomentGuard.sumGuardDuck("CAST(sum(y*y) AS BIGINT)", "count(*)",
           "max(y*y)", "q131")} AS syy,
      |  ${MomentGuard.sumGuardDuck("CAST(sum(x*y) AS BIGINT)", "count(*)",
           "max(abs(x*y))", "q131")} AS sxy
      |  FROM ev GROUP BY 1),
      |d AS (SELECT *,
      |  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS detx,
      |  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS dety,
      |  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS cov
      |  FROM m)
      |SELECT event_type, n, cov/detx AS slope,
      |  (CAST(sy AS DOUBLE) - (cov/detx)*CAST(sx AS DOUBLE))/n AS intercept,
      |  cov*cov/(detx*dety) AS r2
      |FROM d WHERE detx > 0 AND dety > 0
      |ORDER BY event_type""".stripMargin
  }

  /** q132 — per-language Pearson correlation between document length in
    * characters and in words (the feature-redundancy check run before
    * picking quality-filter thresholds). Both variables are already exact
    * integers, so the moments need no quantization step; the correlation
    * is the one IEEE expression `cov / sqrt(detx·dety)` from BIGINT casts.
    * One partial-aggregate shuffle on `lang`; wholly map-side before it.
    * Lengths are unbounded a priori (no per-row envelope applies), which
    * makes the post-aggregate [[graft.util.MomentGuard.sumGuardSpark]]
    * certificate the ONLY thing standing between a pathological shard
    * (a few billion long docs in one lang) and a silently wrapped Σx².
    */
  private val q132: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), col("n_chars").cast("long").as("x"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("y"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x*x")).as("sxxr"), sum(expr("y*y")).as("syyr"),
        sum(expr("x*y")).as("sxyr"),
        max(expr("x*x")).as("mxx"), max(expr("y*y")).as("myy"),
        max(expr("x*y")).as("mxy"))
      .select(col("lang"), col("n"), col("sx"), col("sy"),
        expr(MomentGuard.sumGuardSpark("sxxr", "n", "mxx", "q132")).as("sxx"),
        expr(MomentGuard.sumGuardSpark("syyr", "n", "myy", "q132")).as("syy"),
        expr(MomentGuard.sumGuardSpark("sxyr", "n", "mxy", "q132")).as("sxy"))
      .withColumn("detx", expr(
        "CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)"))
      .withColumn("dety", expr(
        "CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)"))
      .withColumn("cov", expr(
        "CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)"))
      .filter(col("detx") > 0 && col("dety") > 0)
      .select(col("lang"), col("n"),
        (col("cov") / sqrt(col("detx") * col("dety"))).as("chars_words_corr"))
      .orderBy("lang")

  private val q132Sql =
    s"""WITH m AS (SELECT lang, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS sx,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sy,
      |  ${MomentGuard.sumGuardDuck("CAST(sum(n_chars*n_chars) AS BIGINT)",
           "count(*)", "max(n_chars*n_chars)", "q132")} AS sxx,
      |  ${MomentGuard.sumGuardDuck(
           "CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT) * len(string_split(text, ' '))) AS BIGINT)",
           "count(*)",
           "max(CAST(len(string_split(text, ' ')) AS BIGINT) * len(string_split(text, ' ')))",
           "q132")} AS syy,
      |  ${MomentGuard.sumGuardDuck(
           "CAST(sum(n_chars * len(string_split(text, ' '))) AS BIGINT)",
           "count(*)",
           "max(n_chars * len(string_split(text, ' ')))", "q132")} AS sxy
      |  FROM documents GROUP BY 1),
      |d AS (SELECT *,
      |  CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS detx,
      |  CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS dety,
      |  CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS cov
      |  FROM m)
      |SELECT lang, n, cov/sqrt(detx*dety) AS chars_words_corr
      |FROM d WHERE detx > 0 AND dety > 0
      |ORDER BY lang""".stripMargin

  /** q135 — robust outlier detection per event type: median + MAD (median
    * absolute deviation) instead of mean + stddev, so a heavy tail cannot
    * inflate its own threshold (the data-cleaning failure mode of q112's
    * z-score). `value` quantized to 0.001 once; both medians are exact
    * `percentile_disc` aggregates over BIGINTs (the q95-proven
    * Spark ⇄ DuckDB `quantile_disc` pair), the deviation is integer
    * subtraction, and the outlier predicate `dev > 3·MAD` is an integer
    * comparison — no float enters the query at all. Two grouped exact
    * medians + one broadcast-sized join back to the rows; at 100 TB the
    * exact median swaps for `approx_percentile` (t-digest) with the same
    * query shape, the trade q59 documents.
    */
  private val q135: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(col("event_type"),
        // Same shared per-row envelope as q112/q131: medians themselves
        // cannot overflow, but the envelope keeps the whole family's
        // quantization contract (and the 3·MAD predicate's headroom)
        // uniform and loudly enforced on both engines.
        expr(MomentGuard.quantizeSpark("value", 3000L, 1000L, "q135")).as("q"))
      .createOrReplaceTempView("events_q135")
    s.sql(
      """WITH med AS (SELECT event_type,
        |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY q) AS BIGINT) AS med_q
        |  FROM events_q135 GROUP BY event_type),
        |dev AS (SELECT e.event_type, abs(e.q - m.med_q) AS dev
        |  FROM events_q135 e JOIN med m ON e.event_type = m.event_type),
        |mad AS (SELECT event_type,
        |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dev) AS BIGINT) AS mad_q
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n, m2.med_q, m1.mad_q,
        |  CAST(sum(CASE WHEN d.dev > 3 * m1.mad_q THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev d
        |JOIN mad m1 ON d.event_type = m1.event_type
        |JOIN med m2 ON d.event_type = m2.event_type
        |GROUP BY d.event_type, m2.med_q, m1.mad_q
        |ORDER BY event_type""".stripMargin)
  }

  private val q135Sql =
    s"""WITH ev AS (SELECT event_type,
      |  ${MomentGuard.quantizeDuck("value", 3000L, 1000L, "q135")} AS q
      |  FROM events),
      |med AS (SELECT event_type, CAST(quantile_disc(q, 0.5) AS BIGINT) AS med_q
      |  FROM ev GROUP BY 1),
      |dev AS (SELECT e.event_type, abs(e.q - m.med_q) AS dev
      |  FROM ev e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad_q
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n, m2.med_q, m1.mad_q,
      |  CAST(sum(CASE WHEN d.dev > 3 * m1.mad_q THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev d
      |JOIN mad m1 USING (event_type)
      |JOIN med m2 USING (event_type)
      |GROUP BY d.event_type, m2.med_q, m1.mad_q
      |ORDER BY event_type""".stripMargin

  /** Shared finishing arithmetic for q137's 2×2 chi-square: one identical
    * expression string on both engines (same parse, same precedence, same
    * IEEE-754 sequence over exactly-representable BIGINT casts), with the
    * squared term staged through a named column so neither engine goes
    * near `pow` (libm pow is NOT guaranteed bit-identical across
    * implementations; `dd * dd` is one exactly-rounded multiply).
    */
  private val chi2Num =
    "CAST(n_a AS DOUBLE) * CAST(tot_b - n_b AS DOUBLE) - CAST(n_b AS DOUBLE) * CAST(tot_a - n_a AS DOUBLE)"
  private val chi2Expr =
    "CAST(tot_a + tot_b AS DOUBLE) * (dd * dd) / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_a + tot_b - n_a - n_b AS DOUBLE) * CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE))"

  /** q137 — token-distribution drift between two corpus snapshots: the 2×2
    * chi-square statistic per token, the audit run before mixing a new
    * crawl into the training corpus (a token whose rate shifts sharply
    * between snapshots flags scraper drift, spam bursts, or template
    * changes). The "snapshots" are the deterministic doc_id-parity halves
    * (a real deployment keys halves by crawl date — same plan); counts are
    * exact BIGINTs from one explode + one partial-aggregate shuffle on
    * token; the corpus totals are a 1-row broadcast (scalar crossJoin, the
    * q70/q130 pattern); the statistic is one shared IEEE expression
    * ([[chi2Expr]]) over exact integer inputs. The all-tokens degenerate
    * row (denominator zero) is excluded by the same integer predicate on
    * both engines. Linear, two narrow shuffles, no row ever leaves its
    * token group — safe over the full corpus.
    */
  private val q137: Q = (s, dir) => {
    val tok = Tables.spread(Tables.documents(s, dir))
      .select((col("doc_id") % 2 === 0).as("in_a"),
        explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val cnt = tok.groupBy("token").agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
    // Corpus-total token counts could only wrap past ~9.2e18 tokens, but
    // the shared certificate is one cheap aggregate pair — keep the whole
    // moment family under the same loud guard.
    val tot = cnt.agg(count(lit(1)).as("nt"),
        sum("n_a").as("ta"), sum("n_b").as("tb"),
        max("n_a").as("ma"), max("n_b").as("mb"))
      .select(
        expr(MomentGuard.sumGuardSpark("ta", "nt", "ma", "q137")).as("tot_a"),
        expr(MomentGuard.sumGuardSpark("tb", "nt", "mb", "q137")).as("tot_b"))
    cnt.crossJoin(broadcast(tot)) // scalar broadcast: 1-row totals
      .filter(expr("n_a + n_b < tot_a + tot_b"))
      .withColumn("dd", expr(chi2Num))
      .select(col("token"), col("n_a"), col("n_b"),
        expr(chi2Expr).as("chi2"))
      .orderBy("token")
  }

  private val q137Sql =
    s"""WITH tok AS (SELECT doc_id % 2 = 0 AS in_a,
      |    unnest(string_split(text, ' ')) AS token FROM documents),
      |cnt AS (SELECT token,
      |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM tok WHERE len(token) > 0 GROUP BY 1),
      |tot AS (SELECT
      |    ${MomentGuard.sumGuardDuck("CAST(sum(n_a) AS BIGINT)", "count(*)",
             "max(n_a)", "q137")} AS tot_a,
      |    ${MomentGuard.sumGuardDuck("CAST(sum(n_b) AS BIGINT)", "count(*)",
             "max(n_b)", "q137")} AS tot_b FROM cnt),
      |d AS (SELECT token, n_a, n_b, tot_a, tot_b, $chi2Num AS dd
      |  FROM cnt CROSS JOIN tot
      |  WHERE n_a + n_b < tot_a + tot_b)
      |SELECT token, n_a, n_b, $chi2Expr AS chi2
      |FROM d ORDER BY token""".stripMargin

  /** q180 — per-source token-distribution KL divergence from the corpus:
    * `D_KL(source ‖ corpus) = Σ_t p_s(t)·log2(p_s(t)/p_c(t))` — the
    * single-number drift/quality score per ingest source (a spammy or
    * templated source's distribution diverges hard from the mix), the
    * per-source generalization of q137's per-token chi-square. The
    * number a source-weighting policy (q151/q157) reads before trusting
    * a source's token mass.
    *
    * Determinism: each (source, token) term is quantized
    * `round(·1e7)::BIGINT` BEFORE the per-source sum (q103/q108's log2
    * discipline — identical parse, identical IEEE sequence on both
    * engines), so the cross-token accumulation is exact integer
    * arithmetic. Scale shape: one token-stream reduce to (source, token)
    * counts, a token-keyed equi-join against per-token corpus counts
    * (vocabulary-sized, unbounded — stays a shuffle join, per q70's
    * rationale), and |sources|-row / 1-row broadcasts for the
    * denominators; the rollup is |sources| rows.
    */
  private val q180: Q = (s, dir) => {
    val tok = Tables.spread(Tables.documents(s, dir))
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val st = graft.util.QueryCaches.tracked(
      tok.groupBy("source", "token").agg(count(lit(1)).as("cst")))
    val ct = st.groupBy("token").agg(sum("cst").as("ct"))
    val ns = st.groupBy("source").agg(sum("cst").as("ns"))
    val n = ns.agg(sum("ns").as("n"))
    st.join(ct, "token")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(n)) // scalar broadcast: 1-row corpus total
      .withColumn("termq", expr(
        """CAST(round((CAST(cst AS DOUBLE) / CAST(ns AS DOUBLE))
          |  * log2((CAST(cst AS DOUBLE) * CAST(n AS DOUBLE))
          |         / (CAST(ns AS DOUBLE) * CAST(ct AS DOUBLE))) * 1e7)
          |  AS BIGINT)""".stripMargin))
      .groupBy("source")
      .agg(max("ns").as("n_tokens"), sum("termq").as("sq"))
      .select(col("source"), col("n_tokens"),
        (col("sq").cast("double") / 1e7).as("kl_bits"))
      .orderBy("source")
  }

  private val q180Sql =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |t2 AS (SELECT source, token FROM tok WHERE len(token) > 0),
      |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cst
      |  FROM t2 GROUP BY 1, 2),
      |ct AS (SELECT token, CAST(sum(cst) AS BIGINT) AS ct FROM st GROUP BY 1),
      |ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ns FROM st GROUP BY 1),
      |n AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM ns),
      |terms AS (SELECT st.source, ns.ns,
      |    CAST(round((CAST(st.cst AS DOUBLE) / CAST(ns.ns AS DOUBLE))
      |      * log2((CAST(st.cst AS DOUBLE) * CAST(n.n AS DOUBLE))
      |             / (CAST(ns.ns AS DOUBLE) * CAST(ct.ct AS DOUBLE))) * 1e7)
      |      AS BIGINT) AS termq
      |  FROM st JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN n)
      |SELECT source, max(ns) AS n_tokens,
      |  CAST(CAST(sum(termq) AS BIGINT) AS DOUBLE) / 1e7 AS kl_bits
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** q195 — Zipf-law fit of the token frequency distribution: OLS slope
    * of log₂(freq) on log₂(rank) over the top-1000 tokens, with R² —
    * the one-number sanity check of a text corpus's statistical health
    * (natural language sits near slope −1; synthetic, deduplicated-to-
    * death, or template-dominated corpora bend away, and the fit
    * quality R² says HOW power-law-like the distribution still is).
    *
    * Scale shape: the unbounded vocabulary is ranked by the zero-window
    * [[GlobalRank.rowNumber]] (range partition + broadcast offsets — no
    * single-partition stage), the fit then runs on the BOUNDED top-1000
    * relation in one aggregate. Determinism: both logs are quantized
    * `round(·1e4)::BIGINT` before any cross-row sum, so the five moments
    * are associative-exact; static envelopes keep every product far
    * inside BIGINT even at 100 TB (rank ≤ 1000 ⇒ |x| ≤ 1e5; freq ≤ 2⁶³
    * ⇒ |y| ≤ 6.3e5; n ≤ 1000 ⇒ n·Σxy ≤ 6.3e16). The slope/R²
    * derivations are single IEEE expressions over exactly-representable
    * integer diffs (< 2⁵³), mirrored verbatim in the oracle.
    */
  private val q195: Q = (s, dir) => {
    val freq = Tables.spread(Tables.documents(s, dir))
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val pts = GlobalRank.rowNumber(freq, "rank",
        Seq(col("freq").desc, col("token")))
      .filter(col("rank") <= 1000)
      .select(
        expr("CAST(round(log2(CAST(rank AS DOUBLE)) * 1e4) AS BIGINT)").as("x"),
        expr("CAST(round(log2(CAST(freq AS DOUBLE)) * 1e4) AS BIGINT)").as("y"))
    pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x*x")).as("sxx"), sum(expr("x*y")).as("sxy"),
        sum(expr("y*y")).as("syy"))
      .select(col("n"),
        expr("""CASE WHEN n*sxx - sx*sx = 0 THEN 0D
                |ELSE CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
                |END""".stripMargin).as("slope"),
        expr("""CASE WHEN n*sxx - sx*sx = 0 THEN 0D
                |ELSE 0D - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
                |END""".stripMargin).as("zipf_exp"),
        expr("""CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN 0D
                |ELSE (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
                |  / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
                |END""".stripMargin).as("r2"))
  }

  private val q195Sql =
    """WITH f AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM
      |    (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY 1),
      |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token)
      |  AS rank FROM f),
      |p AS (SELECT
      |    CAST(round(log2(CAST(rank AS DOUBLE)) * 1e4) AS BIGINT) AS x,
      |    CAST(round(log2(CAST(freq AS DOUBLE)) * 1e4) AS BIGINT) AS y
      |  FROM r WHERE rank <= 1000),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
      |    CAST(sum(y*y) AS BIGINT) AS syy
      |  FROM p)
      |SELECT n,
      |  CASE WHEN n*sxx - sx*sx = 0 THEN 0.0
      |  ELSE CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
      |  END AS slope,
      |  CASE WHEN n*sxx - sx*sx = 0 THEN 0.0
      |  ELSE 0.0 - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
      |  END AS zipf_exp,
      |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN 0.0
      |  ELSE (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
      |    / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
      |  END AS r2
      |FROM m""".stripMargin

  /** q196 — daily volume anomaly detection: per (event_type, day) counts
    * flagged against that type's median ± 3·MAD — q135's robust-outlier
    * discipline lifted from row values to the TIME SERIES of daily
    * volumes, the monitoring query that catches a broken producer or an
    * ingest gap before it poisons a training snapshot. Everything is
    * integer end-to-end: days from epoch-µs floor division (the
    * [[graft.util.SqlArith.floorDiv]] form that agrees with `//` on
    * pre-1970 rows too), counts exact, both medians exact
    * `percentile_disc` ⇄ `quantile_disc` twins (the q95-proven pair),
    * and the anomaly predicate an integer comparison. Scale shape: one
    * (type, day) partial+final count, two grouped exact medians over
    * the ALREADY-AGGREGATED ≤|types|·|days| relation (tiny — the raw
    * events never pass through a median), one broadcast-sized join
    * back. A zero MAD (over half the days identical) flags every
    * deviating day — the strictest consistent reading, identical on
    * both engines.
    */
  private val q196: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(col("event_type"),
        expr(SqlArith.floorDiv("unix_micros(ts)", 86400000000L)).as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"))
      .createOrReplaceTempView("events_q196")
    s.sql(
      """WITH med AS (SELECT event_type,
        |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS BIGINT)
        |      AS med_n
        |  FROM events_q196 GROUP BY event_type),
        |dev AS (SELECT e.event_type, e.day, e.n, m.med_n,
        |    abs(e.n - m.med_n) AS dev
        |  FROM events_q196 e JOIN med m ON e.event_type = m.event_type),
        |mad AS (SELECT event_type,
        |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dev) AS BIGINT)
        |      AS mad_n
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, d.day, d.n, d.med_n, m.mad_n,
        |  d.dev > 3 * m.mad_n AS is_anomaly
        |FROM dev d JOIN mad m ON d.event_type = m.event_type
        |ORDER BY event_type, day""".stripMargin)
  }

  private val q196Sql =
    """WITH c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |med AS (SELECT event_type, CAST(quantile_disc(n, 0.5) AS BIGINT) AS med_n
      |  FROM c GROUP BY 1),
      |dev AS (SELECT c.event_type, c.day, c.n, med.med_n,
      |    abs(c.n - med.med_n) AS dev
      |  FROM c JOIN med USING (event_type)),
      |mad AS (SELECT event_type, CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad_n
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, CAST(d.day AS BIGINT) AS day, d.n, d.med_n,
      |  m.mad_n, d.dev > 3 * m.mad_n AS is_anomaly
      |FROM dev d JOIN mad m USING (event_type)
      |ORDER BY event_type, day""".stripMargin

  /** q200 — deterministic bootstrap confidence interval for the mean of
    * `value`: 100 half-sample replicas drawn by a digest predicate
    * (replica r includes a row iff a 16-bit md5 slice of
    * `event_id_r` is even — q62's reproducible-sampling rule, so the
    * "randomness" is identical on any engine, any cluster, any day),
    * each replica's mean computed EXACTLY as a scaled BIGINT via the
    * overflow-free split floor division
    * `(Σq div n)·10⁶ + ((Σq mod n)·10⁶) div n` (the remainder term is
    * < n·10⁶, so this form survives 100 TB row counts where a naive
    * `Σq·10⁶` would wrap), and the 5%/50%/95% band read off the 100
    * integer means with the exact `percentile_disc` ⇄ `quantile_disc`
    * twins. Scale shape: ONE md5 per event (the digest's 128 bits carry
    * all 100 replica memberships — bit r of the hex string decides
    * replica r, so the per-(event, replica) work after the explode is a
    * few integer ops, not a hash; the first form hashed per PAIR and
    * was 3× slower), the 100-way explode is map-side, and partial
    * aggregation collapses it to ≤100 rows per partition before the
    * one shuffle — a bootstrap over 100 TB costs one pass, not 100.
    */
  private val q200: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(
        md5(col("event_id").cast("string")).as("dig"),
        expr(MomentGuard.quantizeSpark("value", 3000L, 1000L, "q200")).as("q"))
      .select(col("dig"), col("q"),
        explode(expr("sequence(0, 99)")).as("rep"))
      .filter(expr(
        """shiftright(
          |  CAST(conv(substring(dig, CAST(1 + rep div 4 AS INT), 1), 16, 10)
          |    AS INT),
          |  CAST(rep % 4 AS INT)) % 2 = 0""".stripMargin))
    ev.groupBy("rep")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"))
      .select(col("rep"),
        expr("""(sq div n) * 1000000L + ((sq % n) * 1000000L) div n""")
          .as("mq"))
      .createOrReplaceTempView("events_q200")
    s.sql(
      """SELECT CAST(count(*) AS BIGINT) AS n_replicas,
        |  CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY mq) AS BIGINT)
        |    / 1e9 AS mean_lo,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY mq) AS BIGINT)
        |    / 1e9 AS mean_med,
        |  CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY mq) AS BIGINT)
        |    / 1e9 AS mean_hi
        |FROM events_q200""".stripMargin)
  }

  private val q200Sql =
    s"""WITH ed AS (SELECT md5(event_id::VARCHAR) AS dig,
      |    ${MomentGuard.quantizeDuck("value", 3000L, 1000L, "q200")} AS q
      |  FROM events),
      |ev AS (SELECT e.dig, e.q, t.rep
      |  FROM ed e, unnest(generate_series(0, 99)) AS t(rep)
      |  WHERE (CAST(('0x' || substr(e.dig, CAST(1 + t.rep // 4 AS INTEGER), 1))
      |    AS INTEGER) >> CAST(t.rep % 4 AS INTEGER)) % 2 = 0),
      |m AS (SELECT rep, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(q) AS BIGINT) AS sq
      |  FROM ev GROUP BY 1),
      |mm AS (SELECT rep,
      |    (sq // n) * 1000000 + ((sq % n) * 1000000) // n AS mq
      |  FROM m)
      |SELECT CAST(count(*) AS BIGINT) AS n_replicas,
      |  CAST(quantile_disc(mq, 0.05) AS BIGINT) / 1e9 AS mean_lo,
      |  CAST(quantile_disc(mq, 0.5) AS BIGINT) / 1e9 AS mean_med,
      |  CAST(quantile_disc(mq, 0.95) AS BIGINT) / 1e9 AS mean_hi
      |FROM mm""".stripMargin

  /** q201 — shuffle-key skew scout: for every key column the engine's
    * own queries shuffle on (documents.lang / documents.source /
    * events.event_type / events.user_id), the cardinality, the dominant
    * key's share, and the Herfindahl concentration Σ(share²) — the
    * pre-run audit that decides WHERE salting (q63/q77) and AQE
    * skew-splitting will be needed before a 100 TB shuffle discovers it.
    * HHI comes from exact `Σ cnt²` under the [[MomentGuard]] aggregate
    * certificate (a key family hot enough to wrap the BIGINT square sum
    * raises identically on both engines); shares are single IEEE
    * divides, with the squared denominator formed in DOUBLE so the
    * derivation itself cannot overflow at any scale. Per family: one
    * partial+final count, one |keys|-row rollup — four scan-shaped
    * probes, a 4-row result.
    */
  private val q201: Q = (s, dir) => {
    def fam(df: org.apache.spark.sql.DataFrame, table: String,
        colName: String): DataFrame =
      df.groupBy(col(colName).cast("string").as("k"))
        .agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
          max("cnt").as("max_cnt"),
          sum(expr("cnt * cnt")).as("s2r"), max(expr("cnt * cnt")).as("m2"))
        .select(lit(table).as("table_name"), lit(colName).as("key_col"),
          col("n_keys"), col("n_rows"), col("max_cnt"),
          expr(MomentGuard.sumGuardSpark("s2r", "n_keys", "m2", "q201"))
            .as("s2"))
        .select(col("table_name"), col("key_col"), col("n_keys"),
          col("n_rows"), col("max_cnt"),
          (col("max_cnt").cast("double") / col("n_rows")).as("max_share"),
          (col("s2").cast("double") /
            (col("n_rows").cast("double") * col("n_rows").cast("double")))
            .as("hhi"))
    val docs = Tables.spread(Tables.documents(s, dir))
    val ev = Tables.events(s, dir)
    fam(docs, "documents", "lang")
      .unionByName(fam(docs, "documents", "source"))
      .unionByName(fam(ev, "events", "event_type"))
      .unionByName(fam(ev, "events", "user_id"))
      .orderBy("table_name", "key_col")
  }

  private val q201Sql = {
    def fam(table: String, colName: String): String =
      s"""SELECT '$table' AS table_name, '$colName' AS key_col,
         |  n_keys, n_rows, max_cnt,
         |  CAST(max_cnt AS DOUBLE) / n_rows AS max_share,
         |  CAST(s2 AS DOUBLE) /
         |    (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS hhi
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |    CAST(sum(cnt) AS BIGINT) AS n_rows,
         |    CAST(max(cnt) AS BIGINT) AS max_cnt,
         |    ${MomentGuard.sumGuardDuck(
                  "CAST(sum(cnt * cnt) AS BIGINT)", "count(*)",
                  "max(cnt * cnt)", "q201")} AS s2
         |  FROM (SELECT $colName::VARCHAR AS k, CAST(count(*) AS BIGINT)
         |          AS cnt FROM $table GROUP BY 1))""".stripMargin
    Seq(fam("documents", "lang"), fam("documents", "source"),
        fam("events", "event_type"), fam("events", "user_id"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name, key_col")
  }

  /** Shared JSD term for q217 — ONE fragment interpolated into both
    * engines so the IEEE operation sequence is identical; `cf/cb` are the
    * per-token front/back counts, `nf/nb` the totals. Zero-count sides
    * reduce to the exact closed form (log2(2) = 1) instead of the NaN the
    * raw formula would produce. */
  private val jsdTerm =
    """CASE WHEN cf = 0 THEN 0.5 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |WHEN cb = 0 THEN 0.5 * (CAST(cf AS DOUBLE) / CAST(nf AS DOUBLE))
      |ELSE 0.5 * (CAST(cf AS DOUBLE) / CAST(nf AS DOUBLE))
      |    * log2(2.0 * (CAST(cf AS DOUBLE) / CAST(nf AS DOUBLE))
      |      / ((CAST(cf AS DOUBLE) / CAST(nf AS DOUBLE))
      |        + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))))
      |  + 0.5 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |    * log2(2.0 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |      / ((CAST(cf AS DOUBLE) / CAST(nf AS DOUBLE))
      |        + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))))
      |END""".stripMargin

  /** q217 — positional token drift: the Jensen–Shannon divergence (bits)
    * between the token distribution of document FRONT halves and BACK
    * halves — the positional-bias audit for truncation-based training
    * (if models mostly see document beginnings because packing truncates,
    * this number says how different the text they never see actually is;
    * boilerplate headers/footers also surface here). JSD, not KL, because
    * position-exclusive tokens are expected and must stay finite. Same
    * determinism discipline as q180: each token's term is one shared-text
    * IEEE derivation quantized `round(·1e7)::BIGINT` BEFORE the
    * cross-token sum, so accumulation is exact integer arithmetic in any
    * shuffle order. Scale shape: one positional explode →
    * (token, half) partial+final count, a 1-row totals broadcast, and a
    * vocabulary-sized fold to a single row.
    */
  private val q217: Q = (s, dir) => {
    val cnt = Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
      .select(col("words"), posexplode(col("words")))
      .filter(length(col("col")) > 0)
      .select(col("col").as("token"),
        (col("pos") * 2 < size(col("words"))).as("front"))
      .groupBy("token")
      .agg(sum(when(col("front"), 1L).otherwise(0L)).as("cf"),
        sum(when(!col("front"), 1L).otherwise(0L)).as("cb"))
    val tot = cnt.agg(sum("cf").as("nf"), sum("cb").as("nb"))
    cnt.crossJoin(broadcast(tot))
      .withColumn("termq",
        expr(s"CAST(round(($jsdTerm) * 1e7) AS BIGINT)"))
      .agg(max("nf").as("n_front"), max("nb").as("n_back"),
        count(lit(1)).as("n_types"),
        sum(when(col("cb") === 0, 1L).otherwise(0L)).as("n_front_only"),
        sum(when(col("cf") === 0, 1L).otherwise(0L)).as("n_back_only"),
        sum("termq").as("sq"))
      .select(col("n_front"), col("n_back"), col("n_types"),
        col("n_front_only"), col("n_back_only"),
        (col("sq").cast("double") / 1e7).as("jsd_bits"))
  }

  private val q217Sql =
    s"""WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
       |tk AS (SELECT len(words) AS nw, unnest(words) AS token,
       |    unnest(generate_series(1, len(words))) AS ord FROM w),
       |t2 AS (SELECT token, (ord - 1) * 2 < nw AS front FROM tk
       |  WHERE length(token) > 0),
       |cnt AS (SELECT token,
       |    CAST(sum(CASE WHEN front THEN 1 ELSE 0 END) AS BIGINT) AS cf,
       |    CAST(sum(CASE WHEN front THEN 0 ELSE 1 END) AS BIGINT) AS cb
       |  FROM t2 GROUP BY 1),
       |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS nf,
       |    CAST(sum(cb) AS BIGINT) AS nb FROM cnt),
       |terms AS (SELECT cf, cb, nf, nb,
       |    CAST(round(($jsdTerm) * 1e7) AS BIGINT) AS termq
       |  FROM cnt CROSS JOIN tot)
       |SELECT CAST(max(nf) AS BIGINT) AS n_front,
       |  CAST(max(nb) AS BIGINT) AS n_back,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(sum(CASE WHEN cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_front_only,
       |  CAST(sum(CASE WHEN cf = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_back_only,
       |  CAST(CAST(sum(termq) AS BIGINT) AS DOUBLE) / 1e7 AS jsd_bits
       |FROM terms""".stripMargin

  /** q219 — salt-rebalance plan: the actionable sequel to q201's skew
    * scout. For each shuffle-key family, size the salting the engine's
    * own salted operators (q63/q77) would need on THIS data: with a
    * per-reducer target of ⌈rows/32⌉ (32 = the session's shuffle
    * parallelism), each key's salt factor is ⌈n_k/target⌉, and the plan
    * reports how many keys need salting, the total salted partition
    * count, and the worst per-reducer load before vs after (the
    * skew_before → skew_after collapse is the predicted win; ≈1.0 after
    * means the plan restores balance). All ceilings are exact
    * floor-division identities on non-negative BIGINTs (`div` ⇄ `//`
    * agree); the two skew ratios are final IEEE divides. Scale shape:
    * per family one partial+final key count, a 1-row total broadcast,
    * and a |keys|-row fold — the plan costs one scan, the shuffle it
    * fixes costs hours.
    */
  private val q219: Q = (s, dir) => {
    def plan(df: org.apache.spark.sql.DataFrame, table: String,
        colName: String): DataFrame = {
      val h = df.groupBy(col(colName).cast("string").as("k"))
        .agg(count(lit(1)).as("n"))
      val tot = h.agg(sum("n").as("total"))
      h.crossJoin(broadcast(tot))
        .withColumn("t", expr("(total + 31L) div 32L"))
        .withColumn("salt", expr("(n + t - 1L) div t"))
        .withColumn("aftr", expr("(n + salt - 1L) div salt"))
        .agg(count(lit(1)).as("n_keys"), max("total").as("n_rows"),
          max("t").as("target_rows"), max("n").as("max_before"),
          sum(when(col("salt") > 1, 1L).otherwise(0L)).as("n_hot_keys"),
          sum("salt").as("n_salted_parts"), max("aftr").as("max_after"))
        .select(lit(table).as("table_name"), lit(colName).as("key_col"),
          col("n_rows"), col("n_keys"), col("target_rows"),
          col("max_before"), col("n_hot_keys"), col("n_salted_parts"),
          col("max_after"),
          (col("max_before").cast("double") /
            col("target_rows").cast("double")).as("skew_before"),
          (col("max_after").cast("double") /
            col("target_rows").cast("double")).as("skew_after"))
    }
    val docs = Tables.spread(Tables.documents(s, dir))
    plan(docs, "documents", "lang")
      .unionByName(plan(docs, "documents", "source"))
      .unionByName(plan(Tables.events(s, dir), "events", "event_type"))
      .orderBy("table_name", "key_col")
  }

  private val q219Sql: String = {
    def frag(i: Int, table: String, key: String): String =
      s"""h_$i AS (SELECT CAST($key AS VARCHAR) AS k,
         |    CAST(count(*) AS BIGINT) AS n FROM $table GROUP BY 1),
         |t_$i AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h_$i),
         |z_$i AS (SELECT n, total, t, salt,
         |    (n + salt - 1) // salt AS aftr FROM (
         |  SELECT n, total, t, (n + t - 1) // t AS salt FROM (
         |    SELECT n, total, (total + 31) // 32 AS t
         |    FROM h_$i CROSS JOIN t_$i) x) y),
         |f_$i AS (SELECT '$table' AS table_name, '$key' AS key_col,
         |    CAST(max(total) AS BIGINT) AS n_rows,
         |    CAST(count(*) AS BIGINT) AS n_keys,
         |    CAST(max(t) AS BIGINT) AS target_rows,
         |    CAST(max(n) AS BIGINT) AS max_before,
         |    CAST(sum(CASE WHEN salt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hot_keys,
         |    CAST(sum(salt) AS BIGINT) AS n_salted_parts,
         |    CAST(max(aftr) AS BIGINT) AS max_after,
         |    CAST(max(n) AS DOUBLE) / CAST(max(t) AS DOUBLE)
         |      AS skew_before,
         |    CAST(max(aftr) AS DOUBLE) / CAST(max(t) AS DOUBLE)
         |      AS skew_after
         |  FROM z_$i)""".stripMargin
    s"""WITH ${frag(1, "documents", "lang")},
       |${frag(2, "documents", "source")},
       |${frag(3, "events", "event_type")}
       |SELECT * FROM (SELECT * FROM f_1 UNION ALL SELECT * FROM f_2
       |  UNION ALL SELECT * FROM f_3)
       |ORDER BY table_name, key_col""".stripMargin
  }

  /** q221 — mergeable-sketch quantile audit: estimate p50/p95/p99 of the
    * event value stream from a fixed 1024-bucket equi-width histogram —
    * the mergeable summary a 1000-executor job can build with ONE
    * partial+final aggregate and zero sorts — and report each estimate
    * against the exact `percentile_disc`, with the bucket-width bound on
    * the error. This is the accuracy-for-scale trade quantified: exact
    * distributed percentiles need a full sort or GlobalRank pass; the
    * histogram needs one scan and 1024 counters. Determinism: bucket
    * assignment and the midpoint estimate are single shared-text IEEE
    * derivations from the 1-row min/max; thresholds ⌈p·n⌉ are exact
    * integer ceilings; the cumulative fold is a triangle join over the
    * BOUNDED 1024-row histogram (q163's pattern), never a window.
    */
  private val q221: Q = (s, dir) => {
    Tables.events(s, dir).select(col("value").as("v"))
      .createOrReplaceTempView("vals_q221")
    s.sql(
      """WITH st AS (SELECT CAST(min(v) AS DOUBLE) AS lo,
        |    CAST(max(v) AS DOUBLE) AS hi, CAST(count(*) AS BIGINT) AS n
        |  FROM vals_q221),
        |b AS (SELECT CASE WHEN st.hi = st.lo THEN CAST(0 AS BIGINT)
        |    ELSE least(CAST(floor((v - st.lo) / (st.hi - st.lo) * 1024.0)
        |      AS BIGINT), CAST(1023 AS BIGINT)) END AS bucket
        |  FROM vals_q221 CROSS JOIN st),
        |h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM b
        |  GROUP BY bucket),
        |cm AS (SELECT a.bucket, CAST(sum(bb.c) AS BIGINT) AS cum
        |  FROM h a JOIN h bb ON bb.bucket <= a.bucket GROUP BY a.bucket),
        |thr AS (SELECT CAST(0.5 AS DOUBLE) AS p, (n + 1) div 2 AS thr,
        |    n, lo, hi FROM st
        |  UNION ALL SELECT CAST(0.95 AS DOUBLE), (19 * n + 19) div 20,
        |    n, lo, hi FROM st
        |  UNION ALL SELECT CAST(0.99 AS DOUBLE), (99 * n + 99) div 100,
        |    n, lo, hi FROM st),
        |est AS (SELECT t.p, t.n, t.lo, t.hi,
        |    CAST(min(c.bucket) AS BIGINT) AS eb
        |  FROM thr t JOIN cm c ON c.cum >= t.thr
        |  GROUP BY t.p, t.n, t.lo, t.hi),
        |ex AS (SELECT
        |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v)
        |      AS DOUBLE) AS e50,
        |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY v)
        |      AS DOUBLE) AS e95,
        |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY v)
        |      AS DOUBLE) AS e99 FROM vals_q221)
        |SELECT p, n, eb AS bucket,
        |  lo + (CAST(eb AS DOUBLE) + 0.5) / 1024.0 * (hi - lo)
        |    AS est_value,
        |  CASE WHEN p = 0.5 THEN e50 WHEN p = 0.95 THEN e95 ELSE e99 END
        |    AS exact_value,
        |  abs(lo + (CAST(eb AS DOUBLE) + 0.5) / 1024.0 * (hi - lo)
        |    - CASE WHEN p = 0.5 THEN e50 WHEN p = 0.95 THEN e95 ELSE e99
        |      END) AS abs_err,
        |  (hi - lo) / 1024.0 AS max_err_bound
        |FROM est CROSS JOIN ex ORDER BY p""".stripMargin)
  }

  private val q221Sql =
    """WITH st AS (SELECT CAST(min(value) AS DOUBLE) AS lo,
      |    CAST(max(value) AS DOUBLE) AS hi, CAST(count(*) AS BIGINT) AS n
      |  FROM events),
      |b AS (SELECT CASE WHEN st.hi = st.lo THEN CAST(0 AS BIGINT)
      |    ELSE least(CAST(floor((value - st.lo) / (st.hi - st.lo)
      |      * 1024.0) AS BIGINT), CAST(1023 AS BIGINT)) END AS bucket
      |  FROM events CROSS JOIN st),
      |h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM b
      |  GROUP BY bucket),
      |cm AS (SELECT a.bucket, CAST(sum(bb.c) AS BIGINT) AS cum
      |  FROM h a JOIN h bb ON bb.bucket <= a.bucket GROUP BY a.bucket),
      |thr AS (SELECT CAST(0.5 AS DOUBLE) AS p, (n + 1) // 2 AS thr,
      |    n, lo, hi FROM st
      |  UNION ALL SELECT CAST(0.95 AS DOUBLE), (19 * n + 19) // 20,
      |    n, lo, hi FROM st
      |  UNION ALL SELECT CAST(0.99 AS DOUBLE), (99 * n + 99) // 100,
      |    n, lo, hi FROM st),
      |est AS (SELECT t.p, t.n, t.lo, t.hi,
      |    CAST(min(c.bucket) AS BIGINT) AS eb
      |  FROM thr t JOIN cm c ON c.cum >= t.thr
      |  GROUP BY t.p, t.n, t.lo, t.hi),
      |ex AS (SELECT
      |    CAST(quantile_disc(value, 0.5) AS DOUBLE) AS e50,
      |    CAST(quantile_disc(value, 0.95) AS DOUBLE) AS e95,
      |    CAST(quantile_disc(value, 0.99) AS DOUBLE) AS e99 FROM events)
      |SELECT p, n, eb AS bucket,
      |  lo + (CAST(eb AS DOUBLE) + 0.5) / 1024.0 * (hi - lo)
      |    AS est_value,
      |  CASE WHEN p = 0.5 THEN e50 WHEN p = 0.95 THEN e95 ELSE e99 END
      |    AS exact_value,
      |  abs(lo + (CAST(eb AS DOUBLE) + 0.5) / 1024.0 * (hi - lo)
      |    - CASE WHEN p = 0.5 THEN e50 WHEN p = 0.95 THEN e95 ELSE e99
      |      END) AS abs_err,
      |  (hi - lo) / 1024.0 AS max_err_bound
      |FROM est CROSS JOIN ex ORDER BY p""".stripMargin

  /** q223 — Neyman (σ-proportional) stratified sampling allocation: for
    * a 1000-sample budget estimating the mean event value, each event
    * type's share is proportional to N_h·σ_h (the variance-optimal
    * design), floored and topped up by q193's Hamilton largest-remainder
    * so Σ alloc = budget EXACTLY. The σ_h come from exact quantized
    * BIGINT moments ([[graft.util.MomentGuard]] per-row envelope +
    * aggregate certificate); the weight w = N·σ collapses to a BIGINT
    * through ONE shared IEEE floor expression; base/remainder are exact
    * integer div/mod (guarded product), and the remainder rank is the
    * bounded |types|² triangle join — never a window. This is how a
    * 100 TB profiling job decides how many rows to pull from each
    * stratum before it pulls any.
    */
  /** Neyman allocation relation (event_type, n_events, wq, base,
    * rem_rank, alloc) — shared by q223 (the plan) and q235 (its
    * execution). */
  private def neymanAlloc(s: SparkSession, dir: String): DataFrame = {
    val B = 1000L
    val m = Tables.events(s, dir)
      .select(col("event_type"),
        expr(MomentGuard.quantizeSpark("value", 1000000L, 100L, "q223"))
          .as("q"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("q").as("s1"),
        sum(expr("q * q")).as("s2"), max(expr("q * q")).as("m2"))
      .select(col("event_type"), col("n"), col("s1"),
        expr(MomentGuard.sumGuardSpark("s2", "n", "m2", "q223")).as("s2"))
      .withColumn("wq", expr(
        """CAST(floor(CASE WHEN n < 2 THEN 0.0 ELSE
          |CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
          |  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          |  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END) AS BIGINT)"""
          .stripMargin))
      .transform(graft.util.QueryCaches.tracked)
    val tot = m.agg(sum("wq").as("tw"))
    val based = m.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n"), col("wq"),
        expr(s"""CASE WHEN tw = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST((${MomentGuard.productGuardSpark(s"${B}L", "wq",
             "q223")}) div tw AS BIGINT) END""".stripMargin).as("base"),
        expr(s"""CASE WHEN tw = 0 THEN CAST(0 AS BIGINT)
          |ELSE (${MomentGuard.productGuardSpark(s"${B}L", "wq",
             "q223")}) % tw END""".stripMargin).as("rem"))
      .transform(graft.util.QueryCaches.tracked)
    val shortfall = based.agg((lit(B) - sum("base")).as("shortfall"))
    val rk = based.as("a").join(based.as("b"),
        col("b.rem") > col("a.rem") ||
          (col("b.rem") === col("a.rem") &&
            col("b.event_type") < col("a.event_type")), "left")
      .groupBy(col("a.event_type").as("event_type"))
      .agg((count(col("b.event_type")) + 1).as("rem_rank"))
    based.join(rk, "event_type").crossJoin(broadcast(shortfall))
      .select(col("event_type"), col("n").as("n_events"), col("wq"),
        col("base"), col("rem_rank"),
        (col("base") +
          when(col("rem_rank") <= col("shortfall"), 1L).otherwise(0L))
          .as("alloc"))
  }

  private val q223: Q = (s, dir) => neymanAlloc(s, dir).orderBy("event_type")

  /** Oracle CTE chain ending in `alloc` — shared by q223Sql/q235Sql. */
  private val neymanCtes: String =
    s"""q AS (SELECT event_type,
       |    ${MomentGuard.quantizeDuck("value", 1000000L, 100L, "q223")}
       |      AS q FROM events),
       |m0 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(q) AS BIGINT) AS s1,
       |    CAST(sum(q * q) AS BIGINT) AS s2,
       |    CAST(max(q * q) AS BIGINT) AS m2 FROM q GROUP BY 1),
       |m AS (SELECT event_type, n, s1,
       |    ${MomentGuard.sumGuardDuck("s2", "n", "m2", "q223")} AS s2
       |  FROM m0),
       |w AS (SELECT event_type, n,
       |    CAST(floor(CASE WHEN n < 2 THEN 0.0 ELSE
       |    CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
       |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END) AS BIGINT)
       |      AS wq FROM m),
       |tot AS (SELECT CAST(sum(wq) AS BIGINT) AS tw FROM w),
       |based AS (SELECT event_type, n, wq,
       |    CASE WHEN tot.tw = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST((${MomentGuard.productGuardDuck("1000", "wq",
            "q223")}) // tot.tw AS BIGINT) END AS base,
       |    CASE WHEN tot.tw = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST((${MomentGuard.productGuardDuck("1000", "wq",
            "q223")}) % tot.tw AS BIGINT) END AS rem
       |  FROM w CROSS JOIN tot),
       |sf AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS shortfall
       |  FROM based),
       |rk AS (SELECT a.event_type,
       |    CAST(count(b.event_type) + 1 AS BIGINT) AS rem_rank
       |  FROM based a LEFT JOIN based b ON b.rem > a.rem
       |    OR (b.rem = a.rem AND b.event_type < a.event_type)
       |  GROUP BY 1),
       |alc AS (SELECT based.event_type, based.n AS n_events, based.wq,
       |  based.base, rk.rem_rank,
       |  CAST(based.base + CASE WHEN rk.rem_rank <= sf.shortfall THEN 1
       |    ELSE 0 END AS BIGINT) AS alloc
       |FROM based JOIN rk USING (event_type) CROSS JOIN sf)""".stripMargin

  private val q223Sql: String =
    s"""WITH $neymanCtes
       |SELECT event_type, n_events, wq, base, rem_rank, alloc
       |FROM alc ORDER BY event_type""".stripMargin

  /** q224 — exact two-sample Kolmogorov–Smirnov test at scale: does the
    * 'click' value distribution differ from every other event type's?
    * KS needs the supremum of |F_A − F_B| over the MERGED sorted sample
    * — a global CDF, the textbook "needs a total order" operator. Here
    * both CDFs come from [[GlobalRank.prefixSum]] over the distinct-value
    * relation (range partition + broadcast offsets — no single-partition
    * window anywhere), and the supremum is evaluated in EXACT integers:
    * |cumA·n_B − cumB·n_A| per point (per-term
    * [[MomentGuard.productGuardSpark]] certificates), max'd as BIGINTs,
    * divided by n_A·n_B only in the final 1-row projection. The
    * distribution-shift gate a data pipeline runs between ingest
    * batches, with none of the usual "KS doesn't distribute" excuse.
    */
  private val q224: Q = (s, dir) => {
    val d = Tables.events(s, dir)
      .select(col("value").as("v"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("ia"))
      .groupBy("v")
      .agg(sum("ia").as("ca"), (count(lit(1)) - sum("ia")).as("cb"))
    val pre = GlobalRank.prefixSum(
      GlobalRank.prefixSum(d, "pa", col("ca"), Seq(col("v"))),
      "pb", col("cb"), Seq(col("v")))
    val nn = d.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val e = graft.util.QueryCaches.tracked(
      pre.crossJoin(broadcast(nn)).withColumn("diffq",
        expr(s"abs((${MomentGuard.productGuardSpark("pa + ca", "nb",
          "q224")}) - (${MomentGuard.productGuardSpark("pb + cb", "na",
          "q224")}))")))
    val st = e.agg(count(lit(1)).as("n_points"), max("na").as("n_a"),
      max("nb").as("n_b"), max("diffq").as("ks_q"))
    val at = e.join(broadcast(st.select(col("ks_q").as("mx"))),
        col("diffq") === col("mx"))
      .agg(min("v").as("ks_at_value"))
    st.crossJoin(broadcast(at))
      .select(col("n_a"), col("n_b"), col("n_points"), col("ks_q"),
        (col("ks_q").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("ks_stat"),
        col("ks_at_value"))
  }

  private val q224Sql: String =
    s"""WITH d AS (SELECT value AS v,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ca,
       |    CAST(count(*) - sum(CASE WHEN event_type = 'click' THEN 1
       |      ELSE 0 END) AS BIGINT) AS cb
       |  FROM events GROUP BY 1),
       |n AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
       |    CAST(sum(cb) AS BIGINT) AS nb FROM d),
       |c AS (SELECT v,
       |    CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS BIGINT) AS cuma,
       |    CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS BIGINT) AS cumb FROM d),
       |e AS (SELECT v,
       |    abs((${MomentGuard.productGuardDuck("cuma", "n.nb", "q224")})
       |      - (${MomentGuard.productGuardDuck("cumb", "n.na", "q224")}))
       |      AS diffq
       |  FROM c CROSS JOIN n),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
       |    CAST(max(diffq) AS BIGINT) AS ks_q FROM e),
       |at AS (SELECT min(e.v) AS ks_at_value FROM e CROSS JOIN st
       |  WHERE e.diffq = st.ks_q)
       |SELECT n.na AS n_a, n.nb AS n_b, st.n_points, st.ks_q,
       |  CAST(st.ks_q AS DOUBLE)
       |    / (CAST(n.na AS DOUBLE) * CAST(n.nb AS DOUBLE)) AS ks_stat,
       |  at.ks_at_value
       |FROM st CROSS JOIN at CROSS JOIN n""".stripMargin

  /** Signed Gini term with an overflow certificate — ONE template for
    * both engines (the coefficient 2·rank − n − 1 is signed, so the
    * stock product guard's non-negative contract doesn't apply; the
    * check runs on |coefficient|·f). */
  private def giniTerm(raiseFn: String): String =
    "CASE WHEN CAST(abs(2 * rank - n_types - 1) AS DOUBLE)" +
      " * CAST(f AS DOUBLE) <= 9.0e18" +
      " THEN (2 * rank - n_types - 1) * f" +
      s" ELSE CAST($raiseFn('q225: BIGINT moment may overflow; widen to " +
      "DECIMAL(38,0)') AS BIGINT) END"

  /** q225 — token-frequency Gini coefficient: the inequality of the
    * corpus token mass, Σ(2i−n−1)·f₍ᵢ₎ / (n·Σf) over frequencies sorted
    * ascending — with q195's Zipf slope and q213's Simpson, the third
    * lens on "is this corpus template spam or language". The global
    * ascending rank is [[GlobalRank.rowNumber]] (no single-partition
    * window); each signed term carries its own overflow certificate and
    * the sum the n·max certificate; tie groups make the formula
    * order-invariant, so the rank tiebreak (token) cannot change the
    * result. One explode-count, one ranked pass, one fold.
    */
  private val q225: Q = (s, dir) => {
    val freq = Tables.spread(Tables.documents(s, dir))
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("f"))
    val ranked = GlobalRank.rowNumber(freq, "rank",
      Seq(col("f"), col("token")))
    val tot = ranked.agg(count(lit(1)).as("n_types"),
      sum("f").as("n_tokens"))
    ranked.crossJoin(broadcast(tot))
      .select(col("f"), col("n_types"), col("n_tokens"),
        expr(giniTerm("raise_error")).as("t"))
      .agg(max("n_types").as("n_types"), max("n_tokens").as("n_tokens"),
        count(lit(1)).as("n"), sum("t").as("st"),
        max(abs(col("t"))).as("mt"))
      .select(col("n_types"), col("n_tokens"),
        (expr(MomentGuard.sumGuardSpark("st", "n", "mt", "q225"))
          .cast("double") /
          (col("n_types").cast("double") * col("n_tokens").cast("double")))
          .as("gini"))
  }

  private val q225Sql: String =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS f FROM tok
       |  WHERE length(token) > 0 GROUP BY 1),
       |r AS (SELECT token, f,
       |    CAST(row_number() OVER (ORDER BY f, token) AS BIGINT) AS rank
       |  FROM freq),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(f) AS BIGINT) AS n_tokens FROM freq),
       |tm AS (SELECT ${giniTerm("error")} AS t
       |  FROM r CROSS JOIN tot),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(t) AS BIGINT) AS st,
       |    CAST(max(abs(t)) AS BIGINT) AS mt FROM tm)
       |SELECT tot.n_types, tot.n_tokens,
       |  CAST(${MomentGuard.sumGuardDuck("st", "n", "mt", "q225")}
       |    AS DOUBLE)
       |    / (CAST(tot.n_types AS DOUBLE) * CAST(tot.n_tokens AS DOUBLE))
       |    AS gini
       |FROM m CROSS JOIN tot""".stripMargin

  /** q230 — winsorized robust means: per event type, the mean of values
    * clipped to the group's exact [p05, p95] band, next to the raw mean
    * and the clip count — the outlier-robust location estimate a
    * monitoring pipeline trusts when q112/q135 flag tail contamination.
    * The per-group bounds come from one exact `percentile_disc`
    * aggregate (|types| rows, broadcast back); clipping is map-side;
    * both means come from cent-quantized BIGINT sums under the per-row
    * envelope, divided once at the end — so group order can never move
    * a float sum.
    */
  private val q230: Q = (s, dir) => {
    Tables.events(s, dir).createOrReplaceTempView("ev_q230")
    s.sql(
      s"""WITH b AS (SELECT event_type,
         |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY value)
         |      AS DOUBLE) AS lo,
         |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY value)
         |      AS DOUBLE) AS hi
         |  FROM ev_q230 GROUP BY event_type),
         |c AS (SELECT e.event_type,
         |    ${MomentGuard.quantizeSpark("e.value", 1000000L, 100L,
              "q230")} AS vq,
         |    CASE WHEN e.value < b.lo THEN b.lo
         |      WHEN e.value > b.hi THEN b.hi ELSE e.value END AS cv,
         |    CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END
         |      AS clipped
         |  FROM ev_q230 e JOIN b USING (event_type)),
         |d AS (SELECT event_type, vq,
         |    ${MomentGuard.quantizeSpark("cv", 1000000L, 100L, "q230")}
         |      AS cq, clipped FROM c)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(clipped) AS BIGINT) AS n_clipped,
         |  CAST(CAST(sum(vq) AS BIGINT) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * 100.0) AS raw_mean,
         |  CAST(CAST(sum(cq) AS BIGINT) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * 100.0) AS winsorized_mean
         |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  private val q230Sql: String =
    s"""WITH b AS (SELECT event_type,
       |    CAST(quantile_disc(value, 0.05) AS DOUBLE) AS lo,
       |    CAST(quantile_disc(value, 0.95) AS DOUBLE) AS hi
       |  FROM events GROUP BY event_type),
       |c AS (SELECT e.event_type,
       |    ${MomentGuard.quantizeDuck("value", 1000000L, 100L, "q230")}
       |      AS vq,
       |    CASE WHEN e.value < b.lo THEN b.lo
       |      WHEN e.value > b.hi THEN b.hi ELSE e.value END AS cv,
       |    CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END
       |      AS clipped
       |  FROM events e JOIN b USING (event_type)),
       |d AS (SELECT event_type, vq,
       |    ${MomentGuard.quantizeDuck("cv", 1000000L, 100L, "q230")}
       |      AS cq, clipped FROM c)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(clipped) AS BIGINT) AS n_clipped,
       |  CAST(CAST(sum(vq) AS BIGINT) AS DOUBLE)
       |    / (CAST(count(*) AS DOUBLE) * 100.0) AS raw_mean,
       |  CAST(CAST(sum(cq) AS BIGINT) AS DOUBLE)
       |    / (CAST(count(*) AS DOUBLE) * 100.0) AS winsorized_mean
       |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q231 — digest-shard uniformity: chi-square of the document counts
    * over all 64 md5-mod shards against the uniform expectation — the
    * direct health check of the hash-sharding every digest-keyed
    * mechanism in this repo trusts (q154 splits, q182 placement, q62
    * sampling): a biased digest would silently skew them all. The full
    * shard grid joins in (empty shards are evidence, not absence —
    * q210's zero-cell discipline); terms quantize `round(·1e9)::BIGINT`
    * before the fold. One scan, a 64-row grid join, a 1-row verdict.
    */
  private val q231: Q = (s, dir) => {
    val sh = Tables.spread(Tables.documents(s, dir))
      .select(expr("CAST(conv(substring(md5(cast(doc_id AS string)), 1, 4)," +
        " 16, 10) AS INT) % 64").as("shard"))
      .groupBy("shard").agg(count(lit(1)).as("ol"))
    val tot = sh.agg(sum("ol").as("n_docs"))
    s.range(64).select(col("id").cast("int").as("shard"))
      .join(sh, Seq("shard"), "left")
      .crossJoin(broadcast(tot))
      .select(coalesce(col("ol"), lit(0L)).as("ol"), col("n_docs"))
      .withColumn("tq", expr(
        """CAST(round((CAST(ol AS DOUBLE) - CAST(n_docs AS DOUBLE) / 64.0)
          |  * (CAST(ol AS DOUBLE) - CAST(n_docs AS DOUBLE) / 64.0)
          |  / (CAST(n_docs AS DOUBLE) / 64.0) * 1e9) AS BIGINT)"""
          .stripMargin))
      .agg(max("n_docs").as("n_docs"), count(lit(1)).as("n_shards"),
        sum(when(col("ol") === 0, 1L).otherwise(0L)).as("n_empty"),
        min("ol").as("min_shard"), max("ol").as("max_shard"),
        sum("tq").as("chi2q"))
      .select(col("n_docs"), col("n_shards"), col("n_empty"),
        col("min_shard"), col("max_shard"),
        (col("chi2q").cast("double") / 1e9).as("chi2"))
  }

  private val q231Sql =
    """WITH sh AS (SELECT
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
      |      AS INTEGER) % 64 AS shard,
      |    CAST(count(*) AS BIGINT) AS ol
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(ol) AS BIGINT) AS n_docs FROM sh),
      |grid AS (SELECT unnest(generate_series(0, 63)) AS shard),
      |g AS (SELECT coalesce(sh.ol, 0) AS ol, tot.n_docs
      |  FROM grid LEFT JOIN sh USING (shard) CROSS JOIN tot),
      |t AS (SELECT ol, n_docs,
      |    CAST(round((CAST(ol AS DOUBLE) - CAST(n_docs AS DOUBLE) / 64.0)
      |      * (CAST(ol AS DOUBLE) - CAST(n_docs AS DOUBLE) / 64.0)
      |      / (CAST(n_docs AS DOUBLE) / 64.0) * 1e9) AS BIGINT) AS tq
      |  FROM g)
      |SELECT CAST(max(n_docs) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_shards,
      |  CAST(sum(CASE WHEN ol = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_empty,
      |  CAST(min(ol) AS BIGINT) AS min_shard,
      |  CAST(max(ol) AS BIGINT) AS max_shard,
      |  CAST(CAST(sum(tq) AS BIGINT) AS DOUBLE) / 1e9 AS chi2
      |FROM t""".stripMargin

  /** q235 — quota-sample execution: actually DRAW q223's Neyman
    * allocation, deterministically — per stratum, the alloc_h rows with
    * the smallest md5(event_id) digests. The scale trick: per-group
    * top-N via ONE global [[GlobalRank.rowNumber]] over the
    * (type, digest, id) total order plus broadcast per-group offsets
    * from a bounded |types|² triangle join — the per-group rank is
    * `global_rank − offset`, so a skewed stratum never funnels through
    * a per-group ranking window (the q91 lesson generalized to
    * grouped order statistics). The reported per-stratum n_selected
    * equals alloc by construction — the audit proves the plan and the
    * draw reconcile to the row, and the frontier digest is the resume
    * token an incremental re-draw continues from.
    */
  private val q235: Q = (s, dir) => {
    val ranked = GlobalRank.rowNumber(
      Tables.events(s, dir).select(col("event_type"), col("event_id"),
        md5(col("event_id").cast("string")).as("digest")),
      "grk", Seq(col("event_type"), col("digest"), col("event_id")))
    val counts = Tables.events(s, dir)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .transform(graft.util.QueryCaches.tracked)
    val offs = counts.as("a").join(counts.as("b"),
        col("b.event_type") < col("a.event_type"), "left")
      .groupBy(col("a.event_type").as("event_type"))
      .agg(coalesce(sum(col("b.cnt")), lit(0L)).as("off"))
    ranked.join(broadcast(offs), "event_type")
      .join(broadcast(neymanAlloc(s, dir).select("event_type", "alloc")),
        "event_type")
      .filter(col("grk") - col("off") <= col("alloc"))
      .groupBy("event_type")
      .agg(max("alloc").as("alloc"), count(lit(1)).as("n_selected"),
        max("digest").as("frontier_digest"))
      .orderBy("event_type")
  }

  private val q235Sql: String =
    s"""WITH $neymanCtes,
       |r AS (SELECT event_type, event_id,
       |    md5(CAST(event_id AS VARCHAR)) AS digest FROM events),
       |rk2 AS (SELECT event_type, digest,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY digest, event_id) AS prk FROM r),
       |sel AS (SELECT rk2.event_type, rk2.digest, alc.alloc
       |  FROM rk2 JOIN alc USING (event_type)
       |  WHERE rk2.prk <= alc.alloc)
       |SELECT event_type, CAST(max(alloc) AS BIGINT) AS alloc,
       |  CAST(count(*) AS BIGINT) AS n_selected,
       |  max(digest) AS frontier_digest
       |FROM sel GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q245 — Hill tail-index estimator over document lengths: α̂ from the
    * top-100 order statistics against the 101st as reference,
    * α̂⁻¹ = mean ln(x_i/x_ref) — the heavy-tail diagnostic that decides
    * whether length-stratified processing (q88/q153) faces a power-law
    * tail (α ≤ 2: variance is infinite, mean-based capacity planning
    * lies) or a benign one. Order statistics come from
    * [[GlobalRank.rowNumber]] descending (no single-partition window);
    * each log-ratio is quantized `round(log2(x/x_ref)·1e6)::BIGINT`
    * before the fold (q180's discipline), and α̂ converts base at the
    * end through ln 2 — one IEEE derivation over exact sums.
    */
  private val q245: Q = (s, dir) => {
    val ranked = GlobalRank.rowNumber(
        Tables.spread(Tables.documents(s, dir))
          .select(col("doc_id"), col("n_chars")),
        "rank", Seq(col("n_chars").desc, col("doc_id")))
      .filter(col("rank") <= 101)
      .transform(graft.util.QueryCaches.tracked)
    val ref = ranked.filter(col("rank") === 101)
      .select(col("n_chars").as("x_ref"))
    ranked.filter(col("rank") <= 100)
      .crossJoin(broadcast(ref))
      .select(col("x_ref"), expr(
        """CAST(round(log2(CAST(n_chars AS DOUBLE)
          |  / CAST(x_ref AS DOUBLE)) * 1e6) AS BIGINT)"""
          .stripMargin).as("lq"))
      .agg(count(lit(1)).as("k"), max("x_ref").as("x_ref"),
        sum("lq").as("slq"))
      // k = 0 guard: a corpus under 101 docs has no rank-101 reference —
      // emit ONE defined row (k=0, zeros) instead of an empty result a
      // downstream consumer cannot tell from a failed query (both
      // engines; the global aggregate already yields one row on empty
      // input, this pins its payload)
      .select(col("k"), coalesce(col("x_ref"), lit(0L)).as("x_ref"),
        expr("""CASE WHEN k = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(slq AS DOUBLE) / 1e6 / CAST(k AS DOUBLE) END"""
          .stripMargin).as("mean_log2_ratio"),
        expr("""CASE WHEN k = 0 OR slq <= 0 THEN 0.0
          |ELSE CAST(k AS DOUBLE) * 1e6
          |  / (CAST(slq AS DOUBLE) * ln(CAST(2 AS DOUBLE))) END"""
          .stripMargin).as("alpha_hat"))
  }

  private val q245Sql =
    """WITH r AS (SELECT n_chars,
      |    CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
      |      AS BIGINT) AS rank
      |  FROM documents),
      |ref AS (SELECT CAST(n_chars AS BIGINT) AS x_ref FROM r
      |  WHERE rank = 101),
      |t AS (SELECT ref.x_ref,
      |    CAST(round(log2(CAST(n_chars AS DOUBLE)
      |  / CAST(ref.x_ref AS DOUBLE)) * 1e6) AS BIGINT) AS lq
      |  FROM r CROSS JOIN ref WHERE r.rank <= 100)
      |SELECT CAST(count(*) AS BIGINT) AS k,
      |  CAST(coalesce(max(x_ref), 0) AS BIGINT) AS x_ref,
      |  CASE WHEN count(*) = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE CAST(CAST(sum(lq) AS BIGINT) AS DOUBLE) / 1e6
      |    / CAST(count(*) AS DOUBLE) END AS mean_log2_ratio,
      |  CASE WHEN count(*) = 0 OR CAST(sum(lq) AS BIGINT) <= 0 THEN 0.0
      |ELSE CAST(count(*) AS DOUBLE) * 1e6
      |  / (CAST(CAST(sum(lq) AS BIGINT) AS DOUBLE)
      |     * ln(CAST(2 AS DOUBLE))) END AS alpha_hat
      |FROM t""".stripMargin

  /** q249 — lag-1 autocorrelation of the daily event-count series: is
    * tomorrow's volume predictable from today's (r₁ ≫ 0: provision by
    * yesterday; r₁ ≈ 0: provision by the q196 band)? All moments are
    * exact BIGINTs — per-day counts, their squares and the
    * consecutive-day products under the [[MomentGuard]] certificates
    * (the day+1 self-equi-join is q209's boundary pattern) — and r₁
    * assembles in ONE same-order IEEE derivation at the end. Missing
    * days simply contribute no pair (the series uses observed days;
    * q246 is the densified view if gaps must count as zero).
    */
  private val q249: Q = (s, dir) => {
    val d = Tables.events(s, dir)
      .select(expr(graft.util.SqlArith.floorDiv("unix_micros(ts)",
        86400000000L)).as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
      .transform(graft.util.QueryCaches.tracked)
    val m = d.select(col("x"),
        expr(MomentGuard.productGuardSpark("x", "x", "q249")).as("xx"))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("xx").as("sxx"),
        max("xx").as("mxx"))
      .select(col("n"), col("sx"),
        expr(MomentGuard.sumGuardSpark("sxx", "n", "mxx", "q249"))
          .as("sxx"))
    val p = d.as("a").join(d.as("b"), col("b.day") === col("a.day") + 1)
      .select(col("a.x").as("xa"), col("b.x").as("xb"),
        expr(MomentGuard.productGuardSpark("a.x", "b.x", "q249"))
          .as("xab"))
      .agg(count(lit(1)).as("np"), sum("xa").as("spa"),
        sum("xb").as("spb"), sum("xab").as("sab"), max("xab").as("mab"))
      .select(col("np"), col("spa"), col("spb"),
        expr(MomentGuard.sumGuardSpark("sab", "np", "mab", "q249"))
          .as("sab"))
    m.crossJoin(broadcast(p))
      .select(col("n").as("n_days"), col("np").as("n_pairs"),
        (col("sx").cast("double") / col("n").cast("double"))
          .as("mean_daily"),
        expr(
          """CASE WHEN CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE)
            |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) <= 0 THEN 0.0
            |ELSE (CAST(sab AS DOUBLE)
            |  - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
            |    * (CAST(spa AS DOUBLE) + CAST(spb AS DOUBLE))
            |  + CAST(np AS DOUBLE) * (CAST(sx AS DOUBLE)
            |    / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE)
            |    / CAST(n AS DOUBLE)))
            |  / (CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE)
            |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
            |END""".stripMargin).as("r1"))
  }

  private val q249Sql: String =
    s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
       |m0 AS (SELECT x,
       |    ${MomentGuard.productGuardDuck("x", "x", "q249")} AS xx
       |  FROM d),
       |m1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(xx) AS BIGINT) AS sxx,
       |    CAST(max(xx) AS BIGINT) AS mxx FROM m0),
       |m AS (SELECT n, sx,
       |    ${MomentGuard.sumGuardDuck("sxx", "n", "mxx", "q249")} AS sxx
       |  FROM m1),
       |p0 AS (SELECT a.x AS xa, b.x AS xb,
       |    ${MomentGuard.productGuardDuck("a.x", "b.x", "q249")} AS xab
       |  FROM d a JOIN d b ON b.day = a.day + 1),
       |p1 AS (SELECT CAST(count(*) AS BIGINT) AS np,
       |    CAST(sum(xa) AS BIGINT) AS spa,
       |    CAST(sum(xb) AS BIGINT) AS spb,
       |    CAST(sum(xab) AS BIGINT) AS sab,
       |    CAST(max(xab) AS BIGINT) AS mab FROM p0),
       |p AS (SELECT np, spa, spb,
       |    ${MomentGuard.sumGuardDuck("sab", "np", "mab", "q249")} AS sab
       |  FROM p1)
       |SELECT m.n AS n_days, p.np AS n_pairs,
       |  CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE) AS mean_daily,
       |  CASE WHEN CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE)
       |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) <= 0 THEN 0.0
       |ELSE (CAST(sab AS DOUBLE)
       |  - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
       |    * (CAST(spa AS DOUBLE) + CAST(spb AS DOUBLE))
       |  + CAST(np AS DOUBLE) * (CAST(sx AS DOUBLE)
       |    / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE)
       |    / CAST(n AS DOUBLE)))
       |  / (CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE)
       |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
       |END AS r1
       |FROM m CROSS JOIN p""".stripMargin

  /** q250 — Spearman rank correlation between two source orderings: does
    * document COUNT rank sources the same way character MASS does (if
    * yes, the cheap count is a valid sampling proxy for the expensive
    * mass; if no, count-based source weighting misallocates)? Both
    * rankings come from the bounded |sources|² triangle join (q193's
    * pattern — never a window), d² stays exact BIGINT, and
    * ρ = 1 − 6Σd²/(n(n²−1)) is one IEEE derivation. The rank-statistics
    * twin of q132's moment (Pearson) correlation.
    */
  private val q250: Q = (s, dir) => {
    val src = Tables.spread(Tables.documents(s, dir))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .transform(graft.util.QueryCaches.tracked)
    def rank(metric: String, as: String): DataFrame =
      src.as("a").join(src.as("b"),
          col(s"b.$metric") > col(s"a.$metric") ||
            (col(s"b.$metric") === col(s"a.$metric") &&
              col("b.source") < col("a.source")), "left")
        .groupBy(col("a.source").as("source"))
        .agg((count(col("b.source")) + 1).as(as))
    rank("n_docs", "rank_docs").join(rank("n_chars", "rank_chars"),
        "source")
      .select(col("source"),
        (col("rank_docs") - col("rank_chars")).as("dd"))
      .select(col("dd"),
        expr(MomentGuard.productGuardSpark("dd", "dd", "q250")).as("d2"))
      .agg(count(lit(1)).as("n"), sum("d2").as("sd2"), max("d2").as("md2"))
      .select(col("n").as("n_sources"),
        expr(MomentGuard.sumGuardSpark("sd2", "n", "md2", "q250"))
          .as("sum_d2"))
      .select(col("n_sources"), col("sum_d2"),
        expr(
          """CASE WHEN n_sources < 2 THEN 0.0
            |ELSE 1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
            |  / (CAST(n_sources AS DOUBLE) * (CAST(n_sources AS DOUBLE)
            |    * CAST(n_sources AS DOUBLE) - 1.0))
            |END""".stripMargin).as("spearman_rho"))
  }

  private val q250Sql: String =
    s"""WITH src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents
       |  GROUP BY 1),
       |rd AS (SELECT a.source, CAST(count(b.source) + 1 AS BIGINT)
       |    AS rank_docs
       |  FROM src a LEFT JOIN src b ON b.n_docs > a.n_docs
       |    OR (b.n_docs = a.n_docs AND b.source < a.source)
       |  GROUP BY 1),
       |rc AS (SELECT a.source, CAST(count(b.source) + 1 AS BIGINT)
       |    AS rank_chars
       |  FROM src a LEFT JOIN src b ON b.n_chars > a.n_chars
       |    OR (b.n_chars = a.n_chars AND b.source < a.source)
       |  GROUP BY 1),
       |dd AS (SELECT rd.rank_docs - rc.rank_chars AS dd
       |  FROM rd JOIN rc USING (source)),
       |d2 AS (SELECT dd, ${MomentGuard.productGuardDuck("dd", "dd",
            "q250")} AS d2 FROM dd),
       |m0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d2) AS BIGINT) AS sd2,
       |    CAST(max(d2) AS BIGINT) AS md2 FROM d2),
       |m AS (SELECT n AS n_sources,
       |    ${MomentGuard.sumGuardDuck("sd2", "n", "md2", "q250")}
       |      AS sum_d2 FROM m0)
       |SELECT n_sources, sum_d2,
       |  CASE WHEN n_sources < 2 THEN 0.0
       |ELSE 1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
       |  / (CAST(n_sources AS DOUBLE) * (CAST(n_sources AS DOUBLE)
       |    * CAST(n_sources AS DOUBLE) - 1.0))
       |END AS spearman_rho
       |FROM m""".stripMargin

  /** q254 — event-type × weekday association (chi-square + Cramér's V):
    * is traffic composition a function of the day of week, and HOW
    * strongly — the effect-size companion to q137/q210's significance
    * tests (a 100 TB corpus makes any χ² "significant"; V ∈ [0,1] is
    * the number that says whether the association matters). Weekday is
    * the exact integer `floor(µs/day) % 7` (no date functions — both
    * engines do the same integer arithmetic). Every χ² cell term is
    * computed in DOUBLE from exact BIGINTs through ONE shared
    * expression, quantized `round(·1e6)::BIGINT` per cell BEFORE the
    * cross-cell sum (shuffle-order-independent, the q248 discipline);
    * the final V is one sqrt over exact integers. Dataflow: one
    * (type, dow) groupBy, two marginal rollups of the ≤ |types|·7 cell
    * relation, a 1-row broadcast — nothing scales with the event count
    * after the first aggregate.
    */
  private val q254: Q = (s, dir) => {
    val cells = Tables.events(s, dir)
      .select(col("event_type"),
        expr(s"${SqlArith.floorDiv("unix_micros(ts)", 86400000000L)} % 7")
          .as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("n_rc"))
      .transform(graft.util.QueryCaches.tracked)
    val rowTot = cells.groupBy("event_type").agg(sum("n_rc").as("n_r"))
    val colTot = cells.groupBy("dow").agg(sum("n_rc").as("n_c"))
    val tot = cells.agg(sum("n_rc").as("n"),
      countDistinct("event_type").as("r"), countDistinct("dow").as("c"))
    // Cells with n_rc = 0 are ABSENT from the sparse cell relation, yet
    // each contributes (0-E)²/E = E to χ². Their exact total is the
    // complement n − Σ_present E (ΣE over the FULL grid is n), so χ² =
    // Σ_present term + (n − Σ_present E) — no dense grid materialized.
    val termQ =
      """CAST(round(
        |  (CAST(n_rc AS DOUBLE) * CAST(n AS DOUBLE)
        |     - CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE))
        |  * (CAST(n_rc AS DOUBLE) * CAST(n AS DOUBLE)
        |     - CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE))
        |  * 1e6) AS BIGINT)""".stripMargin
    val expQ =
      """CAST(round(CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE)
        |  / CAST(n AS DOUBLE) * 1e6) AS BIGINT)""".stripMargin
    cells.join(broadcast(rowTot), "event_type")
      .join(broadcast(colTot), "dow")
      .crossJoin(broadcast(tot))
      .select(col("n"), col("r"), col("c"), expr(termQ).as("tq"),
        expr(expQ).as("eq"))
      .groupBy("n", "r", "c").agg(sum("tq").as("tqs"), sum("eq").as("eqs"))
      .select(col("n"), col("r"), col("c"),
        expr(s"tqs + (${graft.util.MomentGuard.productGuardSpark("n",
          "1000000", "q254")} - eqs)").as("chi2q"))
      .select(col("n").as("n_events"), col("r").as("n_types"),
        col("c").as("n_days"),
        (col("chi2q").cast("double") / 1e6).as("chi2"),
        expr("""CASE WHEN least(r - 1, c - 1) <= 0 THEN CAST(0 AS DOUBLE)
          |ELSE sqrt(CAST(chi2q AS DOUBLE) / 1e6
          |  / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))
          |END""".stripMargin).as("cramers_v"))
  }

  private val q254Sql =
    s"""WITH e AS (SELECT event_type,
      |    (epoch_us(ts) // 86400000000) % 7 AS dow
      |  FROM events),
      |cells AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_rc
      |  FROM e GROUP BY 1, 2),
      |rt AS (SELECT event_type, CAST(sum(n_rc) AS BIGINT) AS n_r
      |  FROM cells GROUP BY 1),
      |ct AS (SELECT dow, CAST(sum(n_rc) AS BIGINT) AS n_c
      |  FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_rc) AS BIGINT) AS n,
      |    CAST(count(DISTINCT event_type) AS BIGINT) AS r,
      |    CAST(count(DISTINCT dow) AS BIGINT) AS c FROM cells),
      |q AS (SELECT tot.n, tot.r, tot.c,
      |    CAST(round(
      |      (CAST(n_rc AS DOUBLE) * CAST(tot.n AS DOUBLE)
      |         - CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE))
      |      * (CAST(n_rc AS DOUBLE) * CAST(tot.n AS DOUBLE)
      |         - CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE))
      |      / (CAST(tot.n AS DOUBLE) * CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE))
      |      * 1e6) AS BIGINT) AS tq,
      |    CAST(round(CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE)
      |      / CAST(tot.n AS DOUBLE) * 1e6) AS BIGINT) AS eq
      |  FROM cells JOIN rt USING (event_type) JOIN ct USING (dow)
      |  CROSS JOIN tot),
      |m AS (SELECT n, r, c,
      |    CAST(CAST(sum(tq) AS BIGINT)
      |      + (${graft.util.MomentGuard.productGuardDuck("n", "1000000", "q254")}
      |         - CAST(sum(eq) AS BIGINT)) AS BIGINT) AS chi2q
      |  FROM q GROUP BY 1, 2, 3)
      |SELECT n AS n_events, r AS n_types, c AS n_days,
      |  CAST(chi2q AS DOUBLE) / 1e6 AS chi2,
      |  CASE WHEN least(r - 1, c - 1) <= 0 THEN CAST(0 AS DOUBLE)
      |ELSE sqrt(CAST(chi2q AS DOUBLE) / 1e6
      |  / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))
      |END AS cramers_v
      |FROM m""".stripMargin

  /** q264 — length↔quality confound audit: Pearson r between a
    * document's length (n_chars) and its q54 quality blend — the probe
    * that says whether the quality score is measuring anything BEYOND
    * length (r near ±1: the blend is a length proxy and
    * quality-gating q146/q251 double-counts the q153 length filter;
    * r near 0: independent signals). q132's exact integer-moment
    * discipline: x = n_chars (raw BIGINT), y = the bit-identical
    * blend quantized `round(·1e7)::BIGINT` (q177's scale); every
    * moment guarded by [[graft.util.MomentGuard]], the r derivation
    * one IEEE expression over exact sums. Map-side y + a 1-row
    * aggregate — nothing past the scan.
    */
  private val q264: Q = (s, dir) => {
    graft.ops.TextStats.qualityScored(s, dir)
      .select(col("n_chars").cast("long").as("x"),
        expr("CAST(round(quality * 1e7) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x*x")).as("sxxr"), sum(expr("y*y")).as("syyr"),
        sum(expr("x*y")).as("sxyr"),
        max(expr("x*x")).as("mxx"), max(expr("y*y")).as("myy"),
        max(expr("abs(x*y)")).as("mxy"))
      .select(col("n"), col("sx"), col("sy"),
        expr(MomentGuard.sumGuardSpark("sxxr", "n", "mxx", "q264")).as("sxx"),
        expr(MomentGuard.sumGuardSpark("syyr", "n", "myy", "q264")).as("syy"),
        expr(MomentGuard.sumGuardSpark("sxyr", "n", "mxy", "q264")).as("sxy"))
      .withColumn("detx", expr(
        "CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)"))
      .withColumn("dety", expr(
        "CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)"))
      .withColumn("cov", expr(
        "CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)"))
      .filter(col("detx") > 0 && col("dety") > 0)
      .select(col("n").as("n_docs"),
        (col("sx").cast("double") / col("n").cast("double")).as("mean_chars"),
        (col("sy").cast("double") / 1e7 / col("n").cast("double"))
          .as("mean_quality"),
        (col("cov") / sqrt(col("detx") * col("dety"))).as("len_quality_corr"))
  }

  private val q264Sql = {
    val g = (m: String, mx: String) =>
      MomentGuard.sumGuardDuck(s"CAST(sum($m) AS BIGINT)", "count(*)", mx, "q264")
    s"""WITH ${graft.ops.TextStats.qualityMeasuresCte("qw", "qm")},
       |j AS (SELECT CAST(d.n_chars AS BIGINT) AS x,
       |    CAST(round((${graft.ops.TextStats.qualityBlendSql}) * 1e7)
       |      AS BIGINT) AS y
       |  FROM qm JOIN documents d USING (doc_id)),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    ${g("x*x", "max(x*x)")} AS sxx,
       |    ${g("y*y", "max(y*y)")} AS syy,
       |    ${g("x*y", "max(abs(x*y))")} AS sxy
       |  FROM j),
       |d2 AS (SELECT n, sx, sy,
       |    CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS detx,
       |    CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
       |      - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS dety,
       |    CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS cov
       |  FROM m)
       |SELECT n AS n_docs,
       |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_chars,
       |  CAST(sy AS DOUBLE) / 1e7 / CAST(n AS DOUBLE) AS mean_quality,
       |  cov / sqrt(detx * dety) AS len_quality_corr
       |FROM d2 WHERE detx > 0 AND dety > 0""".stripMargin
  }

  /** q271 — CUSUM change-point localization over the daily value
    * series: the day d maximizing |Σ_{d'≤d} x_{d'} − rank_d · mean| —
    * WHERE the level shifted, completing the monitoring triad (q196
    * says a day is anomalous, q249 says days are correlated, this says
    * the regime changed HERE). All integer-exact: per-day sums of the
    * quantized value ([[graft.util.MomentGuard]] envelope), the mean
    * never materializes — the statistic is scaled by n_days
    * (c_d = n·S_d − rank_d·total, exact BIGINTs under product guards)
    * so no division touches the argmax; the float CUSUM value divides
    * once at the end. The day dimension is BOUNDED (a time axis, not a
    * data axis), so the prefix triangle join is |days|² over a tiny
    * relation at any corpus size; the argmax is a max_by struct with a
    * day tiebreak, never a window.
    */
  private val q271: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .select(expr(SqlArith.floorDiv("unix_micros(ts)", 86400000000L))
        .as("day"),
        expr(MomentGuard.quantizeSpark("value", 3000L, 1000L, "q271"))
          .as("q"))
      .groupBy("day").agg(sum("q").as("x"))
      .transform(graft.util.QueryCaches.tracked)
    val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("total"))
    val pre = daily.as("a").join(daily.as("b"), col("b.day") <= col("a.day"))
      .groupBy(col("a.day").as("day"))
      .agg(sum(col("b.x")).as("s_d"), count(lit(1)).as("rank_d"))
    pre.crossJoin(broadcast(tot))
      .select(col("day"), col("n"),
        expr(s"${MomentGuard.productGuardSpark("n", "s_d", "q271")}" +
          s" - ${MomentGuard.productGuardSpark("rank_d", "total", "q271")}")
          .as("c_d"))
      .groupBy("n")
      .agg(count(lit(1)).as("n_days"),
        max_by(col("day"), struct(abs(col("c_d")), -col("day"))).as("change_day"),
        max(abs(col("c_d"))).as("c_max"))
      .select(col("n_days"), col("change_day"),
        (col("c_max").cast("double") / col("n").cast("double") / 1e3)
          .as("cusum_max"))
  }

  private val q271Sql = {
    val pg = (a: String, b: String) => MomentGuard.productGuardDuck(a, b, "q271")
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(sum(${MomentGuard.quantizeDuck("value", 3000L, 1000L, "q271")})
       |      AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS total FROM daily),
       |pre AS (SELECT a.day, CAST(sum(b.x) AS BIGINT) AS s_d,
       |    CAST(count(*) AS BIGINT) AS rank_d
       |  FROM daily a JOIN daily b ON b.day <= a.day GROUP BY 1),
       |c AS (SELECT day, tot.n,
       |    ${pg("tot.n", "pre.s_d")} - ${pg("pre.rank_d", "tot.total")} AS c_d
       |  FROM pre CROSS JOIN tot),
       |r AS (SELECT n, day, abs(c_d) AS a_c,
       |    row_number() OVER (ORDER BY abs(c_d) DESC, day) AS rn
       |  FROM c)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       |  day AS change_day,
       |  CAST(a_c AS DOUBLE) / CAST(n AS DOUBLE) / 1e3 AS cusum_max
       |FROM r WHERE rn = 1""".stripMargin
  }

  /** q272 — pairwise distribution-shift matrix: the histogram-KS
    * distance sup_x |F_a(x) − F_b(x)| between every pair of event
    * types' value distributions, over the shared 1024-bucket global
    * grid (q221's discretization) — the all-pairs generalization of
    * q224's two-sample test: which producers' value regimes actually
    * differ, the table read before per-type models are merged or
    * split. Exactness discipline: bucket assignment is q221's integer
    * arithmetic off the 1-row min/max broadcast; per-(type, grid-point)
    * CDFs come from a bounded ≤1024² triangle join (the grid is a FIXED
    * axis, never data-sized); the supremum compares exact
    * cross-multiplied BIGINTs `|cum_a·n_b − cum_b·n_a|` (q224's rule —
    * no float CDF ever ordered), and the one divide per pair happens at
    * the end. Output: |types|²/2 rows.
    */
  private val q272: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(col("event_type"), col("value").as("v"))
      .createOrReplaceTempView("vals_q272")
    s.sql(
      """WITH st AS (SELECT CAST(min(v) AS DOUBLE) AS lo,
        |    CAST(max(v) AS DOUBLE) AS hi FROM vals_q272),
        |b AS (SELECT event_type,
        |    CASE WHEN st.hi = st.lo THEN CAST(0 AS BIGINT)
        |    ELSE least(CAST(floor((v - st.lo) / (st.hi - st.lo) * 1024.0)
        |      AS BIGINT), CAST(1023 AS BIGINT)) END AS bucket,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM vals_q272 CROSS JOIN st GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT bucket FROM b),
        |nt AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM b
        |  GROUP BY 1),
        |cdf AS (SELECT nt.event_type, g.bucket,
        |    CAST(coalesce(sum(b.c), 0) AS BIGINT) AS cum
        |  FROM grid g CROSS JOIN nt
        |  LEFT JOIN b ON b.event_type = nt.event_type
        |    AND b.bucket <= g.bucket
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a.event_type AS type_a, c2.event_type AS type_b,
        |    max(abs((CASE WHEN CAST(a.cum AS DOUBLE) * CAST(nb.n AS DOUBLE) <= 9.0e18
        |        THEN a.cum * nb.n ELSE CAST(raise_error('q272: KS cross-product may overflow; shard the pair') AS BIGINT) END)
        |      - (CASE WHEN CAST(c2.cum AS DOUBLE) * CAST(na.n AS DOUBLE) <= 9.0e18
        |        THEN c2.cum * na.n ELSE CAST(raise_error('q272: KS cross-product may overflow; shard the pair') AS BIGINT) END)))
        |      AS sup_q,
        |    max(na.n) AS n_a, max(nb.n) AS n_b
        |  FROM cdf a JOIN cdf c2 ON c2.bucket = a.bucket
        |    AND a.event_type < c2.event_type
        |  JOIN nt na ON na.event_type = a.event_type
        |  JOIN nt nb ON nb.event_type = c2.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_a, n_b,
        |  CAST(sup_q AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks_distance
        |FROM pairs ORDER BY type_a, type_b""".stripMargin)
  }

  private val q272Sql =
    """WITH st AS (SELECT CAST(min(value) AS DOUBLE) AS lo,
      |    CAST(max(value) AS DOUBLE) AS hi FROM events),
      |b AS (SELECT event_type,
      |    CASE WHEN st.hi = st.lo THEN CAST(0 AS BIGINT)
      |    ELSE least(CAST(floor((value - st.lo) / (st.hi - st.lo)
      |      * 1024.0) AS BIGINT), CAST(1023 AS BIGINT)) END AS bucket,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events CROSS JOIN st GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT bucket FROM b),
      |nt AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM b
      |  GROUP BY 1),
      |cdf AS (SELECT nt.event_type, g.bucket,
      |    CAST(coalesce(sum(b.c), 0) AS BIGINT) AS cum
      |  FROM grid g CROSS JOIN nt
      |  LEFT JOIN b ON b.event_type = nt.event_type
      |    AND b.bucket <= g.bucket
      |  GROUP BY 1, 2),
      |pairs AS (SELECT a.event_type AS type_a, c2.event_type AS type_b,
      |    CAST(max(abs((CASE WHEN CAST(a.cum AS DOUBLE) * CAST(nb.n AS DOUBLE) <= 9.0e18
      |        THEN a.cum * nb.n ELSE CAST(error('q272: KS cross-product may overflow; shard the pair') AS BIGINT) END)
      |      - (CASE WHEN CAST(c2.cum AS DOUBLE) * CAST(na.n AS DOUBLE) <= 9.0e18
      |        THEN c2.cum * na.n ELSE CAST(error('q272: KS cross-product may overflow; shard the pair') AS BIGINT) END)))
      |      AS BIGINT) AS sup_q,
      |    CAST(max(na.n) AS BIGINT) AS n_a,
      |    CAST(max(nb.n) AS BIGINT) AS n_b
      |  FROM cdf a JOIN cdf c2 ON c2.bucket = a.bucket
      |    AND a.event_type < c2.event_type
      |  JOIN nt na ON na.event_type = a.event_type
      |  JOIN nt nb ON nb.event_type = c2.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_a, n_b,
      |  CAST(sup_q AS DOUBLE)
      |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks_distance
      |FROM pairs ORDER BY type_a, type_b""".stripMargin

  /** q292 — population stability index (PSI) of each source's document-
    * length distribution against the dominant source: the monitoring
    * metric scorecard pipelines run between a reference window and
    * production to decide "has the input distribution shifted enough to
    * retrain?" (PSI = Σ_b (p_b−q_b)·log(p_b/q_b), the symmetrized
    * bin-level relative of q180's KL — PSI ≥ 0, 0 iff identical; the
    * folk thresholds 0.1/0.25 assume ~10 bins, which div-64 length
    * buckets give this corpus). Reference = the largest source (ties to
    * the lexicographically smallest, picked by one min(struct) — no
    * window). Laplace-smoothed (c+1)/(n+B) over the GLOBAL bin list so
    * empty bins contribute finite mass on both sides; each bin term is
    * quantized round(·1e7)::BIGINT before the per-source sum (q180's
    * log2 discipline — PSI here is in bits). Scale: one (source, bin)
    * groupBy; the grid is |sources| × |bins| via a cross join whose
    * source side is sources-bounded (the PlanSpec sweep's executed-row
    * fallback proves it); the reference row joins back per-bin. The
    * reference source reports itself at exactly 0.0 — a built-in
    * self-check.
    */
  private val q292: Q = (s, dir) => {
    val d = Tables.spread(Tables.documents(s, dir))
      .select(col("source"),
        expr(graft.util.SqlArith.floorDiv("n_chars", 64L)).as("lb"))
    val sb = graft.util.QueryCaches.tracked(
      d.groupBy("source", "lb").agg(count(lit(1)).as("c")))
    val ns = graft.util.QueryCaches.tracked(
      sb.groupBy("source").agg(sum("c").as("ns")))
    val bins = sb.select("lb").distinct()
    val nb = bins.agg(count(lit(1)).as("b"))
    val refSrc = ns
      .agg(min(struct((-col("ns")).as("neg"), col("source").as("src")))
        .as("m"))
      .select(col("m.src").as("ref_source"))
    val grid = ns.crossJoin(bins)
      .join(sb, Seq("source", "lb"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val ref = grid
      .join(broadcast(refSrc), col("source") === col("ref_source"))
      .select(col("lb"), col("c").as("cr"), col("ns").as("nr"))
    grid.join(ref, "lb").crossJoin(broadcast(nb))
      .withColumn("termq", expr(
        """CAST(round(
          |  (CAST(c + 1 AS DOUBLE) / CAST(ns + b AS DOUBLE)
          |   - CAST(cr + 1 AS DOUBLE) / CAST(nr + b AS DOUBLE))
          |  * log2((CAST(c + 1 AS DOUBLE) * CAST(nr + b AS DOUBLE))
          |         / (CAST(ns + b AS DOUBLE) * CAST(cr + 1 AS DOUBLE)))
          |  * 1e7) AS BIGINT)""".stripMargin))
      .groupBy("source")
      .agg(max("ns").as("n_docs"), max("b").as("n_bins"),
        sum("termq").as("sq"))
      .select(col("source"), col("n_docs"), col("n_bins"),
        (col("sq").cast("double") / lit(1e7)).as("psi_bits"))
      .orderBy("source")
  }

  private val q292Sql =
    """WITH d AS (SELECT source, n_chars // 64 AS lb FROM documents),
      |sb AS (SELECT source, lb, CAST(count(*) AS BIGINT) AS c
      |  FROM d GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns
      |  FROM sb GROUP BY 1),
      |bins AS (SELECT DISTINCT lb FROM sb),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bins),
      |rs AS (SELECT min(ROW(-ns, source)) AS m FROM ns),
      |grid AS (SELECT ns.source, bins.lb, ns.ns,
      |    CAST(coalesce(sb.c, 0) AS BIGINT) AS c
      |  FROM ns CROSS JOIN bins
      |  LEFT JOIN sb ON sb.source = ns.source AND sb.lb = bins.lb),
      |ref AS (SELECT g.lb, g.c AS cr, g.ns AS nr
      |  FROM grid g CROSS JOIN rs WHERE g.source = rs.m[2]),
      |terms AS (SELECT g.source, g.ns, nb.b,
      |    CAST(round(
      |      (CAST(g.c + 1 AS DOUBLE) / CAST(g.ns + nb.b AS DOUBLE)
      |       - CAST(ref.cr + 1 AS DOUBLE) / CAST(ref.nr + nb.b AS DOUBLE))
      |      * log2((CAST(g.c + 1 AS DOUBLE) * CAST(ref.nr + nb.b AS DOUBLE))
      |             / (CAST(g.ns + nb.b AS DOUBLE)
      |                * CAST(ref.cr + 1 AS DOUBLE)))
      |      * 1e7) AS BIGINT) AS termq
      |  FROM grid g JOIN ref USING (lb) CROSS JOIN nb)
      |SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
      |  CAST(max(b) AS BIGINT) AS n_bins,
      |  CAST(CAST(sum(termq) AS BIGINT) AS DOUBLE) / 1e7 AS psi_bits
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** q303 — Poisson bootstrap of the mean document length (Chamandy et
    * al., Google '12 — THE distributed bootstrap: classical resampling
    * needs n draws per replicate coordinated globally, Poissonization
    * gives every row an INDEPENDENT Poisson(1) replicate weight, so all
    * B = 32 replicates run as one map-side fan-out + partial aggregate,
    * no global coordination). Determinism: the per-(doc, replicate)
    * weight is the inverse-CDF of Poisson(1) evaluated on a 2²⁰-grid
    * md5 draw against nine precomputed integer thresholds — both
    * engines share the literal table, no runtime exp/factorial.
    * Replicate means are floor-quantized to 10⁻⁴ BIGINT units BEFORE
    * the cross-replicate moments, so min/max/Σ/Σ² are exact integers
    * in any aggregation order (Σmq² ≤ 32·(10⁴·mean)² — exact to mean
    * length 10⁸ chars); the one double step is the final se division +
    * IEEE-exact sqrt. Output: point mean, bootstrap min/max replicate
    * mean, bootstrap standard error — the uncertainty a 100 TB corpus
    * stat ships with, at one extra aggregate's cost.
    */
  private val q303: Q = (s, dir) => {
    val thr = Seq(385749L, 771499L, 964373L, 1028665L, 1044738L,
      1047952L, 1048488L, 1048565L, 1048574L)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("nc"))
    val reps = docs
      .select(col("doc_id"), col("nc"), explode(expr("sequence(0, 31)")).as("b"))
      .withColumn("u", expr(
        """CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '_',
          |  CAST(b AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1048576"""
          .stripMargin))
      .withColumn("wt", expr(
        s"CAST(size(filter(array(${thr.mkString(",")}), t -> t <= u)) AS BIGINT)"))
      .groupBy("b")
      .agg(sum(col("wt") * col("nc")).as("swc"), sum(col("wt")).as("sw"))
      .select(expr("(10000 * swc) div sw").as("mq"))
    val boot = reps.agg(
      min("mq").as("boot_min_mq"), max("mq").as("boot_max_mq"),
      sum("mq").as("s1"), sum(col("mq") * col("mq")).as("s2"))
    val point = docs.agg(count(lit(1)).as("n_docs"),
      expr("(10000 * sum(nc)) div count(1)").as("point_mq"))
    point.crossJoin(boot) // 1-row × 1-row scalar combine
      .select(col("n_docs"), col("point_mq"), col("boot_min_mq"),
        col("boot_max_mq"),
        round(sqrt((lit(32L) * col("s2") - col("s1") * col("s1"))
          .cast("double") / lit(32.0 * 31.0)) / lit(10000.0), 6).as("boot_se"))
  }

  private val q303Sql = {
    val thr = "[385749, 771499, 964373, 1028665, 1044738, 1047952, " +
      "1048488, 1048565, 1048574]"
    s"""WITH reps AS (SELECT b,
       |    (10000 * sum(wt * nc)) // sum(wt) AS mq
       |  FROM (SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS nc, g.b,
       |      CAST(len(list_filter($thr, t -> t <=
       |        ('0x' || substr(md5(d.doc_id::VARCHAR || '_' || g.b::VARCHAR),
       |          1, 15))::BIGINT % 1048576)) AS BIGINT) AS wt
       |    FROM documents d, unnest(generate_series(0, 31)) AS g(b)) t
       |  GROUP BY b),
       |boot AS (SELECT CAST(min(mq) AS BIGINT) AS boot_min_mq,
       |    CAST(max(mq) AS BIGINT) AS boot_max_mq,
       |    CAST(sum(mq) AS BIGINT) AS s1,
       |    CAST(sum(mq * mq) AS BIGINT) AS s2 FROM reps),
       |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST((10000 * sum(CAST(n_chars AS BIGINT))) // count(*) AS BIGINT)
       |      AS point_mq
       |  FROM documents)
       |SELECT n_docs, point_mq, boot_min_mq, boot_max_mq,
       |  round(sqrt(CAST(32 * s2 - s1 * s1 AS DOUBLE)
       |    / CAST(32.0 * 31.0 AS DOUBLE)) / CAST(10000.0 AS DOUBLE), 6)
       |    AS boot_se
       |FROM pt, boot""".stripMargin
  }

  /** q305 — Mann–Whitney U (Wilcoxon rank-sum) drift test of each
    * source's document-length distribution against the rest of the
    * corpus: the NONPARAMETRIC location test complementing q292's
    * binned PSI and q272's KS distance — U detects a stochastic shift
    * without choosing bins or trusting moments. Value-domain
    * decomposition (q284's discipline, pushed further): lengths are
    * bounded integers, so ALL rank algebra runs on the DISTINCT-length
    * relation — global midranks via [[GlobalRank.prefixSum]] over
    * distinct lengths (mid2 = 2·prefix + tie + 1, exact BIGINT), then
    * each source's rank sum is one join of its (length, count) profile
    * against that tiny relation. Never a ranking window over rows: an
    * MWU over 10¹² docs ranks a few thousand DISTINCT values. Doubled
    * units keep ties exact: U2 = Σc·mid2 − n_s(n_s+1) − ... = 2U; the
    * tie-corrected variance term Σ(t³−t) is exact BIGINT (safe to a
    * single value carrying 2·10⁶ rows; the q284 DECIMAL(38,0) escape
    * applies beyond). One sqrt + one division per source at the end:
    * z = (U2 − n_s·n_o) / (2σ).
    */
  private val q305: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").cast("long").as("v"))
    val byVal = docs.groupBy("v").agg(count(lit(1)).as("t"))
      .transform(graft.util.QueryCaches.tracked)
    val mid = GlobalRank.prefixSum(byVal, "pfx", col("t"), Seq(col("v")))
      .select(col("v"), col("t"),
        (lit(2L) * col("pfx") + col("t") + 1L).as("mid2"))
    val n = docs.count() // one scalar action: total row count, driver metadata
    val bySrc = docs.groupBy("source", "v").agg(count(lit(1)).as("c"))
    val perSrc = bySrc.join(mid.select(col("v"), col("mid2")), "v")
      .groupBy("source")
      .agg(sum("c").as("ns"), sum(col("c") * col("mid2")).as("r2"))
    val tieTerm = byVal.agg(
      sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
    perSrc.crossJoin(broadcast(tieTerm)) // 1-row scalar combine
      .select(col("source"), col("ns"),
        (col("r2") - col("ns") * (col("ns") + 1L) -
          col("ns") * (lit(n) - col("ns"))).as("u2c"),
        col("tsum"))
      // u2c = 2U − n_s·n_o (the z numerator), built exactly; σ from the
      // tie-corrected variance, floats only here
      .select(col("source"), col("ns"),
        expr(s"(u2c + ns * (${n}L - ns)) div 2").as("u"),
        // σ = 0 when a source IS the whole corpus (ns = n): both engines
        // must agree on NULL instead of Spark's 0/0 → NaN
        when(col("ns") < lit(n),
          round(col("u2c").cast("double") /
            (lit(2.0) * sqrt(
              (col("ns") * (lit(n) - col("ns"))).cast("double") / lit(12.0) *
                ((lit(n + 1).cast("double")) -
                  col("tsum").cast("double") /
                    (lit(n).cast("double") * lit(n - 1).cast("double"))))), 6))
          .otherwise(lit(null).cast("double")).as("z"))
      .orderBy("source")
  }

  private val q305Sql =
    """WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
      |bv AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1),
      |mid AS (SELECT v, t,
      |    2 * CAST(coalesce(sum(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      + t + 1 AS mid2
      |  FROM bv),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |bs AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
      |  FROM d GROUP BY 1, 2),
      |ps AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns,
      |    CAST(sum(c * mid.mid2) AS BIGINT) AS r2
      |  FROM bs JOIN mid ON mid.v = bs.v GROUP BY 1),
      |tt AS (SELECT CAST(sum(t*t*t - t) AS BIGINT) AS tsum FROM bv),
      |u AS (SELECT source, ns,
      |    r2 - ns * (ns + 1) - ns * (n.n - ns) AS u2c,
      |    ns * (n.n - ns) AS nprod, n.n AS n, tsum
      |  FROM ps, n, tt)
      |SELECT source, ns,
      |  CAST((u2c + nprod) // 2 AS BIGINT) AS u,
      |  CASE WHEN ns < n THEN
      |    round(CAST(u2c AS DOUBLE) / (CAST(2.0 AS DOUBLE) * sqrt(
      |      CAST(nprod AS DOUBLE) / CAST(12.0 AS DOUBLE)
      |        * (CAST(n + 1 AS DOUBLE) - CAST(tsum AS DOUBLE)
      |           / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))), 6)
      |  ELSE NULL END AS z
      |FROM u ORDER BY source""".stripMargin

  /** q306 — per-source Gini coefficient of document length: the
    * inequality number behind "is this source a few mega-documents or
    * a uniform crawl?" that decides packing and sampling policy
    * (complementing q264's correlation and q305's location test with a
    * DISPERSION-shape audit). Same value-domain decomposition as q305:
    * Gini needs ranked values, but ranking happens on the (source ×
    * distinct length) profile — per-source rank-block sums from a
    * window over DISTINCT lengths (bounded by the value domain, never
    * by rows). With per-source exclusive prefix counts p_v and counts
    * c_v: Σ ranks·x over a tie block is x_v·(c_v·p_v + c_v(c_v+1)/2),
    * so S = Σ_v that, and Gini = (2S − (n+1)W) / (nW) — exact BIGINTs
    * into one division (|2S| ≤ 2n²·max_len: exact to ~2·10⁶ rows/source
    * at 2 k chars; DECIMAL(38,0) escape documented beyond).
    */
  private val q306: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val prof = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").cast("long").as("v"))
      .groupBy("source", "v").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = prof
      .withColumn("p", coalesce(sum("c").over(w), lit(0L)))
      .select(col("source"),
        (col("v") * (col("c") * col("p") +
          expr("(c * (c + 1)) div 2"))).as("sblk"),
        (col("c") * col("v")).as("wblk"), col("c"))
    blocks.groupBy("source")
      .agg(sum("c").as("n"), sum("wblk").as("total_chars"),
        sum("sblk").as("srank"))
      .select(col("source"), col("n"), col("total_chars"),
        round((lit(2L) * col("srank") - (col("n") + 1L) * col("total_chars"))
          .cast("double") /
          (col("n") * col("total_chars")).cast("double"), 6).as("gini"))
      .orderBy("source")
  }

  private val q306Sql =
    """WITH prof AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |blk AS (SELECT source, v, c,
      |    CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS p
      |  FROM prof)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n,
      |  CAST(sum(c * v) AS BIGINT) AS total_chars,
      |  round(CAST(2 * sum(v * (c * p + (c * (c + 1)) // 2))
      |      - (sum(c) + 1) * sum(c * v) AS DOUBLE)
      |    / CAST(sum(c) * sum(c * v) AS DOUBLE), 6) AS gini
      |FROM blk GROUP BY source ORDER BY source""".stripMargin

  /** q317 — Theil–Sen robust trend (Theil '50 / Sen '68): the median of
    * all pairwise slopes of the per-type DAILY event counts — the
    * outlier-robust twin of q131's OLS (one corrupted day moves OLS
    * arbitrarily; Theil–Sen tolerates ~29 % contamination). Slopes are
    * exact-grid BIGINTs: 10⁶·Δy floor-divided by Δdays through the
    * positive-mod floor form (Δy can be negative — bare `div`/`//`
    * truncation would diverge from floor on both engines). The pair
    * join and the median's ranking window run on the per-(type, day)
    * AGGREGATE — bounded by the day-domain squared, never by rows
    * (q305's value-domain discipline): a 10¹² -event corpus still
    * ranks ≤ |days|²/2 slopes per type. Lower median (position
    * ⌊(n+1)/2⌋) so no cross-engine interpolation.
    */
  private val q317: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir).select(col("event_type"),
        expr(SqlArith.floorDiv("unix_micros(ts)", 86400000000L)).as("d"))
      .groupBy("event_type", "d").agg(count(lit(1)).as("y"))
      .transform(graft.util.QueryCaches.tracked)
    val li = daily.select(col("event_type"), col("d").as("di"),
      col("y").as("yi"))
    val lj = daily.select(col("event_type"), col("d").as("dj"),
      col("y").as("yj"))
    val sq = "((1000000L * (yj - yi)) - " +
      "pmod(1000000L * (yj - yi), (dj - di))) div (dj - di)"
    val pairs = li.join(lj, Seq("event_type"))
      .filter(col("di") < col("dj"))
      .select(col("event_type"), expr(sq).as("sq"))
    val w = Window.partitionBy("event_type").orderBy("sq")
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") === expr("(np + 1L) div 2"))
      .join(daily.groupBy("event_type").agg(count(lit(1)).as("n_days")),
        "event_type")
      .select(col("event_type"), col("n_days"), col("np").as("n_pairs"),
        col("sq").as("slope_q_med"),
        round(col("sq").cast("double") / lit(1e6), 6).as("slope_per_day"))
      .orderBy("event_type")
  }

  private val q317Sql = {
    val sq = SqlArith.floorDivDuck("1000000 * (j.y - i.y)", "j.d - i.d")
    s"""WITH daily AS MATERIALIZED (SELECT event_type,
       |    epoch_us(ts) // 86400000000 AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |pr AS (SELECT i.event_type, CAST($sq AS BIGINT) AS sq
       |  FROM daily i JOIN daily j ON j.event_type = i.event_type
       |    AND i.d < j.d),
       |rk AS (SELECT event_type, sq,
       |    row_number() OVER (PARTITION BY event_type ORDER BY sq) AS rn,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
       |  FROM pr),
       |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
       |  FROM daily GROUP BY 1)
       |SELECT r.event_type, nd.n_days, r.np AS n_pairs,
       |  r.sq AS slope_q_med,
       |  round(CAST(r.sq AS DOUBLE) / CAST(1e6 AS DOUBLE), 6)
       |    AS slope_per_day
       |FROM rk r JOIN nd ON nd.event_type = r.event_type
       |WHERE r.rn = (r.np + 1) // 2
       |ORDER BY r.event_type""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q317_theilsen_trend", q317, q317Sql),
    Query("q306_gini_length", q306, q306Sql),
    Query("q305_mannwhitney_drift", q305, q305Sql),
    Query("q303_poisson_bootstrap", q303, q303Sql),
    Query("q292_psi_drift", q292, q292Sql),
    Query("q272_ks_matrix", q272, q272Sql),
    Query("q271_cusum_changepoint", q271, q271Sql),
    Query("q264_length_quality_corr", q264, q264Sql),
    Query("q254_cramers_v", q254, q254Sql),
    Query("q249_daily_autocorr", q249, q249Sql),
    Query("q250_spearman_sources", q250, q250Sql),
    Query("q245_hill_tail", q245, q245Sql),
    Query("q235_quota_sample", q235, q235Sql),
    Query("q231_shard_uniformity", q231, q231Sql),
    Query("q230_winsorized_mean", q230, q230Sql),
    Query("q224_ks_test", q224, q224Sql),
    Query("q225_token_gini", q225, q225Sql),
    Query("q221_histogram_quantiles", q221, q221Sql),
    Query("q223_neyman_allocation", q223, q223Sql),
    Query("q219_salt_rebalance", q219, q219Sql),
    Query("q217_positional_drift", q217, q217Sql),
    Query("q180_source_token_kl", q180, q180Sql),
    Query("q195_zipf_fit", q195, q195Sql),
    Query("q196_daily_anomaly", q196, q196Sql),
    Query("q200_bootstrap_ci", q200, q200Sql),
    Query("q201_skew_scout", q201, q201Sql),
    Query("q131_ols_trend", q131, q131Sql),
    Query("q132_corr_moments", q132, q132Sql),
    Query("q135_mad_outliers", q135, q135Sql),
    Query("q137_token_drift", q137, q137Sql)
  )
}

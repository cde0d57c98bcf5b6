package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Large-scale model/score EVALUATION operators — the audit pass a
  * training-data pipeline runs over scores it just produced (quality
  * classifiers, retrieval scorers, dedup confidences): threshold-free
  * ranking quality (AUC), and distribution alignment across sources.
  *
  * Scale rules: an AUC over 10¹² scored rows is a RANK statistic, and
  * ranks are the canonical single-reducer trap (`ORDER BY` window with no
  * partition). Every rank here goes through [[GlobalRank]]'s range-
  * partitioned decomposition instead — P driver-side longs of metadata,
  * no `Exchange SinglePartition` anywhere in the plan (pinned by
  * PlanSpec's no-unpartitioned-window sweep).
  */
object Evaluation {

  private type Q = (SparkSession, String) => DataFrame

  private val vd = "CAST(embedding AS array<double>)"

  /** q284 — exact tie-aware AUC (Mann–Whitney) of a centroid-similarity
    * score predicting class membership, computed entirely from integer
    * rank algebra.
    *
    * Score: dot(vq, cv) where vq is the embedding quantized once to
    * BIGINT 2²⁰ths (the q277/q278 discipline) and cv the class-0
    * centroid mean re-quantized to the same grid — an exact BIGINT fold
    * in any aggregation order, so both engines rank identically.
    * (The +2²¹·n0 shift before the integer division keeps the numerator
    * positive: Spark's `div` truncates toward zero while DuckDB's `//`
    * floors, and the two only agree on non-negative operands.)
    *
    * AUC: with midrank2 = 2·(exclusive prefix count) + tie-size + 1
    * (twice the Mann–Whitney midrank, kept integral), the statistic is
    *   AUC = (Σ_pos midrank2 − n_pos·(n_pos+1)) / (2·n_pos·n_neg)
    * — ties contribute the correct ½ credit with zero floats until the
    * single final division. The prefix count runs over the DISTINCT-score
    * relation through [[GlobalRank.prefixSum]] (no global-sort window).
    * BIGINT bounds: sum_midrank2 ≤ 2n² — exact to n ≈ 2·10⁹ scored rows;
    * past that, cast the two final sums to DECIMAL(38,0) (DuckDB's
    * HUGEINT sums already are 128-bit).
    */
  /** (label, score) relation shared by the threshold-free ranking and
    * calibration audits (q284 AUC, q289 ECE, q291 AP): every row scored
    * by the exact-integer dot product against the class-0 centroid.
    * Keyed-shared so a composed evaluation job pays the centroid build
    * and the scoring pass once per undrained session.
    */
  private def centroidScores(s: SparkSession, dir: String): DataFrame =
    graft.util.QueryCaches.keyed(s"eval:centroid:$dir") {
      // No vec_id: none of the consumers keys on identity, and keeping
      // it would widen the embeddings scan to full width (the pruning
      // sweep polices exactly this).
      val eq = graft.util.QueryCaches.tracked(
        Tables.spread(Tables.embeddings(s, dir))
          .select(col("label"),
            expr(s"transform($vd, x -> CAST(round(x * 1048576) AS BIGINT))")
              .as("vq")))
      val cent = eq.filter(col("label") === 0)
        .agg(count(lit(1)).as("n0"),
          (0 until 64).map(i => sum(expr(s"vq[$i]")).as(s"c$i")): _*)
        // Loud precondition: with zero label=0 rows the centroid sums are
        // NULL and every downstream metric (AUC/ECE/AP) would silently
        // null out on both engines instead of failing. assert_true
        // returns NULL when the guard holds, so the filter keeps the one
        // centroid row and throws on an empty class.
        .filter(expr(
          "assert_true(n0 > 0, 'centroidScores: no label=0 rows') IS NULL"))
      val cm = cent.select(array((0 until 64).map(i =>
        expr(s"(c$i + 2097152L * n0) div n0 - 2097152L")): _*).as("cv"))
      eq.crossJoin(broadcast(cm))
        .select(col("label"),
          expr("""aggregate(zip_with(vq, cv, (x, y) -> x * y),
                  |  CAST(0 AS BIGINT), (a, t) -> a + t)""".stripMargin)
            .as("score"))
    }

  private val q284: Q = (s, dir) => {
    val scored = centroidScores(s, dir)
    val g = scored.groupBy("score").agg(
      count(lit(1)).as("c"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).as("cpos"))
    GlobalRank.prefixSum(g, "pre", col("c"), Seq(col("score")))
      .agg(sum("cpos").as("n_pos"),
        sum(col("c") - col("cpos")).as("n_neg"),
        sum(col("cpos") * (lit(2L) * col("pre") + col("c") + lit(1L)))
          .as("sum_midrank2"))
      .select(col("n_pos"), col("n_neg"),
        (col("sum_midrank2") - col("n_pos") * (col("n_pos") + lit(1L)))
          .as("u2_numer"),
        round(expr("""CAST(sum_midrank2 - n_pos * (n_pos + 1) AS DOUBLE)
                     |/ CAST(2 * n_pos * n_neg AS DOUBLE)""".stripMargin), 6)
          .as("auc"))
  }

  /** Oracle twin of [[centroidScores]] — single-sourced so the scored
    * relation cannot drift between the q284/q289/q291 oracles. */
  private val centroidScoredCtes =
    """eq AS (SELECT label,
      |    list_transform(embedding::DOUBLE[],
      |      x -> CAST(round(x * 1048576) AS BIGINT)) AS vq
      |  FROM embeddings),
      |c0 AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM eq WHERE label = 0),
      |cs AS (SELECT u.j, CAST(sum(vq[u.j]) AS BIGINT) AS cj
      |  FROM eq CROSS JOIN unnest(generate_series(1, 64)) AS u(j)
      |  WHERE label = 0 GROUP BY u.j),
      |cm AS (SELECT list((cj + 2097152 * n0) // n0 - 2097152 ORDER BY j) AS cv
      |  FROM cs CROSS JOIN c0),
      |scored AS (SELECT label,
      |    CAST(list_sum(list_transform(generate_series(1, 64),
      |      j -> vq[j] * cv[j])) AS BIGINT) AS score
      |  FROM eq CROSS JOIN cm)""".stripMargin

  private val q284Sql =
    s"""WITH $centroidScoredCtes,
      |g AS (SELECT score, CAST(count(*) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos
      |  FROM scored GROUP BY score),
      |p AS (SELECT score, c, cpos,
      |    CAST(coalesce(sum(c) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS pre
      |  FROM g),
      |f AS (SELECT CAST(sum(cpos) AS BIGINT) AS n_pos,
      |    CAST(sum(c - cpos) AS BIGINT) AS n_neg,
      |    CAST(sum(cpos * (2 * pre + c + 1)) AS BIGINT) AS sum_midrank2
      |  FROM p)
      |SELECT n_pos, n_neg,
      |  sum_midrank2 - n_pos * (n_pos + 1) AS u2_numer,
      |  round(CAST(sum_midrank2 - n_pos * (n_pos + 1) AS DOUBLE)
      |    / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
      |FROM f""".stripMargin

  /** q289 — reliability diagram + expected calibration error (ECE,
    * Naeini et al. AAAI'15) of the shared centroid score: scores
    * min-max-normalized onto [0,1] by exact integer algebra (bin =
    * ⌊10·(score−min)/range⌋ via BIGINT floor-div — Spark `div` and
    * DuckDB `//` agree on the non-negative operands), ten equal-width
    * confidence bins, and per bin the mean normalized score ("claimed"
    * confidence) vs the empirical class-0 rate ("delivered" accuracy).
    * ECE = Σ_b n_b/N·|acc_b − conf_b| — the one-number answer to "can
    * this quality/dedup scorer's value be READ as a probability, or
    * only used to rank?" (q284's AUC is rank-only by construction;
    * this is the complementary audit). Per-bin |acc−conf| terms are
    * deterministic IEEE chains on exactly-cast BIGINTs, re-quantized
    * to 10⁻⁹ before the ≤10-row sum, so float order cannot flip the
    * hash. Scale: one pass for global min/max/N (1-row broadcast), one
    * 10-ary groupBy — both map-side combinable; a degenerate all-equal
    * score range is floored to one quantum (single bin 0, conf 0).
    */
  private val q289: Q = (s, dir) => {
    val mm = centroidScores(s, dir)
      .agg(min("score").as("lo"), max("score").as("hi"),
        count(lit(1)).as("n"))
      .select(col("lo"), greatest(col("hi") - col("lo"), lit(1L))
        .as("rng"), col("n"))
    val bins = centroidScores(s, dir).crossJoin(broadcast(mm))
      .select(col("label"),
        least(expr("(10 * (score - lo)) div rng"), lit(9L)).as("bin"),
        (col("score") - col("lo")).as("off"))
      .groupBy("bin").agg(count(lit(1)).as("n_b"),
        sum(when(col("label") === 0, 1L).otherwise(0L)).as("pos_b"),
        sum("off").as("sum_off"))
      .crossJoin(broadcast(mm))
      .select(col("bin"), col("n_b"),
        (col("pos_b").cast("double") / col("n_b").cast("double"))
          .as("acc"),
        (col("sum_off").cast("double") /
          (col("n_b").cast("double") * col("rng").cast("double")))
          .as("conf"))
      .withColumn("t_q", expr(
        "CAST(round(CAST(n_b AS DOUBLE) * abs(acc - conf) * 1e9) AS BIGINT)"))
      .transform(graft.util.QueryCaches.tracked)
    val tot = bins.agg(sum("t_q").as("tq_sum"), sum("n_b").as("n"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_b"), round(col("conf"), 6).as("conf"),
        round(col("acc"), 6).as("acc"),
        round(col("tq_sum").cast("double") /
          (col("n").cast("double") * lit(1e9)), 6).as("ece"))
      .orderBy("bin")
  }

  private val q289Sql =
    s"""WITH $centroidScoredCtes,
      |mm AS (SELECT CAST(min(score) AS BIGINT) AS lo,
      |    GREATEST(CAST(max(score) AS BIGINT)
      |      - CAST(min(score) AS BIGINT), 1) AS rng,
      |    CAST(count(*) AS BIGINT) AS n FROM scored),
      |b AS (SELECT label,
      |    LEAST((10 * (score - lo)) // rng, 9) AS bin,
      |    score - lo AS off
      |  FROM scored CROSS JOIN mm),
      |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS pos_b,
      |    CAST(sum(off) AS BIGINT) AS sum_off FROM b GROUP BY 1),
      |w AS (SELECT bin, n_b,
      |    CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS acc,
      |    CAST(sum_off AS DOUBLE)
      |      / (CAST(n_b AS DOUBLE) * CAST(rng AS DOUBLE)) AS conf
      |  FROM bins CROSS JOIN mm),
      |t AS (SELECT bin, n_b, acc, conf,
      |    CAST(round(CAST(n_b AS DOUBLE) * abs(acc - conf) * 1e9)
      |      AS BIGINT) AS t_q FROM w),
      |tot AS (SELECT CAST(sum(t_q) AS BIGINT) AS tq_sum,
      |    CAST(sum(n_b) AS BIGINT) AS n FROM t)
      |SELECT bin, n_b, round(conf, 6) AS conf, round(acc, 6) AS acc,
      |  round(CAST(tq_sum AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9), 6)
      |    AS ece
      |FROM t CROSS JOIN tot ORDER BY bin""".stripMargin

  /** q291 — exact tie-aware average precision (AP / PR-AUC in the
    * step-function convention sklearn uses: AP = Σ_i (R_i − R_{i−1})·P_i
    * over score thresholds), the precision-weighted complement of
    * q284's AUC — AUC is insensitive to class imbalance, AP is the
    * number that collapses when positives are rare, which is why
    * retrieval and dedup-verification scorers report both. Ties are
    * handled at BLOCK granularity (one threshold per distinct score —
    * the only deterministic convention under ties): per block,
    * ΔR·P = (Δtp/P_total)·(tp_cum/n_cum), all four factors exact
    * BIGINTs from the same [[GlobalRank.prefixSum]] decomposition q284
    * uses (two prefix sums over the distinct-score relation in
    * descending order — never a global-sort window). Each block term
    * is one correctly-rounded double division re-quantized to 10⁻⁶;
    * exact while Δtp·tp_cum < 2⁴³ (positives ≈ 3·10⁶ — past that,
    * widen the quantizer the q284 DECIMAL way).
    */
  private val q291: Q = (s, dir) => {
    val g = centroidScores(s, dir).groupBy("score").agg(
      count(lit(1)).as("c"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).as("cpos"))
    val g2 = GlobalRank.prefixSum(g, "pre_c", col("c"),
      Seq(col("score").desc))
    GlobalRank.prefixSum(g2, "pre_p", col("cpos"), Seq(col("score").desc))
      .select(col("c"), col("cpos"),
        (col("pre_c") + col("c")).as("n_cum"),
        (col("pre_p") + col("cpos")).as("tp_cum"))
      .withColumn("t_q", expr(
        """CAST(round(CAST(1000000L * cpos * tp_cum AS DOUBLE)
          |  / CAST(n_cum AS DOUBLE)) AS BIGINT)""".stripMargin))
      .agg(sum("cpos").as("n_pos"), sum(col("c") - col("cpos")).as("n_neg"),
        count(lit(1)).as("n_blocks"), sum("t_q").as("tq"))
      .select(col("n_pos"), col("n_neg"), col("n_blocks"),
        round(col("tq").cast("double") /
          (col("n_pos").cast("double") * lit(1e6)), 6).as("avg_precision"))
  }

  private val q291Sql =
    s"""WITH $centroidScoredCtes,
      |g AS (SELECT score, CAST(count(*) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS cpos
      |  FROM scored GROUP BY score),
      |p AS (SELECT c, cpos,
      |    CAST(coalesce(sum(c) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) + c AS n_cum,
      |    CAST(coalesce(sum(cpos) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) + cpos AS tp_cum
      |  FROM g),
      |t AS (SELECT c, cpos,
      |    CAST(round(CAST(1000000 * cpos * tp_cum AS DOUBLE)
      |      / CAST(n_cum AS DOUBLE)) AS BIGINT) AS t_q
      |  FROM p)
      |SELECT CAST(sum(cpos) AS BIGINT) AS n_pos,
      |  CAST(sum(c - cpos) AS BIGINT) AS n_neg,
      |  CAST(count(*) AS BIGINT) AS n_blocks,
      |  round(CAST(CAST(sum(t_q) AS BIGINT) AS DOUBLE)
      |    / (CAST(CAST(sum(cpos) AS BIGINT) AS DOUBLE) * 1e6), 6)
      |    AS avg_precision
      |FROM t""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q284_auc_centroid", q284, q284Sql),
    Query("q289_ece_calibration", q289, q289Sql),
    Query("q291_avg_precision", q291, q291Sql)
  )
}

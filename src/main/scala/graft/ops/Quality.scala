package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Corpus-quality operators for the LLM-data-pipeline layer: bounded
  * per-group top-k, information-theoretic quality signals (entropy,
  * repetition), policy pattern scanning, and n-gram language-model
  * scoring. All per-document computation is map-side (higher-order
  * functions inside one codegen stage); shuffles appear only where a
  * corpus-global model (vocabulary, bigram counts) is genuinely needed.
  *
  * Cross-engine float discipline (SURVEY §5): every per-element double is
  * quantized to an integer (`round(x * 1e7)::BIGINT`) BEFORE any cross-row
  * or cross-element sum, so aggregation order cannot perturb the result;
  * ratios of exact integers are emitted unrounded (identical IEEE division
  * on both engines).
  */
object Quality {

  private type Q = (SparkSession, String) => DataFrame

  /** q98 — top-3 longest documents per language via the bounded
    * [[graft.functions.TopKByScore]] aggregator: partial+final aggregation
    * ships at most k rows per (map task × group) instead of window-ranking
    * the whole relation through one reducer per language — the per-group
    * top-k formulation that survives 5 languages × 20 TB each.
    */
  private val q98: Q = (s, dir) => {
    val topk = udaf(new graft.functions.TopKByScore(3))
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(topk(col("n_chars").cast("double"), col("doc_id")).as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").cast("long").as("n_chars"))
      .orderBy("lang", "rank")
  }

  private val q98Sql =
    """SELECT lang, rank, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY n_chars DESC, doc_id) AS rank
      |  FROM documents)
      |WHERE rank <= 3 ORDER BY lang, rank""".stripMargin

  /** q99 — per-document word-distribution Shannon entropy (bits): a
    * low-entropy document is boilerplate/spam; a training-data filter
    * staple. Per-word counts come from explode → codegen'd groupBy (the
    * q100 discipline: the earlier distinct×filter lambda form was
    * O(distinct_words × words) per document AND ran interpreted — one
    * multi-megabyte document makes it the tail hotspot); each entropy
    * term is integer-quantized per distinct word before the per-document
    * sum, so summation order cannot perturb the result and the oracle's
    * list-based evaluation matches bit-for-bit.
    */
  private val q99: Q = (s, dir) =>
    Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), size(col("words")).cast("long").as("n_words"),
        explode(col("words")).as("w"))
      .groupBy("doc_id", "n_words", "w").agg(count(lit(1)).as("c"))
      .withColumn("term", expr(
        """CAST(round(-1.0D * (CAST(c AS DOUBLE) / n_words)
          |  * log2(CAST(c AS DOUBLE) / n_words) * 1e7) AS BIGINT)""".stripMargin))
      .groupBy("doc_id")
      .agg(max("n_words").as("n_words"), sum("term").as("ent_q"))
      .select(col("doc_id"), col("n_words"),
        (col("ent_q").cast("double") / lit(1e7)).as("entropy"))
      .orderBy("doc_id")

  private val q99Sql =
    """SELECT doc_id, n_words,
      |  CAST(ent_q AS DOUBLE) / 1e7 AS entropy
      |FROM (
      |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(
      |      list_transform(list_distinct(words),
      |                     w -> len(list_filter(words, x -> x = w))),
      |      c -> CAST(round(-1.0::DOUBLE * (CAST(c AS DOUBLE) / len(words)) * log2(CAST(c AS DOUBLE) / len(words)) * 1e7) AS BIGINT)))
      |      AS BIGINT) AS ent_q
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** q100 — intra-document repetition: the occurrence count of the most
    * repeated word 3-gram, and its share of all 3-grams. High repetition
    * flags templated/generated text. Explode + two partial-aggregated
    * shuffles (multiplicity per (doc, gram), then max/sum per doc) — the
    * earlier per-doc distinct×filter lambda scan was quadratic in doc
    * length AND interpreted; this shape is codegen'd, linear, and safe
    * for pathological document lengths at 100 TB.
    */
  private val q100: Q = (s, dir) =>
    Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(TextDedup.shinglesExpr(3))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_shingles"), max("c").as("max_repeat"))
      .withColumn("repeat_ratio",
        col("max_repeat").cast("double") / col("n_shingles"))
      .orderBy("doc_id")

  private val q100Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(words) < 3 THEN [] ELSE
      |    list_transform(generate_series(1, len(words)-2), i ->
      |      words[i] || ' ' || words[i+1] || ' ' || words[i+2]) END AS sh
      |  FROM w)
      |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
      |  CAST(list_max(list_transform(list_distinct(sh),
      |    g -> len(list_filter(sh, x -> x = g)))) AS BIGINT) AS max_repeat,
      |  CAST(list_max(list_transform(list_distinct(sh),
      |    g -> len(list_filter(sh, x -> x = g)))) AS DOUBLE) / len(sh) AS repeat_ratio
      |FROM sh WHERE len(sh) > 0 ORDER BY doc_id""".stripMargin

  /** Policy pattern scan kernel: per (lang, pattern) — documents with ≥1
    * match and total match count. The PII-scan shape (emails, phone
    * numbers, secrets) every corpus release pipeline runs; patterns are
    * parameters, the fixture exercises one zero-hit PII-shaped pattern as
    * a negative control plus two content patterns. One map-side regexp
    * pass per pattern (a real deployment fuses them into one pass with an
    * alternation), one small groupBy.
    */
  private[graft] def patternScan(docs: DataFrame,
                                 patterns: Seq[(String, String)]): DataFrame =
    patterns.map { case (name, rx) =>
      docs.select(col("lang"), lit(name).as("pattern"),
        size(regexp_extract_all(col("text"), lit(rx), lit(1))).as("h"))
    }.reduce(_.unionByName(_))
      .groupBy("lang", "pattern")
      .agg(sum(when(col("h") > 0, 1L).otherwise(0L)).as("docs_matched"),
        sum(col("h").cast("long")).as("total_matches"))
      .orderBy("lang", "pattern")

  private val q101: Q = (s, dir) =>
    patternScan(Tables.documents(s, dir), Seq(
      "p_email" -> "([a-z0-9]+@[a-z0-9]+\\.[a-z]{2,4})",
      "p_long"  -> "([a-z]{6,})",
      "p_num"   -> "([0-9]+)"))

  private val q101Sql =
    """WITH hits AS (
      |  SELECT lang, 'p_email' AS pattern,
      |    len(regexp_extract_all(text, '([a-z0-9]+@[a-z0-9]+\.[a-z]{2,4})', 1)) AS h
      |  FROM documents
      |  UNION ALL SELECT lang, 'p_long',
      |    len(regexp_extract_all(text, '([a-z]{6,})', 1)) FROM documents
      |  UNION ALL SELECT lang, 'p_num',
      |    len(regexp_extract_all(text, '([0-9]+)', 1)) FROM documents)
      |SELECT lang, pattern,
      |  CAST(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_matched,
      |  CAST(sum(h) AS BIGINT) AS total_matches
      |FROM hits GROUP BY 1, 2 ORDER BY lang, pattern""".stripMargin

  /** q103 — corpus bigram language-model scoring with add-one smoothing:
    * P(w2|w1) = (c(w1w2)+1) / (c(w1)+V); each document's quality signal is
    * its mean log2 bigram probability (the perplexity filter of classic
    * data-cleaning pipelines, with the LM built from the corpus itself).
    * Model build = two narrow groupBys; scoring = the exploded doc-bigram
    * relation hash-joined to bigram and unigram counts (both keyed
    * shuffles reuse the bigram partitioning), vocabulary size broadcast as
    * a 1-row cross join. Per-bigram log terms are integer-quantized before
    * the per-doc sum.
    */
  private val q103: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
    val bg = docs.select(col("doc_id"),
      explode(expr(TextDedup.shinglesExpr(2))).as("bg"))
    val cb = bg.groupBy("bg").agg(count(lit(1)).as("cb"))
    val uni = docs.select(explode(col("words")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    bg.withColumn("w1", expr("split(bg, ' ')[0]"))
      .join(cb, "bg")
      .join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("lp_q", expr(
        "CAST(round(log2(CAST(cb + 1 AS DOUBLE) / (cu + v)) * 1e7) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_q").as("lpq"))
      .select(col("doc_id"), col("n_bigrams"),
        ((col("lpq").cast("double") / lit(1e7)) / col("n_bigrams")).as("avg_logp"))
      .orderBy("doc_id")
  }

  private val q103Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |bg AS (SELECT doc_id,
      |  unnest(CASE WHEN len(words) < 2 THEN [] ELSE
      |    list_transform(generate_series(1, len(words)-1), i ->
      |      words[i] || ' ' || words[i+1]) END) AS bg
      |  FROM w),
      |cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY 1),
      |uni AS (SELECT w1, count(*) AS cu FROM
      |  (SELECT unnest(words) AS w1 FROM w) GROUP BY 1),
      |voc AS (SELECT count(*) AS v FROM uni),
      |scored AS (SELECT doc_id,
      |  CAST(round(log2(CAST(cb.cb + 1 AS DOUBLE) / (uni.cu + voc.v)) * 1e7) AS BIGINT) AS lp_q
      |  FROM bg JOIN cb USING (bg)
      |  JOIN uni ON uni.w1 = string_split(bg.bg, ' ')[1]
      |  CROSS JOIN voc)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  (CAST(CAST(sum(lp_q) AS BIGINT) AS DOUBLE) / 1e7) / count(*) AS avg_logp
      |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** q192 — held-out perplexity by source: q103's add-one-smoothed bigram
    * LM trained on the even-doc_id HALF only (q87's stable split), scored
    * on the odd-doc_id holdout, rolled up per source — the
    * contamination-free form of the perplexity quality signal (q103
    * scores the corpus under a model of itself, which flatters
    * duplicated text; a held-out model cannot). A source whose holdout
    * avg_logp collapses relative to others is out-of-distribution or
    * noisy — the per-source read that feeds q151/q157's weighting next
    * to q180's KL. Unseen holdout bigrams/unigrams back off to the
    * smoothing floor via left joins (coalesce 0), never dropped — that
    * asymmetry IS the signal. Scale shape: q103's — two narrow train
    * groupBys, the holdout bigram relation hash-joined to both (left),
    * vocabulary as a 1-row broadcast, per-bigram log terms
    * integer-quantized before the per-source sum.
    */
  private val q192: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val cb = train
      .select(explode(expr(TextDedup.shinglesExpr(2))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))
    val uni = train.select(explode(col("words")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
      .transform(graft.util.QueryCaches.tracked)
    val vocab = uni.agg(count(lit(1)).as("v"))
    docs.filter(col("doc_id") % 2 =!= 0)
      .select(col("source"), explode(expr(TextDedup.shinglesExpr(2))).as("bg"))
      .withColumn("w1", expr("split(bg, ' ')[0]"))
      .join(cb, Seq("bg"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp_q", expr(
        """CAST(round(log2(CAST(coalesce(cb, 0L) + 1 AS DOUBLE)
          |  / (coalesce(cu, 0L) + v)) * 1e7) AS BIGINT)""".stripMargin))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_q").as("lpq"))
      .select(col("source"), col("n_bigrams"),
        ((col("lpq").cast("double") / lit(1e7)) / col("n_bigrams"))
          .as("avg_logp"))
      .orderBy("source")
  }

  private val q192Sql =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words
      |  FROM documents),
      |tbg AS (SELECT
      |  unnest(CASE WHEN len(words) < 2 THEN [] ELSE
      |    list_transform(generate_series(1, len(words)-1), i ->
      |      words[i] || ' ' || words[i+1]) END) AS bg
      |  FROM w WHERE doc_id % 2 = 0),
      |cb AS (SELECT bg, count(*) AS cb FROM tbg GROUP BY 1),
      |uni AS (SELECT w1, count(*) AS cu FROM
      |  (SELECT unnest(words) AS w1 FROM w WHERE doc_id % 2 = 0) GROUP BY 1),
      |voc AS (SELECT count(*) AS v FROM uni),
      |hb AS (SELECT source,
      |  unnest(CASE WHEN len(words) < 2 THEN [] ELSE
      |    list_transform(generate_series(1, len(words)-1), i ->
      |      words[i] || ' ' || words[i+1]) END) AS bg
      |  FROM w WHERE doc_id % 2 <> 0),
      |scored AS (SELECT hb.source,
      |  CAST(round(log2(CAST(coalesce(cb.cb, 0) + 1 AS DOUBLE)
      |    / (coalesce(uni.cu, 0) + voc.v)) * 1e7) AS BIGINT) AS lp_q
      |  FROM hb LEFT JOIN cb USING (bg)
      |  LEFT JOIN uni ON uni.w1 = string_split(hb.bg, ' ')[1]
      |  CROSS JOIN voc)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  (CAST(CAST(sum(lp_q) AS BIGINT) AS DOUBLE) / 1e7) / count(*) AS avg_logp
      |FROM scored GROUP BY 1 ORDER BY source""".stripMargin

  /** q286 — Kneser–Ney smoothed bigram LM scoring (Kneser & Ney,
    * ICASSP'95; the interpolated form of Chen & Goodman'98), the
    * production-grade upgrade of q103's add-one baseline: the backoff
    * distribution is the CONTINUATION probability (how many distinct
    * left contexts a word follows — "Francisco" is frequent but only
    * ever follows "San", so its continuation mass is tiny), which is
    * what makes KN the standard n-gram smoother for perplexity-based
    * corpus filtering. With discount d = 3/4 kept as ×4 integers,
    *   P(w2|w1) = [(4c−3)·T + 3·N1⁺(w1•)·N1⁺(•w2)] / (4·c(w1•)·T)
    * — one exact-BIGINT numerator/denominator pair per scored bigram
    * (every factor < 2⁵³, so the single double division is correctly
    * rounded on both engines), log2-quantized to 10⁻⁷ before the
    * per-document sum, q103's discipline exactly. Model build: one
    * (w1,w2) type-count groupBy and three narrow re-aggregations of
    * it (left marginal, fan-out, fan-in) — all map-side combinable;
    * scoring re-joins the exploded doc-bigram relation on the same
    * keys. Interpolated KN sums to exactly 1 over the vocabulary — the
    * unit spec asserts Σ P(·|w1) = 1 in closed form on a 2-word corpus.
    */
  private val q286: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
    val bg = docs.select(col("doc_id"),
        explode(expr(TextDedup.shinglesExpr(2))).as("bg"))
      .withColumn("w1", expr("split(bg, ' ')[0]"))
      .withColumn("w2", expr("split(bg, ' ')[1]"))
      .transform(graft.util.QueryCaches.tracked)
    val tc = graft.util.QueryCaches.tracked(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c")))
    val left = tc.groupBy("w1")
      .agg(sum("c").as("cw1"), count(lit(1)).as("n1f"))
    val fanIn = tc.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val types = tc.agg(count(lit(1)).as("t"))
    bg.join(tc, Seq("w1", "w2"))
      .join(left, "w1")
      .join(fanIn, "w2")
      .crossJoin(broadcast(types))
      .withColumn("lp_q", expr(
        """CAST(round(log2(
          |  CAST((4 * c - 3) * t + 3 * n1f * n1b AS DOUBLE)
          |  / CAST(4 * cw1 * t AS DOUBLE)) * 1e7) AS BIGINT)""".stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_q").as("lpq"))
      .select(col("doc_id"), col("n_bigrams"),
        ((col("lpq").cast("double") / lit(1e7)) / col("n_bigrams"))
          .as("avg_logp"))
      .orderBy("doc_id")
  }

  private val q286Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents),
      |bg AS (SELECT doc_id,
      |    unnest(CASE WHEN len(words) < 2 THEN [] ELSE
      |      list_transform(generate_series(1, len(words)-1), i ->
      |        words[i] || ' ' || words[i+1]) END) AS bgs
      |  FROM w),
      |b2 AS (SELECT doc_id, string_split(bgs, ' ')[1] AS w1,
      |    string_split(bgs, ' ')[2] AS w2 FROM bg),
      |tc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      |  FROM b2 GROUP BY 1, 2),
      |lft AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
      |    CAST(count(*) AS BIGINT) AS n1f FROM tc GROUP BY 1),
      |fi AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b
      |  FROM tc GROUP BY 1),
      |ty AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tc),
      |scored AS (SELECT b2.doc_id,
      |    CAST(round(log2(
      |      CAST((4 * tc.c - 3) * ty.t + 3 * lft.n1f * fi.n1b AS DOUBLE)
      |      / CAST(4 * lft.cw1 * ty.t AS DOUBLE)) * 1e7) AS BIGINT) AS lp_q
      |  FROM b2 JOIN tc USING (w1, w2)
      |  JOIN lft USING (w1) JOIN fi USING (w2) CROSS JOIN ty)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  (CAST(CAST(sum(lp_q) AS BIGINT) AS DOUBLE) / 1e7) / count(*)
      |    AS avg_logp
      |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** The nine Benford first-digit probabilities log10(1 + 1/d) as
    * 17-significant-digit literals — IDENTICAL text on both engines
    * (each engine's decimal-literal→DOUBLE cast is correctly rounded,
    * so the doubles are bit-equal), rather than runtime log10 calls
    * whose last ulp the two math libraries need not agree on.
    */
  private val benfordCase: String = {
    val ps = Seq(
      1 -> "0.3010299956639812", 2 -> "0.17609125905568124",
      3 -> "0.12493873660829992", 4 -> "0.09691001300805642",
      5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
      7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
      9 -> "0.04575749056067514")
    ps.map { case (d, p) => s"WHEN $d THEN CAST($p AS DOUBLE)" }
      .mkString("CASE digit ", " ", " END")
  }

  /** q318 — Benford first-digit audit of `l_extendedprice` with a χ²
    * statistic: the forensic data-quality test (Benford 1938; Nigrini's
    * fraud-audit practice) that flags fabricated or clipped numeric
    * columns — synthetic-data detection for a training corpus's
    * numeric fields. The first digit comes from the exact integer
    * cents (floor(price·100) → BIGINT → leading decimal digit), never
    * from log10 of a float (engines disagree in the last ulp at
    * power-of-ten boundaries). χ² terms are per-digit doubles against
    * the literal-pinned expectations, quantized to 10⁻⁶ BIGINTs before
    * the cross-digit sum so the total is order-free exact. One
    * map-side digit projection + a 9-row aggregate: free at any scale.
    */
  private val q318: Q = (s, dir) => {
    val counts = Tables.spread(Tables.lineitem(s, dir))
      .select(expr("""CAST(substring(CAST(CAST(floor(l_extendedprice * 100)
        AS BIGINT) AS STRING), 1, 1) AS INT)""").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(sum("n_obs").as("n"))
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("p", expr(benfordCase))
      .withColumn("term", expr(
        """(CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
          | * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
          | / (CAST(n AS DOUBLE) * p)""".stripMargin))
      .withColumn("term_q", expr("CAST(round(term * 1e6) AS BIGINT)"))
      .transform(graft.util.QueryCaches.tracked)
    val chi = terms.agg(sum("term_q").as("chi_q"))
    terms.crossJoin(broadcast(chi))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n").cast("double"), 6)
          .as("obs_frac"),
        round(col("p"), 6).as("exp_frac"),
        round(col("term"), 6).as("chi2_term"),
        round(col("chi_q").cast("double") / lit(1e6), 4).as("chi2_total"))
      .orderBy("digit")
  }

  private val q318Sql = {
    val caseDuck = benfordCase // same literal text parses on DuckDB
    s"""WITH dg AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice
       |    * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM lineitem),
       |counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
       |  FROM dg GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts),
       |terms AS MATERIALIZED (SELECT digit, n_obs, n,
       |    $caseDuck AS p,
       |    (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * ($caseDuck))
       |      * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * ($caseDuck))
       |      / (CAST(n AS DOUBLE) * ($caseDuck)) AS term
       |  FROM counts CROSS JOIN tot),
       |chi AS (SELECT CAST(sum(CAST(round(term * 1e6) AS BIGINT))
       |    AS BIGINT) AS chi_q FROM terms)
       |SELECT t.digit, t.n_obs,
       |  round(CAST(t.n_obs AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
       |    AS obs_frac,
       |  round(t.p, 6) AS exp_frac,
       |  round(t.term, 6) AS chi2_term,
       |  round(CAST(c.chi_q AS DOUBLE) / CAST(1e6 AS DOUBLE), 4)
       |    AS chi2_total
       |FROM terms t CROSS JOIN chi c
       |ORDER BY t.digit""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q318_benford_audit", q318, q318Sql),
    Query("q286_kneser_ney", q286, q286Sql),
    Query("q192_holdout_perplexity", q192, q192Sql),
    Query("q98_topk_per_group", q98, q98Sql),
    Query("q99_word_entropy", q99, q99Sql),
    Query("q100_repetition", q100, q100Sql),
    Query("q101_pattern_scan", q101, q101Sql),
    Query("q103_bigram_lm", q103, q103Sql)
  )
}

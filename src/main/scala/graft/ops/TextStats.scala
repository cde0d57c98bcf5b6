package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Text-analysis suite for the LLM-pipeline layer: quality scoring,
  * language ID, token statistics, document fingerprinting — all per-row
  * map-side expressions (zero shuffles before the deterministic orderBy),
  * which is exactly the property that makes them viable as a 100 TB
  * pre-training filter pass: they pipeline inside one codegen stage over
  * the scan.
  */
object TextStats {

  private type Q = (SparkSession, String) => DataFrame

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ",", ")")

  /** q47 — token/quality statistics per document. */
  private val q47: Q = (s, dir) =>
    Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("words")).as("n_tokens"),
        length(col("text")).as("n_chars_m"),
        round(expr("aggregate(words, 0, (acc, w) -> acc + length(w))")
          .cast("double") / size(col("words")), 4).as("avg_token_len"),
        round(size(array_distinct(col("words"))).cast("double") /
          size(col("words")), 4).as("type_token_ratio"),
        round(size(expr(s"filter(words, w -> w IN ${sqlList(Stopwords)})"))
          .cast("double") / size(col("words")), 4).as("stopword_ratio"),
        regexp_count(col("text"), lit("[^a-z0-9 ]")).as("n_punct"))
      .orderBy("doc_id")

  private val q47Sql =
    s"""WITH w AS (SELECT *, string_split(text, ' ') AS words FROM documents)
       |SELECT doc_id,
       |  CAST(len(words) AS INTEGER) AS n_tokens,
       |  CAST(length(text) AS INTEGER) AS n_chars_m,
       |  round(list_sum(list_transform(words, x -> length(x)))::DOUBLE / len(words), 4)
       |    AS avg_token_len,
       |  round(len(list_distinct(words))::DOUBLE / len(words), 4) AS type_token_ratio,
       |  round(len(list_filter(words, x -> x IN ${sqlList(Stopwords)}))::DOUBLE / len(words), 4)
       |    AS stopword_ratio,
       |  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS INTEGER) AS n_punct
       |FROM w ORDER BY doc_id""".stripMargin

  /** q48 — language ID by marker-word scoring (n-gram-heuristic family).
    * Real deployments use char-trigram profiles; the synthetic corpus
    * shares one vocabulary across langs, so the value under test is the
    * *dataflow*: per-lang scores map-side, argmax with a deterministic
    * lexicographic tie-break, accuracy check against the labeled column.
    */
  private val markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo"))

  private val langs = markers.keys.toSeq.sorted

  /** Shared marker-scoring + argmax prediction kernel (q48's machinery,
    * one definition for q48's per-doc view and q206's confusion matrix).
    * Argmax ties resolve to the lexicographically first lang: the first
    * lang (asc) that is >= all others wins.
    */
  private def langScoresPred(s: SparkSession, dir: String): DataFrame = {
    val scored = langs.foldLeft(
      Tables.spread(Tables.documents(s, dir))
        .withColumn("words", split(col("text"), " "))) {
      (df, l) =>
        df.withColumn(s"s_$l",
          size(expr(s"filter(words, w -> w IN ${sqlList(markers(l))})")))
    }
    val pred = langs.foldRight(lit(null).cast("string")) { (l, rest) =>
      val geAll = langs.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduce(_ && _)
      when(geAll, lit(l)).otherwise(rest)
    }
    scored.withColumn("pred_lang", pred)
  }

  private val q48: Q = (s, dir) =>
    langScoresPred(s, dir)
      .select(col("doc_id") +: langs.map(l => col(s"s_$l")) :+
        col("pred_lang") :+
        (col("pred_lang") === col("lang")).as("is_correct"): _*)
      .orderBy("doc_id")

  /** Oracle fragments shared by q48Sql and q206Sql — one definition of
    * the marker scores and the argmax CASE. */
  private val langScoreColsSql = langs.map(l =>
    s"len(list_filter(words, x -> x IN ${sqlList(markers(l))})) AS s_$l")
    .mkString(",\n  ")
  private val langPredCaseSql = langs.map { l =>
    val cond = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
    s"WHEN $cond THEN '$l'"
  }.mkString("\n    ")

  private val q48Sql = {
    val sInts = langs.map(l => s"CAST(s_$l AS INTEGER) AS s_$l").mkString(", ")
    s"""WITH w AS (SELECT *, string_split(text, ' ') AS words FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  $langScoreColsSql
       |FROM w)
       |SELECT doc_id, $sInts,
       |  CASE $langPredCaseSql END AS pred_lang,
       |  (CASE $langPredCaseSql END) = lang AS is_correct
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** q206 — language-ID confusion matrix: q48's predictions aggregated
    * into (declared, predicted) counts with each cell's share of its
    * declared row — the view that turns a per-doc classifier check into
    * a routing decision (which declared languages the heuristic
    * misroutes WHERE, not just how often). On the shared-vocabulary
    * synthetic corpus the matrix is nearly uniform per row — exactly
    * what it should read; on a real corpus the diagonal is the number
    * that gates lang-conditioned filtering. Scale shape: the scoring is
    * q48's map-side kernel (one shared definition, so the two cannot
    * drift), then one ≤|langs|²-key partial+final count and a
    * |langs|-row equi-join for the row totals.
    */
  private val q206: Q = (s, dir) => {
    val c = langScoresPred(s, dir)
      .groupBy(col("lang").as("declared_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = c.groupBy("declared_lang").agg(sum("n_docs").as("tot"))
    c.join(tot, "declared_lang")
      .select(col("declared_lang"), col("pred_lang"), col("n_docs"),
        (col("n_docs").cast("double") / col("tot")).as("share"))
      .orderBy("declared_lang", "pred_lang")
  }

  private val q206Sql =
    s"""WITH w AS (SELECT *, string_split(text, ' ') AS words FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  $langScoreColsSql
       |FROM w),
       |p AS (SELECT lang AS declared_lang,
       |  CASE $langPredCaseSql END AS pred_lang FROM sc),
       |c AS (SELECT declared_lang, pred_lang, CAST(count(*) AS BIGINT)
       |    AS n_docs
       |  FROM p GROUP BY 1, 2),
       |t AS (SELECT declared_lang, CAST(sum(n_docs) AS BIGINT) AS tot
       |  FROM c GROUP BY 1)
       |SELECT c.declared_lang, c.pred_lang, c.n_docs,
       |  CAST(c.n_docs AS DOUBLE) / t.tot AS share
       |FROM c JOIN t USING (declared_lang)
       |ORDER BY declared_lang, pred_lang""".stripMargin

  /** q49 — document fingerprints: exact digest, whitespace-normalized
    * digest, and a winnowing-style min-shingle digest (the minimum md5
    * over word 4-shingles — one representative hash per document, stable
    * under local edits away from the minimizing window).
    */
  private val q49: Q = (s, dir) =>
    Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingles", expr(
        """CASE WHEN size(words) < 4 THEN array(text)
          |ELSE transform(sequence(1, size(words)-3), i ->
          |  element_at(words,i) || ' ' || element_at(words,i+1) || ' ' ||
          |  element_at(words,i+2) || ' ' || element_at(words,i+3)) END"""
          .stripMargin))
      .select(
        col("doc_id"),
        md5(col("text")).as("fp_exact"),
        md5(trim(regexp_replace(col("text"), " +", " "))).as("fp_norm"),
        expr("array_min(transform(shingles, x -> md5(x)))").as("fp_minshingle"))
      .orderBy("doc_id")

  private val q49Sql =
    """WITH w AS (SELECT *, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT doc_id, text,
      |  CASE WHEN len(words) < 4 THEN [text] ELSE
      |    list_transform(generate_series(1, len(words)-3), i ->
      |      words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])
      |  END AS shingles
      |  FROM w)
      |SELECT doc_id,
      |  md5(text) AS fp_exact,
      |  md5(trim(regexp_replace(text, ' +', ' ', 'g'))) AS fp_norm,
      |  list_min(list_transform(shingles, x -> md5(x))) AS fp_minshingle
      |FROM sh ORDER BY doc_id""".stripMargin

  /** Per-document composite quality score (shared by q54's admission
    * filter and q138's curriculum ordering): one codegen stage over the
    * scan, no shuffle.
    */
  private[ops] def qualityScored(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")))
      .withColumn("ttr", size(array_distinct(col("words"))).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio",
        size(expr(s"filter(words, w -> w IN ${sqlList(Stopwords)})")).cast("double") / col("n_tokens"))
      .withColumn("punct_ratio",
        regexp_count(col("text"), lit("[^a-z0-9 ]")).cast("double") / length(col("text")))
      // UNROUNDED on purpose: the blend is bit-identical across engines
      // (same IEEE ops, same association order), but round() is NOT —
      // Spark rounds via BigDecimal on the exact binary value, DuckDB via
      // scaled multiply, and at sf0.1 five documents landed on half
      // boundaries where the two disagree by 1 ulp.
      .withColumn("quality",
        lit(0.35) * least(col("ttr") * 2, lit(1.0)) +
          lit(0.25) * (lit(1.0) - abs(col("stop_ratio") - 0.4)) +
          lit(0.2) * least(col("n_tokens") / 50.0, lit(1.0)) +
          lit(0.2) * (lit(1.0) - least(col("punct_ratio") * 5, lit(1.0))))

  /** q54 — composite quality score + keep/drop decision: the "training-set
    * admission filter" face of q47's raw statistics. Weighted blend of
    * type-token ratio, stopword-band distance, length saturation, and
    * punctuation penalty; pure per-row arithmetic (one codegen stage over
    * the scan — the 100 TB filter-pass shape). Weights are illustrative;
    * the operator under test is the deterministic scoring dataflow.
    */
  private val q54: Q = (s, dir) =>
    qualityScored(s, dir)
      .select(col("doc_id"), col("quality"),
        (col("quality") >= 0.5 && col("n_tokens") >= 5).as("keep"))
      .orderBy("doc_id")

  /** Oracle-side twin of [[qualityScored]]: the measures CTE and the blend
    * expression, shared by q54Sql, q138Sql, and TextDedup's q144Sql so the
    * definitions cannot drift. CTE names are parameters because q144
    * interpolates this next to the MinHash chain, whose `w` would collide.
    */
  private[ops] def qualityMeasuresCte(w: String = "w", m: String = "m"): String =
    s"""$w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
       |$m AS (SELECT doc_id,
       |  len(words) AS n_tokens,
       |  len(list_distinct(words))::DOUBLE / len(words) AS ttr,
       |  len(list_filter(words, x -> x IN ${sqlList(Stopwords)}))::DOUBLE / len(words) AS stop_ratio,
       |  len(regexp_extract_all(text, '[^a-z0-9 ]'))::DOUBLE / length(text) AS punct_ratio
       |FROM $w)""".stripMargin

  private[ops] val qualityBlendSql =
    """0.35 * least(ttr * 2, 1.0) + 0.25 * (1.0 - abs(stop_ratio - 0.4))
      |    + 0.2 * least(n_tokens / 50.0, 1.0)
      |    + 0.2 * (1.0 - least(punct_ratio * 5, 1.0))""".stripMargin

  private val q54Sql =
    s"""WITH ${qualityMeasuresCte()}
       |SELECT doc_id,
       |  $qualityBlendSql AS quality,
       |  ($qualityBlendSql >= 0.5 AND n_tokens >= 5) AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  /** q138 — curriculum ordering: the whole corpus globally ranked easiest-
    * first by the q54 quality blend and split into 4 equal curriculum
    * phases — the data-ordering step of curriculum training (feed clean,
    * high-quality text early; the noisy tail late). The global rank runs
    * through [[GlobalRank.rowNumber]] (range partition + per-partition
    * index + broadcast offsets) — NO single-partition window anywhere,
    * the same scale-safe shape q110/q121 use; the phase split is integer
    * arithmetic against the 1-row corpus count broadcast (`div` ⇄ `//`
    * truncation agrees since every operand is non-negative). The quality
    * blend is bit-identical across engines (q54's proof), so the rank —
    * an integer derived from a (quality DESC, doc_id) total order — is
    * hash-exact even though the score is a float.
    */
  private val q138: Q = (s, dir) => {
    val q = qualityScored(s, dir).select(col("doc_id"), col("quality"))
    val ranked = GlobalRank.rowNumber(q, "cur_rank",
      Seq(col("quality").desc, col("doc_id")))
    // corpus count = max rank, read from GlobalRank's internal cache — a
    // separate count(*) would re-run the whole quality-blend scan
    val n = ranked.agg(max("cur_rank").as("n_docs"))
    ranked
      .crossJoin(broadcast(n)) // scalar broadcast: 1-row corpus count
      .select(col("doc_id"), col("quality"), col("cur_rank"),
        (expr("((cur_rank - 1) * 4) div n_docs").cast("int") + 1).as("phase"))
      .orderBy("cur_rank")
  }

  private val q138Sql =
    s"""WITH ${qualityMeasuresCte()},
       |q AS (SELECT doc_id, $qualityBlendSql AS quality FROM m),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM q),
       |r AS (SELECT doc_id, quality, CAST(row_number() OVER (
       |    ORDER BY quality DESC, doc_id) AS BIGINT) AS cur_rank FROM q)
       |SELECT doc_id, quality, cur_rank,
       |  CAST(((cur_rank - 1) * 4) // n_docs AS INTEGER) + 1 AS phase
       |FROM r CROSS JOIN n
       |ORDER BY cur_rank""".stripMargin

  /** q55 — token counting with a BPE-ish regex segmentation
    * (letter runs | digit runs | single punctuation — the GPT-2 pretoken
    * family without unicode classes), vs whitespace tokens. Pure map-side;
    * the regexes live inside whole-stage codegen.
    */
  private val q55: Q = (s, dir) =>
    Tables.spread(Tables.documents(s, dir))
      .withColumn("n_bpe", size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
      .select(
        col("doc_id"), col("n_bpe"),
        size(split(col("text"), " ")).as("n_words"),
        round(length(col("text")).cast("double") / col("n_bpe"), 4).as("chars_per_bpe"))
      .orderBy("doc_id")

  private val q55Sql =
    """WITH t AS (SELECT doc_id, text,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe
      |  FROM documents)
      |SELECT doc_id, CAST(n_bpe AS INTEGER) AS n_bpe,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
      |  round(length(text)::DOUBLE / n_bpe, 4) AS chars_per_bpe
      |FROM t ORDER BY doc_id""".stripMargin

  /** q62 — deterministic hash sampling: the reproducible train-subset
    * selector every data pipeline needs — `sample()` draws differ per
    * partitioning/run, but a digest-mod predicate picks the SAME ~10%
    * on any engine, any cluster, any day. Pure map-side filter that
    * pushes to the scan's codegen stage; stratification = add the mod
    * key to a groupBy.
    */
  private val q62: Q = (s, dir) =>
    Tables.documents(s, dir)
      .filter(expr("conv(substring(md5(cast(doc_id AS string)), 1, 4), 16, 10) % 10 = 0"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  private val q62Sql =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 4)) AS INTEGER) % 10 = 0
      |ORDER BY doc_id""".stripMargin

  /** q153 — length-filter plan: per language, the exact p05/p95 document-
    * length cutoffs (`percentile_disc` — observed values, q95's proven
    * cross-engine twin of `quantile_disc`) and how many documents each
    * tail cut would drop. This is the plan a corpus cleaning pass
    * executes before the quality gates: too-short docs are fragments,
    * too-long ones are concatenation artifacts, and the cutoffs must be
    * PER LANGUAGE because length distributions differ by script.
    *
    * Scale shape: one exact per-lang percentile aggregate (exact is the
    * spec here because the cutoff must be an observed length; the
    * `approx_percentile` sketch family — q59/q64 — is the 100 TB
    * fallback when exactness is negotiable), then the |langs|-row cutoff
    * relation broadcasts back onto the corpus for one counting pass.
    */
  private val q153: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select("lang", "n_chars")
    val cuts = docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      expr("CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)")
        .as("p05"),
      expr("CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)")
        .as("p95"))
    docs.join(broadcast(cuts), "lang")
      .groupBy("lang", "n_docs", "p05", "p95")
      .agg(sum(when(col("n_chars") < col("p05"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("n_chars") > col("p95"), 1L).otherwise(0L)).as("n_above"))
      .orderBy("lang")
  }

  private val q153Sql =
    """WITH cuts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(quantile_disc(n_chars, 0.05) AS BIGINT) AS p05,
      |    CAST(quantile_disc(n_chars, 0.95) AS BIGINT) AS p95
      |  FROM documents GROUP BY 1)
      |SELECT d.lang, c.n_docs, c.p05, c.p95,
      |  CAST(sum(CASE WHEN d.n_chars < c.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
      |  CAST(sum(CASE WHEN d.n_chars > c.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
      |FROM documents d JOIN cuts c USING (lang)
      |GROUP BY 1, 2, 3, 4 ORDER BY lang""".stripMargin

  /** q154 — train/val/test split manifest: the 98/1/1 holdout assignment
    * every training corpus ships with, derived from the same digest-mod
    * discipline as q62 so the split is STABLE — a document's assignment
    * depends only on its id, never on corpus size, ordering, or
    * partitioning, so val/test stay clean across incremental re-ingests
    * (rank- or position-based splits silently reshuffle the holdout as
    * the corpus grows). Pure map-side assignment + one small aggregate;
    * the per-(lang, split) exact counts are the audit that the holdout
    * rate landed near target in every language.
    */
  private val q154: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(cast(doc_id AS string)), 1, 4), 16, 10) AS INT) % 100"))
      .withColumn("split",
        when(col("bucket") < 98, "train")
          .when(col("bucket") === 98, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("lang", "split")

  private val q154Sql =
    """WITH b AS (SELECT lang, n_chars,
      |    CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 4)) AS INTEGER) % 100
      |      AS bucket
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN bucket < 98 THEN 'train' WHEN bucket = 98 THEN 'val'
      |       ELSE 'test' END AS split,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** q163 — quality-vs-token-budget selection curve: the whole corpus
    * ranked by the q54 quality blend (q138's zero-window GlobalRank) and
    * cut into 10 quality deciles; per decile, the document count, the
    * decile's token mass, and the CUMULATIVE token mass and share — i.e.
    * "keep only the top k/10 of the corpus by quality and this many
    * training tokens survive". This is the curve that decides where the
    * quality threshold sits when the token budget is fixed (the
    * data-constrained regime q157 plans repetition for): filter too hard
    * and epochs multiply, too soft and quality drops.
    *
    * Scale shape: one corpus pass for the blend, the zero-window global
    * rank, one bounded 10-row aggregate (persisted — three consumers),
    * then a 10×10 triangle join for the running sum (bounded relation —
    * a BroadcastNestedLoopJoin over ≤ 10 rows, the documented scalar
    * exemption class, NOT a window over the corpus) and a 1-row totals
    * broadcast. Token masses are exact BIGINT; the share is one IEEE
    * divide.
    */
  private val q163: Q = (s, dir) => {
    val q = qualityScored(s, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    val ranked = GlobalRank.rowNumber(q, "cur_rank",
      Seq(col("quality").desc, col("doc_id")))
    // corpus count = max rank from GlobalRank's internal cache (q138's
    // rationale: a count(*) on q would re-run the quality-blend scan)
    val n = ranked.agg(max("cur_rank").as("n_docs_total"))
    val dec = graft.util.QueryCaches.tracked(
      ranked
        .crossJoin(broadcast(n)) // scalar broadcast: 1-row corpus count
        .select((expr("((cur_rank - 1) * 10) div n_docs_total").cast("int") + 1)
          .as("decile"), col("n_tokens"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("decile_tokens")))
    val tot = dec.agg(sum("decile_tokens").as("tot_tokens"))
    dec.as("a").join(dec.as("b"), col("b.decile") <= col("a.decile"))
      .select(col("a.decile").as("decile"), col("a.n_docs").as("n_docs"),
        col("a.decile_tokens").as("decile_tokens"),
        col("b.decile_tokens").as("bt"))
      .groupBy("decile", "n_docs", "decile_tokens")
      .agg(sum("bt").as("cum_tokens"))
      .crossJoin(broadcast(tot)) // scalar broadcast: 1-row token total
      .select(col("decile"), col("n_docs"), col("decile_tokens"),
        col("cum_tokens"),
        (col("cum_tokens").cast("double") / col("tot_tokens").cast("double"))
          .as("cum_share"))
      .orderBy("decile")
  }

  private val q163Sql =
    s"""WITH ${qualityMeasuresCte()},
       |q AS (SELECT doc_id, $qualityBlendSql AS quality, n_tokens FROM m),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM q),
       |r AS (SELECT n_tokens, CAST(row_number() OVER (
       |    ORDER BY quality DESC, doc_id) AS BIGINT) AS cur_rank FROM q),
       |dd AS (SELECT CAST(((cur_rank - 1) * 10) // n_docs_total AS INTEGER) + 1
       |    AS decile, n_tokens FROM r CROSS JOIN n),
       |dec AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS decile_tokens
       |  FROM dd GROUP BY 1),
       |tot AS (SELECT CAST(sum(decile_tokens) AS BIGINT) AS tot_tokens FROM dec)
       |SELECT a.decile, a.n_docs, a.decile_tokens,
       |  CAST(sum(b.decile_tokens) AS BIGINT) AS cum_tokens,
       |  CAST(CAST(sum(b.decile_tokens) AS BIGINT) AS DOUBLE)
       |    / CAST(tot_tokens AS DOUBLE) AS cum_share
       |FROM dec a JOIN dec b ON b.decile <= a.decile CROSS JOIN tot
       |GROUP BY 1, 2, 3, tot_tokens ORDER BY a.decile""".stripMargin

  /** q171 — exact corpus heavy hitters via a Misra–Gries candidate pass:
    * every token whose frequency exceeds n/100, found WITHOUT a
    * full-vocabulary aggregate. The exact route shuffles one row per
    * distinct token — at web scale that is billions of singleton keys
    * shuffled only to be discarded by the threshold filter. Here one
    * bounded-state sketch pass ([[graft.functions.MisraGries]], ≤ 99
    * counters per partial, O(partitions·k) shuffle volume, candidate set
    * PROVABLY a superset of the true heavy hitters) produces ≤ 99
    * candidates, and a second pass counts ONLY those — a broadcast
    * semi-join + a ≤ 99-group aggregate, both trivially cheap. The
    * output is EXACT (the sketch prunes, the verification decides), so
    * the full-aggregate DuckDB oracle must match it row for row; the
    * threshold is tested in exact integers (`cnt·100 > n`).
    */
  private val q171: Q = (s, dir) => {
    val tok = graft.util.QueryCaches.tracked(
      Tables.spread(Tables.documents(s, dir))
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0))
    val mg = udaf(new graft.functions.MisraGries(100))
    val cand = tok.agg(mg(col("token")).as("sketch"))
      .select(explode(map_keys(col("sketch"))).as("token"))
    val tot = tok.agg(count(lit(1)).as("n"))
    tok.join(broadcast(cand), "token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * 100 > col("n"))
      .select(col("token"), col("cnt"), col("n").as("n_total"))
      .orderBy(desc("cnt"), col("token"))
  }

  private val q171Sql =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |t2 AS (SELECT token FROM tok WHERE len(token) > 0),
      |tot AS (SELECT count(*) AS n FROM t2),
      |c AS (SELECT token, count(*) AS cnt FROM t2 GROUP BY 1)
      |SELECT c.token, CAST(c.cnt AS BIGINT) AS cnt,
      |  CAST(tot.n AS BIGINT) AS n_total
      |FROM c, tot WHERE c.cnt * 100 > tot.n
      |ORDER BY cnt DESC, token""".stripMargin

  /** q172 — vocabulary-growth (Heaps-law) curve over word TRIGRAMS: per
    * corpus decile in ingest order, how many distinct trigrams appear
    * for the FIRST time, and the cumulative trigram-vocabulary size.
    * A flattening curve says the crawl is recycling phrasing (mirrors,
    * templates — the q149 novelty signal at corpus granularity); a
    * still-steep tail says more data still buys coverage — the cheap
    * look-before-you-crawl number, and the curve a tokenizer-training
    * budget reads. Trigrams, not unigrams: a closed unigram vocabulary
    * saturates in the first decile of any corpus and measures nothing.
    *
    * Scale shape: first-seen is ONE gram-stream reduce (min doc_id per
    * trigram — the q149 kernel); deciles come from the zero-window
    * [[GlobalRank.rowNumber]] (q163's discipline, corpus count read back
    * from the rank cache); the cumulative sum is the bounded 10×10
    * triangle join, never a global running window.
    */
  private val q172: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("text"))
    val ranked = GlobalRank.rowNumber(docs.select(col("doc_id")), "rk",
      Seq(col("doc_id")))
    val n = ranked.agg(max("rk").as("n_docs_total"))
    val dd = graft.util.QueryCaches.tracked(
      ranked.crossJoin(broadcast(n)) // scalar broadcast: 1-row count
        .select(col("doc_id"),
          (expr("((rk - 1) * 10) div n_docs_total").cast("int") + 1)
            .as("decile")))
    val fs = docs
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(TextDedup.shinglesExpr(3))).as("g"))
      .groupBy("g").agg(min("doc_id").as("doc_id"))
    val nv = graft.util.QueryCaches.tracked(
      fs.join(dd, "doc_id")
        .groupBy("decile").agg(count(lit(1)).as("n_new")))
    nv.as("a").join(nv.as("b"), col("b.decile") <= col("a.decile"))
      .select(col("a.decile").as("decile"), col("a.n_new").as("n_new"),
        col("b.n_new").as("bn"))
      .groupBy("decile", "n_new").agg(sum("bn").as("vocab_cum"))
      .orderBy("decile")
  }

  private val q172Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(CASE WHEN len(words) < 3 THEN [] ELSE
      |    list_transform(generate_series(1, len(words)-2), i ->
      |      words[i] || ' ' || words[i+1] || ' ' || words[i+2]) END) AS g
      |  FROM w),
      |fs AS (SELECT g, min(doc_id) AS doc_id FROM tok GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM documents),
      |r AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
      |    AS rk FROM documents),
      |dd AS (SELECT doc_id,
      |    CAST(((rk - 1) * 10) // n_docs_total AS INTEGER) + 1 AS decile
      |  FROM r CROSS JOIN n),
      |nv AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_new
      |  FROM fs JOIN dd USING (doc_id) GROUP BY 1)
      |SELECT a.decile, a.n_new, CAST(sum(b.n_new) AS BIGINT) AS vocab_cum
      |FROM nv a JOIN nv b ON b.decile <= a.decile
      |GROUP BY 1, 2 ORDER BY a.decile""".stripMargin

  /** q183 — filter-funnel audit: the corpus partitioned by every
    * combination of the three standard admission gates — length
    * (n_chars ≥ 150), quality (q54's blend ≥ 0.5 with ≥ 5 tokens), and
    * exact-uniqueness (the doc is the min-doc_id canonical of its md5
    * digest group, q40's rule) — with document count, token mass, and
    * token share per cell. This is the table a pipeline owner reads
    * before turning filters on: how much mass each gate (and each gate
    * interaction) would remove. Scale shape: the quality and length
    * flags are map-side over the scan (one codegen stage); uniqueness is
    * one digest-keyed partial+final groupBy plus a digest equi-join back
    * (the q40 dedup shape — two shuffles on an unbounded key, linear);
    * the funnel itself is a ≤8-row aggregate with the 1-row token total
    * broadcast for the share.
    */
  private val q183: Q = (s, dir) => {
    val canon = Tables.spread(Tables.documents(s, dir))
      .groupBy(md5(col("text")).as("digest"))
      .agg(min("doc_id").as("canon_id"))
    val flags = qualityScored(s, dir)
      .withColumn("digest", md5(col("text")))
      .join(canon, "digest")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        (col("n_chars") >= 150).as("len_ok"),
        (col("quality") >= 0.5 && col("n_tokens") >= 5).as("qual_ok"),
        (col("doc_id") === col("canon_id")).as("uniq_ok"))
    val tot = flags.agg(sum("n_tokens").as("tot_tokens"))
    flags.groupBy("len_ok", "qual_ok", "uniq_ok")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("len_ok"), col("qual_ok"), col("uniq_ok"), col("n_docs"),
        col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens"), 6)
          .as("token_share"))
      .orderBy("len_ok", "qual_ok", "uniq_ok")
  }

  private val q183Sql =
    s"""WITH ${qualityMeasuresCte()},
       |can AS (SELECT md5(text) AS digest, min(doc_id) AS canon_id
       |  FROM documents GROUP BY 1),
       |f AS (SELECT m.doc_id, m.n_tokens,
       |    d.n_chars >= 150 AS len_ok,
       |    ($qualityBlendSql >= 0.5 AND n_tokens >= 5) AS qual_ok,
       |    m.doc_id = can.canon_id AS uniq_ok
       |  FROM m JOIN documents d ON d.doc_id = m.doc_id
       |  JOIN can ON md5(d.text) = can.digest),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM f)
       |SELECT len_ok, qual_ok, uniq_ok,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  round(CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE) / tot.tot_tokens, 6)
       |    AS token_share
       |FROM f CROSS JOIN tot
       |GROUP BY len_ok, qual_ok, uniq_ok, tot.tot_tokens
       |ORDER BY len_ok, qual_ok, uniq_ok""".stripMargin

  /** q190 — tokenizer-fertility audit: per language, exact corpus totals
    * of BPE-ish tokens (q55's pretoken regex), whitespace words, and
    * characters, with the two ratios tokenizer work cares about —
    * fertility (tokens per word) and chars per token. Fertility decides
    * real training cost per language (a 2× fertility language pays 2×
    * the sequence length for the same text) and flags scripts the
    * pretokenizer mishandles. Pure map-side regex counts into one
    * partial+final |langs|-row aggregate; ratios derived from exact
    * BIGINT sums with one identical IEEE division per engine.
    */
  private val q190: Q = (s, dir) =>
    Tables.spread(Tables.documents(s, dir))
      .select(col("lang"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_bpe"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        col("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("n_bpe"),
        sum("n_words").as("n_words"), sum("n_chars").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_bpe"), col("n_words"),
        col("n_chars"),
        (col("n_bpe").cast("double") / col("n_words")).as("fertility"),
        (col("n_chars").cast("double") / col("n_bpe")).as("chars_per_token"))
      .orderBy("lang")

  private val q190Sql =
    """WITH t AS (SELECT lang,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
      |    AS n_bpe,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  n_chars
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
      |  CAST(sum(n_words) AS BIGINT) AS n_words,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(CAST(sum(n_bpe) AS BIGINT) AS DOUBLE)
      |    / CAST(sum(n_words) AS BIGINT) AS fertility,
      |  CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)
      |    / CAST(sum(n_bpe) AS BIGINT) AS chars_per_token
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** q213 — per-source lexical diversity: type count, token count,
    * type-token ratio, Simpson concentration D = Σn(n−1) / N(N−1), and
    * the inverse-Simpson "effective vocabulary size" — the
    * diversity-vs-boilerplate profile a mixture designer reads next to
    * q99's entropy and q180's KL when weighting sources (a source whose
    * effective vocabulary collapses is template spam regardless of raw
    * size). All concentration mass is exact BIGINT arithmetic: the
    * per-type repeat-pair count n(n−1) under the
    * [[graft.util.MomentGuard.productGuardSpark]] per-term certificate
    * and the n·max sum certificate (a token hot enough to wrap 2⁶³
    * raises identically on both engines); D and its inverse are single
    * same-order IEEE derivations at the very end. Scale shape: one
    * token explode → (source, token) partial+final count, then a
    * |sources|-row rollup — the same two-shuffle profile as q99.
    */
  private val q213: Q = (s, dir) => {
    import graft.util.MomentGuard
    Tables.spread(Tables.documents(s, dir))
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      .withColumn("t2",
        expr(MomentGuard.productGuardSpark("n", "n - 1", "q213")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum("n").as("n_tokens"),
        sum("t2").as("s2"), max("t2").as("m2"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        expr(MomentGuard.sumGuardSpark("s2", "n_types", "m2", "q213"))
          .as("rep_pairs"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        col("rep_pairs"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        when(col("n_tokens") < 2, 0.0)
          .otherwise(col("rep_pairs").cast("double") /
            (col("n_tokens").cast("double") *
              (col("n_tokens") - 1).cast("double"))).as("simpson_d"),
        when(col("rep_pairs") === 0, 0.0)
          .otherwise((col("n_tokens").cast("double") *
            (col("n_tokens") - 1).cast("double")) /
            col("rep_pairs").cast("double")).as("inv_simpson"))
      .orderBy("source")
  }

  private val q213Sql: String = {
    import graft.util.MomentGuard
    s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |tf AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
       |  FROM tok WHERE length(tok) > 0 GROUP BY 1, 2),
       |t2 AS (SELECT source, n,
       |    ${MomentGuard.productGuardDuck("n", "n - 1", "q213")} AS t2
       |  FROM tf),
       |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(n) AS BIGINT) AS n_tokens,
       |    CAST(sum(t2) AS BIGINT) AS s2, CAST(max(t2) AS BIGINT) AS m2
       |  FROM t2 GROUP BY 1),
       |g AS (SELECT source, n_types, n_tokens,
       |    ${MomentGuard.sumGuardDuck("s2", "n_types", "m2", "q213")}
       |      AS rep_pairs
       |  FROM m)
       |SELECT source, n_types, n_tokens, rep_pairs,
       |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
       |  CASE WHEN n_tokens < 2 THEN 0.0
       |    ELSE CAST(rep_pairs AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
       |      * CAST(n_tokens - 1 AS DOUBLE)) END AS simpson_d,
       |  CASE WHEN rep_pairs = 0 THEN 0.0
       |    ELSE (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))
       |      / CAST(rep_pairs AS DOUBLE) END AS inv_simpson
       |FROM g ORDER BY source""".stripMargin
  }

  /** q234 — token burstiness: the variance-to-mean ratio of each
    * token's per-document count over ALL documents (zeros included) —
    * the corpus-linguistics separator of bursty content words (a token
    * that appears 10× in few docs) from evenly-spread function words at
    * the same total frequency, and hence a cheap topicality signal for
    * keyword extraction and stopword induction that raw frequency
    * (q171) and entropy (q99) both miss. Zero-docs never materialize:
    * with N docs, VMR = (N·Σc² − (Σc)²)/(N·Σc) needs only the nonzero
    * (token, doc) counts — exact BIGINT moments under the
    * [[graft.util.MomentGuard]] product + n·max certificates, the 1-row
    * doc count broadcast, one IEEE derivation, and a TakeOrdered top-20
    * (never a ranking window).
    */
  private val q234: Q = (s, dir) => {
    import graft.util.MomentGuard
    val tf = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
    val nd = Tables.spread(Tables.documents(s, dir))
      .agg(count(lit(1)).as("nd"))
    tf.withColumn("c2", expr(MomentGuard.productGuardSpark("c", "c", "q234")))
      .groupBy("token")
      .agg(count(lit(1)).as("df"), sum("c").as("s1"), sum("c2").as("s2m"),
        max("c2").as("m2"))
      .select(col("token"), col("df"), col("s1"),
        expr(MomentGuard.sumGuardSpark("s2m", "df", "m2", "q234")).as("s2"))
      .crossJoin(broadcast(nd))
      .select(col("token"), col("df"), col("s1").as("total_tf"),
        expr("""CASE WHEN s1 = 0 THEN 0D ELSE
          |(CAST(nd AS DOUBLE) * CAST(s2 AS DOUBLE)
          | - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          | / (CAST(nd AS DOUBLE) * CAST(s1 AS DOUBLE)) END"""
          .stripMargin).as("vmr"))
      .orderBy(col("vmr").desc, col("token")).limit(20)
  }

  private val q234Sql: String = {
    import graft.util.MomentGuard
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' '))
       |    AS token FROM documents),
       |tf AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM tok WHERE length(token) > 0 GROUP BY 1, 2),
       |t2 AS (SELECT token, c,
       |    ${MomentGuard.productGuardDuck("c", "c", "q234")} AS c2
       |  FROM tf),
       |m0 AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
       |    CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c2) AS BIGINT) AS s2m,
       |    CAST(max(c2) AS BIGINT) AS m2 FROM t2 GROUP BY 1),
       |m AS (SELECT token, df, s1,
       |    ${MomentGuard.sumGuardDuck("s2m", "df", "m2", "q234")} AS s2
       |  FROM m0),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
       |SELECT token, df, s1 AS total_tf,
       |  CASE WHEN s1 = 0 THEN 0.0 ELSE
       |(CAST(nd AS DOUBLE) * CAST(s2 AS DOUBLE)
       | - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
       | / (CAST(nd AS DOUBLE) * CAST(s1 AS DOUBLE)) END AS vmr
       |FROM m CROSS JOIN nd ORDER BY vmr DESC, token LIMIT 20"""
      .stripMargin
  }

  /** q244 — negative-sampling table: the unigram^0.75 sampling
    * distribution (word2vec's smoothing) materialized as contiguous
    * integer ranges, so a trainer draws a token by binary-searching a
    * uniform integer — the classic alias-free sampling layout. The
    * 3/4 power is computed as sqrt(c·sqrt(c)): `sqrt` is
    * IEEE-correctly-rounded on BOTH engines (a libm `pow(x, 0.75)`
    * is not, and a floor boundary would split the hash), then floored
    * to an exact 1e6-scaled BIGINT weight. Range starts are the
    * zero-window [[GlobalRank.prefixSum]] over the token total order;
    * the report is the top-20 heaviest ranges with their exact
    * boundaries and the total mass. One explode-count, one ranked
    * pass, a TakeOrdered.
    */
  private val q244: Q = (s, dir) => {
    val freq = Tables.spread(Tables.documents(s, dir))
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("c"))
      .withColumn("w", expr(
        "CAST(floor(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE)))" +
          " * 1e6) AS BIGINT)"))
    val ranged = GlobalRank.prefixSum(freq, "range_start", col("w"),
        Seq(col("token")))
      .withColumn("range_end", col("range_start") + col("w"))
    ranged
      .crossJoin(broadcast(ranged.agg(sum("w").as("total_mass"))))
      .orderBy(col("w").desc, col("token")).limit(20)
      .select(col("token"), col("c"), col("w"), col("range_start"),
        col("range_end"), col("total_mass"),
        (col("w").cast("double") / col("total_mass").cast("double"))
          .as("sample_prob"))
  }

  private val q244Sql =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok
      |  WHERE length(token) > 0 GROUP BY 1),
      |w AS (SELECT token, c,
      |    CAST(floor(sqrt(CAST(c AS DOUBLE) * sqrt(CAST(c AS DOUBLE)))
      |      * 1e6) AS BIGINT) AS w FROM freq),
      |r AS (SELECT token, c, w,
      |    CAST(coalesce(sum(w) OVER (ORDER BY token ROWS BETWEEN
      |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS range_start FROM w),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS total_mass FROM w)
      |SELECT token, c, w, range_start,
      |  CAST(range_start + w AS BIGINT) AS range_end, tot.total_mass,
      |  CAST(w AS DOUBLE) / CAST(tot.total_mass AS DOUBLE)
      |    AS sample_prob
      |FROM r CROSS JOIN tot ORDER BY w DESC, token LIMIT 20"""
      .stripMargin

  /** q247 — language-ID confidence calibration: the margin (top score −
    * runner-up score) of q48's argmax classifier, bucketed, with
    * per-margin accuracy — the calibration curve that turns a
    * classifier into a ROUTING POLICY (accept when margin ≥ m, route to
    * the expensive model below m). Shares q48/q206's scoring kernel so
    * the three views cannot drift; the margin is exact integer
    * arithmetic over the sorted 5-score vector, and the fold is a
    * ≤|distinct margins|-row partial+final count.
    */
  private val q247: Q = (s, dir) => {
    val arr = s"array(${langs.map(l => s"s_$l").mkString(", ")})"
    langScoresPred(s, dir)
      .withColumn("sorted", expr(s"sort_array($arr, false)"))
      .select((col("pred_lang") === col("lang")).as("is_correct"),
        (expr("element_at(sorted, 1)") - expr("element_at(sorted, 2)"))
          .cast("long").as("margin"))
      .groupBy("margin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_correct"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("margin"), col("n_docs"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_docs").cast("double"))
          .as("accuracy"))
      .orderBy("margin")
  }

  private val q247Sql = {
    val arr = s"[${langs.map(l => s"s_$l").mkString(", ")}]"
    s"""WITH w AS (SELECT *, string_split(text, ' ') AS words
       |  FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  $langScoreColsSql
       |FROM w),
       |m AS (SELECT (CASE $langPredCaseSql END) = lang AS is_correct,
       |    CAST(list_sort($arr)[${langs.size}]
       |      - list_sort($arr)[${langs.size - 1}] AS BIGINT) AS margin
       |  FROM sc)
       |SELECT margin, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN is_correct THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST(sum(CASE WHEN is_correct THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS accuracy
       |FROM m GROUP BY margin ORDER BY margin""".stripMargin
  }

  /** q252 — intra-document repetition filter (the Gopher-style
    * duplicate-n-gram signal): per document, the fraction of 3-gram
    * INSTANCES whose gram occurs more than once within that same
    * document — boilerplate, template spam, and degenerate generation
    * score high; clean prose scores low. Documents under 3 words have
    * no grams and score a defined 0 (kept). The keep flag applies the
    * standard ≤ 0.2 bar.
    *
    * Scale shape: one explode → (doc_id, gram) groupBy (partial+final
    * on an unbounded composite key — the q43 shingle discipline) → a
    * per-doc rollup; counts are exact BIGINTs and the fraction is one
    * guarded IEEE divide per document. No windows, no pair joins:
    * intra-doc repetition is embarrassingly parallel at any corpus
    * size.
    */
  private val q252: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
    val per = docs
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(TextDedup.shinglesExpr(3))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_grams"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("n_rep"))
    docs.select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_rep"), lit(0L)).as("n_rep"))
      .withColumn("rep_frac", expr(
        """CASE WHEN n_grams = 0 THEN CAST(0 AS DOUBLE)
          |ELSE round(CAST(n_rep AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
          |END""".stripMargin))
      .withColumn("keep", col("rep_frac") <= 0.2)
      .orderBy("doc_id")
  }

  private val q252Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(CASE WHEN len(words) < 3 THEN [] ELSE
      |    list_transform(generate_series(1, len(words)-2), i ->
      |      words[i] || ' ' || words[i+1] || ' ' || words[i+2]) END) AS g
      |  FROM w),
      |gc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM tok
      |  GROUP BY 1, 2),
      |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_rep
      |  FROM gc GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(per.n_grams, 0) AS n_grams,
      |  coalesce(per.n_rep, 0) AS n_rep,
      |  CASE WHEN coalesce(per.n_grams, 0) = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE round(CAST(per.n_rep AS DOUBLE) / CAST(per.n_grams AS DOUBLE), 6)
      |  END AS rep_frac,
      |  CASE WHEN coalesce(per.n_grams, 0) = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE round(CAST(per.n_rep AS DOUBLE) / CAST(per.n_grams AS DOUBLE), 6)
      |  END <= 0.2 AS keep
      |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q253 — corpus bigram predictability: H(next token) and
    * H(next | current) over within-document adjacent token pairs, plus
    * the information gain between them — the token-level twin of q248's
    * event-transition gain and the corpus-health probe q195's Zipf fit
    * cannot see (a corpus can be perfectly Zipfian yet templated:
    * near-zero conditional entropy means the next token is rote).
    * Both entropies derive from the SAME exact bigram counts through the
    * quantized-log discipline — every term `round(n·log2(ratio)·1e6)::
    * BIGINT` before any cross-row sum — so the bits are
    * shuffle-order-independent; the marginals are |vocab|-row rollups of
    * the pair relation and the final three bits-values are same-order
    * IEEE derivations over exact sums.
    */
  private val q253: Q = (s, dir) => {
    val t = Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(words) - 1),
          |  i -> struct(words[i - 1] AS a, words[i] AS b))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .transform(graft.util.QueryCaches.tracked)
    val na = t.groupBy("a").agg(sum("n_ab").as("n_a"))
    val nb = t.groupBy("b").agg(sum("n_ab").as("n_b"))
    val n = t.agg(sum("n_ab").as("n"))
    val cond = t.join(na, "a")
      .select(expr("CAST(round(CAST(n_ab AS DOUBLE)" +
        " * log2(CAST(n_a AS DOUBLE) / CAST(n_ab AS DOUBLE)) * 1e6)" +
        " AS BIGINT)").as("tq"))
      .agg(sum("tq").as("condq"))
    val marg = nb.crossJoin(broadcast(n))
      .select(expr("CAST(round(CAST(n_b AS DOUBLE)" +
        " * log2(CAST(n AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e6)" +
        " AS BIGINT)").as("mq"))
      .agg(sum("mq").as("margq"))
    n.crossJoin(broadcast(cond)).crossJoin(broadcast(marg))
      .select(col("n").as("n_bigrams"),
        (col("margq").cast("double") / 1e6 / col("n").cast("double"))
          .as("h_next_bits"),
        (col("condq").cast("double") / 1e6 / col("n").cast("double"))
          .as("h_cond_bits"),
        ((col("margq") - col("condq")).cast("double") / 1e6 /
          col("n").cast("double")).as("info_gain_bits"))
  }

  private val q253Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents),
      |pr AS (SELECT unnest(list_transform(generate_series(1, len(words) - 1),
      |      i -> {'a': words[i], 'b': words[i + 1]})) AS p
      |  FROM w WHERE len(words) >= 2),
      |t AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS n_ab
      |  FROM pr GROUP BY 1, 2),
      |na AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM t GROUP BY 1),
      |nb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM t GROUP BY 1),
      |nn AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM t),
      |cond AS (SELECT CAST(sum(CAST(round(CAST(n_ab AS DOUBLE)
      |   * log2(CAST(n_a AS DOUBLE) / CAST(n_ab AS DOUBLE)) * 1e6)
      |   AS BIGINT)) AS BIGINT) AS condq
      |  FROM t JOIN na USING (a)),
      |marg AS (SELECT CAST(sum(CAST(round(CAST(n_b AS DOUBLE)
      |   * log2(CAST(nn.n AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e6)
      |   AS BIGINT)) AS BIGINT) AS margq
      |  FROM nb CROSS JOIN nn)
      |SELECT nn.n AS n_bigrams,
      |  CAST(marg.margq AS DOUBLE) / 1e6 / CAST(nn.n AS DOUBLE)
      |    AS h_next_bits,
      |  CAST(cond.condq AS DOUBLE) / 1e6 / CAST(nn.n AS DOUBLE)
      |    AS h_cond_bits,
      |  CAST(marg.margq - cond.condq AS DOUBLE) / 1e6 / CAST(nn.n AS DOUBLE)
      |    AS info_gain_bits
      |FROM nn CROSS JOIN cond CROSS JOIN marg""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q252_repetition_filter", q252, q252Sql),
    Query("q253_bigram_entropy", q253, q253Sql),
    Query("q247_langid_margin", q247, q247Sql),
    Query("q244_negative_sampling", q244, q244Sql),
    Query("q234_token_burstiness", q234, q234Sql),
    Query("q213_simpson_diversity", q213, q213Sql),
    Query("q183_filter_funnel", q183, q183Sql),
    Query("q190_token_fertility", q190, q190Sql),
    Query("q206_lang_confusion", q206, q206Sql),
    Query("q171_heavy_hitters", q171, q171Sql),
    Query("q172_vocab_growth", q172, q172Sql),
    Query("q47_textstats", q47, q47Sql),
    Query("q48_langid", q48, q48Sql),
    Query("q49_fingerprint", q49, q49Sql),
    Query("q54_quality_filter", q54, q54Sql),
    Query("q55_token_count", q55, q55Sql),
    Query("q62_det_sample", q62, q62Sql),
    Query("q138_curriculum_order", q138, q138Sql),
    Query("q153_length_filter", q153, q153Sql),
    Query("q154_split_manifest", q154, q154Sql),
    Query("q163_quality_token_curve", q163, q163Sql)
  )
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.source.Tables
import graft.Query

/** Corpus-level LLM-pipeline analytics — the operators a pre-training
  * data pipeline runs between raw ingest and shard writing: retrieval
  * weighting (TF-IDF q70, BM25 q75), gap sessionization (q71, the
  * window-function twin of q33's `session_window`), duplicate resolution
  * (keep-best q72, incremental anti-join q87), embedding storage audit
  * (int8 quantization q74), sampling (stratified q76, per-row weighted
  * q92), sketch accuracy (MinHash estimate vs exact q78), contamination
  * detection (q79), source reputation (q83), equi-depth bucketing (q88),
  * and sequence packing (q91).
  *
  * Determinism rules (cross-engine hash-match): all money/size reductions
  * on exact integers; float derivations either bit-identical (same IEEE
  * op sequence on both engines) or integer-quantized BEFORE any
  * accumulation whose order differs between engines.
  */
object Corpus {

  private type Q = (SparkSession, String) => DataFrame

  /** q70 — TF-IDF: per-(doc, term) frequency, per-term document frequency,
    * and the smoothed idf product. Two aggregations + one equi-join on
    * `term`: tf is persisted because both the df aggregate and the final
    * join consume it (one scan, not two). The term join is deliberately
    * NOT broadcast-hinted — natural-language vocabulary is unbounded at
    * 100 TB, so the shuffle-on-term hash join (AQE may still broadcast a
    * small vocab at runtime) is the plan that survives scale-up; only the
    * 1-row corpus count is broadcast.
    */
  private val q70: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(graft.util.QueryCaches.tracked)
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.filter(col("tf") >= 3)
      .join(dfRel, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df_docs"),
        round(col("tf").cast("double") *
          log((col("n_docs") + 1).cast("double") / (col("df_docs") + 1)), 4)
          .as("tfidf"))
      // cached so the sort's range sampling reads the small scored
      // relation instead of re-running the joins
      .transform(graft.util.QueryCaches.tracked)
      .orderBy("doc_id", "term")
  }

  private val q70Sql =
    """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
      |           FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
      |  CAST(df.df_docs AS BIGINT) AS df_docs,
      |  round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df_docs + 1)), 4)
      |    AS tfidf
      |FROM tf JOIN df USING (term), n
      |WHERE tf.tf >= 3
      |ORDER BY doc_id, term""".stripMargin

  /** q71 — gap sessionization, gaps-and-islands form: lag to flag session
    * breaks (>= 45 min), running sum to number sessions, then a grouped
    * aggregate. One shuffle on `user_id`; the two windows and the final
    * aggregate all reuse that clustering. This is the batch-analytics
    * formulation; q33 is the same semantics through the
    * streaming-compatible `session_window` operator. All outputs exact
    * integers (event counts, cents, epoch-µs spans).
    */
  private val q71: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 45L * 60 * 1000000
    Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_s",
        when(lag("us", 1).over(w).isNull ||
          col("us") - lag("us", 1).over(w) >= gapUs, 1).otherwise(0))
      .withColumn("sid", sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"),
        (max("us") - min("us")).as("duration_us"))
      .orderBy("user_id", "sid")
  }

  private val q71Sql =
    """WITH o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(floor(value*100) AS BIGINT) AS cents,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 45 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |      FROM o)
      |SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
      |FROM s GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin

  /** q173 — session-sequence materialization: each gap session (q71's
    * 45-minute sessionization) rendered as an ORDERED event-type
    * sequence, truncated to its first 20 steps — the
    * behavioral-training-example extraction step (next-action modeling,
    * session embedding) that turns an event log into model inputs.
    *
    * Determinism is the whole trick: `collect_list` alone has no order
    * contract (partials arrive in shuffle order), so the sequence is
    * assembled as `sort_array(collect_list(struct(us, event_id, type)))`
    * — the struct's (us, event_id) prefix is a total order, making the
    * sorted array, the truncation, and the joined string bit-identical
    * to DuckDB's `ORDER BY`-qualified `list()`. Scale: one shuffle on
    * user_id that the session windows and the aggregate all reuse;
    * per-group state is the session's events, bounded by the cap after
    * truncation (a runaway bot session costs its raw events once,
    * map-side).
    */
  private val q173: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 45L * 60 * 1000000
    Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_s",
        when(lag("us", 1).over(w).isNull ||
          col("us") - lag("us", 1).over(w) >= gapUs, 1).otherwise(0))
      .withColumn("sid", sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        expr("""array_join(
                |  slice(transform(
                |    sort_array(collect_list(struct(us, event_id, event_type))),
                |    x -> x.event_type), 1, 20), '>')""".stripMargin).as("seq"))
      .withColumn("truncated", col("n_events") > 20)
      .orderBy("user_id", "sid")
  }

  private val q173Sql =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 45 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |      FROM o)
      |SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
      |  array_to_string(list_slice(
      |    list(event_type ORDER BY us, event_id), 1, 20), '>') AS seq,
      |  count(*) > 20 AS truncated
      |FROM s GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin

  /** q72 — keep-best duplicate resolution: for each exact-duplicate group
    * (md5 digest), keep the doc with the most characters, ties to the
    * lowest doc_id — `max_by` over a (n_chars, -doc_id) struct. One
    * partial+final aggregate carrying one struct per group per partition;
    * the window alternative (row_number over digest) would sort every
    * group's rows. This is the selection step that follows q40's exact
    * dedup: q40 finds the groups, q72 decides which row survives.
    */
  private val q72: Q = (s, dir) =>
    Tables.spread(Tables.documents(s, dir))
      .withColumn("digest", md5(col("text")))
      .groupBy("digest")
      .agg(
        max_by(col("doc_id"),
          struct(col("n_chars"), (col("doc_id") * -1).as("nk"))).as("keep_doc"),
        count(lit(1)).as("n_dups"),
        max("n_chars").as("best_chars"))
      .orderBy("digest")

  private val q72Sql =
    """WITH d AS (SELECT md5(text) AS digest, doc_id, n_chars FROM documents),
      |c AS (SELECT digest, CAST(count(*) AS BIGINT) AS n_dups,
      |             max(n_chars) AS best_chars
      |      FROM d GROUP BY 1)
      |SELECT c.digest, CAST(min(d.doc_id) AS BIGINT) AS keep_doc, c.n_dups,
      |       c.best_chars
      |FROM d JOIN c ON d.digest = c.digest AND d.n_chars = c.best_chars
      |GROUP BY c.digest, c.n_dups, c.best_chars
      |ORDER BY c.digest""".stripMargin

  /** q74 — int8 scalar quantization error audit: per vector, min/max →
    * 255-step scale → round-trip each element → absolute reconstruction
    * error, integer-quantized to 1e-7 units PER ELEMENT (before any
    * cross-row accumulation, so engine-dependent summation order cannot
    * perturb the result), then summed per label. Entirely map-side until
    * the tiny per-label aggregate — the audit pass that decides whether
    * int8 storage (4× smaller scans at 100 TB) is acceptable for an
    * embedding corpus.
    */
  private val q74: Q = (s, dir) =>
    Tables.spread(Tables.embeddings(s, dir))
      .withColumn("v", expr("CAST(embedding AS array<double>)"))
      .withColumn("lo", array_min(col("v")))
      .withColumn("hi", array_max(col("v")))
      .withColumn("scale", (col("hi") - col("lo")) / 255)
      // hi = lo (a constant vector) makes scale 0 and (x-lo)/scale = 0/0:
      // Spark would yield NaN→CAST 0 while DuckDB yields NULL (or raises,
      // depending on build) — and the TRUE reconstruction error of a
      // constant vector is exactly 0, so say so explicitly on both sides
      .withColumn("err_units", expr(
        """CASE WHEN hi = lo THEN CAST(0 AS BIGINT) ELSE
          |aggregate(v, CAST(0 AS BIGINT), (acc, x) ->
          |  acc + CAST(round(abs(x - (lo + round((x - lo) / scale) * scale))
          |             * 1e7) AS BIGINT)) END""".stripMargin))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("err_units").as("sum_err_units"))
      .orderBy("label")

  private val q74Sql =
    """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      |b AS (SELECT label, v, list_min(v) AS lo, list_max(v) AS hi FROM e),
      |c AS (SELECT label, CASE WHEN hi = lo THEN 0 ELSE
      |  CAST(list_sum(list_transform(v, x ->
      |    CAST(round(abs(x - (lo + round((x - lo) / ((hi - lo) / 255))
      |               * ((hi - lo) / 255))) * 1e7) AS BIGINT)))
      |  AS BIGINT) END AS err_units
      |  FROM b)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(err_units) AS BIGINT) AS sum_err_units
      |FROM c GROUP BY label ORDER BY label""".stripMargin

  /** q75 — BM25 term scoring (k1=1.2, b=0.75): the retrieval-grade
    * refinement of q70 — same two aggregations plus per-doc length
    * normalization against the corpus average length. Both engines
    * evaluate the IDENTICAL IEEE expression tree (constants
    * pre-simplified to plain literals, every mixed int/decimal operand
    * cast to double on the DuckDB side, where bare `0.5` is DECIMAL and
    * would silently switch the math to decimal arithmetic), so the
    * doubles are bit-identical before the final 4-dp round.
    */
  private val q75: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
      .withColumn("dl", size(split(col("text"), " ")))
    val tf = docs
      .select(col("doc_id"), col("dl"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .transform(graft.util.QueryCaches.tracked)
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_docs") + 0.5) / (col("df_docs") + 0.5))
    val score = idf * (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    tf.filter(col("tf") >= 3)
      .join(dfRel, "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), round(score, 4).as("bm25"))
      // cached: same sort-sampling economics as q70
      .transform(graft.util.QueryCaches.tracked)
      .orderBy("doc_id", "term")
  }

  private val q75Sql =
    """WITH d AS (SELECT doc_id, text,
      |    CAST(len(string_split(text,' ')) AS INTEGER) AS dl FROM documents),
      |t AS (SELECT doc_id, dl, unnest(string_split(text,' ')) AS term FROM d),
      |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t GROUP BY 1, 2, 3),
      |df AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs,
      |       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d)
      |SELECT tf.doc_id, tf.term,
      |  round(ln(1.0 + (st.n_docs - df.df_docs + 0.5::DOUBLE)
      |               / (df.df_docs + 0.5::DOUBLE))
      |    * (tf.tf * 2.2::DOUBLE)
      |    / (tf.tf + 1.2::DOUBLE
      |        * (0.25::DOUBLE + 0.75::DOUBLE * tf.dl / st.avgdl)), 4) AS bm25
      |FROM tf JOIN df USING (term), st
      |WHERE tf.tf >= 3
      |ORDER BY doc_id, term""".stripMargin

  /** q76 — stratified deterministic sampling audit: per-language target
    * rates (a broadcast dimension), membership decided by a digest-mod
    * predicate — reproducible on any engine/cluster/day, unlike
    * `sample()`. Extends q62 (global rate) to per-stratum rates; the
    * conditional aggregate returns (total, sampled) per stratum so the
    * realized rate is auditable against the target. Map-side predicate,
    * one tiny aggregate.
    */
  private val q76: Q = (s, dir) => {
    import s.implicits._
    val rates = Seq(("en", 20), ("de", 10), ("fr", 5), ("es", 5), ("zh", 5))
      .toDF("lang", "pct")
    Tables.documents(s, dir)
      .join(broadcast(rates), "lang")
      .groupBy("lang", "pct")
      .agg(count(lit(1)).as("n_total"),
        sum(when(expr("CAST(conv(substring(md5(cast(doc_id AS string)), 1, 4)," +
          " 16, 10) AS INT) % 100") < col("pct"), 1L).otherwise(0L))
          .as("n_sampled"))
      .orderBy("lang")
  }

  private val q76Sql =
    """WITH r AS (SELECT * FROM (VALUES ('en',20),('de',10),('fr',5),
      |                                 ('es',5),('zh',5)) AS t(lang, pct))
      |SELECT d.lang, r.pct, CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(sum(CASE WHEN CAST(('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))
      |                          AS INTEGER) % 100 < r.pct
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents d JOIN r ON d.lang = r.lang
      |GROUP BY d.lang, r.pct ORDER BY d.lang""".stripMargin

  /** q130 — mixture sampling plan: the data-MIXING step of a pretraining
    * pipeline. q76's rates are given; here they are DERIVED — from a
    * target language mixture (broadcast weights), a token budget (half
    * the corpus), and the measured per-language token counts — then
    * applied with the same deterministic digest-mod predicate and audited
    * in one pass. rate_pct = floor(budget·w / lang_tokens) capped at 100:
    * all exact integer arithmetic (non-negative, so Spark `div` == floor
    * == DuckDB `//`), hash-stable across engines. Dataflow: one narrow
    * token-count aggregate, a broadcast join of the 5-row plan back onto
    * the corpus, one conditional aggregate — two shuffles total, nothing
    * driver-side, so the same job plans a 100 TB mixture.
    */
  private val q130: Q = (s, dir) => {
    import s.implicits._
    val weights = Seq(("en", 40), ("de", 25), ("fr", 15), ("es", 10), ("zh", 10))
      .toDF("lang", "w_pct")
    val docs = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      // consumed twice: the per-lang stats and the sampling audit
      .transform(graft.util.QueryCaches.tracked)
    val langTok = docs.groupBy("lang").agg(sum("tok").as("lang_tokens"))
    val budget = docs.agg(expr("sum(tok) div 2").as("budget"))
    val plan = langTok.join(broadcast(weights), "lang")
      .crossJoin(broadcast(budget))
      .select(col("lang"), col("lang_tokens"),
        least(lit(100L),
          expr("(budget * w_pct) div lang_tokens")).as("rate_pct"))
      .withColumn("expected_tokens",
        expr("(lang_tokens * rate_pct) div 100"))
    docs.join(broadcast(plan), "lang")
      .groupBy("lang", "lang_tokens", "rate_pct", "expected_tokens")
      .agg(
        sum(when(expr("CAST(conv(substring(md5(cast(doc_id AS string)), 1, 4)," +
          " 16, 10) AS INT) % 100") < col("rate_pct"), 1L).otherwise(0L))
          .as("sampled_docs"),
        sum(when(expr("CAST(conv(substring(md5(cast(doc_id AS string)), 1, 4)," +
          " 16, 10) AS INT) % 100") < col("rate_pct"), col("tok"))
          .otherwise(0L)).as("sampled_tokens"))
      .orderBy("lang")
  }

  private val q130Sql =
    """WITH w AS (SELECT * FROM (VALUES ('en',40),('de',25),('fr',15),
      |                                 ('es',10),('zh',10)) AS t(lang, w_pct)),
      |d AS (SELECT lang, doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS tok
      |      FROM documents),
      |lt AS (SELECT lang, CAST(sum(tok) AS BIGINT) AS lang_tokens FROM d GROUP BY 1),
      |b AS (SELECT CAST(sum(tok) AS BIGINT) // 2 AS budget FROM d),
      |plan AS (
      |  SELECT lt.lang, lt.lang_tokens,
      |    least(100, (b.budget * w.w_pct) // lt.lang_tokens) AS rate_pct,
      |    (lt.lang_tokens * least(100, (b.budget * w.w_pct) // lt.lang_tokens)) // 100
      |      AS expected_tokens
      |  FROM lt JOIN w USING (lang) CROSS JOIN b)
      |SELECT d.lang, p.lang_tokens, p.rate_pct, p.expected_tokens,
      |  CAST(sum(CASE WHEN CAST(('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))
      |                          AS INTEGER) % 100 < p.rate_pct
      |           THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
      |  CAST(sum(CASE WHEN CAST(('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))
      |                          AS INTEGER) % 100 < p.rate_pct
      |           THEN d.tok ELSE 0 END) AS BIGINT) AS sampled_tokens
      |FROM d JOIN plan p USING (lang)
      |GROUP BY d.lang, p.lang_tokens, p.rate_pct, p.expected_tokens
      |ORDER BY d.lang""".stripMargin

  /** q151 — temperature-scaled source mixture: the multilingual/multi-
    * source re-weighting rule (w_i = c_i^α / Σ c_j^α, here α = ½) that
    * up-samples small sources and damps dominant ones — the standard
    * temperature-sampling scheme for pretraining mixtures. Emits, per
    * source, the raw corpus share, the temperature share, and the
    * resulting boost factor (temp/raw — > 1 means the source is
    * up-sampled relative to its natural frequency).
    *
    * Cross-engine float discipline: c^½ is one IEEE `sqrt` (correctly
    * rounded, bit-identical on both engines), immediately quantized to a
    * BIGINT via `floor(·1e6)` so the cross-row Σ of the temperature
    * masses is EXACT integer arithmetic — a float Σ would be partial-
    * aggregation-order-sensitive in the last ulp. Shares are then single
    * IEEE divides of exact integers. Dataflow: one map-side-combinable
    * per-source aggregate, a 1-row totals broadcast — two shuffles of
    * |sources| rows, nothing driver-side; the same job plans a 100 TB
    * mixture.
    */
  private val q151: Q = (s, dir) => {
    val src = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("src_chars"))
      .withColumn("sq",
        expr("CAST(floor(sqrt(CAST(src_chars AS DOUBLE)) * 1e6) AS BIGINT)"))
    val tot = src.agg(sum("src_chars").as("tot_chars"), sum("sq").as("tot_sq"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("src_chars"),
        (col("src_chars").cast("double") / col("tot_chars").cast("double"))
          .as("raw_share"),
        (col("sq").cast("double") / col("tot_sq").cast("double"))
          .as("temp_share"),
        ((col("sq").cast("double") / col("tot_sq").cast("double")) /
          (col("src_chars").cast("double") / col("tot_chars").cast("double")))
          .as("boost"))
      .orderBy("source")
  }

  private val q151Sql =
    """WITH src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS src_chars,
      |    CAST(floor(sqrt(CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)) * 1e6)
      |      AS BIGINT) AS sq
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(src_chars) AS BIGINT) AS tot_chars,
      |    CAST(sum(sq) AS BIGINT) AS tot_sq FROM src)
      |SELECT source, n_docs, src_chars,
      |  CAST(src_chars AS DOUBLE) / CAST(tot_chars AS DOUBLE) AS raw_share,
      |  CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE) AS temp_share,
      |  (CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE)) /
      |    (CAST(src_chars AS DOUBLE) / CAST(tot_chars AS DOUBLE)) AS boost
      |FROM src CROSS JOIN tot ORDER BY source""".stripMargin

  /** q199 — reciprocal-rank fusion: the hybrid-retrieval combiner. Docs
    * matching a probe term are ranked TWICE — by term frequency (the
    * lexical signal) and by the q54 quality blend (the prior) — and
    * fused with RRF(d) = Σ 1/(60 + rankᵢ), the standard
    * score-scale-free fusion rule hybrid search (lexical + dense, or
    * retrieval + quality) ships with. Both rankings run through the
    * zero-window [[GlobalRank.rowNumber]]; each RRF term is quantized
    * `round(10¹²/(60+rank))::BIGINT` so the fused score is an exact
    * integer sum (float addition order can't flip near-ties); the
    * fusion is one doc_id equi-join and the top-20 a
    * TakeOrderedAndProject. The quality blend is bit-identical across
    * engines (q54's proof), so both rank sorts agree everywhere.
    */
  private val q199: Q = (s, dir) => {
    val hits = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        size(expr("filter(split(text, ' '), w -> w = 'spark')")).as("tf"))
      .filter(col("tf") > 0)
      .transform(graft.util.QueryCaches.tracked)
    val byTf = GlobalRank.rowNumber(hits, "rank_tf",
        Seq(col("tf").desc, col("doc_id")))
      .select(col("doc_id"), col("tf"), col("rank_tf"))
    val byQ = GlobalRank.rowNumber(
        TextStats.qualityScored(s, dir)
          .join(hits.select("doc_id"), "doc_id")
          .select(col("doc_id"), col("quality")),
        "rank_q", Seq(col("quality").desc, col("doc_id")))
      .select(col("doc_id"), col("rank_q"))
    byTf.join(byQ, "doc_id")
      .select(col("doc_id"), col("tf"), col("rank_tf"), col("rank_q"),
        expr("""CAST(round(1e12 / (60 + rank_tf)) AS BIGINT)
                | + CAST(round(1e12 / (60 + rank_q)) AS BIGINT)"""
          .stripMargin).as("rrf_q"))
      .orderBy(col("rrf_q").desc, col("doc_id"))
      .limit(20)
  }

  private val q199Sql =
    s"""WITH h AS (SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w = 'spark'))
       |      AS INTEGER) AS tf
       |  FROM documents
       |  WHERE len(list_filter(string_split(text, ' '), w -> w = 'spark')) > 0),
       |${graft.ops.TextStats.qualityMeasuresCte("qw", "qm")},
       |q AS (SELECT qm.doc_id, ${graft.ops.TextStats.qualityBlendSql} AS quality
       |  FROM qm JOIN h USING (doc_id)),
       |rt AS (SELECT doc_id, tf,
       |    CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS BIGINT)
       |      AS rank_tf FROM h),
       |rq AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
       |      AS rank_q FROM q)
       |SELECT rt.doc_id, rt.tf, rt.rank_tf, rq.rank_q,
       |  CAST(round(1e12 / (60 + rank_tf)) AS BIGINT)
       |    + CAST(round(1e12 / (60 + rank_q)) AS BIGINT) AS rrf_q
       |FROM rt JOIN rq USING (doc_id)
       |ORDER BY rrf_q DESC, doc_id
       |LIMIT 20""".stripMargin

  /** q193 — exact budget allocation by largest remainder: q151's
    * temperature weights turned into an INTEGER token allocation that
    * sums to the budget EXACTLY (1 000 000 here) — the step between "the
    * mixture says 23.7%" and a shard writer that needs whole tokens and
    * a total that reconciles. Naive per-source rounding drifts by up to
    * |sources|/2 tokens and the books don't balance; largest-remainder
    * (Hamilton) apportionment floors every share and hands the shortfall
    * to the largest remainders, ties broken by source name. Every step
    * is integer arithmetic on both engines: base = ⌊B·w/W⌋ and the
    * remainder B·w mod W are exact BIGINTs (w is q151's floor-quantized
    * √mass), and the remainder RANK comes from a bounded |sources|²
    * triangle join (q163's pattern — 5×5 here, never a window, never a
    * data-sized cross). `AuditOpsSpec` asserts Σ alloc = B.
    */
  private val q193: Q = (s, dir) => {
    val B = 1000000L
    val src = Tables.documents(s, dir)
      .groupBy("source")
      .agg(sum("n_chars").as("src_chars"))
      .withColumn("sq",
        expr("CAST(floor(sqrt(CAST(src_chars AS DOUBLE)) * 1e6) AS BIGINT)"))
    val tot = src.agg(sum("sq").as("tot_sq"))
    val based = src.crossJoin(broadcast(tot))
      .select(col("source"),
        expr(s"CAST((${B}L * sq) div tot_sq AS BIGINT)").as("base"),
        expr(s"(${B}L * sq) % tot_sq").as("rem"))
      .transform(graft.util.QueryCaches.tracked)
    val shortfall = based.agg((lit(B) - sum("base")).as("shortfall"))
    val rk = based.as("a").join(based.as("b"),
        col("b.rem") > col("a.rem") ||
          (col("b.rem") === col("a.rem") && col("b.source") < col("a.source")),
        "left")
      .groupBy(col("a.source").as("source"))
      .agg((count(col("b.source")) + 1).as("rem_rank"))
    based.join(rk, "source").crossJoin(broadcast(shortfall))
      .select(col("source"), col("base"), col("rem_rank"),
        (col("base") +
          when(col("rem_rank") <= col("shortfall"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      .orderBy("source")
  }

  private val q193Sql =
    """WITH src AS (SELECT source,
      |    CAST(floor(sqrt(CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)) * 1e6)
      |      AS BIGINT) AS sq
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(sq) AS BIGINT) AS tot_sq FROM src),
      |based AS (SELECT source,
      |    CAST((1000000 * sq) // tot.tot_sq AS BIGINT) AS base,
      |    CAST((1000000 * sq) % tot.tot_sq AS BIGINT) AS rem
      |  FROM src CROSS JOIN tot),
      |sf AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS shortfall FROM based),
      |rk AS (SELECT a.source, CAST(count(b.source) + 1 AS BIGINT) AS rem_rank
      |  FROM based a LEFT JOIN based b
      |    ON b.rem > a.rem OR (b.rem = a.rem AND b.source < a.source)
      |  GROUP BY 1)
      |SELECT based.source, based.base, rk.rem_rank,
      |  based.base + CASE WHEN rk.rem_rank <= sf.shortfall THEN 1 ELSE 0 END
      |    AS alloc_tokens
      |FROM based JOIN rk USING (source) CROSS JOIN sf
      |ORDER BY source""".stripMargin

  /** q157 — data-constrained epoch plan: given a training-token budget of
    * 2× the corpus and q151's temperature-share mixture targets, how many
    * EPOCHS of each source does the run consume, with repeats capped at 4
    * (the data-constrained-scaling finding that value beyond ~4 epochs of
    * repetition decays to ~zero — Muennighoff et al. 2023)? Per source:
    * the target token mass the mixture asks for, the mass actually served
    * under the cap, the resulting epoch count, and the unfilled deficit a
    * mixing policy must reallocate. This is the plan a 100 TB pretraining
    * run executes — q151 picks the mixture, q157 decides repetition.
    *
    * Float discipline: targets derive from q151's exact-BIGINT quantized-
    * sqrt masses via ONE shared IEEE expression (double multiply + floor
    * back to BIGINT — bit-identical per engine on identical ints); the
    * cap test and deficit are then pure BIGINT `least`/subtraction, so no
    * float comparison sits on the cap boundary. Dataflow is q151's: one
    * map-side-combinable per-source aggregate + a 1-row totals broadcast.
    */
  private val q157: Q = (s, dir) => {
    val src = Tables.documents(s, dir)
      .groupBy("source")
      .agg(sum("n_chars").as("src_chars"))
      .withColumn("sq",
        expr("CAST(floor(sqrt(CAST(src_chars AS DOUBLE)) * 1e6) AS BIGINT)"))
    val tot = src.agg(sum("src_chars").as("tot_chars"), sum("sq").as("tot_sq"))
    src.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr(
        "CAST(floor(2.0D * CAST(tot_chars AS DOUBLE) * " +
          "(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE))) AS BIGINT)"))
      .withColumn("served_tokens",
        least(col("target_tokens"), col("src_chars") * 4))
      .select(col("source"), col("src_chars"), col("target_tokens"),
        col("served_tokens"),
        (col("served_tokens").cast("double") / col("src_chars").cast("double"))
          .as("epochs"),
        (col("target_tokens") - col("served_tokens")).as("deficit"))
      .orderBy("source")
  }

  private val q157Sql =
    """WITH src AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS src_chars,
      |    CAST(floor(sqrt(CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)) * 1e6)
      |      AS BIGINT) AS sq
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(src_chars) AS BIGINT) AS tot_chars,
      |    CAST(sum(sq) AS BIGINT) AS tot_sq FROM src),
      |plan AS (SELECT source, src_chars,
      |    CAST(floor(2.0 * CAST(tot_chars AS DOUBLE) *
      |      (CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE))) AS BIGINT)
      |      AS target_tokens
      |  FROM src CROSS JOIN tot)
      |SELECT source, src_chars, target_tokens,
      |  least(target_tokens, src_chars * 4) AS served_tokens,
      |  CAST(least(target_tokens, src_chars * 4) AS DOUBLE)
      |    / CAST(src_chars AS DOUBLE) AS epochs,
      |  target_tokens - least(target_tokens, src_chars * 4) AS deficit
      |FROM plan ORDER BY source""".stripMargin

  /** q78 — MinHash estimator accuracy audit: for every verified LSH
    * candidate pair (q41b), the signature-agreement Jaccard estimate
    * (matching positions / 8) next to the exact candidate-only Jaccard.
    * The estimate is an exact rational k/8 — bit-identical across
    * engines with no rounding. This is the audit that sizes the
    * signature (8 here) for a target error before a 100 TB dedup run:
    * two joins against the persisted signature relation, candidates
    * only, never all pairs.
    */
  private val q78: Q = (s, dir) => {
    // Signatures come from TextDedup's codegen'd explode+groupBy-min path
    // (this query's old private copy ran the 8-function family as
    // interpreted nested lambdas); pairs come from the sort-free
    // verifiedPairs — the declared q41b's ORDER BY would cost a full
    // extra pipeline pass here.
    val sig = TextDedup.minhashSignatures(s, dir)
      .transform(graft.util.QueryCaches.tracked)
    TextDedup.verifiedPairs(s, dir)
      .join(sig.select(col("doc_id").as("doc_a"), col("mh").as("mha")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("mh").as("mhb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (expr("size(filter(sequence(1,8), j -> element_at(mha, j) = element_at(mhb, j)))")
          .cast("double") / 8).as("mh_est"),
        col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // the pipeline prefix comes verbatim from TextDedup.minhashVerifyCtes —
  // the Spark side reuses TextDedup.minhashSignatures/verifiedPairs, so
  // the oracle must reuse the same SQL or the hash family could drift
  private val q78Sql =
    s"""WITH ${TextDedup.minhashVerifyCtes}
      |SELECT doc_a, doc_b,
      |  len(list_filter(generate_series(1,8), j -> qa.mh[j] = qb.mh[j]))::DOUBLE / 8
      |    AS mh_est,
      |  round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
      |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
      |    AS jaccard
      |FROM cand JOIN sets sa ON sa.doc_id = doc_a
      |          JOIN sets sb ON sb.doc_id = doc_b
      |          JOIN sig qa ON qa.doc_id = doc_a
      |          JOIN sig qb ON qb.doc_id = doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q79 — train/test contamination detection via shingle containment:
    * for a held-out eval split (here `doc_id % 50 = 0`), find training
    * documents containing ≥ 50% of an eval doc's 3-shingles —
    * `|train ∩ test| / |test|`, the ASYMMETRIC overlap that catches an
    * eval doc embedded inside a longer training doc, which symmetric
    * Jaccard (q41b) under-scores. Dataflow: distinct shingle sets once
    * (persisted — both splits project from it), explode, equi-join on
    * shingle with the small eval side broadcast, partial-aggregated count
    * per pair. At 100 TB the eval split stays broadcast-sized by
    * construction; hot-shingle fan-out is absorbed by map-side partial
    * aggregation (and would get q43's prefix filtering if the eval split
    * ever outgrew broadcast).
    */
  private val q79: Q = (s, dir) => {
    // The cached relation is the FLAT (doc_id, hashed shingle) token
    // stream, not per-doc string arrays: columnar-caching an
    // array<string> column measured ~3.5 s/pass to build, while the flat
    // long pairs cache in a fraction of that — and the 60-bit md5 hash
    // (q43's discipline, replayed by the oracle) shrinks the join keys.
    val tok = Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        explode(array_distinct(expr(TextDedup.shinglesExpr(3)))).as("s"))
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("shingle"))
      .transform(graft.util.QueryCaches.tracked)
    val testSizes = tok.filter(col("doc_id") % 50 === 0)
      .groupBy(col("doc_id").as("test_id"))
      .agg(count(lit(1)).as("test_size"))
    val test = tok.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("test_id"), col("shingle"))
    val train = tok.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("train_id"), col("shingle"))
    train.join(broadcast(test), "shingle")
      .groupBy("train_id", "test_id")
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(testSizes), "test_id")
      .filter(col("n_common").cast("double") / col("test_size") >= 0.5)
      .select(col("train_id"), col("test_id"),
        round(col("n_common").cast("double") / col("test_size"), 4)
          .as("containment"))
      .orderBy("train_id", "test_id")
  }

  private val q79Sql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
      |sh AS (SELECT doc_id, list_distinct(
      |  CASE WHEN len(words) < 3 THEN [] ELSE
      |    list_transform(generate_series(1, len(words)-2), i ->
      |      words[i] || ' ' || words[i+1] || ' ' || words[i+2]) END) AS sh
      |  FROM w),
      |tok AS (SELECT doc_id,
      |  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS shingle
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
      |ts AS (SELECT doc_id AS test_id, count(*) AS test_size
      |       FROM tok WHERE doc_id % 50 = 0 GROUP BY 1),
      |test AS (SELECT doc_id AS test_id, shingle FROM tok WHERE doc_id % 50 = 0),
      |train AS (SELECT doc_id AS train_id, shingle FROM tok WHERE doc_id % 50 <> 0),
      |j AS (SELECT train_id, test_id, count(*) AS n_common
      |      FROM train JOIN test USING (shingle) GROUP BY 1, 2)
      |SELECT train_id, test_id,
      |       round(n_common::DOUBLE / test_size, 4) AS containment
      |FROM j JOIN ts USING (test_id)
      |WHERE n_common::DOUBLE / test_size >= 0.5
      |ORDER BY train_id, test_id""".stripMargin

  /** q83 — source-reputation audit: per (source, lang), volume, size and
    * exact duplicate rate — the table a crawl pipeline consults before
    * weighting or dropping a source. One partial+final aggregate; the
    * exact distinct forces Spark's Expand (fine at one distinct column);
    * at 100 TB swap `countDistinct` → `approx_count_distinct` under the
    * `SketchAccuracySpec` contract.
    */
  private val q83: Q = (s, dir) =>
    Tables.spread(Tables.documents(s, dir))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_distinct"))
      .select(col("source"), col("lang"), col("n_docs"), col("sum_chars"),
        col("n_distinct"),
        round(lit(1) - col("n_distinct").cast("double") / col("n_docs"), 4)
          .as("dup_rate"))
      .orderBy("source", "lang")

  private val q83Sql =
    """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
      |  round(1 - count(DISTINCT md5(text))::DOUBLE / count(*), 4) AS dup_rate
      |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** q87 — incremental dedup against a known corpus: keep only candidate
    * docs whose content digest is absent from the already-ingested set
    * (here simulated by the even/odd doc_id split) — a LEFT ANTI join on
    * the digest, the day-2 form of q40's within-corpus dedup. At 100 TB
    * the known side is a digest-only projection (16 bytes/row); the anti
    * join shuffles both sides once on the digest, or goes shuffle-free
    * with a bloom-filter pre-pass when the known set fits an executor
    * broadcast.
    */
  private val q87: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
      .withColumn("digest", md5(col("text")))
    val known = docs.filter(col("doc_id") % 2 === 0)
      .select("digest").distinct()
    docs.filter(col("doc_id") % 2 =!= 0)
      .join(known, Seq("digest"), "left_anti")
      .select("doc_id", "digest")
      .orderBy("doc_id")
  }

  private val q87Sql =
    """WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
      |k AS (SELECT DISTINCT digest FROM d WHERE doc_id % 2 = 0)
      |SELECT d.doc_id, d.digest FROM d
      |WHERE d.doc_id % 2 <> 0
      |  AND NOT EXISTS (SELECT 1 FROM k WHERE k.digest = d.digest)
      |ORDER BY doc_id""".stripMargin

  /** q186 — q87's incremental dedup with a BLOOM-FILTER pre-pass: the
    * known-corpus digest set is folded into a 16384-bit Bloom filter
    * (5 probes per key, double hashing over two 31-bit xxhash64-derived
    * values) by ONE partial+final `bit_or` aggregate, broadcast as a
    * 1-row ≤256-entry (word → bits) map, and every candidate tests
    * membership map-side with 5 unrolled codegen'd bit probes. A bit
    * MISS proves the digest is new — those docs pass with NO join at
    * all; only the maybe-present sliver (true duplicates + false
    * positives) pays the exact anti-join, which then removes the false
    * positives, so the result is IDENTICAL to q87 (same oracle SQL) while
    * the join's left side shrinks from the whole candidate corpus to
    * ~fp·|candidates| + |dups|. This is the shuffle-elimination shape
    * q87's scaladoc promises at 100 TB: the bloom build is a scan +
    * 256-row aggregate, the broadcast is KBs (size m with ~10-16
    * bits/key as |known| grows), and the unioned fast path never touches
    * an exchange. `BloomPrefilterSpec` proves the pre-filter actually
    * prunes and the output matches q87 row-for-row.
    */
  private val BloomBits = 16384
  private val BloomProbes = 5

  /** Known-corpus digest set (even doc_ids), persisted — the q87/q186
    * "already ingested" side. */
  private def knownDigests(s: SparkSession, dir: String): DataFrame =
    // keyed: q186 consumes it on both the bloom-build and anti-join
    // sides — one persisted build serves both within the query's run
    graft.util.QueryCaches.keyed(s"bloom:known:$dir") {
      Tables.spread(Tables.documents(s, dir))
        .filter(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("digest")).distinct()
    }

  /** Candidate docs (odd doc_ids) with their bloom verdict `mc` (might
    * the digest be in the known set?), persisted. The bloom is built by
    * one partial+final `bit_or` aggregate over the known digests and
    * broadcast as a 1-row ≤256-entry (word → bits) map; each candidate
    * tests 5 unrolled codegen'd bit probes map-side (no interpreted
    * higher-order function in the path). Shared by [[q186]] and
    * `BloomPrefilterSpec`'s pruning measurement.
    */
  private[graft] def bloomCandidates(s: SparkSession, dir: String): DataFrame = {
    val (m, k) = (BloomBits, BloomProbes)
    // two independent 31-bit hash streams off the digest (masking keeps
    // pos arithmetic overflow-free: h1 + 4·h2 < 2^34)
    def hashed(df: DataFrame): DataFrame = df
      .withColumn("h1", expr("xxhash64(digest) & 2147483647L"))
      .withColumn("h2", expr("xxhash64(digest, digest) & 2147483647L"))
    val bloom = hashed(knownDigests(s, dir))
      .select(explode(expr(s"sequence(0, ${k - 1})")).as("i"), col("h1"), col("h2"))
      .select(expr(s"pmod(h1 + i * h2, $m)").as("pos"))
      .select(expr("CAST(pos div 64 AS INT)").as("w"), expr("pos % 64").as("b"))
      .groupBy("w").agg(expr("bit_or(shiftleft(1L, CAST(b AS INT)))").as("bits"))
      .agg(expr("map_from_entries(sort_array(collect_list(struct(w, bits))))").as("bm"))
    val mightContain = (0 until k).map { i =>
      s"""(coalesce(element_at(bm, CAST(pmod(h1 + $i * h2, $m) div 64 AS INT)), 0L)
         |  & shiftleft(1L, CAST(pmod(h1 + $i * h2, $m) % 64 AS INT))) != 0L""".stripMargin
    }.mkString("(", ") AND (", ")")
    hashed(Tables.spread(Tables.documents(s, dir))
        .filter(col("doc_id") % 2 =!= 0)
        .withColumn("digest", md5(col("text"))))
      .crossJoin(broadcast(bloom))
      .withColumn("mc", expr(mightContain))
      .select("doc_id", "digest", "mc")
      .transform(graft.util.QueryCaches.tracked)
  }

  private val q186: Q = (s, dir) => {
    val cand = bloomCandidates(s, dir)
    // bit miss ⇒ provably new: no join. Only the maybe sliver (true dups
    // + bloom false positives) pays the exact anti-join, which removes
    // the false positives — the result is identical to q87's.
    val sure = cand.filter(!col("mc")).select("doc_id", "digest")
    val maybe = cand.filter(col("mc"))
      .join(knownDigests(s, dir), Seq("digest"), "left_anti")
      .select("doc_id", "digest")
    sure.unionByName(maybe).orderBy("doc_id")
  }

  /** q226 — Bloom false-positive-rate audit: the measured companion to
    * q186 (whose spec proves the pre-filter admits no false NEGATIVES;
    * this measures the false POSITIVES that decide how much work the
    * pre-filter actually saves). A 16384-bit / 5-probe filter is built
    * over the known-corpus digests and every genuinely-new candidate is
    * probed: the maybe-verdicts among them ARE the false positives, and
    * the measured ppm sits next to the theoretical
    * (1 − (1−1/m)^(k·n))^k. Unlike q186's xxhash64 bloom (plan-level,
    * oracle-free by sharing q87's result), this audit's OUTPUT depends
    * on the bits, so the hash family is md5-derived — replayable
    * bit-for-bit in the oracle engine. Measured ppm is an exact integer
    * ((fp·10⁶) div n_new); the theory value is quantized to ppm so the
    * two engines' libm `power` cannot split the hash, and every literal
    * in it is CAST to DOUBLE explicitly — Spark parses bare `1.0/m`
    * as DECIMAL division (precision-truncated before power sees it),
    * the round-7 lesson this query paid for at sf0.1. Scale shape: the
    * bloom is one partial+final bit_or aggregate broadcast as ≤512
    * 32-bit words (shift < 32 keeps both engines inside checked BIGINT); probes are map-side; the only joins are digest-keyed
    * semi/anti joins against the known set.
    */
  private val q226: Q = (s, dir) => {
    val (m, k) = (BloomBits, BloomProbes)
    def hashed(df: DataFrame): DataFrame = df
      .withColumn("h1",
        expr("CAST(conv(substring(md5(digest), 1, 8), 16, 10) AS BIGINT)" +
          " & 2147483647L"))
      .withColumn("h2",
        expr("CAST(conv(substring(md5(digest || 'x'), 1, 8), 16, 10)" +
          " AS BIGINT) & 2147483647L"))
    val known = knownDigests(s, dir)
    val bloom = hashed(known)
      .select(explode(expr(s"sequence(0, ${k - 1})")).as("i"),
        col("h1"), col("h2"))
      .select(expr(s"pmod(h1 + i * h2, $m)").as("pos"))
      .select(expr("CAST(pos div 32 AS INT)").as("w"),
        expr("pos % 32").as("b"))
      .groupBy("w")
      .agg(expr("bit_or(shiftleft(1L, CAST(b AS INT)))").as("bits"))
      .agg(expr("map_from_entries(sort_array(collect_list(struct(w, bits))))")
        .as("bm"))
    val mightContain = (0 until k).map { i =>
      s"""(coalesce(element_at(bm, CAST(pmod(h1 + $i * h2, $m) div 32 AS INT)), 0L)
         |  & shiftleft(1L, CAST(pmod(h1 + $i * h2, $m) % 32 AS INT))) != 0L""".stripMargin
    }.mkString("(", ") AND (", ")")
    val cand = hashed(Tables.spread(Tables.documents(s, dir))
        .filter(col("doc_id") % 2 =!= 0)
        .withColumn("digest", md5(col("text"))))
      .crossJoin(broadcast(bloom))
      .withColumn("mc", expr(mightContain))
      .select("doc_id", "digest", "mc")
      .transform(graft.util.QueryCaches.tracked)
    val newOnes = graft.util.QueryCaches.tracked(
      cand.join(known, Seq("digest"), "left_anti"))
    val a = cand.agg(count(lit(1)).as("n_candidates"))
    val b = newOnes.agg(count(lit(1)).as("n_new"),
      sum(when(col("mc"), 1L).otherwise(0L)).as("n_false_pos"))
    val c = known.agg(count(lit(1)).as("n_known"))
    c.crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .select(col("n_known"), col("n_candidates"),
        (col("n_candidates") - col("n_new")).as("n_true_dups"),
        col("n_new"), col("n_false_pos"),
        // n_new = 0 guard (q212/q241 discipline): a degenerate corpus
        // where every candidate is a known dup must report 0, not NULL
        expr("CAST(CASE WHEN n_new = 0 THEN 0 ELSE" +
          " (n_false_pos * 1000000L) div n_new END AS BIGINT)")
          .as("fpp_measured_ppm"),
        expr(s"""CAST(round(power(CAST(1 AS DOUBLE) -
          |power(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / CAST($m AS DOUBLE),
          |CAST(n_known AS DOUBLE) * CAST($k AS DOUBLE)),
          |CAST($k AS DOUBLE)) * 1e6) AS BIGINT)"""
          .stripMargin).as("fpp_theory_ppm"))
  }

  private val q226Sql = {
    val (m, k) = (BloomBits, BloomProbes)
    s"""WITH known AS (SELECT DISTINCT md5(text) AS digest FROM documents
       |  WHERE doc_id % 2 = 0),
       |kh AS (SELECT digest,
       |    CAST(('0x' || substr(md5(digest), 1, 8)) AS BIGINT)
       |      & 2147483647 AS h1,
       |    CAST(('0x' || substr(md5(digest || 'x'), 1, 8)) AS BIGINT)
       |      & 2147483647 AS h2 FROM known),
       |pos AS (SELECT ((h1 + i * h2) % $m) AS pos FROM kh,
       |  unnest(generate_series(0, ${k - 1})) AS t(i)),
       |bw AS (SELECT pos // 32 AS w,
       |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
       |  FROM pos GROUP BY 1),
       |cand AS (SELECT doc_id, md5(text) AS digest FROM documents
       |  WHERE doc_id % 2 <> 0),
       |ch AS (SELECT doc_id, digest,
       |    CAST(('0x' || substr(md5(digest), 1, 8)) AS BIGINT)
       |      & 2147483647 AS h1,
       |    CAST(('0x' || substr(md5(digest || 'x'), 1, 8)) AS BIGINT)
       |      & 2147483647 AS h2 FROM cand),
       |probes AS (SELECT doc_id, digest, ((h1 + i * h2) % $m) AS pos
       |  FROM ch, unnest(generate_series(0, ${k - 1})) AS t(i)),
       |hits AS (SELECT p.doc_id, p.digest,
       |    coalesce((bw.bits & (CAST(1 AS BIGINT)
       |      << CAST(p.pos % 32 AS INT))) <> 0, false) AS hit
       |  FROM probes p LEFT JOIN bw ON bw.w = p.pos // 32),
       |mcs AS (SELECT doc_id, digest, bool_and(hit) AS mc FROM hits
       |  GROUP BY 1, 2),
       |nw AS (SELECT mcs.* FROM mcs WHERE NOT EXISTS
       |  (SELECT 1 FROM known WHERE known.digest = mcs.digest)),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM mcs),
       |b AS (SELECT CAST(count(*) AS BIGINT) AS n_new,
       |    CAST(sum(CASE WHEN mc THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_false_pos FROM nw),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_known FROM known)
       |SELECT c.n_known, a.n_candidates,
       |  a.n_candidates - b.n_new AS n_true_dups, b.n_new, b.n_false_pos,
       |  CAST(CASE WHEN b.n_new = 0 THEN 0
       |    ELSE (b.n_false_pos * 1000000) // b.n_new END AS BIGINT)
       |    AS fpp_measured_ppm,
       |  CAST(round(power(CAST(1 AS DOUBLE) -
       |power(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / CAST($m AS DOUBLE),
       |CAST(c.n_known AS DOUBLE) * CAST($k AS DOUBLE)),
       |CAST($k AS DOUBLE)) * 1e6) AS BIGINT)
       |    AS fpp_theory_ppm
       |FROM c CROSS JOIN a CROSS JOIN b""".stripMargin
  }

  /** q88 — equi-depth length bucketing: quartile boundaries from one
    * exact-percentile aggregate (1 row, broadcast), then every doc
    * bucketed map-side by counting boundaries below its length — the
    * scalable form of `ntile` over the WHOLE relation, which would pull
    * all rows through one partition. At 100 TB the boundary pass becomes
    * `approx_percentile` under the `SketchAccuracySpec` contract; the
    * bucketing pass is unchanged.
    */
  private val q88: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
    val bounds = docs.agg(
      expr("percentile(n_chars, array(0.25, 0.5, 0.75))").as("bs"))
    docs.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("n_chars"),
        expr("size(filter(bs, b -> n_chars > b))").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("lo"), max("n_chars").as("hi"))
      .orderBy("bucket")
  }

  private val q88Sql =
    """WITH b AS (SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS bs
      |           FROM documents)
      |SELECT CAST(len(list_filter(b.bs, x -> d.n_chars > x)) AS INTEGER)
      |         AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  min(n_chars) AS lo, max(n_chars) AS hi
      |FROM documents d, b
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q91 — sequence packing: concatenate-then-chunk assignment of docs
    * into fixed 2000-token training sequences, per language shard —
    * `chunk = exclusive_prefix div budget`, the streaming-pack every LLM
    * data loader runs before tokenized shards are written. A
    * `Window.partitionBy(lang)` running sum would funnel each language
    * through ONE reducer — and language mass is zipfian, so at 100 TB
    * the dominant language IS the corpus. Instead: one scale-safe GLOBAL
    * exclusive prefix sum over the (lang, doc_id) total order
    * ([[GlobalRank.prefixSum]]: range partition, per-range sums, P-long
    * broadcast offsets — the q148 kernel), then the per-language prefix
    * falls out by subtracting each language's start offset, which is
    * simply `min(global_prefix)` within the language (the first doc of a
    * language has exclusive prefix = total mass of all earlier
    * languages). The offset table is |langs| rows — broadcast. No
    * skewed-key window anywhere; all-integer outputs.
    */
  /** The packed-chunk relation (lang, chunk_id, n_docs, sum_tokens)
    * shared by q91 (the manifest) and q169 (the efficiency audit). */
  private def packedChunks(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .withColumn("tokens", size(split(col("text"), " ")))
    val gp = GlobalRank.prefixSum(toks, "gp", col("tokens"),
      Seq(col("lang"), col("doc_id")))
    val langOff = gp.groupBy("lang").agg(min("gp").as("lang_off"))
    gp.join(broadcast(langOff), Seq("lang"))
      .withColumn("chunk_id", expr("(gp - lang_off) div 2000"))
      .groupBy("lang", "chunk_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens").cast("long")).as("sum_tokens"))
  }

  private val q91: Q = (s, dir) =>
    packedChunks(s, dir).orderBy("lang", "chunk_id")

  private val q91Sql =
    """WITH t AS (SELECT lang, doc_id,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS tokens
      |  FROM documents),
      |c AS (SELECT lang, tokens,
      |    CAST((sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |            ROWS UNBOUNDED PRECEDING) - tokens) // 2000 AS BIGINT)
      |      AS chunk_id
      |  FROM t)
      |SELECT lang, chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(tokens) AS BIGINT) AS sum_tokens
      |FROM c GROUP BY lang, chunk_id ORDER BY lang, chunk_id""".stripMargin

  /** q169 — packing-efficiency audit over q91's manifest: per language,
    * how well the concatenate-then-chunk layout fills its fixed
    * 2000-token training windows. `fill_rate` is the number a pipeline
    * owner watches before changing chunk budget or document ordering —
    * wasted window mass is wasted training compute at exactly corpus
    * scale. `max_chunk_tokens` exposes the straddle overhang (a chunk
    * owns every doc that STARTS in it, so its mass can exceed the
    * budget); `n_underfull` counts windows that would pad.
    *
    * Scale shape: q91's zero-skew-window pipeline (GlobalRank.prefixSum)
    * plus one |langs|-row rollup; the fill arithmetic is one IEEE divide
    * of exact BIGINTs per output row.
    */
  private val q169: Q = (s, dir) =>
    packedChunks(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_chunks"), sum("n_docs").as("n_docs"),
        sum("sum_tokens").as("total_tokens"),
        max("sum_tokens").as("max_chunk_tokens"),
        sum(when(col("sum_tokens") < 2000, 1L).otherwise(0L))
          .as("n_underfull"))
      .withColumn("fill_rate",
        expr("CAST(total_tokens AS DOUBLE) / (n_chunks * 2000)"))
      .orderBy("lang")

  private val q169Sql =
    """WITH t AS (SELECT lang, doc_id,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS tokens
      |  FROM documents),
      |c AS (SELECT lang, tokens,
      |    CAST((sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |            ROWS UNBOUNDED PRECEDING) - tokens) // 2000 AS BIGINT)
      |      AS chunk_id
      |  FROM t),
      |ch AS (SELECT lang, chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(tokens) AS BIGINT) AS sum_tokens
      |  FROM c GROUP BY lang, chunk_id)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(sum(sum_tokens) AS BIGINT) AS total_tokens,
      |  max(sum_tokens) AS max_chunk_tokens,
      |  CAST(sum(CASE WHEN sum_tokens < 2000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_underfull,
      |  CAST(CAST(sum(sum_tokens) AS BIGINT) AS DOUBLE)
      |    / (count(*) * 2000) AS fill_rate
      |FROM ch GROUP BY lang ORDER BY lang""".stripMargin

  /** q92 — per-row weighted (importance) sampling: keep a doc iff its
    * digest-derived uniform draw falls below its OWN quality-derived
    * weight — the data-mixing primitive that upsamples long documents
    * (here `w = min(1, n_chars/1500)`) while staying fully reproducible,
    * unlike `sample()`. Integer comparison (`u * 1500 < min(1500,
    * n_chars)` avoids float thresholds entirely). Extends q62 (one global
    * rate) and q76 (per-stratum rates) to per-row weights. Pure map-side
    * filter plus one audit aggregate.
    */
  private val q92: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("u", expr(
        "CAST(conv(substring(md5(cast(doc_id AS string)), 1, 4), 16, 10) AS INT) % 1500"))
      .withColumn("kept",
        when(col("u") < least(lit(1500L), col("n_chars")), 1L).otherwise(0L))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), sum("kept").as("n_kept"),
        sum(when(col("kept") === 1, col("n_chars")).otherwise(0L))
          .as("kept_chars"))
      .orderBy("lang")

  private val q92Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(sum(CASE WHEN CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 4))
      |                          AS INTEGER) % 1500 < least(1500, n_chars)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 4))
      |                          AS INTEGER) % 1500 < least(1500, n_chars)
      |           THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q117 — capped inverted-index postings: per token, the document
    * frequency and the first 5 postings (smallest doc_ids), emitted as a
    * joined string (the harness can't sort array columns — q51's lesson).
    * The retrieval-index build step after vocabulary pruning (q110): one
    * shuffle on the token; `collect_set` is order-insensitive, the sort +
    * cap happen per token AFTER aggregation, so no posting list larger
    * than the cap ever leaves the aggregate. At 100 TB the cap is the
    * point: impact-ordered prefix postings bound both shuffle width and
    * index size regardless of how hot a token is.
    */
  private val q117: Q = (s, dir) =>
    Tables.spread(Tables.documents(s, dir))
      .select(explode(array_distinct(split(col("text"), " "))).as("token"),
        col("doc_id"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        array_join(slice(sort_array(collect_set(col("doc_id"))), 1, 5), ",")
          .as("first_postings"))
      .orderBy("token")

  private val q117Sql =
    """SELECT token, CAST(count(*) AS BIGINT) AS df,
      |  array_to_string(list_slice(list_sort(list(DISTINCT doc_id)), 1, 5), ',')
      |    AS first_postings
      |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      |      FROM documents)
      |GROUP BY token ORDER BY token""".stripMargin

  /** q118 — dup-graph degree histogram: how many documents participate in
    * 1, 2, … near-duplicate pairs (q41's LSH candidates). The
    * observability metric behind cluster resolution (q56): a heavy tail
    * here means a boilerplate template is about to glue thousands of docs
    * into one component. Two narrow aggregations over the pair relation —
    * at scale both shuffle (doc, count) pairs only.
    */
  private val q118: Q = (s, dir) => {
    // sort-free candidates: the declared q41's ORDER BY would re-run the
    // band pipeline as the range partitioner's sampling pass
    val pairs = TextDedup.candPairs(s, dir)
    pairs.select(col("doc_a").as("doc"))
      .unionAll(pairs.select(col("doc_b").as("doc")))
      .groupBy("doc").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  private def q118Sql =
    s"""WITH pairs AS (${TextDedup.q41Sql}),
       |deg AS (SELECT doc, count(*) AS degree FROM (
       |  SELECT doc_a AS doc FROM pairs
       |  UNION ALL SELECT doc_b FROM pairs) GROUP BY 1)
       |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
       |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin

  /** q255 — quasi-identifier k-anonymity audit: bucket every document by
    * its metadata fingerprint (lang, source, length-centile bucket
    * n_chars div 100) and report the cells whose population is below
    * k = 5 — the combinations that could single out a document (or its
    * author) from metadata alone, the audit a release pipeline runs
    * before publishing per-document metadata alongside a corpus. Emits
    * the global summary: cell count, risky-cell count, documents at
    * risk, min/max cell size, risky-mass share.
    *
    * Scale shape: one composite-key groupBy (partial+final over an
    * unbounded key — the cell relation is data-sized but each row is 5
    * integers) folded to a 1-row summary; exact BIGINTs end-to-end and
    * one IEEE divide for the share. No windows, no joins.
    */
  private val q255: Q = (s, dir) => {
    val cells = Tables.spread(Tables.documents(s, dir))
      .select(col("lang"), col("source"),
        expr(graft.util.SqlArith.floorDiv("n_chars", 100L)).as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("cell_n"))
    cells.agg(count(lit(1)).as("n_cells"),
        sum(when(col("cell_n") < 5, 1L).otherwise(0L)).as("n_risky_cells"),
        sum(when(col("cell_n") < 5, col("cell_n")).otherwise(0L))
          .as("n_docs_risky"),
        min("cell_n").as("min_cell"), max("cell_n").as("max_cell"),
        sum("cell_n").as("n_docs"))
      .select(col("n_cells"), col("n_risky_cells"), col("n_docs_risky"),
        col("min_cell"), col("max_cell"),
        (col("n_docs_risky").cast("double") / col("n_docs").cast("double"))
          .as("risky_share"))
  }

  private val q255Sql =
    """WITH cells AS (SELECT lang, source, n_chars // 100 AS len_bucket,
      |    CAST(count(*) AS BIGINT) AS cell_n
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT CAST(count(*) AS BIGINT) AS n_cells,
      |  CAST(sum(CASE WHEN cell_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_risky_cells,
      |  CAST(sum(CASE WHEN cell_n < 5 THEN cell_n ELSE 0 END) AS BIGINT)
      |    AS n_docs_risky,
      |  CAST(min(cell_n) AS BIGINT) AS min_cell,
      |  CAST(max(cell_n) AS BIGINT) AS max_cell,
      |  CAST(sum(CASE WHEN cell_n < 5 THEN cell_n ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(cell_n) AS DOUBLE) AS risky_share
      |FROM cells""".stripMargin

  /** q290 — distinct l-diversity audit (Machanavajjhala et al.,
    * ICDE'06), the companion k-anonymity (q255) needs: a quasi-
    * identifier cell can be large (k-anonymous) yet still leak if all
    * its rows share one sensitive value. Here the QI is the publishable
    * behavioral fingerprint (event_type, hour-of-day) and the sensitive
    * attribute is user identity: a cell whose events come from fewer
    * than l = 5 distinct users links "what happened when" to "who" —
    * the audit a telemetry-release pipeline runs before publishing
    * event aggregates. Emits the q255-shaped summary: cells, risky
    * cells, event mass at risk, min/max diversity, risky-mass share.
    *
    * Scale shape: two stacked groupBys — (QI, user) then QI — both
    * partial+final over unbounded keys (never count_distinct's OOM-prone
    * single-pass form at this width), folded to one row; exact BIGINTs
    * end-to-end, one IEEE divide for the share.
    */
  private val q290: Q = (s, dir) => {
    val cu = Tables.spread(Tables.events(s, dir))
      .select(col("event_type"), hour(col("ts")).as("hh"), col("user_id"))
      .groupBy("event_type", "hh", "user_id")
      .agg(count(lit(1)).as("cnt"))
    val cells = cu.groupBy("event_type", "hh")
      .agg(count(lit(1)).as("du"), sum("cnt").as("ne"))
    cells.agg(count(lit(1)).as("n_cells"),
        sum(when(col("du") < 5, 1L).otherwise(0L)).as("n_risky_cells"),
        sum(when(col("du") < 5, col("ne")).otherwise(0L))
          .as("n_events_risky"),
        min("du").as("min_diversity"), max("du").as("max_diversity"),
        sum("ne").as("n_events"))
      .select(col("n_cells"), col("n_risky_cells"), col("n_events_risky"),
        col("min_diversity"), col("max_diversity"),
        (col("n_events_risky").cast("double") /
          col("n_events").cast("double")).as("risky_share"))
  }

  private val q290Sql =
    """WITH cu AS (SELECT event_type, hour(ts) AS hh, user_id,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2, 3),
      |cells AS (SELECT event_type, hh, CAST(count(*) AS BIGINT) AS du,
      |    CAST(sum(cnt) AS BIGINT) AS ne
      |  FROM cu GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_cells,
      |  CAST(sum(CASE WHEN du < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_risky_cells,
      |  CAST(sum(CASE WHEN du < 5 THEN ne ELSE 0 END) AS BIGINT)
      |    AS n_events_risky,
      |  CAST(min(du) AS BIGINT) AS min_diversity,
      |  CAST(max(du) AS BIGINT) AS max_diversity,
      |  CAST(sum(CASE WHEN du < 5 THEN ne ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(ne) AS DOUBLE) AS risky_share
      |FROM cells""".stripMargin

  /** q260 — shingle document-frequency spectrum: the distinct 3-gram
    * vocabulary bucketed by ⌊log₂ df⌋ — the ONE histogram that sizes
    * every gram-keyed operator in this inventory: where the df-caps of
    * q109/q150 should sit (how much mass the cap drops), how skewed the
    * postings lists q117/GramPostings carry are, and whether
    * prefix-filter token ordering (q43) has the rare-token head it
    * needs. Buckets are EXACT integer bit-lengths (`length(bin(df))` on
    * both engines — no float log anywhere near a power-of-two
    * boundary). Dataflow: distinct (doc, gram) → per-gram df
    * (partial+final on the unbounded gram key) → a ≤ 64-row histogram
    * with exact BIGINT counts and one share divide per bucket.
    */
  private val q260: Q = (s, dir) => {
    val df = Tables.spread(Tables.documents(s, dir))
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        explode(array_distinct(expr(TextDedup.shinglesExpr(3)))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
    val hist = df.groupBy(expr("length(bin(df))").cast("int").as("df_bucket"))
      .agg(count(lit(1)).as("n_grams"), min("df").as("min_df"),
        max("df").as("max_df"), sum("df").as("posting_mass"))
    val tot = hist.agg(sum("n_grams").as("vocab"))
    hist.crossJoin(broadcast(tot))
      .select(col("df_bucket"), col("n_grams"), col("min_df"), col("max_df"),
        col("posting_mass"),
        (col("n_grams").cast("double") / col("vocab").cast("double"))
          .as("vocab_share"))
      .orderBy("df_bucket")
  }

  private val q260Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents),
      |tok AS (SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(words) < 3 THEN [] ELSE
      |    list_transform(generate_series(1, len(words)-2), i ->
      |      words[i] || ' ' || words[i+1] || ' ' || words[i+2]) END) AS g
      |  FROM w),
      |dfr AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1),
      |hist AS (SELECT CAST(length(bin(df)) AS INTEGER) AS df_bucket,
      |    CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(min(df) AS BIGINT) AS min_df,
      |    CAST(max(df) AS BIGINT) AS max_df,
      |    CAST(sum(df) AS BIGINT) AS posting_mass
      |  FROM dfr GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_grams) AS BIGINT) AS vocab FROM hist)
      |SELECT df_bucket, n_grams, min_df, max_df, posting_mass,
      |  CAST(n_grams AS DOUBLE) / CAST(vocab AS DOUBLE) AS vocab_share
      |FROM hist CROSS JOIN tot ORDER BY df_bucket""".stripMargin

  /** q266 — deterministic weighted reservoir (Efraimidis–Spirakis
    * A-Res): a fixed-size 100-doc sample WITHOUT replacement where
    * inclusion probability scales with the q54 quality blend — the
    * fixed-budget companion to q92's per-row Bernoulli weighting
    * (q92 keeps a random-SIZED set; a curation budget wants exactly
    * N). Key = log2(u)/w with u ∈ (0,1] derived from the md5 digest
    * (q62's reproducible-sampling rule: same corpus → same sample on
    * any engine, cluster, or day) and w = max(quality, 0.05) (floor so
    * zero-quality docs keep a defined, tiny-but-nonzero chance, and no
    * division blows up); taking the TOP-k keys is exactly sampling
    * n/replacement with P(i) ∝ wᵢ (Efraimidis & Spirakis 2006). log2
    * and one divide are the only float ops — both IEEE-identical
    * cross-engine (the q244 lesson: no pow anywhere) — and the key is
    * quantized `round(·1e9)::BIGINT` with (key, doc_id) total order,
    * so selection is hash-exact. Scale shape: key computation is
    * map-side over the scan; top-100 is TakeOrderedAndProject (bounded
    * per-partition heaps, never a global sort or window).
    */
  private val q266: Q = (s, dir) => {
    val keyQ =
      """CAST(round(
        |  log2((CAST(conv(substring(md5(cast(doc_id AS string)), 1, 5), 16, 10)
        |        AS BIGINT) % 1048576 + 1) / CAST(1048576 AS DOUBLE))
        |  / greatest(quality, CAST(0.05 AS DOUBLE)) * 1e9) AS BIGINT)"""
        .stripMargin
    TextStats.qualityScored(s, dir)
      .select(col("doc_id"), col("quality"))
      .withColumn("key_q", expr(keyQ))
      .orderBy(col("key_q").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), round(col("quality"), 6).as("quality"),
        col("key_q"))
  }

  private val q266Sql =
    s"""WITH ${graft.ops.TextStats.qualityMeasuresCte("qw", "qm")},
       |qual AS (SELECT doc_id, ${graft.ops.TextStats.qualityBlendSql}
       |  AS quality FROM qm),
       |keyed AS (SELECT doc_id, quality,
       |    CAST(round(
       |      log2((CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 5))
       |            AS BIGINT) % 1048576 + 1) / CAST(1048576 AS DOUBLE))
       |      / greatest(quality, CAST(0.05 AS DOUBLE)) * 1e9) AS BIGINT)
       |      AS key_q
       |  FROM qual)
       |SELECT doc_id, round(quality, 6) AS quality, key_q FROM (
       |  SELECT *, row_number() OVER (ORDER BY key_q DESC, doc_id) AS rn
       |  FROM keyed) t
       |WHERE rn <= 100
       |ORDER BY key_q DESC, doc_id""".stripMargin

  /** q302 — stochastic universal sampling (Baker '87 — systematic
    * weighted sampling, the particle-filter/data-mixing resampler):
    * k = 64 equally-spaced pointers sweep the cumulative weight axis
    * once, picking the doc whose weight interval contains each pointer
    * — EXACT expected counts (a doc with weight share p is picked
    * ⌊kp⌋ or ⌈kp⌉ times, never the multinomial variance of per-row
    * draws like q92, never the O(k log n) heap of a reservoir like
    * q266). All arithmetic is exact BIGINT on the 2k-scaled axis:
    * pointer j sits at W·(2j+1) and doc intervals are [2k·pfx,
    * 2k·(pfx+w)) — exact while W·2k < 2⁶³ (W < 7·10¹⁶ total weight at
    * k = 64; document char mass at 100 TB ≈ 10¹⁴, inside the bound).
    * Scale shape: the exclusive prefix sum is [[GlobalRank.prefixSum]]
    * (range partition + P-long driver metadata — never a single
    * reducer), the 64 pointers come from one 1-row aggregate exploded
    * and BROADCAST against the interval relation; each pointer matches
    * exactly one doc, so the nested-loop side is provably 64 rows.
    */
  private val q302: Q = (s, dir) => {
    val k = 64
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
    val pfx = GlobalRank.prefixSum(docs, "pfx", col("w"), Seq(col("doc_id")))
    val picks = docs.agg(sum("w").cast("long").as("W"))
      .select(explode(expr(s"transform(sequence(0, ${k - 1}), j -> " +
        "struct(CAST(j AS BIGINT) AS j, W * CAST(2*j + 1 AS BIGINT) AS t))"))
        .as("p"))
      .select(col("p.j").as("j"), col("p.t").as("target"))
    pfx.join(broadcast(picks),
        col("target") >= col("pfx") * (2 * k) &&
          col("target") < (col("pfx") + col("w")) * (2 * k))
      .select(col("j"), col("target"), col("doc_id"), col("w"))
      .orderBy("j")
  }

  private val q302Sql =
    """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
      |p AS (SELECT doc_id, w,
      |    CAST(coalesce(sum(w) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS pfx
      |  FROM d),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM d),
      |ps AS (SELECT CAST(j AS BIGINT) AS j, tw * (2*j + 1) AS target
      |  FROM t, unnest(generate_series(0, 63)) AS g(j))
      |SELECT ps.j, ps.target, p.doc_id, p.w
      |FROM ps JOIN p ON ps.target >= p.pfx * 128
      |              AND ps.target < (p.pfx + p.w) * 128
      |ORDER BY ps.j""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q302_systematic_sample", q302, q302Sql),
    Query("q290_l_diversity", q290, q290Sql),
    Query("q266_weighted_reservoir", q266, q266Sql),
    Query("q260_gram_df_spectrum", q260, q260Sql),
    Query("q255_k_anonymity", q255, q255Sql),
    Query("q117_postings", q117, q117Sql),
    Query("q118_degree_hist", q118, q118Sql),
    Query("q70_tfidf", q70, q70Sql),
    Query("q79_contamination", q79, q79Sql),
    Query("q83_source_stats", q83, q83Sql),
    Query("q87_dedup_incremental", q87, q87Sql),
    // q186 computes EXACTLY q87's result (the bloom is a plan-level
    // pre-filter, not a semantic change) — one oracle, two plans
    Query("q186_dedup_bloom", q186, q87Sql),
    Query("q226_bloom_fpp", q226, q226Sql),
    Query("q193_budget_allocation", q193, q193Sql),
    Query("q199_rank_fusion", q199, q199Sql),
    Query("q88_equidepth_buckets", q88, q88Sql),
    Query("q91_sequence_pack", q91, q91Sql),
    Query("q169_pack_efficiency", q169, q169Sql),
    Query("q92_weighted_sample", q92, q92Sql),
    Query("q71_sessionize_gap", q71, q71Sql),
    Query("q173_session_sequences", q173, q173Sql),
    Query("q72_dedup_keep_best", q72, q72Sql),
    Query("q74_embed_quantize", q74, q74Sql),
    Query("q75_bm25", q75, q75Sql),
    Query("q76_stratified_sample", q76, q76Sql),
    Query("q130_mixture_sample", q130, q130Sql),
    Query("q151_temp_mixture", q151, q151Sql),
    Query("q157_epoch_plan", q157, q157Sql),
    Query("q78_minhash_est", q78, q78Sql)
  )
}

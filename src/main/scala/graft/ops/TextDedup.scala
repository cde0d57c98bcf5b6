package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Deduplication suite for the LLM-data-pipeline layer (north star in
  * BASELINE.json; not present in the reference, which only mirrors rows —
  * reference `src/main.rs:159-175` reconciles by id, never by content).
  *
  * Four strategies, orthogonal in cost/recall:
  *  - q40 exact:   hash-groupBy on content digest — one shuffle on md5(text).
  *  - q41 minhash: shingle → 8-hash MinHash signature → 4 LSH bands → bucket
  *    join. The narrow (doc_id, band, hash) relation is the ONLY thing
  *    shuffled — signatures are computed map-side with higher-order
  *    functions, never materializing the shingle set off-heap. At 100 TB the
  *    band join is an equi-join on (band, hash) whose skew AQE handles;
  *    candidate verification would follow as a doc-pair join.
  *  - q42 simhash: 16-bit per-doc fingerprint, computed entirely map-side
  *    (one md5 per word, bit votes via aggregate) — groupable/broadcastable.
  *  - q43 ngram-jaccard: exact pairwise Jaccard *within blocks*
  *    (lang × length-band) — blocking bounds the quadratic term; the join is
  *    an equi-join on the block key, so it shuffles each block once.
  *
  * Every hash is md5 (hex text), the one digest with identical output in
  * Spark and DuckDB, so the oracle can replay the exact pipeline.
  */
object TextDedup {

  private type Q = (SparkSession, String) => DataFrame

  /** Word k-shingles as a SQL expression over a `words` array column.
    * Guarded: Spark's `sequence(1, n)` DESCENDS for n<1 (DuckDB's
    * generate_series returns empty), so short docs must short-circuit.
    */
  private[ops] def shinglesExpr(k: Int): String =
    s"""CASE WHEN size(words) < $k THEN array()
       |ELSE transform(sequence(1, size(words)-${k - 1}), i ->
       |  ${(0 until k).map(o => s"element_at(words, i+$o)").mkString(" || ' ' || ")})
       |END""".stripMargin.replaceAll("\n", " ")

  /** q40 — exact dedup: group on content digest. At scale: one shuffle on
    * the digest; the digest itself is computed map-side from the scanned
    * column, so the shuffle carries (digest, doc_id) only.
    */
  private val q40: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(md5(col("text")).as("text_md5"), col("doc_id"))
      .groupBy("text_md5")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_md5")

  private val q40Sql =
    """SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY text_md5""".stripMargin

  /** q41 — MinHash + LSH candidate pairs. Base hash u(s) = first 8 md5
    * hex digits of the shingle mod p (p = 2^31−1); 8 hash functions are the
    * affine family h_j(u) = ((2j+3)·u + 7919·(j+1)) mod p — one md5 per
    * shingle instead of eight, the rest exact integer arithmetic;
    * signature = per-j min over 3-shingles; 4 bands of 2 rows; docs
    * sharing a band bucket are candidates.
    */
  /** Sort-free candidate pairs — shared by q41 (which adds the oracle's
    * total ORDER BY) and the downstream q41b/q56 consumers, where a global
    * sort is pure cost: the range-partitioner's sampling pass re-runs the
    * input plan, so an inherited ORDER BY doubles the pipeline.
    */
  private[ops] def candPairs(s: SparkSession, dir: String): DataFrame = {
    // ONE md5 per shingle (the 100 TB cost driver: the old form hashed
    // every shingle 8x), then an affine rehash family over the 31-bit
    // base value: h_j(u) = ((2j+3)·u + 7919·(j+1)) mod p, p = 2^31−1.
    // Exact integer arithmetic — the oracle replays it verbatim.
    //
    // Shape: explode(shingles) → codegen'd md5 per row → groupBy(doc_id)
    // with 8 min aggregates. The earlier nested-higher-order-function form
    // (transform(sequence(0,7), j -> array_min(transform(us, ...)))) ran
    // INTERPRETED per lambda element (HOFs are outside whole-stage
    // codegen) and was the q41/q56 bench hotspot; this form keeps every
    // expression codegen'd, and the map-side partial min means the shuffle
    // carries ~one 8-long row per (doc, partition) — signatures still never
    // materialize the shingle set.
    val bands = bandRelation(s, dir)
    val a = bands.as("a")
    val c = bands.as("c")
    a.join(c, col("a.b") === col("c.b") && col("a.bh") === col("c.bh") &&
        col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()
  }

  /** Production (4 bands × 2 rows) banded signature relation
    * (doc_id, b, bh), persisted and partitioned on the (b, bh) join key —
    * one signature computation serves both sides of [[candPairs]]' self
    * join and both roles of q145's incremental join (cache-aligned
    * partitioning: NEITHER consumer re-shuffles it).
    */
  private def bandRelation(s: SparkSession, dir: String): DataFrame =
    bandsFor(Tables.spread(Tables.documents(s, dir)))
      .repartition(col("b"), col("bh"))
      .transform(graft.util.QueryCaches.tracked)

  /** Per-doc MinHash values as 8 columns (doc_id, h0..h7) over any
    * (doc_id, text) relation — the codegen'd explode → md5 → groupBy-min
    * shape shared by candPairs and [[minhashSignatures]].
    */
  private[graft] def sigColsFor(docs: DataFrame): DataFrame = {
    val p = 2147483647L
    val us = docs
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(shinglesExpr(3))).as("sh"))
      .select(col("doc_id"),
        (conv(substring(md5(col("sh")), 1, 8), 16, 10).cast("long") % p).as("u"))
    us.groupBy("doc_id").agg(
      min((col("u") * 3 + 7919L) % p).as("h0"),
      (1 until 8).map(j =>
        min((col("u") * (2 * j + 3) + 7919L * (j + 1)) % p).as(s"h$j")): _*)
  }

  private def sigCols(s: SparkSession, dir: String): DataFrame =
    sigColsFor(Tables.spread(Tables.documents(s, dir)))

  /** 4 two-hash band keys per doc over any (doc_id, text) relation —
    * [[bandRelation]]'s projection without its cache/partitioning.
    */
  private def bandsFor(docs: DataFrame): DataFrame =
    sigColsFor(docs)
      .select(col("doc_id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"),
          concat(col(s"h${2 * b}").cast("string"), lit(":"),
            col(s"h${2 * b + 1}").cast("string")).as("bh"))): _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.bh").as("bh"))

  /** Distinct 3-shingle sets per doc over any (doc_id, text) relation —
    * [[shingleSets]]'s projection without its cache.
    */
  private[graft] def shingleSetsFor(docs: DataFrame): DataFrame =
    docs.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), array_distinct(expr(shinglesExpr(3))).as("sh"))

  /** Signature relation (doc_id, mh: array<long>[8]) for estimator
    * audits (q78) — same values as the band pipeline, assembled into an
    * array AFTER the aggregate (array() of columns is codegen'd).
    */
  private[ops] def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    sigCols(s, dir).select(col("doc_id"),
      array((0 until 8).map(j => col(s"h$j")): _*).as("mh"))

  private val q41: Q = (s, dir) => candPairs(s, dir).orderBy("doc_a", "doc_b")

  /** The MinHash pipeline's oracle CTE chain (words → shingles → 31-bit
    * base hash → 8-hash affine signatures → 4 bands) — ONE definition,
    * interpolated into every oracle that replays the pipeline (q41, q41b,
    * q56 here; q78 in [[Corpus]]), so the hash family cannot silently
    * drift between a query's copy and the Spark implementation.
    */
  private[ops] val minhashCtes: String =
    """w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(words) < 3 THEN [] ELSE
      |    list_transform(generate_series(1, len(words)-2), i ->
      |      words[i] || ' ' || words[i+1] || ' ' || words[i+2]) END AS shingles
      |  FROM w),
      |us AS (SELECT doc_id,
      |  list_transform(shingles, s -> ('0x'||substr(md5(s),1,8))::BIGINT % 2147483647) AS us
      |  FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id,
      |  list_transform(generate_series(0,7), j ->
      |    list_min(list_transform(us, u -> ((2*j+3) * u + 7919 * (j+1)) % 2147483647))) AS mh
      |  FROM us),
      |bands AS (SELECT doc_id, b, mh[2*b+1]::VARCHAR || ':' || mh[2*b+2]::VARCHAR AS bh
      |  FROM sig, unnest(generate_series(0,3)) AS t(b))""".stripMargin

  /** [[minhashCtes]] + candidate pairs + distinct shingle sets — the
    * verification stage's shared oracle prefix.
    */
  private[ops] val minhashVerifyCtes: String =
    s"""$minhashCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM bands a JOIN bands c
       |    ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh)""".stripMargin

  private[ops] val q41Sql =
    s"""WITH $minhashCtes
       |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |FROM bands a JOIN bands c
       |  ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q179 — LSH join cost model: per band, the bucket-size histogram and
    * its IMPLIED candidate volume `Σ C(sz, 2)` — the exact number of
    * pairs the band self-join will emit, computed from one aggregate
    * BEFORE any pair materializes. This is the capacity-planning read
    * that sizes (or vetoes) a corpus dedup run: a single hot bucket
    * (boilerplate that survives shingling) shows up as `max_bucket`
    * here, predicting the q41 join's skew long before 100 TB of shuffle
    * discovers it, and the per-band totals are exactly what q143's
    * precision numbers trade against.
    *
    * Scale shape: reads the SAME persisted band relation as the q41
    * pipeline; two partial+final aggregates ((b, bh) sizes → per-band
    * rollup); all-integer outputs, no pair relation anywhere.
    */
  private val q179: Q = (s, dir) =>
    bandRelation(s, dir)
      .groupBy("b", "bh").agg(count(lit(1)).as("sz"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_buckets"), sum("sz").as("n_docs"),
        max("sz").as("max_bucket"),
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"))
      .orderBy("b")

  private val q179Sql =
    s"""WITH $minhashCtes,
       |bs AS (SELECT b, bh, CAST(count(*) AS BIGINT) AS sz
       |  FROM bands GROUP BY 1, 2)
       |SELECT CAST(b AS INTEGER) AS b, CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(sz) AS BIGINT) AS n_docs, max(sz) AS max_bucket,
       |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
       |FROM bs GROUP BY 1 ORDER BY b""".stripMargin

  /** q41b — LSH candidate VERIFICATION: the canonical second stage of the
    * MinHash pipeline. The band join over-generates (collisions); here each
    * candidate pair — and ONLY candidates, never all O(n²) pairs — is
    * joined back to its distinct 3-shingle sets and scored with exact
    * Jaccard. At 100 TB the candidate relation is tiny relative to the
    * corpus, so this stage costs two hash joins against the shingle-set
    * relation plus per-candidate set intersection.
    */
  /** Distinct 3-shingle sets per doc, persisted and partitioned by doc_id
    * so alias-aware partitioning serves every pair-join side from the
    * cache (the heavy shingle arrays shuffle once, at build). Shared by
    * [[verifiedPairs]] and q143's per-config verification.
    */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    shingleSetsFor(Tables.documents(s, dir).repartition(col("doc_id")))
      .transform(graft.util.QueryCaches.tracked)

  /** Exact Jaccard over a (doc_a, doc_b) pair relation against the
    * persisted shingle sets — the verification join both q41b and q143
    * run on candidates only, never on all pairs.
    */
  private def jaccardScored(cand: DataFrame, sets: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("sha"), col("shb")))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(inter.cast("double") /
          (size(col("sha")) + size(col("shb")) - inter), 4).as("jaccard"))
  }

  private[ops] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    jaccardScored(candPairs(s, dir), shingleSets(s, dir))

  /** Oracle CTE chain for the resolved duplicate clusters (verified pairs
    * ≥ 0.5 → symmetric closure → recursive reachability → min-label
    * components as `cc(doc_id, cluster_id)`) — ONE definition shared by
    * q56Sql/q144Sql/q162Sql (and Similarity's q167Sql, which composes it
    * with the embedding-side chain) so the cluster semantics cannot
    * drift between consumers. Callers must open with `WITH RECURSIVE`.
    */
  private[ops] val clusterCtes =
    s"""$minhashVerifyCtes,
       |edges AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |      round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jac
       |    FROM cand JOIN sets sa ON sa.doc_id = doc_a
       |              JOIN sets sb ON sb.doc_id = doc_b) t
       |  WHERE jac >= 0.5),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
       |        UNION SELECT doc_b, doc_a FROM edges),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
       |),
       |cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  private val q41b: Q = (s, dir) =>
    // persisted: the declared ORDER BY's range sampling otherwise re-runs
    // the whole verification pipeline as its sampling pass
    graft.util.QueryCaches.tracked(verifiedPairs(s, dir)).orderBy("doc_a", "doc_b")

  /** q139 — cross-source duplication matrix: which sources copy from which
    * — the corpus-forensics audit behind source weighting and crawler
    * de-listing decisions. Composes the MinHash pipeline's verified pairs
    * (q41b, jaccard ≥ 0.5) with the documents' source labels: two narrow
    * equi-joins of the TINY verified-pair relation against a persisted
    * (doc_id, source) projection, a canonical least/greatest fold so the
    * matrix is one-triangle, and a low-cardinality groupBy. Cost at
    * 100 TB is the already-bounded q41b pipeline plus |pairs|-sized
    * joins — the matrix itself is |sources|² at most.
    */
  private val q139: Q = (s, dir) => {
    val pairs = verifiedPairs(s, dir).filter(col("jaccard") >= 0.5)
    // small 2-column projection feeds both sides of the pair join
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .repartition(col("doc_id"))
      .transform(graft.util.QueryCaches.tracked)
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy("source_a", "source_b")
  }

  private val q139Sql =
    s"""WITH $minhashVerifyCtes,
       |vp AS (SELECT doc_a, doc_b,
       |  round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
       |    AS jaccard
       |  FROM cand JOIN sets sa ON sa.doc_id = doc_a
       |            JOIN sets sb ON sb.doc_id = doc_b),
       |lab AS (SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b
       |  FROM vp JOIN documents da ON da.doc_id = vp.doc_a
       |          JOIN documents db ON db.doc_id = vp.doc_b
       |  WHERE vp.jaccard >= 0.5)
       |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
       |FROM lab GROUP BY 1, 2
       |ORDER BY source_a, source_b""".stripMargin

  /** q143 — LSH band-shape tuning audit: the same 8-hash MinHash
    * signature banded three ways — 8 bands × 1 row (recall-heavy),
    * the production 4×2, and 2 bands × 4 rows (precision-heavy) — each
    * config's candidate volume, verified-duplicate count (exact Jaccard
    * ≥ 0.5 on candidates only), and precision. This is the audit that
    * sizes b×r before a corpus-scale dedup run: the S-curve math says
    * what SHOULD happen; this measures it on the actual corpus.
    *
    * Scale shape: the signature relation and the shingle sets are each
    * computed once (persisted) and reused by all three configs; per
    * config the cost is one banded equi-join + the candidates-only
    * verification — the same bounded dataflow as q41/q41b, ×3. At
    * 100 TB this audit runs on a deterministic sample (q62's digest
    * predicate) — tuning needs an estimate, not the full corpus.
    * A config with zero candidates reports precision 0 by definition
    * (not NULL/NaN) on both engines.
    */
  private val q143: Q = (s, dir) => {
    val sig = sigCols(s, dir).transform(graft.util.QueryCaches.tracked)
    val sets = shingleSets(s, dir)
    val perConfig = Seq(("b8r1", 8, 1), ("b4r2", 4, 2), ("b2r4", 2, 4)).map {
      case (name, b, r) =>
        val bands = sig.select(col("doc_id"), explode(array((0 until b).map(i =>
            struct(lit(i).as("b"), concat_ws(":",
              (0 until r).map(j => col(s"h${r * i + j}").cast("string")): _*).as("bh"))): _*))
            .as("band"))
          .select(col("doc_id"), col("band.b").as("b"), col("band.bh").as("bh"))
        val cand = bands.as("a").join(bands.as("c"),
            col("a.b") === col("c.b") && col("a.bh") === col("c.bh") &&
              col("a.doc_id") < col("c.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
          .distinct()
        jaccardScored(cand, sets)
          .agg(count(lit(1)).as("n_candidates"),
            coalesce(sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)), lit(0L))
              .as("n_verified"))
          .select(lit(name).as("config"), col("n_candidates"), col("n_verified"))
    }
    perConfig.reduce(_.unionByName(_))
      .withColumn("band_precision",
        when(col("n_candidates") === 0, lit(0.0))
          .otherwise(col("n_verified").cast("double") / col("n_candidates").cast("double")))
      .orderBy("config")
  }

  /** One band config's oracle CTEs (bands → distinct candidates →
    * verified counts), generated from the same (b, r) parameters as the
    * Spark side.
    */
  private def bandTuneCfgSql(name: String, b: Int, r: Int): String = {
    val bh = (1 to r).map(j => s"mh[$r*b + $j]::VARCHAR").mkString(" || ':' || ")
    s"""bands_$name AS (SELECT doc_id, b, $bh AS bh
       |  FROM sig, unnest(generate_series(0, ${b - 1})) AS t(b)),
       |cand_$name AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM bands_$name a JOIN bands_$name c
       |    ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id),
       |ver_$name AS (SELECT
       |    CAST(count(*) AS BIGINT) AS n_candidates,
       |    CAST(coalesce(sum(CASE WHEN round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) >= 0.5
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_verified
       |  FROM cand_$name JOIN sets sa ON sa.doc_id = doc_a
       |                  JOIN sets sb ON sb.doc_id = doc_b)""".stripMargin
  }

  private val q143Sql =
    s"""WITH $minhashVerifyCtes,
       |${bandTuneCfgSql("b8r1", 8, 1)},
       |${bandTuneCfgSql("b4r2", 4, 2)},
       |${bandTuneCfgSql("b2r4", 2, 4)}
       |SELECT config, n_candidates, n_verified,
       |  CASE WHEN n_candidates = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(n_verified AS DOUBLE) / CAST(n_candidates AS DOUBLE)
       |  END AS band_precision
       |FROM (
       |  SELECT 'b8r1' AS config, * FROM ver_b8r1
       |  UNION ALL SELECT 'b4r2' AS config, * FROM ver_b4r2
       |  UNION ALL SELECT 'b2r4' AS config, * FROM ver_b2r4)
       |ORDER BY config""".stripMargin

  /** q144 — dedup survivorship by QUALITY: the production canonical-
    * selection step that closes the dedup loop. q56 resolves clusters and
    * marks min-doc_id canonicals — the deterministic default — but a real
    * pipeline keeps the HIGHEST-QUALITY member of each near-dup cluster
    * (the SemDeDup/keep-best rule). Per multi-member cluster: the
    * survivor under (quality desc, doc_id asc) — q54's blend, which is
    * bit-identical across engines, so the float argmax is hash-exact —
    * plus member count and the character mass the dedup reclaims.
    *
    * Scale shape: the cluster relation is [[connectedComponents]]' output
    * (already O(log d) rounds over bounded edges); quality is a map-side
    * scan joined on doc_id; survivor selection is `max_by` over a
    * (quality, −doc_id) struct — a partial+final aggregate on cluster_id,
    * never a per-cluster ranking window.
    */
  private val q144: Q = (s, dir) => {
    val best = struct(col("quality"), (-col("doc_id")).as("nd"))
    lexicalClusters(s, dir)
      .select(col("doc_id"), col("label").as("cluster_id"))
      .join(TextStats.qualityScored(s, dir)
        .select(col("doc_id"), col("quality"), col("n_chars")), "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), best).as("survivor_id"),
        max_by(col("quality"), best).as("survivor_quality"),
        sum("n_chars").as("chars_total"),
        max_by(col("n_chars"), best).as("survivor_chars"))
      .select(col("cluster_id"), col("n_members"), col("survivor_id"),
        col("survivor_quality"), col("chars_total"),
        (col("chars_total") - col("survivor_chars")).as("chars_dropped"))
      .orderBy("cluster_id")
  }

  private val q144Sql =
    s"""WITH RECURSIVE
       |$clusterCtes,
       |${TextStats.qualityMeasuresCte("qw", "qm")},
       |qual AS (SELECT doc_id, ${TextStats.qualityBlendSql} AS quality FROM qm),
       |ranked AS (SELECT cc.doc_id, cc.cluster_id, qual.quality, d.n_chars,
       |    row_number() OVER (PARTITION BY cc.cluster_id
       |      ORDER BY qual.quality DESC, cc.doc_id) AS rn
       |  FROM cc JOIN qual ON qual.doc_id = cc.doc_id
       |          JOIN documents d ON d.doc_id = cc.doc_id)
       |SELECT cluster_id,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS survivor_id,
       |  max(CASE WHEN rn = 1 THEN quality END) AS survivor_quality,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
       |  CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
       |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** q177 — duplication↔quality bias audit: are near-duplicated
    * documents systematically lower-quality than unique ones? Joins the
    * cluster relation (every doc in some verified near-dup cluster)
    * against the q54 quality blend and compares the two populations —
    * the check that tells a pipeline whether dedup DOUBLES as a quality
    * filter on this corpus (boilerplate and mirrored spam cluster
    * heavily) or is orthogonal to it, i.e. whether the q144 keep-best
    * rule actually changes what survives.
    *
    * Third consumer of the shared [[lexicalClusters]] relation (after
    * q56-family and q167) — in a composed job the CC pipeline has
    * already run. Determinism: per-doc quality is quantized to BIGINT
    * BEFORE the population sums, so the means derive from exact
    * integers. One |docs|-row left join + a 2-row aggregate.
    */
  private val q177: Q = (s, dir) => {
    val cc = lexicalClusters(s, dir)
      .select(col("doc_id"), lit(1L).as("in_c"))
    TextStats.qualityScored(s, dir)
      .select(col("doc_id"), col("quality"), col("n_chars"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("role",
        when(col("in_c").isNotNull, "duplicated").otherwise("unique"))
      .withColumn("qq", expr("CAST(round(quality * 1e7) AS BIGINT)"))
      .groupBy("role")
      .agg(count(lit(1)).as("n_docs"), sum("qq").as("sqq"),
        sum("n_chars").as("schars"))
      .select(col("role"), col("n_docs"),
        (col("sqq").cast("double") / (col("n_docs").cast("double") * 1e7))
          .as("mean_quality"),
        (col("schars").cast("double") / col("n_docs").cast("double"))
          .as("mean_chars"))
      .orderBy("role")
  }

  private val q177Sql =
    s"""WITH RECURSIVE
       |$clusterCtes,
       |${TextStats.qualityMeasuresCte("qw", "qm")},
       |qual AS (SELECT doc_id, ${TextStats.qualityBlendSql} AS quality FROM qm),
       |mk AS (SELECT q.doc_id,
       |    CAST(round(q.quality * 1e7) AS BIGINT) AS qq, d.n_chars,
       |    CASE WHEN cc.doc_id IS NOT NULL THEN 'duplicated'
       |         ELSE 'unique' END AS role
       |  FROM qual q JOIN documents d USING (doc_id)
       |  LEFT JOIN cc ON cc.doc_id = q.doc_id)
       |SELECT role, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(CAST(sum(qq) AS BIGINT) AS DOUBLE)
       |    / (CAST(count(*) AS DOUBLE) * 1e7) AS mean_quality,
       |  CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS mean_chars
       |FROM mk GROUP BY role ORDER BY role""".stripMargin

  /** q145 — incremental LSH dedup: a new crawl batch deduped against the
    * EXISTING corpus without ever re-pairing the corpus with itself — the
    * daily-ingest path (q87 is the exact-hash twin; this is the near-dup
    * one). The batch here is the deterministic `doc_id % 10 = 0` slice, a
    * stand-in for an ingest partition. Candidates come from banding the
    * batch's signatures against the corpus side only (new×old, never
    * old×old), then exact-Jaccard verification on candidates.
    *
    * At 100 TB the corpus side is a PERSISTED banded-signature index
    * (written once, re-joined by every increment), so each increment
    * costs |batch| signature computations + one equi-join against the
    * index + candidates-only verification — candidate volume scales with
    * the batch, not the corpus.
    */
  private val q145: Q = (s, dir) => {
    val isNew = col("doc_id") % 10 === 0
    // bands computed once for both roles (the cache is the stand-in for
    // the persisted index; an increment job would read it, not build it)
    val bands = bandRelation(s, dir)
    val cand = bands.filter(isNew).as("a")
      .join(bands.filter(!isNew).as("c"),
        col("a.b") === col("c.b") && col("a.bh") === col("c.bh"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()
    jaccardScored(cand, shingleSets(s, dir))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("new_id"), col("doc_b").as("corpus_id"),
        col("jaccard"))
      .orderBy("new_id", "corpus_id")
  }

  private val q145Sql =
    s"""WITH $minhashVerifyCtes,
       |inc AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh
       |  WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0)
       |SELECT doc_a AS new_id, doc_b AS corpus_id, jaccard FROM (
       |  SELECT doc_a, doc_b,
       |    round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
       |      AS jaccard
       |  FROM inc JOIN sets sa ON sa.doc_id = doc_a
       |           JOIN sets sb ON sb.doc_id = doc_b) t
       |WHERE jaccard >= 0.5
       |ORDER BY new_id, corpus_id""".stripMargin

  /** q146 — corpus admission manifest: the materialization step a
    * training pipeline actually ships — every document's final verdict
    * through the composed gate chain: exact duplicate (q40's digest
    * rule, keep the min doc_id) → near-duplicate cluster survivorship
    * (q144's highest-quality-survives rule) → quality admission (q54's
    * keep rule), with the FIRST failing gate as the per-document verdict
    * (`exact_duplicate` / `near_duplicate` / `low_quality` / `kept`).
    * This is the audit a user runs to answer "why was this document
    * dropped?" and the manifest the filtered corpus is written from.
    *
    * Scale shape: three narrow doc_id-keyed equi-joins over relations
    * this inventory already bounds — one digest groupBy (q40), the
    * connected-components cluster relation + a max_by survivor aggregate
    * (q144), and the map-side quality scan (q54). Documents in no
    * near-dup cluster left-join to a null survivor flag (= keep).
    */
  private val q146: Q = (s, dir) => {
    val canon = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("m"))
    val exact = canon
      .join(canon.groupBy("m").agg(min("doc_id").as("canon_id")), "m")
      .select(col("doc_id"), (col("doc_id") === col("canon_id")).as("exact_keep"))
    val qual = TextStats.qualityScored(s, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
      .transform(graft.util.QueryCaches.tracked)
    val cc = lexicalClusters(s, dir)
      .select(col("doc_id"), col("label").as("cluster_id"))
    val best = struct(col("quality"), (-col("doc_id")).as("nd"))
    val surv = cc.join(qual, "doc_id")
      .groupBy("cluster_id")
      .agg(max_by(col("doc_id"), best).as("survivor_id"))
    val near = cc.join(surv, "cluster_id")
      .select(col("doc_id"), (col("doc_id") === col("survivor_id")).as("near_keep"))
    qual.join(exact, "doc_id")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("exact_keep"), lit("exact_duplicate"))
          .when(!coalesce(col("near_keep"), lit(true)), lit("near_duplicate"))
          .when(!(col("quality") >= 0.5 && col("n_tokens") >= 5), lit("low_quality"))
          .otherwise(lit("kept")).as("verdict"))
      .orderBy("doc_id")
  }

  private val q146Sql =
    s"""WITH RECURSIVE
       |$minhashVerifyCtes,
       |edges AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |      round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jac
       |    FROM cand JOIN sets sa ON sa.doc_id = doc_a
       |              JOIN sets sb ON sb.doc_id = doc_b) t
       |  WHERE jac >= 0.5),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
       |        UNION SELECT doc_b, doc_a FROM edges),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
       |),
       |cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
       |${TextStats.qualityMeasuresCte("qw", "qm")},
       |qual AS (SELECT doc_id, ${TextStats.qualityBlendSql} AS quality,
       |  n_tokens FROM qm),
       |ex AS (SELECT doc_id,
       |  (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS exact_keep
       |  FROM documents),
       |ranked AS (SELECT cc.doc_id,
       |    row_number() OVER (PARTITION BY cc.cluster_id
       |      ORDER BY q.quality DESC, cc.doc_id) AS rn
       |  FROM cc JOIN qual q ON q.doc_id = cc.doc_id)
       |SELECT qual.doc_id,
       |  CASE WHEN NOT ex.exact_keep THEN 'exact_duplicate'
       |       WHEN NOT coalesce(ranked.rn = 1, TRUE) THEN 'near_duplicate'
       |       WHEN NOT (qual.quality >= 0.5 AND qual.n_tokens >= 5) THEN 'low_quality'
       |       ELSE 'kept' END AS verdict
       |FROM qual JOIN ex ON ex.doc_id = qual.doc_id
       |  LEFT JOIN ranked ON ranked.doc_id = qual.doc_id
       |ORDER BY qual.doc_id""".stripMargin

  /** q251 — the full admission pipeline as ONE declared Spark job: the
    * composed chain a real corpus build runs end-to-end — exact-dup gate
    * (q40's digest rule) → near-dup cluster survivorship over the SHARED
    * [[lexicalClusters]] relation (q144's highest-quality-survives rule)
    * → quality admission (q54's blend + q146's thresholds) → per-source
    * admission funnel → temperature-scaled mixture over the ADMITTED
    * token mass (q151's α=½ rule). One row per source: how many docs
    * each gate dropped, what survived, and the sampling share the
    * mixture assigns it.
    *
    * Composition is the point: every expensive kernel here is a shared
    * relation this inventory already pays for once per session — the CC
    * cluster relation comes from the keyed registry (built once even if
    * q56/q144/q146 ran first; `SharedRelationSpec` asserts the
    * build-once property for this query), quality is the one tracked
    * scan, and the mixture is a |sources|-row aggregate + a 1-row
    * broadcast. Nothing in the chain re-pairs, re-clusters, or windows;
    * at 100 TB this is three narrow doc_id joins over bounded relations
    * and two tiny aggregates on top of work the dedup stage already did.
    *
    * Determinism: the funnel counts are exact BIGINTs; the temperature
    * mass is `floor(sqrt(tokens)·1e6)::BIGINT` per source (q151's
    * quantize-before-Σ discipline) so `temp_share` is one IEEE divide of
    * exact integers, with a tot_sq = 0 guard on both engines.
    */
  private val q251: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val canon = docs.select(col("doc_id"), md5(col("text")).as("m"))
    val exact = canon
      .join(canon.groupBy("m").agg(min("doc_id").as("canon_id")), "m")
      .select(col("doc_id"), (col("doc_id") === col("canon_id")).as("exact_keep"))
    val qual = TextStats.qualityScored(s, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
      .transform(graft.util.QueryCaches.tracked)
    val cc = lexicalClusters(s, dir)
      .select(col("doc_id"), col("label").as("cluster_id"))
    val best = struct(col("quality"), (-col("doc_id")).as("nd"))
    val surv = cc.join(qual, "doc_id")
      .groupBy("cluster_id")
      .agg(max_by(col("doc_id"), best).as("survivor_id"))
    val near = cc.join(surv, "cluster_id")
      .select(col("doc_id"), (col("doc_id") === col("survivor_id")).as("near_keep"))
    val verd = docs.select(col("doc_id"), col("source"))
      .join(qual, "doc_id")
      .join(exact, "doc_id")
      .join(near, Seq("doc_id"), "left")
      .select(col("source"), col("n_tokens"),
        when(!col("exact_keep"), lit("exact_duplicate"))
          .when(!coalesce(col("near_keep"), lit(true)), lit("near_duplicate"))
          .when(!(col("quality") >= 0.5 && col("n_tokens") >= 5), lit("low_quality"))
          .otherwise(lit("kept")).as("verdict"))
    val per = verd.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("verdict") === "exact_duplicate", 1L).otherwise(0L))
          .as("n_exact_dup"),
        sum(when(col("verdict") === "near_duplicate", 1L).otherwise(0L))
          .as("n_near_dup"),
        sum(when(col("verdict") === "low_quality", 1L).otherwise(0L))
          .as("n_low_quality"),
        sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("verdict") === "kept", col("n_tokens")).otherwise(0L))
          .as("admitted_tokens"))
      .withColumn("sq",
        expr("CAST(floor(sqrt(CAST(admitted_tokens AS DOUBLE)) * 1e6) AS BIGINT)"))
    val tot = per.agg(sum("sq").as("tot_sq"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_exact_dup"),
        col("n_near_dup"), col("n_low_quality"), col("n_admitted"),
        col("admitted_tokens"),
        expr("""CASE WHEN tot_sq = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE) END"""
          .stripMargin).as("temp_share"))
      .orderBy("source")
  }

  private val q251Sql =
    s"""WITH RECURSIVE
       |$clusterCtes,
       |${TextStats.qualityMeasuresCte("qw", "qm")},
       |qual AS (SELECT doc_id, ${TextStats.qualityBlendSql} AS quality,
       |  n_tokens FROM qm),
       |ex AS (SELECT doc_id,
       |  (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS exact_keep
       |  FROM documents),
       |ranked AS (SELECT cc.doc_id,
       |    row_number() OVER (PARTITION BY cc.cluster_id
       |      ORDER BY q.quality DESC, cc.doc_id) AS rn
       |  FROM cc JOIN qual q ON q.doc_id = cc.doc_id),
       |verd AS (SELECT d.source, qual.n_tokens,
       |    CASE WHEN NOT ex.exact_keep THEN 'exact_duplicate'
       |         WHEN NOT coalesce(ranked.rn = 1, TRUE) THEN 'near_duplicate'
       |         WHEN NOT (qual.quality >= 0.5 AND qual.n_tokens >= 5)
       |           THEN 'low_quality'
       |         ELSE 'kept' END AS verdict
       |  FROM qual JOIN ex ON ex.doc_id = qual.doc_id
       |  JOIN documents d ON d.doc_id = qual.doc_id
       |  LEFT JOIN ranked ON ranked.doc_id = qual.doc_id),
       |per AS (SELECT source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN verdict = 'exact_duplicate' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_exact_dup,
       |    CAST(sum(CASE WHEN verdict = 'near_duplicate' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_near_dup,
       |    CAST(sum(CASE WHEN verdict = 'low_quality' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_low_quality,
       |    CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_admitted,
       |    CAST(sum(CASE WHEN verdict = 'kept' THEN n_tokens ELSE 0 END)
       |      AS BIGINT) AS admitted_tokens
       |  FROM verd GROUP BY source),
       |per2 AS (SELECT *,
       |    CAST(floor(sqrt(CAST(admitted_tokens AS DOUBLE)) * 1e6) AS BIGINT)
       |      AS sq FROM per),
       |tot AS (SELECT CAST(sum(sq) AS BIGINT) AS tot_sq FROM per2)
       |SELECT source, n_docs, n_exact_dup, n_near_dup, n_low_quality,
       |  n_admitted, admitted_tokens,
       |  CASE WHEN tot_sq = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE) END
       |    AS temp_share
       |FROM per2 CROSS JOIN tot ORDER BY source""".stripMargin

  /** q258 — near-dup cluster edge density: per resolved cluster (≥ 2
    * members), its size, direct verified-edge count, and density
    * 2e/(s(s−1)) — the audit that separates TIGHT clusters (mutual
    * near-dups: density ≈ 1, safe for q144's keep-one survivorship)
    * from CHAINS (density → 0: A~B~C where A and C are NOT near-dups,
    * the transitive-closure overreach every CC-based dedup risks). Low-
    * density large clusters are where keep-one deletes non-duplicates —
    * this is the query that finds them before the deletion does.
    *
    * Composition: fourth consumer of the keyed-shared [[lexicalClusters]]
    * relation, plus the verified-pair relation both already paid for;
    * the density math is one cluster-keyed equi-join + two bounded
    * aggregates. Counts exact; one IEEE divide per cluster.
    */
  private val q258: Q = (s, dir) => {
    val cc = lexicalClusters(s, dir)
      .select(col("doc_id"), col("label").as("cluster_id"))
      .transform(graft.util.QueryCaches.tracked)
    val edges = verifiedPairs(s, dir).filter(col("jaccard") >= 0.5)
      .select(col("doc_a"))
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    val ecnt = edges
      .join(cc.select(col("doc_id").as("doc_a"), col("cluster_id")), "doc_a")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
    sizes.join(ecnt, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("density", expr(
        """round(CAST(2 * n_edges AS DOUBLE)
          |  / (CAST(n_members AS DOUBLE) * CAST(n_members - 1 AS DOUBLE)), 6)"""
          .stripMargin))
      .orderBy("cluster_id")
  }

  private val q258Sql =
    s"""WITH RECURSIVE
       |$clusterCtes,
       |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
       |  FROM cc GROUP BY 1 HAVING count(*) >= 2),
       |ec AS (SELECT cc.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
       |  FROM edges e JOIN cc ON cc.doc_id = e.doc_a GROUP BY 1)
       |SELECT s.cluster_id, s.n_members,
       |  coalesce(ec.n_edges, 0) AS n_edges,
       |  round(CAST(2 * coalesce(ec.n_edges, 0) AS DOUBLE)
       |    / (CAST(s.n_members AS DOUBLE) * CAST(s.n_members - 1 AS DOUBLE)), 6)
       |    AS density
       |FROM sizes s LEFT JOIN ec USING (cluster_id)
       |ORDER BY s.cluster_id""".stripMargin

  private val q41bSql =
    s"""WITH $minhashVerifyCtes
       |SELECT doc_a, doc_b,
       |  round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
       |    AS jaccard
       |FROM cand JOIN sets sa ON sa.doc_id = doc_a
       |          JOIN sets sb ON sb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q187 — dedup threshold policy curve: for Jaccard thresholds
    * 0.5/0.7/0.9, how many verified pairs fire, how many documents the
    * keep-first rule (drop the higher doc_id of each pair, q41b's
    * orientation) would remove, and how much character mass that
    * reclaims — the cost/benefit table that picks a dedup threshold
    * before a corpus run commits to one. Scale shape: the verified-pair
    * relation (already bounded: candidates only) is scored ONCE and the
    * 3 thresholds explode map-side onto it — no threshold re-runs the
    * pipeline and no theta join anywhere; the drop-set dedup is one
    * (threshold, doc) distinct + an equi-join to the 2-column doc-size
    * projection; thresholds with zero pairs survive via the 3-row
    * literal frame's left joins.
    */
  private val q187: Q = (s, dir) => {
    val vp = graft.util.QueryCaches.tracked(verifiedPairs(s, dir))
    val thresholds = array(lit(0.5), lit(0.7), lit(0.9))
    val pt = vp.select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(thresholds).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .transform(graft.util.QueryCaches.tracked)
    val np = pt.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val sizes = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_chars"))
    val dr = pt.select("threshold", "doc_b").distinct()
      .join(sizes, col("doc_b") === col("doc_id"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_dropped"), sum("n_chars").as("reclaimed_chars"))
    s.range(1).select(explode(thresholds).as("threshold"))
      .join(broadcast(np), Seq("threshold"), "left")
      .join(broadcast(dr), Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("reclaimed_chars"), lit(0L)).as("reclaimed_chars"))
      .orderBy("threshold")
  }

  private val q187Sql =
    s"""WITH $minhashVerifyCtes,
       |vp AS (SELECT doc_a, doc_b,
       |    round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
       |      AS jaccard
       |  FROM cand JOIN sets sa ON sa.doc_id = doc_a
       |            JOIN sets sb ON sb.doc_id = doc_b),
       |t AS (SELECT unnest([0.5, 0.7, 0.9]) AS threshold),
       |pt AS (SELECT t.threshold, vp.doc_a, vp.doc_b
       |  FROM t JOIN vp ON vp.jaccard >= t.threshold),
       |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM pt GROUP BY 1),
       |dr AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_dropped,
       |    CAST(sum(d.n_chars) AS BIGINT) AS reclaimed_chars
       |  FROM (SELECT DISTINCT threshold, doc_b FROM pt) x
       |  JOIN documents d ON d.doc_id = x.doc_b GROUP BY 1)
       |SELECT t.threshold,
       |  coalesce(np.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
       |  coalesce(dr.n_dropped, CAST(0 AS BIGINT)) AS n_dropped,
       |  coalesce(dr.reclaimed_chars, CAST(0 AS BIGINT)) AS reclaimed_chars
       |FROM t LEFT JOIN np USING (threshold) LEFT JOIN dr USING (threshold)
       |ORDER BY threshold""".stripMargin

  /** q189 — MinHash estimator calibration: candidate pairs bucketed by
    * their 8-hash signature agreement (0..8 matching minhashes, q78's
    * estimator) against the EXACT shingle Jaccard of the same pairs —
    * the empirical S-curve that tells you what an estimated similarity
    * actually means before trusting the estimator at 100 TB (where exact
    * verification of every pair is the expensive step being rationed).
    * Scale shape: signatures and shingle sets are the pipeline's
    * already-persisted relations; the match count is a map-side
    * zip_with over two 8-long arrays on the bounded candidate relation;
    * the mean exact Jaccard aggregates from integer-quantized per-pair
    * scores (round(j·10⁴), the q128 exact-mean discipline).
    */
  private val q189: Q = (s, dir) => {
    val sigs = minhashSignatures(s, dir)
    val scored = graft.util.QueryCaches.tracked(
      jaccardScored(candPairs(s, dir), shingleSets(s, dir)))
    scored
      .join(sigs.select(col("doc_id").as("doc_a"), col("mh").as("ma")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("mh").as("mb")), "doc_b")
      .select(
        expr("CAST(size(filter(zip_with(ma, mb, (x, y) -> x = y), b -> b)) AS INT)")
          .as("est_matches"),
        expr("CAST(round(jaccard * 1e4) AS BIGINT)").as("jq"))
      .groupBy("est_matches")
      .agg(count(lit(1)).as("n_pairs"), sum("jq").as("sjq"))
      .select(col("est_matches"),
        (col("est_matches").cast("double") / 8).as("est_sim"),
        col("n_pairs"),
        (col("sjq").cast("double") / col("n_pairs") / 1e4).as("mean_jaccard"))
      .orderBy("est_matches")
  }

  private val q189Sql =
    s"""WITH $minhashVerifyCtes,
       |vp AS (SELECT doc_a, doc_b,
       |    CAST(round(round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
       |      * 1e4) AS BIGINT) AS jq
       |  FROM cand JOIN sets sa ON sa.doc_id = doc_a
       |            JOIN sets sb ON sb.doc_id = doc_b),
       |em AS (SELECT vp.doc_a, vp.doc_b, vp.jq,
       |    CAST(list_sum(list_transform(generate_series(1, 8), i ->
       |      CASE WHEN a.mh[i] = b.mh[i] THEN 1 ELSE 0 END)) AS INTEGER)
       |      AS est_matches
       |  FROM vp JOIN sig a ON a.doc_id = vp.doc_a
       |          JOIN sig b ON b.doc_id = vp.doc_b)
       |SELECT est_matches, est_matches::DOUBLE / 8 AS est_sim,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(CAST(sum(jq) AS BIGINT) AS DOUBLE) / count(*) / 1e4 AS mean_jaccard
       |FROM em GROUP BY 1 ORDER BY est_matches""".stripMargin

  /** q323 — WEIGHTED MinHash calibration: the dedup stack's MinHash
    * treats a document as a shingle SET, so a token appearing 40× and
    * a token appearing once weigh the same — wrong for long documents,
    * where production near-dup uses tf-weighted Jaccard
    * J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b). For INTEGER
    * weights the exact consistent-weighted-sampling scheme is the unary
    * expansion (the baseline Ioffe ICDM'10 §1 generalizes): minhash the
    * multiset {(t, i) : 0 ≤ i < tf(t)} — then P(minhash match) = J_w
    * exactly, by the same argmin argument as the set case. Signatures
    * use the SAME 31-bit base-hash + 8 affine permutations as the
    * unweighted pipeline ([[minhashCtes]]'s family), applied per
    * occurrence copy, so the two estimators differ ONLY in weighting.
    * Output, q189's calibration shape: the pipeline's LSH candidate
    * pairs bucketed by 0..8 signature agreement against their exact
    * mean J_w — the S-curve that says what a weighted estimate means
    * before rationing exact verification at 100 TB.
    *
    * Scale shape: the expansion multiplies the DISTINCT (doc, token)
    * relation back up to at most the original token-occurrence count
    * (Σtf), each occurrence hashed once (codegen'd md5) with 8 cheap
    * affine variants folded into ONE map-side-combinable groupBy; the
    * exact-J_w join runs on candidates only, never all pairs.
    * Candidates sharing no token keep J_w = 0 via the left join — the
    * pair relation never shrinks silently. Integer to the per-pair
    * 10⁻⁴ quantization (one correctly-rounded double division), exact
    * BIGINT sums after.
    */
  private val q323: Q = (s, dir) => {
    val tf = graft.util.QueryCaches.tracked(
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    val occ = tf.select(col("doc_id"), col("tok"), col("tf"),
        explode(expr("sequence(0, tf - 1)")).as("cpy"))
      .withColumn("u", expr(
        "CAST(conv(substring(md5(concat(tok, ':', CAST(cpy AS STRING))), " +
          "1, 8), 16, 10) AS BIGINT) % 2147483647"))
    val mins = (0 until 8).map(j =>
      min(expr(s"((2 * $j + 3) * u + 7919 * ($j + 1)) % 2147483647"))
        .as(s"m$j"))
    val wsig = graft.util.QueryCaches.tracked(
      occ.groupBy("doc_id").agg(mins.head, mins.tail: _*))
    val lens = graft.util.QueryCaches.tracked(
      tf.groupBy("doc_id").agg(sum("tf").as("len")))
    val cand = graft.util.QueryCaches.tracked(candPairs(s, dir))
    val ia = cand
      .join(tf.select(col("doc_id").as("doc_a"), col("tok"),
        col("tf").as("tfa")), "doc_a")
      .join(tf.select(col("doc_id").as("doc_b"), col("tok"),
        col("tf").as("tfb")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("tfa"), col("tfb"))).as("inter"))
    val scored = cand.join(ia, Seq("doc_a", "doc_b"), "left_outer")
      .join(lens.select(col("doc_id").as("doc_a"), col("len").as("la")),
        "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("len").as("lb")),
        "doc_b")
      .withColumn("jwq", expr(
        "CAST(round(CAST(coalesce(inter, 0L) AS DOUBLE) * 1e4 / " +
          "CAST(la + lb - coalesce(inter, 0L) AS DOUBLE)) AS BIGINT)"))
    val aCols = col("doc_id").as("doc_a") +:
      (0 until 8).map(j => col(s"m$j").as(s"a$j"))
    val bCols = col("doc_id").as("doc_b") +:
      (0 until 8).map(j => col(s"m$j").as(s"b$j"))
    scored
      .join(wsig.select(aCols: _*), "doc_a")
      .join(wsig.select(bCols: _*), "doc_b")
      .withColumn("est_matches",
        (0 until 8).map(j =>
          when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
          .reduce(_ + _).cast("int"))
      .groupBy("est_matches")
      .agg(count(lit(1)).as("n_pairs"), sum("jwq").as("sjq"))
      .select(col("est_matches"),
        (col("est_matches").cast("double") / 8).as("est_sim"),
        col("n_pairs"),
        (col("sjq").cast("double") / col("n_pairs") / 1e4)
          .as("mean_wjaccard"))
      .orderBy("est_matches")
  }

  private val q323Sql: String = {
    val minCols = (0 until 8).map(j =>
      s"min((${2 * j + 3} * u + ${7919 * (j + 1)}) % 2147483647) AS m$j")
      .mkString(",\n|    ")
    val matchSum = (0 until 8).map(j =>
      s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashVerifyCtes,
       |tf AS MATERIALIZED (SELECT doc_id, tok,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents) t
       |  GROUP BY 1, 2),
       |occ AS (SELECT doc_id,
       |    ('0x' || substr(md5(tok || ':' || CAST(cpy AS VARCHAR)), 1, 8))
       |      ::BIGINT % 2147483647 AS u
       |  FROM (SELECT doc_id, tok,
       |          unnest(generate_series(0, tf - 1)) AS cpy FROM tf) t),
       |wsig AS MATERIALIZED (SELECT doc_id,
       |    $minCols
       |  FROM occ GROUP BY 1),
       |lens AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
       |  FROM tf GROUP BY 1),
       |ia AS (SELECT c.doc_a, c.doc_b,
       |    CAST(sum(LEAST(ta.tf, tb.tf)) AS BIGINT) AS inter
       |  FROM cand c JOIN tf ta ON ta.doc_id = c.doc_a
       |              JOIN tf tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
       |  GROUP BY 1, 2),
       |sc AS (SELECT c.doc_a, c.doc_b,
       |    CAST(round(CAST(COALESCE(ia.inter, 0) AS DOUBLE) * 1e4 /
       |      CAST(la.len + lb.len - COALESCE(ia.inter, 0) AS DOUBLE))
       |      AS BIGINT) AS jwq
       |  FROM cand c
       |  LEFT JOIN ia ON ia.doc_a = c.doc_a AND ia.doc_b = c.doc_b
       |  JOIN lens la ON la.doc_id = c.doc_a
       |  JOIN lens lb ON lb.doc_id = c.doc_b),
       |em AS (SELECT sc.doc_a, sc.doc_b, sc.jwq,
       |    CAST(($matchSum) AS INTEGER) AS est_matches
       |  FROM sc JOIN wsig a ON a.doc_id = sc.doc_a
       |          JOIN wsig b ON b.doc_id = sc.doc_b)
       |SELECT est_matches, est_matches::DOUBLE / 8 AS est_sim,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(CAST(sum(jwq) AS BIGINT) AS DOUBLE) / count(*) / 1e4
       |    AS mean_wjaccard
       |FROM em GROUP BY 1 ORDER BY est_matches""".stripMargin
  }

  /** q42 — SimHash: 16-bit fingerprint from per-word md5 bit votes. Entirely
    * map-side (no shuffle until the final orderBy): each word hashed once,
    * each of 16 nibble-high-bits voted ±1, majority forms the bit.
    */
  /** Per-doc simhash bit votes: explode(words) → codegen'd md5 → ONE
    * grouped aggregate with `bits` sum columns (map-side combined).
    * v_j > 0 ⇔ bit j set. The earlier nested-lambda form
    * (aggregate(sequence(1,n), aggregate(hs, ...))) evaluated
    * n × words interpreted dispatches per document.
    */
  private def bitVotes(s: SparkSession, dir: String, bits: Int): DataFrame = {
    def vote(j: Int) = sum(when(substring(col("h"), j, 1)
      .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1))
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", md5(col("w")))
      .groupBy("doc_id")
      .agg(vote(1).as("v1"), (2 to bits).map(j => vote(j).as(s"v$j")): _*)
  }

  /** 64 bit votes in ONE grouped aggregate, as two 32-vote families over
    * the same per-word md5: `v1..v32` from each hex digit's high bit
    * (the [[bitVotes]] rule), `u1..u32` from its second bit (digit ∈
    * {4-7, c-f}) — two independent fair coin flips per digit. Two 32-bit
    * WORDS rather than one 64-bit fingerprint because the oracle engine
    * checks shifts into the BIGINT sign bit (the `<< 63` hazard); every
    * shift here stays < 32 on both engines.
    */
  private def bitVotes64(s: SparkSession, dir: String): DataFrame = {
    def voteHi(j: Int) = sum(when(substring(col("h"), j, 1)
      .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1))
    def voteLo(j: Int) = sum(when(substring(col("h"), j, 1)
      .isin("4", "5", "6", "7", "c", "d", "e", "f"), 1).otherwise(-1))
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", md5(col("w")))
      .groupBy("doc_id")
      .agg(voteHi(1).as("v1"),
        ((2 to 32).map(j => voteHi(j).as(s"v$j")) ++
         (1 to 32).map(j => voteLo(j).as(s"u$j"))): _*)
  }

  private val q42: Q = (s, dir) =>
    bitVotes(s, dir, 16).select(col("doc_id"),
      concat((1 to 16).map(j =>
        when(col(s"v$j") > 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
      .orderBy("doc_id")

  private val q42Sql =
    """WITH w AS (SELECT doc_id,
      |  list_transform(string_split(text,' '), x -> md5(x)) AS hs FROM documents)
      |SELECT doc_id, list_aggregate(list_transform(generate_series(1,16), j ->
      |  CASE WHEN list_sum(list_transform(hs, h ->
      |    CASE WHEN substr(h,j,1) IN ('8','9','a','b','c','d','e','f')
      |    THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END), 'string_agg', '')
      |  AS simhash
      |FROM w ORDER BY doc_id""".stripMargin

  /** q43 — blocked n-gram Jaccard with PPJoin-style PREFIX FILTERING:
    * distinct word-bigram sets, pairs within (lang, n_chars/100) blocks,
    * Jaccard ≥ 0.1.
    *
    * Candidate generation joins only on each document's PREFIX tokens —
    * its (n − ⌈t·n⌉ + 1) rarest shingles under a global (document
    * frequency asc, shingle asc) total order — then verifies candidates
    * with exact Jaccard. Losslessness (Chaudhuri et al. 2006 / PPJoin,
    * Xiao et al. 2008): J(x,y) ≥ t ⟹ |x∩y| ≥ ⌈t·max(|x|,|y|)⌉, and the
    * globally-smallest shared token must sit within both prefixes. This
    * is what bounds the quadratic term at 100 TB: hot stopword bigrams
    * have the HIGHEST df, so they sort to the suffix and never generate
    * candidate pairs — the round-1 verdict's unbounded-block failure mode.
    * The df/rank/prefix stages shuffle only narrow (doc, token) rows.
    */
  /** q61 — SimHash near-duplicate PAIRS: the retrieval stage q42's
    * fingerprints feed at scale (Charikar/Manku-style dedup: 64-bit
    * fingerprint, Hamming ≤ 3 — Manku et al., WWW'07). Banded into
    * 4 × 16-bit pieces; by pigeonhole, any pair within Hamming distance
    * 3 shares an identical 16-bit band, so the banded equi-join is
    * COMPLETE for the ≤ 3 threshold reported. Exact Hamming is counted
    * on candidates only — same candidates-then-verify shape as
    * q41b/q43, never all pairs.
    */
  /** Banded 64-bit simhash relation (doc_id, sh_hi, sh_lo, b, nib) —
    * keyed-shared by q61 (thresholded pairs) and q269 (the distance
    * spectrum), so a composed dedup-tuning job pays the fingerprint
    * build once. Integer fingerprint words: hamming is two bit_counts
    * of xor — the string-per-bit formulation shuffled fingerprint text
    * per candidate and compared substrings per pair (GC pressure
    * measured at 50×+ query cost).
    *
    * Band width is the scale lever (round-9 sf1 measurement): the old
    * 4 × 8-bit banding of a 32-bit fingerprint has a FIXED 256-bucket
    * space per band, so per-bucket occupancy — and the candidate join —
    * grows as n²/256 (q269 measured 37× cost at 10× corpus). 16-bit
    * bands give 65 536 buckets per band: same pigeonhole completeness,
    * 256× more headroom before saturation, and at genuinely larger
    * corpora the fingerprint/band width grows with log₂(n) — the same
    * discipline as the hyperplane family's `planesFor`.
    */
  private def simhashBands(s: SparkSession, dir: String): DataFrame =
    graft.util.QueryCaches.keyed(s"simhash:bands:$dir") {
      def word(votes: Int => org.apache.spark.sql.Column) =
        (1 to 32).map(j => when(votes(j) > 0, lit(1L << (32 - j)))
          .otherwise(lit(0L))).reduce(_ + _)
      val fp = bitVotes64(s, dir).select(col("doc_id"),
        word(j => col(s"v$j")).as("sh_hi"),
        word(j => col(s"u$j")).as("sh_lo"))
      fp.select(col("doc_id"), col("sh_hi"), col("sh_lo"), explode(expr(
          """transform(sequence(0,3), b -> struct(b AS b,
            |  CASE WHEN b = 0 THEN shiftright(sh_hi, 16) & 65535
            |       WHEN b = 1 THEN sh_hi & 65535
            |       WHEN b = 2 THEN shiftright(sh_lo, 16) & 65535
            |       ELSE sh_lo & 65535 END AS nib))""".stripMargin))
          .as("band"))
        .select(col("doc_id"), col("sh_hi"), col("sh_lo"),
          col("band.b").as("b"), col("band.nib").as("nib"))
      // self-joined: fingerprints computed once. NOT pre-partitioned by
      // (b, nib) — the bounded band-key cardinality would cap the
      // cache's parallelism and bypass AQE skew-splitting on the join
      // exchange (cf. q44/q57)
    }

  private val hamming64 =
    "CAST(bit_count(a.sh_hi ^ c.sh_hi) + bit_count(a.sh_lo ^ c.sh_lo) AS INT)"

  private val q61: Q = (s, dir) => {
    val bands = simhashBands(s, dir)
    bands.as("a").join(bands.as("c"),
        col("a.b") === col("c.b") && col("a.nib") === col("c.nib") &&
          col("a.doc_id") < col("c.doc_id"))
      // verify BEFORE dedup: the hamming test is a free codegen'd row op,
      // so the distinct shuffles only survivors, not every band collision
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"),
        expr(hamming64).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Shared oracle kernel for the banded 64-bit fingerprint — single-
    * sourced into q61Sql/q269Sql so the definition cannot drift between
    * consumers. Ends with `bands(doc_id, sh_hi, sh_lo, b, nib)`.
    */
  private val simhashBandCtes =
    """w AS (SELECT doc_id,
      |  list_transform(string_split(text,' '), x -> md5(x)) AS hs FROM documents),
      |fp AS (SELECT doc_id,
      |  CAST(list_sum(list_transform(generate_series(1,32), j ->
      |    CASE WHEN list_sum(list_transform(hs, h ->
      |      CASE WHEN substr(h,j,1) IN ('8','9','a','b','c','d','e','f')
      |      THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << (32-j)) ELSE 0 END))
      |    AS BIGINT) AS sh_hi,
      |  CAST(list_sum(list_transform(generate_series(1,32), j ->
      |    CASE WHEN list_sum(list_transform(hs, h ->
      |      CASE WHEN substr(h,j,1) IN ('4','5','6','7','c','d','e','f')
      |      THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << (32-j)) ELSE 0 END))
      |    AS BIGINT) AS sh_lo
      |  FROM w),
      |bands AS (SELECT doc_id, sh_hi, sh_lo, b,
      |  CASE WHEN b = 0 THEN (sh_hi >> 16) & 65535
      |       WHEN b = 1 THEN sh_hi & 65535
      |       WHEN b = 2 THEN (sh_lo >> 16) & 65535
      |       ELSE sh_lo & 65535 END AS nib
      |  FROM fp, unnest(generate_series(0, 3)) AS t(b))""".stripMargin

  private val duckHamming64 =
    "CAST(bit_count(xor(a.sh_hi, c.sh_hi)) + bit_count(xor(a.sh_lo, c.sh_lo)) AS INTEGER)"

  private val q61Sql =
    s"""WITH $simhashBandCtes
      |SELECT DISTINCT doc_a, doc_b, hamming FROM (
      |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |    $duckHamming64 AS hamming
      |  FROM bands a JOIN bands c
      |    ON a.b = c.b AND a.nib = c.nib AND a.doc_id < c.doc_id) t
      |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin

  /** q269 — simhash Hamming-distance spectrum: the distribution of exact
    * Hamming distances over the banded candidate pairs — the
    * threshold-selection diagnostic q61 bakes its `≤ 2` into. Read
    * before a dedup run commits to a radius: a bimodal spectrum (near-
    * dup mass at 0–3, background mass near 16) means any radius in the
    * valley works; a flat one means simhash carries no signal for this
    * corpus and banding is just noise admission. Same banded equi-join
    * as q61 over the SHARED fingerprint relation (complete for ≤ 3 by
    * pigeonhole; higher distances appear only when band-lucky, which is
    * exactly the admission behavior being diagnosed), distances counted
    * on candidates only, the ≤ 65-row histogram cumulated through a
    * bounded triangle join — never a window, never all pairs.
    */
  private val q269: Q = (s, dir) => {
    val bands = simhashBands(s, dir)
    val hist = bands.as("a").join(bands.as("c"),
        col("a.b") === col("c.b") && col("a.nib") === col("c.nib") &&
          col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"),
        expr(hamming64).as("hamming"))
      .distinct()
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
      .transform(graft.util.QueryCaches.tracked)
    hist.as("a").join(hist.as("b"), col("b.hamming") <= col("a.hamming"))
      .select(col("a.hamming").as("hamming"), col("a.n_pairs").as("n_pairs"),
        col("b.n_pairs").as("bn"))
      .groupBy("hamming", "n_pairs").agg(sum("bn").as("n_pairs_cum"))
      .orderBy("hamming")
  }

  private val q269Sql =
    s"""WITH $simhashBandCtes,
      |cand AS (SELECT DISTINCT doc_a, doc_b, hamming FROM (
      |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |    $duckHamming64 AS hamming
      |  FROM bands a JOIN bands c
      |    ON a.b = c.b AND a.nib = c.nib AND a.doc_id < c.doc_id) t),
      |hist AS (SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
      |  FROM cand GROUP BY 1)
      |SELECT a.hamming, a.n_pairs, CAST(sum(b.n_pairs) AS BIGINT)
      |    AS n_pairs_cum
      |FROM hist a JOIN hist b ON b.hamming <= a.hamming
      |GROUP BY 1, 2 ORDER BY a.hamming""".stripMargin

  /** The prefix-filtered similarity-join kernel behind q43, extracted so
    * the losslessness property (prefix join ≡ brute-force within blocks)
    * is unit-testable on arbitrary inputs. `blocked` carries
    * `(doc_id, lang, lb, sh: array<string>)` with `sh` distinct.
    */
  /** Candidate stage of [[jaccardPrefixJoin]], exposed separately so the
    * skew stress spec can assert the prefix filter keeps candidate
    * volume hash-bounded (never O(block²)) on adversarial fixtures.
    */
  private[graft] def jaccardPrefixCandidates(blocked: DataFrame, t: Double): DataFrame = {
    // n (the doc's distinct-shingle count) rides along from the map side —
    // size(sh) is free before the explode, where a count(*) window after
    // it would re-sort every token row per doc partition.
    val tok = blocked.select(col("doc_id"), col("lang"), col("lb"),
      size(col("sh")).as("n"), explode(col("sh")).as("shingle"))
    // global document frequency: the rare-first order that makes prefixes
    // selective; one groupBy over the narrow token relation
    val dfreq = tok.groupBy("shingle").agg(count(lit(1)).as("df"))
    // Per-doc prefix via a BOUNDED aggregate, not a ranking window: the
    // window form re-shuffled every (doc, shingle, df) row by doc_id and
    // SORTED it just to keep the first `n - ceil(n·t) + 1` rows per doc.
    // Collecting (df, shingle) per doc and sorting in the aggregation
    // buffer does the same selection with a hash aggregate — no
    // Sort+Window pass — and the buffer is bounded by the doc's own
    // distinct-shingle count, the same array `blocked` already carries.
    val prefix = tok.join(dfreq, "shingle")
      .groupBy(col("doc_id"), col("lang"), col("lb"), col("n"))
      .agg(collect_list(struct(col("df"), col("shingle"))).as("ds"))
      .select(col("doc_id"), col("lang"), col("lb"),
        explode(expr(
          s"slice(array_sort(ds), 1, CAST(n - ceil(n * $t) + 1 AS INT))"))
          .as("p"))
      .select(col("doc_id"), col("lang"), col("lb"), col("p.shingle").as("shingle"))
      // self-joined below: the df join + prefix aggregate run once, not twice
      .transform(graft.util.QueryCaches.tracked)
    prefix.as("a").join(prefix.as("b"),
        col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb") &&
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private[graft] def jaccardPrefixJoin(blocked: DataFrame, t: Double): DataFrame = {
    val cand = jaccardPrefixCandidates(blocked, t)
    // exact verification on candidates ONLY (cf. q41b): two hash joins
    // back to the (persisted) shingle sets, per-candidate intersection
    val inter = size(array_intersect(col("sha"), col("shb")))
    cand
      .join(blocked.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(blocked.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(inter.cast("double") /
          (size(col("sha")) + size(col("shb")) - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= t)
      // persisted so the global sort's range-sampling pass reads the tiny
      // verified relation from cache instead of re-running the pipeline
      .transform(graft.util.QueryCaches.tracked)
      .orderBy("doc_a", "doc_b")
  }

  /** q43's blocked-shingle relation, exposed for the skew stress spec.
    *
    * Shingles are hashed to longs (md5 — IDENTICAL in both engines, so a
    * collision, were one to happen, produces the same result
    * everywhere): the candidate join shuffles 8-byte keys instead of
    * bigram text, and the verification intersects long arrays instead of
    * string arrays. md5 runs once per WORD, not once per bigram — a
    * bigram's hash is the arithmetic combine of its two word hashes
    * ((h1 mod 2^39)·8388593 + h2 < 2^62 + 2^60, so no BIGINT overflow in
    * either engine) — which halves the bytes digested per document and
    * was the dominant per-pass cost of this query (the shingle relation
    * is rebuilt every bench rep by the drain protocol).
    */
  private[graft] def jaccardBlocked(s: SparkSession, dir: String): DataFrame =
    // repartition by doc_id (not round-robin spread): the cached relation
    // is joined BY doc_id on both sides of the verification, and
    // ProjectExec's alias-aware partitioning lets those joins reuse this
    // one exchange — the heavy shingle-array payloads shuffle once at
    // cache build instead of once per verify side.
    Tables.documents(s, dir).repartition(col("doc_id"))
      .withColumn("wh", expr("transform(split(text, ' '), " +
        "w -> cast(conv(substring(md5(w), 1, 15), 16, 10) AS bigint))"))
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 100).cast("long").as("lb"),
        expr("""array_distinct(CASE WHEN size(wh) < 2 THEN array()
               |ELSE transform(sequence(1, size(wh)-1), i ->
               |  (element_at(wh, i) % 549755813888L) * 8388593L
               |    + element_at(wh, i+1))
               |END)""".stripMargin).as("sh"))
      .transform(graft.util.QueryCaches.tracked)

  private val q43: Q = (s, dir) => jaccardPrefixJoin(jaccardBlocked(s, dir), t = 0.1)

  private val q43Sql =
    """WITH w AS (SELECT doc_id, lang, n_chars // 100 AS lb,
      |  list_transform(string_split(text,' '),
      |    w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)) AS wh
      |  FROM documents),
      |s AS (SELECT doc_id, lang, lb,
      |  list_distinct(CASE WHEN len(wh) < 2 THEN [] ELSE
      |    list_transform(generate_series(1, len(wh)-1), i ->
      |      (wh[i] % 549755813888) * 8388593 + wh[i+1]) END) AS sh
      |  FROM w)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
      |  FROM s a JOIN s b
      |    ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id) t
      |WHERE jaccard >= 0.1
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components by iterative min-label propagation **with
    * pointer jumping**: each round a node's label becomes
    * min(own, neighbors' labels) and is then short-circuited to its
    * label's label (label(label(v)) ≤ label(v) because labels are min-
    * monotone doc_ids, so the jump is sound). Neighbor propagation alone
    * needs diameter-many rounds; the jump halves remaining chain depth
    * each round, so convergence is O(log d) — 20 rounds covers components
    * of diameter ~2^20, far beyond any real near-dup chain. Per round:
    * two narrow (id, label) equi-joins + a groupBy-min, each shuffling
    * O(edges) small rows; the driver sees only a convergence boolean.
    *
    * If the loop exits without converging the labels are WRONG (a deep
    * chain would get split cluster ids) — that is an error, never a
    * silent result.
    */
  private[graft] def connectedComponents(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // The edge relation is consumed twice by symmetrization; persist so an
    // expensive upstream (e.g. the full LSH pipeline) runs once, not twice.
    val e = edges.persist(MEMORY_AND_DISK)
    // ADAPTIVE small-graph path (the same philosophy as broadcast joins —
    // Spark itself collects bounded relations to the driver): a near-dup
    // edge set far smaller than the corpus is the COMMON case, and the
    // iterative loop pays several scheduling rounds of near-empty jobs to
    // label it. At most the fixed [[graft.util.UnionFind.LocalEdgeBound]]
    // (250 000) edges are collected into a driver union-find; above it the
    // distributed loop scales unbounded.
    if (e.count() <= graft.util.UnionFind.LocalEdgeBound) {
      val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      e.unpersist()
      val uf = new graft.util.UnionFind
      pairs.foreach { case (a, b) => uf.union(a, b) }
      val spark = edges.sparkSession
      import spark.implicits._
      uf.labels.toDF("doc_id", "label")
    } else connectedComponentsDistributed(e, maxIters)
  }

  /** [[connectedComponents]] above the local edge bound (tests call it to
    * pin both paths equal). Reads `e` twice and unpersists it on return.
    */
  private[graft] def connectedComponentsDistributed(e: DataFrame,
      maxIters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = e.toDF("src", "dst")
      .union(e.toDF("dst", "src").select("src", "dst"))
      .persist(MEMORY_AND_DISK)
    // Every round's labels are a graft.util.Lineage cut. The cut's final
    // stage runs in the next round's convergence probe, and it may still
    // scan the `step` it was cut from (the streamed side of a broadcast
    // join), so a step is released only after that probe.
    // Init already folds the first propagation round in: label(v) =
    // min(v, min neighbor) — one aggregation instead of distinct + a round.
    var labels = graft.util.Lineage.truncate(sym.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .withColumnRenamed("src", "doc_id"))
    var converged = false
    var iter = 0
    var prevStep: Option[DataFrame] = None
    while (!converged && iter < maxIters) {
      val neighborMin = sym
        .join(labels.select(col("doc_id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("doc_id")).agg(min("nl").as("mn"))
      // Persist the propagation step: it is read again below (convergence
      // probe, then BOTH sides of the pointer-jump self-join). Without the
      // persist each consumer re-runs the join+groupBy — the r4 bench
      // showed that as a 2.6x regression on q56.
      val step = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"), coalesce(col("mn"), col("label"))).as("label"))
        .persist(MEMORY_AND_DISK)
      // Convergence is decidable BEFORE the jump: if propagation changed no
      // label we are at the min-propagation fixpoint, where labels are
      // already idempotent (label(label(v)) == label(v)) — the jump and its
      // cut are pure cost on the final round, so skip them and keep the
      // previous labels, which this probe has just materialized.
      converged = step.filter(col("label") =!= col("old")).isEmpty
      prevStep.foreach(_.unpersist())
      prevStep = Some(step)
      if (!converged) {
        // Pointer jumping: follow label -> label(label). Every label IS a
        // doc_id present in `labels` (it entered as some node's min), so
        // the lookup is a self-join on the same (persisted) relation.
        labels = graft.util.Lineage.truncate(step
          .join(step.select(col("doc_id").as("label"), col("label").as("ll")),
            Seq("label"), "left")
          .select(col("doc_id"),
            least(col("label"), coalesce(col("ll"), col("label"))).as("label")))
      }
      iter += 1
    }
    prevStep.foreach(_.unpersist())
    sym.unpersist()
    e.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "component deeper than 2^" + maxIters + "; raise maxIters")
    labels
  }

  /** Resolved lexical duplicate clusters (doc_id, label) — connected
    * components over the verified Jaccard ≥ 0.5 edges, shared through
    * [[graft.util.QueryCaches.keyed]] so q56/q144/q146/q162/q167 pay the
    * O(log d) pipeline ONCE per undrained session instead of each
    * re-running it (q167 composes this AND the embedding-side twin).
    */
  private[graft] def lexicalClusters(s: SparkSession, dir: String): DataFrame =
    graft.util.QueryCaches.keyed(s"cc:text:$dir") {
      // Sort-free internals: q41b's declared ORDER BY (oracle
      // determinism) would cost a full extra pipeline pass here
      // (range-sort sampling).
      connectedComponents(verifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.5).select("doc_a", "doc_b"))
    }

  /** q56 — duplicate-CLUSTER resolution, the stage after pair scoring that
    * an actual dedup pipeline needs before it can pick survivors: connected
    * components over the verified near-dup pairs (q41b edges with
    * Jaccard ≥ 0.5), cluster id = min doc_id reachable, `is_canonical`
    * marks the survivor each cluster keeps.
    */
  private val q56: Q = (s, dir) =>
    lexicalClusters(s, dir)
      .select(col("doc_id"), col("label").as("cluster_id"),
        (col("label") === col("doc_id")).as("is_canonical"))
      .orderBy("doc_id")

  private val q56Sql =
    s"""WITH RECURSIVE
      |$clusterCtes
      |SELECT doc_id, cluster_id, (cluster_id = doc_id) AS is_canonical
      |FROM cc ORDER BY doc_id""".stripMargin

  /** q162 — duplicate-cluster SIZE histogram: per cluster size, how many
    * clusters, how many documents they hold, and the character mass a
    * keep-one dedup reclaims — the shape-of-duplication audit that decides
    * dedup policy (a corpus of pairs reclaims little; a few giant
    * clusters mean one source is being mirrored wholesale) and the number
    * that predicts q146's manifest drops before running it. Composes
    * [[connectedComponents]] (q56's resolved clusters) with the documents'
    * character mass.
    *
    * Scale shape: the per-cluster rollup is a partial+final aggregate on
    * the cluster label (a giant cluster is still one reduce key whose
    * partials combine map-side — no skew trap), and the histogram is a
    * second aggregate over the |clusters|-row relation. Exact BIGINT
    * counts and sums throughout; no window, no pair join.
    */
  private val q162: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_chars"))
    lexicalClusters(s, dir)
      .join(docs, "doc_id")
      .groupBy("label")
      .agg(count(lit(1)).as("sz"), sum("n_chars").as("chars"),
        sum(when(col("doc_id") === col("label"), col("n_chars"))
          .otherwise(0L)).as("canon_chars"))
      .groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"),
        sum(col("chars") - col("canon_chars")).as("reclaimed_chars"))
      .select(col("sz").as("cluster_size"), col("n_clusters"), col("n_docs"),
        col("reclaimed_chars"))
      .orderBy("cluster_size")
  }

  private val q162Sql =
    s"""WITH RECURSIVE
       |$clusterCtes,
       |pc AS (SELECT cc.cluster_id, CAST(count(*) AS BIGINT) AS sz,
       |    CAST(sum(d.n_chars) AS BIGINT) AS chars,
       |    CAST(sum(CASE WHEN cc.doc_id = cc.cluster_id THEN d.n_chars
       |      ELSE 0 END) AS BIGINT) AS canon_chars
       |  FROM cc JOIN documents d ON d.doc_id = cc.doc_id
       |  GROUP BY 1)
       |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(sz) AS BIGINT) AS n_docs,
       |  CAST(sum(chars - canon_chars) AS BIGINT) AS reclaimed_chars
       |FROM pc GROUP BY 1 ORDER BY cluster_size""".stripMargin

  /** q274 — sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95):
    * the classic THIRD blocking family next to LSH bands (q41) and gram
    * postings (q109) — sort the corpus by a discriminating key, compare
    * only records within a sliding window of w=5 ranks, multi-pass with
    * complementary keys so an edit near either end of a document cannot
    * hide a pair from both passes (forward pass: first 16 chars of the
    * space-stripped text; reverse pass: first 16 of its reversal).
    * Candidates from both passes union-distinct, then exact shingle-
    * Jaccard verification ≥ 0.5 on CANDIDATES ONLY ([[jaccardScored]],
    * the q41b stage). Scale shape: each pass is a range-partitioned
    * total sort ranked by [[GlobalRank.rowNumber]] (partition-count
    * metadata only — no global window, no single-reducer stage), and
    * the w-window pair join is an EQUI-join on adjacent rank blocks
    * (`blk = (rk−1) div w`, left side exploded to {blk, blk+1}) —
    * candidate volume is exactly n·w per pass regardless of data skew,
    * the property LSH blocking cannot promise when a band bucket runs
    * hot. The trade is inverse: SN bounds candidates structurally but
    * can miss pairs whose keys diverge; LSH bounds misses
    * probabilistically but needs the band-width discipline (q269).
    */
  private val q274: Q = (s, dir) => {
    val w = 5
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), regexp_replace(col("text"), " ", "").as("t0"))
    def pass(key: Column): DataFrame = {
      val ranked = GlobalRank.rowNumber(
        docs.select(col("doc_id"), key.as("k")), "rk",
        Seq(col("k"), col("doc_id")))
      val r = ranked.select(col("doc_id"), col("rk"))
        .withColumn("blk", expr(s"(rk - 1) div $w"))
      r.select(col("doc_id").as("da"), col("rk").as("ra"),
          explode(array(col("blk"), col("blk") + 1)).as("jb"))
        .join(r.select(col("doc_id").as("db"), col("rk").as("rb"),
          col("blk").as("jb")), Seq("jb"))
        .filter(col("rb") > col("ra") && col("rb") - col("ra") <= w)
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"))
    }
    val cand = pass(substring(col("t0"), 1, 16))
      .unionByName(pass(substring(reverse(col("t0")), 1, 16)))
      .distinct()
    jaccardScored(cand, shingleSets(s, dir))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  private val q274Sql =
    s"""WITH $minhashCtes,
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh),
       |d AS (SELECT doc_id, replace(text, ' ', '') AS t0 FROM documents),
       |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY substr(t0, 1, 16), doc_id) AS rk
       |  FROM d),
       |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY substr(reverse(t0), 1, 16), doc_id) AS rk
       |  FROM d),
       |c1 AS (SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |    greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM r1 a JOIN r1 b ON b.rk > a.rk AND b.rk <= a.rk + 5),
       |c2 AS (SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |    greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM r2 a JOIN r2 b ON b.rk > a.rk AND b.rk <= a.rk + 5),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM
       |  (SELECT * FROM c1 UNION ALL SELECT * FROM c2) u)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT cand.doc_a, cand.doc_b,
       |    round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
       |      AS jaccard
       |  FROM cand JOIN sets sa ON sa.doc_id = cand.doc_a
       |            JOIN sets sb ON sb.doc_id = cand.doc_b) v
       |WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q298 — exact-substring SPAN dedup (the operator behind Lee et al.,
    * ACL'22 "Deduplicating Training Data Makes Language Models Better":
    * near-dup DOC removal misses verbatim passages embedded in otherwise
    * distinct documents — licenses, boilerplate, quoted chunks — which
    * the models then memorize). A token position belongs to a duplicated
    * span iff some 5-gram through it also occurs in ANOTHER document;
    * maximal spans are reported per doc with their token mass. Dataflow:
    * positioned 5-grams map-side (60-bit md5-prefix key, so the shuffle
    * carries (hash, doc_id, pos) — never gram text); cross-doc
    * duplicated grams by countDistinct(doc)≥2 over the gram-keyed
    * relation (vocabulary-sized, partial-aggregated); one semi-join
    * marks covered start positions; and interval merge needs NO
    * sequential scan — covered starts q, q' overlap-or-touch iff
    * q'−q ≤ 5, so maximal spans are gap>5 islands under a PER-DOC
    * window (bounded by doc length — the scale-safe window kind) and
    * span [min q, max q + 4] per island. Output: per-doc span count,
    * duplicated-token mass, longest span, coverage ratio — the
    * statistics a span-scrubbing pass sizes its work from.
    */
  private val q298: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
    val pos = docs
      .select(col("doc_id"), size(col("words")).cast("long").as("n_tokens"),
        posexplode(expr(shinglesExpr(5))))
      .select(col("doc_id"), col("n_tokens"), (col("pos") + 1).as("q"),
        conv(substring(md5(col("col")), 1, 15), 16, 10).cast("long").as("gh"))
      .transform(graft.util.QueryCaches.tracked)
    val dup = pos.groupBy("gh").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val cov = pos.join(dup, Seq("gh"), "left_semi")
    val w = Window.partitionBy("doc_id").orderBy("q")
    val spans = cov
      .withColumn("newisl",
        when(col("q") - lag("q", 1).over(w) > 5, 1L).otherwise(lit(0L)))
      .withColumn("isl", sum("newisl").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "n_tokens", "isl")
      .agg(min("q").as("sq"), (max("q") + lit(4L)).as("eq"))
    spans.groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("eq") - col("sq") + 1).as("dup_tokens"),
        max(col("eq") - col("sq") + 1).as("max_span"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("dup_tokens").cast("long").as("dup_tokens"),
        col("max_span").cast("long").as("max_span"),
        round(col("dup_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_ratio"))
      .orderBy("doc_id")
  }

  private val q298Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents),
      |g AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens, i AS q,
      |    ('0x' || substr(md5(words[i] || ' ' || words[i+1] || ' ' ||
      |      words[i+2] || ' ' || words[i+3] || ' ' || words[i+4]), 1, 15))
      |      ::BIGINT AS gh
      |  FROM w, unnest(generate_series(1, len(words) - 4)) AS t(i)),
      |d AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      |c AS (SELECT g.doc_id, g.n_tokens, g.q FROM g JOIN d ON d.gh = g.gh),
      |i AS (SELECT doc_id, n_tokens, q,
      |    CASE WHEN q - lag(q) OVER (PARTITION BY doc_id ORDER BY q) > 5
      |      THEN 1 ELSE 0 END AS newisl
      |  FROM c),
      |s AS (SELECT doc_id, n_tokens, q,
      |    sum(newisl) OVER (PARTITION BY doc_id ORDER BY q) AS isl FROM i),
      |sp AS (SELECT doc_id, n_tokens, isl,
      |    min(q) AS sq, max(q) + 4 AS eq
      |  FROM s GROUP BY 1, 2, 3)
      |SELECT doc_id, n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(eq - sq + 1) AS BIGINT) AS dup_tokens,
      |  CAST(max(eq - sq + 1) AS BIGINT) AS max_span,
      |  round(CAST(sum(eq - sq + 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
      |    AS dup_ratio
      |FROM sp GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin

  /** q299 — prefix-filtered exact Jaccard self-join (AllPairs, Bayardo
    * et al. WWW'07; the candidate core of PPJoin), the FOURTH blocking
    * family next to LSH bands (q41), gram postings (q43's blocks) and
    * sorted neighborhoods (q274) — and the only one of the four that is
    * EXACT: every 3-shingle-set pair with J ≥ 0.8 is guaranteed a
    * candidate, no probabilistic recall (word sets are too coarse on a
    * closed vocabulary — measured 32 191 J≥0.8 unigram-set pairs at
    * sf0.001 vs 27 shingle-set pairs, a quadratic blowup). The filter:
    * order every doc's shingles by
    * one GLOBAL rarity order (df asc, shingle asc — rarest first, so
    * prefixes are maximally selective); two sets with J ≥ t MUST share
    * a shingle inside their first n − ⌈t·n⌉ + 1 shingles, so the
    * candidate join is prefix × prefix (an equi-join on the shingle,
    * each side a ~n/5-fraction of the postings at t = 0.8) plus the
    * length bound 5·min(na,nb) ≥ 4·max(na,nb). Verification compares
    * 5·|a∩b| ≥ 4·(na+nb−|a∩b|) in exact integers (t = 4/5 — no float
    * threshold). Per-doc token ranks come from a PER-DOC window
    * (bounded by doc vocabulary); the global df relation is one
    * map-side-combinable count. Completeness is pinned by the spec's
    * brute-force reference at sf0.001.
    */
  private val q299: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // spread BEFORE shingling (r13): the single-file scan is one task, so
    // an unspread pipeline shingles, explodes, and — worst — runs every
    // array_intersect verification serially; the cached relation inherits
    // the scan's partitioning, so the fix must land upstream of the cache.
    // The size filter sits ABOVE the cache: pushed below, filter pushdown
    // substitutes the shingle expression into the predicate and the scan
    // stage re-derives every doc's shingles single-threaded (the same
    // inlining blowup InferFiltersFromGenerate caused, here from the
    // explicit filter — measured 4.1 s of the query's wall)
    val ws = graft.util.QueryCaches
      .tracked(shingleSetsFor(Tables.spread(Tables.documents(s, dir)))
        .select(col("doc_id"), col("sh").as("ws")))
      .filter(size(col("ws")) > 0)
    val tok = ws.select(col("doc_id"), size(col("ws")).cast("long").as("n"),
      explode(col("ws")).as("wrd"))
    val dfreq = tok.groupBy("wrd").agg(count(lit(1)).as("df"))
    val pref = tok.join(dfreq, "wrd")
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("wrd"))))
      .filter(expr("r <= n - (4*n + 4) div 5 + 1"))
      .select(col("doc_id"), col("n"), col("wrd"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.wrd") === col("b.wrd") && col("a.doc_id") < col("b.doc_id") &&
          lit(5) * least(col("a.n"), col("b.n")) >=
            lit(4) * greatest(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(ws.select(col("doc_id").as("doc_a"), col("ws").as("wsa"),
        size(col("ws")).cast("long").as("na")), "doc_a")
      .join(ws.select(col("doc_id").as("doc_b"), col("ws").as("wsb"),
        size(col("ws")).cast("long").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("wsa"), col("wsb"))).cast("long"))
      .filter(lit(5L) * col("inter") >= lit(4L) * (col("na") + col("nb") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("inter"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jac"))
      .orderBy("doc_a", "doc_b")
  }

  private val q299Sql =
    s"""WITH ${minhashCtes},
      |pw AS (SELECT doc_id, list_distinct(shingles) AS ws FROM sh
      |  WHERE len(shingles) > 0),
      |pt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n, unnest(ws) AS wrd
      |  FROM pw),
      |pf AS (SELECT wrd, CAST(count(*) AS BIGINT) AS df FROM pt GROUP BY 1),
      |pr AS (SELECT pt.doc_id, pt.n, pt.wrd,
      |    row_number() OVER (PARTITION BY pt.doc_id ORDER BY pf.df, pt.wrd)
      |      AS r
      |  FROM pt JOIN pf USING (wrd)),
      |pp AS (SELECT doc_id, n, wrd FROM pr WHERE r <= n - (4*n + 4) // 5 + 1),
      |pc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM pp a JOIN pp b ON b.wrd = a.wrd AND a.doc_id < b.doc_id
      |    AND 5 * least(a.n, b.n) >= 4 * greatest(a.n, b.n)),
      |pv AS (SELECT doc_a, doc_b,
      |    CAST(len(wa.ws) AS BIGINT) AS na, CAST(len(wb.ws) AS BIGINT) AS nb,
      |    CAST(len(list_intersect(wa.ws, wb.ws)) AS BIGINT) AS inter
      |  FROM pc JOIN pw wa ON wa.doc_id = doc_a
      |          JOIN pw wb ON wb.doc_id = doc_b)
      |SELECT doc_a, doc_b, na, nb, inter,
      |  round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) AS jac
      |FROM pv WHERE 5 * inter >= 4 * (na + nb - inter)
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q313 — edit-distance-≤1 join on the 24-char document prefix via
    * DELETION NEIGHBORHOODS (the FastSS / SymSpell family) — the FIFTH
    * blocking family (LSH bands, gram postings, sorted neighborhoods,
    * prefix filtering, now deletion neighborhoods) and, like q299,
    * EXACT: ed(a,b) ≤ 1 ⟹ N(a) ∩ N(b) ≠ ∅ where N(s) = {s} ∪ {s minus
    * one char} — a substitution shares the same-position deletion, an
    * insert/delete puts the shorter string in both neighborhoods, and
    * equality is the identity key. Candidates therefore provably cover
    * every true pair; verification is one codegen'd `levenshtein` per
    * candidate (identical unit-cost semantics on both engines). The
    * near-typo title join OCR/crawl-canonicalization pipelines run.
    *
    * Scale shape: ≤25 60-bit md5 keys per doc (the shuffle never
    * carries prefix text), one key equi-join, candidate-distinct, then
    * two narrow joins to fetch the two prefixes for verification —
    * linear in corpus size like the gram-postings family; block sizes
    * are bounded by title-collision cardinality (dup clusters), the
    * same declared semantics as q40's exact-hash blocks.
    */
  private val q313: Q = (s, dir) => {
    val pref = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), substring(col("text"), 1, 24).as("p"))
      .transform(graft.util.QueryCaches.tracked)
    val keys = pref.select(col("doc_id"),
      explode(expr("""transform(sequence(0, length(p)), i ->
        CASE WHEN i = 0 THEN p
        ELSE concat(substring(p, 1, i - 1), substring(p, i + 1)) END)"""))
        .as("v"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(v), 1, 15), 16, 10) AS BIGINT)").as("k"))
      .distinct()
    val cand = keys.as("x").join(keys.as("y"),
        col("x.k") === col("y.k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(pref.select(col("doc_id").as("doc_a"), col("p").as("pa")), "doc_a")
      .join(pref.select(col("doc_id").as("doc_b"), col("p").as("pb")), "doc_b")
      .filter(levenshtein(col("pa"), col("pb")) <= 1)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("int").as("ed"))
      .orderBy("doc_a", "doc_b")
  }

  private val q313Sql =
    """WITH pref AS MATERIALIZED (
      |  SELECT doc_id, substr(text, 1, 24) AS p FROM documents),
      |dkeys AS MATERIALIZED (SELECT DISTINCT doc_id,
      |    CAST(('0x' || substr(md5(CASE WHEN u.i = 0 THEN p
      |      ELSE substr(p, 1, u.i - 1) || substr(p, u.i + 1) END),
      |      1, 15)) AS BIGINT) AS k
      |  FROM pref, unnest(generate_series(0, CAST(length(p) AS BIGINT)))
      |    AS u(i)),
      |cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a,
      |    y.doc_id AS doc_b
      |  FROM dkeys x JOIN dkeys y ON y.k = x.k AND x.doc_id < y.doc_id)
      |SELECT c.doc_a, c.doc_b,
      |  CAST(levenshtein(a.p, b.p) AS INTEGER) AS ed
      |FROM cand c JOIN pref a ON a.doc_id = c.doc_a
      |            JOIN pref b ON b.doc_id = c.doc_b
      |WHERE levenshtein(a.p, b.p) <= 1
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Winnowed fingerprint relation (doc_id, n_grams, fp): Schleimer–
    * Wilkerson–Aiken winnowing (SIGMOD'03, the MOSS algorithm) over
    * word 3-grams with window w = 4 — every window of 4 consecutive
    * gram hashes contributes its minimum, so any shared run of
    * t = w + k − 1 = 6 tokens is GUARANTEED to share a fingerprint
    * (the local-algorithm guarantee sampling by modulus lacks). Docs
    * with fewer than w full windows winnow to their global min. Keyed-
    * shared: q314 reports the density profile, q315 retrieves pairs.
    * The shuffle carries (doc_id, q, 60-bit md5 key), never gram text;
    * the window is per-doc (bounded by doc length — the scale-safe
    * window kind).
    */
  private[ops] def winnowFps(s: SparkSession, dir: String): DataFrame =
    graft.util.QueryCaches.keyed(s"wf:fps:$dir") {
      import org.apache.spark.sql.expressions.Window
      val pos = Tables.spread(Tables.documents(s, dir))
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"), posexplode(expr(shinglesExpr(3))))
        .select(col("doc_id"), (col("pos") + 1L).as("q"),
          conv(substring(md5(col("col")), 1, 15), 16, 10).cast("long")
            .as("gh"))
      val wf = Window.partitionBy("doc_id").orderBy("q").rowsBetween(0, 3)
      pos
        .withColumn("m", count(lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("wmin", min("gh").over(wf))
        // q ≤ m−3 keeps only FULL windows; docs with m < 4 keep q = 1,
        // whose truncated frame is the whole doc (the global-min rule)
        .filter(col("q") <= greatest(col("m") - 3, lit(1L)))
        .select(col("doc_id"), col("m").as("n_grams"), col("wmin").as("fp"))
        .distinct()
    }

  /** Oracle twin of [[winnowFps]] — shared CTE chain ending in
    * `fps(doc_id, n_grams, fp)`. */
  private val winnowCtes =
    """w0 AS (SELECT doc_id, string_split(text, ' ') AS words
      |  FROM documents),
      |g AS (SELECT doc_id, i AS q,
      |    ('0x' || substr(md5(words[i] || ' ' || words[i+1] || ' ' ||
      |      words[i+2]), 1, 15))::BIGINT AS gh
      |  FROM w0, unnest(generate_series(1, len(words) - 2)) AS t(i)
      |  WHERE len(words) >= 3),
      |wm AS (SELECT doc_id, q,
      |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS m,
      |    min(gh) OVER (PARTITION BY doc_id ORDER BY q
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |  FROM g),
      |fps AS (SELECT DISTINCT doc_id, m AS n_grams, wmin AS fp FROM wm
      |  WHERE q <= GREATEST(m - 3, 1))""".stripMargin

  /** q314 — winnowing fingerprint profile: per doc, gram count,
    * fingerprint count, and density. Winnowing's expected density is
    * 2/(w+1) = 0.4 — the audit that sizes a MOSS-style index before
    * building it, and the guarantee-bearing upgrade of q49's single
    * min-shingle digest (one min has no shared-run guarantee; the
    * windowed minima set does).
    */
  private val q314: Q = (s, dir) =>
    winnowFps(s, dir).groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_fps"))
      .select(col("doc_id"), col("n_grams"), col("n_fps"),
        round(col("n_fps").cast("double") / col("n_grams").cast("double"), 6)
          .as("density"))
      .orderBy("doc_id")

  private val q314Sql =
    s"""WITH $winnowCtes
       |SELECT doc_id, n_grams, CAST(count(*) AS BIGINT) AS n_fps,
       |  round(CAST(count(*) AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
       |    AS density
       |FROM fps GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin

  /** q315 — MOSS pair retrieval: document pairs sharing ≥ 2 winnowed
    * fingerprints, scored by containment n_shared/min(|fps|) — the
    * SIXTH blocking family (LSH bands, gram postings, sorted
    * neighborhoods, prefix filter, deletion neighborhoods, now
    * winnowing), and the one with the shared-run guarantee: any two
    * docs sharing a 6-token run MUST collide here. Fingerprints seen
    * in more than 50 documents are dropped before the pair join —
    * MOSS's ignore-too-common rule, which is also what bounds the
    * join fan-out per key (≤50², the skew cap). Cost: one postings
    * join over the capped fingerprint relation + two narrow joins for
    * the per-doc counts.
    */
  private val q315: Q = (s, dir) => {
    val fps = winnowFps(s, dir)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("fp")
    val f = fps.join(rare, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("fp"))
      .transform(graft.util.QueryCaches.tracked)
    val cnt = fps.groupBy("doc_id").agg(count(lit(1)).as("nf"))
      .transform(graft.util.QueryCaches.tracked)
    f.as("x").join(f.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .join(cnt.select(col("doc_id").as("doc_a"), col("nf").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("nf").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6).as("sim"))
      .orderBy("doc_a", "doc_b")
  }

  private val q315Sql =
    s"""WITH $winnowCtes,
       |rare AS (SELECT fp FROM fps GROUP BY fp
       |  HAVING count(*) <= 50),
       |f AS MATERIALIZED (SELECT doc_id, fp FROM fps
       |  WHERE fp IN (SELECT fp FROM rare)),
       |cnt AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
       |  FROM fps GROUP BY 1),
       |pr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM f x JOIN f y ON y.fp = x.fp AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT pr.doc_a, pr.doc_b, pr.n_shared,
       |  round(CAST(pr.n_shared AS DOUBLE) /
       |    CAST(least(a.nf, b.nf) AS DOUBLE), 6) AS sim
       |FROM pr JOIN cnt a ON a.doc_id = pr.doc_a
       |        JOIN cnt b ON b.doc_id = pr.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q300 — leakage-free train/val/test split: hash-assign whole
    * NEAR-DUP CLUSTERS (q56's connected components over verified J ≥ 0.5
    * pairs; singletons are their own cluster) to splits 80/10/10, so a
    * training document's near-duplicate can never land in eval — the
    * contamination mode a doc-level hash split provably has (any
    * verified pair split across train/test is leaked memorization
    * surface; q79 measures the contamination, this op PREVENTS it).
    * The audit columns make the guarantee observable: cross_split_pairs
    * counts verified pairs whose endpoints disagree on split — zero BY
    * CONSTRUCTION, and both engines prove the zero rather than assume
    * it. Scale shape: one left join of docs against the keyed-shared
    * cluster relation, a 60-bit md5 bucket on the cluster id (exact,
    * engine-identical), per-split counts map-side-combinable, and the
    * leakage audit joins the TINY verified-pair relation against the
    * (doc, split) projection twice.
    */
  private val q300: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val assign = docs
      .join(lexicalClusters(s, dir).select(col("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
      .withColumn("h",
        conv(substring(md5(col("cluster_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 10)
      .withColumn("split",
        when(col("h") < 8, "train").when(col("h") === 8, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("n_chars"), col("cluster_id"), col("split"))
      .transform(graft.util.QueryCaches.tracked)
    val stats = assign.groupBy("split").agg(
      count(lit(1)).as("n_docs"),
      countDistinct("cluster_id").as("n_clusters"),
      sum("n_chars").cast("long").as("n_chars"))
    val sp = assign.select(col("doc_id"), col("split"))
    val leaks = verifiedPairs(s, dir).filter(col("jaccard") >= 0.5)
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb"))
    val perSplit = leaks.select(col("sa").as("split"))
      .unionByName(leaks.select(col("sb").as("split")))
      .groupBy("split").agg(count(lit(1)).as("cross_split_pairs"))
    stats.join(perSplit, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"), col("n_chars"),
        coalesce(col("cross_split_pairs"), lit(0L)).as("cross_split_pairs"))
      .orderBy("split")
  }

  private val q300Sql =
    s"""WITH RECURSIVE
       |$clusterCtes,
       |asg AS (SELECT d.doc_id, d.n_chars,
       |    coalesce(cc.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
       |asp AS (SELECT doc_id, n_chars, cluster_id,
       |    CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM (SELECT *,
       |      ('0x' || substr(md5(cluster_id::VARCHAR), 1, 15))::BIGINT % 10
       |        AS h FROM asg) t),
       |st AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars
       |  FROM asp GROUP BY 1),
       |lk0 AS (SELECT pa.split AS sa, pb.split AS sb
       |  FROM edges e JOIN asp pa ON pa.doc_id = e.doc_a
       |               JOIN asp pb ON pb.doc_id = e.doc_b
       |  WHERE pa.split <> pb.split),
       |lk AS (SELECT split, CAST(count(*) AS BIGINT) AS cross_split_pairs
       |  FROM (SELECT sa AS split FROM lk0
       |        UNION ALL SELECT sb FROM lk0) t GROUP BY 1)
       |SELECT st.split, st.n_docs, st.n_clusters, st.n_chars,
       |  coalesce(lk.cross_split_pairs, 0) AS cross_split_pairs
       |FROM st LEFT JOIN lk ON lk.split = st.split
       |ORDER BY st.split""".stripMargin

  /** q301 — content-defined chunking (CDC) dedup audit, the storage-level
    * complement of q298's span dedup (FastCDC/LBFS lineage: boundaries
    * depend only on LOCAL content, so an insertion early in a document
    * shifts every fixed-size block but re-aligns CDC chunks after one
    * boundary — the property that lets a 100 TB crawl store near-identical
    * page revisions once). Boundary rule: a chunk break BEFORE token i
    * (i ≥ 2) iff the 60-bit md5 prefix of the 3-gram starting at i is
    * ≡ 0 mod 16 (expected chunk ≈ 16 tokens, window w = 3). The entire
    * chunking is MAP-SIDE array algebra — boundary positions, starts,
    * chunk texts all from filter/transform/slice HOFs inside one
    * projection, no window, no shuffle until the chunk-hash groupBy —
    * then one count per distinct chunk hash (vocabulary-sized) and a
    * per-source rollup. Output per source: chunk counts, distinct
    * chunks, duplicated-chunk occurrences and token mass, dedup ratio —
    * the numbers a chunk-store sizes itself from.
    */
  private val q301: Q = (s, dir) => {
    // starts = [1] ++ boundary positions; chunk j spans
    // [starts(j), nextStart-1] (last chunk to n) — all map-side HOFs.
    val withChunks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("words"))
      .withColumn("n", size(col("words")))
      .withColumn("starts", expr(
        """concat(array(1),
          |  CASE WHEN n < 4 THEN array()
          |  ELSE filter(sequence(2, n - 2), i ->
          |    CAST(conv(substring(md5(concat_ws(' ', slice(words, i, 3))),
          |      1, 15), 16, 10) AS BIGINT) % 16 = 0) END)""".stripMargin))
      .withColumn("chunk", explode(expr(
        """transform(sequence(1, size(starts)), j ->
          |  concat_ws(' ', slice(words, element_at(starts, j),
          |    (IF(j < size(starts), element_at(starts, j + 1), n + 1))
          |      - element_at(starts, j))))""".stripMargin)))
      .select(col("doc_id"), col("source"), md5(col("chunk")).as("chash"),
        size(split(col("chunk"), " ")).cast("long").as("toks"))
      .transform(graft.util.QueryCaches.tracked)
    val global = withChunks.groupBy("chash").agg(count(lit(1)).as("gocc"))
    withChunks.join(global, "chash")
      .groupBy("source").agg(
        count(lit(1)).as("n_chunks"),
        countDistinct("chash").as("n_distinct"),
        sum(when(col("gocc") >= 2, 1L).otherwise(0L)).as("dup_occurrences"),
        sum(when(col("gocc") >= 2, col("toks")).otherwise(0L)).as("dup_tokens"),
        sum(col("toks")).as("n_tokens"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        col("dup_occurrences"), col("dup_tokens"), col("n_tokens"),
        round(col("dup_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_ratio"))
      .orderBy("source")
  }

  private val q301Sql =
    """WITH cw AS (SELECT doc_id, source, string_split(text, ' ') AS words
      |  FROM documents),
      |cb AS (SELECT doc_id, source, words, len(words) AS n,
      |    list_prepend(1, CASE WHEN len(words) < 4 THEN []
      |      ELSE list_filter(generate_series(2, len(words) - 2), i ->
      |        ('0x' || substr(md5(words[i] || ' ' || words[i+1] || ' ' ||
      |          words[i+2]), 1, 15))::BIGINT % 16 = 0) END) AS starts
      |  FROM cw),
      |ch AS (SELECT doc_id, source,
      |    unnest(list_transform(generate_series(1, len(starts)), j ->
      |      array_to_string(words[starts[j]:
      |        (CASE WHEN j < len(starts) THEN starts[j+1] - 1
      |         ELSE n END)], ' '))) AS chunk
      |  FROM cb),
      |ct AS (SELECT doc_id, source, md5(chunk) AS chash,
      |    CAST(len(string_split(chunk, ' ')) AS BIGINT) AS toks FROM ch),
      |cg AS (SELECT chash, CAST(count(*) AS BIGINT) AS gocc
      |  FROM ct GROUP BY 1)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(count(DISTINCT ct.chash) AS BIGINT) AS n_distinct,
      |  CAST(sum(CASE WHEN gocc >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS dup_occurrences,
      |  CAST(sum(CASE WHEN gocc >= 2 THEN toks ELSE 0 END) AS BIGINT)
      |    AS dup_tokens,
      |  CAST(sum(toks) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(CASE WHEN gocc >= 2 THEN toks ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(toks) AS DOUBLE), 6) AS dup_ratio
      |FROM ct JOIN cg ON cg.chash = ct.chash
      |GROUP BY source ORDER BY source""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q298_span_dedup", q298, q298Sql),
    Query("q299_prefix_filter_join", q299, q299Sql),
    Query("q313_edit_distance_join", q313, q313Sql),
    Query("q314_winnow_profile", q314, q314Sql),
    Query("q315_moss_pairs", q315, q315Sql),
    Query("q300_leakage_free_split", q300, q300Sql),
    Query("q301_cdc_chunking", q301, q301Sql),
    Query("q274_sorted_neighborhood", q274, q274Sql),
    Query("q40_dedup_exact", q40, q40Sql),
    Query("q41_dedup_minhash_lsh", q41, q41Sql),
    Query("q41b_dedup_lsh_verified", q41b, q41bSql),
    Query("q187_dedup_threshold_curve", q187, q187Sql),
    Query("q189_minhash_calibration", q189, q189Sql),
    Query("q323_weighted_minhash", q323, q323Sql),
    Query("q42_dedup_simhash", q42, q42Sql),
    Query("q43_dedup_ngram_jaccard", q43, q43Sql),
    Query("q56_dedup_clusters", q56, q56Sql),
    Query("q177_dup_quality_bias", q177, q177Sql),
    Query("q179_lsh_cost_model", q179, q179Sql),
    Query("q61_dedup_simhash_pairs", q61, q61Sql),
    Query("q139_source_dup_matrix", q139, q139Sql),
    Query("q143_band_tuning", q143, q143Sql),
    Query("q144_dedup_survivorship", q144, q144Sql),
    Query("q145_dedup_increment", q145, q145Sql),
    Query("q146_corpus_manifest", q146, q146Sql),
    Query("q251_admission_pipeline", q251, q251Sql),
    Query("q258_cluster_density", q258, q258Sql),
    Query("q269_simhash_spectrum", q269, q269Sql),
    Query("q162_cluster_size_hist", q162, q162Sql)
  )
}

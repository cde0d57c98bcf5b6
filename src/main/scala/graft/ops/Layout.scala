package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Data-layout operators: keys that make 100 TB *scannable*, not just
  * computable. A Z-order (Morton) sort key interleaves the bits of several
  * quantized dimensions so that a range predicate on ANY of them maps to a
  * bounded set of key ranges — writing parquet sorted by `zcode` gives
  * min/max row-group statistics that prune scans on either dimension
  * (the standard layout trick behind multi-dimensional clustering in
  * modern lakehouse table formats).
  */
object Layout {

  private type Q = (SparkSession, String) => DataFrame

  /** q104 — Z-order key over the first two embedding dimensions: quantize
    * each to 8 bits ([-1,1] → 0..255, floor, clamped), then interleave —
    * bit j of dim 0 lands at position 2j, of dim 1 at 2j+1. All-integer
    * after the one float→int quantization (floor is exact cross-engine),
    * and entirely map-side: the only shuffle is the final range-
    * partitioning sort, which is exactly the write-side sort the layout
    * exists to produce.
    */
  private val q104: Q = (s, dir) =>
    Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        expr("CAST(embedding AS array<double>)").as("v"))
      .withColumn("q0", expr(
        "least(greatest(CAST(floor((element_at(v, 1) + 1.0D) * 128) AS INT), 0), 255)"))
      .withColumn("q1", expr(
        "least(greatest(CAST(floor((element_at(v, 2) + 1.0D) * 128) AS INT), 0), 255)"))
      .withColumn("zcode", expr(
        """aggregate(sequence(0, 7), 0, (acc, j) ->
          |  acc + shiftleft(shiftright(q0, j) % 2, 2*j)
          |      + shiftleft(shiftright(q1, j) % 2, 2*j + 1))""".stripMargin))
      .select("vec_id", "q0", "q1", "zcode")
      .orderBy("zcode", "vec_id")

  private val q104Sql =
    """SELECT vec_id, q0, q1,
      |  CAST(list_sum(list_transform(generate_series(0, 7), j ->
      |    ((q0 >> j) % 2) * (1 << (2*j)) + ((q1 >> j) % 2) * (1 << (2*j + 1))))
      |    AS INTEGER) AS zcode
      |FROM (SELECT vec_id,
      |  least(greatest(CAST(floor((embedding[1]::DOUBLE + 1.0::DOUBLE) * 128) AS INTEGER), 0), 255) AS q0,
      |  least(greatest(CAST(floor((embedding[2]::DOUBLE + 1.0::DOUBLE) * 128) AS INTEGER), 0), 255) AS q1
      |  FROM embeddings)
      |ORDER BY zcode, vec_id""".stripMargin

  /** q111 — run-length compressibility estimate: for events laid out in
    * (user_id, ts) order, how many runs of equal `event_type` exist per
    * user, and the resulting RLE ratio (`n_events / n_runs`). This is the
    * measurement that justifies a sort order before writing: a column that
    * RLEs 10× under a candidate layout is the column to sort by. One
    * window pass (shuffle on user_id, the same partitioning the write
    * would use) + one map-side-combinable aggregate; run detection is a
    * `lag` comparison, deterministic via the (ts, event_id) tiebreak.
    */
  private val q111: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("chg",
        when(lag("event_type", 1).over(w).isNull ||
          col("event_type") =!= lag("event_type", 1).over(w), 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("chg").as("n_runs"))
      .select(col("user_id"), col("n_events"), col("n_runs"),
        (col("n_events").cast("double") / col("n_runs")).as("rle_ratio"))
      .orderBy("user_id")
  }

  private val q111Sql =
    """WITH r AS (SELECT user_id,
      |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |  FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(chg) AS BIGINT) AS n_runs,
      |  CAST(count(*) AS DOUBLE) / CAST(sum(chg) AS BIGINT) AS rle_ratio
      |FROM r GROUP BY 1 ORDER BY user_id""".stripMargin

  /** q121 — Z-order EFFECTIVENESS audit ("measure, don't guess"): chunk
    * the relation into 64-row files under two candidate orderings —
    * insertion order vs the q104 Morton key — and total each chunk's
    * (max−min) span per quantized dimension. Smaller spans = tighter
    * min/max file statistics = more files pruned by a range predicate on
    * either dimension; the number a layout decision should be based on.
    * All-integer. File assignment is a GLOBAL row number over each
    * candidate ordering — computed scale-safely by [[GlobalRank]]
    * (`repartitionByRange` on the sort key + per-range local ranks +
    * broadcast offsets), so the plan has NO single-partition window; the
    * only global stage left is the final 2-row union's sort.
    */
  private val q121: Q = (s, dir) => {
    val q = Tables.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        expr("CAST(embedding AS array<double>)").as("v"))
      .withColumn("q0", expr(
        "least(greatest(CAST(floor((element_at(v, 1) + 1.0D) * 128) AS INT), 0), 255)"))
      .withColumn("q1", expr(
        "least(greatest(CAST(floor((element_at(v, 2) + 1.0D) * 128) AS INT), 0), 255)"))
      .withColumn("zcode", expr(
        """aggregate(sequence(0, 7), 0, (acc, j) ->
          |  acc + shiftleft(shiftright(q0, j) % 2, 2*j)
          |      + shiftleft(shiftright(q1, j) % 2, 2*j + 1))""".stripMargin))
    def spans(orderCol: String, name: String) =
      GlobalRank.rowNumber(q, "rk", Seq(col(orderCol), col("vec_id")))
        .withColumn("chunk", expr("CAST((rk - 1) div 64 AS BIGINT)"))
        .groupBy("chunk")
        .agg((max("q0") - min("q0")).as("s0"), (max("q1") - min("q1")).as("s1"))
        .agg(count(lit(1)).as("n_chunks"),
          sum("s0").cast("long").as("sum_q0_span"),
          sum("s1").cast("long").as("sum_q1_span"))
        .select(lit(name).as("ordering"), col("n_chunks"),
          col("sum_q0_span"), col("sum_q1_span"))
    spans("vec_id", "insertion").unionByName(spans("zcode", "zorder"))
      .orderBy("ordering")
  }

  private val q121Sql =
    """WITH q AS (SELECT vec_id,
      |  least(greatest(CAST(floor((embedding[1]::DOUBLE + 1.0::DOUBLE) * 128) AS INTEGER), 0), 255) AS q0,
      |  least(greatest(CAST(floor((embedding[2]::DOUBLE + 1.0::DOUBLE) * 128) AS INTEGER), 0), 255) AS q1
      |  FROM embeddings),
      |z AS (SELECT vec_id, q0, q1,
      |  CAST(list_sum(list_transform(generate_series(0, 7), j ->
      |    ((q0 >> j) % 2) * (1 << (2*j)) + ((q1 >> j) % 2) * (1 << (2*j + 1))))
      |    AS INTEGER) AS zcode FROM q),
      |byi AS (SELECT *, (row_number() OVER (ORDER BY vec_id, vec_id) - 1) // 64 AS chunk FROM z),
      |byz AS (SELECT *, (row_number() OVER (ORDER BY zcode, vec_id) - 1) // 64 AS chunk FROM z),
      |ci AS (SELECT chunk, max(q0) - min(q0) AS s0, max(q1) - min(q1) AS s1
      |  FROM byi GROUP BY 1),
      |cz AS (SELECT chunk, max(q0) - min(q0) AS s0, max(q1) - min(q1) AS s1
      |  FROM byz GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'insertion' AS ordering, CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(s0) AS BIGINT) AS sum_q0_span, CAST(sum(s1) AS BIGINT) AS sum_q1_span
      |  FROM ci
      |  UNION ALL
      |  SELECT 'zorder', CAST(count(*) AS BIGINT), CAST(sum(s0) AS BIGINT),
      |    CAST(sum(s1) AS BIGINT) FROM cz)
      |ORDER BY ordering""".stripMargin

  /** q148 — size-bounded shard packing: lay the corpus out in (lang,
    * doc_id) order and pack documents into ~50k-character shards by
    * cumulative mass — `shard_id = ⌊chars_before / 50000⌋`. This is the
    * write plan a training run consumes: contiguous language runs (so a
    * shard's docs co-locate for curriculum/mixing), deterministic shard
    * boundaries, near-uniform shard bytes regardless of document-length
    * skew (a 10× longer doc just advances the cumulative counter 10×
    * faster). The emitted (doc → shard) manifest is exactly what a
    * partitioned `write.parquet` would consume as its partition column.
    *
    * Scale shape: the cumulative mass is a GLOBAL exclusive prefix sum —
    * the textbook single-reducer trap — computed scale-safely by
    * [[GlobalRank.prefixSum]] (range-partition the (lang, doc_id) order,
    * per-range local running sums under a bounded-partition window,
    * broadcast per-range cumulative offsets). All-integer end to end.
    */
  /** The (doc → shard) manifest shared by q148 (sorted emission) and
    * q170 (the balance audit). */
  private def shardPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"), col("n_chars"))
    GlobalRank.prefixSum(docs, "chars_before", col("n_chars"),
        Seq(col("lang"), col("doc_id")))
      .withColumn("shard_id", expr("CAST(chars_before div 50000 AS BIGINT)"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("chars_before"), col("shard_id"))
  }

  private val q148: Q = (s, dir) =>
    shardPlan(s, dir).orderBy("lang", "doc_id")

  private val q148Sql =
    """WITH c AS (SELECT doc_id, lang, n_chars,
      |  CAST(coalesce(SUM(n_chars) OVER (ORDER BY lang, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS chars_before
      |  FROM documents)
      |SELECT doc_id, lang, n_chars, chars_before,
      |  chars_before // 50000 AS shard_id
      |FROM c ORDER BY lang, doc_id""".stripMargin

  /** q170 — shard-balance audit over q148's plan: per shard, document
    * count, character mass, and language mixing (`n_langs` — contiguous
    * (lang, doc_id) packing means most shards hold ONE language; the
    * boundary shards where a language run ends hold two). The numbers a
    * layout owner checks before committing a write plan: near-uniform
    * `chars` validates the cumulative-mass packing under length skew
    * (the final shard is the only legitimately light one), and a shard
    * whose mass far exceeds the 50k budget names a single document
    * bigger than the shard size — a re-chunking decision, not a packing
    * bug.
    *
    * Scale shape: q148's prefix-sum pipeline plus one partial+final
    * aggregate on shard_id (|corpus|/50k groups) — the audit costs one
    * narrow shuffle more than the plan it audits.
    */
  private val q170: Q = (s, dir) =>
    shardPlan(s, dir)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("chars"),
        countDistinct("lang").as("n_langs"),
        max("n_chars").as("max_doc_chars"))
      .orderBy("shard_id")

  private val q170Sql =
    """WITH c AS (SELECT doc_id, lang, n_chars,
      |  CAST(coalesce(SUM(n_chars) OVER (ORDER BY lang, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS chars_before
      |  FROM documents)
      |SELECT chars_before // 50000 AS shard_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  max(n_chars) AS max_doc_chars
      |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin

  /** q176 — batch-padding audit: the padding mass a fixed-size-32
    * training batcher wastes under ARRIVAL order versus LENGTH-SORTED
    * order (bucketed batching). Each batch pads every member to its
    * longest sequence, so arrival order (lengths mixed) wastes
    * `Σ(batch_max·32 − batch_sum)` tokens while length-sorting packs
    * near-equal lengths together — the measured gap is the classic
    * 2-4× padding-compute saving that justifies bucketed batching, and
    * this query is the audit that prices it for THIS corpus before the
    * loader is rebuilt.
    *
    * Scale shape: q121's two-orderings comparison applied to batching —
    * both orderings go through the zero-window [[GlobalRank.rowNumber]]
    * (range partition + broadcast offsets), per-batch rollups are
    * partial+final aggregates on the batch id, and each ordering's
    * result is a 1-row reduce; no ranking window anywhere.
    */
  private val q176: Q = (s, dir) => {
    val docs = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"))
    def audit(ordering: Seq[org.apache.spark.sql.Column], name: String) =
      GlobalRank.rowNumber(docs, "rk", ordering)
        .withColumn("batch", expr("(rk - 1) div 32"))
        .groupBy("batch")
        .agg(count(lit(1)).as("bn"), max("n_tokens").as("mx"),
          sum("n_tokens").as("sm"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("mx") * col("bn") - col("sm")).as("padding_tokens"),
          sum("sm").as("total_tokens"))
        .select(lit(name).as("ordering"), col("n_batches"),
          col("total_tokens"), col("padding_tokens"),
          (col("padding_tokens").cast("double") /
            (col("padding_tokens") + col("total_tokens")).cast("double"))
            .as("padding_frac"))
    audit(Seq(col("doc_id")), "arrival")
      .unionByName(audit(Seq(col("n_tokens"), col("doc_id")), "length_sorted"))
      .orderBy("ordering")
  }

  private val q176Sql =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |ba AS (SELECT n_tokens, (row_number() OVER (ORDER BY doc_id) - 1) // 32
      |    AS batch FROM d),
      |bl AS (SELECT n_tokens, (row_number() OVER (ORDER BY n_tokens, doc_id) - 1) // 32
      |    AS batch FROM d),
      |ga AS (SELECT batch, count(*) AS bn, max(n_tokens) AS mx,
      |    sum(n_tokens) AS sm FROM ba GROUP BY 1),
      |gl AS (SELECT batch, count(*) AS bn, max(n_tokens) AS mx,
      |    sum(n_tokens) AS sm FROM bl GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'arrival' AS ordering, CAST(count(*) AS BIGINT) AS n_batches,
      |    CAST(sum(sm) AS BIGINT) AS total_tokens,
      |    CAST(sum(mx * bn - sm) AS BIGINT) AS padding_tokens,
      |    CAST(CAST(sum(mx * bn - sm) AS BIGINT) AS DOUBLE)
      |      / CAST(CAST(sum(mx * bn - sm) AS BIGINT)
      |             + CAST(sum(sm) AS BIGINT) AS DOUBLE) AS padding_frac
      |  FROM ga
      |  UNION ALL
      |  SELECT 'length_sorted', CAST(count(*) AS BIGINT),
      |    CAST(sum(sm) AS BIGINT), CAST(sum(mx * bn - sm) AS BIGINT),
      |    CAST(CAST(sum(mx * bn - sm) AS BIGINT) AS DOUBLE)
      |      / CAST(CAST(sum(mx * bn - sm) AS BIGINT)
      |             + CAST(sum(sm) AS BIGINT) AS DOUBLE)
      |  FROM gl)
      |ORDER BY ordering""".stripMargin

  /** q182 — shard-migration audit: when a corpus grows from 8 to 10
    * shards, what fraction of documents must MOVE under (a) naive
    * hash-mod placement and (b) rendezvous (highest-random-weight)
    * hashing? Mod placement reshuffles ~1 − 1/lcm-ish of the corpus
    * (every doc whose hash lands differently mod 8 vs mod 10); rendezvous
    * moves only docs whose argmax over the candidate-shard hash family
    * falls on one of the two NEW shards (≈ 2/10) — the property that
    * makes consistent placement the only sane layout policy for a 100 TB
    * store that resizes. All arithmetic is exact: the per-(doc, shard)
    * weight is a 56-bit md5 prefix left-shifted 4 bits with the shard id
    * as an embedded tiebreak (`w·16 + s`, < 2⁶⁰ — argmax is UNIQUE by
    * construction, so `max_by`/`arg_max` cannot diverge on ties), and the
    * whole audit is one map-side explode of a 10-element literal sequence
    * followed by a partial+final aggregate — no join, no window, one
    * 2-row result. At 100 TB this runs as a scan-shaped audit before any
    * physical move is scheduled.
    */
  private val q182: Q = (s, dir) => {
    val perDoc = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(cast(doc_id AS string)), 1, 14), 16, 10) AS BIGINT)")
          .as("hd"))
      .select(col("doc_id"), col("hd"), explode(expr("sequence(0, 9)")).as("sh"))
      .withColumn("w", expr(
        """CAST(conv(substring(md5(concat(cast(doc_id AS string), '_', cast(sh AS string))), 1, 14), 16, 10) AS BIGINT) * 16L
          |  + sh""".stripMargin))
      .groupBy("doc_id")
      .agg(first(col("hd")).as("hd"),
        expr("max_by(sh, w)").as("s10"),
        expr("max_by(sh, IF(sh < 8, w, -1L))").as("s8"))
    val summary = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(when(expr("pmod(hd, 8) <> pmod(hd, 10)"), 1L).otherwise(0L)).as("mv_mod"),
      sum(when(col("s8") =!= col("s10"), 1L).otherwise(0L)).as("mv_rdv"))
    summary.select(lit("mod").as("scheme"), col("n_docs"),
        col("mv_mod").as("n_moved"))
      .unionByName(summary.select(lit("rendezvous").as("scheme"),
        col("n_docs"), col("mv_rdv").as("n_moved")))
      .select(col("scheme"), col("n_docs"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_docs"), 6).as("frac_moved"))
      .orderBy("scheme")
  }

  private val q182Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 14)) AS BIGINT) AS hd
      |  FROM documents),
      |w AS (
      |  SELECT h.doc_id, h.hd, t.sh,
      |    CAST(('0x' || substr(md5(doc_id::VARCHAR || '_' || sh::VARCHAR), 1, 14)) AS BIGINT) * 16
      |      + sh AS w
      |  FROM h, unnest(generate_series(0, 9)) AS t(sh)),
      |pd AS (
      |  SELECT doc_id, max(hd) AS hd,
      |    arg_max(sh, w) AS s10,
      |    arg_max(sh, CASE WHEN sh < 8 THEN w ELSE -1 END) AS s8
      |  FROM w GROUP BY doc_id),
      |summ AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN hd % 8 <> hd % 10 THEN 1 ELSE 0 END) AS BIGINT) AS mv_mod,
      |    CAST(sum(CASE WHEN s8 <> s10 THEN 1 ELSE 0 END) AS BIGINT) AS mv_rdv
      |  FROM pd)
      |SELECT scheme, n_docs, n_moved,
      |  round(n_moved::DOUBLE / n_docs, 6) AS frac_moved
      |FROM (
      |  SELECT 'mod' AS scheme, n_docs, mv_mod AS n_moved FROM summ
      |  UNION ALL
      |  SELECT 'rendezvous', n_docs, mv_rdv FROM summ)
      |ORDER BY scheme""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q176_batch_padding", q176, q176Sql),
    Query("q182_shard_migration", q182, q182Sql),
    Query("q104_zorder", q104, q104Sql),
    Query("q111_rle_estimate", q111, q111Sql),
    Query("q121_zorder_audit", q121, q121Sql),
    Query("q148_shard_plan", q148, q148Sql),
    Query("q170_shard_balance", q170, q170Sql)
  )
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Mergeable frequency sketches beyond the HLL family (q273) and the
  * deterministic Misra–Gries heavy-hitter aggregator (q171): the
  * count–min sketch (Cormode–Muthukrishnan, J. Algorithms '05).
  *
  * Why it matters at 100 TB: a CM sketch is a fixed-size (d×w integer
  * grid) linear projection of the frequency vector, so per-partition
  * sketches combine by cell-wise ADDITION — the exact shape Spark's
  * partial aggregation pipeline wants (map-side partials, one tiny
  * reduce), and the only frequency structure that also supports deletes
  * and sliding merges in a streaming compaction. The corpus-scale
  * token-frequency table itself may not fit anywhere; the sketch always
  * does.
  */
object Sketches {

  private type Q = (SparkSession, String) => DataFrame

  private val D = 4     // hash rows
  private val W = 1024  // cells per row

  /** 32-bit md5-prefix hash of `j:tok`, reduced mod W — evaluated with
    * the identical byte string in both engines. */
  private def cellExpr(tokCol: String): String =
    s"CAST(conv(substring(md5(concat(CAST(j AS STRING), ':', $tokCol)), 1, 8), 16, 10) AS BIGINT) % $W"

  /** q283 — count–min sketch over the corpus token stream, audited
    * against exact counts.
    *
    * Dataflow: (1) exact per-token counts (one shuffle, map-side
    * partials); (2) each token fans out to its D=4 (row, cell) slots and
    * the 4×1024 cell grid aggregates `sum(count)` — algebraically
    * identical to sketching the raw stream, but the fan-out runs on the
    * DISTINCT-token relation (vocabulary-sized, not corpus-sized);
    * (3) the point-query audit takes the exact top-30 tokens
    * (TakeOrderedAndProject — never a global sort) and probes the
    * broadcast sketch: est = min over the 4 rows, which can only
    * OVER-estimate (`over_est` ≥ 0 is the CM invariant, pinned in the
    * spec).
    * `over_ppm` = overestimate per million stream tokens; the classic
    * guarantee is over ≤ e·N/W with prob 1−e⁻⁴ per query.
    * All arithmetic is BIGINT-exact; no floats anywhere.
    */
  private val q283: Q = (s, dir) => {
    val toks = Tables.spread(Tables.documents(s, dir))
      .select(explode(split(col("text"), " ")).as("tok"))
    val cnts = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val js = array((0 until D).map(lit): _*)
    val sketch = cnts
      .select(col("exact"), explode(js).as("j"),
        expr(cellExpr("tok")).as("cell"))
      .groupBy("j", "cell").agg(sum("exact").as("v"))
    val n = cnts.agg(sum("exact").as("n_stream"))
    cnts.orderBy(col("exact").desc, col("tok")).limit(30)
      .select(col("tok"), col("exact"), explode(js).as("j"))
      .withColumn("cell", expr(cellExpr("tok")))
      .join(broadcast(sketch), Seq("j", "cell"))
      .groupBy("tok", "exact").agg(min("v").as("est"))
      .withColumn("over_est", col("est") - col("exact"))
      .crossJoin(broadcast(n))
      .withColumn("over_ppm", expr("over_est * 1000000L div n_stream"))
      .select("tok", "exact", "est", "over_est", "over_ppm", "n_stream")
      .orderBy(col("exact").desc, col("tok"))
  }

  private val q283Sql =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |cnts AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
       |         FROM toks GROUP BY tok),
       |fan AS (SELECT tok, exact, unnest([0, 1, 2, 3]) AS j FROM cnts),
       |hashed AS (SELECT tok, exact, j,
       |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % $W AS cell
       |  FROM fan),
       |sketch AS (SELECT j, cell, CAST(sum(exact) AS BIGINT) AS v
       |           FROM hashed GROUP BY j, cell),
       |n AS (SELECT CAST(sum(exact) AS BIGINT) AS n_stream FROM cnts),
       |top AS (SELECT tok, exact FROM cnts ORDER BY exact DESC, tok LIMIT 30),
       |probe AS (SELECT t.tok, t.exact, h.j,
       |    ('0x' || substr(md5(CAST(h.j AS VARCHAR) || ':' || t.tok), 1, 8))::BIGINT % $W AS cell
       |  FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) h),
       |est AS (SELECT p.tok, p.exact, CAST(min(s.v) AS BIGINT) AS est
       |  FROM probe p JOIN sketch s ON s.j = p.j AND s.cell = p.cell
       |  GROUP BY p.tok, p.exact)
       |SELECT e.tok, e.exact, e.est, e.est - e.exact AS over_est,
       |  CAST((e.est - e.exact) * 1000000 // n.n_stream AS BIGINT) AS over_ppm,
       |  n.n_stream
       |FROM est e CROSS JOIN n
       |ORDER BY e.exact DESC, e.tok""".stripMargin

  /** q316 — KMV (k-minimum-values) distinct-count and overlap sketch
    * (Beyer et al., SIGMOD'07 — the theta-sketch lineage): per side,
    * the K = 256 smallest 60-bit md5 hashes of the DISTINCT join keys;
    * estimate D̂ = (K−1)·2⁶⁰/h_K (exact count when the side holds
    * fewer than K distinct keys — the small side degrades to exact,
    * which the sf0.001 run exercises while sf0.1/sf1 exercise the
    * estimator), and the overlap via the UNION sketch: ρ̂ = |{K
    * smallest of A∪B} ∩ A ∩ B| / |union sketch|. This is the sketch a
    * planner consults to size a join before running it — one
    * TakeOrdered(K) per side (global sort-limit, no full shuffle),
    * fixed-size and mergeable like the HLL/CMS family, plus the
    * audit's exact twins (countDistinct + one key semi-join).
    * Everything before the two final divisions is exact BIGINT; the
    * divisions are single correctly-rounded doubles ((K−1)·2⁶⁰ is a
    * power-of-two multiple of 255 — exactly representable).
    */
  private[graft] val KmvK = 256

  /** A KMV sketch: the ≤ [[KmvK]] smallest distinct key hashes, column `h`. */
  private[graft] final case class KmvSketch(hashes: DataFrame)

  /** The distinct 60-bit md5-prefix hashes `h` of `keyCol` cast to BIGINT. */
  private def kmvHashes(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("long").as("key")).distinct()
      .select(expr(
        "CAST(conv(substring(md5(CAST(key AS STRING)), 1, 15), 16, 10) AS BIGINT)")
        .as("h"))

  /** The [[KmvK]] smallest distinct hashes of the union of `a` and `b`:
    * min-K of a union is the min-K of the min-Ks, so the fold is
    * associative, commutative and idempotent. */
  private def kmvUnion(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).distinct().orderBy("h").limit(KmvK)

  /** Distinct-count estimate from a sketch's fill `kCol` and largest
    * hash `hCol`: exact below capacity, (K−1)·2⁶⁰/h_K at capacity. */
  private def kmvEstimate(kCol: String, hCol: String): Column =
    when(col(kCol) < KmvK, col(kCol).cast("double"))
      .otherwise(expr(s"CAST(${KmvK - 1} AS DOUBLE) * " +
        s"CAST(1152921504606846976 AS DOUBLE) / CAST($hCol AS DOUBLE)"))

  private[graft] def emptySketch(spark: SparkSession): KmvSketch = {
    import org.apache.spark.sql.types._
    KmvSketch(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("h", LongType)))))
  }

  /** Fold one batch of keys (any relation with a castable `key` column)
    * into the sketch. Re-delivered keys hash to held values and vanish in
    * the distinct. The ≤K-row result is cached, not checkpointed: a
    * fold's plan reads the previous state as one cached leaf, nothing
    * runs before the caller's action, and that action builds each state
    * once. (A lazy checkpoint still runs the shuffle stages at call time
    * under AQE.)
    */
  private[graft] def mergeBatch(batch: DataFrame, sk: KmvSketch): KmvSketch =
    KmvSketch(graft.util.QueryCaches.tracked(
      kmvUnion(sk.hashes, kmvHashes(batch, "key"))))

  /** One row (k_filled, est): the sketch's fill and its estimate. */
  private[graft] def estimate(sk: KmvSketch): DataFrame =
    sk.hashes.agg(count(lit(1)).as("k_filled"), max("h").as("hk"))
      .select(col("k_filled"), kmvEstimate("k_filled", "hk").as("est"))

  private val q316: Q = (s, dir) => {
    def sketch(df: DataFrame, keyCol: String): DataFrame =
      kmvHashes(df, keyCol).orderBy("h").limit(KmvK)
    val sa = graft.util.QueryCaches.tracked(
      sketch(Tables.spread(Tables.orders(s, dir)), "o_custkey"))
    val sb = graft.util.QueryCaches.tracked(
      sketch(Tables.spread(Tables.customer(s, dir)), "c_custkey"))
    val su = graft.util.QueryCaches.tracked(kmvUnion(sa, sb))
    val aAgg = sa.agg(count(lit(1)).as("ka"), max("h").as("hka"))
    val bAgg = sb.agg(count(lit(1)).as("kb"), max("h").as("hkb"))
    val uAgg = su.agg(count(lit(1)).as("ku"))
    val iAgg = su.join(sa, Seq("h"), "left_semi")
      .join(sb, Seq("h"), "left_semi").agg(count(lit(1)).as("inter_k"))
    val ea = Tables.orders(s, dir).agg(
      countDistinct("o_custkey").as("na"))
    val eb = Tables.customer(s, dir).agg(
      countDistinct("c_custkey").as("nb"))
    val ei = Tables.orders(s, dir).select(col("o_custkey").as("key"))
      .distinct()
      .join(Tables.customer(s, dir).select(col("c_custkey").as("key"))
        .distinct(), Seq("key"), "left_semi")
      .agg(count(lit(1)).as("ni"))
    aAgg.crossJoin(broadcast(bAgg)).crossJoin(broadcast(uAgg))
      .crossJoin(broadcast(iAgg)).crossJoin(broadcast(ea))
      .crossJoin(broadcast(eb)).crossJoin(broadcast(ei))
      .select(lit(KmvK).as("k"),
        col("na").as("exact_a"), round(kmvEstimate("ka", "hka"), 2).as("est_a"),
        col("nb").as("exact_b"), round(kmvEstimate("kb", "hkb"), 2).as("est_b"),
        col("inter_k"), col("ku").as("union_k"),
        round(col("inter_k").cast("double") / col("ku").cast("double"), 6)
          .as("jacc_est"),
        round(col("ni").cast("double") /
          (col("na") + col("nb") - col("ni")).cast("double"), 6)
          .as("jacc_exact"))
  }

  private val q316Sql =
    s"""WITH sa AS MATERIALIZED (SELECT CAST(('0x' ||
       |    substr(md5(CAST(key AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS key
       |        FROM orders) t
       |  ORDER BY h LIMIT $KmvK),
       |sb AS MATERIALIZED (SELECT CAST(('0x' ||
       |    substr(md5(CAST(key AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS key
       |        FROM customer) t
       |  ORDER BY h LIMIT $KmvK),
       |su AS MATERIALIZED (SELECT h FROM
       |  (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL
       |    SELECT h FROM sb) u0) u
       |  ORDER BY h LIMIT $KmvK),
       |agg AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM sa) AS ka,
       |  (SELECT max(h) FROM sa) AS hka,
       |  (SELECT CAST(count(*) AS BIGINT) FROM sb) AS kb,
       |  (SELECT max(h) FROM sb) AS hkb,
       |  (SELECT CAST(count(*) AS BIGINT) FROM su) AS ku,
       |  (SELECT CAST(count(*) AS BIGINT) FROM su
       |   WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb))
       |    AS inter_k,
       |  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders)
       |    AS na,
       |  (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer)
       |    AS nb,
       |  (SELECT CAST(count(*) AS BIGINT) FROM
       |    (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS key FROM orders) a
       |    WHERE key IN (SELECT CAST(c_custkey AS BIGINT) FROM customer))
       |    AS ni)
       |SELECT CAST($KmvK AS INTEGER) AS k,
       |  na AS exact_a,
       |  round(CASE WHEN ka < $KmvK THEN CAST(ka AS DOUBLE)
       |    ELSE CAST(${KmvK - 1} AS DOUBLE)
       |      * CAST(1152921504606846976 AS DOUBLE) / CAST(hka AS DOUBLE)
       |    END, 2) AS est_a,
       |  nb AS exact_b,
       |  round(CASE WHEN kb < $KmvK THEN CAST(kb AS DOUBLE)
       |    ELSE CAST(${KmvK - 1} AS DOUBLE)
       |      * CAST(1152921504606846976 AS DOUBLE) / CAST(hkb AS DOUBLE)
       |    END, 2) AS est_b,
       |  inter_k, ku AS union_k,
       |  round(CAST(inter_k AS DOUBLE) / CAST(ku AS DOUBLE), 6) AS jacc_est,
       |  round(CAST(ni AS DOUBLE) / CAST(na + nb - ni AS DOUBLE), 6)
       |    AS jacc_exact
       |FROM agg""".stripMargin

  /** q320 — mergeable QUANTILE sketch: a deterministic q-digest
    * (Shrivastava–Buragohain–Agrawal–Suri, SenSys'04) per source over
    * the document-length distribution, audited in-query against exact
    * order statistics. This completes the sketch family (HLL q273, CMS
    * q283, Misra–Gries q171, KMV q316) with its most-used member — the
    * fixed-size summary behind continuous per-source length/quality
    * percentile monitoring, where q59's exact quantiles (a full
    * distinct-value scan per refresh) are the audit, not the monitor.
    *
    * Why q-digest and not a randomized-compactor KLL or a t-digest: both
    * of those are functions of the STREAM (compaction coin flips /
    * centroid merge order), so two runs — or two engines — legitimately
    * disagree. The q-digest is a pure function of the input MULTISET:
    * leaf counts on a fixed dyadic tree over the integer universe
    * U = 2^12, then a canonical level-synchronous compression — so it is
    * order-independent, partitioning-independent, exactly mergeable
    * (add counts node-wise, recompress), and both engines can rebuild it
    * bit-for-bit. Those are precisely the properties the correctness
    * gate and a deterministic 1000-executor build both need.
    *
    * Canonical build: value counts become level-0 nodes; at each level
    * ℓ = 0..11 sibling pairs whose combined count is below
    * σ = max(1, n/64) push their mass to the parent (small families
    * climb), pairs at or above σ are FROZEN into the digest at level ℓ.
    * Non-leaf digest nodes therefore carry < σ each, which yields the
    * classic guarantee, emitted per row as `bound_ok`: the digest
    * quantile never ranks BELOW the target (rank_le ≥ target), and
    * overshoots by less than L·σ (rank_lt < target + 12σ) — the ≤ L
    * ancestor nodes straddling the answer are the only smear. Small
    * sources (n < 64 → σ = 1) keep exact value counts — est = exact —
    * while big sources compress ~64× per level; the sf ladder exercises
    * both branches (q316's discipline).
    *
    * Scale shape: one partial+final groupBy collapses the row stream to
    * the (source × ≤4096)-cell value-domain relation; the compression
    * then runs as an in-memory per-source kernel ([[qdigestCompress]],
    * `flatMapGroups` over the ≤4096-cell groups — O(U) per task by
    * construction, the same bounded-domain adaptivity as
    * connectedComponents' small-graph path). A 12-level chained-groupBy
    * dataflow would be declarative but wrong here: it stacks 12 shuffles
    * and a deeply nested plan onto a relation the FIXED universe already
    * bounds, whereas one typed kernel costs one shuffle and a flat plan.
    * Every rank probe after that is Column-land on the bounded digest —
    * no window wider than one source's ≤3k-node digest, no driver loop,
    * no action, all-BIGINT (there is no division at all).
    * Out-of-universe values fail LOUDLY on both engines
    * (raise_error/error), never clamp.
    */
  private val QdL = 12       // levels = log2(universe)
  private val QdU = 4096L    // value universe [0, 2^12)
  private val QdK = 64L      // compression: sigma = max(1, n/QdK)
  private val QdPcts = Seq(1, 5, 10, 25, 50, 75, 90, 95, 99)

  /** The canonical level-synchronous q-digest compression — a pure
    * function of the input NODE multiset (any levels; counts summed per
    * (lvl, idx)), so build (leaves in) and MERGE (two digests' nodes in)
    * are the same kernel. At each level ℓ the sibling pair whose
    * combined climbing mass is < σ pushes to the parent; a pair at
    * ≥ σ freezes both present children into the digest at level ℓ.
    * Output is (lvl, idx, c) in deterministic (lvl, idx) order.
    * Exactly mirrors the oracle SQL's unrolled 12-level CTE fold.
    */
  private[graft] def qdigestCompress(nodes: Seq[(Int, Long, Long)],
      sigma: Long): Seq[(Int, Long, Long)] = {
    val incoming = Array.fill(QdL + 1)(
      scala.collection.mutable.HashMap.empty[Long, Long])
    nodes.foreach { case (l, i, c) =>
      val m = incoming(l); m.update(i, m.getOrElse(i, 0L) + c)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var cur = incoming(0)
    for (l <- 0 until QdL) {
      val next = incoming(l + 1)
      cur.keysIterator.map(_ >> 1)
        .to(scala.collection.immutable.SortedSet).foreach { p =>
          val c0 = cur.getOrElse(2 * p, 0L)
          val c1 = cur.getOrElse(2 * p + 1, 0L)
          if (c0 + c1 >= sigma) {
            if (c0 > 0) out += ((l, 2 * p, c0))
            if (c1 > 0) out += ((l, 2 * p + 1, c1))
          } else next.update(p, next.getOrElse(p, 0L) + c0 + c1)
        }
      cur = next
    }
    cur.toSeq.sortBy(_._1).foreach { case (i, c) => out += ((QdL, i, c)) }
    out.toSeq
  }

  /** Envelope-guarded (source, v) projection + the value-domain leaf
    * relation (source, v, c) — the shared front of q320 and q324.
    */
  private[graft] def qdigestLeaves(vals0: DataFrame): DataFrame = {
    val vals = vals0.select(col("source"), expr(
      s"CASE WHEN v BETWEEN 0 AND ${QdU - 1} THEN v ELSE " +
        "CAST(raise_error('q320: value outside the 2^12 q-digest " +
        "universe; rescale or deepen the tree') AS BIGINT) END").as("v"))
    graft.util.QueryCaches.tracked(
      vals.groupBy("source", "v").agg(count(lit(1)).as("c")))
  }

  /** One q-digest per source from the leaf relation — the bounded
    * per-group kernel, shared by q320 (per-source audit) and q324
    * (node-wise merge). Output (source, lvl, idx, c, ub).
    */
  private[graft] def perSourceDigests(leaves: DataFrame): DataFrame = {
    val spark = leaves.sparkSession
    import spark.implicits._
    graft.util.QueryCaches.tracked(
      leaves.select(col("source").cast("string"), col("v"), col("c"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (src: String, it: Iterator[(String, Long, Long)]) =>
          val cells = it.map(t => (0, t._2, t._3)).toArray
          val n = cells.iterator.map(_._3).sum
          val sigma = math.max(1L, n / QdK)
          qdigestCompress(scala.collection.immutable.ArraySeq
            .unsafeWrapArray(cells), sigma).iterator
            .map { case (l, i, c) => (src, l, i, c, (i + 1) * (1L << l) - 1) }
        }.toDF("source", "lvl", "idx", "c", "ub"))
  }

  /** The q-digest build + audit over any (source, v) relation — factored
    * so Round13OpsSpec can drive crafted distributions, prove the rank
    * bound, and pin partitioning-independence.
    */
  private[graft] def qdigestSummary(vals0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val leaves = qdigestLeaves(vals0)
    val ns = graft.util.QueryCaches.tracked(
      leaves.groupBy("source").agg(sum("c").as("n"))
        .withColumn("sigma", greatest(lit(1L), expr(s"n div $QdK"))))
    val dig = perSourceDigests(leaves)
    val dw = Window.partitionBy("source").orderBy("ub", "lvl")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dcum = dig.withColumn("cum", sum("c").over(dw))
    val dn = dig.groupBy("source").agg(count(lit(1)).as("dig_nodes"))
    val tg = graft.util.QueryCaches.tracked(
      ns.select(col("source"), col("n"), col("sigma"),
          explode(array(QdPcts.map(lit): _*)).as("pct"))
        .withColumn("target_rank", expr("(pct * n + 99L) div 100L")))
    val est = tg.select("source", "pct", "target_rank")
      .join(dcum, Seq("source"))
      .filter(col("cum") >= col("target_rank"))
      .groupBy("source", "pct").agg(min("ub").as("est"))
    val lw = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lcum = leaves.withColumn("cum", sum("c").over(lw))
    val exact = tg.select("source", "pct", "target_rank")
      .join(lcum, Seq("source"))
      .filter(col("cum") >= col("target_rank"))
      .groupBy("source", "pct").agg(min("v").as("exact"))
    val rk = est.join(leaves, Seq("source"))
      .groupBy("source", "pct")
      .agg(sum(when(col("v") < col("est"), col("c")).otherwise(0L))
        .as("rank_lt"),
        sum(when(col("v") <= col("est"), col("c")).otherwise(0L))
          .as("rank_le"))
    // r14 (guide §3.1): est/exact/rk are ≤ |sources|·9-row aggregates —
    // broadcast them so the audit tail is hash joins, not three
    // sort-merge exchange pairs of 9-row relations
    tg.join(broadcast(est), Seq("source", "pct"))
      .join(broadcast(exact), Seq("source", "pct"))
      .join(broadcast(rk), Seq("source", "pct"))
      .join(broadcast(dn), "source")
      .select(col("source"), col("pct"), col("n"), col("sigma"),
        col("dig_nodes"), col("est"), col("exact"), col("target_rank"),
        col("rank_lt"), col("rank_le"),
        (col("rank_le") >= col("target_rank") &&
          col("rank_lt") < col("target_rank") + lit(QdL.toLong) * col("sigma"))
          .as("bound_ok"))
      .orderBy("source", "pct")
  }

  private val q320: Q = (s, dir) =>
    qdigestSummary(Tables.spread(Tables.documents(s, dir))
      .select(col("source"), col("n_chars").as("v")))

  /** Oracle CTE prefix shared by q320Sql/q324Sql: the guarded value
    * projection, value-domain leaves, per-source (n, σ), and the
    * unrolled 12-level per-source q-digest, ending in
    * `dig(source, lvl, idx, c, ub)`.
    */
  private val qdigestPerSourceCtes: String = {
    val levels = (0 until QdL).map { l =>
      s"""ps$l AS MATERIALIZED (SELECT source, idx // 2 AS p,
         |    CAST(sum(c) AS BIGINT) AS cs
         |  FROM cur$l GROUP BY 1, 2),
         |kept$l AS MATERIALIZED (SELECT cur.source,
         |    CAST($l AS INTEGER) AS lvl, cur.idx, cur.c,
         |    CAST((cur.idx + 1) * ${1L << l} - 1 AS BIGINT) AS ub
         |  FROM cur$l cur
         |  JOIN ps$l p ON p.source = cur.source AND p.p = cur.idx // 2
         |  JOIN ns ON ns.source = cur.source
         |  WHERE p.cs >= ns.sigma),
         |cur${l + 1} AS MATERIALIZED (SELECT p.source, p.p AS idx,
         |    p.cs AS c
         |  FROM ps$l p JOIN ns ON ns.source = p.source
         |  WHERE p.cs < ns.sigma)""".stripMargin
    }.mkString(",\n")
    val keptUnion = (0 until QdL)
      .map(l => s"SELECT source, lvl, idx, c, ub FROM kept$l")
      .mkString("\n  UNION ALL ")
    s"""vals AS (SELECT source,
       |    CASE WHEN n_chars BETWEEN 0 AND ${QdU - 1} THEN n_chars
       |      ELSE CAST(error('q320: value outside the 2^12 q-digest
       | universe; rescale or deepen the tree') AS BIGINT) END AS v
       |  FROM documents),
       |leaves AS MATERIALIZED (SELECT source, v,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM vals GROUP BY 1, 2),
       |ns AS MATERIALIZED (SELECT source, CAST(sum(c) AS BIGINT) AS n,
       |    GREATEST(CAST(1 AS BIGINT), CAST(sum(c) AS BIGINT) // $QdK)
       |      AS sigma
       |  FROM leaves GROUP BY 1),
       |cur0 AS MATERIALIZED (SELECT source, v AS idx, c FROM leaves),
       |$levels,
       |dig AS MATERIALIZED (
       |  $keptUnion
       |  UNION ALL SELECT source, CAST($QdL AS INTEGER) AS lvl, idx, c,
       |    CAST(${QdU - 1} AS BIGINT) AS ub FROM cur$QdL)""".stripMargin
  }

  private val q320Sql: String =
    s"""WITH $qdigestPerSourceCtes,
       |dcum AS (SELECT source, lvl, ub, c,
       |    sum(c) OVER (PARTITION BY source ORDER BY ub, lvl
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM dig),
       |dn AS (SELECT source, CAST(count(*) AS BIGINT) AS dig_nodes
       |  FROM dig GROUP BY 1),
       |pcts AS (SELECT unnest([${QdPcts.mkString(", ")}]) AS pct),
       |tg AS MATERIALIZED (SELECT ns.source, pcts.pct, ns.n, ns.sigma,
       |    (pcts.pct * ns.n + 99) // 100 AS target_rank
       |  FROM ns CROSS JOIN pcts),
       |est AS (SELECT t.source, t.pct, CAST(min(d.ub) AS BIGINT) AS est
       |  FROM tg t JOIN dcum d ON d.source = t.source
       |    AND d.cum >= t.target_rank
       |  GROUP BY 1, 2),
       |lcum AS (SELECT source, v, c,
       |    sum(c) OVER (PARTITION BY source ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM leaves),
       |ext AS (SELECT t.source, t.pct, CAST(min(l.v) AS BIGINT) AS exact
       |  FROM tg t JOIN lcum l ON l.source = t.source
       |    AND l.cum >= t.target_rank
       |  GROUP BY 1, 2),
       |rk AS (SELECT e.source, e.pct,
       |    CAST(sum(CASE WHEN l.v < e.est THEN l.c ELSE 0 END) AS BIGINT)
       |      AS rank_lt,
       |    CAST(sum(CASE WHEN l.v <= e.est THEN l.c ELSE 0 END) AS BIGINT)
       |      AS rank_le
       |  FROM est e JOIN leaves l ON l.source = e.source
       |  GROUP BY 1, 2)
       |SELECT t.source, CAST(t.pct AS INTEGER) AS pct, t.n, t.sigma,
       |  dn.dig_nodes, e.est, x.exact,
       |  CAST(t.target_rank AS BIGINT) AS target_rank,
       |  rk.rank_lt, rk.rank_le,
       |  (rk.rank_le >= t.target_rank
       |    AND rk.rank_lt < t.target_rank + $QdL * t.sigma) AS bound_ok
       |FROM tg t
       |JOIN est e ON e.source = t.source AND e.pct = t.pct
       |JOIN ext x ON x.source = t.source AND x.pct = t.pct
       |JOIN rk ON rk.source = t.source AND rk.pct = t.pct
       |JOIN dn ON dn.source = t.source
       |ORDER BY 1, 2""".stripMargin

  /** q324 — FEDERATED quantile merge: every per-source q-digest from
    * q320 merged node-wise (counts summed per (lvl, idx)) and
    * recompressed under the global σ_M, then audited against the exact
    * GLOBAL order statistics. This is the property the sketch exists
    * for at 1000 executors: each shard/source keeps a ≤3k-node summary,
    * and corpus-wide percentiles come from merging summaries — the raw
    * value relation is never re-scanned. [[qdigestCompress]] is by
    * construction the same kernel for build and merge (it accepts nodes
    * at any level), so merge-then-query is ONE more bounded in-memory
    * pass over the ≤ |sources|·3k node relation (merge-tree it if the
    * source registry ever makes that big — associativity is exactly
    * what permits it).
    *
    * Provable merged bound, emitted as `bound_ok`: a merged non-leaf
    * node holds < Σ_s σ_s + σ_M (each input non-leaf node carries
    * < σ_its-source; a push adds < σ_M), so the rank overshoot is
    * < L·(Σσ_s + σ_M) while the never-undershoot direction stays
    * structural. The measured rank error (also emitted) is far tighter;
    * the loose certificate is what survives arbitrary source skew.
    */
  private val q324: Q = (s, dir) => {
    val leaves = qdigestLeaves(Tables.spread(Tables.documents(s, dir))
      .select(col("source"), col("n_chars").as("v")))
    val ns = leaves.groupBy("source").agg(sum("c").as("n"))
      .withColumn("sigma", greatest(lit(1L), expr(s"n div $QdK")))
    val gs = graft.util.QueryCaches.tracked(
      ns.agg(sum("sigma").as("sig_sum"), sum("n").as("n"))
        .withColumn("sigma_m", greatest(lit(1L), expr(s"n div $QdK"))))
    val spark = s
    import spark.implicits._
    val merged = graft.util.QueryCaches.tracked(
      perSourceDigests(leaves)
        .select(col("lvl"), col("idx"), col("c"))
        .as[(Int, Long, Long)]
        .groupByKey(_ => true)
        .flatMapGroups { (_: Boolean, it: Iterator[(Int, Long, Long)]) =>
          val nodes = it.toArray
          val n = nodes.iterator.map(_._3).sum
          val sigma = math.max(1L, n / QdK)
          qdigestCompress(scala.collection.immutable.ArraySeq
            .unsafeWrapArray(nodes), sigma).iterator
            .map { case (l, i, c) => (l, i, c, (i + 1) * (1L << l) - 1) }
        }.toDF("lvl", "idx", "c", "ub"))
    val dcum = GlobalRank.prefixSum(merged, "pfx", col("c"),
        Seq(col("ub"), col("lvl")))
      .select(col("ub"), (col("pfx") + col("c")).as("cum"))
    val dn = merged.agg(count(lit(1)).as("dig_nodes"))
    val tg = graft.util.QueryCaches.tracked(
      gs.select(col("n"), col("sig_sum"), col("sigma_m"),
          explode(array(QdPcts.map(lit): _*)).as("pct"))
        .withColumn("target_rank", expr("(pct * n + 99L) div 100L")))
    val est = tg.select("pct", "target_rank").crossJoin(dcum)
      .filter(col("cum") >= col("target_rank"))
      .groupBy("pct").agg(min("ub").as("est"))
    val gl = graft.util.QueryCaches.tracked(
      leaves.groupBy("v").agg(sum("c").as("c")))
    val lcum = GlobalRank.prefixSum(gl, "pfx", col("c"), Seq(col("v")))
      .select(col("v"), (col("pfx") + col("c")).as("cum"))
    val exact = tg.select("pct", "target_rank").crossJoin(lcum)
      .filter(col("cum") >= col("target_rank"))
      .groupBy("pct").agg(min("v").as("exact"))
    val rk = est.crossJoin(gl)
      .groupBy("pct")
      .agg(sum(when(col("v") < col("est"), col("c")).otherwise(0L))
        .as("rank_lt"),
        sum(when(col("v") <= col("est"), col("c")).otherwise(0L))
          .as("rank_le"))
    // r14 (guide §3.1): the ≤9-row audit relations broadcast — see q320
    tg.join(broadcast(est), "pct").join(broadcast(exact), "pct")
      .join(broadcast(rk), "pct")
      .crossJoin(broadcast(dn))
      .select(col("pct"), col("n"), col("sig_sum"), col("sigma_m"),
        col("dig_nodes"), col("est"), col("exact"), col("target_rank"),
        col("rank_lt"), col("rank_le"),
        (col("rank_le") >= col("target_rank") &&
          col("rank_lt") < col("target_rank") +
            lit(QdL.toLong) * (col("sig_sum") + col("sigma_m")))
          .as("bound_ok"))
      .orderBy("pct")
  }

  private val q324Sql: String = {
    val levels = (0 until QdL).map { l =>
      s"""minc$l AS (SELECT idx, CAST(sum(c) AS BIGINT) AS c
         |  FROM dig WHERE lvl = $l GROUP BY 1),
         |mcur$l AS MATERIALIZED (SELECT idx, CAST(sum(c) AS BIGINT) AS c
         |  FROM (SELECT idx, c FROM minc$l
         |        UNION ALL SELECT idx, c FROM mpush$l) t
         |  GROUP BY 1),
         |mps$l AS MATERIALIZED (SELECT idx // 2 AS p,
         |    CAST(sum(c) AS BIGINT) AS cs
         |  FROM mcur$l GROUP BY 1),
         |mkept$l AS MATERIALIZED (SELECT CAST($l AS INTEGER) AS lvl,
         |    cur.idx, cur.c,
         |    CAST((cur.idx + 1) * ${1L << l} - 1 AS BIGINT) AS ub
         |  FROM mcur$l cur
         |  JOIN mps$l p ON p.p = cur.idx // 2
         |  CROSS JOIN gs
         |  WHERE p.cs >= gs.sigma_m),
         |mpush${l + 1} AS MATERIALIZED (SELECT p.p AS idx, p.cs AS c
         |  FROM mps$l p CROSS JOIN gs
         |  WHERE p.cs < gs.sigma_m)""".stripMargin
    }.mkString(",\n")
    val keptUnion = (0 until QdL)
      .map(l => s"SELECT lvl, idx, c, ub FROM mkept$l")
      .mkString("\n  UNION ALL ")
    s"""WITH $qdigestPerSourceCtes,
       |gs AS (SELECT CAST(sum(sigma) AS BIGINT) AS sig_sum,
       |    CAST(sum(n) AS BIGINT) AS n,
       |    GREATEST(CAST(1 AS BIGINT), CAST(sum(n) AS BIGINT) // $QdK)
       |      AS sigma_m
       |  FROM ns),
       |mpush0 AS (SELECT CAST(0 AS BIGINT) AS idx, CAST(0 AS BIGINT) AS c
       |  WHERE 1 = 0),
       |$levels,
       |mroot AS (SELECT idx, CAST(sum(c) AS BIGINT) AS c
       |  FROM (SELECT idx, c FROM mpush$QdL
       |        UNION ALL SELECT idx, c FROM dig WHERE lvl = $QdL) t
       |  GROUP BY 1),
       |mdig AS MATERIALIZED (
       |  $keptUnion
       |  UNION ALL SELECT CAST($QdL AS INTEGER) AS lvl, idx, c,
       |    CAST(${QdU - 1} AS BIGINT) AS ub FROM mroot),
       |mcum AS (SELECT ub, lvl, c,
       |    sum(c) OVER (ORDER BY ub, lvl
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM mdig),
       |mdn AS (SELECT CAST(count(*) AS BIGINT) AS dig_nodes FROM mdig),
       |pcts AS (SELECT unnest([${QdPcts.mkString(", ")}]) AS pct),
       |tg AS MATERIALIZED (SELECT pcts.pct, gs.n, gs.sig_sum, gs.sigma_m,
       |    (pcts.pct * gs.n + 99) // 100 AS target_rank
       |  FROM gs CROSS JOIN pcts),
       |est AS (SELECT t.pct, CAST(min(d.ub) AS BIGINT) AS est
       |  FROM tg t JOIN mcum d ON d.cum >= t.target_rank
       |  GROUP BY 1),
       |gl AS MATERIALIZED (SELECT v, CAST(sum(c) AS BIGINT) AS c
       |  FROM leaves GROUP BY 1),
       |lcum AS (SELECT v, c,
       |    sum(c) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM gl),
       |ext AS (SELECT t.pct, CAST(min(l.v) AS BIGINT) AS exact
       |  FROM tg t JOIN lcum l ON l.cum >= t.target_rank
       |  GROUP BY 1),
       |rk AS (SELECT e.pct,
       |    CAST(sum(CASE WHEN g.v < e.est THEN g.c ELSE 0 END) AS BIGINT)
       |      AS rank_lt,
       |    CAST(sum(CASE WHEN g.v <= e.est THEN g.c ELSE 0 END) AS BIGINT)
       |      AS rank_le
       |  FROM est e CROSS JOIN gl g
       |  GROUP BY 1)
       |SELECT CAST(t.pct AS INTEGER) AS pct, t.n, t.sig_sum, t.sigma_m,
       |  mdn.dig_nodes, e.est, x.exact,
       |  CAST(t.target_rank AS BIGINT) AS target_rank,
       |  rk.rank_lt, rk.rank_le,
       |  (rk.rank_le >= t.target_rank
       |    AND rk.rank_lt < t.target_rank
       |      + $QdL * (t.sig_sum + t.sigma_m)) AS bound_ok
       |FROM tg t
       |JOIN est e ON e.pct = t.pct
       |JOIN ext x ON x.pct = t.pct
       |JOIN rk ON rk.pct = t.pct
       |CROSS JOIN mdn
       |ORDER BY 1""".stripMargin
  }

  /** q325 — KMV replay: the events' user keys fold through four ordered
    * batches of the carried min-K sketch ([[mergeBatch]], the same
    * hash, capacity and estimator as q316); each batch emits the sketch
    * fill level, the distinct-count estimate, and the exact distinct
    * count so far. Small SFs hold the exact-below-K branch (fill < 256,
    * est ≡ exact); sf1's 15 000 users exercise the estimator. Building
    * the query runs no job; its action builds each ≤K-row state once.
    * The oracle unrolls the identical four-batch min-K fold.
    */
  private val q325: Q = (s, dir) => {
    val feed = graft.util.QueryCaches.tracked(
      Tables.spread(Tables.events(s, dir))
        .select(col("user_id").as("key"),
          (col("event_id") % 4).cast("int").as("batch")))
    var sk = emptySketch(s)
    var out: DataFrame = null
    for (k <- 0 to 3) {
      sk = mergeBatch(feed.filter(col("batch") === k), sk)
      val exact = feed.filter(col("batch") <= k)
        .agg(countDistinct("key").as("n_exact"))
      val row = estimate(sk)
        .crossJoin(broadcast(exact))
        .select(lit(k).as("batch"), col("k_filled"),
          round(col("est"), 2).as("est"), col("n_exact"))
      out = if (out == null) row else out.unionByName(row)
    }
    out.orderBy("batch")
  }

  private val q325Sql: String = {
    val k256 = KmvK
    def batch(k: Int): String = {
      val prevUnion =
        if (k == 0) "SELECT h FROM hk0"
        else s"SELECT h FROM sk${k - 1} UNION ALL SELECT h FROM hk$k"
      s"""hk$k AS (SELECT DISTINCT CAST(('0x' ||
         |    substr(md5(CAST(key AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM feed WHERE batch = $k),
         |sk$k AS MATERIALIZED (SELECT h FROM
         |  (SELECT DISTINCT h FROM ($prevUnion) u) t
         |  ORDER BY h LIMIT $k256),
         |ex$k AS (SELECT CAST(count(DISTINCT key) AS BIGINT) AS n_exact
         |  FROM feed WHERE batch <= $k),
         |row$k AS (SELECT CAST($k AS INTEGER) AS batch,
         |    (SELECT CAST(count(*) AS BIGINT) FROM sk$k) AS k_filled,
         |    round(CASE WHEN (SELECT count(*) FROM sk$k) < $k256
         |      THEN CAST((SELECT count(*) FROM sk$k) AS DOUBLE)
         |      ELSE CAST(${k256 - 1} AS DOUBLE)
         |        * CAST(1152921504606846976 AS DOUBLE)
         |        / CAST((SELECT max(h) FROM sk$k) AS DOUBLE) END, 2)
         |      AS est,
         |    ex$k.n_exact
         |  FROM ex$k)""".stripMargin
    }
    s"""WITH feed AS MATERIALIZED (SELECT user_id AS key,
       |    CAST(event_id % 4 AS INTEGER) AS batch FROM events),
       |${(0 to 3).map(batch).mkString(",\n")}
       |SELECT * FROM row0 UNION ALL SELECT * FROM row1
       |UNION ALL SELECT * FROM row2 UNION ALL SELECT * FROM row3
       |ORDER BY batch""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q283_cms_frequency", q283, q283Sql),
    Query("q316_kmv_overlap", q316, q316Sql),
    Query("q320_quantile_sketch", q320, q320Sql),
    Query("q324_quantile_merge", q324, q324Sql),
    Query("q325_kmv_replay", q325, q325Sql)
  )
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.source.Tables
import graft.Query

/** Analytic widening of the relational suite (SURVEY.md §2.2): grouping
  * sets (q65), unpivot/melt (q66), window navigation (q67) and
  * distribution functions (q68), argmax aggregation (q69), the equi-join
  * scale path for range joins (q73), salted joins (q77), multiset set
  * ops (q82), time-RANGE frames (q84), percent-of-total (q85),
  * decorrelated scalar subqueries (q86), and schema-evolution union
  * (q93).
  *
  * Scale rules shared with [[Relational]]: one shuffle per aggregation
  * (partial map-side combine), dims broadcast, doubles either left
  * untouched (bit-identical derivations) or reduced on exact integers.
  */
object Analytic {

  private type Q = (SparkSession, String) => DataFrame

  /** q65 — explicit GROUPING SETS ((status), (priority)): both one-column
    * aggregates in a single Expand(2×)+aggregate pass — one scan and one
    * shuffle where a UNION ALL of two group-bys would scan the fact table
    * twice at 100 TB. Complements q25 (rollup) and q64 (cube), which are
    * fixed lattices; this is the arbitrary-sets form.
    */
  private val q65: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice")).cast("long")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val q65Sql =
    """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price
      |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** q66 — unpivot (melt wide→long): Spark's native `unpivot` plans an
    * Expand — each input row is replicated once per value column map-side,
    * no shuffle until the downstream aggregate. The schema-on-read
    * alternative to storing long-format metrics. Values are quantized to
    * exact integer cents PER ROW before summing (round(sum(double)) is
    * order-sensitive at the ulp level — Spark's partial-merge order vs
    * DuckDB's scan order — and this module's determinism contract bans
    * float reductions the gate hashes).
    */
  private val q66: Q = (s, dir) =>
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
        col("p_retailprice"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_size"), col("p_retailprice")), "metric", "val")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("val") * 100).cast("long")).cast("double") / 100)
          .as("total"))
      .orderBy("metric")

  private val q66Sql =
    """SELECT metric, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(val*100) AS BIGINT)) AS DOUBLE)/100 AS total
      |FROM (
      |  SELECT 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
      |  UNION ALL
      |  SELECT 'p_retailprice' AS metric, p_retailprice AS val FROM part)
      |GROUP BY metric ORDER BY metric""".stripMargin

  /** q67 — window navigation (lag): per-customer inter-order gaps. One
    * shuffle on the partition key, then a sort within partitions; the
    * downstream per-customer aggregate reuses the same clustering so no
    * second shuffle. All outputs are integers (day counts) — no float
    * accumulation-order risk.
    */
  private val q67: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, dir)
      .withColumn("gap_days",
        datediff(col("o_orderdate").cast("date"),
          lag("o_orderdate", 1).over(w).cast("date")))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        max("gap_days").as("max_gap"),
        sum(col("gap_days").cast("long")).as("span_days"))
      .orderBy("o_custkey")
  }

  private val q67Sql =
    """WITH g AS (
      |  SELECT o_custkey,
      |    date_diff('day',
      |      CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
      |             ORDER BY o_orderdate, o_orderkey) AS DATE),
      |      CAST(o_orderdate AS DATE)) AS gap_days
      |  FROM orders)
      |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(max(gap_days) AS INT) AS max_gap,
      |  CAST(sum(gap_days) AS BIGINT) AS span_days
      |FROM g GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** q68 — window distribution functions: ntile(4) / percent_rank /
    * cume_dist over a UNIQUE ordering (totalprice, orderkey) — the unique
    * tiebreak is what makes ntile deterministic across engines; without it
    * tied rows land in arbitrary tiles. percent_rank and cume_dist are
    * exact rational divisions of identical integers, so the doubles are
    * bit-identical and need no rounding.
    */
  private val q68: Q = (s, dir) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy("o_totalprice", "o_orderkey")
    Tables.orders(s, dir)
      .select(col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("n"),
        min("pr").as("min_pr"), max("pr").as("max_pr"), max("cd").as("max_cd"))
      .orderBy("o_orderpriority", "quartile")
  }

  private val q68Sql =
    """WITH r AS (
      |  SELECT o_orderpriority,
      |    ntile(4)       OVER w AS quartile,
      |    percent_rank() OVER w AS pr,
      |    cume_dist()    OVER w AS cd
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice, o_orderkey))
      |SELECT o_orderpriority, CAST(quartile AS INT) AS quartile,
      |  CAST(count(*) AS BIGINT) AS n,
      |  min(pr) AS min_pr, max(pr) AS max_pr, max(cd) AS max_cd
      |FROM r GROUP BY o_orderpriority, quartile
      |ORDER BY o_orderpriority, quartile""".stripMargin

  /** q69 — argmax aggregation: per-nation best customer via `max_by` over
    * a (acctbal, -custkey) struct — ties on balance resolve to the lowest
    * custkey, making the answer unique. One partial+final aggregate; the
    * window-function alternative (row_number + filter) would sort every
    * group, this keeps only one struct per group per partition.
    */
  private val q69: Q = (s, dir) =>
    Tables.customer(s, dir)
      .groupBy("c_nationkey")
      .agg(
        max_by(col("c_custkey"),
          struct(col("c_acctbal"), (col("c_custkey") * -1).as("nk"))).as("top_cust"),
        round(max("c_acctbal"), 2).as("top_bal"))
      .orderBy("c_nationkey")

  private val q69Sql =
    """WITH m AS (SELECT c_nationkey, max(c_acctbal) AS mx
      |           FROM customer GROUP BY 1)
      |SELECT c.c_nationkey, CAST(min(c_custkey) AS BIGINT) AS top_cust,
      |       round(max(mx),2) AS top_bal
      |FROM customer c
      |JOIN m ON c.c_nationkey = m.c_nationkey AND c.c_acctbal = m.mx
      |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin

  /** q73 — range join, equi-join scale path: the q22 size-band theta join
    * rewritten by densifying each band into its integer bucket domain
    * (`explode(sequence(lo, hi-1))`) and equi-joining on `p_size`. Same
    * result as q22 (the oracle IS q22's SQL), but the physical plan is a
    * broadcast HASH join instead of a nested-loop — the rewrite that keeps
    * range joins viable at 100 TB when the band table is too large for
    * per-row predicate evaluation. For continuous domains the same trick
    * buckets both sides to `floor(x/w)` and keeps a residual predicate.
    */
  private val q73: Q = (s, dir) => {
    import s.implicits._
    val bands = Seq((0, 10, "small"), (10, 25, "medium"), (25, 51, "large"))
      .toDF("lo", "hi", "band")
    val buckets = bands.select(col("band"),
      explode(sequence(col("lo"), col("hi") - 1)).as("p_size"))
    // exact integer cents summed, ONE division at the end: avg(double) is
    // an order-sensitive reduction the determinism contract bans
    Tables.part(s, dir)
      .join(broadcast(buckets), "p_size")
      .groupBy("band")
      .agg(count(lit(1)).as("n_parts"),
        (sum(floor(col("p_retailprice") * 100).cast("long")).cast("double") /
          (count(lit(1)) * 100)).as("avg_price"))
      .orderBy("band")
  }

  private val q73Sql =
    """SELECT band, CAST(count(*) AS BIGINT) AS n_parts,
      |  CAST(sum(CAST(floor(p_retailprice*100) AS BIGINT)) AS DOUBLE)
      |    / (count(*) * 100) AS avg_price
      |FROM part
      |JOIN (VALUES (0,10,'small'),(10,25,'medium'),(25,51,'large')) AS b(lo,hi,band)
      |  ON p_size >= lo AND p_size < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin

  /** q77 — salted equi-join as a declared operator ([[SkewJoin.saltedJoin]]):
    * the fact side gets a random salt, the dimension side is replicated
    * `buckets`× and the join runs on (key, salt) — a hot part key's rows
    * spread across `buckets` reducers instead of funneling into one. The
    * oracle is the PLAIN join: salting must be semantically invisible.
    * (AQE's skew-join split covers sort-merge joins after the fact;
    * salting is the explicit form that also covers the shuffled hash join
    * and pre-AQE engines.)
    */
  private val q77: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .withColumn("cents", floor(col("l_extendedprice") * 100).cast("long"))
    val p = Tables.part(s, dir).withColumnRenamed("p_partkey", "l_partkey")
    SkewJoin.saltedJoin(li, p, "l_partkey", buckets = 8)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"), sum("cents").as("sum_cents"))
      .orderBy("p_brand")
  }

  private val q77Sql =
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** q82 — multiset set ops: `EXCEPT ALL` / `INTERSECT ALL` preserve
    * duplicate counts (count subtraction / min), which the q29 distinct
    * variants erase. Spark plans both as a single aggregate computing the
    * two sides' counts then a generator replicating rows — one shuffle on
    * the value, no join. The post-op aggregate keeps the declared output
    * compact.
    */
  private val q82: Q = (s, dir) => {
    val a = Tables.lineitem(s, dir).select((col("l_partkey") % 100).as("k"))
    val b = Tables.part(s, dir).select((col("p_partkey") % 100).as("k"))
    a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("k"), col("n"))
      .unionAll(
        a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n"))
          .select(lit("intersect_all").as("op"), col("k"), col("n")))
      .orderBy("op", "k")
  }

  private val q82Sql =
    """WITH a AS (SELECT l_partkey % 100 AS k FROM lineitem),
      |     b AS (SELECT p_partkey % 100 AS k FROM part)
      |SELECT 'except_all' AS op, k, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
      |UNION ALL
      |SELECT 'intersect_all' AS op, k, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
      |ORDER BY op, k""".stripMargin

  /** q84 — time-RANGE window frame: per-customer 7-day trailing order
    * totals. Unlike q27's ROWS frame, the frame edge is a VALUE offset
    * (epoch-ms), so ties in the ordering column share one frame — the SQL
    * standard's RANGE semantics, deterministic across engines without a
    * unique tiebreak. One shuffle on the partition key; exact integer
    * cents.
    */
  private val q84: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy("ms")
      .rangeBetween(-604800000L, 0L) // 7 days in ms
    Tables.orders(s, dir)
      // o_orderdate is TIMESTAMP_NTZ; the engine runs UTC everywhere
      // (build.sbt), so the NTZ→TZ cast is the identity epoch DuckDB's
      // epoch_ms computes on the naive value
      .withColumn("ms", unix_millis(col("o_orderdate").cast("timestamp")))
      .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
      .select(col("o_orderkey"), col("o_custkey"),
        sum("cents").over(w).as("cents_7d"),
        count(lit(1)).over(w).as("n_7d"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val q84Sql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(sum(cents) OVER w AS BIGINT) AS cents_7d,
      |  CAST(count(*) OVER w AS BIGINT) AS n_7d
      |FROM (SELECT *, epoch_ms(o_orderdate) AS ms,
      |        CAST(floor(o_totalprice*100) AS BIGINT) AS cents FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY ms
      |             RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q85 — percent-of-total: each (priority, status) cell's share of its
    * priority's revenue — a whole-partition window aggregate OVER a
    * grouped aggregate (no frame). Two tiny shuffles (group keys, then
    * window key); the share is one exact-integer division, rounded
    * identically on both engines.
    */
  private val q85: Q = (s, dir) => {
    val cells = Tables.orders(s, dir)
      .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(sum("cents").as("cents"))
    val w = Window.partitionBy("o_orderpriority")
    cells
      .select(col("o_orderpriority"), col("o_orderstatus"), col("cents"),
        round(col("cents").cast("double") / sum("cents").over(w), 6)
          .as("share"))
      .orderBy("o_orderpriority", "o_orderstatus")
  }

  private val q85Sql =
    """WITH cells AS (
      |  SELECT o_orderpriority, o_orderstatus,
      |    CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderpriority, o_orderstatus, cents,
      |  round(cents::DOUBLE /
      |    CAST(sum(cents) OVER (PARTITION BY o_orderpriority) AS BIGINT), 6)
      |    AS share
      |FROM cells ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  /** q86 — correlated scalar subquery: each customer's max order price,
    * written as a per-row subquery and DECORRELATED by Catalyst into a
    * left-outer aggregate join (`.explain` shows no per-row execution) —
    * the optimizer capability that makes naive analyst SQL scale. Null
    * for customers with no orders, on both engines. `max(floor(x))`
    * (monotone, = `floor(max(x))`) keeps the result integer-exact.
    */
  private val q86: Q = (s, dir) => {
    Tables.customer(s, dir).createOrReplaceTempView("customer_q86")
    Tables.orders(s, dir).createOrReplaceTempView("orders_q86")
    s.sql(
      """SELECT c_custkey,
        |  (SELECT CAST(max(floor(o_totalprice)) AS BIGINT) FROM orders_q86 o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer_q86 c ORDER BY c_custkey""".stripMargin)
  }

  private val q86Sql =
    """SELECT c_custkey,
      |  (SELECT CAST(max(floor(o_totalprice)) AS BIGINT) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS max_price
      |FROM customer c ORDER BY c_custkey""".stripMargin

  /** q93 — schema-evolution union: two shard generations with different
    * column sets merged BY NAME (`unionByName(allowMissingColumns)`,
    * missing columns null-filled) — positional `union` would silently
    * misalign columns; this is the ingest-time merge any long-lived
    * 100 TB corpus needs as its schema grows. The audit aggregate counts
    * legacy rows (null-filled column) per group.
    */
  private val q93: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val v1 = docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "lang", "n_chars") // legacy shard: no `source` yet
    val v2 = docs.filter(col("doc_id") % 2 =!= 0)
      .select("doc_id", "lang", "n_chars", "source")
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_legacy"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  }

  private val q93Sql =
    """WITH u AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT doc_id, lang, n_chars, source FROM documents
      |  WHERE doc_id % 2 <> 0)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_legacy,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM u GROUP BY lang ORDER BY lang""".stripMargin

  /** q94 — cohort retention: users bucketed by first-seen week, then the
    * distinct-user count per (cohort, week-offset) cell — the classic
    * retention matrix. Two shuffles on `user_id` (first-seen aggregate,
    * then the activity join reuses the clustering) plus the tiny cell
    * aggregate. Week arithmetic on exact epoch-µs integers; both engines'
    * integer division agree on positive values.
    */
  private val q94: Q = (s, dir) => {
    // `div`, not `/`: epoch-µs ≈ 1.7e18 exceeds the 2^53 double mantissa,
    // so float division would corrupt low-order digits (same hazard the
    // events reader documents)
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
    val first = ev.groupBy("user_id").agg(min("ts").as("first_ts"))
    ev.join(first, "user_id")
      .select(col("user_id"),
        expr(graft.util.SqlArith.floorDiv("unix_micros(first_ts)", 604800000000L)).as("cohort_week"),
        expr(graft.util.SqlArith.floorDiv("unix_micros(ts)", 604800000000L) + " - " +
          graft.util.SqlArith.floorDiv("unix_micros(first_ts)", 604800000000L)).as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  private val q94Sql =
    """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
      |j AS (SELECT e.user_id,
      |        epoch_us(f.first_ts) // 604800000000 AS cohort_week,
      |        (epoch_us(e.ts) // 604800000000)
      |          - (epoch_us(f.first_ts) // 604800000000) AS week_offset
      |      FROM events e JOIN f USING (user_id))
      |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
      |  CAST(week_offset AS BIGINT) AS week_offset,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM j GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  /** q95 — DISCRETE percentiles: `percentile_disc` returns an actual
    * data value (the first at-or-above the rank), where q59's
    * `percentile`/`quantile_cont` interpolates — the right choice when
    * the percentile must be an observed value (a real document length, a
    * real price). Exact integer cents, so cross-engine equality is exact.
    */
  private val q95: Q = (s, dir) => {
    Tables.orders(s, dir)
      .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
      .createOrReplaceTempView("orders_q95")
    s.sql(
      """SELECT o_orderpriority,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)
        |    AS p50_disc,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) AS BIGINT)
        |    AS p90_disc
        |FROM orders_q95 GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  private val q95Sql =
    """SELECT o_orderpriority,
      |  CAST(quantile_disc(CAST(floor(o_totalprice*100) AS BIGINT), 0.5)
      |    AS BIGINT) AS p50_disc,
      |  CAST(quantile_disc(CAST(floor(o_totalprice*100) AS BIGINT), 0.9)
      |    AS BIGINT) AS p90_disc
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q112 — per-group z-score outlier detection with EXACT integer
    * moments: `value` is quantized to 0.001 once, then n/Σq/Σq² are exact
    * BIGINT aggregates — so mean and variance are derived from integers
    * and the z computation is the same IEEE expression on both engines, no
    * float-accumulation-order sensitivity (`stddev_samp` would differ
    * between engines at the last ulp). One map-side-combinable aggregate
    * per user + one hash join back to the events; groups with zero
    * variance are excluded by an integer comparison (s2·n > s1²), not a
    * float guard. Quantization headroom: the per-row envelope
    * ([[graft.util.MomentGuard.quantizeSpark]], |q| ≤ 3e6 ⇒ q² ≤ 9e12)
    * bounds each term, and the POST-aggregate certificate
    * ([[graft.util.MomentGuard.sumGuardSpark]], n·max(q²) ≤ 9.0e18)
    * bounds the SUM — a group large enough that Σq² could exceed 2⁶³
    * (~10⁶ max-magnitude rows) now raises identically on both engines
    * instead of Spark wrapping silently where DuckDB raises.
    */
  private val q112: Q = (s, dir) => {
    import graft.util.MomentGuard
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        expr(MomentGuard.quantizeSpark("value", 3000L, 1000L, "q112")).as("q"))
    val stats = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("q").as("s1"),
        sum(expr("q*q")).as("s2r"), max(expr("q*q")).as("m2"))
      .select(col("user_id"), col("n"), col("s1"),
        expr(MomentGuard.sumGuardSpark("s2r", "n", "m2", "q112")).as("s2"))
      .filter(col("n") >= 10)
    ev.join(stats, "user_id")
      .filter(col("s2") * col("n") > col("s1") * col("s1"))
      .withColumn("z", expr(
        """(CAST(q AS DOUBLE) - CAST(s1 AS DOUBLE)/n) /
          |  sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n)/(n-1))"""
          .stripMargin))
      .filter(abs(col("z")) > 3)
      .select(col("user_id"), col("event_id"), col("value"), col("z"))
      .orderBy("user_id", "event_id")
  }

  private val q112Sql =
    s"""WITH ev AS (SELECT event_id, user_id, value,
      |  ${graft.util.MomentGuard.quantizeDuck("value", 3000L, 1000L, "q112")} AS q
      |  FROM events),
      |st AS (SELECT user_id, count(*) AS n, CAST(sum(q) AS BIGINT) AS s1,
      |  ${graft.util.MomentGuard.sumGuardDuck("CAST(sum(q*q) AS BIGINT)",
           "count(*)", "max(q*q)", "q112")} AS s2
      |  FROM ev GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, event_id, value,
      |  (CAST(q AS DOUBLE) - CAST(s1 AS DOUBLE)/n) /
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n)/(n-1)) AS z
      |FROM ev JOIN st USING (user_id)
      |WHERE st.s2 * st.n > st.s1 * st.s1
      |  AND abs((CAST(q AS DOUBLE) - CAST(s1 AS DOUBLE)/n) /
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n)/(n-1))) > 3
      |ORDER BY user_id, event_id""".stripMargin

  /** q123 — the star-schema join (TPC-H Q5 shape): local-supplier revenue
    * by nation for one region and one order-date year. Five joins; the
    * plan the optimizer should pick — and PlanSpec pins — is fact-table
    * pipelines with every dimension BROADCAST (region→nation filters to a
    * handful of rows, supplier/customer are dimension-sized) so the only
    * shuffle is orders⋈lineitem on the orderkey, with the region filter
    * and date range pushed into the scans. Revenue is quantized to cents
    * PER ROW before the sum (the per-row double product is bit-identical
    * cross-engine; only accumulation order isn't).
    */
  private val q123: Q = (s, dir) => {
    val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, dir)
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
    val cust = Tables.customer(s, dir)
    val supp = Tables.supplier(s, dir)
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    Tables.lineitem(s, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .withColumn("cents", expr(
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
      .groupBy("n_name")
      .agg(sum("cents").as("revenue_cents"), count(lit(1)).as("n_items"))
      .orderBy(desc("revenue_cents"), col("n_name"))
  }

  private val q123Sql =
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue_cents DESC, n_name""".stripMargin

  /** q203 — retention half-life: the pooled weekly retention curve
    * (q94's cohort machinery collapsed across cohorts: share of ALL
    * users active at week offset w) fit with OLS of log₂(rate) on w —
    * the exponential-decay read whose slope gives the churn half-life
    * −1/slope in weeks, the one-number retention summary a growth
    * model consumes. Determinism: rates are exact BIGINT user counts
    * over the broadcast total; each log₂ is quantized
    * `round(·1e6)::BIGINT` before the moment sums (offsets are small
    * integers, so every moment is far inside BIGINT); slope, half-life,
    * and R² are single IEEE expressions over exactly-representable
    * integer diffs, mirrored verbatim. Scale shape: one user-keyed
    * min-reduce, one (user, offset)-distinct count, a ≤|weeks|-row fit.
    */
  private val q203: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
    val first = ev.groupBy("user_id").agg(min("ts").as("first_ts"))
    val offs = ev.join(first, "user_id")
      .select(col("user_id"),
        expr(graft.util.SqlArith.floorDiv("unix_micros(ts)", 604800000000L) +
          " - " +
          graft.util.SqlArith.floorDiv("unix_micros(first_ts)", 604800000000L))
          .as("w"))
      .distinct()
    val tot = first.agg(countDistinct("user_id").as("n_users"))
    val pts = offs.groupBy("w").agg(countDistinct("user_id").as("n_active"))
      .crossJoin(broadcast(tot))
      .select(col("w").cast("long").as("x"),
        expr("""CAST(round(log2(CAST(n_active AS DOUBLE) / n_users) * 1e6)
                |  AS BIGINT)""".stripMargin).as("y"))
    pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x*x")).as("sxx"), sum(expr("x*y")).as("sxy"),
        sum(expr("y*y")).as("syy"))
      .select(col("n"),
        expr("""CASE WHEN n*sxx - sx*sx = 0 THEN 0D
                |ELSE (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) / 1e6
                |END""".stripMargin).as("slope"),
        expr("""CASE WHEN n*sxx - sx*sx = 0 OR n*sxy - sx*sy >= 0 THEN 0D
                |ELSE 0D - 1e6 / (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                |END""".stripMargin).as("half_life_weeks"),
        expr("""CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN 0D
                |ELSE (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
                |  / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
                |END""".stripMargin).as("r2"))
  }

  private val q203Sql =
    """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
      |o AS (SELECT DISTINCT e.user_id,
      |    (epoch_us(e.ts) // 604800000000)
      |      - (epoch_us(f.first_ts) // 604800000000) AS w
      |  FROM events e JOIN f USING (user_id)),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM f),
      |p AS (SELECT CAST(o.w AS BIGINT) AS x,
      |    CAST(round(log2(CAST(count(DISTINCT o.user_id) AS DOUBLE)
      |      / tot.n_users) * 1e6) AS BIGINT) AS y
      |  FROM o CROSS JOIN tot GROUP BY o.w, tot.n_users),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
      |    CAST(sum(y*y) AS BIGINT) AS syy
      |  FROM p)
      |SELECT n,
      |  CASE WHEN n*sxx - sx*sx = 0 THEN 0.0
      |  ELSE (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) / 1e6
      |  END AS slope,
      |  CASE WHEN n*sxx - sx*sx = 0 OR n*sxy - sx*sy >= 0 THEN 0.0
      |  ELSE 0.0 - 1e6 / (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
      |  END AS half_life_weeks,
      |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN 0.0
      |  ELSE (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
      |    / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
      |  END AS r2
      |FROM m""".stripMargin

  /** q211 — join-cardinality estimation audit: for three joins the engine
    * itself runs (customer⋈orders on custkey, orders⋈lineitem on orderkey,
    * and the deliberately skew-hostile documents⋈documents self-join on
    * lang), compare the System-R uniformity estimate
    * |L|·|R| / max(ndv_L, ndv_R) against the EXACT output cardinality
    * Σ_k n_L(k)·n_R(k), and report the q-error plus the dominant key's
    * share of the true output. This is the number a cost-based optimizer
    * bets a 100 TB shuffle on: the two FK joins validate the uniformity
    * assumption (q-error ≈ 1), the language self-join shows it off by the
    * Herfindahl factor q201 measured — the "estimate said broadcastable,
    * reality said quadratic" failure mode. Scale shape: each side reduces
    * to its key histogram FIRST (partial+final count), the histograms
    * full-outer equi-join on the key, and one aggregate folds totals, ndv,
    * exact Σ products (per-term [[MomentGuard.productGuardSpark]] + n·max
    * sum certificate — a key hot enough to wrap 2⁶³ raises identically on
    * both engines instead of silently mis-costing), so the audit never
    * materializes the join it prices. Estimates/q-error are single
    * same-order IEEE derivations from exact BIGINTs.
    */
  private val q211: Q = (s, dir) => {
    import graft.util.MomentGuard
    def audit(name: String, left: DataFrame, lKey: String,
        right: DataFrame, rKey: String): DataFrame = {
      val hl = left.groupBy(col(lKey).cast("string").as("k"))
        .agg(count(lit(1)).as("nl"))
      val hr = right.groupBy(col(rKey).cast("string").as("k"))
        .agg(count(lit(1)).as("nr"))
      hl.join(hr, Seq("k"), "full_outer")
        .select(coalesce(col("nl"), lit(0L)).as("nl"),
          coalesce(col("nr"), lit(0L)).as("nr"))
        .withColumn("prod",
          expr(MomentGuard.productGuardSpark("nl", "nr", "q211")))
        .agg(sum("nl").as("n_left"), sum("nr").as("n_right"),
          sum(when(col("nl") > 0, 1L).otherwise(0L)).as("ndv_left"),
          sum(when(col("nr") > 0, 1L).otherwise(0L)).as("ndv_right"),
          sum(when(col("nl") > 0 && col("nr") > 0, 1L).otherwise(0L))
            .as("n_keys_shared"),
          count(lit(1)).as("nk"), sum("prod").as("sp"), max("prod").as("mp"))
        .select(lit(name).as("join_name"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"), col("n_keys_shared"),
          expr(MomentGuard.sumGuardSpark("sp", "nk", "mp", "q211"))
            .as("exact_rows"),
          (col("n_left").cast("double") * col("n_right").cast("double") /
            greatest(col("ndv_left"), col("ndv_right")).cast("double"))
            .as("est_rows"),
          col("mp"))
        .select(col("join_name"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"), col("n_keys_shared"),
          col("exact_rows"), col("est_rows"),
          when(col("exact_rows") === 0 || col("est_rows") === 0.0, 0.0)
            .otherwise(greatest(
              col("est_rows") / col("exact_rows").cast("double"),
              col("exact_rows").cast("double") / col("est_rows")))
            .as("q_error"),
          when(col("exact_rows") === 0, 0.0)
            .otherwise(col("mp").cast("double") /
              col("exact_rows").cast("double")).as("top1_share"))
    }
    val docs = Tables.spread(Tables.documents(s, dir))
    audit("customer_orders", Tables.customer(s, dir), "c_custkey",
        Tables.orders(s, dir), "o_custkey")
      .unionByName(audit("orders_lineitem", Tables.orders(s, dir),
        "o_orderkey", Tables.lineitem(s, dir), "l_orderkey"))
      .unionByName(audit("documents_lang_self", docs, "lang", docs, "lang"))
      .orderBy("join_name")
  }

  private val q211Sql: String = {
    import graft.util.MomentGuard
    def frag(i: Int, name: String, lTable: String, lKey: String,
        rTable: String, rKey: String): String =
      s"""hl_$i AS (SELECT CAST($lKey AS VARCHAR) AS k,
         |    CAST(count(*) AS BIGINT) AS nl FROM $lTable GROUP BY 1),
         |hr_$i AS (SELECT CAST($rKey AS VARCHAR) AS k,
         |    CAST(count(*) AS BIGINT) AS nr FROM $rTable GROUP BY 1),
         |j_$i AS (SELECT coalesce(nl, 0) AS nl, coalesce(nr, 0) AS nr,
         |    ${MomentGuard.productGuardDuck(
               "coalesce(nl, 0)", "coalesce(nr, 0)", "q211")} AS prod
         |  FROM hl_$i FULL OUTER JOIN hr_$i USING (k)),
         |m_$i AS (SELECT CAST(sum(nl) AS BIGINT) AS n_left,
         |    CAST(sum(nr) AS BIGINT) AS n_right,
         |    CAST(sum(CASE WHEN nl > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ndv_left,
         |    CAST(sum(CASE WHEN nr > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ndv_right,
         |    CAST(sum(CASE WHEN nl > 0 AND nr > 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_keys_shared,
         |    CAST(count(*) AS BIGINT) AS nk,
         |    CAST(sum(prod) AS BIGINT) AS sp,
         |    CAST(max(prod) AS BIGINT) AS mp FROM j_$i),
         |a_$i AS (SELECT '$name' AS join_name, n_left, n_right, ndv_left,
         |    ndv_right, n_keys_shared,
         |    ${MomentGuard.sumGuardDuck("sp", "nk", "mp", "q211")}
         |      AS exact_rows,
         |    CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
         |      / CAST(greatest(ndv_left, ndv_right) AS DOUBLE) AS est_rows,
         |    mp FROM m_$i),
         |f_$i AS (SELECT join_name, n_left, n_right, ndv_left, ndv_right,
         |    n_keys_shared, exact_rows, est_rows,
         |    CASE WHEN exact_rows = 0 OR est_rows = 0 THEN 0.0
         |      ELSE greatest(est_rows / CAST(exact_rows AS DOUBLE),
         |        CAST(exact_rows AS DOUBLE) / est_rows) END AS q_error,
         |    CASE WHEN exact_rows = 0 THEN 0.0
         |      ELSE CAST(mp AS DOUBLE) / CAST(exact_rows AS DOUBLE) END
         |      AS top1_share
         |  FROM a_$i)""".stripMargin
    s"""WITH ${frag(1, "customer_orders", "customer", "c_custkey",
          "orders", "o_custkey")},
       |${frag(2, "orders_lineitem", "orders", "o_orderkey",
          "lineitem", "l_orderkey")},
       |${frag(3, "documents_lang_self", "documents", "lang",
          "documents", "lang")}
       |SELECT * FROM (SELECT * FROM f_1 UNION ALL SELECT * FROM f_2
       |  UNION ALL SELECT * FROM f_3) ORDER BY join_name""".stripMargin
  }

  /** q222 — ANALYZE-style table statistics for broadcast planning: per
    * relation, exact row count, estimated in-memory row width (fixed
    * widths for numeric/timestamp columns + exact mean VARCHAR length +
    * 4 B string overhead), the resulting total size, and whether it
    * clears the 10 MiB auto-broadcast threshold — the statistics a
    * cost-based join planner (and q211's estimator) reads before
    * choosing sides. At 100 TB the decision this feeds (broadcast vs
    * shuffle) is the single largest plan lever; collecting it is one
    * partial+final aggregate per table (count + one summed length
    * expression), no second pass. String mass stays an exact BIGINT sum
    * until the final per-row divide; widths/threshold are the same
    * literals on both engines.
    */
  private val q222: Q = (s, dir) => {
    def stats(df: DataFrame, name: String, fixed: Int,
        vcols: Seq[String]): DataFrame = {
      val sl = vcols.map(c => length(col(c)).cast("long")).reduce(_ + _)
      df.agg(count(lit(1)).as("n_rows"), sum(sl).as("sl"))
        .select(lit(name).as("table_name"), col("n_rows"),
          (lit((fixed + 4 * vcols.size).toDouble) +
            col("sl").cast("double") / col("n_rows").cast("double"))
            .as("est_row_bytes"))
        .select(col("table_name"), col("n_rows"), col("est_row_bytes"),
          (col("est_row_bytes") * col("n_rows").cast("double"))
            .as("est_total_bytes"))
        .select(col("table_name"), col("n_rows"), col("est_row_bytes"),
          col("est_total_bytes"),
          (col("est_total_bytes") < 10485760.0).as("broadcastable"))
    }
    stats(Tables.region(s, dir), "region", 4, Seq("r_name"))
      .unionByName(stats(Tables.nation(s, dir), "nation", 8, Seq("n_name")))
      .unionByName(stats(Tables.customer(s, dir), "customer", 20,
        Seq("c_name", "c_mktsegment")))
      .unionByName(stats(Tables.supplier(s, dir), "supplier", 20,
        Seq("s_name")))
      .unionByName(stats(Tables.orders(s, dir), "orders", 32,
        Seq("o_orderstatus", "o_orderpriority")))
      .orderBy("table_name")
  }

  private val q222Sql: String = {
    def frag(i: Int, table: String, fixed: Int, vcols: Seq[String]): String = {
      val sl = vcols.map(c => s"length($c)").mkString(" + ")
      val f = (fixed + 4 * vcols.size).toDouble
      s"""f_$i AS (SELECT '$table' AS table_name,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    $f + CAST(CAST(sum($sl) AS BIGINT) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS est_row_bytes
         |  FROM $table),
         |g_$i AS (SELECT table_name, n_rows, est_row_bytes,
         |    est_row_bytes * CAST(n_rows AS DOUBLE) AS est_total_bytes
         |  FROM f_$i),
         |h_$i AS (SELECT table_name, n_rows, est_row_bytes,
         |    est_total_bytes, est_total_bytes < 10485760.0 AS broadcastable
         |  FROM g_$i)""".stripMargin
    }
    s"""WITH ${frag(1, "region", 4, Seq("r_name"))},
       |${frag(2, "nation", 8, Seq("n_name"))},
       |${frag(3, "customer", 20, Seq("c_name", "c_mktsegment"))},
       |${frag(4, "supplier", 20, Seq("s_name"))},
       |${frag(5, "orders", 32, Seq("o_orderstatus", "o_orderpriority"))}
       |SELECT * FROM (SELECT * FROM h_1 UNION ALL SELECT * FROM h_2
       |  UNION ALL SELECT * FROM h_3 UNION ALL SELECT * FROM h_4
       |  UNION ALL SELECT * FROM h_5)
       |ORDER BY table_name""".stripMargin
  }

  /** q228 — shuffle-partition sizing: q222's width model applied to the
    * FACT relations, producing the two numbers an operator actually
    * tunes before a big job: the bytes each of the session's 32 shuffle
    * partitions would carry, and the partition count that keeps every
    * partition under the 64 MiB working-set budget
    * (`ceil(total/64 MiB)`) — i.e. the computed value of
    * `spark.sql.shuffle.partitions` / `files.maxPartitionBytes` instead
    * of a guessed one, plus a spill_risk flag when the current 32-way
    * layout would blow the budget. Variable-width mass (VARCHARs, the
    * FLOAT[] embedding payload) is an exact per-row byte expression
    * summed as BIGINTs; the only doubles are the final three
    * derivations, identical text on both engines.
    */
  private val q228: Q = (s, dir) => {
    def plan(df: DataFrame, name: String, fixed: Int,
        varBytes: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(varBytes).as("vb"))
        .select(lit(name).as("table_name"), col("n_rows"),
          (lit(fixed.toDouble) + col("vb").cast("double") /
            col("n_rows").cast("double")).as("est_row_bytes"))
        .select(col("table_name"), col("n_rows"), col("est_row_bytes"),
          (col("est_row_bytes") * col("n_rows").cast("double"))
            .as("est_total_bytes"))
        .select(col("table_name"), col("n_rows"), col("est_row_bytes"),
          col("est_total_bytes"),
          (col("est_total_bytes") / 32.0).as("bytes_per_part_32"),
          expr("CAST(ceil(est_total_bytes / 67108864.0) AS BIGINT)")
            .as("recommended_parts"),
          (col("est_total_bytes") / 32.0 > 67108864.0).as("spill_risk"))
    val vl = (c: String) => length(col(c)).cast("long") + 4L
    plan(Tables.lineitem(s, dir), "lineitem", 68,
        vl("l_returnflag") + vl("l_linestatus"))
      .unionByName(plan(Tables.orders(s, dir), "orders", 32,
        vl("o_orderstatus") + vl("o_orderpriority")))
      .unionByName(plan(Tables.events(s, dir), "events", 32,
        vl("event_type") + vl("props")))
      .unionByName(plan(Tables.spread(Tables.documents(s, dir)),
        "documents", 16, vl("text") + vl("lang") + vl("source")))
      .unionByName(plan(Tables.embeddings(s, dir), "embeddings", 12,
        size(col("embedding")).cast("long") * 4L + 4L))
      .orderBy("table_name")
  }

  private val q228Sql: String = {
    def frag(i: Int, table: String, fixed: Int, varSql: String): String =
      s"""f_$i AS (SELECT '$table' AS table_name,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    $fixed.0 + CAST(CAST(sum($varSql) AS BIGINT) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS est_row_bytes
         |  FROM $table),
         |g_$i AS (SELECT table_name, n_rows, est_row_bytes,
         |    est_row_bytes * CAST(n_rows AS DOUBLE) AS est_total_bytes
         |  FROM f_$i),
         |h_$i AS (SELECT table_name, n_rows, est_row_bytes,
         |    est_total_bytes, est_total_bytes / 32.0 AS bytes_per_part_32,
         |    CAST(ceil(est_total_bytes / 67108864.0) AS BIGINT)
         |      AS recommended_parts,
         |    est_total_bytes / 32.0 > 67108864.0 AS spill_risk
         |  FROM g_$i)""".stripMargin
    s"""WITH ${frag(1, "lineitem", 68,
          "length(l_returnflag) + 4 + length(l_linestatus) + 4")},
       |${frag(2, "orders", 32,
          "length(o_orderstatus) + 4 + length(o_orderpriority) + 4")},
       |${frag(3, "events", 32,
          "length(event_type) + 4 + length(props) + 4")},
       |${frag(4, "documents", 16,
          "length(text) + 4 + length(lang) + 4 + length(source) + 4")},
       |${frag(5, "embeddings", 12, "len(embedding) * 4 + 4")}
       |SELECT * FROM (SELECT * FROM h_1 UNION ALL SELECT * FROM h_2
       |  UNION ALL SELECT * FROM h_3 UNION ALL SELECT * FROM h_4
       |  UNION ALL SELECT * FROM h_5)
       |ORDER BY table_name""".stripMargin
  }

  /** q238 — runtime-filter (semi-join reduction) gain: how many lineitem
    * rows a dimension-side date filter eliminates BEFORE the fact
    * shuffle if pushed across the join as a semi-join/Bloom runtime
    * filter — the exact number behind Spark's runtime row-filtering
    * decision, measured: surviving fact rows, the reduction fraction,
    * and the shuffle bytes it saves at the q228 width model. At 100 TB
    * this is the difference between shuffling the whole fact table and
    * shuffling a third of it; the audit costs one dimension filter, one
    * left-semi join, and three scalar folds.
    */
  private val q238: Q = (s, dir) => {
    val kept = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey").as("l_orderkey"))
      .transform(graft.util.QueryCaches.tracked)
    val l = Tables.lineitem(s, dir)
    l.agg(count(lit(1)).as("n_lineitem"))
      .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_orders_kept"))))
      .crossJoin(broadcast(
        l.join(kept, Seq("l_orderkey"), "left_semi")
          .agg(count(lit(1)).as("n_surviving"))))
      .select(col("n_lineitem"), col("n_orders_kept"), col("n_surviving"),
        ((col("n_lineitem") - col("n_surviving")).cast("double") /
          col("n_lineitem").cast("double")).as("reduction_pct"),
        ((col("n_lineitem") - col("n_surviving")) * 80L)
          .as("bytes_saved_est"))
  }

  private val q238Sql =
    """WITH kept AS (SELECT o_orderkey AS l_orderkey FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-01-01'),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_lineitem FROM lineitem),
      |b AS (SELECT CAST(count(*) AS BIGINT) AS n_orders_kept FROM kept),
      |c AS (SELECT CAST(count(*) AS BIGINT) AS n_surviving FROM lineitem l
      |  WHERE EXISTS (SELECT 1 FROM kept k
      |                WHERE k.l_orderkey = l.l_orderkey))
      |SELECT a.n_lineitem, b.n_orders_kept, c.n_surviving,
      |  CAST(a.n_lineitem - c.n_surviving AS DOUBLE)
      |    / CAST(a.n_lineitem AS DOUBLE) AS reduction_pct,
      |  CAST((a.n_lineitem - c.n_surviving) * 80 AS BIGINT)
      |    AS bytes_saved_est
      |FROM a CROSS JOIN b CROSS JOIN c""".stripMargin

  /** q273 — HyperLogLog from FIRST PRINCIPLES with register-level set
    * algebra: per event type, a 1024-register HLL sketch over `user_id`
    * (p=10: the top 10 bits of a 32-bit md5-prefix hash pick the
    * register, ρ = leading-zero rank of the 22-bit suffix, register =
    * max ρ — Flajolet et al. 2007), then for every type PAIR the union
    * sketch by register-wise max and the inclusion–exclusion
    * intersection estimate |A∩B| ≈ E(A)+E(B)−E(A∪B), audited against
    * the exact distinct counts. q34 leans on Spark's built-in HLL++ in
    * its sparse-exact regime; THIS is the mergeable-sketch operator a
    * 100 TB overlap matrix actually needs — register relations are
    * m=1024 rows per group (a partial+final max aggregate, never a
    * distinct-shuffle of users), union-by-max is an equi-join on
    * (pair, idx), and the pair grid is bounded by the type cardinality.
    * Cross-engine determinism: the harmonic sum Σ2^(−M_j) is kept as an
    * EXACT BIGINT numerator Σ2^(23−M_j) over the 2^23 denominator
    * (power-of-two terms, associative-exact in any shuffle order — the
    * q112 integer-moments discipline applied to a float sketch), so the
    * raw estimate αm²·2²³/S and the small-range linear-counting branch
    * m·ln(m/V) are single IEEE expressions over identical integers on
    * both engines. ρ itself is integer-exact via `length(bin(w))`
    * (floor(log2)+1 with no float log), shifts stay < 32 bits.
    */
  private val q273: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    // distinct (type, user) — exact baseline side only
    val du = ev.select(col("event_type").as("et"), col("user_id").as("u"))
      .distinct()
      .transform(graft.util.QueryCaches.tracked)
    val cnt = du.groupBy("et").agg(count(lit(1)).as("n"))
    // sketch side: hash every event row (max ρ is idempotent — no
    // distinct pass needed, the whole point of the sketch)
    val reg = ev.select(col("event_type").as("et"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
          .as("h"))
      .withColumn("idx", expr("h div 4194304"))
      .withColumn("rho", expr(
        """CAST(CASE WHEN h % 4194304 = 0 THEN 23
          |ELSE 23 - length(bin(h % 4194304)) END AS INT)""".stripMargin))
      .groupBy("et", "idx").agg(max("rho").as("rho"))
      .transform(graft.util.QueryCaches.tracked)
    // exact-integer harmonic numerator → one shared IEEE finishing expr
    val rawExpr =
      """(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |  + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE)))
        |  * CAST(1024.0 AS DOUBLE) * CAST(1024.0 AS DOUBLE)
        |  * CAST(8388608.0 AS DOUBLE) / CAST(s_num AS DOUBLE)""".stripMargin
    val corrExpr =
      """CASE WHEN raw <= CAST(2560.0 AS DOUBLE) AND zeros > 0
        |THEN CAST(1024.0 AS DOUBLE) * ln(CAST(1024.0 AS DOUBLE) / CAST(zeros AS DOUBLE))
        |ELSE raw END""".stripMargin
    def estimate(r: DataFrame, keys: Seq[String]): DataFrame =
      r.groupBy(keys.map(col): _*)
        .agg(sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 23 - rho) AS BIGINT)"))
            .as("s_present"),
          count(lit(1)).as("n_present"))
        .withColumn("s_num",
          col("s_present") + (lit(1024L) - col("n_present")) * lit(8388608L))
        .withColumn("zeros", lit(1024L) - col("n_present"))
        .withColumn("raw", expr(rawExpr))
        .withColumn("est", round(expr(corrExpr), 4))
        .select(keys.map(col) :+ col("est"): _*)
    val estT = estimate(reg, Seq("et"))
    // bounded type-pair grid (executed-row-count sweep territory)
    val pairs = cnt.select(col("et").as("ta"), col("n").as("exact_a"))
      .join(cnt.select(col("et").as("tb"), col("n").as("exact_b")),
        col("ta") < col("tb"))
    val inter = du.as("x")
      .join(du.as("y"),
        col("x.u") === col("y.u") && col("x.et") < col("y.et"))
      .groupBy(col("x.et").as("ta"), col("y.et").as("tb"))
      .agg(count(lit(1)).as("exact_inter"))
    // union sketch: register-wise max over the pair's two member types
    val mem = pairs.select(col("ta"), col("tb"), col("ta").as("et"))
      .unionByName(pairs.select(col("ta"), col("tb"), col("tb").as("et")))
    val estU = estimate(
      mem.join(reg, "et").groupBy("ta", "tb", "idx").agg(max("rho").as("rho")),
      Seq("ta", "tb")).withColumnRenamed("est", "est_union")
    pairs
      .join(inter, Seq("ta", "tb"), "left")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .withColumn("exact_union",
        col("exact_a") + col("exact_b") - col("exact_inter"))
      .join(estT.select(col("et").as("ta"), col("est").as("est_a")), "ta")
      .join(estT.select(col("et").as("tb"), col("est").as("est_b")), "tb")
      .join(estU, Seq("ta", "tb"))
      .withColumn("est_inter",
        round(col("est_a") + col("est_b") - col("est_union"), 4))
      .select(col("ta"), col("tb"), col("exact_a"), col("exact_b"),
        col("exact_inter"), col("exact_union"),
        col("est_a"), col("est_b"), col("est_union"), col("est_inter"))
      .orderBy("ta", "tb")
  }

  private val q273Sql =
    """WITH du AS (SELECT DISTINCT event_type AS et, user_id AS u FROM events),
      |cnt AS (SELECT et, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY et),
      |reg AS (SELECT et, h // 4194304 AS idx,
      |    CAST(max(CASE WHEN h % 4194304 = 0 THEN 23
      |             ELSE 23 - length(bin(h % 4194304)) END) AS INTEGER) AS rho
      |  FROM (SELECT event_type AS et,
      |          ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS h
      |        FROM events) h0
      |  GROUP BY 1, 2),
      |est_t AS (SELECT et,
      |    CASE WHEN raw <= CAST(2560.0 AS DOUBLE) AND zeros > 0
      |    THEN CAST(1024.0 AS DOUBLE) * ln(CAST(1024.0 AS DOUBLE) / CAST(zeros AS DOUBLE))
      |    ELSE raw END AS est0
      |  FROM (SELECT et, zeros,
      |      (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
      |        + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE)))
      |        * CAST(1024.0 AS DOUBLE) * CAST(1024.0 AS DOUBLE)
      |        * CAST(8388608.0 AS DOUBLE) / CAST(s_num AS DOUBLE) AS raw
      |    FROM (SELECT et,
      |        CAST(sum(CAST(1::BIGINT << (23 - rho) AS BIGINT)) AS BIGINT)
      |          + (1024 - CAST(count(*) AS BIGINT)) * 8388608 AS s_num,
      |        1024 - CAST(count(*) AS BIGINT) AS zeros
      |      FROM reg GROUP BY et) s) r),
      |pairs AS (SELECT a.et AS ta, b.et AS tb, a.n AS exact_a, b.n AS exact_b
      |  FROM cnt a JOIN cnt b ON a.et < b.et),
      |inter AS (SELECT x.et AS ta, y.et AS tb, CAST(count(*) AS BIGINT) AS exact_inter
      |  FROM du x JOIN du y ON x.u = y.u AND x.et < y.et GROUP BY 1, 2),
      |mem AS (SELECT ta, tb, ta AS et FROM pairs
      |        UNION ALL SELECT ta, tb, tb FROM pairs),
      |regu AS (SELECT m.ta, m.tb, r.idx, max(r.rho) AS rho
      |  FROM mem m JOIN reg r ON r.et = m.et GROUP BY 1, 2, 3),
      |est_u AS (SELECT ta, tb,
      |    CASE WHEN raw <= CAST(2560.0 AS DOUBLE) AND zeros > 0
      |    THEN CAST(1024.0 AS DOUBLE) * ln(CAST(1024.0 AS DOUBLE) / CAST(zeros AS DOUBLE))
      |    ELSE raw END AS estu0
      |  FROM (SELECT ta, tb, zeros,
      |      (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
      |        + CAST(1.079 AS DOUBLE) / CAST(1024.0 AS DOUBLE)))
      |        * CAST(1024.0 AS DOUBLE) * CAST(1024.0 AS DOUBLE)
      |        * CAST(8388608.0 AS DOUBLE) / CAST(s_num AS DOUBLE) AS raw
      |    FROM (SELECT ta, tb,
      |        CAST(sum(CAST(1::BIGINT << (23 - rho) AS BIGINT)) AS BIGINT)
      |          + (1024 - CAST(count(*) AS BIGINT)) * 8388608 AS s_num,
      |        1024 - CAST(count(*) AS BIGINT) AS zeros
      |      FROM regu GROUP BY 1, 2) s) r)
      |SELECT p.ta, p.tb, p.exact_a, p.exact_b,
      |  coalesce(i.exact_inter, 0) AS exact_inter,
      |  p.exact_a + p.exact_b - coalesce(i.exact_inter, 0) AS exact_union,
      |  round(ea.est0, 4) AS est_a, round(eb.est0, 4) AS est_b,
      |  round(eu.estu0, 4) AS est_union,
      |  round(round(ea.est0, 4) + round(eb.est0, 4) - round(eu.estu0, 4), 4)
      |    AS est_inter
      |FROM pairs p
      |LEFT JOIN inter i ON i.ta = p.ta AND i.tb = p.tb
      |JOIN est_t ea ON ea.et = p.ta
      |JOIN est_t eb ON eb.et = p.tb
      |JOIN est_u eu ON eu.ta = p.ta AND eu.tb = p.tb
      |ORDER BY p.ta, p.tb""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q273_hll_set_algebra", q273, q273Sql),
    Query("q211_join_card_est", q211, q211Sql),
    Query("q222_table_stats", q222, q222Sql),
    Query("q228_partition_sizing", q228, q228Sql),
    Query("q238_runtime_filter_gain", q238, q238Sql),
    Query("q203_retention_halflife", q203, q203Sql),
    Query("q123_star_join", q123, q123Sql),
    Query("q112_value_outliers", q112, q112Sql),
    Query("q65_grouping_sets", q65, q65Sql),
    Query("q82_setops_multiset", q82, q82Sql),
    Query("q84_window_range_frame", q84, q84Sql),
    Query("q85_percent_of_total", q85, q85Sql),
    Query("q86_scalar_subquery", q86, q86Sql),
    Query("q93_union_by_name", q93, q93Sql),
    Query("q94_cohort_retention", q94, q94Sql),
    Query("q95_percentile_disc", q95, q95Sql),
    Query("q66_unpivot", q66, q66Sql),
    Query("q67_window_nav", q67, q67Sql),
    Query("q68_window_dist", q68, q68Sql),
    Query("q69_argmax", q69, q69Sql),
    Query("q73_range_bucket_join", q73, q73Sql),
    Query("q77_salted_join", q77, q77Sql)
  )
}

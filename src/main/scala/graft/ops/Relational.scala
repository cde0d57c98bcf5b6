package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.source.Tables
import graft.Query

/** Extension relational suite (SURVEY.md §2.2, q20–q32): the analytics
  * capabilities a FHIR mirror exists to serve, on the TPC-H-ish tables.
  *
  * Scale notes are per query; the common rules:
  *  - dimensions (region/nation/band dims) are broadcast — no shuffle of
  *    the fact side for those joins;
  *  - fact⋈fact joins shuffle on the join key once and aggregate partially
  *    map-side (Catalyst hash aggregate);
  *  - double sums are rounded on BOTH engine and oracle side; running sums
  *    use exact integer cents (`floor(value*100)`) because float window
  *    accumulation order differs between engines.
  */
object Relational {

  private type Q = (SparkSession, String) => DataFrame

  /** q20 — multi-way inner equi-join: orders⋈customer (fact⋈fact, shuffle
    * on custkey) then nation/region broadcast. At 100 TB the only shuffle
    * is orders-by-custkey; dims never move.
    */
  private val q20: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name"), n("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("r_name", "n_name")
  }

  private val q20Sql =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |       round(sum(o_totalprice),2) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** q21 — semi + anti join: customers with / without orders per segment.
    * Left-semi/anti avoid materializing order rows at all — at scale the
    * orders side is reduced to its join key before the shuffle.
    */
  private val q21: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val cond = c("c_custkey") === o("o_custkey")
    val withO = c.join(o, cond, "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("with_orders"))
    val withoutO = c.join(o, cond, "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("without_orders"))
    withO.join(withoutO, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("with_orders"), lit(0L)).as("with_orders"),
        coalesce(col("without_orders"), lit(0L)).as("without_orders"))
      .orderBy("c_mktsegment")
  }

  private val q21Sql =
    """WITH s AS (
      |  SELECT c_mktsegment, count(*) AS with_orders FROM customer
      |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY 1),
      |a AS (
      |  SELECT c_mktsegment, count(*) AS without_orders FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY 1)
      |SELECT coalesce(s.c_mktsegment, a.c_mktsegment) AS c_mktsegment,
      |       coalesce(with_orders, 0) AS with_orders,
      |       coalesce(without_orders, 0) AS without_orders
      |FROM s FULL OUTER JOIN a ON s.c_mktsegment = a.c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q22 — range (theta) join: parts against a size-band dimension. The
    * band table is 3 rows → broadcast nested-loop join, which is the right
    * physical plan: each part row tests 3 predicates locally, no shuffle.
    */
  private val q22: Q = (s, dir) => {
    import s.implicits._
    val bands = Seq((0, 10, "small"), (10, 25, "medium"), (25, 51, "large"))
      .toDF("lo", "hi", "band")
    // exact integer cents summed, one division at the end — avg(double)
    // is an order-sensitive float reduction (Spark's partial-merge order
    // vs DuckDB's scan order) that the determinism contract bans
    Tables.part(s, dir)
      .join(broadcast(bands), col("p_size") >= col("lo") && col("p_size") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_parts"),
        (sum(floor(col("p_retailprice") * 100).cast("long")).cast("double") /
          (count(lit(1)) * 100)).as("avg_price"))
      .orderBy("band")
  }

  private val q22Sql =
    """SELECT band, count(*) AS n_parts,
      |  CAST(sum(CAST(floor(p_retailprice*100) AS BIGINT)) AS DOUBLE)
      |    / (count(*) * 100) AS avg_price
      |FROM part
      |JOIN (VALUES (0,10,'small'),(10,25,'medium'),(25,51,'large')) AS b(lo,hi,band)
      |  ON p_size >= lo AND p_size < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin

  /** q23 — grouped aggregation (TPC-H Q1 shape): partial map-side combine
    * then one shuffle on the tiny group key. countDistinct adds an expand —
    * acceptable at 2 distinct-columns; at 100 TB prefer approx_count_distinct
    * when exactness isn't required.
    */
  private val q23: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q23Sql =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity),2) AS sum_qty,
      |       round(sum(l_extendedprice),2) AS sum_base,
      |       round(sum(l_extendedprice * (1 - l_discount)),4) AS sum_disc,
      |       round(avg(l_quantity),4) AS avg_qty,
      |       count(*) AS n_rows,
      |       count(DISTINCT l_partkey) AS n_parts
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q24 — DISTINCT: hash-aggregate on the pair, one shuffle. */
  private val q24: Q = (s, dir) =>
    Tables.orders(s, dir).select("o_orderstatus", "o_orderpriority")
      .distinct().orderBy("o_orderstatus", "o_orderpriority")

  private val q24Sql =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** q25 — ROLLUP: Spark plans this as an Expand (one replica per grouping
    * set) + single hash aggregate — no extra shuffles vs a plain groupBy.
    */
  private val q25: Q = (s, dir) =>
    Tables.orders(s, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val q25Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |       round(sum(o_totalprice),2) AS total_price
      |FROM orders
      |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** q26 — ranking window: top-3 orders per customer. row_number over a
    * tiebroken ordering is fully deterministic. One shuffle on the
    * partition key; sort within partitions.
    */
  private val q26: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  private val q26Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         CAST(row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** q27 — frame-based running aggregate per user over event time, in
    * exact integer cents: float window accumulation order differs across
    * engines, integers don't. One shuffle on user_id.
    */
  private val q27: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("cents", floor(col("value") * 100))
      .withColumn("running_cents", sum("cents").over(w))
      .select("user_id", "event_id", "ts", "cents", "running_cents")
      .orderBy("user_id", "ts", "event_id")
  }

  private val q27Sql =
    """SELECT user_id, event_id, ts, cents,
      |       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS running_cents
      |FROM (SELECT *, CAST(floor(value*100) AS BIGINT) AS cents FROM events) t
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** q28 — top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    * per-partition top-k then a k-row merge on the driver; no full sort,
    * no shuffle of the data.
    */
  private val q28: Q = (s, dir) =>
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private val q28Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** q29 — set operations: union/intersect/except of customer vs supplier
    * nation keys, tagged into one result. Each set op is a hash aggregate
    * over a tiny distinct key set.
    */
  private val q29: Q = (s, dir) => {
    val cn = Tables.customer(s, dir).select(col("c_nationkey").as("k")).distinct()
    val sn = Tables.supplier(s, dir).select(col("s_nationkey").as("k")).distinct()
    cn.except(sn).select(lit("except").as("op"), col("k"))
      .unionAll(cn.intersect(sn).select(lit("intersect").as("op"), col("k")))
      .unionAll(cn.union(sn).distinct().select(lit("union").as("op"), col("k")))
      .orderBy("op", "k")
  }

  private val q29Sql =
    """WITH cn AS (SELECT DISTINCT c_nationkey AS k FROM customer),
      |     sn AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
      |SELECT 'except' AS op, k FROM (SELECT k FROM cn EXCEPT SELECT k FROM sn)
      |UNION ALL
      |SELECT 'intersect', k FROM (SELECT k FROM cn INTERSECT SELECT k FROM sn)
      |UNION ALL
      |SELECT 'union', k FROM (SELECT k FROM cn UNION SELECT k FROM sn)
      |ORDER BY op, k""".stripMargin

  /** q30 — scalar function suite (string/date/math/json) over events.
    * Every expression is codegen'd (no UDFs); functions chosen for
    * bit-identical cross-engine results (sqrt is IEEE-correctly-rounded;
    * x*x instead of pow; try_cast for ANSI safety).
    */
  private val q30: Q = (s, dir) =>
    Tables.events(s, dir).select(
      col("event_id"),
      upper(col("event_type")).as("etype_u"),
      substring(col("event_type"), 1, 3).as("etype_pre"),
      length(col("event_type")).as("etype_len"),
      concat(col("event_type"), lit("#"), col("user_id")).as("etype_tag"),
      regexp_replace(col("event_type"), "e", "E").as("etype_re"),
      year(col("ts")).as("y"),
      month(col("ts")).as("m"),
      dayofmonth(col("ts")).as("d"),
      hour(col("ts")).as("h"),
      date_trunc("day", col("ts")).as("day_ts"),
      to_date(col("ts")).as("day_date"),
      (col("user_id") % 7).as("uid_mod"),
      round(col("value") * lit(2.5), 4).as("val_x"),
      round(abs(col("value") - 10), 2).as("val_absdiff"),
      floor(col("value")).as("val_floor"),
      ceil(col("value")).as("val_ceil"),
      sqrt(col("value")).as("val_sqrt"),
      round(col("value") * col("value"), 4).as("val_sq"),
      get_json_object(col("props"), "$.k").try_cast("int").as("prop_k"))
      .orderBy("event_id")

  private val q30Sql =
    """SELECT event_id,
      |  upper(event_type) AS etype_u,
      |  substring(event_type,1,3) AS etype_pre,
      |  CAST(length(event_type) AS INTEGER) AS etype_len,
      |  concat(event_type,'#',CAST(user_id AS VARCHAR)) AS etype_tag,
      |  regexp_replace(event_type,'e','E','g') AS etype_re,
      |  CAST(year(ts) AS INTEGER) AS y,
      |  CAST(month(ts) AS INTEGER) AS m,
      |  CAST(day(ts) AS INTEGER) AS d,
      |  CAST(hour(ts) AS INTEGER) AS h,
      |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
      |  CAST(ts AS DATE) AS day_date,
      |  user_id % 7 AS uid_mod,
      |  round(value*2.5,4) AS val_x,
      |  round(abs(value-10),2) AS val_absdiff,
      |  CAST(floor(value) AS BIGINT) AS val_floor,
      |  CAST(ceil(value) AS BIGINT) AS val_ceil,
      |  sqrt(value) AS val_sqrt,
      |  round(value*value,4) AS val_sq,
      |  TRY_CAST(json_extract_string(props,'$.k') AS INTEGER) AS prop_k
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** q31 — tumbling event-time window, batch form: groupBy(window(ts, 1h)).
    * Exact integer cents for the sum (see q27).
    */
  private val q31: Q = (s, dir) =>
    Tables.events(s, dir)
      .withColumn("cents", floor(col("value") * 100))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_cents"))
      .orderBy("window_start", "event_type")

  private val q31Sql =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** q32 — generator / UDTF: explode document text into words. Spark's
    * explode is a codegen'd Generator — the row expansion happens inside
    * whole-stage codegen, no UDF boundary.
    */
  private val q32: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .orderBy("doc_id", "word")

  private val q32Sql =
    """SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |FROM documents
      |ORDER BY doc_id, word""".stripMargin

  /** q34 — sketch aggregate: HLL++ distinct count (the built-in Spark
    * answer to sketch-based reconciliation, SURVEY.md §4). On low-
    * cardinality domains HLL++'s sparse mode is exact, so the oracle can
    * pin it against true COUNT(DISTINCT); at 100 TB cardinalities the
    * value is the O(registers) memory instead of a distinct-shuffle —
    * the expand+dedup of exact distinct never happens.
    */
  private val q34: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_orderpriority")).as("n_prio_approx"),
        countDistinct(col("o_orderpriority")).as("n_prio_exact"))
      .orderBy("o_orderstatus")

  private val q34Sql =
    """SELECT o_orderstatus,
      |       count(DISTINCT o_orderpriority) AS n_prio_approx,
      |       count(DISTINCT o_orderpriority) AS n_prio_exact
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q59 — exact interpolated quantiles per group: Spark's `percentile`
    * and DuckDB's `quantile_cont` share the linear-interpolation
    * definition, so the values hash-match after rounding. At 100 TB the
    * same query swaps `percentile` for `percentile_approx` (t-digest
    * sketch, mergeable partial state) — exact quantiles need a per-group
    * sort buffer, the sketch needs O(compression) memory.
    */
  private val q59: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy("event_type")

  private val q59Sql =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q60 — pivot: per-user event counts spread into one column per event
    * type. The value list is EXPLICIT (`pivot(col, values)`), which keeps
    * the plan a single pass — with the list omitted Spark first runs a
    * distinct job to discover columns, a hidden extra scan at 100 TB.
    * Missing combinations are 0, matching the oracle's FILTER counts.
    */
  private val q60: Q = (s, dir) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", types)
      .count()
      .na.fill(0L, types)
      .orderBy("user_id")
  }

  private val q60Sql =
    """SELECT user_id,
      |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
      |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
      |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
      |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q64 — cube: all 2² grouping sets over (status, priority) in one
    * pass. Spark plans cube as an Expand (4 rows per input) feeding one
    * partial+final hash aggregate — the single-shuffle alternative to
    * unioning four group-bys (four scans at 100 TB).
    */
  private val q64: Q = (s, dir) =>
    Tables.orders(s, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice")).cast("long")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val q64Sql =
    """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** q63 — skew-safe salted aggregation as a declared operator: the
    * two-phase (key, salt) → key aggregation from [[SkewJoin.saltedAgg]],
    * on integer cents so the re-ordered addition stays exact. The oracle
    * is the PLAIN group-by — salting must be semantically invisible; what
    * it buys at 100 TB is that a hot key's rows partial-aggregate across
    * `buckets` tasks instead of funneling into one reducer.
    */
  private val q63: Q = (s, dir) =>
    SkewJoin.saltedAgg(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        key = "event_type", valueCol = "cents", buckets = 8,
        partial = sum, fin = sum)
      .withColumnRenamed("cents", "sum_cents")
      .orderBy("event_type")

  private val q63Sql =
    """SELECT event_type,
      |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q89 — array & map scalar suite (complements q30's string/date/math/
    * json): construction, ordering, dedup, membership, positional and
    * keyed access, and a sequence fold — all codegen'd builtins, scalar
    * outputs only (array-typed output columns don't survive the driver's
    * row-hash compare). DuckDB's `map[k]` returns a LIST, hence the
    * `[1]` in the oracle; Spark's `element_at` returns the value
    * directly — same scalar either way.
    */
  private val q89: Q = (s, dir) =>
    Tables.events(s, dir).select(
      col("event_id"),
      expr("size(array(user_id, event_id, 7))").as("arr_len"),
      expr("array_max(array(user_id % 50, event_id % 97))").as("arr_max"),
      expr("element_at(array_sort(array(user_id % 50, event_id % 97, 13)), 2)")
        .as("arr_mid"),
      expr("array_contains(array('click','view'), event_type)").as("is_cv"),
      expr("size(array_distinct(array(user_id % 5, event_id % 5)))").as("arr_nd"),
      expr("element_at(map('a', user_id, 'b', event_id), 'a')").as("map_a"),
      expr("element_at(map_from_arrays(array('k','v'), array(user_id, event_id)), 'v')")
        .as("map_v"),
      expr("aggregate(sequence(CAST(1 AS BIGINT), user_id % 5 + 1), " +
        "CAST(0 AS BIGINT), (a, x) -> a + x)").as("seq_sum"),
      expr("CAST(array_position(array('click','view','purchase','signup','error'), " +
        "event_type) AS INT)").as("etype_pos"))
      .orderBy("event_id")

  private val q89Sql =
    """SELECT event_id,
      |  CAST(len([user_id, event_id, 7]) AS INTEGER) AS arr_len,
      |  CAST(list_max([user_id % 50, event_id % 97]) AS BIGINT) AS arr_max,
      |  CAST(list_sort([user_id % 50, event_id % 97, 13])[2] AS BIGINT) AS arr_mid,
      |  list_contains(['click','view'], event_type) AS is_cv,
      |  CAST(len(list_distinct([user_id % 5, event_id % 5])) AS INTEGER) AS arr_nd,
      |  CAST(MAP {'a': user_id, 'b': event_id}['a'][1] AS BIGINT) AS map_a,
      |  CAST(map_from_entries([('k', user_id), ('v', event_id)])['v'][1] AS BIGINT)
      |    AS map_v,
      |  CAST(list_sum(generate_series(1, CAST(user_id % 5 + 1 AS INTEGER)))
      |    AS BIGINT) AS seq_sum,
      |  CAST(list_position(['click','view','purchase','signup','error'],
      |    event_type) AS INTEGER) AS etype_pos
      |FROM events ORDER BY event_id""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q34_approx_distinct", q34, q34Sql),
    Query("q89_array_map_suite", q89, q89Sql),
    Query("q59_quantiles", q59, q59Sql),
    Query("q60_pivot", q60, q60Sql),
    Query("q63_salted_agg", q63, q63Sql),
    Query("q64_cube", q64, q64Sql),
    Query("q20_join_inner", q20, q20Sql),
    Query("q21_join_semi_anti", q21, q21Sql),
    Query("q22_join_range", q22, q22Sql),
    Query("q23_groupby_agg", q23, q23Sql),
    Query("q24_distinct", q24, q24Sql),
    Query("q25_rollup", q25, q25Sql),
    Query("q26_window_rank", q26, q26Sql),
    Query("q27_window_running", q27, q27Sql),
    Query("q28_topk", q28, q28Sql),
    Query("q29_setops", q29, q29Sql),
    Query("q30_scalar_suite", q30, q30Sql),
    Query("q31_window_tumbling", q31, q31Sql),
    Query("q32_udtf_explode", q32, q32Sql)
  )
}

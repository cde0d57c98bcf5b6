package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Event-sequence analytics over the `events` stream table — the classic
  * product-analytics trio (funnel, transition matrix, temporal co-occurrence)
  * a mirror like the reference's exists to serve (reference delegates ALL
  * querying to PostgreSQL once mirrored, `/root/reference/src/main.rs:159-175`;
  * these are the queries that PostgreSQL could not run at 100 TB).
  *
  * Determinism contract: `(user_id, ts)` is unique in the fixture (verified),
  * so every per-user ordering below is total and cross-engine stable.
  */
object Behavioral {

  private type Q = (SparkSession, String) => DataFrame

  /** q96 — strict first-touch funnel signup → view → click → purchase.
    * Stage n counts users whose EARLIEST stage-n event at-or-after their
    * stage-(n-1) anchor exists; each stage is one filter + one equi-join on
    * `user_id` + one min-aggregate. At 100 TB: every join/agg keys on
    * `user_id`, so the four stages reuse one hash partitioning (AQE
    * coalesces the exchanges); nothing is ever materialized per event
    * beyond the per-user anchor row.
    */
  private[graft] def funnel(events: DataFrame, stages: Seq[String],
                            maxGapUs: Option[Long] = None): DataFrame = {
    val e = events.select("user_id", "event_type", "ts")
    // anchors(i): user_id, t = earliest stage-i event at-or-after anchors(i-1)
    // (and, when maxGapUs is set, within that many µs of it — the
    // conversion-window form: "purchased within 24 h of clicking")
    val anchors = stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (stage, _)) =>
        val mine = e.filter(col("event_type") === stage)
        val gated = prev match {
          case None      => mine
          case Some(anc) =>
            val within = maxGapUs match {
              case None    => lit(true)
              case Some(g) =>
                unix_micros(col("ts")) - unix_micros(col("t_prev")) <= g
            }
            mine.join(anc.select(col("user_id"), col("t").as("t_prev")), "user_id")
              .filter(col("ts") >= col("t_prev") && within)
        }
        Some(gated.groupBy("user_id").agg(min("ts").as("t")))
    }.flatten
    anchors.zip(stages).zipWithIndex.map { case ((anc, stage), i) =>
      anc.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("stage_no"), lit(stage).as("stage"), col("users"))
    }.reduce(_.unionByName(_)).orderBy("stage_no")
  }

  private val q96: Q = (s, dir) =>
    funnel(Tables.events(s, dir), Seq("signup", "view", "click", "purchase"))

  private val q96Sql =
    """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(ts) AS t FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
      |       WHERE event_type = 'view' GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(ts) AS t FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
      |       WHERE event_type = 'click' GROUP BY 1),
      |s4 AS (SELECT e.user_id, min(ts) AS t FROM events e
      |       JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.t
      |       WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 1 AS stage_no, 'signup' AS stage, count(*) AS users FROM s1
      |  UNION ALL SELECT 2, 'view', count(*) FROM s2
      |  UNION ALL SELECT 3, 'click', count(*) FROM s3
      |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
      |ORDER BY stage_no""".stripMargin

  /** q97 — first-order Markov transition matrix of event types: per user,
    * `lead` over the (unique) ts order pairs each event with its successor;
    * one window shuffle on `user_id` + one small groupBy. The row-
    * conditional probability is emitted UNROUNDED — both engines divide
    * the same two exact integers, so the doubles are bit-identical
    * (rounding, not division, is what diverges cross-engine).
    */
  private val q97: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts")
    val t = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
    val counts = t.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    counts
      .withColumn("prob", col("n_trans").cast("double") /
        sum("n_trans").over(Window.partitionBy("from_type")))
      .orderBy("from_type", "to_type")
  }

  private val q97Sql =
    """WITH t AS (SELECT user_id, event_type,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS next_type
      |  FROM events)
      |SELECT event_type AS from_type, next_type AS to_type,
      |  count(*) AS n_trans,
      |  CAST(count(*) AS DOUBLE) /
      |    CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS prob
      |FROM t WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  /** q102 — temporal co-occurrence: per user, count unordered event pairs
    * within 300 s of each other. The naive form is a per-user range self-
    * join (quadratic in the hot user); the scale path buckets time into
    * 300 s cells and joins on `(user_id, bucket)` with the left side
    * exploded into {own, next} buckets — every qualifying pair lands in at
    * least one shared cell, the exact |Δt| predicate then filters, and a
    * `least/greatest` distinct collapses the double-counted same-cell
    * matches. Equi-join throughout: no nested-loop, block size bounded by
    * events-per-user-per-5-minutes, never by total history.
    */
  private val q102: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr(graft.util.SqlArith.floorDiv("unix_micros(ts)", 1000000L)).as("tsec"))
      .withColumn("bucket", expr(graft.util.SqlArith.floorDiv("tsec", 300L)))
    val l = ev.select(col("user_id"), col("event_id").as("id_a"),
        col("tsec").as("ta"),
        explode(array(col("bucket"), col("bucket") + 1)).as("jb"))
    val r = ev.select(col("user_id"), col("event_id").as("id_b"),
      col("tsec").as("tb"), col("bucket").as("jb"))
    l.join(r, Seq("user_id", "jb"))
      .filter(col("id_a") =!= col("id_b") && abs(col("ta") - col("tb")) <= 300)
      .select(col("user_id"), least(col("id_a"), col("id_b")).as("ea"),
        greatest(col("id_a"), col("id_b")).as("eb"))
      .distinct()
      .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  private val q102Sql =
    """SELECT a.user_id, count(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND abs(epoch_us(a.ts) // 1000000 - epoch_us(b.ts) // 1000000) <= 300
      |GROUP BY 1 ORDER BY a.user_id""".stripMargin

  /** q119 — cumulative distinct users by day (the growth curve): exact
    * running distinct WITHOUT a running `count(distinct)` — each user
    * contributes on their FIRST day only (one `user_id`-keyed min
    * aggregate), daily news are a tiny per-day count, and the cumulative
    * sum is a window over the days relation, whose cardinality is days,
    * not events. The standard rewrite that turns an intractable
    * distinct-over-growing-window into two cheap aggregates at any scale.
    * Day arithmetic on exact epoch-µs integers (`div`, q94's hazard note).
    */
  private val q119: Q = (s, dir) => {
    val firstDay = Tables.events(s, dir)
      .select(col("user_id"), expr(graft.util.SqlArith.floorDiv("unix_micros(ts)", 86400000000L)).as("day"))
      .groupBy("user_id").agg(min("day").as("day"))
    firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
      // unpartitioned window: one task holds the whole input, which has
      // one row per distinct event day (365 per year of data), whatever
      // the number of events or users
      .withColumn("cum_users",
        sum("n_new").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  private val q119Sql =
    """WITH f AS (SELECT user_id, min(epoch_us(ts) // 86400000000) AS day
      |  FROM events GROUP BY 1),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1)
      |SELECT CAST(day AS BIGINT) AS day, n_new,
      |  CAST(sum(n_new) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM d ORDER BY day""".stripMargin

  /** q120 — week-over-week churn: per week, active users, users entering
    * (not active the week before), users churning out of the previous
    * week. One distinct on (user, week), self-joined against itself
    * shifted a week — both sides share the (user_id, week) clustering, so
    * the full-outer is a co-partitioned join at any scale; the per-week
    * rollup is a handful of rows.
    */
  private val q120: Q = (s, dir) => {
    val uw = Tables.events(s, dir)
      .select(col("user_id"), expr(graft.util.SqlArith.floorDiv("unix_micros(ts)", 604800000000L)).as("week"))
      .distinct()
    val fo = uw.withColumn("c", lit(1))
      .join(uw.select(col("user_id"), (col("week") + 1).as("week"))
        .withColumn("p", lit(1)), Seq("user_id", "week"), "full_outer")
    fo.groupBy("week").agg(
        sum(coalesce(col("c"), lit(0))).cast("long").as("n_active"),
        sum(when(col("c").isNotNull && col("p").isNull, 1).otherwise(0))
          .cast("long").as("n_entered"),
        sum(when(col("p").isNotNull && col("c").isNull, 1).otherwise(0))
          .cast("long").as("n_churned_prev"))
      .join(uw.select("week").distinct(), Seq("week"), "left_semi")
      .orderBy("week")
  }

  private val q120Sql =
    """WITH uw AS (SELECT DISTINCT user_id,
      |  epoch_us(ts) // 604800000000 AS week FROM events),
      |fo AS (SELECT coalesce(c.user_id, p.user_id) AS user_id,
      |    coalesce(c.week, p.week) AS week,
      |    c.user_id IS NOT NULL AS is_c, p.user_id IS NOT NULL AS is_p
      |  FROM uw c FULL OUTER JOIN
      |    (SELECT user_id, week + 1 AS week FROM uw) p
      |    ON c.user_id = p.user_id AND c.week = p.week)
      |SELECT CAST(week AS BIGINT) AS week,
      |  CAST(sum(CASE WHEN is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
      |  CAST(sum(CASE WHEN is_c AND NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS n_entered,
      |  CAST(sum(CASE WHEN is_p AND NOT is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_churned_prev
      |FROM fo
      |WHERE week IN (SELECT week FROM uw)
      |GROUP BY 1 ORDER BY week""".stripMargin

  /** q122 — funnel with a CONVERSION WINDOW: each stage must occur within
    * 24 h of the previous stage's anchor, the form product analytics
    * actually reports ("viewed within a day of signing up"). Same
    * user_id-clustered join chain as q96; the window is one more codegen'd
    * filter on exact epoch-µs integers.
    */
  private val q122: Q = (s, dir) =>
    funnel(Tables.events(s, dir), Seq("signup", "view", "click", "purchase"),
      maxGapUs = Some(86400000000L))

  private val q122Sql =
    """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(ts) AS t FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
      |        AND epoch_us(e.ts) - epoch_us(s1.t) <= 86400000000
      |       WHERE event_type = 'view' GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(ts) AS t FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
      |        AND epoch_us(e.ts) - epoch_us(s2.t) <= 86400000000
      |       WHERE event_type = 'click' GROUP BY 1),
      |s4 AS (SELECT e.user_id, min(ts) AS t FROM events e
      |       JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.t
      |        AND epoch_us(e.ts) - epoch_us(s3.t) <= 86400000000
      |       WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 1 AS stage_no, 'signup' AS stage, count(*) AS users FROM s1
      |  UNION ALL SELECT 2, 'view', count(*) FROM s2
      |  UNION ALL SELECT 3, 'click', count(*) FROM s3
      |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
      |ORDER BY stage_no""".stripMargin

  /** q204 — stationary distribution of the event-type Markov chain:
    * q97's transition counts iterated to the long-run occupancy of each
    * event type — where user attention settles, the number that prices
    * which flows matter. Ten power iterations in EXACT integer
    * arithmetic (q181's discipline without teleport): π lives as
    * BIGINTs at scale 10¹², each step sends ⌊π(i)·n(i→j) / total(i)⌋
    * along every kept edge — floor division on non-negative BIGINTs,
    * identical on both engines, mass conservation up to declared floor
    * loss. Edges into types that never transition OUT would leak mass
    * out of the iteration, so the chain is restricted to the from-type
    * node set with row totals recomputed over kept edges (deterministic
    * on both engines; on this data the sets coincide). Scale shape: the
    * transition relation is ≤|types|² rows after one partial+final
    * count; the 10 iterations are declared joins over that bounded
    * relation — this is the q181 Pregel loop on a Markov chain, so the
    * same plan would iterate a million-state chain (item transitions,
    * page graphs) with each round one bounded-key shuffle.
    */
  private val q204: Q = (s, dir) => {
    val S = 1000000000000L
    val w = Window.partitionBy("user_id").orderBy("ts")
    val trans0 = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n_trans"))
    val nodes = graft.util.QueryCaches.tracked(
      trans0.select(col("src").as("event_type")).distinct())
    val trans = trans0
      .join(nodes.select(col("event_type").as("dst")), "dst")
    val tot = trans.groupBy("src").agg(sum("n_trans").as("out_total"))
    val ed = graft.util.QueryCaches.tracked(trans.join(tot, "src"))
    val nn = nodes.agg(count(lit(1)).as("n"))
    var pi = nodes.crossJoin(broadcast(nn))
      .select(col("event_type"), expr(s"CAST(${S}L div n AS BIGINT)").as("r"))
    // r14 measured the q295/q280 teleport-fold rewrite here (union
    // zero-mass node rows into the increment aggregation) and REVERTED
    // it: this chain's node set is ≤|types| rows, the left join is a
    // broadcast with no exchange at all, and the whole 10-iteration plan
    // ran as 6 jobs — the union+groupBy forced a real exchange per
    // iteration and regressed 1.1 → 3.7 s / 6 → 46 jobs. The fold only
    // pays where the probe side re-exchanges per iteration (q280/q295).
    for (_ <- 1 to 10) {
      val inc = ed.join(pi.withColumnRenamed("event_type", "src"), "src")
        .select(col("dst").as("event_type"),
          expr("CAST((r * n_trans) div out_total AS BIGINT)").as("c"))
        .groupBy("event_type").agg(sum("c").as("inc"))
      pi = nodes.join(inc, Seq("event_type"), "left")
        .select(col("event_type"),
          expr("CAST(coalesce(inc, 0L) AS BIGINT)").as("r"))
    }
    pi.select(col("event_type"), col("r").as("pi_q"),
        (col("r").cast("double") / lit(1e12)).as("pi"))
      .orderBy("event_type")
  }

  private val q204Sql = {
    val S = "1000000000000"
    def iter(i: Int): String =
      s"""p$i AS (
         |  SELECT nodes.event_type, coalesce(inc.s, 0) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT ed.dst AS event_type,
         |      CAST(sum((p.r * ed.n_trans) // ed.out_total) AS BIGINT) AS s
         |    FROM ed JOIN p${i - 1} p ON ed.src = p.event_type
         |    GROUP BY 1) inc ON inc.event_type = nodes.event_type)"""
        .stripMargin
    s"""WITH t AS (SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts)
       |      AS next_type
       |  FROM events),
       |tr0 AS (SELECT event_type AS src, next_type AS dst,
       |    CAST(count(*) AS BIGINT) AS n_trans
       |  FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT src AS event_type FROM tr0),
       |tr AS (SELECT tr0.* FROM tr0
       |  JOIN nodes n2 ON n2.event_type = tr0.dst),
       |tots AS (SELECT src, CAST(sum(n_trans) AS BIGINT) AS out_total
       |  FROM tr GROUP BY 1),
       |ed AS (SELECT tr.src, tr.dst, tr.n_trans, tots.out_total
       |  FROM tr JOIN tots USING (src)),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |p0 AS (SELECT nodes.event_type, $S // nn.n AS r
       |  FROM nodes CROSS JOIN nn),
       |${(1 to 10).map(iter).mkString(",\n")}
       |SELECT event_type, CAST(r AS BIGINT) AS pi_q,
       |  CAST(r AS DOUBLE) / 1e12 AS pi
       |FROM p10 ORDER BY event_type""".stripMargin
  }

  /** Boundary-overlap kernel shared by q209 (disorder profile) and q214
    * (state budget): per consecutive 1000-event arrival-batch pair, the
    * time overlap `max(batch k) − min(batch k+1)` clamped at 0. */
  private def arrivalOverlaps(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(s, dir)
      .select(expr(graft.util.SqlArith.floorDiv("event_id", 1000L)).as("batch"),
        expr("unix_micros(ts)").as("us"))
      .groupBy("batch")
      .agg(min("us").as("min_us"), max("us").as("max_us"))
    b.as("a").join(b.as("b"), col("b.batch") === col("a.batch") + 1)
      .select(col("a.batch").as("batch"),
        greatest(lit(0L), col("a.max_us") - col("b.min_us")).as("overlap_us"))
  }

  /** q209 — arrival-disorder profile: how out-of-order the event stream
    * is in ARRIVAL order (event_id), measured as the time overlap
    * between consecutive 1000-event arrival batches — batch k's max
    * event time minus batch k+1's min. This is the number that SIZES
    * `withWatermark` for a streaming reader of the events: the
    * p95 overlap is the lateness bound that keeps ≤5% of boundaries
    * leaking late rows, and max is the no-loss bound. Exact integers
    * end-to-end: µs timestamps, floor-div batch ids, overlaps clamped
    * at 0, percentiles via the exact `percentile_disc` twins over the
    * ≤|n|/1000-row boundary relation. Scale shape: one partial+final
    * (batch) min/max aggregate, a self-equi-join on batch+1, a tiny
    * percentile aggregate — arrival disorder over 100 TB of events
    * costs one scan.
    */
  private val q209: Q = (s, dir) => {
    arrivalOverlaps(s, dir).createOrReplaceTempView("ov_q209")
    s.sql(
      """WITH ov AS (SELECT * FROM ov_q209)
        |SELECT CAST(count(*) AS BIGINT) AS n_boundaries,
        |  CAST(sum(CASE WHEN overlap_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_disordered,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY overlap_us)
        |    AS BIGINT) AS overlap_p50_us,
        |  CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY overlap_us)
        |    AS BIGINT) AS overlap_p95_us,
        |  CAST(max(overlap_us) AS BIGINT) AS overlap_max_us
        |FROM ov""".stripMargin)
  }

  private val q209Sql =
    """WITH b AS (SELECT epoch_us(ts) AS us, event_id // 1000 AS batch
      |  FROM events),
      |m AS (SELECT batch, CAST(min(us) AS BIGINT) AS min_us,
      |    CAST(max(us) AS BIGINT) AS max_us
      |  FROM b GROUP BY 1),
      |ov AS (SELECT a.batch,
      |    greatest(CAST(0 AS BIGINT), a.max_us - c.min_us) AS overlap_us
      |  FROM m a JOIN m c ON c.batch = a.batch + 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_boundaries,
      |  CAST(sum(CASE WHEN overlap_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_disordered,
      |  CAST(quantile_disc(overlap_us, 0.5) AS BIGINT) AS overlap_p50_us,
      |  CAST(quantile_disc(overlap_us, 0.95) AS BIGINT) AS overlap_p95_us,
      |  CAST(max(overlap_us) AS BIGINT) AS overlap_max_us
      |FROM ov""".stripMargin

  /** q214 — stream-state capacity budget: how many rows a stream-stream
    * join keyed on this event stream must hold in state, if its
    * watermark is sized by q209's p95 arrival disorder. The watermark
    * rounds up to whole minutes (span = ⌊p95/60 s⌋+1); each minute's
    * state is the event count over the trailing span-minute window;
    * the report is the max / exact-p95 / mean of that series plus a
    * bytes estimate at 64 B/row — the number that decides executor
    * memory and `spark.sql.shuffle.partitions` for the streaming
    * pipelines BEFORE the first OOM. Scale shape: the raw stream
    * reduces to per-minute counts first (partial+final), the trailing
    * window is an explode over the bounded span (fan-out =
    * disorder/60 s, never a per-event range join), the 1-row watermark
    * crosses as a broadcast, and the final fold is over |minutes| rows.
    */
  private val q214: Q = (s, dir) => {
    arrivalOverlaps(s, dir).createOrReplaceTempView("ov_q214")
    Tables.events(s, dir)
      .select(expr(graft.util.SqlArith.floorDiv("unix_micros(ts)", 60000000L))
        .as("mb"))
      .groupBy("mb").agg(count(lit(1)).as("c"))
      .createOrReplaceTempView("mins_q214")
    s.sql(
      """WITH wm AS (SELECT coalesce(CAST(percentile_disc(0.95)
        |    WITHIN GROUP (ORDER BY overlap_us) AS BIGINT),
        |    CAST(0 AS BIGINT)) AS wm_us FROM ov_q214),
        |sp AS (SELECT wm_us, (wm_us div 60000000) + 1 AS span_min FROM wm),
        |ex AS (SELECT mb + k AS m, c FROM (
        |  SELECT mb, c, explode(sequence(CAST(0 AS BIGINT),
        |    sp.span_min - 1)) AS k
        |  FROM mins_q214 CROSS JOIN sp)),
        |st AS (SELECT e.m, CAST(sum(e.c) AS BIGINT) AS state_rows
        |  FROM ex e LEFT SEMI JOIN mins_q214 mm ON mm.mb = e.m
        |  GROUP BY e.m),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_minutes,
        |    CAST(max(state_rows) AS BIGINT) AS max_state_rows,
        |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY state_rows)
        |      AS BIGINT) AS p95_state_rows,
        |    CAST(sum(state_rows) AS BIGINT) AS sum_state FROM st)
        |SELECT sp.wm_us, sp.span_min, f.n_minutes, f.max_state_rows,
        |  f.p95_state_rows,
        |  CAST(f.sum_state AS DOUBLE) / CAST(f.n_minutes AS DOUBLE)
        |    AS avg_state_rows,
        |  f.max_state_rows * 64 AS max_state_bytes
        |FROM f CROSS JOIN sp""".stripMargin)
  }

  private val q214Sql =
    """WITH b AS (SELECT epoch_us(ts) AS us, event_id // 1000 AS batch
      |  FROM events),
      |bm AS (SELECT batch, CAST(min(us) AS BIGINT) AS min_us,
      |    CAST(max(us) AS BIGINT) AS max_us FROM b GROUP BY 1),
      |ov AS (SELECT greatest(CAST(0 AS BIGINT), a.max_us - c.min_us)
      |    AS overlap_us
      |  FROM bm a JOIN bm c ON c.batch = a.batch + 1),
      |wm AS (SELECT coalesce(CAST(quantile_disc(overlap_us, 0.95)
      |    AS BIGINT), 0) AS wm_us FROM ov),
      |sp AS (SELECT wm_us, (wm_us // 60000000) + 1 AS span_min FROM wm),
      |mins AS (SELECT epoch_us(ts) // 60000000 AS mb,
      |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
      |ex AS (SELECT m.mb + k AS m, m.c
      |  FROM mins m, sp, unnest(generate_series(0, sp.span_min - 1))
      |    AS t(k)),
      |st AS (SELECT e.m, CAST(sum(e.c) AS BIGINT) AS state_rows
      |  FROM ex e WHERE EXISTS (SELECT 1 FROM mins mm WHERE mm.mb = e.m)
      |  GROUP BY e.m),
      |f AS (SELECT CAST(count(*) AS BIGINT) AS n_minutes,
      |    CAST(max(state_rows) AS BIGINT) AS max_state_rows,
      |    CAST(quantile_disc(state_rows, 0.95) AS BIGINT)
      |      AS p95_state_rows,
      |    CAST(sum(state_rows) AS BIGINT) AS sum_state FROM st)
      |SELECT sp.wm_us, CAST(sp.span_min AS BIGINT) AS span_min,
      |  f.n_minutes, f.max_state_rows, f.p95_state_rows,
      |  CAST(f.sum_state AS DOUBLE) / CAST(f.n_minutes AS DOUBLE)
      |    AS avg_state_rows,
      |  CAST(f.max_state_rows * 64 AS BIGINT) AS max_state_bytes
      |FROM f CROSS JOIN sp""".stripMargin

  /** q218 — interarrival-time profile: per-user event gaps (exact µs),
    * folded to p50 / p95 / max / mean and the p95:p50 ratio — the
    * burstiness fingerprint read against the exponential-process
    * benchmark (a Poisson stream has p95/p50 = log 0.05 / log 0.5 ≈
    * 4.32; heavy bursts push it far higher), which calibrates q71's
    * session gap threshold and q214's state budget. The lag window
    * partitions on `user_id` — the natural per-entity key, high-
    * cardinality and near-balanced, the one window class that IS safe
    * at 100 TB (unlike the skewed-lang windows this repo eliminated);
    * ties order by event_id for determinism. Percentiles are the exact
    * `percentile_disc` twins; mean and ratio are final IEEE divides.
    */
  private val q218: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"))
      .withColumn("prev", lag("us", 1).over(
        Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), (col("us") - col("prev")).as("gap_us"))
      .createOrReplaceTempView("gaps_q218")
    s.sql(
      """WITH f AS (SELECT
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)
        |      AS BIGINT) AS gap_p50_us,
        |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY gap_us)
        |      AS BIGINT) AS gap_p95_us,
        |    CAST(max(gap_us) AS BIGINT) AS gap_max_us,
        |    CAST(sum(gap_us) AS BIGINT) AS sum_gap FROM gaps_q218)
        |SELECT n_users, n_gaps, gap_p50_us, gap_p95_us, gap_max_us,
        |  CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS gap_mean_us,
        |  CASE WHEN gap_p50_us = 0 THEN 0.0
        |    ELSE CAST(gap_p95_us AS DOUBLE) / CAST(gap_p50_us AS DOUBLE)
        |  END AS p95_p50_ratio
        |FROM f""".stripMargin)
  }

  private val q218Sql =
    """WITH g AS (SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events),
      |g2 AS (SELECT user_id, CAST(gap_us AS BIGINT) AS gap_us FROM g
      |  WHERE gap_us IS NOT NULL),
      |f AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |    CAST(count(*) AS BIGINT) AS n_gaps,
      |    CAST(quantile_disc(gap_us, 0.5) AS BIGINT) AS gap_p50_us,
      |    CAST(quantile_disc(gap_us, 0.95) AS BIGINT) AS gap_p95_us,
      |    CAST(max(gap_us) AS BIGINT) AS gap_max_us,
      |    CAST(sum(gap_us) AS BIGINT) AS sum_gap FROM g2)
      |SELECT n_users, n_gaps, gap_p50_us, gap_p95_us, gap_max_us,
      |  CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS gap_mean_us,
      |  CASE WHEN gap_p50_us = 0 THEN 0.0
      |    ELSE CAST(gap_p95_us AS DOUBLE) / CAST(gap_p50_us AS DOUBLE)
      |  END AS p95_p50_ratio
      |FROM f""".stripMargin

  /** q227 — watermark loss curve: for candidate watermark widths
    * (0 s / 60 s / 300 s / 900 s), exactly how many events a streaming
    * job would DROP as too-late — each event's lateness is the gap
    * between its time and the maximum event time among all strictly
    * earlier ARRIVALS, i.e. an exclusive global prefix max over the
    * arrival order. That running max is the textbook
    * needs-a-total-order operator, computed here by the new
    * [[GlobalRank.prefixMax]] kernel (range partition + per-range
    * exclusive window + P-long broadcast running offsets — no
    * `Exchange SinglePartition` anywhere), so the curve that q209's
    * p95 summarizes is now exact per-event and per-threshold. The
    * threshold fan-out is a bounded 4-way broadcast cross; lateness
    * stays exact µs BIGINTs; only the final loss fractions divide.
    */
  private val q227: Q = (s, dir) => {
    val pm = GlobalRank.prefixMax(
        Tables.events(s, dir)
          .select(col("event_id"), expr("unix_micros(ts)").as("us")),
        "pmax", col("us"), Seq(col("event_id")))
      .select(greatest(lit(0L),
        coalesce(col("pmax") - col("us"), lit(0L))).as("late_us"))
      .transform(graft.util.QueryCaches.tracked)
    val thr = pm.sparkSession.range(1)
      .select(explode(array(lit(0L), lit(60000000L), lit(300000000L),
        lit(900000000L))).as("w_us"))
    pm.crossJoin(broadcast(thr))
      .groupBy("w_us")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > col("w_us"), 1L).otherwise(0L))
          .as("n_late"))
      .select(col("w_us"), col("n_events"), col("n_late"),
        (col("n_late").cast("double") / col("n_events").cast("double"))
          .as("late_pct"))
      .orderBy("w_us")
  }

  private val q227Sql =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
      |p AS (SELECT event_id, us,
      |    max(us) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND 1 PRECEDING) AS pmax FROM e),
      |l AS (SELECT CAST(greatest(0, coalesce(pmax - us, 0)) AS BIGINT)
      |    AS late_us FROM p),
      |w AS (SELECT unnest(CAST([0, 60000000, 300000000, 900000000]
      |    AS BIGINT[])) AS w_us)
      |SELECT w.w_us, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN late_us > w.w_us THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late,
      |  CAST(sum(CASE WHEN late_us > w.w_us THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS late_pct
      |FROM l CROSS JOIN w GROUP BY 1 ORDER BY 1""".stripMargin

  /** q229 — last-touch attribution via a per-user as-of join: each
    * purchase is attributed to the latest 'click' by the same user
    * within the preceding hour — q52's as-of machinery applied to the
    * behavioral table, the revenue-accounting join every growth
    * pipeline runs. The join is user-keyed equi (high-cardinality,
    * near-balanced — the safe shuffle key) with the time window as a
    * post-join filter and the as-of pick as a bounded groupBy-max, not
    * a window. Revenue sums are cent-quantized BIGINTs under the
    * per-row envelope; rate/value derivations divide once at the end;
    * the attribution lag p50 is the exact percentile twin.
    */
  private val q229: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"), col("value"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("us").as("p_us"),
        expr(graft.util.MomentGuard.quantizeSpark("value", 1000000L, 100L,
          "q229")).as("vq"))
      .transform(graft.util.QueryCaches.tracked)
    pur.createOrReplaceTempView("pur_q229")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("c_us"))
    pur.join(clicks, Seq("user_id"))
      .filter(col("c_us") <= col("p_us") &&
        col("c_us") > col("p_us") - lit(3600000000L))
      .groupBy("p_id", "p_us", "vq")
      .agg(max("c_us").as("best_c"))
      .select(col("p_id"), col("vq"),
        (col("p_us") - col("best_c")).as("lag_us"))
      .createOrReplaceTempView("attr_q229")
    s.sql(
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_purchases,
        |    CAST(coalesce(sum(vq), 0L) AS BIGINT) AS tv FROM pur_q229),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_attributed,
        |    CAST(coalesce(sum(vq), 0L) AS BIGINT) AS av,
        |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)
        |      AS BIGINT) AS lag_p50_us FROM attr_q229)
        |SELECT t.n_purchases, a.n_attributed,
        |  CAST(a.n_attributed AS DOUBLE) / CAST(t.n_purchases AS DOUBLE)
        |    AS attr_rate,
        |  a.lag_p50_us,
        |  CAST(t.tv AS DOUBLE) / 100.0 AS total_value,
        |  CAST(a.av AS DOUBLE) / 100.0 AS attributed_value
        |FROM t CROSS JOIN a""".stripMargin)
  }

  private val q229Sql: String =
    s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us,
       |    event_type, value FROM events),
       |pur AS (SELECT event_id AS p_id, user_id, us AS p_us,
       |    ${graft.util.MomentGuard.quantizeDuck("value", 1000000L, 100L,
            "q229")} AS vq
       |  FROM ev WHERE event_type = 'purchase'),
       |cl AS (SELECT user_id, us AS c_us FROM ev
       |  WHERE event_type = 'click'),
       |cand AS (SELECT p.p_id, p.p_us, p.vq, c.c_us
       |  FROM pur p JOIN cl c USING (user_id)
       |  WHERE c.c_us <= p.p_us AND c.c_us > p.p_us - 3600000000),
       |attr AS (SELECT p_id, p_us, vq, CAST(max(c_us) AS BIGINT) AS best_c
       |  FROM cand GROUP BY 1, 2, 3),
       |a2 AS (SELECT p_id, vq, p_us - best_c AS lag_us FROM attr),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_purchases,
       |    CAST(coalesce(sum(vq), 0) AS BIGINT) AS tv FROM pur),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_attributed,
       |    CAST(coalesce(sum(vq), 0) AS BIGINT) AS av,
       |    CAST(quantile_disc(lag_us, 0.5) AS BIGINT) AS lag_p50_us
       |  FROM a2)
       |SELECT t.n_purchases, a.n_attributed,
       |  CAST(a.n_attributed AS DOUBLE) / CAST(t.n_purchases AS DOUBLE)
       |    AS attr_rate,
       |  a.lag_p50_us,
       |  CAST(t.tv AS DOUBLE) / 100.0 AS total_value,
       |  CAST(a.av AS DOUBLE) / 100.0 AS attributed_value
       |FROM t CROSS JOIN a""".stripMargin

  /** q232 — per-user behavioral entropy: the Shannon entropy of each
    * user's event-type mix, folded to population statistics — the
    * bot/monoculture screen (a user who only ever fires one event type
    * has H = 0; organic users mix) that complements q71's session and
    * q120's churn views. Per-user H comes from exact counts through the
    * q103/q180 quantized-log discipline: each (user, type) term
    * `round(c·log2 c ·1e6)` is an exact BIGINT, the per-user fold is
    * integer, and H = log2(n) − Σterm/(1e6·n) is ONE shared-text IEEE
    * derivation quantized again before the population fold (guarded
    * n·max certificate). user_id is the safe high-cardinality shuffle
    * key; the population rollup is three exact aggregates + the exact
    * p50 twin.
    */
  private val q232: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .withColumn("termq", expr(
        "CAST(round(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)) * 1e6)" +
          " AS BIGINT)"))
      .groupBy("user_id")
      .agg(sum("c").as("n"), sum("termq").as("sq"))
      .select(col("user_id"), expr(
        """CAST(round((log2(CAST(n AS DOUBLE))
          |  - (CAST(sq AS DOUBLE) / 1e6) / CAST(n AS DOUBLE)) * 1e6)
          |  AS BIGINT)""".stripMargin).as("hq"))
      .createOrReplaceTempView("uh_q232")
    s.sql(
      s"""WITH f AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(hq) AS BIGINT) AS sh,
         |    CAST(max(hq) AS BIGINT) AS mh,
         |    CAST(sum(CASE WHEN hq = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_single,
         |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY hq)
         |      AS BIGINT) AS p50q
         |  FROM uh_q232)
         |SELECT n_users,
         |  CAST(${graft.util.MomentGuard.sumGuardSpark("sh", "n_users",
              "mh", "q232")} AS DOUBLE) / (1e6 * CAST(n_users AS DOUBLE))
         |    AS mean_entropy,
         |  CAST(p50q AS DOUBLE) / 1e6 AS p50_entropy,
         |  CAST(n_single AS DOUBLE) / CAST(n_users AS DOUBLE)
         |    AS pct_single_type
         |FROM f""".stripMargin)
  }

  private val q232Sql: String =
    s"""WITH ut AS (SELECT user_id, event_type,
       |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
       |t2 AS (SELECT user_id, c,
       |    CAST(round(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)) * 1e6)
       |      AS BIGINT) AS termq FROM ut),
       |u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(termq) AS BIGINT) AS sq FROM t2 GROUP BY 1),
       |h AS (SELECT user_id,
       |    CAST(round((log2(CAST(n AS DOUBLE))
       |  - (CAST(sq AS DOUBLE) / 1e6) / CAST(n AS DOUBLE)) * 1e6)
       |  AS BIGINT) AS hq FROM u),
       |f AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(hq) AS BIGINT) AS sh,
       |    CAST(max(hq) AS BIGINT) AS mh,
       |    CAST(sum(CASE WHEN hq = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_single,
       |    CAST(quantile_disc(hq, 0.5) AS BIGINT) AS p50q FROM h)
       |SELECT n_users,
       |  CAST(${graft.util.MomentGuard.sumGuardDuck("sh", "n_users",
            "mh", "q232")} AS DOUBLE) / (1e6 * CAST(n_users AS DOUBLE))
       |    AS mean_entropy,
       |  CAST(p50q AS DOUBLE) / 1e6 AS p50_entropy,
       |  CAST(n_single AS DOUBLE) / CAST(n_users AS DOUBLE)
       |    AS pct_single_type
       |FROM f""".stripMargin

  /** q236 — stream-stream join loss under watermark eviction, simulated
    * exactly in batch: of all view→click pairs (same user, event times
    * within 10 min) a stream-stream join SHOULD emit, how many survive
    * state eviction at watermark w — the pair's earlier event is still
    * in state when the later one ARRIVES iff earlier.ts ≥ (running max
    * event time at that arrival) − w. The running max is
    * [[GlobalRank.prefixMax]] over arrival order; the pair relation is
    * q229's user-keyed equi join + time filter; w fans out as a bounded
    * 2-row broadcast. This turns q214's state budget and q227's drop
    * curve into the number operators actually fear: emitted-result
    * loss. Exact µs integers end-to-end; one divide per output row.
    */
  private val q236: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"))
    val pm = GlobalRank.prefixMax(ev.select(col("event_id"), col("us")),
        "pmax", col("us"), Seq(col("event_id")))
      .select(col("event_id"), coalesce(col("pmax"), lit(0L)).as("pmax"))
      .transform(graft.util.QueryCaches.tracked)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"),
        col("us").as("v_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("us").as("c_us"))
    val pairs = views.join(clicks, Seq("user_id"))
      .filter(abs(col("v_us") - col("c_us")) <= lit(600000000L))
      .select(
        when(col("v_id") > col("c_id"), col("v_id")).otherwise(col("c_id"))
          .as("later_id"),
        when(col("v_id") > col("c_id"), col("c_us")).otherwise(col("v_us"))
          .as("earlier_ts"))
      .join(pm.select(col("event_id").as("later_id"), col("pmax")),
        Seq("later_id"))
      .transform(graft.util.QueryCaches.tracked)
    val thr = s.range(1).select(explode(array(lit(60000000L),
      lit(600000000L))).as("w_us"))
    pairs.crossJoin(broadcast(thr))
      .groupBy("w_us")
      .agg(count(lit(1)).as("n_pairs_ideal"),
        sum(when(col("earlier_ts") >= col("pmax") - col("w_us"), 1L)
          .otherwise(0L)).as("n_matched"))
      .select(col("w_us"), col("n_pairs_ideal"), col("n_matched"),
        ((col("n_pairs_ideal") - col("n_matched")).cast("double") /
          col("n_pairs_ideal").cast("double")).as("loss_pct"))
      .orderBy("w_us")
  }

  private val q236Sql =
    """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us,
      |    event_type FROM events),
      |pm AS (SELECT event_id,
      |    coalesce(max(us) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND 1 PRECEDING), 0) AS pmax FROM ev),
      |v AS (SELECT user_id, event_id AS v_id, us AS v_us FROM ev
      |  WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id AS c_id, us AS c_us FROM ev
      |  WHERE event_type = 'click'),
      |p AS (SELECT CASE WHEN v.v_id > c.c_id THEN v.v_id ELSE c.c_id END
      |    AS later_id,
      |    CASE WHEN v.v_id > c.c_id THEN c.c_us ELSE v.v_us END
      |    AS earlier_ts
      |  FROM v JOIN c USING (user_id)
      |  WHERE abs(v.v_us - c.c_us) <= 600000000),
      |j AS (SELECT p.later_id, p.earlier_ts, CAST(pm.pmax AS BIGINT)
      |    AS pmax
      |  FROM p JOIN pm ON pm.event_id = p.later_id),
      |w AS (SELECT unnest(CAST([60000000, 600000000] AS BIGINT[]))
      |    AS w_us)
      |SELECT w.w_us, CAST(count(*) AS BIGINT) AS n_pairs_ideal,
      |  CAST(sum(CASE WHEN earlier_ts >= pmax - w.w_us THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_matched,
      |  CAST(count(*) - sum(CASE WHEN earlier_ts >= pmax - w.w_us THEN 1
      |    ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS loss_pct
      |FROM j CROSS JOIN w GROUP BY 1 ORDER BY 1""".stripMargin

  /** q241 — SCD type-2 history build: each user's event stream becomes
    * validity intervals [ts, next_ts) per state (the event type), the
    * standard temporal-dimension materialization every warehouse ETL
    * runs — folded here to per-state interval statistics (count, open
    * intervals, mean/max closed duration). The lead window partitions
    * on user_id (the safe per-entity key); durations are exact µs
    * BIGINTs; means divide once at the end. At 100 TB the interval
    * build is one per-user window pass and the rollup is |states| rows.
    */
  private val q241: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
      .withColumn("next_us", lead("us", 1).over(
        Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_intervals"),
        sum(when(col("next_us").isNull, 1L).otherwise(0L)).as("n_open"),
        coalesce(sum(when(col("next_us").isNotNull,
          col("next_us") - col("us"))), lit(0L)).as("sum_closed_us"),
        max(when(col("next_us").isNotNull, col("next_us") - col("us")))
          .as("max_closed_us"))
      .select(col("event_type"), col("n_intervals"), col("n_open"),
        when(col("n_intervals") === col("n_open"), 0.0)
          .otherwise(col("sum_closed_us").cast("double") /
            (col("n_intervals") - col("n_open")).cast("double"))
          .as("mean_closed_us"),
        col("max_closed_us"))
      .orderBy("event_type")
  }

  private val q241Sql =
    """WITH iv AS (SELECT event_type, epoch_us(ts) AS us,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS next_us
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
      |  CAST(sum(CASE WHEN next_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_open,
      |  CASE WHEN count(*) = sum(CASE WHEN next_us IS NULL THEN 1
      |      ELSE 0 END) THEN 0.0
      |    ELSE CAST(CAST(coalesce(sum(CASE WHEN next_us IS NOT NULL
      |      THEN next_us - us END), 0) AS BIGINT) AS DOUBLE)
      |      / CAST(count(*) - sum(CASE WHEN next_us IS NULL THEN 1
      |        ELSE 0 END) AS DOUBLE) END AS mean_closed_us,
      |  CAST(max(CASE WHEN next_us IS NOT NULL THEN next_us - us END)
      |    AS BIGINT) AS max_closed_us
      |FROM iv GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q243 — association lift between event types: over each user's
    * presence set, P(A∧B)/(P(A)·P(B)) for all type pairs — classic
    * market-basket co-occurrence mining (lift > 1 = types travel
    * together; < 1 = substitutes), the behavioral-segmentation signal
    * none of the funnel/transition views capture. Scale shape: reduce
    * to the DISTINCT (user, type) presence relation first, self-join on
    * the user key with a < on type (per-user fan-out ≤ C(|types|,2),
    * bounded), one |pairs|-row rollup joined to the |types|-row
    * marginals and the 1-row user count; exact integers until the two
    * final IEEE derivations.
    */
  private val q243: Q = (s, dir) => {
    val pres = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .transform(graft.util.QueryCaches.tracked)
    val marg = pres.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      .transform(graft.util.QueryCaches.tracked)
    val nu = pres.select("user_id").distinct().agg(count(lit(1)).as("n"))
    pres.as("a").join(pres.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), "type_a")
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(nu))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        (col("n_ab").cast("double") / col("n").cast("double"))
          .as("support"),
        ((col("n_ab").cast("double") * col("n").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy("type_a", "type_b")
  }

  private val q243Sql =
    """WITH pres AS (SELECT DISTINCT user_id, event_type FROM events),
      |marg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
      |  FROM pres GROUP BY 1),
      |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
      |  FROM pres),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS n_ab
      |  FROM pres a JOIN pres b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, p.n_ab, ma.n_t AS n_a, mb.n_t AS n_b,
      |  CAST(p.n_ab AS DOUBLE) / CAST(nu.n AS DOUBLE) AS support,
      |  (CAST(p.n_ab AS DOUBLE) * CAST(nu.n AS DOUBLE))
      |    / (CAST(ma.n_t AS DOUBLE) * CAST(mb.n_t AS DOUBLE)) AS lift
      |FROM p JOIN marg ma ON ma.event_type = p.type_a
      |JOIN marg mb ON mb.event_type = p.type_b
      |CROSS JOIN nu ORDER BY type_a, type_b""".stripMargin

  /** q246 — time-series densification with last-observation-carried-
    * forward: each user's sparse daily value series is expanded onto
    * their [first, last] day grid and gaps fill from the most recent
    * observed day — the gap-fill/LOCF operator every metrics warehouse
    * runs before day-over-day math, audited here by its fill census
    * (cells, observed, filled, carried mass). Declarative fill, no
    * IGNORE NULLS window: grid ⨝ observations on the user key with
    * day ≤ cell-day, then an argmax-by-day struct max per cell — the
    * per-cell fan-out is bounded by the user's day span, and day spans
    * are bounded by the retention window at any scale. Values are
    * cent-quantized BIGINTs; one final divide.
    */
  private val q246: Q = (s, dir) => {
    val obs = Tables.events(s, dir)
      .select(col("user_id"),
        expr(graft.util.SqlArith.floorDiv("unix_micros(ts)", 86400000000L))
          .as("day"),
        expr(graft.util.MomentGuard.quantizeSpark("value", 1000000L, 100L,
          "q246")).as("vq"))
      .groupBy("user_id", "day").agg(sum("vq").as("dvq"))
      .transform(graft.util.QueryCaches.tracked)
    val grid = obs.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1)")).as("cell_day"))
    grid.join(obs, grid("user_id") === obs("user_id") &&
        obs("day") <= grid("cell_day"))
      .groupBy(grid("user_id").as("user_id"), col("cell_day"))
      .agg(max(struct(col("day"), col("dvq"))).as("m"))
      .select(col("user_id"), col("cell_day"),
        col("m.day").as("src_day"), col("m.dvq").as("filled_vq"))
      .agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_cells"),
        sum(when(col("src_day") === col("cell_day"), 1L).otherwise(0L))
          .as("n_observed_cells"),
        sum(when(col("src_day") < col("cell_day"), 1L).otherwise(0L))
          .as("n_filled_cells"),
        sum(when(col("src_day") < col("cell_day"), col("filled_vq"))
          .otherwise(0L)).as("carried_q"))
      .select(col("n_users"), col("n_cells"), col("n_observed_cells"),
        col("n_filled_cells"),
        (col("n_filled_cells").cast("double") /
          col("n_cells").cast("double")).as("fill_ratio"),
        (col("carried_q").cast("double") / 100.0).as("carried_value"))
  }

  private val q246Sql: String =
    s"""WITH obs AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
       |    ${graft.util.MomentGuard.quantizeDuck("value", 1000000L, 100L,
            "q246")} AS vq
       |  FROM events),
       |d AS (SELECT user_id, day, CAST(sum(vq) AS BIGINT) AS dvq
       |  FROM obs GROUP BY 1, 2),
       |sp AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d
       |  GROUP BY 1),
       |grid AS (SELECT user_id, unnest(generate_series(d0, d1))
       |    AS cell_day FROM sp),
       |f AS (SELECT g.user_id, g.cell_day,
       |    max(ROW(d.day, d.dvq)) AS m
       |  FROM grid g JOIN d ON d.user_id = g.user_id
       |    AND d.day <= g.cell_day
       |  GROUP BY 1, 2),
       |x AS (SELECT user_id, cell_day, CAST(m[1] AS BIGINT) AS src_day,
       |    CAST(m[2] AS BIGINT) AS filled_vq FROM f)
       |SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |  CAST(count(*) AS BIGINT) AS n_cells,
       |  CAST(sum(CASE WHEN src_day = cell_day THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_observed_cells,
       |  CAST(sum(CASE WHEN src_day < cell_day THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_filled_cells,
       |  CAST(sum(CASE WHEN src_day < cell_day THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fill_ratio,
       |  CAST(CAST(sum(CASE WHEN src_day < cell_day THEN filled_vq
       |    ELSE 0 END) AS BIGINT) AS DOUBLE) / 100.0 AS carried_value
       |FROM x""".stripMargin

  /** q248 — Markov information gain: H(next) − H(next|prev) over q97's
    * transition counts — the single number saying how much one step of
    * history actually predicts (≈0 bits: the "chain" is noise and q204's
    * stationary analysis is decoration; high: sequence models have
    * signal). Both entropies come from the same exact transition counts
    * through the quantized-log discipline (each term
    * `round(n·log2(ratio)·1e6)::BIGINT` before any cross-row sum), the
    * marginals are |types|-row rollups of the pair relation, and the
    * final bits are three same-order IEEE derivations over exact sums.
    */
  private val q248: Q = (s, dir) => {
    val t = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      // event_id tiebreak: per-user ts uniqueness is NOT assumed (q218/
      // q241 discipline) — a tie would otherwise let the two engines
      // order lead() differently
      .withColumn("next_type", lead("event_type", 1).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("a"), col("next_type").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .transform(graft.util.QueryCaches.tracked)
    val na = t.groupBy("a").agg(sum("n_ab").as("n_a"))
    val nb = t.groupBy("b").agg(sum("n_ab").as("n_b"))
    val n = t.agg(sum("n_ab").as("n"))
    val cond = t.join(broadcast(na), "a")
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
      .select(col("n").as("n_transitions"),
        (col("margq").cast("double") / 1e6 / col("n").cast("double"))
          .as("h_next_bits"),
        (col("condq").cast("double") / 1e6 / col("n").cast("double"))
          .as("h_cond_bits"),
        ((col("margq") - col("condq")).cast("double") / 1e6 /
          col("n").cast("double")).as("info_gain_bits"))
  }

  private val q248Sql =
    """WITH tr AS (SELECT event_type AS a,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
      |  FROM events),
      |t AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM tr
      |  WHERE b IS NOT NULL GROUP BY 1, 2),
      |na AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM t
      |  GROUP BY 1),
      |nb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM t
      |  GROUP BY 1),
      |nn AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM t),
      |cond AS (SELECT CAST(sum(CAST(round(CAST(n_ab AS DOUBLE)
      |   * log2(CAST(n_a AS DOUBLE) / CAST(n_ab AS DOUBLE)) * 1e6)
      |   AS BIGINT)) AS BIGINT) AS condq
      |  FROM t JOIN na USING (a)),
      |marg AS (SELECT CAST(sum(CAST(round(CAST(n_b AS DOUBLE)
      |   * log2(CAST(nn.n AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e6)
      |   AS BIGINT)) AS BIGINT) AS margq
      |  FROM nb CROSS JOIN nn)
      |SELECT nn.n AS n_transitions,
      |  CAST(margq AS DOUBLE) / 1e6 / CAST(nn.n AS DOUBLE)
      |    AS h_next_bits,
      |  CAST(condq AS DOUBLE) / 1e6 / CAST(nn.n AS DOUBLE)
      |    AS h_cond_bits,
      |  CAST(margq - condq AS DOUBLE) / 1e6 / CAST(nn.n AS DOUBLE)
      |    AS info_gain_bits
      |FROM nn CROSS JOIN cond CROSS JOIN marg""".stripMargin

  /** q282 — Kaplan–Meier survival estimator over user lifetimes (Kaplan
    * & Meier 1958): per user, lifetime = days between first and last
    * event; users still active in the study window's final 7 days are
    * RIGHT-CENSORED (their true lifetime is only known to exceed the
    * observed one — dropping them, as a naive churn average does, biases
    * survival down). Per distinct lifetime day d: d_i churn events, the
    * at-risk count n_i = users with lifetime ≥ d (an exclusive prefix
    * sum over the ≤|days| day relation — the window rides a
    * provably-bounded key space, ~hundreds of rows at any corpus scale,
    * so this is NOT a data-sized window), and
    * S(d) = Π_{d'≤d} (1 − d_{d'}/n_{d'}). The product is computed as
    * exp(Σ ln) with each per-day ln-factor INTEGER-QUANTIZED (1e-9)
    * before the prefix sum — summation order cannot perturb it, and
    * both engines exponentiate the same exact integer. The
    * degenerate last-day factor 0 (everyone churns) uses a −100·1e9
    * sentinel (exp(−100) rounds to 0) because Spark's ln(0) is NULL
    * where DuckDB's is −inf. Heavy lifting is one user-level
    * aggregate (partial+final) — the day-level K-M table is metadata-
    * sized at any scale. Complements q203 (retention half-life fit):
    * q203 assumes an exponential form, K-M is the non-parametric
    * ground truth it should be checked against.
    */
  private val q282: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val users = ev.groupBy("user_id")
      .agg(min("ts").as("first_ts"), max("ts").as("last_ts"))
      .crossJoin(broadcast(ev.agg(max("ts").as("wend"))))
      .select(datediff(col("last_ts"), col("first_ts")).cast("long").as("d"),
        (col("last_ts") > expr("wend - INTERVAL 7 DAYS")).as("censored"))
      .transform(graft.util.QueryCaches.tracked)
    val total = users.agg(count(lit(1)).as("n_total"))
    val days = users.groupBy("d")
      .agg(count(lit(1)).as("n_leave"),
        sum(when(!col("censored"), 1L).otherwise(0L)).as("n_churn"))
    // both windows below are unpartitioned: one task holds all of `days`,
    // which has one row per distinct lifetime d in days — at most the
    // day span of the events table plus one, whatever the user count
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, -1)
    days.crossJoin(broadcast(total))
      .withColumn("n_at_risk",
        col("n_total") - coalesce(sum("n_leave").over(w), lit(0L)))
      .withColumn("lnf_q", expr(
        """CASE WHEN n_churn >= n_at_risk THEN CAST(-100000000000 AS BIGINT)
          |ELSE CAST(round(ln(CAST(n_at_risk - n_churn AS DOUBLE)
          |  / CAST(n_at_risk AS DOUBLE)) * 1e9) AS BIGINT) END""".stripMargin))
      .withColumn("s_q", sum("lnf_q").over(
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("d").as("day"), col("n_at_risk"), col("n_churn"),
        (col("n_leave") - col("n_churn")).as("n_censored"),
        round(exp(col("s_q").cast("double") / expr("CAST(1e9 AS DOUBLE)")), 6)
          .as("survival"))
      .orderBy("day")
  }

  private val q282Sql =
    """WITH u AS (SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      |  FROM events GROUP BY 1),
      |we AS (SELECT max(ts) AS wend FROM events),
      |ud AS (SELECT
      |    CAST(date_diff('day', first_ts::DATE, last_ts::DATE) AS BIGINT) AS d,
      |    last_ts > we.wend - INTERVAL 7 DAY AS censored
      |  FROM u, we),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ud),
      |days AS (SELECT d, CAST(count(*) AS BIGINT) AS n_leave,
      |    CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_churn
      |  FROM ud GROUP BY 1),
      |r AS (SELECT d, n_leave, n_churn,
      |    tot.n_total - coalesce(CAST(sum(n_leave) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |      AS n_at_risk
      |  FROM days, tot),
      |q AS (SELECT d, n_leave, n_churn, n_at_risk,
      |    CASE WHEN n_churn >= n_at_risk THEN CAST(-100000000000 AS BIGINT)
      |    ELSE CAST(round(ln(CAST(n_at_risk - n_churn AS DOUBLE)
      |      / CAST(n_at_risk AS DOUBLE)) * 1e9) AS BIGINT) END AS lnf_q
      |  FROM r)
      |SELECT d AS day, n_at_risk, n_churn,
      |  n_leave - n_churn AS n_censored,
      |  round(exp(CAST(CAST(sum(lnf_q) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS DOUBLE) / CAST(1e9 AS DOUBLE)), 6) AS survival
      |FROM q ORDER BY day""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q282_kaplan_meier", q282, q282Sql),
    Query("q248_markov_entropy", q248, q248Sql),
    Query("q246_gap_fill", q246, q246Sql),
    Query("q241_scd2_history", q241, q241Sql),
    Query("q243_assoc_lift", q243, q243Sql),
    Query("q236_watermark_join_loss", q236, q236Sql),
    Query("q232_user_entropy", q232, q232Sql),
    Query("q229_attribution_asof", q229, q229Sql),
    Query("q227_late_event_curve", q227, q227Sql),
    Query("q218_interarrival_profile", q218, q218Sql),
    Query("q214_stream_state_budget", q214, q214Sql),
    Query("q204_markov_stationary", q204, q204Sql),
    Query("q209_arrival_disorder", q209, q209Sql),
    Query("q122_funnel_windowed", q122, q122Sql),
    Query("q96_funnel", q96, q96Sql),
    Query("q97_transitions", q97, q97Sql),
    Query("q102_overlap_pairs", q102, q102Sql),
    Query("q119_cumulative_users", q119, q119Sql),
    Query("q120_churn", q120, q120Sql)
  )
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** Session-window analytics, batch form (SURVEY.md §2.2 streaming row).
  *
  * Spark plans `session_window` as a single shuffle on the group key plus
  * an in-partition merge of overlapping windows — same cost envelope as
  * the gaps-and-islands formulation.
  *
  * Gap semantics (both engines): an event extends the session iff
  * `ts - prev_ts < gap`; a gap of exactly `gap` starts a new session —
  * Spark merges sessions only on strict overlap of [ts, ts+gap), and the
  * oracle's islands rule uses `>= gap` for the break accordingly.
  */
object Sessions {

  private type Q = (SparkSession, String) => DataFrame

  private val q33: Q = (s, dir) =>
    Tables.events(s, dir)
      .withColumn("cents", floor(col("value") * 100))
      .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"),
        max("ts").as("last_ts"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("last_ts").as("session_end"), col("n_events"), col("sum_cents"))
      .orderBy("user_id", "session_start")

  private val q33Sql =
    """WITH o AS (
      |  SELECT user_id, ts, CAST(floor(value*100) AS BIGINT) AS cents,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 120 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, cents
      |        ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM o)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** q90 — sliding (hopping) windows, batch form: `window(ts, 2h, 1h)` —
    * every event lands in exactly two epoch-aligned windows, planned as an
    * Expand (2 rows/event) feeding one aggregate. Completes the
    * windowed-aggregation oracle trio: tumbling q31, session q33,
    * sliding q90. The oracle materializes the two covering window
    * starts per event explicitly.
    */
  private val q90: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("n_users"))
      .orderBy("window_start")

  private val q90Sql =
    """SELECT ws AS window_start, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM (SELECT user_id,
      |        date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS ws
      |      FROM events, unnest([0, 1]) AS t(k))
      |GROUP BY ws ORDER BY window_start""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q33_session_window", q33, q33Sql),
    Query("q90_window_sliding", q90, q90Sql)
  )
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.source.Tables
import graft.Query

/** As-of (point-in-time) join — an operator Spark lacks natively, built by
  * COMPOSING built-ins (preference (a) of the custom-operator ladder): for
  * each left row, attach the payload of the right row with the greatest
  * timestamp ≤ the left row's timestamp within the same key.
  *
  * Formulation: tag both sides, UNION, and run `last(payload, ignoreNulls)`
  * over a `(key) ORDER BY (ts, side)` running window. This is the
  * formulation that survives 100 TB:
  *
  *  - ONE shuffle, on the join key — exactly what any time-ordered join
  *    must pay; the sort is per-partition.
  *  - No range-join explosion: the naive `l.ts >= r.ts` theta-join
  *    materializes O(|L|·|R|) candidate rows per key before aggregation;
  *    the union-window form touches each row once.
  *  - Right rows with equal (key, ts) must be pre-aggregated to one row by
  *    the caller (q52 does) — this is what makes the result deterministic,
  *    the same contract DuckDB's ASOF JOIN leaves to the user.
  *
  * Ordering at ties: right (side 0) sorts before left (side 1) at equal
  * ts, so "at-or-before" is inclusive — matching `ASOF LEFT JOIN ... ON
  * l.ts >= r.ts`.
  */
object AsOf {

  private type Q = (SparkSession, String) => DataFrame

  /** Generic kernel. `left`/`right` must both carry `key` and `ts` columns;
    * every other right column is the payload attached to each left row
    * (null where no right row is at-or-before). Left columns pass through.
    *
    * A left payload column and a right payload column sharing a name would
    * produce ambiguous output — rejected up front (alias one side). A side
    * with zero payload columns is legal: a 1-field placeholder struct
    * stands in (Spark's `struct()` rejects zero args), and no columns are
    * emitted for that side.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String): DataFrame = {
    val lCols = left.columns.filterNot(c => c == key || c == ts)
    val rCols = right.columns.filterNot(c => c == key || c == ts)
    val clash = lCols.intersect(rCols)
    require(clash.isEmpty,
      s"asOfJoin: payload column name collision ${clash.mkString("[", ",", "]")} " +
        "— alias the columns on one side before joining")
    def pay(cols: Array[String]): Column =
      if (cols.isEmpty) struct(lit(0).as("__none")) else struct(cols.map(col): _*)
    val lpayT = left.select(pay(lCols)).schema.head.dataType
    val rpayT = right.select(pay(rCols)).schema.head.dataType
    val l = left.select(col(key), col(ts).as("__ts"), lit(1).as("__side"),
      pay(lCols).as("__lpay"), lit(null).cast(rpayT).as("__rpay"))
    val r = right.select(col(key), col(ts).as("__ts"), lit(0).as("__side"),
      lit(null).cast(lpayT).as("__lpay"), pay(rCols).as("__rpay"))
    val w = Window.partitionBy(key).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__match", last(col("__rpay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(
        Seq(col(key), col("__ts").as(ts)) ++
          lCols.map(c => col(s"__lpay.$c").as(c)) ++
          rCols.map(c => col(s"__match.$c").as(c)): _*)
  }

  /** q52 — for each purchase event, the latest click at-or-before it by the
    * same user. Clicks are pre-aggregated per (user, ts) so the as-of match
    * is deterministic; timestamps are emitted as epoch-micros BIGINTs so
    * both engines compare integer values, not timestamp dtypes.
    */
  private val q52: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("click_event_id"), max("value").as("click_value"))
    asOfJoin(purchases, clicks, key = "user_id", ts = "ts")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("purchase_value"), col("click_event_id"), col("click_value"))
      .orderBy("event_id")
  }

  private val q52Sql =
    """WITH p AS (SELECT event_id, user_id, ts, value FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, max(event_id) AS click_event_id,
      |             max(value) AS click_value
      |      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      |SELECT p.event_id, p.user_id, epoch_us(p.ts)::BIGINT AS ts_us,
      |       p.value AS purchase_value, c.click_event_id, c.click_value
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY event_id""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q52_asof_join", q52, q52Sql)
  )
}

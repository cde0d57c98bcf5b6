package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys (SURVEY-prompt scale toolkit).
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default in Spark, not set by [[graft.GraftSession]]) splits oversized
  * SORT-MERGE partitions at runtime and is the first line of defense.
  * Salting is the explicit fallback for the cases AQE cannot fix — a hot
  * key inside one partition of a shuffled HASH join, or a skewed
  * aggregation — and the classic technique a 100 TB pipeline still
  * reaches for:
  *
  *  - left (skewed, large) side: append a random salt in [0, buckets);
  *  - right (smaller) side: replicate each row once per salt value
  *    (`explode(sequence)` — rows × buckets);
  *  - join on (key, salt): the hot key's rows now spread over `buckets`
  *    partitions instead of one.
  *
  * The salt is `pmod(hash(monotonically_increasing_id()), buckets)` —
  * deterministic per task layout, uniform, and independent of the key.
  */
object SkewJoin {

  /** Inner/left-type salted equi-join of `skewed` (large, hot keys) with
    * `other` (replicated) on `key`.
    */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
                 buckets: Int, joinType: String = "inner"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val salted = skewed.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(buckets)))
    val replicated = other.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Two-phase skew-safe aggregation: partial aggregate on (key, salt),
    * then final aggregate on key. `partial` and `fin` must compose (e.g.
    * partial=sum → fin=sum, partial=count → fin=sum).
    */
  def saltedAgg(df: DataFrame, key: String, valueCol: String, buckets: Int,
                partial: Column => Column, fin: Column => Column): DataFrame =
    df.withColumn("__salt", pmod(hash(monotonically_increasing_id()), lit(buckets)))
      .groupBy(col(key), col("__salt"))
      .agg(partial(col(valueCol)).as("__partial"))
      .groupBy(col(key))
      .agg(fin(col("__partial")).as(valueCol))
}

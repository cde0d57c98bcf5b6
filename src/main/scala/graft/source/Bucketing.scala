package graft.source

import org.apache.spark.sql.DataFrame

/** Bucketed-table layout — the storage-side half of the 100 TB join story.
  *
  * A fact-to-fact equi-join between two tables bucketed (and sorted) on
  * the join key with the SAME bucket count needs NO Exchange on either
  * side: each task reads matching bucket files and merge-joins them
  * directly. That turns the single most expensive operation of a repeated
  * pipeline — re-shuffling 100 TB on every run — into a one-time layout
  * cost at write time. This is the standing alternative to `repartition`
  * for any relation that is joined on the same key run after run (e.g.
  * the sync snapshot keyed by resource_id).
  *
  * Spark only honors bucketing through the session catalog, hence
  * `saveAsTable` rather than path-based `save`.
  */
object Bucketing {

  /** Write `df` as a parquet table bucketed AND sorted by `key` —
    * sorted buckets let the join skip its per-task sort too. Two tables
    * written with the same `key` and `buckets` equi-join on `key` as a
    * SortMergeJoin with zero Exchange operators (pinned in `BucketingSpec`).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
}

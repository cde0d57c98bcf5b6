package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.diff.Reconcile
import graft.sink.v2.JdbcUpsertProvider

/** Continuous sync: the reference's daily full reconciliation
  * (`/root/reference/src/main.rs:159-175`, EP3) recast as a Structured
  * Streaming CDC pipeline. A change stream carries
  * `(resource_id, version_id, resource)` rows — `resource IS NULL` is a
  * tombstone. Per micro-batch:
  *
  *  1. latest-per-key reduction (one batch may carry several versions of
  *     one resource; only the newest is applied),
  *  2. left join against the CURRENT target snapshot → classify,
  *  3. the injected applier writes the inserts, updates and deletes
  *     (production: [[applyJdbc]], the same `graft-jdbc-upsert` write as
  *     [[graft.runtime.SyncPipeline.syncOneV2]]).
  *
  * CDC semantics differ from the full diff on purpose: absence from a
  * batch means "unchanged", never "deleted" — deletes must be explicit
  * tombstones. The daily full reconcile stays in place as the
  * self-healing backstop (idempotent re-run, reference
  * `src/main.rs:159-175`); this stream keeps the mirror fresh between
  * backstop runs.
  *
  * At scale: each micro-batch shuffles only the batch (small) and hash-
  * joins it against the snapshot's key projection; the snapshot read is a
  * key+version-only scan ([[graft.source.Snapshot]]), never the payload.
  */
object IncrementalSync {

  /** Newest version per key within one micro-batch. Tombstones compete by
    * version like any other change, so a reinsert-after-delete in the
    * same batch resolves correctly by version order. A tombstone and an
    * upsert carrying the SAME version_id (a malformed feed, but it
    * happens) must not resolve arbitrarily across runs: the ordering key
    * is `(version_id, resource IS NOT NULL)`, so at equal versions the
    * upsert deterministically wins — consistent with the full reconcile,
    * where a present source row at any version beats absence.
    */
  def latestPerKey(batch: DataFrame): DataFrame =
    batch.groupBy("resource_id")
      .agg(max_by(struct(col("version_id"), col("resource")),
        struct(col("version_id"), col("resource").isNotNull)).as("lv"))
      .select(col("resource_id"), col("lv.version_id").as("version_id"),
        col("lv.resource").as("resource"))

  /** CDC classify against the target snapshot (`resource_id, version_id,
    * pk_id`): insert when absent, update on version mismatch (`!=`, not
    * `<` — reference `src/main.rs:229-231`), delete on tombstone-for-
    * present, noop otherwise (incl. tombstone-for-absent: idempotent
    * replayed deletes).
    */
  def classifyCdc(batchLatest: DataFrame, snapshot: DataFrame): DataFrame = {
    val t = snapshot.select(col("resource_id").as("t_id"),
      col("version_id").as("tgt_version"), col("pk_id"))
    batchLatest.join(t, col("resource_id") === col("t_id"), "left_outer")
      .select(col("resource_id"), col("version_id"), col("resource"),
        col("pk_id"),
        when(col("resource").isNull && col("t_id").isNotNull, Reconcile.Delete)
          .when(col("resource").isNull, Reconcile.Noop)
          .when(col("t_id").isNull, Reconcile.Insert)
          .when(col("tgt_version") =!= col("version_id"), Reconcile.Update)
          .otherwise(Reconcile.Noop)
          .as("action"))
  }

  /** Production applier: one micro-batch's classified changes go down in
    * ONE `graft-jdbc-upsert` append ([[JdbcUpsertProvider.append]]) — the
    * same three statement shapes the reference issues
    * (`src/main.rs:78-138`), now per micro-batch instead of per daily run,
    * each task's statements in one transaction. `writeOptions` reaches the
    * sink (`url`/`dialect`/`connector`/`batchsize`); a bad `batchsize`
    * or `dialect` fails on the driver. Pass the result as `apply` to [[run]].
    *
    * The snapshot is read before any write: the snapshot side reaches the
    * join through an Exchange (a shuffle, or a broadcast when it is
    * small), so its scan completes before the write's result stage runs
    * and the batch never classifies against rows it is writing. Nothing
    * is cached: the driver holds no rows.
    */
  def applyJdbc(table: String, writeOptions: Map[String, String])
  : DataFrame => Unit =
    JdbcUpsertProvider.append(_, table, writeOptions)

  /** Start the continuous sync. `snapshotFor` re-reads the live target
    * each micro-batch (it mutates between batches); `apply` receives the
    * classified changes with the same `action` column the batch writers
    * consume.
    */
  def run(changes: DataFrame, checkpointDir: String,
          snapshotFor: SparkSession => DataFrame,
          apply: DataFrame => Unit,
          trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        apply(classifyCdc(latestPerKey(batch), snapshotFor(batch.sparkSession)))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}

package graft.runtime

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.diff.Reconcile
import graft.model.Schemas
import graft.sink.v2.JdbcUpsertProvider

/** The reference's core dataflow EP3 (`src/main.rs:176-300`) as one Spark
  * DAG per resource type:
  *
  *   source scan → extract(id, version) → validity filter
  *     → full-outer join vs target snapshot → classify
  *     → parallel INSERT / UPDATE / DELETE → count reconciliation
  *
  * vs. the reference: the target snapshot is never collected into driver
  * memory (its BTreeMap, `src/main.rs:49-75`, is the scalability ceiling —
  * SURVEY.md §4), writes are partition-parallel instead of single-writer,
  * and the whole classification happens in one distributed join.
  *
  * One module per step: the `blaze` DSv2 source
  * ([[graft.source.v2.BlazeTableProvider]]) is the only reader of FHIR
  * pages, [[Reconcile]] the only module that decides
  * insert/update/delete/noop, and the `graft-jdbc-upsert` sink
  * ([[JdbcUpsertProvider.append]]) the only write path.
  */
object SyncPipeline {

  final case class SyncResult(resourceType: String, inserts: Long,
                              updates: Long, deletes: Long,
                              sourceTotal: Long, targetAfter: Long) {
    /** O12 count reconciliation (reference `src/main.rs:288-297`). */
    def reconciled: Boolean = sourceTotal == targetAfter
  }

  /** Source relation → (resource, resource_id, version_id), valid rows
    * only (reference `src/main.rs:208-225`).
    */
  def sourceVersions(resources: DataFrame): DataFrame = {
    val (id, ver) = Reconcile.extractVersion(col("resource"))
    Reconcile.validOnly(
      resources.select(col("resource"), id.as("resource_id"), ver.as("version_id")))
  }

  /** One type's sync as ONE Spark action: the whole classified diff goes
    * down in one `graft-jdbc-upsert` write ([[JdbcUpsertProvider.append]]:
    * all three actions applied per partition inside one task transaction,
    * riding Spark's V2 commit/abort protocol). `snapshot` is the target's
    * (pk_id, resource_id, version_id) projection (never the JSONB payload
    * — §4; [[graft.source.Snapshot]] is the production JDBC reader);
    * `writeOptions` reaches the sink's connector
    * (`url`/`dialect`/`connector`/`batchsize`); `targetCount` reads the
    * post-write count.
    *
    * The per-action counts ride that write: the classified relation is
    * observed (`Dataset.observe`, a fresh [[Observation]] per call) before
    * the noops are filtered out, and the counts are read after `save()`
    * returns. Two guarantees make this equal to counting first:
    *
    *  - The snapshot is read before any write. The full-outer join
    *    shuffles both sides, so the snapshot scan finishes in a
    *    shuffle-map stage before the first write task starts, and a
    *    retried write task re-reads that shuffle output. (Losing it with
    *    an executor re-runs the scan.) The same holds for the page scan,
    *    so a page the source rejects fails the sync before any write.
    *  - Counts are applied once per partition. The observed-metrics node
    *    sits in the write's result stage, with no exchange between it and
    *    the write, and Spark applies a result task's accumulator updates
    *    once per partition, even when the task is retried.
    *
    * `DerbyE2ESpec` pins both placements on the executed plan. Scale
    * bound: the driver holds four longs per type and no rows.
    */
  def syncOneV2(spark: SparkSession,
                resourceType: String,
                resources: DataFrame,
                snapshot: DataFrame,
                writeOptions: Map[String, String],
                targetCount: String => Long): SyncResult = {
    val table = Schemas.tableName(resourceType)
    val counts = Observation()
    // count_if is 0, never NULL, over empty input
    val actions = Seq(Reconcile.Insert, Reconcile.Update, Reconcile.Delete,
      Reconcile.Noop).map(a => count_if(col("action") === a).as(a))
    JdbcUpsertProvider.append(
      Reconcile.classify(sourceVersions(resources), snapshot)
        .observe(counts, actions.head, actions.tail: _*),
      table, writeOptions)
    val byAction = counts.get.map { case (a, n) => a -> n.asInstanceOf[Long] }
    result(resourceType, byAction, targetCount(table))
  }

  private def result(resourceType: String, byAction: Map[String, Long],
                     targetAfter: Long): SyncResult = {
    val n = byAction.withDefaultValue(0L)
    // every valid source row is exactly one of insert/update/noop
    SyncResult(resourceType, inserts = n(Reconcile.Insert),
      updates = n(Reconcile.Update), deletes = n(Reconcile.Delete),
      sourceTotal = n(Reconcile.Insert) + n(Reconcile.Update) + n(Reconcile.Noop),
      targetAfter = targetAfter)
  }

  /** All four types sequentially (reference `src/main.rs:319-326`; Spark
    * jobs are internally parallel, so sequential per-type is fine — each
    * sync saturates the cluster). `sourceFor`/`snapshotFor` are factories
    * so tests can plug in fixture pages and snapshots; production passes
    * [[blazeV2Source]].
    *
    * Each type is one [[syncOneV2]] call: one `graft-jdbc-upsert` write
    * under Spark's commit/abort protocol, e2e-proven on Derby
    * (sync/heal/task-abort/malformed Bundle, `DerbyE2ESpec`) and on the
    * PG-semantics store (`SyncE2ESpec`).
    *
    * Keying contract: `sourceFor` receives the RESOURCE TYPE (it names a
    * search URL); `snapshotFor` and `targetCount` receive the mirror
    * TABLE name (lowercased — they name SQL identifiers). Passing the
    * capitalized type into [[graft.source.Snapshot.forJdbc]] previously
    * only worked because PostgreSQL case-folds unquoted identifiers; the
    * SyncE2ESpec's case-sensitive target store caught it.
    */
  def runSync(spark: SparkSession,
              sourceFor: String => DataFrame,
              snapshotFor: String => DataFrame,
              writeOptions: Map[String, String],
              targetCount: String => Long): Seq[SyncResult] =
    Schemas.resourceTypes.map { t =>
      syncOneV2(spark, t, sourceFor(t), snapshotFor(Schemas.tableName(t)),
        writeOptions, targetCount)
    }

  /** Source factory: the DSv2 `blaze` format — one InputPartition per
    * page, fetch + Bundle parse on EXECUTORS
    * ([[graft.source.v2.BlazeTableProvider]]); the driver never holds
    * page bodies. `fetcherClass` swaps the HTTP client for fixture pages.
    */
  def blazeV2Source(spark: SparkSession, baseUrl: String, pageSize: Int,
                    fetcherClass: String =
                      classOf[graft.source.v2.HttpPageFetcher].getName): String => DataFrame =
    t => spark.read.format("blaze")
      .option("baseUrl", baseUrl)
      .option("resourceType", t)
      .option("pageSize", pageSize.toString)
      .option("fetcher", fetcherClass)
      .load()
}

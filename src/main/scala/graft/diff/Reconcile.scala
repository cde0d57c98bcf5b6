package graft.diff

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-reconciliation diff — the semantic heart of the reference.
  *
  * The reference classifies every source resource against a driver-memory
  * `BTreeMap` snapshot of the target (reference `src/main.rs:159-175`,
  * probe loop `src/main.rs:227-248`, delete sweep `src/main.rs:278-282`):
  *
  *   - in source, not in target            → INSERT
  *   - in both, version differs (`!=`)     → UPDATE   (`src/main.rs:229-231`)
  *   - in both, version equal              → no-op
  *   - in target, not in source            → DELETE
  *
  * Here the same classification is a distributed full-outer equi-join on
  * `resource_id` — no driver-side map, no memory ceiling. At 100 TB this is
  * a shuffle on the join key (or a broadcast if one side is small; AQE
  * decides), and the classification itself is a codegen'd `CASE WHEN`
  * projection on top. The three action sets are then simple filters that
  * Catalyst collapses into the join, or can be produced independently as
  * anti/semi joins (often cheaper when only one class is needed).
  *
  * This object is the one module that decides sync actions: [[classify]]
  * for the full diff, [[classifyCdc]] for a change batch (q309's replay).
  * `DocConsistencySpec` fails on an action-valued `when` chain elsewhere.
  */
object Reconcile {

  val Insert = "insert"
  val Update = "update"
  val Delete = "delete"
  val Noop   = "noop"

  /** Extract (resource_id, version_id) from a raw-JSON `resource` column,
    * mirroring `get_version` (reference `src/main.rs:37-46`): `$.id` as
    * string, `$.meta.versionId` string→long; either missing ⇒ null (the
    * reference's `None`/skip).
    */
  def extractVersion(resource: Column): (Column, Column) = {
    // One from_json parse yields both fields; the two returned Columns share
    // the parse via codegen subexpression elimination (vs. get_json_object
    // per field = one full JSON scan per call per predicate/projection copy).
    // PERMISSIVE mode nulls the struct on malformed JSON — same visibility
    // rule as the reference's serde failure skip (`src/main.rs:210-216`).
    val parsed = from_json(resource,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id STRING, meta STRUCT<versionId: STRING>"))
    (
      parsed.getField("id"),
      // try_cast, not cast: Spark 4 runs ANSI mode, and a malformed
      // versionId must become null (the reference skips the row,
      // `src/main.rs:39-45`), not kill the job.
      parsed.getField("meta").getField("versionId").try_cast("long")
    )
  }

  /** Validity filter: rows missing id or versionId are invisible to sync
    * (reference `src/main.rs:210-225` and `src/main.rs:60-72`).
    */
  def validOnly(df: DataFrame): DataFrame =
    df.filter(col("resource_id").isNotNull && col("version_id").isNotNull)

  /** Classify source vs target, the full diff. Expects
    * `source(resource_id, version_id, ...)` and
    * `target(resource_id, version_id, ...)`; every other column
    * of either side is carried through the join unchanged. A carried name
    * must be unique to its side and must not be an output name
    * (`src_version`, `tgt_version`, `action`); a clash fails, naming it.
    *
    * Returns one row per distinct resource_id on either side with the
    * columns `(resource_id, src_version, tgt_version, <source's other
    * columns>, <target's other columns>, action)`; a side's columns are
    * null where the id is absent from that side. For the sync that is
    * `(resource_id, src_version, tgt_version, resource, pk_id, action)`:
    * the source's payload for INSERT/UPDATE, the mirror's key for
    * UPDATE/DELETE.
    */
  def classify(source: DataFrame, target: DataFrame): DataFrame = {
    val key = Set("resource_id", "version_id")
    val sNames = source.columns.toSeq.filterNot(key)
    val tNames = target.columns.toSeq.filterNot(key)
    val clash = (sNames.intersect(tNames) ++ (sNames ++ tNames).intersect(
      Seq("s_id", "t_id", "src_version", "tgt_version", "action"))).distinct
    require(clash.isEmpty, s"classify: carried columns clash: ${clash.mkString(", ")}")
    val sCarried = sNames.map(col)
    val tCarried = tNames.map(col)
    val s = source.select(
      col("resource_id").as("s_id") +: col("version_id").as("src_version") +: sCarried: _*)
    val t = target.select(
      col("resource_id").as("t_id") +: col("version_id").as("tgt_version") +: tCarried: _*)
    s.join(t, s("s_id") === t("t_id"), "full_outer")
      .select(Seq(
        coalesce(col("s_id"), col("t_id")).as("resource_id"),
        col("src_version"),
        col("tgt_version")) ++ sCarried ++ tCarried :+
        when(col("t_id").isNull, Insert)
          .when(col("s_id").isNull, Delete)
          .when(col("src_version") =!= col("tgt_version"), Update)
          .otherwise(Noop)
          .as("action"): _*)
  }

  /** Newest version per key within one change batch. Tombstones
    * (`resource IS NULL`) compete by version like any other change, so a
    * reinsert-after-delete in the same batch resolves by version order. A
    * tombstone and an upsert carrying the SAME version_id (a malformed
    * feed, but it happens) must not resolve arbitrarily across runs: the
    * ordering key is `(version_id, resource IS NOT NULL)`, so at equal
    * versions the upsert deterministically wins — consistent with
    * [[classify]], where a present source row at any version beats
    * absence.
    */
  def latestPerKey(batch: DataFrame): DataFrame =
    batch.groupBy("resource_id")
      .agg(max_by(struct(col("version_id"), col("resource")),
        struct(col("version_id"), col("resource").isNotNull)).as("lv"))
      .select(col("resource_id"), col("lv.version_id").as("version_id"),
        col("lv.resource").as("resource"))

  /** Classify a change batch (`resource_id, version_id, resource`, one row
    * per key — see [[latestPerKey]]) against the target snapshot
    * (`resource_id, version_id, pk_id`): insert when absent, update on
    * version mismatch (`!=`, not `<` — reference `src/main.rs:229-231`),
    * delete on tombstone-for-present, noop otherwise (incl.
    * tombstone-for-absent: a replayed delete is idempotent).
    *
    * Unlike [[classify]], absence from the batch means "unchanged", never
    * "deleted": the left-outer join emits rows only for keys in the batch,
    * and deletes must be explicit tombstones. The output carries
    * `(resource_id, version_id, resource, pk_id, action)`, the columns
    * [[graft.sink.v2.JdbcUpsertProvider.append]] consumes.
    */
  def classifyCdc(batchLatest: DataFrame, snapshot: DataFrame): DataFrame = {
    val t = snapshot.select(col("resource_id").as("t_id"),
      col("version_id").as("tgt_version"), col("pk_id"))
    batchLatest.join(t, col("resource_id") === col("t_id"), "left_outer")
      .select(col("resource_id"), col("version_id"), col("resource"),
        col("pk_id"),
        when(col("resource").isNull && col("t_id").isNotNull, Delete)
          .when(col("resource").isNull, Noop)
          .when(col("t_id").isNull, Insert)
          .when(col("tgt_version") =!= col("version_id"), Update)
          .otherwise(Noop)
          .as("action"))
  }

  /** Insert set only — a left-anti join (no need to materialize the full
    * outer join when only one class is consumed).
    */
  def inserts(source: DataFrame, target: DataFrame): DataFrame =
    source.join(target.select("resource_id"), Seq("resource_id"), "left_anti")

  /** Update set only — inner join + `!=` version predicate
    * (reference `src/main.rs:229-231`: any mismatch updates, not only newer).
    */
  def updates(source: DataFrame, target: DataFrame): DataFrame = {
    val t = target.withColumnRenamed("version_id", "tgt_version")
    source.join(t, Seq("resource_id"), "inner")
      .filter(col("version_id") =!= col("tgt_version"))
  }

  /** Delete set only — target rows with no source counterpart
    * (the reference's "survivors of the map" sweep, `src/main.rs:278-282`).
    */
  def deletes(source: DataFrame, target: DataFrame): DataFrame =
    target.join(source.select("resource_id"), Seq("resource_id"), "left_anti")
}

package graft.parity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.diff.Reconcile
import graft.Query

/** Parity query suite (SURVEY.md §2.1, q01–q11): the reference's dataflow
  * semantics as declared Spark plans, each with a DuckDB oracle twin.
  *
  * Determinism rules shared by every query here:
  *  - total-order `ORDER BY` on both sides;
  *  - `NULLS FIRST` pinned in oracle SQL (DuckDB defaults NULLS LAST on
  *    ASC; Spark defaults nulls-first);
  *  - `try_cast` on both sides (Spark 4 runs ANSI mode: a plain cast of a
  *    malformed versionId would throw, where the reference skips the row).
  */
object ParityQueries {

  private type Q = (SparkSession, String) => DataFrame

  import ParityData.{srcSql, tgtSql, resourcesSql}

  /** O1's declared plan over ANY `(resource: string)` relation. q01
    * applies it to the parquet-backed harness relation (the oracle can
    * replay that); production applies it to the DSv2 `blaze` source,
    * whose page-partitioned scan produces the same schema —
    * `BlazeV2Spec`'s e2e test pins that both inputs yield the identical
    * result through this one plan, so the verified path and the
    * production path are the same code.
    */
  def scanPlan(resources: DataFrame): DataFrame = resources.orderBy("resource")

  /** q01 — paginated source scan (O1, reference `src/main.rs:150-157,
    * 199-270`): the flattened resource stream, as raw JSON text.
    */
  private val q01: Q = (s, dir) =>
    scanPlan(ParityData.sourceResources(s, dir))

  private val q01Sql =
    s"""WITH $resourcesSql
       |SELECT resource FROM res ORDER BY resource""".stripMargin

  /** Extraction relation shared by q02/q03, materialized once
    * (MEMORY_AND_DISK): Catalyst would otherwise push the validity filter
    * below the spread exchange — onto the single-file scan task — and
    * substitute the (non-codegen) `from_json` into both filter conditions
    * AND both projections: four serial parses per row. Persisting is the
    * plan a 100 TB pipeline uses anyway: parse once, distributed, reuse.
    * Spark's cache manager keys on the analyzed plan, so every q02/q03
    * invocation in a session shares one materialization.
    */
  private def extracted(s: SparkSession, dir: String) = {
    val (id, ver) = Reconcile.extractVersion(col("resource"))
    ParityData.sourceResources(s, dir)
      .select(id.as("resource_id"), ver.as("version_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** q02 — JSON field extraction (O2, reference `src/main.rs:37-46`):
    * `$.id` as string, `$.meta.versionId` string→long, null when absent
    * or malformed (the reference's `Option::None`).
    */
  private val q02: Q = (s, dir) =>
    extracted(s, dir).orderBy(col("resource_id"), col("version_id"))

  private val q02Sql =
    s"""WITH $resourcesSql
       |SELECT json_extract_string(resource, '$$.id') AS resource_id,
       |       TRY_CAST(json_extract_string(resource, '$$.meta.versionId') AS BIGINT) AS version_id
       |FROM res
       |ORDER BY resource_id NULLS FIRST, version_id NULLS FIRST""".stripMargin

  /** q03 — validity filter (O3, reference `src/main.rs:210-225`): rows
    * missing id or versionId are invisible to sync.
    */
  private val q03: Q = (s, dir) =>
    Reconcile.validOnly(extracted(s, dir))
      .orderBy(col("resource_id"), col("version_id"))

  private val q03Sql =
    s"""WITH $resourcesSql, x AS (
       |  SELECT json_extract_string(resource, '$$.id') AS resource_id,
       |         TRY_CAST(json_extract_string(resource, '$$.meta.versionId') AS BIGINT) AS version_id
       |  FROM res)
       |SELECT * FROM x
       |WHERE resource_id IS NOT NULL AND version_id IS NOT NULL
       |ORDER BY resource_id, version_id""".stripMargin

  /** q04 — target snapshot scan (O4, reference `src/main.rs:49-75`):
    * `(pk_id, resource_id, version_id)` projection of the mirror table.
    * The reference reads the FULL JSONB text into a driver BTreeMap; here
    * only the three key columns flow, distributed.
    */
  private val q04: Q = (s, dir) =>
    ParityData.target(s, dir).orderBy("resource_id")

  private val q04Sql =
    s"""WITH $tgtSql
       |SELECT pk_id, resource_id, version_id FROM tgt ORDER BY resource_id""".stripMargin

  /** q05 — full-reconciliation diff (O5, reference `src/main.rs:159-175,
    * 227-248, 278-282`): full-outer join + 3-way classification.
    */
  private val q05: Q = (s, dir) =>
    Reconcile.classify(ParityData.source(s, dir), ParityData.target(s, dir))
      .select("resource_id", "src_version", "tgt_version", "action")
      .orderBy("resource_id")

  private val q05Sql =
    s"""WITH $srcSql,
       |$tgtSql
       |SELECT coalesce(s.resource_id, t.resource_id) AS resource_id,
       |       s.version_id AS src_version,
       |       t.version_id AS tgt_version,
       |       CASE WHEN t.resource_id IS NULL THEN 'insert'
       |            WHEN s.resource_id IS NULL THEN 'delete'
       |            WHEN s.version_id <> t.version_id THEN 'update'
       |            ELSE 'noop' END AS action
       |FROM src s FULL OUTER JOIN tgt t ON s.resource_id = t.resource_id
       |ORDER BY resource_id""".stripMargin

  /** q05a — insert set as a left-anti join (cheaper than materializing the
    * full outer join when only one class is consumed).
    */
  private val q05a: Q = (s, dir) =>
    Reconcile.inserts(ParityData.source(s, dir), ParityData.target(s, dir))
      .select("resource_id", "version_id").orderBy("resource_id")

  private val q05aSql =
    s"""WITH $srcSql,
       |$tgtSql
       |SELECT s.resource_id, s.version_id FROM src s
       |WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.resource_id = s.resource_id)
       |ORDER BY resource_id""".stripMargin

  /** q05b — update set: inner join + `!=` version predicate (any mismatch
    * updates, not only newer — reference `src/main.rs:229-231`).
    */
  private val q05b: Q = (s, dir) =>
    Reconcile.updates(ParityData.source(s, dir), ParityData.target(s, dir))
      .select(col("resource_id"), col("version_id").as("src_version"),
        col("tgt_version"))
      .orderBy("resource_id")

  private val q05bSql =
    s"""WITH $srcSql,
       |$tgtSql
       |SELECT s.resource_id, s.version_id AS src_version, t.version_id AS tgt_version
       |FROM src s JOIN tgt t ON s.resource_id = t.resource_id
       |WHERE s.version_id <> t.version_id
       |ORDER BY s.resource_id""".stripMargin

  /** q05c — delete set: target anti source (the reference's "survivors of
    * the map" sweep, `src/main.rs:278-282`).
    */
  private val q05c: Q = (s, dir) =>
    Reconcile.deletes(ParityData.source(s, dir), ParityData.target(s, dir))
      .select("pk_id", "resource_id", "version_id").orderBy("resource_id")

  private val q05cSql =
    s"""WITH $srcSql,
       |$tgtSql
       |SELECT t.pk_id, t.resource_id, t.version_id FROM tgt t
       |WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.resource_id = t.resource_id)
       |ORDER BY resource_id""".stripMargin

  /** q07 — join-UPDATE applied (O7, reference `src/main.rs:78-97`): the
    * post-update target state — `UPDATE … FROM (VALUES …) WHERE id match`
    * is a left join with conditional version replacement.
    */
  private val q07: Q = (s, dir) => {
    val t = ParityData.target(s, dir)
    val src = ParityData.source(s, dir)
      .withColumnRenamed("version_id", "src_version")
    t.join(src, Seq("resource_id"), "left")
      .select(col("pk_id"), col("resource_id"),
        when(col("src_version").isNotNull && col("src_version") =!= col("version_id"),
          col("src_version")).otherwise(col("version_id")).as("version_id"))
      .orderBy("resource_id")
  }

  private val q07Sql =
    s"""WITH $srcSql,
       |$tgtSql
       |SELECT t.pk_id, t.resource_id,
       |       CASE WHEN s.version_id IS NOT NULL AND s.version_id <> t.version_id
       |            THEN s.version_id ELSE t.version_id END AS version_id
       |FROM tgt t LEFT JOIN src s ON s.resource_id = t.resource_id
       |ORDER BY t.resource_id""".stripMargin

  /** q08 — batch INSERT applied (O8, reference `src/main.rs:100-117`): the
    * post-insert target state; new rows have no surrogate key yet (SERIAL
    * is DB-assigned) → null pk_id.
    */
  private val q08: Q = (s, dir) => {
    val t = ParityData.target(s, dir)
    val ins = Reconcile.inserts(ParityData.source(s, dir), t)
      .select(lit(null).cast("long").as("pk_id"), col("resource_id"), col("version_id"))
    t.select("pk_id", "resource_id", "version_id").unionAll(ins)
      .orderBy("resource_id")
  }

  private val q08Sql =
    s"""WITH $srcSql,
       |$tgtSql
       |SELECT pk_id, resource_id, version_id FROM tgt
       |UNION ALL
       |SELECT CAST(NULL AS BIGINT), s.resource_id, s.version_id FROM src s
       |WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.resource_id = s.resource_id)
       |ORDER BY resource_id""".stripMargin

  /** q09 — semi-join DELETE applied (O9, reference `src/main.rs:120-138`):
    * post-delete target = target ⋉ source.
    */
  private val q09: Q = (s, dir) =>
    ParityData.target(s, dir)
      .join(ParityData.source(s, dir).select("resource_id"), Seq("resource_id"), "left_semi")
      .select("pk_id", "resource_id", "version_id").orderBy("resource_id")

  private val q09Sql =
    s"""WITH $srcSql,
       |$tgtSql
       |SELECT t.pk_id, t.resource_id, t.version_id FROM tgt t
       |WHERE EXISTS (SELECT 1 FROM src s WHERE s.resource_id = t.resource_id)
       |ORDER BY resource_id""".stripMargin

  /** q10 — COUNT(*) aggregate (O10, reference `src/main.rs:141-148`). */
  private val q10: Q = (s, dir) =>
    ParityData.source(s, dir).agg(count(lit(1)).as("n_rows"))

  private val q10Sql =
    s"""WITH $srcSql
       |SELECT count(*) AS n_rows FROM src""".stripMargin

  /** q11 — count reconciliation (O11+O12, reference `src/main.rs:288-297`):
    * source total vs post-sync target total. The sync is
    * delete ∘ update ∘ insert, so post-sync target keys = source keys.
    */
  private val q11: Q = (s, dir) => {
    val src = ParityData.source(s, dir)
    val tgt = ParityData.target(s, dir)
    val postSync = tgt.join(src.select("resource_id"), Seq("resource_id"), "left_semi")
      .select("resource_id")
      .unionAll(Reconcile.inserts(src, tgt).select("resource_id"))
    val a = src.agg(count(lit(1)).as("blaze_total"))
    val b = postSync.agg(count(lit(1)).as("pg_total"))
    a.crossJoin(b).select(col("blaze_total"), col("pg_total"),
      (col("blaze_total") === col("pg_total")).as("matched"))
  }

  private val q11Sql =
    s"""WITH $srcSql,
       |$tgtSql,
       |post AS (
       |  SELECT t.resource_id FROM tgt t
       |  WHERE EXISTS (SELECT 1 FROM src s WHERE s.resource_id = t.resource_id)
       |  UNION ALL
       |  SELECT s.resource_id FROM src s
       |  WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.resource_id = s.resource_id))
       |SELECT (SELECT count(*) FROM src) AS blaze_total,
       |       (SELECT count(*) FROM post) AS pg_total,
       |       (SELECT count(*) FROM src) = (SELECT count(*) FROM post) AS matched""".stripMargin

  /** q309 — MULTI-BATCH CDC replay: [[Reconcile.latestPerKey]] +
    * [[Reconcile.classifyCdc]], the change-batch classifier, folded
    * over four ordered batches of a synthetic change feed, starting
    * from an empty target. The feed derives from lineitem: key =
    * l_orderkey, version = ⌊l_quantity⌋ (collides across batches, so
    * equal-version noops occur), batch = (l_linenumber−1) mod 4 (keys
    * recur across batches), tombstone when (l_orderkey+l_linenumber)
    * mod 7 = 0 (so deletes and tombstone-for-absent noops occur).
    * Output = per-(batch, action) counts: each batch's actions depend
    * on the state the previous batches left, so the relation pins the
    * whole fold, not just the final state. Within-batch (key, version)
    * duplicates carry identical resource text, so the max_by tie is
    * value-deterministic (the latestPerKey contract).
    *
    * Scale shape: each batch is one groupBy (map-side combinable
    * max_by) + one broadcast-or-shuffle left join against the current
    * snapshot + a disjoint anti-join/union apply — the replay is B×
    * the one-batch cost, with per-batch lineage truncation so the plan
    * never grows with B.
    */
  private val q309: Q = (s, dir) => {
    val li = graft.source.Tables.spread(graft.source.Tables.lineitem(s, dir))
    val feed = graft.util.QueryCaches.tracked(li.select(
      col("l_orderkey").as("resource_id"),
      floor(col("l_quantity")).cast("long").as("version_id"),
      when((col("l_orderkey") + col("l_linenumber")) % 7 === 0,
        lit(null).cast("string"))
        .otherwise(concat(lit("r"), floor(col("l_quantity")).cast("long")))
        .as("resource"),
      ((col("l_linenumber") - 1) % 4).cast("int").as("batch")))
    var state = s.range(0).select(col("id").as("resource_id"),
      col("id").as("version_id"), col("id").as("pk_id"))
    var counts: DataFrame = null
    for (k <- 0 to 3) {
      val latest = Reconcile.latestPerKey(feed.filter(col("batch") === k))
      val cls = graft.util.QueryCaches.tracked(
        Reconcile.classifyCdc(latest, state))
      // counts stays a LAZY union: each batch's aggregate reads the
      // tracked cls cache (materialized by the state checkpoint below),
      // so the per-batch eager counts checkpoint was one scheduling
      // action per batch for a plan that never nests (r13)
      val c = cls.groupBy("action").agg(count(lit(1)).as("n"))
        .withColumn("batch", lit(k))
      counts = if (counts == null) c else counts.unionByName(c)
      // The plan cuts per batch, so it never nests with B. The cut runs
      // the batch's shuffle stages now, filling the cls cache on the
      // way; its final stage, the anti-join + union, runs in the next
      // batch's cut or the final counts action, and its blocks serve
      // every later reader.
      state = graft.util.Lineage.truncate(
        state.join(cls.filter(col("action").isin(Reconcile.Update,
            Reconcile.Delete)).select(col("resource_id").as("rid")),
            col("resource_id") === col("rid"), "left_anti")
          .unionByName(cls.filter(col("action").isin(Reconcile.Insert,
            Reconcile.Update))
            .select(col("resource_id"), col("version_id"),
              lit(0L).as("pk_id"))))
    }
    counts.select(col("batch"), col("action"), col("n"))
      .orderBy("batch", "action")
  }

  /** Oracle: the same four-batch fold unrolled — latest-per-key via a
    * row_number twin of max_by's (version, resource IS NOT NULL) order,
    * the classify CASE mirroring [[Reconcile.classifyCdc]]'s `when`
    * chain, the apply as anti-filter + union.
    */
  private val q309Sql: String = {
    def batch(k: Int): String = {
      val prev = if (k == 0)
        "(SELECT CAST(NULL AS BIGINT) AS resource_id, CAST(NULL AS BIGINT) AS version_id WHERE FALSE)"
      else s"st${k - 1}"
      s"""lat$k AS (SELECT resource_id, version_id, resource FROM (
         |    SELECT *, row_number() OVER (PARTITION BY resource_id
         |      ORDER BY version_id DESC, (resource IS NOT NULL) DESC) AS rn
         |    FROM feed WHERE batch = $k) t WHERE rn = 1),
         |cls$k AS MATERIALIZED (SELECT l.resource_id, l.version_id,
         |    CASE WHEN l.resource IS NULL AND s.resource_id IS NOT NULL
         |           THEN 'delete'
         |         WHEN l.resource IS NULL THEN 'noop'
         |         WHEN s.resource_id IS NULL THEN 'insert'
         |         WHEN s.version_id <> l.version_id THEN 'update'
         |         ELSE 'noop' END AS action
         |  FROM lat$k l LEFT JOIN $prev s ON s.resource_id = l.resource_id),
         |st$k AS MATERIALIZED (
         |  SELECT s.resource_id, s.version_id FROM $prev s
         |  WHERE NOT EXISTS (SELECT 1 FROM cls$k c
         |    WHERE c.resource_id = s.resource_id
         |      AND c.action IN ('update', 'delete'))
         |  UNION ALL
         |  SELECT resource_id, version_id FROM cls$k
         |  WHERE action IN ('insert', 'update'))""".stripMargin
    }
    val countsUnion = (0 to 3).map(k =>
      s"""SELECT CAST($k AS INTEGER) AS batch, action,
         |  CAST(count(*) AS BIGINT) AS n FROM cls$k GROUP BY action"""
        .stripMargin).mkString("\n  UNION ALL ")
    s"""WITH feed AS MATERIALIZED (SELECT l_orderkey AS resource_id,
       |    CAST(floor(l_quantity) AS BIGINT) AS version_id,
       |    CASE WHEN (l_orderkey + l_linenumber) % 7 = 0 THEN NULL
       |         ELSE 'r' || CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR)
       |    END AS resource,
       |    CAST((l_linenumber - 1) % 4 AS INTEGER) AS batch
       |  FROM lineitem),
       |${(0 to 3).map(batch).mkString(",\n")}
       |SELECT batch, action, n FROM ($countsUnion) u
       |ORDER BY batch, action""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q309_cdc_replay", q309, q309Sql),
    Query("q01_scan", q01, q01Sql),
    Query("q02_project_extract", q02, q02Sql),
    Query("q03_filter_valid", q03, q03Sql),
    Query("q04_snapshot", q04, q04Sql),
    Query("q05_diff_fullouter", q05, q05Sql),
    Query("q05a_inserts", q05a, q05aSql),
    Query("q05b_updates", q05b, q05bSql),
    Query("q05c_deletes", q05c, q05cSql),
    Query("q07_update_join", q07, q07Sql),
    Query("q08_insert", q08, q08Sql),
    Query("q09_delete_semi", q09, q09Sql),
    Query("q10_count", q10, q10Sql),
    Query("q11_reconcile", q11, q11Sql)
  )
}

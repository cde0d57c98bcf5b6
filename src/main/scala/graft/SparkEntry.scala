package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.diff.Reconcile
import graft.parity.ParityData

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB-runnable twin in [[oracleSql]]
  * (same column names, same deterministic ORDER BY) unless the operator is
  * not SQL-expressible, in which case the driver records a rows-only check.
  */
object SparkEntry {

  /** Flagship query: the reference's full-reconciliation diff (O5) on
    * sf0.001. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Reconcile.classify(ParityData.source(spark, dir), ParityData.target(spark, dir))
      .select("resource_id", "src_version", "tgt_version", "action")
      .filter(col("action") =!= Reconcile.Noop)
  }

  /** Every query module; each declares its queries once, in its `all`. */
  private[graft] lazy val modules: Seq[Seq[Query]] = Seq(
    parity.ParityQueries.all, ops.Relational.all, ops.Sessions.all,
    ops.TextDedup.all, ops.Similarity.all, ops.TextStats.all,
    ops.Multimodal.all, ops.AsOf.all, ops.Analytic.all, ops.Corpus.all,
    ops.Behavioral.all, ops.Quality.all, ops.Layout.all,
    ops.MerkleDiff.all, ops.CorpusPrep.all, ops.Stats.all,
    ops.Retrieval.all, ops.Sketches.all, ops.Evaluation.all)

  /** Name → query; a name declared by two modules fails here, naming it. */
  private lazy val registry: Map[String, Query] = Query.byName(modules.flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.plan }

  /** DuckDB oracle SQL, keyed identically to [[queries]]. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracleSql }
}

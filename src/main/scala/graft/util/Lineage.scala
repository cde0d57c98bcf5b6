package graft.util

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative dataflows (connected components,
  * k-core peeling, eigencentrality power iteration, the q309/q322
  * batch folds). Iterative plans otherwise NEST: the optimizer
  * re-analyzes and re-codegens an O(iteration)-deep tree every round
  * (quadratic planning cost, unbounded lineage on failure recovery), so
  * each round's result is eagerly checkpointed down to its materialized
  * partitions.
  *
  * Storage choice is the cluster-safety decision:
  *  - default: `localCheckpoint` — executor-local blocks, no write-through
  *    cost, correct in single-JVM/local mode;
  *  - `spark.graft.checkpointDir` set: RELIABLE `checkpoint()` to that
  *    dir — on a real cluster a lost executor takes its localCheckpoint
  *    blocks with it and the truncated lineage cannot recompute them, so
  *    cluster deployments must set the dir (HDFS/S3) and take the
  *    write-through cost. Long-running deployments should also set
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` so GC'd
  *    checkpointed RDDs clean their files (reliable checkpoint files are
  *    not auto-deleted by default).
  */
object Lineage {

  // Track what WE set: the context may hold a stale dir set by someone
  // else, and setCheckpointDir appends a UUID subdir so the raw values
  // never compare equal.
  @volatile private var lastCheckpointDir: Option[String] = None

  /** True when the last [[truncate]] or [[truncateLazy]] call took the
    * reliable-checkpoint path — observable hook for the cluster-safety
    * spec.
    */
  @volatile private[graft] var lastWasReliable: Boolean = false

  /** Truncate on alternating rounds of an iterative kernel. A round that
    * references its predecessor r times builds an r^k-size logical tree
    * over k untruncated rounds — truncating every SECOND round bounds k
    * at 2 (tree ≤ r² copies of a checkpoint scan, still tiny) while
    * halving the checkpoint materializations, which on the 3–5-round
    * graph kernels are mostly fixed per-round job overhead (round-8
    * verdict item 4). Rounds are 1-based; even rounds truncate.
    */
  def truncateEvery2(df: DataFrame, round: Int): DataFrame =
    if (round % 2 == 0) truncate(df) else df

  /** LAZY truncation: the plan is cut to a `LogicalRDD` immediately (so
    * per-round plans in a driver loop never nest — with AQE an
    * InMemoryRelation chain renders its child plan per level and the
    * listener-event plan strings grow geometrically), but nothing runs
    * until the NEXT action over the result materializes it — a driver
    * loop whose every round is anyway consumed by the next round's
    * single action gets lineage truncation with zero extra scheduling
    * actions (r14, q322). Same storage decision as [[truncate]]: local
    * blocks by default, reliable checkpoint when
    * `spark.graft.checkpointDir` is set (there the materializing action
    * pays the write-through re-computation, as eager truncation does).
    */
  def truncateLazy(df: DataFrame): DataFrame = checkpoint(df, eager = false)

  /** EAGER truncation: one job materializes `df` now, then the plan is cut. */
  def truncate(df: DataFrame): DataFrame = checkpoint(df, eager = true)

  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) =>
        Lineage.synchronized {
          if (!lastCheckpointDir.contains(dir)) {
            spark.sparkContext.setCheckpointDir(dir)
            lastCheckpointDir = Some(dir)
          }
        }
        lastWasReliable = true
        df.checkpoint(eager)
      case None =>
        lastWasReliable = false
        df.localCheckpoint(eager)
    }
  }
}

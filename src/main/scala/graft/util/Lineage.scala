package graft.util

import org.apache.spark.sql.DataFrame

/** The one lineage cut for iterative dataflows (connected components,
  * k-core peeling, power iteration, label propagation, the q309/q322
  * batch folds). An iterative plan otherwise NESTS: the optimizer
  * re-analyzes and re-codegens an O(iteration)-deep tree every round
  * (quadratic planning cost, unbounded lineage on failure recovery).
  *
  * [[truncate]] is a lazy checkpoint: the plan is cut to a `LogicalRDD`
  * at once, so per-round plans never nest. What runs, and when, under
  * AQE:
  *  - at call time, the cut runs the plan's shuffle and broadcast
  *    stages (one job per Exchange); a plan with no Exchange, or a
  *    projection over an earlier cut, runs nothing;
  *  - the final stage waits for the first job that reads the cut; a
  *    local cut keeps that job's blocks for every later reader;
  *  - a reliable cut writes its files when the next action that reads
  *    it ends, re-running the final stage to do so.
  *
  * Storage choice is the cluster-safety decision:
  *  - default: `localCheckpoint` — executor-local blocks, no write-through
  *    cost, correct in single-JVM/local mode;
  *  - `spark.graft.checkpointDir` set: RELIABLE `checkpoint` to that
  *    dir — on a real cluster a lost executor takes its localCheckpoint
  *    blocks with it and the truncated lineage cannot recompute them, so
  *    cluster deployments must set the dir (HDFS/S3) and take the
  *    write-through cost. Long-running deployments should also set
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` so GC'd
  *    checkpointed RDDs clean their files (reliable checkpoint files are
  *    not auto-deleted by default).
  *
  * A caller that releases a cache the cut's plan reads must wait until
  * an action has read the cut.
  */
object Lineage {

  // Track what WE set: the context may hold a stale dir set by someone
  // else, and setCheckpointDir appends a UUID subdir so the raw values
  // never compare equal.
  @volatile private var lastCheckpointDir: Option[String] = None

  /** Cut `df`'s lineage: a lazy local checkpoint, or a lazy reliable one
    * when `spark.graft.checkpointDir` is set.
    */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) =>
        Lineage.synchronized {
          if (!lastCheckpointDir.contains(dir)) {
            spark.sparkContext.setCheckpointDir(dir)
            lastCheckpointDir = Some(dir)
          }
        }
        df.checkpoint(eager = false)
      case None =>
        df.localCheckpoint(eager = false)
    }
  }
}

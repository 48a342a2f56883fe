package graft.etl

import org.apache.spark.sql.DataFrame

/** Scale-safe stage materialization — ONE policy for every
  * multiply-consumed-subtree checkpoint in the engine (r18; the r17
  * verdict's scale note on `localCheckpoint`):
  *
  *  - `localCheckpoint` pins the stage in UNREPLICATED executor
  *    memory/disk with lineage truncated — right for the measured local
  *    regime, but at 100 TB an executor loss mid-query becomes a job
  *    failure instead of a recompute;
  *  - a RELIABLE `checkpoint()` survives executor loss and lands on the
  *    DFS — what a production pipeline writes at stage boundaries
  *    anyway.
  *
  * The discriminator is `sparkContext.getCheckpointDir`: a cluster run
  * sets one (SCALE.md production config, next to AQE); the bench/local
  * sessions never do, so their plans and materialization are
  * byte-identical to the pre-r18 `localCheckpoint` (StageCheckpointSpec
  * pins both paths and value equality).
  *
  * Reliable checkpoint files are removed only when their DataFrame is
  * garbage-collected AND the session sets
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, as
  * `GraftSession.builder` does; a session built any other way must set
  * it too, or every stage of every run stays in the checkpoint dir.
  *
  * NEGATIVE RESULT (r18, recorded so it is not retried): a size-ESTIMATE
  * gate (`optimizedPlan.stats.sizeInBytes` under a threshold →
  * localCheckpoint, over → reliable/DISK_ONLY_2) was built first and
  * measured broken — without CBO statistics Spark estimates a join's
  * output as the PRODUCT of its children's sizes, so every join-bearing
  * stage (TrainingDataPrep s1–s5, IncrementalPrep b1–b5) blew past a
  * 4 GiB threshold at sf0.01 and silently took the replicated-persist
  * path inside the oracle run (BlockManager "replicated to only 0
  * peers" warnings attribute it). Estimates through joins do not
  * separate MBs from TBs; the configured-dir signal does. */
object StageCheckpoint {

  /** Materialize `df` as a consumed-many-times stage under the policy
    * above. `eager = false` defers materialization to the first action
    * that reads it (examples.StageRunner's stages: one action over the
    * last stage fills every checkpoint in lineage order). */
  def stage(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Chain form: `df.stageCheckpoint()` mirrors `df.localCheckpoint()`
    * at the call sites. */
  implicit class StageCheckpointOps(private val df: DataFrame) extends AnyVal {
    def stageCheckpoint(eager: Boolean = true): DataFrame = stage(df, eager)
  }
}

package graft.streaming

import graft.etl.Rollup
import graft.layouts.LayoutFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming maintenance of a mergeable rollup (etl.Rollup) — the
  * `foreachBatch` nightly-refresh pattern run continuously: each
  * micro-batch's partial aggregate is merged with the previous rollup
  * version and written as a NEW version named by the batch id.
  *
  * Exactly-once without sink transactions: Structured Streaming may
  * REPLAY the last uncommitted batch after a restart, so the sink must be
  * idempotent. Versioned state gives that for free — re-running batch N
  * rebuilds `v{N}` deterministically from `v{N-1}` plus the SAME source
  * offsets (the checkpoint pins them), instead of double-merging into a
  * single mutable state. This is the idempotent-sink contract every
  * at-least-once delivery turns into exactly-once state.
  *
  * 100 TB/stream-scale: each trigger touches the micro-batch plus
  * |groups| rollup rows (never historical raw data — the etl.Rollup
  * argument); state is one small parquet dir per retained version, and
  * [[mergeInto]] prunes versions older than the replay horizon
  * (batchId − 1) after a successful write. Listing and pruning go
  * through [[LayoutFs]] with the session's Hadoop configuration, so
  * `stateDir` may live on any Hadoop filesystem.
  */
object StreamingRollup {

  private def versions(spark: SparkSession, stateDir: String): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    LayoutFs.list(new Path(stateDir), conf).map(_.getPath)
      .filter(p => p.getName.startsWith("v") && LayoutFs.exists(new Path(p, "_SUCCESS"), conf))
      .map(_.getName.drop(1).toLong).sorted
  }

  /** The `foreachBatch` sink: merge this batch into the latest rollup
    * version BELOW this batch id (so a replayed batch re-derives its own
    * version rather than merging twice), then prune stale versions. */
  def mergeInto(stateDir: String, keys: Seq[String], measures: Seq[String])
               (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val part = Rollup.partial(batch, keys, measures)
    val merged = versions(spark, stateDir).filter(_ < batchId).lastOption match {
      case Some(v) =>
        Rollup.merge(Seq(spark.read.parquet(s"$stateDir/v$v"), part), keys, measures)
      case None => part
    }
    merged.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    versions(spark, stateDir).filter(_ < batchId - 1).foreach { v =>
      LayoutFs.deleteDir(new Path(s"$stateDir/v$v"), spark.sparkContext.hadoopConfiguration)
    }
  }

  /** The rollup as of the latest committed version. */
  def current(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/v${versions(spark, stateDir).last}")
}

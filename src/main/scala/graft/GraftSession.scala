package graft

import org.apache.spark.sql.SparkSession

/** The one session definition: `graft.Bench` times, `graft.Verify`
  * oracle-checks, the test suites and the tools all build their session
  * from [[builder]], so the verified plan is the benched plan.
  *
  * [[builder]] fixes every plan-shaping setting plus the size-driven
  * shuffle partition count. Callers add only deployment settings on the
  * returned builder (layout root, lease timings, app name, extensions).
  * The benchmark harness (`perfbench/harness`, `Main.session`) still
  * builds its own copy; it gives each key in [[planConf]] the same value
  * and uses the same [[shufflePartitions]] rule.
  */
object GraftSession {

  /** The broadcast-join threshold. Bench's size-driven plan dispatch
    * (`ordersBroadcastRegime`, `eventsSmallRegime`) reads the same value,
    * so retuning it cannot desynchronize plan choice and session. */
  val BroadcastBytes: Long = 16L << 20

  /** Settings that change what Catalyst plans.
    *
    *  - AQE off: sub-second queries at sf0.1 are dominated by AQE's
    *    per-shuffle re-planning barriers; with 4 static partitions there
    *    is nothing to adapt. At sf24 AQE with a generous initial count
    *    measured worse still (39.5 s vs 29.7 s): its re-planning barriers
    *    and the bucketed-scan interaction cost more than the coalescing
    *    saves at these run lengths.
    *  - Size-driven join strategy: sides under 16 MB broadcast (orders at
    *    sf0.1 does, at sf1 it does not); above that, shuffled HASH join
    *    beats sort-merge at these scales (measured 0.96 vs 1.40 s at sf1).
    *  - Trust the bucketBy+sortBy order of the one-file-per-bucket layouts
    *    (`Bucketed.ensure` guarantees it; Spark re-verifies the file
    *    count): without it every co-located SMJ pays a per-query re-sort
    *    of both fact sides — measured 5+ s of SortExec at sf12.
    *  - Auto-bucketed-scan off: bucket PRUNING needs the bucketed scan to
    *    stay bucketed, and the auto rule reads a bucketed table as plain
    *    files whenever no join/agg exploits the partitioning. All bucketed
    *    layouts here are join-exploited, so the rule has nothing to win.
    *  - UTC session time zone: the oracle's timestamps are UTC.
    */
  val planConf: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> BroadcastBytes.toString,
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  /** Shuffle partitions sized to DATA, not cores: one partition per
    * ~32 MB of input, floored at 4 (the BASELINE.md comparator spec) and
    * capped at the core count. At sf0.1 (~17 MB) more partitions are pure
    * task-scheduling overhead.
    *
    * Negative results, kept so nobody re-tries them: at sf24 uncapping
    * the count (168) fixed asof's SMJ sort spill (12.2–15.3 → 9.5 s) but
    * regressed five other shapes (q5 2.2 → 5.6 s: its 25 k-group
    * partial-agg exchange wants FEW partitions) for a worse total
    * (29.7 → 32.3 s). In the classic (layout-free) regime at sf96, 171
    * partitions bought q5_classic 72.6 → 66.1 s but cost every other row
    * (total 137.9 → 144.0 s). A real cluster gets its parallelism from
    * executors×cores feeding the same formula, not from oversplitting one
    * node. */
  def shufflePartitions(cpus: Int, dataBytes: Long): Int =
    math.max(4, math.min(cpus.toLong, dataBytes / (32L << 20)).toInt)

  /** Total bytes of the files directly under `dataDir` (0 if absent). */
  def dataBytes(dataDir: String): Long =
    Option(new java.io.File(dataDir).listFiles())
      .map(_.map(_.length).sum).getOrElse(0L)

  /** A `local[cpus]` builder with [[planConf]] and the partition count
    * for `dataDir`. The testdata files are single-row-group parquet, so
    * smaller file splits cannot parallelize the scan (measured: only
    * overhead) — no split setting here.
    *
    * `cleanCheckpoints` removes a reliable `checkpoint()`'s files once its
    * DataFrame is garbage-collected (see `etl.StageCheckpoint`). */
  def builder(cpus: Int, dataDir: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions(cpus, dataBytes(dataDir)).toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    planConf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
  }
}

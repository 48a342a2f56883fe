package graft.streaming

import graft.Tables
import graft.layouts.{Bucketed, LayoutFs, LayoutUtil}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** STREAM → LAYOUT ingest, end to end (r10 verdict item 6 productized
  * into a driver-oracled surface): a Structured Streaming query whose
  * sink routes every micro-batch through `Bucketed.appendOnce`, so the
  * layout equals base ∪ streamed-deltas no matter how the source is
  * micro-batched, how often the query is restarted, or how many times
  * the registry row re-runs.
  *
  * Exactly-once here rests on CONTENT-ADDRESSED batch tags, not
  * positional batchIds (r11 review): the sink derives each batch's tag
  * from the names of its input FILES (one file per batch —
  * maxFilesPerTrigger=1, asserted in the sink), so a replay of the same
  * file is a no-op under ANY checkpoint incarnation. BatchId-keyed tags
  * (the generic `Bucketed.foreachBatchInto`) are exactly-once only
  * within one checkpoint lineage — a wiped checkpoint restarts ids at 0
  * over a possibly different file order, which could skip a file whose
  * positional tag was stamped for DIFFERENT content. File-derived tags
  * make the pairing incarnation-proof.
  *
  * Catch-up is DERIVED, never recorded in a sidecar of its own: the
  * ingest is complete iff every staged source file's tag is in
  * `Bucketed.appliedBatchTags` — state that lives and dies with the
  * layout directory (and survives compaction via the stamp manifest).
  * A rebuilt/invalidated layout lost its stamps, so the check fails and
  * the delta re-streams (fresh appends); a compacted layout kept them
  * (manifest), so every replay is a no-op. Whenever the check fails the
  * CHECKPOINT is wiped first — its lineage may describe a previous
  * layout incarnation, and the content-addressed tags make the full
  * reprocess idempotent. The source dump is staged exactly once
  * ([[LayoutUtil.buildOnce]]): re-staging would mint fresh UUID part
  * names and break file identity under a live checkpoint, so a restage
  * also drops the layout. */
object StreamIngest {

  private def tagOf(fileName: String): String =
    "si-" + LayoutUtil.cacheId(fileName).take(16)

  /** Ensure the stream-ingested events layout for `dir` exists and is
    * fully caught up; returns the qualified table name. Base = 3/4 of
    * events (batch build); the remaining 1/4 arrives through a real
    * file-source streaming query, 3 source files under
    * maxFilesPerTrigger=1 → 3 separate micro-batches/appends. */
  def ensureStreamedLayout(s: SparkSession, dir: String): String = {
    import org.apache.hadoop.fs.Path
    val conf = s.sparkContext.hadoopConfiguration
    val events = Tables.events(s, dir)
    val isDelta = pmod(xxhash64(col("event_id")), lit(4)) === 0

    // source dump + checkpoint keyed by the raw table's content
    // signature: regenerated testdata rotates them with the layout
    val sig = LayoutUtil.cacheId(
      dir + "|" + LayoutUtil.dataSig(s"$dir/events.parquet") + "|si2")
    val root = s"${LayoutUtil.artifactRoot(s)}/graft_stream_ingest_$sig"
    val srcDir = s"$root/src"

    // spec name carries the TAG-SCHEME version: a scheme change must
    // rotate the layout (old stamps would otherwise mask or double new
    // appends), exactly like the src/ckpt signature suffix above
    val spec = Seq(Bucketed.Spec("events_si2", events.filter(!isDelta), "user_id",
      srcTables = Seq("events"), sortCols = Seq("user_id", "ts", "event_id")))
    val buckets = Bucketed.defaultBuckets(dir, "events")

    // stage the "arriving crawl files" EXACTLY once (3 parquet files). A
    // fresh dump mints fresh file names, so appends this dir's layout
    // holds from an earlier dump pair with no staged file: drop it with
    // the dump.
    LayoutUtil.buildOnce(s, sig, Seq(srcDir)) {
      Bucketed.qualifiedNames(dir, spec, buckets).foreach(Bucketed.invalidate(s, _))
      events.filter(isDelta).repartition(3).write.parquet(srcDir)
    }

    val t = Bucketed.ensure(s, dir, spec, buckets).head

    val srcFiles = LayoutFs.listNames(new Path(srcDir), conf)
      .filter(_.endsWith(".parquet")).sorted

    // catch-up check from the layout's own stamps — complete iff every
    // staged file's content tag is applied
    val applied = Bucketed.appliedBatchTags(s, t)
    if (srcFiles.nonEmpty && srcFiles.forall(f => applied.contains(tagOf(f))))
      return t

    // unknown/previous checkpoint incarnation: wipe it and reprocess
    // everything — the content-addressed tags turn already-applied
    // files into no-ops
    LayoutFs.deleteDir(new Path(s"$root/ckpt"), conf)
    val q = s.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // file identity via input_file_name() AT EXECUTION TIME —
        // batch.inputFiles is empty on a micro-batch plan (its file
        // scan is not a resolved FileRelation; measured: every batch
        // skipped and the row failed its oracle by exactly the delta)
        val files = batch.select(input_file_name().as("f")).distinct()
          .collect().map(r => new Path(r.getString(0)).getName)
          .filter(_.nonEmpty).sorted
        // one file per micro-batch is the tag-stability precondition
        require(files.length <= 1,
          s"maxFilesPerTrigger=1 violated: batch spans ${files.length} files")
        files.foreach(f => Bucketed.appendOnce(s, tagOf(f), Seq(t -> batch)))
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    t
  }
}

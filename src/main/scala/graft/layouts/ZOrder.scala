package graft.layouts

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Z-ORDER (Morton-curve) storage layout: interleave the bits of two key
  * columns and sort the table by the interleaved value, so rows close in
  * BOTH dimensions land in the same parquet files/row groups and a 2-D box
  * predicate prunes most of the table via ordinary min/max statistics —
  * the multi-dimensional generalization of sorting by one key (which
  * clusters one dimension and scatters the other).
  *
  * This is the data-layout technique behind Delta/Iceberg OPTIMIZE ZORDER
  * BY, re-expressed with nothing but a sort expression + plain parquet:
  * no reader support needed, because pruning rides the stats every parquet
  * scan already consults (PushedFilters row-group skipping). ZOrderSpec
  * MEASURES the effect (scan numOutputRows under z-layout vs the same
  * files sorted by an uncorrelated key).
  *
  * 100 TB shape: the layout is one range-shuffle + sorted write, paid
  * once, owned by this helper (query builders stay pure — the Bucketed
  * convention, cached by the source's data-file signature).
  * `repartitionByRange` on the z-value distributes the global sort;
  * `maxRecordsPerFile` bounds file size so every file spans a narrow
  * z-range and min/max stays tight.
  */
object ZOrder {

  /** Morton interleave of two non-negative keys, 31 bits per dimension
    * (fits a signed 64-bit result; replica-offset ids up to 2³¹ keep
    * their full ordering). Static bit expansion — stays inside
    * whole-stage codegen, no UDF. */
  def zval(x: Column, y: Column, bitsPerDim: Int = 31): Column = {
    val xs = x.cast(LongType)
    val ys = y.cast(LongType)
    (0 until bitsPerDim).map { i =>
      shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Ensure a z-ordered parquet copy of `src` (derived from
    * `dir/srcTable.parquet`) exists; returns its path. Idempotent, cached
    * by the source's per-file signature (`LayoutUtil.dataSig`), so
    * regenerated testdata is never served stale.
    *
    * The layout stores the two key columns' min/max as a sidecar written
    * at build time ([[stats]]) — the lakehouse-metadata convention: a box
    * query derives its literal bounds from table statistics, not from a
    * full min/max scan of the data (measured: the bounds scan, not the
    * pruned box read, dominated the row's cost at sf3/sf6). The sidecar
    * is part of the build, so [[LayoutUtil.buildOnce]]'s stamp covers it:
    * a crash between the parquet commit and the sidecar leaves no stamp
    * and the next call rebuilds. */
  def ensure(s: SparkSession, dir: String, name: String, src: DataFrame,
             srcTable: String, xCol: String, yCol: String,
             rangePartitions: Int = 4, targetFiles: Int = 64): String = {
    val tag = LayoutUtil.cacheId(
      s"$dir|$name|${LayoutUtil.dataSig(s"$dir/$srcTable.parquet")}")
    val path = s"${LayoutUtil.artifactRoot(s)}/graft_zorder_${name}_$tag"
    LayoutUtil.buildOnce(s, tag, Seq(path)) {
      // File count is the pruning granularity AND the metadata bill: a
      // fixed records-per-file cap explodes into thousands of files on a
      // big table (measured at sf3: listing+footers of 9000 files cost
      // more than the pruned read), while too few files prune nothing.
      // Size from the data: ~targetFiles files regardless of row count.
      val rows = src.count()
      val perFile = math.max(1000L, rows / targetFiles)
      src.withColumn("_z", zval(col(xCol), col(yCol)))
        .repartitionByRange(rangePartitions, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", perFile)
        .parquet(path)
      val b = src.agg(
        org.apache.spark.sql.functions.min(col(xCol)), org.apache.spark.sql.functions.max(col(xCol)),
        org.apache.spark.sql.functions.min(col(yCol)), org.apache.spark.sql.functions.max(col(yCol)))
        .collect().head
      LayoutFs.writeString(new org.apache.hadoop.fs.Path(s"$path/_graft_minmax"),
        s"${b.getLong(0)} ${b.getLong(1)} ${b.getLong(2)} ${b.getLong(3)}",
        s.sparkContext.hadoopConfiguration)
    }
    path
  }

  /** (xMin, xMax, yMin, yMax) of a layout built by [[ensure]] — four model
    * parameters read from the build-time sidecar, no data scan. */
  def stats(s: SparkSession, path: String): (Long, Long, Long, Long) = {
    val Array(a, b, c, d) = LayoutFs.readString(
      new org.apache.hadoop.fs.Path(s"$path/_graft_minmax"),
      s.sparkContext.hadoopConfiguration).trim.split(" ").map(_.toLong)
    (a, b, c, d)
  }
}

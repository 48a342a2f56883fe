package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.SQLExecution

/** Batch-bounded sets held on the driver — ONE policy for the ingest
  * path's collects (MinHashIndex.probe, IncrementalPrep), the companion
  * of [[StageCheckpoint]]'s policy for multiply-consumed stages.
  *
  * A held set replaces a broadcast join: on Spark 4.1 every
  * `BroadcastExchange` runs its own job, even over a driver-side
  * `LocalRelation` (BroadcastExchangeExec collects its child through
  * `executeCollectIterator`, which LocalTableScanExec does not override).
  * A set already on the driver is consumed without one — as `InSet`
  * membership, or evaluated on the driver with the same kernels.
  *
  * [[collect]] runs ONE job whose tasks each ship at most `cap + 1` rows
  * (a per-partition take; `limit` would plan an `executeTake`, which
  * scans partitions in growing waves of further jobs). The driver keeps
  * partitions' rows as they arrive only while their total is within the
  * cap, so one collect holds at most `cap` rows plus one arriving
  * partition's `cap + 1`, whatever the partition count. Past the cap it
  * returns None and the caller takes its distributed shape instead.
  *
  * [[MaxRows]] is where the held path stopped winning in a measurement
  * on a 4-vCPU host (sf0.1 documents index, 8 buckets; batches of half
  * corpus copies, half fresh docs; 3 alternating runs a side; medians):
  * a MinHash probe plus its write used less CPU held than distributed
  * at 5,000 reps (4.3 vs 4.7 CPU-s) and more at 7,500 (4.7 vs 3.9), its
  * wall time already higher from 2,500 (1.3 vs 1.1 s); an IncrementalPrep
  * batch held still won at 10,000 (7.6–8.4 vs 11.6–12.7 CPU-s). */
object DriverHeld {

  /** Most rows one held set may carry. */
  val MaxRows = 5000

  /** Test seams: specs lower `cap` to force the distributed fallbacks,
    * and read `peakRows` (the largest set any collect returned),
    * `peakKept` (the most rows one collect kept on the driver at once)
    * and `overflows` (held sets that came back past the cap). */
  @volatile private[graft] var cap: Int = MaxRows
  @volatile private[graft] var peakRows: Int = 0
  @volatile private[graft] var peakKept: Int = 0
  @volatile private[graft] var overflows: Int = 0

  /** The rows of `df` if there are at most [[cap]] of them, else None. */
  def collect(df: DataFrame): Option[Array[Row]] = {
    val n = cap
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.toRdd
      val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
      var kept = 0
      var over = false
      // the handler runs on the driver, one task result at a time
      rdd.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => it.take(n + 1).map(_.copy()).toArray,
        (i: Int, part: Array[InternalRow]) => if (!over) {
          peakKept = math.max(peakKept, kept + part.length)
          if (kept + part.length <= n) { parts(i) = part; kept += part.length }
          else { over = true; java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null) }
        })
      if (over) None else Some(parts.flatten)
    }
    rows match {
      case None => overflows += 1; None
      case Some(rs) =>
        peakRows = math.max(peakRows, rs.length)
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        Some(rs.map(r => toRow(r).asInstanceOf[Row]))
    }
  }
}

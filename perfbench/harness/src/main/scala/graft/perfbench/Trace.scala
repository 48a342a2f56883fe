package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Everything the listeners saw between two bus drains: one build or one
  * execute step of one operation. */
final class Window(val spanId: Int) {
  var jobs = 0
  var stages = 0
  var tasks = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var executions = 0
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  var filesRead = 0L
  var filesTotal = 0L
  var compileNs = 0L
  var classes = 0L

  /** Wall time covered by at least one job (overlapping jobs count once). */
  def jobWallMs: Long = {
    var total = 0L
    var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  def catalystMs: Long = analysisMs + optimizerMs + planningMs
}

/** The traced mode's instrument: a SparkListener for jobs, stages and task
  * metrics and a QueryExecutionListener for Catalyst phase timings and the
  * files each scan read. Events land in the open [[Window]]; the runner
  * opens and closes windows around the build and execute steps of each
  * operation, draining the listener bus at each boundary (untimed). */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private var current: Window = null
  private val jobStarts = mutable.Map.empty[Int, Long]
  private var nextSpan = 0
  private var compileAtOpen = 0L
  private var classesAtOpen = 0L
  val spans = mutable.ArrayBuffer.empty[String]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def newSpanId(): Int = synchronized { nextSpan += 1; nextSpan }

  def span(id: Int, parent: Option[Int], kind: String, name: String,
      startMs: Double, endMs: Double): Unit = synchronized {
    spans += Json.obj(Seq("id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs))
  }

  def open(spanId: Int): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { current = new Window(spanId) }
    compileAtOpen = CodeGenerator.compileTime
    classesAtOpen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  def close(): Window = {
    val compile = CodeGenerator.compileTime - compileAtOpen
    val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classesAtOpen
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val w = current
      current = null
      w.compileNs = compile
      w.classes = classes
      w
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
    if (current != null) current.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStarts.remove(e.jobId).getOrElse(e.time)
    if (current != null) {
      current.jobIntervals += ((start, e.time))
      span(newSpanId(), Some(current.spanId), "job", s"job ${e.jobId}",
        start.toDouble, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (current != null) current.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (current != null && m != null) {
      val w = current
      w.tasks += 1
      w.taskRunMs += m.executorRunTime
      w.taskCpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
    }
  }

  private def onQuery(qe: QueryExecution): Unit = synchronized {
    if (current != null) {
      val w = current
      w.executions += 1
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      w.analysisMs += ms("analysis")
      w.optimizerMs += ms("optimization")
      w.planningMs += ms("planning")
      scala.util.Try(qe.executedPlan.collect { case s: FileSourceScanExec => s })
        .getOrElse(Nil).foreach { s =>
          w.filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          w.filesTotal += scala.util.Try(s.relation.location.inputFiles.length.toLong)
            .getOrElse(0L)
        }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(qe)
}
